#!/usr/bin/env python3
"""Benchmark of the dbtdemospark program: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, into perfbench/target) and later runs reuse the
build while the sources are unchanged. Each run then:

1. generates the workload's inputs from the seed into a fresh work
   directory (perfbench/out/work-<pid>, deleted at the end);
2. sets up: a JVM starts, builds its SparkSession and runs one untimed
   warm pass of the workload's ops (set-up time runs from the start of
   input generation to the end of the warm pass);
3. runs the ops in a closed loop (one client, each op issued when the
   previous one returned), in a fixed number of whole passes: as many as
   take about --seconds at the workload's typical pass time;
4. checks every op's output and prints the metrics as the last stdout line.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of a traced run (see perfbench/README.md). The full
record of the last run of each workload, with its environment, goes to
perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

OUT = os.path.join(HERE, "out")
# A fixed, pre-touched heap and few malloc arenas keep the JVM's resident
# set from depending on how far G1 happened to grow the heap in a run, so
# peak_rss_mb moves with native memory; the program's heap demand is
# peak_heap_mb, the most heap left in use after the full collection that
# follows each op.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
JVM_TIMEOUT_S = 150

# Spark local threads: at most nproc, leaving the driver thread, JIT and GC
# a core of their own on a 4-core box.
THREADS = 3

# workload -> (input generator (work dir, seed) -> manifest, typical
# seconds of one timed pass at THREADS on a 4-core box)
WORKLOADS = {
    # the document count of the sf0.1 fixture that tools/gen_fixtures.py
    # reproduces
    "dedup_corpus": (
        lambda d, seed: {"rows": gen.corpus(d, seed, n_docs=5000)}, 20.0),
    "dbt_build": (
        lambda d, seed: gen.loan_seeds(
            os.path.join(d, "loans"), seed, n_loans=3000, n_payments=6000,
            n_batches=8, batch_new=300, batch_updates=60), 9.5),
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "input_rows_per_s": "rows/s",
    "op_p50_s": "s", "op_tail_s": "s", "ok_frac": "frac", "peak_rss_mb": "MB",
    "peak_heap_mb": "MB",
}

# Per-layer metrics of a traced run, per pass (see README.md).
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "operators.call_s": "s", "operators.jobs": "count",
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.scans": "count",
    "plans.queries": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.idle_frac": "frac", "exec.parallelism": "ratio", "exec.skew": "ratio",
    "models.build_s": "s", "models.nodes": "count",
    "models.jobs_per_node": "ratio", "models.test_s": "s",
    "models.incremental_s": "s", "models.snapshot_s": "s",
    "models.files_written": "count", "written_mb": "MB",
    "sources.read_s": "s", "sources.rows_read": "count",
    "sources.bytes_read_mb": "MB",
    "jvm.gc_s": "s", "jvm.heap_used_mb": "MB", "jvm.process_cpu_s": "s",
    "harness.release_s": "s", "trace.overhead_frac": "frac",
    **{f"self.{layer}_s": "s" for layer in (
        "op", "operators", "plans", "exec", "models", "sources", "harness")},
}

# Spark 4 on JDK 17 needs these outside spark-submit; the program's build
# passes the same list to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness if the sources changed; return classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala; run from a checkout root")
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "perfbench.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log = os.path.join(OUT, "build.log")
    os.makedirs(OUT, exist_ok=True)
    # resolve from the local caches only, as the program's own build does
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories"))
    with open(log, "w") as f:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT, timeout=800)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.exists(exe) else "java"


def run_jvm(classpath, args, work):
    """Run the harness JVM; returns (result dict, launch epoch seconds)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin(), *JVM_MEMORY,
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
           *args, "--out", out, "--lock", ROOT]
    log = os.path.join(work, "jvm.log")
    start = time.time()
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also when this process is being stopped
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM failed ({rc})")
    with open(out) as f:
        return json.load(f), start


def set_up_and_run(a, classpath, work):
    """Generate inputs, start the JVM and let it run; returns the JVM's
    result, the input manifest and directory, and the set-up time."""
    t0 = time.time()
    inputs = os.path.join(work, "inputs")
    manifest = WORKLOADS[a.workload][0](inputs, a.seed)
    gen_s = time.time() - t0
    jvm_work = os.path.join(work, "jvm")
    os.makedirs(jvm_work)
    res, launched = run_jvm(classpath, [
        "--workload", a.workload, "--inputs", inputs, "--work", jvm_work,
        "--threads", str(min(THREADS, os.cpu_count() or 1)),
        "--passes", str(passes(a)), "--trace", str(a.trace)], work)
    setup_s = gen_s + res["setup_end_epoch_ms"] / 1e3 - launched
    res["setup_phases_s"] = {
        "inputs": gen_s,
        "jvm_and_session": res["session_ready_epoch_ms"] / 1e3 - launched,
        "warm_pass": (res["setup_end_epoch_ms"]
                      - res["session_ready_epoch_ms"]) / 1e3}
    return res, manifest, inputs, setup_s


def passes(a):
    """Whole passes in the timed window: about --seconds of op time at the
    workload's typical pass time, fixed so that every run times the same
    op mix."""
    return max(1, round(a.seconds / WORKLOADS[a.workload][1]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # stopping the benchmark runs the clean-up below and stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, manifest, inputs, setup_s = set_up_and_run(a, classpath, work)
        record = report(a, res, manifest, inputs, setup_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(record["summary"])
    print(record["line"])
    sys.exit(0 if record["correct"] else 1)


def report(a, res, manifest, inputs, setup_s):
    ops, warm = res["ops"], res["warm"]
    check = checks.BY_WORKLOAD[a.workload]
    ok = check(ops, warm, manifest)
    attempted, failed = len(ops), ok.count(False)
    correct = failed == 0 and all(check(warm, warm, manifest))
    secs = [r["seconds"] for r in ops]
    wall = sum(secs)
    rows_in = sum(res["rows_in"].get(r["name"], 0) for r in ops)
    tail_v, tail_p, tail_n = stats.tail(secs)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "input_rows_per_s": rows_in / wall,
        "op_p50_s": statistics.median(secs),
        "op_tail_s": tail_v,
        "ok_frac": (attempted - failed) / attempted,
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
        "peak_heap_mb": res["peak_live_heap_bytes"] / 2**20,
    }
    if a.trace:
        metrics = {k: (res["layers"][k], unit) for k, unit in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], END_TO_END[k]) for k in END_TO_END}
    env = dict(res["env"], nproc=os.cpu_count(), seed=a.seed,
               seconds=a.seconds, trace=a.trace, ops_per_run=attempted,
               passes=len(res["passes"]),
               inputs=manifest, input_digest=gen.digest(inputs),
               op_tail_percentile=tail_p, ops_beyond_tail=tail_n,
               release_s=res["release_s"],
               setup_phases_s=res["setup_phases_s"],
               peak_rss_reset=res["peak_rss_reset"],
               window_full_gc_heap_mb=res["window_full_gc_heap_mb"])
    detail = {"workload": a.workload, "env": env, "end_to_end": e2e,
              "layers": res.get("layers"),
              "ops": [dict(r, ok=o) for r, o in zip(ops, ok)],
              "warm": warm}
    os.makedirs(OUT, exist_ok=True)
    name = f"{a.workload}-trace{a.trace}.json"
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(detail, f, indent=1)
    if a.trace:
        run_id = f"{a.workload}-seed{a.seed}-{os.getpid()}"
        with open(os.path.join(OUT, f"spans-{a.workload}.json"), "w") as f:
            json.dump([dict(s, run=run_id) for s in res["spans"]], f)
    summary = (f"{a.workload}: seed={a.seed} threads={env['threads']} "
               f"nproc={env['nproc']} heap_mb={env['max_heap_mb']} "
               f"java={env['java_version']} ops={attempted} "
               f"op_tail=p{tail_p} ({tail_n} ops beyond) "
               f"inputs={json.dumps(manifest.get('rows'))} "
               f"digest={env['input_digest'][:12]}")
    if failed:
        summary += f" failed_ops={sorted({r['name'] for r, o in zip(ops, ok) if not o})}"
    return {"correct": correct, "summary": summary,
            "line": stats.result_line(correct, attempted, failed, metrics)}


if __name__ == "__main__":
    main()
