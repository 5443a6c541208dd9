"""Output checks of each workload's ops; each returns one bool per op of
`ops`. `warm` holds the ops of the warm pass, `manifest` the generator's
description of the inputs."""


def dedup_corpus(ops, warm, manifest):
    """Row count and row checksum of every op equal the warm pass's."""
    first = {r["name"]: r["check"] for r in warm}
    return [r["check"] == first[r["name"]] for r in ops]


def _dbt_ok(r, manifest):
    c, name = r["check"], r["name"]
    if name == "build":
        try:
            fct, fixed, fanout = (int(c[k]) for k in
                                  ("fct_total", "fixed_total", "fanout_total"))
        except (KeyError, ValueError):
            return False
        return c.get("success") is True and fixed == fct and fanout > fixed
    if name.startswith("incremental_"):
        i = int(name.rsplit("_", 1)[1])
        return c.get("rows") == manifest["incremental_counts"][i]
    if name == "snapshot":
        return c.get("rows") == manifest["snapshot_rows"]
    return False


def dbt_build(ops, warm, manifest):
    """The build succeeds and keeps the grain invariant (the fixed monthly
    mart's originated total equals the fact table's, the fan-out variant's
    is larger); each incremental batch and the snapshot leave exactly the
    rows the generator predicts."""
    return [_dbt_ok(r, manifest) for r in ops]


BY_WORKLOAD = {"dedup_corpus": dedup_corpus, "dbt_build": dbt_build}
