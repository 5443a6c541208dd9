package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-inspection utility: `runMain graft.Explain <query>[,<query>...]
  * [sfDir] [outDir]` prints the formatted physical plan of each named
  * SparkEntry query — the iterate-on-the-plan loop (builder prompt:
  * explain until it's the plan you'd want, not the first one that
  * passed). With a single query and no outDir it also times two
  * `count()`s (warm/cold) as a quick probe; with `outDir` each plan is
  * written to `outDir/<query>.txt` instead (the committed before/after
  * plans under `plans/` are these files).
  *
  * Queries that drive their own actions eagerly (multi-batch demos like
  * x59/x12/x13) still produce a plan for their FINAL frame — the
  * formatted explain captures the shape of the returned query, which is
  * what the bench times last.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq.filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val spark = GraftSession.local(GraftSession.cpus)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val built = names.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          Files.write(Paths.get(d, s"$name.txt"),
            txt.getBytes(StandardCharsets.UTF_8))
          System.err.println(s"[explain] wrote $d/$name.txt")
        case None =>
          println(s"===== $name =====")
          println(txt)
      }
      df
    }
    if (names.size == 1 && outDir.isEmpty) {
      // reuse the frame the explain loop built: eager side-effecting
      // demos (x59/x12/x13 — store writes, scratch setup) execute those
      // actions when the query function is CALLED, so building the
      // DataFrame a second time here would run the writes twice and
      // time a rebuilt state
      val df = built.head
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      val t1 = System.nanoTime()
      val n2 = df.count()
      println(f"rows=$n2 time2=${(System.nanoTime() - t1) / 1e9}%.2fs (warm)")
    }
    spark.stop()
  }
}
