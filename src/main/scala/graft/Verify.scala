package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name prefixes — local builder
    // iteration on a query subset (the driver always passes 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val prefixes = args.drop(2).headOption.map(_.split(',').toSeq)
    def selected(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a visible scar in the correctness
    // record, not silently vanish from it (round-4 advice: 23 runtime
    // failures read as an all-green round because failed queries produced
    // no output at all). Write a one-row sentinel with an impossible
    // schema so the driver's compare reports a red row for the query.
    var failed = List.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed ::= name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // best-effort: if the environment itself is broken (disk full,
          // dead context) the sentinel write may also throw — that must
          // not abort the loop or suppress verify_failures.json below
          try {
            import spark.implicits._
            Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
              .toDF("__verify_error")
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] $name sentinel write failed: ${e2.getMessage}")
          }
        }
    }
    // JSON string: a tab or CR in a query's SQL would otherwise make the
    // compare's json.load fail and drop every query's correctness row.
    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) {
      val fj = failed.sorted.map(q).mkString("[", ",", "]")
      Files.writeString(Paths.get(s"$outDir/verify_failures.json"), fj)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.sorted.mkString(", "))
    }
    spark.stop()
  }
}
