package graft.queries

import org.apache.spark.sql.{DataFrame, Row}

import graft.{Checkpoints, SparkEntry, SparkSpec}
import graft.plans.FanoutLint

/** Smoke coverage for every registered demonstrator: each query builds,
  * runs at sf0.001, returns a sane result, gives the same rows when built
  * again in the same session, and frees every cut it made once its scope
  * closes. Exact value parity is checked against the DuckDB oracle
  * (tools/check_oracle.py); this spec catches plan-breaking regressions
  * inside `sbt test`.
  */
class DemoSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // queries whose correct result CAN be empty at tiny scale
  private val mayBeEmpty = Set("q08_grain_test", "x2b_minhash_lsh",
    "x2c_ngram_jaccard", "x2e_embed_neardup", "q07_having",
    "x4f_phash_neardup")

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("library-internal N:1 joins stay quiet: x2f, x64 and x65 at sf0.001") {
    // dedupClusters' label update (one label row per node), the x64
    // min_bn re-attach (one verified row per pair) and attachMinBn's
    // bucket sizes (one size row per bucket) are N:1 by construction
    val linted = spark.newSession()
    linted.experimental.extraOptimizations = Seq(FanoutLint)
    FanoutLint.clear()
    for (name <- Seq("x2f_dedup_clusters", "x64_recall_floor_presets",
        "x65_lsh_survival_pairsampled"))
      Checkpoints.scoped(cuts =>
        SparkEntry.build(name, linted, sfDir, cuts).queryExecution.executedPlan)
    assert(FanoutLint.recentFindings.isEmpty,
      s"unexpected findings: ${FanoutLint.recentFindings}")
  }

  test("every query has an oracle or documented omission") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty,
      s"queries without oracleSql (driver downgrades to rows-only): $noOracle")
  }

  /** A row as a string that compares by value (binary columns as hex). */
  private def canonical(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canonical(k)}->${canonical(x)}" }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canonical).mkString("(", ",", ")")
    case x => x.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(canonical).sorted

  // each query builds twice in one session through ONE scope: the demo
  // must give the same rows both times, and once the scope closes the
  // build must have left no persisted RDD behind
  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name runs at sf0.001") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val cuts = new Checkpoints.Scope
      val (first, second) =
        try (rows(SparkEntry.build(name, spark, sfDir, cuts)),
          rows(SparkEntry.build(name, spark, sfDir, cuts)))
        finally cuts.close()
      if (!mayBeEmpty(name)) assert(first.nonEmpty, s"$name returned 0 rows")
      assert(first === second, s"$name: the second build gave other rows")
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"$name left persisted RDDs $left after its scope closed")
    }
  }
}
