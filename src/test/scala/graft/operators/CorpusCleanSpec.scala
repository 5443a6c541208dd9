package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** The materialization hook of the corpus-clean capstone: the post-dedup
  * cut must change the plan (one materialization, downstream reads the
  * checkpoint) without changing the result.
  */
class CorpusCleanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val rates = Map("en" -> 50, "de" -> 100, "fr" -> 100, "es" -> 100)

  private def run(cut: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
    CorpusClean.pipeline(
      Tables.table(spark, sfDir, "documents"),
      idCol = "doc_id", textCol = "text", stratumCol = "lang",
      nearDupThreshold = 0.5, rates = rates, materializeCut = cut)

  test("localCheckpoint cut: identical survivors to the fully lazy pipeline") {
    val lazyRows = run(identity)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val cutRows = run(_.localCheckpoint(true))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cutRows === lazyRows)
    assert(cutRows.nonEmpty)
  }

  test("lshRecallFloor: prices the floor through the measured table and calibrates the cap") {
    // the floor path must equal the explicit-cap path at the cap the
    // floor implies: budgetForRecall prices the floor at the corpus's
    // decade (tiny corpus → 500k row → budget 32), calibrateMaxBucket
    // turns that budget into a cap on the ACTUAL survivor band
    // histogram — so running with lshRecallFloor ≡ running with that
    // cap passed by hand
    val docs = Tables.table(spark, sfDir, "documents")
    def survivors(maxBucket: Option[Int], floor: Option[Double]) =
      CorpusClean.pipeline(docs,
          idCol = "doc_id", textCol = "text", stratumCol = "lang",
          nearDupThreshold = 0.5, rates = rates,
          materializeCut = _.localCheckpoint(true),
          lshMaxBucket = maxBucket, lshRecallFloor = floor)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // replicate the pipeline's own pre-passes to get the implied cap
    val quality = TextAnalysis.qualityMetrics(docs, "text")
      .filter(col("keep") === 1).select(docs.columns.toIndexedSeq.map(col): _*)
    val exactKept = TextDedup.exactDedup(
        TextDedup.withFingerprint(quality, "text"),
        keys = Seq("fingerprint"), tiebreak = col("doc_id"))
      .drop("fingerprint").localCheckpoint(true)
    val n = exactKept.count()
    val impliedCap = TextDedup.calibrateMaxBucket(
      TextDedup.lshIndex(exactKept, "doc_id", "text"), n,
      TextDedup.budgetForRecall(n, 0.999))
    val floored = survivors(None, Some(0.999))
    assert(floored === survivors(Some(impliedCap), None))
    assert(floored.nonEmpty)
    // one cap authority: both knobs together refuse at plan-build time
    assert(intercept[IllegalArgumentException] {
      survivors(Some(8), Some(0.999))
    }.getMessage.contains("one cap authority"))
    // an unpriced floor propagates budgetForRecall's refusal
    assert(intercept[IllegalArgumentException] {
      survivors(None, Some(0.0))
    }.getMessage.contains("(0, 1]"))
  }

  test("localCheckpoint cut: upstream subtree materializes once (no source scans downstream)") {
    // without the cut the parquet source is scanned by every LSH re-read
    // of the dedup output: >= 3 scans in the optimized plan
    val lazyPlan = run(identity).queryExecution.optimizedPlan.toString
    assert("Relation.*parquet".r.findAllIn(lazyPlan).size >= 3, lazyPlan.take(2000))
    // with the cut, everything downstream reads the checkpointed RDD —
    // zero parquet scans remain in the final plan
    val cutPlan = run(_.localCheckpoint(true)).queryExecution.optimizedPlan.toString
    assert("Relation.*parquet".r.findAllIn(cutPlan).isEmpty, cutPlan.take(2000))
    assert(cutPlan.contains("LogicalRDD"), cutPlan.take(2000))
  }

  test("snapshotDiff: all four statuses; NULL identities are present, not absent (X54)") {
    val s = spark
    import s.implicits._
    val v1 = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (5L, Option.empty[String])).toDF("id", "fp")
    val v2 = Seq((1L, Some("a")), (2L, Some("B")), (4L, Some("d")),
      (5L, Option.empty[String])).toDF("id", "fp")
    val out = graft.operators.CorpusClean.snapshotDiff(v1, v2, "id", "fp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out === Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added",
      // both snapshots HAVE id 5 with a NULL identity: present on both
      // sides and null-safe-equal, so unchanged — never added/removed
      5L -> "unchanged"))
  }
}
