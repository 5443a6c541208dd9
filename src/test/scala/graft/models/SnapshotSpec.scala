package graft.models

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** dbt timestamp-strategy SCD2 semantics, pinned case by case on a tiny
  * fixture: insert / supersede / unchanged / missing-key / out-of-order
  * (older update must NOT reopen history), and a merge run's plan: one
  * open-slice join.
  */
class SnapshotSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s + " 00:00:00")

  private def src(rows: (String, String, String)*): DataFrame =
    rows.toSeq.toDF("id", "state", "updated_at")
      .withColumn("updated_at", to_timestamp(col("updated_at")))

  private def rows(df: DataFrame): Set[(String, String, Timestamp, Option[Timestamp])] =
    df.collect().map(r => (r.getString(0), r.getString(1),
      r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet

  test("first run opens one version per key") {
    val s1 = Snapshot.timestampStrategy(None,
      src(("a", "new", "2024-01-01"), ("b", "new", "2024-01-02")),
      Seq("id"), "updated_at")
    assert(rows(s1) === Set(
      ("a", "new", ts("2024-01-01"), None),
      ("b", "new", ts("2024-01-02"), None)))
  }

  test("newer update closes the open version and opens the replacement") {
    val s1 = Snapshot.timestampStrategy(None,
      src(("a", "new", "2024-01-01"), ("b", "new", "2024-01-02")),
      Seq("id"), "updated_at")
    val s2 = Snapshot.timestampStrategy(Some(s1),
      src(("a", "active", "2024-02-01"), ("b", "new", "2024-01-02"),
        ("c", "new", "2024-02-03")),
      Seq("id"), "updated_at")
    assert(rows(s2) === Set(
      ("a", "new", ts("2024-01-01"), Some(ts("2024-02-01"))),
      ("a", "active", ts("2024-02-01"), None),
      ("b", "new", ts("2024-01-02"), None), // unchanged → untouched
      ("c", "new", ts("2024-02-03"), None))) // fresh key → insert
  }

  test("older or equal updated_at never rewrites history; missing keys stay open") {
    val s1 = Snapshot.timestampStrategy(None,
      src(("a", "new", "2024-02-01")), Seq("id"), "updated_at")
    // 'a' arrives with an OLDER timestamp, 'b' of s1... absent entirely
    val s2 = Snapshot.timestampStrategy(Some(s1),
      src(("a", "stale", "2024-01-15")), Seq("id"), "updated_at")
    assert(rows(s2) === Set(("a", "new", ts("2024-02-01"), None)))
  }

  test("closed history is immutable across later runs") {
    val s1 = Snapshot.timestampStrategy(None,
      src(("a", "v1", "2024-01-01")), Seq("id"), "updated_at")
    val s2 = Snapshot.timestampStrategy(Some(s1),
      src(("a", "v2", "2024-02-01")), Seq("id"), "updated_at")
    val s3 = Snapshot.timestampStrategy(Some(s2),
      src(("a", "v3", "2024-03-01")), Seq("id"), "updated_at")
    assert(rows(s3) === Set(
      ("a", "v1", ts("2024-01-01"), Some(ts("2024-02-01"))),
      ("a", "v2", ts("2024-02-01"), Some(ts("2024-03-01"))),
      ("a", "v3", ts("2024-03-01"), None)))
  }

  test("one run hits every outcome at once, a NULL key included (timestamp strategy)") {
    val s1 = Snapshot.timestampStrategy(None,
      src(("a", "v1", "2024-01-01"), ("b", "v1", "2024-01-01"),
        ("c", "v1", "2024-01-01"), (null, "v1", "2024-01-01")),
      Seq("id"), "updated_at")
    // a and the NULL key superseded, b unchanged, c absent, d new
    val s2 = Snapshot.timestampStrategy(Some(s1),
      src(("a", "v2", "2024-02-01"), ("b", "v1", "2024-01-01"),
        (null, "v2", "2024-02-01"), ("d", "v1", "2024-02-01")),
      Seq("id"), "updated_at")
    assert(rows(s2) === Set(
      ("a", "v1", ts("2024-01-01"), Some(ts("2024-02-01"))),
      ("a", "v2", ts("2024-02-01"), None),
      ("b", "v1", ts("2024-01-01"), None),
      ("c", "v1", ts("2024-01-01"), None),
      ("d", "v1", ts("2024-02-01"), None),
      (null, "v1", ts("2024-01-01"), Some(ts("2024-02-01"))),
      (null, "v2", ts("2024-02-01"), None)))
    assert(s2.count() === 7)
  }

  test("one run hits every outcome at once, a NULL key included (check strategy)") {
    def srcC(rows: (String, String)*): DataFrame = rows.toSeq.toDF("id", "state")
    val r1 = Snapshot.checkStrategy(None,
      srcC(("a", "x"), ("b", "x"), ("c", "x"), (null, "x")),
      Seq("id"), Seq("state"), ts("2024-01-01"))
    val r2 = Snapshot.checkStrategy(Some(r1),
      srcC(("a", "y"), ("b", "x"), (null, "y"), ("d", "x")),
      Seq("id"), Seq("state"), ts("2024-02-01"))
    assert(rows(r2) === Set(
      ("a", "x", ts("2024-01-01"), Some(ts("2024-02-01"))),
      ("a", "y", ts("2024-02-01"), None),
      ("b", "x", ts("2024-01-01"), None),
      ("c", "x", ts("2024-01-01"), None),
      ("d", "x", ts("2024-02-01"), None),
      (null, "x", ts("2024-01-01"), Some(ts("2024-02-01"))),
      (null, "y", ts("2024-02-01"), None)))
    assert(r2.count() === 7)
  }

  test("a merge run plans its open-slice join once, under both strategies") {
    def joins(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val s1 = Snapshot.timestampStrategy(None,
      src(("a", "v1", "2024-01-01")), Seq("id"), "updated_at")
    val s2 = Snapshot.timestampStrategy(Some(s1),
      src(("a", "v2", "2024-02-01")), Seq("id"), "updated_at")
    assert(joins(s2) === 1, s2.queryExecution.optimizedPlan)
    val r1 = Snapshot.checkStrategy(None,
      Seq(("a", "x")).toDF("id", "state"), Seq("id"), Seq("state"), ts("2024-01-01"))
    val r2 = Snapshot.checkStrategy(Some(r1),
      Seq(("a", "y")).toDF("id", "state"), Seq("id"), Seq("state"), ts("2024-02-01"))
    assert(joins(r2) === 1, r2.queryExecution.optimizedPlan)
  }

  test("latestPerKey dedupes a feed deterministically (timestamp then tiebreak)") {
    val feed = Seq(
      ("a", "x", "2024-01-01", 1L), ("a", "y", "2024-01-02", 2L),
      ("a", "z", "2024-01-02", 3L), ("b", "w", "2024-01-01", 4L))
      .toDF("id", "state", "updated_at", "seq")
      .withColumn("updated_at", to_timestamp(col("updated_at")))
    val latest = Snapshot.latestPerKey(feed, Seq("id"), "updated_at", col("seq"))
      .select("id", "state").as[(String, String)].collect().toSet
    assert(latest === Set(("a", "z"), ("b", "w")))
  }

  test("check strategy: version on VALUE change only, stamped with the run's effective ts") {
    def srcC(rows: (String, String)*): org.apache.spark.sql.DataFrame =
      rows.toSeq.toDF("id", "state")
    val r1 = Snapshot.checkStrategy(None,
      srcC(("a", "new"), ("b", "new")), Seq("id"), Seq("state"), ts("2024-01-01"))
    // run 2: a changed, b identical (no new version despite a new run), c fresh
    val r2 = Snapshot.checkStrategy(Some(r1),
      srcC(("a", "active"), ("b", "new"), ("c", "new")),
      Seq("id"), Seq("state"), ts("2024-02-01"))
    assert(rows(r2) === Set(
      ("a", "new", ts("2024-01-01"), Some(ts("2024-02-01"))),
      ("a", "active", ts("2024-02-01"), None),
      ("b", "new", ts("2024-01-01"), None),
      ("c", "new", ts("2024-02-01"), None)))
    // run 3: a flips BACK to "new" — check strategy versions it again
    // (value differs from the open version); b absent → stays open
    val r3 = Snapshot.checkStrategy(Some(r2),
      srcC(("a", "new"), ("c", "new")), Seq("id"), Seq("state"), ts("2024-03-01"))
    assert(rows(r3) === Set(
      ("a", "new", ts("2024-01-01"), Some(ts("2024-02-01"))),
      ("a", "active", ts("2024-02-01"), Some(ts("2024-03-01"))),
      ("a", "new", ts("2024-03-01"), None),
      ("b", "new", ts("2024-01-01"), None),
      ("c", "new", ts("2024-02-01"), None)))
  }

  test("check strategy: a backfilled run with an OLDER effectiveTs never rewrites history") {
    def srcB(rows: (String, String)*): org.apache.spark.sql.DataFrame =
      rows.toSeq.toDF("id", "state")
    val r1 = Snapshot.checkStrategy(None,
      srcB(("a", "x")), Seq("id"), Seq("state"), ts("2024-02-01"))
    // out-of-order replay: value differs but the run predates the open
    // version — superseding would emit valid_to < valid_from
    val r2 = Snapshot.checkStrategy(Some(r1),
      srcB(("a", "y")), Seq("id"), Seq("state"), ts("2024-01-01"))
    assert(rows(r2) === Set(("a", "x", ts("2024-02-01"), None)))
  }

  test("check strategy: NULL value transitions are tracked null-safely") {
    def srcN(rows: (String, Option[String])*): org.apache.spark.sql.DataFrame =
      rows.toSeq.toDF("id", "state")
    val r1 = Snapshot.checkStrategy(None,
      srcN(("a", Some("x")), ("b", None)), Seq("id"), Seq("state"), ts("2024-01-01"))
    // a: x→NULL is a change; b: NULL→NULL is NOT a change
    val r2 = Snapshot.checkStrategy(Some(r1),
      srcN(("a", None), ("b", None)), Seq("id"), Seq("state"), ts("2024-02-01"))
    val got = r2.collect().map(r => (r.getString(0), Option(r.getString(1)),
      r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
    assert(got === Set(
      ("a", Some("x"), ts("2024-01-01"), Some(ts("2024-02-01"))),
      ("a", None, ts("2024-02-01"), None),
      ("b", None, ts("2024-01-01"), None)))
  }
}
