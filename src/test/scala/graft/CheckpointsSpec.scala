package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** [[Checkpoints.Scope]]: what a cut records, what closing frees, and
  * that two scopes cutting at once on two threads keep to their own.
  */
class CheckpointsSpec extends SparkSpec {

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The id of the RDD `df`'s analyzed plan reads. */
  private def readsRdd(df: DataFrame): Int = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not RDD-backed: ${p.nodeName}")
  }

  private def frame(n: Long): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("k"))

  test("cut records exactly the RDD its frame reads, at Checkpoints.level") {
    val before = persistent
    val cuts = new Checkpoints.Scope
    try {
      val cut = cuts.cut(frame(1000).filter(col("k") === 3))
      assert(cuts.ids === Set(readsRdd(cut)))
      assert(persistent -- before === cuts.ids)
      assert(spark.sparkContext.getPersistentRDDs(readsRdd(cut)).getStorageLevel
        === Checkpoints.level)
      assert(cut.count() === 1000L / 7 + 1)
    } finally cuts.close()
  }

  test("close frees its RDDs and nothing else; a second close is a no-op") {
    val before = persistent
    val other = new Checkpoints.Scope
    val cuts = new Checkpoints.Scope
    try {
      val kept = other.cut(frame(100))
      val a = cuts.cut(frame(200))
      val b = cuts.cut(a.filter(col("k") === 1))
      assert(cuts.ids === Set(readsRdd(a), readsRdd(b)))
      cuts.close()
      assert(persistent -- before === other.ids)
      assert(kept.count() === 100L)
      cuts.close()
      assert(cuts.ids.isEmpty)
      assert(persistent -- before === other.ids)
    } finally other.close()
    assert(persistent === before)
  }

  test("an already-cut frame is not cut again; a lazy or cached frame is") {
    val cuts = new Checkpoints.Scope
    val cached = frame(50).cache()
    try {
      val once = cuts.cut(frame(50))
      assert(cuts.cut(once) eq once)
      // a frame another scope cut belongs to that scope: returned as is,
      // not recorded here
      val foreign = new Checkpoints.Scope
      val theirs = foreign.cut(frame(60))
      assert(cuts.cut(theirs) eq theirs)
      assert(cuts.ids === Set(readsRdd(once)))
      foreign.close()
      // cache() is not a lineage cut
      val recut = cuts.cut(cached)
      assert(readsRdd(recut) !== readsRdd(once))
      assert(cuts.ids.size === 2)
    } finally {
      cuts.close()
      cached.unpersist()
    }
  }

  test("two scopes cutting at once on two threads each release only their own") {
    val before = persistent
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      for (round <- 1 to 3) {
        val start = new CyclicBarrier(2)
        val scopes = Seq.fill(2)(new Checkpoints.Scope)
        val sizes = Seq(20000L + round, 30000L + round)
        val cuts = Await.result(Future.sequence(scopes.zip(sizes).map {
          case (scope, n) => Future {
            val lazyFrame = frame(n).repartition(4, col("k"))
            start.await(30, TimeUnit.SECONDS)
            scope.cut(lazyFrame)
          }
        }), 2.minutes)
        assert(scopes.map(_.ids) === cuts.map(c => Set(readsRdd(c))))
        assert(persistent -- before === scopes.flatMap(_.ids).toSet)
        scopes.head.close()
        assert(persistent -- before === scopes(1).ids)
        assert(cuts(1).count() === sizes(1))
        scopes(1).close()
        assert(persistent === before, s"round $round left storage behind")
      }
    } finally pool.shutdown()
  }
}
