package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Eager lineage cuts whose executor storage the caller releases.
  * `localCheckpoint` persists into executor storage and offers no
  * Dataset-level release, so [[tracked]] returns the persistent-RDD ids
  * the cut created and [[release]] unpersists exactly those.
  */
object Checkpoints {

  /** Storage level of every cut: serialized blocks that spill to disk.
    * localCheckpoint's default (MEMORY_AND_DISK, deserialized) caches a
    * large band index as InternalRows and takes the unified memory the
    * same stage's sorts and aggregates need, so execution spills while
    * storage holds the cut; serialized blocks of these narrow rows are
    * several times smaller (BENCHNOTES, sf100 spill attribution).
    */
  val level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  /** `df.localCheckpoint(eager = true)` at [[level]], with the ids of the
    * persistent RDDs the checkpoint created.
    */
  def tracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint(true, level)
    (out, sc.getPersistentRDDs.keySet.toSet.diff(before))
  }

  /** Unpersist the cuts `ids` names; ids already released are skipped. */
  def release(sc: SparkContext, ids: Set[Int]): Unit =
    ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
}
