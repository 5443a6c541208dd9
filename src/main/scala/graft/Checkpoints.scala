package graft

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Eager lineage cuts, each owned by the [[Checkpoints.Scope]] that made
  * it. `localCheckpoint` offers no Dataset-level release, so a scope
  * keeps the RDD each of its cuts reads and unpersists exactly those.
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

  /** The owner of a set of cuts. Each cut's RDD is read off its own plan,
    * not diffed out of the session's persistent set, so scopes cutting on
    * different threads at once keep to their own storage. An operator
    * whose result reads a cut takes its caller's scope.
    */
  final class Scope extends AutoCloseable {
    private val rdds = mutable.ArrayBuffer.empty[RDD[_]]

    /** `df.localCheckpoint(eager = true)` at [[level]], recorded here. A
      * frame that already reads a checkpoint is returned as is: its
      * storage belongs to whoever cut it.
      */
    def cut(df: DataFrame): DataFrame =
      if (checkpointed(df).isDefined) df
      else {
        val out = df.localCheckpoint(true, level)
        synchronized { rdds += checkpointed(out).get }
        out
      }

    /** [[cut]] `df` and release every other cut made here: the one live
      * generation of an iteration that cuts each round.
      */
    def recut(df: DataFrame): DataFrame = synchronized {
      val out = cut(df)
      val live = checkpointed(out)
      rdds.filterNot(live.contains).foreach(_.unpersist(blocking = false))
      rdds.filterInPlace(live.contains)
      out
    }

    /** Move `other`'s cuts here: this scope releases them, `other` not. */
    def adopt(other: Scope): Unit = {
      val moved = other.synchronized { try other.rdds.toList finally other.rdds.clear() }
      synchronized { rdds ++= moved }
    }

    private[graft] def ids: Set[Int] = synchronized { rdds.map(_.id).toSet }

    /** Unpersist every recorded cut; a second call finds none. */
    override def close(): Unit = synchronized {
      rdds.foreach(_.unpersist(blocking = false))
      rdds.clear()
    }
  }

  /** `body` in a fresh scope, closed when `body` returns or throws. */
  def scoped[T](body: Scope => T): T = Using.resource(new Scope)(body)

  /** `Some(scope)` cuts `df` into `scope`; `None` leaves it lazy. */
  def cutIn(cuts: Option[Scope])(df: DataFrame): DataFrame =
    cuts.fold(df)(_.cut(df))

  private def checkpointed(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD if r.rdd.isCheckpointed => Some(r.rdd)
      case _ => None
    }
}
