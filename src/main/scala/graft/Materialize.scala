package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.LongType

/** Eager checkpoints that also return a driver-side scalar, from ONE
  * Spark job. A scalar read right after a checkpoint (a convergence
  * sum, a per-round max, a row count) would otherwise cost a second
  * job — or a 1-row aggregate broadcast back into the next plan — over
  * rows the checkpoint job had just visited. Here each partition folds
  * its own rows while they are cached and the driver combines the few
  * per-partition results (the REPOSE local-then-global pattern).
  *
  * The per-partition results come from `runJob`, which keeps exactly
  * one result per partition however often a task is retried — an
  * accumulator would count a retried task twice. */
object Materialize {

  /** Eager local checkpoint of `df` plus `f` over each partition's rows
    * (in partition order); `f` sees rows in `df.schema` field order. */
  def fold[A: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => A): (DataFrame, Array[A]) =
    org.apache.spark.sql.graft.PlanShim.checkpointFold(df, f)

  /** Eager local checkpoint of `df`, for when no scalar is wanted. */
  def snapshot(df: DataFrame): DataFrame = count(df)(_ => true)._1

  /** Drop a snapshot's cached blocks now rather than when the driver
    * happens to GC its RDD. `snap` must be a frame these helpers
    * returned, and nothing may read it afterwards. */
  def release(snap: DataFrame): Unit =
    org.apache.spark.sql.graft.PlanShim.releaseCheckpoint(snap)

  /** Snapshot plus the number of rows satisfying `p`. */
  def count(df: DataFrame)(p: InternalRow => Boolean): (DataFrame, Long) = {
    val (snap, parts) = fold(df)(_.count(p).toLong)
    (snap, parts.sum)
  }

  /** Snapshot plus `SUM(c)` over a BIGINT column: None when every value
    * is NULL or the frame is empty (as SQL's SUM), and overflow throws
    * (as ANSI SUM does). */
  def sumLong(df: DataFrame, c: String): (DataFrame, Option[Long]) =
    reduceLong(df, c)(Math.addExact)

  /** Snapshot plus `MAX(c)` over a BIGINT column (None as for sumLong). */
  def maxLong(df: DataFrame, c: String): (DataFrame, Option[Long]) =
    reduceLong(df, c)(math.max)

  private def reduceLong(df: DataFrame, c: String)(op: (Long, Long) => Long)
      : (DataFrame, Option[Long]) = {
    require(df.schema(c).dataType == LongType, s"$c is ${df.schema(c).dataType}, not BIGINT")
    val i = df.schema.fieldIndex(c)
    val (snap, parts) = fold(df) { it =>
      var acc: Option[Long] = None
      it.foreach { r =>
        if (!r.isNullAt(i)) acc = Some(acc.fold(r.getLong(i))(op(_, r.getLong(i))))
      }
      acc
    }
    (snap, parts.flatten.reduceOption(op))
  }
}
