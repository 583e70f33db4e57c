package graft

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types.LongType

/** The engine's one door to eager checkpoints and to driver collects
  * ([[bounded]]); the [[scope]] a snapshot is made in releases it. A
  * scalar read right after a checkpoint (a convergence sum, a per-round
  * max, a row count) would otherwise cost a second job over rows the
  * checkpoint job had just visited: [[fold]] has each partition fold
  * its own rows while they are cached and the driver combine the few
  * results (REPOSE's local-then-global pattern).
  *
  * The per-partition results come from `runJob`, which keeps exactly
  * one result per partition however often a task is retried — an
  * accumulator would count a retried task twice. */
object Materialize {

  /** Eager local checkpoint of `df` plus `f` over each partition's rows
    * (in partition order); `f` sees rows in `df.schema` field order. */
  def fold[A: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => A): (DataFrame, Array[A]) = {
    val (snap, parts) = PlanShim.checkpointFold(df, f)
    scopes.get.headOption.foreach(_(PlanShim.checkpointRdd(snap).id) = df.sparkSession.sparkContext)
    (snap, parts)
  }

  /** All of `df`'s rows on the driver from one collect (plus AQE's
    * shuffle map stages), for a table whose row count its domain bounds
    * (hosts, dimensions, histogram cells), not its data. More than
    * `maxRows` rows throws IllegalStateException naming the cap: the
    * domain outgrew the driver-side algorithm, which must not go on
    * with part of the table. */
  def bounded(df: DataFrame, maxRows: Int): Array[Row] = {
    // Dataset.collect's plan, one runJob under one SQL execution id, but
    // each task stops after maxRows + 1 rows and the driver keeps a
    // partition's rows only while the running total is within the cap
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var total = 0L
      df.sparkSession.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => it.take(maxRows + 1).map(_.copy()).toArray,
        (i: Int, part: Array[InternalRow]) => {
          total += part.length
          if (total <= maxRows) parts(i) = part
        })
      if (total > maxRows) throw new IllegalStateException(
        s"bounded collect: more than $maxRows rows, the cap for this domain-bounded table")
      parts.flatten
    }
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    rows.map(toRow)
  }

  /** Eager local checkpoint of `df`, for when no scalar is wanted. */
  def snapshot(df: DataFrame): DataFrame = count(df)(_ => true)._1

  /** Drop a snapshot's cached blocks now rather than when the driver
    * happens to GC its RDD. `snap` must be a frame these helpers
    * returned, and nothing may read it afterwards. */
  def release(snap: DataFrame): Unit = {
    val rdd = PlanShim.checkpointRdd(snap)
    scopes.get.foreach(_ -= rdd.id)
    rdd.unpersist(blocking = false)
  }

  /** `body`'s result and how many snapshots it made on this thread and
    * had not released when it finished; those are released (blocking)
    * on exit, also when `body` throws. Only RDD ids are kept, so the
    * count is exact whatever GC has collected. A nested scope owns what
    * is made while it is innermost; other threads own their own. */
  def scope[A](body: => A): (A, Int) = {
    val held = mutable.Map.empty[Int, SparkContext]
    scopes.set(held :: scopes.get)
    try { val out = body; (out, held.size) }
    finally {
      scopes.set(scopes.get.tail)
      held.foreach { case (id, sc) => PlanShim.unpersistRdd(sc, id) }
    }
  }

  /** This thread's open scopes, innermost first: unreleased snapshot ids. */
  private val scopes = ThreadLocal.withInitial[List[mutable.Map[Int, SparkContext]]](() => Nil)

  /** Snapshot plus the number of rows satisfying `p`. */
  def count(df: DataFrame)(p: InternalRow => Boolean): (DataFrame, Long) = {
    val (snap, parts) = fold(df)(_.count(p).toLong)
    (snap, parts.sum)
  }

  /** Snapshot plus `SUM(c)` over a BIGINT column: None when every value
    * is NULL or the frame is empty (as SQL's SUM), and overflow throws
    * (as ANSI SUM does). */
  def sumLong(df: DataFrame, c: String): (DataFrame, Option[Long]) =
    reduceLongs(df, (Some(c), Math.addExact)) match { case (snap, r) => (snap, r.head) }

  /** Snapshot plus `MAX(c)` over a BIGINT column (None as for sumLong). */
  def maxLong(df: DataFrame, c: String): (DataFrame, Option[Long]) =
    reduceLongs(df, (Some(c), math.max)) match { case (snap, r) => (snap, r.head) }

  /** Snapshot plus, per (column, op), `op` reduced over the column's
    * non-NULL BIGINT values, or over a 1 per row for no column (so
    * `(None, Math.addExact)` counts rows): None when there is no value,
    * as SQL's SUM/MIN/MAX (so also for a row count of an empty frame). */
  def reduceLongs(df: DataFrame, ops: (Option[String], (Long, Long) => Long)*)
      : (DataFrame, Seq[Option[Long]]) = {
    val is = ops.map(_._1.map { c =>
      require(df.schema(c).dataType == LongType, s"$c is ${df.schema(c).dataType}, not BIGINT")
      df.schema.fieldIndex(c)
    })
    val (snap, parts) = fold(df) { it =>
      val acc = Array.fill[Option[Long]](ops.size)(None)
      it.foreach(r => for (k <- ops.indices if is(k).forall(!r.isNullAt(_))) {
        val x = is(k).fold(1L)(r.getLong)
        acc(k) = Some(acc(k).fold(x)(ops(k)._2(_, x)))
      })
      acc
    }
    (snap, ops.indices.map(k => parts.flatMap(_(k)).reduceOption(ops(k)._2)))
  }
}
