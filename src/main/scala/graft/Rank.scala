package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The engine's one exact rank: an exclusive running sum
  * `SUM(w) OVER (PARTITION BY group ORDER BY order ROWS UNBOUNDED
  * PRECEDING) - w` (w = 1 gives `ROW_NUMBER() - 1`) without a window,
  * whose frame would funnel a group's rows, or all of them, through
  * one task. REPOSE's (ICDE 2021) partition-local-then-global shape:
  *
  *  1. range-partition and sort on (group, order): equal keys share a
  *     partition, and a group's rows are one contiguous run in each
  *     partition it spans, the runs in partition order;
  *  2. one [[Materialize.fold]] snapshots the sorted rows and returns
  *     each partition's runs (group, rows, Σw), checking on the way
  *     that no two adjacent rows share a key;
  *  3. the driver turns the runs into a base per (partition, run): the
  *     group's Σw in all lower partitions;
  *  4. one narrow pass over the snapshot adds each row's base to its
  *     partition-local running sum.
  *
  * Every value comes from the one snapshot, so no plan re-runs the
  * range exchange (whose boundary sampling can partition a second run
  * differently). The driver holds one entry per (partition, group), so
  * `group` must have few values (languages, not documents). */
object Rank {

  /** `df` plus BIGINT column `out` (the exclusive running sum of BIGINT
    * column `weight`, of 1 when None; NULL where the weight is, which
    * adds nothing, as in SQL) and each group's Σw, keyed by its group
    * values (`Row()` for no group; no entry for an empty input). `order`
    * may hold `desc` columns. Throws on a duplicate (group, order) key,
    * whose rank would otherwise be arbitrary. */
  def apply(df: DataFrame, out: String, order: Seq[Column], group: Seq[Column] = Nil,
      weight: Option[String] = None): (DataFrame, Map[Row, Long]) = {
    val keys = group ++ order
    val sorted = df.repartitionByRange(Q.shufflePartitions(df.sparkSession), keys: _*)
      .sortWithinPartitions(keys: _*)
    val key = sorted.queryExecution.analyzed match {
      case s: Sort => BindReferences.bindReferences(s.order.map(_.child), s.child.output)
      case p => throw new IllegalArgumentException(s"Rank: keys do not plan as one sort: ${p.nodeName}")
    }
    val ng = group.size
    val dup = s"Rank: duplicate key ${keys.mkString("(", ", ", ")")}; an exact rank needs unique keys"
    val pi = df.schema.size // the partition id rides after df's columns
    val wi = weight.map { c =>
      require(df.schema(c).dataType == LongType, s"$c is ${df.schema(c).dataType}, not BIGINT")
      df.schema.fieldIndex(c)
    }
    // per partition, its runs in row order: (group key, rows, Σw)
    val (snap, parts) = Materialize.fold(sorted.withColumn("_pid", spark_partition_id())) { it =>
      val keyOf = UnsafeProjection.create(key)
      val groupOf = UnsafeProjection.create(key.take(ng))
      val runs = mutable.ArrayBuffer.empty[(UnsafeRow, Long, Long)]
      var prev: UnsafeRow = null
      it.foreach { r =>
        val k = keyOf(r)
        if (k == prev) throw new IllegalArgumentException(dup)
        prev = k.copy()
        val w = wi.fold(1L)(i => if (r.isNullAt(i)) 0L else r.getLong(i))
        val g = groupOf(r)
        if (runs.nonEmpty && runs.last._1 == g) {
          val (g0, n, s) = runs.last
          runs(runs.length - 1) = (g0, n + 1, Math.addExact(s, w))
        } else runs += ((g.copy(), 1L, w))
      }
      runs.toArray
    }
    // per partition, per run: (rows, base)
    val sums = mutable.Map.empty[UnsafeRow, Long]
    val plan = parts.map(_.map { case (g, n, s) =>
      val base = sums.getOrElse(g, 0L)
      sums(g) = Math.addExact(base, s)
      (n, base)
    })
    val ranked = snap.mapPartitions { it =>
      val rows = it.buffered
      val runs = if (rows.hasNext) plan(rows.head.getInt(pi)).iterator else Iterator.empty
      var left, acc = 0L
      rows.map { r =>
        if (left == 0) { val (n, base) = runs.next(); left = n; acc = base }
        left -= 1
        val v = if (wi.exists(r.isNullAt)) null else acc
        acc += wi.fold(1L)(i => if (r.isNullAt(i)) 0L else r.getLong(i))
        Row.fromSeq(r.toSeq.take(pi) :+ v)
      }
    }(Encoders.row(df.schema.add(out, LongType, nullable = weight.isDefined)))
    val toRow = ExpressionEncoder(StructType(key.take(ng).zipWithIndex.map { case (e, i) =>
      StructField(s"g$i", e.dataType, e.nullable) })).resolveAndBind().createDeserializer()
    (ranked, sums.map { case (g, s) => toRow(g) -> s }.toMap)
  }
}
