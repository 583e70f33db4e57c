package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Versioned.{deleteRecursively, listDir, walk}

/** Table maintenance for the parquet-canonical layout: small-files
  * compaction. Incremental ingest (per-batch dynamic-partition writes,
  * streaming micro-batches) accretes many small files; scans then pay
  * per-file open cost and lose row-group-sized reads. `compact`
  * rewrites a directory into ~`targetBytes`-sized files. Hive-style
  * partition directories (`col=value`) are detected and carried
  * through the rewrite (`partitionBy` on the same columns), so the
  * on-disk layout — and partition pruning — is preserved.
  *
  * Crash-recovery contract: the swap is two renames
  * (`dir` → `dir_precompact`, then `dir_compacting` → `dir`), so a
  * crash between them leaves no `dir` — but the data is intact in
  * `dir_precompact`, and the next `compact` (or an explicit
  * [[recover]]) restores it before doing anything else. The
  * `_precompact` backup is deleted only AFTER the new directory is
  * validated (non-empty parquet listing); any failure before that
  * point leaves a recoverable state. On a cluster the same protocol
  * runs against the table root via filesystem rename (or a metastore
  * location flip, which is truly atomic).
  */
object Maintenance {

  /** Returns the number of output files written. */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    recover(dir) // restore a prior crashed swap before touching anything
    val root = Paths.get(dir)
    val inputBytes = listFiles(root).map(Files.size(_)).sum
    val nParts = math.max(1, math.ceil(inputBytes.toDouble / targetBytes).toInt)
    val partCols = partitionColumns(root)
    val staging = Paths.get(dir + "_compacting")
    deleteRecursively(staging)
    val df = spark.read.parquet(dir)
    // partitioned table: cluster by the partition columns PLUS a row
    // salt so a skewed partition value still splits into
    // ~targetBytes-sized files (partition columns alone would funnel a
    // 10 GB value into one task and one file); unpartitioned: plain
    // round-robin into size-targeted files
    val repartitioned =
      if (partCols.nonEmpty) {
        val nLeaf = math.max(1, leafPartitionDirs(root))
        val salts = math.max(1, math.ceil(nParts.toDouble / nLeaf).toInt)
        // xxhash64 rejects map-typed columns — salt over the hashable rest
        import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
        def hasMap(dt: DataType): Boolean = dt match {
          case _: MapType => true
          case a: ArrayType => hasMap(a.elementType)
          case st: StructType => st.fields.exists(f => hasMap(f.dataType))
          case _ => false
        }
        val hashable = df.schema.fields.filterNot(f => hasMap(f.dataType))
          .map(f => col(f.name)).toSeq
        val salt = org.apache.spark.sql.functions.pmod(
          if (hashable.isEmpty) org.apache.spark.sql.functions.lit(0L)
          else org.apache.spark.sql.functions.xxhash64(hashable: _*),
          org.apache.spark.sql.functions.lit(salts))
        df.repartition(nParts, (partCols.map(col) :+ salt): _*)
      } else df.repartition(nParts)
    val writer = repartitioned.write
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(staging.toString)
    require(countParquet(staging) > 0, s"compaction wrote no files to $staging")
    val old = Paths.get(dir + "_precompact")
    deleteRecursively(old)
    Files.move(root, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, root, StandardCopyOption.ATOMIC_MOVE)
    // validate the new root before dropping the backup
    val n = countParquet(root)
    require(n > 0, s"compacted table $dir lists no parquet files; " +
      s"backup retained at $old")
    deleteRecursively(old)
    n
  }

  /** MERGE-style upsert on a plain parquet table (the Delta-less
    * spelling of `MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    * INSERT`): rows of `updates` replace target rows with the same
    * key, other target rows survive, new keys append. The rewrite is
    * `updates ∪ (target ⟕anti updates)` — one shuffle keyed on the
    * upsert key (and the anti-join broadcasts when `updates` is small,
    * the common incremental-batch case) — then the same validated
    * crash-recoverable swap as [[compact]]. Rewriting the full table
    * is the honest cost of keyed mutation on immutable files; at scale
    * you bound it by partitioning the table so only touched partitions
    * rewrite. Returns the new row count. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    recover(dir)
    val target = spark.read.parquet(dir)
    require(keys.forall(target.columns.contains),
      s"key columns $keys must exist in the target table")
    val merged = updates.unionByName(
      target.join(updates.select(keys.map(col): _*), keys, "left_anti"))
    // carry a hive partition layout through the rewrite (else pruning
    // on the partition columns is silently lost)
    swapIn(spark, dir, merged, partitionColumns(Paths.get(dir)))
    spark.read.parquet(dir).count()
  }

  /** Range-cluster a table on `cols` so parquet row-group min/max
    * statistics become selective: a repartitionByRange + in-partition
    * sort gives each output file a disjoint value range, and scans
    * with a predicate on the clustering columns skip whole row groups
    * (the single-dimension core of what Delta/Iceberg call Z-ordering
    * — for one clustering key, range-clustering IS the optimal
    * layout). Same validated crash-recoverable swap as [[compact]]. */
  def cluster(spark: SparkSession, dir: String, cols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(cols.nonEmpty, "clustering needs at least one column")
    recover(dir)
    val root = Paths.get(dir)
    require(partitionColumns(root).isEmpty,
      "cluster() does not support hive-partitioned tables (the rewrite " +
        "would flatten the partition layout); compact() preserves it")
    val inputBytes = listFiles(root).map(Files.size(_)).sum
    val nParts = math.max(1, math.ceil(inputBytes.toDouble / targetBytes).toInt)
    val clustered = spark.read.parquet(dir)
      .repartitionByRange(nParts, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    swapIn(spark, dir, clustered)
    countParquet(root)
  }

  /** Z-order (bit-interleaved) clustering on 2–4 numeric columns, so
    * parquet row-group min/max stats are selective on EVERY clustering
    * dimension at once — the multi-column generalization of [[cluster]]
    * (which is optimal for one key but leaves the other columns' file
    * envelopes spanning the full range). Each column is mapped to an
    * 8-bit bucket id by its quantiles (rank-based, so skewed
    * distributions still fill all 256 buckets — min/max scaling would
    * collapse under outliers), the ids' bits are interleaved into one
    * z-value, and the table is range-repartitioned + sorted on it.
    * Same validated crash-recoverable swap as [[compact]]. The z-value
    * is computational scaffolding and is dropped before the write.
    *
    * At 100 TB the quantile pass is one aggregation (approxQuantile's
    * single-pass GK sketch), the rewrite one range shuffle — and every
    * later scan filtering on any clustered dimension skips most
    * row groups, which is where the cost pays back. */
  def zorder(spark: SparkSession, dir: String, cols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(cols.size >= 2 && cols.size <= 4,
      "z-order needs 2-4 columns (one column: use cluster())")
    recover(dir)
    val root = Paths.get(dir)
    require(partitionColumns(root).isEmpty,
      "zorder() does not support hive-partitioned tables (the rewrite " +
        "would flatten the partition layout); compact() preserves it")
    val inputBytes = listFiles(root).map(Files.size(_)).sum
    val nParts = math.max(1, math.ceil(inputBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(dir)
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order column $c must be numeric (got $dt)")
    }
    import org.apache.spark.sql.functions.{array, coalesce, filter, lit, size, when}
    // 255 interior quantile boundaries -> 256 rank buckets per column;
    // ONE multi-column approxQuantile call = one GK-sketch scan for all
    // dimensions (per-column calls would re-read the table k times)
    val probes = (1 until 256).map(_ / 256.0).toArray
    val allBounds = df.stat.approxQuantile(cols.toArray, probes, 0.001)
    val bucketed = cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      val bounds = allBounds(i).distinct.sorted
      // an all-null column yields no quantiles: constant bucket 0
      if (bounds.isEmpty) acc.withColumn(s"__zb$i", lit(0L))
      else {
        val boundsArr = array(bounds.map(lit).toSeq: _*)
        // bucket id = #boundaries <= v (null -> bucket 0, sorts first)
        acc.withColumn(s"__zb$i",
          coalesce(size(filter(boundsArr, b => b <= col(c).cast("double"))), lit(0))
            .cast("long"))
      }
    }
    // interleave bit j of column i into z-bit j*k+i (column-major round
    // robin): equal prefix bits = same z-neighborhood in all dims
    val k = cols.size
    val zExpr = (0 until 8).flatMap { j =>
      cols.indices.map { i =>
        when(col(s"__zb$i").bitwiseAND(1L << j) =!= 0L, 1L << (j * k + i)).otherwise(0L)
      }
    }.reduce(_ + _)
    val zed = bucketed
      .withColumn("__z", zExpr)
      .repartitionByRange(nParts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop((cols.indices.map(i => s"__zb$i") :+ "__z"): _*)
    swapIn(spark, dir, zed)
    countParquet(root)
  }

  /** Per-column statistics of [[analyze]]: `min`/`max`/`ndvEst` are
    * None for complex-typed columns (arrays/structs/maps). `ndvEst` is
    * a KMV estimate (k=256, 32-bit hash space) — exact below 256
    * distinct values, ~±6% above, with the usual 32-bit-collision
    * underestimate only past ~10^8 distincts. */
  final case class ColumnStats(nonNull: Long, nulls: Long,
      min: Option[String], max: Option[String], ndvEst: Option[Long])

  /** ANALYZE TABLE for the parquet-canonical layout: ONE pass over the
    * table computes, for every column, non-null/null counts and (for
    * atomic types) min, max, and a KMV distinct-count estimate — the
    * inputs a planner needs for broadcast decisions, join ordering, and
    * skew detection. All columns aggregate in a single scan (each KMV
    * buffer is 256 longs of bounded, mergeable state riding the same
    * map-side partial aggregation), so the cost at 100 TB is one read —
    * never a pass per column. Results return as a map and persist to
    * `_stats.json` inside the table directory (underscore-prefixed, so
    * scans ignore it like _SUCCESS). */
  def analyze(spark: SparkSession, dir: String): Map[String, ColumnStats] = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, max, min, udaf, when, col => c}
    val df = spark.read.parquet(dir)
    val atomic = {
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      df.schema.fields.filter(_.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      }).map(_.name).toSet
    }
    val kmv = udaf(new graft.functions.KmvAgg(256))
    val aggs = df.columns.flatMap { name =>
      val base = Seq(
        count(c(name)).as(s"${name}__n"),
        count(when(c(name).isNull, 1)).as(s"${name}__nulls"))
      if (!atomic(name)) base
      else base ++ Seq(
        min(c(name)).cast("string").as(s"${name}__min"),
        max(c(name)).cast("string").as(s"${name}__max"),
        // nulls hash to a -1 sentinel (below the uint32 range) so the
        // primitive-Long aggregator never sees a null; stripped below
        kmv(coalesce(graft.functions.TextFunctions.hex32(c(name).cast("string")),
          lit(-1L))).as(s"${name}__kmv"))
    }
    val row = df.agg(aggs.head, aggs.tail.toSeq: _*).head()
    val stats = df.columns.map { name =>
      def g[T](suffix: String): T = row.getAs[T](s"${name}__$suffix")
      val (mn, mx, ndv) =
        if (!atomic(name)) (None, None, None)
        else {
          val raw = g[scala.collection.Seq[Long]]("kmv")
          val mins = raw.filter(_ >= 0) // drop the null sentinel
          val est =
            if (mins.isEmpty) 0L
            else if (raw.length < 256) mins.length.toLong // sketch not full: exact
            else if (mins.last == 0) 0L
            else (mins.length - 1).toLong * 4294967296L / mins.last
          (Option(g[String]("min")), Option(g[String]("max")), Some(est))
        }
      name -> ColumnStats(g[Long]("n"), g[Long]("nulls"), mn, mx, ndv)
    }.toMap
    val json = df.columns.map { name =>
      val s = stats(name)
      // full RFC 8259 string escaping — min/max of a text column can
      // contain newlines/tabs/controls (multi-line document text)
      def js(v: Option[String]) = v.map { x =>
        "\"" + x.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
          case ch => ch.toString
        } + "\""
      }.getOrElse("null")
      s""""$name": {"nonNull": ${s.nonNull}, "nulls": ${s.nulls}, """ +
        s""""min": ${js(s.min)}, "max": ${js(s.max)}, "ndvEst": ${s.ndvEst.getOrElse("null")}}"""
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(dir, "_stats.json"), json)
    stats
  }

  /** Write `df` to `dir_compacting`, validate, then swap it in as
    * `dir` with the [[recover]]-able two-rename protocol. */
  private def swapIn(spark: SparkSession, dir: String, df: DataFrame,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    val root = Paths.get(dir)
    val staging = Paths.get(dir + "_compacting")
    deleteRecursively(staging)
    val w = df.write
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(staging.toString)
    require(countParquet(staging) > 0, s"rewrite wrote no files to $staging")
    val old = Paths.get(dir + "_precompact")
    deleteRecursively(old)
    Files.move(root, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, root, StandardCopyOption.ATOMIC_MOVE)
    require(countParquet(root) > 0,
      s"swapped table $dir lists no parquet files; backup retained at $old")
    deleteRecursively(old)
  }

  /** Restore `dir` from `dir_precompact` after a crash between the two
    * swap renames. Returns true if a restore happened. No-op when `dir`
    * exists (a surviving `_precompact` is then just a stale backup from
    * a run that crashed after the second rename — left for the next
    * compact to clear). */
  def recover(dir: String): Boolean = {
    val root = Paths.get(dir)
    val backup = Paths.get(dir + "_precompact")
    if (!Files.exists(root) && Files.exists(backup)) {
      Files.move(backup, root, StandardCopyOption.ATOMIC_MOVE)
      true
    } else false
  }

  /** Hive-style partition columns, outermost first, read off the
    * directory structure (`a=1/b=2/part-...parquet` → Seq(a, b)). */
  private def partitionColumns(root: Path): Seq[String] = {
    @annotation.tailrec
    def loop(p: Path, acc: Vector[String]): Vector[String] = {
      val sub = listDir(p).filter(d =>
        Files.isDirectory(d) && d.getFileName.toString.contains("="))
      sub.headOption match {
        case Some(d) => loop(d, acc :+ d.getFileName.toString.split("=", 2)(0))
        case None => acc
      }
    }
    if (Files.exists(root)) loop(root, Vector.empty) else Seq.empty
  }

  /** Number of leaf directories holding parquet data — the per-value
    * count a partitioned compact salts against. */
  private def leafPartitionDirs(root: Path): Int =
    listFiles(root).filter(_.toString.endsWith(".parquet"))
      .map(_.getParent).distinct.size

  private def countParquet(p: Path): Int =
    listFiles(p).count(_.toString.endsWith(".parquet"))

  private def listFiles(p: Path): Seq[Path] = walk(p).filter(Files.isRegularFile(_))
}
