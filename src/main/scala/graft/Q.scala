package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark plan builder plus (optionally) the
  * equivalent ANSI SQL that DuckDB runs on the same parquet tables.
  * The driver hash-compares the two with columns sorted by name, so both
  * sides must produce identical column names, types, and values.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle.stripMargin.trim))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** The session's `spark.sql.shuffle.partitions`, Spark's default when
    * unset. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get(org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS.key).toInt

  /** Parallelism barrier for heavy narrow stages over low-split inputs.
    *
    * Two historical jobs, one remaining: (1) a global `orderBy` samples
    * its child for range bounds, so a shuffle-free expensive child runs
    * TWICE — since round 4 the big construct/parse subtrees (q35/q42)
    * guard that with `localCheckpoint` instead; (2) this harness's
    * driver fixtures are ONE parquet file with ONE row group per table,
    * so scans plan single-partition and a heavy narrow stage (parse,
    * tokenize, score, decode) would run on 1 of 32 cores without a
    * round-robin exchange first.
    *
    * Round 8 made the barrier ADAPTIVE (the round-7 VERDICT's top item,
    * measured on multi-file split fixtures — see COVERAGE.md): when the
    * input already plans with at least `spark.sql.shuffle.partitions`
    * splits — every production layout, and any multi-file fixture from
    * `graft.Split` — the barrier is a no-op and the redundant exchange
    * disappears; the repartition fires only on low-split inputs, where
    * it's the difference between 1 busy core and 32.
    */
  def stageBarrier(df: DataFrame): DataFrame = {
    val n = shufflePartitions(df.sparkSession)
    // Leaf FILE count, not plan partition count: Spark byte-range-
    // splits even a one-row-group file into ~n plan partitions, but
    // every split except the one holding the row group reads zero
    // rows — so partition count over-reports real parallelism on
    // exactly the low-split layouts the barrier exists for. File
    // count under-reports only for few-files-many-row-groups
    // layouts, where the cost is one redundant small shuffle (the
    // pre-round-8 behavior everywhere). Listing is cached in the
    // session's FileIndex; no job runs.
    if (df.inputFiles.length >= n) df else df.repartition(n)
  }
}
