package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  * One parquet file per table under `\$sfDir/<name>.parquet`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped under two physical encodings across fixture
    * generations — parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects; graft.Session reads it as INT64 via `nanosAsLong`) and
    * plain `timestamp[us]` (which Spark reads as TIMESTAMP_NTZ). Sniff
    * what the file actually contains and adapt, so a fixture re-encoding
    * changes nothing downstream: the public schema is always
    * `ts: TIMESTAMP` (an instant).
    *
    * Timezone contract (pinned here and asserted by TablesCanarySpec):
    * naive `ts` values in the file ARE UTC instants. Every graft entry
    * point sets `spark.sql.session.timeZone=UTC`, so the NTZ→TIMESTAMP
    * cast below is a value-preserving reinterpretation, and hour/day
    * bucketing (q14, q103, q106, q111) agrees with DuckDB's `epoch_us`
    * oracle, which also reads the naive micros as UTC.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(s, load(s, d, "events"))

  /** Normalize a raw events frame (batch scan or file-source stream) to
    * the public `ts: TIMESTAMP` schema. ONE implementation for both the
    * batch `Tables.events` and `Streaming.eventsStream` paths, so the
    * UTC contract and the physical-type dispatch can't drift apart.
    * Every recognized encoding is matched EXPLICITLY and anything else
    * fails loud — a future fixture regen shipping e.g. DOUBLE seconds
    * or STRING must error here, not silently cast to garbage instants
    * in every runtime path (round-7 ADVICE).
    */
  private[graft] def normalizeEventsTs(s: SparkSession, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // Legacy nanos-as-INT64 fixture. `ts div 1000` — integer
        // division; `/` would go through DOUBLE and lose sub-µs
        // precision at 2024 epoch-nano magnitudes (> 2^53).
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw // already an instant
      case TimestampNTZType =>
        // Current timestamp[us] fixture: reinterpret the naive
        // wall-clock as a UTC instant. The cast goes through the
        // session zone, which graft pins to UTC (see contract above).
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          s"events NTZ→instant cast requires session timeZone=UTC, " +
            s"got ${s.conf.get("spark.sql.session.timeZone")}")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        sys.error(s"events.ts: unexpected physical type $other — " +
          "known encodings are INT64 nanos (via nanosAsLong), TIMESTAMP, " +
          "and TIMESTAMP_NTZ; refusing to guess an instant semantics")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
