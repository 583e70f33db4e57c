package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-drift canary (round-6 VERDICT item 2).
  *
  * The driver regenerates `/root/testdata` between rounds and has already
  * re-encoded `events.ts` once (TIMESTAMP(NANOS) → timestamp[us]), which
  * broke 16 queries and 19 specs at analysis time. This suite makes the
  * NEXT physical re-encoding fail one obvious test instead: it loads every
  * `Tables.names` table through its `Tables.<t>` loader at sf0.001 and
  * pins the resulting LOGICAL schema (names + types) that all 130
  * registered queries compile against.
  *
  * It also exercises both physical branches of the schema-adaptive
  * `Tables.events` against in-test fixtures — a legacy nanos-as-INT64
  * file and a current NTZ micros file — and asserts the pinned timezone
  * contract: naive values are UTC instants, so both encodings of the
  * same instant load to the identical TIMESTAMP value.
  */
class TablesCanarySpec extends SparkSpec {

  /** What every registered query sees. `orders`/`lineitem` date columns
    * arrive as TIMESTAMP_NTZ (naive micros in the file — DuckDB reads
    * them the same way, so oracles agree); `events.ts` is normalized by
    * the loader to TIMESTAMP (an instant) whatever the file held.
    */
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))

  private def loader(name: String) = name match {
    case "region" => Tables.region _
    case "nation" => Tables.nation _
    case "customer" => Tables.customer _
    case "supplier" => Tables.supplier _
    case "part" => Tables.part _
    case "orders" => Tables.orders _
    case "lineitem" => Tables.lineitem _
    case "events" => Tables.events _
    case "documents" => Tables.documents _
    case "embeddings" => Tables.embeddings _
  }

  Tables.names.foreach { t =>
    test(s"canary: $t loads and keeps its pinned logical schema") {
      val df = loader(t)(spark, sf)
      val got = df.schema.fields.toSeq.map(f => f.name -> f.dataType)
      assert(got == expected(t),
        s"\nfixture drift in $t —\n  got:      $got\n  expected: ${expected(t)}\n" +
          "If the driver re-encoded the fixture, adapt the Tables loader " +
          "(NOT the 130 queries) and re-pin here.")
      // analysis alone can pass on a schema the scan later rejects
      // (e.g. TIMESTAMP(NANOS) under the vectorized reader) — touch rows.
      assert(df.limit(1).count() == 1, s"$t: fixture unreadable or empty")
    }
  }

  test("canary: session timezone is UTC (events NTZ->instant contract)") {
    // Tables.events' NTZ branch reinterprets naive micros as UTC instants
    // via a session-zone cast; that is only value-preserving under UTC.
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("events loader adapts to both physical encodings, same instants") {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-canary")
    // one known instant: 2024-03-01T12:34:56.789012Z
    val micros = 1709296496789012L

    // legacy shape: ts as INT64 epoch-nanos (how a TIMESTAMP(NANOS) file
    // arrives under nanosAsLong — same LongType trigger, same values)
    val legacy = spark.range(1).select(
      lit(1L).as("event_id"), lit(micros * 1000L).as("ts"),
      lit(7L).as("user_id"), lit("click").as("event_type"),
      lit(1.5).as("value"), lit("{}").as("props"))
    legacy.write.mode("overwrite").parquet(s"$dir/legacy/events.parquet")

    // current shape: ts as TIMESTAMP_NTZ micros (timestamp[us] file)
    val ntz = spark.range(1).select(
      lit(1L).as("event_id"),
      timestamp_micros(lit(micros)).cast(TimestampNTZType).as("ts"),
      lit(7L).as("user_id"), lit("click").as("event_type"),
      lit(1.5).as("value"), lit("{}").as("props"))
    ntz.write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")

    def one(d: String): Row = {
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType == TimestampType, s"$d: ${df.schema}")
      df.select(unix_micros(col("ts")).as("us"), col("event_id")).head()
    }
    val Seq(l, n) = Seq(s"$dir/legacy", s"$dir/ntz").map(one)
    assert(l.getLong(0) == micros, s"legacy nanos branch: ${l.getLong(0)}")
    assert(n.getLong(0) == micros, s"NTZ branch: ${n.getLong(0)}")
  }

  test("events loaders read the session's nanosAsLong setting and leave it alone") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(key) == "true", "graft.Session reads TIMESTAMP(NANOS) as epoch-nanos")
    withConf(key -> "false") {
      // the fixture's timestamp[us] events load under either setting
      assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
      assert(streaming.Streaming.eventsStream(spark, sf).isStreaming)
      assert(spark.conf.get(key) == "false")
    }
  }
}
