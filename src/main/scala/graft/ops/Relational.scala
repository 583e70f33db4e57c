package graft.ops

import graft.{Materialize, Q, Tables}
import graft.functions.RefFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational operator pack: scans, projections/filters, joins (broadcast +
  * shuffle + semi/anti), aggregations, windows, set ops, sequences, scalar
  * functions — the Spark-native re-expression of SURVEY.md §2.2–§2.7 over
  * the synthetic testdata tables.
  *
  * Numeric policy: doubles are cast to DECIMAL early and all arithmetic is
  * exact decimal so Spark and the DuckDB oracle agree bit-for-bit; the FINAL
  * output column is then cast to DOUBLE on both engines (the exact decimal
  * rounds to the identical float64 either way, and a float64 column hashes
  * identically through pyarrow and DuckDB — DECIMAL outputs render as
  * Decimal-vs-float strings and fail the driver's hash compare). Output
  * integer columns are BIGINT on both sides.
  *
  * Limit of the DOUBLE boundary: the cast is bit-identical only while the
  * decimal's UNSCALED value stays within 2^53 (~9e13 at scale 2, i.e.
  * sums below ~90 billion currency units). Beyond that DuckDB's int64
  * storage→double→÷10^scale path can double-round where Spark's
  * BigDecimal.doubleValue rounds once, differing in the last ulp. Queries
  * whose sums could cross that at large SF must round to a fixed scale
  * BEFORE the DOUBLE cast on both engines (ROUND(x, 2) keeps both inside
  * one rounding step).
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** TPC-H Q1-shaped pricing summary: scan → pushed filter → hash agg
    * (map-side partial, one shuffle on the two group keys). SURVEY §2.4. */
  val q01PricingAgg: Q = Q(
    "q01_pricing_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Projection + conjunctive predicates (P2/P3/P5): all three predicates
    * push down to the parquet scan. */
  val q02FilterProject: Q = Q(
    "q02_filter_project",
    """SELECT p_partkey, p_name, p_type, p_size
      |FROM part
      |WHERE p_type IN ('PROMO','ECONOMY') AND p_size BETWEEN 5 AND 20
      |  AND p_name LIKE '%widget%'
      |ORDER BY p_partkey""") { (s, d) =>
    Tables.part(s, d)
      .filter(col("p_type").isin("PROMO", "ECONOMY")
        && col("p_size").between(5, 20)
        && col("p_name").contains("widget"))
      .select("p_partkey", "p_name", "p_type", "p_size")
      .orderBy("p_partkey")
  }

  /** Star join: fact ⋈ three dims. Dims are explicitly broadcast — at 100 TB
    * the fact side never shuffles for dimension lookups. */
  val q03RegionRevenue: Q = Q(
    "q03_region_revenue",
    """SELECT r_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""") { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("r_name")
  }

  /** Fact-fact shuffle join + agg + deterministic top-k (ties broken by key). */
  val q04TopOrders: Q = Q(
    "q04_top_orders",
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""") { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("odate"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** A1 — dedup-with-audit (ref 2a:226-243): first row per key wins, the
    * rest are kept as audit rows with a status, never dropped. One shuffle
    * on the dedup key; at scale this is the same plan as the per-file URI
    * dedup in the reference, partitioned by key. */
  val q05DedupAudit: Q = Q(
    "q05_dedup_audit",
    """SELECT o_orderkey, o_custkey, CAST(rn AS BIGINT) AS rn,
      |  CASE WHEN rn = 1 THEN 'ok' ELSE 'duplicate_uri_skipped_fetch' END AS status
      |FROM (SELECT o_orderkey, o_custkey,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      |      FROM orders) t
      |ORDER BY o_orderkey""") { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .select(col("o_orderkey"), col("o_custkey"), col("rn"),
        when(col("rn") === 1, "ok").otherwise("duplicate_uri_skipped_fetch").as("status"))
      .orderBy("o_orderkey")
  }

  /** U1/U2 — unionByName with a lineage column (ref 3:41-57; the corrected,
    * name-aligned semantics of the reference's positional append). */
  val q06UnionLineage: Q = Q(
    "q06_union_lineage",
    """SELECT k, src FROM (
      |  SELECT o_orderkey AS k, 'orders' AS src FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT l_orderkey AS k, 'lineitem' AS src FROM lineitem WHERE l_returnflag = 'R'
      |) u ORDER BY src, k""") { (s, d) =>
    val a = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("k"), lit("orders").as("src"))
    val b = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k"), lit("lineitem").as("src"))
    a.unionByName(b).orderBy("src", "k")
  }

  /** W — ranked top-k per group window. */
  val q07TopkPerGroup: Q = Q(
    "q07_topk_per_group",
    """SELECT o_custkey, o_orderkey, CAST(rk AS BIGINT) AS rk
      |FROM (SELECT o_custkey, o_orderkey,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""") { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "rk")
      .orderBy("o_custkey", "rk")
  }

  /** F3/F4/F5 — the scrape-stage string functions applied as columns. */
  val q08StringFuncs: Q = Q(
    "q08_string_funcs",
    """WITH t AS (
      |  SELECT p_partkey,
      |    p_name || '<monthly>:"notices"?*' AS raw_name,
      |    'Download ' || p_name || ', monthly CSV' AS link_text,
      |    '/dataset/' || p_brand AS href
      |  FROM part
      |), c AS (
      |  SELECT p_partkey,
      |    trim(regexp_replace(raw_name, '[<>:"/\|?*]', '_', 'g')) AS fname,
      |    trim(string_split(link_text, ',')[1]) AS first_seg,
      |    href
      |  FROM t
      |)
      |SELECT p_partkey,
      |  fname,
      |  CASE WHEN lower(first_seg) LIKE 'download%'
      |       THEN trim(substring(first_seg, 9)) ELSE first_seg END AS clean_name,
      |  CASE WHEN href LIKE '/%' THEN 'https://www.data.gov.uk' || href ELSE href END AS url
      |FROM c
      |ORDER BY p_partkey""") { (s, d) =>
    Tables.part(s, d)
      .withColumn("raw_name", concat(col("p_name"), lit("""<monthly>:"notices"?*""")))
      .withColumn("link_text", concat(lit("Download "), col("p_name"), lit(", monthly CSV")))
      .withColumn("href", concat(lit("/dataset/"), col("p_brand")))
      .select(col("p_partkey"),
        sanitizeFilename(col("raw_name")).as("fname"),
        cleanLinkText(col("link_text")).as("clean_name"),
        absolutizeUrl(col("href")).as("url"))
      .orderBy("p_partkey")
  }

  /** F12 — notice-type-group mapping (null / case / whitespace handling)
    * exercised over a constructed TD-code column. */
  val q09NoticeTypeMap: Q = Q(
    "q09_notice_type_map",
    """WITH t AS (
      |  SELECT CASE event_type WHEN 'view' THEN ' 0 ' WHEN 'click' THEN 'o'
      |           WHEN 'purchase' THEN '7' WHEN 'signup' THEN 'k' ELSE NULL END AS td_code
      |  FROM events
      |)
      |SELECT CASE WHEN td_code IS NULL THEN 'OTHER'
      |  WHEN upper(trim(td_code)) = '0' THEN 'PIN'
      |  WHEN upper(trim(td_code)) IN ('3','O','V') THEN 'CONTRACT_NOTICE'
      |  WHEN upper(trim(td_code)) = '7' THEN 'CONTRACT_AWARD'
      |  WHEN upper(trim(td_code)) = 'K' THEN 'MODIFICATION'
      |  ELSE 'OTHER' END AS notice_type_group,
      |  COUNT(*) AS n
      |FROM t GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val code = when(col("event_type") === "view", " 0 ")
      .when(col("event_type") === "click", "o")
      .when(col("event_type") === "purchase", "7")
      .when(col("event_type") === "signup", "k")
      .otherwise(lit(null: String))
    Tables.events(s, d)
      .select(noticeTypeGroup(code).as("notice_type_group"))
      .groupBy("notice_type_group").agg(count(lit(1)).as("n"))
      .orderBy("notice_type_group")
  }

  /** F13 — CTYPE mapping precedence (works > services > supplies). */
  val q10CtypeMap: Q = Q(
    "q10_ctype_map",
    """WITH t AS (
      |  SELECT p_partkey, CASE p_type WHEN 'ECONOMY' THEN 'Goods and Supplies'
      |    WHEN 'PROMO' THEN 'professional Services' WHEN 'SMALL' THEN 'public WORKS'
      |    WHEN 'MEDIUM' THEN 'social work services' WHEN 'LARGE' THEN 'supply of goods'
      |    ELSE NULL END AS category
      |  FROM part
      |)
      |SELECT p_partkey,
      |  CASE WHEN lower(category) LIKE '%work%' THEN 'WORKS'
      |       WHEN lower(category) LIKE '%service%' THEN 'SERVICES'
      |       WHEN lower(category) LIKE '%supply%' OR lower(category) LIKE '%good%' THEN 'SUPPLIES'
      |       ELSE NULL END AS ctype
      |FROM t ORDER BY p_partkey""") { (s, d) =>
    val cat = when(col("p_type") === "ECONOMY", "Goods and Supplies")
      .when(col("p_type") === "PROMO", "professional Services")
      .when(col("p_type") === "SMALL", "public WORKS")
      .when(col("p_type") === "MEDIUM", "social work services")
      .when(col("p_type") === "LARGE", "supply of goods")
      .otherwise(lit(null: String))
    Tables.part(s, d)
      .select(col("p_partkey"), ctypeFromCategory(cat).as("ctype"))
      .orderBy("p_partkey")
  }

  /** A2/A3/J1/W1 — array building + higher-order functions: pipe-join,
    * sorted-unique join, first-match filter, first element. One shuffle
    * (the groupBy); everything after is per-row HOFs, no UDFs. */
  val q11ArrayHof: Q = Q(
    "q11_array_hof",
    """WITH g AS (
      |  SELECT o_custkey, list(o_orderpriority ORDER BY o_orderpriority) AS ps
      |  FROM orders GROUP BY o_custkey
      |)
      |SELECT o_custkey,
      |  array_to_string(ps, '|') AS a2_pipe,
      |  array_to_string(list_sort(list_distinct(ps)), ';') AS a3_unique,
      |  list_filter(ps, x -> x LIKE '1%')[1] AS j1_first_urgent,
      |  ps[1] AS w1_first
      |FROM g ORDER BY o_custkey""") { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(array_sort(collect_list(col("o_orderpriority"))).as("ps"))
      .select(col("o_custkey"),
        array_join(col("ps"), "|").as("a2_pipe"),
        array_join(array_sort(array_distinct(col("ps"))), ";").as("a3_unique"),
        try_element_at(filter(col("ps"), x => x.startsWith("1")), lit(1)).as("j1_first_urgent"),
        try_element_at(col("ps"), lit(1)).as("w1_first"))
      .orderBy("o_custkey")
  }

  /** F8 — month sequence generator joined against per-month order counts
    * (the reference's month loop, 2a:153-161, as a relational op). */
  val q12MonthSeq: Q = Q(
    "q12_month_seq",
    """WITH months AS (
      |  SELECT CAST(unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '2001-08-01', INTERVAL 1 MONTH)) AS DATE) AS month_start
      |), per_month AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, COUNT(*) AS cnt
      |  FROM orders GROUP BY 1
      |)
      |SELECT month_start, COALESCE(cnt, 0) AS n_orders
      |FROM months LEFT JOIN per_month ON m = month_start
      |ORDER BY month_start""") { (s, d) =>
    val months = s.range(1).select(explode(sequence(
      lit(java.sql.Date.valueOf("1995-01-01")),
      lit(java.sql.Date.valueOf("2001-08-01")),
      expr("interval 1 month"))).as("month_start"))
    val perMonth = Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(count(lit(1)).as("cnt"))
    months.join(perMonth, col("m") === col("month_start"), "left")
      .select(col("month_start"), coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .orderBy("month_start")
  }

  /** ROLLUP + grouping_id — the analytics-layer agg shapes (SURVEY §2.4,
    * free via Catalyst). */
  val q13Rollup: Q = Q(
    "q13_rollup",
    """SELECT r_name, n_name, CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
      |  COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""") { (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n_cust"),
        sum(dec(col("c_acctbal"))).cast("double").as("bal"))
      .select("r_name", "n_name", "gid", "n_cust", "bal")
      .orderBy(col("gid"), col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Time-bucketed agg over the events table (the batch shape of the
    * streaming windowed agg; hour emitted as string to keep the comparison
    * engine-neutral). */
  val q14HourlyEvents: Q = Q(
    "q14_hourly_events",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy("hour", "event_type")
  }

  /** X1-lite — JSON path extraction from a string column (the OCDS flatten
    * primitive; full nested flatten is covered by the extract-cf module). */
  val q15JsonExtract: Q = Q(
    "q15_json_extract",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.events(s, d)
      .groupBy((expr("try_cast(get_json_object(props, '$.k') AS BIGINT)") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy("k_bucket")
  }

  /** F6 — regex date extraction from constructed filenames. */
  val q16RegexpDate: Q = Q(
    "q16_regexp_date",
    """WITH t AS (
      |  SELECT o_orderkey,
      |    'Contracts Finder OCDS ' || strftime(o_orderdate, '%Y-%m-%d') || '.csv' AS fname
      |  FROM orders
      |)
      |SELECT o_orderkey,
      |  regexp_extract(fname, '(\d{4})-(\d{2})-(\d{2})', 1) AS y,
      |  regexp_extract(fname, '(\d{4})-(\d{2})-(\d{2})', 2) AS m,
      |  regexp_extract(fname, '(\d{4})-(\d{2})-(\d{2})', 3) AS dd
      |FROM t ORDER BY o_orderkey""") { (s, d) =>
    // the single-file scan is one partition (one parquet row group) and
    // the triple regex is the expensive stage: spread it across cores
    // and let the sort's sampling re-read shuffle files
    Q.stageBarrier(Tables.orders(s, d))
      .withColumn("fname", concat(lit("Contracts Finder OCDS "),
        date_format(col("o_orderdate"), "yyyy-MM-dd"), lit(".csv")))
      .select(col("o_orderkey"),
        filenameYear(col("fname")).as("y"),
        filenameMonth(col("fname")).as("m"),
        filenameDay(col("fname")).as("dd"))
      .orderBy("o_orderkey")
  }

  /** The SQL text surface: the same engine capabilities driven through
    * `spark.sql` over registered temp views — a monthly revenue report
    * joining orders to lineitem. Catalyst plans SQL text and DataFrame
    * code identically, so everything proven elsewhere (pushdown,
    * partial aggregation, the DOUBLE output boundary) holds here. */
  val q80SqlSurface: Q = Q(
    "q80_sql_surface",
    """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
      |  COUNT(DISTINCT o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""") { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql("""
      SELECT date_format(o_orderdate, 'yyyy-MM') AS ym,
             COUNT(DISTINCT o_orderkey) AS n_orders,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM orders_v JOIN lineitem_v ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""")
  }

  /** F10 — ordinal formatting over a generated integer range (reproduces the
    * reference's 10..20 → "th" quirk). */
  val q17Ordinal: Q = Q(
    "q17_ordinal",
    """SELECT n, CAST(n AS VARCHAR) ||
      |  CASE WHEN n % 100 BETWEEN 10 AND 20 THEN 'th'
      |       WHEN n % 10 = 1 THEN 'st' WHEN n % 10 = 2 THEN 'nd'
      |       WHEN n % 10 = 3 THEN 'rd' ELSE 'th' END AS ord
      |FROM (SELECT unnest(generate_series(1, 131)) AS n) t
      |ORDER BY n""") { (s, d) =>
    s.range(1, 132).select(col("id").as("n"))
      .select(col("n"), ordinal(col("n")).as("ord"))
      .orderBy("n")
  }

  /** INTERSECT / EXCEPT set operations. */
  val q18SetOps: Q = Q(
    "q18_set_ops",
    """WITH f AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
      |     o AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
      |SELECT 'both' AS tag, k FROM (SELECT k FROM f INTERSECT SELECT k FROM o) t1
      |UNION ALL
      |SELECT 'f_only' AS tag, k FROM (SELECT k FROM f EXCEPT SELECT k FROM o) t2
      |ORDER BY tag, k""") { (s, d) =>
    val orders = Tables.orders(s, d)
    val f = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k")).distinct()
    val o = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k")).distinct()
    f.intersect(o).withColumn("tag", lit("both"))
      .unionByName(f.except(o).withColumn("tag", lit("f_only")))
      .select("tag", "k")
      .orderBy("tag", "k")
  }

  /** Semi + anti joins (EXISTS / NOT EXISTS) — broadcast-able at dim scale. */
  val q19SemiAnti: Q = Q(
    "q19_semi_anti",
    """SELECT 'part_with_li' AS tag, p_partkey AS k FROM part
      |  WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |UNION ALL
      |SELECT 'supp_no_li' AS tag, s_suppkey AS k FROM supplier
      |  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
      |ORDER BY tag, k""") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val semi = Tables.part(s, d)
      .join(li, col("p_partkey") === col("l_partkey"), "left_semi")
      .select(lit("part_with_li").as("tag"), col("p_partkey").as("k"))
    val anti = Tables.supplier(s, d)
      .join(li, col("s_suppkey") === col("l_suppkey"), "left_anti")
      .select(lit("supp_no_li").as("tag"), col("s_suppkey").as("k"))
    semi.unionByName(anti).orderBy("tag", "k")
  }

  /** HAVING-style post-aggregation filter with min/max/avg (avg kept exact
    * via decimal division at a fixed scale). */
  val q20HavingAgg: Q = Q(
    "q20_having_agg",
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
      |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
      |FROM orders
      |GROUP BY o_custkey
      |HAVING COUNT(*) >= 5
      |ORDER BY o_custkey""") { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        min(dec(col("o_totalprice"))).cast("double").as("min_price"),
        max(dec(col("o_totalprice"))).cast("double").as("max_price"))
      .filter(col("n_orders") >= 5)
      .orderBy("o_custkey")
  }

  /** q203 — referential-integrity (FK orphan) audit: for every foreign-
    * key edge of the schema plus the events→customer behavioral edge,
    * count rows, null FKs, orphan rows (FK present but no parent) and
    * distinct orphan keys — the warehouse health certificate that q159's
    * single-table contract gate can't see. The eighth edge is a PLANTED
    * positive control (orderkey%97 rows get their custkey shifted out of
    * range), proving the detector actually fires — an all-zeros audit
    * from a detector that can't detect is worthless (q159's planted-
    * violation precedent).
    *
    * Scale: each edge is one left join keyed on the FK + one collapsing
    * aggregate; parents that are dimension-small broadcast under AQE,
    * fact-fact edges (lineitem→orders) shuffle on the key — the join IS
    * the audit, there is no cheaper exact spelling. Eight 1-row frames
    * union into the report. */
  val q203FkOrphanAudit: Q = {
    def edgeSql(label: String, childFrom: String, fk: String,
        parent: String, pk: String): String =
      s"""SELECT '$label' AS edge, COUNT(*) AS n_rows,
         |  COUNT(CASE WHEN c.fk IS NULL THEN 1 END) AS n_null_fk,
         |  COUNT(CASE WHEN c.fk IS NOT NULL AND p.$pk IS NULL THEN 1 END)
         |    AS n_orphan_rows,
         |  COUNT(DISTINCT CASE WHEN c.fk IS NOT NULL AND p.$pk IS NULL
         |    THEN c.fk END) AS n_orphan_keys
         |FROM (SELECT CAST($fk AS BIGINT) AS fk FROM $childFrom) c
         |LEFT JOIN $parent p ON c.fk = CAST(p.$pk AS BIGINT)""".stripMargin
    val edges = Seq(
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("events->customer", "events", "user_id", "customer", "c_custkey"),
      ("control:planted", "orders",
        "CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000 ELSE o_custkey END",
        "customer", "c_custkey"))
    Q("q203_fk_orphan_audit",
      edges.map { case (l, c, fk, p, pk) => edgeSql(l, c, fk, p, pk) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")) { (s, d) =>
      def table(name: String): DataFrame = name match {
        case "lineitem" => Tables.lineitem(s, d)
        case "orders"   => Tables.orders(s, d)
        case "customer" => Tables.customer(s, d)
        case "supplier" => Tables.supplier(s, d)
        case "part"     => Tables.part(s, d)
        case "nation"   => Tables.nation(s, d)
        case "region"   => Tables.region(s, d)
        case "events"   => Tables.events(s, d)
      }
      def audit(label: String, child: DataFrame, fk: Column,
          parent: DataFrame, pk: String): DataFrame =
        child.select(fk.cast("long").as("fk"))
          .join(parent.select(col(pk).cast("long").as("pk")), col("fk") === col("pk"), "left")
          .agg(count(lit(1)).as("n_rows"),
            count(when(col("fk").isNull, 1)).as("n_null_fk"),
            count(when(col("fk").isNotNull && col("pk").isNull, 1)).as("n_orphan_rows"),
            countDistinct(when(col("fk").isNotNull && col("pk").isNull, col("fk")))
              .as("n_orphan_keys"))
          .select(lit(label).as("edge"), col("n_rows"), col("n_null_fk"),
            col("n_orphan_rows"), col("n_orphan_keys"))
      edges.map { case (label, c, fk, p, pk) =>
        val fkCol = if (label == "control:planted")
          when(col("o_orderkey") % 97 === 0, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey"))
        else col(fk)
        audit(label, table(c), fkCol, table(p), pk)
      }.reduce(_ unionByName _).orderBy("edge")
    }
  }

  /** q206 — percent-of-parent contribution rollup: revenue at every
    * level of the region → nation drill path, each row carrying its
    * share of its PARENT level in integer ppm (nation share of its
    * region, region share of the grand total, total = 1e6) — the BI
    * "contribution analysis" view that q13's plain rollup doesn't
    * compute, because each level needs its parent's aggregate joined
    * back. One ROLLUP pass produces all three levels in a single
    * shuffle; the parent joins run on the ≤(1+|regions|+|nations|)
    * CELL table (broadcast), never on rows.
    *
    * Ratio is the documented FLOOR(a·1e6/b) double; revenue exact
    * BIGINT cents. */
  val q206ShareOfParent: Q = Q(
    "q206_share_of_parent",
    """WITH base AS (
      |  SELECT r_name, n_name,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |), cells AS (
      |  SELECT r_name, n_name, CAST(SUM(cents) AS BIGINT) AS rev,
      |    GROUPING(r_name) AS gr, GROUPING(n_name) AS gn
      |  FROM base GROUP BY ROLLUP (r_name, n_name)
      |), tot AS (SELECT rev FROM cells WHERE gr = 1),
      |reg AS (SELECT r_name, rev FROM cells WHERE gr = 0 AND gn = 1)
      |SELECT
      |  CASE WHEN gr = 1 THEN 'total' WHEN gn = 1 THEN 'region' ELSE 'nation' END
      |    AS level,
      |  COALESCE(c.r_name, '') AS region, COALESCE(c.n_name, '') AS nation,
      |  c.rev AS rev_cents,
      |  CAST(FLOOR(CAST(c.rev AS DOUBLE) * 1000000 /
      |    CASE WHEN gr = 1 THEN c.rev WHEN gn = 1 THEN tot.rev ELSE reg.rev END)
      |    AS BIGINT) AS share_of_parent_ppm
      |FROM cells c
      |CROSS JOIN tot
      |LEFT JOIN reg ON reg.r_name = c.r_name AND c.gn = 0
      |ORDER BY level, region, nation""") { (s, d) =>
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
    // Column-form rollup, not the String overload: the String form's
    // UnresolvedAttributes make DetectAmbiguousSelfJoin reject the
    // grouping() flags over join-sourced columns (q155 precedent)
    val cells = base.rollup(col("r_name"), col("n_name"))
      .agg(sum("cents").as("rev"), grouping(col("r_name")).as("gr"),
        grouping(col("n_name")).as("gn"))
      .transform(Materialize.snapshot) // ≤ 1+|regions|+|nations| rows: all joins below are on cells
    // checkpoint the tiny parent frames too: they derive from `cells`,
    // and severed lineage is what keeps the parent join from tripping
    // the ambiguous-self-join check (1 + |regions| rows)
    val tot = cells.filter(col("gr") === 1).select(col("rev").as("trev"))
      .transform(Materialize.snapshot)
    val reg = cells.filter(col("gr") === 0 && col("gn") === 1)
      .select(col("r_name").as("p_rname"), col("rev").as("prev"))
      .transform(Materialize.snapshot)
    cells
      .crossJoin(broadcast(tot)) // 1-row grand total
      .join(broadcast(reg), col("p_rname") === col("r_name") && col("gn") === 0, "left")
      .select(
        when(col("gr") === 1, "total").when(col("gn") === 1, "region")
          .otherwise("nation").as("level"),
        coalesce(col("r_name"), lit("")).as("region"),
        coalesce(col("n_name"), lit("")).as("nation"),
        col("rev").as("rev_cents"),
        floor(col("rev").cast("double") * 1000000d /
          when(col("gr") === 1, col("rev"))
            .when(col("gn") === 1, col("trev")).otherwise(col("prev")))
          .cast("long").as("share_of_parent_ppm"))
      .orderBy("level", "region", "nation")
  }

  val all: Seq[Q] = Seq(q203FkOrphanAudit, q206ShareOfParent,
    q01PricingAgg, q02FilterProject, q03RegionRevenue, q04TopOrders,
    q05DedupAudit, q06UnionLineage, q07TopkPerGroup, q08StringFuncs,
    q09NoticeTypeMap, q10CtypeMap, q11ArrayHof, q12MonthSeq, q13Rollup,
    q14HourlyEvents, q15JsonExtract, q16RegexpDate, q17Ordinal,
    q18SetOps, q19SemiAnti, q20HavingAgg, q80SqlSurface)
}
