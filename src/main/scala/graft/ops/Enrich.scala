package graft.ops

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Enrichment pack: calendar gap-fill (the resample/forward-fill every
  * time-series training pipeline needs) and fuzzy entity linkage (the
  * CF⋈FaT buyer/supplier matching SURVEY §2.3 marks as implied by the
  * reference's purpose). */
object Enrich {

  /** q52 — monthly revenue spine per region with forward fill: months
    * with no orders carry the last known value (last-ignoreNulls over
    * an ordered window after a calendar left join). Spine × regions is
    * tiny and broadcast; the fact side aggregates before joining. */
  val q52GapFill: Q = Q(
    "q52_gap_fill",
    """WITH months AS (
      |  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1998-12-01', INTERVAL 1 MONTH)) AS DATE) AS m
      |), regions AS (SELECT DISTINCT r_regionkey, r_name FROM region),
      |spine AS (SELECT m, r_regionkey, r_name FROM months CROSS JOIN regions),
      |rev AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, r_regionkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2
      |)
      |SELECT s.m AS month_start, s.r_name,
      |  CAST(rev AS DOUBLE) AS rev_raw,
      |  CAST(last_value(rev IGNORE NULLS) OVER (PARTITION BY s.r_regionkey ORDER BY s.m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_filled
      |FROM spine s LEFT JOIN rev ON rev.m = s.m AND rev.r_regionkey = s.r_regionkey
      |ORDER BY s.r_name, s.m""") { (s, d) =>
    val months = s.range(1).select(explode(sequence(
      lit(java.sql.Date.valueOf("1995-01-01")),
      lit(java.sql.Date.valueOf("1998-12-01")),
      expr("interval 1 month"))).as("m"))
    val regions = Tables.region(s, d).select("r_regionkey", "r_name").distinct()
    val spine = months.crossJoin(broadcast(regions))
    val rev = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("rm"),
        col("r_regionkey").as("rk"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast("double").as("rev"))
    val w = Window.partitionBy("r_regionkey").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(rev, col("rm") === col("m") && col("rk") === col("r_regionkey"), "left")
      .select(col("m").as("month_start"), col("r_name"), col("r_regionkey"),
        col("rev").as("rev_raw"))
      .withColumn("rev_filled", last("rev_raw", ignoreNulls = true).over(
        Window.partitionBy("r_regionkey").orderBy("month_start")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("r_regionkey")
      .orderBy("r_name", "month_start")
  }

  /** q53 — fuzzy entity linkage: noisy buyer names (zero-padding
    * stripped for custkey%4=0) matched back to canonical names with
    * levenshtein ≤ 5, blocked on the name suffix so the pair space is
    * per-block instead of O(n²) — the blocking-key + edit-distance
    * candidate/verify shape of record linkage at scale. */
  val q53FuzzyLink: Q = Q(
    "q53_fuzzy_link",
    """WITH canon AS (
      |  SELECT c_custkey AS ck, c_name AS canonical,
      |    substring(c_name, length(c_name) - 2, 3) AS blk
      |  FROM customer
      |), noisy AS (
      |  SELECT c_custkey AS nk, replace(c_name, '#000', '#') AS noisy_name,
      |    substring(c_name, length(c_name) - 2, 3) AS blk
      |  FROM customer WHERE c_custkey % 4 = 0
      |)
      |SELECT nk, noisy_name, ck, canonical,
      |  CAST(levenshtein(noisy_name, canonical) AS BIGINT) AS dist
      |FROM noisy JOIN canon USING (blk)
      |WHERE levenshtein(noisy_name, canonical) <= 5
      |ORDER BY nk, ck""") { (s, d) =>
    val cust = Tables.customer(s, d)
    val blk = substring(col("c_name"), -3, 3)
    val canon = cust.select(col("c_custkey").as("ck"),
      col("c_name").as("canonical"), blk.as("blk"))
    val noisy = cust.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("nk"),
        regexp_replace(col("c_name"), "#000", "#").as("noisy_name"), blk.as("blk"))
    noisy.join(canon, "blk")
      .filter(levenshtein(col("noisy_name"), col("canonical")) <= 5)
      .select(col("nk"), col("noisy_name"), col("ck"), col("canonical"),
        levenshtein(col("noisy_name"), col("canonical")).cast("long").as("dist"))
      .orderBy("nk", "ck")
  }

  /** q55 — datetime function breadth (F1/F6-F9 family beyond the
    * reference's formatting): truncation, offsets, diffs, calendar
    * parts — each with an engine-identical definition. */
  val q55DatetimeKitchen: Q = Q(
    "q55_datetime_kitchen",
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS d,
      |  CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m,
      |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
      |  CAST(quarter(o_orderdate) AS INT) AS q,
      |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
      |  strftime(o_orderdate, '%a') AS dow_name
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"),
        date_trunc("week", col("o_orderdate")).cast("date").as("week_start"),
        last_day(col("o_orderdate")).as("month_end"),
        add_months(col("o_orderdate"), 2).as("plus_2m"),
        datediff(col("o_orderdate").cast("date"),
          lit(java.sql.Date.valueOf("1995-01-01"))).as("days_since_95"),
        quarter(col("o_orderdate")).as("q"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        date_format(col("o_orderdate"), "E").as("dow_name"))
      .orderBy("o_orderkey")
  }

  /** q222 — Fellegi–Sunter probabilistic record linkage: score q53's
    * blocked candidate pairs by the classic likelihood-ratio weights —
    * per field, agreement multiplies the score by m/u (how much more
    * likely a match is to agree than a non-match), disagreement by
    * (1−m)/(1−u) — turning "name is close AND nation matches BUT
    * segment differs" into one calibrated number instead of q53's
    * single edit-distance cut. m/u are estimated from the candidate
    * set itself against the fixture's ground truth (same custkey), the
    * supervised shortcut to the EM fit; ratios are clamped to
    * [1, 10⁶] milli (log-odds capping) so the 3-field product stays in
    * exact BIGINT with an identical multiply-then-floor-divide order
    * on both engines — no logs, no doubles.
    *
    * Scale: candidates come from the q53 suffix block (never n²); the
    * m/u estimates are one 1-row aggregate over the checkpointed pair
    * table, broadcast back; scoring is a narrow map. */
  val q222FellegiSunter: Q = Q(
    "q222_fellegi_sunter",
    """WITH canon AS (
      |  SELECT c_custkey AS ck, c_name AS canonical, c_nationkey AS cn,
      |    c_mktsegment AS cs, substring(c_name, length(c_name) - 2, 3) AS blk
      |  FROM customer
      |), noisy AS (
      |  SELECT c_custkey AS nk, replace(c_name, '#000', '#') AS noisy_name,
      |    c_nationkey AS nn, c_mktsegment AS ns,
      |    substring(c_name, length(c_name) - 2, 3) AS blk
      |  FROM customer WHERE c_custkey % 4 = 0
      |), pairs AS (
      |  SELECT nk, ck,
      |    CASE WHEN levenshtein(noisy_name, canonical) <= 3 THEN 1 ELSE 0 END AS a_name,
      |    CASE WHEN nn = cn THEN 1 ELSE 0 END AS a_nation,
      |    CASE WHEN ns = cs THEN 1 ELSE 0 END AS a_seg,
      |    CASE WHEN nk = ck THEN 1 ELSE 0 END AS is_true
      |  FROM noisy JOIN canon USING (blk)
      |), mu AS (
      |  SELECT
      |    LEAST(GREATEST(SUM(a_name * is_true) * 1000000 // GREATEST(SUM(is_true), 1), 1), 999999) AS m1,
      |    LEAST(GREATEST(SUM(a_nation * is_true) * 1000000 // GREATEST(SUM(is_true), 1), 1), 999999) AS m2,
      |    LEAST(GREATEST(SUM(a_seg * is_true) * 1000000 // GREATEST(SUM(is_true), 1), 1), 999999) AS m3,
      |    LEAST(GREATEST(SUM(a_name * (1 - is_true)) * 1000000 // GREATEST(SUM(1 - is_true), 1), 1), 999999) AS u1,
      |    LEAST(GREATEST(SUM(a_nation * (1 - is_true)) * 1000000 // GREATEST(SUM(1 - is_true), 1), 1), 999999) AS u2,
      |    LEAST(GREATEST(SUM(a_seg * (1 - is_true)) * 1000000 // GREATEST(SUM(1 - is_true), 1), 1), 999999) AS u3
      |  FROM pairs
      |), w AS (
      |  SELECT p.*,
      |    LEAST(CASE WHEN a_name = 1 THEN m1 * 1000 // u1
      |          ELSE (1000000 - m1) * 1000 // (1000000 - u1) END, 1000000) AS w1,
      |    LEAST(CASE WHEN a_nation = 1 THEN m2 * 1000 // u2
      |          ELSE (1000000 - m2) * 1000 // (1000000 - u2) END, 1000000) AS w2,
      |    LEAST(CASE WHEN a_seg = 1 THEN m3 * 1000 // u3
      |          ELSE (1000000 - m3) * 1000 // (1000000 - u3) END, 1000000) AS w3
      |  FROM pairs p CROSS JOIN mu
      |)
      |SELECT nk, ck, CAST(a_name AS BIGINT) AS a_name,
      |  CAST(a_nation AS BIGINT) AS a_nation, CAST(a_seg AS BIGINT) AS a_seg,
      |  CAST(w1 * w2 // 1000 * w3 // 1000 AS BIGINT) AS score_milli,
      |  CAST(is_true AS BIGINT) AS is_true,
      |  CAST(CASE WHEN w1 * w2 // 1000 * w3 // 1000 >= 100000 THEN 1 ELSE 0 END AS BIGINT) AS linked
      |FROM w
      |ORDER BY nk, ck""") { (s, d) =>
    val cust = Tables.customer(s, d)
    val blk = substring(col("c_name"), -3, 3)
    val canon = cust.select(col("c_custkey").as("ck"), col("c_name").as("canonical"),
      col("c_nationkey").as("cn"), col("c_mktsegment").as("cs"), blk.as("blk"))
    val noisy = cust.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("nk"),
        regexp_replace(col("c_name"), "#000", "#").as("noisy_name"),
        col("c_nationkey").as("nn"), col("c_mktsegment").as("ns"), blk.as("blk"))
    val pairs = noisy.join(canon, "blk")
      .select(col("nk"), col("ck"),
        when(levenshtein(col("noisy_name"), col("canonical")) <= 3, 1L).otherwise(0L).as("a_name"),
        when(col("nn") === col("cn"), 1L).otherwise(0L).as("a_nation"),
        when(col("ns") === col("cs"), 1L).otherwise(0L).as("a_seg"),
        when(col("nk") === col("ck"), 1L).otherwise(0L).as("is_true"))
      .transform(Materialize.snapshot) // read twice: m/u estimation + scoring
    val mu = pairs.agg(
      least(greatest(expr("sum(a_name * is_true) * 1000000 div greatest(sum(is_true), 1)"), lit(1L)), lit(999999L)).as("m1"),
      least(greatest(expr("sum(a_nation * is_true) * 1000000 div greatest(sum(is_true), 1)"), lit(1L)), lit(999999L)).as("m2"),
      least(greatest(expr("sum(a_seg * is_true) * 1000000 div greatest(sum(is_true), 1)"), lit(1L)), lit(999999L)).as("m3"),
      least(greatest(expr("sum(a_name * (1 - is_true)) * 1000000 div greatest(sum(1 - is_true), 1)"), lit(1L)), lit(999999L)).as("u1"),
      least(greatest(expr("sum(a_nation * (1 - is_true)) * 1000000 div greatest(sum(1 - is_true), 1)"), lit(1L)), lit(999999L)).as("u2"),
      least(greatest(expr("sum(a_seg * (1 - is_true)) * 1000000 div greatest(sum(1 - is_true), 1)"), lit(1L)), lit(999999L)).as("u3"))
    pairs.crossJoin(broadcast(mu)) // 1-row m/u estimates: scale-safe scalar
      .withColumn("w1", least(when(col("a_name") === 1, expr("m1 * 1000 div u1"))
        .otherwise(expr("(1000000 - m1) * 1000 div (1000000 - u1)")), lit(1000000L)))
      .withColumn("w2", least(when(col("a_nation") === 1, expr("m2 * 1000 div u2"))
        .otherwise(expr("(1000000 - m2) * 1000 div (1000000 - u2)")), lit(1000000L)))
      .withColumn("w3", least(when(col("a_seg") === 1, expr("m3 * 1000 div u3"))
        .otherwise(expr("(1000000 - m3) * 1000 div (1000000 - u3)")), lit(1000000L)))
      .select(col("nk"), col("ck"), col("a_name"), col("a_nation"), col("a_seg"),
        expr("w1 * w2 div 1000 * w3 div 1000").as("score_milli"), col("is_true"),
        when(expr("w1 * w2 div 1000 * w3 div 1000") >= 100000L, 1L).otherwise(0L).as("linked"))
      .orderBy("nk", "ck")
  }

  /** q230 — blocking-quality audit: the measurement that justifies
    * q53/q205/q222's choice of blocking key. For three candidate
    * schemes over the noisy↔canonical linkage (q53's name-suffix-3, a
    * name-prefix-4, and name-length) it reports the two numbers every
    * blocking decision trades off: REDUCTION RATIO (how much of the
    * n·m pair space the blocks prune) and PAIR COMPLETENESS (how many
    * TRUE matches stay co-blocked — truth here is identity: the noisy
    * record derives from its own custkey). prefix-4 collapses to one
    * block (zero reduction, perfect completeness); name-length loses
    * every true pair whose padding strip changed the length — the
    * classic cheap-key failure; suffix-3 is why q53 uses it.
    *
    * Scale: NO pair materialization anywhere — candidate counts are
    * Σ n_noisy·n_canon over per-block COUNT cells (two map-side
    * collapses + one block-keyed cell join per scheme), and pair
    * completeness needs no join at all: both keys of a true pair are
    * computable from the same row, so it's a one-scan predicate count.
    * Everything after the scans runs on block-cardinality cells. */
  val q230BlockingQuality: Q = Q(
    "q230_blocking_quality",
    """WITH noisy AS (
      |  SELECT c_custkey AS nk, replace(c_name, '#000', '#') AS nname,
      |    c_name AS cname
      |  FROM customer WHERE c_custkey % 4 = 0
      |), canon AS (
      |  SELECT c_custkey AS ck, c_name AS cname FROM customer
      |), schemes AS (
      |  SELECT 'suffix3' AS scheme, substring(nname, length(nname) - 2, 3) AS nblk,
      |    substring(cname, length(cname) - 2, 3) AS cblk_true FROM noisy
      |  UNION ALL
      |  SELECT 'prefix4', substring(nname, 1, 4), substring(cname, 1, 4) FROM noisy
      |  UNION ALL
      |  SELECT 'length', CAST(length(nname) AS VARCHAR),
      |    CAST(length(cname) AS VARCHAR) FROM noisy
      |), cschemes AS (
      |  SELECT 'suffix3' AS scheme, substring(cname, length(cname) - 2, 3) AS blk FROM canon
      |  UNION ALL
      |  SELECT 'prefix4', substring(cname, 1, 4) FROM canon
      |  UNION ALL
      |  SELECT 'length', CAST(length(cname) AS VARCHAR) FROM canon
      |), nb AS (
      |  SELECT scheme, nblk AS blk, COUNT(*) AS n_n FROM schemes GROUP BY 1, 2
      |), cb AS (
      |  SELECT scheme, blk, COUNT(*) AS n_c FROM cschemes GROUP BY 1, 2
      |), cand AS (
      |  SELECT nb.scheme, SUM(nb.n_n * cb.n_c) AS cand_pairs,
      |    COUNT(*) AS n_blocks
      |  FROM nb JOIN cb ON cb.scheme = nb.scheme AND cb.blk = nb.blk
      |  GROUP BY 1
      |), truth AS (
      |  SELECT scheme, COUNT(*) AS n_true,
      |    SUM(CASE WHEN nblk = cblk_true THEN 1 ELSE 0 END) AS n_coblocked
      |  FROM schemes GROUP BY 1
      |), tot AS (
      |  SELECT (SELECT COUNT(*) FROM noisy) * (SELECT COUNT(*) FROM canon) AS all_pairs
      |)
      |SELECT t.scheme, CAST(COALESCE(c.n_blocks, 0) AS BIGINT) AS n_blocks,
      |  CAST(COALESCE(c.cand_pairs, 0) AS BIGINT) AS cand_pairs,
      |  CAST((tot.all_pairs - COALESCE(c.cand_pairs, 0)) * 1000000 // tot.all_pairs AS BIGINT)
      |    AS reduction_ratio_ppm,
      |  CAST(t.n_coblocked * 1000000 // t.n_true AS BIGINT) AS pair_completeness_ppm
      |-- LEFT join: a scheme whose blocks never overlap (the 'length'
      |-- failure this audit exists to expose) must appear with 0, not vanish
      |FROM truth t LEFT JOIN cand c ON c.scheme = t.scheme CROSS JOIN tot
      |ORDER BY t.scheme""") { (s, d) =>
    val cust = Tables.customer(s, d)
    val noisy = cust.filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("nk"),
        regexp_replace(col("c_name"), "#000", "#").as("nname"),
        col("c_name").as("cname"))
    val canon = cust.select(col("c_custkey").as("ck"), col("c_name").as("cname"))
    def keyed(src: DataFrame, nameCol: String, out: String): DataFrame =
      src.select(explode(array(
        struct(lit("suffix3").as("scheme"),
          substring(col(nameCol), -3, 3).as(out)),
        struct(lit("prefix4").as("scheme"),
          substring(col(nameCol), 1, 4).as(out)),
        struct(lit("length").as("scheme"),
          length(col(nameCol)).cast("string").as(out)))).as("k"))
        .select(col("k.scheme").as("scheme"), col(s"k.$out").as(out))
    // candidate mass: per-block count cells, never pairs
    val nb = keyed(noisy, "nname", "blk")
      .groupBy("scheme", "blk").agg(count(lit(1)).as("n_n"))
    val cb = keyed(canon, "cname", "blk")
      .groupBy("scheme", "blk").agg(count(lit(1)).as("n_c"))
    val cand = nb.join(cb, Seq("scheme", "blk"))
      .groupBy("scheme")
      .agg(sum(col("n_n") * col("n_c")).as("cand_pairs"),
        count(lit(1)).as("n_blocks"))
    // truth co-blocking: both keys computable from one row — no join
    val truth = noisy.select(explode(array(
        struct(lit("suffix3").as("scheme"),
          (substring(col("nname"), -3, 3) === substring(col("cname"), -3, 3)).as("cob")),
        struct(lit("prefix4").as("scheme"),
          (substring(col("nname"), 1, 4) === substring(col("cname"), 1, 4)).as("cob")),
        struct(lit("length").as("scheme"),
          (length(col("nname")) === length(col("cname"))).as("cob")))).as("k"))
      .select(col("k.scheme").as("scheme"), col("k.cob").as("cob"))
      .groupBy("scheme")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("cob"), 1L).otherwise(0L)).as("n_coblocked"))
    val tot = noisy.agg(count(lit(1)).as("n_noisy"))
      .crossJoin(broadcast(canon.agg(count(lit(1)).as("n_canon"))))
      .select((col("n_noisy") * col("n_canon")).as("all_pairs"))
    // LEFT join: a scheme whose blocks never overlap (the 'length'
    // failure this audit exists to expose) must appear with 0, not vanish
    truth.join(cand, Seq("scheme"), "left")
      .crossJoin(broadcast(tot)) // 1-row pair-space scalar
      .select(col("scheme"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("cand_pairs"), lit(0L)).as("cand_pairs"),
        expr("(all_pairs - coalesce(cand_pairs, 0)) * 1000000 div all_pairs")
          .as("reduction_ratio_ppm"),
        expr("n_coblocked * 1000000 div n_true").as("pair_completeness_ppm"))
      .orderBy("scheme")
  }

  val all: Seq[Q] = Seq(q52GapFill, q53FuzzyLink, q55DatetimeKitchen,
    q222FellegiSunter, q230BlockingQuality)
}
