package graft.ops

import graft.{Materialize, Q, Rank, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analytics-layer shapes beyond the reference (SURVEY §2.4's "free via
  * Catalyst" row): pivot and grouping sets, plus the sketch family —
  * every sketch query is oracle-checked (q82/q90 by exact state, q50's
  * engine-specific HLL by its derived error-bound column). */
object Analytics {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Exact multi-target weighted selection by HISTOGRAM narrowing
    * (round-12 generalization of q197's single-rank `kth`, guide §1.2:
    * fix the algorithm before the per-task work): for each target t,
    * the smallest value v with Σ(w | c ≤ v) ≥ t. Each pass buckets
    * every still-open target's range into ≤ B = 4096 cells with ONE
    * posexplode-tagged aggregate over the frame and narrows to the
    * bucket holding the remaining target weight — log₄₀₉₆(range) ≈ 2
    * scans for any domain up to B² ≈ 16.7M wide, where the former
    * bit-wise binary search (q153's old shape) needed log₂(range) ≈ 24
    * SEQUENTIAL scans, each a separate job. B = 4096 (not q197's 2¹⁶)
    * keeps the per-pass exchange at ≤ targets·B map-side cells per
    * task — ScaleSpec gauges it; data-size-INDEPENDENT, unlike a sort.
    * Driver state is O(targets · buckets) cells per pass (the
    * documented q197/q153 bounded-scalar exception), never row data.
    * Exact: integer bucket math, final pass has width 1. Weights must
    * be non-negative (counts / quantities here). */
  private def selectByCumWeight(v: DataFrame, cName: String, w: Column,
      targets: Seq[Long], vmin: Long, vmax: Long): Array[Long] = {
    val nT = targets.length
    val lo = Array.fill(nT)(vmin)
    val hi = Array.fill(nT)(vmax)
    val rem = targets.toArray // target weight remaining within [lo_i, hi_i]
    val B = 4096L
    while (lo.indices.exists(i => lo(i) < hi(i))) {
      val open = lo.indices.filter(i => lo(i) < hi(i))
      val widths = open.map(i => (hi(i) - lo(i)) / B + 1L)
      // one scan: each row contributes (target-index, bucket, weight)
      // for every open target whose range contains it
      val bucketCols = open.zip(widths).map { case (i, wd) =>
        when(col(cName) >= lo(i) && col(cName) <= hi(i),
          expr(s"($cName - ${lo(i)}L) div ${wd}L")).otherwise(lit(null))
      }
      val cells = Materialize.bounded(v
        .select(posexplode(array(bucketCols: _*)).as(Seq("ti", "b")), w.as("w"))
        .filter(col("b").isNotNull)
        .groupBy("ti", "b").agg(sum(col("w")).as("n")), (open.size * B).toInt)
        .groupBy(_.getInt(0))
        .map { case (ti, rows) =>
          ti -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1) }
      open.zipWithIndex.foreach { case (i, oi) =>
        var need = rem(i)
        val buckets = cells.getOrElse(oi, Array.empty[(Long, Long)])
        val hit = buckets.find { case (_, n) =>
          if (need <= n) true else { need -= n; false } }
          .getOrElse(sys.error("selection target out of range — weights drifted"))
        rem(i) = need
        val newLo = lo(i) + hit._1 * widths(oi)
        hi(i) = math.min(hi(i), newLo + widths(oi) - 1L)
        lo(i) = newLo
      }
    }
    lo
  }

  /** q48 — pivot: order counts and revenue per (priority, status),
    * statuses pivoted to columns. Oracle mirrors with CASE aggregation —
    * the relational definition of pivot. */
  val q48Pivot: Q = Q(
    "q48_pivot",
    """SELECT o_orderpriority,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    val o = Tables.orders(s, d)
    val piv = o.groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("rev"))
    piv.select(col("o_orderpriority"),
      col("F_n").as("n_f"), col("O_n").as("n_o"), col("P_n").as("n_p"),
      col("F_rev").as("rev_f"), col("O_rev").as("rev_o"), col("P_rev").as("rev_p"))
      .orderBy("o_orderpriority")
  }

  /** q49 — GROUPING SETS: mixed granularities in one pass (per status,
    * per priority, grand total) with grouping_id disambiguation. */
  val q49GroupingSets: Q = Q(
    "q49_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""") { (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("bigint").as("gid"), count(lit(1)).as("n"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** q50 — distinct sketches: approx_count_distinct next to the exact
    * count. Spark's HLL++ register values are engine-specific, so the
    * raw estimate can never hash-match DuckDB; instead the query emits
    * the oracle-exact columns (exact distinct, row count) plus the
    * DERIVED deterministic fact the sketch must satisfy — the estimate
    * lands within 10% of exact (5 sigma at rsd=0.02; the bound
    * AnalyticsSpec used to assert privately is now a driver-checked
    * column the oracle pins to 1). A broken or garbage HLL fails the
    * gate; the estimate's exact value stays engine-internal, which is
    * the honest contract for a randomized-structure sketch. */
  val q50Sketch: Q = Q(
    "q50_sketch",
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(1 AS BIGINT) AS approx_within_10pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
    // round 12: two-level aggregation instead of countDistinct-next-to-
    // count (which plans an Expand that doubles every input row). The
    // (flag, partkey) pre-aggregate collapses map-side to key cells;
    // exact_nd = cell count, n = Σ cell counts, and the HLL sketch is
    // IDENTICAL on deduplicated input (register updates are idempotent
    // per value), so the derived within-10% column cannot change.
    // exact_nd counts CELLS with count(l_partkey) — null-excluding like
    // COUNT(DISTINCT l_partkey); count(lit(1)) would count a NULL-partkey
    // cell as one distinct value. TPC-H l_partkey is NOT NULL so both
    // spellings agree today; this keeps the semantics aligned with the
    // declared SQL if the fixture ever grows nulls (round-12 ADVICE).
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_partkey")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(count(col("l_partkey")).as("exact_nd"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_nd"),
        sum(col("cnt")).as("n"))
      .select(col("l_returnflag"), col("exact_nd"), col("n"),
        when(abs(col("approx_nd") - col("exact_nd")) * 10 <= col("exact_nd"), 1L)
          .otherwise(0L).as("approx_within_10pct"))
      .orderBy("l_returnflag")
  }

  /** q56 — MapType operators: per-customer status→count built as a real
    * map column (map_from_entries), then read back via map_entries /
    * map_values / try_element_at lookup. The oracle checks the
    * map-free relational rendering of the same facts. */
  val q56MapOps: Q = Q(
    "q56_map_ops",
    """WITH st AS (
      |  SELECT o_custkey, o_orderstatus AS s, COUNT(*) AS c
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT o_custkey,
      |  string_agg(s || '=' || CAST(c AS VARCHAR), '|' ORDER BY s) AS status_counts,
      |  CAST(COUNT(*) AS BIGINT) AS n_statuses,
      |  MAX(CASE WHEN s = 'F' THEN c END) AS f_count,
      |  CAST(SUM(c) AS BIGINT) AS total
      |FROM st GROUP BY o_custkey ORDER BY o_custkey""") { (s, d) =>
    val st = Tables.orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderstatus").as("s"))
      .agg(count(lit(1)).as("c"))
    st.groupBy("o_custkey")
      .agg(map_from_entries(array_sort(collect_list(struct(col("s"), col("c")))))
        .as("m"))
      .select(col("o_custkey"),
        array_join(transform(map_entries(col("m")),
          e => concat(e.getField("key"), lit("="), e.getField("value").cast("string"))),
          "|").as("status_counts"),
        size(col("m")).cast("long").as("n_statuses"),
        try_element_at(col("m"), lit("F")).as("f_count"),
        aggregate(map_values(col("m")), lit(0L), (a, v) => a + v).as("total"))
      .orderBy("o_custkey")
  }

  /** q57 — exact interpolated percentiles per group. Prices are lifted
    * to integer cents first so the interpolation `lower + (upper-lower)
    * * frac` runs on exactly-representable doubles — both engines use
    * that same formula, so the result is bit-identical. (For sketch-based
    * quantiles at scale, approx_percentile is the one-pass companion;
    * exact percentile is a per-group sort, fine when groups are bounded.) */
  val q57Percentiles: Q = Q(
    "q57_percentiles",
    """WITH t AS (
      |  SELECT o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT o_orderpriority, COUNT(*) AS n,
      |  quantile_cont(cents, 0.25) AS p25,
      |  quantile_cont(cents, 0.5) AS p50,
      |  quantile_cont(cents, 0.75) AS p75,
      |  quantile_cont(cents, 0.9) AS p90
      |FROM t GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""") { (s, d) =>
    val cents = round(col("o_totalprice") * 100).cast("long")
    Tables.orders(s, d)
      .select(col("o_orderpriority"), cents.as("cents"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        percentile(col("cents"), lit(0.25)).as("p25"),
        percentile(col("cents"), lit(0.5)).as("p50"),
        percentile(col("cents"), lit(0.75)).as("p75"),
        percentile(col("cents"), lit(0.9)).as("p90"))
      .orderBy("o_orderpriority")
  }

  /** q58 — CUBE: all four grouping combinations in one pass, money as
    * exact decimal internally, DOUBLE at the boundary (q13's policy). */
  val q58Cube: Q = Q(
    "q58_cube",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""") { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("rev"))
      .select("o_orderstatus", "o_orderpriority", "gid", "n", "rev")
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** q59 — analytic rank family: dense_rank / percent_rank / cume_dist /
    * ntile over a unique ordering (ties broken by key, so every rank is
    * deterministic; percent_rank's (rank-1)/(n-1) divides small exact
    * ints — bit-identical across engines). */
  val q59RankFamily: Q = Q(
    "q59_rank_family",
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
      |  percent_rank() OVER w AS prk,
      |  cume_dist() OVER w AS cd,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""") { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        dense_rank().over(w).cast("bigint").as("drk"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).cast("bigint").as("quartile"))
      .orderBy("o_orderkey")
  }

  /** q65 — top-3 orders per customer through the custom whole-operator
    * path (plans.TopKPerGroupPlan → Strategy → bounded-heap exec): the
    * same answer as a row_number window, but O(n log k) streaming heaps
    * after one clustered exchange instead of a full per-partition sort.
    * The oracle computes the window spelling. */
  val q65TopkOperator: Q = Q(
    "q65_topk_operator",
    """SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |      FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, price DESC, o_orderkey""") { (s, d) =>
    val in = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("price"))
    graft.plans.TopKPerGroup(in, Seq("o_custkey"),
        Seq("price" -> false, "o_orderkey" -> true), k = 3)
      .orderBy(col("o_custkey"), col("price").desc, col("o_orderkey"))
  }

  /** q82 — KMV (k-minimum-values) distinct-count sketch via the typed
    * bounded-state Aggregator (functions.KmvAgg): per language, the 64
    * smallest distinct token hashes; estimate (k-1)*2^32/v_k, exact
    * when fewer than k distinct values exist. Unlike q50's HLL
    * (bound-checked via a derived column), KMV is deterministic given
    * the hash, so
    * the SKETCH STATE ITSELF hash-matches the DuckDB oracle — an
    * auditable sketch. Map-side partials ship at most 64 longs per
    * (lang, partition); the exact countDistinct rides the same shuffle
    * for the error report. */
  val q82KmvSketch: Q = Q(
    "q82_kmv_sketch",
    """WITH tok AS (
      |  SELECT DISTINCT lang, CAST(concat('0x', substr(md5(t),1,8)) AS BIGINT) AS h
      |  FROM (SELECT lang, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS t
      |        FROM documents)
      |), r AS (
      |  SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk,
      |    COUNT(*) OVER (PARTITION BY lang) AS n_distinct
      |  FROM tok
      |), kmv AS (
      |  SELECT lang, MAX(h) AS vk, COUNT(*) AS k, MAX(n_distinct) AS n_distinct
      |  FROM r WHERE rk <= 64 GROUP BY lang
      |)
      |SELECT lang, CAST(k AS BIGINT) AS k, vk, CAST(n_distinct AS BIGINT) AS n_distinct,
      |  CASE WHEN k < 64 THEN CAST(n_distinct AS BIGINT)
      |       WHEN vk = 0 THEN 0
      |       ELSE CAST(FLOOR((k-1)*4294967296/vk) AS BIGINT) END AS est_distinct
      |FROM kmv ORDER BY lang""") { (s, d) =>
    import graft.functions.TextFunctions._
    val kmv = udaf(new graft.functions.KmvAgg(64))
    graft.Q.stageBarrier(Tables.documents(s, d))
      .select(col("lang"), explode(tokens(col("text"))).as("t"))
      .select(col("lang"), hex32(col("t")).as("h"))
      .groupBy("lang")
      .agg(kmv(col("h")).as("mins"), countDistinct(col("h")).as("n_distinct"))
      .select(col("lang"),
        size(col("mins")).cast("long").as("k"),
        element_at(col("mins"), size(col("mins"))).as("vk"),
        col("n_distinct"),
        when(size(col("mins")) < 64, col("n_distinct"))
          .when(element_at(col("mins"), size(col("mins"))) === 0, 0L)
          .otherwise(floor((size(col("mins")).cast("long") - 1) * 4294967296L
            / element_at(col("mins"), size(col("mins"))))).as("est_distinct"))
      .orderBy("lang")
  }

  /** q90 — count-min sketch: approximate token frequencies from a
    * 4-row × 256-cell counter grid (same affine hash family as the
    * MinHash permutations), completing the auditable-sketch family —
    * q50 HLL (distinct, oracle-checked error bound), q82 KMV (distinct, exact-state
    * oracle), q90 CMS (FREQUENCY, exact-state oracle). The sketch is
    * plain relational: cell counts are one groupBy of (row, cell) —
    * 1024 output rows REGARDLESS of corpus size, the whole point at
    * 100 TB (map-side partials mean the shuffle carries ≤1024 rows per
    * task; the merged grid then BROADCASTS to estimate any key without
    * touching the corpus again). Output: the 10 exact-top tokens with
    * exact and CMS-estimated counts; CMS guarantees est >= exact, with
    * overestimates from cell collisions. Deterministic given the hash,
    * so DuckDB reproduces the estimates bit-for-bit. */
  val q90CmsSketch: Q = Q(
    "q90_cms_sketch",
    """WITH tok AS (
      |  SELECT CAST(concat('0x', substr(md5(t),1,8)) AS BIGINT) AS h, t
      |  FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS t
      |        FROM documents)
      |), rr AS (SELECT unnest(range(0,4)) AS r),
      |cc AS (
      |  SELECT r, (h*(2*r+1) + r*r+7) % 2038074743 % 256 AS cell, COUNT(*) AS n
      |  FROM tok CROSS JOIN rr GROUP BY 1, 2
      |), top AS (
      |  SELECT t, h, COUNT(*) AS n_exact FROM tok GROUP BY 1, 2
      |  ORDER BY n_exact DESC, t LIMIT 10
      |)
      |SELECT top.t AS token, top.n_exact, MIN(cc.n) AS n_est
      |FROM top CROSS JOIN rr
      |JOIN cc ON cc.r = rr.r
      |  AND cc.cell = (top.h*(2*rr.r+1) + rr.r*rr.r+7) % 2038074743 % 256
      |GROUP BY 1, 2
      |ORDER BY n_exact DESC, token""") { (s, d) =>
    import graft.functions.TextFunctions._
    def cell(h: org.apache.spark.sql.Column, r: Int) =
      (h * (2 * r + 1) + lit(r * r + 7)) % MinhashPrime % 256
    val tok = graft.Q.stageBarrier(Tables.documents(s, d))
      .select(explode(tokens(col("text"))).as("t"))
      .select(col("t"), hex32(col("t")).as("h"))
    val cellCounts = tok
      .select(explode(array((0 until 4).map(r =>
        struct(lit(r).as("r"), cell(col("h"), r).as("cell"))): _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("n"))
    val top = tok.groupBy("t", "h").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("t")).limit(10)
    top
      .select(col("t"), col("h"), col("n_exact"),
        explode(array((0 until 4).map(r =>
          struct(lit(r).as("r"), cell(col("h"), r).as("cell"))): _*)).as("rc"))
      .join(broadcast(cellCounts),
        col("rc.r") === cellCounts("r") && col("rc.cell") === cellCounts("cell"))
      .groupBy(col("t").as("token"), col("n_exact"))
      .agg(min(col("n")).as("n_est"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** q112 — per-group Pearson correlation matrix from EXACT integer
    * moments, in ONE scan: quantity/price/discount are cents-lifted to
    * integers, and each group aggregates n plus the 9 sums
    * (Σx, Σy, Σz, Σx², Σy², Σz², Σxy, Σxz, Σyz) as wide decimals —
    * order-independent, partial-aggregated map-side, so the pass is a
    * 3-key aggregation of a 600 k-row (at sf0.1) scan regardless of
    * cluster layout. Only the final corr arithmetic is floating point,
    * spelled identically on both engines (q106's policy), with the
    * variance clamp at 0 and a zero-denominator guard. The built-in
    * `corr()` is one call — but its streaming-mean accumulation is
    * shuffle-order-dependent; the moments spelling is what a
    * deterministic engine has to run. */
  val q112CorrMatrix: Q = Q(
    "q112_corr_matrix",
    """WITH t AS (
      |  SELECT l_returnflag,
      |    CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
      |    CAST(ROUND(l_discount * 100) AS BIGINT) AS z
      |  FROM lineitem
      |), m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(z) AS DOUBLE) AS sz,
      |    CAST(SUM(x*x) AS DOUBLE) AS sxx, CAST(SUM(y*y) AS DOUBLE) AS syy,
      |    CAST(SUM(z*z) AS DOUBLE) AS szz,
      |    CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*z) AS DOUBLE) AS sxz,
      |    CAST(SUM(y*z) AS DOUBLE) AS syz
      |  FROM t GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  CAST(FLOOR(CASE WHEN greatest(n*sxx - sx*sx, 0) = 0 OR greatest(n*syy - sy*sy, 0) = 0 THEN 0
      |    ELSE (n*sxy - sx*sy) / (sqrt(greatest(n*sxx - sx*sx, 0)) * sqrt(greatest(n*syy - sy*sy, 0))) END * 1000000) AS BIGINT) AS corr_qty_price_ppm,
      |  CAST(FLOOR(CASE WHEN greatest(n*sxx - sx*sx, 0) = 0 OR greatest(n*szz - sz*sz, 0) = 0 THEN 0
      |    ELSE (n*sxz - sx*sz) / (sqrt(greatest(n*sxx - sx*sx, 0)) * sqrt(greatest(n*szz - sz*sz, 0))) END * 1000000) AS BIGINT) AS corr_qty_disc_ppm,
      |  CAST(FLOOR(CASE WHEN greatest(n*syy - sy*sy, 0) = 0 OR greatest(n*szz - sz*sz, 0) = 0 THEN 0
      |    ELSE (n*syz - sy*sz) / (sqrt(greatest(n*syy - sy*sy, 0)) * sqrt(greatest(n*szz - sz*sz, 0))) END * 1000000) AS BIGINT) AS corr_price_disc_ppm
      |FROM m ORDER BY l_returnflag""") { (s, d) =>
    // cents as DECIMAL(18,0): products reach ~1e14 and their sf0.1 sums
    // ~6e19 — past int64, inside DECIMAL(38,0) (DuckDB sums into HUGEINT)
    def cents(c: org.apache.spark.sql.Column) =
      round(c * 100).cast("long").cast(DecimalType(18, 0))
    val t = Tables.lineitem(s, d).select(col("l_returnflag"),
      cents(col("l_quantity")).as("x"),
      cents(col("l_extendedprice")).as("y"),
      cents(col("l_discount")).as("z"))
    def sd(c: org.apache.spark.sql.Column, n: String) =
      sum(c).cast("double").as(n)
    val m = t.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sd(col("x"), "sx"), sd(col("y"), "sy"), sd(col("z"), "sz"),
      sd(col("x") * col("x"), "sxx"), sd(col("y") * col("y"), "syy"),
      sd(col("z") * col("z"), "szz"),
      sd(col("x") * col("y"), "sxy"), sd(col("x") * col("z"), "sxz"),
      sd(col("y") * col("z"), "syz"))
    def corrPpm(sa: String, sb: String, saa: String, sbb: String, sab: String) = {
      val va = greatest(col("n") * col(saa) - col(sa) * col(sa), lit(0.0))
      val vb = greatest(col("n") * col(sbb) - col(sb) * col(sb), lit(0.0))
      floor(when(va === 0.0 || vb === 0.0, 0.0)
        .otherwise((col("n") * col(sab) - col(sa) * col(sb))
          / (sqrt(va) * sqrt(vb))) * 1000000).cast("long")
    }
    m.select(col("l_returnflag"), col("n").cast("long").as("n"),
        corrPpm("sx", "sy", "sxx", "syy", "sxy").as("corr_qty_price_ppm"),
        corrPpm("sx", "sz", "sxx", "szz", "sxz").as("corr_qty_disc_ppm"),
        corrPpm("sy", "sz", "syy", "szz", "syz").as("corr_price_disc_ppm"))
      .orderBy("l_returnflag")
  }

  /** q141 — corpus drift report between two revisions: the distribution
    * monitor a production pipeline runs after every refresh. Each doc
    * contributes two dimension rows — its language and its size bucket
    * (n_chars/64 capped at 3) — and each revision's per-dimension SHARE
    * lands in integer ppm; the report is share_v1, share_v2, and the
    * absolute drift per dimension, full-outer so a dimension vanishing
    * from (or appearing in) a revision still reports. The revisions are
    * q131's derivations, so the drift numbers are cross-checkable
    * against the diff family. Integer-ppm floors keep both engines
    * bit-identical (the determinism policy's ratio rule; no logs, so no
    * KL/PSI float divergence).
    *
    * Scale shape: two narrow scans, two ~9-key aggregations, one tiny
    * full-outer join — the corpus never shuffles, and the per-revision
    * totals are broadcast scalars. */
  val q141DriftReport: Q = Q(
    "q141_drift_report",
    """WITH v1 AS (
      |  SELECT lang, LEAST(n_chars // 64, 3) AS lb FROM documents WHERE doc_id % 7 <> 0
      |), v2 AS (
      |  SELECT lang, LEAST(n_chars // 64, 3) AS lb FROM documents WHERE doc_id % 11 <> 0
      |), d1 AS (
      |  SELECT 'lang:' || lang AS dim FROM v1
      |  UNION ALL SELECT 'len:' || CAST(lb AS VARCHAR) FROM v1
      |), d2 AS (
      |  SELECT 'lang:' || lang AS dim FROM v2
      |  UNION ALL SELECT 'len:' || CAST(lb AS VARCHAR) FROM v2
      |), s1 AS (
      |  SELECT dim, CAST(FLOOR(CAST(COUNT(*) AS BIGINT) * 1000000 /
      |    (SELECT COUNT(*) FROM v1)) AS BIGINT) AS sh FROM d1 GROUP BY dim
      |), s2 AS (
      |  SELECT dim, CAST(FLOOR(CAST(COUNT(*) AS BIGINT) * 1000000 /
      |    (SELECT COUNT(*) FROM v2)) AS BIGINT) AS sh FROM d2 GROUP BY dim
      |)
      |SELECT COALESCE(s1.dim, s2.dim) AS dim,
      |  CAST(COALESCE(s1.sh, 0) AS BIGINT) AS share_v1_ppm,
      |  CAST(COALESCE(s2.sh, 0) AS BIGINT) AS share_v2_ppm,
      |  CAST(ABS(COALESCE(s1.sh, 0) - COALESCE(s2.sh, 0)) AS BIGINT) AS drift_ppm
      |FROM s1 FULL OUTER JOIN s2 ON s1.dim = s2.dim
      |ORDER BY dim""") { (s, d) =>
    def dims(pred: org.apache.spark.sql.Column): DataFrame = Tables.documents(s, d)
      .filter(pred)
      .select(explode(array(
        concat(lit("lang:"), col("lang")),
        concat(lit("len:"), least(col("n_chars") / 64, lit(3L)).cast("long")
          .cast("string")))).as("dim"))
    def shares(df: DataFrame, shCol: String): DataFrame = {
      // per-revision total stays IN-PLAN as a broadcast 1-row scalar.
      // The dims frame carries 2 rows per doc, so _t = 2 x docs and
      // share = floor(_c * 1e6 / docs) = floor(_c * 2e6 / _t) — the
      // scaled integer numerator/denominator divide to the same IEEE
      // double as the oracle's unscaled pair.
      val total = df.groupBy().agg(count(lit(1)).as("_t"))
      df.groupBy("dim").agg(count(lit(1)).as("_c"))
        .crossJoin(broadcast(total))
        .select(col("dim"),
          floor(col("_c") * 2000000L / col("_t")).cast("long").as(shCol))
    }
    val s1 = shares(dims(col("doc_id") % 7 =!= 0), "sh1")
    val s2 = shares(dims(col("doc_id") % 11 =!= 0), "sh2")
    s1.join(s2, Seq("dim"), "full_outer")
      .select(col("dim"),
        coalesce(col("sh1"), lit(0L)).as("share_v1_ppm"),
        coalesce(col("sh2"), lit(0L)).as("share_v2_ppm"),
        abs(coalesce(col("sh1"), lit(0L)) - coalesce(col("sh2"), lit(0L)))
          .as("drift_ppm"))
      .orderBy("dim")
  }

  /** q152 — k-anonymous release via hierarchical generalization: publish
    * per-(nation, period) order counts and revenue so that NO released
    * row aggregates fewer than k=10 orders — the data-release gate that
    * keeps a public stats table from identifying individual buyers.
    * Unlike a plain HAVING (which silently drops small groups and
    * biases every marginal), small cells climb a generalization ladder:
    * month cells under k merge into their quarter; quarter cells still
    * under k merge into their year; anything still under k lands in one
    * per-nation residual row — every order is released exactly once, at
    * the finest granularity that clears k. (q13/q58 compute ALL rollup
    * levels; this picks one level per drill-path, data-dependently.)
    *
    * Scale: three successively tinier aggregations (month cells, then
    * only the failing cells re-grouped — the cascade shrinks by
    * construction), each with map-side partials; money stays exact
    * DECIMAL until the DOUBLE boundary. The release is union-all of the
    * four levels tagged by `level`. */
  val q152KanonRelease: Q = Q(
    "q152_kanon_release",
    """WITH base AS (
      |  SELECT n_name, strftime(o_orderdate, '%Y') AS y,
      |    strftime(o_orderdate, '%m') AS m,
      |    CAST((CAST(strftime(o_orderdate, '%m') AS BIGINT) + 2) // 3 AS VARCHAR) AS qtr,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |), mth AS (
      |  SELECT n_name, y, qtr, m, COUNT(*) AS n, SUM(price) AS rev
      |  FROM base GROUP BY 1, 2, 3, 4
      |), okm AS (
      |  SELECT n_name, 'month' AS level, y || '-' || m AS period, n, rev
      |  FROM mth WHERE n >= 10
      |), qt AS (
      |  SELECT n_name, y, qtr, SUM(n) AS n, SUM(rev) AS rev
      |  FROM mth WHERE n < 10 GROUP BY 1, 2, 3
      |), okq AS (
      |  SELECT n_name, 'quarter' AS level, y || '-Q' || qtr AS period, n, rev
      |  FROM qt WHERE n >= 10
      |), yr AS (
      |  SELECT n_name, y, SUM(n) AS n, SUM(rev) AS rev
      |  FROM qt WHERE n < 10 GROUP BY 1, 2
      |), oky AS (
      |  SELECT n_name, 'year' AS level, y AS period, n, rev
      |  FROM yr WHERE n >= 10
      |), res AS (
      |  SELECT n_name, 'residual' AS level, '*' AS period,
      |    SUM(n) AS n, SUM(rev) AS rev
      |  FROM yr WHERE n < 10 GROUP BY 1
      |)
      |SELECT n_name, level, period, CAST(n AS BIGINT) AS n,
      |  CAST(rev AS DOUBLE) AS revenue
      |FROM (SELECT * FROM okm UNION ALL SELECT * FROM okq
      |      UNION ALL SELECT * FROM oky UNION ALL SELECT * FROM res)
      |ORDER BY n_name, level, period""") { (s, d) =>
    val K = 10
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        date_format(col("o_orderdate"), "yyyy").as("y"),
        date_format(col("o_orderdate"), "MM").as("m"),
        expr("cast((cast(date_format(o_orderdate, 'MM') as bigint) + 2) div 3 as string)").as("qtr"),
        dec(col("o_totalprice")).as("price"))
    val mth = base.groupBy("n_name", "y", "qtr", "m")
      .agg(count(lit(1)).as("n"), sum("price").as("rev"))
    val okm = mth.filter(col("n") >= K)
      .select(col("n_name"), lit("month").as("level"),
        concat(col("y"), lit("-"), col("m")).as("period"), col("n"), col("rev"))
    val qt = mth.filter(col("n") < K)
      .groupBy("n_name", "y", "qtr").agg(sum("n").as("n"), sum("rev").as("rev"))
    val okq = qt.filter(col("n") >= K)
      .select(col("n_name"), lit("quarter").as("level"),
        concat(col("y"), lit("-Q"), col("qtr")).as("period"), col("n"), col("rev"))
    val yr = qt.filter(col("n") < K)
      .groupBy("n_name", "y").agg(sum("n").as("n"), sum("rev").as("rev"))
    val oky = yr.filter(col("n") >= K)
      .select(col("n_name"), lit("year").as("level"), col("y").as("period"),
        col("n"), col("rev"))
    val res = yr.filter(col("n") < K)
      .groupBy("n_name").agg(sum("n").as("n"), sum("rev").as("rev"))
      .select(col("n_name"), lit("residual").as("level"), lit("*").as("period"),
        col("n"), col("rev"))
    okm.unionByName(okq).unionByName(oky).unionByName(res)
      .select(col("n_name"), col("level"), col("period"),
        col("n").cast("long").as("n"), col("rev").cast("double").as("revenue"))
      .orderBy("n_name", "level", "period")
  }

  /** q153 — exact global order statistics WITHOUT a global sort:
    * distributed selection by binary search on the value domain. q57's
    * exact per-group percentiles sort bounded groups; the GLOBAL exact
    * median of one 100 TB column can't sort at all — but the k-th
    * smallest value is the least v with count(<= v) > k, so ~log2(range)
    * full-scan COUNT aggregates (map-side partials, one tiny shuffle
    * each; here over a cached narrow projection) pin it exactly. Both
    * targets (lower median, p90) advance in the SAME pass each round —
    * one conditional-count aggregate serves every open search. This is
    * the exact companion to approx_percentile: O(scan · log range) work,
    * O(1) driver state, no skew sensitivity.
    *
    * Driver loop is over per-round SCALAR aggregates (the q98/q113
    * iterative pattern — never row collects); iteration count is
    * data-bounded at ~24 for a cents domain and independent of row
    * count. The oracle computes the same ranks by window sort — at
    * oracle scale DuckDB can afford what 100 TB cannot. */
  val q153ExactSelect: Q = Q(
    "q153_exact_select",
    """WITH v AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM lineitem
      |), nn AS (SELECT COUNT(*) AS n FROM v),
      |ks AS (
      |  SELECT 'median' AS stat, (n - 1) // 2 AS k FROM nn
      |  UNION ALL
      |  SELECT 'p90' AS stat, (n - 1) * 9 // 10 AS k FROM nn
      |), s AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c) - 1 AS rk FROM v
      |)
      |SELECT stat, CAST(k AS BIGINT) AS k, c AS value_cents
      |FROM ks JOIN s ON s.rk = ks.k
      |ORDER BY stat""") { (s, d) =>
    import s.implicits._
    val (v, red) = Materialize.reduceLongs(Tables.lineitem(s, d)
        .select((dec(col("l_extendedprice")) * 100).cast("long").as("c")),
      (None, Math.addExact), (Some("c"), math.min), (Some("c"), math.max))
    val Seq(n, vmin, vmax) = red.map(_.get) // no rows: fails, as the NULL MIN did
    // (stat, 0-based target rank): smallest v with cnt_le(v) >= rank+1.
    // Histogram selection (selectByCumWeight): 2 scans instead of the
    // old ~24-round value-domain binary search — same exact answer.
    val targets = Array(("median", (n - 1) / 2), ("p90", (n - 1) * 9 / 10))
    val vals = selectByCumWeight(v, "c", lit(1L),
      targets.map(_._2 + 1).toSeq, vmin, vmax)
    targets.indices.map(i => (targets(i)._1, targets(i)._2, vals(i)))
      .toDF("stat", "k", "value_cents")
      .orderBy("stat")
  }

  /** q155 — quasi-identifier uniqueness audit: BEFORE releasing data,
    * measure how re-identifiable each candidate QI set makes it — the
    * diagnosis that decides where q152's k ladder must start. For the
    * drill path nation → +month → +day → +priority, report group-size
    * structure: total groups, rows, singleton groups (unique = directly
    * re-identifiable), and sub-k groups/rows (k=10, q152's threshold),
    * plus singleton-row ppm as the headline risk number.
    *
    * Scale: the four audits are NOT four aggregations — the drill path
    * is a prefix chain, so ONE rollup computes every level's group
    * sizes in a single shuffle (grouping() flags name the level; the
    * grand-total row is filtered), and the histogram over group sizes
    * is a 4-key reduce of the already-aggregated cell table. Integer
    * ppm floor-division on both engines. */
  val q155QiAudit: Q = Q(
    "q155_qi_audit",
    """WITH base AS (
      |  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS mon,
      |    strftime(o_orderdate, '%Y-%m-%d') AS day, o_orderpriority AS pri
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |), cells AS (
      |  SELECT COUNT(*) AS sz,
      |    GROUPING(n_name) AS g_n, GROUPING(mon) AS g_m,
      |    GROUPING(day) AS g_d, GROUPING(pri) AS g_p
      |  FROM base GROUP BY ROLLUP (n_name, mon, day, pri)
      |), lab AS (
      |  SELECT sz,
      |    CASE WHEN g_m = 1 THEN 'qi1_nation'
      |         WHEN g_d = 1 THEN 'qi2_nation_month'
      |         WHEN g_p = 1 THEN 'qi3_nation_day'
      |         ELSE 'qi4_nation_day_priority' END AS qi
      |  FROM cells WHERE g_n = 0
      |)
      |SELECT qi, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(SUM(sz) AS BIGINT) AS n_rows,
      |  CAST(COUNT(CASE WHEN sz = 1 THEN 1 END) AS BIGINT) AS uniq_groups,
      |  CAST(COUNT(CASE WHEN sz < 10 THEN 1 END) AS BIGINT) AS subk_groups,
      |  CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS subk_rows,
      |  CAST(COUNT(CASE WHEN sz = 1 THEN 1 END) * 1000000 // SUM(sz) AS BIGINT) AS uniq_ppm
      |FROM lab GROUP BY qi ORDER BY qi""") { (s, d) =>
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        col("o_orderpriority").as("pri"))
    base.rollup(col("n_name"), col("mon"), col("day"), col("pri"))
      .agg(count(lit(1)).as("sz"),
        grouping(col("n_name")).as("g_n"), grouping(col("mon")).as("g_m"),
        grouping(col("day")).as("g_d"), grouping(col("pri")).as("g_p"))
      .filter(col("g_n") === 0)
      .withColumn("qi",
        when(col("g_m") === 1, "qi1_nation")
          .when(col("g_d") === 1, "qi2_nation_month")
          .when(col("g_p") === 1, "qi3_nation_day")
          .otherwise("qi4_nation_day_priority"))
      .groupBy("qi")
      .agg(count(lit(1)).as("n_groups"),
        sum("sz").as("n_rows"),
        count(when(col("sz") === 1, 1)).as("uniq_groups"),
        count(when(col("sz") < 10, 1)).as("subk_groups"),
        sum(when(col("sz") < 10, col("sz")).otherwise(0L)).as("subk_rows"))
      .select(col("qi"), col("n_groups"), col("n_rows"), col("uniq_groups"),
        col("subk_groups"), col("subk_rows"),
        expr("uniq_groups * 1000000 div n_rows").as("uniq_ppm"))
      .orderBy("qi")
  }

  /** q157 — jackknife confidence intervals in ONE pass: the uncertainty
    * companion to every point estimate in this pack (q57/q153 say what
    * the mean/median IS; nothing said how sure). Naive bootstrap
    * re-reads the data B times — a non-starter at 100 TB. The
    * delete-one-fold jackknife needs only per-(group, fold) partial sums
    * from a single scan: rows hash into g=10 deterministic folds, each
    * leave-one-out mean is (S−s_i)/(N−n_i) from the fold partials, and
    * the jackknife variance (g−1)/g·Σ(m_i−m̄)² recombines 10 numbers per
    * group. Arithmetic is integer milli-cents throughout (BIGINT sums,
    * floor division); the one FP op is sqrt of an integer — correctly
    * rounded by IEEE on both engines, so floor(sqrt) is deterministic.
    * CI = mean ± 2·se.
    *
    * Scale: one (priority, fold) aggregation — 50 cells — with map-side
    * partials; everything after is broadcast-sized. Resampling B times
    * becomes a free by-product of the same partials that computed the
    * estimate. */
  val q157JackknifeCi: Q = Q(
    "q157_jackknife_ci",
    """WITH v AS (
      |  SELECT o_orderpriority AS pri,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(concat('0x', substr(md5('jk_' || CAST(o_orderkey AS VARCHAR)),1,8)) AS BIGINT) % 10 AS fold
      |  FROM orders
      |), f AS (
      |  SELECT pri, fold, SUM(cents) AS s, COUNT(*) AS n FROM v GROUP BY 1, 2
      |), t AS (
      |  SELECT pri, SUM(s) AS st, SUM(n) AS nt FROM f GROUP BY 1
      |), loo AS (
      |  SELECT f.pri, fold, (st - s) * 1000 // (nt - n) AS mean_i
      |  FROM f JOIN t USING (pri)
      |), jb AS (
      |  SELECT pri, SUM(mean_i) // 10 AS jbar FROM loo GROUP BY 1
      |), ss AS (
      |  SELECT loo.pri, SUM((mean_i - jbar) * (mean_i - jbar)) AS ssq
      |  FROM loo JOIN jb USING (pri) GROUP BY 1
      |)
      |SELECT t.pri AS priority, CAST(nt AS BIGINT) AS n,
      |  CAST(st * 1000 // nt AS BIGINT) AS mean_milli,
      |  CAST(ssq * 9 // 10 AS BIGINT) AS jack_var,
      |  CAST(st * 1000 // nt - 2 * CAST(FLOOR(SQRT(ssq * 9 // 10)) AS BIGINT) AS BIGINT) AS ci_lo_milli,
      |  CAST(st * 1000 // nt + 2 * CAST(FLOOR(SQRT(ssq * 9 // 10)) AS BIGINT) AS BIGINT) AS ci_hi_milli
      |FROM t JOIN ss ON t.pri = ss.pri
      |ORDER BY priority""") { (s, d) =>
    val v = Tables.orders(s, d).select(
      col("o_orderpriority").as("pri"),
      (dec(col("o_totalprice")) * 100).cast("long").as("cents"),
      pmod(graft.functions.TextFunctions.hex32(
        concat(lit("jk_"), col("o_orderkey").cast("string"))), lit(10L)).as("fold"))
    val f = v.groupBy("pri", "fold")
      .agg(sum("cents").as("s"), count(lit(1)).as("n"))
    val t = f.groupBy("pri").agg(sum("s").as("st"), sum("n").as("nt"))
    val loo = f.join(broadcast(t), "pri")
      .select(col("pri"), expr("(st - s) * 1000 div (nt - n)").as("mean_i"))
    val jb = loo.groupBy("pri").agg(expr("sum(mean_i) div 10").as("jbar"))
    val ss = loo.join(broadcast(jb), "pri")
      .groupBy("pri")
      .agg(sum((col("mean_i") - col("jbar")) * (col("mean_i") - col("jbar"))).as("ssq"))
    t.join(ss, "pri")
      .select(col("pri").as("priority"), col("nt").as("n"),
        expr("st * 1000 div nt").as("mean_milli"),
        expr("ssq * 9 div 10").as("jack_var"),
        expr("st * 1000 div nt - 2 * cast(floor(sqrt(ssq * 9 div 10)) as bigint)").as("ci_lo_milli"),
        expr("st * 1000 div nt + 2 * cast(floor(sqrt(ssq * 9 div 10)) as bigint)").as("ci_hi_milli"))
      .orderBy("priority")
  }

  /** q159 — data-contract validation: the admission gate an ingest batch
    * passes before it may touch the warehouse — null checks, range
    * checks, enum domains, key uniqueness, and referential integrity,
    * emitted as one violation report (rule, count, sample key). The
    * batch is the orders table with five planted corruptions (the q156
    * pattern — distinct prime moduli at nonzero residues, pairwise
    * disjoint over the key range): a nulled date, a negated price, an orphaned custkey, a
    * collapsed duplicate key, and an out-of-domain status.
    *
    * Scale: the row-local rules (null/range/enum) fold into ONE
    * conditional-aggregate pass over the scan; uniqueness is one
    * key-grouped count; referential integrity is one anti-join against
    * the dimension (broadcast when it fits, shuffle otherwise). The
    * report is a union of 1-row aggregates — the whole audit costs one
    * read of the batch plus two keyed exchanges, independent of how
    * many row-local rules the contract carries. */
  val q159ContractAudit: Q = Q(
    "q159_contract_audit",
    """WITH corrupted AS (
      |  SELECT
      |    CASE WHEN o_orderkey % 1009 = 1008 THEN 1 ELSE o_orderkey END AS okey,
      |    CASE WHEN o_orderkey % 997 = 996 THEN o_custkey + 1000000 ELSE o_custkey END AS ck,
      |    CASE WHEN o_orderkey % 983 = 982 THEN NULL ELSE o_orderdate END AS odate,
      |    CASE WHEN o_orderkey % 991 = 990 THEN -CAST(o_totalprice AS DECIMAL(18,2))
      |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price,
      |    CASE WHEN o_orderkey % 977 = 976 THEN 'X' ELSE o_orderstatus END AS status
      |  FROM orders
      |), r1 AS (
      |  SELECT 'null_order_date' AS rule, COUNT(*) AS n_violations,
      |    MIN(okey) AS sample_key FROM corrupted WHERE odate IS NULL
      |), r2 AS (
      |  SELECT 'nonpositive_price' AS rule, COUNT(*) AS n_violations,
      |    MIN(okey) AS sample_key FROM corrupted WHERE price <= 0
      |), r3 AS (
      |  SELECT 'orphan_custkey' AS rule, COUNT(*) AS n_violations,
      |    MIN(okey) AS sample_key FROM corrupted
      |  WHERE ck NOT IN (SELECT c_custkey FROM customer)
      |), r4 AS (
      |  SELECT 'duplicate_orderkey' AS rule, COUNT(*) AS n_violations,
      |    MIN(okey) AS sample_key
      |  FROM (SELECT okey FROM corrupted GROUP BY okey HAVING COUNT(*) > 1)
      |), r5 AS (
      |  SELECT 'invalid_status' AS rule, COUNT(*) AS n_violations,
      |    MIN(okey) AS sample_key FROM corrupted
      |  WHERE status NOT IN ('F', 'O', 'P')
      |)
      |SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, sample_key
      |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
      |      UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
      |      UNION ALL SELECT * FROM r5)
      |ORDER BY rule""") { (s, d) =>
    val k = col("o_orderkey")
    val corrupted = Tables.orders(s, d).select(
      when(k % 1009 === 1008, 1L).otherwise(k).as("okey"),
      when(k % 997 === 996, col("o_custkey") + 1000000L).otherwise(col("o_custkey")).as("ck"),
      when(k % 983 === 982, lit(null).cast("date")).otherwise(col("o_orderdate")).as("odate"),
      when(k % 991 === 990, -dec(col("o_totalprice"))).otherwise(dec(col("o_totalprice"))).as("price"),
      when(k % 977 === 976, "X").otherwise(col("o_orderstatus")).as("status"))
      .transform(Materialize.snapshot) // five rules read the same corrupted batch
    def report(rule: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_violations"), min("okey").as("sample_key"))
        .select(lit(rule).as("rule"), col("n_violations"), col("sample_key"))
    val r1 = report("null_order_date", corrupted.filter(col("odate").isNull))
    val r2 = report("nonpositive_price", corrupted.filter(col("price") <= 0))
    val r3 = report("orphan_custkey",
      corrupted.join(broadcast(Tables.customer(s, d)),
        col("ck") === col("c_custkey"), "left_anti"))
    val r4 = report("duplicate_orderkey",
      corrupted.groupBy("okey").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1))
    val r5 = report("invalid_status",
      corrupted.filter(!col("status").isin("F", "O", "P")))
    r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(r5)
      .orderBy("rule")
  }

  /** q171 — audience overlap matrix: for every unordered pair of event
    * types, how many users did BOTH, and the Jaccard of the two
    * audiences — the segment-overlap report behind "does `error`
    * co-occur with `purchase` users or a disjoint crowd?".
    *
    * Scale: events collapse to DISTINCT (user, type) first — O(users ×
    * types), with map-side partial dedup — and the pair join is a
    * per-user SELF-join producing ≤ C(|types|,2) = 10 rows per user,
    * co-partitioned on user_id (one exchange, reused by both sides).
    * Audience totals are |types| rows and broadcast back. Never a
    * user×user comparison anywhere. */
  val q171AudienceOverlap: Q = Q(
    "q171_audience_overlap",
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), pair AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS inter
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY ta, tb
      |), tot AS (
      |  SELECT event_type, COUNT(*) AS nu FROM ut GROUP BY event_type
      |)
      |SELECT ta, tb, CAST(inter AS BIGINT) AS inter,
      |  CAST(x.nu AS BIGINT) AS nu_a, CAST(y.nu AS BIGINT) AS nu_b,
      |  CAST(FLOOR(inter * 1000000 / (x.nu + y.nu - inter)) AS BIGINT) AS jaccard_ppm
      |FROM pair JOIN tot x ON x.event_type = ta
      |JOIN tot y ON y.event_type = tb
      |ORDER BY ta, tb""") { (s, d) =>
    val ut = Tables.events(s, d)
      .select(col("user_id"), col("event_type"))
      .distinct()
      .transform(Materialize.snapshot) // feeds both self-join sides + the totals
    val pair = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("inter"))
    val tot = ut.groupBy("event_type").agg(count(lit(1)).as("nu"))
    pair
      .join(broadcast(tot.select(col("event_type").as("ta"), col("nu").as("nu_a"))), "ta")
      .join(broadcast(tot.select(col("event_type").as("tb"), col("nu").as("nu_b"))), "tb")
      .select(col("ta"), col("tb"), col("inter"), col("nu_a"), col("nu_b"),
        floor(col("inter") * 1000000L / (col("nu_a") + col("nu_b") - col("inter")))
          .cast("long").as("jaccard_ppm"))
      .orderBy("ta", "tb")
  }

  /** q175 — robust outlier gate by HISTOGRAM median/MAD: per event
    * type, the exact low-median and median-absolute-deviation of the
    * cents-quantized value, and the count of events beyond 3·MAD — the
    * outlier filter that survives the skew that wrecks mean/stddev
    * gates. The trick is that NO row-level sort exists anywhere: values
    * collapse to a (type, cents, count) HISTOGRAM first (map-side
    * partials, value domain ≪ row count), the median is the first
    * histogram cell whose running count crosses (n+1)/2 — one window
    * over histogram CELLS — and the MAD repeats the same move on the
    * |v−median| re-keyed histogram. Outliers are counted from the
    * histogram too, so the corpus is scanned exactly once. q153 pulls
    * one global order statistic by binary search; this pulls per-group
    * medians for ALL groups in two histogram passes. All integer. */
  val q175RobustOutliers: Q = Q(
    "q175_robust_outliers",
    """WITH v AS (
      |  SELECT event_type AS t, CAST(FLOOR(value*100) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL
      |), h AS (
      |  SELECT t, c, COUNT(*) AS k FROM v GROUP BY t, c
      |), n AS (
      |  SELECT t, SUM(k) AS n FROM h GROUP BY t
      |), cum AS (
      |  SELECT t, c, SUM(k) OVER (PARTITION BY t ORDER BY c) AS cm FROM h
      |), med AS (
      |  SELECT t, MIN(c) AS med FROM cum JOIN n USING (t)
      |  WHERE cm >= (n+1)//2 GROUP BY t
      |), dh AS (
      |  SELECT h.t, abs(h.c - m.med) AS dv, SUM(h.k) AS k
      |  FROM h JOIN med m ON m.t = h.t GROUP BY h.t, abs(h.c - m.med)
      |), dcum AS (
      |  SELECT t, dv, SUM(k) OVER (PARTITION BY t ORDER BY dv) AS cm FROM dh
      |), mad AS (
      |  SELECT t, MIN(dv) AS mad FROM dcum JOIN n USING (t)
      |  WHERE cm >= (n+1)//2 GROUP BY t
      |), outl AS (
      |  SELECT h.t, SUM(CASE WHEN abs(h.c - m.med) > 3*d.mad THEN h.k ELSE 0 END) AS n_out
      |  FROM h JOIN med m ON m.t = h.t JOIN mad d ON d.t = h.t GROUP BY h.t
      |)
      |SELECT t AS event_type, CAST(n.n AS BIGINT) AS n,
      |  CAST(med AS BIGINT) AS median_cents, CAST(mad AS BIGINT) AS mad_cents,
      |  CAST(n_out AS BIGINT) AS n_outliers,
      |  CAST(n_out*1000000//n.n AS BIGINT) AS outlier_ppm
      |FROM n JOIN med USING (t) JOIN mad USING (t) JOIN outl USING (t)
      |ORDER BY event_type""") { (s, d) =>
    // Round 12 (guide §2.4 — two operations keyed the same way share
    // one exchange; §1.2 — fewer sequential jobs): the previous
    // spelling materialized n/med/mad as separate frames and attached
    // them with FOUR broadcast joins — each broadcast is its own
    // driver-synchronized job, so the query was ~8 sequential jobs of
    // sub-second work. Everything here is per-type state over the
    // (t, c) histogram, so the medians attach as WINDOW aggregates over
    // the partition they are computed from (med = MIN(c | cm ≥ ⌈n/2⌉)
    // as a conditional min over the whole t-partition — same integer
    // definition, no join), and the whole query is ONE linear chain:
    // scan → (t,c) agg → t-windows → (t,dv) agg → t-windows → t agg.
    // No checkpoint either: nothing reads the histogram twice anymore.
    // Cell-cardinality assumption (round-12 ADVICE): the unordered
    // wAll aggregates buffer ONE event type's (t, c)/(t, dv) histogram
    // per task, so parallelism is |event_types| and per-task state is
    // O(distinct cents per type) — bounded by the value range (cents
    // grid), not row count. A future fixture with an unbounded value
    // range would need the old broadcast-join spelling back.
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy("t").orderBy("c")
    val wd = Window.partitionBy("t").orderBy("dv")
    val wAll = Window.partitionBy("t")
    val h = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("t"), floor(col("value") * 100).cast("long").as("c"))
      .groupBy("t", "c").agg(count(lit(1)).as("k"))
    val hm = h
      .withColumn("cm", sum("k").over(wc))
      .withColumn("n", sum("k").over(wAll))
      .withColumn("med",
        min(when(col("cm") >= floor((col("n") + 1) / 2), col("c"))).over(wAll))
    val dm = hm
      .groupBy(col("t"), abs(col("c") - col("med")).as("dv"))
      .agg(sum("k").as("k"), max("n").as("n"), max("med").as("med"))
      .withColumn("cm", sum("k").over(wd))
      .withColumn("mad",
        min(when(col("cm") >= floor((col("n") + 1) / 2), col("dv"))).over(wAll))
    dm.groupBy("t")
      .agg(max("n").as("n"), max("med").as("med"), max("mad").as("mad"),
        sum(when(col("dv") > col("mad") * 3, col("k")).otherwise(0L)).as("n_out"))
      .select(col("t").as("event_type"), col("n"),
        col("med").as("median_cents"), col("mad").as("mad_cents"),
        col("n_out").as("n_outliers"),
        floor(col("n_out") * 1000000L / col("n")).cast("long").as("outlier_ppm"))
      .orderBy("event_type")
  }

  /** q178 — per-group OLS time trend: daily revenue cents per event
    * type regressed on the day index, closed-form slope and intercept
    * from the five classic sums (n, Σx, Σy, Σx², Σxy) — q112 measures
    * association between metrics; this fits the TIME trend per group.
    * Day index is days since the global first day (broadcast scalar),
    * so x stays tiny (≤ span in days) and every sum is an exact BIGINT;
    * the final divisions run double-on-both-engines (num < 2^53 — the
    * 30-day × daily-cents product is ~1e13 at sf1), so floor() is
    * bit-identical between Spark and DuckDB.
    *
    * Scale: one (type, day) partial agg collapses the corpus to
    * |types|·|days| rows; everything after is arithmetic on that tiny
    * frame. Groups whose x-variance is zero (single active day) are
    * excluded — the regression is undefined there. */
  val q178TrendOls: Q = Q(
    "q178_trend_ols",
    """WITH ev AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |    CAST(FLOOR(value*100) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL
      |), daily AS (
      |  SELECT t, day, SUM(c) AS y FROM ev GROUP BY t, day
      |), mind AS (
      |  SELECT MIN(day) AS mind FROM daily
      |), xy AS (
      |  SELECT t, CAST(datediff('day', mind, day) AS BIGINT) AS x, y
      |  FROM daily CROSS JOIN mind
      |), a AS (
      |  SELECT t, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x*x) AS sxx, SUM(x*y) AS sxy
      |  FROM xy GROUP BY t
      |)
      |SELECT t AS event_type, CAST(n AS BIGINT) AS n_days,
      |  CAST(sy AS BIGINT) AS total_cents,
      |  CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx)) AS BIGINT)
      |    AS slope_cents_per_day,
      |  CAST(FLOOR(CAST(sy*sxx - sx*sxy AS DOUBLE) / (n*sxx - sx*sx)) AS BIGINT)
      |    AS intercept_cents
      |FROM a WHERE n*sxx > sx*sx
      |ORDER BY event_type""") { (s, d) =>
    val daily = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("t"), to_date(col("ts")).as("day"),
        floor(col("value") * 100).cast("long").as("c"))
      .groupBy("t", "day").agg(sum("c").as("y"))
      .transform(Materialize.snapshot) // |types|·|days| rows; min-day scalar + sums both read it
    val mind = daily.agg(min("day").as("mind"))
    val a = daily.crossJoin(broadcast(mind))
      .select(col("t"), datediff(col("day"), col("mind")).cast("long").as("x"), col("y"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    a.filter(col("n") * col("sxx") > col("sx") * col("sx"))
      .select(col("t").as("event_type"), col("n").as("n_days"),
        col("sy").as("total_cents"),
        floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))).cast("long")
          .as("slope_cents_per_day"),
        floor((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))).cast("long")
          .as("intercept_cents"))
      .orderBy("event_type")
  }

  /** q180 — Gini revenue concentration per market segment, computed
    * from the per-customer revenue HISTOGRAM (q175's move applied to an
    * order statistic that normally demands a global sort): with revenue
    * quantized to whole dollars and grouped to (segment, v, k) cells,
    * the rank-weighted sum Σ i·x_i over ascending ranks i collapses per
    * cell to v·k·(2·c_lo + k + 1)/2 where c_lo is the running count
    * below the cell — one window over CELLS, never a row-level sort.
    * Gini = (2Σi·x_i − (n+1)·Σx) / (n·Σx), emitted in ppm. Dollars (not
    * cents) keep 2Σi·x_i ≈ n²·x̄ inside BIGINT through sf10+; the 100 TB
    * path swaps the two accumulators to DECIMAL(38,0). The final ratio
    * runs double-on-both-engines (identical IEEE ops on identical
    * BIGINTs), so the floor is bit-identical even above 2^53.
    *
    * Scale: per-customer partial agg, broadcast customer-dim join for
    * the segment, histogram partial agg, then windows over ≤|distinct
    * revenue| cells per segment. Purchasing customers only. */
  val q180GiniConcentration: Q = Q(
    "q180_gini_concentration",
    """WITH r AS (
      |  SELECT o_custkey, CAST(FLOOR(SUM(o_totalprice)) AS BIGINT) AS rev
      |  FROM orders GROUP BY o_custkey
      |), seg AS (
      |  SELECT c.c_mktsegment AS segment, r.rev
      |  FROM r JOIN customer c ON c.c_custkey = r.o_custkey
      |), h AS (
      |  SELECT segment, rev AS v, COUNT(*) AS k FROM seg GROUP BY segment, rev
      |), cum AS (
      |  SELECT segment, v, k,
      |    SUM(k) OVER (PARTITION BY segment ORDER BY v) - k AS c_lo
      |  FROM h
      |), a AS (
      |  SELECT segment, SUM(k) AS n, SUM(v*k) AS t,
      |    SUM(v*k*(2*c_lo + k + 1)) AS two_si
      |  FROM cum GROUP BY segment
      |)
      |SELECT segment, CAST(n AS BIGINT) AS n_customers,
      |  CAST(t AS BIGINT) AS total_dollars,
      |  CAST(FLOOR(CAST(two_si - (n+1)*t AS DOUBLE) * 1000000
      |    / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))) AS BIGINT) AS gini_ppm
      |FROM a ORDER BY segment""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val r = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(floor(sum("o_totalprice")).cast("long").as("rev"))
    val seg = r.join(
        broadcast(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment"))),
        "o_custkey")
      .groupBy("segment", "rev").agg(count(lit(1)).as("k"))
    val w = Window.partitionBy("segment").orderBy("v")
    val a = seg.select(col("segment"), col("rev").as("v"), col("k"))
      .withColumn("c_lo", sum("k").over(w) - col("k"))
      .groupBy("segment")
      .agg(sum("k").as("n"), sum(col("v") * col("k")).as("t"),
        sum(col("v") * col("k") * (col("c_lo") * 2 + col("k") + 1)).as("two_si"))
    a.select(col("segment"), col("n").as("n_customers"),
        col("t").as("total_dollars"),
        floor((col("two_si") - (col("n") + 1) * col("t")).cast("double") * 1000000d /
          (col("n").cast("double") * col("t").cast("double"))).cast("long")
          .as("gini_ppm"))
      .orderBy("segment")
  }

  /** q182 — unpivot/melt: q48's wide (priority × status-columns) revenue
    * table folded back to long (priority, status, revenue) rows with
    * Spark's native `unpivot` (Catalyst `Expand` under the hood — one
    * pass, no self-union). Null cells are RETAINED (a missing
    * combination is a fact worth keeping in the long form); the oracle
    * spells the relational definition, a UNION ALL per measure column.
    * Wide→long is the other half of the reshape surface q48 opened. */
  val q182Unpivot: Q = Q(
    "q182_unpivot",
    """WITH wide AS (
      |  SELECT o_orderpriority,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
      |    CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
      |  FROM orders GROUP BY o_orderpriority
      |)
      |SELECT o_orderpriority, status, revenue FROM (
      |  SELECT o_orderpriority, 'F' AS status, rev_f AS revenue FROM wide
      |  UNION ALL
      |  SELECT o_orderpriority, 'O' AS status, rev_o AS revenue FROM wide
      |  UNION ALL
      |  SELECT o_orderpriority, 'P' AS status, rev_p AS revenue FROM wide
      |)
      |ORDER BY o_orderpriority, status""") { (s, d) =>
    val wide = Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "F", dec(col("o_totalprice"))))
          .cast("double").as("rev_f"),
        sum(when(col("o_orderstatus") === "O", dec(col("o_totalprice"))))
          .cast("double").as("rev_o"),
        sum(when(col("o_orderstatus") === "P", dec(col("o_totalprice"))))
          .cast("double").as("rev_p"))
    wide.unpivot(
        Array(col("o_orderpriority")),
        Array(col("rev_f"), col("rev_o"), col("rev_p")),
        "status", "revenue")
      .select(col("o_orderpriority"),
        upper(substring(col("status"), 5, 1)).as("status"), col("revenue"))
      .orderBy("o_orderpriority", "status")
  }

  /** q185 — RFM segmentation: every user scored on Recency (days since
    * last event), Frequency (event count) and Monetary (purchase cents,
    * zero-filled), each dimension cut into terciles, and the 27 possible
    * (r, f, m) segments reported with population and mean metrics — the
    * classic CRM cohorting move. Tercile thresholds come from the q175
    * histogram-crossing trick: each dimension collapses to value-
    * domain-bounded cells (monetary is bucketed on whole DOLLARS
    * exactly so its cell table stays bounded by the value range, not
    * the user count), one running-count window over cells reads off
    * t1 = min v with cum ≥ ⌈n/3⌉ and t2 at ⌈2n/3⌉, and the six scalars
    * broadcast back onto users. Bucket = 1 + (v>t1) + (v>t2). No
    * row-level sort, no ntile over users.
    *
    * Scale: one user-keyed partial agg, three cell histograms, one
    * broadcast-join bucketing pass, 27-row output. */
  val q185RfmSegments: Q = Q(
    "q185_rfm_segments",
    """WITH u AS (
      |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
      |    COUNT(*) AS f,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS m
      |  FROM events GROUP BY user_id
      |), mx AS (
      |  SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events
      |), rfm AS (
      |  SELECT user_id, CAST(datediff('day', last_day, maxd) AS BIGINT) AS r,
      |    f, m, m//100 AS md
      |  FROM u CROSS JOIN mx
      |), n AS (
      |  SELECT COUNT(*) AS n FROM rfm
      |), tr AS (
      |  SELECT MIN(CASE WHEN cm >= (n+2)//3 THEN v END) AS t1,
      |    MIN(CASE WHEN cm >= (2*n+2)//3 THEN v END) AS t2
      |  FROM (SELECT r AS v, SUM(COUNT(*)) OVER (ORDER BY r) AS cm
      |        FROM rfm GROUP BY r) CROSS JOIN n
      |), tf AS (
      |  SELECT MIN(CASE WHEN cm >= (n+2)//3 THEN v END) AS t1,
      |    MIN(CASE WHEN cm >= (2*n+2)//3 THEN v END) AS t2
      |  FROM (SELECT f AS v, SUM(COUNT(*)) OVER (ORDER BY f) AS cm
      |        FROM rfm GROUP BY f) CROSS JOIN n
      |), tm AS (
      |  SELECT MIN(CASE WHEN cm >= (n+2)//3 THEN v END) AS t1,
      |    MIN(CASE WHEN cm >= (2*n+2)//3 THEN v END) AS t2
      |  FROM (SELECT md AS v, SUM(COUNT(*)) OVER (ORDER BY md) AS cm
      |        FROM rfm GROUP BY md) CROSS JOIN n
      |), b AS (
      |  SELECT
      |    1 + CASE WHEN r > tr.t1 THEN 1 ELSE 0 END
      |      + CASE WHEN r > tr.t2 THEN 1 ELSE 0 END AS r_b,
      |    1 + CASE WHEN f > tf.t1 THEN 1 ELSE 0 END
      |      + CASE WHEN f > tf.t2 THEN 1 ELSE 0 END AS f_b,
      |    1 + CASE WHEN md > tm.t1 THEN 1 ELSE 0 END
      |      + CASE WHEN md > tm.t2 THEN 1 ELSE 0 END AS m_b,
      |    f, m
      |  FROM rfm CROSS JOIN tr CROSS JOIN tf CROSS JOIN tm
      |)
      |SELECT CAST(r_b AS BIGINT) AS r_b, CAST(f_b AS BIGINT) AS f_b,
      |  CAST(m_b AS BIGINT) AS m_b,
      |  COUNT(*) AS n_users,
      |  CAST(FLOOR(CAST(SUM(f) AS DOUBLE) * 1000 / COUNT(*)) AS BIGINT)
      |    AS mean_events_milli,
      |  CAST(FLOOR(CAST(SUM(m) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean_cents
      |FROM b GROUP BY r_b, f_b, m_b
      |ORDER BY r_b, f_b, m_b""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("f"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("m"))
    val mx = Tables.events(s, d).agg(max(to_date(col("ts"))).as("maxd"))
    val rfm = u.crossJoin(broadcast(mx))
      .select(col("user_id"), datediff(col("maxd"), col("last_day")).cast("long").as("r"),
        col("f"), col("m"), (col("m") / 100).cast("long").as("md"))
      .transform(Materialize.snapshot) // three histograms + the bucketing pass all read it
    val n = rfm.agg(count(lit(1)).as("n"))
    // tercile thresholds off the value histogram: cells are value-domain
    // bounded (r: days, f: per-user counts, md: whole dollars), so the
    // one global running-count window runs over a tiny cell table
    def thr(dim: String, p: String): DataFrame = {
      val w = Window.orderBy("v")
      rfm.groupBy(col(dim).as("v")).agg(count(lit(1)).as("k"))
        .withColumn("cm", sum("k").over(w))
        .crossJoin(broadcast(n))
        .agg(min(when(col("cm") >= floor((col("n") + 2) / 3), col("v"))).as(s"t1$p"),
          min(when(col("cm") >= floor((col("n") * 2 + 2) / 3), col("v"))).as(s"t2$p"))
    }
    def bucket(v: org.apache.spark.sql.Column, t1: org.apache.spark.sql.Column,
        t2: org.apache.spark.sql.Column) =
      lit(1) + when(v > t1, 1).otherwise(0) + when(v > t2, 1).otherwise(0)
    rfm.crossJoin(broadcast(thr("r", "r"))).crossJoin(broadcast(thr("f", "f")))
      .crossJoin(broadcast(thr("md", "m")))
      .select(bucket(col("r"), col("t1r"), col("t2r")).cast("long").as("r_b"),
        bucket(col("f"), col("t1f"), col("t2f")).cast("long").as("f_b"),
        bucket(col("md"), col("t1m"), col("t2m")).cast("long").as("m_b"),
        col("f"), col("m"))
      .groupBy("r_b", "f_b", "m_b")
      .agg(count(lit(1)).as("n_users"),
        floor(sum("f").cast("double") * 1000d / count(lit(1)))
          .cast("long").as("mean_events_milli"),
        floor(sum("m").cast("double") / count(lit(1)))
          .cast("long").as("mean_cents"))
      .orderBy("r_b", "f_b", "m_b")
  }

  /** q193 — spatial radius self-join via grid-cell bucketing: all
    * customer pairs within 1.0° of each other on a synthetic flat
    * plane, WITHOUT the all-pairs cross join. Coordinates are a
    * deterministic fixture stand-in (two quadratic integer mixes of
    * c_custkey → µdeg positions on a 60°×120° plane; a *linear* LCG
    * would put consecutive keys on a sparse lattice with no close
    * pairs — the k² term breaks the lattice; a real deployment reads
    * real coordinates), but the join geometry is the production shape: each
    * point lands in one 1°×1° home cell, the probe side explodes to
    * its 3×3 cell neighborhood, and candidates meet in a hash join on
    * the cell key — because the radius equals the cell size, every
    * qualifying pair shares (home cell, one of 9 probe cells) EXACTLY
    * once, so no post-join dedup. Distances stay in exact integer
    * µdeg² (squared Euclidean; no haversine transcendentals to drift
    * cross-engine). Flat-grid semantics: no ±180° wrap (documented,
    * matches the oracle).
    *
    * Scale: candidate volume is 9× points keyed by cell vs n² for the
    * cross join; both sides shuffle on the cell key only (ids + 2
    * coords, fixed width). Dense cells degrade locally, not globally —
    * the skew answer is the same salting/AQE toolkit as any hash join
    * (q51/q143). Ref: the engine-extension mandate (SURVEY §2.4),
    * DSQ-family grid joins in PAPERS.md. */
  val q193GridRadiusJoin: Q = Q(
    "q193_grid_radius_join",
    """WITH p AS (
      |  SELECT c_custkey AS k,
      |    (CAST(c_custkey AS BIGINT) * c_custkey * 31
      |      + CAST(c_custkey AS BIGINT) * 7919) % 60000001 AS y,
      |    (CAST(c_custkey AS BIGINT) * c_custkey * 37
      |      + CAST(c_custkey AS BIGINT) * 104729) % 120000001 AS x
      |  FROM customer
      |)
      |SELECT a.k AS a_key, b.k AS b_key,
      |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
      |FROM p a JOIN p b ON a.k < b.k
      |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      |  <= 1000000000000
      |ORDER BY a_key, b_key""") { (s, d) =>
    val cellSz = 1000000L // 1° in µdeg = the search radius
    val k = col("c_custkey").cast("long")
    val p = Tables.customer(s, d).select(col("c_custkey").as("k"),
      ((k * k * 31L + k * 7919L) % 60000001L).as("y"),
      ((k * k * 37L + k * 104729L) % 120000001L).as("x"))
    val home = p.select(col("k").as("a_key"), col("x").as("ax"), col("y").as("ay"),
      floor(col("x") / cellSz).cast("long").as("cx"),
      floor(col("y") / cellSz).cast("long").as("cy"))
    val offs = array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
      struct(lit(i.toLong).as("di"), lit(j.toLong).as("dj")))): _*)
    val probe = p.select(col("k").as("b_key"), col("x").as("bx"), col("y").as("by"),
        floor(col("x") / cellSz).cast("long").as("hx"),
        floor(col("y") / cellSz).cast("long").as("hy"))
      .withColumn("o", explode(offs))
      .select(col("b_key"), col("bx"), col("by"),
        (col("hx") + col("o.di")).as("cx"), (col("hy") + col("o.dj")).as("cy"))
    val dsq = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    home.join(probe, Seq("cx", "cy"))
      .filter(col("a_key") < col("b_key") && dsq <= cellSz * cellSz)
      .select(col("a_key"), col("b_key"), dsq.as("dist_sq"))
      .orderBy("a_key", "b_key")
  }

  /** q194 — functional-dependency audit: for five candidate FDs across
    * four tables, measure how close each X→Y is to holding — the
    * profiling step behind normalization, key discovery, and
    * dirty-data triage (TANE's g3 error, computed exactly). Per FD:
    * distinct LHS keys, keys violating (≥2 distinct RHS values),
    * violating rows = rows − Σ_key max RHS-group count (= the minimum
    * deletions to make the FD hold, g3), and g3 as ppm of rows.
    *
    * Scale: each FD is two collapsing aggregations — (X,Y) partials
    * map-side, then X-level rollup — never a self-join; the five FDs
    * union after reducing to one row each. */
  val q194FdAudit: Q = {
    def fdSql(tbl: String, lhs: String, rhs: String): String =
      s"""SELECT '$tbl.$lhs->$rhs' AS fd, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |  COUNT(*) AS n_keys,
         |  COUNT(CASE WHEN n_rhs > 1 THEN 1 END) AS viol_keys,
         |  CAST(SUM(cnt) - SUM(mx) AS BIGINT) AS viol_rows,
         |  CAST(FLOOR(CAST(SUM(cnt) - SUM(mx) AS DOUBLE) * 1000000
         |    / SUM(cnt)) AS BIGINT) AS g3_ppm
         |FROM (
         |  SELECT $lhs, SUM(c) AS cnt, MAX(c) AS mx, COUNT(*) AS n_rhs
         |  FROM (SELECT $lhs, $rhs, COUNT(*) AS c FROM $tbl GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    val fds = Seq(
      ("part", "p_brand", "p_type"), ("part", "p_type", "p_brand"),
      ("customer", "c_mktsegment", "c_nationkey"),
      ("orders", "o_custkey", "o_orderpriority"),
      ("lineitem", "l_partkey", "l_suppkey"))
    Q("q194_fd_audit",
      fds.map { case (t, l, r) => fdSql(t, l, r) }
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd")) { (s, d) =>
      def audit(df: DataFrame, tbl: String, lhs: String, rhs: String) =
        df.groupBy(col(lhs), col(rhs)).agg(count(lit(1)).as("c"))
          .groupBy(col(lhs))
          .agg(sum("c").as("cnt"), max("c").as("mx"), count(lit(1)).as("n_rhs"))
          .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
            count(when(col("n_rhs") > 1, 1)).as("viol_keys"),
            (sum("cnt") - sum("mx")).as("viol_rows"),
            floor((sum("cnt") - sum("mx")).cast("double") * 1000000d / sum("cnt"))
              .cast("long").as("g3_ppm"))
          .select(lit(s"$tbl.$lhs->$rhs").as("fd"), col("n_rows"), col("n_keys"),
            col("viol_keys"), col("viol_rows"), col("g3_ppm"))
      val parts = Tables.part(s, d)
      audit(parts, "part", "p_brand", "p_type")
        .unionByName(audit(parts, "part", "p_type", "p_brand"))
        .unionByName(audit(Tables.customer(s, d), "customer", "c_mktsegment", "c_nationkey"))
        .unionByName(audit(Tables.orders(s, d), "orders", "o_custkey", "o_orderpriority"))
        .unionByName(audit(Tables.lineitem(s, d), "lineitem", "l_partkey", "l_suppkey"))
        .orderBy("fd")
    }
  }

  /** q195 — complete edit-distance≤1 similarity join via
    * deletion-neighborhood indexing (FastSS; Bocek et al. 2007, public
    * algorithm): every noisy string joins every canonical string at
    * Levenshtein distance ≤ 1, with GUARANTEED recall — unlike q53's
    * heuristic suffix blocking, which misses pairs whose block key was
    * itself corrupted. Strings are deterministic 8-char base-26 spellings
    * of c_custkey (alphabet-substring encoding — identical on both
    * engines); the noisy side plants one deletion (k%3=0), one
    * substitution (k%3=1) or nothing (k%3=2) at position k%8. Eight
    * chars make the spelling KEY-INJECTIVE up to 26⁸ ≈ 2.1e11 — the
    * ×16 scale-up's 2³²-stride key universes stay collision-free, so
    * true pairs grow 16× with the data instead of the quadratic
    * chance-pair blowup a saturated 4-char space (26⁴ = 457k names for
    * 240k keys at sf1) would measure.
    *
    * Index: each side emits (variant, pos) = the string itself tagged
    * −1 plus each delete-one-char variant tagged by position. Two
    * strings are at ED≤1 IFF variants collide with (both −1) ↔ equal;
    * (exactly one −1) ↔ insert/delete; (same pos ≥ 0) ↔ substitution —
    * so the candidate set is EXACT, the final `levenshtein` is a
    * belt-and-braces verify, and the DISTINCT collapses the L+1
    * duplicate collisions of identical strings.
    *
    * Scale: the exchange carries O(n·(L+1)) short fixed-width variant
    * rows — never the n² cross join the oracle runs; candidate volume
    * is bounded by true-match volume (exactness), so no verify blowup.
    * Ref: record-linkage mandate (SURVEY §2.3), q53's candidate/verify
    * shape with the recall hole closed. */
  val q195EditDistanceJoin: Q = {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // 8-char base-26 spelling, most-significant digit first (SQL text)
    val nameSql =
      s"""substr('$alpha', (k // 8031810176) % 26 + 1, 1) ||
         |    substr('$alpha', (k // 308915776) % 26 + 1, 1) ||
         |    substr('$alpha', (k // 11881376) % 26 + 1, 1) ||
         |    substr('$alpha', (k // 456976) % 26 + 1, 1) ||
         |    substr('$alpha', (k // 17576) % 26 + 1, 1) ||
         |    substr('$alpha', (k // 676) % 26 + 1, 1) ||
         |    substr('$alpha', (k // 26) % 26 + 1, 1) ||
         |    substr('$alpha', k % 26 + 1, 1)""".stripMargin
    Q("q195_edit_distance_join",
      s"""WITH canon AS (
         |  SELECT c_custkey AS ck, $nameSql AS canonical
         |  FROM (SELECT CAST(c_custkey AS BIGINT) AS k, c_custkey FROM customer)
         |), noisy AS (
         |  SELECT ck AS nk,
         |    CASE ck % 3
         |      WHEN 0 THEN substr(canonical, 1, ck % 8) || substr(canonical, ck % 8 + 2, 16)
         |      WHEN 1 THEN substr(canonical, 1, ck % 8) ||
         |        substr('$alpha', (ck * 17) % 26 + 1, 1) || substr(canonical, ck % 8 + 2, 16)
         |      ELSE canonical END AS noisy_name
         |  FROM canon
         |)
         |SELECT nk, noisy_name, ck, canonical,
         |  CAST(levenshtein(noisy_name, canonical) AS BIGINT) AS ed
         |FROM noisy, canon
         |WHERE levenshtein(noisy_name, canonical) <= 1
         |ORDER BY nk, ck""".stripMargin) { (s, d) =>
      val k = col("c_custkey").cast("long")
      // 8-char base-26 spelling (mirror of nameSql; Spark spells // as div)
      val canonical = concat(
        expr(s"substr('$alpha', (CAST(c_custkey AS BIGINT) div 8031810176) % 26 + 1, 1)"),
        expr(s"substr('$alpha', (CAST(c_custkey AS BIGINT) div 308915776) % 26 + 1, 1)"),
        expr(s"substr('$alpha', (CAST(c_custkey AS BIGINT) div 11881376) % 26 + 1, 1)"),
        expr(s"substr('$alpha', (CAST(c_custkey AS BIGINT) div 456976) % 26 + 1, 1)"),
        expr(s"substr('$alpha', (CAST(c_custkey AS BIGINT) div 17576) % 26 + 1, 1)"),
        expr(s"substr('$alpha', (CAST(c_custkey AS BIGINT) div 676) % 26 + 1, 1)"),
        expr(s"substr('$alpha', (CAST(c_custkey AS BIGINT) div 26) % 26 + 1, 1)"),
        expr(s"substr('$alpha', CAST(c_custkey AS BIGINT) % 26 + 1, 1)"))
      // barrier (round 12): the one-row-group customer scan plans a
      // single partition, so the ×(L+1) variant explode AND its 22 MiB
      // shuffle write ran in ONE task (graft.Prof: a 1-task 1.7 s CPU
      // stage). The barrier exchange ships (ck, canonical) — ~24 B/row —
      // and the explode + exchange write go 32-way. No-op on
      // multi-split layouts.
      val canon = graft.Q.stageBarrier(Tables.customer(s, d)
        .select(k.as("ck"), canonical.as("canonical")))
      val noisy = canon.select(col("ck").as("nk"),
        when(col("ck") % 3 === 0,
          concat(expr("substr(canonical, 1, CAST(ck % 8 AS INT))"),
            expr("substr(canonical, CAST(ck % 8 AS INT) + 2, 16)")))
          .when(col("ck") % 3 === 1,
            concat(expr("substr(canonical, 1, CAST(ck % 8 AS INT))"),
              expr(s"substr('$alpha', CAST((ck * 17) % 26 AS INT) + 1, 1)"),
              expr("substr(canonical, CAST(ck % 8 AS INT) + 2, 16)")))
          .otherwise(col("canonical")).as("noisy_name"))
      // (variant, pos) index: the string tagged -1 + delete-one variants
      def variants(strCol: String): Column = expr(
        s"""transform(sequence(-1, length($strCol) - 1), i ->
           |  struct(CASE WHEN i = -1 THEN $strCol
           |    ELSE concat(substr($strCol, 1, i), substr($strCol, i + 2, 10))
           |    END AS v, i AS p))""".stripMargin)
      val nVar = noisy.select(col("nk"), col("noisy_name"),
        explode(variants("noisy_name")).as("o"))
        .select(col("nk"), col("noisy_name"), col("o.v").as("v"), col("o.p").as("pn"))
      val cVar = canon.select(col("ck"), col("canonical"),
        explode(variants("canonical")).as("o"))
        .select(col("ck"), col("canonical"), col("o.v").as("v"), col("o.p").as("pc"))
      nVar.join(cVar, "v")
        .filter(col("pn") === -1 || col("pc") === -1 || col("pn") === col("pc"))
        .select(col("nk"), col("noisy_name"), col("ck"), col("canonical"))
        .distinct()
        .withColumn("ed", levenshtein(col("noisy_name"), col("canonical")).cast("long"))
        .filter(col("ed") <= 1)
        .orderBy("nk", "ck")
    }
  }

  /** q196 — 2-D skyline (Pareto frontier) of parts: maximize p_size,
    * minimize price — the points no other point dominates (≥ in both
    * dims, > in one). Spelled as a CELL-HISTOGRAM skyline: p_size has a
    * bounded domain, so one size-keyed aggregation collapses the table
    * to ≤|sizes| (size, min-price) cells, the frontier is decided by an
    * exclusive running-min window over those CELLS (never a global
    * row-level window), and survivors are recovered by a broadcast join
    * of the tiny frontier back to the scan. Equal points both survive
    * (neither strictly dominates) — the oracle's NOT EXISTS spells the
    * same rule. Prices stay exact BIGINT cents.
    *
    * Scale: one exchange of (size, min) partials — map-side combine
    * collapses to the value domain; the window and frontier live on
    * ≤|sizes| rows; the verify join broadcasts. The D>2 generalization
    * keeps the same shape: grid-cell prune → per-cell local skyline →
    * merge of local skylines (skyline(∪ skyline(Pᵢ)) = skyline(∪Pᵢ)). */
  val q196Skyline: Q = Q(
    "q196_skyline",
    """SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
      |  CAST(p_retailprice * 100 AS BIGINT) AS cents
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_size >= a.p_size AND b.p_retailprice <= a.p_retailprice
      |    AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice))
      |ORDER BY p_partkey""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.part(s, d).select(col("p_partkey"),
      col("p_size").cast("long").as("size"),
      (col("p_retailprice") * 100).cast("long").as("cents"))
    val cells = pts.groupBy("size").agg(min("cents").as("mn"))
    // exclusive running min over strictly larger sizes (cells only)
    val wLarger = Window.orderBy(col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = cells
      .withColumn("minLarger", min("mn").over(wLarger))
      .filter(col("minLarger").isNull || col("mn") < col("minLarger"))
      .select(col("size").as("f_size"), col("mn")) // renamed: frontier derives from pts
    pts.join(broadcast(frontier),
        col("size") === col("f_size") && col("cents") === col("mn"))
      .select(col("p_partkey"), col("size"), col("cents"))
      .orderBy("p_partkey")
  }

  /** q197 — Theil-Sen robust trend: the MEDIAN pairwise slope of daily
    * order revenue (and the median-residual intercept), the
    * outlier-resistant complement to q178's least-squares line (OLS
    * breaks down under a single corrupted day; Theil-Sen tolerates 29%
    * contamination). Slopes are exact integer milli-cents/day via the
    * documented FLOOR(a·scale/b) double (both engines floor the same
    * IEEE value); intercept arithmetic stays in BIGINT.
    *
    * Scale: the pair frame is days×(days−1)/2 — TIME-domain bounded
    * (~2.9M rows for a 7-year span) and independent of row count, so it
    * is cells², not data². The median comes from q153's value-domain
    * binary-search selection (log₂(range) conditional-count aggregates
    * over the checkpointed pair frame — no global sort at any size);
    * the intercept median reuses the same helper on the ~|days| cell
    * frame. Oracle ranks with ROW_NUMBER at oracle scale. */
  val q197TheilSen: Q = Q(
    "q197_theil_sen",
    """WITH cells AS (
      |  SELECT datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1
      |), slopes AS (
      |  SELECT CAST(FLOOR((b.rev - a.rev) * 1000.0 / (b.d - a.d)) AS BIGINT) AS sl
      |  FROM cells a JOIN cells b ON a.d < b.d
      |), ns AS (SELECT COUNT(*) AS n FROM slopes),
      |ranked AS (SELECT sl, ROW_NUMBER() OVER (ORDER BY sl) - 1 AS rk FROM slopes),
      |med AS (SELECT sl FROM ranked JOIN ns ON rk = (n - 1) // 2),
      |ics AS (
      |  SELECT rev * 1000 - med.sl * d AS ic FROM cells CROSS JOIN med
      |), ni AS (SELECT COUNT(*) AS n FROM ics),
      |iranked AS (SELECT ic, ROW_NUMBER() OVER (ORDER BY ic) - 1 AS rk FROM ics)
      |SELECT med.sl AS slope_milli, i.ic AS intercept_milli,
      |  CAST(ns.n AS BIGINT) AS n_pairs, CAST(ni.n AS BIGINT) AS n_days
      |FROM med, ns, ni, iranked i WHERE i.rk = (ni.n - 1) // 2""") { (s, d) =>
    import s.implicits._
    // kth-smallest (0-based) by HISTOGRAM selection: each pass buckets
    // the open value range into ≤ 2¹⁶ cells with ONE aggregate and
    // narrows to the bucket holding rank k — log₆₅₅₃₆(range) ≈ 2-3
    // passes where the bit-wise binary search (q153's shape) needs
    // log₂(range) ≈ 40. Driver state is O(buckets), not O(data) —
    // the same documented exception as q153's scalars. Exact: integer
    // bucket math, final pass groups by the value itself.
    // round 12 (guide §1.2 — fewer sequential driver jobs): the rank k
    // is always (n-1)/2, and n was a SEPARATE count() job before — one
    // agg now returns (min, max, count) so each median costs one fused
    // stats job + the histogram passes. Returns (median, n).
    def medianAndCount(df: DataFrame, c: String): (Long, Long) = {
      val h = df.agg(min(col(c)), max(col(c)), count(lit(1))).head()
      val n = h.getLong(2)
      var lo = h.getLong(0); var hi = h.getLong(1)
      var kk = (n - 1) / 2
      def cellPick(cells: Array[(Long, Long)]): (Long, Long) = {
        // (first cell where the running count passes kk, rank within it)
        var rem = kk
        cells.find { case (_, n) => if (rem < n) true else { rem -= n; false } }
          .map { case (cell, _) => (cell, rem) }
          .getOrElse(sys.error("rank out of range — counts drifted"))
      }
      while (hi - lo >= 65536L) {
        val width = (hi - lo) / 65536L + 1L
        val counts = Materialize.bounded(df.filter(col(c) >= lo && col(c) <= hi)
          .groupBy(expr(s"($c - $lo) div $width").as("b"))
          .agg(count(lit(1)).as("n")), 65536)
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val (b, rem) = cellPick(counts)
        kk = rem
        val newLo = lo + b * width
        hi = math.min(hi, newLo + width - 1)
        lo = newLo
      }
      val exact = Materialize.bounded(df.filter(col(c) >= lo && col(c) <= hi)
        .groupBy(col(c)).agg(count(lit(1)).as("n")), 65536) // range width < 65536
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      (cellPick(exact)._1, n)
    }
    val cells = Tables.orders(s, d)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1992-01-01"))).cast("long").as("d"))
      .agg(sum(dec(col("o_totalprice")) * 100).cast("long").as("rev"))
      .transform(Materialize.snapshot)
    // (a repartition of the probe side before the pair join was tried
    // in round 12 and REVERTED on measurement: spreading the
    // nested-loop probe over 32 partitions inflated total CPU ~15x —
    // per-task broadcast iteration overhead — for no wall win; the
    // |days|² pair pass is sub-second in one task at any fixture SF)
    val a = cells.select(col("d").as("da"), col("rev").as("ra"))
    val b = cells.select(col("d").as("db"), col("rev").as("rb"))
    val slopes = a.join(b, col("da") < col("db"))
      .select(floor((col("rb") - col("ra")) * lit(1000.0) / (col("db") - col("da")))
        .cast("long").as("sl"))
      .transform(Materialize.snapshot)
    val (slope, nPairs) = medianAndCount(slopes, "sl")
    // no checkpoint: ics is a narrow projection over the checkpointed
    // day cells — cheaper to re-project per pass than to stage (round 12)
    val ics = cells.select((col("rev") * 1000L - lit(slope) * col("d")).as("ic"))
    val (intercept, nDays) = medianAndCount(ics, "ic")
    Seq((slope, intercept, nPairs, nDays))
      .toDF("slope_milli", "intercept_milli", "n_pairs", "n_days")
  }

  /** q199 — hierarchical subtree rollup WITHOUT recursion: customers
    * form a synthetic decimal forest (parent(k) = k div 10, roots
    * 1..9 — the fixture stand-in for an org chart / account hierarchy /
    * category tree), and each existing node reports its depth, direct
    * children, subtree node count and subtree balance. The recursive
    * CTE a warehouse would write doesn't distribute; the scalable
    * spelling is ANCESTOR EXPLOSION: a fixed-depth hierarchy lets every
    * row emit its ≤ depth ancestors (k div 10^i) in the scan, and ONE
    * aggregation keyed on ancestor computes every subtree total
    * bottom-up-free. Depth is bounded by log₁₀(maxkey) ≤ 12 — data
    * scale adds rows, not depth.
    *
    * Scale: the exchange carries rows×depth fixed-width (ancestor, 1,
    * cents) partials that combine map-side; no iteration, no
    * driver-side tree. Balances stay exact BIGINT cents (acctbal may
    * be negative). */
  val q199HierarchyRollup: Q = Q(
    "q199_hierarchy_rollup",
    """WITH nodes AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer
      |), anc AS (
      |  SELECT k // CAST(POWER(10, t.i) AS BIGINT) AS v, k, cents
      |  FROM nodes CROSS JOIN (SELECT unnest(range(0, 12)) AS i) t
      |  WHERE k // CAST(POWER(10, t.i) AS BIGINT) >= 1
      |), sub AS (
      |  SELECT v, COUNT(*) AS subtree_n, SUM(cents) AS subtree_cents
      |  FROM anc GROUP BY v
      |), kids AS (
      |  SELECT k // 10 AS v, COUNT(*) AS n_children
      |  FROM nodes WHERE k >= 10 GROUP BY 1
      |)
      |SELECT n.k AS node, CAST(length(CAST(n.k AS VARCHAR)) - 1 AS BIGINT) AS depth,
      |  CAST(COALESCE(kids.n_children, 0) AS BIGINT) AS n_children,
      |  CAST(sub.subtree_n AS BIGINT) AS subtree_n,
      |  CAST(sub.subtree_cents AS BIGINT) AS subtree_cents
      |FROM nodes n
      |JOIN sub ON sub.v = n.k
      |LEFT JOIN kids ON kids.v = n.k
      |ORDER BY node""") { (s, d) =>
    val nodes = Tables.customer(s, d).select(
      col("c_custkey").cast("long").as("k"),
      (dec(col("c_acctbal")) * 100).cast("long").as("cents"))
    val anc = nodes
      .select(explode(array((0 until 12).map(i =>
        (col("k") / lit(math.pow(10, i).toLong)).cast("long")): _*)).as("v"),
        col("cents"))
      .filter(col("v") >= 1)
    val sub = anc.groupBy("v")
      .agg(count(lit(1)).as("subtree_n"), sum("cents").as("subtree_cents"))
    val kids = nodes.filter(col("k") >= 10)
      .groupBy((col("k") / 10).cast("long").as("v"))
      .agg(count(lit(1)).as("n_children"))
    nodes.select(col("k"))
      .join(sub, col("k") === sub("v")).drop("v")
      .join(kids, nodes("k") === kids("v"), "left").drop("v")
      .select(col("k").as("node"),
        (length(col("k").cast("string")) - 1).cast("long").as("depth"),
        coalesce(col("n_children"), lit(0L)).as("n_children"),
        col("subtree_n"), col("subtree_cents"))
      .orderBy("node")
  }

  /** q200 — Benford first-digit audit: the distribution of leading
    * significant digits of order totals against Benford's law — the
    * classic forensic-accounting / synthetic-data smell test (organic
    * multiplicative processes follow log₁₀(1+1/d); fabricated or
    * uniform-generated values don't, and TPC-H's uniform prices fail
    * loudly — which is the point of the audit). Expected shares are the
    * nine Benford ppm constants as LITERALS (no cross-engine log), the
    * observed share and deviation are integer ppm.
    *
    * Scale: one scan → 9 cells; everything after is arithmetic on the
    * cell row. */
  val q200BenfordAudit: Q = {
    val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L) // floor(1e6·log10(1+1/d)), d=1..9
    val benfordSql = benford.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
    Q("q200_benford_audit",
      s"""WITH obs AS (
         |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |    COUNT(*) AS n
         |  FROM orders GROUP BY 1
         |), tot AS (SELECT SUM(n) AS t FROM obs),
         |exp AS (SELECT * FROM (VALUES $benfordSql) AS e(digit, benford_ppm))
         |SELECT CAST(e.digit AS BIGINT) AS digit, CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
         |  CAST(FLOOR(CAST(COALESCE(o.n, 0) AS DOUBLE) * 1000000 / tot.t) AS BIGINT)
         |    AS obs_ppm,
         |  CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
         |  CAST(FLOOR(CAST(COALESCE(o.n, 0) AS DOUBLE) * 1000000 / tot.t) AS BIGINT)
         |    - e.benford_ppm AS dev_ppm
         |FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot
         |ORDER BY digit""".stripMargin) { (s, d) =>
      import s.implicits._
      val obs = Tables.orders(s, d)
        .select(substring((dec(col("o_totalprice")) * 100).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum("n").as("t"))
      val exp = benford.zipWithIndex
        .map { case (p, i) => ((i + 1).toLong, p) }.toDF("digit", "benford_ppm")
      val ppm = floor(coalesce(col("n"), lit(0L)).cast("double") * 1000000d / col("t"))
        .cast("long")
      broadcast(exp).join(obs, Seq("digit"), "left")
        .crossJoin(broadcast(tot)) // 1-row total: scale-safe scalar
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
          ppm.as("obs_ppm"), col("benford_ppm"),
          (ppm - col("benford_ppm")).as("dev_ppm"))
        .orderBy("digit")
    }
  }

  /** q208 — equi-depth histogram build: the 16-bucket depth histogram
    * of lineitem prices that a cost-based optimizer's stats collector
    * materializes (q189 consumes exactly this kind of stats; equi-WIDTH
    * histograms mislead on skew — equi-depth puts the resolution where
    * the rows are). Each distinct value v with cumulative row rank
    * cum(v) lands wholly in bucket (cum−1)·k div N (values are
    * indivisible, so boundary-straddling values go to the bucket of
    * their last rank — the textbook convention); per bucket: row count,
    * distinct values, lo/hi boundaries.
    *
    * Scale: one scan collapses to (value, count) cells map-side; the
    * cumulative window and bucket math run on VALUE-domain cells; the
    * N scalar broadcasts. Integer `div` throughout — no 2^53 cliff. */
  val q208EquiDepthHist: Q = Q(
    "q208_equidepth_hist",
    """WITH cells AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1
      |), cum AS (
      |  SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS c FROM cells
      |), nn AS (SELECT SUM(cnt) AS n FROM cells)
      |SELECT CAST((c - 1) * 16 // nn.n AS BIGINT) AS bucket,
      |  CAST(SUM(cnt) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_values,
      |  MIN(v) AS lo_cents, MAX(v) AS hi_cents
      |FROM cum CROSS JOIN nn
      |GROUP BY 1 ORDER BY bucket""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.lineitem(s, d)
      .groupBy((dec(col("l_extendedprice")) * 100).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = cells.withColumn("c", sum("cnt").over(Window.orderBy("v")))
    val nn = cells.agg(sum("cnt").as("n"))
    cum.crossJoin(broadcast(nn)) // 1-row total: scale-safe scalar
      .groupBy(expr("(c - 1) * 16 div n").as("bucket"))
      .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_values"),
        min("v").as("lo_cents"), max("v").as("hi_cents"))
      .orderBy("bucket")
  }

  /** q210 — monetary-unit (dollar-unit) sampling: the audit-sampling
    * standard where selection probability is proportional to an order's
    * monetary value — every 1/200th cumulative cent is a sampling
    * point, and an order is selected iff a point lands inside its
    * cumulative-cents interval (big-ticket orders can absorb several
    * points; `n_points` says how many). Deterministic by construction:
    * fixed key order, integer point grid from the corpus total.
    *
    * Scale: the global running sum over orders is graft.Rank's (range
    * partitions in parallel, no single-task window), and the interval
    * is a literal from the total Rank returns. */
  val q210MonetaryUnitSample: Q = Q(
    "q210_monetary_unit_sample",
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |), tot AS (SELECT SUM(cents) AS t FROM o),
      |iv AS (SELECT t // 200 AS i FROM tot),
      |c AS (
      |  SELECT k, cents, SUM(cents) OVER (ORDER BY k) AS cum FROM o
      |)
      |SELECT k AS o_orderkey, cents,
      |  CAST(cum AS BIGINT) AS cum_cents,
      |  CAST(cum // iv.i - (cum - cents) // iv.i AS BIGINT) AS n_points,
      |  CAST(((cum - cents) // iv.i + 1) * iv.i AS BIGINT) AS first_point
      |FROM c CROSS JOIN iv
      |WHERE cum // iv.i > (cum - cents) // iv.i
      |ORDER BY o_orderkey""") { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val (c, tot) = Rank(o, "before", Seq(col("k")), weight = Some("cents"))
    c.withColumn("cum", col("before") + col("cents"))
      .withColumn("i", lit(tot.values.sum / 200)) // the sampling interval
      .filter(expr("cum div i > before div i"))
      .select(col("k").as("o_orderkey"), col("cents"), col("cum").as("cum_cents"),
        expr("cum div i - before div i").as("n_points"),
        expr("(before div i + 1) * i").as("first_point"))
      .orderBy("o_orderkey")
  }

  /** q213 — priority sampling (Duffield–Lund–Thorup): a weighted
    * without-replacement sample of orders with per-item Horvitz-
    * Thompson weight estimates — THE estimator for "sample 100 orders
    * but keep totals unbiased" (audit sampling's q210 picks ∝ value
    * with replacement-ish points; priority sampling gives a fixed-size
    * sample whose Σ ht_weight estimates Σ w with provably near-optimal
    * variance). Each item draws priority q = w / u (u uniform in
    * (0,1], md5-derived); the top k by priority are kept; τ = the
    * (k+1)-th priority; each kept item's estimate is max(w, τ).
    *
    * Exactness: u is an integer in [1, 2^20] and the priority is
    * FLOOR(w·2^20/u) — w·2^20 ≤ ~5·10¹³ stays exact in the double,
    * IEEE division is correctly rounded in both engines, FLOOR is
    * identical; ties break by orderkey. Scale: the top-(k+1) cut plans
    * as TakeOrderedAndProject — per-partition heaps, no global sort —
    * and the only post-cut work is a window over k+1 = 101 rows. */
  val q213PrioritySample: Q = Q(
    "q213_priority_sample",
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w,
      |    1 + CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 1048576 AS u
      |  FROM orders
      |), p AS (
      |  SELECT k, w, CAST(FLOOR(CAST(w AS DOUBLE) * 1048576 / u) AS BIGINT) AS pri
      |  FROM o
      |), top AS (
      |  SELECT k, w, pri, ROW_NUMBER() OVER (ORDER BY pri DESC, k) AS rn
      |  FROM p QUALIFY rn <= 101
      |), tau AS (
      |  SELECT pri AS t FROM top WHERE rn = 101
      |)
      |SELECT k AS o_orderkey, w AS w_cents, pri AS priority,
      |  CAST(GREATEST(w, tau.t) AS BIGINT) AS ht_weight
      |FROM top CROSS JOIN tau
      |WHERE rn <= 100
      |ORDER BY priority DESC, o_orderkey""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      (dec(col("o_totalprice")) * 100).cast("long").as("w"))
      .withColumn("u",
        lit(1L) + conv(substring(md5(col("k").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1048576L)
      .withColumn("pri",
        floor(col("w").cast("double") * 1048576L / col("u")).cast("long"))
    // TakeOrderedAndProject: per-partition top-101 heaps, then one merge
    val top101 = o.orderBy(col("pri").desc, col("k")).limit(101)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("pri").desc, col("k"))))
    // the k+1 window runs over exactly 101 rows — single-task by design
    val tau = top101.filter(col("rn") === 101).select(col("pri").as("t"))
    top101.filter(col("rn") <= 100)
      .crossJoin(broadcast(tau)) // 1-row threshold scalar
      .select(col("k").as("o_orderkey"), col("w").as("w_cents"),
        col("pri").as("priority"), greatest(col("w"), col("t")).as("ht_weight"))
      .orderBy(col("priority").desc, col("o_orderkey"))
  }

  /** q214 — portable HLL register sketch: distinct l_partkey per
    * returnflag estimated from 256 max-rank registers, replayed
    * bit-for-bit by the oracle — the PORTABLE complement to q50's
    * engine-native approx_count_distinct (whose HLL internals differ
    * per engine and are checked only via the error bound). This is the
    * sketch you'd SHIP: register vectors merge with element-wise MAX
    * (the groupBy(flag, reg).max(rho) below IS the map-side merge), so
    * shards/days/engines combine without re-scanning, and any engine
    * that can floor-divide BIGINTs reproduces the estimate exactly.
    *
    * Integer-exact estimate: h = first 32 md5 bits; register = h mod
    * 256, rank ρ = leading zeros of the remaining 24 bits + 1 (via
    * 25 − bitlength, bin() strips leading zeros identically in both
    * engines); Σ 2^{−M_j} is lifted by 2^25 into S = Σ 2^{25−M_j}
    * (empty registers contribute 2^25), and the raw HLL estimate
    * α₂₅₆·256²·2²⁵/S becomes N div (S·10⁶) with
    * N = 718273·2⁴¹ = 1579499030835101696 (α in ppm; fits BIGINT).
    * No small-range linear-counting correction — raw estimate only,
    * the err_ppm column against the exact count shows the bias. */
  val q214HllRegisters: Q = Q(
    "q214_hll_registers",
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      |  FROM lineitem
      |), r AS (
      |  SELECT flag, h % 256 AS reg,
      |    CASE WHEN h // 256 = 0 THEN 25
      |         ELSE 25 - length(bin(h // 256)) END AS rho
      |  FROM b
      |), m AS (
      |  SELECT flag, reg, MAX(rho) AS m FROM r GROUP BY flag, reg
      |), s AS (
      |  SELECT flag,
      |    SUM(CAST(1 AS BIGINT) << (25 - m)) + (256 - COUNT(*)) * 33554432 AS sv,
      |    COUNT(*) AS n_occ
      |  FROM m GROUP BY flag
      |), x AS (
      |  SELECT l_returnflag AS flag, COUNT(DISTINCT l_partkey) AS exact_distinct
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT x.flag AS l_returnflag,
      |  CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
      |  CAST(1579499030835101696 // (s.sv * 1000000) AS BIGINT) AS hll_estimate,
      |  CAST((1579499030835101696 // (s.sv * 1000000) - x.exact_distinct) * 1000000
      |    // x.exact_distinct AS BIGINT) AS err_ppm,
      |  CAST(s.n_occ AS BIGINT) AS n_registers
      |FROM x JOIN s ON s.flag = x.flag
      |ORDER BY l_returnflag""") { (s, d) =>
    val li = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
      col("l_partkey"))
    val b = li.withColumn("h",
      conv(substring(md5(col("l_partkey").cast("string")), 1, 8), 16, 10).cast("long"))
    val r = b.select(col("flag"), (col("h") % 256).as("reg"),
      when(expr("h div 256") === 0, lit(25))
        .otherwise(lit(25) - length(bin(expr("h div 256")))).as("rho"))
    // register max IS the mergeable sketch state: partial max per
    // (flag, reg) combines map-side, exactly how shard sketches union
    val m = r.groupBy("flag", "reg").agg(max("rho").as("m"))
    val sv = m.groupBy("flag").agg(
      (sum(expr("shiftleft(CAST(1 AS BIGINT), 25 - m)")) +
        (lit(256L) - count(lit(1))) * 33554432L).as("sv"),
      count(lit(1)).as("n_occ"))
    val exact = li.groupBy("flag").agg(countDistinct("l_partkey").as("exact_distinct"))
    exact.join(sv, "flag")
      .select(col("flag").as("l_returnflag"), col("exact_distinct"),
        expr("1579499030835101696 div (sv * 1000000)").as("hll_estimate"),
        expr("(1579499030835101696 div (sv * 1000000) - exact_distinct) * 1000000 div exact_distinct")
          .as("err_ppm"),
        col("n_occ").as("n_registers"))
      .orderBy("l_returnflag")
  }

  /** q218 — KMV sketch ALGEBRA: estimated union / intersection /
    * Jaccard for every source pair from per-source k-minimum-values
    * sketches — the "sketch once, compare everywhere" pattern (q82
    * builds one sketch per group; this is why you build them: set
    * arithmetic over 64-int synopses instead of corpus rescans —
    * cross-source overlap matrices at 100 TB are only feasible this
    * way). Union sketch = the 64 smallest hashes of the merged
    * sketches (exact: min-k of a union is computable from the min-ks);
    * est via the q82 (k−1)·2³²/v_k estimator, complete sketches
    * (k < 64) short-circuit to their exact size; intersection by
    * inclusion-exclusion clamped at 0; Jaccard = the fraction of the
    * union's k-set present in BOTH sketches (the standard KMV overlap
    * estimator).
    *
    * Scale: the corpus is scanned ONCE into per-source sketches
    * (KmvAgg partials merge map-side); everything pairwise runs on the
    * exploded ≤ 64·|sources| sketch table — cells, not data. */
  val q218SketchAlgebra: Q = Q(
    "q218_sketch_algebra",
    """WITH tok AS (
      |  SELECT DISTINCT source, CAST(concat('0x', substr(md5(t),1,8)) AS BIGINT) AS h
      |  FROM (SELECT source, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS t
      |        FROM documents)
      |), r AS (
      |  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
      |  FROM tok
      |), sk AS (
      |  SELECT source, h FROM r WHERE rk <= 64
      |), est AS (
      |  SELECT source, COUNT(*) AS k, MAX(h) AS vk,
      |    CASE WHEN COUNT(*) < 64 THEN COUNT(*)
      |         WHEN MAX(h) = 0 THEN 0
      |         ELSE CAST(FLOOR((COUNT(*)-1)*4294967296/MAX(h)) AS BIGINT) END AS est
      |  FROM sk GROUP BY source
      |), pairs AS (
      |  SELECT a.source AS sa, b.source AS sb, a.est AS est_a, b.est AS est_b
      |  FROM est a JOIN est b ON a.source < b.source
      |), pu AS (
      |  SELECT p.sa, p.sb, s.h,
      |    MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
      |    MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
      |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
      |  GROUP BY p.sa, p.sb, s.h
      |), ur AS (
      |  SELECT sa, sb, h, in_a, in_b,
      |    ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rk
      |  FROM pu
      |), u64 AS (
      |  SELECT sa, sb, COUNT(*) AS ku, MAX(h) AS vku,
      |    SUM(in_a * in_b) AS shared
      |  FROM ur WHERE rk <= 64 GROUP BY sa, sb
      |), alg AS (
      |  SELECT p.sa, p.sb, p.est_a, p.est_b,
      |    CASE WHEN u.ku < 64 THEN u.ku
      |         WHEN u.vku = 0 THEN 0
      |         ELSE CAST(FLOOR((u.ku-1)*4294967296/u.vku) AS BIGINT) END AS est_u,
      |    u.ku, u.shared
      |  FROM pairs p JOIN u64 u ON u.sa = p.sa AND u.sb = p.sb
      |)
      |SELECT sa AS source_a, sb AS source_b,
      |  CAST(est_a AS BIGINT) AS est_a, CAST(est_b AS BIGINT) AS est_b,
      |  CAST(est_u AS BIGINT) AS est_union,
      |  CAST(GREATEST(0, est_a + est_b - est_u) AS BIGINT) AS est_intersect,
      |  CAST(shared * 1000000 // ku AS BIGINT) AS jaccard_ppm,
      |  CAST(shared AS BIGINT) AS shared_k
      |FROM alg
      |ORDER BY source_a, source_b""") { (s, d) =>
    import graft.functions.TextFunctions._
    import org.apache.spark.sql.expressions.Window
    val kmv = udaf(new graft.functions.KmvAgg(64))
    // one corpus scan → one 64-int synopsis per source (map-side merge)
    val sk0 = graft.Q.stageBarrier(Tables.documents(s, d))
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .select(col("source"), hex32(col("t")).as("h"))
      .groupBy("source").agg(kmv(col("h")).as("mins"))
      .transform(Materialize.snapshot) // sketch table: one row per source, read 3x below
    val est = sk0.select(col("source"),
      size(col("mins")).cast("long").as("k"),
      element_at(col("mins"), size(col("mins"))).as("vk"))
      .select(col("source"),
        when(col("k") < 64, col("k"))
          .when(col("vk") === 0, 0L)
          .otherwise(floor((col("k") - 1) * 4294967296L / col("vk")).cast("long"))
          .as("est"))
    val sk = sk0.select(col("source"), explode(col("mins")).as("h"))
    val pairs = est.as("a").join(est.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        col("a.est").as("est_a"), col("b.est").as("est_b"))
    // merge both sketches per pair, dedup hashes, keep membership flags
    val pu = pairs
      .join(broadcast(sk), col("source") === col("sa") || col("source") === col("sb"))
      .groupBy("sa", "sb", "h")
      .agg(max(when(col("source") === col("sa"), 1).otherwise(0)).as("in_a"),
        max(when(col("source") === col("sb"), 1).otherwise(0)).as("in_b"))
    val ur = pu.withColumn("rk",
      row_number().over(Window.partitionBy("sa", "sb").orderBy("h")))
    val u64 = ur.filter(col("rk") <= 64)
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("ku"), max("h").as("vku"),
        sum(col("in_a") * col("in_b")).as("shared"))
    pairs.join(u64, Seq("sa", "sb"))
      .withColumn("est_u",
        when(col("ku") < 64, col("ku"))
          .when(col("vku") === 0, 0L)
          .otherwise(floor((col("ku") - 1) * 4294967296L / col("vku")).cast("long")))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("est_a"), col("est_b"), col("est_u").as("est_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_u")).as("est_intersect"),
        expr("shared * 1000000 div ku").as("jaccard_ppm"),
        col("shared").as("shared_k"))
      .orderBy("source_a", "source_b")
  }

  /** q215 — exact weighted median and weighted p90 (unit price
    * weighted by quantity — "the price of the median UNIT shipped",
    * not the median line): the sample-weight generalization of q153,
    * and the shape every token-weighted corpus statistic takes (median
    * doc quality weighted by token count, etc.). Same value-domain
    * binary search: the weighted rank needs no global sort, only
    * log₂(range) conditional-SUM(weight) aggregates, each a full scan
    * with a 2-cell result — the 100 TB spelling of "weighted
    * percentile". Lower weighted median: smallest value v with
    * cumweight(≤ v) ≥ ⌈W/2⌉ (p90: ≥ ⌈9W/10⌉, integer ceil-div). */
  val q215WeightedMedian: Q = Q(
    "q215_weighted_median",
    """WITH v AS (
      |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem
      |), ww AS (SELECT SUM(w) AS wt FROM v),
      |ks AS (
      |  SELECT 'p50_weighted' AS stat, (wt + 1) // 2 AS t FROM ww
      |  UNION ALL
      |  SELECT 'p90_weighted' AS stat, (9 * wt + 9) // 10 AS t FROM ww
      |), s AS (
      |  SELECT c, SUM(w) OVER (ORDER BY c) AS cw FROM v
      |)
      |SELECT stat, CAST(t AS BIGINT) AS target_weight,
      |  MIN(c) AS value_cents
      |FROM ks JOIN s ON s.cw >= ks.t
      |GROUP BY stat, t
      |ORDER BY stat""") { (s, d) =>
    import s.implicits._
    val (v, red) = Materialize.reduceLongs(Tables.lineitem(s, d)
        .select((dec(col("l_extendedprice")) * 100).cast("long").as("c"),
          col("l_quantity").cast("long").as("w")),
      (Some("w"), Math.addExact), (Some("c"), math.min), (Some("c"), math.max))
    val Seq(wt, vmin, vmax) = red.map(_.get) // no rows: fails, as the NULL MIN did
    // (stat, target cumulative weight): lower weighted quantile = the
    // smallest value whose cumulative weight reaches the target.
    // Histogram selection (selectByCumWeight, sum-of-weight cells): 2
    // scans instead of ~24 binary-search rounds — same exact answer.
    val targets = Array(("p50_weighted", (wt + 1) / 2),
      ("p90_weighted", (9 * wt + 9) / 10))
    val vals = selectByCumWeight(v, "c", col("w"),
      targets.map(_._2).toSeq, vmin, vmax)
    targets.indices.map(i => (targets(i)._1, targets(i)._2, vals(i)))
      .toDF("stat", "target_weight", "value_cents")
      .orderBy("stat")
  }

  /** q225 — leave-one-out target encoding: replace the categorical
    * `c_mktsegment` with the mean customer revenue of OTHER customers
    * in the same segment — the standard supervised categorical encoder,
    * in the one spelling that does not leak the row's own label into
    * its feature (plain mean-encoding memorizes rare categories; LOO
    * is what the fitted pipeline must compute). Encoding is exact:
    * revenue in BIGINT cents, enc = (seg_sum − own)·1000 div (n−1)
    * millicents, NULL for singleton segments (no "other" evidence).
    * Customers with no orders count at 0 — absence of history is
    * evidence, not a gap.
    *
    * Scale: one custkey-partitioned revenue aggregate (the only
    * corpus shuffle), a ≤|segments|-cell stats table that BROADCASTS
    * into the encode scan, and a deterministic key-stride sample at
    * the export edge so the checked output stays bounded. At 100 TB
    * the segment sums exceed BIGINT·1000 around 9·10¹⁵ cents — lift
    * the numerator to DECIMAL(38,0) there; the shape is unchanged. */
  val q225TargetEncode: Q = Q(
    "q225_target_encode",
    """WITH rev AS (
      |  SELECT o_custkey,
      |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
      |  FROM orders GROUP BY o_custkey
      |), c AS (
      |  SELECT c_custkey, c_mktsegment, COALESCE(rev, 0) AS rev
      |  FROM customer LEFT JOIN rev ON o_custkey = c_custkey
      |), seg AS (
      |  SELECT c_mktsegment, COUNT(*) AS n, SUM(rev) AS s FROM c GROUP BY 1
      |)
      |SELECT c.c_custkey, c.c_mktsegment,
      |  CAST(c.rev AS BIGINT) AS revenue_cents,
      |  CAST(seg.n AS BIGINT) AS segment_n,
      |  CAST(CASE WHEN seg.n > 1 THEN (seg.s - c.rev) * 1000 // (seg.n - 1)
      |    END AS BIGINT) AS loo_enc_millicents
      |FROM c JOIN seg USING (c_mktsegment)
      |WHERE c_custkey % 50 = 1
      |ORDER BY c_custkey""") { (s, d) =>
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("rev"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(rev, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_mktsegment"),
        coalesce(col("rev"), lit(0L)).as("rev"))
    val seg = c.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("rev").as("s"))
    c.join(broadcast(seg), "c_mktsegment") // ≤|segments| cells: scale-safe
      .filter(col("c_custkey") % 50 === 1)
      .select(col("c_custkey"), col("c_mktsegment"),
        col("rev").as("revenue_cents"), col("n").as("segment_n"),
        when(col("n") > 1, expr("(s - rev) * 1000 div (n - 1)"))
          .otherwise(lit(null).cast("long")).as("loo_enc_millicents"))
      .orderBy("c_custkey")
  }

  /** q226 — histogram split finder for a decision stump: the inner
    * loop of every gradient-boosted-tree fit (LightGBM/XGBoost hist
    * mode) as one declarative pass — bin `o_totalprice` into 64
    * equi-width bins, collapse to per-bin (n, n_pos) cells map-side,
    * cumulate over CELLS, and score every split boundary by the exact
    * two-class separation criterion (posL·nR − posR·nL)² / (nL·nR)
    * (Gini gain up to the constant n factor — same argmax). The
    * squared numerator needs ~2⁷⁰ at sf0.1, so the score is computed
    * in DECIMAL(38,0)/HUGEINT on both engines and floored to milli;
    * best split = (score DESC, bin ASC) rank 1 — ties deterministic.
    * Label: order priority URGENT vs not.
    *
    * Scale: ONE corpus scan that collapses to ≤64 cells map-side
    * (the 1-row min/max scalar broadcasts into the binning — the same
    * two-pass shape as q208's equi-depth build); cumulation, scoring,
    * and the rank-1 pick all run on cells. This is exactly the
    * shape distributed GBDT libraries use at any scale. */
  val q226StumpSplit: Q = Q(
    "q226_stump_split",
    """WITH pts AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      |  FROM orders
      |), mm AS (
      |  SELECT MIN(v) AS lo, MAX(v) AS hi FROM pts
      |), cells AS (
      |  SELECT CAST((v - lo) * 64 // (hi - lo + 1) AS BIGINT) AS bin,
      |    COUNT(*) AS n, SUM(y) AS pos
      |  FROM pts CROSS JOIN mm GROUP BY 1
      |), cum AS (
      |  SELECT bin, lo, hi,
      |    SUM(n) OVER w AS n_left, SUM(pos) OVER w AS pos_left,
      |    SUM(n) OVER () AS n_tot, SUM(pos) OVER () AS pos_tot
      |  FROM cells CROSS JOIN mm
      |  WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), diffd AS (
      |  SELECT bin, lo, hi, n_left, pos_left,
      |    CAST(pos_left AS HUGEINT) * (n_tot - n_left)
      |       - CAST(pos_tot - pos_left AS HUGEINT) * n_left AS diff,
      |    CAST(n_left AS HUGEINT) * (n_tot - n_left) AS den
      |  FROM cum WHERE n_left > 0 AND n_tot - n_left > 0
      |), scored AS (
      |  SELECT bin,
      |    CAST(lo + (bin + 1) * (hi - lo + 1) // 64 AS BIGINT) AS threshold_cents,
      |    CAST(n_left AS BIGINT) AS n_left, CAST(pos_left AS BIGINT) AS pos_left,
      |    CAST(diff * diff * 1000 // den AS BIGINT) AS score_milli
      |  FROM diffd
      |)
      |SELECT bin, threshold_cents, n_left, pos_left, score_milli,
      |  (ROW_NUMBER() OVER (ORDER BY score_milli DESC, bin) = 1) AS is_best
      |FROM scored
      |ORDER BY bin""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.orders(s, d).select(
      (dec(col("o_totalprice")) * 100).cast("long").as("v"),
      when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("y"))
    val mm = pts.agg(min("v").as("lo"), max("v").as("hi"))
    val cells = pts.crossJoin(broadcast(mm)) // 1-row min/max scalar
      .groupBy(expr("(v - lo) * 64 div (hi - lo + 1)").as("bin"))
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val wCum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = cells.crossJoin(broadcast(mm))
      .select(col("bin"), col("lo"), col("hi"),
        sum("n").over(wCum).as("n_left"), sum("pos").over(wCum).as("pos_left"),
        sum("n").over(wAll).as("n_tot"), sum("pos").over(wAll).as("pos_tot"))
    val scored = cum
      .filter(col("n_left") > 0 && col("n_tot") - col("n_left") > 0)
      // one operand lifted to DECIMAL(38,0)/HUGEINT BEFORE the multiply:
      // the products would wrap BIGINT around n ~ 6e9 rows if computed
      // 64-bit first — the lift makes the criterion exact at any scale
      .withColumn("diff", expr(
        "CAST(pos_left AS DECIMAL(38,0)) * (n_tot - n_left) - CAST(pos_tot - pos_left AS DECIMAL(38,0)) * n_left"))
      .withColumn("den", expr("CAST(n_left AS DECIMAL(38,0)) * (n_tot - n_left)"))
      .select(col("bin"),
        expr("lo + (bin + 1) * (hi - lo + 1) div 64").as("threshold_cents"),
        col("n_left"), col("pos_left"),
        expr("CAST(diff * diff * 1000 div den AS BIGINT)").as("score_milli"))
    scored.withColumn("is_best",
        row_number().over(Window.orderBy(col("score_milli").desc, col("bin"))) === 1)
      .orderBy("bin")
  }

  /** q235 — Kendall tau-b rank agreement: do two metrics rank the
    * nations the same way? (total revenue vs average order value —
    * volume vs intensity). τ-b is THE exact rank-correlation for an
    * engine like this: concordant/discordant/tied pair counting is
    * pure integer arithmetic over item pairs — no rank interpolation,
    * no float ranks — and the only non-integer step (the tie-adjusted
    * denominator's sqrt) is a correctly-rounded IEEE op both engines
    * emit identically (the q201/q209 rule). The same shape is the
    * offline judge for ranking changes: "did the new scorer reorder
    * the catalog?" as one number.
    *
    * Scale: the corpus collapses to ≤|nations| metric cells FIRST
    * (one map-side agg); the pair space is |items|² over CELLS —
    * item-bounded, never row-bounded. The pair join key is a constant
    * (all items pair with all items), spelled as a broadcast of the
    * cell table against itself. */
  val q235KendallTau: Q = Q(
    "q235_kendall_tau",
    """WITH cells AS (
      |  SELECT n_name,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // COUNT(*) AS BIGINT) AS aov
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name
      |), pairs AS (
      |  SELECT (a.rev - b.rev) AS dx, (a.aov - b.aov) AS dy
      |  FROM cells a JOIN cells b ON a.n_name < b.n_name
      |), agg AS (
      |  SELECT COUNT(*) AS n0,
      |    SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS concordant,
      |    SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS discordant,
      |    SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS ties_x,
      |    SUM(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS ties_y,
      |    SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS ties_both
      |  FROM pairs
      |)
      |SELECT CAST(n0 AS BIGINT) AS n_pairs,
      |  CAST(concordant AS BIGINT) AS concordant,
      |  CAST(discordant AS BIGINT) AS discordant,
      |  CAST(ties_x AS BIGINT) AS ties_x, CAST(ties_y AS BIGINT) AS ties_y,
      |  CAST(ties_both AS BIGINT) AS ties_both,
      |  CAST(FLOOR((concordant - discordant) * 1000.0 /
      |    sqrt(NULLIF(CAST((n0 - ties_x - ties_both) AS DOUBLE) * (n0 - ties_y - ties_both), 0)))
      |    AS BIGINT) AS tau_b_milli
      |FROM agg""") { (s, d) =>
    val cells = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("rev"),
        count(lit(1)).as("n"))
      .select(col("n_name"), col("rev"), expr("rev div n").as("aov"))
      .transform(Materialize.snapshot) // ≤|nations| cells: both pair sides read it
    val pairs = cells.as("a")
      .join(broadcast(cells.as("b")),
        col("a.n_name") < col("b.n_name")) // item-bounded cell pairs
      .select((col("a.rev") - col("b.rev")).as("dx"),
        (col("a.aov") - col("b.aov")).as("dy"))
    pairs.agg(count(lit(1)).as("n0"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("dy") === 0 && col("dx") =!= 0, 1L).otherwise(0L)).as("ties_y"),
        sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L)).as("ties_both"))
      .select(col("n0").as("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"), col("ties_both"),
        // NULLIF guards the all-ties degenerate case (one metric ties
        // across every pair → tie-adjusted count 0): NULL tau_b, not a
        // divide-by-zero Inf, on both engines
        floor((col("concordant") - col("discordant")) * lit(1000.0) /
          sqrt(nullif((col("n0") - col("ties_x") - col("ties_both")).cast("double") *
            (col("n0") - col("ties_y") - col("ties_both")), lit(0.0))))
          .cast("long").as("tau_b_milli"))
  }

  /** q238 — l-diversity audit: q152/q155 guard GROUP SIZE (k-anonymity),
    * but a size-10 group whose sensitive attribute is HOMOGENEOUS still
    * leaks it to anyone who can place a person in the group — l-diversity
    * counts DISTINCT sensitive values per quasi-identifier group. QI =
    * (nation, order month), sensitive = order priority; output is the
    * histogram over l (groups and rows at each diversity level) — l = 1
    * rows are the attack surface the release gate must drive to zero.
    *
    * Scale: ONE rollup — groupBy(QI) with count + count_distinct(sens)
    * collapses the corpus to QI-group cells map-side; the l histogram
    * is a second ≤|sens|-cell aggregate over those cells. */
  val q238LDiversity: Q = Q(
    "q238_l_diversity",
    """WITH g AS (
      |  SELECT n_name, date_trunc('month', o_orderdate) AS m,
      |    COUNT(*) AS n_rows, COUNT(DISTINCT o_orderpriority) AS l
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(l AS BIGINT) AS l, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(SUM(n_rows) AS BIGINT) AS n_rows
      |FROM g GROUP BY l
      |ORDER BY l""") { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderpriority")).as("l"))
      .groupBy("l")
      .agg(count(lit(1)).as("n_groups"), sum("n_rows").as("n_rows"))
      .orderBy("l")
  }

  /** q239 — exact Shapley feature attribution: for every (segment,
    * priority, year) feature cell, the Shapley value of each feature
    * toward the conditional-mean order value — the game-theoretic
    * "which feature moves the price" attribution, computed EXACTLY
    * (SHAP libraries approximate by sampling coalitions; with 3
    * features the 2³ coalition means are 8 cell tables and the
    * permutation sum is closed-form). Values are emitted ×6 in milli
    * (φ·6 = 2(v_X−v_∅) + (v_XY−v_Y) + (v_XZ−v_Z) + 2(v_XYZ−v_YZ)) so
    * there is NO division at all — pure ±BIGINT on floored coalition
    * means, hence the efficiency identity Σφ·6 = 6(v_full − v_∅)
    * holds EXACTLY and ships as an oracle-checked column.
    *
    * Scale: 8 coalition aggregates, every one a map-side collapse to
    * its coalition's cells (≤ |A|·|B|·|C| for the largest); the 7
    * non-empty tables join the full-cell table on their coalition keys
    * (broadcast — cell-cardinality), the 1-row v_∅ joins last. No
    * per-row Shapley anywhere: rows only feed the 8 aggregates. */
  val q239ShapleyExact: Q = Q(
    "q239_shapley_exact",
    """WITH base AS (
      |  SELECT c_mktsegment AS a, o_orderpriority AS b,
      |    CAST(year(o_orderdate) AS BIGINT) AS c,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |), m0 AS (SELECT 1000 * SUM(v) // COUNT(*) AS m FROM base),
      |ma AS (SELECT a, 1000 * SUM(v) // COUNT(*) AS m FROM base GROUP BY a),
      |mb AS (SELECT b, 1000 * SUM(v) // COUNT(*) AS m FROM base GROUP BY b),
      |mc AS (SELECT c, 1000 * SUM(v) // COUNT(*) AS m FROM base GROUP BY c),
      |mab AS (SELECT a, b, 1000 * SUM(v) // COUNT(*) AS m FROM base GROUP BY a, b),
      |mac AS (SELECT a, c, 1000 * SUM(v) // COUNT(*) AS m FROM base GROUP BY a, c),
      |mbc AS (SELECT b, c, 1000 * SUM(v) // COUNT(*) AS m FROM base GROUP BY b, c),
      |mabc AS (
      |  SELECT a, b, c, COUNT(*) AS n, 1000 * SUM(v) // COUNT(*) AS m
      |  FROM base GROUP BY a, b, c
      |)
      |SELECT f.a AS segment, f.b AS priority, f.c AS year,
      |  CAST(f.n AS BIGINT) AS n,
      |  CAST(2*(ma.m - m0.m) + (mab.m - mb.m) + (mac.m - mc.m) + 2*(f.m - mbc.m)
      |    AS BIGINT) AS phi_a6_milli,
      |  CAST(2*(mb.m - m0.m) + (mab.m - ma.m) + (mbc.m - mc.m) + 2*(f.m - mac.m)
      |    AS BIGINT) AS phi_b6_milli,
      |  CAST(2*(mc.m - m0.m) + (mac.m - ma.m) + (mbc.m - mb.m) + 2*(f.m - mab.m)
      |    AS BIGINT) AS phi_c6_milli,
      |  CAST(6 * (f.m - m0.m) AS BIGINT) AS efficiency6_milli
      |FROM mabc f
      |JOIN ma USING (a) JOIN mb USING (b) JOIN mc USING (c)
      |JOIN mab USING (a, b) JOIN mac USING (a, c) JOIN mbc USING (b, c)
      |CROSS JOIN m0
      |ORDER BY segment, priority, year""") { (s, d) =>
    val base = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("a"), col("o_orderpriority").as("b"),
        year(col("o_orderdate")).cast("long").as("c"),
        (dec(col("o_totalprice")) * 100).cast("long").as("v"))
      .transform(Materialize.snapshot) // read by all 8 coalition aggregates
    def mean(keys: String*): DataFrame = {
      val g = if (keys.isEmpty) base.groupBy() else base.groupBy(keys.map(col): _*)
      g.agg(expr("1000 * sum(v) div count(1)").as(s"m_${keys.mkString("")}"))
    }
    val f = base.groupBy("a", "b", "c")
      .agg(count(lit(1)).as("n"), expr("1000 * sum(v) div count(1)").as("m_abc"))
    f.join(broadcast(mean("a")), "a")
      .join(broadcast(mean("b")), "b")
      .join(broadcast(mean("c")), "c")
      .join(broadcast(mean("a", "b")), Seq("a", "b"))
      .join(broadcast(mean("a", "c")), Seq("a", "c"))
      .join(broadcast(mean("b", "c")), Seq("b", "c"))
      .crossJoin(broadcast(mean())) // 1-row v_∅
      .select(col("a").as("segment"), col("b").as("priority"),
        col("c").as("year"), col("n"),
        expr("2*(m_a - m_) + (m_ab - m_b) + (m_ac - m_c) + 2*(m_abc - m_bc)")
          .as("phi_a6_milli"),
        expr("2*(m_b - m_) + (m_ab - m_a) + (m_bc - m_c) + 2*(m_abc - m_ac)")
          .as("phi_b6_milli"),
        expr("2*(m_c - m_) + (m_ac - m_a) + (m_bc - m_b) + 2*(m_abc - m_ab)")
          .as("phi_c6_milli"),
        expr("6 * (m_abc - m_)").as("efficiency6_milli"))
      .orderBy("segment", "priority", "year")
  }

  /** q242 — exact 10% two-sided trimmed mean WITHOUT a global sort:
    * the robust location estimate (q175 flags outliers; this gives the
    * outlier-proof mean itself) of order value over a column that at
    * 100 TB cannot be sorted. The k = ⌊n/10⌋ boundary VALUES come from
    * q153's value-domain binary search (two targets, k+1-th and
    * (n−k)-th, advanced in the same conditional-count pass; O(1)
    * driver scalars per round — the documented q153 exception); the
    * trimmed sum then needs ONE more scan: Σ of values strictly inside
    * the boundaries plus exact tie corrections at each boundary
    * (cnt≤(v_lo) − k copies of v_lo, (n−k) − cnt<(v_hi) copies of
    * v_hi — value-range filtering alone miscounts under ties). The
    * degenerate all-ties case (v_lo = v_hi) collapses to (n−2k)·v_lo.
    * Oracle replays via ROW_NUMBER (the sort this query avoids).
    *
    * Scale: ~log₂(range) + 1 full scans, each a map-side conditional
    * COUNT/SUM partial; no sort, no skew sensitivity, O(1) driver
    * state. */
  val q242TrimmedMean: Q = Q(
    "q242_trimmed_mean",
    """WITH v AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders
      |), r AS (
      |  SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn, COUNT(*) OVER () AS n
      |  FROM v
      |), kept AS (
      |  SELECT c, n, n // 10 AS k FROM r WHERE rn > n // 10 AND rn <= n - n // 10
      |)
      |SELECT CAST(MAX(n) AS BIGINT) AS n_total,
      |  CAST(MAX(k) AS BIGINT) AS k_each_side,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(MIN(c) AS BIGINT) AS v_lo_cents,
      |  CAST(MAX(c) AS BIGINT) AS v_hi_cents,
      |  CAST(SUM(c) AS BIGINT) AS kept_sum_cents,
      |  CAST(SUM(c) // COUNT(*) AS BIGINT) AS trimmed_mean_cents
      |FROM kept""") { (s, d) =>
    val (v, n) = Materialize.count(Tables.orders(s, d) // every search round scans it
      .select((dec(col("o_totalprice")) * 100).cast("long").as("c")))(_ => true)
    val k = n / 10
    // histogram selection for the (k+1)-th and (n-k)-th smallest
    // (selectByCumWeight: 2 scans instead of ~24 binary-search rounds;
    // O(buckets) driver cells per pass, no sort — same exact answer)
    val bounds = v.agg(min("c"), max("c")).head()
    val vals = selectByCumWeight(v, "c", lit(1L), Seq(k + 1, n - k),
      bounds.getLong(0), bounds.getLong(1))
    val (vLo, vHi) = (vals(0), vals(1))
    // one final scan: inside-sum + exact tie corrections at the bounds
    v.agg(
        sum(when(col("c") > vLo && col("c") < vHi, col("c")).otherwise(0L)).as("mid_sum"),
        sum(when(col("c") <= vLo, 1L).otherwise(0L)).as("cnt_le_lo"),
        sum(when(col("c") < vHi, 1L).otherwise(0L)).as("cnt_lt_hi"))
      .select(lit(n).as("n_total"), lit(k).as("k_each_side"),
        lit(n - 2 * k).as("n_kept"), lit(vLo).as("v_lo_cents"),
        lit(vHi).as("v_hi_cents"),
        (if (vLo == vHi) lit((n - 2 * k) * vLo)
         else col("mid_sum") + (col("cnt_le_lo") - k) * vLo
           + (lit(n - k) - col("cnt_lt_hi")) * vHi).as("kept_sum_cents"))
      .withColumn("trimmed_mean_cents",
        expr(s"kept_sum_cents div ${n - 2 * k}"))
  }

  /** q252 — DBSCAN density clustering at join scale: grid-bucketed
    * neighbor candidates (q193's cell = radius contract: every
    * qualifying pair meets in exactly one (home, probe-neighbor) cell
    * join — 9n candidate rows, never n²), core points = ≥3 neighbors
    * within 1° (exact integer µdeg², no transcendentals), clusters =
    * connected components of the core-core adjacency via the SAME
    * convergence-guarded pointer-jumping helper as q61 (fails loud if
    * the cap is too shallow — never silently split clusters), border
    * points adopt the MIN cluster label among their core neighbors
    * (deterministic tie-break), the rest is noise. Cluster label = min
    * core key in the component, so labels are stable across engines,
    * partitionings, and runs.
    *
    * Points are the decile-1 customer sample on q193's synthetic
    * plane; half are PLANTED into 20 blobs keyed by k div 20 (±0.3°
    * jitter — blob diameter 0.85° < the 1° radius, so each blob's
    * members are pairwise-adjacent and provably one component), and
    * the k%120=11 members sit as SATELLITES ~1.15° off their blob's
    * center, where the blob fringe may or may not reach them — the
    * deterministic probe that exercises both the border and the noise
    * role (sf0.01: 31 cores in 9 clusters, 5 borders, 114 noise).
    * Scattered positions keep km = k mod 10⁶ inside the quadratic mix
    * so coordinates stay BIGINT-exact on both engines at any key
    * stride (the ×16 tree's 2³² offsets would overflow k²).
    *
    * Scale: candidates shuffle on cell keys only (ids + 2 coords);
    * degree/core/border are one aggregation each; CC runs on the
    * core-subgraph (bounded by true cluster structure). The oracle
    * replays the full reach with a recursive CTE — Σ component² rows,
    * which is exactly why the ENGINE side uses O(log d) label rounds
    * instead. */
  val q252Dbscan: Q = Q(
    "q252_dbscan",
    """WITH RECURSIVE p AS (
      |  SELECT k,
      |    CASE WHEN k % 4 = 3 AND k % 120 = 11
      |      THEN (c * 7 + 3) % 58 * 1000000 + 1000000 + 1150000
      |        + (km * km * 47 + km * 281) % 100001 - 50000
      |      WHEN k % 4 = 3 THEN (c * 7 + 3) % 58 * 1000000 + 1000000
      |        + (km * km * 41 + km * 271) % 600001 - 300000
      |      ELSE (km * km * 31 + km * 7919) % 60000001 END AS y,
      |    CASE WHEN k % 4 = 3 AND k % 120 = 11
      |      THEN (c * 13 + 5) % 118 * 1000000 + 1000000
      |        + (km * km * 53 + km * 283) % 200001 - 100000
      |      WHEN k % 4 = 3 THEN (c * 13 + 5) % 118 * 1000000 + 1000000
      |        + (km * km * 43 + km * 277) % 600001 - 300000
      |      ELSE (km * km * 37 + km * 104729) % 120000001 END AS x
      |  FROM (SELECT CAST(c_custkey AS BIGINT) AS k,
      |          CAST(c_custkey AS BIGINT) % 1000000 AS km,
      |          (CAST(c_custkey AS BIGINT) // 20) % 20 AS c
      |        FROM customer WHERE c_custkey % 10 = 1)
      |), nb AS (
      |  SELECT a.k AS ak, b.k AS bk
      |  FROM p a JOIN p b ON a.k <> b.k
      |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 1000000000000
      |), deg AS (
      |  SELECT ak AS k, COUNT(*) AS nn FROM nb GROUP BY ak
      |), core AS (
      |  SELECT k FROM deg WHERE nn >= 3
      |), ce AS (
      |  SELECT n.ak, n.bk FROM nb n
      |  JOIN core ca ON ca.k = n.ak JOIN core cb ON cb.k = n.bk
      |), reach(src, dst) AS (
      |  SELECT k, k FROM core
      |  UNION
      |  SELECT r.src, e.bk FROM reach r JOIN ce e ON e.ak = r.dst
      |), comp AS (
      |  SELECT src AS k, MIN(dst) AS cluster FROM reach GROUP BY src
      |), border AS (
      |  SELECT n.ak AS k, MIN(c.cluster) AS cluster
      |  FROM nb n JOIN comp c ON c.k = n.bk
      |  WHERE n.ak NOT IN (SELECT k FROM core)
      |  GROUP BY n.ak
      |)
      |SELECT p.k,
      |  CASE WHEN comp.k IS NOT NULL THEN 'core'
      |       WHEN border.k IS NOT NULL THEN 'border'
      |       ELSE 'noise' END AS role,
      |  CAST(COALESCE(comp.cluster, border.cluster) AS BIGINT) AS cluster
      |FROM p
      |LEFT JOIN comp ON comp.k = p.k
      |LEFT JOIN border ON border.k = p.k
      |ORDER BY p.k""") { (s, d) =>
    val cellSz = 1000000L
    val k = col("k")
    val km = col("km") // k mod 1e6: keeps km² exact on both engines at any key stride
    val c = col("c")
    val p = Tables.customer(s, d)
      .filter(col("c_custkey") % 10 === 1)
      .select(col("c_custkey").cast("long").as("k"),
        (col("c_custkey").cast("long") % 1000000L).as("km"),
        (expr("CAST(c_custkey AS BIGINT) div 20") % 20L).as("c"))
      .select(k,
        when(k % 4 === 3 && k % 120 === 11,
          (c * 7L + 3L) % 58 * 1000000L + 1000000L + 1150000L
            + (km * km * 47L + km * 281L) % 100001L - 50000L)
          .when(k % 4 === 3, (c * 7L + 3L) % 58 * 1000000L + 1000000L
            + (km * km * 41L + km * 271L) % 600001L - 300000L)
          .otherwise((km * km * 31L + km * 7919L) % 60000001L).as("y"),
        when(k % 4 === 3 && k % 120 === 11,
          (c * 13L + 5L) % 118 * 1000000L + 1000000L
            + (km * km * 53L + km * 283L) % 200001L - 100000L)
          .when(k % 4 === 3, (c * 13L + 5L) % 118 * 1000000L + 1000000L
            + (km * km * 43L + km * 277L) % 600001L - 300000L)
          .otherwise((km * km * 37L + km * 104729L) % 120000001L).as("x"))
      .transform(Materialize.snapshot) // home + probe + report all read one snapshot
    val home = p.select(col("k").as("ak"), col("x").as("ax"), col("y").as("ay"),
      floor(col("x") / cellSz).cast("long").as("cx"),
      floor(col("y") / cellSz).cast("long").as("cy"))
    val offs = array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
      struct(lit(i.toLong).as("di"), lit(j.toLong).as("dj")))): _*)
    val probe = p.select(col("k").as("bk"), col("x").as("bx"), col("y").as("by"),
        floor(col("x") / cellSz).cast("long").as("hx"),
        floor(col("y") / cellSz).cast("long").as("hy"))
      .withColumn("o", explode(offs))
      .select(col("bk"), col("bx"), col("by"),
        (col("hx") + col("o.di")).as("cx"), (col("hy") + col("o.dj")).as("cy"))
    val dsq = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    val nb = home.join(probe, Seq("cx", "cy"))
      .filter(col("ak") =!= col("bk") && dsq <= 1000000000000L)
      .select(col("ak"), col("bk"))
      .transform(Materialize.snapshot) // degree + core edges + border all read it
    val core = nb.groupBy(col("ak").as("k")).agg(count(lit(1)).as("nn"))
      .filter(col("nn") >= 3).select("k")
    val ce = nb
      .join(core.select(col("k").as("ak")), "ak")
      .join(core.select(col("k").as("bk")), "bk")
      .select(col("ak").as("a"), col("bk").as("b"))
      .transform(Materialize.snapshot) // read every CC round
    val comp = Dedup.connectedComponents(core.select(col("k").as("id")), ce)
      .select(col("id").as("k"), col("comp").as("cluster"))
    val border = nb.join(comp.select(col("k").as("bk"), col("cluster")), "bk")
      .join(comp.select(col("k").as("ak")), Seq("ak"), "left_anti")
      .groupBy(col("ak").as("k")).agg(min("cluster").as("bcluster"))
    p.select("k")
      .join(comp.withColumnRenamed("cluster", "ccluster"), Seq("k"), "left")
      .join(border, Seq("k"), "left")
      .select(col("k"),
        when(col("ccluster").isNotNull, "core")
          .when(col("bcluster").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("ccluster"), col("bcluster")).as("cluster"))
      .orderBy("k")
  }

  /** q251 — isotonic regression (PAVA) calibration: the best
    * NONDECREASING fit of the URGENT-order rate over 32 equi-width
    * price bins — the monotone-calibration step every score→rate
    * mapping ships through (a quality score whose observed keep-rate
    * wiggles non-monotonically is noise; isotonic regression is the
    * standard distribution-free fix, and the same operator calibrates
    * classifier probabilities). Pool-adjacent-violators runs as a
    * typed Aggregator (functions.PavaAgg, the KmvAgg bounded-state
    * pattern): inputs are the ≤32 pre-collapsed (bin, Σy, n) cells —
    * the corpus never reaches the stack — and the merge rule
    * cross-multiplies BIGINT means (s_prev·c_cur > s_cur·c_prev), no
    * floats, strict violations only, so the DuckDB oracle replays the
    * IDENTICAL merge sequence with a recursive step machine (one push
    * or one merge per recursion step, ≤ 2·cells steps) and the block
    * boundaries match bit-for-bit. Fitted value = floor-milli pooled
    * mean, divided ONCE in the output so both engines floor the same
    * rationals.
    *
    * Scale: q226's two-pass histogram shape — one corpus scan collapses
    * to ≤32 cells map-side (1-row min/max broadcast, allowlisted); the
    * PAVA stack runs on CELLS (bounded by the bin domain at any corpus
    * size); output is block-cardinality. */
  val q251IsotonicFit: Q = Q(
    "q251_isotonic_fit",
    """WITH RECURSIVE pts AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      |  FROM orders
      |), mm AS (
      |  SELECT MIN(v) AS lo, MAX(v) AS hi FROM pts
      |), cells AS (
      |  SELECT CAST((v - lo) * 32 // (hi - lo + 1) AS BIGINT) AS bin,
      |    CAST(SUM(y) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM pts CROSS JOIN mm GROUP BY 1
      |), ord AS (
      |  SELECT bin, s, c, ROW_NUMBER() OVER (ORDER BY bin) AS rn FROM cells
      |), nn AS (SELECT COUNT(*) AS n FROM ord
      |), f(step, i, st) AS (
      |  SELECT 0, CAST(0 AS BIGINT),
      |    CAST([] AS STRUCT(xlo BIGINT, xhi BIGINT, nc BIGINT, s BIGINT, c BIGINT)[])
      |  UNION ALL
      |  SELECT step + 1,
      |    CASE WHEN viol THEN i ELSE i + 1 END,
      |    CASE WHEN viol THEN list_append(st[1:len(st)-2],
      |        {'xlo': st[-2].xlo, 'xhi': st[-1].xhi, 'nc': st[-2].nc + st[-1].nc,
      |         's': st[-2].s + st[-1].s, 'c': st[-2].c + st[-1].c})
      |      ELSE list_append(st,
      |        {'xlo': (SELECT bin FROM ord WHERE rn = i + 1),
      |         'xhi': (SELECT bin FROM ord WHERE rn = i + 1), 'nc': CAST(1 AS BIGINT),
      |         's': (SELECT s FROM ord WHERE rn = i + 1),
      |         'c': (SELECT c FROM ord WHERE rn = i + 1)}) END
      |  FROM (SELECT step, i, st,
      |      len(st) >= 2 AND st[-2].s * st[-1].c > st[-1].s * st[-2].c AS viol
      |    FROM f)
      |  WHERE viol OR i < (SELECT n FROM nn)
      |), fin AS (
      |  SELECT st FROM f ORDER BY step DESC LIMIT 1
      |), ex AS (
      |  SELECT unnest(list_transform(range(1, len(st) + 1),
      |    bi -> {'bi': bi, 'b': st[bi]})) AS r
      |  FROM fin
      |)
      |SELECT CAST(r.bi AS BIGINT) AS block_idx,
      |  r.b.xlo AS bin_lo, r.b.xhi AS bin_hi, r.b.nc AS n_bins,
      |  r.b.s AS n_urgent, r.b.c AS n_orders,
      |  CAST(r.b.s * 1000 // r.b.c AS BIGINT) AS fitted_milli
      |FROM ex
      |ORDER BY block_idx""") { (s, d) =>
    val pts = Tables.orders(s, d).select(
      (dec(col("o_totalprice")) * 100).cast("long").as("v"),
      when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("y"))
    val mm = pts.agg(min("v").as("lo"), max("v").as("hi"))
    val cells = pts.crossJoin(broadcast(mm)) // 1-row min/max scalar
      .groupBy(expr("(v - lo) * 32 div (hi - lo + 1)").as("bin"))
      .agg(sum("y").as("s"), count(lit(1)).as("c"))
    val pava = udaf(new graft.functions.PavaAgg(),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Long)]())
    cells.agg(pava(col("bin"), col("s"), col("c")).as("blocks"))
      .select(posexplode(col("blocks")).as(Seq("pos", "b")))
      .select((col("pos") + 1).cast("long").as("block_idx"),
        col("b._1").as("bin_lo"), col("b._2").as("bin_hi"),
        col("b._3").as("n_bins"), col("b._4").as("n_urgent"),
        col("b._5").as("n_orders"),
        expr("b._4 * 1000 div b._5").as("fitted_milli"))
      .orderBy("block_idx")
  }

  /** q262 — cumulative gains / lift by score bin: bucket customers by
    * the model score (account balance, the fixture's stand-in), walk
    * bins best-first, and report per-bin response rate plus cumulative
    * capture and lift — the gains-chart/decile-lift readout every
    * targeting model ships with (q184 AUC summarizes ranking quality in
    * one number; this is the operating-curve view that answers "mail
    * the top 20%, get what share of buyers?"). Outcome = has an URGENT
    * order. Lift is a SINGLE exact division — cum_pos·N·10⁶ //
    * (cum_n·P) — never a ratio of two floored rates. 20 fixed
    * equal-width bins over the pinned TPC-H balance domain
    * [−999.99, 9999.99], so bin ids are stable across partitions,
    * scales, and engines (q251's fixed-bin choice; q208's equi-depth
    * build composes when the domain isn't pinned).
    *
    * Scale: one outcome semi-join (distinct URGENT custkeys) + one scan
    * collapsing to ≤20 (bin, n, pos) cells map-side; the cumulative
    * window and both ratios run on cells. BIGINT exact through sf100
    * (cum_pos·N·10⁶ ≲ 10¹⁸ at 1.5e6 customers); DECIMAL(38,0) is the
    * documented lift beyond. */
  val q262GainsLift: Q = Q(
    "q262_gains_lift",
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |), c AS (
      |  SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal,
      |    CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      |  FROM customer LEFT JOIN pos p ON p.o_custkey = c_custkey
      |), b AS (
      |  SELECT LEAST(19, GREATEST(0, (bal + 99999) // 55000)) AS bin,
      |    COUNT(*) AS n, SUM(y) AS npos
      |  FROM c GROUP BY 1
      |), w AS (
      |  SELECT bin, n, npos,
      |    SUM(n) OVER (ORDER BY bin DESC) AS cn,
      |    SUM(npos) OVER (ORDER BY bin DESC) AS cp,
      |    SUM(n) OVER () AS tn, SUM(npos) OVER () AS tp
      |  FROM b
      |)
      |SELECT CAST(bin AS BIGINT) AS score_bin,
      |  CAST(n AS BIGINT) AS n_customers, CAST(npos AS BIGINT) AS n_pos,
      |  CAST(npos * 1000000 // n AS BIGINT) AS rate_ppm,
      |  CAST(cn AS BIGINT) AS cum_customers, CAST(cp AS BIGINT) AS cum_pos,
      |  CAST(CASE WHEN tp = 0 THEN NULL ELSE cp * 1000000 // tp END AS BIGINT) AS capture_ppm,
      |  CAST(CASE WHEN tp = 0 THEN NULL
      |    ELSE cp * tn * 1000000 // (cn * tp) END AS BIGINT) AS cum_lift_ppm
      |FROM w
      |ORDER BY score_bin DESC""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pos = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val c = Tables.customer(s, d)
      .join(broadcast(pos), col("o_custkey") === col("c_custkey"), "left")
      .select((dec(col("c_acctbal")) * 100).cast("long").as("bal"),
        when(col("o_custkey").isNull, 0L).otherwise(1L).as("y"))
    val b = c.groupBy(least(lit(19L), greatest(lit(0L),
        expr("(bal + 99999) div 55000"))).as("bin"))
      .agg(count(lit(1)).as("n"), sum("y").as("npos"))
    val wCum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    b.select(col("bin").as("score_bin"),
        col("n").as("n_customers"), col("npos").as("n_pos"),
        expr("npos * 1000000 div n").as("rate_ppm"),
        sum("n").over(wCum).as("cum_customers"),
        sum("npos").over(wCum).as("cum_pos"),
        sum("n").over(wAll).as("tn"), sum("npos").over(wAll).as("tp"))
      .select(col("score_bin"), col("n_customers"), col("n_pos"), col("rate_ppm"),
        col("cum_customers"), col("cum_pos"),
        when(col("tp") === 0, lit(null).cast("long"))
          .otherwise(expr("cum_pos * 1000000 div tp")).as("capture_ppm"),
        when(col("tp") === 0, lit(null).cast("long"))
          .otherwise(expr("cum_pos * tn * 1000000 div (cum_customers * tp)"))
          .as("cum_lift_ppm"))
      .orderBy(col("score_bin").desc)
  }

  /** q263 — Herfindahl–Hirschman market concentration, per region:
    * Σ(supplier revenue share)² in exact ppm plus the inverse
    * "effective competitor count" — the antitrust/marketplace
    * concentration statistic (q180's Gini measures INEQUALITY of the
    * distribution; HHI measures CONCENTRATION mass — a market of 2
    * equal giants is perfectly equal yet maximally concentrated, and
    * production health dashboards want both). hhi_ppm = (Σrev_s²)·10⁶
    * // (Σrev)² with the squares lifted to DECIMAL(38,0)/HUGEINT
    * BEFORE the multiply (q226's rule — per-supplier revenue² crosses
    * 2⁶³ around $10⁸, i.e. already at sf10).
    *
    * Scale: lineitem collapses to (supplier) revenue cells map-side
    * after a broadcast supplier→nation→region dim chain; the square
    * fold and both ratios run on |regions| cells. */
  val q263HhiConcentration: Q = Q(
    "q263_hhi_concentration",
    """WITH rev AS (
      |  SELECT r_name, l_suppkey,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, l_suppkey
      |), agg AS (
      |  SELECT r_name, COUNT(*) AS n_suppliers, SUM(rev) AS tot,
      |    SUM(CAST(rev AS HUGEINT) * rev) AS sumsq,
      |    MAX(rev) AS top_rev
      |  FROM rev GROUP BY r_name
      |)
      |SELECT r_name,
      |  CAST(n_suppliers AS BIGINT) AS n_suppliers,
      |  CAST(tot AS BIGINT) AS total_rev_cents,
      |  CAST(sumsq * 1000000 // (CAST(tot AS HUGEINT) * tot) AS BIGINT) AS hhi_ppm,
      |  CAST(top_rev * 1000000 // tot AS BIGINT) AS top_share_ppm,
      |  CAST(CAST(tot AS HUGEINT) * tot * 1000 // sumsq AS BIGINT) AS eff_competitors_milli
      |FROM agg
      |ORDER BY r_name""") { (s, d) =>
    val rev = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "l_suppkey")
      .agg(sum((dec(col("l_extendedprice")) * 100).cast("long")).as("rev"))
    rev.groupBy("r_name")
      .agg(count(lit(1)).as("n_suppliers"), sum("rev").as("tot"),
        // lifted BEFORE the multiply: supplier-revenue² wraps BIGINT
        // around $10⁸ per supplier (sf10); the lift is exact at any SF
        sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("sumsq"),
        max("rev").as("top_rev"))
      .select(col("r_name"),
        col("n_suppliers"), col("tot").as("total_rev_cents"),
        expr("CAST(sumsq * 1000000 div (CAST(tot AS DECIMAL(38,0)) * tot) AS BIGINT)")
          .as("hhi_ppm"),
        expr("top_rev * 1000000 div tot").as("top_share_ppm"),
        expr("CAST(CAST(tot AS DECIMAL(38,0)) * tot * 1000 div sumsq AS BIGINT)")
          .as("eff_competitors_milli"))
      .orderBy("r_name")
  }

  /** q266 — t-closeness audit: completes the release-gate trio — q152/
    * q155 bound group SIZE (k-anonymity), q238 bounds sensitive-value
    * VARIETY (l-diversity), but a group can pass both while its
    * sensitive DISTRIBUTION still leaks (9 low + 1 urgent in a
    * nation-month where the population is 50/50 tells an attacker
    * plenty). t-closeness bounds the Earth-Mover's Distance between
    * each QI group's sensitive distribution and the global one. The
    * sensitive attribute (order priority) is ORDINAL, so EMD has the
    * exact closed form (1/(m−1))·Σᵢ|CumPg(i) − CumP(i)| over the m=5
    * ordered levels — computed as one exact integer per group:
    * Σᵢ|cumcᵢ·N − cumCᵢ·n_g| · 10⁶ // (4·n_g·N), no float ever forms.
    * A dense 5-level spine per group makes absent levels exact zeros
    * instead of skipped terms.
    *
    * Scale: the corpus collapses to (QI, level) cells map-side; the
    * spine is groups×5, the global distribution is 5 cells broadcast,
    * and the cumulative windows partition per group over exactly 5
    * rows. BIGINT exact through sf100 (n_g·N·10⁶ ≲ 10¹⁸);
    * DECIMAL(38,0) is the documented lift beyond. */
  val q266TCloseness: Q = Q(
    "q266_t_closeness",
    """WITH base AS (
      |  SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS p
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |), cells AS (
      |  SELECT n_name, m, p, COUNT(*) AS c FROM base GROUP BY n_name, m, p
      |), grp AS (
      |  SELECT n_name, m, SUM(c) AS ng FROM cells GROUP BY n_name, m
      |), spine AS (
      |  SELECT g.n_name, g.m, g.ng, pr.p
      |  FROM grp g CROSS JOIN (SELECT unnest(range(1, 6)) AS p) pr
      |), dense AS (
      |  SELECT s.n_name, s.m, s.ng, s.p, COALESCE(c.c, 0) AS c
      |  FROM spine s LEFT JOIN cells c
      |    ON c.n_name = s.n_name AND c.m = s.m AND c.p = s.p
      |), gdist AS (
      |  SELECT p, SUM(c) AS gc FROM dense GROUP BY p
      |), gtot AS (
      |  SELECT SUM(gc) AS n FROM gdist
      |), gcum AS (
      |  SELECT p, SUM(gc) OVER (ORDER BY p) AS cum_g FROM gdist
      |), cum AS (
      |  SELECT n_name, m, ng, p,
      |    SUM(c) OVER (PARTITION BY n_name, m ORDER BY p) AS cum_c
      |  FROM dense
      |), emd AS (
      |  SELECT c.n_name, c.m, c.ng,
      |    SUM(CASE WHEN c.p < 5
      |      THEN ABS(c.cum_c * t.n - g.cum_g * c.ng) ELSE 0 END) AS num
      |  FROM cum c JOIN gcum g USING (p) CROSS JOIN gtot t
      |  GROUP BY c.n_name, c.m, c.ng
      |)
      |SELECT e.n_name, e.m AS month, CAST(e.ng AS BIGINT) AS n_rows,
      |  CAST(e.num * 1000000 // (4 * e.ng * t.n) AS BIGINT) AS emd_ppm,
      |  e.num * 1000000 // (4 * e.ng * t.n) > 200000 AS t_breach
      |FROM emd e CROSS JOIN gtot t
      |ORDER BY e.n_name, e.m""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("p"))
    val cells = base.groupBy("n_name", "m", "p").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // (QI, level) cells: spine join + global dist read it
    val grp = cells.groupBy("n_name", "m").agg(sum("c").as("ng"))
    val spine = grp.crossJoin(broadcast(
      s.range(1, 6).select(col("id").as("p")))) // 5-row level spine
    val dense = spine.join(cells, Seq("n_name", "m", "p"), "left")
      .select(col("n_name"), col("m"), col("ng"), col("p"),
        coalesce(col("c"), lit(0L)).as("c"))
      .transform(Materialize.snapshot) // groups×5 cells: global dist + cum both read it
    val glob = dense.groupBy("p").agg(sum("c").as("gc"))
    val gtot = glob.agg(sum("gc").as("n"))
    val gcum = glob.select(col("p"), sum("gc").over(
      Window.orderBy("p").rowsBetween(Window.unboundedPreceding, Window.currentRow))
      .as("cum_g"))
    val cum = dense.withColumn("cum_c", sum("c").over(
      Window.partitionBy("n_name", "m").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.join(broadcast(gcum), "p").crossJoin(broadcast(gtot)) // 5-cell + 1-row
      .groupBy("n_name", "m", "ng")
      .agg(sum(when(col("p") < 5,
        abs(col("cum_c") * col("n") - col("cum_g") * col("ng")))
        .otherwise(0L)).as("num"))
      .crossJoin(broadcast(gtot))
      .select(col("n_name"), col("m").as("month"), col("ng").as("n_rows"),
        expr("num * 1000000 div (4 * ng * n)").as("emd_ppm"),
        (expr("num * 1000000 div (4 * ng * n)") > 200000L).as("t_breach"))
      .orderBy("n_name", "month")
  }

  /** q269 — cost-sensitive threshold sweep: walk every decision
    * threshold over the q262 score bins, tally the exact confusion
    * quadrant from cumulative cells, and pick the cost-minimizing
    * operating point under a pinned asymmetric cost (FN = 5, FP = 1 —
    * the "missing a buyer costs 5× a wasted mail" calibration every
    * deployed classifier needs; q184's AUC and q262's lift are
    * threshold-FREE views, this is where the threshold actually gets
    * CHOSEN). All integer counts; best = (cost ASC, bin ASC) rank 1 —
    * deterministic ties.
    *
    * Scale: the identical ≤20-cell collapse as q262; the sweep is a
    * cumulative window over cells and the argmin is a rank over 20
    * rows. */
  val q269ThresholdSweep: Q = Q(
    "q269_threshold_sweep",
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |), c AS (
      |  SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal,
      |    CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      |  FROM customer LEFT JOIN pos p ON p.o_custkey = c_custkey
      |), b AS (
      |  SELECT LEAST(19, GREATEST(0, (bal + 99999) // 55000)) AS bin,
      |    COUNT(*) AS n, SUM(y) AS npos
      |  FROM c GROUP BY 1
      |), w AS (
      |  SELECT bin,
      |    SUM(npos) OVER (ORDER BY bin DESC) AS tp,
      |    SUM(n - npos) OVER (ORDER BY bin DESC) AS fp,
      |    SUM(npos) OVER () AS p, SUM(n - npos) OVER () AS neg
      |  FROM b
      |), scored AS (
      |  SELECT bin AS threshold_bin,
      |    CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |    CAST(p - tp AS BIGINT) AS fn, CAST(neg - fp AS BIGINT) AS tn,
      |    CAST(5 * (p - tp) + fp AS BIGINT) AS cost
      |  FROM w
      |)
      |SELECT threshold_bin, tp, fp, fn, tn, cost,
      |  (ROW_NUMBER() OVER (ORDER BY cost, threshold_bin) = 1) AS is_best
      |FROM scored
      |ORDER BY threshold_bin DESC""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pos = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val c = Tables.customer(s, d)
      .join(broadcast(pos), col("o_custkey") === col("c_custkey"), "left")
      .select((dec(col("c_acctbal")) * 100).cast("long").as("bal"),
        when(col("o_custkey").isNull, 0L).otherwise(1L).as("y"))
    val b = c.groupBy(least(lit(19L), greatest(lit(0L),
        expr("(bal + 99999) div 55000"))).as("bin"))
      .agg(count(lit(1)).as("n"), sum("y").as("npos"))
    val wCum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scored = b.select(col("bin").as("threshold_bin"),
        sum("npos").over(wCum).as("tp"),
        sum(col("n") - col("npos")).over(wCum).as("fp"),
        sum("npos").over(wAll).as("p"),
        sum(col("n") - col("npos")).over(wAll).as("neg"))
      .select(col("threshold_bin"), col("tp"), col("fp"),
        (col("p") - col("tp")).as("fn"), (col("neg") - col("fp")).as("tn"),
        (lit(5L) * (col("p") - col("tp")) + col("fp")).as("cost"))
    scored.withColumn("is_best",
        row_number().over(Window.orderBy(col("cost"), col("threshold_bin"))) === 1)
      .orderBy(col("threshold_bin").desc)
  }

  /** q271 — fairness audit (demographic parity + equalized odds), per
    * nation: a pinned decision rule (predict URGENT-buyer iff balance
    * ≥ $4,500.00) scored per protected group — selection rate, TPR,
    * FPR, the disparate-impact ratio vs the global selection rate
    * (the four-fifths-rule number), and SIGNED equalized-odds gaps.
    * The audit a production model ships next to q269's threshold
    * choice: the cost-optimal threshold can still select one group at
    * half the rate of another. Rates are exact floor-ppm; groups with
    * no positives (no negatives) report NULL TPR (FPR) instead of a
    * divide-by-zero; gaps are pure subtraction so sign semantics never
    * meet a floor division.
    *
    * Scale: one scan collapses to |nations| confusion cells map-side
    * (outcome = URGENT semi-join, the q262 shape); the global
    * reference is a 1-row fold broadcast back. */
  val q271FairnessAudit: Q = Q(
    "q271_fairness_audit",
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |), c AS (
      |  SELECT n_name,
      |    CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) >= 450000
      |      THEN 1 ELSE 0 END AS sel,
      |    CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  LEFT JOIN pos p ON p.o_custkey = c_custkey
      |), g AS (
      |  SELECT n_name, COUNT(*) AS n, SUM(y) AS np, SUM(sel) AS ns,
      |    SUM(sel * y) AS tp, SUM(sel * (1 - y)) AS fp
      |  FROM c GROUP BY n_name
      |), t AS (
      |  SELECT SUM(n) AS n, SUM(np) AS np, SUM(ns) AS ns,
      |    SUM(tp) AS tp, SUM(fp) AS fp
      |  FROM g
      |)
      |SELECT g.n_name,
      |  CAST(g.n AS BIGINT) AS n,
      |  CAST(g.np AS BIGINT) AS n_outcome,
      |  CAST(g.ns AS BIGINT) AS n_selected,
      |  CAST(g.ns * 1000000 // g.n AS BIGINT) AS sel_ppm,
      |  CAST(g.np * 1000000 // g.n AS BIGINT) AS base_ppm,
      |  CAST(CASE WHEN g.np = 0 THEN NULL
      |    ELSE g.tp * 1000000 // g.np END AS BIGINT) AS tpr_ppm,
      |  CAST(CASE WHEN g.n - g.np = 0 THEN NULL
      |    ELSE g.fp * 1000000 // (g.n - g.np) END AS BIGINT) AS fpr_ppm,
      |  CAST(CASE WHEN t.ns = 0 THEN NULL
      |    ELSE (g.ns * 1000000 // g.n) * 1000000 // (t.ns * 1000000 // t.n)
      |    END AS BIGINT) AS di_ratio_ppm,
      |  CAST(CASE WHEN g.np = 0 OR t.np = 0 THEN NULL
      |    ELSE g.tp * 1000000 // g.np - t.tp * 1000000 // t.np
      |    END AS BIGINT) AS tpr_gap_ppm,
      |  CAST(CASE WHEN g.n - g.np = 0 OR t.n - t.np = 0 THEN NULL
      |    ELSE g.fp * 1000000 // (g.n - g.np) - t.fp * 1000000 // (t.n - t.np)
      |    END AS BIGINT) AS fpr_gap_ppm
      |FROM g CROSS JOIN t
      |ORDER BY g.n_name""") { (s, d) =>
    val pos = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val c = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(pos), col("o_custkey") === col("c_custkey"), "left")
      .select(col("n_name"),
        when((dec(col("c_acctbal")) * 100).cast("long") >= 450000L, 1L)
          .otherwise(0L).as("sel"),
        when(col("o_custkey").isNull, 0L).otherwise(1L).as("y"))
    val g = c.groupBy("n_name")
      .agg(count(lit(1)).as("n"), sum("y").as("np"), sum("sel").as("ns"),
        sum(col("sel") * col("y")).as("tp"),
        sum(col("sel") * (lit(1L) - col("y"))).as("fp"))
      .transform(Materialize.snapshot) // |nations| confusion cells: global fold + audit read it
    val t = g.agg(sum("n").as("tn"), sum("np").as("tnp"), sum("ns").as("tns"),
      sum("tp").as("ttp"), sum("fp").as("tfp"))
    g.crossJoin(broadcast(t)) // 1-row global reference
      .select(col("n_name"), col("n"),
        col("np").as("n_outcome"), col("ns").as("n_selected"),
        expr("ns * 1000000 div n").as("sel_ppm"),
        expr("np * 1000000 div n").as("base_ppm"),
        when(col("np") === 0, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000 div np")).as("tpr_ppm"),
        when(col("n") - col("np") === 0, lit(null).cast("long"))
          .otherwise(expr("fp * 1000000 div (n - np)")).as("fpr_ppm"),
        when(col("tns") === 0, lit(null).cast("long"))
          .otherwise(expr("(ns * 1000000 div n) * 1000000 div (tns * 1000000 div tn)"))
          .as("di_ratio_ppm"),
        when(col("np") === 0 || col("tnp") === 0, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000 div np - ttp * 1000000 div tnp"))
          .as("tpr_gap_ppm"),
        when(col("n") - col("np") === 0 || col("tn") - col("tnp") === 0,
          lit(null).cast("long"))
          .otherwise(expr("fp * 1000000 div (n - np) - tfp * 1000000 div (tn - tnp)"))
          .as("fpr_gap_ppm"))
      .orderBy("n_name")
  }

  /** q302 — Spearman rank correlation (tie-aware, via Pearson on
    * midranks) between per-nation revenue and order value: the
    * MONOTONE-association companion to q235's Kendall τ — Spearman
    * weights by rank distance (sensitive to how FAR ranks disagree)
    * where τ counts inversions, and the two disagreeing is itself a
    * shape signal. Midranks ×2 from value cells (2·cum_less + ties +
    * 1 — always integer; the ×2 scale cancels in the ratio), ρ from
    * cross-multiplied rank moments with sign-split milli and isqrt on
    * an exact integer (cell counts bound every product far below
    * 2⁵³).
    *
    * Scale: q235's shape — the fact table collapses to ≤|nations|
    * cells behind broadcast dims; rank walks and moments are cell
    * algebra. */
  val q302Spearman: Q = Q(
    "q302_spearman",
    """WITH cells AS (
      |  SELECT n_name,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // COUNT(*) AS BIGINT) AS aov
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name
      |), rx AS (
      |  SELECT rev, 2 * (SUM(c) OVER (ORDER BY rev ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW) - c) + c + 1 AS r2
      |  FROM (SELECT rev, COUNT(*) AS c FROM cells GROUP BY rev)
      |), ry AS (
      |  SELECT aov, 2 * (SUM(c) OVER (ORDER BY aov ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW) - c) + c + 1 AS r2
      |  FROM (SELECT aov, COUNT(*) AS c FROM cells GROUP BY aov)
      |), ranked AS (
      |  SELECT rx.r2 AS x, ry.r2 AS y
      |  FROM cells JOIN rx USING (rev) JOIN ry USING (aov)
      |), m AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM ranked
      |)
      |SELECT CAST(n AS BIGINT) AS n_groups,
      |  CAST(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
      |    WHEN n * sxy - sx * sy >= 0 THEN
      |      (n * sxy - sx * sy) * 1000
      |        // CAST(FLOOR(SQRT(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))) AS BIGINT)
      |    ELSE -((-(n * sxy - sx * sy)) * 1000
      |        // CAST(FLOOR(SQRT(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))) AS BIGINT))
      |    END AS BIGINT) AS spearman_milli
      |FROM m""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum((dec(col("o_totalprice")) * 100).cast("long")).as("rev"),
        count(lit(1)).as("cnt"))
      .select(col("n_name"), col("rev"), expr("rev div cnt").as("aov"))
      .transform(Materialize.snapshot) // ≤|nations| cells feed both rank walks + the join-back
    def rank2(df: DataFrame, v: String): DataFrame = {
      val wCum = Window.orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.groupBy(v).agg(count(lit(1)).as("c"))
        .select(col(v), (lit(2) * (sum("c").over(wCum) - col("c")) + col("c") + 1).as("r2"))
    }
    val ranked = cells
      .join(broadcast(rank2(cells, "rev").withColumnRenamed("r2", "x")), "rev")
      .join(broadcast(rank2(cells, "aov").withColumnRenamed("r2", "y")), "aov")
    ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_groups"),
        expr("""CAST(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN NULL
          WHEN n * sxy - sx * sy >= 0 THEN
            (n * sxy - sx * sy) * 1000
              div CAST(FLOOR(SQRT(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))) AS BIGINT)
          ELSE -((-(n * sxy - sx * sy)) * 1000
              div CAST(FLOOR(SQRT(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))) AS BIGINT))
          END AS BIGINT)""").as("spearman_milli"))
  }

  /** q303 — Cronbach's alpha over the user × event-type spend matrix:
    * do the five per-type spend signals measure ONE underlying
    * engagement trait (α near 1) or five unrelated behaviors (α near
    * 0)? The internal-consistency check run before anyone averages
    * per-item scores into a composite metric — eval-suite composites
    * included. α = k/(k−1)·(1 − Σvar_i/var_total) with population
    * variances as the integer moments D = nΣx² − (Σx)² (the /n²
    * cancels in the ratio); absent (user, type) cells are exact
    * zeros and contribute nothing to Σx/Σx², so NO dense fill is
    * materialized — only the 1-row user count enters. Sign-split
    * milli (α < 0 is possible and meaningful); DECIMAL(38,0)/HUGEINT
    * lifts on the squared sums.
    *
    * Scale: one (user, type) rollup; item moments are |types| cells,
    * the total-score moments one more per-user fold. */
  val q303CronbachAlpha: Q = Q(
    "q303_cronbach_alpha",
    """WITH ut AS (
      |  SELECT user_id, event_type,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
      |  FROM events GROUP BY user_id, event_type
      |), nu AS (
      |  SELECT COUNT(DISTINCT user_id) AS n FROM ut
      |), items AS (
      |  SELECT event_type, SUM(x) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM ut GROUP BY event_type
      |), isum AS (
      |  SELECT COUNT(*) AS k,
      |    SUM(CAST(nu.n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS d_items
      |  FROM items CROSS JOIN nu GROUP BY nu.n
      |), totals AS (
      |  SELECT user_id, SUM(x) AS tx FROM ut GROUP BY user_id
      |), dt AS (
      |  SELECT CAST(nu.n AS HUGEINT) * SUM(CAST(tx AS HUGEINT) * tx)
      |    - CAST(SUM(tx) AS HUGEINT) * SUM(tx) AS d_total
      |  FROM totals CROSS JOIN nu GROUP BY nu.n
      |)
      |SELECT CAST(i.k AS BIGINT) AS k_items,
      |  CAST(nu.n AS BIGINT) AS n_users,
      |  CAST(CASE WHEN dt.d_total = 0 OR i.k < 2 THEN NULL
      |    WHEN dt.d_total - i.d_items >= 0 THEN
      |      1000 * i.k * (dt.d_total - i.d_items) // ((i.k - 1) * dt.d_total)
      |    ELSE -(1000 * i.k * (i.d_items - dt.d_total) // ((i.k - 1) * dt.d_total))
      |    END AS BIGINT) AS alpha_milli
      |FROM isum i CROSS JOIN dt CROSS JOIN nu""") { (s, d) =>
    val ut = Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(sum((dec(col("value")) * 100).cast("long")).as("x"))
      .transform(Materialize.snapshot) // (user, type) cells feed items, totals, and the count
    val nu = ut.agg(countDistinct("user_id").as("n"))
    val items = ut.groupBy("event_type")
      .agg(sum("x").as("sx"), sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
    val isum = items.crossJoin(broadcast(nu)) // 1-row user count
      .groupBy("n")
      .agg(count(lit(1)).as("k"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
          .as("d_items"))
    val totals = ut.groupBy("user_id").agg(sum("x").as("tx"))
    val dt = totals.crossJoin(broadcast(nu))
      .groupBy("n")
      .agg(expr("""CAST(min(n) AS DECIMAL(38,0)) * sum(CAST(tx AS DECIMAL(38,0)) * tx)
        - CAST(sum(tx) AS DECIMAL(38,0)) * sum(tx)""").as("d_total"))
    isum.select(col("k"), col("d_items"))
      .crossJoin(broadcast(dt.select(col("d_total")))) // 1-row folds
      .crossJoin(broadcast(nu))
      .select(col("k").as("k_items"), col("n").as("n_users"),
        expr("""CAST(CASE WHEN d_total = 0 OR k < 2 THEN NULL
          WHEN d_total - d_items >= 0 THEN
            1000 * k * (d_total - d_items) div ((k - 1) * d_total)
          ELSE -(1000 * k * (d_items - d_total) div ((k - 1) * d_total))
          END AS BIGINT)""").as("alpha_milli"))
  }

  val all: Seq[Q] = Seq(q302Spearman, q303CronbachAlpha,
    q48Pivot, q49GroupingSets, q50Sketch, q56MapOps,
    q57Percentiles, q58Cube, q59RankFamily, q65TopkOperator, q82KmvSketch,
    q90CmsSketch, q112CorrMatrix, q141DriftReport, q152KanonRelease,
    q153ExactSelect, q155QiAudit, q157JackknifeCi, q159ContractAudit,
    q171AudienceOverlap, q175RobustOutliers, q178TrendOls,
    q180GiniConcentration, q182Unpivot, q185RfmSegments, q193GridRadiusJoin,
    q194FdAudit, q195EditDistanceJoin, q196Skyline, q197TheilSen,
    q199HierarchyRollup, q200BenfordAudit, q208EquiDepthHist,
    q210MonetaryUnitSample, q213PrioritySample, q214HllRegisters,
    q215WeightedMedian, q218SketchAlgebra, q225TargetEncode, q226StumpSplit,
    q235KendallTau, q238LDiversity, q239ShapleyExact, q242TrimmedMean,
    q251IsotonicFit, q252Dbscan, q262GainsLift, q263HhiConcentration,
    q266TCloseness, q269ThresholdSweep, q271FairnessAudit)
}
