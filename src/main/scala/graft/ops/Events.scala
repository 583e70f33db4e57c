package graft.ops

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream operator pack over the `events` table: sessionization,
  * funnel analysis, analytic window frames, and an as-of join — the
  * batch shapes of the streaming layer (graft.streaming holds the
  * Structured Streaming equivalents).
  *
  * Determinism: event times are compared in integer epoch micros/seconds
  * (`Tables.events` floors parquet nanos to micros; oracles mirror with
  * DuckDB `epoch_us`). Orderings always tie-break on `event_id`.
  *
  * Scale: every query is one shuffle on `user_id` (the natural session
  * key); window chains reuse the same partitioning, so Catalyst plans a
  * single Exchange followed by in-partition sorts.
  */
object Events {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** q37 — sessionization: a new session starts after a >30 min gap;
    * per-session event counts, duration, purchases. The batch twin of
    * mapGroupsWithState sessionization. */
  val q37Sessionize: Q = Q(
    "q37_sessionize",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(ts)//1000000 AS sec, ts
      |  FROM events
      |), lagged AS (
      |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM ev
      |), marked AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM lagged
      |), sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM marked
      |)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  COUNT(*) AS n_events,
      |  MIN(sec) AS start_sec, MAX(sec) - MIN(sec) AS duration_sec,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
      |FROM sess GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev_sec", lag("sec", 1).over(w))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1).otherwise(0))
      .withColumn("session_idx", sum("is_new").over(wRun).cast("long"))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("sec").as("start_sec"),
        (max("sec") - min("sec")).as("duration_sec"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
      .orderBy("user_id", "session_idx")
  }

  /** q38 — funnel: first view → first click after it → first purchase
    * after that, per user; one window partitioning, three chained
    * min-over-partition passes (no extra shuffles). */
  val q38Funnel: Q = Q(
    "q38_funnel",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts)//1000000 AS sec FROM events
      |), v AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN sec END)
      |    OVER (PARTITION BY user_id) AS first_view
      |  FROM ev
      |), c AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND sec >= first_view THEN sec END)
      |    OVER (PARTITION BY user_id) AS first_click
      |  FROM v
      |), p AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND sec >= first_click THEN sec END)
      |    OVER (PARTITION BY user_id) AS first_purchase
      |  FROM c
      |)
      |SELECT user_id,
      |  MIN(first_view) AS first_view_sec,
      |  MIN(first_click) AS first_click_sec,
      |  MIN(first_purchase) AS first_purchase_sec,
      |  CASE WHEN MIN(first_purchase) IS NOT NULL THEN 3
      |       WHEN MIN(first_click) IS NOT NULL THEN 2
      |       WHEN MIN(first_view) IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM p GROUP BY user_id
      |ORDER BY user_id""") { (s, d) =>
    val w = Window.partitionBy("user_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("first_view",
        min(when(col("event_type") === "view", col("sec"))).over(w))
      .withColumn("first_click",
        min(when(col("event_type") === "click" && col("sec") >= col("first_view"),
          col("sec"))).over(w))
      .withColumn("first_purchase",
        min(when(col("event_type") === "purchase" && col("sec") >= col("first_click"),
          col("sec"))).over(w))
      .groupBy("user_id")
      .agg(min("first_view").as("first_view_sec"),
        min("first_click").as("first_click_sec"),
        min("first_purchase").as("first_purchase_sec"),
        when(min("first_purchase").isNotNull, 3)
          .when(min("first_click").isNotNull, 2)
          .when(min("first_view").isNotNull, 1)
          .otherwise(0).as("stage"))
      .orderBy("user_id")
  }

  /** q39 — analytic frames: lag/lead and a 3-row moving decimal sum per
    * user timeline (SURVEY §2.5's "absent in reference, free in Spark"
    * row, exercised explicitly). */
  val q39WindowFrames: Q = Q(
    "q39_window_frames",
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts)//1000000 AS sec,
      |    CAST(value AS DECIMAL(18,2)) AS v, ts
      |  FROM events
      |)
      |SELECT event_id, user_id, sec,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
      |  CAST(lag(v) OVER w AS DOUBLE) AS prev_v,
      |  CAST(lead(v) OVER w AS DOUBLE) AS next_v,
      |  CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv_sum
      |FROM ev
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, rn""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wf = w.rowsBetween(-2, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_timestamp(col("ts")).as("sec"), dec(col("value")).as("v"))
      .select(col("event_id"), col("user_id"), col("sec"),
        row_number().over(w).cast("long").as("rn"),
        lag("v", 1).over(w).cast("double").as("prev_v"),
        lead("v", 1).over(w).cast("double").as("next_v"),
        sum("v").over(wf).cast("double").as("mv_sum"))
      .orderBy("user_id", "rn")
  }

  /** q40 — as-of join: each purchase matched to the user's most recent
    * view at-or-before it (micros precision). Spark expresses it as a
    * union + carry-forward window — one shuffle, no range-join blowup;
    * DuckDB verifies with its native ASOF JOIN. At scale this beats an
    * inequality join because the state is one row per group, not a
    * per-pair comparison. */
  val q40AsofJoin: Q = Q(
    "q40_asof_join",
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'
      |)
      |SELECT p.event_id, p.user_id,
      |  p.us//1000000 AS purchase_sec,
      |  v.us//1000000 AS last_view_sec,
      |  (p.us - v.us)//1000000 AS gap_sec
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us
      |ORDER BY p.event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        (unix_micros(col("ts"))).as("us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
    // views sort before purchases at equal micros so >= matches ASOF.
    val w = Window.partitionBy("user_id").orderBy("us", "is_p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_view_us",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        floor(col("us") / 1000000L).as("purchase_sec"),
        floor(col("last_view_us") / 1000000L).as("last_view_sec"),
        floor((col("us") - col("last_view_us")) / 1000000L).as("gap_sec"))
      .orderBy("event_id")
  }

  /** q41 — native session_window aggregation (the same operator the
    * streaming layer runs incrementally; see graft.streaming). Session
    * boundary is gap >= 30 min — an event exactly at last+gap falls
    * outside the window — which the oracle mirrors in integer micros. */
  val q41SessionWindow: Q = Q(
    "q41_session_window",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us, ts FROM events
      |), lagged AS (
      |  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM ev
      |), marked AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM lagged
      |), sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM marked
      |)
      |SELECT user_id, MIN(us) AS session_start_us,
      |  COUNT(*) AS n_events,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
      |FROM sess GROUP BY user_id, session_idx
      |ORDER BY user_id, session_start_us""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("n_purchases"))
      .orderBy("user_id", "session_start_us")
  }

  /** q81 — the SAME as-of semantics as q40, on the custom AsofJoinExec
    * (plans.AsofJoin): both sides co-partitioned on user and sorted by
    * (user, time), then ONE forward merge pass per partition carrying a
    * single last-match row. The q40 window spelling shuffles purchases
    * AND views into one combined sort; this shuffles each side once on
    * its own (smaller) table, never re-sorts the union, and the sorts
    * come free from a bucketed+sorted layout at scale. DuckDB verifies
    * with its native ASOF JOIN — same oracle as q40. */
  val q81AsofOperator: Q = Q(
    "q81_asof_operator",
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'
      |)
      |SELECT p.event_id, p.user_id,
      |  p.us//1000000 AS purchase_sec,
      |  v.us//1000000 AS last_view_sec,
      |  (p.us - v.us)//1000000 AS gap_sec
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us
      |ORDER BY p.event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("us").as("v_us"))
    graft.plans.AsofJoin(p, v, "user_id", "v_user", "us", "v_us")
      .select(col("event_id"), col("user_id"),
        floor(col("us") / 1000000L).as("purchase_sec"),
        floor(col("v_us") / 1000000L).as("last_view_sec"),
        floor((col("us") - col("v_us")) / 1000000L).as("gap_sec"))
      .orderBy("event_id")
  }

  /** q89 — tolerance-bounded as-of join on the custom operator: each
    * purchase matched to the user's most recent view ONLY if it is at
    * most 30 minutes old (the feature-store freshness window / pandas
    * merge_asof `tolerance`). Since the as-of match is already the most
    * recent admissible right row, a staler match has no fallback — the
    * operator nulls the side at emit time with zero extra passes, and
    * the oracle spells the same thing as plain ASOF + an age CASE. */
  val q89AsofTolerance: Q = Q(
    "q89_asof_tolerance",
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'
      |), j AS (
      |  SELECT p.event_id, p.user_id, p.us, v.us AS vus
      |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us
      |)
      |SELECT event_id, user_id,
      |  us//1000000 AS purchase_sec,
      |  CASE WHEN us - vus <= 1800000000 THEN vus//1000000 END AS fresh_view_sec,
      |  CASE WHEN us - vus <= 1800000000 THEN (us - vus)//1000000 END AS gap_sec
      |FROM j ORDER BY event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("us").as("v_us"))
    graft.plans.AsofJoin(p, v, "user_id", "v_user", "us", "v_us",
        toleranceUs = Some(30L * 60 * 1000000L))
      .select(col("event_id"), col("user_id"),
        floor(col("us") / 1000000L).as("purchase_sec"),
        floor(col("v_us") / 1000000L).as("fresh_view_sec"),
        floor((col("us") - col("v_us")) / 1000000L).as("gap_sec"))
      .orderBy("event_id")
  }

  /** q124 — as-of join DIRECTIONS: the same purchases→views pairing as
    * q81, matched both "forward" (the next view at-or-after the
    * purchase — DuckDB's `ASOF ... ON p.us <= v.us` comparator) and
    * "nearest" (the closer of backward/forward, ties to backward —
    * pandas merge_asof's third direction), completing the operator's
    * direction surface. Both run on the custom AsofJoinExec merge pass:
    * forward is a peek at the first unconsumed same-key right row (the
    * sort guarantees it is the smallest time at-or-after), so all three
    * directions stay O(|L|+|R|) per co-partition with zero extra
    * passes. The oracle spells forward as a native DuckDB ASOF with the
    * flipped comparator and nearest as the distance-CASE over the two
    * ASOF results — the window-free relational definition. */
  val q124AsofDirections: Q = Q(
    "q124_asof_directions",
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'
      |), v AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'view'
      |), jb AS (
      |  SELECT p.event_id, p.us, v.us AS bus
      |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us
      |), jf AS (
      |  SELECT p.event_id, p.user_id, p.us, v.us AS fus
      |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us <= v.us
      |)
      |SELECT jf.event_id AS event_id, jf.user_id AS user_id,
      |  jf.us//1000000 AS purchase_sec,
      |  fus//1000000 AS next_view_sec,
      |  (fus - jf.us)//1000000 AS fwd_gap_sec,
      |  (CASE WHEN bus IS NULL THEN fus
      |        WHEN fus IS NULL THEN bus
      |        WHEN (jf.us - bus) <= (fus - jf.us) THEN bus
      |        ELSE fus END)//1000000 AS near_view_sec
      |FROM jf JOIN jb ON jf.event_id = jb.event_id
      |ORDER BY event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("us").as("v_us"))
    val fwd = graft.plans.AsofJoin(p, v, "user_id", "v_user", "us", "v_us",
        direction = "forward")
      .select(col("event_id"), col("user_id"), col("us"), col("v_us").as("f_us"))
    val near = graft.plans.AsofJoin(
        p.select(col("event_id").as("n_event_id"), col("user_id").as("n_user"), col("us").as("n_us")),
        v, "n_user", "v_user", "n_us", "v_us", direction = "nearest")
      .select(col("n_event_id"), col("v_us").as("near_us"))
    fwd.join(near, col("event_id") === col("n_event_id"))
      .select(col("event_id"), col("user_id"),
        floor(col("us") / 1000000L).as("purchase_sec"),
        floor(col("f_us") / 1000000L).as("next_view_sec"),
        floor((col("f_us") - col("us")) / 1000000L).as("fwd_gap_sec"),
        floor(col("near_us") / 1000000L).as("near_view_sec"))
      .orderBy("event_id")
  }

  /** q103 — weekly cohort retention: users are cohorted by their
    * first-activity week and each cohort's later-week activity is
    * reported as a retention matrix (cohort, offset, active, size,
    * ppm). Weeks are INTEGER epoch-week numbers (`us div day div 7`) —
    * calendar-free arithmetic that is bit-identical across engines,
    * per the repo's integer-micros rule.
    *
    * Scale shape: ONE shuffle on user_id produces each user's (cohort,
    * active-week set); the matrix then comes from a narrow explode and
    * a ~|cohorts|×|offsets|-key aggregation, and cohort sizes ride the
    * same user-level table (localCheckpoint'd, one scan). No distinct
    * over the raw event stream, no second pass over events. */
  val q103CohortRetention: Q = Q(
    "q103_cohort_retention",
    """WITH ev AS (
      |  SELECT user_id, (epoch_us(ts)//86400000000)//7 AS week FROM events
      |), u AS (
      |  SELECT user_id, MIN(week) AS cw, list_distinct(list(week)) AS ws
      |  FROM ev GROUP BY user_id
      |), sizes AS (
      |  SELECT cw, COUNT(*) AS cohort_size FROM u GROUP BY cw
      |), x AS (
      |  SELECT cw, unnest(ws) - cw AS woff FROM u
      |), c AS (
      |  SELECT cw, woff, COUNT(*) AS n_active FROM x GROUP BY cw, woff
      |)
      |SELECT c.cw AS cohort_week, c.woff AS week_offset,
      |  CAST(n_active AS BIGINT) AS n_active,
      |  CAST(cohort_size AS BIGINT) AS cohort_size,
      |  CAST(FLOOR(CAST(n_active AS BIGINT)*1000000/cohort_size) AS BIGINT) AS retention_ppm
      |FROM c JOIN sizes USING (cw)
      |ORDER BY cohort_week, week_offset""") { (s, d) =>
    val u = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000 div 7").as("week"))
      .groupBy("user_id")
      .agg(min(col("week")).as("cw"), collect_set(col("week")).as("ws"))
      .transform(Materialize.snapshot) // one user-level pass feeds both the matrix and sizes
    val sizes = u.groupBy("cw").agg(count(lit(1)).as("cohort_size"))
    u.select(col("cw"), explode(col("ws")).as("week"))
      .select(col("cw"), (col("week") - col("cw")).as("offset"))
      .groupBy("cw", "offset").agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cw")
      .select(col("cw").as("cohort_week"), col("offset").as("week_offset"),
        col("n_active"), col("cohort_size"),
        floor(col("n_active") * 1000000L / col("cohort_size")).cast("long")
          .as("retention_ppm"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q106 — per-user hourly anomaly flags: each user's active-hour
    * event counts are z-scored against that user's own mean/std and
    * hours above mean + 2σ are flagged — the burst-detection audit of
    * an event pipeline. The moments come from EXACT integer sums
    * (n, Σc, Σc²) — order-independent, so the distributed aggregation
    * needs no ordered fold — and only the final mean/std/threshold
    * arithmetic is floating point, spelled identically on both engines.
    * The variance clamps at 0 before the sqrt: a rounding-induced
    * sub-ulp-negative variance would be NaN on Spark but an ERROR in
    * DuckDB (its sqrt rejects negatives), so the clamp is what keeps
    * the two engines aligned at any count magnitude.
    * Two shuffles total: (user, hour) counts, then
    * per-user moments; the hour table re-joins the tiny broadcast
    * moments side. */
  val q106HourlyAnomaly: Q = Q(
    "q106_hourly_anomaly",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts)//3600000000 AS hr FROM events
      |), hc AS (
      |  SELECT user_id, hr, COUNT(*) AS cnt FROM e GROUP BY 1, 2
      |), st AS (
      |  SELECT user_id, COUNT(*) AS n, SUM(cnt) AS s, SUM(cnt*cnt) AS ss
      |  FROM hc GROUP BY 1
      |), m AS (
      |  SELECT user_id, CAST(s AS DOUBLE) / n AS mean,
      |    sqrt(greatest((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n, 0)) AS std
      |  FROM st
      |)
      |SELECT h.user_id AS user_id, hr, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(FLOOR(mean * 1000) AS BIGINT) AS mean_milli,
      |  CAST(FLOOR(std * 1000) AS BIGINT) AS std_milli
      |FROM hc h JOIN m USING (user_id)
      |WHERE cnt > mean + 2 * std
      |ORDER BY user_id, hr""") { (s, d) =>
    val hc = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .groupBy("user_id", "hr").agg(count(lit(1)).as("cnt"))
      .transform(Materialize.snapshot) // feeds the moments AND the flag join
    val m = hc.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("s"),
        sum(col("cnt") * col("cnt")).as("ss"))
      .select(col("user_id"),
        (col("s").cast("double") / col("n")).as("mean"),
        sqrt(greatest(
          (col("ss").cast("double") - col("s").cast("double") * col("s") / col("n"))
            / col("n"), lit(0.0))).as("std"))
    hc.join(broadcast(m), "user_id")
      .filter(col("cnt") > col("mean") + lit(2) * col("std"))
      .select(col("user_id"), col("hr"), col("cnt"),
        floor(col("mean") * 1000).cast("long").as("mean_milli"),
        floor(col("std") * 1000).cast("long").as("std_milli"))
      .orderBy("user_id", "hr")
  }

  /** q111 — trailing time-RANGE window features (the feature-store /
    * fraud-scoring shape q39's ROWS frames can't express): at every
    * event, the user's activity count and spend over the trailing 1
    * hour and 24 hours by EVENT TIME — `RANGE BETWEEN <interval>
    * PRECEDING` over integer micros, where the frame is defined by
    * timestamp distance, not row position — plus the gap since the
    * previous event. Spend sums are DECIMAL(18,2) inside the frame
    * (exact, order-independent) and cast to DOUBLE only at output.
    * One shuffle on user_id serves all four windows; at scale the
    * range-frame scan is a per-user two-pointer pass, state bounded by
    * the 24 h span, never O(pairs). */
  val q111RangeFeatures: Q = Q(
    "q111_range_features",
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events
      |)
      |SELECT event_id, user_id, us,
      |  CAST(COUNT(*) OVER h1 AS BIGINT) AS cnt_1h,
      |  CAST(COUNT(*) OVER d1 AS BIGINT) AS cnt_24h,
      |  CAST(SUM(v) OVER h1 AS DOUBLE) AS spend_1h,
      |  CAST(SUM(v) OVER d1 AS DOUBLE) AS spend_24h,
      |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
      |FROM ev
      |WINDOW h1 AS (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
      |  d1 AS (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, us, event_id""") { (s, d) =>
    val h1 = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    val d1 = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-86400000000L, Window.currentRow)
    val seq = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    // the lag window (finest ordering: user, us, event_id) is computed
    // FIRST, so the range windows' (user, us) requirement is satisfied
    // as a prefix of the already-sorted data — one in-partition sort of
    // the events instead of two (round 13; plan: 2 Sort → 1 below the
    // final orderBy). Same expressions, same one exchange.
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"), dec(col("value")).as("v"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(seq))
      .select(col("event_id"), col("user_id"), col("us"),
        count(lit(1)).over(h1).cast("long").as("cnt_1h"),
        count(lit(1)).over(d1).cast("long").as("cnt_24h"),
        sum(col("v")).over(h1).cast("double").as("spend_1h"),
        sum(col("v")).over(d1).cast("double").as("spend_24h"),
        col("gap_us"))
      .orderBy("user_id", "us", "event_id")
  }

  /** q122 — half-life-decayed engagement score: each event contributes
    * a weight that HALVES per day of age relative to the corpus's
    * latest event — the recency-weighted counter feature stores keep
    * per (user, event type). Decay stays EXACT integer arithmetic:
    * weight_ppm = 1e6 >> age_days (a true 1-day half-life, no float
    * pow), clamped to 0 past 20 days both to match the sub-ppm cutoff
    * and because >> wraps its shift amount at 64 on both engines. One
    * scan, one (user, type)-keyed aggregation with map-side partials,
    * the 1-row reference time broadcast. */
  val q122DecayScore: Q = Q(
    "q122_decay_score",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |), ref AS (
      |  SELECT MAX(us) AS tref FROM e
      |), w AS (
      |  SELECT user_id, event_type,
      |    (tref - us) // 86400000000 AS age_days
      |  FROM e CROSS JOIN ref
      |)
      |SELECT user_id, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN age_days >= 20 THEN 0
      |    ELSE 1000000 >> age_days END) AS BIGINT) AS score_ppm,
      |  CAST(MIN(age_days) AS BIGINT) AS freshest_age_days
      |FROM w GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val ref = e.agg(max(col("us")).as("tref"))
    val age = expr("(tref - us) div 86400000000").as("age_days")
    e.crossJoin(broadcast(ref))
      .select(col("user_id"), col("event_type"), age)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("age_days") >= 20, 0L)
          .otherwise(expr("shiftright(1000000L, cast(age_days AS int))")))
          .cast("long").as("score_ppm"),
        min(col("age_days")).cast("long").as("freshest_age_days"))
      .orderBy("user_id", "event_type")
  }

  /** q145 — length-matched control sampling: for every treatment doc
    * (doc_id % 5 = 0) find the closest-length control from the rest of
    * its language's pool — the matched-pair construction an A/B eval
    * or ablation study needs, expressed as the custom NEAREST as-of
    * join (plans.AsofJoin) over a composite sort key. The key is
    * `n_chars * 1e6 + doc_id`, unique by construction, so "nearest"
    * has no ambiguous ties (nearest-by-length with doc_id as the
    * deterministic tiebreak in composite order); the oracle composes
    * DuckDB's backward+forward ASOF JOINs exactly as q124 does.
    *
    * Scale shape: the as-of exec is the sorted-merge O(L+R) pass —
    * each side shuffles once on the group key, no pair blowup — which
    * is what makes matched sampling viable when both pools are large. */
  val q145MatchedControls: Q = Q(
    "q145_matched_controls",
    """WITH b AS (
      |  SELECT doc_id, lang, n_chars, n_chars*1000000 + doc_id AS mkey FROM documents
      |), t AS (SELECT * FROM b WHERE doc_id % 5 = 0),
      |p AS (SELECT doc_id AS c_id, lang AS c_lang, n_chars AS c_chars, mkey AS c_mkey
      |      FROM b WHERE doc_id % 5 <> 0),
      |jb AS (
      |  SELECT t.doc_id, p.c_id AS b_id, p.c_chars AS b_chars, p.c_mkey AS b_mkey
      |  FROM t ASOF LEFT JOIN p ON t.lang = p.c_lang AND t.mkey >= p.c_mkey
      |), jf AS (
      |  SELECT t.doc_id, t.lang, t.n_chars, t.mkey,
      |    p.c_id AS f_id, p.c_chars AS f_chars, p.c_mkey AS f_mkey
      |  FROM t ASOF LEFT JOIN p ON t.lang = p.c_lang AND t.mkey <= p.c_mkey
      |)
      |SELECT doc_id, lang, n_chars, control_id, control_chars,
      |  ABS(n_chars - control_chars) AS gap_chars
      |FROM (
      |  SELECT jf.doc_id, jf.lang, jf.n_chars,
      |    CASE WHEN b_mkey IS NULL THEN f_id
      |         WHEN f_mkey IS NULL THEN b_id
      |         WHEN (jf.mkey - b_mkey) <= (f_mkey - jf.mkey) THEN b_id
      |         ELSE f_id END AS control_id,
      |    CASE WHEN b_mkey IS NULL THEN f_chars
      |         WHEN f_mkey IS NULL THEN b_chars
      |         WHEN (jf.mkey - b_mkey) <= (f_mkey - jf.mkey) THEN b_chars
      |         ELSE f_chars END AS control_chars
      |  FROM jf JOIN jb ON jf.doc_id = jb.doc_id
      |) ORDER BY doc_id""") { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("n_chars") * 1000000L + col("doc_id")).as("mkey"))
    val treat = base.filter(col("doc_id") % 5 === 0)
    val pool = base.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("c_id"), col("lang").as("c_lang"),
        col("n_chars").as("c_chars"), col("mkey").as("c_mkey"))
    graft.plans.AsofJoin(treat, pool, "lang", "c_lang", "mkey", "c_mkey",
        direction = "nearest")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("c_id").as("control_id"), col("c_chars").as("control_chars"),
        abs(col("n_chars") - col("c_chars")).as("gap_chars"))
      .orderBy("doc_id")
  }

  /** q156 — CUSUM drift detection on daily event rates: the sequential
    * changepoint statistic S_t = max(0, S_{t-1} + deviation_t) that
    * catches SUSTAINED small drifts a per-point z-score (q106) misses —
    * the pipeline monitor for "this source's volume has been creeping up
    * for a week". The recurrence looks inherently sequential (a naive
    * port would be a recursive CTE or a driver loop), but the classic
    * identity S_t = P_t − min(0, min_{j≤t} P_j) over prefix sums P turns
    * it into TWO stock window passes — a running sum and a running min —
    * which is exactly what a distributed engine executes well. Both
    * directions (up/down drift) run in the same pass; slack (5% of the
    * per-type daily mean) and alarm threshold (50% of it) are integer
    * milli-units derived from the data, so the statistic is exact on
    * both engines at any SF.
    *
    * Scale: one (type, day) count aggregation, a broadcast per-type mean,
    * and per-type ordered windows — here 6 types stand in for the
    * per-source/per-host key space a 100 TB monitor partitions by, so
    * window parallelism is key-cardinality-wide. */
  val q156CusumDrift: Q = Q(
    "q156_cusum_drift",
    """WITH raw AS (
      |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      |    COUNT(*) AS x0
      |  FROM events GROUP BY 1, 2
      |), daily AS (
      |  SELECT event_type, day,
      |    x0 + CASE WHEN event_type = 'click' AND day >= '2024-01-15'
      |              THEN x0 // 4 ELSE 0 END
      |       - CASE WHEN event_type = 'view' AND day >= '2024-01-22'
      |              THEN x0 // 8 ELSE 0 END AS x
      |  FROM raw
      |), m AS (
      |  SELECT event_type, SUM(x) * 1000 // COUNT(*) AS mean_milli
      |  FROM daily GROUP BY 1
      |), d AS (
      |  SELECT daily.event_type, day, x, mean_milli,
      |    x * 1000 - mean_milli - mean_milli // 20 AS d_up,
      |    mean_milli - x * 1000 - mean_milli // 20 AS d_dn
      |  FROM daily JOIN m USING (event_type)
      |), c AS (
      |  SELECT *,
      |    SUM(d_up) OVER (PARTITION BY event_type ORDER BY day) AS cu,
      |    SUM(d_dn) OVER (PARTITION BY event_type ORDER BY day) AS cd
      |  FROM d
      |), r AS (
      |  SELECT *,
      |    LEAST(CAST(0 AS BIGINT), MIN(cu) OVER (PARTITION BY event_type ORDER BY day)) AS mu,
      |    LEAST(CAST(0 AS BIGINT), MIN(cd) OVER (PARTITION BY event_type ORDER BY day)) AS md
      |  FROM c
      |)
      |SELECT event_type, day, CAST(x AS BIGINT) AS x,
      |  CAST(cu - mu AS BIGINT) AS s_up_milli,
      |  CAST(cd - md AS BIGINT) AS s_dn_milli,
      |  cu - mu > mean_milli // 2 AS alarm_up,
      |  cd - md > mean_milli // 2 AS alarm_dn
      |FROM r ORDER BY event_type, day""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // planted drifts (q129's corruption pattern): a +25% step on clicks
    // from Jan 15 and a −12% step on views from Jan 22, so both alarm
    // directions fire on an otherwise-stationary fixture
    val daily = graft.Tables.events(s, d)
      .groupBy(col("event_type"),
        date_format(col("ts").cast("date"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x0"))
      .withColumn("x", expr(
        """x0 + CASE WHEN event_type = 'click' AND day >= '2024-01-15'
          |           THEN x0 div 4 ELSE 0 END
          |    - CASE WHEN event_type = 'view' AND day >= '2024-01-22'
          |           THEN x0 div 8 ELSE 0 END""".stripMargin))
      .drop("x0")
    val m = daily.groupBy("event_type")
      .agg(expr("sum(x) * 1000 div count(1)").as("mean_milli"))
    val dd = daily.join(broadcast(m), "event_type")
      .withColumn("d_up", expr("x * 1000 - mean_milli - mean_milli div 20"))
      .withColumn("d_dn", expr("mean_milli - x * 1000 - mean_milli div 20"))
    val w = Window.partitionBy("event_type").orderBy("day")
    dd
      .withColumn("cu", sum("d_up").over(w))
      .withColumn("cd", sum("d_dn").over(w))
      .withColumn("mu", least(lit(0L), min("cu").over(w)))
      .withColumn("md", least(lit(0L), min("cd").over(w)))
      .select(col("event_type"), col("day"), col("x").cast("long").as("x"),
        (col("cu") - col("mu")).cast("long").as("s_up_milli"),
        (col("cd") - col("md")).cast("long").as("s_dn_milli"),
        (col("cu") - col("mu") > expr("mean_milli div 2")).as("alarm_up"),
        (col("cd") - col("md") > expr("mean_milli div 2")).as("alarm_dn"))
      .orderBy("event_type", "day")
  }

  /** q158 — SCD Type-2 dimension join: each fact row joins the dimension
    * VERSION that was valid at fact time — the warehouse temporal join
    * (q40's as-of family matches nearest events; this matches interval
    * membership [valid_from, valid_to) keyed by equality). Customers get
    * three synthesized segment versions with per-key effective dates;
    * every order must pick the segment in force on its order date.
    *
    * The oracle states the textbook definition — lead() builds validity
    * intervals, the join predicate is BETWEEN — but an interval join at
    * 100 TB degenerates to a per-key nested loop. The Spark side spells
    * the SAME semantics as the q40 carry-forward: union version-change
    * events with facts, order by (key, date, change-first), and
    * last_value(ignore nulls) carries the in-force version onto each
    * fact row — ONE shuffle on the key, state of one row per group, no
    * inequality predicate anywhere. The hash gate proves the two
    * spellings equivalent. */
  val q158Scd2Join: Q = Q(
    "q158_scd2_join",
    """WITH vers AS (
      |  SELECT c_custkey AS ck, DATE '1992-01-01' AS eff,
      |    'seg-' || CAST(c_custkey % 5 AS VARCHAR) || '-v1' AS seg FROM customer
      |  UNION ALL
      |  SELECT c_custkey, DATE '1994-01-01' + CAST(c_custkey % 365 AS INTEGER),
      |    'seg-' || CAST(c_custkey % 5 AS VARCHAR) || '-v2' FROM customer
      |  UNION ALL
      |  SELECT c_custkey, DATE '1996-07-01' + CAST(c_custkey % 365 AS INTEGER),
      |    'seg-' || CAST(c_custkey % 5 AS VARCHAR) || '-v3' FROM customer
      |), win AS (
      |  SELECT ck, seg, eff AS valid_from,
      |    COALESCE(lead(eff) OVER (PARTITION BY ck ORDER BY eff),
      |      DATE '9999-12-31') AS valid_to
      |  FROM vers
      |)
      |SELECT seg, strftime(o_orderdate, '%Y') AS yr, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN win
      |  ON o_custkey = ck AND o_orderdate >= valid_from AND o_orderdate < valid_to
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    def ver(effExpr: String, v: String) =
      Tables.customer(s, d).select(
        col("c_custkey").as("ck"), expr(effExpr).as("eff"),
        concat(lit("seg-"), pmod(col("c_custkey"), lit(5)).cast("string"),
          lit(s"-$v")).as("seg"),
        lit(0).as("is_fact"), lit(null).cast("date").as("odate"),
        lit(null).cast(DecimalType(18, 2)).as("price"))
    val changes = ver("date'1992-01-01'", "v1")
      .unionByName(ver("date_add(date'1994-01-01', cast(c_custkey % 365 as int))", "v2"))
      .unionByName(ver("date_add(date'1996-07-01', cast(c_custkey % 365 as int))", "v3"))
    val facts = Tables.orders(s, d).select(
      col("o_custkey").as("ck"), col("o_orderdate").as("eff"),
      lit(null).cast("string").as("seg"), lit(1).as("is_fact"),
      col("o_orderdate").as("odate"), dec(col("o_totalprice")).as("price"))
    // change rows sort before facts at equal dates: valid_from <= t
    val w = Window.partitionBy("ck").orderBy("eff", "is_fact")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes.unionByName(facts)
      .withColumn("cur_seg", last("seg", ignoreNulls = true).over(w))
      .filter(col("is_fact") === 1)
      .groupBy(col("cur_seg").as("seg"),
        date_format(col("odate"), "yyyy").as("yr"))
      .agg(count(lit(1)).as("n"), sum("price").cast("double").as("revenue"))
      .orderBy("seg", "yr")
  }

  /** q162 — rolling 7-day distinct actives (DAU/WAU/stickiness): the
    * sliding-window COUNT(DISTINCT) that naive engines spell as one
    * window-function pass per day — quadratic in window length and
    * un-partial-aggregatable. The scalable spelling: (1) collapse
    * events to DISTINCT (user, day) — map-side partial dedup makes the
    * first shuffle O(user-days), never O(events); (2) each user-day
    * CONTRIBUTES to the ≤7 window-ends it falls in (a 7-way explode of
    * fixed-width rows, no payload); (3) dedup (user, window-end) and
    * count — a user active 5 days in one window still counts once.
    * Day spine from the observed [min, max] span, so windows with zero
    * actives still report. Stickiness = floor(10⁶·dau/wau). */
  val q162RollingActive: Q = Q(
    "q162_rolling_active",
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), span AS (
      |  SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev
      |), spine AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM span
      |), dau AS (
      |  SELECT day, COUNT(*) AS dau FROM ev GROUP BY day
      |), contrib AS (
      |  SELECT DISTINCT user_id, day + CAST(t.j AS INTEGER) AS wday
      |  FROM ev CROSS JOIN (SELECT unnest(range(0, 7)) AS j) t
      |), wau AS (
      |  SELECT wday AS day, COUNT(*) AS wau FROM contrib GROUP BY wday
      |)
      |SELECT s.day, CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
      |  CAST(COALESCE(w.wau, 0) AS BIGINT) AS wau,
      |  CAST(FLOOR(COALESCE(d.dau, 0) * 1000000 / w.wau) AS BIGINT) AS stickiness_ppm
      |FROM spine s LEFT JOIN dau d USING (day) LEFT JOIN wau w USING (day)
      |ORDER BY s.day""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .transform(Materialize.snapshot) // feeds span + dau + the window-contribution explode
    val span = ev.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = span.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val dau = ev.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ev
      .select(col("user_id"), explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    // spine/dau/wau are all day-cardinality — tiny whatever the event count
    spine.join(dau, Seq("day"), "left").join(wau, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"),
        floor(coalesce(col("dau"), lit(0L)) * 1000000L / col("wau"))
          .cast("long").as("stickiness_ppm"))
      .orderBy("day")
  }

  /** q164 — session-scoped Markov transition matrix: P(next event type |
    * current), counting only successor pairs inside the same 30-minute
    * session (a cross-session "transition" is navigation noise, not
    * behavior — same gap rule as q37). The user-journey model behind
    * next-action prediction and anomalous-flow detection.
    *
    * Scale: ONE shuffle on user_id (the lead() window), after which
    * transitions partial-aggregate map-side to the ≤|types|² count
    * matrix; the normalization join runs on that tiny matrix. Types are
    * a closed small set, so the output is O(1) in the event count. */
  val q164MarkovTransitions: Q = Q(
    "q164_markov_transitions",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts)//1000000 AS sec, ts, event_id
      |  FROM events
      |), nxt AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst,
      |    lead(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) - sec AS gap
      |  FROM ev
      |), c AS (
      |  SELECT src, dst, COUNT(*) AS n FROM nxt
      |  WHERE dst IS NOT NULL AND gap <= 1800 GROUP BY src, dst
      |), tot AS (
      |  SELECT src, SUM(n) AS tn FROM c GROUP BY src
      |)
      |SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
      |  CAST(FLOOR(c.n * 1000000 / t.tn) AS BIGINT) AS p_ppm
      |FROM c JOIN tot t USING (src)
      |ORDER BY src, dst""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val c = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("ts"), col("event_id"))
      .select(col("event_type").as("src"),
        lead("event_type", 1).over(w).as("dst"),
        (lead("sec", 1).over(w) - col("sec")).as("gap"))
      .filter(col("dst").isNotNull && col("gap") <= 1800)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("src").agg(sum("n").as("tn"))
    c.join(tot, "src")
      .select(col("src"), col("dst"), col("n"),
        floor(col("n") * 1000000L / col("tn")).cast("long").as("p_ppm"))
      .orderBy("src", "dst")
  }

  /** q165 — multi-touch conversion attribution: each `purchase` credits
    * the `click`/`view` touches by the same user in the 7 days before
    * it, under three standard models — first-touch (all credit to the
    * earliest touch), last-touch (all to the latest), linear (split
    * proportionally to per-channel touch counts). Conversions with no
    * lookback touch credit a synthetic `direct` channel. Money in
    * integer cents (`FLOOR(value*100)`); linear splits use integer
    * floor division, so up to (channels−1) cents of rounding loss per
    * conversion is the defined semantics, not drift.
    *
    * Scale: NO conversion×touch inequality join anywhere — the lookback
    * reduces to conditional aggregates over ONE `rangeBetween(-7d, 0)`
    * window (per-channel counts + min/max of a packed `sec·2³²+event_id`
    * key), so the whole query is a single user_id shuffle followed by
    * the ≤ models×channels report matrix. First/last argmax rides the
    * packed key: second-resolution time, event_id tie-break (assumes
    * event_id < 2³² — 4.3e9 events; re-pack wider if a fixture ever
    * exceeds it). */
  val q165Attribution: Q = Q(
    "q165_attribution",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value,
      |    epoch_us(ts)//1000000 AS sec
      |  FROM events
      |), w AS (
      |  SELECT *,
      |    SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) OVER win AS n_click,
      |    SUM(CASE WHEN event_type='view'  THEN 1 ELSE 0 END) OVER win AS n_view,
      |    MIN(CASE WHEN event_type='click' THEN sec*4294967296 + event_id END) OVER win AS fc,
      |    MIN(CASE WHEN event_type='view'  THEN sec*4294967296 + event_id END) OVER win AS fv,
      |    MAX(CASE WHEN event_type='click' THEN sec*4294967296 + event_id END) OVER win AS lc,
      |    MAX(CASE WHEN event_type='view'  THEN sec*4294967296 + event_id END) OVER win AS lv
      |  FROM ev
      |  WINDOW win AS (PARTITION BY user_id ORDER BY sec
      |                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
      |), conv AS (
      |  SELECT CAST(FLOOR(value*100) AS BIGINT) AS cents,
      |    n_click, n_view, fc, fv, lc, lv
      |  FROM w WHERE event_type='purchase'
      |), lab AS (
      |  SELECT cents, n_click, n_view,
      |    CASE WHEN fc IS NULL AND fv IS NULL THEN 'direct'
      |         WHEN fv IS NULL OR (fc IS NOT NULL AND fc <= fv) THEN 'click'
      |         ELSE 'view' END AS first_ch,
      |    CASE WHEN lc IS NULL AND lv IS NULL THEN 'direct'
      |         WHEN lv IS NULL OR (lc IS NOT NULL AND lc >= lv) THEN 'click'
      |         ELSE 'view' END AS last_ch
      |  FROM conv
      |), m AS (
      |  SELECT 'first' AS model, first_ch AS channel, cents AS credit FROM lab
      |  UNION ALL SELECT 'last', last_ch, cents FROM lab
      |  UNION ALL SELECT 'linear', 'click', cents*n_click//(n_click+n_view)
      |    FROM lab WHERE n_click > 0
      |  UNION ALL SELECT 'linear', 'view', cents*n_view//(n_click+n_view)
      |    FROM lab WHERE n_view > 0
      |  UNION ALL SELECT 'linear', 'direct', cents
      |    FROM lab WHERE n_click + n_view = 0
      |)
      |SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_conv,
      |  CAST(SUM(credit) AS BIGINT) AS credit_cents
      |FROM m GROUP BY model, channel
      |ORDER BY model, channel""") { (s, d) =>
    val pack = col("sec") * 4294967296L + col("event_id")
    def typed(t: String, c: org.apache.spark.sql.Column) =
      when(col("event_type") === t, c)
    val win = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-604800, 0)
    val lab = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("n_click", sum(typed("click", lit(1)).otherwise(0)).over(win))
      .withColumn("n_view", sum(typed("view", lit(1)).otherwise(0)).over(win))
      .withColumn("fc", min(typed("click", pack)).over(win))
      .withColumn("fv", min(typed("view", pack)).over(win))
      .withColumn("lc", max(typed("click", pack)).over(win))
      .withColumn("lv", max(typed("view", pack)).over(win))
      .filter(col("event_type") === "purchase")
      .select(floor(col("value") * 100).cast("long").as("cents"),
        col("n_click"), col("n_view"),
        when(col("fc").isNull && col("fv").isNull, "direct")
          .when(col("fv").isNull || (col("fc").isNotNull && col("fc") <= col("fv")), "click")
          .otherwise("view").as("first_ch"),
        when(col("lc").isNull && col("lv").isNull, "direct")
          .when(col("lv").isNull || (col("lc").isNotNull && col("lc") >= col("lv")), "click")
          .otherwise("view").as("last_ch"))
    // credit rows: a compact literal-struct explode beats 5 unioned
    // re-scans of the (already tiny) conversion frame
    lab.select(explode(array(
        struct(lit("first").as("model"), col("first_ch").as("channel"),
          col("cents").as("credit"), lit(true).as("keep")),
        struct(lit("last").as("model"), col("last_ch").as("channel"),
          col("cents").as("credit"), lit(true).as("keep")),
        struct(lit("linear").as("model"), lit("click").as("channel"),
          // ANSI: the struct evaluates before the keep filter, so the
          // divisor must be guarded even on discarded rows
          expr("CASE WHEN n_click + n_view = 0 THEN 0 " +
            "ELSE cents * n_click div (n_click + n_view) END").as("credit"),
          (col("n_click") > 0).as("keep")),
        struct(lit("linear").as("model"), lit("view").as("channel"),
          expr("CASE WHEN n_click + n_view = 0 THEN 0 " +
            "ELSE cents * n_view div (n_click + n_view) END").as("credit"),
          (col("n_view") > 0).as("keep")),
        struct(lit("linear").as("model"), lit("direct").as("channel"),
          col("cents").as("credit"),
          (col("n_click") + col("n_view") === 0).as("keep")))).as("r"))
      .filter(col("r.keep"))
      .groupBy(col("r.model").as("model"), col("r.channel").as("channel"))
      .agg(count(lit(1)).as("n_conv"), sum(col("r.credit")).as("credit_cents"))
      .orderBy("model", "channel")
  }

  /** q170 — interval OVERLAP join via tiling: user sessions (q37's
    * 30-min-gap derivation) joined to campaign/promo windows (Mon+Thu
    * 12:00–18:00 UTC over the event span) on TIME OVERLAP — the join
    * class Spark has no native operator for (as-of covers "latest ≤ t",
    * not "ranges intersect"). The standard scalable spelling: every
    * interval maps to the integer epoch-days it touches, the join runs
    * as an EQUI-join on the day tile, and the exact closed-interval
    * predicate `greatest(starts) ≤ least(ends)` filters tile-collisions
    * — no inequality-only join, no cross product. A (session, promo)
    * pair can't duplicate across tiles because a promo lives inside one
    * day. Promos with zero overlapping sessions still report (left
    * join off the promo spine).
    *
    * Scale: tiles are O(sessions · days-per-session) ≈ O(sessions)
    * fixed-width rows; the promo side is day-cardinality and explicitly
    * broadcast. Epoch-second integers everywhere — no timezone or date
    * arithmetic in the hot path. */
  val q170IntervalOverlap: Q = Q(
    "q170_interval_overlap",
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts)//1000000 AS sec, ts
      |  FROM events
      |), lagged AS (
      |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM ev
      |), marked AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM lagged
      |), sess AS (
      |  SELECT user_id, session_idx, MIN(sec) AS s_start, MAX(sec) AS s_end
      |  FROM (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |        FROM marked)
      |  GROUP BY user_id, session_idx
      |), span AS (
      |  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events
      |), promo AS (
      |  SELECT day,
      |    epoch_us(CAST(day AS TIMESTAMP))//1000000 + 43200 AS w_start,
      |    epoch_us(CAST(day AS TIMESTAMP))//1000000 + 64800 AS w_end
      |  FROM (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |        FROM span)
      |  WHERE dayofweek(day) IN (1, 4)
      |), tiles AS (
      |  SELECT user_id, s_start, s_end,
      |    unnest(range(s_start//86400, s_end//86400 + 1)) AS tile
      |  FROM sess
      |), hit AS (
      |  SELECT p.day, t.user_id,
      |    least(t.s_end, p.w_end) - greatest(t.s_start, p.w_start) AS ov
      |  FROM promo p JOIN tiles t ON t.tile = p.w_start//86400
      |  WHERE greatest(t.s_start, p.w_start) <= least(t.s_end, p.w_end)
      |), g AS (
      |  SELECT day, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users,
      |    SUM(ov) AS overlap_sec
      |  FROM hit GROUP BY day
      |)
      |SELECT p.day AS promo_day,
      |  CAST(COALESCE(g.n_sessions, 0) AS BIGINT) AS n_sessions,
      |  CAST(COALESCE(g.n_users, 0) AS BIGINT) AS n_users,
      |  CAST(COALESCE(g.overlap_sec, 0) AS BIGINT) AS overlap_sec
      |FROM promo p LEFT JOIN g USING (day)
      |ORDER BY promo_day""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev_sec", lag("sec", 1).over(w))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1)
          .otherwise(0))
      .withColumn("session_idx", sum("is_new").over(wRun))
      .groupBy("user_id", "session_idx")
      .agg(min("sec").as("s_start"), max("sec").as("s_end"))
    val span = Tables.events(s, d)
      .agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
    // Spark dayofweek is Sun=1..Sat=7; DuckDB Sun=0..Sat=6 — Mon/Thu is
    // (2,5) here vs (1,4) in the oracle, same days.
    val promo = span
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .filter(dayofweek(col("day")).isin(2, 5))
      .select(col("day"),
        (unix_timestamp(col("day").cast("timestamp")) + 43200L).as("w_start"),
        (unix_timestamp(col("day").cast("timestamp")) + 64800L).as("w_end"))
    val tiles = sess.select(col("user_id"), col("s_start"), col("s_end"),
      explode(sequence(floor(col("s_start") / 86400).cast("long"),
        floor(col("s_end") / 86400).cast("long"))).as("tile"))
    val g = tiles.join(broadcast(promo),
        col("tile") === floor(col("w_start") / 86400).cast("long") &&
          greatest(col("s_start"), col("w_start")) <= least(col("s_end"), col("w_end")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(least(col("s_end"), col("w_end")) -
          greatest(col("s_start"), col("w_start"))).as("overlap_sec"))
    promo.select("day").join(g, Seq("day"), "left")
      .select(col("day").as("promo_day"),
        coalesce(col("n_sessions"), lit(0L)).as("n_sessions"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        coalesce(col("overlap_sec"), lit(0L)).as("overlap_sec"))
      .orderBy("promo_day")
  }

  /** q176 — top session paths: the 20 most frequent 3-step event-type
    * journeys (a>b>c) whose two hops both stay inside the 30-minute
    * session gap — the order-3 sharpening of q164's transition matrix
    * (a Markov chain can't see that view>click>purchase outweighs
    * click>view>purchase; the path table can). Share in ppm of all
    * in-session 3-paths.
    *
    * Scale: two lead() columns over the ONE user_id window shuffle,
    * then paths partial-aggregate to the ≤|types|³ count table; top-20
    * is a TakeOrdered, the total is a broadcast scalar. */
  val q176SessionPaths: Q = Q(
    "q176_session_paths",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts)//1000000 AS sec, ts, event_id
      |  FROM events
      |), tri AS (
      |  SELECT event_type AS t1,
      |    lead(event_type) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS t3,
      |    lead(sec) OVER w - sec AS g1,
      |    lead(sec, 2) OVER w - lead(sec) OVER w AS g2
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), p AS (
      |  SELECT t1 || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
      |  FROM tri
      |  WHERE t3 IS NOT NULL AND g1 <= 1800 AND g2 <= 1800
      |  GROUP BY path
      |), tot AS (
      |  SELECT SUM(n) AS tn FROM p
      |)
      |SELECT path, CAST(n AS BIGINT) AS n,
      |  CAST(n*1000000//tn AS BIGINT) AS share_ppm
      |FROM p CROSS JOIN tot
      |ORDER BY n DESC, path LIMIT 20""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val p = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("ts"), col("event_id"))
      .select(col("event_type").as("t1"),
        lead("event_type", 1).over(w).as("t2"),
        lead("event_type", 2).over(w).as("t3"),
        (lead("sec", 1).over(w) - col("sec")).as("g1"),
        (lead("sec", 2).over(w) - lead("sec", 1).over(w)).as("g2"))
      .filter(col("t3").isNotNull && col("g1") <= 1800 && col("g2") <= 1800)
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    val tot = p.agg(sum("n").as("tn"))
    p.crossJoin(broadcast(tot))
      .select(col("path"), col("n"),
        floor(col("n") * 1000000L / col("tn")).cast("long").as("share_ppm"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** q177 — A/B experiment readout: users hash-split into two arms
    * (user_id parity — the deterministic stand-in for an assignment
    * service), per-user total purchase cents as the metric (users with
    * NO purchase count as zero — dropping them is the classic
    * conversion-bias bug), per-arm mean and sample variance, and a
    * Welch t² statistic with a significance flag. Everything rational:
    * variance from the (n·Σx² − S²)/(n(n−1)) identity on integer sums,
    * and t² = diff²·n₀n₁/(v₀n₁ + v₁n₀) — the SQUARED Welch statistic
    * precisely so no square root enters (t² > 1.96² ⇔ |t| > 1.96).
    *
    * Scale: one user-keyed partial-sum pass (map-side combine), then
    * 2-row arithmetic; the t² frame broadcasts back onto the arm rows.
    * Magnitudes stay < 2^53 (cents² · users), so the floor-division
    * doubles are exact. */
  val q177AbReport: Q = Q(
    "q177_ab_report",
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events
      |), p AS (
      |  SELECT user_id, SUM(CAST(FLOOR(value*100) AS BIGINT)) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), m AS (
      |  SELECT u.user_id % 2 AS arm, COALESCE(p.cents, 0) AS x
      |  FROM u LEFT JOIN p USING (user_id)
      |), a AS (
      |  SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx
      |  FROM m GROUP BY arm
      |), v AS (
      |  SELECT arm, n, sx, CAST(FLOOR(sx*1000/n) AS BIGINT) AS mean_cents_milli,
      |    (n*sxx - sx*sx)//(n*(n-1)) AS var_cents2
      |  FROM a
      |), t AS (
      |  SELECT CAST(FLOOR(
      |      (c.sx*1000/c.n - x.sx*1000/x.n)*(c.sx*1000/c.n - x.sx*1000/x.n)
      |        * c.n * x.n
      |      / (c.var_cents2*1000000*x.n + x.var_cents2*1000000*c.n)
      |      * 1000) AS BIGINT) AS t2_milli
      |  FROM v c, v x WHERE c.arm = 0 AND x.arm = 1
      |)
      |SELECT arm, CAST(n AS BIGINT) AS n_users, mean_cents_milli,
      |  CAST(var_cents2 AS BIGINT) AS var_cents2, t2_milli,
      |  CAST(CASE WHEN t2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT) AS significant
      |FROM v CROSS JOIN t
      |ORDER BY arm""") { (s, d) =>
    val u = Tables.events(s, d).select("user_id").distinct()
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val v = u.join(p, Seq("user_id"), "left")
      .select(pmod(col("user_id"), lit(2)).as("arm"),
        coalesce(col("cents"), lit(0L)).as("x"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("arm"), col("n"), col("sx"),
        floor(col("sx") * 1000 / col("n")).cast("long").as("mean_cents_milli"),
        floor((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))).cast("long").as("var_cents2"))
      .transform(Materialize.snapshot) // 2 rows; t² reads both, then joins back on
    val c = v.filter(col("arm") === 0)
      .select(col("n").as("n0"), col("sx").as("sx0"), col("var_cents2").as("v0"))
    val x = v.filter(col("arm") === 1)
      .select(col("n").as("n1"), col("sx").as("sx1"), col("var_cents2").as("v1"))
    val t = c.crossJoin(x).select(
      floor((col("sx0") * 1000 / col("n0") - col("sx1") * 1000 / col("n1"))
        * (col("sx0") * 1000 / col("n0") - col("sx1") * 1000 / col("n1"))
        * col("n0") * col("n1")
        / (col("v0") * 1000000L * col("n1") + col("v1") * 1000000L * col("n0"))
        * 1000).cast("long").as("t2_milli"))
    v.crossJoin(broadcast(t))
      .select(col("arm"), col("n").as("n_users"), col("mean_cents_milli"),
        col("var_cents2"), col("t2_milli"),
        when(col("t2_milli") > 3841, 1L).otherwise(0L).as("significant"))
      .orderBy("arm")
  }

  /** q179 — landing/bounce report: sessions grouped by their LANDING
    * event type (the session's first event — which is exactly the
    * is_new=1 row the 30-minute sessionizer already marks, so no extra
    * first-row window is needed), with bounce rate (single-event
    * sessions), mean events-per-session and mean duration in milli, and
    * the purchase revenue the landing type ultimately drove. The
    * entry-point quality metric: which first-touch event types open
    * sessions that go nowhere vs sessions that convert.
    *
    * Scale: q37's single user_id window shuffle, a (user, session)
    * partial agg, then a |types|-row rollup. Ratios stay in the
    * `floor(a·10^k / b)` double-on-both-engines envelope (all
    * magnitudes ≪ 2^53). */
  val q179LandingBounce: Q = Q(
    "q179_landing_bounce",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(ts)//1000000 AS sec, ts,
      |    CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(value*100) AS BIGINT) ELSE 0 END AS pc
      |  FROM events
      |), lagged AS (
      |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM ev
      |), marked AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM lagged
      |), sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM marked
      |), per AS (
      |  SELECT user_id, session_idx,
      |    COUNT(*) AS n_events,
      |    MAX(CASE WHEN is_new = 1 THEN event_type END) AS landing,
      |    MAX(sec) - MIN(sec) AS dur_sec,
      |    SUM(pc) AS pc
      |  FROM sess GROUP BY user_id, session_idx
      |)
      |SELECT landing AS landing_type,
      |  COUNT(*) AS n_sessions,
      |  COUNT(CASE WHEN n_events = 1 THEN 1 END) AS n_bounces,
      |  CAST(FLOOR(CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
      |    * 1000000 / COUNT(*)) AS BIGINT) AS bounce_ppm,
      |  CAST(FLOOR(CAST(SUM(n_events) AS DOUBLE) * 1000 / COUNT(*)) AS BIGINT)
      |    AS events_per_session_milli,
      |  CAST(FLOOR(CAST(SUM(dur_sec) AS DOUBLE) * 1000 / COUNT(*)) AS BIGINT)
      |    AS duration_sec_milli,
      |  CAST(SUM(pc) AS BIGINT) AS purchase_cents
      |FROM per GROUP BY landing
      |ORDER BY landing_type""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val per = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        unix_timestamp(col("ts")).as("sec"),
        when(col("event_type") === "purchase", floor(col("value") * 100).cast("long"))
          .otherwise(0L).as("pc"))
      .withColumn("prev_sec", lag("sec", 1).over(w))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1).otherwise(0))
      .withColumn("session_idx", sum("is_new").over(wRun).cast("long"))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("is_new") === 1, col("event_type"))).as("landing"),
        (max("sec") - min("sec")).as("dur_sec"),
        sum("pc").as("pc"))
    per.groupBy(col("landing").as("landing_type"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, 1)).as("n_bounces"),
        floor(count(when(col("n_events") === 1, 1)).cast("double") * 1000000d /
          count(lit(1))).cast("long").as("bounce_ppm"),
        floor(sum("n_events").cast("double") * 1000d / count(lit(1)))
          .cast("long").as("events_per_session_milli"),
        floor(sum("dur_sec").cast("double") * 1000d / count(lit(1)))
          .cast("long").as("duration_sec_milli"),
        sum("pc").as("purchase_cents"))
      .orderBy("landing_type")
  }

  /** q181 — incremental sessionization across day boundaries: each DAY
    * is sessionized independently (the shape a production pipeline has
    * when it processes daily extracts as they land), producing per-day
    * session FRAGMENTS; a second pass applies the identical 30-minute
    * gap rule over fragments only, re-merging sessions that straddle
    * midnight (including chains spanning 3+ days — the fragment pass is
    * a full interval merge, not a pairwise boundary fix-up). The two-
    * level split is exact: within a user, consecutive events across a
    * fragment boundary are precisely (prev fragment's end, next
    * fragment's start), so the fragment-level gap test decides exactly
    * the event-level question. The ORACLE is q37's direct global
    * sessionization SQL verbatim — the hash gate itself proves
    * incremental == batch.
    *
    * Scale: this is the cheaper plan at 100 TB — stage 1's window
    * partitions by (user, day), so each day's extract sessionizes
    * independently (and incrementally, as files land); stage 2 runs
    * over fragments, orders of magnitude fewer rows than events. */
  val q181BoundarySessions: Q = Q(
    "q181_boundary_sessions",
    q37Sessionize.oracle.get) { (s, d) =>
    val wd = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    val wdRun = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val frags = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        to_date(col("ts")).as("day"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev_sec", lag("sec", 1).over(wd))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1).otherwise(0))
      .withColumn("frag_idx", sum("is_new").over(wdRun))
      .groupBy("user_id", "day", "frag_idx")
      .agg(count(lit(1)).as("n_events"),
        min("sec").as("start_sec"), max("sec").as("end_sec"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
    val wf = Window.partitionBy("user_id").orderBy("start_sec")
    val wfRun = wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frags
      .withColumn("prev_end", lag("end_sec", 1).over(wf))
      .withColumn("is_new",
        when(col("prev_end").isNull || col("start_sec") - col("prev_end") > 1800, 1)
          .otherwise(0))
      .withColumn("session_idx", sum("is_new").over(wfRun).cast("long"))
      .groupBy("user_id", "session_idx")
      .agg(sum("n_events").as("n_events"),
        min("start_sec").as("start_sec"),
        (max("end_sec") - min("start_sec")).as("duration_sec"),
        sum("n_purchases").as("n_purchases"))
      .orderBy("user_id", "session_idx")
  }

  /** q187 — co-visitation recommender: for every item (the `k` prop,
    * the fixture's 100-value item domain), the top-5 other items whose
    * audiences overlap most, scored by co-user count with lift (how many
    * times more often the pair co-occurs than independence predicts, in
    * ppm). The item-item similarity build behind "users who viewed X
    * also viewed" — q171 overlaps the 5 EVENT TYPES; this builds the
    * item×item matrix from the JSON payload and ranks per row.
    *
    * Scale: distinct (user, item) first (the only row-cardinality
    * shuffle), then a user-co-partitioned self-join whose output is
    * bounded by Σ_u items_u² — items_u is capped by the item domain,
    * and a per-user item cap is the standard guard at web scale. The
    * pair table is ≤ |items|² rows; ranking windows run on that. */
  val q187Covisitation: Q = Q(
    "q187_covisitation",
    """WITH ui AS (
      |  SELECT DISTINCT user_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL
      |), ni AS (
      |  SELECT item, COUNT(*) AS n_i FROM ui GROUP BY item
      |), nu AS (
      |  SELECT COUNT(DISTINCT user_id) AS nu FROM ui
      |), pair AS (
      |  SELECT a.item AS item, b.item AS rec, COUNT(*) AS n_ab
      |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item <> b.item
      |  GROUP BY a.item, b.item
      |), scored AS (
      |  SELECT pair.item AS item, pair.rec AS rec, n_ab,
      |    CAST(FLOOR(CAST(n_ab AS DOUBLE) * nu * 1000000
      |      / (CAST(na.n_i AS DOUBLE) * CAST(nb.n_i AS DOUBLE))) AS BIGINT) AS lift_ppm
      |  FROM pair
      |  JOIN ni na ON na.item = pair.item
      |  JOIN ni nb ON nb.item = pair.rec
      |  CROSS JOIN nu
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY item
      |    ORDER BY n_ab DESC, rec) AS rk
      |  FROM scored
      |)
      |SELECT item, CAST(rk AS BIGINT) AS rk, rec, n_ab, lift_ppm
      |FROM ranked WHERE rk <= 5
      |ORDER BY item, rk""") { (s, d) =>
    val ui = Tables.events(s, d)
      .select(col("user_id"),
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
      .transform(Materialize.snapshot) // both join sides + the item counts read it
    val ni = ui.groupBy("item").agg(count(lit(1)).as("n_i"))
    val nu = ui.agg(countDistinct("user_id").as("nu"))
    val pair = ui.as("a").join(ui.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("item"), col("b.item").as("rec"))
      .agg(count(lit(1)).as("n_ab"))
    val w = Window.partitionBy("item").orderBy(col("n_ab").desc, col("rec"))
    pair
      .join(broadcast(ni.select(col("item"), col("n_i").as("na"))), "item")
      .join(broadcast(ni.select(col("item").as("rec"), col("n_i").as("nb"))), "rec")
      .crossJoin(broadcast(nu))
      .select(col("item"), col("rec"), col("n_ab"),
        floor(col("n_ab").cast("double") * col("nu") * 1000000d /
          (col("na").cast("double") * col("nb").cast("double")))
          .cast("long").as("lift_ppm"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("item", "rk", "rec", "n_ab", "lift_ppm")
      .orderBy("item", "rk")
  }

  /** q188 — time-to-conversion survival curve: for every user who
    * viewed, the delay from FIRST view to the first purchase at-or-
    * after it, bucketed by hour, with the exact survival fraction
    * (users not yet converted) after each bucket in ppm; never-
    * converting viewers land in a sentinel bucket (999999) that sorts
    * last and closes the curve at the censored share. q38 finds the
    * funnel firsts; this turns them into the delay DISTRIBUTION the
    * funnel hides.
    *
    * Scale: two user-keyed aggregates (one shuffle — the funnel firsts
    * and the join are both user-partitioned), then delays collapse to
    * ≤ span-in-hours cells; the cumulative window runs over CELLS. */
  val q188ConversionDelay: Q = Q(
    "q188_conversion_delay",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts)//1000000 AS sec FROM events
      |), fv AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN sec END) AS first_view
      |  FROM ev GROUP BY user_id
      |), fp AS (
      |  SELECT e.user_id,
      |    MIN(CASE WHEN e.event_type = 'purchase' AND e.sec >= f.first_view
      |      THEN e.sec END) AS first_conv,
      |    MIN(f.first_view) AS first_view
      |  FROM ev e JOIN fv f USING (user_id)
      |  WHERE f.first_view IS NOT NULL
      |  GROUP BY e.user_id
      |), bucketed AS (
      |  SELECT CASE WHEN first_conv IS NULL THEN 999999
      |    ELSE (first_conv - first_view) // 3600 END AS bucket_h
      |  FROM fp
      |), h AS (
      |  SELECT bucket_h, COUNT(*) AS n_users FROM bucketed GROUP BY bucket_h
      |), nv AS (
      |  SELECT SUM(n_users) AS nv FROM h
      |), cum AS (
      |  SELECT bucket_h, n_users,
      |    SUM(CASE WHEN bucket_h <> 999999 THEN n_users ELSE 0 END)
      |      OVER (ORDER BY bucket_h) AS cum_conv
      |  FROM h
      |)
      |SELECT CAST(bucket_h AS BIGINT) AS bucket_h,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  CAST(cum_conv AS BIGINT) AS cum_conv,
      |  CAST(FLOOR(CAST(nv - cum_conv AS DOUBLE) * 1000000 / nv) AS BIGINT)
      |    AS surv_ppm
      |FROM cum CROSS JOIN nv
      |ORDER BY bucket_h""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("sec"))
    val fv = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("sec"))).as("first_view"))
      .filter(col("first_view").isNotNull)
    val fp = ev.join(fv, "user_id")
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "purchase" && col("sec") >= col("first_view"),
          col("sec"))).as("first_conv"),
        min("first_view").as("first_view"))
    val h = fp
      .select(when(col("first_conv").isNull, 999999L)
        .otherwise(floor((col("first_conv") - col("first_view")) / 3600).cast("long"))
        .as("bucket_h"))
      .groupBy("bucket_h").agg(count(lit(1)).as("n_users"))
      .transform(Materialize.snapshot) // ≤ span-in-hours cells; total + curve read it
    val nv = h.agg(sum("n_users").as("nv"))
    val w = Window.orderBy("bucket_h") // cells only: bounded by the time span
    h.withColumn("cum_conv",
        sum(when(col("bucket_h") =!= 999999L, col("n_users")).otherwise(0L)).over(w))
      .crossJoin(broadcast(nv))
      .select(col("bucket_h"), col("n_users"), col("cum_conv"),
        floor((col("nv") - col("cum_conv")).cast("double") * 1000000d / col("nv"))
          .cast("long").as("surv_ppm"))
      .orderBy("bucket_h")
  }

  /** q192 — seasonal decomposition of hourly traffic: the classic
    * moving-average decomposition (trend = 25-hour centered MA on the
    * ZERO-FILLED hourly series, seasonal = per-hour-of-day mean of the
    * detrended values, residual = the rest) in exact integer milli.
    * q106 z-scores raw hourly counts; this first REMOVES the trend, so
    * the seasonal profile isn't polluted by growth or weekly drift, and
    * reports the per-hour seasonal amplitude plus the mean absolute
    * residual (how much traffic the trend+season model fails to
    * explain). Edge hours without a full 25-hour frame are excluded
    * from estimation.
    *
    * Scale: the corpus collapses to hourly cells map-side; the spine,
    * the MA frame and the hod rollup all run over ≤ span-in-hours
    * cells (the one ordered window is cell-bounded, same posture as
    * q188's curve). */
  val q192SeasonalDecomp: Q = Q(
    "q192_seasonal_decomp",
    """WITH b AS (
      |  SELECT epoch_us(ts)//1000000//3600 AS h, COUNT(*) AS c
      |  FROM events GROUP BY 1
      |), bounds AS (
      |  SELECT MIN(h) AS lo, MAX(h) AS hi FROM b
      |), spine AS (
      |  SELECT unnest(generate_series(lo, hi)) AS h FROM bounds
      |), dense AS (
      |  SELECT spine.h AS h, COALESCE(b.c, 0) AS c
      |  FROM spine LEFT JOIN b USING (h)
      |), tr AS (
      |  SELECT h, c,
      |    SUM(c) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS s25,
      |    COUNT(*) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS w
      |  FROM dense
      |), dt AS (
      |  SELECT h, c*1000 - CAST(FLOOR(CAST(s25 AS DOUBLE)*1000/25) AS BIGINT) AS d
      |  FROM tr WHERE w = 25
      |), se AS (
      |  SELECT h % 24 AS hod, COUNT(*) AS n_hours,
      |    CAST(FLOOR(CAST(SUM(d) AS DOUBLE)/COUNT(*)) AS BIGINT) AS seasonal_milli
      |  FROM dt GROUP BY 1
      |), r AS (
      |  SELECT dt.h % 24 AS hod, abs(dt.d - se.seasonal_milli) AS ad
      |  FROM dt JOIN se ON se.hod = dt.h % 24
      |)
      |SELECT CAST(se.hod AS BIGINT) AS hod, CAST(n_hours AS BIGINT) AS n_hours,
      |  seasonal_milli,
      |  CAST(FLOOR(CAST(SUM(ad) AS DOUBLE)/COUNT(*)) AS BIGINT) AS mean_abs_resid_milli
      |FROM r JOIN se USING (hod)
      |GROUP BY se.hod, n_hours, seasonal_milli
      |ORDER BY hod""") { (s, d) =>
    val b = Tables.events(s, d)
      .select((unix_timestamp(col("ts")) / 3600).cast("long").as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    val bounds = b.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("h"))
    val dense = spine.join(b, Seq("h"), "left")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val wma = Window.orderBy("h").rowsBetween(-12, 12) // span-in-hours cells
    val dt = dense
      .withColumn("s25", sum("c").over(wma))
      .withColumn("w", count(lit(1)).over(wma))
      .filter(col("w") === 25)
      .select(col("h"),
        (col("c") * 1000 - floor(col("s25").cast("double") * 1000d / 25).cast("long"))
          .as("d"))
      .transform(Materialize.snapshot) // cell table; seasonal + residual both read it
    val se = dt.groupBy((col("h") % 24).as("hod"))
      .agg(count(lit(1)).as("n_hours"),
        floor(sum("d").cast("double") / count(lit(1))).cast("long")
          .as("seasonal_milli"))
    dt.select((col("h") % 24).as("hod"), col("d"))
      .join(broadcast(se), "hod")
      .groupBy(col("hod"), col("n_hours"), col("seasonal_milli"))
      .agg(floor(sum(abs(col("d") - col("seasonal_milli"))).cast("double") /
        count(lit(1))).cast("long").as("mean_abs_resid_milli"))
      .select(col("hod").cast("long").as("hod"), col("n_hours"),
        col("seasonal_milli"), col("mean_abs_resid_milli"))
      .orderBy("hod")
  }

  /** q201 — lead-lag cross-correlation scan: Pearson r between the
    * hourly `view` series and the hourly `purchase` series at every lag
    * in −6..+6 hours — the "does browsing lead buying, and by how
    * long?" diagnostic (argmax lag = the causal delay a marketing model
    * should use; also the degenerate-fixture detector: flat r across
    * lags means the two streams are independent). Series are
    * zero-filled on the common hour spine so missing hours count as 0,
    * not as gaps. All sums are exact BIGINT; r alone is a milli ratio
    * whose only non-integer steps are IEEE-exact (sqrt is a correctly-
    * rounded IEEE-754 operation, unlike log/exp — both engines emit the
    * identical bits; the FLOOR(a·scale/b) pattern handles the rest).
    *
    * Scale: one corpus scan collapses to hour cells map-side;
    * everything after — the 13-lag explode, the self-join on shifted
    * hours, the per-lag moment rollup — runs on span-in-hours CELLS
    * (time-domain bounded, independent of row count). */
  val q201LeadLag: Q = Q(
    "q201_lead_lag",
    """WITH b AS (
      |  SELECT epoch_us(ts)//1000000//3600 AS h,
      |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS x,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
      |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1
      |), bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM b),
      |dense AS (
      |  SELECT s.h AS h, COALESCE(b.x, 0) AS x, COALESCE(b.y, 0) AS y
      |  FROM (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) s
      |  LEFT JOIN b USING (h)
      |), lags AS (SELECT unnest(range(-6, 7)) AS lag),
      |pairs AS (
      |  SELECT l.lag AS lag, a.x AS x, c.y AS y
      |  FROM dense a CROSS JOIN lags l
      |  JOIN dense c ON c.h = a.h + l.lag
      |), m AS (
      |  SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      |  FROM pairs GROUP BY lag
      |)
      |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_hours,
      |  CAST(sxy AS BIGINT) AS sxy,
      |  CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) = 0 THEN NULL
      |    ELSE CAST(FLOOR((n*sxy - sx*sy) * 1000.0 /
      |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
      |       sqrt(CAST(n*syy - sy*sy AS DOUBLE)))) AS BIGINT) END AS r_milli
      |FROM m ORDER BY lag""") { (s, d) =>
    val b = Tables.events(s, d)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy((unix_timestamp(col("ts")) / 3600).cast("long").as("h"))
      .agg(count(when(col("event_type") === "view", 1)).as("x"),
        count(when(col("event_type") === "purchase", 1)).as("y"))
    val bounds = b.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("h"))
    val dense = spine.join(b, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
      .transform(Materialize.snapshot) // cell table read by both legs of the lag join
    val shifted = dense
      .select(explode(sequence(lit(-6L), lit(6L))).as("lag"), col("h"), col("x"))
      .select(col("lag"), (col("h") + col("lag")).as("h2"), col("x"))
    val m = shifted
      .join(dense.select(col("h").as("h2"), col("y")), "h2")
      .groupBy("lag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("lag"), col("n").as("n_hours"), col("sxy"),
        when(vx * vy === 0, lit(null).cast("long"))
          .otherwise(floor((col("n") * col("sxy") - col("sx") * col("sy")) *
            lit(1000.0) / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
            .cast("long")).as("r_milli"))
      .orderBy("lag")
  }

  /** q207 — peak concurrency by sweep-line: the maximum number of
    * simultaneously-open sessions per day (capacity planning's
    * headline number — intervals-overlapping-a-JOIN is q170; this is
    * the global "how many at once" question that a join can't answer).
    * Sessions are q37's 30-min-gap rule; each session emits +1 at its
    * start minute and −1 at the minute after its end, deltas collapse
    * to minute cells, and concurrency = running sum over the
    * ZERO-FILLED minute spine (a session spanning a quiet stretch
    * still counts — the spine, not the deltas, carries the level
    * between changes). Daily report: peak concurrency + first minute
    * (UTC minute-of-day) it is reached.
    *
    * Scale: one user_id window pass (q37's shuffle) builds sessions;
    * everything after runs on span-in-minutes CELLS — delta cells,
    * spine, running sum, daily argmax — time-domain bounded whatever
    * the event volume. */
  val q207PeakConcurrency: Q = Q(
    "q207_peak_concurrency",
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts)//1000000 AS sec, ts, event_id FROM events
      |), lagged AS (
      |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM ev
      |), sess AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid, sec
      |  FROM lagged
      |), iv AS (
      |  SELECT MIN(sec) // 60 AS m_start, MAX(sec) // 60 + 1 AS m_end
      |  FROM sess GROUP BY user_id, sid
      |), deltas AS (
      |  SELECT m, SUM(d) AS d FROM (
      |    SELECT m_start AS m, 1 AS d FROM iv
      |    UNION ALL SELECT m_end AS m, -1 AS d FROM iv
      |  ) GROUP BY m
      |), bounds AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM deltas),
      |dense AS (
      |  SELECT s.m AS m, COALESCE(d.d, 0) AS d
      |  FROM (SELECT unnest(generate_series(lo, hi)) AS m FROM bounds) s
      |  LEFT JOIN deltas d USING (m)
      |), conc AS (
      |  SELECT m, SUM(d) OVER (ORDER BY m) AS c FROM dense
      |), daily AS (
      |  SELECT m // 1440 AS day, m, c,
      |    ROW_NUMBER() OVER (PARTITION BY m // 1440 ORDER BY c DESC, m) AS rn
      |  FROM conc
      |)
      |SELECT CAST(day AS BIGINT) AS day_idx, CAST(c AS BIGINT) AS peak_concurrency,
      |  CAST(m % 1440 AS BIGINT) AS peak_minute_of_day
      |FROM daily WHERE rn = 1
      |ORDER BY day_idx""") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("ts"), col("event_id"))
    val wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = ev
      .withColumn("prev", lag("sec", 1).over(wl))
      .withColumn("sid", sum(when(col("prev").isNull ||
        col("sec") - col("prev") > 1800, 1).otherwise(0)).over(wl))
    val iv = sess.groupBy("user_id", "sid")
      .agg(expr("min(sec) div 60").as("m_start"),
        expr("max(sec) div 60 + 1").as("m_end"))
    val deltas = iv.select(col("m_start").as("m"), lit(1L).as("d"))
      .unionByName(iv.select(col("m_end").as("m"), lit(-1L).as("d")))
      .groupBy("m").agg(sum("d").as("d"))
    val bounds = deltas.agg(min("m").as("lo"), max("m").as("hi"))
    val dense = bounds.select(explode(sequence(col("lo"), col("hi"))).as("m"))
      .join(deltas, Seq("m"), "left")
      .select(col("m"), coalesce(col("d"), lit(0L)).as("d"))
    // running sum + daily argmax over span-in-minutes CELLS
    val conc = dense.withColumn("c", sum("d").over(Window.orderBy("m")))
    val wd = Window.partitionBy(expr("m div 1440")).orderBy(col("c").desc, col("m"))
    conc.withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .select(expr("m div 1440").as("day_idx"), col("c").as("peak_concurrency"),
        (col("m") % 1440).as("peak_minute_of_day"))
      .orderBy("day_idx")
  }

  /** q216 — linear interpolation over planted series gaps: daily
    * purchase revenue per event type with day-of-month ≡ 2 (mod 5)
    * days DELETED (simulated failed extracts), re-estimated as the
    * exact integer lerp between the surrounding observed days —
    * v = prev + (next−prev)·(d−d_prev) div (d_next−d_prev). The
    * imputation complement to q52's carry-forward (LOCF holds the last
    * level; lerp splits the gap — the right call for volume-like
    * series where LOCF systematically overshoots trends). Edge days
    * with no neighbor on one side stay NULL rather than inventing a
    * value.
    *
    * Scale: the daily aggregate collapses map-side to (type, day)
    * cells; the spine is days × types (CELLS, invariant in row count);
    * both IGNORE-NULLS windows run per-type over the spine. Integer
    * cents and integer day arithmetic throughout. */
  val q216LinearInterp: Q = Q(
    "q216_linear_interp",
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev
      |), days AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds
      |), types AS (SELECT DISTINCT event_type FROM ev),
      |spine AS (SELECT day, event_type FROM days CROSS JOIN types),
      |obs AS (
      |  SELECT s.day, s.event_type,
      |    CASE WHEN EXTRACT(DAY FROM s.day) % 5 = 2 THEN NULL ELSE e.cents END AS cents
      |  FROM spine s LEFT JOIN ev e ON e.day = s.day AND e.event_type = s.event_type
      |), nb AS (
      |  SELECT day, event_type, cents,
      |    last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    last_value(cents IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
      |    first_value(cents IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY day
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      |  FROM obs
      |)
      |SELECT day, event_type, cents AS obs_cents,
      |  CAST(CASE
      |    WHEN cents IS NOT NULL THEN cents
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
      |      pv + (nv - pv) * (day - pd) // (nd - pd)
      |    ELSE NULL END AS BIGINT) AS filled_cents,
      |  CASE WHEN cents IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
      |    THEN 1 ELSE 0 END AS interpolated
      |FROM nb
      |ORDER BY event_type, day""") { (s, d) =>
    val ev = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sum(dec(col("value")) * 100).cast("long").as("cents"))
    val bounds = ev.agg(min("day").as("lo"), max("day").as("hi"))
    val days = bounds.select(explode(sequence(col("lo"), col("hi"),
      expr("interval 1 day"))).as("day"))
    val types = ev.select("event_type").distinct()
    val spine = days.crossJoin(broadcast(types))
    val obs = spine.join(ev, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        when(dayofmonth(col("day")) % 5 === 2, lit(null).cast("long"))
          .otherwise(col("cents")).as("cents"))
    val wPrev = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs
      .withColumn("pd", last(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
      .withColumn("pv", last("cents", ignoreNulls = true).over(wPrev))
      .withColumn("nd", first(when(col("cents").isNotNull, col("day")), ignoreNulls = true).over(wNext))
      .withColumn("nv", first("cents", ignoreNulls = true).over(wNext))
      .select(col("day"), col("event_type"), col("cents").as("obs_cents"),
        when(col("cents").isNotNull, col("cents"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv") + expr("(nv - pv) * datediff(day, pd) div datediff(nd, pd)"))
          .as("filled_cents"),
        when(col("cents").isNull && col("pv").isNotNull && col("nv").isNotNull, 1)
          .otherwise(0).as("interpolated"))
      .orderBy("event_type", "day")
  }

  /** q217 — offline policy evaluation by inverse propensity scoring
    * (IPS): replay logged randomized decisions to estimate what a NEW
    * decision policy would have earned, without deploying it — the
    * counterfactual-evaluation op behind every bandit/ranker iteration
    * on logged interaction data. Logged action = md5(event_id) mod 3
    * (a uniform logging policy, propensity 1/3 — the randomization a
    * production logger records); reward = the event's value in cents.
    * For each candidate policy π, IPS weights matching rows by
    * 1/p = 3: V̂(π) = 3·Σ_match r / n. Also reported: the
    * self-normalized (SNIPS) variant Σ_match r / n_match — lower
    * variance, slight bias — and the match rate (the support π has in
    * the log; low support = wide confidence bands).
    *
    * Three candidate policies in ONE scan (a context rule on user_id,
    * a constant arm, and a coarser context rule), exploded to (policy,
    * match, reward) rows that collapse map-side to 3 cells. Integer
    * milli-cents with FLOOR division on both engines. */
  val q217IpsPolicyEval: Q = Q(
    "q217_ips_policy_eval",
    """WITH log AS (
      |  SELECT event_id, user_id,
      |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS a,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), pol AS (
      |  SELECT 'ctx_user_mod3' AS policy, a = user_id % 3 AS matched, r FROM log
      |  UNION ALL
      |  SELECT 'const_arm0', a = 0, r FROM log
      |  UNION ALL
      |  SELECT 'ctx_user_div7', a = (user_id // 7) % 3, r FROM log
      |), agg AS (
      |  SELECT policy, COUNT(*) AS n,
      |    SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS n_match,
      |    SUM(CASE WHEN matched THEN r ELSE 0 END) AS sum_r
      |  FROM pol GROUP BY policy
      |)
      |SELECT policy, CAST(n AS BIGINT) AS n, CAST(n_match AS BIGINT) AS n_match,
      |  CAST(n_match * 1000000 // n AS BIGINT) AS match_ppm,
      |  CAST(3000 * sum_r // n AS BIGINT) AS ips_value_millicents,
      |  CAST(CASE WHEN n_match = 0 THEN NULL
      |    ELSE 1000 * sum_r // n_match END AS BIGINT) AS snips_value_millicents
      |FROM agg
      |ORDER BY policy""") { (s, d) =>
    val log = Tables.events(s, d).select(
      (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 3).as("a"),
      col("user_id"),
      (dec(col("value")) * 100).cast("long").as("r"))
    val pol = log.select(explode(array(
      struct(lit("ctx_user_mod3").as("policy"),
        (col("a") === col("user_id") % 3).as("matched")),
      struct(lit("const_arm0").as("policy"), (col("a") === 0).as("matched")),
      struct(lit("ctx_user_div7").as("policy"),
        (col("a") === expr("(user_id div 7) % 3")).as("matched")))).as("p"),
      col("r"))
      .select(col("p.policy").as("policy"), col("p.matched").as("matched"), col("r"))
    pol.groupBy("policy")
      .agg(count(lit(1)).as("n"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("matched"), col("r")).otherwise(0L)).as("sum_r"))
      .select(col("policy"), col("n"), col("n_match"),
        expr("n_match * 1000000 div n").as("match_ppm"),
        expr("3000 * sum_r div n").as("ips_value_millicents"),
        when(col("n_match") === 0, lit(null).cast("long"))
          .otherwise(expr("1000 * sum_r div n_match")).as("snips_value_millicents"))
      .orderBy("policy")
  }

  /** q228 — doubly-robust off-policy evaluation: q217's IPS estimator
    * plus an outcome-model baseline m̂(x,a) — V_DR = mean over logs of
    * [ m̂(x,π(x)) + 𝟙{a=π(x)}/p · (r − m̂(x,a)) ]. DR is unbiased if
    * EITHER the propensity (exact 1/3 here) or the outcome model is
    * right, and its variance is far below IPS when m̂ explains reward —
    * the estimator production ranker evaluations actually ship. m̂ is
    * the per-(context, arm) mean reward from the log itself (context
    * x = user_id % 3 — 9 cells, exact floor-milli). The DR sum can go
    * negative on the correction term, and Spark's `div` truncates
    * where DuckDB's `//` floors — the mean is computed as
    * ((Σ + n·C) div n) − C with C = 10⁹ so the numerator is positive
    * by construction and both engines floor identically.
    *
    * Scale: one corpus scan builds the log; the 9-cell m̂ table
    * broadcasts into two equi-joins (hash, not nested-loop); the
    * 3-policy expansion is an in-row explode; the rollup collapses to
    * 3 cells map-side. Nothing after the scan is corpus-cardinality.
    *
    * Totality: the estimator never drops rows — a target-policy arm
    * with zero logged (x, pi) observations falls back to the
    * per-context marginal mean via LEFT JOIN + COALESCE (both
    * engines), so sparse-support logs shrink no denominator. */
  val q228DoublyRobust: Q = Q(
    "q228_doubly_robust",
    """WITH log AS (
      |  SELECT user_id, user_id % 3 AS x,
      |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS a,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), mhat AS (
      |  SELECT x, a, 1000 * SUM(r) // COUNT(*) AS mu FROM log GROUP BY x, a
      |), pol AS (
      |  SELECT x, a, r, 'ctx_user_mod3' AS policy, x AS pi FROM log
      |  UNION ALL
      |  SELECT x, a, r, 'const_arm0', 0 FROM log
      |  UNION ALL
      |  SELECT x, a, r, 'ctx_user_div7', (user_id // 7) % 3 FROM log
      |), xmarg AS (
      |  SELECT x, 1000 * SUM(r) // COUNT(*) AS mu_x FROM log GROUP BY x
      |), scored AS (
      |  SELECT p.policy, p.a = p.pi AS matched, p.r,
      |    ml.mu AS mu_log, COALESCE(mp.mu, xm.mu_x) AS mu_pi
      |  FROM pol p
      |  JOIN mhat ml ON ml.x = p.x AND ml.a = p.a
      |  LEFT JOIN mhat mp ON mp.x = p.x AND mp.a = p.pi
      |  JOIN xmarg xm ON xm.x = p.x
      |), agg AS (
      |  SELECT policy, COUNT(*) AS n,
      |    SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS n_match,
      |    SUM(mu_pi) AS sum_dm,
      |    SUM(mu_pi + CASE WHEN matched THEN 3 * (1000 * r - mu_log) ELSE 0 END) AS sum_dr
      |  FROM scored GROUP BY policy
      |)
      |SELECT policy, CAST(n AS BIGINT) AS n, CAST(n_match AS BIGINT) AS n_match,
      |  CAST(n_match * 1000000 // n AS BIGINT) AS match_ppm,
      |  CAST(sum_dm // n AS BIGINT) AS dm_value_millicents,
      |  CAST((sum_dr + n * 1000000000) // n - 1000000000 AS BIGINT) AS dr_value_millicents
      |FROM agg
      |ORDER BY policy""") { (s, d) =>
    val log = Tables.events(s, d).select(
      col("user_id"), (col("user_id") % 3).as("x"),
      (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 3).as("a"),
      (dec(col("value")) * 100).cast("long").as("r"))
    val mhat = log.groupBy("x", "a")
      .agg(expr("1000 * sum(r) div count(1)").as("mu"))
    val pol = log.select(col("x"), col("a"), col("r"), explode(array(
        struct(lit("ctx_user_mod3").as("policy"), col("x").as("pi")),
        struct(lit("const_arm0").as("policy"), lit(0L).as("pi")),
        struct(lit("ctx_user_div7").as("policy"),
          expr("(user_id div 7) % 3").as("pi")))).as("p"))
      .select(col("x"), col("a"), col("r"),
        col("p.policy").as("policy"), col("p.pi").as("pi"))
    // context-marginal fallback: the (x, a) join is total by construction
    // (the cell keys COME from the log), but a target policy can point at
    // an (x, pi) arm with zero logged observations — a LEFT join with the
    // per-context marginal mean keeps the direct-model term total instead
    // of silently dropping rows and shrinking per-policy denominators
    val xmarg = log.groupBy("x").agg(expr("1000 * sum(r) div count(1)").as("mu_x"))
    pol
      .join(broadcast(mhat.select(col("x"), col("a"), col("mu").as("mu_log"))),
        Seq("x", "a")) // 9-cell outcome model: broadcast hash join
      .join(broadcast(mhat.select(col("x"), col("a").as("pi"), col("mu").as("mu_pi0"))),
        Seq("x", "pi"), "left")
      .join(broadcast(xmarg), Seq("x")) // ≤3-cell context marginal
      .withColumn("mu_pi", coalesce(col("mu_pi0"), col("mu_x")))
      .groupBy("policy")
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("pi"), 1L).otherwise(0L)).as("n_match"),
        sum("mu_pi").as("sum_dm"),
        sum(col("mu_pi") + when(col("a") === col("pi"),
          lit(3L) * (lit(1000L) * col("r") - col("mu_log"))).otherwise(0L))
          .as("sum_dr"))
      .select(col("policy"), col("n"), col("n_match"),
        expr("n_match * 1000000 div n").as("match_ppm"),
        expr("sum_dm div n").as("dm_value_millicents"),
        expr("(sum_dr + n * 1000000000) div n - 1000000000")
          .as("dr_value_millicents"))
      .orderBy("policy")
  }

  /** q240 — rolling-origin forecast backtest: evaluate two zero-cost
    * baselines — naive (yesterday's value) and seasonal-naive (the
    * value 7 days earlier) — on the daily revenue series with each
    * day forecast ONLY from its past (the rolling origin every honest
    * time-series eval needs; a random split would let the model peek
    * ahead). Per model: forecast count, exact MAE in cents, and the
    * signed bias via the (Σ + n·C) div n − C shift (errors go both
    * ways, Spark div truncates, DuckDB // floors — q228's rule). The
    * pair is the canonical sanity bar: any real forecaster must beat
    * seasonal-naive on MAE before it ships.
    *
    * Scale: the corpus collapses to day cells map-side; the zero-fill
    * spine and the two lag windows run over span-in-days CELLS; the
    * rollup is 2 rows. */
  val q240RollingBacktest: Q = Q(
    "q240_rolling_backtest",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
      |  FROM events GROUP BY 1
      |), spine AS (
      |  SELECT CAST(unnest(generate_series((SELECT MIN(d) FROM daily),
      |    (SELECT MAX(d) FROM daily), INTERVAL 1 DAY)) AS DATE) AS d
      |), series AS (
      |  SELECT s.d, COALESCE(daily.v, 0) AS v FROM spine s
      |  LEFT JOIN daily ON daily.d = s.d
      |), lagged AS (
      |  SELECT d, v,
      |    lag(v, 1) OVER (ORDER BY d) AS f_naive,
      |    lag(v, 7) OVER (ORDER BY d) AS f_seasonal
      |  FROM series
      |), err AS (
      |  SELECT 'naive' AS model, v - f_naive AS e FROM lagged WHERE f_naive IS NOT NULL
      |  UNION ALL
      |  SELECT 'seasonal_naive', v - f_seasonal FROM lagged WHERE f_seasonal IS NOT NULL
      |)
      |SELECT model, CAST(COUNT(*) AS BIGINT) AS n_forecasts,
      |  CAST(SUM(ABS(e)) // COUNT(*) AS BIGINT) AS mae_cents,
      |  CAST((SUM(e) + COUNT(*) * 1000000000) // COUNT(*) - 1000000000 AS BIGINT)
      |    AS bias_cents
      |FROM err GROUP BY model
      |ORDER BY model""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("dd"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("v"))
    val mm = daily.agg(min("dd").as("lo"), max("dd").as("hi"))
    val spine = mm.select(explode(sequence(col("lo"), col("hi"),
      expr("interval 1 day"))).as("d"))
    val series = spine.join(daily, col("d") === col("dd"), "left")
      .select(col("d"), coalesce(col("v"), lit(0L)).as("v"))
    val w = Window.orderBy("d")
    val lagged = series
      .withColumn("f_naive", lag("v", 1).over(w))
      .withColumn("f_seasonal", lag("v", 7).over(w))
    val err = lagged.filter(col("f_naive").isNotNull)
      .select(lit("naive").as("model"), (col("v") - col("f_naive")).as("e"))
      .unionByName(lagged.filter(col("f_seasonal").isNotNull)
        .select(lit("seasonal_naive").as("model"),
          (col("v") - col("f_seasonal")).as("e")))
    err.groupBy("model")
      .agg(count(lit(1)).as("n_forecasts"),
        expr("sum(abs(e)) div count(1)").as("mae_cents"),
        expr("(sum(e) + count(1) * 1000000000) div count(1) - 1000000000")
          .as("bias_cents"))
      .orderBy("model")
  }

  /** q241 — difference-in-differences: the textbook causal estimate
    * from observational pre/post data — treated group (user_id odd as
    * the fixture's stand-in for a rollout cohort) vs control, before
    * vs after the midpoint "launch": DiD = (postT − preT) − (postC −
    * preC) on per-cell mean event value, which cancels both the group
    * baseline difference and the common time trend. All four cell
    * means are exact floor-milli; the DiD itself is pure ± (no
    * division on a possibly-negative value). One row: the 4 cells
    * (n + mean) and the estimate.
    *
    * Scale: one scan → 1-row min/max boundary scalar (broadcast), one
    * more scan → 4 (group, period) cells map-side. Nothing else. */
  val q241DiffInDiff: Q = Q(
    "q241_diff_in_diff",
    """WITH e AS (
      |  SELECT user_id % 2 AS treated, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), b AS (
      |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e
      |), cells AS (
      |  SELECT treated, CASE WHEN us >= mid THEN 1 ELSE 0 END AS post,
      |    COUNT(*) AS n, CAST(1000 * SUM(r) // COUNT(*) AS BIGINT) AS mean_milli
      |  FROM e CROSS JOIN b GROUP BY 1, 2
      |)
      |SELECT
      |  MAX(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_pre_treated,
      |  MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END) AS pre_treated_milli,
      |  MAX(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_post_treated,
      |  MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END) AS post_treated_milli,
      |  MAX(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_pre_control,
      |  MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END) AS pre_control_milli,
      |  MAX(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_post_control,
      |  MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END) AS post_control_milli,
      |  CAST((MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END)
      |      - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END))
      |    - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END)
      |      - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END))
      |    AS BIGINT) AS did_milli
      |FROM cells""") { (s, d) =>
    val e = Tables.events(s, d).select(
      (col("user_id") % 2).as("treated"),
      unix_micros(col("ts")).as("us"),
      (dec(col("value")) * 100).cast("long").as("r"))
    val b = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val cells = e.crossJoin(broadcast(b)) // 1-row midpoint scalar
      .groupBy(col("treated"), when(col("us") >= col("mid"), 1).otherwise(0).as("post"))
      .agg(count(lit(1)).as("n"), expr("1000 * sum(r) div count(1)").as("mean_milli"))
    def cell(t: Int, p: Int, c: String) =
      max(when(col("treated") === t && col("post") === p, col(c)))
    cells.agg(
        cell(1, 0, "n").as("n_pre_treated"),
        cell(1, 0, "mean_milli").as("pre_treated_milli"),
        cell(1, 1, "n").as("n_post_treated"),
        cell(1, 1, "mean_milli").as("post_treated_milli"),
        cell(0, 0, "n").as("n_pre_control"),
        cell(0, 0, "mean_milli").as("pre_control_milli"),
        cell(0, 1, "n").as("n_post_control"),
        cell(0, 1, "mean_milli").as("post_control_milli"))
      .withColumn("did_milli",
        (col("post_treated_milli") - col("pre_treated_milli"))
          - (col("post_control_milli") - col("pre_control_milli")))
  }

  /** q245 — empirical-Bayes rate shrinkage: per-user purchase rate
    * pulled toward the global rate by K = 20 pseudo-observations —
    * shrunk_ppm = (purchases·10⁶ + K·global_ppm) div (n + K) — the
    * estimator every CTR/conversion feature needs (a 2/2 user is not
    * a 100% converter; a 0/1 user is not a 0% one; low-n estimates
    * drown in the prior, high-n estimates keep their data). Exact
    * integers: the global rate is floored to ppm ONCE (broadcast) and
    * reused, so both engines shrink toward the identical prior. The
    * audit column |raw − shrunk| makes the shrinkage magnitude
    * visible per row.
    *
    * Scale: one user-keyed aggregate (the only corpus shuffle), a
    * 1-row global-rate scalar broadcast into the per-user map, and a
    * deterministic key-stride sample at the export edge. */
  val q245ShrunkRates: Q = Q(
    "q245_shrunk_rates",
    """WITH u AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      |  FROM events GROUP BY user_id
      |), g AS (
      |  SELECT CAST(SUM(p) * 1000000 // SUM(n) AS BIGINT) AS global_ppm FROM u
      |)
      |SELECT user_id, CAST(n AS BIGINT) AS n, CAST(p AS BIGINT) AS p,
      |  CAST(p * 1000000 // n AS BIGINT) AS raw_ppm,
      |  CAST((p * 1000000 + 20 * global_ppm) // (n + 20) AS BIGINT) AS shrunk_ppm,
      |  CAST(ABS(p * 1000000 // n - (p * 1000000 + 20 * global_ppm) // (n + 20))
      |    AS BIGINT) AS shrink_ppm
      |FROM u CROSS JOIN g
      |WHERE user_id % 17 = 0
      |ORDER BY user_id""") { (s, d) =>
    val u = Tables.events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
    val g = u.agg(expr("sum(p) * 1000000 div sum(n)").as("global_ppm"))
    u.crossJoin(broadcast(g)) // 1-row global prior
      .filter(col("user_id") % 17 === 0)
      .select(col("user_id"), col("n"), col("p"),
        expr("p * 1000000 div n").as("raw_ppm"),
        expr("(p * 1000000 + 20 * global_ppm) div (n + 20)").as("shrunk_ppm"),
        expr("abs(p * 1000000 div n - (p * 1000000 + 20 * global_ppm) div (n + 20))")
          .as("shrink_ppm"))
      .orderBy("user_id")
  }

  /** q247 — permutation test for the A/B mean difference: is the
    * observed arm gap larger than chance? The label-shuffle test makes
    * NO distributional assumption (q177's t-stat needs
    * approximate normality; this is the referee's fallback when it
    * doesn't hold): re-assign users to pseudo-arms under B = 16
    * md5-derived permutations AT THE USER LEVEL (the unit of
    * randomization — permuting rows would break within-user
    * correlation and overstate significance), recompute the mean gap
    * under each, and report p = (#{|gap_b| ≥ |gap_obs|} + 1)/(B + 1)
    * (the add-one estimator — never exactly zero, as a sampled
    * permutation p-value must be). All means exact floor-milli; gaps
    * pure ±.
    *
    * Scale: ONE corpus scan explodes each row ×(B+1) and collapses
    * map-side to 2(B+1) (permutation, arm) cells; everything after is
    * cell arithmetic. B scales the scan's output width, never its
    * row count. */
  val q247PermutationTest: Q = Q(
    "q247_permutation_test",
    """WITH e AS (
      |  SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), tagged AS (
      |  SELECT b.b,
      |    CASE WHEN b.b = 0 THEN user_id % 2
      |         ELSE CAST(concat('0x', substr(md5('perm_' || CAST(b.b AS VARCHAR)
      |           || '_' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
      |    END AS arm, r
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 17)) AS b) b
      |), cells AS (
      |  SELECT b, arm, CAST(1000 * SUM(r) // COUNT(*) AS BIGINT) AS mean_milli
      |  FROM tagged GROUP BY b, arm
      |), gaps AS (
      |  SELECT a1.b, a1.mean_milli - a0.mean_milli AS gap
      |  FROM cells a1 JOIN cells a0 ON a0.b = a1.b AND a0.arm = 0
      |  WHERE a1.arm = 1
      |), obs AS (SELECT gap FROM gaps WHERE b = 0)
      |SELECT CAST(obs.gap AS BIGINT) AS observed_gap_milli,
      |  CAST(SUM(CASE WHEN g.b > 0 AND ABS(g.gap) >= ABS(obs.gap) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_extreme,
      |  CAST(16 AS BIGINT) AS n_perms,
      |  CAST((SUM(CASE WHEN g.b > 0 AND ABS(g.gap) >= ABS(obs.gap) THEN 1 ELSE 0 END) + 1)
      |    * 1000000 // 17 AS BIGINT) AS p_ppm,
      |  CAST(MIN(CASE WHEN g.b > 0 THEN g.gap END) AS BIGINT) AS min_perm_gap_milli,
      |  CAST(MAX(CASE WHEN g.b > 0 THEN g.gap END) AS BIGINT) AS max_perm_gap_milli
      |FROM gaps g CROSS JOIN obs
      |GROUP BY obs.gap""") { (s, d) =>
    val e = Tables.events(s, d).select(col("user_id"),
      (dec(col("value")) * 100).cast("long").as("r"))
    // arm assignment is a function of (b, user_id) only, so collapse to
    // per-USER partials BEFORE the ×17 explode (round-12, guide §2.3
    // "aggregate before you shuffle"): the md5 pseudo-assignments and
    // the exploded rows now scale with |users|, not |events| (~50×
    // fewer md5 evaluations at sf0.1), and the per-arm mean folds the
    // partials exactly: Σ_users Σ_user r = Σ r, Σ_users n_user = n.
    val u = e.groupBy("user_id")
      .agg(sum(col("r")).as("sr"), count(lit(1)).as("nr"))
    val tagged = u.select(col("user_id"), col("sr"), col("nr"),
        explode(sequence(lit(0), lit(16))).as("b"))
      .select(col("b"),
        when(col("b") === 0, col("user_id") % 2)
          .otherwise(conv(substring(md5(
            concat(lit("perm_"), col("b").cast("string"), lit("_"),
              col("user_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2).as("arm"),
        col("sr"), col("nr"))
    val cells = tagged.groupBy("b", "arm")
      .agg(expr("CAST(1000 * sum(sr) div sum(nr) AS BIGINT)").as("mean_milli"))
    val gaps = cells.filter(col("arm") === 1)
      .join(cells.filter(col("arm") === 0)
        .select(col("b"), col("mean_milli").as("m0")), "b")
      .select(col("b"), (col("mean_milli") - col("m0")).as("gap"))
      .transform(Materialize.snapshot) // 17 cells: read by obs and the fold
    val obs = gaps.filter(col("b") === 0).select(col("gap").as("obs_gap"))
    gaps.crossJoin(broadcast(obs)) // 1-row observed gap
      .groupBy("obs_gap")
      .agg(sum(when(col("b") > 0 && abs(col("gap")) >= abs(col("obs_gap")), 1L)
          .otherwise(0L)).as("n_extreme"),
        min(when(col("b") > 0, col("gap"))).as("min_perm_gap_milli"),
        max(when(col("b") > 0, col("gap"))).as("max_perm_gap_milli"))
      .select(col("obs_gap").as("observed_gap_milli"), col("n_extreme"),
        lit(16L).as("n_perms"),
        expr("(n_extreme + 1) * 1000000 div 17").as("p_ppm"),
        col("min_perm_gap_milli"), col("max_perm_gap_milli"))
  }

  /** q253 — Benjamini-Hochberg FDR control over a FAMILY of A/B tests:
    * q247 runs ONE user-level permutation test; real experiment
    * readouts run one per segment and then must correct for multiple
    * testing — reporting every p < α across m segments inflates false
    * discoveries by ~m·α. Per event_type, the same B=40 md5-derived
    * user-level pseudo-assignments (b=0 is the real user_id%2 split)
    * give an add-one permutation p in ppm; BH then sorts the m
    * hypotheses by (p, type), and rejects ranks 1..r* where r* is the
    * LARGEST rank with p·m ≤ rank·α (α = 20%) — the step-up rule, in
    * exact integer arithmetic (cross-multiplied, no division at all).
    * The null fixture's verdicts are whatever the deterministic hashes
    * give — the point is the CONTROL arithmetic, hash-verified.
    *
    * Scale: ONE corpus scan explodes ×(B+1) in-row and collapses
    * map-side to (type, b, arm) cells — ≤ |types|·41·2 rows; the gap
    * table, p fold, ranking window, and step-up rule all run on
    * hypothesis-cardinality CELLS. */
  val q253BhFdr: Q = Q(
    "q253_bh_fdr",
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), tagged AS (
      |  SELECT event_type, b.b,
      |    CASE WHEN b.b = 0 THEN user_id % 2
      |         ELSE CAST(concat('0x', substr(md5('perm_' || CAST(b.b AS VARCHAR)
      |           || '_' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
      |    END AS arm, r
      |  FROM e CROSS JOIN (SELECT unnest(range(0, 41)) AS b) b
      |), cells AS (
      |  SELECT event_type, b, arm, CAST(1000 * SUM(r) // COUNT(*) AS BIGINT) AS mean_milli
      |  FROM tagged GROUP BY event_type, b, arm
      |), gaps AS (
      |  SELECT a1.event_type, a1.b, a1.mean_milli - a0.mean_milli AS gap
      |  FROM cells a1 JOIN cells a0
      |    ON a0.event_type = a1.event_type AND a0.b = a1.b AND a0.arm = 0
      |  WHERE a1.arm = 1
      |), obs AS (
      |  SELECT event_type, gap AS ogap FROM gaps WHERE b = 0
      |), pv AS (
      |  SELECT g.event_type, o.ogap AS observed_gap_milli,
      |    SUM(CASE WHEN g.b > 0 AND ABS(g.gap) >= ABS(o.ogap) THEN 1 ELSE 0 END) AS n_extreme
      |  FROM gaps g JOIN obs o USING (event_type)
      |  GROUP BY g.event_type, o.ogap
      |), scored AS (
      |  SELECT event_type, CAST(observed_gap_milli AS BIGINT) AS observed_gap_milli,
      |    CAST(n_extreme AS BIGINT) AS n_extreme,
      |    CAST((n_extreme + 1) * 1000000 // 41 AS BIGINT) AS p_ppm
      |  FROM pv
      |), rankd AS (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY p_ppm, event_type) AS bh_rank,
      |    COUNT(*) OVER () AS m
      |  FROM scored
      |), cut AS (
      |  SELECT MAX(CASE WHEN p_ppm * m <= bh_rank * 200000 THEN bh_rank ELSE 0 END) AS rmax
      |  FROM rankd
      |)
      |SELECT r.event_type, r.observed_gap_milli, r.n_extreme, r.p_ppm,
      |  CAST(r.bh_rank AS BIGINT) AS bh_rank, CAST(r.m AS BIGINT) AS m_tests,
      |  r.bh_rank <= c.rmax AS rejected
      |FROM rankd r CROSS JOIN cut c
      |ORDER BY event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d).select(col("event_type"), col("user_id"),
      (dec(col("value")) * 100).cast("long").as("r"))
    // per-(type, user) partials BEFORE the ×41 explode — q247's
    // rationale (arm is a function of (b, user_id) only); the exploded
    // row count and the 40 md5 evaluations per row now scale with
    // |type × user| cells, not |events|
    val u = e.groupBy("event_type", "user_id")
      .agg(sum(col("r")).as("sr"), count(lit(1)).as("nr"))
    val tagged = u.select(col("event_type"), col("user_id"), col("sr"), col("nr"),
        explode(sequence(lit(0), lit(40))).as("b"))
      .select(col("event_type"), col("b"),
        when(col("b") === 0, col("user_id") % 2)
          .otherwise(conv(substring(md5(
            concat(lit("perm_"), col("b").cast("string"), lit("_"),
              col("user_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2).as("arm"),
        col("sr"), col("nr"))
    val cells = tagged.groupBy("event_type", "b", "arm")
      .agg(expr("CAST(1000 * sum(sr) div sum(nr) AS BIGINT)").as("mean_milli"))
    val gaps = cells.filter(col("arm") === 1)
      .join(cells.filter(col("arm") === 0)
        .select(col("event_type"), col("b"), col("mean_milli").as("m0")),
        Seq("event_type", "b"))
      .select(col("event_type"), col("b"),
        (col("mean_milli") - col("m0")).as("gap"))
      .transform(Materialize.snapshot) // |types|·41 cells: read by obs and the fold
    val obs = gaps.filter(col("b") === 0)
      .select(col("event_type"), col("gap").as("ogap"))
    val scored = gaps.join(obs, "event_type")
      .groupBy(col("event_type"), col("ogap"))
      .agg(sum(when(col("b") > 0 && abs(col("gap")) >= abs(col("ogap")), 1L)
        .otherwise(0L)).as("n_extreme"))
      .select(col("event_type"), col("ogap").as("observed_gap_milli"),
        col("n_extreme"),
        expr("(n_extreme + 1) * 1000000 div 41").as("p_ppm"))
    // hypothesis-cardinality cells: the single-partition windows are bounded
    val rankd = scored
      .withColumn("bh_rank",
        row_number().over(Window.orderBy(col("p_ppm"), col("event_type"))).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    rankd
      .withColumn("rmax", max(when(col("p_ppm") * col("m") <= col("bh_rank") * 200000L,
          col("bh_rank")).otherwise(0L))
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("event_type"), col("observed_gap_milli"), col("n_extreme"),
        col("p_ppm"), col("bh_rank"), col("m").as("m_tests"),
        (col("bh_rank") <= col("rmax")).as("rejected"))
      .orderBy("event_type")
  }

  /** q254 — split-conformal prediction intervals, group-conditional
    * (Mondrian): the distribution-free coverage guarantee every "the
    * model predicts X ± ?" readout needs. Disjoint md5-bucket splits
    * (train 60% / calibration 20% / test 20% — deterministic, no RNG);
    * the point predictor is the per-type train mean (any predictor
    * works — the guarantee doesn't depend on it); per type, the
    * conformal quantile q̂ is the ⌈(n_cal+1)(1−α)⌉-th SMALLEST
    * calibration nonconformity |v − pred| (α = 10%, ceil spelled
    * (9·(n+1)+9) div 10 — exact integer, the finite-sample +1 is what
    * makes coverage ≥ 1−α a THEOREM, not an asymptotic); test coverage
    * = share of |v − pred| ≤ q̂. Per-type calibration makes the
    * guarantee hold within every segment, not just marginally.
    *
    * Scale: one scan tags each row's split from a hash (no shuffle);
    * train means and counts collapse to |types| cells; the order
    * statistic is ONE row_number window partitioned by type over the
    * calibration slice (parallel across types); the coverage pass is a
    * second collapsing aggregate. Nothing is corpus-cardinality after
    * the windows. */
  val q254ConformalInterval: Q = Q(
    "q254_conformal_interval",
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(concat('0x', substr(md5('conf_' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bkt
      |  FROM events
      |), pred AS (
      |  SELECT event_type, COUNT(*) AS n_train,
      |    CAST(1000 * SUM(v) // COUNT(*) AS BIGINT) AS pred_milli
      |  FROM e WHERE bkt < 6 GROUP BY event_type
      |), cal AS (
      |  SELECT e.event_type, ABS(1000 * e.v - p.pred_milli) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY e.event_type
      |      ORDER BY ABS(1000 * e.v - p.pred_milli), e.v) AS rn,
      |    COUNT(*) OVER (PARTITION BY e.event_type) AS n_cal
      |  FROM e JOIN pred p USING (event_type)
      |  WHERE e.bkt IN (6, 7)
      |), qhat AS (
      |  SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal,
      |    CAST(score AS BIGINT) AS q_hat_milli
      |  FROM cal WHERE rn = (9 * (n_cal + 1) + 9) // 10
      |), test AS (
      |  SELECT e.event_type, COUNT(*) AS n_test,
      |    SUM(CASE WHEN ABS(1000 * e.v - p.pred_milli) <= q.q_hat_milli
      |      THEN 1 ELSE 0 END) AS n_covered
      |  FROM e JOIN pred p USING (event_type) JOIN qhat q USING (event_type)
      |  WHERE e.bkt >= 8 GROUP BY e.event_type
      |)
      |SELECT p.event_type, CAST(p.n_train AS BIGINT) AS n_train,
      |  q.n_cal, CAST(t.n_test AS BIGINT) AS n_test,
      |  p.pred_milli, q.q_hat_milli,
      |  CAST(t.n_covered AS BIGINT) AS n_covered,
      |  CAST(t.n_covered * 1000000 // t.n_test AS BIGINT) AS coverage_ppm
      |FROM pred p JOIN qhat q USING (event_type) JOIN test t USING (event_type)
      |ORDER BY p.event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.hex32
    val e = Tables.events(s, d).select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(hex32(concat(lit("conf_"), col("event_id").cast("string"))), lit(10L)).as("bkt"))
      .transform(Materialize.snapshot) // train/cal/test legs read one snapshot
    val pred = e.filter(col("bkt") < 6).groupBy("event_type")
      .agg(count(lit(1)).as("n_train"),
        expr("CAST(1000 * sum(v) div count(1) AS BIGINT)").as("pred_milli"))
    val wRank = Window.partitionBy("event_type")
      .orderBy(abs(lit(1000L) * col("v") - col("pred_milli")), col("v"))
    val wN = Window.partitionBy("event_type")
    val cal = e.filter(col("bkt").isin(6L, 7L))
      .join(broadcast(pred.select(col("event_type"), col("pred_milli"))), "event_type")
      .select(col("event_type"),
        abs(lit(1000L) * col("v") - col("pred_milli")).as("score"),
        row_number().over(wRank).cast("long").as("rn"),
        count(lit(1)).over(wN).as("n_cal"))
    val qhat = cal
      .filter(col("rn") === expr("(9 * (n_cal + 1) + 9) div 10"))
      .select(col("event_type"), col("n_cal"), col("score").as("q_hat_milli"))
    val test = e.filter(col("bkt") >= 8)
      .join(broadcast(pred.select(col("event_type"), col("pred_milli"))), "event_type")
      .join(broadcast(qhat.select(col("event_type"), col("q_hat_milli"))), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(lit(1000L) * col("v") - col("pred_milli")) <= col("q_hat_milli"), 1L)
          .otherwise(0L)).as("n_covered"))
    pred.join(qhat, "event_type").join(test, "event_type")
      .select(col("event_type"), col("n_train"), col("n_cal"), col("n_test"),
        col("pred_milli"), col("q_hat_milli"), col("n_covered"),
        expr("n_covered * 1000000 div n_test").as("coverage_ppm"))
      .orderBy("event_type")
  }

  /** q249 — Kaplan-Meier survival estimator with right-censoring, over
    * user activity STREAKS: how many consecutive active days does an
    * engagement streak survive? Subjects are maximal runs of
    * consecutive active (user, day)s (gaps-and-islands: day −
    * row_number is the island key); a streak DIES when a silent day
    * breaks it, and a streak still running on the last observed day is
    * CENSORED — counting it as churned is the classic bias KM exists
    * to remove. KM: at each duration t with d_t deaths among n_t
    * still-at-risk streaks, S ← S·(n_t−d_t)/n_t — spelled as an exact
    * integer-ppm FOLD over ordered duration cells (d_t=0 cells are
    * identity steps by construction). Spark folds with the aggregate()
    * HOF over the sorted cell array; DuckDB replays the identical fold
    * as a recursive CTE — per-step floor-div, so both engines produce
    * the same ppm sequence (the q228 rule family).
    *
    * Scale: ONE corpus scan collapses to distinct (user, day) cells
    * map-side; the island window is co-partitioned per user; everything
    * after lives on duration CELLS (≤ span in days, invariant to corpus
    * volume): the reverse-cumulative at-risk window, the fold, and the
    * report. The 1-row observation-end scalar broadcasts (allowlisted). */
  val q249KaplanMeier: Q = Q(
    "q249_kaplan_meier",
    """WITH RECURSIVE days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), mx AS (
      |  SELECT MAX(day) AS mxd FROM days
      |), isl AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM days
      |), streaks AS (
      |  SELECT user_id, grp, COUNT(*) AS t,
      |    CASE WHEN MAX(day) < (SELECT mxd FROM mx) THEN 1 ELSE 0 END AS ev
      |  FROM isl GROUP BY user_id, grp
      |), cells AS (
      |  SELECT t, COUNT(*) AS cnt, SUM(ev) AS d FROM streaks GROUP BY t
      |), atrisk AS (
      |  SELECT t, d,
      |    SUM(cnt) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
      |    ROW_NUMBER() OVER (ORDER BY t) AS rn
      |  FROM cells
      |), f(rn, s) AS (
      |  SELECT 0, CAST(1000000 AS BIGINT)
      |  UNION ALL
      |  SELECT c.rn, CAST(f.s * (c.n - c.d) // c.n AS BIGINT)
      |  FROM f JOIN atrisk c ON c.rn = f.rn + 1
      |)
      |SELECT CAST(c.t AS BIGINT) AS day, CAST(c.n AS BIGINT) AS n_risk,
      |  CAST(c.d AS BIGINT) AS n_events, CAST(f.s AS BIGINT) AS survival_ppm
      |FROM f JOIN atrisk c USING (rn)
      |WHERE c.d > 0
      |ORDER BY day""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val mx = days.agg(max("day").as("mxd"))
    val wIsl = Window.partitionBy("user_id").orderBy("day")
    val streaks = days
      .withColumn("grp", col("day") - row_number().over(wIsl))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("t"), max("day").as("lastd"))
      .crossJoin(broadcast(mx)) // 1-row observation end
      .select(col("t"),
        when(col("lastd") < col("mxd"), 1L).otherwise(0L).as("ev"))
    val cells = streaks.groupBy("t")
      .agg(count(lit(1)).as("cnt"), sum("ev").as("d"))
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atrisk = cells // span-in-days cells: the single-partition window is bounded
      .select(col("t"), col("d"), sum("cnt").over(wRisk).as("n"))
    atrisk.agg(sort_array(collect_list(struct(col("t"), col("n"), col("d")))).as("cs"))
      .select(explode(expr(
        """aggregate(cs,
          |  struct(CAST(1000000 AS BIGINT) AS s,
          |    CAST(array() AS ARRAY<STRUCT<t: BIGINT, n: BIGINT, d: BIGINT, s: BIGINT>>) AS rows),
          |  (acc, x) -> struct(
          |    acc.s * (x.n - x.d) div x.n AS s,
          |    array_append(acc.rows, struct(x.t AS t, x.n AS n, x.d AS d,
          |      acc.s * (x.n - x.d) div x.n AS s)) AS rows),
          |  acc -> acc.rows)""".stripMargin)).as("r"))
      .filter(col("r.d") > 0)
      .select(col("r.t").as("day"), col("r.n").as("n_risk"),
        col("r.d").as("n_events"), col("r.s").as("survival_ppm"))
      .orderBy("day")
  }

  /** q264 — pinball-loss quantile eval: fit the τ=0.9 quantile per
    * event type on a deterministic md5 train split (80%), score it on
    * the held-out 20% with the pinball (quantile) loss — THE proper
    * scoring rule for quantile predictions, the eval q254's conformal
    * intervals and q57's percentile fits report against. The train
    * order statistic is the exact ⌈0.9·n⌉-th smallest (row_number per
    * type, ceil spelled (9n+9) div 10); the loss is exact integer:
    * τ(v−p) when v ≥ p else (1−τ)(p−v), with τ = 9/10 kept as the
    * 9·(v−p)-or-1·(p−v) numerator and ONE final division — mean loss
    * in milli-cents = Σ·100 div n_test. Empirical coverage ships next
    * to it (the two numbers disagreeing is how a miscalibrated
    * quantile shows up).
    *
    * Scale: one scan tags the split from a hash (no shuffle); the rank
    * window partitions per type (parallel across types) over the train
    * slice; the test pass collapses to |types| cells map-side against
    * the broadcast quantile table. */
  val q264PinballEval: Q = Q(
    "q264_pinball_eval",
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CAST(concat('0x', substr(md5('pin_' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bkt
      |  FROM events
      |), tr AS (
      |  SELECT event_type, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_type) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_train
      |  FROM e WHERE bkt < 8
      |), q AS (
      |  SELECT event_type, CAST(n_train AS BIGINT) AS n_train,
      |    CAST(v AS BIGINT) AS q90_cents
      |  FROM tr WHERE rn = (9 * n_train + 9) // 10
      |), t AS (
      |  SELECT e.event_type, COUNT(*) AS n_test,
      |    SUM(CASE WHEN e.v >= q.q90_cents THEN 9 * (e.v - q.q90_cents)
      |        ELSE q.q90_cents - e.v END) AS loss_num,
      |    SUM(CASE WHEN e.v <= q.q90_cents THEN 1 ELSE 0 END) AS n_covered
      |  FROM e JOIN q USING (event_type)
      |  WHERE e.bkt >= 8 GROUP BY e.event_type
      |)
      |SELECT q.event_type, q.n_train, CAST(t.n_test AS BIGINT) AS n_test,
      |  q.q90_cents,
      |  CAST(t.loss_num * 100 // t.n_test AS BIGINT) AS mean_pinball_milli,
      |  CAST(t.n_covered * 1000000 // t.n_test AS BIGINT) AS coverage_ppm
      |FROM q JOIN t USING (event_type)
      |ORDER BY q.event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.hex32
    val e = Tables.events(s, d).select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      pmod(hex32(concat(lit("pin_"), col("event_id").cast("string"))), lit(10L)).as("bkt"))
      .transform(Materialize.snapshot) // train + test legs read one snapshot
    val tr = e.filter(col("bkt") < 8)
      .select(col("event_type"), col("v"),
        row_number().over(Window.partitionBy("event_type")
          .orderBy(col("v"), col("event_type"))).cast("long").as("rn"),
        count(lit(1)).over(Window.partitionBy("event_type")).as("n_train"))
    val q = tr.filter(col("rn") === expr("(9 * n_train + 9) div 10"))
      .select(col("event_type"), col("n_train"), col("v").as("q90_cents"))
    val t = e.filter(col("bkt") >= 8)
      .join(broadcast(q.select(col("event_type"), col("q90_cents"))), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("v") >= col("q90_cents"), lit(9L) * (col("v") - col("q90_cents")))
          .otherwise(col("q90_cents") - col("v"))).as("loss_num"),
        sum(when(col("v") <= col("q90_cents"), 1L).otherwise(0L)).as("n_covered"))
    q.join(t, "event_type")
      .select(col("event_type"), col("n_train"), col("n_test"), col("q90_cents"),
        expr("loss_num * 100 div n_test").as("mean_pinball_milli"),
        expr("n_covered * 1000000 div n_test").as("coverage_ppm"))
      .orderBy("event_type")
  }

  /** q265 — Bradley–Terry pairwise strength (Zermelo 1929; the model
    * behind Elo and behind every LLM-arena leaderboard): event types
    * are the "players", each user who engaged with both of a pair
    * casts one comparison — the type with the strictly higher
    * per-user mean value wins (exact cross-multiplied compare,
    * su_a·n_b vs su_b·n_a — no division; ties abstain). Strengths come
    * from 3 unrolled MM iterations (Hunter 2004): sᵢ ← Wᵢ·10¹² //
    * Σⱼ(nᵢⱼ·10¹² // (sᵢ+sⱼ)), renormalized to mean 10⁶ each round —
    * every step an exact integer floor-div replayed identically by
    * both engines, so the fixed point is hash-stable. Strengths clamp
    * to ≥1 micro (a never-winning player's MLE is 0, which would zero
    * a later round's sᵢ+sⱼ denominator — the clamp keeps the map total
    * and is 10⁻⁶ of the init scale). 3 rounds is the
    * pinned budget (the MM map is a contraction on the fixture's
    * connected comparison graph; the round count ships in the schema
    * via the column name, not a hidden convergence loop).
    *
    * Scale: the (user, type) mean table is one corpus rollup; the
    * comparison join is user-co-partitioned with ≤|types|² fanout per
    * user; everything after lives on the ≤|types|² wins matrix and
    * |types| strength cells (broadcast per round). */
  val q265BradleyTerry: Q = Q(
    "q265_bradley_terry",
    """WITH ut AS (
      |  SELECT user_id, event_type,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS su,
      |    COUNT(*) AS n
      |  FROM events GROUP BY user_id, event_type
      |), comp AS (
      |  SELECT a.event_type AS wt, b.event_type AS lt
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type <> b.event_type
      |  WHERE a.su * b.n > b.su * a.n
      |), w AS (
      |  SELECT wt, lt, COUNT(*) AS wins FROM comp GROUP BY wt, lt
      |), types AS (
      |  SELECT DISTINCT event_type FROM ut
      |), pairs AS (
      |  SELECT t1.event_type AS i, t2.event_type AS j,
      |    COALESCE(wij.wins, 0) AS w_ij,
      |    COALESCE(wij.wins, 0) + COALESCE(wji.wins, 0) AS n_ij
      |  FROM types t1 JOIN types t2 ON t1.event_type <> t2.event_type
      |  LEFT JOIN w wij ON wij.wt = t1.event_type AND wij.lt = t2.event_type
      |  LEFT JOIN w wji ON wji.wt = t2.event_type AND wji.lt = t1.event_type
      |), s0 AS (
      |  SELECT event_type AS i, CAST(1000000 AS BIGINT) AS s FROM types
      |), r1 AS (
      |  SELECT p.i, GREATEST(SUM(p.w_ij) * 1000000000000 //
      |    SUM(p.n_ij * 1000000000000 // (si.s + sj.s)), 1) AS s
      |  FROM pairs p JOIN s0 si ON si.i = p.i JOIN s0 sj ON sj.i = p.j
      |  GROUP BY p.i HAVING SUM(p.n_ij) > 0
      |), n1 AS (
      |  SELECT i, GREATEST(s * (SELECT COUNT(*) * 1000000 FROM r1) // (SELECT SUM(s) FROM r1), 1) AS s FROM r1
      |), r2 AS (
      |  SELECT p.i, GREATEST(SUM(p.w_ij) * 1000000000000 //
      |    SUM(p.n_ij * 1000000000000 // (si.s + sj.s)), 1) AS s
      |  FROM pairs p JOIN n1 si ON si.i = p.i JOIN n1 sj ON sj.i = p.j
      |  GROUP BY p.i HAVING SUM(p.n_ij) > 0
      |), n2 AS (
      |  SELECT i, GREATEST(s * (SELECT COUNT(*) * 1000000 FROM r2) // (SELECT SUM(s) FROM r2), 1) AS s FROM r2
      |), r3 AS (
      |  SELECT p.i, GREATEST(SUM(p.w_ij) * 1000000000000 //
      |    SUM(p.n_ij * 1000000000000 // (si.s + sj.s)), 1) AS s
      |  FROM pairs p JOIN n2 si ON si.i = p.i JOIN n2 sj ON sj.i = p.j
      |  GROUP BY p.i HAVING SUM(p.n_ij) > 0
      |), n3 AS (
      |  SELECT i, GREATEST(s * (SELECT COUNT(*) * 1000000 FROM r3) // (SELECT SUM(s) FROM r3), 1) AS s FROM r3
      |), tot AS (
      |  SELECT wt AS i, SUM(wins) AS wins FROM w GROUP BY wt
      |), losses AS (
      |  SELECT lt AS i, SUM(wins) AS losses FROM w GROUP BY lt
      |)
      |SELECT n3.i AS event_type,
      |  CAST(COALESCE(tot.wins, 0) AS BIGINT) AS wins,
      |  CAST(COALESCE(losses.losses, 0) AS BIGINT) AS losses,
      |  CAST(n3.s AS BIGINT) AS strength_micro,
      |  CAST(ROW_NUMBER() OVER (ORDER BY n3.s DESC, n3.i) AS BIGINT) AS bt_rank
      |FROM n3
      |LEFT JOIN tot ON tot.i = n3.i
      |LEFT JOIN losses ON losses.i = n3.i
      |ORDER BY event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ut = Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(sum((dec(col("value")) * 100).cast("long")).as("su"),
        count(lit(1)).as("n"))
      .transform(Materialize.snapshot) // both comparison legs read it
    val comp = ut
      .join(ut.select(col("user_id"), col("event_type").as("lt"),
          col("su").as("bsu"), col("n").as("bn")),
        Seq("user_id"))
      .filter(col("event_type") =!= col("lt") &&
        col("su") * col("bn") > col("bsu") * col("n"))
    val w = comp.groupBy(col("event_type").as("wt"), col("lt"))
      .agg(count(lit(1)).as("wins"))
      .transform(Materialize.snapshot) // ≤|types|² cells: pairs + win/loss totals read it
    val types = ut.select(col("event_type")).distinct()
      .transform(Materialize.snapshot) // |types| rows
    val pairs = types.select(col("event_type").as("i"))
      .join(types.select(col("event_type").as("j")), col("i") =!= col("j"))
      .join(w.select(col("wt"), col("lt"), col("wins").as("wij")),
        col("wt") === col("i") && col("lt") === col("j"), "left")
      .join(w.select(col("wt").as("wt2"), col("lt").as("lt2"), col("wins").as("wji")),
        col("wt2") === col("j") && col("lt2") === col("i"), "left")
      .select(col("i"), col("j"),
        coalesce(col("wij"), lit(0L)).as("w_ij"),
        (coalesce(col("wij"), lit(0L)) + coalesce(col("wji"), lit(0L))).as("n_ij"))
      .transform(Materialize.snapshot) // |types|² cells: every MM round reads it
    var strength = types.select(col("event_type").as("i"), lit(1000000L).as("s"))
    (1 to 3).foreach { _ =>
      val raw = pairs
        .join(broadcast(strength.select(col("i"), col("s").as("si"))), "i")
        .join(broadcast(strength.select(col("i").as("j"), col("s").as("sj"))), "j")
        .groupBy("i")
        .agg(sum("w_ij").as("wsum"),
          sum(expr("n_ij * 1000000000000 div (si + sj)")).as("den"),
          sum("n_ij").as("nsum"))
        .filter(col("nsum") > 0)
        .select(col("i"), greatest(expr("wsum * 1000000000000 div den"), lit(1L)).as("s"))
      val norm = raw.agg(count(lit(1)).as("cnt"), sum("s").as("ssum"))
      strength = raw.crossJoin(broadcast(norm)) // 1-row normalizer
        .select(col("i"), greatest(expr("s * (cnt * 1000000) div ssum"), lit(1L)).as("s"))
        .transform(Materialize.snapshot) // |types| strength cells feed the next round
    }
    val tot = w.groupBy(col("wt").as("i")).agg(sum("wins").as("wins"))
    val losses = w.groupBy(col("lt").as("i")).agg(sum("wins").as("losses"))
    strength
      .join(tot, Seq("i"), "left")
      .join(losses, Seq("i"), "left")
      .select(col("i").as("event_type"),
        coalesce(col("wins"), lit(0L)).as("wins"),
        coalesce(col("losses"), lit(0L)).as("losses"),
        col("s").as("strength_micro"))
      .withColumn("bt_rank", row_number().over(
        Window.orderBy(col("strength_micro").desc, col("event_type"))).cast("long"))
      .orderBy("event_type")
  }

  /** q270 — two-sample Kolmogorov–Smirnov test, weekday vs weekend
    * value distributions per event type: D = sup|F₁−F₂| computed
    * EXACTLY on value-domain cells — |cum₁·n₂ − cum₂·n₁| maxed over
    * observed values, one division at the end — plus the α=0.05
    * decision against c(α)√((n+m)/nm) (the √ is isqrt = floor of a
    * correctly-rounded IEEE sqrt on an exact integer — the q153/q256
    * precedent; 1.358 ships as the pinned 1358/1000). The
    * distribution-equality referee for "did the metric's SHAPE change",
    * which mean-gap tests (q177/q247) can't see. Weekday split reads
    * the UTC ts contract on both engines (Spark dayofweek 1=Sun ↔
    * DuckDB dayofweek 0=Sun, offsets pinned here).
    *
    * Scale: the corpus collapses to (type, value, side) cells map-side
    * (value-domain cells — q180/q208's documented shape: cents
    * quantization bounds them when raw values are near-distinct); the
    * running-CDF window partitions per type; the sup and the decision
    * fold to |types| rows. */
  val q270KsTest: Q = Q(
    "q270_ks_test",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS we
      |  FROM events
      |), cells AS (
      |  SELECT event_type, v, we, COUNT(*) AS c FROM e GROUP BY event_type, v, we
      |), tot AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN we = 0 THEN c ELSE 0 END) AS n_wd,
      |    SUM(CASE WHEN we = 1 THEN c ELSE 0 END) AS n_we
      |  FROM cells GROUP BY event_type
      |), cum AS (
      |  SELECT event_type, v,
      |    SUM(SUM(CASE WHEN we = 0 THEN c ELSE 0 END))
      |      OVER (PARTITION BY event_type ORDER BY v) AS cum_wd,
      |    SUM(SUM(CASE WHEN we = 1 THEN c ELSE 0 END))
      |      OVER (PARTITION BY event_type ORDER BY v) AS cum_we
      |  FROM cells GROUP BY event_type, v
      |), d AS (
      |  SELECT c.event_type,
      |    MAX(ABS(c.cum_wd * t.n_we - c.cum_we * t.n_wd)) AS d_num
      |  FROM cum c JOIN tot t USING (event_type)
      |  GROUP BY c.event_type
      |)
      |SELECT t.event_type,
      |  CAST(t.n_wd AS BIGINT) AS n_weekday,
      |  CAST(t.n_we AS BIGINT) AS n_weekend,
      |  CAST(d.d_num * 1000000 // (t.n_wd * t.n_we) AS BIGINT) AS ks_ppm,
      |  CAST(1358 * CAST(FLOOR(SQRT(CAST(
      |    (t.n_wd + t.n_we) * 1000000000000 // (t.n_wd * t.n_we)
      |    AS DOUBLE))) AS BIGINT) // 1000 AS BIGINT) AS crit_ppm,
      |  d.d_num * 1000000 // (t.n_wd * t.n_we)
      |    > 1358 * CAST(FLOOR(SQRT(CAST(
      |      (t.n_wd + t.n_we) * 1000000000000 // (t.n_wd * t.n_we)
      |      AS DOUBLE))) AS BIGINT) // 1000 AS reject_05
      |FROM tot t JOIN d USING (event_type)
      |WHERE t.n_wd > 0 AND t.n_we > 0
      |ORDER BY t.event_type""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d).select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      // Spark dayofweek: 1=Sunday..7=Saturday; DuckDB: 0=Sunday..6=Saturday
      when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L).as("we"))
    val cells = e.groupBy("event_type", "v", "we").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // value-domain cells: totals + CDF walk read it
    val tot = cells.groupBy("event_type")
      .agg(sum(when(col("we") === 0, col("c")).otherwise(0L)).as("n_wd"),
        sum(when(col("we") === 1, col("c")).otherwise(0L)).as("n_we"))
    val wCdf = Window.partitionBy("event_type").orderBy("v")
    val cum = cells.groupBy("event_type", "v")
      .agg(sum(when(col("we") === 0, col("c")).otherwise(0L)).as("wd"),
        sum(when(col("we") === 1, col("c")).otherwise(0L)).as("wec"))
      .select(col("event_type"), col("v"),
        sum("wd").over(wCdf).as("cum_wd"), sum("wec").over(wCdf).as("cum_we"))
    val dmax = cum.join(broadcast(tot), "event_type")
      .groupBy("event_type")
      .agg(max(abs(col("cum_wd") * col("n_we") - col("cum_we") * col("n_wd"))).as("d_num"))
    tot.join(dmax, "event_type")
      .filter(col("n_wd") > 0 && col("n_we") > 0) // one-sided types can't be tested
      .select(col("event_type"),
        col("n_wd").as("n_weekday"), col("n_we").as("n_weekend"),
        expr("d_num * 1000000 div (n_wd * n_we)").as("ks_ppm"),
        expr("""1358 * CAST(FLOOR(SQRT(CAST(
          (n_wd + n_we) * 1000000000000 div (n_wd * n_we)
          AS DOUBLE))) AS BIGINT) div 1000""").as("crit_ppm"))
      .withColumn("reject_05", col("ks_ppm") > col("crit_ppm"))
      .orderBy("event_type")
  }

  /** q275 — CUPED variance reduction (Deng et al. 2013, the
    * experimentation-platform standard): regress each user's
    * experiment-period metric on their PRE-period metric (θ =
    * cov(X,Y)/var(X), pooled), subtract θ·(X−X̄), and report per-arm
    * means of both the raw and adjusted metric plus the achieved
    * variance ratio — the technique that makes q177/q247's tests
    * sensitive enough to ship, typically cutting required sample size
    * 2–5×. The adjustment changes no arm's EXPECTED gap (X predates
    * assignment); it only removes pre-existing user-level variance.
    * All arithmetic exact integer: θ in signed micro via cross-
    * multiplied moments (sign-split floors — the q259 rule — because
    * cov can be negative), the per-user adjustment θ·(1000x−x̄)
    * TRUNCATED toward zero in both engines (Spark `div` natively
    * truncates; the oracle spells the matching CASE), moment products
    * lifted to DECIMAL(38,0)/HUGEINT (n·Σxy crosses 2⁶³ near 10⁴
    * users at cents scale). Zero pre-period variance degrades to
    * θ = 0 — no adjustment — rather than a divide-by-zero.
    *
    * Scale: one per-user rollup (the only corpus shuffle), a 1-row θ
    * fold broadcast back into the user-cell scan, then 2 arm cells;
    * the variance ratio folds once more over user cells. */
  val q275Cuped: Q = Q(
    "q275_cuped",
    """WITH e AS (
      |  SELECT user_id, user_id % 2 AS arm, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), b AS (
      |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e
      |), u AS (
      |  SELECT user_id, MIN(arm) AS arm,
      |    SUM(CASE WHEN us < mid THEN r ELSE 0 END) AS x,
      |    SUM(CASE WHEN us >= mid THEN r ELSE 0 END) AS y
      |  FROM e CROSS JOIN b GROUP BY user_id
      |), th AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(y) AS num,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(x) AS den
      |  FROM u
      |), theta AS (
      |  SELECT n, 1000 * sx // n AS meanx_milli,
      |    CAST(CASE WHEN den = 0 THEN 0
      |      WHEN num >= 0 THEN num * 1000000 // den
      |      ELSE -((-num) * 1000000 // den) END AS BIGINT) AS theta_micro
      |  FROM th
      |), adj AS (
      |  SELECT u.arm, 1000 * u.y AS y_milli,
      |    1000 * u.y - (CASE
      |      WHEN t.theta_micro * (1000 * u.x - t.meanx_milli) >= 0
      |      THEN t.theta_micro * (1000 * u.x - t.meanx_milli) // 1000000
      |      ELSE -((-(t.theta_micro * (1000 * u.x - t.meanx_milli))) // 1000000)
      |    END) AS yadj_milli,
      |    t.theta_micro
      |  FROM u CROSS JOIN theta t
      |), ratio AS (
      |  SELECT CAST(
      |    (COUNT(*) * SUM(CAST(yadj_milli AS HUGEINT) * yadj_milli)
      |      - CAST(SUM(yadj_milli) AS HUGEINT) * SUM(yadj_milli)) * 1000000
      |    // NULLIF(COUNT(*) * SUM(CAST(y_milli AS HUGEINT) * y_milli)
      |      - CAST(SUM(y_milli) AS HUGEINT) * SUM(y_milli), 0)
      |    AS BIGINT) AS var_ratio_ppm
      |  FROM adj
      |)
      |SELECT a.arm,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(a.y_milli) // COUNT(*) AS BIGINT) AS mean_y_milli,
      |  CAST(CASE WHEN SUM(a.yadj_milli) >= 0 THEN SUM(a.yadj_milli) // COUNT(*)
      |    ELSE -((-SUM(a.yadj_milli)) // COUNT(*)) END AS BIGINT) AS mean_yadj_milli,
      |  CAST(MIN(a.theta_micro) AS BIGINT) AS theta_micro,
      |  MIN(r.var_ratio_ppm) AS var_ratio_ppm
      |FROM adj a CROSS JOIN ratio r
      |GROUP BY a.arm
      |ORDER BY a.arm""") { (s, d) =>
    val e = Tables.events(s, d).select(col("user_id"),
      (col("user_id") % 2).as("arm"),
      unix_micros(col("ts")).as("us"),
      (dec(col("value")) * 100).cast("long").as("r"))
    val b = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val u = e.crossJoin(broadcast(b)) // 1-row midpoint scalar
      .groupBy("user_id")
      .agg(min("arm").as("arm"),
        sum(when(col("us") < col("mid"), col("r")).otherwise(0L)).as("x"),
        sum(when(col("us") >= col("mid"), col("r")).otherwise(0L)).as("y"))
      .transform(Materialize.snapshot) // user cells: θ fold + adjusted scan + ratio read it
    val th = u.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      expr("""CAST(count(1) AS DECIMAL(38,0)) * sum(CAST(x AS DECIMAL(38,0)) * y)
        - CAST(sum(x) AS DECIMAL(38,0)) * sum(y)""").as("num"),
      expr("""CAST(count(1) AS DECIMAL(38,0)) * sum(CAST(x AS DECIMAL(38,0)) * x)
        - CAST(sum(x) AS DECIMAL(38,0)) * sum(x)""").as("den"))
    val theta = th.select(col("n"),
      expr("1000 * sx div n").as("meanx_milli"),
      expr("""CAST(CASE WHEN den = 0 THEN 0
        WHEN num >= 0 THEN num * 1000000 div den
        ELSE -((-num) * 1000000 div den) END AS BIGINT)""").as("theta_micro"))
    // Spark `div` truncates toward zero natively, which IS the CASE the
    // oracle spells — the signed product needs no sign-split here.
    val adj = u.crossJoin(broadcast(theta)) // 1-row θ scalar
      .select(col("arm"), (lit(1000L) * col("y")).as("y_milli"),
        (lit(1000L) * col("y")
          - expr("theta_micro * (1000 * x - meanx_milli) div 1000000")).as("yadj_milli"),
        col("theta_micro"))
      .transform(Materialize.snapshot) // user cells: arm rollup + variance ratio read it
    val ratio = adj.agg(expr(
      """CAST((count(1) * sum(CAST(yadj_milli AS DECIMAL(38,0)) * yadj_milli)
        - CAST(sum(yadj_milli) AS DECIMAL(38,0)) * sum(yadj_milli)) * 1000000
        div nullif(count(1) * sum(CAST(y_milli AS DECIMAL(38,0)) * y_milli)
        - CAST(sum(y_milli) AS DECIMAL(38,0)) * sum(y_milli), 0)
        AS BIGINT)""").as("var_ratio_ppm"))
    adj.crossJoin(broadcast(ratio)) // 1-row ratio scalar
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        expr("sum(y_milli) div count(1)").as("mean_y_milli"),
        expr("""CAST(CASE WHEN sum(yadj_milli) >= 0 THEN sum(yadj_milli) div count(1)
          ELSE -((-sum(yadj_milli)) div count(1)) END AS BIGINT)""").as("mean_yadj_milli"),
        min("theta_micro").as("theta_micro"),
        min("var_ratio_ppm").as("var_ratio_ppm"))
      .orderBy("arm")
  }

  /** q280 — two-arm log-rank test over q249's survival setup: do the
    * two experiment arms' engagement streaks DIE at different rates?
    * Kaplan-Meier (q249) draws each arm's curve; the log-rank test is
    * the referee that says whether the curves differ beyond chance —
    * the standard significance test for time-to-event outcomes, which
    * mean-gap tests (q177/q247) get wrong because censored subjects
    * carry information a mean can't use. At each distinct duration t
    * with d deaths among n at-risk (n₀/n₁ per arm): E₀ accumulates
    * d·n₀/n and the hypergeometric variance d·n₀·n₁·(n−d)/(n²(n−1)),
    * both as floor-micro terms (identical per-cell formula on both
    * engines — every numerator non-negative, so Spark's truncating
    * `div` and DuckDB's flooring `//` agree); χ² = (O₀−E₀)²/V against
    * the pinned 3.841 (α=0.05, 1 df). Variance products are lifted to
    * DECIMAL(38,0)/HUGEINT (d·n₀·n₁·(n−d)·10¹² crosses 2⁶³ near 4k
    * streaks).
    *
    * Scale: one corpus scan collapses to (user, day) cells map-side;
    * the island window is co-partitioned per user; everything after
    * lives on duration cells (≤ span in days): the at-risk reverse
    * windows are bounded, the fold is one 1-row aggregate. */
  val q280LogRank: Q = Q(
    "q280_logrank",
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), mx AS (
      |  SELECT MAX(day) AS mxd FROM days
      |), isl AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM days
      |), streaks AS (
      |  SELECT user_id % 2 AS arm, COUNT(*) AS t,
      |    CASE WHEN MAX(day) < (SELECT mxd FROM mx) THEN 1 ELSE 0 END AS ev
      |  FROM isl GROUP BY user_id, grp
      |), cells AS (
      |  SELECT t,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS d0,
      |    SUM(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS d1
      |  FROM streaks GROUP BY t
      |), risk AS (
      |  SELECT t, d0, d1,
      |    SUM(c0) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n0,
      |    SUM(c1) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
      |  FROM cells
      |), agg AS (
      |  SELECT SUM(d0) AS o0,
      |    SUM(CAST(d0 + d1 AS HUGEINT) * n0 * 1000000 // (n0 + n1)) AS e0_micro,
      |    SUM(CASE WHEN n0 + n1 > 1 THEN
      |      CAST(d0 + d1 AS HUGEINT) * n0 * n1 * (n0 + n1 - (d0 + d1)) * 1000000000000
      |        // (CAST(n0 + n1 AS HUGEINT) * (n0 + n1) * (n0 + n1 - 1))
      |      ELSE 0 END) AS v_micro
      |  FROM risk WHERE d0 + d1 > 0
      |), tot AS (
      |  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS s0,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS s1,
      |    SUM(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS dd0,
      |    SUM(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS dd1
      |  FROM streaks
      |)
      |SELECT CAST(tot.s0 AS BIGINT) AS n_streaks_arm0,
      |  CAST(tot.s1 AS BIGINT) AS n_streaks_arm1,
      |  CAST(tot.dd0 AS BIGINT) AS n_deaths_arm0,
      |  CAST(tot.dd1 AS BIGINT) AS n_deaths_arm1,
      |  CAST(agg.o0 * 1000000 - agg.e0_micro AS BIGINT) AS o_minus_e_micro,
      |  CAST(CASE WHEN agg.v_micro > 0 THEN
      |    CAST(agg.o0 * 1000000 - agg.e0_micro AS HUGEINT)
      |      * (agg.o0 * 1000000 - agg.e0_micro) * 1000
      |      // (CAST(agg.v_micro AS HUGEINT) * 1000000)
      |    ELSE NULL END AS BIGINT) AS chi2_milli,
      |  CASE WHEN agg.v_micro > 0 THEN
      |    CAST(agg.o0 * 1000000 - agg.e0_micro AS HUGEINT)
      |      * (agg.o0 * 1000000 - agg.e0_micro) * 1000
      |      // (CAST(agg.v_micro AS HUGEINT) * 1000000) > 3841
      |    ELSE NULL END AS reject_05
      |FROM agg CROSS JOIN tot""") { (s, d) =>
    val days = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val mx = days.agg(max("day").as("mxd"))
    val wIsl = Window.partitionBy("user_id").orderBy("day")
    val streaks = days
      .withColumn("grp", col("day") - row_number().over(wIsl))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("t"), max("day").as("lastd"))
      .crossJoin(broadcast(mx)) // 1-row observation end
      .select((col("user_id") % 2).as("arm"), col("t"),
        when(col("lastd") < col("mxd"), 1L).otherwise(0L).as("ev"))
      .transform(Materialize.snapshot) // streak cells feed both the risk table and the totals
    val cells = streaks.groupBy("t")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 0, col("ev")).otherwise(0L)).as("d0"),
        sum(when(col("arm") === 1, col("ev")).otherwise(0L)).as("d1"))
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = cells // duration cells: the single-partition window is span-bounded
      .select(col("t"), col("d0"), col("d1"),
        sum("c0").over(wRisk).as("n0"), sum("c1").over(wRisk).as("n1"))
    val agg = risk.filter(col("d0") + col("d1") > 0)
      .agg(sum("d0").as("o0"),
        sum(expr("CAST(d0 + d1 AS DECIMAL(38,0)) * n0 * 1000000 div (n0 + n1)")).as("e0_micro"),
        sum(expr("""CASE WHEN n0 + n1 > 1 THEN
          CAST(d0 + d1 AS DECIMAL(38,0)) * n0 * n1 * (n0 + n1 - (d0 + d1)) * 1000000000000
            div (CAST(n0 + n1 AS DECIMAL(38,0)) * (n0 + n1) * (n0 + n1 - 1))
          ELSE 0 END""")).as("v_micro"))
    val tot = streaks.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("s0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("s1"),
      sum(when(col("arm") === 0, col("ev")).otherwise(0L)).as("dd0"),
      sum(when(col("arm") === 1, col("ev")).otherwise(0L)).as("dd1"))
    agg.crossJoin(broadcast(tot)) // two 1-row folds combine into the report row
      .select(col("s0").as("n_streaks_arm0"), col("s1").as("n_streaks_arm1"),
        col("dd0").as("n_deaths_arm0"), col("dd1").as("n_deaths_arm1"),
        expr("CAST(o0 * 1000000 - e0_micro AS BIGINT)").as("o_minus_e_micro"),
        expr("""CAST(CASE WHEN v_micro > 0 THEN
          CAST(o0 * 1000000 - e0_micro AS DECIMAL(38,0))
            * (o0 * 1000000 - e0_micro) * 1000
            div (CAST(v_micro AS DECIMAL(38,0)) * 1000000)
          ELSE NULL END AS BIGINT)""").as("chi2_milli"))
      .withColumn("reject_05",
        when(col("chi2_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_milli") > 3841))
  }

  /** q281 — Qini/uplift curve over score-domain cells: rank users by a
    * behavioral uplift score (their view-event count), then report per
    * distinct score value the treated/control response split and the
    * CUMULATIVE incremental-conversion rate (Qini) walking down the
    * ranking — "if we only acted on users scoring ≥ s, how much extra
    * conversion does treatment buy?", the operating curve behind every
    * targeting-policy rollout (q262's gains curve scores ONE outcome;
    * Qini differences two arms). Per-bin uplift and cumulative Qini are
    * exact sign-split ppm (uplift can be negative — the q259 rule
    * keeps Spark's truncating div and DuckDB's flooring // identical);
    * bins where either arm is empty yield NULL, never a fabricated 0.
    *
    * Scale: one per-user rollup (the only corpus shuffle) collapses to
    * score-DOMAIN cells map-side; the cumulative window walks those
    * bounded cells — no global per-user sort, no ntile: the curve is
    * exact at any corpus size. */
  val q281QiniUplift: Q = Q(
    "q281_qini_uplift",
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS arm,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS score,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY user_id
      |), cells AS (
      |  SELECT score,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nt,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS nc,
      |    SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS rt,
      |    SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS rc
      |  FROM u GROUP BY score
      |), cum AS (
      |  SELECT score, nt, nc, rt, rc,
      |    SUM(nt) OVER w AS cnt, SUM(nc) OVER w AS cnc,
      |    SUM(rt) OVER w AS crt, SUM(rc) OVER w AS crc
      |  FROM cells
      |  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT CAST(score AS BIGINT) AS score,
      |  CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
      |  CAST(rt AS BIGINT) AS resp_treat, CAST(rc AS BIGINT) AS resp_ctrl,
      |  CAST(CASE WHEN nt > 0 AND nc > 0 THEN
      |    CASE WHEN rt * nc - rc * nt >= 0 THEN (rt * nc - rc * nt) * 1000000 // (nt * nc)
      |      ELSE -((-(rt * nc - rc * nt)) * 1000000 // (nt * nc)) END
      |    ELSE NULL END AS BIGINT) AS bin_uplift_ppm,
      |  CAST(CASE WHEN cnt > 0 AND cnc > 0 THEN
      |    CASE WHEN crt * cnc - crc * cnt >= 0 THEN (crt * cnc - crc * cnt) * 1000000 // (cnt * cnc)
      |      ELSE -((-(crt * cnc - crc * cnt)) * 1000000 // (cnt * cnc)) END
      |    ELSE NULL END AS BIGINT) AS cum_qini_ppm
      |FROM cum
      |ORDER BY score DESC""") { (s, d) =>
    val u = Tables.events(s, d).groupBy("user_id")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select((col("user_id") % 2).as("arm"), col("score"), col("conv"))
    val cells = u.groupBy("score")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("rt"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("rc"))
    val w = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells // score-domain cells: the single-partition window is bounded
      .select(col("score"), col("nt"), col("nc"), col("rt"), col("rc"),
        sum("nt").over(w).as("cnt"), sum("nc").over(w).as("cnc"),
        sum("rt").over(w).as("crt"), sum("rc").over(w).as("crc"))
      .select(col("score"),
        col("nt").as("n_treat"), col("nc").as("n_ctrl"),
        col("rt").as("resp_treat"), col("rc").as("resp_ctrl"),
        expr("""CAST(CASE WHEN nt > 0 AND nc > 0 THEN
          CASE WHEN rt * nc - rc * nt >= 0 THEN (rt * nc - rc * nt) * 1000000 div (nt * nc)
            ELSE -((-(rt * nc - rc * nt)) * 1000000 div (nt * nc)) END
          ELSE NULL END AS BIGINT)""").as("bin_uplift_ppm"),
        expr("""CAST(CASE WHEN cnt > 0 AND cnc > 0 THEN
          CASE WHEN crt * cnc - crc * cnt >= 0 THEN (crt * cnc - crc * cnt) * 1000000 div (cnt * cnc)
            ELSE -((-(crt * cnc - crc * cnt)) * 1000000 div (cnt * cnc)) END
          ELSE NULL END AS BIGINT)""").as("cum_qini_ppm"))
      .orderBy(col("score").desc)
  }

  /** q282 — 1-D Wasserstein (earth-mover) distance between the weekday
    * and weekend value distributions per event type: W₁ = ∫|F₁−F₂| —
    * the MAGNITUDE of a distribution shift in the metric's own units
    * (milli-cents here), where q270's KS reports only the sup gap.
    * A shift KS barely flags (many small CDF gaps over a wide range)
    * can carry a large W₁, and vice versa — production drift gates
    * report both. Exact integer: on the merged value grid,
    * |cum₁·n₂ − cum₂·n₁| times the gap to the next value, summed in
    * DECIMAL(38,0)/HUGEINT, ONE floor-division at the end (numerator
    * non-negative — Spark div and DuckDB // agree).
    *
    * Scale: identical cell shape to q270 — the corpus collapses to
    * (type, value, side) cells map-side; the CDF walk and the gap
    * lead() run per type on value-domain cells; the report is |types|
    * rows. */
  val q282Wasserstein: Q = Q(
    "q282_wasserstein",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS we
      |  FROM events
      |), cells AS (
      |  SELECT event_type, v, we, COUNT(*) AS c FROM e GROUP BY event_type, v, we
      |), tot AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN we = 0 THEN c ELSE 0 END) AS n_wd,
      |    SUM(CASE WHEN we = 1 THEN c ELSE 0 END) AS n_we
      |  FROM cells GROUP BY event_type
      |), cum AS (
      |  SELECT event_type, v,
      |    SUM(SUM(CASE WHEN we = 0 THEN c ELSE 0 END))
      |      OVER (PARTITION BY event_type ORDER BY v) AS cum_wd,
      |    SUM(SUM(CASE WHEN we = 1 THEN c ELSE 0 END))
      |      OVER (PARTITION BY event_type ORDER BY v) AS cum_we,
      |    LEAD(v) OVER (PARTITION BY event_type ORDER BY v) AS nv
      |  FROM cells GROUP BY event_type, v
      |), num AS (
      |  SELECT c.event_type,
      |    SUM(ABS(CAST(c.cum_wd AS HUGEINT) * t.n_we - CAST(c.cum_we AS HUGEINT) * t.n_wd)
      |      * (c.nv - c.v)) AS w1_num
      |  FROM cum c JOIN tot t USING (event_type)
      |  WHERE c.nv IS NOT NULL
      |  GROUP BY c.event_type
      |)
      |SELECT t.event_type,
      |  CAST(t.n_wd AS BIGINT) AS n_weekday, CAST(t.n_we AS BIGINT) AS n_weekend,
      |  CAST(COALESCE(n.w1_num, 0) * 1000 // (CAST(t.n_wd AS HUGEINT) * t.n_we) AS BIGINT)
      |    AS w1_millicents
      |FROM tot t LEFT JOIN num n USING (event_type)
      |WHERE t.n_wd > 0 AND t.n_we > 0
      |ORDER BY t.event_type""") { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"),
      when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L).as("we"))
    val cells = e.groupBy("event_type", "v", "we").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // value-domain cells: totals + CDF walk read it
    val tot = cells.groupBy("event_type")
      .agg(sum(when(col("we") === 0, col("c")).otherwise(0L)).as("n_wd"),
        sum(when(col("we") === 1, col("c")).otherwise(0L)).as("n_we"))
    val wCdf = Window.partitionBy("event_type").orderBy("v")
    val cum = cells.groupBy("event_type", "v")
      .agg(sum(when(col("we") === 0, col("c")).otherwise(0L)).as("wd"),
        sum(when(col("we") === 1, col("c")).otherwise(0L)).as("wec"))
      .select(col("event_type"), col("v"),
        sum("wd").over(wCdf).as("cum_wd"), sum("wec").over(wCdf).as("cum_we"),
        lead("v", 1).over(wCdf).as("nv"))
    val num = cum.join(broadcast(tot), "event_type")
      .filter(col("nv").isNotNull)
      .groupBy("event_type")
      .agg(sum(expr("""abs(CAST(cum_wd AS DECIMAL(38,0)) * n_we
        - CAST(cum_we AS DECIMAL(38,0)) * n_wd) * (nv - v)""")).as("w1_num"))
    tot.join(num, Seq("event_type"), "left")
      .filter(col("n_wd") > 0 && col("n_we") > 0)
      .select(col("event_type"),
        col("n_wd").as("n_weekday"), col("n_we").as("n_weekend"),
        expr("""CAST(COALESCE(w1_num, CAST(0 AS DECIMAL(38,0))) * 1000
          div (CAST(n_wd AS DECIMAL(38,0)) * n_we) AS BIGINT)""").as("w1_millicents"))
      .orderBy("event_type")
  }

  /** q283 — single change-point detection by between-group SSE gain
    * (binary-segmentation step 1): per event type, find the day
    * boundary that best splits the daily revenue series into two
    * constant-mean regimes — where q156's CUSUM asks "did it drift
    * past a threshold", this asks "WHEN did the level shift". For a
    * split after day t with left/right row counts n_l/n_r and cent
    * sums s_l/s_r, the between-group gain (total SSE minus split SSE)
    * is s_l²/n_l + s_r²/n_r − s²/n — maximized over candidate days via
    * window cumsums; each term floors identically on both engines
    * (non-negative numerators), so the tiny floor slack cancels in the
    * exact integer subtraction. Squares are lifted to DECIMAL(38,0)/
    * HUGEINT (s² crosses 2⁶³ at ~10⁵ rows of 10⁴-cent values); the
    * gain is reported in raw cents² (no extra scale — BIGINT-safe to
    * ~10¹⁸ cents², i.e. corpora 10⁴× this fixture).
    *
    * Scale: the corpus collapses to (type, day) cells map-side; the
    * candidate sweep is a per-type window over time-bounded daily
    * cells; the argmax is a row_number over the same cells. */
  val q283Changepoint: Q = Q(
    "q283_changepoint",
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    COUNT(*) AS n_d,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sx_d
      |  FROM events GROUP BY event_type, day
      |), tot AS (
      |  SELECT event_type, SUM(n_d) AS n, SUM(sx_d) AS sx FROM daily GROUP BY event_type
      |), cand AS (
      |  SELECT d.event_type, d.day,
      |    SUM(d.n_d) OVER w AS n_l, SUM(d.sx_d) OVER w AS sx_l, t.n, t.sx
      |  FROM daily d JOIN tot t USING (event_type)
      |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), gains AS (
      |  SELECT event_type, day, n_l, n - n_l AS n_r, sx_l, sx - sx_l AS sx_r, n, sx,
      |    CAST(sx_l AS HUGEINT) * sx_l // n_l
      |      + CAST(sx - sx_l AS HUGEINT) * (sx - sx_l) // (n - n_l)
      |      - CAST(sx AS HUGEINT) * sx // n AS gain
      |  FROM cand WHERE n_l > 0 AND n - n_l > 0
      |), best AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY gain DESC, day) AS rn
      |  FROM gains
      |)
      |SELECT event_type, CAST(day AS BIGINT) AS split_day,
      |  CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
      |  CAST(sx_l * 1000 // n_l AS BIGINT) AS mean_left_millicents,
      |  CAST(sx_r * 1000 // n_r AS BIGINT) AS mean_right_millicents,
      |  CAST(gain AS BIGINT) AS gain_cents2
      |FROM best WHERE rn = 1
      |ORDER BY event_type""") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_d"), sum((dec(col("value")) * 100).cast("long")).as("sx_d"))
    val tot = daily.groupBy("event_type").agg(sum("n_d").as("n"), sum("sx_d").as("sx"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = daily.join(broadcast(tot), "event_type") // |types|-row totals
      .select(col("event_type"), col("day"),
        sum("n_d").over(w).as("n_l"), sum("sx_d").over(w).as("sx_l"),
        col("n"), col("sx"))
    val gains = cand.filter(col("n_l") > 0 && col("n") - col("n_l") > 0)
      .select(col("event_type"), col("day"), col("n_l"),
        (col("n") - col("n_l")).as("n_r"), col("sx_l"),
        (col("sx") - col("sx_l")).as("sx_r"),
        expr("""CAST(sx_l AS DECIMAL(38,0)) * sx_l div n_l
          + CAST(sx - sx_l AS DECIMAL(38,0)) * (sx - sx_l) div (n - n_l)
          - CAST(sx AS DECIMAL(38,0)) * sx div n""").as("gain"))
    val wBest = Window.partitionBy("event_type").orderBy(col("gain").desc, col("day"))
    gains.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("n_l").as("n_left"), col("n_r").as("n_right"),
        expr("sx_l * 1000 div n_l").as("mean_left_millicents"),
        expr("sx_r * 1000 div n_r").as("mean_right_millicents"),
        col("gain").cast("long").as("gain_cents2"))
      .orderBy("event_type")
  }

  /** q286 — Mann-Kendall trend test on the daily revenue series per
    * event type: is q197's Theil-Sen slope statistically REAL? S =
    * Σ_{i<j} sign(x_j − x_i) over daily cells, the tie-corrected
    * variance 18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) kept
    * ×18 (always integer), and the continuity-corrected normal score
    * z ≈ (|S|−1)·√18/√(V18) — spelled sign·((|S|−1)·424264 div
    * isqrt(V18·10⁴)) with √18·10⁵ pinned as 424264, so the quotient
    * is z·10³ exactly as z_milli promises, and isqrt =
    * floor of an IEEE sqrt on an exact integer (exact while V18·10⁴ <
    * 2⁵³, i.e. ~35k daily cells — decades of days; the q270 rule).
    * The nonparametric trend referee: no normality assumption, robust
    * to the outliers that break OLS t-tests (q178).
    *
    * Scale: the corpus collapses to (type, day) cells map-side; the
    * pair join is TIME-domain-bounded (q197's documented shape) and
    * joins on the type key; tie cells group on (type, value). */
  val q286MannKendall: Q = Q(
    "q286_mann_kendall",
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
      |  FROM events GROUP BY event_type, day
      |), s AS (
      |  SELECT a.event_type,
      |    SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS s_stat
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY a.event_type
      |), n AS (
      |  SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY event_type
      |), ties AS (
      |  SELECT event_type, SUM(t * (t - 1) * (2 * t + 5)) AS tie_adj
      |  FROM (SELECT event_type, x, COUNT(*) AS t FROM daily GROUP BY event_type, x)
      |  GROUP BY event_type
      |), v AS (
      |  SELECT n.event_type, n.n_days,
      |    n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - COALESCE(t.tie_adj, 0) AS v18
      |  FROM n LEFT JOIN ties t USING (event_type)
      |)
      |SELECT v.event_type, CAST(v.n_days AS BIGINT) AS n_days,
      |  CAST(s.s_stat AS BIGINT) AS s_stat, CAST(v.v18 AS BIGINT) AS var18,
      |  CAST(CASE WHEN v.v18 > 0 AND ABS(s.s_stat) > 1 THEN
      |    CASE WHEN s.s_stat > 0 THEN
      |      (s.s_stat - 1) * 424264 // CAST(FLOOR(SQRT(CAST(v.v18 * 10000 AS DOUBLE))) AS BIGINT)
      |    ELSE -((-s.s_stat - 1) * 424264 // CAST(FLOOR(SQRT(CAST(v.v18 * 10000 AS DOUBLE))) AS BIGINT)) END
      |    ELSE 0 END AS BIGINT) AS z_milli,
      |  CASE WHEN v.v18 > 0 AND ABS(s.s_stat) > 1 THEN
      |    ABS(CASE WHEN s.s_stat > 0 THEN
      |      (s.s_stat - 1) * 424264 // CAST(FLOOR(SQRT(CAST(v.v18 * 10000 AS DOUBLE))) AS BIGINT)
      |    ELSE -((-s.s_stat - 1) * 424264 // CAST(FLOOR(SQRT(CAST(v.v18 * 10000 AS DOUBLE))) AS BIGINT)) END) > 1960
      |    ELSE FALSE END AS reject_05
      |FROM v JOIN s USING (event_type)
      |ORDER BY v.event_type""") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("x"))
      .transform(Materialize.snapshot) // daily cells feed the pair join (both sides), ties, counts
    val a = daily.select(col("event_type"), col("day").as("da"), col("x").as("xa"))
    val b = daily.select(col("event_type"), col("day").as("db"), col("x").as("xb"))
    val sStat = a.join(b, Seq("event_type")) // time-bounded cells² (q197's shape)
      .filter(col("da") < col("db"))
      .groupBy("event_type")
      .agg(sum(when(col("xb") > col("xa"), 1L)
        .when(col("xb") < col("xa"), -1L).otherwise(0L)).as("s_stat"))
    val n = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy("event_type", "x").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_adj"))
    val v = n.join(ties, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - coalesce(col("tie_adj"), lit(0L))).as("v18"))
    v.join(sStat, "event_type")
      .select(col("event_type"), col("n_days"), col("s_stat"), col("v18").as("var18"),
        expr("""CAST(CASE WHEN v18 > 0 AND ABS(s_stat) > 1 THEN
          CASE WHEN s_stat > 0 THEN
            (s_stat - 1) * 424264 div CAST(FLOOR(SQRT(CAST(v18 * 10000 AS DOUBLE))) AS BIGINT)
          ELSE -((-s_stat - 1) * 424264 div CAST(FLOOR(SQRT(CAST(v18 * 10000 AS DOUBLE))) AS BIGINT)) END
          ELSE 0 END AS BIGINT)""").as("z_milli"))
      .withColumn("reject_05", abs(col("z_milli")) > 1960)
      .orderBy("event_type")
  }

  /** q289 — Wilcoxon signed-rank test on paired per-user pre/post
    * spend (q275's midpoint split): the PAIRED nonparametric referee —
    * q184's rank-sum compares two independent samples, this tests
    * whether the within-user change has a symmetric-around-zero
    * distribution, robust to the heavy tails that break a paired
    * t-test. Midranks of |d| are kept ×2 (2·cum_less + ties + 1 —
    * always integer), W⁺ accumulates positive-side ranks, the
    * tie-corrected variance is kept ×48 (2n(n+1)(2n+1) − Σ(t³−t),
    * always integer), and z = (W2−E2)·√12/√V48 ships in sign-split
    * milli with √12 pinned as 346410/10⁵ and isqrt on an exact
    * integer (the q270/q286 rule; exact while V48·10⁴ < 2⁵³ — ~10⁵
    * pairs, with the DECIMAL lift documented for beyond).
    *
    * Scale: one per-user rollup (the only corpus shuffle) collapses to
    * |d|-value-domain cells map-side; ranks come from a cumulative
    * window over those cells — no global row sort at any corpus
    * size. */
  val q289WilcoxonSignedRank: Q = Q(
    "q289_wilcoxon_signed_rank",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), b AS (
      |  SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e
      |), u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN us >= mid THEN r ELSE 0 END)
      |      - SUM(CASE WHEN us < mid THEN r ELSE 0 END) AS d
      |  FROM e CROSS JOIN b GROUP BY user_id
      |), nz AS (
      |  SELECT ABS(d) AS ad, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
      |  FROM u WHERE d <> 0
      |), cells AS (
      |  SELECT ad, COUNT(*) AS c, SUM(pos) AS cpos FROM nz GROUP BY ad
      |), ranked AS (
      |  SELECT ad, c, cpos,
      |    2 * (SUM(c) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) - c) + c + 1 AS rank2
      |  FROM cells
      |), agg AS (
      |  SELECT SUM(c) AS n, SUM(cpos * rank2) AS w2,
      |    SUM(c * (CAST(c AS HUGEINT) * c - 1)) AS tie_adj
      |  FROM ranked
      |)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |  CAST(w2 AS BIGINT) AS w_plus_x2,
      |  CAST(n * (n + 1) // 2 AS BIGINT) AS e_x2,
      |  CAST(2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_adj AS BIGINT) AS var_x48,
      |  CAST(CASE WHEN 2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_adj > 0 THEN
      |    CASE WHEN w2 - n * (n + 1) // 2 >= 0 THEN
      |      (w2 - n * (n + 1) // 2) * 346410
      |        // CAST(FLOOR(SQRT(CAST((2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_adj)
      |          * 10000 AS DOUBLE))) AS HUGEINT)
      |    ELSE -((-(w2 - n * (n + 1) // 2)) * 346410
      |        // CAST(FLOOR(SQRT(CAST((2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_adj)
      |          * 10000 AS DOUBLE))) AS HUGEINT)) END
      |    ELSE 0 END AS BIGINT) AS z_milli,
      |  CASE WHEN 2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_adj > 0 THEN
      |    ABS(CAST(CASE WHEN w2 - n * (n + 1) // 2 >= 0 THEN
      |      (w2 - n * (n + 1) // 2) * 346410
      |        // CAST(FLOOR(SQRT(CAST((2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_adj)
      |          * 10000 AS DOUBLE))) AS HUGEINT)
      |    ELSE -((-(w2 - n * (n + 1) // 2)) * 346410
      |        // CAST(FLOOR(SQRT(CAST((2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - tie_adj)
      |          * 10000 AS DOUBLE))) AS HUGEINT)) END AS BIGINT)) > 1960
      |    ELSE FALSE END AS reject_05
      |FROM agg""") { (s, d) =>
    val e = Tables.events(s, d).select(col("user_id"),
      expr("unix_micros(ts)").as("us"),
      (dec(col("value")) * 100).cast("long").as("r"))
    val b = e.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val u = e.crossJoin(broadcast(b)) // 1-row midpoint
      .groupBy("user_id")
      .agg((sum(when(col("us") >= col("mid"), col("r")).otherwise(0L))
        - sum(when(col("us") < col("mid"), col("r")).otherwise(0L))).as("d"))
    val cells = u.filter(col("d") =!= 0)
      .select(abs(col("d")).as("ad"),
        when(col("d") > 0, 1L).otherwise(0L).as("pos"))
      .groupBy("ad").agg(count(lit(1)).as("c"), sum("pos").as("cpos"))
    val wCum = Window.orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells // |d|-domain cells: the single-partition window is bounded
      .select(col("c"), col("cpos"),
        (lit(2) * (sum("c").over(wCum) - col("c")) + col("c") + 1).as("rank2"))
    val agg = ranked.agg(sum("c").as("n"), sum(col("cpos") * col("rank2")).as("w2"),
      sum(expr("c * (CAST(c AS DECIMAL(38,0)) * c - 1)")).as("tie_adj"))
    agg.select(
      col("n").as("n_pairs"), col("w2").as("w_plus_x2"),
      expr("n * (n + 1) div 2").as("e_x2"),
      expr("CAST(2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie_adj AS BIGINT)")
        .as("var_x48"),
      expr("""CAST(CASE WHEN 2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie_adj > 0 THEN
        CASE WHEN w2 - n * (n + 1) div 2 >= 0 THEN
          (w2 - n * (n + 1) div 2) * 346410
            div CAST(FLOOR(SQRT(CAST((2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie_adj)
              * 10000 AS DOUBLE))) AS DECIMAL(38,0))
        ELSE -((-(w2 - n * (n + 1) div 2)) * 346410
            div CAST(FLOOR(SQRT(CAST((2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie_adj)
              * 10000 AS DOUBLE))) AS DECIMAL(38,0))) END
        ELSE 0 END AS BIGINT)""").as("z_milli"))
      .withColumn("reject_05", abs(col("z_milli")) > 1960)
  }

  /** q290 — Kruskal-Wallis rank test across the five event types: do
    * the VALUE distributions differ across groups at all? The k-group
    * generalization of q184's two-sample rank-sum — the omnibus
    * nonparametric ANOVA a metrics platform runs before any pairwise
    * drill-down. Global midranks ×2 from value-domain cells (2·
    * cum_less + ties + 1), per-group rank sums R2_g, H = 12/(N(N+1))·
    * ΣR_g²/n_g − 3(N+1) in floor-milli with the ×2 scale folded in
    * (R2²/4), tie-corrected by the exact factor (N³−N)/(N³−N−Σ(t³−t)),
    * decided against the pinned χ²₄ 0.05 critical 9.488. Squares
    * lifted to DECIMAL(38,0)/HUGEINT (R2² crosses 2⁶³ near 2M rows).
    *
    * Scale: the corpus collapses to (value, type) cells map-side; the
    * rank walk is one window over value-domain cells; per-group sums
    * and the H fold are |types| rows. */
  val q290KruskalWallis: Q = Q(
    "q290_kruskal_wallis",
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events
      |), cells AS (
      |  SELECT v, event_type, COUNT(*) AS c FROM e GROUP BY v, event_type
      |), vcells AS (
      |  SELECT v, SUM(c) AS cv FROM cells GROUP BY v
      |), ranked AS (
      |  SELECT v, 2 * (SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW) - cv) + cv + 1 AS rank2, cv
      |  FROM vcells
      |), grp AS (
      |  SELECT c.event_type, SUM(c.c) AS n_g,
      |    SUM(CAST(c.c AS HUGEINT) * r.rank2) AS r2_g
      |  FROM cells c JOIN ranked r USING (v)
      |  GROUP BY c.event_type
      |), tot AS (
      |  SELECT SUM(n_g) AS n,
      |    SUM(CAST(r2_g AS HUGEINT) * r2_g // (4 * n_g)) AS srq
      |  FROM grp
      |), ties AS (
      |  SELECT SUM(cv * (CAST(cv AS HUGEINT) * cv - 1)) AS tie_adj FROM vcells
      |), h AS (
      |  SELECT n,
      |    12000 * srq // (CAST(n AS HUGEINT) * (n + 1)) - 3000 * (n + 1) AS h_milli,
      |    CAST(n AS HUGEINT) * n * n - n AS n3n
      |  FROM tot
      |)
      |SELECT g.event_type, CAST(g.n_g AS BIGINT) AS n_g,
      |  CAST(g.r2_g // (2 * g.n_g) AS BIGINT) AS mean_rank,
      |  CAST(h.h_milli AS BIGINT) AS h_milli,
      |  CAST(CASE WHEN h.n3n - t.tie_adj > 0 THEN
      |    h.h_milli * h.n3n // (h.n3n - t.tie_adj) ELSE NULL END AS BIGINT) AS h_tie_milli,
      |  CASE WHEN h.n3n - t.tie_adj > 0 THEN
      |    h.h_milli * h.n3n // (h.n3n - t.tie_adj) > 9488 ELSE NULL END AS reject_05
      |FROM grp g CROSS JOIN h CROSS JOIN ties t
      |ORDER BY g.event_type""") { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"))
    val cells = e.groupBy("v", "event_type").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // (value, type) cells feed the rank walk and group sums
    val vcells = cells.groupBy("v").agg(sum("c").as("cv"))
    val wCum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = vcells // value-domain cells: bounded single-partition window
      .select(col("v"),
        (lit(2) * (sum("cv").over(wCum) - col("cv")) + col("cv") + 1).as("rank2"),
        col("cv"))
    val grp = cells.join(ranked.select("v", "rank2"), "v")
      .groupBy("event_type")
      .agg(sum("c").as("n_g"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * rank2")).as("r2_g"))
      .transform(Materialize.snapshot) // |types| cells feed both the fold and the report
    val tot = grp.agg(sum("n_g").as("n"),
      // keep the summed quotients DECIMAL: a LONG sum would overflow in
      // the 12000*srq lift at sf1 magnitudes (measured on the x16 tree)
      sum(expr("CAST(CAST(r2_g AS DECIMAL(38,0)) * r2_g div (4 * n_g) AS DECIMAL(38,0))"))
        .as("srq"))
    val ties = vcells.agg(
      sum(expr("cv * (CAST(cv AS DECIMAL(38,0)) * cv - 1)")).as("tie_adj"))
    val h = tot.select(col("n"),
      expr("""12000 * srq div (CAST(n AS DECIMAL(38,0)) * (n + 1))
        - 3000 * (n + 1)""").as("h_milli"),
      expr("CAST(n AS DECIMAL(38,0)) * n * n - n").as("n3n"))
    grp.crossJoin(broadcast(h)).crossJoin(broadcast(ties)) // two 1-row folds
      .select(col("event_type"), col("n_g"),
        expr("CAST(r2_g div (2 * n_g) AS BIGINT)").as("mean_rank"),
        col("h_milli").cast("long").as("h_milli"),
        expr("""CAST(CASE WHEN n3n - tie_adj > 0 THEN
          h_milli * n3n div (n3n - tie_adj) ELSE NULL END AS BIGINT)""").as("h_tie_milli"))
      .withColumn("reject_05",
        when(col("h_tie_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("h_tie_milli") > 9488))
      .orderBy("event_type")
  }

  /** q291 — propensity-stratified ATE (observational causal estimate):
    * when treatment was NOT randomized — here "afternoon exposure"
    * (hour ≥ 12) — the naive treated-vs-control mean gap confounds
    * treatment with whoever self-selects into it; stratifying on the
    * confounder proxy (user cohort = user_id % 5) and averaging
    * within-stratum gaps with population weights n_x/N is the
    * textbook backdoor adjustment (Cochran's subclassification), the
    * observational leg beside q217/q228's logged-bandit estimators.
    * Per-stratum means in floor-milli (non-negative cents), the
    * weighted fold Σn_x·(m̂₁ₓ−m̂₀ₓ) div N sign-split; strata missing
    * an arm are EXCLUDED and counted (n_strata_used vs n_strata) so
    * thin support fails visibly, not silently (the q228 rule). The
    * naive unadjusted gap ships next to the adjusted one — their
    * disagreement IS the confounding readout.
    *
    * Scale: one scan collapses to (stratum, arm) cells map-side;
    * everything after is ≤2·|strata| rows plus two 1-row folds. */
  val q291StratifiedAte: Q = Q(
    "q291_stratified_ate",
    """WITH e AS (
      |  SELECT user_id % 5 AS x,
      |    CASE WHEN EXTRACT(hour FROM ts) >= 12 THEN 1 ELSE 0 END AS t,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS r
      |  FROM events
      |), cells AS (
      |  SELECT x, t, COUNT(*) AS n, SUM(r) AS sr FROM e GROUP BY x, t
      |), strata AS (
      |  SELECT x,
      |    SUM(CASE WHEN t = 1 THEN n ELSE 0 END) AS n1,
      |    SUM(CASE WHEN t = 0 THEN n ELSE 0 END) AS n0,
      |    SUM(CASE WHEN t = 1 THEN sr ELSE 0 END) AS sr1,
      |    SUM(CASE WHEN t = 0 THEN sr ELSE 0 END) AS sr0
      |  FROM cells GROUP BY x
      |), used AS (
      |  SELECT x, n1 + n0 AS n_x,
      |    1000 * sr1 // n1 - 1000 * sr0 // n0 AS gap_milli
      |  FROM strata WHERE n1 > 0 AND n0 > 0
      |), fold AS (
      |  SELECT COUNT(*) AS n_used, SUM(n_x) AS n_total,
      |    SUM(n_x * gap_milli) AS wnum
      |  FROM used
      |), naive AS (
      |  SELECT 1000 * SUM(CASE WHEN t = 1 THEN sr ELSE 0 END)
      |      // SUM(CASE WHEN t = 1 THEN n ELSE 0 END)
      |    - 1000 * SUM(CASE WHEN t = 0 THEN sr ELSE 0 END)
      |      // SUM(CASE WHEN t = 0 THEN n ELSE 0 END) AS naive_milli,
      |    COUNT(DISTINCT x) AS n_strata
      |  FROM cells
      |)
      |SELECT CAST(nv.n_strata AS BIGINT) AS n_strata,
      |  CAST(f.n_used AS BIGINT) AS n_strata_used,
      |  CAST(f.n_total AS BIGINT) AS n_rows_used,
      |  CAST(nv.naive_milli AS BIGINT) AS naive_gap_millicents,
      |  CAST(CASE WHEN f.wnum >= 0 THEN f.wnum // f.n_total
      |    ELSE -((-f.wnum) // f.n_total) END AS BIGINT) AS ate_millicents
      |FROM fold f CROSS JOIN naive nv""") { (s, d) =>
    val e = Tables.events(s, d).select(
      (col("user_id") % 5).as("x"),
      when(hour(col("ts")) >= 12, 1L).otherwise(0L).as("t"),
      (dec(col("value")) * 100).cast("long").as("r"))
    val cells = e.groupBy("x", "t").agg(count(lit(1)).as("n"), sum("r").as("sr"))
      .transform(Materialize.snapshot) // (stratum, arm) cells feed both folds
    val strata = cells.groupBy("x")
      .agg(sum(when(col("t") === 1, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("t") === 0, col("n")).otherwise(0L)).as("n0"),
        sum(when(col("t") === 1, col("sr")).otherwise(0L)).as("sr1"),
        sum(when(col("t") === 0, col("sr")).otherwise(0L)).as("sr0"))
    val used = strata.filter(col("n1") > 0 && col("n0") > 0)
      .select((col("n1") + col("n0")).as("n_x"),
        (expr("1000 * sr1 div n1") - expr("1000 * sr0 div n0")).as("gap_milli"))
    val fold = used.agg(count(lit(1)).as("n_used"), sum("n_x").as("n_total"),
      sum(col("n_x") * col("gap_milli")).as("wnum"))
    val naive = cells.agg(
      (expr("""1000 * sum(CASE WHEN t = 1 THEN sr ELSE 0 END)
          div sum(CASE WHEN t = 1 THEN n ELSE 0 END)""")
        - expr("""1000 * sum(CASE WHEN t = 0 THEN sr ELSE 0 END)
          div sum(CASE WHEN t = 0 THEN n ELSE 0 END)""")).as("naive_milli"),
      countDistinct("x").as("n_strata"))
    fold.crossJoin(broadcast(naive)) // two 1-row folds
      .select(col("n_strata"), col("n_used").as("n_strata_used"),
        col("n_total").as("n_rows_used"),
        col("naive_milli").as("naive_gap_millicents"),
        expr("""CAST(CASE WHEN wnum >= 0 THEN wnum div n_total
          ELSE -((-wnum) div n_total) END AS BIGINT)""").as("ate_millicents"))
  }

  /** q293 — randomized-response debiasing (Warner's local-DP
    * estimator): each user's sensitive bit is reported through the
    * classic 3/4-truth 1/4-flip channel (bit and coin both
    * md5-derived, so both engines replay the identical mechanism —
    * the fixture stand-in for a client-side privacy coin), and the
    * population rate is recovered as p̂ = (r̂ − ¼)/½ = 2r̂ − ½ —
    * exact in signed ppm (pure subtraction after one floor ratio).
    * Because the fixture knows the true bits, the true rate and the
    * estimator's error ship next to the estimate — the
    * calibration-style honesty check (estimate, truth, gap) the
    * privacy pillar's k-anon/l-div/t-close audits (q152/q238/q266)
    * don't cover: THIS one is about utility after noise.
    *
    * Scale: one per-user distinct (the only shuffle), then a 1-row
    * fold; the mechanism is a narrow md5 projection. */
  val q293RandomizedResponse: Q = Q(
    "q293_randomized_response",
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events
      |), bits AS (
      |  SELECT user_id,
      |    CAST(concat('0x', substr(md5('bit_' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS tb,
      |    CAST(concat('0x', substr(md5('rr_' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS coin
      |  FROM u
      |), rep AS (
      |  SELECT tb, CASE WHEN coin < 3 THEN tb ELSE 1 - tb END AS reported FROM bits
      |), agg AS (
      |  SELECT COUNT(*) AS n, SUM(reported) AS n_rep1, SUM(tb) AS n_true1 FROM rep
      |)
      |SELECT CAST(n AS BIGINT) AS n_users,
      |  CAST(n_rep1 AS BIGINT) AS n_reported_1,
      |  CAST(n_rep1 * 1000000 // n AS BIGINT) AS observed_ppm,
      |  CAST(2 * (n_rep1 * 1000000 // n) - 500000 AS BIGINT) AS debiased_ppm,
      |  CAST(n_true1 * 1000000 // n AS BIGINT) AS true_ppm,
      |  CAST(2 * (n_rep1 * 1000000 // n) - 500000
      |    - n_true1 * 1000000 // n AS BIGINT) AS err_ppm
      |FROM agg""") { (s, d) =>
    import graft.functions.TextFunctions.hex32
    val u = Tables.events(s, d).select("user_id").distinct()
    val bits = u.select(
      (hex32(concat(lit("bit_"), col("user_id").cast("string"))) % 2).as("tb"),
      (hex32(concat(lit("rr_"), col("user_id").cast("string"))) % 4).as("coin"))
    val rep = bits.select(col("tb"),
      when(col("coin") < 3, col("tb")).otherwise(lit(1L) - col("tb")).as("reported"))
    rep.agg(count(lit(1)).as("n"), sum("reported").as("n_rep1"), sum("tb").as("n_true1"))
      .select(col("n").as("n_users"), col("n_rep1").as("n_reported_1"),
        expr("n_rep1 * 1000000 div n").as("observed_ppm"),
        expr("2 * (n_rep1 * 1000000 div n) - 500000").as("debiased_ppm"),
        expr("n_true1 * 1000000 div n").as("true_ppm"),
        expr("""2 * (n_rep1 * 1000000 div n) - 500000
          - n_true1 * 1000000 div n""").as("err_ppm"))
  }

  /** q296 — k-fold cross-validation of the per-type mean predictor:
    * 5 deterministic md5 folds, each scored by the mean fitted on the
    * OTHER four — the iid model-selection leg beside q240's
    * time-ordered rolling backtest (which this must NOT replace for
    * temporal data; both ship so the contrast is visible). Exact
    * integer throughout: the train mean comes from complement sums
    * (S−s_k)/(N−n_k) in floor-milli, and the test SSE expands as
    * 10⁶·Σv² − 2·p·10³·Σv + n·p² from (n, Σv, Σv²) cells — no
    * per-row second pass; sums-of-squares lifted to DECIMAL(38,0)/
    * HUGEINT (10⁶·Σv² crosses 2⁶³ near 10⁴ rows at these cent
    * magnitudes).
    *
    * Scale: ONE corpus scan collapses to (type, fold) moment cells
    * map-side; everything after is 5·|types| cell algebra. */
  val q296KfoldCv: Q = Q(
    "q296_kfold_cv",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(concat('0x', substr(md5('cv_' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events
      |), cells AS (
      |  SELECT event_type, fold, COUNT(*) AS n, SUM(v) AS s,
      |    SUM(CAST(v AS HUGEINT) * v) AS sq
      |  FROM e GROUP BY event_type, fold
      |), tot AS (
      |  SELECT event_type, SUM(n) AS nt, SUM(s) AS st FROM cells GROUP BY event_type
      |), scored AS (
      |  SELECT c.event_type, c.fold, c.n,
      |    1000 * (t.st - c.s) // (t.nt - c.n) AS pred_milli,
      |    c.s, c.sq
      |  FROM cells c JOIN tot t USING (event_type)
      |  WHERE t.nt - c.n > 0
      |)
      |SELECT event_type, CAST(fold AS BIGINT) AS fold, CAST(n AS BIGINT) AS n_test,
      |  CAST(pred_milli AS BIGINT) AS pred_millicents,
      |  CAST((1000000 * sq - 2 * CAST(pred_milli AS HUGEINT) * 1000 * s
      |    + CAST(n AS HUGEINT) * pred_milli * pred_milli) // n AS BIGINT) AS mse_millicents2
      |FROM scored
      |ORDER BY event_type, fold""") { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      (conv(substring(md5(concat(lit("cv_"), col("event_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 5).as("fold"),
      (dec(col("value")) * 100).cast("long").as("v"))
    val cells = e.groupBy("event_type", "fold")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("sq"))
    val tot = cells.groupBy("event_type").agg(sum("n").as("nt"), sum("s").as("st"))
    cells.join(broadcast(tot), "event_type") // |types|-row totals
      .filter(col("nt") - col("n") > 0)
      .select(col("event_type"), col("fold"), col("n").as("n_test"),
        expr("1000 * (st - s) div (nt - n)").as("pred_millicents"),
        col("s"), col("sq"))
      .withColumn("mse_millicents2",
        expr("""CAST((1000000 * sq - 2 * CAST(pred_millicents AS DECIMAL(38,0)) * 1000 * s
          + CAST(n_test AS DECIMAL(38,0)) * pred_millicents * pred_millicents)
          div n_test AS BIGINT)"""))
      .drop("s", "sq")
      .orderBy("event_type", "fold")
  }

  /** q297 — quantile treatment effects (QTE at the 25th/50th/75th
    * percentiles): the DISTRIBUTIONAL complement to q177/q275's mean
    * effects — a treatment that helps the median user but hurts the
    * tail has a zero mean gap and three non-zero QTEs. Per-arm exact
    * order statistics (k = ⌈q·n/100⌉ via (q·n+99) div 100) read off
    * cumulative value-domain cells — no per-row sort at any corpus
    * size; the effect is an exact integer subtraction of two cent
    * values.
    *
    * Scale: (arm, value) cells map-side; per-arm CDF windows over
    * value-domain cells; the 3-row quantile spine broadcasts. */
  val q297QuantileTe: Q = Q(
    "q297_quantile_te",
    """WITH e AS (
      |  SELECT user_id % 2 AS arm,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events
      |), cells AS (
      |  SELECT arm, v, COUNT(*) AS c FROM e GROUP BY arm, v
      |), cum AS (
      |  SELECT arm, v,
      |    SUM(c) OVER (PARTITION BY arm ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
      |  FROM cells
      |), tot AS (
      |  SELECT arm, COUNT(*) AS n FROM e GROUP BY arm
      |), qs AS (
      |  SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS q_pct
      |), pick AS (
      |  SELECT q.q_pct, c.arm, MIN(c.v) AS p
      |  FROM qs q
      |  JOIN tot t ON TRUE
      |  JOIN cum c ON c.arm = t.arm AND c.cm >= (q.q_pct * t.n + 99) // 100
      |  GROUP BY q.q_pct, c.arm
      |)
      |SELECT p1.q_pct,
      |  CAST(t0.n AS BIGINT) AS n_ctrl, CAST(t1.n AS BIGINT) AS n_treat,
      |  CAST(p0.p AS BIGINT) AS p_ctrl_cents, CAST(p1.p AS BIGINT) AS p_treat_cents,
      |  CAST(p1.p - p0.p AS BIGINT) AS qte_cents
      |FROM pick p1 JOIN pick p0 ON p0.q_pct = p1.q_pct AND p0.arm = 0 AND p1.arm = 1
      |CROSS JOIN (SELECT n FROM tot WHERE arm = 0) t0
      |CROSS JOIN (SELECT n FROM tot WHERE arm = 1) t1
      |ORDER BY p1.q_pct""") { (s, d) =>
    val e = Tables.events(s, d).select((col("user_id") % 2).as("arm"),
      (dec(col("value")) * 100).cast("long").as("v"))
    val cells = e.groupBy("arm", "v").agg(count(lit(1)).as("c"))
    val wCdf = Window.partitionBy("arm").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.select(col("arm"), col("v"), sum("c").over(wCdf).as("cm"))
    val tot = e.groupBy("arm").agg(count(lit(1)).as("n"))
    val qs = s.createDataFrame(Seq(Tuple1(25L), Tuple1(50L), Tuple1(75L))).toDF("q_pct")
    val pick = cum.join(broadcast(tot), "arm") // 2-row totals
      .crossJoin(broadcast(qs)) // 3-row quantile spine
      .filter(col("cm") >= expr("(q_pct * n + 99) div 100"))
      .groupBy("q_pct", "arm").agg(min("v").as("p"))
    val p0 = pick.filter(col("arm") === 0).select(col("q_pct"), col("p").as("p_ctrl_cents"))
    val p1 = pick.filter(col("arm") === 1).select(col("q_pct"), col("p").as("p_treat_cents"))
    val t0 = tot.filter(col("arm") === 0).select(col("n").as("n_ctrl"))
    val t1 = tot.filter(col("arm") === 1).select(col("n").as("n_treat"))
    p1.join(p0, "q_pct")
      .crossJoin(broadcast(t0)).crossJoin(broadcast(t1)) // 1-row arm counts
      .select(col("q_pct"), col("n_ctrl"), col("n_treat"),
        col("p_ctrl_cents"), col("p_treat_cents"),
        (col("p_treat_cents") - col("p_ctrl_cents")).as("qte_cents"))
      .orderBy("q_pct")
  }

  /** q298 — EWMA one-step forecast eval: per type, predict each day's
    * revenue from the trailing 8 OBSERVED days with α=¼ exponential
    * weights, report MAE and signed bias — the cheap-baseline forecast
    * audit that tells a capacity planner whether yesterday-weighted
    * smoothing suffices before reaching for q192's seasonal
    * decomposition. Exact integer: truncated-EWMA weights ship as the
    * pinned integer table 3ᵏ⁻¹·4⁸⁻ᵏ (Σ = 4⁸−3⁸ = 58975), ŷ = Σwᵏ·
    * y_{t−k} div 58975 (non-negative), MAE floors once, bias is
    * sign-split (the q259 rule).
    *
    * Scale: the corpus collapses to (type, day) cells map-side; the 8
    * lags are one window pass per type over time-bounded cells. */
  val q298EwmaForecast: Q = Q(
    "q298_ewma_forecast",
    {
      val w = (1 to 8).map(k =>
        math.pow(3, k - 1).toLong * math.pow(4, 8 - k).toLong)
      val num = (1 to 8).map(k => s"${w(k - 1)} * l$k").mkString(" + ")
      val lags = (1 to 8).map(k =>
        s"LAG(x, $k) OVER (PARTITION BY event_type ORDER BY day) AS l$k").mkString(",\n      |    ")
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
         |  FROM events GROUP BY event_type, day
         |), lagged AS (
         |  SELECT event_type, day, x,
         |    $lags
         |  FROM daily
         |), scored AS (
         |  SELECT event_type, x, ($num) // 58975 AS yhat
         |  FROM lagged WHERE l8 IS NOT NULL
         |)
         |SELECT event_type, COUNT(*) AS n_scored,
         |  CAST(SUM(ABS(x - yhat)) // COUNT(*) AS BIGINT) AS mae_cents,
         |  CAST(CASE WHEN SUM(x - yhat) >= 0 THEN SUM(x - yhat) // COUNT(*)
         |    ELSE -((-SUM(x - yhat)) // COUNT(*)) END AS BIGINT) AS bias_cents
         |FROM scored GROUP BY event_type
         |ORDER BY event_type"""
    }) { (s, d) =>
    val wgt = (1 to 8).map(k => math.pow(3, k - 1).toLong * math.pow(4, 8 - k).toLong)
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = (1 to 8).foldLeft(daily) { (df, k) =>
      df.withColumn(s"l$k", lag("x", k).over(w))
    }
    val num = (1 to 8).map(k => s"${wgt(k - 1)} * l$k").mkString(" + ")
    lagged.filter(col("l8").isNotNull)
      .select(col("event_type"), col("x"), expr(s"($num) div 58975").as("yhat"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        expr("CAST(sum(abs(x - yhat)) div count(1) AS BIGINT)").as("mae_cents"),
        expr("""CAST(CASE WHEN sum(x - yhat) >= 0 THEN sum(x - yhat) div count(1)
          ELSE -((-sum(x - yhat)) div count(1)) END AS BIGINT)""").as("bias_cents"))
      .orderBy("event_type")
  }

  /** q299 — Cramér's V association between event type and weekday: is
    * WHAT users do correlated with WHEN — the normalized [0,1] effect
    * size on top of a χ² independence test, comparable across tables
    * of any shape (χ² alone grows with n, so big data makes everything
    * "significant"; V is the number you can threshold). χ² via the
    * identity n·(Σo²/(rᵢcⱼ) − 1) with per-cell floors in milli
    * (products lifted to DECIMAL(38,0)/HUGEINT), V = √(χ²/(n·min(r−1,
    * c−1))) via isqrt on an exact integer (arg ≤ 10⁶ — always exact;
    * the radicand is GREATEST-clamped at 0 because per-cell milli
    * floors can nudge chi2 a hair negative under near-perfect
    * independence, and a NaN→BIGINT cast diverges between engines —
    * the q307 ssb_n treatment).
    * Weekday is pinned to DuckDB's 0=Sunday convention on both
    * engines.
    *
    * Scale: the corpus collapses to ≤|types|·7 contingency cells
    * map-side; marginals and the fold are cell algebra. */
  val q299CramersV: Q = Q(
    "q299_cramers_v",
    """WITH e AS (
      |  SELECT event_type, dayofweek(ts) AS wd FROM events
      |), cells AS (
      |  SELECT event_type, wd, COUNT(*) AS o FROM e GROUP BY event_type, wd
      |), rows_ AS (
      |  SELECT event_type, SUM(o) AS r FROM cells GROUP BY event_type
      |), cols_ AS (
      |  SELECT wd, SUM(o) AS c FROM cells GROUP BY wd
      |), n_ AS (
      |  SELECT SUM(o) AS n, COUNT(DISTINCT event_type) AS nr,
      |    COUNT(DISTINCT wd) AS nc
      |  FROM cells
      |), chi AS (
      |  SELECT SUM(CAST(cl.o AS HUGEINT) * cl.o * 1000 * n_.n // (r.r * c.c)) - 1000 * n_.n AS chi2_milli,
      |    n_.n, n_.nr, n_.nc
      |  FROM cells cl
      |  JOIN rows_ r USING (event_type) JOIN cols_ c USING (wd)
      |  CROSS JOIN n_
      |  GROUP BY n_.n, n_.nr, n_.nc
      |)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
      |  CAST(chi2_milli AS BIGINT) AS chi2_milli,
      |  CAST(FLOOR(SQRT(CAST(GREATEST(chi2_milli, 0) * 1000000 // (1000 * n * LEAST(nr - 1, nc - 1))
      |    AS DOUBLE))) AS BIGINT) AS cramers_v_milli
      |FROM chi""") { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"), (dayofweek(col("ts")) - 1).cast("long").as("wd"))
    val cells = e.groupBy("event_type", "wd").agg(count(lit(1)).as("o"))
      .transform(Materialize.snapshot) // contingency cells feed marginals + the fold
    val rws = cells.groupBy("event_type").agg(sum("o").as("r"))
    val cls = cells.groupBy("wd").agg(sum("o").as("c"))
    val n = cells.agg(sum("o").as("n"), countDistinct("event_type").as("nr"),
      countDistinct("wd").as("nc"))
    cells.join(broadcast(rws), "event_type").join(broadcast(cls), "wd")
      .crossJoin(broadcast(n)) // 1-row totals
      .groupBy("n", "nr", "nc")
      .agg((sum(expr("CAST(o AS DECIMAL(38,0)) * o * 1000 * n div (r * c)"))
        - expr("1000 * n")).as("chi2_milli"))
      .select(col("n").cast("long").as("n"),
        expr("CAST((nr - 1) * (nc - 1) AS BIGINT)").as("dof"),
        col("chi2_milli").cast("long").as("chi2_milli"),
        expr("""CAST(FLOOR(SQRT(CAST(GREATEST(chi2_milli, 0) * 1000000 div (1000 * n * LEAST(nr - 1, nc - 1))
          AS DOUBLE))) AS BIGINT)""").as("cramers_v_milli"))
  }

  /** q300 — instrumental-variable (Wald) estimation under an
    * encouragement design: a randomized md5 instrument z "encourages"
    * uptake, actual treatment t follows a deterministic compliance
    * pattern (z=1 → 2/3 comply, z=0 → 1/5 crossover — pinned user-id
    * rules both engines replay), and the uptake EFFECT is identified
    * as ITT/first-stage — the Wald ratio, the identification strategy
    * for when the treatment itself can't be randomized but a nudge
    * can. Completes the causal family: RCT mean gap (q177), CUPED
    * (q275), DiD (q241), stratification (q291), logged-bandit IPS/DR
    * (q217/q228), permutation (q247), QTE (q297). Exact integer:
    * per-arm uptake in floor-ppm, per-arm mean outcome in floor-milli,
    * the Wald division sign-split with a NULLIF-style zero-first-stage
    * guard (weak-instrument explosions surface as NULL, not garbage).
    *
    * Scale: one per-user rollup (the only corpus shuffle) collapses to
    * 2 instrument-arm cells map-side. */
  val q300IvWald: Q = Q(
    "q300_iv_wald",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(concat('0x', substr(md5('iv_' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS z,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
      |  FROM events GROUP BY user_id
      |), t AS (
      |  SELECT z, y,
      |    CASE WHEN z = 1 THEN CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END
      |      ELSE CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END END AS t
      |  FROM u
      |), arms AS (
      |  SELECT z, COUNT(*) AS n, SUM(t) AS nt, SUM(y) AS sy FROM t GROUP BY z
      |), w AS (
      |  SELECT
      |    MAX(CASE WHEN z = 0 THEN n END) AS n0, MAX(CASE WHEN z = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN z = 0 THEN nt * 1000000 // n END) AS up0,
      |    MAX(CASE WHEN z = 1 THEN nt * 1000000 // n END) AS up1,
      |    MAX(CASE WHEN z = 0 THEN 1000 * sy // n END) AS y0,
      |    MAX(CASE WHEN z = 1 THEN 1000 * sy // n END) AS y1
      |  FROM arms
      |)
      |SELECT CAST(n0 AS BIGINT) AS n_z0, CAST(n1 AS BIGINT) AS n_z1,
      |  CAST(up0 AS BIGINT) AS uptake_z0_ppm, CAST(up1 AS BIGINT) AS uptake_z1_ppm,
      |  CAST(up1 - up0 AS BIGINT) AS first_stage_ppm,
      |  CAST(y1 - y0 AS BIGINT) AS itt_millicents,
      |  CAST(CASE WHEN up1 - up0 = 0 THEN NULL
      |    WHEN (y1 - y0) * (up1 - up0) >= 0 THEN ABS(y1 - y0) * 1000000 // ABS(up1 - up0)
      |    ELSE -(ABS(y1 - y0) * 1000000 // ABS(up1 - up0)) END AS BIGINT) AS wald_millicents
      |FROM w""") { (s, d) =>
    import graft.functions.TextFunctions.hex32
    val u = Tables.events(s, d).groupBy("user_id")
      .agg(sum((dec(col("value")) * 100).cast("long")).as("y"))
      .select(col("user_id"),
        (hex32(concat(lit("iv_"), col("user_id").cast("string"))) % 2).as("z"),
        col("y"))
    val t = u.select(col("z"), col("y"),
      when(col("z") === 1, when(col("user_id") % 3 =!= 0, 1L).otherwise(0L))
        .otherwise(when(col("user_id") % 5 === 0, 1L).otherwise(0L)).as("t"))
    val arms = t.groupBy("z")
      .agg(count(lit(1)).as("n"), sum("t").as("nt"), sum("y").as("sy"))
    arms.agg(
      max(when(col("z") === 0, col("n"))).as("n_z0"),
      max(when(col("z") === 1, col("n"))).as("n_z1"),
      max(when(col("z") === 0, expr("nt * 1000000 div n"))).as("uptake_z0_ppm"),
      max(when(col("z") === 1, expr("nt * 1000000 div n"))).as("uptake_z1_ppm"),
      max(when(col("z") === 0, expr("1000 * sy div n"))).as("y0"),
      max(when(col("z") === 1, expr("1000 * sy div n"))).as("y1"))
      .select(col("n_z0"), col("n_z1"), col("uptake_z0_ppm"), col("uptake_z1_ppm"),
        (col("uptake_z1_ppm") - col("uptake_z0_ppm")).as("first_stage_ppm"),
        (col("y1") - col("y0")).as("itt_millicents"),
        expr("""CAST(CASE WHEN uptake_z1_ppm - uptake_z0_ppm = 0 THEN NULL
          WHEN (y1 - y0) * (uptake_z1_ppm - uptake_z0_ppm) >= 0
            THEN ABS(y1 - y0) * 1000000 div ABS(uptake_z1_ppm - uptake_z0_ppm)
          ELSE -(ABS(y1 - y0) * 1000000 div ABS(uptake_z1_ppm - uptake_z0_ppm))
          END AS BIGINT)""").as("wald_millicents"))
  }

  /** q301 — autocorrelation function of daily revenue, lags 1–7 per
    * event type: WHICH lags carry signal — the structure diagnostic
    * that justifies q298's trailing-window choice and flags the weekly
    * cycle q192 decomposes. Exact integer via q294's ×n centering
    * trick (Xₜ = n·xₜ − Σx — no fractional mean ever materializes):
    * acf_k = ΣXₜX₍ₜ₋ₖ₎/ΣX² in sign-split milli, products lifted to
    * DECIMAL(38,0)/HUGEINT (X² carries n² ≈ 10¹² extra at sf1).
    * Standard short-series caveat: numerator sums over n−k terms
    * against the full-series denominator (the textbook biased
    * estimator — both engines, identically).
    *
    * Scale: the corpus collapses to (type, day) cells map-side; the 7
    * lags are one window pass per type; moments are |types|-row
    * folds. */
  val q301Acf: Q = Q(
    "q301_acf",
    {
      val lagCols = (1 to 7).map(k =>
        s"LAG(xc, $k) OVER (PARTITION BY event_type ORDER BY day) AS l$k").mkString(",\n      |    ")
      val lagRows = (1 to 7).map(k =>
        s"SELECT event_type, $k AS lag, xc * l$k AS prod FROM lagged WHERE l$k IS NOT NULL")
        .mkString("\n      |  UNION ALL ")
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
         |  FROM events GROUP BY event_type, day
         |), tot AS (
         |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx FROM daily GROUP BY event_type
         |), centered AS (
         |  SELECT d.event_type, d.day, CAST(t.n AS HUGEINT) * d.x - t.sx AS xc
         |  FROM daily d JOIN tot t USING (event_type)
         |), lagged AS (
         |  SELECT event_type, day, xc,
         |    $lagCols
         |  FROM centered
         |), nums AS (
         |  SELECT event_type, lag, SUM(prod) AS num
         |  FROM ($lagRows)
         |  GROUP BY event_type, lag
         |), den AS (
         |  SELECT event_type, SUM(xc * xc) AS ss FROM centered GROUP BY event_type
         |)
         |SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag,
         |  CAST(t.n AS BIGINT) AS n_days,
         |  CAST(CASE WHEN n.num >= 0 THEN n.num * 1000 // d.ss
         |    ELSE -((-n.num) * 1000 // d.ss) END AS BIGINT) AS acf_milli
         |FROM nums n JOIN den d USING (event_type) JOIN tot t USING (event_type)
         |ORDER BY n.event_type, n.lag"""
    }) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("x"))
    val tot = daily.groupBy("event_type").agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val centered = daily.join(broadcast(tot), "event_type") // |types|-row totals
      .select(col("event_type"), col("day"),
        expr("CAST(n AS DECIMAL(38,0)) * x - sx").as("xc"))
      .transform(Materialize.snapshot) // centered cells feed the lag pass and the denominator
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = (1 to 7).foldLeft(centered) { (df, k) =>
      df.withColumn(s"l$k", lag("xc", k).over(w))
    }
    val nums = lagged.select(col("event_type"), explode(array((1 to 7).map(k =>
        struct(lit(k.toLong).as("lag"), (col("xc") * col(s"l$k")).as("prod"))): _*)).as("t"))
      .select(col("event_type"), col("t.lag").as("lag"), col("t.prod").as("prod"))
      .filter(col("prod").isNotNull)
      .groupBy("event_type", "lag").agg(sum("prod").as("num"))
    val den = centered.groupBy("event_type")
      .agg(sum(col("xc") * col("xc")).as("ss"))
    nums.join(broadcast(den), "event_type").join(broadcast(tot.select(col("event_type"), col("n"))), "event_type")
      .select(col("event_type"), col("lag"), col("n").as("n_days"),
        expr("""CAST(CASE WHEN num >= 0 THEN num * 1000 div ss
          ELSE -((-num) * 1000 div ss) END AS BIGINT)""").as("acf_milli"))
      .orderBy("event_type", "lag")
  }

  /** q305 — Cochran-Mantel-Haenszel test: arm × "high-value buyer"
    * (mean purchase ≥ the $48 fixture mean — a bit that splits
    * ~50/50 at ANY corpus size, where any-purchase or max-based bits
    * saturate with event count and zero the variance) stratified by
    * user cohort — "does treatment move the
    * conversion BIT after controlling for the stratifying confounder",
    * the binary-outcome sibling of q291's continuous stratified ATE
    * and q280's time-to-event log-rank (all three share the
    * hypergeometric O−E/variance core; which one you need depends on
    * the outcome type). Per stratum: O = treated conversions, E =
    * n₁ₓm₁ₓ/nₓ in floor-micro, Var = n₁ₓn₀ₓm₁ₓm₀ₓ/(nₓ²(nₓ−1)) in
    * floor-micro with DECIMAL(38,0)/HUGEINT lifts; χ² (no continuity
    * correction — both engines identically) against the pinned 3.841.
    *
    * Scale: one per-user rollup collapses to (stratum, arm) conversion
    * cells map-side; the fold is a 1-row aggregate. */
  val q305CmhTest: Q = Q(
    "q305_cmh_test",
    """WITH u AS (
      |  SELECT user_id % 5 AS x, user_id % 2 AS arm,
      |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
      |      AND SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END)
      |      >= 4800 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY user_id
      |), cells AS (
      |  SELECT x,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
      |    SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS o1,
      |    SUM(conv) AS m1,
      |    COUNT(*) AS nn
      |  FROM u GROUP BY x
      |), agg AS (
      |  SELECT SUM(o1) AS o,
      |    SUM(CAST(n1 AS HUGEINT) * m1 * 1000000 // nn) AS e_micro,
      |    SUM(CASE WHEN nn > 1 THEN
      |      CAST(n1 AS HUGEINT) * n0 * m1 * (nn - m1) * 1000000
      |        // (CAST(nn AS HUGEINT) * nn * (nn - 1))
      |      ELSE 0 END) AS v_micro,
      |    COUNT(*) AS n_strata
      |  FROM cells
      |)
      |SELECT CAST(n_strata AS BIGINT) AS n_strata,
      |  CAST(o AS BIGINT) AS observed,
      |  CAST(e_micro AS BIGINT) AS expected_micro,
      |  CAST(v_micro AS BIGINT) AS var_micro,
      |  CAST(CASE WHEN v_micro > 0 THEN
      |    CAST(o * 1000000 - e_micro AS HUGEINT) * (o * 1000000 - e_micro) * 1000
      |      // (CAST(v_micro AS HUGEINT) * 1000000)
      |    ELSE NULL END AS BIGINT) AS chi2_milli,
      |  CASE WHEN v_micro > 0 THEN
      |    CAST(o * 1000000 - e_micro AS HUGEINT) * (o * 1000000 - e_micro) * 1000
      |      // (CAST(v_micro AS HUGEINT) * 1000000) > 3841
      |    ELSE NULL END AS reject_05
      |FROM agg""") { (s, d) =>
    val u = Tables.events(s, d).groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long")).otherwise(0L)).as("sp"))
      .select((col("user_id") % 5).as("x"), (col("user_id") % 2).as("arm"),
        when(col("np") > 0 && col("sp") >= lit(4800L) * col("np"), 1L)
          .otherwise(0L).as("conv"))
    val cells = u.groupBy("x")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("o1"),
        sum("conv").as("m1"), count(lit(1)).as("nn"))
    cells.agg(sum("o1").as("o"),
      sum(expr("CAST(n1 AS DECIMAL(38,0)) * m1 * 1000000 div nn")).as("e_micro"),
      sum(expr("""CASE WHEN nn > 1 THEN
        CAST(n1 AS DECIMAL(38,0)) * n0 * m1 * (nn - m1) * 1000000
          div (CAST(nn AS DECIMAL(38,0)) * nn * (nn - 1))
        ELSE 0 END""")).as("v_micro"),
      count(lit(1)).as("n_strata"))
      .select(col("n_strata"), col("o").as("observed"),
        col("e_micro").cast("long").as("expected_micro"),
        col("v_micro").cast("long").as("var_micro"),
        expr("""CAST(CASE WHEN v_micro > 0 THEN
          CAST(o * 1000000 - e_micro AS DECIMAL(38,0)) * (o * 1000000 - e_micro) * 1000
            div (CAST(v_micro AS DECIMAL(38,0)) * 1000000)
          ELSE NULL END AS BIGINT)""").as("chi2_milli"))
      .withColumn("reject_05",
        when(col("chi2_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_milli") > 3841))
  }

  /** q306 — Friedman test over day-blocks: within each day, rank the
    * five event types by daily revenue (midranks ×2 for ties), then
    * test whether the type rank PROFILES differ — the repeated-
    * measures companion to q290's Kruskal-Wallis (KW pools all days;
    * Friedman blocks by day, removing day-level level shifts the way
    * q275 removes user-level variance). Conover's tie-exact form:
    * χ²_F = (k−1)·Σ_j(R_j − n(k+1)/2)²/(Σr²ᵢⱼ − nk(k+1)²/4), which
    * with midranks ×2 becomes the ALL-INTEGER (k−1)·Σ(R2_j −
    * n(k+1))²/(Σr2²ᵢⱼ − nk(k+1)²) — no rank mean or quarter ever
    * materializes (hand-checked against the classic 2-block example:
    * χ² = 4). Decision against the pinned χ²₄ 9.488; all-tied blocks
    * degenerate to NULL. Only complete blocks (all k types present
    * that day) enter — partial days would bias every rank.
    *
    * Scale: (day, type) cells map-side; ranks are per-day windows
    * over ≤k rows; the fold is |types| rank sums + one tie sum. */
  val q306Friedman: Q = Q(
    "q306_friedman",
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
      |  FROM events GROUP BY day, event_type
      |), k AS (
      |  SELECT COUNT(DISTINCT event_type) AS k FROM daily
      |), full_ AS (
      |  SELECT day FROM daily CROSS JOIN k GROUP BY day, k.k
      |  HAVING COUNT(*) = MAX(k.k)
      |), ranked AS (
      |  SELECT d.day, d.event_type,
      |    2 * (COUNT(*) FILTER (WHERE d2.x < d.x)) + (COUNT(*) FILTER (WHERE d2.x = d.x)) + 1 AS r2
      |  FROM daily d
      |  JOIN full_ f ON f.day = d.day
      |  JOIN daily d2 ON d2.day = d.day
      |  GROUP BY d.day, d.event_type, d.x
      |), rsums AS (
      |  SELECT event_type, SUM(r2) AS r2sum FROM ranked GROUP BY event_type
      |), nb AS (
      |  SELECT COUNT(*) AS n FROM full_
      |), sq AS (
      |  SELECT SUM(CAST(r2 AS HUGEINT) * r2) AS sum_r2sq FROM ranked
      |), stat AS (
      |  SELECT nb.n, k.k,
      |    (k.k - 1) * SUM(CAST(r.r2sum - nb.n * (k.k + 1) AS HUGEINT)
      |      * (r.r2sum - nb.n * (k.k + 1))) AS num,
      |    MAX(sq.sum_r2sq - CAST(nb.n AS HUGEINT) * k.k * (k.k + 1) * (k.k + 1)) AS den
      |  FROM rsums r CROSS JOIN nb CROSS JOIN k CROSS JOIN sq
      |  GROUP BY nb.n, k.k
      |)
      |SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_groups,
      |  CAST(CASE WHEN den > 0 THEN num * 1000 // den ELSE NULL END AS BIGINT) AS chi2_milli,
      |  CASE WHEN den > 0 THEN num * 1000 // den > 9488 ELSE NULL END AS reject_05
      |FROM stat""") { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .agg(sum((dec(col("value")) * 100).cast("long")).as("x"))
      .transform(Materialize.snapshot) // (day, type) cells feed ranks, blocks, and ties
    val k = daily.agg(countDistinct("event_type").as("k"))
    val fullDays = daily.crossJoin(broadcast(k)) // 1-row k
      .groupBy("day", "k").agg(count(lit(1)).as("c"))
      .filter(col("c") === col("k")).select("day")
      .transform(Materialize.snapshot) // complete blocks feed the rank join and ties
    val inBlocks = daily.join(fullDays, "day")
    val ranked = inBlocks.as("d")
      .join(inBlocks.select(col("day").as("day2"), col("x").as("x2")),
        col("day") === col("day2"))
      .groupBy(col("day"), col("event_type"), col("x"))
      .agg((lit(2) * sum(when(col("x2") < col("x"), 1L).otherwise(0L))
        + sum(when(col("x2") === col("x"), 1L).otherwise(0L)) + 1).as("r2"))
    val ranked2 = ranked.transform(Materialize.snapshot) // rank cells feed sums + squares
    val rsums = ranked2.groupBy("event_type").agg(sum("r2").as("r2sum"))
    val nb = fullDays.agg(count(lit(1)).as("n"))
    val sq = ranked2.agg(sum(expr("CAST(r2 AS DECIMAL(38,0)) * r2")).as("sum_r2sq"))
    rsums.crossJoin(broadcast(nb)).crossJoin(broadcast(k)).crossJoin(broadcast(sq))
      .groupBy("n", "k")
      .agg(((col("k") - 1) * sum(expr(
        """CAST(r2sum - n * (k + 1) AS DECIMAL(38,0))
          * (r2sum - n * (k + 1))"""))).as("num"),
        max(expr("sum_r2sq - CAST(n AS DECIMAL(38,0)) * k * (k + 1) * (k + 1)")).as("den"))
      .select(col("n").as("n_blocks"), col("k").cast("long").as("k_groups"),
        expr("""CAST(CASE WHEN den > 0 THEN num * 1000 div den
          ELSE NULL END AS BIGINT)""").as("chi2_milli"))
      .withColumn("reject_05",
        when(col("chi2_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_milli") > 9488))
  }

  /** q307 — one-way ANOVA F statistic + η² effect size across event
    * types: the parametric leg beside q290's rank-based omnibus — F
    * answers "is any group mean different", η² = SSB/SST answers "how
    * much of the variance does the grouping explain" (the number that
    * stays comparable as n grows). Exact integer via the moment
    * identities n·SSB = n·Σsₓ²/nₓ − S² and n·SST = n·Σv² − S², with
    * the ONE per-group floor pushed inside (A = Σ⌊sₓ²/nₓ⌋ — each
    * quotient is ~group-sum²/count, bounded in BIGINT at any SF where
    * the group sum itself fits); everything else multiplies in
    * DECIMAL(38,0)/HUGEINT and divides once. Floor slack can nudge
    * n·SSB a hair negative when SSB≈0 — clamped to 0 on both engines.
    * No pinned decision — F's critical value depends on both dfs, so
    * the statistic and dfs ship and the caller brings the table.
    *
    * Scale: one scan collapses to |types| moment cells; everything
    * after is cell algebra. */
  val q307AnovaEta: Q = Q(
    "q307_anova_eta",
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events
      |), g AS (
      |  SELECT event_type, COUNT(*) AS ng, SUM(v) AS sg,
      |    SUM(CAST(v AS HUGEINT) * v) AS qg
      |  FROM e GROUP BY event_type
      |), tot AS (
      |  SELECT SUM(ng) AS n, SUM(sg) AS s, SUM(qg) AS q, COUNT(*) AS k,
      |    SUM(CAST(sg AS HUGEINT) * sg // ng) AS a
      |  FROM g
      |), parts AS (
      |  SELECT n, k,
      |    GREATEST(CAST(n AS HUGEINT) * a - CAST(s AS HUGEINT) * s, 0) AS ssb_n,
      |    CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s AS sst_n,
      |    CAST(n AS HUGEINT) * q - CAST(n AS HUGEINT) * a AS ssw_n
      |  FROM tot
      |)
      |SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS k_groups,
      |  CAST(k - 1 AS BIGINT) AS df_between, CAST(n - k AS BIGINT) AS df_within,
      |  CAST(CASE WHEN sst_n > 0 THEN ssb_n * 1000000 // sst_n ELSE NULL END
      |    AS BIGINT) AS eta2_ppm,
      |  CAST(CASE WHEN ssw_n > 0 THEN
      |    ssb_n * (n - k) * 1000 // (ssw_n * (k - 1))
      |    ELSE NULL END AS BIGINT) AS f_milli
      |FROM parts""") { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"),
      (dec(col("value")) * 100).cast("long").as("v"))
    val g = e.groupBy("event_type")
      .agg(count(lit(1)).as("ng"), sum("v").as("sg"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("qg"))
    g.agg(sum("ng").as("n"), sum("sg").as("s"), sum("qg").as("q"),
      count(lit(1)).as("k"),
      sum(expr("CAST(sg AS DECIMAL(38,0)) * sg div ng")).as("a"))
      .select(col("n"), col("k"), col("s"), col("q"), col("a"),
        expr("""GREATEST(CAST(n AS DECIMAL(38,0)) * a - CAST(s AS DECIMAL(38,0)) * s,
          CAST(0 AS DECIMAL(38,0)))""").as("ssb_n"),
        expr("CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s").as("sst_n"),
        expr("CAST(n AS DECIMAL(38,0)) * q - CAST(n AS DECIMAL(38,0)) * a").as("ssw_n"))
      .select(col("n").as("n_rows"), col("k").as("k_groups"),
        (col("k") - 1).as("df_between"), (col("n") - col("k")).as("df_within"),
        expr("""CAST(CASE WHEN sst_n > 0 THEN ssb_n * 1000000 div sst_n
          ELSE NULL END AS BIGINT)""").as("eta2_ppm"),
        expr("""CAST(CASE WHEN ssw_n > 0 THEN
          ssb_n * (n - k) * 1000 div (ssw_n * (k - 1))
          ELSE NULL END AS BIGINT)""").as("f_milli"))
  }

  /** q308 — TOST equivalence test (two one-sided tests) on the q177
    * arms: is the B arm's per-user purchase revenue EQUIVALENT to A's
    * within a ±5%-of-pooled-mean margin — the eval-parity primitive
    * q177 cannot express (failing to reject H0:"different" is NOT
    * evidence of sameness; TOST's reversed hypotheses are). Declare
    * equivalence iff BOTH z_low = (d̄+δ)/SE and z_high = (δ−d̄)/SE
    * exceed the one-sided 5% critical value 1.645. Exact integer: arm
    * moments as in q177, Welch SE² = v₀/n₀ + v₁/n₁ in integer cents²,
    * SE via isqrt on SE²·10⁴ (radicand ≪ 2⁵³ — the q270 rule), means
    * and margin in milli-cents, z in milli via sign-split floor
    * division (Spark `div` truncates toward zero, DuckDB `//` floors —
    * identical only after the CASE split both engines spell).
    *
    * Scale: one user-keyed partial-sum pass (map-side combine) to two
    * arm cells, then 1-row arithmetic — q177's exact shape. */
  val q308TostEquivalence: Q = Q(
    "q308_tost_equivalence",
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events
      |), p AS (
      |  SELECT user_id, SUM(CAST(FLOOR(value*100) AS BIGINT)) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), m AS (
      |  SELECT u.user_id % 2 AS arm, COALESCE(p.cents, 0) AS x
      |  FROM u LEFT JOIN p USING (user_id)
      |), a AS (
      |  SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx
      |  FROM m GROUP BY arm
      |), v AS (
      |  SELECT arm, n, sx, (n*sxx - sx*sx)//(n*(n-1)) AS var_cents2 FROM a
      |), t AS (
      |  SELECT c.n AS n0, x.n AS n1,
      |    CAST(FLOOR(c.sx*1000/c.n) AS BIGINT) - CAST(FLOOR(x.sx*1000/x.n) AS BIGINT) AS diff_milli,
      |    CAST(FLOOR((c.sx + x.sx)*50/(c.n + x.n)) AS BIGINT) AS delta_milli,
      |    CAST(FLOOR(SQRT(CAST((c.var_cents2//c.n + x.var_cents2//x.n)*10000 AS DOUBLE))) AS BIGINT) AS se_centi
      |  FROM v c, v x WHERE c.arm = 0 AND x.arm = 1
      |), z AS (
      |  SELECT n0, n1, diff_milli, delta_milli, se_centi,
      |    CASE WHEN se_centi > 0 THEN
      |      CASE WHEN diff_milli + delta_milli >= 0
      |        THEN (diff_milli + delta_milli) * 100 // se_centi
      |        ELSE -((-(diff_milli + delta_milli)) * 100 // se_centi) END
      |      ELSE NULL END AS zlow_milli,
      |    CASE WHEN se_centi > 0 THEN
      |      CASE WHEN delta_milli - diff_milli >= 0
      |        THEN (delta_milli - diff_milli) * 100 // se_centi
      |        ELSE -((-(delta_milli - diff_milli)) * 100 // se_centi) END
      |      ELSE NULL END AS zhigh_milli
      |  FROM t
      |)
      |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
      |  diff_milli, delta_milli, se_centi,
      |  CAST(zlow_milli AS BIGINT) AS zlow_milli,
      |  CAST(zhigh_milli AS BIGINT) AS zhigh_milli,
      |  zlow_milli > 1645 AND zhigh_milli > 1645 AS equivalent
      |FROM z""") { (s, d) =>
    val u = Tables.events(s, d).select("user_id").distinct()
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val v = u.join(p, Seq("user_id"), "left")
      .select(pmod(col("user_id"), lit(2)).as("arm"),
        coalesce(col("cents"), lit(0L)).as("x"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("arm"), col("n"), col("sx"),
        // DECIMAL(38,0) lift: DuckDB's SUM(BIGINT) is HUGEINT so its
        // n*sxx - sx*sx is 128-bit; Spark's LongType product would wrap
        // silently past 2^63 (the zipf tree's super-hot user pushes
        // n*sxx to ~5e20). div on decimals returns LongType — the
        // quotient (per-user variance in cents²) fits.
        expr("""(cast(n as decimal(38,0))*sxx - cast(sx as decimal(38,0))*sx)
          div (n*(n-1))""").as("var_cents2"))
      .transform(Materialize.snapshot) // 2 cells feed both scalar legs
    val c = v.filter(col("arm") === 0)
      .select(col("n").as("n0"), col("sx").as("sx0"), col("var_cents2").as("v0"))
    val x = v.filter(col("arm") === 1)
      .select(col("n").as("n1"), col("sx").as("sx1"), col("var_cents2").as("v1"))
    c.crossJoin(x)
      .select(col("n0"), col("n1"),
        (floor(col("sx0") * 1000 / col("n0")).cast("long")
          - floor(col("sx1") * 1000 / col("n1")).cast("long")).as("diff_milli"),
        floor((col("sx0") + col("sx1")) * 50 / (col("n0") + col("n1")))
          .cast("long").as("delta_milli"),
        expr("""CAST(FLOOR(SQRT(CAST((v0 div n0 + v1 div n1)*10000 AS DOUBLE))) AS BIGINT)""")
          .as("se_centi"))
      .select(col("n0"), col("n1"), col("diff_milli"), col("delta_milli"), col("se_centi"),
        expr("""CAST(CASE WHEN se_centi > 0 THEN
          CASE WHEN diff_milli + delta_milli >= 0
            THEN (diff_milli + delta_milli) * 100 div se_centi
            ELSE -((-(diff_milli + delta_milli)) * 100 div se_centi) END
          ELSE NULL END AS BIGINT)""").as("zlow_milli"),
        expr("""CAST(CASE WHEN se_centi > 0 THEN
          CASE WHEN delta_milli - diff_milli >= 0
            THEN (delta_milli - diff_milli) * 100 div se_centi
            ELSE -((-(delta_milli - diff_milli)) * 100 div se_centi) END
          ELSE NULL END AS BIGINT)""").as("zhigh_milli"))
      .withColumn("equivalent", col("zlow_milli") > 1645 && col("zhigh_milli") > 1645)
  }

  /** q309 — Cochran-Armitage trend test: does the ABOVE-POOLED-MEAN
    * spender rate move monotonically across the four ordered user
    * cohorts (user_id mod 4 — the deterministic stand-in for an
    * ordered exposure level; the mean-threshold outcome guarantees
    * both classes exist at every SF, where raw has-purchase saturates)? The
    * categorical family's missing member: q299 tests ASSOCIATION
    * (any deviation), q304/q305 matched/stratified designs — CA tests
    * specifically for a linear-in-score trend, the dose-response
    * readout. Exact integer: with weights wᵢ = dose, T·N =
    * Σwᵢ(xᵢN − nᵢX) and Var(T)·N³ = X(N−X)(NΣwᵢ²nᵢ − (Σwᵢnᵢ)²) are
    * both integers, so z² = (T·N)²·N / (Var·N³) is one exact division
    * — products lift to DECIMAL(38,0)/HUGEINT (TN²·N ~ 10²² at sf1).
    *
    * Scale: user-cell collapse to 4 dose cells map-side; the trend
    * scalar is 1-row and broadcasts back onto the 4-row report. */
  val q309CochranArmitage: Q = Q(
    "q309_cochran_armitage",
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events
      |), p AS (
      |  SELECT user_id, SUM(CAST(FLOOR(value*100) AS BIGINT)) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), ux AS (
      |  SELECT u.user_id, COALESCE(p.cents, 0) AS x
      |  FROM u LEFT JOIN p USING (user_id)
      |), tot AS (
      |  SELECT COUNT(*) AS cnt, SUM(x) AS sm FROM ux
      |), m AS (
      |  SELECT ux.user_id % 4 AS dose,
      |    CASE WHEN ux.x * tot.cnt > tot.sm THEN 1 ELSE 0 END AS y
      |  FROM ux CROSS JOIN tot
      |), g AS (
      |  SELECT dose, COUNT(*) AS n, SUM(y) AS x FROM m GROUP BY dose
      |), s AS (
      |  SELECT SUM(n) AS nn, SUM(x) AS xx, SUM(dose*n) AS swn,
      |    SUM(dose*dose*n) AS sw2n, SUM(dose*x) AS swx
      |  FROM g
      |), t AS (
      |  SELECT swx*nn - swn*xx AS tn,
      |    xx*(nn-xx)*(nn*sw2n - swn*swn) AS vn3, nn
      |  FROM s
      |)
      |SELECT g.dose AS dose, CAST(g.n AS BIGINT) AS n_users,
      |  CAST(g.x AS BIGINT) AS n_converted,
      |  CAST(g.x*1000000 // g.n AS BIGINT) AS rate_ppm,
      |  CAST(CASE WHEN t.vn3 > 0
      |    THEN CAST(t.tn AS HUGEINT)*t.tn*t.nn*1000 // t.vn3
      |    ELSE 0 END AS BIGINT) AS z2_milli,
      |  CASE WHEN t.vn3 > 0
      |    THEN CAST(t.tn AS HUGEINT)*t.tn*t.nn*1000 // t.vn3 > 3841
      |    ELSE FALSE END AS significant
      |FROM g CROSS JOIN t ORDER BY dose""") { (s, d) =>
    val u = Tables.events(s, d).select("user_id").distinct()
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val ux = u.join(p, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("cents"), lit(0L)).as("x"))
      .transform(Materialize.snapshot) // user cells feed the 1-row total AND the cohorts
    val tot = ux.agg(count(lit(1)).as("cnt"), sum("x").as("sm"))
    val g = ux.crossJoin(broadcast(tot))
      .select(pmod(col("user_id"), lit(4)).as("dose"),
        when(col("x") * col("cnt") > col("sm"), 1L).otherwise(0L).as("y"))
      .groupBy("dose")
      .agg(count(lit(1)).as("n"), sum("y").as("x"))
      .transform(Materialize.snapshot) // 4 cells feed the scalar and the report
    val t = g.agg(sum("n").as("nn"), sum("x").as("xx"),
        sum(col("dose") * col("n")).as("swn"),
        sum(col("dose") * col("dose") * col("n")).as("sw2n"),
        sum(col("dose") * col("x")).as("swx"))
      .select(
        (col("swx") * col("nn") - col("swn") * col("xx")).as("tn"),
        // DECIMAL(38,0) lift (same hazard class as q308's variance
        // numerator): vn3 is ~O(nn⁴) — LongType wraps silently past
        // ~75k distinct users while DuckDB computes it in HUGEINT.
        (col("xx").cast("decimal(38,0)") * (col("nn") - col("xx"))
          * (col("nn").cast("decimal(38,0)") * col("sw2n")
            - col("swn").cast("decimal(38,0)") * col("swn"))).as("vn3"),
        col("nn"))
    g.crossJoin(broadcast(t))
      .select(col("dose"), col("n").as("n_users"), col("x").as("n_converted"),
        expr("CAST(x*1000000 div n AS BIGINT)").as("rate_ppm"),
        expr("""CAST(CASE WHEN vn3 > 0
          THEN CAST(tn AS DECIMAL(38,0))*tn*nn*1000 div vn3
          ELSE 0 END AS BIGINT)""").as("z2_milli"),
        expr("""CASE WHEN vn3 > 0
          THEN CAST(tn AS DECIMAL(38,0))*tn*nn*1000 div vn3 > 3841
          ELSE FALSE END""").as("significant"))
      .orderBy("dose")
  }

  /** q310 — sequential-pattern support (PrefixSpan's 2-step patterns,
    * exact): for EVERY ordered event-type pair (A, B) — including
    * A = B, the re-engagement case — the number of sessions (q37's
    * 30-min-gap grain) in which some A occurs strictly before some B,
    * with support vs all sessions, confidence vs sessions containing
    * A, and lift vs independence. The sequence-mining readout the
    * existing family can't express: q164 counts ADJACENT transitions
    * (contiguous bigrams, occurrence-weighted), q38 walks ONE fixed
    * funnel — this is existence-of-order for all pairs with
    * distinct-session support, the association-rule semantics
    * (Agrawal-Srikant) at the session grain. "A before B" is decided
    * on second-granularity timestamps: min_sec(A) < max_sec(B) —
    * exists an A occurrence strictly before a B occurrence; same-second
    * co-occurrence does NOT count, keeping both engines exact without
    * tie-break packing.
    *
    * Scale: events collapse map-side to (session, type) cells carrying
    * only first/last seconds (≤ |types| rows per session — the same
    * cell-collapse that makes q03-style skew structurally impossible:
    * the 201k-event hot user becomes ≤ 5 rows per session). The cells
    * checkpoint behind an explicit-N repartition on the session key
    * (the q224 lesson: the self-join below then reuses that ONE
    * exchange and AQE can't coalesce it under the expanding join), the
    * pair join is bounded at |types|² rows per session, and the
    * |types|²-cell report joins the broadcast 1-row session count and
    * |types|-row per-type counts. Lift products go DECIMAL(38,0) /
    * HUGEINT (n_ab·n_total·10⁶ passes 2^63 near ~10⁹ sessions). */
  val q310SequenceSupport: Q = Q(
    "q310_sequence_support",
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(ts)//1000000 AS sec, ts
      |  FROM events
      |), lagged AS (
      |  SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM ev
      |), marked AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM lagged
      |), sess AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM marked
      |), cells AS (
      |  SELECT user_id, session_idx, event_type,
      |    MIN(sec) AS first_sec, MAX(sec) AS last_sec
      |  FROM sess GROUP BY user_id, session_idx, event_type
      |), tot AS (
      |  SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, session_idx FROM cells)
      |), wtype AS (
      |  SELECT event_type, COUNT(*) AS n_s FROM cells GROUP BY event_type
      |), pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
      |  FROM cells a JOIN cells b
      |    ON a.user_id = b.user_id AND a.session_idx = b.session_idx
      |   AND a.first_sec < b.last_sec
      |  GROUP BY 1, 2
      |)
      |SELECT p.type_a, p.type_b, CAST(p.n_ab AS BIGINT) AS n_sessions,
      |  CAST(p.n_ab * 1000000 // t.n AS BIGINT) AS support_ppm,
      |  CAST(p.n_ab * 1000000 // wa.n_s AS BIGINT) AS confidence_ppm,
      |  CAST(CAST(p.n_ab AS HUGEINT) * t.n * 1000000
      |    // (CAST(wa.n_s AS HUGEINT) * wb.n_s) AS BIGINT) AS lift_ppm
      |FROM pairs p
      |JOIN wtype wa ON wa.event_type = p.type_a
      |JOIN wtype wb ON wb.event_type = p.type_b
      |CROSS JOIN tot t
      |ORDER BY type_a, type_b""") { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nShuf = Q.shufflePartitions(s)
    val cells = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev_sec", lag("sec", 1).over(w))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1).otherwise(0))
      .withColumn("session_idx", sum("is_new").over(wRun).cast("long"))
      .groupBy("user_id", "session_idx", "event_type")
      .agg(min("sec").as("first_sec"), max("sec").as("last_sec"))
      .repartition(nShuf, col("user_id"), col("session_idx"))
      .transform(Materialize.snapshot) // cells feed the self-join (exchange-free on
                         // this pinned partitioning), totals, and wtype
    val tot = cells.select("user_id", "session_idx").distinct()
      .agg(count(lit(1)).as("n"))
    val wtype = cells.groupBy("event_type").agg(count(lit(1)).as("n_s"))
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.session_idx") === col("b.session_idx")
          && col("a.first_sec") < col("b.last_sec"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(wtype.select(col("event_type").as("type_a"), col("n_s").as("na"))), "type_a")
      .join(broadcast(wtype.select(col("event_type").as("type_b"), col("n_s").as("nb"))), "type_b")
      .crossJoin(broadcast(tot)) // 1-row session count
      .select(col("type_a"), col("type_b"), col("n_ab").as("n_sessions"),
        expr("CAST(n_ab * 1000000 div n AS BIGINT)").as("support_ppm"),
        expr("CAST(n_ab * 1000000 div na AS BIGINT)").as("confidence_ppm"),
        expr("""CAST(CAST(n_ab AS DECIMAL(38,0)) * n * 1000000
          div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)""").as("lift_ppm"))
      .orderBy("type_a", "type_b")
  }

  val all: Seq[Q] = Seq(q207PeakConcurrency, q37Sessionize, q38Funnel, q39WindowFrames, q40AsofJoin,
    q41SessionWindow, q81AsofOperator, q89AsofTolerance, q124AsofDirections,
    q103CohortRetention,
    q106HourlyAnomaly, q111RangeFeatures, q122DecayScore, q145MatchedControls,
    q156CusumDrift, q158Scd2Join, q162RollingActive, q164MarkovTransitions,
    q165Attribution, q170IntervalOverlap, q176SessionPaths, q177AbReport,
    q179LandingBounce, q181BoundarySessions, q187Covisitation,
    q188ConversionDelay, q192SeasonalDecomp, q201LeadLag, q216LinearInterp,
    q217IpsPolicyEval, q228DoublyRobust, q240RollingBacktest, q241DiffInDiff,
    q245ShrunkRates, q247PermutationTest, q249KaplanMeier, q253BhFdr, q254ConformalInterval,
    q264PinballEval, q265BradleyTerry, q270KsTest, q275Cuped,
    q280LogRank, q281QiniUplift, q282Wasserstein, q283Changepoint,
    q286MannKendall, q289WilcoxonSignedRank, q290KruskalWallis,
    q291StratifiedAte, q293RandomizedResponse, q296KfoldCv,
    q297QuantileTe, q298EwmaForecast, q299CramersV, q300IvWald, q301Acf,
    q305CmhTest, q306Friedman, q307AnovaEta,
    q308TostEquivalence, q309CochranArmitage, q310SequenceSupport)
}
