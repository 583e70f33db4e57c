package graft.ops

import graft.{Materialize, Q, Rank, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale-technique pack: the shuffle-engineering patterns a 100 TB
  * deployment leans on, demonstrated small and correctness-gated —
  * the point of the oracle here is that the *technique* (salting) is
  * semantically invisible: the salted plan must hash-match the plain
  * relational answer. */
object Scale {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** q51 — salted skew join: a synthetic 80%-hot key joined against a
    * small dim, salted 8 ways so the hot key spreads over 8 reducers
    * instead of one straggler. The dim side is exploded 8x (still tiny)
    * and the join key becomes (key, salt). AQE's skew-join handles
    * sort-merge skew automatically; explicit salting is the portable
    * version that also works for hash aggregation and pre-AQE engines.
    * The oracle computes the unsalted equivalent. */
  val q51SaltedSkewJoin: Q = Q(
    "q51_salted_skew_join",
    """WITH fact AS (
      |  SELECT CASE WHEN o_orderkey % 10 < 8 THEN 0 ELSE o_custkey % 100 END AS k,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders
      |), dim AS (
      |  SELECT unnest(range(0, 100)) AS k
      |)
      |SELECT d.k AS k, 'dim-' || CAST(d.k AS VARCHAR) AS dim_name, COUNT(f.k) AS n,
      |  CAST(SUM(f.price) AS DOUBLE) AS revenue
      |FROM dim d LEFT JOIN fact f ON f.k = d.k
      |GROUP BY d.k ORDER BY d.k""") { (s, d) =>
    val Salts = 8
    val fact = Tables.orders(s, d)
      .select(
        when(col("o_orderkey") % 10 < 8, 0L).otherwise(col("o_custkey") % 100).as("k"),
        dec(col("o_totalprice")).as("price"))
      .withColumn("salt", pmod(col("price").cast("long") + col("k"), lit(Salts)))
    val dim = s.range(100).select(col("id").as("k"),
        concat(lit("dim-"), col("id").cast("string")).as("dim_name"))
      .withColumn("salt", explode(array((0 until Salts).map(i => lit(i.toLong)): _*)))
    dim.join(fact, Seq("k", "salt"), "left")
      .groupBy(col("k"), col("dim_name"))
      .agg(count(col("price")).as("n"),
        sum(col("price")).cast("double").as("revenue"))
      .orderBy("k")
  }

  /** q60 — bucketed range join: events counted into 60 overlapping
    * 8-hour windows. A naive interval join is a broadcast-nested-loop
    * (O(events x windows) comparisons); the scale path decomposes each
    * window into its covered hour buckets, equi-joins on the bucket, and
    * applies the interval predicate as a cheap residual — the join
    * becomes hash-partitionable and each event is compared only against
    * windows that share its hour. Timestamps are compared as integer
    * micros on both engines (the repo's nanos→micros floor rule). */
  val q60RangeJoin: Q = Q(
    "q60_range_join",
    """WITH w AS (
      |  SELECT CAST(i AS BIGINT) AS w_id,
      |    1704067200000000 + i*43200000000 AS start_us,
      |    1704067200000000 + i*43200000000 + 57600000000 AS end_us
      |  FROM (SELECT unnest(range(0,60)) AS i)
      |), e AS (SELECT epoch_us(ts) AS us FROM events)
      |SELECT w_id, start_us, CAST(COUNT(us) AS BIGINT) AS n_events
      |FROM w LEFT JOIN e ON us >= start_us AND us < end_us
      |GROUP BY w_id, start_us
      |ORDER BY w_id""") { (s, d) =>
    val HourUs = 3600L * 1000000L
    // 16h windows every 12h: overlapping, so one event can land in two
    // windows — the decomposition must not dedup across windows.
    val windows = s.range(60).select(col("id").as("w_id"),
      (lit(1704067200000000L) + col("id") * 43200000000L).as("start_us"))
      .withColumn("end_us", col("start_us") + 57600000000L)
    // each 16h window covers 16 hour buckets (exclusive end ⇒ never 17)
    val wBuckets = windows
      .withColumn("h", explode(sequence(lit(0L), lit(15L))))
      .withColumn("bucket", col("start_us") + col("h") * HourUs)
      .drop("h")
    val events = Tables.events(s, d)
      .select(unix_micros(col("ts")).as("us"))
      // integer bucket math (us - us % hour): no double division drift
      .withColumn("bucket", col("us") - pmod(col("us"), lit(HourUs)))
    val counts = events.join(broadcast(wBuckets), Seq("bucket"))
      .filter(col("us") >= col("start_us") && col("us") < col("end_us"))
      .groupBy("w_id").agg(count(lit(1)).as("n_events"))
    windows.select("w_id", "start_us")
      .join(counts, Seq("w_id"), "left")
      .select(col("w_id"), col("start_us"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("w_id")
  }

  /** q87 — deterministic corpus sharding: every document is assigned a
    * shard by md5 hash of its id (shard = hex32('shard_'||doc_id) % 64),
    * and the query audits the layout — per-shard document count, byte
    * volume, and id range. This is the write-side primitive of a 100 TB
    * corpus: `df.repartition(col("shard")).write.partitionBy("shard")`
    * gives N stable, reproducible output shards whose membership does
    * not depend on input order, partitioning, or cluster size — so a
    * training job can address shard k across re-runs, and a re-ingest
    * reshuffles nothing. The audit itself is one narrow projection plus
    * one 64-key aggregation (map-side partials make the shuffle 64 rows
    * per task regardless of corpus size); byte volume uses octet_length
    * (bytes, not code points — grapheme semantics differ per engine). */
  val q87ShardAssign: Q = Q(
    "q87_shard_assign",
    """SELECT CAST(concat('0x', substr(md5('shard_' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 64 AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents
      |GROUP BY shard ORDER BY shard""") { (s, d) =>
    Tables.documents(s, d)
      .select(
        pmod(graft.functions.TextFunctions.hex32(
          concat(lit("shard_"), col("doc_id").cast("string"))), lit(64L)).as("shard"),
        col("doc_id"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bytes")).as("n_bytes"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")
  }

  /** q146 — stratified train/val/test split: every document is assigned
    * to a split with EXACT per-language proportions (80/10/10 by count,
    * floor at each boundary) and a deterministic membership — rank the
    * docs of each language by a hash of their id and cut at
    * floor(.8n)/floor(.9n). Hash-threshold splits (`hex32(id) % 10 < 8`)
    * are only approximately proportional; eval sets need exact counts.
    *
    * The per-language rank is the scale problem: `ROW_NUMBER() OVER
    * (PARTITION BY lang ...)` funnels each language through ONE task —
    * with a handful of languages over 100 TB that is a handful of
    * straggler reducers. graft.Rank spreads each language over many
    * range partitions instead and returns each language's row count.
    * Ties are impossible: doc_id is in the sort key on both engines. */
  val q146StratifiedSplit: Q = Q(
    "q146_stratified_split",
    """WITH keyed AS (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substr(md5('split_' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS ord
      |  FROM documents
      |), ranked AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ord, doc_id) - 1 AS rk,
      |    COUNT(*) OVER (PARTITION BY lang) AS tot
      |  FROM keyed
      |)
      |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rank_in_lang,
      |  CASE WHEN rk * 10 < tot * 8 THEN 'train'
      |       WHEN rk * 10 < tot * 9 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM ranked ORDER BY lang, doc_id""") { (s, d) =>
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.hex32(
          concat(lit("split_"), col("doc_id").cast("string"))).as("ord"))
    val (ranked, tot) = Rank(keyed, "rank_in_lang", Seq(col("ord"), col("doc_id")),
      group = Seq(col("lang")))
    // each row's language total, NULL-safe on lang (a handful of languages)
    val n = tot.foldLeft(lit(null).cast("long")) { case (c, (Row(lang), t)) =>
      when(col("lang") <=> lit(lang), t).otherwise(c) }
    ranked
      .select(col("lang"), col("doc_id"), col("rank_in_lang"),
        when(col("rank_in_lang") * 10 < n * 8, "train")
          .when(col("rank_in_lang") * 10 < n * 9, "val")
          .otherwise("test").as("split"))
      .orderBy("lang", "doc_id")
  }

  /** q96 — epoch shuffle manifest: the deterministic global permutation
    * a training loop reads each epoch, spelled the way it scales. Every
    * doc gets a pseudo-random sort key from md5 of (epoch, doc_id); the
    * key's low bits pick one of 8 shards and each shard orders its docs
    * by the key independently — a window PARTITIONED by shard, so the
    * "global shuffle" is N parallel in-shard sorts, never one global
    * sort. Readers consume shards round-robin, which is exactly how a
    * data loader wants its input: stable across re-runs (hash of ids,
    * no RNG state), re-shardable without moving other epochs, and with
    * a different-but-deterministic order per epoch (the key includes
    * the epoch number). */
  val q96EpochShuffle: Q = Q(
    "q96_epoch_shuffle",
    """WITH keyed AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5('ep1_' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS ord
      |  FROM documents
      |)
      |SELECT doc_id, ord % 8 AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY ord % 8 ORDER BY ord, doc_id) AS BIGINT) AS pos
      |FROM keyed
      |ORDER BY shard, pos""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions.hex32(
          concat(lit("ep1_"), col("doc_id").cast("string"))).as("ord"))
      .withColumn("shard", pmod(col("ord"), lit(8L)))
    val w = Window.partitionBy("shard").orderBy(col("ord"), col("doc_id"))
    keyed
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
      .orderBy("shard", "pos")
  }

  /** q131 — snapshot diff (CDC between table versions): the operation an
    * incremental training-data refresh runs after every ingest — "what
    * did this corpus revision add, remove, change?" — derived from the
    * repo's versioned table layer, not from logs. The query commits two
    * deterministic corpus revisions through `Versioned.commitOverwrite`
    * (v_next drops every 11th doc and revises every 13th), time-travel
    * reads both snapshots back, and diffs them with one full-outer join
    * keyed on doc_id, classifying added / removed / changed and
    * filtering unchanged rows. The oracle replays the same revision
    * derivation and diff logically in SQL, so a hash match proves the
    * whole commit→manifest→time-travel-read path is lossless, in the
    * driver's own gate (same pattern as q130's workbook round trip).
    *
    * Scale shape: the diff is one shuffle join on the snapshot key with
    * change detection on the compared column — unchanged rows never
    * leave the join's output projection. At 100 TB the manifest layer
    * prunes first: only files whose membership differs between the two
    * manifests need scanning at all (identical data files are shared by
    * reference across versions — see Versioned's dedup-append), so the
    * joined fraction is the churn, not the corpus. */
  val q131VersionDiff: Q = Q(
    "q131_version_diff",
    """WITH base AS (SELECT doc_id, text FROM documents),
      |v1 AS (SELECT doc_id, text FROM base WHERE doc_id % 7 <> 0),
      |v2 AS (SELECT doc_id,
      |         CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text
      |       FROM base WHERE doc_id % 11 <> 0)
      |SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
      |            WHEN v2.doc_id IS NULL THEN 'removed'
      |            ELSE 'changed' END AS status,
      |  COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
      |  CAST(LENGTH(v1.text) AS BIGINT) AS chars_v1,
      |  CAST(LENGTH(v2.text) AS BIGINT) AS chars_v2
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.text <> v2.text
      |ORDER BY status, doc_id""") { (s, d) =>
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val rev1 = base.filter(col("doc_id") % 7 =!= 0)
    val rev2 = base.filter(col("doc_id") % 11 =!= 0)
      .withColumn("text", when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
    // HARNESS ARTIFACT: the two table revisions this query diffs must
    // exist as versioned commits on disk, so the lambda manufactures
    // them per invocation. A fixed per-sfDir staging path (cleared up
    // front, then re-committed as exactly v1/v2) bounds the footprint
    // to ONE copy however many warmup/sample passes Bench or Verify
    // make — the round-7 createTempDirectory spelling leaked a fresh
    // documents copy into /tmp on every pass (round-7 ADVICE). The
    // commit→manifest→time-travel-read path under measurement is
    // unchanged and fully distributed; only the fixture build is local.
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft-q131-" + Integer.toHexString(d.hashCode)).toString
    graft.sources.Versioned.deleteRecursively(java.nio.file.Paths.get(dir))
    val vA = graft.sources.Versioned.commitOverwrite(s, dir, rev1)
    val vB = graft.sources.Versioned.commitOverwrite(s, dir, rev2)
    val a = graft.sources.Versioned.read(s, dir, Some(vA))
      .select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = graft.sources.Versioned.read(s, dir, Some(vB))
      .select(col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, col("id_a") === col("id_b"), "full_outer")
      .filter(col("id_a").isNull || col("id_b").isNull ||
        col("text_a") =!= col("text_b"))
      .select(
        when(col("id_a").isNull, "added")
          .when(col("id_b").isNull, "removed")
          .otherwise("changed").as("status"),
        coalesce(col("id_a"), col("id_b")).as("doc_id"),
        length(col("text_a")).cast("long").as("chars_v1"),
        length(col("text_b")).cast("long").as("chars_v2"))
      .orderBy("status", "doc_id")
  }

  /** q135 — manifest file skipping (min/max data skipping): the scan-side
    * half of the 100 TB story. The query commits the documents table
    * through `Versioned.commitAppendStats` after range-clustering on
    * doc_id (`repartitionByRange`, so each data file covers a disjoint
    * id band), which lifts each file's parquet-footer min/max into the
    * manifest. `Versioned.readSkipping` then answers a doc_id range
    * query from the PRUNED file set — the manifest alone eliminates the
    * files whose [min,max] can't intersect the range, before any footer
    * or page is opened. The oracle runs the same range aggregate over
    * the full table, so a hash match proves pruned-read ≡ full-scan
    * semantics; SourcesSpec asserts the pruning is REAL (files read <
    * files in manifest) and that a stats-less v1 manifest degrades to
    * read-everything rather than wrong answers.
    *
    * Scale shape: at 100 TB with ~1 GiB files this is the difference
    * between planning 100k files and planning the ~100 whose band
    * intersects the predicate — O(manifest) driver work, zero data I/O
    * for skipped files, and the clustering step that makes it selective
    * is the same range-exchange a sorted write already pays. */
  val q135FileSkipping: Q = Q(
    "q135_file_skipping",
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  MIN(doc_id) AS lo_id, MAX(doc_id) AS hi_id
      |FROM documents WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY lang ORDER BY lang""") { (s, d) =>
    val dir = stagingDir(d, "q135")
    graft.sources.Versioned.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.sources.Versioned.commitAppendStats(s, dir,
      Tables.documents(s, d).repartitionByRange(8, col("doc_id")),
      Seq("doc_id"))
    val (pruned, _, _) =
      graft.sources.Versioned.readSkipping(s, dir, "doc_id", 100L, 299L)
    pruned.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        min(col("doc_id")).as("lo_id"), max(col("doc_id")).as("hi_id"))
      .orderBy("lang")
  }

  /** q138 — incremental materialized-view maintenance: keep a per-lang
    * aggregate view current across table revisions by applying the CDC
    * diff (q131's derivation) as per-key DELTAS instead of rescanning
    * the corpus. The query commits the same two revisions as q131
    * through the versioned layer, time-travel reads both, folds the
    * diff into (lang, Δdocs, Δchars) and adds it to the v1 snapshot's
    * aggregate. The ORACLE computes the v2 aggregate directly — a hash
    * match proves delta-apply ≡ full recompute, which is the entire
    * correctness obligation of incremental view maintenance.
    *
    * Scale shape: refresh cost is O(churn) + O(view keys) — the diff
    * join touches only files whose membership differs between the two
    * manifests (identical data files are shared by reference across
    * versions), the delta aggregation reduces churn rows to view keys
    * map-side, and the apply join is view-sized. At 100 TB with 0.1%
    * daily churn that is a ~1000x cheaper refresh than recompute. */
  val q138IncrView: Q = Q(
    "q138_incr_view",
    """WITH base AS (SELECT doc_id, lang, text FROM documents),
      |v1 AS (SELECT doc_id, lang, text FROM base WHERE doc_id % 7 <> 0),
      |v2 AS (SELECT doc_id, lang,
      |        CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text
      |      FROM base WHERE doc_id % 11 <> 0),
      |a1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(LENGTH(text)) AS BIGINT) AS chars FROM v1 GROUP BY lang),
      |a2 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(LENGTH(text)) AS BIGINT) AS chars FROM v2 GROUP BY lang)
      |SELECT COALESCE(a1.lang, a2.lang) AS lang,
      |  CAST(COALESCE(a2.n_docs, 0) AS BIGINT) AS n_docs,
      |  CAST(COALESCE(a2.chars, 0) AS BIGINT) AS chars,
      |  CAST(COALESCE(a2.n_docs, 0) - COALESCE(a1.n_docs, 0) AS BIGINT) AS d_docs,
      |  CAST(COALESCE(a2.chars, 0) - COALESCE(a1.chars, 0) AS BIGINT) AS d_chars
      |FROM a1 FULL OUTER JOIN a2 ON a1.lang = a2.lang
      |ORDER BY lang""") { (s, d) =>
    // The diff join compares md5 FINGERPRINTS, not text: change
    // detection needs equality only, so the exchange carries fixed-width
    // (id, lang, len, fp) rows and document payloads never shuffle —
    // the same contract as the dedup family. (The oracle recomputes
    // both aggregates from scratch, so it needs no fingerprint mirror:
    // any fp-vs-text divergence would surface as a hash mismatch.)
    import graft.sources.Versioned
    val base = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val rev1 = base.filter(col("doc_id") % 7 =!= 0)
    val rev2 = base.filter(col("doc_id") % 11 =!= 0)
      .withColumn("text", when(col("doc_id") % 13 === 0,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
    // harness artifact, same pattern and footprint bound as q131
    val dir = stagingDir(d, "q138")
    Versioned.deleteRecursively(java.nio.file.Paths.get(dir))
    val vA = Versioned.commitOverwrite(s, dir, rev1)
    val vB = Versioned.commitOverwrite(s, dir, rev2)
    val view1 = Versioned.read(s, dir, Some(vA)).groupBy("lang")
      .agg(count(lit(1)).as("n1"), sum(length(col("text"))).cast("long").as("c1"))
    def narrow(v: Int, tag: String): DataFrame =
      Versioned.read(s, dir, Some(v)).select(
        col("doc_id").as(s"id_$tag"), col("lang").as(s"lang_$tag"),
        length(col("text")).as(s"len_$tag"), md5(col("text")).as(s"fp_$tag"))
    val delta = narrow(vA, "a").join(narrow(vB, "b"),
        col("id_a") === col("id_b"), "full_outer")
      .filter(col("id_a").isNull || col("id_b").isNull ||
        col("fp_a") =!= col("fp_b"))
      .select(coalesce(col("lang_a"), col("lang_b")).as("lang"),
        when(col("id_a").isNull, 1L).when(col("id_b").isNull, -1L)
          .otherwise(0L).as("dd"),
        (coalesce(col("len_b"), lit(0)) -
          coalesce(col("len_a"), lit(0))).cast("long").as("dc"))
      .groupBy("lang").agg(sum("dd").as("d_docs"), sum("dc").as("d_chars"))
    view1.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
          .cast("long").as("n_docs"),
        (coalesce(col("c1"), lit(0L)) + coalesce(col("d_chars"), lit(0L)))
          .cast("long").as("chars"),
        coalesce(col("d_docs"), lit(0L)).cast("long").as("d_docs"),
        coalesce(col("d_chars"), lit(0L)).cast("long").as("d_chars"))
      .orderBy("lang")
  }

  /** q139 — targeted delete (right-to-be-forgotten): remove a doc_id
    * range from the versioned table by rewriting ONLY the files whose
    * manifest [min,max] intersects the range; every other file carries
    * into the new version by reference. The query commits the documents
    * table range-clustered with stats (q135's layout), deletes
    * [100, 299] via `Versioned.deleteWhere`, and aggregates the
    * surviving corpus; the oracle filters the same range from the raw
    * table, so a hash match proves the delete is exact — nothing extra
    * removed, nothing left behind. SourcesSpec pins the mechanics the
    * aggregate can't see: untouched files shared by NAME, the prior
    * version still complete until vacuum, vacuum reclaiming the
    * rewritten-away files.
    *
    * Scale shape: delete cost is O(files overlapping the predicate) —
    * with range clustering that is ~selectivity x corpus, not the
    * corpus; the shared files cost zero I/O and the manifest commit is
    * one small JSON object. */
  val q139TargetedDelete: Q = Q(
    "q139_targeted_delete",
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars,
      |  MIN(doc_id) AS lo_id, MAX(doc_id) AS hi_id
      |FROM documents WHERE doc_id NOT BETWEEN 100 AND 299
      |GROUP BY lang ORDER BY lang""") { (s, d) =>
    import graft.sources.Versioned
    val dir = stagingDir(d, "q139")
    Versioned.deleteRecursively(java.nio.file.Paths.get(dir))
    Versioned.commitAppendStats(s, dir,
      Tables.documents(s, d).repartitionByRange(8, col("doc_id")),
      Seq("doc_id"))
    val (nv, _, _) = Versioned.deleteWhere(s, dir, "doc_id", 100L, 299L)
    Versioned.read(s, dir, Some(nv))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        min(col("doc_id")).as("lo_id"), max(col("doc_id")).as("hi_id"))
      .orderBy("lang")
  }

  /** q143 — key-skew audit: the diagnosis that DECIDES the q51 salting
    * and AQE-skew treatments. For each candidate shuffle key the report
    * gives key cardinality, row totals, the heaviest key's share and
    * the top-10 keys' share (ppm), and the max/mean ratio (milli) — a
    * skew_ratio_milli near 1000 is uniform, orders of magnitude above
    * means one reducer drags the stage and the key needs salting or a
    * broadcast. Integer ppm/milli floors keep both engines
    * bit-identical.
    *
    * Scale shape: one map-side-combined count per key column, a 10-row
    * top-k, and two scalar aggregates — O(keys) work per audited
    * column, the corpus never shuffles payloads. This is the profile a
    * planner would persist per table to choose join strategies. */
  val q143SkewAudit: Q = Q(
    "q143_skew_audit",
    """WITH ec AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
      |lc AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
      |s AS (
      |  SELECT 'events.user_id' AS key_col,
      |    CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
      |    CAST(MAX(c) AS BIGINT) AS max_rows,
      |    CAST((SELECT SUM(c) FROM (SELECT c FROM ec ORDER BY c DESC, k LIMIT 10)) AS BIGINT) AS top10_rows
      |  FROM ec
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey',
      |    CAST(COUNT(*) AS BIGINT), CAST(SUM(c) AS BIGINT), CAST(MAX(c) AS BIGINT),
      |    CAST((SELECT SUM(c) FROM (SELECT c FROM lc ORDER BY c DESC, k LIMIT 10)) AS BIGINT)
      |  FROM lc
      |)
      |SELECT key_col, n_keys, n_rows, max_rows, top10_rows,
      |  CAST(FLOOR(max_rows * 1000000 / n_rows) AS BIGINT) AS max_share_ppm,
      |  CAST(FLOOR(top10_rows * 1000000 / n_rows) AS BIGINT) AS top10_share_ppm,
      |  CAST(FLOOR(max_rows * 1000 * n_keys / n_rows) AS BIGINT) AS skew_ratio_milli
      |FROM s ORDER BY key_col""") { (s, d) =>
    def audit(df: DataFrame, key: String, label: String): DataFrame = {
      val counts = df.groupBy(col(key).as("k"))
        .agg(count(lit(1)).as("c"))
        .transform(Materialize.snapshot) // consumed by the scalar agg AND the top-10
      val top10 = counts.orderBy(col("c").desc, col("k")).limit(10)
        .agg(sum("c").as("top10_rows"))
      counts.agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
          max("c").as("max_rows"))
        .crossJoin(broadcast(top10))
        .select(lit(label).as("key_col"), col("n_keys"), col("n_rows"),
          col("max_rows"), col("top10_rows"))
    }
    audit(Tables.events(s, d), "user_id", "events.user_id")
      .unionByName(audit(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey"))
      .select(col("key_col"), col("n_keys"), col("n_rows"), col("max_rows"),
        col("top10_rows"),
        floor(col("max_rows") * 1000000L / col("n_rows")).cast("long").as("max_share_ppm"),
        floor(col("top10_rows") * 1000000L / col("n_rows")).cast("long").as("top10_share_ppm"),
        floor(col("max_rows") * 1000L * col("n_keys") / col("n_rows")).cast("long").as("skew_ratio_milli"))
      .orderBy("key_col")
  }

  /** q144 — schema evolution on the versioned table: a later append
    * carries a NEW column (`quality`), the merged read null-fills it
    * for pre-evolution files, and time travel to v1 still sees the
    * old schema — the add-a-column migration every long-lived corpus
    * table goes through, with zero rewrites of existing data. The
    * oracle replays both generations with an explicit NULL column, so
    * a hash match proves the merged read's null-fill semantics exactly.
    *
    * Scale shape: evolution costs one manifest commit; the merged read
    * adds a footer-schema union at planning, no data I/O — the property
    * that makes wide-table evolution viable at 100 TB. */
  val q144SchemaEvolution: Q = Q(
    "q144_schema_evolution",
    """WITH v1 AS (
      |  SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality FROM documents
      |), v2 AS (
      |  SELECT doc_id + 1000000 AS doc_id, lang, n_chars, n_chars % 100 AS quality
      |  FROM documents WHERE doc_id % 3 = 0
      |)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(quality) AS BIGINT) AS n_with_quality,
      |  CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS sum_quality
      |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
      |GROUP BY lang ORDER BY lang""") { (s, d) =>
    import graft.sources.Versioned
    val dir = stagingDir(d, "q144")
    Versioned.deleteRecursively(java.nio.file.Paths.get(dir))
    val base = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
    Versioned.commitAppend(s, dir, base)
    Versioned.commitAppend(s, dir, // the evolved generation: +quality
      base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("n_chars"), (col("n_chars") % 100).as("quality")))
    Versioned.read(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("quality")).as("n_with_quality"),
        coalesce(sum(col("quality")), lit(0L)).cast("long").as("sum_quality"))
      .orderBy("lang")
  }

  /** Fixed per-(sfDir, query) staging path: cleared and rebuilt by each
    * invocation, so repeated Bench/Verify passes keep ONE copy on disk
    * (the q131 lesson — see its comment). */
  private def stagingDir(sfDir: String, tag: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-$tag-" + Integer.toHexString(sfDir.hashCode)).toString

  /** Rendezvous (highest-random-weight) key for q186: a per-(doc,
    * shard) hash packed with the shard id so ties are impossible —
    * key = hash·16 + (15−s), argmax over shards recovers s from the
    * max key's low bits. The hash SQUARES the affine LCG mod p: an
    * affine-only h(doc,s) = (a·doc + b_s) mod p makes the argmax
    * gap-proportional (the new shard wins b_8's arc of the circle, not
    * 1/9 — measured 5.6%); squaring decorrelates the per-shard weights
    * (measured 10.2% ≈ 1/9, balanced shards). h² ≤ p² < 2^63 so every
    * intermediate stays in BIGINT on both engines. Pure integer
    * projection, no explode. */
  private def rvKey(shard: Int): String = {
    val h = s"((doc_id * 1103515245 + ${shard.toLong * 2654435761L} + 12345) % 2147483647)"
    s"(($h * $h) % 2147483647) * 16 + ${15 - shard}"
  }

  /** q186 — shard-rebalance audit: when a cluster grows 8→9 shards, how
    * much data moves under modulo placement vs rendezvous (highest-
    * random-weight) hashing? Modulo reshuffles ~8/9 of every key;
    * rendezvous moves exactly the docs the NEW shard wins (~1/9, the
    * provable minimum) because adding a candidate can only steal the
    * argmax, never reorder the survivors. The audit that justifies
    * consistent placement for 100 TB shard maps — q87 assigns shards
    * statically; this measures the cost of CHANGING the shard count.
    * Both placements are branch-free integer projections (the argmax is
    * a greatest() over 9 tie-proof packed keys, no explode, no join);
    * the whole audit is one scan into a 2-row report. */
  val q186RendezvousRebalance: Q = Q(
    "q186_rendezvous_rebalance",
    s"""WITH k AS (
       |  SELECT doc_id,
       |    (doc_id * 1103515245 + 12345) % 2147483647 AS hd,
       |    ${(0 until 8).map(rvKey).mkString("greatest(", ", ", ")")} AS k8,
       |    ${(0 until 9).map(rvKey).mkString("greatest(", ", ", ")")} AS k9
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, hd % 8 AS m8, hd % 9 AS m9,
       |    15 - (k8 % 16) AS r8, 15 - (k9 % 16) AS r9
       |  FROM k
       |)
       |SELECT strategy, n_docs, n_moved,
       |  CAST(n_moved*1000000//n_docs AS BIGINT) AS moved_ppm
       |FROM (
       |  SELECT 'mod' AS strategy, COUNT(*) AS n_docs,
       |    COUNT(CASE WHEN m8 <> m9 THEN 1 END) AS n_moved FROM s
       |  UNION ALL
       |  SELECT 'rendezvous' AS strategy, COUNT(*) AS n_docs,
       |    COUNT(CASE WHEN r8 <> r9 THEN 1 END) AS n_moved FROM s
       |)
       |ORDER BY strategy""") { (s, d) =>
    def key(shard: Int) = {
      val h = (col("doc_id") * 1103515245L + lit(shard.toLong * 2654435761L) +
        12345L) % 2147483647L
      ((h * h) % 2147483647L) * 16L + lit(15L - shard)
    }
    val k = Tables.documents(s, d).select(col("doc_id"),
      ((col("doc_id") * 1103515245L + 12345L) % 2147483647L).as("hd"),
      greatest((0 until 8).map(key): _*).as("k8"),
      greatest((0 until 9).map(key): _*).as("k9"))
    val sh = k.select(
      (col("hd") % 8).as("m8"), (col("hd") % 9).as("m9"),
      (lit(15L) - col("k8") % 16).as("r8"), (lit(15L) - col("k9") % 16).as("r9"))
    val mod = sh.agg(count(lit(1)).as("n_docs"),
      count(when(col("m8") =!= col("m9"), 1)).as("n_moved"))
      .select(lit("mod").as("strategy"), col("n_docs"), col("n_moved"))
    val rv = sh.agg(count(lit(1)).as("n_docs"),
      count(when(col("r8") =!= col("r9"), 1)).as("n_moved"))
      .select(lit("rendezvous").as("strategy"), col("n_docs"), col("n_moved"))
    mod.unionAll(rv)
      .select(col("strategy"), col("n_docs"), col("n_moved"),
        floor(col("n_moved") * 1000000L / col("n_docs")).cast("long").as("moved_ppm"))
      .orderBy("strategy")
  }

  /** q189 — join-cardinality estimation audit: for the three fact/dim
    * joins of the schema, the EXACT join output size computed from the
    * two per-key frequency histograms (Σₖ aₖ·bₖ — no fact join ever
    * runs) against the textbook uniform-independence estimate
    * |A|·|B|/max(ndv) every cost-based optimizer starts from, with the
    * error in ppm. Skewed keys are exactly where the uniform estimate
    * collapses and a 1000-executor plan picks the wrong join strategy;
    * this is the audit that quantifies it from metadata-sized inputs.
    *
    * Scale: per-key count aggregates (map-side partials), histogram ⋈
    * histogram on the key (co-partitioned, key-cardinality), 3-row
    * output. The fact tables are scanned once each, key column only. */
  val q189JoinCardinality: Q = Q(
    "q189_join_cardinality",
    """WITH co AS (
      |  SELECT 'customer_orders' AS join_name,
      |    (SELECT COUNT(*) FROM customer) AS n_left,
      |    (SELECT COUNT(*) FROM orders) AS n_right,
      |    (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS nd_left,
      |    (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS nd_right,
      |    (SELECT CAST(SUM(a.n*b.n) AS BIGINT) FROM
      |      (SELECT c_custkey AS k, COUNT(*) AS n FROM customer GROUP BY 1) a
      |      JOIN (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) b
      |      USING (k)) AS actual
      |), ol AS (
      |  SELECT 'orders_lineitem' AS join_name,
      |    (SELECT COUNT(*) FROM orders) AS n_left,
      |    (SELECT COUNT(*) FROM lineitem) AS n_right,
      |    (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS nd_left,
      |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS nd_right,
      |    (SELECT CAST(SUM(a.n*b.n) AS BIGINT) FROM
      |      (SELECT o_orderkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) a
      |      JOIN (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1) b
      |      USING (k)) AS actual
      |), pl AS (
      |  SELECT 'part_lineitem' AS join_name,
      |    (SELECT COUNT(*) FROM part) AS n_left,
      |    (SELECT COUNT(*) FROM lineitem) AS n_right,
      |    (SELECT COUNT(DISTINCT p_partkey) FROM part) AS nd_left,
      |    (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS nd_right,
      |    (SELECT CAST(SUM(a.n*b.n) AS BIGINT) FROM
      |      (SELECT p_partkey AS k, COUNT(*) AS n FROM part GROUP BY 1) a
      |      JOIN (SELECT l_partkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1) b
      |      USING (k)) AS actual
      |)
      |SELECT join_name, n_left, n_right, nd_left, nd_right,
      |  CAST(FLOOR(CAST(n_left AS DOUBLE) * n_right
      |    / CASE WHEN nd_left > nd_right THEN nd_left ELSE nd_right END) AS BIGINT)
      |    AS est_uniform,
      |  actual,
      |  CAST(FLOOR(CAST(FLOOR(CAST(n_left AS DOUBLE) * n_right
      |      / CASE WHEN nd_left > nd_right THEN nd_left ELSE nd_right END) AS DOUBLE)
      |    * 1000000 / actual) AS BIGINT) AS est_over_actual_ppm
      |FROM (SELECT * FROM co UNION ALL SELECT * FROM ol UNION ALL SELECT * FROM pl)
      |ORDER BY join_name""") { (s, d) =>
    def audit(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val a = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("n"))
      val b = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("n"))
      val actual = a.as("a").join(b.as("b"), "k")
        .agg(sum(col("a.n") * col("b.n")).as("actual"))
      val stats = left.agg(count(lit(1)).as("n_left"),
          countDistinct(col(lk)).as("nd_left"))
        .crossJoin(right.agg(count(lit(1)).as("n_right"),
          countDistinct(col(rk)).as("nd_right")))
      stats.crossJoin(broadcast(actual))
        .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
          col("nd_left"), col("nd_right"),
          floor(col("n_left").cast("double") * col("n_right") /
            when(col("nd_left") > col("nd_right"), col("nd_left"))
              .otherwise(col("nd_right")))
            .cast("long").as("est_uniform"), col("actual"))
    }
    val c = Tables.customer(s, d); val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d); val p = Tables.part(s, d)
    audit("customer_orders", c, "c_custkey", o, "o_custkey")
      .unionAll(audit("orders_lineitem", o, "o_orderkey", l, "l_orderkey"))
      .unionAll(audit("part_lineitem", p, "p_partkey", l, "l_partkey"))
      .select(col("*"),
        floor(col("est_uniform").cast("double") * 1000000d / col("actual"))
          .cast("long").as("est_over_actual_ppm"))
      .orderBy("join_name")
  }

  /** q190 — id-continuity audit by CHUNKED gaps-and-islands: find every
    * missing range in the event_id sequence (after q139-style targeted
    * deletions, planted here as `event_id % 997 = 0`) WITHOUT the
    * single-partition global window the textbook islands query needs.
    * q181's two-level move applied to sequences: ids bucket into 4096-id
    * chunks, and islands form inside each chunk in parallel as (lo, hi)
    * fragments. graft.Rank numbers the fragments in id order, and an
    * equi-join on rank pairs each with the next: a pair that does not
    * touch (next lo > hi + 1) brackets a gap, and a pair that touches
    * is one island split at a chunk edge.
    *
    * Scale: ids never leave their chunk partition until they've
    * collapsed to fragment rows, and no step funnels the fragments
    * through one task. */
  val q190IdContinuity: Q = Q(
    "q190_id_continuity",
    """WITH ids AS (
      |  SELECT event_id AS id FROM events WHERE event_id % 997 <> 0
      |), isl AS (
      |  SELECT id,
      |    CASE WHEN id - lag(id) OVER (ORDER BY id) = 1 THEN 0 ELSE 1 END AS brk
      |  FROM ids
      |), grp AS (
      |  SELECT id, SUM(brk) OVER (ORDER BY id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      |  FROM isl
      |), island AS (
      |  SELECT g, MIN(id) AS lo, MAX(id) AS hi FROM grp GROUP BY g
      |)
      |SELECT hi + 1 AS gap_start, nxt - 1 AS gap_end,
      |  CAST(nxt - hi - 1 AS BIGINT) AS gap_len
      |FROM (SELECT hi, lead(lo) OVER (ORDER BY lo) AS nxt FROM island)
      |WHERE nxt IS NOT NULL AND nxt > hi + 1
      |ORDER BY gap_start""") { (s, d) =>
    // chunk-local islands in parallel, then q181's boundary re-merge:
    // the oracle computes the same islands with the direct (single-
    // window) textbook query — the hash gate proves the chunked plan
    // equal to the global one
    import org.apache.spark.sql.expressions.Window
    val ids = Tables.events(s, d)
      .filter(col("event_id") % 997 =!= 0)
      .select(col("event_id").as("id"), floor(col("event_id") / 4096).as("chunk"))
    val wc = Window.partitionBy("chunk").orderBy("id")
    val wcRun = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val frags = ids
      .withColumn("brk",
        when(col("id") - lag("id", 1).over(wc) === 1, 0).otherwise(1))
      .withColumn("g", sum("brk").over(wcRun))
      .groupBy("chunk", "g")
      .agg(min("id").as("lo"), max("id").as("hi"))
    // consecutive fragments in id order pair up by rank; fragments that
    // touch across a chunk edge belong to one island, any other pair
    // brackets a gap
    val ranked = Rank(frags.select("lo", "hi"), "i", Seq(col("lo")))._1
    ranked.select(col("i"), col("hi"))
      .join(ranked.select((col("i") - 1).as("i"), col("lo").as("nxt")), "i")
      .filter(col("nxt") > col("hi") + 1)
      .select((col("hi") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"),
        (col("nxt") - col("hi") - 1).cast("long").as("gap_len"))
      .orderBy("gap_start")
  }

  /** Tables × columns profiled by q191 (static so the oracle enumerates
    * the same surface). */
  private val profiled: Seq[(String, Seq[String])] = Seq(
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** q191 — one-pass table profiler: per column of three tables, row
    * count, null count (+ppm) and EXACT distinct-value count — the
    * catalog-statistics collector every optimizer and data-quality
    * dashboard needs. The Spark plan melts each table to (column,
    * value-as-string) pairs and aggregates (column, value) partials in
    * ONE shuffle per table — the exchange carries Σ per-column NDV
    * rows, never row×column pairs, because the partial agg collapses
    * duplicates map-side; casts to string are injective per column so
    * per-column NDV is preserved. (At 100 TB you'd swap exact NDV for
    * HLL partials in the same plan shape; the melt and the single
    * exchange stay identical.) The oracle spells the same numbers the
    * boring way — one COUNT(DISTINCT) projection per column.
    *
    * The timestamp column casts through epoch micros, not the string
    * form, so the (injective) representation is engine-independent. */
  val q191TableProfile: Q = Q(
    "q191_table_profile",
    profiled.flatMap { case (t, cols) =>
      cols.map { c =>
        s"""SELECT '$t' AS tbl, '$c' AS col, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  CAST(FLOOR(CAST(COUNT(*) - COUNT($c) AS DOUBLE) * 1000000 / COUNT(*)) AS BIGINT) AS null_ppm,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv
           |FROM $t""".stripMargin
      }
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col")) { (s, d) =>
    def melt(name: String, df: DataFrame, cols: Seq[String]): DataFrame = {
      val pairs = cols.map { c =>
        struct(lit(c).as("col"),
          (if (name == "events" && c == "ts")
             unix_micros(col(c)).cast("string")
           else col(c).cast("string")).as("v"))
      }
      df.select(explode(array(pairs: _*)).as("cv"))
        .select(col("cv.col").as("col"), col("cv.v").as("v"))
        .groupBy("col", "v").agg(count(lit(1)).as("k"))
        .groupBy("col")
        .agg(sum("k").as("n_rows"),
          sum(when(col("v").isNull, col("k")).otherwise(0L)).as("n_nulls"),
          count(when(col("v").isNotNull, 1)).as("ndv"))
        .select(lit(name).as("tbl"), col("col"), col("n_rows"), col("n_nulls"),
          floor(col("n_nulls").cast("double") * 1000000d / col("n_rows"))
            .cast("long").as("null_ppm"), col("ndv"))
    }
    val byName = Map[String, DataFrame](
      "orders" -> Tables.orders(s, d),
      "events" -> Tables.events(s, d),
      "documents" -> Tables.documents(s, d))
    profiled.map { case (t, cols) => melt(t, byName(t), cols) }
      .reduce(_ unionAll _)
      .orderBy("tbl", "col")
  }

  /** q223 — shuffle-quality audit: PROVE the q96 epoch shuffle actually
    * shuffled, by measuring what bad shuffles leak — source clustering
    * (adjacent docs from the same source make a training batch
    * correlated) and residual input order (adjacent docs with
    * consecutive ids mean the permutation didn't mix). Per shard:
    * adjacent same-source pairs in shuffle order as ppm, against the
    * exact perfect-shuffle expectation Σ n_s(n_s−1)·10⁶ div (n(n−1))
    * (drawing 2 without replacement), and the consecutive-id pair
    * count, whose expectation is ~2/n per pair — any visible mass is a
    * broken permuter. The audit every epoch-order artifact should ship
    * with: a skipped shuffle is invisible in row counts but glaring
    * here.
    *
    * Scale: rides q96's own (shard, pos) output definition — the lag
    * runs inside each shard partition exactly like the shuffle's own
    * position numbering; the source histogram for the expectation is a
    * |sources|-cell aggregate broadcast back; output is 8 shard cells. */
  val q223ShuffleQuality: Q = Q(
    "q223_shuffle_quality",
    """WITH keyed AS (
      |  SELECT doc_id, source,
      |    CAST(concat('0x', substr(md5('ep1_' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS ord
      |  FROM documents
      |), ordered AS (
      |  SELECT doc_id, source, ord % 8 AS shard,
      |    LAG(source) OVER (PARTITION BY ord % 8 ORDER BY ord, doc_id) AS prev_source,
      |    LAG(doc_id) OVER (PARTITION BY ord % 8 ORDER BY ord, doc_id) AS prev_id
      |  FROM keyed
      |), pairs AS (
      |  SELECT shard,
      |    COUNT(*) AS n_pairs,
      |    SUM(CASE WHEN source = prev_source THEN 1 ELSE 0 END) AS same_source_pairs,
      |    SUM(CASE WHEN ABS(doc_id - prev_id) = 1 THEN 1 ELSE 0 END) AS consecutive_id_pairs
      |  FROM ordered WHERE prev_id IS NOT NULL
      |  GROUP BY shard
      |), exp AS (
      |  SELECT CAST(SUM(ns * (ns - 1)) * 1000000 // (SUM(ns) * (SUM(ns) - 1)) AS BIGINT) AS expected_ppm
      |  FROM (SELECT COUNT(*) AS ns FROM documents GROUP BY source)
      |)
      |SELECT CAST(shard AS BIGINT) AS shard, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(same_source_pairs AS BIGINT) AS same_source_pairs,
      |  CAST(same_source_pairs * 1000000 // n_pairs AS BIGINT) AS same_source_ppm,
      |  CAST(consecutive_id_pairs AS BIGINT) AS consecutive_id_pairs,
      |  exp.expected_ppm
      |FROM pairs CROSS JOIN exp
      |ORDER BY shard""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.hex32(
          concat(lit("ep1_"), col("doc_id").cast("string"))).as("ord"))
      .withColumn("shard", pmod(col("ord"), lit(8L)))
    val w = Window.partitionBy("shard").orderBy(col("ord"), col("doc_id"))
    val pairs = keyed
      .withColumn("prev_source", lag("source", 1).over(w))
      .withColumn("prev_id", lag("doc_id", 1).over(w))
      .filter(col("prev_id").isNotNull)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("source") === col("prev_source"), 1L).otherwise(0L))
          .as("same_source_pairs"),
        sum(when(abs(col("doc_id") - col("prev_id")) === 1, 1L).otherwise(0L))
          .as("consecutive_id_pairs"))
    val expected = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("ns"))
      .agg(expr("sum(ns * (ns - 1)) * 1000000 div (sum(ns) * (sum(ns) - 1))")
        .as("expected_ppm"))
    pairs.crossJoin(broadcast(expected)) // 1-row expectation scalar
      .select(col("shard").cast("long").as("shard"), col("n_pairs"),
        col("same_source_pairs"),
        expr("same_source_pairs * 1000000 div n_pairs").as("same_source_ppm"),
        col("consecutive_id_pairs"), col("expected_ppm"))
      .orderBy("shard")
  }

  /** q229 — Merkle-style dataset manifest: a two-level content digest
    * per shard — row hash → sorted-fold bucket digest → sorted-fold
    * shard root → one dataset root — the integrity record a
    * reproducible-training-data release needs (re-run the build, compare
    * 9 hex strings; a single flipped byte anywhere changes its bucket,
    * its shard root, and the dataset root — and the UNCHANGED shard
    * roots localize where the drift is). Hashing is md5 end to end
    * (cross-engine identical); every fold sorts its children first, so
    * the digest is ingestion-order-free — the property that makes it
    * comparable across engines, partitionings, and re-runs.
    *
    * Scale: the row-hash scan collapses map-side into (shard, bucket)
    * groups; each fold's collect is bounded by its fan-in (n/128 rows
    * per bucket here — at 100 TB raise the bucket count so the fan-in
    * stays bounded; the tree depth grows logarithmically, the shape is
    * unchanged). The shard/global levels run on ≤128 digest cells. */
  val q229MerkleManifest: Q = Q(
    "q229_merkle_manifest",
    """WITH rows_h AS (
      |  SELECT md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), lang, source,
      |      CAST(n_chars AS VARCHAR), text)) AS h
      |  FROM documents
      |), keyed AS (
      |  SELECT h,
      |    CAST(concat('0x', substr(h, 1, 2)) AS BIGINT) % 8 AS shard,
      |    CAST(concat('0x', substr(h, 3, 2)) AS BIGINT) % 16 AS bucket
      |  FROM rows_h
      |), lvl1 AS (
      |  SELECT shard, bucket, md5(string_agg(h, '' ORDER BY h)) AS d1,
      |    COUNT(*) AS n
      |  FROM keyed GROUP BY shard, bucket
      |), lvl2 AS (
      |  SELECT shard, md5(string_agg(d1, '' ORDER BY d1)) AS merkle_root,
      |    SUM(n) AS n_rows, COUNT(*) AS n_buckets
      |  FROM lvl1 GROUP BY shard
      |)
      |SELECT CAST(shard AS BIGINT) AS shard, merkle_root,
      |  CAST(n_rows AS BIGINT) AS n_rows, CAST(n_buckets AS BIGINT) AS n_buckets
      |FROM lvl2
      |UNION ALL
      |SELECT -1, md5(string_agg(merkle_root, '' ORDER BY shard)),
      |  CAST(SUM(n_rows) AS BIGINT), CAST(SUM(n_buckets) AS BIGINT)
      |FROM lvl2
      |ORDER BY shard""") { (s, d) =>
    val rowsH = Tables.documents(s, d).select(
      md5(concat_ws("\u001f", col("doc_id").cast("string"), col("lang"),
        col("source"), col("n_chars").cast("string"), col("text"))).as("h"))
    val keyed = rowsH.select(col("h"),
      (conv(substring(col("h"), 1, 2), 16, 10).cast("long") % 8).as("shard"),
      (conv(substring(col("h"), 3, 2), 16, 10).cast("long") % 16).as("bucket"))
    val lvl1 = keyed.groupBy("shard", "bucket")
      .agg(md5(concat_ws("", array_sort(collect_list(col("h"))))).as("d1"),
        count(lit(1)).as("n"))
    val lvl2 = lvl1.groupBy("shard")
      .agg(md5(concat_ws("", array_sort(collect_list(col("d1"))))).as("merkle_root"),
        sum("n").as("n_rows"), count(lit(1)).as("n_buckets"))
      .transform(Materialize.snapshot) // 8 rows; read by the per-shard output AND the root fold
    val global = lvl2
      .select(struct(col("shard"), col("merkle_root")).as("sr"),
        col("n_rows"), col("n_buckets"))
      .agg(md5(concat_ws("", transform(array_sort(collect_list(col("sr"))),
          x => x.getField("merkle_root")))).as("merkle_root"),
        sum("n_rows").as("n_rows"), sum("n_buckets").as("n_buckets"))
      .select(lit(-1L).as("shard"), col("merkle_root"), col("n_rows"),
        col("n_buckets"))
    lvl2.select(col("shard"), col("merkle_root"), col("n_rows"), col("n_buckets"))
      .unionByName(global)
      .orderBy("shard")
  }

  /** q233 — purged time-series split with embargo: train = everything
    * before (test_start − 1 day), test = the last 7 days, and the
    * embargo day between them is EXCLUDED from both — the temporal CV
    * protocol that blocks look-ahead leakage through lagged/windowed
    * features (an unpurged boundary leaks every feature whose window
    * spans it; q120 audits content leakage, this audits TIME leakage).
    * The report is one row: per-slice counts and integer-micros
    * boundaries, the measured embargo gap (must be ≥ the embargo), and
    * the train∩test USER overlap — the entity leakage a temporal purge
    * deliberately does NOT remove, reported so the modeler sees it.
    *
    * Scale: one scan collapses map-side to the 1-row max-ts scalar,
    * one more to per-slice cells; the user-overlap is two distinct
    * user sets (user-cardinality, co-partitioned on user_id) meeting
    * in ONE equi semi-join — no row-level pair work anywhere. */
  val q233PurgedSplit: Q = Q(
    "q233_purged_split",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |), b AS (
      |  SELECT (MAX(us) // 86400000000 - 6) * 86400000000 AS test_start_us
      |  FROM e
      |), tagged AS (
      |  SELECT user_id, us,
      |    CASE WHEN us >= test_start_us THEN 'test'
      |         WHEN us >= test_start_us - 86400000000 THEN 'embargo'
      |         ELSE 'train' END AS split
      |  FROM e CROSS JOIN b
      |), stats AS (
      |  SELECT
      |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS train_n,
      |    SUM(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS embargo_n,
      |    SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS test_n,
      |    MAX(CASE WHEN split = 'train' THEN us END) AS train_max_us,
      |    MIN(CASE WHEN split = 'test' THEN us END) AS test_min_us
      |  FROM tagged
      |), ov AS (
      |  SELECT COUNT(*) AS shared_users,
      |    (SELECT COUNT(DISTINCT user_id) FROM tagged WHERE split = 'test') AS test_users
      |  FROM (
      |    SELECT DISTINCT user_id FROM tagged WHERE split = 'train'
      |    INTERSECT
      |    SELECT DISTINCT user_id FROM tagged WHERE split = 'test'
      |  )
      |)
      |SELECT CAST(train_n AS BIGINT) AS train_n,
      |  CAST(embargo_n AS BIGINT) AS embargo_n,
      |  CAST(test_n AS BIGINT) AS test_n,
      |  CAST(train_max_us AS BIGINT) AS train_max_us,
      |  CAST(test_min_us AS BIGINT) AS test_min_us,
      |  CAST(test_min_us - train_max_us AS BIGINT) AS gap_us,
      |  CAST(shared_users AS BIGINT) AS shared_users,
      |  CAST(shared_users * 1000000 // test_users AS BIGINT) AS shared_user_ppm
      |FROM stats CROSS JOIN ov""") { (s, d) =>
    val DayUs = 86400000000L
    val e = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    // integer div (a `/` would round-trip through DOUBLE): day-floor
    // the max ts, back 6 days — test covers the last 7 calendar days
    val b = e.agg(expr("(max(us) div 86400000000 - 6) * 86400000000")
      .as("test_start_us"))
    val tagged = e.crossJoin(broadcast(b)) // 1-row boundary scalar
      .select(col("user_id"), col("us"),
        when(col("us") >= col("test_start_us"), "test")
          .when(col("us") >= col("test_start_us") - DayUs, "embargo")
          .otherwise("train").as("split"))
      .transform(Materialize.snapshot) // read by the stats fold and both overlap sides
    val stats = tagged.agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("train_n"),
      sum(when(col("split") === "embargo", 1L).otherwise(0L)).as("embargo_n"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("test_n"),
      max(when(col("split") === "train", col("us"))).as("train_max_us"),
      min(when(col("split") === "test", col("us"))).as("test_min_us"))
    val trainU = tagged.filter(col("split") === "train").select("user_id").distinct()
    val testU = tagged.filter(col("split") === "test").select("user_id").distinct()
      .transform(Materialize.snapshot) // read by the overlap join and the denominator
    val ov = trainU.join(testU, "user_id")
      .agg(count(lit(1)).as("shared_users"))
      .crossJoin(broadcast(testU.agg(count(lit(1)).as("test_users"))))
    stats.crossJoin(broadcast(ov)) // 1-row audit scalars
      .select(col("train_n"), col("embargo_n"), col("test_n"),
        col("train_max_us"), col("test_min_us"),
        (col("test_min_us") - col("train_max_us")).as("gap_us"),
        col("shared_users"),
        expr("shared_users * 1000000 div test_users").as("shared_user_ppm"))
  }

  /** q246 — bloom-pruned shuffle join: the runtime-filter pattern for
    * a selective fact⋈dim join that is too big to broadcast but whose
    * dim side matches only a sliver of the fact. The dim's join keys
    * fold into a bloom filter (`df.stat.bloomFilter` — a treeAggregate
    * of OR-able bitsets, partition-order independent); the fact side
    * runs a NARROW mightContain prefilter BEFORE its shuffle, so only
    * true matches (+ ~fpp noise) ever hit the exchange — at 100 TB
    * this is the difference between shuffling the corpus and shuffling
    * the answer. The final equi-join removes the false positives, so
    * the result is EXACTLY the plain join (the oracle computes the
    * plain join — the technique must be semantically invisible, q51's
    * salting rule). ScaleSpec's gauge enforces the pruned shuffle.
    *
    * Per-order revenue of customers in the AUTOMOBILE segment with
    * balance > 9000 — a dim selecting ~3% of customers. */
  val q246BloomPruneJoin: Q = Q(
    "q246_bloom_prune_join",
    """WITH dim AS (
      |  SELECT c_custkey, c_name FROM customer
      |  WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 9000
      |)
      |SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS revenue_cents
      |FROM orders JOIN dim ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""") { (s, d) =>
    val dim = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "AUTOMOBILE" && col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_name"))
      .transform(Materialize.snapshot) // read by the bloom build AND the exact join
    // bloom on the dim keys: a few-KB bitset, fpp only adds a sliver of
    // extra rows that the exact join below removes; probed through the
    // native plans.BloomProbe expression (WholeStageCodegen, no UDF —
    // the bitset rides the expression exactly as it rode the closure)
    val bloom = dim.stat.bloomFilter("c_custkey", 10000L, 0.01)
    val probe = {
      import org.apache.spark.sql.graft.PlanShim
      PlanShim.column(graft.plans.BloomProbe(PlanShim.expression(col("o_custkey")), bloom))
    }
    val prunedFact = Tables.orders(s, d)
      .select(col("o_custkey"),
        (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      .filter(probe)
    // hash-partitionable sides are now answer-sized; the equi-join and
    // the aggregate see only survivors
    prunedFact.join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
      .orderBy("c_custkey")
  }

  val all: Seq[Q] = Seq(q51SaltedSkewJoin, q60RangeJoin, q87ShardAssign,
    q96EpochShuffle, q131VersionDiff, q135FileSkipping, q138IncrView,
    q139TargetedDelete, q143SkewAudit, q144SchemaEvolution,
    q146StratifiedSplit, q186RendezvousRebalance, q189JoinCardinality,
    q190IdContinuity, q191TableProfile, q223ShuffleQuality,
    q229MerkleManifest, q233PurgedSplit, q246BloomPruneJoin)
}
