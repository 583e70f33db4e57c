package graft.streaming

import graft.{Materialize, Obs}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming layer: the incremental twins of the batch event
  * operators (SURVEY §2.8 — the reference's day-at-a-time incremental
  * merge maps onto file-source streams + Trigger.AvailableNow).
  *
  * Design rules:
  *  - every streaming transform is also valid in batch (same DataFrame
  *    code), so correctness is provable by stream-vs-batch equivalence
  *    on the same input — StreamingSpec does exactly that;
  *  - event-time only: watermarks bound state, no processing-time
  *    semantics anywhere;
  *  - sinks go through foreachBatch → idempotent partitioned parquet
  *    (dynamic partition overwrite), the scale-safe version of the
  *    reference's delete-then-append CSV merge (3:25-27).
  */
object Streaming {

  /** Logical column layout of the events table; `ts`'s physical type is
    * sniffed per fixture (the file has shipped as INT64 nanos and as
    * timestamp[us] across generations — see Tables.events). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over the events parquet, normalized to
    * `ts: TIMESTAMP` exactly like the batch `Tables.events` (same
    * physical-type sniff, same UTC contract), so stream-vs-batch
    * equivalence holds on any fixture generation. The file source
    * requires a user schema and a directory: the physical `ts` type is
    * read from the staged footer (one cheap batch analysis, no rows),
    * and the single testdata file is staged (hard-linked/copied once)
    * into a per-sf temp directory. A production layout would already be
    * a partitioned directory and stream directly. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagedEventsDir(sfDir)
    val physical = spark.read.parquet(dir).schema("ts").dataType
    val schema = StructType(eventsRawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = physical) else f))
    val raw = spark.readStream.schema(schema).parquet(dir)
    // Shared normalizer with the batch path (Tables.normalizeEventsTs):
    // same explicit type dispatch, same UTC require on the NTZ branch,
    // same fail-loud default — stream and batch can't drift apart.
    graft.Tables.normalizeEventsTs(spark, raw)
  }

  private def stagedEventsDir(sfDir: String): String =
    stagedDir(sfDir, "events", copies = 1)

  /** Stage a testdata table into a directory the file source can
    * stream (hard-link, copy fallback). Handles both fixture layouts:
    * a single `<table>.parquet` FILE (the driver's testdata) and a
    * `<table>.parquet/` DIRECTORY of part files (graft.Split's
    * multi-file fixtures — every part is linked). `copies` > 1 plants
    * duplicate inputs — micro-batch-spanning duplicates for the
    * incremental-dedup specs. */
  private def stagedDir(sfDir: String, table: String, copies: Int): String = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    val src = Paths.get(sfDir, s"$table.parquet")
    val parts: Seq[Path] =
      if (Files.isDirectory(src)) graft.sources.Versioned.listDir(src)
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
      else Seq(src)
    // "s2" marks the multi-part naming scheme: a staging dir populated
    // by the old single-file scheme must not be reused (its files would
    // sit alongside the new names and double the stream's input).
    val dir = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-$table-$copies-s2-" + Integer.toHexString(sfDir.hashCode))
    Files.createDirectories(dir)
    for (i <- 1 to copies; (p, j) <- parts.zipWithIndex) {
      val dst = dir.resolve(s"$table$i-$j.parquet")
      if (!Files.exists(dst)) {
        try Files.createLink(dst, p)
        catch { case _: Exception =>
          Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING) }
      }
    }
    dir.toString
  }

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over the documents table; `copies` = 2 feeds
    * every document twice (two files, maxFilesPerTrigger=1 → separate
    * micro-batches) so cross-batch dedup state is actually exercised. */
  def documentsStream(spark: SparkSession, sfDir: String, copies: Int = 1): DataFrame =
    spark.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(sfDir, "documents", copies))

  private val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over the embeddings table (same staging and
    * `copies` semantics as [[documentsStream]]). */
  def embeddingsStream(spark: SparkSession, sfDir: String, copies: Int = 1): DataFrame =
    spark.readStream
      .schema(embeddingsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagedDir(sfDir, "embeddings", copies))

  /** Streaming twin of q134's append assignment: new vectors arrive
    * continuously and land in the EXISTING IVF cells via the same
    * broadcast-codebook argmax code path the batch runs
    * (ops.Similarity.assignTo) — a stateless narrow map over the
    * stream, plus a stateful dropDuplicates so redelivered vectors
    * (overlapping crawl drops) assign once. The codebook is the small
    * static side; at 100 TB it is the persisted centroid table and the
    * stream never shuffles. Emits (vec_id, cluster). */
  def ivfAssignStream(vecs: DataFrame, cents: DataFrame): DataFrame =
    graft.ops.Similarity.assignTo(vecs.dropDuplicates("vec_id"), cents)
      .select(col("vec_id"), col("cluster"))

  /** Streaming twin of q136's blocklist scan: the Aho–Corasick
    * projection is stateless and narrow (the compiled DFA rides in the
    * expression, exactly the batch code path), and the running
    * per-pattern totals are a streaming aggregation over P keys —
    * state is O(patterns), the minimum any running total can hold, so
    * the stream never shuffles more than P partial rows per batch.
    * Emits (pos, docs_hit, occurrences) running totals; read with
    * outputMode complete. */
  def blocklistStream(docs: DataFrame, patterns: Seq[String]): DataFrame =
    docs.select(posexplode(
        graft.functions.TextFunctions.multiCount(col("text"), patterns))
        .as(Seq("pos", "n")))
      .groupBy("pos")
      .agg(count(when(col("n") > 0, 1)).as("docs_hit"),
        sum(col("n")).as("occurrences"))

  /** Streaming twin of the curation gate (ops.Clean q69+q26): quality
    * keep-filter → streaming exact dedup on the normalized fingerprint.
    * The dedup state is one fingerprint per kept doc, exactly the
    * incremental form of the batch groupBy — re-ingesting the same
    * corpus (or overlapping crawls) emits each kept doc once. A
    * production stream would bound state with
    * dropDuplicatesWithinWatermark; the corpus twin keeps full state
    * because corpus-level dedup is global by definition. */
  def curationStream(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs
      .withColumn("toks", tokens(col("text")))
      .filter(graft.ops.Clean.qualityKeep(col("toks")))
      .withColumn("fp", graft.ops.Clean.fingerprint(col("toks")))
      .drop("toks")
      .dropDuplicates("fp")
  }

  /** Streaming twin of q132's incremental dedup, in pure declarative
    * form (contrast [[lshDedupIngest]], the foreachBatch store-updating
    * variant): an incoming stream of (doc_id, toks) docs is probed
    * against the STATIC band index of the existing corpus
    * (ops.Dedup.indexBands) via a stream-static equi join, candidates
    * are VERIFIED at exact Jaccard >= 0.7 against the static shingle
    * sets (ops.Dedup.indexShingles), and a stateful dropDuplicates
    * collapses the <=4 band hits per doc to one verdict row. Emits one
    * row per verified-duplicate incoming doc; admission = stream minus
    * output.
    *
    * Scale shape: the stream side computes signature/shingles in-row
    * (narrow); both joins move band keys / candidate ids, never doc
    * payloads. At fixture scale the static index fits the broadcast
    * threshold; at 100 TB the static side is a bucketed staging table,
    * so the equi joins shuffle only the micro-batch's keys against it —
    * the plan shape is unchanged. State is one doc_id per verified dup
    * (watermark-boundable with dropDuplicatesWithinWatermark when the
    * stream carries event time). */
  def incrementalDedupStream(docs: DataFrame, indexBands: DataFrame,
      indexShingles: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{bandKeys, jaccardDup, tokenShingleHashes}
    val sig = docs
      .withColumn("sig", expr("graft_minhash(toks)"))
      .withColumn("sx", array_distinct(tokenShingleHashes(col("toks"))))
    val bands = sig.select(col("doc_id"), col("sx"), bandKeys(col("sig")).as("bkey"))
    bands
      .join(indexBands, "bkey")
      .select(col("doc_id"), col("sx"), col("idx_id"))
      .join(indexShingles, "idx_id")
      .filter(jaccardDup(col("sx"), col("sy")))
      .select("doc_id")
      .dropDuplicates("doc_id")
  }

  /** Streaming twin of q154's index delta: each incoming document emits
    * its own per-term posting rows (term, tf) computed IN-ROW — distinct
    * terms × an array-filter count — so the delta stream is stateless
    * narrow projection except the redelivery guard (dropDuplicates on
    * (doc_id, term): exactly-once deltas under at-least-once delivery;
    * tf is a pure function of the doc so redelivered rows are identical
    * and safe to collapse). The store-side merge is q154's batch merge
    * (semi-join affected terms, re-encode gaps), run per micro-batch the
    * way lshDedupIngest runs its store update. */
  def indexDeltaStream(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokens
    docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(transform(array_distinct(col("toks")),
        t => struct(t.as("term"),
          size(filter(col("toks"), x => x === t)).cast("long").as("tf")))).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
      .dropDuplicates("doc_id", "term")
  }

  /** Tumbling-window hourly counts with a 1-hour watermark — the
    * streaming twin of q14. Works unchanged in batch. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(18, 2)).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"),
        col("total_value"))

  /** SLIDING-window counts (1-hour windows every 15 minutes) with a
    * watermark — each event lands in up to 4 overlapping windows, the
    * trailing-window rate a monitoring pipeline emits continuously
    * (the streaming cousin of q111's RANGE frames; tumbling = q14's
    * twin above, session = below, completing the window-family
    * surface). Works unchanged in batch. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Native session windows (30-min gap) per user — the streaming twin
    * of q37/q41 sessionization. Works unchanged in batch. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("n_purchases"))

  /** Stream-static broadcast enrich: attach customer dimension columns
    * to the event stream. The static side is marked `broadcast`, so
    * every micro-batch plans a stateless BroadcastHashJoin — no state
    * store, no watermark, no shuffle of the stream — which is THE way
    * to dimension-join a firehose against a slowly-changing table at
    * cluster scale (the dim re-resolves per micro-batch, so a refreshed
    * dim table is picked up without restarting the query). Works
    * unchanged in batch. */
  def enrichStream(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("c_name").as("user_name"),
        col("c_mktsegment").as("segment"))

  /** Streaming exact-dedup on event_id with bounded state (watermark
    * ages out old keys) — the incremental twin of q26's hash dedup. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** One event for custom-state processing (ts in epoch seconds). */
  final case class Ev(user_id: Long, sec: Long, event_type: String, ts: java.sql.Timestamp)

  /** One completed session emitted by the custom-state sessionizer. */
  final case class Sess(user_id: Long, start_sec: Long, duration_sec: Long,
      n_events: Int, n_purchases: Int)

  /** Open-session state (public: the state encoder codegen needs
    * accessible constructor + accessors). */
  final case class SessState(start: Long, last: Long, n: Int, nPurchase: Int)

  /** Custom-state sessionization via flatMapGroupsWithState (SURVEY
    * §2.8): per-user state holds the open session; a >30 min gap (or an
    * event-time timeout) closes it and emits one Sess row. State is one
    * tiny struct per user — bounded by the watermark, not by history —
    * which is what makes arbitrary-window sessionization feasible on an
    * unbounded stream. Events inside a micro-batch are sorted per user
    * (bounded per batch); an ordered source can skip that sort. */
  def sessionizeCustomState(events: DataFrame): org.apache.spark.sql.Dataset[Sess] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val GapSec = 1800L
    val evs = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_type"), col("ts"))
      .as[Ev]
    def close(s: SessState, uid: Long): Sess =
      Sess(uid, s.start, s.last - s.start, s.n, s.nPurchase)
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Sess](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(close(_, uid))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.sec, e.event_type))
            val emitted = Seq.newBuilder[Sess]
            var cur = state.getOption
            sorted.foreach { e =>
              val p = if (e.event_type == "purchase") 1 else 0
              cur match {
                case Some(s) if e.sec - s.last <= GapSec =>
                  cur = Some(SessState(s.start, e.sec, s.n + 1, s.nPurchase + p))
                case Some(s) =>
                  emitted += close(s, uid)
                  cur = Some(SessState(e.sec, e.sec, 1, p))
                case None =>
                  cur = Some(SessState(e.sec, e.sec, 1, p))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.last + GapSec) * 1000L)
            }
            emitted.result().iterator
          }
      }
  }

  /** Output row of the transformWithState counter. */
  final case class UserCounts(user_id: Long, n_events: Long, n_purchases: Long)

  /** Per-user running counters on Spark 4's transformWithState API
    * (StatefulProcessor + typed ValueState, RocksDB state store): the
    * successor to flatMapGroupsWithState — named state slots with
    * per-slot TTL instead of one opaque state object. Update mode
    * emits the running totals per key each batch. */
  class UserCountsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserCounts] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[UserCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserCounts]("counts",
        org.apache.spark.sql.Encoders.product[UserCounts], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[UserCounts] = {
      var n = 0L
      var np = 0L
      if (st.exists()) {
        val prev = st.get()
        n = prev.n_events
        np = prev.n_purchases
      }
      rows.foreach { e =>
        n += 1
        if (e.event_type == "purchase") np += 1
      }
      val out = UserCounts(key, n, np)
      st.update(out)
      Iterator.single(out)
    }
  }

  /** Output row of the MapState histogram processor. */
  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user event-type histogram on transformWithState MapState: one
    * state map per user keyed by event type — the keyed-sub-state shape
    * (e.g. per-feature counters) that flatMapGroupsWithState could only
    * fake with one serialized blob. Update mode re-emits the full
    * histogram per batch. */
  class TypeCountsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TypeCount] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var m: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      m = getHandle.getMapState[String, Long]("byType",
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TypeCount] = {
      rows.foreach { e =>
        val prev = if (m.containsKey(e.event_type)) m.getValue(e.event_type) else 0L
        m.updateValue(e.event_type, prev + 1)
      }
      m.iterator().map { case (t, n) => TypeCount(key, t, n) }
    }
  }

  /** transformWithState wiring for the MapState histogram. */
  def typeCountsTws(events: DataFrame): org.apache.spark.sql.Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_type"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Output row of the ListState last-events processor. */
  final case class LastEvents(user_id: Long, last3_secs: String)

  /** Last-3 event timestamps per user on transformWithState ListState —
    * the bounded-recent-history shape (feature windows, "last N actions"
    * context) kept as a typed list instead of a serialized blob. Events
    * inside a batch are sorted per user before appending (bounded per
    * batch), mirroring the fMGWS sessionizer. */
  class LastEventsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, LastEvents] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var ls: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ls = getHandle.getListState[Long]("last",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[LastEvents] = {
      val incoming = rows.toSeq.sortBy(e => (e.sec, e.ts.getTime)).map(_.sec)
      val prev = if (ls.exists()) ls.get().toSeq else Seq.empty
      // merge then re-sort by event time: a late batch must not leave
      // arrival order in the tail — last3 is the 3 LATEST event times
      val kept = (prev ++ incoming).sorted.takeRight(3)
      ls.put(kept.toArray)
      Iterator.single(LastEvents(key, kept.mkString("|")))
    }
  }

  /** transformWithState wiring for the ListState last-events processor. */
  def lastEventsTws(events: DataFrame): org.apache.spark.sql.Dataset[LastEvents] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_type"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new LastEventsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Sessionization on transformWithState with EVENT-TIME TIMERS: the
    * open session closes either when a newer event arrives past the
    * 30-min gap, or when the registered timer fires as the watermark
    * passes last+gap. The timer path is what emits a user's FINAL
    * session on an unbounded stream without waiting for their next
    * visit — the capability fMGWS spells as timeouts, here as explicit
    * per-key timers (register/delete/expire) on the Spark 4 API. */
  class TimerSessionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Sess] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    private val GapSec = 1800L
    @transient private var open: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessState]("open",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)

    private def close(uid: Long, s: SessState): Sess =
      Sess(uid, s.start, s.last - s.start, s.n, s.nPurchase)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Sess] = {
      val sorted = rows.toSeq.sortBy(e => (e.sec, e.event_type))
      val out = Seq.newBuilder[Sess]
      var cur = if (open.exists()) Option(open.get()) else None
      // the new end-of-session timer replaces any previously registered one
      cur.foreach(s => getHandle.deleteTimer((s.last + GapSec) * 1000L))
      sorted.foreach { e =>
        val p = if (e.event_type == "purchase") 1 else 0
        cur match {
          case Some(s) if e.sec - s.last <= GapSec =>
            cur = Some(SessState(s.start, e.sec, s.n + 1, s.nPurchase + p))
          case Some(s) =>
            out += close(key, s)
            cur = Some(SessState(e.sec, e.sec, 1, p))
          case None =>
            cur = Some(SessState(e.sec, e.sec, 1, p))
        }
      }
      cur.foreach { s =>
        open.update(s)
        getHandle.registerTimer((s.last + GapSec) * 1000L)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Sess] = {
      if (open.exists()) {
        val s = open.get()
        // stale-timer guard: only a timer matching the CURRENT session
        // end may close it (a newer event re-registered a later timer)
        if (expiredTimerInfo.getExpiryTimeInMs() >= (s.last + GapSec) * 1000L) {
          open.clear()
          Iterator.single(close(key, s))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** transformWithState wiring for the timer sessionizer: event-time
    * mode (timers fire off the watermark), append output. Requires the
    * RocksDB state store provider (set by the caller/spec). */
  def timerSessionsTws(events: DataFrame): org.apache.spark.sql.Dataset[Sess] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_type"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** transformWithState wiring for the counter processor. Requires the
    * RocksDB state store provider (set by the caller/spec). */
  def userCountsTws(events: DataFrame): org.apache.spark.sql.Dataset[UserCounts] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_type"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new UserCountsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Stream-stream interval join: each purchase matched to the same
    * user's views in the preceding hour. Both sides watermarked and the
    * join condition bounds event-time distance, so view state expires —
    * the state store holds one hour of views per user, not history.
    * Works unchanged in batch (the interval-join twin of q40's as-of). */
  def purchaseViewJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(views,
        col("user_id") === col("v_user")
          && col("view_ts") >= col("p_ts") - expr("interval 1 hour")
          && col("view_ts") <= col("p_ts"))
      .select(col("event_id"), col("user_id"), col("p_ts"), col("view_ts"))
  }

  /** Run any of the above to completion over the currently-available
    * input (Trigger.AvailableNow) into an in-memory table; returns the
    * query after termination. Update mode emits every group's final
    * running value for finite input — equal to the batch answer. */
  def runToMemory(df: DataFrame, name: String, mode: String = "update"): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Incremental MinHash-LSH near-dedup ingest: admit each micro-batch
    * of documents against a PERSISTENT band-fingerprint store — the
    * streaming form of the q27/q30 batch near-dedup, and the shape a
    * continuous crawl runs at scale: the corpus-so-far is represented
    * only by its LSH band keys (16-perm signature, 4 bands × 4 rows —
    * same parameters as the batch pack), so admission reads the store's
    * keys, never the corpus itself.
    *
    * Per batch, with `tag` = `<query id>-<batch id>`:
    *  1. signature + band keys `(bkey, doc_id)` for the new docs (the
    *     native `graft_minhash` expression);
    *  2. decide, with ONE exchange on `bkey`: the batch's rows unioned
    *     with the store's keys (store rows carry a NULL doc_id), one
    *     window per key computing `stored` (the key is already in the
    *     store) and `first` (the smallest batch doc id holding it), the
    *     batch rows materialized once. A doc is dropped iff any of its
    *     rows has `stored OR doc_id > first`: a near-dup of something
    *     already seen, or of a lower-id batchmate (greedy first-wins,
    *     the batch resolver's min-id-canonical rule). The materializing
    *     job also returns the dropped ids (at most the batch's docs);
    *  3. two sinks, written CONCURRENTLY on two driver threads: the
    *     survivors to `outDir/ingest_batch=<tag>`, and the keys new to
    *     the store, one row per key with `NOT stored AND doc_id = first`
    *     (provenance is the smallest contributing doc id), to
    *     `stateDir/ingest_batch=<tag>`.
    *     If either write fails the batch fails and replays. The snapshot
    *     is released once both are done.
    * Every job of the batch carries the job tag `lsh admit <tag>`, and
    * each step's jobs also `lsh admit <tag>: decide`, `: out` or
    * `: store`, so a graft.Obs record splits per batch and per step.
    * Keys of EVERY seen doc — admitted or dropped — enter the store. That
    * makes admission independent of micro-batch boundaries: a doc that
    * near-dups a previously-DROPPED doc is itself dropped, exactly as the
    * single-batch greedy rule would chain (store only admitted keys and
    * the chain breaks when the middle doc falls in an earlier batch).
    *
    * Replay. Both sinks overwrite only the batch's own partition (dynamic
    * partition overwrite, set per write: the session's mode is left as
    * it was), and step 2 reads the store WITHOUT that
    * partition. The query id lives in the checkpoint, so a batch replayed
    * after a crash carries the same tag, whichever of its two writes had
    * landed: it sees the store its first attempt saw, decides the same,
    * and overwrites both partitions. A fresh checkpoint brings a fresh
    * query id, so batch ids restarting at 0 never clobber an earlier
    * run's partitions. `doc_id` must be non-NULL: NULL marks store rows.
    * [[lshStoreCompact]] bounds the store's file count as it grows.
    *
    * State is O(4 keys × distinct docs seen) — independent of raw
    * re-delivery volume (a stored key is never stored again), the
    * property that makes continuous dedup viable at 100 TB ingest
    * rates. */
  def lshDedupIngest(docs: DataFrame, stateDir: String, outDir: String,
      checkpoint: String): StreamingQuery = {
    import graft.functions.TextFunctions.{bandKeys, tokens}
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val sc = s.sparkContext
        val queryId = sc.getLocalProperty(StreamExecution.QUERY_ID_KEY)
        require(queryId != null, "lshDedupIngest: no streaming query id on the batch thread")
        val tag = s"$queryId-$batchId"
        Obs.tagged(sc, s"lsh admit $tag") {
          val bands = batch
            .withColumn("toks", tokens(col("text")))
            .withColumn("sig", expr("graft_minhash(toks)"))
            .select(bandKeys(col("sig")).as("bkey"), col("doc_id"))
          val store = readStore(s, stateDir).where(col("ingest_batch") =!= tag)
            .select(col("bkey"), lit(null).cast(LongType).as("doc_id"))
          // one exchange on bkey; every function below shares its sort
          val byKey = Window.partitionBy("bkey").orderBy("doc_id")
          val wholeKey = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          val stored = max(col("doc_id").isNull).over(wholeKey)
          val first = min(col("doc_id")).over(wholeKey)
          val (decided, drops) = Obs.tagged(sc, s"lsh admit $tag: decide") {
            Materialize.fold(bands.union(store)
                .select(col("bkey"), col("doc_id"),
                  (stored || col("doc_id") > first).as("drop"),
                  // first row of a key the store lacks: doc_id = first
                  (!stored && row_number().over(byKey) === 1).as("new_key"))
                .where(col("doc_id").isNotNull)) {
              _.filter(_.getBoolean(2)).map(_.getLong(1)).toSet
            }
          }
          val kept = batch.where(!col("doc_id").isInCollection(drops.flatten.distinct))
          val newKeys = decided.where(col("new_key")).select("bkey", "doc_id")
          def sink(df: DataFrame, dir: String): () => Unit = () =>
            df.withColumn("ingest_batch", lit(tag))
              .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch").parquet(dir)
          try concurrently(sc, Seq(
            s"lsh admit $tag: out" -> sink(kept, outDir),
            s"lsh admit $tag: store" -> sink(newKeys, stateDir)))
          finally Materialize.release(decided)
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The [[lshDedupIngest]] band store: parquet partitioned by
    * `ingest_batch`. */
  private val storeSchema = StructType(Seq(
    StructField("bkey", StringType),
    StructField("doc_id", LongType),
    StructField("ingest_batch", StringType)))

  /** The band store read with its known schema (no inference job); empty
    * before the first batch lands. */
  private def readStore(spark: SparkSession, stateDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (root.getFileSystem(spark.sessionState.newHadoopConf()).exists(root))
      spark.read.schema(storeSchema).parquet(stateDir)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), storeSchema)
  }

  /** Run each `(job tag, body)` on its own driver thread, which inherits
    * this thread's Spark local properties (job tags, streaming batch id,
    * SQL execution id); wait for all, then rethrow the first failure. */
  private def concurrently(sc: SparkContext, bodies: Seq[(String, () => Unit)]): Unit = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    val pool = Executors.newFixedThreadPool(bodies.length)
    try {
      val running = bodies.map { case (tag, body) =>
        pool.submit(new Callable[Unit] { def call(): Unit = Obs.tagged(sc, tag)(body()) })
      }
      val failures = running.flatMap(f => scala.util.Try(f.get()).failed.toOption.map {
        case e: ExecutionException => e.getCause
        case e => e
      })
      failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
    } finally pool.shutdown()
  }

  /** Retention hook for the [[lshDedupIngest]] band store. Rows are
    * already bounded (a stored key is never stored again — O(4 × distinct
    * docs seen) forever), but the LAYOUT grows one
    * `ingest_batch=<query>-<id>` partition directory per micro-batch
    * without bound, and every batch's admission re-lists all of them.
    * This rewrites the store into one compacted generation of
    * `targetFiles` files (keeping the canonical min-doc_id provenance
    * per key), then removes the superseded batch partitions — the
    * snapshot-table vacuum pattern applied to streaming state. Crash
    * ordering: the compacted generation lands durably BEFORE the old
    * partitions are dropped, so an interrupted compaction leaves
    * duplicate keys (harmless to admission; the next compact collapses
    * them), never a lost key. Run it between ingest runs, like vacuum:
    * a batch replayed after compaction no longer finds its own
    * partition to leave out of the store. */
  def lshStoreCompact(spark: SparkSession, stateDir: String, targetFiles: Int = 4): Unit = {
    // Hadoop FileSystem API, not java.io.File: the store lives wherever
    // the pipeline writes parquet (HDFS/S3A in production, file:// in
    // tests), and a silent local-only vacuum would leave the superseded
    // partitions accumulating forever on a real cluster.
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val oldParts = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_batch="))
    if (oldParts.isEmpty) return
    val gen = s"compact-${java.util.UUID.randomUUID.toString.take(8)}"
    Obs.tagged(spark.sparkContext, "lsh compact") {
      // materialize the compacted snapshot BEFORE writing into the same
      // root (the self-read would otherwise race its own output files);
      // the one exchange on bkey serves both the per-key min and the
      // file count
      val compacted = Materialize.snapshot(spark.read.schema(storeSchema).parquet(stateDir)
        .repartition(targetFiles, col("bkey"))
        .groupBy("bkey").agg(min(col("doc_id")).as("doc_id")))
      try compacted.withColumn("ingest_batch", lit(gen))
        .write.mode("append").partitionBy("ingest_batch").parquet(stateDir)
      finally Materialize.release(compacted)
    }
    // fail loud on an undeletable partition: admission stays correct with
    // duplicate keys in the store, but the operator must know the vacuum
    // did not complete (next compact retries the same partitions)
    val undeleted = oldParts.filterNot(st => fs.delete(st.getPath, true))
    if (undeleted.nonEmpty)
      throw new java.io.IOException(
        s"lshStoreCompact: ${undeleted.length} superseded partition(s) under " +
          s"$stateDir could not be removed (${undeleted.map(_.getPath.getName).mkString(", ")}); " +
          "duplicate band keys persist until a later compact succeeds")
  }

  /** Incremental ingest sink: append the stream to date-partitioned
    * parquet via foreachBatch with a per-write dynamic partition
    * overwrite (the session's mode is left as it was) — each
    * re-delivered date partition replaces its previous version
    * idempotently (the Spark-native version of the reference's
    * delete-then-rebuild merge, K2/U1). */
  def ingestToParquet(events: DataFrame, outDir: String, checkpoint: String): StreamingQuery = {
    val q = events
      .withColumn("event_date", to_date(col("ts")))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_date")
          .parquet(outDir)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming curation sink: every micro-batch lands in the
    * snapshot-versioned table via the replay-safe dedup-append commit
    * ([[graft.sources.Versioned.commitDedupAppend]]) — new fingerprints
    * append as a new atomic version, duplicates (within the batch,
    * across batches, and on at-least-once redelivery) are dropped, and
    * concurrent readers keep seeing the previous snapshot until the
    * manifest rename lands. The streaming twin of the batch ingest: at
    * 100 TB each micro-batch's anti-join reads only the snapshot's
    * fingerprint column. */
  def ingestToVersioned(docs: DataFrame, tableDir: String, checkpoint: String,
      fpCol: String, tieBreak: String): StreamingQuery = {
    val q = docs
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Versioned.commitDedupAppend(
          batch.sparkSession, tableDir, batch, fpCol, tieBreak)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
