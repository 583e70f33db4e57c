package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Stream-vs-batch equivalence: every streaming transform is the same
  * DataFrame code run incrementally, so running it over a finite input
  * with Trigger.AvailableNow must reproduce the batch answer exactly. */
class StreamingSpec extends SparkSpec {

  private def batchEvents = Tables.events(spark, sf)

  test("streaming hourly counts == batch hourly counts") {
    val q = Streaming.runToMemory(
      Streaming.hourlyCounts(Streaming.eventsStream(spark, sf)), "hourly")
    val got = spark.table("hourly")
      .groupBy("hour_start", "event_type")
      .agg(max("n").as("n"), max("total_value").as("total_value"))
    val want = Streaming.hourlyCounts(batchEvents)
    assert(got.count() > 0)
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
    q.stop()
  }

  test("streaming sliding windows == batch sliding windows (4 overlapping windows per event)") {
    val q = Streaming.runToMemory(
      Streaming.slidingCounts(Streaming.eventsStream(spark, sf)), "sliding")
    val got = spark.table("sliding")
      .groupBy("win_start", "event_type").agg(max("n").as("n"))
    val want = Streaming.slidingCounts(batchEvents)
    assert(got.count() > 0)
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
    // sliding assigns each event to window_len/slide = 4 windows
    val totalAssigned = want.agg(sum("n")).head().getLong(0)
    assert(totalAssigned == 4 * batchEvents.count(),
      s"expected 4 assignments per event, got $totalAssigned")
    q.stop()
  }

  test("streaming session windows == batch session windows") {
    val q = Streaming.runToMemory(
      Streaming.sessionCounts(Streaming.eventsStream(spark, sf)), "sessions",
      mode = "complete")
    val got = spark.table("sessions")
    val want = Streaming.sessionCounts(batchEvents)
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
    q.stop()
  }

  test("streaming dedup keeps one row per event_id") {
    val q = Streaming.runToMemory(
      Streaming.dedupStream(Streaming.eventsStream(spark, sf)), "dedup", mode = "append")
    assert(spark.table("dedup").count() == batchEvents.select("event_id").distinct().count())
    q.stop()
  }

  test("flatMapGroupsWithState sessionization emits exactly the closed sessions") {
    val q = Streaming.runToMemory(
      Streaming.sessionizeCustomState(Streaming.eventsStream(spark, sf)).toDF(),
      "custom_sessions", mode = "append")
    val got = spark.table("custom_sessions")
    // batch truth: q37-style sessions; with a single AvailableNow batch
    // the stream emits every session except each user's final one
    // (still open in state when the stream ends).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val all = batchEvents
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("prev", lag("sec", 1).over(w))
      .withColumn("is_new", when(col("prev").isNull || col("sec") - col("prev") > 1800, 1).otherwise(0))
      .withColumn("sess", sum("is_new").over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "sess")
      .agg(min("sec").as("start_sec"),
        (max("sec") - min("sec")).as("duration_sec"),
        count(lit(1)).cast("int").as("n_events"),
        count(when(col("event_type") === "purchase", 1)).cast("int").as("n_purchases"))
    val lastPerUser = all.groupBy("user_id").agg(max("sess").as("sess"))
    val nonFinal = all.join(lastPerUser, Seq("user_id", "sess"), "left_anti").drop("sess")
    val allSess = all.drop("sess")
    val gotSel = got.select("user_id", "start_sec", "duration_sec", "n_events", "n_purchases")
    // every non-final session must be emitted (closed by a newer event);
    // final sessions may also emit via event-time timeout; nothing else.
    assert(nonFinal.exceptAll(gotSel).isEmpty, "missing closed sessions")
    assert(gotSel.exceptAll(allSess).isEmpty, "emitted a session batch never saw")
    assert(got.count() > 0)
    q.stop()
  }

  test("eventsStream adapts to a legacy nanos-as-long fixture (same counts)") {
    // The current testdata ships ts as timestamp[us]; the legacy branch
    // (INT64 nanos) is live loader code and must keep producing the
    // identical stream. Synthesize a legacy-encoded sfDir: same rows as
    // the real fixture, ts re-encoded as epoch-nano longs, written as a
    // single parquet FILE (stagedDir hard-links $sfDir/events.parquet).
    val legacyDir = java.nio.file.Files.createTempDirectory("graft-legacy-sf")
    val tmpOut = legacyDir.resolve("out").toString
    Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .repartition(1)
      .write.parquet(tmpOut)
    val part = sources.Versioned.listDir(java.nio.file.Paths.get(tmpOut))
      .find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, legacyDir.resolve("events.parquet"))
    val q = Streaming.runToMemory(
      Streaming.hourlyCounts(Streaming.eventsStream(spark, legacyDir.toString)),
      "hourly_legacy")
    val got = spark.table("hourly_legacy")
      .groupBy("hour_start", "event_type")
      .agg(max("n").as("n"), max("total_value").as("total_value"))
    val want = Streaming.hourlyCounts(batchEvents)
    assert(got.count() > 0)
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty,
      "legacy-encoded stream diverged from the batch answer")
    q.stop()
  }

  test("stream-stream interval join == batch interval join") {
    val q = Streaming.runToMemory(
      Streaming.purchaseViewJoin(Streaming.eventsStream(spark, sf)), "pvjoin",
      mode = "append")
    val got = spark.table("pvjoin")
    val want = Streaming.purchaseViewJoin(batchEvents)
    assert(got.count() > 0)
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
    q.stop()
  }

  test("stream-static broadcast enrich == batch join, stateless and broadcast in-plan") {
    val dim = Tables.customer(spark, sf)
    val q = Streaming.runToMemory(
      Streaming.enrichStream(Streaming.eventsStream(spark, sf), dim), "enrich",
      mode = "append")
    val got = spark.table("enrich")
    val want = Streaming.enrichStream(batchEvents, dim)
    assert(got.count() == batchEvents.count(), "left enrich preserves every event")
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
    // no state store was created: a stateless enrich reports zero
    // state operators in the final progress
    assert(q.lastProgress.stateOperators.isEmpty, "enrich must be stateless")
    q.stop()
    // and the same code in batch plans a broadcast hash join
    val batchPlan = want.queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), s"dim not broadcast:\n$batchPlan")
  }

  test("transformWithState running counters == batch counts (RocksDB store)") {
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = Streaming.runToMemory(
        Streaming.userCountsTws(Streaming.eventsStream(spark, sf)).toDF(),
        "tws_counts", mode = "update")
      // update mode re-emits per batch; last value per user is the total
      val got = spark.table("tws_counts")
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"), max("n_purchases").as("n_purchases"))
      val want = batchEvents.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
      assert(got.count() > 0)
      assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
      q.stop()
    }
  }

  test("transformWithState MapState histogram == batch (user, type) counts") {
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = Streaming.runToMemory(
        Streaming.typeCountsTws(Streaming.eventsStream(spark, sf)).toDF(),
        "tws_hist", mode = "update")
      val got = spark.table("tws_hist")
        .groupBy("user_id", "event_type").agg(max("n").as("n"))
      val want = batchEvents.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      assert(got.count() > 0)
      assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
      q.stop()
    }
  }

  test("transformWithState ListState last-3 == batch window tail") {
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = Streaming.runToMemory(
        Streaming.lastEventsTws(Streaming.eventsStream(spark, sf)).toDF(),
        "tws_last", mode = "update")
      // single AvailableNow batch -> one row per user with the final list
      val got = spark.table("tws_last")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("sec").desc, col("ts").desc)
      val want = batchEvents
        .select(col("user_id"), unix_timestamp(col("ts")).as("sec"), col("ts"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .groupBy("user_id")
        .agg(concat_ws("|", transform(
          sort_array(collect_list(struct(col("sec"), col("ts")))),
          e => e.getField("sec").cast("string"))).as("last3_secs"))
      assert(got.count() > 0)
      assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
      q.stop()
    }
  }

  test("transformWithState event-time timers close sessions like fMGWS") {
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = Streaming.runToMemory(
        Streaming.timerSessionsTws(Streaming.eventsStream(spark, sf)).toDF(),
        "tws_timer_sessions", mode = "append")
      val got = spark.table("tws_timer_sessions")
        .select("user_id", "start_sec", "duration_sec", "n_events", "n_purchases")
      // batch truth (same construction as the fMGWS test): every
      // non-final session must be emitted; finals may emit via timer
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val all = batchEvents
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("prev", lag("sec", 1).over(w))
        .withColumn("is_new", when(col("prev").isNull || col("sec") - col("prev") > 1800, 1).otherwise(0))
        .withColumn("sess", sum("is_new").over(w.rowsBetween(Long.MinValue, 0)))
        .groupBy("user_id", "sess")
        .agg(min("sec").as("start_sec"),
          (max("sec") - min("sec")).as("duration_sec"),
          count(lit(1)).cast("int").as("n_events"),
          count(when(col("event_type") === "purchase", 1)).cast("int").as("n_purchases"))
      val lastPerUser = all.groupBy("user_id").agg(max("sess").as("sess"))
      val nonFinal = all.join(lastPerUser, Seq("user_id", "sess"), "left_anti").drop("sess")
      val allSess = all.drop("sess")
      assert(nonFinal.exceptAll(got).isEmpty, "missing closed sessions")
      assert(got.exceptAll(allSess).isEmpty, "emitted a session batch never saw")
      assert(got.count() > 0)
      q.stop()
    }
  }

  test("streaming incremental dedup (stream-static band probe) == batch q132 dup set") {
    import graft.functions.TextFunctions.tokens
    // synthesize the SAME incoming batch as q132 (Dedup.corpus's copies:
    // near = first token dropped, exact = verbatim), delivered twice
    // across micro-batches so the verdict-collapse state is exercised
    val base = Streaming.documentsStream(spark, sf, copies = 2)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("toks"))
    val near = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        slice(col("toks"), lit(2), size(col("toks"))).as("toks"))
    val exact = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("toks"))
    val q = Streaming.runToMemory(
      Streaming.incrementalDedupStream(near.unionByName(exact),
        ops.Dedup.indexBands(spark, sf), ops.Dedup.indexShingles(spark, sf)),
      "incdedup", mode = "append")
    val got = spark.table("incdedup").select("doc_id").distinct()
    val want = ops.Dedup.q132IncrementalDedup.fn(spark, sf)
      .filter(col("decision") === "dup").select("doc_id")
    assert(got.count() > 0)
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty,
      "streaming verified-dup set must equal the batch q132 dup set")
    q.stop()
  }

  test("streaming IVF assignment (stream-static codebook argmax) == batch q134 per-cell counts") {
    // the SAME append batch q134 synthesizes (rotated %4 vectors),
    // delivered twice across micro-batches: the dropDuplicates state
    // must collapse the redelivery before assignment counts
    val newb = Streaming.embeddingsStream(spark, sf, copies = 2)
      .filter(col("vec_id") % 4 === 0)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("concat(slice(v, 2, 63), slice(v, 1, 1))").as("v"))
    val q = Streaming.runToMemory(
      Streaming.ivfAssignStream(newb, ops.Similarity.labelCentroids(spark, sf)),
      "ivfassign", mode = "append")
    val got = spark.table("ivfassign")
    val nNewIds = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 4 === 0).count()
    assert(got.count() == nNewIds, "each appended vector assigns exactly once")
    val gotAgg = got.groupBy(col("cluster").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_new"))
    val want = ops.Similarity.q134IvfAppend.fn(spark, sf)
      .select(col("cell"), col("n_new")).filter(col("n_new") > 0)
    assert(want.exceptAll(gotAgg).isEmpty && gotAgg.exceptAll(want).isEmpty,
      "streaming per-cell assignment counts must equal batch q134 n_new")
    q.stop()
  }

  test("streaming blocklist running totals (complete mode) == batch q136") {
    val pats = ops.Clean.BlocklistPats
    val q = Streaming.runToMemory(
      Streaming.blocklistStream(Streaming.documentsStream(spark, sf), pats),
      "blocklist", mode = "complete")
    val got = spark.table("blocklist")
      .select(element_at(array(pats.map(lit): _*), col("pos") + 1).as("pat"),
        col("docs_hit"), col("occurrences"))
    val want = ops.Clean.q136BlocklistScan.fn(spark, sf)
      .select("pat", "docs_hit", "occurrences")
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty,
      "streaming totals after the last micro-batch must equal the batch scan")
    q.stop()
  }

  test("streaming index delta (stateless in-row tf) == batch q154 batch-side rows") {
    // the q154 append batch (doc_id % 10 = 0), delivered twice across
    // micro-batches; the (doc_id, term) redelivery guard must collapse
    // the second arrival to keep deltas exactly-once
    val q = Streaming.runToMemory(
      Streaming.indexDeltaStream(
        Streaming.documentsStream(spark, sf, copies = 2)
          .filter(col("doc_id") % 10 === 0)),
      "idxdelta", mode = "append")
    val got = spark.table("idxdelta")
    val want = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    assert(got.count() > 0 && got.count() == want.count())
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty,
      "streamed per-(doc, term) tf deltas must equal the batch aggregation")
    q.stop()
  }

  test("streaming curation: quality gate + cross-batch dedup == batch pipeline") {
    // every document arrives TWICE in separate micro-batches; the
    // streaming dedup state must collapse the second arrival
    val q = Streaming.runToMemory(
      Streaming.curationStream(Streaming.documentsStream(spark, sf, copies = 2)),
      "curated_docs", mode = "append")
    val got = spark.table("curated_docs")
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    // localCheckpoint: ExceptAll's sum-tag rewrite mis-binds through a
    // Deduplicate child (Spark optimizer edge case) — materialize first
    val want = Tables.documents(spark, sf)
      .withColumn("toks", toks)
      .filter(ops.Clean.qualityKeep(col("toks")))
      .withColumn("fp", ops.Clean.fingerprint(col("toks")))
      .drop("toks")
      .dropDuplicates("fp")
      .localCheckpoint()
    assert(got.count() > 0 && got.count() == want.count())
    assert(want.select("doc_id", "lang", "fp").exceptAll(
      got.select("doc_id", "lang", "fp")).isEmpty)
    q.stop()
  }

  test("incremental LSH near-dedup: store rejects re-ingest, restart keeps state, greedy == batch") {
    val state = Files.createTempDirectory("graft-lsh").toString + "/state"
    val out = Files.createTempDirectory("graft-lsh").toString + "/out"
    // copies=2 → two identical files, maxFilesPerTrigger=1 → the whole
    // corpus arrives twice in separate micro-batches
    Streaming.lshDedupIngest(
      Streaming.documentsStream(spark, sf, copies = 2), state, out,
      Files.createTempDirectory("graft-lsh-cp").toString)
    val admitted = spark.read.parquet(out)
    val n = admitted.count()
    assert(n > 0)
    // batch 2 is an exact replay: every doc collides with batch 1's
    // stored band keys, so no id is admitted twice
    assert(admitted.select("doc_id").distinct().count() == n,
      "replayed corpus must not re-admit")
    // stream admission == the same greedy rule run as one batch
    import graft.functions.TextFunctions.{bandKey, tokens}
    val bands = Tables.documents(spark, sf)
      .withColumn("toks", tokens(col("text")))
      .withColumn("sig", expr("graft_minhash(toks)"))
      .select(col("doc_id"),
        explode(array((0 until 4).map(b => bandKey(col("sig"), b, 4)): _*)).as("bkey"))
    val losers = bands.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_id")).distinct()
    val wantIds = Tables.documents(spark, sf).select("doc_id")
      .join(losers, Seq("doc_id"), "left_anti")
    assert(admitted.select("doc_id").exceptAll(wantIds).isEmpty &&
      wantIds.exceptAll(admitted.select("doc_id")).isEmpty)
    // a restarted query (fresh checkpoint) against the same store
    // re-reads the persisted band keys and admits nothing new
    Streaming.lshDedupIngest(
      Streaming.documentsStream(spark, sf, copies = 1), state, out,
      Files.createTempDirectory("graft-lsh-cp2").toString)
    assert(spark.read.parquet(out).count() == n, "restart must honor the persistent store")
  }

  test("LSH band store stays bounded: replays add no rows, compaction bounds the layout") {
    val state = Files.createTempDirectory("graft-lshb").toString + "/state"
    val out = Files.createTempDirectory("graft-lshb").toString + "/out"
    // one real ingest + three full replays (fresh checkpoints, same store)
    for (i <- 0 until 4)
      Streaming.lshDedupIngest(
        Streaming.documentsStream(spark, sf, copies = 1), state, out,
        Files.createTempDirectory(s"graft-lshb-cp$i").toString)
    val store = spark.read.parquet(state)
    val distinctKeys = store.select("bkey").distinct().count()
    val nDocs = Tables.documents(spark, sf).count()
    assert(store.count() == distinctKeys, "replays must not re-add stored keys")
    assert(distinctKeys <= 4 * nDocs, "store must stay O(4 keys x docs seen)")
    val nAdmitted = spark.read.parquet(out).count()
    // compact: rows unchanged, layout collapses to one bounded generation
    Streaming.lshStoreCompact(spark, state, targetFiles = 2)
    val parts = Option(new java.io.File(state).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
    assert(parts.length == 1, s"expected one compacted generation, got ${parts.map(_.getName).toSeq}")
    val dataFiles = parts.head.listFiles().count(_.getName.endsWith(".parquet"))
    assert(dataFiles <= 2, s"compaction must bound data files, got $dataFiles")
    assert(spark.read.parquet(state).count() == distinctKeys,
      "compaction must preserve every stored key")
    // admission against the compacted store: a further replay admits nothing
    Streaming.lshDedupIngest(
      Streaming.documentsStream(spark, sf, copies = 1), state, out,
      Files.createTempDirectory("graft-lshb-cp-post").toString)
    assert(spark.read.parquet(out).count() == nAdmitted,
      "compacted store must keep rejecting the replayed corpus")
  }

  test("compaction interleaved with replay pressure: admission and store stay exact") {
    // The production cadence is ingest -> compact -> ingest -> compact;
    // this pins that a compacted store keeps exactly the same admission
    // behavior under a full replay, and that a second compact collapses
    // the replay's batch partitions back into one bounded generation.
    val state = Files.createTempDirectory("graft-lshc").toString + "/state"
    val out = Files.createTempDirectory("graft-lshc").toString + "/out"
    Streaming.lshDedupIngest(
      Streaming.documentsStream(spark, sf, copies = 1), state, out,
      Files.createTempDirectory("graft-lshc-cp0").toString)
    Streaming.lshStoreCompact(spark, state, targetFiles = 2)
    val keys0 = spark.read.parquet(state).select("bkey", "doc_id")
      .collect().map(_.toSeq).toSet
    val n = spark.read.parquet(out).count()
    assert(n > 0 && keys0.nonEmpty)
    // replay the whole corpus twice over against the compacted store,
    // then compact again
    Streaming.lshDedupIngest(
      Streaming.documentsStream(spark, sf, copies = 2), state, out,
      Files.createTempDirectory("graft-lshc-cp1").toString)
    Streaming.lshStoreCompact(spark, state, targetFiles = 2)
    assert(spark.read.parquet(out).count() == n,
      "replay against a compacted store must admit nothing new")
    assert(spark.read.parquet(state).select("bkey", "doc_id")
      .collect().map(_.toSeq).toSet == keys0,
      "compaction must preserve the exact (bkey, provenance) set")
    // layout check through the same FileSystem API the vacuum uses
    val root = new org.apache.hadoop.fs.Path(state)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_batch="))
    assert(parts.length == 1,
      s"expected one generation after recompact, got ${parts.map(_.getPath.getName).toSeq}")
  }

  /** The documents table in two parquet files of one landing directory,
    * split at the median doc_id with the lower ids landing first, so the
    * second micro-batch meets a non-empty store and arrival order is id
    * order (the order under which the batch rules below are exact). */
  private def twoFileLanding(): String = {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val dir = Files.createTempDirectory("graft-lsh-land")
    for ((half, i) <- Seq(col("doc_id") < mid, col("doc_id") >= mid).zipWithIndex) {
      val tmp = Files.createTempDirectory("graft-lsh-half").resolve("p").toString
      docs.where(half).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = Files.move(part.toPath, dir.resolve(s"docs$i.parquet"))
      assert(dst.toFile.setLastModified(1000000000000L + i * 60000L))
    }
    dir.toString
  }

  private def landingStream(dir: String) =
    spark.readStream.schema(Tables.documents(spark, sf).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Drain `landing` into `root/{state,out}` with checkpoint `cp`. */
  private def lshDrain(landing: String, root: String, cp: String) =
    Streaming.lshDedupIngest(landingStream(landing), s"$root/state", s"$root/out", cp)

  private def storeRows(root: String): Seq[(String, Long)] =
    spark.read.parquet(s"$root/state").select("bkey", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  private def admittedIds(root: String): Seq[Long] =
    spark.read.parquet(s"$root/out").select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("incremental LSH near-dedup: the band store is {(bkey, min doc_id)} over every doc's keys") {
    val root = Files.createTempDirectory("graft-lshp").toString
    lshDrain(twoFileLanding(), root, s"$root/ckpt")
    import graft.functions.TextFunctions.{bandKey, tokens}
    val bands = Tables.documents(spark, sf)
      .withColumn("toks", tokens(col("text")))
      .withColumn("sig", expr("graft_minhash(toks)"))
      .select(col("doc_id"),
        explode(array((0 until 4).map(b => bandKey(col("sig"), b, 4)): _*)).as("bkey"))
    // provenance: every key any doc holds, once, with its smallest holder
    val want = bands.groupBy("bkey").agg(min("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = storeRows(root)
    assert(got.length == got.toSet.size, "a key stored twice")
    assert(got.toSet == want)
    // admission: the greedy min-id rule run as one batch
    val losers = bands.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val wantIds = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).filterNot(losers).toSeq.sorted
    assert(losers.nonEmpty && admittedIds(root) == wantIds)
  }

  test("LSH dedup: a micro-batch against a non-empty store runs <= 4 jobs; a drain leaves nothing persisted") {
    // measured on this 4-core session when the decision moved into one
    // window (before: 12 jobs for this micro-batch)
    val pin = 4
    val sc = spark.sparkContext
    val landing = twoFileLanding()
    val root = Files.createTempDirectory("graft-lshj").toString
    val persisted = sc.getPersistentRDDs.keySet
    // batches snapshot on the stream's own thread and release what they
    // make there; the caller's scope sees what the drain made on its thread
    val ((q, rec), held) =
      Materialize.scope(Obs.measure(spark, "lsh drain")(lshDrain(landing, root, s"$root/ckpt")))
    assert(held == 0, s"the drain held $held snapshots")
    // every job of batch b runs under the tag `lsh admit <query id>-b`
    val perBatch = (0 to 1).map(b => rec.jobs.count(_.contains(s"lsh admit ${q.id}-$b")))
    info(s"jobs per micro-batch: $perBatch")
    assert(perBatch(0) > 0 && perBatch(1) <= pin, s"jobs per micro-batch $perBatch, pin $pin")
    val left = sc.getPersistentRDDs.keySet -- persisted
    assert(left.isEmpty, s"the drain left persisted RDDs ${left.toSeq.sorted}")
  }

  test("streaming sinks leave the session's partition overwrite mode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    val root = Files.createTempDirectory("graft-lshm").toString
    lshDrain(twoFileLanding(), root, s"$root/ckpt")
    Streaming.ingestToParquet(Streaming.eventsStream(spark, sf), s"$root/events", s"$root/ckpt2")
    assert(spark.conf.get(key) == before)
  }

  test("LSH dedup: a batch replayed after its admitted-docs write was lost decides as a clean run") {
    val landing = twoFileLanding()
    val clean = Files.createTempDirectory("graft-lshr-clean").toString
    lshDrain(landing, clean, s"$clean/ckpt")
    val crashed = Files.createTempDirectory("graft-lshr-crash").toString
    val cp = s"$crashed/ckpt"
    lshDrain(landing, crashed, cp)
    // batch 1's store write landed but its admitted-docs write and its
    // commit did not: drop both, then restart on the same checkpoint
    val lost = new java.io.File(s"$crashed/out").listFiles()
      .filter(f => f.isDirectory && f.getName.endsWith("-1"))
    assert(lost.length == 1, s"batch 1 admitted nothing: ${new java.io.File(s"$crashed/out").list().toSeq}")
    org.apache.commons.io.FileUtils.deleteDirectory(lost.head)
    new java.io.File(s"$cp/commits").listFiles()
      .filter(f => f.getName == "1" || f.getName == ".1.crc").foreach(f => assert(f.delete()))
    lshDrain(landing, crashed, cp)
    assert(admittedIds(crashed) == admittedIds(clean))
    assert(storeRows(crashed).sorted == storeRows(clean).sorted)
  }

  test("streaming ingest into a versioned table dedups across batches and replays") {
    import graft.sources.Versioned
    val table = Files.createTempDirectory("graft-vstream").toString
    val cp = Files.createTempDirectory("graft-vstream-cp").toString
    // copies=2 plants the same documents file twice; maxFilesPerTrigger=1
    // makes the second file its own micro-batch — a full cross-batch dup
    val stream = Streaming.documentsStream(spark, sf, copies = 2)
      .withColumn("fp", md5(col("text")))
    Streaming.ingestToVersioned(stream, table, cp, "fp", "doc_id")
    val nDocs = Tables.documents(spark, sf).count()
    assert(Versioned.read(spark, table).count() == nDocs,
      "cross-batch duplicates must be dropped by the dedup commit")
    // every batch that appended is its own atomic version; replaying the
    // whole stream with a fresh checkpoint adds nothing
    val vs = Versioned.versions(table)
    assert(vs.nonEmpty)
    val cp2 = Files.createTempDirectory("graft-vstream-cp2").toString
    Streaming.ingestToVersioned(
      Streaming.documentsStream(spark, sf, copies = 2).withColumn("fp", md5(col("text"))),
      table, cp2, "fp", "doc_id")
    assert(Versioned.read(spark, table).count() == nDocs)
    assert(Versioned.versions(table) == vs, "replay must not create new versions")
  }

  test("AvailableNow ingest writes date-partitioned parquet idempotently") {
    val out = Files.createTempDirectory("graft-ingest").toString
    val cp = Files.createTempDirectory("graft-cp").toString
    Streaming.ingestToParquet(Streaming.eventsStream(spark, sf), out, cp)
    val written = spark.read.parquet(out)
    assert(written.count() == batchEvents.count())
    assert(written.columns.contains("event_date"))
    // second run with a fresh checkpoint overwrites the same partitions
    val cp2 = Files.createTempDirectory("graft-cp2").toString
    Streaming.ingestToParquet(Streaming.eventsStream(spark, sf), out, cp2)
    assert(spark.read.parquet(out).count() == batchEvents.count())
  }

  test("graft-zip micro-batch stream ingests a landing dir incrementally, exactly once") {
    def zip(path: String, entries: (String, String)*): Unit =
      makeZip(path, entries.map { case (n, c) => n -> c.getBytes("UTF-8") }: _*)
    val land = Files.createTempDirectory("graft-zland").toString
    val out = Files.createTempDirectory("graft-zout").toString
    val cp = Files.createTempDirectory("graft-zcp").toString
    zip(s"$land/day1.zip", "a.xml" -> "<X>1</X>", "b.xml" -> "<X>2</X>")

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-zip").load(land)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 2)

    // a new archive lands: the SAME checkpoint replans only the new file
    zip(s"$land/day2.zip", "c.xml" -> "<X>3</X>")
    runOnce()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, "incremental batch must add only day2 entries")
    // and a re-run with nothing new is a no-op (exactly-once per file)
    runOnce()
    assert(spark.read.parquet(out).count() == 3)
    assert(rows.select("source_xml_file").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a.xml", "b.xml", "c.xml"))

    // admission control: maxFilesPerTrigger=1 drains a 3-zip backlog in
    // 3 bounded one-archive batches rather than one catch-up batch
    val out2 = Files.createTempDirectory("graft-zout2").toString
    val cp2 = Files.createTempDirectory("graft-zcp2").toString
    zip(s"$land/day3.zip", "e.xml" -> "<X>4</X>")
    val q2 = spark.readStream.format("graft-zip")
      .option("maxFilesPerTrigger", "1").load(land)
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", cp2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(out2).count() == 4, "all three archives drained")
    val batches = q2.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3, s"expected 3 bounded batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 2),
      "a batch exceeded one archive's rows")
  }
}
