package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{ContractsFinder, FatXml, ZipXml}
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed call inside a pass: `group` is the repo module it lands in
  * (an ops pack, `sources` or `streaming`). */
final case class Call(name: String, group: String, wallS: Double, ok: Boolean,
    counts: Map[String, Double])

/** Readings taken after a pass, outside its timed window: the
  * workload's micro-batch times (stream only), bytes written and read,
  * and layer readings (traced passes only). */
final case class PassOut(batchS: Seq[Double], outBytes: Double, inBytes: Double,
    layer: Map[String, Double])

final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Warm-up inside the set-up: the calls over the real input (keeping
    * what the output checks need) or, where a call on the real input
    * costs a whole pass, over the small warm input. */
  def warm(spark: SparkSession): Unit
  /** The timed calls of pass `i`; the pass wall is their sum. */
  def pass(spark: SparkSession, i: Int, tr: Tracer): Seq[Call]
  /** Untimed follow-up of pass `i`: its outputs' checks and readings. */
  def after(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): PassOut
  /** Output checks, after the timed window. */
  def check(spark: SparkSession): Seq[Check]
}

object Workload {
  def timeCall(tr: Tracer, name: String, group: String)(f: => Unit): Call = {
    val t0 = System.nanoTime()
    val ok = tr.span(name) {
      try { f; true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] call $name failed: $e"); false }
    }
    Call(name, group, (System.nanoTime() - t0) / 1e9, ok, tr.lastCounts)
  }

  /** Data files (no `_SUCCESS` / `.crc` markers) under a directory. */
  def dataFiles(dir: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists) Seq.empty
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .toSeq
  }
  def bytesUnder(dir: String): Double = dataFiles(dir).map(_.length.toDouble).sum

  def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}

/** Workloads run back to back as one: the set-up, each pass and the check run
  * every part in order. */
final class Chain(parts: Seq[Workload]) extends Workload {
  def warm(spark: SparkSession): Unit = parts.foreach(_.warm(spark))
  def pass(spark: SparkSession, i: Int, tr: Tracer): Seq[Call] =
    parts.flatMap(_.pass(spark, i, tr))
  def after(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): PassOut = {
    val outs = parts.map(_.after(spark, i, tr, traced))
    PassOut(outs.flatMap(_.batchS), outs.map(_.outBytes).sum, outs.map(_.inBytes).sum,
      outs.map(_.layer).reduce(_ ++ _))
  }
  def check(spark: SparkSession): Seq[Check] = parts.flatMap(_.check(spark))
}

/** A query mix: registry queries, seed-ordered, each written to the
  * `noop` sink so every output column is evaluated (as graft.Bench does). */
final class Mix(queries: Seq[String], in: String, work: String, seed: Long)
    extends Workload {
  private val packs: Seq[(String, Seq[graft.Q])] = Seq(
    "Relational" -> graft.ops.Relational.all, "Text" -> graft.ops.Text.all,
    "Dedup" -> graft.ops.Dedup.all, "Similarity" -> graft.ops.Similarity.all,
    "Ocds" -> graft.ops.Ocds.all, "Events" -> graft.ops.Events.all,
    "Xml" -> graft.ops.Xml.all, "Multimodal" -> graft.ops.Multimodal.all,
    "Custom" -> graft.ops.Custom.all, "Scrape" -> graft.ops.Scrape.all,
    "Analytics" -> graft.ops.Analytics.all, "Scale" -> graft.ops.Scale.all,
    "Enrich" -> graft.ops.Enrich.all, "Clean" -> graft.ops.Clean.all,
    "Graph" -> graft.ops.Graph.all)
  private val packOf: Map[String, String] =
    packs.flatMap { case (p, qs) => qs.map(_.name -> p) }.toMap
  private val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap
  require(queries.forall(byName.contains),
    s"unknown queries: ${queries.filterNot(byName.contains).mkString(",")}")
  // scrambled: java.util.Random's first draws barely differ for small seeds
  val order: Seq[String] = new scala.util.Random(seed * 0x9E3779B97F4A7C15L).shuffle(queries)

  private def df(spark: SparkSession, q: String, dir: String): DataFrame = byName(q).fn(spark, dir)

  private val runChecks = scala.collection.mutable.ArrayBuffer.empty[Check]

  /** The warm-up writes each query's result to parquet, for the DuckDB
    * oracle comparison the runner makes after the JVM exits. */
  def warm(spark: SparkSession): Unit =
    runChecks ++= order.map { q =>
      try {
        df(spark, q, in).write.mode("overwrite").parquet(s"$work/results/$q")
        Check(s"run.$q", ok = true, "")
      } catch { case e: Throwable => Check(s"run.$q", ok = false, e.toString) }
    }

  /** Pass `i` runs the seed's order rotated by i / 2, so every run
    * times each query in each position: with one fixed order per seed,
    * runs split into one group per order. Passes 2k and 2k + 1 share an
    * order, so the traced passes of a traced run (the odd ones) cover
    * every order too. */
  def pass(spark: SparkSession, i: Int, tr: Tracer): Seq[Call] = {
    val k = (i / 2) % order.length
    (order.drop(k) ++ order.take(k)).map(q => Workload.timeCall(tr, q, s"ops.${packOf(q)}") {
      df(spark, q, in).write.format("noop").mode("overwrite").save()
    })
  }

  def after(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): PassOut =
    PassOut(Seq.empty, 0.0, 0.0, Map.empty)

  /** The oracle SQL goes beside the results the set-up wrote. */
  def check(spark: SparkSession): Seq[Check] = {
    val sql = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(s"$work/results"))
    Files.write(Paths.get(s"$work/results/oracle_sql.json"), Json.obj(order.map(q =>
      q -> sql.get(q).map(Json.str).getOrElse("null"))).getBytes("UTF-8"))
    runChecks.toSeq
  }
}

/** In-process Contracts Finder transport: each OCDS release package is
  * synthesized from its URI and the seed; URIs carrying the planted
  * broken marker get a non-JSON body. Counts its calls. */
object CfFetch extends Serializable {
  val calls = new java.util.concurrent.atomic.AtomicLong
  val Broken = "?format=broken"

  def mk(seed: Long): () => ContractsFinder.Fetcher = () => { (uri: String) =>
    calls.incrementAndGet()
    body(uri, seed)
  }

  def body(uri: String, seed: Long): String =
    if (uri.endsWith(Broken)) "<html><body>Service temporarily unavailable</body></html>"
    else {
      val id = uri.substring(uri.lastIndexOf('/') + 1)
      val r = new java.util.Random(seed * 1000003L + id.hashCode)
      val sups = (1 to 1 + r.nextInt(3)).map(k =>
        s"""{"id":"s$k","name":"Supplier ${r.nextInt(5000)}","roles":["supplier"],"region":"UK${r.nextInt(13)}"}""")
      val desc = Seq.fill(80 + r.nextInt(120))("lot" + r.nextInt(500)).mkString(" ")
      val amount = f"${r.nextInt(10000000) / 100.0}%.2f"
      s"""{"uri":"https://www.contractsfinder.service.gov.uk/Published/Notice/releases/$id.json",""" +
        s""""publishedDate":"2024-03-01T00:00:00Z","publisher":{"name":"Crown Commercial Service"},""" +
        s""""version":"1.1","releases":[{"ocid":"ocds-b5fd17-$id","id":"$id-1",""" +
        s""""date":"2024-03-${1 + r.nextInt(28)}","tag":["${if (r.nextBoolean()) "tender" else "award"}"],""" +
        s""""buyer":{"id":"b1","name":"Council ${r.nextInt(400)}"},""" +
        s""""parties":[{"id":"b1","name":"Council ${r.nextInt(400)}","roles":["buyer"],"region":"UK"},""" +
        sups.mkString(",") + "]," +
        s""""tender":{"id":"t1","title":"Tender $id","description":"$desc",""" +
        s""""value":{"amount":$amount,"currency":"GBP"}},""" +
        s""""awards":[{"id":"a1","status":"active","value":{"amount":$amount,"currency":"GBP"}}]}]}"""
    }
}

/** The reference dataflow, offline: 2a (URI CSVs -> dedup-with-audit ->
  * fetch -> OCDS flatten -> parquet) and 2b (ZIPs -> XML extract ->
  * parquet), then stage 3 (merge + rollup -> CSV). */
final class Etl(in: String, work: String, seed: Long,
    planted: Map[String, Long]) extends Workload {
  private var lastOut = ""
  private var rollup = Array.empty[org.apache.spark.sql.Row]
  private var fetches0 = 0L
  private val passChecks = scala.collection.mutable.ArrayBuffer.empty[Check]

  private def run(spark: SparkSession, src: String, out: String,
      tr: Tracer): (Seq[Call], Array[org.apache.spark.sql.Row]) = {
    var rows = Array.empty[org.apache.spark.sql.Row]
    val cf = Workload.timeCall(tr, "cf_extract", "sources") {
      ContractsFinder.runStage(spark, s"$src/cf", s"$out/cf", CfFetch.mk(seed))
    }
    val fat = Workload.timeCall(tr, "fat_extract", "sources") {
      FatXml.extract(ZipXml.zipEntriesV2(spark, s"$src/zips"), Seq("source_zip", "source_xml_file"))
        .withColumn("ingest_date",
          regexp_extract(col("source_zip"), """(\d{4}-\d{2}-\d{2})""", 1))
        .write.mode("overwrite").partitionBy("ingest_date").parquet(s"$out/fat")
    }
    val merge = Workload.timeCall(tr, "merge", "sources") {
      rows = merged(spark, out)
        .groupBy(col("day"), col("source_form"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy("day", "source_form", "status")
        .collect()
    }
    val csv = Workload.timeCall(tr, "csv", "sources") {
      ContractsFinder.exportCsv(merged(spark, out), s"$out/csv")
    }
    (Seq(cf, fat, merge, csv), rows)
  }

  /** Both branches' extracts as one relation (reference stage 3). */
  private def merged(spark: SparkSession, out: String): DataFrame = {
    val a = spark.read.parquet(s"$out/cf").select(
      coalesce(col("ocid"), col("uri")).as("doc_id"), lit("OCDS").as("source_form"),
      col("status"), col("buyer_name"), col("file_date").cast("string").as("day"))
    val b = spark.read.parquet(s"$out/fat").select(
      col("doc_id"), col("source_form"),
      when(col("parse_error").isNull, "ok").otherwise("parse_error").as("status"),
      col("buyer_name"), col("ingest_date").cast("string").as("day"))
    a.unionByName(b)
  }

  def warm(spark: SparkSession): Unit = {
    val out = s"$work/etl-warm"
    val (_, r) = run(spark, in, out, new Tracer("warm", spark.sparkContext, new Probe))
    passChecks ++= checkPass(spark, out, r, "warmup")
    Workload.rm(out)
  }

  def pass(spark: SparkSession, i: Int, tr: Tracer): Seq[Call] = {
    if (lastOut.nonEmpty) Workload.rm(lastOut) // checked after its pass
    lastOut = s"$work/etl-pass$i"
    fetches0 = CfFetch.calls.get
    val (calls, r) = run(spark, in, lastOut, tr)
    rollup = r
    calls
  }

  def after(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): PassOut = {
    val out = lastOut
    val fetches = CfFetch.calls.get - fetches0
    passChecks ++= checkPass(spark, out, rollup, s"pass$i")
    val outBytes = Workload.bytesUnder(out)
    val layer = if (!traced) Map.empty[String, Double] else {
      val files = Workload.dataFiles(out)
      val pending = planted("cf_ok") + planted("cf_invalid")
      Map(
        "sources.files_written" -> files.length.toDouble,
        "sources.bytes_written" -> outBytes,
        "sources.fetch_per_unique_uri" -> fetches.toDouble / pending,
        "sources.parse_error_ratio" ->
          (planted("cf_invalid") + planted("fat_malformed")).toDouble /
            (pending + planted("fat_notices")),
        "sources.read_partitions" -> (
          spark.read.option("header", "true").csv(s"$in/cf/*.csv").rdd.getNumPartitions +
            ZipXml.zipEntriesV2(spark, s"$in/zips").rdd.getNumPartitions).toDouble)
    }
    PassOut(Seq.empty, outBytes, inBytes, layer)
  }

  /** Raw input bytes: the files on disk plus every fetched body. */
  private lazy val inBytes: Double = {
    val uris = Files.list(Paths.get(s"$in/cf")).iterator().asScala.toSeq
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map(_.split(",", -1)(0)).filter(_.nonEmpty).distinct
    Workload.bytesUnder(s"$in/cf") + Workload.bytesUnder(s"$in/zips") +
      uris.map(u => CfFetch.body(u, seed).getBytes("UTF-8").length.toDouble).sum
  }

  /** Planted counts must come back exactly, from every pass's outputs. */
  private def checkPass(spark: SparkSession, out: String,
      rollup: Array[org.apache.spark.sql.Row], tag: String): Seq[Check] = {
    def n(df: DataFrame): Long = df.count()
    val cf = spark.read.parquet(s"$out/cf")
    val fat = spark.read.parquet(s"$out/fat")
    val got = Map(
      "cf_rows" -> n(cf),
      "cf_ok" -> n(cf.filter(col("status") === "ok")),
      "cf_invalid" -> n(cf.filter(col("status") === "fetch_failed_or_invalid_json")),
      "cf_dup" -> n(cf.filter(col("status") === "duplicate_uri_skipped_fetch")),
      "fat_notices" -> n(fat),
      "fat_malformed" -> n(fat.filter(col("parse_error").isNotNull)),
      "fat_ok" -> n(fat.filter(col("parse_error").isNull)))
    val counts = got.toSeq.sortBy(_._1).map { case (k, v) =>
      Check(s"$tag.$k", v == planted(k), s"got $v, planted ${planted(k)}")
    }
    val csvRows = n(spark.read.option("header", "true").csv(s"$out/csv"))
    val rolled = rollup.map(_.getAs[Long]("n")).sum
    counts ++ Seq(
      Check(s"$tag.csv_rows", csvRows == got("cf_rows") + got("fat_notices"),
        s"csv $csvRows vs extracted ${got("cf_rows") + got("fat_notices")}"),
      Check(s"$tag.rollup_rows", rolled == got("cf_rows") + got("fat_notices"),
        s"rollup $rolled vs extracted ${got("cf_rows") + got("fat_notices")}"))
  }

  def check(spark: SparkSession): Seq[Check] = passChecks.toSeq
}

/** Backlog drain of the LSH near-dedup ingest over two landing
  * directories, one file per micro-batch, with a store compaction in
  * between (the reference's catch-up-over-what-landed pattern). */
final class Stream(in: String, warmIn: String, work: String) extends Workload {
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val outs = scala.collection.mutable.ArrayBuffer.empty[String]
  private var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var calls = Seq.empty[Call]

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docsSchema).option("maxFilesPerTrigger", "1").parquet(dir)

  private def drain(spark: SparkSession, src: String, root: String,
      tr: Tracer): (Seq[Call], Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val progress = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    def ingest(landing: String): Call = Workload.timeCall(tr, s"ingest.$landing", "streaming") {
      val q = Streaming.lshDedupIngest(docs(spark, s"$src/$landing"), s"$root/state",
        s"$root/out", s"$root/ckpt-$landing")
      progress ++= q.recentProgress
    }
    val a = ingest("landing1")
    val c = Workload.timeCall(tr, "compact", "streaming") {
      Streaming.lshStoreCompact(spark, s"$root/state", targetFiles = 2)
    }
    val b = ingest("landing2")
    (Seq(a, c, b), progress.toSeq)
  }

  /** The set-up drains the small warm input: a drain of the real
    * backlog costs as much as a timed pass. */
  def warm(spark: SparkSession): Unit = {
    val root = s"$work/stream-warm"
    drain(spark, warmIn, root, new Tracer("warm", spark.sparkContext, new Probe))
    Workload.rm(root)
  }

  private def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)

  def pass(spark: SparkSession, i: Int, tr: Tracer): Seq[Call] = {
    val root = s"$work/stream-pass$i"
    outs += root
    val (c, p) = drain(spark, in, root, tr)
    calls = c
    progress = p
    c
  }

  def after(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): PassOut = {
    val root = outs.last
    val batches = progress.filter(_.numInputRows > 0)
    val batchS = batches.map(dur(_, "triggerExecution"))
    val outBytes = Workload.bytesUnder(s"$root/out") + Workload.bytesUnder(s"$root/state")
    val layer = if (!traced) Map.empty[String, Double] else {
      for (p <- batches)
        tr.addClosed(s"batch${p.batchId}", java.time.Instant.parse(p.timestamp),
          dur(p, "triggerExecution"), Map("rows" -> p.numInputRows.toDouble))
      val q = batchS.length / 4
      def med(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.length / 2) }
      val docsSeen = spark.read.schema(docsSchema).parquet(s"$in/landing1", s"$in/landing2").count()
      val storeRows = spark.read.parquet(s"$root/state").count()
      val admitted = spark.read.parquet(s"$root/out").count()
      Map(
        "streaming.batches" -> batches.length.toDouble,
        "streaming.add_batch_s" -> batches.map(dur(_, "addBatch")).sum,
        "streaming.latest_offset_s" -> batches.map(dur(_, "latestOffset")).sum,
        "streaming.planning_s" -> batches.map(dur(_, "queryPlanning")).sum,
        "streaming.commit_s" -> batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
        "streaming.batch_growth" ->
          (if (q == 0) 1.0 else med(batchS.takeRight(q)) / med(batchS.take(q))),
        "streaming.compact_s" -> calls.find(_.name == "compact").map(_.wallS).getOrElse(0.0),
        "streaming.store_files" -> Workload.dataFiles(s"$root/state").length.toDouble,
        "streaming.store_bytes" -> Workload.bytesUnder(s"$root/state"),
        "streaming.keys_per_doc" -> storeRows.toDouble / docsSeen,
        "streaming.admit_ratio" -> admitted.toDouble / docsSeen)
    }
    PassOut(batchS, outBytes, Workload.bytesUnder(in), layer)
  }

  /** Every pass must admit exactly the ids the greedy min-id rule keeps
    * over the whole input, computed as StreamingSpec does. */
  def check(spark: SparkSession): Seq[Check] = {
    import graft.functions.TextFunctions.{bandKey, tokens}
    val all = spark.read.schema(docsSchema).parquet(s"$in/landing1", s"$in/landing2")
    val bands = all
      .withColumn("toks", tokens(col("text")))
      .withColumn("sig", expr("graft_minhash(toks)"))
      .select(col("doc_id"),
        explode(array((0 until 4).map(b => bandKey(col("sig"), b, 4)): _*)).as("bkey"))
    val losers = bands.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_id")).distinct()
    val want = all.select("doc_id").join(losers, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    outs.toSeq.zipWithIndex.map { case (root, i) =>
      val got = spark.read.parquet(s"$root/out").select("doc_id").collect().map(_.getLong(0))
      val ok = got.length == got.distinct.length && got.toSet == want
      Check(s"pass$i.admitted_ids", ok,
        s"admitted ${got.length} (${got.distinct.length} distinct), greedy rule keeps ${want.size}, " +
          s"missing ${(want -- got).size}, extra ${(got.toSet -- want).size}")
    }
  }
}
