package graft.ops

import graft.{Materialize, Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation pack: the filtering/cleaning stages a large-scale
  * training-data pipeline runs BETWEEN ingestion and dedup — repetition
  * signals (Gopher-style), rule-based quality gates (C4-style), PII
  * scrubbing, text normalization, benchmark-contamination checks,
  * deterministic stratified sampling, the end-to-end curation funnel,
  * and tf-idf term scoring.
  *
  * Scale design: every per-document signal is a narrow projection (no
  * shuffle); the only shuffles are keyed by doc_id or by n-gram hash
  * (contamination joins a BROADCAST benchmark side — benchmark suites
  * are small by nature, so the 100 TB corpus never shuffles for the
  * check). Determinism follows TextFunctions policy: integer ppm
  * ratios, md5-based hashing, no floating-point accumulation.
  */
object Clean {

  /** Documents spread across cores before heavy per-doc work — the
    * single-row-group scan is one partition (see Text.docs). Applied
    * only where the pre-exchange stage is expensive (tokenize + signal
    * projections); the cheap hash-filter queries skip it. */
  private def docs(s: SparkSession, d: String): DataFrame =
    graft.Q.stageBarrier(Tables.documents(s, d))

  // ---- shared DuckDB fragments (must mirror the Spark side exactly) ----

  private val DToks =
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')"

  /** Bigram shingles over toks (mirror of shingles(toks, 2)). */
  private val DSh2 =
    "list_transform(range(1, greatest(len(toks)-1, 1)+1), i -> array_to_string(toks[i:i+1], ' '))"

  /** DuckDB mirror of TextFunctions.ratioScaled — the ONE floor-ratio
    * spelling both engines agree on (shared across packs; keep any
    * change in sync with the Spark side). */
  private[ops] def dRatio(a: String, b: String, scale: Long): String =
    s"CASE WHEN ($b) = 0 THEN 0 ELSE CAST(FLOOR(CAST($a AS BIGINT)*$scale/($b)) AS BIGINT) END"

  /** All 32 stopwords across the four language sets, as a SQL IN list. */
  private val DAllStops = LangStopwords.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("(", ",", ")")

  private val allStops: Seq[String] = LangStopwords.flatMap(_._2).distinct

  /** q68 — repetition signals (the Gopher repetition filters re-expressed):
    * duplicate-token fraction and most-frequent-bigram fraction, ppm. The
    * bigram mode needs a (doc, bigram) count — explode partial-aggregates
    * map-side and both shuffles are keyed by doc_id, so the pass stays
    * linear at corpus scale. */
  val q68Repetition: Q = Q(
    "q68_repetition",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), n AS (
       |  SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_dis FROM t
       |), bg AS (
       |  SELECT doc_id, unnest($DSh2) AS b FROM t
       |), c AS (
       |  SELECT doc_id, b, COUNT(*) AS cnt FROM bg GROUP BY 1, 2
       |), m AS (
       |  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS n_bg FROM c GROUP BY 1
       |)
       |SELECT n.doc_id,
       |  ${dRatio("n_tok - n_dis", "n_tok", 1000000L)} AS dup_tok_ppm,
       |  ${dRatio("top_cnt", "n_bg", 1000000L)} AS top_bigram_ppm,
       |  CASE WHEN ${dRatio("n_tok - n_dis", "n_tok", 1000000L)} > 600000
       |         OR ${dRatio("top_cnt", "n_bg", 1000000L)} > 50000
       |       THEN 1 ELSE 0 END AS repetitive
       |FROM n JOIN m ON m.doc_id = n.doc_id
       |ORDER BY n.doc_id""") { (s, d) =>
    val t = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val n = t.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tok"),
      size(array_distinct(col("toks"))).cast("long").as("n_dis"))
    val m = t.select(col("doc_id"), explode(shingles(col("toks"), 2)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").as("top_cnt"), sum("cnt").as("n_bg"))
    val dup = ratioScaled(col("n_tok") - col("n_dis"), col("n_tok"), 1000000L)
    val top = ratioScaled(col("top_cnt"), col("n_bg"), 1000000L)
    n.join(m, "doc_id")
      .select(col("doc_id"), dup.as("dup_tok_ppm"), top.as("top_bigram_ppm"),
        when(dup > 600000 || top > 50000, 1).otherwise(0).as("repetitive"))
      .orderBy("doc_id")
  }

  // ---- q69 / q74 shared quality-gate signals ----

  private def nTok(toks: Column): Column = size(toks).cast("long")
  private def dupPpm(toks: Column): Column =
    ratioScaled(nTok(toks) - size(array_distinct(toks)), nTok(toks), 1000000L)
  private def stopHits(toks: Column): Column =
    size(filter(toks, t => t.isin(allStops: _*))).cast("long")
  private def keepExpr(toks: Column): Column =
    nTok(toks).between(12, 100000) &&
      meanTokenLenMilli(toks).between(2500, 4800) &&
      stopHits(toks) > 0 && dupPpm(toks) < 600000

  /** Public column forms of the gate + dedup key, shared with the
    * streaming twin (streaming.Streaming.curationStream). */
  def qualityKeep(toks: Column): Column = keepExpr(toks)
  def fingerprint(toks: Column): Column = md5(concat_ws(" ", toks))

  private val DMeanMilli = dRatio(
    "list_reduce(list_prepend(0, list_transform(toks, t -> len(t))), (x,y) -> x+y)",
    "len(toks)", 1000L)
  private val DDupPpm = dRatio("len(toks) - len(list_distinct(toks))", "len(toks)", 1000000L)
  private val DStopHits = s"len(list_filter(toks, t -> t IN $DAllStops))"
  private val DKeep =
    s"""(len(toks) BETWEEN 12 AND 100000 AND $DMeanMilli BETWEEN 2500 AND 4800
       | AND $DStopHits > 0 AND $DDupPpm < 600000)""".stripMargin.replace("\n", "")

  /** q69 — rule-based quality gate (C4/Gopher-style): length bounds, mean
    * token length band, function-word presence, duplicate-token cap. One
    * narrow shuffle-free projection per document — at 100 TB this is a
    * single scan emitting keep flags. */
  val q69QualityGate: Q = Q(
    "q69_quality_gate",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tok,
       |  $DMeanMilli AS mean_tok_milli,
       |  CAST($DStopHits AS BIGINT) AS stop_hits,
       |  $DDupPpm AS dup_tok_ppm,
       |  CASE WHEN len(toks) BETWEEN 12 AND 100000 THEN 1 ELSE 0 END AS flag_len,
       |  CASE WHEN $DMeanMilli BETWEEN 2500 AND 4800 THEN 1 ELSE 0 END AS flag_tok_len,
       |  CASE WHEN $DStopHits > 0 THEN 1 ELSE 0 END AS flag_stop,
       |  CASE WHEN $DDupPpm < 600000 THEN 1 ELSE 0 END AS flag_dup,
       |  CASE WHEN $DKeep THEN 1 ELSE 0 END AS keep
       |FROM t ORDER BY doc_id""") { (s, d) =>
    docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        nTok(col("toks")).as("n_tok"),
        meanTokenLenMilli(col("toks")).as("mean_tok_milli"),
        stopHits(col("toks")).as("stop_hits"),
        dupPpm(col("toks")).as("dup_tok_ppm"),
        when(nTok(col("toks")).between(12, 100000), 1).otherwise(0).as("flag_len"),
        when(meanTokenLenMilli(col("toks")).between(2500, 4800), 1).otherwise(0).as("flag_tok_len"),
        when(stopHits(col("toks")) > 0, 1).otherwise(0).as("flag_stop"),
        when(dupPpm(col("toks")) < 600000, 1).otherwise(0).as("flag_dup"),
        when(keepExpr(col("toks")), 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  // ---- q70 PII scrub ----

  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneRe = """\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"""
  private val IpRe = """\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"""

  /** q70 — PII scrubbing: regex redaction of emails, phone numbers, and
    * IPv4 addresses, with per-document redaction counts. The synthetic
    * documents carry no PII, so both engines append the same
    * deterministic contact block (varying per doc_id) before scrubbing —
    * the operator under test is the redaction pass, a narrow codegen'd
    * projection that scales as a pure scan. */
  val q70PiiScrub: Q = Q(
    "q70_pii_scrub",
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    text || repeat(' user' || CAST(doc_id AS VARCHAR) || '@mail.example.com', CAST(doc_id % 3 AS INT))
       |         || ' call +44-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) AS t
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$IpRe', '<IP>', 'g')) AS redacted_fp,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(t,
       |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$IpRe', '<IP>', 'g')) AS BIGINT) AS redacted_len
       |FROM raw ORDER BY doc_id""") { (s, d) =>
    val raw = docs(s, d).withColumn("t",
      concat(col("text"),
        expr("repeat(concat(' user', CAST(doc_id AS STRING), '@mail.example.com'), CAST(doc_id % 3 AS INT))"),
        lit(" call +44-555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(200)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(250)).cast("string")))
    val redacted = regexp_replace(regexp_replace(regexp_replace(col("t"),
      lit(EmailRe), lit("<EMAIL>")), lit(PhoneRe), lit("<PHONE>")), lit(IpRe), lit("<IP>"))
    raw.select(col("doc_id"),
      size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(col("t"), lit(IpRe), lit(0))).cast("long").as("n_ips"),
      md5(redacted).as("redacted_fp"),
      length(redacted).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  // ---- q71 normalization ----

  private val AccentsFrom = "àáâãäåèéêëìíîïòóôõöùúûüçñýÿ"
  private val AccentsTo = "aaaaaaeeeeiiiiooooouuuucnyy"

  /** q71 — canonical text normalization: lowercase, accent fold
    * (char-for-char translate), strip non-alphanumerics, collapse
    * whitespace. The output fingerprint is the exact-dedup key a cleaned
    * corpus would group on. Narrow, shuffle-free, codegen'd. */
  val q71Normalize: Q = Q(
    "q71_normalize",
    s"""WITH n AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(
       |      translate(lower(text), '$AccentsFrom', '$AccentsTo'),
       |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
       |  FROM documents
       |)
       |SELECT doc_id, md5(norm) AS norm_fp,
       |  CAST(length(norm) AS BIGINT) AS norm_len,
       |  CAST(len(list_filter(regexp_split_to_array(norm, ' '), t -> t <> '')) AS BIGINT) AS n_tok
       |FROM n ORDER BY doc_id""") { (s, d) =>
    val norm = trim(regexp_replace(regexp_replace(
      translate(lower(col("text")), AccentsFrom, AccentsTo),
      "[^a-z0-9 ]", " "), " +", " "))
    docs(s, d)
      .withColumn("norm", norm)
      .select(col("doc_id"), md5(col("norm")).as("norm_fp"),
        length(col("norm")).cast("long").as("norm_len"),
        size(filter(split(col("norm"), " "), t => t =!= "")).cast("long").as("n_tok"))
      .orderBy("doc_id")
  }

  /** q72 — benchmark-contamination check: count shared distinct 5-gram
    * shingles between each corpus document and each benchmark document.
    * Reuses the dedup corpus (whose synthesized exact copies play the
    * "benchmark leaked into corpus" role). The benchmark side explodes
    * to (doc, shingle-hash) and BROADCASTS — benchmark suites are tiny
    * relative to a 100 TB corpus, so the corpus-side scan joins with no
    * shuffle; the only exchange is the final per-pair count keyed by
    * (corpus doc, benchmark doc). */
  val q72Contamination: Q = Q(
    "q72_contamination",
    s"""WITH ${Dedup.DCorpus},
       |hs AS (
       |  SELECT doc_id, list_distinct(list_transform(${Dedup.DSh}, s -> ${Dedup.DHex32})) AS hs
       |  FROM (SELECT doc_id, toks FROM corpus)
       |), ce AS (
       |  SELECT doc_id AS corp_id, unnest(hs) AS h FROM hs WHERE doc_id < 1000000
       |), be AS (
       |  SELECT doc_id AS bench_id, unnest(hs) AS h FROM hs WHERE doc_id >= 2000000
       |), ov AS (
       |  SELECT corp_id, bench_id, COUNT(*) AS n_shared
       |  FROM ce JOIN be USING (h) GROUP BY 1, 2
       |), n AS (
       |  SELECT doc_id, len(hs) AS n_sh FROM hs WHERE doc_id < 1000000
       |)
       |SELECT corp_id, bench_id, n_shared,
       |  ${dRatio("n_shared", "n_sh", 1000000L)} AS contam_ppm
       |FROM ov JOIN n ON n.doc_id = ov.corp_id
       |WHERE n_shared >= 3
       |ORDER BY corp_id, bench_id""") { (s, d) =>
    val hs = Dedup.corpus(s, d)
      .select(col("doc_id"),
        array_distinct(tokenShingleHashes(col("toks"))).as("hs"))
      .transform(Materialize.snapshot)
    val ce = hs.filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("corp_id"), explode(col("hs")).as("h"))
    val be = hs.filter(col("doc_id") >= 2000000L)
      .select(col("doc_id").as("bench_id"), explode(col("hs")).as("h"))
    val ov = ce.join(broadcast(be), "h")
      .groupBy("corp_id", "bench_id").agg(count(lit(1)).as("n_shared"))
    val n = hs.filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("corp_id"), size(col("hs")).cast("long").as("n_sh"))
    ov.join(n, "corp_id")
      .filter(col("n_shared") >= 3)
      .select(col("corp_id"), col("bench_id"), col("n_shared"),
        ratioScaled(col("n_shared"), col("n_sh"), 1000000L).as("contam_ppm"))
      .orderBy("corp_id", "bench_id")
  }

  /** q83 — bloom-prefiltered decontamination: which corpus documents
    * share ANY distinct 5-gram shingle hash with the benchmark set, and
    * how many. Same contamination semantics family as q72, but the
    * scale mechanism differs: instead of broadcasting the benchmark
    * (doc, hash) pairs, the benchmark's distinct hashes are folded into
    * a driver-built bloom filter (`df.stat.bloomFilter` — a treeAggregate
    * of OR-able bitsets, so the result is partition-order independent).
    * The corpus side then runs a NARROW mightContain prefilter — no
    * shuffle, no broadcast hash relation, just a few-MB bitset per
    * executor even when the benchmark has 1e9 n-grams — and only the
    * tiny surviving fraction (true hits + ~fpp of the rest) pays the
    * exact semi-join that removes false positives. The final answer is
    * therefore EXACT (bloom only prunes), which is what keeps a
    * probabilistic structure oracle-checkable. */
  val q83BloomDecontam: Q = Q(
    "q83_bloom_decontam",
    s"""WITH ${Dedup.DCorpus},
       |hs AS (
       |  SELECT doc_id, list_distinct(list_transform(${Dedup.DSh}, s -> ${Dedup.DHex32})) AS hs
       |  FROM (SELECT doc_id, toks FROM corpus)
       |), ce AS (
       |  SELECT doc_id AS corp_id, unnest(hs) AS h FROM hs WHERE doc_id < 1000000
       |), bh AS (
       |  SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id >= 2000000
       |)
       |SELECT corp_id, COUNT(*) AS n_hits
       |FROM ce JOIN bh USING (h)
       |GROUP BY corp_id
       |ORDER BY corp_id""") { (s, d) =>
    val hs = Dedup.corpus(s, d)
      .select(col("doc_id"),
        array_distinct(tokenShingleHashes(col("toks"))).as("hs"))
      .transform(Materialize.snapshot)
    val ce = hs.filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("corp_id"), explode(col("hs")).as("h"))
    val bh = hs.filter(col("doc_id") >= 2000000L)
      .select(explode(col("hs")).as("h")).distinct()
    val bloom = bh.stat.bloomFilter("h", math.max(bh.count(), 1L), 0.01)
    // native probe (plans.BloomProbe): stays in WholeStageCodegen, no
    // ScalaUDF boxing — the last UDFs left the tree in round 9
    val probe = {
      import org.apache.spark.sql.graft.PlanShim
      PlanShim.column(graft.plans.BloomProbe(PlanShim.expression(col("h")), bloom))
    }
    ce.filter(probe)                           // narrow prefilter, no shuffle
      .join(broadcast(bh), Seq("h"), "left_semi") // exact: kills bloom FPs
      .groupBy("corp_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("corp_id")
  }

  // ---- q73 / q74 shared sampling expressions ----

  /** Per-language keep rates, ppm of the md5 bucket space. */
  private val SampleRates = Seq(
    "en" -> 120000L, "de" -> 250000L, "fr" -> 250000L,
    "es" -> 250000L, "zh" -> 400000L)

  private def bucket(docId: Column): Column =
    pmod(hex32(concat(lit("smp_"), docId.cast("string"))), lit(1000000L))
  private def rateFor(lang: Column): Column =
    SampleRates.foldRight(lit(0L): Column) { case ((l, r), acc) =>
      when(lang === l, r).otherwise(acc)
    }

  private val DBucket =
    "CAST(concat('0x', substr(md5('smp_' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 1000000"
  private val DRate = SampleRates
    .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
    .mkString("CASE ", " ", " ELSE 0 END")

  /** q73 — deterministic stratified sampling: per-language keep rates
    * applied via an md5 hash bucket, so the sample is reproducible
    * across engines, runs, and partitionings (no RNG, no sort order
    * dependence) — the language-rebalancing downsample of a corpus
    * pipeline as one narrow filter. */
  val q73StratifiedSample: Q = Q(
    "q73_stratified_sample",
    s"""SELECT doc_id, lang, $DBucket AS bucket
       |FROM documents
       |WHERE $DBucket < $DRate
       |ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), bucket(col("doc_id")).as("bucket"))
      .filter(col("bucket") < rateFor(col("lang")))
      .orderBy("doc_id")
  }

  /** q74 — the curation funnel end-to-end: total → quality gate → exact
    * dedup (canonical per normalized fingerprint) → stratified sample,
    * reported as per-stage survivor counts. Composes q69/q26/q73 the way
    * a production corpus build chains them; each stage is the same
    * scan/groupBy shape that scales linearly. */
  val q74CurationFunnel: Q = Q(
    "q74_curation_funnel",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), flagged AS (
       |  SELECT doc_id, lang, md5(array_to_string(toks, ' ')) AS fp,
       |    CASE WHEN $DKeep THEN 1 ELSE 0 END AS keep
       |  FROM t
       |), kept AS (
       |  SELECT doc_id, lang, fp,
       |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS canonical
       |  FROM flagged WHERE keep = 1
       |), sampled AS (
       |  SELECT doc_id FROM kept
       |  WHERE canonical = 1 AND $DBucket < $DRate
       |)
       |SELECT * FROM (
       |  SELECT 1 AS stage, 'total' AS name, COUNT(*) AS n_docs FROM t
       |  UNION ALL SELECT 2, 'quality', COUNT(*) FROM flagged WHERE keep = 1
       |  UNION ALL SELECT 3, 'dedup', COUNT(*) FROM kept WHERE canonical = 1
       |  UNION ALL SELECT 4, 'sample', COUNT(*) FROM sampled
       |) ORDER BY stage""") { (s, d) =>
    q74Funnel(s, d)
  }

  /** q74's body, parameterised for the graft.Prof A/B: `fusedReport =
    * true` (registered) computes stages 2-4 in ONE aggregate pass over
    * the tokenize+window funnel, which then has a single reader — so the
    * localCheckpoint that existed only to share it across three
    * single-count legs is gone with the legs (one job, one funnel
    * evaluation, one scan instead of three). `false` keeps the
    * pre-fusion spelling. Stage 1 stays its own count-star leg: it
    * counts the RAW documents scan (column-pruned to nothing), not the
    * funnel. */
  private[graft] def q74Funnel(s: SparkSession, d: String,
      fusedReport: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val flagged = t.select(col("doc_id"), col("lang"),
      md5(concat_ws(" ", col("toks"))).as("fp"),
      when(keepExpr(col("toks")), 1).otherwise(0).as("keep"))
    val keptPlain = flagged.filter(col("keep") === 1)
      .withColumn("canonical",
        when(col("doc_id") === min("doc_id").over(Window.partitionBy("fp")), 1).otherwise(0))
    if (fusedReport) {
      val keptAgg = keptPlain.agg(
        count(lit(1)).as("quality"),
        count(when(col("canonical") === 1, 1)).as("dedup"),
        count(when(col("canonical") === 1 &&
          bucket(col("doc_id")) < rateFor(col("lang")), 1)).as("sample"))
      t.agg(count(lit(1)).as("total")).crossJoin(keptAgg)
        .selectExpr(
          """stack(4,
            |  1, 'total', total,
            |  2, 'quality', quality,
            |  3, 'dedup', dedup,
            |  4, 'sample', sample
            |) AS (stage, name, n_docs)""".stripMargin)
        .orderBy("stage")
    } else {
      val kept = keptPlain.transform(Materialize.snapshot) // 3 readers in this spelling
      val dedup = kept.filter(col("canonical") === 1)
      val sampled = dedup.filter(bucket(col("doc_id")) < rateFor(col("lang")))
      def stage(i: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i).as("stage"), lit(name).as("name"), col("n_docs"))
      stage(1, "total", t)
        .unionByName(stage(2, "quality", kept))
        .unionByName(stage(3, "dedup", dedup))
        .unionByName(stage(4, "sample", sampled))
        .orderBy("stage")
    }
  }

  /** q75 — tf-idf term scoring: top-3 terms per document by a
    * rational tf-idf (tf x N / (len x df), ppm — integer-exact on both
    * engines, unlike a log idf whose last ulp can differ). The shape is
    * the classic two-pass distributed tf-idf: one shuffle for (doc,term)
    * counts, one broadcast-able df table, one per-doc window for top-k. */
  val q75Tfidf: Q = Q(
    "q75_tfidf",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term FROM t
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
       |), df AS (
       |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
       |), dl AS (
       |  SELECT doc_id, len(toks) AS n_tok FROM t
       |), n AS (
       |  SELECT COUNT(*) AS n_docs FROM t
       |), scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    ${dRatio("tf.tf * n.n_docs", "dl.n_tok * df.df", 1000000L)} AS score_ppm
       |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN n
       |), ranked AS (
       |  SELECT doc_id, term, tf, df, score_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS rk
       |  FROM scored
       |)
       |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, score_ppm
       |FROM ranked WHERE rk <= 3
       |ORDER BY doc_id, rk""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val tok = t.select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df re-aggregates tf (one row per (doc,term)) instead of
    // re-exploding the corpus: same value as COUNT(DISTINCT doc_id)
    // and Catalyst reuses tf's exchange for the second aggregation
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
    val n = t.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score_ppm").desc, col("term"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n))
      .withColumn("score_ppm",
        ratioScaled(col("tf") * col("n_docs"), col("n_tok") * col("df"), 1000000L))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tf", "df", "score_ppm")
      .orderBy("doc_id", "rk")
  }

  /** Packing input/output rows (q76). */
  final case class PackIn(lang: String, doc_id: Long, n_tok: Long)
  final case class PackOut(lang: String, doc_id: Long, n_tok: Long,
      bin_id: Long, bin_fill: Long)

  /** Context-window capacity for q76 (tokens per training sequence). */
  val PackCap = 256L

  /** q76 — greedy document packing: assign documents to training
    * sequences ("bins") of <= PackCap tokens, one packing stream per
    * language, docs in doc_id order; a doc that doesn't fit starts the
    * next bin. Packing is inherently sequential WITHIN a stream, so the
    * distributed shape is: shuffle once on the stream key, then one
    * ordered pass per stream (`flatMapSortedGroups` — Spark sorts each
    * group by doc_id as part of the same exchange). Streams are
    * independent, so a 100 TB corpus packs in parallel across streams
    * with per-stream state of one running counter, never a global sort.
    * The DuckDB oracle replays the same greedy fold as a recursive CTE. */
  val q76DocPacking: Q = Q(
    "q76_doc_packing",
    s"""WITH RECURSIVE t AS (
       |  SELECT lang, doc_id, CAST(len($DToks) AS BIGINT) AS n_tok FROM documents
       |), ord AS (
       |  SELECT lang, doc_id, n_tok,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
       |  FROM t
       |), pack(lang, rn, doc_id, n_tok, bin_id, fill) AS (
       |  SELECT lang, rn, doc_id, n_tok, CAST(1 AS BIGINT), n_tok FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.lang, o.rn, o.doc_id, o.n_tok,
       |    CASE WHEN p.fill + o.n_tok > $PackCap THEN p.bin_id + 1 ELSE p.bin_id END,
       |    CASE WHEN p.fill + o.n_tok > $PackCap THEN o.n_tok ELSE p.fill + o.n_tok END
       |  FROM pack p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1
       |)
       |SELECT lang, doc_id, n_tok, bin_id, fill AS bin_fill
       |FROM pack ORDER BY lang, doc_id""") { (s, d) =>
    import s.implicits._
    val cap = PackCap
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .as[PackIn]
      .groupByKey(_.lang)
      .flatMapSortedGroups(col("doc_id")) { (lang: String, it: Iterator[PackIn]) =>
        var bin = 1L
        var fill = 0L
        it.map { r =>
          if (fill > 0 && fill + r.n_tok > cap) { bin += 1; fill = 0L }
          fill += r.n_tok
          PackOut(lang, r.doc_id, r.n_tok, bin, fill)
        }
      }
      .toDF()
      .orderBy("lang", "doc_id")
  }

  /** q77 — mixture rebalancing: downsample over-represented languages to
    * the rarest language's count (rate_ppm = min_count/count), with the
    * same md5-bucket determinism as q73. The per-language stats are a
    * tiny aggregate broadcast back against the corpus — the rebalance
    * itself never shuffles the documents. */
  val q77MixtureRebalance: Q = Q(
    "q77_mixture_rebalance",
    s"""WITH n AS (
       |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
       |), m AS (
       |  SELECT MIN(n_docs) AS min_docs FROM n
       |), r AS (
       |  SELECT lang, n_docs, ${dRatio("m.min_docs", "n.n_docs", 1000000L)} AS rate_ppm
       |  FROM n CROSS JOIN m
       |)
       |SELECT r.lang, r.n_docs, r.rate_ppm,
       |  COUNT(CASE WHEN $DBucket < r.rate_ppm THEN 1 END) AS n_kept
       |FROM documents d JOIN r ON r.lang = d.lang
       |GROUP BY r.lang, r.n_docs, r.rate_ppm
       |ORDER BY r.lang""") { (s, d) =>
    val n = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val m = n.agg(min("n_docs").as("min_docs"))
    val r = n.crossJoin(broadcast(m))
      .select(col("lang"), col("n_docs"),
        ratioScaled(col("min_docs"), col("n_docs"), 1000000L).as("rate_ppm"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .join(broadcast(r), "lang")
      .groupBy("lang", "n_docs", "rate_ppm")
      .agg(count(when(bucket(col("doc_id")) < col("rate_ppm"), 1)).as("n_kept"))
      .orderBy("lang")
  }

  /** q86 — temperature mixture sampling: the multilingual-pretraining
    * rebalance where language l is sampled with probability ∝ n_l^α
    * (α=0.5 here), boosting low-resource languages without flattening
    * to uniform (q77 is the α=0 extreme, proportional is α=1). Keep
    * rate per language is n^(α-1) = 1/√n normalized so the smallest
    * language keeps everything. Determinism: √n is computed as INTEGER
    * isqrt (floor of a correctly-rounded IEEE sqrt on an exact-integer
    * operand — bit-stable in both engines), then one integer floor
    * ratio; doc selection is the md5-bucket filter, so the sample is
    * reproducible across engines, runs, and partitionings. Scale: the
    * per-language table is tiny → broadcast; the corpus-side pass is
    * one narrow filter + one lang-keyed aggregation. */
  val q86TemperatureSample: Q = Q(
    "q86_temperature_sample",
    s"""WITH n AS (
       |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
       |), i AS (
       |  SELECT lang, n_docs,
       |    CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS isq
       |  FROM n
       |), m AS (
       |  SELECT MIN(isq) AS min_isq FROM i
       |), r AS (
       |  SELECT lang, n_docs, ${dRatio("m.min_isq", "i.isq", 1000000L)} AS rate_ppm
       |  FROM i CROSS JOIN m
       |)
       |SELECT r.lang, r.n_docs, r.rate_ppm,
       |  COUNT(CASE WHEN $DBucket < r.rate_ppm THEN 1 END) AS n_kept
       |FROM documents d JOIN r ON r.lang = d.lang
       |GROUP BY r.lang, r.n_docs, r.rate_ppm
       |ORDER BY r.lang""") { (s, d) =>
    val n = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("isq", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val m = n.agg(min("isq").as("min_isq"))
    val r = n.crossJoin(broadcast(m))
      .select(col("lang"), col("n_docs"),
        ratioScaled(col("min_isq"), col("isq"), 1000000L).as("rate_ppm"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .join(broadcast(r), "lang")
      .groupBy("lang", "n_docs", "rate_ppm")
      .agg(count(when(bucket(col("doc_id")) < col("rate_ppm"), 1)).as("n_kept"))
      .orderBy("lang")
  }

  /** q78 — bottom-k-by-hash sampling: the k documents with the smallest
    * md5 bucket per language — a uniform without-replacement sample
    * that is deterministic across engines, runs, and partitionings
    * (the distributed-systems classic for "give me exactly k uniform
    * docs per stratum"). Runs on the custom TopKPerGroup operator:
    * bounded heaps after one clustered exchange, O(n log k), never a
    * full per-language sort — at corpus scale the sample costs one scan
    * plus k rows per stratum of shuffle. Oracle: the window row_number
    * spelling of the same selection. */
  val q78BottomkSample: Q = Q(
    "q78_bottomk_sample",
    s"""WITH b AS (
       |  SELECT doc_id, lang, $DBucket AS bucket FROM documents
       |), r AS (
       |  SELECT doc_id, lang, bucket,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rk
       |  FROM b
       |)
       |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, bucket
       |FROM r WHERE rk <= 5 ORDER BY lang, rk""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val b = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), bucket(col("doc_id")).as("bucket"))
    val top = graft.plans.TopKPerGroup(b, Seq("lang"),
      Seq(("bucket", true), ("doc_id", true)), 5)
    // rank the k survivors per language (tiny) to match the oracle's rk
    val w = Window.partitionBy("lang").orderBy("bucket", "doc_id")
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select("lang", "rk", "doc_id", "bucket")
      .orderBy("lang", "rk")
  }

  /** q79 — per-domain cap: extract the host from each document's URL
    * and keep at most 3 docs per host in doc_id order — the crawl-
    * curation rule that stops any one domain from dominating the
    * corpus. (URLs are synthesized from source+doc_id — the documents
    * table has none — so the operator under test is host extraction +
    * the capped rank, one regex projection and one shuffle keyed by
    * host.) */
  val q79DomainCap: Q = Q(
    "q79_domain_cap",
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://' || source || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, regexp_extract(url, '^https?://([^/]+)', 1) AS host FROM u
       |), r AS (
       |  SELECT doc_id, host,
       |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS rk
       |  FROM h
       |)
       |SELECT doc_id, host, CAST(rk AS BIGINT) AS rk,
       |  CASE WHEN rk <= 3 THEN 1 ELSE 0 END AS kept
       |FROM r ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("host").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("host"), col("rk"),
        when(col("rk") <= 3, 1).otherwise(0).as("kept"))
      .orderBy("doc_id")
  }

  /** q91 — hashed linear quality classifier: the fastText-style filter
    * (CCNet / FineWeb-edu shape) that scores each document with a
    * linear model over hashed bag-of-words features and gates on the
    * mean token score. The model here is deterministic — bucket =
    * hex32(token) % 64, weight(bucket) = bucket % 13 - 6 — so both
    * engines compute the identical integer score; swapping in trained
    * weights is a broadcast lookup with the same plan. Narrow
    * projection, no shuffle: at 100 TB this is a single scan. */
  val q91QualityClassifier: Q = Q(
    "q91_quality_classifier",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), sc AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tok,
       |    CAST(list_reduce(list_prepend(0, list_transform(toks,
       |      t -> (CAST(concat('0x', substr(md5(t),1,8)) AS BIGINT) % 64) % 13 - 6)),
       |      (x,y) -> x+y) AS BIGINT) AS score
       |  FROM t
       |), ml AS (
       |  SELECT doc_id, n_tok, score,
       |    CASE WHEN n_tok = 0 THEN 0
       |         ELSE CAST(FLOOR(score*1000/n_tok) AS BIGINT) END AS score_milli
       |  FROM sc
       |)
       |SELECT doc_id, n_tok, score, score_milli,
       |  CASE WHEN n_tok >= 5 AND score_milli >= 0 THEN 1 ELSE 0 END AS keep_flag
       |FROM ml ORDER BY doc_id""") { (s, d) =>
    docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + (pmod(hex32(t), lit(64)) % 13 - 6)).as("score"))
      .withColumn("score_milli",
        when(col("n_tok") === 0, lit(0L))
          .otherwise(floor(col("score") * 1000 / col("n_tok"))))
      .select(col("doc_id"), col("n_tok"), col("score"), col("score_milli"),
        when(col("n_tok") >= 5 && col("score_milli") >= 0, 1)
          .otherwise(0).as("keep_flag"))
      .orderBy("doc_id")
  }

  /** q92 — URL canonicalization + dedup: lowercase scheme/host, strip
    * default ports and `www.`, drop fragments, filter tracking params
    * (`utm_*` / `fbclid`), trim trailing slashes — then collapse to one
    * row per canonical URL. The crawl-frontier dedup that runs before
    * any content fetch. (Messy URLs are synthesized from source+doc_id
    * — the documents table has none — so the operator under test is the
    * canonicalization expression chain + one count-by-canonical
    * shuffle, O(distinct urls), ids only.) */
  val q92UrlCanon: Q = Q(
    "q92_url_canon",
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END
       |    || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
       |    || source || '.Example.COM'
       |    || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
       |    || '/p/' || CAST(doc_id % 10 AS VARCHAR)
       |    || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
       |    || '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'
       |    || '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
       |  FROM documents
       |), parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
       |    regexp_replace(regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
       |      ':(443|80)$$', ''), '^www\\.', '') AS host,
       |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/$$', '') AS path,
       |    array_to_string(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
       |      p -> NOT regexp_matches(p, '^(utm_|fbclid)')), '&') AS query
       |  FROM u
       |), canon AS (
       |  SELECT doc_id, scheme || '://' || host || path
       |    || CASE WHEN query <> '' THEN '?' || query ELSE '' END AS canonical_url
       |  FROM parts
       |)
       |SELECT canonical_url,
       |  CAST(COUNT(*) AS BIGINT) AS n_dupes,
       |  MIN(doc_id) AS first_doc
       |FROM canon GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val url = concat(
      when(col("doc_id") % 3 === 0, "HTTP://").otherwise("https://"),
      when(col("doc_id") % 2 === 0, "WWW.").otherwise(""),
      col("source"), lit(".Example.COM"),
      when(col("doc_id") % 5 === 0, ":443").otherwise(""),
      lit("/p/"), pmod(col("doc_id"), lit(10)).cast("string"),
      when(col("doc_id") % 4 === 0, "/").otherwise(""),
      lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(3)).cast("string"),
      lit("&utm_campaign=x"),
      lit("#sec"), pmod(col("doc_id"), lit(3)).cast("string"))
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)),
      ":(443|80)$", ""), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/$", "")
    val query = concat_ws("&",
      filter(split(regexp_extract(col("url"), "\\?([^#]*)", 1), "&"),
        p => !p.rlike("^(utm_|fbclid)")))
    Tables.documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        concat(scheme, lit("://"), host, path,
          when(query =!= "", concat(lit("?"), query)).otherwise("")).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_dupes"), min(col("doc_id")).as("first_doc"))
      .orderBy("canonical_url")
  }

  /** q95 — token-budget greedy selection: rank documents by a quality
    * score (lexical diversity: distinct-token ppm, tie-break doc_id) and
    * keep the prefix whose cumulative token count fits a fixed training
    * budget — the "take the best B tokens" cut every scaling-law data
    * build runs.
    *
    * The naive spelling is a GLOBAL running sum (one window over the
    * full order = a single-partition sort — dead at 100 TB). This is
    * the distributed two-level spelling: (1) per-score token totals
    * (a tiny partial-aggregated groupBy — O(|distinct scores|) rows),
    * (2) a cumulative sum over that small score histogram (window over
    * thousands of rows, not billions), broadcast back, (3) a per-score
    * running sum windowed WITHIN each score group (parallel across
    * scores). cum(before score) + cum(within score) is exactly the
    * global running sum, with no global sort of the corpus. */
  val q95TokenBudget: Q = Q(
    "q95_token_budget",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), scored AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
       |    CASE WHEN len(toks)=0 THEN 0 ELSE CAST(FLOOR(
       |      CAST(len(list_distinct(toks)) AS BIGINT)*1000000/len(toks)) AS BIGINT) END AS score
       |  FROM t
       |), c AS (
       |  SELECT doc_id, score, n_tok,
       |    SUM(n_tok) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum_tok
       |  FROM scored
       |)
       |SELECT doc_id, score, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
       |FROM c WHERE cum_tok <= 15000
       |ORDER BY score DESC, doc_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val scored = t.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tok"),
      when(size(col("toks")) === 0, 0L)
        .otherwise(floor(size(array_distinct(col("toks"))).cast("long") * 1000000L
          / size(col("toks"))))
        .cast("long").as("score"))
    // level 1+2: cumulative tokens BEFORE each score value (small frame)
    val wScore = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val scoreCum = scored.groupBy("score")
      .agg(sum("n_tok").as("score_tok"))
      .withColumn("cum_before", coalesce(sum("score_tok").over(wScore), lit(0L)))
      .select("score", "cum_before")
    // level 3: running sum inside each score group, parallel by score
    val wIn = Window.partitionBy("score").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(broadcast(scoreCum), "score")
      .withColumn("cum_tok", col("cum_before") + sum("n_tok").over(wIn))
      .filter(col("cum_tok") <= 15000L)
      .select(col("doc_id"), col("score"), col("n_tok"), col("cum_tok"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** q105 — BM25 passage retrieval for a fixed 3-term query: the
    * classic IR ranking (Okapi BM25, k1=1.2, b=0.75, log-free rational
    * idf (N-df+0.5)/(df+0.5) so no engine's `ln` rounding enters) over
    * the same tf/df/dl tables as q75. Every arithmetic step is the
    * identical IEEE expression on both engines and the per-doc term
    * sum folds in term order (a bare SUM(double) would be shuffle-
    * order-dependent), so scores are bit-stable. Plan: tf/df from one
    * (doc,term) aggregation, df + corpus stats broadcast, one per-doc
    * window-free top-20 via global sort of ~|matched docs| rows. */
  /** Shared BM25 scoring chain (q105 / q125's text leg): the CTE list
    * from raw tokens through per-matched-doc `agg(doc_id, n_terms,
    * score)` for the fixed 3-term query. Compose as
    * `WITH $DBm25Chain <more CTEs...> SELECT ...`. */
  private[ops] val DBm25Chain: String =
    s"""t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term FROM t
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
       |), df AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
       |), dl AS (
       |  SELECT doc_id, len(toks) AS n_tok FROM t
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM t
       |), s AS (
       |  SELECT tf.doc_id, tf.term,
       |    ((n_docs - df + 0.5) / (df + 0.5)) *
       |    ((CAST(tf AS DOUBLE) * 2.2) / (tf + 1.2 * (0.25 + 0.75 * n_tok / avgdl))) AS sc
       |  FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
       |  WHERE term IN ('spark', 'join', 'window')
       |), agg AS (
       |  SELECT doc_id, COUNT(*) AS n_terms,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sc ORDER BY term)),
       |      (a, e) -> a + e) AS score
       |  FROM s GROUP BY doc_id
       |)"""

  /** Spark side of the chain: per matched doc (doc_id, n_terms, score)
    * — unranked; q105 tops it, q125's fusion ranks it. */
  /** The shared BM25 frames: (tf, df, dl, stats). Round 12: `t` and
    * `tf` are checkpointed so one tokenize + one term aggregation feed
    * every consumer — q243 previously built this chain TWICE (its own
    * tf + bm25Scored's), re-tokenizing the corpus ~6x across the legs. */
  private[ops] def bm25Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val t = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
      .transform(Materialize.snapshot) // tokenize once: tf, dl, stats all read it
    val tf = t.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .transform(Materialize.snapshot) // read by df + the scoring pass(es)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
    val stats = t.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).cast("double")./(count(lit(1))).as("avgdl"))
    (tf, df, dl, stats)
  }

  /** BM25 scoring of the fixed seed query over prebuilt frames. */
  private[ops] def bm25ScoredFrom(tf: DataFrame, df: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame = {
    val idf = (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)
    val tfc = (col("tf").cast("double") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("n_tok") / col("avgdl")))
    tf.filter(col("term").isin("spark", "join", "window"))
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), (idf * tfc).as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(transform(sort_array(collect_list(struct(col("term"), col("sc")))),
          _.getField("sc")), lit(0.0), (a, e) => a + e).as("score"))
  }

  private[ops] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val (tf, df, dl, stats) = bm25Parts(s, d)
    bm25ScoredFrom(tf, df, dl, stats)
  }

  val q105Bm25: Q = Q(
    "q105_bm25",
    s"""WITH $DBm25Chain
       |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
       |  CAST(FLOOR(score * 1000) AS BIGINT) AS score_milli
       |FROM agg ORDER BY score_milli DESC, doc_id LIMIT 20""") { (s, d) =>
    bm25Scored(s, d)
      .select(col("doc_id"), col("n_terms"),
        floor(col("score") * 1000).cast("long").as("score_milli"))
      .orderBy(col("score_milli").desc, col("doc_id"))
      .limit(20)
  }

  /** q148 — inverted-index build: materialize per-term posting lists in
    * the classical on-disk layout — df, collection frequency, and a
    * delta-encoded postings string `docgap:tf@pos.pos...,docgap:tf@...`
    * where each doc id is stored as its gap from the previous posting
    * (the front-coding that makes real indexes compress) and positions
    * are kept per posting for phrase queries. q105/q75 SCORE with tf/df;
    * this materializes the searchable artifact itself.
    *
    * Scale shape: one (term, doc) aggregation off the token stream
    * (map-side partials collapse repeats), then the gap window and the
    * final fold both partition BY TERM — vocabulary cardinality, so
    * parallelism is wide and no global sort exists. Stopword terms make
    * long postings (bounded by df); that is the q143 skew-audit case,
    * and a production variant shards postings past a df ceiling — here
    * they stay well under partition size at any gate SF. The per-term
    * ordered fold reuses the sorted-unique join spelling (A3):
    * collect_list of (doc_id, entry) structs, array_sort, transform. */
  val q148InvertedIndex: Q = Q(
    "q148_inverted_index",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term,
       |    unnest(range(0, len(toks))) AS pos
       |  FROM t
       |), td AS (
       |  SELECT term, doc_id, COUNT(*) AS tf,
       |    string_agg(CAST(pos AS VARCHAR), '.' ORDER BY pos) AS poss
       |  FROM tok GROUP BY 1, 2
       |), g AS (
       |  SELECT term, doc_id, tf, poss,
       |    doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), 0) AS gap
       |  FROM td
       |)
       |SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
       |  string_agg(CAST(gap AS VARCHAR) || ':' || CAST(tf AS VARCHAR) || '@' || poss,
       |    ',' ORDER BY doc_id) AS postings
       |FROM g GROUP BY term ORDER BY term""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val tok = t.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
    val td = tok.groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        array_join(array_sort(collect_list(col("pos"))), ".").as("poss"))
    val w = Window.partitionBy("term").orderBy("doc_id")
    td
      .withColumn("gap",
        col("doc_id") - coalesce(lag("doc_id", 1).over(w), lit(0L)))
      .withColumn("entry",
        concat(col("gap").cast("string"), lit(":"), col("tf").cast("string"),
          lit("@"), col("poss")))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("entry")))),
          _.getField("entry")), ",").as("postings"))
      .orderBy("term")
  }

  /** q151 — registrable-domain extraction (eTLD+1): reduce hosts to the
    * unit that domain caps, crawl budgets, and dedup priors actually key
    * on. `site.co.uk` and `news.site.co.uk` are ONE registrable domain;
    * a naive "last two labels" parse calls them `co.uk` — the public-
    * suffix list exists because TLD label counts vary. Hosts synthesize
    * with 1- and 2-label suffixes and 0–2 subdomain labels; the suffix
    * table joins by dot-boundary suffix match, longest match wins
    * (max_by on label count — `x.co.uk` matches both `uk` and `co.uk`
    * and must take the latter), and the registrable domain is the one
    * label left of the winning suffix. q79's cap and q92's canonicalizer
    * consume a host; this is the normalizer that turns a host into the
    * capping key.
    *
    * Scale: the suffix list is a broadcast non-equi join (real PSL is
    * ~9k rows — still broadcast), longest-match is a per-host max_by
    * with map-side partials, and the final rollup groups by domain.
    * Per-row string ops stay in codegen; nothing shuffles but the
    * (host, domain) aggregates. */
  val q151PublicSuffix: Q = Q(
    "q151_public_suffix",
    """WITH hosts AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0 THEN 'news.site' || CAST(doc_id % 30 AS VARCHAR) || '.co.uk'
      |         WHEN doc_id % 4 = 1 THEN 'site' || CAST(doc_id % 30 AS VARCHAR) || '.com'
      |         WHEN doc_id % 4 = 2 THEN 'a.b.site' || CAST(doc_id % 30 AS VARCHAR) || '.org.uk'
      |         ELSE 'cdn.site' || CAST(doc_id % 30 AS VARCHAR) || '.io' END AS host
      |  FROM documents
      |), suf AS (
      |  SELECT * FROM (VALUES ('uk', 1), ('com', 1), ('org', 1), ('io', 1),
      |    ('co.uk', 2), ('org.uk', 2), ('ac.uk', 2)) AS s(suffix, nlabels)
      |), cand AS (
      |  SELECT doc_id, host, suffix, nlabels
      |  FROM hosts JOIN suf ON ends_with(host, '.' || suffix)
      |), best AS (
      |  SELECT doc_id, host, arg_max(suffix, nlabels) AS suffix
      |  FROM cand GROUP BY 1, 2
      |), dom AS (
      |  SELECT doc_id, host, suffix,
      |    regexp_extract(substr(host, 1, length(host) - length(suffix) - 1),
      |      '([^.]+)$', 1) || '.' || suffix AS domain
      |  FROM best
      |)
      |SELECT domain, suffix AS public_suffix,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
      |  MIN(doc_id) AS first_doc
      |FROM dom GROUP BY 1, 2 ORDER BY 1""") { (s, d) =>
    import s.implicits._
    val suf = Seq(("uk", 1), ("com", 1), ("org", 1), ("io", 1),
      ("co.uk", 2), ("org.uk", 2), ("ac.uk", 2)).toDF("suffix", "nlabels")
    val n30 = pmod(col("doc_id"), lit(30)).cast("string")
    val hosts = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 4 === 0, concat(lit("news.site"), n30, lit(".co.uk")))
        .when(col("doc_id") % 4 === 1, concat(lit("site"), n30, lit(".com")))
        .when(col("doc_id") % 4 === 2, concat(lit("a.b.site"), n30, lit(".org.uk")))
        .otherwise(concat(lit("cdn.site"), n30, lit(".io"))).as("host"))
    val best = hosts
      .join(broadcast(suf), col("host").endsWith(concat(lit("."), col("suffix"))))
      .groupBy("doc_id", "host")
      .agg(max_by(col("suffix"), col("nlabels")).as("suffix"))
    best
      .select(col("doc_id"), col("host"), col("suffix"),
        concat(
          regexp_extract(
            expr("substring(host, 1, length(host) - length(suffix) - 1)"),
            "([^.]+)$", 1),
          lit("."), col("suffix")).as("domain"))
      .groupBy("domain", "suffix")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        min(col("doc_id")).as("first_doc"))
      .select(col("domain"), col("suffix").as("public_suffix"),
        col("n_docs"), col("n_hosts"), col("first_doc"))
      .orderBy("domain")
  }

  /** q150 — positional phrase query: find documents containing an exact
    * token-adjacency phrase by intersecting per-term position lists —
    * the retrieval-side consumer of the q148 index (q136's Aho-Corasick
    * scans raw TEXT for substrings; this answers from the TOKENIZED
    * position space, the way an index serves phrase queries without
    * touching documents). Three probe phrases: two that occur, one that
    * cannot (reported with zero hits via the left join — absence is part
    * of the contract). Overlapping matches count once per start position
    * on both engines.
    *
    * Scale: the token stream is first filtered to the phrase vocabulary
    * (broadcast IN-list — the analogue of reading only those postings),
    * so the positional self-join on (doc, term, pos+1) runs over a
    * vanishing fraction of the corpus; the phrase dictionary is
    * broadcast. No full-text rescan, no unfiltered self-join. */
  val q150PhraseQuery: Q = Q(
    "q150_phrase_query",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term,
       |    unnest(range(0, len(toks))) AS pos
       |  FROM t
       |  WHERE len(list_intersect(toks,
       |    ['spark', 'join', 'table', 'quantum', 'flux'])) > 0
       |), ph AS (
       |  SELECT * FROM (VALUES
       |    ('spark join', 'spark', 'join'),
       |    ('table table', 'table', 'table'),
       |    ('quantum flux', 'quantum', 'flux')) AS v(phrase, w1, w2)
       |), m AS (
       |  SELECT ph.phrase, a.doc_id
       |  FROM ph
       |  JOIN tok a ON a.term = ph.w1
       |  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |            AND b.term = ph.w2
       |), agg AS (
       |  SELECT phrase, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_hits,
       |    MIN(doc_id) AS first_doc
       |  FROM m GROUP BY 1
       |)
       |SELECT ph.phrase, CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits, first_doc
       |FROM ph LEFT JOIN agg USING (phrase)
       |ORDER BY phrase""") { (s, d) =>
    import s.implicits._
    val vocab = Seq("spark", "join", "table", "quantum", "flux")
    val ph = Seq(
      ("spark join", "spark", "join"),
      ("table table", "table", "table"),
      ("quantum flux", "quantum", "flux")).toDF("phrase", "w1", "w2")
    val tok = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
      .filter(col("term").isin(vocab: _*))
    val a = tok.join(broadcast(ph), col("term") === col("w1"))
      .select(col("phrase"), col("w2"), col("doc_id").as("a_doc"),
        (col("pos") + 1).as("next_pos"))
    val m = a.join(tok.as("b"),
      col("a_doc") === col("b.doc_id") && col("next_pos") === col("b.pos") &&
        col("w2") === col("b.term"))
    val agg = m.groupBy("phrase")
      .agg(countDistinct(col("a_doc")).as("n_docs"), count(lit(1)).as("n_hits"),
        min(col("a_doc")).as("first_doc"))
    ph.select("phrase").join(agg, Seq("phrase"), "left")
      .select(col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_doc"))
      .orderBy("phrase")
  }

  /** q154 — incremental index maintenance: merge an append batch into
    * the q148 posting lists touching ONLY the terms the batch contains —
    * the q132/q134 incremental discipline applied to the index artifact.
    * Base corpus (doc_id % 10 != 0) and batch (doc_id % 10 = 0) keep
    * per-(term, doc) tf rows as the index STATE; the merge semi-joins
    * the state to the batch's term set, unions the batch rows in, and
    * re-encodes doc gaps only for those terms (batch docs interleave
    * with base docs, so gap re-encoding per affected term is the honest
    * minimum — append-only gap concat would corrupt interleaved ids).
    * The oracle recomputes the same postings from the FULL corpus
    * restricted to affected terms, so the hash gate proves
    * merge == recompute, the invariant incremental maintenance owes.
    *
    * Scale: the delta touches |affected terms| posting lists, not the
    * index; the un-affected state never moves. Window and fold partition
    * by term, as in q148. */
  val q154IndexMaintain: Q = Q(
    "q154_index_maintain",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term FROM t
       |), td AS (
       |  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
       |), aff AS (
       |  SELECT DISTINCT term FROM td WHERE doc_id % 10 = 0
       |), m AS (
       |  SELECT td.term, doc_id, tf FROM td JOIN aff USING (term)
       |), g AS (
       |  SELECT term, doc_id, tf,
       |    doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), 0) AS gap
       |  FROM m
       |)
       |SELECT term,
       |  CAST(COUNT(CASE WHEN doc_id % 10 <> 0 THEN 1 END) AS BIGINT) AS df_base,
       |  CAST(COUNT(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS BIGINT) AS df_batch,
       |  CAST(COUNT(*) AS BIGINT) AS df_merged,
       |  string_agg(CAST(gap AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
       |    ',' ORDER BY doc_id) AS postings_merged
       |FROM g GROUP BY term ORDER BY term""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val td = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .transform(Materialize.snapshot) // state read by base split, batch split, and term set
    val base = td.filter(col("doc_id") % 10 =!= 0)
    val batch = td.filter(col("doc_id") % 10 === 0)
    val affected = batch.select("term").distinct()
    val merged = base.join(affected, Seq("term"), "left_semi")
      .unionByName(batch)
    val w = Window.partitionBy("term").orderBy("doc_id")
    merged
      .withColumn("gap",
        col("doc_id") - coalesce(lag("doc_id", 1).over(w), lit(0L)))
      .withColumn("entry",
        concat(col("gap").cast("string"), lit(":"), col("tf").cast("string")))
      .groupBy("term")
      .agg(
        count(when(col("doc_id") % 10 =!= 0, 1)).as("df_base"),
        count(when(col("doc_id") % 10 === 0, 1)).as("df_batch"),
        count(lit(1)).as("df_merged"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("entry")))),
          _.getField("entry")), ",").as("postings_merged"))
      .orderBy("term")
  }

  /** q110 — DSIR-style importance resampling (Xie et al. 2023 shape):
    * rank raw documents by how much they look like a TARGET domain
    * (here lang='en') under hashed-unigram bucket models. Token →
    * md5 bucket (64 buckets); add-1-smoothed bucket counts give the
    * target and raw unigram models; a document's score is the sum of
    * its tokens' importance ratios tc·R/(rc·T) in floor-ppm, averaged
    * per token; the top 50 by mean ratio are selected.
    *
    * Integer-exactness: the per-BUCKET weight is the one floor-ratio
    * both engines share (64 rows — numerators stay < 2^53 at gate
    * scale), and per-doc scores are exact BIGINT sums of those
    * weights. Scale shape: the exploded (doc, bucket) int stream
    * collapses map-side into per-doc bucket HISTOGRAMS (≤ 64 rows per
    * doc — that bounded table is what materializes for reuse, never
    * O(tokens) rows); the models are 64-row aggregates of it, the
    * weight table is BROADCAST back onto it, and the per-doc score is
    * Σ cnt·w over histogram rows. Text never shuffles — buckets do. */
  val q110Dsir: Q = Q(
    "q110_dsir",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), ex AS (
       |  SELECT doc_id, lang,
       |    CAST(concat('0x', substr(md5(tok),1,8)) AS BIGINT) % 64 AS b
       |  FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM t)
       |), tot AS (
       |  SELECT COUNT(*) AS rtot,
       |         COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ttot FROM ex
       |), tc AS (
       |  SELECT b, COUNT(*) AS tcnt FROM ex WHERE lang = 'en' GROUP BY b
       |), rc AS (
       |  SELECT b, COUNT(*) AS rcnt FROM ex GROUP BY b
       |), w AS (
       |  SELECT sp.b AS b,
       |    ${dRatio("(COALESCE(tcnt,0)+1)*(rtot+64)", "(COALESCE(rcnt,0)+1)*(ttot+64)", 1000000L)} AS w_ppm
       |  FROM (SELECT unnest(range(0,64)) AS b) sp
       |  LEFT JOIN tc ON sp.b = tc.b LEFT JOIN rc ON sp.b = rc.b
       |  CROSS JOIN tot
       |), score AS (
       |  SELECT doc_id, COUNT(*) AS n_tok, SUM(w_ppm) AS sw
       |  FROM ex JOIN w USING (b) GROUP BY doc_id
       |)
       |SELECT t.doc_id AS doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tok,
       |  ${dRatio("COALESCE(sw, 0)", "len(toks)", 1L)} AS avg_w_ppm
       |FROM t LEFT JOIN score ON t.doc_id = score.doc_id
       |ORDER BY avg_w_ppm DESC, doc_id LIMIT 50""") { (s, d) =>
    val t = docs(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    // per-doc BUCKET HISTOGRAMS, not token rows: the exploded bucket
    // stream partial-aggregates map-side into <= 64 rows per doc, and
    // only THAT bounded table materializes for reuse — at corpus scale
    // the checkpoint holds O(docs x 64) ints, never O(tokens)
    val hist = t.select(col("doc_id"), col("lang"),
        explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("lang"), pmod(hex32(col("tok")), lit(64L)).as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt"))
      .transform(Materialize.snapshot) // feeds both models and the scoring join
    val tot = hist.agg(sum(col("cnt")).as("rtot"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ttot"))
    val spine = hist.sparkSession.range(0, 64).select(col("id").as("b"))
    val tc = hist.filter(col("lang") === "en")
      .groupBy("b").agg(sum(col("cnt")).as("tcnt"))
    val rc = hist.groupBy("b").agg(sum(col("cnt")).as("rcnt"))
    val w = spine
      .join(tc, Seq("b"), "left").join(rc, Seq("b"), "left")
      .crossJoin(broadcast(tot)) // 1-row corpus totals: explicit, not planner luck
      .select(col("b"), ratioScaled(
        (coalesce(col("tcnt"), lit(0L)) + 1L) * (col("rtot") + 64L),
        (coalesce(col("rcnt"), lit(0L)) + 1L) * (col("ttot") + 64L),
        1000000L).as("w_ppm"))
    val score = hist.join(broadcast(w), "b")
      .groupBy("doc_id").agg(sum(col("cnt") * col("w_ppm")).as("sw"))
    t.join(score, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), size(col("toks")).cast("long").as("n_tok"),
        ratioScaled(coalesce(col("sw"), lit(0L)), size(col("toks")), 1L).as("avg_w_ppm"))
      .orderBy(col("avg_w_ppm").desc, col("doc_id")).limit(50)
  }

  /** q114 — UniMax-style budget allocation (epoch-capped water-filling):
    * split a total token budget (60% of the corpus) across languages so
    * no language exceeds 2 epochs of its own data and the remainder
    * spreads evenly — the greedy pass of the UniMax sampler: visit
    * languages by ascending capacity; each takes
    * `min(capacity, remaining // languages_left)`. The loop is
    * SEQUENTIAL by construction (each step's floor depends on what
    * smaller languages consumed), so it runs as an ordered fold over
    * the per-language stats — k rows, folded in one expression after a
    * k-key aggregation of the corpus; the corpus itself contributes one
    * token-count scan. All arithmetic is integer (exact floors); the
    * oracle unrolls the same fold as a recursive CTE. */
  val q114Unimax: Q = Q(
    "q114_unimax",
    s"""WITH RECURSIVE t AS (
       |  SELECT lang, $DToks AS toks FROM documents
       |), ls AS (
       |  SELECT lang, CAST(SUM(len(toks)) AS BIGINT) AS n_tok FROM t GROUP BY lang
       |), ord AS (
       |  SELECT lang, n_tok, n_tok*2 AS cap,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_tok*2, lang) AS BIGINT) AS i,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS k
       |  FROM ls
       |), tot AS (
       |  SELECT CAST((SUM(n_tok)*6)//10 AS BIGINT) AS b FROM ls
       |), alloc AS (
       |  SELECT CAST(0 AS BIGINT) AS i, b AS remaining,
       |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_tok,
       |    CAST(NULL AS BIGINT) AS cap, CAST(NULL AS BIGINT) AS a
       |  FROM tot
       |  UNION ALL
       |  SELECT o.i, r.remaining - least(o.cap, r.remaining // (o.k - o.i + 1)),
       |    o.lang, o.n_tok, o.cap,
       |    least(o.cap, r.remaining // (o.k - o.i + 1))
       |  FROM alloc r JOIN ord o ON o.i = r.i + 1
       |)
       |SELECT lang, n_tok, cap, a AS alloc,
       |  ${dRatio("a", "n_tok", 1000L)} AS epochs_milli
       |FROM alloc WHERE i > 0 ORDER BY lang""") { (s, d) =>
    val ls = docs(s, d)
      .select(col("lang"), tokens(col("text")).as("toks"))
      .groupBy("lang").agg(sum(size(col("toks"))).as("n_tok"))
    val withB = ls.crossJoin(broadcast( // 1-row budget scalar
      ls.agg(expr("CAST((sum(n_tok)*6) div 10 AS BIGINT)").as("b"))))
    val arr = withB.agg(
      sort_array(collect_list(struct((col("n_tok") * 2).as("cap"),
        col("lang"), col("n_tok")))).as("xs"),
      min(col("b")).as("b"))
    // ordered fold: state = (remaining, langs left, allocations so far)
    val empty = array_repeat(struct(lit("").as("lang"), lit(0L).as("n_tok"),
      lit(0L).as("cap"), lit(0L).as("alloc")), 0)
    val folded = aggregate(col("xs"),
      struct(col("b").as("remaining"), size(col("xs")).cast("long").as("left"),
        empty.as("allocs")),
      (acc, e) => {
        // exact integer floor division (the oracle's `//`): subtracting
        // the pmod first makes the double division exact for any
        // realistic token budget (a bare floor(a/b) rounds the
        // quotient at >= 2^52 and can disagree with `//` by 1)
        val rem = acc.getField("remaining")
        val share = ((rem - pmod(rem, acc.getField("left")))
          / acc.getField("left")).cast("long")
        val a = least(e.getField("cap"), share)
        struct(
          (acc.getField("remaining") - a).as("remaining"),
          (acc.getField("left") - 1L).as("left"),
          concat(acc.getField("allocs"), array(struct(
            e.getField("lang").as("lang"), e.getField("n_tok").as("n_tok"),
            e.getField("cap").as("cap"), a.as("alloc")))).as("allocs"))
      })
    arr.select(explode(folded.getField("allocs")).as("r"))
      .select(col("r.lang").as("lang"), col("r.n_tok").as("n_tok"),
        col("r.cap").as("cap"), col("r.alloc").as("alloc"),
        ratioScaled(col("r.alloc"), col("r.n_tok"), 1000L).as("epochs_milli"))
      .orderBy("lang")
  }

  /** q118 — best-fit-decreasing bin packing of token chunks into
    * 100-token context windows: items are q93's 32/24-stride chunks,
    * sorted longest-first per language, and each goes into the TIGHTEST
    * already-open bin that fits (min remaining capacity ≥ need; first
    * such bin on ties), opening a new bin otherwise — the classic BFD
    * packing a training pipeline runs to cut padding waste vs q76's
    * sequential first-fit. The fold is inherently ordered, so packing
    * SHARDS: each (lang, source, doc_id%8) stream folds independently
    * after one clustered aggregation — the folds are embarrassingly
    * parallel and each is bounded by its shard's size (a single
    * per-language fold measured O(items x bins) = minutes at sf0.1;
    * sharding is how distributed packing actually runs, trading a
    * bounded amount of cross-shard fill for parallelism). The doc_id
    * sub-shard key (ADVICE r04) bounds the fold even when one
    * (lang, source) dominates the corpus — no single fold exceeds
    * ~1/8 of the largest source regardless of skew, and the key is
    * deterministic so the oracle shards identically. The per-language report: bins
    * used across shards vs the global ceil(total/capacity) lower bound
    * and fill ratio, all integer. Oracle: the same fold as a
    * per-stream recursive CTE, aggregated identically. */
  val q118BestfitPack: Q = Q(
    "q118_bestfit_pack",
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, lang, source, $DToks AS toks FROM documents
       |), ch AS (
       |  SELECT lang, source, doc_id, doc_id % 8 AS sub,
       |    CAST((start-1)//24 AS BIGINT) AS chunk_idx,
       |    CAST(len(toks[start:start+31]) AS BIGINT) AS need
       |  FROM (SELECT lang, source, doc_id, toks, unnest(range(1, len(toks)+1, 24)) AS start
       |        FROM t WHERE len(toks) > 0)
       |), itm AS (
       |  SELECT lang, source, sub, need,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source, sub
       |      ORDER BY need DESC, doc_id, chunk_idx) AS BIGINT) AS rn
       |  FROM ch
       |), scnt AS (
       |  SELECT lang, source, sub, CAST(COUNT(*) AS BIGINT) AS s_items
       |  FROM itm GROUP BY lang, source, sub
       |), rec AS (
       |  SELECT lang, source, sub, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS bins
       |  FROM scnt
       |  UNION ALL
       |  SELECT r.lang, r.source, r.sub, r.i + 1,
       |    CASE WHEN list_min(list_filter(r.bins, c -> c >= t.need)) IS NULL
       |         THEN list_append(r.bins, 100 - t.need)
       |         ELSE list_transform(range(1, len(r.bins)+1), x ->
       |           CASE WHEN x = list_position(r.bins,
       |                  list_min(list_filter(r.bins, c -> c >= t.need)))
       |                THEN r.bins[x] - t.need ELSE r.bins[x] END)
       |    END
       |  FROM rec r JOIN itm t ON t.lang = r.lang AND t.source = r.source
       |    AND t.sub = r.sub AND t.rn = r.i + 1
       |), fin AS (
       |  SELECT r.lang AS lang, CAST(len(bins) AS BIGINT) AS s_bins
       |  FROM rec r JOIN scnt USING (lang, source, sub) WHERE r.i = s_items
       |), tot AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_items,
       |    CAST(SUM(need) AS BIGINT) AS total_tok
       |  FROM itm GROUP BY lang
       |)
       |SELECT tot.lang AS lang, n_items, total_tok,
       |  (SELECT CAST(SUM(s_bins) AS BIGINT) FROM fin WHERE fin.lang = tot.lang) AS n_bins,
       |  (total_tok + 99) // 100 AS lower_bound,
       |  ${dRatio("total_tok",
                   "(SELECT SUM(s_bins) FROM fin WHERE fin.lang = tot.lang) * 100",
                   1000000L)} AS fill_ppm
       |FROM tot ORDER BY lang""") { (s, d) =>
    val ch = docs(s, d)
      .select(col("lang"), col("source"), col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("lang"), col("source"), col("doc_id"), col("toks"),
        explode(ctxChunkStarts(col("toks"))).as("start"))
      .select(col("lang"), col("source"), col("doc_id"),
        (col("doc_id") % 8).as("sub"),
        expr(s"CAST((start - 1) div $CtxStride AS BIGINT)").as("chunk_idx"),
        size(slice(col("toks"), col("start"), lit(CtxWindow))).cast("long").as("need"))
    // longest-first visit order: sort_array ascending on (-need, doc, idx)
    val agged = ch.groupBy("lang", "source", "sub").agg(
      count(lit(1)).as("s_items"), sum(col("need")).as("s_tok"),
      sort_array(collect_list(struct((-col("need")).as("negneed"),
        col("doc_id"), col("chunk_idx"), col("need")))).as("xs"))
    val folded = aggregate(col("xs"),
      array().cast("array<long>"),
      (bins, e) => {
        val need = e.getField("need")
        val fit = array_min(filter(bins, c => c >= need))
        // first bin holding the tightest fitting capacity (1-based)
        val pos = array_position(bins, fit)
        when(fit.isNull, concat(bins, array(lit(100L) - need)))
          .otherwise(transform(bins,
            (c, i) => when(i === pos - 1, c - need).otherwise(c)))
      })
    agged
      .select(col("lang"), col("s_items"), col("s_tok"),
        size(folded).cast("long").as("s_bins"))
      .groupBy("lang")
      .agg(sum(col("s_items")).as("n_items"), sum(col("s_tok")).as("total_tok"),
        sum(col("s_bins")).as("n_bins"))
      .select(col("lang"), col("n_items"), col("total_tok"), col("n_bins"),
        expr("CAST((total_tok + 99) div 100 AS BIGINT)").as("lower_bound"),
        ratioScaled(col("total_tok"), col("n_bins") * 100L, 1000000L).as("fill_ppm"))
      .orderBy("lang")
  }

  /** q133 — per-source boilerplate strip (CCNet/RefinedWeb-style template
    * removal; ref pipeline has no counterpart — this is the LLM-curation
    * extension). q102 removes chunks duplicated ANYWHERE in the corpus
    * (first occurrence wins); this removes chunks whose within-source
    * document frequency crosses a threshold — nav bars, cookie banners,
    * footers that a crawl of one host repeats on every page. A chunk is
    * boilerplate for a source iff the source has >= 10 docs and the chunk
    * appears in >= 20% of them; dedup keeps one copy, boilerplate keeps
    * none. The documents table has no natural templates, so both engines
    * plant them identically: doc_id%3 docs get a 16-token per-source
    * header chunk, doc_id%9 docs additionally a second header (~11% of a
    * source's docs — under the threshold, so it must SURVIVE: the oracle
    * checks the threshold semantics, not just "headers vanish").
    *
    * Scale design: chunk TEXT never shuffles — the frequency pass moves
    * (source, md5, doc_id) tuples, the per-source doc counts are a
    * 20-row aggregate, and the boilerplate set (O(sources x frequent
    * chunks)) broadcasts back to the chunk stream; the rebuild filters
    * the chunk array IN the original document row (narrow projection
    * over a localCheckpoint, same shape as q102). At 100 TB the shuffled
    * bytes are O(chunks) x ~50 bytes, never the corpus. */
  val q133BoilerplateStrip: Q = {
    val dHdrA = "['nav','home','about','contact','privacy','terms'," +
      "'copyright',source,'all','rights','reserved','subscribe'," +
      "'newsletter','follow','us','today']"
    val dHdrB = "['footer','sitemap','rss','login',source,'register'," +
      "'search','menu','categories','tags','archive','popular'," +
      "'recent','comments','share','links']"
    Q("q133_boilerplate_strip",
      s"""WITH t AS (
         |  SELECT * FROM (
         |    SELECT doc_id, source,
         |      CASE WHEN doc_id%9=0 THEN $dHdrA || $dHdrB || toks
         |           WHEN doc_id%3=0 THEN $dHdrA || toks
         |           ELSE toks END AS toks
         |    FROM (SELECT doc_id, source, $DToks AS toks FROM documents) b
         |  ) WHERE len(toks) > 0
         |), ch AS (
         |  SELECT doc_id, source, CAST((start-1)//16 AS BIGINT) AS idx,
         |    array_to_string(toks[start:start+15], ' ') AS txt
         |  FROM (SELECT doc_id, source, toks,
         |          unnest(range(1, len(toks)+1, 16)) AS start FROM t)
         |), srcn AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM t GROUP BY 1
         |), fq AS (
         |  SELECT source, md5(txt) AS fp,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM ch GROUP BY 1, 2
         |), boiler AS (
         |  SELECT fq.source, fq.fp FROM fq JOIN srcn ON srcn.source = fq.source
         |  WHERE n_src >= 10 AND ${dRatio("n_docs", "n_src", 1000000L)} >= 200000
         |), fl AS (
         |  SELECT ch.doc_id, ch.idx FROM ch JOIN boiler
         |    ON boiler.source = ch.source AND boiler.fp = md5(ch.txt)
         |)
         |SELECT ch.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(*) FILTER (WHERE fl.idx IS NOT NULL) AS BIGINT) AS n_boiler,
         |  md5(COALESCE(array_to_string(
         |    list(ch.txt ORDER BY ch.idx) FILTER (WHERE fl.idx IS NULL), ' '),
         |    '')) AS clean_fp
         |FROM ch LEFT JOIN fl ON fl.doc_id = ch.doc_id AND fl.idx = ch.idx
         |GROUP BY ch.doc_id ORDER BY ch.doc_id""") { (s, d) =>
      def hdr(ws: Seq[String], srcAt: Int): Column = {
        val cs = ws.map(lit(_): Column)
        array(cs.take(srcAt) ++ (col("source") +: cs.drop(srcAt)): _*)
      }
      val hdrA = hdr(Seq("nav", "home", "about", "contact", "privacy",
        "terms", "copyright", "all", "rights", "reserved", "subscribe",
        "newsletter", "follow", "us", "today"), 7)
      val hdrB = hdr(Seq("footer", "sitemap", "rss", "login", "register",
        "search", "menu", "categories", "tags", "archive", "popular",
        "recent", "comments", "share", "links"), 4)
      val t = docs(s, d)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
        .withColumn("toks",
          when(col("doc_id") % 9 === 0, concat(hdrA, hdrB, col("toks")))
            .when(col("doc_id") % 3 === 0, concat(hdrA, col("toks")))
            .otherwise(col("toks")))
        .filter(size(col("toks")) > 0)
        .withColumn("chunks", transform(
          sequence(lit(1), size(col("toks")), lit(16)),
          st => struct(((st - 1) / 16).cast("long").as("idx"),
            array_join(slice(col("toks"), st, lit(16)), " ").as("txt"))))
        .select(col("doc_id"), col("source"), col("chunks"))
        .transform(Materialize.snapshot) // chunking runs once: frequency pass + rebuild
      val ch = t.select(col("doc_id"), col("source"),
          explode(col("chunks")).as("c"))
        .select(col("doc_id"), col("source"),
          col("c").getField("idx").as("idx"),
          md5(col("c").getField("txt")).as("fp"))
      val srcn = t.groupBy("source").agg(count(lit(1)).as("n_src"))
      val boiler = ch.groupBy("source", "fp")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .join(broadcast(srcn), "source")
        .filter(col("n_src") >= 10 &&
          ratioScaled(col("n_docs"), col("n_src"), 1000000L) >= 200000)
        .select(col("source"), col("fp"))
      val fl = ch.join(broadcast(boiler), Seq("source", "fp"))
        .groupBy("doc_id").agg(collect_list(col("idx")).as("boil"))
      val boil = coalesce(col("boil"), array().cast("array<bigint>"))
      t.join(fl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("chunks")).cast("long").as("n_chunks"),
          size(array_intersect(
            transform(col("chunks"), _.getField("idx")), boil))
            .cast("long").as("n_boiler"),
          md5(array_join(
            transform(
              filter(col("chunks"),
                c => !array_contains(boil, c.getField("idx"))),
              _.getField("txt")), " ")).as("clean_fp"))
        .orderBy("doc_id")
    }
  }

  /** q136 — phrase-blocklist scan (badword/template/policy lists): per-
    * pattern corpus totals — documents hit and non-overlapping
    * occurrences — for a fixed phrase list. The engine side runs ONE
    * Aho–Corasick pass per document over all patterns (plans.MultiCount,
    * a codegen'd native expression: the pattern set compiles to a dense
    * byte DFA on the driver and rides into the generated code as a
    * reference object); the oracle spells the portable per-pattern
    * replace() trick — P passes per document — and a hash match proves
    * the single-pass automaton counts exactly replace()'s left-to-right
    * non-overlapping semantics.
    *
    * Scale shape: the document scan is narrow (text never leaves it);
    * what shuffles is P rows per input partition of (pattern-index,
    * partial count) — map-side combine collapses the per-doc explode
    * before the exchange, so 100 TB of corpus moves KiB. A real
    * blocklist is 10^2–10^4 phrases: the DFA grows O(total pattern
    * bytes), per-doc cost stays ONE pass regardless of P, while the
    * naive spelling scales O(P) passes — that gap is the operator. */
  /** q136's pattern list — shared with the streaming twin
    * (Streaming.blocklistStream) so stream-vs-batch tests compare the
    * same automaton. */
  private[graft] val BlocklistPats: Seq[String] =
    Seq("batch batch", "fast merge", "group order", "scan scan",
      "slow filter", "spark data", "table window", "value table")

  val q136BlocklistScan: Q = {
    val pats = BlocklistPats
    val dPats = pats.map(p => s"('$p')").mkString(", ")
    Q("q136_blocklist_scan",
      s"""WITH pats AS (SELECT * FROM (VALUES $dPats) p(pat)),
         |hits AS (
         |  SELECT p.pat, CAST((length(d.text) - length(replace(d.text, p.pat, '')))
         |    // length(p.pat) AS BIGINT) AS n
         |  FROM documents d CROSS JOIN pats p
         |)
         |SELECT pat, CAST(COUNT(*) FILTER (WHERE n > 0) AS BIGINT) AS docs_hit,
         |  CAST(SUM(n) AS BIGINT) AS occurrences
         |FROM hits GROUP BY pat ORDER BY pat""") { (s, d) =>
      val patArr = array(pats.map(lit): _*)
      // no stageBarrier: one automaton pass per doc is cheap enough that
      // the round-robin exchange of document text would cost more than
      // the parallelism it buys on low-split inputs (measured: the
      // barrier was 100 KiB of the query's 114 KiB shuffle at sf0.01)
      Tables.documents(s, d)
        .select(posexplode(multiCount(col("text"), pats)).as(Seq("pos", "n")))
        .groupBy("pos")
        .agg(count(when(col("n") > 0, 1)).as("docs_hit"),
          sum(col("n")).as("occurrences"))
        .select(element_at(patArr, col("pos") + 1).as("pat"),
          col("docs_hit"), col("occurrences"))
        .orderBy("pat")
    }
  }

  /** q140 — end-to-end training-data build: the whole curation pipeline
    * as ONE declarative query, producing the shard manifest a training
    * run consumes. Quality gate (q69's rules) → exact dedup
    * (first-occurrence fingerprint, q26's shape) → token-budget
    * selection (q95's two-level running sum; budget = 60% of the
    * surviving corpus's tokens, computed in-plan so the cut bites at
    * every SF) → deterministic hash sharding (q87's md5 key) → per
    * (lang, shard) manifest. The point is compositional: every stage is
    * the already-verified operator, and Catalyst fuses them into one
    * job — no intermediate materialization, no orchestration layer.
    *
    * Scale shape: gate and scoring are narrow projections; the dedup
    * window and budget windows shuffle fingerprints and (score, n_tok)
    * rows, never text; the budget total is one broadcast scalar; the
    * manifest is a lang x shard aggregate. The heaviest exchange is
    * O(kept docs) fixed-width rows — the corpus never shuffles. */
  val q140TrainingBuild: Q = Q(
    "q140_training_build",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), kept AS (
       |  SELECT doc_id, lang, toks FROM t WHERE $DKeep
       |), dedup AS (
       |  SELECT doc_id, lang, toks FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY md5(array_to_string(toks, ' ')) ORDER BY doc_id) AS rn
       |    FROM kept) WHERE rn = 1
       |), scored AS (
       |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tok,
       |    CASE WHEN len(toks)=0 THEN 0 ELSE CAST(FLOOR(
       |      CAST(len(list_distinct(toks)) AS BIGINT)*1000000/len(toks)) AS BIGINT) END AS score
       |  FROM dedup
       |), tot AS (
       |  SELECT CAST(SUM(n_tok)*6//10 AS BIGINT) AS budget FROM scored
       |), c AS (
       |  SELECT doc_id, lang, n_tok,
       |    SUM(n_tok) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM scored
       |), sel AS (
       |  SELECT doc_id, lang, n_tok FROM c CROSS JOIN tot WHERE cum <= budget
       |)
       |SELECT lang,
       |  CAST(concat('0x', substr(md5('sh_' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 8 AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |FROM sel GROUP BY lang, shard ORDER BY lang, shard""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val kept = docs(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .filter(keepExpr(col("toks")))
    val wFp = Window.partitionBy("fp").orderBy("doc_id")
    val scored = kept
      .withColumn("fp", fingerprint(col("toks")))
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tok"),
        when(size(col("toks")) === 0, 0L)
          .otherwise(floor(size(array_distinct(col("toks"))).cast("long") * 1000000L
            / size(col("toks"))))
          .cast("long").as("score"))
      .transform(Materialize.snapshot) // consumed by the budget scalar + both windows
    val budget = scored.agg(
      expr("CAST(sum(n_tok)*6 DIV 10 AS BIGINT)").as("budget"))
    // q95's two-level running sum: per-score totals first (small frame),
    // then the in-group cumsum parallel by score
    val wScore = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val scoreCum = scored.groupBy("score")
      .agg(sum("n_tok").as("score_tok"))
      .withColumn("cum_before", coalesce(sum("score_tok").over(wScore), lit(0L)))
      .select("score", "cum_before")
    val wIn = Window.partitionBy("score").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(broadcast(scoreCum), "score")
      .withColumn("cum", col("cum_before") + sum("n_tok").over(wIn))
      .crossJoin(broadcast(budget))
      .filter(col("cum") <= col("budget"))
      .select(col("lang"),
        pmod(hex32(concat(lit("sh_"), col("doc_id").cast("string"))), lit(8L))
          .as("shard"),
        col("n_tok"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "shard")
  }

  /** q167 — feature hashing (the "hashing trick"): every token maps to
    * one of 256 buckets by hash, with a second hash bit choosing ±1 so
    * collisions cancel in expectation (Weinberger et al. 2009) — the
    * fixed-width, vocabulary-free featurization that feeds linear
    * classifiers/regressors at corpus scale (q91's scorer is the
    * degenerate weights-as-hash case of this transform). Per-doc sparse
    * vectors are the intermediate; the output audits the transform
    * corpus-wide per bucket: docs touching it, signed mass, L2 mass,
    * and how many distinct token types collide there.
    *
    * Scale: explode → (doc, bucket) partial sums (map-side combine
    * collapses repeated tokens before the exchange), then a 256-cell
    * rollup; the type-collision count shuffles (bucket, token) pairs —
    * VOCABULARY-bounded, not corpus-bounded. Output is 256 rows
    * whatever the corpus size. */
  val q167FeatureHash: Q = Q(
    "q167_feature_hash",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), h AS (
       |  SELECT doc_id, tk,
       |    CAST(concat('0x', substr(md5(tk),1,8)) AS BIGINT) AS hv
       |  FROM (SELECT doc_id, unnest(toks) AS tk FROM t)
       |), f AS (
       |  SELECT doc_id, tk, hv % 256 AS bucket,
       |    CASE WHEN (hv//256) % 2 = 0 THEN 1 ELSE -1 END AS sg
       |  FROM h
       |), pd AS (
       |  SELECT doc_id, bucket, SUM(sg) AS feat
       |  FROM f GROUP BY doc_id, bucket
       |), bk AS (
       |  SELECT bucket,
       |    COUNT(*) FILTER (feat <> 0) AS n_docs,
       |    SUM(feat) AS sum_feat, SUM(feat*feat) AS sum_sq
       |  FROM pd GROUP BY bucket
       |), ty AS (
       |  SELECT bucket, COUNT(DISTINCT tk) AS n_types FROM f GROUP BY bucket
       |)
       |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(sum_feat AS BIGINT) AS sum_feat,
       |  CAST(sum_sq AS BIGINT) AS sum_sq,
       |  CAST(n_types AS BIGINT) AS n_types
       |FROM bk JOIN ty USING (bucket)
       |ORDER BY bucket""") { (s, d) =>
    import graft.functions.TextFunctions._
    val f = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .withColumn("hv", hex32(col("tk")))
      .select(col("doc_id"), col("tk"),
        pmod(col("hv"), lit(256)).as("bucket"),
        when(pmod(shiftright(col("hv"), 8), lit(2)) === 0, 1L)
          .otherwise(-1L).as("sg"))
      .transform(Materialize.snapshot) // bucket rollup + type-count reuse one pass
    val bk = f.groupBy("doc_id", "bucket").agg(sum("sg").as("feat"))
      .groupBy("bucket")
      .agg(count(when(col("feat") =!= 0, 1)).as("n_docs"),
        sum("feat").as("sum_feat"),
        sum(col("feat") * col("feat")).as("sum_sq"))
    val ty = f.groupBy("bucket").agg(countDistinct(col("tk")).as("n_types"))
    bk.join(ty, "bucket")
      .select(col("bucket"), col("n_docs"), col("sum_feat"), col("sum_sq"),
        col("n_types"))
      .orderBy("bucket")
  }

  /** q219 — minimal-span proximity ranking: for each two-term query,
    * rank documents by how CLOSE the terms co-occur — min |pos(w1) −
    * pos(w2)| over all occurrence pairs — the positional-index ranking
    * signal between q105's bag-of-words BM25 (order-blind) and q150's
    * exact phrase match (adjacency-only): "spark ... join" three words
    * apart should outrank the document where they're paragraphs apart.
    * Score = 10⁶ div (1 + span); top 5 docs per query via the
    * TopKPerGroup operator — per-partition heaps per query key, no
    * window sort over the full candidate set (a hot query with 10⁷
    * candidate docs is exactly where partition-then-sort collapses).
    *
    * Scale: the posting scan prunes to the query vocabulary BEFORE any
    * exchange (broadcast isin filter at the scan); the position-pair
    * join is per-document and bounded by per-doc term frequency; the
    * per-(query, doc) min collapses map-side. */
  val q219ProximityRank: Q = Q(
    "q219_proximity_rank",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term,
       |    unnest(range(0, len(toks))) AS pos
       |  FROM t
       |), qs AS (
       |  SELECT * FROM (VALUES
       |    ('spark join', 'spark', 'join'),
       |    ('quantum flux', 'quantum', 'flux'),
       |    ('table data', 'table', 'data')) AS v(query, w1, w2)
       |), spans AS (
       |  SELECT qs.query, a.doc_id, MIN(ABS(a.pos - b.pos)) AS min_span
       |  FROM qs
       |  JOIN tok a ON a.term = qs.w1
       |  JOIN tok b ON b.doc_id = a.doc_id AND b.term = qs.w2
       |  GROUP BY qs.query, a.doc_id
       |), ranked AS (
       |  SELECT query, doc_id, min_span,
       |    CAST(1000000 // (1 + min_span) AS BIGINT) AS score_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query
       |      ORDER BY 1000000 // (1 + min_span) DESC, doc_id) AS rn
       |  FROM spans
       |)
       |SELECT query, doc_id, CAST(min_span AS BIGINT) AS min_span, score_ppm
       |FROM ranked WHERE rn <= 5
       |ORDER BY query, score_ppm DESC, doc_id""") { (s, d) =>
    import s.implicits._
    val qs = Seq(
      ("spark join", "spark", "join"),
      ("quantum flux", "quantum", "flux"),
      ("table data", "table", "data")).toDF("query", "w1", "w2")
    val vocab = Seq("spark", "join", "quantum", "flux", "table", "data")
    val tok = docs(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(vocab: _*)) // posting-list prune at the scan
    val a = tok.join(broadcast(qs), col("term") === col("w1"))
      .select(col("query"), col("w2"), col("doc_id"), col("pos").as("pa"))
    val spans = a.join(tok.select(col("doc_id"), col("term"), col("pos").as("pb")),
        Seq("doc_id"))
      .filter(col("term") === col("w2"))
      .groupBy("query", "doc_id")
      .agg(min(abs(col("pa") - col("pb"))).cast("long").as("min_span"))
      .withColumn("score_ppm", expr("1000000 div (1 + min_span)"))
    graft.plans.TopKPerGroup(spans, Seq("query"),
        Seq(("score_ppm", false), ("doc_id", true)), 5)
      .select(col("query"), col("doc_id"), col("min_span"), col("score_ppm"))
      .orderBy(col("query"), col("score_ppm").desc, col("doc_id"))
  }

  /** q231 — n-gram novelty against a reference slice: for every
    * non-reference source, what fraction of its distinct 5-gram mass
    * does NOT appear anywhere in the reference corpus (sources with
    * numeric suffix % 4 = 0 — the stand-in for "the CommonCrawl we
    * already have")? This is the acquisition-value / memorization-audit
    * number: a new source whose novelty is ~0 is already covered, and
    * generated text scored against the training corpus reads LOW
    * novelty when the model is regurgitating. Distinct semantics from
    * q72/q83 (decontamination finds WHICH docs overlap a benchmark;
    * novelty measures aggregate NEW-gram share per slice) — same gram
    * machinery, different question.
    *
    * Scale: the fused native shingle-hash expression keeps gram
    * extraction inside the scan; the reference's distinct-hash table
    * and the per-doc gram table meet in ONE hash-keyed co-partitioned
    * left join (ints only — no text shuffles); everything after
    * collapses to ≤|sources| cells. A bloom prefilter (q83's mechanism)
    * drops in front of the join unchanged when the reference is 10¹²
    * grams. */
  val q231NgramNovelty: Q = Q(
    "q231_ngram_novelty",
    s"""WITH base AS (
       |  SELECT doc_id, source, $DToks AS toks FROM documents
       |), g AS (
       |  SELECT source,
       |    unnest(list_distinct(list_transform(${Dedup.DSh}, s -> ${Dedup.DHex32}))) AS h
       |  FROM base
       |), ref AS (
       |  SELECT DISTINCT h FROM g WHERE CAST(substring(source, 4) AS INT) % 4 = 0
       |), nov AS (
       |  SELECT g.source, COUNT(*) AS n_grams,
       |    SUM(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS novel_grams
       |  FROM g LEFT JOIN ref r ON r.h = g.h
       |  WHERE CAST(substring(g.source, 4) AS INT) % 4 <> 0
       |  GROUP BY 1
       |), nd AS (
       |  SELECT source, COUNT(*) AS n_docs FROM documents
       |  WHERE CAST(substring(source, 4) AS INT) % 4 <> 0 GROUP BY 1
       |)
       |SELECT nd.source, CAST(nd.n_docs AS BIGINT) AS n_docs,
       |  CAST(nov.n_grams AS BIGINT) AS n_grams,
       |  CAST(nov.novel_grams AS BIGINT) AS novel_grams,
       |  ${dRatio("nov.novel_grams", "nov.n_grams", 1000000L)} AS novelty_ppm
       |FROM nd JOIN nov ON nov.source = nd.source
       |ORDER BY nd.source""") { (s, d) =>
    val isRef = expr("CAST(substring(source, 4) AS INT) % 4 = 0")
    val g = Tables.documents(s, d)
      .select(col("source"),
        explode(array_distinct(tokenShingleHashes(tokens(col("text"))))).as("h"))
      .transform(Materialize.snapshot) // gram table read by the ref side and the probe side
    val ref = g.filter(isRef).select("h").distinct()
    val nov = g.filter(!isRef)
      .join(ref.withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("novel_grams"))
    val nd = Tables.documents(s, d).filter(!isRef)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    nd.join(nov, "source")
      .select(col("source"), col("n_docs"), col("n_grams"), col("novel_grams"),
        ratioScaled(col("novel_grams"), col("n_grams"), 1000000L).as("novelty_ppm"))
      .orderBy("source")
  }

  /** q243 — pseudo-relevance feedback (RM3-lite): run the q105 BM25
    * query, treat its top-3 docs as relevant, mine them for the 5
    * strongest expansion terms (Σtf within the feedback docs, minus
    * the seed terms, minus stoplike terms in more than 77% of docs —
    * past ~3/4 document frequency a term carries no discrimination), and re-score
    * the corpus with the expanded 8-term query — the classic two-pass
    * retrieval loop that lifts recall when the seed query is
    * under-specified. Expansion weights are exact integer Σtf; the
    * re-score is the house BM25 (doubles folded in sorted-term order,
    * floored to milli at the edge — both engines bit-identical).
    *
    * Scale: pass 1 is q105's plan; the feedback-doc and expansion-term
    * tables are 3 and 5 rows (broadcast); pass 2 is the SAME
    * tf/df-join shape with an 8-row term filter instead of 3. Nothing
    * new shuffles — PRF costs one more pass of the same plan. */
  val q243PrfExpansion: Q = Q(
    "q243_prf_expansion",
    s"""WITH $DBm25Chain,
       |fb AS (
       |  SELECT doc_id FROM agg
       |  ORDER BY CAST(FLOOR(score * 1000) AS BIGINT) DESC, doc_id LIMIT 3
       |), exp AS (
       |  SELECT tf.term, CAST(SUM(tf.tf) AS BIGINT) AS w
       |  FROM tf JOIN fb USING (doc_id) JOIN df USING (term) CROSS JOIN stats
       |  WHERE tf.term NOT IN ('spark', 'join', 'window')
       |    AND df.df * 100 <= 77 * stats.n_docs
       |  GROUP BY tf.term ORDER BY w DESC, term LIMIT 5
       |), qt AS (
       |  SELECT term FROM exp
       |  UNION ALL SELECT unnest(['spark', 'join', 'window'])
       |), s2 AS (
       |  SELECT tf.doc_id, tf.term,
       |    ((n_docs - df + 0.5) / (df + 0.5)) *
       |    ((CAST(tf AS DOUBLE) * 2.2) / (tf + 1.2 * (0.25 + 0.75 * n_tok / avgdl))) AS sc
       |  FROM tf JOIN qt USING (term) JOIN df USING (term)
       |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
       |), agg2 AS (
       |  SELECT doc_id, COUNT(*) AS n_terms,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(sc ORDER BY term)),
       |      (a, e) -> a + e) AS score
       |  FROM s2 GROUP BY doc_id
       |)
       |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
       |  CAST(FLOOR(score * 1000) AS BIGINT) AS score_milli,
       |  doc_id IN (SELECT doc_id FROM fb) AS in_feedback
       |FROM agg2
       |ORDER BY score_milli DESC, doc_id LIMIT 10""") { (s, d) =>
    // round 12: ONE bm25Parts chain feeds pass 1 (via bm25ScoredFrom),
    // the expansion leg, and pass 2 — before, the query built its own
    // t/tok/tf/df/dl/stats AND bm25Scored rebuilt the identical chain,
    // re-tokenizing the corpus for each un-checkpointed consumer.
    val (tf, df, dl, stats) = bm25Parts(s, d)
    val fb = bm25ScoredFrom(tf, df, dl, stats)
      .orderBy(floor(col("score") * 1000).cast("long").desc, col("doc_id"))
      .limit(3).select("doc_id")
      .transform(Materialize.snapshot) // 3 feedback docs
    val exp = tf.join(broadcast(fb), "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .filter(!col("term").isin("spark", "join", "window") &&
        col("df") * 100 <= lit(77) * col("n_docs"))
      .groupBy("term").agg(sum("tf").as("w"))
      .orderBy(col("w").desc, col("term")).limit(5)
    val seed = {
      import s.implicits._
      Seq("spark", "join", "window").toDF("term")
    }
    val qt = exp.select("term").unionByName(seed)
    val idf = (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)
    val tfc = (col("tf").cast("double") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("n_tok") / col("avgdl")))
    tf.join(broadcast(qt), "term") // 8-row expanded term set
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), (idf * tfc).as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(transform(sort_array(collect_list(struct(col("term"), col("sc")))),
          _.getField("sc")), lit(0.0), (a, e) => a + e).as("score"))
      .join(broadcast(fb.withColumn("in_fb", lit(true))), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_terms"),
        floor(col("score") * 1000).cast("long").as("score_milli"),
        coalesce(col("in_fb"), lit(false)).as("in_feedback"))
      .orderBy(col("score_milli").desc, col("doc_id")).limit(10)
  }

  /** q279 — McNemar's paired test between two cheap quality
    * classifiers scored against the tokenizer-derived gold gate, per
    * language: when two corpus filters run over the SAME documents,
    * comparing their raw accuracies ignores the pairing — McNemar uses
    * only the DISCORDANT cells (b = A right / B wrong, c = A wrong /
    * B right), which is the correct significance test for "should we
    * swap filter A for filter B on this corpus". Gold = token count ≥
    * 30 (the expensive tokenize), A = the char-length proxy (n_chars ≥
    * 180), B = the distinct-vocab proxy (≥ 20 distinct tokens). The
    * continuity-corrected statistic (max(|b−c|−1, 0))²/(b+c) ships in
    * exact floor-milli against the pinned 3.841 (α=0.05, 1 df);
    * languages with no discordant pairs yield NULL, never a
    * divide-by-zero.
    *
    * Scale: one scan projects the three bits per doc (narrow, no
    * shuffle); the report collapses to |langs| contingency cells
    * map-side. */
  val q279Mcnemar: Q = Q(
    "q279_mcnemar",
    s"""WITH t AS (
       |  SELECT lang, len($DToks) >= 30 AS gold,
       |    n_chars >= 180 AS a,
       |    len(list_distinct($DToks)) >= 20 AS b
       |  FROM documents
       |), cells AS (
       |  SELECT lang, COUNT(*) AS n,
       |    SUM(CASE WHEN (a = gold) AND (b <> gold) THEN 1 ELSE 0 END) AS b_cnt,
       |    SUM(CASE WHEN (a <> gold) AND (b = gold) THEN 1 ELSE 0 END) AS c_cnt,
       |    SUM(CASE WHEN a = gold THEN 1 ELSE 0 END) AS a_correct,
       |    SUM(CASE WHEN b = gold THEN 1 ELSE 0 END) AS b_correct
       |  FROM t GROUP BY lang
       |)
       |SELECT lang, CAST(n AS BIGINT) AS n,
       |  CAST(a_correct AS BIGINT) AS a_correct, CAST(b_correct AS BIGINT) AS b_correct,
       |  CAST(b_cnt AS BIGINT) AS a_only_right, CAST(c_cnt AS BIGINT) AS b_only_right,
       |  CAST(CASE WHEN b_cnt + c_cnt > 0 THEN
       |    GREATEST(ABS(b_cnt - c_cnt) - 1, 0) * GREATEST(ABS(b_cnt - c_cnt) - 1, 0) * 1000
       |      // (b_cnt + c_cnt)
       |    ELSE NULL END AS BIGINT) AS chi2_milli,
       |  CASE WHEN b_cnt + c_cnt > 0 THEN
       |    GREATEST(ABS(b_cnt - c_cnt) - 1, 0) * GREATEST(ABS(b_cnt - c_cnt) - 1, 0) * 1000
       |      // (b_cnt + c_cnt) > 3841
       |    ELSE NULL END AS reject_05
       |FROM cells ORDER BY lang""") { (s, d) =>
    val t = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("lang"),
        (size(col("toks")) >= 30).as("gold"),
        (col("n_chars") >= 180).as("a"),
        (size(array_distinct(col("toks"))) >= 20).as("b"))
    t.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("gold") && col("b") =!= col("gold"), 1L)
          .otherwise(0L)).as("b_cnt"),
        sum(when(col("a") =!= col("gold") && col("b") === col("gold"), 1L)
          .otherwise(0L)).as("c_cnt"),
        sum(when(col("a") === col("gold"), 1L).otherwise(0L)).as("a_correct"),
        sum(when(col("b") === col("gold"), 1L).otherwise(0L)).as("b_correct"))
      .select(col("lang"), col("n"), col("a_correct"), col("b_correct"),
        col("b_cnt").as("a_only_right"), col("c_cnt").as("b_only_right"),
        expr("""CAST(CASE WHEN b_cnt + c_cnt > 0 THEN
          GREATEST(ABS(b_cnt - c_cnt) - 1, 0) * GREATEST(ABS(b_cnt - c_cnt) - 1, 0) * 1000
            div (b_cnt + c_cnt)
          ELSE NULL END AS BIGINT)""").as("chi2_milli"))
      .withColumn("reject_05",
        when(col("chi2_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_milli") > 3841))
      .orderBy("lang")
  }

  /** q292 — Horvitz-Thompson estimation from q73's stratified sample:
    * expand each sampled document by its known inverse inclusion
    * probability 10⁶/rate_ppm to estimate the FULL corpus's per-
    * language doc and character totals — the survey-sampling estimator
    * that makes "measure the corpus from the 2% sample" statistically
    * honest (plain sample means are biased the moment rates differ by
    * stratum, which q73's language rebalancing guarantees). Expansion
    * totals are Σ·10⁶ div rate (sum first, ONE floor division — tighter
    * than per-row expansion); because the fixture also knows the truth,
    * the true totals and the signed estimator error ship alongside
    * (q293's honesty-readout pattern). π comes from the SAME pinned
    * rate table and md5 bucket as q73, so sample and estimator can
    * never drift apart.
    *
    * Scale: the sample filter is a narrow hash predicate; both the
    * sampled and true totals collapse to |langs| cells map-side, and
    * the join is |langs|-row. */
  val q292HorvitzThompson: Q = Q(
    "q292_horvitz_thompson",
    s"""WITH smp AS (
       |  SELECT lang, COUNT(*) AS n_s, SUM(n_chars) AS chars_s
       |  FROM documents WHERE $DBucket < $DRate
       |  GROUP BY lang
       |), tru AS (
       |  SELECT lang, $DRate AS rate_ppm,
       |    COUNT(*) AS n_true, SUM(n_chars) AS chars_true
       |  FROM documents GROUP BY lang
       |)
       |SELECT t.lang, CAST(t.rate_ppm AS BIGINT) AS rate_ppm,
       |  CAST(COALESCE(s.n_s, 0) AS BIGINT) AS n_sampled,
       |  CAST(COALESCE(s.n_s, 0) * 1000000 // t.rate_ppm AS BIGINT) AS ht_docs,
       |  CAST(t.n_true AS BIGINT) AS true_docs,
       |  CAST(COALESCE(s.chars_s, 0) * 1000000 // t.rate_ppm AS BIGINT) AS ht_chars,
       |  CAST(t.chars_true AS BIGINT) AS true_chars,
       |  CAST(CASE WHEN COALESCE(s.chars_s, 0) * 1000000 // t.rate_ppm - t.chars_true >= 0
       |    THEN (COALESCE(s.chars_s, 0) * 1000000 // t.rate_ppm - t.chars_true) * 1000000 // t.chars_true
       |    ELSE -((t.chars_true - COALESCE(s.chars_s, 0) * 1000000 // t.rate_ppm) * 1000000 // t.chars_true)
       |    END AS BIGINT) AS err_ppm
       |FROM tru t LEFT JOIN smp s USING (lang)
       |ORDER BY t.lang""") { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), bucket(col("doc_id")).as("bkt"),
        rateFor(col("lang")).as("rate_ppm"))
    val smp = base.filter(col("bkt") < col("rate_ppm"))
      .groupBy("lang").agg(count(lit(1)).as("n_s"), sum("n_chars").as("chars_s"))
    val tru = base.groupBy("lang")
      .agg(min("rate_ppm").as("rate_ppm"),
        count(lit(1)).as("n_true"), sum("n_chars").as("chars_true"))
    tru.join(smp, Seq("lang"), "left")
      .select(col("lang"), col("rate_ppm"),
        coalesce(col("n_s"), lit(0L)).as("n_sampled"),
        expr("coalesce(n_s, 0) * 1000000 div rate_ppm").as("ht_docs"),
        col("n_true").as("true_docs"),
        expr("coalesce(chars_s, 0) * 1000000 div rate_ppm").as("ht_chars"),
        col("chars_true").as("true_chars"),
        expr("""CAST(CASE WHEN coalesce(chars_s, 0) * 1000000 div rate_ppm - chars_true >= 0
          THEN (coalesce(chars_s, 0) * 1000000 div rate_ppm - chars_true) * 1000000 div chars_true
          ELSE -((chars_true - coalesce(chars_s, 0) * 1000000 div rate_ppm) * 1000000 div chars_true)
          END AS BIGINT)""").as("err_ppm"))
      .orderBy("lang")
  }

  /** q304 — Cochran's Q test across THREE matched quality classifiers
    * (q279's char-length and vocab proxies plus a mean-token-length
    * rule, all scored against the tokenizer gold): the k-classifier
    * generalization of McNemar — "are these k filters interchangeable
    * on the same documents?" asked once, before k² pairwise tests
    * inflate the false-positive rate. Q = k(k−1)Σ(C_j−T/k)²/(kT−ΣR_i²)
    * spelled with the ×k lift so no mean materializes (Σ(kC_j−T)²
    * numerator — always integer), decided against the pinned χ²₂
    * 5.991; degenerate denominators (all docs all-correct or
    * all-wrong) yield NULL. All from per-doc correct-counts — one
    * narrow projection.
    *
    * Scale: one scan projects k bits per doc; the fold needs only
    * ΣR_i, ΣR_i², and the three C_j — a 1-row aggregate. */
  val q304CochranQ: Q = Q(
    "q304_cochran_q",
    s"""WITH t AS (
       |  SELECT len($DToks) >= 30 AS gold,
       |    n_chars >= 180 AS a,
       |    len(list_distinct($DToks)) >= 20 AS b,
       |    CASE WHEN len($DToks) = 0 THEN FALSE
       |      ELSE list_sum(list_transform($DToks, w -> len(w))) * 10 >= 45 * len($DToks)
       |      END AS c
       |  FROM documents
       |), bits AS (
       |  SELECT CASE WHEN a = gold THEN 1 ELSE 0 END AS ca,
       |    CASE WHEN b = gold THEN 1 ELSE 0 END AS cb,
       |    CASE WHEN c = gold THEN 1 ELSE 0 END AS cc
       |  FROM t
       |), agg AS (
       |  SELECT COUNT(*) AS n, SUM(ca) AS c1, SUM(cb) AS c2, SUM(cc) AS c3,
       |    SUM(ca + cb + cc) AS tt,
       |    SUM((ca + cb + cc) * (ca + cb + cc)) AS r2
       |  FROM bits
       |)
       |SELECT CAST(n AS BIGINT) AS n_docs,
       |  CAST(c1 AS BIGINT) AS a_correct, CAST(c2 AS BIGINT) AS b_correct,
       |  CAST(c3 AS BIGINT) AS c_correct,
       |  CAST(CASE WHEN 3 * tt - r2 > 0 THEN
       |    2 * ((3*c1 - tt)*(3*c1 - tt) + (3*c2 - tt)*(3*c2 - tt) + (3*c3 - tt)*(3*c3 - tt))
       |      * 1000 // (3 * (3 * tt - r2))
       |    ELSE NULL END AS BIGINT) AS q_milli,
       |  CASE WHEN 3 * tt - r2 > 0 THEN
       |    2 * ((3*c1 - tt)*(3*c1 - tt) + (3*c2 - tt)*(3*c2 - tt) + (3*c3 - tt)*(3*c3 - tt))
       |      * 1000 // (3 * (3 * tt - r2)) > 5991
       |    ELSE NULL END AS reject_05
       |FROM agg""") { (s, d) =>
    val t = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(
        (size(col("toks")) >= 30).as("gold"),
        (col("n_chars") >= 180).as("a"),
        (size(array_distinct(col("toks"))) >= 20).as("b"),
        when(size(col("toks")) === 0, lit(false))
          .otherwise(aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
            * 10 >= size(col("toks")).cast("long") * 45).as("c"))
    val bits = t.select(
      when(col("a") === col("gold"), 1L).otherwise(0L).as("ca"),
      when(col("b") === col("gold"), 1L).otherwise(0L).as("cb"),
      when(col("c") === col("gold"), 1L).otherwise(0L).as("cc"))
    bits.agg(count(lit(1)).as("n"), sum("ca").as("c1"), sum("cb").as("c2"),
      sum("cc").as("c3"),
      sum(col("ca") + col("cb") + col("cc")).as("tt"),
      sum((col("ca") + col("cb") + col("cc"))
        * (col("ca") + col("cb") + col("cc"))).as("r2"))
      .select(col("n").as("n_docs"), col("c1").as("a_correct"),
        col("c2").as("b_correct"), col("c3").as("c_correct"),
        expr("""CAST(CASE WHEN 3 * tt - r2 > 0 THEN
          2 * ((3*c1 - tt)*(3*c1 - tt) + (3*c2 - tt)*(3*c2 - tt) + (3*c3 - tt)*(3*c3 - tt))
            * 1000 div (3 * (3 * tt - r2))
          ELSE NULL END AS BIGINT)""").as("q_milli"))
      .withColumn("reject_05",
        when(col("q_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("q_milli") > 5991))
  }

  val all: Seq[Q] = Seq(q279Mcnemar, q292HorvitzThompson, q304CochranQ,
    q68Repetition, q69QualityGate, q70PiiScrub,
    q71Normalize, q72Contamination, q73StratifiedSample, q74CurationFunnel,
    q75Tfidf, q76DocPacking, q77MixtureRebalance, q86TemperatureSample,
    q78BottomkSample, q79DomainCap, q83BloomDecontam,
    q91QualityClassifier, q92UrlCanon, q95TokenBudget, q105Bm25, q110Dsir,
    q114Unimax, q118BestfitPack, q133BoilerplateStrip, q136BlocklistScan,
    q140TrainingBuild, q148InvertedIndex, q150PhraseQuery,
    q151PublicSuffix, q154IndexMaintain, q167FeatureHash, q219ProximityRank,
    q231NgramNovelty, q243PrfExpansion)
}
