package graft.ops

import graft.{Materialize, Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operator pack over the `documents` table: tokenization,
  * quality scoring, language-ID, fingerprinting — the per-document stages
  * of a training-data pipeline. Every stage is a narrow (shuffle-free)
  * projection of built-in expressions, so at 100 TB it runs as a single
  * embarrassingly-parallel scan; the only shuffle in this pack is the
  * final small aggregation in q25.
  *
  * DuckDB-oracle conventions: integer ppm ratios, md5-based hashing,
  * left-fold arithmetic — see TextFunctions.
  */
object Text {

  /** Documents spread across cores before the per-doc work: the
    * single-file scan is one parquet row group -> one partition, so
    * without the round-robin exchange every tokenize/score/fingerprint
    * projection in this pack would run single-threaded (at real scale
    * the scan splits and the barrier is unnecessary — it costs one
    * small-table shuffle here). */
  private def docs(s: SparkSession, d: String): DataFrame =
    graft.Q.stageBarrier(Tables.documents(s, d))

  /** Shared DuckDB SQL fragments (must mirror TextFunctions exactly). */
  private val DToks =
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')"

  /** q21 — token counting: whitespace tokens + BPE-ish regex tokens. */
  val q21TokenStats: Q = Q(
    "q21_token_stats",
    s"""SELECT doc_id,
       |  CAST(len($DToks) AS BIGINT) AS n_tok,
       |  CAST(length(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_retok,
       |  n_chars,
       |  CAST(length(text) AS BIGINT) AS text_len
       |FROM documents ORDER BY doc_id""") { (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        regexTokenCount(col("text")).cast("long").as("n_retok"),
        col("n_chars"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  /** q22 — quality scoring: punct/digit/upper/stopword ratios (ppm) and
    * mean token length; a keep/drop flag like a corpus-filtering stage. */
  val q22QualityScore: Q = Q(
    "q22_quality_score",
    s"""WITH t AS (
       |  SELECT doc_id, text, $DToks AS toks FROM documents
       |), r AS (
       |  SELECT doc_id, text, toks,
       |    CASE WHEN len(toks)=0 THEN 0 ELSE CAST(FLOOR(
       |      CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is','it'))) AS BIGINT)*1000000/len(toks)) AS BIGINT) END AS stop_ppm
       |  FROM t
       |)
       |SELECT doc_id,
       |  CASE WHEN length(text)=0 THEN 0 ELSE CAST(FLOOR(
       |    CAST((length(text)-length(regexp_replace(text,'[.,;:!?]','','g'))) AS BIGINT)*1000000/length(text)) AS BIGINT) END AS punct_ppm,
       |  CASE WHEN length(text)=0 THEN 0 ELSE CAST(FLOOR(
       |    CAST((length(text)-length(regexp_replace(text,'[0-9]','','g'))) AS BIGINT)*1000000/length(text)) AS BIGINT) END AS digit_ppm,
       |  CASE WHEN length(text)=0 THEN 0 ELSE CAST(FLOOR(
       |    CAST((length(text)-length(regexp_replace(text,'[A-Z]','','g'))) AS BIGINT)*1000000/length(text)) AS BIGINT) END AS upper_ppm,
       |  stop_ppm,
       |  CASE WHEN len(toks)=0 THEN 0 ELSE CAST(FLOOR(
       |    CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))), (x,y) -> x+y) AS BIGINT)*1000/len(toks)) AS BIGINT) END AS mean_tok_milli,
       |  CASE WHEN len(toks) BETWEEN 5 AND 100000 AND stop_ppm >= 10000
       |       THEN 1 ELSE 0 END AS keep_flag
       |FROM r ORDER BY doc_id""") { (s, d) =>
    val en = LangStopwords.head._2
    docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        punctPpm(col("text")).as("punct_ppm"),
        digitPpm(col("text")).as("digit_ppm"),
        upperPpm(col("text")).as("upper_ppm"),
        stopwordPpm(col("toks"), en).as("stop_ppm"),
        meanTokenLenMilli(col("toks")).as("mean_tok_milli"),
        when(size(col("toks")).between(5, 100000)
          && stopwordPpm(col("toks"), en) >= 10000, 1).otherwise(0).as("keep_flag"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of TextFunctions.langId (argmax with fixed tie order). */
  private val DLangVotes = Seq(
    "en" -> "('the','a','and','of','to','in','is','it')",
    "de" -> "('der','die','das','und','ist','ein','nicht','mit')",
    "fr" -> "('le','la','les','et','est','un','une','dans')",
    "es" -> "('el','los','las','y','es','un','una','que')")
  private val DVoteCols = DLangVotes.map { case (l, sw) =>
    s"CAST(len(list_filter(toks, t -> t IN $sw)) AS BIGINT) AS v_$l"
  }.mkString(",\n       |    ")

  /** q23 — language-ID by stopword votes, compared with the labeled lang. */
  val q23LangId: Q = Q(
    "q23_lang_id",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), v AS (
       |  SELECT doc_id, lang,
       |    $DVoteCols
       |  FROM t
       |), p AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN greatest(v_en,v_de,v_fr,v_es) = 0 THEN 'und'
       |         WHEN v_en = greatest(v_en,v_de,v_fr,v_es) THEN 'en'
       |         WHEN v_de = greatest(v_en,v_de,v_fr,v_es) THEN 'de'
       |         WHEN v_fr = greatest(v_en,v_de,v_fr,v_es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred
       |  FROM v
       |)
       |SELECT doc_id, lang, lang_pred,
       |  CASE WHEN lang = lang_pred THEN 1 ELSE 0 END AS agree
       |FROM p ORDER BY doc_id""") { (s, d) =>
    docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        langId(col("toks")).as("lang_pred"))
      .withColumn("agree", when(col("lang") === col("lang_pred"), 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of word-5-gram shingles over `toks`. */
  private def dShingles(toks: String): String =
    s"list_transform(range(1, greatest(len($toks)-4, 1)+1), i -> array_to_string($toks[i:i+4], ' '))"

  /** q24 — document fingerprinting: whole-doc md5 + min-shingle
    * (winnowing-style) fingerprint stable under small edits. */
  val q24Fingerprint: Q = Q(
    "q24_fingerprint",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |)
       |SELECT doc_id,
       |  md5(array_to_string(toks, ' ')) AS doc_fp,
       |  list_min(list_transform(${dShingles("toks")}, s -> md5(s))) AS min_shingle_fp
       |FROM t ORDER BY doc_id""") { (s, d) =>
    docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        md5(concat_ws(" ", col("toks"))).as("doc_fp"),
        minShingleFingerprint(col("toks")).as("min_shingle_fp"))
      .orderBy("doc_id")
  }

  /** q25 — corpus roll-up: per (labeled lang, predicted lang, source
    * bucket) doc counts and integer-exact mean stats. The pack's only
    * shuffle; group keys are low-cardinality so AQE coalesces it. */
  val q25LangSourceAgg: Q = Q(
    "q25_lang_source_agg",
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, n_chars, $DToks AS toks FROM documents
       |), v AS (
       |  SELECT doc_id, lang, source, n_chars, len(toks) AS n_tok,
       |    $DVoteCols
       |  FROM t
       |), p AS (
       |  SELECT lang, source, n_chars, n_tok,
       |    CASE WHEN greatest(v_en,v_de,v_fr,v_es) = 0 THEN 'und'
       |         WHEN v_en = greatest(v_en,v_de,v_fr,v_es) THEN 'en'
       |         WHEN v_de = greatest(v_en,v_de,v_fr,v_es) THEN 'de'
       |         WHEN v_fr = greatest(v_en,v_de,v_fr,v_es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred
       |  FROM v
       |)
       |SELECT lang, lang_pred, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(n_tok) AS BIGINT) AS total_toks,
       |  CAST(FLOOR(SUM(n_chars)*1000/SUM(CAST(n_tok AS BIGINT))) AS BIGINT) AS chars_per_tok_milli
       |FROM p GROUP BY lang, lang_pred
       |ORDER BY lang, lang_pred""") { (s, d) =>
    docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("lang"), col("n_chars"),
        size(col("toks")).cast("long").as("n_tok"),
        langId(col("toks")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tok").as("total_toks"),
        floor(sum("n_chars") * 1000 / sum("n_tok")).as("chars_per_tok_milli"))
      .orderBy("lang", "lang_pred")
  }

  /** q63 — heavy hitters: top-10 tokens per language by frequency (the
    * vocabulary/stopword-mining stage of a corpus pipeline). Explode is
    * map-side; the (lang, token) count partial-aggregates before its one
    * shuffle, and the top-k window runs on the already-tiny count table
    * partitioned by lang — the standard frequent-items shape at scale.
    * Ties break on the token string so ranks are deterministic. */
  val q63TokenTopk: Q = Q(
    "q63_token_topk",
    s"""WITH tok AS (
       |  SELECT lang, unnest($DToks) AS token FROM documents
       |), cnt AS (
       |  SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY 1, 2
       |), ranked AS (
       |  SELECT lang, token, n,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rk
       |  FROM cnt
       |)
       |SELECT lang, CAST(rk AS BIGINT) AS rk, token, n
       |FROM ranked WHERE rk <= 10
       |ORDER BY lang, rk""") { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("token"))
    docs(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select("lang", "rk", "token", "n")
      .orderBy("lang", "rk")
  }

  /** q88 — BPE-style pair-merge statistics: the corpus-wide frequency
    * of every ADJACENT token pair, with its document spread — the count
    * a byte-pair-encoding trainer computes each merge round (argmax
    * pair → merge → recount) and the bigram table of an n-gram LM. One
    * narrow explode of size-1 windows, one shuffle keyed by pair with
    * map-side partials, then a global top-50 (count desc, pair asc for
    * a deterministic tie-break) that Spark executes as
    * TakeOrderedAndProject — per-partition bounded heaps, no global
    * sort materialization, so the "one merge round over 100 TB" costs a
    * scan plus a 64-ish-row-per-task shuffle. */
  val q88PairMerge: Q = Q(
    "q88_pair_merge",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), pr AS (
       |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS pair
       |  FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |    FROM t WHERE len(toks) >= 2
       |  )
       |)
       |SELECT pair, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
       |FROM pr GROUP BY pair
       |ORDER BY n_occ DESC, pair LIMIT 50""") { (s, d) =>
    docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => array_join(slice(col("toks"), i, lit(2)), " "))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(50)
  }

  /** q93 — context-window chunking: split each document's token stream
    * into fixed-size chunks (32 tokens, stride 24 → 8-token overlap) and
    * emit one row per chunk — the sequence-packing precursor that turns
    * a document corpus into training windows. One narrow explode, no
    * shuffle until the final order: at 100 TB this is a scan whose
    * output is ~n_tokens/stride rows, each carrying its chunk text. */
  val q93TokenChunks: Q = Q(
    "q93_token_chunks",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), st AS (
       |  SELECT doc_id, toks, unnest(range(1, len(toks)+1, 24)) AS start
       |  FROM t WHERE len(toks) > 0
       |)
       |SELECT doc_id,
       |  CAST((start-1)//24 AS BIGINT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_tok,
       |  CAST(len(toks[start:start+31]) AS BIGINT) AS n_chunk_tok,
       |  array_to_string(toks[start:start+31], ' ') AS chunk_text
       |FROM st ORDER BY doc_id, chunk_idx""") { (s, d) =>
    docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(ctxChunkStarts(col("toks"))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) div $CtxStride AS BIGINT)").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        size(slice(col("toks"), col("start"), lit(CtxWindow))).cast("long").as("n_chunk_tok"),
        array_join(slice(col("toks"), col("start"), lit(CtxWindow)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q94 — tokenizer vocab coverage / OOV rate: build the corpus top-K
    * vocabulary (count desc, token asc — a deterministic total order),
    * then score every document's out-of-vocabulary token rate against
    * it. The pipeline shape a tokenizer-training loop runs after each
    * candidate vocab: vocab build is one partial-aggregated groupBy of
    * O(|vocab|) keys; the per-doc scoring CROSS-joins the single-row
    * vocab array (broadcast — the corpus side never shuffles), so at
    * 100 TB this is one narrow scan plus one tiny aggregation. K=16 of
    * the corpus's 31 distinct tokens keeps both sides of the rate
    * populated. */
  val q94VocabOov: Q = Q(
    "q94_vocab_oov",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), vocab AS (
       |  SELECT list(tok) AS vl FROM (
       |    SELECT tok FROM (
       |      SELECT unnest(toks) AS tok FROM t)
       |    GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 16)
       |)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tok,
       |  CAST(len(list_filter(toks, x -> NOT list_contains(vl, x))) AS BIGINT) AS n_oov,
       |  CASE WHEN len(toks)=0 THEN 0 ELSE CAST(FLOOR(
       |    CAST(len(list_filter(toks, x -> NOT list_contains(vl, x))) AS BIGINT)*1000000/len(toks)) AS BIGINT) END AS oov_ppm
       |FROM t CROSS JOIN vocab ORDER BY doc_id""") { (s, d) =>
    val t = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val vocab = t.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(16)
      .agg(collect_list(col("tok")).as("vl"))
    val nOov = size(filter(col("toks"), x => !array_contains(col("vl"), x)))
    t.crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        nOov.cast("long").as("n_oov"),
        when(size(col("toks")) === 0, 0L)
          .otherwise(floor(nOov.cast("long") * 1000000L / size(col("toks"))))
          .cast("long").as("oov_ppm"))
      .orderBy("doc_id")
  }

  /** q101 — bigram language-model fluency score (the KenLM-style
    * corpus-fit filter, integer-exact): train bigram counts on the
    * corpus, then score each document by its mean bigram frequency as
    * ppm of the corpus bigram mass — rare/unseen transitions drag the
    * score down, the signal an LM-perplexity gate thresholds on.
    *
    * Scale shape: the model is a ≤|V|² count table, BROADCAST into a
    * hash join against the exploded bigram stream — each lookup is an
    * O(1) probe of the build-side hash table (a single-row map column
    * with `element_at` measures 10-30x slower here: MapData lookups are
    * linear scans, |doc|x|V|² comparisons per document). The per-doc
    * re-aggregation partial-aggregates map-side, so the only shuffle
    * carries one row per (doc, partition) — O(docs), not O(tokens). */
  val q101BigramLm: Q = Q(
    "q101_bigram_lm",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), bgr AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM t WHERE len(toks) >= 2
       |), freq AS (
       |  SELECT bg, COUNT(*) AS c FROM bgr GROUP BY bg
       |), tot AS (
       |  SELECT SUM(c) AS tc FROM freq
       |), per AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(c) AS sc
       |  FROM bgr JOIN freq USING (bg) GROUP BY doc_id
       |)
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |  CAST(FLOOR(CAST(sc AS BIGINT)*1000000/(n_bigrams*tc)) AS BIGINT) AS fluency_ppm
       |FROM per CROSS JOIN tot ORDER BY doc_id""") { (s, d) =>
    val bg = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit(" "),
          element_at(col("toks"), i + 1)))).as("bg"))
      .transform(Materialize.snapshot) // feeds both the model build and the scoring join
    val freq = bg.groupBy("bg").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("tc"))
    bg.join(broadcast(freq), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("sc"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("sc") * 1000000L / (col("n_bigrams") * col("tc")))
          .cast("long").as("fluency_ppm"))
      .orderBy("doc_id")
  }

  /** q107 — language-ID confusion matrix: q23's stopword classifier
    * evaluated against the labeled `lang` column as the full
    * (true, predicted) count matrix with per-true-language share —
    * the evaluation artifact a classifier gate is tuned from (which
    * languages leak into `und`, which pairs confuse). Two tiny
    * aggregations after a narrow scan; the matrix is at most
    * |langs|² rows regardless of corpus size. */
  val q107LangConfusion: Q = Q(
    "q107_lang_confusion",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), v AS (
       |  SELECT doc_id, lang,
       |    $DVoteCols
       |  FROM t
       |), p AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN greatest(v_en,v_de,v_fr,v_es) = 0 THEN 'und'
       |         WHEN v_en = greatest(v_en,v_de,v_fr,v_es) THEN 'en'
       |         WHEN v_de = greatest(v_en,v_de,v_fr,v_es) THEN 'de'
       |         WHEN v_fr = greatest(v_en,v_de,v_fr,v_es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred
       |  FROM v
       |), m AS (
       |  SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2
       |), rt AS (
       |  SELECT lang, SUM(n) AS row_total FROM m GROUP BY 1
       |)
       |SELECT m.lang AS lang, lang_pred, CAST(n AS BIGINT) AS n,
       |  CAST(row_total AS BIGINT) AS row_total,
       |  CAST(FLOOR(CAST(n AS BIGINT)*1000000/row_total) AS BIGINT) AS share_ppm
       |FROM m JOIN rt USING (lang)
       |ORDER BY lang, lang_pred""") { (s, d) =>
    val m = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("lang"), langId(col("toks")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .transform(Materialize.snapshot) // row totals re-aggregate the matrix, not the corpus
    val rt = m.groupBy("lang").agg(sum(col("n")).as("row_total"))
    m.join(broadcast(rt), "lang")
      .select(col("lang"), col("lang_pred"), col("n"), col("row_total"),
        floor(col("n") * 1000000L / col("row_total")).cast("long").as("share_ppm"))
      .orderBy("lang", "lang_pred")
  }

  /** Shared two-round BPE chain: the oracle CTE from raw tokens (t0)
    * through winner p1, merged corpus s1, winner p2, merged corpus s2.
    * q113 reports the training stats; q123 reads s2 as the encode pass
    * — one definition, so train and encode cannot drift. */
  private val DBpeChain =
    s"""WITH t0 AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), p1 AS (
       |  SELECT toks[i] AS a, toks[i+1] AS b, COUNT(*) AS c
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |        FROM t0 WHERE len(toks) >= 2)
       |  GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 1
       |), s1 AS (
       |  SELECT doc_id, string_split(trim(replace(
       |      chr(1) || array_to_string(toks, chr(1)||chr(1)) || chr(1),
       |      chr(1) || a || chr(1)||chr(1) || b || chr(1),
       |      chr(1) || a || ' ' || b || chr(1)), chr(1)), chr(1)||chr(1)) AS toks
       |  FROM t0 CROSS JOIN p1 WHERE len(toks) > 0
       |), p2 AS (
       |  SELECT toks[i] AS a, toks[i+1] AS b, COUNT(*) AS c
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |        FROM s1 WHERE len(toks) >= 2)
       |  GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 1
       |), s2 AS (
       |  SELECT doc_id, string_split(trim(replace(
       |      chr(1) || array_to_string(toks, chr(1)||chr(1)) || chr(1),
       |      chr(1) || a || chr(1)||chr(1) || b || chr(1),
       |      chr(1) || a || ' ' || b || chr(1)), chr(1)), chr(1)||chr(1)) AS toks
       |  FROM s1 CROSS JOIN p2
       |)"""

  private def bpeTopPair(t: DataFrame): DataFrame = t
    .filter(size(col("toks")) >= 2)
    .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
      i => struct(element_at(col("toks"), i).as("a"),
        element_at(col("toks"), i + 1).as("b")))).as("p"))
    .select(col("p.a").as("a"), col("p.b").as("b"))
    .groupBy("a", "b").agg(count(lit(1)).as("c"))
    // Tie-break on the components separately: after round 1 merged
    // tokens themselves contain spaces, so the concatenation a||' '||b
    // is NOT a unique key (('x','y z') vs ('x y','z')) — (a, b) is.
    .orderBy(col("c").desc, col("a"), col("b"))
    .limit(1)

  private def bpeMergeRound(t: DataFrame, top: DataFrame): DataFrame = t
    .filter(size(col("toks")) > 0)
    .crossJoin(broadcast(top))
    .select(col("doc_id"),
      bpeMerge(col("toks"), col("a"), col("b")).as("toks"))

  /** The staged two-round run; each multiply-scanned stage is
    * localCheckpoint'd (count pass + merge pass). */
  private def bpeRun(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val t0 = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .transform(Materialize.snapshot) // scanned by round-1 count AND round-1 merge
    val p1 = bpeTopPair(t0).transform(Materialize.snapshot) // broadcast into the merge
    val s1 = bpeMergeRound(t0, p1).transform(Materialize.snapshot) // round-2 count + merge
    val p2 = bpeTopPair(s1).transform(Materialize.snapshot)
    val s2 = bpeMergeRound(s1, p2)
    (p1, s1, p2, s2)
  }

  /** q113 — BPE tokenizer training, two unrolled merge ROUNDS (q88 is
    * the count of one round; this runs the actual loop): count adjacent
    * pairs → argmax (count desc, then pair components asc) → greedy
    * left-to-right non-overlapping merge of the winner everywhere →
    * recount on the merged corpus → next winner. The merge is
    * `replace()` over a control-char-delimited token string (each token
    * wrapped in \\u0001, pairs matched as whole-token units so "xa|b"
    * never matches "a|b"), which is exactly BPE's greedy scan: "x x x"
    * merges once. Per round the corpus is ONE narrow pass (pair explode
    * partial-aggregates to a pair-keyed shuffle; the 1-row winner
    * broadcasts back), so N merges over 100 TB cost N linear scans —
    * the shape of every distributed BPE trainer. Reports each round's
    * winning pair, its pre-merge count, and the corpus token count
    * after the merge. */
  val q113BpeRounds: Q = Q(
    "q113_bpe_rounds",
    s"""$DBpeChain
       |SELECT CAST(1 AS BIGINT) AS round, a || ' ' || b AS pair,
       |  CAST(c AS BIGINT) AS n_occ,
       |  (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM s1) AS n_tokens_after
       |FROM p1
       |UNION ALL
       |SELECT 2, a || ' ' || b, CAST(c AS BIGINT),
       |  (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM s2)
       |FROM p2
       |ORDER BY round""") { (s, d) =>
    val (p1, s1, p2, s2) = bpeRun(s, d)
    def stats(round: Int, top: DataFrame, merged: DataFrame): DataFrame = top
      .crossJoin(broadcast(merged.agg(sum(size(col("toks"))).as("n_tokens_after"))))
      .select(lit(round.toLong).as("round"),
        concat(col("a"), lit(" "), col("b")).as("pair"),
        col("c").as("n_occ"), col("n_tokens_after"))
    stats(1, p1, s1).unionByName(stats(2, p2, s2)).orderBy("round")
  }

  /** q123 — BPE ENCODE: apply the q113-trained merge list to the whole
    * corpus, in training order, with the same greedy left-to-right
    * non-overlapping semantics the trainer used (the merge stage IS
    * q113's, shared code). Per document: final token count, how many
    * tokens are merged units, and the full encoded sequence — so the
    * oracle hash-checks the actual tokenization, not just counts.
    * Closes the tokenizer loop: q113 trains, q123 encodes, q94 scores
    * OOV. Scale shape: the trained merge table broadcasts (it is
    * vocabulary-sized, never corpus-sized); encoding is a narrow
    * per-document pass — at 100 TB, one linear scan per merge round. */
  val q123BpeEncode: Q = Q(
    "q123_bpe_encode",
    s"""$DBpeChain
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tok,
       |  CAST(len(list_filter(toks, t -> contains(t, ' '))) AS BIGINT) AS n_merged,
       |  array_to_string(toks, '|') AS encoded
       |FROM s2 ORDER BY doc_id""") { (s, d) =>
    val (_, _, _, s2) = bpeRun(s, d)
    s2.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        size(filter(col("toks"), t => t.contains(" "))).cast("long").as("n_merged"),
        array_join(col("toks"), "|").as("encoded"))
      .orderBy("doc_id")
  }

  /** q121 — CCNet-style perplexity bucketing: per language, rank
    * documents by the q101 LM score and split into head/middle/tail
    * terciles (ntile over score desc) — the bucket assignment CCNet
    * publishes with its corpus and the lever mixture builders pull
    * ("train on head+middle, drop tail"). Composes q101 verbatim
    * (q104's pattern — the metric can't drift from the system it
    * buckets); after the scoring pass the tercile split is one
    * per-language window and a ≤ 3·|langs|-row report. */
  val q121CcnetBuckets: Q = Q(
    "q121_ccnet_buckets",
    s"""WITH scored AS (
       |  SELECT doc_id, fluency_ppm FROM (${"\n" + q101BigramLm.oracle.get})
       |), lb AS (
       |  SELECT s.doc_id AS doc_id, lang, fluency_ppm,
       |    ntile(3) OVER (PARTITION BY lang
       |      ORDER BY fluency_ppm DESC, s.doc_id) AS b
       |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
       |)
       |SELECT lang,
       |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  ${Clean.dRatio("SUM(fluency_ppm)", "COUNT(*)", 1L)} AS mean_fluency_ppm,
       |  CAST(MIN(fluency_ppm) AS BIGINT) AS min_fluency_ppm,
       |  CAST(MAX(fluency_ppm) AS BIGINT) AS max_fluency_ppm
       |FROM lb GROUP BY lang, b ORDER BY lang, bucket""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val scored = q101BigramLm.fn(s, d).select("doc_id", "fluency_ppm")
    val w = Window.partitionBy("lang").orderBy(col("fluency_ppm").desc, col("doc_id"))
    scored
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
      .withColumn("b", ntile(3).over(w))
      .withColumn("bucket", when(col("b") === 1, "head")
        .when(col("b") === 2, "middle").otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("fluency_ppm")).as("sf"),
        min(col("fluency_ppm")).as("min_fluency_ppm"),
        max(col("fluency_ppm")).as("max_fluency_ppm"))
      .select(col("lang"), col("bucket"), col("n_docs"),
        ratioScaled(col("sf"), col("n_docs"), 1L).as("mean_fluency_ppm"),
        col("min_fluency_ppm"), col("max_fluency_ppm"))
      .orderBy("lang", "bucket")
  }

  /** q149 — Heaps-law vocabulary growth: how fast the corpus vocabulary
    * grows as documents stream in — the curve (cumulative vocab vs
    * cumulative tokens) that sizes tokenizer vocabularies and predicts
    * how much NEW text a crawl refresh actually contributes (a flat
    * tail means the source is mined out). The doc-id space is cut into
    * ten equal buckets standing in for ingest order; each term counts
    * toward the bucket of its FIRST occurrence, so per-bucket new-term
    * counts plus a cumulative sum reproduce the growth curve without
    * ever re-scanning prefixes.
    *
    * Scale: one min-aggregation on term (the only wide shuffle —
    * vocabulary cardinality, map-side partials collapse repeats), one
    * 10-key doc-level aggregation, and cumulative windows over the
    * 10-row report. No prefix re-scans, no per-decile passes: the
    * first-occurrence trick turns "vocab after p% of the corpus" — ten
    * nested DISTINCT counts — into a single linear pass. */
  val q149VocabGrowth: Q = Q(
    "q149_vocab_growth",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), dn AS (
       |  SELECT MAX(doc_id) + 1 AS n FROM t
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term FROM t
       |), fo AS (
       |  SELECT term, MIN(doc_id) AS first_doc FROM tok GROUP BY 1
       |), nb AS (
       |  SELECT first_doc * 10 // n AS bucket, COUNT(*) AS new_terms
       |  FROM fo CROSS JOIN dn GROUP BY 1
       |), db AS (
       |  SELECT doc_id * 10 // n AS bucket, COUNT(*) AS n_docs,
       |    SUM(len(toks)) AS n_tokens
       |  FROM t CROSS JOIN dn GROUP BY 1
       |)
       |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
       |  CAST(COALESCE(new_terms, 0) AS BIGINT) AS new_terms,
       |  CAST(SUM(COALESCE(new_terms, 0)) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
       |FROM db LEFT JOIN nb USING (bucket)
       |ORDER BY bucket""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val dn = t.agg((max("doc_id") + 1).as("n"))
    val tok = t.select(col("doc_id"), explode(col("toks")).as("term"))
    val fo = tok.groupBy("term").agg(min("doc_id").as("first_doc"))
    val nb = fo.crossJoin(broadcast(dn))
      .groupBy(expr("first_doc * 10 div n").as("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    val db = t.crossJoin(broadcast(dn))
      .groupBy(expr("doc_id * 10 div n").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).cast("long").as("n_tokens"))
    // 10-row report: the unpartitioned cumulative windows are deliberate
    val w = Window.orderBy("bucket")
    db.join(nb, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        sum("n_tokens").over(w).cast("long").as("cum_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"),
        sum(coalesce(col("new_terms"), lit(0L))).over(w).cast("long").as("cum_vocab"))
      .orderBy("bucket")
  }

  /** q161 — collocation mining by PMI-style lift: the phrase-discovery
    * pass that seeds tokenizer merge lists and stop-phrase tables
    * (reference has no counterpart — north-star text operator).
    * lift(a,b) = P(a,b) / (P(a)·P(b)) over adjacent token pairs,
    * reported as integer ppm: floor(c_ab · N_bigrams · 10⁶ / (c_a·c_b)),
    * min-support c_ab ≥ 5, top 50 by (lift desc, bigram asc).
    *
    * Scale shape: token instances collapse to TYPE counts via map-side
    * partial aggregation before any shuffle — the two shuffles carry
    * O(distinct bigrams) and O(vocab) rows, never O(tokens). The
    * unigram join runs AFTER the min-support filter shrinks the pair
    * table, keyed on the pair's own endpoints (no broadcast assumption:
    * at 100 TB whitespace vocab can be billions of types; AQE still
    * picks broadcast when the sides are actually small). The top-50 is
    * a TakeOrdered, not a global sort. The lift product stays exact in
    * double floor-division up to c_ab·N_b·10⁶ < 2⁵³ (q101's convention);
    * beyond that the spelling would move to DECIMAL(38,0).
    */
  val q161PmiCollocations: Q = Q(
    "q161_pmi_collocations",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), ug AS (
       |  SELECT unnest(toks) AS term FROM t
       |), ugc AS (
       |  SELECT term, COUNT(*) AS cu FROM ug GROUP BY term
       |), bgr AS (
       |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS a,
       |    unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS b
       |  FROM t WHERE len(toks) >= 2
       |), cab AS (
       |  SELECT a, b, COUNT(*) AS n_pair FROM bgr GROUP BY a, b
       |), nb AS (
       |  SELECT SUM(n_pair) AS tot FROM cab
       |)
       |SELECT c.a || ' ' || c.b AS bigram, CAST(c.n_pair AS BIGINT) AS n_pair,
       |  CAST(FLOOR(c.n_pair * CAST(nb.tot AS BIGINT) * 1000000 / (ua.cu * ub.cu)) AS BIGINT) AS lift_ppm
       |FROM cab c
       |JOIN ugc ua ON ua.term = c.a
       |JOIN ugc ub ON ub.term = c.b
       |CROSS JOIN nb
       |WHERE c.n_pair >= 5
       |ORDER BY lift_ppm DESC, bigram LIMIT 50""") { (s, d) =>
    val t = docs(s, d).select(col("doc_id"), tokens(col("text")).as("toks"))
    val ugc = t.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cu"))
    val cab = t.filter(size(col("toks")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("a"),
          element_at(col("toks"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
      .transform(Materialize.snapshot) // feeds both the bigram total and the scored join
    val nb = cab.agg(sum("n_pair").cast("long").as("tot"))
    cab.filter(col("n_pair") >= 5)
      .join(ugc.select(col("term").as("a"), col("cu").as("cua")), "a")
      .join(ugc.select(col("term").as("b"), col("cu").as("cub")), "b")
      .crossJoin(broadcast(nb)) // 1-row bigram total: scale-safe scalar
      .select(concat(col("a"), lit(" "), col("b")).as("bigram"),
        col("n_pair"),
        floor(col("n_pair") * col("tot") * 1000000L / (col("cua") * col("cub")))
          .cast("long").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bigram"))
      .limit(50)
  }

  /** q166 — classifier calibration / reliability diagram + ECE: does
    * the language-ID classifier's confidence mean anything? Confidence
    * is the Laplace-smoothed winner share (v_max+1)/(v_tot+4) in milli —
    * posterior mean under a uniform Dirichlet prior, so it grows with
    * evidence volume (250 at zero votes, →1000 as pure votes pile up)
    * instead of collapsing to {250, 1000} on purity alone; docs bucket
    * into confidence deciles; each bucket
    * reports observed accuracy vs mean stated confidence and their gap.
    * Expected Calibration Error = Σ n_b·|acc_b − conf_b| / N, the
    * eval artifact a confidence-thresholded corpus gate (CCNet-style
    * "keep if lang score ≥ x") must be tuned from. The `zh` label the
    * 4-way classifier can never predict keeps the miscalibration real.
    * All integer arithmetic: vote shares and accuracies floor to milli,
    * ECE floors once at the end.
    *
    * Scale: narrow scan → per-doc (bin, conf, correct) → ≤10-cell
    * aggregate; the N and ECE totals re-aggregate the 10-row matrix
    * (localCheckpoint pins it so the corpus scan runs once), then
    * broadcast back. O(1) output in the corpus size. */
  val q166CalibrationEce: Q = Q(
    "q166_calibration_ece",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), v AS (
       |  SELECT doc_id, lang,
       |    $DVoteCols
       |  FROM t
       |), p AS (
       |  SELECT lang,
       |    CASE WHEN greatest(v_en,v_de,v_fr,v_es) = 0 THEN 'und'
       |         WHEN v_en = greatest(v_en,v_de,v_fr,v_es) THEN 'en'
       |         WHEN v_de = greatest(v_en,v_de,v_fr,v_es) THEN 'de'
       |         WHEN v_fr = greatest(v_en,v_de,v_fr,v_es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred,
       |    (greatest(v_en,v_de,v_fr,v_es)+1)*1000//(v_en+v_de+v_fr+v_es+4)
       |      AS conf_milli
       |  FROM v
       |), b AS (
       |  SELECT LEAST(conf_milli//100, 9) AS bin,
       |    conf_milli,
       |    CASE WHEN lang = lang_pred THEN 1 ELSE 0 END AS ok
       |  FROM p
       |), g AS (
       |  SELECT bin, COUNT(*) AS n, SUM(conf_milli) AS sc, SUM(ok) AS nok
       |  FROM b GROUP BY bin
       |), r AS (
       |  SELECT bin, n, sc//n AS conf_milli, nok*1000//n AS acc_milli
       |  FROM g
       |), tot AS (
       |  SELECT SUM(n) AS nn,
       |    SUM(n * abs(acc_milli - conf_milli)) AS gapsum
       |  FROM r
       |)
       |SELECT bin, CAST(n AS BIGINT) AS n,
       |  CAST(conf_milli AS BIGINT) AS conf_milli,
       |  CAST(acc_milli AS BIGINT) AS acc_milli,
       |  CAST(abs(acc_milli - conf_milli) AS BIGINT) AS gap_milli,
       |  CAST(gapsum//nn AS BIGINT) AS ece_milli
       |FROM r CROSS JOIN tot
       |ORDER BY bin""") { (s, d) =>
    import graft.functions.TextFunctions._
    val votes = LangStopwords.map { case (lang, sw) =>
      lang -> size(filter(col("toks"), t => t.isin(sw: _*))).cast("long")
    }
    val vmax = greatest(votes.map(_._2): _*)
    val vtot = votes.map(_._2).reduce(_ + _)
    val g = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("lang"), langId(col("toks")).as("lang_pred"),
        expr_floorDiv((vmax + 1) * 1000, vtot + 4).as("conf_milli"))
      .select(least(floor(col("conf_milli") / 100), lit(9L)).cast("long").as("bin"),
        col("conf_milli"),
        when(col("lang") === col("lang_pred"), 1L).otherwise(0L).as("ok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("conf_milli").as("sc"), sum("ok").as("nok"))
      .select(col("bin"), col("n"),
        expr_floorDiv(col("sc"), col("n")).as("conf_milli"),
        expr_floorDiv(col("nok") * 1000, col("n")).as("acc_milli"))
      .transform(Materialize.snapshot) // the ECE total re-aggregates this ≤10-row matrix
    val tot = g.agg(sum("n").as("nn"),
      sum(col("n") * abs(col("acc_milli") - col("conf_milli"))).as("gapsum"))
    g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("conf_milli"), col("acc_milli"),
        abs(col("acc_milli") - col("conf_milli")).as("gap_milli"),
        expr_floorDiv(col("gapsum"), col("nn")).as("ece_milli"))
      .orderBy("bin")
  }

  /** Nonnegative long floor-division via `floor(a/b)` — the `/` runs in
    * DOUBLE, exact while a < 2^53 (corpus-count × milli magnitudes stay
    * far below that); same spelling as every ppm/milli ratio in the
    * tree, so both engines round identically. */
  private def expr_floorDiv(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(a / b).cast("long")

  /** q169 — vocabulary drift between corpus slices: unigram
    * distributions of two halves (doc_id parity stands in for the
    * time/source split a production monitor would use), compared by
    * total-variation distance in ppm plus the top-30 movers — the
    * corpus-monitoring twin of q141's metadata drift (this one watches
    * WHAT IS SAID, q141 watches where it came from). TVD instead of
    * KL/JS precisely because it's rational: ½Σ|p_a − p_b| needs no
    * logarithm, so the whole report stays in exact integer ppm and two
    * engines cannot disagree in the last bit.
    *
    * Scale: token INSTANCES collapse to (slice, type) counts map-side,
    * so the exchange is vocabulary-bounded; totals and TVD re-aggregate
    * the checkpointed vocab table and broadcast back; top-30 is a
    * TakeOrdered, never a global sort. */
  val q169VocabDrift: Q = Q(
    "q169_vocab_drift",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), c AS (
       |  SELECT sl, tk, COUNT(*) AS n
       |  FROM (SELECT doc_id % 2 AS sl, unnest(toks) AS tk FROM t)
       |  GROUP BY sl, tk
       |), p AS (
       |  SELECT tk,
       |    SUM(CASE WHEN sl = 0 THEN n ELSE 0 END) AS ca,
       |    SUM(CASE WHEN sl = 1 THEN n ELSE 0 END) AS cb
       |  FROM c GROUP BY tk
       |), tot AS (
       |  SELECT SUM(ca) AS na, SUM(cb) AS nb FROM p
       |), sh AS (
       |  SELECT tk, ca, cb,
       |    ca*1000000//na AS pa_ppm, cb*1000000//nb AS pb_ppm
       |  FROM p CROSS JOIN tot
       |), tvd AS (
       |  SELECT SUM(abs(pa_ppm - pb_ppm))//2 AS tvd_ppm FROM sh
       |)
       |SELECT tk AS token, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
       |  CAST(pa_ppm AS BIGINT) AS pa_ppm, CAST(pb_ppm AS BIGINT) AS pb_ppm,
       |  CAST(abs(pa_ppm - pb_ppm) AS BIGINT) AS delta_ppm,
       |  CAST(tvd_ppm AS BIGINT) AS tvd_ppm
       |FROM sh CROSS JOIN tvd
       |ORDER BY delta_ppm DESC, token LIMIT 30""") { (s, d) =>
    import graft.functions.TextFunctions._
    val p = docs(s, d)
      .select(pmod(col("doc_id"), lit(2)).as("sl"),
        explode(tokens(col("text"))).as("tk"))
      .groupBy("sl", "tk").agg(count(lit(1)).as("n"))
      .groupBy("tk")
      .agg(sum(when(col("sl") === 0, col("n")).otherwise(0L)).as("ca"),
        sum(when(col("sl") === 1, col("n")).otherwise(0L)).as("cb"))
      .transform(Materialize.snapshot) // totals + TVD re-aggregate this vocab table
    val tot = p.agg(sum("ca").as("na"), sum("cb").as("nb"))
    val sh = p.crossJoin(broadcast(tot))
      .select(col("tk"), col("ca"), col("cb"),
        floor(col("ca") * 1000000L / col("na")).cast("long").as("pa_ppm"),
        floor(col("cb") * 1000000L / col("nb")).cast("long").as("pb_ppm"))
    val tvd = sh.agg(
      floor(sum(abs(col("pa_ppm") - col("pb_ppm"))) / 2).cast("long").as("tvd_ppm"))
    sh.crossJoin(broadcast(tvd))
      .select(col("tk").as("token"), col("ca"), col("cb"),
        col("pa_ppm"), col("pb_ppm"),
        abs(col("pa_ppm") - col("pb_ppm")).as("delta_ppm"), col("tvd_ppm"))
      .orderBy(col("delta_ppm").desc, col("token"))
      .limit(30)
  }

  /** q174 — tokenizer fertility by language: after the 2-round BPE of
    * q113/q123, how many tokens does each language spend per
    * whitespace word (merges trained on the mixed corpus favor the
    * dominant language — minority languages keep fertility ≈ 1000
    * while the majority compresses), and how many characters ride in
    * each token. THE metric multilingual vocab sizing is tuned from
    * (UniMax/fertility-balancing papers); composes the shared DBpeChain
    * verbatim so the measured tokenizer cannot drift from the trained
    * one. Integer milli ratios.
    *
    * Scale: the BPE chain's own passes dominate; this adds one narrow
    * word-count scan and a |langs|-row aggregate. */
  val q174BpeFertility: Q = Q(
    "q174_bpe_fertility",
    s"""$DBpeChain
       |SELECT d.lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len(t0.toks)) AS BIGINT) AS n_words,
       |  CAST(SUM(len(s2.toks)) AS BIGINT) AS n_bpe,
       |  CAST(SUM(len(s2.toks))*1000//SUM(len(t0.toks)) AS BIGINT) AS fertility_milli,
       |  CAST(SUM(d.n_chars)*1000//SUM(len(s2.toks)) AS BIGINT) AS chars_per_tok_milli
       |FROM s2
       |JOIN t0 ON t0.doc_id = s2.doc_id
       |JOIN documents d ON d.doc_id = s2.doc_id
       |GROUP BY d.lang ORDER BY d.lang""") { (s, d) =>
    import graft.functions.TextFunctions._
    val (_, _, _, s2) = bpeRun(s, d)
    val words = docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"),
      size(tokens(col("text"))).cast("long").as("n_w"))
    s2.select(col("doc_id"), size(col("toks")).cast("long").as("n_b"))
      .join(words, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_w").as("n_words"),
        sum("n_b").as("n_bpe"), sum("n_chars").as("nc"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        floor(col("n_bpe") * 1000 / col("n_words")).cast("long").as("fertility_milli"),
        floor(col("nc") * 1000 / col("n_bpe")).cast("long").as("chars_per_tok_milli"))
      .orderBy("lang")
  }

  /** q183 — χ² feature selection: the top-50 tokens most associated
    * with the English class (label = lang='en'), ranked by the classic
    * Pearson χ² over the per-token 2×2 document-frequency contingency
    * table — the feature-selection pass a classifier pipeline (q91's
    * shape) runs before committing a vocabulary. q161's PMI measures
    * token–token affinity; this measures token–CLASS discrimination,
    * n·(n11·n00 − n10·n01)² / (df·(n−df)·np·(n−np)) in milli. Cell
    * counts are exact BIGINTs (cross products ≤ n² stay well inside
    * 2^53 after the one double cast); the final ratio runs double-on-
    * both-engines. df is bounded away from 0 and n so the denominator
    * never vanishes.
    *
    * Scale: doc→distinct-token explode collapses map-side to (token,
    * df, n11) partials; the class-total frame is a broadcast scalar. */
  val q183Chi2Tokens: Q = Q(
    "q183_chi2_tokens",
    s"""WITH d AS (
       |  SELECT doc_id, lang = 'en' AS pos,
       |    list_distinct($DToks) AS toks
       |  FROM documents
       |), n AS (
       |  SELECT COUNT(*) AS n, SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np FROM d
       |), tok AS (
       |  SELECT pos, unnest(toks) AS token FROM d
       |), tf AS (
       |  SELECT token,
       |    COUNT(*) AS df,
       |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS n11
       |  FROM tok GROUP BY token
       |), c AS (
       |  SELECT token, df, n11,
       |    n11*(n - np - df + n11) - (df - n11)*(np - n11) AS det, n, np
       |  FROM tf CROSS JOIN n
       |  WHERE df >= 10 AND df <= n - 10
       |)
       |SELECT token, CAST(df AS BIGINT) AS df, CAST(n11 AS BIGINT) AS n11,
       |  CAST(FLOOR(CAST(n AS DOUBLE) * CAST(det AS DOUBLE) * CAST(det AS DOUBLE) * 1000
       |    / (CAST(df*(n - df) AS DOUBLE) * CAST(np*(n - np) AS DOUBLE))) AS BIGINT)
       |    AS chi2_milli
       |FROM c
       |ORDER BY chi2_milli DESC, token LIMIT 50""") { (s, d) =>
    val dd = docs(s, d)
      .select((col("lang") === "en").as("pos"),
        array_distinct(tokens(col("text"))).as("toks"))
    val n = dd.agg(count(lit(1)).as("n"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
    val tf = dd.select(col("pos"), explode(col("toks")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"), sum(when(col("pos"), 1L).otherwise(0L)).as("n11"))
    val c = tf.crossJoin(broadcast(n))
      .filter(col("df") >= 10 && col("df") <= col("n") - 10)
      .withColumn("det",
        col("n11") * (col("n") - col("np") - col("df") + col("n11")) -
          (col("df") - col("n11")) * (col("np") - col("n11")))
    c.select(col("token"), col("df"), col("n11"),
        floor(col("n").cast("double") * col("det").cast("double") *
          col("det").cast("double") * 1000d /
          ((col("df") * (col("n") - col("df"))).cast("double") *
            (col("np") * (col("n") - col("np"))).cast("double")))
          .cast("long").as("chi2_milli"))
      .orderBy(col("chi2_milli").desc, col("token"))
      .limit(50)
  }

  /** q184 — exact ROC-AUC by histogram rank-sum: how well the q22
    * stopword-ratio score separates English from non-English documents,
    * per source — the Mann-Whitney U statistic computed WITHOUT any
    * row-level sort. Scores collapse to per-(source, score) (pos, neg)
    * histogram cells; one window over cells gives the negatives-below
    * running count, and 2·U = Σ p·(2·negs_below + n) credits ties at
    * half (the exact midrank convention). AUC_ppm = 10⁶·U/(P·N), the
    * probability a random English doc outscores a random non-English
    * one. The same cell-histogram move as q175/q180, driving a third
    * statistic family (rank-sum tests).
    *
    * Scale: one narrow scoring scan, (source, score) partial agg,
    * windows over cells; per-source totals broadcast back. */
  val q184AucRanksum: Q = Q(
    "q184_auc_ranksum",
    s"""WITH t AS (
       |  SELECT source, lang = 'en' AS pos, $DToks AS toks FROM documents
       |), sc AS (
       |  SELECT source, pos,
       |    CASE WHEN len(toks)=0 THEN 0 ELSE CAST(FLOOR(
       |      CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is','it'))) AS BIGINT)*1000000/len(toks)) AS BIGINT) END AS v
       |  FROM t
       |), h AS (
       |  SELECT source, v,
       |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
       |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS q
       |  FROM sc GROUP BY source, v
       |), cum AS (
       |  SELECT source, v, p, q,
       |    SUM(q) OVER (PARTITION BY source ORDER BY v) - q AS q_below
       |  FROM h
       |), a AS (
       |  SELECT source, SUM(p) AS np, SUM(q) AS nq,
       |    SUM(p*(2*q_below + q)) AS u2
       |  FROM cum GROUP BY source
       |)
       |SELECT source, CAST(np AS BIGINT) AS n_pos, CAST(nq AS BIGINT) AS n_neg,
       |  CAST(FLOOR(CAST(u2 AS DOUBLE) * 1000000
       |    / (2 * CAST(np AS DOUBLE) * CAST(nq AS DOUBLE))) AS BIGINT) AS auc_ppm
       |FROM a WHERE np > 0 AND nq > 0
       |ORDER BY source""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val en = LangStopwords.head._2
    val h = docs(s, d)
      .select(col("source"), (col("lang") === "en").as("pos"),
        stopwordPpm(tokens(col("text")), en).as("v"))
      .groupBy("source", "v")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("q"))
    val w = Window.partitionBy("source").orderBy("v")
    val a = h.withColumn("q_below", sum("q").over(w) - col("q"))
      .groupBy("source")
      .agg(sum("p").as("np"), sum("q").as("nq"),
        sum(col("p") * (col("q_below") * 2 + col("q"))).as("u2"))
    a.filter(col("np") > 0 && col("nq") > 0)
      .select(col("source"), col("np").as("n_pos"), col("nq").as("n_neg"),
        floor(col("u2").cast("double") * 1000000d /
          (col("np").cast("double") * col("nq").cast("double") * 2))
          .cast("long").as("auc_ppm"))
      .orderBy("source")
  }

  /** q202 — cross-source quantile normalization: map every source's
    * document-length distribution onto the POOLED distribution by rank
    * (the batch-effect correction used when mixing corpora whose
    * quality/length scores aren't comparable — source A's p90 should
    * mean the same thing as source B's p90 before a shared threshold is
    * applied). Emitted as a per-(source, value) LOOKUP TABLE: low rank
    * r of a value within its source maps to pooled position
    * ceil((2r−1)·N / 2·Nₛ) (the (r−½)/Nₛ quantile, quantile_disc
    * convention), and the normalized value is the pooled value whose
    * cumulative rank interval contains that position. All rank
    * arithmetic is exact integer (`div` ceiling form — no doubles, so
    * no 2^53 cliff at any N).
    *
    * Scale: one scan collapses to (source, value) cells map-side; the
    * per-source and pooled cumulative windows run over CELLS
    * (value-domain bounded), and the interval-mapping range join is
    * cells × broadcast(pooled cells). Per-ROW normalization at 100 TB
    * is then a broadcast hash join of this table back onto the corpus. */
  val q202QuantileNorm: Q = Q(
    "q202_quantile_norm",
    """WITH cells AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS v, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2
      |), sc AS (
      |  SELECT source, v, cnt,
      |    SUM(cnt) OVER (PARTITION BY source ORDER BY v) - cnt + 1 AS lo_rank,
      |    SUM(cnt) OVER (PARTITION BY source) AS ns
      |  FROM cells
      |), pr AS (
      |  SELECT v AS pv,
      |    SUM(pcnt) OVER (ORDER BY v) - pcnt + 1 AS plo,
      |    SUM(pcnt) OVER (ORDER BY v) AS phi
      |  FROM (SELECT v, SUM(cnt) AS pcnt FROM cells GROUP BY 1)
      |), nn AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT sc.source AS source, sc.v AS n_chars, CAST(sc.cnt AS BIGINT) AS n_rows,
      |  CAST(((2*sc.lo_rank - 1) * nn.n + 2*sc.ns - 1) // (2*sc.ns) AS BIGINT)
      |    AS target_rank,
      |  pr.pv AS norm_chars
      |FROM sc CROSS JOIN nn
      |JOIN pr ON ((2*sc.lo_rank - 1) * nn.n + 2*sc.ns - 1) // (2*sc.ns)
      |  BETWEEN pr.plo AND pr.phi
      |ORDER BY source, n_chars""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(s, d)
      .groupBy(col("source"), col("n_chars").cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Materialize.snapshot) // cell table feeds both the per-source and pooled legs
    val wsrc = Window.partitionBy("source").orderBy("v")
    val sc = cells
      .withColumn("lo_rank", sum("cnt").over(wsrc) - col("cnt") + 1)
      .withColumn("ns", sum("cnt").over(Window.partitionBy("source")))
    val wp = Window.orderBy("pv") // pooled CELLS, value-domain bounded
    val pr = cells.groupBy(col("v").as("pv")).agg(sum("cnt").as("pcnt"))
      .withColumn("phi", sum("pcnt").over(wp))
      .withColumn("plo", col("phi") - col("pcnt") + 1)
      .select("pv", "plo", "phi")
    val nn = cells.agg(sum("cnt").as("n"))
    val tr = expr("((2*lo_rank - 1) * n + 2*ns - 1) div (2*ns)")
    sc.crossJoin(broadcast(nn))
      .withColumn("target_rank", tr)
      .join(broadcast(pr),
        col("target_rank") >= col("plo") && col("target_rank") <= col("phi"))
      .select(col("source"), col("v").as("n_chars"), col("cnt").as("n_rows"),
        col("target_rank"), col("pv").as("norm_chars"))
      .orderBy("source", "n_chars")
  }

  /** q232 — Viterbi unigram segmentation (SentencePiece inference):
    * for each word, the maximum-score split into pieces of length ≤ 4
    * under a deterministic unigram vocabulary — piece p "exists" iff
    * hex32(p) % 5 ≠ 0 (single characters always exist, so every word
    * is segmentable) and scores 1000·len(p)² + hex32(p) % 997. This is
    * the DP inner loop of the unigram tokenizer (BPE's q113/q123
    * greedy-merge counterpart): Viterbi best[i] = max over k ≤ 4 of
    * best[i−k] + score(w[i−k..i]). The max-sum optimum is unique as a
    * VALUE whatever the tie structure, so only best_score is emitted —
    * engine-identical with no tie-break protocol. The invalid-piece
    * branch scores −10⁹, provably never selected (k = 1 is always
    * valid and keeps every prefix ≥ 0). Oracle replays the DP as a
    * bounded recursive path search (parts ≤ 4 over ≤ 12 chars).
    *
    * Scale: the DP is a NARROW in-row expression (O(4·L) hash probes
    * inside whole-stage codegen — at 100 TB it runs over the full
    * token stream in the tokenizer-apply stage with zero shuffle);
    * here it runs once per DISTINCT word (vocab cardinality — add a
    * hash sample if the vocab ever outgrows the output budget). */
  val q232UnigramViterbi: Q = Q(
    "q232_unigram_viterbi",
    s"""WITH RECURSIVE toks AS (
       |  SELECT DISTINCT unnest($DToks) AS t FROM documents
       |), sampled AS (
       |  SELECT DISTINCT substr(t, 1, 12) AS w FROM toks
       |), paths AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS sc FROM sampled
       |  UNION ALL
       |  SELECT p.w, p.pos + ks.k,
       |    p.sc + 1000 * ks.k * ks.k
       |      + CAST(concat('0x', substr(md5(substr(p.w, p.pos + 1, ks.k)), 1, 8)) AS BIGINT) % 997
       |  FROM paths p
       |  CROSS JOIN (SELECT unnest(range(1, 5)) AS k) ks
       |  WHERE p.pos + ks.k <= length(p.w)
       |    AND (ks.k = 1 OR
       |      CAST(concat('0x', substr(md5(substr(p.w, p.pos + 1, ks.k)), 1, 8)) AS BIGINT) % 5 <> 0)
       |)
       |SELECT w, CAST(length(w) AS BIGINT) AS len, MAX(sc) AS best_score
       |FROM paths WHERE pos = length(w)
       |GROUP BY w
       |ORDER BY w""") { (s, d) =>
    import graft.functions.TextFunctions._
    val sampled = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("t"))
      .distinct()
      .select(substring(col("t"), 1, 12).as("w"))
      .distinct()
    // Viterbi over positions: acc[j+1] = best score of the first j chars
    // (1-based array); hex32 spelled inline so the whole DP is one
    // codegen'd expression
    val h32 = (x: String) => s"CAST(conv(substring(md5($x), 1, 8), 16, 10) AS BIGINT)"
    sampled.select(col("w"),
        length(col("w")).cast("long").as("len"),
        expr(s"""element_at(
          aggregate(
            sequence(1, length(w)),
            array(CAST(0 AS BIGINT)),
            (acc, i) -> array_append(acc,
              array_max(transform(sequence(1, least(i, 4)), k ->
                element_at(acc, i - k + 1) + CASE
                  WHEN k = 1 OR ${h32("substring(w, i - k + 1, k)")} % 5 <> 0
                  THEN 1000 * k * k + ${h32("substring(w, i - k + 1, k)")} % 997
                  ELSE CAST(-1000000000 AS BIGINT) END)))),
          length(w) + 1)""").as("best_score"))
      .orderBy("w")
  }

  /** q236 — interpolated Kneser-Ney bigram table, D = 3/4: the
    * production smoothing (q101's add-k is the baseline it beats) —
    * P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁) + D·N₁₊(w₁·)/c(w₁) · N₁₊(·w₂)/N.
    * The continuation distribution (how many CONTEXTS a word follows,
    * not how often) is KN's insight; D = 3/4 makes every term a
    * quarter-integer, so the whole probability is the exact rational
    * [N·(4c − 3) + 3·N₁₊(w₁·)·N₁₊(·w₂)] / (4·c(w₁)·N) and the ppm
    * emit is one integer floor-div — NO floats anywhere (the usual
    * reason a smoothed LM can't be oracle-checked). Output: the
    * observed-bigram probability table + per-row backoff share.
    *
    * Scale: one corpus scan explodes to bigrams and collapses to
    * vocab²-bounded count cells map-side; the three marginal tables
    * (context totals, fan-out, continuation counts) are vocab-bounded
    * and BROADCAST back into the cell table; 1-row N joins last. The
    * same plan at 100 TB: cells are the vocab, not the corpus. */
  val q236KneserNey: Q = Q(
    "q236_kneser_ney",
    s"""WITH toks AS (
       |  SELECT doc_id, $DToks AS ts FROM documents
       |), bg AS (
       |  SELECT ts[i] AS w1, ts[i + 1] AS w2
       |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM toks)
       |), c AS (
       |  SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2
       |), cw1 AS (
       |  SELECT w1, SUM(c) AS cw1, COUNT(*) AS fanout FROM c GROUP BY w1
       |), cont AS (
       |  SELECT w2, COUNT(*) AS cont FROM c GROUP BY w2
       |), nn AS (
       |  SELECT COUNT(*) AS n FROM c
       |)
       |SELECT c.w1, c.w2, CAST(c.c AS BIGINT) AS c,
       |  CAST((nn.n * (4 * c.c - 3) + 3 * cw1.fanout * cont.cont) * 1000000
       |    // (4 * cw1.cw1 * nn.n) AS BIGINT) AS p_kn_ppm,
       |  CAST(3 * cw1.fanout * cont.cont * 1000000
       |    // (4 * cw1.cw1 * nn.n) AS BIGINT) AS backoff_ppm
       |FROM c
       |JOIN cw1 USING (w1)
       |JOIN cont USING (w2)
       |CROSS JOIN nn
       |ORDER BY c.w1, c.w2""") { (s, d) =>
    import graft.functions.TextFunctions._
    val bg = Tables.documents(s, d)
      .select(tokens(col("text")).as("ts"))
      .select(posexplode(col("ts")).as(Seq("i", "w1")), col("ts"))
      .filter(col("i") < size(col("ts")) - 1)
      .select(col("w1"), expr("ts[i + 1]").as("w2"))
    val c = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // vocab²-bounded cells: read by 3 marginals + output
    val cw1 = c.groupBy("w1").agg(sum("c").as("cw1"), count(lit(1)).as("fanout"))
    val cont = c.groupBy("w2").agg(count(lit(1)).as("cont"))
    val nn = c.agg(count(lit(1)).as("n"))
    c.join(broadcast(cw1), "w1") // vocab-bounded marginals
      .join(broadcast(cont), "w2")
      .crossJoin(broadcast(nn)) // 1-row distinct-bigram count
      .select(col("w1"), col("w2"), col("c"),
        expr("(n * (4 * c - 3) + 3 * fanout * cont) * 1000000 div (4 * cw1 * n)")
          .as("p_kn_ppm"),
        expr("3 * fanout * cont * 1000000 div (4 * cw1 * n)").as("backoff_ppm"))
      .orderBy("w1", "w2")
  }

  /** q248 — ROUGE-N overlap eval (Lin 2004, the summarization/eval
    * standard): clipped n-gram precision/recall/F1 of each candidate
    * doc against its group's reference doc (groups of 5 by doc_id;
    * the %5==0 member is the reference — the "model output vs gold"
    * pairing every generation-eval pipeline runs at corpus scale).
    * Clipping is the multiset min — Σ min(count_cand(g), count_ref(g))
    * — so repeating a reference gram can't inflate the score. Unigram
    * and bigram legs run in ONE pass over a shared (doc, n, gram-hash,
    * count) cell table; all scores exact integer ppm, F1 = 2PR/(P+R)
    * with a zero guard. Bigrams follow the shingles(k=2) short-doc
    * contract (a <2-token doc yields one all-token shingle).
    *
    * Scale: gram counts collapse map-side per doc; the overlap join is
    * an equi-join on (ref_id, n, hash) carrying 8-byte hashes + counts
    * — never gram text, never a pair blowup (each candidate meets ONE
    * reference). The totals join is doc-cardinality. */
  val q248RougeOverlap: Q = Q(
    "q248_rouge_overlap",
    s"""WITH toks AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), grams AS (
       |  SELECT doc_id, 1 AS n, unnest(list_transform(toks, s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT))) AS h
       |  FROM toks
       |  UNION ALL
       |  SELECT doc_id, 2, unnest(list_transform(
       |    list_transform(range(1, greatest(len(toks)-1, 1)+1), i -> array_to_string(toks[i:i+1], ' ')),
       |    s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)))
       |  FROM toks
       |), cells AS (
       |  SELECT doc_id, n, h, COUNT(*) AS c FROM grams GROUP BY doc_id, n, h
       |), tot AS (
       |  SELECT doc_id, n, SUM(c) AS t FROM cells GROUP BY doc_id, n
       |), ov AS (
       |  SELECT c.doc_id, c.n, SUM(LEAST(c.c, r.c)) AS ov
       |  FROM cells c
       |  JOIN cells r ON r.doc_id = c.doc_id - c.doc_id % 5
       |    AND r.n = c.n AND r.h = c.h
       |  WHERE c.doc_id % 5 <> 0
       |  GROUP BY c.doc_id, c.n
       |), scored AS (
       |  SELECT c.doc_id, c.n,
       |    COALESCE(o.ov, 0) * 1000000 // r.t AS r_ppm,
       |    COALESCE(o.ov, 0) * 1000000 // c.t AS p_ppm
       |  FROM tot c
       |  JOIN tot r ON r.doc_id = c.doc_id - c.doc_id % 5 AND r.n = c.n
       |  LEFT JOIN ov o ON o.doc_id = c.doc_id AND o.n = c.n
       |  WHERE c.doc_id % 5 <> 0
       |)
       |SELECT u.doc_id,
       |  CAST(u.p_ppm AS BIGINT) AS rouge1_p_ppm, CAST(u.r_ppm AS BIGINT) AS rouge1_r_ppm,
       |  CAST(CASE WHEN u.p_ppm + u.r_ppm = 0 THEN 0
       |    ELSE 2 * u.p_ppm * u.r_ppm // (u.p_ppm + u.r_ppm) END AS BIGINT) AS rouge1_f1_ppm,
       |  CAST(b.p_ppm AS BIGINT) AS rouge2_p_ppm, CAST(b.r_ppm AS BIGINT) AS rouge2_r_ppm,
       |  CAST(CASE WHEN b.p_ppm + b.r_ppm = 0 THEN 0
       |    ELSE 2 * b.p_ppm * b.r_ppm // (b.p_ppm + b.r_ppm) END AS BIGINT) AS rouge2_f1_ppm
       |FROM scored u JOIN scored b ON b.doc_id = u.doc_id AND b.n = 2
       |WHERE u.n = 1
       |ORDER BY u.doc_id""") { (s, d) =>
    import graft.functions.TextFunctions._
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = toks.select(col("doc_id"), lit(1).as("n"),
        explode(transform(col("toks"), t => hex32(t))).as("h"))
      .unionAll(toks.select(col("doc_id"), lit(2).as("n"),
        explode(transform(shingles(col("toks"), 2), g => hex32(g))).as("h")))
    val cells = grams.groupBy("doc_id", "n", "h").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // read by the overlap join (both sides) + totals
    val tot = cells.groupBy("doc_id", "n").agg(sum("c").as("t"))
    val ov = cells.filter(col("doc_id") % 5 =!= 0)
      .join(cells.select(col("doc_id").as("rid"), col("n").as("rn"),
          col("h").as("rh"), col("c").as("rc")),
        col("rid") === col("doc_id") - col("doc_id") % 5 &&
          col("rn") === col("n") && col("rh") === col("h"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(least(col("c"), col("rc"))).as("ov"))
    val scored = tot.filter(col("doc_id") % 5 =!= 0)
      .join(tot.select(col("doc_id").as("rid"), col("n").as("rn"),
          col("t").as("rt")),
        col("rid") === col("doc_id") - col("doc_id") % 5 && col("rn") === col("n"))
      .join(ov, Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n"),
        expr("coalesce(ov, 0) * 1000000 div rt").as("r_ppm"),
        expr("coalesce(ov, 0) * 1000000 div t").as("p_ppm"))
    scored.filter(col("n") === 1)
      .select(col("doc_id"), col("p_ppm").as("u_p"), col("r_ppm").as("u_r"))
      .join(scored.filter(col("n") === 2)
        .select(col("doc_id"), col("p_ppm").as("b_p"), col("r_ppm").as("b_r")),
        "doc_id")
      .select(col("doc_id"),
        col("u_p").as("rouge1_p_ppm"), col("u_r").as("rouge1_r_ppm"),
        when(col("u_p") + col("u_r") === 0, 0L)
          .otherwise(expr("2 * u_p * u_r div (u_p + u_r)")).as("rouge1_f1_ppm"),
        col("b_p").as("rouge2_p_ppm"), col("b_r").as("rouge2_r_ppm"),
        when(col("b_p") + col("b_r") === 0, 0L)
          .otherwise(expr("2 * b_p * b_r div (b_p + b_r)")).as("rouge2_f1_ppm"))
      .orderBy("doc_id")
  }

  /** q255 — character error rate (CER) eval: exact Levenshtein distance
    * of each candidate doc against its group's reference (q248's
    * pairing), normalized by reference length in ppm — the ASR/OCR/
    * transcription eval standard, and the exact-metric complement to
    * q195 (which INDEXES for ED≤1 joins; this SCORES known pairs at
    * unbounded distance) and q248 (set overlap vs sequence edits: CER
    * punishes reorderings ROUGE forgives). Both engines ship the same
    * classic DP levenshtein (q195's cross-engine precedent), so the
    * distances are integer-identical.
    *
    * Scale: the pairing is an id equi-join (each candidate meets ONE
    * reference); the O(len²) DP runs inside the scan per pair — CPU,
    * not shuffle. For unbounded-length fields the production recipe is
    * length-banding + chunking before the DP; the ≤k-distance JOIN
    * problem stays q195's deletion index. */
  val q255CerEval: Q = Q(
    "q255_cer_eval",
    """SELECT c.doc_id,
      |  CAST(levenshtein(c.text, r.text) AS BIGINT) AS edit_dist,
      |  CAST(length(r.text) AS BIGINT) AS ref_chars,
      |  CAST(levenshtein(c.text, r.text) * 1000000 // length(r.text) AS BIGINT) AS cer_ppm
      |FROM documents c
      |JOIN documents r ON r.doc_id = c.doc_id - c.doc_id % 5
      |WHERE c.doc_id % 5 <> 0
      |ORDER BY c.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // barrier (round 12): the one-row-group scan plans a single
    // partition, so the O(len²) DP pairs all ran on 1 of 32 cores —
    // graft.Prof showed TWO 1-task 2.7 s stages (the second is the
    // global orderBy's range-sampling re-execution of the shuffle-free
    // subtree). The barrier parallelizes the DP 32-way and bounds the
    // resampling to one cheap shuffle read + a parallel re-projection.
    graft.Q.stageBarrier(docs.filter(col("doc_id") % 5 =!= 0))
      .join(docs.select((col("doc_id")).as("rid"), col("text").as("rtext")),
        col("rid") === col("doc_id") - col("doc_id") % 5)
      .select(col("doc_id"),
        levenshtein(col("text"), col("rtext")).cast("long").as("edit_dist"),
        length(col("rtext")).cast("long").as("ref_chars"),
        expr("CAST(levenshtein(text, rtext) AS BIGINT) * 1000000 div length(rtext)")
          .as("cer_ppm"))
      .orderBy("doc_id")
  }

  /** q256 — BLEU-2 generation eval (Papineni 2002, exp-free): clipped
    * unigram/bigram precision of each candidate against its group's
    * reference (q248's %5 pairing — precision is BLEU's half of the
    * ROUGE recall/precision duality), a brevity penalty, and their
    * combination. Log-free exactness choices, both documented: the
    * geometric mean √(p₁·p₂) uses isqrt = floor(IEEE sqrt) on an
    * exact-integer product ≤ 10¹² (< 2⁵², correctly rounded →
    * deterministic on both engines — the q153/q176 precedent), and the
    * brevity penalty is the linear lower bound min(1, c/r) of
    * exp(1−r/c) (exact where BLEU's BP is exact — c ≥ r — and a
    * monotone under-penalty below; no transcendental ever evaluates).
    *
    * Scale: q248's cell shape verbatim — per-doc gram counts collapse
    * map-side, the clip join ships (ref, n, hash) + counts only, and
    * every downstream join is doc-cardinality. */
  val q256BleuEval: Q = Q(
    "q256_bleu_eval",
    s"""WITH toks AS (
       |  SELECT doc_id, $DToks AS toks FROM documents
       |), grams AS (
       |  SELECT doc_id, 1 AS n, unnest(list_transform(toks, s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT))) AS h
       |  FROM toks
       |  UNION ALL
       |  SELECT doc_id, 2, unnest(list_transform(
       |    list_transform(range(1, greatest(len(toks)-1, 1)+1), i -> array_to_string(toks[i:i+1], ' ')),
       |    s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)))
       |  FROM toks
       |), cells AS (
       |  SELECT doc_id, n, h, COUNT(*) AS c FROM grams GROUP BY doc_id, n, h
       |), tot AS (
       |  SELECT doc_id, n, SUM(c) AS t FROM cells GROUP BY doc_id, n
       |), ov AS (
       |  SELECT c.doc_id, c.n, SUM(LEAST(c.c, r.c)) AS ov
       |  FROM cells c
       |  JOIN cells r ON r.doc_id = c.doc_id - c.doc_id % 5
       |    AND r.n = c.n AND r.h = c.h
       |  WHERE c.doc_id % 5 <> 0
       |  GROUP BY c.doc_id, c.n
       |), prec AS (
       |  SELECT t.doc_id, t.n, COALESCE(o.ov, 0) * 1000000 // t.t AS p_ppm
       |  FROM tot t
       |  LEFT JOIN ov o ON o.doc_id = t.doc_id AND o.n = t.n
       |  WHERE t.doc_id % 5 <> 0
       |), lens AS (
       |  SELECT c.doc_id, c.t AS c_len, r.t AS r_len
       |  FROM tot c
       |  JOIN tot r ON r.doc_id = c.doc_id - c.doc_id % 5 AND r.n = 1
       |  WHERE c.n = 1 AND c.doc_id % 5 <> 0
       |)
       |SELECT l.doc_id,
       |  CAST(l.c_len AS BIGINT) AS cand_tokens,
       |  CAST(l.r_len AS BIGINT) AS ref_tokens,
       |  CAST(u.p_ppm AS BIGINT) AS p1_ppm,
       |  CAST(b.p_ppm AS BIGINT) AS p2_ppm,
       |  CAST(LEAST(1000000, l.c_len * 1000000 // l.r_len) AS BIGINT) AS bp_ppm,
       |  CAST(LEAST(1000000, l.c_len * 1000000 // l.r_len)
       |    * CAST(FLOOR(SQRT(CAST(u.p_ppm * b.p_ppm AS DOUBLE))) AS BIGINT)
       |    // 1000000 AS BIGINT) AS bleu2_ppm
       |FROM lens l
       |JOIN prec u ON u.doc_id = l.doc_id AND u.n = 1
       |JOIN prec b ON b.doc_id = l.doc_id AND b.n = 2
       |ORDER BY l.doc_id""") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = toks.select(col("doc_id"), lit(1).as("n"),
        explode(transform(col("toks"), t => hex32(t))).as("h"))
      .unionAll(toks.select(col("doc_id"), lit(2).as("n"),
        explode(transform(shingles(col("toks"), 2), g => hex32(g))).as("h")))
    val cells = grams.groupBy("doc_id", "n", "h").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // read by both clip-join sides + totals
    val tot = cells.groupBy("doc_id", "n").agg(sum("c").as("t"))
      .transform(Materialize.snapshot) // read by prec + both lens legs
    val ov = cells.filter(col("doc_id") % 5 =!= 0)
      .join(cells.select(col("doc_id").as("rid"), col("n").as("rn"),
          col("h").as("rh"), col("c").as("rc")),
        col("rid") === col("doc_id") - col("doc_id") % 5 &&
          col("rn") === col("n") && col("rh") === col("h"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(least(col("c"), col("rc"))).as("ov"))
    val prec = tot.filter(col("doc_id") % 5 =!= 0)
      .join(ov, Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n"),
        expr("coalesce(ov, 0) * 1000000 div t").as("p_ppm"))
    val lens = tot.filter(col("n") === 1 && col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("t").as("c_len"))
      .join(tot.filter(col("n") === 1)
          .select(col("doc_id").as("rid"), col("t").as("r_len")),
        col("rid") === col("doc_id") - col("doc_id") % 5)
    lens
      .join(prec.filter(col("n") === 1).select(col("doc_id"), col("p_ppm").as("p1_ppm")), "doc_id")
      .join(prec.filter(col("n") === 2).select(col("doc_id"), col("p_ppm").as("p2_ppm")), "doc_id")
      .select(col("doc_id"),
        col("c_len").as("cand_tokens"), col("r_len").as("ref_tokens"),
        col("p1_ppm"), col("p2_ppm"),
        least(lit(1000000L), expr("c_len * 1000000 div r_len")).as("bp_ppm"),
        expr("""least(1000000, c_len * 1000000 div r_len)
          * cast(floor(sqrt(cast(p1_ppm * p2_ppm as double))) as bigint)
          div 1000000""").as("bleu2_ppm"))
      .orderBy("doc_id")
  }

  /** q259 — Cohen's kappa, per source: chance-corrected agreement of
    * the q23 langId annotator against the gold `lang` label — the
    * inter-annotator-agreement statistic every labeling/curation
    * pipeline reports (q107 ships the raw confusion matrix; kappa is
    * its one-number chance correction). Exact rational arithmetic via
    * cross-multiplication: κ = (N·Σₖnₖₖ − Σₖaₖbₖ)/(N² − Σₖaₖbₖ) with
    * row/col marginals aₖ/bₖ — no pₒ/pₑ float ever forms. κ can be
    * legitimately negative (worse than chance) and Spark's `div`
    * truncates where DuckDB's `//` floors, so the division is spelled
    * sign-split (both operands nonnegative in each branch — the q227
    * hazard, handled the explicit way). A single-category degenerate
    * source (N² = Σaₖbₖ) yields NULL, not a divide-by-zero.
    *
    * Scale: one scan votes per doc, collapses map-side to ≤|sources|·25
    * (gold, pred) cells; marginals, the pₑ join, and the kappa fold all
    * run on those cells. */
  val q259CohensKappa: Q = Q(
    "q259_cohens_kappa",
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, $DToks AS toks FROM documents
       |), v AS (
       |  SELECT doc_id, lang, source,
       |    $DVoteCols
       |  FROM t
       |), p AS (
       |  SELECT source, lang,
       |    CASE WHEN greatest(v_en,v_de,v_fr,v_es) = 0 THEN 'und'
       |         WHEN v_en = greatest(v_en,v_de,v_fr,v_es) THEN 'en'
       |         WHEN v_de = greatest(v_en,v_de,v_fr,v_es) THEN 'de'
       |         WHEN v_fr = greatest(v_en,v_de,v_fr,v_es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred
       |  FROM v
       |), cells AS (
       |  SELECT source, lang, lang_pred, COUNT(*) AS c
       |  FROM p GROUP BY source, lang, lang_pred
       |), nd AS (
       |  SELECT source, SUM(c) AS n,
       |    SUM(CASE WHEN lang = lang_pred THEN c ELSE 0 END) AS diag
       |  FROM cells GROUP BY source
       |), rowm AS (
       |  SELECT source, lang AS k, SUM(c) AS a FROM cells GROUP BY source, lang
       |), colm AS (
       |  SELECT source, lang_pred AS k, SUM(c) AS b FROM cells GROUP BY source, lang_pred
       |), pe AS (
       |  SELECT r.source, SUM(r.a * c.b) AS pe_num
       |  FROM rowm r JOIN colm c ON c.source = r.source AND c.k = r.k
       |  GROUP BY r.source
       |)
       |SELECT nd.source,
       |  CAST(nd.n AS BIGINT) AS n_docs,
       |  CAST(nd.diag AS BIGINT) AS n_agree,
       |  CAST(nd.diag * 1000000 // nd.n AS BIGINT) AS po_ppm,
       |  CAST(COALESCE(pe.pe_num, 0) * 1000000 // (nd.n * nd.n) AS BIGINT) AS pe_ppm,
       |  CAST(CASE
       |    WHEN nd.n * nd.n = COALESCE(pe.pe_num, 0) THEN NULL
       |    WHEN nd.n * nd.diag >= COALESCE(pe.pe_num, 0)
       |      THEN (nd.n * nd.diag - COALESCE(pe.pe_num, 0)) * 1000000
       |        // (nd.n * nd.n - COALESCE(pe.pe_num, 0))
       |    ELSE -((COALESCE(pe.pe_num, 0) - nd.n * nd.diag) * 1000000
       |        // (nd.n * nd.n - COALESCE(pe.pe_num, 0)))
       |  END AS BIGINT) AS kappa_ppm
       |FROM nd LEFT JOIN pe USING (source)
       |ORDER BY nd.source""") { (s, d) =>
    val p = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("source"), col("lang"), langId(col("toks")).as("lang_pred"))
    val cells = p.groupBy("source", "lang", "lang_pred").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // ≤|sources|·25 cells: totals + both marginals read it
    val nd = cells.groupBy("source")
      .agg(sum("c").as("n"),
        sum(when(col("lang") === col("lang_pred"), col("c")).otherwise(0L)).as("diag"))
    val rowm = cells.groupBy(col("source"), col("lang").as("k")).agg(sum("c").as("a"))
    val colm = cells.groupBy(col("source"), col("lang_pred").as("k")).agg(sum("c").as("b"))
    val pe = rowm.join(colm, Seq("source", "k"))
      .groupBy("source").agg(sum(col("a") * col("b")).as("pe_num"))
    nd.join(pe, Seq("source"), "left")
      .select(col("source"), col("n").as("n_docs"), col("diag").as("n_agree"),
        expr("diag * 1000000 div n").as("po_ppm"),
        expr("coalesce(pe_num, 0) * 1000000 div (n * n)").as("pe_ppm"),
        expr("""CASE
          WHEN n * n = coalesce(pe_num, 0) THEN CAST(NULL AS BIGINT)
          WHEN n * diag >= coalesce(pe_num, 0)
            THEN (n * diag - coalesce(pe_num, 0)) * 1000000
              div (n * n - coalesce(pe_num, 0))
          ELSE -((coalesce(pe_num, 0) - n * diag) * 1000000
              div (n * n - coalesce(pe_num, 0)))
        END""").as("kappa_ppm"))
      .orderBy("source")
  }

  /** q260 — Simpson diversity of the token distribution, per source:
    * collision probability Σc(c−1)/T(T−1) (the probability two tokens
    * drawn without replacement are the same type — Rényi-2's exact
    * finite-sample form) and its inverse, the "effective vocabulary"
    * — the log-free diversity diagnostic for corpus mixing (entropy
    * needs a transcendental; the collision form is exact integer).
    * Complements q149 (Heaps growth = how fast types appear) with
    * how CONCENTRATED the mass is once they have.
    *
    * Scale: token instances collapse map-side to (source, type) cells
    * — vocab cardinality, the q63/q161 shape; the diversity fold is
    * |sources| cells. BIGINT holds through sf10 (T² ≲ 10¹⁷ cents-free);
    * DECIMAL(38,0) is the 100 TB lift, one cast at the fold. */
  val q260SimpsonDiversity: Q = Q(
    "q260_simpson_diversity",
    s"""WITH t AS (
       |  SELECT source, unnest($DToks) AS tok FROM documents
       |), cells AS (
       |  SELECT source, tok, COUNT(*) AS c FROM t GROUP BY source, tok
       |), agg AS (
       |  SELECT source, SUM(c) AS n_tok, COUNT(*) AS n_types,
       |    SUM(c * (c - 1)) AS coll
       |  FROM cells GROUP BY source
       |)
       |SELECT source,
       |  CAST(n_tok AS BIGINT) AS n_tokens,
       |  CAST(n_types AS BIGINT) AS n_types,
       |  CAST(coll AS BIGINT) AS collision_pairs,
       |  CAST(coll * 1000000000 // NULLIF(n_tok * (n_tok - 1), 0) AS BIGINT) AS simpson_ppb,
       |  CAST(CASE WHEN coll = 0 THEN NULL
       |    ELSE n_tok * (n_tok - 1) * 1000 // coll END AS BIGINT) AS inv_simpson_milli
       |FROM agg ORDER BY source""") { (s, d) =>
    val t = docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val cells = t.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    cells.groupBy("source")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1)).as("coll"))
      .select(col("source"),
        col("n_tok").as("n_tokens"), col("n_types"),
        col("coll").as("collision_pairs"),
        expr("coll * 1000000000 div nullif(n_tok * (n_tok - 1), 0)").as("simpson_ppb"),
        when(col("coll") === 0, lit(null).cast("long"))
          .otherwise(expr("n_tok * (n_tok - 1) * 1000 div coll")).as("inv_simpson_milli"))
      .orderBy("source")
  }

  /** q261 — minimum-Bayes-risk consensus selection: within each 5-doc
    * group (q248's grouping, all 5 members as candidates), score every
    * member by the SUM of its token-set Jaccard similarities to its
    * peers and rank — MBR decoding's "pick the candidate closest to
    * everything else" consensus rule, the standard sampling-based
    * selection step for generation pipelines (utility = set Jaccard,
    * the exp-free choice; q248's clipped overlap composes as a richer
    * utility). Ties break to the lower doc_id.
    *
    * Scale: distinct (group, doc, token-hash) cells; the pair
    * intersection is an equi-join keyed (group, hash) — fanout is the
    * FIXED group size 5, never corpus²; scoring and the rank window
    * run on 5-row groups. */
  val q261MbrConsensus: Q = Q(
    "q261_mbr_consensus",
    s"""WITH t AS (
       |  SELECT doc_id, doc_id - doc_id % 5 AS gid, $DToks AS toks FROM documents
       |), cells AS (
       |  SELECT DISTINCT doc_id, gid, h FROM (
       |    SELECT doc_id, gid,
       |      unnest(list_transform(toks, s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT))) AS h
       |    FROM t)
       |), sz AS (
       |  SELECT doc_id, gid, COUNT(*) AS sz FROM cells GROUP BY doc_id, gid
       |), inter AS (
       |  SELECT a.doc_id AS ad, b.doc_id AS bd, COUNT(*) AS i
       |  FROM cells a JOIN cells b
       |    ON b.gid = a.gid AND b.h = a.h AND b.doc_id <> a.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |), sims AS (
       |  SELECT sa.gid, sa.doc_id,
       |    COALESCE(i.i, 0) * 1000000 // (sa.sz + sb.sz - COALESCE(i.i, 0)) AS sim_ppm
       |  FROM sz sa
       |  JOIN sz sb ON sb.gid = sa.gid AND sb.doc_id <> sa.doc_id
       |  LEFT JOIN inter i ON i.ad = sa.doc_id AND i.bd = sb.doc_id
       |), score AS (
       |  SELECT gid, doc_id, SUM(sim_ppm) AS consensus_ppm, COUNT(*) AS n_peers
       |  FROM sims GROUP BY gid, doc_id
       |)
       |SELECT gid, doc_id,
       |  CAST(consensus_ppm AS BIGINT) AS consensus_ppm,
       |  CAST(n_peers AS BIGINT) AS n_peers,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY gid
       |    ORDER BY consensus_ppm DESC, doc_id) AS BIGINT) AS mbr_rank
       |FROM score
       |ORDER BY gid, mbr_rank""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") - col("doc_id") % 5).as("gid"),
        tokens(col("text")).as("toks"))
    val cells = t.select(col("doc_id"), col("gid"),
        explode(transform(col("toks"), tk => hex32(tk))).as("h"))
      .distinct()
      .transform(Materialize.snapshot) // read by both intersection sides + sizes
    val sz = cells.groupBy("doc_id", "gid").agg(count(lit(1)).as("sz"))
      .transform(Materialize.snapshot) // 5 rows/group: both sims legs read it
    val inter = cells
      .join(cells.select(col("doc_id").as("bd"), col("gid").as("bg"), col("h").as("bh")),
        col("bg") === col("gid") && col("bh") === col("h") && col("bd") =!= col("doc_id"))
      .groupBy(col("doc_id").as("iad"), col("bd").as("ibd")).agg(count(lit(1)).as("i"))
    val sims = sz
      .join(sz.select(col("doc_id").as("bd"), col("gid").as("bg"), col("sz").as("bsz")),
        col("bg") === col("gid") && col("bd") =!= col("doc_id"))
      .join(inter, col("iad") === col("doc_id") && col("ibd") === col("bd"), "left")
      .select(col("gid"), col("doc_id"),
        expr("coalesce(i, 0) * 1000000 div (sz + bsz - coalesce(i, 0))").as("sim_ppm"))
    sims.groupBy("gid", "doc_id")
      .agg(sum("sim_ppm").as("consensus_ppm"), count(lit(1)).as("n_peers"))
      .withColumn("mbr_rank", row_number().over(
        Window.partitionBy("gid").orderBy(col("consensus_ppm").desc, col("doc_id"))).cast("long"))
      .orderBy("gid", "mbr_rank")
  }

  /** q267 — vocabulary richness estimators, per source: Chao1's
    * bias-corrected species-richness lower bound S + f₁(f₁−1)/(2(f₂+1))
    * and Good–Turing's unseen-probability mass f₁/T — the "how much
    * vocabulary have we NOT seen yet" diagnostics that tell a corpus
    * curator whether more data from a source still buys new types
    * (q149 fits observed Heaps growth; these ESTIMATE the asymptote
    * from singleton/doubleton counts, no fit). Both exact integer:
    * chao1 in milli-types, coverage = 1 − f₁/T in ppm.
    *
    * Scale: the same (source, type) cell collapse as q260; the
    * estimator fold reads only per-source (S, f₁, f₂, T) — four
    * numbers per source regardless of corpus size. */
  val q267VocabRichness: Q = Q(
    "q267_vocab_richness",
    s"""WITH t AS (
       |  SELECT source, unnest($DToks) AS tok FROM documents
       |), cells AS (
       |  SELECT source, tok, COUNT(*) AS c FROM t GROUP BY source, tok
       |), agg AS (
       |  SELECT source, SUM(c) AS n_tok, COUNT(*) AS s_obs,
       |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
       |    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
       |  FROM cells GROUP BY source
       |)
       |SELECT source,
       |  CAST(n_tok AS BIGINT) AS n_tokens,
       |  CAST(s_obs AS BIGINT) AS s_obs,
       |  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
       |  CAST(1000 * s_obs + 1000 * f1 * (f1 - 1) // (2 * (f2 + 1)) AS BIGINT)
       |    AS chao1_milli,
       |  CAST(f1 * 1000000 // n_tok AS BIGINT) AS unseen_mass_ppm,
       |  CAST(1000000 - f1 * 1000000 // n_tok AS BIGINT) AS coverage_ppm
       |FROM agg ORDER BY source""") { (s, d) =>
    val t = docs(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    t.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("s_obs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("source"),
        col("n_tok").as("n_tokens"), col("s_obs"), col("f1"), col("f2"),
        expr("1000 * s_obs + 1000 * f1 * (f1 - 1) div (2 * (f2 + 1))").as("chao1_milli"),
        expr("f1 * 1000000 div n_tok").as("unseen_mass_ppm"),
        expr("1000000 - f1 * 1000000 div n_tok").as("coverage_ppm"))
      .orderBy("source")
  }

  /** q268 — Brier-score Murphy decomposition of the q166 classifier:
    * reliability (how far bin confidence sits from bin accuracy),
    * resolution (how far bin accuracies spread from the base rate),
    * and uncertainty (the base rate's own variance) — the calibration
    * readout that SEPARATES "badly calibrated" from "uninformative",
    * which q166's single ECE number cannot (Murphy 1973). Same decile
    * bins and Laplace conf_milli as q166. Every component is exact
    * integer in ppb with per-bin floors replayed identically by both
    * engines (squares lifted to DECIMAL(38,0)/HUGEINT first — k_b·N
    * squared crosses 2⁶³ well before sf100); bs_binned_ppb =
    * unc − res + rel ships as a derived column so the decomposition
    * identity holds EXACTLY by construction, next to the unbinned
    * bs_ppb it approximates.
    *
    * Scale: one voting scan collapses to ≤10 decile cells map-side;
    * every component folds over those cells. */
  val q268BrierDecomp: Q = Q(
    "q268_brier_decomp",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), v AS (
       |  SELECT doc_id, lang,
       |    $DVoteCols
       |  FROM t
       |), p AS (
       |  SELECT lang,
       |    CASE WHEN greatest(v_en,v_de,v_fr,v_es) = 0 THEN 'und'
       |         WHEN v_en = greatest(v_en,v_de,v_fr,v_es) THEN 'en'
       |         WHEN v_de = greatest(v_en,v_de,v_fr,v_es) THEN 'de'
       |         WHEN v_fr = greatest(v_en,v_de,v_fr,v_es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred,
       |    (greatest(v_en,v_de,v_fr,v_es)+1)*1000//(v_en+v_de+v_fr+v_es+4)
       |      AS conf_milli
       |  FROM v
       |), b AS (
       |  SELECT LEAST(conf_milli//100, 9) AS bin, conf_milli,
       |    CASE WHEN lang = lang_pred THEN 1 ELSE 0 END AS ok
       |  FROM p
       |), g AS (
       |  SELECT bin, COUNT(*) AS n, SUM(conf_milli) AS sp, SUM(ok) AS k,
       |    SUM(CAST(conf_milli - 1000 * ok AS HUGEINT)
       |      * (conf_milli - 1000 * ok)) AS sqsum
       |  FROM b GROUP BY bin
       |), tot AS (
       |  SELECT SUM(n) AS nn, SUM(k) AS kk, SUM(sqsum) AS sqall FROM g
       |), terms AS (
       |  SELECT g.bin, g.n, g.sp, g.k,
       |    CAST(g.sp - 1000 * g.k AS HUGEINT)
       |      * (g.sp - 1000 * g.k) * 1000 // g.n AS rel_term,
       |    CAST(g.k * t.nn - t.kk * g.n AS HUGEINT)
       |      * (g.k * t.nn - t.kk * g.n) * 1000 // (g.n * t.nn) AS res_term
       |  FROM g CROSS JOIN tot t
       |)
       |SELECT x.bin, CAST(x.n AS BIGINT) AS n,
       |  CAST(x.sp // x.n AS BIGINT) AS conf_milli,
       |  CAST(x.k * 1000 // x.n AS BIGINT) AS acc_milli,
       |  CAST(SUM(x.rel_term) OVER () // t.nn AS BIGINT) AS rel_ppb,
       |  CAST(SUM(x.res_term) OVER () * 1000000 // (t.nn * t.nn) AS BIGINT) AS res_ppb,
       |  CAST(CAST(t.kk AS HUGEINT) * (t.nn - t.kk) * 1000000000 // (CAST(t.nn AS HUGEINT) * t.nn) AS BIGINT) AS unc_ppb,
       |  CAST(CAST(t.kk AS HUGEINT) * (t.nn - t.kk) * 1000000000 // (CAST(t.nn AS HUGEINT) * t.nn)
       |    - SUM(x.res_term) OVER () * 1000000 // (t.nn * t.nn)
       |    + SUM(x.rel_term) OVER () // t.nn AS BIGINT) AS bs_binned_ppb,
       |  CAST(t.sqall * 1000 // t.nn AS BIGINT) AS bs_ppb
       |FROM terms x CROSS JOIN tot t
       |ORDER BY x.bin""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val votes = LangStopwords.map { case (lang, sw) =>
      lang -> size(filter(col("toks"), tk => tk.isin(sw: _*))).cast("long")
    }
    val vmax = greatest(votes.map(_._2): _*)
    val vtot = votes.map(_._2).reduce(_ + _)
    val g = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("lang"), langId(col("toks")).as("lang_pred"),
        floor((vmax + 1) * 1000 / (vtot + 4)).cast("long").as("conf_milli"))
      .select(least(floor(col("conf_milli") / 100), lit(9L)).cast("long").as("bin"),
        col("conf_milli"),
        when(col("lang") === col("lang_pred"), 1L).otherwise(0L).as("ok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("conf_milli").as("sp"), sum("ok").as("k"),
        sum(expr("CAST(conf_milli - 1000 * ok AS DECIMAL(38,0)) * (conf_milli - 1000 * ok)"))
          .as("sqsum"))
      .transform(Materialize.snapshot) // ≤10 decile cells: totals + terms read it
    val tot = g.agg(sum("n").as("nn"), sum("k").as("kk"), sum("sqsum").as("sqall"))
    val terms = g.crossJoin(broadcast(tot)) // 1-row totals
      .select(col("bin"), col("n"), col("sp"), col("k"), col("nn"), col("kk"), col("sqall"),
        expr("""CAST(sp - 1000 * k AS DECIMAL(38,0)) * (sp - 1000 * k) * 1000 div n""")
          .as("rel_term"),
        expr("""CAST(k * nn - kk * n AS DECIMAL(38,0)) * (k * nn - kk * n) * 1000 div (n * nn)""")
          .as("res_term"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    terms
      .withColumn("rel_sum", sum("rel_term").over(wAll))
      .withColumn("res_sum", sum("res_term").over(wAll))
      .select(col("bin"), col("n"),
        expr("sp div n").as("conf_milli"),
        expr("k * 1000 div n").as("acc_milli"),
        expr("CAST(rel_sum div nn AS BIGINT)").as("rel_ppb"),
        expr("CAST(res_sum * 1000000 div (nn * nn) AS BIGINT)").as("res_ppb"),
        expr("CAST(CAST(kk AS DECIMAL(38,0)) * (nn - kk) * 1000000000 div (CAST(nn AS DECIMAL(38,0)) * nn) AS BIGINT)")
          .as("unc_ppb"),
        expr("""CAST(CAST(kk AS DECIMAL(38,0)) * (nn - kk) * 1000000000 div (CAST(nn AS DECIMAL(38,0)) * nn)
          - res_sum * 1000000 div (nn * nn)
          + rel_sum div nn AS BIGINT)""").as("bs_binned_ppb"),
        expr("CAST(sqall * 1000 div nn AS BIGINT)").as("bs_ppb"))
      .orderBy("bin")
  }

  /** q272 — unbiased pass@k estimator (Chen et al. 2021, the code-gen
    * benchmark standard): each 5-doc group is a "task" with n sampled
    * attempts; an attempt passes on a content-derived bit (first md5
    * nibble of the text < 8 — deterministic, ~50%); pass@k = 1 −
    * C(n−c,k)/C(n,k) computed as the exact falling-factorial ratio
    * Π(n−c−i)/Π(n−i) with ONE floor division per k — the naive
    * "share of tasks with a pass in the first k" is biased; this is
    * the unbiased estimator every eval harness ships. Global means
    * over tasks ride along (sum//count, one more exact division).
    *
    * Scale: one scan emits (task, pass) rows that collapse to
    * task-cardinality (n, c) cells map-side; the estimator is in-cell
    * arithmetic and the headline means are a 1-row fold. */
  val q272PassAtK: Q = Q(
    "q272_pass_at_k",
    """WITH att AS (
      |  SELECT doc_id - doc_id % 5 AS task,
      |    CASE WHEN CAST(concat('0x', substr(md5(text), 1, 1)) AS BIGINT) < 8
      |      THEN 1 ELSE 0 END AS pass
      |  FROM documents
      |), cells AS (
      |  SELECT task, COUNT(*) AS n, SUM(pass) AS c FROM att GROUP BY task
      |), est AS (
      |  SELECT task, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
      |    CASE WHEN n < 1 THEN NULL
      |      ELSE 1000000 - (n - c) * 1000000 // n END AS p1,
      |    CASE WHEN n < 2 THEN NULL
      |      ELSE 1000000 - (n - c) * (n - c - 1) * 1000000 // (n * (n - 1)) END AS p2,
      |    CASE WHEN n < 3 THEN NULL
      |      ELSE 1000000 - (n - c) * (n - c - 1) * (n - c - 2) * 1000000
      |        // (n * (n - 1) * (n - 2)) END AS p3
      |  FROM cells
      |)
      |SELECT task, n, c,
      |  CAST(p1 AS BIGINT) AS pass1_ppm,
      |  CAST(p2 AS BIGINT) AS pass2_ppm,
      |  CAST(p3 AS BIGINT) AS pass3_ppm,
      |  CAST(SUM(p1) OVER () // COUNT(p1) OVER () AS BIGINT) AS mean_pass1_ppm,
      |  CAST(SUM(p3) OVER () // COUNT(p3) OVER () AS BIGINT) AS mean_pass3_ppm
      |FROM est
      |ORDER BY task""") { (s, d) =>
    import graft.functions.TextFunctions.hex32
    val att = Tables.documents(s, d)
      .select((col("doc_id") - col("doc_id") % 5).as("task"),
        // first md5 nibble < 8: hex32 is the first 8 nibbles, so shift 28
        when(shiftright(hex32(col("text")), 28) < 8, 1L).otherwise(0L).as("pass"))
    val est = att.groupBy("task")
      .agg(count(lit(1)).as("n"), sum("pass").as("c"))
      .select(col("task"), col("n"), col("c"),
        when(col("n") < 1, lit(null).cast("long"))
          .otherwise(expr("1000000 - (n - c) * 1000000 div n")).as("p1"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr("1000000 - (n - c) * (n - c - 1) * 1000000 div (n * (n - 1))"))
          .as("p2"),
        when(col("n") < 3, lit(null).cast("long"))
          .otherwise(expr(
            "1000000 - (n - c) * (n - c - 1) * (n - c - 2) * 1000000 div (n * (n - 1) * (n - 2))"))
          .as("p3"))
    val means = est.agg(expr("sum(p1) div count(p1)").as("mean_pass1_ppm"),
      expr("sum(p3) div count(p3)").as("mean_pass3_ppm"))
    est.crossJoin(broadcast(means)) // 1-row corpus scalars
      .select(col("task"), col("n"), col("c"),
        col("p1").as("pass1_ppm"), col("p2").as("pass2_ppm"), col("p3").as("pass3_ppm"),
        col("mean_pass1_ppm"), col("mean_pass3_ppm"))
      .orderBy("task")
  }

  /** q273 — partition-agreement eval: score the q23 langId partition
    * against the gold lang partition with PAIRWISE precision/recall/F1,
    * the Rand index, and the adjusted Rand index — the
    * clustering-agreement metrics an entity-resolution or dedup
    * pipeline reports against gold clusters (per-row accuracy ignores
    * STRUCTURE: merging two big clusters costs quadratically many
    * pairs, and these metrics price that correctly). Everything
    * derives from the 5×5 contingency cells via pair-count algebra —
    * TP = ΣC(nᵢⱼ,2) etc.; no doc-pair ever materializes. ARI is the
    * one signed ratio, computed ×2 cross-multiplied with a sign-split
    * floor (the q259 rule) and DECIMAL(38,0)/HUGEINT lifts (pair-count
    * products cross 2⁶³ near 10⁵ docs).
    *
    * Scale: the corpus collapses to ≤25 contingency cells map-side;
    * marginals and every metric fold over those cells. */
  val q273PartitionAgree: Q = Q(
    "q273_partition_agree",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DToks AS toks FROM documents
       |), v AS (
       |  SELECT doc_id, lang,
       |    $DVoteCols
       |  FROM t
       |), p AS (
       |  SELECT lang,
       |    CASE WHEN greatest(v_en,v_de,v_fr,v_es) = 0 THEN 'und'
       |         WHEN v_en = greatest(v_en,v_de,v_fr,v_es) THEN 'en'
       |         WHEN v_de = greatest(v_en,v_de,v_fr,v_es) THEN 'de'
       |         WHEN v_fr = greatest(v_en,v_de,v_fr,v_es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred
       |  FROM v
       |), cells AS (
       |  SELECT lang, lang_pred, COUNT(*) AS c FROM p GROUP BY lang, lang_pred
       |), agg AS (
       |  SELECT SUM(c) AS n, SUM(c * (c - 1) // 2) AS tp FROM cells
       |), am AS (
       |  SELECT SUM(s * (s - 1) // 2) AS sa
       |  FROM (SELECT SUM(c) AS s FROM cells GROUP BY lang)
       |), bm AS (
       |  SELECT SUM(s * (s - 1) // 2) AS sb
       |  FROM (SELECT SUM(c) AS s FROM cells GROUP BY lang_pred)
       |), m AS (
       |  SELECT a.n, a.tp, am.sa, bm.sb, a.n * (a.n - 1) // 2 AS cn2
       |  FROM agg a CROSS JOIN am CROSS JOIN bm
       |), ari AS (
       |  SELECT n, tp, sa, sb, cn2,
       |    2 * (CAST(tp AS HUGEINT) * cn2 - CAST(sa AS HUGEINT) * sb) AS num2,
       |    CAST(sa + sb AS HUGEINT) * cn2 - 2 * CAST(sa AS HUGEINT) * sb AS den2
       |  FROM m
       |)
       |SELECT CAST(n AS BIGINT) AS n_docs,
       |  CAST(tp AS BIGINT) AS tp_pairs,
       |  CAST(sb - tp AS BIGINT) AS fp_pairs,
       |  CAST(sa - tp AS BIGINT) AS fn_pairs,
       |  CAST(CASE WHEN sb = 0 THEN NULL ELSE tp * 1000000 // sb END AS BIGINT) AS precision_ppm,
       |  CAST(CASE WHEN sa = 0 THEN NULL ELSE tp * 1000000 // sa END AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN sa + sb = 0 THEN NULL
       |    ELSE 2 * tp * 1000000 // (sa + sb) END AS BIGINT) AS f1_ppm,
       |  CAST((cn2 - sa - sb + 2 * tp) * 1000000 // cn2 AS BIGINT) AS rand_ppm,
       |  CAST(CASE WHEN den2 = 0 THEN NULL
       |    WHEN num2 >= 0 THEN num2 * 1000000 // den2
       |    ELSE -((-num2) * 1000000 // den2) END AS BIGINT) AS ari_ppm
       |FROM ari""") { (s, d) =>
    val p = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("lang"), langId(col("toks")).as("lang_pred"))
    val cells = p.groupBy("lang", "lang_pred").agg(count(lit(1)).as("c"))
      .transform(Materialize.snapshot) // ≤25 contingency cells: all three folds read it
    val agg = cells.agg(sum("c").as("n"),
      sum(expr("c * (c - 1) div 2")).as("tp"))
    val am = cells.groupBy("lang").agg(sum("c").as("s"))
      .agg(sum(expr("s * (s - 1) div 2")).as("sa"))
    val bm = cells.groupBy("lang_pred").agg(sum("c").as("s"))
      .agg(sum(expr("s * (s - 1) div 2")).as("sb"))
    agg.crossJoin(broadcast(am)).crossJoin(broadcast(bm)) // 1-row folds
      .withColumn("cn2", expr("n * (n - 1) div 2"))
      // pair-count products cross 2^63 near 1e5 docs: lift BEFORE multiply
      .withColumn("num2", expr(
        "2 * (CAST(tp AS DECIMAL(38,0)) * cn2 - CAST(sa AS DECIMAL(38,0)) * sb)"))
      .withColumn("den2", expr(
        "CAST(sa + sb AS DECIMAL(38,0)) * cn2 - 2 * CAST(sa AS DECIMAL(38,0)) * sb"))
      .select(col("n").as("n_docs"), col("tp").as("tp_pairs"),
        (col("sb") - col("tp")).as("fp_pairs"),
        (col("sa") - col("tp")).as("fn_pairs"),
        when(col("sb") === 0, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000 div sb")).as("precision_ppm"),
        when(col("sa") === 0, lit(null).cast("long"))
          .otherwise(expr("tp * 1000000 div sa")).as("recall_ppm"),
        when(col("sa") + col("sb") === 0, lit(null).cast("long"))
          .otherwise(expr("2 * tp * 1000000 div (sa + sb)")).as("f1_ppm"),
        expr("(cn2 - sa - sb + 2 * tp) * 1000000 div cn2").as("rand_ppm"),
        when(col("den2") === 0, lit(null).cast("long"))
          .otherwise(expr("""CASE WHEN num2 >= 0 THEN CAST(num2 * 1000000 div den2 AS BIGINT)
            ELSE CAST(-((-num2) * 1000000 div den2) AS BIGINT) END"""))
          .as("ari_ppm"))
  }

  /** q287 — Flesch readability scores (reading ease + grade level) per
    * document: the classic curation signal for "is this text written
    * for humans" — word-salad and boilerplate score far outside the
    * human band, complementing q22's ratio gates with a
    * SENTENCE/SYLLABLE-structure view. Syllables use the standard
    * deterministic heuristic max(1, vowel-group count) per token;
    * sentences are [.!?]+ runs + 1 (a no-punctuation doc is one long
    * sentence — exactly the degenerate value the formula is designed
    * to punish). Both formulas ship in exact floor-milli with the
    * published coefficients pinned as integers (206.835 → 206835;
    * each ratio term floors identically on both engines — numerators
    * non-negative; the final subtraction is exact and may go
    * negative, which IS the signal).
    *
    * Scale: a narrow per-doc projection — no shuffle at any corpus
    * size; the export sort is the only exchange. */
  val q287Flesch: Q = Q(
    "q287_flesch",
    s"""WITH t AS (
       |  SELECT doc_id, $DToks AS toks,
       |    len(regexp_extract_all(text, '[.!?]+')) + 1 AS n_sent
       |  FROM documents
       |), syl AS (
       |  SELECT doc_id, len(toks) AS n_words, n_sent,
       |    list_sum(list_transform(toks,
       |      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS n_syl
       |  FROM t
       |)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_sent AS BIGINT) AS n_sentences,
       |  CAST(n_syl AS BIGINT) AS n_syllables,
       |  CAST(206835 - 1015 * n_words // n_sent
       |    - 84600 * n_syl // n_words AS BIGINT) AS ease_milli,
       |  CAST(390 * n_words // n_sent + 11800 * n_syl // n_words
       |    - 15590 AS BIGINT) AS grade_milli
       |FROM syl WHERE n_words > 0
       |ORDER BY doc_id""") { (s, d) =>
    val t = docs(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"),
        (size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))) + 1)
          .cast("long").as("n_sent"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_words"),
        col("n_sent"),
        aggregate(col("toks"), lit(0L), (acc, w) =>
          acc + greatest(size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))
            .cast("long"), lit(1L))).as("n_syl"))
    t.filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sent").as("n_sentences"),
        col("n_syl").as("n_syllables"),
        expr("CAST(206835 - 1015 * n_words div n_sent - 84600 * n_syl div n_words AS BIGINT)")
          .as("ease_milli"),
        expr("CAST(390 * n_words div n_sent + 11800 * n_syl div n_words - 15590 AS BIGINT)")
          .as("grade_milli"))
      .orderBy("doc_id")
  }

  /** q288 — token burstiness (Fano factor) over the corpus: for the 30
    * highest-volume tokens, the variance-to-mean ratio of the token's
    * per-document count, zeros included — Church & Gale's contagion
    * signal. Function words spread evenly (Fano ≈ 1, Poisson-like);
    * topical/content words CLUMP (Fano ≫ 1): a burstiness-aware
    * pipeline weights topical terms up for dedup fingerprints and
    * down for language-ID. Fano = (n·Σc² − (Σc)²)/(n·Σc) over all n
    * docs — exact from per-token df/Σc/Σc² plus the 1-row corpus
    * count, numerator non-negative by Cauchy-Schwarz, one floor-milli
    * division; products lifted to DECIMAL(38,0)/HUGEINT (n·Σc²
    * crosses 2⁶³ near 10⁵ docs at this token volume).
    *
    * Scale: (token, doc) cells collapse map-side inside the explode
    * scan; the per-token rollup is vocab-cardinality; the top-30 is a
    * two-phase orderBy/limit (per-partition heads, then one merge). */
  val q288Burstiness: Q = Q(
    "q288_burstiness",
    s"""WITH td AS (
       |  SELECT doc_id, unnest($DToks) AS token FROM documents
       |), cells AS (
       |  SELECT token, doc_id, COUNT(*) AS c FROM td GROUP BY token, doc_id
       |), n AS (
       |  SELECT COUNT(*) AS n_docs FROM documents
       |), tok AS (
       |  SELECT token, COUNT(*) AS df, SUM(c) AS total,
       |    SUM(CAST(c AS HUGEINT) * c) AS sumsq
       |  FROM cells GROUP BY token
       |)
       |SELECT token, CAST(df AS BIGINT) AS df, CAST(total AS BIGINT) AS total,
       |  CAST((CAST(n.n_docs AS HUGEINT) * sumsq - CAST(total AS HUGEINT) * total) * 1000
       |    // (CAST(n.n_docs AS HUGEINT) * total) AS BIGINT) AS fano_milli
       |FROM tok CROSS JOIN n
       |ORDER BY total DESC, token LIMIT 30""") { (s, d) =>
    val td = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val cells = td.groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    cells.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("c").as("total"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sumsq"))
      .crossJoin(broadcast(n)) // 1-row corpus count
      .select(col("token"), col("df"), col("total"),
        expr("""CAST((CAST(n_docs AS DECIMAL(38,0)) * sumsq
          - CAST(total AS DECIMAL(38,0)) * total) * 1000
          div (CAST(n_docs AS DECIMAL(38,0)) * total) AS BIGINT)""").as("fano_milli"))
      .orderBy(col("total").desc, col("token")).limit(30)
  }

  /** q295 — RAKE keyword extraction (Rose 2010): candidate phrases are
    * maximal runs of non-stopword tokens (split on the pinned q23
    * stopword lists), each word scores deg/freq — deg sums the lengths
    * of every phrase the word appears in, so words that travel in long
    * collocations outrank loners — and a phrase scores the sum of its
    * words; top-20 by score. The unsupervised keyword/keyphrase stage
    * of a document-enrichment pipeline, complementing q75's tf-idf
    * (corpus-frequency view) and q161's PMI (pair-association view)
    * with a phrase-level degree view. Word scores in exact floor-ppm;
    * identical phrases score identically by construction, so the
    * distinct-phrase collapse is exact.
    *
    * Scale: position explode is in-scan; island grouping windows per
    * doc_id (co-partitioned); word stats are vocab-cardinality; the
    * phrase re-join keys on (doc, island). Top-20 is a two-phase
    * orderBy/limit. */
  val q295RakeKeywords: Q = Q(
    "q295_rake_keywords",
    s"""WITH t AS (
       |  SELECT doc_id, unnest($DToks) AS tok,
       |    unnest(range(1, len($DToks) + 1)) AS pos
       |  FROM documents
       |), ns AS (
       |  SELECT doc_id, tok, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM t WHERE tok NOT IN ${"(" + graft.functions.TextFunctions.LangStopwords.flatMap(_._2).distinct.map(w => s"'$w'").mkString(",") + ")"}
       |), ph AS (
       |  SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    COUNT(*) AS plen
       |  FROM ns GROUP BY doc_id, grp
       |), ws AS (
       |  SELECT n.tok, SUM(p.plen) * 1000000 // COUNT(*) AS score_ppm
       |  FROM ns n JOIN ph p USING (doc_id, grp)
       |  GROUP BY n.tok
       |), psc AS (
       |  SELECT n.doc_id, n.grp, SUM(w.score_ppm) AS score_ppm
       |  FROM ns n JOIN ws w USING (tok)
       |  GROUP BY n.doc_id, n.grp
       |), agg AS (
       |  SELECT p.phrase, CAST(p.plen AS BIGINT) AS n_words,
       |    COUNT(*) AS n_occurrences, MIN(s.score_ppm) AS score_ppm
       |  FROM ph p JOIN psc s USING (doc_id, grp)
       |  GROUP BY p.phrase, p.plen
       |)
       |SELECT phrase, n_words, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       |  CAST(score_ppm AS BIGINT) AS score_ppm
       |FROM agg
       |ORDER BY score_ppm DESC, phrase LIMIT 20""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val stops = graft.functions.TextFunctions.LangStopwords.flatMap(_._2).distinct
    val t = docs(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), col("tok"), (col("pos0") + 1).as("pos"))
    val wIsl = Window.partitionBy("doc_id").orderBy("pos")
    val ns = t.filter(!col("tok").isin(stops: _*))
      .withColumn("grp", col("pos") - row_number().over(wIsl))
      .transform(Materialize.snapshot) // island rows feed phrases, word stats, and the re-join
    val ph = ns.groupBy("doc_id", "grp")
      .agg(array_join(transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
        x => x("tok")), " ").as("phrase"),
        count(lit(1)).as("plen"))
      .transform(Materialize.snapshot) // phrase cells feed word degrees and the score re-join
    val ws = ns.join(ph.select("doc_id", "grp", "plen"), Seq("doc_id", "grp"))
      .groupBy("tok")
      .agg(expr("sum(plen) * 1000000 div count(1)").as("score_ppm"))
    val psc = ns.join(ws, "tok")
      .groupBy("doc_id", "grp").agg(sum("score_ppm").as("score_ppm"))
    ph.join(psc, Seq("doc_id", "grp"))
      .groupBy("phrase", "plen")
      .agg(count(lit(1)).as("n_occurrences"), min("score_ppm").as("score_ppm"))
      .select(col("phrase"), col("plen").as("n_words"),
        col("n_occurrences"), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase")).limit(20)
  }

  val all: Seq[Q] = Seq(q287Flesch, q288Burstiness, q295RakeKeywords,
    q202QuantileNorm, q21TokenStats, q22QualityScore, q23LangId,
    q24Fingerprint, q25LangSourceAgg, q63TokenTopk, q88PairMerge,
    q93TokenChunks, q94VocabOov, q101BigramLm, q107LangConfusion,
    q113BpeRounds, q121CcnetBuckets, q123BpeEncode, q149VocabGrowth,
    q161PmiCollocations, q166CalibrationEce, q169VocabDrift,
    q174BpeFertility, q183Chi2Tokens, q184AucRanksum, q232UnigramViterbi,
    q236KneserNey, q248RougeOverlap, q255CerEval, q256BleuEval,
    q259CohensKappa, q260SimpsonDiversity, q261MbrConsensus,
    q267VocabRichness, q268BrierDecomp, q272PassAtK, q273PartitionAgree)
}
