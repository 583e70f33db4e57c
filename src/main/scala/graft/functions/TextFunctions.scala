package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-pipeline primitives: tokenization, shingling,
  * MinHash, SimHash, fingerprints, quality stats. Everything here is a
  * built-in Catalyst expression / higher-order function — no UDFs, so the
  * whole text pipeline stays inside whole-stage codegen and scales
  * linearly with no driver involvement.
  *
  * Cross-engine determinism policy (the DuckDB oracle must agree
  * bit-for-bit):
  *  - all hashing is MD5-based (identical in every engine), folded to an
  *    unsigned 32-bit int via the first 8 hex chars;
  *  - ratios are emitted as integer parts-per-million (floor), never as
  *    floating point;
  *  - every fold over doubles is an explicit left-to-right `aggregate`,
  *    never a shuffle-order-dependent SUM.
  */
object TextFunctions {

  /** Large prime < 2^31 used as the MinHash modulus. (2p+1)*h+c stays
    * under 2^63 for h < 2^32, so 64-bit arithmetic never overflows. */
  val MinhashPrime: Long = 2038074743L

  /** Lowercased whitespace tokens, blanks removed; [] for blank input. */
  def tokens(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), t => t =!= "")

  /** Tokens preserving case (for uppercase-ratio style stats). */
  def rawTokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** GPT-ish pre-tokenizer count: word runs or single non-space symbols.
    * A cheap, deterministic stand-in for a BPE token count. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("""\w+|[^\w\s]"""), lit(0)))

  /** Unsigned 32-bit hash of a string: first 8 hex chars of md5.
    * DuckDB mirror: CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT).
    * Routed through the native plans.Hex32 (digest bytes folded
    * directly — no hex encode/substring/base-16 re-parse), which is
    * bit-identical to the column spelling (PlanSpec). */
  /** Non-overlapping occurrence counts of a literal pattern list, one
    * count per pattern in order, computed in a single Aho–Corasick pass
    * (plans.MultiCount). DuckDB mirror, one expression per pattern:
    * `(length(t) - length(replace(t, p, ''))) // length(p)`. */
  def multiCount(text: Column, patterns: Seq[String]): Column = {
    import org.apache.spark.sql.graft.PlanShim
    PlanShim.column(graft.plans.MultiCount(PlanShim.expression(text), patterns))
  }

  def hex32(c: Column): Column = {
    import org.apache.spark.sql.graft.PlanShim
    PlanShim.column(graft.plans.Hex32(PlanShim.expression(c.cast("string"))))
  }

  /** Word k-shingles: ["a b c d e"] windows joined by single spaces.
    * Short docs (< k tokens) yield one shingle with all tokens — never
    * an empty set, so MinHash is total. */
  def shingles(toks: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))

  /** One MinHash value: min over shingles of ((2p+1)*h32 + p*p+7) mod P.
    * Affine permutations keep everything in exact integer arithmetic. */
  def minhashAt(sh: Column, p: Int): Column =
    array_min(transform(sh, s =>
      (hex32(s) * (2 * p + 1) + (p.toLong * p + 7)) % MinhashPrime))

  /** MinHash signature over PRE-HASHED shingles (an array<long> of
    * hex32 values). Callers should materialize the hash array as its
    * own column first — hashing inside the per-permutation lambda would
    * recompute every md5 `perms` times (a 16x slowdown measured at
    * sf0.1); over precomputed hashes each permutation is pure integer
    * arithmetic. Built as a static array (not transform-over-sequence)
    * so `hs` is referenced `perms` times — which stops CollapseProject
    * from inlining the expensive hash expression back into a lambda. */
  def minhashSigFromHashes(hs: Column, perms: Int): Column =
    array((0 until perms).map(p =>
      array_min(transform(hs, h =>
        (h * (2 * p + 1) + (p.toLong * p + 7)) % MinhashPrime))): _*)

  /** Hash array for minhashSigFromHashes / simhash32FromHashes. */
  def shingleHashes(sh: Column): Column = transform(sh, s => hex32(s))

  /** Per-5-shingle uint32 hashes straight from the token array — the
    * fused native path (plans.ShingleHashes): one pass, no shingle
    * string array, no hex round-trip. Bit-identical to
    * `shingleHashes(shingles(toks, 5))` (PlanSpec). */
  def tokenShingleHashes(toks: Column): Column = {
    import org.apache.spark.sql.graft.PlanShim
    PlanShim.column(graft.plans.ShingleHashes(PlanShim.expression(toks)))
  }

  /** Full MinHash signature from raw shingle strings (convenience; for
    * hot paths precompute shingleHashes as a column first). */
  def minhashSig(sh: Column, perms: Int): Column =
    minhashSigFromHashes(shingleHashes(sh), perms)

  /** LSH band key `b` over a signature column: md5 of the band index and
    * its `rows` signature values — one short string per band. Docs
    * sharing any band key are near-dup candidates. */
  def bandKey(sig: Column, b: Int, rows: Int): Column = {
    val parts = lit(b) +: (0 until rows).map(r => get(sig, lit(b * rows + r)))
    md5(concat_ws("_", parts: _*))
  }

  /** The 4 LSH band keys (4 bands × 4 rows) of a 16-value signature, one row each. */
  def bandKeys(sig: Column): Column =
    explode(array((0 until 4).map(b => bandKey(sig, b, 4)): _*))

  /** The one near-duplicate verify rule: exact integer Jaccard of two
    * distinct shingle-hash sets ≥ 0.7 (an empty union is no duplicate). */
  def jaccardDup(sx: Column, sy: Column): Column = {
    val inter = size(array_intersect(sx, sy)).cast("long")
    val uni = size(array_distinct(concat(sx, sy))).cast("long")
    uni > 0 && inter * 1000000L >= uni * 700000L
  }

  /** 32-bit SimHash over distinct tokens: bit b is set when more token
    * hashes have bit b set than not. Pure integer arithmetic. */
  def simhash32(toks: Column): Column =
    simhash32FromHashes(transform(array_distinct(toks), t => hex32(t)))

  /** SimHash over a PRE-HASHED feature array (see minhashSigFromHashes
    * for why callers should materialize the hashes column: the 32
    * per-bit aggregates would otherwise each recompute every md5). */
  def simhash32FromHashes(hs: Column): Column =
    (0 until 32).map { b =>
      val vote = aggregate(hs, lit(0L),
        (a, h) => a + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Hamming distance between two 32-bit codes held in longs. */
  def hamming32(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Floor-divide two integer columns scaled by `scale` — the one ratio
    * shape both engines agree on bit-for-bit: exact integer operands,
    * one IEEE double division (numerator < 2^53 for exactness; both
    * engines round identically up to 2^63), floor, long. DuckDB
    * mirror: CAST(FLOOR(a*scale/b) AS BIGINT). The a*scale product is
    * guarded: non-ANSI long arithmetic wraps silently where DuckDB's
    * BIGINT multiply errors, so out-of-range inputs fail loudly here
    * too instead of diverging (q110's weight numerator is within ~6×
    * of Long.MaxValue at sf0.1 — a bigger corpus WOULD hit this). */
  def ratioScaled(a: Column, b: Column, scale: Long): Column = {
    val al = a.cast("long")
    val lim = java.lang.Long.MAX_VALUE / math.max(scale, 1L)
    // compare on the un-abs'd column: abs(Long.MinValue) wraps back to
    // Long.MinValue and would slip past an abs()-based guard
    val prod =
      if (scale <= 1L) al * scale
      else when(al > lim || al < -lim,
        raise_error(concat(lit(s"ratioScaled overflow: |a|*$scale > 2^63 for a="), al)))
        .otherwise(al * scale)
    when(b === 0, 0L).otherwise(floor(prod / b))
  }

  /** Exact Jaccard similarity of two token-set columns, in ppm (floor). */
  def jaccardPpm(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("long")
    val union = size(array_distinct(concat(a, b))).cast("long")
    ratioScaled(inter, union, 1000000L)
  }

  /** Whole-document fingerprint: md5 of the normalized text. */
  def docFingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Winnowing-ish min-shingle fingerprint: smallest md5 over word
    * 5-grams — stable under small edits far from the minimizer. */
  def minShingleFingerprint(toks: Column): Column =
    array_min(transform(shingles(toks, 5), s => md5(s)))

  // ---- quality stats (all integer ppm) ----

  private def countMatches(text: Column, charClass: String): Column =
    (length(text) - length(regexp_replace(text, charClass, ""))).cast("long")

  def punctPpm(text: Column): Column =
    ratioScaled(countMatches(text, "[.,;:!?]"), length(text), 1000000L)

  def digitPpm(text: Column): Column =
    ratioScaled(countMatches(text, "[0-9]"), length(text), 1000000L)

  def upperPpm(text: Column): Column =
    ratioScaled(countMatches(text, "[A-Z]"), length(text), 1000000L)

  /** Ratio of tokens that are stopwords, ppm. */
  def stopwordPpm(toks: Column, stopwords: Seq[String]): Column = {
    val hits = size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
    ratioScaled(hits, size(toks), 1000000L)
  }

  /** Greedy left-to-right NON-OVERLAPPING merge of every adjacent
    * occurrence of pair (a, b) in a token array — one BPE merge step.
    * Tokens are wrapped in \\u0001 delimiters and the pair replaced as a
    * whole-token unit via `replace()` (itself a greedy left-to-right
    * scan), so "xa b" never matches pair (a, b) and "x x x" with pair
    * (x, x) merges exactly once. The merged token is `a ++ " " ++ b`.
    * Assumes tokens contain no \\u0001 (whitespace-split text). */
  def bpeMerge(toks: Column, a: Column, b: Column): Column = {
    val sep = "\u0001"
    val sep2 = sep + sep
    val s = concat(lit(sep), array_join(toks, sep2), lit(sep))
    val pat = concat(lit(sep), a, lit(sep2), b, lit(sep))
    val rep = concat(lit(sep), a, lit(" "), b, lit(sep))
    // empty input short-circuits: the wrap/split round-trip would
    // otherwise read the empty string back as [""]
    when(size(toks) === 0, toks)
      .otherwise(split(trim(call_function("replace", s, pat, rep), sep), sep2))
  }

  /** Fixed training-context chunking geometry, shared by the chunk
    * surface (q93) and the packer that consumes its chunks (q118):
    * 32-token windows every 24 tokens (8-token overlap). */
  val CtxWindow = 32
  val CtxStride = 24

  /** 1-based start positions of the fixed-stride context windows. */
  def ctxChunkStarts(toks: Column): Column =
    sequence(lit(1), size(toks), lit(CtxStride))

  /** Content-defined chunking (gear/Rabin family): split the token
    * array into chunks whose boundary falls AFTER any token with
    * hex32(tok) % mod == 0 (mean chunk ≈ mod tokens), as space-joined
    * chunk strings. Boundaries depend only on content, so inserting or
    * deleting a token perturbs chunks only up to the next boundary —
    * the shift-robustness fixed-stride windows lack (pinned by
    * TextSpec). Linear per row: boundary positions first (one hash per
    * token), then one slice+join per chunk — no token explode, so
    * callers chunk without shuffling text, and no quadratic
    * accumulator copying (the fold spelling re-copied the open chunk
    * per token and the closed list per boundary). */
  def cdcChunks(toks: Column, mod: Int = 8): Column = {
    val n = size(toks)
    val bpos = filter(sequence(lit(1), n),
      i => hex32(element_at(toks, i)) % mod === 0)
    val starts = concat(array(lit(1)), transform(bpos, p => p + 1))
    val ends = concat(bpos, array(n))
    // trailing (n+1, n) pair when the last token is a boundary -> null
    val chunks = filter(
      zip_with(starts, ends, (st, en) =>
        when(st <= en, array_join(slice(toks, st, en - st + 1), " "))),
      c => c.isNotNull)
    // sequence(1, 0) would DESCEND for an empty array — short-circuit
    when(n === 0, array().cast("array<string>")).otherwise(chunks)
  }

  /** Mean token length in milli-chars (x1000, floor). */
  def meanTokenLenMilli(toks: Column): Column = {
    val total = aggregate(toks, lit(0L), (a, t) => a + length(t))
    ratioScaled(total, size(toks), 1000L)
  }

  /** Stopword sets for the n-gram language-ID heuristic. Tie-break is the
    * fixed order en, de, fr, es (first max wins). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "que"))

  /** Language-ID: argmax of stopword hits (fixed tie-break order),
    * "und" (undetermined) when no stopword from any set appears. */
  def langId(toks: Column): Column = {
    val votes = LangStopwords.map { case (lang, sw) =>
      lang -> size(filter(toks, t => t.isin(sw: _*))).cast("long")
    }
    val best = greatest(votes.map(_._2): _*)
    votes.foldRight(lit("und"): Column) { case ((lang, v), acc) =>
      when(v === best && best > 0, lang).otherwise(acc)
    }
  }
}
