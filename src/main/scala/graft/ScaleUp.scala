package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a larger scale factor from an existing one by local
  * replication with key remapping — the round-5 VERDICT's recipe for
  * demonstrating the scaling CURVE (sf0.1 → sf1) without network access.
  *
  * `runMain graft.ScaleUp [srcDir] [destDir] [factor]`
  *
  * Each fact row is multiplied by a broadcast 16-row `copy` table (an
  * in-place row multiplier: no shuffle, no skew — the same shape you'd
  * use to synthesize load on a real cluster), and every key column is
  * offset by `copy * 2^32` CONSISTENTLY across tables, so referential
  * integrity (customer↔orders↔lineitem, part/supplier↔lineitem,
  * doc↔chunks) survives: each copy is a disjoint key universe joining
  * only to itself. Dimensions that queries broadcast (region, nation)
  * keep a single copy, exactly like a production scale-up.
  *
  * Content dedup/ANN realism: verbatim text/vector replication would
  * make every document a 16-way near-duplicate — LSH buckets would grow
  * 16x and the pair stage 256x, measuring a pathological corpus rather
  * than engine scaling. Instead copy i>0 permutes each document's tokens
  * by a deterministic per-copy hash order (unigram statistics — length,
  * language id, quality ratios, BM25/LM counts — are preserved; w-shingle
  * sets decorrelate, so near-dup rates stay realistic) and rotates each
  * embedding vector by i positions (norm and component distribution
  * preserved; pairwise cosine between copies decorrelates).
  *
  * `runMain graft.ScaleUp [srcDir] [destDir] [factor] [mutate]`
  *
  * MUTATE mode (4th arg, round-8 VERDICT item 1) targets the EXACT
  * set-similarity family (q163 prefix join, q168 containment): the
  * default permutation decorrelates w-shingles but keeps each copy's
  * token SET identical, and hash-sorting every copy-i document into one
  * global token order converts plain unigram overlap into spurious
  * shingle overlap — both inflate exact-pair counts toward Σcluster²
  * (~256x). Mutate mode instead keeps the ORIGINAL token order and
  * rewrites every 8th token (position residue shifted per copy) to a
  * copy-tagged spelling — ~12.5% mutation with ZERO variance, giving a
  * worst-case cross-copy shingle Jaccard of 0.5 (< the 0.6/0.8
  * thresholds) for every copy pair and doc length; see the inline
  * derivation. Within-copy near-dup structure (the real clusters) is
  * untouched — planted variants derive from the copy's own text at
  * query time — so true pairs grow 16x with the data, not 256x.
  */
  /** ZIPF mode (4th arg, round-9 VERDICT item 5) derives a ×factor tree
  * whose KEY distributions are heavy-tailed instead of uniform — the
  * one 100-TB hazard class (hot keys) the uniform waves cannot see.
  * Mechanism: block-merged copy offsets. For a skewed key column, the
  * key's residue r = key mod 16 selects a Zipf-ish multiplicity
  * m(r) ∈ {16,8,4,2,1} and the copy offset becomes
  * (copy div m(r))·m(r)·stride — copies within a block share ONE key
  * universe for that residue class, so a residue-0 key carries 16× its
  * base row count, residues 1–2 8×, 3–6 4×, 7–10 2×, 11–15 stay 1×
  * (mass-vs-rank roughly ∝ 1/rank — a discretized Zipf head).
  * Deterministic per copy, zero randomness. Skewed axes:
  *   * events.user_id — per-user event density becomes heavy-tailed
  *     (hot sessions/windows; q37/q187's real hazard);
  *   * orders.o_custkey — hot-customer join fan-in (the orders⋈customer
  *     SMJ partition skew that AQE's skew join exists for; referential
  *     integrity holds because the merged key equals the block-base
  *     copy's customer, which the plain remap always writes);
  *   * documents — mutate-mode text (so dedup pair structure stays
  *     honest) plus LENGTH skew: every 64th base doc's text repeats 8×
  *     (token SET unchanged — only boundary shingles differ — so
  *     set-similarity pair structure survives while per-doc CPU and
  *     fingerprint counts get a Zipf-ish long-doc straggler tail).
  * Row counts: events/orders/lineitem/docs still grow exactly ×factor
  * (skew moves keys, not rows).
  */
object ScaleUp {
  private val Stride = 1L << 32
  /** Zipf-ish multiplicity by key residue (mod 16): how many adjacent
    * copies share one key universe for that residue class. */
  private val ZipfMult = Seq(16, 8, 8, 4, 4, 4, 4, 2, 2, 2, 2, 1, 1, 1, 1, 1)
  /** documents/embeddings use a SMALL stride: the corpus convention
    * (Dedup.corpus, q72/q83/q120) encodes semantics in doc_id RANGES —
    * ids < 1e6 are corpus rows and ids >= 2e6 are (synthesized)
    * benchmark rows — so scaled ids must stay inside [0, 1e6). Base ids
    * run 0..4999; 62,500 x 15 + 4,999 = 942,499 keeps 16 disjoint copies
    * in-band. */
  private val DocStride = 62500L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(16)
    val mode = args.lift(3).getOrElse("")

    val spark = Session.local("graft-scaleup")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dest, factor, mode)
    spark.stop()
  }

  /** The derivation itself, callable from specs (ScaleUpSpec runs a
    * factor-4 zipf tree on the shared test session). */
  def run(spark: SparkSession, src: String, dest: String, factor: Int,
      mode: String): Unit = {
    val zipf = mode == "zipf"
    val mutate = mode == "mutate" || zipf // zipf builds on mutate-mode text

    require(factor <= 16, s"doc_id band [0, 1e6) fits at most 16 copies, got $factor")
    val copies = broadcast(spark.range(factor).select(col("id").as("copy")))
    def remapBy(stride: Long)(keys: String*)(df: DataFrame): DataFrame =
      keys.foldLeft(df.crossJoin(copies)) { (d, k) =>
        d.withColumn(k, col(k) + col("copy") * stride)
      }
    def remap(keys: String*)(df: DataFrame): DataFrame = remapBy(Stride)(keys: _*)(df)
    // Block-merged offset for a SKEWED key (zipf mode): copies within a
    // block of size m(key mod 16) share one key universe, so hot
    // residues aggregate up to factor x base density. Clamped to the
    // actual factor so smaller trees stay consistent.
    def zipfKey(k: String)(df: DataFrame): DataFrame = {
      val multArr = array(ZipfMult.map(m => lit(math.min(m, factor).toLong)): _*)
      df.withColumn("_m", element_at(multArr, pmod(col(k), lit(16L)).cast("int") + 1))
        .withColumn(k, col(k) + expr("copy div _m") * col("_m") * Stride)
        .drop("_m")
    }

    def write(name: String, df: DataFrame): Unit = {
      df.drop("copy").write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scaleup] $name -> $dest")
    }

    // fixed dimensions: single copy, same as production
    write("region", spark.read.parquet(s"$src/region.parquet"))
    write("nation", spark.read.parquet(s"$src/nation.parquet"))

    write("customer", remap("c_custkey")(
      spark.read.parquet(s"$src/customer.parquet")))
    write("supplier", remap("s_suppkey")(
      spark.read.parquet(s"$src/supplier.parquet")))
    write("part", remap("p_partkey")(
      spark.read.parquet(s"$src/part.parquet")))
    // zipf: o_custkey block-merges (hot customers get up to factor x
    // order fan-in); o_orderkey stays disjoint (order grain preserved).
    // On top, a SUPER-HOT head: 1/8 of ALL orders land on base custkey
    // 16 (residue 0, so the key is identical in every copy and exists
    // in customer) — block-merge alone spreads heat across 1/16 of the
    // key space and never dominates a shuffle PARTITION, which is what
    // AQE skew-join splits; a 12.5%-of-table key does (measured: the
    // probe below engaged skew=true only once this head existed).
    val ordersBase = remap("o_orderkey")(spark.read.parquet(s"$src/orders.parquet"))
    write("orders",
      if (zipf) zipfKey("o_custkey")(ordersBase)
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(8L)) === 0, lit(16L))
            .otherwise(col("o_custkey")))
      else ordersBase.withColumn("o_custkey", col("o_custkey") + col("copy") * Stride))
    write("lineitem", remap("l_orderkey", "l_partkey", "l_suppkey")(
      spark.read.parquet(s"$src/lineitem.parquet")))
    // per-copy user universe: per-user event density (the sessionization
    // and window workloads' real cost driver) stays what it was.
    // events.ts (TIMESTAMP(NANOS) or timestamp[us] across fixture
    // generations) passes through as BIGINT nanos or NTZ micros; either
    // round-trips through Tables.events — asserted below.
    // zipf: user_id block-merges (heavy-tailed per-user event density);
    // event_id stays disjoint (event grain preserved)
    val eventsBase = remap("event_id")(spark.read.parquet(s"$src/events.parquet"))
    write("events",
      if (zipf) zipfKey("user_id")(eventsBase)
        // super-hot head, same rationale as orders: 1/8 of all events
        // on base user 0 (residue 0 — one key in every copy). The
        // stride is 2^32 so pmod(event_id, 8) is copy-invariant.
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(8L)) === 0, lit(0L))
            .otherwise(col("user_id")))
      else eventsBase.withColumn("user_id", col("user_id") + col("copy") * Stride))
    // Fail loud here rather than 16 queries deep: the derived events
    // file must load through Tables.events with the public schema.
    val tsType = Tables.events(spark, dest).schema("ts").dataType
    require(tsType == org.apache.spark.sql.types.TimestampType,
      s"derived events.ts must load as TIMESTAMP, got $tsType")

    // documents: remap doc_id; copy>0 permutes tokens deterministically
    // (hash-of-(token, copy) sort order; ties broken by the token) —
    // or, in mutate mode, keeps the order and mutates ~10% of tokens
    // per copy (drop 1/20, copy-tag 1/20, force-tag position copy%len)
    // Deterministic EVENLY-SPACED replacement, not Bernoulli hashing:
    // both hash designs measured failed the 0.6-Jaccard bar —
    //  * per-(token,copy) hashes collapse on small vocabularies (a copy
    //    whose type draw mutates no common type is a verbatim clone;
    //    measured J=0.91 cross-copy pairs);
    //  * per-occurrence hashes leave a heavy lucky tail (P[Binom(99,
    //    0.1) ≤ 6] ≈ 0.13 → ~10k cross-copy pairs still above 0.6).
    // Replacing position i whenever (i + copy) % 8 = 0 mutates exactly
    // every 8th token (12.5%, zero variance): each copy keeps 3/8 of
    // its 5-shingles clean, two copies share at most 2/8 (adjacent
    // mutation residues), so cross-copy J ≤ 2/(3+3-2) = 0.5 < 0.6 and
    // containment ≤ (2/8)/(3/8) = 0.67 < 0.8 for EVERY copy pair and
    // doc length — a bound, not an expectation. Same-residue copies
    // (i ≡ j mod 8) disagree on every replaced token (the tag carries
    // the copy index), giving J = 3/13 there. Deterministic drops were
    // rejected: same-residue copies would drop identical positions and
    // leave identical texts. The forced tag at position copy%len keeps
    // even 1-shingle micro-docs distinct across copies.
    val mutatedText =
      "array_join(transform(split(text, ' '), (t, i) -> " +
        "CASE WHEN i = CAST(copy % size(split(text, ' ')) AS INT) THEN concat(t, '~', copy) " +
        "WHEN pmod(i + copy, 8) = 0 THEN concat(t, '~', copy) " +
        "ELSE t END), ' ')"
    val permutedText =
      "array_join(transform(array_sort(transform(split(text, ' '), " +
        "t -> struct(xxhash64(t, copy) as h, t as t))), s -> s.t), ' ')"
    val docs = remapBy(DocStride)("doc_id")(spark.read.parquet(s"$src/documents.parquet"))
      .withColumn("text", when(col("copy") === 0, col("text"))
        .otherwise(expr(if (mutate) mutatedText else permutedText)))
      // zipf: every 64th base doc's text repeats 8x — a deterministic
      // long-doc straggler tail (token SET unchanged; only the 7
      // boundary shingles per junction are new, so set-similarity pair
      // structure survives while per-doc CPU and fingerprint volume
      // get a heavy tail)
      .withColumn("text",
        if (zipf) when(pmod(col("doc_id"), lit(DocStride)) % 64 === 0,
          array_join(array_repeat(col("text"), 8), " ")).otherwise(col("text"))
        else col("text"))
      .withColumn("n_chars", length(col("text")))
    write("documents", docs)

    // embeddings: remap vec_id; rotate the vector by copy positions
    val dim = spark.read.parquet(s"$src/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0)
    val emb = remapBy(DocStride)("vec_id")(spark.read.parquet(s"$src/embeddings.parquet"))
      .withColumn("embedding", expr(
        s"concat(slice(embedding, cast(copy % $dim as int) + 1, " +
          s"$dim - cast(copy % $dim as int)), " +
          s"slice(embedding, 1, cast(copy % $dim as int)))"))
    write("embeddings", emb)

    println(s"[scaleup] done: $src x$factor -> $dest")
  }
}
