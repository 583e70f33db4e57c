package graft

import org.apache.spark.sql.functions._

/** Specs for the distributed connected-components resolver — in
  * particular the pointer-jumping behavior the oracle data (small
  * near-dup clusters) can't exercise: a long-chain graph whose diameter
  * far exceeds what plain min-propagation could close within the round
  * cap. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents closes a 300-node chain (pointer jumping, O(log d) rounds)") {
    // chain 0-1-2-...-299: diameter 299 >> 50 rounds of plain
    // propagation; pointer jumping must converge well inside the cap
    val n = 300
    val nodes = (0L until n.toLong).toDF("id")
    val oneWay = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val edges = oneWay.unionByName(oneWay.select(col("b").as("a"), col("a").as("b")))
    val labels = ops.Dedup.connectedComponents(nodes, edges).collect()
    assert(labels.length == n)
    assert(labels.forall(_.getLong(1) == 0L), "every chain node must label to min id 0")
  }

  test("q84: every span of an exactly-copied doc is flagged as duplicated") {
    import graft.functions.TextFunctions._
    val out = ops.Dedup.q84SpanDedup.fn(spark, sf).collect()
    assert(out.nonEmpty)
    // counts are internally consistent: occurrences >= distinct docs >= 2
    out.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2) && r.getLong(2) >= 2,
        s"inconsistent counts in $r")
    }
    val dupFps = out.map(_.getLong(0)).toSet
    // a doc with a planted exact copy (%7): all its span fingerprints recur
    val nSpans = floor((size(col("toks")) + 15) / 16).cast("int")
    val fps = ops.Dedup.corpus(spark, sf)
      .filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000000L && size(col("toks")) > 0)
      .limit(3)
      .select(explode(transform(sequence(lit(0), nSpans - 1),
        i => array_join(slice(col("toks"), i * 16 + 1, lit(16)), " "))).as("span"))
      .select(hex32(col("span"))).collect().map(_.getLong(0))
    assert(fps.nonEmpty)
    fps.foreach(fp => assert(dupFps.contains(fp), s"span $fp of a copied doc not flagged"))
  }

  test("q85: exact-copy docs gate out at 100% span duplication; uncopied docs keep") {
    val out = ops.Dedup.q85SpanDupGate.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getInt(4))).toMap
    // planted exact copies (doc_id+2000000) and their originals (%7)
    // duplicate EVERY span: dup_ppm = 1000000, keep = 0
    val copies = out.keys.filter(_ >= 2000000L)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      assert(out(id) == (1000000L, 0), s"copy $id not fully flagged: ${out(id)}")
      assert(out(id - 2000000L) == (1000000L, 0), s"original of $id not flagged")
    }
    // docs untouched by both syntheses (not %5, not %7, id < 1000000)
    // share no 16-token span with any other doc in this corpus
    out.keys.filter(id => id < 1000000L && id % 5 != 0 && id % 7 != 0)
      .take(5).foreach { id =>
        assert(out(id)._1 == 0L && out(id)._2 == 1, s"clean doc $id flagged: ${out(id)}")
      }
  }

  test("q102: exact copies reassemble to nothing; a doc's kept text is a subsequence rebuild") {
    val out = ops.Dedup.q102ParagraphDedup.fn(spark, sf)
    // every synthesized exact copy (doc_id >= 2000000) loses ALL chunks
    val copies = out.filter(col("doc_id") >= 2000000L)
    assert(copies.count() > 0)
    assert(copies.filter(col("n_kept") =!= 0L).isEmpty,
      "an exact copy kept a chunk its base already owns")
    // and its clean_fp is md5 of the empty rebuild
    val emptyFp = java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(copies.filter(col("clean_fp") =!= emptyFp).isEmpty)
    // a fully-kept doc's clean_fp equals the md5 of its full chunk join
    val full = out.filter(col("doc_id") < 1000000L && col("n_kept") === col("n_chunks"))
    assert(full.count() > 0)
    val sample = full.select("doc_id", "clean_fp").limit(5).collect()
    val expected = ops.Dedup.corpus(spark, sf)
      .withColumn("full_fp", md5(concat_ws(" ", col("toks"))))
      .select("doc_id", "full_fp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    sample.foreach { r =>
      assert(r.getString(1) == expected(r.getLong(0)),
        s"doc ${r.getLong(0)}: rebuild differs from original text")
    }
  }

  test("q132: exact-copy batch docs resolve as dup of an existing index doc") {
    val out = ops.Dedup.q132IncrementalDedup.fn(spark, sf).collect()
    val batchN = ops.Dedup.corpus(spark, sf)
      .filter(col("doc_id") >= 1000000L).count()
    assert(out.length == batchN, "one decision row per incoming batch doc")
    assert(out.forall(_.getLong(0) >= 1000000L), "index docs must not appear")
    // decision string is exactly the dup_of nullability
    out.foreach { r =>
      assert((r.getString(2) == "new") == r.isNullAt(1),
        s"decision/dup_of mismatch in $r")
      if (!r.isNullAt(1))
        assert(r.getLong(1) < 1000000L, "dup_of must point into the index")
    }
    // an exact copy (+2e6) of a non-empty doc shares its base's shingle
    // set verbatim (J = 1), so it MUST come back dup — and its earliest
    // match can be no later than the base itself
    val nonEmptyBases = ops.Dedup.corpus(spark, sf)
      .filter(col("doc_id") < 1000000L && col("doc_id") % 7 === 0 &&
        size(col("toks")) > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nonEmptyBases.nonEmpty)
    val exact = out.filter(r => nonEmptyBases.contains(r.getLong(0) - 2000000L))
    assert(exact.nonEmpty)
    exact.foreach { r =>
      assert(r.getString(2) == "dup", s"exact copy ${r.getLong(0)} not flagged dup")
      assert(r.getLong(1) <= r.getLong(0) - 2000000L,
        s"dup_of later than the base in $r")
    }
  }

  test("q168: planted exact copies are mutually contained, suffix dups one-way") {
    val rows = ops.Dedup.q168ContainmentJoin.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // contract: every emitted row clears the 0.8 threshold, no self-pairs
    rows.foreach { r =>
      assert(r.getLong(4) >= 800000L, s"below-threshold row $r")
      assert(r.getLong(0) != r.getLong(1), s"self pair $r")
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    // exact copies (+2000000, doc_id%7==0): identical shingle sets ->
    // 100% containment BOTH ways
    val m7 = ops.Dedup.corpus(spark, sf)
      .filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000000L)
      .select("doc_id").limit(5).collect().map(_.getLong(0))
    assert(m7.nonEmpty)
    m7.foreach { d =>
      assert(pairs.get((d, d + 2000000L)).contains(1000000L), s"copy of $d: fwd missing")
      assert(pairs.get((d + 2000000L, d)).contains(1000000L), s"copy of $d: bwd missing")
    }
    // suffix near-dups (+1000000, doc_id%5==0, first token dropped):
    // every shingle of the suffix is a shingle of the original, so the
    // suffix is 100% contained in the original
    val m5 = ops.Dedup.corpus(spark, sf)
      .filter(col("doc_id") % 5 === 0 && col("doc_id") < 1000000L &&
        size(col("toks")) >= 10)
      .select("doc_id").limit(5).collect().map(_.getLong(0))
    m5.foreach { d =>
      assert(pairs.get((d + 1000000L, d)).contains(1000000L),
        s"suffix dup of $d not contained in its original")
    }
  }

  test("connectedComponents separates components and keeps singletons") {
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    val oneWay = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val edges = oneWay.unionByName(oneWay.select(col("b").as("a"), col("a").as("b")))
    val got = ops.Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("q224: winnowing finds every planted exact copy at 100% overlap") {
    import org.apache.spark.sql.functions._
    val rows = ops.Dedup.q224Winnowing.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(rows.nonEmpty)
    // every %7 base doc long enough to fingerprint gets an exact copy at
    // +2,000,000 — identical token stream ⇒ identical fingerprint set ⇒
    // the pair MUST be reported at exactly 1e6 ppm (the MOSS guarantee
    // on shared runs, at its degenerate full-document case)
    val longDocs = ops.Dedup.corpus(spark, sf)
      .filter(col("doc_id") < 1000000L && col("doc_id") % 7 === 0)
      .filter(size(col("toks")) >= 16)
      .select("doc_id").collect().map(_.getLong(0))
    assert(longDocs.nonEmpty)
    longDocs.foreach { d =>
      val got = rows.get((d, d + 2000000L))
      assert(got.contains(1000000L), s"exact pair ($d, ${d + 2000000L}): $got")
    }
    // near copies (first token dropped) still share all interior runs
    val nearHits = rows.keys.count { case (a, b) => b - a == 1000000L }
    assert(nearHits > 0, "no near-duplicate pair surfaced")
  }

  test("q224: segment-split fingerprints == whole-doc fingerprints (any seg)") {
    import org.apache.spark.sql.functions._
    // corpus docs plus a planted heavy-tail doc (783 tokens, internal
    // repeats so fingerprints recur ACROSS chunks — the distinct-merge
    // path) — lengths straddle every tested seg so both the short path
    // and multi-chunk splits (incl. a short final chunk) are exercised
    val longToks = (0 until 783).map(i => s"t${(i * 7919) % 97}")
    val planted = Seq((9000001L, longToks)).toDF("doc_id", "toks")
    val docs = ops.Dedup.corpus(spark, sf).unionByName(planted)
    def fpSet(seg: Int): Set[(Long, Long)] =
      ops.Dedup.winnowFingerprints(docs, seg).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = fpSet(1 << 30) // no doc splits: the reference set
    assert(whole.exists(_._1 == 9000001L), "planted doc must fingerprint")
    for (seg <- Seq(16, 100, 256)) {
      val split = fpSet(seg)
      assert(split == whole, {
        val extra = (split -- whole).take(3)
        val miss = (whole -- split).take(3)
        s"seg=$seg: extra=$extra missing=$miss"
      })
    }
    // the auto-size gate's single-scan path (split=false) is also the
    // identical set — so the stat-driven plan choice can never change
    // the fingerprints, only the shape that computes them
    val gated = ops.Dedup.winnowFingerprints(docs, 256, split = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated == whole, "split=false path must equal the split paths")
    // the gating stat itself is exact: corpus docs are <= 100 tokens, so
    // on the raw fixture the stat proves the long leg empty
    assert(ops.Dedup.maxTokLen(spark, sf) <= 256 + 7,
      "fixture corpus must take the exchange-free path under the gate")
  }

  test("q277: the sweep replays off q29's verified Jaccard table") {
    val jac = ops.Dedup.q29JaccardVerify.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = ops.Dedup.corpus(spark, sf).count()
    val rows = ops.Dedup.q277ThresholdCurve.fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      Seq(500000L, 600000L, 700000L, 800000L, 900000L))
    rows.foreach { r =>
      val t = r.getLong(0)
      // floor(i*1e6/u) >= t  <=>  i*1e6 >= t*u for integer t: the sweep's
      // cross-multiplied gate equals a filter on q29's floored ppm
      val hits = jac.filter(_._3 >= t)
      assert(r.getLong(1) == hits.length.toLong, s"t=$t pairs")
      assert(r.getLong(2) ==
        (hits.map(_._1) ++ hits.map(_._2)).distinct.length.toLong, s"t=$t affected")
      assert(r.getLong(3) == hits.map(_._2).distinct.length.toLong, s"t=$t dropped")
      assert(r.getLong(4) == n - r.getLong(3), s"t=$t survivors")
    }
    // tightening the threshold never deletes more
    val drops = rows.map(_.getLong(3))
    assert(drops.zip(drops.tail).forall { case (a, b) => b <= a })
    // t = 0.7 agrees with q29's shipped is_dup gate
    assert(rows.find(_.getLong(0) == 700000L).get.getLong(1) ==
      jac.count(_._3 >= 700000L).toLong)
  }

  test("mergeDay: planted decisions, incremental == from-scratch store, idempotent re-merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fpstore").toString
    def docs(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t.split(" ").toSeq) }.toDF("doc_id", "toks")
    val t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar papa"
    val t2 = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec plum orange nectar melon lemon kiwi"
    val t3 = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    val day0 = docs(1L -> t1)
    val v1 = sources.Versioned.commitOverwrite(spark, dir, ops.Dedup.fingerprintStore(day0))
    val batch = docs(
      101L -> t1, // exact copy of stored doc 1    -> dup_index(1)
      102L -> t2, // novel                         -> new (cluster canonical)
      103L -> t2, // exact copy of batch doc 102   -> dup_batch(102)
      104L -> t3) // novel                         -> new
    val (v2, dec) = ops.Dedup.mergeDay(spark, dir, batch)
    val m = dec.collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getString(2)))
      .toMap
    assert(m(101L) == ((Some(1L), "dup_index")))
    assert(m(102L) == ((None, "new")))
    assert(m(103L) == ((Some(102L), "dup_batch")))
    assert(m(104L) == ((None, "new")))
    assert(v2 == v1 + 1)
    // THE maintenance invariant: the incrementally-appended store equals
    // a from-scratch fingerprint build over base + admitted docs
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getSeq[Long](2).toList)).toSet
    val scratch = ops.Dedup.fingerprintStore(day0.unionByName(docs(102L -> t2, 104L -> t3)))
    assert(snap(sources.Versioned.read(spark, dir).select("doc_id", "sig", "sh")) ==
      snap(scratch.select("doc_id", "sig", "sh")))
    // at-least-once safety: re-merging the same day admits nothing and
    // commits no version — every doc now self-matches the store at J=1
    val (v3, dec2) = ops.Dedup.mergeDay(spark, dir, batch)
    assert(v3 == v2, "re-merge must not commit a new version")
    val m2 = dec2.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m2.values.forall(_ != "new"), s"re-merge admitted something: $m2")
    assert(m2(102L) == "dup_index" && m2(104L) == "dup_index",
      "previously admitted docs must self-match the store on re-merge")
  }

  test("q313: store_match holds and the audit counts are internally consistent at sf0.001") {
    val out = ops.Dedup.q313StoreAudit.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("store_match") == 1L,
      "incremental band store must checksum-equal the from-scratch rebuild")
    assert(out("index_docs_after") == out("index_docs_before") + out("batch_admitted"))
    assert(out("index_band_rows_after") ==
      out("index_band_rows_before") + 4L * out("batch_admitted"))
    assert(out("batch_docs") ==
      out("batch_admitted") + out("batch_dup_batch") + out("batch_dup_index"))
    // the half-doc variants make the intra-batch leg non-trivial: all
    // three decision classes must be populated at every fixture SF
    assert(out("batch_dup_index") > 0L && out("batch_dup_batch") > 0L &&
      out("batch_admitted") > 0L)
  }

  test("q313: fused one-pass report is row-identical to the union-legs spelling") {
    val fused = ops.Dedup.q313Audit(spark, sf)
    val legs = ops.Dedup.q313Audit(spark, sf, fusedReport = false)
    assert(fused.dtypes.toSeq == legs.dtypes.toSeq)
    assert(fused.exceptAll(legs).isEmpty && legs.exceptAll(fused).isEmpty)
  }
}
