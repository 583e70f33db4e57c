package graft

import org.apache.spark.sql.functions._

/** Similarity-pack invariants not already pinned by the DuckDB oracle. */
class SimilaritySpec extends SparkSpec {

  test("q311: the nprobe curve is monotone and its ppm math recomputes") {
    val rows = ops.Similarity.q311NprobeCurve.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    val nq = rows.head._2
    assert(nq == 5)
    // probing more cells can only ADD candidates (cells are disjoint,
    // probe lists are rank-prefixes) — so cost and hits are monotone
    rows.sliding(2).foreach { w =>
      assert(w(0)._3 <= w(1)._3, s"candidate cost must grow: $w")
      assert(w(0)._4 <= w(1)._4, s"hits must grow: $w")
    }
    rows.foreach { case (np, q, nc, nh, rec) =>
      assert(nh <= 10 * nq, s"nprobe=$np hits exceed truth size")
      assert(nc >= nh, s"nprobe=$np candidates below hits")
      assert(rec == nh * 1000000L / (10 * nq), s"nprobe=$np ppm math")
    }
    // the curve must actually move — a flat curve means the probe knob
    // is disconnected from the candidate generator
    assert(rows.last._4 > rows.head._4, "recall flat across nprobe")
  }

  test("q109: every planted near-copy is dropped, at cosine >= 0.999") {
    val out = ops.Similarity.q109SemDedup.fn(spark, sf).collect()
    val dropped = out.map(_.getLong(0)).toSet
    val planted = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0) + 1000000L).toSet
    assert(planted.nonEmpty)
    assert(planted.subsetOf(dropped),
      s"planted near-copies not dropped: ${planted -- dropped}")
    assert(out.forall(_.getLong(3) >= 999000L),
      "a dropped vector reported max cosine below the threshold")
  }

  test("q116: a positive-neighborhood best match always has margin >= 1e6") {
    // cos1 is the max of the top-8, so cos1*8 >= sum(top-8); with exact
    // integer ppm operands the floored ratio is provably >= 1e6
    val out = ops.Similarity.q116BitextMine.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.filter(_.getLong(4) > 0).foreach { r =>
      assert(r.getLong(5) >= 1000000L,
        s"anchor ${r.getLong(0)}: margin ${r.getLong(5)} < 1e6")
    }
  }

  test("q125: fused RRF scores recompute exactly from the emitted ranks") {
    val out = ops.Similarity.q125HybridRrf.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val rt = Option(r.getAs[Any]("r_text")).map(_.asInstanceOf[Long])
      val rv = Option(r.getAs[Any]("r_vec")).map(_.asInstanceOf[Long])
      assert(rt.nonEmpty || rv.nonEmpty, "a fused row must come from some leg")
      val want = rt.map(x => 1000000L / (60L + x)).getOrElse(0L) +
        rv.map(x => 1000000L / (60L + x)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_ppm") == want,
        s"doc ${r.getAs[Long]("doc_id")}: rrf ${r.getAs[Long]("rrf_ppm")} != $want")
    }
    // the list is sorted by fused score and bounded
    val scores = out.map(_.getAs[Long]("rrf_ppm")).toSeq
    assert(scores == scores.sorted.reverse && out.length <= 20)
  }

  test("q125: the distributed rank spelling is row-identical to the global one") {
    // round 13: the registered query picks a spelling by corpus size
    // (global windows below Similarity.RankSmallBytes, 64 MiB of
    // compressed documents, two-level/top-K above). This pins bit-equality of the two plans on the fixture,
    // so the gate can never change results — the two-level offset
    // algebra (rank_before(cell) + within-cell row_number) and the
    // top-100 TakeOrdered must reproduce the global row_number exactly.
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), Option(r.getAs[Any]("r_text")),
        Option(r.getAs[Any]("r_vec")), r.getAs[Long]("rrf_ppm"))
    val global = ops.Similarity.q125RankGlobal(spark, sf).collect().map(key).toSeq
    val dist = ops.Similarity.q125RankDistributed(spark, sf).collect().map(key).toSeq
    assert(global == dist, "rank spellings diverge")
    assert(global.nonEmpty)
  }

  test("q220: the local power iteration is row-identical to the distributed unroll") {
    // round 13: the registered query collects the dimension-bounded
    // covariance and iterates on the driver; this pins bit-equality
    // (including the truncating integer division on negative loadings)
    // against the pre-round-13 distributed unroll.
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("dim"), r.getAs[Long]("loading_ppm"), r.getAs[Long]("iter3_scale"))
    val local = ops.Similarity.q220PcaPower.fn(spark, sf).collect().map(key).toSeq
    val dist = ops.Similarity.q220PowerDistributed(spark, sf).collect().map(key).toSeq
    assert(local == dist, "power-iteration spellings diverge")
    assert(local.nonEmpty && local.exists(_._2 < 0), "expect some negative loadings")
  }

  test("q237: the local greedy replay is row-identical to the distributed rounds") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("round"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("relevance_ppm"), Option(r.getAs[Any]("maxsim_ppm")),
        r.getAs[Long]("mmr_ppm"))
    val local = ops.Similarity.q237MmrRerank.fn(spark, sf).collect().map(key).toSeq
    val dist = ops.Similarity.q237GreedyDistributed(spark, sf).collect().map(key).toSeq
    assert(local == dist, "MMR spellings diverge")
    assert(local.size == 4)
  }

  test("q134: append batch is conserved across cells and the resplit flag recomputes from the counts") {
    val out = ops.Similarity.q134IvfAppend.fn(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    val nNewExpected = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 4 === 0).count()
    // every vector (base and appended) lands in exactly one cell
    assert(out.map(_.getAs[Long]("n_base")).sum == nVecs)
    assert(out.map(_.getAs[Long]("n_new")).sum == nNewExpected)
    out.foreach { r =>
      val nb = r.getAs[Long]("n_base"); val nn = r.getAs[Long]("n_new")
      val ppm = if (nb + nn == 0) 0L
        else math.floor(nn * 1000000.0 / (nb + nn)).toLong
      assert(r.getAs[Long]("new_ppm") == ppm)
      assert(r.getAs[Int]("resplit") == (if (ppm >= 210000) 1 else 0))
      // cosine-derived drift stays in [0, 2e6]; empty cells report 0
      val drift = r.getAs[Long]("drift_ppm")
      assert(drift >= 0L && drift <= 2000000L)
    }
    // the 21% threshold lands inside the batch's spread: both outcomes occur
    assert(out.exists(_.getAs[Int]("resplit") == 1))
    assert(out.exists(_.getAs[Int]("resplit") == 0))
  }

  test("q237: MMR greedy equals the local replay; diversity actually bites") {
    val rows = ops.Similarity.q237MmrRerank.fn(spark, sf).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("relevance_ppm"), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getAs[Long]("mmr_ppm")))
    assert(rows.map(_._1).toSeq == (1L to 4L))
    assert(rows.map(_._2).distinct.length == 4, "selected ids are distinct")
    // local replay with the same left-fold double dot + floor-ppm cosine
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dotl(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Long, b: Long): Long = {
      val (va, vb) = (vecs(a), vecs(b))
      val (na, nb) = (math.sqrt(dotl(va, va)), math.sqrt(dotl(vb, vb)))
      if (na == 0.0 || nb == 0.0) 0L
      else math.floor(dotl(va, vb) / (na * nb) * 1000000L).toLong
    }
    val cand = vecs.keys.filter(_ != 0L).map(id => id -> cos(0L, id)).toSeq
      .sortBy { case (id, rel) => (-rel, id) }.take(8)
    var selected = List(cand.head._1)
    assert(rows(0)._2 == cand.head._1 && rows(0)._4.isEmpty)
    (1 to 3).foreach { i =>
      val pickFrom = cand.filterNot(c => selected.contains(c._1))
        .map { case (id, rel) =>
          (id, rel, selected.map(sid => cos(id, sid)).max) }
      val best = pickFrom.maxBy { case (id, rel, ms) => (rel - ms, -id) }
      assert(rows(i)._2 == best._1 && rows(i)._3 == best._2 &&
        rows(i)._4.contains(best._3) && rows(i)._5 == best._2 - best._3, s"round ${i + 1}")
      selected ::= best._1
    }
    // the penalty term was real: every later round carries a maxsim
    assert(rows.drop(1).forall(_._4.isDefined))
  }

  test("q234: greedy k-center equals the exact integer Gonzalez replay") {
    val rows = ops.Similarity.q234KCenterCoreset.fn(spark, sf).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("center_id"),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(rows.length == 5 && rows.map(_._1).toSeq == (0L to 4L))
    // local replay on milli-quantized vectors
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1000).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    var centers = List(vecs.head._1)
    var dmin = vecs.map { case (id, v) => id -> d2(v, vecs.head._2) }.toMap
    val byId = vecs.toMap
    (1 to 4).foreach { i =>
      val (cid, radius) = dmin.toSeq.maxBy { case (id, dm) => (dm, -id) }
      assert(rows(i)._2 == cid && rows(i)._3.contains(radius), s"round $i")
      centers ::= cid
      dmin = dmin.map { case (id, dm) => id -> math.min(dm, d2(byId(id), byId(cid))) }
    }
    assert(rows(0)._2 == vecs.head._1 && rows(0)._3.isEmpty)
    // covering radii never increase as centers are added
    val radii = rows.drop(1).map(_._3.get)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })
  }

  test("q250: MRR ranks equal the local brute replay; rr_ppm = 1e6 div rank") {
    import org.apache.spark.sql.functions._
    val rows = ops.Similarity.q250MrrEval.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Double](2)))
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cosPpm(a: Seq[Double], b: Seq[Double]): Long = {
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      if (na == 0.0 || nb == 0.0) 0L
      else math.floor(dot(a, b) / (na * nb) * 1000000L).toLong
    }
    assert(rows.length == 20)
    for ((qid, qlabel, rank, rr) <- rows) {
      val q = vecs.find(_._1 == qid).get
      assert(qlabel == q._2)
      val ranked = vecs.filter(_._1 != qid)
        .map(v => (cosPpm(q._3, v._3), v._1, v._2))
        .sortBy { case (c, id, _) => (-c, id) }
      val firstRel = ranked.take(10).zipWithIndex
        .collectFirst { case ((_, _, l), i) if l == qlabel => i + 1L }
      assert(rank == firstRel, s"q$qid")
      assert(rr == firstRel.map(1000000L / _).getOrElse(0L), s"q$qid")
    }
  }

  // shared brute replay for the q257/q258 eval specs
  private def bruteRanked(): (Array[(Long, Long, Seq[Double])],
      Long => Array[(Long, Long)]) = {
    import org.apache.spark.sql.functions._
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getSeq[Double](2)))
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cosPpm(a: Seq[Double], b: Seq[Double]): Long = {
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      if (na == 0.0 || nb == 0.0) 0L
      else math.floor(dot(a, b) / (na * nb) * 1000000L).toLong
    }
    val rank = (qid: Long) => {
      val q = vecs.find(_._1 == qid).get
      vecs.filter(_._1 != qid)
        .map(v => (cosPpm(q._3, v._3), v._1, v._2))
        .sortBy { case (c, id, _) => (-c, id) }
        .map { case (_, id, l) => (id, l) }
    }
    (vecs, rank)
  }

  test("q257: NDCG@10 equals the pinned-discount brute replay") {
    val disc = Array(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L)
    val pre = disc.scanLeft(0L)(_ + _).tail
    val (vecs, rank) = bruteRanked()
    val rows = ops.Similarity.q257NdcgEval.fn(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (qid, qlabel) = (r.getLong(0), r.getLong(1))
      assert(vecs.find(_._1 == qid).get._2 == qlabel)
      val top = rank(qid).take(10)
      val dcg = top.zipWithIndex
        .collect { case ((_, l), i) if l == qlabel => disc(i) }.sum
      val nRelCorpus = vecs.count(v => v._2 == qlabel && v._1 != qid).toLong
      assert(r.getLong(2) == nRelCorpus, s"q$qid")
      assert(r.getLong(3) == top.count(_._2 == qlabel).toLong, s"q$qid")
      assert(r.getLong(4) == dcg, s"q$qid")
      if (nRelCorpus == 0) assert(r.isNullAt(5) && r.isNullAt(6), s"q$qid")
      else {
        val idcg = pre(math.min(nRelCorpus, 10L).toInt - 1)
        assert(r.getLong(5) == idcg, s"q$qid")
        assert(r.getLong(6) == dcg * 1000000L / idcg, s"q$qid")
        assert(r.getLong(6) <= 1000000L, s"q$qid")
      }
    }
  }

  test("q258: AP@10 equals the running-precision brute replay") {
    val (vecs, rank) = bruteRanked()
    val rows = ops.Similarity.q258MapEval.fn(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (qid, qlabel) = (r.getLong(0), r.getLong(1))
      val top = rank(qid).take(10)
      var cum = 0L
      var sumPrec = 0L
      top.zipWithIndex.foreach { case ((_, l), i) =>
        if (l == qlabel) { cum += 1; sumPrec += cum * 1000000L / (i + 1) }
      }
      val nRelCorpus = vecs.count(v => v._2 == qlabel && v._1 != qid).toLong
      assert(r.getLong(2) == nRelCorpus, s"q$qid")
      assert(r.getLong(3) == cum, s"q$qid")
      if (nRelCorpus == 0) assert(r.isNullAt(4), s"q$qid")
      else {
        assert(r.getLong(4) == sumPrec / math.min(nRelCorpus, 10L), s"q$qid")
        assert(r.getLong(4) <= 1000000L, s"q$qid")
      }
    }
  }

  test("q276: RBO replays from dual local rankings; identical lists hit the 651320 ceiling") {
    import org.apache.spark.sql.functions._
    val p9 = Array(1L, 9L, 81L, 729L, 6561L, 59049L, 531441L,
      4782969L, 43046721L, 387420489L)
    val p10 = Array(10L, 100L, 1000L, 10000L, 100000L, 1000000L,
      10000000L, 100000000L, 1000000000L, 10000000000L)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cosPpm(a: Seq[Double], b: Seq[Double]): Long = {
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      if (na == 0.0 || nb == 0.0) 0L
      else math.floor(dot(a, b) / (na * nb) * 1000000L).toLong
    }
    def ranking(qid: Long, dims: Int): Array[Long] = {
      val q = vecs.find(_._1 == qid).get._2.take(dims)
      vecs.filter(_._1 != qid)
        .map(v => (cosPpm(q, v._2.take(dims)), v._1))
        .sortBy { case (c, id) => (-c, id) }.map(_._2)
    }
    def rboOf(full: Array[Long], pre: Array[Long]): (Long, Long, Long) = {
      val rf = full.take(10).zipWithIndex.toMap
      val rp = pre.take(10).zipWithIndex.toMap
      val ms = rf.keySet.intersect(rp.keySet).toSeq
        .map(v => math.max(rf(v), rp(v)) + 1L)
      val ovs = (1 to 10).map(i => ms.count(_ <= i).toLong)
      val rbo = (1 to 10).map(i =>
        ovs(i - 1) * 1000000L * p9(i - 1) / (p10(i - 1) * i)).sum
      (ovs(0), ovs(9), rbo)
    }
    val rows = ops.Similarity.q276RankBiasedOverlap.fn(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val qid = r.getLong(0)
      val (top1, ov10, rbo) = rboOf(ranking(qid, 64), ranking(qid, 16))
      assert(r.getLong(1) == top1, s"q$qid top1")
      assert(r.getLong(2) == ov10, s"q$qid ov10")
      assert(r.getLong(3) == rbo, s"q$qid rbo")
      assert(rbo >= 0 && rbo <= 651320L, s"q$qid range")
    }
    // the ceiling is exactly what identical rankings score
    val same = ranking(0, 64)
    assert(rboOf(same, same)._3 == 651320L)
  }

  test("q285: ERR cascade replays exactly via integer power tables") {
    val (vecs, rank) = bruteRanked()
    val rows = ops.Similarity.q285ErrEval.fn(spark, sf).collect()
    assert(rows.length == 20)
    val inv = Array(2520L, 1260L, 840L, 630L, 504L, 420L, 360L, 315L, 280L, 252L)
    rows.foreach { r =>
      val (qid, qlabel) = (r.getLong(0), r.getLong(1))
      assert(vecs.find(_._1 == qid).get._2 == qlabel)
      val top = rank(qid).take(10)
      val grades = top.map { case (_, l) =>
        if (l == qlabel) 2 else if (l % 5 == qlabel % 5) 1 else 0 }
      assert(r.getLong(2) == grades.count(_ == 2).toLong)
      assert(r.getLong(3) == grades.count(_ == 1).toLong)
      var (c0, c1) = (0, 0)
      var errScaled = 0L
      grades.zipWithIndex.foreach { case (g, i) =>
        val num = Array(0L, 1L, 3L)(g)
        val prod = math.pow(4, c0).toLong * math.pow(3, c1).toLong
        errScaled += inv(i) * num * prod * math.pow(4, 9 - i).toLong
        if (g == 0) c0 += 1 else if (g == 1) c1 += 1
      }
      assert(r.getLong(4) == errScaled, s"query $qid")
      assert(r.getLong(5) == errScaled * 1000000L / 2642411520L, s"query $qid ppm")
      // a perfect rank-1 exact hit alone gives ERR >= 3/4: sanity-bound everything
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000000L, s"query $qid range")
    }
  }
}
