package graft

import graft.ops.Graph

/** Host-rank power-iteration tests: the DataFrame iteration must equal
  * a plain-Scala replay of the integer formula on a hand-built graph,
  * and the registered query must be invariant to input partitioning. */
class GraphSpec extends SparkSpec {

  test("labelPropagate resolves two bridged 4-cliques into two communities") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // cliques {0,1,2,3} and {4,5,6,7}, one bridge 3-4: after 3 rounds
    // every clique node must carry its clique's min id; the (count DESC,
    // label ASC) rule keeps the bridge from merging them (each side of
    // the bridge is outvoted by its own clique)
    val cliqueEdges = for {
      base <- Seq(0L, 4L); i <- 0 until 4; j <- (i + 1) until 4
    } yield (base + i, base + j)
    val ue = (cliqueEdges :+ (3L, 4L)).toDF("a", "b")
    val und = ue.select(col("a").as("u"), col("b").as("v"))
      .unionAll(ue.select(col("b").as("u"), col("a").as("v"))).cache()
    val init = (0L to 7L).toDF("id").select(col("id"), col("id").as("lab"))
    val got = Graph.labelPropagate(init, und, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 3L).foreach(i => assert(got(i) == 0L, s"node $i: ${got(i)} != 0"))
    (4L to 7L).foreach(i => assert(got(i) == 4L, s"node $i: ${got(i)} != 4"))
  }

  test("labelPropagate: isolated node keeps its label; 2-cycle oscillates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val und = Seq((0L, 1L), (1L, 0L)).toDF("u", "v")
    val init = Seq(0L, 1L, 9L).toDF("id").select(col("id"), col("id").as("lab"))
    // synchronous LPA on a bipartite 2-cycle is the textbook oscillator:
    // each round the two nodes SWAP labels — pin that known property
    // (odd rounds: swapped; even rounds: back to start) rather than
    // pretending it converges
    val odd = Graph.labelPropagate(init, und, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(odd(0L) == 1L && odd(1L) == 0L, s"round 1 must swap, got $odd")
    val even = Graph.labelPropagate(init, und, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(even(0L) == 0L && even(1L) == 1L, s"round 2 must swap back, got $even")
    assert(odd(9L) == 9L && even(9L) == 9L, "isolated node must keep its label")
  }

  test("powerIterate equals the integer formula replayed by hand") {
    // A(0) <- B(1) w=2, A <- C(2) w=1; B <- A w=1; C has no in-links
    val edges = Seq((1, 0, 2L), (2, 0, 1L), (0, 1, 1L))
    val deg = IndexedSeq(1L, 2L, 1L)

    def ref(iters: Int): Map[Long, Long] = {
      val es = Seq((1L, 0L, 2L), (2L, 0L, 1L), (0L, 1L, 1L))
      val dg = Map(0L -> 1L, 1L -> 2L, 2L -> 1L)
      var r = Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 1000000L)
      (1 to iters).foreach { _ =>
        val contrib = es.groupBy(_._2).map { case (dst, in) =>
          dst -> in.map { case (s, _, w) => w * (r(s) / dg(s)) }.sum
        }
        r = r.keys.map(h => h -> (150000L + (850L * contrib.getOrElse(h, 0L)) / 1000L)).toMap
      }
      r
    }

    Seq(1, 3).foreach { iters =>
      val got = Graph.powerIterate(IndexedSeq.fill(3)(1000000L), edges, deg, iters)(_ => 150000L)
        .zipWithIndex.map { case (r, h) => h.toLong -> r }.toMap
      assert(got == ref(iters), s"iteration mismatch at iters=$iters")
    }
    // the hand graph's qualitative truth: A collects both hosts' mass
    val r3 = ref(3)
    assert(r3(0L) > r3(1L) && r3(1L) > r3(2L),
      "in-link mass should order A > B > C")
  }

  test("q128 host ranks are partitioning-independent") {
    val base = Graph.q128HostRank.fn(spark, sf).collect()
    assert(base.length > 1)
    val once = base.map(_.toSeq.mkString("|")).toSeq
    withConf("spark.sql.shuffle.partitions" -> "7") {
      val again = Graph.q128HostRank.fn(spark, sf).collect()
        .map(_.toSeq.mkString("|")).toSeq
      assert(again == once, "host ranks drifted under a different partitioning")
    }
  }

  test("q274: personalized ranks replay the 3 damped rounds from raw md5 links") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select(col("source"), md5(col("text")).as("hx"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val sources = docs.map(_._1).distinct.sorted
    val hid = sources.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
    val n = sources.length.toLong
    val links = docs.flatMap { case (src, hx) =>
      (0 until 3).map(j => (hid(src),
        java.lang.Long.parseLong(hx.substring(2 * j, 2 * j + 2), 16) % n))
    }
    val edges = links.groupBy(identity).map { case ((s, t), xs) =>
      (s, t, xs.length.toLong) }.toSeq
    val outdeg = docs.groupBy(_._1).map { case (s, xs) => hid(s) -> 3L * xs.length }
    var r = (0L until n).map(h => h -> (if (h == 0) 1000000L * n else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, w) => w * (r(s) / outdeg(s)) }.sum }
      r = (0L until n).map(h => h ->
        ((if (h == 0) 150000L * n else 0L) + 850L * contrib.getOrElse(h, 0L) / 1000L)).toMap
    }
    val rows = ops.Graph.q274PersonalizedPr.fn(spark, sf).collect()
    assert(rows.length == n)
    rows.foreach { row =>
      val h = hid(row.getString(0))
      assert(row.getLong(2) == r(h), s"host ${row.getString(0)}")
      assert(row.getBoolean(3) == (h == 0L))
    }
    // locality: the seed keeps strictly more mass than any non-seed
    val seed = rows.find(_.getBoolean(3)).get.getLong(2)
    assert(rows.filterNot(_.getBoolean(3)).forall(_.getLong(2) < seed),
      "teleport mass must concentrate at the seed")
  }

  test("kcoreSurvivors: a peel CASCADE strips the tail, keeps the clique") {
    // 4-clique {0,1,2,3}; 4 hangs off (0,1) plus tail node 5; 5 also
    // links 6. Degrees: 5→? 5-(4,6)=2 <3 peels round 1; that drops 4 to
    // deg 2 → peels round 2; 6 peeled round 1 (deg 1). Fixed point =
    // the clique alone, reached only through the cascade — one pass of
    // "degree >= 3" would have kept node 4 (initial degree 3).
    val ue = (for { i <- 0 until 4; j <- (i + 1) until 4 } yield (i, j)) ++
      Seq((0, 4), (1, 4), (4, 5), (5, 6))
    val und = ue ++ ue.map(_.swap)
    val got = Graph.kcoreSurvivors(0 to 6, und, k = 3, rounds = 4)
    assert(got == Map(0 -> 3L, 1 -> 3L, 2 -> 3L, 3 -> 3L),
      s"3-core must be exactly the clique at induced degree 3, got $got")
  }

  test("hitsScores equals the integer max-normalized formula replayed by hand") {
    // hub 0 → authorities {1, 2}; hub 3 → {1}; 1 also → 2
    val es = Seq((0L, 1L), (0L, 2L), (3L, 1L), (1L, 2L))

    def ref(rounds: Int): Map[Long, (Long, Long)] = {
      var h = Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
      var a = Map.empty[Long, Long]
      def half(sc: Map[Long, Long], out: Boolean): Map[Long, Long] = {
        // mirror the join: a node appears iff ≥1 incident edge's other
        // end carries a score (even if the folded sum floors to 0 ppm)
        val raw = es.groupBy(e => if (out) e._2 else e._1).flatMap { case (n, in) =>
          val present = in.flatMap(e => sc.get(if (out) e._1 else e._2))
          if (present.isEmpty) None else Some(n -> present.sum)
        }
        val mx = raw.values.max
        raw.map { case (n, v) => n -> v * 1000000L / mx }
      }
      (1 to rounds).foreach { _ => a = half(h, out = true); h = half(a, out = false) }
      (0L to 3L).map(n => n -> (a.getOrElse(n, 0L), h.getOrElse(n, 0L))).toMap
    }

    val (auth, hub) = Graph.hitsScores(4, es.map { case (u, v) => (u.toInt, v.toInt) }, rounds = 2)
    val got = (0 until 4).map(n => n.toLong -> (auth(n), hub(n))).toMap
    assert(got == ref(2), s"got $got vs ${ref(2)}")
    // qualitative truth: 1 is the top authority (two hubs point at it
    // including the pure hub 0); 0 is the top hub (it hits both
    // authorities); 2 collects from 0 and from the mid-node 1
    assert(got(1L)._1 == 1000000L, "node 1 must be the max authority")
    assert(got(0L)._2 == 1000000L, "node 0 must be the max hub")
    assert(got(3L)._1 == 0L, "node 3 has no in-links: zero authority")
  }

  test("q244: clustering coefficients equal the brute-force triangle replay") {
    import org.apache.spark.sql.functions._
    val rows = Graph.q244ClusteringCoeff.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("node_id") -> (r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("clustering_ppm"))).toMap
    assert(rows.nonEmpty)
    // rebuild the doc graph locally (q173's construction)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("hx")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length.toLong
    val edges = docs.flatMap { case (id, hx) =>
      (0 until 2).map { j =>
        val dst = java.lang.Long.parseLong(hx.slice(2 * j, 2 * j + 2), 16) * 7919 % n
        (math.min(id, dst), math.max(id, dst))
      }
    }.filter(e => e._1 != e._2).distinct
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    adj.foreach { case (v, nb) =>
      val dg = nb.size.toLong
      if (dg >= 2) {
        val pairs = nb.toSeq.combinations(2)
        val t = pairs.count(p => adj(p(0)).contains(p(1))).toLong
        val want = (dg, t, Math.floorDiv(2 * t * 1000000L, dg * (dg - 1)))
        assert(rows(v) == want, s"node $v")
      } else assert(!rows.contains(v), s"deg<2 node $v must be excluded")
    }
    assert(rows.keySet == adj.filter(_._2.size >= 2).keySet)
  }

  test("q227: modularity summary is consistent with the q173 labeling") {
    val mod = Graph.q227Modularity.fn(spark, sf).collect()
    assert(mod.length == 1)
    val r = mod.head
    val (nNodes, nEdges) = (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))
    val q = r.getAs[Long]("modularity_ppm")
    val internal = r.getAs[Long]("internal_edge_ppm")
    assert(nNodes > 0 && nEdges > 0)
    // Q ∈ [-0.5, 1); internal-edge share is a proper fraction
    assert(q >= -500000L && q < 1000000L, s"modularity_ppm $q out of range")
    assert(internal >= 0L && internal <= 1000000L)
    // the labeling q227 scores IS q173's: community count and the
    // largest community must agree exactly
    val lpa = Graph.q173LabelProp.fn(spark, sf).collect()
    assert(r.getAs[Long]("n_communities") == lpa.length.toLong)
    assert(r.getAs[Long]("max_community_n") ==
      lpa.map(_.getAs[Long]("n_docs")).max)
  }

  // ---- round-9 convergence guards (round-8 VERDICT item 6) ----------

  test("kcoreSurvivors asserts the fixpoint: shallow unroll fails loud, converged peel passes") {
    // path 0-1-2 at k=2: round 0 is NOT a fixpoint (endpoints have
    // degree 1), so a zero-round 'unroll' must throw instead of
    // returning the whole path as a fake 2-core
    val nodes = Seq(0, 1, 2)
    val und = Seq((0, 1), (1, 0), (1, 2), (2, 1))
    val e = intercept[IllegalStateException] {
      ops.Graph.kcoreSurvivors(nodes, und, k = 2, rounds = 0)
    }
    assert(e.getMessage.contains("not at fixpoint"))
    // two peels reach the (empty) fixpoint: endpoints go in round 1,
    // the stranded middle in round 2 — the guard passes
    assert(ops.Graph.kcoreSurvivors(nodes, und, k = 2, rounds = 2).isEmpty)
    // a real core survives the guard intact: 4-clique at k=3
    val cUnd = for (a <- 0 to 3; b <- 0 to 3 if a != b) yield (a, b)
    val core = ops.Graph.kcoreSurvivors(0 to 3, cUnd, k = 3, rounds = 1)
    assert(core.size == 4 && core.values.forall(_ == 3L))
  }

  test("host ids follow the oracle's order: UTF-8 bytes, NULL last") {
    import spark.implicits._
    // U+FF61 sorts after U+1F600 as UTF-16 units (0xFF61 > 0xD83D) but
    // before it as UTF-8 bytes (0xEF < 0xF0). DuckDB 1.0 numbers these
    // hosts a, U+FF61, U+1F600, NULL: bytes, NULL last, so the seed
    // hid 0 is "a" and the NULL host is the last hid
    val (a, ff61, emoji) = ("a", "\uFF61", "\uD83D\uDE00")
    assert(ff61.compareTo(emoji) > 0)
    val docs = Seq((emoji, "x"), (null, "y"), (a, "z"), (ff61, "w"), (a, "v"))
      .toDF("source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-hosts").toString
    try {
      docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val g = Graph.hostGraph(spark, dir)
      assert(g.source == IndexedSeq(a, ff61, emoji, null))
      assert(g.nDocs == IndexedSeq(2L, 1L, 1L, 1L))
      // every link leaves a non-NULL host: 3 per document, 12 in all
      assert(g.links.forall(_._1 < 3) && g.links.map(_._3).sum == 12L)
      // the outputs sort hosts the same way, NULL last
      val q198 = Graph.q198MultiSourceBfs.fn(spark, dir).collect().map(_.getString(0)).toSeq
      assert(q198.head == a && q198 == q198.sortBy(identity)(Graph.HostOrder))
      val q274 = Graph.q274PersonalizedPr.fn(spark, dir).collect()
      assert(q274.filter(_.getBoolean(3)).map(_.getString(0)).toSeq == Seq(a))
    } finally {
      graft.sources.Versioned.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("host-graph queries return one partition and hold no snapshot") {
    val hostQueries = Seq(Graph.q128HostRank, Graph.q160TriangleCount, Graph.q198MultiSourceBfs,
      Graph.q209Assortativity, Graph.q211KCore, Graph.q212Hits, Graph.q274PersonalizedPr)
    hostQueries.foreach { q =>
      val (parts, held) = Materialize.scope(q.fn(spark, sf).rdd.getNumPartitions)
      assert(parts == 1 && held == 0, s"${q.name}: $parts partitions, $held snapshots held")
    }
  }

  test("connectedComponents pointer-jumps a 1000-node chain in O(log d) rounds; a too-small cap throws") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a chain is the worst diameter case: plain propagation needs ~1000
    // rounds; pointer jumping must land inside 16 (≈ log2 growth) —
    // direct evidence for the q61 scaladoc's O(log diameter) claim
    val n = 1000
    val nodes = spark.range(n).select(col("id"))
    val fwd = spark.range(n - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val edges = fwd.unionByName(fwd.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val comps = ops.Dedup.connectedComponents(nodes, edges, maxRounds = 16)
    assert(comps.select("comp").distinct().count() == 1L)
    assert(comps.agg(max("comp")).head().getLong(0) == 0L)
    // the cap is a guard, not a hope: 2 rounds cannot close a
    // 1000-diameter chain and must throw, never emit partial labels
    assertThrows[IllegalStateException] {
      ops.Dedup.connectedComponents(nodes, edges, maxRounds = 2)
    }
  }

  test("labelPropagate rounds are a semantic parameter: synchronous LPA 2-cycles forever on bipartite structure") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the square 0-1-2-3-0 (bipartite {0,2}/{1,3}): every node's two
    // neighbors share the OTHER side's labels, so synchronous updates
    // swap the sides' labels each round — the textbook LPA oscillation.
    // This is WHY q173 (unlike q61's monotone min-label CC or q211's
    // monotone peel) cannot carry a convergence guard: there is no
    // fixpoint to assert. The round count is part of the SEMANTICS
    // (both engines replay the identical rounds), like q198's 3-hop
    // radius. Measured on the sf0.001 doc-graph fixture: labels still
    // moving at round 12 (500→106 declining), no fixpoint in sight.
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("id")
    val ue = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L)).toDF("a", "b")
    val und = ue.select(col("a").as("u"), col("b").as("v"))
      .unionAll(ue.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    val init = nodes.select(col("id"), col("id").as("lab"))
    def labAt(r: Int): Map[Long, Long] =
      ops.Graph.labelPropagate(init, und, rounds = r).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val (l1, l2, l3) = (labAt(1), labAt(2), labAt(3))
    assert(l1 != l2, "square should not be stable after one round")
    assert(l1 == l3, "synchronous LPA must 2-cycle on the square")
  }

  test("q284: link-prediction scores equal the brute doc-graph replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length.toLong
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ue = docs.flatMap { case (id, text) =>
      val hx = md5hex(text)
      (0 until 2).map { j =>
        val dst = java.lang.Long.parseLong(hx.substring(8 * j, 8 * j + 8), 16) % n
        (math.min(id, dst), math.max(id, dst))
      }
    }.filter(p => p._1 != p._2).distinct
    val adj = ue.toSet
    val nb = (ue.map(p => (p._1, p._2)) ++ ue.map(p => (p._2, p._1)))
    val deg = nb.groupBy(_._1).map { case (v, xs) => v -> xs.length.toLong }
    val cand = nb.groupBy(_._1).toSeq.flatMap { case (z, xs) =>
      // capped semantics: each wedge center pairs only its Q284AdjCap
      // lowest-id neighbors (a no-op here — mean degree ~4)
      val vs = xs.map(_._2).sorted.take(ops.Graph.Q284AdjCap)
      for { i <- vs.indices; j <- (i + 1) until vs.length }
        yield ((vs(i), vs(j)), z)
    }.filter { case (p, _) => !adj(p) }
      .groupBy(_._1).map { case ((a, b), ws) =>
        val cn = ws.length.toLong
        val ra = ws.map { case (_, z) => 1000000L / deg(z) }.sum
        val jac = cn * 1000000L / (deg(a) + deg(b) - cn)
        (a, b, cn, jac, ra)
      }.toSeq
    val expected = cand.sortBy { case (a, b, cn, _, ra) => (-ra, -cn, a, b) }.take(50)
    val rows = ops.Graph.q284LinkPrediction.fn(spark, sf).collect()
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, (a, b, cn, jac, ra)) =>
      assert((r.getLong(0), r.getLong(1)) == ((a, b)), s"pair $a-$b")
      assert(r.getLong(2) == cn && r.getLong(3) == jac && r.getLong(4) == ra, s"pair $a-$b scores")
    }
    assert(rows.nonEmpty, "doc graph must yield non-adjacent distance-2 pairs")
  }

  test("q284 cap: a planted hub's wedges are bounded by the adjacency cap") {
    import spark.implicits._
    // Node 0 is a hub adjacent to 1..100 (degree n/2 at n=200 — worse
    // than the n/10 bar); 100..199 form a sparse path. Uncapped, the
    // hub alone emits C(100,2)=4950 wedges; capped at 8 it emits
    // C(8,2)=28 — the Σ_z C(min(deg,cap),2) bound the operator
    // guarantees whatever the degree distribution.
    val cap = 8
    val hubEdges = (1 to 100).map(v => (0L, v.toLong))
    val pathEdges = (100 until 199).map(v => (v.toLong, (v + 1).toLong))
    val edges = hubEdges ++ pathEdges
    val ue = edges.toDF("a", "b").localCheckpoint()
    val capped = ops.Graph.linkPredictionFromEdges(ue, cap)
    // the cap must lower to the map-side bounded-heap partial (round-10
    // VERDICT item 5) — a Window row_number would sort the hub's whole
    // adjacency in one task before filtering
    val planStr = capped.queryExecution.executedPlan.toString
    assert(planStr.contains("TopKPerGroupPartial"),
      s"adjacency cap must plan as TopKPerGroupPartial:\n$planStr")
    assert(!planStr.contains("Window"),
      s"no window sort expected in the capped plan:\n$planStr")
    val rows = capped.collect()
    // local replay of the capped semantics: candidates from each z's
    // `cap` lowest-id neighbors, scored with TRUE degrees
    val adj = edges.toSet
    val nb = edges.map(p => (p._1, p._2)) ++ edges.map(p => (p._2, p._1))
    val deg = nb.groupBy(_._1).map { case (v, xs) => v -> xs.length.toLong }
    val cand = nb.groupBy(_._1).toSeq.flatMap { case (z, xs) =>
      val vs = xs.map(_._2).sorted.take(cap)
      for { i <- vs.indices; j <- (i + 1) until vs.length }
        yield ((vs(i), vs(j)), z)
    }.filter { case (p, _) => !adj(p) }
    val hubWedges = cand.count(_._2 == 0L)
    assert(hubWedges == cap * (cap - 1) / 2,
      s"hub must emit exactly C($cap,2) wedges, got $hubWedges")
    val expected = cand.groupBy(_._1).map { case ((a, b), ws) =>
      val cn = ws.length.toLong
      val ra = ws.map { case (_, z) => 1000000L / deg(z) }.sum
      val jac = cn * 1000000L / (deg(a) + deg(b) - cn)
      (a, b, cn, jac, ra)
    }.toSeq.sortBy { case (a, b, cn, _, ra) => (-ra, -cn, a, b) }.take(50)
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, (a, b, cn, jac, ra)) =>
      assert((r.getLong(0), r.getLong(1)) == ((a, b)), s"pair $a-$b")
      assert(r.getLong(2) == cn && r.getLong(3) == jac && r.getLong(4) == ra,
        s"pair $a-$b scores")
    }
  }

  test("q294: Moran's I equals the brute centered cross-product replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = docs.length.toLong
    val sx = docs.map(_._3).sum
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ue = docs.flatMap { case (id, text, _) =>
      val hx = md5hex(text)
      (0 until 2).map { j =>
        val dst = java.lang.Long.parseLong(hx.substring(2 * j, 2 * j + 2), 16) * 7919 % n
        (math.min(id, dst), math.max(id, dst))
      }
    }.filter(p => p._1 != p._2).distinct
    val xc = docs.map(d => d._1 -> (BigInt(n) * d._3 - sx)).toMap
    val cross = ue.map { case (a, b) => xc(a) * xc(b) }.sum
    val ss = xc.values.map(x => x * x).sum
    val num = BigInt(n) * cross * 1000
    val den = BigInt(2) * ue.length * ss
    val i = (if (num >= 0) num / den else -((-num) / den)).toLong
    val rows = ops.Graph.q294MoransI.fn(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == n && r.getLong(1) == ue.length.toLong)
    assert(r.getLong(2) == i)
    assert(r.getLong(3) == -(1000L / (n - 1)))
  }
}
