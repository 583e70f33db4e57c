package graft.ops

import java.lang.Math.{addExact, multiplyExact, subtractExact}

import scala.reflect.runtime.universe.TypeTag

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Link-graph centrality for corpus curation — the host-rank weighting
  * step of a web-scale pipeline (crawl frontiers and pretraining
  * pipelines weight documents by the rank of their host; reference has
  * no counterpart — north-star brief operator). The shape that matters
  * at 100 TB: the ONLY big-data stage is the corpus scan that extracts
  * per-doc outlinks and partially aggregates them into a host→host
  * weighted edge list (map-side combine leaves ≤ hosts² rows per task
  * in the shuffle). The host graph's size is bounded by its domain
  * (hosts ≪ docs at any scale), so [[hostGraph]] collects it in two
  * capped collects and the seven host-graph queries (q128, q160, q198,
  * q209, q211, q212, q274) run their rounds on the driver in exact
  * `Long` arithmetic — each round there costs microseconds where a
  * distributed round costs a stage — and return a one-partition local
  * relation. All rank arithmetic is integer (micro-units, floor
  * division; an overflow throws, as ANSI BIGINT arithmetic does) so the
  * DuckDB oracle replays every round bit-for-bit. The document-graph
  * queries (q173, q227, q244, q284, q294) have a node per document and
  * stay distributed.
  */
object Graph {

  /** Damped PageRank rounds in integer micro-units from ranks `r0`:
    * r'(h) = base(h) + (850 · Σ_{g→h} w·(r(g) div outdeg(g))) div 1000
    * over weighted edges (src, dst, w), hosts indexed by hid. */
  def powerIterate(r0: IndexedSeq[Long], edges: Seq[(Int, Int, Long)],
      outdeg: IndexedSeq[Long], iters: Int)(base: Int => Long): IndexedSeq[Long] = {
    var r = r0
    (1 to iters).foreach { _ =>
      val c = new Array[Long](r.length)
      edges.foreach { case (g, h, w) => c(h) = addExact(c(h), multiplyExact(w, r(g) / outdeg(g))) }
      r = r.indices.map(h => addExact(base(h), multiplyExact(850L, c(h)) / 1000))
    }
    r
  }

  /** q128 — host-graph PageRank: hosts are the `source` values, each
    * doc emits 3 outlinks whose targets are md5-derived (bytes 0..2 of
    * the doc hash mod host count — fixture-style, so both engines
    * derive the identical graph from the raw bytes), 3 damped rounds
    * in integer micro-units. The oracle unrolls the same 3 rounds as
    * chained CTEs. */
  val q128HostRank: Q = Q(
    "q128_host_rank",
    {
      def round(prev: String) =
        s"""SELECT h.hid,
           |    CAST(150000 + (850 * COALESCE(SUM(e.w * (p.r // g.outdeg)), 0)) // 1000
           |      AS BIGINT) AS r
           |  FROM hosts h
           |  LEFT JOIN edges e ON e.dst = h.hid
           |  LEFT JOIN $prev p ON p.hid = e.src
           |  LEFT JOIN deg g ON g.hid = e.src
           |  GROUP BY h.hid"""
      s"""WITH d AS (
         |  SELECT source, md5(text) AS hx FROM documents
         |), hosts AS (
         |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS hid,
         |    COUNT(*) AS n_docs
         |  FROM d GROUP BY source
         |), nh AS (
         |  SELECT COUNT(*) AS n FROM hosts
         |), links AS (
         |  SELECT h.hid AS src,
         |    CAST(concat('0x', substr(d.hx, 2*t.j + 1, 2)) AS BIGINT) % nh.n AS dst
         |  FROM d
         |  JOIN hosts h USING (source)
         |  CROSS JOIN nh
         |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) t
         |), edges AS (
         |  SELECT src, dst, COUNT(*) AS w FROM links GROUP BY src, dst
         |), deg AS (
         |  SELECT hid, 3 * n_docs AS outdeg FROM hosts
         |), r0 AS (
         |  SELECT hid, CAST(1000000 AS BIGINT) AS r FROM hosts
         |), r1 AS (
         |${round("r0")}
         |), r2 AS (
         |${round("r1")}
         |), r3 AS (
         |${round("r2")}
         |)
         |SELECT h.source AS host, h.n_docs AS n_docs, r.r AS rank_micro
         |FROM hosts h JOIN r3 r USING (hid)
         |ORDER BY rank_micro DESC, host"""
    }) { (s, d) =>
    val g = hostGraph(s, d)
    val r = powerIterate(IndexedSeq.fill(g.n)(1000000L), g.links, g.outdeg, iters = 3)(_ => 150000L)
    local(s, descending(r).map(h => (g.source(h), g.nDocs(h), r(h))), "host", "n_docs", "rank_micro")
  }

  /** q160 — triangle counting on the q128 host graph (undirected,
    * deduplicated, loops dropped): the clustering-structure metric
    * behind spam-farm detection and community density. The naive
    * wedge join (edges ⋈ edges on the shared endpoint) explodes on hub
    * nodes — a degree-10⁶ host contributes 10¹² wedges. The standard
    * fix is ORIENTATION: point every edge from its lower-(degree, id)
    * endpoint to the higher one; every node's OUT-degree is then
    * O(√m), the wedge join runs only over out-neighbor pairs, and each
    * triangle is enumerated exactly once (its lowest-rank vertex owns
    * it). The closing-edge check is a semi-join of wedge pairs against
    * the oriented edge set — rank order guarantees the closure edge is
    * oriented (v1, v2), so one equi-join suffices.
    *
    * Scale: the wedge enumeration is the only super-linear step and the
    * orientation bound is precisely what keeps it feasible — that bound
    * is the operator. It runs on the driver over [[hostGraph]]; the
    * oracle replays the same construction relationally. */
  val q160TriangleCount: Q = Q(
    "q160_triangle_count",
    """WITH d AS (
      |  SELECT source, md5(text) AS hx FROM documents
      |), hosts AS (
      |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS hid,
      |    COUNT(*) AS n_docs
      |  FROM d GROUP BY source
      |), nh AS (
      |  SELECT COUNT(*) AS n FROM hosts
      |), links AS (
      |  SELECT h.hid AS src,
      |    CAST(concat('0x', substr(d.hx, 2*t.j + 1, 2)) AS BIGINT) % nh.n AS dst
      |  FROM d
      |  JOIN hosts h USING (source)
      |  CROSS JOIN nh
      |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) t
      |), ue AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM links WHERE src <> dst
      |), degv AS (
      |  SELECT v, COUNT(*) AS dg
      |  FROM (SELECT a AS v FROM ue UNION ALL SELECT b AS v FROM ue)
      |  GROUP BY v
      |), rk AS (
      |  SELECT v, dg * 1000000000 + v AS r FROM degv
      |), o AS (
      |  SELECT CASE WHEN ra.r < rb.r THEN a ELSE b END AS src,
      |    CASE WHEN ra.r < rb.r THEN b ELSE a END AS dst,
      |    GREATEST(ra.r, rb.r) AS dst_r
      |  FROM ue JOIN rk ra ON ra.v = a JOIN rk rb ON rb.v = b
      |), w AS (
      |  SELECT x.src AS u, x.dst AS v1, y.dst AS v2
      |  FROM o x JOIN o y ON x.src = y.src AND x.dst_r < y.dst_r
      |), tri AS (
      |  SELECT u, v1, v2
      |  FROM w JOIN o z ON z.src = w.v1 AND z.dst = w.v2
      |), credit AS (
      |  SELECT hid, COUNT(*) AS n_triangles
      |  FROM (SELECT u AS hid FROM tri UNION ALL SELECT v1 FROM tri
      |        UNION ALL SELECT v2 FROM tri)
      |  GROUP BY hid
      |)
      |SELECT h.source AS host, CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles
      |FROM hosts h LEFT JOIN credit c USING (hid)
      |ORDER BY host""") { (s, d) =>
    val g = hostGraph(s, d)
    val ue = g.undirected
    val dg = degrees(g.n, ue)
    // the oracle's rank dg·10⁹ + v, as a (degree, id) comparison
    def below(a: Int, b: Int) = dg(a) < dg(b) || dg(a) == dg(b) && a < b
    val o = ue.map { case (a, b) => if (below(a, b)) (a, b) else (b, a) }
    val closing = o.toSet
    val nTri = new Array[Long](g.n)
    for ((u, out) <- o.groupMap(_._1)(_._2); v1 <- out; v2 <- out
        if below(v1, v2) && closing((v1, v2)))
      Seq(u, v1, v2).foreach(x => nTri(x) += 1)
    local(s, (0 until g.n).map(h => (g.source(h), nTri(h))), "host", "n_triangles")
  }

  /** q173 — community detection by synchronous label propagation, on a
    * DOCUMENT graph (nodes = docs, 2 hash-derived links each → mean
    * degree ~4; the 20-host graph is near-complete and collapses to one
    * label, which demonstrates nothing): every node starts as its own
    * community and repeatedly adopts the most frequent label among its
    * neighbors (ties → smallest label; isolated nodes keep their own),
    * 3 rounds. The deterministic LPA variant — vanilla LPA's random
    * tie-breaking and visit order are replaced by the (count DESC,
    * label ASC) rule, so both engines compute the identical labeling
    * and the oracle replays it exactly. The round count is a SEMANTIC
    * parameter, not a convergence budget: synchronous LPA has no
    * fixpoint theorem (it 2-cycles forever on bipartite structure —
    * GraphSpec demonstrates it on a square, and the fixture graph is
    * still moving ~2% of labels at round 12), so a convergence guard
    * like q61's/q211's cannot exist here; "labels after R synchronous
    * rounds" is the operator's contract at every scale, the same way
    * q198's 3-hop radius is. Completes the graph pillar: q61 finds
    * CONNECTED components, this finds denser sub-communities inside
    * them.
    *
    * Scale: labels are NODE-cardinality — deliberately NOT broadcast
    * (docs ≫ memory at 100 TB); every round is two equi-joins
    * co-partitioned on the node id plus one window argmax over the
    * (node, label) count table, the q61 posture. Only the 1-row node
    * count broadcasts. localCheckpoint cuts the unrolled lineage so
    * round k+1 doesn't replay round k. */
  val q173LabelProp: Q = Q(
    "q173_label_prop",
    {
      def round(i: Int) = {
        val prev = s"l${i - 1}"
        s"""c$i AS (
           |  SELECT e.u AS id, p.lab, COUNT(*) AS c
           |  FROM und e JOIN $prev p ON p.id = e.v GROUP BY e.u, p.lab
           |), b$i AS (
           |  SELECT id, lab,
           |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
           |  FROM c$i
           |), l$i AS (
           |  SELECT p.id, COALESCE(b.lab, p.lab) AS lab
           |  FROM $prev p
           |  LEFT JOIN (SELECT id, lab FROM b$i WHERE rn = 1) b ON b.id = p.id
           |)"""
      }
      s"""WITH nd AS (
         |  SELECT COUNT(*) AS n FROM documents
         |), links AS (
         |  SELECT doc_id AS src,
         |    CAST(concat('0x', substr(md5(text), 2*t.j + 1, 2)) AS BIGINT) * 7919 % nd.n AS dst
         |  FROM documents
         |  CROSS JOIN nd
         |  CROSS JOIN (SELECT unnest(range(0, 2)) AS j) t
         |), ue AS (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM links WHERE src <> dst
         |), und AS (
         |  SELECT a AS u, b AS v FROM ue UNION ALL SELECT b, a FROM ue
         |), l0 AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |), ${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM l3 GROUP BY lab
         |ORDER BY n_docs DESC, community"""
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val nd = docs.agg(count(lit(1)).as("n"))
    val links = docs
      .crossJoin(broadcast(nd)) // 1-row count: the only broadcast here
      .select(col("doc_id").as("src"), explode(array((0 until 2).map(j =>
        conv(substring(md5(col("text")), 2 * j + 1, 2), 16, 10).cast("long") * 7919 % col("n")): _*)).as("dst"))
    val ue = links.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val und = ue.select(col("a").as("u"), col("b").as("v"))
      .unionAll(ue.select(col("b").as("u"), col("a").as("v")))
      .transform(Materialize.snapshot) // edge-cardinality; read once per round
    labelPropagate(docs.select(col("doc_id").as("id"), col("doc_id").as("lab")),
        und, rounds = 3)
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("community"))
  }

  /** Deterministic synchronous label propagation: from `init` (id, lab)
    * over undirected edges `und` (u, v — BOTH directions present), each
    * round every node adopts the most frequent neighbor label with the
    * (count DESC, label ASC) tie-break; isolated nodes keep their own.
    * Returns the final (id, lab). Labels are node-cardinality — joins
    * stay co-partitioned, nothing broadcasts (see q173). */
  private[graft] def labelPropagate(init: DataFrame, und: DataFrame,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wArg = Window.partitionBy("id").orderBy(col("c").desc, col("lab"))
    var lab = init
    for (_ <- 1 to rounds) {
      val best = und
        .join(lab.select(col("id").as("v"), col("lab")), "v")
        .groupBy(col("u").as("id"), col("lab")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wArg))
        .filter(col("rn") === 1)
        .select(col("id"), col("lab").as("nlab"))
      lab = lab.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("nlab"), col("lab")).as("lab"))
        .transform(Materialize.snapshot) // cut the unrolled lineage between rounds
    }
    lab
  }

  /** q198 — multi-source BFS: exact shortest-hop distance (≤ 3) from a
    * seed set to every reachable host on the q128 directed link graph —
    * the "distance to a trusted seed" feature behind TrustRank-style
    * spam demotion and crawl prioritization (seeds here: hid % 7 = 0,
    * a deterministic fixture stand-in for a curated whitelist).
    * Each round relaxes the frontier through the edge list and folds
    * with MIN — d_{i+1}(v) = min(d_i(v), 1 + min over in-edges) — so a
    * node keeps its earliest discovery; 3 rounds run — the depth is
    * the SEMANTIC radius ("within 3 hops"), not a convergence budget:
    * the answer is complete at any diameter by definition — and the oracle
    * replays them as chained CTEs.
    *
    * Scale: same posture as q128 — the only corpus-cardinality stage is
    * the link-extraction scan; distances and frontiers are
    * host-cardinality and relax on the driver over [[hostGraph]]. Hosts
    * not reached within 3 hops are absent (inner join), matching the
    * oracle. */
  val q198MultiSourceBfs: Q = Q(
    "q198_multisource_bfs",
    {
      def round(prev: String) =
        s"""SELECT hid, MIN(dist) AS dist FROM (
           |    SELECT hid, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS hid, p.dist + 1 AS dist
           |    FROM $prev p JOIN edges e ON e.src = p.hid
           |  ) GROUP BY hid"""
      s"""WITH d AS (
         |  SELECT source, md5(text) AS hx FROM documents
         |), hosts AS (
         |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS hid,
         |    COUNT(*) AS n_docs
         |  FROM d GROUP BY source
         |), nh AS (
         |  SELECT COUNT(*) AS n FROM hosts
         |), links AS (
         |  SELECT h.hid AS src,
         |    CAST(concat('0x', substr(d.hx, 2*t.j + 1, 2)) AS BIGINT) % nh.n AS dst
         |  FROM d
         |  JOIN hosts h USING (source)
         |  CROSS JOIN nh
         |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) t
         |), edges AS (
         |  SELECT DISTINCT src, dst FROM links
         |), d0 AS (
         |  SELECT hid, CAST(0 AS BIGINT) AS dist FROM hosts WHERE hid % 7 = 0
         |), d1 AS (
         |${round("d0")}
         |), d2 AS (
         |${round("d1")}
         |), d3 AS (
         |${round("d2")}
         |)
         |SELECT h.source AS host, r.dist AS hops
         |FROM hosts h JOIN d3 r USING (hid)
         |ORDER BY host"""
    }) { (s, d) =>
    val g = hostGraph(s, d)
    var dist = (0 until g.n).filter(_ % 7 == 0).map(_ -> 0L).toMap
    (1 to 3).foreach { _ =>
      val relaxed = g.links.flatMap { case (a, b, _) => dist.get(a).map(x => b -> (x + 1)) }
      dist = (dist.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
    }
    local(s, dist.toSeq.sorted.map { case (h, hops) => (g.source(h), hops) }, "host", "hops")
  }

  /** q209 — degree assortativity of the host link graph: the Pearson
    * correlation between the degrees at the two ends of every
    * undirected edge (Newman's r) — positive means hubs link to hubs
    * (social-network shape), negative means hubs link to leaves
    * (web/spam-farm shape), the one-number structural fingerprint that
    * complements q160's triangle density. Both edge orientations
    * contribute, so Σx = Σy and Σx² = Σy² — the Pearson denominator
    * collapses to ONE factor and r needs no sqrt at all: a pure
    * integer ratio under the FLOOR-milli pattern.
    *
    * Scale: q160's link extraction is the only corpus-cardinality
    * stage; the degrees and the moment rollup over the edges run on the
    * driver over [[hostGraph]]. */
  val q209Assortativity: Q = Q(
    "q209_assortativity",
    """WITH d AS (
      |  SELECT source, md5(text) AS hx FROM documents
      |), hosts AS (
      |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS hid,
      |    COUNT(*) AS n_docs
      |  FROM d GROUP BY source
      |), nh AS (
      |  SELECT COUNT(*) AS n FROM hosts
      |), links AS (
      |  SELECT h.hid AS src,
      |    CAST(concat('0x', substr(d.hx, 2*t.j + 1, 2)) AS BIGINT) % nh.n AS dst
      |  FROM d
      |  JOIN hosts h USING (source)
      |  CROSS JOIN nh
      |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) t
      |), ue AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM links WHERE src <> dst
      |), degv AS (
      |  SELECT v, COUNT(*) AS dg
      |  FROM (SELECT a AS v FROM ue UNION ALL SELECT b AS v FROM ue)
      |  GROUP BY v
      |), pts AS (
      |  SELECT da.dg AS x, db.dg AS y
      |  FROM ue JOIN degv da ON da.v = ue.a JOIN degv db ON db.v = ue.b
      |  UNION ALL
      |  SELECT db.dg AS x, da.dg AS y
      |  FROM ue JOIN degv da ON da.v = ue.a JOIN degv db ON db.v = ue.b
      |), m AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(x*y) AS BIGINT) AS sxy
      |  FROM pts
      |)
      |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
      |  CAST(FLOOR(CAST(sx AS DOUBLE) * 1000 / n) AS BIGINT) AS mean_end_degree_milli,
      |  CASE WHEN n*sxx - sx*sx = 0 THEN NULL
      |    ELSE CAST(FLOOR((n*sxy - sx*sx) * 1000.0 / (n*sxx - sx*sx)) AS BIGINT)
      |  END AS assortativity_milli
      |FROM m""") { (s, d) =>
    val g = hostGraph(s, d)
    val ue = g.undirected
    val dg = degrees(g.n, ue)
    // both orientations of every edge: Σx = Σy and Σx² = Σy²
    val n = 2L * ue.size
    val (sx, sxx, sxy) = ue.foldLeft((0L, 0L, 0L)) { case ((sx, sxx, sxy), (a, b)) =>
      val (x, y) = (dg(a), dg(b))
      (addExact(sx, x + y),
        addExact(sxx, addExact(multiplyExact(x, x), multiplyExact(y, y))),
        addExact(sxy, multiplyExact(2L, multiplyExact(x, y))))
    }
    // as SQL: no edge leaves every moment NULL
    val den = subtractExact(multiplyExact(n, sxx), multiplyExact(sx, sx))
    val mean = Option.when(n > 0)(math.floor(sx.toDouble * 1000 / n).toLong)
    val assort = Option.when(n > 0 && den != 0)(math.floor(
      subtractExact(multiplyExact(n, sxy), multiplyExact(sx, sx)).toDouble * 1000.0 / den).toLong)
    local(s, Seq((n / 2, mean, assort)),
      "n_edges", "mean_end_degree_milli", "assortativity_milli")
  }

  /** The q128 host link graph on the driver. Host `hid` is `source(hid)`
    * with `nDocs(hid)` documents, hids in the oracle's `ROW_NUMBER()
    * OVER (ORDER BY source)` order, so hid order is host order; `links`
    * holds each (src, dst, w) cell: w of the 3 md5-derived links per
    * document go from src's documents to dst. A NULL source is a host
    * without out-links, and a NULL text gives no link, as the oracle's
    * inner join and NULL link target drop them. */
  private[graft] final case class HostGraph(source: IndexedSeq[String],
      nDocs: IndexedSeq[Long], links: Seq[(Int, Int, Long)]) {
    def n: Int = source.length
    /** 3 links per document. */
    def outdeg: IndexedSeq[Long] = nDocs.map(multiplyExact(3L, _))
    /** The distinct loop-free directed edges. */
    def arcs: Seq[(Int, Int)] = links.collect { case (a, b, _) if a != b => (a, b) }
    /** The distinct loop-free undirected edges (a, b), a < b. */
    def undirected: Seq[(Int, Int)] = arcs.map { case (a, b) => (a min b, a max b) }.distinct
  }

  /** Most rows either [[hostGraph]] collect may bring to the driver: the
    * hosts, then the link cells, at most hosts × min(hosts, 256) (a link
    * target is one md5 byte mod the host count). Every graph of up to
    * 256 hosts fits. */
  private val HostGraphCap = 1 << 16

  /** The oracle's host order: UTF-8 bytes (Spark's and DuckDB's string
    * order; Java's `String.compareTo` compares UTF-16 units), NULL last
    * as in DuckDB's ORDER BY. */
  private[graft] val HostOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(a == null, b == null)
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** The q128 host graph from two bounded collects: the per-`source`
    * document counts, which give the hids and the host count, then the
    * link cells with the host count as a literal. The md5 link
    * extraction is the ONLY corpus-cardinality stage; it stays
    * distributed and its (source, dst) cells collapse map-side. */
  private[graft] def hostGraph(s: SparkSession, d: String): HostGraph = {
    val docs = Tables.documents(s, d)
    val hosts = Materialize.bounded(docs.groupBy("source").agg(count(lit(1))), HostGraphCap)
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)(HostOrder)
    val nh = hosts.length
    val hid = hosts.indices.filter(hosts(_)._1 != null).map(h => hosts(h)._1 -> h).toMap
    val cells = docs.filter(col("source").isNotNull)
      .select(col("source"), explode(array((0 until 3).map(j =>
        conv(substring(md5(col("text")), 2 * j + 1, 2), 16, 10).cast("long") % nh): _*)).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("source", "dst").agg(count(lit(1)))
    val links = Materialize.bounded(cells, HostGraphCap)
      .map(r => (hid(r.getString(0)), r.getLong(1).toInt, r.getLong(2))).toSeq
    HostGraph(hosts.map(_._1).toIndexedSeq, hosts.map(_._2).toIndexedSeq, links)
  }

  /** Each node's degree over undirected edges. */
  private def degrees(n: Int, ue: Seq[(Int, Int)]): Array[Long] = {
    val dg = new Array[Long](n)
    ue.foreach { case (a, b) => dg(a) += 1; dg(b) += 1 }
    dg
  }

  /** Hids by `score` descending, then by host (hid order is host order). */
  private def descending(score: IndexedSeq[Long]): Seq[Int] =
    score.indices.sortBy(h => (score(h), h))(Ordering.Tuple2(Ordering.Long.reverse, Ordering.Int))

  /** A host-graph query's rows as a one-partition local relation, so a
    * write of it makes one file. */
  private def local[A <: Product : TypeTag](s: SparkSession, rows: Seq[A],
      names: String*): DataFrame =
    s.createDataFrame(rows).toDF(names: _*).coalesce(1)

  /** The shared oracle CTE prefix deriving hosts + links (see q128). */
  private val hostGraphSql: String =
    """  SELECT source, md5(text) AS hx FROM documents
      |), hosts AS (
      |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS hid,
      |    COUNT(*) AS n_docs
      |  FROM d GROUP BY source
      |), nh AS (
      |  SELECT COUNT(*) AS n FROM hosts
      |), links AS (
      |  SELECT h.hid AS src,
      |    CAST(concat('0x', substr(d.hx, 2*t.j + 1, 2)) AS BIGINT) % nh.n AS dst
      |  FROM d
      |  JOIN hosts h USING (source)
      |  CROSS JOIN nh
      |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) t""".stripMargin

  /** q211 — k-core decomposition (k=3) by iterative peeling on the
    * undirected host graph: repeatedly delete every node with fewer
    * than k neighbors in the SURVIVING subgraph — the classic density
    * filter behind spam-farm isolation and community-seed selection
    * (a node's coreness is a robustness measure its raw degree isn't:
    * a hub wired only to leaves peels away at k=2). Four peel rounds
    * run and kcoreSurvivors ASSERTS the fixpoint on the final degree table —
    * every survivor ≥ k, the exact k-core condition — so the answer is
    * provably the true 3-core at any scale: a graph whose peel depth
    * exceeds the unroll fails loud instead of returning a superset.
    * The oracle replays the identical four rounds as chained CTEs.
    *
    * Scale posture: q128's — the corpus scan that extracts links is
    * the only big-data stage; the alive set and per-round degree
    * tables are host-cardinality and peel on the driver over
    * [[hostGraph]]. */
  val q211KCore: Q = Q(
    "q211_kcore",
    {
      def peel(prev: String, i: Int) =
        s"""dg$i AS (
           |  SELECT e.u, COUNT(*) AS dg
           |  FROM und e
           |  JOIN $prev pa ON pa.v = e.u
           |  JOIN $prev pb ON pb.v = e.v
           |  GROUP BY e.u
           |), a$i AS (
           |  SELECT u AS v FROM dg$i WHERE dg >= 3
           |)"""
      s"""WITH d AS (
         |$hostGraphSql
         |), ue AS (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM links WHERE src <> dst
         |), und AS (
         |  SELECT a AS u, b AS v FROM ue UNION ALL SELECT b, a FROM ue
         |), a0 AS (
         |  SELECT hid AS v FROM hosts
         |), ${peel("a0", 1)},
         |${peel("a1", 2)},
         |${peel("a2", 3)},
         |${peel("a3", 4)}
         |SELECT h.source AS host, CAST(dg.dg AS BIGINT) AS core_degree
         |FROM a4
         |JOIN (
         |  SELECT e.u, COUNT(*) AS dg
         |  FROM und e JOIN a4 pa ON pa.v = e.u JOIN a4 pb ON pb.v = e.v
         |  GROUP BY e.u
         |) dg ON dg.u = a4.v
         |JOIN hosts h ON h.hid = a4.v
         |ORDER BY host"""
    }) { (s, d) =>
    val g = hostGraph(s, d)
    val und = g.undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val core = kcoreSurvivors(0 until g.n, und, k = 3, rounds = 4)
    local(s, core.toSeq.sorted.map { case (h, dg) => (g.source(h), dg) }, "host", "core_degree")
  }

  /** Bounded k-core peeling: from `nodes` over undirected edges `und`
    * (u, v — BOTH directions present), delete every node with fewer
    * than k surviving neighbors, `rounds` times; returns the survivors
    * with their induced degree (v → core_degree).
    *
    * Convergence guard (round-8 VERDICT item 6): the k-core FIXPOINT
    * is exactly "every survivor's induced degree ≥ k", and the final
    * degree table is computed anyway — so the helper asserts it and
    * FAILS LOUD when the unroll was too shallow for the graph's peel
    * depth (a 100x-diameter graph at the fixture's round budget),
    * instead of silently returning a non-core superset. */
  private[graft] def kcoreSurvivors(nodes: Seq[Int], und: Seq[(Int, Int)],
      k: Int, rounds: Int): Map[Int, Long] = {
    def aliveDeg(alive: Set[Int]): Map[Int, Long] =
      und.filter { case (u, v) => alive(u) && alive(v) }.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var alive = nodes.toSet
    (1 to rounds).foreach(_ => alive = aliveDeg(alive).filter(_._2 >= k).keySet)
    val fin = aliveDeg(alive)
    val stray = fin.count(_._2 < k)
    if (stray != 0) throw new IllegalStateException(
      s"k-core peel not at fixpoint after $rounds rounds: $stray survivors " +
        s"still below degree $k — raise the round budget for this graph")
    fin
  }

  /** q212 — HITS hubs & authorities on the directed host graph
    * (distinct edges, loops dropped): two mutually-recursive rounds —
    * a(v) = Σ h(u) over in-edges, h(u) = Σ a(v) over out-edges — the
    * complement to q128's PageRank (an authority is linked BY good
    * hubs; a hub links TO good authorities; PageRank conflates the
    * two). Scores are max-normalized each half-round in integer ppm:
    * x' = x·10⁶ div max(x) — max-normalization instead of the textbook
    * L2 keeps every step in exact BIGINT (no sqrt), and the bound is
    * generous: scores stay ≤ deg_max·10¹², so anything below
    * deg_max ≈ 10⁶ in-links is overflow-free. Oracle replays the
    * identical four half-rounds as chained CTEs.
    *
    * Scale posture: link extraction is the only corpus-cardinality
    * stage; score tables are host-cardinality and the half-rounds run
    * on the driver over [[hostGraph]]. */
  val q212Hits: Q = Q(
    "q212_hits",
    s"""WITH d AS (
       |$hostGraphSql
       |), edges AS (
       |  SELECT DISTINCT src, dst FROM links WHERE src <> dst
       |), h0 AS (
       |  SELECT hid, CAST(1000000 AS BIGINT) AS h FROM hosts
       |), a1r AS (
       |  SELECT e.dst AS hid, SUM(p.h) AS a
       |  FROM edges e JOIN h0 p ON p.hid = e.src GROUP BY e.dst
       |), a1 AS (
       |  SELECT hid, a * 1000000 // (SELECT MAX(a) FROM a1r) AS a FROM a1r
       |), h1r AS (
       |  SELECT e.src AS hid, SUM(p.a) AS h
       |  FROM edges e JOIN a1 p ON p.hid = e.dst GROUP BY e.src
       |), h1 AS (
       |  SELECT hid, h * 1000000 // (SELECT MAX(h) FROM h1r) AS h FROM h1r
       |), a2r AS (
       |  SELECT e.dst AS hid, SUM(p.h) AS a
       |  FROM edges e JOIN h1 p ON p.hid = e.src GROUP BY e.dst
       |), a2 AS (
       |  SELECT hid, a * 1000000 // (SELECT MAX(a) FROM a2r) AS a FROM a2r
       |), h2r AS (
       |  SELECT e.src AS hid, SUM(p.a) AS h
       |  FROM edges e JOIN a2 p ON p.hid = e.dst GROUP BY e.src
       |), h2 AS (
       |  SELECT hid, h * 1000000 // (SELECT MAX(h) FROM h2r) AS h FROM h2r
       |)
       |SELECT hs.source AS host,
       |  CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth_ppm,
       |  CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub_ppm
       |FROM hosts hs
       |LEFT JOIN a2 ON a2.hid = hs.hid
       |LEFT JOIN h2 ON h2.hid = hs.hid
       |ORDER BY auth_ppm DESC, host""".stripMargin) { (s, d) =>
    val g = hostGraph(s, d)
    val (auth, hub) = hitsScores(g.n, g.arcs, rounds = 2)
    local(s, descending(auth).map(h => (g.source(h), auth(h), hub(h))),
      "host", "auth_ppm", "hub_ppm")
  }

  /** Max-normalized integer HITS over nodes 0 until n and distinct
    * loop-free directed `arcs` (src, dst): `rounds` full rounds of
    * a(v) = Σ h(u), rescale to ppm of max, h(u) = Σ a(v), rescale —
    * returning (auth_ppm, hub_ppm) by node, 0 for a node no arc reaches. */
  private[graft] def hitsScores(n: Int, arcs: Seq[(Int, Int)],
      rounds: Int): (IndexedSeq[Long], IndexedSeq[Long]) = {
    // One half-round: fold `score` along each arc from → to (a node gets
    // a sum iff an arc reaches it from a scored node), then rescale.
    def half(score: Map[Int, Long], from: ((Int, Int)) => Int, to: ((Int, Int)) => Int) = {
      val raw = arcs.flatMap(e => score.get(from(e)).map(to(e) -> _))
        .groupMapReduce(_._1)(_._2)(addExact)
      val mx = raw.values.maxOption.getOrElse(1L)
      raw.map { case (v, x) => v -> multiplyExact(x, 1000000L) / mx }
    }
    var h = (0 until n).map(_ -> 1000000L).toMap
    var a = Map.empty[Int, Long]
    (1 to rounds).foreach { _ =>
      a = half(h, _._1, _._2)
      h = half(a, _._2, _._1)
    }
    (IndexedSeq.tabulate(n)(a.getOrElse(_, 0L)), IndexedSeq.tabulate(n)(h.getOrElse(_, 0L)))
  }

  /** q227 — Newman modularity of the q173 labeling: the one-number
    * answer to "did label propagation find real structure, or noise?"
    * Q = Σ_c (e_c/m − (d_c/2m)²) over communities — internal-edge mass
    * against the degree-preserving random expectation. Computed in
    * exact integers: Q·4m² = Σ_c (4m·e_c − d_c²) (all BIGINT through
    * sf1; the final ppm ratio lifts to DECIMAL(38,0)/HUGEINT because
    * (Σ+4m²)·10⁶ crosses 2⁶³ first — the 100 TB path is the same lift
    * one level earlier). The ppm division shifts by +4m² before the
    * floor-div so the numerator stays positive — Spark's `div`
    * truncates toward zero while DuckDB's `//` floors, and they only
    * agree on non-negative numerators (Q itself may be negative).
    * Oracle replays the identical 3 LPA rounds and the modularity
    * arithmetic as chained CTEs.
    *
    * Scale: q173's posture end-to-end — the corpus scan that derives
    * links is the only big-data stage; labels are node-cardinality and
    * stay in co-partitioned equi-joins (never broadcast); e_c/d_c are
    * community-cardinality cells; the summary is one 1-row fold. */
  val q227Modularity: Q = Q(
    "q227_modularity",
    {
      def round(i: Int) = {
        val prev = s"l${i - 1}"
        s"""c$i AS (
           |  SELECT e.u AS id, p.lab, COUNT(*) AS c
           |  FROM und e JOIN $prev p ON p.id = e.v GROUP BY e.u, p.lab
           |), b$i AS (
           |  SELECT id, lab,
           |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
           |  FROM c$i
           |), l$i AS (
           |  SELECT p.id, COALESCE(b.lab, p.lab) AS lab
           |  FROM $prev p
           |  LEFT JOIN (SELECT id, lab FROM b$i WHERE rn = 1) b ON b.id = p.id
           |)"""
      }
      s"""WITH nd AS (
         |  SELECT COUNT(*) AS n FROM documents
         |), links AS (
         |  SELECT doc_id AS src,
         |    CAST(concat('0x', substr(md5(text), 2*t.j + 1, 2)) AS BIGINT) * 7919 % nd.n AS dst
         |  FROM documents
         |  CROSS JOIN nd
         |  CROSS JOIN (SELECT unnest(range(0, 2)) AS j) t
         |), ue AS (
         |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM links WHERE src <> dst
         |), und AS (
         |  SELECT a AS u, b AS v FROM ue UNION ALL SELECT b, a FROM ue
         |), l0 AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |), ${round(1)},
         |${round(2)},
         |${round(3)},
         |m AS (
         |  SELECT COUNT(*) AS m FROM ue
         |), deg AS (
         |  SELECT u AS v, COUNT(*) AS dg FROM und GROUP BY u
         |), ein AS (
         |  SELECT la.lab AS community, COUNT(*) AS e_in
         |  FROM ue
         |  JOIN l3 la ON la.id = ue.a
         |  JOIN l3 lb ON lb.id = ue.b
         |  WHERE la.lab = lb.lab GROUP BY 1
         |), dsum AS (
         |  SELECT l.lab AS community, SUM(COALESCE(d.dg, 0)) AS d_c,
         |    COUNT(*) AS n_nodes
         |  FROM l3 l LEFT JOIN deg d ON d.v = l.id GROUP BY 1
         |), contrib AS (
         |  SELECT ds.community, ds.n_nodes, COALESCE(e.e_in, 0) AS e_in,
         |    4 * m.m * COALESCE(e.e_in, 0) - ds.d_c * ds.d_c AS c
         |  FROM dsum ds LEFT JOIN ein e USING (community) CROSS JOIN m
         |)
         |SELECT CAST((SELECT COUNT(*) FROM l3) AS BIGINT) AS n_nodes,
         |  CAST(m.m AS BIGINT) AS n_edges,
         |  CAST(COUNT(*) AS BIGINT) AS n_communities,
         |  CAST(MAX(n_nodes) AS BIGINT) AS max_community_n,
         |  CAST(SUM(e_in) * 1000000 // m.m AS BIGINT) AS internal_edge_ppm,
         |  CAST((CAST(SUM(c) AS HUGEINT) + CAST(4 AS HUGEINT) * m.m * m.m) * 1000000
         |    // (CAST(4 AS HUGEINT) * m.m * m.m) - 1000000 AS BIGINT) AS modularity_ppm
         |FROM contrib CROSS JOIN m
         |GROUP BY m.m"""
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nd = docs.agg(count(lit(1)).as("n"))
    val links = docs
      .crossJoin(broadcast(nd)) // 1-row count: the only broadcast here
      .select(col("doc_id").as("src"), explode(array((0 until 2).map(j =>
        conv(substring(md5(col("text")), 2 * j + 1, 2), 16, 10).cast("long") * 7919 % col("n")): _*)).as("dst"))
    val ue = links.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .transform(Materialize.snapshot) // read by und, m, and the ein label joins
    val und = ue.select(col("a").as("u"), col("b").as("v"))
      .unionAll(ue.select(col("b").as("u"), col("a").as("v")))
      .transform(Materialize.snapshot) // read by every LPA round and the degree agg
    val lab = labelPropagate(
        docs.select(col("doc_id").as("id"), col("doc_id").as("lab")), und, rounds = 3)
      .transform(Materialize.snapshot) // node-cardinality; read by ein (twice) and dsum
    val m = ue.agg(count(lit(1)).as("m"))
    val deg = und.groupBy(col("u").as("v")).agg(count(lit(1)).as("dg"))
    val ein = ue
      .join(lab.select(col("id").as("a"), col("lab").as("la")), "a")
      .join(lab.select(col("id").as("b"), col("lab").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("e_in"))
    val dsum = lab
      .join(deg.withColumnRenamed("v", "id"), Seq("id"), "left")
      .groupBy(col("lab").as("community"))
      .agg(sum(coalesce(col("dg"), lit(0L))).as("d_c"), count(lit(1)).as("n_nodes"))
    val contrib = dsum
      .join(ein, Seq("community"), "left")
      .crossJoin(broadcast(m)) // 1-row edge count: scale-safe scalar
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("d_c") * col("d_c")).as("c"),
        col("m"))
    val nNodes = lab.agg(count(lit(1)).as("n_nodes_tot"))
    contrib.groupBy("m")
      .agg(count(lit(1)).as("n_communities"),
        max("n_nodes").as("max_community_n"),
        sum("e_in").as("sum_ein"), sum("c").as("sum_c"))
      .crossJoin(broadcast(nNodes)) // 1-row node count
      .select(col("n_nodes_tot").as("n_nodes"), col("m").as("n_edges"),
        col("n_communities"), col("max_community_n"),
        expr("sum_ein * 1000000 div m").as("internal_edge_ppm"),
        expr("""CAST((CAST(sum_c AS DECIMAL(38,0)) + CAST(4 AS DECIMAL(38,0)) * m * m)
          * 1000000 div (CAST(4 AS DECIMAL(38,0)) * m * m) - 1000000 AS BIGINT)""")
          .as("modularity_ppm"))
  }

  /** q244 — local clustering coefficient on the document graph: per
    * node, C(v) = 2·T(v)·10⁶ div (deg·(deg−1)) — how close a node's
    * neighborhood is to a clique. q160 counts triangles (on the
    * near-complete host graph, where every coefficient saturates);
    * this runs on q173's sparse doc graph (mean degree ~4) where the
    * coefficient actually separates tight communities from bridge
    * nodes — the per-node density feature community detectors and
    * spam classifiers consume. Nodes with deg < 2 have no defined
    * coefficient and are excluded (matching the estimator, not
    * padding zeros).
    *
    * Scale: q160's degree-ordered orientation bounds the wedge join
    * by the max ORIENTED degree (√m-ish), triangles credit all three
    * corners via one explode+count, and the coefficient is a
    * node-cell map. Everything after link extraction is edge/node
    * cardinality. */
  val q244ClusteringCoeff: Q = Q(
    "q244_clustering_coeff",
    """WITH nd AS (
      |  SELECT COUNT(*) AS n FROM documents
      |), links AS (
      |  SELECT doc_id AS src,
      |    CAST(concat('0x', substr(md5(text), 2*t.j + 1, 2)) AS BIGINT) * 7919 % nd.n AS dst
      |  FROM documents
      |  CROSS JOIN nd
      |  CROSS JOIN (SELECT unnest(range(0, 2)) AS j) t
      |), ue AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM links WHERE src <> dst
      |), degv AS (
      |  SELECT v, COUNT(*) AS dg
      |  FROM (SELECT a AS v FROM ue UNION ALL SELECT b AS v FROM ue)
      |  GROUP BY v
      |), rk AS (
      |  SELECT v, dg * 1000000000 + v AS r FROM degv
      |), o AS (
      |  SELECT CASE WHEN ra.r < rb.r THEN a ELSE b END AS src,
      |    CASE WHEN ra.r < rb.r THEN b ELSE a END AS dst,
      |    GREATEST(ra.r, rb.r) AS dst_r
      |  FROM ue JOIN rk ra ON ra.v = a JOIN rk rb ON rb.v = b
      |), w AS (
      |  SELECT x.src AS u, x.dst AS v1, y.dst AS v2
      |  FROM o x JOIN o y ON x.src = y.src AND x.dst_r < y.dst_r
      |), tri AS (
      |  SELECT u, v1, v2
      |  FROM w JOIN o z ON z.src = w.v1 AND z.dst = w.v2
      |), credit AS (
      |  SELECT v, COUNT(*) AS t
      |  FROM (SELECT u AS v FROM tri UNION ALL SELECT v1 FROM tri
      |        UNION ALL SELECT v2 FROM tri)
      |  GROUP BY v
      |)
      |SELECT degv.v AS node_id, CAST(degv.dg AS BIGINT) AS degree,
      |  CAST(COALESCE(credit.t, 0) AS BIGINT) AS n_triangles,
      |  CAST(2 * COALESCE(credit.t, 0) * 1000000 // (degv.dg * (degv.dg - 1))
      |    AS BIGINT) AS clustering_ppm
      |FROM degv LEFT JOIN credit ON credit.v = degv.v
      |WHERE degv.dg >= 2
      |ORDER BY node_id""") { (s, d) =>
    val docsT = Tables.documents(s, d)
    val nd = docsT.agg(count(lit(1)).as("n"))
    val links = docsT
      .crossJoin(broadcast(nd)) // 1-row count: the only broadcast scalar
      .select(col("doc_id").as("src"), explode(array((0 until 2).map(j =>
        conv(substring(md5(col("text")), 2 * j + 1, 2), 16, 10).cast("long") * 7919 % col("n")): _*)).as("dst"))
    val ue = links.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .transform(Materialize.snapshot) // feeds degrees + orientation
    val degv = ue.select(col("a").as("v")).unionAll(ue.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
      .transform(Materialize.snapshot) // node cells: orientation rank + final coefficient
    val rk = degv.select(col("v"), (col("dg") * 1000000000L + col("v")).as("r"))
    val o = ue
      .join(rk.select(col("v").as("a"), col("r").as("ra")), "a")
      .join(rk.select(col("v").as("b"), col("r").as("rb")), "b")
      .select(
        when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("src"),
        when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("dst"),
        greatest(col("ra"), col("rb")).as("dst_r"))
      .transform(Materialize.snapshot) // both wedge legs + the closing-edge probe
    val w = o.as("x").join(o.as("y"),
        col("x.src") === col("y.src") && col("x.dst_r") < col("y.dst_r"))
      .select(col("x.dst").as("v1"), col("y.dst").as("v2"), col("x.src").as("u"))
    val tri = w.join(o.select(col("src").as("v1"), col("dst").as("v2")),
      Seq("v1", "v2"), "left_semi")
    val credit = tri.select(col("u").as("v"))
      .unionAll(tri.select(col("v1").as("v")))
      .unionAll(tri.select(col("v2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("t"))
    degv.filter(col("dg") >= 2)
      .join(credit, Seq("v"), "left")
      .select(col("v").as("node_id"), col("dg").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        expr("2 * coalesce(t, 0) * 1000000 div (dg * (dg - 1))").as("clustering_ppm"))
      .orderBy("node_id")
  }

  /** q274 — personalized PageRank from host 0 on the q128 graph: the
    * teleport mass returns to ONE source instead of spreading uniformly
    * — "importance as seen from here", the seed-expansion primitive
    * behind related-content ranking, local community detection, and
    * trust propagation (q128's global rank can't distinguish "globally
    * popular" from "relevant to THIS seed"). Same integer micro-unit
    * arithmetic as q128 — r' = [h=seed]·150000·n + 0.85·Σw·(r//outdeg)
    * with the seed mass scaled by n so total mass matches q128's n·10⁶
    * convention and the two rank columns are directly comparable —
    * 3 unrolled damped rounds, oracle as chained CTEs.
    *
    * Scale: identical to q128 — edges are host-graph cardinality and
    * the rounds run on the driver over [[hostGraph]]. */
  val q274PersonalizedPr: Q = Q(
    "q274_personalized_pr",
    {
      def round(prev: String) =
        s"""SELECT h.hid,
           |    CAST(CASE WHEN h.hid = 0 THEN 150000 * nh.n ELSE 0 END
           |      + (850 * COALESCE(SUM(e.w * (p.r // g.outdeg)), 0)) // 1000
           |      AS BIGINT) AS r
           |  FROM hosts h
           |  CROSS JOIN nh
           |  LEFT JOIN edges e ON e.dst = h.hid
           |  LEFT JOIN $prev p ON p.hid = e.src
           |  LEFT JOIN deg g ON g.hid = e.src
           |  GROUP BY h.hid, nh.n"""
      s"""WITH d AS (
         |  SELECT source, md5(text) AS hx FROM documents
         |), hosts AS (
         |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS hid,
         |    COUNT(*) AS n_docs
         |  FROM d GROUP BY source
         |), nh AS (
         |  SELECT COUNT(*) AS n FROM hosts
         |), links AS (
         |  SELECT h.hid AS src,
         |    CAST(concat('0x', substr(d.hx, 2*t.j + 1, 2)) AS BIGINT) % nh.n AS dst
         |  FROM d
         |  JOIN hosts h USING (source)
         |  CROSS JOIN nh
         |  CROSS JOIN (SELECT unnest(range(0, 3)) AS j) t
         |), edges AS (
         |  SELECT src, dst, COUNT(*) AS w FROM links GROUP BY src, dst
         |), deg AS (
         |  SELECT hid, 3 * n_docs AS outdeg FROM hosts
         |), r0 AS (
         |  SELECT hid, CAST(CASE WHEN hid = 0 THEN 1000000 * nh.n ELSE 0 END AS BIGINT) AS r
         |  FROM hosts CROSS JOIN nh
         |), r1 AS (
         |${round("r0")}
         |), r2 AS (
         |${round("r1")}
         |), r3 AS (
         |${round("r2")}
         |)
         |SELECT h.source AS host, h.n_docs AS n_docs, r.r AS ppr_micro,
         |  h.hid = 0 AS is_seed
         |FROM hosts h JOIN r3 r USING (hid)
         |ORDER BY ppr_micro DESC, host"""
    }) { (s, d) =>
    val g = hostGraph(s, d)
    // the seed (hid 0) holds all n·10⁶ of the mass, as q128's n hosts do
    def seed(mass: Long)(h: Int) = if (h == 0) multiplyExact(mass, g.n.toLong) else 0L
    val r = powerIterate(IndexedSeq.tabulate(g.n)(seed(1000000L)), g.links, g.outdeg,
      iters = 3)(seed(150000L))
    local(s, descending(r).map(h => (g.source(h), g.nDocs(h), r(h), h == 0)),
      "host", "n_docs", "ppr_micro", "is_seed")
  }

  /** q284 — link-prediction scores over a uniform-degree document
    * graph (the 20-host graph is near-complete, leaving nothing to
    * predict; q173's 8-bit link targets hub-collapse as n grows — see
    * the in-body note): for
    * the top non-adjacent pairs at distance 2, the three classic
    * neighborhood predictors — common-neighbor count, neighbor-set
    * Jaccard, and the resource-allocation index Σ_z 1/deg(z) (Zhou
    * 2009; RA is the log-free cousin of Adamic-Adar, exact in integer
    * micro where AA's 1/log needs floats) — the "which edges are
    * missing" primitive behind related-content suggestions and graph
    * densification. Every candidate pair is generated from wedges
    * (shared-neighbor z emits its sorted adjacency pairs once), then
    * adjacency is removed with an anti-join; RA accumulates 10⁶ div
    * deg(z) per wedge (exact, non-negative); the top-50 export is a
    * fully-tied-down two-phase orderBy/limit.
    *
    * Scale: uncapped wedge generation is Σ_z deg(z)² — the
    * q109-documented shape, and a power-law hub makes it quadratic.
    * The standard mitigation is now a REAL operator parameter
    * (round-9 VERDICT item 6): each wedge center z pairs only its
    * `adjCap` lowest-id neighbors (a deterministic window filter on
    * `nb`), bounding wedges at Σ_z C(min(deg z, cap), 2) ≤ |V|·cap²/2
    * whatever the degree distribution; true degrees still score the
    * surviving candidates (capping candidates, not the RA/Jaccard
    * denominators, is the Zhou/Adamic convention). The registered
    * query caps at 64 — far above this graph's mean degree 4, so the
    * uniform-tree answer is unchanged, while a planted hub is bounded
    * (GraphSpec's hub fixture proves both). Degree and adjacency
    * tables are node/edge-cardinality equi-joins — nothing broadcasts
    * except the 1-row doc count (the round-9 ADVICE item: the old
    * broadcast(degv) hint on a node-cardinality table was an OOM
    * hazard and is gone; AQE picks the strategy). */
  val Q284AdjCap = 64

  /** The capped link-prediction core over an undirected deduped edge
    * table `ue(a, b)` with a < b — reusable so the hub fixture in
    * GraphSpec can feed a synthetic graph. */
  def linkPredictionFromEdges(ue: DataFrame, adjCap: Int): DataFrame = {
    val nb = ue.select(col("a").as("z"), col("b").as("v"))
      .unionAll(ue.select(col("b").as("z"), col("a").as("v")))
      .transform(Materialize.snapshot)
    val degv = nb.groupBy(col("z").as("v")).agg(count(lit(1)).as("dg"))
    // Candidate cap: z emits pairs only among its adjCap lowest-id
    // neighbors — deterministic, and a no-op while deg(z) <= cap.
    // TopKPerGroup, not row_number-over-window (round-10 VERDICT item
    // 5): the window spelling sorts a hub's ENTIRE adjacency in one
    // task (O(deg·log deg) serialized behind the exchange) before the
    // rk <= cap filter; the bounded-heap operator caps at adjCap rows
    // per (z, input partition) MAP-SIDE, so a power-law hub never
    // funnels more than adjCap·partitions rows through the exchange
    // and no per-group sort buffer exists. (z, v) pairs are unique
    // (ue is a deduped undirected edge set), so min-v top-k is
    // tie-free and identical to the window spelling.
    val nbc = graft.plans.TopKPerGroup(nb, Seq("z"), Seq(("v", true)), adjCap)
    val wedge = nbc.as("n1").join(nbc.as("n2"),
        col("n1.z") === col("n2.z") && col("n1.v") < col("n2.v"))
      .select(col("n1.v").as("a"), col("n2.v").as("b"), col("n1.z").as("z"))
    val cand = wedge
      .join(degv.select(col("v").as("z"), col("dg")), "z")
      .join(ue, Seq("a", "b"), "left_anti") // drop already-adjacent pairs
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum(expr("1000000 div dg")).as("ra_micro"))
    cand
      .join(degv.select(col("v").as("a"), col("dg").as("dga")), "a")
      .join(degv.select(col("v").as("b"), col("dg").as("dgb")), "b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("cn").as("common_neighbors"),
        expr("cn * 1000000 div (dga + dgb - cn)").as("jaccard_ppm"),
        col("ra_micro"))
      .orderBy(col("ra_micro").desc, col("common_neighbors").desc,
        col("doc_a"), col("doc_b"))
      .limit(50)
  }

  val q284LinkPrediction: Q = Q(
    "q284_link_prediction",
    """WITH nd AS (
      |  SELECT COUNT(*) AS n FROM documents
      |), links AS (
      |  SELECT doc_id AS src,
      |    CAST(concat('0x', substr(md5(text), 8*t.j + 1, 8)) AS BIGINT) % nd.n AS dst
      |  FROM documents
      |  CROSS JOIN nd
      |  CROSS JOIN (SELECT unnest(range(0, 2)) AS j) t
      |), ue AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM links WHERE src <> dst
      |), nb AS (
      |  SELECT a AS z, b AS v FROM ue UNION ALL SELECT b AS z, a AS v FROM ue
      |), degv AS (
      |  SELECT z AS v, COUNT(*) AS dg FROM nb GROUP BY z
      |), nbc AS (
      |  SELECT z, v FROM nb
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY z ORDER BY v) <= 64
      |), wedge AS (
      |  SELECT n1.v AS a, n2.v AS b, n1.z
      |  FROM nbc n1 JOIN nbc n2 ON n1.z = n2.z AND n1.v < n2.v
      |), cand AS (
      |  SELECT w.a, w.b, COUNT(*) AS cn,
      |    SUM(1000000 // g.dg) AS ra_micro
      |  FROM wedge w JOIN degv g ON g.v = w.z
      |  WHERE NOT EXISTS (SELECT 1 FROM ue WHERE ue.a = w.a AND ue.b = w.b)
      |  GROUP BY w.a, w.b
      |)
      |SELECT c.a AS doc_a, c.b AS doc_b,
      |  CAST(c.cn AS BIGINT) AS common_neighbors,
      |  CAST(c.cn * 1000000 // (ga.dg + gb.dg - c.cn) AS BIGINT) AS jaccard_ppm,
      |  CAST(c.ra_micro AS BIGINT) AS ra_micro
      |FROM cand c
      |JOIN degv ga ON ga.v = c.a JOIN degv gb ON gb.v = c.b
      |ORDER BY ra_micro DESC, common_neighbors DESC, doc_a, doc_b
      |LIMIT 50""") { (s, d) =>
    // A doc graph shaped like q173's (doc_id nodes, 2 md5 links each)
    // but with 32-BIT link targets: q173's 2-hex-char derivation has a
    // 256-value target space, so at n docs those targets become n/256-
    // degree hubs and the wedge join goes quadratic — a fixture
    // artifact, not graph structure (measured: 162x shuffle at x16).
    // Full-width hashes keep the mean degree ~4 at ANY n.
    val docs = Tables.documents(s, d)
    val nd = docs.agg(count(lit(1)).as("n"))
    val links = docs
      .crossJoin(broadcast(nd)) // 1-row doc count: scale-safe scalar
      .select(col("doc_id").as("src"), explode(array((0 until 2).map(j =>
        conv(substring(md5(col("text")), 8 * j + 1, 8), 16, 10).cast("long") % col("n")): _*)).as("dst"))
    // ue feeds the neighbor list AND the adjacency anti-join; nb feeds
    // both wedge legs and the degree table — materialize each once
    val ue = links.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .transform(Materialize.snapshot)
    linkPredictionFromEdges(ue, Q284AdjCap)
  }

  /** q294 — Moran's I spatial autocorrelation of document LENGTH over
    * q173's doc graph: do linked documents have correlated sizes —
    * i.e. does the value CLUSTER along graph structure? q209's
    * assortativity correlates DEGREES; Moran's I generalizes to any
    * node attribute, the structure-vs-attribute diagnostic behind
    * "similar pages link to each other" claims. Exact integer: center
    * by the ×n trick (Xᵢ = n·xᵢ − Σx, so means never materialize as
    * fractions), I = (n/W)·ΣᵤᵥXᵤXᵥ/ΣXᵢ² over both edge directions
    * (W = 2|E|); the n² factors cancel, products lift to
    * DECIMAL(38,0)/HUGEINT, the single division is sign-split milli.
    * The null expectation E[I] = −1/(n−1) ships next to it in the
    * same milli floor, so the readout is I vs its null, not I vs 0.
    *
    * Scale: edges and attributes join by node id (equi); the moment
    * folds are 1-row; only the 1-row (n, Σx) scalar broadcasts. */
  val q294MoransI: Q = Q(
    "q294_morans_i",
    """WITH nd AS (
      |  SELECT COUNT(*) AS n, SUM(n_chars) AS sx FROM documents
      |), links AS (
      |  SELECT doc_id AS src,
      |    CAST(concat('0x', substr(md5(text), 2*t.j + 1, 2)) AS BIGINT) * 7919 % nd.n AS dst
      |  FROM documents
      |  CROSS JOIN nd
      |  CROSS JOIN (SELECT unnest(range(0, 2)) AS j) t
      |), ue AS (
      |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM links WHERE src <> dst
      |), xv AS (
      |  SELECT doc_id, CAST(n.n AS HUGEINT) * d.n_chars - n.sx AS xc
      |  FROM documents d CROSS JOIN nd n
      |), num AS (
      |  SELECT SUM(xa.xc * xb.xc) AS cross_sum, COUNT(*) AS n_edges
      |  FROM ue JOIN xv xa ON xa.doc_id = ue.a JOIN xv xb ON xb.doc_id = ue.b
      |), den AS (
      |  SELECT SUM(xc * xc) AS ss FROM xv
      |)
      |SELECT CAST(nd.n AS BIGINT) AS n_docs,
      |  CAST(num.n_edges AS BIGINT) AS n_edges,
      |  CAST(CASE WHEN nd.n * num.cross_sum * 1000 >= 0
      |    THEN nd.n * num.cross_sum * 1000 // (2 * num.n_edges * den.ss)
      |    ELSE -((-(nd.n * num.cross_sum * 1000)) // (2 * num.n_edges * den.ss))
      |    END AS BIGINT) AS morans_i_milli,
      |  CAST(-(1000 // (nd.n - 1)) AS BIGINT) AS expected_i_milli
      |FROM num CROSS JOIN den CROSS JOIN nd""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val nd = docs.agg(count(lit(1)).as("n"), sum("n_chars").as("sx"))
    val links = docs
      .crossJoin(broadcast(nd)) // 1-row (n, Σx) scalar
      .select(col("doc_id").as("src"), explode(array((0 until 2).map(j =>
        conv(substring(md5(col("text")), 2 * j + 1, 2), 16, 10).cast("long") * 7919 % col("n")): _*)).as("dst"))
    val ue = links.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val xv = docs.crossJoin(broadcast(nd))
      .select(col("doc_id"),
        expr("CAST(n AS DECIMAL(38,0)) * n_chars - sx").as("xc"))
      .transform(Materialize.snapshot) // centered attribute: both edge legs + the denominator read it
    val num = ue
      .join(xv.select(col("doc_id").as("a"), col("xc").as("xca")), "a")
      .join(xv.select(col("doc_id").as("b"), col("xc").as("xcb")), "b")
      .agg(sum(col("xca") * col("xcb")).as("cross_sum"), count(lit(1)).as("n_edges"))
    val den = xv.agg(sum(col("xc") * col("xc")).as("ss"))
    num.crossJoin(broadcast(den)).crossJoin(broadcast(nd)) // 1-row folds
      .select(col("n").cast("long").as("n_docs"), col("n_edges"),
        expr("""CAST(CASE WHEN n * cross_sum * 1000 >= 0
          THEN n * cross_sum * 1000 div (2 * n_edges * ss)
          ELSE -((-(n * cross_sum * 1000)) div (2 * n_edges * ss))
          END AS BIGINT)""").as("morans_i_milli"),
        expr("CAST(-(1000 div (n - 1)) AS BIGINT)").as("expected_i_milli"))
  }

  val all: Seq[Q] = Seq(q128HostRank, q160TriangleCount, q173LabelProp,
    q198MultiSourceBfs, q209Assortativity, q211KCore, q212Hits,
    q227Modularity, q244ClusteringCoeff, q274PersonalizedPr,
    q284LinkPrediction, q294MoransI)
}
