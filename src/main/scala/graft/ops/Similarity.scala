package graft.ops

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search pack over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, banded
  * random-hyperplane LSH as the scale path, embedding-cosine near-dup,
  * and deterministic per-label centroids.
  *
  * Scale design: the query side is tiny and explicitly `broadcast()`, so
  * brute-force KNN is one map-side pass over the corpus (no shuffle of
  * the big side) followed by a top-k window over query-id — at 100 TB
  * the corpus scan parallelizes per-partition and only k rows per query
  * survive to the shuffle. The LSH variant replaces the full scan with a
  * band-bucket equi-join, the same candidate-then-verify shape as MinHash
  * dedup.
  *
  * Determinism policy: all dot products are explicit left-to-right folds
  * in double precision (never a shuffle-order SUM), emitted as floor-ppm
  * integers; hyperplane signs derive from md5, identical in both engines.
  */
object Similarity {

  private val Dim = 64
  private val Planes = 16
  private val BandBits = 4 // 4 bands x 4 planes

  /** Hyperplane sign s(p,i) = +1 iff first md5 hex digit of "p_i" < '8'.
    * Computed here via MessageDigest and mirrored in DuckDB SQL by
    * md5() — both are the same public MD5. */
  private def planeSign(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xF) < 8) 1.0 else -1.0
  }

  private def planeLit(p: Int): Column =
    array((0 until Dim).map(i => lit(planeSign(p, i))): _*)

  /** Left-fold dot product of two array<double> columns, via the native
    * codegen'd plans.DotProduct — bit-identical to the HOF spelling
    * `aggregate(zip_with(a,b,*), 0d, +)` (PlanSpec pins parity) without
    * the intermediate product array per evaluated pair. */
  private def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.PlanShim
    PlanShim.column(graft.plans.DotProduct(
      PlanShim.expression(a), PlanShim.expression(b)))
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Cosine similarity in floor-ppm between two array<double> columns. */
  private def cosPpm(a: Column, b: Column): Column = {
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    when(na === 0.0 || nb === 0.0, 0L)
      .otherwise(floor(dot(a, b) / (na * nb) * 1000000L))
  }

  /** cosPpm with PRE-COMPUTED norms: per-pair work drops from three dot
    * products to one (norms are a per-ROW projection computed once
    * before the pair join — for a brute scan of q queries x n vectors
    * that is q+n norm evaluations instead of 2qn). `sqrt(dot(v,v))` on
    * the same array yields the same double wherever it's evaluated, so
    * this is plan algebra, not a semantics change — the oracle SQL
    * keeps the inline spelling. */
  private def cosPpmPre(dotAb: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, 0L)
      .otherwise(floor(dotAb / (na * nb) * 1000000L))

  /** Attach the per-row norm column `<v>_nrm` for [[cosPpmPre]]. */
  private def withNorm(df: DataFrame, v: String): DataFrame =
    df.withColumn(s"${v}_nrm", sqrt(dot(col(v), col(v))))

  /** 16-bit hyperplane signature bucket of an array<double> column. */
  private def lshBucket(v: Column): Column =
    (0 until Planes).map { p =>
      when(dot(v, planeLit(p)) > 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Band b (4 bits) of a bucket column. */
  private def band(bucket: Column, b: Int): Column =
    shiftright(bucket, b * BandBits).bitwiseAND((1 << BandBits) - 1)

  // ---- DuckDB mirrors ----

  private val DVec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  private def dDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1,${Dim + 1}), i -> $a[i]*$b[i])), (x,y) -> x+y)"

  private def dCosPpm(a: String, b: String): String =
    s"""CASE WHEN sqrt(${dDot(a, a)}) = 0 OR sqrt(${dDot(b, b)}) = 0 THEN 0
       |ELSE CAST(FLOOR(${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)})) * 1000000) AS BIGINT) END""".stripMargin

  /** 16-dim prefix variants of dDot/dCosPpm (q172 truncated ranking).
    * Index order matches the Spark `dot` over `slice(v, 1, 16)`, so the
    * float sums associate identically. */
  private def dDot16(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1,17), i -> $a[i]*$b[i])), (x,y) -> x+y)"

  private def dCosPpm16(a: String, b: String): String =
    s"""CASE WHEN sqrt(${dDot16(a, a)}) = 0 OR sqrt(${dDot16(b, b)}) = 0 THEN 0
       |ELSE CAST(FLOOR(${dDot16(a, b)} / (sqrt(${dDot16(a, a)}) * sqrt(${dDot16(b, b)})) * 1000000) AS BIGINT) END""".stripMargin

  /** planes as a 16-element list of 64-double sign lists (1-indexed). */
  private val DPlanes =
    """planes AS (
      |  SELECT list(signs ORDER BY p) AS pl FROM (
      |    SELECT p, list_transform(range(0,64), i ->
      |      CASE WHEN CAST(concat('0x', substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) AS INT) < 8
      |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS signs
      |    FROM range(0,16) t(p))
      |)""".stripMargin

  private val DBucket =
    s"""CAST(list_sum(list_transform(range(0,16), p ->
       |    CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |           list_transform(range(1,${Dim + 1}), i -> v[i] * pl[p+1][i])), (x,y) -> x+y) > 0
       |         THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** q31 — exact KNN: brute-force cosine top-10 for 5 query vectors.
    * Query side broadcast; corpus side never shuffles before top-k. */
  val q31KnnBrute: Q = Q(
    "q31_knn_brute",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), qs AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 5),
       |scored AS (
       |  SELECT query_id, vec_id, ${dCosPpm("qv", "v")} AS cos_ppm
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cos_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_ppm DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_ppm
       |FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""") { (s, d) =>
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    val qs = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("v_nrm").as("qv_nrm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_ppm").desc, col("vec_id"))
    vecs.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "vec_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** q32 — ANN via banded hyperplane LSH: candidates share ≥1 of 4
    * 4-bit signature bands with the query; cosine re-ranks candidates
    * only. The bucket column is computed map-side (planes are literals /
    * broadcast at scale) — the full scan of q31 becomes an equi-join. */
  val q32AnnLsh: Q = Q(
    "q32_ann_lsh",
    s"""WITH $DPlanes, vecs AS (
       |  SELECT vec_id, v, $DBucket AS bucket
       |  FROM (SELECT vec_id, $DVec AS v FROM embeddings) CROSS JOIN planes
       |), vbands AS (
       |  SELECT vec_id, v, b, (bucket >> (4*b)) & 15 AS bv
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0,4)) AS b)
       |), qs AS (SELECT vec_id AS query_id, v AS qv, b, bv FROM vbands WHERE vec_id < 5),
       |cand AS (
       |  SELECT DISTINCT query_id, qv, c.vec_id, c.v
       |  FROM qs JOIN vbands c ON qs.b = c.b AND qs.bv = c.bv AND c.vec_id <> query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, ${dCosPpm("qv", "v")} AS cos_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${dCosPpm("qv", "v")} DESC, vec_id) AS rank
       |  FROM cand
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_ppm
       |FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""") { (s, d) =>
    // materialized once: the band self-join + vector re-joins would
    // otherwise recompute the 16 hyperplane dot products per reference
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
      .withColumn("bucket", lshBucket(col("v")))
      .transform(Materialize.snapshot)
    val vbands = vecs.select(col("vec_id"), col("v"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"), band(col("bucket"), b).as("bv"))): _*)).as("bb"))
      .select(col("vec_id"), col("v"), col("bb.b").as("b"), col("bb.bv").as("bv"))
    val qs = vbands.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("b"), col("bv"))
    // candidate dedup moves only (query_id, vec_id) — the 64-dim vectors
    // re-attach after the distinct (query side broadcast, corpus side an
    // equi-join on vec_id), so the dedup shuffle never carries arrays.
    val cand = vbands.as("c").join(broadcast(qs).as("q"),
        col("q.b") === col("c.b") && col("q.bv") === col("c.bv")
          && col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("c.vec_id"))
      .distinct()
    val qvecs = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("v_nrm").as("qv_nrm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_ppm").desc, col("vec_id"))
    cand
      .join(broadcast(qvecs), "query_id")
      .join(vecs.select(col("vec_id"), col("v"), col("v_nrm")), "vec_id")
      .select(col("query_id"), col("vec_id"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "vec_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** q33 — embedding-cosine near-dup: corpus + perturbed copies
    * (element 1 scaled by 1.001 for vec_id%10=0), LSH-band candidates,
    * pairs verified at cosine ≥ 0.999. */
  val q33EmbedNearDup: Q = Q(
    "q33_embed_near_dup",
    s"""WITH $DPlanes, base AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), aug AS (
       |  SELECT vec_id, v FROM base
       |  UNION ALL
       |  SELECT vec_id+1000000, list_transform(range(1,${Dim + 1}), i -> CASE WHEN i = 1 THEN v[i]*1.001 ELSE v[i] END)
       |  FROM base WHERE vec_id % 10 = 0
       |), vecs AS (
       |  SELECT vec_id, v, $DBucket AS bucket FROM aug CROSS JOIN planes
       |), vbands AS (
       |  SELECT vec_id, v, b, (bucket >> (4*b)) & 15 AS bv
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0,4)) AS b)
       |), pairs AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b, x.v AS va, y.v AS vb
       |  FROM vbands x JOIN vbands y ON x.b = y.b AND x.bv = y.bv AND x.vec_id < y.vec_id
       |)
       |SELECT vec_a, vec_b, ${dCosPpm("va", "vb")} AS cos_ppm
       |FROM pairs WHERE ${dCosPpm("va", "vb")} >= 999000
       |ORDER BY vec_a, vec_b""") { (s, d) =>
    val base = graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val aug = base.unionByName(
      base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x * 1.001).otherwise(x)).as("v")))
    // norms once per vector; the band self-join and pair-distinct move
    // only (id, band) rows — vectors re-attach after dedup, so the
    // shuffle never carries 64-dim arrays.
    val vecs = aug
      .withColumn("bucket", lshBucket(col("v")))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .transform(Materialize.snapshot)
    val vbands = vecs.select(col("vec_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"), band(col("bucket"), b).as("bv"))): _*)).as("bb"))
      .select(col("vec_id"), col("bb.b").as("b"), col("bb.bv").as("bv"))
    val pairs = vbands.as("x").join(vbands.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val side = vecs.select(col("vec_id"), col("v"), col("norm"))
    pairs
      .join(side.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na")), "vec_a")
      .join(side.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        when(col("na") === 0.0 || col("nb") === 0.0, 0L)
          .otherwise(floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1000000L))
          .as("cos_ppm"))
      .filter(col("cos_ppm") >= 999000L)
      .transform(Q.stageBarrier)
      .orderBy("vec_a", "vec_b")
  }

  /** q34 — per-label centroids with a deterministic fold: embeddings
    * collected in vec_id order per label, summed left-to-right per
    * dimension, centroid norm emitted as floor-ppm. (A shuffle-order
    * SUM of doubles would be nondeterministic — this is the
    * deterministic equivalent; at scale, switch to a two-level
    * fixed-order combine or decimal accumulation.) */
  val q34Centroid: Q = Q(
    "q34_centroid",
    s"""WITH byl AS (
       |  SELECT label, list(${DVec} ORDER BY vec_id) AS vs, COUNT(*) AS n
       |  FROM embeddings GROUP BY label
       |), summed AS (
       |  SELECT label, n,
       |    list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)), vs),
       |      (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])) AS sv
       |  FROM byl
       |), cent AS (
       |  SELECT label, n, list_transform(sv, x -> x / n) AS c FROM summed
       |)
       |SELECT label, CAST(n AS BIGINT) AS n,
       |  CAST(FLOOR(sqrt(${dDot("c", "c")}) * 1000000) AS BIGINT) AS centroid_norm_ppm
       |FROM cent ORDER BY label""") { (s, d) =>
    val zero = array_repeat(lit(0.0), Dim)
    Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("v"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("v")))),
          _.getField("v")).as("vs"))
      .select(col("label"), col("n"),
        aggregate(col("vs"), zero, (acc, e) => zip_with(acc, e, (x, y) => x + y)).as("sv"))
      .select(col("label"), col("n"),
        transform(col("sv"), x => x / col("n")).as("c"))
      .select(col("label"), col("n"),
        floor(sqrt(dot(col("c"), col("c"))) * 1000000L).as("centroid_norm_ppm"))
      .orderBy("label")
  }

  /** DuckDB mirror of the per-label deterministic centroid fold. */
  private val DCentroids =
    s"""cents AS (
       |  SELECT label, list_transform(
       |    list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)),
       |      vs), (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])),
       |    x -> x / n) AS c
       |  FROM (SELECT label, list($DVec ORDER BY vec_id) AS vs, COUNT(*) AS n
       |        FROM embeddings GROUP BY label)
       |)""".stripMargin

  /** q54 — IVF-style ANN: the q34 centroids act as the coarse
    * quantizer; every vector is assigned to its best centroid (one
    * small broadcast crossJoin + argmax), queries probe their nprobe=2
    * best cells, and exact cosine re-ranks only the probed cells'
    * vectors. At 100 TB the cell assignment is a map-side pass against
    * broadcast centroids and the probe join touches ~nprobe/k of the
    * corpus — the standard IVF trade. */
  val q54AnnIvf: Q = Q(
    "q54_ann_ivf",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), $DCentroids, scored AS (
       |  SELECT vec_id, v, label, ${dCosPpm("v", "c")} AS s
       |  FROM vecs CROSS JOIN cents
       |), assign AS (
       |  SELECT vec_id, v, label AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rn
       |    FROM scored) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, v AS qv, label AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rn
       |    FROM scored WHERE vec_id < 5) WHERE rn <= 2
       |), cand AS (
       |  SELECT DISTINCT query_id, qv, a.vec_id, a.v
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, ${dCosPpm("qv", "v")} AS cos_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${dCosPpm("qv", "v")} DESC, vec_id) AS rank
       |  FROM cand
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_ppm
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""") { (s, d) =>
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    val cents = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("e"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("e")))),
          _.getField("e")).as("vs"))
      .select(col("label"),
        transform(
          aggregate(col("vs"), array_repeat(lit(0.0), Dim),
            (acc, e) => zip_with(acc, e, (x, y) => x + y)),
          x => x / col("n")).as("c"))
    // corpus-wide cell assignment via the broadcast-codebook argmax
    // (assignTo): one narrow pass, no k×|corpus| expansion, no shuffle.
    // The probe side (5 query vectors × k cells, top-2) is tiny, so the
    // windowed spelling is fine THERE.
    val centsCk = cents.transform(Materialize.snapshot) // consumed by codebook + probe scoring
    val assign = assignTo(vecs, centsCk.select(col("label").as("cluster"), col("c")))
      .select(col("vec_id"), col("v"), col("cluster").as("cell"))
    val wAssign = Window.partitionBy("vec_id").orderBy(col("s").desc, col("label"))
    val probes = vecs.filter(col("vec_id") < 5)
      .crossJoin(broadcast(withNorm(centsCk, "c")))
      .select(col("vec_id"), col("v"), col("label"),
        cosPpmPre(dot(col("v"), col("c")), col("v_nrm"), col("c_nrm")).as("s"))
      .withColumn("rn", row_number().over(wAssign)).filter(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("label").as("cell"))
    val wRank = Window.partitionBy("query_id").orderBy(col("cos_ppm").desc, col("vec_id"))
    // as in q32: dedup on ids only, then re-attach vectors (queries are
    // broadcast; corpus vectors join back on vec_id after the distinct).
    val qvecs = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("v_nrm").as("qv_nrm"))
    broadcast(probes.select(col("query_id"), col("cell"))).as("p").join(assign.as("a"),
        col("p.cell") === col("a.cell") && col("a.vec_id") =!= col("p.query_id"))
      .select(col("p.query_id"), col("a.vec_id"))
      .distinct()
      .join(broadcast(qvecs), "query_id")
      .join(vecs.select(col("vec_id"), col("v"), col("v_nrm")), "vec_id")
      .select(col("query_id"), col("vec_id"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "vec_id", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** q62 — int8 scalar quantization of embeddings (the 4x storage cut a
    * 100 TB embedding store takes before ANN): per-vector max-abs scale
    * to [-127, 127], floor quantize (floor, not round — identical across
    * engines), and the reconstruction-error account in floor-ppm. All
    * folds are explicit left-to-right; every double op has the same
    * shape on both engines, so results are bit-identical. */
  val q62Quantize: Q = Q(
    "q62_quantize",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), mx AS (
       |  SELECT vec_id, v,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> abs(x))),
       |      (m, x) -> greatest(m, x)) AS maxabs
       |  FROM vecs
       |), sc AS (
       |  SELECT vec_id, v, 127.0 / maxabs AS scale FROM mx WHERE maxabs > 0
       |), qs AS (
       |  SELECT vec_id, v, scale,
       |    list_transform(v, x -> CAST(FLOOR(x * scale) AS BIGINT)) AS q
       |  FROM sc
       |)
       |SELECT vec_id,
       |  list_min(q) AS q_min,
       |  list_max(q) AS q_max,
       |  CAST(list_sum(q) AS BIGINT) AS q_sum,
       |  CAST(FLOOR(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(range(1, ${Dim + 1}), i -> abs(v[i] - CAST(q[i] AS DOUBLE) / scale))),
       |    (a, e) -> a + e) * 1000000) AS BIGINT) AS err_ppm
       |FROM qs ORDER BY vec_id""") { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("maxabs",
        aggregate(transform(col("v"), x => abs(x)), lit(0.0), (m, x) => greatest(m, x)))
      .filter(col("maxabs") > 0)
      .withColumn("scale", lit(127.0) / col("maxabs"))
      .withColumn("q", transform(col("v"), x => floor(x * col("scale")).cast("long")))
      .select(col("vec_id"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        aggregate(col("q"), lit(0L), (a, b) => a + b).as("q_sum"),
        floor(aggregate(
          zip_with(col("v"), col("q"), (x, q) => abs(x - q.cast("double") / col("scale"))),
          lit(0.0), (a, e) => a + e) * 1000000L).cast("long").as("err_ppm"))
      .orderBy("vec_id")
  }

  /** Deterministic per-cluster centroid of (cluster, vec_id, v) rows:
    * members fold in explicit vec_id order (the repo's double-precision
    * determinism rule — a shuffle-order SUM would drift between
    * engines). The collect_list bounds at |cluster| vectors; at 100 TB
    * with huge clusters the production variant switches to fixed-point
    * integer partial sums (order-independent), trading the oracle's
    * bit-exactness for distribution — same plan shape otherwise. */
  private def centroidsOf(assigned: DataFrame): DataFrame =
    assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("v")))),
          _.getField("v")).as("vs"))
      .select(col("cluster"), col("n"),
        transform(
          aggregate(col("vs"), array_repeat(lit(0.0), Dim),
            (acc, e) => zip_with(acc, e, (x, y) => x + y)),
          x => x / col("n")).as("c"))

  /** Argmax-cosine assignment of every vector to a broadcast centroid
    * codebook (tie-break min cluster id) — genuinely one map-side
    * pass: the k centroids collapse into a single broadcast row (an
    * array of (cluster, c, c_nrm) structs) and the argmax runs INSIDE
    * each corpus row with array expressions. No k×|corpus| expansion,
    * no per-vector window, no shuffle of the corpus at all — the plan
    * shape the 100 TB claim requires (the earlier row_number spelling
    * hash-exchanged every scored pair, vectors included).
    *
    * Tie-break: array_max over struct(s, -cluster) picks max score
    * then max(-cluster) = MIN cluster — the oracle's
    * `ORDER BY s DESC, cluster` rn=1 exactly. */
  /** One-row broadcastable codebook: (cluster, centroid, norm) structs. */
  private def codebookOf(cents: DataFrame): DataFrame =
    withNorm(cents.select(col("cluster"), col("c")), "c")
      .agg(collect_list(struct(col("cluster"), col("c"), col("c_nrm"))).as("cb"))

  /** Per-centroid score structs of row vector `v` against the broadcast
    * codebook column: (cosine ppm, -cluster, cluster). array_max over
    * these = argmax score with MIN-cluster tie-break (max(-cluster)) —
    * the oracle's `ORDER BY s DESC, cluster` rn=1. The struct carries
    * the original cluster value (and type) along; comparison never
    * reaches it — (s, negc) already totally orders. */
  private def codebookScores(cb: Column): Column = transform(cb, ct =>
    struct(
      cosPpmPre(dot(col("v"), ct.getField("c")),
        col("v_nrm"), ct.getField("c_nrm")).as("s"),
      (-ct.getField("cluster").cast("long")).as("negc"),
      ct.getField("cluster").as("cluster")))

  /** Broadcast-codebook argmax assignment (vec_id, v) x (cluster, c) ->
    * (vec_id, v, cluster). Package-visible: the streaming twin
    * (streaming.Streaming.ivfAssignStream) runs the SAME code path. */
  private[graft] def assignTo(vecs: DataFrame, cents: DataFrame): DataFrame =
    withNorm(vecs, "v")
      .crossJoin(broadcast(codebookOf(cents)))
      .select(col("vec_id"), col("v"),
        array_max(codebookScores(col("cb"))).getField("cluster").as("cluster"))

  /** q98 — k-means (Lloyd) refinement, two unrolled iterations: init
    * centroids from the per-label means (q34), then twice
    * assign-to-nearest + recompute — the iterative-ML loop a Spark
    * engine runs as: broadcast the k centroids, one narrow corpus pass
    * per iteration for assignment, one k-key aggregation for the
    * update. Per iteration the corpus is SCANNED once and never
    * shuffled (the only exchange carries k partial centroid states), so
    * 100 TB x N iterations = N linear passes. The DuckDB oracle unrolls
    * the same two iterations as CTE stages. */
  val q98KmeansLloyd: Q = Q(
    "q98_kmeans_lloyd",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), cents0 AS (
       |  SELECT label AS cluster, list_transform(
       |    list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)),
       |      vs), (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])),
       |    x -> x / n) AS c
       |  FROM (SELECT label, list($DVec ORDER BY vec_id) AS vs, COUNT(*) AS n
       |        FROM embeddings GROUP BY label)
       |), a1 AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT vec_id, v, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${dCosPpm("v", "c")} DESC, cluster) AS rn
       |    FROM vecs CROSS JOIN cents0) WHERE rn = 1
       |), c1 AS (
       |  SELECT cluster, list_transform(
       |    list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)),
       |      vs), (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])),
       |    x -> x / n) AS c
       |  FROM (SELECT cluster, list(v ORDER BY vec_id) AS vs, COUNT(*) AS n
       |        FROM a1 GROUP BY cluster)
       |), a2 AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT vec_id, v, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${dCosPpm("v", "c")} DESC, cluster) AS rn
       |    FROM vecs CROSS JOIN c1) WHERE rn = 1
       |), c2 AS (
       |  SELECT cluster, n, list_transform(sv, x -> x / n) AS c FROM (
       |    SELECT cluster, COUNT(*) AS n,
       |      list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)),
       |        list(v ORDER BY vec_id)),
       |        (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])) AS sv
       |    FROM a2 GROUP BY cluster)
       |)
       |SELECT cluster, CAST(n AS BIGINT) AS n,
       |  CAST(FLOOR(sqrt(${dDot("c", "c")}) * 1000000) AS BIGINT) AS centroid_norm_ppm
       |FROM c2 ORDER BY cluster""") { (s, d) =>
    val vecs = graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .transform(Materialize.snapshot) // read once per iteration, not re-scanned per reference
    val cents0 = Tables.embeddings(s, d)
      .select(col("label").as("cluster"), col("vec_id"),
        asDouble(col("embedding")).as("v"))
      .transform(centroidsOf)
    val c1 = centroidsOf(assignTo(vecs, cents0))
    val c2 = centroidsOf(assignTo(vecs, c1))
    c2.select(col("cluster"), col("n").cast("long").as("n"),
        floor(sqrt(dot(col("c"), col("c"))) * 1000000L).cast("long")
          .as("centroid_norm_ppm"))
      .orderBy("cluster")
  }

  /** q99 — hard-negative mining for contrastive training: for each
    * anchor (vec_id < 5), the most similar SAME-label vector is the
    * positive and the most similar DIFFERENT-label vector the hard
    * negative; margin = pos - neg in ppm. One broadcast of the tiny
    * anchor side, one scored corpus pass (materialized once, consumed
    * by both windows), two per-anchor top-1 windows — the corpus never
    * shuffles, the windows see ~|corpus|/|anchors| rows each. */
  val q99HardNegatives: Q = Q(
    "q99_hard_negatives",
    s"""WITH vecs AS (
       |  SELECT vec_id, label, $DVec AS v FROM embeddings
       |), qs AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM vecs WHERE vec_id < 5
       |), scored AS (
       |  SELECT query_id, qlabel, vec_id, label, ${dCosPpm("qv", "v")} AS cos_ppm
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), pos AS (
       |  SELECT query_id, vec_id AS pos_id, cos_ppm AS pos_cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_ppm DESC, vec_id) AS rn
       |    FROM scored WHERE label = qlabel) WHERE rn = 1
       |), neg AS (
       |  SELECT query_id, vec_id AS neg_id, cos_ppm AS neg_cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_ppm DESC, vec_id) AS rn
       |    FROM scored WHERE label <> qlabel) WHERE rn = 1
       |)
       |SELECT pos.query_id AS query_id, pos_id, pos_cos, neg_id, neg_cos,
       |  pos_cos - neg_cos AS margin
       |FROM pos JOIN neg ON pos.query_id = neg.query_id
       |ORDER BY pos.query_id""") { (s, d) =>
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")), "v")
    val qs = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("v_nrm").as("qv_nrm"))
    val scored = vecs.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"))
      .transform(Materialize.snapshot) // consumed by both the pos and neg windows
    val w = Window.partitionBy("query_id").orderBy(col("cos_ppm").desc, col("vec_id"))
    val pos = scored.filter(col("label") === col("qlabel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("pos_id"), col("cos_ppm").as("pos_cos"))
    val neg = scored.filter(col("label") =!= col("qlabel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("neg_id"), col("cos_ppm").as("neg_cos"))
    pos.join(neg, "query_id")
      .select(col("query_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy("query_id")
  }

  /** q100 — product quantization: the 64-dim space splits into 8
    * 8-dim subspaces; each subspace gets a 10-entry codebook (the
    * per-label sub-centroids — deterministic, like q98's init) and
    * every vector is encoded as 8 small code ids by nearest sub-centroid
    * (min squared-L2, tie-break min code). The 64-float vector becomes
    * 8 bytes — the memory layout an ANN index holds at 100 TB — and the
    * query reports the code plus the reconstruction error the
    * compression costs. Plan shape: codebook = one k×8-key aggregation;
    * encoding = one narrow corpus pass against the BROADCAST codebook
    * (the corpus never shuffles); the histogram is an 80-key agg.
    * Sub-distances are explicit left-to-right folds (determinism rule).
    * Completes the quantization family: q62 scalar int8, q100 PQ. */
  val q100ProductQuant: Q = Q(
    "q100_product_quant",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), sub AS (
       |  SELECT vec_id, s, list_transform(range(1, 9), i -> v[s*8 + i]) AS sv
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0, 8)) AS s)
       |), cb AS (
       |  SELECT s, label AS code, list_transform(
       |    list_reduce(list_prepend(list_transform(range(0,8), x -> CAST(0 AS DOUBLE)), vs),
       |      (acc, e) -> list_transform(range(1,9), i -> acc[i] + e[i])),
       |    x -> x / n) AS c
       |  FROM (
       |    SELECT s, label, list(sv ORDER BY vec_id) AS vs, COUNT(*) AS n FROM (
       |      SELECT e.vec_id, e.label, t.s,
       |        list_transform(range(1, 9), i -> ${DVec.replace("embedding", "e.embedding")}[t.s*8 + i]) AS sv
       |      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS s) t)
       |    GROUP BY s, label)
       |), scored AS (
       |  SELECT sub.vec_id, sub.s, cb.code,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 9), i -> (sv[i] - c[i]) * (sv[i] - c[i]))),
       |      (a, e) -> a + e) AS d2
       |  FROM sub JOIN cb ON sub.s = cb.s
       |), coded AS (
       |  SELECT vec_id, s, code, d2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |    FROM scored) WHERE rn = 1
       |)
       |SELECT vec_id,
       |  array_to_string(list(CAST(code AS VARCHAR) ORDER BY s), '|') AS pq_code,
       |  CAST(FLOOR(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(d2 ORDER BY s)),
       |    (a, e) -> a + e) * 1000000) AS BIGINT) AS recon_err_ppm
       |FROM coded GROUP BY vec_id ORDER BY vec_id""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    // (vec_id, [label], s, 8-dim subvector) rows: one narrow explode
    def subRows(df: DataFrame, extra: Column*): DataFrame = df
      .withColumn("s", explode(array((0 until 8).map(i => lit(i.toLong)): _*)))
      .select((extra :+ col("vec_id") :+ col("s") :+
        slice(asDouble(col("embedding")), (col("s") * 8 + 1).cast("int"), lit(8))
          .as("sv")): _*)
    val zero8 = array_repeat(lit(0.0), 8)
    val cb = subRows(emb, col("label")).groupBy("s", "label")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("sv")))),
          _.getField("sv")).as("vs"))
      .select(col("s"), col("label").as("code"),
        transform(
          aggregate(col("vs"), zero8, (acc, e) => zip_with(acc, e, (x, y) => x + y)),
          x => x / col("n")).as("c"))
    val d2 = aggregate(
      zip_with(col("sv"), col("c"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, e) => a + e)
    val w = Window.partitionBy("vec_id", "s").orderBy(col("d2"), col("code"))
    graft.Q.stageBarrier(subRows(emb))
      .join(broadcast(cb), "s")
      .select(col("vec_id"), col("s"), col("code"), d2.as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("vec_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("s"), col("code")))),
          e => e.getField("code").cast("string")), "|").as("pq_code"),
        floor(aggregate(
          transform(sort_array(collect_list(struct(col("s"), col("d2")))),
            _.getField("d2")),
          lit(0.0), (a, e) => a + e) * 1000000L).cast("long").as("recon_err_ppm"))
      .orderBy("vec_id")
  }

  /** q137 — IVF-PQ search (the FAISS IndexIVFPQ architecture as a
    * declarative plan): coarse quantizer = the q54 IVF cells, fine
    * quantizer = the q100 product codes, search = probe nprobe=2 cells,
    * score candidates by ADC (asymmetric distance computation: each
    * query precomputes an 8x10 lookup table of subspace inner products
    * against the codebook, a candidate's approximate score is 8 table
    * adds over its CODE — the vector itself is never read), shortlist
    * top-20, then exact-cosine re-rank to the final top-5.
    *
    * Scale shape — this is the production ANN serving stack: the index
    * build (cell assignment + PQ encode) is two narrow corpus passes
    * against broadcast codebooks, after which the search path touches
    * (a) the probed cells only (~nprobe/k of the corpus) and (b) only
    * their 8-byte codes — the ADC join moves (vec_id, s, code) ints
    * and the per-query LUT is broadcast; full 64-double vectors are
    * read for exactly 20 candidates per query at re-rank. At 100 TB
    * the codes are ~1/32 the vector bytes and the scan fraction is
    * nprobe/k of that. Every fold is explicit left-to-right in
    * double precision (determinism policy), ADC scores floor to ppm
    * with vec_id tie-breaks, so the shortlist cut is identical in
    * both engines. */
  val q137IvfPqSearch: Q = Q(
    "q137_ivfpq_search",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), $DCentroids, scored AS (
       |  SELECT vec_id, label, ${dCosPpm("v", "c")} AS sc
       |  FROM vecs CROSS JOIN cents
       |), assign AS (
       |  SELECT vec_id, label AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, label) AS rn
       |    FROM scored) WHERE rn = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, label AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sc DESC, label) AS rn
       |    FROM scored WHERE vec_id < 5) WHERE rn <= 2
       |), sub AS (
       |  SELECT vec_id, s, list_transform(range(1, 9), i -> v[s*8 + i]) AS sv
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0, 8)) AS s)
       |), cb AS (
       |  SELECT s, label AS code, list_transform(
       |    list_reduce(list_prepend(list_transform(range(0,8), x -> CAST(0 AS DOUBLE)), vs),
       |      (acc, e) -> list_transform(range(1,9), i -> acc[i] + e[i])),
       |    x -> x / n) AS c
       |  FROM (
       |    SELECT s, label, list(sv ORDER BY vec_id) AS vs, COUNT(*) AS n FROM (
       |      SELECT e.vec_id, e.label, t.s,
       |        list_transform(range(1, 9), i -> ${DVec.replace("embedding", "e.embedding")}[t.s*8 + i]) AS sv
       |      FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS s) t)
       |    GROUP BY s, label)
       |), coded AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT sub.vec_id, sub.s, cb.code,
       |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(1, 9), i -> (sv[i] - c[i]) * (sv[i] - c[i]))),
       |          (a, e) -> a + e), code) AS rn
       |    FROM sub JOIN cb ON sub.s = cb.s) WHERE rn = 1
       |), lut AS (
       |  SELECT q.vec_id AS query_id, cb.s, cb.code,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 9), i -> sv[i] * c[i])), (x, y) -> x + y) AS ip
       |  FROM (SELECT * FROM sub WHERE vec_id < 5) q JOIN cb ON q.s = cb.s
       |), cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id
       |), adc AS (
       |  SELECT query_id, vec_id,
       |    CAST(FLOOR(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ip ORDER BY s)),
       |      (x, y) -> x + y) * 1000000) AS BIGINT) AS adc_ppm
       |  FROM (
       |    SELECT c.query_id, c.vec_id, co.s, l.ip
       |    FROM cand c JOIN coded co ON co.vec_id = c.vec_id
       |    JOIN lut l ON l.query_id = c.query_id AND l.s = co.s AND l.code = co.code)
       |  GROUP BY query_id, vec_id
       |), short AS (
       |  SELECT query_id, vec_id, adc_ppm FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_ppm DESC, vec_id) AS rn FROM adc) WHERE rn <= 20
       |)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_ppm, cos_ppm FROM (
       |  SELECT sh.query_id, sh.vec_id, sh.adc_ppm,
       |    ${dCosPpm("qv.v", "cv.v")} AS cos_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY sh.query_id
       |      ORDER BY ${dCosPpm("qv.v", "cv.v")} DESC, sh.vec_id) AS rank
       |  FROM short sh JOIN vecs qv ON qv.vec_id = sh.query_id
       |  JOIN vecs cv ON cv.vec_id = sh.vec_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val vecs = withNorm(graft.Q.stageBarrier(emb)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    // coarse quantizer: q54's centroids + broadcast-argmax assignment
    val cents = emb
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("e"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("e")))),
          _.getField("e")).as("vs"))
      .select(col("label"),
        transform(
          aggregate(col("vs"), array_repeat(lit(0.0), Dim),
            (acc, e) => zip_with(acc, e, (x, y) => x + y)),
          x => x / col("n")).as("c"))
      .transform(Materialize.snapshot) // consumed by assignment + probe scoring
    val assign = assignTo(vecs, cents.select(col("label").as("cluster"), col("c")))
      .select(col("vec_id"), col("cluster").as("cell"))
    val wProbe = Window.partitionBy("vec_id").orderBy(col("sc").desc, col("label"))
    val probes = vecs.filter(col("vec_id") < 5)
      .crossJoin(broadcast(withNorm(cents, "c")))
      .select(col("vec_id"), col("label"),
        cosPpmPre(dot(col("v"), col("c")), col("v_nrm"), col("c_nrm")).as("sc"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("label").as("cell"))
    // fine quantizer: q100's per-subspace codebook + corpus encode
    def subRows(df: DataFrame, extra: Column*): DataFrame = df
      .withColumn("s", explode(array((0 until 8).map(i => lit(i.toLong)): _*)))
      .select((extra :+ col("vec_id") :+ col("s") :+
        slice(asDouble(col("embedding")), (col("s") * 8 + 1).cast("int"), lit(8))
          .as("sv")): _*)
    val zero8 = array_repeat(lit(0.0), 8)
    val cb = subRows(emb, col("label")).groupBy("s", "label")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("sv")))),
          _.getField("sv")).as("vs"))
      .select(col("s"), col("label").as("code"),
        transform(
          aggregate(col("vs"), zero8, (acc, e) => zip_with(acc, e, (x, y) => x + y)),
          x => x / col("n")).as("c"))
      .transform(Materialize.snapshot) // consumed by encode + ADC lookup tables
    val d2 = aggregate(
      zip_with(col("sv"), col("c"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, e) => a + e)
    val wCode = Window.partitionBy("vec_id", "s").orderBy(col("d2"), col("code"))
    val coded = graft.Q.stageBarrier(subRows(emb))
      .join(broadcast(cb), "s")
      .select(col("vec_id"), col("s"), col("code"), d2.as("d2"))
      .withColumn("rn", row_number().over(wCode)).filter(col("rn") === 1)
      .select("vec_id", "s", "code")
    // per-query ADC lookup tables: 5 queries x 8 subspaces x 10 codes
    val lut = subRows(emb.filter(col("vec_id") < 5))
      .select(col("vec_id").as("query_id"), col("s"), col("sv"))
      .join(broadcast(cb), "s")
      .select(col("query_id"), col("s"), col("code"),
        dot(col("sv"), col("c")).as("ip"))
    val cand = broadcast(probes).join(assign, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val adc = cand.join(coded, "vec_id")
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .groupBy("query_id", "vec_id")
      .agg(floor(aggregate(
        transform(sort_array(collect_list(struct(col("s"), col("ip")))),
          _.getField("ip")),
        lit(0.0), (a, e) => a + e) * 1000000L).cast("long").as("adc_ppm"))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc_ppm").desc, col("vec_id"))
    val short = adc.withColumn("rn", row_number().over(wAdc)).filter(col("rn") <= 20)
      .select("query_id", "vec_id", "adc_ppm")
    val qvecs = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("v_nrm").as("qv_nrm"))
    val wRank = Window.partitionBy("query_id").orderBy(col("cos_ppm").desc, col("vec_id"))
    short.join(broadcast(qvecs), "query_id")
      .join(vecs.select(col("vec_id"), col("v"), col("v_nrm")), "vec_id")
      .select(col("query_id"), col("vec_id"), col("adc_ppm"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "vec_id", "adc_ppm", "cos_ppm")
      .orderBy("query_id", "rank")
  }

  /** q104 — ANN recall evaluation: score the two approximate indexes
    * (hyperplane-LSH q32, IVF q54) against the brute-force ground
    * truth (q31) as recall-of-true-top-10 per query — the evaluation
    * harness every ANN deployment runs before trading exactness for
    * speed. Composes the three pipelines verbatim (Spark side reuses
    * the Q functions; the oracle nests the three oracle SQLs as
    * subqueries), so the metric can never drift from the systems it
    * measures. The scoring itself is a tiny id-only join — the cost is
    * the underlying pipelines. */
  val q104AnnRecall: Q = Q(
    "q104_ann_recall",
    s"""WITH truth AS (
       |  SELECT query_id, vec_id FROM (${q31KnnBrute.oracle.get})
       |), lsh AS (
       |  SELECT query_id, vec_id FROM (${q32AnnLsh.oracle.get})
       |), ivf AS (
       |  SELECT query_id, vec_id FROM (${q54AnnIvf.oracle.get})
       |), qs AS (SELECT DISTINCT query_id FROM truth),
       |hits AS (
       |  SELECT 'lsh' AS method, t.query_id, COUNT(l.vec_id) AS n_hit
       |  FROM truth t LEFT JOIN lsh l USING (query_id, vec_id) GROUP BY t.query_id
       |  UNION ALL
       |  SELECT 'ivf', t.query_id, COUNT(i.vec_id)
       |  FROM truth t LEFT JOIN ivf i USING (query_id, vec_id) GROUP BY t.query_id
       |)
       |SELECT method, query_id, CAST(n_hit AS BIGINT) AS n_hit,
       |  CAST(FLOOR(CAST(n_hit AS BIGINT)*1000000/10) AS BIGINT) AS recall_ppm
       |FROM hits ORDER BY method, query_id""") { (s, d) =>
    val truth = q31KnnBrute.fn(s, d).select(col("query_id"), col("vec_id"))
      .transform(Materialize.snapshot) // scored against both methods
    def recallOf(name: String, approx: DataFrame): DataFrame =
      truth.as("t")
        .join(approx.select(col("query_id"), col("vec_id")).as("a"),
          Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
        .join(truth.select("query_id").distinct(), Seq("query_id"), "right")
        .select(lit(name).as("method"), col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    recallOf("lsh", q32AnnLsh.fn(s, d))
      .unionByName(recallOf("ivf", q54AnnIvf.fn(s, d)))
      .select(col("method"), col("query_id"), col("n_hit"),
        floor(col("n_hit") * 1000000L / 10L).cast("long").as("recall_ppm"))
      .orderBy("method", "query_id")
  }

  /** q311 — IVF nprobe operating curve: recall@10 AND candidate-scan
    * cost for nprobe ∈ {1, 2, 4, 8} — the tuning readout behind q54's
    * single fixed operating point, and the ANN analog of q277's dedup
    * threshold curve: "how many cells to probe" is THE
    * recall-vs-latency knob an IVF deployment turns at 100 TB, and the
    * decision needs the whole curve, not one sample. Exactness trick:
    * with exact cosine re-ranking a candidate SUBSET, any candidate
    * scoring above a true-top-10 member is itself true-top-10, so
    * recall@10 = |truth ∩ candidates| / 10 — the curve needs no
    * re-rank at all, just the id-intersection. All outputs are exact
    * integers (candidate counts, hit counts, floor-ppm recall); the
    * only doubles are the q54 probe/assignment cosines, reused in
    * their bit-identical spellings.
    *
    * Scale: one broadcast-codebook assignment pass (no shuffle), a
    * ≤ |queries|·8·4-row broadcast probe spine, and the truth join is
    * ids-only; the cost column (n_candidates) IS the quantity a real
    * deployment pays per probe setting — measured here, not modeled. */
  val q311NprobeCurve: Q = Q(
    "q311_nprobe_curve",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), $DCentroids, scored AS (
       |  SELECT vec_id, v, label, ${dCosPpm("v", "c")} AS s
       |  FROM vecs CROSS JOIN cents
       |), assign AS (
       |  SELECT vec_id, label AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rn
       |    FROM scored) WHERE rn = 1
       |), proberanks AS (
       |  SELECT vec_id AS query_id, label AS cell, rn FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rn
       |    FROM scored WHERE vec_id < 5) WHERE rn <= 8
       |), np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
       |cand AS (
       |  SELECT np.nprobe, p.query_id, a.vec_id
       |  FROM np JOIN proberanks p ON p.rn <= np.nprobe
       |  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |), truth AS (
       |  SELECT query_id, vec_id FROM (${q31KnnBrute.oracle.get})
       |), qn AS (SELECT COUNT(DISTINCT query_id) AS nq FROM truth),
       |stats AS (
       |  SELECT c.nprobe, COUNT(*) AS n_candidates,
       |    SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
       |  FROM cand c LEFT JOIN truth t
       |    ON t.query_id = c.query_id AND t.vec_id = c.vec_id
       |  GROUP BY c.nprobe
       |)
       |SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
       |  CAST(qn.nq AS BIGINT) AS n_queries,
       |  CAST(COALESCE(s.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(COALESCE(s.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(s.n_hits, 0) * 1000000 // (10 * qn.nq) AS BIGINT) AS recall_ppm
       |FROM np LEFT JOIN stats s ON s.nprobe = np.nprobe CROSS JOIN qn
       |ORDER BY nprobe""") { (s, d) =>
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    val cents = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("e"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("e")))),
          _.getField("e")).as("vs"))
      .select(col("label"),
        transform(
          aggregate(col("vs"), array_repeat(lit(0.0), Dim),
            (acc, e) => zip_with(acc, e, (x, y) => x + y)),
          x => x / col("n")).as("c"))
      .transform(Materialize.snapshot) // consumed by the codebook and the probe ranking
    val assign = assignTo(vecs, cents.select(col("label").as("cluster"), col("c")))
      .select(col("vec_id"), col("cluster").as("cell"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("s").desc, col("cell"))
    val probeRanks = vecs.filter(col("vec_id") < 5)
      .crossJoin(broadcast(withNorm(cents, "c")))
      .select(col("vec_id").as("query_id"), col("label").as("cell"),
        cosPpmPre(dot(col("v"), col("c")), col("v_nrm"), col("c_nrm")).as("s"))
      .withColumn("rn", row_number().over(wProbe)).filter(col("rn") <= 8)
      .select("query_id", "cell", "rn")
    val spine = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L),
      Tuple1(8L))).toDF("nprobe")
    val probed = probeRanks.crossJoin(spine) // ≤ 5·8·4 rows, broadcast below
      .filter(col("rn") <= col("nprobe"))
      .select(col("nprobe"), col("query_id"), col("cell"))
    val truth = q31KnnBrute.fn(s, d).select(col("query_id"), col("vec_id"))
      .transform(Materialize.snapshot) // hit test + the 1-row query count
    val nq = truth.select("query_id").distinct().agg(count(lit(1)).as("nq"))
    val stats = broadcast(probed).join(assign, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(truth.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    spine.join(stats, Seq("nprobe"), "left")
      .crossJoin(broadcast(nq)) // 1-row query count
      .select(col("nprobe"),
        col("nq").as("n_queries"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("CAST(coalesce(n_hits, CAST(0 AS BIGINT)) * 1000000 div (10 * nq) AS BIGINT)")
          .as("recall_ppm"))
      .orderBy("nprobe")
  }

  /** q109 — SemDeDup (semantic dedup, Abbas et al. 2023 shape): planted
    * near-copies (every 10th vector, first coord ×1.001 — the q33
    * augmentation) are caught by clustering the space and comparing
    * pairs ONLY within a cluster. Cluster = argmax-cosine against the
    * broadcast per-label centroid codebook (q98's init), so assignment
    * is one map-side corpus pass; the pairwise stage then shuffles on
    * the cluster id and compares Σ n_c² pairs instead of n² — the
    * reduction that makes semantic dedup feasible at 100 TB, where k
    * grows with the corpus to keep each n_c bounded. A vector is
    * dropped when some LOWER-id vector in its cluster has cosine ≥
    * 0.999 (greedy keep-first, the q30 resolution rule); the report
    * lists each dropped vector with its duplicate count and closest
    * lower-id neighbor similarity. Norms are precomputed per row, so
    * each candidate pair costs one dot product. */
  val q109SemDedup: Q = Q(
    "q109_semdedup",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), aug AS (
       |  SELECT vec_id, v FROM vecs
       |  UNION ALL
       |  SELECT vec_id+1000000, list_transform(range(1,${Dim + 1}), i -> CASE WHEN i = 1 THEN v[i]*1.001 ELSE v[i] END)
       |  FROM vecs WHERE vec_id % 10 = 0
       |), cents0 AS (
       |  SELECT label AS cluster, list_transform(
       |    list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)),
       |      vs), (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])),
       |    x -> x / n) AS c
       |  FROM (SELECT label, list($DVec ORDER BY vec_id) AS vs, COUNT(*) AS n
       |        FROM embeddings GROUP BY label)
       |), assigned AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT vec_id, v, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY ${dCosPpm("v", "c")} DESC, cluster) AS rn
       |    FROM aug CROSS JOIN cents0) WHERE rn = 1
       |), dup AS (
       |  SELECT y.vec_id AS vec_id, y.cluster AS cluster,
       |    ${dCosPpm("x.v", "y.v")} AS cos_ppm
       |  FROM assigned x JOIN assigned y
       |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  WHERE ${dCosPpm("x.v", "y.v")} >= 999000
       |)
       |SELECT vec_id, cluster, CAST(COUNT(*) AS BIGINT) AS n_dups,
       |  MAX(cos_ppm) AS max_cos_ppm
       |FROM dup GROUP BY vec_id, cluster
       |ORDER BY vec_id""") { (s, d) =>
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val aug = vecs.unionByName(
      vecs.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x * 1.001).otherwise(x)).as("v")))
    val cents0 = Tables.embeddings(s, d)
      .select(col("label").as("cluster"), col("vec_id"),
        asDouble(col("embedding")).as("v"))
      .transform(centroidsOf)
    // assignTo: broadcast codebook, map-side argmax — corpus unshuffled
    val assigned = withNorm(assignTo(aug, cents0), "v")
      .transform(Materialize.snapshot) // both sides of the pair join read it
    val pairs = assigned.as("x").join(assigned.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"), col("y.cluster").as("cluster"),
        cosPpmPre(dot(col("x.v"), col("y.v")),
          col("x.v_nrm"), col("y.v_nrm")).as("cos_ppm"))
      .filter(col("cos_ppm") >= 999000L)
    pairs.groupBy("vec_id", "cluster")
      .agg(count(lit(1)).as("n_dups"), max(col("cos_ppm")).as("max_cos_ppm"))
      .orderBy("vec_id")
  }

  /** q116 — margin-based bitext mining (the Artetxe-Schwenk shape used
    * to pair cross-lingual training sentences): for each English anchor
    * (vec_id < 20), score every non-English document's embedding, and
    * rate the best match not by raw cosine but by its MARGIN over the
    * anchor's top-8 neighborhood — margin = cos·k / Σ(top-k cos) — so a
    * match only counts when it stands out from the anchor's generic
    * neighborhood (raw cosine over-selects hubs). Integer-exact: pair
    * scores are floor-ppm, the top-8 denominator is an integer SUM of
    * those (order-independent), and the margin one floor ratio with a
    * non-positive-denominator guard. Scale shape: the 20 anchors
    * broadcast into one scored corpus pass (corpus never shuffles
    * before the per-anchor top-k), and each anchor keeps 8 rows; at
    * real scale the scored pass swaps for the ANN index (q32/q54) with
    * the same margin stage on top. */
  val q116BitextMine: Q = Q(
    "q116_bitext_mine",
    s"""WITH vecs AS (
       |  SELECT e.vec_id AS vec_id, d.lang AS lang, $DVec AS v
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |), anchors AS (
       |  SELECT vec_id AS anchor_id, v AS av FROM vecs
       |  WHERE lang = 'en' AND vec_id < 20
       |), scored AS (
       |  SELECT anchor_id, vec_id, lang, ${dCosPpm("av", "v")} AS cos_ppm
       |  FROM anchors CROSS JOIN vecs WHERE lang <> 'en'
       |), ranked AS (
       |  SELECT anchor_id, vec_id, lang, cos_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY anchor_id
       |      ORDER BY cos_ppm DESC, vec_id) AS rn
       |  FROM scored
       |), denom AS (
       |  SELECT anchor_id, CAST(SUM(cos_ppm) AS BIGINT) AS top8_sum
       |  FROM ranked WHERE rn <= 8 GROUP BY anchor_id
       |)
       |SELECT r.anchor_id AS anchor_id, r.vec_id AS match_id,
       |  r.lang AS match_lang, r.cos_ppm AS cos_ppm, top8_sum,
       |  CASE WHEN top8_sum <= 0 THEN 0
       |       ELSE CAST(FLOOR(r.cos_ppm * 8 * 1000000 / top8_sum) AS BIGINT)
       |  END AS margin_ppm
       |FROM ranked r JOIN denom USING (anchor_id)
       |WHERE rn = 1 ORDER BY anchor_id""") { (s, d) =>
    val vecs = Tables.embeddings(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("lang"), asDouble(col("embedding")).as("v"))
    val anchors = withNorm(vecs.filter(col("lang") === "en" && col("vec_id") < 20)
      .select(col("vec_id").as("anchor_id"), col("v").as("av")), "av")
    val scored = withNorm(graft.Q.stageBarrier(vecs.filter(col("lang") =!= "en")), "v")
      .crossJoin(broadcast(anchors))
      .select(col("anchor_id"), col("vec_id"), col("lang"),
        cosPpmPre(dot(col("av"), col("v")), col("av_nrm"), col("v_nrm")).as("cos_ppm"))
      .transform(Materialize.snapshot) // feeds the rank AND the top-8 denominator
    val w = Window.partitionBy("anchor_id").orderBy(col("cos_ppm").desc, col("vec_id"))
    val ranked = scored.withColumn("rn", row_number().over(w))
    val denom = ranked.filter(col("rn") <= 8)
      .groupBy("anchor_id").agg(sum(col("cos_ppm")).as("top8_sum"))
    ranked.filter(col("rn") === 1)
      .join(broadcast(denom), "anchor_id")
      .select(col("anchor_id"), col("vec_id").as("match_id"),
        col("lang").as("match_lang"), col("cos_ppm"), col("top8_sum"),
        when(col("top8_sum") <= 0, 0L)
          .otherwise(floor(col("cos_ppm") * 8 * 1000000L / col("top8_sum")))
          .cast("long").as("margin_ppm"))
      .orderBy("anchor_id")
  }

  /** q117 — clustering-quality report (the evaluation pass after q98,
    * as q104 is for ANN): every vector scores against the BROADCAST
    * centroid codebook in one narrow pass, keeping its best and
    * second-best centroid similarities; the per-vector assignment
    * margin (best − second-best, ppm — the cosine cousin of the
    * silhouette's a−b, non-negative because assignment IS the argmax)
    * aggregates per cluster into cohesion (mean own-centroid cosine),
    * mean and worst margin — low margins mark clusters bleeding into a
    * neighbor. The corpus never shuffles scored pairs: the k scores
    * collapse to two inside each row's array expression, and the only
    * exchange carries k-keyed integer partials. */
  val q117ClusterQuality: Q = Q(
    "q117_cluster_quality",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), cents0 AS (
       |  SELECT label AS cluster, list_transform(
       |    list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)),
       |      vs), (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])),
       |    x -> x / n) AS c
       |  FROM (SELECT label, list($DVec ORDER BY vec_id) AS vs, COUNT(*) AS n
       |        FROM embeddings GROUP BY label)
       |), scored AS (
       |  SELECT vec_id, cluster, ${dCosPpm("v", "c")} AS s
       |  FROM vecs CROSS JOIN cents0
       |), rk AS (
       |  SELECT vec_id, cluster, s,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster) AS rn
       |  FROM scored
       |), pv AS (
       |  SELECT b.vec_id AS vec_id, b.cluster AS cluster, b.s AS a,
       |    b.s - s2.s AS margin
       |  FROM rk b JOIN rk s2 ON b.vec_id = s2.vec_id AND s2.rn = 2
       |  WHERE b.rn = 1
       |)
       |SELECT cluster, COUNT(*) AS n,
       |  ${Clean.dRatio("SUM(a)", "COUNT(*)", 1L)} AS mean_cos_ppm,
       |  ${Clean.dRatio("SUM(margin)", "COUNT(*)", 1L)} AS mean_margin_ppm,
       |  CAST(MIN(margin) AS BIGINT) AS min_margin_ppm
       |FROM pv GROUP BY cluster ORDER BY cluster""") { (s, d) =>
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    val cents0 = Tables.embeddings(s, d)
      .select(col("label").as("cluster"), col("vec_id"),
        asDouble(col("embedding")).as("v"))
      .transform(centroidsOf)
    // k scores collapse to (best, runner-up) INSIDE each row — the same
    // broadcast-argmax shape as assignTo, extended to keep the second
    // best. The scored array materializes ONCE as its own projection:
    // best/margin referencing it repeatedly would otherwise re-run the
    // k dot products per reference (lambda subtrees are excluded from
    // subexpression elimination — the minhashSigFromHashes trap).
    val pv = vecs.crossJoin(broadcast(codebookOf(cents0)))
      .select(col("vec_id"), codebookScores(col("cb")).as("sc"))
      .select(col("vec_id"), col("sc"), array_max(col("sc")).as("bst"))
      .select(col("vec_id"),
        col("bst").getField("cluster").as("cluster"),
        col("bst").getField("s").as("a"),
        (col("bst").getField("s") - array_max(filter(col("sc"),
          x => x.getField("cluster") =!= col("bst").getField("cluster")))
          .getField("s")).as("margin"))
      // single-cluster codebook: no runner-up exists — drop the row like
      // the oracle's inner join on rn = 2 (unreachable with >= 2 labels)
      .filter(col("margin").isNotNull)
    pv.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("margin")).as("sm"), min(col("margin")).as("min_margin_ppm"))
      .select(col("cluster"), col("n"),
        graft.functions.TextFunctions.ratioScaled(col("sa"), col("n"), 1L)
          .as("mean_cos_ppm"),
        graft.functions.TextFunctions.ratioScaled(col("sm"), col("n"), 1L)
          .as("mean_margin_ppm"),
        col("min_margin_ppm"))
      .orderBy("cluster")
  }


  /** q125 — HYBRID retrieval with reciprocal-rank fusion: the text leg
    * ranks documents by BM25 for the fixed 3-term query (q105's scoring
    * chain, shared code), the vector leg ranks the corpus by cosine to
    * doc 0's embedding (ids are aligned across documents/embeddings),
    * and the two rank lists fuse as RRF with k=60 —
    * floor(1e6/(60+r_text)) + floor(1e6/(60+r_vec)), integer-exact on
    * both engines, absent legs contributing 0. The standard
    * sparse+dense curation/retrieval combiner (Cormack et al.'s RRF),
    * built entirely from rank positions so no score normalization
    * crosses the engines. Scale shape: each leg is its existing
    * sublinear-or-broadcast plan producing an O(k)+O(matched) id/rank
    * list; fusion is a full outer join of those lists — never the
    * corpus. Vector leg cut to top-100 (the classic fused-list bound);
    * text leg keeps all matched docs. */
  val q125HybridRrf: Q = Q(
    "q125_hybrid_rrf",
    s"""WITH ${graft.ops.Clean.DBm25Chain},
       |tr AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |    ORDER BY CAST(FLOOR(score * 1000) AS BIGINT) DESC, doc_id) AS BIGINT) AS r_text
       |  FROM agg
       |), vv AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), qq AS (SELECT v AS qv FROM vv WHERE vec_id = 0),
       |vs AS (
       |  SELECT vec_id, ${dCosPpm("qv", "v")} AS cos_ppm
       |  FROM vv CROSS JOIN qq WHERE vec_id <> 0
       |), vr AS (
       |  SELECT vec_id AS doc_id, r_vec FROM (
       |    SELECT vec_id, CAST(ROW_NUMBER() OVER (
       |      ORDER BY cos_ppm DESC, vec_id) AS BIGINT) AS r_vec
       |    FROM vs) WHERE r_vec <= 100
       |), fused AS (
       |  SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, r_text, r_vec,
       |    COALESCE(1000000 // (60 + r_text), 0)
       |      + COALESCE(1000000 // (60 + r_vec), 0) AS rrf_ppm
       |  FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id
       |)
       |SELECT doc_id, r_text, r_vec, rrf_ppm
       |FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT 20""") { (s, d) =>
    // round 13: the rank spelling is size-gated, the same estimate-driven
    // plan choice Spark's planner makes for broadcast joins. Below the
    // threshold (fixture scale) the global-window spelling wins — it is
    // 2-3 stages shorter and the single-partition sort of a small scored
    // list is free (same-JVM A/B: distributed spelling +0.25 s at
    // sf0.1, pure stage latency). Above it, the distributed spelling
    // avoids the O(corpus) single-partition Window/sort — the one
    // scale-killer round 12's audit flagged. SimilaritySpec pins
    // bit-equality of the two spellings on the fixture.
    if (docsBytes(s, d) <= RankSmallBytes) q125RankGlobal(s, d)
    else q125RankDistributed(s, d)
  }

  /** q125's round-13 distributed rank spelling: two-level exact rank for
    * the text leg (the q95/q118 pattern, guide §2.5) — per-score-cell
    * row_number + a cumulative offset over the small cell histogram;
    * rank_before(cell) + within-cell row_number == the global row_number
    * over (cell desc, id asc) exactly, because ids are unique — and a
    * bounded top-K for the vector leg. No O(corpus) single-partition
    * Window/sort anywhere. */
  private[graft] def q125RankDistributed(s: SparkSession, d: String): DataFrame = {
    def twoLevelRank(scored: DataFrame, cell: String, id: String): DataFrame = {
      // within-cell rank AND cell size from ONE windowed frame: both the
      // rank join's probe side and the histogram derive from the same
      // Window-over-Exchange subtree (identical columns on both
      // branches), so the scoring subtree (BM25 chain / cosine dot
      // products) is shuffled once and the exchange is reused — no
      // materialization barrier (a localCheckpoint here measured +0.7 s
      // of eager-job overhead at sf0.1; a groupBy-histogram branch
      // measured 2x scoring CPU because column pruning de-duplicated
      // the exchanges)
      val wIn = Window.partitionBy(cell).orderBy(id)
      // same partition AND order spec as wIn with an explicit unbounded
      // frame, so both expressions land in ONE WindowExec over one sort
      val wCnt = Window.partitionBy(cell).orderBy(id)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // the explicit isNotNull puts the rank join's pushed-down null
      // filter in the SAME position on both branches — without it the
      // probe side's exchange subtree differs from the histogram side's
      // and AQE cannot reuse the exchange (the scoring subtree then
      // evaluates twice). cell is never null here; no semantic change
      // (the inner join on cell drops null-cell rows either way).
      val inCell = scored.filter(col(cell).isNotNull)
        .select(col(cell), col(id),
          row_number().over(wIn).cast("long").as("rn_in"),
          count(lit(1)).over(wCnt).as("cell_n"))
      // the histogram is the rn_in==1 row per cell — an aggregate-free
      // derivation of (cell, cell_n), O(cells) rows
      val wCell = Window.orderBy(col(cell).desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = inCell.filter(col("rn_in") === 1L)
        .select(col(cell), col("cell_n"))
        .withColumn("rank_before", coalesce(sum("cell_n").over(wCell), lit(0L)))
        .select(cell, "rank_before")
      inCell.join(broadcast(cum), cell)
        .select(col(id), (col("rank_before") + col("rn_in")).as("r"))
    }
    val (trScored, vScored) = q125Legs(s, d)
    val tr = twoLevelRank(trScored, "s1000", "doc_id")
      .select(col("doc_id"), col("r").as("r_text"))
    // the vec leg keeps only ranks <= 100, so it is a bounded top-K:
    // orderBy+limit plans TakeOrderedAndProject (per-partition top-100,
    // driver merge — no corpus-wide exchange, O(k) driver state), and
    // the row_number window then runs over the <= 100 surviving rows —
    // a bounded frame at any corpus size, not O(corpus)
    val wV = Window.orderBy(col("cos_ppm").desc, col("vec_id"))
    val vr = vScored
      .orderBy(col("cos_ppm").desc, col("vec_id")).limit(100)
      .select(col("vec_id").as("doc_id"),
        row_number().over(wV).cast("long").as("r_vec"))
    q125Fuse(tr.join(vr, Seq("doc_id"), "full_outer"))
  }

  /** Memoized on-disk byte size of the documents table — the same
    * file-metadata size estimate Spark's planner reads for its own
    * broadcast decision (no job, no scan; the fixture trees are
    * immutable for a JVM's lifetime, and on a cluster this is the
    * catalog's sizeInBytes statistic). Drives [[q125HybridRrf]]'s rank
    * spelling gate. */
  private val docsBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private[graft] def docsBytes(s: SparkSession, d: String): Long =
    docsBytesCache.computeIfAbsent(d, _ => {
      val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
      java.lang.Long.valueOf(
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength)
    }).longValue()

  /** Corpus-size threshold (bytes of compressed documents parquet) below
    * which q125 keeps the short global-window rank plan: 64 MiB of
    * compressed text ≈ a few hundred MB raw — far above any fixture
    * tree, far below a production corpus, where the distributed spelling
    * must engage. */
  private val RankSmallBytes: Long = 64L << 20

  /** q125's scored legs: (doc_id, s1000) BM25 text scores and
    * (vec_id, cos_ppm) cosine scores — shared by the registered query
    * and the [[q125RankGlobal]] A/B baseline. */
  private def q125Legs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val trScored = graft.ops.Clean.bm25Scored(s, d)
      .select(col("doc_id"), floor(col("score") * 1000).cast("long").as("s1000"))
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    val qq = vecs.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("v_nrm").as("qv_nrm"))
    val vScored = vecs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qq))
      .select(col("vec_id"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"))
    (trScored, vScored)
  }

  /** RRF scoring + top-20 over an already-fused (doc_id, r_text, r_vec)
    * frame, shared with [[q125RankGlobal]]. */
  private def q125Fuse(fused: DataFrame): DataFrame =
    fused
      .select(col("doc_id"), col("r_text"), col("r_vec"),
        (coalesce(expr("CAST(1000000 div (60 + r_text) AS BIGINT)"), lit(0L))
          + coalesce(expr("CAST(1000000 div (60 + r_vec) AS BIGINT)"), lit(0L))).as("rrf_ppm"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(20)

  /** q125's pre-round-13 rank spelling — BOTH legs as global
    * single-partition row_number windows. Not registered; kept as the
    * graft.Prof A/B baseline for the two-level/top-K rank rewrite
    * (SimilaritySpec pins output equality with the registered query). */
  private[graft] def q125RankGlobal(s: SparkSession, d: String): DataFrame = {
    val (trScored, vScored) = q125Legs(s, d)
    val wT = Window.orderBy(col("s1000").desc, col("doc_id"))
    val tr = trScored.select(col("doc_id"),
      row_number().over(wT).cast("long").as("r_text"))
    val wV = Window.orderBy(col("cos_ppm").desc, col("vec_id"))
    val vr = vScored.select(col("vec_id").as("doc_id"),
        row_number().over(wV).cast("long").as("r_vec"))
      .filter(col("r_vec") <= 100)
    q125Fuse(tr.join(vr, Seq("doc_id"), "full_outer"))
  }

  /** q134 — incremental IVF maintenance: an APPEND batch lands in an
    * existing index (the ANN-side twin of q132's incremental dedup —
    * per crawl drop you don't rebuild the index, you assign the new
    * vectors to the EXISTING cells and decide which cells need
    * re-splitting). The batch (rotated copies of vec_id%4 — norm
    * preserved, direction decorrelated, synthesized identically by both
    * engines) is assigned via the broadcast-codebook argmax; the report
    * per cell: base/new member counts, new-member fraction, centroid
    * drift (1e6 - cosine between the pre-append centroid and the
    * recomputed one), and a resplit flag when the new-member fraction
    * reaches 21% — the signal a production pipeline uses to schedule
    * re-clustering. The batch averages ~25% of each cell, so the
    * threshold deliberately lands INSIDE the observed spread: some
    * cells flag and some don't, and the oracle checks both outcomes
    * (same two-sided-planting principle as q133).
    *
    * Scale shape: both assignment passes are narrow scans against a
    * broadcast k-row codebook (no shuffle; at 100 TB the base
    * assignment is READ from the persisted index table q54 materializes
    * — recomputed here only because the fixture is stateless); the
    * centroid update is the per-cell ordered fold q98 already uses, and
    * every join in the report is over k rows. */
  /** Per-label deterministic mean centroids (cluster, c) — the IVF
    * codebook q134 maintains, shared with the streaming twin
    * (streaming.Streaming.ivfAssignStream). */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("e"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        transform(sort_array(collect_list(struct(col("vec_id"), col("e")))),
          _.getField("e")).as("vs"))
      .select(col("label").as("cluster"),
        transform(
          aggregate(col("vs"), array_repeat(lit(0.0), Dim),
            (acc, e) => zip_with(acc, e, (x, y) => x + y)),
          x => x / col("n")).as("c"))

  val q134IvfAppend: Q = {
    val dFold =
      s"""list_transform(
         |    list_reduce(list_prepend(list_transform(range(0,$Dim), x -> CAST(0 AS DOUBLE)), vs),
         |      (acc, e) -> list_transform(range(1,${Dim + 1}), i -> acc[i] + e[i])),
         |    x -> x / n)""".stripMargin
    val dNewPpm = Clean.dRatio(
      "COALESCE(n_new, 0)", "COALESCE(n_base, 0) + COALESCE(n_new, 0)", 1000000L)
    Q("q134_ivf_append",
      s"""WITH vecs AS (
         |  SELECT vec_id, $DVec AS v FROM embeddings
         |), newb AS (
         |  SELECT vec_id + 1000000 AS vec_id, list_concat(v[2:], v[1:1]) AS v
         |  FROM vecs WHERE vec_id % 4 = 0
         |), cents AS (
         |  SELECT label AS cluster, n, $dFold AS c
         |  FROM (SELECT label, list($DVec ORDER BY vec_id) AS vs, COUNT(*) AS n
         |        FROM embeddings GROUP BY label)
         |), ab AS (
         |  SELECT vec_id, v, cluster FROM (
         |    SELECT vec_id, v, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY ${dCosPpm("v", "c")} DESC, cluster) AS rn
         |    FROM vecs CROSS JOIN cents) WHERE rn = 1
         |), an AS (
         |  SELECT vec_id, v, cluster FROM (
         |    SELECT vec_id, v, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |        ORDER BY ${dCosPpm("v", "c")} DESC, cluster) AS rn
         |    FROM newb CROSS JOIN cents) WHERE rn = 1
         |), newc AS (
         |  SELECT cluster, $dFold AS c2
         |  FROM (SELECT cluster, list(v ORDER BY vec_id) AS vs, COUNT(*) AS n
         |        FROM (SELECT vec_id, v, cluster FROM ab
         |              UNION ALL SELECT vec_id, v, cluster FROM an) uni
         |        GROUP BY cluster)
         |), nb AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_base FROM ab GROUP BY 1),
         |   nn AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_new FROM an GROUP BY 1)
         |SELECT CAST(cents.cluster AS BIGINT) AS cell,
         |  COALESCE(n_base, 0) AS n_base, COALESCE(n_new, 0) AS n_new,
         |  $dNewPpm AS new_ppm,
         |  CASE WHEN c2 IS NULL THEN CAST(0 AS BIGINT)
         |       ELSE 1000000 - ${dCosPpm("c", "c2")} END AS drift_ppm,
         |  CASE WHEN $dNewPpm >= 210000 THEN 1 ELSE 0 END AS resplit
         |FROM cents LEFT JOIN nb ON nb.cluster = cents.cluster
         |  LEFT JOIN nn ON nn.cluster = cents.cluster
         |  LEFT JOIN newc ON newc.cluster = cents.cluster
         |ORDER BY cell""") { (s, d) =>
      import graft.functions.TextFunctions.ratioScaled
      val base = graft.Q.stageBarrier(Tables.embeddings(s, d))
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val newb = base.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(slice(col("v"), 2, Dim - 1), slice(col("v"), 1, 1)).as("v"))
      // consumed by two assignment passes + the drift join
      val cents = labelCentroids(s, d).transform(Materialize.snapshot)
      val ab = assignTo(base, cents).transform(Materialize.snapshot) // counts + fold
      val an = assignTo(newb, cents).transform(Materialize.snapshot)
      val newc = ab.unionByName(an)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          transform(sort_array(collect_list(struct(col("vec_id"), col("v")))),
            _.getField("v")).as("vs"))
        .select(col("cluster"),
          transform(
            aggregate(col("vs"), array_repeat(lit(0.0), Dim),
              (acc, e) => zip_with(acc, e, (x, y) => x + y)),
            x => x / col("n")).as("c2"))
      val nb = ab.groupBy("cluster").agg(count(lit(1)).as("n_base"))
      val nn = an.groupBy("cluster").agg(count(lit(1)).as("n_new"))
      val newPpm = ratioScaled(coalesce(col("n_new"), lit(0L)),
        coalesce(col("n_base"), lit(0L)) + coalesce(col("n_new"), lit(0L)), 1000000L)
      cents.join(nb, Seq("cluster"), "left")
        .join(nn, Seq("cluster"), "left")
        .join(newc, Seq("cluster"), "left")
        .select(col("cluster").cast("long").as("cell"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          newPpm.as("new_ppm"),
          when(col("c2").isNull, 0L)
            .otherwise(lit(1000000L) - cosPpm(col("c"), col("c2"))).as("drift_ppm"),
          when(newPpm >= 210000, 1).otherwise(0).as("resplit"))
        .orderBy("cell")
    }
  }

  /** q172 — truncated-dimension (Matryoshka-style) retrieval quality:
    * does ranking by the FIRST 16 of 64 dimensions reproduce the
    * full-vector top-10? Per query: overlap@10 between the two
    * rankings, plus both top-1 ids and whether they agree — the audit
    * that decides if a prefix-truncated index (4× cheaper to store and
    * scan) is retrieval-equivalent before anything ships it.
    *
    * Scale: BOTH cosines compute in ONE pass over the scored frame —
    * two window ranks share one (query_id) exchange, overlap and top-1s
    * are conditional aggregates over rank flags, so there is no
    * top10×top10 self-join and vectors are read exactly once. Queries
    * broadcast as in q31. */
  val q172PrefixDimQuality: Q = Q(
    "q172_prefix_dim_quality",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), qs AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 5),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${dCosPpm("qv", "v")} AS cf,
       |    ${dCosPpm16("qv", "v")} AS cp
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), ranked AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cf DESC, vec_id) AS rf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cp DESC, vec_id) AS rp
       |  FROM scored
       |)
       |SELECT query_id,
       |  CAST(COUNT(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 END) AS BIGINT) AS overlap10,
       |  MAX(CASE WHEN rf = 1 THEN vec_id END) AS top1_full,
       |  MAX(CASE WHEN rp = 1 THEN vec_id END) AS top1_prefix,
       |  CAST(CASE WHEN MAX(CASE WHEN rf = 1 THEN vec_id END)
       |            = MAX(CASE WHEN rp = 1 THEN vec_id END) THEN 1 ELSE 0 END
       |    AS BIGINT) AS top1_agree
       |FROM ranked GROUP BY query_id
       |ORDER BY query_id""") { (s, d) =>
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
      .withColumn("p", slice(col("v"), 1, 16))
    val vecsP = vecs.withColumn("p_nrm", sqrt(dot(col("p"), col("p"))))
    val qs = vecsP.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("v_nrm").as("qv_nrm"), col("p").as("qp"), col("p_nrm").as("qp_nrm"))
    val wf = Window.partitionBy("query_id").orderBy(col("cf").desc, col("vec_id"))
    val wp = Window.partitionBy("query_id").orderBy(col("cp").desc, col("vec_id"))
    vecsP.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cf"),
        cosPpmPre(dot(col("qp"), col("p")), col("qp_nrm"), col("p_nrm")).as("cp"))
      .withColumn("rf", row_number().over(wf))
      .withColumn("rp", row_number().over(wp))
      .groupBy("query_id")
      .agg(count(when(col("rf") <= 10 && col("rp") <= 10, 1)).as("overlap10"),
        max(when(col("rf") === 1, col("vec_id"))).as("top1_full"),
        max(when(col("rp") === 1, col("vec_id"))).as("top1_prefix"))
      .select(col("query_id"), col("overlap10"), col("top1_full"), col("top1_prefix"),
        when(col("top1_full") === col("top1_prefix"), 1L).otherwise(0L).as("top1_agree"))
      .orderBy("query_id")
  }


  /** q204 — mutual nearest-neighbor linkage: pairs (a, b) across two
    * vector populations (even/odd vec_ids — the fixture stand-in for
    * two languages / two snapshots / two modalities) where each is the
    * other's cosine argmax. The reciprocal filter is the standard
    * precision move over one-directional NN (used in bitext mining and
    * cross-modal alignment: one-directional best matches hub badly;
    * q116's margin scoring is the soft variant, this is the hard gate).
    * Ties break to the smaller partner id on both engines (max-struct
    * fold ↔ ROW_NUMBER ... cos DESC, id ASC).
    *
    * Scale: scoring is the brute bipartite baseline (one side
    * broadcast, corpus streamed once — q32/q54's banded-LSH / IVF
    * indexes are the sublinear candidate path and compose unchanged);
    * the mutual gate itself is two map-side argmax FOLDS (max of a
    * (cos, −id) struct — no per-group sort) plus one id-only equi-join. */
  val q204MutualNn: Q = Q(
    "q204_mutual_nn",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), a AS (SELECT vec_id AS a_id, v AS av FROM vecs WHERE vec_id % 2 = 0),
       |b AS (SELECT vec_id AS b_id, v AS bv FROM vecs WHERE vec_id % 2 = 1),
       |scored AS (
       |  SELECT a_id, b_id, ${dCosPpm("av", "bv")} AS cos_ppm
       |  FROM a CROSS JOIN b
       |), ba AS (
       |  SELECT a_id, b_id, cos_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_ppm DESC, b_id) AS rn
       |  FROM scored
       |), bb AS (
       |  SELECT a_id, b_id,
       |    ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos_ppm DESC, a_id) AS rn
       |  FROM scored
       |)
       |SELECT ba.a_id AS a_id, ba.b_id AS b_id, ba.cos_ppm AS cos_ppm
       |FROM ba JOIN bb ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id
       |WHERE ba.rn = 1 AND bb.rn = 1
       |ORDER BY a_id""") { (s, d) =>
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    val a = vecs.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("v").as("av"), col("v_nrm").as("a_nrm"))
    val b = vecs.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("b_id"), col("v").as("bv"), col("v_nrm").as("b_nrm"))
    val scored = a.crossJoin(broadcast(b))
      .select(col("a_id"), col("b_id"),
        cosPpmPre(dot(col("av"), col("bv")), col("a_nrm"), col("b_nrm")).as("cos_ppm"))
      .transform(Materialize.snapshot) // both argmax folds read the scored pairs once
    // argmax by (cos, -partner): lexicographic struct max = cos DESC, id ASC
    val bestB = scored
      .groupBy("a_id")
      .agg(max(struct(col("cos_ppm"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("a_id"), (-col("m.nb")).as("b_id"), col("m.cos_ppm").as("cos_ppm"))
    val bestA = scored
      .groupBy("b_id")
      .agg(max(struct(col("cos_ppm"), (-col("a_id")).as("na"))).as("m"))
      .select((-col("m.na")).as("a_id"), col("b_id"))
    bestB.join(bestA, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("cos_ppm"))
      .orderBy("a_id")
  }

  /** q220 — distributed PCA top component, float-nondeterminism-free:
    * the principal direction of the embedding cloud via integer-
    * quantized covariance + 3 max-normalized power-iteration rounds —
    * the embedding-drift / dominant-axis diagnostic (a collapsed
    * embedding run shows one axis eating the spectrum) that normally
    * can't be oracle-checked because float covariance sums are
    * shuffle-order-dependent. Quantizing to milli-units first makes
    * every moment an exact BIGINT (order-free), so both engines derive
    * the identical matrix and the identical eigenvector.
    *
    * Shape at scale: quantize → integer-center (per-dim means, one
    * d-cell aggregate) → Gram via a vec_id-co-partitioned self-join
    * (the two sides reuse ONE exchange of fixed-width (vec, dim, c)
    * rows; map-side partials collapse to d² = 4,096 cells per task) →
    * covariance = Gram div n → power iteration entirely on the d²-cell
    * table with d-cell broadcast score vectors (q128's posture). Max-
    * normalization in ppm instead of L2 keeps the iteration in exact
    * BIGINT — no sqrt. Overflow headroom: |c| ≤ 2·10³ milli ⇒ cov ≤
    * 4·10⁶ regardless of n, so Σ_k cov·v ≤ d·4·10⁶·10⁶ ≈ 2.6·10¹⁴. */
  /** Shared distributed front half of q220: the exact integer-quantized,
    * centered component table and the d²-cell covariance (one
    * vec_id-co-partitioned self-join over ONE exchange). */
  private def q220Cov(s: SparkSession, d: String): DataFrame = {
    val qd = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(asDouble(col("embedding"))).as(Seq("j", "x")))
      .select(col("vec_id"), col("j"), floor(col("x") * 1000).cast("long").as("q"))
    val mn = qd.groupBy("j").agg(expr("sum(q) div count(1)").as("m"))
    val nn = Tables.embeddings(s, d).agg(count(lit(1)).as("n"))
    // centered integer components; the Gram self-join's two sides reuse
    // this one exchange (localCheckpoint pins identical partitions)
    val c = qd.join(broadcast(mn), "j")
      .select(col("vec_id"), col("j"), (col("q") - col("m")).as("c"))
      .transform(Materialize.snapshot)
    c.as("a").join(c.as("b"), "vec_id")
      .groupBy(col("a.j").as("j"), col("b.j").as("k"))
      .agg(sum(col("a.c") * col("b.c")).as("g"))
      .crossJoin(broadcast(nn)) // 1-row corpus count: scale-safe scalar
      .select(col("j"), col("k"), expr("g div n").as("cov"))
  }

  /** q220's pre-round-13 unrolled spelling: all three power-iteration
    * rounds as distributed joins over the checkpointed d²-cell table.
    * Not registered; kept as the graft.Prof A/B baseline (SimilaritySpec
    * pins output equality with the registered query). */
  private[graft] def q220PowerDistributed(s: SparkSession, d: String): DataFrame = {
    val cov = q220Cov(s, d).transform(Materialize.snapshot) // read by all three rounds
    var v = cov.select(col("j")).distinct().select(col("j").as("k"), lit(1000000L).as("v"))
    var raw: DataFrame = null
    (1 to 3).foreach { _ =>
      raw = cov.join(broadcast(v), "k")
        .groupBy("j").agg(sum(col("cov") * col("v")).as("raw"))
      val mx = raw.agg(max(abs(col("raw"))).as("mx"))
      v = raw.crossJoin(broadcast(mx))
        .select(col("j").as("k"), expr("raw * 1000000 div mx").as("v"))
    }
    val mx3 = raw.agg(max(abs(col("raw"))).as("mx"))
    raw.crossJoin(broadcast(mx3))
      .select(col("j").cast("long").as("dim"), expr("raw * 1000000 div mx").as("loading_ppm"),
        col("mx").as("iter3_scale"))
      .orderBy("dim")
  }

  val q220PcaPower: Q = Q(
    "q220_pca_power",
    s"""WITH qd AS (
       |  SELECT vec_id, unnest(range(0, $Dim)) AS j,
       |    unnest(list_transform($DVec, x -> CAST(FLOOR(x * 1000) AS BIGINT))) AS q
       |  FROM embeddings
       |), mn AS (
       |  SELECT j, CAST(SUM(q) AS BIGINT) // COUNT(*) AS m FROM qd GROUP BY j
       |), nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |c AS (
       |  SELECT qd.vec_id, qd.j, qd.q - mn.m AS c FROM qd JOIN mn USING (j)
       |), cov AS (
       |  SELECT a.j AS j, b.j AS k,
       |    CAST(SUM(a.c * b.c) AS BIGINT) // nn.n AS cov
       |  FROM c a JOIN c b USING (vec_id) CROSS JOIN nn
       |  GROUP BY a.j, b.j, nn.n
       |), v0 AS (
       |  SELECT j AS k, CAST(1000000 AS BIGINT) AS v FROM mn
       |), r1 AS (
       |  SELECT cov.j, CAST(SUM(cov * v) AS BIGINT) AS raw
       |  FROM cov JOIN v0 ON v0.k = cov.k GROUP BY cov.j
       |), v1 AS (
       |  SELECT j AS k, raw * 1000000 // (SELECT MAX(ABS(raw)) FROM r1) AS v FROM r1
       |), r2 AS (
       |  SELECT cov.j, CAST(SUM(cov * v) AS BIGINT) AS raw
       |  FROM cov JOIN v1 ON v1.k = cov.k GROUP BY cov.j
       |), v2 AS (
       |  SELECT j AS k, raw * 1000000 // (SELECT MAX(ABS(raw)) FROM r2) AS v FROM r2
       |), r3 AS (
       |  SELECT cov.j, CAST(SUM(cov * v) AS BIGINT) AS raw
       |  FROM cov JOIN v2 ON v2.k = cov.k GROUP BY cov.j
       |), mx AS (SELECT MAX(ABS(raw)) AS mx FROM r3)
       |SELECT j AS dim, CAST(raw * 1000000 // mx.mx AS BIGINT) AS loading_ppm,
       |  CAST(mx.mx AS BIGINT) AS iter3_scale
       |FROM r3 CROSS JOIN mx
       |ORDER BY dim""") { (s, d) =>
    // round 13: the three unrolled power-iteration rounds ran as ~15
    // sequential distributed stages over the d² = 4,096-cell matrix —
    // pure stage latency (Prof: 2.5 s wall at < 0.4 s total CPU). The
    // covariance still computes DISTRIBUTED (that is the O(n·d) data
    // work); the dimension-bounded matrix then collects — d² cells, the
    // same bounded-collect contract as q153's histogram narrowing, and
    // the posture MLlib itself uses (KMeans holds the centroids on the
    // driver between rounds) — and the 3 × d² integer multiply-
    // accumulate rounds run locally; the result ships back as a
    // LocalTableScan. Integer division matches both engines' `div`/`//`
    // (truncation toward zero == Java Long division; SimilaritySpec
    // pins row-identity against the distributed unroll), and an overflow
    // throws, as the distributed BIGINT arithmetic does.
    val covRows = Materialize.bounded(q220Cov(s, d), Dim * Dim) // bounded by DIMENSION
    val dims = covRows.map(_.getInt(0)).distinct.sorted
    val idx = dims.zipWithIndex.toMap
    val n = dims.length
    val m = Array.ofDim[Long](n, n)
    covRows.foreach(r => m(idx(r.getInt(0)))(idx(r.getInt(1))) = r.getLong(2))
    var v = Array.fill(n)(1000000L)
    var raw = new Array[Long](n)
    (1 to 3).foreach { _ =>
      raw = Array.tabulate(n)(j =>
        (0 until n).foldLeft(0L)((acc, k) => Math.addExact(acc, Math.multiplyExact(m(j)(k), v(k)))))
      val mx = raw.map(Math.absExact).max
      v = raw.map(r => Math.multiplyExact(r, 1000000L) / mx)
    }
    val mx3 = raw.map(Math.absExact).max
    import s.implicits._
    dims.indices.map(i => (dims(i).toLong, Math.multiplyExact(raw(i), 1000000L) / mx3, mx3))
      .toDF("dim", "loading_ppm", "iter3_scale")
      .orderBy("dim")
  }

  /** q221 — Johnson-Lindenstrauss projection + distortion audit:
    * project the 64-dim embeddings onto 16 md5-derived ±1 directions
    * and MEASURE what the JL lemma promises — that pairwise squared
    * distances survive within (1±ε) after rescaling by k — the audit
    * you run before trusting a cheap projected index (q32's sign-LSH
    * keeps only the sign bit; this keeps distances). For a ±1 matrix R,
    * E‖Rx‖² = k‖x‖², so distortion = 10⁶·‖R(a−b)‖² div (k·‖a−b‖²) ppm,
    * exact in BIGINT over the milli-quantized vectors (order-free —
    * same trick as q220). Pairs are a deterministic stride sample
    * (vec_id i ↔ i + 217 mod n — fixed-size evidence per corpus,
    * sampling is the POINT of an audit). Output: a 10-bucket distortion
    * histogram + min/max, the accept/reject evidence for k=16.
    *
    * Scale: projection is a narrow map (k dot products per row);
    * pair-making is ONE co-partitioned self-join on the derived pair
    * key; the histogram collapses map-side to ≤12 cells. */
  val q221JlDistortion: Q = Q(
    "q221_jl_distortion",
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |q AS (
       |  SELECT vec_id,
       |    list_transform($DVec, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), pr AS (
       |  SELECT vec_id, qv,
       |    list_transform(range(0, 16), p ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, $Dim + 1), j ->
       |          CASE WHEN CAST(concat('0x', substr(md5(concat('jl', p, '_', j - 1)), 1, 2)) AS BIGINT) % 2 = 0
       |               THEN qv[j] ELSE -qv[j] END)),
       |        (a, x) -> a + x)) AS pv
       |  FROM q
       |), pairs AS (
       |  SELECT a.qv AS qa, a.pv AS pa, b.qv AS qb, b.pv AS pb
       |  FROM pr a CROSS JOIN nn
       |  JOIN pr b ON b.vec_id = (a.vec_id + 217) % nn.n
       |), dist AS (
       |  SELECT
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, $Dim + 1), j -> (qa[j]-qb[j])*(qa[j]-qb[j]))),
       |      (a, x) -> a + x) AS d_orig,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 17), p -> (pa[p]-pb[p])*(pa[p]-pb[p]))),
       |      (a, x) -> a + x) AS d_proj
       |  FROM pairs
       |), ratio AS (
       |  SELECT CAST(d_proj * 1000000 // (16 * d_orig) AS BIGINT) AS r_ppm
       |  FROM dist WHERE d_orig > 0
       |), bucketed AS (
       |  SELECT LEAST(CAST(r_ppm // 200000 AS BIGINT), 9) AS bucket,
       |    COUNT(*) AS n_pairs, MIN(r_ppm) AS min_ppm, MAX(r_ppm) AS max_ppm
       |  FROM ratio GROUP BY 1
       |)
       |SELECT bucket, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  min_ppm, max_ppm
       |FROM bucketed ORDER BY bucket""") { (s, d) =>
    val nn = Tables.embeddings(s, d).agg(count(lit(1)).as("n"))
    // ±1 sign for (plane p, dim j) from md5 — identical on both engines
    def sign(p: Int, j: Int): Column =
      when(conv(substring(md5(lit(s"jl${p}_$j")), 1, 2), 16, 10).cast("long") % 2 === 0,
        lit(1L)).otherwise(lit(-1L))
    // NO stage barrier here, deliberately (round 13, the q112 rule): the
    // 16-direction projection runs 1-task at fixture scale only because
    // the embeddings fixture is one parquet row group — at production
    // split counts the scan is already wide. A barrier was tried and
    // REVERTED: it must ship the full quantized vectors (the payload,
    // ~520 B/row) through an exchange, violating this query's 8 KiB
    // O(cells) shuffle gauge for a fixture-only win (~0.3 s at sf0.1).
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(asDouble(col("embedding")), x => floor(x * 1000).cast("long")).as("qv"))
      .withColumn("pv", array((0 until 16).map(p =>
        aggregate(
          zip_with(col("qv"),
            array((0 until Dim).map(j => sign(p, j)): _*),
            (x, sgn) => x * sgn),
          lit(0L), (a, x) => a + x)): _*))
      .crossJoin(broadcast(nn)) // 1-row corpus count: scale-safe scalar
      .transform(Materialize.snapshot) // both self-join sides read one snapshot
    val pairs = q.select(col("qv").as("qa"), col("pv").as("pa"),
        ((col("vec_id") + 217) % col("n")).as("pk"))
      .join(q.select(col("vec_id").as("pk"), col("qv").as("qb"), col("pv").as("pb")), "pk")
    val dist = pairs.select(
      aggregate(zip_with(col("qa"), col("qb"), (a, b) => (a - b) * (a - b)),
        lit(0L), (a, x) => a + x).as("d_orig"),
      aggregate(zip_with(col("pa"), col("pb"), (a, b) => (a - b) * (a - b)),
        lit(0L), (a, x) => a + x).as("d_proj"))
    dist.filter(col("d_orig") > 0)
      .select(expr("d_proj * 1000000 div (16 * d_orig)").as("r_ppm"))
      .groupBy(least(expr("r_ppm div 200000"), lit(9L)).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min("r_ppm").as("min_ppm"),
        max("r_ppm").as("max_ppm"))
      .orderBy("bucket")
  }

  /** q234 — greedy k-center coreset (Gonzalez): pick 5 maximally-
    * spread embeddings — seed at the smallest vec_id, then 4 rounds of
    * "add the point farthest from every selected center" — the
    * 2-approximation diversity-selection primitive behind coreset data
    * pruning and diverse few-shot pools (q98's k-means centers MEAN a
    * cluster; k-center centers COVER the space — its covering radius
    * is the quantity with the guarantee). Distances are exact integer
    * L2² over milli-quantized vectors (q220's trick), argmax ties
    * break to the smallest vec_id via max(struct(dmin, −vec_id)), and
    * each round reports the covering radius BEFORE the new center
    * joins (the radius the selection just improved). Oracle replays
    * the 4 rounds as chained CTEs.
    *
    * Scale: each round is ONE corpus scan (dist² to the single new
    * broadcast center, fold into the running min — the classic
    * streaming form of Gonzalez) plus a 1-row argmax; the running
    * dmin column is localCheckpoint'd so round r+1 doesn't replay
    * round r. k rounds = k scans, no pairwise anything. */
  val q234KCenterCoreset: Q = Q(
    "q234_kcenter_coreset",
    {
      val dist2 = (a: String, b: String) =>
        s"CAST(list_sum(list_transform(range(1, $Dim + 1), j -> ($a[j] - $b[j]) * ($a[j] - $b[j]))) AS BIGINT)"
      def round(i: Int) =
        s"""c$i AS (
           |  SELECT vec_id AS cid, dmin AS radius, qv AS cqv
           |  FROM d${i - 1} ORDER BY dmin DESC, vec_id LIMIT 1
           |), d$i AS (
           |  SELECT d.vec_id, d.qv,
           |    LEAST(d.dmin, ${dist2("d.qv", "c.cqv")}) AS dmin
           |  FROM d${i - 1} d CROSS JOIN c$i c
           |)"""
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform($DVec, x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
         |  FROM embeddings
         |), c0 AS (
         |  SELECT vec_id AS cid, qv AS cqv FROM q ORDER BY vec_id LIMIT 1
         |), d0 AS (
         |  SELECT q.vec_id, q.qv, ${dist2("q.qv", "c.cqv")} AS dmin
         |  FROM q CROSS JOIN c0 c
         |), ${round(1)},
         |${round(2)},
         |${round(3)},
         |${round(4)}
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS round, cid AS center_id,
         |    CAST(NULL AS BIGINT) AS radius_sq FROM c0
         |  UNION ALL SELECT 1, cid, radius FROM c1
         |  UNION ALL SELECT 2, cid, radius FROM c2
         |  UNION ALL SELECT 3, cid, radius FROM c3
         |  UNION ALL SELECT 4, cid, radius FROM c4
         |)
         |ORDER BY round"""
    }) { (s, d) =>
    val dist2 = "CAST(aggregate(zip_with(qv, cqv, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS BIGINT)"
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr(s"transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(FLOOR(x * 1000) AS BIGINT))")
          .as("qv"))
      .transform(Materialize.snapshot) // corpus quant table: read once per round
    val c0 = q.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"))
    var dmin = q.crossJoin(broadcast(c0)) // 1-row center: scale-safe
      .select(col("vec_id"), col("qv"), expr(dist2).as("dmin"))
      .transform(Materialize.snapshot)
    var out = c0.select(lit(0L).as("round"), col("cid").as("center_id"),
      lit(null).cast("long").as("radius_sq"))
    (1 to 4).foreach { i =>
      // argmax dmin, ties to the smallest vec_id — 1-row scalar
      val pick = dmin.agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"))).as("m"))
        .select(col("m.dmin").as("radius"), (-col("m.nid")).as("cid"))
      val center = q.join(broadcast(pick), col("vec_id") === col("cid"))
        .select(col("cid"), col("radius"), col("qv").as("cqv"))
      dmin = dmin.crossJoin(broadcast(center.select("cqv")))
        .select(col("vec_id"), col("qv"),
          least(col("dmin"), expr(dist2)).as("dmin"))
        .transform(Materialize.snapshot) // cut the per-round lineage
      out = out.unionByName(center.select(lit(i.toLong).as("round"),
        col("cid").as("center_id"), col("radius").as("radius_sq")))
    }
    out.orderBy("round")
  }

  /** q237 — MMR diversity re-rank (maximal marginal relevance): from
    * the query's top-8 cosine candidates, greedily select 4 maximizing
    * relevance MINUS similarity-to-already-selected — the re-rank that
    * turns "8 near-duplicates of the best hit" into a diverse result
    * page (and, in data curation, a diverse exemplar pool). λ = 1/2,
    * so argmax(λ·rel − (1−λ)·maxsim) ≡ argmax(rel − maxsim) in exact
    * ppm integers; ties break to the smaller vec_id. Round 1 is pure
    * relevance (nothing selected yet → maxsim NULL).
    *
    * Scale: the ONLY corpus-cardinality stage is q31's scored scan,
    * cut to k=8 by TakeOrdered (per-partition heaps, no global sort);
    * the candidate-pair similarity table is k² = 64 CELLS and every
    * greedy round is cell-table joins plus a 1-row argmax. At 100 TB
    * the top-k comes from the ANN index (q32/q54) instead — the MMR
    * stage is k-bounded either way. */
  val q237MmrRerank: Q = Q(
    "q237_mmr_rerank",
    {
      // selected set after round i = s1 ∪ … ∪ si
      def sel(i: Int) = (1 to i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
      def round(i: Int) =
        s"""r$i AS (
           |  SELECT c.vec_id, c.rel, MAX(p.sim) AS maxsim
           |  FROM cand c
           |  JOIN pair p ON p.cid = c.vec_id AND p.bid IN (${sel(i - 1)})
           |  WHERE c.vec_id NOT IN (${sel(i - 1)})
           |  GROUP BY c.vec_id, c.rel
           |), s$i AS (
           |  SELECT vec_id, rel, maxsim FROM r$i
           |  ORDER BY rel - maxsim DESC, vec_id LIMIT 1
           |)"""
      s"""WITH vecs AS (
         |  SELECT vec_id, $DVec AS v FROM embeddings
         |), q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, v, ${dCosPpm("qv", "v")} AS rel
         |  FROM vecs CROSS JOIN q WHERE vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT 8
         |), pair AS (
         |  SELECT a.vec_id AS cid, b.vec_id AS bid, ${dCosPpm("a.v", "b.v")} AS sim
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
         |), s1 AS (
         |  SELECT vec_id, rel, CAST(NULL AS BIGINT) AS maxsim FROM cand
         |  ORDER BY rel DESC, vec_id LIMIT 1
         |), ${round(2)},
         |${round(3)},
         |${round(4)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, vec_id, rel AS relevance_ppm,
         |    maxsim AS maxsim_ppm, rel AS mmr_ppm FROM s1
         |  UNION ALL SELECT 2, vec_id, rel, maxsim, rel - maxsim FROM s2
         |  UNION ALL SELECT 3, vec_id, rel, maxsim, rel - maxsim FROM s3
         |  UNION ALL SELECT 4, vec_id, rel, maxsim, rel - maxsim FROM s4
         |)
         |ORDER BY round"""
    }) { (s, d) =>
    // round 13: the three greedy rounds ran as ~15 sequential broadcast-
    // join stages over k-bounded frames (8 candidates, 64 pair cells) —
    // pure stage latency (Prof: 2.1 s wall at < 0.5 s total CPU). The
    // corpus scoring and the pairwise cosines stay DISTRIBUTED (that is
    // the data work; the cosines are the native fused dot products);
    // the two k-bounded INTEGER tables then collect (8 + 56 rows — the
    // q153 bounded-collect contract) and the greedy argmax replays
    // locally, exactly as SimilaritySpec's replay check always has.
    val (cand, pair) = q237Tables(s, d)
    val candRows = Materialize.bounded(cand.select("vec_id", "rel"), Q237K)
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val simRows = Materialize.bounded(pair, Q237K * (Q237K - 1))
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    var selected = Vector.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[Long], Long, Long)]
    (1 to 4).foreach { i =>
      val rem = candRows.filterNot(c => selected.contains(c._1))
      if (rem.nonEmpty) {
        if (i == 1) {
          val (id, rel) = rem.maxBy { case (id, rel) => (rel, -id) }
          out += ((1L, id, None, rel, rel))
          selected :+= id
        } else {
          val scored = rem.map { case (id, rel) =>
            val maxsim = selected.map(b => simRows((id, b))).max
            (id, rel, maxsim, rel - maxsim)
          }
          val (id, rel, ms, mmr) = scored.maxBy { case (id, _, _, mmr) => (mmr, -id) }
          out += ((i.toLong, id, Some(ms), rel, mmr))
          selected :+= id
        }
      }
    }
    import s.implicits._
    out.toSeq
      .map { case (rd, id, ms, rel, mmr) => (rd, id, rel, ms, mmr) }
      .toDF("round", "vec_id", "relevance_ppm", "maxsim_ppm", "mmr_ppm")
      .orderBy("round")
  }

  /** q237's candidate count (the oracle's `LIMIT 8`). */
  private val Q237K = 8

  /** q237's distributed front half: the top-8 relevance candidates (one
    * corpus scan + TakeOrdered) and their pairwise cosine cells —
    * shared by the registered query and the [[q237GreedyDistributed]]
    * A/B baseline. */
  private def q237Tables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val vecs = withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("v_nrm").as("qv_nrm"))
    val cand = vecs.crossJoin(broadcast(q)) // 1-row query vector
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("v"), col("v_nrm"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(Q237K) // TakeOrdered heap cut
      .transform(Materialize.snapshot) // 8 candidate rows: the pair table + the collect
    val pair = cand.as("a")
      .join(broadcast(cand.select(col("vec_id").as("bid"), col("v").as("bv"),
        col("v_nrm").as("b_nrm"))), col("vec_id") =!= col("bid"))
      .select(col("vec_id").as("cid"), col("bid"),
        cosPpmPre(dot(col("v"), col("bv")), col("v_nrm"), col("b_nrm")).as("sim"))
    (cand, pair)
  }

  /** q237's pre-round-13 spelling: the greedy rounds as distributed
    * broadcast joins over the checkpointed k-bounded tables. Not
    * registered; kept as the graft.Prof A/B baseline (SimilaritySpec
    * pins output equality with the registered query). */
  private[graft] def q237GreedyDistributed(s: SparkSession, d: String): DataFrame = {
    val (cand, pair0) = q237Tables(s, d)
    val pair = pair0.transform(Materialize.snapshot) // k² cells: every round reads it
    def pick(df: DataFrame, scoreCol: Column): DataFrame =
      df.agg(max(struct(scoreCol.as("sc"), (-col("vec_id")).as("nid"))).as("m"))
        .select((-col("m.nid")).as("vec_id"))
    var s1 = cand.join(broadcast(pick(cand, col("rel"))), "vec_id")
      .select(lit(1L).as("round"), col("vec_id"), col("rel").as("relevance_ppm"),
        lit(null).cast("long").as("maxsim_ppm"), col("rel").as("mmr_ppm"))
    var out = s1
    var selected = s1.select("vec_id")
    (2 to 4).foreach { i =>
      val rem = cand.join(broadcast(selected), Seq("vec_id"), "left_anti")
        .join(pair.join(broadcast(selected.withColumnRenamed("vec_id", "bid")), "bid")
          .groupBy(col("cid").as("vec_id")).agg(max("sim").as("maxsim")), "vec_id")
      val si = rem.join(broadcast(pick(rem, col("rel") - col("maxsim"))), "vec_id")
        .select(lit(i.toLong).as("round"), col("vec_id"),
          col("rel").as("relevance_ppm"), col("maxsim").as("maxsim_ppm"),
          (col("rel") - col("maxsim")).as("mmr_ppm"))
      out = out.unionByName(si)
      selected = selected.unionByName(si.select("vec_id")).transform(Materialize.snapshot)
    }
    out.orderBy("round")
  }

  /** q250 — MRR@10 retrieval eval: for each of the 20 query vectors,
    * rank the corpus by exact cosine (ties → vec_id), find the first
    * same-label neighbor inside the top 10, and score 1/rank — the
    * reciprocal-rank leg of the eval triad (q104 recall@k, q125 RRF
    * fusion, this). Integer-exact: rr_ppm = 10⁶ div rank; a query with
    * no in-label neighbor in its top 10 scores 0 with a NULL rank, so
    * the mean over queries (the headline MRR) is reconstructable
    * without float division. 1/rank is the metric that rewards putting
    * ONE right answer first — recall@k can't distinguish rank 1 from
    * rank 10.
    *
    * Scale: q31's brute-scoring shape — the 20 query vectors broadcast,
    * the corpus streams once through the fused graft_dot with
    * precomputed norms; the per-query rank window partitions on
    * query_id (20 bounded partitions); q32/q54's LSH/IVF compose as the
    * sublinear candidate path when the corpus outgrows one scan. */
  val q250MrrEval: Q = Q(
    "q250_mrr_eval",
    s"""WITH vecs AS (
       |  SELECT vec_id, label, $DVec AS v FROM embeddings
       |), qs AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM vecs WHERE vec_id < 20
       |), ranked AS (
       |  SELECT query_id, qlabel, vec_id, label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${dCosPpm("qv", "v")} DESC, vec_id) AS rank
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), firstrel AS (
       |  SELECT query_id, MIN(rank) AS r FROM ranked
       |  WHERE rank <= 10 AND label = qlabel GROUP BY query_id
       |)
       |SELECT q.query_id, CAST(q.qlabel AS BIGINT) AS label,
       |  CAST(f.r AS BIGINT) AS first_rel_rank,
       |  CAST(COALESCE(1000000 // f.r, 0) AS BIGINT) AS rr_ppm
       |FROM qs q LEFT JOIN firstrel f USING (query_id)
       |ORDER BY query_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val vecs = withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")), "v")
    val qs = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("v_nrm").as("qv_nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("vec_id"))
    val ranked = vecs.crossJoin(broadcast(qs)) // 20 query vectors broadcast
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id"), col("label"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"))
      .withColumn("rank", row_number().over(w))
    val firstrel = ranked
      .filter(col("rank") <= 10 && col("label") === col("qlabel"))
      .groupBy("query_id").agg(min("rank").as("r"))
    qs.select(col("query_id"), col("qlabel").cast("long").as("label"))
      .join(firstrel, Seq("query_id"), "left")
      .select(col("query_id"), col("label"),
        col("r").cast("long").as("first_rel_rank"),
        coalesce(expr("1000000 div r"), lit(0L)).as("rr_ppm"))
      .orderBy("query_id")
  }

  /** q257 — NDCG@10 retrieval eval: graded-position quality of the
    * top-10 cosine ranking per query (binary relevance = same label),
    * completing the eval triad's position-sensitive leg (q104 recall@k
    * — did it show up; q250 MRR — where was the FIRST hit; this — how
    * good is the WHOLE ranked page). The 1/log₂(1+r) discount is the
    * one transcendental in the metric, so it ships as a PINNED integer
    * table in micro units (rank 1..10 and its prefix sums — the exact
    * floor of 10⁶/log₂(1+r), constants identical in both engines);
    * DCG/IDCG are then exact integer sums, ndcg_ppm an exact floor
    * division. IDCG truncates the ideal list at min(R, 10) where R is
    * the query's corpus-wide relevant count — the standard
    * normalization, so a rare-label query isn't penalized for having
    * fewer than 10 possible hits.
    *
    * Scale: q250's shape verbatim — 20 broadcast query vectors, one
    * corpus scan through the fused graft_dot, a 20-partition rank
    * window; the label-count table is |labels| cells broadcast back.
    * LSH/IVF (q32/q54) compose as the sublinear candidate path. */
  val q257NdcgEval: Q = Q(
    "q257_ndcg_eval",
    s"""WITH vecs AS (
       |  SELECT vec_id, label, $DVec AS v FROM embeddings
       |), qs AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM vecs WHERE vec_id < 20
       |), ranked AS (
       |  SELECT query_id, qlabel, label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${dCosPpm("qv", "v")} DESC, vec_id) AS rank
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), dcg AS (
       |  SELECT query_id,
       |    SUM(CASE WHEN label = qlabel THEN
       |      [1000000,630929,500000,430676,386852,356207,333333,315464,301029,289064][rank]
       |      ELSE 0 END) AS dcg_micro,
       |    SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS n_rel_at10
       |  FROM ranked WHERE rank <= 10 GROUP BY query_id
       |), rel AS (
       |  SELECT label, COUNT(*) AS cnt FROM vecs GROUP BY label
       |)
       |SELECT q.query_id, CAST(q.qlabel AS BIGINT) AS label,
       |  CAST(r.cnt - 1 AS BIGINT) AS n_rel_corpus,
       |  CAST(d.n_rel_at10 AS BIGINT) AS n_rel_at10,
       |  CAST(d.dcg_micro AS BIGINT) AS dcg_micro,
       |  CAST(CASE WHEN r.cnt - 1 = 0 THEN NULL ELSE
       |    [1000000,1630929,2130929,2561605,2948457,3304664,3637997,3953461,4254490,4543554][LEAST(r.cnt - 1, 10)]
       |    END AS BIGINT) AS idcg_micro,
       |  CAST(CASE WHEN r.cnt - 1 = 0 THEN NULL ELSE
       |    d.dcg_micro * 1000000 //
       |    [1000000,1630929,2130929,2561605,2948457,3304664,3637997,3953461,4254490,4543554][LEAST(r.cnt - 1, 10)]
       |    END AS BIGINT) AS ndcg_ppm
       |FROM qs q
       |JOIN rel r ON r.label = q.qlabel
       |JOIN dcg d ON d.query_id = q.query_id
       |ORDER BY q.query_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val discArr = array(Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L).map(lit): _*)
    val preArr = array(Seq(1000000L, 1630929L, 2130929L, 2561605L, 2948457L,
      3304664L, 3637997L, 3953461L, 4254490L, 4543554L).map(lit): _*)
    val vecs = withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")), "v")
    val qs = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("v_nrm").as("qv_nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("vec_id"))
    val ranked = vecs.crossJoin(broadcast(qs)) // 20 query vectors broadcast
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("label"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"),
        col("vec_id"))
      .withColumn("rank", row_number().over(w))
    val dcg = ranked.filter(col("rank") <= 10)
      .groupBy("query_id")
      .agg(sum(when(col("label") === col("qlabel"),
          element_at(discArr, col("rank"))).otherwise(0L)).as("dcg_micro"),
        sum(when(col("label") === col("qlabel"), 1L).otherwise(0L)).as("n_rel_at10"))
    val rel = vecs.groupBy("label").agg(count(lit(1)).as("cnt"))
    qs.select(col("query_id"), col("qlabel"))
      .join(broadcast(rel), col("label") === col("qlabel"))
      .join(dcg, "query_id")
      .select(col("query_id"), col("qlabel").cast("long").as("label"),
        (col("cnt") - 1).as("n_rel_corpus"), col("n_rel_at10"), col("dcg_micro"),
        when(col("cnt") - 1 === 0, lit(null).cast("long"))
          .otherwise(element_at(preArr, least(col("cnt") - 1, lit(10L)).cast("int")))
          .as("idcg_micro"))
      .withColumn("ndcg_ppm", expr("dcg_micro * 1000000 div idcg_micro"))
      .orderBy("query_id")
  }

  /** q258 — MAP@10 retrieval eval (mean-average-precision's per-query
    * leg): AP = (Σ_{relevant hits at rank r} P@r) / min(R, 10) over the
    * top-10 cosine ranking — the area-under-PR-curve companion to
    * q257's position-discounted view (AP rewards ALL hits early, NDCG
    * discounts smoothly; production eval reports both). P@r in exact
    * floor-ppm via a running-hit window; the final AP division floors
    * once more (both engines, same order — deterministic). A query
    * with no relevant corpus doc yields NULL, not a zero that poisons
    * the mean.
    *
    * Scale: identical to q250/q257 — broadcast queries, one scored
    * scan, 20-partition rank window; the running-count window runs on
    * 10 rows per query. */
  val q258MapEval: Q = Q(
    "q258_map_eval",
    s"""WITH vecs AS (
       |  SELECT vec_id, label, $DVec AS v FROM embeddings
       |), qs AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM vecs WHERE vec_id < 20
       |), ranked AS (
       |  SELECT query_id, qlabel, label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${dCosPpm("qv", "v")} DESC, vec_id) AS rank
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), hits AS (
       |  SELECT query_id, rank,
       |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS is_rel,
       |    SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY query_id ORDER BY rank) AS cum
       |  FROM ranked WHERE rank <= 10
       |), ap AS (
       |  SELECT query_id,
       |    SUM(CASE WHEN is_rel = 1 THEN cum * 1000000 // rank ELSE 0 END) AS sum_prec_ppm,
       |    SUM(is_rel) AS n_rel_at10
       |  FROM hits GROUP BY query_id
       |), rel AS (
       |  SELECT label, COUNT(*) AS cnt FROM vecs GROUP BY label
       |)
       |SELECT q.query_id, CAST(q.qlabel AS BIGINT) AS label,
       |  CAST(r.cnt - 1 AS BIGINT) AS n_rel_corpus,
       |  CAST(a.n_rel_at10 AS BIGINT) AS n_rel_at10,
       |  CAST(CASE WHEN r.cnt - 1 = 0 THEN NULL
       |    ELSE a.sum_prec_ppm // LEAST(r.cnt - 1, 10) END AS BIGINT) AS ap_ppm
       |FROM qs q
       |JOIN rel r ON r.label = q.qlabel
       |JOIN ap a ON a.query_id = q.query_id
       |ORDER BY q.query_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val vecs = withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")), "v")
    val qs = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("v_nrm").as("qv_nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("vec_id"))
    val ranked = vecs.crossJoin(broadcast(qs)) // 20 query vectors broadcast
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("label"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"),
        col("vec_id"))
      .withColumn("rank", row_number().over(w))
    val wCum = Window.partitionBy("query_id").orderBy("rank")
    val hits = ranked.filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"),
        when(col("label") === col("qlabel"), 1L).otherwise(0L).as("is_rel"))
      .withColumn("cum", sum("is_rel").over(wCum))
    val ap = hits.groupBy("query_id")
      .agg(sum(when(col("is_rel") === 1, expr("cum * 1000000 div rank"))
        .otherwise(0L)).as("sum_prec_ppm"),
        sum("is_rel").as("n_rel_at10"))
    val rel = vecs.groupBy("label").agg(count(lit(1)).as("cnt"))
    qs.select(col("query_id"), col("qlabel"))
      .join(broadcast(rel), col("label") === col("qlabel"))
      .join(ap, "query_id")
      .select(col("query_id"), col("qlabel").cast("long").as("label"),
        (col("cnt") - 1).as("n_rel_corpus"), col("n_rel_at10"),
        when(col("cnt") - 1 === 0, lit(null).cast("long"))
          .otherwise(expr("sum_prec_ppm div least(cnt - 1, 10)")).as("ap_ppm"))
      .orderBy("query_id")
  }

  /** q276 — rank-biased overlap (Webber 2010) between the full-dim and
    * 16-dim-prefix cosine rankings: RBO@10 = (1−p)Σ pⁱ⁻¹·|A_i∩B_i|/i
    * with p = 0.9 — the top-weighted ranking-similarity measure that
    * answers "how much does truncating the embedding change what users
    * actually SEE", where q172's flat overlap@10 weights rank 1 and
    * rank 10 equally. p's powers are exact rationals (9ⁱ⁻¹/10ⁱ pinned
    * as integer tables, i ≤ 10), each depth term floors once, and the
    * prefix-overlap-at-depth reduces to a cumulative histogram of
    * m = max(rank_full, rank_prefix) — no set ever materializes.
    * Identical rankings score Σ = 651320 ppm (the per-depth floors
    * of truncated RBO@10's 651321.56 ceiling — the 0.9¹⁰ tail is
    * unassigned by construction).
    *
    * Scale: q172's scored scan (5 broadcast queries, two fused-dot
    * scores per row, two 5-partition rank windows); everything after
    * lives on ≤10 histogram cells per query. */
  val q276RankBiasedOverlap: Q = Q(
    "q276_rank_biased_overlap",
    s"""WITH vecs AS (
       |  SELECT vec_id, $DVec AS v FROM embeddings
       |), qs AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 5),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${dCosPpm("qv", "v")} AS cf,
       |    ${dCosPpm16("qv", "v")} AS cp
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), ranked AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cf DESC, vec_id) AS rf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cp DESC, vec_id) AS rp
       |  FROM scored
       |), hist AS (
       |  SELECT query_id, GREATEST(rf, rp) AS m, COUNT(*) AS cnt
       |  FROM ranked WHERE rf <= 10 AND rp <= 10
       |  GROUP BY query_id, GREATEST(rf, rp)
       |), dense AS (
       |  SELECT q.query_id, t.i, COALESCE(h.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT query_id FROM ranked) q
       |  CROSS JOIN (SELECT unnest(range(1, 11)) AS i) t
       |  LEFT JOIN hist h ON h.query_id = q.query_id AND h.m = t.i
       |), cum AS (
       |  SELECT query_id, i,
       |    SUM(cnt) OVER (PARTITION BY query_id ORDER BY i) AS ov
       |  FROM dense
       |), terms AS (
       |  SELECT query_id, i, ov,
       |    ov * 1000000 * ([1,9,81,729,6561,59049,531441,4782969,43046721,387420489][i])
       |      // (([10,100,1000,10000,100000,1000000,10000000,100000000,1000000000,10000000000][i]) * i)
       |      AS term
       |  FROM cum
       |)
       |SELECT query_id,
       |  CAST(MAX(CASE WHEN i = 1 THEN ov END) AS BIGINT) AS top1_agree,
       |  CAST(MAX(CASE WHEN i = 10 THEN ov END) AS BIGINT) AS overlap10,
       |  CAST(SUM(term) AS BIGINT) AS rbo_ppm
       |FROM terms GROUP BY query_id
       |ORDER BY query_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val p9 = array(Seq(1L, 9L, 81L, 729L, 6561L, 59049L, 531441L,
      4782969L, 43046721L, 387420489L).map(lit): _*)
    val p10 = array(Seq(10L, 100L, 1000L, 10000L, 100000L, 1000000L,
      10000000L, 100000000L, 1000000000L, 10000000000L).map(lit): _*)
    val vecs = withNorm(graft.Q.stageBarrier(Tables.embeddings(s, d))
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), "v")
      .withColumn("p", slice(col("v"), 1, 16))
    val vecsP = vecs.withColumn("p_nrm", sqrt(dot(col("p"), col("p"))))
    val qs = vecsP.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("v_nrm").as("qv_nrm"), col("p").as("qp"), col("p_nrm").as("qp_nrm"))
    val wf = Window.partitionBy("query_id").orderBy(col("cf").desc, col("vec_id"))
    val wp = Window.partitionBy("query_id").orderBy(col("cp").desc, col("vec_id"))
    val ranked = vecsP.crossJoin(broadcast(qs)) // 5 query vectors broadcast
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cf"),
        cosPpmPre(dot(col("qp"), col("p")), col("qp_nrm"), col("p_nrm")).as("cp"))
      .withColumn("rf", row_number().over(wf))
      .withColumn("rp", row_number().over(wp))
    val hist = ranked.filter(col("rf") <= 10 && col("rp") <= 10)
      .groupBy(col("query_id").as("hq"), greatest(col("rf"), col("rp")).as("m"))
      .agg(count(lit(1)).as("cnt"))
    val dense = ranked.select("query_id").distinct()
      .crossJoin(broadcast(s.range(1, 11).select(col("id").as("i")))) // 10-row depth spine
      .join(hist, col("hq") === col("query_id") && col("m") === col("i"), "left")
      .select(col("query_id"), col("i"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val wCum = Window.partitionBy("query_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense
      .withColumn("ov", sum("cnt").over(wCum))
      .withColumn("pow9", element_at(p9, col("i").cast("int")))
      .withColumn("pow10", element_at(p10, col("i").cast("int")))
      .withColumn("term", expr("ov * 1000000 * pow9 div (pow10 * i)"))
      .groupBy("query_id")
      .agg(max(when(col("i") === 1, col("ov"))).as("top1_agree"),
        max(when(col("i") === 10, col("ov"))).as("overlap10"),
        sum("term").as("rbo_ppm"))
      .orderBy("query_id")
  }

  /** q285 — expected reciprocal rank (ERR@10, Chapelle 2009): the
    * cascade-model retrieval eval — a user scans down the ranking and
    * STOPS at the first satisfying result, so a great hit at rank 1
    * shadows everything below it, which NDCG's independent-position
    * discounts (q257) cannot express. Graded relevance g∈{0,1,2}
    * (exact label match = 2, same label family mod 5 = 1), stop
    * probability R = (2^g−1)/4 ∈ {0, ¼, ¾}. ERR = Σ_r (1/r)·R_r·
    * Π_{j<r}(1−R_j) is computed EXACTLY in integers: numerators 4R ∈
    * {0,1,3} and survivors 4−4R ∈ {4,3,1} make the cascade product
    * 4^c₀·3^c₁ over cumulative grade counts (pinned power tables — no
    * window product needed), and the whole sum is scaled by
    * 2520·4¹⁰ (2520 = lcm(1..10)), so err_scaled is an exact integer
    * and the single ppm division floors identically on both engines.
    *
    * Scale: q250/q257's shape — the 20 query vectors broadcast, the
    * corpus is scored in one streaming pass, the rank window
    * partitions per query, and the cascade fold runs on 10 rows per
    * query. */
  val q285ErrEval: Q = Q(
    "q285_err_eval",
    s"""WITH vecs AS (
       |  SELECT vec_id, label, $DVec AS v FROM embeddings
       |), qs AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM vecs WHERE vec_id < 20
       |), ranked AS (
       |  SELECT query_id, qlabel,
       |    CASE WHEN label = qlabel THEN 2
       |      WHEN label % 5 = qlabel % 5 THEN 1 ELSE 0 END AS g,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${dCosPpm("qv", "v")} DESC, vec_id) AS rank
       |  FROM qs CROSS JOIN vecs WHERE vec_id <> query_id
       |), cum AS (
       |  SELECT query_id, qlabel, g, rank,
       |    COUNT(CASE WHEN g = 0 THEN 1 END) OVER w AS c0,
       |    COUNT(CASE WHEN g = 1 THEN 1 END) OVER w AS c1
       |  FROM ranked WHERE rank <= 10
       |  WINDOW w AS (PARTITION BY query_id ORDER BY rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), terms AS (
       |  SELECT query_id, qlabel,
       |    SUM([2520,1260,840,630,504,420,360,315,280,252][rank]
       |      * [0,1,3][g + 1]
       |      * [1,4,16,64,256,1024,4096,16384,65536,262144][c0 + 1]
       |      * [1,3,9,27,81,243,729,2187,6561,19683][c1 + 1]
       |      * [262144,65536,16384,4096,1024,256,64,16,4,1][rank]) AS err_scaled,
       |    SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS n_exact_at10,
       |    SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n_family_at10
       |  FROM cum GROUP BY query_id, qlabel
       |)
       |SELECT query_id, CAST(qlabel AS BIGINT) AS label,
       |  CAST(n_exact_at10 AS BIGINT) AS n_exact_at10,
       |  CAST(n_family_at10 AS BIGINT) AS n_family_at10,
       |  CAST(err_scaled AS BIGINT) AS err_scaled,
       |  CAST(err_scaled * 1000000 // 2642411520 AS BIGINT) AS err_ppm
       |FROM terms ORDER BY query_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val invArr = array(Seq(2520L, 1260L, 840L, 630L, 504L, 420L, 360L, 315L,
      280L, 252L).map(lit): _*)
    val numArr = array(Seq(0L, 1L, 3L).map(lit): _*)
    val p4Arr = array((0 until 10).map(i => lit(math.pow(4, i).toLong)): _*)
    val p3Arr = array((0 until 10).map(i => lit(math.pow(3, i).toLong)): _*)
    val p4RemArr = array((9 to 0 by -1).map(i => lit(math.pow(4, i).toLong)): _*)
    val vecs = withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")), "v")
    val qs = vecs.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("v_nrm").as("qv_nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_ppm").desc, col("vec_id"))
    val ranked = vecs.crossJoin(broadcast(qs)) // 20 query vectors broadcast
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"),
        when(col("label") === col("qlabel"), 2L)
          .when(col("label") % 5 === col("qlabel") % 5, 1L).otherwise(0L).as("g"),
        cosPpmPre(dot(col("qv"), col("v")), col("qv_nrm"), col("v_nrm")).as("cos_ppm"),
        col("vec_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
    val wCum = Window.partitionBy("query_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = ranked
      .withColumn("c0", count(when(col("g") === 0, 1)).over(wCum))
      .withColumn("c1", count(when(col("g") === 1, 1)).over(wCum))
    cum.groupBy("query_id", "qlabel")
      .agg(sum(element_at(invArr, col("rank").cast("int"))
          * element_at(numArr, (col("g") + 1).cast("int"))
          * element_at(p4Arr, (col("c0") + 1).cast("int"))
          * element_at(p3Arr, (col("c1") + 1).cast("int"))
          * element_at(p4RemArr, col("rank").cast("int"))).as("err_scaled"),
        sum(when(col("g") === 2, 1L).otherwise(0L)).as("n_exact_at10"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_family_at10"))
      .select(col("query_id"), col("qlabel").cast("long").as("label"),
        col("n_exact_at10"), col("n_family_at10"), col("err_scaled"),
        expr("err_scaled * 1000000 div 2642411520").as("err_ppm"))
      .orderBy("query_id")
  }

  val all: Seq[Q] = Seq(q285ErrEval, q31KnnBrute, q32AnnLsh, q33EmbedNearDup, q34Centroid,
    q54AnnIvf, q62Quantize, q98KmeansLloyd, q99HardNegatives, q100ProductQuant,
    q104AnnRecall, q109SemDedup, q116BitextMine, q117ClusterQuality, q125HybridRrf,
    q134IvfAppend, q137IvfPqSearch, q172PrefixDimQuality, q204MutualNn,
    q220PcaPower, q221JlDistortion, q234KCenterCoreset, q237MmrRerank,
    q250MrrEval, q257NdcgEval, q258MapEval, q276RankBiasedOverlap,
    q311NprobeCurve)


}
