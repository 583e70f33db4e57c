package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanShim

/** graft.Materialize: the scalar a checkpoint job folds out of its rows
  * must equal the separate aggregate it replaces, and the helpers built
  * on it (Rank, q146, connectedComponents) must not depend on how
  * Spark happens to execute the plan. */
class MaterializeSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("fold scalars equal the separate aggregates, empty and all-NULL included") {
    val full = spark.range(0, 1000, 1, 7)
      .select(((col("id") * 7919) % 1000 - 300).as("x"), lit(null).cast("long").as("nul"))
    val empty = full.filter(lit(false))
    for (df <- Seq(full, empty); c <- Seq("x", "nul")) {
      val exp = df.agg(sum(c), max(c), count(when(col(c) > 100, 1)), count(lit(1)), min(c)).head()
      def opt(i: Int) = if (exp.isNullAt(i)) None else Some(exp.getLong(i))
      val (s1, sm) = Materialize.sumLong(df, c)
      val (s2, mx) = Materialize.maxLong(df, c)
      val i = df.schema.fieldIndex(c)
      val (s3, n) = Materialize.count(df)(r => !r.isNullAt(i) && r.getLong(i) > 100)
      val (s4, red) = Materialize.reduceLongs(df,
        (None, Math.addExact), (Some(c), math.min), (Some(c), math.max))
      assert(sm == opt(0), s"sum($c)")
      assert(mx == opt(1), s"max($c)")
      assert(n == exp.getLong(2), s"count($c > 100)")
      assert(red == Seq(opt(3).filter(_ > 0), opt(4), opt(1)), s"count(*), min($c), max($c)")
      // the snapshots hold the frame's rows
      Seq(s1, s2, s3, s4).foreach(snap => assert(rows(snap) == rows(df)))
    }
  }

  test("sumLong overflows loudly, as ANSI SUM does") {
    // overflow inside one partition and across partitions
    for (parts <- Seq(1, 2)) {
      val big = spark.range(0, 4, 1, parts).select(lit(Long.MaxValue / 2).as("x"))
      val e = intercept[Exception](Materialize.sumLong(big, "x"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), e.toString)
    }
  }

  test("Rank equals Spark's running-sum window with reuse off and with AQE off") {
    val base = spark.range(0, 1000, 1, 7).select(
      ((col("id") * 7919) % 1000).cast("string").as("k"), // unique
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 3).as("g"),
      (col("id") % 4).as("a"), col("id").as("b"),
      when(col("id") % 11 === 0, lit(null)).otherwise((col("id") * 31) % 97 - 20).as("w"))
    // (case, input, group, order, weight)
    val cases = Seq[(String, DataFrame, Seq[String], Seq[Column], Option[String])](
      ("a global order", base, Nil, Seq(col("k")), None),
      ("groups with a NULL group", base, Seq("g"), Seq(col("k")), None),
      ("a two-column order, one desc", base, Nil, Seq(col("a"), col("b").desc), None),
      ("a weighted sum", base, Seq("g"), Seq(col("b")), Some("w")),
      ("an empty input", base.filter(lit(false)), Nil, Seq(col("k")), None),
      ("a single input partition", base.coalesce(1), Seq("a"), Seq(col("k")), Some("w")))
    for (conf <- Seq("spark.sql.exchange.reuse" -> "false", "spark.sql.adaptive.enabled" -> "false");
        (name, df, g, o, w) <- cases) withConf(conf) {
      val wc = w.fold(lit(1L))(col)
      val frame = Window.partitionBy(g.map(col): _*).orderBy(o: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val (ranked, tot) = Rank(df, "rk", o, g.map(col), w)
      assert(rows(ranked) == rows(df.withColumn("rk", sum(wc).over(frame) - wc)), s"$name, $conf")
      val exp = df.groupBy(g.map(col): _*).agg(sum(wc).as("t")).filter(col("t").isNotNull)
        .collect().map(r => Row.fromSeq(r.toSeq.init) -> r.getLong(g.size)).toMap
      assert(tot == exp, s"$name totals, $conf")
    }
  }

  test("Rank throws on a duplicate (group, order) key") {
    val df = spark.range(0, 1000, 1, 7).select((col("id") % 2).as("g"), col("id").as("id"))
    // unique per group, though the order column repeats across groups
    Rank(df.select(col("g"), (col("id") / 2).cast("long").as("o")), "rk", Seq(col("o")), Seq(col("g")))
    val e = intercept[Exception](
      Rank(df.select(col("g"), (col("id") / 4).cast("long").as("o")), "rk", Seq(col("o")), Seq(col("g"))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains("duplicate key")),
      e.toString)
  }

  test("q146 gives the same rows with exchange reuse off") {
    val q = SparkEntry.queries("q146_stratified_split")
    val on = rows(q(spark, sf))
    val off = withConf("spark.sql.exchange.reuse" -> "false")(rows(q(spark, sf)))
    assert(off == on)
    // and they are the per-language row_number ranks
    val exp = rows(Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), functions.TextFunctions.hex32(
        concat(lit("split_"), col("doc_id").cast("string"))).as("ord"))
      .withColumn("rank_in_lang", row_number().over(
        Window.partitionBy("lang").orderBy("ord", "doc_id")) - 1)
      .withColumn("tot", count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("lang"), col("doc_id"), col("rank_in_lang"),
        when(col("rank_in_lang") * 10 < col("tot") * 8, "train")
          .when(col("rank_in_lang") * 10 < col("tot") * 9, "val")
          .otherwise("test").as("split")))
    assert(on == exp)
  }

  test("connectedComponents on an empty node set returns an empty result") {
    import spark.implicits._
    val nodes = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ops.Dedup.connectedComponents(nodes, edges).isEmpty)
  }

  test("q211 and a multi-round connectedComponents leave only their final snapshots persisted") {
    // the edge table and four peel-round snapshots released; the two the
    // result reads stay (the host ranking and the final degree table)
    val (_, q211) = Materialize.scope(SparkEntry.queries("q211_kcore")(spark, sf).collect())
    assert(q211 <= 2, s"q211 held $q211 snapshots")
    // a 16-node path takes several pointer-jumping rounds
    import spark.implicits._
    val nodes = (0L until 16L).toDF("id")
    val edges = (0L until 15L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("a", "b")
    val (comps, cc) = Materialize.scope(
      ops.Dedup.connectedComponents(nodes, edges).select("comp").as[Long].collect().toSeq)
    assert(comps == Seq.fill(16)(0L))
    assert(cc <= 1, s"connectedComponents held $cc snapshots")
  }

  // scope tests: a strong reference to each frame keeps its RDD out of
  // the ContextCleaner's reach, so "not persisted" below means released
  private def snap(): DataFrame = Materialize.snapshot(spark.range(0, 100, 1, 2).toDF("x"))
  private def id(df: DataFrame): Int = PlanShim.checkpointRdd(df).id
  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id(df))

  test("scope: the held count is exact whatever the driver's GC has collected") {
    val (kept, held) = Materialize.scope {
      (1 to 3).foreach(_ => snap()) // no reference survives the loop
      System.gc()
      val released = snap()
      Materialize.release(released)
      snap()
    }
    assert(held == 4)
    assert(!persisted(kept))
  }

  test("scope: a body that throws still releases its snapshots") {
    var made: DataFrame = null
    val e = intercept[IllegalStateException](Materialize.scope {
      made = snap()
      assert(persisted(made))
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(!persisted(made))
  }

  test("scope: a nested scope releases only its own snapshots") {
    val ((outer, inner, innerHeld), outerHeld) = Materialize.scope {
      val outer = snap()
      val (inner, innerHeld) = Materialize.scope(snap())
      assert(persisted(outer) && !persisted(inner))
      (outer, inner, innerHeld)
    }
    assert(innerHeld == 1 && outerHeld == 1)
    assert(!persisted(outer) && !persisted(inner))
  }

  test("scope: a snapshot made outside any scope is not recorded") {
    val outside = snap()
    val (inside, held) = Materialize.scope(snap())
    assert(held == 1 && !persisted(inside))
    assert(persisted(outside))
    Materialize.release(outside)
  }

  test("job-count pins: q212 and q312 at sf0.01") {
    // measured on this 4-core session when each scalar moved into its
    // checkpoint job (before: q212 50, q312 56)
    val pins = Seq("q212_hits" -> 29, "q312_dedup_merge" -> 45)
    val sf01 = new java.io.File(sf).getParent + "/sf0.01"
    val got = pins.map { case (name, _) =>
      val (_, rec) = Obs.measure(spark, name) {
        SparkEntry.queries(name)(spark, sf01).write.format("noop").mode("overwrite").save()
      }
      name -> rec.jobs.size
    }.toMap
    info(s"jobs per run: $got")
    val over = pins.filter { case (name, pin) => got(name) > pin }
    assert(over.isEmpty, s"jobs per run $got exceed the pins $pins")
  }
}
