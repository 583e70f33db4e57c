package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** JIT-stability canary (round-5 VERDICT item 2).
  *
  * Round 5's driver bench hit a suite-wide cliff: the ~125-query registry
  * generates ~1,600 distinct codegen classes per pass but Spark's class
  * cache held 100, so every pass re-compiled the world, overflowed the
  * reserved code cache, and q35/q36 + every later query degraded 2-6x.
  * These tests pin the two mechanisms so a future wide query reintroduces
  * the cliff in CI, not in the driver bench:
  *
  *  1. the codegen class cache must stay sized to the registry
  *     ([[Tuning.codegenCacheMaxEntries]] vs a per-query class budget);
  *  2. no single whole-stage-codegen span may grow pathologically large
  *     (measured suite max 60,149 chars; ceiling 2.5x that);
  *  3. re-running the widest query (q35, the 124-column OCDS flatten —
  *     whose giant classes are STANDALONE projection codegen, invisible
  *     to the WSCG scan) must compile ZERO new classes: the class cache,
  *     not the Janino/JIT pipeline, absorbs repeat passes.
  */
class JitCanarySpec extends SparkSpec {

  test("codegen class cache is sized to the registry") {
    val need = Tuning.classesPerQueryBudget * SparkEntry.registry.size
    assert(
      Tuning.codegenCacheMaxEntries >= need,
      s"registry grew to ${SparkEntry.registry.size} queries; " +
        s"spark.sql.codegen.cache.maxEntries=${Tuning.codegenCacheMaxEntries} " +
        s"no longer covers a full compiled generation (budget $need). " +
        "Raise Tuning.codegenCacheMaxEntries or the suite re-enters the " +
        "round-5 recompile/code-cache-flush cliff.")
    // the shared test session must carry every setting graft.Session
    // puts on a session (the static codegen cache size among them), so a
    // test session built outside the factory fails here
    Session.settings(4).foreach { case (k, v) =>
      assert(spark.conf.getOption(k) === Some(v), s"shared session conf $k")
    }
    // and graft.Session is the only place src/main builds a session
    val builders = sources.Versioned.walk(java.nio.file.Paths.get("src/main"))
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toList
    assert(builders === List("Session.scala"))
  }

  test("no whole-stage-codegen span exceeds the source-size ceiling") {
    // AQE final plans only materialize at execution; plan with AQE off so
    // the WSCG subtrees are visible (and deterministic) at plan time.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val sizes = SparkEntry.registry.flatMap { q =>
        try {
          q.fn(spark, sf).queryExecution.executedPlan.collect {
            case w: WholeStageCodegenExec => (q.name, w.doCodeGen()._2.body.length)
          }
        } catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      }
      // sanity: the scan saw the real registry (682 spans measured)
      assert(sizes.size > 400, s"WSCG scan only found ${sizes.size} spans")
      val ceiling = 150000 // chars; suite max 60,149 (q112) as of round 6
      val offenders = sizes.filter(_._2 > ceiling)
      assert(offenders.isEmpty,
        s"WSCG spans over $ceiling chars (JIT/code-cache hazard): " +
          offenders.sortBy(-_._2).take(5).map { case (n, s) => s"$n=$s" }
            .mkString(", ") +
          " — split the projection into staged selects or raise " +
          "spark.sql.codegen.methodSplitThreshold for that subtree.")
    }
  }

  test("q35 repeat run compiles zero new classes (class cache absorbs it)") {
    val q35 = SparkEntry.registry.find(_.name == "q35_ocds_flatten").get
    def run(): Unit =
      q35.fn(spark, sf).write.format("noop").mode("overwrite").save()
    run() // populate the class cache (84 classes if nothing ran before)
    // The metric is JVM-global; an unrelated background compile (e.g.
    // another suite's lingering streaming machinery) can bump it between
    // snapshots. Allow up to 3 repeat runs and require SOME run to compile
    // zero new classes: a broken cache recompiles all ~84 q35 classes on
    // EVERY pass, so the discriminator survives the retries.
    val deltas = (1 to 3).iterator.map { _ =>
      val before = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
      run()
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - before
    }.takeWhile(_ != 0L).toList
    assert(deltas.length < 3,
      s"3 consecutive q35 re-runs each Janino-compiled new classes ($deltas) " +
        "— the codegen class cache is not absorbing repeat passes (round-5 " +
        "cliff mechanism); check spark.sql.codegen.cache.maxEntries and plan " +
        "determinism.")
  }
}
