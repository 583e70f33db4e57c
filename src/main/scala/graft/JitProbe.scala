package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** Diagnostic: per-query JIT / codegen pressure.
  *
  * For each registered query (or the subset named in args) this runs the
  * query through the noop sink and reports
  *   - wall seconds,
  *   - delta native code-cache bytes (sum of the segmented CodeHeap pools —
  *     the resource q35/q36 exhausted in the round-5 driver bench),
  *   - delta JIT compilation milliseconds,
  *   - delta Janino-compiled generated classes and their max bytecode size
  *     (CodegenMetrics histograms; count is exact, max is reservoir-backed).
  *
  * Run with a deliberately small cache to reproduce the cliff:
  *   sbt -batch 'set run/javaOptions += "-XX:ReservedCodeCacheSize=240m"' \
  *     "runMain graft.JitProbe"
  */
object JitProbe {
  private def codeCacheUsed(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed)
      .sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local("graft-jitprobe", conf = Session.envConf)
    spark.sparkContext.setLogLevel("WARN")
    val jit = ManagementFactory.getCompilationMXBean

    // `wscg` mode: plan every query (AQE off so the physical tree is
    // final at plan time), doCodeGen each whole-stage subtree, and print
    // the largest generated sources — calibration data for JitCanarySpec.
    if (args.headOption.contains("wscg")) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val sizes = SparkEntry.registry.flatMap { q =>
        try {
          val plan = q.fn(spark, sfDir).queryExecution.executedPlan
          plan.collect {
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
              (q.name, w.doCodeGen()._2.body.length)
          }
        } catch { case e: Throwable =>
          System.err.println(s"[jitprobe-wscg] ${q.name}: $e"); Nil }
      }
      sizes.sortBy(-_._2).take(20).foreach { case (n, s) =>
        println(f"[wscg] $n%-26s $s%8d chars") }
      println(s"[wscg] spans: ${sizes.size}, total chars: ${sizes.map(_._2.toLong).sum}")
      spark.stop(); return
    }

    val selected =
      if (args.nonEmpty) SparkEntry.registry.filter(q => args.contains(q.name))
      else SparkEntry.registry

    case class Row(name: String, sec: Double, cacheKb: Long, jitMs: Long,
        classes: Long, maxClassBytes: Long)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val rows = (1 to repeat).flatMap { pass =>
      println(s"[jit] === pass $pass ===")
      selected.map { q =>
      val cache0 = codeCacheUsed()
      val jit0 = jit.getTotalCompilationTime
      val cls0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
      val t0 = System.nanoTime()
      try Materialize.scope(q.fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      catch { case e: Throwable => System.err.println(s"[jitprobe] ${q.name}: $e") }
      val sec = (System.nanoTime() - t0) / 1e9
      // let background C2 compilation land before sampling the pools
      Thread.sleep(200)
      val r = Row(q.name, sec,
        (codeCacheUsed() - cache0) / 1024,
        jit.getTotalCompilationTime - jit0,
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - cls0,
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMax)
      println(f"[jit] ${r.name}%-26s ${r.sec}%6.2f s  cache ${r.cacheKb}%7d KiB  jit ${r.jitMs}%6d ms  classes ${r.classes}%4d  maxClass ${r.maxClassBytes}%7d B")
      r
      }
    }
    println(f"[jit] TOTAL cache used now: ${codeCacheUsed() / 1024 / 1024}%d MiB; suite wall ${rows.map(_.sec).sum}%.1f s")
    println("[jit] top cache consumers:")
    rows.sortBy(-_.cacheKb).take(15).foreach { r =>
      println(f"[jit-top] ${r.name}%-26s ${r.cacheKb}%7d KiB  ${r.jitMs}%6d ms jit  ${r.classes}%4d classes")
    }
    spark.stop()
  }
}
