package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: a timed cold set-up, timed passes
  * until `seconds` of pass time are spent, then output checks. Writes a
  * raw report (every sample) that ../run.py reduces to the metrics.
  *
  * Args: workload inputDir warmDir workDir seconds trace(0|1) seed
  *       report [queries=q1,q2] [planted=k:v,k:v]
  */
object Main {
  final case class PassRec(traced: Boolean, wallS: Double, calls: Seq[Call], out: PassOut,
      jobs: Long, extBusyCores: Double, releaseS: Double,
      counts: Map[String, Double])

  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", graft.Tuning.codegenCacheMaxEntries.toString)
    .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(workload, in, warmIn, work, secondsS, traceS, seedS, report) = args.take(8)
    val opts = args.drop(8).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val seed = seedS.toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val planted = opts.get("planted").toSeq.flatMap(_.split(",")).map { kv =>
      val Array(k, v) = kv.split(":"); k -> v.toLong }.toMap
    val wl: Workload = workload match {
      // the reference dataflow's batch stages, then its streaming twin
      case "etl" => new Chain(Seq(new Etl(in, work, seed, planted),
        new Stream(s"$in/docs", s"$warmIn/docs", work)))
      case _ => new Mix(opts("queries").split(",").toSeq, in, work, seed)
    }

    // set-up: session build + warm-up in a fresh JVM, up to the first
    // timed call
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val built = (System.nanoTime() - t0) / 1e9
    wl.warm(spark)
    val setup = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up: session $built%.2f s, total $setup%.2f s")
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    val tracer = new Tracer(s"$workload-$seed", sc, probe)

    // timed passes; a traced run alternates untraced and traced passes
    // (at least untraced, traced, untraced) so the tracing overhead is
    // measured in the same JVM
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val minPasses = if (trace) 3 else 1
    var spent = 0.0
    var i = 0
    while (i < minPasses || spent < seconds) {
      val traced = trace && i % 2 == 1
      org.apache.spark.perfbench.Bus.drain(sc)
      val jobs0 = probe.allJobs.get
      probe.counting = traced
      tracer.enabled = traced
      val before = probe.snapshot()
      val ext = new Host.ExtWindow
      val calls = tracer.span(s"pass$i")(wl.pass(spark, i, tracer))
      val extCores = ext.close()
      val wall = calls.map(_.wallS).sum
      org.apache.spark.perfbench.Bus.drain(sc)
      val after = probe.snapshot()
      probe.counting = false
      tracer.enabled = false
      val jobs = probe.allJobs.get - jobs0
      val out = wl.after(spark, i, tracer, traced)
      // pinned checkpoints are released between passes: timed, reported
      val pinned = sc.getPersistentRDDs.size.toDouble
      val storageMiB = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      val r0 = System.nanoTime()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val release = (System.nanoTime() - r0) / 1e9
      val counts = if (!traced) Map.empty[String, Double] else
        after.map { case (k, v) => k -> (v - before(k)) } ++ Map(
          "ckpt.pinned_rdds" -> pinned, "ckpt.storage_mib" -> storageMiB)
      passes += PassRec(traced, wall, calls, out, jobs, extCores, release, counts)
      spent += wall + release
      i += 1
    }

    val checks = wl.check(spark)
    val gc = Host.gcS()
    val jit = Host.jitS()
    if (trace) tracer.write(s"$work/spans.json")
    spark.stop()
    val rss = Host.peakRssMiB()

    def passJson(p: PassRec): String = Json.obj(Seq(
      "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wallS),
      "calls" -> Json.arr(p.calls.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "group" -> Json.str(c.group), "wall_s" -> Json.num(c.wallS), "ok" -> c.ok.toString,
        "counts" -> Json.obj(c.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))),
      "batch_s" -> Json.nums(p.out.batchS), "jobs" -> p.jobs.toString,
      "out_bytes" -> Json.num(p.out.outBytes), "in_bytes" -> Json.num(p.out.inBytes),
      "ext_busy_cores" -> Json.num(p.extBusyCores), "release_s" -> Json.num(p.releaseS),
      "layer" -> Json.obj((p.counts ++ p.out.layer).toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) })))
    val json = Json.obj(Seq(
      "cores" -> cores.toString,
      "setup_s" -> Json.num(setup),
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "checks" -> Json.arr(checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail))))),
      "jvm" -> Json.obj(Seq("gc_s" -> Json.num(gc), "jit_s" -> Json.num(jit))),
      "peak_rss_mib" -> Json.num(rss)))
    Files.write(Paths.get(report), json.getBytes("UTF-8"))
  }
}
