package graft

/** Scratch profiler: noop-sink timing and Spark job count for a subset of
  * registered queries.
  * Usage: runMain graft.Prof q42_xml_flatten q35_ocds_flatten
  * (`SPARK_GRAFT_CONF="key=value;..."` adds session settings for A/Bs) */
object Prof {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local("graft-prof", conf = Session.envConf)
    spark.sparkContext.setLogLevel("WARN")
    val byName = SparkEntry.queries
    // warmup
    byName("q02_filter_project")(spark, sf).write.format("noop").mode("overwrite").save()
    for (name <- args; _ <- 1 to 2) {
      // one graft.Obs record per profiled run; eager checkpoints,
      // broadcasts and collects each launch a job, so a job diet shows.
      // `held`: the run's snapshots the scope released (as in Bench)
      val ((sec, rec), held) = Materialize.scope(Obs.measure(spark, name) {
        val t0 = System.nanoTime()
        byName(name)(spark, sf).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
      // straggler = worst max/median task-wall ratio over MATERIAL
      // stages (>= 4 tasks, max task >= 0.5 s — tiny stages are noise);
      // report the worst stage's absolutes alongside the ratio. The
      // median gets a 0.1 s floor in the RATIO (round-11 stretch item:
      // a ~0.02 s median under a 1.5 s max printed "75x" for stages
      // where salting is working fine — scheduling jitter, not skew);
      // absolutes still come from the true median, so nothing is hidden
      val strag = rec.stages.flatMap { st =>
        val ts = st.taskMs.map(_ / 1e3).sorted
        val med = ts.lift(ts.size / 2).getOrElse(0.0)
        Option.when(ts.size >= 4 && ts.last >= 0.5 && med > 0)(
          (ts.last / math.max(med, 0.1), st.id, ts.last, med))
      }.sortBy(-_._1).headOption
      val stragStr = strag.map { case (r, sid, mx, med) =>
        f"straggler=$r%.1fx(s$sid max=$mx%.1fs med=$med%.1fs)" }
        .getOrElse("straggler=1.0x")
      // skew-join engagement (round-9 VERDICT item 5): a
      // SortMergeJoinExec/ShuffledHashJoinExec that OptimizeSkewedJoin
      // split carries "skew=true" in its node name in the AQE-final plan
      val skew = rec.plans.flatten.count(_.contains("skew=true"))
      println(f"[prof] $name%-24s $sec%.2f s  jobs=${rec.jobs.size}%d shuffle w=${rec.shuffleWriteBytes / 1024}%d KiB r=${rec.shuffleReadBytes / 1024}%d KiB skew=$skew%d $stragStr held=$held")
      // per-stage parallelism evidence: (numTasks, executor seconds);
      // distinguishes "the host was busy" from "AQE serialized the stage"
      val heavy = rec.stages.sortBy(-_.runMs).take(6)
        .map(st => f"s${st.id}:${st.tasks}%dt/${st.runMs / 1e3}%.1fs").mkString(" ")
      println(s"[prof-stages] $name $heavy")
    }
    spark.stop()
  }
}
