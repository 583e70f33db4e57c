package graft

import org.apache.spark.sql.functions._

/** graft.Obs: a record holds exactly the jobs, stages and tasks its body
  * ran, whatever else runs on the session, and the plans of the SQL
  * executions the body started. The reference count is Spark's own
  * status tracker, which sees every job untagged. */
class ObsSpec extends SparkSpec {

  private val names = Seq("q02_filter_project", "q212_hits", "q312_dedup_merge")

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()

  /** `body`'s result and the (jobs, completed stages, finished tasks) of
    * the jobs it started, as the status tracker counts them; `body` must
    * end with a drained listener bus, as `Obs.measure` does. */
  private def untagged[A](body: => A): (A, (Int, Int, Int)) = {
    val st = spark.sparkContext.statusTracker
    val before = st.getJobIdsForGroup(null).toSet
    val out = body
    val jobs = st.getJobIdsForGroup(null).filterNot(before)
    val stages = jobs.flatMap(st.getJobInfo(_).toSeq.flatMap(_.stageIds)).distinct
      .flatMap(st.getStageInfo(_)).filter(_.numCompletedTasks > 0)
    (out, (jobs.length, stages.length, stages.map(_.numCompletedTasks).sum))
  }

  private def counts(r: Obs.Record): (Int, Int, Int) = (r.jobs.size, r.stages.size, r.tasks)

  test("records of queries run back to back equal the untagged counts of each query") {
    names.foreach(run) // warm-up
    for (name <- names) {
      val (rec, want) = untagged(Obs.measure(spark, name)(run(name))._2)
      info(s"$name: (jobs, stages, tasks) = $want")
      assert(want._1 > 0 && counts(rec) == want, name)
      assert(rec.stages.forall(s => s.taskMs.size == s.tasks), name)
    }
  }

  test("records of two queries run concurrently equal their solo records and sum to the total") {
    val (a, b) = ("q212_hits", "q312_dedup_merge")
    val solo = Seq(a, b).map(n => counts(Obs.measure(spark, n)(run(n))._2))
    val (recs, total) = untagged {
      // fresh threads: each starts with no job tags
      val tasks = Seq(a, b).map(n =>
        new java.util.concurrent.FutureTask(() => Obs.measure(spark, n)(run(n))._2))
      tasks.foreach(new Thread(_).start())
      tasks.map(_.get())
    }
    assert(recs.map(counts) == solo)
    assert(recs.map(counts).reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3)) == total)
  }

  test("a record holds the plan of a checkpoint run inside its body") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (_, rec) = Obs.measure(spark, "cartesian") {
        Materialize.release(Materialize.snapshot(
          spark.range(3).crossJoin(spark.range(4).select(col("id").as("j")))))
      }
      assert(rec.plans.flatten.contains("CartesianProduct"), rec.plans)
    }
  }
}
