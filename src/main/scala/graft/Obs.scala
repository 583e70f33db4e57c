package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.PlanShim

/** The engine's one telemetry listener. [[measure]] runs a body under a
  * fresh Spark job tag, which Spark copies onto every job the body
  * launches (AQE stages, broadcasts, subqueries, threads it starts), so
  * a record holds exactly the body's work, whatever else runs at the
  * same time. The listener is installed by a SparkContext's first
  * `measure` and keeps data only for the measures in flight. */
object Obs {

  /** A completed stage: its task count, executor run time, each finished
    * task's duration (ms) and the shuffle bytes it wrote and read. */
  final case class Stage(id: Int, tasks: Int, runMs: Long, taskMs: Seq[Long],
      shuffleWriteBytes: Long, shuffleReadBytes: Long)

  /** What ran under one [[measure]]: each job's tag set in job id order
    * (the engine's finer tags split a record further), the completed
    * stages, and each SQL execution's latest plan node names, subqueries
    * included. */
  final case class Record(jobs: Seq[Set[String]], stages: Seq[Stage], plans: Seq[Seq[String]]) {
    def tasks: Int = stages.map(_.tasks).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  }

  /** Run `body` under a fresh job tag made from `name` (no `,`), wait until
    * the listener has handled every event posted so far, and return the
    * body's result with the record of its jobs. */
  def measure[A](spark: SparkSession, name: String)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    val l = listeners.synchronized {
      listeners.computeIfAbsent(sc, _ => { val l = new Listener; sc.addSparkListener(l); l })
    }
    val tag = s"obs $name #${ids.incrementAndGet()}"
    val acc = new Acc
    l.active.put(tag, acc)
    try {
      val out = tagged(sc, tag)(body)
      PlanShim.drainListenerBus(sc)
      (out, Record(acc.jobs.values.asScala.toSeq, acc.stages.values.asScala.toSeq,
        acc.plans.values.asScala.toSeq))
    } finally l.active.remove(tag)
  }

  /** `body` with the fresh `tag` (no `,`) added to this thread's Spark
    * job tags, and so to every job it launches. */
  def tagged[A](sc: SparkContext, tag: String)(body: => A): A = {
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  private val ids = new AtomicLong
  private val listeners = new java.util.WeakHashMap[SparkContext, Listener]

  private def nodeNames(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodeNames)

  /** One measure's share of the events. */
  private final class Acc {
    val jobs = new ConcurrentSkipListMap[Int, Set[String]]
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
    val stages = new ConcurrentSkipListMap[Int, Stage]
    val plans = new ConcurrentSkipListMap[Long, Seq[String]]
  }

  private final class Listener extends SparkListener {
    val active = new ConcurrentHashMap[String, Acc]

    private def byTags(tags: Set[String]) = tags.flatMap(t => Option(active.get(t)))
    private def byStage(id: Int) = active.values.asScala.filter(_.stageIds.contains(id))

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val tags = PlanShim.jobTags(js.properties)
      byTags(tags).foreach { a => a.jobs.put(js.jobId, tags); js.stageIds.foreach(a.stageIds.add) }
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskInfo != null) byStage(te.stageId).foreach(
        _.taskMs.computeIfAbsent(te.stageId, _ => new ConcurrentLinkedQueue[Long])
          .add(te.taskInfo.duration))

    // a stage's task ends are posted before its completion
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = Option(si.taskMetrics)
      byStage(si.stageId).foreach { a =>
        val ms = Option(a.taskMs.remove(si.stageId)).fold(Seq.empty[Long])(_.asScala.toSeq)
        a.stages.put(si.stageId, Stage(si.stageId, si.numTasks, m.fold(0L)(_.executorRunTime), ms,
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten), m.fold(0L)(_.shuffleReadMetrics.totalBytesRead)))
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        byTags(s.jobTags).foreach(_.plans.put(s.executionId, nodeNames(s.sparkPlanInfo)))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        active.values.asScala.filter(_.plans.containsKey(u.executionId))
          .foreach(_.plans.put(u.executionId, nodeNames(u.sparkPlanInfo)))
      case _ =>
    }
  }
}
