package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge into `private[sql]` and `private[spark]` APIs: the Dataset
  * constructor, so graft's custom logical operators
  * (plans.TopKPerGroupPlan) can be wrapped back into a public DataFrame;
  * the engine's only checkpoint implementation, behind graft.Materialize;
  * and the listener bus behind graft.Obs (its drain and the job-tag
  * property). The standard extension-library shim; nothing else may
  * live in this package. */
object PlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a catalyst Expression as a public Column (and back) — lets
    * graft's native expressions be used from the Column API without a
    * session-extension registry lookup. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `Dataset.localCheckpoint(eager = true)` with the eager job doing
    * double duty: the same `runJob` that caches every partition also
    * returns `f` of each partition's rows (graft.Materialize.fold). Runs
    * under one SQL execution id, named like the built-in checkpoint, so
    * listeners see the plan exactly as they see a `localCheckpoint()`. */
  def checkpointFold[A: ClassTag](df: DataFrame, f: Iterator[InternalRow] => A)
      : (DataFrame, Array[A]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
      val parts = ds.sparkSession.sparkContext.runJob(rdd, f)
      val snap = org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
      (snap, parts)
    }
  }

  /** The RDD behind a frame `checkpointFold` returned. */
  def checkpointRdd(snap: DataFrame): RDD[_] =
    snap.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalArgumentException(
        s"not a checkpoint snapshot: ${p.nodeName}")
    }

  /** Unpersist an RDD by id (blocking); a no-op for one already removed. */
  def unpersistRdd(sc: SparkContext, id: Int): Unit = sc.unpersistRDD(id, blocking = true)

  /** Block until every listener has handled every event posted so far;
    * throws if the bus has not emptied within a minute. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The job tags recorded in a job's properties. */
  def jobTags(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .fold(Set.empty[String])(_.split(SparkContext.SPARK_JOB_TAGS_SEP).filter(_.nonEmpty).toSet)
}
