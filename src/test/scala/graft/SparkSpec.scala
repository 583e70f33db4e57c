package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it started, grouped by `key` of
    * each job's properties (jobs without a key are not counted). */
  def jobsBy[A](key: java.util.Properties => Option[String])(body: => A): (A, Map[String, Int]) = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(key).foreach(counts.merge(_, 1, _ + _))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      // the jobs are done; only listener-event delivery can lag
      def total = counts.values.stream().mapToInt(_.intValue).sum
      var prev = -1; var spins = 0
      while (prev != total && spins < 50) { prev = total; Thread.sleep(100); spins += 1 }
      import scala.jdk.CollectionConverters._
      (out, counts.asScala.toMap)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Shared ZIP fixture builder (PipelineSpec + StreamingSpec). */
  def makeZip(path: String, entries: (String, Array[Byte])*): Unit = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val out = new ZipOutputStream(new java.io.FileOutputStream(path))
    entries.foreach { case (name, bytes) =>
      out.putNextEntry(new ZipEntry(name))
      out.write(bytes)
      out.closeEntry()
    }
    out.close()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local("graft-test", 4, Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
