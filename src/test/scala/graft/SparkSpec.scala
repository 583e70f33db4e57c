package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with the session settings `kv`, then restore each key's
    * previous value (or unset it). */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
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
