package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** ZIP-of-XML as a first-class DataSource V2 (`spark.read.format
  * ("graft-zip").load(dir)`) — the Spark-native spelling of the S7 scan
  * that [[ZipXml.zipEntries]] implements over `binaryFile` +
  * `flatMap`. Same rows: (source_zip, source_xml_file, xml), `*.xml`
  * entries only, strict-UTF-8 → latin-1 decode (2b_extract_find_a_
  * tender_XMLs.py:479-482 semantics).
  *
  * Why a connector instead of the flatMap: the scan enters Catalyst as
  * a real table, so the planner sees and controls it.
  *  - Partition planning: ONE InputPartition per ZIP file, planned on
  *    the driver from the file listing alone — a day's ZIPs fan out
  *    across executors, and no executor ever holds a whole ZIP as a
  *    row (binaryFile materializes each archive as a single
  *    driver-sized row value first; at 100 TB that row IS the task's
  *    memory budget, where this reader streams entry-by-entry).
  *  - Column pruning (SupportsPushDownRequiredColumns): a query that
  *    reads only entry NAMES (a manifest/audit scan) skips the
  *    charset decode and row materialization of every payload (the
  *    compressed bytes still stream through the inflater —
  *    ZipInputStream has no way to seek past a deflated entry).
  *  - The decode work happens inside the reader, codegen consumes
  *    UTF8String directly; no intermediate Dataset[(String, ...)]
  *    encoder hop.
  *
  * Readers re-open their ZIP through the Hadoop FileSystem API, so the
  * same connector reads local disk here and HDFS/S3 on a cluster (the
  * executor-side `new Configuration()` picks up the cluster's
  * core-site.xml from the classpath).
  */
class ZipXmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-zip"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipXmlTable.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ZipXmlTable(properties.get("path"))
}

object ZipXmlTable {
  val fullSchema: StructType = StructType(Seq(
    StructField("source_zip", StringType, nullable = false),
    StructField("source_xml_file", StringType, nullable = false),
    StructField("xml", StringType, nullable = false)))

  /** The `.zip` files at `path` (a directory or a glob), sorted; a
    * driver-side listing only. The exists() guard comes first: a glob
    * path is not a real file, so getFileStatus on it would throw before
    * globStatus ran. */
  private[sources] def zipPaths(path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    val stats =
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.listStatus(p)
      else fs.globStatus(p)
    Option(stats).toSeq.flatten
      .filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".zip"))
      .map(_.getPath.toString).sorted
  }
}

class ZipXmlTable(path: String) extends Table with SupportsRead {
  require(path != null && path.nonEmpty, "graft-zip requires a load path")
  override def name(): String = s"graft-zip:$path"
  override def schema(): StructType = ZipXmlTable.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZipXmlScanBuilder(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      options.getBoolean("ignoreCorruptFiles", false))
}

class ZipXmlScanBuilder(path: String, maxFilesPerTrigger: Option[Int],
    ignoreCorrupt: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ZipXmlTable.fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the table's field order regardless of the projection's
    required = StructType(
      ZipXmlTable.fullSchema.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan =
    new ZipXmlScan(path, required, maxFilesPerTrigger, ignoreCorrupt)
}

class ZipXmlScan(path: String, required: StructType,
    maxFilesPerTrigger: Option[Int] = None,
    ignoreCorrupt: Boolean = false) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-zip $path, ReadSchema: ${required.simpleString}"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    ZipXmlTable.zipPaths(path).map(ZipFilePartition(_): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ZipXmlReaderFactory(required.fieldNames, ignoreCorrupt)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ZipXmlMicroBatchStream(path, required, maxFilesPerTrigger, ignoreCorrupt)
}

/** Streaming offset: the set of ZIP paths already emitted, as a JSON
  * array. Each micro-batch plans (listing − seen) — one InputPartition
  * per NEW archive, so `readStream.format("graft-zip")` ingests a
  * landing directory incrementally with exactly-once file semantics
  * (the engine checkpoints the offset; a restart replans only unseen
  * files). A production deployment would compact this into a log the
  * way Spark's own FileStreamSource does once the listing outgrows one
  * offset value; the protocol is the same. */
case class ZipFilesOffset(files: Set[String]) extends Offset {
  override def json(): String =
    files.toSeq.sorted
      .map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object ZipFilesOffset {
  def fromJson(s: String): ZipFilesOffset = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    ZipFilesOffset(org.json4s.jackson.JsonMethods.parse(s)
      .extract[List[String]].toSet)
  }
}

class ZipXmlMicroBatchStream(path: String, required: StructType,
    maxFilesPerTrigger: Option[Int] = None,
    ignoreCorrupt: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow pins the file universe at query start, so the
  // run drains exactly what existed then and stops (files landing
  // mid-run wait for the next start)
  private var pinned: Option[Set[String]] = None

  private def available(): Set[String] = pinned.getOrElse(ZipXmlTable.zipPaths(path).toSet)

  override def initialOffset(): Offset = ZipFilesOffset(Set.empty)

  // with SupportsAdmissionControl the engine drives the two-arg variant
  override def latestOffset(): Offset =
    throw new IllegalStateException("latestOffset(Offset, ReadLimit) should be called")

  /** Admission control: cap each micro-batch at N new archives
    * (`maxFilesPerTrigger` read option, or the trigger's own limit) —
    * bounded batches instead of one giant catch-up batch after a
    * backlog builds up. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[ZipFilesOffset].files
    val fresh = (available() -- seen).toSeq.sorted
    val capped = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => maxFilesPerTrigger.map(fresh.take).getOrElse(fresh)
    }
    ZipFilesOffset(seen ++ capped)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset = ZipFilesOffset(available())

  override def prepareForTriggerAvailableNow(): Unit = {
    pinned = Some(ZipXmlTable.zipPaths(path).toSet)
  }

  override def deserializeOffset(json: String): Offset =
    ZipFilesOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[ZipFilesOffset].files
    val now = end.asInstanceOf[ZipFilesOffset].files
    (now -- seen).toArray.sorted.map(f => ZipFilePartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ZipXmlReaderFactory(required.fieldNames, ignoreCorrupt)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class ZipFilePartition(zipPath: String) extends InputPartition

class ZipXmlReaderFactory(fields: Array[String], ignoreCorrupt: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ZipXmlPartitionReader(
      partition.asInstanceOf[ZipFilePartition].zipPath, fields, ignoreCorrupt)
}

/** Streams one ZIP: one row per `*.xml` entry. Entry bytes are only
  * decoded/materialized when the pruned schema includes `xml`. With
  * `ignoreCorruptFiles`, a malformed archive yields the entries read
  * so far and is then skipped (mirroring Spark's own
  * `spark.sql.files.ignoreCorruptFiles` contract) instead of failing
  * the task — a crawler's landing dir at scale always contains a few
  * truncated uploads. */
class ZipXmlPartitionReader(zipPath: String, fields: Array[String],
    ignoreCorrupt: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val needXml = fields.contains("xml")
  private val p = new Path(zipPath)
  private val in = p.getFileSystem(new Configuration()).open(p)
  private val zis = new java.util.zip.ZipInputStream(in)
  private var entryName: String = _
  private var entryXml: String = _

  override def next(): Boolean =
    try {
      var e = zis.getNextEntry
      while (e != null &&
          (e.isDirectory || !e.getName.toLowerCase.endsWith(".xml"))) {
        e = zis.getNextEntry
      }
      if (e == null) false
      else {
        entryName = e.getName
        // pruned scans skip the decode + string materialization (the
        // inflater still consumes the payload when advancing entries)
        entryXml = if (needXml) ZipXml.decodeUtf8Latin1(zis.readAllBytes()) else null
        true
      }
    } catch {
      case ex @ (_: java.util.zip.ZipException | _: java.io.EOFException) =>
        if (ignoreCorrupt) {
          System.err.println(s"[graft-zip] skipping corrupt archive $zipPath: $ex")
          false
        } else throw new java.io.IOException(
          s"corrupt ZIP archive $zipPath (set ignoreCorruptFiles=true to skip)", ex)
    }

  override def get(): InternalRow = {
    val values = fields.map {
      case "source_zip" => UTF8String.fromString(zipPath)
      case "source_xml_file" => UTF8String.fromString(entryName)
      case "xml" => UTF8String.fromString(entryXml)
    }
    InternalRow.fromSeq(values.toSeq)
  }

  override def close(): Unit = zis.close()
}
