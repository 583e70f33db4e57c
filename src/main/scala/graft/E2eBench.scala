package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Reference-parity end-to-end run at scale shape (round-8 VERDICT
  * stretch item 7): the full scrape→extract→merge pipeline — the same
  * path CfPipelineSpec/PipelineSpec verify functionally — driven once
  * over a MULTI-FILE fixture tree at sf1-like volume, recording wall
  * and shuffle per stage. Mirrors the reference's daily flow
  * (1b download zips → 2b extract XML families → 3 merge daily
  * extracts): many daily ZIPs of mixed TED/UK-form XML notices with a
  * sliver of malformed payloads, through the DSv2 graft-zip connector
  * (one InputPartition per ZIP — the fan-out unit), FatXml family
  * dispatch + error capture, a date-partitioned parquet sink, and the
  * lineage-carrying merge + per-day/form rollup + CSV export.
  *
  * `runMain graft.E2eBench [nZips] [entriesPerZip]` — defaults 64×1250
  * = 80,000 notices (the sf1 documents cardinality), ~1 KiB payload
  * each. Emits one JSON line: per-stage seconds + shuffle bytes.
  */
object E2eBench {
  private def tedXml(i: Int, pad: String): String =
    s"""<TED_EXPORT><TD_DOCUMENT_TYPE CODE="7"/><NOTICE_DATA><NO_DOC_OJS>S-$i</NO_DOC_OJS></NOTICE_DATA>
       |<CONTRACTING_BODY><OFFICIALNAME>Buyer $i</OFFICIALNAME></CONTRACTING_BODY>
       |<DESCRIPTION>$pad</DESCRIPTION></TED_EXPORT>""".stripMargin

  private def uk7Xml(i: Int, pad: String): String =
    s"<UK7_2023><NOTICE_ID>U-$i</NOTICE_ID><TENDER><TITLE>tender $i</TITLE>" +
      s"<VALUE>${i % 9000}.50</VALUE><CATEGORY>works</CATEGORY></TENDER>" +
      s"<BUYER><NAME>Dept $i</NAME></BUYER><TAGS><TAG>award</TAG></TAGS>" +
      s"<NOTES>$pad</NOTES></UK7_2023>"

  /** One full pipeline pass, returned as data so CI can assert on it
    * (round-9 VERDICT stretch item 8) while `main` prints the JSON. */
  final case class Report(nZips: Int, notices: Int, nOk: Long, nErr: Long,
      tExtract: Double, tMerge: Double, tCsv: Double, shufWKib: Long, shufRKib: Long)

  def main(args: Array[String]): Unit = {
    val nZips = args.lift(0).map(_.toInt).getOrElse(64)
    val perZip = args.lift(1).map(_.toInt).getOrElse(1250)
    val spark = Session.local("graft-e2e-bench")
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, nZips, perZip)
    println(f"""{"metric":"e2e","zips":${r.nZips},"notices":${r.notices},"ok":${r.nOk},"parse_errors":${r.nErr},"extract_sec":${r.tExtract}%.1f,"merge_sec":${r.tMerge}%.1f,"csv_sec":${r.tCsv}%.1f,"total_sec":${r.tExtract + r.tMerge + r.tCsv}%.1f,"shuffle_w_kib":${r.shufWKib},"shuffle_r_kib":${r.shufRKib}}""")
    spark.stop()
  }

  def run(spark: SparkSession, nZips: Int, perZip: Int): Report = {
    // ---- fixture: nZips daily archives, perZip notices each ----------
    val raw = Files.createTempDirectory("graft-e2e-raw").toString
    val pad = "procurement notice body text " * 32 // ~1 KiB payload
    val day0 = java.time.LocalDate.parse("2024-01-01")
    var id = 0
    for (z <- 0 until nZips) {
      val out = new ZipOutputStream(new java.io.FileOutputStream(
        s"$raw/notices-${day0.plusDays(z)}.zip"))
      for (e <- 0 until perZip) {
        id += 1
        val xml =
          if (id % 50 == 0) s"<TED_EXPORT><broken $id" // 2%: error capture
          else if (id % 2 == 0) tedXml(id, pad)
          else uk7Xml(id, pad)
        out.putNextEntry(new ZipEntry(f"n$id%08d.xml"))
        out.write(xml.getBytes("UTF-8"))
        out.closeEntry()
      }
      out.close()
    }

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- stage 1: zip scan -> family dispatch -> partitioned sink ----
    val extractedDir = Files.createTempDirectory("graft-e2e-extracted").toString
    val ((tExtract, tMerge, tCsv, report), rec) = Obs.measure(spark, "e2e") {
      val (_, tExtract) = timed {
        val entries = sources.ZipXml.zipEntriesV2(spark, raw)
        sources.FatXml.extract(entries, Seq("source_zip", "source_xml_file"))
          .withColumn("ingest_date",
            regexp_extract(col("source_zip"), """(\d{4}-\d{2}-\d{2})""", 1))
          .write.mode("overwrite").partitionBy("ingest_date").parquet(extractedDir)
      }

      // ---- stage 2: merge daily extracts + per-day/form/status rollup --
      val (report, tMerge) = timed {
        val merged = spark.read.parquet(extractedDir)
          .withColumn("source_file", input_file_name())
        merged.groupBy(col("ingest_date"), col("source_form"),
            when(col("parse_error").isNull, "ok").otherwise("parse_error").as("status"))
          .agg(count(lit(1)).as("n"))
          .orderBy("ingest_date", "source_form", "status")
          .collect()
      }

      // ---- stage 3: merged CSV export (reference step 3's sink) --------
      val csvDir = Files.createTempDirectory("graft-e2e-csv").toString
      val (_, tCsv) = timed {
        sources.ContractsFinder.exportCsv(
          spark.read.parquet(extractedDir)
            .select("doc_id", "source_form", "buyer_name", "ingest_date"),
          s"$csvDir/merged")
      }
      (tExtract, tMerge, tCsv, report)
    }

    val nOk = report.filter(_.getAs[String]("status") == "ok").map(_.getAs[Long]("n")).sum
    val nErr = report.filter(_.getAs[String]("status") == "parse_error").map(_.getAs[Long]("n")).sum
    Report(nZips, nZips * perZip, nOk, nErr, tExtract, tMerge, tCsv,
      rec.shuffleWriteBytes / 1024, rec.shuffleReadBytes / 1024)
  }
}
