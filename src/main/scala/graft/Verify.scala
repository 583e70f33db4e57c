package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q91_x,q92_y restricts the dump for fast iteration;
    // unset (the driver's invocation) dumps every registered query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    // coalesce(1) keeps the sf0.01 driver compare cheap (one file per
    // query); at larger SFs it would serialize each result's export
    // through ONE task (the sf1 slice hit minutes on q35's 124-column
    // flatten) — SPARK_GRAFT_NO_COALESCE=1 writes natural partitions
    // instead (selfcheck/determinism glob the directory either way).
    val singleFile = !sys.env.contains("SPARK_GRAFT_NO_COALESCE")
    selected.foreach { case (name, fn) =>
      try Materialize.scope {
        val res = fn(spark, sfDir)
        (if (singleFile) res.coalesce(1) else res)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
