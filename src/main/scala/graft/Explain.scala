package graft

/** Plan inspector: `runMain graft.Explain [queryName...]` prints the
  * formatted physical plan of each named query (default: a scan+agg, a
  * star join, and a text projection) on sf0.001 — the fast way to check
  * pushdown, pruning, broadcast choices, and codegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_agg", "q03_region_revenue", "q21_token_stats")
    names.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
