package graft

/** Mirrors the driver's smoke gate: `SparkEntry.entry(spark)` must return
  * rows > 0 on sf0.001. Prints the count and the formatted physical plan.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("graft-smoke")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
