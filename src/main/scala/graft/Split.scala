package graft

/** Rewrites a fixture tree as MULTI-FILE, MULTI-ROW-GROUP tables — the
  * round-7 VERDICT's top item. The driver ships every table as one
  * parquet file with one row group, so scans plan single-partition and
  * the tree's "would this split at scale?" claims rest on `explain`
  * reasoning plus the `Q.stageBarrier` crutch. This main manufactures
  * the scale SHAPE locally: each table becomes `<name>.parquet/` with
  * `nFiles` part files, written with a small parquet block size so each
  * part carries several row groups — the layout a 1000-executor cluster
  * actually reads (many splits per table, row-group-granular pruning).
  *
  * `runMain graft.Split [srcDir] [destDir] [nFiles]`
  *
  * Values are untouched — only the physical layout changes — so every
  * oracle answer must be identical on the split tree (the determinism
  * canary already guards order sensitivity; scripts/selfcheck.py globs
  * directory fixtures for the DuckDB side).
  */
object Split {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val dest = args.lift(1).getOrElse("/tmp/sf0.01-split")
    val nFiles = args.lift(2).map(_.toInt).getOrElse(8)

    val spark = Session.local("graft-split")
    spark.sparkContext.setLogLevel("WARN")
    // events.ts round-trips in its source encoding (nanos as BIGINT,
    // timestamp[us] as NTZ micros); both load through Tables.events.

    for (name <- Tables.names) {
      spark.read.parquet(s"$src/$name.parquet")
        .repartition(nFiles)
        .write.mode("overwrite")
        // ~256 KiB target block size → several row groups per part file
        // on every non-trivial table (parquet enforces a minimum row
        // count per group, so tiny dimensions stay single-group — fine,
        // they'd be broadcast at any scale anyway).
        .option("parquet.block.size", 256 * 1024)
        .option("parquet.page.size", 64 * 1024)
        .parquet(s"$dest/$name.parquet")
      println(s"[split] $name -> $dest/$name.parquet ($nFiles files)")
    }
    // Fail loud here rather than 16 queries deep (ScaleUp's rule): the
    // split events table must still load with the public schema.
    val tsType = Tables.events(spark, dest).schema("ts").dataType
    require(tsType == org.apache.spark.sql.types.TimestampType,
      s"split events.ts must load as TIMESTAMP, got $tsType")
    println(s"[split] done: $src -> $dest x$nFiles files/table")
    spark.stop()
  }
}
