package graft

import org.apache.spark.sql.SparkSession

/** The one factory for every local session the engine builds (the mains
  * and the shared test session), so their settings cannot drift apart.
  * Settings that only restate Spark's defaults (AQE on) are left out.
  */
object Session {
  /** Local cores for every entry point: `SPARK_GRAFT_CPUS`, else all of
    * the host's processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every setting `local` puts on a session with `n` cores. */
  def settings(n: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$n]",
    // partitions matched to cores (not 200): the knob that matters on a
    // real cluster, scaled to one box
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // TIMESTAMP(NANOS) parquet reads as BIGINT epoch-nanos (Tables.events)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // Static conf, root cause of the round-5 "q35 41.9s" bench
    // cliff: the registry's ~125 queries generate ~1,600
    // distinct codegen classes per pass, but Spark's JVM-global
    // generated-class cache holds only 100 entries by default — so
    // the warmup passes and every timed sample re-Janino-compile and
    // re-JIT the ENTIRE suite (~126 MiB of native code per pass,
    // measured via graft.JitProbe). Three-plus passes of that churn
    // overflow any default-sized (240m) JIT code cache, the sweeper
    // starts flushing, and every query registered after the giant
    // q35/q36 classes runs 2-3x interpreted. With the cache sized to
    // the working set, repeat passes compile ZERO new classes (q35:
    // 84 -> 0), so warmup costs are paid once and a 240m cache holds
    // the single compiled generation comfortably.
    "spark.sql.codegen.cache.maxEntries" -> Tuning.codegenCacheMaxEntries.toString)

  /** `SPARK_GRAFT_CONF="key=value;key=value"`: extra settings for A/B
    * runs of graft.Prof and graft.JitProbe. */
  def envConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';'))
      .filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v }

  /** A `local[n]` session with `settings(n)`; `conf` is applied last. */
  def local(app: String, n: Int = cores,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().appName(app)
    (settings(n) ++ conf).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
