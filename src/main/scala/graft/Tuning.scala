package graft

/** Central knobs that must stay in lock-step with the size of the query
  * registry. Round 5's driver bench regression traced to exactly this
  * coupling going stale: Spark's JVM-global codegen class cache
  * (`spark.sql.codegen.cache.maxEntries`) defaults to 100 entries, but a
  * full pass over the ~125-query registry generates ~1,600 distinct
  * classes — so every warmup/timed pass re-Janino-compiled and re-JIT'ed
  * the whole suite, overflowed the reserved code cache, and the sweeper
  * flushed q35/q36 plus everything registered after them to interpreted
  * execution (41.9 s vs 7 s steady-state).
  *
  * JitCanarySpec asserts the invariant `codegenCacheMaxEntries >=
  * classesPerQueryBudget * registry.size`, so growing the registry past
  * the cache's reach fails CI instead of the driver bench.
  */
object Tuning {
  /** Codegen class-cache entries for every session graft.Session
    * builds (the mains and the shared test session). Measured:
    * ~13 generated classes per registered query on average (682 WSCG
    * spans + standalone projection/ordering/predicate classes ≈ 1,600
    * for 125 queries); the worst single query (q35, 124-column OCDS
    * flatten) compiles 84. */
  val codegenCacheMaxEntries: Int = 10000

  /** Sizing budget the canary holds the cache to: generous per-query
    * class allowance (measured average ~13, worst query 84) so one
    * compiled generation of the whole registry always fits the cache. */
  val classesPerQueryBudget: Int = 25
}
