package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** How graft builds and prepares a Spark session.
  *
  * Spark keeps every class it compiles from generated Java in one
  * JVM-wide LRU cache keyed by the source text. The cache is sized once
  * per JVM, on first use: `CodeGenerator`'s static initializer reads
  * `SQLConf.get.codegenCacheMaxEntries` (`spark.sql.codegen.cache.maxEntries`,
  * default 100). graft's working sets do not fit in 100 entries. Counted
  * with `CodegenMetrics.METRIC_COMPILATION_TIME`'s count on 4 vCPUs, the
  * classes one pass compiles cold, into a cache that keeps them all:
  *
  *  - the `star_sql` benchmark (8 statements through
  *    [[ExecutionContext.execute]], seed 3): 124–127;
  *  - the `curation` benchmark (8 catalog builders, seed 3): 169–183;
  *  - [[Bench]]'s battery (the 62 `bench = true` catalog queries, run by
  *    [[Profile]] at sf0.001): 780.
  *
  * With 100 entries each class is evicted before the next pass asks for it
  * again: every warm `star_sql` pass recompiled 94–95 classes and every
  * warm `curation` pass 158, 0.6–2.1 s of Janino per pass. Guava splits
  * the bound into 4 LRU segments of a quarter each, so the size keeps more
  * than 2× headroom over the largest working set: [[CodegenCacheEntries]]
  * is 2,000, 2.6× the battery's 780. The bound counts classes, not bytes;
  * a cached class holds its metaspace until it is evicted.
  *
  * Spark's own key stays the only override: when a session's conf sets
  * `spark.sql.codegen.cache.maxEntries`, its value is the one used.
  *
  * Limit: [[prepare]] has no effect once anything in the JVM has generated
  * code, because the size is fixed at that point. On a cluster, executors
  * size their own caches from the conf their tasks carry; set the key when
  * you build the session, as [[local]] does, so they get it too.
  */
object Session {
  /** Entries of Spark's codegen cache that graft's sessions ask for. */
  val CodegenCacheEntries: Int = 2000

  private val CacheKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** The conf to initialize `CodeGenerator` under: `session` itself when
    * it sets the key (from the SparkConf or the builder), so its value is
    * kept, otherwise a clone of it carrying [[CodegenCacheEntries]]. */
  private[graft] def codegenConf(session: SQLConf): SQLConf =
    if (session.contains(CacheKey)) session
    else {
      val c = session.clone()
      c.setConfString(CacheKey, CodegenCacheEntries.toString)
      c
    }

  /** Size Spark's codegen cache now: initialize `CodeGenerator` under
    * [[codegenConf]] of the session. No effect when code was generated
    * earlier in this JVM (see the object doc). */
  def prepare(spark: SparkSession): Unit =
    SQLConf.withExistingConf(codegenConf(spark.sessionState.conf)) {
      CodeGenerator.compileTime
    }

  /** graft's session on `local[cpus]`: `cpus` shuffle partitions, UTC,
    * the nanos-as-long parquet flag events.parquet needs, AQE on, no UI,
    * and the codegen cache key; then [[prepare]]. */
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongConf._1, Tables.nanosAsLongConf._2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(CacheKey, CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    prepare(spark)
    spark
  }
}
