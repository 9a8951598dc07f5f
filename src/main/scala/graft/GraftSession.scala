package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's scale-aware defaults.
  *
  * Mirrors the role of scida's dataset entry configuration
  * (reference: src/scida/config.py, src/scida/interface.py:44) — one
  * place that fixes chunking/parallelism policy — re-expressed as
  * Spark session conf: AQE on (runtime re-plan, skew-join splitting),
  * shuffle partitions sized to the local core count rather than the
  * 200 default, UTC session time zone for reproducible time semantics,
  * nanosecond-parquet support for the events table, and a generated-
  * class cache sized to graft's working set.
  *
  * Why the codegen cache is sized: Spark keys its compiled-class cache
  * by (class loader, generated source) and holds 100 entries by
  * default (`spark.sql.codegen.cache.maxEntries`). The driver and the
  * executors compile under different loaders, so one operator's code
  * costs two keys even in local mode; the 186 queries compile 1,801
  * distinct keys in their first pass, and the 14-op scida mix alone
  * about 139. Past 100 keys per JVM the LRU evicts classes the next
  * query needs again: a pass recompiles, loads a fresh class, and the
  * JIT compiles it once more — measured at ~24 Janino recompiles per
  * scida pass, with JIT threads near 40 % of process CPU. A long-lived
  * session on a cluster thrashes the same way once its query mix
  * passes 100 keys per JVM. `CodegenCacheEntries` is the next power of
  * two at or above twice the measured first-pass working set (1,801
  * keys at local[4]): a second pass over all 186 queries then
  * compiles 38 classes, the sources that differ per execution, against
  * 2,277 with the default. The setting is static: it takes effect for
  * the session that creates the JVM's SparkContext.
  */
object GraftSession {

  /** Generated-class cache entries (see the object doc). */
  val CodegenCacheEntries: Int = 4096

  /** Apply graft defaults to an existing builder (lets Verify/Bench
    * keep driver-imposed master/conf while inheriting ours).
    *
    * JVM-WIDE side effect: disables ImageIO's file-backed stream cache
    * (`ImageIO.setUseCache(false)`) — the multimodal decode loops feed
    * byte-array payloads, for which the default temp-file spooling is
    * pure overhead. The flag is a JVM-global static; any other workload
    * sharing this executor JVM also loses the file cache. Acceptable on
    * a dedicated cluster; set it back after session creation if a
    * co-tenant needs file-backed ImageIO streams. (The decode loops
    * also set it per task, defensively, for executors that never ran
    * this builder.) */
  def withDefaults(b: SparkSession.Builder): SparkSession.Builder = {
    javax.imageio.ImageIO.setUseCache(false)
    b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    // operator knob: AQE is right at cluster scale (runtime re-plan,
    // skew splitting); SPARK_GRAFT_AQE=false lets a perf harness
    // measure without per-stage re-planning overhead
    .config("spark.sql.adaptive.enabled",
      sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    // reader rejects; read as epoch-nano longs and convert in Tables.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = withDefaults(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
