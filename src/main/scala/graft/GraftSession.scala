package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe: every graft main and the test suite start
  * here, and the benchmark builds on [[builder]]. The conf a
  * 1000-executor deployment wants, in one place:
  *
  * - AQE on with skew-join splitting (hot aircraft / hot documents
  *   get their shuffle partitions split at runtime; ScaleOps salting
  *   remains for aggregations, which AQE does not rebalance),
  * - post-shuffle partition coalescing (small stages don't pay the
  *   static shuffle-partition count),
  * - UTC session timezone (the reference stores UTC; local-tz
  *   day-partitioning would split days differently per cluster),
  * - graft's SQL functions + the latest-row optimizer rule
  *   (GraftExtensions),
  * - a generated-class cache of [[CodegenCacheEntries]] instead of
  *   Spark's 100. Spark keys compiled classes on (class loader,
  *   generated code), so a repeated query reuses its classes only
  *   while they stay in the cache. One benchmark dashboard run
  *   (warm-up plus 30 requests over 10 entries) generates ~133
  *   distinct bodies, and the first two streaming chain batches ~200.
  *   At 100 entries the 30 warm requests recompiled 98 bodies they
  *   had already compiled, and chain batch 1 compiled 148; at 1000,
  *   8 and 82. The count follows from graft's plans and Spark's
  *   keying, not from the host's cores or memory, so the value is a
  *   constant. It is a static conf, read once per JVM when Spark's
  *   code generator is first used.
  *
  * `spark.sql.shuffle.partitions` is NOT pinned here: local runs set
  * it to the core count, clusters to 2-3× total cores; with AQE
  * coalescing the exact value matters much less.
  */
object GraftSession {

  /** Generated classes kept compiled; see the scaladoc above. */
  val CodegenCacheEntries = 1000

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new plans.GraftExtensions)

  /** `SPARK_GRAFT_CPUS`, or the host's core count when it is unset or
    * empty. */
  private def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session at the given parallelism. Code that needs the core
    * count later reads `spark.sparkContext.defaultParallelism`. */
  def local(cores: Int = envCores): SparkSession =
    builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
