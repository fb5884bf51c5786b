package graft.sources

import java.util.concurrent.ConcurrentHashMap

import graft.operators.TrackedCache
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated test datasets.
  *
  * Scans are left fully declarative so Catalyst pushes filters and
  * prunes columns into the parquet reader (verify with
  * `.explain("formatted")` — `PushedFilters` / `ReadSchema`).
  *
  * Each table's schema is inferred once per session and then given to
  * the reader: a bare `spark.read.parquet` runs a footer-reading Spark
  * job on every call, which on a warm dashboard request costs more
  * than the request's own scan. The schemas are one
  * [[TrackedCache.getOrCompute]] artifact (one slot of its cap, a map
  * over every table read). An entry is keyed by
  *  - the qualified table path,
  *  - the path, length and modification time of every file under it,
  *    from a driver-side Hadoop listing (single-file and directory
  *    tables alike), and
  *  - the session confs that change parquet schema inference
  *    ([[inferenceConfs]]), e.g. the nanosAsLong flag [[events]] sets.
  * A table overwritten in place therefore re-infers on its next read
  * without a `release`; `release` drops every schema with the rest of
  * the session's artifacts.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val inferenceConfs: Seq[String] = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED, SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES
  ).map(_.key)

  /** What a schema was inferred from: every file's (path, length,
    * mtime) and the inference confs.
    */
  private final case class Stamp(files: Seq[(String, Long, Long)], confs: Seq[String])

  /** Qualified path -> the stamp and schema of its last inference. */
  private type Schemas = ConcurrentHashMap[String, (Stamp, StructType)]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing table keeps Spark's own PATH_NOT_FOUND error
    if (!fs.exists(path)) return spark.read.parquet(p)
    val qualified = fs.makeQualified(path).toString
    val files = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val stamp = Stamp(files.result().sortBy(_._1), inferenceConfs.map(spark.conf.get))
    val schemas = TrackedCache.getOrCompute(spark, "Tables.schemas")(new Schemas)
    val schema = Option(schemas.get(qualified)).filter(_._1 == stamp).map(_._2)
      .getOrElse {
        val inferred = spark.read.parquet(p).schema
        schemas.put(qualified, (stamp, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(p)
  }

  /** `events.ts` arrives in one of two physical spellings depending on
    * the dataset generation: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read as a nanos long via
    * spark.sql.legacy.parquet.nanosAsLong and truncate to a
    * microsecond timestamp, lossless on whole-microsecond data), or a
    * plain TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ,
    * cast to the session-UTC timestamp, value-preserving). Branch on
    * the type actually read so both vintages of the driver data load
    * identically.
    *
    * Either way the normalized frame exposes the same two columns:
    * `ts` (microsecond timestamp) and `ts_ns` (epoch nanos long).
    * In the nanos spelling `ts_ns` IS the raw column, so range
    * predicates on it push into the parquet scan and prune row
    * groups; in the micros spelling the raw pushdown-friendly column
    * is `ts` and `ts_ns` is derived (a predicate on it evaluates
    * post-scan). At 100 TB that pushdown is the difference between
    * scanning a day and the archive, so time-range filters should go
    * through [[tsRange]], which targets whichever column is raw for
    * the data actually read.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }

  /** Epoch nanos for a UTC instant — for pushdown-friendly `ts_ns`
    * range predicates.
    */
  def epochNanos(isoUtc: String): Long =
    java.time.Instant.parse(isoUtc).toEpochMilli * 1000000L

  /** Half-open time-range filter over a [[events]] frame, spelled on
    * BOTH `ts_ns` and `ts`: whichever column is physically raw for
    * the dataset in use pushes into the parquet scan and prunes row
    * groups (the bound literals constant-fold either way); the
    * redundant twin evaluates post-scan for free. Filtering only the
    * derived column would silently lose pushdown — at 100 TB that is
    * scanning the archive instead of a day.
    */
  def tsRange(df: DataFrame, fromIsoUtc: String, untilIsoUtc: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    val (lo, hi) = (epochNanos(fromIsoUtc), epochNanos(untilIsoUtc))
    df.filter(col("ts_ns") >= lo && col("ts_ns") < hi &&
      col("ts") >= timestamp_micros(lit(lo / 1000L)) &&
      col("ts") < timestamp_micros(lit(hi / 1000L)))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
