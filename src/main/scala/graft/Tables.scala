package graft

import graft.pipeline.LogsToMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Central loader for the driver-generated parquet tables under
  * /root/testdata/sf0.001|sf0.01|sf0.1 (see repo TESTDATA.md / FIXTURES.md).
  *
  * `events.ts` is parquet TIMESTAMP(NANOS) which Spark rejects outright
  * ([PARQUET_TYPE_ILLEGAL]); reading with
  * `spark.sql.legacy.parquet.nanosAsLong=true` yields raw nanos as LongType,
  * converted here to a microsecond TIMESTAMP (`ts div 1000`, truncation —
  * bucket-boundary-safe for the engine's second-granularity windows).
  * Micro-precision tables (lineitem/orders) are unaffected by the flag.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else LogsToMetrics.ltzEventTime(df, "ts")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Session-scoped scratch path under java.io.tmpdir, DELETED at JVM
    * exit. The round-trip queries (CSV/ORC/evolved/z-order) write full
    * table copies; the applicationId token prevents concurrent-driver
    * clobber but also defeats cross-session overwrite, so without the
    * cleanup hook every Verify/Bench session would leak one full-table
    * dump per query. Registration is idempotent per path; one hook
    * serves all paths.
    */
  def scratchDir(spark: SparkSession, label: String): String = {
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft-$label-${spark.sparkContext.applicationId}"
    if (scratchPaths.add(path) && scratchHooked.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        scratchPaths.forEach { p =>
          try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
          catch { case _: Throwable => () }
        }))
    }
    path
  }
  private val scratchPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val scratchHooked = new java.util.concurrent.atomic.AtomicBoolean(false)
}
