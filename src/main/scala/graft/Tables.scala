package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the synthetic star schema (TPC-H-ish) used by every query.
  *
  * All reads are plain parquet scans so Catalyst gets predicate pushdown,
  * column pruning and partition coalescing for free; callers `select`/
  * `filter` immediately after load so only the needed columns/row-groups
  * are read (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  *
  * At 100 TB these tables would be directory-partitioned (e.g. orders by
  * month, events by day); the loaders take a directory so the same code
  * path serves a partitioned layout — Spark prunes partitions from the
  * filter predicates without any change here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** The events parquet's `ts` physical layout has varied across data
    * generations: TIMESTAMP(NANOS) (loads as LongType under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) or timestamp[us]
    * (loads as TimestampType, or TIMESTAMP_NTZ when the file is not
    * UTC-adjusted). Adapt from the LOADED schema so every layout
    * normalizes to a microsecond TimestampType — under the repo-wide
    * UTC session timezone the NTZ→TZ cast is identity on the stored
    * micros, so DuckDB (which reads the same file naively) stays
    * hash-compatible. Nanos→µs uses integer division: double division
    * would lose precision at 1e18-nanosecond magnitudes.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"))

  /** Normalize a `ts` column to TimestampType regardless of the
    * physical layout it loaded as (see [[events]]). Shared with the
    * streaming reader so batch and stream can never disagree on the
    * event-time column.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType          => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType     => df
      case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other; expected nanos-long, timestamp, or timestamp_ntz")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Streaming read of one table, schema from the batch loader (a file
    * stream needs an explicit one). The file source lists a directory
    * and matches `pathGlobFilter` against leaf file NAMES, so a table
    * stored as a directory of part files (a partitioned layout, or
    * [[ScaleProbe]]'s N× copies) streams as that directory, and a
    * single `<name>.parquet` file streams from its parent narrowed to
    * that one name. Raw columns: events still goes through
    * [[normalizeTs]].
    */
  private[graft] def stream(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val reader = spark.readStream.schema(load(spark, dir, name).schema)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.getFileStatus(path).isDirectory) reader.parquet(path.toString)
    else reader.option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }
}
