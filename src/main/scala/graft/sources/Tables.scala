package graft.sources

import graft.functions.Uda
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-provided testdata tables
  * (/root/repo/TESTDATA.md). `events` is the stand-in for a
  * marketstore bucket: `ts` (ns-precision parquet timestamp) becomes
  * the engine's canonical (Epoch seconds, Nanoseconds) pair.
  *
  * Nanosecond discipline (SURVEY §7.4): parquet ns timestamps are
  * truncated to µs by Spark's reader, so every derived time value is
  * computed from the µs value — the DuckDB oracle applies the same
  * truncation (`epoch_us`), keeping both sides bit-identical.
  */
object Tables {
  /** Session config (UTC, ns parquet timestamps as raw INT64 nanos)
    * comes from [[graft.GraftSession]]; reads never mutate it. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events with engine time columns:
    * ts_us (µs since epoch), Epoch (seconds), Nanoseconds (int).
    *
    * ts arrives either as a raw ns long (nanosAsLong) or as a µs
    * timestamp — both are normalized to the µs value so the DuckDB
    * oracle (which truncates ns→µs on read) sees identical numbers.
    *
    * Note: Epoch here is DERIVED, so Epoch predicates don't reach the
    * parquet reader on this testdata table. Engine storage
    * (BucketCatalog) persists Epoch physically — range filters push
    * down and prune row groups there (asserted in PlanSpec).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    raw
      .withColumn("ts_us", tsUs)
      .withColumn(Uda.EpochCol, expr("ts_us div 1000000"))
      .withColumn(Uda.NanosCol, (col("ts_us") % 1000000L).cast("int") * 1000)
      .drop("ts")
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
