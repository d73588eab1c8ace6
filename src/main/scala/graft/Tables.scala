package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Typed loaders for the driver-generated TPC-H-ish tables.
  *
  * All reads go through `spark.read.parquet` so Catalyst can push
  * filters and prune columns down to the scan — callers should
  * `.select`/`.filter` immediately so a 100 TB scan only reads the
  * columns/row-groups it needs.
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects outright ([PARQUET_TYPE_ILLEGAL]). Sessions must
    * set spark.sql.legacy.parquet.nanosAsLong=true ([[Sessions.local]]
    * does);
    * the raw nanos then convert here to a µs timestamp via integer
    * division (ns > 2^53 would lose precision in double math).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
