package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All reads go through [[graft.sources.Storage.get]], a parquet scan whose
  * schema is memoized per (session, path, file set — names, sizes and
  * mtimes), so a table read again in a session starts no Spark job to
  * re-read its footer, and a table rewritten at the same path is re-inferred.
  * The scan stays lazy so Catalyst's predicate pushdown and column pruning
  * reach it — callers must NOT cache or collect here; a downstream
  * `select`/`filter` prunes IO.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Storage.get(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` normalization, adaptive to how the driver generated the
    * parquet. Older generations wrote nanosecond parquet timestamps, which
    * Spark's vectorized reader rejects; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong` and the column then surfaces as a
    * LongType of epoch-nanos — truncated here with integer `div` (matching
    * DuckDB's TIMESTAMP_NS→TIMESTAMP cast). Newer generations write
    * microsecond timestamps directly, which need only an NTZ cast to align
    * with the oracle's naive timestamps. Branching on the scanned data type
    * keeps both generations readable without config changes.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
