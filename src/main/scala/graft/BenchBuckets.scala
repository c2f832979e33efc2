package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** Measures the native as-of join's exchange ELISION on bucketed inputs —
  * the scale property AsOfJoinNativeSpec pins only as a plan shape.
  *
  * `AsOfJoinExec.requiredChildDistribution` means EnsureRequirements inserts
  * the two hash exchanges ONLY when the children aren't already usefully
  * partitioned; tables bucketed by the join key (one file per bucket, sorted
  * by (key, time)) satisfy both the distribution and the ordering, so the
  * join runs with zero exchanges and zero sorts — the layout a 100 TB
  * pipeline would maintain for its hot time-series tables. This main times
  * the SAME h7b join on raw parquet vs bucketed tables and reports both,
  * plus the exchange counts under the join node as proof of what was
  * actually measured. The one-time bucketed write is reported separately —
  * it is the cost you pay once to make every subsequent as-of join
  * exchange-free.
  *
  * Usage: runMain graft.BenchBuckets <sfDir> <warehouseDir>
  *
  * Overrides on the GraftSession defaults: the warehouse dir, and
  * `bucketedTableScan.outputOrdering` (below).
  */
object BenchBuckets {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, warehouse) = args.take(2)
    val spark = GraftSession.builder("graft-bench-buckets")
      .config("spark.sql.warehouse.dir", warehouse)
      // Off by default since 3.0 (planning-time file listing); with one file
      // per bucket it lets the scan advertise its (key, time) sort so
      // EnsureRequirements elides the SortExecs too, not just the exchanges.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp_ntz").as("ts"))
    def od = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp_ntz").as("o_time"))

    // One-time layout: repartition on the key FIRST so every bucket's rows
    // land in exactly one task => one file per bucket (repartition and
    // bucketBy share Murmur3, so task == bucket) => the scan's outputOrdering
    // advertises the per-bucket sort and SortExec is elided too.
    val nBuckets = GraftSession.cores.toInt
    // In-memory catalog forgets tables across JVMs but the warehouse keeps
    // the files — clear the physical dirs or saveAsTable refuses.
    for (t <- Seq("ev_b", "od_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = java.nio.file.Paths.get(warehouse, t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val t0 = System.nanoTime()
    ev.repartition(nBuckets, col("user_id"))
      .write.mode("overwrite").bucketBy(nBuckets, "user_id").sortBy("user_id", "ts")
      .saveAsTable("ev_b")
    od.repartition(nBuckets, col("o_custkey"))
      .write.mode("overwrite").bucketBy(nBuckets, "o_custkey").sortBy("o_custkey", "o_time")
      .saveAsTable("od_b")
    val layoutSec = (System.nanoTime() - t0) / 1e9

    def joined(l: DataFrame, r: DataFrame): DataFrame =
      AsOfJoin.native(l, "user_id", "ts", r, "o_custkey", "o_time")
        .select(col("event_id"), col("user_id"), col("o_time").as("asof_orderdate"))

    def exchangesUnderJoin(df: DataFrame): (Int, Int) = {
      val p = df.queryExecution.executedPlan.toString
      val below = p.substring(p.indexOf("AsOfJoin"))
      def countOf(needle: String) = below.sliding(needle.length).count(_ == needle)
      (countOf("Exchange hashpartitioning"), countOf("Sort "))
    }

    def time(df: => DataFrame, passes: Int): Double =
      (1 to passes).map { _ =>
        val s = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s) / 1e9
      }.min

    // warmup both paths once (codegen/JIT), then min-of-3
    joined(ev, od).write.format("noop").mode("overwrite").save()
    joined(spark.table("ev_b"), spark.table("od_b")).write.format("noop").mode("overwrite").save()
    val rawSec  = time(joined(ev, od), 3)
    val buckSec = time(joined(spark.table("ev_b"), spark.table("od_b")), 3)
    val (rawEx, rawSort)   = exchangesUnderJoin(joined(ev, od))
    val (buckEx, buckSort) = exchangesUnderJoin(joined(spark.table("ev_b"), spark.table("od_b")))

    // Sanity: identical results either way. Order-insensitive count + XOR of
    // row hashes (XOR cannot overflow under ANSI; rows are distinct).
    val fp = expr("bit_xor(xxhash64(event_id, asof_orderdate))")
    val a = joined(ev, od).agg(count(lit(1)), fp).head()
    val b = joined(spark.table("ev_b"), spark.table("od_b")).agg(count(lit(1)), fp).head()
    require(a == b, s"bucketed result differs: $a vs $b")

    println(s"""{"sf":"$sfDir","raw_sec":$rawSec,"bucketed_sec":$buckSec,""" +
      s""""layout_sec":$layoutSec,"raw_exchanges":$rawEx,"raw_sorts":$rawSort,""" +
      s""""bucketed_exchanges":$buckEx,"bucketed_sorts":$buckSort,"rows":${a.getLong(0)}}""")
    spark.stop()
  }
}
