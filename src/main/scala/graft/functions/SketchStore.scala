package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.sources.Storage
import graft.sources.Storage.Version

/** Persisted per-segment KMV (bottom-k) distinct-count sketch store — the
  * third persisted serving family beside the text index ([[TextIndex]]) and
  * the IVF-PQ index ([[AnnIndex]]), for the warehouse question those don't
  * answer: "how many distinct keys in THIS slice of the data?" without
  * touching the data. One build pass sketches every segment; after that any
  * segment RANGE is answered from sketch rows alone (≤ k per segment), and
  * new segments append without re-reading old ones — KMV sketches merge by
  * re-taking the bottom-k of a union (Bar-Yossef et al., RANDOM 2002), which
  * is what makes per-segment persistence sound.
  *
  * Artifact tables, read with their [[Schemas]]: `segments` (seg, hv), the
  * ≤ k smallest distinct [[KmvSketch]] hash values per segment, one
  * directory per build or append — plain rows, not an opaque blob, so
  * probes AND the DuckDB oracle replay the merge in SQL. Every write verb
  * adds the next version's directories and ends in one [[Storage.commit]]
  * (the [[TextIndex]]/[[AnnIndex]] transaction), whose pointer holds the
  * segments row count and the sketch size `k`.
  *
  * Scale: the store is (segments × k) rows — model-sized against the data
  * (256 longs stand for a segment of any row count). A probe reads only the
  * pruned seg range; the estimate itself is the x_distinct_kmv integer/double
  * formula, bit-reproducible across engines.
  */
object SketchStore {

  val M: Long = KmvSketch.M // 2^61 - 1, the hash universe

  val Schemas: Map[String, StructType] = Map(
    "segments" -> new StructType().add("seg", LongType).add("hv", LongType))

  private def table(spark: SparkSession, v: Version, name: String): DataFrame =
    v.read(spark, name, Schemas(name))

  /** The live segments table of the store at `path`. */
  def segments(spark: SparkSession, path: String): DataFrame =
    table(spark, Storage.committed(path), "segments")

  /** Bottom-k distinct hashes per segment. Salted two-phase rank (the
    * x_inverted_index window-skew doctrine): a seg-only window would cap
    * parallelism at the segment count, which at 100 TB is far below the
    * cluster's — pre-rank within (seg, hv mod 32), re-rank the ≤ 32k
    * survivors.
    *
    * distinct-first, NOT the single-exchange dense_rank variant: the
    * dense_rank form (rank distinct values in place, collapse duplicates at
    * the end — one data-sized exchange instead of three) was implemented
    * and A/B'd in r18 and measured consistently SLOWER at sf0.1 (probe
    * 2.27 → 2.77 s, append 3.29 → 3.67 s, min-of-6 at steal < 500): the
    * upfront distinct's map-side partial aggregation collapses co-located
    * duplicates (same partkey within a segment arrives clustered from the
    * scan) before any shuffle, so both window sorts run over ~2/3 the rows,
    * which beats saving one exchange of the full stream. Guide §1.1's
    * "fresh ideal plan is usually slower — switch back to the empirical
    * loop". On a corpus whose duplicates are NOT scan-clustered the
    * dense_rank form would shuffle less; revisit with that measurement.
    */
  private def segmentSketches(rows: DataFrame, k: Int): DataFrame =
    rows.select(col("seg"), col("hv")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("seg"), pmod(col("hv"), lit(32))).orderBy(col("hv"))))
      .filter(col("rn") <= k)
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("hv"))))
      .filter(col("rn2") <= k)
      .select(col("seg"), col("hv"))

  /** Build the store from (seg, hv) rows — hv must be [[graft.functions
    * .NativeFns.hash61]] output (the registry's fixed Carter–Wegman hash).
    * Replaces any prior store in one commit.
    */
  def build(rows: DataFrame, k: Int, path: String): Unit = {
    val v = Storage.head(path)
    val (sketches, n) = Storage.observedCount(segmentSketches(rows, k))
    v.write(sketches, "segments")
    Storage.commit(v.rebuilt(n(), "segments").withScalars("k" -> k.toLong))
  }

  /** Append NEW segments' sketches as a new segments directory — O(delta)
    * work, the old segments are never re-read. Segments are append-once:
    * re-sketching a present segment is refused (its rows are already final
    * under the build's bottom-k; a changed segment means a rebuild) by
    * [[Storage.requireNewIds]], the guard of every store's append. One
    * commit.
    */
  def appendSegments(rows: DataFrame, path: String): Unit = {
    val spark = rows.sparkSession
    val v     = Storage.committed(path)
    val k     = v.scalar("k").toInt
    // Two delta passes, kept deliberately (r18 A/B): the guard semi-joins the
    // present segments against a broadcast of the delta rows' segs and stops
    // at its first match, and both single-pass replacements measured SLOWER at
    // sf0.1 quiet (parquet staging + adopt: 3.29 → 3.67 s; pin-the-sketch-
    // frame + write-from-blocks: 3.29 → 4.0 s — the pin double-materializes
    // the sketch rows, which costs more than the cheap check pass saves).
    // On a cluster where the delta scan dominates, the staging variant is
    // the right trade; see OPTIMIZATION_r18.md.
    Storage.requireNewIds(path, table(spark, v, "segments"), "seg", rows, "seg")
    val (sketches, n) = Storage.observedCount(segmentSketches(rows, k))
    v.write(sketches, "segments")
    Storage.commit(v.next(v.rows + n(), added = Seq("segments")))
  }

  /** Distinct-count estimate over the segment range [lo, hi], from sketch
    * rows alone: union the range's per-segment bottom-k sets, re-take the
    * global bottom-k (TakeOrdered over ≤ k·|range| rows — sketch-sized,
    * never data-sized), estimate (k−1)·M/kth. filled < k means the merged
    * sketch IS the exact distinct hash set — the estimate is exact.
    * Returns one row (seg_lo, seg_hi, k, filled, kth_min, kmv_estimate).
    */
  def probeRange(spark: SparkSession, path: String, lo: Long, hi: Long): DataFrame = {
    val v = Storage.committed(path)
    val k = v.scalar("k")
    val merged = table(spark, v, "segments")
      .filter(col("seg").between(lo, hi))
      .select(col("hv")).distinct()
      .orderBy(col("hv")).limit(k.toInt)
    merged.agg(max(col("hv")).as("kth_min"), count(lit(1)).as("filled"))
      .select(
        lit(lo).as("seg_lo"), lit(hi).as("seg_hi"), lit(k).as("k"),
        col("filled"), coalesce(col("kth_min"), lit(0L)).as("kth_min"),
        when(col("filled") < k, col("filled"))
          .otherwise(floor(lit((k - 1).toDouble) *
            (lit(M.toDouble) / col("kth_min").cast("double"))).cast("long"))
          .as("kmv_estimate"))
  }
}
