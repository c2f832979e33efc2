package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{KmvSketch, NativeFns, SketchStore}
import graft.sources.Storage

/** Persisted KMV sketch store: estimate accuracy on a known-cardinality
  * fixture, exactness below k, merge-across-segments, append == rebuild
  * bit-exact on the artifact rows, append-once and torn-store refusals.
  */
class SketchStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(n: Long, segSize: Long) =
    spark.range(n).select(
      (col("id") / segSize).cast("long").as("seg"),
      NativeFns.hash61(col("id"), KmvSketch.A, KmvSketch.B).as("hv"))

  test("range probe: merged estimate tracks true cardinality; below k it is exact") {
    val base = "/tmp/graft_test_kmv_acc"
    Storage.drop(base)
    SketchStore.build(rows(10000, 1000), k = 256, base) // 10 segs × 1000 distinct ids
    val full = SketchStore.probeRange(spark, base, 0, 9).head()
    val est  = full.getAs[Long]("kmv_estimate")
    assert(full.getAs[Long]("filled") == 256L)
    assert(math.abs(est - 10000.0) / 10000.0 < 0.15,
      s"k=256 KMV (~6% typical error) must land near 10000, got $est")
    val half = SketchStore.probeRange(spark, base, 0, 4).head().getAs[Long]("kmv_estimate")
    assert(math.abs(half - 5000.0) / 5000.0 < 0.15,
      s"range pruning must estimate the RANGE's cardinality, got $half")

    val small = "/tmp/graft_test_kmv_small"
    Storage.drop(small)
    SketchStore.build(rows(100, 1000), k = 256, small) // one seg, 100 < k
    val exact = SketchStore.probeRange(spark, small, 0, 0).head()
    assert(exact.getAs[Long]("filled") == 100L &&
      exact.getAs[Long]("kmv_estimate") == 100L,
      "below k the merged sketch is the exact distinct set")
  }

  test("append == rebuild bit-exact; append-once and torn store refused") {
    val b1 = "/tmp/graft_test_kmv_app"
    val b2 = "/tmp/graft_test_kmv_reb"
    Storage.drop(b1); Storage.drop(b2)
    val all = rows(8000, 1000)
    SketchStore.build(all.filter(col("seg") <= 3), k = 64, b1)
    SketchStore.appendSegments(all.filter(col("seg") >= 4), b1)
    SketchStore.build(all, k = 64, b2)
    def segRows(p: String) = SketchStore.segments(spark, p)
      .collect().map(r => (r.getAs[Long]("seg"), r.getAs[Long]("hv"))).sorted.toSeq
    assert(segRows(b1) == segRows(b2),
      "appending new segments must equal rebuilding from scratch, row for row")

    intercept[IllegalArgumentException](
      SketchStore.appendSegments(all.filter(col("seg") === 2), b1))
    Storage.drop(s"$b1/_commits")
    intercept[IllegalArgumentException](SketchStore.probeRange(spark, b1, 0, 9))
    intercept[IllegalArgumentException](
      SketchStore.appendSegments(all.filter(col("seg") === 2), b1))
  }
}
