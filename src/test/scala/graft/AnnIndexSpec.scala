package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{AnnIndex, AnnSearch}
import graft.sources.Storage

/** Persisted IVF-PQ index: probe-after-reload equals build-and-probe,
  * appends are encode-only against the frozen model, rebuilds replace.
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"annidx_$tag").toString

  /** Table `name` of the index's live version. */
  private def table(path: String, name: String) =
    Storage.committed(path).read(spark, name, AnnIndex.Schemas(name))

  private def embs = Tables.embeddings(spark, TestSpark.sf0001)

  test("probe of a persisted index == the in-query ivfPqTopK, row for row") {
    val path = freshPath("probe")
    AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)
    val queries = embs.filter(col("vec_id") < 10)
    val fromDisk = AnnIndex.probeIvfPq(spark, path, queries, "vec_id", "embedding",
      nProbe = 2, k = 5)
      .select("query_id", "neighbor_id", "rank", "adc_dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val inQuery = AnnSearch.ivfPqTopK(embs, queries, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, nProbe = 2, k = 5)
      .select("query_id", "neighbor_id", "rank", "adc_dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(fromDisk == inQuery,
      s"disk-only ${fromDisk -- inQuery}\nquery-only ${inQuery -- fromDisk}")
  }

  test("append is encode-only: existing code rows unchanged, new rows routed by the frozen model") {
    val path = freshPath("append")
    val base = embs.filter(col("vec_id") % 2 === 0)
    val nu   = embs.filter(col("vec_id") % 2 === 1)
    AnnIndex.buildIvfPq(base, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)
    def codeRows() = table(path, "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val before    = codeRows()
    val centBefore = table(path, "centroids").collect().toSet
    val cbBefore   = table(path, "codebooks").collect().toSet

    val appended = AnnIndex.appendIvfPq(spark, path, nu, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val after = codeRows()

    // Codes table = old rows (byte-identical) + exactly the appended rows.
    assert(after == before ++ appended)
    assert((after -- appended) == before, "append must not rewrite existing code rows")
    assert(appended.map(_._1) == nu.select("vec_id").collect().map(_.getLong(0)).toSet)
    // The model tables are frozen — no retrain on append.
    assert(table(path, "centroids").collect().toSet == centBefore)
    assert(table(path, "codebooks").collect().toSet == cbBefore)
    // Encode is deterministic: the same vectors appended to a second index
    // built the same way encode to the same rows.
    val twin = freshPath("append_twin")
    AnnIndex.buildIvfPq(base, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = twin)
    val again = AnnIndex.appendIvfPq(spark, twin, nu, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(again == appended)
  }

  test("re-appending a live vector id is refused; the index still probes its pre-append answer") {
    val path = freshPath("live_readd")
    AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)
    def probe() = AnnIndex.probeIvfPq(spark, path, embs.filter(col("vec_id") < 4),
      "vec_id", "embedding", nProbe = 8, k = 10)
      .select("query_id", "neighbor_id", "rank", "adc_dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val before = probe()
    assert(before.nonEmpty)
    // a second code row would return the neighbour twice
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPq(spark, path, embs.filter(col("vec_id") === before.head._2),
        "vec_id", "embedding")
    }
    assert(e.getMessage.contains("already present"))
    assert(probe() == before)
    assert(Storage.committed(path).rows == embs.count())
  }

  test("appended vectors are probe-visible; rebuild replaces rather than accumulates") {
    val path = freshPath("visible")
    val base = embs.filter(col("vec_id") % 2 === 0)
    AnnIndex.buildIvfPq(base, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)
    AnnIndex.appendIvfPq(spark, path, embs.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding")
    val hits = AnnIndex.probeIvfPq(spark, path, embs.filter(col("vec_id") < 4),
      "vec_id", "embedding", nProbe = 4, k = 20)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(hits.exists(_ % 2 == 1), "appended (odd) vectors must be servable")
    // Rebuild over the full corpus: codes row count = |corpus|, not doubled.
    AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)
    assert(table(path, "codes").count() == embs.count())
  }

  test("tombstone delete: probe never returns deleted ids and deleted docs stop ranking") {
    val path = freshPath("delete")
    AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)
    val before = AnnIndex.probeIvfPq(spark, path, embs.filter(col("vec_id") < 4),
      "vec_id", "embedding", nProbe = 8, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_dist2")))
    AnnIndex.deleteVecs(spark, path, embs.filter(col("vec_id") % 2 === 1).select(col("vec_id")))
    val after = AnnIndex.probeIvfPq(spark, path, embs.filter(col("vec_id") < 4),
      "vec_id", "embedding", nProbe = 8, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_dist2")))
    assert(after.forall(_._2 % 2 == 0), "tombstoned vectors must never be served")
    // filtering-only semantics: surviving candidates keep their exact scores
    val beforeMap = before.map(t => (t._1, t._2) -> t._3).toMap
    after.foreach { case (q, n, d2) =>
      beforeMap.get((q, n)).foreach(orig => assert(orig == d2, "scores must be unchanged"))
    }
    // re-appending a tombstoned id is refused (the old code row is still
    // physically present — resurrecting it needs a compaction first), and
    // the refused append leaves the index committed and probeable
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPq(spark, path, embs.filter(col("vec_id") === 1),
        "vec_id", "embedding")
    }
    assert(e.getMessage.contains("tombstoned"))
    assert(AnnIndex.probeIvfPq(spark, path, embs.filter(col("vec_id") < 4),
      "vec_id", "embedding", nProbe = 8, k = 10).count() > 0)

    // compaction: physically drops the tombstoned code rows, clears the
    // tombstone set, serves the same answers, and re-opens append
    import graft.sources.Storage
    assert(!AnnIndex.compactIvfPq(spark, path, minFraction = 0.9),
      "gated compaction must refuse below the tombstone-fraction floor")
    assert(Storage.exists(s"$path/tombstones"))
    assert(AnnIndex.compactIvfPq(spark, path))
    assert(!Storage.exists(s"$path/tombstones"), "compaction must clear delete state")
    val compacted = AnnIndex.probeIvfPq(spark, path, embs.filter(col("vec_id") < 4),
      "vec_id", "embedding", nProbe = 8, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_dist2"))).toSeq
    assert(compacted.sorted == after.toSeq.sorted,
      "compacted probe must equal the pre-compaction tombstone-filtered probe")
    assert(!AnnIndex.compactIvfPq(spark, path), "nothing left to compact")
    val readd = AnnIndex.appendIvfPq(spark, path, embs.filter(col("vec_id") === 1),
      "vec_id", "embedding")
    assert(readd.count() == 1, "compaction must re-open append for deleted ids")
  }
}
