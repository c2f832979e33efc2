package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{ClusterOps, DedupOps}

/** Duplicate clustering (connected components) + contamination scan. */
class ClusterOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ClusterOps
      .connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  test("connected components: two components, transitive chain") {
    val got = components(Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components: long path converges (O(log n) rounds)") {
    // A 64-node path is the worst case for min-label propagation (diameter
    // 63); large-star/small-star must close it within the default maxIter.
    val got = components((0L until 63L).map(i => (i, i + 1)))
    assert(got.size == 64 && got.values.forall(_ == 0L))
  }

  test("connected components: non-convergence at maxIter throws, never silently wrong") {
    // At a cut-off fixpoint min(v) is only the current best label, not the
    // component minimum — the operator must refuse, not return it.
    import spark.implicits._
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      ClusterOps.connectedComponents(path, "a", "b", maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connected components: duplicate/reversed/self edges collapse") {
    val got = components(Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dedupClusters: transitive near-dups keep exactly one canonical doc") {
    import spark.implicits._
    // a~b and b~c are near-dups (one-word tail edits); d is unrelated.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, base + " alpha"),
      (11L, base + " beta"),
      (12L, base + " alpha gamma"),
      (13L, "completely different text about nothing shared at all here")
    ).toDF("doc_id", "text")
    val got = ClusterOps
      .dedupClusters(docs, "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._1)
    assert(got === Seq((10L, 10L, 1), (11L, 10L, 0), (12L, 10L, 0), (13L, 13L, 1)))
  }

  test("keepBestInClusters: highest-score doc kept even when it is not the smallest id") {
    import spark.implicits._
    // Same planted cluster as above, plus per-doc quality scores where the
    // LAST member (id 12) is the best — first-wins would keep 10, the
    // quality policy must keep 12. Singleton 13 always keeps.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, base + " alpha", 5L),
      (11L, base + " beta", 7L),
      (12L, base + " alpha gamma", 9L),
      (13L, "completely different text about nothing shared at all here", 1L)
    ).toDF("doc_id", "text", "quality")
    val got = ClusterOps
      .keepBestInClusters(docs, "doc_id", "text", "quality",
        shingleN = 3, k = 64, bands = 16, threshold = 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._1)
    assert(got === Seq((10L, 10L, 0), (11L, 10L, 0), (12L, 10L, 1), (13L, 13L, 1)))
  }

  test("keepBestInClusters: score ties fall back to smallest id; one keep per cluster") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (20L, base + " x", 3L),
      (21L, base + " y", 3L),
      (22L, base + " z", 3L)
    ).toDF("doc_id", "text", "quality")
    val got = ClusterOps
      .keepBestInClusters(docs, "doc_id", "text", "quality",
        shingleN = 3, k = 64, bands = 16, threshold = 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)))
      .sortBy(_._1)
    assert(got === Seq((20L, 1), (21L, 0), (22L, 0)),
      "equal scores must keep exactly the smallest id")
  }

  test("contamination: shared 5-grams flagged, clean docs absent, eval side broadcast") {
    import spark.implicits._
    val leak = "the quick brown fox jumps over the lazy dog"
    val train = Seq(
      (1L, s"prefix words then $leak and a tail"),
      (2L, "totally clean training document with no overlap whatsoever"),
      (3L, leak) // exact benchmark text
    ).toDF("doc_id", "text")
    val eval = Seq((100L, leak)).toDF("doc_id", "text")

    val df  = DedupOps.contamination(train, eval, "doc_id", "text", n = 5)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // leak has 9 words -> 5 distinct 5-grams, all shared by doc 1 and doc 3.
    assert(got === Seq((1L, 1L, 5L), (3L, 1L, 5L)))
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "eval side must broadcast — corpus side must not shuffle before the aggregation")
  }

  test("kMeans: well-separated blobs recover their clusters; dist2 exact") {
    import spark.implicits._
    // Two blobs far apart in dim 4; seeds (ids 1,2) land one in each blob.
    val vecs = Seq(
      (1L, Array(10f, 10f, 10f, 10f)),
      (2L, Array(-10f, -10f, -10f, -10f)),
      (3L, Array(10.2f, 9.8f, 10.1f, 9.9f)),
      (4L, Array(-9.9f, -10.1f, -10.2f, -9.8f)),
      (5L, Array(9.5f, 10.5f, 10f, 10f)),
      (6L, Array(-10.5f, -9.5f, -10f, -10f))
    ).toDF("vec_id", "embedding")
    val got = ClusterOps.kMeans(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got === Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 2L), (5L, 1L), (6L, 2L)))
    // Exact integer dist2 for a point sitting ON the centroid of its blob:
    // blob A members quantize to known micro-values; recompute one by hand.
    val gotD = ClusterOps.kMeans(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .filter(col("vec_id") === 1L).collect().head.getLong(2)
    // centroid A = floorDiv(sum of quantized components) over ids {1,3,5}
    val qa = Seq(
      Array(10f, 10f, 10f, 10f),
      Array(10.2f, 9.8f, 10.1f, 9.9f),
      Array(9.5f, 10.5f, 10f, 10f)
    ).map(_.map(x => math.floor(x.toDouble * 1e6).toLong))
    val cent = (0 until 4).map(d => Math.floorDiv(qa.map(_(d)).sum, 3L))
    val q1   = qa.head
    val expD = (0 until 4).map(d => { val t = q1(d) - cent(d); t * t }).sum
    assert(gotD === expD, "dist2 must be the exact integer L2^2 vs the floor-mean centroid")
  }

  test("kMeans: distance ties take the smallest cid; partitioning-invariant") {
    import spark.implicits._
    // Identical vectors: every point is equidistant (0) from both seed
    // centroids after any number of iterations -> all assign to cid 1.
    val vecs = Seq.tabulate(6)(i => ((i + 1).toLong, Array(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val a = ClusterOps.kMeans(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.forall { case (_, c, d) => c === 1L && d === 0L })
    val b = ClusterOps.kMeans(vecs.repartition(5), "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a === b, "integer arithmetic must make the result partitioning-invariant")
  }

  test("kMeans: emptied cluster drops out; iters=0 assigns to raw seeds") {
    import spark.implicits._
    // Seeds are ids 1,2 — both inside blob A. After one update, every point
    // assigns to one of the two (cid 2's cell is empty: all points are
    // nearer cid 1's region... construct so cid 2 empties).
    val vecs = Seq(
      (1L, Array(0f, 0f)),
      (2L, Array(100f, 100f)),
      (3L, Array(1f, 1f)),
      (4L, Array(2f, 2f)),
      (5L, Array(3f, 3f))
    ).toDF("vec_id", "embedding")
    // iters=0: pure seed assignment, nobody near (100,100) except itself.
    val z = ClusterOps.kMeans(vecs, "vec_id", "embedding", k = 2, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(z === Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
    // One iteration: centroid 2 moves onto vec 2 exactly; still 2 clusters.
    val one = ClusterOps.kMeans(vecs, "vec_id", "embedding", k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(one.map(t => (t._1, t._2)) === Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
    assert(one.find(_._1 == 2L).get._3 === 0L, "singleton cluster centroid == its member")
  }

  test("kMeansSubModelsQuantized: equals m per-slice kMeansModelQuantized trainings, emptied cluster included") {
    import spark.implicits._
    // m = 2 slices of dsub = 2. Seeds are ids 1..3; in slice 0 ids 1 and 2
    // coincide, so every tie between them goes to cid 1 and cid 2 drops out.
    val q = Seq(
      1L -> Seq(0L, 0L, 0L, 0L),
      2L -> Seq(0L, 0L, 100L, 100L),
      3L -> Seq(50L, 50L, 5L, 5L),
      4L -> Seq(1L, 1L, 95L, 90L),
      5L -> Seq(52L, 49L, 3L, 7L),
      6L -> Seq(100L, 100L, 50L, 50L),
      7L -> Seq(2L, 3L, 48L, 52L),
      8L -> Seq(99L, 97L, 101L, 99L)
    ).toDF("__id", "__rv")
    def rows(model: Array[(Long, Array[Long])]) = model.toSeq.map { case (c, v) => (c, v.toSeq) }
    val fused = ClusterOps.kMeansSubModelsQuantized(q, m = 2, dsub = 2, k = 3, iters = 3)
    assert(fused.length == 2)
    (0 until 2).foreach { s =>
      val perSlice = ClusterOps.kMeansModelQuantized(
        q.select(col("__id"), slice(col("__rv"), s * 2 + 1, 2).as("__qv")), k = 3, iters = 3)
      assert(rows(fused(s)) === rows(perSlice), s"sub $s")
    }
    assert(fused(0).map(_._1).toSeq === Seq(1L, 3L), "slice 0's cid 2 empties and drops out")
    assert(fused(1).map(_._1).toSeq === Seq(1L, 2L, 3L))
  }

  test("kMeans: assignment plan is a pure map-side projection — zero Exchange") {
    import spark.implicits._
    val vecs = Seq.tabulate(8)(i => ((i + 1).toLong, Array(i.toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val plan = ClusterOps.kMeans(vecs, "vec_id", "embedding", k = 2, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"final assignment must not shuffle or join; got:\n$plan")
  }
}
