package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{AnnSearch, DedupOps}

/** Ground-truth accuracy gates for the approximate operators (the queries the
  * driver can only rows-check): LSH near-dup recall against exact all-pairs
  * Jaccard, ANN recall against the brute-force baseline, and SRP-bucketed
  * embedding dedup against a planted near-identical pair. These fail on
  * regression, not just on crash.
  */
class AccuracySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Plain-Scala word-n-gram shingles, mirroring VecMath.wordShingles. */
  private def shingles(t: String, n: Int): Set[String] = {
    val toks = t.split(" ").filter(_.nonEmpty)
    if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSet
    else Set(toks.mkString(" "))
  }

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = (a & b).size
    val union = a.size + b.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Exact all-pairs ground truth over the sf0.001 documents (500 rows — the
    * quadratic scan is fine HERE, in a test, against 500 docs; the operator
    * under test is the one that must not be quadratic).
    */
  private def groundTruthPairs(n: Int, minJ: Double): (Set[(Long, Long)], Map[Long, Set[String]]) = {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1), n))
    val byId = docs.toMap
    val ids  = docs.map(_._1).sorted
    val truth = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      if jaccard(byId(ids(i)), byId(ids(j))) >= minJ
    } yield (ids(i), ids(j))).toSet
    (truth, byId)
  }

  test("minhash LSH finds every planted 3-gram near-dup pair (recall gate)") {
    val (truth, byId) = groundTruthPairs(3, 0.9)
    assert(truth.nonEmpty, "testdata must contain planted near-dup pairs")
    val got = DedupOps
      .minhashNearDups(Tables.documents(spark, TestSpark.sf0001), "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- got
    assert(missed.isEmpty, s"LSH missed ${missed.size}/${truth.size} planted pairs: $missed")
    // Precision: every reported pair really clears the threshold.
    got.foreach { case (a, b) =>
      val j = jaccard(byId(a), byId(b))
      assert(j >= 0.8, s"pair ($a,$b) reported but exact J=$j < 0.8")
    }
  }

  test("2-gram Jaccard near-dup path finds every planted pair (recall gate)") {
    val (truth, byId) = groundTruthPairs(2, 0.9)
    assert(truth.nonEmpty)
    val got = DedupOps
      .minhashNearDups(Tables.documents(spark, TestSpark.sf0001), "doc_id", "text",
        shingleN = 2, threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- got
    assert(missed.isEmpty, s"missed ${missed.size}/${truth.size}: $missed")
    got.foreach { case (a, b) =>
      assert(jaccard(byId(a), byId(b)) >= 0.8)
    }
  }

  test("simhash near-dup banding finds planted pairs within small Hamming distance") {
    val (truth, _) = groundTruthPairs(3, 0.95)
    assert(truth.nonEmpty)
    val got = DedupOps
      .simhashNearDups(Tables.documents(spark, TestSpark.sf0001), "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.6,
      s"simhash recall=$recall < 0.6 on ${truth.size} planted pairs (hit ${(truth & got).size})")
  }

  test("simhash hot bucket (10^3 identical-band docs) stays capped, not quadratic") {
    // 1000 identical texts: every doc lands in the SAME bucket of all 4
    // bands — the degenerate case the old uncapped band self-join expanded
    // to n²/2 pairs (499_500 here; 5·10¹¹ at a 10⁶-row corpus bucket). The
    // capped core must truncate each bucket to its maxBucketSize smallest
    // ids: exactly C(cap, 2) pairs, all Hamming 0, all ids < cap.
    import spark.implicits._
    val cap  = 100
    val docs = (0L until 1000L).map(i => (i, "identical hot bucket text payload"))
      .toDF("doc_id", "text")
    val got = DedupOps
      .simhashNearDups(docs, "doc_id", "text", maxHamming = 3, maxBucketSize = cap)
      .collect()
    assert(got.length == cap * (cap - 1) / 2,
      s"expected C($cap,2)=${cap * (cap - 1) / 2} capped pairs, got ${got.length}")
    got.foreach { r =>
      assert(r.getAs[Long]("id_a") < cap && r.getAs[Long]("id_b") < cap,
        "truncation must keep the smallest ids (deterministic partial recall)")
      assert(r.getAs[Int]("hamming") == 0)
    }
  }

  test("ANN LSH recall vs brute force on the registry's own config") {
    val embs    = Tables.embeddings(spark, TestSpark.sf0001)
    val queries = embs.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf  = pairs(AnnSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
    val lsh1 = pairs(AnnSearch.lshTopK(embs, queries, "vec_id", "embedding", k = 5,
      nPlanes = 4, tables = 8, probes = 1))
    val lsh2 = pairs(AnnSearch.lshTopK(embs, queries, "vec_id", "embedding", k = 5,
      nPlanes = 4, tables = 8, probes = 2))
    def recall(s: Set[(Long, Long)]) = (bf & s).size.toDouble / bf.size
    // This corpus has NO planted clusters (top-neighbor cosine ~0.45-0.5), the
    // hardest case for SRP; theoretical recall at the 4-plane/8-table config
    // is ~0.8 single-probe. Gate at 0.5 so a config/kernel regression fails
    // loudly while seed-level variance doesn't.
    assert(recall(lsh1) >= 0.5, s"ANN LSH recall=${recall(lsh1)} < 0.5 (bf=${bf.size})")
    // Multi-probe can only widen the candidate set per table.
    assert(recall(lsh2) >= recall(lsh1),
      s"multi-probe recall ${recall(lsh2)} must be >= single-probe ${recall(lsh1)}")
  }

  test("ANN IVF recall vs brute force on the registry's own config") {
    val embs    = Tables.embeddings(spark, TestSpark.sf0001)
    val queries = embs.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf  = pairs(AnnSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
    // The integer-quantizer path the registry runs (`x_ann_ivf`).
    val ivfInt = pairs(AnnSearch.ivfIntTopK(embs, queries, "vec_id", "embedding", k = 5,
      nCells = 16, nProbe = 6, iters = 2))
    val recallInt = (bf & ivfInt).size.toDouble / bf.size
    assert(recallInt >= 0.5,
      s"int IVF recall=$recallInt < 0.5 (bf=${bf.size}, hit=${(bf & ivfInt).size})")
  }

  test("int8-quantized ANN agrees with float brute force on the registry config") {
    val embs    = Tables.embeddings(spark, TestSpark.sf0001)
    val queries = embs.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf   = pairs(AnnSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 5))
    val int8 = pairs(AnnSearch.int8TopK(embs, queries, "vec_id", "embedding", k = 5))
    // Quantization perturbs each cosine by ~1e-2; on this clusterless corpus
    // (near-tied neighbors, the worst case for rank stability) the top-5 sets
    // still overlap heavily. Gate at 0.8 — an arithmetic regression collapses
    // to ~0, rank jitter between near-ties stays well above the gate.
    val agree = (bf & int8).size.toDouble / bf.size
    assert(agree >= 0.8, s"int8 top-5 agreement=$agree < 0.8 (bf=${bf.size}, hit=${(bf & int8).size})")
  }

  test("PQ ANN: far above chance on the worst-case corpus, near-exact on clustered data") {
    import spark.implicits._
    val embs    = Tables.embeddings(spark, TestSpark.sf0001)
    val queries = embs.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact L2 ground truth (PQ ranks by L2, so cosine brute force is the
    // wrong referee): full-vector l2_dist2 on the same quantization.
    val qv = org.apache.spark.sql.functions.transform(col("embedding"),
      x => floor(x.cast("double") * lit(1e6)))
    val c = embs.select(col("vec_id").as("neighbor_id"), qv.as("cv"))
    val q = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), qv.as("qvv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d"), col("neighbor_id"))
    val exact = pairs(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.NativeFns.l2_dist2(col("cv"), col("qvv")).as("d"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5))
    val pq = pairs(AnnSearch.pqTopK(embs, queries, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 8, iters = 2, k = 5))
    // 12-bit codes on a clusterless Gaussian corpus are PQ's worst case:
    // measured recall ~0.24 vs ~0.01 chance. Gate at 10x chance — an
    // arithmetic regression collapses to chance, honest coarseness doesn't.
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.1, s"PQ recall=$recall < 0.1 (exact=${exact.size}, hit=${(exact & pq).size})")

    // On CLUSTERED data (what PQ is for), codes capture the structure: all
    // top-5 neighbors of every query come from the query's own cluster.
    val rng = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(64)(rng.nextGaussian().toFloat * 10f))
    val rows = (0L until 80L).map { i =>
      val ctr = centers((i % 4).toInt)
      i -> ctr.map(v => v + rng.nextGaussian().toFloat * 0.1f)
    }
    val cdf = rows.toDF("vec_id", "embedding")
    val got = AnnSearch.pqTopK(cdf, cdf.filter(col("vec_id") < 4), "vec_id", "embedding",
      dim = 64, m = 4, ksub = 8, iters = 2, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.forall { case (q2, n) => q2 % 4 == n % 4 },
      s"PQ on clustered data must retrieve same-cluster neighbors: ${got.toSeq.take(8)}")

    // IVF-PQ on the same clustered data: the coarse cells align with the
    // planted clusters, so probing must also retrieve only same-cluster
    // neighbors — AND the probe pruning means it scored only a fraction of
    // the corpus to do it.
    val ivfpq = AnnSearch.ivfPqTopK(cdf, cdf.filter(col("vec_id") < 4), "vec_id", "embedding",
      dim = 64, nCells = 4, m = 4, ksub = 8, iters = 2, nProbe = 1, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivfpq.nonEmpty && ivfpq.forall { case (q2, n) => q2 % 4 == n % 4 },
      s"IVF-PQ on clustered data must retrieve same-cluster neighbors: ${ivfpq.toSeq.take(8)}")
  }

  test("GenData below-gate construction: base + 28 disjoint tokens stays under J=0.8 and is rejected") {
    import spark.implicits._
    // Replay the GenData id%40==11 plant at its WORST case: a base of 99
    // all-distinct words has the maximum n = 97 distinct 3-shingles, so the
    // 28 appended off-vocab tokens give exactly J = 97/125 = 0.776 — the
    // closest any below-gate plant can come to the 0.8 gate. It must be an
    // LSH candidate-class similarity (banding fires w.h.p. at 0.776) yet
    // NEVER a reported pair, because the exact-Jaccard verify rejects it.
    val base  = (1 to 99).map(i => s"w$i").mkString(" ")
    val below = base + " " + (1 to 28).map(i => s"zq$i").mkString(" ")
    val near  = base + " dup"
    val j3b = jaccard(shingles(base, 3), shingles(below, 3))
    assert(math.abs(j3b - 97.0 / 125.0) < 1e-12, s"construction J3=$j3b != 97/125")
    val j2b = jaccard(shingles(base, 2), shingles(below, 2))
    assert(math.abs(j2b - 98.0 / 126.0) < 1e-12, s"construction J2=$j2b != 98/126")
    assert(jaccard(shingles(base, 3), shingles(near, 3)) >= 0.8)
    val docs = (Seq((0L, base), (1L, below), (2L, near)) ++
      (3L to 40L).map(i => i -> (1 to 30).map(j => s"f${(i * 7 + j * 3) % 97}_$j").mkString(" "))).toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      val got = DedupOps
        .minhashNearDups(docs, "doc_id", "text", shingleN = n, k = 64, bands = 16, threshold = 0.8)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((0L, 2L)), s"shingleN=$n: near plant not found; got $got")
      assert(!got.exists(p => p._1 == 1L || p._2 == 1L),
        s"shingleN=$n: below-gate plant reported: $got")
    }
  }

  test("embedding near-dups finds a planted near-identical pair, rejects noise") {
    import spark.implicits._
    val rng  = new scala.util.Random(7)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val near = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
    val noise = (3L to 30L).map(i => i -> Array.fill(64)(rng.nextGaussian().toFloat))
    val df = (Seq(1L -> base, 2L -> near) ++ noise).toDF("id", "vec")
    val out = DedupOps.embeddingNearDups(df, "id", "vec", threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)), s"planted near-identical pair not found; got $out")
    assert(out == Set((1L, 2L)), s"random 64-dim vectors must not pair at cos>=0.9; got $out")
  }

  test("embedding near-dups: quantified recall vs exact all-pairs, and exact precision") {
    // Exact all-pairs cosine ground truth over the sf0.001 embeddings (500
    // vectors — quadratic is fine HERE, in a test; the operator under test is
    // the one that must not be quadratic). Same sequential-fold cosine as
    // VecMath.cosineFF so boundary pairs agree bit-for-bit.
    val vecs = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i).toDouble * y(i).toDouble
        na += x(i).toDouble * x(i).toDouble
        nb += y(i).toDouble * y(i).toDouble
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dot / den
    }
    val threshold = 0.35
    val exact = (for {
      i <- vecs.indices.iterator
      j <- (i + 1) until vecs.length
      c = cos(vecs(i)._2, vecs(j)._2)
      if c >= threshold
    } yield (vecs(i)._1, vecs(j)._1) -> c).toMap
    assert(exact.nonEmpty, "no exact pairs above threshold — fixture changed?")

    val got = graft.queries.Extensions.dedupEmbedding.run(spark, TestSpark.sf0001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // Precision is EXACT by construction (the operator re-verifies every LSH
    // candidate with true cosine): anything reported must be in the exact set.
    val spurious = got -- exact.keySet
    assert(spurious.isEmpty, s"${spurious.size} reported pairs not in the exact set: ${spurious.take(5)}")

    // Recall must clear the SRP formula's own prediction for this config
    // (nPlanes=4, tables=8, probes=1): per pair at cosine c,
    // p = (1 - acos(c)/pi)^4, P(found) = 1-(1-p)^8. Hyperplanes are
    // seed-fixed, so the measured recall is deterministic; gate at 90% of
    // the predicted mean to absorb the finite-sample gap between the mean
    // prediction and one fixed draw.
    val predicted = exact.values.map { c =>
      val p = math.pow(1.0 - math.acos(math.min(1.0, c)) / math.Pi, 4)
      1.0 - math.pow(1.0 - p, 8)
    }.sum / exact.size
    val recall = exact.keySet.count(got).toDouble / exact.size
    assert(recall >= predicted * 0.9,
      s"recall=$recall below 90% of the formula's prediction $predicted (${exact.size} exact pairs)")
  }

  test("approx_percentile sketch tracks the exact percentiles (scale path vs oracled path)") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
    val row = li.agg(
      expr("percentile(l_quantity, array(0.25, 0.5, 0.75, 0.95))").as("exact"),
      expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75, 0.95), 1000)").as("approx")
    ).collect()(0)
    val exact  = row.getSeq[Double](0)
    val approx = row.getSeq[Any](1).map(v => v.toString.toDouble)
    exact.zip(approx).foreach { case (e, a) =>
      // l_quantity spans 1..50; accuracy=1000 bounds rank error at n/1000,
      // which on this distribution keeps the value within one unit.
      assert(math.abs(e - a) <= 1.0, s"approx percentile $a strayed from exact $e")
    }
  }

  test("embedding near-dup registry query is deterministic and non-empty") {
    def run(): Set[(Long, Long)] =
      graft.queries.Extensions.dedupEmbedding.run(spark, TestSpark.sf0001)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = run()
    val b = run()
    assert(a.nonEmpty)
    assert(a == b, "SRP-bucketed dedup must be deterministic (seed-fixed hyperplanes)")
  }

  test("hardNegatives: self and same-label rows never surface; ranking is by cosine") {
    import spark.implicits._
    // Anchor 0 (label 0); row 1 is an identical-vector POSITIVE (label 0 —
    // must be excluded, it would otherwise rank first); row 2 is the hard
    // negative (near, label 1); row 3 a far negative (orthogonal, label 1).
    val rows = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0.9f, 0.1f, 0f), 1),
      (3L, Array(0f, 1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = AnnSearch
      .hardNegatives(rows, rows.filter(col("vec_id") === 0), "vec_id", "embedding", "label", 5)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("neg_id")).toSeq == Seq(2L, 3L))
    assert(got.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2))
  }
}
