package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Nearest-neighbor search over an embedding column. Every search keeps a
  * per-query top-k (a `rank` column, self-matches excluded); the query set
  * broadcasts and the corpus never shuffles.
  *  - Exact baselines: [[bruteForceTopK]] (cosine over every corpus vector),
  *    [[hardNegatives]] (the same over different-label rows) and
  *    [[int8TopK]] (over the [[quantizeInt8Vec]] index).
  *  - [[lshTopK]]: sign-random-projection buckets on both sides; only
  *    same-bucket candidates are scored ([[srpPlanes]] fixes the planes).
  *  - [[ivfIntTopK]]: integer coarse cells; a query scores only its nearest
  *    cells' vectors, by exact cosine.
  *  - [[pqTopK]] and [[ivfPqTopK]]: compressed codes scored by asymmetric
  *    distance — one pipeline, owned by [[AnnIndex]], which also persists it.
  */
object AnnSearch {

  /** Seed-fixed SRP hyperplanes: `tables` sets of `nPlanes` × `dim`
    * Gaussian planes, set t drawn from seed 42 + t — the one plane source of
    * the batch and streaming LSH searches, the embedding near-dup passes and
    * the `x_ann_lsh` SQL replay, so all of them bucket alike.
    */
  def srpPlanes(tables: Int, nPlanes: Int, dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables) { t =>
      val rng = new scala.util.Random(42L + t)
      Array.fill(nPlanes, dim)(rng.nextGaussian())
    }

  /** Exact top-k neighbors for each query vector (cosine, descending; ties by
    * neighbor id). Self-matches excluded.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), NativeFns.cosine_sim(col("q_vec"), col("c_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining — the contrastive-training data-preparation step
    * (DPR / SimCSE recipe: for each anchor, the strongest-scoring corpus
    * items of a DIFFERENT class are the informative negatives). Exact by
    * construction: per anchor, top-k by cosine over every corpus vector
    * whose `labelCol` differs from the anchor's (self and same-class rows —
    * the would-be positives — are excluded before scoring, not after, so
    * the returned k are all usable negatives).
    *
    * Same scale shape as [[bruteForceTopK]]: the anchor set broadcasts
    * (mining runs over a training slice, not the whole corpus), scoring is
    * map-side over the corpus via the codegen'd `cosine_sim` kernel, and
    * `row_number ≤ k` rewrites to WindowGroupLimit so each map task
    * forwards at most k candidates per anchor before the rank exchange.
    * For corpus-scale anchor sets, swap the broadcast for the LSH/IVF
    * bucket path ([[lshTopK]]) — the ranking contract is unchanged.
    */
  def hardNegatives(
      corpus: DataFrame, anchors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int
  ): DataFrame = {
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("neg_id"), col(vecCol).as("c_vec"),
      col(labelCol).as("c_label"))
    val scored = c
      .join(broadcast(q), col("q_label") =!= col("c_label"))
      .select(col("query_id"), col("neg_id"),
        NativeFns.cosine_sim(col("q_vec"), col("c_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neg_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Symmetric per-vector int8 quantization — the standard 4× index
    * compression an embedding store applies before ANN at corpus scale
    * (100 TB of float32 embeddings is 25 TB at int8 with ~1e-2 cosine
    * error):
    *
    *   scale = max_i |x_i| / 127,   q_i = round_half_up(x_i / scale)
    *
    * so q ∈ [-127, 127] by construction (the max-|x| element maps to ±127
    * exactly; no clamp needed) and an all-zero vector quantizes to zeros.
    * All arithmetic is float→double exact casts plus one division — both
    * engines make bit-identical decisions. Output is EXPLODED to
    * (id, pos, q, scale_q6) rows: scalar columns hash engine-portably,
    * where a float-array column's textual form would not.
    *
    * Shape at scale: pure map-side projection — the per-row `array_max ∘
    * transform` scale pass is an interpreted HOF but runs once per VECTOR
    * (not inside any join loop — the r6 interpreted-HOF trap was HOFs on
    * the hot side of a pair expansion); posexplode and the quantize
    * arithmetic stay in whole-stage codegen. No shuffle anywhere.
    */
  def quantizeInt8(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0)
    embs
      .select(col(idCol), scale.as("__scale"), posexplode(col(vecCol)).as(Seq("pos", "__x")))
      .select(col(idCol),
        col("pos").cast("long").as("pos"),
        when(col("__scale") === 0.0, lit(0L))
          .otherwise(floor(col("__x").cast("double") / col("__scale") + 0.5).cast("long"))
          .as("q"),
        floor(col("__scale") * 1e6 + 0.5).cast("long").as("scale_q6"))
  }

  /** [[quantizeInt8]]'s vector-form sibling: the same symmetric per-vector
    * int8 quantization, kept as (id, qvec array<bigint>, scale double) rows —
    * the layout a quantized ANN index actually serves from. Same arithmetic
    * (exact float→double casts, one division, round-half-up), so the
    * exploded form of this output is bit-identical to [[quantizeInt8]].
    * Pure map-side projection; the per-vector HOF runs once per vector.
    */
  def quantizeInt8Vec(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0)
    embs.select(
      col(idCol),
      scale.as("__s"),
      col(vecCol).as("__v"))
      .select(
        col(idCol),
        when(col("__s") === 0.0, transform(col("__v"), _ => lit(0L)))
          .otherwise(transform(col("__v"), x => floor(x.cast("double") / col("__s") + 0.5).cast("long")))
          .as("qvec"),
        col("__s").as("scale"))
  }

  /** Exact top-k over the int8-QUANTIZED index — the serving path that makes
    * [[quantizeInt8]] a functional component rather than a storage trick.
    * Score(q, c) = scale_q · scale_c · Σᵢ qᵢcᵢ: the dot product is EXACT
    * integer arithmetic in the codegen'd [[NativeFns.int8_dot]] kernel (an
    * interpreted `zip_with`+`aggregate` here would pay per-element lambda
    * dispatch inside the |queries|×|corpus| score loop — the r6 trap), and
    * the two scale factors are reapplied outside it. Same plan shape as
    * [[bruteForceTopK]]: broadcast queries, score map-side, per-query
    * row_number (WindowGroupLimit caps it map-side) — corpus is never
    * shuffled. Against 100 TB of float32 embeddings this serves from 25 TB,
    * at ~1e-2 cosine error (bounded in the spec).
    *
    * Ranking compares `score` doubles: both factors and the product are
    * single IEEE operations on exactly-derived values, so the order is
    * engine-portable (no transcendentals, no float summation order).
    */
  def int8TopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val c = quantizeInt8Vec(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qvec").as("c_q"), col("scale").as("c_s"))
    val q = quantizeInt8Vec(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qvec").as("q_q"), col("scale").as("q_s"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("q_s") * col("c_s") * NativeFns.int8_dot(col("q_q"), col("c_q")).cast("double")).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed top-k: candidates restricted to same SRP bucket in any of
    * `tables` independent hash tables. Misses are possible (that's the A in
    * ANN); recall grows with table count AND with `probes` — multi-probe
    * flips the lowest-margin hyperplane bits on the QUERY side only, so the
    * corpus index stays one entry per table while each query checks the
    * `probes` most likely buckets per table (recall of ~2× the tables at the
    * candidate cost of probing, without reindexing).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nPlanes: Int = 12, tables: Int = 4, dim: Int = 64, probes: Int = 1
  ): DataFrame = {
    val allPlanes = srpPlanes(tables, nPlanes, dim)
    def withBuckets(df: DataFrame, id: String, vec: String, nProbes: Int): DataFrame =
      df.select(
        col(idCol).as(id),
        col(vecCol).as(vec),
        posexplode(NativeFns.srp_buckets(col(vecCol), allPlanes, nProbes)).as(Seq("pos", "bucket"))
      ).withColumn("table", (col("pos") / nProbes).cast("int")).drop("pos")
    val q = withBuckets(queries, "query_id", "q_vec", probes)
    val c = withBuckets(corpus, "neighbor_id", "c_vec", 1)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), NativeFns.cosine_sim(col("q_vec"), col("c_vec")).as("cos"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private val intModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Array[Long])]]()

  /** IVF top-k over the INTEGER-EXACT coarse quantizer
    * ([[ClusterOps.kMeansModel]]: micro-quantized vectors, exact-integer
    * argmin-L2² assignment, floor-division centroid updates): corpus vectors
    * are assigned to their nearest cell; each query probes its `nProbe`
    * nearest cells ([[AnnIndex.nearestCells]]) and scores only those cells'
    * vectors by exact cosine. Every routing decision is BIGINT arithmetic
    * with a deterministic (dist², cid) tie-break, so the ENTIRE pipeline —
    * train → assign → probe → exact within-cell cosine → rank — replays
    * row-level in ANSI SQL. Misses happen when a true neighbor lives in an
    * unprobed cell — recall is gated against brute force in AccuracySpec.
    *
    * Scale shape: the model is k·dim driver state (trained once per
    * `cacheKey`), corpus assignment is one map-side kernel projection,
    * queries broadcast with their probe fan-out, and the per-query top-k is
    * a WindowGroupLimit — the corpus never shuffles.
    */
  def ivfIntTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4, iters: Int = 2,
      cacheKey: Option[String] = None
  ): DataFrame = {
    def train() = ClusterOps.kMeansModel(corpus, idCol, vecCol, nCells, iters)
    val model = cacheKey match {
      case Some(key) =>
        intModelCache.computeIfAbsent(s"$key|$vecCol|$nCells|$iters", _ => train())
      case None => train()
    }
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      NativeFns.nearest_centroid_l2(ClusterOps.quantize(col(vecCol)), model.map(_._1), model.map(_._2))
        .getField("cluster").as("cell"))
    val q = AnnIndex.nearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        ClusterOps.quantize(col(vecCol)).as("__qv")),
      "__qv", model, nProbe)
    val rw = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        NativeFns.cosine_sim(col("q_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid, "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011) — the FAISS-style compressed
    * index, integer-exact end to end: the vector splits into `m` subvectors,
    * each with its own integer k-means codebook; a corpus vector's code is
    * its m nearest sub-centroid labels, and serving reconstructs the coded
    * vector and scores squared-L2 against the query (asymmetric distance).
    * It is [[ivfPqTopK]] with ONE all-zero coarse cell probed by every
    * query: the residual from a zero centroid is the vector itself, so the
    * sub-codebooks train on the plain micro-quantized slices. The FULL
    * train→encode→reconstruct→score→rank pipeline replays in SQL.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, iters: Int, k: Int
  ): DataFrame =
    AnnIndex.topK(corpus, queries, idCol, vecCol, AnnIndex.IvfPqMeta(dim, 1, m, ksub, iters),
      Array((0L, Array.fill(dim)(0L))), nProbe = 1, k)

  /** IVF-PQ — the full FAISS `IndexIVFPQ` composition (Jégou et al. TPAMI
    * 2011 §V), integer-exact: a coarse integer k-means partitions the
    * corpus into cells; each vector's RESIDUAL from its cell centroid is
    * product-quantized with per-subvector codebooks; serving ranks a query's
    * nearest `nProbe` cells and scores ONLY their members, each
    * reconstructed as cell centroid + sub-codebook entries. Work per query
    * is the probed fraction, and every step (train, assign, residual,
    * encode, probe, score, rank) replays in SQL. Train, encode and score
    * are [[AnnIndex]]'s — the persisted index runs the same code.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, nCells: Int, m: Int, ksub: Int, iters: Int, nProbe: Int, k: Int
  ): DataFrame =
    AnnIndex.topK(corpus, queries, idCol, vecCol, AnnIndex.IvfPqMeta(dim, nCells, m, ksub, iters),
      ClusterOps.kMeansModel(corpus, idCol, vecCol, nCells, iters), nProbe, k)
}
