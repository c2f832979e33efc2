package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Layout.LineageOps

/** Graph clustering for corpus dedup: near-dup PAIRS (from the LSH pipelines
  * in [[DedupOps]]) are only half the dedup story — production pipelines must
  * then group transitively-linked docs into CLUSTERS and keep one canonical
  * doc per cluster (a~b and b~c must not keep both a and c). The reference
  * has no equivalent; this follows the alternating large-star/small-star
  * algorithm of Kiveris et al., "Connected Components in MapReduce and
  * Beyond" (SoCC'14), which converges in O(log n) rounds on any graph — the
  * published at-scale answer, vs O(diameter) rounds for naive min-label
  * propagation (a 100 TB corpus with boilerplate chains can have long paths).
  *
  * Everything is DataFrame ops: each round is two window-aggregations and two
  * `distinct`s, all hash-partitioned on the node id — no driver-side graph,
  * no adjacency materialization. The driver loop only compares a (count,
  * hash-sum) fingerprint per round for the convergence test.
  */
object ClusterOps {

  /** Connected components of an undirected edge list. Returns
    * (id BIGINT, cluster_id BIGINT) for every node that appears in an edge,
    * where cluster_id is the smallest node id in the component (so roots map
    * to themselves). Callers union in isolated nodes if they need them.
    *
    * Edge orientation invariant maintained between rounds: every stored edge
    * is (u, v) with v < u. At the fixpoint the edge set is a union of stars
    * (every u points directly at its component minimum).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25
  ): DataFrame = {
    // localCheckpoint per round, NOT cache: both star steps reference their
    // input twice (symmetrization / the x∪{u} union), so the LOGICAL plan
    // grows 4^round deep even when the data is cached — by round ~7 the
    // analyzer itself is the bottleneck (observed: minutes of pure planning
    // on a 64-node path). Checkpointing truncates lineage to the materialized
    // blocks each round, the same move GraphFrames makes; on a cluster with a
    // checkpoint dir configured, swap for reliable `checkpoint`.
    var e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .truncateLineage()

    var fp    = fingerprint(e)
    var iter  = 0
    var done  = false
    while (!done && iter < maxIter) {
      val next   = smallStar(largeStar(e)).truncateLineage()
      val nextFp = fingerprint(next)
      done = nextFp == fp
      fp = nextFp
      e = next
      iter += 1
    }
    if (!done)
      // Not a silent degradation: at a non-converged cut-off, min(v) is only
      // each node's current best label, NOT the component minimum — callers
      // would get wrong cluster ids with no signal. O(log n) convergence
      // means hitting this indicates maxIter far too small for the graph.
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
        "labels at a non-converged fixpoint are not component minima — raise maxIter " +
        "(rounds needed grow ~log2 of the largest component)")

    // At the fixpoint each u's single neighbor is the root.
    val nonRoots = e.groupBy(col("u").as("id")).agg(min(col("v")).as("cluster_id"))
    val roots    = e.select(col("v").as("id"), col("v").as("cluster_id")).distinct()
    // A root never appears as a u at fixpoint, but union+min tolerates both.
    nonRoots.union(roots).groupBy("id").agg(min("cluster_id").as("cluster_id"))
  }

  /** (count, XOR of row hashes) — an order-independent edge-set fingerprint;
    * equal fingerprints across rounds = converged (one aggregate job, no
    * collect of edges). XOR, not sum: the edge set is distinct so XOR is
    * collision-safe to 64 bits, and it cannot overflow under ANSI mode.
    */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Large-star: every node connects its LARGER neighbors to its minimum
    * neighbor (or itself if smaller). Needs the symmetric adjacency, hence
    * the union; the window's hash partitioning on u is the only shuffle.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m   = least(min(col("v")).over(Window.partitionBy("u")), col("u"))
    sym
      .withColumn("m", m)
      .filter(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: every node connects its smaller-or-equal neighborhood (and
    * itself) to its minimum neighbor. Input/output edges both hold v < u, so
    * no symmetrization is needed here.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val withM = e.withColumn("m", min(col("v")).over(Window.partitionBy("u")))
    withM
      .select(col("v").as("x"), col("m"))
      .union(withM.select(col("u").as("x"), col("m")))
      .filter(col("x") =!= col("m"))
      .select(col("x").as("u"), col("m").as("v"))
      .distinct()
  }

  /** End-to-end fuzzy-dedup clustering: MinHash+LSH near-dup pairs →
    * connected components → canonical selection (smallest doc id per cluster
    * is kept — "first wins", matching the exact-dedup policy). Returns one
    * row per INPUT doc: (idCol, cluster_id, keep) with keep ∈ {0, 1};
    * singletons are their own cluster and always kept. Filtering `keep = 1`
    * is the dedup; grouping by cluster_id inspects the duplicate groups.
    */
  def dedupClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.8
  ): DataFrame = {
    val pairs = DedupOps.minhashNearDups(docs, idCol, textCol, shingleN, k, bands, threshold)
    val cc    = connectedComponents(pairs, "id_a", "id_b")
    val lbl   = coalesce(col("cluster_id"), col(idCol))
    docs
      .select(col(idCol).cast("long").as(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        lbl.as("cluster_id"),
        when(lbl === col(idCol), 1).otherwise(0).cast("int").as("keep"))
  }

  /** [[dedupClusters]] with QUALITY-based representative selection — the
    * Dolma/RedPajama refinement of fuzzy dedup: within each duplicate
    * cluster keep the BEST document by `scoreCol` (ties: smallest id), not
    * the first-by-id. First-wins discards information whenever a later copy
    * is the cleaner one (the common case for boilerplate-wrapped mirrors);
    * argmax-by-quality keeps it. Returns one row per input doc:
    * (idCol, cluster_id, keep).
    *
    * Scale shape: identical to [[dedupClusters]] up to the labeling; the
    * representative choice is one window partitioned by cluster_id —
    * cluster-sized partitions (bounded by the LSH bucket caps upstream),
    * never a global order. The keep flag needs every row, so this is a full
    * window, not a WindowGroupLimit rank filter.
    */
  def keepBestInClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.8
  ): DataFrame = {
    val pairs = DedupOps.minhashNearDups(docs, idCol, textCol, shingleN, k, bands, threshold)
    val cc    = connectedComponents(pairs, "id_a", "id_b")
    val lbl   = coalesce(col("cluster_id"), col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(idCol))
    docs
      .select(col(idCol).cast("long").as(idCol), col(scoreCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), lbl.as("cluster_id"), col(scoreCol))
      .withColumn("__rn", row_number().over(w))
      .select(
        col(idCol),
        col("cluster_id"),
        when(col("__rn") === 1, 1).otherwise(0).cast("int").as("keep"))
  }

  /** Distributed Lloyd k-means over embedding vectors — the cluster-analysis
    * face of curation (SemDeDup's published recipe clusters with k-means
    * before pruning; mixture audits bucket corpora by embedding cluster).
    * Integer-exact and engine-portable end to end: vectors quantize to
    * micro-units (`floor(x·1e6)` — exact under IEEE double for |x| ≲ 2⁴⁰),
    * assignment is exact-integer argmin-L2² in the codegen'd
    * [[NativeFns.nearest_centroid_l2]] kernel (pure map-side projection — no
    * join, no shuffle), and centroid updates are integer sums + floor
    * division, so results CANNOT vary with partitioning or aggregation order
    * the way float-mean k-means silently does.
    *
    * Scale shape per iteration: one kernel pass over the corpus + ONE
    * explode-free aggregation (k groups × dim primitive sum buffers) whose
    * map-side combine collapses each task to ≤ k dim-wide rows — shuffle
    * volume is tasks·k·dim scalars, independent of corpus size. The only
    * driver-side state is the k·dim centroid model (the [[BpeTrain]]
    * per-round-argmax move; ~k·dim·8 bytes, config-sized); the corpus is
    * never collected or cached — each iteration re-streams the scan, the
    * right trade at 100 TB where caching the input is impossible anyway.
    * Seeding is the k smallest ids — deterministic and SQL-replayable
    * (production swaps in k-means‖ sampling; the iteration machinery is
    * identical). A cluster that loses all members drops out (standard
    * Lloyd); distance ties take the smallest cid on both engines.
    *
    * Returns (idCol, cluster, dist2) under the final centroids, where
    * `cluster` is the seed vector's id and `dist2` the exact integer L2² in
    * micro-units².
    */
  def kMeans(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): DataFrame =
    assignToCentroids(embs, idCol, vecCol, kMeansModel(embs, idCol, vecCol, k, iters))

  /** The training loop alone: returns the final (cid, centroid) model,
    * cid-ascending — pass to [[assignToCentroids]] (batch) or
    * [[graft.streaming.RainStorm.clusterAssignStream]] (streaming) to route
    * NEW data onto clusters trained offline.
    */
  def kMeansModel(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): Array[(Long, Array[Long])] =
    kMeansModelQuantized(quantized(embs, idCol, vecCol), k, iters)

  /** The same training loop over a PRE-quantized `(__id, __qv array<long>)`
    * frame; [[kMeansSubModelsQuantized]] runs m of them at once.
    */
  private[graft] def kMeansModelQuantized(
      q: DataFrame,
      k: Int,
      iters: Int
  ): Array[(Long, Array[Long])] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0, got $k/$iters")
    // The centroid MODEL (k·dim scalars) lives on the driver between
    // iterations, like BpeTrain's merge table — the corpus never does.
    var cents: Array[(Long, Array[Long])] =
      q.orderBy("__id").limit(k).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    var it = 0
    // Per-iteration centroid update, explode-free: one codegen'd
    // HashAggregate over k groups with dim primitive sum buffers. The
    // earlier form posexploded the corpus dim× (12.8M rows at 200k×64)
    // before aggregating on (cid, dim); summing `element_at(__qv, i)`
    // per dimension keeps the corpus at its own row count and the
    // shuffle at tasks·k rows of dim-wide buffers — same exact integer
    // sums, same ≤ k·dim model update, ~dim× less aggregation input.
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    while (it < iters && cents.nonEmpty) {
      val cids = cents.map(_._1)
      val cvs  = cents.map(_._2)
      val aggs = count(lit(1)).as("__n") +:
        (0 until dim).map(i => sum(element_at(col("__qv"), i + 1)).as(s"__s$i"))
      val sums = q
        .select(
          NativeFns.nearest_centroid_l2(col("__qv"), cids, cvs)
            .getField("cluster").as("__cid"),
          col("__qv"))
        .groupBy("__cid")
        .agg(aggs.head, aggs.tail: _*)
        .collect() // ≤ k rows of dim sums — the model update, not the data
      cents = sums.sortBy(_.getLong(0)).map { r =>
        val n  = r.getLong(1)
        val cv = Array.tabulate(dim)(i => Math.floorDiv(r.getLong(2 + i), n))
        (r.getLong(0), cv)
      }
      it += 1
    }
    cents
  }

  /** Train `m` INDEPENDENT sub-codebooks (one per dsub-wide slice of `__rv`)
    * in ONE Spark job per iteration — the IVF-PQ trainer of [[AnnIndex]]:
    * iters+1 scans of the residual frame instead of m·(iters+1).
    *
    * Equal to m per-slice [[kMeansModelQuantized]] trainings, model for
    * model (ClusterOpsSpec pins it):
    *   - seeds are the k smallest `__id` rows, sliced per sub — slicing
    *     commutes with the row pick;
    *   - each iteration assigns every row's slice with the SAME
    *     [[NativeFns.nearest_centroid_l2]] kernel against that sub's model
    *     only (the sub key rides every group), and the (sub, cid) integer
    *     sums + floorDiv update are [[kMeansModelQuantized]]'s arithmetic;
    *   - a cluster that loses all members drops out per sub.
    */
  private[graft] def kMeansSubModelsQuantized(
      q: DataFrame,   // (__id BIGINT, __rv ARRAY<BIGINT>) — full residual rows
      m: Int,
      dsub: Int,
      k: Int,
      iters: Int
  ): Seq[Array[(Long, Array[Long])]] = {
    require(m > 0 && dsub > 0 && k > 0 && iters >= 0,
      s"need m,dsub,k > 0, iters >= 0, got $m/$dsub/$k/$iters")
    val seedRows = q.orderBy("__id").limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    var models: Array[Array[(Long, Array[Long])]] =
      Array.tabulate(m)(s =>
        seedRows.map { case (id, rv) => (id, rv.slice(s * dsub, (s + 1) * dsub)) })
    var it = 0
    while (it < iters && seedRows.nonEmpty) {
      val perSub = (0 until m).map { s =>
        val sl = slice(col("__rv"), s * dsub + 1, dsub)
        struct(
          lit(s).as("s"),
          NativeFns.nearest_centroid_l2(sl, models(s).map(_._1), models(s).map(_._2))
            .getField("cluster").as("cid"),
          sl.as("v"))
      }
      val aggs = count(lit(1)).as("__n") +:
        (0 until dsub).map(i => sum(element_at(col("v"), i + 1)).as(s"__s$i"))
      val sums = q
        .select(explode(array(perSub: _*)).as("e"))
        .select(col("e.s").as("__sub"), col("e.cid").as("__cid"), col("e.v").as("v"))
        .groupBy("__sub", "__cid")
        .agg(aggs.head, aggs.tail: _*)
        .collect() // ≤ m·k rows of dsub-wide sums — the model update, not data
      models = Array.tabulate(m) { s =>
        sums.filter(_.getInt(0) == s).sortBy(_.getLong(1)).map { r =>
          val n  = r.getLong(2)
          val cv = Array.tabulate(dsub)(i => Math.floorDiv(r.getLong(3 + i), n))
          (r.getLong(1), cv)
        }
      }
      it += 1
    }
    models.toSeq
  }

  /** Map-side assignment of (idCol, vecCol) rows to a fixed centroid model:
    * one kernel projection, zero joins/shuffles — identical semantics on a
    * batch frame and inside a micro-batch, which is what makes the
    * streaming face bit-equal to the batch one.
    */
  def assignToCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: Array[(Long, Array[Long])]
  ): DataFrame = {
    val cids = model.map(_._1)
    val cvs  = model.map(_._2)
    quantized(df, idCol, vecCol)
      .select(
        col("__id").as(idCol),
        NativeFns.nearest_centroid_l2(col("__qv"), cids, cvs).as("__a"))
      .select(col(idCol), col("__a.cluster").as("cluster"), col("__a.dist2").as("dist2"))
  }

  /** Micro-quantization, `floor(x·1e6)` per element: the integer form every
    * k-means, IVF and PQ decision in graft is made in.
    */
  private[functions] def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(1e6)))

  private def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("__id"), quantize(col(vecCol)).as("__qv"))
}
