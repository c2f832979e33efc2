package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Storage
import graft.functions.Layout.LineageOps

/** Persisted IVF-PQ index — the build-once / probe-many serving shape that
  * [[AnnSearch.ivfPqTopK]]'s train-in-query form cannot be at corpus scale:
  * against 100 TB of embeddings the coarse k-means + m sub-codebook
  * trainings run ONCE in an index-build job, the encoded corpus (m bytes of
  * codes per vector instead of dim floats) persists as parquet, and every
  * query-time probe reads only the model tables (k·dim longs — broadcast
  * scale) plus the probed cells' code rows.
  *
  * Artifact layout under `indexPath` (all via the [[Storage]] facade):
  *   - `meta`      — one row: (dim, n_cells, m, ksub, iters)
  *   - `centroids` — (cell BIGINT, cv ARRAY<BIGINT>): coarse cell centroids
  *   - `codebooks` — (sub INT, code BIGINT, cv ARRAY<BIGINT>): per-subvector
  *                   PQ codebooks over cell RESIDUALS
  *   - `codes`     — (id BIGINT, cell BIGINT, codes ARRAY<BIGINT>): the
  *                   encoded corpus, m code labels per vector
  * Every write verb is one [[Storage.commit]]; its manifest holds the
  * physical codes-table row count.
  *
  * All model numbers are the micro-quantized BIGINTs of
  * [[ClusterOps.kMeansModel]], so persistence is exact: longs round-trip
  * parquet bit-identically, and probe-after-reload equals build-and-probe
  * (AnnIndexSpec pins it against [[AnnSearch.ivfPqTopK]] row-for-row). The
  * same integer exactness is what lets the DuckDB oracle replay a probe by
  * `read_parquet`-ing the persisted tables directly.
  */
object AnnIndex {

  final case class IvfPqMeta(dim: Int, nCells: Int, m: Int, ksub: Int, iters: Int)

  private def metaPath(p: String)      = s"$p/meta"
  private def centroidsPath(p: String) = s"$p/centroids"
  private def codebooksPath(p: String) = s"$p/codebooks"
  private def codesPath(p: String)     = s"$p/codes"
  private def qv(c: Column): Column = transform(c, x => floor(x.cast("double") * lit(1e6)))

  /** Encode vectors against a FROZEN model: coarse cell by integer argmin-L2²,
    * then each residual slice's nearest sub-codebook entry. One map-side
    * projection — the shared kernel of [[buildIvfPq]] (over the training
    * corpus) and [[appendIvfPq]] (over new rows, no retrain).
    */
  private def encode(
      vecs: DataFrame, idCol: String, vecCol: String,
      meta: IvfPqMeta,
      coarse: Array[(Long, Array[Long])],
      subModels: Seq[Array[(Long, Array[Long])]]
  ): DataFrame = {
    val dsub      = meta.dim / meta.m
    val coarseMap = typedlit(coarse.map { case (cid, cv) => cid -> cv.toSeq }.toMap)
    val withRes = vecs
      .select(col(idCol).cast("long").as("id"), qv(col(vecCol)).as("__qv"))
      .withColumn("cell",
        NativeFns.nearest_centroid_l2(col("__qv"), coarse.map(_._1), coarse.map(_._2))
          .getField("cluster"))
      .withColumn("__rv", zip_with(col("__qv"), element_at(coarseMap, col("cell")),
        (a, b) => a - b))
    val codeCols = subModels.zipWithIndex.map { case (mod, s) =>
      NativeFns.nearest_centroid_l2(
        slice(col("__rv"), s * dsub + 1, dsub), mod.map(_._1), mod.map(_._2))
        .getField("cluster")
    }
    withRes.select(col("id"), col("cell"), array(codeCols: _*).as("codes"))
  }

  /** Train coarse centroids + residual sub-codebooks on `corpus`, encode it,
    * and persist the four artifact tables under `indexPath` (replacing any
    * prior index there). Exactly [[AnnSearch.ivfPqTopK]]'s training — same
    * integer k-means, same residual slicing — so a probe of the persisted
    * index reproduces the in-query form bit-for-bit.
    */
  def buildIvfPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nCells: Int, m: Int, ksub: Int, iters: Int,
      indexPath: String
  ): Unit = {
    require(m > 0 && dim % m == 0, s"m must divide dim, got dim=$dim m=$m")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dim / m
    Storage.commit(indexPath) {
      Storage.clearTombstones(indexPath) // rebuild resets delete state
      val coarse    = ClusterOps.kMeansModel(corpus, idCol, vecCol, nCells, iters)
      val coarseMap = typedlit(coarse.map { case (cid, cv) => cid -> cv.toSeq }.toMap)
      // localCheckpoint: the fused sub-model training rescans this frame
      // (iters+1 actions) — the ivfPqTopK lineage discipline.
      val withRes = corpus
        .select(col(idCol).cast("long").as("__id"), qv(col(vecCol)).as("__qv"))
        .withColumn("cell",
          NativeFns.nearest_centroid_l2(col("__qv"), coarse.map(_._1), coarse.map(_._2))
            .getField("cluster"))
        .withColumn("__rv", zip_with(col("__qv"), element_at(coarseMap, col("cell")),
          (a, b) => a - b))
        .truncateLineage()
      // All m sub-codebooks in one job per iteration (bit-identical per sub to
      // the old per-sub kMeansModelQuantized calls — see its doc) instead of
      // m·(iters+1) separate actions over the same frame.
      val subModels = ClusterOps.kMeansSubModelsQuantized(
        withRes.select(col("__id"), col("__rv")), m, dsub, ksub, iters)
      val codeCols = subModels.zipWithIndex.map { case (mod, s) =>
        NativeFns.nearest_centroid_l2(
          slice(col("__rv"), s * dsub + 1, dsub), mod.map(_._1), mod.map(_._2))
          .getField("cluster")
      }
      val codes = withRes.select(col("__id").as("id"), col("cell"), array(codeCols: _*).as("codes"))

      Storage.replace(
        Seq((dim, nCells, m, ksub, iters)).toDF("dim", "n_cells", "m", "ksub", "iters"),
        metaPath(indexPath))
      Storage.replace(
        coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cell", "cv"),
        centroidsPath(indexPath))
      Storage.replace(
        subModels.zipWithIndex.flatMap { case (mod, s) =>
          mod.map { case (code, cv) => (s, code, cv.toSeq) }
        }.toDF("sub", "code", "cv"),
        codebooksPath(indexPath))
      val (codesObs, nCodes) = Storage.observedCount(codes)
      Storage.replace(codesObs, codesPath(indexPath))
      nCodes()
    }
  }

  private def readMeta(spark: SparkSession, indexPath: String): IvfPqMeta = {
    val r = Storage.get(spark, metaPath(indexPath)).head()
    IvfPqMeta(r.getAs[Int]("dim"), r.getAs[Int]("n_cells"), r.getAs[Int]("m"),
      r.getAs[Int]("ksub"), r.getAs[Int]("iters"))
  }

  private def readModels(
      spark: SparkSession, indexPath: String, meta: IvfPqMeta
  ): (Array[(Long, Array[Long])], Seq[Array[(Long, Array[Long])]]) = {
    val coarse = Storage.get(spark, centroidsPath(indexPath))
      .collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("cv").toArray))
      .sortBy(_._1)
    val cbRows = Storage.get(spark, codebooksPath(indexPath))
      .collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("code"), r.getAs[Seq[Long]]("cv").toArray))
    val subModels = (0 until meta.m).map { s =>
      cbRows.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1)
    }
    (coarse, subModels)
  }

  /** Tombstone-delete vectors from a persisted index: ADC scores carry no
    * corpus statistics, so deletion is PURE candidate filtering — the
    * tombstone set anti-joins the codes read inside [[probeIvfPq]], making
    * probe-after-delete trivially equal to rebuild-without-deleted (spec-
    * pinned). One [[Storage.commit]], like append.
    */
  def deleteVecs(spark: SparkSession, indexPath: String, vecIds: DataFrame): Unit = {
    val nCodes = Storage.committedRows(indexPath) // the codes table is untouched
    Storage.commit(indexPath) {
      Storage.tombstone(indexPath, vecIds, "id")
      nCodes
    }
  }

  private def liveCodes(spark: SparkSession, indexPath: String): DataFrame = {
    val codes = Storage.get(spark, codesPath(indexPath))
    Storage.tombstones(spark, indexPath)
      .fold(codes)(tomb => codes.join(broadcast(tomb), Seq("id"), "left_anti"))
  }

  /** Probe a PERSISTED index: rank each query's nearest `nProbe` cells
    * against the saved centroids, reconstruct only those cells' code rows
    * from the saved codebooks, ADC-score, keep top-k. Reads NOTHING but the
    * artifact tables — no training, no corpus scan: per query the work is
    * nProbe/nCells of the codes table, which is the inverted-list economics
    * that make 100 TB serving viable.
    */
  def probeIvfPq(
      spark: SparkSession, indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int, k: Int
  ): DataFrame = {
    import spark.implicits._
    Storage.requireCommitted(indexPath)
    val meta                = readMeta(spark, indexPath)
    val (coarse, subModels) = readModels(spark, indexPath, meta)
    val coarseMap = typedlit(coarse.map { case (cid, cv) => cid -> cv.toSeq }.toMap)

    val reconRes = concat(subModels.zipWithIndex.map { case (mod, s) =>
      element_at(
        typedlit(mod.map { case (code, cv) => code -> cv.toSeq }.toMap),
        element_at(col("codes"), s + 1))
    }: _*)
    val index = liveCodes(spark, indexPath)
      .select(col("id").as("neighbor_id"), col("cell"),
        zip_with(element_at(coarseMap, col("cell")), reconRes, (a, b) => a + b).as("__recon"))

    val q = queries.select(col(idCol).cast("long").as("query_id"), qv(col(vecCol)).as("__qqv"))
    val cellsDf = coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cell", "__cv")
    val pw = Window.partitionBy(col("query_id")).orderBy(col("__cd"), col("cell"))
    val probes = q.crossJoin(broadcast(cellsDf))
      .select(col("query_id"), col("__qqv"), col("cell"),
        NativeFns.l2_dist2(col("__qqv"), col("__cv")).as("__cd"))
      .withColumn("__pr", row_number().over(pw))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"), col("__qqv"), col("cell"))

    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_dist2"), col("neighbor_id"))
    index
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        NativeFns.l2_dist2(col("__recon"), col("__qqv")).as("adc_dist2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** STREAMING probe of the persisted index — the online-serving face of
    * [[probeIvfPq]]: a stream of query vectors is answered against the
    * SAME frozen artifacts. Cell routing is ROW-LOCAL (the centroid table
    * is a literal; nearest-nProbe cells come from an in-row array sort, not
    * the batch path's window — streams cannot window before aggregation),
    * candidates arrive via a stream-static join on cell, ADC scores them,
    * and a watermarked event-time window keeps top-k per query — closed
    * windows equal the batch probe for the same query set (spec-pinned).
    * State = one candidate set per in-flight query, bounded by the
    * watermark; the codes side is the static broadcast.
    */
  def probeIvfPqStream(
      spark: SparkSession, indexPath: String, queryStream: DataFrame,
      idCol: String, vecCol: String, tsCol: String, nProbe: Int, k: Int,
      watermark: String = "10 minutes", windowLen: String = "1 hour"
  ): DataFrame = {
    Storage.requireCommitted(indexPath)
    val meta                = readMeta(spark, indexPath)
    val (coarse, subModels) = readModels(spark, indexPath, meta)
    val coarseMap = typedlit(coarse.map { case (cid, cv) => cid -> cv.toSeq }.toMap)
    val reconRes = concat(subModels.zipWithIndex.map { case (mod, s) =>
      element_at(
        typedlit(mod.map { case (code, cv) => code -> cv.toSeq }.toMap),
        element_at(col("codes"), s + 1))
    }: _*)
    // NO broadcast hint on the codes side: a serving index is exactly the
    // table that outgrows the driver. The stream-static join shuffles (or
    // size-auto-broadcasts a genuinely small index) on `cell` — planner's
    // choice, never an unconditional full-index broadcast.
    val index = liveCodes(spark, indexPath)
      .select(col("id").as("neighbor_id"), col("cell"),
        zip_with(element_at(coarseMap, col("cell")), reconRes, (a, b) => a + b).as("__recon"))
    // row-local nearest-nProbe cells: (dist2, cell) structs over the literal
    // centroid table, in-row sort, slice — the window-free routing
    val cellArr = typedlit(coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) })
    val routed = queryStream
      .withWatermark(tsCol, watermark)
      .select(col(idCol).cast("long").as("query_id"), qv(col(vecCol)).as("__qqv"), col(tsCol))
      .withColumn("__cells",
        slice(
          array_sort(transform(cellArr, c =>
            struct(
              aggregate(zip_with(col("__qqv"), c.getField("_2"), (a, b) => (a - b) * (a - b)),
                lit(0L), (acc, x) => acc + x).as("d2"),
              c.getField("_1").as("cell")))),
          1, nProbe))
      .select(col("query_id"), col("__qqv"), col(tsCol),
        explode(col("__cells").getField("cell")).as("cell"))
    routed
      .join(index, Seq("cell")) // stream-static inner: candidates only
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col(tsCol),
        struct(NativeFns.l2_dist2(col("__recon"), col("__qqv")).as("adc_dist2"),
          col("neighbor_id")).as("cand"))
      .groupBy(window(col(tsCol), windowLen), col("query_id"))
      .agg(collect_set(col("cand")).as("cands"))
      .select(col("window"), col("query_id"),
        slice(array_sort(col("cands")), 1, k).as("topk"))
  }

  /** COMPACT a tombstoned index: physically drop the deleted vectors' code
    * rows and clear the tombstone set — deletion is pure candidate filtering
    * (ADC carries no corpus statistics), so compaction is ONE anti-join
    * rewrite of the codes table under the [[graft.sources.Storage.rewrite]]
    * rename-aside swap; model tables are untouched. Runs as one
    * [[Storage.commit]] (crash mid-compaction leaves a manifest-less index
    * that probes refuse). After compaction
    * probes pay no anti-join and previously deleted ids may be re-appended.
    *
    * Returns false when [[Storage.compactable]]'s gate finds nothing to
    * compact or the tombstones below `minFraction` of the committed codes
    * rows (the rewrite is a full codes pass — gate it on delete volume).
    */
  def compactIvfPq(spark: SparkSession, indexPath: String, minFraction: Double = 0.0): Boolean =
    Storage.compactable(spark, indexPath, minFraction) match {
      case None => false
      case Some(tomb) =>
        Storage.commit(indexPath) {
          val (liveObs, nLive) = Storage.observedCount(
            // no broadcast hint: tombstones accumulate until exactly this
            // moment, so a long-deferred compaction may hold far more than a
            // broadcastable side — let the planner size the join (r14 advice,
            // same class as the probeIvfPqStream codes broadcast removed in r13).
            Storage.get(spark, codesPath(indexPath)).join(tomb, Seq("id"), "left_anti"))
          Storage.rewrite(liveObs, codesPath(indexPath))
          Storage.clearTombstones(indexPath)
          nLive()
        }
        true
    }

  /** Incremental maintenance: encode `newVecs` against the FROZEN persisted
    * codebooks (no retrain — the FAISS `add` contract) and append their code
    * rows to the codes table. Returns the appended rows so callers (and the
    * oracle) can verify the encode row-level against the saved model tables.
    * Cost is one map-side projection over the NEW rows only — the existing
    * index is untouched, which is the whole point at 100 TB: ingest appends,
    * periodic rebuilds re-center drifted codebooks.
    */
  def appendIvfPq(
      spark: SparkSession, indexPath: String, newVecs: DataFrame,
      idCol: String, vecCol: String
  ): DataFrame = {
    val nOld = Storage.committedRows(indexPath)
    // codes rows are unique by id; a tombstoned id still has its old code
    // row physically present, so re-appending it would either stay invisible
    // (anti-joined forever) or duplicate
    Storage.requireNotTombstoned(indexPath, newVecs, idCol, "id")
    val meta                = readMeta(spark, indexPath)
    val (coarse, subModels) = readModels(spark, indexPath, meta)
    val appended = encode(newVecs, idCol, vecCol, meta, coarse, subModels)
    // append is its own transaction: a crash mid-append leaves a
    // manifest-less index that probes refuse. The new total = prior
    // committed count + the appended rows observed on the write itself.
    Storage.commit(indexPath) {
      val (appObs, nApp) = Storage.observedCount(appended)
      Storage.append(appObs, codesPath(indexPath))
      nOld + nApp()
    }
    appended
  }
}
