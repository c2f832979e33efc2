package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructType}

import graft.sources.Storage
import graft.sources.Storage.Version
import graft.functions.Layout.LineageOps

/** Persisted IVF-PQ index — the build-once / probe-many serving shape, and
  * the ONE IVF-PQ pipeline of graft: train, encode, reconstruct, cell
  * ranking and ADC scoring live here, and the in-query searches
  * ([[AnnSearch.ivfPqTopK]], and [[AnnSearch.pqTopK]] as its one-zero-cell
  * case) call the same code without persisting. Against 100 TB of
  * embeddings the coarse k-means + sub-codebook training run ONCE in an
  * index-build job, the encoded corpus (m codes per vector instead of dim
  * floats) persists as parquet, and every query-time probe reads only the
  * model tables (k·dim longs — broadcast scale) plus the probed cells'
  * code rows.
  *
  * Artifact tables under `indexPath`, read with their [[Schemas]]:
  * `centroids` (coarse cells), `codebooks` (per-subvector PQ codebooks over
  * cell RESIDUALS) and `codes` (the encoded corpus, m code labels per
  * vector; one directory per build, append or compact). Every write verb
  * adds the next version's directories and ends in one [[Storage.commit]],
  * whose pointer holds the physical codes row count and the model's `dim`
  * and `m`, the two scalars a probe or an append reads.
  *
  * All model numbers are the micro-quantized BIGINTs of
  * [[ClusterOps.kMeansModel]], so persistence is exact: longs round-trip
  * parquet bit-identically, and probe-after-reload equals build-and-probe
  * (AnnIndexSpec pins it against [[AnnSearch.ivfPqTopK]] row-for-row). The
  * same integer exactness is what lets the DuckDB oracle replay a probe by
  * `read_parquet`-ing the persisted tables directly.
  */
object AnnIndex {

  final case class IvfPqMeta(dim: Int, nCells: Int, m: Int, ksub: Int, iters: Int) {
    require(m > 0 && dim % m == 0, s"m must divide dim, got dim=$dim m=$m")
  }

  /** A trained model: coarse cells, and per subvector a codebook over the
    * `dsub`-wide slice of the cell residuals; both cid-ascending.
    */
  private[functions] final case class IvfPqModel(
      dsub: Int, coarse: Array[(Long, Array[Long])], subs: Seq[Array[(Long, Array[Long])]])

  private val LongArray = ArrayType(LongType)

  /** The schema of each index table. */
  val Schemas: Map[String, StructType] = Map(
    "centroids" -> new StructType().add("cell", LongType).add("cv", LongArray),
    "codebooks" -> new StructType().add("sub", IntegerType).add("code", LongType)
      .add("cv", LongArray),
    "codes"     -> new StructType().add("id", LongType).add("cell", LongType)
      .add("codes", LongArray))

  private def table(spark: SparkSession, v: Version, name: String): DataFrame =
    v.read(spark, name, Schemas(name))

  private def asMap(model: Array[(Long, Array[Long])]): Column =
    typedlit(model.map { case (cid, cv) => cid -> cv.toSeq }.toMap)

  /** (id, cell, __rv): each vector's nearest coarse cell by integer
    * argmin-L2² and its residual from that cell's centroid (long
    * subtraction, so the model stays in exact arithmetic). One map-side
    * projection; the `zip_with` runs once per vector, never inside the
    * |queries|×|candidates| loop.
    */
  private def residuals(
      vecs: DataFrame, idCol: String, vecCol: String, coarse: Array[(Long, Array[Long])]
  ): DataFrame =
    vecs
      .select(col(idCol).cast("long").as("id"), ClusterOps.quantize(col(vecCol)).as("__qv"))
      .withColumn("cell",
        NativeFns.nearest_centroid_l2(col("__qv"), coarse.map(_._1), coarse.map(_._2))
          .getField("cluster"))
      .select(col("id"), col("cell"),
        zip_with(col("__qv"), element_at(asMap(coarse), col("cell")), (a, b) => a - b).as("__rv"))

  /** Encode residual rows against a FROZEN model: each residual slice's
    * nearest sub-codebook entry → (id, cell, codes). One map-side
    * projection — the shared kernel of [[train]] (over the training corpus)
    * and [[appendIvfPq]] (over new rows, no retrain).
    */
  private def encode(res: DataFrame, model: IvfPqModel): DataFrame = {
    val codeCols = model.subs.zipWithIndex.map { case (mod, s) =>
      NativeFns.nearest_centroid_l2(
        slice(col("__rv"), s * model.dsub + 1, model.dsub), mod.map(_._1), mod.map(_._2))
        .getField("cluster")
    }
    res.select(col("id"), col("cell"), array(codeCols: _*).as("codes"))
  }

  /** Train the residual sub-codebooks of `corpus` under a given coarse
    * model — all m in one job per iteration
    * ([[ClusterOps.kMeansSubModelsQuantized]]) — and encode the corpus with
    * them. Returns the model and the (id, cell, codes) frame.
    */
  private def train(
      corpus: DataFrame, idCol: String, vecCol: String,
      meta: IvfPqMeta, coarse: Array[(Long, Array[Long])]
  ): (IvfPqModel, DataFrame) = {
    val dsub = meta.dim / meta.m
    // localCheckpoint: the fused sub-model training rescans this frame
    // (iters+1 actions) and the encode reads it once more — without
    // truncation the coarse assignment and residual pass would re-run each
    // time (the lineage discipline GraphOps applies per round).
    val res = residuals(corpus, idCol, vecCol, coarse).truncateLineage()
    val subs = ClusterOps.kMeansSubModelsQuantized(
      res.select(col("id").as("__id"), col("__rv")), meta.m, dsub, meta.ksub, meta.iters)
    val model = IvfPqModel(dsub, coarse, subs)
    (model, encode(res, model))
  }

  /** (neighbor_id, cell, __recon): each code row reconstructed as its cell
    * centroid plus its sub-codewords (literal map lookups from the model).
    */
  private def reconstruct(codes: DataFrame, model: IvfPqModel): DataFrame = {
    val words = concat(model.subs.zipWithIndex.map { case (mod, s) =>
      element_at(asMap(mod), element_at(col("codes"), s + 1))
    }: _*)
    codes.select(col("id").as("neighbor_id"), col("cell"),
      zip_with(element_at(asMap(model.coarse), col("cell")), words, (a, b) => a + b).as("__recon"))
  }

  /** Each row of `q` (keyed by `query_id`) once per its `nProbe` nearest
    * cells of `coarse`, with a `cell` column: integer L2² of the
    * micro-quantized `qvCol` in the `l2_dist2` kernel, ties by
    * (dist, cell). The query side is broadcast-small, so this is a cross
    * join against the k-row model frame plus a per-query rank.
    */
  private[functions] def nearestCells(
      q: DataFrame, qvCol: String, coarse: Array[(Long, Array[Long])], nProbe: Int
  ): DataFrame = {
    val cells = q.sparkSession
      .createDataFrame(coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) })
      .toDF("cell", "__cv")
    val w = Window.partitionBy(col("query_id")).orderBy(col("__cd"), col("cell"))
    q.crossJoin(broadcast(cells))
      .withColumn("__cd", NativeFns.l2_dist2(col(qvCol), col("__cv")))
      .withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= nProbe)
      .drop("__cv", "__cd", "__pr")
  }

  /** ADC top-k: rank each query's nearest `nProbe` cells, reconstruct only
    * those cells' code rows, score squared-L2 against the query in the
    * `l2_dist2` kernel, keep rank ≤ k on (adc_dist2, neighbor_id).
    * Self-matches excluded.
    */
  private def score(
      codes: DataFrame, model: IvfPqModel, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int, k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      ClusterOps.quantize(col(vecCol)).as("__qqv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_dist2"), col("neighbor_id"))
    reconstruct(codes, model)
      .join(broadcast(nearestCells(q, "__qqv", model.coarse, nProbe)), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        NativeFns.l2_dist2(col("__recon"), col("__qqv")).as("adc_dist2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The in-query form: train on `corpus` under `coarse`, encode it and
    * score `queries` without persisting — the steps of [[buildIvfPq]] then
    * [[probeIvfPq]], so a probe of a persisted index equals it row for row.
    */
  private[functions] def topK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      meta: IvfPqMeta, coarse: Array[(Long, Array[Long])], nProbe: Int, k: Int
  ): DataFrame = {
    val (model, codes) = train(corpus, idCol, vecCol, meta, coarse)
    score(codes, model, queries, idCol, vecCol, nProbe, k)
  }

  /** Train coarse centroids + residual sub-codebooks on `corpus`, encode it,
    * and persist the three artifact tables under `indexPath` (replacing any
    * prior index there).
    */
  def buildIvfPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, nCells: Int, m: Int, ksub: Int, iters: Int,
      indexPath: String
  ): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val meta = IvfPqMeta(dim, nCells, m, ksub, iters)
    val v    = Storage.head(indexPath)
    val (model, codes) = train(corpus, idCol, vecCol, meta,
      ClusterOps.kMeansModel(corpus, idCol, vecCol, nCells, iters))
    v.write(model.coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("cell", "cv"),
      "centroids")
    v.write(model.subs.zipWithIndex.flatMap { case (mod, s) =>
      mod.map { case (code, cv) => (s, code, cv.toSeq) }
    }.toDF("sub", "code", "cv"), "codebooks")
    val (codesObs, nCodes) = Storage.observedCount(codes)
    v.write(codesObs, "codes")
    // a rebuild drops the prior version's tombstones with the rest of it
    Storage.commit(v.rebuilt(nCodes(), "centroids", "codebooks", "codes")
      .withScalars("dim" -> dim.toLong, "m" -> m.toLong))
  }

  private def readModel(spark: SparkSession, v: Version): IvfPqModel = {
    val dim = v.scalar("dim").toInt
    val m   = v.scalar("m").toInt
    val coarse = table(spark, v, "centroids")
      .collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Seq[Long]]("cv").toArray))
      .sortBy(_._1)
    val cbRows = table(spark, v, "codebooks")
      .collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Long]("code"), r.getAs[Seq[Long]]("cv").toArray))
    val subs = (0 until m).map { s =>
      cbRows.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1)
    }
    IvfPqModel(dim / m, coarse, subs)
  }

  /** Tombstone-delete vectors from a persisted index: ADC scores carry no
    * corpus statistics, so deletion is PURE candidate filtering — the
    * tombstone set anti-joins the codes read inside [[probeIvfPq]], making
    * probe-after-delete trivially equal to rebuild-without-deleted (spec-
    * pinned). One [[Storage.commit]], like append.
    */
  def deleteVecs(spark: SparkSession, indexPath: String, vecIds: DataFrame): Unit = {
    val v = Storage.committed(indexPath)
    Storage.tombstone(v, vecIds, "id")
    // the codes table is untouched, so the physical row count is too
    Storage.commit(v.next(v.rows, added = Seq("tombstones")))
  }

  private def liveCodes(spark: SparkSession, v: Version): DataFrame = {
    val codes = table(spark, v, "codes")
    Storage.tombstones(spark, v, "id")
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
    val v = Storage.committed(indexPath)
    score(liveCodes(spark, v), readModel(spark, v), queries, idCol, vecCol, nProbe, k)
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
    val v     = Storage.committed(indexPath)
    val model = readModel(spark, v)
    // NO broadcast hint on the codes side: a serving index is exactly the
    // table that outgrows the driver. The stream-static join shuffles (or
    // size-auto-broadcasts a genuinely small index) on `cell` — planner's
    // choice, never an unconditional full-index broadcast.
    val index = reconstruct(liveCodes(spark, v), model)
    // row-local nearest-nProbe cells: (dist2, cell) structs over the literal
    // centroid table, in-row sort, slice — the window-free routing
    val cellArr = typedlit(model.coarse.toSeq.map { case (cid, cv) => (cid, cv.toSeq) })
    val routed = queryStream
      .withWatermark(tsCol, watermark)
      .select(col(idCol).cast("long").as("query_id"), ClusterOps.quantize(col(vecCol)).as("__qqv"),
        col(tsCol))
      .withColumn("__cells",
        slice(
          array_sort(transform(cellArr, c =>
            struct(NativeFns.l2_dist2(col("__qqv"), c.getField("_2")).as("d2"),
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

  /** COMPACT a tombstoned index: write the live code rows once, as one
    * merged codes directory, and commit a version without tombstones —
    * deletion is pure candidate filtering (ADC carries no corpus
    * statistics), so compaction is ONE anti-join pass over the codes; the
    * model tables are untouched. Until the commit the tombstoned version
    * keeps serving. After compaction probes pay no anti-join and previously
    * deleted ids may be re-appended.
    *
    * Returns false when [[Storage.compactable]]'s gate finds nothing to
    * compact or the tombstones below `minFraction` of the committed codes
    * rows (the rewrite is a full codes pass — gate it on delete volume).
    */
  def compactIvfPq(spark: SparkSession, indexPath: String, minFraction: Double = 0.0): Boolean = {
    val v = Storage.committed(indexPath)
    Storage.compactable(spark, v, "id", minFraction) match {
      case None => false
      case Some(tomb) =>
        val (liveObs, nLive) = Storage.observedCount(
          // no broadcast hint: tombstones accumulate until exactly this
          // moment, so a long-deferred compaction may hold far more than a
          // broadcastable side — let the planner size the join (r14 advice,
          // same class as the probeIvfPqStream codes broadcast removed in r13).
          table(spark, v, "codes").join(tomb, Seq("id"), "left_anti"))
        v.write(liveObs, "codes")
        Storage.commit(v.next(nLive(), replaced = Seq("codes"), dropped = Seq("tombstones")))
        true
    }
  }

  /** Incremental maintenance: encode `newVecs` against the FROZEN persisted
    * codebooks (no retrain — the FAISS `add` contract) and write their code
    * rows as a new codes directory. Returns the appended rows so callers
    * (and the oracle) can verify the encode row-level against the saved
    * model tables. Cost is one map-side projection over the NEW rows only —
    * the existing index is untouched, which is the whole point at 100 TB:
    * ingest appends, periodic rebuilds re-center drifted codebooks. An id
    * already in the codes table, live or tombstoned, is refused
    * ([[Storage.requireNewIds]]).
    */
  def appendIvfPq(
      spark: SparkSession, indexPath: String, newVecs: DataFrame,
      idCol: String, vecCol: String
  ): DataFrame = {
    val v = Storage.committed(indexPath)
    Storage.requireNewIds(indexPath, table(spark, v, "codes"), "id", newVecs, idCol)
    val model    = readModel(spark, v)
    val appended = encode(residuals(newVecs, idCol, vecCol, model.coarse), model)
    // the new total = prior committed count + the appended rows observed
    // on the write itself
    val (appObs, nApp) = Storage.observedCount(appended)
    v.write(appObs, "codes")
    Storage.commit(v.next(v.rows + nApp(), added = Seq("codes")))
    appended
  }
}
