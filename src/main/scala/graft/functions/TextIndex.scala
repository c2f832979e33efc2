package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Persisted inverted-index serving — the text-side build-once/probe-many
  * twin of [[AnnIndex]] (r11 verdict's serving discipline): [[build]] writes
  * the three index tables as parquet (postings hive-partitioned by TOKEN HASH
  * BUCKET so a probe prunes to its terms' bucket directories — directory-
  * level data skipping, the 100 TB serving shape), and every probe scores
  * strictly FROM THE PERSISTED TABLES — no corpus scan, no re-tokenization.
  * Every write verb adds the next version's directories and ends in one
  * [[graft.sources.Storage.commit]], whose pointer holds the physical
  * docs-table row count and the LIVE corpus totals `n_docs` and `total_dl`
  * (kept exact by every verb); a probe divides them on the driver for
  * avgdl, and both model scalars enter its plan as literals.
  *
  * The three probes ([[probeBm25]], [[probeBm25Many]], [[probeBm25Stream]])
  * share one scoring path, [[scoredPostings]]: the live (tok, doc_id, sq)
  * rows of their terms, tombstone-corrected, so each serves a tombstoned
  * index as a rebuild without the deleted docs would.
  *
  * The three tables have fixed schemas ([[Schemas]]), declared on every
  * read, so no verb or probe starts a Spark job to re-read a parquet
  * footer; `doc_id` is stored as long whatever the input's integral id
  * type.
  *
  * Scale: a batch probe lists and touches only its |terms| posting BUCKETS,
  * plus a doc-length join keyed on doc_id; the df stats are
  * broadcast-sized. The stream probe, whose terms arrive later, reads every
  * bucket. Appending a document batch is the posting-delta merge proven by
  * `x_inverted_index_incremental`.
  */
object TextIndex {

  import graft.sources.Storage
  import graft.sources.Storage.Version

  /** Okapi BM25 saturation and length-normalization constants (the TREC-3
    * values [[QualityLM.bm25TopK]] defaults to).
    */
  private val K1 = 1.2
  private val B  = 0.75

  /** Postings are hive-partitioned by `bucket = xxhash64(tok) mod 64`, NOT
    * by raw token: per-token directories are only viable on a closed
    * vocabulary — at an open vocabulary the dynamic-partition write becomes
    * a small-file storm (measured at gen100, where ~100k distinct tokens ×
    * 32 write tasks produced 640k+ parquet files and a build that ran 35+
    * minutes before being killed; real postings stores shard by term hash
    * for exactly this reason). A fixed bucket count keeps the directory
    * fan-out constant at any vocabulary while probes still skip directories:
    * `xxhash64` over a literal term constant-folds, so a probe's bucket
    * `isin` is a static partition filter. `tok` rides inside the files as an
    * ordinary string column (which also retires the old all-numeric-vocab
    * partition-type-inference hazard).
    */
  val PostingBuckets = 64

  private def bucketExpr(tok: org.apache.spark.sql.Column) =
    pmod(xxhash64(tok), lit(PostingBuckets.toLong))

  /** Static partition predicate for a probe's term list: each bucket id is
    * a foldable expression over a literal, so Catalyst reduces the `isin`
    * to constants and prunes the non-matching bucket directories at scan
    * planning time.
    */
  private def bucketPred(terms: Seq[String]) =
    col("bucket").isin(terms.map(t => bucketExpr(lit(t))): _*)

  /** The schema of each index table. `bucket` is the postings' int
    * partition column. A declared schema also reads a zero-row partitioned
    * write (a build over no documents, a compact after deleting every doc),
    * which leaves no file to infer one from.
    */
  val Schemas: Map[String, StructType] = Map(
    "postings" -> new StructType().add("tok", StringType).add("doc_id", LongType)
      .add("tf", LongType).add("bucket", IntegerType),
    "docs"     -> new StructType().add("doc_id", LongType).add("dl", LongType),
    "stats"    -> new StructType().add("tok", StringType).add("df", LongType))

  /** One postings directory (its `bucket=` subdirectories), read with its schema. */
  private def postingsAt(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas("postings")).parquet(dir)

  /** Table `name` of version `v`; the postings as the union of their directories. */
  private def table(spark: SparkSession, v: Version, name: String): DataFrame =
    if (name == "postings") v.dirs(name).map(postingsAt(spark, _)).reduce(_ union _)
    else v.read(spark, name, Schemas(name))

  /** The postings of `terms` only. Their bucket ids come from [[bucketExpr]]
    * over a local frame (constant-folded on the driver, no job), and only
    * those `bucket=` directories of each postings directory are listed —
    * all 64 would exceed Spark's parallel-listing threshold of 32 and cost
    * a listing job. A bucket with no directory holds no posting and is
    * skipped. `basePath` keeps `bucket` a partition column, so
    * [[bucketPred]] still prunes statically.
    */
  private def termPostings(spark: SparkSession, v: Version, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val buckets = terms.toDF("tok").select(bucketExpr(col("tok"))).collect().map(_.getLong(0))
      .distinct.sorted.toIndexedSeq
    v.dirs("postings").map { dir =>
      spark.read.schema(Schemas("postings")).option("basePath", dir)
        .parquet(buckets.map(b => s"$dir/bucket=$b").filter(Storage.exists): _*)
    }.reduce(_ union _)
      .filter(bucketPred(terms)) // static bucket-directory pruning
      .filter(col("tok").isin(terms: _*))
  }

  /** Quantized per-(doc, term) BM25 contribution over the `df`, `tf` and `dl`
    * columns and the corpus's `nDocs` and `avgdl`.
    */
  private def bm25Sq(nDocs: Long, avgdl: Double): Column = floor(
    log((lit(nDocs.toDouble) - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0) *
      (col("tf").cast("double") * (K1 + 1.0)) /
      (col("tf").cast("double") + lit(K1) *
        (lit(1.0 - B) + lit(B) * col("dl").cast("double") / lit(avgdl))) *
      1e6 + 0.5
  ).cast("long")

  /** The one scoring path of every probe: `(tok, doc_id, sq)`, each live
    * posting of `terms` (of every term when None) with its quantized BM25
    * contribution. Known terms list only their posting buckets
    * ([[termPostings]]). On a tombstoned index the live postings come from
    * an anti-join on the broadcast tombstone set and each term's df drops
    * by its tombstoned postings, so scores stay bit-equal to a rebuild
    * without the deleted docs. Every table and both corpus scalars come
    * from the version live when the frame is built.
    */
  private def scoredPostings(
      spark: SparkSession, indexPath: String, terms: Option[Seq[String]]): DataFrame = {
    val v        = Storage.committed(indexPath)
    val postAll  = terms.fold(table(spark, v, "postings"))(termPostings(spark, v, _))
    val stats0   = table(spark, v, "stats")
    val statsAll = terms.fold(stats0)(ts => stats0.filter(col("tok").isin(ts: _*)))
    val (postings, stats) = Storage.tombstones(spark, v, "doc_id") match {
      case None => (postAll, statsAll)
      case Some(tomb) =>
        // per-term live df = stored df − tombstoned postings of that term
        val dfCorr = postAll
          .join(broadcast(tomb), Seq("doc_id"), "left_semi")
          .groupBy(col("tok")).agg(count(lit(1)).as("df_dead"))
        (postAll.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
          statsAll.join(dfCorr, Seq("tok"), "left_outer")
            .select(col("tok"), (col("df") - coalesce(col("df_dead"), lit(0L))).as("df")))
    }
    postings
      .join(broadcast(stats), "tok")
      .join(table(spark, v, "docs"), "doc_id")
      .select(col("tok"), col("doc_id"), bm25Sq(v.scalar("n_docs"), avgdl(v)).as("sq"))
  }

  /** The one postings writer of [[build]] and [[append]]: tokenize `docs`,
    * count each (tok, doc_id) pair and write the next version's postings
    * directory, one `bucket=` directory per token-hash bucket.
    * Repartitioning into exactly PostingBuckets partitions gives each bucket
    * one writer task and one file: unclustered, the write emits (tasks ×
    * buckets) files, 2 048 at 32 tasks (guide §6 small-files); without the
    * count, AQE coalesces a tiny exchange to one serial writer. Returns the
    * written directory, read back, so the docs and stats rows derive from
    * the artifact: the text is tokenized once, with no checkpoint.
    */
  private def writePostings(docs: DataFrame, idCol: String, textCol: String, v: Version): DataFrame = {
    v.write(docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketExpr(col("tok")))
      .repartition(PostingBuckets, col("bucket")), "postings", "bucket")
    postingsAt(docs.sparkSession, v.out("postings"))
  }

  /** Write `postings`' (doc_id, dl) rows as the next docs directory; returns
    * their count and total length, observed on the write (no re-count job).
    */
  private def writeDocs(postings: DataFrame, v: Version): (Long, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    v.write(postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("t")), "docs")
    (obs.get("n").asInstanceOf[Long], obs.get("t").asInstanceOf[Long])
  }

  /** `v`'s live corpus totals: doc count and summed doc length. */
  private def totals(v: Version): (Long, Long) = (v.scalar("n_docs"), v.scalar("total_dl"))

  /** `v`'s average doc length: the same sum/count division on every path,
    * 0.0 for an empty corpus (never NaN).
    */
  private[graft] def avgdl(v: Version): Double = {
    val (n, t) = totals(v)
    if (n == 0L) 0.0 else t.toDouble / n.toDouble
  }

  /** `v` carrying the corpus totals `nDocs` and `totalDl`. */
  private def withTotals(v: Version, nDocs: Long, totalDl: Long): Version =
    v.withScalars("n_docs" -> nDocs, "total_dl" -> totalDl)

  /** Tokenize once and write postings/docs/stats as one new version,
    * the same transaction as [[AnnIndex]]; a rebuild drops the prior
    * version's tombstones with the rest of it.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, indexPath: String): Unit = {
    val v     = Storage.head(indexPath)
    val post  = writePostings(docs, idCol, textCol, v)
    val (nDocs, totalDl) = writeDocs(post, v)
    v.write(post.groupBy(col("tok")).agg(count(lit(1)).as("df")), "stats")
    Storage.commit(withTotals(v.rebuilt(nDocs, "postings", "docs", "stats"), nDocs, totalDl))
  }

  /** Delete documents from the persisted index by TOMBSTONE — the lakehouse
    * delete pattern applied to serving: no posting is rewritten; a
    * tombstone table records the deleted ids and the corpus totals subtract
    * their exact integer totals (doc count, total length, computed from the
    * index's own docs table — O(delta)). Probes anti-join the broadcast
    * tombstone set and correct per-term df by counting tombstoned postings
    * for the PROBED terms only, so corrected scores are bit-equal to a
    * rebuild without the deleted docs (pinned in TextIndexSpec): df, n_docs
    * and total_dl subtract exactly, and avgdl re-derives from the same
    * integer division the build path uses. [[compact]] physically drops
    * the tombstoned rows once the tombstone fraction warrants a rewrite.
    */
  def deleteDocs(spark: SparkSession, indexPath: String, docIds: DataFrame): Unit = {
    val v     = Storage.committed(indexPath)
    val (n, t) = totals(v)
    val fresh = Storage.tombstone(v, docIds, "doc_id")
    val dead = table(spark, v, "docs")
      .join(broadcast(fresh), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t")).head()
    // the docs table is untouched, so the physical row count is too
    Storage.commit(withTotals(v.next(v.rows, added = Seq("tombstones")),
      n - dead.getLong(0), t - dead.getLong(1)))
  }

  /** Batched MULTI-query probe — the offline-serving shape (score thousands
    * of queries in one pass): `queries` is a (query_id, tok) frame. Its
    * distinct terms are collected on the driver (no job for a local frame),
    * so the scan lists and reads only their posting buckets, as
    * [[probeBm25]]'s does; the queries then broadcast-join the scored
    * postings, per-(query, doc) scores sum each query's matched terms, and
    * top-k ranks per query. One pass over the matched postings whatever the
    * query count — never a probe loop.
    */
  def probeBm25Many(
      spark: SparkSession, indexPath: String, queries: DataFrame, topK: Int = 10
  ): DataFrame = {
    val qs    = queries.select(col("query_id"), col("tok"))
    val terms = qs.select(col("tok")).collect().map(_.getString(0)).distinct.toSeq
    scoredPostings(spark, indexPath, Some(terms))
      .join(broadcast(qs), "tok")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sq")).as("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(desc("score"), col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rank").cast("long").as("rank"), col("score"))
  }

  /** STREAMING BM25 probe — the online-serving face of [[probeBm25Many]]
    * (parity with [[AnnIndex.probeIvfPqStream]]): a stream of
    * (query_id, tok, ts) rows stream-static joins the scored postings of
    * every term (`sq` is query-independent; the terms are not known up
    * front, so every bucket is read), with the tombstones in place when the
    * query starts. A watermarked event-time window collects each query's
    * matched (doc, tok, sq) set — `collect_set`, so a term replayed within
    * the window never double-counts — and an in-row dedup-sum-rank keeps the
    * top-k (score desc, doc_id asc — the batch tie rule). Closed windows
    * equal [[probeBm25Many]] for the same query set (TextIndexSpec pins it
    * on a fresh and on a tombstoned index). State per in-flight query is its
    * matched candidate set, bounded by the watermark.
    */
  def probeBm25Stream(
      spark: SparkSession, indexPath: String, queryStream: DataFrame,
      qidCol: String, tokCol: String, tsCol: String, topK: Int = 10,
      watermark: String = "10 minutes", windowLen: String = "1 hour"
  ): DataFrame = {
    val static = scoredPostings(spark, indexPath, None)
    val routed = queryStream
      .withWatermark(tsCol, watermark)
      .select(col(qidCol).cast("long").as("query_id"), col(tokCol).as("tok"), col(tsCol))
    routed
      .join(static, Seq("tok")) // stream-static inner: matched postings only
      .groupBy(window(col(tsCol), windowLen), col("query_id"))
      .agg(collect_set(struct(col("doc_id"), col("tok"), col("sq"))).as("cands"))
      .select(col("window"), col("query_id"),
        transform(
          slice(
            array_sort(transform(
              array_distinct(transform(col("cands"), c => c.getField("doc_id"))),
              d => struct(
                (-aggregate(
                  filter(col("cands"), c => c.getField("doc_id") === d),
                  lit(0L), (acc, c) => acc + c.getField("sq"))).as("nscore"),
                d.as("doc_id")))),
            1, topK),
          t => struct(t.getField("doc_id").as("doc_id"),
            (-t.getField("nscore")).as("score"))).as("topk"))
  }

  /** Append a document batch into the persisted index — the posting-delta
    * merge at ARTIFACT level (the `x_inverted_index_incremental` math
    * applied to the serving tables): the batch's postings and doc lengths
    * are a new directory of each (bucket partitioning routes each delta row
    * to its token-hash directory), per-token df merges old⊕delta into a
    * new vocab-sized stats directory, and the corpus totals add exactly — avgdl
    * re-derives from the SAME integer sum/count division as the build path,
    * so append-then-probe is bit-equal to rebuild-then-probe (pinned in
    * TextIndexSpec). Cost is O(delta + vocabulary), never a corpus
    * re-tokenize. One [[graft.sources.Storage.commit]]. An id already in the
    * docs table, live or tombstoned, is refused
    * ([[graft.sources.Storage.requireNewIds]]).
    */
  def append(docs: DataFrame, idCol: String, textCol: String, indexPath: String): Unit = {
    val spark = docs.sparkSession
    val v     = Storage.committed(indexPath)
    val (n, t) = totals(v)
    Storage.requireNewIds(indexPath, table(spark, v, "docs"), "doc_id", docs, idCol)
    val newPost = writePostings(docs, idCol, textCol, v)
    val (deltaN, deltaDl) = writeDocs(newPost, v)
    // vocab-sized merge into a new stats directory (the live one it reads is
    // never overwritten, so nothing needs pinning): each delta posting adds
    // 1 to its token's df, summed with the old df in one exchange
    v.write(table(spark, v, "stats")
      .union(newPost.select(col("tok"), lit(1L).as("df")))
      .groupBy(col("tok")).agg(sum(col("df")).as("df")), "stats")
    Storage.commit(withTotals(v.next(v.rows + deltaN,
      added = Seq("postings", "docs"), replaced = Seq("stats")), n + deltaN, t + deltaDl))
  }

  /** COMPACT a tombstoned index: write the surviving postings and doc-length
    * rows once, as one merged directory of each, derive the vocab-sized df
    * table from the written postings (as [[build]] does), and commit a
    * version without tombstones (the pointer's corpus totals are already
    * the live ones and carry over) — after which every probe pays zero anti-join/correction cost
    * and deleted ids may be re-appended. Until the commit the tombstoned
    * version keeps serving.
    *
    * Returns false (no work) when [[graft.sources.Storage.compactable]]'s
    * gate says the tombstones are absent or below `minFraction` of the
    * committed docs: the rewrite is a full pass over the postings, amortized
    * across every subsequent probe.
    *
    * Scale: one anti-join scan of the postings, then the build's df count
    * over the written directory. TextIndexSpec pins compact-then-probe ==
    * rebuild-without-deleted bit-exact.
    */
  def compact(spark: SparkSession, indexPath: String, minFraction: Double = 0.0): Boolean = {
    val v = Storage.committed(indexPath)
    Storage.compactable(spark, v, "doc_id", minFraction) match {
      case None => false
      case Some(tomb) =>
        // no broadcast hints: compaction is where the FULL accumulated
        // tombstone set is joined — a long-deferred compaction can exceed the
        // broadcast limit; the planner auto-broadcasts when it fits (r14 advice).
        // NOTE on file fan-out: the write inherits the postings SCAN's task
        // count, which the split packer keeps near the (already bucket-
        // clustered) input's file count — so the output stays ~one file per
        // bucket without an explicit exchange. An added
        // repartition(PostingBuckets, bucket) was A/B'd here and measured ~1.4 s
        // SLOWER at quiet steal (extra exchange + 64 forced writer waves for a
        // layout the scan already provides); on a cluster where the tombstoned
        // scan fans out to many tasks, reintroduce the clustering.
        v.write(table(spark, v, "postings").join(tomb, Seq("doc_id"), "left_anti"),
          "postings", "bucket")
        v.write(postingsAt(spark, v.out("postings")).groupBy(col("tok"))
          .agg(count(lit(1)).as("df")), "stats")
        val (liveDocs, nLive) = Storage.observedCount(
          table(spark, v, "docs").join(tomb, Seq("doc_id"), "left_anti"))
        v.write(liveDocs, "docs")
        Storage.commit(v.next(nLive(),
          replaced = Seq("postings", "docs", "stats"), dropped = Seq("tombstones")))
        true
    }
  }

  /** Okapi BM25 top-k over the saved index (same TREC-3 formulation and
    * 1e-6 per-(doc,term) quantization as [[QualityLM.bm25TopK]] — the spec
    * pins probe == direct-corpus ranking row-for-row), tombstone-corrected
    * through [[scoredPostings]].
    */
  def probeBm25(
      spark: SparkSession, indexPath: String, terms: Seq[String], topK: Int = 20
  ): DataFrame =
    scoredPostings(spark, indexPath, Some(terms))
      .groupBy(col("doc_id"))
      .agg(sum(col("sq")).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(topK)
}
