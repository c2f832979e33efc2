package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import graft.functions.Layout.LineageOps

/** Persisted inverted-index serving — the text-side build-once/probe-many
  * twin of [[AnnIndex]] (r11 verdict's serving discipline): [[build]] writes
  * the four index tables as parquet (postings hive-partitioned by TOKEN HASH
  * BUCKET so a probe prunes to its terms' bucket directories — directory-
  * level data skipping, the 100 TB serving shape), and every probe scores
  * strictly FROM THE PERSISTED TABLES — no corpus scan, no re-tokenization,
  * model scalars (n_docs, avgdl) read from the one-row corpus table of LIVE
  * totals (maintained by every write verb) so every probe — and the DuckDB
  * oracle replaying it over `read_parquet` of the same artifacts — sees
  * bit-equal global statistics. Every write verb is one
  * [[graft.sources.Storage.commit]] transaction; its manifest holds the
  * physical docs-table row count.
  *
  * The three probes ([[probeBm25]], [[probeBm25Many]], [[probeBm25Stream]])
  * share one scoring path, [[scoredPostings]]: the live (tok, doc_id, sq)
  * rows of their terms, tombstone-corrected, so each serves a tombstoned
  * index as a rebuild without the deleted docs would.
  *
  * The four tables have fixed schemas ([[Schemas]]), declared on every
  * read, so no verb or probe starts a Spark job to re-read a parquet
  * footer; `doc_id` is stored as long whatever the input's integral id
  * type. Tombstones are read through the memoized
  * [[graft.sources.Storage.get]].
  *
  * Scale: a batch probe lists and touches only its |terms| posting BUCKETS,
  * plus a doc-length join keyed on doc_id; df/corpus stats are
  * broadcast-sized. The stream probe, whose terms arrive later, reads every
  * bucket. Appending a document batch is the posting-delta merge proven by
  * `x_inverted_index_incremental`.
  */
object TextIndex {

  import graft.sources.Storage

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
    "stats"    -> new StructType().add("tok", StringType).add("df", LongType),
    "corpus"   -> new StructType().add("n_docs", LongType).add("total_dl", LongType)
      .add("avgdl", DoubleType))

  /** Index table `name` (a key of [[Schemas]]), read with its schema. */
  private def table(spark: SparkSession, indexPath: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$indexPath/$name")

  /** The postings of `terms` only. Their bucket ids come from [[bucketExpr]]
    * over a local frame (constant-folded on the driver, no job), and only
    * those `bucket=` directories are listed — all 64 would exceed Spark's
    * parallel-listing threshold of 32 and cost a listing job. A bucket with
    * no directory holds no posting and is skipped. `basePath` keeps
    * `bucket` a partition column, so [[bucketPred]] still prunes
    * statically.
    */
  private def termPostings(spark: SparkSession, indexPath: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val base = s"$indexPath/postings"
    val dirs = terms.toDF("tok").select(bucketExpr(col("tok"))).collect().map(_.getLong(0))
      .distinct.sorted.map(b => s"$base/bucket=$b").filter(Storage.exists).toIndexedSeq
    spark.read.schema(Schemas("postings")).option("basePath", base).parquet(dirs: _*)
      .filter(bucketPred(terms)) // static bucket-directory pruning
      .filter(col("tok").isin(terms: _*))
  }

  /** Quantized per-(doc, term) BM25 contribution over the `df`, `tf` and `dl`
    * columns and the corpus row's `n_docs` and `avgdl`.
    */
  private def bm25Sq: Column = floor(
    log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0) *
      (col("tf").cast("double") * (K1 + 1.0)) /
      (col("tf").cast("double") + lit(K1) *
        (lit(1.0 - B) + lit(B) * col("dl").cast("double") / col("avgdl"))) *
      1e6 + 0.5
  ).cast("long")

  /** The one scoring path of every probe: `(tok, doc_id, sq)`, each live
    * posting of `terms` (of every term when None) with its quantized BM25
    * contribution. Known terms list only their posting buckets
    * ([[termPostings]]). On a tombstoned index the live postings come from
    * an anti-join on the broadcast tombstone set and each term's df drops
    * by its tombstoned postings, so scores stay bit-equal to a rebuild
    * without the deleted docs. The tombstones are those in place when the
    * frame is built.
    */
  private def scoredPostings(
      spark: SparkSession, indexPath: String, terms: Option[Seq[String]]): DataFrame = {
    Storage.requireCommitted(indexPath)
    val postAll  = terms.fold(table(spark, indexPath, "postings"))(termPostings(spark, indexPath, _))
    val stats0   = table(spark, indexPath, "stats")
    val statsAll = terms.fold(stats0)(ts => stats0.filter(col("tok").isin(ts: _*)))
    val (postings, stats) = Storage.tombstones(spark, indexPath) match {
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
      .join(table(spark, indexPath, "docs"), "doc_id")
      .crossJoin(broadcast(table(spark, indexPath, "corpus"))) // one model row
      .select(col("tok"), col("doc_id"), bm25Sq.as("sq"))
  }

  /** The one postings writer of [[build]] and [[append]] (a `delta`):
    * tokenize `docs`, count each (tok, doc_id) pair and write the rows to
    * their token-hash bucket directories. Repartitioning into exactly
    * PostingBuckets partitions gives each bucket one writer task and one
    * file: unclustered, the write emits (tasks × buckets) files, 2 048 at 32
    * tasks (guide §6 small-files); without the count, AQE coalesces a tiny
    * exchange to one serial writer. Returns the rows, pinned for a delta,
    * whose docs and stats deltas derive from them.
    */
  private def writePostings(
      docs: DataFrame, idCol: String, textCol: String, indexPath: String, delta: Boolean
  ): DataFrame = {
    val grouped = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val postings = if (delta) grouped.truncateLineage() else grouped
    postings.withColumn("bucket", bucketExpr(col("tok")))
      .repartition(PostingBuckets, col("bucket"))
      .write.mode(if (delta) "append" else "overwrite").partitionBy("bucket")
      .parquet(s"$indexPath/postings")
    postings
  }

  /** The one corpus-row writer: exact integer totals, and avgdl from the same
    * sum/count division on every path, 0.0 for an empty corpus (never NaN).
    */
  private def writeCorpus(
      spark: SparkSession, indexPath: String, nDocs: Long, totalDl: Long): Unit = {
    import spark.implicits._
    Storage.replace(
      Seq((nDocs, totalDl, if (nDocs == 0L) 0.0 else totalDl.toDouble / nDocs.toDouble))
        .toDF("n_docs", "total_dl", "avgdl"),
      s"$indexPath/corpus")
  }

  private def readCorpus(spark: SparkSession, indexPath: String): (Long, Long) = {
    val r = table(spark, indexPath, "corpus").select(col("n_docs"), col("total_dl")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Tokenize once, write postings/docs/stats/corpus in one commit, so
    * probes refuse a torn build — the same transaction as [[AnnIndex]].
    */
  def build(
      docs: DataFrame, idCol: String, textCol: String, indexPath: String
  ): Unit = Storage.commit(indexPath) {
    val spark = docs.sparkSession
    // a rebuild resets delete state — stale tombstones from a prior
    // generation would corrupt the fresh index's corrections
    Storage.clearTombstones(indexPath)
    // Tokenize ONCE: docs/stats/corpus derive from the postings ARTIFACT
    // (read-your-writes), not from the tokenization lineage — the old build
    // re-ran the explode+groupBy for each derived table (4 corpus-text
    // passes per build; guide §1.2's "remove unnecessary passes"). Routing
    // the derivations through the written parquet truncates lineage via the
    // artifact itself — no checkpoint, cluster-safe, and the derived tables
    // are byte-identical (same aggregation over the same rows).
    writePostings(docs, idCol, textCol, indexPath, delta = false)
    val post = table(spark, indexPath, "postings")
    // corpus totals ride the docs write as an Observation (exact integer
    // count/sum merged from the write's own tasks) — the corpus row and the
    // committed row count then come from these totals with zero extra scans,
    // where the old path re-read the docs table twice (corpus agg + manifest
    // count). Same values by definition: the observed aggregates run over
    // exactly the rows the write persists.
    val obs = new org.apache.spark.sql.Observation()
    post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .observe(obs, count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .write.mode("overwrite").parquet(s"$indexPath/docs")
    val nDocs   = obs.get("n_docs").asInstanceOf[Long]
    val totalDl = obs.get("total_dl").asInstanceOf[Long]
    post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$indexPath/stats")
    writeCorpus(spark, indexPath, nDocs, totalDl)
    nDocs
  }

  /** Delete documents from the persisted index by TOMBSTONE — the lakehouse
    * delete pattern applied to serving: no posting is rewritten; a
    * tombstone table records the deleted ids and the corpus row subtracts
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
    val nPhysical = Storage.committedRows(indexPath) // the docs table is untouched
    Storage.commit(indexPath) {
      val fresh = Storage.tombstone(indexPath, docIds, "doc_id")
      val dead = table(spark, indexPath, "docs")
        .join(broadcast(fresh), Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t")).head()
      val (n, t) = readCorpus(spark, indexPath)
      writeCorpus(spark, indexPath, n - dead.getLong(0), t - dead.getLong(1))
      nPhysical
    }
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
    * applied to the serving tables): new postings/doc-lengths append in
    * place (bucket partitioning routes each delta row to its token-hash
    * directory), per-token df merges old⊕delta on the vocab-sized stats
    * frame, and corpus totals add exactly — avgdl re-derives from the SAME
    * integer sum/count division as the build path, so append-then-probe is
    * bit-equal to rebuild-then-probe (pinned in TextIndexSpec). Cost is
    * O(delta + vocabulary), never a corpus re-tokenize. Runs as its own
    * [[graft.sources.Storage.commit]]. An id already in the docs table, live
    * or tombstoned, is refused ([[graft.sources.Storage.requireNewIds]]).
    */
  def append(docs: DataFrame, idCol: String, textCol: String, indexPath: String): Unit = {
    val spark = docs.sparkSession
    val nOld  = Storage.committedRows(indexPath)
    Storage.requireNewIds(indexPath, table(spark, indexPath, "docs"), "doc_id", docs, idCol)
    Storage.commit(indexPath) {
      val newPost = writePostings(docs, idCol, textCol, indexPath, delta = true)
      // delta totals ride the docs append as an Observation — drops the
      // separate newDl.agg job the old path ran (same exact integers: the
      // observed count/sum cover exactly the appended rows).
      val dObs = new org.apache.spark.sql.Observation()
      val newDl = newPost.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .truncateLineage()
      newDl.observe(dObs, count(lit(1)).as("n"), sum(col("dl")).as("t"))
        .write.mode("append").parquet(s"$indexPath/docs")
      // vocab-sized merge; checkpoint before overwriting the table it read
      val mergedStats = table(spark, indexPath, "stats")
        .select(col("tok"), col("df").as("df_old"))
        .join(newPost.groupBy(col("tok")).agg(count(lit(1)).as("df_new")), Seq("tok"), "full_outer")
        .select(col("tok"),
          (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_new"), lit(0L))).as("df"))
        .truncateLineage()
      Storage.replace(mergedStats, s"$indexPath/stats")
      val deltaN = dObs.get("n").asInstanceOf[Long]
      val (n, t) = readCorpus(spark, indexPath)
      writeCorpus(spark, indexPath, n + deltaN, t + dObs.get("t").asInstanceOf[Long])
      nOld + deltaN
    }
  }

  /** COMPACT a tombstoned index: physically drop every deleted doc's
    * postings and doc-length rows, recompute the vocab-sized df table from
    * the surviving postings, and clear the tombstone table (the corpus row
    * already holds the live totals) — after which every probe pays zero
    * anti-join/correction cost and deleted ids may be re-appended. The
    * [[graft.sources.Storage.rewrite]] rename-aside swap rewrites each table,
    * and the whole compaction is one [[graft.sources.Storage.commit]], so a
    * crash mid-compaction leaves a manifest-less index that probes refuse
    * rather than a torn mix of compacted and stale tables.
    *
    * Returns false (no work) when [[graft.sources.Storage.compactable]]'s
    * gate says the tombstones are absent or below `minFraction` of the
    * committed docs: the rewrite is a full pass over the postings, amortized
    * across every subsequent probe.
    *
    * Scale: postings rewrite is one partition-parallel anti-join scan
    * (broadcast tombstones), df recompute is the same partial→final count
    * the build runs, over that same anti-joined scan. TextIndexSpec pins
    * compact-then-probe == rebuild-without-deleted bit-exact.
    */
  def compact(spark: SparkSession, indexPath: String, minFraction: Double = 0.0): Boolean =
    Storage.compactable(spark, indexPath, minFraction) match {
      case None => false
      case Some(tomb) =>
        Storage.commit(indexPath) {
          // no broadcast hints: compaction is where the FULL accumulated
          // tombstone set is joined — a long-deferred compaction can exceed the
          // broadcast limit; the planner auto-broadcasts when it fits (r14 advice).
          // NOTE on file fan-out: the rewrite inherits the postings SCAN's task
          // count, which the split packer keeps near the (already bucket-
          // clustered) input's file count — so the output stays ~one file per
          // bucket without an explicit exchange. An added
          // repartition(PostingBuckets, bucket) was A/B'd here and measured ~1.4 s
          // SLOWER at quiet steal (extra exchange + 64 forced writer waves for a
          // layout the scan already provides); on a cluster where the tombstoned
          // scan fans out to many tasks, reintroduce the clustering.
          val survivors = table(spark, indexPath, "postings").join(tomb, Seq("doc_id"), "left_anti")
          // df from the survivors BEFORE the postings swap: `survivors`
          // scans the files the swap deletes
          Storage.rewrite(
            survivors.groupBy(col("tok")).agg(count(lit(1)).as("df")), s"$indexPath/stats")
          Storage.rewrite(survivors, s"$indexPath/postings", partitionCols = Seq("bucket"))
          val (liveDocs, nLive) = Storage.observedCount(
            table(spark, indexPath, "docs").join(tomb, Seq("doc_id"), "left_anti"))
          Storage.rewrite(liveDocs, s"$indexPath/docs")
          Storage.clearTombstones(indexPath)
          nLive()
        }
        true
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
