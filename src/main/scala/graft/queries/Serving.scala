package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{AnnIndex, TextAnalysis, TextIndex}

/** Round-12 family: index SERVING — the build-once/probe-many and
  * incremental-maintenance shapes that turn the in-query ANN/search
  * operators into deployable index infrastructure. The IVF-PQ artifacts
  * persist as parquet under /tmp/graft_index (the [[graft.sources.Storage]]
  * facade), and the oracles `read_parquet` those SAME artifact tables — the
  * probe math is verified against the index a user would actually serve
  * from, not a re-derivation.
  */
object Serving {

  private val ProbeIdx  = "/tmp/graft_index/ivfpq_main"
  private val AppendIdx = "/tmp/graft_index/ivfpq_app"

  /** Probe of a PREVIOUSLY WRITTEN IVF-PQ index ([[AnnIndex.probeIvfPq]]):
    * the query first runs the build job (train coarse + sub-codebooks,
    * encode, persist — replacing any prior artifact so the on-disk index
    * always matches this scale factor), then probes strictly FROM THE
    * PERSISTED TABLES — the probe plan reads centroids/codebooks/codes
    * parquet, never the training lineage. AnnIndexSpec pins
    * probe-after-reload == [[graft.functions.AnnSearch.ivfPqTopK]]
    * row-for-row; the oracle replays the probe (cell ranking, codebook
    * reconstruction, ADC scoring, top-k) over `read_parquet` of the same
    * artifacts.
    *
    * Scale: this is THE 100 TB serving shape — training cost amortizes over
    * every query, probes touch nProbe/nCells of the codes table, and the
    * model tables are broadcast-sized.
    */
  val annIndexProbe = Q(
    "x_ann_index_probe",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = ProbeIdx)
      AnnIndex.probeIvfPq(s, ProbeIdx, embs.filter(col("vec_id") < 10),
        "vec_id", "embedding", nProbe = 2, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("adc_dist2"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH cent AS (
              SELECT cell, cv FROM read_parquet('$ProbeIdx/centroids/*/*.parquet')),
            cb AS (
              SELECT sub, code, cv FROM read_parquet('$ProbeIdx/codebooks/*/*.parquet')),
            codes AS (
              SELECT id, cell, codes FROM read_parquet('$ProbeIdx/codes/*/*.parquet')),
            q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings WHERE vec_id < 10),
            recon AS (
              SELECT c.id AS neighbor_id, c.cell,
                list_transform(range(1, 65),
                  i -> ct.cv[i] + (x0.cv || x1.cv || x2.cv || x3.cv)[i]) AS av
              FROM codes c JOIN cent ct ON ct.cell = c.cell
              JOIN cb x0 ON x0.sub = 0 AND x0.code = c.codes[1]
              JOIN cb x1 ON x1.sub = 1 AND x1.code = c.codes[2]
              JOIN cb x2 ON x2.sub = 2 AND x2.code = c.codes[3]
              JOIN cb x3 ON x3.sub = 3 AND x3.code = c.codes[4]),
            probes AS (
              SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, ct.cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65),
                      i -> (q.qv[i]-ct.cv[i])*(q.qv[i]-ct.cv[i]))), ct.cell) AS pr
                FROM q, cent ct) WHERE pr <= 2),
            scored AS (
              SELECT p.query_id, r.neighbor_id,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (qq.qv[i]-r.av[i])*(qq.qv[i]-r.av[i]))) AS BIGINT) AS adc_dist2
              FROM recon r JOIN probes p ON r.cell = p.cell
              JOIN q qq ON qq.vec_id = p.query_id
              WHERE r.neighbor_id <> p.query_id)
            SELECT query_id, neighbor_id, rank, adc_dist2 FROM (
              SELECT query_id, neighbor_id, adc_dist2,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_dist2, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** Incremental IVF-PQ maintenance ([[AnnIndex.appendIvfPq]]): the index is
    * built over the EVEN half of the corpus, then the odd half is appended
    * ENCODE-ONLY — cell routing and sub-codes computed against the frozen
    * persisted model, no retrain, codes table appended in place. Output is
    * the appended code rows (exploded to scalars); the oracle re-derives
    * every appended vector's cell assignment and all m sub-codes IN SQL from
    * `read_parquet` of the saved centroid/codebook tables — so a drifted
    * encode (wrong tie-break, stale model, retrain-on-append) breaks the
    * hash. AnnIndexSpec additionally pins that appending leaves existing
    * code rows byte-identical and that re-encoding is idempotent.
    */
  val annIndexAppend = Q(
    "x_ann_index_append",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnIndex.buildIvfPq(embs.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = AppendIdx)
      AnnIndex.appendIvfPq(s, AppendIdx, embs.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
        .select(col("id"), col("cell"), posexplode(col("codes")).as(Seq("sub", "code")))
        .select(col("id"), col("cell"), col("sub").cast("long").as("sub"), col("code"))
        .orderBy("id", "sub")
    },
    Some(s"""WITH cent AS (
              SELECT cell, cv FROM read_parquet('$AppendIdx/centroids/*/*.parquet')),
            cb AS (
              SELECT sub, code, cv FROM read_parquet('$AppendIdx/codebooks/*/*.parquet')),
            nv AS (
              SELECT vec_id AS id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings WHERE vec_id % 2 = 1),
            asg AS (
              SELECT id, qv, cell FROM (
                SELECT nv.id, nv.qv, ct.cell,
                  row_number() OVER (PARTITION BY nv.id ORDER BY
                    list_sum(list_transform(range(1, 65),
                      i -> (nv.qv[i]-ct.cv[i])*(nv.qv[i]-ct.cv[i]))), ct.cell) AS rn
                FROM nv, cent ct) WHERE rn = 1),
            res AS (
              SELECT a.id, a.cell,
                list_transform(range(1, 65), i -> a.qv[i] - ct.cv[i]) AS rv
              FROM asg a JOIN cent ct ON ct.cell = a.cell),
            enc AS (
              SELECT r.id, r.cell, c.sub, c.code,
                row_number() OVER (PARTITION BY r.id, c.sub ORDER BY
                  list_sum(list_transform(range(1, 17),
                    i -> (r.rv[c.sub*16 + i] - c.cv[i])*(r.rv[c.sub*16 + i] - c.cv[i]))),
                  c.code) AS rn
              FROM res r, cb c)
            SELECT id, cell, CAST(sub AS BIGINT) AS sub, code
            FROM enc WHERE rn = 1 ORDER BY id, sub""")
  )

  /** One segment of the inverted index: per-token (df, tf_total, capped
    * posting head) over a document subset — [[Indexing.invertedIndex]]'s
    * aggregation kept as arrays for merging.
    */
  private def indexSegment(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val stats = tok.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    // Salted two-phase bottom-k (the x_inverted_index fix): per-(tok, salt)
    // heads first, then re-rank the bounded survivors — a token-only window
    // collapses to |vocab| partitions and inflects super-linear at gen30.
    val head = tok
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tok"), pmod(col("doc_id"), lit(32)))
          .orderBy(col("doc_id"))))
      .filter(col("rn") <= 10)
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
      .filter(col("rn2") <= 10)
      .groupBy(col("tok"))
      .agg(sort_array(collect_list(col("doc_id"))).as("head"))
    stats.join(head, Seq("tok"))
  }

  /** Incremental inverted-index maintenance — the posting-delta merge (the
    * x_mv_retract discipline applied to search): the EXISTING index segment
    * (docs with doc_id % 3 ≠ 0) merges with a DELTA segment (the % 3 = 0
    * batch) token-by-token — df/tf_total add (document sets are disjoint),
    * posting heads merge as the 10 smallest of the two heads' union (each
    * head already holds its segment's 10 smallest doc ids, so the union
    * contains the global 10 smallest). The oracle is the FULL REBUILD over
    * all documents — [[Indexing.invertedIndex]]'s exact SQL — so the merge
    * is verified equivalent to reindexing from scratch, which is the whole
    * correctness contract of incremental maintenance.
    *
    * Scale: the merge touches only the two per-token SEGMENT frames (Heaps-
    * law-sized), never re-tokenizes the existing corpus — at 100 TB the
    * delta segment is the day's ingest and the merge cost is O(delta +
    * touched tokens), not O(corpus).
    */
  val invertedIndexIncremental = Q(
    "x_inverted_index_incremental",
    (s, d) => {
      val docs  = Tables.documents(s, d)
      val base  = indexSegment(docs.filter(col("doc_id") % 3 =!= 0))
      val delta = indexSegment(docs.filter(col("doc_id") % 3 === 0))
      val emptyHead = array().cast("array<bigint>")
      base.select(col("tok"), col("df").as("df_a"), col("tf_total").as("tf_a"), col("head").as("head_a"))
        .join(delta.select(col("tok"), col("df").as("df_b"), col("tf_total").as("tf_b"), col("head").as("head_b")),
          Seq("tok"), "full_outer")
        .select(
          col("tok"),
          (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"),
          (coalesce(col("tf_a"), lit(0L)) + coalesce(col("tf_b"), lit(0L))).as("tf_total"),
          array_join(
            slice(sort_array(concat(coalesce(col("head_a"), emptyHead),
              coalesce(col("head_b"), emptyHead))), 1, 10),
            ",").as("postings_head"))
        .orderBy(desc("df"), asc("tok"))
        .limit(50)
    },
    // Full-rebuild equivalence: the oracle IS x_inverted_index's rebuild SQL
    // over the whole corpus.
    Some("""WITH t AS (
              SELECT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
              WHERE tok <> ''),
            g AS (SELECT tok, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
            st AS (
              SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
              FROM g GROUP BY tok),
            hd AS (
              SELECT tok,
                array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings_head
              FROM (SELECT tok, doc_id,
                      row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
                    FROM g) z
              WHERE rn <= 10 GROUP BY tok)
            SELECT st.tok, st.df, st.tf_total, hd.postings_head
            FROM st JOIN hd ON st.tok = hd.tok
            ORDER BY st.df DESC, st.tok LIMIT 50""")
  )

  private val TextIdx = "/tmp/graft_index/text_main"

  /** The BM25 oracles' live corpus over the text index at `idx`: `tomb`,
    * its tombstoned doc ids (none unless `tombstoned`), and `c`, the n_docs
    * and avgdl of its docs rows minus those. The index keeps its totals in
    * its commit pointer, which SQL cannot read, so a stored total that
    * drifted from the live docs breaks the hash. Both engines divide the
    * same two exact integers as doubles (0.0 for an empty corpus), so
    * avgdl matches bit for bit.
    */
  private def bm25Corpus(idx: String, tombstoned: Boolean): String = {
    val tomb = if (tombstoned) s"SELECT doc_id FROM read_parquet('$idx/tombstones/*/*.parquet')"
      else "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE false"
    s"""tomb AS ($tomb),
            c AS (
              SELECT count(*) AS n_docs,
                CASE WHEN count(*) = 0 THEN 0.0
                  ELSE CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) END AS avgdl
              FROM read_parquet('$idx/docs/*/*.parquet')
              WHERE doc_id NOT IN (SELECT doc_id FROM tomb))"""
  }

  /** [[TextIndex]]'s quantized per-(doc, term) BM25 contribution over
    * `p.tf`, `st.df`, `d.dl` and [[bm25Corpus]]'s `c`.
    */
  private val Bm25Sq = """CAST(floor(
                  ln((CAST(c.n_docs AS DOUBLE) - CAST(st.df AS DOUBLE) + 0.5)
                     / (CAST(st.df AS DOUBLE) + 0.5) + 1.0) *
                  (CAST(p.tf AS DOUBLE) * (1.2 + 1.0)) /
                  (CAST(p.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / c.avgdl)) *
                  1e6 + 0.5) AS BIGINT) AS sq"""

  /** The oracle of every single-query BM25 probe here: the top 20 docs for
    * ('hash', 'join', 'stream') over `read_parquet` of the index at `idx`.
    * As in [[TextIndex]]'s scoring path, the postings drop the tombstoned
    * docs and each term's df drops by its tombstoned postings.
    */
  private def bm25ProbeOracle(idx: String, tombstoned: Boolean): String = {
    val terms = "tok IN ('hash', 'join', 'stream')"
    s"""WITH ${bm25Corpus(idx, tombstoned)},
            postsAll AS (
              SELECT tok, doc_id, tf
              FROM read_parquet('$idx/postings/*/*/*.parquet', hive_partitioning=true)
              WHERE $terms),
            posts AS (SELECT * FROM postsAll WHERE doc_id NOT IN (SELECT doc_id FROM tomb)),
            dfc AS (
              SELECT tok, count(*) AS df_dead
              FROM postsAll WHERE doc_id IN (SELECT doc_id FROM tomb) GROUP BY tok),
            st AS (
              SELECT s.tok, s.df - COALESCE(dfc.df_dead, 0) AS df
              FROM read_parquet('$idx/stats/*/*.parquet') s
              LEFT JOIN dfc ON dfc.tok = s.tok WHERE s.$terms),
            d AS (SELECT doc_id, dl FROM read_parquet('$idx/docs/*/*.parquet')),
            sq AS (
              SELECT p.doc_id, $Bm25Sq
              FROM posts p JOIN st USING (tok) JOIN d USING (doc_id), c)
            SELECT doc_id, CAST(sum(sq) AS BIGINT) AS score
            FROM sq GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20"""
  }

  /** BM25 probe of a PREVIOUSLY WRITTEN inverted index
    * ([[graft.functions.TextIndex]]) — the text-side twin of
    * [[annIndexProbe]]: build persists token-hash-bucketed postings plus
    * doc-length and df tables, probe scores strictly from those parquet
    * artifacts (a `tok IN` filter prunes to the matching posting partition
    * DIRECTORIES — data skipping at the layout level, visible as partition
    * pruning in the scan). The model scalars (n_docs, avgdl) come from the
    * corpus totals in the index's commit pointer as plan literals, and the
    * oracle derives them from the docs table ([[bm25Corpus]]), so both
    * replay bit-equal statistics; TextIndexSpec pins probe-after-reload ==
    * [[graft.functions.QualityLM.bm25TopK]] over the corpus directly.
    */
  val searchIndexProbe = Q(
    "x_search_index_probe",
    (s, d) => {
      TextIndex.build(Tables.documents(s, d), "doc_id", "text", TextIdx)
      TextIndex.probeBm25(s, TextIdx, Seq("hash", "join", "stream"), topK = 20)
    },
    Some(bm25ProbeOracle(TextIdx, tombstoned = false))
  )

  private val BpeIdx = "/tmp/graft_index/bpe_main"

  /** Tokenizer SERVING from a persisted merge table — the BPE face of the
    * build-once/probe-many discipline: training writes the k=8 merge table
    * as parquet, and the tokenize pass loads THAT artifact (a model-sized
    * read, the broadcast-model pattern — merges are KBs at any corpus
    * scale) and counts tokens with the codegen'd apply kernel; nothing
    * retrains. The oracle replays the apply passes in priority order, each
    * round's merge pair read from `read_parquet` of the SAME persisted
    * table — a drifted artifact (wrong order, stale rows) breaks the hash.
    */
  val bpeVocabServe = Q(
    "x_bpe_vocab_serve",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.functions.BpeTrain
        .mergesDf(s, graft.functions.BpeTrain.train(docs, "text", 8))
      merges.write.mode("overwrite").parquet(BpeIdx)
      // the written frame's schema: the table is rewritten on every call,
      // so a memoized inference would miss every time
      val persisted = s.read.schema(merges.schema).parquet(BpeIdx).orderBy("round").collect()
        .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym"))).toSeq
      docs.select(
        col("doc_id"),
        graft.functions.NativeFns.bpe_token_count(col("text"), persisted).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    Some {
      val applyRounds = (1 to 8).map { r =>
        s"""m$r AS (SELECT lsym AS ls, rsym AS rs
              FROM read_parquet('$BpeIdx/*.parquet') WHERE round = ${r - 1}),
            s$r AS (
              SELECT w, replace(s, chr(1) || m.ls || chr(1) || chr(1) || m.rs || chr(1),
                                   chr(1) || m.ls || m.rs || chr(1)) AS s
              FROM s${r - 1}, m$r m)"""
      }.mkString(",\n            ")
      s"""WITH wd AS (
              SELECT DISTINCT t.w AS w
              FROM documents,
                unnest(list_filter(regexp_split_to_array(text, '[ \n]'), x -> x <> '')) AS t(w)),
            s0 AS (
              SELECT w,
                array_to_string(list_transform(list_append(string_split(w, ''), '</w>'),
                  x -> chr(1) || x || chr(1)), '') AS s
              FROM wd),
            $applyRounds,
            tc AS (
              SELECT w,
                CAST(len(list_filter(string_split(s, chr(1)), x -> x <> '')) AS BIGINT) AS n_tok
              FROM s8),
            dw AS (
              SELECT doc_id, t.w AS w
              FROM documents,
                unnest(list_filter(regexp_split_to_array(text, '[ \n]'), x -> x <> '')) AS t(w)),
            ag AS (
              SELECT dw.doc_id, sum(tc.n_tok) AS n_bpe
              FROM dw JOIN tc USING (w) GROUP BY dw.doc_id)
            SELECT d.doc_id, CAST(COALESCE(ag.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
            FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
            ORDER BY d.doc_id"""
    }
  )

  private val TextAppIdx = "/tmp/graft_index/text_app"

  /** Text-index incremental maintenance at ARTIFACT level
    * ([[TextIndex.append]]): the index is built over the even half of the
    * corpus, the odd half appends as a posting delta (a new partitioned
    * postings directory + vocab-sized stats merge + exact addition to the
    * pointer's corpus totals), and the BM25 probe runs against the APPENDED
    * artifacts. The oracle replays
    * the probe over `read_parquet` of those artifacts; TextIndexSpec pins
    * append-then-probe == rebuild-then-probe bit-for-bit, which is the
    * incremental-maintenance contract.
    */
  val searchIndexAppend = Q(
    "x_search_index_append",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", TextAppIdx)
      TextIndex.append(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", TextAppIdx)
      TextIndex.probeBm25(s, TextAppIdx, Seq("hash", "join", "stream"), topK = 20)
    },
    Some(bm25ProbeOracle(TextAppIdx, tombstoned = false))
  )

  /** Batched multi-query BM25 serving ([[TextIndex.probeBm25Many]]): three
    * query term-sets scored in ONE pass over the matched postings — the
    * offline-scoring shape (a query table of thousands rides the same
    * plan). The query terms, collected on the driver, prune the postings
    * scan to their bucket directories; the query table broadcast-joins the
    * scored postings, and per-(query, doc) partial sums and a per-query
    * top-k window finish it. Oracle replays the same join/score/rank from a
    * VALUES query table over the persisted artifacts.
    */
  val searchIndexMultiprobe = Q(
    "x_search_index_multiprobe",
    (s, d) => {
      import s.implicits._
      TextIndex.build(Tables.documents(s, d), "doc_id", "text", TextIdx)
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "stream"), (2L, "filter"),
        (3L, "hash"), (3L, "stream"), (3L, "window")
      ).toDF("query_id", "tok")
      TextIndex.probeBm25Many(s, TextIdx, queries, topK = 10)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH qs(query_id, tok) AS (
              VALUES (1, 'hash'), (1, 'join'), (2, 'stream'), (2, 'filter'),
                     (3, 'hash'), (3, 'stream'), (3, 'window')),
            posts AS (
              SELECT tok, doc_id, tf
              FROM read_parquet('$TextIdx/postings/*/*/*.parquet', hive_partitioning=true)
              WHERE tok IN (SELECT tok FROM qs)),
            d AS (SELECT doc_id, dl FROM read_parquet('$TextIdx/docs/*/*.parquet')),
            st AS (SELECT tok, df FROM read_parquet('$TextIdx/stats/*/*.parquet')),
            ${bm25Corpus(TextIdx, tombstoned = false)},
            sq AS (
              SELECT q.query_id, p.doc_id, $Bm25Sq
              FROM posts p JOIN qs q USING (tok) JOIN st ON st.tok = p.tok
              JOIN d USING (doc_id), c),
            sc AS (
              SELECT query_id, doc_id, CAST(sum(sq) AS BIGINT) AS score
              FROM sq GROUP BY 1, 2)
            SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, score FROM (
              SELECT query_id, doc_id, score,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank
              FROM sc)
            WHERE rank <= 10 ORDER BY query_id, rank""")
  )

  private val TextDelIdx = "/tmp/graft_index/text_del"

  /** Tombstone DELETE on the persisted index ([[TextIndex.deleteDocs]]) —
    * the lakehouse delete pattern applied to serving: no posting rewritten,
    * a tombstone set + exact integer corrections to the corpus totals in the
    * commit pointer, which always hold the live totals (O(delta) at delete
    * time), and a probe
    * whose anti-join and per-term df correction, with those totals, make it
    * bit-equal to a rebuild without the deleted docs (TextIndexSpec pins the
    * equality). Completes the serving lifecycle: build → append → delete →
    * probe, every step oracled over the artifacts.
    */
  val searchIndexDelete = Q(
    "x_search_index_delete",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextIndex.build(docs, "doc_id", "text", TextDelIdx)
      TextIndex.deleteDocs(s, TextDelIdx,
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
      TextIndex.probeBm25(s, TextDelIdx, Seq("hash", "join", "stream"), topK = 20)
    },
    Some(bm25ProbeOracle(TextDelIdx, tombstoned = true))
  )

  private val DelIdx = "/tmp/graft_index/ivfpq_del"

  /** Tombstone DELETE on the persisted IVF-PQ index
    * ([[AnnIndex.deleteVecs]]): ADC scores carry no corpus statistics, so
    * deletion is pure candidate filtering — the probe anti-joins the
    * tombstone set against the codes read, bit-equal to a rebuild without
    * the deleted vectors (AnnIndexSpec). The oracle replays the probe with
    * the same tombstone anti-filter over the artifacts.
    */
  val annIndexDelete = Q(
    "x_ann_index_delete",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = DelIdx)
      AnnIndex.deleteVecs(s, DelIdx, embs.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
      AnnIndex.probeIvfPq(s, DelIdx, embs.filter(col("vec_id") < 10),
        "vec_id", "embedding", nProbe = 2, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("adc_dist2"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH cent AS (
              SELECT cell, cv FROM read_parquet('$DelIdx/centroids/*/*.parquet')),
            cb AS (
              SELECT sub, code, cv FROM read_parquet('$DelIdx/codebooks/*/*.parquet')),
            tomb AS (SELECT id FROM read_parquet('$DelIdx/tombstones/*/*.parquet')),
            codes AS (
              SELECT c.id, c.cell, c.codes
              FROM read_parquet('$DelIdx/codes/*/*.parquet') c
              LEFT JOIN tomb t USING (id) WHERE t.id IS NULL),
            q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings WHERE vec_id < 10),
            recon AS (
              SELECT c.id AS neighbor_id, c.cell,
                list_transform(range(1, 65),
                  i -> ct.cv[i] + (x0.cv || x1.cv || x2.cv || x3.cv)[i]) AS av
              FROM codes c JOIN cent ct ON ct.cell = c.cell
              JOIN cb x0 ON x0.sub = 0 AND x0.code = c.codes[1]
              JOIN cb x1 ON x1.sub = 1 AND x1.code = c.codes[2]
              JOIN cb x2 ON x2.sub = 2 AND x2.code = c.codes[3]
              JOIN cb x3 ON x3.sub = 3 AND x3.code = c.codes[4]),
            probes AS (
              SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, ct.cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65),
                      i -> (q.qv[i]-ct.cv[i])*(q.qv[i]-ct.cv[i]))), ct.cell) AS pr
                FROM q, cent ct) WHERE pr <= 2),
            scored AS (
              SELECT p.query_id, r.neighbor_id,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (qq.qv[i]-r.av[i])*(qq.qv[i]-r.av[i]))) AS BIGINT) AS adc_dist2
              FROM recon r JOIN probes p ON r.cell = p.cell
              JOIN q qq ON qq.vec_id = p.query_id
              WHERE r.neighbor_id <> p.query_id)
            SELECT query_id, neighbor_id, rank, adc_dist2 FROM (
              SELECT query_id, neighbor_id, adc_dist2,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_dist2, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  private val TextCmpIdx = "/tmp/graft_index/text_cmp"

  /** COMPACTION of a tombstoned text index ([[TextIndex.compact]]) — the
    * verb that closes the delete story: the surviving postings/doc rows are
    * written once as merged directories, df recomputed from the written
    * postings, delete state cleared (the pointer's corpus totals are already
    * the live ones) — all one new version under [[graft.sources.Storage.commit]],
    * so a crash mid-compaction leaves the tombstoned version serving.
    * The probe after compaction is the PLAIN probe (no anti-join, no df
    * correction — the per-probe delete tax is gone), and the oracle replays
    * it over `read_parquet` of the COMPACTED artifacts: any posting that
    * survived when it should not have, or a corpus total that drifted from
    * the live docs, breaks the hash. TextIndexSpec pins compact == rebuild-
    * without-deleted bit-exact and compact == pre-compaction live probe.
    *
    * Scale: ONE partition-parallel anti-join pass over the postings
    * (broadcast tombstones) amortized across every subsequent probe — the
    * HyDFS `merge` economics applied to the serving layer.
    */
  val searchIndexCompact = Q(
    "x_search_index_compact",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextIndex.build(docs, "doc_id", "text", TextCmpIdx)
      TextIndex.deleteDocs(s, TextCmpIdx,
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
      TextIndex.compact(s, TextCmpIdx)
      TextIndex.probeBm25(s, TextCmpIdx, Seq("hash", "join", "stream"), topK = 20)
    },
    Some(bm25ProbeOracle(TextCmpIdx, tombstoned = false))
  )

  private val CmpIdx = "/tmp/graft_index/ivfpq_cmp"

  /** COMPACTION of a tombstoned IVF-PQ index ([[AnnIndex.compactIvfPq]]):
    * deletion is pure candidate filtering, so compaction is ONE anti-join
    * pass writing a merged codes directory (model tables untouched), in one
    * [[graft.sources.Storage.commit]]. The probe
    * after compaction runs with NO tombstone state; the oracle replays cell
    * ranking, codebook reconstruction and ADC top-k over the COMPACTED
    * codes — a code row that outlived its tombstone resurfaces as a hash
    * break. AnnIndexSpec pins compact == pre-compaction live probe
    * score-for-score and that compaction re-opens append for previously
    * deleted ids.
    */
  val annIndexCompact = Q(
    "x_ann_index_compact",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = CmpIdx)
      AnnIndex.deleteVecs(s, CmpIdx, embs.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
      AnnIndex.compactIvfPq(s, CmpIdx)
      AnnIndex.probeIvfPq(s, CmpIdx, embs.filter(col("vec_id") < 10),
        "vec_id", "embedding", nProbe = 2, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("adc_dist2"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH cent AS (
              SELECT cell, cv FROM read_parquet('$CmpIdx/centroids/*/*.parquet')),
            cb AS (
              SELECT sub, code, cv FROM read_parquet('$CmpIdx/codebooks/*/*.parquet')),
            codes AS (
              SELECT id, cell, codes FROM read_parquet('$CmpIdx/codes/*/*.parquet')),
            q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings WHERE vec_id < 10),
            recon AS (
              SELECT c.id AS neighbor_id, c.cell,
                list_transform(range(1, 65),
                  i -> ct.cv[i] + (x0.cv || x1.cv || x2.cv || x3.cv)[i]) AS av
              FROM codes c JOIN cent ct ON ct.cell = c.cell
              JOIN cb x0 ON x0.sub = 0 AND x0.code = c.codes[1]
              JOIN cb x1 ON x1.sub = 1 AND x1.code = c.codes[2]
              JOIN cb x2 ON x2.sub = 2 AND x2.code = c.codes[3]
              JOIN cb x3 ON x3.sub = 3 AND x3.code = c.codes[4]),
            probes AS (
              SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, ct.cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65),
                      i -> (q.qv[i]-ct.cv[i])*(q.qv[i]-ct.cv[i]))), ct.cell) AS pr
                FROM q, cent ct) WHERE pr <= 2),
            scored AS (
              SELECT p.query_id, r.neighbor_id,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> (qq.qv[i]-r.av[i])*(qq.qv[i]-r.av[i]))) AS BIGINT) AS adc_dist2
              FROM recon r JOIN probes p ON r.cell = p.cell
              JOIN q qq ON qq.vec_id = p.query_id
              WHERE r.neighbor_id <> p.query_id)
            SELECT query_id, neighbor_id, rank, adc_dist2 FROM (
              SELECT query_id, neighbor_id, adc_dist2,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_dist2, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  private val RecallIdx = "/tmp/graft_index/ivfpq_recall"

  /** Recall@k EVALUATION of the persisted IVF-PQ index — the index-quality
    * report every ANN deployment runs before serving: probe the index
    * (nProbe = 2 of 8 cells) and the exact brute-force cosine ranking for
    * the same query set, then score per-query overlap. Output is
    * (query_id, n_hits, recall_milli) in exact integers (truncating
    * milli-recall), so the float cosine/ADC scores never enter the hash —
    * only the id SETS they induce, whose tie rules are deterministic on
    * both engines. The oracle replays BOTH rankings in SQL — brute force
    * over the embeddings table, ADC over `read_parquet` of the persisted
    * artifacts — and joins them, so a drifted probe (wrong cell ranking,
    * stale codebook) or a drifted baseline shows up as a recall change.
    *
    * Scale: the exact arm is the documented brute-force diagnostic (query
    * set broadcasts, corpus scans once — run over an evaluation SLICE, not
    * the serving corpus); the approx arm reads nProbe/nCells of the codes.
    * The report itself joins two k-row-per-query frames — negligible.
    */
  val annRecallReport = Q(
    "x_ann_recall_report",
    (s, d) => {
      import graft.functions.AnnSearch
      val embs = Tables.embeddings(s, d)
      AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = RecallIdx)
      val queries = embs.filter(col("vec_id") < 20)
      val approx = AnnIndex.probeIvfPq(s, RecallIdx, queries,
        "vec_id", "embedding", nProbe = 2, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val exact = AnnSearch.bruteForceTopK(embs, queries, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left_outer")
        .select(col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("COALESCE(n_hits, 0) * 1000 div 10").as("recall_milli"))
        .orderBy("query_id")
    },
    Some(s"""WITH cent AS (
              SELECT cell, cv FROM read_parquet('$RecallIdx/centroids/*/*.parquet')),
            cb AS (
              SELECT sub, code, cv FROM read_parquet('$RecallIdx/codebooks/*/*.parquet')),
            codes AS (
              SELECT id, cell, codes FROM read_parquet('$RecallIdx/codes/*/*.parquet')),
            q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings WHERE vec_id < 20),
            recon AS (
              SELECT c.id AS neighbor_id, c.cell,
                list_transform(range(1, 65),
                  i -> ct.cv[i] + (x0.cv || x1.cv || x2.cv || x3.cv)[i]) AS av
              FROM codes c JOIN cent ct ON ct.cell = c.cell
              JOIN cb x0 ON x0.sub = 0 AND x0.code = c.codes[1]
              JOIN cb x1 ON x1.sub = 1 AND x1.code = c.codes[2]
              JOIN cb x2 ON x2.sub = 2 AND x2.code = c.codes[3]
              JOIN cb x3 ON x3.sub = 3 AND x3.code = c.codes[4]),
            probes AS (
              SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, ct.cell,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65),
                      i -> (q.qv[i]-ct.cv[i])*(q.qv[i]-ct.cv[i]))), ct.cell) AS pr
                FROM q, cent ct) WHERE pr <= 2),
            approx AS (
              SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, r.neighbor_id,
                  row_number() OVER (PARTITION BY p.query_id ORDER BY
                    list_sum(list_transform(range(1, 65),
                      i -> (qq.qv[i]-r.av[i])*(qq.qv[i]-r.av[i]))), r.neighbor_id) AS rank
                FROM recon r JOIN probes p ON r.cell = p.cell
                JOIN q qq ON qq.vec_id = p.query_id
                WHERE r.neighbor_id <> p.query_id)
              WHERE rank <= 10),
            qf AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 20),
            exact AS (
              SELECT query_id, neighbor_id FROM (
                SELECT qf.query_id, e.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY qf.query_id ORDER BY
                    list_sum(list_transform(list_zip(qf.qe, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(qf.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                    DESC, e.vec_id) AS rank
                FROM embeddings e, qf WHERE e.vec_id <> qf.query_id)
              WHERE rank <= 10),
            hits AS (
              SELECT e.query_id, count(*) AS n_hits
              FROM exact e JOIN approx a USING (query_id, neighbor_id)
              GROUP BY 1)
            SELECT q.vec_id AS query_id,
              CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
              CAST(COALESCE(h.n_hits, 0) * 1000 // 10 AS BIGINT) AS recall_milli
            FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) q
            LEFT JOIN hits h ON h.query_id = q.vec_id
            ORDER BY query_id""")
  )

  private val KmvStore    = "/tmp/graft_index/kmv_store"
  private val KmvStoreApp = "/tmp/graft_index/kmv_store_app"

  /** (seg, hv) rows for the sketch store: 1024-orderkey segments, the
    * registry's fixed Carter–Wegman hash of the part key.
    */
  private def kmvRows(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      expr("l_orderkey div 1024").as("seg"),
      graft.functions.NativeFns.hash61(col("l_partkey"),
        graft.functions.KmvSketch.A, graft.functions.KmvSketch.B).as("hv"))

  /** Persisted per-segment KMV sketch store, range probe
    * ([[graft.functions.SketchStore]]) — the third persisted serving family
    * (text index, IVF-PQ, now distinct-count sketches): build once, then
    * answer "distinct part keys in segments [lo, hi]" from ≤ k sketch rows
    * per segment, never the data. Two probes (a narrow range and the full
    * store) each carry the EXACT distinct count from the raw table as an
    * in-row witness; the oracle replays the merged bottom-k and the
    * (k−1)·M/kth estimate in SQL over `read_parquet` of the persisted
    * segments table — the probe math is verified against the artifact a
    * user would serve from.
    *
    * Scale: the store is (segments × k) rows; probe cost is the pruned
    * range's sketch rows (TakeOrdered over sketch-sized input). The exact
    * witness is the one data scan — and it exists precisely to show what
    * the sketch SAVES.
    */
  val sketchStoreProbe = Q(
    "x_sketch_store_probe",
    (s, d) => {
      graft.functions.SketchStore.build(kmvRows(s, d), k = 256, KmvStore)
      def probe(lo: Long, hi: Long) = {
        val est = graft.functions.SketchStore.probeRange(s, KmvStore, lo, hi)
        val exact = Tables.lineitem(s, d)
          .filter(expr("l_orderkey div 1024").between(lo, hi))
          .agg(count_distinct(col("l_partkey")).as("exact_keys"))
        est.crossJoin(exact) // 1×1
      }
      probe(1L, 3L).union(probe(0L, 999999L)).orderBy("seg_lo")
    },
    Some("""WITH seg AS (
              SELECT seg, hv
              FROM read_parquet('/tmp/graft_index/kmv_store/segments/*/*.parquet')),
            p1 AS (SELECT DISTINCT hv FROM seg WHERE seg BETWEEN 1 AND 3
                   ORDER BY hv LIMIT 256),
            s1 AS (SELECT max(hv) AS kth_min, count(*) AS filled FROM p1),
            e1 AS (SELECT count(DISTINCT l_partkey) AS exact_keys FROM lineitem
                   WHERE l_orderkey // 1024 BETWEEN 1 AND 3),
            p2 AS (SELECT DISTINCT hv FROM seg WHERE seg BETWEEN 0 AND 999999
                   ORDER BY hv LIMIT 256),
            s2 AS (SELECT max(hv) AS kth_min, count(*) AS filled FROM p2),
            e2 AS (SELECT count(DISTINCT l_partkey) AS exact_keys FROM lineitem)
            SELECT * FROM (
              SELECT CAST(1 AS BIGINT) AS seg_lo, CAST(3 AS BIGINT) AS seg_hi,
                CAST(256 AS BIGINT) AS k, filled,
                COALESCE(kth_min, 0) AS kth_min,
                CASE WHEN filled < 256 THEN filled
                     ELSE CAST(floor(255.0 * (2305843009213693951.0 / kth_min)) AS BIGINT)
                END AS kmv_estimate, exact_keys
              FROM s1, e1
              UNION ALL
              SELECT CAST(0 AS BIGINT), CAST(999999 AS BIGINT), CAST(256 AS BIGINT),
                filled, COALESCE(kth_min, 0),
                CASE WHEN filled < 256 THEN filled
                     ELSE CAST(floor(255.0 * (2305843009213693951.0 / kth_min)) AS BIGINT)
                END, exact_keys
              FROM s2, e2)
            ORDER BY seg_lo""")
  )

  /** Sketch-store APPEND — the O(delta) maintenance face: new segments'
    * sketches land without re-reading old ones (KMV merges by re-taking the
    * bottom-k of a union, so per-segment persistence composes); segments
    * are append-once (re-sketching a present segment refused — the index
    * families' re-add discipline), all in one [[graft.sources.Storage.commit]].
    * The full-range probe after the append spans old AND new segments from
    * the one segments table; SketchStoreSpec pins append == rebuild
    * bit-exact on the artifact rows.
    */
  val sketchStoreAppend = Q(
    "x_sketch_store_append",
    (s, d) => {
      val rows = kmvRows(s, d)
      graft.functions.SketchStore.build(rows.filter(col("seg") <= 2), k = 256, KmvStoreApp)
      graft.functions.SketchStore.appendSegments(rows.filter(col("seg") >= 3), KmvStoreApp)
      val est = graft.functions.SketchStore.probeRange(s, KmvStoreApp, 0L, 999999L)
      val exact = Tables.lineitem(s, d)
        .agg(count_distinct(col("l_partkey")).as("exact_keys"))
      val nSegs = graft.functions.SketchStore.segments(s, KmvStoreApp)
        .agg(count_distinct(col("seg")).as("n_segments"))
      est.crossJoin(exact).crossJoin(nSegs) // 1×1×1
    },
    Some("""WITH seg AS (
              SELECT seg, hv
              FROM read_parquet('/tmp/graft_index/kmv_store_app/segments/*/*.parquet')),
            p AS (SELECT DISTINCT hv FROM seg ORDER BY hv LIMIT 256),
            sk AS (SELECT max(hv) AS kth_min, count(*) AS filled FROM p),
            e AS (SELECT count(DISTINCT l_partkey) AS exact_keys FROM lineitem),
            n AS (SELECT count(DISTINCT seg) AS n_segments FROM seg)
            SELECT CAST(0 AS BIGINT) AS seg_lo, CAST(999999 AS BIGINT) AS seg_hi,
              CAST(256 AS BIGINT) AS k, filled,
              COALESCE(kth_min, 0) AS kth_min,
              CASE WHEN filled < 256 THEN filled
                   ELSE CAST(floor(255.0 * (2305843009213693951.0 / kth_min)) AS BIGINT)
              END AS kmv_estimate, exact_keys, n_segments
            FROM sk, e, n""")
  )

  val qs: Seq[Q] = Seq(annIndexProbe, annIndexAppend, invertedIndexIncremental,
    searchIndexProbe, bpeVocabServe, searchIndexAppend, searchIndexMultiprobe,
    searchIndexDelete, annIndexDelete, searchIndexCompact, annIndexCompact,
    annRecallReport, sketchStoreProbe, sketchStoreAppend)
}
