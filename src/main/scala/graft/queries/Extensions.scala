package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{AnnSearch, BloomDedup, BpeTrain, ClusterOps, Curation, DedupOps, QualityLM, TextAnalysis, RollingHash}
import graft.multimodal.Multimodal
import graft.functions.Layout.LineageOps

/** Training-data-pipeline extension operators (the north-star surface beyond
  * reference parity): deduplication, similarity search, multimodal columns,
  * text analysis. Counts/sizes are cast to bigint and aggregate sums to double
  * on BOTH sides so the oracle schema compare is exact.
  */
object Extensions {

  /** Token counting + quality scoring (length / punctuation / ratio).
    * Two-step projection: tokenize/regex ONCE into named columns, then derive
    * every output from plain column references. CollapseProject will not
    * inline a non-cheap producer referenced more than once, so each pipeline
    * runs exactly once per row (the single-select form re-evaluated the
    * punct regex per referencing output column).
    */
  val textStats = Q(
    "x_text_stats",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).as("__len"),
          graft.functions.NativeFns.token_counts(col("text"), Nil).getField("n_tokens").as("__ntok"),
          TextAnalysis.bpeishTokenCount(col("text")).as("__nbpe"),
          TextAnalysis.punctCount(col("text")).as("__npunct")
        )
        .select(
          col("doc_id"),
          col("__ntok").cast("long").as("n_tokens"),
          col("__nbpe").cast("long").as("n_bpeish"),
          col("__npunct").cast("long").as("n_punct"),
          (col("__npunct").cast("double") / col("__len")).as("punct_ratio")
        )
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
              len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpeish,
              length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS n_punct,
              CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                / length(text) AS punct_ratio
            FROM documents ORDER BY doc_id""")
  )

  /** Quality scoring: stopword density, characters-per-token, uppercase
    * ratio — the standard cheap heuristics a corpus filter runs over every
    * document. All integer-counting into double division, so the oracle is
    * bit-exact.
    */
  val textQuality = Q(
    "x_text_quality",
    (s, d) => {
      // tokenize ONCE via the one-pass token_counts kernel; every metric
      // below derives from the shared counts (the single-select form built
      // 3-4 independent interpreted split/filter pipelines per row)
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          col("text"),
          graft.functions.NativeFns.token_counts(col("text"), TextAnalysis.langStopwords.head._2)
            .as("__tc")
        )
        .select(
          col("doc_id"),
          col("text"),
          col("__tc").getField("n_tokens").as("__ntok"),
          col("__tc").getField("n_stop").as("__nstop")
        )
        .select(
          col("doc_id"),
          col("__ntok").cast("long").as("n_tokens"),
          (length(regexp_replace(col("text"), " ", "")).cast("double") /
            when(col("__ntok") === 0, lit(null)).otherwise(col("__ntok").cast("double")))
            .as("avg_token_len"),
          (col("__nstop").cast("double") /
            when(col("__ntok") === 0, lit(null)).otherwise(col("__ntok").cast("double")))
            .as("stopword_density"),
          ((length(col("text")) - length(regexp_replace(col("text"), "[A-Z]", ""))).cast("double")
            / length(col("text"))).as("upper_ratio")
        )
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text,
                 list_filter(string_split(text, ' '), w -> w <> '') AS toks
               FROM documents)
            SELECT doc_id,
              len(toks) AS n_tokens,
              CAST(length(replace(text, ' ', '')) AS DOUBLE) / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS avg_token_len,
              CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS stopword_density,
              CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
                / length(text) AS upper_ratio
            FROM t ORDER BY doc_id""")
  )

  /** Stopword-heuristic language ID (n-gram heuristic; argmax with fixed tie
    * precedence, 'und' when no stopword hits).
    */
  val textLangId = Q(
    "x_text_langid",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
    Some("""WITH tok AS (
              SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), w -> w <> '')) AS ws
              FROM documents),
            sc AS (
              SELECT doc_id,
                len(list_intersect(ws, ['the','a','of','and','to','in','is'])) AS en,
                len(list_intersect(ws, ['el','la','de','que','y','en','un'])) AS es,
                len(list_intersect(ws, ['der','die','das','und','ist','von','ein'])) AS de,
                len(list_intersect(ws, ['le','la','les','de','et','un','est'])) AS fr,
                len(list_intersect(ws, ['的','是','了','在','我','有','和'])) AS zh
              FROM tok)
            SELECT doc_id,
              CASE WHEN en=0 AND es=0 AND de=0 AND fr=0 AND zh=0 THEN 'und'
                   WHEN en>=es AND en>=de AND en>=fr AND en>=zh THEN 'en'
                   WHEN es>=de AND es>=fr AND es>=zh THEN 'es'
                   WHEN de>=fr AND de>=zh THEN 'de'
                   WHEN fr>=zh THEN 'fr'
                   ELSE 'zh' END AS lang_pred
            FROM sc ORDER BY doc_id""")
  )

  /** Document fingerprinting, fully oracled: the codegen'd polynomial
    * rolling hash ([[graft.functions.RollingHashExpr]] — base 1000003 over
    * UTF-8 bytes with natural 2^64 wraparound) REPLAYED byte-exact in
    * DuckDB (`hex(encode(text))` → per-byte list → `list_reduce` fold in
    * HUGEINT with an explicit mod 2^64 and a signed-two's-complement
    * conversion at the end), plus the engine-neutral md5-vote 60-bit
    * SimHash (the [[dedupSimhash]] primitive, joined per doc). Was
    * rows-only while the columns included DEFLATE `compress_ratio` —
    * DuckDB has no DEFLATE, so that signal now lives solely on its
    * registered SQL function (`deflate_ratio`), exact-gated against
    * `java.util.zip` in OperatorSpec, and every column HERE replays
    * row-level.
    */
  val textFingerprint = Q(
    "x_text_fingerprint",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val bits = 60
      val tok = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      val voteAggs = (0 until bits).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b"))
      val sim = tok.groupBy(col("doc_id"))
        .agg(voteAggs.head, voteAggs.tail: _*)
        .select(col("doc_id"),
          (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
      docs
        .select(col("doc_id"), RollingHash.rolling_hash(col("text")).as("fingerprint"))
        .join(sim, Seq("doc_id"), "left")
        .select(col("doc_id"), col("fingerprint"),
          coalesce(col("simhash"), lit(0L)).as("simhash"))
        .orderBy("doc_id")
    },
    Some("""WITH hx AS (
              SELECT doc_id, hex(encode(text)) AS h FROM documents),
            rh AS (
              SELECT doc_id,
                CASE WHEN len(h) = 0 THEN CAST(0 AS HUGEINT)
                ELSE list_reduce(
                  list_transform(range(1, len(h) // 2 + 1),
                    i -> CAST(16 * (strpos('0123456789ABCDEF', h[2*i-1]) - 1)
                              + (strpos('0123456789ABCDEF', h[2*i]) - 1) AS HUGEINT)),
                  (acc, x) -> (acc * 1000003 + x) % CAST('18446744073709551616' AS HUGEINT))
                END AS r
              FROM hx),
            fp AS (
              SELECT doc_id,
                CAST(CASE WHEN r >= CAST('9223372036854775808' AS HUGEINT)
                     THEN r - CAST('18446744073709551616' AS HUGEINT)
                     ELSE r END AS BIGINT) AS fingerprint
              FROM rh),
            t AS (
              SELECT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
              WHERE tok <> ''),
            hv AS (
              SELECT doc_id,
                list_reduce(list_transform(string_split(substr(md5(tok), 1, 15), ''),
                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                  (a, x) -> a * 16 + x) AS hvv
              FROM t),
            v AS (
              SELECT doc_id, b.b,
                sum(CASE WHEN (hvv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hv, range(0, 60) b(b)
              GROUP BY doc_id, b.b),
            sh AS (
              SELECT doc_id,
                CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
              FROM v GROUP BY doc_id)
            SELECT fp.doc_id, fp.fingerprint,
              CAST(COALESCE(sh.simhash, 0) AS BIGINT) AS simhash
            FROM fp LEFT JOIN sh ON fp.doc_id = sh.doc_id
            ORDER BY fp.doc_id""")
  )

  /** Deterministic train/test split — the first operation of every
    * training-data pipeline. Keyed on a salted md5 of the stable doc id, NOT
    * `rand()`: the assignment is reproducible across runs, engines, cluster
    * sizes and repartitions, and a different salt re-rolls the split without
    * touching the data. Pure per-row projection → embarrassingly parallel at
    * any scale. First hex byte < 0xcd ≈ 80.1% train.
    */
  val splitTrainTest = Q(
    "x_split_train_test",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          when(substring(md5(concat(col("doc_id").cast("string"), lit(":seed42"))), 1, 2) < "cd",
            lit("train")).otherwise(lit("test")).as("split"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':seed42'), 1, 2) < 'cd'
                   THEN 'train' ELSE 'test' END AS split
            FROM documents ORDER BY doc_id""")
  )

  /** GROUP-aware train/test split + leakage audit — the split discipline
    * [[splitTrainTest]]'s row-hash rule cannot give: hashing the GROUP key
    * (`source`, the domain) sends every document of a domain to the same
    * split, so near-duplicate pages from one crawl domain can never straddle
    * train/test (scikit-learn's GroupShuffleSplit, done as a pure projection).
    * Both strategies are evaluated side by side with two audits: how many
    * sources SPAN both splits (group split: structurally zero — the
    * invariant itself, and the hash proves it) and how many exact content
    * hashes leak across the boundary (nonzero for BOTH at sf0.1 — identical
    * texts recur on different domains, so a group split alone is NOT
    * decontamination; the pipeline still needs [[decontaminate]]'s content
    * pass. That finding is the point of shipping the audit).
    *
    * Scale: split assignment is per-row projection; each audit is one
    * hash-partitioned aggregate (on source / content hash) feeding a
    * count — the 1-row audit frames join by cross of singletons, the
    * registry's model-scalar crossJoin discipline.
    */
  val groupSplit = Q(
    "x_group_split",
    (s, d) => {
      val docs = Tables.documents(s, d).select(
        col("source"), md5(col("text")).as("content_hash"),
        when(substring(md5(concat(col("doc_id").cast("string"), lit(":seed42"))), 1, 2) < "cd",
          lit("train")).otherwise(lit("test")).as("row_split"),
        when(substring(md5(concat(col("source"), lit(":seed42"))), 1, 2) < "cd",
          lit("train")).otherwise(lit("test")).as("group_split"))
      def audit(splitCol: String, label: String) = {
        val counts = docs.agg(
          sum(when(col(splitCol) === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col(splitCol) === "test", 1L).otherwise(0L)).as("n_test"))
        val spanSources = docs.groupBy("source")
          .agg(countDistinct(col(splitCol)).as("n_sides"))
          .filter(col("n_sides") === 2)
          .agg(count(lit(1)).as("n_split_sources"))
        val leaks = docs.groupBy("content_hash")
          .agg(countDistinct(col(splitCol)).as("n_sides"))
          .filter(col("n_sides") === 2)
          .agg(count(lit(1)).as("n_leaked_texts"))
        counts.crossJoin(spanSources).crossJoin(leaks)
          .select(lit(label).as("strategy"), col("n_train"), col("n_test"),
            col("n_split_sources"), col("n_leaked_texts"))
      }
      audit("row_split", "row_hash").union(audit("group_split", "group_hash"))
        .orderBy("strategy")
    },
    Some("""WITH base AS (
              SELECT source, md5(text) AS content_hash,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':seed42'), 1, 2) < 'cd'
                     THEN 'train' ELSE 'test' END AS row_split,
                CASE WHEN substr(md5(source || ':seed42'), 1, 2) < 'cd'
                     THEN 'train' ELSE 'test' END AS group_split
              FROM documents),
            a AS (
              SELECT 'row_hash' AS strategy,
                (SELECT count(*) FROM base WHERE row_split = 'train') AS n_train,
                (SELECT count(*) FROM base WHERE row_split = 'test') AS n_test,
                (SELECT count(*) FROM (SELECT source FROM base
                   GROUP BY source HAVING count(DISTINCT row_split) = 2)) AS n_split_sources,
                (SELECT count(*) FROM (SELECT content_hash FROM base
                   GROUP BY content_hash HAVING count(DISTINCT row_split) = 2)) AS n_leaked_texts
              UNION ALL
              SELECT 'group_hash',
                (SELECT count(*) FROM base WHERE group_split = 'train'),
                (SELECT count(*) FROM base WHERE group_split = 'test'),
                (SELECT count(*) FROM (SELECT source FROM base
                   GROUP BY source HAVING count(DISTINCT group_split) = 2)),
                (SELECT count(*) FROM (SELECT content_hash FROM base
                   GROUP BY content_hash HAVING count(DISTINCT group_split) = 2)))
            SELECT * FROM a ORDER BY strategy""")
  )

  /** Stratified top-N sampling: the N "best" docs per language — per-stratum
    * window rank, one shuffle on the stratum key. At 100 TB Spark rewrites
    * the rank-filter to WindowGroupLimit (per-partition top-N heaps before
    * the exchange), so the sort never materializes per stratum.
    */
  val sampleStratified = Q(
    "x_sample_stratified",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("lang"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "doc_id"),
    Some("""SELECT lang, doc_id, n_chars FROM (
              SELECT lang, doc_id, n_chars,
                row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents) WHERE rn <= 5
            ORDER BY lang, doc_id""")
  )

  /** Sequence packing (training-batch prep): concatenate each source's
    * documents in stable doc_id order and chunk the stream at a fixed budget
    * — the GPT-style pack-then-split layout (documents may straddle a
    * boundary; the offset says where). One running-sum window per source →
    * one shuffle, linear work; seq_id/offset are pure arithmetic on the
    * cumulative length. Budget here is in chars (n_chars is a table column
    * so the oracle is engine-portable); a token budget just swaps in the
    * `token_counts` kernel.
    */
  val packSequences = Q(
    "x_pack_sequences",
    (s, d) => {
      val budget = 4096L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .withColumn("start", coalesce(sum(col("n_chars")).over(w), lit(0L)))
        .select(
          col("source"), col("doc_id"),
          (col("start") / budget).cast("bigint").as("seq_id"),
          (col("start") % budget).as("offset"))
        .orderBy("source", "doc_id")
    },
    Some("""SELECT source, doc_id,
              CAST(floor(start / 4096) AS BIGINT) AS seq_id,
              CAST(start % 4096 AS BIGINT) AS "offset"
            FROM (
              SELECT source, doc_id,
                COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
              FROM documents)
            ORDER BY source, doc_id""")
  )

  /** Semi-structured column path: JSON property extraction feeding an
    * aggregate — `get_json_object` stays inside codegen, so the parse cost
    * is one pass over the scan, no UDF. (At 100 TB, prefer `from_json` with
    * an explicit schema once the shape is known — single parse for many
    * fields — but the per-path extractor is the ad-hoc form.)
    */
  val jsonExtract = Q(
    "x_json_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** The schema-known JSON path: `from_json` with an explicit struct schema
    * parses the document ONCE and yields every field from that single parse —
    * the right call at 100 TB when many fields are read (N `get_json_object`
    * calls = N full parses per row). Malformed documents null the struct
    * (PERMISSIVE mode) instead of failing the job; the query also surfaces
    * the parse-failure count, which a pipeline must monitor.
    */
  val jsonStruct = Q(
    "x_json_struct",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("p"))
        .select(col("event_type"), col("p").getField("k").as("k"),
          col("p").isNull.cast("int").as("bad"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          sum(col("bad")).as("n_unparsed"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
              CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
              CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT) AS n_unparsed
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** The third JSON path — Spark 4's VARIANT type: `parse_json` decodes the
    * document ONCE into a binary-encoded semi-structured value; every
    * `variant_get` after that is a cheap binary probe, no re-parse, no
    * up-front schema. At 100 TB this is the lakehouse answer for
    * heterogeneous JSON: store the VARIANT column in parquet and fields
    * shred/prune like real columns, where a JSON string re-parses on every
    * touch. Same aggregate + oracle shape as the string-path queries so the
    * three forms are directly comparable.
    */
  val jsonVariant = Q(
    "x_json_variant",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          try_variant_get(col("v"), "$.k", "bigint").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), min(col("k")).as("min_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
              CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
              CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Exact dedup: hash-groupBy on content, keep lowest id per group. */
  val dedupExact = Q(
    "x_dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text) ORDER BY content_hash""")
  )

  /** MinHash+LSH near-dup pairs, exact-Jaccard verified. The LSH band trick
    * keeps candidate generation sub-quadratic — the 100 TB path.
    *
    * Oracle-able even though LSH is approximate: the oracle computes EXACT
    * all-pairs Jaccard, and on this corpus the two agree because every true
    * ≥0.8 pair is a planted ≥0.95 near-dup, where the r=8 banding's detection
    * probability is 1-(1-0.95^8)^8 ≈ 0.9998 — and the minhash seeds are
    * fixed, so the result is deterministic. AccuracySpec holds the stronger
    * invariant (every planted pair found, reported ⊆ exact) independently.
    */
  /** Shared shingle-list CTE prelude for the exact-Jaccard referees. */
  private def shCte(n: Int): String =
    s"""WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(t) >= $n
              THEN list_distinct(list_transform(range(1, len(t) - $n + 2),
                     i -> array_to_string(t[i:i+$n-1], ' ')))
              ELSE [array_to_string(t, ' ')] END AS s
          FROM toks)"""

  private def jaccardSql: String =
    """CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"""

  private def exactJaccardOracle(n: Int, adjacentOnly: Boolean = false): String = {
    // adjacentOnly = the GEN FACE (Q.genOracle): GenData's planted-pair
    // contract puts every CONSTRUCTED >= 0.8 pair at adjacent doc_ids, so
    // the quadratic all-pairs join collapses to a LINEAR doc_id+1 self-join
    // that still computes EXACT Jaccard per candidate pair (no residue-class
    // shortcut — every adjacent pair is measured, non-plants fail the 0.8
    // filter on their own). A second LINEAR arm joins on shingle-SET
    // equality: at gen100 the generator's hash keyspace produced one ORGANIC
    // duplicate (two independent 8-word docs with identical text, J = 1.0,
    // 2.5M ids apart — caught as a 1-row sweep diff), and identical sets are
    // the dominant organic mode: a non-adjacent 0.8 <= J < 1 pair with
    // DIFFERENT sets needs ~8/9 of two independent hash streams to coincide
    // (expected < 1e-4 at gen100), and any occurrence fails the sweep
    // loudly, exactly as the identical pair did. Valid only on GenData dirs;
    // cross-checked face-vs-face on dirs where the all-pairs referee also
    // runs.
    if (!adjacentOnly)
      s"""${shCte(n)}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE $jaccardSql >= 0.8
        ORDER BY id_a, id_b"""
    else
      s"""${shCte(n)}
        SELECT id_a, id_b, jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
          FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
          WHERE $jaccardSql >= 0.8
          UNION
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id)
        ORDER BY id_a, id_b"""
  }

  val dedupMinhash = Q(
    "x_dedup_minhash_lsh",
    (s, d) =>
      DedupOps
        .minhashNearDups(Tables.documents(s, d), "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.8)
        .orderBy("id_a", "id_b"),
    Some(exactJaccardOracle(3)),
    genOracle = Some(exactJaccardOracle(3, adjacentOnly = true))
  )

  /** Cross-corpus MinHash near-dup ([[graft.functions.DedupOps
    * .minhashNearDupsAgainstCorpus]] — "dedupe the new crawl against the
    * existing corpus"): odd doc_ids are the arriving batch, even the static
    * corpus. Same oracle-validity argument as [[dedupMinhash]] (exact
    * all-pairs Jaccard across the split; LSH detection probability at the
    * qualifying pairs' J is ~1 with the fixed seeds).
    */
  val dedupMinhashIncremental = Q(
    "x_dedup_minhash_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps
        .minhashNearDupsAgainstCorpus(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks)
            SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
              CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
                / (len(b.s) + len(c.s) - len(list_intersect(b.s, c.s))) AS jaccard
            FROM sh b JOIN sh c ON b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
            WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
                / (len(b.s) + len(c.s) - len(list_intersect(b.s, c.s))) >= 0.8
            ORDER BY batch_id, corpus_id"""),
    // GEN FACE: every plant id is ODD (7 mod 20, 1 mod 600, 11 mod 40 are
    // all odd residues) with an EVEN base at id-1, so every CONSTRUCTED
    // cross-split pair is a planted adjacency — the all-pairs odd x even
    // join collapses to the linear corpus_id+1 join, exact Jaccard still
    // measured per pair. The organic same-set arm (see
    // [[exactJaccardOracle]]) is oriented by PARITY, not id order: an
    // organic duplicate crosses the split whenever its members differ in
    // parity, in either id order.
    genOracle = Some(s"""${shCte(3)}
            SELECT batch_id, corpus_id, jaccard FROM (
              SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id, $jaccardSql AS jaccard
              FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
                AND b.doc_id % 2 = 1 AND a.doc_id % 2 = 0
              WHERE $jaccardSql >= 0.8
              UNION
              SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id, CAST(1.0 AS DOUBLE) AS jaccard
              FROM sh a JOIN sh b ON a.s = b.s
                AND b.doc_id % 2 = 1 AND a.doc_id % 2 = 0)
            ORDER BY batch_id, corpus_id""")
  )

  /** SimHash fingerprints (near-dup = small Hamming distance), fully
    * oracled: 60-bit simhash whose per-token hash is the first 15 hex
    * digits of md5 — an engine-neutral primitive both Spark and DuckDB
    * evaluate natively, so the COMPLETE bit-vote pipeline (tokenize →
    * per-token 60-bit hash → ±1 vote per bit position → majority bit
    * assembly) replays row-level in SQL; was rows-only when the hash was
    * xxh64. Same precedent as `x_neardup_filter`: the registry surface
    * carries cross-engine-replayable fingerprints while the hot streaming
    * path ([[graft.streaming.RainStorm.nearDupFilterStream]],
    * [[graft.functions.DedupOps.simhashNearDups]]) keeps the fast xxh64
    * codegen kernel, recall-gated in AccuracySpec. Plan shape: explode +
    * ONE hash aggregation on doc_id with 60 primitive sum buffers (the
    * explode-free-vote trick from the k-means update — no per-bit row
    * blowup), then a pure projection assembles the bits.
    */
  val dedupSimhash = Q(
    "x_dedup_simhash",
    (s, d) => {
      val bits = 60
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      val voteAggs = (0 until bits).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b"))
      tok.groupBy(col("doc_id"))
        .agg(voteAggs.head, voteAggs.tail: _*)
        .select(col("doc_id"),
          (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
              WHERE tok <> ''),
            h AS (
              SELECT doc_id,
                list_reduce(list_transform(string_split(substr(md5(tok), 1, 15), ''),
                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                  (a, x) -> a * 16 + x) AS hv
              FROM t),
            v AS (
              SELECT doc_id, b.b,
                sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM h, range(0, 60) b(b)
              GROUP BY doc_id, b.b)
            SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM v GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Word-2-gram Jaccard near-dup pairs (LSH-prefiltered, exact-verified).
    * Same exact-all-pairs oracle rationale as [[dedupMinhash]] — and because
    * the oracle is EXACT all-pairs, the banding must hold recall ≈ 1 at the
    * 0.8 threshold: r = 64/16 = 4 rows/band gives collision probability
    * 1−(1−0.8⁴)¹⁶ ≈ 0.9998 at the threshold (→1 above it). The original
    * 8×8 config (≈ 0.77 at s = 0.8) passed sf0.01 on luck and dropped one
    * true 0.80-Jaccard pair at the sf0.1 sweep — caught by CORRECTNESS_SF01,
    * the exact failure class that sweep exists for.
    */
  val dedupNgram = Q(
    "x_dedup_ngram_jaccard",
    (s, d) =>
      DedupOps
        .minhashNearDups(Tables.documents(s, d), "doc_id", "text", shingleN = 2, k = 64, bands = 16, threshold = 0.8)
        .orderBy("id_a", "id_b"),
    Some(exactJaccardOracle(2)),
    genOracle = Some(exactJaccardOracle(2, adjacentOnly = true))
  )

  /** Containment near-dup pairs (doc-in-doc detection): |A∩B|/min(|A|,|B|)
    * over 3-gram shingles. Oracle-able by the same argument as
    * [[dedupMinhash]]: on this corpus every containment ≥ 0.9 pair also has
    * Jaccard ≥ 0.8 (verified against exact all-pairs), so the banded
    * candidates cover the exact answer deterministically.
    */
  val dedupContainment = Q(
    "x_dedup_containment",
    (s, d) =>
      DedupOps
        .containmentNearDups(Tables.documents(s, d), "doc_id", "text", shingleN = 3, bands = 16, threshold = 0.9)
        .orderBy("id_a", "id_b"),
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / LEAST(len(a.s), len(b.s)) AS containment
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / LEAST(len(a.s), len(b.s)) >= 0.9
            ORDER BY id_a, id_b""")
  )

  /** Embedding-cosine near-dup candidate pairs (SRP-bucketed, distributed —
    * no driver-side materialization). The testdata's 0.35 threshold is far
    * below real near-dup similarity, so the query passes a shallow 4-plane /
    * 8-table config to keep recall useful at that angle; production near-dup
    * thresholds (≥0.9) use the deeper defaults.
    */
  val dedupEmbedding = Q(
    "x_dedup_embedding_cosine",
    (s, d) =>
      DedupOps
        .embeddingNearDups(
          Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.35, nPlanes = 4, tables = 8)
        .orderBy("id_a", "id_b")
  )

  /** Embedding near-dup pairs in the regime dedup actually runs at
    * (cosine ≥ 0.9), via [[DedupOps.embeddingNearDupsAuto]]'s
    * corpus-size-adaptive SRP geometry — bucket count grows with n so
    * candidate volume stays ~linear (SCALING.md measures it). Carries the
    * exact all-pairs DuckDB oracle: false positives are impossible (every
    * candidate is verified by exact cosine) and per-pair detection at the
    * auto geometry's targetRecall=0.999 makes a miss on qualifying pairs
    * vanishingly unlikely; EmbeddingNearDupSpec proves non-vacuous exact
    * parity on planted near-identical vectors, since the driver testdata
    * contains no pairs above cosine 0.61 and this query is rightly empty
    * there. Output is id-only — cosine values stay out of the hash compare
    * so float association order can never flip a bit.
    */
  /** Cross-corpus embedding near-dup ([[graft.functions.DedupOps
    * .embeddingNearDupsAgainstCorpus]] — "are these new embeddings already
    * in the index"). Even vec_ids are the corpus; odd the batch, with every
    * vec_id ≡ 1 (mod 10) REPLACED by its even neighbor's vector — planted
    * exact copies whose SRP recall is exactly 1 (identical vectors share
    * every bucket) and whose cosine sits at 1.0, far from the threshold, so
    * the exact all-pairs oracle is boundary-safe and live (50 pairs at
    * sf0.001).
    */
  val dedupEmbeddingIncremental = Q(
    "x_dedup_embedding_incremental",
    (s, d) => {
      val embs   = Tables.embeddings(s, d)
      val corpus = embs.filter(col("vec_id") % 2 === 0)
      val batch = embs.filter(col("vec_id") % 2 === 1)
        .join(corpus.select(col("vec_id").as("__src"), col("embedding").as("__e")),
          col("vec_id") - 1 === col("__src"), "left")
        .select(col("vec_id"),
          when(col("vec_id") % 10 === 1, col("__e")).otherwise(col("embedding")).as("embedding"))
      DedupOps
        .embeddingNearDupsAgainstCorpus(corpus, batch, "vec_id", "embedding", threshold = 0.9)
        .select(col("batch_id"), col("corpus_id"))
        .orderBy("batch_id", "corpus_id")
    },
    Some("""WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
            b AS (
              SELECT o.vec_id,
                CASE WHEN o.vec_id % 10 = 1 THEN s.embedding ELSE o.embedding END AS embedding
              FROM embeddings o LEFT JOIN c s ON s.vec_id = o.vec_id - 1
              WHERE o.vec_id % 2 = 1)
            SELECT b.vec_id AS batch_id, c.vec_id AS corpus_id
            FROM b JOIN c ON list_cosine_similarity(b.embedding, c.embedding) >= 0.9
            ORDER BY batch_id, corpus_id""")
  )

  val dedupEmbeddingNearDup = Q(
    "x_dedup_embedding_neardup",
    (s, d) =>
      DedupOps
        .embeddingNearDupsAuto(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.9)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b"),
    Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9
            ORDER BY id_a, id_b""")
  )

  /** Brute-force exact cosine top-5 for the first 10 vectors — the ANN
    * baseline. Output is rank-only (ints) so the oracle hash is float-safe.
    */
  val annBruteForce = Q(
    "x_ann_bruteforce",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnSearch
        .bruteForceTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                list_sum(list_transform(list_zip(q.qe, e.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
              FROM embeddings e, q WHERE e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** The registry LSH config (4 planes × 8 tables, 2 probes): shallow
    * because this corpus has no planted clusters (top-neighbor cosine
    * ≈ 0.45-0.5) — theoretical recall at that angle is ~0.8, and AccuracySpec
    * pins the measured recall against `x_ann_bruteforce`. Clustered
    * production data uses deeper planes.
    */
  private val lshPlanesT = 8
  private val lshPlanesP = 4

  /** Row-level SQL replay of [[AnnSearch.lshTopK]] under the registry
    * config. The seed-fixed hyperplanes are MODEL STATE known at build time
    * (like `x_ann_int8`'s scale rule), so they embed as literal DOUBLE
    * lists; every downstream decision is then engine-portable: the sign dot
    * is the same sequential float→double product chain the `srp_buckets`
    * kernel folds (the proven `x_ann_bruteforce` list_sum pattern), the
    * multi-probe flip picks the min-|margin| plane with the same
    * (|dot|, plane) tie-break as the kernel's strict-< ascending scan, and
    * candidate pairs dedup across tables before the exact-cosine rank.
    */
  private def lshOracleSql: String = {
    val values = (for {
      (planes, t) <- AnnSearch.srpPlanes(lshPlanesT, lshPlanesP, 64).zipWithIndex
      p <- 0 until lshPlanesP
    } yield s"($t, $p, [${planes(p).map(_.toString).mkString(", ")}])")
      .mkString(", ")
    s"""WITH planes(tbl, pl, pv) AS (VALUES $values),
        dots AS (
          SELECT e.vec_id, p.tbl, p.pl,
            list_sum(list_transform(range(len(e.embedding)),
              i -> CAST(e.embedding[i+1] AS DOUBLE) * p.pv[i+1])) AS dot
          FROM embeddings e, planes p),
        buck AS (
          SELECT vec_id, tbl,
            CAST(sum(CASE WHEN dot >= 0 THEN (1 << pl) ELSE 0 END) AS INT) AS b0
          FROM dots GROUP BY vec_id, tbl),
        flip AS (
          SELECT vec_id, tbl, pl AS fpl FROM (
            SELECT vec_id, tbl, pl,
              row_number() OVER (PARTITION BY vec_id, tbl ORDER BY abs(dot), pl) AS rn
            FROM dots WHERE vec_id < 10) WHERE rn = 1),
        qb AS (
          SELECT vec_id AS query_id, tbl, b0 AS bucket FROM buck WHERE vec_id < 10
          UNION ALL
          SELECT b.vec_id, b.tbl, xor(b.b0, (1 << f.fpl))
          FROM buck b JOIN flip f ON f.vec_id = b.vec_id AND f.tbl = b.tbl
          WHERE b.vec_id < 10),
        cand AS (
          SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
          FROM qb q JOIN buck c ON c.tbl = q.tbl AND c.b0 = q.bucket
          WHERE c.vec_id <> q.query_id),
        scored AS (
          SELECT cd.query_id, cd.neighbor_id,
            list_sum(list_transform(list_zip(eq.embedding, en.embedding),
              pz -> CAST(pz[1] AS DOUBLE) * CAST(pz[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(eq.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(en.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
          FROM cand cd
          JOIN embeddings eq ON eq.vec_id = cd.query_id
          JOIN embeddings en ON en.vec_id = cd.neighbor_id)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** LSH-bucketed ANN (sign random projection) — the scale path, and since
    * r10 fully oracled: bucket membership, multi-probe flips, and the
    * within-candidate exact cosine all replay in SQL (see [[lshOracleSql]]),
    * so the hash compare covers the whole approximate pipeline, not just a
    * recall bound.
    */
  val annLsh = Q(
    "x_ann_lsh",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnSearch
        .lshTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
          nPlanes = lshPlanesP, tables = lshPlanesT, probes = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some(lshOracleSql)
  )

  /** IVF ANN — the second scale path: corpus partitioned into
    * nearest-centroid cells, queries probe their nProbe nearest cells, exact
    * cosine only within probed cells. Since r10 the registry runs the
    * INTEGER coarse quantizer ([[AnnSearch.ivfIntTopK]] over
    * [[graft.functions.ClusterOps.kMeansModel]], k=16 cells, 2 Lloyd
    * iterations, nProbe=6), which makes the whole pipeline row-level
    * oracle-able: the SQL replays quantize → 2 training iterations → corpus
    * cell assignment → per-query probe ranking (all BIGINT-exact, the
    * `x_kmeans` CTE chain) and exact cosine within probed cells (the
    * `x_ann_bruteforce` pattern). Recall against brute force is gated in
    * AccuracySpec.
    */
  val annIvf = Q(
    "x_ann_ivf",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnSearch
        .ivfIntTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nCells = 16, nProbe = 6, iters = 2, cacheKey = Some(d))
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (
              SELECT vec_id, embedding, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings),
            c0 AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 16),
            a1 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c0 c) WHERE rn = 1),
            s1 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a1, unnest(range(1, 65)) AS t(i) GROUP BY cid, i),
            c1 AS (
              SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
              FROM s1 GROUP BY cid),
            a2 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c1 c) WHERE rn = 1),
            s2 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a2, unnest(range(1, 65)) AS t(i) GROUP BY cid, i),
            c2 AS (
              SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
              FROM s2 GROUP BY cid),
            cells AS (
              SELECT vec_id, cid AS cell FROM (
                SELECT q.vec_id, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c2 c) WHERE rn = 1),
            probes AS (
              SELECT vec_id AS query_id, cid AS cell FROM (
                SELECT q.vec_id, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c2 c WHERE q.vec_id < 10) WHERE rn <= 6),
            scored AS (
              SELECT p.query_id, ce.vec_id AS neighbor_id,
                list_sum(list_transform(list_zip(eq.embedding, en.embedding),
                  pz -> CAST(pz[1] AS DOUBLE) * CAST(pz[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(eq.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(en.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
              FROM probes p
              JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
              JOIN q eq ON eq.vec_id = p.query_id
              JOIN q en ON en.vec_id = ce.vec_id)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** Top-k search over the int8-QUANTIZED index ([[graft.functions.AnnSearch
    * .int8TopK]]) — proves the 4× compression of `x_embedding_quantize`
    * actually SERVES queries. Every arithmetic step is exact (integer dot in
    * the codegen'd `int8_dot` kernel; scale factors are single IEEE ops on
    * exactly-derived doubles), so the full quantize→score→rank pipeline is
    * replayed in SQL and hash-compared — not recall-gated like the
    * approximate ANN paths.
    */
  val annInt8 = Q(
    "x_ann_int8",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnSearch
        .int8TopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH s AS (
              SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
              FROM embeddings),
            qz AS (
              SELECT vec_id, scale,
                CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
                END AS qvec
              FROM s),
            q AS (SELECT vec_id AS query_id, qvec AS qq, scale AS qs FROM qz WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                q.qs * c.scale * CAST(list_sum(list_transform(range(len(q.qq)),
                  i -> q.qq[i+1] * c.qvec[i+1])) AS DOUBLE) AS score
              FROM qz c, q WHERE c.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** Fuzzy-dedup CLUSTERING: the near-dup pairs from [[dedupMinhash]] grouped
    * into transitive components (alternating large-star/small-star,
    * [[graft.functions.ClusterOps.connectedComponents]]) with first-wins
    * canonical selection — one row per doc with its cluster id and a keep
    * flag. Oracle: exact all-pairs Jaccard pairs (same oracle-validity
    * argument as [[dedupMinhash]]) closed transitively by a recursive CTE,
    * then min-id per component.
    */
  val dedupClusters = Q(
    "x_dedup_clusters",
    (s, d) =>
      ClusterOps
        .dedupClusters(Tables.documents(s, d), "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.8)
        .orderBy("doc_id"),
    Some("""WITH RECURSIVE toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            pairs AS (
              SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
            edges AS (
              SELECT ida AS u, idb AS v FROM pairs
              UNION SELECT idb, ida FROM pairs),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach),
            lbl AS (SELECT node, MIN(reach) AS cid FROM walk GROUP BY node)
            SELECT d.doc_id,
              COALESCE(l.cid, d.doc_id) AS cluster_id,
              CAST(CASE WHEN COALESCE(l.cid, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS INT) AS keep
            FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id
            ORDER BY doc_id""")
  )

  /** BM25 ranked retrieval ([[graft.functions.QualityLM.bm25TopK]], Okapi
    * TREC-3 formulation) for a fixed 3-term query. Per-(doc, term) scores
    * quantize to BIGINT at 1e-6 before the per-doc sum, so the ranking is
    * integer-exact across engines (the tfidf lesson); the oracle replays
    * tokenize → dl/tf/df/stats → score → top-20 in SQL with structurally
    * identical floating-point expressions.
    */
  val bm25Search = Q(
    "x_bm25_search",
    (s, d) =>
      QualityLM.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("hash", "join", "stream"), topK = 20),
    Some("""WITH toks AS (
              SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
              FROM documents),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
            tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM toks
              WHERE tok IN ('hash', 'join', 'stream') GROUP BY 1, 2),
            dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
            ts AS (
              SELECT tf.doc_id,
                CAST(floor(
                  ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
                  (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)) /
                  (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)) *
                  1e6 + 0.5) AS BIGINT) AS sq
              FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                      JOIN dfreq ON tf.tok = dfreq.tok, stats)
            SELECT doc_id, CAST(sum(sq) AS BIGINT) AS score
            FROM ts GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""")
  )

  /** Per-source corpus report card — the summary every curation run emits
    * before/after each stage: per source (plus the ROLLUP total row), doc
    * count, mean tokens and chars, and the short-doc rate. All means are
    * ppm by INTEGER division over integer sums — order-independent and
    * bit-exact cross-engine (a double `avg` here would hash-diverge on
    * partial-aggregation order). Token counts ride the one-pass
    * `token_counts` kernel; the whole query is one rollup aggregation.
    */
  val qualityBySource = Q(
    "x_quality_by_source",
    (s, d) => {
      val tok = graft.functions.NativeFns.token_counts(col("text"), Nil).getField("n_tokens")
      Tables.documents(s, d)
        .select(col("source"), tok.as("__t"), col("n_chars"))
        .rollup(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("CAST((sum(__t) * 1000000) DIV count(1) AS BIGINT)").as("mean_tokens_ppm"),
          expr("CAST((sum(n_chars) * 1000000) DIV count(1) AS BIGINT)").as("mean_chars_ppm"),
          expr("CAST((sum(CASE WHEN __t < 50 THEN 1 ELSE 0 END) * 1000000) DIV count(1) AS BIGINT)")
            .as("short_rate_ppm"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""WITH t AS (
              SELECT source,
                len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
                n_chars
              FROM documents)
            SELECT source, count(*) AS n_docs,
              CAST((sum(tok) * 1000000) // count(*) AS BIGINT) AS mean_tokens_ppm,
              CAST((sum(n_chars) * 1000000) // count(*) AS BIGINT) AS mean_chars_ppm,
              CAST((sum(CASE WHEN tok < 50 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS short_rate_ppm
            FROM t GROUP BY ROLLUP(source)
            ORDER BY source NULLS FIRST""")
  )

  /** Vocabulary-coverage curve ([[graft.functions.QualityLM
    * .vocabCoverage]]): coverage of the top-{10,100,1000} token types in
    * parts-per-million by INTEGER division — bit-exact cross-engine, no
    * doubles. One corpus aggregation; everything after runs on the
    * Heaps-law type frame.
    */
  val vocabCoverage = Q(
    "x_vocab_coverage",
    (s, d) =>
      QualityLM.vocabCoverage(Tables.documents(s, d), "doc_id", "text")
        .orderBy("v"),
    Some("""WITH toks AS (
              SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
              FROM documents),
            tf AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
            ranked AS (
              SELECT tok, c,
                row_number() OVER (ORDER BY c DESC, tok) AS r,
                sum(c) OVER (ORDER BY c DESC, tok
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM tf),
            tot AS (SELECT sum(c) AS total, count(*) AS types FROM tf)
            SELECT CAST(r AS BIGINT) AS v,
              CAST((cum * 1000000) // total AS BIGINT) AS coverage_ppm,
              CAST(types AS BIGINT) AS n_types,
              CAST(total AS BIGINT) AS n_tokens
            FROM ranked, tot WHERE r IN (10, 100, 1000) ORDER BY v""")
  )

  /** [[graft.functions.ClusterOps.keepBestInClusters]] — fuzzy dedup with
    * the Dolma/RedPajama representative policy: within each duplicate
    * cluster keep the argmax-by-quality doc (here n_chars; ties by id), not
    * the smallest id. Same oracle-validity argument as [[dedupClusters]]
    * (exact all-pairs Jaccard closed by a recursive CTE), with the min-id
    * canonical selection replaced by a window argmax.
    */
  val dedupKeepBest = Q(
    "x_dedup_keep_best",
    (s, d) =>
      ClusterOps
        .keepBestInClusters(Tables.documents(s, d), "doc_id", "text", "n_chars",
          shingleN = 3, k = 64, bands = 16, threshold = 0.8)
        .orderBy("doc_id"),
    Some("""WITH RECURSIVE toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            pairs AS (
              SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
            edges AS (
              SELECT ida AS u, idb AS v FROM pairs
              UNION SELECT idb, ida FROM pairs),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach),
            lbl AS (SELECT node, MIN(reach) AS cid FROM walk GROUP BY node),
            lab AS (
              SELECT d.doc_id, COALESCE(l.cid, d.doc_id) AS cluster_id, d.n_chars
              FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id),
            r AS (
              SELECT doc_id, cluster_id,
                row_number() OVER (PARTITION BY cluster_id
                  ORDER BY n_chars DESC, doc_id) AS rn
              FROM lab)
            SELECT doc_id, cluster_id,
              CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
            FROM r ORDER BY doc_id""")
  )

  /** Train/eval contamination scan ([[DedupOps.contamination]]): training docs
    * sharing any word 5-gram with the benchmark split (doc_id % 40 = 3 plays
    * the benchmark here). Eval side broadcast — the corpus side never
    * shuffles pre-aggregation.
    */
  val contaminationScan = Q(
    "x_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps
        .contamination(
          docs.filter(col("doc_id") % 40 =!= 3),
          docs.filter(col("doc_id") % 40 === 3),
          "doc_id", "text", n = 5)
        .orderBy("train_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 5
                  THEN list_distinct(list_transform(range(1, len(t) - 3),
                         i -> array_to_string(t[i:i+4], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            tr AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh WHERE doc_id % 40 <> 3),
            ev AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh WHERE doc_id % 40 = 3)
            SELECT tr.train_id,
              COUNT(DISTINCT ev.eval_id) AS n_eval_docs,
              COUNT(DISTINCT tr.g) AS n_shared_shingles
            FROM tr JOIN ev ON tr.g = ev.g
            GROUP BY tr.train_id
            ORDER BY train_id""")
  )

  /** PII redaction ([[Curation.redactPii]]): typed placeholder substitution
    * for emails / SSN-like ids / IPv4s / phones, plus per-category counts on
    * the raw text. The corpus has no organic PII, so the query plants a
    * deterministic PII tail on every 5th doc — identically on both sides —
    * making every pattern (and the redaction ORDER, ids before phones) hot.
    * Pure projection: no shuffle, codegen'd regex, scan-speed at any scale.
    */
  val piiRedact = Q(
    "x_pii_redact",
    (s, d) => {
      val raw = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact u"), col("doc_id"), lit("@ex.com from 10.0."),
          col("doc_id") % 256, lit(".7 ssn 123-45-6789 call +1 (555) 123-4567")))
        .otherwise(col("text"))
      val base = Tables.documents(s, d).select(col("doc_id"), raw.as("raw"))
      val (e, ids, ip, ph) = Curation.piiCounts(col("raw"))
      base.select(
        col("doc_id"),
        Curation.redactPii(col("raw")).as("clean"),
        e.cast("long").as("n_emails"),
        ids.cast("long").as("n_ids"),
        ip.cast("long").as("n_ips"),
        ph.cast("long").as("n_phones"))
        .orderBy("doc_id")
    },
    Some(s"""WITH raw AS (
              SELECT doc_id,
                CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com from 10.0.'
                       || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789 call +1 (555) 123-4567'
                  ELSE text END AS raw
              FROM documents)
            SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
                '${graft.functions.Curation.emailRe}', '<EMAIL>', 'g'),
                '${graft.functions.Curation.ssnRe}', '<ID>', 'g'),
                '${graft.functions.Curation.ipRe}', '<IP>', 'g'),
                '${graft.functions.Curation.phoneRe}', '<PHONE>', 'g') AS clean,
              CAST(len(regexp_extract_all(raw, '${graft.functions.Curation.emailRe}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(raw, '${graft.functions.Curation.ssnRe}')) AS BIGINT) AS n_ids,
              CAST(len(regexp_extract_all(raw, '${graft.functions.Curation.ipRe}')) AS BIGINT) AS n_ips,
              CAST(len(regexp_extract_all(raw, '${graft.functions.Curation.phoneRe}')) AS BIGINT) AS n_phones
            FROM raw ORDER BY doc_id""")
  )

  /** Deterministic weighted source mixing ([[Curation.sampleMixture]]):
    * target rate per source bucket (srcK → (K mod 4 + 1)·0.25), decided by
    * salted md5 of the doc id — reproducible across engines and
    * partitionings, map-side only. Row-level oracle: DuckDB computes the
    * identical md5 decision per doc.
    */
  val mixSources = Q(
    "x_mix_sources",
    (s, d) => {
      val k    = substring(col("source"), 4, 10).cast("int")
      val rate = (pmod(k, lit(4)).cast("double") + 1.0) * 0.25
      Curation
        .sampleMixture(Tables.documents(s, d), "doc_id", rate, "mix42")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some("""WITH r AS (
              SELECT doc_id, source,
                (CAST(substr(source, 4) AS INT) % 4 + 1) * 0.25 AS rate
              FROM documents)
            SELECT doc_id, source FROM r
            WHERE rate >= 1.0
               OR substr(md5(CAST(doc_id AS VARCHAR) || ':mix42'), 1, 4)
                    < printf('%04x', CAST(rate * 65536 AS INT))
            ORDER BY doc_id""")
  )

  /** Exact top-25%-by-score data selection ([[Curation.selectTopFraction]]
    * — the FineWeb/DCLM quality-threshold step) via the histogram-threshold
    * shape: no global sort, the corpus pays one hash aggregation + one
    * broadcast filter; only the boundary-score bucket is ranked. Row-level
    * oracle: DuckDB replays histogram, threshold, and boundary tie-break.
    */
  val selectTopQuantile = Q(
    "x_select_top_quantile",
    (s, d) => {
      Curation
        .selectTopFraction(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", fraction = 0.25)
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT n_chars AS s, count(*) AS c FROM documents GROUP BY 1),
            cum AS (
              SELECT s, c,
                sum(c) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM h),
            k AS (SELECT CAST(ceil(0.25 * sum(c)) AS BIGINT) AS k FROM h),
            thr AS (
              SELECT s AS t, k.k - (cum - c) AS take
              FROM cum, k WHERE cum >= k.k ORDER BY s DESC LIMIT 1)
            SELECT doc_id, n_chars FROM (
              SELECT d.doc_id, d.n_chars FROM documents d, thr WHERE d.n_chars > thr.t
              UNION ALL
              SELECT doc_id, n_chars FROM (
                SELECT d.doc_id, d.n_chars,
                  row_number() OVER (ORDER BY d.doc_id) AS rn, thr.take AS take
                FROM documents d, thr WHERE d.n_chars = thr.t)
              WHERE rn <= take)
            ORDER BY doc_id""")
  )

  /** Language-stratified top-quantile selection
    * ([[Curation.selectTopFractionByGroup]]): the per-language form of the
    * FineWeb quality cut — each language keeps its own exact top 25% by
    * score instead of competing in one global pool. Same
    * histogram/no-global-sort shape, windows partitioned by language.
    */
  val selectTopQuantileLang = Q(
    "x_select_top_quantile_lang",
    (s, d) => {
      Curation
        .selectTopFractionByGroup(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "n_chars", "lang", fraction = 0.25)
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT lang AS g, n_chars AS s, count(*) AS c FROM documents GROUP BY 1, 2),
            cum AS (
              SELECT g, s, c,
                sum(c) OVER (PARTITION BY g ORDER BY s DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM h),
            k AS (SELECT g, CAST(ceil(0.25 * sum(c)) AS BIGINT) AS k FROM h GROUP BY g),
            thr AS (
              SELECT g, t, take FROM (
                SELECT cum.g, cum.s AS t, k.k - (cum.cum - cum.c) AS take,
                  row_number() OVER (PARTITION BY cum.g ORDER BY cum.s DESC) AS rn
                FROM cum JOIN k USING (g) WHERE cum.cum >= k.k) WHERE rn = 1)
            SELECT doc_id, lang, n_chars FROM (
              SELECT d.doc_id, d.lang, d.n_chars
              FROM documents d JOIN thr ON thr.g = d.lang WHERE d.n_chars > thr.t
              UNION ALL
              SELECT doc_id, lang, n_chars FROM (
                SELECT d.doc_id, d.lang, d.n_chars,
                  row_number() OVER (PARTITION BY d.lang ORDER BY d.doc_id) AS rn,
                  thr.take AS take
                FROM documents d JOIN thr ON thr.g = d.lang WHERE d.n_chars = thr.t)
              WHERE rn <= take)
            ORDER BY doc_id""")
  )

  /** Per-domain contribution cap ([[Curation.capPerDomain]] — RefinedWeb's
    * guard against any one site dominating the mix): ≤10 docs per source,
    * chosen by salted-md5 priority so the sample is reproducible across
    * engines/partitionings. WindowGroupLimit applies the cap map-side (hot
    * domains never concentrate on one reducer). Row-level oracle: identical
    * md5 priority ranking in DuckDB.
    */
  val domainCap = Q(
    "x_domain_cap",
    (s, d) => {
      Curation
        .capPerDomain(
          Tables.documents(s, d).select(col("doc_id"), col("source")),
          "doc_id", "source", cap = 10, salt = "cap42")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source FROM (
              SELECT doc_id, source,
                row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cap42'), doc_id) AS rn
              FROM documents)
            WHERE rn <= 10 ORDER BY doc_id""")
  )

  /** Decontamination = [[contaminationScan]]'s flagged ids anti-joined back
    * out of the training split. The contaminated id set is tiny next to the
    * corpus (it only contains docs overlapping the benchmark), so it
    * broadcasts and the corpus side passes through map-side — the removal
    * costs one scan.
    */
  val decontaminate = Q(
    "x_decontaminate",
    (s, d) => {
      val docs  = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 40 =!= 3)
      val bad = DedupOps
        .contamination(train, docs.filter(col("doc_id") % 40 === 3), "doc_id", "text", n = 5)
        .select(col("train_id").as("doc_id"))
      train
        .join(broadcast(bad), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 5
                  THEN list_distinct(list_transform(range(1, len(t) - 3),
                         i -> array_to_string(t[i:i+4], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            tr AS (SELECT doc_id AS train_id, unnest(s) AS g FROM sh WHERE doc_id % 40 <> 3),
            ev AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh WHERE doc_id % 40 = 3),
            bad AS (SELECT DISTINCT tr.train_id FROM tr JOIN ev ON tr.g = ev.g)
            SELECT d.doc_id, d.lang, d.source FROM documents d
            WHERE d.doc_id % 40 <> 3 AND d.doc_id NOT IN (SELECT train_id FROM bad)
            ORDER BY doc_id""")
  )

  /** Incremental ingestion dedup ([[BloomDedup.newAgainstCorpus]]): batch
    * rows whose text is new vs an existing corpus, via a distributed Bloom
    * filter (bitset = (word_idx, bits) DataFrame, `bit_or` aggregate) probed
    * map-side, with the maybe-sliver exact-verified. Even ids play the
    * corpus, odd ids the arriving batch; the corpus additionally contains
    * the doc_id ≡ 1 (mod 25) slice — odd members of that slice model
    * RE-DELIVERED docs (upstream at-least-once delivery), the everyday case
    * incremental dedup exists for, and are filtered at every sf. Exact
    * semantics ⇒ plain NOT IN oracle.
    */
  val dedupIncremental = Q(
    "x_dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      BloomDedup
        .newAgainstCorpus(
          docs.filter(col("doc_id") % 2 === 0 || col("doc_id") % 25 === 1),
          docs.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", fpp = 0.01)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chars FROM documents
            WHERE doc_id % 2 <> 0
              AND text NOT IN (SELECT text FROM documents
                               WHERE doc_id % 2 = 0 OR doc_id % 25 = 1)
            ORDER BY doc_id""")
  )

  /** The END-TO-END corpus curation pipeline — the stages above COMPOSED the
    * way a real pre-training data build runs them, as one declarative plan:
    * language gate → length gate → exact dedup (first-wins) → near-dup
    * CLUSTER dedup (canonical per component) → decontamination vs the
    * benchmark split → weighted source mixing. Row-level DuckDB oracle: every
    * stage is mirrored in SQL, including the transitive near-dup closure
    * (recursive CTE) and the identical md5 mixing decision. One query proving
    * the library's pieces compose without glue code — each stage consumes the
    * previous stage's DataFrame.
    */
  /** Oracle for [[curationPipeline]], parameterized on the near-dup pair
    * join: `a.doc_id < b.doc_id` is the exact all-pairs referee (driver
    * gates); `b.doc_id = a.doc_id + 1` is the GEN FACE — GenData plants
    * every >= 0.8 pair at adjacent ids, so the linear join computes the
    * same edge set and the transitive closure over it is unchanged.
    */
  private def curationPipeline1Oracle(joinCond: String, sameSet: Boolean = false): String = {
    // sameSet adds the organic identical-shingle-set arm of the gen face
    // (see exactJaccardOracle) to the pair CTE.
    val sameSetArm = if (sameSet) """
              UNION
              SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id""" else ""
    s"""WITH RECURSIVE gated AS (
              SELECT * FROM documents
              WHERE lang IN ('en','de','es','fr') AND n_chars BETWEEN 30 AND 600),
            exact AS (
              SELECT * FROM gated
              WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY text)),
            toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM exact),
            sh3 AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            pairs AS (
              SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM sh3 a JOIN sh3 b ON $joinCond
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8$sameSetArm),
            edges AS (
              SELECT ida AS u, idb AS v FROM pairs
              UNION SELECT idb, ida FROM pairs),
            walk(node, reach) AS (
              SELECT u, u FROM edges
              UNION
              SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach),
            lbl AS (SELECT node, MIN(reach) AS cid FROM walk GROUP BY node),
            kept AS (
              SELECT e.* FROM exact e LEFT JOIN lbl l ON l.node = e.doc_id
              WHERE COALESCE(l.cid, e.doc_id) = e.doc_id),
            sh5t AS (
              SELECT k.doc_id,
                CASE WHEN len(t.t) >= 5
                  THEN list_distinct(list_transform(range(1, len(t.t) - 3),
                         i -> array_to_string(t.t[i:i+4], ' ')))
                  ELSE [array_to_string(t.t, ' ')] END AS s
              FROM kept k JOIN toks t ON t.doc_id = k.doc_id
              WHERE k.doc_id % 40 <> 3),
            evtoks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
              FROM documents WHERE doc_id % 40 = 3),
            sh5e AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 5
                  THEN list_distinct(list_transform(range(1, len(t) - 3),
                         i -> array_to_string(t[i:i+4], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM evtoks),
            bad AS (
              SELECT DISTINCT tr.doc_id
              FROM (SELECT doc_id, unnest(s) AS g FROM sh5t) tr
              JOIN (SELECT unnest(s) AS g FROM sh5e) ev ON tr.g = ev.g),
            clean AS (
              SELECT * FROM kept
              WHERE doc_id % 40 <> 3 AND doc_id NOT IN (SELECT doc_id FROM bad)),
            mixed AS (
              SELECT doc_id, lang, source, n_chars,
                (CAST(substr(source, 4) AS INT) % 4 + 1) * 0.25 AS rate
              FROM clean)
            SELECT doc_id, lang, source, n_chars FROM mixed
            WHERE rate >= 1.0
               OR substr(md5(CAST(doc_id AS VARCHAR) || ':mix42'), 1, 4)
                    < printf('%04x', CAST(rate * 65536 AS INT))
            ORDER BY doc_id"""
  }

  val curationPipeline = Q(
    "x_curation_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val gated = docs.filter(
        col("lang").isin("en", "de", "es", "fr") && col("n_chars").between(30, 600))
      // truncateLineage: exact feeds the fuzzy-dedup pair generation (two
      // sides), the cluster relabel join, and the kept join — the full-text
      // dedup window otherwise re-runs per consumer. Batch-output-sized pin
      // (SCALE.md class b).
      val exact = gated
        .withColumn("__rk", row_number().over(Window.partitionBy(col("text")).orderBy(col("doc_id"))))
        .filter(col("__rk") === 1).drop("__rk")
        .truncateLineage()
      val kept = exact.join(
        ClusterOps.dedupClusters(exact, "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.8)
          .filter(col("keep") === 1).select("doc_id"),
        Seq("doc_id"))
      val bad = DedupOps
        .contamination(
          kept.filter(col("doc_id") % 40 =!= 3),
          docs.filter(col("doc_id") % 40 === 3),
          "doc_id", "text", n = 5)
        .select(col("train_id").as("doc_id"))
      val clean = kept
        .filter(col("doc_id") % 40 =!= 3)
        .join(broadcast(bad), Seq("doc_id"), "left_anti")
      val srcK = substring(col("source"), 4, 10).cast("int")
      val rate = (pmod(srcK, lit(4)).cast("double") + 1.0) * 0.25
      Curation
        .sampleMixture(clean, "doc_id", rate, "mix42")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(curationPipeline1Oracle("a.doc_id < b.doc_id")),
    genOracle = Some(curationPipeline1Oracle("b.doc_id = a.doc_id + 1", sameSet = true))
  )

  /** Batch-equivalent surface of the streaming set-similarity join
    * ([[graft.streaming.RainStorm.setSimilarityJoinBatch]]): same banded
    * minhash candidate generation, bucket equi-join, time bound, and exact
    * Jaccard verify the streaming operator runs per micro-batch. Timestamps
    * are synthesized as `ts = epoch + doc_id seconds`, so the operator's
    * |l.ts − r.ts| ≤ 5 min bound becomes |id_a − id_b| ≤ 300 in the oracle —
    * it prunes 7 of the 25 planted ≥0.8 pairs at sf0.01, proving the time
    * predicate is live, not decorative. Oracle-able by the same argument as
    * [[dedupMinhash]]: exact all-pairs Jaccard, deterministic banding with
    * detection probability ~0.9998 on the planted ≥0.95 pairs.
    */
  val streamSetSimilarity = Q(
    "x_stream_set_similarity",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), timestamp_seconds(col("doc_id")).as("ts"))
      graft.streaming.RainStorm
        .setSimilarityJoinBatch(docs, docs, "doc_id", "text", "ts",
          threshold = 0.8, shingleN = 3, k = 64, bands = 16, maxSpan = "5 minutes")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE abs(a.doc_id - b.doc_id) <= 300
              AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
            ORDER BY id_a, id_b"""),
    // GEN FACE: planted pairs are adjacent (|id_a - id_b| = 1), so the
    // 5-minute bound never prunes one; the organic same-set arm (see
    // [[exactJaccardOracle]]) keeps the |Δid| <= 300 predicate because the
    // time bound DOES prune far-apart organic duplicates — at gen100 it
    // excluded the 2.5M-ids-apart identical pair on both engines.
    genOracle = Some(s"""${shCte(3)}
        SELECT id_a, id_b, jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, $jaccardSql AS jaccard
          FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
          WHERE $jaccardSql >= 0.8
          UNION
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            AND abs(a.doc_id - b.doc_id) <= 300)
        ORDER BY id_a, id_b""")
  )

  /** Batch-equivalent surface of the streaming trending top-k
    * ([[graft.streaming.RainStorm.trendingTopK]]): the SAME operator code —
    * two chained aggregations, per-window count then top-k with the
    * deterministic (n desc, token asc) tie-break — run over the batch events
    * table (`withWatermark` is eliminated on batch plans), the per-window
    * top-k array exploded to rows so the plain window/ORDER BY oracle can
    * hash-match it. TrendingTopKSpec separately pins the bounded-state
    * sketch form equal to this exact form whenever slots ≥ window vocab.
    */
  val trendingTopK = Q(
    "x_trending_topk",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("ts"))
      graft.streaming.RainStorm
        .trendingTopK(ev, "event_type", "ts", k = 3, windowLen = "1 hour")
        .select(col("window.start").cast("timestamp_ntz").as("hour"),
          posexplode(col("topk")).as(Seq("pos", "t")))
        .select(col("hour"), (col("pos") + 1).cast("long").as("rank"),
          col("t.token").as("token"), col("t.n").as("n"))
        .orderBy("hour", "rank")
    },
    Some("""WITH wc AS (
              SELECT date_trunc('hour', ts) AS hour, event_type AS token, count(*) AS n
              FROM events GROUP BY 1, 2),
            rk AS (
              SELECT hour, token, n,
                row_number() OVER (PARTITION BY hour ORDER BY n DESC, token ASC) AS rank
              FROM wc)
            SELECT hour, rank, token, n FROM rk WHERE rank <= 3 ORDER BY hour, rank""")
  )

  /** The INCREMENTAL-dedup stream's per-batch semantics, driver-checked:
    * the Bloom filter is built ONCE from the corpus (even doc_ids), then two
    * successive "micro-batches" (odd doc_ids split by doc_id mod 4) each
    * probe the SAME prebuilt filter via
    * [[BloomDedup.newAgainstFilter]] — exactly what
    * [[graft.streaming.RainStorm.incrementalDedupStream]] runs per
    * foreachBatch (BloomDedupSpec pins stream == batch on live
    * MemoryStream batches). Exact verify ⇒ each batch keeps precisely its
    * docs whose text is absent from the corpus, so the union has a plain
    * NOT IN oracle.
    */
  val dedupIncrementalStream = Q(
    "x_dedup_incremental_stream",
    (s, d) => {
      val docs   = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      BloomDedup.withCorpusFilter(corpus.select(xxhash64(col("text"))), 0.01) { filt =>
        val b1 = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        val b2 = docs.filter(pmod(col("doc_id"), lit(4)) === 3)
        BloomDedup.newAgainstFilter(b1, "doc_id", "text", filt)
          .unionByName(BloomDedup.newAgainstFilter(b2, "doc_id", "text", filt))
          .select(col("doc_id"), col("n_chars"))
          .orderBy("doc_id")
          .truncateLineage() // materialize before unpersist
      }
    },
    Some("""SELECT doc_id, n_chars FROM documents
            WHERE doc_id % 2 = 1
              AND text NOT IN (SELECT text FROM documents WHERE doc_id % 2 = 0)
            ORDER BY doc_id""")
  )

  /** The streaming NEAR-DUP filter's greedy kept-only semantics,
    * driver-checked via [[graft.streaming.RainStorm.nearDupFilterBatch]] —
    * same single-band bucket keying and first-wins scan as
    * [[graft.streaming.RainStorm.nearDupFilterStream]]
    * (RainStormStreamingSpec pins stream == batch on the same input).
    * SimHash itself is not reproducible in DuckDB, so the fingerprint here
    * is CONSTRUCTED identically on both engines from doc_id: a multiplicative
    * 61-bit base per group of 8 docs, XOR a per-member flip mask with flips
    * confined to bits 16-60 (so a group shares its band-0 bucket). The mask
    * hammings (see RainStormStreamingSpec) make every semantic branch hot:
    * member 1 drops against the kept base; member 2 is within 6 of DROPPED
    * member 1 but 7 from the base, so it passes — proving dropped dups never
    * shadow later docs (an "any earlier row" oracle would fail here); member
    * 4 drops against kept member 2; members 5-7 are far from everything and
    * pass. The oracle replays the same greedy scan as a recursive CTE
    * carrying each bucket's kept-fingerprint list.
    */
  val neardupFilter = Q(
    "x_neardup_filter",
    (s, d) => {
      val base = pmod(expr("doc_id div 8") * lit(1099511628211L), lit(2305843009213693952L))
      val mask = element_at(
        array(lit(0L), lit(131072L), lit(9150170671480832L), lit(2233928253440L),
          lit(9150171762262016L), lit(73201374098096128L), lit(1189522187360927744L),
          lit(722863483319746560L)),
        (pmod(col("doc_id"), lit(8)) + 1).cast("int"))
      val fps = Tables.documents(s, d).select(col("doc_id"), base.bitwiseXOR(mask).as("fp"))
      graft.streaming.RainStorm
        .nearDupFilterBatch(s, fps, "doc_id", "fp", maxHamming = 6)
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE fps AS (
              SELECT doc_id,
                xor((doc_id // 8 * 1099511628211) % 2305843009213693952,
                    CASE doc_id % 8
                      WHEN 0 THEN 0 WHEN 1 THEN 131072
                      WHEN 2 THEN 9150170671480832 WHEN 3 THEN 2233928253440
                      WHEN 4 THEN 9150171762262016 WHEN 5 THEN 73201374098096128
                      WHEN 6 THEN 1189522187360927744 ELSE 722863483319746560 END) AS fp
              FROM documents),
            ranked AS (
              SELECT doc_id, fp, fp % 65536 AS bucket,
                row_number() OVER (PARTITION BY fp % 65536 ORDER BY doc_id) AS rn,
                count(*) OVER (PARTITION BY fp % 65536) AS bsize
              FROM fps),
            greedy AS (
              SELECT bucket, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS kept,
                     CAST([] AS BIGINT[]) AS outs, bsize
              FROM (SELECT DISTINCT bucket, bsize FROM ranked)
              UNION ALL
              SELECT g.bucket, g.rn + 1,
                CASE WHEN len(list_filter(g.kept, x -> bit_count(xor(x, r.fp)) <= 6)) = 0
                     THEN list_append(g.kept, r.fp) ELSE g.kept END,
                CASE WHEN len(list_filter(g.kept, x -> bit_count(xor(x, r.fp)) <= 6)) = 0
                     THEN list_append(g.outs, r.doc_id) ELSE g.outs END,
                g.bsize
              FROM greedy g JOIN ranked r ON r.bucket = g.bucket AND r.rn = g.rn + 1)
            SELECT f.doc_id, f.fp
            FROM (SELECT unnest(outs) AS doc_id FROM greedy WHERE rn = bsize) o
            JOIN fps f USING (doc_id) ORDER BY doc_id""")
  )

  /** C4-style line-level corpus cleaning ([[graft.functions.NativeFns
    * c4_line_clean]] — Raffel et al. JMLR 2020 §2.2, the public web-corpus
    * recipe): terminal-punctuation gate, min-words gate, lorem-ipsum /
    * javascript / brace filters, one codegen'd pass. The documents table has
    * no newlines or punctuation, so the query synthesizes a PAGE per doc —
    * identically on both engines — lines of 8 words whose `(doc_id + line) %
    * 10` decides the planted defect: 0 → no terminal punctuation, 1 → lorem
    * ipsum, 2 → javascript, 3 → a brace, 4 → a 2-word line (under the
    * min-words gate), else a clean "."-terminated line. Every rule is hot at
    * every sf and the oracle replays rules AND synthesis row-level in SQL.
    * (The synthesis HOF is test scaffolding; the operator under test is the
    * kernel projection.)
    */
  val c4LineClean = Q(
    "x_c4_line_clean",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS ws")
        .selectExpr("doc_id",
          """array_join(transform(sequence(0, int((size(ws) + 7) div 8) - 1),
               i -> concat(
                 array_join(slice(ws, int(i*8+1),
                   CASE WHEN pmod(doc_id + i, 10) = 4 THEN 2 ELSE 8 END), ' '),
                 CASE pmod(doc_id + i, 10)
                   WHEN 0 THEN '' WHEN 1 THEN ' lorem ipsum.'
                   WHEN 2 THEN ' javascript ok.' WHEN 3 THEN ' { config }.'
                   ELSE '.' END)),
             '\n') AS page""")
      page
        .select(col("doc_id"), graft.functions.NativeFns.c4_line_clean(col("page")).as("c"))
        .select(col("doc_id"), col("c.clean").as("clean"),
          col("c.n_kept").cast("long").as("n_kept"),
          col("c.n_dropped").cast("long").as("n_dropped"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pg AS (
              SELECT doc_id,
                array_to_string(list_transform(range(0, (len(ws) + 7) // 8),
                  i -> array_to_string(ws[i*8+1 : i*8 + CASE WHEN (doc_id+i)%10 = 4 THEN 2 ELSE 8 END], ' ')
                       || CASE (doc_id+i)%10
                            WHEN 0 THEN '' WHEN 1 THEN ' lorem ipsum.'
                            WHEN 2 THEN ' javascript ok.' WHEN 3 THEN ' { config }.'
                            ELSE '.' END),
                  chr(10)) AS page
              FROM w),
            cl AS (
              SELECT doc_id, page,
                list_filter(string_split(page, chr(10)), l ->
                  regexp_matches(l, '[.!?"]$')
                  AND len(list_filter(string_split(l, ' '), t -> t <> '')) >= 3
                  AND NOT contains(l, '{')
                  AND NOT contains(lower(l), 'lorem ipsum')
                  AND NOT contains(lower(l), 'javascript')) AS kept
              FROM pg)
            SELECT doc_id,
              COALESCE(array_to_string(kept, chr(10)), '') AS clean,
              CAST(len(kept) AS BIGINT) AS n_kept,
              CAST(len(string_split(page, chr(10))) - len(kept) AS BIGINT) AS n_dropped
            FROM cl ORDER BY doc_id""")
  )

  /** Global three-line-SPAN dedup ([[DedupOps.dedupSpans]] — C4's "discard
    * all but one of any three-sentence span occurring more than once",
    * corpus-wide). Pages are synthesized as in [[c4LineClean]] (8-word
    * "."-terminated lines) and two duplication regimes are planted on top,
    * identically in both engines: doc_id % 4 == 1 docs append the SAME
    * 3-line boilerplate block (cross-doc duplication — the minimum such
    * doc_id keeps it, every other loses exactly those 3 lines), and
    * doc_id % 6 == 2 docs append one line repeated 6 times (intra-doc span
    * repetition). The corpus's planted exact-duplicate texts additionally
    * exercise the whole-document case (clean = "" for the later copy). The
    * oracle replays first-occurrence selection over span STRINGS (row_number
    * over (doc_id, idx)) — hash-vs-string grouping equivalence is the same
    * argument as the contamination oracle.
    */
  val dedupSpans = Q(
    "x_dedup_spans",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS ws")
        .selectExpr("doc_id",
          """concat(
               array_join(transform(sequence(0, int((size(ws) + 7) div 8) - 1),
                 i -> concat(array_join(slice(ws, int(i*8+1), 8), ' '), '.')), '\n'),
               CASE WHEN doc_id % 4 = 1
                 THEN '\nsubscribe to our newsletter today.\nfollow us on social media now.\nall rights reserved by site.'
                 WHEN doc_id % 6 = 2
                 THEN repeat('\nrepeat this exact line now.', 6)
                 ELSE '' END) AS page""")
      DedupOps.dedupSpans(page, "doc_id", "page", spanLines = 3)
        .select(col("doc_id"), col("clean"),
          col("n_kept").cast("long").as("n_kept"),
          col("n_removed").cast("long").as("n_removed"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pg AS (
              SELECT doc_id,
                array_to_string(list_transform(range(0, (len(ws) + 7) // 8),
                  i -> array_to_string(ws[i*8+1 : i*8+8], ' ') || '.'), chr(10))
                || CASE WHEN doc_id % 4 = 1
                     THEN chr(10) || 'subscribe to our newsletter today.' || chr(10) ||
                          'follow us on social media now.' || chr(10) || 'all rights reserved by site.'
                     WHEN doc_id % 6 = 2
                     THEN repeat(chr(10) || 'repeat this exact line now.', 6)
                     ELSE '' END AS page
              FROM w),
            ls AS (SELECT doc_id, string_split(page, chr(10)) AS lines FROM pg),
            ln AS (
              SELECT doc_id, unnest(lines) AS l,
                generate_subscripts(lines, 1) - 1 AS i
              FROM ls),
            sp AS (
              SELECT doc_id, unnest(range(0, greatest(len(lines) - 2, 0))) AS i, lines
              FROM ls),
            spans AS (
              SELECT doc_id, i, array_to_string(lines[i+1 : i+3], chr(10)) AS span FROM sp),
            marked AS (
              SELECT doc_id, i,
                row_number() OVER (PARTITION BY span ORDER BY doc_id, i) AS rn,
                count(*) OVER (PARTITION BY span) AS n
              FROM spans),
            removed AS (
              SELECT DISTINCT doc_id, unnest(range(i, i + 3)) AS line
              FROM marked WHERE n > 1 AND rn > 1),
            kept AS (
              SELECT ln.doc_id, ln.i, ln.l FROM ln
              WHERE NOT EXISTS (SELECT 1 FROM removed r
                                WHERE r.doc_id = ln.doc_id AND r.line = ln.i)),
            rebuilt AS (
              SELECT doc_id, array_to_string(list(l ORDER BY i), chr(10)) AS clean,
                count(*) AS k
              FROM kept GROUP BY doc_id)
            SELECT p.doc_id,
              COALESCE(r.clean, '') AS clean,
              CAST(COALESCE(r.k, 0) AS BIGINT) AS n_kept,
              CAST(len(string_split(p.page, chr(10))) - COALESCE(r.k, 0) AS BIGINT) AS n_removed
            FROM pg p LEFT JOIN rebuilt r ON r.doc_id = p.doc_id
            ORDER BY p.doc_id""")
  )

  /** Gopher/MassiveText document-quality gate ([[Curation.gopherQuality]] —
    * Rae et al. 2021, table A1). Pages are synthesized as in [[c4LineClean]]
    * and `doc_id % 7` plants one violation class per slice, identically in
    * both engines: 0 → engineered PASS (stopword octet + padding past the
    * 50-word floor), 1 → `#` symbol flood, 2 → numeric-token flood (alpha
    * fraction), 3 → every line bulleted, 4 → every line ellipsis-terminated,
    * 5/6 → untouched (naturally failing word-count/stop-word floors). Every
    * rule's diagnostic AND the composite keep flag are row-level oracled.
    */
  val gopherQuality = Q(
    "x_gopher_quality",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS ws")
        .selectExpr("doc_id",
          """array_join(transform(sequence(0, int((size(ws) + 7) div 8) - 1),
               i -> concat(array_join(slice(ws, int(i*8+1), 8), ' '), '.')), '\n') AS p""")
        .selectExpr("doc_id",
          """CASE doc_id % 7
               WHEN 0 THEN concat(p, ' the be to of and that have with', repeat(' padd', 60))
               WHEN 1 THEN concat(p, repeat(' #', 40))
               WHEN 2 THEN concat(p, repeat(' 12345', 40))
               WHEN 3 THEN concat('- ', replace(p, '\n', '\n- '))
               WHEN 4 THEN concat(replace(p, '\n', '...\n'), '...')
               ELSE p END AS page""")
      page.select(col("doc_id") +: Curation.gopherQuality(col("page")): _*).orderBy("doc_id")
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pp AS (
              SELECT doc_id,
                array_to_string(list_transform(range(0, (len(ws) + 7) // 8),
                  i -> array_to_string(ws[i*8+1 : i*8+8], ' ') || '.'), chr(10)) AS p
              FROM w),
            pg AS (
              SELECT doc_id,
                CASE doc_id % 7
                  WHEN 0 THEN p || ' the be to of and that have with' || repeat(' padd', 60)
                  WHEN 1 THEN p || repeat(' #', 40)
                  WHEN 2 THEN p || repeat(' 12345', 40)
                  WHEN 3 THEN '- ' || replace(p, chr(10), chr(10) || '- ')
                  WHEN 4 THEN replace(p, chr(10), '...' || chr(10)) || '...'
                  ELSE p END AS page
              FROM pp),
            t AS (
              SELECT doc_id, page,
                list_filter(regexp_split_to_array(page, '[ \n]'), x -> x <> '') AS toks,
                CAST(len(string_split(page, chr(10))) AS DOUBLE) AS n_lines
              FROM pg),
            m AS (
              SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_words,
                CAST(length(translate(page, ' ' || chr(10), '')) AS DOUBLE) / len(toks) AS mean_word_len,
                CAST(len(regexp_extract_all(page, '#')) + len(regexp_extract_all(page, '\.\.\.')) AS DOUBLE)
                  / len(toks) AS symbol_ratio,
                len(regexp_extract_all(page, '(?m)^[-*] ')) / n_lines AS bullet_frac,
                len(regexp_extract_all(page, '(?m)\.\.\.$')) / n_lines AS ellipsis_frac,
                CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                  / len(toks) AS alpha_frac,
                CAST(len(list_filter(toks,
                  x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop
              FROM t)
            SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
              ellipsis_frac, alpha_frac, n_stop,
              CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                         AND mean_word_len BETWEEN 3.0 AND 10.0
                         AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
                         AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
                         AND n_stop >= 2
                    THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM m ORDER BY doc_id""")
  )

  /** The repetition half of the Gopher filter
    * ([[graft.functions.RepetitionSignalsExpr]] — Rae et al. 2021 table A1;
    * [[gopherQuality]] is the quality half): duplicate-line fractions, top
    * 2/3/4-gram char fractions, duplicate 5..10-gram char COVERAGE
    * fractions, all ppm integers, plus the composite keep flag. Pages
    * synthesized as in [[gopherQuality]]; `doc_id % 4` plants one
    * repetition class per slice, identically in both engines: 0 → the same
    * footer line 4× (duplicate-line fractions), 1 → a 3-token phrase 30×
    * (top-n-gram mass), 2 → a 12-token run twice on one line (duplicate
    * 5..10-gram coverage without duplicate lines), 3 → untouched (the
    * small test vocabulary keeps organic 2-gram repetition hot). Every
    * diagnostic is row-level oracled: the full line/n-gram statistics —
    * including the count-then-lexicographic top-n-gram tie-break and the
    * covered-position UNION — are replayed in SQL, and the ppm integer
    * division makes the comparison exact across engines.
    */
  val gopherRepetition = Q(
    "x_gopher_repetition",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS ws")
        .selectExpr("doc_id",
          """array_join(transform(sequence(0, int((size(ws) + 7) div 8) - 1),
               i -> concat(array_join(slice(ws, int(i*8+1), 8), ' '), '.')), '\n') AS p""")
        .selectExpr("doc_id",
          """CASE doc_id % 4
               WHEN 0 THEN concat(p, repeat('\nechoed boilerplate footer line.', 4))
               WHEN 1 THEN concat(p, repeat(' click here now', 30))
               WHEN 2 THEN concat(p, '\none two three four five six seven eight nine ten eleven twelve one two three four five six seven eight nine ten eleven twelve')
               ELSE p END AS page""")
      val r = graft.functions.NativeFns.repetition_signals(col("page")).as("r")
      page.select(col("doc_id"), r)
        .select(col("doc_id") +:
          graft.functions.RepetitionSignalsExpr.fieldNames.map(f => col(s"r.$f").as(f)): _*)
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pp AS (
              SELECT doc_id,
                array_to_string(list_transform(range(0, (len(ws) + 7) // 8),
                  i -> array_to_string(ws[i*8+1 : i*8+8], ' ') || '.'), chr(10)) AS p
              FROM w),
            pg AS (
              SELECT doc_id,
                CASE doc_id % 4
                  WHEN 0 THEN p || repeat(chr(10) || 'echoed boilerplate footer line.', 4)
                  WHEN 1 THEN p || repeat(' click here now', 30)
                  WHEN 2 THEN p || chr(10) || 'one two three four five six seven eight nine ten eleven twelve one two three four five six seven eight nine ten eleven twelve'
                  ELSE p END AS page
              FROM pp),
            t AS (
              SELECT doc_id, page,
                list_filter(regexp_split_to_array(page, '[ \n]'), x -> x <> '') AS toks,
                string_split(page, chr(10)) AS lines
              FROM pg),
            lo AS (SELECT doc_id, unnest(lines) AS l FROM t),
            lc AS (SELECT doc_id, l, count(*) AS c FROM lo GROUP BY doc_id, l),
            lstat AS (
              SELECT doc_id, sum(c) AS n_lines, sum(c * length(l)) AS line_chars,
                sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ,
                sum(CASE WHEN c >= 2 THEN c * length(l) ELSE 0 END) AS dup_chars
              FROM lc GROUP BY doc_id),
            tok AS (
              SELECT doc_id, toks, len(toks) AS ntok,
                length(array_to_string(toks, '')) AS tokchars
              FROM t),
            ng AS (
              SELECT doc_id, n, i,
                array_to_string(toks[i+1 : i+n], ' ') AS g,
                length(array_to_string(toks[i+1 : i+n], '')) AS glen
              FROM (
                SELECT doc_id, toks, nn.n AS n,
                  unnest(range(0, greatest(ntok - nn.n + 1, 0))) AS i
                FROM tok CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) nn(n))),
            ngc AS (SELECT doc_id, n, g, glen, count(*) AS c FROM ng GROUP BY doc_id, n, g, glen),
            top AS (
              SELECT doc_id, n, c * glen AS mass FROM (
                SELECT doc_id, n, glen, c,
                  row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g ASC) AS rn
                FROM ngc WHERE n <= 4)
              WHERE rn = 1),
            tp AS (
              SELECT doc_id,
                coalesce(max(CASE WHEN n = 2 THEN mass END), 0) AS m2,
                coalesce(max(CASE WHEN n = 3 THEN mass END), 0) AS m3,
                coalesce(max(CASE WHEN n = 4 THEN mass END), 0) AS m4
              FROM top GROUP BY doc_id),
            cov AS (
              SELECT DISTINCT doc_id, n, p FROM (
                SELECT ng.doc_id, ng.n, unnest(range(ng.i, ng.i + ng.n)) AS p
                FROM ng JOIN ngc ON ngc.doc_id = ng.doc_id AND ngc.n = ng.n AND ngc.g = ng.g
                WHERE ng.n >= 5 AND ngc.c >= 2)),
            tl AS (
              SELECT doc_id, unnest(toks) AS tokv,
                generate_subscripts(toks, 1) - 1 AS p
              FROM tok),
            covm AS (
              SELECT c.doc_id, c.n, sum(length(tl.tokv)) AS mass
              FROM cov c JOIN tl ON tl.doc_id = c.doc_id AND tl.p = c.p
              GROUP BY c.doc_id, c.n),
            cp AS (
              SELECT doc_id,
                coalesce(max(CASE WHEN n = 5 THEN mass END), 0) AS m5,
                coalesce(max(CASE WHEN n = 6 THEN mass END), 0) AS m6,
                coalesce(max(CASE WHEN n = 7 THEN mass END), 0) AS m7,
                coalesce(max(CASE WHEN n = 8 THEN mass END), 0) AS m8,
                coalesce(max(CASE WHEN n = 9 THEN mass END), 0) AS m9,
                coalesce(max(CASE WHEN n = 10 THEN mass END), 0) AS m10
              FROM covm GROUP BY doc_id),
            fin AS (
              SELECT k.doc_id,
                CASE WHEN ls.n_lines > 0 THEN 1000000 * ls.dup_occ // ls.n_lines ELSE 0 END AS dup_line_ppm,
                CASE WHEN ls.line_chars > 0 THEN 1000000 * ls.dup_chars // ls.line_chars ELSE 0 END AS dup_line_char_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(tp.m2, 0) // k.tokchars ELSE 0 END AS top2_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(tp.m3, 0) // k.tokchars ELSE 0 END AS top3_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(tp.m4, 0) // k.tokchars ELSE 0 END AS top4_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m5, 0) // k.tokchars ELSE 0 END AS dup5_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m6, 0) // k.tokchars ELSE 0 END AS dup6_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m7, 0) // k.tokchars ELSE 0 END AS dup7_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m8, 0) // k.tokchars ELSE 0 END AS dup8_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m9, 0) // k.tokchars ELSE 0 END AS dup9_ppm,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m10, 0) // k.tokchars ELSE 0 END AS dup10_ppm
              FROM tok k
              LEFT JOIN lstat ls ON ls.doc_id = k.doc_id
              LEFT JOIN tp ON tp.doc_id = k.doc_id
              LEFT JOIN cp ON cp.doc_id = k.doc_id)
            SELECT doc_id,
              CAST(dup_line_ppm AS BIGINT) AS dup_line_ppm,
              CAST(dup_line_char_ppm AS BIGINT) AS dup_line_char_ppm,
              CAST(top2_ppm AS BIGINT) AS top2_ppm,
              CAST(top3_ppm AS BIGINT) AS top3_ppm,
              CAST(top4_ppm AS BIGINT) AS top4_ppm,
              CAST(dup5_ppm AS BIGINT) AS dup5_ppm,
              CAST(dup6_ppm AS BIGINT) AS dup6_ppm,
              CAST(dup7_ppm AS BIGINT) AS dup7_ppm,
              CAST(dup8_ppm AS BIGINT) AS dup8_ppm,
              CAST(dup9_ppm AS BIGINT) AS dup9_ppm,
              CAST(dup10_ppm AS BIGINT) AS dup10_ppm,
              CAST(CASE WHEN dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
                         AND top2_ppm <= 200000 AND top3_ppm <= 180000 AND top4_ppm <= 160000
                         AND dup5_ppm <= 150000 AND dup6_ppm <= 140000 AND dup7_ppm <= 130000
                         AND dup8_ppm <= 120000 AND dup9_ppm <= 110000 AND dup10_ppm <= 100000
                    THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM fin ORDER BY doc_id""")
  )

  /** Incremental span dedup ([[DedupOps.dedupSpansAgainstCorpus]]): arriving
    * batch docs (odd doc_ids) lose every line of every span already present
    * in the static corpus (even doc_ids), via the Bloom-bitset probe + exact
    * verify — the corpus is span-hashed once, never re-joined per batch.
    * Pages as in [[dedupSpans]] but the boilerplate block plants on
    * doc_id % 3 == 0, which hits BOTH parities, so cross-side span overlap
    * is guaranteed; organic exact-duplicate texts straddling the parity
    * split additionally exercise the whole-document case. Oracle: batch
    * span strings ∩ corpus span strings → covered lines → rebuild.
    */
  val dedupSpansIncremental = Q(
    "x_dedup_spans_incremental",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS ws")
        .selectExpr("doc_id",
          """concat(
               array_join(transform(sequence(0, int((size(ws) + 7) div 8) - 1),
                 i -> concat(array_join(slice(ws, int(i*8+1), 8), ' '), '.')), '\n'),
               CASE WHEN doc_id % 3 = 0
                 THEN '\nsubscribe to our newsletter today.\nfollow us on social media now.\nall rights reserved by site.'
                 ELSE '' END) AS page""")
      DedupOps
        .dedupSpansAgainstCorpus(
          page.filter(col("doc_id") % 2 === 0),
          page.filter(col("doc_id") % 2 === 1),
          "doc_id", "page", spanLines = 3)
        .select(col("doc_id"), col("clean"),
          col("n_kept").cast("long").as("n_kept"),
          col("n_removed").cast("long").as("n_removed"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pg AS (
              SELECT doc_id,
                array_to_string(list_transform(range(0, (len(ws) + 7) // 8),
                  i -> array_to_string(ws[i*8+1 : i*8+8], ' ') || '.'), chr(10))
                || CASE WHEN doc_id % 3 = 0
                     THEN chr(10) || 'subscribe to our newsletter today.' || chr(10) ||
                          'follow us on social media now.' || chr(10) || 'all rights reserved by site.'
                     ELSE '' END AS page
              FROM w),
            ls AS (SELECT doc_id, string_split(page, chr(10)) AS lines FROM pg),
            sp AS (
              SELECT doc_id, unnest(range(0, greatest(len(lines) - 2, 0))) AS i, lines
              FROM ls),
            spans AS (
              SELECT doc_id, i, array_to_string(lines[i+1 : i+3], chr(10)) AS span FROM sp),
            corpus_spans AS (
              SELECT DISTINCT span FROM spans WHERE doc_id % 2 = 0),
            removed AS (
              SELECT DISTINCT s.doc_id, unnest(range(s.i, s.i + 3)) AS line
              FROM spans s WHERE s.doc_id % 2 = 1
                AND s.span IN (SELECT span FROM corpus_spans)),
            ln AS (
              SELECT doc_id, unnest(lines) AS l,
                generate_subscripts(lines, 1) - 1 AS i
              FROM ls WHERE doc_id % 2 = 1),
            kept AS (
              SELECT ln.doc_id, ln.i, ln.l FROM ln
              WHERE NOT EXISTS (SELECT 1 FROM removed r
                                WHERE r.doc_id = ln.doc_id AND r.line = ln.i)),
            rebuilt AS (
              SELECT doc_id, array_to_string(list(l ORDER BY i), chr(10)) AS clean,
                count(*) AS k
              FROM kept GROUP BY doc_id)
            SELECT p.doc_id,
              COALESCE(r.clean, '') AS clean,
              CAST(COALESCE(r.k, 0) AS BIGINT) AS n_kept,
              CAST(len(string_split(p.page, chr(10))) - COALESCE(r.k, 0) AS BIGINT) AS n_removed
            FROM pg p LEFT JOIN rebuilt r ON r.doc_id = p.doc_id
            WHERE p.doc_id % 2 = 1
            ORDER BY p.doc_id""")
  )

  /** Token-level exact-substring dedup ([[graft.functions.DedupOps
    * .dedupTokenSpans]] — Lee et al. ACL 2022's ExactSubstr rule as fixed-k
    * windows): every duplicated 10-token window loses all but its globally
    * first occurrence. A 12-token boilerplate tail is planted on a quarter
    * of the docs (duplicated hundreds of times — the hot-span regime) on
    * top of whatever duplication the corpus carries organically (exact-dup
    * docs empty out wholesale). Row-level oracle: DuckDB replays the window
    * strings, global first-occurrence ranking, covered-token union, and
    * rebuild.
    */
  val dedupTokenSpans = Q(
    "x_dedup_token_spans",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id",
          """concat(text,
               CASE WHEN doc_id % 4 = 1
                 THEN ' subscribe to our newsletter today for updates and exclusive offers now'
                 ELSE '' END) AS page""")
      DedupOps.dedupTokenSpans(page, "doc_id", "page", spanTokens = 10)
        .select(col("doc_id"), col("clean"),
          col("n_kept").cast("long").as("n_kept"),
          col("n_removed").cast("long").as("n_removed"))
        .orderBy("doc_id")
    },
    Some("""WITH pg AS (
              SELECT doc_id,
                text || CASE WHEN doc_id % 4 = 1
                  THEN ' subscribe to our newsletter today for updates and exclusive offers now'
                  ELSE '' END AS page
              FROM documents),
            t AS (SELECT doc_id, string_split(page, ' ') AS ws FROM pg),
            sp AS (
              SELECT doc_id, unnest(range(0, greatest(len(ws) - 9, 0))) AS i, ws
              FROM t),
            spans AS (
              SELECT doc_id, i, array_to_string(ws[i+1 : i+10], ' ') AS span FROM sp),
            marked AS (
              SELECT doc_id, i,
                row_number() OVER (PARTITION BY span ORDER BY doc_id, i) AS rn,
                count(*) OVER (PARTITION BY span) AS n
              FROM spans),
            removed AS (
              SELECT DISTINCT doc_id, unnest(range(i, i + 10)) AS p
              FROM marked WHERE n > 1 AND rn > 1),
            tok AS (
              SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) - 1 AS p
              FROM t),
            kept AS (
              SELECT tok.doc_id, tok.p, tok.w FROM tok
              WHERE NOT EXISTS (SELECT 1 FROM removed r
                                WHERE r.doc_id = tok.doc_id AND r.p = tok.p)),
            rebuilt AS (
              SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS clean,
                count(*) AS k
              FROM kept GROUP BY doc_id)
            SELECT g.doc_id,
              COALESCE(r.clean, '') AS clean,
              CAST(COALESCE(r.k, 0) AS BIGINT) AS n_kept,
              CAST(len(string_split(g.page, ' ')) - COALESCE(r.k, 0) AS BIGINT) AS n_removed
            FROM pg g LEFT JOIN rebuilt r ON r.doc_id = g.doc_id
            ORDER BY g.doc_id""")
  )

  /** Within-document duplicate-line removal (`dedup_lines` kernel — the
    * CCNet per-document cleanup, distinct from the corpus-level span rules:
    * every repeat of a line inside the SAME doc drops, first occurrences
    * keep their order). Pure map-side projection — no shuffle at any
    * corpus size. Pages synthesized with planted within-doc repeats on a
    * doc_id slice, replayed row-level in SQL.
    */
  val dedupLinesWithin = Q(
    "x_dedup_lines_within",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS ws")
        .selectExpr("doc_id",
          """concat(
               array_join(transform(sequence(0, int((size(ws) + 7) div 8) - 1),
                 i -> concat(array_join(slice(ws, int(i*8+1), 8), ' '), '.')), '\n'),
               CASE WHEN doc_id % 6 = 2
                 THEN repeat('\nrepeat this exact line now.', 6)
                 ELSE '' END) AS page""")
      page
        .select(col("doc_id"), graft.functions.NativeFns.dedup_lines(col("page")).as("__r"))
        .select(col("doc_id"),
          col("__r").getField("clean").as("clean"),
          col("__r").getField("n_kept").as("n_kept"),
          col("__r").getField("n_removed").as("n_removed"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            pg AS (
              SELECT doc_id,
                array_to_string(list_transform(range(0, (len(ws) + 7) // 8),
                  i -> array_to_string(ws[i*8+1 : i*8+8], ' ') || '.'), chr(10))
                || CASE WHEN doc_id % 6 = 2
                     THEN repeat(chr(10) || 'repeat this exact line now.', 6)
                     ELSE '' END AS page
              FROM w),
            ls AS (SELECT doc_id, string_split(page, chr(10)) AS lines FROM pg),
            ln AS (
              SELECT doc_id, unnest(lines) AS l,
                generate_subscripts(lines, 1) - 1 AS i
              FROM ls),
            first AS (
              SELECT doc_id, l, i,
                row_number() OVER (PARTITION BY doc_id, l ORDER BY i) AS rn
              FROM ln),
            kept AS (SELECT doc_id, i, l FROM first WHERE rn = 1),
            rebuilt AS (
              SELECT doc_id, array_to_string(list(l ORDER BY i), chr(10)) AS clean,
                count(*) AS k
              FROM kept GROUP BY doc_id)
            SELECT p.doc_id, r.clean,
              CAST(r.k AS BIGINT) AS n_kept,
              CAST(len(string_split(p.page, chr(10))) - r.k AS BIGINT) AS n_removed
            FROM pg p JOIN rebuilt r USING (doc_id)
            ORDER BY p.doc_id""")
  )

  /** Incremental token-span dedup ([[graft.functions.DedupOps
    * .dedupTokenSpansAgainstCorpus]]) — batch windows already present
    * anywhere in the static corpus lose their tokens, via the corpus-side
    * Bloom bitset + exact verify. Even doc_ids = corpus, odd = batch; a
    * 12-token boilerplate planted on doc_id%3==0 puts hot spans on BOTH
    * sides of the split.
    */
  val dedupTokenSpansIncremental = Q(
    "x_dedup_token_spans_incremental",
    (s, d) => {
      val page = Tables.documents(s, d)
        .selectExpr("doc_id",
          """concat(text,
               CASE WHEN doc_id % 3 = 0
                 THEN ' subscribe to our newsletter today for updates and exclusive offers now'
                 ELSE '' END) AS page""")
      DedupOps
        .dedupTokenSpansAgainstCorpus(
          page.filter(col("doc_id") % 2 === 0),
          page.filter(col("doc_id") % 2 === 1),
          "doc_id", "page", spanTokens = 10)
        .select(col("doc_id"), col("clean"),
          col("n_kept").cast("long").as("n_kept"),
          col("n_removed").cast("long").as("n_removed"))
        .orderBy("doc_id")
    },
    Some("""WITH pg AS (
              SELECT doc_id,
                text || CASE WHEN doc_id % 3 = 0
                  THEN ' subscribe to our newsletter today for updates and exclusive offers now'
                  ELSE '' END AS page
              FROM documents),
            t AS (SELECT doc_id, string_split(page, ' ') AS ws FROM pg),
            bsp AS (
              SELECT doc_id, unnest(range(0, greatest(len(ws) - 9, 0))) AS i, ws
              FROM t WHERE doc_id % 2 = 1),
            bspans AS (
              SELECT doc_id, i, array_to_string(ws[i+1 : i+10], ' ') AS span FROM bsp),
            csp AS (
              SELECT unnest(range(0, greatest(len(ws) - 9, 0))) AS i, ws
              FROM t WHERE doc_id % 2 = 0),
            cspans AS (
              SELECT DISTINCT array_to_string(ws[i+1 : i+10], ' ') AS span FROM csp),
            removed AS (
              SELECT DISTINCT b.doc_id, unnest(range(b.i, b.i + 10)) AS p
              FROM bspans b JOIN cspans c ON b.span = c.span),
            tok AS (
              SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) - 1 AS p
              FROM t WHERE doc_id % 2 = 1),
            kept AS (
              SELECT tok.doc_id, tok.p, tok.w FROM tok
              WHERE NOT EXISTS (SELECT 1 FROM removed r
                                WHERE r.doc_id = tok.doc_id AND r.p = tok.p)),
            rebuilt AS (
              SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS clean,
                count(*) AS k
              FROM kept GROUP BY doc_id)
            SELECT g.doc_id,
              COALESCE(r.clean, '') AS clean,
              CAST(COALESCE(r.k, 0) AS BIGINT) AS n_kept,
              CAST(len(string_split(g.page, ' ')) - COALESCE(r.k, 0) AS BIGINT) AS n_removed
            FROM pg g LEFT JOIN rebuilt r ON r.doc_id = g.doc_id
            WHERE g.doc_id % 2 = 1
            ORDER BY g.doc_id""")
  )

  /** Second composed curation pipeline — the ROUND-7 operators chained in
    * one plan, each stage consuming the previous stage's DataFrame:
    * ExactSubstr token-span dedup → post-dedup length gate → exact top-50%
    * selection by surviving-token count (histogram threshold) → per-domain
    * cap (salted-md5 priority) → deterministic weighted mixing. Row-level
    * oracle: every stage replayed as SQL CTEs (window strings + first-
    * occurrence ranking, gate, histogram/threshold/boundary tie-break,
    * md5-priority cap, md5 mix decision).
    */
  val curationPipeline2 = Q(
    "x_curation_pipeline2",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val deduped = DedupOps.dedupTokenSpans(docs, "doc_id", "text", spanTokens = 10)
        .select(col("doc_id"), col("n_kept"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val gated = deduped.filter(col("n_kept") >= 30)
      val selected = Curation.selectTopFraction(gated, "doc_id", "n_kept", fraction = 0.5)
      val capped = Curation.capPerDomain(selected, "doc_id", "source", cap = 15, salt = "p2cap")
      val srcK = substring(col("source"), 4, 10).cast("int")
      val rate = (pmod(srcK, lit(4)).cast("double") + 1.0) * 0.25
      Curation
        .sampleMixture(capped, "doc_id", rate, "p2mix")
        .select(col("doc_id"), col("source"), col("n_kept"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            sp AS (
              SELECT doc_id, unnest(range(0, greatest(len(ws) - 9, 0))) AS i, ws FROM t),
            spans AS (
              SELECT doc_id, i, array_to_string(ws[i+1 : i+10], ' ') AS span FROM sp),
            marked AS (
              SELECT doc_id, i,
                row_number() OVER (PARTITION BY span ORDER BY doc_id, i) AS rn,
                count(*) OVER (PARTITION BY span) AS n
              FROM spans),
            removed AS (
              SELECT DISTINCT doc_id, unnest(range(i, i + 10)) AS p
              FROM marked WHERE n > 1 AND rn > 1),
            nk AS (
              SELECT t.doc_id,
                CAST(len(t.ws) - (SELECT count(*) FROM removed r WHERE r.doc_id = t.doc_id) AS BIGINT) AS n_kept
              FROM t),
            gated AS (
              SELECT nk.doc_id, nk.n_kept, d.source FROM nk
              JOIN documents d ON d.doc_id = nk.doc_id
              WHERE nk.n_kept >= 30),
            h AS (SELECT n_kept AS s, count(*) AS c FROM gated GROUP BY 1),
            cum AS (
              SELECT s, c,
                sum(c) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM h),
            k AS (SELECT CAST(ceil(0.5 * sum(c)) AS BIGINT) AS k FROM h),
            thr AS (
              SELECT s AS t, k.k - (cum - c) AS take
              FROM cum, k WHERE cum >= k.k ORDER BY s DESC LIMIT 1),
            selected AS (
              SELECT g.doc_id, g.n_kept, g.source FROM gated g, thr WHERE g.n_kept > thr.t
              UNION ALL
              SELECT doc_id, n_kept, source FROM (
                SELECT g.doc_id, g.n_kept, g.source,
                  row_number() OVER (ORDER BY g.doc_id) AS rn, thr.take AS take
                FROM gated g, thr WHERE g.n_kept = thr.t)
              WHERE rn <= take),
            capped AS (
              SELECT doc_id, n_kept, source FROM (
                SELECT doc_id, n_kept, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':p2cap'), doc_id) AS rn
                FROM selected)
              WHERE rn <= 15),
            mixed AS (
              SELECT doc_id, source, n_kept,
                (CAST(substr(source, 4) AS INT) % 4 + 1) * 0.25 AS rate
              FROM capped)
            SELECT doc_id, source, n_kept FROM mixed
            WHERE rate >= 1.0
               OR substr(md5(CAST(doc_id AS VARCHAR) || ':p2mix'), 1, 4)
                    < printf('%04x', CAST(rate * 65536 AS INT))
            ORDER BY doc_id""")
  )

  /** Multimodal metadata extraction over the binary payload column (column
    * path — no decode).
    */
  val multimodalMeta = Q(
    "x_multimodal_meta",
    (s, d) =>
      Multimodal
        .extractMeta(Multimodal.withPayload(Tables.documents(s, d)))
        .select(col("doc_id"), col("n_bytes"), col("fake_width").cast("long").as("fake_width"), col("checksum"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
              octet_length(encode(text)) % 640 + 1 AS fake_width,
              md5(text) AS checksum
            FROM documents ORDER BY doc_id""")
  )

  /** Multimodal decode/frame-sample via typed mapPartitions over a REAL
    * codec: each document carries a valid binary-PPM payload (synthesized,
    * dimensions derived from the text so the oracle can predict them) and
    * `ImageCodec.decode` PARSES header + raster — width/height below come
    * from the decoder, the oracle recomputes them from the generator
    * formulas, and a mismatch means the codec mis-parsed. Output stays
    * scalar-only (driver compare cannot sort arrays): frame hashes fold into
    * `n_frames`; their values are asserted against the format spec in
    * MultimodalSpec. PPM n_bytes = 9-byte fixed header chars + the two
    * dimension strings + 3wh raster.
    */
  val multimodalFrames = Q(
    "x_multimodal_frames",
    (s, d) =>
      Multimodal
        .decodeFrames(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
        .toDF()
        .select(
          col("doc_id"),
          col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          size(col("frame_hashes")).cast("long").as("n_frames")
        )
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
                 GREATEST(octet_length(encode(text)), 1) % 64 + 1 AS w,
                 GREATEST(octet_length(encode(text)), 1) % 48 + 1 AS h
               FROM documents)
            SELECT doc_id,
              CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h AS BIGINT) AS n_bytes,
              CAST(w AS BIGINT) AS width,
              CAST(h AS BIGINT) AS height,
              CAST(LEAST(h, 8) AS BIGINT) AS n_frames
            FROM t ORDER BY doc_id""")
  )

  /** Multimodal decode → nearest-neighbor RESIZE via the same batched
    * mapPartitions shape ([[graft.multimodal.ImageCodec.resizeNearest]]):
    * the thumbnail stage of an image-curation pipeline, run with the REAL
    * codec both ways (parse, resample). The oracle replays the whole chain
    * from the generator formulas — dimensions AND the resized raster's byte
    * sum, each output pixel's source byte recomputed in SQL through the
    * exact NN mapping `in(x·w/ow, y·h/oh)` and the payload's byte-cycling
    * rule — so a mis-parse OR a wrong resample breaks the hash, not just a
    * wrong header. 288k replayed pixels at sf0.01; scalar outputs only.
    */
  val multimodalResize = Q(
    "x_multimodal_resize",
    (s, d) =>
      Multimodal
        .resizeImages(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"),
          col("out_width").cast("long").as("out_width"),
          col("out_height").cast("long").as("out_height"),
          col("pixel_sum"))
        .orderBy("doc_id"),
    Some("""WITH t AS (
              SELECT doc_id, COALESCE(NULLIF(hex(encode(text)), ''), '00') AS hx,
                     GREATEST(octet_length(encode(text)), 1) AS len
              FROM documents),
            d0 AS (SELECT doc_id, hx, len, len % 64 + 1 AS w, len % 48 + 1 AS h FROM t),
            d1 AS (SELECT *, LEAST(w, 16) AS ow, LEAST(h, 12) AS oh FROM d0),
            gy AS (SELECT doc_id, hx, len, w, h, ow, oh, unnest(range(0, oh)) AS y FROM d1),
            gx AS (SELECT doc_id, hx, len, w, h, ow, oh, y, unnest(range(0, ow)) AS x FROM gy),
            gc AS (
              SELECT doc_id, hx, ow, oh,
                (3 * ((y * h // oh) * w + (x * w // ow)) + c.c) % len AS bi
              FROM gx, range(0, 3) c(c)),
            bv AS (
              SELECT doc_id, ow, oh,
                16 * (strpos('0123456789ABCDEF', hx[2*bi+1]) - 1)
                   + (strpos('0123456789ABCDEF', hx[2*bi+2]) - 1) AS b
              FROM gc)
            SELECT doc_id, CAST(ow AS BIGINT) AS out_width, CAST(oh AS BIGINT) AS out_height,
              CAST(sum(b) AS BIGINT) AS pixel_sum
            FROM bv GROUP BY doc_id, ow, oh ORDER BY doc_id""")
  )

  /** Multimodal decode → per-channel FEATURE EXTRACTION
    * ([[graft.multimodal.ImageCodec.channelSums]]): channel byte sums — the
    * brightness/color screening pass of an image pipeline — as integer
    * scalars. The oracle recomputes every raster byte's channel assignment
    * from the generator's cycling rule, so the decoded raster (not just its
    * shape) is verified row-level.
    */
  val multimodalFeatures = Q(
    "x_multimodal_features",
    (s, d) =>
      Multimodal
        .channelStats(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("doc_id"),
    Some("""WITH t AS (
              SELECT doc_id, COALESCE(NULLIF(hex(encode(text)), ''), '00') AS hx,
                     GREATEST(octet_length(encode(text)), 1) AS len
              FROM documents),
            d0 AS (SELECT doc_id, hx, len, len % 64 + 1 AS w, len % 48 + 1 AS h FROM t),
            gk AS (SELECT doc_id, hx, len, unnest(range(0, w * h)) AS k FROM d0),
            gc AS (SELECT doc_id, hx, c.c, (3 * k + c.c) % len AS bi
                   FROM gk, range(0, 3) c(c)),
            bv AS (
              SELECT doc_id, c,
                16 * (strpos('0123456789ABCDEF', hx[2*bi+1]) - 1)
                   + (strpos('0123456789ABCDEF', hx[2*bi+2]) - 1) AS b
              FROM gc)
            SELECT doc_id,
              CAST(sum(CASE WHEN c = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
              CAST(sum(CASE WHEN c = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
              CAST(sum(CASE WHEN c = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b
            FROM bv GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Perceptual average-hash near-dup detection
    * ([[graft.multimodal.Multimodal.averageHash]]) — the multimodal face of
    * the dedup family: decode → 8×8 NN downsample → luminance bit per
    * pixel vs the mean, packed as two 32-bit halves; docs sharing a hash
    * are image-level near-identical (`n_dups` counts the hash-equality
    * group — all 1 on this corpus, which has no byte-identical texts;
    * MultimodalSpec plants an identical pair and a lightly-edited pair and
    * pins equal-hash / small-Hamming respectively).
    * The oracle replays the ENTIRE pipeline from the generator formulas —
    * every sampled pixel's three bytes, the scaled mean comparison
    * (n·lum > tot, division-free), the bit packing, and the hash-equality
    * group counts — so decode, resample, and thresholding are all verified
    * row-level. Scale: map-side decode + one hash-value exchange for the
    * dup counts (SimHash Hamming banding drops in unchanged for near-miss
    * pairs).
    */
  val multimodalAhash = Q(
    "x_multimodal_ahash",
    (s, d) => {
      val h = Multimodal.averageHash(s, Multimodal.withImagePayload(s, Tables.documents(s, d))).toDF()
      h.withColumn("n_dups",
          count(lit(1)).over(Window.partitionBy(col("ahash_hi"), col("ahash_lo"))))
        .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"), col("n_dups"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, COALESCE(NULLIF(hex(encode(text)), ''), '00') AS hx,
                     GREATEST(octet_length(encode(text)), 1) AS len
              FROM documents),
            d0 AS (SELECT doc_id, hx, len, len % 64 + 1 AS w, len % 48 + 1 AS h FROM t),
            d1 AS (SELECT *, LEAST(w, 8) AS ow, LEAST(h, 8) AS oh FROM d0),
            gy AS (SELECT doc_id, hx, len, w, h, ow, oh, unnest(range(0, oh)) AS y FROM d1),
            gx AS (SELECT doc_id, hx, len, w, h, ow, oh, y, unnest(range(0, ow)) AS x FROM gy),
            lum AS (
              SELECT doc_id, ow, oh, y * ow + x AS i,
                (SELECT sum(16 * (strpos('0123456789ABCDEF', hx[2*bi+1]) - 1)
                          + (strpos('0123456789ABCDEF', hx[2*bi+2]) - 1))
                 FROM (SELECT (3 * ((y * h // oh) * w + (x * w // ow)) + c.c) % len AS bi
                       FROM range(0, 3) c(c)) z) AS lv
              FROM gx),
            tot AS (
              SELECT doc_id, ow * oh AS n, sum(lv) AS tv FROM lum
              GROUP BY doc_id, ow, oh),
            bits AS (
              SELECT l.doc_id,
                CAST(COALESCE(sum(CASE WHEN l.i >= 32 AND t.n * l.lv > t.tv
                       THEN 1::BIGINT << (l.i - 32) ELSE 0 END), 0) AS BIGINT) AS ahash_hi,
                CAST(COALESCE(sum(CASE WHEN l.i < 32 AND t.n * l.lv > t.tv
                       THEN 1::BIGINT << l.i ELSE 0 END), 0) AS BIGINT) AS ahash_lo
              FROM lum l JOIN tot t ON l.doc_id = t.doc_id
              GROUP BY l.doc_id)
            SELECT doc_id, ahash_hi, ahash_lo,
              count(*) OVER (PARTITION BY ahash_hi, ahash_lo) AS n_dups
            FROM bits ORDER BY doc_id""")
  )

  /** Heavy-hitters sketch (Misra-Gries typed Aggregator): all tokens with
    * frequency > n/k in one pass with O(k) state — the bounded-memory
    * frequent-tokens pass of a corpus pipeline. With k=32 ≥ this corpus's
    * vocabulary the sketch never sheds, so counts are exact and the output
    * deterministic; on open vocabularies the output is the MG candidate set
    * (guarantee tested in OperatorSpec). BECAUSE this config is provably
    * exact (k ≥ vocabulary ⇒ MG never decrements ⇒ counts are true counts),
    * it carries a plain GROUP BY DuckDB oracle.
    */
  val heavyHitters = Q(
    "x_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "").as[String]
      words
        .select(graft.functions.HeavyHitters.sketch(32).toColumn) // typed select
        .toDF("hh")
        .select(explode(col("hh")).as("hit"))
        .select(col("hit._1").as("token"), col("hit._2").cast("long").as("min_count"))
        .orderBy(col("min_count").desc, col("token"))
    },
    Some("""SELECT token, CAST(count(*) AS BIGINT) AS min_count
            FROM (SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
                  FROM documents)
            GROUP BY token ORDER BY min_count DESC, token""")
  )

  /** Repetition-ratio quality metric (the Gopher-style repetition filter):
    * fraction of bigram occurrences that are repeats of an earlier bigram in
    * the same document, 1 − distinct/total. High ratio ⇒ boilerplate/looped
    * text. Distinct bigrams come from the codegen'd `word_shingles` kernel
    * (first-occurrence dedup), total is just n_tokens−1 — no second
    * tokenize pass.
    */
  val textRepetition = Q(
    "x_text_repetition",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          graft.functions.NativeFns.token_counts(col("text"), Nil).getField("n_tokens").as("__ntok"),
          size(graft.functions.NativeFns.word_shingles(col("text"), 2)).as("__ndistinct")
        )
        .select(
          col("doc_id"),
          (col("__ntok") - 1).cast("long").as("n_bigrams"),
          col("__ndistinct").cast("long").as("n_distinct"),
          when(col("__ntok") < 2, lit(null).cast("double"))
            .otherwise(lit(1.0) - col("__ndistinct").cast("double") / (col("__ntok") - 1).cast("double"))
            .as("repetition_ratio")
        )
        .orderBy("doc_id"),
    Some("""WITH t AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
              FROM documents),
            b AS (
              SELECT doc_id, len(toks) AS ntok,
                CASE WHEN len(toks) >= 2
                  THEN len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))
                  ELSE 1 END AS ndistinct
              FROM t)
            SELECT doc_id,
              CAST(ntok - 1 AS BIGINT) AS n_bigrams,
              CAST(ndistinct AS BIGINT) AS n_distinct,
              CASE WHEN ntok < 2 THEN NULL
                   ELSE 1.0 - CAST(ndistinct AS DOUBLE) / CAST(ntok - 1 AS DOUBLE) END AS repetition_ratio
            FROM b ORDER BY doc_id""")
  )

  /** Corpus n-gram frequency table: non-distinct word bigrams, global counts,
    * deterministic top-20 — the vocabulary/n-gram-stats pass of a corpus
    * pipeline. One explode + one partial→final hash agg; the top-k is a
    * TakeOrdered, not a full sort. (`sequence` guarded: Spark's sequence(0,-1)
    * counts DOWN, so short texts must short-circuit to an empty array.)
    */
  val ngramFreq = Q(
    "x_ngram_freq",
    (s, d) =>
      Tables.documents(s, d)
        .select(TextAnalysis.tokens(col("text")).as("__t"))
        .select(
          explode(
            when(size(col("__t")) >= 2,
              transform(
                sequence(lit(0), size(col("__t")) - 2),
                i => concat_ws(" ", element_at(col("__t"), i + 1), element_at(col("__t"), i + 2))))
              .otherwise(array().cast("array<string>"))
          ).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ngram"))
        .limit(20),
    Some("""WITH toks AS (
              SELECT list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents),
            ng AS (
              SELECT unnest(CASE WHEN len(t) >= 2
                THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                ELSE CAST([] AS VARCHAR[]) END) AS ngram
              FROM toks)
            SELECT ngram, count(*) AS cnt FROM ng
            GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""")
  )

  /** Sketch aggregate: HyperLogLog++ approximate distinct next to the exact
    * count. The sketch's REGISTERS are engine-specific (DuckDB cannot replay
    * them), but the ACCURACY CONTRACT is an exact integer the oracle can pin
    * (r16 verdict #6): published columns are the exact distinct count plus
    * `within_3rsd` = [|approx − exact| ≤ 3·rsd·exact] with rsd = 0.02. HLL++
    * is a deterministic algorithm, so the gate bit is stable for a fixed
    * input; the oracle asserts 1, turning the former ScalaTest-only accuracy
    * gate into a per-round driver-checked row. At 100 TB the sketch is the
    * difference between one pass with bounded memory and a full distinct
    * shuffle.
    *
    * The two aggregates run as SEPARATE plans joined on a trivially-true
    * 1×1 condition, not one `agg(approx, count_distinct)`: mixing them makes
    * Spark's distinct-aggregate rewrite group the partial stage by the
    * distinct key, so a multi-KB HLL++ buffer (rsd 0.02) is allocated PER
    * DISTINCT KEY — millions of sketches, GBs of aggregation state, a memory
    * cliff the r7 sf3 sweep caught at 19× runtime for 3× data (fine at sf1,
    * where the buffers still fit). Split, the sketch runs scan-side with ONE
    * buffer per partition (its whole point) and the exact count pays the
    * ordinary map-side-combined distinct shuffle: 59.7 s → 2.1 s at sf3.
    */
  val approxDistinct = Q(
    "x_approx_distinct_sketch",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val ap = li.agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      val ex = li.select(col("l_partkey")).distinct().agg(count(col("l_partkey")).as("exact_parts"))
      ap.join(ex, lit(true), "inner") // 1×1 rows — a trivial nested-loop join
        .select(col("exact_parts"),
          expr("""CAST(CASE WHEN abs(CAST(approx_parts AS DOUBLE)
                                    - CAST(exact_parts AS DOUBLE))
                            <= 0.06 * CAST(exact_parts AS DOUBLE)
                  THEN 1 ELSE 0 END AS BIGINT)""").as("within_3rsd"))
    },
    Some("""SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
              CAST(1 AS BIGINT) AS within_3rsd
            FROM lineitem""")
  )

  /** KMV (bottom-k) distinct-count sketch, fully oracled — the contrast to
    * `x_approx_distinct_sketch` above, whose HLL++ registers are an opaque
    * engine-internal blob that CANNOT be replayed. Here the entire sketch is
    * exactly specified arithmetic: [[graft.functions.VecMath.hash61]]
    * (Carter-Wegman mod the Mersenne prime 2^61−1 — one HUGEINT line in
    * DuckDB), the bottom-1024 distinct hash state
    * ([[graft.functions.KmvSketch]] — O(k) per partition, map-side partial
    * merge, no distinct shuffle of the corpus), the kth-min order statistic,
    * and the (k−1)·M/kth estimator evaluated with the IDENTICAL double
    * expression shape on both engines (IEEE ops are exactly specified, so
    * same shape ⇒ same bits). sf0.01 has 2 000 distinct part keys > k, so
    * the oracle exercises the estimator path, not just the exact fill path.
    * The exact distinct count rides along for an in-row error witness.
    */
  val distinctKmv = Q(
    "x_distinct_kmv",
    (s, d) => {
      import org.apache.spark.sql.functions.udaf
      val k  = 1024
      val li = Tables.lineitem(s, d)
      val kmv = udaf(graft.functions.KmvSketch.sketch(k))
      val sk = li
        .select(graft.functions.NativeFns
          .hash61(col("l_partkey"), 1803442709493370165L, 784588716359925081L).as("hv"))
        .agg(kmv(col("hv")).as("s"))
        .select(col("s.kthMin").as("kth_min"), col("s.filled").as("filled"))
      val ex = li.agg(count_distinct(col("l_partkey")).as("exact_parts"))
      sk.join(ex, lit(true), "inner") // 1×1
        .select(
          lit(k.toLong).as("k"),
          col("filled"),
          col("kth_min"),
          when(col("filled") < k, col("filled"))
            .otherwise(floor(lit((k - 1).toDouble) *
              (lit(2305843009213693951.0) / col("kth_min").cast("double"))).cast("long"))
            .as("kmv_estimate"),
          col("exact_parts"))
    },
    Some("""WITH h AS (
              SELECT DISTINCT CAST(
                (1803442709493370165::HUGEINT *
                   ((l_partkey % 2305843009213693951 + 2305843009213693951) % 2305843009213693951)
                 + 784588716359925081) % 2305843009213693951 AS BIGINT) AS hv
              FROM lineitem),
            s AS (
              SELECT max(hv) AS kth_min, count(*) AS filled
              FROM (SELECT hv FROM h ORDER BY hv LIMIT 1024)),
            e AS (SELECT count(DISTINCT l_partkey) AS exact_parts FROM lineitem)
            SELECT CAST(1024 AS BIGINT) AS k, CAST(filled AS BIGINT) AS filled, kth_min,
              CASE WHEN filled < 1024 THEN CAST(filled AS BIGINT)
                   ELSE CAST(floor(1023.0 * (2305843009213693951.0 / CAST(kth_min AS DOUBLE))) AS BIGINT)
              END AS kmv_estimate,
              exact_parts
            FROM s, e""")
  )

  /** Quantiles over a fact column: EXACT interpolated percentiles (oracled
    * against DuckDB's quantile_cont). At 100 TB the exact form's full sort is
    * the wrong tool — `approx_percentile` (KLL-style mergeable sketch, one
    * pass, bounded memory) is the scale path; AccuracySpec gates the sketch's
    * error against these exact values so both forms stay honest. Safe in
    * double precision because l_quantity is integer-valued (both engines
    * interpolate a+f·(b−a) over exact integers).
    */
  val quantiles = Q(
    "x_quantiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          expr("percentile(l_quantity, 0.95)").as("p95")
        ),
    Some("""SELECT quantile_cont(l_quantity, 0.25) AS p25,
              quantile_cont(l_quantity, 0.5) AS p50,
              quantile_cont(l_quantity, 0.75) AS p75,
              quantile_cont(l_quantity, 0.95) AS p95
            FROM lineitem""")
  )

  /** CCNet-style LM quality scoring ([[QualityLM.unigramPerplexity]],
    * Wenzek et al. LREC 2020): a unigram LM trained on the `lang = 'en'`
    * slice (the trusted reference, standing in for the paper's Wikipedia)
    * scores every document's per-token perplexity. Perplexity is quantized
    * to centi-units (floor(ppl·100 + 0.5) as bigint) so the oracle hash
    * never rides on cross-engine floating-point summation order — the same
    * int-only discipline as the ANN rank outputs. The plan is
    * broadcast-model + one per-doc aggregation (see the module doc for the
    * 100 TB shape: Heaps'-law vocabulary always broadcasts).
    */
  val qualityPerplexity = Q(
    "x_quality_perplexity",
    (s, d) => {
      val docs = Tables.documents(s, d)
      QualityLM
        .unigramPerplexity(docs, docs.filter(col("lang") === "en"), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          floor(col("ppl") * 100 + 0.5).cast("long").as("ppl_q2"))
        .orderBy("doc_id")
    },
    Some("""WITH ref AS (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE lang = 'en'),
            counts AS (SELECT tok, count(*) AS cnt FROM ref WHERE tok <> '' GROUP BY tok),
            scal AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(count(DISTINCT tok) AS DOUBLE) AS v
                     FROM ref WHERE tok <> ''),
            toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
            lp AS (SELECT t.doc_id,
                     log2((CAST(COALESCE(c.cnt, 0) AS DOUBLE) + 0.5) / (s.n + 0.5 * (s.v + 1))) AS l
                   FROM toks t LEFT JOIN counts c USING (tok) CROSS JOIN scal s WHERE t.tok <> ''),
            sc AS (SELECT doc_id, count(*) AS n_tokens, -avg(l) AS h FROM lp GROUP BY doc_id)
            SELECT doc_id, n_tokens, CAST(floor(pow(2.0, h) * 100 + 0.5) AS BIGINT) AS ppl_q2
            FROM sc ORDER BY doc_id""")
  )

  /** DSIR hashed-bigram importance weights ([[QualityLM.dsirWeights]], Xie
    * et al. NeurIPS 2023): every document weighted by
    * log p_target/p_raw under bag-of-hashed-bigrams distributions
    * (target = the `lang = 'en'` slice, raw = the full table). Buckets are
    * the first 2 hex chars of md5(bigram) — engine-portable, fixed 256-row
    * model, always broadcast. Weight quantized at 1e-4 (bigint) for the
    * same float-free-hash reason as [[qualityPerplexity]].
    */
  val dsirWeights = Q(
    "x_dsir_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      QualityLM
        .dsirWeights(docs, docs.filter(col("lang") === "en"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          floor(col("logw") * 10000 + 0.5).cast("long").as("logw_q4"))
        .orderBy("doc_id")
    },
    Some("""WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
            feats AS (
              SELECT doc_id, lang, unnest(list_transform(range(1, len(w)), i ->
                substr(md5(w[i] || ' ' || w[i+1]), 1, 2))) AS bucket
              FROM ws),
            t_cnt AS (SELECT bucket, count(*) AS tc FROM feats WHERE lang = 'en' GROUP BY bucket),
            r_cnt AS (SELECT bucket, count(*) AS rc FROM feats GROUP BY bucket),
            t_tot AS (SELECT CAST(count(*) AS DOUBLE) AS tn FROM feats WHERE lang = 'en'),
            r_tot AS (SELECT CAST(count(*) AS DOUBLE) AS rn FROM feats),
            model AS (
              SELECT COALESCE(t.bucket, r.bucket) AS bucket,
                ln((CAST(COALESCE(tc, 0) AS DOUBLE) + 0.5) / (tn + 0.5 * 256)) -
                ln((CAST(COALESCE(rc, 0) AS DOUBLE) + 0.5) / (rn + 0.5 * 256)) AS lr
              FROM t_cnt t FULL OUTER JOIN r_cnt r ON t.bucket = r.bucket, t_tot, r_tot)
            SELECT f.doc_id, count(*) AS n_bigrams,
              CAST(floor(sum(m.lr) * 10000 + 0.5) AS BIGINT) AS logw_q4
            FROM feats f JOIN model m USING (bucket)
            GROUP BY f.doc_id ORDER BY f.doc_id""")
  )

  /** SemDeDup ([[DedupOps.semDedup]], Abbas et al. 2023): cluster-then-prune
    * semantic dedup over the embeddings table. Centroids here are the first
    * 8 vectors (a fixed seed assignment — deterministic on both engines;
    * [[graft.functions.ClusterOps.kMeansModel]], the coarse quantizer that
    * `x_ann_ivf` trains, is the production fit). Threshold 0.4 sits
    * in this corpus's near-dup tail (59 global pairs at sf0.01) so the
    * dropped set is non-trivial. The oracle spells cosine out as the
    * explicit double dot/norm formula — same accumulation order as the
    * [[graft.functions.NativeFns.cosine_pairs]] kernel — instead of
    * DuckDB's float-typed `list_cosine_similarity`, keeping both engines'
    * threshold decisions bit-comparable.
    */
  val semDedup = Q(
    "x_semdedup",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      DedupOps
        .semDedup(embs, embs.filter(col("vec_id") < 8), "vec_id", "embedding", threshold = 0.4)
        .orderBy("vec_id")
    },
    Some("""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
            cos_ac AS (
              SELECT e.vec_id, c.cid,
                list_sum(list_transform(list_zip(e.embedding, c.ce),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
              FROM embeddings e, c),
            asg AS (SELECT vec_id, cid AS cluster FROM (
                SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM cos_ac) WHERE rn = 1),
            dropped AS (
              SELECT DISTINCT b.vec_id
              FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              JOIN embeddings ea ON ea.vec_id = a.vec_id
              JOIN embeddings eb ON eb.vec_id = b.vec_id
              WHERE list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4)
            SELECT vec_id, cluster FROM asg WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
            ORDER BY vec_id""")
  )

  /** Distributed Lloyd k-means over the embeddings table
    * ([[ClusterOps.kMeans]], k=8, 2 iterations) — integer-exact end to end
    * (micro-quantized vectors, exact-integer argmin-L2² assignment in the
    * codegen'd `nearest_centroid_l2` kernel, integer-sum/floor-division
    * centroid updates), which is what makes a full iterative-clustering run
    * row-level oracle-able: the DuckDB replay chains one
    * assign→sum→floor-mean CTE block per iteration and every intermediate is
    * a BIGINT. Seeds are the 8 smallest vec_ids; ties take the smaller cid
    * on both engines.
    */
  val kMeansQ = Q(
    "x_kmeans",
    (s, d) => {
      ClusterOps.kMeans(Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 2)
        .orderBy("vec_id")
    },
    Some("""WITH q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings),
            c0 AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
            a1 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c0 c) WHERE rn = 1),
            s1 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a1, unnest(range(1, 65)) AS t(i) GROUP BY cid, i),
            c1 AS (
              SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
              FROM s1 GROUP BY cid),
            a2 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c1 c) WHERE rn = 1),
            s2 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a2, unnest(range(1, 65)) AS t(i) GROUP BY cid, i),
            c2 AS (
              SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
              FROM s2 GROUP BY cid),
            fin AS (
              SELECT vec_id, cid, d FROM (
                SELECT q.vec_id, c.cid,
                  list_sum(list_transform(range(1, len(q.qv)+1),
                    i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))) AS d,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c2 c) WHERE rn = 1)
            SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS dist2 FROM fin ORDER BY vec_id""")
  )

  /** The trained k-means MODEL itself ([[ClusterOps.kMeansModel]], same
    * k=8/iters=2 run as `x_kmeans`) surfaced as a (cluster, dim, value)
    * table — the artifact a serving layer ships (IVF coarse quantizer,
    * cluster router). Every centroid component is an integer
    * (sum-div-count), so the full two-iteration training run is hash-exact
    * against the oracle's replay; the frame is model-sized (k·dim rows)
    * by construction.
    */
  val kMeansModelQ = Q(
    "x_kmeans_model",
    (s, d) => {
      val model =
        ClusterOps.kMeansModel(Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 2)
      import s.implicits._
      model.toSeq
        .flatMap { case (cid, cv) =>
          cv.iterator.zipWithIndex.map { case (v, i) => (cid, (i + 1).toLong, v) }
        }
        .toDF("cluster", "dim", "value")
        .orderBy("cluster", "dim")
    },
    Some("""WITH q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings),
            c0 AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
            a1 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c0 c) WHERE rn = 1),
            s1 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a1, unnest(range(1, 65)) AS t(i) GROUP BY cid, i),
            c1 AS (
              SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
              FROM s1 GROUP BY cid),
            a2 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c1 c) WHERE rn = 1),
            s2 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a2, unnest(range(1, 65)) AS t(i) GROUP BY cid, i)
            SELECT cid AS cluster, CAST(i AS BIGINT) AS dim,
              CAST((s - ((s % n + n) % n)) // n AS BIGINT) AS value
            FROM s2 ORDER BY cluster, dim""")
  )

  /** Top-3 TF-IDF keywords per document ([[QualityLM.tfidfKeywords]]).
    * Ranking happens on the 1e-4-quantized BIGINT score (see the module doc:
    * integer ranks can't flip on a last-ulp `ln` divergence between JVM and
    * DuckDB libm), with token as the deterministic tie-break.
    */
  val tfidfKeywords = Q(
    "x_tfidf_keywords",
    (s, d) => {
      val docs = Tables.documents(s, d)
      QualityLM.tfidfKeywords(docs, "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    },
    Some("""WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY doc_id, tok),
            df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            sc AS (SELECT t.doc_id, t.tok,
                     CAST(floor(t.tf * ln(n.n / d.df) * 10000 + 0.5) AS BIGINT) AS score_q4
                   FROM tf t JOIN df d USING (tok) CROSS JOIN n),
            rk AS (SELECT doc_id, tok, score_q4,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score_q4 DESC, tok) AS rn
                   FROM sc)
            SELECT doc_id, CAST(rn AS BIGINT) AS rank, tok, score_q4
            FROM rk WHERE rn <= 3 ORDER BY doc_id, rank""")
  )

  /** Symmetric int8 embedding quantization ([[AnnSearch.quantizeInt8]]) —
    * the 4× ANN-index compression pass. Exploded scalar rows; scale at 1e-6
    * (bigint). Every arithmetic step is an exact float→double cast, one
    * division, and round-half-up — bit-identical across engines, so the
    * oracle is row-level exact.
    */
  val embeddingQuantize = Q(
    "x_embedding_quantize",
    (s, d) => {
      AnnSearch.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy("vec_id", "pos")
    },
    Some("""WITH s AS (
              SELECT vec_id, embedding,
                list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
              FROM embeddings),
            e AS (SELECT vec_id, scale,
                    unnest(range(len(embedding))) AS pos,
                    unnest(embedding) AS x
                  FROM s)
            SELECT vec_id, CAST(pos AS BIGINT) AS pos,
              CASE WHEN scale = 0 THEN 0
                   ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT) END AS q,
              CAST(floor(scale * 1e6 + 0.5) AS BIGINT) AS scale_q6
            FROM e ORDER BY vec_id, pos""")
  )

  /** Trained NB quality classifier ([[QualityLM.nbClassifier]] — the GPT-3
    * appendix-A / DCLM recipe: learn trusted-vs-pool on a labeled slice,
    * score the whole corpus). Labeled slice = every third doc, positive
    * where `lang IN ('en','de')` — a deterministic stand-in for "looks like
    * the reference corpus". Both the training aggregation (per-bucket class
    * counts over the full 256-bucket domain, Laplace-smoothed LLRs) and the
    * scoring pass (broadcast probe + per-doc integer sum of micro-quantized
    * LLRs + prior) are replayed in SQL row-level; integer score units make
    * the comparison exact across engines.
    */
  val qualityClassifier = Q(
    "x_quality_classifier",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val labeled = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("label", when(col("lang").isin("en", "de"), 1L).otherwise(0L))
      QualityLM.nbClassifier(labeled, docs, "doc_id", "text", "label")
        .orderBy("doc_id")
    },
    Some("""WITH lab AS (
              SELECT doc_id, text,
                CASE WHEN lang IN ('en','de') THEN 1 ELSE 0 END AS label
              FROM documents WHERE doc_id % 3 = 0),
            ltok AS (
              SELECT label, substr(md5(t.tok), 1, 2) AS bucket
              FROM lab, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(tok)),
            cnt AS (
              SELECT bucket,
                sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c1,
                sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c0
              FROM ltok GROUP BY bucket),
            tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS t1, CAST(sum(c0) AS DOUBLE) AS t0 FROM cnt),
            pri AS (
              SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
                     CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0
              FROM lab),
            dom AS (SELECT printf('%02x', i) AS bucket FROM range(256) r(i)),
            model AS (
              SELECT d.bucket,
                CAST(floor((ln((CAST(coalesce(c.c1, 0) AS DOUBLE) + 1.0) / (t.t1 + 256.0)) -
                            ln((CAST(coalesce(c.c0, 0) AS DOUBLE) + 1.0) / (t.t0 + 256.0))) * 1000000.0) AS BIGINT) AS llr_q
              FROM dom d LEFT JOIN cnt c ON c.bucket = d.bucket CROSS JOIN tot t),
            pq AS (SELECT CAST(floor(ln(n1 / n0) * 1000000.0) AS BIGINT) AS prior_q FROM pri),
            ctok AS (
              SELECT doc_id, substr(md5(t.tok), 1, 2) AS bucket
              FROM documents, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(tok)),
            sc AS (
              SELECT ct.doc_id, count(*) AS n_feats, sum(m.llr_q) AS s
              FROM ctok ct JOIN model m ON m.bucket = ct.bucket
              GROUP BY ct.doc_id)
            SELECT sc.doc_id, CAST(sc.n_feats AS BIGINT) AS n_feats,
              CAST(pq.prior_q + sc.s AS BIGINT) AS score_micro,
              CAST(CASE WHEN pq.prior_q + sc.s > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
            FROM sc CROSS JOIN pq ORDER BY doc_id""")
  )

  /** Deterministic epoch upsampling ([[Curation.upsampleEpochs]]): the
    * over-1.0 half of mixture construction — sources weighted 2.5/1.25/1.0/
    * 0.6 epochs (ppm integers) repeat ⌊w⌋ times plus a salted-md5 Bernoulli
    * for the remainder. Integer arithmetic end to end, so the full emitted
    * multiset (row × epoch) replays row-level in SQL.
    */
  val upsampleEpochs = Q(
    "x_upsample_epochs",
    (s, d) => {
      val wp = when(col("source").isin("src0", "src1", "src2"), 2500000L)
        .when(col("source").isin("src3", "src4", "src5"), 1250000L)
        .when(col("source").isin("src6", "src7"), 1000000L)
        .otherwise(600000L)
      Curation
        .upsampleEpochs(Tables.documents(s, d).select("doc_id", "source"), "doc_id", wp, "ep1")
        .orderBy("doc_id", "epoch")
    },
    Some("""WITH w AS (SELECT doc_id, source,
              CASE WHEN source IN ('src0','src1','src2') THEN CAST(2500000 AS BIGINT)
                   WHEN source IN ('src3','src4','src5') THEN 1250000
                   WHEN source IN ('src6','src7') THEN 1000000
                   ELSE 600000 END AS wp
              FROM documents),
            cnt AS (SELECT doc_id, source,
              wp // 1000000
              + CASE WHEN substring(md5(doc_id || ':ep1'), 1, 4)
                       < printf('%04x', CAST(((wp % 1000000) * 65536) // 1000000 AS INT))
                     THEN 1 ELSE 0 END AS n
              FROM w)
            SELECT doc_id, source,
              CAST(unnest(range(1, CAST(n AS BIGINT) + 1)) AS BIGINT) AS epoch
            FROM cnt ORDER BY doc_id, epoch""")
  )

  /** Cluster-balanced resampling — a fourth composed pipeline, chaining this
    * round's operators: k-means clusters the embedding space
    * ([[ClusterOps.kMeans]]), each cluster gets an inverse-size ppm weight
    * (target mass = ⌊total/k⌋ docs per cluster, capped at 3 epochs — the
    * embedding-space analog of temperature mixing's domain rebalance), and
    * [[Curation.upsampleEpochs]] materializes the balanced multiset.
    * Over-represented clusters downsample below 1.0, under-represented ones
    * repeat — one deterministic integer pipeline, replayed end-to-end
    * (including both Lloyd iterations) in the oracle. Scalars (total, k)
    * ride as a broadcast one-row frame; per-cluster sizes broadcast onto the
    * corpus — the corpus itself shuffles only for the tiny size aggregation.
    */
  val curationPipeline4 = Q(
    "x_curation_pipeline4",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters =
        ClusterOps.kMeans(Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 2)
      val j = docs.select(col("doc_id"), col("source"))
        .join(clusters.select(col("vec_id").as("doc_id"), col("cluster")), Seq("doc_id"))
      val sz  = j.groupBy("cluster").agg(count(lit(1)).as("csz"))
      val tot = j.agg(count(lit(1)).as("__t"), countDistinct(col("cluster")).as("__k"))
      val wgt = j.join(broadcast(sz), Seq("cluster")).join(broadcast(tot))
        .withColumn("wp", least(lit(3000000L), expr("((__t div __k) * 1000000) div csz")))
        .select("doc_id", "source", "cluster", "wp")
      Curation.upsampleEpochs(wgt, "doc_id", col("wp"), "p4")
        .select(col("doc_id"), col("cluster"), col("wp").as("weight_ppm"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },
    Some("""WITH q AS (
              SELECT vec_id, list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
              FROM embeddings),
            c0 AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 8),
            a1 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c0 c) WHERE rn = 1),
            s1 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a1, unnest(range(1, 65)) AS t(i) GROUP BY cid, i),
            c1 AS (
              SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
              FROM s1 GROUP BY cid),
            a2 AS (
              SELECT vec_id, qv, cid FROM (
                SELECT q.vec_id, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c1 c) WHERE rn = 1),
            s2 AS (
              SELECT cid, i, sum(qv[i]) AS s, count(*) AS n
              FROM a2, unnest(range(1, 65)) AS t(i) GROUP BY cid, i),
            c2 AS (
              SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
              FROM s2 GROUP BY cid),
            asg AS (
              SELECT vec_id, cid AS cluster FROM (
                SELECT q.vec_id, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, len(q.qv)+1),
                      i -> (q.qv[i]-c.cv[i])*(q.qv[i]-c.cv[i]))), c.cid) AS rn
                FROM q, c2 c) WHERE rn = 1),
            j AS (
              SELECT d.doc_id, d.source, a.cluster
              FROM documents d JOIN asg a ON a.vec_id = d.doc_id),
            sz AS (SELECT cluster, count(*) AS csz FROM j GROUP BY cluster),
            tot AS (SELECT count(*) AS t, count(DISTINCT cluster) AS k FROM j),
            wgt AS (
              SELECT j.doc_id, j.source, j.cluster,
                least(CAST(3000000 AS BIGINT), ((tot.t // tot.k) * 1000000) // sz.csz) AS wp
              FROM j JOIN sz USING (cluster) CROSS JOIN tot),
            cnt AS (SELECT doc_id, source, cluster, wp,
              wp // 1000000
              + CASE WHEN substring(md5(doc_id || ':p4'), 1, 4)
                       < printf('%04x', CAST(((wp % 1000000) * 65536) // 1000000 AS INT))
                     THEN 1 ELSE 0 END AS n
              FROM wgt)
            SELECT doc_id, cluster, wp AS weight_ppm,
              CAST(unnest(range(1, CAST(n AS BIGINT) + 1)) AS BIGINT) AS epoch
            FROM cnt ORDER BY doc_id, epoch""")
  )

  /** Fifth composed pipeline — MinHash-LSH near-dup removal INSIDE the
    * single oracled plan (the one dedup family the other pipelines didn't
    * chain; pipeline1 dedups via connected-component clusters, this one via
    * the greedy pair-drop rule the streaming near-dup filter uses): length
    * gate → [[DedupOps.minhashNearDups]] at J ≥ 0.8 → drop every doc that is
    * the GREATER id of a qualifying pair (keep-first) → per-source cap of 40
    * by ascending doc_id (the domain-cap stage). The oracle replays the
    * dedup stage with EXACT all-pairs Jaccard — valid here for the same
    * reason as `x_dedup_minhash_lsh`: the banding's detection probability at
    * the planted pairs' similarity is ~1 and the minhash seeds are fixed.
    *
    * Scale: the gate is map-side; LSH candidates cost one (band, bucket)
    * exchange with capped buckets (never all-pairs); the drop set is
    * pair-derived (broadcast-small) so the survivors anti-join without
    * shuffling the corpus; the cap windows within source partitions only.
    */
  /** Oracle for [[curationPipeline5]], parameterized on the near-dup pair
    * join — same two faces and the same GenData planted-adjacency argument
    * as [[curationPipeline1Oracle]].
    */
  private def curationPipeline5Oracle(joinCond: String, sameSet: Boolean = false): String = {
    val sameSetArm = if (sameSet) """
              UNION
              SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id""" else ""
    s"""WITH gated AS (SELECT * FROM documents WHERE n_chars >= 20),
            toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
              FROM gated),
            sh AS (
              SELECT doc_id,
                CASE WHEN len(t) >= 3
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS s
              FROM toks),
            pairs AS (
              SELECT a.doc_id AS ida, b.doc_id AS idb
              FROM sh a JOIN sh b ON $joinCond
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8$sameSetArm),
            kept AS (
              SELECT g.* FROM gated g
              WHERE g.doc_id NOT IN (SELECT idb FROM pairs)),
            capped AS (
              SELECT doc_id, source, lang, n_chars,
                row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM kept)
            SELECT doc_id, source, lang, n_chars FROM capped
            WHERE rn <= 40 ORDER BY doc_id"""
  }

  val curationPipeline5 = Q(
    "x_curation_pipeline5",
    (s, d) => {
      val docs  = Tables.documents(s, d)
      val gated = docs.filter(col("n_chars") >= 20)
      val drops = DedupOps
        .minhashNearDups(gated, "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      gated.join(broadcast(drops), Seq("doc_id"), "left_anti")
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))))
        .filter(col("__rn") <= 40)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(curationPipeline5Oracle("a.doc_id < b.doc_id")),
    genOracle = Some(curationPipeline5Oracle("b.doc_id = a.doc_id + 1", sameSet = true))
  )

  /** Temperature-scaled domain mixing ([[Curation.temperatureMixture]] —
    * the XLM-R/mT5 α-sampling rebalance, α = 0.5). The input is skewed on
    * purpose (three domains keep all docs, the rest one in four) so the
    * sqrt-weighting is visible: big domains get sub-proportional rates.
    * Rates are pure integer arithmetic after one exactly-rounded sqrt, and
    * the keep decision is the salted-md5 integer-threshold test — the whole
    * pipeline (counts → weights → rates → per-row decision) is replayed in
    * SQL row-level, HUGEINT on the DuckDB side mirroring DECIMAL(38,0).
    */
  val mixTemperature = Q(
    "x_mix_temperature",
    (s, d) => {
      val base = Tables.documents(s, d)
        .filter(col("doc_id") % 4 === 0 || col("source").isin("src3", "src7", "src11"))
      Curation.temperatureMixture(base, "doc_id", "source", 500000L, "tmix")
        .select(col("doc_id"), col("source"), col("rate_ppm"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
              SELECT doc_id, source FROM documents
              WHERE doc_id % 4 = 0 OR source IN ('src3','src7','src11')),
            cnt AS (
              SELECT source, count(*) AS n,
                CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS s
              FROM base GROUP BY source),
            tot AS (SELECT sum(n) AS ntot, sum(s) AS stot FROM cnt),
            r AS (
              SELECT c.source,
                CAST(least(1000000::HUGEINT,
                  (1000000::HUGEINT * ((500000::HUGEINT * t.ntot) // 1000000) * c.s)
                    // (t.stot::HUGEINT * c.n)) AS BIGINT) AS rate_ppm
              FROM cnt c CROSS JOIN tot t)
            SELECT b.doc_id, b.source, r.rate_ppm
            FROM base b JOIN r ON r.source = b.source
            WHERE r.rate_ppm >= 1000000
               OR substr(md5(CAST(b.doc_id AS VARCHAR) || ':tmix'), 1, 4)
                    < printf('%04x', (r.rate_ppm * 65536) // 1000000)
            ORDER BY b.doc_id""")
  )

  /** URL-canonicalization dedup ([[Curation.canonicalizeUrl]] — the
    * crawl-side stage 0 that runs before any content dedup). URLs are
    * synthesized from doc_id with five messy variants per article id
    * (mixed case, https, `www.`, default ports, trailing slash, fragment,
    * unordered `utm_*`-polluted queries): variants 0/1 collapse to the
    * bare path, 2/3 to `?id=7`, 4 keeps its sorted non-tracking params —
    * so first-wins keeps ids ≡ 0, 2, 4 (mod 5). Every canonicalization
    * rule is replayed in SQL (no regex backreference is used anywhere, so
    * the same patterns run under Java regex and RE2), and the keep flag is
    * a window-min — row-level oracle over all rows.
    */
  val dedupUrl = Q(
    "x_dedup_url",
    (s, d) => {
      val urls = Tables.documents(s, d).selectExpr("doc_id",
        """CASE doc_id % 5
             WHEN 0 THEN concat('http://www.Example.com/articles/', doc_id div 5)
             WHEN 1 THEN concat('HTTPS://WWW.EXAMPLE.COM:443/articles/', doc_id div 5, '/')
             WHEN 2 THEN concat('http://example.com:80/articles/', doc_id div 5, '?utm_source=feed&id=7&utm_campaign=x')
             WHEN 3 THEN concat('http://Example.COM/articles/', doc_id div 5, '?id=7#section-2')
             ELSE concat('https://example.com/articles/', doc_id div 5, '?ref=home&lang=en')
           END AS url""")
      val canon = urls.withColumn("canonical_url", Curation.canonicalizeUrl(col("url")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canonical_url"))
      canon
        .withColumn("keep",
          when(col("doc_id") === min(col("doc_id")).over(w), 1L).otherwise(0L))
        .select(col("doc_id"), col("url"), col("canonical_url"), col("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (
              SELECT doc_id,
                CASE doc_id % 5
                  WHEN 0 THEN 'http://www.Example.com/articles/' || (doc_id // 5)
                  WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM:443/articles/' || (doc_id // 5) || '/'
                  WHEN 2 THEN 'http://example.com:80/articles/' || (doc_id // 5) || '?utm_source=feed&id=7&utm_campaign=x'
                  WHEN 3 THEN 'http://Example.COM/articles/' || (doc_id // 5) || '?id=7#section-2'
                  ELSE 'https://example.com/articles/' || (doc_id // 5) || '?ref=home&lang=en'
                END AS url
              FROM documents),
            c AS (
              SELECT doc_id, url,
                regexp_replace(regexp_replace(
                  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                  ':(80|443)$', ''), '^www\.', '') AS host,
                regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1),
                  '#.*$', '') AS nofrag
              FROM u),
            p AS (
              SELECT doc_id, url, host,
                regexp_replace(nofrag, '\?.*$', '') AS path0,
                list_sort(list_filter(string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
                  x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS params
              FROM c),
            k AS (
              SELECT doc_id, url,
                'http://' || host ||
                CASE WHEN path0 <> '/' AND path0 LIKE '%/'
                     THEN substr(path0, 1, length(path0) - 1) ELSE path0 END ||
                CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END
                  AS canonical_url
              FROM p)
            SELECT doc_id, url, canonical_url,
              CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
                   THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM k ORDER BY doc_id""")
  )

  /** BPE training, round-0 statistics ([[BpeTrain.pairCounts]] over
    * [[BpeTrain.wordFreqs]]): the frequency-weighted adjacent-symbol-pair
    * counts that drive the first merge decision, top-20 under the trainer's
    * own deterministic total order. This is the fully-SQL-expressible face
    * of the trainer (word dict → initial symbols → pair explode → weighted
    * count), so it carries an exact oracle; the sequential merge rounds are
    * gated in BpeTrainSpec instead.
    */
  val bpePairCounts = Q(
    "x_bpe_pair_counts",
    (s, d) =>
      BpeTrain.pairCounts(BpeTrain.wordFreqs(Tables.documents(s, d), "text"))
        .orderBy(desc("pair_count"), asc("lsym"), asc("rsym")).limit(20)
        .select(col("lsym"), col("rsym"), col("pair_count")),
    Some("""WITH wd AS (
              SELECT t.w AS w, count(*) AS wc
              FROM documents,
                unnest(list_filter(regexp_split_to_array(text, '[ \n]'), x -> x <> '')) AS t(w)
              GROUP BY t.w),
            sy AS (SELECT wc, list_append(string_split(w, ''), '</w>') AS syms FROM wd),
            pr AS (SELECT wc, syms, unnest(range(len(syms) - 1)) AS i FROM sy),
            pc AS (
              SELECT syms[i+1] AS lsym, syms[i+2] AS rsym, sum(wc) AS pair_count
              FROM pr GROUP BY 1, 2)
            SELECT lsym, rsym, CAST(pair_count AS BIGINT) AS pair_count
            FROM pc ORDER BY pair_count DESC, lsym, rsym LIMIT 20""")
  )

  /** The BPE trainer's first `k` rounds UNROLLED as DuckDB CTEs — the
    * x_pagerank/x_ann_ivfpq unroll precedent applied to a model the r10
    * verdict called non-replayable. The blocker was the greedy in-word
    * merge pass (sequential per word); the unlock is a DELIMITED-STRING
    * encoding: a word's symbol sequence rides as `\x01sym\x01\x01sym\x01…`
    * (each symbol wrapped in its own `chr(1)` delimiters, which never occur
    * in text), so applying merge (l, r) greedily left-to-right with
    * resume-at-i+2 — exactly [[graft.functions.BpeApplyExpr]]'s scan — IS
    * `replace(s, ␁l␁␁r␁, ␁lr␁)`: SQL `replace` scans left-to-right and
    * continues after each replacement, the per-symbol double delimiters
    * keep adjacent matches from sharing boundary bytes (so `aaaa` → `aa aa`,
    * not `aa a a`), and a symbol can never false-match as a suffix of
    * another because every match is delimiter-flanked. Each round is then
    * pair-count → deterministic argmax (count DESC, lsym, rsym — the
    * trainer's total order) → one `replace` over the vocab frame, all
    * data-driven, so the same SQL replays at any scale factor.
    */
  private def bpeTrainCtes(k: Int): String = {
    val head =
      """wd AS (
        |  SELECT t.w AS w, count(*) AS wc
        |  FROM documents,
        |    unnest(list_filter(regexp_split_to_array(text, '[ \n]'), x -> x <> '')) AS t(w)
        |  GROUP BY t.w),
        |s0 AS (
        |  SELECT w, wc,
        |    array_to_string(list_transform(list_append(string_split(w, ''), '</w>'),
        |      x -> chr(1) || x || chr(1)), '') AS s
        |  FROM wd)""".stripMargin
    val rounds = (1 to k).map { r =>
      s"""pc$r AS (
         |  SELECT syms[i+1] AS ls, syms[i+2] AS rs, sum(wc) AS c
         |  FROM (SELECT wc, syms, unnest(range(len(syms) - 1)) AS i
         |        FROM (SELECT wc, list_filter(string_split(s, chr(1)), x -> x <> '') AS syms
         |              FROM s${r - 1}) z0) z1
         |  GROUP BY 1, 2),
         |m$r AS (SELECT ls, rs, c FROM pc$r ORDER BY c DESC, ls, rs LIMIT 1),
         |s$r AS (
         |  SELECT w, wc,
         |    replace(s, chr(1) || m.ls || chr(1) || chr(1) || m.rs || chr(1),
         |               chr(1) || m.ls || m.rs || chr(1)) AS s
         |  FROM s${r - 1}, m$r m)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + rounds
  }

  /** The learned k=8 BPE merge table ([[BpeTrain.train]] — corpus touched
    * once for word frequencies, each round one vocab-frame aggregation +
    * one map-side merge application). Fully oracled via [[bpeTrainCtes]]:
    * the 8 training rounds replay in SQL and each round's argmax row IS the
    * merge-table row. BpeTrainSpec additionally pins the table against an
    * independent in-memory reference BPE and the determinism gate.
    */
  val bpeMerges = Q(
    "x_bpe_merges",
    (s, d) =>
      BpeTrain.mergesDf(s, BpeTrain.train(Tables.documents(s, d), "text", 8))
        .orderBy("round"),
    Some {
      val picks = (1 to 8).map(r =>
        s"SELECT CAST(${r - 1} AS BIGINT) AS round, ls AS lsym, rs AS rsym, " +
          s"CAST(c AS BIGINT) AS pair_count FROM m$r").mkString("\n            UNION ALL ")
      s"""WITH ${bpeTrainCtes(8)}
          $picks
          ORDER BY round"""
    }
  )

  /** BPE tokenization serving face ([[graft.functions.BpeTokenCountExpr]]):
    * per-doc token counts under the k=8 merges trained on the same corpus —
    * chars+`</w>` per word collapsed by the ordered merge list, pure
    * map-side, merges riding as reference objects. Fully oracled: the
    * training replay ([[bpeTrainCtes]]) leaves every word's FINAL symbol
    * string in its last CTE, so per-word token counts are just the symbol
    * count of that string and per-doc counts re-join the words — the
    * tokenizer's priority-order merge passes are exactly the training
    * rounds' passes over the same word dictionary. BpeTrainSpec holds the
    * closed-form and monotonicity gates on top.
    */
  val bpeTokenize = Q(
    "x_bpe_tokenize",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = BpeTrain.train(docs, "text", 8).map(m => (m.left, m.right))
      docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.NativeFns.bpe_token_count(col("text"), merges).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${bpeTrainCtes(8)},
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
            SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
              CAST(COALESCE(ag.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
            FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
            ORDER BY d.doc_id""")
  )

  /** RAG chunking ([[Curation.chunkDocuments]], window 32 / stride 24):
    * overlapping fixed-token chunks per document — starts, short-tail
    * lengths, and chunk text all replayed in SQL (Spark `sequence` with
    * step == DuckDB `range` with step, 1-based slices on both sides).
    */
  val chunkDocuments = Q(
    "x_chunk_documents",
    (s, d) =>
      Curation.chunkDocuments(Tables.documents(s, d), "doc_id", "text", 32, 24)
        .orderBy("doc_id", "chunk_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            st AS (
              SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 24)) AS s
              FROM t WHERE len(toks) > 0)
            SELECT doc_id,
              CAST(s // 24 AS BIGINT) AS chunk_id,
              CAST(least(32, len(toks) - s) AS BIGINT) AS n_tokens,
              array_to_string(toks[s+1 : s+32], ' ') AS chunk_text
            FROM st ORDER BY doc_id, chunk_id""")
  )

  /** Third composed curation pipeline — the late-round-7 operators chained
    * in crawl order, each stage consuming the previous stage's DataFrame in
    * ONE plan: (0) URL-canonicalization first-wins dedup (five messy
    * variants per article as in [[dedupUrl]]); (1) Gopher repetition gate
    * on the raw text ([[graft.functions.RepetitionSignalsExpr]] keep flag);
    * (2) NB classifier gate — the model TRAINS INSIDE the pipeline on the
    * repetition survivors' `doc_id % 3` slice, labeled by a text-derived
    * signal (`contains 'spark'`) so the classifier genuinely learns
    * token evidence, then keeps docs scoring positive; (3) temperature-
    * scaled source mixing of the survivors. Every stage's exact SQL replay
    * already exists on its own registry row; here they compose into one
    * WITH chain, so the full pipeline is row-level oracled end to end.
    */
  val curationPipeline3 = Q(
    "x_curation_pipeline3",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // (0) URL dedup.
      val urls = docs.selectExpr("doc_id", "text", "lang", "source",
        """CASE doc_id % 5
             WHEN 0 THEN concat('http://www.Example.com/articles/', doc_id div 5)
             WHEN 1 THEN concat('HTTPS://WWW.EXAMPLE.COM:443/articles/', doc_id div 5, '/')
             WHEN 2 THEN concat('http://example.com:80/articles/', doc_id div 5, '?utm_source=feed&id=7&utm_campaign=x')
             WHEN 3 THEN concat('http://Example.COM/articles/', doc_id div 5, '?id=7#section-2')
             ELSE concat('https://example.com/articles/', doc_id div 5, '?ref=home&lang=en')
           END AS url""")
        .withColumn("__curl", Curation.canonicalizeUrl(col("url")))
      val w  = org.apache.spark.sql.expressions.Window.partitionBy(col("__curl"))
      val s0 = urls
        .withColumn("__m", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("__m"))
        .select("doc_id", "text", "lang", "source")
      // (1) Repetition gate. truncateLineage: three later stages (training
      // slice, classifier scoring corpus, survivor semi-join) each consume
      // s1 — without truncation the URL-canonicalization window AND the
      // n-gram repetition kernel (the pipeline's most expensive projection)
      // re-run per consumer. Batch-output-sized pin (SCALE.md class b).
      val s1 = s0
        .withColumn("__rep", graft.functions.NativeFns.repetition_signals(col("text")))
        .filter(col("__rep.keep") === 1)
        .drop("__rep")
        .truncateLineage()
      // (2) Classifier gate, trained in-pipeline on the survivors.
      val labeled = s1.filter(col("doc_id") % 3 === 0)
        .withColumn("label", when(col("text").contains("spark"), 1L).otherwise(0L))
      val keepIds = QualityLM.nbClassifier(labeled, s1, "doc_id", "text", "label")
        .filter(col("pred") === 1).select("doc_id")
      val s2 = s1.join(keepIds, Seq("doc_id"), "left_semi")
      // (3) Temperature mix.
      Curation.temperatureMixture(s2, "doc_id", "source", 600000L, "p3")
        .select(col("doc_id"), col("source"), col("rate_ppm"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (
              SELECT doc_id, text, lang, source,
                CASE doc_id % 5
                  WHEN 0 THEN 'http://www.Example.com/articles/' || (doc_id // 5)
                  WHEN 1 THEN 'HTTPS://WWW.EXAMPLE.COM:443/articles/' || (doc_id // 5) || '/'
                  WHEN 2 THEN 'http://example.com:80/articles/' || (doc_id // 5) || '?utm_source=feed&id=7&utm_campaign=x'
                  WHEN 3 THEN 'http://Example.COM/articles/' || (doc_id // 5) || '?id=7#section-2'
                  ELSE 'https://example.com/articles/' || (doc_id // 5) || '?ref=home&lang=en'
                END AS url
              FROM documents),
            uc AS (
              SELECT doc_id, text, lang, source,
                regexp_replace(regexp_replace(
                  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                  ':(80|443)$', ''), '^www\.', '') AS host,
                regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1),
                  '#.*$', '') AS nofrag
              FROM u),
            up AS (
              SELECT doc_id, text, lang, source, host,
                regexp_replace(nofrag, '\?.*$', '') AS path0,
                list_sort(list_filter(string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
                  x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS params
              FROM uc),
            uk AS (
              SELECT doc_id, text, lang, source,
                'http://' || host ||
                CASE WHEN path0 <> '/' AND path0 LIKE '%/'
                     THEN substr(path0, 1, length(path0) - 1) ELSE path0 END ||
                CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END
                  AS curl
              FROM up),
            s0 AS MATERIALIZED (
              SELECT doc_id, text, lang, source FROM (
                SELECT *, min(doc_id) OVER (PARTITION BY curl) AS m FROM uk)
              WHERE doc_id = m),
            rt AS MATERIALIZED (
              SELECT doc_id, text,
                list_filter(regexp_split_to_array(text, '[ \n]'), x -> x <> '') AS toks,
                string_split(text, chr(10)) AS lines
              FROM s0),
            rlo AS (SELECT doc_id, unnest(lines) AS l FROM rt),
            rlc AS (SELECT doc_id, l, count(*) AS c FROM rlo GROUP BY doc_id, l),
            rls AS (
              SELECT doc_id, sum(c) AS n_lines, sum(c * length(l)) AS line_chars,
                sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ,
                sum(CASE WHEN c >= 2 THEN c * length(l) ELSE 0 END) AS dup_chars
              FROM rlc GROUP BY doc_id),
            rtok AS MATERIALIZED (
              SELECT doc_id, toks, len(toks) AS ntok,
                length(array_to_string(toks, '')) AS tokchars
              FROM rt),
            rng AS MATERIALIZED (
              SELECT doc_id, n, i,
                array_to_string(toks[i+1 : i+n], ' ') AS g,
                length(array_to_string(toks[i+1 : i+n], '')) AS glen
              FROM (
                SELECT doc_id, toks, nn.n AS n,
                  unnest(range(0, greatest(ntok - nn.n + 1, 0))) AS i
                FROM rtok CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) nn(n))),
            rngc AS MATERIALIZED (SELECT doc_id, n, g, glen, count(*) AS c FROM rng GROUP BY doc_id, n, g, glen),
            rtop AS (
              SELECT doc_id, n, c * glen AS mass FROM (
                SELECT doc_id, n, glen, c,
                  row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g ASC) AS rn
                FROM rngc WHERE n <= 4)
              WHERE rn = 1),
            rtp AS (
              SELECT doc_id,
                coalesce(max(CASE WHEN n = 2 THEN mass END), 0) AS m2,
                coalesce(max(CASE WHEN n = 3 THEN mass END), 0) AS m3,
                coalesce(max(CASE WHEN n = 4 THEN mass END), 0) AS m4
              FROM rtop GROUP BY doc_id),
            rcov AS (
              SELECT DISTINCT doc_id, n, p FROM (
                SELECT rng.doc_id, rng.n, unnest(range(rng.i, rng.i + rng.n)) AS p
                FROM rng JOIN rngc ON rngc.doc_id = rng.doc_id AND rngc.n = rng.n AND rngc.g = rng.g
                WHERE rng.n >= 5 AND rngc.c >= 2)),
            rtl AS MATERIALIZED (
              SELECT doc_id, unnest(toks) AS tokv,
                generate_subscripts(toks, 1) - 1 AS p
              FROM rtok),
            rcovm AS (
              SELECT c.doc_id, c.n, sum(length(rtl.tokv)) AS mass
              FROM rcov c JOIN rtl ON rtl.doc_id = c.doc_id AND rtl.p = c.p
              GROUP BY c.doc_id, c.n),
            rcp AS (
              SELECT doc_id,
                coalesce(max(CASE WHEN n = 5 THEN mass END), 0) AS m5,
                coalesce(max(CASE WHEN n = 6 THEN mass END), 0) AS m6,
                coalesce(max(CASE WHEN n = 7 THEN mass END), 0) AS m7,
                coalesce(max(CASE WHEN n = 8 THEN mass END), 0) AS m8,
                coalesce(max(CASE WHEN n = 9 THEN mass END), 0) AS m9,
                coalesce(max(CASE WHEN n = 10 THEN mass END), 0) AS m10
              FROM rcovm GROUP BY doc_id),
            rfin AS (
              SELECT k.doc_id,
                CASE WHEN ls.n_lines > 0 THEN 1000000 * ls.dup_occ // ls.n_lines ELSE 0 END AS v0,
                CASE WHEN ls.line_chars > 0 THEN 1000000 * ls.dup_chars // ls.line_chars ELSE 0 END AS v1,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(tp.m2, 0) // k.tokchars ELSE 0 END AS v2,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(tp.m3, 0) // k.tokchars ELSE 0 END AS v3,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(tp.m4, 0) // k.tokchars ELSE 0 END AS v4,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m5, 0) // k.tokchars ELSE 0 END AS v5,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m6, 0) // k.tokchars ELSE 0 END AS v6,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m7, 0) // k.tokchars ELSE 0 END AS v7,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m8, 0) // k.tokchars ELSE 0 END AS v8,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m9, 0) // k.tokchars ELSE 0 END AS v9,
                CASE WHEN k.tokchars > 0 THEN 1000000 * coalesce(cp.m10, 0) // k.tokchars ELSE 0 END AS v10
              FROM rtok k
              LEFT JOIN rls ls ON ls.doc_id = k.doc_id
              LEFT JOIN rtp tp ON tp.doc_id = k.doc_id
              LEFT JOIN rcp cp ON cp.doc_id = k.doc_id),
            s1 AS MATERIALIZED (
              SELECT s0.doc_id, s0.text, s0.lang, s0.source
              FROM s0 JOIN rfin f ON f.doc_id = s0.doc_id
              WHERE f.v0 <= 300000 AND f.v1 <= 200000
                AND f.v2 <= 200000 AND f.v3 <= 180000 AND f.v4 <= 160000
                AND f.v5 <= 150000 AND f.v6 <= 140000 AND f.v7 <= 130000
                AND f.v8 <= 120000 AND f.v9 <= 110000 AND f.v10 <= 100000),
            lab AS MATERIALIZED (
              SELECT doc_id, text,
                CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END AS label
              FROM s1 WHERE doc_id % 3 = 0),
            ltok AS (
              SELECT label, substr(md5(t.tok), 1, 2) AS bucket
              FROM lab, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(tok)),
            ccnt AS MATERIALIZED (
              SELECT bucket,
                sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS c1,
                sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS c0
              FROM ltok GROUP BY bucket),
            ctot AS (SELECT CAST(sum(c1) AS DOUBLE) AS t1, CAST(sum(c0) AS DOUBLE) AS t0 FROM ccnt),
            cpri AS (
              SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
                     CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0
              FROM lab),
            cdom AS (SELECT printf('%02x', i) AS bucket FROM range(256) r(i)),
            cmodel AS (
              SELECT d.bucket,
                CAST(floor((ln((CAST(coalesce(c.c1, 0) AS DOUBLE) + 1.0) / (t.t1 + 256.0)) -
                            ln((CAST(coalesce(c.c0, 0) AS DOUBLE) + 1.0) / (t.t0 + 256.0))) * 1000000.0) AS BIGINT) AS llr_q
              FROM cdom d LEFT JOIN ccnt c ON c.bucket = d.bucket CROSS JOIN ctot t),
            cpq AS (SELECT CAST(floor(ln(n1 / n0) * 1000000.0) AS BIGINT) AS prior_q FROM cpri),
            cstok AS (
              SELECT doc_id, substr(md5(t.tok), 1, 2) AS bucket
              FROM s1, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(tok)),
            csc AS MATERIALIZED (
              SELECT ct.doc_id, sum(m.llr_q) AS sc
              FROM cstok ct JOIN cmodel m ON m.bucket = ct.bucket
              GROUP BY ct.doc_id),
            s2 AS MATERIALIZED (
              SELECT s1.doc_id, s1.source
              FROM s1 JOIN csc ON csc.doc_id = s1.doc_id CROSS JOIN cpq
              WHERE cpq.prior_q + csc.sc > 0),
            mcnt AS MATERIALIZED (
              SELECT source, count(*) AS n,
                CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS s
              FROM s2 GROUP BY source),
            mtot AS (SELECT sum(n) AS ntot, sum(s) AS stot FROM mcnt),
            mr AS (
              SELECT c.source,
                CAST(least(1000000::HUGEINT,
                  (1000000::HUGEINT * ((600000::HUGEINT * t.ntot) // 1000000) * c.s)
                    // (t.stot::HUGEINT * c.n)) AS BIGINT) AS rate_ppm
              FROM mcnt c CROSS JOIN mtot t)
            SELECT b.doc_id, b.source, r.rate_ppm
            FROM s2 b JOIN mr r ON r.source = b.source
            WHERE r.rate_ppm >= 1000000
               OR substr(md5(CAST(b.doc_id AS VARCHAR) || ':p3'), 1, 4)
                    < printf('%04x', (r.rate_ppm * 65536) // 1000000)
            ORDER BY b.doc_id""")
  )

  /** HTML text extraction ([[Curation.extractHtmlText]] — the WET step that
    * produces the `text` column the rest of the curation stack consumes).
    * Pages are synthesized from the documents deterministically — head with
    * a `&amp;`-bearing title, a style block, a script block whose content
    * contains `<`/`>`/quotes (the classic tag-stripper trap: its CONTENT
    * must drop, not just its tags), a comment, nav links, and the document
    * text entity-escaped into a `<p>` — and the full cascade (block drops,
    * tag collapse, 6-entity decode in fixed order, whitespace normalize)
    * plus title/link-count features is replayed step-for-step in SQL with
    * RE2's 'g' flag standing in for Java's replace-all. Row-level oracle.
    */
  val htmlExtract = Q(
    "x_html_extract",
    (s, d) => {
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"), lit(" &amp; Friends</title>"),
        lit("<style type=\"text/css\">p { margin: 0; }</style>"),
        lit("<script>if (1 < 2 && 2 > 1) { var x = \"<p>\"; }</script></head><body>"),
        lit("<!-- crawl id "), col("doc_id").cast("string"), lit(" -->"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), esc,
        lit("</p><div class=\"footer\">Example &amp; Sons &nbsp; 2026</div></body></html>"))
      Tables.documents(s, d)
        .withColumn("__html", html)
        .select(
          col("doc_id"),
          Curation.htmlTitle(col("__html")).as("title"),
          Curation.htmlLinkCount(col("__html")).as("n_links"),
          Curation.extractHtmlText(col("__html")).as("body"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (
              SELECT doc_id,
                '<html><head><title>Doc ' || doc_id || ' &amp; Friends</title>' ||
                '<style type="text/css">p { margin: 0; }</style>' ||
                '<script>if (1 < 2 && 2 > 1) { var x = "<p>"; }</script></head><body>' ||
                '<!-- crawl id ' || doc_id || ' -->' ||
                '<nav><a href="/">Home</a> <a href="/about">About</a></nav><h1>Doc ' || doc_id ||
                '</h1><p>' ||
                regexp_replace(regexp_replace(regexp_replace(text,
                  '&', '&amp;', 'g'), '<', '&lt;', 'g'), '>', '&gt;', 'g') ||
                '</p><div class="footer">Example &amp; Sons &nbsp; 2026</div></body></html>' AS html
              FROM documents),
            x AS (
              SELECT doc_id, html,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
                  '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                  '(?s)<!--.*?-->', ' ', 'g'),
                  '<[^>]*>', ' ', 'g') AS t0
              FROM h),
            e AS (
              SELECT doc_id, html,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t0,
                  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'), '&#39;', '''', 'g'),
                  '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t1
              FROM x)
            SELECT doc_id,
              trim(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)) AS title,
              CAST(len(regexp_extract_all(html, '(?i)<a[ \t\n\r]')) AS BIGINT) AS n_links,
              trim(regexp_replace(t1, '[ \t\n\r]+', ' ', 'g')) AS body
            FROM e ORDER BY doc_id""")
  )

  /** Training-shard assignment ([[Curation.assignShards]], 8 shards): the
    * deterministic pseudo-random deal that IS the training-data global
    * shuffle. shard = hex4(md5) mod 8 (unbiased: 8 | 65536), pos = rank of
    * (md5, id) within the shard — both replayed in SQL (DuckDB parses
    * '0x…' hex casts natively; Spark uses `conv`). Row-level oracle over
    * every row.
    */
  val shardAssign = Q(
    "x_shard_assign",
    (s, d) =>
      Curation.assignShards(
          Tables.documents(s, d).select("doc_id", "source"), "doc_id", 8, "shard")
        .select(col("doc_id"), col("source"), col("shard_id"), col("pos"))
        .orderBy("doc_id"),
    Some("""WITH k AS (
              SELECT doc_id, source,
                md5(CAST(doc_id AS VARCHAR) || ':shard') AS h
              FROM documents),
            s AS (
              SELECT doc_id, source, substr(h, 1, 4) AS hx,
                CAST(CAST(('0x' || substr(h, 1, 4)) AS INTEGER) % 8 AS BIGINT) AS shard_id
              FROM k)
            SELECT doc_id, source, shard_id,
              CAST(row_number() OVER (PARTITION BY shard_id ORDER BY hx, doc_id) AS BIGINT) AS pos
            FROM s ORDER BY doc_id""")
  )

  /** Per-shard reproducibility manifest ([[Curation.shardManifest]] over the
    * same 8-shard deal as `x_shard_assign`): counts, size mass, id range,
    * and an order-independent salted-md5 checksum per shard — the audit
    * record that makes a shard rebuild verifiable without re-reading
    * content. All integers; row-level oracle.
    */
  val shardManifestQ = Q(
    "x_shard_manifest",
    (s, d) =>
      Curation.shardManifest(
          Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id", "n_chars", 8, "shard")
        .orderBy("shard_id"),
    Some("""WITH s AS (
              SELECT doc_id, n_chars,
                CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 4)) AS INTEGER) % 8 AS BIGINT) AS shard_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard:ck'), 1, 8)) AS BIGINT) AS ck
              FROM documents)
            SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_size,
              min(doc_id) AS min_id, max(doc_id) AS max_id,
              CAST(sum(ck) AS BIGINT) AS checksum
            FROM s GROUP BY shard_id ORDER BY shard_id""")
  )

  /** 2-D Z-order layout key ([[graft.functions.Layout.zorder2]] on lineitem
    * (l_quantity, l_suppkey), 256 equi-depth buckets each): the Morton sort
    * key that write-time clustering orders by so parquet min/max pruning
    * works on BOTH columns. Bucket ranks from exact histogram arithmetic,
    * interleave from shift/mask integer arithmetic — the whole key is
    * BIGINT-exact and replayed row-level in SQL (stepwise spread CTEs).
    */
  val zorderQ = Q(
    "x_zorder",
    (s, d) => {
      graft.functions.Layout
        .zorder2(
          Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_suppkey"),
          "l_quantity", "l_suppkey", buckets = 256)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("zvalue"))
        .orderBy("l_orderkey", "l_linenumber", "zvalue")
    },
    Some("""WITH n AS (SELECT count(*) AS n FROM lineitem),
            hx AS (SELECT l_quantity AS v, count(*) AS c FROM lineitem GROUP BY 1),
            bxt AS (
              SELECT v, (COALESCE(sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 256) // n.n AS b
              FROM hx, n),
            hy AS (SELECT l_suppkey AS v, count(*) AS c FROM lineitem GROUP BY 1),
            byt AS (
              SELECT v, (COALESCE(sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 256) // n.n AS b
              FROM hy, n),
            sp AS (
              SELECT l.l_orderkey, l.l_linenumber, bxt.b AS x0, byt.b AS y0
              FROM lineitem l
              JOIN bxt ON l.l_quantity = bxt.v
              JOIN byt ON l.l_suppkey = byt.v),
            m1 AS (SELECT l_orderkey, l_linenumber,
              ((x0 | (x0 << 8)) & 16711935) AS x1, ((y0 | (y0 << 8)) & 16711935) AS y1 FROM sp),
            m2 AS (SELECT l_orderkey, l_linenumber,
              ((x1 | (x1 << 4)) & 252645135) AS x2, ((y1 | (y1 << 4)) & 252645135) AS y2 FROM m1),
            m3 AS (SELECT l_orderkey, l_linenumber,
              ((x2 | (x2 << 2)) & 858993459) AS x3, ((y2 | (y2 << 2)) & 858993459) AS y3 FROM m2),
            m4 AS (SELECT l_orderkey, l_linenumber,
              ((x3 | (x3 << 1)) & 1431655765) AS x4, ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM m3)
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
              CAST((x4 | (y4 << 1)) AS BIGINT) AS zvalue
            FROM m4 ORDER BY l_orderkey, l_linenumber, zvalue""")
  )

  /** Hard-negative mining ([[AnnSearch.hardNegatives]], k=5): for each
    * anchor (vec_id < 10), the top-5 highest-cosine corpus vectors of a
    * DIFFERENT label — the contrastive-training negatives. Exact
    * all-pairs-minus-same-class replay in SQL (identical fold order for the
    * double cosine, identical (cos desc, id) tie-break), so unlike the
    * LSH/IVF rows this ANN-adjacent surface carries a full oracle.
    */
  val hardNegativesQ = Q(
    "x_hard_negatives",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnSearch
        .hardNegatives(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding", "label", 5)
        .select(col("query_id"), col("neg_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id AS neg_id,
                list_sum(list_transform(list_zip(q.qe, e.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
              FROM embeddings e, q WHERE e.label <> q.ql)
            SELECT query_id, neg_id, rank FROM (
              SELECT query_id, neg_id,
                row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neg_id) AS rank
              FROM scored)
            WHERE rank <= 5 ORDER BY query_id, rank""")
  )

  /** URL blocklist filter ([[Curation.urlBlockFilter]] — the UT1-style
    * stage-0 crawl gate). Six URL shapes per article id: two hit the domain
    * blocklist (one directly, one as a SUBDOMAIN of a blocked entry behind
    * a non-default port — the suffix-join case), one hits the keyword
    * pattern, one exercises host case-folding, two pass. The suffix
    * explode + semi-join, host-wins precedence, and keyword regex are all
    * replayed in SQL — row-level oracle with every row present (blocked
    * rows carry their reason, they are not dropped).
    */
  val urlFilter = Q(
    "x_url_filter",
    (s, d) => {
      import s.implicits._
      val urls = Tables.documents(s, d).selectExpr("doc_id",
        """CASE doc_id % 6
             WHEN 0 THEN concat('https://news.example.com/story/', doc_id)
             WHEN 1 THEN concat('http://ads.tracker.net/click?id=', doc_id)
             WHEN 2 THEN concat('https://blog.example.com/post/', doc_id)
             WHEN 3 THEN concat('http://lucky-casino.com/play/', doc_id)
             WHEN 4 THEN concat('https://cdn.ads.example.com:8080/banner/', doc_id)
             ELSE concat('https://Example.org/about/', doc_id)
           END AS url""")
      val blocklist = Seq("tracker.net", "ads.example.com").toDF("domain")
      Curation
        .urlBlockFilter(urls, "doc_id", "url", blocklist, "casino|xxx|adult-content")
        .select(col("doc_id"), col("url"), col("host"), col("blocked_by"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (
              SELECT doc_id,
                CASE doc_id % 6
                  WHEN 0 THEN 'https://news.example.com/story/' || doc_id
                  WHEN 1 THEN 'http://ads.tracker.net/click?id=' || doc_id
                  WHEN 2 THEN 'https://blog.example.com/post/' || doc_id
                  WHEN 3 THEN 'http://lucky-casino.com/play/' || doc_id
                  WHEN 4 THEN 'https://cdn.ads.example.com:8080/banner/' || doc_id
                  ELSE 'https://Example.org/about/' || doc_id
                END AS url
              FROM documents),
            h AS (
              SELECT doc_id, url,
                regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                  ':[0-9]+$', '') AS host
              FROM u),
            bl AS (SELECT * FROM (VALUES ('tracker.net'), ('ads.example.com')) b(domain)),
            sfx AS (
              SELECT doc_id, t.s AS suf
              FROM h, unnest(list_transform(range(1, len(string_split(host, '.')) + 1),
                i -> array_to_string(string_split(host, '.')[i:], '.'))) AS t(s)),
            hit AS (SELECT DISTINCT sfx.doc_id FROM sfx JOIN bl ON bl.domain = sfx.suf)
            SELECT h.doc_id, h.url, h.host,
              CASE WHEN hit.doc_id IS NOT NULL THEN 'host'
                   WHEN regexp_matches(lower(h.url), 'casino|xxx|adult-content') THEN 'keyword'
                   ELSE 'ok' END AS blocked_by
            FROM h LEFT JOIN hit ON hit.doc_id = h.doc_id
            ORDER BY h.doc_id""")
  )

  /** Incremental funnel maintenance ([[graft.operators.Funnel]]): the
    * per-user step-completion state computed over the history BEFORE a cut
    * day is replayed as pseudo-events and merged with only the events at or
    * after the cut — [[graft.operators.Funnel.stateToEvents]]'s exactness
    * argument: each recorded completion time is a valid event of its step
    * type, so re-running the chained step mins over (state ∪ delta)
    * reproduces the full-history funnel EXACTLY under the append-only
    * contract (delta not earlier than the state horizon). The oracle is the
    * FULL-history replay — the query passes only if incremental ==
    * recompute, which is the whole claim: at 100 TB the history is a
    * compact per-user state table, and each ingest touches state + delta
    * only.
    */
  val funnelIncremental = Q(
    "x_funnel_incremental",
    (s, d) => {
      val steps = Seq("view", "click", "purchase")
      val cutUs = 1705363200000000L // 2024-01-16T00:00Z — mid-corpus
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tm"))
      val state = graft.operators.Funnel.stepTimes(ev.filter(col("tm") < cutUs), steps)
      val merged = graft.operators.Funnel.stepTimes(
        graft.operators.Funnel.stateToEvents(state, steps)
          .unionByName(ev.filter(col("tm") >= cutUs)),
        steps)
      graft.operators.Funnel.summary(merged, steps)
    },
    // Full-history recompute (h22's oracle): incremental must equal it.
    Some("""WITH m AS (
              SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tm FROM events),
            p1 AS (
              SELECT user_id, min(CASE WHEN event_type = 'view' THEN tm END) AS t1
              FROM m GROUP BY user_id),
            p2 AS (
              SELECT m.user_id, any_value(p.t1) AS t1,
                min(CASE WHEN m.event_type = 'click' AND m.tm > p.t1 THEN m.tm END) AS t2
              FROM m JOIN p1 p USING (user_id) GROUP BY m.user_id),
            p3 AS (
              SELECT m.user_id, any_value(p.t1) AS t1, any_value(p.t2) AS t2,
                min(CASE WHEN m.event_type = 'purchase' AND m.tm > p.t2 THEN m.tm END) AS t3
              FROM m JOIN p2 p USING (user_id) GROUP BY m.user_id)
            SELECT * FROM (
              SELECT 'view' AS step, count(t1) AS n_users, CAST(0 AS BIGINT) AS conv_us_total FROM p3
              UNION ALL
              SELECT 'view>click', count(t2),
                CAST(COALESCE(sum(t2 - t1) FILTER (WHERE t2 IS NOT NULL), 0) AS BIGINT) FROM p3
              UNION ALL
              SELECT 'view>click>purchase', count(t3),
                CAST(COALESCE(sum(t3 - t1) FILTER (WHERE t3 IS NOT NULL), 0) AS BIGINT) FROM p3)
            ORDER BY step""")
  )

  /** CDC changelog compaction — the core of every lakehouse MERGE/upsert
    * (Delta/Hudi/Iceberg "merge-on-read" compaction, expressed Spark-first).
    * The changelog is derived deterministically from lineitem: key =
    * l_orderkey, sequence = l_linenumber (unique within key), op = D/U.
    * Latest-state-per-key is ONE partial→final `max_by(struct, ord)` hash
    * aggregation — map-side combine means the shuffle carries one struct per
    * (key, mapper), NOT the full log, and there is no per-key window sort
    * anywhere. Keys whose final op is a delete vanish from the table.
    * The driver's lineitem repeats (orderkey, linenumber) pairs, so the
    * ordering struct extends seq with the payload columns — a TOTAL order
    * per key, making the winner deterministic on both engines even when the
    * sequence column alone ties (real CDC logs guarantee unique sequence
    * numbers; synthetic data doesn't get to).
    */
  val cdcApply = Q(
    "x_cdc_apply",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey").as("key"),
          col("l_linenumber").cast("long").as("seq"),
          when(col("l_quantity") < 3, "D").otherwise("U").as("op"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("price"))
        .groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("quantity"), col("price")),
            struct(col("seq"), col("quantity"), col("price"), col("op"))).as("last"),
          max(col("seq")).as("last_seq"))
        .filter(col("last.op") =!= "D")
        .select(col("key"), col("last_seq"),
          col("last.quantity").as("quantity"), col("last.price").as("price"))
        .orderBy("key"),
    Some("""WITH ch AS (
              SELECT l_orderkey AS key, CAST(l_linenumber AS BIGINT) AS seq,
                CASE WHEN l_quantity < 3 THEN 'D' ELSE 'U' END AS op,
                l_quantity AS quantity, l_extendedprice AS price
              FROM lineitem),
            r AS (
              SELECT key, op, quantity, price, max(seq) OVER (PARTITION BY key) AS last_seq,
                row_number() OVER (PARTITION BY key
                  ORDER BY seq DESC, quantity DESC, price DESC, op DESC) AS rn
              FROM ch)
            SELECT key, last_seq, quantity, price
            FROM r WHERE rn = 1 AND op <> 'D' ORDER BY key""")
  )

  /** MERGE INTO: a compacted delta batch (seq ≥ 5 of the same changelog)
    * upserted into a base snapshot (latest state of seq ≤ 4). Both sides
    * compact with the x_cdc_apply aggregation first (delta collapses to one
    * row per touched key BEFORE the join — the aggregate-before-join rule),
    * then ONE full-outer hash join applies insert/update/delete: delta
    * payload wins, a delta delete removes the key, a delete of an absent key
    * is a no-op. At scale the base is bucketed by key, so the repeated
    * nightly MERGE reshuffles only the (small) delta side.
    */
  val cdcMerge = Q(
    "x_cdc_merge",
    (s, d) => {
      val ch = Tables.lineitem(s, d)
        .select(
          col("l_orderkey").as("key"),
          col("l_linenumber").cast("long").as("seq"),
          when(col("l_quantity") < 3, "D").otherwise("U").as("op"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("price"))
      def compact(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("key"))
        .agg(max_by(struct(col("op"), col("quantity"), col("price")),
          struct(col("seq"), col("quantity"), col("price"), col("op"))).as("last"))
      val base = compact(ch.filter(col("seq") <= 4))
        .filter(col("last.op") =!= "D")
        .select(col("key"), col("last.quantity").as("b_qty"), col("last.price").as("b_price"))
      val delta = compact(ch.filter(col("seq") >= 5))
        .select(col("key").as("d_key"), col("last.op").as("d_op"),
          col("last.quantity").as("d_qty"), col("last.price").as("d_price"))
      base.join(delta, col("key") === col("d_key"), "full_outer")
        .filter(!(col("d_key").isNotNull && col("d_op") === "D"))
        .select(
          coalesce(col("key"), col("d_key")).as("key"),
          when(col("d_key").isNotNull, col("d_qty")).otherwise(col("b_qty")).as("quantity"),
          when(col("d_key").isNotNull, col("d_price")).otherwise(col("b_price")).as("price"))
        .orderBy("key")
    },
    Some("""WITH ch AS (
              SELECT l_orderkey AS key, CAST(l_linenumber AS BIGINT) AS seq,
                CASE WHEN l_quantity < 3 THEN 'D' ELSE 'U' END AS op,
                l_quantity AS quantity, l_extendedprice AS price
              FROM lineitem),
            base AS (
              SELECT key, quantity AS b_qty, price AS b_price
              FROM (SELECT key, op, quantity, price,
                      row_number() OVER (PARTITION BY key
                        ORDER BY seq DESC, quantity DESC, price DESC, op DESC) AS rn
                    FROM ch WHERE seq <= 4)
              WHERE rn = 1 AND op <> 'D'),
            delta AS (
              SELECT key AS d_key, op AS d_op, quantity AS d_qty, price AS d_price
              FROM (SELECT key, op, quantity, price,
                      row_number() OVER (PARTITION BY key
                        ORDER BY seq DESC, quantity DESC, price DESC, op DESC) AS rn
                    FROM ch WHERE seq >= 5)
              WHERE rn = 1)
            SELECT coalesce(b.key, d.d_key) AS key,
              CASE WHEN d.d_key IS NOT NULL THEN d.d_qty ELSE b.b_qty END AS quantity,
              CASE WHEN d.d_key IS NOT NULL THEN d.d_price ELSE b.b_price END AS price
            FROM base b FULL OUTER JOIN delta d ON b.key = d.d_key
            WHERE NOT (d.d_key IS NOT NULL AND d.d_op = 'D')
            ORDER BY key""")
  )

  /** Deequ-style data-quality constraint report in ONE aggregation pass:
    * row count, key uniqueness, column completeness, accepted-value-set and
    * numeric-range violation counts all ride the same partial→final agg,
    * then `stack` unpivots the single row into a (check_name, metric)
    * report. All metrics are exact integers (counts / ppm floor-div) so the
    * row is hash-stable. The only non-map-side term is the exact
    * `count_distinct` (an Expand + shuffle); at 100 TB flip
    * `spark.graft.approx.countDistinct` and it becomes one-pass HLL++ like
    * the rest of the report.
    */
  val dataQualityReport = Q(
    "x_data_quality_report",
    (s, d) =>
      Tables.events(s, d)
        .agg(
          count(lit(1)).as("n"),
          count(col("user_id")).as("nu"),
          count_distinct(col("event_id")).as("nd"),
          sum(when(!col("event_type").isin("view", "click", "purchase", "error"), 1L)
            .otherwise(0L)).as("nset"),
          sum(when(col("value") < 0 || col("value") > 500, 1L).otherwise(0L)).as("nrange"))
        .select(expr("""stack(5,
            'event_id_unique_ppm', 1000000 * nd div n,
            'event_type_set_violations', nset,
            'rows_total', n,
            'user_id_complete_ppm', 1000000 * nu div n,
            'value_range_violations', nrange) AS (check_name, metric)"""))
        .orderBy("check_name"),
    Some("""WITH a AS (
              SELECT count(*) AS n, count(user_id) AS nu,
                count(DISTINCT event_id) AS nd,
                CAST(COALESCE(sum(CASE WHEN event_type NOT IN ('view','click','purchase','error')
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS nset,
                CAST(COALESCE(sum(CASE WHEN value < 0 OR value > 500
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS nrange
              FROM events)
            SELECT check_name, metric FROM (
              SELECT 'rows_total' AS check_name, n AS metric FROM a
              UNION ALL SELECT 'event_id_unique_ppm', 1000000 * nd // n FROM a
              UNION ALL SELECT 'user_id_complete_ppm', 1000000 * nu // n FROM a
              UNION ALL SELECT 'event_type_set_violations', nset FROM a
              UNION ALL SELECT 'value_range_violations', nrange FROM a)
            ORDER BY check_name""")
  )

  /** Spike detection over the daily event series with INTEGER-exact
    * arithmetic: a day is anomalous when its count exceeds 2× the trailing
    * 7-day mean, tested by cross-multiplication (`n·c > 2·s`) so no
    * float/sqrt ever enters the row. The corpus collapses to per-day
    * partials FIRST (the h25 bounded-window discipline) — the RANGE frame
    * then runs over the ~30-row calendar series, structurally flat in
    * corpus size.
    */
  val anomalyDays = Q(
    "x_anomaly_days",
    (s, d) => {
      val w = Window.orderBy(col("day_idx")).rangeBetween(-7, -1)
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("day_idx", unix_date(col("day")))
        .withColumn("trail_sum", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("trail_days", count(col("n")).over(w))
        .withColumn("is_anomaly",
          col("trail_days") > 0 && col("n") * col("trail_days") > lit(2L) * col("trail_sum"))
        .select(col("day"), col("n"), col("trail_sum"), col("trail_days"), col("is_anomaly"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                count(*) AS n
              FROM events GROUP BY 1)
            SELECT day, n,
              CAST(COALESCE(sum(n) OVER w, 0) AS BIGINT) AS trail_sum,
              CAST(count(n) OVER w AS BIGINT) AS trail_days,
              count(n) OVER w > 0 AND n * count(n) OVER w > 2 * COALESCE(sum(n) OVER w, 0)
                AS is_anomaly
            FROM daily
            WINDOW w AS (ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
                         RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
            ORDER BY day""")
  )

  /** The DuckDB replay of [[graft.functions.GraphOps.pageRank]]: the full
    * integer iteration unrolled as chained CTEs (the x_kmeans precedent —
    * an iterative model is oracle-able when every step is floor-division
    * integer math). Sums widen to HUGEINT in DuckDB, so every rank CTE
    * casts back to BIGINT to keep the arithmetic — and the driver's typed
    * hash — aligned with Spark.
    */
  private def pagerankOracle(iters: Int): String = {
    val head =
      """WITH e AS (SELECT DISTINCT user_id % 211 AS src, event_id % 211 AS dst FROM events),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         p AS (SELECT count(*) AS n FROM nodes),
         r0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r FROM nodes, p)"""
    val rounds = (1 to iters).map { i =>
      s""",
         c$i AS (SELECT e.dst AS node, sum(r.r // d.deg) AS s
                 FROM e JOIN r${i - 1} r ON e.src = r.node
                 JOIN deg d ON e.src = d.src GROUP BY 1),
         r$i AS (SELECT nodes.node,
                 CAST(15 * 1000000000000 // (100 * p.n)
                      + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                 FROM nodes CROSS JOIN p LEFT JOIN c$i c ON nodes.node = c.node)"""
    }.mkString
    head + rounds + s"\n         SELECT node, r AS rank_scaled FROM r$iters ORDER BY node"
  }

  /** PageRank centrality over a deterministic link graph derived from the
    * event log (user and event ids folded to 211 nodes — the synthetic
    * stand-in for a page/domain graph). Five fixed iterations of the
    * integer-scaled recipe in [[graft.functions.GraphOps.pageRank]]; the
    * oracle replays all five rounds in SQL, so this is row-level exact, not
    * recall-gated.
    */
  val pagerankQ = Q(
    "x_pagerank",
    (s, d) =>
      graft.functions.GraphOps.pageRank(
        Tables.events(s, d)
          .select((col("user_id") % 211).as("src"), (col("event_id") % 211).as("dst")),
        "src", "dst", iters = 5)
        .orderBy("node"),
    Some(pagerankOracle(5))
  )

  private def pprOracle(iters: Int): String = {
    val head =
      """WITH e AS (SELECT DISTINCT user_id % 211 AS src, event_id % 211 AS dst FROM events),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         sp AS (SELECT count(*) AS ns FROM nodes WHERE node % 13 = 0),
         r0 AS (SELECT nodes.node,
                CAST(CASE WHEN nodes.node % 13 = 0 THEN 1000000000000 // ns ELSE 0 END AS BIGINT) AS r
                FROM nodes, sp)"""
    val rounds = (1 to iters).map { i =>
      s""",
         c$i AS (SELECT e.dst AS node, sum(r.r // d.deg) AS s
                 FROM e JOIN r${i - 1} r ON e.src = r.node
                 JOIN deg d ON e.src = d.src GROUP BY 1),
         r$i AS (SELECT nodes.node,
                 CAST(CASE WHEN nodes.node % 13 = 0
                        THEN 15 * 1000000000000 // (100 * sp.ns) ELSE 0 END
                      + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
                 FROM nodes CROSS JOIN sp LEFT JOIN c$i c ON nodes.node = c.node)"""
    }.mkString
    head + rounds + s"\n         SELECT node, r AS rank_scaled FROM r$iters ORDER BY node"
  }

  /** Personalized PageRank over the same folded 211-node graph as
    * [[pagerankQ]], teleporting only to the node ≡ 0 (mod 13) seed set —
    * "rank relative to THESE nodes", the related-items recommendation
    * primitive global PageRank cannot answer. Five fixed integer-scaled
    * rounds via [[graft.functions.GraphOps.personalizedPageRank]]; the
    * oracle replays every round, so the query is row-level exact.
    */
  val pprQ = Q(
    "x_personalized_pagerank",
    (s, d) =>
      graft.functions.GraphOps.personalizedPageRank(
        Tables.events(s, d)
          .select((col("user_id") % 211).as("src"), (col("event_id") % 211).as("dst")),
        "src", "dst", seedPred = pmod(col("node"), lit(13)) === 0, iters = 5)
        .orderBy("node"),
    Some(pprOracle(5))
  )

  /** Fuzzy self-join at edit distance ≤ 1 via the FastSS deletion
    * neighborhood (Bocek, Hunt, Stiller, "Fast Similarity Search in Large
    * Dictionaries", U. Zurich TR 2007): each string emits itself plus its
    * |s| single-deletion variants, and every edit-≤1 pair — substitution,
    * insertion, deletion, at ANY position — shares at least one variant, so
    * joining on the variant string is a LOSSLESS candidate generator with
    * no assumption about key shape (verified in CurationSpec against the
    * quadratic ground truth). Candidate volume tracks the number of true
    * matches, not block², which is what retires the prefix-blocked form
    * this replaced (8× cheaper at 150 k rows and strictly more correct —
    * the block missed cross-position pairs). A row_number cap per variant
    * bounds degenerate buckets (mass-duplicate strings) exactly like every
    * LSH path, replayed identically in the oracle, and the truncation count
    * is REPORTED in-row (`n_capped_variants`) so a pathological key space
    * degrades loudly, not silently ([[DedupOps.fuzzyEditJoinStats]];
    * FuzzyJoinSpec plants a hot neighborhood and pins both the bound and
    * the report). Codegen'd `levenshtein` then verifies only candidates.
    * Generalizes to distance k with depth-k deletion neighborhoods.
    */
  val fuzzyJoinEdit = Q(
    "x_fuzzy_join_edit",
    (s, d) =>
      DedupOps.fuzzyEditJoinStats(
        Tables.customer(s, d).select(col("c_custkey").as("id"), col("c_name").as("name")),
        "id", "name", maxVariantBucket = 50),
    Some("""WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
            v AS (
              SELECT id, unnest(list_prepend(name,
                [substring(name, 1, i - 1) || substring(name, i + 1, 1000)
                 for i in range(1, length(name) + 1)])) AS var
              FROM c),
            cnt AS (
              SELECT var, id,
                row_number() OVER (PARTITION BY var ORDER BY id) AS rn,
                count(*) OVER (PARTITION BY var) AS bs
              FROM v),
            cap AS (SELECT var, id FROM cnt WHERE rn <= 50),
            br AS (SELECT count(*) AS n_capped FROM cnt WHERE rn = 1 AND bs > 50),
            cand AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM cap a JOIN cap b ON a.var = b.var AND a.id < b.id)
            SELECT count(*) AS n_candidates,
              CAST(COALESCE(sum(CASE WHEN levenshtein(ca.name, cb.name) <= 1
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs,
              (SELECT CAST(n_capped AS BIGINT) FROM br) AS n_capped_variants
            FROM cand JOIN c ca ON cand.id_a = ca.id
                      JOIN c cb ON cand.id_b = cb.id""")
  )

  /** Incremental materialized-view maintenance: the daily revenue MV is
    * kept fresh by merging the stored MV with the DELTA batch's partial
    * aggregate — `union → re-aggregate on the group key` is exactly Spark's
    * partial→final combine applied across TIME, valid for any algebraic
    * aggregate (sum/count here; min/max/HLL merge the same way). The 100 TB
    * history is never rescanned: per refresh the work is O(|MV| + |delta|),
    * and the oracle IS the full-history recompute, so the driver checks the
    * incremental==full equality every round (the x_funnel_incremental
    * discipline applied to aggregation state). DECIMAL through every sum;
    * double only at the output edge.
    */
  val mvIncremental = Q(
    "x_mv_incremental",
    (s, d) => {
      val split = "2024-01-20"
      def daily(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("rev"),
          count(lit(1)).as("n"))
      val ev    = Tables.events(s, d)
      val mvOld = daily(ev.filter(col("ts") < to_timestamp(lit(split))))
      val delta = daily(ev.filter(col("ts") >= to_timestamp(lit(split))))
      mvOld.union(delta)
        .groupBy(col("day"))
        .agg(sum(col("rev")).as("rev"), sum(col("n")).as("n"))
        .select(col("day"), col("rev").cast("double").as("revenue"), col("n"))
        .orderBy("day")
    },
    Some("""SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              count(*) AS n
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1 ORDER BY day""")
  )

  /** Weighted sampling without replacement via priority sampling (Duffield,
    * Lund, Thorup, IEEE Trans. IT 2007): each row draws priority u/w — here
    * the integer surrogate ⌊hash61(id)/w⌋ with the deterministic
    * Carter-Wegman hash as u — and the k smallest priorities win, so
    * selection probability rises with weight and the sample is reproducible
    * across engines, partitionings, and reruns (no RNG state anywhere).
    * Global k-smallest is `TakeOrderedAndProject`: per-partition heaps of k,
    * never a corpus sort. Weights here: document length bands.
    */
  val sampleWeighted = Q(
    "x_sample_weighted",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), expr("CAST(n_chars AS BIGINT) div 100 + 1").as("w"))
        .withColumn("hv", graft.functions.NativeFns
          .hash61(col("doc_id"), 1803442709493370165L, 784588716359925081L))
        .select(col("doc_id"), col("w"), expr("hv div w").as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(100),
    Some("""WITH w AS (
              SELECT doc_id, n_chars // 100 + 1 AS w FROM documents),
            p AS (
              SELECT doc_id, w,
                CAST((1803442709493370165::HUGEINT *
                        ((doc_id % 2305843009213693951 + 2305843009213693951)
                          % 2305843009213693951)
                      + 784588716359925081) % 2305843009213693951 AS BIGINT) // w AS priority
              FROM w)
            SELECT doc_id, w, priority FROM p
            ORDER BY priority, doc_id LIMIT 100""")
  )

  /** Join-key skew diagnostics — the report you run BEFORE deciding between
    * plain hash join, salting, and AQE skew splitting: per-key frequencies
    * collapse the corpus first (partial→final count), then one tiny
    * aggregate over the |keys|-sized frame yields max/median/p99 frequency
    * and the max/mean skew ratio in exact integer ppm. Frequencies are
    * integers, so the interpolated percentiles are exact in double on both
    * engines (the x_quantiles argument).
    */
  val skewReport = Q(
    "x_skew_report",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("freq"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("freq")).as("n_rows"),
          max(col("freq")).as("max_freq"),
          expr("percentile(freq, 0.5)").as("p50_freq"),
          expr("percentile(freq, 0.99)").as("p99_freq"))
        .withColumn("skew_ratio_ppm",
          expr("1000000 * max_freq * n_keys div n_rows")),
    Some("""WITH f AS (SELECT l_orderkey, count(*) AS freq FROM lineitem GROUP BY 1),
            a AS (
              SELECT count(*) AS n_keys, CAST(sum(freq) AS BIGINT) AS n_rows,
                max(freq) AS max_freq,
                quantile_cont(freq, 0.5) AS p50_freq,
                quantile_cont(freq, 0.99) AS p99_freq
              FROM f)
            SELECT n_keys, n_rows, max_freq, p50_freq, p99_freq,
              1000000 * max_freq * n_keys // n_rows AS skew_ratio_ppm
            FROM a""")
  )

  /** Right-to-be-forgotten purge: deletion-requested user ids (a
    * deterministic slice standing in for the request table) are
    * BROADCAST-anti-joined out of the event log — the corpus never
    * shuffles; at 100 TB this is one map-side probe per row against a
    * request set that is always dwarfed by the data. The report counts
    * per-type rows before/after so the purge is auditable.
    */
  val gdprPurge = Q(
    "x_gdpr_purge",
    (s, d) => {
      val ev = Tables.events(s, d)
      val tombstones = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 97 === 0)
      val kept = ev.join(broadcast(tombstones), Seq("user_id"), "left_anti")
      val before = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_before"))
      val after  = kept.groupBy(col("event_type")).agg(count(lit(1)).as("n_after"))
      before.join(after, Seq("event_type"), "left")
        .select(col("event_type"), col("n_before"), coalesce(col("n_after"), lit(0L)).as("n_after"))
        .orderBy("event_type")
    },
    Some("""WITH t AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
            b AS (SELECT event_type, count(*) AS n_before FROM events GROUP BY 1),
            a AS (SELECT event_type, count(*) AS n_after FROM events
                  WHERE user_id NOT IN (SELECT user_id FROM t) GROUP BY 1)
            SELECT b.event_type, b.n_before, CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after
            FROM b LEFT JOIN a USING (event_type) ORDER BY event_type""")
  )

  /** Table time travel: diff two snapshots of the CDC-compacted table
    * (seq ≤ 4 vs the full changelog — "yesterday" vs "today") into
    * added/removed/changed/unchanged counts. ONE full-outer join on the key
    * (both sides already compacted to |keys| rows by the x_cdc_apply
    * aggregation), then a tiny status count — the audit a lakehouse runs
    * after every MERGE, never touching row content twice.
    */
  val snapshotDiff = Q(
    "x_snapshot_diff",
    (s, d) => {
      val ch = Tables.lineitem(s, d)
        .select(
          col("l_orderkey").as("key"),
          col("l_linenumber").cast("long").as("seq"),
          when(col("l_quantity") < 3, "D").otherwise("U").as("op"),
          col("l_quantity").as("quantity"))
      // BOTH snapshots' last-writer states fold into ONE per-key aggregate:
      // the old side rides the same groupBy as a null-gated max_by over the
      // seq ≤ 4 prefix (max_by skips null ordering keys, so a key with no
      // prefix rows yields NULL — exactly the full-outer join's absent old
      // side). One corpus scan + one exchange, where the two-aggregate +
      // full-outer shape paid two of each; keys dead in both snapshots
      // (last op = 'D' on both sides) are filtered out, matching the join
      // that never emitted them.
      val sq4 = col("seq") <= 4
      ch.groupBy(col("key"))
        .agg(
          max_by(struct(col("op"), col("quantity")),
            struct(col("seq"), col("quantity"), col("op"))).as("c_last"),
          max_by(when(sq4, struct(col("op"), col("quantity"))),
            when(sq4, struct(col("seq"), col("quantity"), col("op")))).as("o_last"))
        .select(
          (col("o_last").isNotNull && col("o_last.op") =!= "D").as("o_live"),
          (col("c_last.op") =!= "D").as("c_live"),
          col("o_last.quantity").as("o_qty"), col("c_last.quantity").as("c_qty"))
        .filter(col("o_live") || col("c_live"))
        .select(
          when(!col("o_live"), "added")
            .when(!col("c_live"), "removed")
            .when(col("o_qty") =!= col("c_qty"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("status")
    },
    Some("""WITH ch AS (
              SELECT l_orderkey AS key, CAST(l_linenumber AS BIGINT) AS seq,
                CASE WHEN l_quantity < 3 THEN 'D' ELSE 'U' END AS op,
                l_quantity AS quantity
              FROM lineitem),
            o AS (
              SELECT key AS o_key, quantity AS o_qty
              FROM (SELECT key, op, quantity,
                      row_number() OVER (PARTITION BY key
                        ORDER BY seq DESC, quantity DESC, op DESC) AS rn
                    FROM ch WHERE seq <= 4)
              WHERE rn = 1 AND op <> 'D'),
            c AS (
              SELECT key AS c_key, quantity AS c_qty
              FROM (SELECT key, op, quantity,
                      row_number() OVER (PARTITION BY key
                        ORDER BY seq DESC, quantity DESC, op DESC) AS rn
                    FROM ch)
              WHERE rn = 1 AND op <> 'D')
            SELECT CASE WHEN o_key IS NULL THEN 'added'
                        WHEN c_key IS NULL THEN 'removed'
                        WHEN o_qty <> c_qty THEN 'changed'
                        ELSE 'unchanged' END AS status,
              count(*) AS n_keys
            FROM o FULL OUTER JOIN c ON o_key = c_key
            GROUP BY 1 ORDER BY status""")
  )

  /** Set operations on distinct sketches — the theta-sketch workflow every
    * OLAP warehouse ships (Druid/DataSketches): per-segment bottom-k KMV
    * sketches compose into union/intersection ESTIMATES without ever
    * rescanning raw data. Union = bottom-k of the merged hash sets;
    * intersection = Jaccard over the union's bottom-k (the fraction of its
    * members present in both sides — Beyer et al. SIGMOD'07) times the
    * union estimate. Everything is deterministic integer/exactly-specified
    * arithmetic on the same Carter-Wegman hash as x_distinct_kmv, so the
    * whole sketch algebra replays in SQL and the exact distinct counts ride
    * along as in-row witnesses. Shape: distinct hash agg per side, bottom-k
    * via TakeOrdered per-partition heaps, two broadcast semi-joins of a
    * k-row frame — raw data is touched once per side.
    */
  val sketchSetOps = Q(
    "x_sketch_setops",
    (s, d) => {
      val k = 256
      val M = 2305843009213693951L // 2^61 - 1
      def hashes(t: String) = Tables.events(s, d)
        .filter(col("event_type") === t)
        .select(graft.functions.NativeFns
          .hash61(col("user_id"), 1803442709493370165L, 784588716359925081L).as("hv"))
        .distinct()
      val a = hashes("view")
      val b = hashes("click")
      def est(bk: org.apache.spark.sql.DataFrame, pre: String) = bk
        .orderBy(col("hv")).limit(k)
        .agg(max(col("hv")).as(s"${pre}_kth"), count(lit(1)).as(s"${pre}_filled"))
        .select(when(col(s"${pre}_filled") < k, col(s"${pre}_filled"))
          .otherwise(floor(lit((k - 1).toDouble) *
            (lit(M.toDouble) / col(s"${pre}_kth").cast("double"))).cast("long"))
          .as(s"est_$pre"))
      val u    = a.union(b).distinct()
      val bkU  = u.orderBy(col("hv")).limit(k)
      val fu   = bkU.agg(count(lit(1)).as("filled_u"))
      val j = bkU
        .join(a.select(col("hv").as("hv_a")), col("hv") === col("hv_a"), "left_semi")
        .join(b.select(col("hv").as("hv_b")), col("hv") === col("hv_b"), "left_semi")
        .agg(count(lit(1)).as("j_count"))
      val ex = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click"))
        .agg(
          count_distinct(when(col("event_type") === "view", col("user_id"))).as("exact_a"),
          count_distinct(when(col("event_type") === "click", col("user_id"))).as("exact_b"),
          count_distinct(col("user_id")).as("exact_union"))
      est(a, "a").join(est(b, "b"), lit(true))
        .join(est(u, "u"), lit(true))
        .join(fu, lit(true))
        .join(j, lit(true))
        .join(ex, lit(true))
        .select(
          lit(k.toLong).as("k"),
          col("est_a"), col("est_b"), col("est_u").as("est_union"),
          // Jaccard denominator = the union sketch's FILL, not k: an
          // under-full sketch holds the entire union, so the fraction is
          // over its true membership.
          when(col("filled_u") === 0, 0L)
            .otherwise(expr("j_count * est_u div filled_u")).as("est_inter"),
          col("j_count"), col("exact_a"), col("exact_b"), col("exact_union"))
    },
    Some("""WITH hv AS (
              SELECT event_type, CAST(
                (1803442709493370165::HUGEINT *
                   ((user_id % 2305843009213693951 + 2305843009213693951) % 2305843009213693951)
                 + 784588716359925081) % 2305843009213693951 AS BIGINT) AS hv
              FROM events WHERE event_type IN ('view', 'click')),
            a AS (SELECT DISTINCT hv FROM hv WHERE event_type = 'view'),
            b AS (SELECT DISTINCT hv FROM hv WHERE event_type = 'click'),
            u AS (SELECT hv FROM a UNION SELECT hv FROM b),
            ea AS (SELECT max(hv) AS kth, count(*) AS filled
                   FROM (SELECT hv FROM a ORDER BY hv LIMIT 256)),
            eb AS (SELECT max(hv) AS kth, count(*) AS filled
                   FROM (SELECT hv FROM b ORDER BY hv LIMIT 256)),
            eu AS (SELECT max(hv) AS kth, count(*) AS filled
                   FROM (SELECT hv FROM u ORDER BY hv LIMIT 256)),
            bku AS (SELECT hv FROM u ORDER BY hv LIMIT 256),
            j AS (SELECT count(*) AS j_count FROM bku
                  WHERE hv IN (SELECT hv FROM a) AND hv IN (SELECT hv FROM b)),
            ex AS (
              SELECT count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS exact_a,
                count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS exact_b,
                count(DISTINCT user_id) AS exact_union
              FROM events WHERE event_type IN ('view', 'click')),
            es AS (
              SELECT
                CASE WHEN ea.filled < 256 THEN CAST(ea.filled AS BIGINT)
                     ELSE CAST(floor(255.0 * (2305843009213693951.0 / CAST(ea.kth AS DOUBLE))) AS BIGINT)
                END AS est_a,
                CASE WHEN eb.filled < 256 THEN CAST(eb.filled AS BIGINT)
                     ELSE CAST(floor(255.0 * (2305843009213693951.0 / CAST(eb.kth AS DOUBLE))) AS BIGINT)
                END AS est_b,
                CASE WHEN eu.filled < 256 THEN CAST(eu.filled AS BIGINT)
                     ELSE CAST(floor(255.0 * (2305843009213693951.0 / CAST(eu.kth AS DOUBLE))) AS BIGINT)
                END AS est_union
              FROM ea, eb, eu)
            SELECT CAST(256 AS BIGINT) AS k, est_a, est_b, est_union,
              CASE WHEN eu.filled = 0 THEN 0
                   ELSE CAST(j.j_count AS BIGINT) * est_union // CAST(eu.filled AS BIGINT)
              END AS est_inter,
              CAST(j.j_count AS BIGINT) AS j_count, exact_a, exact_b, exact_union
            FROM es, j, ex, eu""")
  )

  /** The DuckDB replay of [[graft.functions.AnnSearch.pqTopK]]: per
    * subvector, the c0→assign→sum→floor-mean Lloyd blocks of the x_kmeans
    * oracle run on the LIST SLICE; encode is one more argmin per sub;
    * reconstruction concatenates the winning sub-centroids; ADC scoring and
    * ranking replay the l2_dist2 kernel and window. Generated per sub so
    * the SQL stays mechanical.
    */
  private def pqOracle(m: Int, dsub: Int, ksub: Int, k: Int, nq: Int): String = {
    def lloyd(s: Int): String = {
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      def argmin(cf: String): String =
        s"""SELECT vec_id, sv, cid FROM (
              SELECT q.vec_id, q.sv, c.cid,
                row_number() OVER (PARTITION BY q.vec_id ORDER BY
                  list_sum(list_transform(range(1, $dsub + 1),
                    i -> (q.sv[i]-c.cv[i])*(q.sv[i]-c.cv[i]))), c.cid) AS rn
              FROM qs$s q, $cf c) WHERE rn = 1"""
      s""",
         qs$s AS (SELECT vec_id, qv[$lo:$hi] AS sv FROM q),
         c0_$s AS (SELECT vec_id AS cid, sv AS cv FROM qs$s ORDER BY vec_id LIMIT $ksub),
         a1_$s AS (${argmin(s"c0_$s")}),
         s1_$s AS (SELECT cid, i, sum(sv[i]) AS s, count(*) AS n
                   FROM a1_$s, unnest(range(1, $dsub + 1)) AS t(i) GROUP BY cid, i),
         c1_$s AS (SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
                   FROM s1_$s GROUP BY cid),
         a2_$s AS (${argmin(s"c1_$s")}),
         s2_$s AS (SELECT cid, i, sum(sv[i]) AS s, count(*) AS n
                   FROM a2_$s, unnest(range(1, $dsub + 1)) AS t(i) GROUP BY cid, i),
         c2_$s AS (SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
                   FROM s2_$s GROUP BY cid),
         enc$s AS (SELECT vec_id, cid AS code FROM (
             SELECT q.vec_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(range(1, $dsub + 1),
                   i -> (q.sv[i]-c.cv[i])*(q.sv[i]-c.cv[i]))), c.cid) AS rn
             FROM qs$s q, c2_$s c) WHERE rn = 1)"""
    }
    val subs = (0 until m).map(lloyd).mkString
    val dim = m * dsub
    val reconJoin = (0 until m).map(s =>
      s"JOIN enc$s e$s ON e$s.vec_id = q.vec_id JOIN c2_$s r$s ON r$s.cid = e$s.code").mkString(" ")
    val reconCat = (0 until m).map(s => s"r$s.cv").mkString(" || ")
    s"""WITH q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
          FROM embeddings)$subs,
        recon AS (SELECT q.vec_id, $reconCat AS rv FROM q $reconJoin),
        qq AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < $nq),
        scored AS (
          SELECT qq.query_id, r.vec_id AS neighbor_id,
            CAST(list_sum(list_transform(range(1, $dim + 1),
              i -> (qq.qv[i]-r.rv[i])*(qq.qv[i]-r.rv[i]))) AS BIGINT) AS adc_dist2
          FROM recon r, qq WHERE r.vec_id <> qq.query_id)
        SELECT query_id, neighbor_id, rank, adc_dist2 FROM (
          SELECT query_id, neighbor_id, adc_dist2,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist2, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Product-quantization ANN over the embeddings table — the compressed
    * FAISS-style index ([[graft.functions.AnnSearch.pqTopK]]): 64 floats
    * become 4 sub-codes, and ADC serving runs entirely in integer kernels.
    * Row-level exact against the full SQL replay of training, encoding,
    * reconstruction, and ranking — not recall-gated (recall vs brute force
    * is quantified separately in AccuracySpec).
    */
  val annPq = Q(
    "x_ann_pq",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnSearch.pqTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, m = 4, ksub = 8, iters = 2, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("adc_dist2"))
        .orderBy("query_id", "rank")
    },
    Some(pqOracle(m = 4, dsub = 16, ksub = 8, k = 5, nq = 10))
  )

  /** ANALYZE TABLE-style column profile — the statistics a cost-based
    * optimizer (or a human) reads before planning against an unknown table:
    * per column, null count, distinct count, min/max (numerics as exact
    * integer cents where fractional), and average width ×100. ONE
    * aggregation pass computes every column's stats together (the reason
    * warehouses batch ANALYZE per table, not per column), then `stack`
    * unpivots to a (column_name, metric…) report. Exact distincts become
    * one-pass HLL++ under `spark.graft.approx.countDistinct` at scale.
    */
  val columnProfile = Q(
    "x_column_profile",
    (s, d) =>
      Tables.orders(s, d)
        .agg(
          count(lit(1)).as("n"),
          count(col("o_orderkey")).as("nn_key"),
          count_distinct(col("o_orderkey")).as("nd_key"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          count(col("o_custkey")).as("nn_cust"),
          count_distinct(col("o_custkey")).as("nd_cust"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust"),
          count(col("o_totalprice")).as("nn_price"),
          count_distinct(col("o_totalprice")).as("nd_price"),
          min(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("min_price_c"),
          max(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("max_price_c"),
          count(col("o_orderstatus")).as("nn_status"),
          count_distinct(col("o_orderstatus")).as("nd_status"),
          sum(length(col("o_orderstatus"))).as("len_status"))
        .select(expr("""stack(4,
            'o_custkey',    n, nn_cust,   nd_cust,   min_cust,    max_cust,
            'o_orderkey',   n, nn_key,    nd_key,    min_key,     max_key,
            'o_orderstatus',n, nn_status, nd_status, CAST(100 * len_status div n AS BIGINT),
                            CAST(100 * len_status div n AS BIGINT),
            'o_totalprice', n, nn_price,  nd_price,  min_price_c, max_price_c)
            AS (column_name, n_rows, n_nonnull, n_distinct, min_i, max_i)"""))
        .orderBy("column_name"),
    Some("""WITH a AS (
              SELECT count(*) AS n,
                count(o_orderkey) AS nn_key, count(DISTINCT o_orderkey) AS nd_key,
                min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                count(o_custkey) AS nn_cust, count(DISTINCT o_custkey) AS nd_cust,
                min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
                count(o_totalprice) AS nn_price, count(DISTINCT o_totalprice) AS nd_price,
                min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS min_price_c,
                max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS max_price_c,
                count(o_orderstatus) AS nn_status, count(DISTINCT o_orderstatus) AS nd_status,
                CAST(sum(length(o_orderstatus)) AS BIGINT) AS len_status
              FROM orders)
            SELECT column_name, n_rows, n_nonnull, n_distinct, min_i, max_i FROM (
              SELECT 'o_orderkey' AS column_name, n AS n_rows, nn_key AS n_nonnull,
                nd_key AS n_distinct, min_key AS min_i, max_key AS max_i FROM a
              UNION ALL SELECT 'o_custkey', n, nn_cust, nd_cust,
                CAST(min_cust AS BIGINT), CAST(max_cust AS BIGINT) FROM a
              UNION ALL SELECT 'o_totalprice', n, nn_price, nd_price,
                min_price_c, max_price_c FROM a
              UNION ALL SELECT 'o_orderstatus', n, nn_status, nd_status,
                100 * len_status // n, 100 * len_status // n FROM a)
            ORDER BY column_name""")
  )

  /** Equi-width histogram of a fact column — the optimizer-statistics /
    * dashboard primitive: fixed-width buckets by one floor division, one
    * partial→final count per bucket, bucket bounds derivable from the id by
    * arithmetic (so the frame is nb rows at ANY corpus size, with overflow
    * clamped to the top bucket). The bucket expression is spelled with the
    * IDENTICAL floor/divide shape on both engines rather than
    * `width_bucket` (absent in DuckDB), so bucket boundaries are IEEE
    * bit-equal cross-engine.
    */
  val histogramQ = Q(
    "x_histogram",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(expr(
          "least(greatest(CAST(floor(l_extendedprice / 5000.0) AS BIGINT), 0), 20)")
          .as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
    Some("""SELECT least(greatest(CAST(floor(l_extendedprice / 5000.0) AS BIGINT), 0), 20)
              AS bucket, count(*) AS n
            FROM lineitem GROUP BY 1 ORDER BY bucket""")
  )

  /** The DuckDB replay of [[graft.functions.AnnSearch.ivfPqTopK]] — the
    * largest generated oracle in the registry: coarse Lloyd blocks on the
    * full vectors, residual arithmetic, per-sub Lloyd blocks on the
    * residual slices, encode, cell-centroid + codebook reconstruction,
    * query-side cell probing, and ADC ranking, all in the same
    * floor-division integer algebra the engine runs.
    */
  private def ivfPqOracle(
      dim: Int, nCells: Int, m: Int, dsub: Int, ksub: Int, nProbe: Int,
      k: Int, nq: Int): String = {
    def argmin(src: String, vcol: String, cf: String, d: Int): String =
      s"""SELECT vec_id, $vcol, cid FROM (
            SELECT q.vec_id, q.$vcol, c.cid,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                list_sum(list_transform(range(1, $d + 1),
                  i -> (q.$vcol[i]-c.cv[i])*(q.$vcol[i]-c.cv[i]))), c.cid) AS rn
            FROM $src q, $cf c) WHERE rn = 1"""
    def lloyd(pre: String, src: String, vcol: String, d: Int, kk: Int): String =
      s""",
         ${pre}c0 AS (SELECT vec_id AS cid, $vcol AS cv FROM $src ORDER BY vec_id LIMIT $kk),
         ${pre}a1 AS (${argmin(src, vcol, s"${pre}c0", d)}),
         ${pre}s1 AS (SELECT cid, i, sum($vcol[i]) AS s, count(*) AS n
                      FROM ${pre}a1, unnest(range(1, $d + 1)) AS t(i) GROUP BY cid, i),
         ${pre}c1 AS (SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
                      FROM ${pre}s1 GROUP BY cid),
         ${pre}a2 AS (${argmin(src, vcol, s"${pre}c1", d)}),
         ${pre}s2 AS (SELECT cid, i, sum($vcol[i]) AS s, count(*) AS n
                      FROM ${pre}a2, unnest(range(1, $d + 1)) AS t(i) GROUP BY cid, i),
         ${pre}c2 AS (SELECT cid, list((s - ((s % n + n) % n)) // n ORDER BY i) AS cv
                      FROM ${pre}s2 GROUP BY cid)"""
    val subs = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s""",
         rs$s AS (SELECT vec_id, rv[$lo:$hi] AS sv FROM res)""" +
      lloyd(s"r${s}_", s"rs$s", "sv", dsub, ksub) +
      s""",
         renc$s AS (SELECT vec_id, cid AS code FROM (${argmin(s"rs$s", "sv", s"r${s}_c2", dsub)}))"""
    }.mkString
    val reconJoins = (0 until m).map(s =>
      s"JOIN renc$s e$s ON e$s.vec_id = r.vec_id JOIN r${s}_c2 x$s ON x$s.cid = e$s.code")
      .mkString(" ")
    val reconCat = (0 until m).map(s => s"x$s.cv").mkString(" || ")
    s"""WITH q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
          FROM embeddings)""" +
    lloyd("k", "q", "qv", dim, nCells) +
    s""",
        cells AS (SELECT vec_id, qv, cid AS cell FROM (${argmin("q", "qv", "kc2", dim)})),
        res AS (
          SELECT a.vec_id, a.cell,
            list_transform(range(1, $dim + 1), i -> a.qv[i] - c.cv[i]) AS rv
          FROM cells a JOIN kc2 c ON a.cell = c.cid)$subs,
        reconabs AS (
          SELECT r.vec_id, r.cell,
            list_transform(range(1, $dim + 1), i -> kc.cv[i] + ($reconCat)[i]) AS av
          FROM res r JOIN kc2 kc ON kc.cid = r.cell $reconJoins),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT qq.vec_id AS query_id, c.cid AS cell,
              row_number() OVER (PARTITION BY qq.vec_id ORDER BY
                list_sum(list_transform(range(1, $dim + 1),
                  i -> (qq.qv[i]-c.cv[i])*(qq.qv[i]-c.cv[i]))), c.cid) AS pr
            FROM q qq, kc2 c WHERE qq.vec_id < $nq) WHERE pr <= $nProbe),
        scored AS (
          SELECT p.query_id, r.vec_id AS neighbor_id,
            CAST(list_sum(list_transform(range(1, $dim + 1),
              i -> (qq.qv[i]-r.av[i])*(qq.qv[i]-r.av[i]))) AS BIGINT) AS adc_dist2
          FROM reconabs r JOIN probes p ON r.cell = p.cell
          JOIN q qq ON qq.vec_id = p.query_id
          WHERE r.vec_id <> p.query_id)
        SELECT query_id, neighbor_id, rank, adc_dist2 FROM (
          SELECT query_id, neighbor_id, adc_dist2,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist2, neighbor_id) AS rank
          FROM scored)
        WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** IVF-PQ over the embeddings table — FAISS's IndexIVFPQ composition
    * ([[graft.functions.AnnSearch.ivfPqTopK]]): coarse cells prune the
    * corpus per query (nProbe of nCells), residual product quantization
    * compresses what remains. Row-level exact against the full SQL replay —
    * the fourth exactly-oracled ANN variant.
    */
  val annIvfPq = Q(
    "x_ann_ivfpq",
    (s, d) => {
      val embs = Tables.embeddings(s, d)
      AnnSearch.ivfPqTopK(embs, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, nProbe = 2, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          col("adc_dist2"))
        .orderBy("query_id", "rank")
    },
    Some(ivfPqOracle(dim = 64, nCells = 8, m = 4, dsub = 16, ksub = 8,
      nProbe = 2, k = 5, nq = 10))
  )

  /** BFS shortest-hop layers from node 0 over the same deterministic event
    * graph as x_pagerank ([[graft.functions.GraphOps.bfsLayers]], 6-hop
    * bound). The oracle is a DuckDB RECURSIVE CTE with UNION (distinct)
    * semantics — states stay (node, level) pairs, never enumerated paths —
    * folded to min-hops per node; the engine's level-synchronous
    * frontier-join form computes the identical labels, so graph traversal
    * joins the row-level-oracled family alongside components and
    * centrality.
    */
  val bfsLayersQ = Q(
    "x_bfs_layers",
    (s, d) =>
      graft.functions.GraphOps.bfsLayers(
        Tables.events(s, d)
          .select((col("user_id") % 211).as("src"), (col("event_id") % 211).as("dst")),
        "src", "dst", source = 0L, maxHops = 6)
        .orderBy("node"),
    Some("""WITH RECURSIVE e AS (
              SELECT DISTINCT user_id % 211 AS src, event_id % 211 AS dst FROM events),
            walk(node, d) AS (
              SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
              UNION
              SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node WHERE w.d < 6)
            SELECT node, min(d) AS hops FROM walk GROUP BY node ORDER BY node""")
  )

  /** OHLC bars — the time-series downsampling staple (finance candles,
    * metrics roll-ups): per day, open/close via `min_by`/`max_by` on the
    * (ts, event_id) total order and high/low/volume as plain aggregates,
    * ALL in one partial→final hash aggregation — no window sort anywhere,
    * the same max_by discipline as the CDC compaction. Values as exact
    * integer cents; the (ts, event_id) struct ordering makes open/close
    * deterministic even with duplicate timestamps.
    */
  val ohlcBars = Q(
    "x_ohlc_bars",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(
          date_trunc("day", col("ts")).cast("date").as("day"),
          struct(unix_micros(col("ts").cast("timestamp")).as("tm"), col("event_id")).as("ord"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("day"))
        .agg(
          min_by(col("cents"), col("ord")).as("open"),
          max(col("cents")).as("high"),
          min(col("cents")).as("low"),
          max_by(col("cents"), col("ord")).as("close"),
          count(lit(1)).as("n_trades"),
          sum(col("cents")).as("volume_cents"))
        .orderBy("day"),
    Some("""WITH t AS (
              SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                epoch_us(CAST(ts AS TIMESTAMP)) AS tm, event_id,
                CAST(floor(value * 100) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT day, cents,
                row_number() OVER (PARTITION BY day ORDER BY tm, event_id) AS rn_a,
                row_number() OVER (PARTITION BY day ORDER BY tm DESC, event_id DESC) AS rn_d
              FROM t)
            SELECT day,
              max(CASE WHEN rn_a = 1 THEN cents END) AS open,
              max(cents) AS high, min(cents) AS low,
              max(CASE WHEN rn_d = 1 THEN cents END) AS close,
              count(*) AS n_trades,
              CAST(sum(cents) AS BIGINT) AS volume_cents
            FROM r GROUP BY day ORDER BY day""")
  )

  /** OPTIMIZE-style compaction plan — the lakehouse maintenance step after
    * x_shard_manifest spots small files: files sort by size (stable id
    * tie-break), a running byte sum assigns each to the first group whose
    * target isn't exceeded (`cumsum-before div target` — the linear
    * bin-banding every table format's compactor uses in practice; true
    * first-fit-decreasing is sequential and buys little at uniform file
    * sizes). "Files" here are the per-shard byte masses of the shard
    * manifest, so the plan composes directly with it; the running byte sum
    * is the two-phase distributed prefix sum of
    * [[graft.functions.Layout.twoPhasePrefixSumBefore]] — a 100 TB table
    * has millions of files, and "the |files| frame, never the corpus" is
    * still the single-reducer funnel when it flows through one
    * unpartitioned window (r14 window-lint class; only the
    * ≤shuffle.partitions-row offset frame stays single-task).
    */
  val compactionPlan = Q(
    "x_compaction_plan",
    (s, d) => {
      val target = 65536L
      // localCheckpoint: the file-manifest frame is |files|-sized while its
      // lineage scans the table; the two-phase prefix sum reads it from
      // three jobs (boundary sketch, window, offsets) — checkpoint keeps
      // the scan to one.
      val files = Tables.documents(s, d)
        .groupBy(concat_ws("/", col("source"), col("lang")).as("file"))
        .agg(sum(col("n_chars")).cast("long").as("bytes"))
        .truncateLineage()
      graft.functions.Layout
        .twoPhasePrefixSumBefore(files, "__pre", col("bytes"), desc("bytes"), asc("file"))
        .withColumn("grp", expr(s"__pre div CAST($target AS BIGINT)"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("grp_bytes"))
        .orderBy("grp")
    },
    Some("""WITH f AS (
              SELECT source || '/' || lang AS file, CAST(sum(n_chars) AS BIGINT) AS bytes
              FROM documents GROUP BY 1),
            g AS (
              SELECT file, bytes,
                CAST(COALESCE(sum(bytes) OVER (ORDER BY bytes DESC, file
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  // 65536 AS grp
              FROM f)
            SELECT grp, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS grp_bytes
            FROM g GROUP BY grp ORDER BY grp""")
  )

  /** End-to-end ENTITY RESOLUTION (record linkage) — the four-stage pipeline
    * (Fellegi–Sunter by way of the modern blocking literature) that master-
    * data and customer-360 systems run: (1) BLOCKING on (nation, segment)
    * bounds candidate pairs to within-block self-joins — never the n²
    * cross-corpus compare; (2) pairwise MATCH by Levenshtein ≤ 1 on the
    * customer name (both engines implement the identical unit-cost edit
    * distance); (3) transitive CLUSTERING by 3 unrolled min-label rounds
    * over the symmetric match edges (the `x_dedup_clusters` connected-
    * components discipline — matches are sparse, so the label frame joins a
    * tiny edge set); (4) CANONICALIZATION: each multi-member cluster reports
    * its min-key representative, member count, and exact summed balance
    * cents — the survivorship record. The oracle replays all four stages,
    * including every edit-distance call, row-level.
    *
    * Candidate generation is PIGEONHOLE blocking, not the naive within-block
    * self-join: (nation, segment) alone is ~125 FIXED blocks, so its pair
    * count grows QUADRATICALLY with the corpus (measured 287 s at gen1 —
    * the 100 TB death shape). Instead the name's digit tail is dealt into 3
    * interleaved parts; names are fixed-length (schema `Customer#%09d`), so
    * Levenshtein ≤ 1 forces a SINGLE SUBSTITUTION, which corrupts at most
    * one part — every true match agrees on ≥ 2 of 3 parts, and the three
    * (nation, segment, partX, partY) equi-join passes are LOSSLESS by
    * construction (a difference outside the partitioned positions leaves
    * all parts equal and is caught by every pass). Two-part keys carry 6
    * name digits, so block sizes stay bounded as the corpus grows — the
    * FastSS / ExactSubstr pigeonhole discipline. Candidates are then
    * VERIFIED by the exact edit distance, so the pigeonhole changes cost
    * only: the oracle stays the quadratic per-block DEFINITION and the
    * driver hash proves the two equivalent.
    *
    * Scale: three equi-joins on bounded keys + one distinct; match edges
    * are orders of magnitude smaller than the corpus, so the propagation
    * rounds cost |edges|, and the canonical aggregate is one hash exchange.
    */
  val entityResolution = Q(
    "x_entity_resolution",
    (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("k"), col("c_name").as("nm"),
          col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .truncateLineage()
      // interleaved 3-part dealing of the 9-digit tail (positions 10..18)
      def part(i: Int) = concat(
        substring(col("nm"), 10 + i, 1), substring(col("nm"), 13 + i, 1),
        substring(col("nm"), 16 + i, 1))
      val keyed = c.select(col("k"), col("nm"), col("nat"), col("seg"),
        part(0).as("p0"), part(1).as("p1"), part(2).as("p2"))
        .truncateLineage() // scanned by all three candidate passes
      val passes = Seq(("p0", "p1"), ("p0", "p2"), ("p1", "p2")).map { case (x, y) =>
        val a = keyed.select(col("k").as("xk"), col("nm").as("xnm"),
          col("nat"), col("seg"), col(x).as("bx"), col(y).as("by"))
        val b = keyed.select(col("k").as("yk"), col("nm").as("ynm"),
          col("nat"), col("seg"), col(x).as("bx"), col(y).as("by"))
        a.join(b, Seq("nat", "seg", "bx", "by")).filter(col("xk") < col("yk"))
          .select(col("xk"), col("yk"), col("xnm"), col("ynm"))
      }
      val pairs = passes.reduce(_ union _).distinct()
        .filter(levenshtein(col("xnm"), col("ynm")) <= 1)
        .select(col("xk").as("x"), col("yk").as("y"))
      val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
        .union(pairs.select(col("y").as("src"), col("x").as("dst")))
        .truncateLineage()
      var lab = c.select(col("k").as("node"), col("k").as("label"))
      for (_ <- 1 to 3) {
        val nbrMin = edges
          .join(lab.select(col("node").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("node")).agg(min(col("label")).as("nl"))
        lab = lab.join(nbrMin, Seq("node"), "left")
          .select(col("node"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      }
      lab.join(c.select(col("k").as("node"), col("cents")), "node")
        .groupBy(col("label").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"), sum(col("cents")).as("bal_cents"))
        .filter(col("n_members") >= 2)
        .orderBy("cluster_rep")
    },
    Some {
      val rounds = (1 to 3).map { r =>
        s"""l$r AS (
              SELECT l.node, least(l.label, coalesce(m.nl, l.label)) AS label
              FROM l${r - 1} l LEFT JOIN (
                SELECT e.src AS node, min(l.label) AS nl
                FROM e JOIN l${r - 1} l ON e.dst = l.node GROUP BY e.src) m
              ON l.node = m.node)"""
      }.mkString(",\n            ")
      s"""WITH c AS (
              SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS nm, c_nationkey AS nat,
                c_mktsegment AS seg, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
              FROM customer),
            p AS (
              SELECT a.k AS x, b.k AS y FROM c a JOIN c b
              ON a.nat = b.nat AND a.seg = b.seg AND a.k < b.k
                AND levenshtein(a.nm, b.nm) <= 1),
            e AS (SELECT x AS src, y AS dst FROM p UNION ALL SELECT y, x FROM p),
            l0 AS (SELECT k AS node, k AS label FROM c),
            $rounds
            SELECT label AS cluster_rep, CAST(count(*) AS BIGINT) AS n_members,
              CAST(sum(c.cents) AS BIGINT) AS bal_cents
            FROM l3 JOIN c ON l3.node = c.k
            GROUP BY label HAVING count(*) >= 2 ORDER BY cluster_rep"""
    }
  )

  /** INCREMENTAL entity resolution — the O(delta) maintenance face of
    * [[entityResolution]] (the `x_dedup_*_incremental` discipline applied to
    * record linkage): a batch of NEW records (customers with k ≡ 0 mod 7 —
    * the simulated arrivals) is resolved against the FROZEN clustering of
    * the base, without re-resolving the base. Delta candidates come from
    * the same lossless 3-part pigeonhole keys, but only delta-involving
    * pairs are generated and verified — cost is |delta| × bounded-block,
    * never a corpus re-compare. Two bounded min-label rounds then assign
    * each delta record the smallest reachable label, where base neighbors
    * carry their FROZEN base-cluster label (the incremental invariant:
    * existing assignments never change) and delta-delta chains propagate
    * among themselves. Records matching nothing mint a new entity (their
    * own key). A delta record bridging two base clusters takes the smaller
    * rep; the merge itself is deferred to the next full resolve —
    * assignment-only semantics, stated and oracled. Output: every delta
    * record's assigned rep and whether it landed in an existing entity
    * (rep is a base key).
    *
    * Scale: the delta passes shuffle |delta| + matched-block rows only;
    * base resolution is the one-time cost the increment exists to avoid
    * (here recomputed in-query because the registry query must be
    * self-contained — a deployment would read the persisted base labels,
    * the `x_ann_index_append` artifact pattern).
    */
  val erIncremental = Q(
    "x_er_incremental",
    (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("k"), col("c_name").as("nm"),
          col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))
        .truncateLineage()
      def part(i: Int) = concat(
        substring(col("nm"), 10 + i, 1), substring(col("nm"), 13 + i, 1),
        substring(col("nm"), 16 + i, 1))
      val keyed = c.select(col("k"), col("nm"), col("nat"), col("seg"),
        part(0).as("p0"), part(1).as("p1"), part(2).as("p2"))
        .truncateLineage()
      val baseK  = keyed.filter(col("k") % 7 =!= 0)
      val deltaK = keyed.filter(col("k") % 7 === 0)
      def candPairs(left: org.apache.spark.sql.DataFrame, right: org.apache.spark.sql.DataFrame) =
        Seq(("p0", "p1"), ("p0", "p2"), ("p1", "p2")).map { case (x, y) =>
          val a = left.select(col("k").as("xk"), col("nm").as("xnm"),
            col("nat"), col("seg"), col(x).as("bx"), col(y).as("by"))
          val b = right.select(col("k").as("yk"), col("nm").as("ynm"),
            col("nat"), col("seg"), col(x).as("bx"), col(y).as("by"))
          a.join(b, Seq("nat", "seg", "bx", "by")).filter(col("xk") =!= col("yk"))
            .select(col("xk"), col("yk"), col("xnm"), col("ynm"))
        }.reduce(_ union _).distinct()
          .filter(levenshtein(col("xnm"), col("ynm")) <= 1)
          .select(col("xk"), col("yk"))
      // one-time base resolution (frozen thereafter)
      val bp = candPairs(baseK, baseK).filter(col("xk") < col("yk"))
      val be = bp.select(col("xk").as("src"), col("yk").as("dst"))
        .union(bp.select(col("yk").as("src"), col("xk").as("dst")))
        .truncateLineage()
      var bl = baseK.select(col("k").as("node"), col("k").as("label"))
      for (_ <- 1 to 3) {
        val nbrMin = be
          .join(bl.select(col("node").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("node")).agg(min(col("label")).as("nl"))
        bl = bl.join(nbrMin, Seq("node"), "left")
          .select(col("node"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      }
      // NOT per-round-pinned, deliberately (r18 A/B): the 3 bounded rounds
      // read only checkpointed inputs (be, baseK) and exchange reuse dedupes
      // the doubled label lineage; adding a pin per round measured 2.02 ->
      // 2.80 s at sf0.1 quiet (two extra materialization jobs for plans that
      // were already block-backed). Contrast GraphOps' unbounded loops,
      // where per-round truncation is REQUIRED for plan growth.
      val baseLab = bl.truncateLineage()
      // delta-involving edges only: |delta| x bounded-block
      val de = candPairs(deltaK, keyed).truncateLineage()
      var dl = deltaK.select(col("k").as("node"), col("k").as("label"))
      for (_ <- 1 to 2) {
        val labAll = baseLab.union(dl)
        val nbr = de.join(labAll.select(col("node").as("yk"), col("label")), "yk")
          .groupBy(col("xk").as("node")).agg(min(col("label")).as("nl"))
        dl = dl.join(nbr, Seq("node"), "left")
          .select(col("node"), least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      }
      dl.select(col("node").as("delta_k"), col("label").as("rep"),
          when(col("label") % 7 =!= 0, 1L).otherwise(0L).as("is_existing"))
        .orderBy("delta_k")
    },
    Some {
      val baseRounds = (1 to 3).map { r =>
        s"""l$r AS (
              SELECT l.node, least(l.label, coalesce(m.nl, l.label)) AS label
              FROM l${r - 1} l LEFT JOIN (
                SELECT e.src AS node, min(l.label) AS nl
                FROM be e JOIN l${r - 1} l ON e.dst = l.node GROUP BY e.src) m
              ON l.node = m.node)"""
      }.mkString(",\n            ")
      val deltaRounds = (1 to 2).map { r =>
        s"""m$r AS (
              SELECT m.node, least(m.label, coalesce(x.nl, m.label)) AS label
              FROM m${r - 1} m LEFT JOIN (
                SELECT de.xk AS node, min(al.label) AS nl
                FROM de JOIN (SELECT node, label FROM l3
                              UNION ALL SELECT node, label FROM m${r - 1}) al
                  ON de.yk = al.node
                GROUP BY de.xk) x ON m.node = x.node)"""
      }.mkString(",\n            ")
      s"""WITH c AS (
              SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS nm, c_nationkey AS nat,
                c_mktsegment AS seg
              FROM customer),
            bc AS (SELECT * FROM c WHERE k % 7 <> 0),
            dc AS (SELECT * FROM c WHERE k % 7 = 0),
            bp AS (
              SELECT a.k AS x, b.k AS y FROM bc a JOIN bc b
              ON a.nat = b.nat AND a.seg = b.seg AND a.k < b.k
                AND levenshtein(a.nm, b.nm) <= 1),
            be AS (SELECT x AS src, y AS dst FROM bp UNION ALL SELECT y, x FROM bp),
            l0 AS (SELECT k AS node, k AS label FROM bc),
            $baseRounds,
            de AS (
              SELECT d.k AS xk, o.k AS yk FROM dc d JOIN c o
              ON d.nat = o.nat AND d.seg = o.seg AND d.k <> o.k
                AND levenshtein(d.nm, o.nm) <= 1),
            m0 AS (SELECT k AS node, k AS label FROM dc),
            $deltaRounds
            SELECT node AS delta_k, label AS rep,
              CAST(CASE WHEN label % 7 <> 0 THEN 1 ELSE 0 END AS BIGINT) AS is_existing
            FROM m2 ORDER BY delta_k"""
    }
  )

  val qs: Seq[Q] = Seq(
    cdcApply, cdcMerge, dataQualityReport, anomalyDays, pagerankQ, pprQ, fuzzyJoinEdit, mvIncremental,
    sampleWeighted, skewReport, gdprPurge, snapshotDiff, sketchSetOps, annPq, annIvfPq,
    columnProfile, histogramQ, bfsLayersQ, ohlcBars, compactionPlan,
    funnelIncremental, distinctKmv,
    textStats, textQuality, textLangId, textFingerprint, approxDistinct, jsonExtract, jsonStruct, jsonVariant,
    heavyHitters, ngramFreq, quantiles, textRepetition, splitTrainTest, sampleStratified,
    packSequences,
    dedupExact, dedupMinhash, dedupSimhash, dedupNgram, dedupEmbedding, dedupEmbeddingNearDup,
    dedupContainment, dedupClusters, dedupKeepBest, dedupMinhashIncremental, dedupEmbeddingIncremental, contaminationScan, dedupIncremental,
    piiRedact, mixSources, decontaminate, curationPipeline, curationPipeline2, selectTopQuantile, selectTopQuantileLang, domainCap,
    streamSetSimilarity, trendingTopK, dedupIncrementalStream, neardupFilter, c4LineClean, dedupSpans,
    gopherQuality, gopherRepetition, dedupSpansIncremental, dedupTokenSpans, dedupTokenSpansIncremental, dedupLinesWithin,
    qualityPerplexity, dsirWeights, semDedup, kMeansQ, kMeansModelQ, tfidfKeywords, embeddingQuantize, bm25Search, vocabCoverage, qualityBySource,
    qualityClassifier, mixTemperature, upsampleEpochs, dedupUrl, bpePairCounts, bpeMerges, bpeTokenize, chunkDocuments, curationPipeline3,
    htmlExtract, shardAssign, shardManifestQ, hardNegativesQ, urlFilter, curationPipeline4,
    curationPipeline5, zorderQ, entityResolution, erIncremental, groupSplit,
    annBruteForce, annLsh, annIvf, annInt8,
    multimodalMeta, multimodalFrames, multimodalResize, multimodalFeatures, multimodalAhash
  )
}
