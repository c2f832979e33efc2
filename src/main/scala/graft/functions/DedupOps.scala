package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Layout.LineageOps

/** Deduplication operators for corpus-scale pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design: every path is shuffle-bounded by the LSH band trick
  * (shingle → minhash → band-bucket → within-bucket pairs) so candidate
  * generation never goes quadratic in the corpus; only verified candidates pay
  * the exact-Jaccard cost. Signatures are computed by the native codegen'd
  * kernels in [[NativeExprs]] (`minhash_sig`/`simhash64`/`cosine_sim`) — no
  * UDFs and no interpreted lambda pipelines in the hot path.
  */
object DedupOps {

  /** Word n-gram shingles of a text column. Texts shorter than n words get a
    * single whole-text shingle so they still participate.
    */
  def shingles(text: Column, n: Int = 3): Column =
    NativeFns.word_shingles(text, n)

  /** Exact Jaccard similarity between two array columns (double; both arrays
    * assumed distinct). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - size(array_intersect(a, b))
    when(union === 0, 1.0).otherwise(inter / union.cast("double"))
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand = k), hash
    * each band, bucket-join, emit within-bucket pairs (id_a < id_b). One
    * shuffle on (band, bucket); bucket lists stay small because a band match
    * at r rows already implies high similarity.
    */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      bands: Int,
      rowsPerBand: Int,
      maxBucketSize: Int = 200
  ): DataFrame = {
    val banded = df.select(
      col(idCol),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)))
        )
      ).as(Seq("band", "bucket"))
    )
    pairsFromBuckets(banded, idCol, maxBucketSize)
  }

  /** Distinct within-bucket id pairs (id_a < id_b) from a pre-exploded
    * (id, band, bucket) frame — the shared sub-quadratic core of every LSH
    * dedup path. One shuffle on (band, bucket). Ids are widened to bigint
    * (the pair kernel's contract); pair expansion runs in the codegen'd
    * [[NativeExprs IdPairsExpr]] kernel — a nested interpreted-HOF pipeline
    * here paid per-element lambda dispatch on every bucket.
    *
    * Oversized buckets (hash collisions / degenerate bands) are TRUNCATED to
    * their `maxBucketSize` smallest ids, not dropped: dropping made recall
    * fall off a cliff to zero for every member of a hot bucket the moment it
    * crossed the cap, silently. Truncation bounds the work at
    * maxBucketSize²/2 pairs per bucket while keeping deterministic partial
    * recall. The cap is enforced BEFORE `collect_list` by a `row_number`
    * over the same (band, bucket) keys — the window's hash partitioning is
    * the aggregation's partitioning, so no extra exchange is introduced and
    * no aggregation buffer ever materializes an unbounded bucket.
    */
  def pairsFromBuckets(banded: DataFrame, idCol: String, maxBucketSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
      .orderBy(col("__pid"))
    banded
      .select(col("band"), col("bucket"), col(idCol).cast("long").as("__pid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucketSize)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("__pid"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(NativeFns.id_pairs(col("ids"))).as("pair"))
      .select(col("pair.id_a"), col("pair.id_b"))
      .distinct()
  }

  /** Fuzzy self-join statistics at edit distance ≤ 1 via the FastSS deletion
    * neighborhood (Bocek, Hunt, Stiller, "Fast Similarity Search in Large
    * Dictionaries", U. Zurich TR 2007): each string emits itself plus its
    * |s| single-deletion variants, and every edit-≤1 pair shares at least
    * one variant, so the variant join is a LOSSLESS candidate generator.
    * Returns one row: (n_candidates, n_pairs, n_capped_variants).
    *
    * Oversized variant buckets (mass-duplicate strings, degenerate key
    * spaces) are truncated to their `maxVariantBucket` smallest ids — the
    * [[pairsFromBuckets]] discipline, bounding per-bucket work at cap²/2 —
    * and the truncation is REPORTED in-row as `n_capped_variants` (count of
    * variant buckets that overflowed), so a pathological key space degrades
    * LOUDLY in the result instead of silently going quadratic or silently
    * losing recall. The bucket count rides the row_number's own window
    * partitioning (a second window function over the same keys — no extra
    * exchange), and the 1-row breach count joins the 1-row stats by a
    * broadcast-1-row cross join, never a collect.
    */
  def fuzzyEditJoinStats(
      df: DataFrame, idCol: String, strCol: String, maxVariantBucket: Int = 50
  ): DataFrame = {
    val c = df.select(col(idCol).cast("long").as("id"), col(strCol).as("name"))
    // Skinny (var, id) frames through the candidate join — the name strings
    // ride only the two verify joins AFTER the distinct collapses duplicates.
    val vars = c.select(col("id"),
      explode(expr("""concat(array(name),
          transform(sequence(1, length(name)),
            i -> concat(substring(name, 1, i - 1), substring(name, i + 1, 1000))))"""))
        .as("var"))
    val wv = org.apache.spark.sql.expressions.Window.partitionBy(col("var"))
    val counted = vars
      .withColumn("rn", row_number().over(wv.orderBy(col("id"))))
      .withColumn("cnt", count(lit(1)).over(wv))
    val capped = counted.filter(col("rn") <= maxVariantBucket)
    val a = capped.select(col("var"), col("id").as("id_a"))
    val b = capped.select(col("var"), col("id").as("id_b"))
    val stats = a.join(b, "var")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(c.select(col("id").as("id_a"), col("name").as("name_a")), "id_a")
      .join(c.select(col("id").as("id_b"), col("name").as("name_b")), "id_b")
      .agg(
        count(lit(1)).as("n_candidates"),
        coalesce(sum(when(levenshtein(col("name_a"), col("name_b")) <= 1, 1L).otherwise(0L)),
          lit(0L)).as("n_pairs"))
    val breaches = counted
      .filter(col("rn") === 1 && col("cnt") > maxVariantBucket)
      .agg(count(lit(1)).as("n_capped_variants"))
    stats.crossJoin(breaches)
  }

  /** Train/eval contamination scan: flags every training doc sharing at
    * least one word n-gram with a benchmark/eval set — the pre-training
    * hygiene check that keeps test-set text out of the corpus. Returns
    * (train_id, n_eval_docs, n_shared_shingles).
    *
    * Scale shape: benchmark suites are tiny next to a 100 TB corpus, so the
    * eval shingle set is BROADCAST and the train side is never shuffled —
    * the shingle explode is map-side, the join is a broadcast hash join, and
    * the only exchange is the final per-train-doc aggregation over matches
    * (a vanishingly small fraction of the corpus). Contrast with joining two
    * corpus-scale sides, which would shuffle every shingle.
    */
  def contamination(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5
  ): DataFrame = {
    // Shingle HASHES, not strings: the broadcast side and the join keys are
    // 8-byte longs (collision odds ~1e-15 per shared shingle).
    val tsh = train.select(col(idCol).as("train_id"), explode(NativeFns.word_shingle_hashes(col(textCol), n)).as("sh"))
    val esh = eval.select(col(idCol).as("eval_id"), explode(NativeFns.word_shingle_hashes(col(textCol), n)).as("sh"))
    tsh
      .join(broadcast(esh), "sh")
      .groupBy("train_id")
      .agg(
        countDistinct(col("eval_id")).as("n_eval_docs"),
        countDistinct(col("sh")).as("n_shared_shingles"))
  }

  /** End-to-end MinHash near-dup detection: shingle → minhash → LSH candidates
    * → exact-Jaccard verification at `threshold`. Returns (id_a, id_b,
    * jaccard) for verified pairs.
    */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.5
  ): DataFrame = {
    val rowsPerBand = k / bands
    // String-free shingle path: the codegen'd word_shingle_hashes kernel
    // emits sorted distinct shingle HASHES (array<long>) straight from the
    // text bytes — no token strings, no shingle strings — and minhash bands
    // over them. The verify joins then move 8-byte elements and intersect
    // longs. Hashed-set Jaccard == string-set Jaccard absent a within-pair
    // 64-bit collision (~1e-15).
    val withSh  = docs.select(col(idCol), NativeFns.word_shingle_hashes(col(textCol), shingleN).as("sh"))
    val withSig = withSh.withColumn("sig", NativeFns.minhash_sig_long(col("sh"), k))
    val cands   = lshCandidatePairs(withSig.select(col(idCol), col("sig")), idCol, "sig", bands, rowsPerBand)
    // EXACT-SAFE size-ratio prefilter before any shingle array ships:
    // J(A,B) ≥ t forces |A∩B| ≥ t·|A∪B| with |A∩B| ≤ min and |A∪B| ≥ max,
    // so min(|A|,|B|) ≥ t·max(|A|,|B|) is a NECESSARY condition — filtering
    // on it can never drop a true pair. It matters because sub-threshold
    // band collisions dominate the candidate set (the gen100 replay measured
    // 315.8M candidates at 5M docs on the low-entropy synthetic vocabulary —
    // a 2-gram space of ~10³ shingles makes single-band agreement a
    // constant-rate event per pair), and each surviving candidate drags TWO
    // shingle-hash arrays through the verify join. The size join moves
    // 16-byte rows; the arrays join only the survivors.
    // Join on the UNCAST id (the sh_a/sh_b joins' convention): a cast-to-long
    // here would null out string ids and silently drop every candidate.
    val szA = withSh.select(col(idCol).as("id_a"), size(col("sh")).as("__sza"))
    val szB = withSh.select(col(idCol).as("id_b"), size(col("sh")).as("__szb"))
    val sized = cands
      .join(szA.hint("shuffle_hash"), "id_a")
      .join(szB.hint("shuffle_hash"), "id_b")
      .filter(least(col("__sza"), col("__szb")).cast("double")
        >= lit(threshold) * greatest(col("__sza"), col("__szb")).cast("double"))
      .select(col("id_a"), col("id_b"))
    val a = withSh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    sized
      .join(a.hint("shuffle_hash"), "id_a")
      .join(b.hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Containment near-dups: |A∩B| / min(|A|,|B|) ≥ threshold — catches a
    * short document embedded in a longer one (doc-in-doc, quote farms,
    * boilerplate wrappers), which symmetric Jaccard under-scores when lengths
    * differ. Same sub-quadratic LSH candidate pipeline as
    * [[minhashNearDups]]; note MinHash banding estimates JACCARD, so recall
    * for high-containment/low-Jaccard pairs (very unequal lengths) degrades —
    * for those regimes, band on the SHORT side's shingles or lower the band
    * rows. Returns (id_a, id_b, containment).
    */
  def containmentNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.9
  ): DataFrame = {
    val rowsPerBand = k / bands
    // Same string-free shingle-hash path as [[minhashNearDups]].
    val withSh  = docs.select(col(idCol), NativeFns.word_shingle_hashes(col(textCol), shingleN).as("sh"))
    val withSig = withSh.withColumn("sig", NativeFns.minhash_sig_long(col("sh"), k))
    val cands   = lshCandidatePairs(withSig.select(col(idCol), col("sig")), idCol, "sig", bands, rowsPerBand)
    val a = withSh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    cands
      .join(a.hint("shuffle_hash"), "id_a")
      .join(b.hint("shuffle_hash"), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Corpus-wide SPAN dedup — C4's signature global cleaning move (Raffel et
    * al. JMLR 2020 §2.2: "we discarded all but one of any three-sentence
    * span occurring more than once in the data set"), here over LINE spans:
    * every `spanLines`-consecutive-line window is hashed (positional
    * codegen'd [[NativeFns line_span_hashes]] kernel), the globally FIRST
    * occurrence of each span (min (doc_id, line_idx)) keeps its lines, and
    * every line covered by any other occurrence of a duplicated span is
    * removed; documents are rebuilt from their surviving lines. A document
    * duplicated wholesale elsewhere in the corpus loses all its covered
    * lines (clean = "") — exact-dup removal falls out as a special case.
    *
    * Scale shape: span explode is map-side; the global first-occurrence pass
    * is ONE hash-partitioned aggregation on the span hash with map-side
    * partial min/count; only DUPLICATED spans (a tiny fraction of a real
    * corpus) flow into the occurrence join; line removal is a keyed
    * anti-join and the rebuild one groupBy(doc). Nothing is quadratic and
    * nothing collects. Boilerplate spans repeated millions of times make the
    * occurrence join's hash side skewed — AQE's skew-join splitting handles
    * that at runtime (enabled in every session here).
    *
    * Returns one row per input doc: (idCol, clean, n_kept, n_removed).
    */
  def dedupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanLines: Int = 3
  ): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("__id"), col(textCol).as("__t"))
    val spans = base.select(col("__id"),
      posexplode(NativeFns.line_span_hashes(col("__t"), spanLines)).as(Seq("__idx", "__h")))
    val dupFirst = spans.groupBy("__h")
      .agg(min(struct(col("__id"), col("__idx"))).as("__first"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__h"), col("__first"))
    // Same shape fixes as [[dedupTokenSpans]]: hash-join past the sort, no
    // distinct (the rebuild kernel's position set absorbs overlap dups).
    val removed = spans.join(dupFirst.hint("shuffle_hash"), "__h")
      .filter(struct(col("__id"), col("__idx")) =!= col("__first"))
      .select(col("__id"),
        explode(sequence(col("__idx"), col("__idx") + lit(spanLines - 1))).as("__line"))
    rebuildWithoutLines(base, removed, idCol)
  }

  /** Rebuild documents minus a removal set: `base` is (__id, __t), `removed`
    * is (__id, __line) line indices to drop — the line face of
    * [[rebuildWithoutTokens]], sharing the one-pass `remove_positions`
    * kernel (sep = "\n"). Only docs that actually lost lines aggregate and
    * join back; everything else is a map-side projection. Shared tail of
    * [[dedupSpans]] and [[dedupSpansAgainstCorpus]].
    */
  private def rebuildWithoutLines(base: DataFrame, removed: DataFrame, idCol: String): DataFrame = {
    val remArr = removed.groupBy("__id")
      .agg(collect_set(col("__line").cast("int")).as("__rm"))
    base.join(remArr, Seq("__id"), "left")
      .select(col("__id"),
        NativeFns.remove_positions(
          col("__t"), coalesce(col("__rm"), array().cast("array<int>")), "\n").as("__r"))
      .select(
        col("__id").as(idCol),
        col("__r").getField("clean").as("clean"),
        col("__r").getField("n_kept").as("n_kept"),
        col("__r").getField("n_removed").as("n_removed"))
  }

  /** Token-level EXACT-SUBSTRING dedup — Lee et al.'s ExactSubstr rule
    * ("Deduplicating Training Data Makes Language Models Better", ACL
    * 2022): any `spanTokens`-consecutive-token window occurring more than
    * once in the corpus keeps only its globally first occurrence (min
    * (doc_id, token_idx)); every token covered by another occurrence is
    * removed and documents are rebuilt from their surviving tokens. The
    * token-granularity sibling of [[dedupSpans]] (C4's line rule) — same
    * global first-occurrence aggregation, duplicated-occurrence join, and
    * anti-join rebuild, driven by the positional codegen'd
    * `token_span_hashes` kernel.
    *
    * The paper's suffix array finds variable-length duplicated substrings
    * ≥ 50 tokens; fixed-k windows with covered-token union remove exactly
    * the tokens of every duplicated run of length ≥ k (a run of length
    * L ≥ k is covered by its L−k+1 windows), which is the standard
    * distributed reformulation — no corpus-wide suffix array to build or
    * shard, just one hash-partitioned aggregation. Same scale shape as
    * [[dedupSpans]]: span explode map-side, only duplicated spans flow into
    * the occurrence join, AQE skew-join absorbs hot boilerplate spans.
    *
    * Returns one row per input doc: (idCol, clean, n_kept, n_removed),
    * counts in TOKENS.
    */
  def dedupTokenSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 20
  ): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("__id"), col(textCol).as("__t"))
    val spans = base.select(col("__id"),
      posexplode(NativeFns.token_span_hashes(col("__t"), spanTokens)).as(Seq("__idx", "__h")))
    val dupFirst = spans.groupBy("__h")
      .agg(min(struct(col("__id"), col("__idx"))).as("__first"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__h"), col("__first"))
    // shuffle_hash: the dup-hash side is far past the broadcast threshold at
    // corpus scale but hash-buildable per partition — an SMJ here sorts the
    // full span frame (measured: the sort dominated the stage). No distinct:
    // overlapping windows' duplicate positions collapse in the rebuild
    // kernel's position set, so the extra corpus-sized shuffle buys nothing.
    val removed = spans.join(dupFirst.hint("shuffle_hash"), "__h")
      .filter(struct(col("__id"), col("__idx")) =!= col("__first"))
      .select(col("__id"),
        explode(sequence(col("__idx"), col("__idx") + lit(spanTokens - 1))).as("__pos"))
    rebuildWithoutTokens(base, removed, idCol)
  }

  /** Rebuild documents minus a token-position removal set — the
    * token-granularity sibling of [[rebuildWithoutLines]], but MAP-SIDE:
    * only the removed positions (docs that actually lost tokens — the
    * duplicated sliver) are aggregated and joined back; the surviving text
    * is reconstructed per row with `array_except(sequence, removed)` (hash
    * set, order-preserving on its left argument) + `transform`/`element_at`
    * over the re-split token array. A first cut posexploded EVERY token
    * into an anti-join + per-doc `collect_list` — shuffling the whole
    * corpus's tokens and spilling the aggregation buffers, measured 13× at
    * 10× data; this shape moves only removed positions and runs the
    * rebuild at scan speed. `split(" ", -1)` (keep empties) matches the
    * `token_span_hashes` kernel's positional tokenization exactly.
    */
  private def rebuildWithoutTokens(base: DataFrame, removed: DataFrame, idCol: String): DataFrame = {
    // collect_set: map-side partial dedup of overlapping-window positions —
    // the removal sliver shuffles once, doc-keyed, already deduplicated.
    val remArr = removed.groupBy("__id")
      .agg(collect_set(col("__pos").cast("int")).as("__rm"))
    base.join(remArr, Seq("__id"), "left")
      .select(col("__id"),
        NativeFns.remove_positions(
          col("__t"), coalesce(col("__rm"), array().cast("array<int>")), " ").as("__r"))
      .select(
        col("__id").as(idCol),
        col("__r").getField("clean").as("clean"),
        col("__r").getField("n_kept").as("n_kept"),
        col("__r").getField("n_removed").as("n_removed"))
  }

  /** INCREMENTAL span dedup — the ingestion-time face of [[dedupSpans]]:
    * every span of an arriving batch that ALREADY EXISTS anywhere in a
    * static corpus loses its lines (the corpus copy is the first occurrence
    * by definition; within-batch repetition is [[dedupSpans]]'s business).
    * The corpus is paid for ONCE: its distinct span hashes feed the
    * [[BloomDedup]] distributed bitset (MBs for billions of spans,
    * reusable across batches), each batch probes map-side, and only the
    * maybe-present sliver (true hits + fpp) is exact-verified against the
    * corpus hash set — the corpus is never re-joined wholesale per batch,
    * the same shape [[BloomDedup.newAgainstCorpus]] proves for whole-text
    * dedup. Returns (idCol, clean, n_kept, n_removed) for the batch.
    */
  def dedupSpansAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      spanLines: Int = 3,
      fpp: Double = 0.01
  ): DataFrame = {
    val ck = corpus
      .select(explode(NativeFns.line_span_hashes(col(textCol), spanLines)).as("__ck"))
      .distinct().persist()
    try {
      val (nBits, k) = BloomDedup.geometry(ck.count(), fpp)
      val filt = BloomDedup.buildFilter(ck, "__ck", nBits, k)
      val base = batch.select(col(idCol).cast("long").as("__id"), col(textCol).as("__t"))
      val spans = base.select(col("__id"),
        posexplode(NativeFns.line_span_hashes(col("__t"), spanLines)).as(Seq("__idx", "__h")))
      // Probe DISTINCT batch span hashes (hash doubles as its own id), then
      // exact-verify the sliver so fpp never removes an innocent line.
      val maybe = BloomDedup.maybeContains(
        spans.select(col("__h").as("__mid"), col("__h").as("__mk")),
        "__mid", "__mk", filt, nBits, k)
      val dupHashes = maybe.select(col("__mid").as("__h"))
        .join(ck.withColumnRenamed("__ck", "__h"), Seq("__h"), "left_semi")
      val removed = spans.join(dupHashes, Seq("__h"), "left_semi")
        .select(col("__id"),
          explode(sequence(col("__idx"), col("__idx") + lit(spanLines - 1))).as("__line"))
      rebuildWithoutLines(base, removed, idCol).truncateLineage()
    } finally ck.unpersist()
  }

  /** INCREMENTAL token-span dedup — [[dedupTokenSpans]]'s ingestion-time
    * face, completing the family symmetry with [[dedupSpansAgainstCorpus]]:
    * every `spanTokens`-token window of an arriving batch that already
    * exists in the static corpus loses its tokens (the corpus copy is first
    * by definition). Same Bloom-bitset shape: corpus window hashes → filter
    * once (MBs, reusable across batches), batch probes map-side, the
    * maybe-present sliver exact-verifies, covered tokens drop, docs rebuild.
    */
  def dedupTokenSpansAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 20,
      fpp: Double = 0.01
  ): DataFrame = {
    val ck = corpus
      .select(explode(NativeFns.token_span_hashes(col(textCol), spanTokens)).as("__ck"))
      .distinct().persist()
    try {
      val (nBits, k) = BloomDedup.geometry(ck.count(), fpp)
      val filt = BloomDedup.buildFilter(ck, "__ck", nBits, k)
      val base = batch.select(col(idCol).cast("long").as("__id"), col(textCol).as("__t"))
      val spans = base.select(col("__id"),
        posexplode(NativeFns.token_span_hashes(col("__t"), spanTokens)).as(Seq("__idx", "__h")))
      val maybe = BloomDedup.maybeContains(
        spans.select(col("__h").as("__mid"), col("__h").as("__mk")),
        "__mid", "__mk", filt, nBits, k)
      val dupHashes = maybe.select(col("__mid").as("__h"))
        .join(ck.withColumnRenamed("__ck", "__h"), Seq("__h"), "left_semi")
      val removed = spans.join(dupHashes, Seq("__h"), "left_semi")
        .select(col("__id"),
          explode(sequence(col("__idx"), col("__idx") + lit(spanTokens - 1))).as("__pos"))
      rebuildWithoutTokens(base, removed, idCol).truncateLineage()
    } finally ck.unpersist()
  }

  /** Cross-corpus MinHash near-dup — "dedupe the new crawl against the
    * existing corpus": candidate pairs are (batch doc, corpus doc) sharing
    * an LSH band bucket, verified by exact Jaccard over shingle hashes.
    * The ingestion-time face of [[minhashNearDups]] (which is within-corpus)
    * and the NEAR-dup sibling of [[BloomDedup.newAgainstCorpus]] (exact).
    *
    * Scale shape: both sides band map-side; the one shuffle is the
    * (band, bucket) join — the batch side is small (one crawl increment),
    * so each corpus bucket row meets only the batch rows of its bucket, and
    * per-bucket batch rows are capped (`maxBatchPerBucket`, same
    * truncate-don't-drop contract as [[pairsFromBuckets]]). The corpus is
    * never self-joined and never re-shuffled beyond its band explode;
    * shingle hashes ride the verify joins as 8-byte longs.
    *
    * Returns (batch_id, corpus_id, jaccard) for verified pairs ≥ threshold.
    */
  def minhashNearDupsAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBatchPerBucket: Int = 200
  ): DataFrame = {
    val rowsPerBand = k / bands
    // Skinny (id, band, bucket) frames band the shuffle; shingle arrays
    // stay OUT of the band join (they would be duplicated per band row)
    // and ride the two verify joins as hashed-long arrays instead — the
    // same shape as [[minhashNearDups]].
    def banded(df: DataFrame, outId: String): DataFrame =
      df.select(
        col(idCol).cast("long").as(outId),
        NativeFns.minhash_sig_long(
          NativeFns.word_shingle_hashes(col(textCol), shingleN), k).as("__sig"))
        .select(col(outId),
          posexplode(
            transform(
              sequence(lit(0), lit(bands - 1)),
              bnd => hash(slice(col("__sig"), bnd * rowsPerBand + 1, lit(rowsPerBand)))
            )
          ).as(Seq("band", "bucket")))
    // Cap the BATCH side per (band, bucket) — a hot bucket (boilerplate-
    // heavy crawl) otherwise multiplies every matching corpus row.
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("batch_id"))
    val b = banded(batch, "batch_id")
      .withColumn("__rn", row_number().over(bw))
      .filter(col("__rn") <= maxBatchPerBucket)
      .drop("__rn")
    val cands = banded(corpus, "corpus_id")
      .join(b, Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    val shB = batch.select(col(idCol).cast("long").as("batch_id"),
      NativeFns.word_shingle_hashes(col(textCol), shingleN).as("__sh_b"))
    val shC = corpus.select(col(idCol).cast("long").as("corpus_id"),
      NativeFns.word_shingle_hashes(col(textCol), shingleN).as("__sh_c"))
    cands
      .join(shB.hint("shuffle_hash"), "batch_id")
      .join(shC.hint("shuffle_hash"), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("__sh_b"), col("__sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus embedding near-dup — "are these new embeddings already in
    * the index": candidate pairs are (batch vector, corpus vector) sharing
    * an SRP bucket in any table, verified by exact cosine. The embedding
    * sibling of [[minhashNearDupsAgainstCorpus]], same shape: skinny
    * (id, band, bucket) frames join on buckets (batch side capped per
    * bucket), vectors ride two shuffle-hash-hinted verify joins; the
    * corpus is never self-joined. For identical/near-identical vectors SRP
    * recall is ~1 (equal vectors share every bucket). Returns
    * (batch_id, corpus_id, cos) for pairs ≥ threshold.
    */
  def embeddingNearDupsAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nPlanes: Int = 8,
      tables: Int = 8,
      dim: Int = 64,
      maxBatchPerBucket: Int = 2000
  ): DataFrame = {
    val planes: Array[Array[Array[Double]]] =
      (0 until tables).map(t => AnnSearch.hyperplanes(nPlanes, dim, seed = 42L + t).map(_.toArray).toArray).toArray
    def banded(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).cast("long").as(outId),
        posexplode(NativeFns.srp_buckets(col(vecCol), planes)).as(Seq("band", "bucket")))
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("batch_id"))
    val b = banded(batch, "batch_id")
      .withColumn("__rn", row_number().over(bw))
      .filter(col("__rn") <= maxBatchPerBucket)
      .drop("__rn")
    val cands = banded(corpus, "corpus_id")
      .join(b, Seq("band", "bucket"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    val vb = batch.select(col(idCol).cast("long").as("batch_id"), col(vecCol).as("__vb"))
    val vc = corpus.select(col(idCol).cast("long").as("corpus_id"), col(vecCol).as("__vc"))
    cands
      .join(vb.hint("shuffle_hash"), "batch_id")
      .join(vc.hint("shuffle_hash"), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        NativeFns.cosine_sim(col("__vb"), col("__vc")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SimHash near-dup candidates: fingerprint + 4-way band partition of the 64
    * bits; equal band ⇒ candidate; verified by Hamming distance ≤ maxHamming.
    *
    * Candidate generation goes through the shared row_number-capped
    * [[pairsFromBuckets]] core — the same truncate-don't-drop bound every
    * other dedup path uses. An uncapped band self-join looked identical on
    * test data but is exactly the shape that detonates on the data dedup
    * sees at corpus scale: duplicate-heavy corpora concentrate identical
    * 16-bit bands into hot buckets, and one 10⁶-row bucket is 5·10¹¹ join
    * rows. With the cap, per-bucket work is ≤ maxBucketSize²/2 pairs and
    * hot buckets degrade to deterministic partial recall instead of a
    * quadratic stage.
    */
  def simhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 200
  ): DataFrame = {
    val withSim = docs.select(
      col(idCol).cast("long").as("__sid"),
      TextAnalysis.simHash64(col(textCol)).as("simhash"))
    val banded = withSim.select(
      col("__sid"),
      posexplode(
        transform(sequence(lit(0), lit(3)), b =>
          call_function("shiftrightunsigned", col("simhash"), (b * 16).cast("int")).bitwiseAND(0xffffL))
      ).as(Seq("band", "bucket"))
    )
    val cands = pairsFromBuckets(banded, "__sid", maxBucketSize)
    val a = withSim.select(col("__sid").as("id_a"), col("simhash").as("sim_a"))
    val b = withSim.select(col("__sid").as("id_b"), col("simhash").as("sim_b"))
    cands
      .join(a.hint("shuffle_hash"), "id_a")
      .join(b.hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs above `threshold`, sub-quadratic via
    * sign-random-projection bucketing: both sides are SRP-hashed into
    * `tables` independent hash tables of 2^nPlanes buckets (the codegen'd
    * [[NativeExprs SrpBucketsExpr]] kernel), candidate pairs are emitted only
    * within buckets (one shuffle on (table, bucket) through
    * [[pairsFromBuckets]]), and the exact cosine is evaluated only on
    * candidates. Nothing is collected to the driver — the whole path is
    * distributed and scales with candidate volume, not corpus².
    *
    * Approximate by design (like any LSH method): recall per pair at cosine c
    * is 1-(1-p^nPlanes)^tables with p = 1 - acos(c)/π. For genuine near-dups
    * (c ≥ 0.9) the defaults give >0.93 recall; for low thresholds pass fewer
    * planes / more tables. Deterministic: hyperplanes are seed-fixed.
    */
  def embeddingNearDups(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nPlanes: Int = 8,
      tables: Int = 8,
      dim: Int = 64,
      maxBucketSize: Int = 2000
  ): DataFrame = {
    val planes: Array[Array[Array[Double]]] =
      (0 until tables).map(t => AnnSearch.hyperplanes(nPlanes, dim, seed = 42L + t).map(_.toArray).toArray).toArray
    val ids = embs.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
    // Vectors travel WITH their bucket rows and every bucket scores its own
    // pairs inside the codegen'd cosine_pairs kernel — candidate pairs are
    // never materialized as rows, so the former per-pair verify JOINs (and
    // their broadcast-threshold cliff: sort-merge sorting 31M candidate
    // rows at the 60k-vector point, 63 s) are gone from the plan. Cost
    // model: one (band, bucket) shuffle of n·tables vector rows vs a pair
    // shuffle of n·tables·occupancy/2 skinny rows PLUS two vector joins —
    // the fused form wins whenever occupancy > ~2, i.e. always. A true
    // near-dup is scored once per co-occurring table (~q·tables times);
    // `distinct` collapses the bit-identical scores. Row cap before
    // collect_list identical to [[pairsFromBuckets]] (same window, same
    // exchange-free partitioning, deterministic truncation).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
      .orderBy(col("__id"))
    ids
      .select(
        col("__id"), col("__vec"),
        posexplode(NativeFns.srp_buckets(col("__vec"), planes)).as(Seq("band", "bucket")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucketSize)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("__id").as("id"), col("__vec").as("vec"))).as("items"))
      .filter(size(col("items")) > 1)
      .select(explode(NativeFns.cosine_pairs(col("items"), threshold)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.cos"))
      .distinct()
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    * k-means-cluster-then-prune — assign every embedding to its nearest
    * centroid, then WITHIN each cluster drop every vector that has an
    * earlier (lower-id) cluster-mate with cosine ≥ `threshold`. Clustering
    * makes the pair search local: only within-cluster pairs are scored, so
    * the work is Σ|cluster|²/2 instead of n²/2, and cross-cluster near-dups
    * are the accepted approximation (the paper's recall/cost dial is k).
    *
    * `centroids` is the k×dim matrix — small model state, exactly like
    * [[AnnSearch]]'s IVF centroids (and [[AnnSearch.trainCentroids]] is the
    * production way to fit it, on a sample). It broadcasts; assignment is a
    * map-side broadcast nested-loop over k rows + one row_number window.
    * Within-cluster scoring rides the same fused [[NativeFns.cosine_pairs]]
    * kernel as [[embeddingNearDups]] — vectors travel with their cluster
    * rows, candidate pairs never materialize, and the per-cluster
    * `row_number` cap bounds a degenerate cluster at maxBucketSize²/2 pairs
    * (truncate-don't-drop, same contract as [[pairsFromBuckets]]). At scale
    * k grows with n (k ≈ n / target cluster size), keeping per-cluster work
    * constant — the same occupancy argument as [[embeddingNearDupsAuto]].
    *
    * Returns the KEPT rows: (idCol, cluster), one per surviving vector.
    *
    * Single-plan note: the assignment subtree feeds both the pair stage and
    * the final anti-join, so it executes twice here (the plan stays one
    * lazily-optimizable tree, the repo's registry convention). A production
    * pipeline at corpus scale materializes the assignment once
    * (checkpoint/write) between the two consumers.
    */
  def semDedup(
      embs: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucketSize: Int = 2000
  ): DataFrame = {
    val ids   = embs.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
    val cents = centroids.select(col(idCol).cast("long").as("__cid"), col(vecCol).as("__cvec"))
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__cos").desc, col("__cid"))
    val assigned = ids
      .join(broadcast(cents))
      .select(col("__id"), col("__vec"), col("__cid"),
        NativeFns.cosine_sim(col("__vec"), col("__cvec")).as("__cos"))
      .withColumn("__rn", row_number().over(aw))
      .filter(col("__rn") === 1)
      .select(col("__id"), col("__vec"), col("__cid").as("cluster"))
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("__id"))
    val dropped = assigned
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= maxBucketSize)
      .groupBy(col("cluster"))
      .agg(collect_list(struct(col("__id").as("id"), col("__vec").as("vec"))).as("items"))
      .filter(size(col("items")) > 1)
      .select(explode(NativeFns.cosine_pairs(col("items"), threshold)).as("p"))
      .select(col("p.id_b").as("__id"))
      .distinct()
    assigned
      .join(dropped, Seq("__id"), "left_anti")
      .select(col("__id").as(idCol), col("cluster"))
  }

  /** [[embeddingNearDups]] with corpus-size-adaptive SRP geometry — the form
    * that survives a 100× scale-up. Fixed geometry (a constant `nPlanes`)
    * has a constant bucket count, so expected bucket occupancy grows
    * linearly with the corpus and within-bucket pair expansion grows
    * QUADRATICALLY — measured 64× runtime at 10× rows before this existed.
    * Here the bucket count grows with n instead:
    *
    *   nPlanes = ⌈log₂(n / targetOccupancy)⌉ (clamped [4, 20]) keeps
    *     expected occupancy ≈ targetOccupancy, so candidate volume per table
    *     stays ≈ n·occupancy/2 — linear in n;
    *   tables  = ⌈ln(1−targetRecall) / ln(1−p^nPlanes)⌉ (clamped [2, 64]),
    *     p = 1 − acos(threshold)/π, restores the recall the deeper planes
    *     cost. Tables grow ~(n/occ)^(−log₂ p) — the classic LSH n^ρ factor
    *     (ρ ≈ 0.2 at threshold 0.9), giving ~n^1.2 total work instead of n².
    *
    * The one count() action prices the geometry; on a parquet source it is
    * metadata-cheap. Meant for the NEAR-DUP regime (threshold ≥ ~0.7, output
    * linear in n). At low thresholds the qualifying-pair count itself is
    * typically quadratic in n — no candidate scheme makes a quadratic answer
    * linear — so [[embeddingNearDups]]'s explicit shallow geometry is the
    * honest operating point there.
    */
  def embeddingNearDupsAuto(
      embs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      targetRecall: Double = 0.999,
      targetOccupancy: Int = 32,
      dim: Int = 64,
      maxBucketSize: Int = 2000
  ): DataFrame = {
    val (nPlanes, tables) = autoSrpGeometry(embs.count(), threshold, targetRecall, targetOccupancy)
    embeddingNearDups(embs, idCol, vecCol, threshold, nPlanes, tables, dim, maxBucketSize)
  }

  /** The (nPlanes, tables) pair [[embeddingNearDupsAuto]] derives from the
    * corpus size — exposed for tests and for callers that already know n.
    */
  def autoSrpGeometry(
      n: Long,
      threshold: Double,
      targetRecall: Double = 0.999,
      targetOccupancy: Int = 32
  ): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"targetRecall in (0,1), got $targetRecall")
    val nPlanes = math.max(4, math.min(20,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt))
    val p = 1.0 - math.acos(threshold) / math.Pi
    val q = math.pow(p, nPlanes)
    val tables = math.max(2, math.min(64,
      math.ceil(math.log(1.0 - targetRecall) / math.log1p(-q)).toInt))
    (nPlanes, tables)
  }
}
