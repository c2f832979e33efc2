package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Layout.LineageOps

/** Incremental (batch-vs-corpus) exact dedup through a DISTRIBUTED Bloom
  * filter — the ingestion-time shape at corpus scale: a 100 TB corpus is not
  * re-joined for every arriving batch. Instead:
  *
  *   1. ONE corpus pass builds a Bloom filter of content hashes — not on the
  *      driver: the bitset lives as a tiny (word_idx, bits) DataFrame built
  *      with a `bit_or` aggregate (m/64 rows ≈ MBs for billions of keys),
  *      reusable/persistable across batches;
  *   2. each batch probes map-side: explode its k probe positions, broadcast
  *      hash-join against the bitset words, keep ids where all k bits hit —
  *      the corpus is never touched;
  *   3. only the "maybe duplicate" sliver (true dups + fpp false positives)
  *      is exact-verified with a semi-join against corpus hashes, so the
  *      expensive side of the join carries ~|dups| rows, and Spark's runtime
  *      bloom filter prunes the corpus scan to match.
  *
  * Everything is public DataFrame algebra (xxhash64 double-hashing,
  * shiftleft/bit_or words, broadcast equi-join) — codegen'd end to end, no
  * UDF, no driver-side filter object, no private Spark API.
  */
object BloomDedup {

  /** Bloom geometry for `n` expected keys at false-positive rate `fpp`:
    * m = -n·ln(fpp)/ln²2 bits, k = (m/n)·ln2 probes.
    */
  def geometry(n: Long, fpp: Double): (Long, Int) = {
    require(fpp > 0 && fpp < 1, s"fpp in (0,1), got $fpp")
    val n1 = math.max(1L, n)
    val m  = math.max(64L, math.ceil(-n1 * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val k  = math.max(1, math.min(10, math.round(m.toDouble / n1 * math.log(2)).toInt))
    (m, k)
  }

  /** The k probe bit-positions of `key` (a LONG column): classic
    * Kirsch–Mitzenmacher double hashing pos_i = (h1 + i·h2) mod m with
    * independently-seeded xxhash64s. Both hashes are reduced mod m BEFORE
    * the linear combination — full-range longs would overflow `h1 + i·h2`
    * under ANSI mode; reduced, the max intermediate is (k+1)·m ≪ 2⁶³.
    */
  private def positions(key: Column, nBits: Long, k: Int): Column = {
    val h1 = pmod(xxhash64(key, lit("bloom:h1")), lit(nBits))
    val h2 = pmod(xxhash64(key, lit("bloom:h2")), lit(nBits))
    transform(sequence(lit(0), lit(k - 1)), i => pmod(h1 + i * h2, lit(nBits)))
  }

  /** (word_idx, bit) of a probe position — `div`/`pmod` so the arithmetic is
    * exact, SQL `shiftleft` because the Scala helper only takes literal
    * shift amounts. Carries every non-`pos` column through.
    */
  private def wordAndBit(c: DataFrame): DataFrame = {
    val carried = c.columns.filterNot(_ == "pos").map(col)
    c.select(carried :+ expr("pos div 64").as("word_idx") :+
      expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"): _*)
  }

  /** Build the filter over a single-LONG-column frame of keys: one shuffle
    * on word_idx (at most m/64 groups), output (word_idx BIGINT, bits BIGINT).
    */
  def buildFilter(keys: DataFrame, keyCol: String, nBits: Long, k: Int): DataFrame =
    wordAndBit(keys.select(col(keyCol),
        explode(positions(col(keyCol), nBits, k)).as("pos")))
      .groupBy("word_idx")
      .agg(expr("bit_or(bit)").as("bits"))

  /** Ids from `batch` whose key MAY be in the filter (all k probe bits set).
    * The filter side broadcasts; the batch side stays map-side until the
    * per-pair count — one shuffle on the batch keys, none on any corpus data.
    *
    * Probing runs over DISTINCT (id, key) pairs and the all-k-bits test is
    * per pair, not per id: a batch that re-delivers the same row twice (the
    * at-least-once case this module exists for) would otherwise sum to 2k
    * hits and fail an `=== k` test, silently passing a true duplicate as
    * new. Output ids are distinct.
    */
  def maybeContains(batch: DataFrame, idCol: String, keyCol: String, filter: DataFrame,
      nBits: Long, k: Int): DataFrame =
    wordAndBit(batch.select(col(idCol), col(keyCol)).distinct()
        .select(col(idCol), col(keyCol),
          explode(positions(col(keyCol), nBits, k)).as("pos")))
      .join(broadcast(filter), Seq("word_idx"), "left")
      .groupBy(col(idCol), col(keyCol))
      .agg(sum(when(col("bits").isNotNull && (col("bits").bitwiseAND(col("bit")) =!= 0), 1)
        .otherwise(0)).as("__hits"))
      .filter(col("__hits") === k)
      .select(col(idCol))
      .distinct()

  /** A corpus Bloom filter: the persisted DISTINCT corpus keys (one LONG
    * column, `__ck` — the exact-verify side), the persisted bitset built over
    * them, and its geometry. Built once per corpus; every batch pays only a
    * [[maybeContains]] probe plus an exact verify against `keys`.
    */
  final case class CorpusFilter(keys: DataFrame, bits: DataFrame, nBits: Long, k: Int)

  /** The corpus pass: distinct keys of the one-LONG-column frame `keys`,
    * persisted because they feed the geometry count, the filter build and
    * the callers' exact verify — so the corpus is scanned and hashed once.
    * The bitset persists lazily: its first probe materializes it.
    */
  def corpusFilter(keys: DataFrame, fpp: Double): CorpusFilter = {
    val ck = keys.toDF("__ck").distinct().persist()
    val (nBits, k) =
      try geometry(ck.count(), fpp)
      catch { case e: Throwable => ck.unpersist(); throw e }
    CorpusFilter(ck, buildFilter(ck, "__ck", nBits, k).persist(), nBits, k)
  }

  /** `f` against a [[corpusFilter]] over `keys`, unpersisted afterwards — so
    * `f` must materialize what it returns (`truncateLineage`).
    */
  def withCorpusFilter[A](keys: DataFrame, fpp: Double)(f: CorpusFilter => A): A = {
    val filt = corpusFilter(keys, fpp)
    try f(filt) finally { filt.bits.unpersist(); filt.keys.unpersist() }
  }

  /** Batch rows whose `textCol` does NOT already appear in `corpus` — exact
    * semantics (bloom false positives are removed by the verify join).
    */
  def newAgainstCorpus(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.01
  ): DataFrame =
    withCorpusFilter(corpus.select(xxhash64(col(textCol))), fpp) { filt =>
      newAgainstFilter(batch, idCol, textCol, filt).truncateLineage()
    }

  /** The per-batch probe against a PREBUILT filter — the incremental/
    * streaming entry point: the corpus pass behind `filt` happens once,
    * every arriving batch pays only this.
    */
  def newAgainstFilter(batch: DataFrame, idCol: String, textCol: String, filt: CorpusFilter): DataFrame = {
    val keyed = batch.withColumn("__ck", xxhash64(col(textCol)))
    val maybe = maybeContains(keyed.select(col(idCol), col("__ck")), idCol, "__ck",
      filt.bits, filt.nBits, filt.k)
    // False positives: flagged by the filter but absent from the corpus.
    val fps = keyed.join(maybe.hint("broadcast"), Seq(idCol))
      .join(filt.keys, Seq("__ck"), "left_anti")
    keyed.join(maybe, Seq(idCol), "left_anti").unionByName(fps).drop("__ck")
  }
}
