package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale testing
  * (`runMain graft.GenData <outDir> <scale>`; scale 1.0 = 10× the driver's
  * sf0.1 = "sf1"). Mirrors the driver-generated tables of TESTDATA.md —
  * same schemas, categorical values, key ranges, fan-outs, planted
  * duplicate/near-duplicate rates — so per-query times at the generated
  * scale are comparable with the sf0.1 numbers and SCALING.md can measure
  * t_sfN / t_sf0.1 per query.
  *
  * Everything derives from `xxhash64(tag, id, ...)` — no RNG state, no
  * driver-side loops, no shuffle: every table is one `spark.range` and a
  * projection, so generation itself runs at any scale (the same property the
  * engine under test claims). The one deliberate divergence from the driver's
  * data: `events.ts` is written as a plain nanosecond LONG rather than a
  * nanos parquet timestamp (Spark cannot write TIMESTAMP(NANOS)); under
  * `nanosAsLong=true` both read back identically through [[Tables.events]].
  */
object GenData {

  private def h(tag: String, cols: Column*): Column =
    xxhash64((lit(tag) +: cols): _*)

  /** Deterministic uniform [0, 1) double keyed by (tag, cols). */
  private def u(tag: String, cols: Column*): Column =
    h(tag, cols: _*).bitwiseAND(lit(Long.MaxValue)) / lit(9.223372036854776e18)

  /** Deterministic uniform long in [0, m). */
  private def um(tag: String, m: Long, cols: Column*): Column =
    pmod(h(tag, cols: _*), lit(m))

  private def pick(tag: String, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), um(tag, values.size, cols: _*).cast("int") + 1)

  private val vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val scale  = if (args.length > 1) args(1).toDouble else 1.0
    // Optional 3rd arg: comma-separated table subset (e.g.
    // "documents,embeddings") — a scale-ladder point for a docs-only
    // operator batch shouldn't pay for a 60 M-row lineitem it never reads.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    // Override on the GraftSession defaults: 32 shuffle partitions whatever
    // the core count, so the written layout does not depend on the host.
    val spark = GraftSession.builder("graft-gendata")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def n(base10x: Long): Long = math.max(1L, (base10x * scale).toLong)
    val nCust  = n(150000)
    val nSupp  = n(10000)
    val nPart  = n(200000)
    val nOrd   = n(1500000)
    val nLine  = n(6000000)
    val nEvent = n(1000000)
    val nUser  = n(15000)
    val nDoc   = n(50000)
    val nVec   = n(20000)

    def gen(name: String, rows: Long, parts: Int)(build: DataFrame => DataFrame): Unit =
      if (wanted(name)) {
        val df = build(spark.range(0, rows, 1, parts).toDF("id"))
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        Console.err.println(s"[gendata] $name: $rows rows")
      }

    if (wanted("region"))
      spark.createDataFrame(Seq(
        (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
        .toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$outDir/region.parquet")

    gen("nation", 25, 1)(df => df.select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))

    gen("customer", nCust, math.max(1, (nCust / 500000).toInt))(df => df.select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      um("cnat", 25, col("id")).cast("int").as("c_nationkey"),
      round(u("cbal", col("id")) * 11000 - 1000, 2).as("c_acctbal"),
      pick("cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), col("id"))
        .as("c_mktsegment")))

    gen("supplier", nSupp, 1)(df => df.select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      um("snat", 25, col("id")).cast("int").as("s_nationkey"),
      round(u("sbal", col("id")) * 11000 - 1000, 2).as("s_acctbal")))

    gen("part", nPart, math.max(1, (nPart / 500000).toInt))(df => df.select(
      col("id").as("p_partkey"),
      concat(
        pick("pn1", Seq("large", "hot", "blue", "dark", "small", "shiny"), col("id")), lit(" "),
        pick("pn2", Seq("ring", "bolt", "cog", "plate", "wire"), col("id"))).as("p_name"),
      concat(lit("Brand#"), (um("pbrand", 25, col("id")) + 1).cast("int")).as("p_brand"),
      pick("ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), col("id")).as("p_type"),
      (um("psize", 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u("pprice", col("id")) * 100, 2).as("p_retailprice")))

    gen("orders", nOrd, math.max(1, (nOrd / 400000).toInt))(df => df.select(
      col("id").as("o_orderkey"),
      um("ocust", nCust, col("id")).as("o_custkey"),
      pick("ostat", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      round(lit(1000.0) + u("oprice", col("id")) * 499000, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), um("odate", 2400, col("id")).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick("oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), col("id"))
        .as("o_orderpriority")))

    gen("lineitem", nLine, math.max(1, (nLine / 400000).toInt))(df => df.select(
      um("lord", nOrd, col("id")).as("l_orderkey"),
      um("lpart", nPart, col("id")).as("l_partkey"),
      um("lsupp", nSupp, col("id")).as("l_suppkey"),
      (um("lnum", 7, col("id")) + 1).cast("int").as("l_linenumber"),
      (um("lqty", 50, col("id")) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u("lprice", col("id")) * 104100, 2).as("l_extendedprice"),
      (um("ldisc", 11, col("id")) / 100.0).as("l_discount"),
      (um("ltax", 9, col("id")) / 100.0).as("l_tax"),
      pick("lrf", Seq("A", "N", "R"), col("id")).as("l_returnflag"),
      pick("lls", Seq("F", "O"), col("id")).as("l_linestatus"),
      date_add(lit("1995-01-02").cast("date"), um("lship", 2500, col("id")).cast("int"))
        .cast("timestamp").as("l_shipdate")))

    // ts: nanosecond LONG over 30 days of 2024-01 (see scaladoc).
    gen("events", nEvent, math.max(1, (nEvent / 400000).toInt))(df => df.select(
      col("id").as("event_id"),
      (lit(1704067200000000000L) + (u("ets", col("id")) * 2.592e15).cast("long")).as("ts"),
      um("euser", nUser, col("id")).as("user_id"),
      pick("etype", Seq("click", "error", "purchase", "signup", "view"), col("id")).as("event_type"),
      round(u("eval", col("id")) * 560, 2).as("value"),
      concat(lit("{\"k\": "), um("eprop", 100, col("id")), lit("}")).as("props")))

    // documents: ~5% of ids are a planted NEAR-dup of their predecessor
    // (same word stream + one appended vocab word, Jaccard >= ~0.95) and
    // ~0.17% an EXACT copy — the sf0.1 rates. Word stream is keyed by the
    // BASE id so the pair shares its shingles.
    //
    // PLANTED-PAIR CONTRACT (the gen-scale ground truth for the near-dup
    // family — VERDICT r14 #1): every pair of documents with word-shingle
    // Jaccard >= 0.8 is PLANTED at adjacent ids, and each planted pair's
    // Jaccard is controlled by construction:
    //   - id % 600 == 1 -> EXACT copy of id-1        (J = 1.0)
    //   - id % 20  == 7 -> base + 1 appended word    (J = n/(n+1) >= 6/7,
    //     n = |distinct base shingles| >= len-2 >= 6 for 3-shingles)
    //   - id % 40  == 11 -> BELOW-GATE near-dup: base + 28 appended
    //     off-vocab "zq<digits>" tokens, each keyed by (id, j) so no two
    //     plants share a tail. All appended shingles contain a zq token and
    //     are disjoint from every base shingle, so J = n/(n+28) <= 97/125 =
    //     0.776 < 0.8 for every possible n — these plants MUST be LSH
    //     candidates (their J makes banding fire w.h.p.) yet MUST be
    //     rejected by the exact-Jaccard verification. They pin precision at
    //     scale the way the >= 0.857 plants pin recall.
    // The three residue classes are pairwise disjoint and no base id is
    // itself a plant, so CONSTRUCTED components are exactly the adjacent
    // pairs — which is what lets a LINEAR (doc_id+1 join) oracle replace
    // the all-pairs Jaccard referee at gen scale (Q.genOracle faces;
    // cross-checked linear == all-pairs on dirs where both run). ORGANIC
    // >= 0.8 pairs are hash coincidences of independent word streams; the
    // dominant mode is two short docs drawing IDENTICAL streams (~31^-8
    // per len-8 pair, ~2e-3 expected at gen100 — and gen100 did produce
    // exactly one, caught by the sweep as a 1-row diff), so the gen faces
    // carry a second linear arm joining on shingle-SET equality, which is
    // exact for that mode. Non-identical organic pairs at 0.8 <= J < 1
    // need ~8/9 of two independent streams to coincide (expected < 1e-4 at
    // gen100); any occurrence fails the sweep loudly rather than silently
    // passing.
    // documents/embeddings: small row counts but heavy per-row work
    // downstream (regex, shingling, SRP signatures) — and a parquet file is
    // only task-split at row-group boundaries, so ONE output file means ONE
    // task no matter how many cores scan it (measured: single-task regex at
    // sf1 made x_pii_redact 6.9 s; 12 files → parallel scan). Shard these
    // two tables much finer than the fact tables.
    // 2 500 docs/file: sf1's 50 k docs → 20 tasks (5 under the old 10 000
    // divisor — measured capping the scan-speed text kernels at 5/32 cores:
    // x_gopher_repetition was flat 5.1 → 5.5 s from sf1 to sf3 because the
    // extra data arrived as extra PARALLELISM, not extra per-task work).
    gen("documents", nDoc, math.max(4, (nDoc / 2500).toInt)) { df =>
      val isNear  = col("id") % 20 === 7 && col("id") > 0
      val isExact = col("id") % 600 === 1 && col("id") > 0
      val isBelow = col("id") % 40 === 11 && col("id") > 0
      val base    = when(isNear || isExact || isBelow, col("id") - 1).otherwise(col("id"))
      val len     = (lit(8) + um("dlen", 92, base)).cast("int")
      val words   = transform(sequence(lit(1), len),
        j => element_at(array(vocab.map(lit): _*), um("dword", vocab.size, base, j).cast("int") + 1))
      // Below-gate tail: 28 off-vocab tokens keyed by THIS id (not base) so
      // no two plants share a tail — see the planted-pair contract above.
      val belowTail = array_join(transform(sequence(lit(1), lit(28)),
        j => concat(lit("zq"), um("zdup", 100000, col("id"), j))), " ")
      val text    = when(isNear, concat(array_join(words, " "), lit(" dup")))
        .when(isBelow, concat(array_join(words, " "), lit(" "), belowTail))
        .otherwise(array_join(words, " "))
      df.select(
        col("id").as("doc_id"),
        text.as("text"),
        when(u("dlang", base) < 0.41, "en").when(u("dlang", base) < 0.56, "de")
          .when(u("dlang", base) < 0.71, "es").when(u("dlang", base) < 0.86, "fr")
          .otherwise("zh").as("lang"),
        concat(lit("src"), um("dsrc", 20, col("id"))).as("source"),
        length(text).cast("long").as("n_chars"))
    }

    // embeddings: 64-dim, ~N(0, 0.15)-scaled via sum of two uniforms;
    // ~1% planted near-identical pairs (cosine ~0.999) like the driver's.
    gen("embeddings", nVec, math.max(4, (nVec / 5000).toInt)) { df =>
      val isNear = col("id") % 100 === 1 && col("id") > 0
      val base   = when(isNear, col("id") - 1).otherwise(col("id"))
      val vec = transform(sequence(lit(0), lit(63)), j => {
        val core  = (u("emb", base, j) + u("emb2", base, j) - 1.0) * 0.3
        val noise = when(isNear, (u("enoise", col("id"), j) - 0.5) * 0.01).otherwise(lit(0.0))
        (core + noise).cast("float")
      })
      df.select(col("id").as("vec_id"), vec.as("embedding"),
        um("elabel", 10, col("id")).cast("int").as("label"))
    }

    Console.err.println(s"[gendata] wrote scale=$scale to $outDir")
    spark.stop()
  }
}
