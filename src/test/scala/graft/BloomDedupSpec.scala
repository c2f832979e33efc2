package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.BloomDedup

/** Distributed-Bloom-filter incremental dedup. */
class BloomDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("geometry: textbook m/k at 1% fpp") {
    val (m, k) = BloomDedup.geometry(1000000, 0.01)
    assert(m > 9500000 && m < 9700000) // ≈ 9.585 bits/key
    assert(k == 7)
  }

  private def docs(ids: Range, text: Long => String) = {
    import spark.implicits._
    ids.map(i => (i.toLong, text(i.toLong))).toDF("doc_id", "text")
  }

  test("newAgainstCorpus == exact anti-join, overlaps filtered, exact dup preserved once") {
    // Corpus 0..999; batch 1000..1999 where every 10th batch doc repeats a
    // corpus text. Expected new = batch ids not ≡ 0 (mod 10).
    val corpus = docs(0 until 1000, i => s"unique corpus text $i")
    val batch  = docs(1000 until 2000,
      i => if (i % 10 == 0) s"unique corpus text ${i % 1000}" else s"fresh text $i")
    val got = BloomDedup.newAgainstCorpus(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val want = (1000L until 2000L).filter(_ % 10 != 0)
    assert(got.toSeq == want)
  }

  test("exact verify removes false positives even at absurd fpp") {
    // fpp = 0.5 floods maybeContains with false positives; the verify join
    // must still return the exact answer.
    val corpus = docs(0 until 500, i => s"c$i")
    val batch  = docs(500 until 1000, i => if (i % 7 == 0) s"c${i % 500}" else s"b$i")
    val got = BloomDedup.newAgainstCorpus(corpus, batch, "doc_id", "text", fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = (500L until 1000L).filter(_ % 7 != 0).toSet
    assert(got == want)
  }

  test("incrementalDedupStream: per-batch results equal the batch operator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = docs(0 until 300, i => s"corpus $i")
    def text(i: Long) = if (i % 4 == 0) s"corpus ${i % 300}" else s"new $i"
    val b1 = (300L until 400L).map(i => (i, text(i)))
    val b2 = (400L until 500L).map(i => (i, text(i)))

    val in  = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.streaming.RainStorm.incrementalDedupStream(
      in.toDS().toDF("doc_id", "text"), corpus, "doc_id", "text",
      b => got.synchronized { got ++= b.select("doc_id").collect().map(_.getLong(0)) },
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val want = (300L until 500L).filter(_ % 4 != 0)
    assert(got.sorted.toSeq == want)
  }

  test("incrementalDedupStream: a stopped query leaves neither corpus frame cached") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sc     = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.RainStorm.incrementalDedupStream(
      in.toDS().toDF("doc_id", "text"), docs(0 until 100, i => s"corpus $i"), "doc_id", "text",
      _ => (), trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val held = sc.getPersistentRDDs.keySet -- before
    try {
      assert(held.size == 2, "the query holds the corpus hashes and the bitset while it runs")
      in.addData((100L, "corpus 1"), (101L, "new")); q.processAllAvailable()
    } finally q.stop()
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert((sc.getPersistentRDDs.keySet & held).isEmpty,
        "a stopped query must release its cached corpus frames")
    }
  }

  test("re-delivered rows (duplicate ids) still caught as corpus duplicates") {
    // At-least-once delivery: the batch contains each row TWICE. A per-id
    // hit-sum would see 2k hits, fail an `=== k` test, and silently pass
    // every true duplicate as new; the per-(id,key) probe must not.
    import spark.implicits._
    val corpus = docs(0 until 200, i => s"c$i")
    val once   = (200L until 400L).map(i => (i, if (i % 5 == 0) s"c${i % 200}" else s"b$i"))
    val batch  = (once ++ once).toDF("doc_id", "text") // every row delivered twice
    val got = BloomDedup.newAgainstCorpus(corpus, batch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0))
    val dups  = (200L until 400L).filter(_ % 5 == 0).toSet
    assert(got.toSet.intersect(dups).isEmpty,
      "a corpus duplicate must be dropped even when its row is re-delivered")
    assert(got.toSet == (200L until 400L).filter(_ % 5 != 0).toSet)
  }

  test("empty inputs: an empty corpus keeps every batch doc whole; an empty batch yields no rows") {
    import graft.functions.DedupOps
    import org.apache.spark.sql.DataFrame
    val batch = docs(0 until 20, i => s"line a $i\nline b\nline c\nline d $i")
    val none  = batch.limit(0)
    val whole = batch.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // (name, op(corpus, batch) projected to two columns, its rows when the corpus is empty)
    val cases: Seq[(String, (DataFrame, DataFrame) => DataFrame, Set[(Long, String)])] = Seq(
      ("newAgainstCorpus",
        (c, b) => BloomDedup.newAgainstCorpus(c, b, "doc_id", "text").select("doc_id", "text"),
        whole),
      ("dedupSpansAgainstCorpus",
        (c, b) => DedupOps.dedupSpansAgainstCorpus(c, b, "doc_id", "text", spanLines = 2)
          .filter(col("n_removed") === 0).select("doc_id", "clean"),
        whole),
      ("dedupTokenSpansAgainstCorpus",
        (c, b) => DedupOps.dedupTokenSpansAgainstCorpus(c, b, "doc_id", "text", spanTokens = 3)
          .filter(col("n_removed") === 0).select("doc_id", "clean"),
        whole),
      ("minhashNearDupsAgainstCorpus",
        (c, b) => DedupOps.minhashNearDupsAgainstCorpus(c, b, "doc_id", "text", shingleN = 2)
          .select(col("batch_id"), col("corpus_id").cast("string")),
        Set.empty))
    cases.foreach { case (name, op, emptyCorpus) =>
      assert(rows(op(none, batch)) == emptyCorpus, s"$name: empty corpus")
      assert(op(batch, none).count() == 0L, s"$name: empty batch")
    }
  }

  test("probe is corpus-free: batch plan broadcasts the bitset words") {
    val corpus = docs(0 until 100, i => s"c$i")
    val batch  = docs(100 until 200, i => s"b$i")
    val (m, k) = BloomDedup.geometry(100, 0.01)
    val keys   = corpus.select(xxhash64(col("text")).as("ck"))
    val filt   = BloomDedup.buildFilter(keys, "ck", m, k)
    val probe  = BloomDedup.maybeContains(
      batch.select(col("doc_id"), xxhash64(col("text")).as("ck")), "doc_id", "ck", filt, m, k)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "bitset join must broadcast")
  }
}
