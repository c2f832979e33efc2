package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.RainStorm
import graft.functions.AnnSearch

/** Streaming ANN must give the SAME answer as the batch LSH path for the
  * same query set once the window closes: same seed-fixed hyperplanes, same
  * multi-probe expansion, same (cos desc, id asc) tie rule.
  */
class StreamingAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("windowed streaming ANN top-k equals batch lshTopK on the closed window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val embs = Tables.embeddings(spark, TestSpark.sf0001)
    val qIds = (0L until 20L)
    val ts   = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    val qVecs = embs.filter(col("vec_id") < 20)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()

    val in = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val out = RainStorm.streamingAnnTopK(
      in.toDF.toDF("vec_id", "embedding", "ts"), embs,
      "vec_id", "embedding", "ts", k = 5, probes = 2)
    val q = out.writeStream.outputMode("append").format("memory").queryName("ann_stream").start()
    try {
      in.addData(qVecs.map { case (id, v) => (id, v, ts) }.toIndexedSeq: _*)
      q.processAllAvailable()
      // close the window: sentinel far past the watermark+window end
      in.addData((999999L, qVecs.head._2, java.sql.Timestamp.valueOf("2026-01-02 12:00:00")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.sql(
      "SELECT query_id, t.neighbor_id, t.cos FROM ann_stream LATERAL VIEW explode(topk) AS t WHERE query_id < 999000")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val batch = AnnSearch.lshTopK(
      embs, embs.filter(col("vec_id") < 20), "vec_id", "embedding",
      k = 5, probes = 2)
      .select("query_id", "neighbor_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming probe of the persisted IVF-PQ index equals the batch probe on the closed window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.AnnIndex

    val embs = Tables.embeddings(spark, TestSpark.sf0001)
    val path = "/tmp/graft_index/ivfpq_stream_spec"
    AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)

    val ts = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    val qVecs = embs.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()

    val in = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val out = AnnIndex.probeIvfPqStream(spark, path,
      in.toDF.toDF("vec_id", "embedding", "ts"),
      "vec_id", "embedding", "ts", nProbe = 2, k = 5)
    val q = out.writeStream.outputMode("append").format("memory").queryName("ivfpq_stream").start()
    try {
      val (h, t) = qVecs.splitAt(4) // two micro-batches
      in.addData(h.map { case (id, v) => (id, v, ts) }.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(t.map { case (id, v) => (id, v, ts) }.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData((999999L, qVecs.head._2, java.sql.Timestamp.valueOf("2026-01-02 12:00:00")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.sql(
      """SELECT query_id, t.neighbor_id, t.adc_dist2
         FROM ivfpq_stream LATERAL VIEW explode(topk) AS t WHERE query_id < 999000""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = AnnIndex.probeIvfPq(spark, path, embs.filter(col("vec_id") < 8),
      "vec_id", "embedding", nProbe = 2, k = 5)
      .select("query_id", "neighbor_id", "adc_dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch,
      s"stream-only ${streamed -- batch}\nbatch-only ${batch -- streamed}")

    // plan pin: the codes side must carry NO unconditional broadcast hint —
    // a serving index outgrows the driver, so the stream-static join must be
    // free to shuffle on cell (size-based auto-broadcast of a genuinely
    // small index is the planner's call, not ours).
    val hints = out.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"streaming IVF-PQ probe plan must not hint-broadcast the codes table: $hints")
  }

  test("IVF-PQ compaction under a RUNNING streaming probe: loud failure or a consistent snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.AnnIndex

    val embs = Tables.embeddings(spark, TestSpark.sf0001)
    val path = "/tmp/graft_index/ivfpq_stream_compact_spec"
    graft.sources.Storage.drop(path)
    AnnIndex.buildIvfPq(embs, "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)
    val probeVec = embs.filter(col("vec_id") === 3L)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().head._2
    val ts = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")

    def expect(): Set[(Long, Long)] = AnnIndex.probeIvfPq(spark, path,
        Seq((2L, probeVec)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nProbe = 2, k = 5)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist2"))).toSet
    val pre = expect()
    assert(pre.nonEmpty)

    val in  = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val out = AnnIndex.probeIvfPqStream(spark, path,
      in.toDF.toDF("vec_id", "embedding", "ts"),
      "vec_id", "embedding", "ts", nProbe = 2, k = 5)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ivfpq_stream_compact").start()
    val attempt = scala.util.Try {
      in.addData((1L, probeVec, ts))
      q.processAllAvailable()
      // Tombstone the current nearest neighbor and compact (a merged codes
      // directory, committed as a new version) while the stream RUNS.
      val victim = pre.minBy(_._2)._1
      AnnIndex.deleteVecs(spark, path, Seq(victim).toDF("id"))
      assert(AnnIndex.compactIvfPq(spark, path), "compaction must run (tombstones present)")
      in.addData((2L, probeVec, ts))
      q.processAllAvailable()
      in.addData((999999L, probeVec, java.sql.Timestamp.valueOf("2026-01-02 12:00:00")))
      q.processAllAvailable()
    }
    try {
      attempt match {
        case scala.util.Failure(_) => succeed // died loudly, served nothing torn
        case scala.util.Success(_) =>
          val post = expect()
          val got = spark.sql(
            """SELECT t.neighbor_id, t.adc_dist2 FROM ivfpq_stream_compact
               LATERAL VIEW explode(topk) AS t WHERE query_id = 2""")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(got == pre || got == post,
            s"TORN BATCH: neither snapshot\ngot  $got\npre  $pre\npost $post")
      }
    } finally q.stop()
  }
}
