package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AnnIndex, KmvSketch, NativeFns, SketchStore, TextIndex}
import graft.sources.Storage

/** Fault injection for the serving stores' commit core: every verb that
  * takes an input frame is fed one whose column raises for some rows, so the
  * verb dies inside its own writes. The next probe must then either return
  * the pre-verb answer bit-exact or refuse the store for its missing commit
  * manifest — never serve a mix of old and new tables — and a rebuild must
  * serve the pre-verb answer again. (Copy-on-write versioning, ROADMAP
  * direction 3, would narrow the first check to "always the pre-verb
  * answer".)
  */
class CommitFaultSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = Tables.documents(spark, TestSpark.sf0001)
  private def embs = Tables.embeddings(spark, TestSpark.sf0001)
  private def kmvRows = spark.range(8000).select(
    (col("id") / 1000).cast("long").as("seg"),
    NativeFns.hash61(col("id"), KmvSketch.A, KmvSketch.B).as("hv"))

  /** `df` with column `c` raising wherever `at` holds. */
  private def faulty(df: DataFrame, c: String, at: Column): DataFrame =
    df.withColumn(c, when(at, raise_error(lit("injected write fault"))
      .cast(df.schema(c).dataType)).otherwise(col(c)))

  private def textBuild(d: DataFrame, p: String) = TextIndex.build(d, "doc_id", "text", p)
  private def textProbe(p: String) =
    TextIndex.probeBm25(spark, p, Seq("hash", "join", "stream"), topK = 20).collect().toSeq

  private def annBuild(e: DataFrame, p: String) = AnnIndex.buildIvfPq(e, "vec_id", "embedding",
    dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = p)
  private def annProbe(p: String) =
    AnnIndex.probeIvfPq(spark, p, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
      nProbe = 2, k = 5)
      .select("query_id", "neighbor_id", "rank", "adc_dist2")
      .orderBy("query_id", "rank").collect().toSeq

  private def kmvProbe(p: String) = SketchStore.probeRange(spark, p, 0L, 99L).collect().toSeq

  private val odd  = col("doc_id") % 2 === 1
  private val even = col("doc_id") % 2 === 0

  /** (verb, build the committed pre-verb store, run the verb on a faulty
    * frame, probe) — one row per input-taking write verb.
    */
  private val cases: Seq[(String, String => Unit, String => Unit, String => Seq[Row])] = Seq(
    ("TextIndex.build", textBuild(docs, _),
      p => textBuild(faulty(docs, "text", col("doc_id") % 10 === 5), p), textProbe),
    ("TextIndex.append", textBuild(docs.filter(even), _),
      p => TextIndex.append(faulty(docs.filter(odd), "text", col("doc_id") % 10 === 5),
        "doc_id", "text", p), textProbe),
    ("TextIndex.deleteDocs", textBuild(docs, _),
      p => TextIndex.deleteDocs(spark, p,
        faulty(docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id",
          col("doc_id") % 10 === 5)), textProbe),
    ("AnnIndex.build", annBuild(embs, _),
      p => annBuild(faulty(embs, "embedding", col("vec_id") % 10 === 5), p), annProbe),
    ("AnnIndex.append", annBuild(embs.filter(col("vec_id") % 2 === 0), _),
      p => AnnIndex.appendIvfPq(spark, p,
        faulty(embs.filter(col("vec_id") % 2 === 1), "embedding", col("vec_id") % 10 === 5),
        "vec_id", "embedding"), annProbe),
    ("AnnIndex.delete", annBuild(embs, _),
      p => AnnIndex.deleteVecs(spark, p,
        faulty(embs.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id",
          col("vec_id") % 14 === 7)), annProbe),
    ("SketchStore.build", SketchStore.build(kmvRows, k = 64, _),
      p => SketchStore.build(faulty(kmvRows, "hv", col("seg") === 3), k = 64, p), kmvProbe),
    ("SketchStore.appendSegments", SketchStore.build(kmvRows.filter(col("seg") <= 3), k = 64, _),
      p => SketchStore.appendSegments(faulty(kmvRows.filter(col("seg") >= 4), "hv",
        col("seg") === 6), p), kmvProbe)
  )

  cases.foreach { case (verb, setup, failing, probe) =>
    test(s"$verb failing mid-write: pre-verb answer or a refusal, never mixed state") {
      val path = s"/tmp/graft_index/fault_${verb.replace('.', '_')}"
      Storage.drop(path)
      setup(path)
      val before = probe(path)
      assert(before.nonEmpty, s"$verb: the fixture probe must answer something")
      val err = intercept[Exception](failing(path))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected write fault")),
        s"$verb must die of the injected fault, not of $err")
      Try(probe(path)) match {
        case Success(after) =>
          assert(after == before, s"$verb: a served answer must be the pre-verb one")
        case Failure(e: IllegalArgumentException) =>
          assert(e.getMessage.contains("no commit manifest"), s"$verb: ${e.getMessage}")
        case Failure(e) => fail(s"$verb: the probe neither served nor refused cleanly", e)
      }
      setup(path)
      assert(probe(path) == before, s"$verb: a rebuild must serve the pre-verb answer bit-exact")
    }
  }
}
