package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AnnIndex, KmvSketch, NativeFns, SketchStore, TextIndex}
import graft.sources.Storage

/** Fault injection for the stores' commit core: every verb that takes an
  * input frame is fed one whose column raises for some rows, so the verb
  * dies inside its own writes; the compactions, which take none, die when
  * they move their commit pointer, because a directory occupies the next
  * version's pointer name. A verb only adds the next version's directories
  * and moves the pointer last, so the next probe must return the pre-verb
  * answer bit-exact, and a rebuild must serve it again (ROADMAP direction
  * 1).
  */
class CommitFaultSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = Tables.documents(spark, TestSpark.sf0001)
  private def embs = Tables.embeddings(spark, TestSpark.sf0001)
  private def kmvRows = spark.range(8000).select(
    (col("id") / 1000).cast("long").as("seg"),
    NativeFns.hash61(col("id"), KmvSketch.A, KmvSketch.B).as("hv"))

  private val Injected = "injected write fault"

  /** `df` with column `c` raising wherever `at` holds. */
  private def faulty(df: DataFrame, c: String, at: Column): DataFrame =
    df.withColumn(c, when(at, raise_error(lit(Injected))
      .cast(df.schema(c).dataType)).otherwise(col(c)))

  /** Run `verb` on the store at `p` with a directory occupying the next
    * version's commit-pointer name, so the verb writes all its data and then
    * fails to move its pointer into place: that failure, and no other, is
    * reported as the injected fault. The obstacle is removed afterwards.
    */
  private def pointerBlocked(p: String)(verb: => Unit): Unit = {
    val next = java.nio.file.Paths.get(p, "_commits", (Storage.committed(p).n + 1).toString)
    java.nio.file.Files.createDirectories(next.resolve("occupied"))
    try verb
    catch {
      case e: java.nio.file.FileSystemException if e.getOtherFile == next.toString =>
        throw new RuntimeException(Injected, e)
    } finally Storage.drop(next.toString)
  }

  private def textBuild(d: DataFrame, p: String) = TextIndex.build(d, "doc_id", "text", p)
  private def textBuildDeleted(p: String) = {
    textBuild(docs, p)
    TextIndex.deleteDocs(spark, p, docs.filter(col("doc_id") % 5 === 0).select("doc_id"))
  }
  private def textProbe(p: String) =
    TextIndex.probeBm25(spark, p, Seq("hash", "join", "stream"), topK = 20).collect().toSeq

  private def annBuild(e: DataFrame, p: String) = AnnIndex.buildIvfPq(e, "vec_id", "embedding",
    dim = 64, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = p)
  private def annBuildDeleted(p: String) = {
    annBuild(embs, p)
    AnnIndex.deleteVecs(spark, p, embs.filter(col("vec_id") % 7 === 0).select("vec_id"))
  }
  private def annProbe(p: String) =
    AnnIndex.probeIvfPq(spark, p, embs.filter(col("vec_id") < 10), "vec_id", "embedding",
      nProbe = 2, k = 5)
      .select("query_id", "neighbor_id", "rank", "adc_dist2")
      .orderBy("query_id", "rank").collect().toSeq

  private def kmvProbe(p: String) = SketchStore.probeRange(spark, p, 0L, 99L).collect().toSeq

  private val odd  = col("doc_id") % 2 === 1
  private val even = col("doc_id") % 2 === 0

  /** (verb, build the committed pre-verb store, run the verb with a fault,
    * probe) — one row per write verb that changes the store.
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
    ("TextIndex.compact", textBuildDeleted,
      p => pointerBlocked(p)(assert(TextIndex.compact(spark, p))), textProbe),
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
    ("AnnIndex.compactIvfPq", annBuildDeleted,
      p => pointerBlocked(p)(assert(AnnIndex.compactIvfPq(spark, p))), annProbe),
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
        .exists(e => String.valueOf(e.getMessage).contains(Injected)),
        s"$verb must die of the injected fault, not of $err")
      assert(probe(path) == before, s"$verb: the store must serve the pre-verb answer bit-exact")
      setup(path)
      assert(probe(path) == before, s"$verb: a rebuild must serve the pre-verb answer bit-exact")
    }
  }

  test("an uncommitted version left on disk changes no probe, and the next commit removes it") {
    val path = "/tmp/graft_index/fault_leftover"
    Storage.drop(path)
    textBuild(docs.filter(even), path)
    val before = textProbe(path)
    val next   = Storage.committed(path).n + 1
    // an append that writes all its data and dies before its pointer moves
    intercept[RuntimeException](pointerBlocked(path)(
      TextIndex.append(docs.filter(odd), "doc_id", "text", path)))
    val left = Seq("postings", "docs", "stats").map(t => s"$path/$t/$next")
    assert(left.forall(Storage.exists), "the failed append must leave its directories behind")
    assert(textProbe(path) == before, "an uncommitted version must not change a probe")
    val deleted = docs.filter(even && col("doc_id") % 3 === 0).select("doc_id")
    TextIndex.deleteDocs(spark, path, deleted)
    assert(!left.exists(Storage.exists), "the next commit must remove what no version names")
    textBuild(docs.filter(even).join(deleted, Seq("doc_id"), "left_anti"),
      "/tmp/graft_index/fault_leftover_rb")
    assert(textProbe(path) == textProbe("/tmp/graft_index/fault_leftover_rb"),
      "the committed delete serves as a rebuild without the deleted docs")
  }

  test("a commit sweeps an old layout's aged files inside and beside the tables, and spares fresh ones") {
    val path = "/tmp/graft_index/fault_old_layout"
    Storage.drop(path)
    textBuild(docs, path)
    def plant(rel: String): Unit = {
      val f = java.nio.file.Paths.get(path, rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.write(f, Array[Byte](1))
    }
    Seq("postings/bucket=0/part-x.parquet", "manifest", "postings/bucket=1/part-x.parquet",
      "manifest.new").foreach(plant)
    val aged = System.currentTimeMillis() - 3600 * 1000L
    Seq("postings/bucket=0", "manifest").foreach(e => Storage.setMtime(s"$path/$e", aged))
    TextIndex.deleteDocs(spark, path, docs.filter(col("doc_id") % 5 === 0).select("doc_id"))
    assert(!Storage.exists(s"$path/postings/bucket=0") && !Storage.exists(s"$path/manifest"),
      "aged entries outside the version layout must be swept by the commit's vacuum")
    assert(Storage.exists(s"$path/postings/bucket=1/part-x.parquet") && Storage.exists(s"$path/manifest.new"),
      "fresh entries may be an in-flight writer's and must survive")
    assert(Storage.ls(s"$path/postings").filter(_.forall(_.isDigit)) ==
      Storage.committed(path).tables("postings").map(_.toString))
  }

  test("no store writes a one-row scalar table: each store's scalars ride its commit pointer") {
    val stores = Seq(
      ("/tmp/graft_index/scalars_text", (p: String) => textBuild(docs, p),
        Map("n_docs" -> docs.count()), TextIndex.Schemas.keySet),
      ("/tmp/graft_index/scalars_ann", (p: String) => annBuild(embs, p),
        Map("dim" -> 64L, "m" -> 4L), AnnIndex.Schemas.keySet),
      ("/tmp/graft_index/scalars_kmv", (p: String) => SketchStore.build(kmvRows, k = 64, p),
        Map("k" -> 64L), SketchStore.Schemas.keySet))
    stores.foreach { case (p, build, want, tables) =>
      Storage.drop(p)
      build(p)
      assert(!Storage.exists(s"$p/corpus") && !Storage.exists(s"$p/meta"),
        s"$p: a build must write no corpus or meta table: ${Storage.ls(p)}")
      assert(!tables.contains("corpus") && !tables.contains("meta"))
      val v = Storage.committed(p)
      assert(want.forall { case (k, x) => v.scalar(k) == x }, s"$p: pointer scalars ${v.scalars}")
    }
  }

  test("a store whose commit pointer lacks a scalar it needs is refused with a rebuild message") {
    def stripScalars(p: String): Unit = {
      val f = java.nio.file.Paths.get(p, "_commits", Storage.committed(p).n.toString)
      val lines = java.nio.file.Files.readAllLines(f)
      lines.set(0, lines.get(0).split(' ').take(2).mkString(" ")) // an older layout: `rows <n>`
      java.nio.file.Files.write(f, lines)
    }
    def refused(what: String)(verb: => Any): Unit = {
      val e = intercept[IllegalArgumentException](verb)
      assert(e.getMessage.contains("rebuild it"), s"$what: ${e.getMessage}")
    }
    val text = "/tmp/graft_index/scalars_old_text"
    Storage.drop(text)
    textBuild(docs.filter(even), text)
    val before = textProbe(text)
    stripScalars(text)
    refused("text probe")(textProbe(text))
    refused("text append")(TextIndex.append(docs.filter(odd), "doc_id", "text", text))
    refused("text delete")(TextIndex.deleteDocs(spark, text, docs.filter(even).select("doc_id")))
    textBuild(docs.filter(even), text)
    assert(textProbe(text) == before, "a rebuild serves the index again")

    val ann = "/tmp/graft_index/scalars_old_ann"
    Storage.drop(ann)
    annBuild(embs, ann)
    stripScalars(ann)
    refused("ann probe")(annProbe(ann))
    refused("ann append")(AnnIndex.appendIvfPq(spark, ann,
      embs.filter(col("vec_id") < 0), "vec_id", "embedding"))

    val kmv = "/tmp/graft_index/scalars_old_kmv"
    Storage.drop(kmv)
    SketchStore.build(kmvRows.filter(col("seg") <= 3), k = 64, kmv)
    stripScalars(kmv)
    refused("sketch probe")(kmvProbe(kmv))
    refused("sketch append")(SketchStore.appendSegments(kmvRows.filter(col("seg") >= 4), kmv))
  }
}
