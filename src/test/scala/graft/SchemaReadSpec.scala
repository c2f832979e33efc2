package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{SketchStore, TextIndex}
import graft.sources.{CommitLog, Storage}
import graft.streaming.RainStorm

/** A read of a table whose schema graft already knows starts no Spark job:
  * `Tables.table` memoizes the schema per session, path and file set, and
  * the stores declare their tables' schemas; a `TextIndex` probe lists only
  * its terms' posting buckets, whose terms a batched probe collects from a
  * local query frame without a job.
  */
class SchemaReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/tmp/graft_schema_read"

  private def jobs[T](body: => T): (T, Int) = JobCount(spark.sparkContext)(body)

  test("a second Tables.table read in one session starts 0 jobs and returns the same schema") {
    Storage.drop(dir)
    spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val first = Tables.table(spark, dir, "t").schema
    val (again, n) = jobs(Tables.table(spark, dir, "t").schema)
    assert(n == 0)
    assert(again == first && again.fieldNames.toSeq == Seq("id", "v"))
  }

  test("a table rewritten at the same path with other columns is read with its new schema") {
    Storage.drop(dir)
    spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Tables.table(spark, dir, "t").schema
    spark.range(5).select(col("id").cast("string").as("name"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val next = Tables.table(spark, dir, "t")
    assert(next.schema.fieldNames.toSeq == Seq("name"))
    assert(next.collect().map(_.getString(0)).sorted.toSeq == (0 until 5).map(_.toString))
    val (again, n) = jobs(Tables.table(spark, dir, "t").schema)
    assert(n == 0)
    assert(again == next.schema)
  }

  test("building a probeBm25 frame over a tombstoned index starts 0 jobs") {
    val idx  = s"$dir/index"
    val docs = Tables.documents(spark, TestSpark.sf0001)
    TextIndex.build(docs, "doc_id", "text", idx)
    TextIndex.deleteDocs(spark, idx, docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    // every table, the delete's tombstones included, is read with its
    // declared schema, so even the first probe frame starts no job
    assert(jobs(TextIndex.probeBm25(spark, idx, Seq("join", "stream", "window"), topK = 20))._2 == 0)
  }

  test("building a probeBm25Many frame from a local query frame starts 0 jobs") {
    import spark.implicits._
    val idx  = s"$dir/index_many"
    val docs = Tables.documents(spark, TestSpark.sf0001)
    TextIndex.build(docs, "doc_id", "text", idx)
    TextIndex.deleteDocs(spark, idx, docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val queries = Seq((1L, "hash"), (1L, "join"), (2L, "stream")).toDF("query_id", "tok")
    assert(jobs(TextIndex.probeBm25Many(spark, idx, queries, topK = 10))._2 == 0)
  }

  test("a second SketchStore probe of an unchanged store starts 0 jobs") {
    val store = s"$dir/kmv"
    SketchStore.build(spark.range(2000).select((col("id") % 4).as("seg"), col("id").as("hv")), k = 64, store)
    SketchStore.probeRange(spark, store, 0, 3)
    val (frame, n) = jobs(SketchStore.probeRange(spark, store, 0, 3))
    assert(n == 0) // k rides the commit pointer; the segments' schema is declared
    assert(frame.head().getAs[Long]("filled") == 64L)
  }

  test("building a RainStorm.quantify frame starts 0 jobs") {
    import spark.implicits._
    val dest = s"$dir/dest"
    Storage.drop(dest)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest))
    CommitLog.append(RainStorm.destLog(dest), Seq(("a", 1L), ("b", 2L)).toDF("word", "cnt").toJSON.collect().toSeq)
    CommitLog.append(RainStorm.destLog(dest), Seq(("a", 3L)).toDF("word", "cnt").toJSON.collect().toSeq)
    val (frame, n) = jobs(RainStorm.quantify(spark, dest))
    assert(n == 0)
    assert(frame.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 3L, "b" -> 2L))
  }
}
