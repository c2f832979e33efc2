package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Headline, Registry}

/** A warm session compiles each generated class once: the codegen cache
  * `GraftSession.builder` sizes holds a whole query mix, and h34's child
  * session is reused, so a plan run again re-pays no Janino compile.
  * Compiles are read from Spark's global `CodegenMetrics` counter (one
  * count per cache miss).
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The benchmark's eight registry queries, in its rotation order. */
  private val mix = Seq("h1_pricing_summary", "h2_join_topk_revenue", "h4_window_topn_per_key",
    "h7b_asof_join_native", "h9_sessionize", "h34_runtime_bloom_join", "u2_wordcount",
    "x_tfidf_keywords")

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def sink(s: SparkSession, name: String): Unit =
    Registry.queries(name)(s, TestSpark.sf0001).write.format("noop").mode("overwrite").save()

  test("a warm session compiles nothing on a second pass over a mix of more than 100 classes") {
    // Spark keys the cache by session classloader, so a session of its own
    // compiles every class of the mix on its first pass, whatever the suite
    // ran before: that count is the number of classes the mix makes.
    val s = GraftSession.child(spark, Map.empty)
    val first = compiles(mix.foreach(sink(s, _)))
    assert(first > 100, s"the mix must outgrow Spark's default 100-entry cache: $first classes")
    val second = compiles(mix.foreach(sink(s, _)))
    assert(second == 0, s"the second pass recompiled $second of $first classes")
  }

  test("x_bitmap_distinct compiles nothing after its first run, whatever order its stages finish in") {
    // adaptive execution numbers its concurrent stages in finishing order;
    // a class named after that number missed the cache on a reordered run
    val s = GraftSession.child(spark, Map.empty)
    sink(s, Headline.h30.name)
    val again = (1 to 3).map(_ => compiles(sink(s, Headline.h30.name)))
    assert(again.sum == 0, s"re-runs of x_bitmap_distinct recompiled ${again.mkString(",")} classes")
  }

  test("h34 run twice compiles nothing the second time and keeps its Bloom filter") {
    sink(spark, Headline.h34.name)
    val again = compiles(sink(spark, Headline.h34.name))
    assert(again == 0, s"h34's second run recompiled $again classes")
    val plan = Headline.h34.run(spark, TestSpark.sf0001).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"the reused child lost its confs:\n${plan.take(2000)}")
  }
}
