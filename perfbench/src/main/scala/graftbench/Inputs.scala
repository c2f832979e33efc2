package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the program under test sees is made
  * here from the run's seed, before timing starts. Each generator also returns
  * the answer its data was built to give, computed from the generated values
  * with plain Scala, so the output checks never ask the program under test for
  * its own reference.
  *
  * Table rows are pure functions of (seed, table, key): Spark writes them from
  * a range of keys, one task and one file per core, and the driver recomputes
  * the same rows to derive the answers, so no table is ever held in driver
  * memory.
  */
object Inputs {

  /** Input sizes. `Full` is the benchmark, `Tiny` the self-test, and `Sf01`
    * the row counts of the repository's sf0.1 test data, for measuring how
    * much of the op time grows with the data.
    */
  final case class Size(
      orders: Int, customers: Int, events: Int, documents: Int,
      logFiles: Int, logLines: Int,
      indexDocs: Int, appendDocs: Int, deleteDocs: Int,
      streamFilesPerSecond: Double, warmStreamFiles: Int)

  val Full = Size(orders = 20000, customers = 2000, events = 20000, documents = 1000,
    logFiles = 8, logLines = 20000, indexDocs = 5000, appendDocs = 500, deleteDocs = 100,
    streamFilesPerSecond = 1.5, warmStreamFiles = 6)
  val Tiny = Size(orders = 300, customers = 40, events = 200, documents = 60,
    logFiles = 2, logLines = 200, indexDocs = 300, appendDocs = 50, deleteDocs = 10,
    streamFilesPerSecond = 1, warmStreamFiles = 2)
  val Sf01 = Size(orders = 150000, customers = 15000, events = 100000, documents = 5000,
    logFiles = 8, logLines = 100000, indexDocs = 20000, appendDocs = 500, deleteDocs = 100,
    streamFilesPerSecond = 1.5, warmStreamFiles = 6)
  val Sizes = Map("full" -> Full, "tiny" -> Tiny, "sf01" -> Sf01)

  private val Day = 86400L * 1000000L
  private def micros(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000L
  private def yearOf(us: Long): Int =
    Instant.ofEpochSecond(us / 1000000L).atZone(ZoneOffset.UTC).getYear
  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  /** A vocabulary of `n` distinct lowercase words: `qz` followed by the
    * base-26 digits of the word's index.
    */
  def vocab(n: Int): IndexedSeq[String] = (0 until n).map { i =>
    val sb = new StringBuilder("qz")
    var k  = i
    do { sb.append(('a' + k % 26).toChar); k /= 26 } while (k > 0)
    sb.toString
  }

  /** Zipf(1) sampler over `n` ranks. */
  final class Zipf(n: Int) extends Serializable {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / r).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def draw(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The random stream of one row: a function of the seed, the table and the key. */
  def rng(seed: Long, table: Int, key: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + table * 0xBF58476D1CE4E5B9L + key)

  /** Row generators of the batch tables. Every method is pure, so Spark
    * tasks and the driver produce the same rows.
    */
  final case class Gen(seed: Long, size: Size) {
    private val nCust = size.customers
    val segments      = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val prios         = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val evTypes       = IndexedSeq("click", "view", "purchase", "error")
    @transient lazy val words = vocab(400)
    @transient lazy val zipf  = new Zipf(400)

    def customer(c: Long): Row = {
      val r = rng(seed, 1, c)
      Row(c, f"Customer#$c%09d", r.nextInt(25), cents(r.nextDouble() * 11000 - 1000),
        segments(r.nextInt(segments.size)))
    }
    def segment(c: Long): String = customer(c).getString(4)

    /** (custkey, status, total price, order date in µs, priority). A tenth
      * of the customers place no orders, so h4's per-key top-2 sees keys with
      * 0, 1, 2 and more orders.
      */
    def order(o: Long): (Long, String, Double, Long, String) = {
      val r = rng(seed, 2, o)
      (r.nextInt(nCust - nCust / 10).toLong, IndexedSeq("F", "O", "P")(r.nextInt(3)),
        cents(1000 + r.nextDouble() * 499000), micros(1992, 1, 1) + r.nextInt(7 * 365) * Day,
        prios(r.nextInt(prios.size)))
    }

    /** The line items of order `o`: (returnflag, linestatus, shipdate, row). */
    def lines(o: Long): Seq[(String, String, Long, Row)] = {
      val date = order(o)._4
      val r    = rng(seed, 3, o)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val flag   = IndexedSeq("A", "N", "R")(r.nextInt(3))
        val status = IndexedSeq("F", "O")(r.nextInt(2))
        val ship   = date + (1 + r.nextInt(3 * 365)) * Day
        val qty    = 1 + r.nextInt(50)
        (flag, status, ship, Row(o, r.nextInt(2000).toLong, r.nextInt(100).toLong, ln, qty.toDouble,
          cents(qty * (900 + r.nextDouble() * 100)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          flag, status, ship))
      }
    }

    /** Event `e` lands in its own five-minute slot, so times rise with the id. */
    def event(e: Long): Row = {
      val r = rng(seed, 4, e)
      Row(e, micros(2024, 1, 1) + e * 300000000L + r.nextInt(300000000), r.nextInt(nCust).toLong,
        evTypes(r.nextInt(evTypes.size)), cents(r.nextDouble() * 100), s"""{"k": ${r.nextInt(100)}}""")
    }
    def eventUser(e: Long): Long = event(e).getLong(2)

    def docTokens(d: Long): Seq[String] = {
      val r = rng(seed, 5, d)
      Seq.fill(5 + r.nextInt(40))(words(zipf.draw(r.nextDouble())))
    }
  }

  /** Writes `n` rows made by `row` (keys 0 until n) as one parquet file per core. */
  private def write(spark: SparkSession, n: Long, schema: StructType, path: String,
                    tsCols: Seq[String] = Nil)(row: Long => TraversableOnce[Row]): Unit = {
    val sc   = spark.sparkContext
    val rows = sc.range(0L, n, 1, sc.defaultParallelism).flatMap(row)
    val df   = spark.createDataFrame(rows, schema)
    tsCols.foldLeft(df)((d, c) => d.withColumn(c, timestamp_micros(col(c))))
      .write.mode("overwrite").parquet(path)
  }

  /** The `lineitem`, `orders`, `customer`, `events` and `documents` tables the
    * batch queries read, with the row count each query must return.
    */
  def tables(spark: SparkSession, dir: String, seed: Long, size: Size): Map[String, Long] = {
    val g = Gen(seed, size)
    write(spark, size.customers, StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      s"$dir/customer.parquet")(c => Iterator(g.customer(c)))
    write(spark, size.orders, StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", LongType),
      StructField("o_orderpriority", StringType))), s"$dir/orders.parquet", Seq("o_orderdate")) { o =>
      val (c, st, price, date, prio) = g.order(o)
      Iterator(Row(o, c, st, price, date, prio))
    }
    write(spark, size.orders, StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", LongType))),
      s"$dir/lineitem.parquet", Seq("l_shipdate"))(o => g.lines(o).map(_._4))
    write(spark, size.events, StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))), s"$dir/events.parquet", Seq("ts"))(e => Iterator(g.event(e)))
    write(spark, size.documents, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      s"$dir/documents.parquet") { d =>
      val text = g.docTokens(d).mkString(" ")
      Iterator(Row(d, text, "en", s"src${d % 7}", text.length.toLong))
    }

    // The answers, from the same rows recomputed on the driver.
    val h1Cut    = micros(2000, 9, 2)
    val h1Groups = mutable.Set[(String, String)]()
    val h34Flags = mutable.Set[String]()
    val building = (0L until size.customers).map(g.segment(_) == "BUILDING")
    val perCust  = mutable.Map[Long, Int]().withDefaultValue(0)
    var h2Orders = 0L
    for (o <- 0L until size.orders) {
      val (c, _, _, date, prio) = g.order(o)
      perCust(c) += 1
      if (building(c.toInt)) h2Orders += 1
      val urgent95 = prio == "1-URGENT" && yearOf(date) == 1995
      for ((flag, status, ship, _) <- g.lines(o)) {
        if (ship <= h1Cut) h1Groups += ((flag, status))
        if (urgent95) h34Flags += flag
      }
    }
    val docToks = (0L until size.documents).map(g.docTokens)
    Map(
      "h1_pricing_summary"     -> h1Groups.size.toLong,
      "h2_join_topk_revenue"   -> math.min(10L, h2Orders),
      "h4_window_topn_per_key" -> perCust.values.map(math.min(2, _)).sum.toLong,
      "h7b_asof_join_native"   -> size.events.toLong,
      "h9_sessionize"          -> (0L until size.events).map(g.eventUser).distinct.size.toLong,
      "h34_runtime_bloom_join" -> h34Flags.size.toLong,
      "u2_wordcount"           -> docToks.flatten.distinct.size.toLong,
      "x_tfidf_keywords"       -> docToks.map(t => math.min(3, t.distinct.size)).sum.toLong)
  }

  /** The three grep commands of `batch-queries`, each with the exact number
    * of matching lines the generator planted across all log files.
    */
  def logs(dir: String, seed: Long, size: Size): Seq[(String, Long)] = {
    val r      = new Random(seed ^ 0x1095L)
    val target = r.nextInt(50)
    // A user token `user<target>` must match `-w` only as a whole word, so
    // the ids include its two-digit extensions (user<target>0 .. 9).
    val users  = 500
    val levels = Seq("INFO" -> 70, "DEBUG" -> 15, "WARN" -> 10, "ERROR" -> 4, "FATAL" -> 1)
      .flatMap { case (l, w) => Seq.fill(w)(l) }.toIndexedSeq
    val msgs   = IndexedSeq("request ok" -> 0, "cache miss" -> 0, "connection timeout" -> 1,
      "Timeout waiting for lock" -> 1, "retry after TIMEOUT" -> 2, "retry scheduled" -> 0,
      "slow response" -> 0)
    def two(sb: java.lang.StringBuilder, x: Int) = sb.append((x / 10 + '0').toChar).append((x % 10 + '0').toChar)
    var errFatal, timeoutNoRetry, userHits = 0L
    Files.createDirectories(Paths.get(dir))
    for (f <- 0 until size.logFiles) {
      val sb = new java.lang.StringBuilder(size.logLines * 64)
      for (i <- 0 until size.logLines) {
        val level       = levels(r.nextInt(levels.size))
        val (msg, kind) = msgs(r.nextInt(msgs.size))
        val u           = if (r.nextInt(20) == 0) target else r.nextInt(users)
        if (level == "ERROR" || level == "FATAL") errFatal += 1
        if (kind == 1) timeoutNoRetry += 1
        if (u == target) userHits += 1
        sb.append("2024-01-01T00:")
        two(sb, i / 60 % 60).append(':')
        two(sb, i % 60).append(' ').append(level).append(" svc-").append(r.nextInt(8))
          .append(" user").append(u).append(' ').append(msg).append('\n')
      }
      Files.write(Paths.get(s"$dir/vm$f.log"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    Seq(
      "grep -c -E 'ERROR|FATAL'"        -> errFatal,
      "grep -i timeout | grep -v retry" -> timeoutNoRetry,
      s"grep -c -w user$target"         -> userHits)
  }

  /** Documents of the text index: a pure function of the seed and the id,
    * over a 3,000-word Zipf vocabulary.
    */
  final case class IndexDocs(seed: Long) {
    @transient lazy val words = vocab(3000)
    @transient lazy val zipf  = new Zipf(3000)
    def tokens(d: Long): Seq[String] = {
      val r = rng(seed, 6, d)
      Seq.fill(20 + r.nextInt(60))(words(zipf.draw(r.nextDouble())))
    }
    def text(d: Long): String = tokens(d).mkString(" ")

    /** A frame `(doc_id, text)` of the given ids, one partition per core. */
    def frame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
      val sc   = spark.sparkContext
      val rows = sc.parallelize(ids, sc.defaultParallelism).map(d => Row(d, text(d)))
      spark.createDataFrame(rows, StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    }
  }

  /** `n` stream input files of 100 lines each under `dir`, with strictly
    * increasing modification times so the file source admits them in order.
    * Returns the number of whitespace tokens written.
    */
  def streamFiles(dir: String, seed: Long, n: Int): Long = {
    val r     = new Random(seed ^ 0x5713L)
    val words = vocab(300)
    val zipf  = new Zipf(words.size)
    val base  = System.currentTimeMillis() - n * 1000L
    var toks  = 0L
    Files.createDirectories(Paths.get(dir))
    for (f <- 0 until n) {
      val sb = new StringBuilder
      for (_ <- 0 until 100) {
        val k = 3 + r.nextInt(10)
        toks += k
        sb.append(Seq.fill(k)(words(zipf.draw(r.nextDouble()))).mkString(" ")).append('\n')
      }
      val p = Paths.get(f"$dir/part-$f%05d.txt")
      Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(base + f * 1000L))
    }
    toks
  }
}
