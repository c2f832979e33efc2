package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkEntry
import graft.functions.TextIndex
import graft.operators.GrepEngine
import graft.streaming.RainStorm

/** Ops and checks attempted over the whole run, and the ones that failed. An
  * op fails if it throws; a check fails if an output differs from the answer
  * the generator planted. A failed op is never timed.
  */
final class Outcome {
  var attempted, failed = 0L
  val failures          = ArrayBuffer[String]()

  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$what: $detail" }
  }

  /** Runs one op inside a trace span; returns its latency, or None if it threw. */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = Trace.span(name)(body)
      Some((v, (System.nanoTime() - t0) / 1e6))
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }
}

/** One measured window: the name and latency of every op that succeeded, the
  * units of work `ops_per_s` counts (ops, or input tuples for the stream), and
  * the window's wall time.
  */
final case class Window(ops: Seq[(String, Double)], work: Long, seconds: Double) {
  def latMs: Seq[Double] = ops.map(_._2)
}

/** A closed-loop workload with one client. */
trait Workload {
  /** Makes the inputs from the seed and warms up; all of it counts in `setup_s`. */
  def setup(): Unit
  /** Runs the measured window: a fixed amount of work per second of
    * `seconds`. A `traced` window may add calls whose layers only the traced
    * run reports.
    */
  def measure(seconds: Double, traced: Boolean): Window
  /** Output checks that run once, after the measured windows. */
  def finish(): Unit = ()
  /** This workload's per-layer metrics, from the spans of a traced window. */
  def layers(spans: Seq[Trace.Span]): Seq[(String, Double)]
}

object Workloads {
  val Names = Seq("batch-queries", "stream-batch100")

  def apply(name: String, spark: SparkSession, work: String, seed: Long, size: Inputs.Size,
            out: Outcome, plantWrong: Boolean): Workload = name match {
    case "batch-queries"   => new BatchQueries(spark, work, seed, size, out, plantWrong)
    case "stream-batch100" => new StreamBatch100(spark, work, seed, size, out, plantWrong)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def spanMedian(spans: Seq[Trace.Span], name: String)(f: Trace.Span => Double): Double =
    median(spans.filter(_.name == name).map(f))
}

import Workloads._

/** The analyst's read path and the serving path beside it: eight registry
  * queries, three grep commands and a BM25 probe of a tombstoned text index,
  * each run to the `noop` sink, in a fixed rotation. A traced window also runs
  * one write cycle of the index (compact, probe, append, delete).
  */
object BatchQueries {
  val Queries = Seq("h1_pricing_summary", "h2_join_topk_revenue", "h4_window_topn_per_key",
    "h7b_asof_join_native", "h9_sessionize", "h34_runtime_bloom_join", "u2_wordcount",
    "x_tfidf_keywords")
  val Greps = 3
  /** Index verbs: the tombstone-aware probe of every rotation and the write
    * cycle, whose probe takes the path of an index without tombstones.
    */
  val IndexVerbs    = Seq("append", "probe", "delete", "probe_live", "compact")
  val WarmRotations = 2
  /** Rotations in the window per second of `--seconds`: 2 at 17 s. A whole
    * number of rotations keeps the op mix, and so the median and tail, the
    * same in every run.
    */
  val RotationsPerSecond = 0.125
  val TopK               = 20
}

final class BatchQueries(spark: SparkSession, work: String, seed: Long, size: Inputs.Size,
                         out: Outcome, plantWrong: Boolean) extends Workload {
  import BatchQueries._

  private val tables = s"$work/tables"
  private val logDir = s"$work/logs"
  private val index  = s"$work/index"
  private val docs   = Inputs.IndexDocs(seed)
  private var expected: Map[String, Long] = Map.empty
  private var greps: Seq[(String, Long)]  = Nil
  private var rotations, cycles = 0
  private var nextId  = 0L
  private var storage = Seq.empty[(String, Double)]
  /** The index's live documents, as term frequencies, tracked on the driver
    * for the checks.
    */
  private val live = mutable.LinkedHashMap[Long, Map[String, Int]]()

  private def track(ids: Seq[Long]): Unit =
    ids.foreach(d => live(d) = docs.tokens(d).groupBy(identity).map { case (t, xs) => t -> xs.size })

  private def append(n: Int): Unit = {
    val ids = nextId until nextId + n
    nextId += n
    TextIndex.append(docs.frame(spark, ids), "doc_id", "text", index)
    track(ids)
  }

  /** Deletes `deleteDocs` live documents, drawn with the seed and `key`. */
  private def delete(key: Int): Unit = {
    val g    = Inputs.rng(seed, 10, key)
    val ids  = live.keys.toIndexedSeq
    val dead = Iterator.continually(ids(g.nextInt(ids.size))).distinct.take(size.deleteDocs).toSeq
    TextIndex.deleteDocs(spark, index, spark.createDataFrame(
      java.util.Arrays.asList(dead.map(Row(_)): _*), StructType(Seq(StructField("doc_id", LongType)))))
    live --= dead
  }

  /** Three probe terms for rotation `r`, drawn from the vocabulary's ranks
    * 300-3000, where a term occurs in roughly 0.1-1% of the documents.
    */
  private def terms(r: Int): Seq[String] = {
    val g = Inputs.rng(seed, 8, r)
    Seq.fill(3)(docs.words(300 + g.nextInt(2700))).distinct
  }

  private def probe(ts: Seq[String]): DataFrame = TextIndex.probeBm25(spark, index, ts, TopK)

  /** The top-k `(doc_id, score)` a probe of `ts` must return: Okapi BM25
    * (k1 = 1.2, b = 0.75) over the live documents, each (document, term)
    * score quantized to 1e-6 as an integer, ties broken by id. The arithmetic
    * runs in the order Spark evaluates the index's own expression, with the
    * same `StrictMath.log`, so the integer scores match exactly.
    */
  private def bm25(ts: Seq[String]): Seq[(Long, Long)] = {
    val (k1, b) = (1.2, 0.75)
    val n       = live.size.toDouble
    val avgdl   = live.values.map(_.values.sum.toLong).sum.toDouble / n
    val df      = ts.map(t => t -> live.values.count(_.contains(t)).toDouble).toMap
    live.toSeq.flatMap { case (d, tfs) =>
      val dl    = tfs.values.sum.toDouble
      val parts = ts.flatMap(t => tfs.get(t).map { f =>
        val tf = f.toDouble
        math.floor(StrictMath.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * (tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + b * dl / avgdl)) * 1e6 + 0.5).toLong
      })
      if (parts.isEmpty) None else Some(d -> parts.sum)
    }.sortBy { case (d, score) => (-score, d) }.take(TopK)
  }

  private def checkProbe(ts: Seq[String], top: Seq[(Long, Long)]): Unit = {
    val want = bm25(ts)
    out.check(s"index top-$TopK of ${ts.mkString(" ")}", top == want, s"got $top, want $want")
  }

  private def collectTop(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** (span name, frame factory, observed value, planted answer) */
  private def frames: Seq[(String, () => DataFrame, org.apache.spark.sql.Column, Long)] =
    Queries.map(q => (s"queries.$q", () => SparkEntry.queries(q)(spark, tables),
      count(lit(1)), expected(q))) ++
      greps.zipWithIndex.map { case ((cmd, n), i) =>
        val counted = GrepEngine.parseCmd(cmd).countMode
        (s"operators.grep_${i + 1}", () => GrepEngine.run(GrepEngine.logs(spark, logDir), cmd),
          if (counted) sum(col("matches")) else count(lit(1)), n)
      }

  private def noop(df: DataFrame): Unit = {
    Trace.analyzed(df.queryExecution)
    df.write.format("noop").mode("overwrite").save()
  }

  /** One rotation: the eleven frames, then one probe of the index. On a
    * checked rotation an Observation on top of each frame returns its row
    * count (or summed grep count), and the probe collects its top-k for the
    * check. Returns the rotation's wall time in seconds.
    */
  private def rotation(check: Boolean, lat: ArrayBuffer[(String, Double)]): Double = {
    rotations += 1
    val t0 = System.nanoTime()
    for ((name, df, observed, want) <- frames) {
      if (!check) out.op(name)(noop(df())).foreach(x => lat += name -> x._2)
      else {
        val obs = new Observation()
        out.op(name)(noop(df().observe(obs, observed.as("v")))).foreach { x =>
          lat += name -> x._2
          val got = obs.get("v") match { case null => 0L; case v => v.asInstanceOf[Number].longValue }
          out.check(name, got == want, s"got $got, want $want")
        }
      }
    }
    val ts = terms(rotations)
    if (!check) out.op("index.probe_live")(noop(probe(ts))).foreach(x => lat += "index.probe_live" -> x._2)
    else out.op("index.probe_live")(collectTop(probe(ts))).foreach { case (top, ms) =>
      lat += "index.probe_live" -> ms
      checkProbe(ts, top)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One write cycle: compact the index, probe it while it has no
    * tombstones, append `appendDocs` new documents, delete `deleteDocs` live
    * ones. It leaves the index tombstoned, as it found it. Returns its wall
    * time in seconds.
    */
  private def writeCycle(lat: ArrayBuffer[(String, Double)]): Double = {
    cycles += 1
    val t0 = System.nanoTime()
    def verb(v: String)(body: => Unit): Unit =
      out.op(s"index.$v")(body).foreach(x => lat += s"index.$v" -> x._2)
    verb("compact")(TextIndex.compact(spark, index))
    verb("probe")(noop(probe(terms(-cycles))))
    verb("append")(append(size.appendDocs))
    verb("delete")(delete(cycles))
    (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    expected = Inputs.tables(spark, tables, seed, size)
    val t1 = System.nanoTime()
    greps = Inputs.logs(logDir, seed, size)
    val t2  = System.nanoTime()
    val ids = 0L until size.indexDocs
    TextIndex.build(docs.frame(spark, ids), "doc_id", "text", index)
    track(ids)
    nextId = size.indexDocs
    delete(0)
    val t3 = System.nanoTime()
    if (plantWrong) expected = expected.updated(Queries.head, expected(Queries.head) + 1)
    val lat       = ArrayBuffer[(String, Double)]()
    val rotationS = (1 to WarmRotations).map(_ => rotation(check = true, lat))
    println(f"[graftbench] setup tables_s=${(t1 - t0) / 1e9}%.2f logs_s=${(t2 - t1) / 1e9}%.2f " +
      f"index_s=${(t3 - t2) / 1e9}%.2f warm rotation_s=${rotationS.map(s => f"$s%.2f").mkString(",")}")
  }

  /** A traced window ends with one write cycle, which takes the place of
    * half its rotations so that a traced run stays within the run time limit.
    */
  def measure(seconds: Double, traced: Boolean): Window = {
    val lat       = ArrayBuffer[(String, Double)]()
    val rotationS = (1 to math.max(1, math.round(seconds * RotationsPerSecond / (if (traced) 2 else 1)).toInt))
      .map(_ => rotation(check = false, lat))
    val cycleS    = if (traced) Seq(writeCycle(lat)) else Nil
    println(s"[graftbench] window rotation_s=${rotationS.map(s => f"$s%.2f").mkString(",")}" +
      cycleS.map(s => f" write_cycle_s=$s%.2f").mkString)
    if (traced) storage = indexUsage()
    Window(lat.toSeq, lat.size, rotationS.sum + cycleS.sum)
  }

  /** After write cycles, a probe of the index still returns the reference
    * top-k; without them the warm rotations have checked this index state.
    */
  override def finish(): Unit =
    if (cycles > 0) {
      val ts = terms(0)
      checkProbe(ts, collectTop(probe(ts)))
    }

  /** What the index holds on disk, and its bytes per byte of live text. */
  private def indexUsage(): Seq[(String, Double)] = {
    val fs    = Files.walk(Paths.get(index)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val bytes = fs.map(Files.size).sum.toDouble
    val text  = live.keys.map(d => docs.text(d).getBytes(StandardCharsets.UTF_8).length.toLong).sum
    Seq("storage.index_bytes" -> bytes, "storage.index_files" -> fs.size.toDouble,
      "storage.bytes_per_user_byte" -> bytes / text)
  }

  def layers(spans: Seq[Trace.Span]): Seq[(String, Double)] =
    Queries.map(q => s"queries.${q}_ms" -> spanMedian(spans, s"queries.$q")(_.ms)) ++
      (1 to Greps).map(i => s"operators.grep_${i}_ms" -> spanMedian(spans, s"operators.grep_$i")(_.ms)) ++
      IndexVerbs.flatMap(v => Seq(s"index.${v}_ms" -> spanMedian(spans, s"index.$v")(_.ms),
        s"index.${v}_jobs" -> spanMedian(spans, s"index.$v")(_.counts.jobs.toDouble))) ++ storage
}

/** The paper's RainStorm word count at its batch-100 admission unit: one
  * 100-line file per micro-batch, drained from a backlog.
  */
object StreamBatch100 {
  val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
}

final class StreamBatch100(spark: SparkSession, work: String, seed: Long, size: Inputs.Size,
                           out: Outcome, plantWrong: Boolean) extends Workload {
  import StreamBatch100.Phases
  private var drains   = 0
  private var progress = Seq.empty[StreamingQueryProgress]
  private var storage  = Seq.empty[(String, Double)]

  /** Writes `files` input files and drains them through `RainStorm.wordCount`;
    * returns the committed batches' progress and the drain's wall time.
    */
  private def drain(files: Int): (Seq[StreamingQueryProgress], Double) = {
    drains += 1
    val dir    = s"$work/stream/$drains"
    val tokens = Inputs.streamFiles(s"$dir/src", seed + drains, files)
    val t0     = System.nanoTime()
    val q = out.op("streaming.drain") {
      val q = RainStorm.wordCount(spark, s"$dir/src", s"$dir/ckpt", s"$dir/dest",
        maxFilesPerTrigger = Some(1), trigger = Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val batches = q.toSeq.flatMap(_._1.recentProgress.toSeq).filter(_.numInputRows > 0)
    val committed = Option(new java.io.File(s"$dir/ckpt/commits").list()).getOrElse(Array.empty[String])
      .count(_.forall(_.isDigit))
    out.check(s"drain $drains committed batches", committed == files && batches.size == files,
      s"committed $committed, progress ${batches.size}, want $files")
    val want = if (plantWrong) tokens + 1 else tokens
    val got  =
      try Some(RainStorm.quantify(spark, s"$dir/dest").agg(sum(col("cnt"))).head().getLong(0))
      catch { case NonFatal(e) => None }
    out.check(s"drain $drains quantify total", got.contains(want), s"got $got, want $want")
    storage = diskUsage(s"$dir/ckpt", s"$dir/dest", s"$dir/src")
    (batches, secs)
  }

  /** What the drain left on disk: checkpoint bytes and files, sink bytes, and
    * both per byte of input text.
    */
  private def diskUsage(ckpt: String, sink: String, input: String): Seq[(String, Double)] = {
    def files(d: String) =
      Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    def bytes(fs: Seq[Path]) = fs.map(Files.size).sum.toDouble
    val (c, s) = (files(ckpt), files(sink))
    Seq("storage.checkpoint_bytes" -> bytes(c), "storage.checkpoint_files" -> c.size.toDouble,
      "storage.sink_bytes" -> bytes(s), "storage.bytes_per_user_byte" -> bytes(c ++ s) / bytes(files(input)))
  }

  def setup(): Unit = {
    // A query keeps the progress of this many recent batches.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    drain(size.warmStreamFiles)
  }

  def measure(seconds: Double, traced: Boolean): Window = {
    val (batches, secs) = drain(math.max(1, math.round(seconds * size.streamFilesPerSecond).toInt))
    progress = batches
    Window(batches.map(b => "streaming.batch" -> b.batchDuration.toDouble), batches.map(_.numInputRows).sum, secs)
  }

  def layers(spans: Seq[Trace.Span]): Seq[(String, Double)] = {
    def phase(p: String) = progress.map(b => Option(b.durationMs.get(p)).map(_.doubleValue).getOrElse(0.0))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      median(progress.flatMap(_.stateOperators.headOption).map(f))
    Phases.flatMap(p => Seq(s"streaming.${p}_ms" -> median(phase(p)),
      s"streaming.${p}_tail_ms" -> Metrics.tail(phase(p))._1)) ++ Seq(
      "streaming.state_rows"         -> state(_.numRowsTotal.toDouble),
      "streaming.state_updated_rows" -> state(_.numRowsUpdated.toDouble),
      "streaming.state_commit_ms"    -> state(_.commitTimeMs.toDouble),
      "streaming.state_memory_bytes" -> state(_.memoryUsedBytes.toDouble)) ++ storage
  }
}
