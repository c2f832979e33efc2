package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Metric names, units and the tail rule. */
object Metrics {
  val EndToEnd = Seq(
    "setup_s"      -> "s",
    "ops_per_s"    -> "1/s",
    "op_ms"        -> "ms",
    "op_tail_ms"   -> "ms",
    "heap_live_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Seq("analysis", "optimization", "planning").map(p => s"session.${p}_ms" -> "ms") ++ Seq(
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.task_ms_per_op" -> "ms",
      "spark.sched_delay_ms" -> "ms", "spark.input_bytes" -> "B/op",
      "spark.shuffle_write_bytes" -> "B/op", "spark.spill_bytes" -> "B/op",
      "spark.codegen_compiles_per_op" -> "count") ++
      BatchQueries.Queries.map(q => s"queries.${q}_ms" -> "ms") ++
      (1 to BatchQueries.Greps).map(i => s"operators.grep_${i}_ms" -> "ms") ++
      BatchQueries.IndexVerbs.flatMap(v => Seq(s"index.${v}_ms" -> "ms", s"index.${v}_jobs" -> "count")) ++
      StreamBatch100.Phases.flatMap(p => Seq(s"streaming.${p}_ms" -> "ms", s"streaming.${p}_tail_ms" -> "ms")) ++
      Seq("streaming.state_rows" -> "count", "streaming.state_updated_rows" -> "count",
        "streaming.state_commit_ms" -> "ms", "streaming.state_memory_bytes" -> "B",
        "storage.index_bytes" -> "B", "storage.index_files" -> "count",
        "storage.checkpoint_bytes" -> "B", "storage.checkpoint_files" -> "count",
        "storage.sink_bytes" -> "B", "storage.bytes_per_user_byte" -> "ratio",
        "trace.overhead_pct" -> "%")

  /** The latency at the highest percentile with at least ten samples above
    * it, with that percentile; the maximum when there are ten samples or fewer.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted
      val i = math.max(0, s.size - 11)
      if (s.size <= 10) (s.last, 100.0) else (s(i), 100.0 * (i + 1) / s.size)
    }
}

/** `graftbench.Main --workload <name> [--seed n] [--seconds s] [--trace 0|1]
  * --work <dir> [--size full|tiny|sf01] [--plant-wrong]`
  *
  * Runs one workload in this JVM and prints each metric by name with its
  * unit, host-contention diagnostics, then one JSON result line. With
  * `--trace 0` the result holds the end-to-end metrics of one untraced
  * window. With `--trace 1` a traced window runs between two untraced
  * half-windows, and the result holds the per-layer metrics of the traced
  * window and the tracing overhead against the untraced halves. Exits 1 if an
  * op threw or an output check failed.
  */
object Main {
  val DefaultSeed = 42L

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload   = opts("workload")
    val seed       = opts.get("seed").map(_.toLong).getOrElse(DefaultSeed)
    val seconds    = opts.get("seconds").map(_.toDouble).getOrElse(10.0)
    val traced     = opts.get("trace").contains("1")
    val work       = Paths.get(opts("work")).toAbsolutePath.toString
    val size       = Inputs.Sizes(opts.getOrElse("size", "full"))
    val plantWrong = args.contains("--plant-wrong")
    require(Workloads.Names.contains(workload), s"unknown workload $workload; one of ${Workloads.Names.mkString(", ")}")

    Files.createDirectories(Paths.get(work))
    val b = GraftSession.builder("graftbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[Trace.PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"[graftbench] setup session_s=${(System.nanoTime() - t0) / 1e9}%.2f")

    val out = new Outcome
    val wl  = Workloads(workload, spark, work, seed, size, out, plantWrong)
    wl.setup()
    val setupS = (System.nanoTime() - t0) / 1e9

    val host0 = Host.sample()
    val (window, measured) =
      if (!traced) {
        val w = wl.measure(seconds, traced = false)
        (w, endToEnd(w, setupS, liveHeapMb()))
      } else {
        // Untraced halves before and after the traced window cancel a steady
        // drift in op time out of the overhead.
        val before = wl.measure(seconds / 2, traced = false)
        Trace.start(spark.sparkContext)
        val w = wl.measure(seconds, traced = true)
        Trace.stop()
        val own   = wl.layers(Trace.recorded)
        val after = wl.measure(seconds / 2, traced = false)
        (w, layers(w, before.ops ++ after.ops, Trace.recorded, own))
      }
    val host1 = Host.sample()
    val t1    = System.nanoTime()
    wl.finish()
    spark.stop()
    println(f"[graftbench] finish_s=${(System.nanoTime() - t1) / 1e9}%.2f total_s=${(System.nanoTime() - t0) / 1e9}%.2f")

    val units = (Metrics.EndToEnd ++ Metrics.PerLayer).toMap
    println(s"[graftbench] workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} " +
      s"cores=${GraftSession.cores} ops=${window.ops.size} window_s=${window.seconds}")
    val byName = window.ops.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${Workloads.median(v.map(_._2))}%.0f" }
    println(s"[graftbench] window median ms by op: ${byName.mkString(" ")}")
    val tailPct = Metrics.tail(window.latMs)._2
    println(f"[graftbench] op_tail is p$tailPct%.1f of ${window.ops.size} ops")
    println(s"[graftbench] fail_frac=${out.failed.toDouble / math.max(1L, out.attempted)} ratio " +
      s"(failed ${out.failed} of ${out.attempted} ops and checks)")
    for ((k, v) <- measured) println(s"[graftbench] $k=$v ${units(k)}")
    println(s"[graftbench] host steal_jiffies=${host1.steal - host0.steal} " +
      s"psi_cpu_some_us=${host1.psiSome - host0.psiSome} (window deltas; -1 = not available)")
    out.failures.foreach(f => println(s"[graftbench] FAILED $f"))

    val metrics = measured.map { case (k, v) => s""""$k": {"value": $v, "unit": "${units(k)}"}""" }
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (out.failed == 0) 0 else 1)
  }

  private def endToEnd(w: Window, setupS: Double, heapMb: Double): Seq[(String, Double)] = Seq(
    "setup_s"      -> setupS,
    "ops_per_s"    -> (if (w.seconds == 0) 0.0 else w.work / w.seconds),
    "op_ms"        -> Workloads.median(w.latMs),
    "op_tail_ms"   -> Metrics.tail(w.latMs)._1,
    "heap_live_mb" -> heapMb)

  /** Per-layer metrics of a traced window. Spark work is counted over the
    * window's top-level spans and divided by its ops; a layer the workload
    * does not call reads 0. The tracing overhead compares the summed mean
    * time of each op, traced against untraced, so the two need not hold the
    * same op mix.
    */
  private def layers(w: Window, plain: Seq[(String, Double)], spans: Seq[Trace.Span],
                     own: Seq[(String, Double)]): Seq[(String, Double)] = {
    val top   = spans.filter(_.parent == -1)
    val c     = top.map(_.counts).foldLeft(Trace.Counts())(_ + _)
    val ops   = math.max(1, w.latMs.size).toDouble
    // One span per op gives a median per op; a span holding many ops (the
    // stream drain) gives a mean.
    def phase(f: Trace.Counts => Double) =
      if (top.size == w.latMs.size) Workloads.median(top.map(s => f(s.counts))) else f(c) / ops
    def means(ops: Seq[(String, Double)]) = ops.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / v.size }
    val (traced, base) = (means(w.ops), means(plain))
    val both           = traced.keySet.intersect(base.keySet).toSeq
    val overhead       = 100.0 * (both.map(traced).sum / both.map(base).sum - 1)
    val common = Seq(
      "session.analysis_ms"       -> phase(_.analysisMs),
      "session.optimization_ms"   -> phase(_.optimizationMs),
      "session.planning_ms"       -> phase(_.planningMs),
      "spark.jobs_per_op"         -> c.jobs / ops,
      "spark.stages_per_op"       -> c.stages / ops,
      "spark.tasks_per_op"        -> c.tasks / ops,
      "spark.task_ms_per_op"      -> c.taskMs / ops,
      "spark.sched_delay_ms"      -> (if (c.tasks == 0) 0.0 else c.schedDelayMs / c.tasks),
      "spark.input_bytes"         -> c.inputBytes / ops,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes / ops,
      "spark.spill_bytes"         -> c.spillBytes / ops,
      "spark.codegen_compiles_per_op" -> c.compiles / ops,
      "trace.overhead_pct"        -> (if (both.isEmpty) 0.0 else overhead))
    val have = (common ++ own).toMap
    Metrics.PerLayer.map { case (k, _) => k -> have.getOrElse(k, 0.0) }
  }

  /** Heap in use after a full collection, in MB. Spark's context cleaner
    * frees broadcast and shuffle blocks on its own thread once a collection
    * finds them unreachable, so the reading is taken after three rounds of
    * collecting and letting the cleaner run.
    */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Host contention counters: cumulative CPU steal (jiffies, `/proc/stat`) and
  * CPU pressure stall time (`some` total in microseconds, `/proc/pressure/cpu`).
  */
final case class Host(steal: Long, psiSome: Long)

object Host {
  private def read(p: String): Option[String] = Try(new String(Files.readAllBytes(Paths.get(p)))).toOption

  def sample(): Host = Host(
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .flatMap(l => Try(l.trim.split("\\s+")(8).toLong).toOption).getOrElse(-1L),
    read("/proc/pressure/cpu").flatMap(_.linesIterator.find(_.startsWith("some")))
      .flatMap(l => "total=(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong)).getOrElse(-1L))
}
