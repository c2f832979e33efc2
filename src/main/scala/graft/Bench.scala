package graft

import scala.util.control.NonFatal

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * A small warmup (the flagship query) runs un-timed first so the session's
  * one-time costs (codegen compiler, JIT, file-index caches) don't land on
  * whichever query happens to run first; queries then run in sorted-name
  * order so per-query numbers are comparable across rounds.
  */
object Bench {

  /** The timed outcome of one bench run: `times` holds the per-query
    * seconds of every query that ran cleanly, in run order; `failed` maps
    * each query that threw to its message. A failed query is timed
    * nowhere. */
  private[graft] final case class Timed(times: Seq[(String, Double)], failed: Map[String, String])

  /** Runs every query in two full passes and keeps its min.
    *
    * Two PASSES rather than back-to-back min-of-2: pass 1 absorbs
    * codegen/JIT one-time costs, and because a query's two runs are minutes
    * apart, a transient host-noise window (observed: sporadic ~60s
    * slowdowns) can't land on both runs of the same query — min() filters
    * it. Host-noise guard: a sustained noisy window on a shared host can
    * cover the same region of both passes (observed r3/r4: one query at
    * 22 s in min-of-2 that runs in ~1 s alone), so any query whose min-of-2
    * is still a big outlier vs the median gets one targeted third run.
    *
    * A query that throws (non-fatally) in any run lands in `failed` with
    * its message and drops out of everything after: later passes, the
    * median, the retry and `times`.
    */
  private[graft] def timeAll(queries: Seq[(String, () => Unit)],
                             log: String => Unit = Console.err.println): Timed = {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val bench0 = System.nanoTime()
    def runOne(name: String, run: () => Unit, tag: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        run()
        val dt = (System.nanoTime() - t0) / 1e9
        // Progress with the wall offset into the bench: lets a slow query be
        // correlated with a time-localized host-noise window instead of
        // being misread as a real regression.
        log(f"[bench] $tag $name ${dt}%.3f s @t=${(t0 - bench0) / 1e9}%.1f")
        Some(dt)
      } catch {
        case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          failed.getOrElseUpdate(name, msg)
          log(s"[bench] $tag $name FAILED: $msg")
          None
      }
    }
    def pass(tag: String, qs: Seq[(String, () => Unit)]): Map[String, Double] =
      qs.flatMap { case (name, run) => runOne(name, run, tag).map(name -> _) }.toMap
    val p1 = pass("pass1", queries)
    val p2 = pass("pass2", queries.filter { case (name, _) => p1.contains(name) })
    val min2 = p2.map { case (name, t) => name -> math.min(p1(name), t) }
    val med = {
      val v = min2.values.toSeq.sorted
      if (v.isEmpty) 0.0 else v(v.size / 2)
    }
    val times = queries.flatMap { case (name, run) =>
      min2.get(name).flatMap { m =>
        if (med > 0 && m > math.max(8 * med, 5.0)) runOne(name, run, "retry").map(math.min(m, _))
        else Some(m)
      }.map(name -> _)
    }
    Timed(times, failed.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietWindowWarnings()

    try SparkEntry.entry(spark).count()
    catch { case NonFatal(_) => () } // warmup only; failures surface below

    // Time against the noop sink, not count(): count() lets Spark drop sorts
    // and unreferenced projections, undercounting the real sink cost.
    // Optional args: query-name substrings to bench a subset locally (the
    // driver passes none → full run).
    val all    = SparkEntry.queries.toSeq.sortBy(_._1)
    val sorted = if (args.isEmpty) all else all.filter { case (n, _) => args.exists(n.contains) }
    // Hypervisor steal (/proc/stat aggregate-cpu column 8, jiffies): the one
    // host-noise source observed to swing unchanged kernels 1.4-1.8x on this
    // VM. Snapshot before/after and ship the delta IN the artifact so a noisy
    // reading is machine-checkable rather than argued from prose.
    def stealJiffies(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val cpu =
          try src.getLines().find(_.startsWith("cpu ")).getOrElse("")
          finally src.close()
        val f = cpu.trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } catch { case NonFatal(_) => -1L }
    // Pre-run IDLE steal probe (r16 verdict #1): with GRAFT_STEAL_PROBE_SECS
    // set, sleep that long BEFORE any work and record the steal delta over
    // the idle window inside the artifact — a machine-checkable "the host
    // was quiet when this run started", not prose. The driver sets neither
    // env var, so official runs are unchanged.
    val probeSecs = sys.env.get("GRAFT_STEAL_PROBE_SECS").map(_.toInt).getOrElse(0)
    val probeJ: Long =
      if (probeSecs > 0) {
        val p0 = stealJiffies()
        Thread.sleep(probeSecs * 1000L)
        val p = stealJiffies() - p0
        Console.err.println(s"[bench] idle steal probe: $p jiffies / $probeSecs s")
        p
      } else -1L
    val steal0 = stealJiffies()
    val timed = timeAll(sorted.map { case (name, fn) =>
      name -> (() => fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    })
    val results = timed.times
    val total = results.map(_._2).sum
    // Locale.ROOT: a comma-decimal default locale would render 1,234 and
    // break the launcher's JSON tail-parse — the exact failure the compact
    // stdout line exists to prevent.
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
    // The launcher keeps only the last ~2000 chars of stdout and parses the
    // JSON line from that tail — a full 118-query map (~5 KB) pushes its own
    // opening brace out of the window and the round's numbers are lost
    // (observed r03–r08: parsed=null). So stdout carries a COMPACT line —
    // total, counts, and the slowest 20 queries — guaranteed to fit, while the
    // complete per-query map and the failure messages go to BENCH_LOCAL.json.
    // "sink" names the measurement methodology so cross-round totals are only
    // compared like-for-like (r1 used count(), which undercounted projections).
    val slowest = results.sortBy(-_._2).take(20)
    val stealD  = { val s1 = stealJiffies(); if (steal0 < 0 || s1 < 0) -1L else s1 - steal0 }
    val line = s"""{"metric":"total","value":${num(total)},"unit":"sec","sink":"noop-min-of-2-passes-outlier-retry","n_queries":${results.size},"n_failed":${timed.failed.size},"steal_jiffies":$stealD,"queries":${fmt(slowest)},"detail":"BENCH_LOCAL.json","sf":"$sfDir"}"""
    val probeField =
      if (probeSecs > 0) s""","steal_probe_jiffies":$probeJ,"steal_probe_secs":$probeSecs"""
      else ""
    val full = s"""{"metric":"total","value":${num(total)},"unit":"sec","sink":"noop-min-of-2-passes-outlier-retry","steal_jiffies":$stealD$probeField,"queries":${fmt(results)},"failed":${Verify.jsonObject(timed.failed.toSeq.sortBy(_._1))},"sf":"$sfDir"}"""
    println(line)
    // Full per-query artifact (also a backup in case stdout is decorated).
    // Subset runs (local iteration with name args) go to a scratch file so
    // they can't overwrite the committed full-registry numbers.
    // GRAFT_BENCH_ARTIFACT (r16 verdict #1) redirects the full JSON to a
    // round-stamped COMMITTED path (e.g. BENCH_QUIET_r17.json) that the
    // driver's own run — which never sets the env — can never clobber; the
    // gitignored BENCH_LOCAL.json default doubles as the driver's detail
    // file and has the lifetime of one driver run.
    val artifact = sys.env.getOrElse("GRAFT_BENCH_ARTIFACT",
      if (args.isEmpty) "BENCH_LOCAL.json" else "BENCH_SUBSET.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (full + "\n").getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
    spark.stop()
  }
}
