package graft

import org.apache.spark.sql.SparkSession
import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Session factory — the only place in graft that builds a session.
  *
  * Every main, the test suite and the benchmark start from [[builder]], so
  * what is tested is what is benchmarked: the same `GraftExtensions`
  * (custom expressions, optimizer rules, the as-of join strategy) and the
  * same planner thresholds. A main that needs something different chains
  * its own `.config(...)` overrides onto the builder and documents them
  * where it builds; none rebuilds a session from scratch.
  *
  * Tuned for the harness's single-JVM `local[N]` mode but every setting
  * transfers to a real cluster: AQE (runtime re-plan, skew-join splitting,
  * partition coalescing) is what keeps the same code viable from 60k rows to
  * 100 TB; shuffle partitions default to the core count locally and would be
  * raised (or left to AQE) on a cluster.
  *
  * The codegen class cache holds 2000 entries, not Spark's 100: a warm
  * session serving a fixed query mix should re-pay no Janino compile for a
  * plan it has already run, and one rotation of the benchmark's twelve ops
  * alone makes more than 100 distinct classes, so at 100 entries each op
  * evicts the next one's classes (~16 compiles an op). Spark keys that
  * cache by the session's classloader as well as the code, so a session
  * made with `newSession()` misses every entry its parent compiled; a query
  * that needs its own confs takes a memoized child from [[child]] instead.
  * The cache is keyed by the generated source, and by default that source
  * names its class after the whole-stage codegen id, which adaptive
  * execution hands out in the order concurrent stages finish: the same
  * stage could come back as `...Stage9` on one run and `...Stage10` on the
  * next and compile again (`x_bitmap_distinct` recompiled 10 classes on its
  * second run). `useIdInClassName` off names every stage class alike, so
  * equal stages share one entry; plans and their `*(n)` ids are unchanged.
  *
  * `file:` paths go through graft's fork-free local file system
  * ([[graft.sources.NioRawLocalFileSystem]]): `fs.file.impl` for the
  * `FileSystem` API (parquet reads and writes, the RainStorm dest's read) and
  * `fs.AbstractFileSystem.file.impl` for `FileContext` (Spark's streaming
  * checkpoint manager and state store). Without the native `libhadoop`,
  * Hadoop's own forks `chmod`, `ls` or `readlink` for its metadata calls,
  * ~27 ms per checkpoint file; graft's makes them through `java.nio`, reads
  * a status's permission, owner and group only when asked, and defers to
  * Hadoop for a sticky bit, a symlink's own status or a platform without
  * the `unix` attribute view. The keys are set here and nowhere else, so
  * the tests, the benchmark and every main share the file system.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every processor
    * the JVM can see. */
  def cores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  private val children =
    new java.util.WeakHashMap[SparkSession, Map[Map[String, String], SparkSession]]()

  /** The child session of `parent` with `confs` set: shared context, its
    * own conf, so no other query's plan changes. Made once per parent and
    * conf set and reused after that, so its generated classes stay cached
    * across calls (a fresh child per call would recompile all of them).
    * The memo holds the parent weakly, so it does not outlive its session.
    */
  def child(parent: SparkSession, confs: Map[String, String]): SparkSession =
    children.synchronized {
      val known = Option(children.get(parent)).getOrElse(Map.empty)
      known.getOrElse(confs, {
        val s = parent.newSession()
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        children.put(parent, known + (confs -> s))
        s
      })
    }

  /** Get-or-create a session with graft defaults. */
  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every unpartitioned window left in the registry runs over a frame
    * bounded by something other than corpus size (value-cardinality
    * histograms, Heaps-law vocabularies, shuffle-partition counts, the
    * harness-only f2 ntile) — audited per site. WindowExec warns on all of
    * them identically, ~40 lines per registry pass, which buries the one
    * warning that would matter and masks real per-query failures in a dump
    * log. The measurement mains call this; library users keep the warning.
    */
  def quietWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
