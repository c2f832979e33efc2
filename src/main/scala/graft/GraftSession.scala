package graft

import org.apache.spark.sql.SparkSession

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
