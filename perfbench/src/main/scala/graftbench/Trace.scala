package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts for the traced run, recorded from outside the program:
  * a span wraps each call the benchmark makes into a layer's public
  * functions, and Spark's own listeners count the jobs, stages, tasks and
  * planning phases that happen inside it. Everything stays in memory until
  * the run ends. While `on` is false every call is a plain pass-through.
  */
object Trace {

  /** Spark work counted by the listeners, and whole-stage code generation
    * compiles counted by Spark's codegen metrics.
    */
  final case class Counts(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskMs: Double = 0, schedDelayMs: Double = 0,
      inputBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
      analysisMs: Double = 0, optimizationMs: Double = 0, planningMs: Double = 0,
      compiles: Long = 0) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskMs + o.taskMs, schedDelayMs + o.schedDelayMs, inputBytes + o.inputBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      analysisMs + o.analysisMs, optimizationMs + o.optimizationMs, planningMs + o.planningMs,
      compiles + o.compiles)
    def unary_- : Counts = Counts(-jobs, -stages, -tasks, -taskMs, -schedDelayMs, -inputBytes,
      -shuffleWriteBytes, -spillBytes, -analysisMs, -optimizationMs, -planningMs, -compiles)
    def -(o: Counts): Counts = this + -o
  }

  /** One call into a layer: `parent` is the id of the enclosing span, -1 at
    * the top. `counts` is the Spark work done between its start and end.
    */
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, counts: Counts) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile private var on    = false
  private var sc: SparkContext = _
  private var total            = Counts()
  private val spans            = ArrayBuffer[Span]()
  private var stack            = List.empty[Int]
  private var nextId           = 0

  private def add(f: Counts => Counts): Unit = synchronized { total = f(total) }

  private def settled(): Counts = {
    BenchBus.drain(sc)
    synchronized(total).copy(compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Starts recording: registers the Spark listener on `context`. */
  def start(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(SparkCounters)
    on = true
  }

  def stop(): Unit = if (on) { settled(); on = false; sc.removeSparkListener(SparkCounters) }

  def recorded: Seq[Span] = spans.toSeq

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id     = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = settled()
      stack ::= id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, settled() - before)
      }
    }

  /** Adds the analysis time of a frame built by a layer call. A frame is
    * analyzed when it is built, by its own query execution, which is never
    * reported to a listener: the sink's write command analyzes only its
    * already-analyzed child.
    */
  def analyzed(qe: QueryExecution): Unit =
    if (on) add(c => c.copy(analysisMs = c.analysisMs +
      qe.tracker.phases.get(QueryPlanningTracker.ANALYSIS).map(_.durationMs.toDouble).getOrElse(0.0)))

  private object SparkCounters extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(c => c.copy(jobs = c.jobs + 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(c => c.copy(stages = c.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i     = e.taskInfo
        val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        add(c => c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
          schedDelayMs = c.schedDelayMs + delay,
          inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  /** Planning phases of every query execution, in every session (registered
    * through `spark.sql.queryExecutionListeners`, so child sessions made by
    * `newSession()` report too).
    */
  final class PhaseListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val p = qe.tracker.phases
        def ms(phase: String) = p.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
        add(c => c.copy(analysisMs = c.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
          optimizationMs = c.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
          planningMs = c.planningMs + ms(QueryPlanningTracker.PLANNING)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
