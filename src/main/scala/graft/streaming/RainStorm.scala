package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.CommitLog

/** The RainStorm engine (MP4) re-expressed as Structured Streaming.
  *
  * Reference lifecycle (`core_process_stream_DS.go:443-1288`): source tasks
  * read file partitions and stream batches downstream; stage-1 runs a
  * transform/filter op and hash-routes by key; stage-2 keeps running
  * per-key state, re-emitting the aggregate on every tuple, journaling
  * seen-sets and state to HyDFS for exactly-once under failures.
  *
  * Spark mapping: `readStream` file source (micro-batches replace the
  * hand-rolled batching), implicit hash exchange on `groupBy`, state store +
  * checkpoint WAL replace the journal/ack/replay machinery
  * (`sendLineInfoArray`/`ResolveStoredAcks`/`StoreBufferOnHydfs`,
  * `core_process_utils.go:435-517` — zero code here), and `update` output
  * mode reproduces the running-emission semantics
  * (`core_process_stream_DS.go:1207-1215`). Kill/restart against the same
  * checkpoint is the `dokill` fault-injection test
  * (`core_process_stream_DS.go:1706-1736`).
  */
object RainStorm {

  /** Streaming keyed-tuple source over a directory of text files: the analog
    * of `ReadFilePartition` (`core_process_utils.go:646-690`) emitting
    * `<file, line>`. `maxFilesPerTrigger` bounds micro-batch size like the
    * reference's batch-of-300 sends.
    */
  def source(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(dir).select(input_file_name().as("key"), col("value"))
  }

  /** Socket keyed-tuple source (the reference streams tuples over raw TCP;
    * Spark's socket source is the lightweight analog, Kafka being the
    * production one — same downstream pipeline either way).
    */
  def socketSource(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream
      .format("socket")
      .option("host", host)
      .option("port", port)
      .load()
      .select(lit(s"$host:$port").as("key"), col("value"))

  /** Session config for stateful streaming at scale: RocksDB-backed state
    * store (bounded heap, spillable state) instead of the default in-memory
    * HDFS-backed provider. This is what makes big keyed state (dedup sets,
    * session maps) survive on real clusters.
    */
  val rocksDbStateStoreConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The commit log every run appends to inside its dest directory. */
  private[graft] def destLog(destDir: String): String = s"$destDir/dest.log"

  /** The one exactly-once dest writer: each micro-batch's updated rows, as
    * JSON lines, appended to [[destLog]] through the commit log's sink
    * ([[CommitLog.writeStream]]), whose intent-log epoch commit lands a batch
    * replayed after a crash exactly once — the paper's append to a HyDFS
    * dest file, without the reference's ack/journal machinery
    * (`StoreBufferOnHydfs` + seen-set dedup, `core_process_utils.go:
    * 499-517`). `destDir` is a driver-visible POSIX path.
    */
  private def writeDest(
      rows: DataFrame, checkpointDir: String, destDir: String, trigger: Trigger
  ): StreamingQuery = {
    val log = Paths.get(destLog(destDir))
    Files.createDirectories(log.getParent)
    // an empty log until the first epoch, so a run without input quantifies to no rows
    Files.write(log, Array.emptyByteArray, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    CommitLog.writeStream(rows.select(to_json(struct(col("*"))).as("value")), log.toString, checkpointDir)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .start()
  }

  /** The spec's demo pipeline (Source→Split→Count, MP4 spec p.2-3): streaming
    * word count with running emission, checkpointed. Each micro-batch's
    * updated counts are appended to the dest log ([[writeDest]], F6's dual
    * console+file shape); the final state of a key is the max emitted running
    * count (counts are monotone), which is what `quantify` (F7) reads.
    */
  def wordCount(
      spark: SparkSession,
      srcDir: String,
      checkpointDir: String,
      destDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val counts = source(spark, srcDir, maxFilesPerTrigger)
      .select(explode(split(col("value"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
    writeDest(counts, checkpointDir, destDir, trigger)
  }

  /** F7 `quantify` over the streamed dest: final count per key = last (=max)
    * emitted running count (`QuantifyHydfsFile`, `core_process_utils.go:
    * 164-236` merges buffers and counts unique records). The dest log holds
    * what [[wordCount]] writes, so its schema is declared ([[DestSchema]]),
    * and reading it starts no inference job.
    */
  def quantify(spark: SparkSession, destDir: String): DataFrame =
    spark.read.schema(DestSchema).json(destLog(destDir))
      .groupBy(col("word")).agg(max(col("cnt")).as("cnt"))

  /** The rows [[wordCount]] writes to its dest. */
  val DestSchema: StructType = StructType(Seq(
    StructField("word", StringType), StructField("cnt", LongType)))

  /** Typed stateful count-by-key with running emission via
    * `mapGroupsWithState` — the direct analog of the reference's stateful
    * operator protocol (`GetOutputFromOperatorStageStateful2`,
    * `core_process_utils.go:596-605`: op receives one tuple + its state file,
    * emits the updated running aggregate).
    */
  def runningCountByKey(
      spark: SparkSession,
      keyed: Dataset[(String, String)] // (key, value) tuples
  ): Dataset[(String, Long)] = {
    import spark.implicits._
    keyed
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[Long]) =>
          val newCount = state.getOption.getOrElse(0L) + rows.size
          state.update(newCount)
          (key, newCount)
      }
  }

  /** Event-time tumbling-window aggregate with watermark — the streaming
    * form of the batch `h8_event_time_window` query. Late rows beyond the
    * watermark are dropped by the state store; output mode `update` emits
    * per-trigger deltas (the running-emission shape).
    */
  def eventTimeWindowCounts(
      events: DataFrame, // streaming DF with (ts: timestamp, event_type: string)
      windowLen: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Stateful sessionization via `flatMapGroupsWithState`: per-user session
    * tracking with a gap timeout, emitting one row per session closed inside
    * the micro-batch plus one for the still-open session's latest state. The
    * direct analog of the reference's stateful operator contract (state in,
    * tuple in, updated state + emission out) with Spark's state store
    * replacing the state file.
    *
    * Ordering contract: rows are sorted by event time WITHIN a micro-batch;
    * across batches the gap logic assumes per-key event-time order (an event
    * older than the key's last seen time folds into the current session
    * rather than reopening a past one). For unordered sources, bound the
    * disorder upstream with a watermark + window instead.
    */
  final case class SessionState(sessionId: Long, nEvents: Long, lastTs: Long)
  final case class SessionUpdate(userId: Long, sessionId: Long, nEvents: Long)

  def sessionize(
      spark: SparkSession,
      events: Dataset[(Long, Long)], // (user_id, epochSeconds)
      gapSeconds: Long = 1800
  ): Dataset[SessionUpdate] = {
    import spark.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (userId: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
        var st  = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
        rows.toSeq.sortBy(_._2).foreach { case (_, ts) =>
          if (st.lastTs != Long.MinValue && ts - st.lastTs <= gapSeconds)
            st = st.copy(nEvents = st.nEvents + 1, lastTs = ts)
          else {
            // A session closed mid-batch: emit it before opening the next.
            if (st.lastTs != Long.MinValue) out += SessionUpdate(userId, st.sessionId, st.nEvents)
            st = SessionState(st.sessionId + 1, 1L, ts)
          }
        }
        state.update(st)
        out += SessionUpdate(userId, st.sessionId, st.nEvents)
        out.iterator
      }
  }

  final case class ClosedSession(userId: Long, sessionId: Long, nEvents: Long, lastTs: Long)

  /** Timeout-driven sessionization: each session is emitted EXACTLY ONCE,
    * when the event-time watermark passes its gap — the
    * `GroupStateTimeout.EventTimeTimeout` mechanism ([[sessionize]] emits
    * running updates instead; [[sessionWindows]] is the native-aggregate
    * form). A batch's events extend the open session (gap-splitting
    * mid-batch, closed ones emitted immediately); the state then arms a
    * timeout at lastTs + gap, and when no event arrives before the
    * watermark crosses it, Spark calls back with `hasTimedOut` and the
    * session closes and its state is REMOVED — bounded state with
    * guaranteed emission even for users who simply stop, which the
    * update-emitting form cannot distinguish from users between batches.
    *
    * Session IDENTITY is the session's first event time (epoch seconds),
    * not a per-user counter: state removal on timeout would reset a
    * counter, so a returning user's new session would collide with an
    * already-emitted (user, session) key and downstream consumers keyed on
    * it would double-count. Start time is collision-free across removals
    * (a user cannot open two sessions at the same second — same-second
    * events merge into one session by the gap rule).
    */
  def sessionizeWithTimeout(
      spark: SparkSession,
      events: Dataset[(Long, java.sql.Timestamp)], // (user_id, event time)
      gapSeconds: Long = 1800,
      watermarkDelay: String = "10 seconds"
  ): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .toDF("user_id", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout
      ) { (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)],
           state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          val st = state.get
          state.remove()
          Iterator.single(ClosedSession(userId, st.sessionId, st.nEvents, st.lastTs))
        } else {
          var st  = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          rows.map { case (_, t) => t.getTime / 1000L }.toSeq.sorted.foreach { ts =>
            if (st.lastTs != Long.MinValue && ts - st.lastTs <= gapSeconds)
              st = st.copy(nEvents = st.nEvents + 1, lastTs = ts)
            else {
              if (st.lastTs != Long.MinValue)
                out += ClosedSession(userId, st.sessionId, st.nEvents, st.lastTs)
              st = SessionState(ts, 1L, ts) // identity = start time, survives state removal
            }
          }
          state.update(st)
          state.setTimeoutTimestamp((st.lastTs + gapSeconds) * 1000L)
          out.iterator
        }
      }
  }

  /** BOUNDED-STATE sessionization: the native `session_window` aggregate
    * under a watermark. Unlike [[sessionize]] (explicit state machine,
    * state kept per key forever), closed sessions here are finalized and
    * EVICTED once the watermark passes their gap — the form whose state
    * stays bounded on an unbounded stream. Append mode emits each session
    * exactly once, when it can no longer grow.
    */
  def sessionWindowCounts(
      events: DataFrame, // streaming DF with (user_id, ts: timestamp)
      gap: String = "30 minutes",
      watermark: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))

  /** Streaming funnel: per-user ordered step progression (the h22_funnel
    * batch semantics) tracked in `flatMapGroupsWithState`. State is one
    * first-completion time per step per user — fixed-size by construction,
    * independent of event volume. A step-k event advances the state only
    * when it is the first completion of step k AND step k-1 completed at a
    * strictly earlier time; each advance emits a (user, step, time) row
    * (Append shape: a completion is final — later events can only complete
    * LATER steps).
    *
    * Ordering contract (same as [[sessionize]]): rows are sorted by event
    * time within a micro-batch; across batches the monotone state assumes
    * per-key event-time order — an out-of-order view arriving after a
    * click has already been rejected cannot retroactively count that
    * click. On an in-order stream the final states equal the batch chained
    * window mins (FunnelCohortSpec replays a 2-batch split against the
    * batch form).
    */
  final case class FunnelState(times: Seq[Long]) // Long.MinValue = not reached
  final case class FunnelStep(userId: Long, step: Int, tm: Long)

  def funnelStream(
      spark: SparkSession,
      events: Dataset[(Long, String, Long)], // (user_id, event_type, micros)
      steps: Seq[String]
  ): Dataset[FunnelStep] = {
    import spark.implicits._
    require(steps.nonEmpty && steps.distinct.size == steps.size, s"funnel steps must be distinct: $steps")
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelStep](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (userId: Long, rows: Iterator[(Long, String, Long)], state: GroupState[FunnelState]) =>
        val t   = state.getOption.map(_.times.toArray).getOrElse(Array.fill(steps.size)(Long.MinValue))
        val out = scala.collection.mutable.ArrayBuffer.empty[FunnelStep]
        rows.toSeq.sortBy(_._3).foreach { case (_, typ, tm) =>
          val i = steps.indexOf(typ)
          if (i >= 0 && t(i) == Long.MinValue &&
              (i == 0 || (t(i - 1) != Long.MinValue && tm > t(i - 1)))) {
            t(i) = tm
            out += FunnelStep(userId, i, tm)
          }
        }
        state.update(FunnelState(t.toSeq))
        out.iterator
      }
  }

  /** Streaming row-pattern matching — the `x_match_recognize` batch
    * semantics (`PATTERN (V+ C P)` contiguous per user, greedy `V+`,
    * skip-past-last) as a `flatMapGroupsWithState` DFA: the SAME
    * three-values-of-state machine the batch `mapPartitions` scan runs,
    * carried across micro-batches — a pattern may START in one batch and
    * COMPLETE in a later one (the case a per-batch window replay cannot
    * express; Flink CEP's per-key NFA shape). State is fixed-size by
    * construction regardless of history length; a match emits exactly once,
    * on the completing event (Append shape: completions are final).
    *
    * Ordering contract (same as [[funnelStream]]/[[sessionize]]): rows are
    * sorted by event time within a micro-batch; across batches the DFA
    * assumes per-key event-time order. On an in-order stream the emitted
    * matches equal the batch DFA scan (PatternsSpec replays a mid-pattern
    * batch split against the batch operator).
    */
  final case class PatternState(st: Int, nV: Long, vStart: Long)
  final case class PatternMatch(userId: Long, nViews: Long, startUs: Long, endUs: Long)

  def patternStream(
      spark: SparkSession,
      events: Dataset[(Long, String, Long)], // (user_id, event_type, micros)
      view: String = "view",
      click: String = "click",
      purchase: String = "purchase"
  ): Dataset[PatternMatch] = {
    import spark.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[PatternState, PatternMatch](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (userId: Long, rows: Iterator[(Long, String, Long)], state: GroupState[PatternState]) =>
        var PatternState(st, nV, vStart) = state.getOption.getOrElse(PatternState(0, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[PatternMatch]
        rows.toSeq.sortBy(_._3).foreach { case (_, typ, tm) =>
          typ match {
            case `view` =>
              if (st == 1) nV += 1
              else { st = 1; nV = 1; vStart = tm }
            case `click` =>
              st = if (st == 1) 2 else 0
            case `purchase` =>
              if (st == 2) out += PatternMatch(userId, nV, vStart, tm)
              st = 0
            case _ => st = 0
          }
        }
        state.update(PatternState(st, nV, vStart))
        out.iterator
      }
  }

  /** F4's stated Spark mapping (SURVEY §2.1): exactly-once tuple dedup by
    * unique id with watermark-bounded state — the streaming seen-set
    * (`seen_storage_map`, `core_process_stream_DS.go:869-875,1170-1176`)
    * as `dropDuplicatesWithinWatermark`. A replayed tuple whose id was seen
    * within the watermark horizon is dropped; state for ids older than the
    * horizon is evicted, so memory stays bounded no matter how long the
    * stream runs (the reference keeps its seen-set forever — unbounded).
    */
  def dedupStream(
      tuples: DataFrame, // streaming DF with an id column and an event-time column
      idCol: String,
      tsCol: String,
      watermarkDelay: String = "10 minutes"
  ): DataFrame =
    tuples
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream watermarked INNER join — the click/impression attribution
    * shape, the one Structured Streaming operator family the batch join
    * surface (h2/h3/h10/h12/h13) had no streaming counterpart for. Both
    * sides carry a watermark AND the join condition carries a time-range
    * bound (`right.ts ∈ [left.ts, left.ts + maxSpan]`); together these let
    * the state store evict buffered rows once the watermark passes the range,
    * so join state stays bounded on unbounded streams. Append mode: a pair is
    * emitted exactly once, when both sides have arrived.
    *
    * Output: (key, left-ts as `l_ts`, right-ts as `r_ts`) plus the remaining
    * payload columns of both sides (left's under their own names, right's
    * prefixed `r_`).
    */
  def streamStreamJoin(
      left: DataFrame,  // streaming DF with (keyCol, tsCol, payload...)
      right: DataFrame, // streaming DF with (keyCol, tsCol, payload...)
      keyCol: String,
      tsCol: String,
      watermark: String = "1 hour",
      maxSpan: String = "30 minutes",
      joinType: String = "inner"
  ): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right
      .toDF(right.columns.map(c => s"r_$c").toIndexedSeq: _*)
      .withWatermark(s"r_$tsCol", watermark)
      .alias("r")
    l.join(
      r,
      col(s"l.$keyCol") === col(s"r.r_$keyCol") &&
        col(s"r.r_$tsCol") >= col(s"l.$tsCol") &&
        col(s"r.r_$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $maxSpan"),
      joinType
    ).drop(s"r_$keyCol")
      .withColumnRenamed(tsCol, s"l_$tsCol")
  }

  /** Streaming NEAR-duplicate filter — the streaming face of the batch
    * simhash dedup (`DedupOps.simhashNearDups`): first-seen documents pass;
    * a later document whose 64-bit SimHash lies within `maxHamming` of an
    * already-seen fingerprint in the same LSH bucket is dropped, across
    * micro-batches. Keying is single-band (bits 0-15 of the fingerprint), so
    * state per key is a small fingerprint list and the comparison never goes
    * corpus-wide; the price is recall — near-dups that differ inside band 0
    * are missed (a near-dup at Hamming ≤ h escapes with probability
    * ≈ h/4 · the chance its flipped bit lands in band 0; the batch 4-band
    * path catches those). `maxPerBucket` bounds state per key, so total state
    * is bounded by 2^16 × maxPerBucket fingerprints regardless of stream
    * length.
    */
  final case class SeenFingerprints(fps: List[Long])

  /** Admitted-count state of [[domainQuotaStream]] — one long per domain. */
  final case class DomainQuota(admitted: Long)

  /** Streaming per-domain quota — ingestion-time admission control, the
    * streaming face of [[graft.functions.Curation.capPerDomain]]: admit at
    * most `cap` docs per domain over the WHOLE stream, the admitted count
    * carried in per-domain state (one long — total state is
    * |domains| longs regardless of stream length). Within a micro-batch a
    * domain's rows are ranked by the same salted-md5 priority (ties: id) as
    * the batch operator, so a single-batch stream admits EXACTLY the batch
    * operator's picks (spec-pinned); across batches the quota drains
    * monotonically — arrival order decides between batches, priority order
    * within one.
    */
  def domainQuotaStream(
      spark: SparkSession,
      docs: Dataset[(Long, String)], // (doc_id, domain)
      cap: Int,
      salt: String
  ): Dataset[(Long, String)] = {
    import spark.implicits._
    docs
      .groupByKey(_._2)
      .flatMapGroupsWithState[DomainQuota, (Long, String)](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (_, rows, state) =>
        val used      = state.getOption.map(_.admitted).getOrElse(0L)
        val remaining = math.max(0L, cap.toLong - used).toInt
        val picked = rows.toSeq
          .sortBy { case (id, _) => (md5Hex(s"$id:$salt"), id) }
          .take(remaining)
        state.update(DomainQuota(used + picked.size))
        picked.iterator
      }
  }

  /** Lowercase hex md5 of a UTF-8 string — byte-identical to SQL `md5()`,
    * so the stream's priority order matches the batch operator's exactly.
    */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** The per-bucket greedy first-wins scan both near-dup-filter faces share:
    * rows in ascending id order, a row passes iff no KEPT fingerprint of the
    * bucket lies within `maxHamming`; only kept fingerprints enter the seen
    * set (a dropped dup never shadows a later doc), capped at
    * `maxPerBucket`. Returns (updated seen set, passed rows).
    */
  private def greedyNearDupScan[T](
      rows: Seq[(Long, Long, T)], // (id, fingerprint, payload), any order
      seen0: List[Long],
      maxHamming: Int,
      maxPerBucket: Int
  ): (List[Long], Seq[T]) = {
    var seen = seen0
    val out  = scala.collection.mutable.ArrayBuffer.empty[T]
    rows.sortBy(_._1).foreach { case (_, fp, payload) =>
      val isDup = seen.exists(f => java.lang.Long.bitCount(f ^ fp) <= maxHamming)
      if (!isDup) {
        out += payload
        if (seen.size < maxPerBucket) seen = fp :: seen
      }
    }
    (seen, out.toSeq)
  }

  def nearDupFilterStream(
      spark: SparkSession,
      docs: Dataset[(Long, String)], // (doc_id, text)
      maxHamming: Int = 6,
      maxPerBucket: Int = 1024
  ): Dataset[(Long, String)] = {
    import spark.implicits._
    import graft.functions.TextAnalysis
    val withSim = docs
      .toDF("doc_id", "text")
      .withColumn("simhash", TextAnalysis.simHash64(col("text")))
      .withColumn("bucket", col("simhash").bitwiseAND(0xffffL))
      .as[(Long, String, Long, Long)]
    withSim
      .groupByKey(_._4)
      .flatMapGroupsWithState[SeenFingerprints, (Long, String)](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (_, rows, state) =>
        val (seen, passed) = greedyNearDupScan(
          rows.toSeq.map { case (id, text, sim, _) => (id, sim, (id, text)) },
          state.getOption.getOrElse(SeenFingerprints(Nil)).fps,
          maxHamming, maxPerBucket)
        state.update(SeenFingerprints(seen))
        passed.iterator
      }
  }

  /** Batch face of [[nearDupFilterStream]] over a PRECOMPUTED fingerprint
    * column — the same bucket keying (fingerprint bits 0-15), the same
    * greedy kept-only scan in global id order, run as one distributed
    * `flatMapGroups` over the 2^16 buckets. Because a whole bucket's history
    * is in hand, one batch pass equals any micro-batch slicing of the same
    * id-ordered input (state carries across batches in the stream; here the
    * scan just runs to the end) — RainStormStreamingSpec pins that equality.
    * Per-bucket work is bounded by maxPerBucket exactly like the stream's
    * state. Returns the passing (idCol, fpCol) rows.
    */
  def nearDupFilterBatch(
      spark: SparkSession,
      docs: DataFrame, // (idCol, fpCol)
      idCol: String,
      fpCol: String,
      maxHamming: Int = 6,
      maxPerBucket: Int = 1024
  ): DataFrame = {
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(fpCol).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._2 & 0xffffL)
      .flatMapGroups { (_, rows) =>
        greedyNearDupScan(
          rows.toSeq.map { case (id, fp) => (id, fp, (id, fp)) },
          Nil, maxHamming, maxPerBucket)._2.iterator
      }
      .toDF(idCol, fpCol)
  }

  /** Streaming SET-SIMILARITY join (the shape of "Distributed Streaming Set
    * Similarity Join", ICDE 2020, re-expressed on Structured Streaming):
    * pairs (l, r) from two document streams with word-shingle Jaccard ≥
    * `threshold` and |l.ts − r.ts| within `maxSpan`. Sub-quadratic the same
    * way the batch path is — both sides are MinHash-banded into
    * (band, bucket) keys by the codegen'd kernels, the stream-stream join is
    * an EQUI-join on the bucket key (plus the watermarked time bound that
    * lets the join state evict), and exact Jaccard verifies only the
    * candidates. A pair can collide in several bands; the trailing
    * watermarked dedup keeps the first emission per (id_a, id_b) and evicts
    * that state with the same horizon.
    */
  def streamingSimilarityJoin(
      left: DataFrame,  // streaming DF with (idCol, textCol, tsCol)
      right: DataFrame, // streaming DF with (idCol, textCol, tsCol)
      idCol: String,
      textCol: String,
      tsCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 8,
      watermark: String = "1 hour",
      maxSpan: String = "30 minutes"
  ): DataFrame =
    setSimilarityJoin(left, right, idCol, textCol, tsCol, threshold, shingleN,
      k, bands, maxSpan, watermark = Some(watermark))

  /** Batch form of [[streamingSimilarityJoin]] — identical SEMANTICS (same
    * banding kernels, same bucket keys, same time bound, same exact verify)
    * but not the identical physical plan: the stream must carry each row's
    * shingle-hash array through the band join (the join state is the only
    * place the verify can find it), while in batch that exchange sorts
    * corpus × bands WIDE rows — measured 60+ GB of shuffle spill at 5M docs
    * before it hit the disk ceiling. The batch plan therefore bands SKINNY
    * (id, ts, band, bucket) rows, collapses band collisions to distinct
    * pairs first, and hash-joins the two shingle arrays back by id for the
    * ONE exact-Jaccard verify per pair — the [[graft.functions.DedupOps
    * minhashNearDups]] discipline. (`dropDuplicatesWithinWatermark` has no
    * batch exec either, so pair dedup is plain `dropDuplicates`; all rows of
    * one (id_a, id_b) are identical, so which survives is immaterial.)
    * Surfaced in the registry as `x_stream_set_similarity` under the exact
    * all-pairs DuckDB oracle; CorpusPipelineSpec pins both forms against the
    * same exact all-pairs ground truth on one input.
    */
  def setSimilarityJoinBatch(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 8,
      maxSpan: String = "30 minutes"
  ): DataFrame =
    setSimilarityJoin(left, right, idCol, textCol, tsCol, threshold, shingleN,
      k, bands, maxSpan, watermark = None)

  private def setSimilarityJoin(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      threshold: Double,
      shingleN: Int,
      k: Int,
      bands: Int,
      maxSpan: String,
      watermark: Option[String]
  ): DataFrame = {
    import graft.functions.{DedupOps, NativeFns}
    val rowsPerBand = k / bands
    // Each side shingles ONCE and carries xxhash64'd shingles (array<long>)
    // through the bucket join instead of raw text: the exact verify then
    // intersects 8-byte longs rather than re-running the shingle kernel on
    // both texts for every candidate row. Together with the dedup-before-
    // verify below: 56.8 s -> 7.1 s on the sf1 registry query (and the
    // 10x-data scaling ratio fell 10.2x -> 4.3x — the redundant per-band
    // verifies were themselves growing with collision count). Hashed-set
    // Jaccard == string-set Jaccard absent a within-pair 64-bit collision
    // (~10⁻¹⁵ per pair; deterministic either way). The two __shw references
    // below (hash projection + minhash) share one kernel run —
    // CollapseProject keeps non-cheap multi-referenced producers
    // materialized.
    def prepped(df: DataFrame, prefix: String) = df
      .select(
        col(idCol).as(s"${prefix}_id"),
        col(tsCol).as(s"${prefix}_ts"),
        NativeFns.word_shingles(col(textCol), shingleN).as("__shw"))
      .select(
        col(s"${prefix}_id"), col(s"${prefix}_ts"),
        transform(col("__shw"), s => xxhash64(s)).as(s"${prefix}_sh"),
        NativeFns.minhash_sig(col("__shw"), k).as("__sig"))
    def bandCols = posexplode(
      transform(
        sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .as(Seq("band", "bucket"))
    def timeCond =
      col("r_ts") >= col("l_ts") - expr(s"INTERVAL $maxSpan") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxSpan")
    def bucketCond = col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
    val verify = (pairs: DataFrame) => pairs
      .select(col("id_a"), col("id_b"), col("l_ts"),
        DedupOps.jaccard(col("l_sh"), col("r_sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    watermark match {
      case Some(w) =>
        // STREAM: the shingle arrays RIDE the band join — join state is the
        // only place the verify can read them once the micro-batch moves on.
        // Dedup band collisions BEFORE the exact verify: a true near-dup
        // matches in most of its bands, so verifying first pays the Jaccard
        // per matching band; deduping first pays it once per pair. No second
        // withWatermark after the join: the input watermarks propagate
        // through the stream-stream join (min of both sides), and REdefining
        // one after a stateful operator is disallowed once multiple stateful
        // operators are chained (Spark 3.5+ semantics, enforced in 4.x).
        def banded(df: DataFrame, prefix: String) = prepped(df, prefix)
          .select(col(s"${prefix}_id"), col(s"${prefix}_ts"), col(s"${prefix}_sh"), bandCols)
          .withWatermark(s"${prefix}_ts", w)
        val cands = banded(left, "l").alias("l")
          .join(banded(right, "r").alias("r"), bucketCond && timeCond)
          .select(
            col("l_id").as("id_a"), col("r_id").as("id_b"), col("l_ts"),
            col("l_sh"), col("r_sh"))
        verify(cands.dropDuplicatesWithinWatermark("id_a", "id_b"))
      case None =>
        // BATCH: band SKINNY rows — at corpus scale the wide band exchange
        // is corpus × bands × array-payload of sort spill (60+ GB at 5M
        // docs); the arrays instead hash-join back by id AFTER band
        // collisions collapse to distinct pairs, one array row per side per
        // pair. Same candidates, same verify, linear exchanges.
        val lp = prepped(left, "l")
        val rp = prepped(right, "r")
        def skinny(p: DataFrame, prefix: String) =
          p.select(col(s"${prefix}_id"), col(s"${prefix}_ts"), bandCols)
        val pairs = skinny(lp, "l").alias("l")
          .join(skinny(rp, "r").alias("r"), bucketCond && timeCond)
          .select(col("l_id").as("id_a"), col("r_id").as("id_b"), col("l_ts"))
          .dropDuplicates("id_a", "id_b")
        verify(pairs
          .join(lp.select(col("l_id").as("id_a"), col("l_sh")).hint("shuffle_hash"), "id_a")
          .join(rp.select(col("r_id").as("id_b"), col("r_sh")).hint("shuffle_hash"), "id_b"))
    }
  }

  /** Stream-static enrichment join: a streaming fact stream joined to a
    * static dimension table. No watermark needed — the static side is
    * re-planned per micro-batch (picking up dimension updates for file
    * sources) and, when small, broadcast, so the stream never shuffles.
    * This is the lookup-enrichment stage of every event pipeline; at 100 TB
    * the dimension is the broadcast side by construction.
    */
  def enrichWithStatic(
      stream: DataFrame,
      dim: DataFrame,
      joinKey: String,
      broadcastDim: Boolean = true
  ): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    stream.join(d, Seq(joinKey), "left")
  }

  /** Streaming cluster routing: micro-batches of embedding rows assign to a
    * FIXED centroid model trained offline
    * ([[graft.functions.ClusterOps.kMeansModel]]) via the same map-side
    * integer kernel as the batch path — the "cluster once, route forever"
    * ingestion shape (tag each incoming doc with its semantic bucket for
    * downstream per-cluster quotas/mixing). STATELESS: a pure projection,
    * so there is no watermark, no state store, no retraction — and the
    * stream's output over any micro-batch slicing is bit-equal to the batch
    * [[graft.functions.ClusterOps.assignToCentroids]] on the same rows
    * (pinned in RainStormStreamingSpec).
    */
  def clusterAssignStream(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      model: Array[(Long, Array[Long])]
  ): DataFrame =
    graft.functions.ClusterOps.assignToCentroids(stream, idCol, vecCol, model)

  /** Streaming entity assignment — the streaming face of
    * `x_er_incremental`'s assignment-to-base case: a stream of NEW records
    * is resolved against the FROZEN base clustering ("resolve once, assign
    * forever", the [[clusterAssignStream]] shape for record linkage).
    * Candidates come from the same lossless 3-part pigeonhole keys as the
    * batch pipeline (fixed-length names ⇒ Levenshtein ≤ 1 is a single
    * substitution ⇒ every true match agrees on ≥ 2 of 3 interleaved parts) —
    * three stream-static equi joins, verified by the exact edit distance.
    * Each record's assignment is `min(own key, matched base labels)` —
    * exactly the batch delta-round formula — folded by a watermarked
    * windowed min; a self row per record keeps misses (they mint their own
    * key) without a left join. Delta-delta chaining needs cross-record
    * state and stays a batch concern (stated in the batch query too).
    * Append mode emits each record's assignment exactly once on window
    * close; the base side is a bounded entity catalog (broadcast-joinable,
    * planner's choice — no explicit hint, the streaming-probe rule).
    *
    * `base`: (label, nm, nat, seg) — the resolved catalog. `records`:
    * streaming (k, nm, nat, seg, ts).
    */
  def erAssignStream(
      records: DataFrame,
      base: DataFrame,
      windowLen: String = "10 seconds",
      watermark: String = "10 seconds"
  ): DataFrame = {
    def part(c: org.apache.spark.sql.Column, i: Int) = concat(
      substring(c, 10 + i, 1), substring(c, 13 + i, 1), substring(c, 16 + i, 1))
    val b = base.select(col("label"), col("nm").as("bnm"), col("nat"), col("seg"),
      part(col("nm"), 0).as("p0"), part(col("nm"), 1).as("p1"), part(col("nm"), 2).as("p2"))
    val r = records.withWatermark("ts", watermark)
      .select(col("k"), col("nm"), col("nat"), col("seg"), col("ts"),
        part(col("nm"), 0).as("p0"), part(col("nm"), 1).as("p1"), part(col("nm"), 2).as("p2"))
    val matched = Seq(("p0", "p1"), ("p0", "p2"), ("p1", "p2")).map { case (x, y) =>
      r.select(col("k"), col("nm"), col("ts"), col("nat"), col("seg"),
          col(x).as("bx"), col(y).as("by"))
        .join(b.select(col("label"), col("bnm"), col("nat"), col("seg"),
          col(x).as("bx"), col(y).as("by")), Seq("nat", "seg", "bx", "by"))
        .filter(levenshtein(col("nm"), col("bnm")) <= 1)
        .select(col("k"), col("ts"), col("label"))
    }.reduce(_ union _)
    val withSelf = matched.union(r.select(col("k"), col("ts"), col("k").as("label")))
    withSelf
      .groupBy(window(col("ts"), windowLen), col("k"))
      .agg(min(col("label")).as("rep"))
      .select(col("window"), col("k").as("delta_k"), col("rep"),
        when(col("rep") =!= col("k"), 1L).otherwise(0L).as("matched_existing"))
  }

  /** Streaming epoch upsampling: ingestion-time mixture materialization —
    * each arriving row repeats ⌊w⌋ + Bernoulli(frac(w)) times exactly as in
    * the batch operator ([[graft.functions.Curation.upsampleEpochs]]).
    * STATELESS (the decision is a pure function of (id, salt), the repeat a
    * per-row explode), so any micro-batch slicing emits the batch multiset
    * bit-exactly — no watermark, no state store, append mode.
    */
  def upsampleEpochsStream(
      stream: DataFrame,
      idCol: String,
      weightPpm: org.apache.spark.sql.Column,
      salt: String
  ): DataFrame =
    graft.functions.Curation.upsampleEpochs(stream, idCol, weightPpm, salt)

  /** Streaming ANN: a stream of query vectors answered against a STATIC
    * SRP-indexed corpus (the "index once, serve forever" shape — PAPERS.md's
    * streaming-similarity setting with the index on the static side).
    *
    * Per micro-batch: each query expands to its `probes` most likely SRP
    * buckets per hash table (multi-probe — recall without reindexing), a
    * stream-static equi join on (table, bucket) pulls only candidate
    * vectors, exact cosine scores them, and a windowed streaming aggregate
    * keeps the top-k per query. State is bounded by the watermark; append
    * mode emits each query's final top-k exactly once when its window
    * closes. The corpus never shuffles per batch when broadcast-sized
    * per-bucket; at 100 TB the candidate join is the same bucket-equi shape
    * as batch [[graft.functions.AnnSearch.lshTopK]] — linear in candidates,
    * never |corpus|×|queries|.
    *
    * Determinism: same seed-fixed hyperplanes as the batch path, ties broken
    * (cos desc, neighbor_id asc) by the same rule, so a closed window's
    * result equals the batch answer for the same query set (spec-pinned).
    */
  def streamingAnnTopK(
      queryStream: DataFrame, // (idCol, vecCol, tsCol) streaming
      corpus: DataFrame,      // (idCol, vecCol) static
      idCol: String, vecCol: String, tsCol: String,
      k: Int, nPlanes: Int = 12, tables: Int = 4, dim: Int = 64, probes: Int = 1,
      watermark: String = "10 minutes", windowLen: String = "1 hour"
  ): DataFrame = {
    import graft.functions.{AnnSearch, NativeFns}
    val allPlanes = AnnSearch.srpPlanes(tables, nPlanes, dim)
    def withBuckets(df: DataFrame, id: String, vec: String, nProbes: Int, extra: Seq[String]): DataFrame =
      df.select(
        (Seq(col(idCol).as(id), col(vecCol).as(vec)) ++ extra.map(col) :+
          posexplode(NativeFns.srp_buckets(col(vecCol), allPlanes, nProbes)).as(Seq("pos", "bucket"))): _*
      ).withColumn("table", (col("pos") / nProbes).cast("int")).drop("pos")
    val q = withBuckets(queryStream.withWatermark(tsCol, watermark), "query_id", "q_vec", probes, Seq(tsCol))
    val c = broadcast(withBuckets(corpus, "neighbor_id", "c_vec", 1, Nil))
    q.join(c, Seq("table", "bucket")) // stream-static inner: candidates only
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col(tsCol),
        struct(NativeFns.cosine_sim(col("q_vec"), col("c_vec")).as("cos"), col("neighbor_id")).as("cand"))
      .groupBy(window(col(tsCol), windowLen), col("query_id"))
      .agg(collect_set(col("cand")).as("cands")) // set: dedup multi-table hits
      .select(col("window"), col("query_id"),
        slice(array_sort(col("cands"),
          (l, r) => when(l.getField("cos") > r.getField("cos"), -1)
            .when(l.getField("cos") < r.getField("cos"), 1)
            .when(l.getField("neighbor_id") < r.getField("neighbor_id"), -1)
            .when(l.getField("neighbor_id") > r.getField("neighbor_id"), 1)
            .otherwise(0)), 1, k).as("topk"))
  }

  /** Stream-static AS-OF enrichment: each micro-batch of facts is joined to
    * the latest dimension state at the fact's own event time via the native
    * as-of operator ([[graft.operators.AsOfJoin.native]]) inside
    * `foreachBatch` — the point-in-time-correct version of
    * [[enrichWithStatic]] (an equi join silently reads FUTURE dimension
    * rows when processing late events; as-of cannot). Per-left-row
    * semantics make batch-at-a-time equivalent to one big batch join, so
    * results don't depend on micro-batch boundaries.
    */
  def enrichAsOf(
      stream: DataFrame, dim: DataFrame,
      streamKey: String, streamTime: String,
      dimKey: String, dimTime: String,
      sink: DataFrame => Unit,
      tolerance: Option[java.time.Duration] = None,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.operators.AsOfJoin.native(
          batch, streamKey, streamTime, dim, dimKey, dimTime, tolerance))
      }
      .start()

  /** Streaming incremental ingestion dedup: each micro-batch keeps only docs
    * whose text is NEW vs a static corpus, via the distributed Bloom filter
    * of [[graft.functions.BloomDedup]]. The corpus is paid for ONCE at query
    * start — corpus hashes and the (word_idx, bits) bitset are persisted —
    * and every batch then probes the broadcast bitset map-side, with only
    * the maybe-duplicate sliver exact-verified against the persisted hashes.
    * foreachBatch (the [[enrichAsOf]] pattern): the probe's per-id bit-count
    * is an aggregation append-mode streaming would refuse; per batch it is
    * plain batch algebra. Duplicates WITHIN the stream are upstream's
    * business — chain `dropDuplicatesWithinWatermark` before this stage.
    * The persisted hashes and bitset are released when the query
    * terminates (stopped or failed), so a stopped query leaves no cached
    * frame in the session.
    */
  def incrementalDedupStream(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      sink: DataFrame => Unit,
      fpp: Double = 0.01,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    import graft.functions.BloomDedup
    val filt = BloomDedup.corpusFilter(corpus.select(xxhash64(col(textCol))), fpp)
    filt.bits.count() // materialize both once, before the first batch arrives
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(BloomDedup.newAgainstFilter(batch, idCol, textCol, filt))
      }
      .start()
    // a query is inactive before it posts its termination event, so one
    // that ended before the listener was added is released here at once
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == q.id) release()
    }
    def release(): Unit = if (done.compareAndSet(false, true)) {
      q.sparkSession.streams.removeListener(listener)
      filt.bits.unpersist(); filt.keys.unpersist()
    }
    q.sparkSession.streams.addListener(listener)
    if (!q.isActive) release()
    q
  }

  /** Streaming trending top-k: per-window token counts, then the k heaviest
    * tokens of each closed window — two CHAINED stateful aggregations (the
    * multi-stateful-operator pattern Spark allows when the second grouping
    * key is the first's window), watermark-bounded state, append mode emits
    * one final top-k row per window. The per-window second aggregate only
    * ever sees |distinct tokens in window| rows — the heavy shuffle happened
    * at stage one, partial-aggregated map-side.
    *
    * SCALE CAVEAT: stage two's `collect_list` materializes every distinct
    * token of a window into ONE aggregation buffer row — O(|window vocab|)
    * state. Fine for bounded vocabularies (status codes, symbols); for open
    * vocabularies at corpus scale use [[trendingTopKSketch]], whose
    * second-stage buffer is O(slots) regardless of vocabulary.
    */
  def trendingTopK(
      tokenStream: DataFrame, // (tokenCol, tsCol) streaming
      tokenCol: String, tsCol: String,
      k: Int, windowLen: String = "1 hour", watermark: String = "10 minutes"
  ): DataFrame = {
    tokenStream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(tokenCol).as("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(collect_list(struct(col("n"), col("token"))).as("counts"))
      .select(col("window"),
        slice(array_sort(col("counts"),
          (l, r) => when(l.getField("n") > r.getField("n"), -1)
            .when(l.getField("n") < r.getField("n"), 1)
            .when(l.getField("token") < r.getField("token"), -1)
            .when(l.getField("token") > r.getField("token"), 1)
            .otherwise(0)), 1, k).as("topk"))
  }

  /** Bounded-state trending top-k: same two chained stateful aggregations and
    * append-mode window emission as [[trendingTopK]], but stage two is the
    * weighted Misra-Gries sketch
    * ([[graft.functions.HeavyHitters.weightedSketch]]) instead of
    * `collect_list` — the aggregation buffer holds at most `slots` counters
    * per window (O(slots), not O(|window vocab|)), and partial buffers merge
    * map-side like any other aggregate. The price is the standard MG bound:
    * reported counts are lower bounds within `n/slots` of truth, and a token
    * needs frequency > n/slots to be guaranteed present — with
    * `slots >= |window vocab|` nothing ever sheds and the result equals
    * [[trendingTopK]] exactly (the TrendingTopKSpec parity gate).
    *
    * Output schema matches [[trendingTopK]] (`window`, `topk` =
    * array<struct<n, token>>) so the two are drop-in interchangeable.
    */
  def trendingTopKSketch(
      tokenStream: DataFrame, // (tokenCol, tsCol) streaming
      tokenCol: String, tsCol: String,
      k: Int, slots: Int = 1024,
      windowLen: String = "1 hour", watermark: String = "10 minutes"
  ): DataFrame = {
    require(slots >= k, s"slots ($slots) must be >= k ($k): the sketch can only report what it tracks")
    val mg = udaf(graft.functions.HeavyHitters.weightedSketch(slots))
    tokenStream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(tokenCol).as("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(mg(col("token"), col("n")).as("sketch"))
      .select(col("window"),
        slice(transform(col("sketch"),
          s => struct(s.getField("_2").as("n"), s.getField("_1").as("token"))), 1, k).as("topk"))
  }

  /** Streaming cohort-retention increments (the h23_cohort_retention batch
    * semantics, maintained online): per-user state is (cohort day, 64-bit
    * seen-offset bitmask) — FIXED 16 bytes per user, with the retention
    * horizon (≤ 64 days, the standard 30/90-day analyses fit) bounding the
    * mask. First appearance pins the cohort; each first-activity at a new
    * day offset emits one (user, cohort, offset) increment, so a downstream
    * count by (cohort, offset) IS the retention matrix. Ordering contract
    * as [[sessionize]]/[[funnelStream]]: per-key event-time order across
    * batches (an out-of-order earlier day cannot re-pin a cohort).
    */
  final case class CohortState(cohortDay: Long, seen: Long)
  final case class CohortHit(userId: Long, cohortDay: Long, dayOffset: Int)

  def cohortStream(
      spark: SparkSession,
      events: Dataset[(Long, Long)], // (user_id, epoch day)
      horizonDays: Int = 64
  ): Dataset[CohortHit] = {
    import spark.implicits._
    require(horizonDays >= 1 && horizonDays <= 64, s"bitmask horizon is 1..64, got $horizonDays")
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[CohortState, CohortHit](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (userId: Long, rows: Iterator[(Long, Long)], state: GroupState[CohortState]) =>
        var st  = state.getOption.getOrElse(CohortState(Long.MaxValue, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[CohortHit]
        rows.toSeq.sortBy(_._2).foreach { case (_, day) =>
          if (st.cohortDay == Long.MaxValue) st = CohortState(day, 0L)
          val off = day - st.cohortDay
          if (off >= 0 && off < horizonDays && ((st.seen >> off) & 1L) == 0L) {
            st = st.copy(seen = st.seen | (1L << off))
            out += CohortHit(userId, st.cohortDay, off.toInt)
          }
        }
        state.update(st)
        out.iterator
      }
  }

  /** Windowed streaming distinct-count via the KMV bottom-k sketch
    * ([[graft.functions.KmvSketch]]): per event-time window, state is the
    * ≤ k smallest distinct [[graft.functions.VecMath.hash61]] values — a
    * BOUNDED buffer per window regardless of how many distinct ids arrive
    * (the exact-distinct formulation would hold one state row per id).
    * Watermark + append emit each window's final estimate once, when it can
    * no longer grow. Same estimator expression as the batch `x_distinct_kmv`
    * surface, so closed-window results are bit-comparable to a batch sketch
    * of the same rows (KmvSketchSpec pins it).
    */
  def distinctCountStream(
      events: DataFrame, // streaming DF with (idCol: bigint, tsCol: timestamp)
      idCol: String, tsCol: String,
      k: Int = 1024,
      windowLen: String = "1 hour", watermark: String = "10 minutes"
  ): DataFrame = {
    import graft.functions.{KmvSketch, NativeFns}
    val kmv = udaf(KmvSketch.sketch(k))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(kmv(NativeFns.hash61(col(idCol), KmvSketch.A, KmvSketch.B)).as("s"))
      .select(
        col("w.start").as("window_start"),
        col("s.filled").as("filled"),
        col("s.kthMin").as("kth_min"),
        when(col("s.filled") < k, col("s.filled"))
          .otherwise(floor(lit((k - 1).toDouble) *
            (lit(KmvSketch.M.toDouble) / col("s.kthMin").cast("double"))).cast("long"))
          .as("n_distinct_est"))
  }

  /** Windowed streaming count-min sketch (the x_countmin batch face made
    * continuous): per event-time window the state is the d×w counter grid —
    * FIXED 128 cells per window whatever the key cardinality (an exact
    * per-key count would hold one state row per distinct key; this is the
    * open-vocabulary safety the CM sketch exists for). Cells use the same
    * engine-neutral md5 cell hash as the batch query, so a closed window's
    * grid bit-equals the batch sketch of the same rows
    * (RainStormStreamingSpec pins it). Point queries downstream read
    * min-over-d-cells from the emitted grid.
    */
  def countMinStream(
      events: DataFrame, // streaming DF with (keyCol: string, tsCol: timestamp)
      keyCol: String, tsCol: String,
      depth: Int = 4, width: Int = 32,
      windowLen: String = "1 hour", watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("__ts"),
        posexplode(expr(
          s"""transform(sequence(0, ${depth - 1}),
              r -> cast(conv(substring(md5(concat('cm', r, ':', $keyCol)), 1, 15), 16, 10)
                   as long) % $width)""")).as(Seq("r", "b")))
      .groupBy(window(col("__ts"), windowLen).as("w"), col("r"), col("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("window_start"), col("r"), col("b"), col("c"))

  final case class UserEvent(userId: Long, tm: Long, eventId: Long, eventType: String)
  final case class LastEvent(tm: Long, eventId: Long, eventType: String)
  final case class TransitionHit(userId: Long, fromStep: String, toStep: String)

  /** Streaming face of the h27 transition matrix: per user the state is the
    * single LAST event seen (one triple, O(1) forever); each micro-batch
    * emits one (from, to) hit per consecutive pair, bridging the batch
    * boundary through the stored last event. Within a batch rows are put in
    * (tm, event_id) order; ACROSS batches the operator assumes per-user
    * in-order delivery (the per-key ordering a commit-log/Kafka partition
    * source provides) — a cross-batch straggler older than the stored last
    * event is dropped rather than emitted out of order, keeping the emitted
    * pair stream consistent with SOME prefix of the true sequence.
    * Downstream `count by (from, to)` reproduces h27's matrix exactly when
    * delivery honors the contract (pinned by the batch-boundary-invariance
    * test).
    */
  def transitionStream(
      spark: SparkSession,
      events: Dataset[UserEvent]
  ): Dataset[TransitionHit] = {
    import spark.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[LastEvent, TransitionHit](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (userId: Long, rows: Iterator[UserEvent], state: GroupState[LastEvent]) =>
        var last = state.getOption
        val out  = scala.collection.mutable.ArrayBuffer.empty[TransitionHit]
        rows.toSeq.sortBy(e => (e.tm, e.eventId)).foreach { e =>
          last match {
            case Some(l) if l.tm < e.tm || (l.tm == e.tm && l.eventId < e.eventId) =>
              out += TransitionHit(userId, l.eventType, e.eventType)
              last = Some(LastEvent(e.tm, e.eventId, e.eventType))
            case None =>
              last = Some(LastEvent(e.tm, e.eventId, e.eventType))
            case _ => // cross-batch straggler: drop, never emit out of order
          }
        }
        last.foreach(state.update)
        out.iterator
      }
  }

  /** Streaming OHLC bars — the streaming face of the batch `x_ohlc_bars`
    * aggregation: per event-time window, open/close ride `min_by`/`max_by`
    * on the (ts, id) total order INSIDE the windowed aggregate (state is
    * one bar per open window, not buffered trades), watermark + append emit
    * each bar exactly once when its window can no longer change. Same
    * integer-cents arithmetic as the batch face, so closed bars bit-equal a
    * batch aggregation of the same rows.
    */
  def ohlcStream(
      trades: DataFrame, // streaming (tsCol timestamp, idCol bigint, centsCol bigint)
      tsCol: String, idCol: String, centsCol: String,
      windowLen: String = "1 hour", watermark: String = "10 minutes"
  ): DataFrame =
    trades
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(
        min_by(col(centsCol), struct(col(tsCol), col(idCol))).as("open"),
        max(col(centsCol)).as("high"),
        min(col(centsCol)).as("low"),
        max_by(col(centsCol), struct(col(tsCol), col(idCol))).as("close"),
        count(lit(1)).as("n_trades"),
        sum(col(centsCol)).as("volume_cents"))
      .select(col("w.start").as("window_start"), col("open"), col("high"),
        col("low"), col("close"), col("n_trades"), col("volume_cents"))

  final case class CdcOp(key: Long, seq: Long, op: String, value: Double)
  final case class CdcLatest(key: Long, seq: Long, op: String, value: Double)

  /** Streaming CDC latest-state materialization — the streaming face of the
    * batch `x_cdc_apply` compaction: per key the state is ONE (seq, op,
    * payload) triple (O(1) forever, any log length), and a row is emitted
    * only when a strictly newer sequence number advances the state, so
    * out-of-order or replayed changelog entries are absorbed silently
    * (idempotent under at-least-once delivery — the same property the
    * batch max_by gives). Deletes emit as tombstones (`op = "D"`) for the
    * downstream sink to apply; a delete of an unseen key still records the
    * tombstone so a late stale insert cannot resurrect it.
    */
  def cdcStream(
      spark: SparkSession,
      changes: Dataset[CdcOp]
  ): Dataset[CdcLatest] = {
    import spark.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[CdcLatest, CdcLatest](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (key: Long, rows: Iterator[CdcOp], state: GroupState[CdcLatest]) =>
        val prev = state.getOption
        var cur  = prev
        rows.toSeq.sortBy(_.seq).foreach { r =>
          if (cur.forall(_.seq < r.seq)) cur = Some(CdcLatest(key, r.seq, r.op, r.value))
        }
        cur match {
          case Some(c) if !prev.contains(c) => state.update(c); Iterator.single(c)
          case _                            => Iterator.empty
        }
      }
  }

  final case class Scd2Version(uid: Long, state: String, validFrom: Long, validTo: Long)
  final case class Scd2State(state: String, validFrom: Long)

  /** Streaming SCD Type 2 build — the continuous face of the batch
    * `x_scd2`: per key the state is the single OPEN version (value +
    * valid_from, O(1) forever); each arriving change CLOSES the open
    * version and emits it with `valid_to` = the new change time (repeats
    * of the same value extend nothing and emit nothing — the batch
    * repeat-collapse rule applied online). Append-mode: a closed version
    * is immutable, so emission is exactly-once by construction. On an
    * in-order stream the closed-version set equals the batch build's
    * non-null-valid_to rows however the micro-batches slice
    * (RainStormStreamingSpec replays a split against the batch form);
    * ordering contract across batches is the same per-key event-time
    * assumption every state machine here documents.
    *
    * Ties: changes carry an event id and sort by (ts, id); same-ts changes
    * collapse to the FIRST (lowest id) — the batch `scd2Frame` rule — both
    * within a micro-batch and against the currently-open version (a change
    * at exactly the open version's valid_from is the tied row the batch
    * build would have dropped). Without the tiebreak, two distinct values
    * at one timestamp would yield an order-dependent zero-length version.
    */
  def scd2Stream(
      spark: SparkSession,
      changes: Dataset[(Long, Long, Long, String)] // (uid, micros, event_id, value)
  ): Dataset[Scd2Version] = {
    import spark.implicits._
    changes
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Version](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { (uid: Long, rows: Iterator[(Long, Long, Long, String)], state: GroupState[Scd2State]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Version]
        var cur = state.getOption
        var lastTs = Long.MinValue
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, tm, _, v) =>
          val tiedWithOpen = cur.exists(_.validFrom == tm)
          if (tm != lastTs && !tiedWithOpen) {
            cur match {
              case Some(c) if c.state == v => () // repeat: no new version
              case Some(c) =>
                out += Scd2Version(uid, c.state, c.validFrom, tm)
                cur = Some(Scd2State(v, tm))
              case None =>
                cur = Some(Scd2State(v, tm))
            }
          }
          lastTs = tm
        }
        cur.foreach(state.update)
        out.iterator
      }
  }

  final case class PostingState(df: Long, tfTotal: Long, head: Seq[Long])
  final case class PostingRow(tok: String, df: Long, tf_total: Long, postings_head: String)

  /** Streaming inverted-index maintenance — the continuous face of the batch
    * `x_inverted_index` / `x_inverted_index_incremental` pair: per token the
    * state is the SERVING aggregate (document frequency, total term
    * frequency, the 10-smallest-doc-id posting head) and each micro-batch of
    * newly ingested documents folds in as a posting delta — df/tf add, the
    * head merges as smallest-10 of the union, exactly the batch merge rule.
    * Update-mode emission: every batch re-emits each TOUCHED token's current
    * row (untouched tokens emit nothing), so a downstream sink always holds
    * the latest index row per token.
    *
    * Assumes document-at-a-time ingest (each doc_id arrives whole, in one
    * batch, once) — the same per-key contract as cdcStream. State is O(1)
    * per token (two counters + a capped head), so 100 TB of corpus costs
    * |vocabulary| state, not |postings|; full posting lists would go to an
    * external store keyed by (tok, doc_id) with this state as the serving
    * summary. Streaming-vs-batch equality across a multi-batch replay is
    * pinned in RainStormStreamingSpec.
    */
  def indexStream(
      spark: SparkSession,
      docs: DataFrame // (doc_id long, text string)
  ): Dataset[PostingRow] = {
    import spark.implicits._
    docs
      .select(explode(graft.functions.TextAnalysis.tokens(col("text"))).as("tok"),
        col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PostingState, PostingRow](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (tok: String, rows: Iterator[(String, Long)], state: GroupState[PostingState]) =>
        val perDoc = rows.toSeq.groupBy(_._2).view.mapValues(_.size.toLong)
          .toSeq.sortBy(_._1)
        var st = state.getOption.getOrElse(PostingState(0L, 0L, Nil))
        perDoc.foreach { case (docId, tf) =>
          st = PostingState(st.df + 1, st.tfTotal + tf,
            (st.head :+ docId).sorted.take(10))
        }
        state.update(st)
        Iterator.single(PostingRow(tok, st.df, st.tfTotal, st.head.mkString(",")))
      }
  }

  final case class CellState(counts: Map[String, Long])
  final case class CellRow(priority: String, rf: String, cum: Long)

  /** Streaming contingency-table maintenance — the streaming face of
    * `x_chi2_independence`: per-priority state is the (return-flag → count)
    * map (≤ flag-cardinality longs — SCHEMA-bounded, never data-bounded),
    * and each micro-batch emits the touched priority's cumulative cell
    * snapshot. Keying by priority keeps the state machine distributed (the
    * ewmaStream 5-key precedent) — nothing funnels through a single group.
    * The χ² statistic itself is the batch query's 15-row tail: recompute it
    * per trigger from the emitted cells (foreachBatch or the downstream
    * job); cells equal ⇒ statistic equal, which is what the spec pins.
    */
  def chi2CellsStream(
      spark: SparkSession,
      pairs: DataFrame // (priority string, rf string)
  ): Dataset[CellRow] = {
    import spark.implicits._
    pairs
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CellState, CellRow](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (pri: String, rows: Iterator[(String, String)], state: GroupState[CellState]) =>
        var m = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
        rows.foreach { case (_, rf) => m = m.updated(rf, m.getOrElse(rf, 0L) + 1L) }
        state.update(CellState(m))
        m.toSeq.sortBy(_._1).map { case (rf, c) => CellRow(pri, rf, c) }.iterator
      }
  }

  final case class EwmaState(e: Long, init: Boolean)
  final case class EwmaRow(priority: String, day: String, n: Long, ewma_milli: Long, is_anomaly: Long)

  /** Streaming EWMA drift/anomaly tracking — the continuous face of the
    * batch `x_ewma_anomaly` recurrence (e ← (4e + 1000x)/5, truncating):
    * per-key state is ONE smoothed long; each micro-batch's days fold in
    * ascending-day order and emit their (ewma, anomaly-flag) rows. Assumes
    * day-at-a-time ingest in day order per key (batches may carry many days
    * — they sort within the batch; a day never splits across batches), the
    * monitoring-pipeline contract. Streaming-vs-batch equality across a
    * multi-batch replay is pinned in RainStormStreamingSpec.
    */
  def ewmaStream(
      spark: SparkSession,
      daily: DataFrame // (priority string, day string, n long)
  ): Dataset[EwmaRow] = {
    import spark.implicits._
    daily
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (p: String, rows: Iterator[(String, String, Long)], state: GroupState[EwmaState]) =>
        val batch = rows.toSeq.sortBy(_._2)
        var st    = state.getOption.getOrElse(EwmaState(0L, false))
        val out = batch.map { case (_, day, n) =>
          val anom =
            if (!st.init) 0L
            else if (1000 * n > 2 * st.e || 2000 * n < st.e) 1L
            else 0L
          st = EwmaState(if (!st.init) 1000 * n else (4 * st.e + 1000 * n) / 5, init = true)
          EwmaRow(p, day, n, st.e, anom)
        }
        state.update(st)
        out.iterator
      }
  }

  /** Streaming CUSUM changepoint — the streaming face of
    * `x_cusum_changepoint`, completing the EWMA/CUSUM monitoring pair
    * ([[ewmaStream]] is the spike gate; this is the sustained-shift chart).
    * The batch query derives its in-control mean μ from the series' first
    * `warmup` days and applies it to ALL rows including the warmup itself,
    * so the streaming face buffers the warmup rows (BOUNDED state: ≤ warmup
    * (day, n) pairs + two longs), computes μ when the window fills, emits
    * the buffered rows' statistics in one burst, and from then on folds
    * each arrival in O(1) exactly like the batch recurrence — each
    * (priority, day) emits exactly once, after μ is known. A series that
    * never reaches `warmup` days holds its rows (in streaming the series
    * has not ended — that is the semantics, not a loss). A key that stops
    * arriving before its warmup fills would pin its buffer in the state
    * store forever (r14 advice), so `idleTtl = Some("30 days")` arms a
    * processing-time timeout that expires an idle key's state — a
    * late-resuming series then re-warms from scratch (documented monitoring
    * semantics: a chart silent for the TTL restarts its baseline). The TTL
    * is opt-in because an armed ProcessingTimeTimeout makes the engine
    * trigger continuous timeout-check batches under the default ASAP
    * trigger — production deployments pair it with a real
    * `Trigger.ProcessingTime`; `processAllAvailable`-style test harnesses
    * leave it off. Ordering contract as [[ewmaStream]]: per-batch sort,
    * in-order across batches.
    */
  final case class CusumState(buf: Seq[(String, Long)], mu: Long, carry: Long, ready: Boolean)
  final case class CusumRow(priority: String, day: String, n: Long, cusumMilli: Long, alarm: Long)

  def cusumStream(
      spark: SparkSession,
      daily: DataFrame, // (priority string, day string, n long)
      warmup: Int = 28,
      idleTtl: Option[String] = None
  ): Dataset[CusumRow] = {
    import spark.implicits._
    daily
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Update(),
        if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout
      ) { (p: String, rows: Iterator[(String, String, Long)], state: GroupState[CusumState]) =>
        if (state.hasTimedOut) {
          // Idle key: expire the (possibly never-completing) warmup buffer —
          // the state store must not grow with dead series.
          state.remove()
          Iterator.empty
        } else {
        var st  = state.getOption.getOrElse(CusumState(Vector.empty, 0L, 0L, ready = false))
        val out = scala.collection.mutable.ArrayBuffer.empty[CusumRow]
        def emit(day: String, n: Long): Unit = {
          val sPre  = math.max(0L, st.carry + (1000 * n - st.mu - st.mu / 20))
          val alarm = if (sPre > st.mu) 1L else 0L
          out += CusumRow(p, day, n, sPre, alarm)
          st = st.copy(carry = if (alarm == 1L) 0L else sPre)
        }
        rows.toSeq.sortBy(_._2).foreach { case (_, day, n) =>
          if (st.ready) emit(day, n)
          else {
            val buf = st.buf :+ (day -> n)
            if (buf.size == warmup) {
              val mu = buf.map(_._2 * 1000L).sum / buf.length
              st = CusumState(Vector.empty, mu, 0L, ready = true)
              buf.foreach { case (d, nn) => emit(d, nn) }
            } else st = st.copy(buf = buf)
          }
        }
        state.update(st)
        idleTtl.foreach(state.setTimeoutDuration)
        out.iterator
        }
      }
  }

  final case class KsState(hist: Map[Long, Long])
  final case class KsRow(grp: String, n_stream: Long, d_ppm: Long, drifted: Long)

  /** Streaming two-sample Kolmogorov–Smirnov drift vs a FIXED reference
    * distribution — the streaming face of `x_ks_drift`, completing the
    * monitoring family's drift pair (ewma/cusum watch a MEAN; this watches
    * the whole SHAPE of an arriving metric against a reference shard). Keyed
    * by group (the ewmaStream 5-key precedent — nothing funnels through one
    * task); per-key state is the arriving-value HISTOGRAM, bounded by value
    * cardinality, not data (the integral-cents monitoring contract — the
    * quantileBucketMap bound: ≤ ~49 002 entries/group on this metric
    * domain), exactly like the reference CDF passed in `ref`, which is the
    * same bounded histogram persisted from the reference shard (the
    * AnnIndex/TextIndex model-state serving pattern). Each micro-batch
    * folds its arrivals and emits the group's cumulative KS readout: the
    * exact cross-multiplied integer D numerator (BigInt — no rationals, no
    * IEEE), d_ppm, and the α = 0.05 gate (the same 1.358² ppm literal as
    * the batch face). n_stream is monotone per key, so a replay's final
    * snapshot is its max-n_stream row — RainStormStreamingSpec pins a split
    * replay's final snapshot equal to the batch face.
    */
  def ksStream(
      spark: SparkSession,
      arrivals: DataFrame, // (grp string, cents long)
      ref: Map[String, Map[Long, Long]] // per-group reference value histogram
  ): Dataset[KsRow] = {
    import spark.implicits._
    histogramFold(spark, arrivals, ref) { (grp, m, rh, nS, nR) =>
      if (nS == 0L || nR == 0L) KsRow(grp, nS, 0L, 0L)
      else {
        val support = (m.keySet ++ rh.keySet).toArray.sorted
        var cs = 0L
        var cr = 0L
        var dNum = BigInt(0)
        support.foreach { v =>
          cs += m.getOrElse(v, 0L)
          cr += rh.getOrElse(v, 0L)
          val dev = (BigInt(cs) * nR - BigInt(cr) * nS).abs
          if (dev > dNum) dNum = dev
        }
        val dPpm = (dNum * 1000000 / (BigInt(nS) * nR)).toLong
        val drifted =
          if (dNum * dNum * 1000000 > BigInt(1844164) * (nS + nR) * nS * nR) 1L
          else 0L
        KsRow(grp, nS, dPpm, drifted)
      }
    }
  }

  /** The fold under [[ksStream]] and [[mannWhitneyStream]]: per group, the
    * arriving-value histogram kept in state and grown by each micro-batch's
    * arrivals, then one `readout` row of (group, arrival histogram,
    * reference histogram, their totals nS and nR). The reference map can
    * run to ~245k entries across groups (≤ ~49 002 per group), so it ships
    * once per executor as a broadcast, not once per task in the closure
    * (the AnnIndex model-state serving pattern).
    */
  private def histogramFold[R: Encoder](
      spark: SparkSession, arrivals: DataFrame, ref: Map[String, Map[Long, Long]])(
      readout: (String, Map[Long, Long], Map[Long, Long], Long, Long) => R): Dataset[R] = {
    import spark.implicits._
    val refBc = spark.sparkContext.broadcast(ref)
    arrivals
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KsState, R](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (grp: String, rows: Iterator[(String, Long)], state: GroupState[KsState]) =>
        var m = state.getOption.map(_.hist).getOrElse(Map.empty[Long, Long])
        rows.foreach { case (_, c) => m = m.updated(c, m.getOrElse(c, 0L) + 1L) }
        state.update(KsState(m))
        val rh = refBc.value.getOrElse(grp, Map.empty[Long, Long])
        Iterator.single(readout(grp, m, rh, m.valuesIterator.sum, rh.valuesIterator.sum))
      }
  }

  final case class MwRow(
      grp: String, n_stream: Long, u_a_x2: Long, z_milli: Long, significant: Long)

  /** Streaming Mann–Whitney U vs a FIXED reference distribution — the
    * incremental face of `x_mannwhitney_u`, completing the rank-statistics
    * family's batch/streaming symmetry (the ksStream precedent, r15 verdict
    * item #7): where ksStream watches the SHAPE of an arriving metric, this
    * watches its stochastic ORDER — "are today's arrivals systematically
    * larger than the reference shard's?" — with no normality assumption.
    *
    * Same state contract as [[ksStream]]: keyed by group, per-key state is
    * the arriving-value HISTOGRAM (bounded by value cardinality, never rows
    * — the integral-cents monitoring contract), and the reference histogram
    * ships once per executor as a broadcast. Each micro-batch folds its
    * arrivals and emits the group's cumulative readout: the doubled U
    * statistic of the STREAM arm (exact integers via the same
    * 2·R = Σ_v s(v)·(2·cum_before + t(v) + 1) histogram identity as the
    * batch face — BigInt internally, published BIGINT: exact while
    * n_s·n_r < 2⁶³, i.e. ~3×10⁹ rows per arm per GROUP, far past any
    * tested scale), and the tie-corrected asymptotic z in the IDENTICAL
    * IEEE expression shape as `RankStats.zShape` so a DuckDB oracle replays
    * it bit-exactly. n_stream is monotone per key, so a replay's final
    * snapshot is its max-n_stream row — RainStormStreamingSpec pins a split
    * replay's final snapshot equal to the batch face.
    */
  def mannWhitneyStream(
      spark: SparkSession,
      arrivals: DataFrame, // (grp string, cents long)
      ref: Map[String, Map[Long, Long]] // per-group reference value histogram
  ): Dataset[MwRow] = {
    import spark.implicits._
    histogramFold(spark, arrivals, ref) { (grp, m, rh, nS, nR) =>
      // Histogram identity for the stream arm's doubled rank sum; exact
      // integers (BigInt) until the one IEEE z ratio, whose every double
      // op mirrors RankStats.zShape term-for-term (IEEE ops are correctly
      // rounded, so same shape => same bits as the oracle).
      val support = (m.keySet ++ rh.keySet).toArray.sorted
      var cb    = 0L
      var r1x2  = BigInt(0)
      var ties  = BigInt(0)
      support.foreach { v =>
        val sv = m.getOrElse(v, 0L)
        val rv = rh.getOrElse(v, 0L)
        val t  = sv + rv
        r1x2 += BigInt(sv) * (2L * cb + t + 1L)
        ties += BigInt(t) * t * t - t
        cb += t
      }
      // longValueExact throws ArithmeticException on overflow — loud like
      // the oracle face's ANSI CAST(... AS BIGINT), never a silent wrap.
      val u2       = (r1x2 - BigInt(nS) * (nS + 1L)).bigInteger.longValueExact()
      val tieCubes = ties.bigInteger.longValueExact()
      val naD = nS.toDouble
      val nbD = nR.toDouble
      val nd  = (nS + nR).toDouble
      val z =
        if (nS == 0L || nR == 0L || nS + nR < 2L) 0.0
        else {
          val den = naD * nbD *
            ((nd + 1.0) - tieCubes.toDouble / (nd * (nd - 1.0))) / 3.0
          if (den <= 0.0) 0.0
          else (u2.toDouble - naD * nbD) / math.sqrt(den)
        }
      val zMilli = math.floor(z * 1000 + 0.5).toLong
      val sig    = if (math.abs(z) > 1.96) 1L else 0L
      MwRow(grp, nS, u2, zMilli, sig)
    }
  }

  /** Per-group Poisson-bootstrap state: 64 replicate fold tuples
    * (s1/n1/s0/n0 per replicate, index = replicate id) plus the unweighted
    * observed sums — FIXED size (64·4 + 5 longs) regardless of data, the
    * ewmaStream state contract.
    */
  final case class BootCiState(
      s1: Seq[Long], n1: Seq[Long], s0: Seq[Long], n0: Seq[Long],
      os1: Long, on1: Long, os0: Long, on0: Long, nEvents: Long)

  final case class BootCiRow(
      grp: String, n_events: Long, k_designs: Long, obs_diff_micro: Long,
      ci_lo_micro: Long, ci_hi_micro: Long, significant: Long)

  /** Poisson(1) inverse-CDF thresholds over a 31-bit uniform — the SAME
    * fixed integer literals as `RankStats.poissonWt`, so both engines draw
    * identical weights from identical hash values. weight(hv) = #thresholds
    * ≤ hv (capped at 9).
    */
  private val poissonThresholds = Array(
    790015083L, 1580030167L, 1975037709L, 2106706890L, 2139624185L,
    2146207644L, 2147304887L, 2147461637L, 2147481230L)

  private val M31 = 2147483647L

  /** Floor division matching DuckDB `//` (BigInt `/` truncates toward zero;
    * the readout must floor so a negative mean-diff rounds identically on
    * both engines).
    */
  private def bigFloorDiv(a: BigInt, b: BigInt): BigInt = {
    val q = a / b
    if ((a % b).signum != 0 && a.signum * b.signum < 0) q - 1 else q
  }

  /** Streaming Poisson-bootstrap 95% CI for the A/B arm mean-value
    * difference — the arriving-data face of `x_bootstrap_ci`, completing
    * the experimentation family's third batch/streaming pair (KS watches
    * shape, Mann–Whitney watches order, this watches the EFFECT-SIZE
    * INTERVAL as data lands). Per the Chamandy et al. 2012 design the
    * Poisson bootstrap needs no sampling pass and no global coordination:
    * replicate s re-weights every arriving row independently by a
    * deterministic Poisson(1) draw from the row's stable key (the
    * `x_bootstrap_ci` mixer on event_id, weights via the shared integer
    * thresholds), so each of the 64 replicate (Σwt·cents, Σwt) pairs per
    * arm is a PURE FOLD — per-key state is 64 fixed tuples plus the
    * unweighted observed sums, never a row of data (the ewmaStream shape).
    * Granularity: per event_type group, per EVENT (the arriving unit —
    * "mean value per event" — where the batch face bootstraps per USER;
    * the ksStream precedent of the incremental face reading per-group).
    *
    * Exact integers end to end: fold sums are overflow-checked longs
    * (Math.addExact — loud like the oracle's ANSI casts), the readout
    * v_s = (s1·10⁶) fdiv n1 − (s0·10⁶) fdiv n0 runs in BigInt with FLOOR
    * division (DuckDB `//` semantics) and publishes via longValueExact,
    * and the CI is the order statistics of the sorted ≤64-element replicate
    * array at ranks (k·25 div 1000)+1 and k − (k·25 div 1000) — identical
    * to the batch face. n_events is monotone per key, so a replay's final
    * snapshot is its max-n row — RainStormStreamingSpec pins a split
    * replay's final snapshot equal to the batch face.
    */
  def bootstrapCiStream(
      spark: SparkSession,
      arrivals: DataFrame // (grp string, ek long, arm long, cents long)
  ): Dataset[BootCiRow] = {
    import spark.implicits._
    arrivals
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BootCiState, BootCiRow](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (grp: String, rows: Iterator[(String, Long, Long, Long)],
           state: GroupState[BootCiState]) =>
        val st = state.getOption.getOrElse(BootCiState(
          Seq.fill(64)(0L), Seq.fill(64)(0L), Seq.fill(64)(0L), Seq.fill(64)(0L),
          0L, 0L, 0L, 0L, 0L))
        val s1 = st.s1.toArray; val n1 = st.n1.toArray
        val s0 = st.s0.toArray; val n0 = st.n0.toArray
        var os1 = st.os1; var on1 = st.on1
        var os0 = st.os0; var on0 = st.on0
        var nEv = st.nEvents
        rows.foreach { case (_, ek, arm, cents) =>
          nEv += 1L
          if (arm == 1L) { os1 = Math.addExact(os1, cents); on1 += 1L }
          else { os0 = Math.addExact(os0, cents); on0 += 1L }
          var s = 0
          while (s < 64) {
            val a  = (2246822519L * (2L * s + 5L)) % M31
            val w1 = (a * (ek % M31) + 15485863L * s) % M31
            val hv = (w1 * w1) % M31
            var wt = 0L
            while (wt < 9 && hv >= poissonThresholds(wt.toInt)) wt += 1L
            if (wt > 0L) {
              val d = Math.multiplyExact(wt, cents)
              if (arm == 1L) { s1(s) = Math.addExact(s1(s), d); n1(s) += wt }
              else { s0(s) = Math.addExact(s0(s), d); n0(s) += wt }
            }
            s += 1
          }
        }
        state.update(BootCiState(
          s1.toSeq, n1.toSeq, s0.toSeq, n0.toSeq, os1, on1, os0, on0, nEv))
        val vs = (0 until 64).iterator
          .filter(s => n0(s) > 0L && n1(s) > 0L)
          .map { s =>
            (bigFloorDiv(BigInt(s1(s)) * 1000000, BigInt(n1(s))) -
              bigFloorDiv(BigInt(s0(s)) * 1000000, BigInt(n0(s))))
              .bigInteger.longValueExact()
          }
          .toArray.sorted
        val k = vs.length.toLong
        val obs =
          if (on0 > 0L && on1 > 0L)
            (bigFloorDiv(BigInt(os1) * 1000000, BigInt(on1)) -
              bigFloorDiv(BigInt(os0) * 1000000, BigInt(on0)))
              .bigInteger.longValueExact()
          else 0L
        val lo = if (k > 0L) vs(((k * 25) / 1000).toInt) else 0L
        val hi = if (k > 0L) vs((k - 1L - (k * 25) / 1000).toInt) else 0L
        val sig = if (k > 0L && (lo > 0L || hi < 0L)) 1L else 0L
        Iterator.single(BootCiRow(grp, nEv, k, obs, lo, hi, sig))
      }
  }

  /** Streaming curation gate with IN-FLIGHT audit counters — the streaming
    * face of `x_observe_audit`: `observe` rides each micro-batch's existing
    * pass (CollectMetrics accumulators merged on task completion), and the
    * per-batch counter row surfaces on
    * `StreamingQueryProgress.observedMetrics("curation_gate")` — the
    * engine's own progress channel. No second scan of the batch, no side
    * sink, no state store entry: at 100 TB/day of stream traffic the audit
    * is free because it is the same pass that filters. Returns the GATED
    * stream (append-safe, row-local predicate); callers read the audit from
    * progress, exactly as a monitoring agent tails the progress JSON.
    * Counter names and gate thresholds match the batch face so the two are
    * comparable series.
    */
  def observeGateStream(docs: DataFrame): DataFrame =
    docs
      .observe("curation_gate",
        count(lit(1)).as("n_in"),
        sum(when(col("n_chars") < 150, 1L).otherwise(0L)).as("n_too_short"),
        sum(when(col("n_chars") > 400, 1L).otherwise(0L)).as("n_too_long"),
        sum(when(!col("lang").isin("en", "de", "es", "fr"), 1L).otherwise(0L)).as("n_bad_lang"))
      .filter(col("n_chars").between(150, 400) && col("lang").isin("en", "de", "es", "fr"))

  /** Generic 3-stage pipeline runner mirroring the `RainStorm op1 op2 src dest
    * num_tasks` terminal verb (`core_process_stream_DS.go:1645-1842`):
    * source → op1 (stateless transform) → shuffle on key → op2 (grouped agg),
    * checkpointed, dual console-visible/file sink. `numTasks` maps to
    * shuffle parallelism, set via spark.sql.shuffle.partitions at session
    * scope rather than per-query (Spark's planner owns task counts).
    */
  def run(
      spark: SparkSession,
      srcDir: String,
      op1: DataFrame => DataFrame,
      op2: DataFrame => DataFrame,
      checkpointDir: String,
      destDir: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    writeDest(op2(op1(source(spark, srcDir))), checkpointDir, destDir, trigger)
  }
}
