package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Offset-replay commit-log source: a DataSourceV2 micro-batch stream over a
  * TOPIC of append-only line files (its partitions), with RECORD offsets
  * (line numbers) as the streaming offset — the Kafka shape, minus the
  * broker. This is the offset-based exactly-once story the file source
  * cannot give (it tracks whole files, so an appended-to file is either
  * re-read entirely or missed):
  *
  *  - the load path names the partition set: the entries of its parent
  *    directory whose names match its last component as a glob. A `*.log`
  *    glob under a directory is a topic ([[CommitLogTopic.readStream]]); a
  *    plain file path is a single log, a topic of one partition
  *    ([[CommitLog.readStream]]);
  *  - the streaming offset is a `{partitionFile: lineCount}` map, serialized
  *    with sorted keys so offset equality is textual equality in the WAL;
  *  - `latestOffset` only advances over COMPLETE (newline-terminated) lines,
  *    so a torn append is never half-consumed;
  *  - Spark's offset WAL records each planned `[start, end)` range per file
  *    before execution; after a mid-batch crash the SAME ranges replay
  *    deterministically, which with an idempotent sink (this file's own,
  *    [[CommitLog.commitEpoch]], which RainStorm writes its dest through)
  *    is end-to-end exactly-once (RainStormStreamingSpec kills mid-offset
  *    and resumes);
  *  - appends to the SAME file after a restart are picked up from the last
  *    committed offset — seekable replay, not file-level dedup — and
  *    partition files appearing after the stream starts are read from 0.
  *
  * Admission control: `maxLinesPerTrigger` bounds each micro-batch like
  * Kafka's `maxOffsetsPerTrigger`, split across partitions PROPORTIONALLY to
  * their lag (floor division, remainder granted in sorted-name order) —
  * deterministic, and a hot partition cannot starve the others; with one
  * partition the end is `start + min(lag, budget)`. Trigger.AvailableNow is
  * supported by pinning the end offset at query start. Ranges split into up
  * to `splits` input partitions so a fat batch fans out across executors
  * (reference analog: the per-partition reads of
  * `core_process_stream_DS.go:443-721`'s TCP tuple stream, re-expressed as a
  * planned, replayable scan).
  *
  * Partition opens are O(gap-from-nearest-index-point): the producer writes
  * a `(lineCount, byteOffset)` entry to a `<path>.idx` sidecar per append
  * batch, and readers (and `latestOffset` polling) seek to the floor entry
  * before skipping lines. The sidecar is derived state that can only lag —
  * missing, stale, or torn entries degrade to a longer skip, never a wrong
  * position — so the replay contract is index-independent.
  */
class CommitLog extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CommitLog.schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("commit-log source needs a path: .load(path)"))
    new CommitLogTable(path)
  }
}

object CommitLog {
  val schema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Producer helper: append records as newline-terminated UTF-8 lines,
    * forced to disk before returning — a reader never sees a torn record
    * (values must not contain newlines; offsets are line numbers).
    *
    * Each append also records a `(lineCount, byteOffset)` entry in a
    * `<path>.idx` sidecar AFTER the data is durable, so readers seek to the
    * nearest indexed byte instead of skipping from the file head (the
    * production byte-index the class scaladoc used to defer). The sidecar is
    * strictly DERIVED state with a one-sided failure mode: it can only LAG
    * the log (crash between data force and index write, out-of-band
    * appends, a torn last line — all leave valid-but-stale entries), and
    * every consumer treats a missing/stale index as "seek less, skip more",
    * falling back to the head when absent. Correctness never depends on it.
    *
    * SINGLE-PRODUCER contract (the Kafka-partition rule: one leader writes a
    * partition's log): the `(lineCount, byteOffset)` entry is derived from a
    * pre-write size snapshot, so two producers appending to the SAME path
    * concurrently could record an entry whose line count maps to a byte
    * offset preceding interleaved foreign bytes. Multiple producers must
    * write DIFFERENT partition files of a topic; the one-sided "index can
    * only lag" failure mode holds per single-writer file.
    */
  def append(path: String, values: Seq[String]): Unit = {
    val p       = Paths.get(path)
    val preSize = if (Files.exists(p)) Files.size(p) else 0L
    appendAt(path, values, completePrefix(path, preSize)._1, preSize)
  }

  /** [[append]] onto a log whose `preBytes` bytes (its size before the
    * write) hold `preLines` complete lines, so the index entry needs no scan.
    */
  private def appendAt(path: String, values: Seq[String], preLines: Long, preBytes: Long): Unit = {
    require(values.forall(!_.contains("\n")), "commit-log records are single lines")
    if (values.isEmpty) return
    val written = appendForced(Paths.get(path), values.map(_ + "\n").mkString)
    Files.writeString(Paths.get(path + ".idx"),
      s"${preLines + values.size} ${preBytes + written}\n",
      StandardOpenOption.CREATE, StandardOpenOption.WRITE, StandardOpenOption.APPEND)
  }

  /** Append `text` durably: FileChannel write loop + force(true), so it is
    * on disk BEFORE the caller proceeds (`Files.writeString` gives no such
    * ordering — after an OS/power crash a later data append could survive
    * while an earlier protocol marker is lost, inverting the WAL contract).
    * Returns the bytes written.
    */
  private def appendForced(p: Path, text: String): Int = {
    val buf = java.nio.ByteBuffer.wrap(text.getBytes(StandardCharsets.UTF_8))
    val ch = java.nio.channels.FileChannel.open(
      p, StandardOpenOption.CREATE, StandardOpenOption.WRITE, StandardOpenOption.APPEND)
    try {
      while (buf.hasRemaining) ch.write(buf) // FileChannel.write may be short
      ch.force(true)
    } finally ch.close()
    buf.limit()
  }

  /** `(completeLines, byteEnd)` of the newline-terminated prefix of
    * `path`'s first `uptoBytes` bytes: the complete-line count AND the byte
    * offset just past the last `\n`, so a replayer can TRUNCATE a torn tail
    * instead of concatenating onto it. Index floor plus a bounded 64 KiB
    * tail scan (index entries are complete-line boundaries by the producer
    * protocol, so the floor is a safe scan start); a final partial line
    * contributes 0. `uptoBytes` past the end means the whole file; (0, 0)
    * for a missing log.
    */
  private[sources] def completePrefix(path: String, uptoBytes: Long): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return (0L, 0L)
    val upto     = math.min(uptoBytes, Files.size(p))
    val (l0, b0) = indexFloor(path, upto)
    val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.READ)
    try {
      ch.position(b0)
      var n         = l0
      var lastEnd   = b0
      var pos       = b0
      var remaining = upto - b0
      val buf = java.nio.ByteBuffer.allocate(64 * 1024)
      while (remaining > 0) {
        buf.clear()
        if (remaining < buf.capacity()) buf.limit(remaining.toInt)
        val read = ch.read(buf)
        if (read <= 0) remaining = 0
        else {
          var i = 0
          while (i < read) {
            if (buf.get(i) == '\n') { n += 1; lastEnd = pos + i + 1 }
            i += 1
          }
          pos += read
          remaining -= read
        }
      }
      (n, lastEnd)
    } finally ch.close()
  }

  /** Largest `(lines, bytes)` index entry with `bytes <= maxBytes` (and, when
    * `maxLines` is given, `lines <= maxLines`); (0, 0) when no usable entry.
    * Tolerates a missing sidecar, torn last lines, and entries beyond the
    * current file (an index ahead of a truncated log is simply unusable —
    * the bytes bound rejects it).
    */
  private[sources] def indexFloor(
      path: String, maxBytes: Long, maxLines: Long = Long.MaxValue): (Long, Long) = {
    val ip = Paths.get(path + ".idx")
    if (!Files.exists(ip)) (0L, 0L)
    else {
      var best = (0L, 0L)
      Files.readAllLines(ip, StandardCharsets.UTF_8).asScala.foreach { l =>
        l.trim.split(" ") match {
          case Array(ls, bs) if ls.forall(_.isDigit) && bs.forall(_.isDigit) =>
            val (lines, bytes) = (ls.toLong, bs.toLong)
            if (bytes <= maxBytes && lines <= maxLines && lines > best._1)
              best = (lines, bytes)
          case _ => () // torn or foreign line — ignore
        }
      }
      best
    }
  }

  /** Reader entry point for one log file of any name: `(offset long, value
    * string)` micro-batch stream.
    */
  def readStream(spark: SparkSession, path: String, maxLinesPerTrigger: Option[Long] = None): DataFrame =
    load(spark, path, maxLinesPerTrigger).select("offset", "value")

  /** The `(partition, offset, value)` stream over the partition files `path`
    * names (see the class scaladoc).
    */
  private[sources] def load(spark: SparkSession, path: String, maxLinesPerTrigger: Option[Long]): DataFrame = {
    val r = spark.readStream.format(classOf[CommitLog].getName)
    maxLinesPerTrigger.foreach(n => r.option("maxLinesPerTrigger", n.toString))
    r.load(path)
  }

  /** The directory holding the partition files `path` names. */
  private[sources] def partitionDir(path: String): Path =
    Option(Paths.get(path).getParent).getOrElse(Paths.get(""))

  /** The partition files `path` names: the entries of [[partitionDir]]
    * whose names match its last component as a glob, sorted by name (the
    * sort makes every budget split and offset serialization deterministic).
    */
  private[sources] def partitionFiles(path: String): Seq[String] = {
    val dir = partitionDir(path)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.newDirectoryStream(dir, Paths.get(path).getFileName.toString)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  private[sources] def offsetsToJson(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private val OffsetEntry = "\"([^\"]+)\"\\s*:\\s*(\\d+)"
  private val OffsetObject = s"\\{\\s*(?:$OffsetEntry\\s*(?:,\\s*$OffsetEntry\\s*)*)?\\}".r

  /** Parses [[offsetsToJson]]'s form and refuses any other: a bare line
    * number would otherwise parse as no offsets and replay every record.
    */
  private[sources] def offsetsFromJson(s: String): Map[String, Long] = {
    require(OffsetObject.matches(s.trim),
      s"""commit-log offsets are {"<file>":<line>} objects, got: $s""")
    OffsetEntry.r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** Number of COMPLETE (newline-terminated) records in the log — index
    * floor + bounded tail scan, so polling `latestOffset` stays cheap as the
    * log grows.
    */
  private[sources] def completeLines(path: String): Long = completePrefix(path, Long.MaxValue)._1

  /** Contiguous `[start, end)` line splits of one file's planned range, so
    * one fat batch fans out: at most 4, never below 256 lines a split, so
    * trivial batches stay single-task.
    */
  private[sources] def splits(start: Long, end: Long): Seq[(Long, Long)] =
    if (end <= start) Nil
    else {
      val n    = math.max(1L, math.min(4L, (end - start) / 256L)).toInt
      val step = (end - start + n - 1) / n
      (0 until n).map(i => (start + i * step, math.min(end, start + (i + 1) * step)))
        .filter { case (a, b) => b > a }
    }

  /** Sink entry point: exactly-once streaming write of a `value` string
    * column into the commit-log format (see [[CommitLogStreamingWrite]]).
    * `path` is a driver-visible POSIX path: the driver appends every epoch.
    * Append and update output modes are both accepted; update mode appends
    * each epoch's updated rows.
    */
  def writeStream(
      df: DataFrame, path: String, checkpointDir: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format(classOf[CommitLog].getName)
      .option("path", path)
      .option("checkpointLocation", checkpointDir)

  /** Driver-side epoch commit with CRASH-RESUMABLE exactly-once semantics.
    *
    * The protocol (an intent log, the classic write-ahead trick):
    *  1. `done <epoch>` already in `<path>.epochs` → the epoch fully
    *     committed earlier; return (Spark replays epochs after restarts —
    *     this is the idempotence path).
    *  2. Otherwise ensure an `intent <epoch> <startLine> <total>` entry
    *     (writing it durably BEFORE any data), then append the epoch's lines
    *     the previous attempt did NOT finish: the log's current complete
    *     line count minus startLine lines are already down, and an epoch's
    *     content is deterministic and ordered (partition id, then row
    *     order), so the resumed append writes byte-identical content into
    *     the gap — a crash at ANY point replays to exactly-one copy of
    *     every record, which plain append-after-check cannot give (a crash
    *     between data and marker would double-append).
    *  3. Record `done <epoch>`.
    *
    * Single committer per path (Spark runs one driver commit at a time; the
    * single-producer contract of [[append]] covers the rest), so the log's
    * complete prefix is read once per commit. The tasks return their rows
    * in their commit messages, so an epoch's rows reach the driver one
    * micro-batch at a time — bounded by the source's admission control —
    * and the tasks need no disk the driver can see.
    */
  private[graft] def commitEpoch(path: String, epochId: Long, parts: Seq[EpochRows]): Unit = {
    val epochsPath = Paths.get(path + ".epochs")
    val entries: Seq[String] =
      if (Files.exists(epochsPath))
        Files.readAllLines(epochsPath, StandardCharsets.UTF_8).asScala.toSeq
      else Seq.empty
    if (entries.contains(s"done $epochId")) return

    val lines = parts.sortBy(_.partitionId).flatMap(_.rows)
    val total = lines.size
    val (logLines, completeBytes) = completePrefix(path, Long.MaxValue)
    val startLine = entries.reverseIterator
      .map(_.trim.split(" "))
      .collectFirst { case Array("intent", e, s, n) if e == epochId.toString =>
        require(n.toLong == total,
          s"epoch $epochId replayed with different content: $total rows, intent $n")
        s.toLong
      }
      .getOrElse {
        // Forced BEFORE any data append — the WAL ordering the protocol
        // depends on (a surviving data append with a lost intent would
        // recompute startLine from the extended log and double-append).
        appendForced(epochsPath, s"intent $epochId $logLines $total\n")
        logLines
      }

    val already = logLines - startLine
    require(already >= 0 && already <= total,
      s"foreign append interleaved with epoch $epochId replay " +
        s"(log at $logLines lines, intent start $startLine, total $total)")
    if (already < total) {
      // Torn-tail repair: a crash mid-append can leave a partial last line
      // that the complete prefix excludes; appending the gap onto those
      // bytes would merge the torn fragment and the replayed record into one
      // corrupted line. Truncate to the last complete-line boundary first.
      val p = Paths.get(path)
      if (Files.exists(p) && Files.size(p) > completeBytes) {
        val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.WRITE)
        try { ch.truncate(completeBytes); ch.force(true) } finally ch.close()
      }
      appendAt(path, lines.drop(already.toInt), logLines, completeBytes)
    }
    appendForced(epochsPath, s"done $epochId\n")
  }
}

/** Reader entry point for a topic directory: the `(partition, offset,
  * value)` stream over its `*.log` partition files.
  */
object CommitLogTopic {
  def readStream(spark: SparkSession, dir: String, maxLinesPerTrigger: Option[Long] = None): DataFrame =
    CommitLog.load(spark, s"$dir/*.log", maxLinesPerTrigger)
}

/** One task's rows of an epoch, returned to the driver in its commit message. */
private[graft] case class EpochRows(partitionId: Int, rows: Seq[String])
  extends WriterCommitMessage

/** Exactly-once DSv2 streaming SINK for the commit-log format — the write
  * half of the Kafka-shaped story ([[CommitLog]] is the read half): tasks
  * return their rows in their commit messages, and the driver commit
  * appends them through the intent-log protocol of [[CommitLog.commitEpoch]],
  * so an epoch replayed after ANY crash point lands exactly once. Expects a
  * `value` string column (the Kafka sink convention).
  */
private[sources] class CommitLogStreamingWrite(path: String, valueIdx: Int)
  extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new CommitLogWriterFactory(valueIdx)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    CommitLog.commitEpoch(path, epochId, messages.toSeq.collect { case m: EpochRows => m })

  // Nothing reached the log before commit, so an aborted epoch leaves nothing.
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class CommitLogWriterFactory(valueIdx: Int)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new CommitLogDataWriter(valueIdx, partitionId)
}

/** Task-side writer: collects the partition's values for its commit message
  * (a retried task collects afresh; the driver gets the successful attempt's).
  */
private[sources] class CommitLogDataWriter(valueIdx: Int, partitionId: Int)
  extends DataWriter[InternalRow] {

  private val rows = Vector.newBuilder[String]

  override def write(record: InternalRow): Unit = {
    val v = record.getUTF8String(valueIdx).toString
    require(!v.contains("\n"), "commit-log records are single lines")
    rows += v
  }

  override def commit(): WriterCommitMessage = EpochRows(partitionId, rows.result())

  override def abort(): Unit = ()

  override def close(): Unit = ()
}

/** The commit log at `path`: read as the stream over the partition files it
  * names, written (as a sink) by appending to the one file it is.
  */
private[sources] class CommitLogTable(path: String) extends Table with SupportsRead with SupportsWrite {

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    require(schema.fieldNames.contains("value") &&
        schema(schema.fieldIndex("value")).dataType == StringType,
      s"commit-log sink expects a `value` string column, got ${schema.simpleString}")
    val vIdx = schema.fieldIndex("value")
    new WriteBuilder with SupportsStreamingUpdateAsAppend {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new CommitLogStreamingWrite(path, vIdx)
      }
    }
  }
  override def name(): String = s"commitlog(`$path`)"
  override def schema(): StructType = CommitLog.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxPerTrigger = Option(options.get("maxLinesPerTrigger")).map(_.toLong)
    () => new Scan {
      override def readSchema(): StructType = CommitLog.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new CommitLogMicroBatchStream(path, maxPerTrigger)
    }
  }
}

private[sources] case class CommitLogOffset(lines: Map[String, Long]) extends Offset {
  override def json(): String = CommitLog.offsetsToJson(lines)
}

private[sources] class CommitLogMicroBatchStream(path: String, maxPerTrigger: Option[Long])
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val dir = CommitLog.partitionDir(path)

  // Set once at query start under Trigger.AvailableNow: the stream drains to
  // exactly this point and stops, however many appends race in afterwards.
  @volatile private var availableNowCap: Option[Map[String, Long]] = None

  private def available(): Map[String, Long] =
    CommitLog.partitionFiles(path)
      .map(f => f -> CommitLog.completeLines(dir.resolve(f).toString)).toMap

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(available())

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s     = start.asInstanceOf[CommitLogOffset].lines
    val avail = availableNowCap.getOrElse(available())
    val lags = avail.toSeq.sortBy(_._1).map { case (f, av) =>
      (f, s.getOrElse(f, 0L), math.max(0L, av - s.getOrElse(f, 0L)))
    }
    val total = lags.map(_._3).sum
    val end = limit match {
      case mr: ReadMaxRows if total > mr.maxRows() =>
        // Proportional-to-lag split, deterministic: floor share first, then
        // the remainder one line at a time in sorted-name order.
        val budget = mr.maxRows()
        val floors = lags.map { case (f, st, lag) => (f, st, lag, budget * lag / total) }
        var left   = budget - floors.map(_._4).sum
        floors.map { case (f, st, lag, share) =>
          val extra = if (left > 0 && share < lag) { left -= 1; 1L } else 0L
          f -> (st + math.min(lag, share + extra))
        }.toMap
      case _ => lags.map { case (f, st, lag) => f -> (st + lag) }.toMap
    }
    // Keys only ever accumulate: a partition file deleted out-of-band keeps
    // its committed count, so restarts can't re-plan vanished ranges from 0.
    CommitLogOffset(s ++ end)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-controlled source: latestOffset(start, limit)")

  override def reportLatestOffset(): Offset = CommitLogOffset(available())

  override def initialOffset(): Offset = CommitLogOffset(Map.empty)

  override def deserializeOffset(json: String): Offset =
    CommitLogOffset(CommitLog.offsetsFromJson(json))

  // The log is the durable store; nothing to release on commit.
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CommitLogOffset].lines
    val e = end.asInstanceOf[CommitLogOffset].lines
    e.toSeq.sortBy(_._1).flatMap { case (f, endLine) =>
      CommitLog.splits(s.getOrElse(f, 0L), endLine)
        .map { case (a, b) => CommitLogInputPartition(dir.resolve(f).toString, f, a, b): InputPartition }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = CommitLogReaderFactory
}

private[sources] case class CommitLogInputPartition(
    path: String, part: String, start: Long, end: Long) extends InputPartition

/** Seek-and-scan over one file's planned `[start, end)` line range.
  *
  * Seeks to the nearest index point at-or-below the start offset, then skips
  * only the gap — O(gap) per partition open instead of O(offset). A
  * missing/stale sidecar degrades to the head (floor (0,0)), never to a
  * wrong position: index entries only ever lag the log. The byte bound is
  * the CURRENT file size (0 if the log vanished), so an index entry
  * surviving a truncated/replaced log can't position past EOF and silently
  * read zero rows — truncation below a planned offset surfaces as the
  * explicit corruption error in [[next]] instead.
  */
private[sources] final class CommitLogPartitionReader(p: CommitLogInputPartition)
  extends PartitionReader[InternalRow] {
  private val (idxLines, idxBytes) = CommitLog.indexFloor(
    p.path,
    maxBytes = if (Files.exists(Paths.get(p.path))) Files.size(Paths.get(p.path)) else 0L,
    maxLines = p.start)
  private val channel = java.nio.channels.FileChannel.open(
    Paths.get(p.path), StandardOpenOption.READ)
  private val reader = {
    channel.position(idxBytes)
    new java.io.BufferedReader(
      java.nio.channels.Channels.newReader(channel, StandardCharsets.UTF_8))
  }
  private val partUtf = UTF8String.fromString(p.part)
  private var line: Long = idxLines
  private var current: String = _
  while (line < p.start && reader.readLine() != null) line += 1

  override def next(): Boolean =
    if (line >= p.end) false
    else {
      current = reader.readLine()
      // The planned range only covers lines complete at planning time, so
      // a null here means the file shrank — corruption, not laziness.
      if (current == null)
        throw new IllegalStateException(
          s"commit log ${p.path} truncated below planned offset ${p.end} (at $line)")
      line += 1
      true
    }

  override def get(): InternalRow = InternalRow(partUtf, line - 1, UTF8String.fromString(current))
  override def close(): Unit = reader.close()
}

private[sources] object CommitLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CommitLogPartitionReader(partition.asInstanceOf[CommitLogInputPartition])
}
