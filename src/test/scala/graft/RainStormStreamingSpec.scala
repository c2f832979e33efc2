package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.RainStorm
import graft.sources.{CommitLog, EpochRows}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Streaming parity tests: word-count running aggregate vs the batch oracle,
  * and the reference's `dokill` fault-injection reproduced as kill/restart
  * against the same checkpoint (exactly-once: final state identical).
  */
class RainStormStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Write the documents' texts as a small multi-file text corpus. */
  private def writeCorpus(): String = {
    val dir = tmpDir("corpus")
    Tables.documents(spark, TestSpark.sf0001)
      .select(col("text"))
      .repartition(4)
      .write.mode("overwrite").text(dir)
    dir
  }

  /** A foreachBatch sink that commits each batch, as JSON lines, to the
    * commit log at `log` through the epoch commit RainStorm's dest uses.
    */
  private def logSink(log: String)(batch: DataFrame, id: Long): Unit =
    CommitLog.commitEpoch(log, id, Seq(EpochRows(0, batch.toJSON.collect().toSeq)))

  private def batchWordCount(srcDir: String) =
    spark.read.text(srcDir)
      .select(explode(split(col("value"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("streaming word count matches batch oracle") {
    val src  = writeCorpus()
    val dest = tmpDir("dest")
    val q = RainStorm.wordCount(spark, src, tmpDir("ckpt"), dest)
    q.awaitTermination(120000)
    val streamed = RainStorm.quantify(spark, dest)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchWordCount(src))
  }

  test("kill/restart against same checkpoint is exactly-once (dokill analog)") {
    val src  = writeCorpus()
    val dest = tmpDir("dest")
    val ckpt = tmpDir("ckpt")
    // Phase 1: process only part of the input (1 file per micro-batch), then
    // kill the query mid-stream.
    val q1 = RainStorm.wordCount(spark, src, ckpt, dest, maxFilesPerTrigger = Some(1),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    var waited = 0
    while (q1.recentProgress.length < 2 && waited < 60000) { Thread.sleep(200); waited += 200 }
    q1.stop() // the kill
    // Phase 2: restart from the same checkpoint, drain the rest.
    val q2 = RainStorm.wordCount(spark, src, ckpt, dest)
    q2.awaitTermination(120000)
    val streamed = RainStorm.quantify(spark, dest)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchWordCount(src), "final state after kill/restart must equal batch oracle")
  }

  test("an epoch replayed after its output landed appends nothing to the dest log") {
    val src  = writeCorpus()
    val dest = tmpDir("dest")
    val ckpt = tmpDir("ckpt")
    RainStorm.wordCount(spark, src, ckpt, dest, maxFilesPerTrigger = Some(1)).awaitTermination(120000)
    val log = Paths.get(RainStorm.destLog(dest))
    val landed = Files.readAllLines(log).size
    // The crash point: the last epoch's output landed, its offset commit did not.
    val last = new java.io.File(s"$ckpt/commits").list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(Paths.get(s"$ckpt/commits/$last"))
    Files.delete(Paths.get(s"$ckpt/commits/.$last.crc"))
    RainStorm.wordCount(spark, src, ckpt, dest, maxFilesPerTrigger = Some(1)).awaitTermination(120000)
    assert(Files.exists(Paths.get(s"$ckpt/commits/$last")), "the restart must re-run the uncommitted epoch")
    val streamed = RainStorm.quantify(spark, dest)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchWordCount(src))
    assert(Files.readAllLines(log).size == landed, "the replayed epoch must not append again")
    assert(Files.readAllLines(Paths.get(s"$log.epochs")).asScala.count(_ == s"done $last") == 1)
  }

  test("commit-log source: offset-based resume is exactly-once across a mid-batch crash AND same-file appends") {
    import org.apache.spark.sql.streaming.Trigger
    val log  = tmpDir("cl") + "/events.log"
    val dest = tmpDir("cl_dest") + "/dest.log"
    val ckpt = tmpDir("cl_ckpt")
    CommitLog.append(log, (0 until 50).map(i => s"rec$i"))

    // Sink that crashes mid-run: batch 2 throws AFTER committing its output —
    // the worst case (output landed, offset never committed). On replay the
    // same [start, end) range re-runs as the same epoch, which the dest's
    // intent log already holds as done, so nothing is appended twice.
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def crashingSink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      logSink(dest)(batch, id)
      if (id == 2 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash after partial write")
    }
    def start(sink: (org.apache.spark.sql.DataFrame, Long) => Unit) =
      CommitLog.readStream(spark, log, maxLinesPerTrigger = Some(10L))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()

    val q1 = start(crashingSink)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashed.get, "the injected crash must have fired")

    // Records appended to the SAME file while the query is down — the case
    // the whole-file source cannot replay from an offset.
    CommitLog.append(log, (50 until 100).map(i => s"rec$i"))

    val q2 = start(logSink(dest))
    q2.awaitTermination(120000)

    val out = spark.read.schema("offset LONG, value STRING").json(dest)
      .select(col("offset"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.length == 100, s"exactly-once: expected 100 rows, got ${out.length}")
    assert(out.map(_._1).toSet == (0L until 100L).toSet, "offsets must be gapless and unduplicated")
    assert(out.toMap.forall { case (o, v) => v == s"rec$o" }, "every offset must carry its own record")
  }

  test("commit-log TOPIC: composite per-partition offsets replay a 2-partition crash gaplessly") {
    import graft.sources.CommitLogTopic
    import org.apache.spark.sql.streaming.Trigger
    val dir  = tmpDir("topic")
    val dest = tmpDir("topic_dest") + "/dest.log"
    val ckpt = tmpDir("topic_ckpt")
    CommitLog.append(s"$dir/p0.log", (0 until 30).map(i => s"a$i"))
    CommitLog.append(s"$dir/p1.log", (0 until 20).map(i => s"b$i"))

    // Crash AFTER batch 2's output lands (offset never committed) — replay
    // must re-run the same composite [start, end) per partition file.
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def crashingSink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      logSink(dest)(batch, id)
      if (id == 2 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash after partial write")
    }
    def start(sink: (org.apache.spark.sql.DataFrame, Long) => Unit) =
      CommitLogTopic.readStream(spark, dir, maxLinesPerTrigger = Some(8L))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()

    val q1 = start(crashingSink)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashed.get, "the injected crash must have fired")

    // Appends to BOTH partition files while the query is down, plus a THIRD
    // partition appearing mid-stream (the add-partitions case).
    CommitLog.append(s"$dir/p0.log", (30 until 45).map(i => s"a$i"))
    CommitLog.append(s"$dir/p1.log", (20 until 40).map(i => s"b$i"))
    CommitLog.append(s"$dir/p2.log", (0 until 10).map(i => s"c$i"))

    val q2 = start(logSink(dest))
    q2.awaitTermination(120000)

    val out = spark.read.schema("partition STRING, offset LONG, value STRING").json(dest)
      .select(col("partition"), col("offset"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.length == 95, s"exactly-once: expected 45+40+10 rows, got ${out.length}")
    val byPart = out.groupBy(_._1)
    assert(byPart.keySet == Set("p0.log", "p1.log", "p2.log"))
    assert(byPart("p0.log").map(_._2).toSet == (0L until 45L).toSet, "p0 offsets gapless")
    assert(byPart("p1.log").map(_._2).toSet == (0L until 40L).toSet, "p1 offsets gapless")
    assert(byPart("p2.log").map(_._2).toSet == (0L until 10L).toSet, "late partition from 0")
    val prefix = Map("p0.log" -> "a", "p1.log" -> "b", "p2.log" -> "c")
    assert(out.forall { case (p, o, v) => v == s"${prefix(p)}$o" },
      "every (partition, offset) must carry its own record")
  }

  test("commit-log source: a single log of any name streams only its own records") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("clsingle")
    CommitLog.append(s"$dir/events.txt", (0 until 12).map(i => s"e$i"))
    CommitLog.append(s"$dir/a.log", Seq("a0", "a1"))
    CommitLog.append(s"$dir/b.log", Seq("b0"))
    val q = CommitLog.readStream(spark, s"$dir/events.txt", maxLinesPerTrigger = Some(5L))
      .writeStream.format("memory").queryName("cl_single")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("cl_single")
    assert(out.columns.toSeq == Seq("offset", "value"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      (0 until 12).map(i => (i.toLong, s"e$i")), "only events.txt's records, each at its offset")
  }

  test("commit-log source: a log created after the stream starts is read from offset 0") {
    import org.apache.spark.sql.streaming.Trigger
    val log = tmpDir("cllate") + "/late.log"
    val q = CommitLog.readStream(spark, log)
      .writeStream.format("memory").queryName("cl_late")
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cl_late").count() == 0)
      CommitLog.append(log, (0 until 5).map(i => s"l$i"))
      q.processAllAvailable()
      assert(spark.table("cl_late").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
        (0 until 5).map(i => (i.toLong, s"l$i")))
    } finally q.stop()
  }

  test("commit-log source: a checkpoint offset that is a bare line number fails loudly") {
    import org.apache.spark.sql.streaming.Trigger
    val log  = tmpDir("clbare") + "/events.log"
    val ckpt = tmpDir("clbare_ckpt")
    CommitLog.append(log, (0 until 20).map(i => s"r$i"))
    def start() = CommitLog.readStream(spark, log, maxLinesPerTrigger = Some(10L))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    start().awaitTermination(120000)
    // Rewrite the last planned offset as a bare line number, which parses as
    // no offsets at all unless the format is checked: a restart would
    // silently replay every record from line 0.
    val last = new java.io.File(s"$ckpt/offsets").list().filter(_.forall(_.isDigit)).map(_.toLong).max
    val offsets = Paths.get(s"$ckpt/offsets/$last")
    val lines = Files.readAllLines(offsets).asScala.toSeq
    assert(lines.last == "{\"events.log\":20}")
    Files.write(offsets, (lines.init :+ "20").mkString("\n").getBytes)
    Files.deleteIfExists(Paths.get(s"$ckpt/offsets/.$last.crc"))
    CommitLog.append(log, Seq("r20"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      start().awaitTermination(120000)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("{\"<file>\":<line>}")),
      s"the failure must name the offset format: $e")
  }

  test("upsampleEpochsStream: any micro-batch slicing emits the batch multiset") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows  = (0L until 80L).map(i => (i, s"src${i % 3}"))
    val wp    = when(col("_2") === "src0", 2500000L)
      .when(col("_2") === "src1", 1000000L).otherwise(400000L)
    val batch = graft.functions.Curation
      .upsampleEpochs(rows.toDF("_1", "_2"), "_1", wp, "se1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq

    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.RainStorm
      .upsampleEpochsStream(in.toDF(), "_1", wp, "se1")
      .writeStream.format("memory").queryName("upsample_stream").outputMode("append").start()
    try {
      Seq(rows.take(13), rows.slice(13, 55), rows.drop(55)).foreach { b =>
        in.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("upsample_stream")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(streamed === batch)
  }

  test("commit-log byte index: seeks equal head-skips; missing/torn sidecar degrades, never corrupts") {
    import org.apache.spark.sql.streaming.Trigger
    def drain(log: String, tag: String): Seq[(Long, String)] = {
      val q = CommitLog.readStream(spark, log, maxLinesPerTrigger = Some(7L))
        .writeStream.format("memory").queryName(tag)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.table(tag).collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    }
    val dir = tmpDir("clidx")
    val expected = (0 until 300).map(i => (i.toLong, s"v$i"))

    // Indexed log: several append batches -> several index points.
    val indexed = dir + "/indexed.log"
    (0 until 300).grouped(40).foreach(g => CommitLog.append(indexed, g.map(i => s"v$i")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(indexed + ".idx")),
      "producer must write the sidecar")
    assert(drain(indexed, "cl_indexed") === expected)

    // Same log, sidecar deleted -> pure head-skip fallback, same rows.
    val bare = dir + "/bare.log"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(indexed), java.nio.file.Paths.get(bare))
    assert(drain(bare, "cl_bare") === expected)

    // Torn/garbage sidecar lines are skipped, stale entries only lag.
    val torn = dir + "/torn.log"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(indexed), java.nio.file.Paths.get(torn))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(torn + ".idx"),
      "40 " + java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(indexed + ".idx")).get(0).split(" ")(1) + "\ngarbage li")
    assert(drain(torn, "cl_torn") === expected)
  }

  test("generic RainStorm.run pipeline (op1 -> op2) matches batch") {
    import graft.operators.RainStormOps
    val src  = writeCorpus()
    val dest = tmpDir("dest")
    // op1 = split operator from the registry, op2 = count-by-key: the
    // `RainStorm split count src dest` CLI shape.
    val q = RainStorm.run(
      spark, src,
      RainStormOps.registry("split")("value"),
      RainStormOps.countByKey(col("word"), "cnt"),
      tmpDir("ckpt"), dest
    )
    q.awaitTermination(120000)
    val streamed = RainStorm.quantify(spark, dest)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = spark.read.text(src)
      .select(explode(split(col("value"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("socket source streams keyed tuples end-to-end") {
    import java.net.ServerSocket
    import java.io.PrintWriter
    val server = new ServerSocket(0)
    val port   = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out  = new PrintWriter(sock.getOutputStream, true)
      (1 to 50).foreach(i => out.println(s"tuple number $i"))
      Thread.sleep(3000)
      out.close(); sock.close()
    })
    feeder.setDaemon(true); feeder.start()
    val q = RainStorm.socketSource(spark, "localhost", port)
      .writeStream.outputMode("append").format("memory").queryName("sock")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    var waited = 0
    def seen() = spark.sql("SELECT count(*) FROM sock").collect()(0).getLong(0)
    while (seen() < 50 && waited < 30000) { Thread.sleep(250); waited += 250 }
    q.stop(); server.close()
    assert(seen() == 50)
    val keys = spark.sql("SELECT DISTINCT key FROM sock").collect().map(_.getString(0))
    assert(keys.sameElements(Array(s"localhost:$port")))
  }

  test("RocksDB state store runs the stateful word count") {
    val src  = writeCorpus()
    val dest = tmpDir("dest")
    val prev = spark.conf.getOption(RainStorm.rocksDbStateStoreConf._1)
    spark.conf.set(RainStorm.rocksDbStateStoreConf._1, RainStorm.rocksDbStateStoreConf._2)
    try {
      val q = RainStorm.wordCount(spark, src, tmpDir("ckpt"), dest)
      q.awaitTermination(120000)
      val streamed = RainStorm.quantify(spark, dest)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batchWordCount(src))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(RainStorm.rocksDbStateStoreConf._1, v)
        case None    => spark.conf.unset(RainStorm.rocksDbStateStoreConf._1)
      }
    }
  }

  test("typed running count-by-key emits running totals") {
    import spark.implicits._
    val keyed = Seq(("a", "x"), ("b", "y"), ("a", "z")).toDS()
    val out = RainStorm.runningCountByKey(spark, keyed).collect().toMap
    assert(out == Map("a" -> 2L, "b" -> 1L))
  }

  test("streaming dedup drops replayed tuples across micro-batches (F4 exactly-once)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.{Files => JFiles, Paths}
    val src  = tmpDir("dedupsrc")
    val dest = tmpDir("dedupdest")
    val ckpt = tmpDir("dedupckpt")
    def writeFile(name: String, ids: Range): Unit = {
      val lines = ids.map(i => s"$i,2024-01-01 00:${"%02d".format(i % 50)}:00,payload$i")
      JFiles.write(Paths.get(s"$src/$name"), lines.mkString("\n").getBytes)
    }
    def drain(): Unit = {
      val tuples = spark.readStream.text(src)
        .select(split(col("value"), ",").as("f"))
        .select(
          col("f").getItem(0).cast("long").as("id"),
          col("f").getItem(1).cast("timestamp").as("ts"),
          col("f").getItem(2).as("payload"))
      val q = RainStorm.dedupStream(tuples, "id", "ts", watermarkDelay = "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(dest))
        .start()
      q.awaitTermination(120000)
    }
    writeFile("a.txt", 1 to 5)
    drain()
    // The replay: ids 3-5 delivered AGAIN (new files, same tuples) plus 6-8.
    writeFile("b.txt", 3 to 8)
    drain()
    val out = spark.read.parquet(dest)
    assert(out.count() == 8, "each id must be emitted exactly once across batches and restarts")
    assert(out.select("id").distinct().count() == 8)
    assert(out.select("id").collect().map(_.getLong(0)).toSeq.sorted == (1L to 8L).toSeq)
  }

  test("commit-log SINK: exactly-once across epoch replay and mid-append crash resume") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.{Files => JFiles, Paths}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val log  = tmpDir("sinklog") + "/out.log"
    val ckpt = tmpDir("sinkckpt")
    val in   = MemoryStream[String]
    def drain(): Unit = {
      val q = CommitLog.writeStream(
        in.toDF().selectExpr("value"), log, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    in.addData("a", "b", "c"); drain()
    in.addData("d", "e"); drain()
    def logLines() = JFiles.readAllLines(Paths.get(log)).toArray.toSeq
    assert(logLines() == Seq("a", "b", "c", "d", "e"))

    // The sink's log is itself a valid source: round-trip through the DSv2
    // reader reproduces the values at their offsets.
    val back = spark.read.parquet {
      val dest = tmpDir("sinkroundtrip")
      val q = CommitLog.readStream(spark, log)
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmpDir("sinkrtckpt"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(dest))
        .start()
      q.awaitTermination(120000); dest
    }
    assert(back.orderBy("offset").select("value").as[String].collect().toSeq ==
      Seq("a", "b", "c", "d", "e"))

    // Crash-resume protocol, driven directly: record an epoch's intent,
    // append only PART of it (the simulated crash window), then commit the
    // epoch's rows as its tasks' commit messages would carry them — the
    // resume must complete the gap to exactly one copy, and a replayed
    // commit of the same epoch must be a no-op.
    val epoch99 = Seq(EpochRows(1, Seq("h")), EpochRows(0, Seq("f", "g")))
    val startLine = logLines().size
    JFiles.writeString(Paths.get(log + ".epochs"),
      s"intent 99 $startLine 3\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.APPEND)
    CommitLog.append(log, Seq("f")) // partial attempt, then "crash"
    CommitLog.commitEpoch(log, 99L, epoch99)
    assert(logLines() == Seq("a", "b", "c", "d", "e", "f", "g", "h"))
    // Replay of a done epoch: no-op.
    CommitLog.commitEpoch(log, 99L, epoch99)
    assert(logLines() == Seq("a", "b", "c", "d", "e", "f", "g", "h"))

    // TORN-LINE crash: the attempt died mid-record, leaving a partial line
    // with no newline. The resume must truncate the torn bytes back to the
    // last complete-line boundary before appending the gap — otherwise the
    // torn fragment and the replayed record merge into one corrupted line.
    val startLine2 = logLines().size
    JFiles.writeString(Paths.get(log + ".epochs"),
      s"intent 100 $startLine2 3\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.APPEND)
    CommitLog.append(log, Seq("i")) // one complete record...
    JFiles.write(Paths.get(log), "j".getBytes,    // ...then a torn partial "j"
      java.nio.file.StandardOpenOption.WRITE, java.nio.file.StandardOpenOption.APPEND)
    CommitLog.commitEpoch(log, 100L, Seq(EpochRows(0, Seq("i", "j", "k"))))
    assert(logLines() == Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k"),
      "torn tail must be truncated, not merged with the replayed record")
  }

  test("scd2Stream: closed versions equal the batch SCD2 build across any batch slicing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import RainStorm.Scd2Version
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // u1: A(10) -> A(20, repeat) -> B(30) -> C(50); u2: X(15) -> X(40, repeat).
    // u3: same-ts tie at 30 — Y(id=7) vs Z(id=9) must collapse to Y (lowest
    // id, the batch scd2Frame rule), NOT produce a zero-length Y version;
    // the tie straddles the batch split below, exercising the open-version
    // tie path too.
    val changes = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"), (1L, 50L, 4L, "C"),
      (2L, 15L, 5L, "X"), (2L, 40L, 6L, "X"),
      (3L, 30L, 7L, "Y"), (3L, 30L, 9L, "Z"), (3L, 60L, 10L, "W"))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = RainStorm.scd2Stream(spark, in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("scd2_versions").start()
    try {
      // Split mid-user so a version OPENS in batch 1 and CLOSES in batch 2 —
      // and the u3 tie straddles the split (Y opens in batch 1, the tied Z
      // arrives in batch 2 and must be dropped as the batch build would).
      val tieFirst = (3L, 30L, 7L, "Y")
      in.addData(changes.take(3) :+ tieFirst); q.processAllAvailable()
      in.addData(changes.drop(3).filterNot(_ == tieFirst)); q.processAllAvailable()
      val got = spark.table("scd2_versions").as[Scd2Version].collect().toSet
      val want = Set(
        Scd2Version(1L, "A", 10L, 30L), // repeat at 20 extended, not reopened
        Scd2Version(1L, "B", 30L, 50L),
        Scd2Version(3L, "Y", 30L, 60L)) // tie collapsed to lowest id, no 0-length version
      assert(got == want, s"got $got\nwant $want")
      // Replay the same changes as ONE batch: identical closed set.
      val in2 = MemoryStream[(Long, Long, Long, String)]
      val q2 = RainStorm.scd2Stream(spark, in2.toDS())
        .writeStream.outputMode("append").format("memory").queryName("scd2_versions_1b").start()
      try {
        in2.addData(changes); q2.processAllAvailable()
        assert(spark.table("scd2_versions_1b").as[Scd2Version].collect().toSet == want)
      } finally q2.stop()
    } finally q.stop()
  }

  test("indexStream: postings equal the batch inverted index across a multi-batch replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = RainStorm.indexStream(spark, in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("update").format("memory").queryName("idx_stream").start()
    try {
      // Three micro-batches; per-token df strictly grows per emission, so
      // the max-df row per token is the final index state.
      docs.grouped((docs.size + 2) / 3).foreach { b => in.addData(b); q.processAllAvailable() }
      val got = spark.table("idx_stream")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("tok")).orderBy(desc("df"))))
        .filter(col("rn") === 1).drop("rn")
        .as[(String, Long, Long, String)].collect().toSet

      val tok = Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id"),
          explode(graft.functions.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      val stats = tok.groupBy("tok")
        .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"))
      val head = tok
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
        .filter(col("rn") <= 10).groupBy("tok")
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings_head"))
      val want = stats.join(head, Seq("tok"))
        .select("tok", "df", "tf_total", "postings_head")
        .as[(String, Long, Long, String)].collect().toSet
      assert(got.size == want.size && got == want,
        s"stream-only ${got -- want}\nbatch-only ${want -- got}")
    } finally q.stop()
  }

  test("countMinStream: closed-window sketch grid bit-equals the batch sketch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp((7200L + s) * 1000L)

    val rows = Seq(
      (t(0), "alpha"), (t(10), "beta"), (t(20), "alpha"), (t(30), "gamma"),
      (t(3599), "alpha"), (t(4000), "delta")) // last row closes the first window
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = RainStorm.countMinStream(
      in.toDF().toDF("ts", "k"), "k", "ts",
      windowLen = "1 hour", watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("cm_cells").start()
    try {
      in.addData(rows.take(3)); q.processAllAvailable()
      in.addData(rows.drop(3)); q.processAllAvailable()
      val streamed = spark.table("cm_cells")
        .filter(col("window_start") === t(0))
        .select("r", "b", "c").as[(Int, Long, Long)].collect().toSet
      // Batch truth: the same md5 cell hash over the first window's rows.
      val batch = rows.filter(_._1.getTime < t(3600).getTime).map(_._2).toDF("k")
        .select(posexplode(expr(
          """transform(sequence(0, 3),
             r -> cast(conv(substring(md5(concat('cm', r, ':', k)), 1, 15), 16, 10)
                  as long) % 32)""")).as(Seq("r", "b")))
        .groupBy("r", "b").count()
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed $streamed\nbatch $batch")
      // Fixed state: never more than depth*width cells per window.
      assert(streamed.size <= 4 * 32)
      // Point query through the grid: alpha appeared 3 times in window 1.
      val grid = streamed.groupBy(_._1).view.mapValues(_.map(x => x._2 -> x._3).toMap)
      def cell(r: Int, key: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"cm$r:$key".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
        java.lang.Long.parseLong(hex, 16) % 32
      }
      val est = (0 until 4).map(r => grid(r).getOrElse(cell(r, "alpha"), 0L)).min
      assert(est >= 3L, s"CM estimate must upper-bound the true count, got $est")
    } finally q.stop()
  }

  test("ohlcStream: closed bars bit-equal the batch aggregation of the same trades") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp((7200L + s) * 1000L)

    // Window [2:00, 3:00): open=cents@min-ts, close=cents@max-ts even though
    // neither is the min/max PRICE — the discriminating case for min_by.
    val trades = Seq(
      (t(0), 1L, 500L), (t(60), 2L, 900L), (t(120), 3L, 100L), (t(3599), 4L, 700L),
      (t(4000), 5L, 300L)) // next window — closes the first via watermark
    val in = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = RainStorm.ohlcStream(
      in.toDF().toDF("ts", "id", "cents"), "ts", "id", "cents",
      windowLen = "1 hour", watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("ohlc_bars").start()
    try {
      in.addData(trades.take(4).toIndexedSeq: _*); q.processAllAvailable()
      in.addData(trades.drop(4).toIndexedSeq: _*); q.processAllAvailable()
      in.addData((t(8000), 6L, 1L)); q.processAllAvailable() // push watermark past window 1
      val bars = spark.table("ohlc_bars")
        .select("open", "high", "low", "close", "n_trades", "volume_cents")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      assert(bars.contains((500L, 900L, 100L, 700L, 4L, 2200L)),
        s"first-hour bar must be open=500 high=900 low=100 close=700, got ${bars.toSeq}")
    } finally q.stop()
  }

  test("cdcStream: strictly-newer wins, stale replays absorbed, deletes tombstone") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import RainStorm.{CdcOp, CdcLatest}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[CdcOp]
    val q = RainStorm.cdcStream(spark, in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("cdc_latest").start()
    try {
      in.addData(CdcOp(1L, 1L, "U", 10.0), CdcOp(1L, 2L, "U", 20.0), CdcOp(2L, 1L, "U", 5.0))
      q.processAllAvailable()
      val b1 = spark.table("cdc_latest").as[CdcLatest].collect().toSet
      // Within one batch only the final state per key emits — not each hop.
      assert(b1 == Set(CdcLatest(1L, 2L, "U", 20.0), CdcLatest(2L, 1L, "U", 5.0)))

      // Stale replay (seq 1 for key 1) must not regress or re-emit; the
      // delete advances key 2; key 3 is a delete of an unseen key — the
      // tombstone still records so a later stale insert cannot resurrect.
      in.addData(CdcOp(1L, 1L, "U", 99.0), CdcOp(2L, 3L, "D", 0.0), CdcOp(3L, 5L, "D", 0.0))
      q.processAllAvailable()
      val b2 = spark.table("cdc_latest").as[CdcLatest].collect().toSet -- b1
      assert(b2 == Set(CdcLatest(2L, 3L, "D", 0.0), CdcLatest(3L, 5L, "D", 0.0)))

      // The stale insert for key 3 arrives after its tombstone: absorbed.
      in.addData(CdcOp(3L, 4L, "U", 7.0))
      q.processAllAvailable()
      assert(spark.table("cdc_latest").count() == 4)
    } finally q.stop()
  }

  test("sessionizeWithTimeout: each session emitted exactly once, when the watermark passes its gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import RainStorm.ClosedSession
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp((100000L + s) * 1000L)

    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = RainStorm.sessionizeWithTimeout(spark, in.toDS(), gapSeconds = 60,
      watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("timeout_sessions").start()
    try {
      // u1: two sessions in one batch (gap split closes the first inline);
      // the second stays open — nothing emitted for it yet.
      in.addData((1L, t(0)), (1L, t(30)), (1L, t(200)))
      q.processAllAvailable()
      val b1 = spark.table("timeout_sessions").as[ClosedSession].collect().toSet
      assert(b1 == Set(ClosedSession(1L, 100000L, 2L, 100030L)))

      // An unrelated user far in the future advances the watermark past
      // u1's open-session gap: the TIMEOUT (no u1 data at all) closes it.
      in.addData((2L, t(1000)))
      q.processAllAvailable()
      // One more empty-ish advance so the timeout callback fires after the
      // watermark update batch.
      in.addData((2L, t(2000)))
      q.processAllAvailable()
      val all = spark.table("timeout_sessions").as[ClosedSession].collect().toSet
      assert(all.contains(ClosedSession(1L, 100200L, 1L, 100200L)),
        s"open session must close by timeout, got $all")

      // RETURNING USER after a timeout-removed state: the new session must
      // get a FRESH identity (start time), not a reset counter colliding
      // with the already-emitted (user, session) key.
      in.addData((1L, t(3000)))
      q.processAllAvailable()
      in.addData((2L, t(5000)))
      q.processAllAvailable()
      in.addData((2L, t(6000)))
      q.processAllAvailable()
      val withReturn = spark.table("timeout_sessions").as[ClosedSession].collect().toSet
      assert(withReturn.contains(ClosedSession(1L, 103000L, 1L, 103000L)),
        s"returning user's session must close with a fresh identity, got $withReturn")

      // Exactly once: no duplicate emissions of any (user, session).
      val keys = spark.table("timeout_sessions").as[ClosedSession]
        .collect().map(s => (s.userId, s.sessionId))
      assert(keys.length == keys.distinct.length,
        "session identities must be unique even across timeout-removed state")
    } finally q.stop()
  }

  test("sessionizeWithTimeout on the RocksDB state store: provider active, same results") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import RainStorm.ClosedSession
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp((100000L + s) * 1000L)

    // The 100 TB streaming-state claim rides RocksDB (bounded heap,
    // spillable keyed state); this exercises the EXECUTED path, not just
    // the config string: provider set for the query, rocksdb custom
    // metrics visible in progress, emissions identical to the default
    // HDFS-backed run above.
    val (ck, cv) = RainStorm.rocksDbStateStoreConf
    val prev = spark.conf.getOption(ck)
    spark.conf.set(ck, cv)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = RainStorm.sessionizeWithTimeout(spark, in.toDS(), gapSeconds = 60,
      watermarkDelay = "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("rocksdb_sessions").start()
    try {
      in.addData((1L, t(0)), (1L, t(30)), (1L, t(200)))
      q.processAllAvailable()
      assert(spark.table("rocksdb_sessions").as[ClosedSession].collect().toSet ==
        Set(ClosedSession(1L, 100000L, 2L, 100030L)))
      in.addData((2L, t(1000)))
      q.processAllAvailable()
      in.addData((2L, t(2000)))
      q.processAllAvailable()
      val all = spark.table("rocksdb_sessions").as[ClosedSession].collect().toSet
      assert(all.contains(ClosedSession(1L, 100200L, 1L, 100200L)),
        s"timeout close must work on RocksDB state too, got $all")
      // Proof the provider is RocksDB: its custom state-store metrics are
      // present in the operator progress (absent on the HDFS provider).
      val metrics = q.lastProgress.stateOperators(0).customMetrics.keySet()
      assert(metrics.toArray.exists(_.toString.toLowerCase.contains("rocksdb")),
        s"expected rocksdb custom metrics in progress, got $metrics")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(ck, v)
        case None    => spark.conf.unset(ck)
      }
    }
  }

  test("sessionize emits sessions closed mid-batch, then the open session") {
    import spark.implicits._
    // One user, one batch: 3 events in session 1, a > gap jump, 2 events in
    // session 2. Both sessions must be emitted (the first was silently
    // dropped before the round-2 fix).
    val events = Seq((7L, 100L), (7L, 200L), (7L, 300L), (7L, 5000L), (7L, 5100L)).toDS()
    val out = graft.streaming.RainStorm.sessionize(spark, events, gapSeconds = 1800)
      .collect().map(u => (u.sessionId, u.nEvents)).toSet
    assert(out == Set((1L, 3L), (2L, 2L)))
  }

  test("session_window streaming: bounded state, sessions emitted once finalized") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.{Files => JFiles, Paths}
    val src  = tmpDir("sesssrc")
    val dest = tmpDir("sessdest")
    val ckpt = tmpDir("sessckpt")
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      JFiles.write(Paths.get(s"$src/$name"),
        rows.map { case (u, ts) => s"$u,$ts" }.mkString("\n").getBytes)
    def drain(): Unit = {
      val events = spark.readStream.text(src)
        .select(split(col("value"), ",").as("f"))
        .select(col("f").getItem(0).cast("long").as("user_id"),
                col("f").getItem(1).cast("timestamp").as("ts"))
      val q = RainStorm.sessionWindowCounts(events, gap = "30 minutes", watermark = "10 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(dest))
        .start()
      q.awaitTermination(120000)
    }
    // User 1: two sessions (09:00-09:10 x3 events, 11:00 x1); user 2: one.
    write("a.txt", Seq(
      (1L, "2024-01-01 09:00:00"), (1L, "2024-01-01 09:05:00"), (1L, "2024-01-01 09:10:00"),
      (1L, "2024-01-01 11:00:00"),
      (2L, "2024-01-01 09:30:00")))
    drain()
    // Sentinel far in the future advances the watermark past every session's
    // gap so append mode finalizes and evicts them (the bounded-state point).
    write("flush.txt", Seq((99L, "2024-01-02 00:00:00")))
    drain()
    val out = spark.read.parquet(dest)
      .filter(col("user_id") < 99)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
      .toSet
    assert(out == Set(
      (1L, "2024-01-01 09:00:00.0", 3L),
      (1L, "2024-01-01 11:00:00.0", 1L),
      (2L, "2024-01-01 09:30:00.0", 1L)), s"got $out")
  }

  test("RainStorm CLI verb parses quote-aware and round-trips to quantified output") {
    import graft.streaming.RainStormCli
    // Quoted parameter with a space survives as one argument.
    val c = RainStormCli.parse(
      "RainStorm filter_contains 'Punched Telespar' count category /src /dest 8")
    assert(c == RainStormCli.Command("filter_contains", "Punched Telespar", "count", "category", "/src", "/dest", 8))
    intercept[IllegalArgumentException](RainStormCli.parse("grep foo"))
    intercept[IllegalArgumentException](
      RainStormCli.parse("RainStorm nosuch_op '' count '' /a /b 1"))
    // Full round trip: command string -> registry ops -> streaming run -> quantify.
    val src  = writeCorpus()
    val dest = tmpDir("dest")
    val q = RainStormCli.run(spark, s"RainStorm split value count word $src $dest 4", tmpDir("ckpt"))
    q.awaitTermination(120000)
    val streamed = RainStorm.quantify(spark, dest)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchWordCount(src))
  }

  test("domainQuotaStream: one batch == capPerDomain picks; quota carries across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (0L until 60L).map(i => (i, s"dom${i % 2}"))

    def run(name: String, batches: Seq[Seq[(Long, String)]]): Seq[Set[Long]] = {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.RainStorm.domainQuotaStream(spark, in.toDS(), cap = 10, salt = "q42")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
      try {
        batches.foreach { b =>
          in.addData(b.toIndexedSeq: _*); q.processAllAvailable()
          snaps += spark.table(name).select(col("_1")).collect().map(_.getLong(0)).toSet
        }
      } finally q.stop()
      snaps.toSeq
    }

    val batchPicks = graft.functions.Curation.capPerDomain(
      rows.toDF("doc_id", "source"), "doc_id", "source", cap = 10, salt = "q42")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val single = run("quota_single", Seq(rows))
    assert(single.last == batchPicks,
      "a one-batch stream must admit exactly the batch operator's picks (same priority order)")

    val Seq(after1, after2) = run("quota_two", Seq(rows.take(12), rows.drop(12)))
    assert(after1.size == 12, "an under-quota first batch admits everything")
    val perDomain = after2.groupBy(_ % 2).view.mapValues(_.size).toMap
    assert(perDomain == Map(0L -> 10, 1L -> 10),
      s"the quota must cap each domain at 10 across batches: $perDomain")
    assert(after1.subsetOf(after2), "append mode: earlier admissions never retract")
  }

  test("RainStorm CLI dokill flag: kill + recover mid-run, output still exactly-once") {
    import graft.streaming.RainStormCli
    assert(RainStormCli.parse("RainStorm split value count word /s /d 4 dokill").dokill)
    intercept[IllegalArgumentException](
      RainStormCli.parse("RainStorm split value count word /s /d 4 notaflag"))
    val src  = writeCorpus()
    val dest = tmpDir("dest")
    val q = RainStormCli.run(spark, s"RainStorm split value count word $src $dest 4 dokill", tmpDir("ckpt"))
    q.awaitTermination(120000)
    val streamed = RainStorm.quantify(spark, dest)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchWordCount(src), "dokill recovery must not change the final answer")
  }

  test("clusterAssignStream: any micro-batch slicing bit-equals the batch assignment") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Two separated blobs; model trained offline on the same rows.
    val rows = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(d => (if (i % 2 == 0) 5f else -5f) + (i + d).toFloat * 0.01f)))
    val train = rows.toDF("vec_id", "embedding")
    val model = graft.functions.ClusterOps.kMeansModel(train, "vec_id", "embedding", k = 2, iters = 2)
    val batch = graft.functions.ClusterOps.assignToCentroids(train, "vec_id", "embedding", model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.RainStorm
      .clusterAssignStream(in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", model)
      .writeStream.format("memory").queryName("cluster_route").outputMode("append").start()
    try {
      Seq(rows.take(7), rows.slice(7, 25), rows.drop(25)).foreach { b =>
        in.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("cluster_route")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(streamed === batch,
      "stateless routing must make the stream bit-equal to the batch assignment")
  }

  test("ewmaStream: recurrence equals the batch x_ewma_anomaly across a multi-batch replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val daily = Tables.orders(spark, TestSpark.sf0001)
      .groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).cast("string").as("day"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // split by GLOBAL day tertiles so every key's days arrive in order
    // across batches (the day-at-a-time ingest contract)
    val days    = daily.map(_._2).distinct.sorted
    val cut     = (days.size + 2) / 3
    val batches = days.grouped(cut).map(ds => daily.filter(r => ds.contains(r._2))).toSeq

    val in = MemoryStream[(String, String, Long)]
    val q = graft.streaming.RainStorm
      .ewmaStream(spark, in.toDF().toDF("priority", "day", "n"))
      .writeStream.outputMode("update").format("memory").queryName("ewma_stream").start()
    try {
      batches.foreach { b => in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("ewma_stream")
      .collect()
      .map(r => (r.getAs[String]("priority"), r.getAs[String]("day"),
        r.getAs[Long]("n"), r.getAs[Long]("ewma_milli"), r.getAs[Long]("is_anomaly")))
      .sortBy(r => (r._1, r._2)).toSeq

    val batch = graft.queries.Governance.ewmaAnomaly.run(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getAs[String]("priority"), r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n"), r.getAs[Long]("ewma_milli"), r.getAs[Long]("is_anomaly")))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(streamed === batch,
      "per-key EWMA state machine must make the stream bit-equal to the batch recurrence")
  }

  test("chi2CellsStream: cumulative cells equal the batch contingency after a split replay") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val pairs = Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"))
      .join(Tables.lineitem(spark, TestSpark.sf0001)
        .select(col("l_orderkey"), col("l_returnflag").as("rf")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("priority"), col("rf"))
      .as[(String, String)].collect().toSeq
    val (b1, b2) = pairs.splitAt(pairs.size / 2)

    val in = MemoryStream[(String, String)]
    val q = graft.streaming.RainStorm
      .chi2CellsStream(spark, in.toDF().toDF("priority", "rf"))
      .writeStream.outputMode("update").format("memory").queryName("chi2_stream").start()
    try {
      Seq(b1, b2).foreach { b => in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()

    // cums are monotone: the final snapshot per cell is its max emission
    val streamed = spark.table("chi2_stream")
      .groupBy(col("priority"), col("rf")).agg(max(col("cum")).as("cum"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val batch = graft.queries.Analytics.chi2Independence.run(spark, TestSpark.sf0001)
      .collect().map(r => ((r.getAs[String]("pri"), r.getAs[String]("rf")), r.getAs[Long]("o"))).toMap
    assert(streamed === batch,
      "per-priority cell state must make the stream's final snapshot equal the batch table")
  }

  test("ksStream: split replay's final drift snapshot equals the batch face") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // mirror x_ks_drift_incremental's frame: first half = reference, second
    // half arrives — but split the arrivals across THREE micro-batches.
    val ev = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_type").as("grp"),
        unix_date(col("ts").cast("date")).cast("long").as("di"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val b   = ev.agg(min(col("di")), max(col("di"))).collect().head
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    val ref = ev.filter(col("di") <= mid)
      .groupBy(col("grp"), col("cents")).agg(count(lit(1)).as("c"))
      .collect().groupBy(_.getString(0))
      .map { case (g, rows) => g -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val arrivals = ev.filter(col("di") > mid)
      .select(col("grp"), col("cents")).as[(String, Long)].collect().toSeq
    val chunks = arrivals.grouped((arrivals.size + 2) / 3).toSeq

    val in = MemoryStream[(String, Long)]
    val q = graft.streaming.RainStorm
      .ksStream(spark, in.toDF().toDF("grp", "cents"), ref)
      .writeStream.outputMode("update").format("memory").queryName("ks_stream").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()

    // n_stream is monotone per key → the final snapshot is its max-n row
    val streamed = spark.table("ks_stream")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("n_stream").desc)))
      .filter(col("rn") === 1).drop("rn")
      .collect()
      .map(r => (r.getAs[String]("grp"),
        (r.getAs[Long]("n_stream"), r.getAs[Long]("d_ppm"), r.getAs[Long]("drifted"))))
      .toMap
    val batch = graft.queries.RankStats.ksDriftIncremental.run(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getAs[String]("grp"),
        (r.getAs[Long]("n_stream"), r.getAs[Long]("d_ppm"), r.getAs[Long]("drifted"))))
      .toMap
    assert(streamed === batch,
      "per-group histogram state must make the 3-batch replay's final KS equal the batch face")
  }

  test("mannWhitneyStream: split replay's final snapshot equals the batch face") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // mirror x_mannwhitney_incremental's frame: first half = reference,
    // second half arrives across THREE micro-batches.
    val ev = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_type").as("grp"),
        unix_date(col("ts").cast("date")).cast("long").as("di"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val b   = ev.agg(min(col("di")), max(col("di"))).collect().head
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    val ref = ev.filter(col("di") <= mid)
      .groupBy(col("grp"), col("cents")).agg(count(lit(1)).as("c"))
      .collect().groupBy(_.getString(0))
      .map { case (g, rows) => g -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val arrivals = ev.filter(col("di") > mid)
      .select(col("grp"), col("cents")).as[(String, Long)].collect().toSeq
    val chunks = arrivals.grouped((arrivals.size + 2) / 3).toSeq

    val in = MemoryStream[(String, Long)]
    val q = graft.streaming.RainStorm
      .mannWhitneyStream(spark, in.toDF().toDF("grp", "cents"), ref)
      .writeStream.outputMode("update").format("memory").queryName("mw_stream").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()

    // n_stream is monotone per key → the final snapshot is its max-n row
    val streamed = spark.table("mw_stream")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("n_stream").desc)))
      .filter(col("rn") === 1).drop("rn")
      .collect()
      .map(r => (r.getAs[String]("grp"),
        (r.getAs[Long]("n_stream"), r.getAs[Long]("u_a_x2"),
          r.getAs[Long]("z_milli"), r.getAs[Long]("significant"))))
      .toMap
    val batch = graft.queries.RankStats.mannWhitneyIncremental.run(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getAs[String]("grp"),
        (r.getAs[Long]("n_stream"), r.getAs[Long]("u_a_x2"),
          r.getAs[Long]("z_milli"), r.getAs[Long]("significant"))))
      .toMap
    assert(streamed === batch,
      "per-group histogram state must make the 3-batch replay's final U equal the batch face")
  }

  test("bootstrapCiStream: split replay's final snapshot equals the batch face") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // mirror x_bootstrap_ci_incremental's frame: ALL events arrive across
    // THREE micro-batches (replicate folds are associative — no reference
    // state, so the whole log is the stream).
    val arrivals = Tables.events(spark, TestSpark.sf0001)
      .select(col("event_type").as("grp"),
        col("event_id").cast("long").as("ek"),
        pmod(col("user_id"), lit(2)).cast("long").as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[(String, Long, Long, Long)].collect().toSeq
    val chunks = arrivals.grouped((arrivals.size + 2) / 3).toSeq

    val in = MemoryStream[(String, Long, Long, Long)]
    val q = graft.streaming.RainStorm
      .bootstrapCiStream(spark, in.toDF().toDF("grp", "ek", "arm", "cents"))
      .writeStream.outputMode("update").format("memory").queryName("boot_stream").start()
    try {
      chunks.foreach { c => in.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getAs[String]("grp"),
      (r.getAs[Long]("n_events"), r.getAs[Long]("k_designs"),
        r.getAs[Long]("obs_diff_micro"), r.getAs[Long]("ci_lo_micro"),
        r.getAs[Long]("ci_hi_micro"), r.getAs[Long]("significant")))

    // n_events is monotone per key → the final snapshot is its max-n row
    val streamed = spark.table("boot_stream")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(col("n_events").desc)))
      .filter(col("rn") === 1).drop("rn")
      .collect().map(key).toMap
    val batch = graft.queries.RankStats.bootstrapCiIncremental
      .run(spark, TestSpark.sf0001)
      .collect().map(key).toMap
    assert(streamed === batch,
      "64-replicate fold state must make the 3-batch replay's final CI equal the batch face")
  }

  test("observeGateStream: per-batch audit counters ride the progress channel") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // (doc_id, n_chars, lang) — per batch: one survivor, plus one failure of
    // each gate (short / long / bad lang); batch 2 adds a doc failing TWO
    // gates at once (counters overlap deliberately; it must count in both).
    val b1 = Seq((1L, 200L, "en"), (2L, 10L, "en"), (3L, 900L, "de"), (4L, 300L, "zh"))
    val b2 = Seq((5L, 399L, "fr"), (6L, 149L, "es"), (7L, 401L, "en"), (8L, 20L, "xx"))

    val in = MemoryStream[(Long, Long, String)]
    val gated = graft.streaming.RainStorm
      .observeGateStream(in.toDF().toDF("doc_id", "n_chars", "lang"))
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("observe_gate").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val kept = spark.table("observe_gate").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 5L), "gate must keep exactly the in-range, in-language docs")

    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("curation_gate")))
      .filter(_.getAs[Long]("n_in") > 0) // empty wrap-up batches carry no rows
      .map(r => (r.getAs[Long]("n_in"), r.getAs[Long]("n_too_short"),
        r.getAs[Long]("n_too_long"), r.getAs[Long]("n_bad_lang")))
    assert(metrics == Seq((4L, 1L, 1L, 1L), (4L, 2L, 1L, 1L)),
      s"each micro-batch must report its own gate counters (doc 8 fails short AND lang):\n$metrics")
  }
}
