package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Headline
import graft.streaming.RainStorm

/** Closed-form semantics for the event-analytics pair h22_funnel /
  * h23_cohort_retention, plus the streaming funnel face: hand-computed
  * expectations on tiny constructed event logs (the registry oracle checks
  * the same queries against DuckDB at sf0.01 — these pin the SEMANTICS on
  * inputs where every intermediate is checkable by eye), and a 2-batch
  * MemoryStream replay pinned against the batch chained-window form.
  */
class FunnelCohortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val us = 1000000L // seconds → micros

  /** Write a minimal events table (nanos LONG ts, like the generator) and
    * return its directory for Registry-style `run(spark, dir)` calls.
    */
  private def eventsDir(rows: Seq[(Long, Long, String)]): String = {
    // (user_id, tMicros, event_type)
    import spark.implicits._
    val dir = Files.createTempDirectory("funnel").toString
    rows.zipWithIndex.map { case ((u, tm, typ), i) =>
      (i.toLong, tm * 1000L, u, typ, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val funnelRows = Seq[(Long, Long, String)](
    (1L, 10 * us, "view"), (1L, 20 * us, "click"), (1L, 30 * us, "purchase"),
    // u2: click BEFORE the first view must not count; purchase before the
    // qualifying click must not count.
    (2L, 10 * us, "click"), (2L, 20 * us, "view"), (2L, 25 * us, "click"), (2L, 22 * us, "purchase"),
    (3L, 10 * us, "view"),
    (4L, 5 * us, "purchase"), (4L, 6 * us, "click"))

  test("h22_funnel: strict-order step mins, exact conversion-lag sums") {
    val out = Headline.h22.run(spark, eventsDir(funnelRows))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(out == List(
      ("view", 3L, 0L),                          // u1, u2, u3
      ("view>click", 2L, (10L + 5L) * us),       // u1: 20-10, u2: 25-20
      ("view>click>purchase", 1L, 20L * us)))    // u1: 30-10
  }

  test("h22_funnel plan: one corpus exchange feeds all three window steps") {
    val plan = Headline.h22.run(spark, eventsDir(funnelRows))
      .queryExecution.executedPlan.toString
    // Chained same-partitioning windows + the per-user collapse must reuse
    // one hash exchange on user_id; the only other exchange is the final
    // single-row aggregate/sort tail.
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$plan")
  }

  private val day = 86400L
  private val cohortRows = Seq[(Long, Long, String)](
    // noon of day d: (1704067200 + d*86400 + 43200) seconds, as micros
    (1L, (1704110400L + 0 * day) * us, "view"),
    (1L, (1704110400L + 0 * day + 60) * us, "click"), // same day — distinct collapses
    (1L, (1704110400L + 1 * day) * us, "view"),
    (1L, (1704110400L + 3 * day) * us, "view"),
    (2L, (1704110400L + 1 * day) * us, "view"),
    (2L, (1704110400L + 2 * day) * us, "view"),
    (3L, (1704110400L + 0 * day) * us, "view"))

  test("h23_cohort_retention: first-day cohorts, per-offset distinct users") {
    val out = Headline.h23.run(spark, eventsDir(cohortRows))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toList
    assert(out == List(
      ("2024-01-01", 0L, 2L), // u1, u3
      ("2024-01-01", 1L, 1L), // u1
      ("2024-01-01", 3L, 1L), // u1
      ("2024-01-02", 0L, 1L), // u2
      ("2024-01-02", 1L, 1L))) // u2
  }

  test("funnelStream: 2-batch replay matches the batch step mins; state is monotone") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val q = RainStorm.funnelStream(spark, in.toDS(), Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_stream").outputMode("append").start()
    try {
      // Batch 1: u1's first view; u2's pre-view click (must be rejected and
      // must STAY rejected after u2's view arrives in batch 2).
      in.addData((1L, "view", 10 * us), (2L, "click", 10 * us))
      q.processAllAvailable()
      // Batch 2: u1 completes; u2 re-clicks after its view.
      in.addData(
        (1L, "click", 20 * us), (1L, "purchase", 30 * us),
        (2L, "view", 20 * us), (2L, "click", 25 * us))
      q.processAllAvailable()
      val got = spark.table("funnel_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == Set(
        (1L, 0, 10 * us), (1L, 1, 20 * us), (1L, 2, 30 * us),
        (2L, 0, 20 * us), (2L, 1, 25 * us)))
    } finally q.stop()
  }

  test("incremental funnel == full recompute on a time-split log") {
    import graft.operators.Funnel
    val dir   = eventsDir(funnelRows)
    val steps = Seq("view", "click", "purchase")
    val ev = Headline.h22.run(spark, dir) // just to materialize the dir path contract
    assert(ev.count() == 3)
    val raw = TestSpark.spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tm"))
    // Cut at 21s: base holds u1 view/click, u2 click(rejected)+view, u3
    // view, u4 both; delta holds u1 purchase, u2 click@25 + purchase@22.
    val cut    = 21 * us
    val state  = Funnel.stepTimes(raw.filter(col("tm") < cut), steps)
    val merged = Funnel.stepTimes(
      Funnel.stateToEvents(state, steps).unionByName(raw.filter(col("tm") >= cut)), steps)
    val inc  = Funnel.summary(merged, steps).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val full = Funnel.summary(Funnel.stepTimes(raw, steps), steps)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(inc == full)
    assert(inc == List(
      ("view", 3L, 0L),
      ("view>click", 2L, (10L + 5L) * us),
      ("view>click>purchase", 1L, 20L * us)))
    // The state table really is compact: one row per user seen in base.
    assert(state.count() == 4)
  }

  test("h24_attribution: last preceding click within lookback, exact lag sums") {
    // u1: purchase@30 after clicks@20,25 → attributed to click@25 (lag 5s).
    // u2: purchase@22 with latest click@10 BEFORE its view — still a click,
    //     attribution is touch-based only → attributed (lag 12s).
    // u4: purchase@5 with no preceding click → unattributed.
    val out = Headline.h24.run(spark, eventsDir(Seq[(Long, Long, String)](
      (1L, 10 * us, "view"), (1L, 20 * us, "click"), (1L, 25 * us, "click"),
      (1L, 30 * us, "purchase"),
      (2L, 10 * us, "click"), (2L, 22 * us, "purchase"),
      (4L, 5 * us, "purchase"))))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4))).toList
    // One day bucket: 3 purchases, 2 attributed, lag total (30-25)+(22-10)=17s.
    assert(out == List((3L, 2L, 17L * us)))
  }

  test("h25_moving_window: RANGE frame excludes absent days (not a ROWS frame)") {
    // Purchases on days 0, 1, 8 (value 1.0 each): day 8's trailing-7 frame
    // covers days 2..8 only — a ROWS 6-preceding frame would wrongly pull
    // in days 0 and 1.
    val out = Headline.h25.run(spark, eventsDir(Seq[(Long, Long, String)](
      (1L, (1704110400L + 0 * day) * us, "purchase"),
      (2L, (1704110400L + 1 * day) * us, "purchase"),
      (3L, (1704110400L + 8 * day) * us, "purchase"))))
      .collect().map(r => (r.getDate(0).toString, r.getDouble(3), r.getLong(4))).toList
    assert(out == List(
      ("2024-01-01", 1.0, 1L),
      ("2024-01-02", 2.0, 2L),
      ("2024-01-09", 1.0, 1L)))
  }

  test("h23/h24 plans: cohort reuses one user_id exchange; attribution runs the native as-of exec") {
    val p23 = Headline.h23.run(spark, eventsDir(cohortRows))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p23).size == 1,
      s"cohort window + per-user collapse must share one user_id exchange:\n$p23")
    val p24 = Headline.h24.run(spark, eventsDir(funnelRows))
      .queryExecution.executedPlan.toString
    assert(p24.contains("AsOfJoin"), s"attribution must plan through AsOfJoinExec:\n$p24")
  }

  test("funnel over a commit-log topic: crash replay yields exactly-once step completions") {
    import graft.sources.{CommitLog, CommitLogTopic, EpochRows}
    import graft.streaming.RainStorm
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir  = Files.createTempDirectory("funneltopic").toString
    val dest = Files.createTempDirectory("funneldest").toString + "/dest.log"
    val ckpt = Files.createTempDirectory("funnelckpt").toString
    // 40 users complete the funnel; records are "user,type,micros" lines.
    // Even users in p0, odd in p1 — a user never spans partitions, so
    // per-key event-time order holds across micro-batches (the stream's
    // ordering contract). Interleave types in time order per user.
    def lines(users: Seq[Int]): Seq[String] = users.flatMap { u =>
      Seq(s"$u,view,${1000 + u}", s"$u,click,${2000 + u}", s"$u,purchase,${3000 + u}")
    }
    CommitLog.append(s"$dir/p0.log", lines(0 until 40 by 2))
    CommitLog.append(s"$dir/p1.log", lines(1 until 40 by 2))

    // Each batch is committed to the dest log as JSON lines through the
    // epoch commit RainStorm's dest uses; batch 2 throws after its commit
    // (output landed, offset never committed) and replays as a done epoch.
    def logSink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CommitLog.commitEpoch(dest, id, Seq(EpochRows(0, batch.toJSON.collect().toSeq)))
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def crashingSink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      logSink(batch, id)
      if (id == 2 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash after partial write")
    }
    def start(sink: (org.apache.spark.sql.DataFrame, Long) => Unit) = {
      val ev = CommitLogTopic.readStream(spark, dir, maxLinesPerTrigger = Some(25L))
        .select(split(col("value"), ",").as("f"))
        .select(
          col("f").getItem(0).cast("long").as("user"),
          col("f").getItem(1).as("typ"),
          col("f").getItem(2).cast("long").as("tm"))
        .as[(Long, String, Long)]
      RainStorm.funnelStream(spark, ev, Seq("view", "click", "purchase"))
        .toDF()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
    }
    val q1 = start(crashingSink)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { q1.awaitTermination() }
    assert(crashed.get, "the injected crash must have fired")
    val q2 = start(logSink)
    q2.awaitTermination(120000)

    val out = spark.read.schema("userId LONG, step INT, tm LONG").json(dest)
      .select("userId", "step", "tm")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == 120, s"exactly-once: expected 40 users x 3 steps, got ${out.length}")
    assert(out.toSet == (0 until 40).flatMap { u =>
      Seq((u.toLong, 0, 1000L + u), (u.toLong, 1, 2000L + u), (u.toLong, 2, 3000L + u))
    }.toSet, "every completion exactly once with its first-completion time")
  }

  test("cohortStream: 2-batch replay reproduces the batch retention matrix; state is 16 bytes/user") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user, epoch day)
    val q = RainStorm.cohortStream(spark, in.toDS(), horizonDays = 30)
      .writeStream.format("memory").queryName("cohort_stream").outputMode("append").start()
    try {
      // Same shape as cohortRows: u1 days 0,0,1,3; u2 days 1,2; u3 day 0 —
      // split mid-user across batches (u1's day 3 and u2's day 2 arrive late).
      in.addData((1L, 0L), (1L, 0L), (1L, 1L), (2L, 1L), (3L, 0L))
      q.processAllAvailable()
      in.addData((1L, 3L), (2L, 2L))
      q.processAllAvailable()
      val matrix = spark.table("cohort_stream")
        .groupBy("cohortDay", "dayOffset").count()
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(matrix == Set(
        (0L, 0, 2L), (0L, 1, 1L), (0L, 3, 1L), // cohort day 0: u1+u3, then u1
        (1L, 0, 1L), (1L, 1, 1L)))             // cohort day 1: u2
    } finally q.stop()
  }

  test("stepTimesWhere: predicate steps (value-floor purchase) beyond event-type matching") {
    import graft.operators.Funnel
    import spark.implicits._
    // u1 purchases 5.0 then 50.0 — only the second clears the floor;
    // u2's big purchase precedes its view and must not count.
    val ev = Seq(
      (1L, "view", 10L, 0.0), (1L, "purchase", 20L, 5.0), (1L, "purchase", 30L, 50.0),
      (2L, "purchase", 5L, 99.0), (2L, "view", 10L, 0.0))
      .toDF("user_id", "event_type", "tm", "value")
    val pu = Funnel.stepTimesWhere(ev, Seq(
      "view"        -> (col("event_type") === "view"),
      "big_purchase" -> (col("event_type") === "purchase" && col("value") >= lit(10.0))))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(pu == Set(
      (1L, Some(10L), Some(30L)),
      (2L, Some(10L), None)))
  }

  test("stepTimesWithin: the conversion window is anchored at t0 and gates every later step") {
    import spark.implicits._
    val ev = Seq(
      // u1: click inside the window, purchase outside (anchored at t0=0).
      (1L, "view", 0L), (1L, "click", 10L), (1L, "purchase", 120L),
      // u2: click entirely outside.
      (2L, "view", 0L), (2L, "click", 105L),
      // u3: full conversion inside.
      (3L, "view", 50L), (3L, "click", 60L), (3L, "purchase", 149L)).toDF(
      "user_id", "event_type", "tm")
    val got = graft.operators.Funnel
      .stepTimesWithin(ev, Seq("view", "click", "purchase"), withinUs = 100L)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toSet
    assert(got == Set(
      (1L, Some(0L), Some(10L), None),   // purchase@120 > t0+100
      (2L, Some(0L), None, None),        // click@105 > t0+100
      (3L, Some(50L), Some(60L), Some(149L)))) // 149 <= 50+100 — boundary kept
  }

  test("transitionStream: any batch slicing emits the batch pair sequence; stragglers drop") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import RainStorm.{TransitionHit, UserEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val evs = Seq(
      UserEvent(1L, 10L, 1L, "view"), UserEvent(1L, 20L, 2L, "click"),
      UserEvent(1L, 30L, 3L, "purchase"), UserEvent(2L, 10L, 4L, "view"),
      UserEvent(2L, 40L, 5L, "view"))
    val expect = Seq(
      TransitionHit(1L, "view", "click"), TransitionHit(1L, "click", "purchase"),
      TransitionHit(2L, "view", "view"))

    // The batch-boundary invariance pin: every split point yields the same hits.
    for (cut <- 1 until evs.length) {
      val in = MemoryStream[UserEvent]
      val name = s"transitions_$cut"
      val q = RainStorm.transitionStream(spark, in.toDS())
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        in.addData(evs.take(cut).toIndexedSeq: _*); q.processAllAvailable()
        in.addData(evs.drop(cut).toIndexedSeq: _*); q.processAllAvailable()
        val got = spark.table(name).as[TransitionHit].collect()
        assert(got.toSet == expect.toSet && got.length == expect.length,
          s"cut=$cut got=${got.toSeq}")
      } finally q.stop()
    }

    // Cross-batch straggler (older than the stored last event) drops silently.
    val in = MemoryStream[UserEvent]
    val q = RainStorm.transitionStream(spark, in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("transitions_late").start()
    try {
      in.addData(UserEvent(7L, 50L, 9L, "view")); q.processAllAvailable()
      in.addData(UserEvent(7L, 40L, 8L, "click")); q.processAllAvailable()
      assert(spark.table("transitions_late").count() == 0)
      // State did not regress: the next in-order event pairs with view@50.
      in.addData(UserEvent(7L, 60L, 10L, "purchase")); q.processAllAvailable()
      val last = spark.table("transitions_late").as[TransitionHit].collect().toSeq
      assert(last == Seq(TransitionHit(7L, "view", "purchase")))
    } finally q.stop()
  }

  test("funnelStream rejects unknown and duplicate steps only as designed") {
    import spark.implicits._
    // Batch execution of the same state machine: duplicate step events keep
    // the FIRST completion; unknown event types are ignored.
    val ds = Seq(
      (9L, "view", 10 * us), (9L, "view", 5 * us), (9L, "error", 12 * us),
      (9L, "click", 15 * us), (9L, "click", 11 * us)).toDS()
    val got = RainStorm.funnelStream(spark, ds, Seq("view", "click"))
      .collect().map(s => (s.userId, s.step, s.tm)).toSet
    // Sorted by time within the batch: view@5 wins, click@11 wins.
    assert(got == Set((9L, 0, 5 * us), (9L, 1, 11 * us)))
  }
}
