package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.Governance

/** Governance family: k-anonymity math on a planted fixture, EWMA recurrence
  * against a hand-rolled fold, schema-evolution null-fill semantics, and the
  * unpivot reshape's row-local expansion.
  */
class GovernanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("k-anonymity flags small equivalence classes and low diversity") {
    val out = Governance.kAnonymity.run(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n"); val nb = r.getAs[Long]("n_buckets")
      assert(nb <= n, "distinct buckets cannot exceed class size")
      assert((r.getAs[Long]("is_k_anon") == 1L) == (n >= 5))
      assert((r.getAs[Long]("is_l_diverse") == 1L) == (nb >= 3))
    }
  }

  test("EWMA recurrence matches a driver-side fold of the same series") {
    val out = Governance.ewmaAnomaly.run(spark, sf)
      .filter(col("priority") === "1-URGENT")
      .orderBy("day").collect()
    assert(out.length > 10)
    var e = 0L
    out.zipWithIndex.foreach { case (r, i) =>
      val n = r.getAs[Long]("n")
      val expectAnom =
        if (i == 0) 0L else if (1000 * n > 2 * e || 2000 * n < e) 1L else 0L
      e = if (i == 0) 1000 * n else (4 * e + 1000 * n) / 5
      assert(r.getAs[Long]("ewma_milli") == e, s"ewma at row $i")
      assert(r.getAs[Long]("is_anomaly") == expectAnom, s"anomaly flag at row $i")
    }
  }

  test("EWMA smooths: running value stays within the series' min/max envelope") {
    val rows = Governance.ewmaAnomaly.run(spark, sf).collect()
    val byKey = rows.groupBy(_.getAs[String]("priority"))
    byKey.foreach { case (_, rs) =>
      val ns = rs.map(_.getAs[Long]("n") * 1000)
      val lo = ns.min; val hi = ns.max
      rs.foreach(r => assert(r.getAs[Long]("ewma_milli") >= lo - 5 &&
        r.getAs[Long]("ewma_milli") <= hi))
    }
  }

  test("schema evolution null-fills the missing column for legacy files only") {
    val out = Governance.schemaEvolution.run(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_v2") < r.getAs[Long]("n"),
        "v1 rows must contribute null discounts (n_v2 strictly below n)")
      assert(r.getAs[Long]("n_v2") > 0, "v2 rows must carry the new column")
    }
  }

  test("unpivot emits exactly one row per (entity, metric) with matched values") {
    val wide = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_cents"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val long = Governance.unpivotMetrics.run(spark, sf).collect()
    assert(long.length == wide.size * 3)
    long.filter(_.getAs[String]("metric") == "qty_cents").foreach { r =>
      assert(r.getAs[Long]("value_cents") == wide(r.getAs[String]("l_returnflag")))
    }
  }

  test("DP noisy release: noise bounded by ±9, small classes suppressed, true count absent") {
    import spark.implicits._
    // Planted classes: two releasable (n=12, n=10) and one suppressible (n=3)
    // — at sf0.001 every real class is under the threshold, so the rule needs
    // a fixture to show both sides.
    val dir = "/tmp/graft_dp_fixture"
    val rows =
      (1 to 12).map(i => (100L + i, s"Customer#$i", 1, "AUTOMOBILE", 1.0)) ++
      (1 to 10).map(i => (200L + i, s"Customer#$i", 2, "BUILDING", 1.0)) ++
      (1 to 3).map(i => (300L + i, s"Customer#$i", 3, "MACHINERY", 1.0))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

    val out = Governance.dpNoisyCounts.run(spark, dir).collect()
    assert(!out.head.schema.fieldNames.contains("n"), "the exact count must not be released")
    def noise(nation: Long, seg: String): Long =
      (nation * 131 + seg.head.toLong * 17 + seg.length) % 1000003 % 19 - 9
    val got = out.map(r => (r.getAs[Long]("nation"), r.getAs[String]("segment")) -> r.getAs[Long]("noisy_n")).toMap
    assert(got.keySet == Set((1L, "AUTOMOBILE"), (2L, "BUILDING")),
      s"n=3 class must be suppressed, releasable classes released; got $got")
    assert(got((1L, "AUTOMOBILE")) == 12L + noise(1L, "AUTOMOBILE"))
    assert(got((2L, "BUILDING")) == 10L + noise(2L, "BUILDING"))
    got.foreach { case ((nat, seg), noisy) =>
      assert(math.abs(noise(nat, seg)) <= 9, s"noise out of range for ($nat, $seg)") }
    assert(noise(1L, "AUTOMOBILE") != 0L || noise(2L, "BUILDING") != 0L,
      "fixture should exercise a nonzero perturbation")
    assert(got((1L, "AUTOMOBILE")) != 12L || got((2L, "BUILDING")) != 10L)
  }

  test("replica reconcile reports exactly the segments containing planted drift") {
    val li = graft.Tables.lineitem(spark, sf)
    val expected = li
      .filter(col("l_orderkey") % 19997 === 0 || col("l_orderkey") % 23003 === 0)
      .select(expr("l_orderkey div 4096").as("seg"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "fixture scale must contain at least one drift key")
    val got = Governance.replicaReconcile.run(spark, sf).collect()
      .map(_.getAs[Long]("seg")).toSet
    assert(got == expected,
      s"digest compare must flag exactly the drifted segments; got $got expected $expected")
  }

  test("WAP: published snapshot has no duplicate business keys and no orphans") {
    import graft.sources.Storage
    val out = Governance.wapPublish.run(spark, sf).collect().head
    val live = Storage.committed("/tmp/graft_gov/wap/published")
    val published = spark.read.parquet(live.dirs("data"): _*)
    assert(out.getAs[Long]("n_published") == published.count())
    assert(out.getAs[Long]("n_published") <= out.getAs[Long]("n_staged"))
    val dups = published.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
    assert(dups == 0L, "published data must not contain duplicate (orderkey, linenumber) keys")
    val orphans = published.join(
      graft.Tables.orders(spark, sf).select(col("o_orderkey")),
      published("l_orderkey") === col("o_orderkey"), "left_anti").count()
    assert(orphans == 0L, "published data must not contain orphaned lineitems")
    assert(live.rows == published.count() &&
      live.dirs("data") == Seq(s"/tmp/graft_gov/wap/published/data/${live.n}"),
      "publish must commit a pointer to its own data directory")
  }

  test("DPP-pruned join returns exactly the plain-join months") {
    val out = Governance.dppPrune.run(spark, sf).collect()
    assert(out.nonEmpty)
    // every released month is a 1995 month (the dim filter's year)
    out.foreach(r => assert(r.getAs[String]("ship_month").startsWith("1995-")))
    // cross-check one month's count against a direct filter on the raw table
    val m = out.head.getAs[String]("ship_month")
    val direct = graft.Tables.lineitem(spark, sf)
      .filter(date_format(col("l_shipdate"), "yyyy-MM") === m).count()
    assert(out.head.getAs[Long]("n") == direct)
  }

  test("vacuum: retention window honored, live and in-flight snapshots survive, torn store refused") {
    import graft.sources.Storage
    val base = "/tmp/graft_test_vac"
    Storage.drop(base)
    (1 to 5).foreach { v =>
      val at = Storage.head(base)
      at.write(spark.range(v * 10).select(col("id")), "data")
      if (v <= 4) // version 5 is an IN-FLIGHT publish: written, pointer not yet moved
        Storage.publish(at.rebuilt(v * 10L, "data"))
    }
    spark.range(1).write.parquet(s"$base/x.__merge_old")
    spark.range(1).write.parquet(s"$base/y.__append_fresh") // a CONCURRENT writer's staging dir
    Storage.setMtime(s"$base/x.__merge_old", System.currentTimeMillis() - 3600 * 1000L)
    val (live, removedSnaps, removedStray) = Storage.vacuum(base, keepLast = 2)
    assert(live == 4L && removedSnaps == 2L && removedStray == 1L,
      "aged debris swept; the fresh staging dir (possible in-flight writer) survives")
    assert(Storage.exists(s"$base/y.__append_fresh"),
      "vacuum must not race a concurrent writer: debris younger than the grace window stays")
    assert(Storage.ls(s"$base/data") == Seq("3", "4", "5"),
      "window {3,4} retained, live 4 untouched, in-flight 5 untouched")
    assert(Storage.history(base).map(v => (v.n, v.rows)) == Seq((3L, 30L), (4L, 40L)),
      "the expired versions' pointers go with their data")
    Storage.setMtime(s"$base/y.__append_fresh", System.currentTimeMillis() - 3600 * 1000L)
    Storage.setMtime(s"$base/data/5", System.currentTimeMillis() - 3600 * 1000L)
    val (_, _, swept2) = Storage.vacuum(base, keepLast = 2)
    assert(swept2 == 1L, "once past the grace window the abandoned staging dir is debris")
    assert(Storage.ls(s"$base/data") == Seq("3", "4"),
      "once past the grace window the uncommitted version 5 is debris too")
    assert(Storage.ls(base).count(_.contains("__")) == 0, "crash debris must be swept")
    assert(Storage.committed(base).read(spark, "data", spark.range(1).schema).count() == 40L,
      "live data intact")

    Storage.drop(s"$base/_commits")
    intercept[IllegalArgumentException](Storage.vacuum(base, keepLast = 2))

    // Uninitialized store (no versions, no pointer): clean debris-only
    // no-op, not a raw path-not-found error.
    val empty = "/tmp/graft_test_vac_empty"
    Storage.drop(empty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    assert(Storage.vacuum(empty, keepLast = 2) == (-1L, 0L, 0L))
  }

  test("observe audit: in-flight counters equal their recomputed aggregates") {
    val r = Governance.observeAudit.run(spark, sf).collect().head
    val docs = graft.Tables.documents(spark, sf)
    assert(r.getAs[Long]("n_in") == docs.count())
    assert(r.getAs[Long]("n_too_short") == docs.filter(col("n_chars") < 150).count())
    assert(r.getAs[Long]("n_too_long") == docs.filter(col("n_chars") > 400).count())
    assert(r.getAs[Long]("n_bad_lang") ==
      docs.filter(!col("lang").isin("en", "de", "es", "fr")).count())
    assert(r.getAs[Long]("n_kept") ==
      docs.filter(col("n_chars").between(150, 400) &&
        col("lang").isin("en", "de", "es", "fr")).count())
    assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_in"))
  }

  test("h34 runtime-Bloom join equals the plain join (the filter is a may-contain superset)") {
    val bloom = graft.queries.Headline.h34.run(spark, sf).collect()
    val plain = {
      val fact = graft.Tables.lineitem(spark, sf)
      val dim = graft.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" && year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"))
      fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag").collect()
    }
    assert(bloom.map(r => (r.getString(0), r.getAs[Long]("n"))).toSeq ==
      plain.map(r => (r.getString(0), r.getAs[Long]("n"))).toSeq)
  }

  test("group split: group strategy never splits a source; totals conserved") {
    val rows = graft.queries.Extensions.groupSplit.run(spark, sf).collect()
    assert(rows.length == 2)
    val byStrat = rows.map(r => r.getAs[String]("strategy") -> r).toMap
    val g = byStrat("group_hash"); val rw = byStrat("row_hash")
    assert(g.getAs[Long]("n_split_sources") == 0L,
      "group split's structural invariant: no source spans train and test")
    val total = graft.Tables.documents(spark, sf).count()
    assert(g.getAs[Long]("n_train") + g.getAs[Long]("n_test") == total)
    assert(rw.getAs[Long]("n_train") + rw.getAs[Long]("n_test") == total)
  }
}
