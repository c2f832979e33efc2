package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GrepEngine
import java.nio.file.{Files, Paths}

/** The reference's `generate_logs_and_verify` test reimplemented
  * (closed-form expected counts per FIXTURES.md §5).
  */
class GrepEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val patterns = Seq("ERROR something", "WARNING else", "DEBUG now")

  private def writeLogs(nNodes: Int): String = {
    val dir = Files.createTempDirectory("logs").toString
    (1 to nNodes).foreach { i =>
      val lines = GrepEngine.generateTestLog(patterns)
      Files.write(Paths.get(s"$dir/vm$i.log"), String.join("\n", lines: _*).getBytes)
    }
    dir
  }

  test("per-file counts: pattern x10 per node") {
    val dir  = writeLogs(3)
    val logs = GrepEngine.logs(spark, dir)
    val counts = GrepEngine.run(logs, "grep -c 'ERROR'").collect()
    assert(counts.length == 3)
    assert(counts.forall(_.getLong(1) == 10L))
  }

  test("total count: '200' x1000 per node") {
    val dir  = writeLogs(2)
    val logs = GrepEngine.logs(spark, dir)
    val total = GrepEngine.run(logs, "grep -c '200'").collect().map(_.getLong(1)).sum
    assert(total == 2000L)
  }

  test("parser is quote-aware: alternation in quotes, dash-led quoted patterns") {
    import GrepEngine.GrepStage
    // '|' inside quotes is regex alternation, not a pipe stage boundary.
    assert(GrepEngine.parseCmd("grep 'ERROR|WARNING'").stages == Seq(GrepStage("ERROR|WARNING")))
    // A quoted pattern starting with '-' is a pattern, not a flag.
    assert(GrepEngine.parseCmd("grep '-v'").stages == Seq(GrepStage("-v")))
    // Flags + quoted multi-word pattern + unquoted pipe stage.
    val c3 = GrepEngine.parseCmd("grep -c -i 'a b' | grep -v xyz")
    assert(c3.countMode)
    assert(c3.stages == Seq(GrepStage("a b", invert = false, ignoreCase = true),
                            GrepStage("xyz", invert = true)))
  }

  // Fixture layout per file (generateTestLog with the 3 patterns above):
  // lines 1-10 "ERROR", 11-20 "WARNING", 21-30 "DEBUG",
  // 31-130 "Random text", 131-1130 "100 200 300".

  test("-n: exact 1-based line numbers from the wholetext loader") {
    val dir  = writeLogs(2)
    val logs = GrepEngine.logsWithLineNo(spark, dir)
    val rows = GrepEngine.run(logs, "grep -n 'ERROR'").collect()
    assert(rows.length == 20, "10 ERROR lines x 2 files")
    val perFile = rows.groupBy(_.getString(0))
    perFile.values.foreach { rs =>
      assert(rs.map(_.getLong(rs.head.fieldIndex("line_no"))).sorted.toSeq == (1L to 10L),
        "ERROR occupies exactly lines 1-10 of each file")
    }
    // Without -n the column is dropped (grep's default presentation).
    assert(!GrepEngine.run(logs, "grep 'ERROR'").columns.contains("line_no"))
  }

  test("-o: one row per regex MATCH, not per line") {
    val dir  = writeLogs(1)
    val logs = GrepEngine.logs(spark, dir)
    // '200' matches once per "100 200 300" line -> 1000.
    assert(GrepEngine.run(logs, "grep -o '200'").count() == 1000L)
    // '0' matches twice in each of 100/200/300 -> 6 per line -> 6000.
    assert(GrepEngine.run(logs, "grep -o '0'").count() == 6000L)
    // The match string itself becomes the row value.
    val vals = GrepEngine.run(logs, "grep -o '[0-9]+'").select("value").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("100", "200", "300"))
  }

  test("-A/-B/-C: context windows in file order, closed-form row counts") {
    val dir  = writeLogs(1)
    val logs = GrepEngine.logsWithLineNo(spark, dir)
    // DEBUG at 21-30; -A 2 adds lines 31,32 -> 12 rows.
    assert(GrepEngine.run(logs, "grep -n -A 2 'DEBUG'").count() == 12L)
    // Random at 31-130; -B 3 adds 28,29,30 -> 103 rows.
    assert(GrepEngine.run(logs, "grep -B 3 'Random'").count() == 103L)
    // WARNING at 11-20; -C 1 adds 10 and 21 -> 12 rows (attached -C1 form).
    assert(GrepEngine.run(logs, "grep -C1 'WARNING'").count() == 12L)
    // Context flags on a table without line numbers fail loudly.
    val flat = GrepEngine.logs(spark, dir)
    assertThrows[IllegalArgumentException] {
      GrepEngine.run(flat, "grep -A 1 'DEBUG'")
    }
  }

  test("-o feeds downstream pipe stages match strings, not lines") {
    val dir  = writeLogs(1)
    val logs = GrepEngine.logs(spark, dir)
    // Stage 1 explodes each number; stage 2 greps the MATCHES: all of
    // 100/200/300 contain '00' -> 3000; only '300' survives 'grep 300'.
    assert(GrepEngine.run(logs, "grep -o '[0-9]+' | grep '00'").count() == 3000L)
    assert(GrepEngine.run(logs, "grep -o '[0-9]+' | grep '300'").count() == 1000L)
    // -v -o emits nothing: inverted survivors cannot contain the pattern.
    assert(GrepEngine.run(logs, "grep -v -o 'Random'").count() == 0L)
  }

  test("parser: context radii in both spaced and attached forms") {
    import GrepEngine.GrepStage
    val c1 = GrepEngine.parseCmd("grep -n -A 3 'x' | grep -B2 -o 'y'")
    assert(c1.lineNumbers)
    assert(c1.stages == Seq(
      GrepStage("x", after = 3),
      GrepStage("y", onlyMatching = true, before = 2)))
    val c2 = GrepEngine.parseCmd("grep -C 4 'z'")
    assert(c2.stages == Seq(GrepStage("z", after = 4, before = 4)))
    // Quoted dash-led tokens stay patterns even with the new flags.
    assert(GrepEngine.parseCmd("grep '-A 3'").stages == Seq(GrepStage("-A 3")))
  }

  test("pipe chain with -v and -i via command parser") {
    val dir  = writeLogs(1)
    val logs = GrepEngine.logs(spark, dir)
    // 'Random text' x100; invert drops them all
    val kept = GrepEngine.run(logs, "grep -i 'random' | grep -v 'text'")
    assert(kept.count() == 0L)
    val counts = GrepEngine.run(logs, "grep -c 'Random'")
    assert(counts.collect()(0).getLong(1) == 100L)
  }

  test("-F: the pattern is a literal, not a regex") {
    val dir  = writeLogs(1)
    val logs = GrepEngine.logs(spark, dir)
    // As a regex '1.0' matches '100' (x1000 lines); as a literal it matches
    // nothing in the fixture.
    assert(GrepEngine.run(logs, "grep '1.0'").count() == 1000L)
    assert(GrepEngine.run(logs, "grep -F '1.0'").count() == 0L)
  }

  test("-w: whole words only; -x: whole lines only") {
    val dir  = writeLogs(1)
    val logs = GrepEngine.logs(spark, dir)
    // '00' occurs inside 100/200/300 but never as a whole word.
    assert(GrepEngine.run(logs, "grep '00'").count() == 1000L)
    assert(GrepEngine.run(logs, "grep -w '00'").count() == 0L)
    assert(GrepEngine.run(logs, "grep -w '200'").count() == 1000L)
    // -x: 'Random' is a substring of its line, 'Random text' IS the line.
    assert(GrepEngine.run(logs, "grep -x 'Random'").count() == 0L)
    assert(GrepEngine.run(logs, "grep -x 'Random text'").count() == 100L)
  }

  test("-l: files with matches, once each; beats -c like grep") {
    val dir  = writeLogs(3)
    val logs = GrepEngine.logs(spark, dir)
    val files = GrepEngine.run(logs, "grep -l 'ERROR'").collect().map(_.getString(0))
    assert(files.length == 3 && files.distinct.length == 3)
    assert(GrepEngine.run(logs, "grep -c -l 'ERROR'").columns.toSeq == Seq("file"))
    assert(GrepEngine.run(logs, "grep -l 'no_such_pattern_xyz'").count() == 0L)
  }

  test("-m: first N matching lines per file, in file order; context expands around survivors") {
    val dir  = writeLogs(2)
    val logs = GrepEngine.logsWithLineNo(spark, dir)
    // ERROR lines are 1-10 per file; -m 4 keeps lines 1-4 of each.
    val rows = GrepEngine.run(logs, "grep -n -m 4 'ERROR'")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 8)
    assert(rows.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L)))
    // -m with trailing context: 2 hits, context stretches one line past them.
    val ctx = GrepEngine.run(logs, "grep -n -m 2 -A 1 'ERROR'")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(ctx.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L)))
    // Attached form parses too.
    assert(GrepEngine.parseCmd("grep -m3 'x'").stages.head.maxCount == 3)
  }

  test("template tokens: <filename> strips cleanly, <fnactual f> overrides the file") {
    import GrepEngine.extractFileTemplate
    // Case 1 (README.md:299-316): positioning token parses out of a pipe chain.
    val (c1, f1) = extractFileTemplate("grep 'ERROR' <filename> | grep -v 'DEBUG'")
    assert(f1.isEmpty)
    val s1 = GrepEngine.parseCmd(c1).stages
    assert(s1.map(_.pattern) == Seq("ERROR", "DEBUG") && s1(1).invert)
    // Case 2 (README.md:318-333): fnactual names the file, no positioning.
    val (c2, f2) = extractFileTemplate("grep 'PATTERN' <fnactual my_custom_file.log>")
    assert(f2.contains("my_custom_file.log"))
    assert(GrepEngine.parseCmd(c2).stages.map(_.pattern) == Seq("PATTERN"))
    // Case 3 (README.md:335-345): both tokens combine.
    val (c3, f3) = extractFileTemplate("grep 'ERROR' <fnactual test.log> <filename> | grep -v 'DEBUG'")
    assert(f3.contains("test.log"))
    assert(GrepEngine.parseCmd(c3).stages.map(_.pattern) == Seq("ERROR", "DEBUG"))
    // Tokens inside a QUOTED pattern are pattern text for the stage parser,
    // but fnactual extraction is string-level (reference parity): not our case.
    val (c4, f4) = extractFileTemplate("grep -c '500' <filename>")
    assert(f4.isEmpty && GrepEngine.parseCmd(c4).countMode)
  }

  test("runTemplated: fnactual scopes the scan to one file of the directory") {
    val dir = writeLogs(3)
    // Default: all three vm logs.
    val all = GrepEngine.runTemplated(spark, dir, "grep -c 'ERROR'").collect()
    assert(all.length == 3 && all.forall(_.getLong(1) == 10L))
    // fnactual: just vm2.log — 10 ERROR lines from exactly one file.
    val one = GrepEngine.runTemplated(spark, dir,
      "grep -c 'ERROR' <fnactual vm2.log> <filename>").collect()
    assert(one.length == 1 && one(0).getLong(1) == 10L)
    assert(one(0).getString(0).endsWith("vm2.log"))
    // -n routes through the line-numbered loader under a template too.
    val n = GrepEngine.runTemplated(spark, dir, "grep -n -m 2 'ERROR' <fnactual vm1.log>")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(n == Seq(1L, 2L))
  }

  test("runTemplated: context flags without -n load line numbers, then drop them") {
    val dir  = writeLogs(2)
    val want = GrepEngine.run(GrepEngine.logsWithLineNo(spark, dir), "grep -C 1 'WARNING'")
    assert(!want.columns.contains("line_no"))
    val got  = GrepEngine.runTemplated(spark, dir, "grep -C 1 'WARNING'")
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
    assert(got.count() == 24L) // WARNING at 11-20 plus lines 10 and 21, in each of 2 files
  }

  test("runTemplated: a relative fnactual cannot escape the logs directory") {
    val dir = writeLogs(1)
    val e = intercept[IllegalArgumentException] {
      GrepEngine.runTemplated(spark, dir, "grep -c 'x' <fnactual ../../etc/passwd>")
    }
    assert(e.getMessage.contains("escapes"))
    // In-dir dot-segments that normalize back inside are still fine.
    val ok = GrepEngine.runTemplated(spark, dir,
      "grep -c 'ERROR' <fnactual ./vm1.log>").collect()
    assert(ok.length == 1 && ok(0).getLong(1) == 10L)
  }
}
