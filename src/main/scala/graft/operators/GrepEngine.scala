package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed-grep (MP1) query surface as a single Spark job.
  *
  * The reference scatter-gathers a raw `grep` command to every alive peer,
  * shells out per node, and re-aggregates counts (`core_process.go:91-124,
  * 259-349,455-478`). Here the whole surface is one DataFrame scan: per-file
  * parallelism comes from input splits, liveness from the scheduler, and the
  * documented flag surface (`README.md:266-348` in the reference: `-c`, `-i`,
  * `-v`, `-E`, pipe chains — plus the shell-grep long tail `-n`, `-o`,
  * `-A/-B/-C`, `-F`, `-w`, `-x`, `-l`, `-m` the reference gets for free by
  * shelling out) becomes a chain of per-stage transforms.
  *
  * At 100 TB scale this shape matters: the regex filter is applied inside the
  * scan stage (no shuffle at all for full-line mode; a single partial→final
  * agg for count mode). Line-numbered mode ([[logsWithLineNo]]) trades split
  * granularity for exact line numbers — parallelism is per FILE, which is
  * exactly the reference's unit of distribution (one log per node); a single
  * file too big for one task is the commit-log byte-index's territory
  * ([[graft.sources.CommitLog]]), not grep's.
  */
object GrepEngine {

  /** One stage of a grep pipe chain. `after`/`before` are the `-A`/`-B`
    * context radii (`-C n` sets both); `onlyMatching` is `-o` (the stage
    * emits each regex MATCH as its own row, so a downstream pipe stage sees
    * match strings — faithful shell-pipe semantics).
    */
  final case class GrepStage(
      pattern: String,
      invert: Boolean = false,
      ignoreCase: Boolean = false,
      onlyMatching: Boolean = false,
      after: Int = 0,
      before: Int = 0,
      fixed: Boolean = false,      // -F: pattern is a literal string
      wordMatch: Boolean = false,  // -w: match must be a whole word
      lineMatch: Boolean = false,  // -x: match must be the whole line
      maxCount: Int = 0)           // -m N: stop after N matching lines per file

  /** A parsed grep command chain. `countMode`/`lineNumbers`/`filesOnly` are
    * presentation flags (`-c`, `-n`, `-l`) — they shape the OUTPUT of
    * [[run]], while the other flags transform rows stage by stage.
    */
  final case class GrepCmd(
      stages: Seq[GrepStage],
      countMode: Boolean,
      lineNumbers: Boolean,
      filesOnly: Boolean = false)

  /** Load a logs directory as a `(file, value)` table — the Spark analog of
    * per-node `vm(i).log` files (`core_process.go:157-162`).
    */
  def logs(spark: SparkSession, path: String): DataFrame =
    spark.read
      .textFile(path)
      .select(input_file_name().as("file"), col("value"))

  /** Line-NUMBERED logs table `(file, line_no, value)`, 1-based like grep
    * `-n`. Line numbers need per-file order, which a split-parallel text
    * scan cannot provide, so each file loads as one unit (`wholetext`) and
    * explodes — per-file parallelism, the reference's own distribution grain.
    */
  def logsWithLineNo(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .textFile(path)
      .select(input_file_name().as("file"),
        posexplode(split(col("value"), "\n", -1)).as(Seq("idx", "value")))
      .select(col("file"), (col("idx") + 1).cast("long").as("line_no"), col("value"))

  private def applyStage(df: DataFrame, s: GrepStage): DataFrame = {
    // -F/-w/-x shape the pattern: quote → whole-word lookarounds → whole-line
    // anchors. -x wins over -w (an anchored match needs no word boundary).
    val core = if (s.fixed) java.util.regex.Pattern.quote(s.pattern) else s.pattern
    val shaped =
      if (s.lineMatch) s"^(?:$core)$$"
      else if (s.wordMatch) s"(?<![0-9A-Za-z_])(?:$core)(?![0-9A-Za-z_])"
      else core
    val pat     = if (s.ignoreCase) "(?i)" + shaped else shaped
    val matches = col("value").rlike(pat)
    val hit     = if (s.invert) !matches else matches
    val base =
      if (s.after > 0 || s.before > 0 || s.maxCount > 0) {
        require(df.columns.contains("line_no"),
          "context (-A/-B/-C) and max-count (-m) flags need a line-numbered logs table — use GrepEngine.logsWithLineNo")
        // Line X is emitted iff a hit exists in [X-after, X+before] of ITS
        // file — the frame asks each row "am I within some hit's context
        // window". One partitioned window per context stage, no shuffle of
        // anything but the (file)-keyed frame. `__pos` orders rows that
        // share a line_no after an upstream -o explosion.
        val ord =
          if (df.columns.contains("__pos")) Seq(col("line_no"), col("__pos"))
          else Seq(col("line_no"))
        // -m N: only the first N matching lines per file count as hits (the
        // running-count-over-file-order form of grep's early stop; context
        // radii then expand around the SURVIVING hits, like grep).
        val marked =
          if (s.maxCount > 0) {
            val wRun = Window.partitionBy(col("file")).orderBy(ord: _*)
              .rowsBetween(Window.unboundedPreceding, 0)
            df.withColumn("__h0", hit.cast("int"))
              .withColumn("__hit",
                when(col("__h0") === 1 && sum(col("__h0")).over(wRun) <= s.maxCount, 1).otherwise(0))
          } else df.withColumn("__hit", hit.cast("int"))
        val emitted =
          if (s.after > 0 || s.before > 0) {
            val w = Window.partitionBy(col("file")).orderBy(ord: _*)
              .rowsBetween(-s.after, s.before)
            marked.withColumn("__emit", max(col("__hit")).over(w) === 1).filter(col("__emit"))
          } else marked.filter(col("__hit") === 1)
        emitted.drop("__h0", "__hit", "__emit")
      } else df.filter(hit)
    if (s.onlyMatching) {
      // -v -o emits nothing (inverted survivors contain no match) — the
      // empty extract array drops the row in the explode, exactly grep.
      val keep = base.columns.filterNot(c => c == "value" || c == "__pos").map(col).toSeq
      base.select(keep :+
        posexplode(regexp_extract_all(col("value"), lit(pat), lit(0)))
          .as(Seq("__pos", "value")): _*)
    } else base
  }

  /** Full-line mode: all rows surviving the stage chain, with their source
    * file (and `line_no` when the input table carries it).
    */
  def matchLines(logs: DataFrame, stages: Seq[GrepStage]): DataFrame = {
    val out = stages.foldLeft(logs)(applyStage)
    if (out.columns.contains("__pos")) out.drop("__pos") else out
  }

  /** Command-line translator for the shell-grep surface:
    * `grep [-c] [-i] [-v] [-E] [-n] [-o] [-F] [-w] [-x] [-l] [-m n]
    * [-A n] [-B n] [-C n] PATTERN [| grep ...]`.
    * Quote-aware: `|` inside a quoted pattern is regex
    * alternation, not a pipe (`grep 'a|b'` is ONE stage), and a quoted
    * pattern is never mistaken for a flag even if it starts with `-`.
    * Context radii accept both `-A 3` and `-A3`. An unknown dash token
    * starts the pattern (so un-flag-like patterns never need quoting).
    */
  def parseCmd(cmd: String): GrepCmd = {
    var countMode   = false
    var lineNumbers = false
    var filesOnly   = false
    val stages = Cli.splitUnquoted(cmd, '|').map(_.trim).filter(_.nonEmpty).map { seg =>
      val toks =
        Cli.splitWithQuotes(seg).filterNot(t => !t.quoted && t.text == "grep").toIndexedSeq
      var i      = 0
      var inv    = false
      var ic     = false
      var om     = false
      var fx     = false
      var wm     = false
      var lm     = false
      var maxC   = 0
      var after  = 0
      var before = 0
      var done   = false
      val ctxNum = "-([ABCm])(\\d+)".r
      while (i < toks.length && !done) {
        val t = toks(i)
        if (t.quoted || !t.text.startsWith("-") || t.text.length <= 1) done = true
        else t.text match {
          case "-c" => countMode = true; i += 1
          case "-i" => ic = true; i += 1
          case "-v" => inv = true; i += 1
          case "-E" => i += 1
          case "-n" => lineNumbers = true; i += 1
          case "-o" => om = true; i += 1
          case "-F" => fx = true; i += 1
          case "-w" => wm = true; i += 1
          case "-x" => lm = true; i += 1
          case "-l" => filesOnly = true; i += 1
          case f @ ("-A" | "-B" | "-C" | "-m")
              if i + 1 < toks.length && !toks(i + 1).quoted && toks(i + 1).text.forall(_.isDigit) =>
            val n = toks(i + 1).text.toInt
            f match {
              case "-A" => after = n
              case "-B" => before = n
              case "-m" => maxC = n
              case _    => after = n; before = n
            }
            i += 2
          case ctxNum(which, digits) =>
            val n = digits.toInt
            which match {
              case "A" => after = n
              case "B" => before = n
              case "m" => maxC = n
              case _   => after = n; before = n
            }
            i += 1
          case _ => done = true
        }
      }
      val pat = toks.drop(i).map(_.text).mkString(" ")
      GrepStage(pat, invert = inv, ignoreCase = ic, onlyMatching = om,
        after = after, before = before,
        fixed = fx, wordMatch = wm, lineMatch = lm, maxCount = maxC)
    }
    GrepCmd(stages, countMode, lineNumbers, filesOnly)
  }

  /** End-to-end: translate a grep command and run it over a logs table.
    * `-n` keeps the `line_no` column when the table has one (load with
    * [[logsWithLineNo]]); without `-n` it is dropped from the output, like
    * grep's default presentation.
    */
  def run(logs: DataFrame, cmd: String): DataFrame = {
    val c   = parseCmd(cmd)
    val out = matchLines(logs, c.stages)
    if (c.filesOnly) out.select(col("file")).distinct().orderBy(col("file")) // -l beats -c, like grep
    else if (c.countMode) out.groupBy(col("file")).agg(count(lit(1)).as("matches"))
    else if (!c.lineNumbers && out.columns.contains("line_no")) out.drop("line_no")
    else out
  }

  /** Literal template tokens from the reference's grep CLI (`README.md:
    * 299-348`): `<filename>` POSITIONS the engine-supplied filename inside a
    * piped command, and `<fnactual f>` overrides WHICH file the chain runs
    * on. In the Spark re-expression the "filename" is the scanned path — an
    * argument to the plan, not text inside it — so `<filename>` parses and
    * strips (its position carries no plan meaning here, exactly because the
    * path never rides the command string), while `<fnactual f>` yields the
    * file override the caller resolves. Returns (command with all tokens
    * removed, fnactual override if present).
    */
  private val FnActual = "<fnactual\\s+([^>]+)>".r

  def extractFileTemplate(cmd: String): (String, Option[String]) = {
    val fn      = FnActual.findFirstMatchIn(cmd).map(_.group(1).trim)
    val cleaned = FnActual.replaceAllIn(cmd, " ").replace("<filename>", " ")
    (cleaned, fn)
  }

  /** [[run]] with reference template-token parity: resolves `<fnactual f>`
    * against `dir` (relative names stay inside the logs directory — the
    * reference's "my favorite filename on that VM" case; absolute paths pass
    * through), strips `<filename>` positioning tokens, and loads with line
    * numbers only when `-n`, a context flag (`-A`/`-B`/`-C`) or `-m` needs
    * them (the wholetext line-number scan is strictly more expensive, so pay
    * it only then; [[run]] drops `line_no` again without `-n`).
    */
  def runTemplated(spark: SparkSession, dir: String, cmd: String): DataFrame = {
    val (clean, fn) = extractFileTemplate(cmd)
    val path = fn match {
      case Some(f) if f.startsWith("/") => f
      case Some(f)                      =>
        // Normalize and require containment: a caller-supplied relative name
        // like "../../secret.log" must not escape the logs directory.
        val base     = java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
        val resolved = base.resolve(f).normalize()
        require(resolved.startsWith(base),
          s"fnactual '$f' escapes the logs directory '$dir'")
        resolved.toString
      case None                         => dir
    }
    val c = parseCmd(clean)
    val numbered = c.lineNumbers ||
      c.stages.exists(s => s.after > 0 || s.before > 0 || s.maxCount > 0)
    val table = if (numbered) logsWithLineNo(spark, path) else logs(spark, path)
    run(table, clean)
  }

  /** Deterministic test-log generator, reimplementing the reference's
    * `generate_test_log_file` (`core_process.go:42-86`): pattern×10,
    * `Random text`×100, `100 200 300`×1000 — so expected grep counts are
    * closed-form (G4).
    */
  def generateTestLog(patterns: Seq[String]): Seq[String] =
    patterns.flatMap(p => Seq.fill(10)(p.split("\\s+").head)) ++
      Seq.fill(100)("Random text") ++
      Seq.fill(1000)("100 200 300")
}
