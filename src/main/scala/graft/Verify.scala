package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in an oracle's SQL would otherwise make the oracle
    * compare's json.load fail and silently zero the correctness table. */
  private[graft] def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def jsonObject(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // Contract: exactly (sfDir, outDir) from the driver. Any FURTHER args are
    // local-iteration query-name substrings (dump only matching queries).
    val Array(sfDir, outDir, rest @ _*) = args
    // No overrides: the dump runs the session the tests and the bench run.
    val spark = GraftSession.get("graft-verify")
    GraftSession.quietWindowWarnings()
    new java.io.File(outDir).mkdirs()
    // A trailing '$' on a selector demands an EXACT name match (substring
    // selection cannot isolate a query that is a prefix of its siblings,
    // e.g. x_curation_pipeline vs ..._pipeline3).
    val selected =
      if (rest.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) =>
        rest.exists(r => if (r.endsWith("$")) n == r.dropRight(1) else n.contains(r))
      }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(SparkEntry.oracleSql))
    // GenData-only oracle faces (Q.genOracle): valid ONLY on gen dirs, where
    // the planted structure they exploit holds by construction. The sweep
    // merges this over oracle_sql.json when ORACLE_OVERLAY points at it;
    // the driver's sf0.01 gate never reads it.
    Files.writeString(Paths.get(s"$outDir/gen_oracle_sql.json"),
      jsonObject(graft.queries.Registry.genOracleSql))
    // Full registry name list (includes the contracted no_oracle queries,
    // which oracle_sql.json omits) — the precommit registry-vs-EXPLAIN diff
    // reads this so no late-landing query can ship without a plan audit.
    Files.writeString(Paths.get(s"$outDir/registry.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(quote).mkString("[", ",", "]"))
    // Failure manifest, written even when empty: a query that throws leaves
    // no parquet dir and would otherwise just SILENTLY VANISH from the
    // round's correctness table (a driver-side testdata change once dropped
    // 20 events queries this way, caught a round late). An artifact beats a
    // stderr line the launcher may discard.
    Files.writeString(Paths.get(s"$outDir/_failures.json"), jsonObject(failures))
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED — see _failures.json")
    }
    spark.stop()
  }
}
