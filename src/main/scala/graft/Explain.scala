package graft

import java.nio.file.{Files, Paths}

/** Plan-audit dumps: `explain("formatted")` output of registry queries.
  *
  *  - `Explain [sfDir]` writes EXPLAIN.md with the plan of EVERY registry
  *    query, so the plan shapes graded at scale (pushdown, pruning,
  *    broadcast, partial agg, TakeOrdered, Expand, no nested loops) are
  *    reviewable without running anything. Regenerate it at sf0.001.
  *  - `Explain <sfDir> <outDir> <tag> <query>...` writes one
  *    `<outDir>/<query>_<tag>.txt` per named query (exact names), for
  *    before/after plan diffs in optimization work, e.g.
  *    `sbt "runMain graft.Explain <sf0.001 dir> plans/r19 before x_acf"`.
  *
  * Overrides on the GraftSession defaults: `local[4]` with 4 shuffle
  * partitions, so the committed artifact does not depend on the host's core
  * count.
  */
object Explain {
  // EVERY registry query, in family order — the r12 verdict found that a
  // curated pick list lets late-landing queries ship without a plan audit
  // (x_equidepth_histogram did exactly that); full enumeration + the
  // precommit registry-vs-EXPLAIN diff make the audit mechanical.
  private def picks: Seq[String] = queries.Registry.all.map(_.name)

  def main(args: Array[String]): Unit = {
    require(args.length <= 1 || args.length >= 4,
      "usage: Explain [sfDir] | Explain <sfDir> <outDir> <tag> <query>...")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("graft-explain")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): Option[String] =
      SparkEntry.queries.get(name).map(fn => fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))

    if (args.length >= 4) {
      val Array(_, outDir, tag, names @ _*) = args
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        plan(name) match {
          case Some(p) =>
            Files.write(Paths.get(s"$outDir/${name}_$tag.txt"), p.getBytes("UTF-8"))
            println(s"wrote $outDir/${name}_$tag.txt")
          case None => println(s"unknown query: $name")
        }
      }
    } else {
      val sb = new StringBuilder
      sb ++= "# EXPLAIN — formatted physical plans (generated artifact)\n\n"
      sb ++= s"Generated by `sbt \"runMain graft.Explain $sfDir\"` — do not edit.\n"
      sb ++= "Every registry query, in family order; the shapes to check\n"
      sb ++= "are documented in SCALE.md and pinned in PlanSpec.\n"
      picks.foreach(name => plan(name).foreach(p => sb ++= s"\n## $name\n\n```\n$p```\n"))
      Files.write(Paths.get("EXPLAIN.md"), sb.toString.getBytes("UTF-8"))
      println(s"wrote EXPLAIN.md (${picks.size} plans)")
    }
    spark.stop()
  }
}
