package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.operators.ReferenceWorkloads

/** Head-to-head against BASELINE.md's published numbers, on the reference's
  * OWN fixture data at the reference's OWN report scale and fairness config
  * (`Reports/MP4_Report.pdf` p.2: batch size 100, 3 tasks per stage;
  * Lichess input 100,000 lines, Parking 20,000):
  *
  *  - inputs are the reference fixtures replicated to the report's line
  *    counts and laid out as 100-line files, so one micro-batch == one
  *    100-record admission unit, exactly the report's batching;
  *  - the session runs `local[3]` with 3 shuffle partitions — the report's
  *    per-stage task count, on ONE box (the reference had 10 VMs);
  *  - each workload runs twice: STREAMING with `maxFilesPerTrigger=1`
  *    (strict batch-100 parity, hundreds of micro-batches) and BATCH (the
  *    engine-native single pass);
  *  - metric matches the report: total input records / total wall time.
  *
  * Overrides on the GraftSession defaults: `local[3]` and 3 shuffle
  * partitions, the fairness config above.
  *
  * One-off artifact generator (not part of the per-round Bench):
  * `sbt "runMain graft.BenchBaseline"` → BASELINE_COMPARE.md.
  */
object BenchBaseline {

  private def replicateToFiles(src: String, targetLines: Int, outDir: String): Int = {
    val raw = Files.readAllBytes(Paths.get(src))
    val lines = new String(raw, StandardCharsets.ISO_8859_1).split("\n", -1).filter(_.nonEmpty)
    val dir = Paths.get(outDir)
    if (Files.exists(dir)) {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
    Files.createDirectories(dir)
    var written = 0
    var fileNo  = 0
    val batch   = new StringBuilder
    var inBatch = 0
    while (written < targetLines) {
      batch ++= lines(written % lines.length); batch += '\n'
      written += 1; inBatch += 1
      if (inBatch == 100 || written == targetLines) {
        Files.write(dir.resolve(f"part-$fileNo%05d.txt"),
          batch.toString.getBytes(StandardCharsets.ISO_8859_1))
        fileNo += 1; inBatch = 0; batch.clear()
      }
    }
    written
  }

  private def naive(df: DataFrame): DataFrame =
    df.select(org.apache.spark.sql.functions.split(
      org.apache.spark.sql.functions.col("value"), ",").as("f"))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-baseline")
      .master("local[3]")
      .config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val lichessDir = "/tmp/baseline_lichess"
    val parkingDir = "/tmp/baseline_parking"
    val nL = replicateToFiles("/root/reference/HYDFS/business/Lichess.txt", 100000, lichessDir)
    val nP = replicateToFiles("/root/reference/HYDFS/business/Parking_Meter_Spaces.txt", 20000, parkingDir)

    def streamSecs(dir: String, pipe: DataFrame => DataFrame): Double = {
      val ckpt = Files.createTempDirectory("blckpt").toString
      val in = spark.readStream
        .option("maxFilesPerTrigger", "1") // one 100-line file per micro-batch
        .text(dir)
      val t0 = System.nanoTime()
      val q = pipe(naive(in)).writeStream
        .format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    def batchSecs(dir: String, pipe: DataFrame => DataFrame): Double = {
      val t0 = System.nanoTime()
      pipe(naive(spark.read.text(dir))).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    case class W(name: String, dir: String, n: Int, ref: Double, refSpark: Double,
                 pipe: DataFrame => DataFrame)
    val ws = Seq(
      W("L-simple", lichessDir, nL, 145, 440, ReferenceWorkloads.lichessSimple),
      W("L-complex", lichessDir, nL, 65, 445, ReferenceWorkloads.lichessComplex),
      W("P-simple", parkingDir, nP, 87, 145, ReferenceWorkloads.parkingSimple),
      W("P-complex", parkingDir, nP, 105, 170, ReferenceWorkloads.parkingComplex))

    val sb = new StringBuilder
    sb ++= "# BASELINE_COMPARE — head-to-head on the reference's own workloads (generated)\n\n"
    sb ++= "Generated by `sbt \"runMain graft.BenchBaseline\"` — do not edit.\n\n"
    sb ++= "Reference fixtures replicated to the MP4 report's input sizes\n"
    sb ++= s"(Lichess $nL lines, Parking $nP), 100-line files = the report's\n"
    sb ++= "batch-100 admission unit, session `local[3]` + 3 shuffle partitions =\n"
    sb ++= "the report's 3-tasks-per-stage fairness config, on ONE machine (the\n"
    sb ++= "reference numbers come from a ~10-VM cluster). Metric = total input\n"
    sb ++= "records / wall seconds, the report's own throughput definition.\n\n"
    sb ++= "| workload | mode | time (s) | this engine (t/s) | reference RainStorm (t/s) | reference's Spark Streaming (t/s) | speedup vs reference |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    val measured = ws.map { w =>
      val sS = streamSecs(w.dir, w.pipe)
      val sB = batchSecs(w.dir, w.pipe)
      val tS = w.n / sS
      val tB = w.n / sB
      sb ++= f"| ${w.name} | streaming, batch=100 | $sS%.1f | ${tS}%.0f | ~${w.ref}%.0f | ~${w.refSpark}%.0f | ${tS / w.ref}%.0fx |\n"
      sb ++= f"| ${w.name} | batch | $sB%.2f | ${tB}%.0f | — | — | ${tB / w.ref}%.0fx |\n"
      println(f"[baseline] ${w.name}: streaming $sS%.1f s (${tS}%.0f t/s), batch $sB%.2f s (${tB}%.0f t/s)")
      (w, tS, tB)
    }
    // Only what the rows above measured: each mode's speedup range over
    // the reference's RainStorm, and how many streaming rows reach the
    // reference's own Spark Streaming figure.
    val streamX = measured.map { case (w, tS, _) => tS / w.ref }
    val batchX  = measured.map { case (w, _, tB) => tB / w.ref }
    val atSpark = measured.count { case (w, tS, _) => tS >= w.refSpark }
    sb ++= f"\nStreaming at batch-100 parity runs ${streamX.min}%.0f-${streamX.max}%.0fx the\n"
    sb ++= s"reference's RainStorm, and reaches its Spark Streaming figure on $atSpark of\n"
    sb ++= s"${measured.size} workloads. The batch rows (same operators, one pass, no admission\n"
    sb ++= f"cap) run ${batchX.min}%.0f-${batchX.max}%.0fx the reference's RainStorm.\n"
    Files.write(Paths.get("BASELINE_COMPARE.md"), sb.toString.getBytes(StandardCharsets.UTF_8))
    println("wrote BASELINE_COMPARE.md")
    spark.stop()
  }
}
