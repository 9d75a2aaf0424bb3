package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{EtlConfig, Transform}

/** Dev tool: the ETL-path scaling measurement behind SCALE.md's "ETL"
  * section — the dedup-scope sweep (ScaleBench) covered the query
  * operators; this covers the e02/e03 pipeline SHAPE end-to-end:
  * text-file read → tokenizer parse (P1) → malformed filter (F1) →
  * bucket (T2) → windowed dedup (D1) → salted hour-partitioned parquet
  * sink (A1/K1/K3, `Transform.run`).
  *
  * Corpora: access-log lines synthesized DISTRIBUTEDLY (the e03 shape —
  * spark.range → one concat_ws projection, no driver materialization)
  * and written as plain text files, so the timed runs exercise the real
  * file-listing + text-scan input path. Every 7th line is re-emitted
  * (the e02 at-least-once discipline) so D1 does real work; timestamps
  * spread over 24 h so the sink writes a full day of hour partitions
  * (24 × salt fan-out — the layout a production day-batch produces).
  *
  * All scales run in ONE session (same JVM/JIT — this box drifts
  * ±30-40% across sessions, SURVEY "Reading BENCH files"); per scale:
  * min wall over `SPARK_GRAFT_BENCH_RUNS` (default 3) FULL runs of
  * `Transform.run` (each to a fresh sink dir), plus the
  * Spark-job count, summed job wall, and output file count of the last
  * run — file count is the check that the salted sink's fan-out stays
  * BOUNDED (≤ partitions × salt × ceil(rows/maxRecordsPerFile)) while
  * wall amortizes.
  *
  * Usage: `runMain graft.ScaleEtl <label>=<nLines> [...]`, e.g.
  * `1x=100000 10x=1000000 100x=10000000`.
  */
object ScaleEtl {
  val knobs = DevKit.Knobs(
    env = Set("SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_SCALE_DIR"), labels = true)

  def main(args: Array[String]): Unit = {
    val scales = args.toSeq.map(DevKit.pair).map { case (l, n) => (l, n.toLong) }
    val runs = knobs.int("SPARK_GRAFT_BENCH_RUNS", 3)
    val work = knobs.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale-etl")
    val meter = DevKit.open("graft-scale-etl", knobs)
    val spark = meter.spark
    import spark.implicits._

    val rows = for ((label, n) <- scales) yield {
      // e03's line shape + e02's duplicate discipline; key/bytes vary per
      // line, timestamps cover a full day so all 24 hour-partitions exist
      val inDir = s"$work/in-$label"
      val base = ScaleEtl.logLines(spark, n)
      base.unionAll(base.filter(pmod(xxhash64($"value"), lit(7)) === 0))
        .repartition(32).write.mode("overwrite").text(inDir)
      val outDir = s"$work/out-$label"
      val run = DevKit.timedRuns(meter, runs,
          setup = _ => FileUtils.deleteQuietly(new File(outDir))) { _ =>
        Transform.run(spark, Seq(inDir), outDir, EtlConfig())
      }
      val m = run.meter
      val out = run.last.outputRows
      val nFiles =
        FileUtils.listFiles(new File(outDir), Array("parquet"), true).size
      System.err.println(f"[scale-etl] $label%-6s n=$n%9d min=${run.min}%7.2f s" +
        f"  jobs=${m.jobs}%3d jobSec=${m.jobSec}%7.2f files=$nFiles%4d" +
        f"  out=$out%9d  (${DevKit.wallsText(run.walls)})")
      DevKit.csv(label, n, run.min, m.jobs, m.jobSec, m.compiles, out, nFiles)
    }
    println("scale,n_lines,min_wall_s,jobs,job_sum_s,compiles,output_rows,n_files")
    rows.foreach(println)
    spark.stop()
  }

  /** e03's synthetic access-log line shape, generated DISTRIBUTEDLY
    * (spark.range → one concat_ws projection — no driver
    * materialization): key/bytes vary per line, request ids are unique
    * (line-level dedup keeps every base line), timestamps spread over a
    * full day so the sink writes all 24 hour partitions. Shared by
    * [[ScaleEtl]] and [[ScaleQueue]] so the file-fed and queue-fed
    * measurements push byte-identical line populations. */
  private[graft] def logLines(spark: SparkSession, n: Long) = {
    import spark.implicits._
    spark.range(n).select(concat_ws(" ",
      lit("deadbeefowner0123456789abcdef"),
      concat(lit("bucket-"), pmod($"id", lit(8))),
      concat(lit("["),
        date_format(timestamp_seconds(lit(1700000000L) + pmod($"id" * 131, lit(86400))),
          "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000]")),
      lit("192.0.2.9"), lit("arn:aws:iam::123456789012:user/t"),
      concat(lit("R"), $"id"),
      lit("REST.GET.OBJECT"),
      concat(lit("data/k"), pmod($"id", lit(9973)), lit(".bin")),
      concat(lit("\"GET /data/k"), pmod($"id", lit(9973)), lit(".bin HTTP/1.1\"")),
      lit("200"), lit("-"),
      pmod($"id" * 37, lit(1 << 20)).cast("string"),
      lit("-"), lit("11"), lit("3"), lit("\"-\""),
      lit("\"agent build x\""), lit("-"), lit("hostid/ex="), lit("SigV4"),
      lit("ECDHE-RSA-AES128-GCM-SHA256"), lit("AuthHeader"),
      lit("s3.example.com"), lit("TLSv1.2"), lit("-"), lit("Yes")).as("value"))
  }
}
