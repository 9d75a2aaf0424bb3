package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.streaming.Trigger

import graft.etl.{EtlConfig, StreamingTransform}
import graft.sources.{FileQueue, QueueRegistry}

/** Dev tool: the queue-fed streaming measurement behind SCALE.md's
  * "queue-fed streaming" row. Correctness of the `graft-queue` → event
  * gate → transform → lake path is QueueSourceSpec's job; this measures
  * the path's DRAIN THROUGHPUT at volume: N synthetic access-log lines
  * ([[ScaleEtl.logLines]] — the same population the file-fed ScaleEtl
  * measurement pushes) split over K objects, one S3-event notification
  * per object enqueued on a real [[FileQueue]], then ONE
  * Trigger.AvailableNow drain through
  * [[StreamingTransform.queueNotificationPipeline]] — leases
  * heartbeated per trigger, every message acked only after its batch's
  * transform lands, exactly the production contract. Reported: drain
  * wall, lines/s (the number to read against the reference's 150k
  * lines/s loggen envelope, BASELINE.md), micro-batch count, output
  * rows, and the queue-empty check (a non-empty queue after an
  * AvailableNow drain means acks were lost — the measurement is then
  * invalid and says so).
  *
  * Per scale the drain runs `SPARK_GRAFT_BENCH_RUNS` (default 2) times
  * — fresh queue/checkpoint/sink each run, objects reused — min wall
  * reported (same-session min, the Bench discipline).
  *
  * Usage:
  *   runMain graft.ScaleQueue <label>=<nLines>:<nObjects>[:<maxMsgsPerTrigger>] ...
  *   e.g. 1x=100000:10 10x=1000000:100
  */
object ScaleQueue {
  val knobs = DevKit.Knobs(
    env = Set("SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_SCALE_DIR"), labels = true)

  def main(args: Array[String]): Unit = {
    val scales = args.toSeq.map(DevKit.pair).map { case (label, spec) =>
      val parts = spec.split(":")
      (label, parts(0).toLong, parts(1).toInt,
        if (parts.length > 2) parts(2).toInt else 10)
    }
    val runs = knobs.int("SPARK_GRAFT_BENCH_RUNS", 2)
    val work = knobs.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale-queue")
    val meter = DevKit.open("graft-scale-queue", knobs)
    val spark = meter.spark

    def event(key: String): String =
      s"""{"Records":[{"eventName":"ObjectCreated:Put","awsRegion":"us-east-1",""" +
        s""""s3":{"bucket":{"name":"scale-bucket"},"object":{"key":"$key","size":1}}}]}"""

    val rows = for ((label, n, k, maxMsgs) <- scales) yield {
      // objects: the file-fed generator's line population written as K
      // text objects (repartition(k) → exactly k part files)
      val objDir = s"$work/obj-$label"
      ScaleEtl.logLines(spark, n).repartition(k)
        .write.mode("overwrite").text(objDir)
      val objects = new File(objDir).listFiles
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.getName).sorted.toSeq
      require(objects.size == k, s"expected $k objects, got ${objects.size}")

      // fresh queue/checkpoint/sink per run, objects reused
      def dirs(r: Int) = Seq("queue", "out", "ckpt").map(d => s"$work/$d-$label-$r")
      val queues = scala.collection.mutable.ArrayBuffer.empty[FileQueue]
      val run = DevKit.timedRuns(meter, runs, setup = { r =>
        dirs(r).foreach(d => FileUtils.deleteQuietly(new File(d)))
        // visibility sized like production: >> trigger + batch runtime,
        // so no mid-drain redelivery muddies the throughput number
        val q = new FileQueue(dirs(r).head, visibilityTimeoutSeconds = 3600)
        QueueRegistry.register(s"scale-$label", q)
        objects.foreach(key => q.enqueue(event(key)))
        queues += q
      }) { r =>
        val Seq(_, out, ckpt) = dirs(r)
        val query = StreamingTransform.queueNotificationPipeline(spark,
            s"scale-$label", out, ckpt, (_, key) => s"$objDir/$key",
            EtlConfig(), maxMessagesPerTrigger = maxMsgs)
          .trigger(Trigger.AvailableNow()).start()
        query.awaitTermination(600000)
        query
      }
      val wall = run.min
      val batches = run.last.recentProgress.count(_.numInputRows > 0)
      val drained = queues.forall(_.size == 0)
      val outRows = spark.read.parquet(dirs(queues.size)(1)).count()
      System.err.println(f"[scale-queue] $label%-6s n=$n%9d objs=$k%4d " +
        f"min=$wall%7.2f s  ${n / wall}%9.0f lines/s  batches=$batches%3d " +
        f"out=$outRows%9d drained=$drained  (${DevKit.wallsText(run.walls)})")
      DevKit.csv(label, n, k, wall, (n / wall).toLong, outRows, batches,
        drained, run.meter.compiles)
    }
    println("scale,n_lines,n_objects,min_wall_s,lines_per_s,output_rows,batches,queue_drained,compiles")
    rows.foreach(println)
    spark.stop()
  }
}
