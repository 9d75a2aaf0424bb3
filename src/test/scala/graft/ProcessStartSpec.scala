package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.streaming.Trigger

import graft.etl._

/** The ETL paths start no OS process per file. A JFR recording with only
  * `jdk.ProcessStart` enabled counts what the JVM launches while a drain or
  * a batch transform runs — a count, so no clock enters the assertion.
  * Stock Hadoop without libhadoop forks `chmod` per created file and
  * `readlink` per `FileContext` rename (hundreds per drain); the session's
  * in-process local filesystem ([[graft.LocalFs]]) forks neither.
  */
class ProcessStartSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // Spark's heartbeat probes the page size once per JVM (`getconf
  // PAGESIZE`) on its first tick; take that probe now, not at a timer's
  // whim inside a recording.
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext // the probe reads the live SparkEnv
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
  }

  /** A launch Spark makes on its own, apart from any file the ETL touches:
    * the `java.lang.ref.Cleaner` of a collected session deleting that
    * session's artifact dir (`rm -rf`) whenever the GC gets to it. */
  private def sessionCleanup(launch: String): Boolean =
    launch.contains("org.apache.spark.sql.artifact.ArtifactManager")

  /** The processes started while `body` runs: each command with the
    * frames that launched it. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          (e.getString("command") +: frames.take(30)).mkString("\n  at ")
        }
    } finally { rec.close(); Files.delete(file) }
  }

  /** A `stream --once` drain with watermark dedup: one file per
    * micro-batch, each redelivering lines of the one before. */
  private def drain(tmp: String, files: Int): Unit = {
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    (0 until files).foreach { k =>
      val lines = LogGen.lines(200, seed = 60L + k) ++
        (if (k > 0) LogGen.lines(200, seed = 60L + k - 1).take(40) else Nil)
      Files.writeString(Paths.get(landing, s"b$k.log"), lines.mkString("", "\n", "\n"))
    }
    val q = StreamingTransform.writer(
      StreamingTransform.stream(spark, landing, maxFilesPerTrigger = 1,
        watermarkDelay = "1 hour"),
      s"$tmp/out", s"$tmp/ckpt").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty)
    assert(q.recentProgress.count(_.numInputRows > 0) == files)
    assert(spark.read.parquet(s"$tmp/out").count() == 200L * files)
  }

  test("a streaming drain with dedup over 3 micro-batches starts no process") {
    // one drain first: one-time class initialisation may probe the OS
    drain(Files.createTempDirectory("graft-fork-warm").toString, 1)
    val tmp = Files.createTempDirectory("graft-fork-stream").toString
    val started = processStarts(drain(tmp, 3))
    assert(started.filterNot(sessionCleanup).isEmpty, started.mkString("\n"))
  }

  test("a batch transform starts no process") {
    val tmp = Files.createTempDirectory("graft-fork-batch").toString
    val in = s"$tmp/in"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(in, "a.log"),
      LogGen.lines(1000, seed = 64, dupFrac = 0.1).mkString("", "\n", "\n"))
    Transform.run(spark, Seq(in), s"$tmp/warm")
    val started = processStarts {
      val stats = Transform.run(spark, Seq(in), s"$tmp/out")
      assert(stats.outputRows == 1000)
    }
    assert(started.filterNot(sessionCleanup).isEmpty, started.mkString("\n"))
  }
}
