package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl._
import graft.queries.QueryConf

/** A cloned session reuses the classes its parent compiled. Spark caches
  * generated classes by (classloader, source), so a clone with an
  * artifact classloader of its own recompiles code that is byte-identical
  * to what already ran. The count of compiles is read from Spark's
  * codegen compile histogram around the second of two identical runs,
  * so no clock enters the assertions.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Generated classes compiled while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a GraftSession.local session has session-artifact isolation off") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a second stream drain over the same landing files compiles no class") {
    val tmp = Files.createTempDirectory("graft-codegen-stream").toString
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    // the etl_stream shape: each file redelivers lines of the one before,
    // two files per micro-batch, watermark dedup and the partitioned sink
    (0 until 4).foreach { k =>
      val lines = LogGen.lines(300, seed = 80L + k) ++
        (if (k > 0) LogGen.lines(300, seed = 80L + k - 1).take(40) else Nil)
      Files.writeString(Paths.get(landing, s"b$k.log"), lines.mkString("", "\n", "\n"))
    }
    val cfg = EtlConfig()
    def drain(run: Int): Unit = {
      val q = StreamingTransform.writer(
        StreamingTransform.stream(spark, landing, cfg, maxFilesPerTrigger = 2),
        s"$tmp/out-$run", s"$tmp/ckpt-$run", cfg)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty)
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
      assert(spark.read.parquet(s"$tmp/out-$run").count() == 1200L)
    }
    drain(1)
    val second = compiles(drain(2))
    assert(second == 0L, s"the second drain compiled $second classes")
  }

  test("a second materializeWithConf over the same plan compiles no class") {
    import spark.implicits._
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val df = (1L to 200L).map(i => (i, (i % 7).toString)).toDF("id", "g")
      .groupBy($"g").agg(count(lit(1)).as("n"), max($"id").as("top"))
    def scoped(): Unit = assert(QueryConf.materializeWithConf(df, key, "4096")
      .agg(sum($"n")).collect().head.getLong(0) == 200L)
    scoped()
    val second = compiles(scoped())
    assert(second == 0L, s"the second scope compiled $second classes")
  }
}
