package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark main: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`, or `--selftest --work <dir>`.
  *
  * Set-up is the session, the seeded input and a fixed number of checked
  * warm-up ops; `setup_s` is JVM start to the end of set-up. Timed ops
  * then run back to back (closed loop, one caller) for `--seconds`, each
  * checked against the planted truth. Op walls enter `rows_per_s` and
  * `latency_p50_s` scaled to the reference host by the [[Calib]] probe
  * run right before the op. The last stdout line is the JSON
  * result, metric name to value; `run.py` adds the units declared in
  * BENCHMARK.json and zeros for layers a workload does not reach.
  */
object Main {

  /** Untimed ops after the input is made (their walls are in README.md). */
  val WarmUpOps = 2
  val MinTimedOps = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val work = new File(opts.getOrElse("--work", sys.error("--work <dir> is required")))
    if (args.contains("--selftest")) sys.exit(if (SelfTest.run(work)) 0 else 1)
    if (args.contains("--train")) { train(work); return }
    val workload = opts.getOrElse("--workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("--seed", "1").toLong
    val seconds = opts.getOrElse("--seconds", "10").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val traceOut = new File(opts.getOrElse("--trace-out", work.getPath))
    HeapWatch.install()
    // set-up: session, input, then a fixed number of warm-up ops
    val spark = session(work)
    val wl = Workload(workload, spark, work, seed)
    wl.generate()
    val setupFailures = (1 to WarmUpOps).flatMap { k =>
      HeapWatch.arm()
      val calib = Calib.seconds(cores)
      val r = attempt(wl.op(-k))
      log(f"warm-up $k: ${r.wallS}%.3f s, probe $calib%.4f s")
      r.failures.map(f => s"warm-up $k: $f")
    }
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val probe = new EngineProbe(spark)
    val t = new Trace
    // `host`: reference-host seconds per second on this host, from the
    // probe run right before the op
    final case class Timed(r: OpResult, heapMb: Double, gcS: Double, traced: Boolean,
        c: EngineCounters, host: Double)
    val results = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (results.size < MinTimedOps || elapsed < seconds) {
      // traced runs alternate plain and traced ops: the difference of their
      // medians is the tracing overhead, measured in one JVM
      val traced = trace && i % 2 == 1
      if (traced) { spark.sparkContext.addSparkListener(probe); probe.reset() }
      HeapWatch.arm()
      val calib = Calib.seconds(cores)
      val r = if (traced) t.span("op", i)(attempt(wl.op(i))) else attempt(wl.op(i))
      val (heap, gc) = (HeapWatch.peakMb, HeapWatch.gcSec)
      val counters = if (traced) {
        val c = probe.read(); spark.sparkContext.removeSparkListener(probe); c
      } else null
      val host = Calib.ReferenceS / calib
      log(f"op $i${if (traced) " (traced)" else ""}: ${r.wallS}%.3f s, probe $calib%.4f s " +
        f"(${r.wallS * host}%.3f reference-host s), heap $heap%.0f MB" +
        (if (r.failures.isEmpty) "" else s", FAILED: ${r.failures.mkString("; ")}"))
      results += Timed(r, heap, gc, traced, counters, host)
      i += 1
    }

    val ops = results.map(_.r).toSeq
    val failed = ops.count(_.failures.nonEmpty)
    // an op that threw has no wall
    val walled = results.filterNot(_.r.wallS.isNaN).toSeq
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "rows_per_s" -> median(walled.map(o => wl.inputRows / (o.r.wallS * o.host))),
        "latency_p50_s" -> median(walled.flatMap(o => o.r.waitsS.map(_ * o.host))),
        "out_bytes_per_in_byte" -> median(ops.map(_.outBytes.toDouble / wl.inputBytes)),
        "files_out" -> median(ops.map(_.outFiles.toDouble)),
        "heap_peak_mb" -> results.map(_.heapMb).max,
        "ok_rate" -> (ops.size - failed).toDouble / ops.size)
      else {
        val tracedOps = results.filter(_.traced).toSeq
        val tracedWall = median(tracedOps.map(_.r.wallS))
        val layers = wl.breakdown(t, 1000,
          tracedOps.map(_.r).sortBy(_.wallS).apply(tracedOps.size / 2))
        val opLayers = tracedOps.flatMap(_.r.layer.keys).distinct
          .map(k => k -> median(tracedOps.map(_.r.layer.getOrElse(k, 0.0))))
        def m(f: Timed => Double) = median(tracedOps.map(f))
        t.writeJsonLines(new File(traceOut, s"spans-$workload-seed$seed.jsonl"))
        layers.toSeq ++ opLayers ++ Seq(
          "queries.dedup.fallback_tasks" -> m(_.c.fallbackTasks.toDouble),
          "materialize.cuts" -> m(_.c.cuts.toDouble),
          "engine.jobs" -> m(_.c.jobs.toDouble),
          "engine.stages" -> m(_.c.stages.toDouble),
          "engine.tasks" -> m(_.c.tasks.toDouble),
          "engine.task_s" -> m(_.c.taskSec),
          "engine.busy_frac" -> m(o => o.c.taskSec / (o.r.wallS * cores)),
          "engine.shuffle_bytes" -> m(_.c.shuffleBytes.toDouble),
          "engine.shuffle_records" -> m(_.c.shuffleRecords.toDouble),
          "engine.spill_bytes" -> m(_.c.spillBytes.toDouble),
          "engine.gc_s" -> m(_.gcS),
          "engine.cache_bytes_peak" -> m(_.c.cacheBytesPeak.toDouble),
          "trace.overhead_s" ->
            (tracedWall - median(results.filterNot(_.traced).map(_.r.wallS).toSeq)))
      }

    log(f"$workload seed $seed: ${ops.size} ops, $failed failed, error_rate ${failed.toDouble / ops.size}%.4f")
    metrics.foreach { case (n, v) => log(f"  $n%-45s $v%.6g") }
    spark.stop()
    val correct = failed == 0 && setupFailures.isEmpty
    setupFailures.foreach(f => log(s"FAILED $f"))
    val body = metrics.map { case (n, v) => s""""$n": $v""" }
    println(s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  /** Session cores: three, leaving one core of a four-core host to the JIT
    * and GC threads (measured: same op walls as local[4], steadier heap). */
  val cores: Int = math.min(3, Runtime.getRuntime.availableProcessors)

  /** A session like the CLI's (`GraftSession.local`), with its scratch
    * space inside the benchmark's work directory. */
  private def session(work: File): SparkSession = GraftSession.local(
    cores = cores.toString,
    appName = "graftbench",
    extraConf = Map(
      "spark.local.dir" -> new File(work, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath))

  /** Class-data-sharing training run: a small op of every workload, so
    * the archive written at exit holds the classes a run loads. */
  private def train(work: File): Unit = {
    val spark = session(work)
    Seq("etl_batch", "etl_stream", "corpus_dedup").foreach { name =>
      val wl = Workload(name, spark, new File(work, name), 7L, scale = 0.02)
      wl.generate()
      val r = wl.op(0)
      require(r.failures.isEmpty, s"$name: ${r.failures.mkString("; ")}")
      wl.breakdown(new Trace, 0, r)
    }
    spark.stop()
  }

  /** Run one op; an exception is a failed op, not a crashed run. */
  private def attempt(op: => OpResult): OpResult =
    try op
    catch { case NonFatal(e) =>
      OpResult(Double.NaN, Nil, 0L, 0L, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  def log(s: String): Unit = System.err.println(s"[graftbench] $s")
}

/** Generator self-test: one seed twice gives identical bytes, another
  * seed gives different ones, for all three generators. */
object SelfTest {
  def run(work: File): Boolean = {
    val seeds = Seq(1L, 1L, 2L)
    val batch = seeds.zipWithIndex.map { case (s, k) =>
      val d = new File(work, s"batch-$k")
      val truth = Gen.writeBatch(d, s, Gen.BatchSpec(nUnique = 20000, nFiles = 4))
      (Gen.digestDir(d), truth)
    }
    val stream = seeds.zipWithIndex.map { case (s, k) =>
      val d = new File(work, s"stream-$k")
      val truth = Gen.writeStream(d, s, Gen.StreamSpec(nFiles = 6, linesPerFile = 1000,
        firstLateFile = 2))
      (Gen.digestDir(d), truth)
    }
    val corpus = seeds.map { s =>
      val c = new Gen.Corpus(s, 5000)
      (Gen.digestCorpus(c), Gen.corpusTruth(c))
    }
    Seq("batch" -> batch, "stream" -> stream, "corpus" -> corpus).map { case (name, r) =>
      val ok = r(0) == r(1) && r(0)._1 != r(2)._1
      Main.log(s"selftest $name: same seed ${if (r(0) == r(1)) "identical" else "DIFFERENT"}, " +
        s"other seed ${if (r(0)._1 != r(2)._1) "different" else "IDENTICAL"}; truth ${r(0)._2}")
      ok
    }.forall(identity)
  }
}
