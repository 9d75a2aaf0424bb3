package graft

import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The dev mains' one measurement kit, in the spirit of the reference's
  * single monitor task (`s3logd-stream/src/mon.rs`): one listener
  * ([[Meter]]), one run loop ([[timedRuns]]), one knob reader ([[Knobs]])
  * and one CSV/JSON line printer ([[csv]], [[json]]). Every tool reads
  * through these, so a job count, a between-runs release or a knob means
  * the same thing in every tool. */
object DevKit {

  /** Env keys a tool may see without declaring them: GraftSession reads
    * them for every session. */
  val SessionKeys: Set[String] = Set("SPARK_GRAFT_CPUS")

  /** One run's counters. Job durations come from the scheduler events' own
    * `time` fields, not a clock read in the callback: the listener bus is
    * async and backlogs exactly when a query fires many jobs in quick
    * succession. The storage census is taken before the run's storage is
    * released. `compiles` counts the generated classes the JVM compiled
    * (Spark's codegen compile histogram), so a query that recompiles code
    * it ran before shows as a count, not as a slower wall. */
  final case class Reading(jobs: Int = 0, jobSec: Double = 0.0,
      stages: Int = 0, maxTaskMs: Long = 0L, shuffleBytes: Long = 0L,
      shuffleRecords: Long = 0L,
      jobLog: Vector[(Int, Double, String)] = Vector.empty,
      cachedRdds: Int = 0, cachedMemBytes: Long = 0L,
      cachedDiskBytes: Long = 0L, compiles: Long = 0L)

  /** The one listener, attached to `spark` on construction: jobs (with a
    * per-job log of id, seconds and first stage name), summed job seconds,
    * completed stages, the longest task, the shuffle-write bytes and
    * records and the codegen compiles since the last [[reset]]. */
  final class Meter(val spark: SparkSession) extends SparkListener {
    // Values are references, deliberately: remove() on a missing key
    // returns null, which skips the job. A Scala Long value would unbox
    // that null to 0L, and a dropped JobStart (the async bus sheds load
    // under exactly the biggest runs) would tally the raw epoch timestamp
    // as a duration.
    private val starts = new ConcurrentHashMap[Int, (java.lang.Long, String)]()
    private var events = 0L
    private var now = Reading()
    private var compiledAtReset = compiledNow()
    spark.sparkContext.addSparkListener(this)

    // JVM-wide and updated by the compiling thread itself, not the bus
    private def compiledNow(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    private def tally(f: Reading => Reading): Unit =
      synchronized { events += 1; now = f(now) }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      starts.put(j.jobId,
        (j.time, j.stageInfos.headOption.map(_.name).getOrElse("?")))
      tally(identity)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = starts.remove(j.jobId)
      tally(r => if (s == null) r else {
        val sec = (j.time - s._1) / 1e3
        r.copy(jobs = r.jobs + 1, jobSec = r.jobSec + sec,
          jobLog = r.jobLog :+ ((j.jobId, sec, s._2)))
      })
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val w = s.stageInfo.taskMetrics.shuffleWriteMetrics
      tally(r => r.copy(stages = r.stages + 1,
        shuffleBytes = r.shuffleBytes + w.bytesWritten,
        shuffleRecords = r.shuffleRecords + w.recordsWritten))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      tally(r => r.copy(maxTaskMs = math.max(r.maxTaskMs, t.taskInfo.duration)))

    def reset(): Unit = synchronized {
      now = Reading()
      compiledAtReset = compiledNow()
    }

    /** Wait for the async listener bus to go quiet (no event across three
      * 100 ms polls, capped at 5 s; its own drain API is private), then
      * read the counters and the storage census. */
    def drain(): Reading = {
      var (last, quiet) = (synchronized(events), 0)
      val deadline = System.nanoTime() + 5000000000L
      while (quiet < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val seen = synchronized(events)
        if (seen == last) quiet += 1 else { quiet = 0; last = seen }
      }
      val infos = spark.sparkContext.getRDDStorageInfo
      synchronized(now.copy(compiles = compiledNow() - compiledAtReset))
        .copy(cachedRdds = infos.length,
        cachedMemBytes = infos.map(_.memSize).sum,
        cachedDiskBytes = infos.map(_.diskSize).sum)
    }
  }

  /** A tool's canonical session with `conf` layered on top, its [[Meter]]
    * attached, after [[Knobs.checkEnv]]. */
  def open(app: String, knobs: Knobs,
      conf: Map[String, String] = Map.empty): Meter = {
    knobs.checkEnv()
    new Meter(GraftSession.local(appName = app, extraConf = conf))
  }

  /** The timed walls of [[timedRuns]], and the last run's result and
    * [[Reading]]. */
  final case class Runs[T](walls: Seq[Double], last: T, meter: Reading) {
    def min: Double = walls.min
  }

  /** The one run loop: `warm` untimed runs, then `runs` timed ones. Each
    * run calls `setup` and then `body` with its 1-based index (warm runs
    * first); the clock is taken around `body` only. After every run the
    * meter drains, and then every persistent RDD and the SQL cache are
    * released, so no run executes under an earlier run's cached blocks. */
  def timedRuns[T](meter: Meter, runs: Int, warm: Int = 0,
      setup: Int => Unit = _ => ())(body: Int => T): Runs[T] = {
    val all = (1 to warm + runs).map { r =>
      setup(r)
      meter.reset()
      val t0 = System.nanoTime()
      val out = body(r)
      val wall = (System.nanoTime() - t0) / 1e9
      val reading = meter.drain()
      meter.spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      meter.spark.catalog.clearCache()
      (wall, out, reading)
    }
    Runs(all.drop(warm).map(_._1), all.last._2, all.last._3)
  }

  /** True median: the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def wallsText(xs: Seq[Double]): String = xs.map(t => f"$t%.2f").mkString(" ")

  /** A tool's knobs: the env keys it reads, the `k=v` keys its arguments
    * take, and whether its arguments are `label=value` scales. */
  final case class Knobs(env: Set[String] = Set.empty,
      keys: Set[String] = Set.empty, labels: Boolean = false) {

    /** Refuse a `SPARK_GRAFT_*` env key this tool does not read: a retired
      * or misspelt switch would otherwise run the tool as if unset. */
    def checkEnv(): Unit = {
      val stray = sys.env.keySet.filter(k => k.startsWith("SPARK_GRAFT_") &&
        !env(k) && !SessionKeys(k))
      if (stray.nonEmpty) fail(s"unknown env knobs: ${stray.toSeq.sorted
        .mkString(", ")} — this tool reads ${env.toSeq.sorted.mkString(", ")}")
    }

    /** The one environment read; an empty value counts as unset. */
    def get(key: String): Option[String] = {
      require(env(key), s"$key is not a declared knob")
      sys.env.get(key).filter(_.nonEmpty)
    }

    def getOrElse(key: String, default: String): String =
      get(key).getOrElse(default)

    def int(key: String, default: Int): Int =
      get(key).fold(default)(v => toInt(key, v))

    /** `k=v` arguments with integer values; an undeclared key is refused. */
    def kv(args: Seq[String]): Map[String, Int] = args.map(pair).map {
      case (k, v) =>
        if (!keys(k)) fail(s"unknown knob '$k' — accepted: " +
          keys.toSeq.sorted.mkString(", "))
        k -> toInt(k, v)
    }.toMap
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def toInt(key: String, v: String): Int =
    v.trim.toIntOption.getOrElse(fail(s"$key=$v: must be an integer"))

  /** One `key=value` argument: a `k=v` knob or a `label=value` scale. */
  def pair(a: String): (String, String) = a.split("=", 2) match {
    case Array(k, v) => (k, v)
    case _ => fail(s"expected <key>=<value>, got '$a'")
  }

  /** A comma grid of integers, e.g. `16,64`. */
  def grid(csv: String): Seq[Int] = csv.split(",").toSeq.map(s => toInt("grid", s))

  /** A fixed-point number for [[csv]]/[[json]]; a bare Double prints with
    * 2 decimals. */
  final case class Num(v: Double, digits: Int)

  // Locale.ROOT: a comma decimal separator would split a CSV column and
  // is invalid JSON
  private def cell(v: Any): String = v match {
    case d: Double => cell(Num(d, 2))
    case Num(d, n) => String.format(Locale.ROOT, s"%.${n}f", Double.box(d))
    case x => x.toString
  }

  def csv(fields: Any*): String = fields.map(cell).mkString(",")

  /** One JSON object line; strings are quoted, everything else is not. */
  def json(fields: (String, Any)*): String = fields.map {
    case (k, s: String) => "\"" + k + "\":\"" + s + "\""
    case (k, v) => "\"" + k + "\":" + cell(v)
  }.mkString("{", ",", "}")
}
