package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchBridge, SparkSession}
import org.apache.spark.storage.RDDBlockId

/** Engine-layer counters for one window of work, summed from listener
  * events (jobs, stages, tasks, task time, shuffle, spill, cached RDD
  * blocks) and the SQL status store (sort-fallback tasks). */
final case class EngineCounters(
    jobs: Long, stages: Long, tasks: Long, taskSec: Double,
    shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long,
    cuts: Long, cacheBytesPeak: Long, fallbackTasks: Long)

/** A SparkListener owned by the benchmark. `reset()` opens a window;
  * `read()` drains the listener bus first, so every event of the window's
  * work is counted. */
final class EngineProbe(spark: SparkSession) extends SparkListener {
  private val jobs, stages, tasks, taskMs = new AtomicLong
  private val shuffleBytes, shuffleRecords, spill = new AtomicLong
  private val blockBytes = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  private val cachedNow, cachedPeak = new AtomicLong
  private val rdds = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var lastExecution = -1L

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        if (size > 0) rdds.add(id.rddId)
        val old = Option(blockBytes.put(id, size)).map(_.longValue).getOrElse(0L)
        val now = cachedNow.addAndGet(size - old)
        cachedPeak.accumulateAndGet(now, math.max)
        ()
      case _ => ()
    }

  private def sqlExecutions = BenchBridge.statusStore(spark).executionsList()

  def reset(): Unit = {
    BenchBridge.drainBus(spark)
    Seq(jobs, stages, tasks, taskMs, shuffleBytes, shuffleRecords, spill)
      .foreach(_.set(0))
    rdds.clear()
    cachedPeak.set(cachedNow.get)
    lastExecution = (sqlExecutions.map(_.executionId) :+ -1L).max
  }

  def read(): EngineCounters = {
    BenchBridge.drainBus(spark)
    val store = BenchBridge.statusStore(spark)
    val fresh = sqlExecutions.filter(_.executionId > lastExecution)
    val fallback = fresh.map { ex =>
      val ids = ex.metrics.filter(_.name == "number of sort fallback tasks")
        .map(_.accumulatorId).toSet
      val values = store.executionMetrics(ex.executionId)
      ids.toSeq.flatMap(values.get).map(_.replace(",", "").trim.toLong).sum
    }.sum
    EngineCounters(jobs.get, stages.get, tasks.get, taskMs.get / 1000.0,
      shuffleBytes.get, shuffleRecords.get, spill.get, rdds.size.toLong,
      cachedPeak.get, fallback)
  }
}

/** After-GC heap and GC pause time, from GC notifications (never
  * sampled). `arm()` starts a window with a full collection, so the
  * window's peak starts from the live heap rather than from garbage
  * promoted during earlier ops; `peakMb`/`gcSec` read it (the pause of
  * that full collection is not counted). */
object HeapWatch extends NotificationListener {
  private val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong
  private val gcMs = new AtomicLong

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(after, math.max)
      if (info.getGcCause != "System.gc()") gcMs.addAndGet(info.getGcInfo.getDuration)
      ()
    }

  def arm(): Unit = { peak.set(0); gcMs.set(0); System.gc() }
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
  def gcSec: Double = gcMs.get / 1000.0
}

/** In-memory spans (name, start, end, parent, op id), written out once
  * when the run ends. Span ids are 1-based; parent 0 is the root. */
final class Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, op: Int) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[A](name: String, op: Int)(f: => A): A = {
    val id = spans.size + 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    spans += Span(id, name, t0, t0, parent, op)
    try f
    finally {
      spans(id - 1) = spans(id - 1).copy(endNs = System.nanoTime())
      stack = stack.tail
    }
  }

  /** Seconds of the named spans of one op (0 when absent). */
  def seconds(name: String, op: Int): Double =
    spans.filter(s => s.name == name && s.op == op).map(_.seconds).sum

  def writeJsonLines(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}


/** Host-speed probe: a fixed amount of program-independent work on
  * `threads` threads — formatting and hashing synthetic log lines, and
  * handing a token around a ring of threads (wake-up latency, which a
  * busy shared host stretches as much as it stretches compute). Returns
  * the faster of two tries, in seconds. */
object Calib {
  /** Probe seconds on the reference host: the 4-vCPU VM the benchmark
    * was tuned on (etlbench/README.md), 3 threads. */
  val ReferenceS = 0.18

  def seconds(threads: Int): Double = math.min(once(threads), once(threads))

  private def once(threads: Int): Double = {
    val queues = Array.fill(threads)(new java.util.concurrent.SynchronousQueue[java.lang.Long]())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val fs = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var h = 0L
            var i = 0
            while (i < 24000) {
              h = h * 31 + Gen.logLine(t, i, Gen.Day0 + i, 8, overflow = false).hashCode
              i += 1
            }
            // token ring: thread t passes to t+1; thread 0 starts each lap
            var lap = 0
            while (lap < 1500) {
              if (t == 0) queues(1 % threads).put(lap.toLong)
              val v = queues(t).take()
              if (t != 0) queues((t + 1) % threads).put(v)
              lap += 1
            }
            h
          }
        })
      }
      fs.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
  }
}
