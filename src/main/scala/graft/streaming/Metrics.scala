package graft.streaming

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** M1 parity: the reference's mon task keeps 1-min ring buffers of
  * lines/s and process latency and logs rolling averages (mon.rs). Under
  * Structured Streaming the engine already emits those numbers per micro-
  * batch; this listener collects them and exposes rolling averages.
  */
final class Metrics extends StreamingQueryListener {

  final case class Point(batchId: Long, inputRows: Long,
      rowsPerSec: Double, durationMs: Long)

  private val points = new ConcurrentLinkedQueue[Point]()
  private val keep = 15 // ring size, like the reference's 15×1-min buffer

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    points.add(Point(p.batchId, p.numInputRows,
      p.inputRowsPerSecond, p.batchDuration))
    while (points.size > keep) points.poll()
  }

  def snapshot: Seq[Point] = {
    val it = points.iterator()
    val b = Seq.newBuilder[Point]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** rolling average lines/s over the retained window */
  def avgRowsPerSec: Double = {
    val s = snapshot.filterNot(_.rowsPerSec.isNaN)
    if (s.isEmpty) 0.0 else s.map(_.rowsPerSec).sum / s.size
  }
}

object Metrics {
  /** attach a fresh listener to the session; returns it for inspection */
  def attach(spark: SparkSession): Metrics = {
    val m = new Metrics
    spark.streams.addListener(m)
    m
  }
}

/** Whole-life totals of a streaming query, from its progress events:
  * executed micro-batches (an idle progress report runs no `addBatch`),
  * rows read, rows the stateful operators dropped as late and duplicate
  * rows the dedup dropped. `recentProgress` keeps only the last 100
  * batches, so a long drain's totals need a listener. Keyed by run id:
  * other queries of the session do not mix in. */
final class Census private extends StreamingQueryListener {
  import Census.Totals

  private val runs = new ConcurrentHashMap[UUID, Totals]
  private val ended = new ConcurrentHashMap[UUID, CountDownLatch]
  private def latch(runId: UUID) = ended.computeIfAbsent(runId, _ => new CountDownLatch(1))

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = latch(e.runId).countDown()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val state = p.stateOperators.toSeq
    val batch = Totals(
      if (p.durationMs.containsKey("addBatch")) 1 else 0,
      p.numInputRows,
      state.map(_.numRowsDroppedByWatermark).sum,
      state.flatMap(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))).map(_.longValue).sum)
    runs.merge(p.runId, batch, (a, b) => a + b)
  }

  /** The totals of run `runId` once its terminated event has arrived (the
    * bus delivers a run's events in order, the terminated one last). */
  private def totals(runId: UUID): Totals = {
    latch(runId).await(60, TimeUnit.SECONDS)
    runs.getOrDefault(runId, Totals(0, 0, 0, 0))
  }
}

object Census {
  final case class Totals(batches: Long, rowsRead: Long, late: Long, duplicates: Long) {
    def +(o: Totals): Totals =
      Totals(batches + o.batches, rowsRead + o.rowsRead, late + o.late, duplicates + o.duplicates)
    override def toString: String = s"stream census: $batches micro-batches, $rowsRead rows read, " +
      s"$late rows dropped as late, $duplicates duplicate rows dropped"
  }

  /** Start a query with a census attached for its lifetime and block until
    * it terminates; the query's whole-life totals. */
  def await(spark: SparkSession)(start: => StreamingQuery): Totals = {
    val census = new Census
    spark.streams.addListener(census)
    try {
      val q = start
      q.awaitTermination()
      census.totals(q.runId)
    } finally spark.streams.removeListener(census)
  }
}

/** Per-queue counters for the `graft-queue` connector path — the mon-task
  * parity the engine's own progress events cannot provide (reference:
  * s3logd-stream/src/mon.rs:131-173 logs receive/inflight rates next to
  * lines/s). A stuck queue shows as `max_receive_count` climbing with
  * `received` flat; a poison-heavy one as `dead_lettered` growing; a
  * long-drain as `lease_extensions` accumulating. Counters are
  * JVM-global per queue name (the same keying as
  * [[graft.sources.QueueRegistry]]), incremented by the DSv2 source
  * (receives, redeliveries, heartbeats) and the queue pipeline
  * (dead-letters); monotone, never reset — readers diff snapshots. */
final class QueueCounters {
  import java.util.concurrent.atomic.AtomicLong
  val received = new AtomicLong
  val redelivered = new AtomicLong
  val maxReceiveCount = new AtomicLong
  val leaseExtensions = new AtomicLong
  val deadLettered = new AtomicLong
  private[graft] def recordReceive(counts: Seq[Int]): Unit = {
    received.addAndGet(counts.size.toLong)
    redelivered.addAndGet(counts.count(_ > 1).toLong)
    counts.foreach(c => maxReceiveCount.getAndUpdate(m => math.max(m, c.toLong)))
  }
  def snapshot: Map[String, Long] = Map(
    "received" -> received.get,
    "redelivered" -> redelivered.get,
    "max_receive_count" -> maxReceiveCount.get,
    "lease_extensions" -> leaseExtensions.get,
    "dead_lettered" -> deadLettered.get)
}

object QueueMetrics {
  private val counters =
    scala.collection.concurrent.TrieMap.empty[String, QueueCounters]
  /** counters for `queue`, created on first touch */
  def of(queue: String): QueueCounters =
    counters.getOrElseUpdate(queue, new QueueCounters)
  def snapshot(queue: String): Map[String, Long] = of(queue).snapshot
}
