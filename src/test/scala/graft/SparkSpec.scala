package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-session-per-JVM base for all suites (tests fork once). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfSmoke = "/root/testdata/sf0.001"

  /** Every SQL action `body` runs, as (action name, executed plan). */
  def actionsOf(body: => Unit): Seq[(String, SparkPlan)] = {
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(f -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    // the listener bus is async: deliver the events of earlier actions
    // (a fixture write) before listening, and those of `body` after it
    org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** The d13 content-hash split bucket, recomputed independently of the
    * engine (the oracle-side formula): rolling char hash mod 100. Shared
    * by every spec that engineers split-straddling fixtures — one copy,
    * so a split-formula change cannot silently drift a suite. */
  def bucketOf(text: String): Long = {
    val h = text.foldLeft(7L)((acc, c) =>
      (acc * 31 + c.toLong) % graft.operators.TextHash.P)
    (if (text.isEmpty) 7L else h) % 100
  }

  /** Engineer a near-dup pair that STRADDLES the train/test split: salt
    * the body until it lands train (bucket < 80), then tail-salt the
    * near-dup until it lands test (bucket >= 90). Deterministic given
    * the body. Returns (train-side base, test-side leak). */
  def straddlePair(body: String): (String, String) = {
    val base = (0 until 1000).iterator
      .map(i => s"$body salt$i").find(bucketOf(_) < 80).get
    val leak = (0 until 1000).iterator
      .map(i => s"$base tail$i").find(bucketOf(_) >= 90).get
    (base, leak)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(
    cores = sys.env.getOrElse("SPARK_GRAFT_TEST_CPUS", "8"), appName = "graft-test")

  /** Shuffle-exchange census that sees through the AQE wrapper:
    * `AdaptiveSparkPlanExec` is a LEAF to `collect()`, so a naive
    * `collect { case e: ShuffleExchangeExec }` on an adaptive plan
    * finds NOTHING — a `<= k` exchange audit passes vacuously. Unwrap
    * to the finalized inner plan and count both raw exchanges (pre-
    * execution) and the `ShuffleQueryStageExec` leaves AQE rewrites
    * them into (post-execution); reused stages count once per site,
    * which is the plan-shape question the audits ask. */
  def shuffleCount(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    shuffleNodes(plan).size

  /** The shuffle sites themselves (for partitioning-shape assertions —
    * each returned node's `outputPartitioning` is the exchange's).
    * A reused exchange counts as its own SITE: the plan still shuffles
    * there even though the blocks are shared. */
  def shuffleNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
      ShuffleExchangeLike}
    plan match {
      case a: AdaptiveSparkPlanExec => shuffleNodes(a.executedPlan)
      // a shuffle stage IS its exchange — count once, then descend past
      // the wrapped exchange node so it isn't counted twice
      case s: ShuffleQueryStageExec =>
        s.plan +: s.plan.children.flatMap(shuffleNodes)
      case q: QueryStageExec => shuffleNodes(q.plan)
      case e: ShuffleExchangeLike => e +: e.children.flatMap(shuffleNodes)
      // reuse wraps broadcast exchanges too — only a reused SHUFFLE is
      // a shuffle site
      case r: ReusedExchangeExec => r.child match {
        case _: ShuffleExchangeLike => Seq(r)
        case _ => Nil
      }
      case p => p.children.flatMap(shuffleNodes)
    }
  }
}
