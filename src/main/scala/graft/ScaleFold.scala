package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: same-JVM A/B of the two hot-key fold SHAPES the r17 dedup
  * rewrite is about (VERDICT r16 #1) — an aggregate-over-window on a
  * data-dependent skewed key vs the map-side-combinable groupBy +
  * equi-join-back that replaced it in `memberReps`/`cappedBands`/
  * `withBucketNs`/`foldWinnowSignatures`.
  *
  * The fixture is the failure case itself, planted directly at the
  * signature-frame grain: `n` (doc_id, fp) rows of which `hot` share ONE
  * fingerprint (the million-copy crawl dup / template-spam band key) and
  * the rest are unique. Both shapes compute the same rep (min doc_id per
  * fp) and the same occupancy (count per fp), forced through a checksum
  * aggregate so nothing prunes.
  *
  * Why the window funnels: a window partition is ONE task that buffers
  * (sorts, and past memory, spills) its whole group before the first
  * output row — the hot key's `hot` rows all land in that task no matter
  * how many executors exist, so wall clock is bounded below by one
  * task's pass over `hot` rows. The groupBy collapses the hot key
  * map-side (each input partition emits ONE partial row for it) and the
  * join-back is AQE-splittable, so the hot key costs what any key costs.
  * Same-JVM interleaved timing (the Probe A/B discipline — cross-session
  * deltas on this box are unreadable).
  *
  * Usage: `runMain graft.ScaleFold [nRows] [hotCopies]` (defaults 40M /
  * 10M), `SPARK_GRAFT_BENCH_RUNS` rounds (default 3). Results land in
  * SCALE.md "hot-key fold A/B".
  */
object ScaleFold {
  val knobs = DevKit.Knobs(env = Set("SPARK_GRAFT_BENCH_RUNS"))

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 40000000L
    val hot = if (args.length > 1) args(1).toLong else 10000000L
    require(hot <= n, s"hot ($hot) must be <= n ($n)")
    val rounds = knobs.int("SPARK_GRAFT_BENCH_RUNS", 3)
    val meter = DevKit.open("graft-scale-fold", knobs)
    val spark = meter.spark
    import spark.implicits._

    def frame(rows: Long, hotRows: Long): DataFrame = spark
      .range(0L, rows, 1L, 64)
      .select($"id".as("doc_id"),
        when($"id" < hotRows, lit("viral"))
          .otherwise(md5($"id".cast("string"))).as("fp"))

    // checksum forces full evaluation of the fold column — count()
    // alone would let the optimizer prune the window/join away
    def force(df: DataFrame, c: String): Long =
      df.agg(sum(col(c))).head.getLong(0)

    val shapes: Seq[(String, DataFrame => Long)] = Seq(
      "rep window-min" -> { df =>
        force(df.withColumn("rep",
          min($"doc_id").over(Window.partitionBy($"fp"))), "rep")
      },
      "rep groupBy+join" -> { df =>
        val reps = df.groupBy($"fp").agg(min($"doc_id").as("rep"))
        force(df.join(reps, Seq("fp")), "rep")
      },
      "occupancy window-count" -> { df =>
        force(df.withColumn("n",
          count(lit(1)).over(Window.partitionBy($"fp"))), "n")
      },
      "occupancy groupBy+join" -> { df =>
        val occ = df.groupBy($"fp").agg(count(lit(1)).as("n"))
        force(df.join(occ, Seq("fp")), "n")
      })

    // one small untimed pass per shape compiles the generated code
    shapes.foreach { case (_, f) => f(frame(100000L, 25000L)) }
    val acc = scala.collection.mutable.Map.empty[String, List[(Double, Double)]]
      .withDefaultValue(Nil)
    val df = frame(n, hot)
    for (r <- 1 to rounds; (label, f) <- shapes) {
      val run = DevKit.timedRuns(meter, 1)(_ => f(df))
      // the longest single task is the CLUSTER-honest metric: local[32]
      // hides the funnel in wall clock (while the one window task grinds
      // the hot group, the other 31 threads absorb the rest of the work),
      // but on a 1000-executor cluster the stage ends when its SLOWEST
      // task does — the window's hot task is a floor no executor count
      // removes, while the groupBy's partials and the AQE-split join
      // chunks stay bounded
      val (dt, mt) = (run.min, run.meter.maxTaskMs / 1e3)
      acc(label) = (dt, mt) :: acc(label)
      System.err.println(
        f"[fold] round $r $label%-24s wall $dt%7.2f s  maxTask $mt%7.2f s" +
          f"  compiles ${run.meter.compiles}%3d (chk ${run.last})")
    }
    shapes.foreach { case (label, _) =>
      val ts = acc(label)
      val walls = ts.map(_._1)
      val maxTasks = ts.map(_._2)
      System.err.println(
        f"[fold-summary] $label%-24s wall-min=${walls.min}%7.2f s  " +
          f"maxTask-min=${maxTasks.min}%7.2f s  " +
          f"(walls ${DevKit.wallsText(walls.reverse)})  " +
          f"n=$n hot=$hot")
    }
    spark.stop()
  }
}
