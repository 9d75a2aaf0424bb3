package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time individual queries at a SF, and A/B session confs.
  *
  * After each query's `[probe]` wall line it prints the run's
  * [[DevKit.Meter]] counters:
  *  - `[probe-job]`: one line per Spark job (id, wall, first stage name)
  *    — the fastest way to see which materialization inside a multi-job
  *    query owns the wall clock;
  *  - `[probe-shuffle]`: shuffle-write bytes and records. They depend on
  *    the data, not the clock, so unlike wall time they survive a
  *    contended host;
  *  - `[probe-storage]`: the persistent-RDD census before the run's
  *    storage is released (a query whose cuts outlive their consumers
  *    shows up here). Every run releases its storage after the clock
  *    stops, like the bench;
  *  - `[probe-codegen]`: the generated classes compiled during the timed
  *    run. After a warm run this should read 0; more means the query
  *    recompiles code it already ran (a per-run literal in generated
  *    code, or a session whose classloader misses the code cache).
  *
  * `SPARK_GRAFT_CONF` is a `;`-separated list of conf variants, each
  * `k=v,k2=v2` layered on the canonical session (a `graft.exp.<name>` key
  * gates an experimental code path). Each of `SPARK_GRAFT_BENCH_RUNS`
  * rounds (default 1) builds one fresh session per variant in turn and
  * runs every query `warm=N` untimed times, then once timed; with more
  * than one run in all, `[ab-summary]` prints per-variant min/median.
  * Interleaving inside ONE JVM is the point: wall time on a shared host
  * drifts ±30-40% between sbt sessions (SURVEY "Reading BENCH files"), so
  * only same-JVM interleaved runs count as A/B evidence.
  *
  * {{{
  * SPARK_GRAFT_CONF='spark.sql.adaptive.enabled=true;spark.sql.adaptive.enabled=false' \
  * SPARK_GRAFT_BENCH_RUNS=3 sbt "runMain graft.Probe d14_contamination warm=2"
  * }}}
  *
  * `SPARK_GRAFT_EXPLAIN` (any value) also prints each formatted plan. */
object Probe {
  val knobs = DevKit.Knobs(env = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_EXPLAIN"), keys = Set("warm"))

  def main(args: Array[String]): Unit = {
    val sfDir = knobs.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val variants = knobs.getOrElse("SPARK_GRAFT_CONF", "").split(";", -1).toSeq
    val rounds = knobs.int("SPARK_GRAFT_BENCH_RUNS", 1)
    val explain = knobs.get("SPARK_GRAFT_EXPLAIN").isDefined
    val (kv, queries) = args.toSeq.partition(_.contains("="))
    val warm = knobs.kv(kv).getOrElse("warm", 0)
    val ab = rounds * variants.size > 1
    val walls = scala.collection.mutable.Map.empty[(String, String), Seq[Double]]
      .withDefaultValue(Nil)
    for (r <- 1 to rounds; v <- variants) {
      val conf = v.split(",").filter(_.nonEmpty).map(DevKit.pair).toMap
      val meter = DevKit.open("graft-probe", knobs, conf)
      val spark = meter.spark
      for (name <- queries) {
        val run = DevKit.timedRuns(meter, 1, warm) { _ =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          if (explain) df.explain("formatted")
          // the shared bench action — count() prunes a projection-shaped
          // plan (d19/d51/s05 family) to a bare row-count scan, so a bare
          // count here timed nothing for exactly the plans Probe is most
          // often pointed at
          BenchExec.run(df)
        }
        val (dt, m) = (run.walls.head, run.meter)
        walls((name, v)) :+= dt
        System.err.println(f"[probe] $name%-28s $dt%8.2f s  rows=${run.last}" +
          (if (ab) s"  round $r [$v]" else ""))
        m.jobLog.foreach { case (id, sec, site) =>
          System.err.println(f"[probe-job]   #$id%-4d $sec%7.2f s  $site")
        }
        System.err.println(f"[probe-shuffle] ${m.shuffleBytes / 1e6}%10.2f MB " +
          f"written, ${m.shuffleRecords}%12d records")
        System.err.println(f"[probe-storage] ${m.cachedRdds}%3d cached RDDs, " +
          f"${m.cachedMemBytes / 1e6}%8.1f MB mem, " +
          f"${m.cachedDiskBytes / 1e6}%8.1f MB disk")
        System.err.println(f"[probe-codegen] ${m.compiles}%5d classes compiled")
      }
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    if (ab) for (name <- queries; v <- variants) {
      val ts = walls((name, v))
      System.err.println(f"[ab-summary] [$v] $name%-26s min=${ts.min}%6.2f" +
        f" med=${DevKit.median(ts)}%6.2f  (${DevKit.wallsText(ts)})")
    }
  }
}
