package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool (r19): the two measurements VERDICT r18 asked for on the
  * stored-artifact ANN path — both over a ScaleGen corpus at the 100k+
  * vector scale point, both through the SHIPPED contract
  * (`ivftrain` → `ivfindex` → [[graft.queries.EmbeddingQueries
  * .annRankTableIndexed]], parquet round-tripped like the CLI):
  *
  *  1. **Recall operating points for the rank-table contract**: recall@k
  *     of the artifact-path rank table vs the exact brute-force top-k
  *     (the s01 baseline), across a (cells × rounds × probes × k) grid —
  *     what `fuse` consumers actually get from the semantic half at
  *     deployment knobs, and what more Lloyd rounds buy (ScaleGen's
  *     embeddings carry real 32-cluster structure, so the trained
  *     quantizer has something to learn). The artifact path ranks the
  *     same rows as the inline s04 family (spec-pinned).
  *  2. **Cell-partition pruning A/B**: the same indexed probe against
  *     the Hive cell-partitioned index layout vs a FLAT (unpartitioned)
  *     rewrite of identical rows — interleaved same-JVM runs, min over
  *     3 — plus a plan check that the partitioned scan really carries
  *     `dynamicpruningexpression(cell IN ...)` (the claim three docs
  *     stated and nothing verified, VERDICT r18 "what's wrong" #3).
  *
  * Usage: `runMain graft.ScaleAnn <corpusDir> [cellsCsv] [probesCsv]
  * [kCsv] [roundsCsv]` — defaults 16,64 × 4,8 × 5,10 × 1. One JSON line
  * per grid point; the A/B line (at the largest cells and the first
  * rounds value) carries mode="prune_ab".
  */
object ScaleAnn {
  val knobs = DevKit.Knobs()

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def grid(i: Int, dflt: Seq[Int]): Seq[Int] =
      if (args.length > i) DevKit.grid(args(i)) else dflt
    val cellsGrid = grid(1, Seq(16, 64))
    val probesGrid = grid(2, Seq(4, 8))
    val kGrid = grid(3, Seq(5, 10))
    val roundsGrid = grid(4, Seq(1))
    val kMax = kGrid.max
    val nQ = 100L
    val meter = DevKit.open("graft-scale-ann", knobs)
    val spark = meter.spark
    import spark.implicits._
    import graft.queries.{EmbeddingQueries, QueryConf}
    import DevKit.Num

    val work = java.nio.file.Files.createTempDirectory("graft-scale-ann")
      .toString

    // exact brute-force top-kMax (the s01 discipline: rounded sims,
    // doc-id ties) — ONE corpus-wide scan shared by every grid point
    val e = Materialize(Tables(spark, dir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .select($"vec_id", $"v", $"nrm"))
    val rnkW = Window.partitionBy($"query_id").orderBy($"cos_sim".desc,
      $"doc_id")
    val exactAll = e.select($"vec_id".as("doc_id"), $"v".as("cv"),
        $"nrm".as("cn"))
      .join(broadcast(e.filter($"vec_id" < nQ).select($"vec_id".as("query_id"),
        $"v".as("qv"), $"nrm".as("qn"))), $"query_id" =!= $"doc_id")
      .withColumn("cos_sim",
        round(expr("graft_dot(qv, cv)") / ($"qn" * $"cn"), 4))
      .withColumn("rk", row_number().over(rnkW))
      .filter($"rk" <= kMax)
      .select($"query_id", $"rk", $"doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
    // (query, rank, doc) triples -> each query's top-k doc set
    def topK(ranks: Array[(Long, Long, Long)], k: Int): Map[Long, Set[Long]] =
      ranks.filter(_._2 <= k).groupBy(_._1)
        .map { case (qid, xs) => qid -> xs.map(_._3).toSet }
    System.err.println(s"[scale-ann] exact baseline: " +
      s"${topK(exactAll, kMax).size} queries x top-$kMax over $dir")
    def recallOf(ranks: Array[(Long, Long, Long)], k: Int): Double = {
      val (ex, got) = (topK(exactAll, k), topK(ranks, k))
      ex.map { case (qid, s) =>
        got.getOrElse(qid, Set.empty[Long]).intersect(s).size.toDouble /
          s.size }.sum / ex.size
    }
    def once[T](body: => T): DevKit.Runs[T] = DevKit.timedRuns(meter, 1)(_ => body)

    val queries = Tables(spark, dir, "embeddings").filter($"vec_id" < nQ)

    for (cells <- cellsGrid; rounds <- roundsGrid) {
      spark.conf.set(QueryConf.IvfCellsKey, cells.toString)
      spark.conf.set(QueryConf.LloydRoundsKey, rounds.toString)
      val cDir = s"$work/cent_c${cells}_r$rounds"
      val iDir = s"$work/idx_c${cells}_r$rounds"
      val build = once {
        Main.run(spark, Seq("ivftrain", s"$dir/embeddings.parquet", cDir),
          Map.empty)
        Main.run(spark, Seq("ivfindex", s"$dir/embeddings.parquet", cDir,
          iDir), Map.empty)
      }
      val cent = spark.read.parquet(cDir)
      for (probes <- probesGrid) {
        spark.conf.set(QueryConf.IvfProbesKey, probes.toString)
        val query = once {
          EmbeddingQueries.annRankTableIndexed(
              spark.read.parquet(iDir), queries, cent, k = kMax)
            .select($"query_id", $"rk", $"doc_id")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        for (k <- kGrid) {
          println(DevKit.json("mode" -> "recall", "cells" -> cells,
            "rounds" -> rounds, "probes" -> probes, "k" -> k,
            "recall" -> Num(recallOf(query.last, k), 4),
            "build_sec" -> Num(build.min, 4),
            "query_sec" -> Num(query.min, 4),
            "build_compiles" -> build.meter.compiles,
            "query_compiles" -> query.meter.compiles))
        }
      }
      spark.conf.unset(QueryConf.IvfProbesKey)
    }

    // ---- pruning A/B at the deployment-ish point: max cells, min probes
    val abCells = cellsGrid.max
    val abProbes = probesGrid.min
    val rounds = roundsGrid.head
    spark.conf.set(QueryConf.IvfCellsKey, abCells.toString)
    spark.conf.set(QueryConf.LloydRoundsKey, rounds.toString)
    spark.conf.set(QueryConf.IvfProbesKey, abProbes.toString)
    val cDir = s"$work/cent_c${abCells}_r$rounds"
    val iPart = s"$work/idx_c${abCells}_r$rounds"
    val iFlat = s"$work/idx_flat_c$abCells"
    // identical rows, no partition layout: what the index would be if
    // ivfindex didn't partitionBy(cell)
    spark.read.parquet(iPart).write.mode("overwrite").parquet(iFlat)
    val cent = spark.read.parquet(cDir)
    // the DEPLOYMENT probe shape: a small query batch (the d58 probe
    // convention), not the 100-query recall batch — 100 queries x 4
    // probes covers nearly every cell, leaving nothing to prune, which
    // is a property of the benchmark batch, not of the layout
    val nQab = 10L
    val queriesAb = Tables(spark, dir, "embeddings").filter($"vec_id" < nQab)
    def probeOnce(idxDir: String): DevKit.Runs[Long] = once {
      BenchExec.run(EmbeddingQueries.annRankTableIndexed(
        spark.read.parquet(idxDir), queriesAb, cent, k = kMax))
    }
    // the plan claim, checked on the partitioned layout
    val plan = EmbeddingQueries.annRankTableIndexed(
      spark.read.parquet(iPart), queriesAb, cent, k = kMax)
      .queryExecution.executedPlan.toString
    val dppLine = plan.linesIterator.find(l =>
      l.contains(iPart) && l.contains("PartitionFilters"))
    val dpp = dppLine.exists(_.contains("dynamicpruningexpression"))
    System.err.println(s"[scale-ann] partitioned index scan DPP=$dpp: " +
      dppLine.map(_.trim.take(240)).getOrElse("(scan line not found)"))
    // what pruning is worth in FILES/BYTES: the probed-cell dirs vs the
    // whole layout (the fraction a 1000-executor scan would not read)
    val probedCells = EmbeddingQueries.ivfIndexProbeCells(queriesAb, cent)
    val cellDirs = new java.io.File(iPart).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    def parquetFiles(ds: Seq[java.io.File]) = ds.flatMap(_.listFiles())
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val all = parquetFiles(cellDirs)
    val probed = parquetFiles(cellDirs.filter(f =>
      probedCells.contains(f.getName.stripPrefix("cell=").toInt)))
    // round 0 is the untimed warmup of both layouts
    val (ps, fs) = (0 to 3).map(_ => (probeOnce(iPart), probeOnce(iFlat)))
      .drop(1).unzip
    println(DevKit.json("mode" -> "prune_ab", "cells" -> abCells,
      "probes" -> abProbes, "k" -> kMax, "queries" -> nQab,
      "cellpart_sec" -> Num(ps.map(_.min).min, 4),
      "flat_sec" -> Num(fs.map(_.min).min, 4),
      "compiles" -> (ps ++ fs).map(_.meter.compiles).sum,
      "dpp_fired" -> dpp, "probed_cells" -> probedCells.size,
      "files_scanned" -> probed.size, "files_total" -> all.size,
      "bytes_scanned" -> probed.map(_.length()).sum,
      "bytes_total" -> all.map(_.length()).sum))
    spark.stop()
  }
}
