package graft

/** Dev tool: cross-engine replay of the QueryConf surface at NON-default
  * operating points. The driver gate replays only the defaults (its
  * verify session sets no `spark.graft.*` conf), so without this the
  * seed-table branch (cells > 64), the multi-round Lloyd loop, and the
  * non-default coreset cut would be Spark-vs-Spark checks only. This
  * main sets the session knobs explicitly, dumps the conf-sensitive
  * queries, and writes the MATCHING generated oracle SQL
  * ([[graft.queries.EmbeddingQueries.s04OracleSqlAt]] /
  * `s11OracleSqlAt`), so the standard selfcheck compares DuckDB vs
  * Spark at that operating point:
  *
  * {{{
  * sbt 'runMain graft.ConfReplay /root/testdata/sf0.01 /tmp/replay cells=80 rounds=3'
  * python3 scripts/selfcheck.py /root/testdata/sf0.01 /tmp/replay
  * }}}
  *
  * Accepted args (any order, all optional): `cells=N probes=N rounds=N
  * percell=N rarecap=N winnow=N maxdf=N maxbucket=N bm25k=N knnk=N
  * knnnprobe=N` — defaults are the
  * gate defaults, so a bare run reproduces the driver's own
  * s04/s11/d52/d53/d54/d03 rows.
  */
object ConfReplay {
  import graft.queries.{DocumentQueries, EmbeddingQueries, QueryConf}

  /** (arg key, session conf key, gate default), in print order. */
  private val Table = Seq(
    ("cells", QueryConf.IvfCellsKey, QueryConf.DefaultIvfCells),
    ("probes", QueryConf.IvfProbesKey, QueryConf.DefaultIvfProbes),
    ("rounds", QueryConf.LloydRoundsKey, QueryConf.DefaultLloydRounds),
    ("percell", QueryConf.CoresetPerCellKey, QueryConf.DefaultCoresetPerCell),
    ("rarecap", QueryConf.ContainRareCapKey, QueryConf.DefaultContainRareCap),
    ("winnow", QueryConf.WinnowWindowKey, QueryConf.DefaultWinnowWindow),
    ("maxdf", QueryConf.WinnowMaxDfKey, QueryConf.DefaultWinnowMaxDf),
    ("maxbucket", QueryConf.DedupMaxBucketKey, QueryConf.DefaultDedupMaxBucket),
    ("bm25k", QueryConf.Bm25TopKKey, QueryConf.DefaultBm25TopK),
    ("knnk", QueryConf.KnnKKey, QueryConf.DefaultKnnK),
    ("knnnprobe", QueryConf.KnnNprobeKey, QueryConf.DefaultKnnNprobe))

  val knobs = DevKit.Knobs(keys = Table.map(_._1).toSet)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val given = knobs.kv(args.toSeq.drop(2))
    val at = Table.map { case (k, _, d) => k -> given.getOrElse(k, d) }.toMap
    val Seq(cells, probes, rounds, perCell, rareCap, winnowW, maxDf,
      maxBucket, bm25K, knnK, knnNprobe) = Table.map(t => at(t._1))
    val spark = DevKit.open("graft-conf-replay", knobs).spark
    Table.foreach { case (k, key, _) => spark.conf.set(key, at(k).toString) }
    val knobLine = Table.map { case (k, _, _) => s"$k=${at(k)}" }.mkString(" ")
    new java.io.File(outDir).mkdirs()
    val targets = Seq(
      "s04_ann_ivf" -> EmbeddingQueries.s04OracleSqlAt(cells, probes, rounds),
      "s08_ivfpq_rerank" -> EmbeddingQueries.s08OracleSqlAt(cells, rounds),
      "s09_semdedup" -> EmbeddingQueries.s09OracleSqlAt(cells, rounds),
      "s10_sem_decontam" ->
        EmbeddingQueries.s10OracleSqlAt(cells, probes, rounds),
      "s11_coreset_sample" ->
        EmbeddingQueries.s11OracleSqlAt(cells, rounds, perCell),
      "s12_pq_encode_incremental" ->
        EmbeddingQueries.s12OracleSqlAt(cells, rounds),
      "d52_containment_pairs" -> DocumentQueries.d52OracleSqlAt(rareCap),
      "d53_winnow_fps" -> DocumentQueries.d53OracleSqlAt(winnowW),
      "d54_winnow_matches" ->
        DocumentQueries.d54OracleSqlAt(winnowW, maxDf),
      "d03_minhash_dedup_pairs" ->
        graft.queries.DedupQueries.d03OracleSqlAt(maxBucket),
      "d56_bm25_topk" -> DocumentQueries.d56OracleSqlAt(bm25K),
      "d59_hybrid_topk" -> DocumentQueries.d59OracleSqlAt(bm25K),
      "s14_knn_graph" ->
        EmbeddingQueries.s14OracleSqlAt(cells, rounds, knnK, knnNprobe),
      "s15_graph_density" -> EmbeddingQueries.s15OracleSqlAt(cells, rounds,
        knnK, EmbeddingQueries.densityTau, knnNprobe))
    targets.foreach { case (name, _) =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[conf-replay] dumped $name ($knobLine)")
    }
    // The STORED-ARTIFACT ann path at the same knobs (r19, VERDICT r18
    // #5): ivftrain → ivfindex → annRankTableIndexed through real
    // parquet round-trips, replayed against the s04 oracle — the
    // retrieval is definitionally the same (annRankTableIndexed is
    // spec-pinned row-equal to the inline path), so one DuckDB pass
    // closes the artifact family's cross-engine loop at non-default
    // (cells, probes, rounds) the way d54/d58/d39 already have. Output
    // renamed to the oracle's (q_id, rnk, c_id) because the driver-style
    // compare matches columns BY NAME.
    locally {
      import org.apache.spark.sql.functions.col
      val art = s"$outDir/_artifacts"
      Main.run(spark, Seq("ivftrain", s"$sfDir/embeddings.parquet",
        s"$art/cent"), Map.empty)
      Main.run(spark, Seq("ivfindex", s"$sfDir/embeddings.parquet",
        s"$art/cent", s"$art/idx"), Map.empty)
      val name = "s04_ann_ivf_artifact"
      EmbeddingQueries.annRankTableIndexed(
          spark.read.parquet(s"$art/idx"),
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") < 20),
          spark.read.parquet(s"$art/cent"), k = 5)
        .select(col("query_id").as("q_id"), col("rk").as("rnk"),
          col("doc_id").as("c_id"), col("cos_sim"))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[conf-replay] dumped $name via stored artifacts " +
        s"(cells=$cells probes=$probes rounds=$rounds)")
      Verify.writeOracleJson(outDir, targets :+
        (name -> EmbeddingQueries.s04OracleSqlAt(cells, probes, rounds)))
    }
    spark.stop()
  }
}
