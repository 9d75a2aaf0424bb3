package graft

import org.apache.spark.sql.Column

import graft.queries.DedupQueries

/** Dev tool: `explain("formatted")` for the LAZY internal stages that
  * the gate entries' eager materialization truncates out of Probe's
  * plan dumps (a localCheckpointed frame explains as `Scan ExistingRDD`
  * — the judge-facing plans/rNN evidence needs the stage plan BEFORE
  * the cut). Lives in package graft so scope internals are reachable.
  *
  * Usage: `runMain graft.PlanDump <stage> [...]` with stages:
  * dedup_pairs (DedupScope.pairs — the d03/d11/d25/d34 band-pair
  * stage), dedup_verified (DedupScope.verifiedPairs — d06/d14),
  * d16_probe (indexedProbePlan), d24_probe (indexedContamProbe),
  * d54_matches (winnowMatches), s14_cand (knnGraphPlan — knnGraph's
  * candidate scan + top-k stage before its materialize). Reads
  * `$SPARK_GRAFT_SF_DIR` (default sf0.01).
  */
object PlanDump {
  val knobs = DevKit.Knobs(env = Set("SPARK_GRAFT_SF_DIR"))

  def main(args: Array[String]): Unit = {
    val dir = knobs.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = DevKit.open("graft-plandump", knobs).spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def docs = Tables(spark, dir, "documents")
    // signature tables of the corpus (doc_id % m != m - 1) and of the
    // probe batch (the rest), plus the corpus rep index
    def probeInputs(m: Int, withSplit: Boolean) = {
      def sigs(c: Column) =
        DedupQueries.signatureTable(docs.filter(c), withSplit).persist()
      val corpus = sigs(pmod($"doc_id", lit(m)) =!= m - 1)
      (corpus, sigs(pmod($"doc_id", lit(m)) === m - 1),
        DedupQueries.repIndex(corpus).localCheckpoint(true))
    }
    args.foreach { stage =>
      println(s"==== stage: $stage ====")
      stage match {
        case "dedup_pairs" =>
          DedupQueries.withDedupScope(docs) { sc =>
            sc.pairs.explain("formatted")
          }
        case "dedup_verified" =>
          DedupQueries.withDedupScope(docs) { sc =>
            sc.verifiedPairs.explain("formatted")
          }
        case "d16_probe" =>
          val (_, batch, idx) = probeInputs(5, withSplit = false)
          DedupQueries.indexedProbePlan(idx, batch).explain("formatted")
        case "d24_probe" =>
          val (corpus, batch, idx) = probeInputs(2, withSplit = true)
          DedupQueries.indexedContamProbe(idx, corpus, batch)
            .explain("formatted")
        case "d54_matches" =>
          graft.queries.DocumentQueries.winnowMatches(
            graft.queries.DocumentQueries.winnowFpArtifact(
              docs.filter($"doc_id" % 2 === 0)),
            docs.filter($"doc_id" % 2 === 1))
            .explain("formatted")
        case "s14_cand" =>
          graft.queries.EmbeddingQueries.knnGraphPlan(
            Tables(spark, dir, "embeddings")
              .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
              .select($"vec_id", $"v")).explain("formatted")
        case other =>
          System.err.println(s"[plandump] unknown stage: $other")
      }
    }
    spark.stop()
  }
}
