package graft

import org.apache.spark.sql.functions._

/** Dev tool: the END-TO-END training-data pipeline wall measurement
  * behind SCALE.md's composition row. The stage compositions are
  * correctness-tested (MainSpec's curate→decontam→pack chain), and each
  * stage's scaling is measured in isolation by ScaleBench — but a real
  * pipeline runs them in SEQUENCE over one corpus, and the composed
  * wall (plus the job count, the scheduling-floor proxy) had never been
  * measured in one run. This main drives the real CLI surface
  * ([[Main.run]]) over a ScaleGen corpus:
  *
  *   prep (untimed pipeline-side): documents.parquet → JSON-lines drop
  *   ingest --once   drop → lang-partitioned corpus (stream drain)
  *   spandedup       corpus → span manifest, joined back as the cleaned
  *                   corpus (the manifest-consumer step a real pipeline
  *                   runs; salvage documents the same contract)
  *   curate          cleaned corpus → dispositions + split corpus
  *   decontam        curated corpus → eval report + train dispositions
  *   pack            curated corpus → sequence slice table
  *
  * Usage: `runMain graft.ScalePipeline <scaleGenDir> <workDir>
  * [seqLen] [--sidecars]` — per-stage wall on stderr, one summary JSON
  * line on stdout. `--sidecars` runs the ingest with EVERY standing
  * artifact maintained per micro-batch (`--sigs --spansigs
  * --winnowsigs --repsigs --decontam` — the d16/d36/d53-d54/d24/d39
  * producers), so the ingest-stage wall then measures the full
  * artifact-maintenance overhead a real lake pays per ingested batch.
  *
  * `--hybrid` (r18) swaps the curation chain for the HYBRID-RETRIEVAL
  * stack — the d59 production shape the gate can only pay inline:
  *
  *   ingest          drop → corpus (as above)
  *   bm25index       corpus → stored inverted-index artifact (d58)
  *   lexrank         20 probe queries (the corpus's own first docs)
  *                   against the STORED index → lexical rank table
  *   ivftrain        quantizer trained once → stored centroid artifact
  *   ivfindex        corpus assignment written cell-partitioned once
  *   semrank         `ann --index --centroids` — the artifact-driven
  *                   probe (corpus neither trained on nor re-assigned)
  *                   → semantic rank table (same id universe/query ids)
  *   fuse            the CLI verb over the two STORED rank tables →
  *                   fused ranking (bounded by |queries|·k·|systems| —
  *                   it must never touch the corpus; the measured wall
  *                   IS that claim)
  */
object ScalePipeline {
  val knobs = DevKit.Knobs(env = Set("GRAFT_CHECKPOINT_DIR"))

  def main(args: Array[String]): Unit = {
    val sidecars = args.contains("--sidecars")
    val hybrid = args.contains("--hybrid")
    val pos = args.filterNot(a => a == "--sidecars" || a == "--hybrid")
    val src = pos(0)
    val work = pos(1)
    val seqLen = if (pos.length > 2) pos(2) else "1024"
    val meter = DevKit.open("graft-scale-pipeline", knobs)
    val spark = meter.spark
    import spark.implicits._
    // $GRAFT_CHECKPOINT_DIR passes through to every stage (the same
    // knob the CLI honors): set, the whole pipeline runs its engine
    // materializations through reliable checkpoint() — the cluster
    // deployment shape, measurable against the local fast path.
    // Main.run applies (or explicitly unsets) the session conf from
    // this env on every stage, so no conf handling is duplicated here;
    // the two non-Main stages (prep, joinback) never materialize.
    val env = knobs.get("GRAFT_CHECKPOINT_DIR")
      .map("GRAFT_CHECKPOINT_DIR" -> _).toMap
    // per-stage (label, wall, reading) so the summary can separate the SIX
    // pipeline stages from prep and from the bookkeeping counts below —
    // "pipeline_total"/"jobs"/"compiles" must describe the pipeline alone
    def timed(label: String)(body: => Any): (String, Double, DevKit.Reading) = {
      val run = DevKit.timedRuns(meter, 1)(_ => body)
      val (dt, m) = (run.min, run.meter)
      System.err.println(f"[pipeline] $label%-10s $dt%8.2f s (${m.jobs}%3d jobs," +
        f" ${m.compiles}%4d compiles)")
      (label, dt, m)
    }
    // prep: parquet corpus → JSON-lines crawl drop (32 files → the
    // ingest source drains them in maxFilesPerTrigger batches). One
    // fixed event_ts: the watermark then never expires dedup state
    // mid-drain, so the measured ingest does the FULL cross-batch
    // fingerprint dedup (the worst case for state size).
    val prep = timed("prep") {
      spark.read.parquet(s"$src/documents.parquet")
        .select($"doc_id", $"text", $"lang", $"source",
          lit("2024-01-01T00:00:00.000Z").as("event_ts"))
        .repartition(32)
        .write.mode("overwrite").json(s"$work/drop")
    }
    val nIn = spark.read.parquet(s"$src/documents.parquet").count()
    val ingestStage =
      timed(if (sidecars) "ingest+art" else "ingest") {
        val artifactFlags =
          if (sidecars) Seq("--sigs", s"$work/sigs",
            "--spansigs", s"$work/spansigs",
            "--winnowsigs", s"$work/winnow",
            "--repsigs", s"$work/repidx",
            "--decontam", s"$work/decontam")
          else Nil
        Main.run(spark, Seq("ingest", "--once") ++ artifactFlags ++
          Seq(s"$work/drop", s"$work/corpus", s"$work/ckpt"), env)
      }
    val hybridStages = if (!hybrid) Nil else Seq(
      timed("bm25index") {
        Main.run(spark, Seq("bm25index", s"$work/corpus", s"$work/bm25idx"),
          env)
      },
      timed("lexrank") {
        // probe queries = the corpus's own first 20 docs (the s04/d56
        // gate convention: query ids 0..19, shared with the semantic
        // half so the fusion has two votes per query). The probe table
        // is |queries| rows — writing it is part of this stage's wall.
        spark.read.parquet(s"$work/corpus")
          .filter($"doc_id" < 20)
          .select($"doc_id".as("query_id"), $"text".as("qtext"))
          .write.mode("overwrite").parquet(s"$work/probes")
        Main.run(spark, Seq("bm25", s"$work/bm25idx", s"$work/probes",
          s"$work/lexranks"), env)
      },
      timed("ivftrain") {
        // the semantic build half, mirroring bm25index: quantizer
        // trained ONCE on the ScaleGen embeddings...
        Main.run(spark, Seq("ivftrain", s"$src/embeddings.parquet",
          s"$work/centroids"), env)
      },
      timed("ivfindex") {
        // ...and the corpus assignment written cell-partitioned once
        Main.run(spark, Seq("ivfindex", s"$src/embeddings.parquet",
          s"$work/centroids", s"$work/ivfidx"), env)
      },
      timed("semrank") {
        // the PROBE half: `ann --index --centroids` over the stored
        // artifacts (corpus neither trained on nor re-assigned; queries
        // default to vec_id < 20 — the s04 gate convention) → the
        // semantic rank table in the d59 (query_id, rk, doc_id) contract
        Main.run(spark, Seq("ann", s"$src/embeddings.parquet",
          s"$work/semranks", "--centroids", s"$work/centroids",
          "--index", s"$work/ivfidx"), env)
      },
      timed("fuse") {
        Main.run(spark, Seq("fuse", s"$work/lexranks", s"$work/semranks",
          s"$work/fused"), env)
      })
    val curationStages = if (hybrid) Nil else Seq(
      timed("spandedup") {
        // default separator (blank line): ScaleGen docs carry no
        // paragraph breaks, so each doc is ONE span and the stage
        // dedups exact-duplicate documents at span grain — the honest
        // shape for this corpus (a crawled corpus with real paragraph
        // structure exercises the same plan at finer grain)
        Main.run(spark, Seq("spandedup", s"$work/corpus",
          s"$work/spans"), env)
      },
      timed("joinback") {
        // the manifest-consumer step: replace each doc's text with its
        // span-cleaned rewrite (empty rewrites drop — a doc whose every
        // paragraph was a repeated span carries no training content)
        val corpus = spark.read.parquet(s"$work/corpus")
        val spans = spark.read.parquet(s"$work/spans")
          .select($"doc_id", $"cleaned")
        corpus.drop("text").join(spans, "doc_id")
          .filter(length(trim($"cleaned")) > 0)
          .withColumnRenamed("cleaned", "text")
          .write.mode("overwrite").parquet(s"$work/cleaned")
      },
      timed("curate") {
        Main.run(spark, Seq("curate", s"$work/cleaned", s"$work/cur"),
          env)
      },
      timed("decontam") {
        Main.run(spark, Seq("decontam", s"$work/cur/corpus",
          s"$work/dec"), env)
      },
      timed("pack") {
        Main.run(spark, Seq("pack", s"$work/cur/corpus", s"$work/packed",
          "--seq-len", seqLen), env)
      })
    val stages = ingestStage +: (hybridStages ++ curationStages)
    val nKept =
      if (hybrid) spark.read.parquet(s"$work/fused").count()
      else spark.read.parquet(s"$work/cur/corpus").count()
    val nSeqs =
      if (hybrid) 0L else spark.read.parquet(s"$work/packed").count()
    // pipeline_total/jobs cover the pipeline stages only (six in the
    // curation chain, seven under --hybrid): prep is input generation
    // (its wall rides in its own field) and the nIn/nKept/nSeqs
    // bookkeeping counts are measurement overhead, not pipeline work
    val total = stages.map(_._2).sum
    val pipelineJobs = stages.map(_._3.jobs).sum
    val outcome =
      if (hybrid) Seq("fused_rows" -> nKept)
      else Seq("docs_kept" -> nKept, "sequences" -> nSeqs)
    println(DevKit.json(Seq("metric" -> "pipeline_total", "value" -> total,
      "unit" -> "sec", "docs_in" -> nIn) ++ outcome ++ Seq(
      "jobs" -> pipelineJobs, "compiles" -> stages.map(_._3.compiles).sum,
      "sidecars" -> sidecars, "hybrid" -> hybrid) ++
      (prep +: stages).map { case (l, s, _) => l -> s }: _*))
    spark.stop()
  }
}
