package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Streaming document ingestion with exact dedup — the training-corpus
  * counterpart of the access-log stream: JSON-lines documents land in a
  * directory (the crawl drop), are fingerprinted with the d08 normalized
  * content hash, deduplicated within a watermark, and appended to a
  * lang-partitioned parquet corpus.
  *
  * Scale shape: the only stateful operator is
  * `dropDuplicatesWithinWatermark` keyed on the 32-char fingerprint —
  * state is bounded by (unique docs in the watermark window), never by
  * the corpus; the text itself shuffles once to the dedup exchange and
  * straight into the sink. Near-dup dedup (MinHash/LSH) stays a batch
  * job over the accumulated corpus ([[graft.queries.DedupQueries]], or
  * incrementally via `signatureTable` + `incrementalMatches`) — LSH
  * banding needs a corpus-wide join no streaming state should hold.
  */
object DocumentIngest {

  /** Landing-file schema: one JSON document per line. `event_ts` is the
    * crawl/event time the watermark runs on. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("event_ts", TimestampType)))

  /** d08's normalized content fingerprint (whitespace-collapsed lower). */
  def fingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Landing dir → watermarked, content-deduped document stream. Docs
    * whose normalized text was already seen inside the watermark window
    * are dropped (first wins); rows with unparseable JSON arrive as
    * all-null and are filtered like the batch pipeline's F1 gate. */
  def stream(spark: SparkSession, landingDir: String,
      watermarkDelay: String = "10 minutes",
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(docSchema)
      .json(landingDir)
      .filter(col("text").isNotNull && col("event_ts").isNotNull)
      .withColumn("fp", fingerprint(col("text")))
      .withWatermark("event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Wire to the lang-partitioned parquet corpus; call
    * `.trigger(...).start()` on the result. */
  def writer(df: DataFrame, outDir: String, checkpointDir: String)
      : DataStreamWriter[Row] =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("lang")

  /** Wire to the corpus AND maintain the d16 signature-table artifact
    * (`sigDir`): each micro-batch appends its rows to the lake and its
    * [[graft.queries.DedupQueries.signatureTable]] rows — (doc_id, fp,
    * mh, bands), one codegen pass over JUST the batch — next to it. This
    * is the producer side of incremental dedup: at 100 TB the corpus is
    * never re-signed; `incrementalMatches(corpusSigs, batchSigs)` joins
    * the maintained table, and the corpus TEXT is never re-read (the
    * artifact carries no text column at all). Since round 11 the
    * artifact also carries the d13 `split` label (folded into the same
    * signature pass), so `incrementalContamination` — the per-ingest
    * train/test-leak check — runs off it text-free as well.
    *
    * MIGRATION (pre-split artifacts): a sigDir whose batch partitions
    * were written before the split column existed must be re-signed once
    * (`signatureTable(corpusText, withSplit = true)` over the lake) —
    * split is a pure function of the text, and the text is exactly what
    * the artifact does not carry, so there is no in-place backfill. Do
    * NOT mix old and new partitions under one sigDir: a plain parquet
    * read resolves the schema from one sampled footer, so old rows
    * either drop the column or read split=null (and a null split can
    * never satisfy the cross-split filter — silently-empty d24 results).
    * `incrementalContamination` rejects split-less inputs loudly.
    *
    * Delivery: foreachBatch is at-least-once on crash-replay (two
    * parquet appends cannot share one transaction log), vs the single
    * file sink's exactly-once. The SIGNATURE artifact is nevertheless
    * idempotent under replay: each micro-batch lands in its own
    * `batch=<id>` partition dir with mode=overwrite, so a replayed batch
    * REPLACES its previous attempt instead of appending a duplicate —
    * repeated crash loops cannot grow the artifact (ADVICE r10). Readers
    * see one table at `sigDir` (partition discovery adds a `batch`
    * column; every signature consumer selects its columns explicitly).
    * The CORPUS append stays at-least-once, tolerable by construction:
    * replays are exact duplicates that d01/the fp state catch — dedup
    * being the pipeline's first batch stage is what buys the relaxation.
    * The batch is pinned so the two writes share one computation of the
    * dedup exchange above. */
  def writerWithSignatures(df: DataFrame, outDir: String, sigDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    writerWithArtifacts(df, outDir, Some(sigDir), None, "\n\n",
      checkpointDir, decontamDir = None)

  /** The general artifact-maintaining writer: corpus append plus any
    * combination of the d16 doc-signature sidecar (`sigDir`), the
    * d36 SPAN-signature sidecar (`spanSigDir`, documents segmented on
    * the literal `spanSep` — [[graft.queries.DocumentQueries
    * .corpusParas]], the same segmentation the batch spandedup uses)
    * and the d53/d54 winnowed-fp index sidecar (`winnowDir` —
    * [[graft.queries.DocumentQueries.winnowFpArtifact]] rows, the
    * standing corpus side `winnowMatches` probes).
    * Each sidecar follows the same idempotency contract: one
    * overwrite-mode `batch=<id>` partition dir per micro-batch, so a
    * crash-replayed batch REPLACES its previous attempt. The span
    * sidecar holds PER-BATCH [[graft.queries.DocumentQueries
    * .spanSignatures]] rows; disposition readers fold them with
    * `foldSpanSignatures` (df sums exactly under the unique-doc_id
    * ingest contract). Both sidecars ride the one pinned computation
    * of the dedup exchange above.
    *
    * `qualityMin`: the ingest-time quality gate — the d09 composite
    * (the SAME shared formula the d31 funnel and `curate` threshold,
    * so a doc the batch pipeline would cut never lands in the first
    * place) computed per micro-batch; docs below the bar are dropped
    * BEFORE the corpus append AND before every sidecar (a gated-out
    * doc must not enter the dedup/decontam artifacts either — the
    * artifacts describe the corpus, and the doc is not in it). With
    * `rejectsDir` set, rejected (doc_id, quality) rows land in
    * overwrite-mode `batch=<id>` partitions — the same replay-
    * idempotency contract as the sidecars, and the quarantine census
    * the F1 malformed-filter discipline keeps for every drop path. */
  def writerWithArtifacts(df: DataFrame, outDir: String,
      sigDir: Option[String], spanSigDir: Option[String], spanSep: String,
      checkpointDir: String,
      decontamDir: Option[String] = None,
      decontamN: Int = 8,
      qualityMin: Option[Double] = None,
      rejectsDir: Option[String] = None,
      winnowDir: Option[String] = None,
      repSigDir: Option[String] = None): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val origCols = batch.columns.toSeq.map(col)
        // `pinned` is the kept-docs frame every artifact below reads;
        // `root` is the persisted frame that owns the batch's ONE source
        // scan — under the quality gate that is the SCORED frame, so the
        // rejects write and the kept path share one computation of the
        // d09 composite instead of re-scanning the micro-batch source.
        val (pinned, root, rejects) = (qualityMin match {
          case Some(min) =>
            val scored = graft.queries.DocumentQueries
              .withQuality(batch.toDF()).persist()
            (scored.filter(col("quality") >= min).select(origCols: _*),
              scored,
              rejectsDir.map(d => scored.filter(col("quality") < min)
                .select(col("doc_id"), col("quality")) -> s"$d/batch=$batchId"))
          case None =>
            val p = batch.persist()
            (p.toDF(), p.toDF(), None)
        })
        // every write — INCLUDING the rejects quarantine — runs inside
        // the try so root.unpersist() reclaims the cached blocks on any
        // failure (a streaming driver is long-lived; foreachBatch retries
        // do not restart the JVM, so a leaked persist accumulates)
        try {
          rejects.foreach { case (r, path) =>
            r.write.mode("overwrite").parquet(path)
          }
          pinned.write.mode("append").partitionBy("lang").parquet(outDir)
          sigDir.foreach { d =>
            graft.queries.DedupQueries
              .signatureTable(pinned.select(col("doc_id"), col("text")),
                withSplit = true)
              .write.mode("overwrite").parquet(s"$d/batch=$batchId")
          }
          spanSigDir.foreach { d =>
            graft.queries.DocumentQueries
              .spanSignatures(graft.queries.DocumentQueries.corpusParas(
                pinned.select(col("doc_id"), col("text")), spanSep))
              .write.mode("overwrite").parquet(s"$d/batch=$batchId")
          }
          // the d53/d54 winnowed-fp index sidecar: one compiled
          // graft_winnow pass over JUST the batch; the standing table
          // is d54's corpus side, so the lake is never re-winnowed.
          // The artifact shape carries df (BATCH-LOCAL here; global
          // after `compact --winnowsigs` / foldWinnowSignatures) so
          // the d54 probe filters a stored column instead of paying a
          // full index aggregate per batch. Build-time parameters
          // (n=8, spark.graft.winnow.window, seed) must stay fixed for
          // the artifact's lifetime — the winnowFpTable compatibility
          // contract
          winnowDir.foreach { d =>
            graft.queries.DocumentQueries
              .winnowFpArtifact(pinned.select(col("doc_id"), col("text")))
              .write.mode("overwrite").parquet(s"$d/batch=$batchId")
          }
          // the d16/d24 probe-ready rep-index sidecar: one signature
          // pass over JUST the batch collapsed to rep grain with
          // batch-local bucket occupancy; global rep/occupancy restored
          // by `compact --repsigs` / foldRepIndex — each future ingest
          // probes the standing index without re-aggregating the corpus
          repSigDir.foreach { d =>
            graft.queries.DedupQueries.repIndex(
              graft.queries.DedupQueries.signatureTable(
                pinned.select(col("doc_id"), col("text")), withSplit = true))
              .write.mode("overwrite").parquet(s"$d/batch=$batchId")
          }
          decontamDir.foreach(d => decontamBatch(pinned, d, batchId, decontamN))
        } finally { root.unpersist(); () }
      }

  /** The d39 ingest gate: disposition this micro-batch's TRAIN-side
    * documents against the standing eval-side n-gram artifact
    * (`<dir>/evalsigs`, folded over PRIOR generations), write the
    * per-batch report to `<dir>/report/batch=<id>`, then fold the
    * batch's own eval-side n-grams into the artifact
    * (`<dir>/evalsigs/batch=<id>`) — contamination is caught as the
    * batch lands, not by the next full d32 audit.
    *
    * Replay idempotency (the sidecar contract): both subdirs are
    * overwrite-mode `batch=<id>` partitions, and the standing fold
    * EXCLUDES the current batch id — a crash-replayed batch sees
    * exactly the artifact its first attempt saw and REPLACES both its
    * outputs. Scope: the batch's own eval docs are folded into the
    * artifact, never probed (batch-internal leaks are corpus-internal
    * the moment the batch lands — the d24 audit convention). */
  private def decontamBatch(pinned: org.apache.spark.sql.Dataset[Row],
      dir: String, batchId: Long, n: Int): Unit = {
    val s = pinned.sparkSession
    import s.implicits._
    val docs = pinned.select(col("doc_id"), col("text"))
    val sigsPath = new org.apache.hadoop.fs.Path(s"$dir/evalsigs")
    val fs = sigsPath.getFileSystem(s.sessionState.newHadoopConf())
    val hasGens = fs.exists(sigsPath) &&
      fs.listStatus(sigsPath).exists(_.getPath.getName.startsWith("batch="))
    val standing =
      if (hasGens)
        graft.queries.DocumentQueries.foldEvalNgramSignatures(
          s.read.parquet(sigsPath.toString)
            .filter(col("batch") =!= batchId)
            .select("fp", "eval_df", "min_eval_doc", "n"))
      else Seq.empty[(String, Long, Long, Long)]
        .toDF("fp", "eval_df", "min_eval_doc", "n")
    // the artifact is self-describing (its n column): a standing
    // artifact built at a different n than this ingest's --decontam-n
    // refuses loudly inside incrementalDecontamination
    graft.queries.DocumentQueries
      .incrementalDecontamination(standing, docs, n)
      .write.mode("overwrite").parquet(s"$dir/report/batch=$batchId")
    graft.queries.DocumentQueries.evalNgramSignatures(docs, n)
      .write.mode("overwrite").parquet(s"$dir/evalsigs/batch=$batchId")
  }
}
