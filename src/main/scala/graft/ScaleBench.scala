package graft

/** Dev tool: the scaling measurement behind SCALE.md. Runs the dedup-scope
  * queries ([[graft.queries.DedupQueries.scopedQueryNames]]) over
  * ScaleGen corpora at SEVERAL sizes in
  * ONE session — same JVM, same JIT state, interleaving-free warmup — so
  * the wall-time ratios between scales are real rather than session drift
  * (SURVEY "Reading BENCH files": this box drifts ±30-40% across
  * sessions).
  *
  * Per (query, scale): min wall over `SPARK_GRAFT_BENCH_RUNS` (default 3)
  * timed runs, plus the Spark-job count and summed job wall of the LAST
  * run — job count ≈ plan-materialization overhead (scale-invariant by
  * design), so `wall(10×)/wall(1×)` under 10/`jobs` constant is the
  * measured form of "the micro-job latency amortizes with data volume".
  *
  * Usage: `runMain graft.ScaleBench <label>=<dir> [<label>=<dir> ...]`
  */
object ScaleBench {
  // derived from the one source of truth so a future scope query is
  // automatically in the sweep; d26 rides along because its distributed
  // prefix sum is the one scale-critical shape OUTSIDE the dedup scope
  // (count() collapses the gate entry's oracle orderBy, so the cell
  // measures the two-phase offset machinery, not a global sort); d28
  // because its df+canonical groupBy joins back a corpus-sized segment
  // table — the one post-round-11 dedup shape not already in the scope;
  // d29 because its one-corpus-pass-then-driver-loop split is the scale
  // CLAIM (ScaleGen's 31-word vocab is constant while the corpus grows
  // 100x, so only the word-frequency pass should grow, and the merge
  // loop on the collected word table should be scale-flat);
  // d30 because its train-side pre-aggregation is the no-pair-expansion
  // CLAIM (ScaleGen's near-dup groups make hot cross-split n-grams) and
  // d31 because it composes a corpus-wide groupBy+join above the gates
  // — the funnel must scale like its exact-dedup constituent, not worse
  // d39 (round 13) because it is the n-gram family's incremental form —
  // linear-by-necessity like d30/d32, artifact side bounded; s08 because
  // its PQ build (subvector explode + reassembly groupBy) is the one new
  // corpus-proportional vector shape (needs ScaleGen's embeddings table,
  // regenerated round 13);
  // d41 because its CLAIM is that the census stays one fp-grain pass
  // with catalog-bounded metadata joins (the pair count must not grow a
  // corpus-shaped term beyond the groupBy); d42 because it is the d26
  // two-phase prefix-sum discipline on the QUALITY axis — the cell
  // measures that the bucketed decomposition, not a global sort, holds
  // as the corpus grows; s09 because its within-cell pair scan is the
  // n²/k SemDeDup cost — the cell shows how the FIXED k=16 quantizer
  // degrades with corpus growth (the documented knob real runs raise)
  private val Queries =
    graft.queries.DedupQueries.scopedQueryNames.toSeq.sorted :+
      "d26_pack_sequences" :+ "d28_span_dedup" :+ "d29_bpe_merges" :+
      "d30_ngram_decontam" :+ "d31_curation_funnel" :+
      "d32_train_decontam" :+ "d35_bigram_logprob" :+
      "d36_incr_span_dedup" :+ "d37_hot_ngrams" :+
      "d39_incr_decontam" :+ "d40_epoch_shuffle" :+ "s08_ivfpq_rerank" :+
      "d41_source_overlap" :+ "d42_budget_select" :+ "s09_semdedup" :+
      // d43: the d42 bucket machinery in rank->element direction (the
      // partitioned quality-sort windows again carry the volume); d44:
      // two fp-grain groupBys + a fp equi-join — the d01/d41 profile
      "d43_quality_quantiles" :+ "d44_corpus_diff" :+
      // d45: the grouped two-phase rank — per-source partitioned
      // windows must carry the volume without a per-source funnel
      "d45_source_quality" :+
      // s10 (round 13 cont.): the train-home-cell/eval-probe asymmetry —
      // the cell shows the pair scan stays bounded by cell occupancy as
      // the corpus grows around a fixed eval split; d46: two ≤256-row
      // feature models + a bucket equi-join — the cell's CLAIM is that
      // only the (doc, bucket) collapse carries the volume; d47: the
      // shared n-gram pass + fp-grain df — linear-by-necessity like
      // d30/d37; m04: the banded perceptual-hash join — pair count must
      // stay bounded by band-bucket occupancy under ScaleGen's dup load
      "s10_sem_decontam" :+ "d46_dsir_weights" :+
      "d47_dup_ngram_frac" :+ "m04_media_neardup" :+
      // d48: k-means over the hashed-feature space — two (doc, bucket)
      // aggregates + bucket-keyed joins against ≤2048-row centroid
      // metadata; the cell's CLAIM is no pairwise term ever appears
      "d48_domain_clusters" :+
      // s11: quantizer pass + cell-partitioned window, zero pair scan —
      // should ride the s-family scheduling floor like s10
      "s11_coreset_sample" :+
      // d49: d23's term-join shape with the model on one split — must
      // ride d35's Heaps-sublinear band; m05: frame-fp census — the
      // d47 linear family at frame grain
      "d49_heldout_logprob" :+ "m05_shared_frames" :+
      // d50: one corpus chunk pass + a doc-keyed rebuild groupBy — must
      // ride the d28 rebuild band
      "d50_para_salvage" :+
      // d51 (round 15): per-row HOF folds, zero shuffle below the
      // presentation sort — the cell's CLAIM is pure map-side linearity
      // (the flattest band in the set; any growth beyond the corpus
      // read is a regression)
      "d51_rep_concentration" :+
      // d52 (round 15): rare-fp blocking + exact pair verify — the
      // cell's CLAIM is that under ScaleGen's dup load the pair term
      // stays bounded by rare-fp occupancy (<= cap² per rare fp), so
      // the cell scales with the fp pass like d47, not with pairs²
      "d52_containment_pairs" :+
      // d53 (round 15): one compiled winnow pass per row + a census
      // over the SELECTED fps only — must ride the d47 linear band at
      // ~2/(w+1) of its exchanged volume (the kernel's whole point)
      "d53_winnow_fps" :+
      // d54 (round 15): the winnowed index PROBED — corpus side is the
      // artifact (never re-winnowed), batch side one compiled pass;
      // the cell's CLAIM is the probe join stays at winnowed density
      // with the maxdf cap bounding ScaleGen's dup-group fan-out
      "d54_winnow_matches" :+
      // d55 (round 15): three translate() length-diffs in one codegen
      // projection — the d51 flat-band claim (map-side linearity, the
      // presentation sort the only exchange)
      "d55_encoding_anomaly" :+
      // m06 (round 15): generate + parse + census per row in one
      // batched mapPartitions — zero shuffle, the m01/m02 decode band
      "m06_audio_census" :+
      // s12 (round 15): artifact-driven batch encode — one broadcast
      // assign + the subvector explode/groupBy-free encode projection;
      // must ride the s-family near-flat band (the trainer cost is the
      // only corpus-proportional term and it halves to the even side)
      "s12_pq_encode_incremental" :+
      // d56 (round 16): ONE corpus tf census + probe-bounded joins —
      // the cell's CLAIM is that the probe set being fixed (50 queries)
      // while the corpus grows leaves only the census + the hit cut as
      // corpus-proportional terms (no pairwise/per-query corpus pass)
      "d56_bm25_topk" :+
      // d57 (round 16): one compiled code-point pass per row — the d51
      // flat-band claim (map-side linearity, presentation sort only)
      "d57_char_entropy" :+
      // m07 (round 16): generate + parse + windowed census per row in
      // one batched mapPartitions — the m06 zero-shuffle decode band
      "m07_frame_energy" :+
      // s13 (round 16): the packed-bit scan IS deliberately linear
      // (×|probes| narrow rows through the coarse window, the s01/s02
      // brute-scan asymptotics) — the cell's CLAIM is the bandwidth
      // constant: the corpus-proportional term reads 16 bytes/vector,
      // so the cell must track the s02 band, not the float-scan one
      "s13_hamming_rerank" :+
      // s14 (round 16): the s09 within-cell pair scan minus the tau
      // filter — n²/k with the FIXED k=16 gate quantizer, so the cell
      // shows the same per-cell quadratic degradation s09 documents
      // (the cells knob is the lever real runs raise)
      "s14_knn_graph" :+
      // d58 (round 16): index build + artifact probe in one call — the
      // build (census + df groupBy) owns the corpus-proportional term,
      // the probe side must stay at d56's post-census shape
      "d58_bm25_probe"

  val knobs = DevKit.Knobs(
    env = Set("SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_SCALE_QUERIES"),
    labels = true)

  def main(args: Array[String]): Unit = {
    val scales = args.toSeq.map(DevKit.pair)
    val runs = knobs.int("SPARK_GRAFT_BENCH_RUNS", 3)
    // dev subset filter (comma-separated ids, matched on the short prefix
    // like Bench's): sweep just the named cells — unset sweeps everything
    val only = knobs.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      only.forall(ids => ids(name.takeWhile(_ != '_')) || ids(name))
    val meter = DevKit.open("graft-scale-bench", knobs)
    val spark = meter.spark
    // Heap-sizing guard (round-15 lesson, SCALE.md "driver heap sizing"):
    // d47/d48/d52's x100+ cells need ~24g of driver heap for honest
    // slopes — under the 8g default the measured "slope" is mostly GC
    // tax (d52: 4.5x at 8g vs the real 1.38x at 24g), which reads as a
    // scale defect that isn't there. Warn LOUDLY up front rather than
    // report a silently poisoned sweep; SPARK_DRIVER_MEM=24g is the fix.
    val docCounts = scales.map { case (label, dir) =>
      (label, dir, spark.read.parquet(s"$dir/documents.parquet").count())
    }
    val heapGiB = Runtime.getRuntime.maxMemory / (1L << 30)
    val bigScales = docCounts.collect { case (l, _, n) if n >= 500000 => (l, n) }
    if (bigScales.nonEmpty && heapGiB < 12) {
      System.err.println("=" * 72)
      System.err.println(
        s"[scale] WARNING: sweeping ${bigScales.map(_._1).mkString(",")} " +
          s"(${bigScales.map(_._2).max} docs) under a ${heapGiB} GiB driver " +
          "heap -- x100+ cells measured under <12g report GC-TAXED slopes " +
          "(d52 showed 4.5x at 8g vs the honest 1.38x at 24g; " +
          "SCALE.md driver-heap-sizing finding). " +
          "Re-run with SPARK_DRIVER_MEM=24g for honest numbers.")
      System.err.println("=" * 72)
    }
    val rows = for ((label, dir, nDocs) <- docCounts; q <- Queries
        if selected(q)) yield {
      val fn = SparkEntry.queries(q)
      val run = DevKit.timedRuns(meter, runs)(_ => BenchExec.run(fn(spark, dir)))
      val m = run.meter
      System.err.println(f"[scale] $label%-6s $q%-26s min=${run.min}%7.2f s" +
        f"  jobs=${m.jobs}%3d jobSec=${m.jobSec}%7.2f" +
        f"  (${DevKit.wallsText(run.walls)})")
      DevKit.csv(label, q, run.min, m.jobs, m.jobSec, m.compiles, nDocs)
    }
    println("scale,query,min_wall_s,jobs,job_sum_s,compiles,n_docs")
    rows.foreach(println)
    spark.stop()
  }
}
