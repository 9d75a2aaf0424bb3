package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Materialize.Ops
import graft.operators.TextHash._

/** Near-duplicate detection over `documents` (the LLM-training-data
  * pipeline surface): MinHash signatures, MinHash+LSH candidate pairs,
  * SimHash fingerprints, and exact n-gram Jaccard verification. All four
  * are oracle-checked — signatures are exact modular integers generated
  * from graft.operators.TextHash on both engines.
  *
  * Scale design (100 TB): signatures are computed in ONE codegen pass per
  * document (higher-order functions on the token array — no explode), so
  * the only thing that ever shuffles is (doc_id, 16 longs) or a band key,
  * never the text. Candidate generation is the band-bucket self-join
  * (d03); exact Jaccard (d06) is the verify stage — at scale you run it
  * on d03's candidates, not on the full inverted index.
  *
  * Skew hardening (the 100× story): a band self-join is quadratic PER
  * BUCKET, so one viral duplicated document (or the shared sentinel
  * signature of sub-3-token docs, TextHash sentinel = [P,P,…]) turns one
  * bucket into an n² hot key. Three guards keep every bucket bounded:
  *
  *   1. exact-dup collapse FIRST — identical texts (md5 fingerprint, the
  *      d08 operator) are represented by their min doc_id before any band
  *      key exists; intra-group pairs are the exact-dedup stage's output
  *      (d01), not the LSH stage's;
  *   2. sentinel exclusion — docs with no 3-gram shingles cannot be
  *      meaningfully minhashed (every pair of them "matches" at sim 1.0);
  *      they never enter banding;
  *   3. bucket cap — any (band_id, band_key) bucket larger than
  *      `MaxBandBucket` distinct texts is dropped: a band key shared by
  *      hundreds of NON-identical texts carries no selectivity, only a
  *      quadratic join blow-up.
  */
object DedupQueries {

  /** Max distinct-text members of one LSH band bucket before the key is
    * considered degenerate and dropped (guard 3 above). Since round 16
    * the live value is the `spark.graft.dedup.maxbucket` session knob
    * ([[QueryConf.dedupMaxBucket]] — the skew lever a 100 TB run sizes);
    * this is its spec-pinned gate default. */
  val MaxBandBucket: Int = QueryConf.DefaultDedupMaxBucket

  /** The one-pass signature expression: every gate query and scope runs
    * the codegen [[graft.functions.TextSignatureExpr]] — the HOF strings
    * in [[graft.operators.TextHash]] are the oracle-documented reference
    * formulas, spec-pinned bit-equal (FunctionsSpec), and never run on
    * the hot path (HOFs are CodegenFallback: interpreted, boxed). */
  private def sigExpr: Column =
    expr(s"${graft.functions.TextSignatureExpr.functionName}(text)")

  /** Exact-dup collapse + sentinel exclusion (guards 1+2): one row per
    * distinct text with ≥1 shingle, keyed by min doc_id. One partial-
    * aggregating shuffle on fp — map-side combine collapses viral dup
    * groups before anything moves, and `first(mh)`/`first(bands)` are
    * sound because an fp group is byte-identical text. Carrying the
    * columns through the aggregate is safe ONLY because `sigs` is the
    * materialized cache: over the raw projections Catalyst re-inlines
    * the signature tree into every aggregate input (measured 5× slower
    * at 500 docs — and the join-back shape this replaces cost a
    * broadcast exchange + join stage per use).
    *
    * `extra` columns ride the collapse via first() — sound for the same
    * byte-identical-group reason; `keepFp` retains the group key for
    * callers that expand fp groups back to members (d24). ONE
    * implementation of guards 1+2: d24's per-side collapse reuses this
    * so a change to the sentinel rule can't leave a second copy behind. */
  private def representatives(sigs: DataFrame): DataFrame =
    representatives(sigs, keepFp = false)

  private def representatives(sigs: DataFrame, keepFp: Boolean,
      extra: String*): DataFrame = {
    val carried = Seq("mh", "bands") ++ extra
    val grouped = sigs
      // sentinel exclusion: mh[1] == P ⇔ the shingle set is empty (mod-P
      // hashes land in [0, P-1]; P is exactly the empty-doc sentinel)
      .filter(element_at(col("mh"), 1) =!= P)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        carried.map(c => first(col(c)).as(c)): _*)
    if (keepFp) grouped
    else grouped.select(("doc_id" +: carried).map(col): _*)
  }

  /** doc → its exact-dup representative (min doc_id per fingerprint),
    * `carry` columns riding along — the member-expansion twin of
    * [[representatives]]' groupBy form, used where every member row must
    * survive rather than one per group. ONE definition of the rep rule:
    * d14, d16 and d25 all expand members through this.
    *
    * Shape (r17): a map-side-combinable fp groupBy joined back fp-keyed
    * — NOT a `min().over(partitionBy(fp))` window, which funnels every
    * member of a viral fp (a million-copy crawl dup) through ONE task's
    * sort buffer before the rep is known. The groupBy collapses dup
    * groups in the map-side partial, the join-back is AQE
    * skew-splittable, and the output is row-identical (the bm25Index df
    * discipline, SCALE.md "hot-key fold A/B"). */
  private def memberReps(sigs: DataFrame, carry: String*): DataFrame = {
    val reps = sigs.groupBy(col("fp")).agg(min(col("doc_id")).as("rep"))
    sigs.select((Seq("doc_id", "fp") ++ carry).map(col): _*)
      .join(reps, Seq("fp"))
      .select((Seq("doc_id") ++ carry :+ "rep").map(col): _*)
  }

  /** Band buckets with degenerate keys dropped (guard 3), ONE bounded
    * map-side-combinable aggregate per bucket (r20): `(band_id,
    * band_key, bucket_n, members)` with members = the bucket's docs
    * ascending by id, each carrying its minhash. Replaces the r17
    * [explode → occupancy groupBy → join-back] chain plus the band
    * SELF-JOIN its pair consumers ran on top — four shuffle boundaries
    * (occupancy exchange, join-back of every exploded row, two
    * self-join exchanges) collapse into this one aggregate exchange,
    * and pairs fall out of the member arrays in-row
    * ([[bucketPairs]]).
    *
    * Skew (the 100× story, unchanged in kind, improved in degree): the
    * r17 groupBy+join-back existed so a template-spam band key never
    * buffers its whole bucket in one task before the cap applies. The
    * bounded aggregate keeps that property and moves FEWER bytes: a
    * viral key partial-aggregates into a ≤cap-member buffer on every
    * map task ([[graft.functions.BucketAgg]] — exact count, capped
    * storage), so the reduce side receives at most cap+ε members per
    * bucket per map task, where the join-back shipped every exploded
    * row. Past 128 in-memory buckets per partition ObjectHashAggregate
    * falls back to sort-based aggregation over the band keys — exactly
    * the sort the replaced sort-merge join-back paid, so the fallback
    * is never worse (the threshold is deliberately not raised: buffers
    * here are up to cap×~140 B, not graft_topk's k×16 B).
    *
    * posexplode_outer, NOT posexplode (r17, unchanged): the non-outer
    * Generate makes InferFiltersFromGenerate push a `size(bands)>0`
    * filter to the scan with the WHOLE signature expression inlined — a
    * ~600 KB interpreted tree re-evaluating the minhashes ~256× per row
    * (200s at sf0.01). bands is always length-4, so outer is
    * semantically identical; the explicit band_id null-filter preserves
    * the old equi-join's null-key drop without touching `bands`.
    *
    * `bucket_n` is exact for every surviving bucket (buckets are
    * dropped whole), so [[DedupScope.verifiedPairs]]'s candidate-doc
    * filter reads it as a plain column. `own` caches the bucket frame
    * (scope-bound where a scope exists): the pair explode and the
    * candidate-id derivation both read it. */
  private def cappedBuckets(reps: DataFrame,
      own: DataFrame => DataFrame): DataFrame = {
    val cap = QueryConf.dedupMaxBucket(reps.sparkSession)
    own(reps
      .select(col("doc_id"), col("mh"),
        posexplode_outer(col("bands")).as(Seq("band_id", "band_key")))
      .filter(col("band_id").isNotNull)
      .groupBy(col("band_id"), col("band_key"))
      .agg(expr(
        s"${graft.functions.BucketAgg.functionName}(doc_id, mh, $cap)").as("b"))
      .select(col("band_id"), col("band_key"),
        col("b.bucket_n").as("bucket_n"), col("b.members").as("members"))
      .filter(col("bucket_n") <= cap))
  }

  /** All intra-bucket pairs (doc_a < doc_b, both minhashes) from a
    * [[cappedBuckets]] frame, generated IN-ROW: members are stored
    * ascending by id, so two nested codegen explodes (each member
    * against the slice after it) emit exactly the a.doc_id < b.doc_id
    * pair set the old band self-join produced — no join, no exchange.
    * Pair volume is unchanged (Σ n·(n−1)/2 over capped buckets); only
    * the machinery producing it is. */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(col("members").as("ms"),
        posexplode(col("members")).as(Seq("i", "a")))
      .select(col("a"),
        explode(expr("slice(ms, i + 2, size(ms) - i - 1)")).as("bb"))
      .select(col("a.doc_id").as("doc_a"), col("a.mh").as("mh_a"),
        col("bb.doc_id").as("doc_b"), col("bb.mh").as("mh_b"))

  /** A cache-scope handle owning ONE materialized signature table shared
    * by every dedup stage run inside it.
    *
    * The signature table is materialized BEFORE any join sees it: when a
    * join sits above the raw HOF projections, Catalyst's projection
    * rebuild re-inlines the minhash tree (mh→sh→th references multiply
    * out ~200×; measured 0.27s → 48s for 5k docs). Persisting freezes the
    * one-pass evaluation; the band self-join references it twice and
    * shares the copy. MEMORY_AND_DISK by default, so at lake scale it
    * spills rather than OOMs.
    *
    * The cached table is the NARROW signature set only — (doc_id, fp,
    * mh, bands): the distinct-shingle SETS the verify stage needs are
    * ~20× wider than the signatures, so they are never cached or
    * shuffled corpus-wide; [[verifiedPairs]] recomputes them for the
    * (bounded) band-candidate docs alone, via a broadcast semi-join back
    * to the text. Caching them corpus-wide was round 6's single biggest
    * bench cost.
    *
    * Cache lifetime: SCOPE-bound. `close()` releases the one cache entry;
    * the public one-shot operators below wrap a scope around a single
    * stage and localCheckpoint the (narrow, bounded) result before
    * closing, so a long-lived session processing many corpora holds at
    * most one corpus's signatures at a time — and zero between calls. */
  final class DedupScope private[DedupQueries] (
      docs: DataFrame, withSplit: Boolean = false,
      withQuality: Boolean = false)
      extends AutoCloseable {

    /** Caches acquired by stages inside this scope (beyond `sigs`),
      * all released together by [[close]]. Stages persist LAZILY and
      * register here — no stage pays an eager materialization barrier,
      * and the scope still guarantees a cache-clean session on exit. */
    private val acquired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    private[DedupQueries] def owned(df: DataFrame): DataFrame = {
      val cached = df.persist()
      acquired += cached
      cached
    }

    /** (doc_id, fp, mh, bands[, split]) — the only corpus-wide pass over
      * the text, computed by the codegen
      * [[graft.functions.TextSignatureExpr]] (one compiled loop per doc;
      * the struct's field extractions share a single evaluation via
      * whole-stage-codegen subexpression elimination). `withSplit` folds
      * the d13 split hash into the same pass: the contamination check
      * then never rescans the corpus for its split side. `withQuality`
      * does the same for the d09 quality columns (d34's selection
      * input): quality is per-doc column math over the text the
      * signature pass is already scanning, so folding it here saves the
      * consumer a SECOND full corpus text scan plus the corpus-size
      * doc_id join to attach it (r19). */
    private[queries] val sigs: DataFrame =
      signatureTable(docs, withSplit, withQuality).persist()

    /** (fp, doc_id = the fp group's exact-dup representative, mh, bands)
      * — ONE fp-grain aggregate over the signature cache, shared by the
      * banding side ([[reps]]) and the member expansion ([[members]]).
      * Before r19 a disposition/contamination query aggregated the
      * corpus signature table by fp TWICE (sentinel-filtered for
      * banding via [[representatives]], unfiltered for memberReps' rep
      * table) — the same map-side-combinable corpus-wide exchange paid
      * twice per query. Cached scope-owned, lazily.
      *
      * first(mh)/first(bands) — and [[reps]]' group-then-filter
      * sentinel check — are row-identical to filter-then-group ONLY
      * under the standing assumption that equal md5 fingerprints imply
      * byte-identical text (no collisions; the same assumption every
      * fp-grain operator here makes). A change to the fp definition
      * (weaker hash, truncation) must revisit this site (ADVICE r19). */
    private[queries] lazy val fpReps: DataFrame = owned(
      sigs.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"),
        first(col("mh")).as("mh"), first(col("bands")).as("bands")))

    /** [[representatives]] off the shared [[fpReps]] cache. Sentinel
      * filtering happens on the GROUPED rows — mh is identical within an
      * fp group (byte-identical text), so group-then-filter is
      * row-identical to representatives' filter-then-group. */
    private[queries] def reps: DataFrame =
      fpReps.filter(element_at(col("mh"), 1) =!= P)
        .select(col("doc_id"), col("mh"), col("bands"))

    /** [[memberReps]] off the shared [[fpReps]] cache: doc → its
      * exact-dup representative with `carry` member-level columns
      * riding along. Row-identical to memberReps(sigs, carry). */
    private[queries] def members(carry: String*): DataFrame =
      sigs.select((Seq("doc_id", "fp") ++ carry).map(col): _*)
        .join(fpReps.select(col("fp"), col("doc_id").as("rep")), Seq("fp"))
        .select((Seq("doc_id") ++ carry :+ "rep").map(col): _*)

    /** d03: LSH candidate pairs with signature-estimated similarity
      * ≥ 0.5, between exact-dup representatives. Lazy — reads the shared
      * signature cache; materialize (or localCheckpoint) before close()
      * if the result must outlive the scope. */
    def pairs: DataFrame = {
      val s = sigs.sparkSession
      import s.implicits._
      // in-bucket pairs straight off the bounded bucket aggregate (r20
      // — no band self-join; see cappedBuckets/bucketPairs). The
      // equal-component count stays the codegen graft_eq_count (the HOF
      // zip_with∘filter chain is interpreted and runs per PRE-distinct
      // pair row); integer count → /K → round is arithmetic-identical
      bucketPairs(cappedBuckets(reps, owned))
        .select($"doc_a", $"doc_b",
          round(expr("graft_eq_count(mh_a, mh_b)") / lit(K.toDouble), 4)
            .as("sim_est"))
        .distinct()
        .filter($"sim_est" >= 0.5)
    }

    /** d06: exact n-gram Jaccard ≥ 0.5 verified over the LSH band
      * candidates only (the scale-correct verify shape).
      *
      * The shingle SETS never ride the corpus-wide cache or any wide
      * shuffle: the candidate pair set is bounded (capped band buckets),
      * so its member docs are re-read through a broadcast semi-join on
      * the text and shingled in one codegen pass over JUST those docs.
      * The exact-intersect joins then move only candidate shsets —
      * volume proportional to the candidates LSH already bounded, never
      * corpus². (Round 6 cached shsets corpus-wide instead: ~20× wider
      * than the signatures, and the round's single biggest bench cost.) */
    def verifiedPairs: DataFrame = {
      val s = sigs.sparkSession
      import s.implicits._
      // Everything below is LAZY + scope-owned-cached — ZERO eager
      // barriers. Rounds 6–8 checkpointed the candidate pair set first
      // because the shingle side seemed to need its ids; that serialized
      // the stage behind two synchronous checkpoint jobs. The key fact
      // that removes the chain: a doc participates in a candidate pair
      // IFF it sits in a band bucket of size 2..MaxBandBucket, so the
      // shingle side derives from the exploded bands directly and the
      // one real job materializes the shared `exploded` cache once, then
      // the self-join and the shingle pass read it in parallel.
      //
      // Measured reality (round-10 per-job profiling, Probe
      // SPARK_GRAFT_JOBS): at test SF this stage's wall time is ~25 AQE
      // stage-materialization jobs of 0.03-0.23 s each — plan depth ×
      // scheduling latency, no single stage owning the clock. Both the
      // round-9 barrier drop and the round-10 bucket_n window fold
      // A/B-measured as nulls at sf0.1 for exactly that reason; they
      // are kept because each removes a corpus-wide shuffle, which is
      // what matters at lake scale where stages do real work.
      //
      // Round-11 same-JVM A/Bs (graft.PerfAB, 3 interleaved rounds each)
      // closed out the remaining candidate levers, all nulls at sf0.1:
      //   - adaptive.coalescePartitions.parallelismFirst=false
      //     (d14 2.00/2.22, d06 1.18/1.30 — task count is not the cost);
      //   - eager exploded.count() before the consumers
      //     (d14 2.50/2.16, d06 1.21/1.17 — within noise);
      //   - adaptive.enabled=false initially read as -23% on d14, but
      //     that was a PerfAB harness artifact (timed runs executed
      //     under the warm runs' retained checkpoint blocks; fixed late
      //     round 11) — re-measured with the fixed harness it is a
      //     clean null with AQE ON slightly ahead (med 1.87 vs 2.02),
      //     so the production-correct setting (AQE's coalesce/skew
      //     re-planning is exactly what the signature-volume stages
      //     want at 100 TB) costs nothing even at test SF. The
      //     per-stage latency floor is the cost of a deep plan on an
      //     idle scheduler; SCALE.md measures how it amortizes with
      //     data volume.
      val buckets = cappedBuckets(reps, owned)
      val cand = bucketPairs(buckets)
        .select($"doc_a", $"doc_b")
        .distinct()
      // pair-participating docs, straight from the bucket structure (no
      // dependency on the pair explode): any doc sharing a surviving
      // bucket with at least one other doc. bucket_n rides the cached
      // bucket frame (computed once in cappedBuckets) — this is a
      // filter, not a second aggregate over the same frame.
      val candIds = buckets
        .filter($"bucket_n" >= 2)
        .select(explode($"members.doc_id").as("doc_id")).distinct()
      // shingle sets for the candidate docs ONLY — one codegen pass over
      // the few docs surviving the broadcast semi-join, cached so both
      // join sides below share one computed (bounded) table
      val candSh = owned(docs.join(broadcast(candIds), "doc_id")
        .select($"doc_id", sigExpr.getField("shset").as("shset")))
      cand
        .join(candSh.select($"doc_id".as("doc_a"), $"shset".as("sh_a")), "doc_a")
        .join(candSh.select($"doc_id".as("doc_b"), $"shset".as("sh_b")), "doc_b")
        .withColumn("n_common", size(array_intersect($"sh_a", $"sh_b")))
        .withColumn("jaccard", round($"n_common" /
          (size($"sh_a") + size($"sh_b") - $"n_common"), 4))
        .filter($"jaccard" >= 0.5)
        .select($"doc_a", $"doc_b", $"jaccard")
    }

    /** d11: duplicate clusters from this scope's candidate pairs. Eager:
      * one action fetches the pairs, and the labels come back as a local
      * table that outlives the scope. */
    def clusters: DataFrame =
      connectedComponents(pairs.select(col("doc_a"), col("doc_b")))

    /** Releases the signature cache and every stage-acquired cache. The
      * catalog entries are removed synchronously (the cache-empty
      * contract); block deletion is async — nothing re-reads them. */
    def close(): Unit = {
      acquired.foreach(_.unpersist(blocking = false))
      acquired.clear()
      sigs.unpersist(blocking = false)
    }
  }

  /** Open a [[DedupScope]], run `f` inside it, release the signature
    * cache on every exit path. The composed entry point for running
    * several dedup stages over ONE signature materialization — at 100 TB
    * the candidate → verify → cluster pipeline is one job, and the corpus
    * must be signature-scanned once, not once per stage. */
  def withDedupScope[A](docs: DataFrame, withSplit: Boolean = false,
      withQuality: Boolean = false)(
      f: DedupScope => A): A = {
    val scope = new DedupScope(docs, withSplit, withQuality)
    try f(scope) finally scope.close()
  }

  /** d03 as a reusable operator over any (doc_id, text) frame: LSH
    * candidate pairs with signature-estimated similarity ≥ 0.5.
    *
    * Eager: the (bounded, narrow) pair set is materialized via
    * localCheckpoint before the signature cache is released — the
    * returned frame has truncated lineage and references no cache, so
    * the operator leaves the session's catalog cache exactly as it found
    * it. (The checkpoint's own RDD blocks live until the RETURNED frame
    * is unreferenced — the ContextCleaner reclaims them then; callers
    * retaining many results across corpora hold that storage, see the
    * Bench post-query unpersist.) */
  def minhashPairs(docs: DataFrame): DataFrame =
    withDedupScope(docs)(_.pairs.materialize())

  /** d06 as a reusable operator: exact n-gram Jaccard ≥ 0.5 verified over
    * the LSH band candidates only (the scale-correct verify shape).
    * Eager + self-cleaning, same contract as [[minhashPairs]]. */
  def jaccardDups(docs: DataFrame): DataFrame =
    withDedupScope(docs)(_.verifiedPairs.materialize())

  /** The persistable signature artifact for incremental dedup — compute
    * once per ingestion batch (one codegen pass), store next to the
    * lake: (doc_id, fp, mh, bands[, split]). At 100 TB the corpus is
    * never re-signed; each new batch signs itself and joins this table.
    *
    * `withSplit` folds the d13 train/val/test assignment into the SAME
    * pass (the signature struct already carries the split bucket), which
    * is what [[incrementalContamination]] consumes — the split gate then
    * never needs the text either. */
  def signatureTable(docs: DataFrame, withSplit: Boolean = false,
      withQuality: Boolean = false): DataFrame = {
    val cols = Seq(col("doc_id"), md5(col("text")).as("fp"),
      col("_sig.mh").as("mh"), col("_sig.bands").as("bands")) ++
      (if (withSplit)
         Seq(DocumentQueries.splitOfBucket(col("_sig.split_bucket")).as("split"))
       else Nil) ++
      (if (withQuality) Seq(col("quality")) else Nil)
    // quality (d09's codegen column math — [[DocumentQueries.withQuality]],
    // the ONE definition) rides the same projection as the signature
    // struct, so the pass stays one compiled scan over the text
    (if (withQuality) DocumentQueries.withQuality(docs) else docs)
      .withColumn("_sig",
        expr(s"${graft.functions.TextSignatureExpr.functionName}(text)"))
      .select(cols: _*)
  }

  /** d16: incremental dedup — match an INCOMING batch against an
    * EXISTING corpus, both given as [[signatureTable]] artifacts, so the
    * corpus text is never touched (the only 100 TB-viable shape: the
    * lake keeps its signature table; each ingest signs just itself).
    *
    * Two tiers, one row per matched incoming doc (best partner:
    * similarity desc, then min corpus doc_id):
    *   - exact: content-fingerprint equi-join, similarity 1.0;
    *   - near: LSH band equi-join of batch reps against corpus reps
    *     (exact-dup collapse + sentinel exclusion per side; degenerate
    *     corpus buckets dropped by the [[MaxBandBucket]] cap — a band
    *     key shared by hundreds of distinct corpus texts has no
    *     selectivity), minhash-estimated similarity ≥ 0.5, expanded
    *     back to member docs through the batch's fp groups.
    * Everything that shuffles is signatures and band keys — never text. */
  def incrementalMatches(corpusSigs: DataFrame, batchSigs: DataFrame): DataFrame = {
    val s = corpusSigs.sparkSession
    // persist only what this call materializes itself — a caller that
    // already cached its signature table keeps its cache afterwards
    val none = org.apache.spark.storage.StorageLevel.NONE
    val ownCorpus = corpusSigs.storageLevel == none
    val corpus = if (ownCorpus) corpusSigs.persist() else corpusSigs
    try incrementalMatchesIndexed(repIndex(corpus).materialize(), batchSigs)
    finally { if (ownCorpus) corpus.unpersist(blocking = false) }
  }

  /** d16's probe-ready corpus artifact (round 16 — the d54/winnow
    * convention at the signature grain): one row per DISTINCT content
    * fingerprint, `(fp, rep, mh, bands, bucket_ns[, split])` —
    * rep = the fp group's exact-dup representative (min doc_id, the ONE
    * rep rule), mh/bands carried via first() (sound: an fp group is
    * byte-identical text), and `bucket_ns` = the per-band-position
    * occupancy of the rep's LSH buckets over the NON-SENTINEL rep set
    * (null for the empty-doc sentinel fp, which never enters the near
    * tier). Everything the incremental probe needs is thereby a STORED
    * column: the exact tier is one fp equi-join, the near tier explodes
    * bands zipped with their stored occupancy and filters the
    * [[MaxBandBucket]] cap as a probe-time knob — at 100 TB each ingest
    * batch probes the standing index without re-collapsing corpus reps
    * or re-counting band buckets (which a raw signature table forces on
    * EVERY probe — two full corpus-artifact aggregates per batch).
    * Sidecar producer: ingest `--repsigs` writes this shape per batch
    * with BATCH-LOCAL rep/occupancy; [[foldRepIndex]] (read-side fold,
    * and what `compact --repsigs` persists) restores the global values —
    * the winnowFpArtifact/foldWinnowSignatures contract. */
  def repIndex(sigs: DataFrame): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val extra =
      if (sigs.columns.contains("split")) Seq(first($"split").as("split"))
      else Nil
    val aggs = Seq(min($"doc_id").as("rep"), first($"mh").as("mh"),
      first($"bands").as("bands")) ++ extra
    withBucketNs(sigs.groupBy($"fp").agg(aggs.head, aggs.tail: _*))
  }

  /** The rep-index generation fold: same-fp rows across generations
    * merge (min rep — the global exact-dup representative; mh/bands are
    * identical per fp by construction) and `bucket_ns` is recomputed
    * over the folded rep set. ONE definition shared by the read path
    * and `compact --repsigs`. */
  def foldRepIndex(index: DataFrame): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    val extra =
      if (index.columns.contains("split")) Seq(first($"split").as("split"))
      else Nil
    val aggs = Seq(min($"rep").as("rep"), first($"mh").as("mh"),
      first($"bands").as("bands")) ++ extra
    withBucketNs(index.drop("bucket_ns").groupBy($"fp").agg(aggs.head, aggs.tail: _*))
  }

  /** Attach `bucket_ns` (band-position-aligned LSH bucket occupancy over
    * the non-sentinel rep set) to a rep-grain frame — the build/fold
    * half of the [[repIndex]] contract. The reps frame feeds both the
    * occupancy derivation and the final join, so it is materialized
    * once (the d41/d47 multi-consumer barrier); this is artifact-BUILD
    * code, never probe code, so the eager barrier is the point. */
  private def withBucketNs(reps0: DataFrame): DataFrame = {
    val s = reps0.sparkSession
    import s.implicits._
    val reps = reps0.materialize()
    // occupancy = map-side-combinable (band_id, band_key) groupBy joined
    // back band-keyed (r17) — NOT a count window: a template-spam band
    // key would buffer its whole bucket in one window task at build
    // time, while the groupBy partial-aggregates it map-side and the
    // join-back splits under AQE (the cappedBands/bm25Index discipline).
    // Occupancy is stored RAW (uncapped) — the MaxBandBucket cap is a
    // probe-time knob reading this column.
    //
    // The exploded band frame feeds BOTH the occupancy groupBy and the
    // join-back, so it is cached and the (narrow — fp + one int array)
    // ns table materialized under that cache: one explode pass populates
    // it, both consumers ride it, and the cache is released before
    // return (ADVICE r17 — cappedBands' `own` discipline; previously the
    // explode re-ran per branch off the checkpointed reps). The returned
    // join stays LAZY: reps and ns are each materialized, and the
    // callers checkpoint/write the assembled index themselves.
    val exploded = reps
      .filter(element_at($"mh", 1) =!= P)
      .select($"fp", posexplode_outer($"bands").as(Seq("band_id", "band_key")))
      .persist()
    val ns = try {
      val occupancy = exploded.groupBy($"band_id", $"band_key")
        .agg(count(lit(1)).as("bucket_n"))
      exploded.join(occupancy, Seq("band_id", "band_key"))
        .groupBy($"fp")
        .agg(expr("transform(array_sort(collect_list(struct(band_id, bucket_n)))," +
          " x -> x.bucket_n)").as("bucket_ns"))
        .materialize()
    } finally { exploded.unpersist(blocking = false); () }
    reps.join(ns, Seq("fp"), "left")
  }

  /** [[incrementalMatches]] over a stored [[repIndex]] artifact — the
    * probe itself: zero corpus-side aggregates in the plan (spec-pinned
    * in OperatorsSpec). The batch side signs and collapses ITSELF (one
    * ingest's docs); the corpus side is read, never recomputed. */
  def incrementalMatchesIndexed(index: DataFrame, batchSigs: DataFrame): DataFrame = {
    val none = org.apache.spark.storage.StorageLevel.NONE
    val ownBatch = batchSigs.storageLevel == none
    val batch = if (ownBatch) batchSigs.persist() else batchSigs
    try indexedProbePlan(index, batch).materialize()
    finally { if (ownBatch) batch.unpersist(blocking = false) }
  }

  /** The indexed probe's LAZY plan — split out so OperatorsSpec can
    * audit it for corpus-side aggregates (the shipped probe
    * materializes eagerly, which truncates lineage before any plan walk
    * could see the shape being asserted). */
  private[graft] def indexedProbePlan(index: DataFrame,
      batch: DataFrame): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    require(Seq("rep", "bucket_ns").forall(index.columns.contains),
      "incrementalMatchesIndexed probes the repIndex shape (fp, rep, mh, " +
        "bands, bucket_ns) — build the standing index with repIndex / fold " +
        "generations with foldRepIndex; a raw signature table would force " +
        "corpus-wide rep + bucket aggregates on every probe")
    val exact = batch
      .join(index.select($"fp", $"rep".as("match_id")), "fp")
      .select($"doc_id", $"match_id", lit(1.0).as("sim"))
    // near tier off STORED occupancy: bands zipped with bucket_ns by
    // position, the MaxBandBucket cap filtering a stored column (the
    // winnow.maxdf shape — the cap stays a probe-time knob); sentinel
    // fps (empty docs) are a projection filter, not an aggregate
    val cBands = index
      .filter(element_at($"mh", 1) =!= P)
      .select($"rep".as("doc_id"), $"mh",
        posexplode_outer(expr("arrays_zip(bands, bucket_ns)"))
          .as(Seq("band_id", "bz")))
      .select($"doc_id", $"mh", $"band_id",
        $"bz.bands".as("band_key"), $"bz.bucket_ns".as("bucket_n"))
      .filter($"bucket_n" <= QueryConf.dedupMaxBucket(s))
    // ONE batch-side fp aggregate shared by banding and member expansion
    // (r19 — the d24 probe's bReps discipline applied here): the old
    // shape aggregated the batch by fp twice (representatives +
    // memberReps' rep table). Sentinel-group members drop out of the
    // rep-filtered join-back, which is row-identical: their rep is
    // band-excluded and could never match a nearRep b_id.
    val bReps = representatives(batch, keepFp = true)
    val bBands = bReps
      .select($"doc_id".as("b_id"), $"mh".as("b_mh"),
        posexplode_outer($"bands").as(Seq("b_band_id", "b_band_key")))
    val nearRep = bBands
      .join(cBands,
        $"b_band_id" === $"band_id" && $"b_band_key" === $"band_key")
      .select($"b_id", $"doc_id".as("c_id"),
        round(expr("graft_eq_count(b_mh, mh)") / lit(K.toDouble), 4)
          .as("sim"))
      .distinct()
      .filter($"sim" >= 0.5)
    val batchRepOf = batch.select($"doc_id", $"fp")
      .join(bReps.select($"fp", $"doc_id".as("rep")), Seq("fp"))
      .select($"doc_id", $"rep")
    val near = batchRepOf
      .join(nearRep, $"rep" === $"b_id")
      .select($"doc_id", $"c_id".as("match_id"), $"sim")
    // best partner per batch doc as a map-side-combinable max(struct)
    // aggregate (r20) — the d14/d34 argmax shape; (sim DESC, match_id
    // ASC), corpus ids non-negative so -match_id cannot overflow
    exact.union(near)
      .groupBy($"doc_id")
      .agg(max(struct($"sim", (-$"match_id").as("neg"),
        $"match_id".as("id"))).as("m"))
      .select($"doc_id", $"m.id".as("match_doc_id"),
        $"m.sim".as("similarity"))
  }

  /** d24: INCREMENTAL train/test contamination — the per-ingest form of
    * [[contamination]]: which train/test leaks does THIS batch introduce
    * against the standing corpus? Both sides arrive as
    * [[signatureTable]] artifacts WITH the split column
    * (`withSplit = true` — the maintained `--sigs` lake artifact), so
    * neither the corpus text nor the batch text is ever re-read: the
    * artifact carries no text column at all, which makes "no corpus-text
    * re-scan" true by construction, not by plan luck.
    *
    * Semantics: one row per TEST-side doc (batch or corpus) that gains a
    * train-side near-duplicate through this ingest — a batch test doc
    * near-dup of a corpus train doc, or a corpus test doc compromised by
    * a batch train doc. Best partner per test doc (similarity desc, then
    * min train doc_id), mirroring d14's convention. Exact duplicates
    * cannot straddle the split (identical text ⇒ identical content hash
    * ⇒ same bucket), so — exactly as in batch d14 — every possible leak
    * flows through the near-dup band tier and no exact tier is needed.
    *
    * Divergence from batch d14, documented: similarity is the MinHash
    * ESTIMATE (`graft_eq_count/K`, the d03/d16 statistic), not the exact
    * n-gram Jaccard — exact verification needs shingle sets, i.e. text,
    * which the incremental path by design does not have. Both thresholds
    * are 0.5; a pair flagged here and absent from a subsequent batch d14
    * audit is a signature-estimate false positive, the usual LSH
    * contract. Batch-internal leaks (both sides inside the new batch)
    * are out of scope here — they are corpus-internal the moment the
    * batch lands, covered by the next full d14 audit.
    *
    * Scale shape: corpus-side work is the same as [[incrementalMatches]]
    * — one fp groupBy over SIGNATURES plus capped band explode; the
    * cross-split rep pairs are bounded (capped buckets), so the
    * corpus-side member expansion joins a BROADCAST of the hit
    * fingerprints back to the signature table instead of window-shuffling
    * the whole corpus. Nothing that moves is wider than a signature row. */
  def incrementalContamination(corpusSigs: DataFrame, batchSigs: DataFrame): DataFrame = {
    requireSplitColumn(corpusSigs, "corpus")
    requireSplitColumn(batchSigs, "batch")
    val none = org.apache.spark.storage.StorageLevel.NONE
    val ownCorpus = corpusSigs.storageLevel == none
    val ownBatch = batchSigs.storageLevel == none
    val corpus = if (ownCorpus) splitGuarded(corpusSigs, "corpus").persist()
                 else splitGuarded(corpusSigs, "corpus")
    val batch = if (ownBatch) splitGuarded(batchSigs, "batch").persist()
                else splitGuarded(batchSigs, "batch")
    var ownedPairs: Option[DataFrame] = None
    try {
      // inline index build (the persisted-artifact path is
      // incrementalContaminationIndexed): the guarded corpus feeds the
      // build, so a mixed pre-/post-split sigDir trips loudly here too.
      // lazyCut, not eager (r20): the assembled reps⋈ns join has ONE
      // consumer (the probe's cBands explode) — its blocks compute under
      // the probe's own materialize action; reps and ns are each already
      // eagerly materialized inside withBucketNs (multi-consumer build
      // barriers), so nothing upstream re-executes.
      val idx = graft.Materialize.lazyCut(repIndex(corpus))
      indexedContamProbe(idx, corpus, batch,
        { df => val p = df.persist(); ownedPairs = Some(p); p })
        .materialize()
    } finally {
      ownedPairs.foreach(_.unpersist(blocking = false))
      if (ownCorpus) corpus.unpersist(blocking = false)
      if (ownBatch) batch.unpersist(blocking = false)
    }
  }

  /** [[incrementalContamination]] over a stored [[repIndex]] artifact
    * (the `--repsigs` sidecar, split carried — build it from withSplit
    * signature tables): the corpus-side rep collapse AND the bucket
    * census come from STORED columns, so the probe plans zero
    * corpus-wide aggregates. The doc-grain `corpusSigs` table is still
    * an input — the member expansion needs fp-group MEMBERS — but it is
    * touched only by a broadcast semi-join of the (bounded) hit
    * fingerprints, never aggregated. */
  def incrementalContaminationIndexed(index: DataFrame,
      corpusSigs: DataFrame, batchSigs: DataFrame): DataFrame = {
    require(Seq("rep", "bucket_ns", "split").forall(index.columns.contains),
      "incrementalContaminationIndexed probes the split-carrying repIndex " +
        "shape (fp, rep, mh, bands, bucket_ns, split) — build the standing " +
        "index with repIndex over signatureTable(docs, withSplit = true) " +
        "(the --repsigs sidecar) / fold generations with foldRepIndex")
    requireSplitColumn(corpusSigs, "corpus")
    requireSplitColumn(batchSigs, "batch")
    val none = org.apache.spark.storage.StorageLevel.NONE
    val ownCorpus = corpusSigs.storageLevel == none
    val ownBatch = batchSigs.storageLevel == none
    val corpus = if (ownCorpus) splitGuarded(corpusSigs, "corpus").persist()
                 else splitGuarded(corpusSigs, "corpus")
    val batch = if (ownBatch) splitGuarded(batchSigs, "batch").persist()
                else splitGuarded(batchSigs, "batch")
    var ownedPairs: Option[DataFrame] = None
    try indexedContamProbe(index, corpus, batch,
        { df => val p = df.persist(); ownedPairs = Some(p); p })
      .materialize()
    finally {
      ownedPairs.foreach(_.unpersist(blocking = false))
      if (ownCorpus) corpus.unpersist(blocking = false)
      if (ownBatch) batch.unpersist(blocking = false)
    }
  }

  /** Loud schema gate: an artifact written before the split column
    * existed (pre-round-11 `--sigs` output) must fail HERE with a
    * migration message, not as an unresolved-column error deep in the
    * plan — and never as a silently-empty result (a mixed-schema sigDir
    * read without mergeSchema can surface the column but null it for
    * old partitions; see the DocumentIngest migration note). */
  private def requireSplitColumn(df: DataFrame, side: String): Unit =
    require(df.columns.contains("split"),
      s"incrementalContamination: $side signature table has no 'split' " +
        "column — it was written by a pre-split signatureTable; re-sign " +
        "that corpus once with signatureTable(docs, withSplit = true)")

  /** The column-exists check alone cannot catch the MIXED dir
    * (new-schema footer sampled, old partitions read split=null — the
    * silently-empty shape): a per-row null trip riding the existing
    * projection turns that into a loud error too. signatureTable never
    * emits a null split, so any null here IS a pre-split partition. */
  private def splitGuarded(df: DataFrame, side: String): DataFrame =
    df.withColumn("split",
      when(col("split").isNull, raise_error(lit(
        s"incrementalContamination: null 'split' in the $side signature " +
          "table — mixed pre-/post-split partitions under one sigDir; " +
          "re-sign the corpus (see DocumentIngest migration note)")))
        .otherwise(col("split")))

  /** d24's probe body over a rep-index corpus side — LAZY (the public
    * entry points materialize; OperatorsSpec audits this plan), with
    * `cache` as the caller's persistence hook for the twice-consumed
    * rep-pair frame. */
  private[graft] def indexedContamProbe(index: DataFrame, corpus: DataFrame,
      batch: DataFrame,
      cache: DataFrame => DataFrame = identity): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    // corpus side entirely from STORED columns: sentinel fps filtered by
    // projection, bands zipped with their stored bucket occupancy, the
    // MaxBandBucket cap a probe-time filter (the d16-indexed shape);
    // `fp` rides the explode so the hit fingerprints fall out of
    // repPairs directly — never a join back through a corpus aggregate
    val cBands = index
      .filter(element_at($"mh", 1) =!= P)
      .select($"rep".as("doc_id"), $"mh", $"split", $"fp",
        posexplode_outer(expr("arrays_zip(bands, bucket_ns)"))
          .as(Seq("band_id", "bz")))
      .select($"doc_id", $"mh", $"split", $"fp", $"band_id",
        $"bz.bands".as("band_key"), $"bz.bucket_ns".as("bucket_n"))
      .filter($"bucket_n" <= QueryConf.dedupMaxBucket(s))
    // batch side signs and collapses ITSELF (one ingest's docs; split
    // carried — sound: an fp group is byte-identical text, and identical
    // text has identical split bucket)
    val bReps = representatives(batch, keepFp = true, "split")
      .withColumnRenamed("doc_id", "rep")
    val bBands = bReps
      .select($"rep".as("b_rep"), $"mh".as("b_mh"), $"split".as("b_split"),
        posexplode_outer($"bands").as(Seq("b_band_id", "b_band_key")))
    // cached by the caller: referenced twice below (hit-fp broadcast +
    // member expansion) — without the persist the dominant stage chain
    // (band join → distinct) would plan and run twice inside the one
    // checkpoint action, the same double-evaluation d14 caches its `nd`
    // to avoid
    val repPairs = cache(bBands
      .join(cBands,
        $"b_band_id" === $"band_id" && $"b_band_key" === $"band_key")
      .select($"b_rep", $"b_split", $"doc_id".as("c_rep"),
        $"split".as("c_split"), $"fp".as("c_fp"),
        round(expr("graft_eq_count(b_mh, mh)") / lit(K.toDouble), 4)
          .as("sim"))
      .distinct()
      .filter($"sim" >= 0.5)
      .filter(($"b_split" === "test" && $"c_split" === "train") ||
        ($"b_split" === "train" && $"c_split" === "test")))
    // member expansion. Corpus side: only fp groups that actually hit —
    // a broadcast of the (bounded) hit fingerprints back onto the
    // doc-grain signature table, never a corpus-wide window or groupBy.
    // Batch side: plain fp-group join, batch-sized.
    val cHitFps = repPairs.select($"c_rep", $"c_fp".as("fp")).distinct()
    val cMembers = corpus.select($"doc_id".as("c_member"), $"fp")
      .join(broadcast(cHitFps), "fp")
      .select($"c_member", $"c_rep")
    val bMembers = batch.select($"doc_id".as("b_member"), $"fp")
      .join(bReps.select($"fp", $"rep".as("b_rep")), "fp")
      .select($"b_member", $"b_rep")
    val memberPairs = repPairs
      .join(bMembers, "b_rep")
      .join(cMembers, "c_rep")
      .select(
        when($"b_split" === "test", $"b_member").otherwise($"c_member")
          .as("test_id"),
        when($"b_split" === "test", $"c_member").otherwise($"b_member")
          .as("train_id"),
        $"sim")
    // best partner per test doc as a map-side-combinable max(struct)
    // aggregate (r20) — the d14/d34 argmax shape; see contamination for
    // the equivalence argument (sim DESC, train_id ASC; non-negative ids)
    memberPairs.groupBy($"test_id")
      .agg(max(struct($"sim", (-$"train_id").as("neg"),
        $"train_id".as("id"))).as("m"))
      .select($"test_id".as("doc_id"), $"m.id".as("train_doc_id"),
        $"m.sim".as("similarity"))
  }

  /** d14: train/test contamination — the question a training pipeline
    * asks of exactly the d13 + d03/d06 artifacts: which TEST documents
    * have a near-duplicate on the TRAIN side of the split? Each offender
    * is reported once, with its most-similar train-side partner
    * (similarity desc, then min train doc_id — deterministic).
    *
    * Composition: near-dup pairs are exact-Jaccard-verified band
    * candidates between exact-dup REPRESENTATIVES (the [[DedupScope]]
    * pipeline), expanded to member docs through the fingerprint groups,
    * then gated by the d13 content-hash split. Exact duplicates cannot
    * themselves straddle the split (identical text ⇒ identical content
    * hash ⇒ same bucket — see [[DocumentQueries.splitAssign]]), so every
    * possible leak flows through a verified near-dup pair and the
    * rep-level pair set is sufficient, not just cheap.
    *
    * Scale shape: everything that shuffles is (doc_id, rep) pairs or the
    * bounded verified-pair set; the split assignment is one codegen pass.
    * The expansion joins are rep-keyed equi-joins — candidate volume is
    * bounded by (verified pairs × dup-group sizes), never corpus². */
  def contamination(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    withDedupScope(docs, withSplit = true) { scope =>
      // cache the verified pairs (scope-owned, lazy): the symmetric union
      // below references them twice, and the exact-Jaccard verify join is
      // the stage's dominant cost — computing it once halves the query
      val nd = scope.owned(scope.verifiedPairs)
      // doc → its exact-dup representative off the scope's shared fpReps
      // cache (r19 — the rep aggregate is computed once for banding AND
      // expansion), split label riding the member side. Cached
      // (scope-owned): the test and train sides below would otherwise
      // each run the join-back.
      val members = scope.owned(scope.members("split"))
      val test = members.filter($"split" === "test")
        .select($"doc_id".as("test_id"), $"rep".as("rep_t"))
      val train = members.filter($"split" === "train")
        .select($"doc_id".as("train_id"), $"rep".as("rep_r"))
      // undirected pair set, oriented both ways so either side may be the
      // test doc
      val sym = nd.select($"doc_a".as("rep_x"), $"doc_b".as("rep_y"), $"jaccard")
        .union(nd.select($"doc_b".as("rep_x"), $"doc_a".as("rep_y"), $"jaccard"))
      val hits = test.join(sym, $"rep_t" === $"rep_x")
        .join(train, $"rep_y" === $"rep_r")
        .select($"test_id", $"train_id", $"jaccard".as("sim"))
      // best partner per test doc as ONE map-side-combinable aggregate
      // (r20; was a row_number window): max(struct(sim, -train_id,
      // train_id)) realizes (sim DESC, train_id ASC) in a single struct
      // comparison — the d34/d48 argmax shape. Same exchange on test_id,
      // but partial aggregation collapses per-key rows map-side and no
      // per-partition sort buffer exists; train ids are non-negative
      // (dispositionGuarded-grade corpus ids), so the negation cannot
      // overflow. Row-identical to the window form (oracle-pinned).
      hits.groupBy($"test_id")
        .agg(max(struct($"sim", (-$"train_id").as("neg"),
          $"train_id".as("id"))).as("m"))
        .select($"test_id".as("doc_id"), $"m.id".as("train_doc_id"),
          $"m.sim".as("similarity"))
        .materialize()
    }
  }

  /** d11: duplicate CLUSTERS — the connected components of the LSH pair
    * graph, each doc labeled with the min doc_id reachable through
    * near-dup links (transitive closure). This is the actual artifact a
    * dedup pipeline ships: keep one doc per cluster_id.
    *
    * The pair set is fetched once and its components are found by
    * union-find on the driver ([[connectedComponents]]): the graph is
    * bounded by the capped candidate pairs, not the corpus, so it fits
    * the driver at any corpus size SCALE.md measures. The returned
    * labels are a local table that references no scope state.
    */
  def duplicateClusters(docs: DataFrame): DataFrame =
    withDedupScope(docs)(_.clusters)

  /** Refuse a corpus whose `doc_id` column repeats a value, with
    * `message` of the first repeated id seen: one `head(1)` over an
    * id-only aggregate (fixed-width keys, column-pruned scan). The
    * disposition operators and [[DocumentQueries.packSequences]] share
    * it; each names its own operation in the message. */
  private[queries] def requireUniqueDocIds(docs: DataFrame)(
      message: Any => String): Unit = {
    val dup = docs.groupBy("doc_id").count()
      .filter(col("count") > 1).select("doc_id").head(1)
    if (dup.nonEmpty) throw new IllegalArgumentException(message(dup.head.get(0)))
  }

  /** The disposition operators' shared contract checks (loud — these
    * are CLI-reachable over arbitrary user parquet, where a schema
    * deviation must fail, not silently disposition wrong):
    *   - non-integral doc_id: connectedComponents reads ids as longs,
    *     and a cast string id is null or truncated;
    *   - duplicate doc_id (a replayed corpus): rep = canonical = itself
    *     on BOTH rows and both read 'kept' — the "deduped" corpus keeps
    *     duplicates. One id-only shuffle (fixed-width keys,
    *     column-pruned scan) before the expensive pipeline runs;
    *   - null text / null doc_id: md5(null) groups all null-text rows
    *     into ONE fp "exact-dup" group of unrelated documents. The null
    *     trips ride the existing projection (the d24 guard pattern),
    *     costing nothing on a clean corpus.
    * Returns the null-guarded frame. */
  private def dispositionGuarded(docs: DataFrame, op: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.schema("doc_id").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"$op: doc_id must be an integral type, got $other — " +
          "re-key the corpus (e.g. monotonically increasing ids) before " +
          "disposition")
    }
    requireUniqueDocIds(docs)(id => s"$op: duplicate doc_id $id — doc " +
      "ids must be unique; re-key or compact the corpus before disposition")
    docs
      .withColumn("doc_id", when($"doc_id".isNull,
        raise_error(lit(s"$op: null doc_id in the corpus")))
        .otherwise($"doc_id"))
      .withColumn("text", when($"text".isNull,
        raise_error(lit(s"$op: null text in the corpus — filter " +
          "or repair extraction failures before disposition (ingest " +
          "drops them at the door)")))
        .otherwise($"text"))
  }

  /** d25: APPLY the dedup decision — the disposition a training pipeline
    * actually executes to emit its corpus: every document labeled
    * `kept`, `exact_dup` (a byte-identical copy of an earlier doc), or
    * `near_dup` (an exact-dup representative whose near-dup cluster
    * keeps a smaller doc), with `canonical_id` = the kept document this
    * one's content collapses to. Filtering to `status = 'kept'` (or
    * `doc_id = canonical_id`) yields exactly one doc per content
    * cluster; d01/d03/d11 DETECT, this DISPOSES.
    *
    * Composition (nothing new moves): exact stage = min doc_id per
    * fingerprint over the scope's one signature pass (fixed-width fp
    * shuffle keys — shingle-less docs participate here too, identical
    * empty-ish texts are still exact dups); near-dup stage = the d11
    * cluster labels over the capped rep-level pair graph; disposition =
    * one rep-keyed left join of the corpus-size member table against
    * the (pair-graph-bounded) label table. Canonical chase terminates
    * in one step by construction: a cluster label IS the component's
    * min doc, whose own label is itself. */
  def dedupApply(docs: DataFrame): DataFrame =
    withDisposition(docs, best = false)(_.materialize())

  /** d34: best-representative dedup — d25's disposition with the
    * canonical chosen by QUALITY, not by age: within each content group
    * (the exact-dup fingerprint group chained through its near-dup
    * cluster) the kept document is the member with the highest d09
    * quality score, ties broken toward the smallest doc_id so the
    * choice is total and deterministic. This is the selection a
    * quality-aware pipeline actually runs: d25 keeps the OLDEST member
    * (min doc_id — right for incremental stability), but when emitting
    * a training corpus the cleanest capture of the content should win,
    * and near-dup cluster members genuinely differ in quality (exact
    * copies tie by construction — identical text, identical score —
    * and fall back to the id order, so d34 ⊇ d25's exact stage).
    * Output: every doc with its quality, the group's chosen
    * canonical_id, and kept/dup.
    *
    * Scale shape (nothing new moves): membership = the same
    * memberReps + rep-keyed cluster-label join as d25; quality is one
    * codegen pass joined on doc_id (long keys); the argmax is ONE
    * group aggregate of max(struct(quality, -doc_id, doc_id)) —
    * fixed-width, map-side combinable, no window — joined back on the
    * group id. The -doc_id field makes lexicographic max realize
    * "quality DESC, doc_id ASC" in a single struct comparison (doc ids
    * are non-negative, so the negation cannot overflow). */
  def dedupBest(docs: DataFrame): DataFrame =
    withDisposition(docs, best = true)(_.materialize())

  /** The d25 disposition ([[dedupApply]]), or under `best` the d34 one
    * ([[dedupBest]]), handed lazy to `f` inside the one dedup scope that
    * owns its caches. The contract checks run first, then one action
    * fetches the pair graph for [[connectedComponents]]; `f`'s own
    * action runs the rest of the plan off the scope's signature cache.
    * The library entry points cut the frame (`_.materialize()`) so it
    * outlives the scope; the `dedup` verb writes it inside `f` instead
    * and counts its statuses with an observation on that write. `f`
    * must finish every action over the frame before it returns: the
    * scope's caches are released then. */
  def withDisposition[A](docs: DataFrame, best: Boolean)(
      f: DataFrame => A): A = {
    val s = docs.sparkSession
    import s.implicits._
    val guarded =
      dispositionGuarded(docs, if (best) "dedupBest" else "dedupApply")
    // d34's quality rides the scope's one signature pass and the member
    // carry (r19): no second text scan, no corpus-size doc_id join
    withDedupScope(guarded, withQuality = best) { scope =>
      val clusters = scope.clusters.select($"doc_id".as("rep"), $"cluster_id")
      val members = scope.members((if (best) Seq("quality") else Nil): _*)
        .join(clusters, Seq("rep"), "left")
      val group = coalesce($"cluster_id", $"rep")
      f(if (best) {
        val scored = members.select($"doc_id", $"quality", group.as("group_id"))
        val canonical = scored.groupBy($"group_id")
          .agg(max(struct($"quality", (-$"doc_id").as("neg"),
            $"doc_id".as("id"))).as("m"))
          .select($"group_id", $"m.id".as("canonical_id"))
        scored.join(canonical, Seq("group_id"))
          .select($"doc_id", $"quality", $"canonical_id",
            when($"doc_id" === $"canonical_id", "kept")
              .otherwise("dup").as("status"))
      } else
        members.select($"doc_id", group.as("canonical_id"),
          when($"doc_id" === group, "kept")
            .when($"doc_id" =!= $"rep", "exact_dup")
            .otherwise("near_dup").as("status")))
    }
  }

  /** Connected components over an undirected pair graph (doc_a, doc_b):
    * every node labeled with the min doc_id reachable from it, as
    * (doc_id, cluster_id: long), doc_id keeping the pair columns' type.
    *
    * Union-find on the driver. One action fetches the graph: each task
    * packs its partition's edges into two primitive long arrays, so the
    * driver holds 16 B per edge, not a boxed Row. The endpoint ids are
    * sorted and deduplicated in place, each edge unions the positions of
    * its two ids, and a union always hangs the larger root under the
    * smaller one — so every root is its set's smallest position, which
    * is its min doc_id. Path halving keeps the finds short; any graph
    * finishes in one pass over the edges, whatever its diameter. The
    * labels go back as a local table (the d29 re-injection pattern):
    * they pin no checkpoint or cache, and a join reads them without
    * re-running the pair plan. SCALE.md "Connected components on the
    * driver" has the measured edge counts and the bytes per edge; above
    * that bound Spark's own `spark.driver.maxResultSize` fails the fetch
    * loudly. */
  def connectedComponents(pairFrame: DataFrame): DataFrame = {
    val s = pairFrame.sparkSession
    import s.implicits._
    val idType = pairFrame.select($"doc_a").union(pairFrame.select($"doc_b"))
      .schema.head.dataType
    val blocks = pairFrame.select($"doc_a".cast("long"), $"doc_b".cast("long"))
      .as[(Long, Long)]
      .mapPartitions { edges =>
        val a, b = new scala.collection.mutable.ArrayBuilder.ofLong
        edges.foreach { case (x, y) => a += x; b += y }
        Iterator((a.result(), b.result()))
      }
      .collect()
    val ids = Array.concat(blocks.flatMap { case (a, b) => Seq(a, b) }: _*)
    java.util.Arrays.sort(ids)
    var n = 0 // distinct ids, compacted to the front of `ids`
    for (i <- ids.indices if n == 0 || ids(i) != ids(n - 1)) {
      ids(n) = ids(i); n += 1
    }
    val parent = Array.range(0, n)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    for ((a, b) <- blocks; k <- a.indices) {
      val ra = find(at(a(k)))
      val rb = find(at(b(k)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (0 until n).map(i => (ids(i), ids(find(i)))).toDF("doc_id", "cluster_id")
      .select($"doc_id".cast(idType).as("doc_id"), $"cluster_id")
  }

  /** The shared rep/banding CTE chain at an explicit bucket cap — the
    * oracle-side counterpart of guards 1–3 ([[duckReps]] is this at the
    * gate default; ConfReplay replays other caps via
    * [[d03OracleSqlAt]]). */
  private def duckRepsAt(cap: Int) =
    s"""sigs AS (
          SELECT doc_id, md5(text) AS fp, sh, mh, ${duckBands("mh")} AS bands
          FROM (SELECT doc_id, text, sh, ${duckMinhash("sh")} AS mh
                FROM (SELECT doc_id, text, ${duckShingles("th")} AS sh
                      FROM (SELECT doc_id, text, ${duckTokenHashes("text")} AS th
                            FROM documents)))
          WHERE len(sh) > 0),
        reps AS (
          SELECT min(doc_id) AS doc_id, any_value(mh) AS mh,
            any_value(bands) AS bands,
            any_value(list_distinct(sh)) AS shset
          FROM sigs GROUP BY fp),
        expl AS (
          SELECT doc_id, mh, shset, b.band_id, bands[b.band_id + 1] AS band_key
          FROM reps, (SELECT unnest(range(${Bands})) AS band_id) b),
        capped AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS bucket_n
            FROM expl)
          WHERE bucket_n <= $cap)"""

  /** DuckDB CTEs mirroring representatives() + cappedBands() exactly:
    * same fingerprint collapse, sentinel exclusion, and bucket cap, so
    * the pair sets hash-match by construction. */
  private val duckReps = duckRepsAt(MaxBandBucket)

  /** d03 oracle generator at an explicit bucket cap: the gate entry is
    * this at [[QueryConf.DefaultDedupMaxBucket]]; ConfReplay
    * `maxbucket=N` DuckDB-verifies the knob away from the default. */
  def d03OracleSqlAt(cap: Int): String =
    s"""WITH ${duckRepsAt(cap)}
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            round(len(list_filter(range(1, ${K + 1}), i -> a.mh[i] = b.mh[i]))
                  / ${K}.0, 4) AS sim_est
          FROM capped a JOIN capped b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
          WHERE round(len(list_filter(range(1, ${K + 1}), i -> a.mh[i] = b.mh[i]))
                  / ${K}.0, 4) >= 0.5
          ORDER BY doc_a, doc_b"""

  /** The gate queries whose execution materializes a per-invocation
    * cache scope (eager signature-table persist + localCheckpoint):
    * their first run pays cold parquet reads and first-materialization
    * that later runs don't, so timing tools must give them extra runs
    * to report steady-state (Bench) and scale sweeps target exactly
    * this set (ScaleBench). ONE source of truth — QueriesSpec pins it
    * to `queries.keySet` so a future scope query can't silently fall
    * back to cold-skewed min-of-2 numbers (round-10's d06 "3.88 s"
    * false alarm). */
  val scopedQueryNames: Set[String] = Set(
    "d03_minhash_dedup_pairs", "d06_ngram_jaccard_dups",
    "d11_dup_clusters", "d14_contamination", "d16_incremental_dedup",
    "d24_incr_contamination", "d25_dedup_apply", "d34_dedup_best")

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    // ---- d02: MinHash signatures + LSH band keys -------------------------
    // One codegen pass; each band key is already the '-'-joined run of 4
    // signature components, so the full 16-component sig string is the
    // bands re-joined — no per-row HOF anywhere.
    "d02_minhash_sigs" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("_sig", sigExpr)
        .select(
          $"doc_id",
          concat_ws("-", element_at($"_sig.bands", 1),
            element_at($"_sig.bands", 2), element_at($"_sig.bands", 3),
            element_at($"_sig.bands", 4)).as("sig"),
          element_at($"_sig.bands", 1).as("band0"),
          element_at($"_sig.bands", 2).as("band1"),
          element_at($"_sig.bands", 3).as("band2"),
          element_at($"_sig.bands", 4).as("band3"))
        // sortedOnce (r19): the sort sampler would re-run the signature pass
        .sortedOnce($"doc_id")
    },

    // ---- d03: LSH candidate pairs + signature-estimated similarity -------
    "d03_minhash_dedup_pairs" -> { (s, dir) =>
      import s.implicits._
      minhashPairs(Tables(s, dir, "documents")).orderBy($"doc_a", $"doc_b")
    },

    // ---- d04: SimHash fingerprints ---------------------------------------
    // The HOF formulation (TextHash.sparkSimhash) is the oracle-documented
    // reference; the gate runs the same bits out of the one codegen pass
    // (spec-pinned equal in FunctionsSpec).
    "d04_simhash" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("_sig", sigExpr)
        .select($"doc_id", $"_sig.simhash".as("simhash"))
        .sortedOnce($"doc_id")
    },

    // ---- d06: exact n-gram Jaccard over LSH candidates (verify stage) ----
    // Candidates come from the band join, NEVER from a full inverted-
    // index self-join: with a small hot vocabulary (exactly this corpus)
    // every shingle is shared by ~1% of all docs and the index join is
    // quadratic (~80M pairs at sf0.1). Verifying only band-collision pairs
    // keeps the exact-Jaccard stage linear in true near-dups — the shape
    // that survives 100 TB.
    "d06_ngram_jaccard_dups" -> { (s, dir) =>
      import s.implicits._
      jaccardDups(Tables(s, dir, "documents")).orderBy($"doc_a", $"doc_b")
    },

    // ---- d11: duplicate clusters (connected components of d03 pairs) -----
    "d11_dup_clusters" -> { (s, dir) =>
      import s.implicits._
      duplicateClusters(Tables(s, dir, "documents")).orderBy($"doc_id")
    },

    // ---- d14: train/test contamination (d13 split × verified near-dups) --
    "d14_contamination" -> { (s, dir) =>
      import s.implicits._
      contamination(Tables(s, dir, "documents")).orderBy($"doc_id")
    },

    // ---- d16: incremental dedup (new batch vs existing corpus) ----------
    // The 20% of docs with doc_id ≡ 4 (mod 5) play the incoming batch;
    // the rest are the standing corpus with a persisted signature table.
    "d16_incremental_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      incrementalMatches(
        signatureTable(docs.filter(pmod($"doc_id", lit(5)) =!= 4)),
        signatureTable(docs.filter(pmod($"doc_id", lit(5)) === 4)))
        .orderBy($"doc_id")
    },

    // ---- d24: incremental contamination (batch ingest vs corpus) --------
    // Odd doc_ids play the ingest batch (d16's %5 split yields an EMPTY
    // cross-split pair set at sf0.01 — a vacuous gate check; the half
    // split is the smallest modulus with leaks on this corpus); both
    // sides as withSplit signature tables, so the check runs exactly the
    // way the pipeline would — off the maintained artifact, never the
    // text.
    "d24_incr_contamination" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      incrementalContamination(
        signatureTable(docs.filter(pmod($"doc_id", lit(2)) =!= 1), withSplit = true),
        signatureTable(docs.filter(pmod($"doc_id", lit(2)) === 1), withSplit = true))
        .orderBy($"doc_id")
    },

    // ---- d25: apply the dedup decision (corpus disposition) -------------
    "d25_dedup_apply" -> { (s, dir) =>
      import s.implicits._
      dedupApply(Tables(s, dir, "documents")).orderBy($"doc_id")
    },

    // ---- d34: best-representative dedup ---------------------------------
    // d25 with the canonical chosen by d09 quality (ties toward the
    // smaller doc_id) — the selection a quality-aware corpus emission
    // runs; see dedupBest for semantics and the argmax-by-struct shape.
    "d34_dedup_best" -> { (s, dir) =>
      import s.implicits._
      dedupBest(Tables(s, dir, "documents")).orderBy($"doc_id")
    },

    // ---- d19: within-document repetition ratio ---------------------------
    // The Gopher-family quality signal the near-dup operators don't
    // cover: how much of a document is the document repeating ITSELF —
    // 1 − distinct/total 3-gram shingles (0.0 for shingle-less docs).
    // Rides the same codegen signature pass as d02-d14 (shset is the
    // distinct set, total is tokens−2); one linear pass, no shuffle.
    "d19_repetition" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("_sig", sigExpr)
        .withColumn("n_shingles",
          greatest(lit(0L), (size(split($"text", " ")) - 2).cast("long")))
        .withColumn("n_distinct", size($"_sig.shset").cast("long"))
        .withColumn("rep_ratio",
          when($"n_shingles" === 0, lit(0.0))
            .otherwise(floor(
              (lit(1.0) - $"n_distinct".cast("double") / $"n_shingles")
                * 1000000) / 1000000.0))
        .select($"doc_id", $"n_shingles", $"n_distinct", $"rep_ratio")
        .sortedOnce($"doc_id")
    })

  val oracleSql: ListMap[String, String] = ListMap(
    "d19_repetition" ->
      s"""WITH sh AS (
            SELECT doc_id, ${duckShingles("th")} AS sh
            FROM (SELECT doc_id, ${duckTokenHashes("text")} AS th
                  FROM documents))
          SELECT doc_id,
            CAST(len(sh) AS BIGINT) AS n_shingles,
            CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
            CASE WHEN len(sh) = 0 THEN 0.0
                 ELSE floor((1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
                             / len(sh)) * 1000000) / 1000000
            END AS rep_ratio
          FROM sh ORDER BY doc_id""",
    "d02_minhash_sigs" ->
      s"""WITH sigs AS (
            SELECT doc_id, mh, ${duckBands("mh")} AS bands
            FROM (SELECT doc_id, ${duckMinhash("sh")} AS mh
                  FROM (SELECT doc_id, ${duckShingles("th")} AS sh
                        FROM (SELECT doc_id, ${duckTokenHashes("text")} AS th
                              FROM documents))))
          SELECT doc_id, concat_ws('-', mh[1], mh[2], mh[3], mh[4], mh[5], mh[6],
            mh[7], mh[8], mh[9], mh[10], mh[11], mh[12], mh[13], mh[14], mh[15],
            mh[16]) AS sig,
            bands[1] AS band0, bands[2] AS band1, bands[3] AS band2,
            bands[4] AS band3
          FROM sigs ORDER BY doc_id""",
    "d03_minhash_dedup_pairs" -> d03OracleSqlAt(MaxBandBucket),
    "d11_dup_clusters" ->
      s"""WITH RECURSIVE $duckReps,
          pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
            WHERE round(len(list_filter(range(1, ${K + 1}), i -> a.mh[i] = b.mh[i]))
                    / ${K}.0, 4) >= 0.5),
          edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS doc_id, CAST(least(u, min(v)) AS BIGINT) AS cluster_id
          FROM reach GROUP BY u ORDER BY doc_id""",
    "d25_dedup_apply" ->
      s"""WITH RECURSIVE $duckReps,
          pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
            WHERE round(len(list_filter(range(1, ${K + 1}), i -> a.mh[i] = b.mh[i]))
                    / ${K}.0, 4) >= 0.5),
          edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          labels AS (
            SELECT u AS rep, least(u, min(v)) AS cluster_id
            FROM reach GROUP BY u),
          fpg AS (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
            FROM documents)
          SELECT f.doc_id,
            CAST(coalesce(l.cluster_id, f.rep) AS BIGINT) AS canonical_id,
            CASE WHEN f.doc_id = coalesce(l.cluster_id, f.rep) THEN 'kept'
                 WHEN f.doc_id <> f.rep THEN 'exact_dup'
                 ELSE 'near_dup' END AS status
          FROM fpg f LEFT JOIN labels l ON l.rep = f.rep
          ORDER BY doc_id""",
    // d34: d25's cluster CTEs + the d09 quality formula verbatim; the
    // argmax is max over struct_pack(quality, -doc_id, doc_id) — the
    // same lexicographic struct comparison Spark's max(struct(...))
    // performs, realizing "quality DESC, doc_id ASC" in one aggregate
    "d34_dedup_best" ->
      s"""WITH RECURSIVE $duckReps,
          pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
            WHERE round(len(list_filter(range(1, ${K + 1}), i -> a.mh[i] = b.mh[i]))
                    / ${K}.0, 4) >= 0.5),
          edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          labels AS (
            SELECT u AS rep, least(u, min(v)) AS cluster_id
            FROM reach GROUP BY u),
          fpg AS (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
            FROM documents),
          memb AS (
            SELECT f.doc_id, coalesce(l.cluster_id, f.rep) AS group_id
            FROM fpg f LEFT JOIN labels l ON l.rep = f.rep),
          qraw AS (
            SELECT doc_id, ${DocumentQueries.duckQualityCols}
            FROM documents),
          qual AS (
            SELECT doc_id, ${DocumentQueries.duckQualityExpr} AS quality
            FROM qraw),
          scored AS (
            SELECT m.doc_id, m.group_id, q.quality
            FROM memb m JOIN qual q USING (doc_id)),
          best AS (
            SELECT group_id,
              max(struct_pack(q := quality, n := -doc_id, i := doc_id)) AS m
            FROM scored GROUP BY group_id)
          SELECT s.doc_id, s.quality,
            CAST(b.m.i AS BIGINT) AS canonical_id,
            CASE WHEN s.doc_id = b.m.i THEN 'kept' ELSE 'dup' END AS status
          FROM scored s JOIN best b USING (group_id)
          ORDER BY s.doc_id""",
    "d04_simhash" ->
      s"""WITH th AS (SELECT doc_id, unnest(${duckTokenHashes("text")}) AS t
                      FROM documents),
          b AS (SELECT doc_id, j, sum(CASE WHEN (t >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                FROM th, (SELECT unnest(range(${SimBits})) AS j) js
                GROUP BY doc_id, j)
          SELECT doc_id,
            CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
          FROM b GROUP BY doc_id ORDER BY doc_id""",
    "d06_ngram_jaccard_dups" ->
      s"""WITH $duckReps,
          cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM capped x JOIN capped y
              ON x.band_id = y.band_id AND x.band_key = y.band_key
                AND x.doc_id < y.doc_id),
          scored AS (
            SELECT doc_a, doc_b,
              len(list_intersect(sa.shset, sb.shset)) AS n_common,
              len(sa.shset) AS n_a, len(sb.shset) AS n_b
            FROM cand
            JOIN reps sa ON sa.doc_id = doc_a
            JOIN reps sb ON sb.doc_id = doc_b)
          SELECT doc_a, doc_b,
            round(n_common / (n_a + n_b - n_common), 4) AS jaccard
          FROM scored
          WHERE round(n_common / (n_a + n_b - n_common), 4) >= 0.5
          ORDER BY doc_a, doc_b""",
    "d14_contamination" ->
      s"""WITH $duckReps,
          ${DocumentQueries.duckSplits},
          cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM capped x JOIN capped y
              ON x.band_id = y.band_id AND x.band_key = y.band_key
                AND x.doc_id < y.doc_id),
          scored AS (
            SELECT doc_a, doc_b,
              len(list_intersect(sa.shset, sb.shset)) AS n_common,
              len(sa.shset) AS n_a, len(sb.shset) AS n_b
            FROM cand
            JOIN reps sa ON sa.doc_id = doc_a
            JOIN reps sb ON sb.doc_id = doc_b),
          nd AS (
            SELECT doc_a, doc_b,
              round(n_common / (n_a + n_b - n_common), 4) AS jaccard
            FROM scored
            WHERE round(n_common / (n_a + n_b - n_common), 4) >= 0.5),
          repof AS (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS rep
            FROM sigs),
          t AS (
            SELECT r.doc_id AS test_id, r.rep AS rep_t
            FROM repof r JOIN splits s ON s.doc_id = r.doc_id
            WHERE s.split = 'test'),
          tr AS (
            SELECT r.doc_id AS train_id, r.rep AS rep_r
            FROM repof r JOIN splits s ON s.doc_id = r.doc_id
            WHERE s.split = 'train'),
          sym AS (
            SELECT doc_a AS rep_x, doc_b AS rep_y, jaccard FROM nd
            UNION ALL SELECT doc_b, doc_a, jaccard FROM nd),
          hits AS (
            SELECT test_id, train_id, jaccard AS sim
            FROM t JOIN sym ON rep_t = rep_x JOIN tr ON rep_y = rep_r)
          SELECT doc_id, train_doc_id, similarity FROM (
            SELECT test_id AS doc_id, train_id AS train_doc_id,
              sim AS similarity,
              row_number() OVER (PARTITION BY test_id
                ORDER BY sim DESC, train_id) AS rk
            FROM hits)
          WHERE rk = 1 ORDER BY doc_id""",
    "d24_incr_contamination" ->
      s"""WITH allsigs AS (
            SELECT doc_id, md5(text) AS fp, sh, mh, ${duckBands("mh")} AS bands
            FROM (SELECT doc_id, text, sh, ${duckMinhash("sh")} AS mh
                  FROM (SELECT doc_id, text, ${duckShingles("th")} AS sh
                        FROM (SELECT doc_id, text, ${duckTokenHashes("text")} AS th
                              FROM documents)))),
          ${DocumentQueries.duckSplits},
          sigsp AS (
            SELECT a.doc_id, a.fp, a.sh, a.mh, a.bands, s.split
            FROM allsigs a JOIN splits s ON s.doc_id = a.doc_id),
          e AS (SELECT * FROM sigsp WHERE doc_id % 2 <> 1),
          i AS (SELECT * FROM sigsp WHERE doc_id % 2 = 1),
          ereps AS (
            SELECT fp, min(doc_id) AS rep, any_value(mh) AS mh,
              any_value(bands) AS bands, any_value(split) AS split
            FROM e WHERE len(sh) > 0 GROUP BY fp),
          ireps AS (
            SELECT fp, min(doc_id) AS rep, any_value(mh) AS mh,
              any_value(bands) AS bands, any_value(split) AS split
            FROM i WHERE len(sh) > 0 GROUP BY fp),
          ecap AS (
            SELECT * FROM (
              SELECT rep, mh, split, b.band_id,
                bands[b.band_id + 1] AS band_key,
                count(*) OVER (PARTITION BY b.band_id,
                  bands[b.band_id + 1]) AS bucket_n
              FROM ereps, (SELECT unnest(range(${Bands})) AS band_id) b)
            WHERE bucket_n <= $MaxBandBucket),
          ibands AS (
            SELECT rep, mh, split, b.band_id, bands[b.band_id + 1] AS band_key
            FROM ireps, (SELECT unnest(range(${Bands})) AS band_id) b),
          reppairs AS (
            SELECT DISTINCT ib.rep AS b_rep, ib.split AS b_split,
              ec.rep AS c_rep, ec.split AS c_split,
              round(len(list_filter(range(1, ${K + 1}),
                k -> ib.mh[k] = ec.mh[k])) / ${K}.0, 4) AS sim
            FROM ibands ib JOIN ecap ec
              ON ib.band_id = ec.band_id AND ib.band_key = ec.band_key
            WHERE round(len(list_filter(range(1, ${K + 1}),
                k -> ib.mh[k] = ec.mh[k])) / ${K}.0, 4) >= 0.5
              AND ((ib.split = 'test' AND ec.split = 'train')
                OR (ib.split = 'train' AND ec.split = 'test'))),
          bmem AS (
            SELECT i.doc_id AS b_member, r.rep AS b_rep
            FROM i JOIN ireps r ON r.fp = i.fp),
          cmem AS (
            SELECT e.doc_id AS c_member, r.rep AS c_rep
            FROM e JOIN ereps r ON r.fp = e.fp),
          mp AS (
            SELECT
              CASE WHEN p.b_split = 'test' THEN bm.b_member
                   ELSE cm.c_member END AS doc_id,
              CASE WHEN p.b_split = 'test' THEN cm.c_member
                   ELSE bm.b_member END AS train_id,
              p.sim
            FROM reppairs p
            JOIN bmem bm ON bm.b_rep = p.b_rep
            JOIN cmem cm ON cm.c_rep = p.c_rep)
          SELECT doc_id, train_doc_id, similarity FROM (
            SELECT doc_id, train_id AS train_doc_id, sim AS similarity,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY sim DESC, train_id) AS rk
            FROM mp)
          WHERE rk = 1 ORDER BY doc_id""",
    "d16_incremental_dedup" ->
      s"""WITH allsigs AS (
            SELECT doc_id, md5(text) AS fp, sh, mh, ${duckBands("mh")} AS bands
            FROM (SELECT doc_id, text, sh, ${duckMinhash("sh")} AS mh
                  FROM (SELECT doc_id, text, ${duckShingles("th")} AS sh
                        FROM (SELECT doc_id, text, ${duckTokenHashes("text")} AS th
                              FROM documents)))),
          e AS (SELECT * FROM allsigs WHERE doc_id % 5 <> 4),
          i AS (SELECT * FROM allsigs WHERE doc_id % 5 = 4),
          exact AS (
            SELECT i.doc_id, ce.match_id, CAST(1.0 AS DOUBLE) AS sim
            FROM i JOIN (SELECT fp, min(doc_id) AS match_id
                         FROM e GROUP BY fp) ce ON ce.fp = i.fp),
          ereps AS (
            SELECT min(doc_id) AS doc_id, any_value(mh) AS mh,
              any_value(bands) AS bands
            FROM e WHERE len(sh) > 0 GROUP BY fp),
          ireps AS (
            SELECT min(doc_id) AS doc_id, any_value(mh) AS mh,
              any_value(bands) AS bands
            FROM i WHERE len(sh) > 0 GROUP BY fp),
          ecap AS (
            SELECT * FROM (
              SELECT doc_id, mh, b.band_id, bands[b.band_id + 1] AS band_key,
                count(*) OVER (PARTITION BY b.band_id,
                  bands[b.band_id + 1]) AS bucket_n
              FROM ereps, (SELECT unnest(range(${Bands})) AS band_id) b)
            WHERE bucket_n <= $MaxBandBucket),
          ibands AS (
            SELECT doc_id, mh, b.band_id, bands[b.band_id + 1] AS band_key
            FROM ireps, (SELECT unnest(range(${Bands})) AS band_id) b),
          nearrep AS (
            SELECT DISTINCT ib.doc_id AS i_rep, ec.doc_id AS c_id,
              round(len(list_filter(range(1, ${K + 1}),
                k -> ib.mh[k] = ec.mh[k])) / ${K}.0, 4) AS sim
            FROM ibands ib JOIN ecap ec
              ON ib.band_id = ec.band_id AND ib.band_key = ec.band_key
            WHERE round(len(list_filter(range(1, ${K + 1}),
                k -> ib.mh[k] = ec.mh[k])) / ${K}.0, 4) >= 0.5),
          near AS (
            SELECT i.doc_id, nr.c_id AS match_id, nr.sim
            FROM i
            JOIN (SELECT fp, min(doc_id) AS rep FROM i GROUP BY fp) ir
              ON ir.fp = i.fp
            JOIN nearrep nr ON nr.i_rep = ir.rep),
          allm AS (
            SELECT * FROM exact UNION ALL SELECT * FROM near)
          SELECT doc_id, match_id AS match_doc_id, sim AS similarity FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY sim DESC, match_id) AS rk
            FROM allm)
          WHERE rk = 1 ORDER BY doc_id""")
}
