package graft.queries

import org.apache.spark.sql.SparkSession

/** Session-conf scale knobs for the clustering / sketching operators.
  *
  * Every knob here is a SCALE parameter, not a correctness parameter:
  * the operators are exact for any value, but the right value grows
  * with corpus size (SemDeDup's paper runs ~50k clusters on LAION where
  * the testdata default is 16; DSIR uses 10k hashed buckets on full
  * CommonCrawl where the default is 256). A 100 TB deployment must be
  * able to set them per-run — `spark.conf.set(...)` or `--conf` on
  * submit — without recompiling, so each operator reads its knob from
  * the session at plan-build time.
  *
  * The DuckDB oracle gate always replays the DEFAULTS (the driver's
  * verify session sets no graft conf), so the defaults below are
  * spec-pinned: changing one changes gate hashes and is a semantic
  * change, not a tuning change.
  */
object QueryConf {

  /** IVF coarse-quantizer cell count for the embedding family
    * (s04/s08/s09/s10/s11). Scale ∝ corpus size — the per-cell pair
    * cost of s09 and the per-cell scan cost of s04/s08 are n²/k and
    * n/k. */
  val IvfCellsKey = "spark.graft.ivf.cells"
  val DefaultIvfCells = 16

  /** How many nearest cells a query probes (s04/s10) — the recall/cost
    * knob of an IVF scan. */
  val IvfProbesKey = "spark.graft.ivf.probes"
  val DefaultIvfProbes = 8

  /** Spherical-Lloyd training rounds for the embedding quantizer. Each
    * round is one decimal-exact recenter + one assign pass (both
    * deterministic, so ANY round count stays oracle-replayable via
    * `duckLloydCtes(r, _)`); FAISS-style trainers run 10–25 rounds at
    * real scale, the gate default is 1. */
  val LloydRoundsKey = "spark.graft.ivf.rounds"
  val DefaultLloydRounds = 1

  /** d48 domain-cluster count over the hashed-feature space. */
  val DomainCellsKey = "spark.graft.domain.cells"
  val DefaultDomainCells = 8

  /** d46/d48 hashed-feature bucket count, expressed as the number of
    * md5 hex chars that form the bucket id: buckets = 16^hexchars
    * (2 → 256, the testdata default; 3 → 4096; 4 → 65536). The power-
    * of-16 granularity cannot express the DSIR paper's 10k buckets
    * exactly — 3 and 4 bracket it; pick by corpus size. The hex-char
    * form keeps the bucket id an exact, engine-portable function of
    * the md5 digest. */
  val DsirHexCharsKey = "spark.graft.dsir.hexchars"
  val DefaultDsirHexChars = 2

  /** s11 coreset size per trained cell. */
  val CoresetPerCellKey = "spark.graft.coreset.percell"
  val DefaultCoresetPerCell = 20

  /** The dedup family's LSH band-bucket selectivity cap (guard 3 of the
    * d03/d06/d11/d14/d16/d24/d25/d34 scope, and the d16/d24 indexed
    * probes): a band key shared by more distinct rep texts than this
    * has no selectivity — it would only fan the candidate join out
    * quadratically — and its bucket is dropped whole. THE skew lever at
    * 100 TB (viral boilerplate lifts bucket occupancy, never match
    * quality; raise it only with the memory to verify the extra
    * candidates). Stored rep-index artifacts carry RAW occupancy
    * (`bucket_ns`), so changing the cap re-filters at probe time and
    * never needs an index rebuild. */
  val DedupMaxBucketKey = "spark.graft.dedup.maxbucket"
  val DefaultDedupMaxBucket = 200

  /** m04 band-bucket selectivity cap: buckets shared by more distinct
    * rasters than this carry no signal and are dropped (the d16
    * MaxBandBucket discipline at the media grain). */
  val MediaMaxBucketKey = "spark.graft.media.maxbucket"
  val DefaultMediaMaxBucket = 64

  /** d52 rare-fp blocking cap: an n-gram fp shared by more documents
    * than this is too hot to IDENTIFY a specific containment relation
    * (boilerplate — it would only blow the candidate self-join up
    * quadratically, the d16 MaxBandBucket argument at the n-gram
    * grain). Pairs are still verified over ALL their fps; the cap only
    * bounds which fps may NOMINATE a pair. */
  val ContainRareCapKey = "spark.graft.containment.rarecap"
  val DefaultContainRareCap = 64

  /** d53 winnowing window (Schleimer et al. 2003): any shared run of
    * w + n - 1 tokens shares at least one selected fingerprint;
    * expected selected density is 2/(w+1) of the gram stream. Larger w
    * → smaller dup index, longer minimum guaranteed-detectable match. */
  val WinnowWindowKey = "spark.graft.winnow.window"
  val DefaultWinnowWindow = 4

  /** d54 corpus-side selectivity cap: a SELECTED fingerprint present in
    * more corpus docs than this is boilerplate the winnowed index
    * cannot use to IDENTIFY a match (it would only fan the fp-keyed
    * probe join out quadratically) — the d16 MaxBandBucket discipline
    * at the winnowed-fp grain. */
  val WinnowMaxDfKey = "spark.graft.winnow.maxdf"
  val DefaultWinnowMaxDf = 200

  /** d56 BM25 result depth: how many top-scoring corpus docs each probe
    * query retrieves. A recall/cost knob like [[IvfProbesKey]] — the
    * scoring is exact for any k, only the returned window grows. */
  val Bm25TopKKey = "spark.graft.bm25.topk"
  val DefaultBm25TopK = 10

  /** s14 k-NN graph degree: neighbors kept per vector (within its
    * trained IVF cell). Graph-consumer driven — SemDeDup-style pruning
    * reads small k, connectivity analyses larger. */
  val KnnKKey = "spark.graft.knn.k"
  val DefaultKnnK = 3

  /** s14 multi-probe width (r18): how many nearest cells each vector
    * SCANS for neighbors (its candidates stay vectors whose HOME cell is
    * probed — the s04 query-side nprobe applied to graph construction).
    * The recall lever the single-probe graph lacks: default 1 keeps the
    * spec-pinned gate graph; n raises recall at ~n× pair-scan cost,
    * hash-stable and oracle-replayable at any value. */
  val KnnNprobeKey = "spark.graft.knn.nprobe"
  val DefaultKnnNprobe = 1

  /** Read a positive-int knob from the session conf; loud refusal on a
    * malformed or out-of-range value (a silently-defaulted typo would
    * run the whole job at the wrong scale). */
  def posInt(s: SparkSession, key: String, dflt: Int,
      max: Int = Int.MaxValue): Int =
    s.conf.getOption(key) match {
      case None => dflt
      case Some(raw) =>
        val v =
          try raw.trim.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$key must be an integer (got '$raw')")
          }
        require(v >= 1 && v <= max,
          s"$key must be in [1, $max] (got $v)")
        v
    }

  def ivfCells(s: SparkSession): Int =
    posInt(s, IvfCellsKey, DefaultIvfCells, max = 65536)
  def ivfProbes(s: SparkSession): Int =
    posInt(s, IvfProbesKey, DefaultIvfProbes, max = 65536)
  def lloydRounds(s: SparkSession): Int =
    posInt(s, LloydRoundsKey, DefaultLloydRounds, max = 100)
  def domainCells(s: SparkSession): Int =
    posInt(s, DomainCellsKey, DefaultDomainCells, max = 65536)
  def dsirHexChars(s: SparkSession): Int =
    posInt(s, DsirHexCharsKey, DefaultDsirHexChars, max = 8)
  def coresetPerCell(s: SparkSession): Int =
    posInt(s, CoresetPerCellKey, DefaultCoresetPerCell)
  def dedupMaxBucket(s: SparkSession): Int =
    posInt(s, DedupMaxBucketKey, DefaultDedupMaxBucket)
  def mediaMaxBucket(s: SparkSession): Int =
    posInt(s, MediaMaxBucketKey, DefaultMediaMaxBucket)
  def containRareCap(s: SparkSession): Int =
    posInt(s, ContainRareCapKey, DefaultContainRareCap)
  def winnowWindow(s: SparkSession): Int =
    posInt(s, WinnowWindowKey, DefaultWinnowWindow, max = 1 << 20)
  def winnowMaxDf(s: SparkSession): Int =
    posInt(s, WinnowMaxDfKey, DefaultWinnowMaxDf)
  def bm25TopK(s: SparkSession): Int =
    posInt(s, Bm25TopKKey, DefaultBm25TopK)
  def knnK(s: SparkSession): Int =
    posInt(s, KnnKKey, DefaultKnnK)
  def knnNprobe(s: SparkSession): Int =
    posInt(s, KnnNprobeKey, DefaultKnnNprobe, max = 65536)

  /** d29 trainer collect ceiling: the most distinct words
    * [[DocumentQueries.bpeMerges]] will collect to the driver (the d29
    * gate, d29b and the `bpetrain` verb all train there).
    * Heaps' law bounds the distinct-word table for prose, but a noisy
    * web crawl's "words" (URLs, base64, hash-mangled tokens) can push
    * the constant past driver heap — the trainer collects the filtered
    * table under a limit of this bound plus one row and refuses loudly
    * when that row arrives, instead of dying in an unbounded collect()
    * (the ScaleBench heap-guard discipline).
    * ~20M rows ≈ a few GiB of driver heap at typical word lengths. */
  val BpeMaxWordsKey = "spark.graft.bpe.maxwords"
  val DefaultBpeMaxWords = 20000000
  def bpeMaxWords(s: SparkSession): Int =
    posInt(s, BpeMaxWordsKey, DefaultBpeMaxWords, max = Int.MaxValue)

  /** Eagerly materialize `df` with `key=value` in effect WITHOUT ever
    * mutating the caller's session conf — the scoped-conf discipline for
    * Spark confs a single operator needs at EXECUTION time (ADVICE r16:
    * a raised ObjectHashAggregate fallback threshold must not govern
    * unrelated collect_list aggregates).
    *
    * The r17 form set/restored the key on the SHARED session around the
    * materializing action; the library is embeddable and sessions are
    * thread-shared, so any query PLANNED concurrently on the same
    * session captured the override — the exact leak the scoping exists
    * to prevent — and nested scopes could restore a stale value (ADVICE
    * r17). This form is leak-free by construction: the frame's plan is
    * re-bound onto a private `cloneSession()` (same SparkContext, cached
    * data, and function registry; an isolated conf copy) carrying the
    * override, planned and EAGERLY materialized there, and the returned
    * frame is lineage-truncated — no conf sensitivity survives the
    * scope, concurrent queries on the parent session never see the key,
    * and concurrent/nested scopes cannot interact at all (each call
    * clones privately; nothing shared is written, so there is nothing to
    * restore). Cloning (not `newSession()`) matters: the clone COPIES
    * runtime conf — an embedding application's runtime-set knobs (e.g.
    * [[graft.Materialize.DirKey]]) stay in force inside the scope.
    *
    * A clone does not recompile the plan's generated code: the session
    * runs with artifact isolation off ([[graft.GraftSession.local]]), so
    * the clone resolves classes through its parent's classloader and hits
    * the JVM's one code cache. A second scope over the same plan compiles
    * nothing (CodegenCacheSpec). */
  def materializeWithConf(df: org.apache.spark.sql.DataFrame,
      key: String, value: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val parent = df.sparkSession
    val clone = GraftSqlBridge.cloneSession(parent)
    clone.conf.set(key, value)
    val materialized = graft.Materialize(GraftSqlBridge.rebind(clone, df))
    // re-bind the (lineage-truncated) result BACK onto the parent: a
    // Dataset stays bound to the session it was created on, so returning
    // the clone-bound frame would plan every query CHAINED off it under
    // the override — the leak, one hop later (self-review r18). The
    // result is a LogicalRDD, so the rebind is a re-analysis of a leaf.
    GraftSqlBridge.rebind(parent, materialized)
  }
}
