package graft.queries

import scala.collection.immutable.ListMap
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Materialize.Ops

/** Text-pipeline queries over the `documents` table — the exactly-SQL-
  * expressible subset (exact dedup, token stats, fingerprinting). The
  * non-SQL ops (MinHash/SimHash/LSH/ANN) live in graft.operators and are
  * declared without an oracle (rows-only check).
  */
object DocumentQueries {

  /** The shared rolling-char-hash bucket of a `text` column. The
    * cross-engine-exact expression lives HERE ONCE; [[splitBucketCol]]
    * (d13) and [[sampleBucketCol]] (d27) differ only in (seed, modulus)
    * — a hash-discipline fix lands in one place or the split and sample
    * buckets silently diverge.
    *
    * Since round 15 the fold runs through the native
    * [[graft.functions.RollingHashExpr]] (`graft_rollhash`) — one
    * compiled code-point loop inside whole-stage codegen, spec-pinned
    * bit-equal to the interpreted-HOF reference formula the DuckDB
    * oracles mirror (`aggregate(transform(sequence(...), ascii ∘
    * substring), seed, (acc, c) -> (acc * 31 + c) % P)`). The HOF form
    * allocated a position array, a single-char substring and a boxed
    * long per character; the round-15 bench-action fix exposed that as
    * ~4 s of d13's sf0.1 wall for one tight loop of integer math. The
    * expression handles '' -> seed naturally (the HOF needed an
    * explicit pin because Spark's sequence(1, 0) is the DESCENDING
    * [1, 0]). NULL text is refused loudly (raise_error, distributed —
    * no driver pass): a NULL bucket would be misread silently by every
    * consumer (d13 would file the doc under 'test', d27 would always
    * drop it — even from the rarest language). */
  private def hashBucketCol(seed: Long, modulus: Long): org.apache.spark.sql.Column =
    when(col("text").isNull, raise_error(lit(
      "hash bucket: null text — filter or repair extraction failures " +
        "first (dedupApply and ingest refuse them the same way)")))
      .otherwise(expr(s"graft_rollhash(text, ${seed}L)") % modulus)
      .cast("long")

  private[queries] def splitBucketCol: org.apache.spark.sql.Column =
    hashBucketCol(seed = 7, modulus = 100)

  /** bucket → split label (80/10/10). */
  private[queries] def splitOfBucket(
      bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** d13 as a reusable operator over any (doc_id, text) frame:
    * deterministic train/val/test split — hash-mod assignment over the
    * document CONTENT (not doc_id: re-ingestion with new ids must not
    * reshuffle the split). The rolling char hash is the cross-engine-exact
    * TextHash family, so the oracle reproduces the buckets bit-for-bit;
    * 80/10/10. One narrow codegen pass, no shuffle.
    *
    * A corollary the contamination check (d14) relies on: byte-identical
    * texts always share a bucket, so EXACT duplicates can never straddle
    * the train/test boundary — only near-duplicates can leak. */
  def splitAssign(docs: DataFrame): DataFrame =
    docs
      .withColumn("bucket", splitBucketCol)
      .withColumn("split", splitOfBucket(col("bucket")))
      .select(col("doc_id"), col("bucket"), col("split"))

  /** DuckDB CTE mirroring [[splitAssign]] exactly (shared by the d13 and
    * d14 oracles). */
  val duckSplits: String =
    s"""splits AS (
          SELECT doc_id, bucket,
            CASE WHEN bucket < 80 THEN 'train'
                 WHEN bucket < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM (
            SELECT doc_id,
              list_reduce(
                list_prepend(CAST(7 AS BIGINT),
                  list_transform(range(1, len(text) + 1),
                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                (a, b) -> (a * 31 + b) % ${graft.operators.TextHash.P}) % 100 AS bucket
            FROM documents))"""

  /** The whitespace term stream (doc_id, term) shared by every
    * token-grain operator (d17 TF-IDF, d18 vocabulary, d23 unigram LM):
    * ONE definition, so a tokenization change cannot silently diverge
    * their grains (and the DuckDB mirrors change in one review). */
  private def termStream(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")

  /** The per-document term-frequency census (doc_id, term, c) at the
    * [[termStream]] grain, folded IN-ROW by the native
    * [[graft.functions.TermCountsExpr]] (round 16): rows are born
    * pre-aggregated at the distinct-term grain, so the tf consumers
    * (d17/d18/d23/d49/d56) never ship a token occurrence through an
    * exchange — the explode+groupBy formulation stays documented at
    * the kernel as the spec-pinned reference. ONE definition so the
    * grain cannot diverge between the operators that must agree on
    * it. */
  private def termCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(expr("graft_term_counts(text)").getField("terms"))
          .as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.n").as("c"))

  /** d07's marker-scored language prediction, added as columns (en_n /
    * de_n / fr_n hit counts + pred_lang argmax, deterministic tie order,
    * 'und' when nothing matches). ONE definition shared by the d07 gate
    * and the d31 funnel's language stage — a marker-list change lands in
    * both or the funnel's language gate silently diverges. */
  private[queries] def withLangPred(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    def hits(markers: Seq[String]) =
      size(filter(toks, t => t.isInCollection(markers))).cast("long")
    docs
      .withColumn("en_n", hits(Seq("the", "a", "of")))
      .withColumn("de_n", hits(Seq("der", "die", "und")))
      .withColumn("fr_n", hits(Seq("le", "la", "et")))
      .withColumn("pred_lang",
        when(col("en_n") >= greatest(col("de_n"), col("fr_n"))
          && col("en_n") > 0, "en")
          .when(col("de_n") >= col("fr_n") && col("de_n") > 0, "de")
          .when(col("fr_n") > 0, "fr")
          .otherwise("und"))
  }

  /** d09's quality columns (n_tok / avg_tok_len / stop_ratio / the
    * bounded composite quality score), added to any text frame. ONE
    * definition shared by the d09 gate, the d31 funnel's quality stage
    * and the streaming ingest gate. The token counts ride the native
    * [[graft.functions.QualityStatsExpr]] (`graft_quality_stats`: one
    * compiled scan, no token array — the split + interpreted
    * filter-lambda reference formulation is documented there and
    * spec-pinned equal); the ratio/composite arithmetic below is plain
    * codegen column math. No shuffle. */
  private[graft] def withQuality(docs: DataFrame): DataFrame = {
    docs
      .withColumn("qsig", expr("graft_quality_stats(text)"))
      .withColumn("n_tok", col("qsig.n_tok"))
      .withColumn("avg_tok_len",
        round((length(col("text")) - col("n_tok") + 1) / col("n_tok"), 4))
      .withColumn("stop_ratio",
        round(col("qsig.stop_n") / col("n_tok"), 4))
      .withColumn("quality",
        round(lit(0.4) * least(col("n_tok") / 100.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - abs(col("avg_tok_len") - 4.5) / 4.5) +
          lit(0.3) * least(col("stop_ratio") * 10.0, lit(1.0)), 4))
      .drop("qsig")
  }

  /** The longest run of EQUAL ADJACENT elements in a string array (0
    * for an empty array), as a single `aggregate()` fold. Over the raw
    * token stream this is the longest consecutive same-token run; over
    * a SORTED copy equal values group adjacently, so the same scan
    * reads off the MOST FREQUENT value's multiplicity — a per-row
    * frequency census with no explode and no shuffle. */
  private[graft] def maxAdjRunSql(arr: String): String =
    s"""aggregate($arr,
        named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
        (a, x) -> named_struct(
          'prev', x,
          'run', IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1L, 1L),
          'best', greatest(a.best,
            IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1L, 1L))),
        a -> a.best)"""

  /** d51 — within-document CONCENTRATION signals, the Gopher-family
    * complement of d19's set-ratio repetition. d19 asks "how many
    * distinct shingles for the doc's length"; this asks "how much of
    * the doc does its single most repeated unit claim": the most
    * frequent token's occurrence fraction, the most frequent word
    * 2-gram's occurrence fraction, and the longest consecutive
    * same-token run (the n=1 burst a 3-gram set ratio cannot see).
    * These are the top-n-gram-mass / duplicate-run thresholds of the
    * Gopher repetition filters (Rae et al. 2021, app. A1.1), on the
    * [[termStream]] whitespace grain shared with d17/d18/d23.
    *
    * Scale shape: the signals cost ZERO shuffle and zero explode. All
    * three ride ONE compiled pass per row — the native codegen
    * [[graft.functions.RepConcentrationExpr]] (`graft_rep_concentration`;
    * the interpreted [[maxAdjRunSql]]-over-`array_sort` fold family
    * stays documented there as the cross-engine reference formula the
    * DuckDB oracle mirrors, spec-pinned bit-equal in FunctionsSpec) —
    * one projection pass over the corpus, embarrassingly parallel at
    * any executor count with no skew surface; the only exchange in the
    * plan is the trailing presentation sort's range partitioning over
    * the already-narrow output (spec-pinned). Fractions floor at 1e-6 (the
    * d19 discipline: exact double division in both engines, floor
    * kills representation-tail drift). Empty docs: all-zero row;
    * one-token docs: top_tok_frac 1.0, gram frac 0.0, run 1. */
  def repConcentration(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("sig", expr("graft_rep_concentration(text)"))
      .withColumn("n_tok", $"sig.n_tok")
      .withColumn("top_tok_n", $"sig.top_tok_n")
      .withColumn("top_gram_n", $"sig.top_gram_n")
      .withColumn("max_run_len", $"sig.max_run_len")
      .withColumn("top_tok_frac",
        when($"n_tok" === 0, lit(0.0)).otherwise(
          floor($"top_tok_n".cast("double") / $"n_tok" * 1000000)
            / 1000000.0))
      .withColumn("top_2gram_frac",
        when($"n_tok" < 2, lit(0.0)).otherwise(
          floor($"top_gram_n".cast("double") / ($"n_tok" - 1) * 1000000)
            / 1000000.0))
      .select($"doc_id", $"n_tok", $"top_tok_frac", $"top_2gram_frac",
        $"max_run_len")
      // sortedOnce (r19): the sort sampler would re-run the codegen kernel
      .sortedOnce($"doc_id")
  }

  /** d57 — character-distribution census, the code-point-grain
    * complement of d51's token concentration: per document the
    * code-point count, distinct-code-point count, most frequent code
    * point's occupancy fraction, and the Shannon entropy of the
    * character distribution in nats. Low entropy flags keyboard-mash /
    * padding-run spam, high entropy flags binary spew and base64 blobs
    * — the two character-level tails a crawl quality gate trims before
    * tokenization (C4 §2.2 / Gopher app. A1.1 heuristics).
    *
    * Scale shape: ZERO shuffle, zero explode — all four signals ride
    * ONE compiled pass per row, the native codegen
    * [[graft.functions.CharEntropyExpr]] (`graft_char_entropy`; the
    * explode+groupBy census is the cross-engine reference formulation
    * the DuckDB oracle mirrors and FunctionsSpec pins bit-equal). The
    * only exchange in the plan is the trailing presentation sort.
    * Entropy is fixed-point micro-NATS (per-distinct-char
    * `floor((k/n)·ln(n/k)·1e6)` summed as integers — order-free, so
    * census iteration order cannot leak; nats because bits would
    * divide by a second transcendental whose ulp is
    * implementation-defined), presented as `ent_q/1e6`. Same 1e-6
    * floor grid for the top-char fraction (the d19/d51 discipline).
    * Empty docs: the all-zero row. */
  def charEntropy(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("sig", expr("graft_char_entropy(text)"))
      .withColumn("n_chars", $"sig.n_chars")
      .withColumn("n_distinct", $"sig.n_distinct")
      .withColumn("top_char_frac",
        when($"n_chars" === 0, lit(0.0)).otherwise(
          floor($"sig.top_char_n".cast("double") / $"n_chars" * 1000000)
            / 1000000.0))
      .withColumn("entropy", $"sig.ent_q" / 1000000.0)
      .select($"doc_id", $"n_chars", $"n_distinct", $"top_char_frac",
        $"entropy")
      .sortedOnce($"doc_id")
  }

  /** The d56/d58 probe-side term derivation: DISTINCT (query_id, term)
    * at the [[termStream]] grain — ONE definition so the inline and
    * indexed paths cannot diverge on what a query term is. */
  private def bm25QueryTerms(probes: DataFrame): DataFrame =
    probes
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()

  /** The d56/d58 scorer over query-relevant postings: `hits` carries
    * (doc_id, dl, term, tf, df, n_docs, sum_dl) — however those were
    * produced (d56 censuses inline, d58 reads the stored artifact) —
    * and the Okapi fixed-point micro-score sum + per-query top-k
    * happen HERE ONCE, so a formula fix cannot split the two paths.
    * Scale: the one corpus-proportional exchange is the (query, doc)
    * BIGINT partial-agg sum; the rank is WindowGroupLimit-bounded. */
  private def bm25Rank(hits: DataFrame, qt: DataFrame, k: Int): DataFrame = {
    val s = hits.sparkSession
    import s.implicits._
    val scored = hits
      .join(broadcast(qt), "term")
      .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs")
      .withColumn("idf",
        log(lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)))
      .withColumn("w",
        $"tf" * 2.2 / ($"tf" +
          lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
      .withColumn("sq", floor($"idf" * $"w" * 1000000).cast("long"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sq".desc, $"doc_id")
    scored.groupBy($"query_id", $"doc_id").agg(sum($"sq").as("sq"))
      .withColumn("rk", row_number().over(win).cast("long"))
      .filter($"rk" <= k)
      .withColumn("score", $"sq" / 1000000.0)
      .select($"query_id", $"rk", $"doc_id", $"score")
      .orderBy($"query_id", $"rk")
  }

  /** d56 — BM25 top-k retrieval (Robertson/Sparck Jones Okapi BM25, the
    * probabilistic-IR workhorse): score every corpus document against a
    * small set of probe queries and keep each query's k best. The
    * training-data uses: decontamination triage ("which corpus docs
    * smell like this benchmark prompt"), targeted curation ("pull the
    * docs most relevant to an underrepresented topic"), and the lexical
    * half of every hybrid (BM25 + embedding) retrieval stack.
    *
    * `probes` is (query_id, qtext); terms are the shared whitespace
    * [[termStream]] grain, DISTINCT per query (standard BM25 ignores
    * query-side multiplicity). Per (query, doc) the score is
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with the
    * Robertson idf ln(1 + (N − df + 0.5)/(df + 0.5)), k1 = 1.2,
    * b = 0.75 (the Okapi defaults — spec-pinned semantic constants like
    * the d48 seeds, not knobs). `dl` = the doc's token count, `avgdl`
    * its corpus mean, `df` the term's document frequency, N the corpus
    * doc count (empty docs included — they simply match nothing).
    *
    * Cross-engine exactness (the d48 fixed-point discipline): each
    * per-term contribution is floored to an integer MICRO-score —
    * floor(idf · w · 1e6) — and the per-(query, doc) score sums those
    * BIGINTs, so Spark's partial-aggregation order and DuckDB's GROUP
    * BY order cannot diverge; every fractional literal is written
    * CAST-to-DOUBLE on the oracle side (a bare DuckDB `2.2` is DECIMAL,
    * and DECIMAL·BIGINT→DOUBLE rounds differently than DOUBLE·BIGINT).
    * idf > 0 always (df ≤ N), so scores are nonnegative and the top-k
    * window needs no sign care; ties break doc_id-ascending.
    *
    * Scale shape: the corpus explodes ONCE, is cut to the PROBE TERMS
    * by a broadcast hash join BEFORE the tf census (per-(doc, term)
    * counts are independent of other terms, so the pre-filter is
    * exact; the probe set is bounded — the gate's is GlobalLimit-
    * capped, plan-audited), and only probe-term occurrences shuffle
    * into the (doc, term) census (map-side combine; dl rides the
    * groupBy key — functionally dependent on doc_id, it costs
    * nothing). The cut is Materialize()d ONCE: the df census and the
    * scoring join both read it, not the corpus (the d52 convention —
    * without it the explode runs twice). df
    * and the (N, Σdl) scalar ride tiny broadcast-back aggregates
    * (≤ |probe terms| and 1 row — the d17/d23 pattern; df joins back
    * unhinted, AQE broadcasts it from runtime stats). The only
    * corpus-proportional exchanges are the tf census and the final
    * per-query top-k (WindowGroupLimit-bounded rank over the matched
    * docs). Text never shuffles. */
  def bm25TopK(corpus: DataFrame, probes: DataFrame,
      k: Int = QueryConf.DefaultBm25TopK): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the query-term grain is Materialize()d INSIDE the operator: it
    // feeds both the term-set prune and the scorer's broadcast, and a
    // lazy caller-supplied probe frame would re-plan its derivation
    // (possibly a corpus-scale scan) once per consumer otherwise —
    // operator robustness must not depend on caller discipline
    val qt = graft.Materialize.lazyCut(bm25QueryTerms(probes))
    val termSet = qt.select($"term").distinct()
    // the corpus cut at the probe terms: the tf census folds IN-ROW
    // (native graft_term_counts — one compiled pass; the explode+
    // groupBy census shipped every token occurrence through an
    // exchange and owned half the x100 wall in the scale sweep), so
    // term rows are born pre-aggregated at the distinct-term grain,
    // the broadcast term-set join prunes them in the same stage, and
    // NOTHING corpus-wide ever shuffles. dl = the census's n_tok (the
    // filtered termStream grain — graft_quality_stats.n_tok is the
    // split-SEGMENT count: '' → 1, double spaces inflate it — the
    // wrong denominator here). Materialized once, read by the df
    // census + the scoring join.
    val hits = graft.Materialize.lazyCut(corpus
      .withColumn("sig", expr("graft_term_counts(text)"))
      .select($"doc_id", $"sig.n_tok".as("dl"),
        explode($"sig.terms").as("tc"))
      .select($"doc_id", $"dl", $"tc.term".as("term"), $"tc.n".as("tf"))
      .join(broadcast(termSet), "term")) // termCounts + the dl column
    val dfT = hits.groupBy($"term").agg(count(lit(1)).as("df"))
    // the (N, Σdl) scalar is its own map-only pass — size(filter(...))
    // counts the same filtered grain without the census's hash map
    val stats = corpus.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(size(expr("filter(split(text, ' '), t -> t <> '')"))
        .cast("long")), lit(0L)).as("sum_dl"))
    bm25Rank(hits.join(dfT, "term").crossJoin(broadcast(stats)), qt, k)
  }

  /** d58 (build half) — the d56 inverted index as a PERSISTABLE
    * artifact, the d16/d54/s12 incremental convention on the retrieval
    * axis: at 100 TB the index is built once, stored with the lake,
    * and every probe batch scores against it without the corpus (or
    * any census) re-running. One row per posting (doc_id, dl, term,
    * tf) via the in-row [[graft.functions.TermCountsExpr]] census,
    * with everything a probe needs DENORMALIZED on (the d54 stored-df
    * discipline): per-term df, and the collection scalars (n_docs,
    * sum_dl — N counts token-less docs: they shape avgdl even though
    * they emit no posting, so the scalars must come from the corpus,
    * not the postings). The constant columns RLE away in parquet.
    *
    * Build shape: the census is one compiled map pass; df is a
    * map-side-combinable term groupBy joined back term-keyed (raw-term
    * df has stopword-grade skew a single window partition would buffer
    * whole, while AQE splits a skewed join — the discipline every fold
    * on a skewed key in this repo follows since r17, SCALE.md "hot-key
    * fold A/B"); the scalars ride one broadcast scalar agg. Paid once
    * per build, like every index. */
  def bm25Index(corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val postings = graft.Materialize.lazyCut(corpus
      .withColumn("sig", expr("graft_term_counts(text)"))
      .select($"doc_id", $"sig.n_tok".as("dl"),
        explode($"sig.terms").as("tc"))
      .select($"doc_id", $"dl", $"tc.term".as("term"), $"tc.n".as("tf")))
    val dfT = postings.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = corpus.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(size(expr("filter(split(text, ' '), t -> t <> '')"))
        .cast("long")), lit(0L)).as("sum_dl"))
    postings.join(dfT, "term").crossJoin(broadcast(stats))
  }

  /** d58 (probe half) — score a probe-query batch against a standing
    * [[bm25Index]] artifact: identical output to [[bm25TopK]] over the
    * same corpus (same [[bm25QueryTerms]] grain, same [[bm25Rank]]
    * scorer — spec-pinned), but the plan touches ONLY the artifact:
    * the probe-term broadcast join prunes postings (a pushed-down
    * filter at winnowMatches' discipline), df and the collection
    * scalars are READ from stored columns, and the only aggregate over
    * the index is the (query, doc) score sum (plan-audit spec-pinned).
    * A stats-less postings table is refused loudly — silently
    * re-censusing the corpus per probe batch is exactly the 100 TB
    * failure mode the artifact exists to prevent. */
  def bm25Probe(index: DataFrame, probes: DataFrame,
      k: Int = QueryConf.DefaultBm25TopK): DataFrame = {
    val missing = Seq("df", "n_docs", "sum_dl")
      .filterNot(index.columns.contains)
    require(missing.isEmpty,
      s"bm25Probe requires a bm25Index artifact (stored ${missing.mkString("/")} " +
        "absent) — a stats-less postings table would re-census the corpus " +
        "per probe batch; rebuild with bm25Index")
    val s = index.sparkSession
    import s.implicits._
    // same one-pass qt contract as bm25TopK (see there)
    val qt = graft.Materialize.lazyCut(bm25QueryTerms(probes))
    val termSet = qt.select($"term").distinct()
    bm25Rank(index.join(broadcast(termSet), "term"), qt, k)
  }

  /** d59 — reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09:
    * `Σ_systems 1/(rrfK + rank)`, rrfK = 60 — the paper's constant and
    * the production default everywhere RRF ships): fuse ANY number of
    * per-query rank lists into one ranking. The training-data use is
    * the hybrid retrieval stack this repo now carries both halves of —
    * lexical BM25 ranks (d56/d58) fused with semantic ANN cosine ranks
    * (s01/s04-shaped) for decontamination triage and targeted curation;
    * RRF needs only RANKS, so heterogeneous scores (BM25 micro-sums vs
    * cosines) fuse without calibration, which is exactly why it is the
    * standard fusion.
    *
    * Inputs: each ranking is (query_id, doc_id, rk) — rk the 1-based
    * rank within its query (any deeper columns are ignored). A doc
    * absent from one list simply contributes nothing from it. Output:
    * per query the `k` best fused docs as (query_id, rk, doc_id, rrf).
    *
    * Cross-engine exactness (the d56 fixed-point discipline): each
    * contribution is the exact integer `1e12 div (rrfK + rk)` summed as
    * BIGINTs — no float summation order to diverge; `rrf` presents the
    * sum /1e12 (one IEEE division of an exact integer). Ties break
    * doc_id-ascending.
    *
    * Scale shape: inputs arrive top-k'd per query, so everything here
    * is bounded by |queries| · k · |systems| — the union is
    * map-side-combinable into the (query, doc) sum, and the final
    * per-query rank is WindowGroupLimit-bounded over ≤ k·|systems| rows
    * per query (a bounded-window fold, not a hot-key hazard). At 100 TB
    * the semantic input is the s04 IVF (or s14 graft_topk) rank table
    * and the lexical input the d58 stored-index probe — fusion itself
    * never touches a corpus. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = QueryConf.DefaultBm25TopK,
      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking")
    require(rrfK >= 0, s"rrfFuse: rrfK must be >= 0 (got $rrfK)")
    rankings.foreach { r =>
      val missing = Seq("query_id", "doc_id", "rk")
        .filterNot(r.columns.contains)
      require(missing.isEmpty,
        s"rrfFuse rankings need (query_id, doc_id, rk) — ${missing.mkString("/")} " +
          "absent; rank lists are the d56/d58/s01-shaped per-query top-k tables")
    }
    // Malformed-rank-table guards (ADVICE r17), riding the plan as
    // raise_error branches (the splitGuarded loud-refusal discipline —
    // column presence alone cannot catch these, and both corrupt the
    // fusion SILENTLY otherwise):
    //   - rk < 1 yields an outsized contribution (rk = 0 at the default
    //     rrfK just inflates; at rrfK = 0 the integer div returns a
    //     silent NULL) — refused per row on the existing projection;
    //   - duplicate (query_id, doc_id) rows within ONE table double-count
    //     that system's vote — refused via a per-table (query, doc)
    //     count folded into the contribution aggregate (map-side
    //     combinable, bounded by the rank table itself; rank tables are
    //     top-k'd per query by contract, so this pre-aggregate is tiny).
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("doc_id"),
          // NULL rk needs its own branch: `rk < 1` is NULL for NULL
          // input, which would fall through to otherwise and the vote
          // would be silently DROPPED downstream (NULL div, sum skips)
          // — the same silent-corruption class (self-review r18)
          when(col("rk").isNull || col("rk") < 1, raise_error(lit(
            s"rrfFuse: ranking #$i has a NULL or < 1 rk — ranks are " +
              "1-based (row_number), and a NULL/zero rank would corrupt " +
              "the fusion silently")))
            .otherwise(col("rk")).as("rk"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_dup"), min(col("rk")).as("rk1"))
        .select(col("query_id"), col("doc_id"),
          when(col("n_dup") > 1, raise_error(lit(
            s"rrfFuse: ranking #$i has duplicate (query_id, doc_id) rows " +
              "— one system may vote once per doc; re-rank the table with " +
              "row_number before fusing")))
            .otherwise(expr(s"1000000000000L div (${rrfK}L + rk1)")).as("c"))
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_q").desc, col("doc_id"))
    contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("rrf_q"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .withColumn("rrf", col("rrf_q") / 1000000000000.0)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** d27's sampling bucket: the d13 rolling char hash with a DIFFERENT
    * seed (13, not 7) and modulus (10000, not 100) — the sampling
    * decision must not correlate with the train/val/test split (same
    * hash, same seed would make `bucket % 100` the split bucket, so a
    * sampled corpus would systematically over-draw from some split
    * buckets). Same empty/null-text discipline as [[hashBucketCol]]. */
  private[queries] def sampleBucketCol: org.apache.spark.sql.Column =
    hashBucketCol(seed = 13, modulus = 10000)

  /** d40: epoch shuffle — the data-loader ordering step ABOVE d26: a
    * deterministic, per-epoch permutation of the packed sequences. Per
    * (epoch, seq_id) the shuffle key is md5("<epoch>:<seq_id>") — the
    * repo's fingerprint discipline doing double duty as a shuffle PRNG:
    * cross-engine exact, full avalanche (the d13/d27 rolling char hash
    * is the WRONG tool here — base-31 folding is order-preserving over
    * short same-length strings, so sequential seq_ids would come out
    * nearly unshuffled). The training order is a pure function of
    * (epoch, seq_id): reproducible across runs and engines, resumable
    * mid-epoch, different every epoch. Output: one row per epoch ×
    * sequence, (epoch, position, seq_id), position a dense 1..N
    * permutation per epoch.
    *
    * Scale shape (the d26 two-phase discipline — a global rank with NO
    * corpus-wide single-partition window): keys range-bucket on their
    * own hex PREFIX (order-preserving by construction: sorting by
    * (prefix, key) is sorting by key), within-bucket ranks are
    * PARTITIONED windows, and the per-(epoch, bucket) counts —
    * metadata, not data — take an exclusive prefix sum over epochs ×
    * 16^prefixLen rows and broadcast back as an equi-join. Positions
    * are provably prefix-length-independent (spec-pinned). */
  def epochShuffle(slices: DataFrame, epochs: Int,
      bucketPrefixLen: Int = 2): DataFrame = {
    val s = slices.sparkSession
    import s.implicits._
    require(epochs >= 1 && bucketPrefixLen >= 1 && bucketPrefixLen <= 8,
      s"epochShuffle: need epochs >= 1 and 1 <= bucketPrefixLen <= 8 " +
        s"(got $epochs, $bucketPrefixLen)")
    val keyed = slices.select($"seq_id").distinct()
      .withColumn("epoch", explode(expr(s"sequence(0, ${epochs - 1})")))
      .withColumn("k",
        md5(concat($"epoch".cast("string"), lit(":"),
          $"seq_id".cast("string"))))
      .withColumn("bucket", substring($"k", 1, bucketPrefixLen))
    val withinW = Window.partitionBy($"epoch", $"bucket")
      .orderBy($"k", $"seq_id")
    val offW = Window.partitionBy($"epoch").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy($"epoch", $"bucket")
      .agg(count(lit(1)).as("c"))
      // epochs × 16^prefixLen metadata rows — the bounded-window
      // contract, pinned structurally like d26's bucket totals
      .limit(epochs * math.pow(16, bucketPrefixLen.toDouble).toInt)
      .withColumn("off", coalesce(sum($"c").over(offW), lit(0L)))
    keyed
      .withColumn("rn", row_number().over(withinW))
      .join(broadcast(offsets.select($"epoch", $"bucket", $"off")),
        Seq("epoch", "bucket"))
      .select($"epoch".cast("long").as("epoch"),
        ($"off" + $"rn").cast("long").as("position"), $"seq_id")
  }

  /** d26 as a reusable operator: concat-and-chunk sequence packing —
    * documents are laid end to end in doc_id order (whitespace tokens,
    * empty tokens dropped — the [[termStream]] grain) and the stream cut
    * into fixed `seqLen`-token training sequences. Output is one row per
    * (document, sequence) slice: `doc_start` = the slice's first token
    * within the DOCUMENT, `seq_start` = its first position within the
    * SEQUENCE, `n_toks` = slice length. Filtering to one seq_id and
    * sorting by seq_start reassembles that training sequence with full
    * provenance; docs straddling a boundary appear once per sequence.
    * Zero-token docs occupy no positions and emit no rows.
    *
    * Scale shape — the global running offset is the whole difficulty: a
    * bare `Window.orderBy(doc_id)` funnels the corpus through ONE task
    * (the q30 hazard, spec-banned). Distributed two-phase prefix sum
    * instead: (1) docs range-bucket by doc_id into `nBuckets` contiguous
    * id ranges (integer DIV arithmetic off a broadcast min/max scalar —
    * value-based, so recomputation is self-consistent, no checkpoint
    * needed); (2) within-bucket running sums are PARTITIONED windows;
    * (3) the nBuckets bucket totals — metadata, not data — take their
    * own prefix sum under an explicit `limit(nBuckets)` bound and
    * broadcast back as an equi-join. Wall-clock: two narrow passes over
    * (doc_id, n) pairs, never the text; the result is provably
    * independent of nBuckets (spec-pinned), so a 1000-executor run just
    * raises the bucket count. */
  def packSequences(docs: DataFrame, seqLen: Long,
      nBuckets: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(seqLen > 0 && nBuckets > 0,
      s"packSequences: seqLen and nBuckets must be positive " +
        s"(got $seqLen, $nBuckets)")
    // fail fast on replayed corpora (the dedupApply guard): the running
    // offset is a window ordered by doc_id, so a doc_id appearing twice
    // gets an ARBITRARY tie order — which copy receives the lower offset
    // differs run to run, and both emit slices with colliding doc_start
    // under one id, so provenance reassembly is garbage. One id-only
    // shuffle (fixed-width keys, column-pruned scan) before the pipeline.
    DedupQueries.requireUniqueDocIds(docs)(id => s"packSequences: " +
      s"duplicate doc_id $id — doc ids must be unique; re-key or compact " +
      "the corpus before packing")
    val counts = docs
      .withColumn("n",
        expr("size(filter(split(text, ' '), t -> t <> ''))").cast("long"))
      .select(col("doc_id"), col("n"))
    val bounds = docs.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    // bucket = (doc_id - lo) DIV width, width sized so bkt stays in
    // [0, nBuckets): width > (hi-lo)/nBuckets ⇒ (hi-lo) DIV width <
    // nBuckets. Division-only on purpose, twice over: a double floor
    // loses ulps past 2^52, and the multiply-first integer form
    // ((doc_id-lo)*nBuckets DIV range) wraps Long for id ranges past
    // 2^63/nBuckets — ids drawn from a 63-bit hash space with the
    // documented "1000 executors ⇒ raise the bucket count" would break
    // bkt monotonicity and silently corrupt every global offset.
    val bucketed = counts.crossJoin(broadcast(bounds))
      .withColumn("bkt",
        expr(s"(doc_id - lo) DIV ((hi - lo) DIV $nBuckets + 1)"))
      .select($"doc_id", $"n", $"bkt")
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy($"bkt").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = bucketed
      .withColumn("local_off", coalesce(sum($"n").over(wLocal), lit(0L)))
    // the one unpartitioned window runs over the BUCKET TOTALS — at most
    // nBuckets rows, bounded by the explicit limit (the spec-sanctioned
    // GlobalLimit form), never the corpus
    val wPrefix = org.apache.spark.sql.expressions.Window
      .orderBy($"bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bucketOffsets = bucketed.groupBy($"bkt").agg(sum($"n").as("tot"))
      .limit(nBuckets)
      .withColumn("bkt_off", coalesce(sum($"tot").over(wPrefix), lit(0L)))
      .select($"bkt", $"bkt_off")
    local.join(broadcast(bucketOffsets), Seq("bkt"))
      .withColumn("off", $"bkt_off" + $"local_off")
      .filter($"n" > 0)
      // n > 0 BEFORE the explode: sequence(a, b) with b < a (a zero-
      // token doc exactly on a boundary) is Spark's DESCENDING sequence
      // — the d13 trap — and would fabricate slices
      .withColumn("seq_id", explode(sequence(
        expr(s"off DIV $seqLen"), expr(s"(off + n - 1) DIV $seqLen"))))
      .withColumn("seg_lo", greatest($"off", $"seq_id" * seqLen))
      .withColumn("seg_hi", least($"off" + $"n", ($"seq_id" + 1) * seqLen))
      .select($"seq_id", $"doc_id",
        ($"seg_lo" - $"off").as("doc_start"),
        ($"seg_lo" - $"seq_id" * seqLen).as("seq_start"),
        ($"seg_hi" - $"seg_lo").as("n_toks"))
  }

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    // Exact dedup: one representative (min doc_id) per distinct text.
    // At 100 TB, group on a fixed-width hash of the text instead of the
    // text itself to keep shuffle rows narrow — see d01b in operators.
    "d01_dedup_exact" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .groupBy($"text")
        .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select($"doc_id", $"n_copies")
        .orderBy($"doc_id")
    },
    // Token statistics per language (whitespace tokenization).
    "d05_token_stats" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("total_tokens"),
          round(avg($"n_tokens"), 2).as("avg_tokens"),
          max($"n_tokens").as("max_tokens"),
          countDistinct($"source").as("n_sources"))
        .orderBy($"lang")
    },
    // Normalized-content fingerprint (md5 of whitespace-collapsed lower text).
    "d08_fingerprint" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .select($"doc_id", md5(regexp_replace(lower($"text"), "\\s+", " ")).as("fp"))
        .orderBy($"doc_id")
    },

    // Language-ID by stopword-marker scoring (n-gram heuristic family):
    // per-language marker-token hit counts → argmax with deterministic
    // tie order, 'und' when nothing matches. Emitted as a label-vs-
    // prediction confusion matrix. Formula lives in [[withLangPred]]
    // (shared with the d31 funnel's language gate).
    "d07_lang_id" -> { (s, dir) =>
      import s.implicits._
      withLangPred(Tables(s, dir, "documents"))
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n_docs"), sum($"en_n").as("en_hits"))
        .orderBy($"lang", $"pred_lang")
    },

    // Quality scoring: token count, mean token length, stopword ratio →
    // bounded composite score. Pure arithmetic, replicated in the
    // oracle. Formula lives in [[withQuality]] (shared with the d31
    // funnel's quality gate).
    "d09_quality_score" -> { (s, dir) =>
      import s.implicits._
      withQuality(Tables(s, dir, "documents"))
        .select($"doc_id", $"n_tok", $"avg_tok_len", $"stop_ratio", $"quality")
        .orderBy($"doc_id")
    },

    // Text normalization — the canonical pre-tokenization cleanup pass:
    // lowercase, strip non-alphanumerics, collapse whitespace, trim.
    // Emits the normalized text plus its fingerprint (what a dedup stage
    // downstream would key on).
    "d12_normalize" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("norm", trim(regexp_replace(
          regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " ")))
        .select($"doc_id", $"norm",
          length($"norm").cast("long").as("n_chars"),
          md5($"norm").as("norm_fp"))
        .orderBy($"doc_id")
    },

    // Deterministic train/val/test split (see splitAssign above).
    "d13_split_assign" -> { (s, dir) =>
      import s.implicits._
      splitAssign(Tables(s, dir, "documents")).orderBy($"doc_id")
    },

    // Stratified sampling — N docs per language stratum, chosen by a
    // deterministic hash order (NOT rand(): the sample must be stable
    // across runs/engines and rebalance only when content changes). The
    // per-stratum window is the balanced-corpus curation primitive.
    "d15_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy(md5($"text"), $"doc_id")
      Tables(s, dir, "documents")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 5)
        .select($"lang", $"rk", $"doc_id")
        .orderBy($"lang", $"rk")
    },

    // TF-IDF keyword extraction — top-3 scoring terms per document.
    // tf = in-doc term count, idf = ln((N+1)/(df+1)); floor-scaled like
    // every cross-engine double. Corpus size N enters as a broadcast
    // 1-row aggregate (scalar side input), never a driver action; the
    // explode shuffles (doc_id, term) pairs with map-side combine and
    // the per-doc top-3 is a WindowGroupLimit-bounded rank filter.
    "d17_tfidf_keywords" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      // tf folds IN-ROW (termCounts, round 16 — the d56 kernel): rows
      // arrive pre-aggregated at the distinct-term grain, so the old
      // occurrence-grain groupBy exchange AND df's distinct pre-pass
      // both vanish — df is a plain count over (doc, term)-unique rows
      val tf = DocumentQueries.termCounts(docs)
        .withColumnRenamed("c", "tf")
      val docFreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score".desc, $"term")
      tf.join(docFreq, "term").crossJoin(broadcast(total))
        .withColumn("score",
          floor($"tf" * log(($"n_docs" + 1.0) / ($"df" + 1.0)) * 10000) / 10000.0)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"doc_id", $"rk", $"term", $"score")
        .orderBy($"doc_id", $"rk")
    },

    // d18 vocabulary extraction: corpus-level token frequencies, top-100
    // by occurrence — the input artifact a BPE/unigram tokenizer trains
    // from. Scale shape: the explode shuffles (term) with map-side
    // combine (partial counts per partition), then the global top-k is a
    // TakeOrderedAndProject (per-partition heaps + driver merge of 100
    // rows), never a full sort of the vocabulary.
    "d18_vocab_topk" -> { (s, dir) =>
      import s.implicits._
      // the in-row census (round 16): rows arrive (doc, term)-unique
      // with their multiplicities, so n_occ is a sum, and the old
      // two-phase countDistinct expansion collapses to a plain count
      DocumentQueries.termCounts(Tables(s, dir, "documents"))
        .groupBy($"term")
        .agg(sum($"c").as("n_occ"), count(lit(1)).as("n_docs"))
        .orderBy($"n_occ".desc, $"term")
        .limit(100)
    },

    // Token counting: whitespace tokens, BPE-ish regex token count
    // (letter-runs / digit-runs / single symbols), and a ceil(len/4)
    // subword-chunk estimate.
    "d10_token_count" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("n_ws", size(split($"text", " ")).cast("long"))
        .withColumn("n_bpe",
          size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long"))
        .withColumn("n_chunks", expr(
          """aggregate(split(text, ' '),
             CAST(0 AS BIGINT),
             (acc, t) -> acc + CAST(ceil(length(t) / 4.0) AS BIGINT))"""))
        .select($"doc_id", $"n_ws", $"n_bpe", $"n_chunks")
        .orderBy($"doc_id")
    },

    // d20 PII scrubbing: email/IPv4 redaction, the training-data hygiene
    // pass every corpus pipeline runs before tokenization. The corpus
    // text is augmented with deterministic doc_id-derived PII so the
    // redaction paths are EXERCISED on every row, not vacuously green on
    // a PII-free synthetic corpus; per-row redaction counts come from
    // the replace-length identity (dialect-portable, no regexp_count).
    // Patterns are RE2-compatible (no backrefs/lookaround), so Spark's
    // Java regex and DuckDB's RE2 agree. One codegen pass, zero shuffle.
    "d20_pii_scrub" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.scrubPii(
        Tables(s, dir, "documents")
          .select($"doc_id", concat($"text",
            lit(" contact user"), $"doc_id", lit("@example.com or 10."),
            pmod($"doc_id", lit(256)), lit(".0.1 today")).as("text")))
        .orderBy($"doc_id")
    },

    // d21 URL/domain statistics: the crawl-curation staple — the domain
    // distribution is what drives allowlist/blocklist and per-source
    // sampling decisions. Deterministic doc_id-derived URLs are planted
    // (same discipline as d20: the synthetic corpus has none) so the
    // extraction is exercised on every row. Scale shape: one extraction
    // pass → explode → map-side-combined groupBy on the domain — the
    // d18 vocabulary shape over a different token.
    "d21_url_domains" -> { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("augmented", concat($"text",
          lit(" see https://site"), pmod($"doc_id", lit(20)),
          lit(".example.org/p/"), $"doc_id",
          lit(" and http://cdn.example.net/asset"), pmod($"doc_id", lit(7))))
        .select($"doc_id", explode(regexp_extract_all($"augmented",
          lit(DocumentQueries.UrlDomainPattern), lit(1))).as("domain"))
        .groupBy($"domain")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct($"doc_id").as("n_docs"))
        .orderBy($"n_occ".desc, $"domain")
    },

    // d23 unigram log-probability: each doc scored by the average
    // log-probability of its tokens under the corpus's OWN unigram
    // distribution — the self-perplexity quality signal (a doc of rare/
    // garbled tokens scores far below a doc of common prose; the
    // Gopher-family filters threshold exactly this). Scale shape: the
    // token stream collapses to (doc, term, count) grain BEFORE the term
    // equi-join — Σ_tokens ln(p) = Σ_terms c·ln(p), so the join moves
    // distinct per-doc terms, not every token; term frequencies are one
    // map-side-combined aggregate and the corpus token count a broadcast
    // scalar (d17's pattern). Cross-engine determinism: ln() doubles
    // (bit-equal, d17-proven) scale by the exact integer c and
    // accumulate in DECIMAL — exact and order-independent, like s04's
    // Lloyd sums — so the per-doc average is a bit-equal function of
    // the data on any partitioning.
    "d23_unigram_logprob" -> { (s, dir) =>
      import s.implicits._
      // perDoc folds IN-ROW (termCounts, round 16 — the d56 kernel):
      // pre-aggregated (doc, term, c) rows replace the old
      // occurrence-grain groupBy exchange
      val perDoc = DocumentQueries.termCounts(Tables(s, dir, "documents"))
      val tf = perDoc.groupBy($"term").agg(sum($"c").as("tf"))
      val total = perDoc.agg(sum($"c").as("n_tokens"))
      perDoc.join(tf, "term").crossJoin(broadcast(total))
        // operand sizes chosen so the PRODUCT stays exact in both
        // engines: DECIMAL(20,15) × DECIMAL(10,0) → (31,15), inside the
        // 38-digit ceiling. A (30,15) operand would push Spark's result
        // past 38 digits and its precision-loss rule silently RESCALES
        // to (38,6) — 6 decimals vs DuckDB's 15, flipping floor bins on
        // corpus-size-dependent rows (ln magnitudes < 100 and c < 1e10
        // fit these widths with room)
        .withColumn("lp", expr(
          """CAST(ln(tf / CAST(n_tokens AS DOUBLE)) AS DECIMAL(20,15))
             * CAST(c AS DECIMAL(10,0))"""))
        .groupBy($"doc_id")
        .agg(
          (floor(sum($"lp").cast("double") / sum($"c") * 10000) / 10000.0)
            .as("avg_logprob"),
          sum($"c").as("n_tokens_doc"))
        .orderBy($"doc_id")
    },

    // d49 held-out LM scoring: the honest-evaluation dual of d23's
    // self-perplexity — the unigram model fits on the TRAIN split only
    // and scores val/test docs, with add-one smoothing over the union
    // vocabulary so out-of-train terms have a defined probability (and
    // an oov_frac column reporting how much of the doc the train model
    // has never seen — the domain-shift signal next to the fluency
    // one). This is the perplexity-filter shape real pipelines run: the
    // scoring model must not have seen the docs it scores, or
    // memorized boilerplate scores as fluent prose. Same scale shape
    // and ln/DECIMAL discipline as d23 (term-keyed equi-joins,
    // broadcast scalars, order-independent sums).
    "d49_heldout_logprob" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .withColumn("split", splitOfBucket(splitBucketCol))
      heldoutLogprob(docs.filter($"split" === "train"),
        docs.filter($"split" =!= "train"))
        .join(docs.select($"doc_id", $"split"), "doc_id")
        .select($"doc_id", $"split", $"avg_logprob", $"n_tokens_doc",
          $"oov_frac")
        .orderBy($"doc_id")
    },

    // d35 bigram log-probability: each doc scored by the average
    // add-one-smoothed bigram log-prob under the corpus's own bigram
    // distribution — the next-order LM signal above d23's unigram
    // (fluency, not just vocabulary: a doc of common words in rare
    // ORDER scores low here and fine there). P(w2|w1) = (c12 + 1) /
    // (c1 + V); ln accumulates in DECIMAL(20,15) × DECIMAL(10,0)
    // exactly like d23 (see that entry for the 38-digit width
    // rationale), so the sum is order-independent and cross-engine
    // exact; floor to 4 decimals. Docs under 2 tokens carry no bigrams
    // and emit no row (corpus floor is 10). Scale shape: the bigram
    // tables are Heaps-law sublinear in corpus size; V rides a
    // broadcast scalar aggregate (the d17/d23 pattern); everything
    // else is token-keyed equi-joins.
    "d35_bigram_logprob" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val bg = docs
        .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
                      slice(toks, 2, size(toks) - 1),
             (a, b) -> struct(a AS w1, b AS w2))""")).as("p"))
        .select($"doc_id", $"p.w1".as("w1"), $"p.w2".as("w2"))
      val perDoc = bg.groupBy($"doc_id", $"w1", $"w2")
        .agg(count(lit(1)).as("c"))
      val bc = perDoc.groupBy($"w1", $"w2").agg(sum($"c").as("bc"))
      val uc = bc.groupBy($"w1").agg(sum($"bc").as("uc"))
      val vocab = DocumentQueries.termStream(docs)
        .agg(countDistinct($"term").as("v"))
      perDoc.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("lp", expr(
          """CAST(ln((bc + 1) / CAST(uc + v AS DOUBLE)) AS DECIMAL(20,15))
             * CAST(c AS DECIMAL(10,0))"""))
        .groupBy($"doc_id")
        .agg(
          (floor(sum($"lp").cast("double") / sum($"c") * 10000) / 10000.0)
            .as("avg_logprob"),
          sum($"c").as("n_bigrams_doc"))
        .orderBy($"doc_id")
    },

    // d22 boilerplate removal: segments appearing in more than half the
    // corpus (nav bars, cookie banners, "subscribe" footers) are dropped
    // and the document reconstructed in segment order — the CCNet/
    // Gopher-family curation pass. Two segments are planted per doc
    // (the d20/d21 discipline): a UNIVERSAL one (df = corpus → removed)
    // and a 1-in-20 one (df = n/20 → kept), with the original text as
    // the first segment (df = its exact-dup group size → kept). Scale
    // shape: segment-df is a map-side-combined groupBy on the segment
    // text; the corpus size rides a broadcast scalar (the d17 pattern);
    // reconstruction is a per-doc collect_list sorted by position —
    // state bounded per document, never corpus-wide.
    "d22_boilerplate" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val segs = docs
        .select($"doc_id", concat($"text",
          lit(" | subscribe to the newsletter today | visit site"),
          pmod($"doc_id", lit(20)), lit(".example.org")).as("augmented"))
        .select($"doc_id",
          posexplode(split($"augmented", " \\| ")).as(Seq("pos", "seg")))
        // fixed-width shuffle keys (the d01b discipline): the df groupBy
        // and the join back both key on the segment's md5, never the
        // segment TEXT — one segment is the whole original document, and
        // shipping it as a join key would shuffle the corpus twice
        .withColumn("seg_fp", md5($"seg"))
      val segDf = segs.groupBy($"seg_fp")
        .agg(countDistinct($"doc_id").as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      segs.join(segDf, "seg_fp").crossJoin(broadcast(nDocs))
        .withColumn("is_bp", $"df" * 2 > $"n_docs")
        .groupBy($"doc_id")
        .agg(
          concat_ws(" | ", expr(
            """transform(
                 array_sort(collect_list(
                   CASE WHEN NOT is_bp THEN struct(pos, seg) END)),
                 p -> p.seg)""")).as("cleaned"),
          sum(when($"is_bp", 1L).otherwise(0L)).as("n_removed"))
        .orderBy($"doc_id")
    },

    // d26 sequence packing: concat-and-chunk into fixed 256-token
    // training sequences with per-slice provenance (see packSequences
    // for semantics + the distributed prefix-sum scale shape). The
    // pretraining step between curation and the data loader: every
    // pipeline that feeds a trainer fixed-length sequences runs exactly
    // this concat-and-chunk.
    "d26_pack_sequences" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.packSequences(
        Tables(s, dir, "documents").select($"doc_id", $"text"),
        seqLen = 256, nBuckets = 8)
        .orderBy($"seq_id", $"doc_id")
    },

    // d40 epoch shuffle: the loader ordering above d26 — deterministic
    // seeded per-epoch permutation of the packed sequences (see
    // epochShuffle for the two-phase dense-rank shape).
    "d40_epoch_shuffle" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.epochShuffle(
        DocumentQueries.packSequences(
          Tables(s, dir, "documents").select($"doc_id", $"text"),
          seqLen = 256, nBuckets = 8),
        epochs = 2)
        .orderBy($"epoch", $"position")
    },

    // d27 temperature sampling: per-language keep-rates from the
    // temperature-scaled corpus distribution (T = 0.5 — rate_l =
    // sqrt(c_min / c_l), the multilingual-pretraining rebalance: the
    // rarest language keeps everything, a language 4x its size keeps
    // half), gated per doc by a deterministic content-hash bucket so
    // the sample is stable across runs/engines and uncorrelated with
    // the d13 split (different seed + modulus). Scale shape: language
    // counts are one map-side-combined groupBy collapsed to a #langs-
    // row broadcast rate table; the decision is a linear codegen pass.
    // Cross-engine exactness: c_min/c_l is an exact-long double
    // quotient and sqrt is IEEE-exact, so the floor'd basis points are
    // bit-equal (the d17 ln discipline).
    "d27_temperature_sample" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.temperatureSample(Tables(s, dir, "documents"))
        .orderBy($"doc_id")
    },

    // d28 paragraph-level (repeated-SPAN) dedup: a paragraph appearing
    // in 2+ DISTINCT documents keeps exactly one canonical occurrence
    // (globally first by (doc_id, pos)) and every other occurrence —
    // including same-doc re-occurrences of that span — is dropped; the
    // document is reconstructed from its kept paragraphs in order. The
    // substring-dedup family (the pass doc-level dedup can't do:
    // d01/d03/d25 act on WHOLE documents, d22 only on boilerplate with
    // df > half the corpus — this removes spans with 2 <= df << corpus,
    // the repeated quotes/chapters/licence blocks that survive both).
    // Length-weighted: chars_dropped reports the volume each doc loses,
    // the number span-dedup papers weight removal decisions by.
    // Fixtures planted per doc (the d20/d21/d22 augmentation
    // discipline): the original text as paragraph 0 (df = its exact-dup
    // group size — doc-level dups collapse as a special case), a
    // pair-shared passage keyed on doc_id DIV 2 (df = 2 — the minimum
    // repeated span; the last odd doc is unpaired, df = 1, kept), a
    // 1-in-25 "chapter header" (df ~ n/25 — repeated yet far from
    // boilerplate), and the pair passage AGAIN (same-doc re-occurrence:
    // dropped everywhere once the span is cross-doc repeated, canonical
    // included — its doc keeps only the pos-minimal copy).
    "d28_span_dedup" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries
        .spanDedup(DocumentQueries.augmentedParas(
          Tables(s, dir, "documents")))
        .orderBy($"doc_id")
    },

    // d36 incremental span dedup: the d16 artifact discipline at
    // PARAGRAPH grain — a standing corpus maintains the span-signature
    // table; a new batch's paragraphs disposition against it without
    // the corpus text ever being re-read. Corpus = even doc_ids' spans
    // (as the maintained artifact), batch = odd doc_ids (the d24
    // even/odd convention), same planted-repetition augmentation as
    // d28 so cross-side repeats exist by construction.
    "d36_incr_span_dedup" -> { (s, dir) =>
      import s.implicits._
      val paras = DocumentQueries.augmentedParas(
        Tables(s, dir, "documents"))
      val corpusSigs = DocumentQueries.spanSignatures(
        paras.filter(pmod($"doc_id", lit(2)) === 0))
      DocumentQueries.incrementalSpanDedup(corpusSigs,
          paras.filter(pmod($"doc_id", lit(2)) === 1))
        .orderBy($"doc_id", $"pos")
    },

    // d29 BPE merge statistics: the first 10 byte-pair merges trained
    // on the corpus's word-frequency table (see bpeMerges for the
    // algorithm, determinism and the one-corpus-pass shape); the same
    // trainer the `bpetrain` verb runs.
    "d29_bpe_merges" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.bpeMerges(Tables(s, dir, "documents"), k = 10)
        .orderBy($"merge_rank")
    },

    // d29b the trained tokenizer applied: per-doc token counts under
    // the k=10 merge table (see bpeTokenCountsFromMerges — one broadcast
    // lookup join over the term stream; the corpus is never rewritten);
    // the trainer and apply the `bpetrain` and `tokenize` verbs run.
    "d29b_bpe_tokenize" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      DocumentQueries.bpeTokenCountsFromMerges(docs,
          DocumentQueries.bpeMerges(docs, k = 10))
        .orderBy($"doc_id")
    },

    // d30 exact n-gram decontamination: the GPT-3/PaLM-style benchmark
    // decontamination check — which eval (val/test) documents share an
    // EXACT 8-token n-gram with any train document. Complements d14,
    // which finds whole-document NEAR-duplicates across the split via
    // MinHash: d30 catches a quoted paragraph or copied answer span
    // inside an otherwise-unrelated document, the leak profile
    // benchmark-decontamination actually targets (see
    // ngramDecontamination for the scale shape).
    "d30_ngram_decontam" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.ngramDecontamination(Tables(s, dir, "documents"))
        .orderBy($"doc_id")
    },

    // d32 train-side decontamination: d30's actionable inverse — the
    // keep/drop disposition over TRAIN docs that carry eval content
    // (see trainDecontamination; eval side pre-aggregated, probe
    // bounded by |train n-grams|).
    "d32_train_decontam" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.trainDecontamination(Tables(s, dir, "documents"))
        .orderBy($"doc_id")
    },

    // d39 incremental n-gram decontamination: odd doc_ids play the
    // ingest batch, even the standing corpus whose EVAL-side n-gram
    // artifact is maintained (the d16/d24/d36 half-split convention) —
    // the batch's train-side docs dispositioned against the artifact
    // exactly as ingest would, text-free on the corpus side.
    "d39_incr_decontam" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      DocumentQueries.incrementalDecontamination(
        DocumentQueries.evalNgramSignatures(
          docs.filter(pmod($"doc_id", lit(2)) === 0)),
        docs.filter(pmod($"doc_id", lit(2)) === 1))
        .orderBy($"doc_id")
    },

    // d38 mixing epochs: the upsampling dual of d27 — per-doc copy
    // counts toward uniform language shares, integer-exact throughout
    // (see mixEpochs).
    "d38_mix_epochs" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.mixEpochs(Tables(s, dir, "documents"))
        .orderBy($"doc_id")
    },

    // d37 hot n-grams: the corpus-wide over-represented-span census —
    // top-100 8-grams by distinct-doc df with text and example doc
    // (see hotNgrams for the two-pass bounded shape).
    "d37_hot_ngrams" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.hotNgrams(Tables(s, dir, "documents"))
    },

    // d33 corpus card: the per-language datasheet a release ships —
    // doc counts, exact-dup copies, token volume, mean quality (DECIMAL
    // accumulation), URL/PII prevalence (see corpusCard).
    "d33_corpus_card" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.corpusCard(Tables(s, dir, "documents"))
        .orderBy($"lang")
    },

    // d31 curation funnel: per-doc disposition through the pipeline's
    // ordered gates — quality, language, exact dedup among survivors,
    // temperature sampling over the surviving corpus — kept docs
    // labeled with their d13 split (see curationFunnel for stage
    // semantics and the scale shape).
    "d31_curation_funnel" -> { (s, dir) =>
      import s.implicits._
      DocumentQueries.curationFunnel(Tables(s, dir, "documents"))
        .orderBy($"doc_id")
    },

    // ---- d41: cross-source overlap census (see [[sourceOverlap]]) --------
    "d41_source_overlap" -> { (s, dir) =>
      sourceOverlap(Tables(s, dir, "documents"))
    },

    // ---- d42: token-budget selection (see [[budgetSelect]]) --------------
    "d42_budget_select" -> { (s, dir) =>
      budgetSelect(Tables(s, dir, "documents"))
    },

    // ---- d43: exact quality quantiles (see [[qualityQuantiles]]) ---------
    "d43_quality_quantiles" -> { (s, dir) =>
      qualityQuantiles(Tables(s, dir, "documents"))
    },

    // ---- d44: corpus snapshot diff (see [[corpusDiff]]). Fixture
    // convention: even doc_ids = the OLD snapshot, odd = the NEW (the
    // d36/d39 even/odd split over the one gate table) -----------------
    "d44_corpus_diff" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      corpusDiff(docs.filter($"doc_id" % 2 === 0),
        docs.filter($"doc_id" % 2 === 1))
    },

    // ---- d45: per-source quality quantiles (see
    // [[qualityQuantilesBySource]]) — fewer percentiles than d43: the
    // output is |sources| × |pcts| rows, a quartile card per dump ------
    "d45_source_quality" -> { (s, dir) =>
      qualityQuantilesBySource(Tables(s, dir, "documents"),
        pcts = Seq(25, 50, 75))
    },

    // ---- d50: paragraph salvage (see [[paragraphSalvage]]) ----------
    // The gate synthesizes paragraph structure the flat testdata prose
    // lacks: fixed 12-token chunks (the d26 slice discipline), so
    // chunk quality genuinely varies with local stopword density and
    // token lengths and the bar splits the corpus non-trivially.
    "d50_para_salvage" -> { (s, dir) =>
      import s.implicits._
      val chunks = Tables(s, dir, "documents")
        .withColumn("toks", expr("filter(split(text, ' '), t -> t <> '')"))
        .filter(size($"toks") >= 1)
        .select($"doc_id", posexplode(expr(
          """transform(sequence(0, (size(toks) - 1) DIV 12),
              i -> array_join(slice(toks, i * 12 + 1, 12), ' '))"""))
          .as(Seq("pos", "para")))
      paragraphSalvage(chunks, qualityMin = 0.5, joinSep = " ")
    },

    // ---- d55: encoding-anomaly census (see [[encodingAnomaly]]) —
    // the gate injects deterministic artifacts (the d28/d50 synthesized-
    // structure convention, the testdata prose being clean ASCII):
    // doc_id%5 gets a mojibake tail + replacement char, doc_id%7 two
    // surviving C0 controls; both can hit (doc_id%35) ------------------
    "d55_encoding_anomaly" -> { (s, dir) =>
      import s.implicits._
      encodingAnomaly(Tables(s, dir, "documents")
        .withColumn("text", concat($"text",
          when($"doc_id" % 5 === 0, lit(
            " \u00C3\u00E9\u00E2\u20AC\u2122\uFFFD")).otherwise(lit("")),
          when($"doc_id" % 7 === 0,
            lit("\u0007\u001B")).otherwise(lit("")))))
    },

    // ---- d54: incremental winnow-index match (see [[winnowMatches]])
    // — even docs play the standing corpus artifact, odd docs the
    // incoming batch (the d36/d44 convention) ------------------------
    "d54_winnow_matches" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      winnowMatches(winnowFpArtifact(docs.filter($"doc_id" % 2 === 0)),
        docs.filter($"doc_id" % 2 === 1))
    },

    // ---- d53: winnowing fingerprints (see [[winnowStats]]) ----------
    "d53_winnow_fps" -> { (s, dir) =>
      winnowStats(Tables(s, dir, "documents"))
    },

    // ---- d52: containment pairs (see [[containmentPairs]]) ----------
    "d52_containment_pairs" -> { (s, dir) =>
      containmentPairs(Tables(s, dir, "documents"))
    },

    // ---- d51: concentration signals (see [[repConcentration]]) ------
    "d51_rep_concentration" -> { (s, dir) =>
      repConcentration(Tables(s, dir, "documents"))
    },

    // ---- d57: character-distribution census (see [[charEntropy]]) ---
    "d57_char_entropy" -> { (s, dir) =>
      charEntropy(Tables(s, dir, "documents"))
    },

    // ---- d56: BM25 top-k retrieval (see [[bm25TopK]]) — the d46 split
    // convention on the retrieval axis: the 50 lowest-id TEST-split
    // docs play the probe queries (first 5 tokens each — a prompt-
    // sized probe), the train split the corpus being searched. The
    // orderBy+limit probe cap is the structural bound the 100×
    // broadcast audit checks ----------------------------------------
    "d56_bm25_topk" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .withColumn("split", splitOfBucket(splitBucketCol))
      // Materialize()d: the probe derivation is a TEST-SPLIT SCAN of
      // the corpus (filter + TakeOrdered), and the lazy form re-plans
      // that scan once per downstream consumer (query-term grain,
      // term-set prune, d59's vector join) — at 100 TB each re-plan is
      // a corpus pass. One pass, 50 pinned rows.
      val probes = graft.Materialize(docs.filter($"split" === "test")
        .orderBy($"doc_id").limit(50)
        .select($"doc_id".as("query_id"), expr(
          "array_join(slice(filter(split(text, ' '), t -> t <> ''), 1, 5), ' ')")
          .as("qtext")))
      bm25TopK(docs.filter($"split" === "train").select($"doc_id", $"text"),
        probes, k = QueryConf.bm25TopK(s))
    },

    // ---- d58: BM25 probe over the STORED inverted index (see
    // [[bm25Probe]]) — the d16/d54/s12 incremental convention at the
    // retrieval axis: same split, same probes, same scores as d56, but
    // the corpus side is the persisted [[bm25Index]] artifact and the
    // probe plan never censuses it (plan-audit spec-pinned) ----------
    "d58_bm25_probe" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .withColumn("split", splitOfBucket(splitBucketCol))
      // Materialize()d: the probe derivation is a TEST-SPLIT SCAN of
      // the corpus (filter + TakeOrdered), and the lazy form re-plans
      // that scan once per downstream consumer (query-term grain,
      // term-set prune, d59's vector join) — at 100 TB each re-plan is
      // a corpus pass. One pass, 50 pinned rows.
      val probes = graft.Materialize(docs.filter($"split" === "test")
        .orderBy($"doc_id").limit(50)
        .select($"doc_id".as("query_id"), expr(
          "array_join(slice(filter(split(text, ' '), t -> t <> ''), 1, 5), ' ')")
          .as("qtext")))
      bm25Probe(
        bm25Index(docs.filter($"split" === "train")
          .select($"doc_id", $"text")),
        probes, k = QueryConf.bm25TopK(s))
    },

    // ---- d59: hybrid retrieval — RRF fusion of the d56 lexical ranks
    // with semantic cosine ranks (see [[rrfFuse]]). Same split + probe
    // convention as d56; the semantic half ranks the train-split
    // embedding of each doc against the probe doc's embedding (vec_id
    // aligns with doc_id in the testdata, the s10 id-rule convention)
    // by exact brute-force cosine — the s01 oracle-checkable baseline;
    // at scale the s04 IVF rank table plugs into the same rrfFuse
    // contract ------------------------------------------------------
    "d59_hybrid_topk" -> { (s, dir) =>
      import s.implicits._
      val k = QueryConf.bm25TopK(s)
      val docs = Tables(s, dir, "documents")
        .withColumn("split", splitOfBucket(splitBucketCol))
      // Materialize()d: the probe derivation is a TEST-SPLIT SCAN of
      // the corpus (filter + TakeOrdered), and the lazy form re-plans
      // that scan once per downstream consumer (query-term grain,
      // term-set prune, d59's vector join) — at 100 TB each re-plan is
      // a corpus pass. One pass, 50 pinned rows.
      val probes = graft.Materialize(docs.filter($"split" === "test")
        .orderBy($"doc_id").limit(50)
        .select($"doc_id".as("query_id"), expr(
          "array_join(slice(filter(split(text, ' '), t -> t <> ''), 1, 5), ' ')")
          .as("qtext")))
      val lex = bm25TopK(docs.filter($"split" === "train")
        .select($"doc_id", $"text"), probes, k)
      val em = Tables(s, dir, "embeddings")
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      val qv = probes.select($"query_id")
        .join(em, $"query_id" === $"vec_id")
        .select($"query_id", $"v".as("qv"), $"nrm".as("qn"))
      val cv = em
        .join(docs.filter($"split" === "train").select($"doc_id"),
          $"vec_id" === $"doc_id")
        .select($"doc_id", $"v", $"nrm")
      val rnkW = Window.partitionBy($"query_id")
        .orderBy($"cos_sim".desc, $"doc_id")
      val sem = cv.crossJoin(broadcast(qv))
        .withColumn("cos_sim",
          round(expr("graft_dot(qv, v)") / ($"qn" * $"nrm"), 4))
        .withColumn("rk", row_number().over(rnkW).cast("long"))
        .filter($"rk" <= k)
        .select($"query_id", $"doc_id", $"rk")
      rrfFuse(Seq(lex.select($"query_id", $"doc_id", $"rk"), sem), k)
    },

    // ---- d48: domain clustering (see [[domainClusters]]) ------------
    "d48_domain_clusters" -> { (s, dir) =>
      domainClusters(Tables(s, dir, "documents"))
    },

    // ---- d47: duplicated-n-gram fraction (see [[dupNgramStats]]) ----
    "d47_dup_ngram_frac" -> { (s, dir) =>
      dupNgramStats(Tables(s, dir, "documents"))
    },

    // ---- d46: DSIR importance weights (see [[dsirWeights]]) — the gate
    // applies the d13 split convention: the 'val' split plays the
    // high-quality TARGET corpus, the 'train' split the RAW corpus
    // being scored ---------------------------------------------------
    "d46_dsir_weights" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables(s, dir, "documents")
        .withColumn("split", splitOfBucket(splitBucketCol))
      dsirWeights(docs.filter($"split" === "train"),
        docs.filter($"split" === "val"))
    })

  /** d41: cross-source overlap census — which crawl dumps/sources
    * duplicate each other. Per unordered source pair: the number of
    * distinct document fingerprints (md5 of the exact text, the d01
    * grain) present in BOTH, plus the Jaccard over the two sources' fp
    * sets. EVERY pair is emitted (zero overlap included) so the output
    * reads as the full de-duplication planning matrix a curation run
    * starts from ("drop dump B, it is 40% dump A").
    *
    * Scale shape: ONE fp-grain groupBy — the text never shuffles, only
    * md5 fps do. Each fp carries its source-membership set (bounded by
    * |sources|, a catalog constant, not by corpus size); pairs explode
    * from that bounded set and count with map-side combine. Per-source
    * sizes and the pair skeleton are |sources|²-bounded metadata — the
    * skeleton self-join and the counts join both broadcast. Jaccard is
    * emitted under the floor-scaling discipline (exact integer inputs →
    * identical IEEE division + floor on both engines). */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // all unordered pairs from a sorted `srcs` array (1-based slice off
    // each element's 0-based index) — shared by the per-fp membership
    // explode and the catalog skeleton
    val pairsOf = (srcs: String) => expr(
      s"""flatten(transform($srcs, (a, i) ->
            transform(slice($srcs, i + 2, size($srcs) - i - 1),
              b -> struct(a AS src_a, b AS src_b))))""")
    // ONE corpus pass: fp-grain groupBy with the per-fp source-membership
    // set (collect_set dedups same-source copies — distinct-fp grain),
    // MATERIALIZED because three consumers read it (sizes, shared pairs,
    // and the skeleton via sizes) — without the barrier each one re-runs
    // the corpus scan + fp shuffle (the first cut planned FOUR parquet
    // scans; .explain caught it). The materialized frame is the narrow
    // membership-set column only — fp and text both dropped.
    val byFp = graft.Materialize(docs
      .select($"source", md5($"text").as("fp"))
      .groupBy($"fp")
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .select($"srcs"))
    val sizes = byFp.select(explode($"srcs").as("source"))
      .groupBy($"source").agg(count(lit(1)).as("n_fp"))
    val shared = byFp.select(explode(pairsOf("srcs")).as("p"))
      .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    // the pair skeleton: the source CATALOG collapses to one scalar-
    // aggregate row and explodes to |sources|² pairs — every join below
    // is an equi-join on source names (no hint needed: the sides are
    // catalog-sized, AQE's stats-based auto-broadcast is the right
    // mechanism and re-decides per deployment)
    val skeleton = sizes
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .select(explode(pairsOf("srcs")).as("p"))
      .select($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
    skeleton
      .join(sizes.select($"source".as("src_a"), $"n_fp".as("n_a")), Seq("src_a"))
      .join(sizes.select($"source".as("src_b"), $"n_fp".as("n_b")), Seq("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce($"n_shared", lit(0L)))
      .withColumn("jaccard",
        floor($"n_shared" * lit(1000000.0) / ($"n_a" + $"n_b" - $"n_shared"))
          / lit(1000000.0))
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_shared", $"jaccard")
      .orderBy($"src_a", $"src_b")
  }

  /** d43: EXACT corpus quantiles of the d09 quality score — the
    * calibration readout every threshold gate (d31's quality-min, d42's
    * ranking) is tuned against. Approximate percentiles
    * (approx_percentile sketches) are engine-specific and
    * non-oracle-checkable; this computes the exact order statistic — for
    * each percentile p, the document at global rank max(1, ceil(p·N/100))
    * under (quality ASC, doc_id) — with NO global sort.
    *
    * Scale shape (the d42 bucket-rank discipline run in reverse —
    * rank→element instead of element→rank): docs value-range-bucket on
    * the bounded quality score; the nBuckets bucket COUNTS (metadata)
    * take a prefix sum under limit(nBuckets); each requested rank
    * locates its bucket by a range test against that bounded table (the
    * percentile list itself is an inline literal relation) and becomes a
    * (bucket, within-bucket-rank) target; one partitioned within-bucket
    * window + a broadcast equi-join on (qb, rn) picks the |pcts| winning
    * rows. The corpus never sorts globally and never joins non-equi. */
  def qualityQuantiles(docs: DataFrame,
      pcts: Seq[Int] = Seq(1, 10, 25, 50, 75, 90, 99),
      nBuckets: Int = 16): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      s"qualityQuantiles: percentiles must lie in [0, 100] (got $pcts)")
    require(nBuckets > 0, s"qualityQuantiles: nBuckets > 0 (got $nBuckets)")
    // three consumers read the scored + bucketed frame (the bucket
    // counts, the N scalar, the within-bucket rank) — materialize it so
    // the d09 quality composite runs over the corpus ONCE (the d41/d47
    // multi-consumer-barrier discipline); the cached form is the narrow
    // (doc_id, quality, qb) grain, text dropped
    val bucketed = withQuality(docs).select($"doc_id", $"quality")
      .withColumn("qb",
        least(greatest(floor($"quality" * nBuckets).cast("int"), lit(0)),
          lit(nBuckets - 1)))
      .materialize()
    val counts = bucketed.groupBy($"qb").agg(count(lit(1)).as("c"))
      // nBuckets metadata rows — the d26/d42 bounded-window contract
      .limit(nBuckets)
      .withColumn("cum_before", coalesce(sum($"c").over(Window.orderBy($"qb")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val n = bucketed.agg(count(lit(1)).as("n")).limit(1)
    val targets = pcts.toDF("p")
      .crossJoin(broadcast(n))
      .withColumn("rank",
        greatest(lit(1L), ceil($"p" * $"n" / lit(100.0)).cast("long")))
      .join(counts, $"rank" > $"cum_before" && $"rank" <= $"cum_before" + $"c")
      .select($"p".cast("long").as("p"), $"rank", $"qb",
        ($"rank" - $"cum_before").as("rn"))
    val ranked = bucketed.withColumn("rn", row_number().over(
      Window.partitionBy($"qb").orderBy($"quality", $"doc_id")).cast("long"))
    ranked.join(broadcast(targets), Seq("qb", "rn"))
      .select($"p", $"rank", $"doc_id", $"quality")
      .orderBy($"p")
  }

  /** d45: per-SOURCE exact quality quantiles — d43's order statistics
    * grouped by the source catalog: for each (source, percentile), the
    * doc at rank max(1, ceil(p·N_source/100)) under (quality ASC,
    * doc_id) WITHIN that source. The per-dump calibration readout that
    * pairs with d41's overlap census ("is dump B low-quality or just
    * redundant?"); thresholds tuned per dump need the per-dump
    * distribution, and a `Window.partitionBy(source)` global sort would
    * funnel each WHOLE SOURCE through one task — at 100 TB a single
    * crawl dump is itself cluster-sized, so the two-phase bucket-rank
    * discipline applies INSIDE each group: (source, qb) bucket counts
    * (catalog × nBuckets metadata rows), per-source prefix sums over
    * that metadata (partitioned by source — never corpus-wide), rank
    * targets from the inline percentile relation × per-source N, and
    * the winner pick an equi-join on (source, qb, rn). No broadcast
    * hints: every side is catalog-sized metadata, AQE decides. */
  def qualityQuantilesBySource(docs: DataFrame,
      pcts: Seq[Int] = Seq(1, 10, 25, 50, 75, 90, 99),
      nBuckets: Int = 16): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100),
      s"qualityQuantilesBySource: percentiles must lie in [0, 100] (got $pcts)")
    require(nBuckets > 0,
      s"qualityQuantilesBySource: nBuckets > 0 (got $nBuckets)")
    // the bucketed frame feeds THREE consumers (per-source counts, the
    // per-source N table, the within-bucket rank) — materialize so the
    // quality composite runs once (the d43 argument at source grain)
    val bucketed = withQuality(docs).select($"source", $"doc_id", $"quality")
      .withColumn("qb",
        least(greatest(floor($"quality" * nBuckets).cast("int"), lit(0)),
          lit(nBuckets - 1)))
      .materialize()
    val counts = bucketed.groupBy($"source", $"qb")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum_before", coalesce(sum($"c").over(
        Window.partitionBy($"source").orderBy($"qb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ns = bucketed.groupBy($"source").agg(count(lit(1)).as("n"))
    val targets = pcts.toDF("p")
      .crossJoin(ns)
      .withColumn("rank",
        greatest(lit(1L), ceil($"p" * $"n" / lit(100.0)).cast("long")))
      .join(counts.withColumnRenamed("source", "csource"),
        $"source" === $"csource" && $"rank" > $"cum_before" &&
          $"rank" <= $"cum_before" + $"c")
      .select($"source", $"p".cast("long").as("p"), $"rank", $"qb",
        ($"rank" - $"cum_before").as("rn"))
    val ranked = bucketed.withColumn("rn", row_number().over(
      Window.partitionBy($"source", $"qb").orderBy($"quality", $"doc_id"))
      .cast("long"))
    ranked.join(targets, Seq("source", "qb", "rn"))
      .select($"source", $"p", $"rank", $"doc_id", $"quality")
      .orderBy($"source", $"p")
  }

  /** d44: corpus snapshot diff — the release-management census between
    * two corpus versions at CONTENT grain: per distinct text
    * fingerprint, `added` (new snapshot only), `removed` (old only) or
    * `retained` (both — doc_id churn with identical content counts as
    * retained, which is the point of diffing on fp, not id), with each
    * side's min doc_id as witness and per-side copy counts. One
    * fp-grain groupBy per side + a fp full-outer equi-join — text never
    * shuffles, and the diff cost is the fp tables', not the corpora's. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val s = oldDocs.sparkSession
    import s.implicits._
    def side(docs: DataFrame, tag: String) =
      docs.select(md5($"text").as("fp"), $"doc_id")
        .groupBy($"fp")
        .agg(min($"doc_id").as(s"${tag}_doc"), count(lit(1)).as(s"${tag}_copies"))
    side(oldDocs, "old").join(side(newDocs, "new"), Seq("fp"), "full_outer")
      .select($"fp",
        when($"old_doc".isNull, "added")
          .when($"new_doc".isNull, "removed")
          .otherwise("retained").as("status"),
        $"old_doc", coalesce($"old_copies", lit(0L)).as("old_copies"),
        $"new_doc", coalesce($"new_copies", lit(0L)).as("new_copies"))
      .orderBy($"fp")
  }

  /** d42: token-budget data selection — the "best data under a compute
    * budget" step (the data-constrained-scaling recipe): rank the corpus
    * by the d09 quality score and keep documents, best first, until the
    * cumulative whitespace-token count reaches `frac` of the corpus
    * total. Output: the selected docs with their global cumulative token
    * position (strictly increasing — n_tok >= 1 — so the order is
    * total). Global order is (quality DESC, doc_id) — the rounded d09
    * score, exact on both engines, with the id tie-break.
    *
    * Scale shape — the global prefix sum is the whole difficulty, and a
    * bare `Window.orderBy(quality)` would funnel the corpus through ONE
    * task (the q30 hazard, spec-banned gate-wide). The d26 two-phase
    * discipline instead, on the QUALITY axis: the d09 score is bounded
    * (≤ 1), so docs range-bucket by `floor(quality·nBuckets)` (clamped
    * below 0 into the bottom bucket — the clamp only collapses the
    * lowest range, so bucket order stays aligned with quality order);
    * within-bucket running sums are PARTITIONED windows; the nBuckets
    * bucket totals — metadata, not data — take an exclusive prefix sum
    * in DESCENDING bucket order under an explicit limit(nBuckets) bound
    * and broadcast back as an equi-join. The budget scalar is one exact
    * integer aggregate broadcast as a 1-row GlobalLimit crossJoin. The
    * result is provably independent of nBuckets (spec-pinned), so a
    * 1000-executor run just raises the bucket count. */
  def budgetSelect(docs: DataFrame, frac: Double = 0.25,
      nBuckets: Int = 16): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(frac > 0.0 && frac <= 1.0 && nBuckets > 0,
      s"budgetSelect: need 0 < frac <= 1 and nBuckets > 0 (got $frac, $nBuckets)")
    // the bucketed frame feeds THREE consumers (the budget scalar, the
    // per-bucket token offsets, the within-bucket prefix chain) —
    // materialize so the quality composite runs once (the d43 argument)
    val bucketed = withQuality(docs).select($"doc_id", $"n_tok", $"quality")
      .withColumn("qb",
        least(greatest(floor($"quality" * nBuckets).cast("int"), lit(0)),
          lit(nBuckets - 1)))
      .materialize()
    val budget = bucketed.agg(floor(sum($"n_tok") * lit(frac)).cast("long")
      .as("budget")).limit(1)
    val withinW = Window.partitionBy($"qb").orderBy($"quality".desc, $"doc_id")
    val offW = Window.orderBy($"qb".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy($"qb").agg(sum($"n_tok").as("btok"))
      // nBuckets metadata rows — the bounded-window contract (the d26
      // bucket-totals shape), pinned structurally by the explicit limit
      .limit(nBuckets)
      .withColumn("off", coalesce(sum($"btok").over(offW), lit(0L)))
    bucketed
      .withColumn("cum_in", sum($"n_tok").over(withinW))
      .join(broadcast(offsets.select($"qb", $"off")), Seq("qb"))
      .crossJoin(broadcast(budget))
      .withColumn("cum_tok", $"off" + $"cum_in")
      .filter($"cum_tok" <= $"budget")
      .select($"doc_id", $"quality", $"n_tok", $"cum_tok")
      .orderBy($"cum_tok")
  }

  /** d46/d48 feature space: hashed unigram+bigram buckets (the DSIR
    * paper's feature extractor shape at testdata scale — the paper uses
    * 10k buckets on full CommonCrawl; the bucket COUNT is the fidelity
    * knob, not a correctness knob). The bucket is the first md5 hex
    * PAIR of the feature string (0..255) — md5 is the repo's proven
    * cross-engine fingerprint AND a native codegen expression; the
    * first cut used the d13 rolling-char-hash HOF per feature, which
    * the scale sweep measured ~20× slower than d47's md5 pass at the
    * same feature grain (an interpreted per-character lambda against a
    * native digest — 74 vs 4 job-seconds at 10×). The hex→int map is a
    * locate() over the hex alphabet, exact on both engines. */
  // gate default (256 = 16^2 hex chars); the live value comes from
  // [[QueryConf.dsirHexChars]] session conf — the DSIR paper runs 10k
  // buckets on full CommonCrawl, which must not need a recompile. The
  // oracle SQL interpolates THIS default.
  private val dsirBuckets = 1 << (4 * QueryConf.DefaultDsirHexChars)
  private def dsirBucketsOf(hexChars: Int): Long = 1L << (4 * hexChars)
  /** bucket id = the first `hexChars` md5 hex chars of the feature
    * string read as a base-16 int — exact and engine-portable for any
    * width. hexChars=2 is the spec-pinned gate shape. */
  private[graft] def dsirFeatBucket(colName: String,
      hexChars: Int = QueryConf.DefaultDsirHexChars): String =
    (0 until hexChars).map { k =>
      val scale = 1L << (4 * (hexChars - 1 - k))
      s"""(locate(substring(md5($colName), ${k + 1}, 1),
           '0123456789abcdef') - 1) * ${scale}L"""
    }.mkString("(", " + ", ")")

  /** The hashed unigram+bigram feature stream (doc_id, fb, c) shared by
    * d46 (importance weights) and d48 (domain clustering) — one
    * definition of the feature space, so the two operators that reason
    * in it cannot silently diverge. */
  private[graft] def hashedFeats(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    // One compiled pass per doc (graft_hashed_feats: tokenize →
    // unigram+bigram md5 → leading-nibble bucket → in-row count) — the
    // interpreted explode-then-groupBy(doc_id, fb) formulation it
    // replaces shipped every distinct (doc, bucket) pair through a
    // corpus-wide exchange just to count WITHIN each document; the
    // census is a per-doc property, so the explode now emits finished
    // (fb, c) rows with no shuffle (spec-pinned, with the reference
    // formula, in FunctionsSpec). [[dsirFeatBucket]] stays as the
    // oracle-side bucket arithmetic d45/d48's sign table also rides.
    d.select($"doc_id", explode(
      expr(s"graft_hashed_feats(text, ${QueryConf.dsirHexChars(s)})"))
      .as("f"))
      .select($"doc_id", $"f.fb".as("fb"), $"f.c".as("c"))
  }

  /** d46 — DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every RAW
    * corpus doc by how much more likely its hashed-n-gram features are
    * under the TARGET distribution than under the raw distribution —
    * log w(x) = Σ_b c_b(x)·(ln p_b − ln q_b) with add-one smoothing on
    * both bag-of-buckets models. The standard "make the crawl look
    * like the high-quality corpus" selection signal; ranking by it +
    * a budget cut (d42's machinery) is deterministic DSIR.
    *
    * Scale shape: features collapse to (doc, bucket, count) grain at
    * map side — the only corpus-wide shuffle carries (doc_id, int
    * bucket) pairs, never text. Both distributions are ≤`dsirBuckets`-
    * row aggregates; the log-ratio table joins back by bucket equi-key
    * (catalog-sized — AQE auto-broadcasts, no hint needed) and the two
    * totals ride broadcast scalar aggregates (the d17/d23 pattern).
    * Cross-engine exactness is the d23 discipline end to end: exact
    * integer counts → bit-equal ln() doubles → DECIMAL(20,15)-cast
    * summands scaled by exact DECIMAL(10,0) counts — order-independent
    * sums, floor-scaled on output. Docs with no features (no tokens)
    * emit no row, the termStream convention. */
  def dsirWeights(raw: DataFrame, target: DataFrame): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    // materialize both feature tables: raw feeds THREE consumers (qc,
    // the tq scalar, the final score join) and target two (pc, tp) —
    // without the barrier the corpus-wide hashing pass re-runs per
    // consumer (the sweep measured the pass as the operator's dominant
    // cost). The narrow (doc_id, fb, c) form is exactly what the d16
    // signature discipline caches: fixed-width ints, no text.
    val rawF = graft.Materialize.lazyCut(hashedFeats(raw))
    val tgtF = graft.Materialize.lazyCut(hashedFeats(target))
    val qc = rawF.groupBy($"fb").agg(sum($"c").as("qc"))
    val pc = tgtF.groupBy($"fb").agg(sum($"c").as("pc"))
    val tq = rawF.agg(coalesce(sum($"c"), lit(0L)).as("tq"))
    val tp = tgtF.agg(coalesce(sum($"c"), lit(0L)).as("tp"))
    // only buckets PRESENT in the raw side can be referenced by a raw
    // doc, so the ratio table is built on qc; absent-in-target buckets
    // smooth to pc = 0
    // add-one smoothing denominator = the LIVE bucket count (the same
    // conf hashedFeats bucketed with — a mismatch would mis-normalize
    // both models)
    val buckets = dsirBucketsOf(QueryConf.dsirHexChars(s))
    val ratio = qc.join(pc, Seq("fb"), "left")
      .crossJoin(broadcast(tp)).crossJoin(broadcast(tq))
      .withColumn("lr", expr(
        s"""CAST(ln((coalesce(pc, 0) + 1)
              / CAST(tp + $buckets AS DOUBLE)) AS DECIMAL(20,15))
          - CAST(ln((qc + 1)
              / CAST(tq + $buckets AS DOUBLE)) AS DECIMAL(20,15))"""))
      .select($"fb", $"lr")
    rawF.join(ratio, Seq("fb"))
      .groupBy($"doc_id")
      .agg(
        (floor(sum(expr("lr * CAST(c AS DECIMAL(10,0))")).cast("double")
          * 10000) / 10000.0).as("log_ratio"),
        sum($"c").as("n_feats"))
      .orderBy($"doc_id")
  }

  /** d48 cluster count. 8 cells over the 256-bucket feature space keeps
    * cells well-populated on the test corpora; like s04/s09's k=16, the
    * cell COUNT is the knob real runs scale with corpus size. */
  // gate default; the live value comes from [[QueryConf.domainCells]]
  private val domainCells = QueryConf.DefaultDomainCells
  /** deterministic ±1 seed sign per (feature bucket, cell), defined as
    * "first md5 hex char of `fb:cell` has even code". The ORACLE
    * computes it inline in SQL; the ENGINE pre-tabulates all
    * buckets×cells values into a driver-built table joined by bucket —
    * the same md5, evaluated once per (bucket, cell) instead of once
    * per (doc, bucket, cell) row (the inline form re-digested ~60M
    * tiny strings at the 100× sweep scale). The tabulation is
    * driver-side, so its size is a hard bound: past 4M (bucket, cell)
    * pairs the seed table itself needs to become a distributed
    * computation — refuse loudly instead of OOMing the driver. */
  private def domSignRows(buckets: Long, cells: Int): Seq[(Long, Int, Double)] = {
    require(buckets * cells <= 4000000L,
      s"domainClusters: the driver-tabulated seed table would hold " +
        s"${buckets * cells} (bucket, cell) pairs (> 4M) — lower " +
        s"${QueryConf.DsirHexCharsKey} or ${QueryConf.DomainCellsKey}")
    val md = java.security.MessageDigest.getInstance("MD5")
    for {
      fb <- 0L until buckets
      cell <- 0 until cells
    } yield {
      val d = md.digest(s"$fb:$cell".getBytes("UTF-8"))
      val firstHex = "%02x".format(d(0)).charAt(0)
      (fb, cell, if (firstHex.toInt % 2 == 0) 1.0 else -1.0)
    }
  }

  /** d48 — domain clustering over the hashed-n-gram feature space: the
    * text-side counterpart of s04/s09's embedding quantizer, and the
    * structure a domain-mixture pipeline (DoReMi-style domain weights,
    * per-domain curation) needs when no embeddings exist yet. Every doc
    * is assigned to one of `domainCells` clusters by cosine over its
    * [[hashedFeats]] bag-of-buckets vector: fixed md5-derived ±1 seed
    * directions, one spherical Lloyd round (members normalized by their
    * exact L2 count-norm, per-(cell, bucket) sums accumulated as
    * fixed-point integers in DECIMAL — the s04 recenter discipline, so
    * the learned centroids are bit-equal functions of the data on any
    * engine and any partitioning), then a final cosine argmax against
    * the learned centroids (exact DECIMAL dot, one double division,
    * cell-ascending tie-break).
    *
    * Scale shape: docs never pairwise-compare (this is k-means, not
    * SemDeDup) — the corpus-sized work is two (doc, bucket)-grain
    * aggregates and two bucket-keyed equi-joins against ≤ 256·8-row
    * centroid metadata (AQE auto-broadcasts); the argmax windows
    * partition by doc_id. Text never shuffles: features collapse to
    * (doc_id, int bucket, count) at map side, the d46 pass. */
  def domainClusters(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // four consumers read the feature table (nrm, seed assignment, the
    // Lloyd sums, the final dots) — materialize it once (same argument
    // as d46's)
    val f = hashedFeats(docs).materialize()
    // (eager deliberately — r19 A/B: a lazy cut here let the FOUR
    // consumer stages race block-by-block on the uncomputed corpus
    // frame under AQE's concurrent stage materialization, measured
    // SLOWER than one eager pass: 1.17 -> 1.53 s)
    val nrm = f.groupBy($"doc_id")
      .agg(sqrt(sum($"c" * $"c").cast("double")).as("nrm"),
        sum($"c").as("n_feats"))
    // seed assignment: Σ_b c_b·(±1) — every term integer-valued, so the
    // double sum is exact and order-independent; signs ride the
    // pre-tabulated 2048-row literal (an inline-relation equi-join)
    val signs = domSignRows(dsirBucketsOf(QueryConf.dsirHexChars(s)),
      QueryConf.domainCells(s)).toDF("fb", "cell", "w")
    // argmax as a max(struct(dot0, -cell)) aggregate, not a row_number
    // window (r19): same (dot0 DESC, cell ASC) order, but the per-doc
    // fold is map-side combinable where the window re-sorted every
    // (doc, cell) row under a doc_id exchange just to keep one of them
    val assign0 = f
      .join(signs, Seq("fb"))
      .groupBy($"doc_id", $"cell").agg(sum($"c" * $"w").as("dot0"))
      .groupBy($"doc_id")
      .agg(max(struct($"dot0", (-$"cell").as("negc"))).as("m"))
      .select($"doc_id", (-$"m.negc").as("cell0"))
    // one Lloyd round at 1e-9 fixed-point grain (exact, order-free)
    // ≤ 2048 rows; materialized so the centroid chain (feature pass +
    // seed window + DECIMAL sums) runs once for its two consumers
    // (cnorm and the final dots)
    val cent = f.join(assign0, "doc_id").join(nrm.select($"doc_id", $"nrm"), "doc_id")
      .groupBy($"cell0", $"fb")
      .agg(sum(floor($"c" / $"nrm" * lit(1e9)).cast("decimal(38,0)"))
        .cast("decimal(20,0)").as("sxq"))
      // lazyCut (r19): the ≤2048-row centroid table computes under its
      // first consumer's action; the eager job bought nothing
      .pipe(graft.Materialize.lazyCut)
    val cnorm = cent
      .withColumn("sx", $"sxq".cast("double") / lit(1e9))
      .groupBy($"cell0")
      .agg(expr(
        "transform(sort_array(collect_list(struct(fb, sx))), p -> p.sx)")
        .as("cv"))
      .select($"cell0", expr("sqrt(graft_dot(cv, cv))").as("cnorm"))
    // final assignment: exact DECIMAL dot / centroid norm; the doc's own
    // norm is constant across cells and cancels in the argmax
    val dots = f.join(cent.select($"cell0".as("cell"), $"fb", $"sxq"), Seq("fb"))
      .groupBy($"doc_id", $"cell")
      .agg(sum(expr("CAST(c AS DECIMAL(10,0)) * sxq")).as("dotq"))
    // same aggregate-argmax shape as assign0 (r19; was a second
    // row_number window over the same per-doc cell fan-out)
    dots.join(cnorm.withColumnRenamed("cell0", "cell"), Seq("cell"))
      .withColumn("score", $"dotq".cast("double") / $"cnorm")
      .groupBy($"doc_id")
      .agg(max(struct($"score", (-$"cell").as("negc"))).as("m"))
      .join(nrm.select($"doc_id", $"n_feats"), Seq("doc_id"))
      .select($"doc_id", (-$"m.negc").cast("long").as("cluster"), $"n_feats")
      .orderBy($"doc_id")
  }

  /** d29 BPE merge statistics: the merge table a tokenizer-training
    * pipeline trains (d18 gives the unigram vocab; this is the byte-pair
    * step above it), and the artifact the `bpetrain` verb writes. k
    * rounds; each round counts adjacent symbol pairs over the word table
    * (weighted by corpus word frequency), picks the argmax pair (count
    * DESC, then lhs, then rhs), and greedily merges its non-overlapping
    * occurrences left-to-right in every word ("aaaa" + (a,a) ->
    * [aa,aa], "aaa" -> [aa,a]). Output: one row per merge rank
    * (merge_rank, lhs, rhs, merged, pair_count). Training stops early,
    * with fewer than k rows, once no word has a pair left.
    *
    * Shape: the corpus is touched once (the word-frequency groupBy,
    * map-side combined). The distinct-word table, which Heaps' law keeps
    * at tokenizer-vocab scale (~10^5-10^7 rows) whatever the corpus
    * size, is collected, and the merge loop runs in driver memory, as
    * Sennrich et al.'s own trainer runs it over the word-frequency
    * table. The job count does not depend on k (spec-pinned); SCALE.md
    * "BPE at real merge counts" has the k sweep.
    *
    * Determinism: initial symbols are code points (a surrogate pair is
    * one symbol); pair counts follow the overlapping adjacent convention
    * ("aaa" counts (a,a) twice); the tie-break compares strings as
    * unsigned UTF-8 bytes, Spark's UTF8String order, which Java's UTF-16
    * compareTo diverges from on supplementary characters. Divergence
    * from Sennrich BPE, documented: no end-of-word marker symbol (</w>),
    * so merges may span what BPE would keep apart at word ends; the
    * merge mechanics (count, argmax, greedy apply) are the algorithm's.
    *
    * `minCount` prunes words rarer than the floor before the collect
    * (`HAVING count >= minCount`). 1, the default, prunes nothing. At web
    * scale the word table is dominated by hapax noise (typos, ids, junk
    * tokens) the trainer never merges; 2, the usual tokenizer-trainer
    * setting, changes the table only through the dropped hapax words.
    *
    * Limit: the filtered table is collected under a limit of one row
    * past `spark.graft.bpe.maxwords` (20M by default), in one action with
    * no cache, and refused when that row arrives, instead of dying inside
    * an unbounded collect. A word table larger than that at
    * `minCount = 1` is therefore refused, where a distributed round loop
    * would have run at about 0.2 s of scheduling per merge (~2.4 h for
    * k = 32000). The escape is a higher `minCount` (`bpetrain
    * --min-count`) or a higher knob with more driver memory. The loop
    * recounts all pairs per round (O(vocab) per merge); an incremental
    * pair-count update would be a driver-side refinement. */
  def bpeMerges(docs: DataFrame, k: Int, minCount: Long = 1L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(k >= 1, s"bpeMerges: k must be >= 1 (got $k)")
    require(minCount >= 1,
      s"bpeMerges: minCount must be >= 1 (got $minCount)")
    val utf8 = new Ordering[String] {
      def compare(a: String, b: String): Int = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        java.util.Arrays.compareUnsigned(x, y)
      }
    }
    // one bounded action: a table with one row past the bound is too big,
    // and collecting that row is how the guard sees it (at the Int.MaxValue
    // bound there is no room for the extra row, and no JVM array for it)
    val maxWords = QueryConf.bpeMaxWords(s)
    val table = termStream(docs)
      .groupBy($"term").agg(count(lit(1)).as("c"))
      .filter($"c" >= minCount)
      .limit(if (maxWords == Int.MaxValue) maxWords else maxWords + 1)
      .collect()
    require(table.length <= maxWords,
      s"bpeMerges: more than $maxWords distinct words (after minCount=" +
        s"$minCount) exceed ${QueryConf.BpeMaxWordsKey}=$maxWords — " +
        "the driver-side merge loop would collect past driver heap. " +
        "Raise --min-count (2 prunes the hapax noise that dominates " +
        "web-scale word tables), raise the knob with more driver " +
        "memory, or train on a curated sample.")
    val words: Array[(Array[String], Long)] =
      table.map(r => (bpeSymbols(r.getString(0)), r.getLong(1)))
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var vocab = words
    var rank = 1
    var exhausted = false
    // exhaustion is monotone (merges only shrink words), so the first
    // pair-free round ends training — without the break, a k far above
    // the corpus's merge capacity (the default 32000 vs a small vocab)
    // would re-count all pairs once per dead round for nothing
    while (rank <= k && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (p, c) =>
          val better = best == null || c > best._2 ||
            (c == best._2 && {
              val l = utf8.compare(p._1, best._1._1)
              l < 0 || (l == 0 && utf8.compare(p._2, best._1._2) < 0)
            })
          if (better) best = (p, c)
        }
        val ((lhs, rhs), pc) = best
        vocab = vocab.map { case (syms, c) => (bpeMerge(syms, lhs, rhs), c) }
        merges += ((rank.toLong, lhs, rhs, lhs + rhs, pc))
      }
      rank += 1
    }
    merges.result()
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** d29b, the trained tokenizer applied: per-doc token counts
    * (doc_id, n_words, n_bpe_tokens) under a merge table, either a
    * [[bpeMerges]] result or the saved artifact the `tokenize` verb
    * reads; no training runs here. The merge table (k rows) is collected
    * and broadcast; each DISTINCT word is tokenized once in a
    * mapPartitions over the Heaps-bounded word table (repeatedly merge
    * the lowest-rank pair present, one greedy left-to-right pass per
    * selected rank); the (word → symbol count) lookup then
    * broadcast-joins the term stream. Corpus text is touched once and
    * never rewritten.
    *
    * Rank-priority apply ≡ the trainer's round-by-round passes, exactly:
    * a merge can only create adjacencies involving its OWN new symbol,
    * and any merge consuming that symbol was necessarily created later
    * (higher rank) — so pairs of rank below the current minimum can
    * never appear, and processing ranks in ascending order reproduces
    * training-time tokenization symbol-for-symbol (the d29b oracle
    * tokenizes with the trainer's own round passes). */
  def bpeTokenCountsFromMerges(docs: DataFrame, merges: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val missing = Seq("merge_rank", "lhs", "rhs")
      .filterNot(merges.columns.contains)
    require(missing.isEmpty,
      s"bpeTokenCountsFromMerges: merge table is missing column(s) " +
        s"${missing.mkString(", ")} — not a bpetrain artifact")
    val ranked: Array[(String, String)] = merges
      .orderBy($"merge_rank")
      .select($"lhs", $"rhs")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bc = s.sparkContext.broadcast(ranked)
    val lookup = termStream(docs).select($"term").distinct()
      .as[String]
      .mapPartitions { it =>
        val ms = bc.value
        val rankOf = ms.zipWithIndex.toMap
        it.map { term =>
          var syms = bpeSymbols(term)
          var done = false
          while (!done && syms.length > 1) {
            // lowest-rank adjacent pair present
            var best = Int.MaxValue
            var i = 0
            while (i < syms.length - 1) {
              rankOf.get((syms(i), syms(i + 1)))
                .foreach(r => if (r < best) best = r)
              i += 1
            }
            if (best == Int.MaxValue) done = true
            else syms = bpeMerge(syms, ms(best)._1, ms(best)._2)
          }
          (term, syms.length.toLong)
        }
      }
      .toDF("term", "n_sym")
    termStream(docs).join(broadcast(lookup), Seq("term"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_sym").as("n_bpe_tokens"))
  }

  /** A word's BPE start state: one symbol per code point. */
  private def bpeSymbols(word: String): Array[String] =
    word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** One greedy left-to-right pass merging the non-overlapping
    * occurrences of the pair (l, r): the step both training and apply
    * take. */
  private def bpeMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** The d28/d36 gate fixture: each document split into paragraphs
    * with deterministically repeated spans planted (the original text,
    * a pair-shared passage keyed on doc_id DIV 2 — re-occurring in the
    * same doc — and a 1-in-25 chapter header). ONE definition so the
    * batch (d28) and incremental (d36) gates disposition the SAME
    * paragraph stream. */
  private def augmentedParas(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), concat(
        col("text"),
        lit(" | repeated passage "), expr("doc_id DIV 2"),
        lit(" shared across a pair of documents"),
        lit(" | chapter header "), pmod(col("doc_id"), lit(25)),
        lit(" common recurring block"),
        lit(" | repeated passage "), expr("doc_id DIV 2"),
        lit(" shared across a pair of documents")).as("augmented"))
      .select(col("doc_id"),
        posexplode(split(col("augmented"), " \\| ")).as(Seq("pos", "para")))

  /** The span-family md5 key with the loud null refusal: md5(NULL) is
    * NULL, and a NULL key never equi-joins — a null paragraph would
    * otherwise silently vanish from every disposition instead of
    * failing (cannot arise from split(), but the span operators accept
    * arbitrary (doc_id, pos, para) frames). */
  private def paraFpCol: org.apache.spark.sql.Column =
    when(col("para").isNull, raise_error(lit(
      "span dedup: null paragraph — a null key never joins, so the " +
        "occurrence would silently vanish from disposition; repair " +
        "the paragraph frame first")))
      .otherwise(md5(col("para")))

  /** d36's persistable artifact: the per-span signature table an
    * incremental span dedup maintains — one fixed-width row per
    * DISTINCT paragraph (md5 fingerprint, distinct-doc df, canonical
    * (doc, pos) = the globally minimal occurrence). Paragraph TEXT is
    * not in the artifact: disposition of future batches never re-reads
    * the corpus (the d16 discipline at paragraph grain). Built with
    * the same one-groupBy shape as [[spanDispositions]]' stats pass. */
  def spanSignatures(paras: DataFrame): DataFrame = {
    val s = paras.sparkSession
    import s.implicits._
    paras.withColumn("para_fp", paraFpCol)
      .groupBy($"para_fp")
      .agg(countDistinct($"doc_id").as("df"),
        min(struct($"doc_id", $"pos")).as("canon"))
      .select($"para_fp", $"df",
        $"canon.doc_id".as("canon_doc"), $"canon.pos".as("canon_pos"))
  }

  /** d36: incremental span dedup — a new batch's paragraphs
    * dispositioned against a standing [[spanSignatures]] artifact:
    *   - 'corpus_dup': the span already exists in the corpus (ANY
    *     corpus occurrence — the canonical lives there, so every batch
    *     occurrence drops, df threshold irrelevant);
    *   - 'batch_dup': the span is new to the corpus but repeated
    *     across ≥2 batch docs — d28's within-batch semantics verbatim
    *     (the (doc_id, pos)-minimal batch occurrence is kept, every
    *     other — same-doc re-occurrences included — drops);
    *   - 'kept': everything else (including a batch doc repeating its
    *     OWN new span — df 1, kept, the d28 rule).
    *
    * Scale shape: the corpus side is the fp-keyed ARTIFACT (fixed
    * width, no text); the batch stats are one md5-keyed groupBy over
    * batch-sized input; the joins are fp-keyed. Corpus text volume
    * never appears anywhere — the whole point of maintaining the
    * signature table. A malformed artifact (missing columns) is
    * refused loudly, the d24 migration-guard discipline. */
  def incrementalSpanDedup(corpusSigs: DataFrame,
      batchParas: DataFrame): DataFrame = {
    val s = batchParas.sparkSession
    import s.implicits._
    val required = Seq("para_fp", "df", "canon_doc", "canon_pos")
    val missing = required.filterNot(corpusSigs.columns.contains)
    require(missing.isEmpty,
      s"incrementalSpanDedup: corpus signature artifact is missing " +
        s"column(s) ${missing.mkString(", ")} — rebuild it with " +
        "spanSignatures (pre-d36 artifacts cannot disposition)")
    val keyed = batchParas.withColumn("para_fp", paraFpCol)
    val batchStats = keyed.groupBy($"para_fp").agg(
      countDistinct($"doc_id").as("bdf"),
      min(struct($"doc_id", $"pos")).as("bcanon"))
    keyed
      .join(batchStats, "para_fp")
      .join(corpusSigs.select($"para_fp", $"df".as("corpus_df")),
        Seq("para_fp"), "left")
      .withColumn("disposition",
        when($"corpus_df" >= 1, "corpus_dup")
          .when($"bdf" >= 2 && !($"doc_id" === $"bcanon.doc_id" &&
            $"pos" === $"bcanon.pos"), "batch_dup")
          .otherwise("kept"))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"para",
        coalesce($"corpus_df", lit(0L)).as("corpus_df"),
        $"bdf".as("batch_df"), $"disposition")
  }

  /** Fold per-batch [[spanSignatures]] rows into ONE standing table:
    * df sums, the canonical stays the global (doc, pos) minimum. Exact
    * under the ingest contract that doc_ids are globally unique across
    * batches (df never double-counts a doc). This is also how a
    * `batch=`-partitioned span-signature sidecar (ingest `--spansigs`)
    * is read back for disposition. */
  def foldSpanSignatures(sigs: DataFrame): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    sigs
      .groupBy($"para_fp")
      .agg(sum($"df").as("df"),
        min(struct($"canon_doc".as("doc_id"), $"canon_pos".as("pos")))
          .as("canon"))
      .select($"para_fp", $"df",
        $"canon.doc_id".as("canon_doc"), $"canon.pos".as("canon_pos"))
  }

  /** The artifact maintenance step: fold a dispositioned batch's spans
    * into the standing signature table (the `--sigs` shape at span
    * grain). */
  def mergedSpanSignatures(corpusSigs: DataFrame,
      batchParas: DataFrame): DataFrame =
    foldSpanSignatures(corpusSigs.unionByName(spanSignatures(batchParas)))

  /** d28's per-occurrence disposition over any (doc_id, pos, para)
    * frame: df (distinct docs containing the paragraph) and whether
    * this occurrence is dropped (df >= 2 and not the canonical — the
    * globally (doc_id, pos)-minimal — occurrence). Scale shape (the
    * d22/d01b discipline): the df + canonical pass is ONE groupBy
    * keyed on md5(para) — fixed-width shuffle keys, never paragraph
    * TEXT (a paragraph can be a whole document); canonical selection
    * is min(struct(doc_id, pos)) in the SAME aggregate, so no second
    * shuffle and no window; the join back is md5-keyed. min-of-struct
    * is lexicographic in both engines (field order pins doc before
    * pos). State per group is O(1) — df counter + one (doc_id, pos)
    * pair — regardless of how hot a span is.
    *
    * Deliberate trade, like d22: the paragraph table is DERIVED TWICE
    * (once for the stats groupBy — which ships only (fp, doc_id, pos),
    * fixed-width — and once as the join's probe side, which must carry
    * the text anyway because reconstruction emits it). Re-deriving from
    * the columnar scan beats materializing a corpus-sized exploded text
    * table the way the dedup scope materializes its NARROW signature
    * table; no explicit broadcast hint, so the stats side auto-
    * broadcasts at small SF and degrades to a sort-merge join on the
    * fixed-width fp at corpus scale. */
  def spanDispositions(paras: DataFrame): DataFrame = {
    val s = paras.sparkSession
    import s.implicits._
    val keyed = paras.withColumn("para_fp", paraFpCol)
    val stats = keyed.groupBy($"para_fp").agg(
      countDistinct($"doc_id").as("df"),
      min(struct($"doc_id", $"pos")).as("canon"))
    keyed.join(stats, "para_fp")
      .withColumn("dropped", $"df" >= 2 &&
        !($"doc_id" === $"canon.doc_id" && $"pos" === $"canon.pos"))
      .select($"doc_id", $"pos", $"para", $"df", $"dropped")
  }

  /** d28 per-doc summary: paragraph counts, length-weighted removal
    * volume, and the document reconstructed from kept paragraphs in
    * position order (the d22 collect_list pattern — state bounded per
    * document, never corpus-wide). */
  def spanDedup(paras: DataFrame, joinSep: String = " | "): DataFrame = {
    val s = paras.sparkSession
    import s.implicits._
    spanDispositions(paras)
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when($"dropped", 1L).otherwise(0L)).as("n_dropped"),
        sum(when($"dropped", length($"para")).otherwise(0L))
          .as("chars_dropped"),
        concat_ws(joinSep, expr(
          """transform(
               array_sort(collect_list(
                 CASE WHEN NOT dropped THEN struct(pos, para) END)),
               p -> p.para)""")).as("cleaned"))
  }

  /** A (doc_id, text) corpus split into its (doc_id, pos, para)
    * paragraph stream on the LITERAL separator (regex-quoted — a "|"
    * separator must not become a regex alternation). Shared by
    * [[spanDedupCorpus]] and the streaming ingest's span-signature
    * maintenance, so the batch and incremental paths segment
    * identically. */
  def corpusParas(docs: DataFrame, sep: String): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))

  /** d50 — paragraph-grain salvage: instead of dropping a document
    * whose COMPOSITE quality fails the bar, keep its above-bar
    * paragraphs and rebuild the doc from them in position order — the
    * segment-level filtering real curation pipelines run between
    * doc-level gating (d31) and boilerplate removal (d22): a crawl page
    * is usually good prose wrapped in junk, not uniformly junk. The
    * quality formula is the SAME shared [[withQuality]] composite the
    * doc-level gates threshold, applied at paragraph grain; rebuild is
    * the d28 pattern (array_sort over (pos, text) structs — dropped
    * paragraphs become NULL structs, sorted last and skipped by
    * concat_ws). One corpus pass + one doc-keyed groupBy; paragraph
    * text shuffles once, inside the rebuild aggregate. */
  def paragraphSalvage(paras: DataFrame, qualityMin: Double = 0.5,
      joinSep: String = " "): DataFrame = {
    val s = paras.sparkSession
    import s.implicits._
    require(qualityMin > 0.0 && qualityMin <= 1.0,
      s"paragraphSalvage: qualityMin must be in (0, 1] (got $qualityMin)")
    withQuality(paras.withColumnRenamed("para", "text"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when($"quality" < qualityMin, lit(1L)).otherwise(lit(0L)))
          .as("n_dropped"),
        concat_ws(joinSep, expr(
          s"""transform(
               array_sort(collect_list(
                 CASE WHEN quality >= $qualityMin
                 THEN struct(pos, text) END)),
               p -> p.text)""")).as("salvaged"))
      .orderBy($"doc_id")
  }

  /** [[spanDedup]] over a (doc_id, text) corpus: split on the literal
    * separator, dedup spans, reconstruct with the same separator. The
    * CLI `spandedup` entry point. */
  def spanDedupCorpus(docs: DataFrame, sep: String): DataFrame =
    spanDedup(corpusParas(docs, sep), joinSep = sep)

  /** d30 exact n-gram decontamination over any (doc_id, text) frame:
    * per EVAL document (val/test under the d13 content-hash split), how
    * many of its distinct word n-grams also occur in ANY train
    * document. The exact-overlap method the GPT-3/PaLM decontamination
    * writeups describe — it fires on a copied span inside an
    * otherwise-unrelated document, which whole-document similarity
    * (d14) structurally cannot see. Output per eval doc: distinct
    * n-gram count, hit count, hit fraction, and the smallest train
    * doc_id sharing any n-gram (-1 when clean — the columns stay
    * non-null so the funnel can consume them directly).
    *
    * Scale shape — the one hazard is expanding eval x train PAIRS: a
    * boilerplate n-gram present in millions of train docs would
    * multiply every eval doc that contains it. The train side is
    * therefore pre-aggregated to (fp, train_df, min_train_doc) — one
    * map-side-combinable groupBy over fixed-width md5 keys — so the
    * probe join's output is bounded by |eval n-grams| EXACTLY,
    * regardless of how hot a span is on the train side. Everything
    * that shuffles is (md5, long) rows: per-doc distinct n-gram
    * fingerprints, never n-gram TEXT (an 8-gram can be most of a
    * document) and never doc text. Consequence, documented: train_df
    * is available per n-gram, but "distinct train docs over ALL
    * colliding n-grams" is not — that number requires the pair
    * expansion this shape exists to avoid; min_train_doc (min over
    * hits' per-fp minima) is the stable witness the report ships.
    * Docs shorter than n tokens carry no n-grams and emit no row (both
    * engines agree; the corpus floor is 10 tokens, n = 8).
    *
    * Deliberate trade (the d28 precedent): the split filters push
    * BELOW the per-doc distinct, so the train and eval branches each
    * scan+fingerprint their own side of the corpus rather than sharing
    * one full-corpus distinct — two pruned scans beat materializing
    * the undivided fingerprint table, and each branch's shuffle then
    * carries only its own side's rows. */
  def ngramDecontamination(docs: DataFrame, n: Int = 8): DataFrame =
    ngramDecontaminationFromFps(splitNgramFps(docs, n))

  /** d30 over an already-computed [[splitNgramFps]] frame — the shape the
    * one-command CLI path uses to feed BOTH decontamination directions
    * from ONE materialized fingerprint pass (the corpus scan +
    * fingerprinting is the dominant cost of each direction; sharing the
    * pass halves the command). Semantics identical to
    * [[ngramDecontamination]] by construction — this IS its body. */
  private[graft] def ngramDecontaminationFromFps(grams: DataFrame): DataFrame = {
    val s = grams.sparkSession
    import s.implicits._
    val eval_ = grams.filter($"split".isin("val", "test"))
    val train = grams.filter($"split" === "train")
      .groupBy($"fp").agg(count(lit(1)).as("train_df"),
        min($"doc_id").as("min_train_doc"))
    eval_.join(train, Seq("fp"), "left")
      .groupBy($"doc_id", $"split")
      .agg(
        count(lit(1)).as("n_ngrams"),
        count($"train_df").as("n_hit"),
        round(count($"train_df") / count(lit(1)), 4).as("hit_frac"),
        coalesce(min($"min_train_doc"), lit(-1L)).as("min_train_doc"))
      .select($"doc_id", $"split", $"n_ngrams", $"n_hit", $"hit_frac",
        $"min_train_doc")
  }

  /** d32 — d30's actionable inverse: which TRAIN documents to DROP
    * because they carry eval (val/test) content. d30 reports per eval
    * doc how compromised its benchmark reading is; the remediation a
    * pipeline then executes is on the OTHER side — remove the train
    * docs sharing an exact n-gram with any eval doc and retrain, so
    * the benchmark stays intact. Per train doc: distinct n-grams, hits,
    * the smallest leaking eval doc_id (-1 = clean), and the
    * keep/drop disposition the rewrite consumes.
    *
    * Same scale shape as d30 with the roles reversed: the EVAL side
    * pre-aggregates to (fp, df, min doc) — at real scale eval corpora
    * are orders of magnitude smaller than train, so the aggregated
    * side here is the naturally small one — and the probe join's
    * output is bounded by |train n-grams| exactly. */
  def trainDecontamination(docs: DataFrame, n: Int = 8): DataFrame =
    trainDecontaminationFromFps(splitNgramFps(docs, n))

  /** d32 over an already-computed [[splitNgramFps]] frame — see
    * [[ngramDecontaminationFromFps]]. */
  private[graft] def trainDecontaminationFromFps(grams: DataFrame): DataFrame = {
    val s = grams.sparkSession
    import s.implicits._
    val train = grams.filter($"split" === "train")
    val eval_ = grams.filter($"split".isin("val", "test"))
      .groupBy($"fp").agg(count(lit(1)).as("eval_df"),
        min($"doc_id").as("min_eval_doc"))
    train.join(eval_, Seq("fp"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_ngrams"),
        count($"eval_df").as("n_hit"),
        coalesce(min($"min_eval_doc"), lit(-1L)).as("min_eval_doc"))
      .withColumn("disposition",
        when($"n_hit" > 0, "drop").otherwise("keep"))
      .select($"doc_id", $"n_ngrams", $"n_hit", $"min_eval_doc",
        $"disposition")
  }

  /** d39's persistable artifact: the EVAL-side n-gram fingerprint table
    * an incremental decontamination gate maintains — one fixed-width row
    * per distinct val/test 8-gram: (fp, eval_df, min_eval_doc). This is
    * exactly d32's pre-aggregated eval side, promoted to a standing
    * artifact (the d16/d36 discipline at n-gram grain): eval corpora are
    * orders of magnitude smaller than train at real scale — d32's own
    * scale argument — so the artifact is the naturally small side, and
    * n-gram TEXT is never in it (md5 fingerprints only), so disposition
    * of future batches never re-reads the corpus. */
  def evalNgramSignatures(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    splitNgramFps(docs, n)
      .filter($"split".isin("val", "test"))
      .groupBy($"fp")
      .agg(count(lit(1)).as("eval_df"), min($"doc_id").as("min_eval_doc"))
      // the artifact is self-describing: an md5 of a 6-gram and of an
      // 8-gram never collide OR match, so probing an artifact built at
      // a different n would silently disposition everything 'keep' —
      // the n column lets the consumers refuse that loudly instead
      .withColumn("n", lit(n.toLong))
  }

  /** Fold per-batch [[evalNgramSignatures]] generations into ONE
    * standing table: df sums, the witness doc stays the global minimum.
    * Exact under the ingest contract that doc_ids are globally unique
    * across batches (the d36 fold contract — a doc's n-grams are
    * counted by exactly one generation). This is how a
    * `batch=`-partitioned eval-n-gram sidecar is read for disposition. */
  def foldEvalNgramSignatures(sigs: DataFrame): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    require(sigs.columns.contains("n"),
      "foldEvalNgramSignatures: artifact has no 'n' column — written by " +
        "a pre-round-13 evalNgramSignatures; rebuild the artifact")
    // generations built at different n must not fold into one table
    // (their fp universes are disjoint — the result would silently
    // under-match both); the 1-row min/max scalar rides a broadcast
    // cross join (the temperatureRates shape) and the trip is per-row,
    // so no extra action is paid
    val nRange = sigs.agg(min($"n").as("n_lo"), max($"n").as("n_hi"))
    sigs.groupBy($"fp")
      .agg(sum($"eval_df").as("eval_df"),
        min($"min_eval_doc").as("min_eval_doc"),
        max($"n").as("n"))
      .crossJoin(broadcast(nRange))
      .withColumn("n",
        when($"n_lo" =!= $"n_hi", raise_error(concat(
          lit("foldEvalNgramSignatures: generations built at different " +
            "n-gram sizes ("), $"n_lo", lit(" vs "), $"n_hi",
          lit(") cannot fold — rebuild the sidecar at one n"))))
          .otherwise($"n"))
      .select($"fp", $"eval_df", $"min_eval_doc", $"n")
  }

  /** d39: incremental n-gram decontamination — an incoming batch's
    * TRAIN-side documents dispositioned against the standing eval-side
    * n-gram artifact AT INGEST TIME, so a train doc carrying benchmark
    * content is caught before the batch lands instead of by the next
    * full d32 audit. Per batch train doc: distinct n-grams, hits
    * against the artifact, smallest leaking eval doc (-1 = clean), and
    * the keep/drop disposition — d32's output shape exactly, computed
    * without ever touching corpus text.
    *
    * Scope, mirroring d24's convention: the batch's OWN val/test docs
    * are not probed (they are future eval members — the producer folds
    * their n-grams INTO the artifact via [[evalNgramSignatures]] over
    * the batch), and batch-internal leaks (batch train vs batch eval)
    * are corpus-internal the moment the batch lands — covered by the
    * next full d30/d32 audit.
    *
    * Scale shape: the artifact side is fixed-width (fp, long, long) and
    * eval-sized; the batch side is one n-gram pass over JUST the batch;
    * the probe is an fp equi-join whose output is bounded by the
    * batch's train n-gram count exactly (the artifact is already
    * per-fp aggregated — d30/d32's no-pair-explosion discipline). A
    * malformed artifact is refused loudly (the d24/d36 guard). */
  def incrementalDecontamination(evalSigs: DataFrame, batch: DataFrame,
      n: Int = 8): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val required = Seq("fp", "eval_df", "min_eval_doc", "n")
    val missing = required.filterNot(evalSigs.columns.contains)
    require(missing.isEmpty,
      s"incrementalDecontamination: eval n-gram artifact is missing " +
        s"column(s) ${missing.mkString(", ")} — rebuild it with " +
        "evalNgramSignatures (pre-d39 artifacts cannot disposition)")
    // n-mismatch trip rides the artifact projection (the d24 null-guard
    // discipline — no extra action): fps of different-width n-grams
    // never match, so a mismatched probe would read fully 'keep'. The
    // trip guards min_eval_doc — a column the aggregate READS — because
    // a trip on a column nothing consumes would be pruned out of the
    // plan (the corpusCard flag lesson) and never fire.
    val guarded = evalSigs.select($"fp", $"eval_df",
      when($"n" =!= n.toLong, raise_error(concat(
        lit("incrementalDecontamination: artifact built at n = "), $"n",
        lit(s", probe asked for n = $n — n-gram widths must match or " +
          "every disposition silently reads 'keep'"))).cast("long"))
        .otherwise($"min_eval_doc").as("min_eval_doc"))
    splitNgramFps(batch, n)
      .filter($"split" === "train")
      .join(guarded, Seq("fp"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_ngrams"),
        count($"eval_df").as("n_hit"),
        coalesce(min($"min_eval_doc"), lit(-1L)).as("min_eval_doc"))
      .withColumn("disposition",
        when($"n_hit" > 0, "drop").otherwise("keep"))
      .select($"doc_id", $"n_ngrams", $"n_hit", $"min_eval_doc",
        $"disposition")
  }

  /** d33 corpus card — the per-language datasheet a corpus release
    * ships (the "Datasheets for Datasets" summary table): doc counts,
    * exact-duplicate copies, token volume, mean quality, and URL/PII
    * prevalence, one row per language. Composes the shared formula
    * builders (withQuality; UrlDomainPattern/EmailPattern shared
    * verbatim with d20/d21 and the oracle) so the card can never
    * disagree with the operators it summarizes.
    *
    * Determinism note: mean_quality averages DOUBLES, and IEEE double
    * summation is order-dependent — a plain avg() could hash-diverge
    * between engines at the 4th decimal. The d23 discipline applies:
    * accumulate in DECIMAL(18,4) (exact, order-independent — quality
    * is already round(x,4)), divide as double once at the end.
    *
    * Scale shape: ONE codegen pass for quality/regex flags, one
    * md5-keyed groupBy + join-back for the duplicate flag (the d01b
    * fixed-width-key discipline — text never shuffles), one
    * #langs-row final aggregate. Map-side combine everywhere. */
  def corpusCard(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // regex flags computed IN the first codegen pass, so the fp join
    // below moves only fixed-width columns — a flag referenced after
    // the join would drag the full text through the shuffle (column
    // pruning cannot remove a column the aggregate still reads)
    val q = withQuality(docs).withColumn("fp", md5($"text"))
      .withColumn("has_url", $"text".rlike(UrlDomainPattern))
      .withColumn("has_pii", $"text".rlike(EmailPattern))
      .select($"doc_id", $"lang", $"fp", $"n_tok", $"quality",
        $"has_url", $"has_pii")
    val canon = q.groupBy($"fp").agg(min($"doc_id").as("canon_id"))
    q.join(canon, Seq("fp"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"doc_id" =!= $"canon_id", 1L).otherwise(0L))
          .as("n_dup_docs"),
        sum($"n_tok").as("total_tokens"),
        round(avg($"n_tok"), 2).as("avg_tokens"),
        round(sum($"quality".cast("decimal(18,4)")).cast("double")
          / count(lit(1)), 4).as("mean_quality"),
        round(sum(when($"has_url", 1L).otherwise(0L))
          / count(lit(1)), 4).as("url_doc_frac"),
        round(sum(when($"has_pii", 1L).otherwise(0L))
          / count(lit(1)), 4).as("pii_doc_frac"))
      .select($"lang", $"n_docs", $"n_dup_docs", $"total_tokens",
        $"avg_tokens", $"mean_quality", $"url_doc_frac", $"pii_doc_frac")
  }

  /** d37: hot n-grams — the corpus-wide over-represented-span census
    * that closes the n-gram family's loop: d30 reports eval
    * contamination, d32 the train rewrite, d37 answers "which exact
    * spans recur across the corpus AT ALL" — the memorization-risk /
    * boilerplate report whose rows are what a span-dedup pass (d28) or
    * a blocklist should target. Top-k n-grams by distinct-doc df
    * (df >= 2; ties broken on the fingerprint so the cut is total),
    * each with its text and smallest containing doc.
    *
    * Scale shape — two passes, both bounded: pass 1 ships only (md5,
    * doc_id) rows into a map-side-combinable df aggregate and a
    * TakeOrdered(k) — n-gram TEXT never enters the corpus-wide
    * shuffle. Pass 2 re-derives grams but joins them against the
    * BROADCAST k-row winner set — a map-side filter that forwards
    * ~k rows of text total. The broadcast side carries a GlobalLimit,
    * so the bound is structural, not statistical. */
  def hotNgrams(docs: DataFrame, n: Int = 8, k: Int = 100): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(n >= 1 && k >= 1,
      s"hotNgrams: n and k must be >= 1 (got $n, $k)")
    // both passes ride the compiled per-doc n-gram kernel (in-row
    // dedup): pass 1's (doc_id, fp) DISTINCT exchange is gone — the
    // explode emits already-distinct rows into the map-side-combinable
    // df aggregate; pass 2 explodes the distinct gram TEXT (df counts
    // documents, so within-doc repeats were never relevant)
    val top = docs
      .select($"doc_id",
        explode(expr(s"graft_ngram_fps(text, $n)")).as("fp"))
      .groupBy($"fp")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("example_doc"))
      .filter($"df" >= 2)
      .orderBy($"df".desc, $"fp").limit(k)
    val gramText = docs
      .select(explode(expr(s"graft_ngrams(text, $n)")).as("gram"))
      .withColumn("fp", md5($"gram"))
      .join(broadcast(top.select($"fp")), Seq("fp"))
      .groupBy($"fp").agg(min($"gram").as("gram")) // fp determines gram
    top.join(broadcast(gramText), Seq("fp"))
      .select($"gram", $"df", $"example_doc")
      .orderBy($"df".desc, $"gram")
  }

  /** The distinct per-doc n-gram fingerprint stream (doc_id [, carry],
    * fp) — ONE definition of the n-gram grain shared by the
    * decontamination family (d30/d32/d39 via [[splitNgramFps]]) and the
    * d47 duplicated-n-gram census, so "what is an n-gram" cannot
    * silently diverge between the operators that must agree on it. */
  private[graft] def ngramFps(docs: DataFrame, n: Int,
      carry: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    require(n >= 1, s"ngram pass: n must be >= 1 (got $n)")
    // One compiled pass per doc (graft_ngram_fps: tokenize → gram →
    // md5 → per-doc dedup, all in-row) — the interpreted HOF build +
    // corpus-wide (doc_id [, carry], fp) DISTINCT exchange it replaces
    // stays documented on the expression as the cross-engine reference
    // formula the oracle mirrors (spec-pinned bit-equal). Dedup is a
    // per-document property (carry columns are functions of the doc),
    // so the explode emits already-distinct rows and the shuffle that
    // did nothing but collapse within-doc repeats is GONE from every
    // operator on this grain. Input contract made explicit by the
    // removal: doc_id rows must be UNIQUE — the documents-table key
    // invariant every operator here assumes (d01/ingest dedup enforce
    // it upstream). The old corpus-wide DISTINCT incidentally absorbed
    // duplicated doc ROWS too; in-row dedup cannot, so a replayed/
    // unioned batch with repeated rows would inflate df counts — dedup
    // the frame first, as ingest does.
    docs.select((col("doc_id") +: carry) :+
      explode(expr(s"graft_ngram_fps(text, $n)")).as("fp"): _*)
  }

  /** The d30/d32 shared n-gram pass: per-doc DISTINCT word-n-gram md5
    * fingerprints with the d13 split riding the same projection (null
    * text refused loudly inside splitBucketCol). ONE definition so the
    * report (d30) and the remediation (d32) can never disagree on what
    * an n-gram is. Docs under n tokens emit no rows; the size guard
    * also keeps sequence() ascending (the sequence(1, 0) trap). */
  private[graft] def splitNgramFps(docs: DataFrame, n: Int): DataFrame =
    ngramFps(docs.withColumn("split", splitOfBucket(splitBucketCol)), n,
      Seq(col("split")))

  /** d47 — per-document duplicated-n-gram fraction at CORPUS grain: for
    * each doc, what fraction of its distinct n-grams also appears in at
    * least one OTHER document. The cross-document counterpart of d19's
    * within-doc repetition ratio, and the per-doc readout of d37's
    * corpus-wide hot-span census — the RefinedWeb/FineWeb-family
    * "dup_ngram_frac" signal a quality filter thresholds (a doc that is
    * mostly boilerplate shared with the rest of the crawl scores near
    * 1.0 even when each individual copy looks clean). `max_df` ties the
    * doc to its hottest span's document frequency.
    *
    * Scale shape: the corpus is fingerprinted ONCE at the shared
    * [[ngramFps]] grain (text collapses to md5 fps before any shuffle);
    * df is one fp-grain map-side-combinable aggregate; the join back is
    * fp-keyed between two fp tables (no text, no pair explosion — each
    * (doc, fp) row matches exactly its one df row). Linear in corpus
    * n-grams by necessity, like d30/d37 — every n-gram must be touched
    * once to know it is shared. Docs with fewer than n tokens carry no
    * n-gram and emit no row (the d30 convention). */
  def dupNgramStats(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // the fp pass feeds TWO consumers (the df aggregate and the join
    // back) — materialize it so the corpus is tokenized + digested
    // ONCE (the d41 lesson: unbarriered multi-consumer fp passes
    // re-run the whole corpus scan per consumer). The materialized
    // frame is the narrow (doc_id, fp) grain, text already dropped.
    // lazyCut (r19): both consumers run inside the query's one action —
    // the df aggregate's scan computes and caches the fp blocks, the
    // join-back reads them; the eager checkpoint paid a dedicated job
    // for the same partitions (block-level locks serialize any race on
    // a partition's first compute, so the sharing still holds).
    val grams = graft.Materialize.lazyCut(ngramFps(docs, n))
    val dfreq = grams.groupBy($"fp").agg(count(lit(1)).as("df"))
    grams.join(dfreq, Seq("fp"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when($"df" >= 2, lit(1L)).otherwise(lit(0L))).as("n_shared"),
        max($"df").as("max_df"))
      .withColumn("shared_frac",
        floor($"n_shared".cast("double") / $"n_ngrams" * 10000) / 10000.0)
      .select($"doc_id", $"n_ngrams", $"n_shared", $"shared_frac", $"max_df")
      .orderBy($"doc_id")
  }

  /** d53 — the winnowing seed (distinct from d13's split seed 7 and
    * d27's sample seed 13; the three hash families must not collide). */
  private[queries] val WinnowSeed = 17L

  /** d52 containment threshold: the overlap coefficient above which an
    * ordered pair is reported. Fixed like d06's 0.5 Jaccard bar — a
    * SEMANTIC constant (the oracle interpolates it), not a scale knob. */
  private[queries] val ContainThreshold = 0.8

  /** d52 — asymmetric n-gram containment pairs: ordered doc pairs
    * (doc_a < doc_b) whose n-gram overlap coefficient
    * |A ∩ B| / min(|A|, |B|) is ≥ [[ContainThreshold]] — the
    * quote/superset duplication a Jaccard-gated dedup (d06) is
    * STRUCTURALLY blind to: a 10-token passage fully contained in a
    * 10k-token page has Jaccard ≈ 0.001 (no LSH band ever collides),
    * yet its containment is 1.0. The signal RefinedWeb-family pipelines
    * act on as "exact substring / document-level containment" dedup.
    *
    * Candidate generation is RARE-FP BLOCKING, not MinHash banding
    * (banding estimates Jaccard, which is exactly the quantity that is
    * near zero here): a pair is nominated iff the two docs share at
    * least one n-gram fp with document frequency in [2, rareCap]
    * ([[QueryConf.containRareCap]]). A contained passage shares ALL its
    * fps with its container, so any pair with one non-boilerplate
    * shared gram is found; hot fps (df > cap) carry no pair identity —
    * the d16 MaxBandBucket argument — and docs ALL of whose shared fps
    * are hot are conceded to d47's boilerplate census. Verification is
    * exact and runs over the nominated pairs only.
    *
    * Scale shape: the corpus fingerprints ONCE at the shared
    * [[ngramFps]] grain (text never moves); the nominating self-join is
    * bounded by ≤ rareCap² rows per rare fp; the verify joins move
    * (pair, fp) rows — candidate pairs × doc fp-count, the volume the
    * blocking already bounded, never corpus². Input contract: run AFTER
    * exact dedup (d25) — heavy exact duplication lifts every fp's df
    * toward the cap and hides containment behind d01's output (at the
    * gate the planted exact copies are themselves the fixture's
    * contained pairs, at containment 1.0). Docs with fewer than n
    * tokens carry no fp and emit no pair (the d30 convention). */
  def containmentPairs(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val rareCap = QueryConf.containRareCap(s)
    // the fp pass feeds THREE consumers (sizes, df census, the verify
    // joins) — materialize it once (the d41/d47 lesson)
    // lazyCut (r19): the d47 argument — all consumers live inside the
    // query's one action and share the cached blocks either way
    val grams = graft.Materialize.lazyCut(ngramFps(docs, n))
    val sizes = grams.groupBy($"doc_id").agg(count(lit(1)).as("n_fps"))
    // nomination via ONE bounded bucket aggregate (r20 — the
    // cappedBuckets/bucketPairs shape at the rare-fp grain): the old
    // chain [df census → rare join-back (lazyCut) → fp self-join] paid
    // three more shuffle boundaries to produce pairs whose fp group is
    // bounded by rareCap ANYWAY. graft_bucket(doc_id, rareCap) keeps the
    // exact df plus the rareCap smallest member ids ascending — a
    // boilerplate fp (df ≫ rareCap, the very key the cap drops)
    // partial-aggregates into a ≤rareCap buffer on every map task
    // instead of fanning its full group through the join-back — and the
    // (doc_a < doc_b) pairs fall out of the sorted member arrays in-row
    // via two codegen explodes. Pair set identical: same [2, rareCap]
    // df filter, same i<j member combinations.
    val buckets = grams.groupBy($"fp")
      .agg(expr(
        s"${graft.functions.BucketAgg.functionName}(doc_id, $rareCap)").as("b"))
      .filter($"b.bucket_n" >= 2 && $"b.bucket_n" <= rareCap)
    val pairs = buckets
      .select($"b.members".as("ms"), posexplode($"b.members").as(Seq("i", "a")))
      .select($"a".as("doc_a"),
        explode(expr("slice(ms, i + 2, size(ms) - i - 1)")).as("doc_b"))
      .distinct()
    // exact intersection counts: fp-keyed equi-joins between fp tables
    // (inner join per (pair, fp) is an exact count — fps are distinct
    // within a doc by the ngramFps grain). The doc_a-first keying was
    // A/B'd against a probe-from-the-smaller-side rewrite (round 16,
    // SCALE.md "d52 verify-keying A/B"): in the broadcast regime the
    // candidate-pair frame rides a broadcast and the verify fan never
    // touches shuffle AT ALL in either keying (byte-identical at 1M
    // docs), with broadcasts force-disabled the small-side keying saves
    // only the fan term (−17% bytes on a 75×-asymmetric corpus), and on
    // the symmetric gate corpus it cost 2–4× WALL same-session — so the
    // simple keying ships and the measurement stands in SCALE.md.
    val nCommon = pairs
      .join(grams.select($"doc_id".as("doc_a"), $"fp"), Seq("doc_a"))
      .join(grams.select($"doc_id".as("doc_b"), $"fp"), Seq("doc_b", "fp"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_common"))
    nCommon
      .join(sizes.select($"doc_id".as("doc_a"), $"n_fps".as("n_a")), Seq("doc_a"))
      .join(sizes.select($"doc_id".as("doc_b"), $"n_fps".as("n_b")), Seq("doc_b"))
      .withColumn("containment",
        floor($"n_common".cast("double") / least($"n_a", $"n_b") * 10000)
          / 10000.0)
      .filter($"containment" >= ContainThreshold)
      .select($"doc_a", $"doc_b", $"n_a", $"n_b", $"n_common", $"containment")
      .orderBy($"doc_a", $"doc_b")
  }

  /** d53 — winnowing fingerprint selection (Schleimer et al. 2003) +
    * the d47 census at winnowed density: per doc, how many positional
    * n-grams it has, how many winnowing SELECTS (distinct window-min
    * positions over every w-gram window, rightmost-min rule), the
    * distinct selected fps, and — over the SELECTED index only — how
    * many of the doc's selected fps appear in ≥1 other doc plus the
    * hottest one's df. The point at 100 TB: the selected index stores
    * ~2/(w+1) of the corpus' fps yet still guarantees any shared run of
    * w + n − 1 tokens is caught — winnowing is how a lake-scale
    * substring-dup index stays affordable.
    *
    * The per-doc selection costs ZERO shuffle: one compiled pass per
    * row (native [[graft.functions.WinnowExpr]] — tokenize → gram
    * rolling-hashes → O(n) deque sliding-min → selected-md5 set; the
    * HOF chain documented there is the spec-pinned reference formula
    * the oracle mirrors with SQL windows). Only the distinct selected
    * (doc_id, fp) pairs ever leave the row, at winnowed density; df is
    * one map-side-combinable aggregate and the join back is fp-keyed
    * (the d47 shape, ~2/(w+1) the volume). Docs with fewer than n
    * tokens emit no row (d30); docs with 1..w−1 grams emit an all-zero
    * selection row (no full window exists). */
  def winnowStats(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = QueryConf.winnowWindow(s)
    val perDoc = docs
      .select($"doc_id",
        expr(s"graft_winnow(text, $n, $w, ${WinnowSeed}L)").as("wn"))
      .select($"doc_id", $"wn.n_grams".as("n_grams"),
        $"wn.n_sel".as("n_sel"), $"wn.sel_fps".as("sel_fps"))
      .filter($"n_grams" >= 1)
      .materialize() // feeds the census explode AND the final join
    val selFps = perDoc.select($"doc_id", explode($"sel_fps").as("fp"))
    val dfreq = selFps.groupBy($"fp").agg(count(lit(1)).as("df"))
    val census = selFps.join(dfreq, Seq("fp"))
      .groupBy($"doc_id")
      .agg(sum(when($"df" >= 2, lit(1L)).otherwise(lit(0L)))
          .as("n_shared_sel"),
        max($"df").as("max_df"))
    perDoc
      .withColumn("n_sel_fps", size($"sel_fps").cast("long"))
      .drop("sel_fps")
      .join(census, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams", $"n_sel", $"n_sel_fps",
        (floor($"n_sel".cast("double") / $"n_grams" * 10000) / 10000.0)
          .as("density"),
        coalesce($"n_shared_sel", lit(0L)).as("n_shared_sel"),
        coalesce($"max_df", lit(0L)).as("max_df"))
      .orderBy($"doc_id")
  }

  /** d53's persistable index artifact: one (doc_id, fp) row per
    * DISTINCT selected winnowed fingerprint — the signatureTable
    * convention at substring grain. Compute once per ingestion batch
    * and store next to the lake: at 100 TB the corpus is never
    * re-winnowed; each new batch winnows itself and probes this table
    * ([[winnowMatches]]). ~2/(w+1) the size of the full n-gram fp index
    * with the winnowing coverage guarantee intact. Contract: a probe
    * must use the same (n, `spark.graft.winnow.window`, seed) the
    * artifact was built with — selections at different parameters are
    * incomparable (the d24 artifact-compatibility rule; parameters are
    * deployment constants, pin them with the lake). Docs selecting
    * nothing (< w grams) have no rows — an index only answers for what
    * it indexed. */
  def winnowFpTable(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = QueryConf.winnowWindow(s)
    docs.select($"doc_id",
      explode(expr(s"graft_winnow(text, $n, $w, ${WinnowSeed}L).sel_fps"))
        .as("fp"))
  }

  /** The PERSISTED form of [[winnowFpTable]]: (doc_id, fp, df) with the
    * fp's document frequency stored IN the artifact — df is a property
    * of the index, so it is paid once at build time (one fp groupBy
    * joined back), not re-aggregated over the whole standing corpus on
    * every probe (which at 100 TB is a full artifact pass per ingest
    * batch). The `--winnowsigs` ingest sidecar writes this shape with
    * BATCH-LOCAL df; global df is restored by [[foldWinnowSignatures]]
    * (the read-side fold, and what `compact --winnowsigs` persists), the
    * same generational contract as the d36 span-signature artifact. */
  def winnowFpArtifact(docs: DataFrame, n: Int = 8): DataFrame =
    // materialized ONCE: the fold's df groupBy and its join-back both
    // read the winnowed rows — without the barrier the compiled winnow
    // pass runs twice (the bm25Index postings convention). The
    // read-side fold (compact over stored generations) deliberately
    // does NOT materialize: a double parquet scan beats caching a
    // standing artifact.
    //
    // lazyCut KEPT after the r20 re-measure (VERDICT r19 flagged the
    // driver's d54 0.84→1.09 as a possible lazy-cut regression): 4-round
    // same-JVM PerfAB lazy-vs-eager is a wash (med 0.89 vs 0.97 s),
    // steady-state Probe shows lazy = 8 jobs vs eager = 9 (the dedicated
    // checkpoint job) at identical shuffle (1.54 MB / 44,779 records) —
    // the driver row was contention, not the cut. The fold is nominally
    // two-consumer, but its fan-out (df groupBy + join-back probe) reads
    // the winnowed rows under ONE final action whose stages measured no
    // block-race penalty here, unlike the d48 feature table's
    // independent-stage fan-out (see Materialize.lazyCut's contract).
    foldWinnowSignatures(graft.Materialize.lazyCut(winnowFpTable(docs, n)))

  /** The winnow artifact's generation fold (the d36/d39 convention):
    * rows are distinct (doc_id, fp) under the unique-doc_id ingest
    * contract, so the fold is pure df recomputation — count rows per fp
    * across every generation read. ONE definition shared by the read
    * path and `compact --winnowsigs`, so compaction cannot disagree
    * with what readers compute.
    *
    * Shape (r17): a map-side-combinable fp groupBy count joined back
    * fp-keyed — NOT a `count().over(partitionBy(fp))` window: a
    * boilerplate fp has stopword-grade skew (the very fps
    * winnow.maxdf later drops), and the window form buffers that whole
    * group in one task before the df exists, while the groupBy counts
    * it map-side and the join-back splits under AQE (the bm25Index df
    * discipline). */
  def foldWinnowSignatures(fps: DataFrame): DataFrame = {
    val s = fps.sparkSession
    import s.implicits._
    val base = if (fps.columns.contains("df")) fps.drop("df") else fps
    val dfT = base.groupBy($"fp").agg(count(lit(1)).as("df"))
    base.join(dfT, Seq("fp"))
      .select(base.columns.map(col) :+ $"df": _*)
  }

  /** d54 — incremental substring-dup match: an INCOMING batch against a
    * standing [[winnowFpTable]] corpus artifact (the d16/d36 convention
    * at the winnowed-fp grain). Per batch doc with ≥1 selected fp in
    * common with the corpus: the best-matching corpus doc (most shared
    * selected fps, min doc_id tie) and the shared count — the candidate
    * stage a substring-dedup pipeline thresholds and then verifies
    * (d28/d06) on the NOMINATED pairs only. Winnowing's guarantee makes
    * the recall contract precise: any batch doc sharing a run of
    * w + n − 1 tokens with an indexed doc shares a selected fp, at an
    * index ~2/(w+1) the size of the full gram index.
    *
    * Scale shape: corpus text is never touched (the artifact IS the
    * corpus side); the batch winnows itself in one compiled pass; the
    * probe is one fp-keyed equi-join at winnowed density. Selected fps
    * hotter than `spark.graft.winnow.maxdf` corpus docs are dropped
    * whole before the probe — boilerplate carries no match identity,
    * only a quadratic fan-out (the d16 MaxBandBucket argument). The df
    * is READ from the artifact ([[winnowFpArtifact]]'s stored column —
    * a pushed-down filter, zero corpus-side aggregates in the probe
    * plan); generational artifacts restore global df via
    * [[foldWinnowSignatures]] at compact or read time, never per probe. */
  def winnowMatches(corpusFps: DataFrame, batch: DataFrame,
      n: Int = 8): DataFrame = {
    val s = corpusFps.sparkSession
    import s.implicits._
    require(corpusFps.columns.contains("df"),
      "winnowMatches probes the winnowFpArtifact shape (doc_id, fp, df) " +
        "— build the index with winnowFpArtifact / fold generations with " +
        "foldWinnowSignatures; a df-less (doc_id, fp) table would force " +
        "a full corpus-artifact aggregate on every probe")
    val maxDf = QueryConf.winnowMaxDf(s)
    val live = corpusFps.filter($"df" <= maxDf)
    val shared = winnowFpTable(batch, n)
      .join(live.select($"fp", $"doc_id".as("match_doc_id")), Seq("fp"))
      .groupBy($"doc_id", $"match_doc_id").agg(count(lit(1)).as("n_shared"))
    // best match per batch doc as a map-side-combinable max(struct)
    // aggregate (r20) — the d14/d34 argmax shape: (n_shared DESC,
    // match_doc_id ASC) in one struct comparison, partial-aggregated
    // map-side on the (doc_id, match_doc_id)-partitioned pair counts;
    // corpus ids non-negative so the negation cannot overflow
    shared.groupBy($"doc_id")
      .agg(max(struct($"n_shared", (-$"match_doc_id").as("neg"),
        $"match_doc_id".as("id"))).as("m"))
      .select($"doc_id", $"m.id".as("match_doc_id"),
        $"m.n_shared".as("n_shared"))
      .orderBy($"doc_id")
  }

  /** d55 marker sets — SEMANTIC constants (the oracle mirrors them via
    * chr() code points; changing one changes gate hashes):
    * mojibake = the cp1252-double-decode indicator chars (Â Ã â € ™ —
    * the bytes of a UTF-8-encoded accent/quote re-decoded as cp1252
    * always surface one of these); ctrl = C0 controls that survive into
    * crawl text and break tokenizers (BEL BS VT ESC — NUL excluded:
    * DuckDB varchar cannot carry it, and a NUL-bearing doc fails far
    * earlier than this census). */
  private[queries] val MojiMarkers =
    "\u00C2\u00C3\u00E2\u20AC\u2122" // Â Ã â € ™
  private[queries] val CtrlMarkers =
    "\u0007\u0008\u000B\u001B" // BEL BS VT ESC
  private[queries] val ReplacementChar = "\uFFFD"

  /** d55 — encoding-anomaly census (the ftfy-class curation signal): per
    * doc, the U+FFFD replacement-char count (a decoder already gave up),
    * the cp1252-mojibake marker-char count ([[MojiMarkers]] — a
    * heuristic single-char census, deliberately: the signal real
    * pipelines threshold is the FRACTION, and a clean accented text
    * ('café') contributes zero because é itself is not a marker), the
    * surviving-C0-control count, and the combined anomaly fraction at
    * the 1e-6 grain (the d19/d51 floor discipline). A doc that was
    * double-decoded scores moji_n ≈ one per non-ASCII char; a binary
    * blob misfiled as text scores repl_n/ctrl_n high — both are drop
    * rules a curation funnel applies before any token-grain work.
    *
    * Scale shape: three `translate` length-diffs in ONE codegen
    * projection — zero shuffle below the presentation sort, the d51
    * flat band. Counts are code-point exact on both engines (all
    * markers are BMP; Spark `length`/`translate` and DuckDB
    * `len`/`translate` both operate on code points — the
    * RollingHashExpr probe). */
  def encodingAnomaly(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    def cnt(markers: String) =
      (length($"text") - length(translate($"text", markers, ""))).cast("long")
    docs
      .select($"doc_id",
        length($"text").cast("long").as("n_chars"),
        cnt(ReplacementChar).as("repl_n"),
        cnt(MojiMarkers).as("moji_n"),
        cnt(CtrlMarkers).as("ctrl_n"))
      .withColumn("anomaly_frac",
        floor(($"repl_n" + $"moji_n" + $"ctrl_n").cast("double")
          / greatest($"n_chars", lit(1L)) * 1000000) / 1000000.0)
      .orderBy($"doc_id")
  }

  /** d49 as a reusable two-frame operator (the d46/s10 convention):
    * fit the add-one-smoothed unigram LM on `train`, score every `eval`
    * doc by average held-out log-probability + out-of-train token
    * fraction. Smoothing vocabulary = the UNION of both frames'
    * distinct terms, so out-of-train terms carry the 1/(n+V) floor
    * instead of -inf. Output: (doc_id, avg_logprob, n_tokens_doc,
    * oov_frac) over the eval side. Scale shape and the ln/DECIMAL
    * exactness discipline are d23's (term-keyed equi-joins, Heaps-
    * sublinear term tables, broadcast scalars, order-independent
    * DECIMAL sums, floor-scaled output). */
  def heldoutLogprob(train: DataFrame, eval: DataFrame): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    // materialize both term tables (the d46 lesson, measured there):
    // train feeds THREE consumers (term frequencies, the n_train
    // scalar, the union vocabulary) and eval two (vocabulary, the
    // score join) — without the barrier the corpus scan+tokenize
    // re-runs per consumer
    // in-row censuses (graft_term_counts, round 16) — the materialize
    // barrier still pays for the multi-consumer reads, but the frames
    // behind it are now shuffle-free projections
    val trainPd = graft.Materialize.lazyCut(termCounts(train.select($"doc_id", $"text")))
    val evalPd = graft.Materialize.lazyCut(termCounts(eval.select($"doc_id", $"text")))
    val tfTrain = trainPd.groupBy($"term").agg(sum($"c").as("tf_train"))
    val nTrain = trainPd.agg(coalesce(sum($"c"), lit(0L)).as("n_train"))
    val vocab = trainPd.select($"term").union(evalPd.select($"term"))
      .agg(countDistinct($"term").as("v"))
    evalPd
      .join(tfTrain, Seq("term"), "left")
      .crossJoin(broadcast(nTrain)).crossJoin(broadcast(vocab))
      .withColumn("lp", expr(
        """CAST(ln((coalesce(tf_train, 0) + 1)
             / CAST(n_train + v AS DOUBLE)) AS DECIMAL(20,15))
           * CAST(c AS DECIMAL(10,0))"""))
      .groupBy($"doc_id")
      .agg(
        (floor(sum($"lp").cast("double") / sum($"c") * 10000) / 10000.0)
          .as("avg_logprob"),
        sum($"c").as("n_tokens_doc"),
        (floor(sum(when($"tf_train".isNull, $"c").otherwise(lit(0L)))
          .cast("double") / sum($"c") * 10000) / 10000.0).as("oov_frac"))
      .orderBy($"doc_id")
  }

  /** d27's rebalancing rate table over a lang column: rate_bp =
    * floor(sqrt(c_min / c_lang) * 10000) basis points, one #langs-row
    * broadcastable frame. The formula lives HERE ONCE — shared by the
    * d27 sampler and the d31 funnel's sampling stage, whose rates are
    * computed over the funnel's SURVIVOR corpus (the pipeline runs
    * sampling after filtering/dedup, so the counts must be post-gate
    * counts, not raw-corpus counts). */
  private def temperatureRates(guarded: DataFrame): DataFrame = {
    val s = guarded.sparkSession
    import s.implicits._
    val langCounts = guarded.groupBy($"lang").agg(count(lit(1)).as("c"))
    val cMin = langCounts.agg(min($"c").as("c_min"))
    langCounts.crossJoin(broadcast(cMin))
      .withColumn("rate_bp",
        floor(sqrt($"c_min".cast("double") / $"c") * 10000).cast("long"))
      .select($"lang", $"rate_bp")
  }

  /** d31 curation funnel — the per-document disposition a curation
    * pipeline executes, stages in pipeline order with FIRST-DROP-WINS
    * attribution:
    *   1. quality gate (d09 composite < qualityMin → 'low_quality');
    *   2. language gate (d07 marker argmax = 'und' → 'unknown_lang');
    *   3. exact dedup AMONG SURVIVORS (non-canonical copy →
    *      'exact_dup'; canonical = min doc_id per md5(text) group —
    *      dedup runs on the filtered corpus, as a pipeline would);
    *   4. temperature sampling over the surviving corpus (d27 rates
    *      from post-gate language counts; losing the draw →
    *      'sampled_out');
    *   5. kept docs land in their d13 split — disposition IS the split
    *      ('train'/'val'/'test'), so one non-null column answers both
    *      "did this doc survive" and "where did it go".
    *
    * Near-dup dedup (d25) is deliberately NOT a funnel stage: its
    * MinHash estimate isn't ANSI-SQL-expressible, and this funnel is
    * the exactly-oracle-checkable spine; the `curate` CLI composes the
    * funnel's quality/language gates with the full d25 disposition for
    * the production path.
    *
    * Scale shape: stages 1/2 and the per-doc hash columns are ONE
    * codegen pass that immediately narrows to fixed-width columns —
    * text never shuffles. Stage 3 is a groupBy + join keyed on
    * md5(text) (the d01b discipline). Stage 4's rate table is a
    * #langs-row broadcast. The final select is base LEFT JOIN canon
    * (md5-keyed) LEFT JOIN broadcast(rates) — no corpus-wide window,
    * no pair expansion. The narrow base is re-derived per consumer
    * (scan-pruned; the d28/d30 trade) rather than checkpointed. */
  def curationFunnel(docs: DataFrame, qualityMin: Double = 0.5): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val guarded = docs.withColumn("lang",
      when($"lang".isNull, raise_error(lit(
        "curationFunnel: null lang — the corpus label drives stage-4 " +
          "rebalancing; assign or filter before curating")))
        .otherwise($"lang"))
    val base = withLangPred(withQuality(guarded))
      .withColumn("fp", md5($"text"))
      .withColumn("samp", sampleBucketCol)
      .withColumn("bucket", splitBucketCol)
      .select($"doc_id", $"lang", $"quality", $"pred_lang", $"fp",
        $"samp", $"bucket")
    val s12 = base.filter($"quality" >= qualityMin && $"pred_lang" =!= "und")
    val canon = s12.groupBy($"fp").agg(min($"doc_id").as("canon_id"))
    val survivors = s12.join(canon, Seq("fp"))
      .filter($"doc_id" === $"canon_id")
    val rates = temperatureRates(survivors)
    // CASE order = stage order, so the canon/rate columns are only
    // consulted for docs that reached their stage (they are non-null
    // exactly there: canon covers every stage-1/2 survivor's fp, rates
    // covers every surviving doc's lang)
    base.join(canon, Seq("fp"), "left")
      .join(broadcast(rates), Seq("lang"), "left")
      .withColumn("disposition",
        when($"quality" < qualityMin, "low_quality")
          .when($"pred_lang" === "und", "unknown_lang")
          .when($"doc_id" =!= $"canon_id", "exact_dup")
          .when($"samp" >= $"rate_bp", "sampled_out")
          .otherwise(splitOfBucket($"bucket")))
      .select($"doc_id", $"quality", $"pred_lang", $"disposition")
  }

  /** The production curation composition behind the `curate` CLI: the
    * d31 funnel's quality/language gates, then the FULL d25 disposition
    * (exact + MinHash near-dup with connected-component
    * canonicalization) over the survivors, then d27 temperature
    * sampling over the deduped corpus, then the d13 split. Differs from
    * [[curationFunnel]] — the exactly-oracle-checkable spine — in stage
    * 3 only: near-duplicates drop here too, so the disposition
    * vocabulary gains 'near_dup'. Stage semantics, null-lang refusal,
    * and the survivor-derived sampling rates are the funnel's; the
    * dedup stage inherits dedupApply's loud contract checks (duplicate
    * doc_id, null id/text, non-integral id). */
  def curateDispositions(docs: DataFrame,
      qualityMin: Double = 0.5, bestCanonical: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val guarded = docs.withColumn("lang",
      when($"lang".isNull, raise_error(lit(
        "curate: null lang — the corpus label drives rebalancing; " +
          "assign (d07) or filter before curating")))
        .otherwise($"lang"))
    val base = withLangPred(withQuality(guarded))
      .withColumn("samp", sampleBucketCol)
      .withColumn("bucket", splitBucketCol)
      .select($"doc_id", $"lang", $"text", $"quality", $"pred_lang",
        $"samp", $"bucket")
    val s12 = base.filter($"quality" >= qualityMin && $"pred_lang" =!= "und")
    // checkpoint-backed (dedupApply/dedupBest): the disposition
    // pipeline runs once, not once per downstream consumer.
    // bestCanonical = the d34 policy — each content cluster keeps its
    // highest-quality member instead of the oldest; the drop reason
    // then reads 'dup' (d34's vocabulary) rather than
    // exact_dup/near_dup
    val dedup =
      if (bestCanonical) DedupQueries.dedupBest(s12.select($"doc_id", $"text"))
      else DedupQueries.dedupApply(s12.select($"doc_id", $"text"))
    val survivors = s12.join(
      dedup.filter($"status" === "kept").select($"doc_id"), Seq("doc_id"))
    val rates = temperatureRates(survivors)
    base
      .join(dedup.select($"doc_id", $"status"), Seq("doc_id"), "left")
      .join(broadcast(rates), Seq("lang"), "left")
      .withColumn("disposition",
        when($"quality" < qualityMin, "low_quality")
          .when($"pred_lang" === "und", "unknown_lang")
          .when($"status" =!= "kept", $"status")
          .when($"samp" >= $"rate_bp", "sampled_out")
          .otherwise(splitOfBucket($"bucket")))
      .select($"doc_id", $"quality", $"pred_lang", $"disposition")
  }

  /** d38: mixing epochs — the UPSAMPLING dual of d27's drop-sampling.
    * d27 rebalances by dropping from hot languages; a mixing step
    * (Pile-style dataset weights) instead REPEATS documents so every
    * language contributes its target share — here the uniform share
    * 1/n_langs, derived from the data (no literal lang list to rot).
    * Per doc: n_copies = base epochs + a fractional-epoch draw, so
    * summed copies per language land within one rounding step of
    * total/n_langs.
    *
    * Everything is INTEGER-exact: epochs_bp = (total * 10000) DIV
    * (n_langs * c_lang) basis points (10000 = one epoch; rare
    * languages exceed it, hot ones fall below), n_copies = epochs_bp
    * DIV 10000 plus one iff the seed-13 content-hash bucket falls
    * under epochs_bp % 10000 — the same deterministic draw d27 uses,
    * so the fractional epoch is stable across runs and engines with no
    * float division anywhere. Scale shape: one #langs-row aggregate
    * crossed with a broadcast scalar (total, n_langs), joined back
    * broadcast; one linear codegen pass for the draw. Null lang
    * refused loudly (the d27 discipline). */
  def mixEpochs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val guarded = docs.withColumn("lang",
      when($"lang".isNull, raise_error(lit(
        "mixEpochs: null lang — assign a language (d07 lang ID) or " +
          "filter unknown-language docs before mixing")))
        .otherwise($"lang"))
    val langCounts = guarded.groupBy($"lang").agg(count(lit(1)).as("c"))
    val totals = langCounts.agg(sum($"c").as("total"),
      count(lit(1)).as("n_langs"))
    val rates = langCounts.crossJoin(broadcast(totals))
      .withColumn("epochs_bp",
        expr("(total * 10000) DIV (n_langs * c)"))
      .select($"lang", $"epochs_bp")
    guarded
      .withColumn("samp", sampleBucketCol)
      .join(broadcast(rates), Seq("lang"))
      .withColumn("n_copies",
        expr("epochs_bp DIV 10000") +
          when($"samp" < expr("epochs_bp % 10000"), 1L).otherwise(0L))
      .select($"doc_id", $"lang", $"epochs_bp", $"n_copies")
  }

  /** d27 as a reusable operator over any (doc_id, lang, text) frame —
    * see the gate-query comment for semantics and the scale shape. */
  def temperatureSample(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // refuse NULL lang loudly, inside the count pass (raise_error —
    // distributed, no extra driver action): a single null-lang row would
    // otherwise form its own c=1 group, become c_min, and crush every
    // real language's keep rate (sqrt(1/c_l)) — while the row itself
    // vanished at the equi-join with no decision. Run language ID (d07)
    // or filter unknowns before rebalancing.
    val guarded = docs.withColumn("lang",
      when($"lang".isNull, raise_error(lit(
        "temperatureSample: null lang — assign a language (d07 lang ID) " +
          "or filter unknown-language docs before rebalancing")))
        .otherwise($"lang"))
    val rates = temperatureRates(guarded)
    guarded
      .withColumn("samp", sampleBucketCol)
      .join(broadcast(rates), Seq("lang"))
      .select($"doc_id", $"lang", $"rate_bp",
        when($"samp" < $"rate_bp", "kept").otherwise("dropped")
          .as("decision"))
  }

  /** d21's URL-domain extraction pattern, group 1 = the host — RE2-safe,
    * shared verbatim with the oracle. */
  val UrlDomainPattern = "https?://([A-Za-z0-9.-]+)"

  /** d20's redaction patterns — RE2-compatible (shared verbatim with the
    * DuckDB oracle, which compiles them under RE2). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** d20 as a reusable operator over any (doc_id, text) frame: redact
    * emails/IPv4s and count the redactions PERFORMED (replace-length
    * identity, differenced across each stage — occurrences of a literal
    * '[EMAIL]'/'[IP]' already present in the input cancel out instead of
    * inflating the counts; real crawl text does contain such literals,
    * e.g. scraped docs about redaction). One codegen projection, zero
    * shuffle. */
  def scrubPii(docs: DataFrame): DataFrame =
    docs
      .withColumn("s1", regexp_replace(col("text"), EmailPattern, "[EMAIL]"))
      .withColumn("scrubbed", regexp_replace(col("s1"), Ipv4Pattern, "[IP]"))
      .withColumn("n_emails", expr(
        """CAST(((length(s1) - length(replace(s1, '[EMAIL]', '')))
           - (length(text) - length(replace(text, '[EMAIL]', '')))) / 7 AS BIGINT)"""))
      .withColumn("n_ips", expr(
        """CAST(((length(scrubbed) - length(replace(scrubbed, '[IP]', '')))
           - (length(s1) - length(replace(s1, '[IP]', '')))) / 4 AS BIGINT)"""))
      .select(col("doc_id"), col("scrubbed"), col("n_emails"), col("n_ips"))

  /** The d29/d29b oracles' shared CTE chain, generated: the relational
    * form of the [[bpeMerges]] rounds, kept as the independent
    * reference. w = word frequencies, v0 = char-split symbol strings,
    * then k rounds of (s u p b v): round i reads v{i-1}, counts adjacent
    * pairs (u/p), picks the argmax (b) and rewrites the vocab (v),
    * carrying `term` through so the final vocab doubles as the d29b
    * tokenization lookup. Each symbol rides as chr(31) sym chr(30)
    * (ASCII unit/record separators, which cannot occur in
    * whitespace-split words), so merging (l, r) is a plain replace() of
    * the wrapped pair: its left-to-right non-overlapping semantics are
    * BPE's greedy pass, and a merged symbol is never half-matched by a
    * later pattern. */
  private def bpeOracleCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""s$i AS (SELECT c, string_split(substr(seq, 2, length(seq) - 2),
               chr(30) || chr(31)) AS sa FROM v${i - 1}),
         u$i AS (SELECT c, sa, unnest(range(1, len(sa))) AS j FROM s$i),
         p$i AS (SELECT sa[j] AS lhs, sa[j + 1] AS rhs,
               CAST(sum(c) AS BIGINT) AS pair_count
             FROM u$i GROUP BY 1, 2),
         b$i AS (SELECT lhs, rhs, pair_count FROM p$i
             ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         v$i AS (SELECT term, c,
               replace(seq, chr(31) || lhs || chr(30) || chr(31) || rhs || chr(30),
                 chr(31) || lhs || rhs || chr(30)) AS seq
             FROM v${i - 1}, b$i)"""
    }.mkString(",\n         ")
    s"""WITH w AS (
           SELECT term, count(*) AS c FROM (
             SELECT unnest(string_split(text, ' ')) AS term
             FROM documents) t
           WHERE term <> '' GROUP BY term),
         v0 AS (
           SELECT term, c, chr(31) || array_to_string(
               list_transform(range(1, length(term) + 1),
                 i -> substr(term, i, 1)), chr(30) || chr(31)) || chr(30)
             AS seq
           FROM w),
         $rounds"""
  }

  private def bpeOracleSql(k: Int): String = {
    val sel = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, lhs, rhs, " +
        s"lhs || rhs AS merged, pair_count FROM b$i")
      .mkString("\n         UNION ALL ")
    s"""${bpeOracleCtes(k)},
         m AS ($sel)
         SELECT * FROM m ORDER BY merge_rank"""
  }

  /** d29b: tokenize via the final vocab — symbol count per word from
    * the trained seq, summed per doc over the same term stream. */
  private def bpeTokenizeOracleSql(k: Int): String =
    s"""${bpeOracleCtes(k)},
         L AS (
           SELECT term,
             CAST(len(string_split(substr(seq, 2, length(seq) - 2),
               chr(30) || chr(31))) AS BIGINT) AS n_sym
           FROM v$k),
         t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         t2 AS (SELECT doc_id, term FROM t WHERE term <> '')
         SELECT doc_id, count(*) AS n_words,
           CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
         FROM t2 JOIN L USING (term)
         GROUP BY doc_id ORDER BY doc_id"""

  /** The d09 quality formula's DuckDB text — the oracle-side
    * counterpart of [[withQuality]], shared by every oracle embedding
    * it (d09, d31, d33, d34) so the formula exists exactly twice in
    * the repo: once per engine. */
  private[queries] val duckQualityCols: String =
    """CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             round((len(text) - len(string_split(text, ' ')) + 1)
                   / len(string_split(text, ' ')), 4) AS avg_tok_len,
             round(len(list_filter(string_split(text, ' '),
                     t -> t IN ('the', 'a')))
                   / len(string_split(text, ' ')), 4) AS stop_ratio"""

  private[queries] val duckQualityExpr: String =
    """round(0.4 * least(n_tok / 100.0, 1.0) +
                 0.3 * (1.0 - abs(avg_tok_len - 4.5) / 4.5) +
                 0.3 * least(stop_ratio * 10.0, 1.0), 4)"""

  /** The d30/d32 shared n-gram CTE text (tk/ng) — the oracle-side
    * counterpart of [[splitNgramFps]]. */
  private val duckNgramFps: String =
    """tk AS (
            SELECT doc_id,
              list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents),
          ng AS (
            SELECT DISTINCT doc_id,
              md5(array_to_string(toks[i:i+7], ' ')) AS fp
            FROM (
              SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
              FROM tk WHERE len(toks) >= 8))"""

  /** The d56 CTE chain up to the ranked scores (`r`) — shared verbatim
    * by the d56/d58 oracle and d59's lexical half so the three gates
    * cannot drift on what a BM25 rank is. `k` applies only in the
    * consumer's final WHERE. */
  private def d56OracleCtes: String =
    s"""$duckSplits,
         tr AS (
           SELECT d.doc_id, d.text FROM documents d
           JOIN splits s ON s.doc_id = d.doc_id AND s.split = 'train'),
         q AS (
           SELECT d.doc_id AS query_id,
             list_filter(string_split(d.text, ' '), t -> t <> '')[1:5]
               AS qtoks
           FROM documents d
           JOIN splits s ON s.doc_id = d.doc_id AND s.split = 'test'
           ORDER BY d.doc_id LIMIT 50),
         qt AS (
           SELECT DISTINCT query_id, t AS term
           FROM (SELECT query_id, unnest(qtoks) AS t FROM q)
           WHERE t <> ''),
         ts AS (SELECT DISTINCT term FROM qt),
         tk AS (
           SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS dl,
             unnest(string_split(text, ' ')) AS term
           FROM tr),
         tf AS (
           SELECT doc_id, CAST(dl AS BIGINT) AS dl, term,
             count(*) AS tf
           FROM tk WHERE term <> '' GROUP BY 1, 2, 3),
         h0 AS (SELECT tf.* FROM tf JOIN ts USING (term)),
         dfq AS (SELECT term, count(*) AS df FROM h0 GROUP BY 1),
         st AS (
           SELECT count(*) AS n_docs,
             coalesce(sum(
               len(list_filter(string_split(text, ' '), t -> t <> ''))),
               0) AS sum_dl
           FROM tr),
         sc AS (
           SELECT qt.query_id, h0.doc_id,
             CAST(floor(
               ln(CAST(1.0 AS DOUBLE)
                  + (st.n_docs - dfq.df + CAST(0.5 AS DOUBLE))
                    / (dfq.df + CAST(0.5 AS DOUBLE)))
               * (h0.tf * CAST(2.2 AS DOUBLE)
                  / (h0.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * h0.dl
                          / (CAST(st.sum_dl AS DOUBLE) / st.n_docs))))
               * 1000000) AS BIGINT) AS sq
           FROM h0 JOIN dfq USING (term) JOIN qt USING (term), st),
         agg AS (
           SELECT query_id, doc_id, sum(sq) AS sq
           FROM sc GROUP BY 1, 2),
         r AS (
           SELECT query_id, doc_id, sq,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY sq DESC, doc_id) AS BIGINT) AS rk
           FROM agg)"""

  /** d56 oracle generator at an explicit top-k: the full BM25 replay —
    * split CTE, probe derivation (50 lowest-id test docs, first-5-token
    * probes), the shared token grain, the fixed-point micro-score
    * terms. EVERY fractional literal is CAST(… AS DOUBLE) — a bare
    * DuckDB `2.2` is DECIMAL(2,1), and DECIMAL·BIGINT is exact-decimal
    * arithmetic that rounds to double DIFFERENTLY than the engine's
    * double·long (6.6 vs 2.2·3 differ in the last ulp). The gate entry
    * is this at [[QueryConf.DefaultBm25TopK]]; ConfReplay dumps other
    * operating points through the same text. */
  def d56OracleSqlAt(k: Int): String =
    s"""WITH $d56OracleCtes
         SELECT query_id, rk, doc_id, CAST(sq AS BIGINT) / 1000000.0 AS score
         FROM r WHERE rk <= $k ORDER BY query_id, rk"""

  /** d59 oracle generator: the d56 lexical CTEs + a brute-force cosine
    * semantic half over the train-split embeddings (vec_id = doc_id,
    * the gate's id rule), fused by exact-integer reciprocal-rank
    * contributions `1e12 // (60 + rk)` summed per (query, doc) — the
    * [[rrfFuse]] fixed-point discipline, so no float summation order
    * can diverge between engines. */
  def d59OracleSqlAt(k: Int): String =
    s"""WITH $d56OracleCtes,
         lex AS (SELECT query_id, doc_id, rk FROM r WHERE rk <= $k),
         em AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         en AS (
           SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM em),
         qe AS (
           SELECT q.query_id, en.v AS qv, en.nrm AS qn
           FROM q JOIN en ON en.vec_id = q.query_id),
         ce AS (
           SELECT en.vec_id AS doc_id, en.v, en.nrm
           FROM en JOIN splits s
             ON s.doc_id = en.vec_id AND s.split = 'train'),
         sp AS (
           SELECT qe.query_id, ce.doc_id,
             round(list_dot_product(qe.qv, ce.v) / (qe.qn * ce.nrm), 4)
               AS cos_sim
           FROM qe, ce),
         sr AS (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS rk
           FROM sp),
         sem AS (SELECT query_id, doc_id, rk FROM sr WHERE rk <= $k),
         u AS (
           SELECT query_id, doc_id, 1000000000000 // (60 + rk) AS c
           FROM lex
           UNION ALL
           SELECT query_id, doc_id, 1000000000000 // (60 + rk) AS c
           FROM sem),
         g AS (
           SELECT query_id, doc_id, sum(c) AS rrf_q
           FROM u GROUP BY 1, 2),
         fr AS (
           SELECT query_id, doc_id, rrf_q,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rk
           FROM g)
         SELECT query_id, rk, doc_id,
           CAST(rrf_q AS BIGINT) / 1000000000000.0 AS rrf
         FROM fr WHERE rk <= $k ORDER BY query_id, rk"""

  /** d52 oracle generator at an explicit rareCap: rare-fp blocking (df
    * in [2, rareCap] nominates) + exact overlap-coefficient
    * verification over the d47 n-gram fp grain. The gate entry is this
    * at [[QueryConf.DefaultContainRareCap]]; ConfReplay dumps other
    * operating points through the same text. */
  def d52OracleSqlAt(rareCap: Int): String =
    s"""WITH $duckNgramFps,
         sizes AS (SELECT doc_id, count(*) AS n_fps FROM ng GROUP BY doc_id),
         dfreq AS (SELECT fp, count(*) AS df FROM ng GROUP BY fp),
         rare AS (SELECT fp FROM dfreq
                  WHERE df >= 2 AND df <= $rareCap),
         rg AS (SELECT doc_id, fp FROM ng JOIN rare USING (fp)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM rg a JOIN rg b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         ncommon AS (
           SELECT p.doc_a, p.doc_b, count(*) AS n_common
           FROM pairs p
             JOIN ng ga ON ga.doc_id = p.doc_a
             JOIN ng gb ON gb.doc_id = p.doc_b AND gb.fp = ga.fp
           GROUP BY p.doc_a, p.doc_b)
         SELECT nc.doc_a, nc.doc_b,
           sa.n_fps AS n_a, sb.n_fps AS n_b, nc.n_common,
           floor(CAST(nc.n_common AS DOUBLE)
             / least(sa.n_fps, sb.n_fps) * 10000) / 10000 AS containment
         FROM ncommon nc
           JOIN sizes sa ON sa.doc_id = nc.doc_a
           JOIN sizes sb ON sb.doc_id = nc.doc_b
         WHERE floor(CAST(nc.n_common AS DOUBLE)
             / least(sa.n_fps, sb.n_fps) * 10000) / 10000 >= $ContainThreshold
         ORDER BY doc_a, doc_b"""

  /** The d53/d54 shared winnow-selection CTE chain at window `w`:
    * positional token 8-grams (NOT the distinct ng grain), the d13
    * rolling hash per gram string, the key = h*2^31 + (2^31-1-pos)
    * rightmost-min encoding, window mins via SQL windows over FULL
    * windows only; `sf` = the distinct selected (doc_id, fp) set —
    * the oracle-side counterpart of [[winnowFpTable]]. ONE definition:
    * the census and the incremental matcher must agree on what "the
    * selection" is. */
  private def duckWinnowSelCtes(w: Int): String =
    s"""tkp AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         gp AS (
           SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+7], ' ') AS gram
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
                 FROM tkp WHERE len(toks) >= 8)),
         kp AS (
           SELECT doc_id, pos, md5(gram) AS fp,
             list_reduce(
               list_prepend(CAST($WinnowSeed AS BIGINT),
                 list_transform(range(1, len(gram) + 1),
                   i -> CAST(ascii(substr(gram, i, 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % ${graft.operators.TextHash.P})
               * 2147483648 + 2147483647 - pos AS key
           FROM gp),
         wm AS (
           SELECT doc_id, pos,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN ${w - 1} PRECEDING
               AND CURRENT ROW) AS wkey
           FROM kp),
         sel AS (SELECT DISTINCT doc_id, wkey AS key FROM wm
                 WHERE pos >= ${w - 1}),
         sf AS (SELECT DISTINCT k.doc_id, k.fp
                FROM kp k JOIN sel s ON s.doc_id = k.doc_id AND s.key = k.key)"""

  /** d53 oracle generator at an explicit window (see
    * [[duckWinnowSelCtes]]). The gate entry is this at
    * [[QueryConf.DefaultWinnowWindow]]. */
  def d53OracleSqlAt(w: Int): String =
    s"""WITH ${duckWinnowSelCtes(w)},
         stats AS (SELECT doc_id, count(*) AS n_grams FROM gp GROUP BY doc_id),
         nsel AS (SELECT doc_id, count(*) AS n_sel FROM sel GROUP BY doc_id),
         dfq AS (SELECT fp, count(*) AS df FROM sf GROUP BY fp),
         cen AS (SELECT doc_id, count(*) AS n_sel_fps,
             sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_shared_sel,
             max(df) AS max_df
           FROM sf JOIN dfq USING (fp) GROUP BY doc_id)
         SELECT st.doc_id, st.n_grams,
           CAST(COALESCE(ns.n_sel, 0) AS BIGINT) AS n_sel,
           CAST(COALESCE(cn.n_sel_fps, 0) AS BIGINT) AS n_sel_fps,
           floor(CAST(COALESCE(ns.n_sel, 0) AS DOUBLE)
             / st.n_grams * 10000) / 10000 AS density,
           CAST(COALESCE(cn.n_shared_sel, 0) AS BIGINT) AS n_shared_sel,
           CAST(COALESCE(cn.max_df, 0) AS BIGINT) AS max_df
         FROM stats st
           LEFT JOIN nsel ns USING (doc_id)
           LEFT JOIN cen cn USING (doc_id)
         ORDER BY doc_id"""

  /** d54 oracle generator at an explicit (window, maxDf): the gate's
    * even/odd corpus/batch split (the d36/d44 convention) replayed over
    * the shared winnow selection — df cap on the corpus side, fp-join,
    * best match per batch doc by (n_shared desc, doc_id). */
  def d54OracleSqlAt(w: Int, maxDf: Int): String =
    s"""WITH ${duckWinnowSelCtes(w)},
         corp AS (SELECT doc_id, fp FROM sf WHERE doc_id % 2 = 0),
         bat AS (SELECT doc_id, fp FROM sf WHERE doc_id % 2 = 1),
         dfs AS (SELECT fp, count(*) AS df FROM corp GROUP BY fp),
         live AS (SELECT c.doc_id, c.fp FROM corp c
                  JOIN dfs USING (fp) WHERE df <= $maxDf),
         shared AS (
           SELECT b.doc_id, l.doc_id AS match_doc_id, count(*) AS n_shared
           FROM bat b JOIN live l ON l.fp = b.fp
           GROUP BY b.doc_id, l.doc_id),
         rk AS (
           SELECT doc_id, match_doc_id, n_shared,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY n_shared DESC, match_doc_id) AS rn
           FROM shared)
         SELECT doc_id, match_doc_id, CAST(n_shared AS BIGINT) AS n_shared
         FROM rk WHERE rn = 1 ORDER BY doc_id"""

  /** The d28/d36 shared augmentation CTE text — the oracle-side
    * counterpart of [[augmentedParas]]. */
  private val duckAugmented: String =
    """a AS (
           SELECT doc_id,
             text || ' | repeated passage ' || CAST(doc_id // 2 AS VARCHAR)
               || ' shared across a pair of documents'
               || ' | chapter header ' || CAST(doc_id % 25 AS VARCHAR)
               || ' common recurring block'
               || ' | repeated passage ' || CAST(doc_id // 2 AS VARCHAR)
               || ' shared across a pair of documents' AS augmented
           FROM documents)"""

  val oracleSql: ListMap[String, String] = ListMap(
    "d01_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY doc_id""",
    "d05_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
         CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    "d08_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",
    "d07_lang_id" ->
      """WITH scored AS (
           SELECT lang,
             CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) AS BIGINT) AS en_n,
             CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'und'))) AS BIGINT) AS de_n,
             CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'et'))) AS BIGINT) AS fr_n
           FROM documents)
         SELECT lang,
           CASE WHEN en_n >= greatest(de_n, fr_n) AND en_n > 0 THEN 'en'
                WHEN de_n >= fr_n AND de_n > 0 THEN 'de'
                WHEN fr_n > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang,
           count(*) AS n_docs, CAST(sum(en_n) AS BIGINT) AS en_hits
         FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""",
    "d09_quality_score" ->
      s"""WITH base AS (
           SELECT doc_id, $duckQualityCols
           FROM documents)
         SELECT doc_id, n_tok, avg_tok_len, stop_ratio,
           $duckQualityExpr AS quality
         FROM base ORDER BY doc_id""",
    "d12_normalize" ->
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
           ' +', ' ', 'g')) AS norm,
         CAST(length(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars,
         md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_fp
         FROM documents ORDER BY doc_id""",
    "d13_split_assign" ->
      s"""WITH $duckSplits
          SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, split
          FROM splits ORDER BY doc_id""",
    "d15_stratified_sample" ->
      """SELECT lang, rk, doc_id FROM (
           SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY md5(text), doc_id) AS BIGINT) AS rk
           FROM documents)
         WHERE rk <= 5 ORDER BY lang, rk""",
    "d18_vocab_topk" ->
      """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents)
         SELECT term, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
         FROM terms WHERE term <> ''
         GROUP BY term ORDER BY n_occ DESC, term LIMIT 100""",
    "d17_tfidf_keywords" ->
      """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         t2 AS (SELECT doc_id, term FROM terms WHERE term <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM t2 GROUP BY doc_id, term),
         df AS (SELECT term, count(DISTINCT doc_id) AS df
                FROM t2 GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term,
             floor(tf * ln((n_docs + 1.0) / (df + 1.0)) * 10000) / 10000 AS score
           FROM tf JOIN df USING (term), n),
         r AS (
           SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term) AS BIGINT) AS rk
           FROM scored)
         SELECT doc_id, rk, term, score FROM r WHERE rk <= 3
         ORDER BY doc_id, rk""",
    "d10_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe,
         CAST(list_sum(list_transform(string_split(text, ' '),
              t -> CAST(ceil(len(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_chunks
         FROM documents ORDER BY doc_id""",
    // d20: same augmentation, patterns, and replace-length counts; DuckDB
    // regexp_replace needs the explicit 'g' flag (Spark replaces all by
    // default)
    "d20_pii_scrub" ->
      s"""WITH a AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
               '@example.com or 10.' || CAST(doc_id % 256 AS VARCHAR) ||
               '.0.1 today' AS augmented
           FROM documents),
         s AS (
           SELECT doc_id, augmented,
             regexp_replace(augmented, '$EmailPattern', '[EMAIL]', 'g') AS s1
           FROM a),
         s2 AS (
           SELECT doc_id, augmented, s1,
             regexp_replace(s1, '$Ipv4Pattern', '[IP]', 'g') AS scrubbed
           FROM s)
         SELECT doc_id, scrubbed,
           CAST(((length(s1) - length(replace(s1, '[EMAIL]', '')))
             - (length(augmented) - length(replace(augmented, '[EMAIL]', '')))) / 7 AS BIGINT) AS n_emails,
           CAST(((length(scrubbed) - length(replace(scrubbed, '[IP]', '')))
             - (length(s1) - length(replace(s1, '[IP]', '')))) / 4 AS BIGINT) AS n_ips
         FROM s2 ORDER BY doc_id""",
    // d21: same augmentation and extraction pattern; group-1 extraction
    // (the host) in both dialects
    "d21_url_domains" ->
      s"""WITH a AS (
           SELECT doc_id,
             text || ' see https://site' || CAST(doc_id % 20 AS VARCHAR) ||
               '.example.org/p/' || CAST(doc_id AS VARCHAR) ||
               ' and http://cdn.example.net/asset' ||
               CAST(doc_id % 7 AS VARCHAR) AS augmented
           FROM documents),
         u AS (
           SELECT doc_id,
             unnest(regexp_extract_all(augmented, '$UrlDomainPattern', 1))
               AS domain
           FROM a)
         SELECT domain, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
         FROM u GROUP BY domain ORDER BY n_occ DESC, domain""",
    // d22: parallel unnests zip in DuckDB, giving (pos, seg); string_agg
    // with ORDER BY + FILTER reconstructs the kept segments in order
    "d22_boilerplate" ->
      """WITH a AS (
           SELECT doc_id,
             text || ' | subscribe to the newsletter today | visit site' ||
               CAST(doc_id % 20 AS VARCHAR) || '.example.org' AS augmented
           FROM documents),
         s AS (SELECT doc_id, string_split(augmented, ' | ') AS segs FROM a),
         u AS (
           SELECT doc_id,
             unnest(range(1, len(segs) + 1)) AS pos,
             unnest(segs) AS seg
           FROM s),
         d AS (SELECT seg, count(DISTINCT doc_id) AS df FROM u GROUP BY seg),
         n AS (SELECT count(*) AS n_docs FROM documents),
         f AS (
           SELECT u.doc_id, u.pos, u.seg, (d.df * 2 > n.n_docs) AS is_bp
           FROM u JOIN d USING (seg), n)
         SELECT doc_id,
           coalesce(string_agg(seg, ' | ' ORDER BY pos)
             FILTER (WHERE NOT is_bp), '') AS cleaned,
           CAST(coalesce(sum(CASE WHEN is_bp THEN 1 END), 0) AS BIGINT)
             AS n_removed
         FROM f GROUP BY doc_id ORDER BY doc_id""",
    // d23: identical ln()/DECIMAL(30,15) accumulation; floor is
    // toward -inf in both dialects, exact on the negative log-probs
    "d23_unigram_logprob" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         t2 AS (SELECT doc_id, term FROM t WHERE term <> ''),
         pd AS (SELECT doc_id, term, count(*) AS c
                FROM t2 GROUP BY doc_id, term),
         tf AS (SELECT term, sum(c) AS tf FROM pd GROUP BY term),
         n AS (SELECT sum(c) AS n_tokens FROM pd)
         SELECT doc_id,
           floor(CAST(sum(CAST(ln(tf / CAST(n_tokens AS DOUBLE))
               AS DECIMAL(20,15)) * CAST(c AS DECIMAL(10,0))) AS DOUBLE)
             / sum(c) * 10000) / 10000 AS avg_logprob,
           CAST(sum(c) AS BIGINT) AS n_tokens_doc
         FROM pd JOIN tf USING (term), n
         GROUP BY doc_id ORDER BY doc_id""",
    // d49: the d23 recipe with the model fit on the train split only;
    // LEFT JOIN + coalesce gives unseen terms the smoothing floor
    "d49_heldout_logprob" ->
      s"""WITH $duckSplits,
         t AS (
           SELECT d.doc_id, s.split,
             unnest(string_split(d.text, ' ')) AS term
           FROM documents d JOIN splits s USING (doc_id)),
         t2 AS (SELECT doc_id, split, term FROM t WHERE term <> ''),
         pd AS (SELECT doc_id, split, term, count(*) AS c
                FROM t2 GROUP BY doc_id, split, term),
         tf AS (SELECT term, sum(c) AS tf_train FROM pd
                WHERE split = 'train' GROUP BY term),
         n AS (SELECT coalesce(sum(c), 0) AS n_train FROM pd
               WHERE split = 'train'),
         v AS (SELECT count(DISTINCT term) AS v FROM pd)
         SELECT doc_id, split,
           floor(CAST(sum(CAST(ln((coalesce(tf_train, 0) + 1)
               / CAST(n_train + v AS DOUBLE)) AS DECIMAL(20,15))
               * CAST(c AS DECIMAL(10,0))) AS DOUBLE)
             / sum(c) * 10000) / 10000 AS avg_logprob,
           CAST(sum(c) AS BIGINT) AS n_tokens_doc,
           floor(CAST(sum(CASE WHEN tf_train IS NULL THEN c ELSE 0 END)
               AS DOUBLE) / sum(c) * 10000) / 10000 AS oov_frac
         FROM pd LEFT JOIN tf USING (term), n, v
         WHERE split <> 'train'
         GROUP BY doc_id, split ORDER BY doc_id""",
    // d35: the d23 ln/DECIMAL recipe at bigram grain; add-one smoothing
    // keeps every probability strictly inside (0, 1) so ln is finite;
    // HUGEINT sums convert to DOUBLE identically to Spark's longs
    "d35_bigram_logprob" ->
      """WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                 FROM tk WHERE len(toks) >= 2)),
         pd AS (SELECT doc_id, w1, w2, count(*) AS c
                FROM bg GROUP BY doc_id, w1, w2),
         bc AS (SELECT w1, w2, sum(c) AS bc FROM pd GROUP BY w1, w2),
         uc AS (SELECT w1, sum(bc) AS uc FROM bc GROUP BY w1),
         v AS (
           SELECT count(DISTINCT term) AS v FROM (
             SELECT unnest(string_split(text, ' ')) AS term
             FROM documents) t
           WHERE term <> '')
         SELECT doc_id,
           floor(CAST(sum(CAST(ln((bc + 1) / CAST(uc + v AS DOUBLE))
               AS DECIMAL(20,15)) * CAST(c AS DECIMAL(10,0))) AS DOUBLE)
             / sum(c) * 10000) / 10000 AS avg_logprob,
           CAST(sum(c) AS BIGINT) AS n_bigrams_doc
         FROM pd JOIN bc USING (w1, w2) JOIN uc USING (w1), v
         GROUP BY doc_id ORDER BY doc_id""",
    // d26: the oracle computes the SAME global token offsets with a
    // plain cumulative window (the oracle needn't be scale-shaped) and
    // the same slice arithmetic; `//` is BIGINT division like Spark's
    // DIV, and range(a, b+1) mirrors the inclusive sequence()
    "d26_pack_sequences" ->
      """WITH n AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS BIGINT) AS n
           FROM documents),
         c AS (
           SELECT doc_id, n,
             coalesce(CAST(sum(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS off
           FROM n),
         e AS (
           SELECT doc_id, n, off,
             unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS seq_id
           FROM c WHERE n > 0)
         SELECT seq_id, doc_id,
           greatest(off, seq_id * 256) - off AS doc_start,
           greatest(off, seq_id * 256) - seq_id * 256 AS seq_start,
           least(off + n, (seq_id + 1) * 256)
             - greatest(off, seq_id * 256) AS n_toks
         FROM e ORDER BY seq_id, doc_id""",
    // d40: d26's packing CTEs for the sequence set, then
    // md5("<epoch>:<seq_id>") and a plain per-epoch row_number (the
    // oracle needn't be scale-shaped; the engine's bucketed two-phase
    // rank must MATCH this dense rank exactly)
    "d40_epoch_shuffle" ->
      s"""WITH n AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS BIGINT) AS n
           FROM documents),
         c AS (
           SELECT doc_id, n,
             coalesce(CAST(sum(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS off
           FROM n),
         e AS (
           SELECT doc_id, n, off,
             unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS seq_id
           FROM c WHERE n > 0),
         seqs AS (SELECT DISTINCT seq_id FROM e),
         ep AS (
           SELECT seq_id, ee.epoch
           FROM seqs, (SELECT unnest(range(2)) AS epoch) ee),
         k AS (
           SELECT epoch, seq_id,
             md5(CAST(epoch AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR))
               AS k
           FROM ep)
         SELECT epoch,
           CAST(row_number() OVER (PARTITION BY epoch
             ORDER BY k, seq_id) AS BIGINT) AS position,
           seq_id
         FROM k ORDER BY epoch, position""",
    // d27: same rate formula (sqrt of an exact-long double quotient,
    // floor'd basis points) and the same seed-13 rolling hash mod 10000;
    // list_prepend(13, []) on empty text reduces to the seed, matching
    // Spark's CASE pin. Divergence the gate can't see (corpus has no
    // nulls): Spark refuses null lang/text loudly (raise_error); SQL
    // has no raise, so the oracle would silently drop such rows.
    "d27_temperature_sample" ->
      s"""WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
          cm AS (SELECT min(c) AS c_min FROM lc),
          r AS (
            SELECT lang,
              CAST(floor(sqrt(CAST(c_min AS DOUBLE) / c) * 10000) AS BIGINT)
                AS rate_bp
            FROM lc, cm),
          b AS (
            SELECT doc_id, lang,
              list_reduce(
                list_prepend(CAST(13 AS BIGINT),
                  list_transform(range(1, len(text) + 1),
                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                (a, x) -> (a * 31 + x) % ${graft.operators.TextHash.P}) % 10000
                AS samp
            FROM documents)
          SELECT doc_id, lang, rate_bp,
            CASE WHEN samp < rate_bp THEN 'kept' ELSE 'dropped' END
              AS decision
          FROM b JOIN r USING (lang) ORDER BY doc_id""",
    // d28: same augmentation, df + canonical in one grouped pass
    // (min over a named struct is lexicographic like Spark's
    // min(struct(doc_id, pos))); the oracle keys on paragraph text
    // (it needn't be scale-shaped — the d22 precedent). pos is
    // 1-based here vs posexplode's 0-based — only its ORDER matters
    // (canonical choice + reconstruction), which offsets preserve.
    "d28_span_dedup" ->
      s"""WITH $duckAugmented,
         s AS (SELECT doc_id, string_split(augmented, ' | ') AS paras
               FROM a),
         u AS (
           SELECT doc_id,
             unnest(range(1, len(paras) + 1)) AS pos,
             unnest(paras) AS para
           FROM s),
         d AS (
           SELECT para, count(DISTINCT doc_id) AS df,
             min(struct_pack(d := doc_id, p := pos)) AS canon
           FROM u GROUP BY para),
         f AS (
           SELECT u.doc_id, u.pos, u.para,
             (d.df >= 2 AND NOT (u.doc_id = d.canon.d
                                 AND u.pos = d.canon.p)) AS dropped
           FROM u JOIN d USING (para))
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(coalesce(sum(CASE WHEN dropped THEN 1 END), 0) AS BIGINT)
             AS n_dropped,
           CAST(coalesce(sum(CASE WHEN dropped THEN length(para) END), 0)
             AS BIGINT) AS chars_dropped,
           coalesce(string_agg(para, ' | ' ORDER BY pos)
             FILTER (WHERE NOT dropped), '') AS cleaned
         FROM f GROUP BY doc_id ORDER BY doc_id""",
    // d36: the d28 augmentation split even (corpus artifact) / odd
    // (batch); 0-based positions via zipped unnest(range(0, len)) to
    // match posexplode; min(struct_pack) canonical like d28's; the
    // corpus side enters ONLY as its fp-aggregated signature, mirroring
    // the artifact contract
    "d36_incr_span_dedup" ->
      s"""WITH $duckAugmented,
         s AS (SELECT doc_id, string_split(augmented, ' | ') AS paras
               FROM a),
         u AS (
           SELECT doc_id,
             unnest(range(0, len(paras))) AS pos,
             unnest(paras) AS para
           FROM s),
         corpus AS (SELECT * FROM u WHERE doc_id % 2 = 0),
         batch AS (SELECT * FROM u WHERE doc_id % 2 = 1),
         csig AS (
           SELECT md5(para) AS para_fp, count(DISTINCT doc_id) AS df
           FROM corpus GROUP BY 1),
         bstat AS (
           SELECT md5(para) AS para_fp, count(DISTINCT doc_id) AS bdf,
             min(struct_pack(d := doc_id, p := pos)) AS bcanon
           FROM batch GROUP BY 1)
         SELECT b.doc_id, CAST(b.pos AS BIGINT) AS pos, b.para,
           CAST(coalesce(c.df, 0) AS BIGINT) AS corpus_df,
           CAST(t.bdf AS BIGINT) AS batch_df,
           CASE WHEN c.df >= 1 THEN 'corpus_dup'
                WHEN t.bdf >= 2 AND NOT (b.doc_id = t.bcanon.d
                                         AND b.pos = t.bcanon.p)
                  THEN 'batch_dup'
                ELSE 'kept' END AS disposition
         FROM batch b
         JOIN bstat t ON t.para_fp = md5(b.para)
         LEFT JOIN csig c ON c.para_fp = md5(b.para)
         ORDER BY b.doc_id, b.pos""",
    // d29: the identical loop, mechanically unrolled into k chained CTE
    // rounds (recursive CTEs can't aggregate in the recursive term, and
    // k is a fixed literal anyway). chr(31)/chr(30) are the same
    // delimiter bytes; plain replace() has the same left-to-right
    // non-overlapping semantics, so the merged sequences are
    // byte-identical each round.
    "d29_bpe_merges" -> bpeOracleSql(10),
    // d29b: same CTE chain, final select = the tokenization lookup join
    "d29b_bpe_tokenize" -> bpeTokenizeOracleSql(10),
    // d30: same split hash (duckSplits), token 8-grams sliced off the
    // filtered token list (DuckDB's tk[i:i+7] inclusive slice = Spark's
    // slice(toks, i, 8)); md5 over the space-joined gram text on both
    // sides, per-doc DISTINCT before any join, train side pre-aggregated
    // to (fp, df, min doc) exactly like the Spark plan. BIGINT/BIGINT
    // division is DOUBLE in both engines; -1 = clean (no NULLs ship).
    "d30_ngram_decontam" ->
      s"""WITH ${duckSplits},
          $duckNgramFps,
          ev AS (
            SELECT n.doc_id, n.fp, s.split
            FROM ng n JOIN splits s USING (doc_id)
            WHERE s.split IN ('val', 'test')),
          tr AS (
            SELECT fp, count(*) AS train_df, min(doc_id) AS min_train_doc
            FROM ng n JOIN splits s USING (doc_id)
            WHERE s.split = 'train' GROUP BY fp)
          SELECT doc_id, split,
            CAST(count(*) AS BIGINT) AS n_ngrams,
            CAST(count(train_df) AS BIGINT) AS n_hit,
            round(count(train_df) / count(*), 4) AS hit_frac,
            coalesce(min(min_train_doc), CAST(-1 AS BIGINT))
              AS min_train_doc
          FROM ev LEFT JOIN tr USING (fp)
          GROUP BY doc_id, split ORDER BY doc_id""",
    // d32: the same n-gram CTEs with the roles reversed — eval side
    // aggregated, train side probed
    "d32_train_decontam" ->
      s"""WITH ${duckSplits},
          $duckNgramFps,
          tr AS (
            SELECT n.doc_id, n.fp
            FROM ng n JOIN splits s USING (doc_id)
            WHERE s.split = 'train'),
          ev AS (
            SELECT fp, count(*) AS eval_df, min(doc_id) AS min_eval_doc
            FROM ng n JOIN splits s USING (doc_id)
            WHERE s.split IN ('val', 'test') GROUP BY fp)
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_ngrams,
            CAST(count(eval_df) AS BIGINT) AS n_hit,
            coalesce(min(min_eval_doc), CAST(-1 AS BIGINT))
              AS min_eval_doc,
            CASE WHEN count(eval_df) > 0 THEN 'drop' ELSE 'keep' END
              AS disposition
          FROM tr LEFT JOIN ev USING (fp)
          GROUP BY doc_id ORDER BY doc_id""",
    // d39: d32's CTEs with the corpus/batch halves applied — artifact =
    // even docs' eval-side n-grams aggregated, probe = odd docs' train
    // side
    "d39_incr_decontam" ->
      s"""WITH ${duckSplits},
          $duckNgramFps,
          art AS (
            SELECT fp, count(*) AS eval_df, min(doc_id) AS min_eval_doc
            FROM ng n JOIN splits s USING (doc_id)
            WHERE doc_id % 2 = 0 AND s.split IN ('val', 'test')
            GROUP BY fp),
          btr AS (
            SELECT n.doc_id, n.fp
            FROM ng n JOIN splits s USING (doc_id)
            WHERE doc_id % 2 = 1 AND s.split = 'train')
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_ngrams,
            CAST(count(eval_df) AS BIGINT) AS n_hit,
            coalesce(min(min_eval_doc), CAST(-1 AS BIGINT))
              AS min_eval_doc,
            CASE WHEN count(eval_df) > 0 THEN 'drop' ELSE 'keep' END
              AS disposition
          FROM btr LEFT JOIN art USING (fp)
          GROUP BY doc_id ORDER BY doc_id""",
    // d38: the same seed-13 samp hash as d27; `//` is BIGINT floor
    // division like Spark's DIV, and all the mixing arithmetic is
    // integer, so the copy counts are engine-exact by construction
    "d38_mix_epochs" ->
      s"""WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
          t AS (SELECT CAST(sum(c) AS BIGINT) AS total,
                  count(*) AS n_langs FROM lc),
          r AS (
            SELECT lang,
              CAST((total * 10000) // (n_langs * c) AS BIGINT) AS epochs_bp
            FROM lc, t),
          b AS (
            SELECT doc_id, lang,
              list_reduce(
                list_prepend(CAST(13 AS BIGINT),
                  list_transform(range(1, len(text) + 1),
                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                (a, x) -> (a * 31 + x) % ${graft.operators.TextHash.P}) % 10000
                AS samp
            FROM documents)
          SELECT doc_id, lang, epochs_bp,
            CAST(epochs_bp // 10000
              + CASE WHEN samp < epochs_bp % 10000 THEN 1 ELSE 0 END
              AS BIGINT) AS n_copies
          FROM b JOIN r USING (lang) ORDER BY doc_id""",
    // d37: same 8-gram slicing; the tie at the top-k cut breaks on
    // md5(gram) exactly like Spark's fp ordering
    "d37_hot_ngrams" ->
      """WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         g AS (
           SELECT DISTINCT doc_id,
             array_to_string(toks[i:i+7], ' ') AS gram
           FROM (
             SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
             FROM tk WHERE len(toks) >= 8)),
         st AS (
           SELECT gram, count(*) AS df, min(doc_id) AS example_doc
           FROM g GROUP BY gram),
         top AS (
           SELECT * FROM st WHERE df >= 2
           ORDER BY df DESC, md5(gram) LIMIT 100)
         SELECT gram, CAST(df AS BIGINT) AS df, example_doc
         FROM top ORDER BY df DESC, gram""",
    // d33: d09's quality formula verbatim, duplicate flag via the same
    // md5 canon groupBy, DECIMAL(18,4) quality accumulation (exact,
    // order-independent — a plain avg() of doubles could hash-diverge
    // at the 4th decimal), regex prevalence with the d20/d21 patterns
    // shared verbatim (RE2-compatible)
    "d33_corpus_card" ->
      s"""WITH raw AS (
            SELECT doc_id, lang, text, md5(text) AS fp,
              $duckQualityCols
            FROM documents),
          q AS (
            SELECT *, $duckQualityExpr AS quality
            FROM raw),
          canon AS (SELECT fp, min(doc_id) AS canon_id FROM q GROUP BY fp)
          SELECT lang,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(coalesce(sum(CASE WHEN q.doc_id <> c.canon_id THEN 1 END),
              0) AS BIGINT) AS n_dup_docs,
            CAST(sum(n_tok) AS BIGINT) AS total_tokens,
            round(avg(n_tok), 2) AS avg_tokens,
            round(CAST(sum(CAST(quality AS DECIMAL(18, 4))) AS DOUBLE)
              / count(*), 4) AS mean_quality,
            round(coalesce(sum(CASE WHEN
                regexp_matches(text, '$UrlDomainPattern') THEN 1 END), 0)
              / count(*), 4) AS url_doc_frac,
            round(coalesce(sum(CASE WHEN
                regexp_matches(text, '$EmailPattern') THEN 1 END), 0)
              / count(*), 4) AS pii_doc_frac
          FROM q JOIN canon c USING (fp)
          GROUP BY lang ORDER BY lang""",
    // d31: the same staged CASE — d09 quality formula and d07 argmax
    // verbatim from their own oracles, canon/rates computed over the
    // same survivor sets, the seed-13 samp hash and seed-7 split hash
    // from the d27/d13 oracles. CASE order = stage order, so the
    // NULL canon_id/rate_bp of docs dropped upstream is never
    // consulted (same null-skip semantics as Spark's when-chain).
    "d31_curation_funnel" ->
      s"""WITH ${duckSplits},
          sb AS (
            SELECT doc_id,
              list_reduce(
                list_prepend(CAST(13 AS BIGINT),
                  list_transform(range(1, len(text) + 1),
                    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                (a, x) -> (a * 31 + x) % ${graft.operators.TextHash.P}) % 10000
                AS samp
            FROM documents),
          raw AS (
            SELECT doc_id, lang, md5(text) AS fp,
              $duckQualityCols,
              CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'a', 'of'))) AS BIGINT) AS en_n,
              CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('der', 'die', 'und'))) AS BIGINT) AS de_n,
              CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('le', 'la', 'et'))) AS BIGINT) AS fr_n
            FROM documents),
          base AS (
            SELECT *,
              $duckQualityExpr AS quality,
              CASE WHEN en_n >= greatest(de_n, fr_n) AND en_n > 0 THEN 'en'
                   WHEN de_n >= fr_n AND de_n > 0 THEN 'de'
                   WHEN fr_n > 0 THEN 'fr'
                   ELSE 'und' END AS pred_lang
            FROM raw),
          s12 AS (
            SELECT * FROM base
            WHERE quality >= 0.5 AND pred_lang <> 'und'),
          canon AS (
            SELECT fp, min(doc_id) AS canon_id FROM s12 GROUP BY fp),
          surv AS (
            SELECT s.* FROM s12 s JOIN canon c USING (fp)
            WHERE s.doc_id = c.canon_id),
          lc AS (SELECT lang, count(*) AS c FROM surv GROUP BY lang),
          cm AS (SELECT min(c) AS c_min FROM lc),
          r AS (
            SELECT lang,
              CAST(floor(sqrt(CAST(c_min AS DOUBLE) / c) * 10000) AS BIGINT)
                AS rate_bp
            FROM lc, cm)
          SELECT b.doc_id, b.quality, b.pred_lang,
            CASE WHEN b.quality < 0.5 THEN 'low_quality'
                 WHEN b.pred_lang = 'und' THEN 'unknown_lang'
                 WHEN b.doc_id <> c.canon_id THEN 'exact_dup'
                 WHEN h.samp >= r.rate_bp THEN 'sampled_out'
                 ELSE sp.split END AS disposition
          FROM base b
          LEFT JOIN canon c USING (fp)
          LEFT JOIN r USING (lang)
          JOIN sb h ON h.doc_id = b.doc_id
          JOIN splits sp ON sp.doc_id = b.doc_id
          ORDER BY b.doc_id""",
    // d41: per-source distinct fp sets, the shared-fp pair count via a
    // fp equi-join (the oracle can afford the join; the engine's
    // membership-set explode is the scale form of the same count), the
    // full pair skeleton from the sizes self-join, Jaccard under the
    // floor-scaling discipline
    "d41_source_overlap" ->
      """WITH f AS (SELECT DISTINCT source, md5(text) AS fp FROM documents),
         sizes AS (SELECT source, count(*) AS n_fp FROM f GROUP BY source),
         cnt AS (
           SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
           FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, sa.n_fp AS n_a, sb.n_fp AS n_b,
           coalesce(cnt.n_shared, 0) AS n_shared,
           floor(coalesce(cnt.n_shared, 0) * 1000000.0
             / (sa.n_fp + sb.n_fp - coalesce(cnt.n_shared, 0)))
             / 1000000.0 AS jaccard
         FROM (SELECT a.source AS src_a, b.source AS src_b
               FROM sizes a JOIN sizes b ON a.source < b.source) p
         JOIN sizes sa ON sa.source = p.src_a
         JOIN sizes sb ON sb.source = p.src_b
         LEFT JOIN cnt ON cnt.src_a = p.src_a AND cnt.src_b = p.src_b
         ORDER BY p.src_a, p.src_b""",
    // d42: the d09 quality formula verbatim, one global running sum
    // ordered (quality DESC, doc_id) — the oracle can afford the
    // single-partition window the engine's two-phase bucket sum
    // deliberately avoids — and the take-while-under-budget filter
    "d42_budget_select" ->
      s"""WITH base AS (
           SELECT doc_id, $duckQualityCols
           FROM documents),
         q AS (
           SELECT doc_id, n_tok, $duckQualityExpr AS quality
           FROM base),
         t AS (SELECT CAST(floor(0.25 * sum(n_tok)) AS BIGINT) AS budget
               FROM q),
         c AS (
           SELECT doc_id, quality, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY quality DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
           FROM q)
         SELECT doc_id, quality, n_tok, cum_tok
         FROM c, t WHERE cum_tok <= budget
         ORDER BY cum_tok""",
    // d43: the d09 quality formula verbatim, one global row_number —
    // the oracle can afford the single-partition sort the engine's
    // bucket-rank locate deliberately avoids — and the rank formula
    // max(1, ceil(p·N/100)) replayed per percentile
    "d43_quality_quantiles" ->
      s"""WITH base AS (
           SELECT doc_id, $duckQualityCols
           FROM documents),
         q AS (
           SELECT doc_id, $duckQualityExpr AS quality
           FROM base),
         n AS (SELECT count(*) AS n FROM q),
         r AS (
           SELECT doc_id, quality,
             CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT)
               AS rn
           FROM q),
         p AS (SELECT unnest([1, 10, 25, 50, 75, 90, 99]) AS p)
         SELECT CAST(p.p AS BIGINT) AS p,
           CAST(greatest(1, ceil(p.p * n.n / 100.0)) AS BIGINT) AS rank,
           r.doc_id, r.quality
         FROM p, n, r
         WHERE r.rn = CAST(greatest(1, ceil(p.p * n.n / 100.0)) AS BIGINT)
         ORDER BY p""",
    // d45: the d43 replay partitioned by source — per-source
    // row_number + per-source N, the rank formula per (source, p)
    "d45_source_quality" ->
      s"""WITH base AS (
           SELECT doc_id, source, $duckQualityCols
           FROM documents),
         q AS (
           SELECT doc_id, source, $duckQualityExpr AS quality
           FROM base),
         n AS (SELECT source, count(*) AS n FROM q GROUP BY source),
         r AS (
           SELECT doc_id, source, quality,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY quality, doc_id) AS BIGINT) AS rn
           FROM q),
         p AS (SELECT unnest([25, 50, 75]) AS p)
         SELECT r.source, CAST(p.p AS BIGINT) AS p,
           CAST(greatest(1, ceil(p.p * n.n / 100.0)) AS BIGINT) AS rank,
           r.doc_id, r.quality
         FROM p, n JOIN r ON r.source = n.source
         WHERE r.rn = CAST(greatest(1, ceil(p.p * n.n / 100.0)) AS BIGINT)
         ORDER BY r.source, p""",
    // d44: fp-grain per-side aggregates + full outer on fp, the
    // even/odd snapshot fixture convention (d36/d39's)
    "d44_corpus_diff" ->
      """WITH o AS (
           SELECT md5(text) AS fp, min(doc_id) AS old_doc,
             count(*) AS old_copies
           FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         nw AS (
           SELECT md5(text) AS fp, min(doc_id) AS new_doc,
             count(*) AS new_copies
           FROM documents WHERE doc_id % 2 = 1 GROUP BY 1)
         SELECT coalesce(o.fp, nw.fp) AS fp,
           CASE WHEN o.fp IS NULL THEN 'added'
                WHEN nw.fp IS NULL THEN 'removed'
                ELSE 'retained' END AS status,
           o.old_doc AS old_doc, coalesce(o.old_copies, 0) AS old_copies,
           nw.new_doc AS new_doc, coalesce(nw.new_copies, 0) AS new_copies
         FROM o FULL OUTER JOIN nw ON o.fp = nw.fp
         ORDER BY fp""",
    // d50: the 12-token chunking replayed with list slices, the shared
    // d09 quality formulas at chunk grain, rebuild via ordered
    // string_agg (Spark's NULL-struct sort + concat_ws skip ≡ DuckDB's
    // CASE-filtered ordered aggregate; all-dropped docs coalesce '')
    "d50_para_salvage" ->
      s"""WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         ch AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(toks[i * 12 + 1 : i * 12 + 12], ' ') AS text
           FROM (SELECT doc_id, toks,
                   unnest(range((len(toks) - 1) // 12 + 1)) AS i
                 FROM tk WHERE len(toks) >= 1)),
         b AS (SELECT doc_id, pos, text, $duckQualityCols FROM ch),
         q AS (SELECT doc_id, pos, text,
                 $duckQualityExpr AS quality FROM b)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           coalesce(string_agg(CASE WHEN quality >= 0.5 THEN text END,
             ' ' ORDER BY pos), '') AS salvaged
         FROM q GROUP BY doc_id ORDER BY doc_id""",
    // d51: positional token/bigram streams (the d48 toks[i] indexing
    // pattern) + GROUP BY count + per-doc max replay the engine's
    // sorted-adjacency folds; the run-length CTE is the classic
    // lag-break + running-sum run id. Same 1e-6 floor as d19.
    "d51_rep_concentration" ->
      s"""WITH t AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         tok AS (
           SELECT doc_id, i, toks[i] AS term
           FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1)) AS i FROM t)),
         topt AS (
           SELECT doc_id, MAX(c) AS top_tok_n FROM (
             SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2)
           GROUP BY 1),
         gr AS (
           SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                 FROM t WHERE len(toks) >= 2)),
         topg AS (
           SELECT doc_id, MAX(c) AS top_gram_n FROM (
             SELECT doc_id, gram, count(*) AS c FROM gr GROUP BY 1, 2)
           GROUP BY 1),
         runs AS (
           SELECT doc_id, MAX(rl) AS max_run FROM (
             SELECT doc_id, run_id, count(*) AS rl FROM (
               SELECT doc_id, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS UNBOUNDED PRECEDING) AS run_id
               FROM (SELECT doc_id, i, CASE WHEN term IS DISTINCT FROM
                       lag(term) OVER (PARTITION BY doc_id ORDER BY i)
                     THEN 1 ELSE 0 END AS brk FROM tok))
             GROUP BY 1, 2)
           GROUP BY 1)
         SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tok,
           CASE WHEN len(t.toks) = 0 THEN 0.0
                ELSE floor(CAST(topt.top_tok_n AS DOUBLE) / len(t.toks)
                           * 1000000) / 1000000 END AS top_tok_frac,
           CASE WHEN len(t.toks) < 2 THEN 0.0
                ELSE floor(CAST(topg.top_gram_n AS DOUBLE)
                           / (len(t.toks) - 1) * 1000000) / 1000000
                END AS top_2gram_frac,
           CAST(COALESCE(runs.max_run, 0) AS BIGINT) AS max_run_len
         FROM t
         LEFT JOIN topt USING (doc_id)
         LEFT JOIN topg USING (doc_id)
         LEFT JOIN runs USING (doc_id)
         ORDER BY doc_id""",
    // d57: positional code-point stream (the d51 toks[i] pattern at
    // character grain: ascii(substr) is DuckDB's code-point read) +
    // GROUP BY census; entropy replays the engine's fixed-point
    // micro-nat terms — floor((k/n)*ln(n/k)*1e6) per distinct char,
    // summed as BIGINT (order-free, so GROUP BY order vs the engine's
    // hash-census order cannot diverge). Same 1e-6 floor as d51.
    "d57_char_entropy" ->
      """WITH cs AS (
           SELECT doc_id, ascii(substr(text, i, 1)) AS cp
           FROM (SELECT doc_id, text,
                   unnest(range(1, len(text) + 1)) AS i FROM documents)),
         f AS (SELECT doc_id, cp, count(*) AS k FROM cs GROUP BY 1, 2),
         n AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars
               FROM documents),
         e AS (
           SELECT f.doc_id,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(k) AS BIGINT) AS top_k,
             sum(CAST(floor(CAST(k AS DOUBLE) / n.n_chars
               * ln(CAST(n.n_chars AS DOUBLE) / k) * 1000000) AS BIGINT))
               AS ent_q
           FROM f JOIN n ON n.doc_id = f.doc_id GROUP BY 1)
         SELECT n.doc_id, n.n_chars,
           CAST(coalesce(e.n_distinct, 0) AS BIGINT) AS n_distinct,
           CASE WHEN n.n_chars = 0 THEN 0.0
                ELSE floor(CAST(e.top_k AS DOUBLE) / n.n_chars * 1000000)
                     / 1000000 END AS top_char_frac,
           coalesce(e.ent_q, 0) / 1000000.0 AS entropy
         FROM n LEFT JOIN e ON e.doc_id = n.doc_id
         ORDER BY n.doc_id""",
    // d48: the d46 feature CTEs (no split), md5-derived ±1 seeds, one
    // fixed-point Lloyd round (BIGINT floor sums — exact like the
    // engine's DECIMAL), sorted-list centroid norms, exact DECIMAL
    // final dot; row_number argmaxes replay the engine's windows
    "d48_domain_clusters" ->
      s"""WITH tk AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         uni AS (
           SELECT doc_id, unnest(toks) AS feat
           FROM tk WHERE len(toks) >= 1),
         bg AS (
           SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS feat
           FROM (SELECT doc_id, toks,
                   unnest(range(1, len(toks))) AS i
                 FROM tk WHERE len(toks) >= 2)),
         fs AS (
           SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(feat), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(feat), 2, 1)) - 1)
               AS fb
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bg)),
         f AS (SELECT doc_id, fb, count(*) AS c
               FROM fs GROUP BY doc_id, fb),
         nrm AS (
           SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm,
             CAST(sum(c) AS BIGINT) AS n_feats
           FROM f GROUP BY doc_id),
         d0 AS (
           SELECT doc_id, cs.cell,
             sum(c * CASE WHEN ascii(substr(md5(fb || ':' || cs.cell),
                 1, 1)) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS dot0
           FROM f, (SELECT unnest(range($domainCells)) AS cell) cs
           GROUP BY doc_id, cs.cell),
         a0 AS (
           SELECT doc_id, cell AS cell0 FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY dot0 DESC, cell) AS rn
             FROM d0) WHERE rn = 1),
         cent AS (
           SELECT cell0, fb,
             CAST(sum(CAST(floor(c / nrm * 1000000000.0) AS BIGINT))
               AS DECIMAL(20,0)) AS sxq
           FROM f JOIN a0 USING (doc_id) JOIN nrm USING (doc_id)
           GROUP BY cell0, fb),
         cn AS (
           SELECT cell0, sqrt(list_dot_product(cv, cv)) AS cnorm
           FROM (SELECT cell0,
                   list(CAST(sxq AS DOUBLE) / 1000000000.0 ORDER BY fb)
                     AS cv
                 FROM cent GROUP BY cell0)),
         d1 AS (
           SELECT doc_id, cell0 AS cell,
             sum(CAST(c AS DECIMAL(10,0)) * sxq) AS dotq
           FROM f JOIN cent USING (fb)
           GROUP BY doc_id, cell0),
         sc AS (
           SELECT doc_id, cell, CAST(dotq AS DOUBLE) / cnorm AS score
           FROM d1 JOIN cn ON cn.cell0 = d1.cell)
         SELECT s.doc_id, CAST(s.cell AS BIGINT) AS cluster, n.n_feats
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, cell) AS rn
               FROM sc) s JOIN nrm n ON n.doc_id = s.doc_id
         WHERE s.rn = 1 ORDER BY s.doc_id""",
    // d47: the shared d30 n-gram grain (distinct md5 8-gram fps per
    // doc), df at fp grain, shared = df >= 2; float division made
    // explicit on both engines, floor-scaled
    // d52/d53: gate entries are the parameterized generators at the
    // spec-pinned QueryConf defaults (the s04-family convention —
    // ConfReplay replays other operating points through the same text)
    // d56: gate entry = the parameterized generator at the spec-pinned
    // default top-k (the d52/d53 convention)
    "d56_bm25_topk" ->
      d56OracleSqlAt(QueryConf.DefaultBm25TopK),
    // d58: the indexed probe is output-identical to d56 BY CONTRACT
    // (shared query grain + scorer; the artifact only changes WHERE
    // df/stats come from) — the oracle is the same replay, so the gate
    // hash-pins that contract cross-engine
    "d58_bm25_probe" ->
      d56OracleSqlAt(QueryConf.DefaultBm25TopK),
    // d59: the d56 lexical CTEs + brute-force semantic half + exact-
    // integer RRF contributions (see d59OracleSqlAt)
    "d59_hybrid_topk" ->
      d59OracleSqlAt(QueryConf.DefaultBm25TopK),
    "d52_containment_pairs" ->
      d52OracleSqlAt(QueryConf.DefaultContainRareCap),
    "d53_winnow_fps" ->
      d53OracleSqlAt(QueryConf.DefaultWinnowWindow),
    "d54_winnow_matches" ->
      d54OracleSqlAt(QueryConf.DefaultWinnowWindow,
        QueryConf.DefaultWinnowMaxDf),
    // d55: the injected artifacts and marker sets mirrored via chr()
    // code points (Â=194 Ã=195 â=226 €=8364 ™=8482, é=233 — NOT a
    // marker; BEL=7 BS=8 VT=11 ESC=27; U+FFFD=65533); counts are
    // translate() length-diffs, code-point exact on both engines
    "d55_encoding_anomaly" ->
      """WITH a AS (
           SELECT doc_id,
             text ||
               CASE WHEN doc_id % 5 = 0
                 THEN ' ' || chr(195) || chr(233) || chr(226)
                   || chr(8364) || chr(8482) || chr(65533)
                 ELSE '' END ||
               CASE WHEN doc_id % 7 = 0
                 THEN chr(7) || chr(27) ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_chars,
           CAST(len(t) - len(translate(t, chr(65533), ''))
             AS BIGINT) AS repl_n,
           CAST(len(t) - len(translate(t,
             chr(194) || chr(195) || chr(226) || chr(8364) || chr(8482),
             '')) AS BIGINT) AS moji_n,
           CAST(len(t) - len(translate(t,
             chr(7) || chr(8) || chr(11) || chr(27), ''))
             AS BIGINT) AS ctrl_n,
           floor((3 * len(t)
               - len(translate(t, chr(65533), ''))
               - len(translate(t,
                   chr(194) || chr(195) || chr(226) || chr(8364) || chr(8482),
                   ''))
               - len(translate(t, chr(7) || chr(8) || chr(11) || chr(27), '')))
             / CAST(greatest(len(t), 1) AS DOUBLE) * 1000000) / 1000000
             AS anomaly_frac
         FROM a ORDER BY doc_id""",
    "d47_dup_ngram_frac" ->
      s"""WITH $duckNgramFps,
         dfreq AS (SELECT fp, count(*) AS df FROM ng GROUP BY fp)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           floor(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000) / 10000 AS shared_frac,
           CAST(max(df) AS BIGINT) AS max_df
         FROM ng JOIN dfreq USING (fp)
         GROUP BY doc_id ORDER BY doc_id""",
    // d46: the d13 split CTE assigns target/raw roles; features are
    // unigrams + ' '-joined bigrams through the md5-hex-pair bucket
    // (0..255); smoothing, ln/DECIMAL accumulation and floor-scaling
    // replay the d23 discipline verbatim
    "d46_dsir_weights" ->
      s"""WITH $duckSplits,
         tk AS (
           SELECT d.doc_id, s.split,
             list_filter(string_split(d.text, ' '), t -> t <> '') AS toks
           FROM documents d JOIN splits s USING (doc_id)
           WHERE s.split IN ('train', 'val')),
         uni AS (
           SELECT doc_id, split, unnest(toks) AS feat
           FROM tk WHERE len(toks) >= 1),
         bg AS (
           SELECT doc_id, split, toks[i] || ' ' || toks[i + 1] AS feat
           FROM (SELECT doc_id, split, toks,
                   unnest(range(1, len(toks))) AS i
                 FROM tk WHERE len(toks) >= 2)),
         f AS (
           SELECT doc_id, split,
             (strpos('0123456789abcdef', substr(md5(feat), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(feat), 2, 1)) - 1)
               AS fb
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bg)),
         pd AS (SELECT doc_id, split, fb, count(*) AS c
                FROM f GROUP BY doc_id, split, fb),
         qcn AS (SELECT fb, sum(c) AS qc FROM pd
                 WHERE split = 'train' GROUP BY fb),
         pcn AS (SELECT fb, sum(c) AS pc FROM pd
                 WHERE split = 'val' GROUP BY fb),
         tq AS (SELECT coalesce(sum(c), 0) AS tq FROM pd
                WHERE split = 'train'),
         tp AS (SELECT coalesce(sum(c), 0) AS tp FROM pd
                WHERE split = 'val'),
         ratio AS (
           SELECT qcn.fb,
             CAST(ln((coalesce(pc, 0) + 1)
                 / CAST(tp + $dsirBuckets AS DOUBLE)) AS DECIMAL(20,15))
             - CAST(ln((qc + 1)
                 / CAST(tq + $dsirBuckets AS DOUBLE)) AS DECIMAL(20,15)) AS lr
           FROM qcn LEFT JOIN pcn ON qcn.fb = pcn.fb, tp, tq)
         SELECT doc_id,
           floor(CAST(sum(lr * CAST(c AS DECIMAL(10,0))) AS DOUBLE)
             * 10000) / 10000 AS log_ratio,
           CAST(sum(c) AS BIGINT) AS n_feats
         FROM pd JOIN ratio USING (fb)
         WHERE split = 'train'
         GROUP BY doc_id ORDER BY doc_id""")
}

