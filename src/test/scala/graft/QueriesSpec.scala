package graft

/** Contract checks for the driver gate: every declared query runs at smoke
  * scale, returns rows, and every oracle key points at a declared query.
  */
class QueriesSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("the dedup-scope id set names real queries (Bench/ScaleBench derive from it)") {
    // scopedQueryNames is the ONE source of truth for which gate queries
    // pay first-run cache-scope materialization; a typo'd or dropped
    // entry silently reverts that query to cold-skewed min-of-2 bench
    // numbers (round-10's d06 false alarm)
    val ghosts =
      graft.queries.DedupQueries.scopedQueryNames -- SparkEntry.queries.keySet
    assert(ghosts.isEmpty, s"scoped ids naming no gate query: $ghosts")
    assert(graft.queries.DedupQueries.scopedQueryNames.nonEmpty)
  }

  test("no gate query plans an unbounded unpartitioned window (single-task hazard)") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit,
      Window => LWindow, WindowGroupLimit}
    // a global orderBy window funnels the whole input through ONE task —
    // q30 shipped that shape for four rounds before the year partition +
    // boundary stitch replaced it. The acceptable unpartitioned forms are
    // the ones whose single task provably sees a BOUNDED input: a global
    // top-k (the optimizer's WindowGroupLimit caps rows per upstream
    // partition) or a window above an explicit GlobalLimit (q15 ranks 10
    // already-limited rows).
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfSmoke).queryExecution.optimizedPlan
      val bare = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            !w.child.exists(n => n.isInstanceOf[WindowGroupLimit] ||
              n.isInstanceOf[GlobalLimit]) => w
      }
      assert(bare.isEmpty,
        s"$name plans ${bare.size} unbounded window(s) with no PARTITION BY")
    }
  }

  test("no gate query joins without equi-keys unless one side is provably tiny") {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe,
      EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    // a join with no equi-key component executes as a nested-loop/cartesian
    // — quadratic unless one side is bounded. The acceptable forms all
    // make one side provably small: an inline literal table (q18's range
    // bands are a LocalRelation), or an explicitly BROADCAST side — a
    // scalar/constant aggregate (d17's corpus size), a fixed-k centroid
    // table (s04's 16 cells), or the bounded query set of the brute-force
    // kNN baseline (s01/s02 — the exact baseline is INTENTIONALLY
    // linear-scan; the bucketed variants are the scale path). Everything
    // else must carry equi-keys so it hash-partitions.
    // q30's stitch join: both sides are <=6 rows per year by filter
    // d17/d22: a broadcast SCALAR aggregate (corpus size) cross-joined
    // onto every row — one-row side by construction
    // d35: the vocab-size scalar aggregate cross-joined (the d23 shape
    // one grain up)
    // d26: the min/max doc_id bounds scalar cross-joined for bucketing
    // (d40 composes packSequences and inherits the same scalar join)
    // d42: the token-budget scalar (one no-grouping aggregate row under
    // an explicit limit(1)) cross-joined onto the bucketed corpus
    // d27/d31: the c_min scalar cross-joined onto the #langs-row rate
    // table (d31 builds the same rate table over its survivor corpus)
    // (d29 has no cross join: its merge rounds run in driver memory and
    // the returned merge table is a local relation.)
    // s08: s04's cross-join assignment scan (<=16-row centroid side)
    // reused for the PQ build + probe assignment
    // s09: the same <=16-row trained-centroid assignment scan (SemDeDup
    // cells); the pair scan itself is a cell equi-join
    // s10: the same trained-centroid assignment scan, run for both the
    // train corpus and the eval probe side; the hit scan is a cell
    // equi-join
    // (s11's assignment scan is the SAME cross-join, but the frame is
    // eagerly Materialize()d at construction, so — like d06/d14 —
    // the optimized plan this audit sees is truncated lineage with no
    // join left. Its hint is audited at the source instead: see the
    // assignTo analyzed-plan check in the hinted-side audit below.)
    // s12: the same assignment cross-join, against the PERSISTED
    // <=cells-row centroid artifact (the batch side carries no keys to
    // equi-join on until the argmax picks a cell)
    val broadcastWhitelist = Set("s01_knn_bruteforce", "s02_ann_lsh",
      "s04_ann_ivf", "s08_ivfpq_rerank", "s09_semdedup", "s10_sem_decontam",
      "s12_pq_encode_incremental",
      // (s14 absent since r17: knnGraph returns an eagerly
      // Materialize()d frame — truncated lineage, no joins to audit;
      // its centroid broadcast is the source-audited assignTo one)
      "s06_quantized_rerank", "s07_truncated_rerank",
      // s13: the same fixed-query-set probe join at the binary axis
      "s13_hamming_rerank",
      "d17_tfidf_keywords",
      "d22_boilerplate", "d23_unigram_logprob", "q30_sliding_window",
      // d46: the two feature-total scalars (no-grouping aggregates)
      // cross-joined onto the <=256-row log-ratio table
      "d46_dsir_weights",
      // d49: the n_train and union-vocab scalars (d23's pattern)
      "d49_heldout_logprob",
      // d56: the (N, Σdl) corpus-stats scalar (no-grouping aggregate)
      // cross-joined onto the probe-term hit frame
      "d56_bm25_topk",
      // d58: the same scalar cross-join, at index BUILD time
      "d58_bm25_probe",
      // d59: inherits d56's scalar cross-join in its lexical half, plus
      // the GlobalLimit-bounded probe-vector broadcast of the brute-
      // force semantic half (the s01 shape at the fusion gate)
      "d59_hybrid_topk",
      "d26_pack_sequences", "d40_epoch_shuffle", "d27_temperature_sample",
      "d31_curation_funnel", "d35_bigram_logprob",
      "d38_mix_epochs", "d42_budget_select")
    // top-level conjunct split: `a =!= b` CONTAINS an EqualTo node, so a
    // whole-tree search would miscount it as an equi-key
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfSmoke).queryExecution.optimizedPlan
      val nonEqui = plan.collect {
        case j @ Join(_, _, _, cond, _)
            if !cond.exists(conjuncts(_).exists {
              case _: EqualTo | _: EqualNullSafe => true
              case _ => false
            }) => j
      }
      nonEqui.foreach { j =>
        val inlineSide = Seq(j.left, j.right).exists(_.exists {
          case _: LocalRelation => true
          case _ => false
        })
        // the optimizer folds broadcast() hints into the Join's JoinHint
        val hinted = broadcastWhitelist(name) &&
          Seq(j.hint.leftHint, j.hint.rightHint)
            .exists(_.exists(_.strategy.isDefined))
        assert(inlineSide || hinted,
          s"$name plans a join with no equi-keys and no provably-bounded " +
            "side (inline literal table or whitelisted broadcast)")
      }
    }
  }

  test("every explicit broadcast hint builds a provably bounded side (100x audit)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit,
      Join, LocalRelation, LogicalPlan}
    // The inverse of the non-equi audit above. An AUTO-broadcast is
    // stats-based and re-decided per deployment — a side that outgrows
    // the threshold at 100x simply stops broadcasting. An EXPLICIT
    // broadcast() hint overrides the size check FOREVER: a corpus-sized
    // hinted side works at sf0.1 and OOMs every executor at scale. So
    // every hinted build side must carry a provable bound — structural:
    //   - an inline literal table (LocalRelation — q18's range bands),
    //   - a scalar aggregate (no grouping keys → exactly one row),
    //   - a global limit / top-k,
    //   - a scan of a FIXED dimension table (region: 5 rows, nation: 25,
    //     constant at every TPC-H scale factor),
    // or a whitelisted per-query bound the planner cannot see:
    val bounded = Map(
      "s01_knn_bruteforce" -> "fixed ~100-row query set (intentional linear baseline)",
      "s02_ann_lsh" -> "fixed query set, hamming-multiprobe bucket join",
      "s04_ann_ivf" -> "<=16-row centroid table / nprobe probe set",
      "s08_ivfpq_rerank" ->
        "<=16-row centroid/cunit table; fixed query probe + rerank sets",
      "s09_semdedup" ->
        "<=16-row trained-centroid table (s04's quantizer, SemDeDup cells)",
      "s10_sem_decontam" ->
        "<=16-row trained-centroid table (s04's quantizer; decontam cells)",
      // s14 is deliberately ABSENT since r17: knnGraph eagerly
      // Materialize()s under the scoped ObjectHashAggregate-threshold
      // raise, so its optimized plan is truncated lineage with no
      // hinted join left (the s11 situation). Its one hinted join is
      // assignTo's centroid broadcast — audited at the source below.
      "s12_pq_encode_incremental" ->
        ("<=cells-row persisted centroid/cunit artifact (s04's quantizer; " +
          "bounded by QueryConf.ivfCells configuration, not data)"),
      // s11 is deliberately ABSENT: its assignment frame is eagerly
      // Materialize()d, so its optimized plan carries no hinted join for
      // this walk to find (the d06/d14 situation) — the staleness check
      // below would flag it forever. Its hint is audited at the source
      // (assignTo, analyzed plan) at the end of this test.
      "s06_quantized_rerank" -> "fixed query set (coarse scan + rerank sides)",
      "s07_truncated_rerank" -> "fixed query set (prefix scan + rerank sides)",
      "s13_hamming_rerank" -> "fixed query set (packed-bit scan + rerank sides)",
      "q30_sliding_window" -> "<=6-row per-year boundary stitch",
      // the planner sees a checkpointed LogicalRDD (the trained vocab);
      // the real bound is Heaps' law — the distinct-word table at
      // tokenizer-vocab scale, the same table every BPE tokenizer ships
      "d29b_bpe_tokenize" -> "Heaps-law distinct-word lookup (trained BPE vocab)",
      // d56/d58/d59 (r17): the probe set is Materialize()d — ONE
      // test-split scan instead of one per plan consumer — so the
      // GlobalLimit(50) that bounds it is truncated out of the lineage
      // the walk sees; the hinted sides (query-term grain, term-set
      // prune, d59's probe vectors) all derive from those 50 pinned rows
      "d56_bm25_topk" -> "Materialize()d GlobalLimit(50) probe set",
      "d58_bm25_probe" -> "Materialize()d GlobalLimit(50) probe set",
      "d59_hybrid_topk" -> "Materialize()d GlobalLimit(50) probe set")
    def structurallyBounded(side: LogicalPlan): Boolean =
      side.exists {
        case _: LocalRelation => true
        case a: Aggregate if a.groupingExpressions.isEmpty => true
        case _: GlobalLimit => true
        case _ => false
      } || side.collectLeaves().forall { l =>
        val s = l.toString
        s.contains("region") || s.contains("nation")
      }
    def hintedSidesOf(plan: LogicalPlan): Seq[LogicalPlan] =
      plan.collect { case j: Join =>
        Seq(j.left -> j.hint.leftHint, j.right -> j.hint.rightHint).collect {
          case (side, Some(h)) if h.strategy.isDefined => side
        }
      }.flatten
    val hintedQueries = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val hintedSides =
        hintedSidesOf(fn(spark, sfSmoke).queryExecution.optimizedPlan)
      if (hintedSides.nonEmpty) hintedQueries += name
      hintedSides.foreach { side =>
        assert(structurallyBounded(side) || bounded.contains(name),
          s"$name explicitly broadcasts a side with no provable bound " +
            s"(works at sf0.1, OOMs at 100x):\n$side")
      }
    }
    // the whitelist must not rot: every entry still plans >=1 hinted join
    val stale = bounded.keySet -- hintedQueries
    assert(stale.isEmpty, s"whitelist entries with no hinted join left: $stale")
    // d06/d14's broadcast(candIds) hides twice over: the gate entries
    // return eagerly localCheckpointed frames (truncated lineage), and
    // inside the scope the optimizer swaps the persisted subtree for an
    // InMemoryRelation, folding the hint away. The ANALYZED plan at the
    // source still carries ResolvedHint: the hinted semi-join side must
    // reference bucket_n — the MaxBandBucket cap is exactly what bounds
    // this broadcast
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    graft.queries.DedupQueries.withDedupScope(
        Tables(spark, sfSmoke, "documents").select("doc_id", "text")) { scope =>
      val sides = scope.verifiedPairs.queryExecution.analyzed.collect {
        case h: ResolvedHint => h.child
      }
      assert(sides.nonEmpty,
        "verifiedPairs no longer hints its candidate-id broadcast")
      sides.foreach { side =>
        assert(side.toString.contains("bucket_n"),
          s"verifiedPairs broadcasts a side not tied to the bucket cap:\n$side")
      }
    }
    // s11 (and every s04-family assignment) builds its one cross-join
    // through assignTo; s11's copy is eagerly Materialize()d so the hint
    // never reaches the optimized-plan walk above. Audit it at the
    // source: assignTo must hint its centroid side on the ANALYZED plan,
    // and that side must be the trained-centroid table (cv_sum/cnorm) —
    // trainCentroids bounds it at `cells` rows, the provable bound.
    locally {
      import org.apache.spark.sql.functions.{col, expr}
      val e = Tables(spark, sfSmoke, "embeddings")
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
        .select(col("vec_id"), col("v"), col("nrm"))
      val c = graft.queries.EmbeddingQueries.trainCentroids(e, cells = 4,
        rounds = 1)
      val sides = graft.queries.EmbeddingQueries.assignTo(e, c)
        .queryExecution.analyzed.collect {
          case h: ResolvedHint => h.child
        }
      assert(sides.nonEmpty,
        "assignTo no longer hints its centroid broadcast (s11's bound)")
      sides.foreach { side =>
        assert(side.toString.contains("cv_sum"),
          s"assignTo broadcasts a side that is not the centroid table:\n$side")
      }
    }
  }

  test("filters and projections reach the parquet scan (q01/q02 pushdown)") {
    // the 100 TB contract: a scan that reads all 16 lineitem columns for
    // a 7-column aggregate, or re-filters ship dates AFTER the scan, pays
    // the full corpus in IO. PushedFilters + pruned ReadSchema in the
    // FileSourceScan prove predicate pushdown and column pruning survive
    // any future re-write of these queries.
    val q01 = SparkEntry.queries("q01_pricing_summary")(spark, sfSmoke)
      .queryExecution.sparkPlan.toString
    assert(q01.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q01 ship-date filter not pushed to the scan:\n$q01")
    assert(!q01.contains("l_orderkey"),
      "q01 scan reads l_orderkey, which the query never uses (pruning lost)")
    val q02 = SparkEntry.queries("q02_revenue_by_nation")(spark, sfSmoke)
      .queryExecution.sparkPlan.toString
    assert(q02.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"q02 order-date filter not pushed to the scan:\n$q02")
    assert(q02.contains("BroadcastHashJoin"),
      "q02 plans no broadcast join for its dimension tables")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sfSmoke)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
