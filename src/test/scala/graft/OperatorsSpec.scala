package graft

import org.apache.spark.sql.functions.{col, md5}

import graft.operators.{Multimodal, TextHash}
import graft.queries.{DedupQueries, DocumentQueries, EmbeddingQueries}

/** Semantics checks for the training-data operators beyond the oracle
  * gate: LSH recall vs the exact baseline, MinHash candidate coverage of
  * true near-dups, multimodal decode plumbing.
  */
class OperatorsSpec extends SparkSpec {

  test("LSH ANN recalls >=0.5 of the exact top-5 (s02 vs s01)") {
    val exact = EmbeddingQueries.queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = EmbeddingQueries.queries("s02_ann_lsh")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ann.nonEmpty, "LSH returned no candidates")
    val recall = (ann & exact).size.toDouble / exact.size
    // 6 hash-independent hyperplanes + hamming-1 multi-probe must recover
    // at least half of the true top-5 neighborhood — a bar a broken ANN
    // (correlated planes, bad bucketing) cannot pass
    assert(recall >= 0.5, s"LSH recall vs exact top-5 too low: $recall")
  }

  test("truncated-dim rerank recalls most of the exact top-5 (s07 vs s01)") {
    val exact = EmbeddingQueries.queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = EmbeddingQueries.queries("s07_truncated_rerank")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val pairs = got.map(p => (p._1, p._2)).toSet
    val recall = (pairs & exact).size.toDouble / exact.size
    // a 16-of-64-dim prefilter keeping 20 candidates must recover most
    // of the true top-5; a broken slice/norm would crater this
    assert(recall >= 0.6, s"truncated-rerank recall too low: $recall")
    // the rerank stage is EXACT: every returned similarity equals the
    // s01 value for the same (query, candidate) pair
    val exactSims = EmbeddingQueries
      .queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    got.foreach { case (q, c, sim) =>
      exactSims.get((q, c)).foreach(es =>
        assert(es == sim, s"rerank sim diverges from exact for ($q,$c)"))
    }
  }

  test("binary-hamming rerank: packing exact on a hand vector, recall " +
    "vs the exact top-5, rerank sims exact (s13 vs s01)") {
    import spark.implicits._
    // hand-checkable packing: dims 1, 3, 33 positive, everything else
    // <= 0 (zeros must NOT set bits) → blo = 1 + 4, bhi = 1
    val hand = (1 to 64).map {
      case 1 | 3 | 33 => 0.5; case 2 => -0.1; case _ => 0.0
    }.toArray
    val packed = Seq((0L, hand)).toDF("vec_id", "v")
      .selectExpr(
        """aggregate(sequence(1, 32), 0L, (acc, i) ->
             acc + IF(element_at(v, i) > 0D, shiftleft(1L, i - 1), 0L)) AS blo""",
        """aggregate(sequence(33, 64), 0L, (acc, i) ->
             acc + IF(element_at(v, i) > 0D, shiftleft(1L, i - 33), 0L)) AS bhi""")
      .collect().head
    assert((packed.getLong(0), packed.getLong(1)) == ((5L, 1L)),
      "sign-bit packing must be little-endian per half, zeros unset")
    val exact = EmbeddingQueries.queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = EmbeddingQueries.queries("s13_hamming_rerank")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val pairs = got.map(p => (p._1, p._2)).toSet
    val recall = (pairs & exact).size.toDouble / exact.size
    // 64 sign bits keeping 20 candidates must recover most of the true
    // top-5 — the binary-quantization literature's "rescoring fixes it"
    // claim, pinned; a packing/popcount bug craters this
    assert(recall >= 0.6, s"hamming-rerank recall too low: $recall")
    // the rerank stage is EXACT: every returned similarity equals the
    // s01 value for the same (query, candidate) pair
    val exactSims = EmbeddingQueries
      .queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    got.foreach { case (q, c, sim) =>
      exactSims.get((q, c)).foreach(es =>
        assert(es == sim, s"rerank sim diverges from exact for ($q,$c)"))
    }
  }

  test("k-NN graph: dense ranks, non-increasing sims, no self-loops, " +
    "planted twins mutual at 1.0, singletons silent, recall vs s01, " +
    "degree knob live (s14)") {
    import spark.implicits._
    val g = EmbeddingQueries.queries("s14_knn_graph")(spark, sfSmoke)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(g.nonEmpty)
    g.groupBy(_._1).foreach { case (src, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to rows.length).toSeq,
        s"ranks must be dense from 1 for $src")
      val sims = byRank.map(_._4).toSeq
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y },
        s"sims must be non-increasing down the ranks for $src")
      assert(!rows.exists(_._3 == src), s"self-loop at $src")
      assert(rows.length <= 3, s"default degree is 3, got $rows")
    }
    // approximate-graph recall vs the exact s01 baseline: the graph is
    // a SINGLE-cell scan by construction (nprobe=1, vs s04's 8), so
    // top-5 recall is quantizer-bounded and low by design; the number
    // that matters for the graph's consumers (SemDeDup pairs, density)
    // is whether the TRUE nearest neighbor shares a cell — pin that,
    // and keep the top-5 figure as a floor so a broken assignment
    // can't hide behind "it's approximate"
    val exactRows = EmbeddingQueries
      .queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = exactRows.map(r => (r._1, r._3)).toSet
    val cand = g.map(r => (r._1, r._3)).toSet
    val recall5 = (cand & exact).size.toDouble / exact.size
    // measured 0.20 / 0.16 at sf0.001 under the 16-cell default — the
    // honest single-probe quantizer bound (random degree-3 assignment
    // over ~200 vectors would score ~0.015, so 0.20 is ~13× chance:
    // the quantizer demonstrably routes similars together). Floors at
    // half the measured values trip on a broken assignment without
    // false-failing on fixture drift.
    val nn = exactRows.filter(_._2 == 1L).map(r => (r._1, r._3))
    val nnRecall = nn.count(cand).toDouble / nn.length
    assert(nnRecall >= 0.1,
      s"true-NN in-cell recall: $nnRecall (top-5: $recall5)")
    assert(recall5 >= 0.08,
      s"in-cell top-5 recall floor: $recall5")
    // planted twins: identical vectors must pick each other at rank 1
    // with cosine exactly 1.0 wherever the quantizer puts them
    def vec(seed: Int) = (1 to 64).map(i =>
      math.sin(seed * 64 + i).abs + 0.1).toArray
    val twins = Seq((1L, vec(1)), (2L, vec(1)), (3L, vec(7)))
      .toDF("vec_id", "v")
    val tg = EmbeddingQueries.knnGraph(twins).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    Seq((1L, 2L), (2L, 1L)).foreach { case (a, b) =>
      val r1 = tg.find(r => r._1 == a && r._2 == 1L).get
      assert(r1._3 == b && r1._4 == 1.0,
        s"twin $a must rank its copy first at 1.0: $r1")
    }
    // a lone vector has no in-cell neighbor: the graph is empty
    assert(EmbeddingQueries.knnGraph(
      Seq((9L, vec(3))).toDF("vec_id", "v")).collect().isEmpty)
    // degree knob
    spark.conf.set(graft.queries.QueryConf.KnnKKey, "1")
    try {
      val capped = EmbeddingQueries.queries("s14_knn_graph")(spark, sfSmoke)
        .agg(org.apache.spark.sql.functions.max("rk"))
        .collect().head.getLong(0)
      assert(capped == 1L, s"knn.k=1 must cap every vector at rank 1")
    } finally spark.conf.unset(graft.queries.QueryConf.KnnKKey)
    // multi-probe knob (r18): nprobe=2 scans each vector's two nearest
    // cells — candidate edges strictly grow (every nprobe=1 edge source
    // set survives: the home cell is always probed), and recall against
    // the exact baseline must not drop. The knob is the documented
    // recall lever past the single-probe quantizer bound.
    spark.conf.set(graft.queries.QueryConf.KnnNprobeKey, "2")
    try {
      val g2 = EmbeddingQueries.queries("s14_knn_graph")(spark, sfSmoke)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val cand2 = g2.map(r => (r._1, r._3)).toSet
      val nnRecall2 = nn.count(cand2).toDouble / nn.length
      val recall52 = (cand2 & exact).size.toDouble / exact.size
      info(f"s14 recall nprobe 1->2: true-NN $nnRecall%.3f -> $nnRecall2%.3f, " +
        f"top-5 $recall5%.3f -> $recall52%.3f")
      assert(nnRecall2 >= nnRecall,
        s"nprobe=2 true-NN recall regressed: $nnRecall2 < $nnRecall")
      assert(recall52 >= recall5,
        s"nprobe=2 top-5 recall regressed: $recall52 < $recall5")
      // (the kept EDGES are not a superset — a closer out-of-home-cell
      // neighbor legitimately displaces a weaker home edge from top-k —
      // but per-src the intersection with the exact top-5 cannot shrink:
      // a displacing candidate has the higher cosine, so it sits in the
      // global top-5 whenever the displaced edge did)
    } finally spark.conf.unset(graft.queries.QueryConf.KnnNprobeKey)
  }

  test("LSH band joins stay bounded under pathological skew (hot-band guards)") {
    import spark.implicits._
    // 800 byte-identical docs + 100 sub-3-token docs (shared sentinel
    // signature) — naive banding makes both a quadratic hot bucket
    // (~1.3M join rows from the viral group alone)
    val viral = (0 until 800).map(i =>
      (i.toLong, "the exact same viral document body repeated verbatim across the corpus"))
    val tiny = (800 until 900).map(i => (i.toLong, "too short"))
    val near = (0 until 20).flatMap { k =>
      val base = (0 until 30).map(t => s"w${k}_$t").mkString(" ")
      Seq((1000L + 2 * k, base), (1001L + 2 * k, base + " tail"))
    }
    val docs = (viral ++ tiny ++ near).toDF("doc_id", "text")
    val pairs = DedupQueries.minhashPairs(docs).collect()
    // exact-dup collapse + sentinel exclusion bound candidates by TRUE
    // near-dup pairs, not group size²
    assert(pairs.length < 200, s"candidate pairs not bounded: ${pairs.length}")
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(k => (1000L + 2 * k, 1001L + 2 * k))
    assert(planted.count(found) == 20,
      s"lost planted near-dups: found ${planted.count(found)}/20")
    // the viral group is the exact-dedup stage's business — no intra-group
    // pair may leak out of the LSH stage
    assert(!found.exists(p => p._1 < 900 && p._2 < 900))
    // verify stage over the same corpus stays bounded too
    val verified = DedupQueries.jaccardDups(docs).collect()
    assert(verified.length < 200)
    assert(verified.forall(r => r.getDouble(2) >= 0.5))
  }

  test("IVF ANN recalls >=0.7 of the exact top-5 (s04 vs s01)") {
    val exact = EmbeddingQueries.queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = EmbeddingQueries.queries("s04_ann_ivf")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    // the Lloyd-trained quantizer must beat what fixed sign-vector cells
    // could do (those plateaued just above 0.5 on this corpus)
    assert(recall >= 0.7, s"IVF recall vs exact top-5 too low: $recall")
  }

  test("stored-artifact ANN path recalls >=0.7 of the exact top-5 at " +
    "gate knobs, end-to-end through the CLI artifacts (r19)") {
    import spark.implicits._
    // the s04 recall bar asserted through what a DEPLOYMENT actually
    // runs: ivftrain -> ivfindex -> ann --index over parquet artifacts,
    // not the inline library path (VERDICT r18 next-round #4)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ann-recall")
      .toString
    Main.run(spark, Seq("ivftrain",
      s"$sfSmoke/embeddings.parquet", s"$tmp/cent"), Map.empty)
    Main.run(spark, Seq("ivfindex", s"$sfSmoke/embeddings.parquet",
      s"$tmp/cent", s"$tmp/idx"), Map.empty)
    Main.run(spark, Seq("ann", s"$sfSmoke/embeddings.parquet",
      s"$tmp/ranks", "--nqueries", "20", "--topk", "5",
      "--centroids", s"$tmp/cent", "--index", s"$tmp/idx"), Map.empty)
    val exact = EmbeddingQueries.queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val viaArtifacts = spark.read.parquet(s"$tmp/ranks")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (viaArtifacts & exact).size.toDouble / exact.size
    assert(recall >= 0.7,
      s"artifact-path recall vs exact top-5 too low: $recall")
  }

  test("ann rank table: s04-equivalent ranks in the fuse contract, " +
    "bounded-query plan shape audited (r18)") {
    import spark.implicits._
    // content equivalence with the s04 gate query (same corpus, same
    // vec_id < 20 queries, k=5): the rank-table operator must be the
    // SAME retrieval, only re-shaped to the (query_id, rk, doc_id)
    // contract — a drift here would silently change what `fuse` fuses
    val emb = Tables(spark, sfSmoke, "embeddings")
    val ranks = EmbeddingQueries.annRankTable(
      emb, emb.filter($"vec_id" < 20), k = 5)
    val got = ranks.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val s04 = EmbeddingQueries.queries("s04_ann_ivf")(spark, sfSmoke)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == s04.toSeq,
      s"annRankTable must equal the s04 gate retrieval row-for-row")
    // the scale claim, pinned: the BOUNDED query batch rides broadcast
    // exchanges (never a corpus-wide shuffle), and the plan's shuffles
    // are the corpus argmax window, the per-query rank window, and the
    // presentation sort — nothing pairwise, nothing query-proportional
    // on the corpus side
    val plan = ranks.queryExecution.executedPlan
    val shuffles = SparkSpec.shuffleNodes(plan)
    assert(shuffles.size <= 4,
      s"annRankTable must shuffle at most 4 times (corpus argmax window; " +
        s"the BOUNDED query batch's own argmax window; the per-query rank " +
        s"window over probed-cell candidates; presentation sort), " +
        s"got ${shuffles.size}:\n$plan")
    val hasBroadcast = plan.toString.contains("BroadcastExchange") ||
      plan.toString.contains("BroadcastQueryStage")
    assert(hasBroadcast,
      s"the bounded query/centroid sides must broadcast, got:\n$plan")
    // refusals: a shape that isn't an embeddings artifact
    val bad = intercept[IllegalArgumentException] {
      EmbeddingQueries.annRankTable(emb.drop("embedding"), emb, k = 5)
    }
    assert(bad.getMessage.contains("vec_id, embedding"), bad.getMessage)
    intercept[IllegalArgumentException] {
      EmbeddingQueries.annRankTable(emb, emb, k = 0)
    }
  }

  test("quantized rerank recovers >=0.9 of the exact top-5 (s06 vs s01)") {
    val exact = EmbeddingQueries.queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val reranked = EmbeddingQueries.queries("s06_quantized_rerank")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (reranked & exact).size.toDouble / exact.size
    // int8 reconstruction error is bounded by half a quantization step
    // (s05's 1/510 bound), so the coarse top-20 virtually always contains
    // the true top-5 and the exact rerank restores it — near-total recall
    // is the POINT of the two-stage shape, unlike the bucketed s02/s04
    assert(recall >= 0.9, s"quantized-rerank recall vs exact too low: $recall")
  }

  test("IVF+PQ rerank recalls >=0.9 of the exact top-5 (s08 vs s01)") {
    val exact = EmbeddingQueries.queries("s01_knn_bruteforce")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = EmbeddingQueries.queries("s08_ivfpq_rerank")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    // the two-stage bar (s06's): residual int8 error is small enough
    // that the quantized coarse top-20 keeps the true top-5, the exact
    // rerank restores order, and nprobe=12 keeps cell-pruning losses
    // under the bar on this weakly-clustered corpus
    assert(recall >= 0.9, s"IVF+PQ recall vs exact top-5 too low: $recall")
  }

  test("SemDeDup drops exactly one of a planted near-identical pair, " +
    "keeping the member farther from its centroid (s09)") {
    import spark.implicits._
    // 40 deterministic pseudo-random vectors + vec 100 ≈ vec 0 (cosine
    // ~0.9999): the planted pair must land in one cell and lose exactly
    // one member; everything else is isotropic noise far below the bar
    def vec(seed: Int): Array[Double] =
      Array.tabulate(64) { i =>
        var z = (seed.toLong << 32 | i.toLong) + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z ^= z >>> 27
        (z % 1000L).toDouble / 1000.0
      }
    val near = vec(0).clone(); near(0) += 0.001
    val rows = (0 until 40).map(i => (i.toLong, vec(i))) :+ (100L, near)
    val out = EmbeddingQueries.semDedup(rows.toDF("vec_id", "v")).collect()
    assert(out.length == 41, "disposition must cover every vector once")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    val (d0, d100) = (byId(0L), byId(100L))
    val decisions = Seq(d0, d100).map(_.getString(3))
    assert(decisions.sorted == Seq("drop", "keep"),
      s"planted pair must lose exactly one member, got $decisions")
    val (dropped, kept) = if (d0.getString(3) == "drop") (d0, d100) else (d100, d0)
    // the keep policy: the dropped member sits CLOSER to the centroid
    assert(dropped.getDouble(2) >= kept.getDouble(2),
      "SemDeDup must keep the member farther from its cell centroid")
    assert(dropped.getLong(4) == kept.getLong(0),
      "a dropped member's canon must be the neighbor it lost to")
    assert(dropped.getLong(5) >= 1L)
  }

  test("semantic decontamination drops a planted paraphrase-grade train " +
    "vector and nothing else (s10)") {
    import spark.implicits._
    // train = 40 isotropic vectors + id 100 ≈ eval 1000 (a fresh
    // direction not otherwise in train); eval = that vector + a far
    // isotropic one. Only the planted train vector may drop, and its
    // witness must be the near-identical eval vector. The FULL
    // three-step splitmix finalizer matters here: the two-step variant
    // the s09 fixture uses leaves components correlated enough that
    // noise pairs reach cosine ~0.7, which would blur exactly the
    // "nothing else drops" assertion this fixture exists to make
    // (seeds 52/46 sit at max |cos| ≈ 0.22 vs the train set).
    def vec(seed: Int): Array[Double] =
      Array.tabulate(64) { i =>
        var z = (seed.toLong << 32 | i.toLong) + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        (z % 1000L).toDouble / 1000.0
      }
    val planted = vec(52).clone(); planted(0) += 0.001
    val train = (0 until 40).map(i => (i.toLong, vec(i))) :+ (100L, planted)
    val eval = Seq((1000L, vec(52)), (1001L, vec(46)))
    val out = EmbeddingQueries.semDecontam(
      train.toDF("vec_id", "v"), eval.toDF("vec_id", "v")).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq ==
      train.map(_._1).sorted.toSeq,
      "disposition must cover exactly the train side, once each")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    val hit = byId(100L)
    assert(hit.getString(2) == "drop", "planted contamination must drop")
    assert(hit.getLong(3) == 1000L, "witness must be the nearest eval id")
    assert(hit.getDouble(4) >= EmbeddingQueries.semDecTau)
    assert(hit.getLong(5) >= 1L)
    out.filter(_.getLong(0) != 100L).foreach { r =>
      assert(r.getString(2) == "keep" && r.isNullAt(3) && r.getLong(5) == 0L,
        s"isotropic train vector ${r.getLong(0)} must keep")
    }
  }

  test("semantic decontamination dispositions exactly the train split, " +
    "witnesses in the eval split above the bar (s10)") {
    val out = EmbeddingQueries.queries("s10_sem_decontam")(spark, sfSmoke)
      .collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    out.foreach(r => assert(r.getLong(0) % 10 != 0,
      "only train-side vectors may appear in the disposition"))
    out.filter(_.getString(2) == "drop").foreach { r =>
      assert(r.getLong(3) % 10 == 0, "witness must be an eval-side vector")
      assert(r.getDouble(4) >= EmbeddingQueries.semDecTau)
      assert(r.getLong(5) >= 1L)
    }
    out.filter(_.getString(2) == "keep")
      .foreach(r => assert(r.isNullAt(3) && r.getLong(5) == 0L))
  }

  test("coreset sample keeps at most perCell members per cell, periphery " +
    "first (s11)") {
    val out = EmbeddingQueries.queries("s11_coreset_sample")(spark, sfSmoke)
      .collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length,
      "disposition must cover every vector exactly once")
    val byCell = out.groupBy(_.getLong(1))
    byCell.foreach { case (cell, rows) =>
      val keeps = rows.filter(_.getString(4) == "keep")
      assert(keeps.length == math.min(20, rows.length),
        s"cell $cell must keep min(perCell, size): ${keeps.length} of ${rows.length}")
      // periphery-first: every kept member sits no closer to the
      // centroid than any dropped member of the same cell
      val maxKeep = keeps.map(_.getDouble(2)).maxOption.getOrElse(-2.0)
      rows.filter(_.getString(4) == "drop").foreach { d =>
        assert(d.getDouble(2) >= maxKeep ||
          rows.count(r => r.getDouble(2) == d.getDouble(2)) > 1,
          s"cell $cell drop ${d.getLong(0)} closer to periphery than a keep")
      }
      // ranks are a dense 1..size permutation within the cell
      assert(rows.map(_.getLong(3)).sorted.toSeq ==
        (1L to rows.length.toLong).toSeq)
    }
  }

  test("SemDeDup disposition is a partition with same-cell canons (s09)") {
    val out = EmbeddingQueries.queries("s09_semdedup")(spark, sfSmoke).collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    val cellOf = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.filter(_.getString(3) == "drop").foreach { r =>
      val canon = r.getLong(4)
      assert(canon != r.getLong(0), "canon must be a different vector")
      assert(cellOf.contains(canon), "canon must be a corpus vector")
      // SemDeDup never compares across cells, so the lost-to neighbor
      // shares the dropped member's cell by construction
      assert(cellOf(canon) == r.getLong(1), "canon must share the cell")
    }
    out.filter(_.getString(3) == "keep")
      .foreach(r => assert(r.isNullAt(4) && r.getLong(5) == 0L))
  }

  test("source overlap counts planted cross-source dups at distinct-fp " +
    "grain and emits the zero pairs (d41)") {
    import spark.implicits._
    // shared1 sits in A (twice — must count ONCE per source) and B;
    // shared2 in A and C; B and C share nothing
    val docs = Seq(
      (0L, "shared one", "A"), (1L, "shared one", "A"),
      (2L, "shared one", "B"), (3L, "shared two", "A"),
      (4L, "shared two", "C"), (5L, "only b", "B"), (6L, "only c", "C"))
      .toDF("doc_id", "text", "source")
    val out = DocumentQueries.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(out(("A", "B")) == (2L, 2L, 1L, 0.333333)) // 1 / (2+2-1)
    assert(out(("A", "C")) == (2L, 2L, 1L, 0.333333))
    assert(out(("B", "C")) == (2L, 2L, 0L, 0.0))
  }

  test("quality quantiles are the exact order statistics, bucket-count " +
    "independent, with pinned 0/100 edges (d43)") {
    import spark.implicits._
    val docs = Tables(spark, sfSmoke, "documents")
    val pcts = Seq(0, 1, 50, 99, 100)
    val got = DocumentQueries.qualityQuantiles(docs, pcts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // driver-side recompute of the exact order statistic
    val all = DocumentQueries.queries("d09_quality_score")(spark, sfSmoke)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, q) => (q, id) }
    val n = all.length
    val want = pcts.map { p =>
      val rank = math.max(1L, math.ceil(p * n / 100.0).toLong)
      val (id, q) = all((rank - 1).toInt)
      (p.toLong, rank, id, q)
    }
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    // p=0 pins the minimum (rank clamps to 1), p=100 the maximum
    assert(got.head._2 == 1L && got.last._2 == n.toLong)
    for (nb <- Seq(1, 64)) {
      val alt = DocumentQueries.qualityQuantiles(docs, pcts, nBuckets = nb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1)
      assert(alt.toSeq == got.toSeq, s"nBuckets=$nb changed the quantiles")
    }
  }

  test("per-source quantiles are the exact within-group order statistics, " +
    "bucket-count independent (d45)") {
    import spark.implicits._
    val docs = Tables(spark, sfSmoke, "documents")
    val pcts = Seq(10, 50, 90)
    val got = DocumentQueries.qualityQuantilesBySource(docs, pcts).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(t => (t._1, t._2))
    // driver recompute per source off the oracle-checked d09 columns
    val all = DocumentQueries.queries("d09_quality_score")(spark, sfSmoke)
      .select(col("doc_id"), col("quality")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val srcOf = docs.select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = srcOf.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      val sorted = rows.map { case (id, _) => (id, all(id)) }
        .sortBy { case (id, q) => (q, id) }
      pcts.map { p =>
        val rank = math.max(1L, math.ceil(p * sorted.length / 100.0).toLong)
        val (id, q) = sorted((rank - 1).toInt)
        (src, p.toLong, rank, id, q)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    for (nb <- Seq(1, 64)) {
      val alt = DocumentQueries.qualityQuantilesBySource(docs, pcts, nb)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).sortBy(t => (t._1, t._2))
      assert(alt.toSeq == got.toSeq, s"nBuckets=$nb changed the quantiles")
    }
  }

  test("corpus diff labels added/removed/retained at content grain with " +
    "copy counts (d44)") {
    import spark.implicits._
    val old = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "z"))
      .toDF("doc_id", "text")
    val nw = Seq((10L, "y"), (11L, "w")).toDF("doc_id", "text")
    val got = DocumentQueries.corpusDiff(old, nw).collect()
      .map(r => (r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5))).toSet
    assert(got == Set(
      ("removed", Some(1L), 1L, None, 0L),        // x
      ("retained", Some(2L), 1L, Some(10L), 1L),  // y — id churn is content-retained
      ("removed", Some(3L), 2L, None, 0L),        // z with 2 old copies
      ("added", None, 0L, Some(11L), 1L)), got)   // w
  }

  test("budget selection is the greedy quality-desc prefix and is " +
    "independent of the bucket count (d42)") {
    import spark.implicits._
    val docs = Tables(spark, sfSmoke, "documents")
    val got = DocumentQueries.budgetSelect(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._4)
    // driver-side recompute of the contract on the small corpus
    val all = DocumentQueries.queries("d09_quality_score")(spark, sfSmoke)
      .select(col("doc_id"), col("quality"), col("n_tok")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val budget = (all.map(_._3).sum * 0.25).toLong
    val want = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Long, Long)]
    // take-while, not knapsack: cum_tok is the FULL prefix sum, so the
    // first overflowing doc ends the selection (cum is strictly
    // increasing past the budget from there on)
    var cum = 0L
    all.sortBy { case (id, q, _) => (-q, id) }.foreach { case (id, q, n) =>
      cum += n
      if (cum <= budget) want += ((id, q, n, cum))
    }
    assert(got.toSeq == want.toSeq,
      "budgetSelect must equal the greedy quality-desc prefix sum")
    // the two-phase bucket decomposition must not change the answer
    for (nb <- Seq(1, 5, 64)) {
      val alt = DocumentQueries.budgetSelect(docs, nBuckets = nb).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._4)
      assert(alt.toSeq == got.toSeq, s"nBuckets=$nb changed the selection")
    }
  }

  test("duplicated-n-gram fraction: exact copies score 1.0, unique docs " +
    "0.0, straddling spans count (d47)") {
    import spark.implicits._
    def words(prefix: String, n: Int) =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = words("s", 8) // one exact 8-gram
    val docs = Seq(
      (1L, words("a", 12)),                  // unique
      (2L, words("a", 12)),                  // exact copy of 1
      (3L, words("b", 20)),                  // fully unique
      (4L, s"${words("c", 6)} $shared ${words("d", 6)}"), // carries span
      (5L, s"${words("e", 6)} $shared ${words("f", 6)}"), // carries span
      (6L, words("g", 7)))                   // < 8 tokens: no row
      .toDF("doc_id", "text")
    val out = DocumentQueries.dupNgramStats(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L),
      "docs under n tokens emit no row; the rest disposition once each")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // exact copies: every n-gram shared, df 2
    Seq(1L, 2L).foreach { id =>
      assert(byId(id).getLong(1) == 5L)           // 12 tokens → 5 8-grams
      assert(byId(id).getLong(2) == 5L)
      assert(byId(id).getDouble(3) == 1.0)
      assert(byId(id).getLong(4) == 2L)
    }
    // fully unique doc
    assert(byId(3L).getLong(2) == 0L && byId(3L).getDouble(3) == 0.0 &&
      byId(3L).getLong(4) == 1L)
    // span carriers: 20 tokens → 13 8-grams, exactly ONE of which (the
    // pure shared span) exists in the other carrier — the straddling
    // 8-grams mix the distinct context and stay unique
    Seq(4L, 5L).foreach { id =>
      assert(byId(id).getLong(1) == 13L)
      assert(byId(id).getLong(2) == 1L)
      assert(byId(id).getDouble(3) ==
        math.floor(1.0 / 13.0 * 10000) / 10000.0)
      assert(byId(id).getLong(4) == 2L)
    }
  }

  test("domain clustering: same-vocabulary docs share a cluster, disjoint " +
    "vocabularies separate, assignment is a partition (d48)") {
    import spark.implicits._
    // two disjoint vocabularies, several docs each: a dominant shared
    // 20-token core per group plus ONE rotating extra token, so
    // within-group vectors differ (this is not exact-dup collapse).
    // The vocabulary PAIR is empirically pinned (like s10's seeds):
    // k=8 over 2 tight groups legitimately learns near-duplicate
    // centroids for a group the seed assignment split, and a borderline
    // pair (e.g. alpha/omega) then flips members on the perturbation
    // token; alpha/kappa is one of the majority of pairs (24/45
    // tested) where one Lloyd round keeps both groups whole
    def doc(prefix: String, i: Int) =
      ((0 until 20).map(t => s"${prefix}_${t % 12}") :+ s"${prefix}_${i % 12}")
        .mkString(" ")
    val docs = ((0 until 5).map(i => (i.toLong, doc("alpha", i))) ++
      (10 until 15).map(i => (i.toLong, doc("kappa", i))))
      .toDF("doc_id", "text")
    val out = DocumentQueries.domainClusters(docs).collect()
    assert(out.length == 10 &&
      out.map(_.getLong(0)).distinct.length == 10,
      "every doc assigned exactly once")
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val alphas = (0L until 5L).map(cluster).distinct
    val kappas = (10L until 15L).map(cluster).distinct
    assert(alphas.length == 1, s"alpha docs must share a cluster: $alphas")
    assert(kappas.length == 1, s"kappa docs must share a cluster: $kappas")
    assert(alphas.head != kappas.head,
      "disjoint vocabularies must land in different clusters")
    out.foreach(r => assert(r.getLong(2) == 41L,
      "21 tokens carry 21 unigram + 20 bigram features"))
  }

  test("held-out LM scoring: in-train prose outscores OOV junk, oov_frac " +
    "exact, train docs never scored (d49)") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog sat"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, "the cat sat on the rug"),   // all terms in-train
      (11L, "zyx wvu tsr qpo nml kji"))  // fully OOV
      .toDF("doc_id", "text")
    val out = DocumentQueries.heldoutLogprob(train, eval).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 11L),
      "exactly the eval docs are scored, in id order")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(10L).getDouble(1) > byId(11L).getDouble(1),
      "in-train prose must outscore out-of-vocabulary junk")
    assert(byId(10L).getDouble(3) == 0.0, "no OOV tokens in doc 10")
    assert(byId(11L).getDouble(3) == 1.0, "every doc-11 token is OOV")
    assert(byId(10L).getLong(2) == 6L && byId(11L).getLong(2) == 6L)
    // the held-out model never sees the eval docs: an eval-only term
    // must score at the smoothing floor ln(1/(n_train + V)), which a
    // self-perplexity model (d23's) would never emit
    val floorLp = math.log(1.0 / (18 + 15))  // n_train=18, V=union=15
    val expected = math.floor(floorLp * 10000) / 10000.0
    assert(math.abs(byId(11L).getDouble(1) - expected) < 1e-9,
      s"OOV doc must sit exactly at the smoothing floor: " +
        s"${byId(11L).getDouble(1)} vs $expected")
  }

  test("concentration signals: top-token/top-2gram mass and longest " +
    "run, with the edge rows exact (d51)") {
    import spark.implicits._
    val docs = Seq(
      // "spam" claims 4/8 tokens, "spam spam" 3/7 grams, run of 3
      (1L, "spam spam spam ham eggs spam ham eggs"),
      // no repetition at all: every token and gram unique, runs of 1
      (2L, "one two three four"),
      // single token: top_tok_frac exactly 1.0, no grams, run 1
      (3L, "solo"),
      // empty and whitespace-only docs: all-zero rows, never missing
      (4L, ""),
      (5L, "   "))
      .toDF("doc_id", "text")
    val out = DocumentQueries.repConcentration(docs)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L),
      "one row per input doc in id order, empty docs included")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    def frac(n: Int, d: Int): Double = math.floor(n.toDouble / d * 1e6) / 1e6
    assert(byId(1L).getLong(1) == 8L)
    assert(byId(1L).getDouble(2) == frac(4, 8), "spam = 4 of 8 tokens")
    // bigrams: the spam-run of 3 yields two 'spam spam' occurrences;
    // 'spam ham' and 'ham eggs' also hit 2 — top mass is 2 of 7 slots
    assert(byId(1L).getDouble(3) == frac(2, 7),
      "top bigram must claim 2 of 7 slots")
    assert(byId(1L).getLong(4) == 3L, "the leading spam run is 3 long")
    assert(byId(2L).getDouble(2) == frac(1, 4) &&
      byId(2L).getDouble(3) == frac(1, 3) && byId(2L).getLong(4) == 1L,
      "an all-distinct doc floors every signal")
    assert(byId(3L).getDouble(2) == 1.0 && byId(3L).getDouble(3) == 0.0 &&
      byId(3L).getLong(4) == 1L, "single-token doc")
    Seq(4L, 5L).foreach { id =>
      assert(byId(id).getLong(1) == 0L && byId(id).getDouble(2) == 0.0 &&
        byId(id).getDouble(3) == 0.0 && byId(id).getLong(4) == 0L,
        s"doc $id must be the all-zero row")
    }
    // the scale claim, pinned: the only exchange in the physical plan
    // is the trailing presentation sort — the signal computation
    // itself is a shuffle-free projection. Counted through the AQE
    // wrapper (SparkSpec.shuffleCount): the old direct collect saw the
    // adaptive node as a leaf and matched nothing, so <= 1 held
    // vacuously.
    val exchanges = SparkSpec.shuffleNodes(out.queryExecution.executedPlan)
    assert(exchanges.size <= 1 && exchanges.forall(
      _.outputPartitioning.toString.toLowerCase.contains("range")),
      s"d51 must shuffle only for the final sort's range partitioning, " +
        s"got:\n${out.queryExecution.executedPlan}")
  }

  test("character-distribution census: code-point grain, fixed-point " +
    "micro-nat entropy, with the edge rows exact (d57)") {
    import spark.implicits._
    val docs = Seq(
      // single repeated char: zero entropy, top fraction exactly 1.0
      (1L, "aaaa"),
      // the two-symbol coin flip: entropy = 2·floor(0.5·ln 2·1e6)/1e6
      (2L, "ab"),
      // empty doc: the all-zero row, never missing
      (3L, ""),
      // spaces are code points too: 'a'×2 'b'×2 ' '×3 over n=7
      (4L, "a b a b"),
      // an astral pair is TWO code points, not four UTF-16 units
      (5L, "𐍈𐍈"))
      .toDF("doc_id", "text")
    val out = DocumentQueries.charEntropy(docs)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L),
      "one row per input doc in id order, empty docs included")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    def frac(n: Int, d: Int): Double = math.floor(n.toDouble / d * 1e6) / 1e6
    // the engine's per-distinct-char fixed-point term, replayed
    def entOf(ks: Seq[Int]): Double = {
      val n = ks.sum
      ks.map(k => math.floor(
        k.toDouble / n * math.log(n.toDouble / k) * 1e6).toLong).sum / 1e6
    }
    assert(byId(1L).getLong(1) == 4L && byId(1L).getLong(2) == 1L &&
      byId(1L).getDouble(3) == 1.0 && byId(1L).getDouble(4) == 0.0,
      "uniform doc: zero entropy, full top-char occupancy")
    assert(byId(2L).getLong(1) == 2L && byId(2L).getLong(2) == 2L &&
      byId(2L).getDouble(3) == frac(1, 2) &&
      byId(2L).getDouble(4) == entOf(Seq(1, 1)),
      "coin-flip doc: ln 2 nats, floored per term")
    assert(byId(3L).getLong(1) == 0L && byId(3L).getLong(2) == 0L &&
      byId(3L).getDouble(3) == 0.0 && byId(3L).getDouble(4) == 0.0,
      "empty doc must be the all-zero row")
    assert(byId(4L).getLong(1) == 7L && byId(4L).getLong(2) == 3L &&
      byId(4L).getDouble(3) == frac(3, 7) &&
      byId(4L).getDouble(4) == entOf(Seq(2, 2, 3)),
      "spaces census like any code point")
    assert(byId(5L).getLong(1) == 2L && byId(5L).getLong(2) == 1L &&
      byId(5L).getDouble(3) == 1.0 && byId(5L).getDouble(4) == 0.0,
      "astral glyphs count once each — the code-point grain")
    // the scale claim, pinned (the d51 discipline): the only exchange
    // in the physical plan is the trailing presentation sort
    val exchanges = SparkSpec.shuffleNodes(out.queryExecution.executedPlan)
    assert(exchanges.size <= 1 && exchanges.forall(
      _.outputPartitioning.toString.toLowerCase.contains("range")),
      s"d57 must shuffle only for the final sort's range partitioning, " +
        s"got:\n${out.queryExecution.executedPlan}")
  }

  test("paragraph salvage keeps above-bar paragraphs in position order, " +
    "all-junk docs survive as empty rebuilds (d50)") {
    import spark.implicits._
    val good1 = "the quick brown fox jumps over a lazy dog near the river"
    val good2 = "a gentle breeze moves over the quiet field near a farm"
    val paras = Seq(
      (1L, 0, good1), (1L, 1, "x"),
      (2L, 0, "zz"), (2L, 1, "q"),
      (3L, 0, good1), (3L, 1, "junk"), (3L, 2, good2))
      .toDF("doc_id", "pos", "para")
    val out = DocumentQueries.paragraphSalvage(paras, 0.5, " | ").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      "one disposition row per input doc, id order")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 2L && byId(1L).getLong(2) == 1L)
    assert(byId(1L).getString(3) == good1,
      "the junk paragraph must vanish from the rebuild")
    // a fully-junk doc still emits its row — an EMPTY rebuild, never a
    // silently-missing doc
    assert(byId(2L).getLong(2) == 2L && byId(2L).getString(3) == "")
    // rebuild preserves position order across a dropped middle
    assert(byId(3L).getString(3) == s"$good1 | $good2",
      s"rebuild must keep positions ordered: ${byId(3L).getString(3)}")
  }

  test("DSIR weights rank target-like raw docs above off-target ones, " +
    "feature counts exact (d46)") {
    import spark.implicits._
    // target corpus: homogeneous "science" vocabulary. Raw corpus: doc
    // 1 reuses that vocabulary (its hashed features are dense in the
    // target model → positive-leaning log ratio), doc 2 is disjoint
    // junk (features absent from the target → every bucket smooths to
    // the 1/(tp+B) floor). The planted ordering is the operator's whole
    // point: score(target-like) > score(off-target).
    val target = Seq(
      (10L, "quantum field theory predicts particle interactions"),
      (11L, "particle physics theory predicts quantum interactions"),
      (12L, "field theory predicts quantum particle physics"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "quantum theory predicts particle physics interactions"),
      (2L, "zxq vbn mmm koko zzz plplpl qqq"))
      .toDF("doc_id", "text")
    val out = DocumentQueries.dsirWeights(raw, target).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "disposition must cover exactly the raw docs, ordered by id")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getDouble(1) > byId(2L).getDouble(1),
      s"target-like doc must outscore off-target junk: $out")
    // features = unigrams + bigrams: a 6-token doc carries 6 + 5, a
    // 7-token doc 7 + 6 (counts, not distincts — repeats accumulate)
    assert(byId(1L).getLong(2) == 11L)
    assert(byId(2L).getLong(2) == 13L)
  }

  test("PII scrubber redacts emails and IPv4s, counts them, leaves prose alone (d20)") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail alice.smith+x@sub.example.co.uk and 192.168.1.254 now"),
      (2L, "no pii here, just a version 1.2 and an at sign @ alone"),
      (3L, "two mails a@b.io c@d.org and two hosts 10.0.0.1 8.8.8.8"))
      .toDF("doc_id", "text")
    val got = DocumentQueries.scrubPii(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("mail [EMAIL] and [IP] now", 1L, 1L)))
    // dotted version numbers and bare @ must NOT be redacted
    assert(got(2L) == (("no pii here, just a version 1.2 and an at sign @ alone", 0L, 0L)))
    assert(got(3L) == (("two mails [EMAIL] [EMAIL] and two hosts [IP] [IP]", 2L, 2L)))
    // literal sentinels ALREADY IN the text (scraped docs about redaction
    // contain them) must not inflate the counts — they measure redactions
    // performed, not sentinel occurrences
    val literal = DocumentQueries.scrubPii(Seq(
      (9L, "use the [EMAIL] placeholder and one real pair x@y.dev 1.2.3.4"))
      .toDF("doc_id", "text")).collect().head
    assert(literal.getString(1) ==
      "use the [EMAIL] placeholder and one real pair [EMAIL] [IP]")
    assert(literal.getLong(2) == 1L && literal.getLong(3) == 1L)
  }

  test("dup clusters are consistent closures of the pair graph (d11)") {
    val docs = Tables(spark, sfSmoke, "documents")
    val pairs = DedupQueries.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cluster = DedupQueries.duplicateClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cluster.nonEmpty)
    // every paired doc is labeled, both ends share a label, and the label
    // is the min doc_id of the member set (canonical representative)
    pairs.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    cluster.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label, s"cluster $label not min-labeled")
    }
    // transitivity stress on the component engine itself: a 400-link
    // path graph (diameter 399) must collapse to ONE cluster. An
    // O(diameter) one-hop propagation cannot finish this inside any sane
    // round cap; the pointer-doubling step converges in O(log d) rounds.
    import spark.implicits._
    val path = (0 until 399).map(k => (k.toLong, k.toLong + 1))
      .toDF("doc_a", "doc_b")
    val chained = DedupQueries.connectedComponents(path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chained.size == 400 && chained.values.forall(_ == 0L),
      s"path did not collapse: ${chained.values.toSet.size} clusters")
    // ...and end-to-end through REAL text + LSH banding: a short drift
    // chain whose links only exist pairwise (a~b, b~c, c~d) must come out
    // of the full duplicateClusters pipeline as one cluster
    val base = (0 until 40).map(t => s"tok$t").mkString(" ")
    def drift(n: Int) = ((0 until 40).map(t => s"tok$t") ++ Seq.fill(n)(s"pad$n"))
      .drop(n).mkString(" ")
    val textChain = Seq(100L -> base, 101L -> drift(2), 102L -> drift(4),
      103L -> drift(6)).toDF("doc_id", "text")
    val textClusters = DedupQueries.duplicateClusters(textChain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(textClusters.size == 4 && textClusters.values.forall(_ == 100L),
      s"text chain did not collapse: $textClusters")
  }

  test("dedup apply keeps exactly one doc per content cluster (d25)") {
    import spark.implicits._
    // corpus exercising every disposition path: {1,2,3} byte-identical
    // (exact stage), {11,12} identical to each other and a 2-token drift
    // from doc 1's text (near-dup cluster whose canonical chases through
    // BOTH stages), {30,31} identical shingle-less texts (sentinel docs
    // never enter the band machinery but are still exact dups), and a
    // unique doc 20
    val base = (0 until 40).map(t => s"tok$t").mkString(" ")
    val drift = ((0 until 40).map(t => s"tok$t") ++ Seq("padA", "padB"))
      .drop(2).mkString(" ")
    val docs = Seq(
      1L -> base, 2L -> base, 3L -> base,
      11L -> drift, 12L -> drift,
      20L -> (0 until 30).map(t => s"uniq$t").mkString(" "),
      30L -> "x", 31L -> "x").toDF("doc_id", "text")
    val out = DedupQueries.dedupApply(docs)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedupApply left cached tables behind")
    val rows = out.collect()
    // length BEFORE the by-doc_id map: a fan-out regression (e.g. a
    // non-unique clusters side) emits duplicate rows toMap would hide
    assert(rows.length == 8, s"one disposition row per doc expected, " +
      s"got ${rows.length}")
    val m = rows
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(m(1L) == ((1L, "kept")))
    assert(m(2L) == ((1L, "exact_dup")) && m(3L) == ((1L, "exact_dup")))
    // 11 is {11,12}'s fp representative; its near-dup cluster keeps 1 —
    // and 12's canonical chases through 11's cluster to 1 in one step
    assert(m(11L) == ((1L, "near_dup")), s"got ${m(11L)}")
    assert(m(12L) == ((1L, "exact_dup")), s"got ${m(12L)}")
    assert(m(20L) == ((20L, "kept")))
    assert(m(30L) == ((30L, "kept")) && m(31L) == ((30L, "exact_dup")))
    // global invariants: every canonical_id references a kept doc, and
    // filtering to kept yields exactly one doc per canonical
    val kept = m.filter(_._2._2 == "kept").keySet
    assert(m.values.map(_._1).toSet == kept,
      "a canonical_id references a dropped doc")
  }

  test("dedup apply fails loudly on schema deviations (d25 CLI contract)") {
    import spark.implicits._
    def msgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // string doc_id: connectedComponents' label cast would null every
    // cluster_id and silently pass all near-dups as kept
    val e1 = intercept[IllegalArgumentException] {
      DedupQueries.dedupApply(
        Seq(("a", "words here now")).toDF("doc_id", "text"))
    }
    assert(e1.getMessage.contains("integral"))
    // null text: md5(null) would collapse unrelated docs into one
    // "exact-dup" group of the smallest null-text id
    val e2 = intercept[Exception] {
      DedupQueries.dedupApply(
        Seq(1L -> "fine words here", 2L -> null.asInstanceOf[String])
          .toDF("doc_id", "text"))
    }
    assert(msgs(e2).contains("null text"), msgs(e2))
    // replayed corpus (same doc_id twice): both copies would get
    // rep = canonical = self and read 'kept' — the guard must fire at
    // the library level, not only in the CLI, and before the pipeline
    val e3 = intercept[IllegalArgumentException] {
      DedupQueries.dedupApply(
        Seq(3L -> "same replayed text", 3L -> "same replayed text")
          .toDF("doc_id", "text"))
    }
    assert(e3.getMessage.contains("duplicate doc_id"), e3.getMessage)
  }

  test("sequence packing: conservation, full sequences, bucket independence (d26)") {
    import spark.implicits._
    // token counts 0..18 across 60 docs; i % 7 == 0 docs are EMPTY (zero
    // tokens — must occupy no positions and emit no slices); several docs
    // are longer than seqLen so slices straddle multiple sequences
    val docs = (1L to 60L).map { i =>
      i -> (0 until (i % 7).toInt * 3).map(t => s"w${i}_$t").mkString(" ")
    }.toDF("doc_id", "text")
    val S = 16L
    val packed = DocumentQueries.packSequences(docs, seqLen = S, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // conservation: each non-empty doc's slices sum to its token count
    // and tile the doc contiguously from token 0
    val byDoc = packed.groupBy(_._2)
    (1L to 60L).foreach { i =>
      val n = (i % 7) * 3
      if (n == 0) assert(!byDoc.contains(i), s"empty doc $i emitted slices")
      else {
        val slices = byDoc(i).sortBy(_._3)
        assert(slices.map(_._5).sum == n, s"doc $i slices don't sum to $n")
        assert(slices.head._3 == 0L, s"doc $i doesn't start at token 0")
        slices.sliding(2).foreach {
          case Array(a, b) => assert(a._3 + a._5 == b._3,
            s"doc $i slices leave a gap")
          case _ => ()
        }
      }
    }
    // every sequence except the last is exactly full, starts at position
    // 0, and its slices tile [0, S) with no gaps
    val bySeq = packed.groupBy(_._1)
    val maxSeq = bySeq.keys.max
    bySeq.foreach { case (seqId, slices) =>
      val sorted = slices.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"seq $seqId doesn't start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4,
          s"seq $seqId has a gap")
        case _ => ()
      }
      if (seqId < maxSeq)
        assert(sorted.map(_._5).sum == S, s"seq $seqId is not full")
    }
    // the distributed prefix sum is partitioning-independent: 1 bucket
    // (the degenerate single-range case) and 4 buckets agree bit-for-bit
    val oneBucket = DocumentQueries
      .packSequences(docs, seqLen = S, nBuckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(oneBucket.sorted.sameElements(packed.sorted),
      "packing depends on the bucket count")
  }

  test("packing provenance round-trips: slices + corpus reassemble every sequence token-exactly (d26)") {
    import spark.implicits._
    // the packing contract the conservation/tiling pins don't close:
    // (doc_start, seq_start, n_toks) must let a data loader rebuild each
    // training sequence from the raw corpus. Mixed lengths, a zero-token
    // doc, and a doc longer than 2 sequences, under a bucket count that
    // splits the id range mid-document-run.
    val S = 8
    val docTokens: Seq[(Long, Seq[String])] = Seq(
      1L -> (0 until 3).map(t => s"a$t"),
      2L -> (0 until 7).map(t => s"b$t"),
      3L -> Seq.empty[String],                 // zero-token: no rows, no positions
      5L -> (0 until 19).map(t => s"c$t"),     // straddles 3+ sequences
      8L -> (0 until 5).map(t => s"d$t"),
      9L -> Seq("solo"))
    val docs = docTokens
      .map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    // ground truth: global token stream in doc_id order, cut every S
    val stream = docTokens.sortBy(_._1).flatMap(_._2)
    val expected = stream.grouped(S).zipWithIndex
      .map { case (toks, i) => i.toLong -> toks }.toMap
    val byDoc = docTokens.toMap
    val slices = DocumentQueries.packSequences(docs, seqLen = S, nBuckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val rebuilt = slices.groupBy(_._1).map { case (seqId, rows) =>
      val ordered = rows.sortBy(_._4)
      // slices must tile the sequence exactly: each starts where the
      // previous ended
      ordered.foldLeft(0L) { case (at, (_, _, _, seqStart, n)) =>
        assert(seqStart == at, s"seq $seqId: slice at $seqStart, expected $at")
        at + n
      }
      seqId -> ordered.flatMap { case (_, docId, docStart, _, n) =>
        byDoc(docId).slice(docStart.toInt, (docStart + n).toInt)
      }.toSeq
    }
    assert(rebuilt.keySet == expected.keySet,
      s"sequence ids diverge: ${rebuilt.keySet} vs ${expected.keySet}")
    expected.foreach { case (seqId, toks) =>
      assert(rebuilt(seqId) == toks,
        s"seq $seqId reassembles to ${rebuilt(seqId)} not $toks")
    }
  }

  test("packing survives 63-bit doc_id ranges and refuses duplicates (d26)") {
    import spark.implicits._
    // ids spread across nearly the full positive Long range: the
    // multiply-first bucket form ((doc_id-lo)*nBuckets DIV range) wraps
    // negative here and scrambles the offsets; the width-DIV form must
    // agree bit-for-bit with the single-bucket ground truth
    val ids = Seq(3L, 1L << 40, 1L << 55, (1L << 60) + 17,
      (1L << 62) + 5, Long.MaxValue - 2)
    val docs = ids.zipWithIndex.map { case (id, i) =>
      id -> (0 to i * 5).map(t => s"w${i}_$t").mkString(" ")
    }.toDF("doc_id", "text")
    val got8 = DocumentQueries.packSequences(docs, seqLen = 7, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted
    val got1 = DocumentQueries.packSequences(docs, seqLen = 7, nBuckets = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted
    assert(got8.sameElements(got1),
      "huge-id bucketing diverges from the single-bucket ground truth")
    assert(got8.map(_._5).sum == ids.indices.map(_ * 5 + 1).sum,
      "token conservation broke on huge ids")
    // duplicate doc_id: the window's tie order is arbitrary, so which
    // copy gets the lower offset is nondeterministic — refuse loudly
    // (the dedupApply contract)
    val dup = Seq((5L, "a b c"), (5L, "d e"), (6L, "f")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      DocumentQueries.packSequences(dup, seqLen = 4, nBuckets = 2)
    }
    assert(e.getMessage.contains("duplicate doc_id"), e.getMessage)
  }

  test("span dedup drops cross-doc repeats, keeps the canonical, ignores df=1 (d28)") {
    import spark.implicits._
    // planted repeated-paragraph corpus, every disposition known:
    //   SHARED A in docs 1,2,3 (df=3; doc 3 carries it TWICE) —
    //     canonical (1,1); (2,0), (3,1), (3,2) dropped
    //   SHARED B in docs 2,3 (df=2) — canonical (2,2); (3,0) dropped
    //   doc 4 repeats "delta unique" twice WITHIN itself (df=1) —
    //     cross-doc dedup must keep BOTH copies
    val paras = Seq(
      (1L, 0, "alpha unique one"), (1L, 1, "SHARED A"), (1L, 2, "beta unique"),
      (2L, 0, "SHARED A"), (2L, 1, "gamma unique"), (2L, 2, "SHARED B"),
      (3L, 0, "SHARED B"), (3L, 1, "SHARED A"), (3L, 2, "SHARED A"),
      (4L, 0, "delta unique"), (4L, 1, "delta unique"))
      .toDF("doc_id", "pos", "para")
    val disp = DocumentQueries.spanDispositions(paras).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(disp((1L, 1)) == (3L, false), "canonical SHARED A occurrence dropped")
    assert(disp((2L, 0)) == (3L, true))
    assert(disp((3L, 1)) == (3L, true) && disp((3L, 2)) == (3L, true),
      "same-doc re-occurrences of a cross-doc span must drop")
    assert(disp((2L, 2)) == (2L, false), "canonical SHARED B occurrence dropped")
    assert(disp((3L, 0)) == (2L, true))
    assert(disp((4L, 0)) == (1L, false) && disp((4L, 1)) == (1L, false),
      "within-doc-only repetition (df=1) is not this operator's business")
    assert(disp((1L, 0)) == (1L, false) && disp((1L, 2)) == (1L, false))
    val sums = DocumentQueries.spanDedup(paras).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    assert(sums(1L) == (3L, 0L, 0L, "alpha unique one | SHARED A | beta unique"))
    assert(sums(2L) == (3L, 1L, 8L, "gamma unique | SHARED B"))
    // doc 3 loses all three paragraphs (8 + 8 + 8 chars), reconstructs empty
    assert(sums(3L) == (3L, 3L, 24L, ""))
    assert(sums(4L) == (2L, 0L, 0L, "delta unique | delta unique"))
  }

  test("BPE merge loop: argmax order, greedy overlap, tie-break, exhaustion (d29)") {
    import spark.implicits._
    // word freqs: aaab x2, ab x1, cd x3 — every round hand-computable:
    //   r1: (a,a)=4 (overlapping positions in aaab count twice) beats
    //       (a,b)=3 and (c,d)=3 -> merge aa; aaab becomes [aa,a,b]
    //       (GREEDY left-to-right: the 2nd+3rd 'a' do NOT re-merge)
    //   r2: (a,b)=3 TIES (c,d)=3 -> lexicographic tie-break picks (a,b);
    //       [aa,a,b] -> [aa,ab]
    //   r3: (c,d)=3 -> cd
    //   r4: (aa,ab)=2 -> aaab
    //   r5+: no pairs left -> the loop exhausts gracefully, 4 rows only
    val docs = Seq((1L, "aaab ab cd"), (2L, "aaab cd cd"))
      .toDF("doc_id", "text")
    val got = DocumentQueries.bpeMerges(docs, k = 6).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "a", "a", "aa", 4L),
      (2L, "a", "b", "ab", 3L),
      (3L, "c", "d", "cd", 3L),
      (4L, "aa", "ab", "aaab", 2L)),
      s"merge table diverges: ${got.mkString(", ")}")
    // k = 1 trains exactly the round-1 merge
    val best = DocumentQueries.bpeMerges(docs, k = 1)
    assert(best.count() == 1L)
    // d29b apply: after 2 merges (aa, then ab) the vocab tokenizes
    // aaab->[aa,ab]=2, ab->[ab]=1, cd->[c,d]=2 — counts per doc are
    // hand-checkable sums over the SAME term stream
    val toks = DocumentQueries.bpeTokenCountsFromMerges(docs,
        DocumentQueries.bpeMerges(docs, k = 2)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(toks(1L) == (3L, 5L), s"doc 1 tokenized to ${toks(1L)}") // aaab ab cd
    assert(toks(2L) == (3L, 6L), s"doc 2 tokenized to ${toks(2L)}") // aaab cd cd
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    // on a real corpus slice, at a k deep enough for ties and
    // multi-symbol merges, the table keeps the invariants of any correct
    // trainer: ranks 1..n with no gaps, merged = lhs ++ rhs, and
    // pair_count never rising from one rank to the next (a merge only
    // removes old adjacencies, and every new pair contains the new
    // symbol, which occurs at most that round's count times)
    val corpus = Tables(spark, sfSmoke, "documents").limit(80)
      .select("doc_id", "text")
    val table = rows(DocumentQueries.bpeMerges(corpus, k = 25))
    assert(table.size == 25, table)
    assert(table.map(_._1) == (1L to 25L), table)
    table.foreach { case (_, l, r, m, _) =>
      assert(m == l + r, s"merged $m is not $l ++ $r")
    }
    table.map(_._5).sliding(2).foreach { case Seq(a, b) =>
      assert(a >= b, s"pair_count rose from $a to $b: $table")
    }
    // the web-scale collect floor: minCount=1 (the default) is the
    // identity — explicit floor 1 must train the EXACT same table on
    // fixture and corpus
    assert(rows(DocumentQueries.bpeMerges(docs, k = 6,
        minCount = 1L)) == got.toSeq,
      "minCount=1 must be the identity floor (fixture)")
    assert(rows(DocumentQueries.bpeMerges(corpus, k = 25,
        minCount = 1L)) == table,
      "minCount=1 must be the identity floor (corpus)")
    // minCount=2 drops the fixture's ONE hapax word ("ab" — frequencies
    // aaab:2, ab:1, cd:3), so training sees aaab:2 + cd:3 only; the
    // resulting table is hand-derivable: (a,a):4 still wins round 1,
    // (c,d):3 now wins round 2 (the pruned (a,b) fell from 3 to 2),
    // the round-3 tie between (a,b):2 and (aa,a):2 breaks to (a,b) on
    // UTF-8 lhs order, and (aa,ab):2 completes aaab. The floor changes
    // the trained table ONLY through the dropped hapax — exactly the
    // documented trade
    assert(rows(DocumentQueries.bpeMerges(docs, k = 6,
        minCount = 2L)) == Seq(
      (1L, "a", "a", "aa", 4L),
      (2L, "c", "d", "cd", 3L),
      (3L, "a", "b", "ab", 2L),
      (4L, "aa", "ab", "aaab", 2L)),
      "minCount=2 must train on the hapax-pruned word table")
    // on a fixture with NO hapax words, floor 2 IS the identity — the
    // semantics-preserving-in-practice claim at its exact boundary
    val noHapax = Seq((1L, "aaab ab cd"), (2L, "aaab cd cd"), (3L, "ab"))
      .toDF("doc_id", "text")
    assert(rows(DocumentQueries.bpeMerges(noHapax, k = 6,
        minCount = 2L)) ==
      rows(DocumentQueries.bpeMerges(noHapax, k = 6)),
      "minCount=2 must be the identity on a hapax-free corpus")
    // a floor above every frequency trains nothing rather than
    // inventing merges from an empty table; floor 0 refuses loudly
    assert(DocumentQueries.bpeMerges(docs, k = 6,
      minCount = 100L).count() == 0L)
    intercept[IllegalArgumentException] {
      DocumentQueries.bpeMerges(docs, k = 6, minCount = 0L)
    }
    // the rank-priority apply equals training-time tokenization on the
    // corpus slice: each word run through the k=25 table's rounds in
    // order, one greedy left-to-right pass per round, in plain Scala
    def roundPasses(word: String): Int = table.foldLeft(
        word.codePoints().toArray.toSeq
          .map(cp => new String(Character.toChars(cp)))) {
      case (syms, (_, l, r, _, _)) =>
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
    }.length
    val expected = corpus.collect().map { r =>
      val words = r.getString(1).split(" ").filter(_.nonEmpty)
      r.getLong(0) -> ((words.length.toLong, words.map(roundPasses(_).toLong).sum))
    }.filter(_._2._1 > 0).toMap
    def tokRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(tokRows(DocumentQueries.bpeTokenCountsFromMerges(corpus,
        DocumentQueries.bpeMerges(corpus, k = 25))) == expected,
      "rank-priority apply diverges from training-time tokenization (corpus)")
    // a non-artifact table is refused loudly
    val eTok = intercept[IllegalArgumentException] {
      DocumentQueries.bpeTokenCountsFromMerges(docs,
        DocumentQueries.bpeMerges(docs, k = 2).drop("rhs"))
    }
    assert(eTok.getMessage.contains("rhs"), eTok.getMessage)
  }

  test("BPE trainer: the same Spark jobs at k = 1 and k = 25 (d29)") {
    // clock-free pin of the one-corpus-pass shape: every merge round runs
    // in driver memory, so a deeper table schedules no extra job
    val corpus = Tables(spark, sfSmoke, "documents").limit(80)
      .select("doc_id", "text")
    val m = new DevKit.Meter(spark)
    try {
      def jobs(k: Int): Int = {
        m.drain() // let earlier suites' trailing events pass first
        m.reset()
        assert(DocumentQueries.bpeMerges(corpus, k).collect().length == k)
        m.drain().jobs
      }
      val (one, deep) = (jobs(1), jobs(25))
      assert(one >= 1 && deep == one, s"jobs at k=1: $one, at k=25: $deep")
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("temperature sampling refuses null lang and null text loudly (d27)") {
    import spark.implicits._
    // one malformed null-lang row would otherwise become its own c=1
    // group, crush every real language's rate via c_min=1, and itself
    // vanish at the equi-join with no decision row
    val nullLang = Seq((1L, "en", "a doc"), (2L, null, "orphan"))
      .toDF("doc_id", "lang", "text")
    val e = intercept[Exception] {
      DocumentQueries.temperatureSample(nullLang).collect()
    }
    assert(e.getMessage.contains("null lang"), e.getMessage)
    // null TEXT would hash to a NULL sample bucket and read 'dropped'
    // even in the rarest language — the shared hashBucketCol refuses it
    // (same discipline for d13's split bucket)
    val nullText = Seq((1L, "en", "a doc"), (2L, "en", null))
      .toDF("doc_id", "lang", "text")
    val e2 = intercept[Exception] {
      DocumentQueries.temperatureSample(nullText).collect()
    }
    assert(e2.getMessage.contains("null text"), e2.getMessage)
    val e3 = intercept[Exception] {
      DocumentQueries.splitAssign(nullText.select($"doc_id", $"text"))
        .collect()
    }
    assert(e3.getMessage.contains("null text"), e3.getMessage)
  }

  test("temperature sampling keeps the rarest language whole (d27)") {
    import spark.implicits._
    // 4 'ra' docs, 16 'en' docs, 64 'xx' docs: rates 10000 / 5000 / 2500
    // basis points (sqrt(4/16), sqrt(4/64))
    val docs = ((1L to 4L).map(i => (i, "ra", s"rare doc $i words here")) ++
      (11L to 26L).map(i => (i, "en", s"common doc $i words here")) ++
      (31L to 94L).map(i => (i, "xx", s"bulk doc $i words here")))
      .toDF("doc_id", "lang", "text")
    val out = DocumentQueries.temperatureSample(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    val rates = out.map(r => r._2 -> r._3).toMap
    assert(rates == Map("ra" -> 10000L, "en" -> 5000L, "xx" -> 2500L),
      s"unexpected rates: $rates")
    // the rarest language is kept in full (rate 10000 > any bucket)
    assert(out.filter(_._2 == "ra").forall(_._4 == "kept"),
      "a rarest-language doc was dropped")
    // downsampled languages drop SOMETHING at these rates on this corpus
    // (content-hash buckets spread; all-kept would mean the gate is dead)
    assert(out.filter(_._2 == "xx").exists(_._4 == "dropped"),
      "the 4x-downsampled language dropped nothing")
    // decisions are a pure function of (text, lang counts): re-running
    // agrees (stability is the whole point of hash-gated sampling)
    val again = DocumentQueries.temperatureSample(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    assert(again.sorted.sameElements(out.sorted))
  }

  test("ngram decontamination: eval report + train remediation on planted span copies (d30/d32)") {
    import spark.implicits._
    // an eval doc that copies a span from a train doc: straddlePair
    // gives base (train bucket) and leak = base + tail (test bucket) —
    // every 8-gram of base recurs verbatim in leak
    val body = (0 until 20).map(t => s"sp$t").mkString(" ")
    val (base, leak) = straddlePair(body)
    val nBase = base.split(" ").length
    val nLeak = leak.split(" ").length
    // a clean eval doc (unique tokens) and a sub-8-token eval doc
    val clean = (0 until 1000).iterator
      .map(i => (0 until 12).map(t => s"cl${i}_$t").mkString(" "))
      .find(bucketOf(_) >= 80).get
    val short_ = (0 until 1000).iterator
      .map(i => s"tiny$i one two").find(bucketOf(_) >= 80).get
    // a viral train span shared by MANY train docs: the pre-aggregated
    // train side must report min_train_doc over the whole group while
    // the eval row count stays |eval docs| — no pair expansion
    val viralSpan = (0 until 8).map(t => s"vs$t").mkString(" ")
    val viralTrain = (0 until 20).map { k =>
      val t = (0 until 1000).iterator
        .map(i => s"$viralSpan v${k}_$i vpad vpadd")
        .find(bucketOf(_) < 80).get
      (300L + k, t)
    }
    val evalViral = (0 until 1000).iterator
      .map(i => s"$viralSpan ev$i evpad evpadd")
      .find(bucketOf(_) >= 80).get
    // a clean train doc: unique tokens, must land train — the d32
    // 'keep' witness
    val cleanTrain = (0 until 1000).iterator
      .map(i => (0 until 12).map(t => s"ct${i}_$t").mkString(" "))
      .find(bucketOf(_) < 80).get
    val docs = (Seq((0L, base), (1L, leak), (2L, clean), (3L, short_),
      (4L, evalViral), (5L, cleanTrain)) ++ viralTrain)
      .toDF("doc_id", "text")
    val got = DocumentQueries.ngramDecontamination(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(5))).toMap
    // exactly the >=8-token eval docs emit a row; train docs and the
    // short doc do not
    assert(got.keySet == Set(1L, 2L, 4L), s"rows for ${got.keySet}")
    assert(got.values.forall(v => v._1 == "val" || v._1 == "test"))
    // leak: all n_base-7 grams of base hit; the tail-overlapping grams
    // (and any saltless new ones) do not
    val (_, leakGrams, leakHits, leakMin) = got(1L)
    assert(leakGrams == nLeak - 7L, s"leak grams $leakGrams")
    assert(leakHits == nBase - 7L, s"leak hits $leakHits")
    assert(leakMin == 0L, s"leak witness $leakMin")
    val (_, cGrams, cHits, cMin) = got(2L)
    assert(cGrams == 5L && cHits == 0L && cMin == -1L,
      s"clean doc: ${got(2L)}")
    // the viral eval doc: exactly ONE gram (the span itself) hits, and
    // the witness is the smallest doc of the 20-strong train group
    val (_, vGrams, vHits, vMin) = got(4L)
    assert(vGrams == 4L && vHits == 1L && vMin == 300L,
      s"viral eval: ${got(4L)}")
    // d32 over the SAME corpus — the remediation side: every train doc
    // carrying an eval n-gram reads 'drop' with the leaking eval doc as
    // witness; the clean train doc reads 'keep'; eval docs emit no row
    val rem = DocumentQueries.trainDecontamination(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toMap
    assert(rem.keySet == (Set(0L, 5L) ++ (300L until 320L)),
      s"train rows for ${rem.keySet}")
    // base: every one of its grams recurs in leak — fully compromised
    assert(rem(0L) == ((nBase - 7L, nBase - 7L, 1L, "drop")),
      s"base: ${rem(0L)}")
    assert(rem(5L) == ((5L, 0L, -1L, "keep")), s"clean train: ${rem(5L)}")
    (300L until 320L).foreach { id =>
      val (g, h, w, d) = rem(id)
      assert(g == 4L && h == 1L && w == 4L && d == "drop",
        s"viral train $id: ${rem(id)}")
    }
  }

  test("span dedup matches a reference model on randomized corpora (d28)") {
    import spark.implicits._
    // model-based check: a straight-line in-memory implementation of
    // the d28 semantics, compared against the operator on seeded random
    // corpora (phrase pool small enough to force df>=2 groups, plus
    // unique fillers and same-doc re-occurrences by construction)
    val rnd = new scala.util.Random(20260814)
    val pool = (0 until 10).map(i => s"shared phrase number $i")
    (0 until 3).foreach { round =>
      val paras: Seq[(Long, Int, String)] = (0 until 25).flatMap { d =>
        val n = 1 + rnd.nextInt(5)
        (0 until n).map { p =>
          val text =
            if (rnd.nextBoolean()) pool(rnd.nextInt(pool.size))
            else s"unique r${round}_d${d}_p$p"
          (d.toLong, p, text)
        }
      }
      // reference model: canonical = global (doc, pos) min per text;
      // an occurrence drops iff its text spans >=2 DISTINCT docs and it
      // is not the canonical
      val byText = paras.groupBy(_._3)
      val dropped = paras.map { case (d, p, t) =>
        val occ = byText(t)
        val df = occ.map(_._1).distinct.size
        val canon = occ.map(o => (o._1, o._2)).min
        (d, p) -> (df >= 2 && (d, p) != canon)
      }.toMap
      val df = paras.toDF("doc_id", "pos", "para")
      val got = DocumentQueries.spanDispositions(df).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(4)).toMap
      assert(got == dropped, s"round $round: dispositions diverge")
      // the per-doc summary agrees with the model: counts, volume, and
      // the reconstruction in position order
      val summary = DocumentQueries.spanDedup(df).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
        .toMap
      paras.groupBy(_._1).foreach { case (d, ps) =>
        val (nP, nD, chD, cleaned) = summary(d)
        val drops = ps.filter(p => dropped((p._1, p._2)))
        assert(nP == ps.size && nD == drops.size &&
          chD == drops.map(_._3.length).sum, s"round $round doc $d")
        val expect = ps.sortBy(_._2)
          .filterNot(p => dropped((p._1, p._2))).map(_._3)
          .mkString(" | ")
        assert(cleaned == expect, s"round $round doc $d reconstruction")
      }
    }
  }

  test("sequence packing matches a reference model on randomized sizes (d26)") {
    import spark.implicits._
    // random token counts (including zero-token docs) against the
    // straightforward model: global stream in doc_id order, cut every S
    val rnd = new scala.util.Random(48151623)
    (0 until 3).foreach { round =>
      val S = Seq(8L, 16L, 64L)(round)
      val docTokens: Seq[(Long, Seq[String])] = (0 until 40).map { d =>
        d.toLong -> (0 until rnd.nextInt(26)).map(t => s"r${round}t${d}_$t")
      }
      val docs = docTokens
        .map { case (id, ts) => (id, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val stream = docTokens.sortBy(_._1).flatMap(_._2)
      val expected = stream.grouped(S.toInt).zipWithIndex
        .map { case (toks, i) => i.toLong -> toks }.toMap
      val byDoc = docTokens.toMap
      val rebuilt = DocumentQueries
        .packSequences(docs, seqLen = S, nBuckets = 1 + rnd.nextInt(6))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .groupBy(_._1).map { case (seqId, rows) =>
          seqId -> rows.sortBy(_._4).flatMap {
            case (_, docId, docStart, _, n) =>
              byDoc(docId).slice(docStart.toInt, (docStart + n).toInt)
          }.toSeq
        }
      assert(rebuilt == expected,
        s"round $round (S=$S): packed stream diverges from the model")
    }
  }

  test("source overlap matches a reference model on randomized corpora (d41)") {
    import spark.implicits._
    // seeded random corpora over a small text pool (forces cross-source
    // sharing AND within-source copies) vs a straight-line model of the
    // census: distinct-fp sets per source, pairwise intersections, the
    // floor-scaled Jaccard
    val rnd = new scala.util.Random(13081426)
    val sources = Seq("sa", "sb", "sc", "sd")
    (0 until 3).foreach { round =>
      val docs: Seq[(Long, String, String)] = (0 until 60).map { d =>
        val text =
          if (rnd.nextBoolean()) s"pooled text ${rnd.nextInt(12)}"
          else s"unique r${round}_d$d"
        (d.toLong, text, sources(rnd.nextInt(sources.size)))
      }
      val sets = sources.map(src =>
        src -> docs.filter(_._3 == src).map(_._2).toSet).toMap
      val want = (for {
        i <- sources.indices; j <- i + 1 until sources.size
      } yield {
        val Seq(sa, sb) = Seq(sources(i), sources(j)).sorted
        val (fa, fb) = (sets(sa), sets(sb))
        val shared = (fa & fb).size.toLong
        val jac = math.floor(shared * 1000000.0 /
          (fa.size + fb.size - shared)) / 1000000.0
        (sa, sb) -> ((fa.size.toLong, fb.size.toLong, shared, jac))
      }).toMap
      val got = DocumentQueries
        .sourceOverlap(docs.toDF("doc_id", "text", "source")).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
        .toMap
      assert(got == want, s"round $round: census diverges from the model")
    }
  }

  test("corpus diff matches a reference model on randomized snapshots (d44)") {
    import spark.implicits._
    val rnd = new scala.util.Random(44261308)
    (0 until 3).foreach { round =>
      def snapshot(idBase: Long): Seq[(Long, String)] =
        (0 until 40).map { d =>
          val text =
            if (rnd.nextBoolean()) s"stable text ${rnd.nextInt(15)}"
            else s"volatile r${round}_${rnd.nextInt(1000)}"
          (idBase + d, text)
        }
      val old = snapshot(0); val nw = snapshot(1000)
      def agg(s: Seq[(Long, String)]) = s.groupBy(_._2).map {
        case (t, rows) => t -> (rows.map(_._1).min, rows.size.toLong)
      }
      val (oa, na) = (agg(old), agg(nw))
      val want = (oa.keySet ++ na.keySet).map { t =>
        val status =
          if (!oa.contains(t)) "added"
          else if (!na.contains(t)) "removed" else "retained"
        t -> ((status, oa.get(t).map(_._1), oa.get(t).map(_._2).getOrElse(0L),
          na.get(t).map(_._1), na.get(t).map(_._2).getOrElse(0L)))
      }.toMap
      val got = DocumentQueries.corpusDiff(
        old.toDF("doc_id", "text"), nw.toDF("doc_id", "text")).collect()
        .map { r =>
          val fp = r.getString(0)
          fp -> ((r.getString(1),
            Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3),
            Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5)))
        }.toMap
      // keyed by md5 on the operator side — re-key the model
      val wantByFp = want.map { case (t, v) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString -> v
      }
      assert(got == wantByFp, s"round $round: diff diverges from the model")
    }
  }

  test("mixing epochs: integer-exact copy counts toward uniform shares (d38)") {
    import spark.implicits._
    def sampOf(text: String): Long = {
      val h = text.foldLeft(13L)((acc, c) =>
        (acc * 31 + c.toLong) % graft.operators.TextHash.P)
      (if (text.isEmpty) 13L else h) % 10000
    }
    // counts 1 / 3 / 6 over 3 langs (total 10): epochs_bp =
    // 100000 DIV (3*c) = 33333 / 11111 / 5555 — the rare lang repeats
    // >3x, the hot one subsamples to ~0.55 epochs
    val rows = Seq((1L, "ra", "rare solo doc")) ++
      (10L to 12L).map(i => (i, "mid", s"mid doc number $i")) ++
      (20L to 25L).map(i => (i, "hot", s"hot doc number $i"))
    val got = DocumentQueries.mixEpochs(rows.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val bp = Map("ra" -> 33333L, "mid" -> 11111L, "hot" -> 5555L)
    rows.foreach { case (id, lang, text) =>
      val expectCopies = bp(lang) / 10000 +
        (if (sampOf(text) < bp(lang) % 10000) 1L else 0L)
      assert(got(id) == ((lang, bp(lang), expectCopies)),
        s"doc $id: ${got(id)} (samp ${sampOf(text)})")
    }
    // the draw is a pure content function: re-running agrees
    val again = DocumentQueries
      .mixEpochs(rows.toDF("doc_id", "lang", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again == got.map(kv => kv._1 -> kv._2._3), "unstable draw")
    // null lang refused loudly (the d27 discipline)
    val e = intercept[Exception] {
      DocumentQueries.mixEpochs(Seq((1L, null: String, "doc"))
        .toDF("doc_id", "lang", "text")).collect()
    }
    assert(e.getMessage.contains("null lang"), e.getMessage)
  }

  test("hot n-grams: top-k by distinct-doc df, bounded text join (d37)") {
    import spark.implicits._
    val spanA = (0 until 8).map(i => s"ha$i").mkString(" ")
    val spanB = (0 until 8).map(i => s"hb$i").mkString(" ")
    val spanC = (0 until 8).map(i => s"hc$i").mkString(" ")
    // B docs share TWO 8-grams (the span and its bupad-shifted tail) —
    // the census counts grams, not planted intentions; C's df stays 2
    // although doc 31 contains the span twice (distinct docs, not
    // occurrences)
    val tailB = ((1 until 8).map(i => s"hb$i") :+ "bupad").mkString(" ")
    val docs = (
      (0 until 5).map(k => (10L + k, s"$spanA au$k aupad")) ++
        (0 until 3).map(k => (20L + k, s"bu$k $spanB bupad")) ++
        Seq((30L, s"$spanC cu0 x y"), (31L, s"$spanC cu1 $spanC")) ++
        Seq((40L, (0 until 12).map(i => s"uq$i").mkString(" "))))
      .toDF("doc_id", "text")
    val all = DocumentQueries.hotNgrams(docs, n = 8, k = 100).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(all.toSet == Set((spanA, 5L, 10L), (spanB, 3L, 20L),
      (tailB, 3L, 20L), (spanC, 2L, 30L)), s"census: ${all.toSeq}")
    // ordering: df descending, and the df>=2 cut excluded every
    // unique gram
    assert(all.map(_._2).toSeq == all.map(_._2).sorted.reverse.toSeq)
    // the k cut is deterministic: k=1 keeps exactly the df-5 span
    val top1 = DocumentQueries.hotNgrams(docs, n = 8, k = 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top1.toSeq == Seq((spanA, 5L)), s"k=1: ${top1.toSeq}")
  }

  test("incremental span dedup against a standing artifact (d36)") {
    import spark.implicits._
    def paras(rows: (Long, Seq[String])*) = rows.toSeq
      .flatMap { case (id, ps) =>
        ps.zipWithIndex.map { case (p, i) => (id, i, p) } }
      .toDF("doc_id", "pos", "para")
    val corpusParas = paras(1L -> Seq("intro one", "LICENSE"),
      2L -> Seq("LICENSE", "body two"))
    val sigs = DocumentQueries.spanSignatures(corpusParas)
    // the artifact is text-free and fp-keyed
    assert(sigs.columns.toSet ==
      Set("para_fp", "df", "canon_doc", "canon_pos"))
    // batch: doc 10 carries LICENSE (already in the corpus), a NEW
    // span shared with doc 11, one unique span it repeats itself
    val batch = paras(
      10L -> Seq("LICENSE", "new shared quote", "solo para", "solo para"),
      11L -> Seq("new shared quote", "body eleven"))
    val got = DocumentQueries.incrementalSpanDedup(sigs, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(5)).toMap
    assert(got((10L, 0L)) == "corpus_dup", s"$got")
    // the new shared span: doc 10's occurrence is the batch canonical,
    // doc 11's copy drops
    assert(got((10L, 1L)) == "kept" && got((11L, 0L)) == "batch_dup",
      s"$got")
    // a doc repeating its OWN new span keeps both (df 1 — the d28 rule)
    assert(got((10L, 2L)) == "kept" && got((10L, 3L)) == "kept", s"$got")
    assert(got((11L, 1L)) == "kept", s"$got")
    // merge invariant: folding the batch into the artifact ==
    // rebuilding from scratch over the union stream
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2), r.get(3))).toSet
    assert(sigSet(DocumentQueries.mergedSpanSignatures(sigs, batch)) ==
      sigSet(DocumentQueries.spanSignatures(corpusParas.union(batch))),
      "merged artifact diverges from the from-scratch rebuild")
    // a malformed (pre-d36) artifact is refused loudly, not misread
    val e = intercept[IllegalArgumentException] {
      DocumentQueries.incrementalSpanDedup(sigs.drop("canon_pos"), batch)
    }
    assert(e.getMessage.contains("canon_pos"), e.getMessage)
    // a null paragraph is refused loudly across the span family —
    // md5(NULL) is a NULL key that never joins, so the occurrence
    // would otherwise silently vanish from disposition
    val nulls = Seq((1L, 0, "ok"), (2L, 0, null: String))
      .toDF("doc_id", "pos", "para")
    val e2 = intercept[Exception] {
      DocumentQueries.spanSignatures(nulls).collect()
    }
    assert(e2.getMessage.contains("null paragraph"), e2.getMessage)
    val e3 = intercept[Exception] {
      DocumentQueries.spanDispositions(nulls).collect()
    }
    assert(e3.getMessage.contains("null paragraph"), e3.getMessage)
  }

  test("incremental n-gram decontamination against a standing artifact (d39)") {
    import spark.implicits._
    // planted straddle: base lands train, leak (= base + tail salt)
    // lands test and contains every base 8-gram. The corpus holds the
    // eval-side leak; the incoming batch carries the train-side base.
    val body = (0 until 20).map(t => s"ix$t").mkString(" ")
    val (base, leak) = straddlePair(body)
    def planted(prefix: String, want: Long => Boolean) =
      (0 until 1000).iterator
        .map(i => (0 until 12).map(t => s"$prefix${i}_$t").mkString(" "))
        .find(t => want(bucketOf(t))).get
    val corpusTrain = planted("ct", _ < 80)
    val corpus = Seq(0L -> leak, 2L -> corpusTrain).toDF("doc_id", "text")
    val art = DocumentQueries.evalNgramSignatures(corpus)
    // the artifact is text-free, per-fp aggregated, and self-describing
    // (its n column) — only the corpus's EVAL side contributes
    // (corpusTrain's n-grams are absent)
    assert(art.columns.toSet == Set("fp", "eval_df", "min_eval_doc", "n"))
    val nLeak = leak.split(" ").length - 7
    assert(art.count() == nLeak, "artifact must hold exactly the leak's 8-grams")
    val cleanTrain = planted("bt", _ < 80)
    val batchEval = planted("be", _ >= 80)
    val batch = Seq(1L -> base, 3L -> cleanTrain, 5L -> batchEval)
      .toDF("doc_id", "text")
    val got = DocumentQueries.incrementalDecontamination(art, batch)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    // base: every one of its 8-grams occurs in the leak -> full hit,
    // witness = the leak's doc_id
    val nBase = base.split(" ").length - 7
    assert(got(1L) == ((nBase.toLong, nBase.toLong, 0L, "drop")), s"$got")
    assert(got(3L) == ((12L - 7L, 0L, -1L, "keep")), s"$got")
    // scope: the batch's OWN eval-side doc is a future artifact member,
    // not a probe target (the d24 convention)
    assert(!got.contains(5L), s"$got")
    // merge invariant: folding the batch's eval n-grams into the
    // standing artifact == rebuilding from scratch over the union
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(sigSet(DocumentQueries.foldEvalNgramSignatures(
        art.unionByName(DocumentQueries.evalNgramSignatures(batch)))) ==
      sigSet(DocumentQueries.evalNgramSignatures(corpus.unionByName(batch))),
      "merged artifact diverges from the from-scratch rebuild")
    // a malformed (pre-d39) artifact is refused loudly, not misread
    val e = intercept[IllegalArgumentException] {
      DocumentQueries.incrementalDecontamination(
        art.drop("min_eval_doc"), batch)
    }
    assert(e.getMessage.contains("min_eval_doc"), e.getMessage)
    // an n-gram width mismatch is refused loudly — md5 fps of 6-grams
    // and 8-grams never match, so a silent mismatch would disposition
    // every contaminated doc 'keep'
    val eN = intercept[Exception] {
      DocumentQueries.incrementalDecontamination(art, batch, n = 6)
        .collect()
    }
    assert(eN.getMessage.contains("widths must match"), eN.getMessage)
    // ...and generations built at different n cannot fold into one table
    val eF = intercept[Exception] {
      DocumentQueries.foldEvalNgramSignatures(
        art.unionByName(DocumentQueries.evalNgramSignatures(batch, n = 6)))
        .collect()
    }
    assert(eF.getMessage.contains("different"), eF.getMessage)
  }

  test("epoch shuffle: dense per-epoch permutation, deterministic, bucket-independent (d40)") {
    import spark.implicits._
    val docs = Tables(spark, sfSmoke, "documents").limit(120)
      .select("doc_id", "text")
    val slices = DocumentQueries.packSequences(docs, seqLen = 64, nBuckets = 4)
    val nSeqs = slices.select("seq_id").distinct().count()
    val sh = DocumentQueries
      .epochShuffle(slices, epochs = 3, bucketPrefixLen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every epoch is a dense 1..N permutation of the sequence set
    (0L to 2L).foreach { e =>
      val pos = sh.filter(_._1 == e).map(_._2).sorted.toSeq
      assert(pos == (1L to nSeqs).toSeq, s"epoch $e is not a permutation")
    }
    // epochs genuinely reorder (same set, different order), and the
    // order is not the trivial id order
    val order0 = sh.filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq
    val order1 = sh.filter(_._1 == 1).sortBy(_._2).map(_._3).toSeq
    assert(order0.toSet == order1.toSet)
    assert(order0 != order1, "epochs 0 and 1 shuffled identically")
    assert(order0 != order0.sorted, "epoch 0 left sequences in id order")
    // the two-phase dense rank is provably bucket-granularity-
    // independent — positions are a pure function of (epoch, seq_id),
    // so a cluster raising the bucket count for parallelism changes
    // nothing
    val sh3 = DocumentQueries
      .epochShuffle(slices, epochs = 3, bucketPrefixLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sh3 == sh.toSet, "positions depend on the bucket granularity")
  }

  test("d30 and d32 are referentially consistent on a real corpus") {
    // the report and the remediation must agree: every d30 witness
    // (min_train_doc) is a doc d32 says to DROP, and every d32 witness
    // (min_eval_doc) is a doc d30 reports as compromised — on the
    // driver corpus, not a planted fixture
    val report = DocumentQueries.queries("d30_ngram_decontam")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(5)))
    val remediation = DocumentQueries
      .queries("d32_train_decontam")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val dropSet = remediation.filter(_._4 == "drop").map(_._1).toSet
    val compromised = report.filter(_._2 > 0).map(_._1).toSet
    assert(compromised.nonEmpty && dropSet.nonEmpty,
      "degenerate corpus: no cross-split collisions to check")
    report.filter(_._2 > 0).foreach { case (doc, _, witness) =>
      assert(dropSet.contains(witness),
        s"d30 witness $witness (for eval doc $doc) is not a d32 drop")
    }
    remediation.filter(_._4 == "drop").foreach { case (doc, _, witness, _) =>
      assert(compromised.contains(witness),
        s"d32 witness $witness (for train doc $doc) is not d30-compromised")
    }
  }

  test("d39 ingest-gate drops are a subset of the full d32 audit (real corpus)") {
    import spark.implicits._
    // the incremental gate must never disagree with the batch audit it
    // front-runs: every batch train doc d39 drops against the CORPUS
    // artifact must also be dropped by a full d32 audit over
    // corpus ∪ batch (the audit sees strictly more eval n-grams — the
    // batch's own eval docs — so containment, not equality, is the
    // invariant; the difference is exactly d24's documented
    // batch-internal scope). Same even/odd halves as the d39 gate.
    val docs = Tables(spark, sfSmoke, "documents").select("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val gateDrops = DocumentQueries.incrementalDecontamination(
        DocumentQueries.evalNgramSignatures(corpus), batch)
      .filter($"disposition" === "drop")
      .collect().map(r => r.getLong(0)).toSet
    assert(gateDrops.nonEmpty,
      "degenerate halves: the gate found nothing to check")
    val auditDrops = DocumentQueries.trainDecontamination(docs)
      .filter($"disposition" === "drop")
      .collect().map(r => r.getLong(0)).toSet
    val escaped = gateDrops -- auditDrops
    assert(escaped.isEmpty,
      s"d39 drops not confirmed by the full d32 audit: $escaped")
  }

  test("curation funnel: first-drop attribution, exact dedup, split routing (d31)") {
    import spark.implicits._
    def goodText(tag: String): String =
      ("the a of" +: (0 until 97).map(i => f"$tag$i%03d")).mkString(" ")
    val good = goodText("wx") // 100 toks, en markers, quality ~0.75
    // fails quality AND has no language markers: low_quality must win
    // (stage order), not unknown_lang
    val lowQ = "zz zz zz"
    // passes quality (100 4-char tokens) but matches no marker list
    val noLang = (0 until 100).map(i => f"qv$i%02d").mkString(" ")
    val docs = Seq(
      (1L, "en", lowQ),
      (2L, "en", noLang),
      (10L, "en", good),
      (11L, "en", good), // byte-identical: higher id is the exact_dup
      (12L, "en", goodText("yz")))
      .toDF("doc_id", "lang", "text")
    val got = DocumentQueries.curationFunnel(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got.size == 5, s"conservation broke: $got")
    assert(got(1L) == "low_quality", s"doc 1: ${got(1L)}")
    assert(got(2L) == "unknown_lang", s"doc 2: ${got(2L)}")
    assert(got(11L) == "exact_dup", s"doc 11: ${got(11L)}")
    // single surviving language => rate_bp = 10000 > any samp bucket:
    // every canonical survivor is KEPT, landing in its d13 split
    def splitName(t: String): String = {
      val b = bucketOf(t)
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    assert(got(10L) == splitName(good), s"doc 10: ${got(10L)}")
    assert(got(12L) == splitName(goodText("yz")), s"doc 12: ${got(12L)}")
  }

  test("curation funnel: sampling rates come from the SURVIVOR corpus (d31)") {
    import spark.implicits._
    def sampOf(text: String): Long = {
      val h = text.foldLeft(13L)((acc, c) =>
        (acc * 31 + c.toLong) % graft.operators.TextHash.P)
      (if (text.isEmpty) 13L else h) % 10000
    }
    def goodEn(tag: String): String =
      ("the a of" +: (0 until 97).map(i => f"$tag$i%03d")).mkString(" ")
    // 25 surviving 'en' docs + 1 surviving 'de' doc: c_min = 1, so
    // rate_en = floor(sqrt(1/25) * 10000) = 2000 bp — en docs with
    // samp >= 2000 are sampled_out, the rare 'de' doc is always kept.
    // A pile of low-quality 'de' docs rides along: they are dropped at
    // stage 1, so they must NOT inflate c_de and dilute the en rate.
    val en = (0 until 25).map(k => (100L + k, "en", goodEn(f"e$k%02dx")))
    val de = (500L, "de",
      ("der die und" +: (0 until 97).map(i => f"gr$i%03d")).mkString(" "))
    val deJunk = (0 until 30).map(k => (600L + k, "de", s"kaput$k"))
    val docs = (en ++ Seq(de) ++ deJunk).toDF("doc_id", "lang", "text")
    val got = DocumentQueries.curationFunnel(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got(500L) != "sampled_out" && got(500L) != "low_quality",
      s"rare de doc: ${got(500L)}")
    deJunk.foreach { case (id, _, _) =>
      assert(got(id) == "low_quality", s"doc $id: ${got(id)}") }
    // en decisions follow the independent samp recomputation at the
    // survivor-derived 2000 bp rate — if rates were computed over the
    // RAW corpus (c_de = 31), the rate would differ and some doc would
    // flip
    en.foreach { case (id, _, t) =>
      val expectSampled = sampOf(t) >= 2000L
      assert((got(id) == "sampled_out") == expectSampled,
        s"doc $id samp=${sampOf(t)}: ${got(id)}")
    }
    // at least one en doc on each side of the draw, else the fixture
    // proves nothing
    assert(en.exists(e => sampOf(e._3) >= 2000L) &&
      en.exists(e => sampOf(e._3) < 2000L), "degenerate fixture")
    // null lang refused loudly (the d27 discipline)
    val e = intercept[Exception] {
      DocumentQueries.curationFunnel(Seq((1L, null: String, "the a doc"))
        .toDF("doc_id", "lang", "text")).collect()
    }
    assert(e.getMessage.contains("null lang"), e.getMessage)
  }

  test("bigram logprob matches a hand computation; word order matters (d35)") {
    import spark.implicits._
    // corpus: "a b a b" + "b a". bigram counts: (a,b)=2 (doc 1 only),
    // (b,a)=2 (one per doc). uc: a->2, b->2. V=2. Add-one:
    // P(b|a) = (2+1)/(2+2) = 0.75 = P(a|b) — every bigram position
    // scores ln(0.75), so both docs read floor(ln 0.75 * 1e4)/1e4
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val out = DocumentQueries.queries("d35_bigram_logprob")
    val rows = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-d35").toString
      docs.write.parquet(s"$tmp/documents.parquet")
      out(spark, tmp).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    }
    val expect = math.floor(math.log(0.75) * 10000) / 10000
    assert(rows(1L) == ((expect, 3L)), s"doc 1: ${rows(1L)}")
    assert(rows(2L) == ((expect, 1L)), s"doc 2: ${rows(2L)}")
    // fluency, not vocabulary: same words, scrambled order -> rarer
    // bigrams -> strictly lower score than the corpus-typical doc
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-d35b").toString
    val base = "the cat sat on the mat"
    Seq((1L, base), (2L, base), (3L, base),
      (4L, "mat the on sat cat the")) // same tokens, scrambled
      .toDF("doc_id", "text").write.parquet(s"$tmp2/documents.parquet")
    val sc = out(spark, tmp2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sc(4L) < sc(1L),
      s"scrambled doc should score below typical: $sc")
  }

  test("best-representative dedup keeps the higher-quality cluster member (d34)") {
    import spark.implicits._
    val base = (0 until 40).map(t => s"bq$t").mkString(" ")
    // near-dup of base (2 appended tokens, Jaccard ~0.9) whose appended
    // tokens are STOPWORDS — the stop_ratio term lifts its d09 quality
    // well above base's
    val better = ((0 until 40).map(t => s"bq$t") ++ Seq("the", "a"))
      .mkString(" ")
    val ex = (0 until 30).map(t => s"bx$t").mkString(" ")
    val docs = Seq(1L -> base, 2L -> better, 10L -> ex, 11L -> ex,
      20L -> (0 until 25).map(t => s"solo$t").mkString(" "))
      .toDF("doc_id", "text")
    val got = DedupQueries.dedupBest(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    // the near-dup cluster {1, 2}: doc 2 wins on quality despite the
    // HIGHER id — exactly where the d25 min-id policy differs
    assert(got(1L) == ((2L, "dup")) && got(2L) == ((2L, "kept")),
      s"near-dup cluster: $got")
    // exact copies tie on quality (identical text) -> id order
    assert(got(10L) == ((10L, "kept")) && got(11L) == ((10L, "dup")),
      s"exact group: $got")
    assert(got(20L) == ((20L, "kept")), s"singleton: $got")
    // d25 over the same corpus keeps doc 1: the two policies diverge
    // only on the quality-divergent cluster, by design
    val d25 = DedupQueries.dedupApply(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(d25(1L) == "kept" && d25(2L) == "near_dup",
      s"d25 disposition: $d25")
    // scope hygiene: both scoped runs released their caches
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("curation dispositions survive an all-dropped corpus (d31 edge)") {
    import spark.implicits._
    // every doc fails the quality gate: the survivor set is EMPTY, so
    // the dedup stage, rate aggregation (min over zero rows = one NULL
    // row), and all downstream joins run over empty frames — the
    // composition must still label every doc, not throw
    val docs = Seq((1L, "en", "zz"), (2L, "de", "xx yy"))
      .toDF("doc_id", "lang", "text")
    val funnel = DocumentQueries.curationFunnel(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(funnel == Map(1L -> "low_quality", 2L -> "low_quality"),
      s"funnel: $funnel")
    val prod = DocumentQueries.curateDispositions(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(prod == Map(1L -> "low_quality", 2L -> "low_quality"),
      s"curate: $prod")
  }

  test("corpus card agrees with the operators it summarizes (d33)") {
    import spark.implicits._
    val dir = sfSmoke
    val card = DocumentQueries.queries("d33_corpus_card")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    // doc counts and token volume per language == d05 token stats
    val stats = DocumentQueries.queries("d05_token_stats")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(card.keySet == stats.keySet,
      s"langs diverge: ${card.keySet} vs ${stats.keySet}")
    card.foreach { case (lang, r) =>
      assert(r.getLong(1) == stats(lang)._1, s"$lang n_docs vs d05")
      assert(r.getLong(3) == stats(lang)._2, s"$lang total_tokens vs d05")
    }
    // exact-dup copies across languages == corpus size minus the d01
    // distinct-text group count (every group keeps one canonical)
    val groups = DocumentQueries.queries("d01_dedup_exact")(spark, dir)
      .count()
    val docs = graft.Tables(spark, dir, "documents")
    val total = docs.count()
    assert(card.values.map(_.getLong(2)).sum == total - groups,
      "dup census vs d01")
    // mean_quality: exact BigDecimal recompute from the d09 per-doc
    // scores (the DECIMAL-accumulation contract — a float-order bug in
    // the card would drift from this at the 4th decimal)
    val q9 = DocumentQueries.queries("d09_quality_score")(spark, dir)
      .select($"doc_id", $"quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val langOf = docs.select($"doc_id", $"lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    card.foreach { case (lang, r) =>
      val qs = q9.collect {
        case (id, q) if langOf(id) == lang =>
          BigDecimal(q).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      }
      val expected = BigDecimal(qs.sum.toDouble / qs.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) == expected,
        s"$lang mean_quality ${r.getDouble(5)} vs recomputed $expected")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0 &&
        r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0,
        s"$lang prevalence fractions out of range")
    }
  }

  test("duplicate clusters on a dup-free corpus is empty, not an error") {
    import spark.implicits._
    // every text unique and dissimilar -> zero candidate pairs -> the
    // component loop must converge on an empty graph (sum() over an
    // empty frame is NULL, which once NPE'd round one)
    val docs = (0 until 30)
      .map(i => (i.toLong, (0 until 25).map(t => s"u${i}w$t").mkString(" ")))
      .toDF("doc_id", "text")
    assert(DedupQueries.duplicateClusters(docs).count() == 0)
    assert(DedupQueries.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
  }

  test("int8 quantization reconstruction error is within half a step (s05)") {
    val rows = EmbeddingQueries.queries("s05_quantize_int8")(spark, sfSmoke)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val err = r.getDouble(3)
      // 256 levels, dequantize at the level midpoint → normalized error
      // can't exceed half a quantization step = 1/510
      assert(err <= 1.0 / 510 + 1e-9,
        s"vec ${r.getLong(0)}: max_err $err above the half-step bound")
    }
  }

  test("q22 HLL estimate within 3x configured rsd of exact (error bound)") {
    for (dir <- Seq(sfSmoke, "/root/testdata/sf0.01")) {
      val rows = graft.queries.RelationalQueries2
        .queries("q22_approx_distinct")(spark, dir).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val approx = r.getLong(1).toDouble
        val exact = r.getLong(2).toDouble
        val relErr = math.abs(approx - exact) / exact
        // approx_count_distinct(_, 0.02): rsd=0.02, 3σ bound
        assert(relErr <= 0.06,
          s"HLL off by ${"%.4f".format(relErr)} for ${r.get(0)} in $dir")
      }
    }
  }

  test("MinHash LSH candidates cover all strong true near-dups (d03 ⊇ d06@0.95)") {
    val strong = DedupQueries.queries("d06_ngram_jaccard_dups")(spark, sfSmoke)
      .collect().filter(_.getDouble(2) >= 0.95)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty, "fixture data lost its near-dup pairs?")
    val candidates = DedupQueries.queries("d03_minhash_dedup_pairs")(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = strong -- candidates
    // P(miss | jaccard≥0.95) = (1-s^4)^4 < 0.002 per pair
    assert(missed.isEmpty, s"LSH missed strong pairs: $missed")
  }

  test("simhash of near-identical docs differs in few bits") {
    val sims = DedupQueries.queries("d04_simhash")(spark, sfSmoke)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val strong = DedupQueries.queries("d06_ngram_jaccard_dups")(spark, sfSmoke)
      .collect().filter(_.getDouble(2) >= 0.95)
    assert(strong.nonEmpty)
    strong.foreach { r =>
      val d = java.lang.Long.bitCount(sims(r.getLong(0)) ^ sims(r.getLong(1)))
      assert(d <= TextHash.SimBits / 4, s"hamming $d too large for near-dup pair")
    }
  }

  test("dedup operators leave no cached tables behind (cache lifecycle)") {
    val docs = Tables(spark, sfSmoke, "documents")
    spark.catalog.clearCache() // isolate from earlier suites
    assert(spark.sharedState.cacheManager.isEmpty)
    // each operator is eager + self-cleaning: it materializes its bounded
    // result, releases the signature caches, and returns a frame whose
    // lineage no longer references them — a long-lived session processing
    // many corpora must not accumulate storage per call
    val pairs = DedupQueries.minhashPairs(docs)
    assert(spark.sharedState.cacheManager.isEmpty,
      "minhashPairs left cached tables behind")
    assert(pairs.count() > 0)
    val dups = DedupQueries.jaccardDups(docs)
    assert(spark.sharedState.cacheManager.isEmpty,
      "jaccardDups left cached tables behind")
    assert(dups.count() > 0)
    val clusters = DedupQueries.duplicateClusters(docs)
    assert(spark.sharedState.cacheManager.isEmpty,
      "duplicateClusters left cached tables behind")
    assert(clusters.count() > 0)
    val contam = DedupQueries.contamination(docs)
    assert(spark.sharedState.cacheManager.isEmpty,
      "contamination left cached tables behind")
    contam.count() // may legitimately be 0 on an arbitrary corpus
    // released caches must not change results: pair set is stable across
    // two independent operator invocations
    val again = DedupQueries.minhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("DedupScope shares ONE signature materialization across stages") {
    val docs = Tables(spark, sfSmoke, "documents")
    spark.catalog.clearCache()
    val (nPairs, nVerified) = DedupQueries.withDedupScope(docs) { scope =>
      // exactly one cache entry serves candidate AND verify stages — the
      // composed pipeline signature-scans the corpus once, not per stage
      val p = scope.pairs.count()
      assert(!spark.sharedState.cacheManager.isEmpty, "scope lost its cache")
      val v = scope.verifiedPairs.count()
      (p, v)
    }
    assert(nPairs > 0 && nVerified > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "DedupScope.close() left the signature cache behind")
    // scoped results match the one-shot operators exactly
    val oneShot = DedupQueries.jaccardDups(docs).count()
    assert(oneShot == nVerified)
  }

  // -- d14 train/test contamination -----------------------------------------

  test("contamination flags planted cross-split near-dups (d14)") {
    import spark.implicits._
    // engineer a near-dup pair that STRADDLES the split (shared
    // SparkSpec.straddlePair: salt search against the independently
    // recomputed d13 bucket)
    val body = (0 until 40).map(t => s"tok$t").mkString(" ")
    val (base, leak) = straddlePair(body)
    // a val-side near-dup must NOT be reported (only train leaks matter)
    val valSide = (0 until 1000).iterator
      .map(i => s"$base val$i").find(t => bucketOf(t) >= 80 && bucketOf(t) < 90).get
    // unrelated filler so the corpus isn't degenerate
    val filler = (0 until 30).map(k =>
      (100L + k, (0 until 30).map(t => s"f${k}_$t").mkString(" ")))
    val docs = (Seq((0L, base), (1L, leak), (2L, valSide)) ++ filler)
      .toDF("doc_id", "text")
    val got = DedupQueries.contamination(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == Set(1L),
      s"expected exactly the planted test doc flagged, got ${got.toSeq}")
    val (_, trainId, sim) = got.head
    assert(trainId == 0L && sim >= 0.5, s"wrong partner/similarity: $got")
  }

  test("incremental contamination flags the planted cross-split leak (d24)") {
    import spark.implicits._
    // same engineered straddle as the d14 test: base lands train, its
    // near-dup variant lands test, a val-side variant must NOT be flagged
    val body = (0 until 40).map(t => s"itok$t").mkString(" ")
    val (base, leak) = straddlePair(body)
    val valSide = (0 until 1000).iterator
      .map(i => s"$base val$i").find(t => bucketOf(t) >= 80 && bucketOf(t) < 90).get
    val filler = (0 until 30).map(k =>
      (200L + k, (0 until 30).map(t => s"g${k}_$t").mkString(" ")))
    // the corpus holds the train doc; the ingest batch brings the test
    // doc — both sides as withSplit signature tables, no text anywhere
    val corpus = (Seq((0L, base)) ++ filler).toDF("doc_id", "text")
    val batch = Seq((100L, leak), (101L, valSide)).toDF("doc_id", "text")
    val got = DedupQueries.incrementalContamination(
        DedupQueries.signatureTable(corpus, withSplit = true),
        DedupQueries.signatureTable(batch, withSplit = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == Set(100L), s"got ${got.toSeq}")
    assert(got.head._2 == 0L && got.head._3 >= 0.5, s"got ${got.toSeq}")
    // reverse orientation: a batch TRAIN doc compromises a corpus TEST
    // doc — the corpus doc is the reported offender
    val got2 = DedupQueries.incrementalContamination(
        DedupQueries.signatureTable(
          (Seq((0L, leak)) ++ filler).toDF("doc_id", "text"), withSplit = true),
        DedupQueries.signatureTable(
          Seq((100L, base)).toDF("doc_id", "text"), withSplit = true))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.toSet == Set((0L, 100L)), s"got ${got2.toSeq}")
    // consistent with the batch audit: d14 over the union corpus flags
    // the same test doc with the same train partner
    val full = DedupQueries.contamination(corpus.union(batch)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((100L, 0L)), s"batch audit disagrees: $full")
    // self-cleaning: both persisted signature tables released
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("incremental contamination rejects pre-split and mixed artifacts loudly (d24)") {
    import spark.implicits._
    val docs = Seq((0L, (0 until 30).map(t => s"mx$t").mkString(" ")),
      (1L, (0 until 30).map(t => s"my$t").mkString(" "))).toDF("doc_id", "text")
    val withSplit = DedupQueries.signatureTable(docs, withSplit = true)
    // column absent entirely (pre-round-11 artifact): rejected up front
    val e = intercept[IllegalArgumentException] {
      DedupQueries.incrementalContamination(
        DedupQueries.signatureTable(docs), withSplit)
    }
    assert(e.getMessage.contains("re-sign"), e.getMessage)
    // mixed dir shape (column present, null for old partitions): the
    // per-row trip fires instead of a silently-empty result
    val mixed = withSplit.withColumn("split",
      org.apache.spark.sql.functions.when($"doc_id" === 0L,
        org.apache.spark.sql.functions.lit(null).cast("string"))
        .otherwise($"split"))
    val e2 = intercept[Throwable] {
      DedupQueries.incrementalContamination(mixed, withSplit).count()
    }
    val messages = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("mixed pre-/post-split"), messages)
  }

  test("incremental dedup matches new docs against the standing corpus (d16)") {
    import spark.implicits._
    spark.catalog.clearCache()
    val base = (0 until 40).map(t => s"inc$t").mkString(" ")
    val corpus = Seq(
      (0L, base),
      (1L, "wholly unrelated corpus doc " + (0 until 30).map(t => s"c$t").mkString(" ")),
      (2L, "exact twin text")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "exact twin text"),   // exact tier
      (101L, base + " tail"),      // near tier
      (102L, "completely novel document " + (0 until 30).map(t => s"n$t").mkString(" ")),
      (103L, "exact twin text"))   // exact-dup GROUP member, same partner
      .toDF("doc_id", "text")
    val got = DedupQueries.incrementalMatches(
        DedupQueries.signatureTable(corpus), DedupQueries.signatureTable(batch))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(100L, 101L, 103L), s"got $got")
    assert(got(100L) == ((2L, 1.0)) && got(103L) == ((2L, 1.0)))
    assert(got(101L)._1 == 0L && got(101L)._2 >= 0.5)
    // self-cleaning: the persisted signature tables are released
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("incremental dedup stays bounded under viral duplicates (d16 skew)") {
    import spark.implicits._
    val viral = "the same viral incoming document body repeated verbatim everywhere"
    val corpus = ((0 until 50).map(i => (i.toLong,
      s"corpus doc $i " + (0 until 25).map(t => s"c${i}_$t").mkString(" ")))
      :+ (999L, viral)).toDF("doc_id", "text")
    // 800 byte-identical incoming copies + 100 shingle-less docs: the
    // exact-dup collapse must keep the band join at ONE batch rep, and
    // sentinel docs must never enter banding
    val incoming = ((1000 until 1800).map(i => (i.toLong, viral)) ++
      (2000 until 2100).map(i => (i.toLong, "too short"))).toDF("doc_id", "text")
    val got = DedupQueries.incrementalMatches(
        DedupQueries.signatureTable(corpus),
        DedupQueries.signatureTable(incoming))
      .collect()
    assert(got.length == 800, s"got ${got.length} rows")
    assert(got.forall(r => r.getLong(1) == 999L && r.getDouble(2) == 1.0))
  }

  test("signatureTable round-trips through parquet (the persistable lake artifact)") {
    val docs = Tables(spark, sfSmoke, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft-sigs").toString
    DedupQueries.signatureTable(docs).write.parquet(s"$tmp/sigs")
    val stored = spark.read.parquet(s"$tmp/sigs")
    val incoming = docs.filter(col("doc_id") % 7 === 0)
    val viaStored = DedupQueries.incrementalMatches(
        stored.filter(col("doc_id") % 7 =!= 0),
        DedupQueries.signatureTable(incoming))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = DedupQueries.incrementalMatches(
        DedupQueries.signatureTable(docs.filter(col("doc_id") % 7 =!= 0)),
        DedupQueries.signatureTable(incoming))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStored == direct && direct.nonEmpty,
      s"stored-signature matches diverge: ${viaStored.size} vs ${direct.size}")
  }

  test("rep-index artifact: the stored (fp, rep, mh, bands, bucket_ns) " +
    "table answers a d16 probe bit-identically with zero corpus-side " +
    "aggregates; generations fold; a raw signature table is refused (d16/r16)") {
    import spark.implicits._
    val docs = Tables(spark, sfSmoke, "documents")
    val corpusDocs = docs.filter(col("doc_id") % 7 =!= 0)
    val batchSigs = DedupQueries.signatureTable(docs.filter(col("doc_id") % 7 === 0))
    // build + parquet round-trip (the d54 winnow-artifact convention)
    val tmp = java.nio.file.Files.createTempDirectory("graft-repidx").toString
    DedupQueries.repIndex(DedupQueries.signatureTable(corpusDocs))
      .write.parquet(s"$tmp/idx")
    val idx = spark.read.parquet(s"$tmp/idx")
    // 100x plan audit over the LAZY probe plan (the shipped probe
    // materializes eagerly): every aggregate must be batch- or
    // pair-scoped. An aggregate whose subtree reads ONLY the stored
    // index is a corpus-wide pass per ingest batch — exactly the cost
    // the artifact exists to remove (pair-scoped aggregates like the
    // candidate distinct legitimately have the index among their JOIN
    // inputs and are fine)
    val offenders = DedupQueries.indexedProbePlan(idx, batchSigs)
      .queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.collectLeaves().nonEmpty && a.collectLeaves()
              .forall(_.toString.contains("graft-repidx")) => a
      }
    assert(offenders.isEmpty,
      s"d16 probe re-aggregates the stored index:\n${offenders.mkString("\n")}")
    // equivalence: indexed probe == the raw-signature convenience path
    val direct = DedupQueries.incrementalMatches(
        DedupQueries.signatureTable(corpusDocs), batchSigs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaIdx = DedupQueries.incrementalMatchesIndexed(idx, batchSigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIdx == direct && direct.nonEmpty,
      s"indexed matches diverge: ${viaIdx.size} vs ${direct.size}")
    // generation fold: two batch-local generations merge to the global
    // index — same fps, global min rep, occupancy == the single-build one
    val g0 = DedupQueries.repIndex(
      DedupQueries.signatureTable(corpusDocs.filter(col("doc_id") < 300)))
    val g1 = DedupQueries.repIndex(
      DedupQueries.signatureTable(corpusDocs.filter(col("doc_id") >= 300)))
    val folded = DedupQueries.foldRepIndex(g0.unionByName(g1))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](4)).map(_.toList))).toSet
    val oneShot = DedupQueries.repIndex(DedupQueries.signatureTable(corpusDocs))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](4)).map(_.toList))).toSet
    assert(folded == oneShot, "folded generations != single-build index")
    // a raw signature table is refused loudly, never silently re-censused
    val raw = intercept[IllegalArgumentException] {
      DedupQueries.incrementalMatchesIndexed(
        DedupQueries.signatureTable(corpusDocs), batchSigs)
    }
    assert(raw.getMessage.contains("repIndex"), raw.getMessage)
  }

  test("rep-index artifact drives the d24 contamination probe: stored " +
    "split-carrying index == raw path, zero index-side aggregates, " +
    "split-less index refused (d24/r16)") {
    import spark.implicits._
    val docs = Tables(spark, sfSmoke, "documents")
    val corpusSigs = DedupQueries.signatureTable(
      docs.filter($"doc_id" % 2 === 0), withSplit = true)
    val batchSigs = DedupQueries.signatureTable(
      docs.filter($"doc_id" % 2 === 1), withSplit = true)
    val tmp = java.nio.file.Files.createTempDirectory("graft-repidx24").toString
    DedupQueries.repIndex(corpusSigs).write.parquet(s"$tmp/idx")
    val idx = spark.read.parquet(s"$tmp/idx")
    assert(idx.columns.contains("split"),
      "a withSplit signature table must yield a split-carrying index")
    // plan audit on the lazy probe body: no aggregate may read ONLY the
    // stored index (pair-scoped aggregates legitimately join it)
    val offenders = DedupQueries.indexedContamProbe(idx, corpusSigs, batchSigs)
      .queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if a.collectLeaves().nonEmpty && a.collectLeaves()
              .forall(_.toString.contains("graft-repidx24")) => a
      }
    assert(offenders.isEmpty,
      s"d24 probe re-aggregates the stored index:\n${offenders.mkString("\n")}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = rows(DedupQueries.incrementalContamination(corpusSigs, batchSigs))
    val viaIdx = rows(DedupQueries.incrementalContaminationIndexed(
      idx, corpusSigs, batchSigs))
    assert(viaIdx == direct, s"indexed d24 diverges: ${viaIdx.size} vs ${direct.size}")
    // a split-less index (built from a split-less sig table) is refused
    val noSplit = intercept[IllegalArgumentException] {
      DedupQueries.incrementalContaminationIndexed(
        DedupQueries.repIndex(DedupQueries.signatureTable(
          docs.filter($"doc_id" % 2 === 0))), corpusSigs, batchSigs)
    }
    assert(noSplit.getMessage.contains("withSplit"), noSplit.getMessage)
  }

  test("contamination matches a brute-force recompute on the gate corpus (d14)") {
    val docs = Tables(spark, sfSmoke, "documents")
    val splits = DocumentQueries.queries("d13_split_assign")(spark, sfSmoke)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // expected: expand rep-level verified pairs through exact-dup groups
    val fp = docs.select(col("doc_id"), md5(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val groups = fp.groupBy(_._2).map { case (_, m) =>
      m.map(_._1).min -> m.map(_._1).toSeq }
    val nd = DedupQueries.jaccardDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (nd ++ nd.map(p => (p._2, p._1, p._3))).flatMap {
      case (ra, rb, sim) =>
        for {
          t <- groups(ra) if splits(t) == "test"
          tr <- groups(rb) if splits(tr) == "train"
        } yield (t, tr, sim)
    }.groupBy(_._1).map { case (t, hs) =>
      val best = hs.minBy(h => (-h._3, h._2))
      t -> (best._2, best._3)
    }
    val got = DedupQueries.contamination(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.nonEmpty, "gate corpus lost its planted contamination?")
  }

  test("media dedup: byte-identical payloads collapse exact, a one-char " +
    "raster edit lands near, disjoint images pair with nothing (m04)") {
    import spark.implicits._
    import graft.queries.MultimodalQueries
    // ids chosen ≡ 0 (mod 9) so the planted docs share the generated
    // width — byte-identical text ⇒ byte-identical payload. Doc 27
    // differs from the pair by ONE character: a single-pixel luma
    // nudge that moves at most a few cells across the ahash mean.
    val base = (0 until 40).map(i => s"tok$i value${i * 7}").mkString(" ")
    val docs = Seq(
      (9L, base), (18L, base),          // exact pair
      (27L, base.replace("tok5", "tok6")), // near neighbor
      (5L, (0 until 40).map(i => s"Z${i}q#${i * 13}!").mkString("~")))
      .toDF("doc_id", "text")
    val out = MultimodalQueries.mediaNearDup(spark, docs).collect()
    val exact = out.filter(_.getString(3) == "exact")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exact == Seq((9L, 18L, 0L)),
      s"byte-identical payloads must collapse to one exact pair: $exact")
    val near = out.filter(_.getString(3) == "near")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(near.map(p => (p._1, p._2)) == Seq((9L, 27L)),
      s"the one-char edit must near-pair with the exact rep only: $near")
    assert(near.head._3 <= MultimodalQueries.HammingBar && near.head._3 >= 0L)
    assert(!out.exists(r => r.getLong(0) == 5L || r.getLong(1) == 5L),
      "the disjoint image must pair with nothing")
  }

  test("shared-frame census: a common intro counts per frame, distinct " +
    "tails stay unique (m05)") {
    import spark.implicits._
    import graft.operators.Multimodal.{FrameSize, FrameStride}
    // two "videos" share an intro covering exactly the first TWO
    // sampled frames (frames start at 0 and FrameStride; the intro
    // spans FrameStride + FrameSize bytes so frame 1 is fully inside
    // it), then diverge; a third is fully distinct. The intro bytes
    // CYCLE with period 26 so its two sampled frames hash differently
    // (a constant-fill intro would collapse them at the census's
    // distinct grain and hide one)
    val intro = (0 until FrameStride + FrameSize)
      .map(i => ('A' + i % 26).toChar).mkString
    def tail(ch: Char) = ch.toString * (3 * FrameStride)
    val docs = Seq(
      (1L, intro + tail('a')),
      (2L, intro + tail('b')),
      (3L, tail('c') + tail('d')))
      .toDF("doc_id", "text")
    val frames = graft.operators.Multimodal
      .sampleFrames(graft.operators.Multimodal.mediaFromDocuments(spark, docs))
      .toDF()
      .select($"doc_id", $"fhash").distinct()
    val dfreq = frames.groupBy($"fhash")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("df"))
    // join key first: columns are (fhash, doc_id, df)
    val joined = frames.join(dfreq, Seq("fhash")).collect()
    val byDoc = joined.groupBy(_.getLong(1))
    // docs 1/2: first two frames shared (df 2), tail frames unique
    Seq(1L, 2L).foreach { id =>
      val shared = byDoc(id).count(_.getLong(2) >= 2L)
      assert(shared == 2, s"doc $id must share exactly its 2 intro " +
        s"frames: $shared")
    }
    assert(byDoc(3L).forall(_.getLong(2) == 1L),
      "the distinct video shares nothing")
  }

  test("multimodal decode stub is deterministic and batch extraction conserves rows") {
    val media = Multimodal.mediaFromDocuments(spark, Tables(spark, sfSmoke, "documents"))
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == media.count())
    val f = feats.filter(_.doc_id == 0).head()
    val d = Multimodal.decodeStub(media.filter(_.doc_id == 0).head().media)
    assert(f.width == d.width && f.height == d.height && f.phash == d.phash)
    assert(f.ahash == d.ahash)
    assert(f.width >= 16 && f.width < 32 && d.phash.length == 8)
  }

  test("mime dispatch: text payloads with media magic stub, declared media rejects loudly") {
    import spark.implicits._
    // prose that HAPPENS to start with the BMP/PPM magic bytes — routed
    // by the declared text/plain mime to the stub, never the strict
    // decoders (which would throw on these "headers")
    val docs = Seq(
      (1L, "BMW builds engines in Munich and the plant runs all year"),
      (2L, "P6 chips shipped with the original workstation line"),
      (3L, "plain filler document with no magic prefix at all"))
      .toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 3) // no crash: every text doc decoded via stub
    val resized = Multimodal.resize(media).collect()
    assert(resized.length == 3)
    // the same payloads DECLARED as images must reject loudly
    val bmText = "BMW builds engines".getBytes("UTF-8")
    intercept[IllegalArgumentException] {
      Multimodal.decode(bmText, "image/bmp")
    }
    // declared media with an unrecognized magic is equally loud
    intercept[IllegalArgumentException] {
      Multimodal.decode("no magic here".getBytes("UTF-8"), "image/png")
    }
    // unknown mime falls back to sniffing: valid PPM decodes for real
    val raster = Array.tabulate(6 * 4 * 3)(i => (i * 7 % 251).toByte)
    val viaNull = Multimodal.decode(ppm(6, 4, raster))
    val viaOctet = Multimodal.decode(ppm(6, 4, raster), "application/octet-stream")
    assert(viaNull == viaOctet && viaNull.width == 6 && viaNull.height == 4)
  }

  // -- real media decode ----------------------------------------------------

  private def ppm(w: Int, h: Int, raster: Array[Byte],
      header: String = null): Array[Byte] = {
    val hdr = Option(header).getOrElse(s"P6\n$w $h\n255\n")
    hdr.getBytes("US-ASCII") ++ raster
  }

  /** Minimal valid 24bpp uncompressed BMP (bottom-up, 4-byte row pad). */
  private def bmp(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val raster = new Array[Byte](rowSize * h)
    for (y <- 0 until h; x <- 0 until w * 3)
      raster(y * rowSize + x) = pixels((y * w * 3 + x) % pixels.length)
    val out = java.nio.ByteBuffer.allocate(54 + raster.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + raster.length)
      .putInt(0).putInt(54)           // reserved, data offset
      .putInt(40).putInt(w).putInt(h) // DIB size, dims
      .putShort(1).putShort(24)       // planes, bpp
      .putInt(0).putInt(raster.length).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    out.put(raster).array()
  }

  test("PPM decode recovers header dims and hashes the raster (m01 path)") {
    val raster = Array.tabulate(6 * 4 * 3)(i => (i * 7 % 251).toByte)
    val d = Multimodal.decodePpm(ppm(6, 4, raster))
    assert(d.width == 6 && d.height == 4 && d.phash.length == 8)
    // whitespace/comment-tolerant header, same raster → same result
    val d2 = Multimodal.decodePpm(
      ppm(6, 4, raster, header = "P6\n# a comment\n 6\t4 # dims\n255\n"))
    assert(d2 == d)
    // decode() dispatches on magic: same payload through the generic path
    assert(Multimodal.decode(ppm(6, 4, raster)) == d)
  }

  test("malformed media is rejected loudly, never silently stubbed") {
    val raster = Array.tabulate(6 * 4 * 3)(i => i.toByte)
    // truncated raster (header claims 6x4, raster one byte short)
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.decodePpm(ppm(6, 4, raster.dropRight(1)))
    }
    assert(e1.getMessage.contains("raster"))
    // header garbage after magic
    intercept[IllegalArgumentException] {
      Multimodal.decode("P6\nnot numbers\n".getBytes ++ raster)
    }
    // oversized maxval (16-bit PPM) is unsupported, not misparsed
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(ppm(6, 4, raster, header = "P6\n6 4\n65535\n"))
    }
    // BMP: compressed / wrong bpp / truncated all reject
    val good = bmp(5, 3, Array.tabulate(45)(_.toByte))
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp(good.take(53)) // shorter than fixed headers
    }
    val wrongBpp = good.clone; wrongBpp(28) = 8
    intercept[IllegalArgumentException] { Multimodal.decode(wrongBpp) }
    val compressed = good.clone; compressed(30) = 1
    intercept[IllegalArgumentException] { Multimodal.decode(compressed) }
  }

  test("BMP decode handles row padding and top-down (negative height) bitmaps") {
    val px = Array.tabulate(5 * 3 * 3)(i => (i * 11 % 255).toByte)
    val b = bmp(5, 3, px) // rowSize 16 ≠ 15 → padding exercised
    val d = Multimodal.decodeBmp(b)
    assert(d.width == 5 && d.height == 3 && d.phash.length == 8)
    val topDown = b.clone()
    java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -3)
    val d2 = Multimodal.decode(topDown)
    assert(d2.width == 5 && d2.height == 3)
  }

  test("PNG/JPEG decode via imageio shares the canonical raster contract (m01 path)") {
    import spark.implicits._
    val w = 6; val h = 4
    val raster = Array.tabulate(w * h * 3)(i => (i * 7 % 251).toByte)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      img.setRGB(x, y, ((raster(p) & 0xff) << 16) |
        ((raster(p + 1) & 0xff) << 8) | (raster(p + 2) & 0xff))
    }
    def encoded(fmt: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, buf), s"no $fmt writer")
      buf.toByteArray
    }
    val png = encoded("png")
    val d = Multimodal.decode(png, "image/png")
    assert(d.width == w && d.height == h)
    // PNG is lossless and repacks to the same canonical RGB raster as the
    // byte-level decoders: the PPM of the same image agrees bit-for-bit
    val viaPpm = Multimodal.decodePpm(ppm(w, h, raster))
    assert(d.ahash == viaPpm.ahash && d.phash == viaPpm.phash)
    // no-mime sniff routes by the PNG magic to the same decode
    assert(Multimodal.decode(png) == d)
    // JPEG is lossy: header dims are pinned, hashes are its own
    val jpg = encoded("jpg")
    val dj = Multimodal.decode(jpg, "image/jpeg")
    assert(dj.width == w && dj.height == h)
    // the m01 batch path consumes PNG records like any other media
    val feats = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(1L, png, "image/png")).toDS()).head()
    assert(feats.width == w && feats.height == h && feats.ahash == d.ahash)
    // truncated payloads reject loudly, never silently stub
    intercept[IllegalArgumentException] {
      Multimodal.decode(png.take(20), "image/png")
    }
    intercept[IllegalArgumentException] {
      Multimodal.decode(jpg.take(8), "image/jpeg")
    }
    // decompression-bomb guard: a tiny payload DECLARING ~700M pixels
    // (would demand ~8 GB of decode buffers) rejects from the header
    // probe, before any decode allocation
    def pngHeader(pw: Int, ph: Int): Array[Byte] = {
      val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
      val ihdr = java.nio.ByteBuffer.allocate(13).putInt(pw).putInt(ph)
        .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        .array()
      val typeAndData = "IHDR".getBytes("US-ASCII") ++ ihdr
      val crc = new java.util.zip.CRC32(); crc.update(typeAndData)
      sig ++ java.nio.ByteBuffer.allocate(4).putInt(13).array() ++
        typeAndData ++
        java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    }
    val bomb = intercept[IllegalArgumentException] {
      Multimodal.decode(pngHeader(26500, 26500), "image/png")
    }
    assert(bomb.getMessage.contains("pixels"), bomb.getMessage)
  }

  test("GIF decode rides the imageio dispatch (m01 path)") {
    import spark.implicits._
    // few distinct colors: GIF palette-quantizes to 256, so a 4-color
    // raster round-trips losslessly and the canonical-raster contract
    // (same ahash/phash as the PPM of the same image) is exact.
    // 8x8, not the PNG test's 6x4: the JDK's GIF LZW *encoder* corrupts
    // rows of that particular tiny geometry (verified outside Spark —
    // rows 2-3 come back palette-rotated), while 8x8/16x16/32x8 are
    // byte-faithful. The DECODER contract under test is unaffected.
    val w = 8; val h = 8
    val palette = Array(0x102030, 0x405060, 0x708090, 0xa0b0c0)
    val raster = new Array[Byte](w * h * 3)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val c = palette((y * w + x) % palette.length)
      val p = (y * w + x) * 3
      raster(p) = ((c >> 16) & 0xff).toByte
      raster(p + 1) = ((c >> 8) & 0xff).toByte
      raster(p + 2) = (c & 0xff).toByte
      img.setRGB(x, y, c)
    }
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", buf), "no gif writer")
    val gif = buf.toByteArray
    assert(gif.take(3).map(_.toChar).mkString == "GIF")
    val d = Multimodal.decode(gif, "image/gif")
    assert(d.width == w && d.height == h)
    val viaPpm = Multimodal.decodePpm(ppm(w, h, raster))
    assert(d.ahash == viaPpm.ahash && d.phash == viaPpm.phash)
    // no-mime sniff routes by the GIF magic to the same decode
    assert(Multimodal.decode(gif) == d)
    // the m01 batch path consumes GIF records like any other media
    val feats = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRecord(1L, gif, "image/gif")).toDS()).head()
    assert(feats.width == w && feats.height == h && feats.ahash == d.ahash)
    // truncated payloads reject loudly, never silently stub
    intercept[IllegalArgumentException] {
      Multimodal.decode(gif.take(10), "image/gif")
    }
  }

  test("BMP size arithmetic is Long-width: crafted width rejects, never wraps") {
    // w = 0x55555556 makes Int w*3+3 wrap to 5 (stride 4): the Long math
    // must instead trip the raster bounds check loudly
    val good = bmp(5, 3, Array.tabulate(45)(_.toByte))
    val crafted = good.clone()
    java.nio.ByteBuffer.wrap(crafted).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 0x55555556)
    val e = intercept[IllegalArgumentException] { Multimodal.decodeBmp(crafted) }
    assert(e.getMessage.contains("out of bounds"), e.getMessage)
    // h = Int.MinValue survives math.abs still-negative → rejected as bad dims
    val minH = good.clone()
    java.nio.ByteBuffer.wrap(minH).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, Int.MinValue)
    intercept[IllegalArgumentException] { Multimodal.decodeBmp(minH) }
  }

  test("BMP and PPM of the same pixels agree on the perceptual hash") {
    val w = 16; val h = 8
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val fromPpm = Multimodal.decodePpm(ppm(w, h, rgb))
    // bmp() writes bottom-up rows; feed it the vertically flipped image
    // with channels swapped to BGR so the stored pixels match `rgb`
    val bgrFlipped = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      bgrFlipped((y * w + x) * 3 + c) = rgb(((h - 1 - y) * w + x) * 3 + (2 - c))
    val fromBmp = Multimodal.decodeBmp(bmp(w, h, bgrFlipped))
    assert(fromBmp.width == fromPpm.width && fromBmp.height == fromPpm.height)
    assert(fromBmp.ahash == fromPpm.ahash,
      f"ahash mismatch: bmp ${fromBmp.ahash}%016x vs ppm ${fromPpm.ahash}%016x")
  }

  test("averageHash: near-identical rasters within few bits, unrelated far apart") {
    val rnd = new scala.util.Random(42)
    val w = 64; val h = 64
    val img = Array.fill(w * h * 3)((rnd.nextInt(200) + 20).toByte)
    val base = Multimodal.averageHash(w, h, img)
    // small perturbation: +1 on 1% of bytes
    val nearby = img.clone()
    for (_ <- 0 until img.length / 100)
      { val i = rnd.nextInt(img.length); nearby(i) = (nearby(i) + 1).toByte }
    val near = Multimodal.averageHash(w, h, nearby)
    assert(java.lang.Long.bitCount(base ^ near) <= 6)
    // unrelated image: independent random raster
    val other = Array.fill(w * h * 3)((rnd.nextInt(200) + 20).toByte)
    val far = Multimodal.averageHash(w, h, other)
    assert(java.lang.Long.bitCount(base ^ far) >= 12)
    // scale invariance of the grid: 2x nearest-neighbor upsample keeps
    // the same 8x8 block structure → identical hash
    val up = new Array[Byte](2 * w * 2 * h * 3)
    for (y <- 0 until 2 * h; x <- 0 until 2 * w; c <- 0 until 3)
      up((y * 2 * w + x) * 3 + c) = img(((y / 2) * w + x / 2) * 3 + c)
    assert(Multimodal.averageHash(2 * w, 2 * h, up) == base)
  }

  test("ppmFromDocuments end-to-end: engine-parsed dims match the generation contract") {
    import spark.implicits._
    val docs = Seq((0L, "hello world this is a document"), (17L, ""),
      (5L, "x" * 1000)).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(
      Multimodal.ppmFromDocuments(spark, docs)).collect()
    feats.foreach { f =>
      val w = 8 + (f.doc_id % 9).toInt
      val len = if (f.doc_id == 5L) 1000 else if (f.doc_id == 17L) 0 else 30
      val h = math.max(1, (len + 3 * w - 1) / (3 * w))
      assert(f.width == w, s"doc ${f.doc_id}")
      assert(f.height == h, s"doc ${f.doc_id}")
      assert(f.n_bytes == s"P6\n$w $h\n255\n".length + w * h * 3)
    }
  }

  test("containment pairs: a contained passage scores 1.0 where its " +
    "Jaccard is far below the d06 bar; sub-threshold and unrelated docs " +
    "emit nothing (d52)") {
    import spark.implicits._
    def words(prefix: String, n: Int) =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val container = words("t", 30)                      // 23 8-grams
    val toks = container.split(" ")
    val contained = toks.slice(5, 15).mkString(" ")     // 10 toks → 3 grams, all in T
    val below = (toks.slice(5, 14) :+ "zzz").mkString(" ") // 2 of 3 in T → 0.6666
    val docs = Seq(
      (1L, container),
      (2L, contained),
      (3L, below),
      (4L, words("z", 15)),                             // unrelated
      (5L, words("x", 12)), (6L, words("x", 12)))       // exact copies
      .toDF("doc_id", "text")
    val out = DocumentQueries.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // Jaccard(1,2) = 3/23 ≈ 0.13 — d06 would never surface this pair;
    // the overlap coefficient is 3/min(23,3) = 1.0
    assert(out.keySet == Set((1L, 2L), (5L, 6L)),
      s"expected exactly the contained pair and the exact-copy pair, got ${out.keySet}")
    assert(out((1L, 2L)) == ((23L, 3L, 3L, 1.0)))
    assert(out((5L, 6L)) == ((5L, 5L, 5L, 1.0)))
  }

  test("containment pairs: fps hotter than containment.rarecap nominate " +
    "no pair (d52 cap semantics, conf-driven)") {
    import spark.implicits._
    val text = (0 until 12).map(i => s"h$i").mkString(" ")
    val docs = (1L to 5L).map(id => (id, text)).toDF("doc_id", "text")
    // 5 exact copies: every fp has df=5. Under the default cap (64) all
    // C(5,2)=10 pairs report at containment 1.0 ...
    val dflt = DocumentQueries.containmentPairs(docs).collect()
    assert(dflt.length == 10 && dflt.forall(_.getDouble(5) == 1.0))
    // ... with the cap below the group size, no fp may nominate
    spark.conf.set(graft.queries.QueryConf.ContainRareCapKey, "3")
    try
      assert(DocumentQueries.containmentPairs(docs).collect().isEmpty)
    finally spark.conf.unset(graft.queries.QueryConf.ContainRareCapKey)
  }

  test("winnowing census: sub-gram docs emit no row, sub-window docs an " +
    "all-zero selection row, a shared w+n-1 run is always caught, and " +
    "the density bounds hold (d53)") {
    import spark.implicits._
    def words(prefix: String, n: Int) =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    // shared run of w + n - 1 = 11 tokens between docs 3 and 4, each
    // wrapped in distinct context — the winnowing guarantee says at
    // least one SELECTED fp must be common to both
    val run = words("r", 11)
    val docs = Seq(
      (1L, words("a", 7)),                       // < n tokens: no row
      (2L, words("b", 10)),                      // 3 grams < w: zero row
      (3L, s"${words("c", 9)} $run ${words("d", 9)}"),
      (4L, s"${words("e", 9)} $run ${words("f", 9)}"),
      (5L, words("g", 60)))                      // long unique doc
      .toDF("doc_id", "text")
    val out = DocumentQueries.winnowStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(2L, 3L, 4L, 5L))
    val zero = out(2L)
    assert(zero.getLong(1) == 3L && zero.getLong(2) == 0L &&
      zero.getLong(3) == 0L && zero.getDouble(4) == 0.0 &&
      zero.getLong(5) == 0L && zero.getLong(6) == 0L)
    // guarantee: both run carriers share >=1 selected fp
    Seq(3L, 4L).foreach { id =>
      assert(out(id).getLong(5) >= 1L,
        s"doc $id: shared $run selection missed (n_shared_sel = 0)")
      assert(out(id).getLong(6) >= 2L)
    }
    // density bounds: a position is min of at most w windows, so
    // n_sel >= ceil((n_grams - w + 1) / w); and n_sel <= n_grams
    val w = graft.queries.QueryConf.DefaultWinnowWindow
    Seq(3L, 4L, 5L).foreach { id =>
      val (ng, ns) = (out(id).getLong(1), out(id).getLong(2))
      assert(ns <= ng)
      assert(ns >= (ng - w) / w + 1, s"doc $id: $ns of $ng selected")
      assert(out(id).getLong(3) <= ns, "distinct fps cannot exceed selections")
    }
    // the long unique doc shares nothing
    assert(out(5L).getLong(5) == 0L && out(5L).getLong(6) == 1L)
  }

  test("winnow-index match: a batch doc carrying an indexed w+n-1 run " +
    "matches its corpus doc; hot fps above winnow.maxdf nominate " +
    "nothing; the artifact round-trips through parquet (d54)") {
    import spark.implicits._
    def words(prefix: String, n: Int) =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val run = words("r", 11) // w + n - 1 tokens: the guarantee grain
    val corpusDocs = Seq(
      (2L, s"${words("a", 15)} $run ${words("b", 15)}"), // carries run
      (4L, words("c", 40)),                              // unrelated
      (6L, words("d", 40)))                              // unrelated
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"${words("e", 9)} $run ${words("f", 9)}"),   // shares run
      (3L, words("z", 30)))                              // matches nothing
      .toDF("doc_id", "text")
    // artifact round-trip: the probe reads the PERSISTED index (the
    // d16 signatureTable convention) carrying its stored df column
    val idxDir = java.nio.file.Files
      .createTempDirectory("winnow-idx").toString
    DocumentQueries.winnowFpArtifact(corpusDocs)
      .write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val probeFrame = DocumentQueries.winnowMatches(idx, batch)
    // 100x plan audit: df comes from the artifact's STORED column, so
    // the probe plans exactly TWO aggregates — the (doc_id,
    // match_doc_id) n_shared groupBy and the per-doc best-match argmax
    // over ITS output (r20's max(struct) form of the old rank window) —
    // and a corpus-wide df census (a full standing-index pass per
    // ingest batch at 100 TB) would surface as an aggregate whose
    // grouping is the bare fp: assert the grains, not just the count
    val aggs = probeFrame.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 2,
      s"d54 probe must plan only the n_shared groupBy + the best-match " +
        s"argmax (got ${aggs.size} Aggregates)")
    assert(aggs.map(_.groupingExpressions.size).sorted == Seq(1, 2),
      "the probe's aggregates are the (doc_id, match_doc_id) n_shared " +
        "groupBy and the (doc_id) best-match argmax — an fp-grain df " +
        "census would re-aggregate the corpus artifact")
    // a df-less index is refused loudly, not silently re-censused
    val dfLess = intercept[IllegalArgumentException] {
      DocumentQueries.winnowMatches(idx.drop("df"), batch)
    }
    assert(dfLess.getMessage.contains("winnowFpArtifact"))
    val out = probeFrame.collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L),
      s"only the run carrier matches, got ${out.map(_.getLong(0)).toSeq}")
    assert(out.head.getLong(1) == 2L && out.head.getLong(2) >= 1L)
    // hot-fp cap: with maxdf below the dup-group size, a batch doc
    // whose only common fps are that hot cannot be nominated
    val hotCorpus = (10L to 18L by 2).map(id => (id, words("h", 30)))
      .toDF("doc_id", "text") // 5 identical corpus docs: every fp df=5
    val hotBatch = Seq((11L, words("h", 30))).toDF("doc_id", "text")
    val hotIdx = DocumentQueries.winnowFpArtifact(hotCorpus)
    assert(DocumentQueries.winnowMatches(hotIdx, hotBatch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((11L, 10L)),
      "default cap: the copy group matches (best = min doc_id)")
    spark.conf.set(graft.queries.QueryConf.WinnowMaxDfKey, "3")
    try
      assert(DocumentQueries.winnowMatches(hotIdx, hotBatch).collect().isEmpty,
        "df=5 > maxdf=3: boilerplate fps must not nominate")
    finally spark.conf.unset(graft.queries.QueryConf.WinnowMaxDfKey)
  }

  test("assignHome (in-row argmax, r19) is row-equal to " +
    "assignTo.filter(rn = 1) — cell AND winning dot — on the smoke corpus") {
    import spark.implicits._
    val e = Tables(spark, sfSmoke, "embeddings")
      .withColumn("v", org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", org.apache.spark.sql.functions.expr(
        "sqrt(graft_dot(v, v))"))
      .select($"vec_id", $"v", $"nrm")
    val c1 = EmbeddingQueries.trainCentroids(e, 16, 1)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell", $"dot").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    val home = keyed(EmbeddingQueries.assignHome(e, c1))
    val window = keyed(EmbeddingQueries.assignTo(e, c1)
      .filter($"rn" === 1))
    assert(home.nonEmpty && home == window,
      "assignHome must reproduce the window argmax exactly " +
        "(dot DESC, cell ASC tie-break)")
    // empty-centroids edge: assignTo's empty-broadcast join yields no
    // rows; the in-row form must too (the m-null filter), not n rows of
    // null cells
    assert(EmbeddingQueries.assignHome(e, c1.limit(0)).isEmpty,
      "empty centroid table must assign nothing")
  }

  test("incremental PQ encode: the parquet-round-tripped centroid " +
    "artifact encodes bit-identically to the in-memory trainer, and the " +
    "batch never includes train-side vectors (s12)") {
    import spark.implicits._
    val e = Tables(spark, sfSmoke, "embeddings")
      .withColumn("v", org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", org.apache.spark.sql.functions.expr(
        "sqrt(graft_dot(v, v))"))
      .select($"vec_id", $"v", $"nrm")
    val c1 = EmbeddingQueries.trainCentroids(
      e.filter($"vec_id" % 2 === 0), 16, 1)
    val dir = java.nio.file.Files
      .createTempDirectory("pq-artifact").toString
    c1.write.mode("overwrite").parquet(dir)
    val batch = e.filter($"vec_id" % 2 === 1)
    def rows(cents: org.apache.spark.sql.DataFrame) =
      EmbeddingQueries.pqEncode(cents, batch).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getString(5))).toSeq
    val live = rows(c1)
    assert(live.nonEmpty && live.size % 8 == 0,
      "8 subvector rows per encoded vector")
    assert(live.forall(_._1 % 2 == 1), "train-side vectors must not encode")
    assert(rows(spark.read.parquet(dir)) == live,
      "the persisted artifact must drive a bit-identical encode")
  }

  test("windowed frame-energy census: hand-computed windows, partial " +
    "tail, first-on-tie peak, zero-frame object, format parity (m07)") {
    import graft.operators.Multimodal
    // [128,130 | 0,255 | 100] at win=2: w0 dev 0+2=2 (silent: 2 !> 4),
    // w1 128+127=255 (active), w2 tail len 1 dev 28 (active: 28 > 2)
    val samples = Array[Byte](128.toByte, 130.toByte, 0, 255.toByte, 100)
    val wav = Multimodal.wavBytes(8000, samples)
    assert(Multimodal.decodeWavEnergy(wav, win = 2) ==
      Multimodal.WavEnergy(5L, 3L, 2L, 1L, 1L, 255L))
    // exact window boundary: no phantom empty tail window
    val even = Multimodal.wavBytes(8000,
      Array[Byte](128.toByte, 130.toByte, 0, 255.toByte))
    assert(Multimodal.decodeWavEnergy(even, win = 2) ==
      Multimodal.WavEnergy(4L, 2L, 1L, 1L, 1L, 255L))
    // equal-sum windows: the FIRST index wins the peak
    val tie = Multimodal.wavBytes(8000, Array[Byte](200.toByte, 200.toByte))
    assert(Multimodal.decodeWavEnergy(tie, win = 1) ==
      Multimodal.WavEnergy(2L, 2L, 2L, 0L, 0L, 72L))
    // all-silence object: no active window, firstActive = -1, but the
    // peak still points at the (quiet) loudest window
    val quiet = Multimodal.wavBytes(8000,
      Array[Byte](128.toByte, 129.toByte, 127.toByte, 126.toByte))
    assert(Multimodal.decodeWavEnergy(quiet, win = 4) ==
      Multimodal.WavEnergy(4L, 1L, 0L, -1L, 0L, 4L))
    // a valid zero-frame WAV: zero windows, both indices -1
    assert(Multimodal.decodeWavEnergy(Multimodal.wavBytes(8000, Array())) ==
      Multimodal.WavEnergy(0L, 0L, 0L, -1L, -1L, 0L))
    // format parity (the u8-equivalent grain): the same logical stream
    // censuses identically through u8 mono, s16le mono, s16le stereo
    val v8 = Array(128, 130, 0, 255, 100)
    def s16of(v: Int): Short = ((v - 128) * 256).toShort
    val u8 = Multimodal.decodeWavEnergy(
      Multimodal.wavBytes(8000, v8.map(_.toByte)), win = 2)
    assert(Multimodal.decodeWavEnergy(
      Multimodal.wavBytes16(8000, 1, v8.map(s16of)), win = 2) == u8)
    // stereo right = left (equal channels: the floor average is l)
    assert(Multimodal.decodeWavEnergy(
      Multimodal.wavBytes16(8000, 2,
        v8.flatMap(v => Array(s16of(v), s16of(v)))), win = 2) == u8)
    // degenerate window refused loudly
    intercept[IllegalArgumentException](
      Multimodal.decodeWavEnergy(wav, win = 0))
    // the Dataset operator is the same census, batched per partition
    import spark.implicits._
    val ds = Seq(
      Multimodal.MediaRecord(1L, wav, "audio/wav"),
      Multimodal.MediaRecord(2L, quiet, "audio/wav"))
      .toDS().repartition(2)
    val rows = Multimodal.audioFrameEnergy(ds, win = 2).collect()
      .sortBy(_.doc_id)
    assert(rows.toSeq == Seq(
      Multimodal.FrameEnergy(1L, 5L, 3L, 2L, 1L, 1L, 255L),
      Multimodal.FrameEnergy(2L, 4L, 2L, 0L, -1L, 1L, 3L)))
  }

  test("WAV decode: hand-computed census, LIST chunks and odd-size pads " +
    "walked per the RIFF spec, malformed payloads rejected loudly (m06)") {
    import graft.operators.Multimodal
    // hand-computable stream: 128 (silent), 130 (silent, dev 2), 0
    // (clip, dev 128), 255 (clip, dev 127), 100 (dev 28)
    val samples = Array[Byte](128.toByte, 130.toByte, 0, 255.toByte, 100)
    val wav = Multimodal.wavBytes(8000, samples)
    // odd sample count ⇒ RIFF pad byte, total = 44 + 5 + 1
    assert(wav.length == 50)
    val d = Multimodal.decodeWav(wav)
    assert(d == Multimodal.DecodedWav(8000, 8, 1, 5L, 2 + 128 + 127 + 28,
      2L, 2L))
    // a LIST metadata chunk between fmt and data must be skipped (with
    // its own odd-size pad): splice one in by hand
    val list = Array[Byte]('L', 'I', 'S', 'T', 5, 0, 0, 0,
      'I', 'N', 'F', 'O', 'x', 0) // size 5 ⇒ 1 pad byte
    val spliced = wav.slice(0, 36) ++ list ++ wav.slice(36, wav.length)
    // RIFF size field must cover the spliced bytes
    val fixed = spliced.clone()
    val newSize = spliced.length - 8
    fixed(4) = (newSize & 0xff).toByte
    fixed(5) = ((newSize >> 8) & 0xff).toByte
    assert(Multimodal.decodeWav(fixed) == d,
      "LIST chunk must be skipped, census unchanged")
    def rejects(bytes: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Multimodal.decodeWav(bytes)
      }
      assert(e.getMessage.contains("malformed media payload"), s"$what: $e")
    }
    def mut(f: Array[Byte] => Array[Byte]): Array[Byte] = f(wav.clone())
    rejects(mut(b => b.slice(0, 10)), "truncated header")
    rejects(mut(b => { b(0) = 'X'; b }), "bad magic")
    // header claims stereo / 16-bit but block align still says 1 byte:
    // inconsistent fmt fields must reject, never decode by one of them
    rejects(mut(b => { b(22) = 2; b }), "stereo with block align 1")
    rejects(mut(b => { b(34) = 16; b }), "16-bit with block align 1")
    rejects(mut(b => { b(34) = 12; b(32) = 2; b }), "12-bit depth")
    rejects(mut(b => { b(22) = 3; b(32) = 3; b }), "3 channels")
    rejects(mut(b => { b(20) = 3; b }), "non-PCM float")
    rejects(mut(b => { b(4) = 99; b }), "wrong RIFF size")
    // a data chunk whose declared size runs past the payload
    rejects(mut(b => { b(40) = 100; b }), "data size past end")
    // a second fmt chunk must reject loudly, not overwrite the first
    // (same discipline as the multiple-data guard): splice a copy of
    // the fmt chunk (24 bytes at offset 12) before data, fix RIFF size
    val twoFmt = {
      val s2 = wav.slice(0, 36) ++ wav.slice(12, 36) ++
        wav.slice(36, wav.length)
      val n2 = s2.length - 8
      s2(4) = (n2 & 0xff).toByte
      s2(5) = ((n2 >> 8) & 0xff).toByte
      s2
    }
    rejects(twoFmt, "multiple fmt chunks")

    // --- s16le mono: the same u8-grain stream carried as (v-128)*256;
    // the quantizer must recover the identical census at bits=16
    val s16 = Multimodal.wavBytes16(8000, 1,
      samples.map(b => (((b & 0xff) - 128) * 256).toShort))
    assert(Multimodal.decodeWav(s16) ==
      Multimodal.DecodedWav(8000, 16, 1, 5L, 2 + 128 + 127 + 28, 2L, 2L))
    // --- s16le stereo: hand-built frames; downmix = floor((l+r)/2) at
    // the 16-bit grain, then quantize. Frames (u8-grain l, r):
    // (128,130)->129 dev 1 silent; (0,2)->1 dev 127; (255,253)->254
    // dev 126; (100,104)->102 dev 26
    val st = Multimodal.wavBytes16(8000, 2,
      Array(128, 130, 0, 2, 255, 253, 100, 104)
        .map(v => ((v - 128) * 256).toShort))
    assert(Multimodal.decodeWav(st) ==
      Multimodal.DecodedWav(8000, 16, 2, 4L, 1 + 127 + 126 + 26, 1L, 0L))
    // s16 data not frame-aligned: chop one byte off data, fix sizes
    val ragged = {
      val r = s16.slice(0, s16.length - 1)
      val n2 = r.length - 8
      r(4) = (n2 & 0xff).toByte
      r(5) = ((n2 >> 8) & 0xff).toByte
      r(40) = ((s16(40) & 0xff) - 1).toByte // data size 10 -> 9
      r
    }
    rejects(ragged, "s16 data not frame-aligned")
  }

  test("encoding anomaly: mojibake markers count exactly, clean accents " +
    "are NOT flagged, controls and replacement chars census, empty doc " +
    "is a zero row (d55)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean ascii prose only"),
      (2L, "café résumé exposé"),   // clean accents: é is no marker
      (3L, "cafÃ© already double-decoded"),   // Ã = 1 moji hit
      (4L, "bad\u20AC\u2122 quote \u00E2\u20AC\u2122 end"), // 5 moji hits
      (5L, "binary blob \u0007x\u001B\uFFFD junk \uFFFD"), // 2 ctrl + 2 repl
      (6L, ""))
      .toDF("doc_id", "text")
    val out = DocumentQueries.encodingAnomaly(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out(1L)._2 == 0 && out(1L)._3 == 0 && out(1L)._4 == 0 &&
      out(1L)._5 == 0.0)
    assert(out(2L)._3 == 0, "clean accented text must not be flagged")
    assert(out(3L)._3 == 1)
    assert(out(4L)._3 == 5)
    assert(out(5L) == ((23L, 2L, 0L, 2L,
      math.floor(4.0 / 23.0 * 1000000) / 1000000.0)))
    assert(out(6L) == ((0L, 0L, 0L, 0L, 0.0)),
      "empty doc: a zero census row, not a crash or a NaN")
  }

  test("BM25 top-k retrieval: Okapi scores replayed exactly, distinct " +
    "query terms, doc-id ties, no-match queries absent (d56)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      // an exact copy of doc 2: identical score, the doc_id tie-break
      (3L, "banana cherry"),
      (4L, "durian durian durian durian"),
      // empty doc: counts toward N and avgdl, matches nothing
      (5L, ""))
      .toDF("doc_id", "text")
    val probes = Seq(
      // repeated 'apple' must count ONCE (distinct query terms)
      (101L, "apple banana apple"),
      (102L, "cherry"),
      // no corpus hit / token-less probe: absent from the output
      (103L, "zzz"),
      (104L, ""))
      .toDF("query_id", "qtext")
    val out = DocumentQueries.bm25TopK(corpus, probes, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the engine's fixed-point term, replayed in plain Scala
    val n = 5L
    val avgdl = 11.0 / n // 3 + 2 + 2 + 4 + 0 tokens
    def sq(tf: Long, dl: Long, df: Long): Long =
      math.floor(math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        * 1000000).toLong
    // df: apple 1 (doc1), banana 3 (1,2,3), cherry 2 (2,3)
    val q101 = Map(
      1L -> (sq(2, 3, 1) + sq(1, 3, 3)), // apple×2 + banana×1
      2L -> sq(1, 2, 3), 3L -> sq(1, 2, 3))
    val q102 = Map(2L -> sq(1, 2, 2), 3L -> sq(1, 2, 2))
    def expect(qid: Long, m: Map[Long, Long]) = m.toSeq
      .sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, s), i) => (qid, i + 1L, id, s / 1000000.0) }
    assert(out.toSeq == expect(101L, q101) ++ expect(102L, q102),
      s"got:\n${out.mkString("\n")}")
    // the tie pair surfaced in id order with EQUAL scores
    val tie = out.filter(r => r._1 == 102L)
    assert(tie.map(_._3).toSeq == Seq(2L, 3L) && tie(0)._4 == tie(1)._4)
    assert(!out.exists(r => r._1 == 103L || r._1 == 104L),
      "no-hit and token-less probes must emit nothing")
    // k truncates: the same corpus at k=1 keeps only each query's best
    val top1 = DocumentQueries.bm25TopK(corpus, probes, k = 1).collect()
    assert(top1.length == 2 && top1.forall(_.getLong(1) == 1L))
  }

  test("BM25 indexed probe: parquet-round-tripped artifact scores " +
    "identically to the inline path, probe plan never censuses the " +
    "index, stats-less artifact refused (d58)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "banana cherry"), (4L, "durian durian durian durian"),
      (5L, ""))
      .toDF("doc_id", "text")
    val probes = Seq(
      (101L, "apple banana apple"), (102L, "cherry"), (103L, "zzz"))
      .toDF("query_id", "qtext")
    val inline = DocumentQueries.bm25TopK(corpus, probes, k = 10)
      .collect().toSeq
    // the artifact survives a parquet round trip (the d16/d54
    // signatureTable convention) and drives identical scores
    val idxDir = java.nio.file.Files
      .createTempDirectory("bm25-idx").toString
    DocumentQueries.bm25Index(corpus).write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    val probeFrame = DocumentQueries.bm25Probe(idx, probes, k = 10)
    assert(probeFrame.collect().toSeq == inline,
      "the persisted index must drive the exact inline scores")
    // 100x plan audit: df and the collection scalars come from STORED
    // columns, so the only aggregates over the ARTIFACT subtree are
    // the (query, doc) score sum — a df census or stats scalar here
    // would be a full standing-index pass per probe batch at 100 TB
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val overIndex = probeFrame.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.child.exists {
        case _: LogicalRelation => true
        case _ => false
      } => a
    }
    assert(overIndex.size == 1,
      s"d58 probe must not re-aggregate the index artifact (expected 1 " +
        s"Aggregate — the score sum — got ${overIndex.size})")
    assert(overIndex.head.groupingExpressions.size == 2,
      "the probe's one index-side aggregate is the (query_id, doc_id) sum")
    // a stats-less postings table is refused loudly, not re-censused
    val statsLess = intercept[IllegalArgumentException] {
      DocumentQueries.bm25Probe(idx.drop("df", "sum_dl"), probes)
    }
    assert(statsLess.getMessage.contains("bm25Index"))
  }

  test("BM25 honors a non-default bm25.topk (d56 knob liveness)") {
    import spark.implicits._
    def depth(k: Option[Int]): Long = {
      k.foreach(v => spark.conf.set(
        graft.queries.QueryConf.Bm25TopKKey, v.toString))
      try DocumentQueries.queries("d56_bm25_topk")(spark, sfSmoke)
        .agg(org.apache.spark.sql.functions.max("rk"))
        .collect().head.getLong(0)
      finally k.foreach(_ => spark.conf.unset(
        graft.queries.QueryConf.Bm25TopKKey))
    }
    assert(depth(Some(2)) == 2L, "topk=2 must cap every query at rank 2")
    assert(depth(None) > 2L, "the default depth must exceed the override")
  }

  test("skewed-key folds plan no Window operator — rep collapse, band " +
    "occupancy, winnow df are groupBy+join-back (r17 discipline pin)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WinNode}
    // A window partition is one task that buffers its whole group; on a
    // data-dependent skewed key (content fp, LSH band, winnow fp) that
    // is the 100 TB funnel SCALE.md's hot-key fold A/B measures. The
    // rank windows of the top-k operators (bounded probe sets) are NOT
    // in scope here — this audits exactly the fold surfaces the r17
    // rewrite moved to groupBy+join-back, so they cannot quietly move
    // back.
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case w: WinNode => w }
    val docs = Tables(spark, sfSmoke, "documents").select("doc_id", "text")
    DedupQueries.withDedupScope(docs) { scope =>
      assert(windows(scope.pairs).isEmpty,
        "d03 pairs plans a window — the band-occupancy fold regressed")
      assert(windows(scope.verifiedPairs).isEmpty,
        "d06 verifiedPairs plans a window")
    }
    val sigs = DedupQueries.signatureTable(docs)
    assert(windows(DedupQueries.repIndex(sigs)).isEmpty,
      "repIndex plans a window — the stored-occupancy build regressed")
    assert(windows(DocumentQueries.foldWinnowSignatures(
      Seq((1L, 7L), (2L, 7L), (3L, 9L)).toDF("doc_id", "fp"))).isEmpty,
      "foldWinnowSignatures plans a window — the df fold regressed")
  }

  test("graph density consumes the s14 artifact shape: hand-computed " +
    "degree/floor-grid means, isolated universe members, tau split, " +
    "non-graph input refused (s15)") {
    import spark.implicits._
    // synthesized s14-shaped graph — the operator must read the
    // ARTIFACT, so the fixture is the artifact, not vectors
    val graph = Seq(
      (1L, 1L, 2L, 0.9), (1L, 2L, 3L, 0.2), // mean floor(11000/2)=0.55
      (2L, 1L, 1L, 0.9),                    // mean 0.9  -> dense
      (3L, 1L, 1L, 0.2), (3L, 2L, 2L, 0.1)) // mean 0.15 -> sparse
      .toDF("vec_id", "rk", "nbr", "cos_sim")
    val emb = Seq(1L, 2L, 3L, 4L).toDF("vec_id") // 4 absent -> isolated
    val out = EmbeddingQueries.graphDensity(emb, graph).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, Some(0.55), "dense"),
      (2L, 1L, Some(0.9), "dense"),
      (3L, 2L, Some(0.15), "sparse"),
      (4L, 0L, None, "isolated")), out.mkString(","))
    // gate integration: one row per corpus vector, decisions total
    val gate = EmbeddingQueries.queries("s15_graph_density")(spark, sfSmoke)
      .collect()
    val nVec = Tables(spark, sfSmoke, "embeddings").count()
    assert(gate.length == nVec,
      s"one density row per vector: ${gate.length} vs $nVec")
    assert(gate.forall(r =>
      Set("isolated", "sparse", "dense")(r.getString(3))))
    // a frame that is not the s14 shape is refused loudly
    val bad = intercept[IllegalArgumentException] {
      EmbeddingQueries.graphDensity(emb, graph.drop("rk"))
    }
    assert(bad.getMessage.contains("knnGraph"), bad.getMessage)
  }

  test("RRF fusion: a doc mid-rank in BOTH halves fuses to top-1, " +
    "single-list docs still score, exact-integer contributions, ties " +
    "break doc_id-asc, malformed rankings refused (d59)") {
    import spark.implicits._
    // lexical: A(rk1) B(rk2) C(rk3); semantic: D(rk1) B(rk2) E(rk3).
    // B is top of NEITHER half, but 2/(60+2) beats 1/(60+1) — only the
    // fusion surfaces it. A and D then tie exactly (same single-half
    // rank-1 contribution) → doc_id ascending decides.
    val lex = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("query_id", "doc_id", "rk")
    val sem = Seq((1L, 40L, 1L), (1L, 20L, 2L), (1L, 50L, 3L))
      .toDF("query_id", "doc_id", "rk")
    val fused = DocumentQueries.rrfFuse(Seq(lex, sem), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(fused.map(_._2).toSeq == Seq(20L, 10L, 40L, 30L, 50L),
      s"fused order: ${fused.mkString(",")}")
    // exact integer arithmetic: contributions are 1e12 div (60 + rk)
    val div = (rk: Long) => 1000000000000L / (60L + rk)
    assert(fused.head._3 == (div(2) + div(2)) / 1e12)
    assert(fused(1)._3 == div(1) / 1e12 && fused(1)._3 == fused(2)._3)
    // k caps the fused depth
    assert(DocumentQueries.rrfFuse(Seq(lex, sem), k = 1).count() == 1L)
    // a single-system fusion preserves the input order
    val solo = DocumentQueries.rrfFuse(Seq(lex), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(solo.toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // schema gate: a rank list without rk is refused loudly
    val bad = intercept[IllegalArgumentException] {
      DocumentQueries.rrfFuse(Seq(lex.drop("rk")), k = 3)
    }
    assert(bad.getMessage.contains("query_id, doc_id, rk"), bad.getMessage)
    // content gates (ADVICE r17) — both corruptions previously fused
    // SILENTLY: a duplicate (query_id, doc_id) row within one table
    // double-counts that system's vote; rk < 1 inflates (or, at rrfK=0,
    // nulls out) a contribution. Loud refusal, naming the offence.
    val dup = Seq((1L, 10L, 1L), (1L, 10L, 2L), (1L, 20L, 3L))
      .toDF("query_id", "doc_id", "rk")
    val eDup = intercept[Exception] {
      DocumentQueries.rrfFuse(Seq(lex, dup), k = 3).collect()
    }
    assert(eDup.getMessage.contains("duplicate (query_id, doc_id)"),
      eDup.getMessage)
    val zeroRk = Seq((1L, 10L, 0L)).toDF("query_id", "doc_id", "rk")
    val eRk = intercept[Exception] {
      DocumentQueries.rrfFuse(Seq(zeroRk), k = 3).collect()
    }
    assert(eRk.getMessage.contains("NULL or < 1"), eRk.getMessage)
    // NULL rk is its own silent-drop path (rk < 1 is NULL for NULL, the
    // vote would vanish in the div/sum) — refused just as loudly
    val nullRk = Seq((1L, Some(10L), None: Option[Long]),
      (1L, Some(20L), Some(1L))).toDF("query_id", "doc_id", "rk")
    val eNull = intercept[Exception] {
      DocumentQueries.rrfFuse(Seq(nullRk), k = 3).collect()
    }
    assert(eNull.getMessage.contains("NULL or < 1"), eNull.getMessage)
  }

  test("winnowing honors a non-default winnow.window: larger w selects " +
    "more sparsely (d53 knob liveness)") {
    import spark.implicits._
    val docs = Seq((1L, (0 until 80).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    def nSel(w: Option[Int]): Long = {
      w.foreach(v => spark.conf.set(
        graft.queries.QueryConf.WinnowWindowKey, v.toString))
      try DocumentQueries.winnowStats(docs).collect().head.getLong(2)
      finally w.foreach(_ => spark.conf.unset(
        graft.queries.QueryConf.WinnowWindowKey))
    }
    val (atDefault, at16) = (nSel(None), nSel(Some(16)))
    assert(at16 < atDefault,
      s"w=16 must select more sparsely than the default ($at16 vs $atDefault)")
    assert(nSel(Some(1)) == 73L, "w=1 selects every gram position")
  }
}
