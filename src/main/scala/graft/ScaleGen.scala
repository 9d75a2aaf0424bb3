package graft

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Dev tool: deterministic synthetic `documents` corpus generator for the
  * scaling measurement (SCALE.md). Mirrors the driver testdata's
  * structure (TESTDATA.md seed-42 corpus, sf0.1 = 5,000 docs) so the
  * dedup operators see the same workload SHAPE at any size:
  *
  *   - a small hot vocabulary (31 words — every 3-gram shingle is shared
  *     by ~1% of docs, the degenerate-band-bucket stressor);
  *   - doc lengths ~U[10, 100] words (sf0.1: 44-577 chars);
  *   - ~5% near-duplicates: a mutated copy of an earlier doc (~10% of
  *     token positions re-rolled — lands in the 0.5..1.0 Jaccard band);
  *   - ~0.3% exact duplicates of an earlier doc;
  *   - one VIRAL exact-dup group at 1% of the corpus (the skew case the
  *     exact-dup collapse + band cap exist for; the driver corpus caps
  *     groups at 2, so this is strictly harsher);
  *   - lang/source columns with the driver corpus's cardinalities.
  *
  * Everything is a pure function of (seed, doc_id) via splitmix64 (public
  * constant from Steele et al., JDK SplittableRandom), so any scale
  * regenerates bit-identically, in parallel, with no driver-side state.
  * Near-dup/exact-dup sources point BACKWARD (doc_id - k) so the dup-pair
  * density per doc is scale-invariant: 10× the docs ⇒ ~10× the pairs,
  * which is what makes wall-time ratios between scales interpretable.
  *
  * Usage: `runMain graft.ScaleGen <outDir> <nDocs>` — writes
  * `<outDir>/documents.parquet`.
  */
object ScaleGen {
  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "zh", "es", "fr", "de")

  /** splitmix64's finalizer. */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** k-th draw for doc `id`, uniform in [0, bound). */
  private def draw(id: Long, k: Long, bound: Int): Int =
    (Math.floorMod(mix64(id * 1000003L + k), bound.toLong)).toInt

  /** Base (pre-dup) text of a doc: pure function of doc_id. */
  private def baseText(id: Long): Array[String] = {
    val n = 10 + draw(id, 0, 91)
    Array.tabulate(n)(i => Vocab(draw(id, 100 + i, Vocab.length)))
  }

  def textOf(id: Long, nDocs: Long): String = {
    val viralSize = math.max(2L, nDocs / 100)
    val words: Array[String] =
      if (id < viralSize) baseText(0) // the viral exact-dup group
      else {
        val roll = draw(id, 1, 1000)
        // dup branches copy the source doc's ACTUAL text (textOf, not
        // baseText): the source may itself be a viral or dup-rolled doc,
        // and duplicating its base text would plant a text no corpus doc
        // has — pair density would quietly undershoot the documented
        // rates. Recursion is bounded: each source is strictly smaller
        // and the chance it is itself a dup is ~5%, so chains are
        // geometrically short (expected depth ~1.06).
        if (roll < 3 && id > viralSize) // ~0.3% exact dup of an earlier doc
          textOf(id - 1 - draw(id, 2, math.min(id - 1, 500L).toInt), nDocs)
            .split(" ")
        else if (roll < 53 && id > viralSize) { // ~5% near dup
          val src = id - 1 - draw(id, 3, math.min(id - 1, 500L).toInt)
          val w = textOf(src, nDocs).split(" ")
          // re-roll ~10% of positions — stays above the 0.5 Jaccard bar
          w.indices.foreach { i =>
            if (draw(id, 200 + i, 10) == 0)
              w(i) = Vocab(draw(id, 300 + i, Vocab.length))
          }
          w
        } else baseText(id)
      }
    words.mkString(" ")
  }

  val knobs = DevKit.Knobs()

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val n = args(1).toLong
    val spark = DevKit.open("graft-scale-gen", knobs).spark
    import spark.implicits._
    val nb = spark.sparkContext.broadcast(n)
    spark.range(0L, n, 1L, 32)
      .mapPartitions { ids =>
        val total = nb.value
        ids.map { id =>
          val text = textOf(id, total)
          (id, text, Langs(draw(id, 4, Langs.length)),
            s"src${draw(id, 5, 20)}", text.length.toLong)
        }
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    println(s"[scale-gen] wrote $n docs to $out/documents.parquet")
    // embeddings at nDocs/10 (so the n5k/n50k/n500k series is a
    // 1×/10×/100× vector sweep for the s-family): 64-dim float vectors
    // with REAL cluster structure — a ±0.3 sign-pattern center per
    // 32-way cluster plus unit noise — so the trained IVF quantizer has
    // something to learn (pure noise would make every cell equally
    // wrong and the sweep would measure a degenerate index). Same
    // splitmix determinism as the documents.
    val nVec = math.max(100L, n / 10)
    spark.range(0L, nVec, 1L, 32)
      .mapPartitions { ids =>
        ids.map { id =>
          val cluster = draw(id, 50, 32)
          val emb = Array.tabulate(64) { i =>
            val center =
              if (((mix64((3000L + cluster) * 64 + i) >>> 17) & 1L) == 0L)
                0.3f else -0.3f
            val noise =
              (Math.floorMod(mix64(id * 7919L + 500 + i), 2001L) - 1000L) /
                1000.0f
            center + noise
          }
          (id, emb, cluster)
        }
      }
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    println(s"[scale-gen] wrote $nVec vectors to $out/embeddings.parquet")
    spark.stop()
  }
}
