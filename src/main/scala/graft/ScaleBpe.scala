package graft

/** Dev tool: the d29 merge-count sweep behind SCALE.md — where does the
  * relational BPE loop stop being the right tool?
  *
  * The Spark loop's cost model is (corpus pass) + k × (per-round job
  * latency over the Heaps-bounded word table); the driver trainer
  * ([[graft.queries.DocumentQueries.bpeMergesDriver]]) pays the SAME
  * corpus pass plus an in-memory loop. This main measures both at
  * increasing k in one session (same-JVM, the SCALE.md discipline) so
  * the crossover is a number, not an argument.
  *
  * Usage: runMain graft.ScaleBpe <corpusDir> <sparkKs> <driverKs>
  *   e.g.  /tmp/graft-scale/n50k 10,50,100 10,100,1000,10000
  *
  * `<corpusDir>` may be `synth:<nDocs>:<vocabSize>` — an inline
  * deterministic corpus with a REALISTIC vocabulary size (the ScaleGen
  * and driver corpora share a 31-word vocabulary, which exhausts BPE at
  * ~89 merges; production merge counts need production vocab).
  */
object ScaleBpe {
  val knobs = DevKit.Knobs()

  def main(args: Array[String]): Unit = {
    val Array(dir, sparkKs, driverKs) = args
    val meter = DevKit.open("graft-scale-bpe", knobs)
    val spark = meter.spark
    import spark.implicits._
    val docs =
      if (dir.startsWith("synth:")) {
        val Array(_, nd, vs) = dir.split(":")
        val vocab = vs.toInt
        spark.range(0L, nd.toLong, 1L, 32).map { id =>
          val n = 50 + Math.floorMod(ScaleGen.mix64(id), 151L).toInt
          // Zipf-ish word ids: squared uniform biases toward low ids so
          // the pair-count distribution has the hot head real text has
          val text = (0 until n).map { i =>
            val u = Math.floorMod(ScaleGen.mix64(id * 1000003L + i),
              vocab.toLong).toDouble / vocab
            "w" + (u * u * vocab).toLong
          }.mkString(" ")
          (id, text)
        }.toDF("doc_id", "text")
      } else Tables(spark, dir, "documents").select("doc_id", "text")
    def sweep(label: String, ks: String,
        run: (org.apache.spark.sql.DataFrame, Int) => Long): Unit =
      DevKit.grid(ks).foreach { k =>
        // min-of-2 timed runs after one warmup at the smallest k only
        // (a warmup per k would double the long cells for nothing)
        val runs = DevKit.timedRuns(meter, 2)(_ => run(docs, k))
        println(DevKit.json("path" -> label, "k" -> k, "wall_s" -> runs.min,
          "rows" -> runs.last))
      }
    // JIT/session warmup
    graft.queries.DocumentQueries.bpeMerges(docs, 5).count()
    graft.queries.DocumentQueries.bpeMergesDriver(docs, 5).count()
    sweep("spark", sparkKs,
      (d, k) => graft.queries.DocumentQueries.bpeMerges(d, k).count())
    sweep("driver", driverKs,
      (d, k) => graft.queries.DocumentQueries.bpeMergesDriver(d, k).count())
    spark.stop()
  }
}
