package graft

/** Dev tool: the d29 merge-count sweep behind SCALE.md — what does the
  * BPE trainer ([[graft.queries.DocumentQueries.bpeMerges]]) cost as k
  * grows toward production merge counts?
  *
  * The trainer pays one distributed corpus pass plus an in-memory merge
  * loop over the collected word table, so its job count is flat in k and
  * its wall grows with k only through the driver loop. This main runs it
  * at increasing k in one session (same-JVM, the SCALE.md discipline)
  * and prints the wall and job count of each.
  *
  * Usage: runMain graft.ScaleBpe <corpusDir> <ks>
  *   e.g.  /tmp/graft-scale/n50k 10,100,1000,10000
  *
  * `<corpusDir>` may be `synth:<nDocs>:<vocabSize>` — an inline
  * deterministic corpus with a REALISTIC vocabulary size (the ScaleGen
  * and driver corpora share a 31-word vocabulary, which exhausts BPE at
  * ~89 merges; production merge counts need production vocab).
  */
object ScaleBpe {
  val knobs = DevKit.Knobs()

  def main(args: Array[String]): Unit = {
    val Array(dir, ks) = args
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
    // JIT/session warmup
    graft.queries.DocumentQueries.bpeMerges(docs, 5).count()
    DevKit.grid(ks).foreach { k =>
      // min-of-2 timed runs after the one warmup above (a warmup per k
      // would double the long cells for nothing)
      val runs = DevKit.timedRuns(meter, 2)(_ =>
        graft.queries.DocumentQueries.bpeMerges(docs, k).count())
      println(DevKit.json("k" -> k, "wall_s" -> runs.min,
        "rows" -> runs.last, "jobs" -> runs.meter.jobs,
        "compiles" -> runs.meter.compiles))
    }
    spark.stop()
  }
}
