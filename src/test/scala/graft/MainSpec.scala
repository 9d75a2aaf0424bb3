package graft

import java.nio.file.Files

import graft.etl.LogGen

/** CLI surface (reference s3logs/src/main.rs parity): aggregate local,
  * transform, and their printed line-count contract. */
class MainSpec extends SparkSpec {

  test("aggregate local: per-input line counts, directory expansion") {
    val tmp = Files.createTempDirectory("graft-cli-agg").toString
    // two plain files in one directory — the single-dir arg expands
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    def writeLines(path: String, n: Int, seed: Long): Unit =
      Files.write(java.nio.file.Paths.get(path),
        LogGen.lines(n, seed).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeLines(s"$tmp/in/a.log", 30, seed = 41)
    writeLines(s"$tmp/in/b.log", 20, seed = 42)
    val perFile = Main.run(spark, Seq("aggregate", "local",
      s"$tmp/in/a.log", s"$tmp/in/b.log"), Map.empty)
    assert(perFile == Seq(
      s"30 of lines processed for input $tmp/in/a.log",
      s"20 of lines processed for input $tmp/in/b.log"))
    // a single directory arg expands to its files (main.rs:61-78)
    val expanded = Main.run(spark, Seq("aggregate", "local", s"$tmp/in"),
      Map.empty)
    assert(expanded == Seq(
      s"30 of lines processed for input $tmp/in/a.log",
      s"20 of lines processed for input $tmp/in/b.log"))
    // EVERY directory arg expands (multi-arg invocations keep the
    // reference's per-FILE printed-count contract, main.rs:60-90)
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in2"))
    writeLines(s"$tmp/in2/c.log", 10, seed = 46)
    val multiDir = Main.run(spark, Seq("aggregate", "local",
      s"$tmp/in", s"$tmp/in2"), Map.empty)
    assert(multiDir == Seq(
      s"30 of lines processed for input $tmp/in/a.log",
      s"20 of lines processed for input $tmp/in/b.log",
      s"10 of lines processed for input $tmp/in2/c.log"))
    // a dir arg mixed with a file arg expands too, in arg order
    val mixed = Main.run(spark, Seq("aggregate", "local",
      s"$tmp/in2", s"$tmp/in/a.log"), Map.empty)
    assert(mixed == Seq(
      s"10 of lines processed for input $tmp/in2/c.log",
      s"30 of lines processed for input $tmp/in/a.log"))
    // unreadable input reports a failure line, not an exception
    val failed = Main.run(spark, Seq("aggregate", "local", s"$tmp/nope"),
      Map.empty)
    assert(failed == Seq(s"process failed input $tmp/nope"))
  }

  test("transform: fixture dir -> partitioned lake + stats line") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-tr").toString
    LogGen.lines(200, seed = 43).toDF("value").write.text(s"$tmp/in")
    // env-driven config keeps the reference's 600 s age gate by default;
    // the fixture was written milliseconds ago, so disable it here
    val out = Main.run(spark,
      Seq("transform", "-o", s"$tmp/lake", s"$tmp/in"),
      Map("S3LOGS_TRANSFORM_JOB_INTERVAL" -> "0"))
    assert(out == Seq("transform task ended, 200 lines processed",
      "transform census: 200 lines read, 0 malformed, 0 duplicates " +
        "dropped, 200 rows written"))
    // the lake is hive-partitioned parquet with every surviving row
    val lake = spark.read.parquet(s"$tmp/lake")
    assert(lake.count() > 0 && lake.columns.contains("RequestID"))
    val hourDirs = new java.io.File(s"$tmp/lake").listFiles
    assert(hourDirs.exists(_.getName.startsWith("year=")))
  }

  test("compact: detects hive layout, conserves rows, reports file counts") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-cmp").toString
    val env = Map("S3LOGS_TRANSFORM_JOB_INTERVAL" -> "0")
    // two appends -> several files per hot-hour partition (salted writes)
    LogGen.lines(150, seed = 44).toDF("value").write.text(s"$tmp/in1")
    LogGen.lines(150, seed = 44).toDF("value").write.text(s"$tmp/in2")
    Main.run(spark, Seq("transform", "-o", s"$tmp/lake", s"$tmp/in1"), env)
    Main.run(spark, Seq("transform", "-o", s"$tmp/lake", s"$tmp/in2"), env)
    val rows = spark.read.parquet(s"$tmp/lake").count()
    val out = Main.run(spark, Seq("compact", s"$tmp/lake"), env)
    assert(out.size == 1 && out.head.startsWith(s"compact task ended, $rows rows kept"))
    assert(spark.read.parquet(s"$tmp/lake").count() == rows)
    // partition layout survived (auto-detected year/month/day/hour)
    assert(new java.io.File(s"$tmp/lake").listFiles
      .exists(_.getName.startsWith("year=")))
    // a dir with no hive layout is refused, not flattened
    intercept[IllegalArgumentException](
      Main.run(spark, Seq("compact", s"$tmp/in1"), env))
    // ...unless --flat says so explicitly (the signature-table sidecar)
    import spark.implicits._
    (1 to 3).foreach { b =>
      (1 to 20).map(i => (b * 100L + i, s"fp$b-$i")).toDF("doc_id", "fp")
        .repartition(2).write.mode("append").parquet(s"$tmp/sigs")
    }
    val flat = Main.run(spark, Seq("compact", s"$tmp/sigs", "--flat"), env)
    assert(flat.size == 1 && flat.head.startsWith("compact task ended, 60 rows kept"))
    assert(spark.read.parquet(s"$tmp/sigs").count() == 60)
    // a flag mixed into the partition-column list is a usage error, not
    // a partitionBy("--flat") AnalysisException
    val e = intercept[IllegalArgumentException](
      Main.run(spark, Seq("compact", s"$tmp/lake", "--flat", "year"), env))
    assert(e.getMessage.contains("unexpected flag"))
  }

  test("stream --once drains the landing backlog and terminates") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-str").toString
    LogGen.lines(60, seed = 45).toDF("value").write.text(s"$tmp/landing")
    val out = Main.run(spark, Seq("stream", "--once",
      s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt"), Map.empty)
    assert(out == Seq("stream query terminated", "stream census: 2 micro-batches, " +
      "60 rows read, 0 rows dropped as late, 0 duplicate rows dropped"))
    val lake = spark.read.parquet(s"$tmp/out")
    assert(lake.count() == 60)
    // stream layout is dt=YYYYMMDD (the reference's streaming default)
    assert(new java.io.File(s"$tmp/out").listFiles
      .exists(_.getName.startsWith("dt=")))
    // a second --once run from the checkpoint re-processes nothing
    Main.run(spark, Seq("stream", "--once",
      s"$tmp/landing", s"$tmp/out", s"$tmp/ckpt"), Map.empty)
    assert(spark.read.parquet(s"$tmp/out").count() == 60)
  }

  test("stream --once census counts a drain's duplicate and late rows") {
    val tmp = Files.createTempDirectory("graft-cli-census").toString
    val landing = java.nio.file.Paths.get(tmp, "landing")
    Files.createDirectories(landing)
    def land(name: String, lines: Seq[String]): Unit =
      Files.writeString(landing.resolve(name), lines.mkString("", "\n", "\n"))
    def drain() = Main.run(spark, Seq("stream", "--once",
      landing.toString, s"$tmp/out", s"$tmp/ckpt"), Map.empty)
    land("a.log", LogGen.lines(100, seed = 51))
    drain()
    // the next drain starts from the checkpointed watermark (~t0): ten
    // lines arrive twice, five are two hours older than it
    val fresh = LogGen.entries(30, t0 = 1700000600L, seed = 52).map(_.line)
    val late = LogGen.entries(5, t0 = 1700000000L - 7200, seed = 53).map(_.line)
    land("b.log", fresh ++ fresh.take(10) ++ late)
    assert(drain().last == "stream census: 2 micro-batches, 45 rows read, " +
      "5 rows dropped as late, 10 duplicate rows dropped")
    assert(spark.read.parquet(s"$tmp/out").count() == 130)
  }

  test("stream --once --queue-dir: notifications drive the transform, acks empty the queue") {
    val tmp = Files.createTempDirectory("graft-cli-q").toString
    val objects = s"$tmp/objects"
    Files.createDirectories(java.nio.file.Paths.get(objects))
    import spark.implicits._
    LogGen.lines(90, seed = 47).toDF("value").write.text(s"$objects/a.log")
    val q = new graft.sources.FileQueue(s"$tmp/queue")
    q.enqueue(
      s"""{"Records":[{"eventName":"ObjectCreated:Put","awsRegion":"r",""" +
        s""""s3":{"bucket":{"name":"b"},"object":{"key":"a.log","size":1}}}]}""")
    // DEFAULT env on purpose: a notification fires after the PUT
    // completed, so the pipeline must process the milliseconds-old
    // object without the caller disabling the 600 s staging age gate —
    // the age-gate+ack combination would otherwise silently DELETE the
    // notification for an object it never read
    val out = Main.run(spark, Seq("stream", "--once",
      "--queue-dir", s"$tmp/queue", "--objects", objects,
      s"$tmp/lake", s"$tmp/ckpt"), Map.empty)
    assert(out == Seq("stream query terminated", "stream census: 1 micro-batches, " +
      "1 rows read, 0 rows dropped as late, 0 duplicate rows dropped"))
    assert(spark.read.parquet(s"$tmp/lake").count() == 90)
    assert(q.size == 0) // acked after the transform landed
  }

  test("ingest --once dedups the crawl drop into a lang-partitioned corpus") {
    val tmp = Files.createTempDirectory("graft-cli-ing").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/drop"))
    def doc(id: Long, text: String, lang: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang","source":"crawl",""" +
        s""""event_ts":"2024-01-01T00:0$id:00.000Z"}"""
    Files.write(java.nio.file.Paths.get(s"$tmp/drop/batch1.jsonl"),
      (Seq(doc(1, "alpha beta", "en"), doc(2, "ALPHA  beta", "en"), // dup of 1
        doc(3, "gamma delta", "de")).mkString("", "\n", "\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = Main.run(spark, Seq("ingest", "--once",
      s"$tmp/drop", s"$tmp/corpus", s"$tmp/ckpt"), Map.empty)
    assert(out == Seq("ingest query terminated"))
    val corpus = spark.read.parquet(s"$tmp/corpus")
    // doc 2 is a normalized-content duplicate of doc 1 — dropped
    assert(corpus.count() == 2)
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(new java.io.File(s"$tmp/corpus").listFiles
      .map(_.getName).filter(_.startsWith("lang=")).toSet == Set("lang=en", "lang=de"))
  }

  test("ingest --sigs maintains the signature-table sidecar per batch") {
    val tmp = Files.createTempDirectory("graft-cli-sig").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/drop"))
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl",""" +
        s""""event_ts":"2024-01-01T00:0$id:00.000Z"}"""
    Files.write(java.nio.file.Paths.get(s"$tmp/drop/b1.jsonl"),
      Seq(doc(1, "first corpus document"), doc(2, "second corpus document"))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = Main.run(spark, Seq("ingest", "--once", "--sigs", s"$tmp/sigs",
      s"$tmp/drop", s"$tmp/corpus", s"$tmp/ckpt"), Map.empty)
    assert(out == Seq("ingest query terminated"))
    assert(spark.read.parquet(s"$tmp/corpus").count() == 2)
    val sigs = spark.read.parquet(s"$tmp/sigs")
    assert(sigs.count() == 2)
    // `batch` is the idempotency partition (one overwrite-dir per
    // micro-batch, so crash-replays replace rather than append); `split`
    // feeds the per-ingest contamination check (d24)
    assert(sigs.schema.fieldNames.toSet ==
      Set("doc_id", "fp", "mh", "bands", "split", "batch"))
  }

  test("ingest --quality-min gates docs before the corpus and every " +
    "sidecar, quarantining rejects; refusals loud") {
    val tmp = Files.createTempDirectory("graft-cli-qgate").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/drop"))
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl",""" +
        s""""event_ts":"2024-01-01T00:0$id:00.000Z"}"""
    // doc 1: prose with stopwords — d09 quality well above 0.3;
    // doc 2: a single junk token — quality ≈ 0.07, gated out
    val good = "the quick brown fox jumps over a lazy dog near the river " +
      "bank while the sun sets over a quiet field"
    Files.write(java.nio.file.Paths.get(s"$tmp/drop/b1.jsonl"),
      Seq(doc(1, good), doc(2, "x")).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = Main.run(spark, Seq("ingest", "--once",
      "--quality-min", "0.3", "--rejects", s"$tmp/rejects",
      "--sigs", s"$tmp/sigs",
      s"$tmp/drop", s"$tmp/corpus", s"$tmp/ckpt"), Map.empty)
    assert(out == Seq("ingest query terminated"))
    val corpus = spark.read.parquet(s"$tmp/corpus")
    assert(corpus.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(1L),
      "only the above-bar doc may land in the corpus")
    // the gated-out doc must not be signed either — the artifact
    // describes the corpus, and the doc is not in it
    val sigs = spark.read.parquet(s"$tmp/sigs")
    assert(sigs.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    val rej = spark.read.parquet(s"$tmp/rejects").collect()
    assert(rej.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
    assert(rej.head.getAs[Double]("quality") < 0.3)
    val bad = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("ingest", "--once", "--quality-min", "1.5",
        s"$tmp/drop", s"$tmp/c2", s"$tmp/k2"), Map.empty)
    }
    assert(bad.getMessage.contains("(0, 1]"), bad.getMessage)
    val orphan = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("ingest", "--once", "--rejects", s"$tmp/r2",
        s"$tmp/drop", s"$tmp/c3", s"$tmp/k3"), Map.empty)
    }
    assert(orphan.getMessage.contains("needs --quality-min"),
      orphan.getMessage)
  }

  test("ingest --spansigs maintains the span-signature sidecar per batch") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-spansig").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/drop"))
    // paragraphs separated by "|" (--span-sep); LICENSE recurs across
    // both docs
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl",""" +
        s""""event_ts":"2024-01-01T00:0$id:00.000Z"}"""
    Files.write(java.nio.file.Paths.get(s"$tmp/drop/b1.jsonl"),
      Seq(doc(1, "intro one|LICENSE"), doc(2, "LICENSE|body two"))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = Main.run(spark, Seq("ingest", "--once",
      "--spansigs", s"$tmp/spansigs", "--span-sep", "|",
      s"$tmp/drop", s"$tmp/corpus", s"$tmp/ckpt"), Map.empty)
    assert(out == Seq("ingest query terminated"))
    val raw = spark.read.parquet(s"$tmp/spansigs")
    // per-batch spanSignatures rows under the batch idempotency
    // partition: 3 distinct paragraphs, LICENSE with df 2
    assert(raw.schema.fieldNames.toSet ==
      Set("para_fp", "df", "canon_doc", "canon_pos", "batch"))
    val folded = graft.queries.DocumentQueries.foldSpanSignatures(
      raw.select("para_fp", "df", "canon_doc", "canon_pos"))
    val byFp = folded.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFp.size == 3 && byFp.values.toSeq.sorted == Seq(1L, 1L, 2L),
      s"folded sidecar: $byFp")
    // the sidecar IS the d36 corpus side: a later batch bringing
    // LICENSE again dispositions corpus_dup without any corpus re-read
    val batch2 = Seq((10L, 0, "LICENSE"), (10L, 1, "fresh para"))
      .toDF("doc_id", "pos", "para")
    val disp = graft.queries.DocumentQueries
      .incrementalSpanDedup(folded, batch2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(5)).toMap
    assert(disp == Map((10L, 0L) -> "corpus_dup", (10L, 1L) -> "kept"),
      s"$disp")
  }

  test("ingest --winnowsigs maintains the winnowed-fp index sidecar; " +
    "the folded table answers a d54 probe without re-reading the lake") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-winnow").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/drop"))
    def words(prefix: String, n: Int) =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val run = words("r", 11) // w + n - 1: the winnowing guarantee grain
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl",""" +
        s""""event_ts":"2024-01-01T00:0$id:00.000Z"}"""
    Files.write(java.nio.file.Paths.get(s"$tmp/drop/b1.jsonl"),
      Seq(doc(1, s"${words("a", 12)} $run ${words("b", 12)}"),
          doc(2, words("c", 40)))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = Main.run(spark, Seq("ingest", "--once",
      "--winnowsigs", s"$tmp/winnow", "--repsigs", s"$tmp/repidx",
      s"$tmp/drop", s"$tmp/corpus", s"$tmp/ckpt"), Map.empty)
    assert(out == Seq("ingest query terminated"))
    // the rep-index sidecar rides the same batch: probe-ready shape,
    // and a d16 probe through it finds the planted run carrier's twin
    val ridx = spark.read.parquet(s"$tmp/repidx")
    assert(ridx.schema.fieldNames.toSet ==
      Set("fp", "rep", "mh", "bands", "bucket_ns", "split", "batch"))
    val riProbe = graft.queries.DedupQueries.incrementalMatchesIndexed(
      graft.queries.DedupQueries.foldRepIndex(ridx.drop("batch")),
      graft.queries.DedupQueries.signatureTable(
        Seq((9L, words("c", 40))).toDF("doc_id", "text"))).collect()
    assert(riProbe.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((9L, 2L)), s"rep-index probe: ${riProbe.mkString(",")}")
    val raw = spark.read.parquet(s"$tmp/winnow")
    assert(raw.schema.fieldNames.toSet == Set("doc_id", "fp", "df", "batch"))
    // the sidecar rows ARE winnowFpTable of the ingested corpus — the
    // lake never needs re-winnowing
    val expected = graft.queries.DocumentQueries
      .winnowFpTable(spark.read.parquet(s"$tmp/corpus")
        .select($"doc_id", $"text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(raw.select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == expected)
    // and the standing table answers a d54 probe through the read-side
    // fold (one ingest batch, so folded df == the stored batch-local
    // df): a batch doc carrying the indexed run matches doc 1
    val probe = graft.queries.DocumentQueries.winnowMatches(
      graft.queries.DocumentQueries.foldWinnowSignatures(raw.drop("batch")),
      Seq((7L, s"${words("x", 9)} $run ${words("y", 9)}"))
        .toDF("doc_id", "text")).collect()
    assert(probe.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, 1L)), s"probe: ${probe.mkString(",")}")
  }

  test("bpetrain writes the merge table off the driver-side production path") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-bpe").toString
    // the d29 hand-computed fixture (see OperatorsSpec): exactly 4
    // trainable merges, rank order aa, ab, cd, aaab
    Seq((1L, "aaab ab cd"), (2L, "aaab cd cd")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus")
    val out = Main.run(spark, Seq("bpetrain", s"$tmp/corpus", s"$tmp/bpe",
      "--merges", "10"), Map.empty)
    assert(out == Seq("bpetrain task ended, 4 merges trained " +
      "(pairs exhausted before 10)"), out.mkString("\n"))
    val table = spark.read.parquet(s"$tmp/bpe").orderBy("merge_rank")
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(table.toSeq == Seq((1L, "aa", 4L), (2L, "ab", 3L),
      (3L, "cd", 3L), (4L, "aaab", 2L)), table.mkString(", "))
    val same = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("bpetrain", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(same.getMessage.contains("differ"), same.getMessage)
    val badK = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("bpetrain", s"$tmp/corpus", s"$tmp/x",
        "--merges", "0"), Map.empty)
    }
    assert(badK.getMessage.contains(">= 1"), badK.getMessage)
    // driver-heap collect ceiling (r17): with the bound lowered under
    // the fixture's distinct-word count, the trainer refuses BEFORE the
    // collect with the sizing message, and --min-count is named as the
    // escape valve; no output dir is written
    val maxKey = graft.queries.QueryConf.BpeMaxWordsKey
    spark.conf.set(maxKey, "2") // fixture has 3 distinct words
    try {
      val tooBig = intercept[IllegalArgumentException] {
        Main.run(spark, Seq("bpetrain", s"$tmp/corpus", s"$tmp/guarded"),
          Map.empty)
      }
      assert(tooBig.getMessage.contains(maxKey) &&
        tooBig.getMessage.contains("--min-count"), tooBig.getMessage)
      assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/guarded")),
        "a refused train run must not write an artifact")
      // the named escape valve works: min-count 2 prunes below the bound
      val pruned = Main.run(spark, Seq("bpetrain", s"$tmp/corpus",
        s"$tmp/guarded", "--min-count", "2"), Map.empty)
      assert(pruned.head.startsWith("bpetrain task ended"), pruned)
    } finally spark.conf.unset(maxKey)
    // tokenize consumes the saved artifact: after ALL 4 merges each
    // word is one symbol -> n_bpe_tokens == n_words per doc (3 each)
    val tok = Main.run(spark, Seq("tokenize", s"$tmp/corpus", s"$tmp/bpe",
      s"$tmp/toks"), Map.empty)
    assert(tok == Seq("tokenize task ended, 6 bpe tokens over 2 docs"),
      tok.mkString("\n"))
    val perDoc = spark.read.parquet(s"$tmp/toks").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens")))).toMap
    assert(perDoc == Map(1L -> ((3L, 3L)), 2L -> ((3L, 3L))), s"$perDoc")
  }

  test("compact --spansigs/--sigs folds sidecar generations into one, disposition unchanged") {
    import spark.implicits._
    import graft.queries.{DedupQueries, DocumentQueries}
    val tmp = Files.createTempDirectory("graft-cli-sidecompact").toString
    def paras(rows: (Long, Seq[String])*) = rows.toSeq
      .flatMap { case (id, ps) =>
        ps.zipWithIndex.map { case (p, i) => (id, i, p) } }
      .toDF("doc_id", "pos", "para")
    // three ingest generations of the d36 span sidecar; LICENSE recurs
    // across generations so the fold must SUM df across them
    val gen = Seq(
      paras(1L -> Seq("intro one", "LICENSE")),
      paras(10L -> Seq("LICENSE", "body ten")),
      paras(20L -> Seq("LICENSE", "body twenty", "intro one")))
    gen.zipWithIndex.foreach { case (g, i) =>
      DocumentQueries.spanSignatures(g)
        .write.parquet(s"$tmp/spansigs/batch=$i")
    }
    def dispositions() = {
      val folded = DocumentQueries.foldSpanSignatures(
        spark.read.parquet(s"$tmp/spansigs")
          .select("para_fp", "df", "canon_doc", "canon_pos"))
      DocumentQueries.incrementalSpanDedup(folded,
        paras(30L -> Seq("LICENSE", "fresh para"))).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(5)).toSet
    }
    val before = dispositions()
    val out = Main.run(spark,
      Seq("compact", s"$tmp/spansigs", "--spansigs"), Map.empty)
    // 4 distinct (fp-folded) spans survive; one generation remains —
    // the MAX batch id, so a resumed ingest can never collide
    assert(out.head.startsWith("compact task ended, 4 rows kept, " +
      "3 -> 1 generations"), out.mkString("\n"))
    assert(new java.io.File(s"$tmp/spansigs").listFiles
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq ==
      Seq("batch=2"))
    // the disposition a reader computes is IDENTICAL over the compacted
    // artifact, and df survived the fold (LICENSE df = 3)
    assert(dispositions() == before)
    val lic = spark.read.parquet(s"$tmp/spansigs")
      .filter($"df" === 3).count()
    assert(lic == 1L, "LICENSE generation-summed df lost in the fold")
    // the d16 doc-signature sidecar: identity fold, rows conserved
    val docs = Tables(spark, sfSmoke, "documents").limit(40)
      .select("doc_id", "text")
    DedupQueries.signatureTable(docs.filter($"doc_id" < 20), withSplit = true)
      .write.parquet(s"$tmp/sigs/batch=0")
    DedupQueries.signatureTable(docs.filter($"doc_id" >= 20), withSplit = true)
      .write.parquet(s"$tmp/sigs/batch=7")
    val out2 = Main.run(spark, Seq("compact", s"$tmp/sigs", "--sigs"),
      Map.empty)
    assert(out2.head.startsWith("compact task ended, 40 rows kept, " +
      "2 -> 1 generations"), out2.mkString("\n"))
    assert(spark.read.parquet(s"$tmp/sigs")
      .select("doc_id").distinct().count() == 40)
    // the d53/d54 winnowed-fp sidecar: the fold recomputes GLOBAL df
    // over the concatenated generations (each wrote batch-local df);
    // (row count, distinct docs, distinct fps) conserved
    val wdocs = docs.withColumn("text",
      org.apache.spark.sql.functions.expr(
        "concat(text, ' ', text)")) // ensure >= w grams per doc
    DocumentQueries.winnowFpArtifact(wdocs.filter($"doc_id" < 20))
      .write.parquet(s"$tmp/winnow/batch=0")
    DocumentQueries.winnowFpArtifact(wdocs.filter($"doc_id" >= 20))
      .write.parquet(s"$tmp/winnow/batch=3")
    val preRows = spark.read.parquet(s"$tmp/winnow").count()
    val out3 = Main.run(spark, Seq("compact", s"$tmp/winnow", "--winnowsigs"),
      Map.empty)
    assert(out3.head.startsWith(s"compact task ended, $preRows rows kept, " +
      "2 -> 1 generations"), out3.mkString("\n"))
    val folded = spark.read.parquet(s"$tmp/winnow")
    assert(folded.count() == preRows)
    // the stored df IS the global census now: every row's df equals the
    // fp's row count over the folded artifact (what a probe would
    // otherwise have to re-aggregate)
    val dfErrs = folded
      .groupBy($"fp").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min($"df").as("lo"),
        org.apache.spark.sql.functions.max($"df").as("hi"))
      .filter($"n" =!= $"lo" || $"n" =!= $"hi").count()
    assert(dfErrs == 0, s"$dfErrs fps with stored df != global row count")
    // the d16/d24 rep-index sidecar: same-fp rows MERGE across
    // generations (global min rep), bucket_ns recomputed over the
    // folded rep set — the result must equal the single-build index
    DedupQueries.repIndex(DedupQueries.signatureTable(docs.filter($"doc_id" < 20)))
      .write.parquet(s"$tmp/repidx/batch=0")
    DedupQueries.repIndex(DedupQueries.signatureTable(docs.filter($"doc_id" >= 20)))
      .write.parquet(s"$tmp/repidx/batch=5")
    val out4 = Main.run(spark, Seq("compact", s"$tmp/repidx", "--repsigs"),
      Map.empty)
    assert(out4.head.contains("2 -> 1 generations"), out4.mkString("\n"))
    def idxRows(df: org.apache.spark.sql.DataFrame) = df
      .select("fp", "rep", "bucket_ns").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getSeq[Long](2)).map(_.toList))).toSet
    assert(idxRows(spark.read.parquet(s"$tmp/repidx").drop("batch")) ==
      idxRows(DedupQueries.repIndex(DedupQueries.signatureTable(docs))),
      "compacted rep index != single-build index")
    // a non-sidecar dir is refused loudly, not flattened
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("compact", s"$tmp/sigs/batch=7", "--sigs"),
        Map.empty)
    }
    assert(e.getMessage.contains("batch="), e.getMessage)
  }

  test("ingest --decontam gates each batch against the standing eval n-gram artifact (d39)") {
    val tmp = Files.createTempDirectory("graft-cli-d39").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/drop"))
    // base lands train, leak (= base + tail) lands test and contains
    // every base 8-gram; a clean train doc stays unflagged
    val body = (0 until 20).map(t => s"ig$t").mkString(" ")
    val (base, leak) = straddlePair(body)
    val clean = (0 until 1000).iterator
      .map(i => (0 until 12).map(t => s"cl${i}_$t").mkString(" "))
      .find(bucketOf(_) < 80).get
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl",""" +
        s""""event_ts":"2024-01-01T00:0${id % 10}:00.000Z"}"""
    def ingest(): Seq[String] = Main.run(spark, Seq("ingest", "--once",
      "--decontam", s"$tmp/dec",
      s"$tmp/drop", s"$tmp/corpus", s"$tmp/ckpt"), Map.empty)
    // run 1: the eval-side leak lands — nothing to probe yet, its
    // n-grams seed the artifact. (Batch ids are per-QUERY, and each
    // AvailableNow run also commits a trailing empty batch, so the
    // reports are read as one batch=-partitioned table, never by id.)
    Files.write(java.nio.file.Paths.get(s"$tmp/drop/b1.jsonl"),
      (doc(2, leak) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(ingest() == Seq("ingest query terminated"))
    assert(spark.read.parquet(s"$tmp/dec/report").count() == 0,
      "eval-side docs must not be probed")
    // run 2: a train doc carrying the leak's content + a clean one —
    // the gate catches the contaminated doc AT INGEST, witnessing the
    // standing artifact's eval doc, without re-reading the corpus
    Files.write(java.nio.file.Paths.get(s"$tmp/drop/b2.jsonl"),
      Seq(doc(11, base), doc(13, clean)).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(ingest() == Seq("ingest query terminated"))
    val rep = spark.read.parquet(s"$tmp/dec/report")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("disposition"), r.getAs[Long]("min_eval_doc"))))
      .toMap
    assert(rep == Map(11L -> (("drop", 2L)), 13L -> (("keep", -1L))),
      s"run-2 report: $rep")
    // the artifact carries one generation per batch, fp-keyed, text-free,
    // self-describing (n)
    val sigs = spark.read.parquet(s"$tmp/dec/evalsigs")
    assert(sigs.schema.fieldNames.toSet ==
      Set("fp", "eval_df", "min_eval_doc", "n", "batch"))
    assert(sigs.count() == leak.split(" ").length - 7)
  }

  test("transform --loop: two iterations over a growing staging dir, processed files moved") {
    val tmp = Files.createTempDirectory("graft-cli-loop").toString
    val env = Map("S3LOGS_TRANSFORM_JOB_INTERVAL" -> "0")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/stage"))
    def writeLines(path: String, n: Int, seed: Long): Unit =
      Files.write(java.nio.file.Paths.get(path),
        LogGen.lines(n, seed).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeLines(s"$tmp/stage/a.log", 40, seed = 50)
    // the dir GROWS between iterations, deterministically: the writer
    // lands b.log when iteration 1's Transform has started writing the
    // lake — by then iteration 1's listing is long past, and iteration
    // 2's listing still waits for that Transform to finish plus the 5 s
    // sleep. No fixed-sleep race on either side.
    val writer = new Thread(() => {
      val lake = new java.io.File(s"$tmp/lake")
      while (!lake.exists()) Thread.sleep(50)
      writeLines(s"$tmp/stage/b.log", 25, seed = 51)
    })
    writer.start()
    val out = Main.run(spark, Seq("transform", "-o", s"$tmp/lake",
      "--loop", "5", "--iterations", "2", s"$tmp/stage"), env)
    writer.join()
    assert(out == Seq(
      "transform task ended, 40 lines processed",
      "transform census: 40 lines read, 0 malformed, 0 duplicates " +
        "dropped, 40 rows written",
      "transform task ended, 25 lines processed",
      "transform census: 25 lines read, 0 malformed, 0 duplicates " +
        "dropped, 25 rows written",
      "transform loop ended after 2 iteration(s)"))
    assert(spark.read.parquet(s"$tmp/lake").count() == 65)
    // processed staging files moved into the hidden .processed dir
    assert(new java.io.File(s"$tmp/stage").listFiles.filter(_.isFile).isEmpty)
    assert(new java.io.File(s"$tmp/stage/.processed").listFiles
      .map(_.getName).toSet == Set("a.log", "b.log"))
    // restart-safe with no ledger: a fresh loop over the same dir finds
    // nothing to do and the lake does not double
    val again = Main.run(spark, Seq("transform", "-o", s"$tmp/lake",
      "--loop", "0", "--iterations", "1", s"$tmp/stage"), env)
    assert(again == Seq("transform task ended, 0 lines processed",
      "transform census: 0 lines read, 0 malformed, 0 duplicates " +
        "dropped, 0 rows written",
      "transform loop ended after 1 iteration(s)"))
    assert(spark.read.parquet(s"$tmp/lake").count() == 65)
  }

  test("transform --loop refuses inputs it cannot list, before any output exists") {
    val tmp = Files.createTempDirectory("graft-cli-loop-in").toString
    val env = Map("S3LOGS_TRANSFORM_JOB_INTERVAL" -> "0")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/stage"))
    // a missing dir and a non-local URI both used to run as an empty
    // batch on every iteration, printing "0 lines processed" forever
    Seq(Seq(s"$tmp/missing"), Seq(s"$tmp/stage", "s3a://b/k")).foreach { ins =>
      val e = intercept[IllegalArgumentException] {
        Main.run(spark, Seq("transform", "-o", s"$tmp/lake", "--loop", "0",
          "--iterations", "1") ++ ins, env)
      }
      assert(e.getMessage.contains(ins.last) &&
        !e.getMessage.contains(s"$tmp/stage"), e.getMessage)
      assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/lake")),
        s"refused loop over $ins wrote output")
    }
    // the staging-root env var is an input like a positional one
    val viaEnv = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("transform", "-o", s"$tmp/lake", "--loop", "0",
        "--iterations", "1"),
        env + ("S3LOGS_STAGGING_ROOT_PATH" -> "s3a://b/k"))
    }
    assert(viaEnv.getMessage.contains("s3a://b/k"), viaEnv.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(s"$tmp/lake")))
    // an existing empty staging dir is valid: an idle iteration
    val idle = Main.run(spark, Seq("transform", "-o", s"$tmp/lake",
      "--loop", "0", "--iterations", "1", s"$tmp/stage"), env)
    assert(idle.head == "transform task ended, 0 lines processed", idle)
  }

  test("dedup: disposition artifact written, decision counts printed") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-dedup").toString
    val base = (0 until 40).map(t => s"tok$t").mkString(" ")
    val drift = ((0 until 40).map(t => s"tok$t") ++ Seq("pA", "pB"))
      .drop(2).mkString(" ")
    Seq(1L -> base, 2L -> base, 11L -> drift,
      20L -> (0 until 30).map(t => s"cli$t").mkString(" "))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    val out = Main.run(spark, Seq("dedup", s"$tmp/corpus", s"$tmp/disp"),
      Map.empty)
    assert(out == Seq("dedup task ended, 2 of 4 docs kept " +
      "(1 exact, 1 near duplicates dropped)"), out.mkString("\n"))
    // the artifact IS the printed decision: one row per doc, kept set =
    // {1 (canonical of the near-dup cluster), 20 (unique)}
    val disp = spark.read.parquet(s"$tmp/disp")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("canonical_id"), r.getAs[String]("status")))).toMap
    assert(disp.size == 4)
    assert(disp(1L) == ((1L, "kept")) && disp(20L) == ((20L, "kept")))
    assert(disp(2L) == ((1L, "exact_dup")) && disp(11L) == ((1L, "near_dup")))
    // a replayed corpus (same doc_id twice) makes the disposition
    // ambiguous and would leave duplicates in the kept set — the
    // command must refuse before writing, not emit a dedup artifact
    // that keeps duplicates
    Seq(5L -> "replayed row text", 5L -> "replayed row text")
      .toDF("doc_id", "text").write.parquet(s"$tmp/dupcorpus")
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("dedup", s"$tmp/dupcorpus", s"$tmp/dispdup"),
        Map.empty)
    }
    assert(e.getMessage.contains("duplicate doc_id"), e.getMessage)
    assert(!new java.io.File(s"$tmp/dispdup").exists,
      "refused disposition still wrote an artifact")
    // out == corpus would overwrite the documents with the disposition
    // table (the checkpoint-backed frame defeats Spark's own
    // read-write-conflict check) — refuse before anything runs
    val same = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("dedup", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(same.getMessage.contains("differ"), same.getMessage)
    assert(spark.read.parquet(s"$tmp/corpus").count() == 4,
      "refused same-dir disposition damaged the corpus")
    // --best: the d34 quality-canonical policy over the same corpus —
    // one kept doc per content cluster, every member pointing at it
    val outBest = Main.run(spark,
      Seq("dedup", s"$tmp/corpus", s"$tmp/dispBest", "--best"), Map.empty)
    assert(outBest == Seq("dedup task ended, 2 of 4 docs kept " +
      "(2 duplicates dropped, best-quality canonicals)"),
      outBest.mkString("\n"))
    val db = spark.read.parquet(s"$tmp/dispBest").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("canonical_id"), r.getAs[String]("status")))).toMap
    val cluster = Seq(1L, 2L, 11L)
    val keptC = cluster.filter(id => db(id)._2 == "kept")
    assert(keptC.size == 1, s"cluster dispositions: $db")
    assert(cluster.forall(id => db(id)._1 == keptC.head),
      s"cluster members don't share the kept canonical: $db")
    assert(db(20L) == ((20L, "kept")), s"singleton: $db")
  }

  /** A corpus with every disposition: three families of a 40-token
    * text, each with a byte-identical copy and two drifted near copies,
    * plus ten unique docs. */
  private def writeDedupCorpus(dir: String): Unit = {
    import spark.implicits._
    def text(family: Int, drift: Int) =
      ((0 until 40).map(t => s"f${family}t$t") ++ Seq.fill(drift)(s"pad$drift"))
        .drop(drift).mkString(" ")
    val families = (0 until 3).flatMap { f =>
      Seq(0, 0, 2, 4).zipWithIndex.map { case (d, i) => (f * 10L + i, text(f, d)) }
    }
    val unique = (100L until 110L)
      .map(i => (i, (0 until 30).map(t => s"u${i}w$t").mkString(" ")))
    (families ++ unique).toDF("doc_id", "text").write.parquet(dir)
  }

  test("dedup: at most three SQL executions per policy, no lineage cut") {
    val tmp = Files.createTempDirectory("graft-cli-dedup-actions").toString
    writeDedupCorpus(s"$tmp/corpus")
    Seq(Nil, Seq("--best")).zipWithIndex.foreach { case (flag, i) =>
      val actions = actionsOf {
        Main.run(spark, Seq("dedup", s"$tmp/corpus", s"$tmp/out$i") ++ flag,
          Map.empty)
      }
      val names = actions.map(_._1).mkString(", ")
      // the duplicate-id guard, the pair-graph fetch, the write
      assert(actions.size <= 3, s"dedup ${flag.mkString}: $names")
      assert(!actions.exists(_._1.toLowerCase.contains("checkpoint")),
        s"dedup ${flag.mkString}: $names")
    }
  }

  test("dedup: the printed census is the written artifact's status counts") {
    val tmp = Files.createTempDirectory("graft-cli-dedup-census").toString
    writeDedupCorpus(s"$tmp/corpus")
    Seq(Nil, Seq("--best")).zipWithIndex.foreach { case (flag, i) =>
      val out = Main.run(spark,
        Seq("dedup", s"$tmp/corpus", s"$tmp/out$i") ++ flag, Map.empty)
      val n = spark.read.parquet(s"$tmp/out$i").groupBy("status").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      val total = n.values.sum
      assert(total == 22 && n("kept") == 13, s"statuses: $n")
      val expected =
        if (flag.isEmpty) s"dedup task ended, ${n("kept")} of $total docs " +
          s"kept (${n("exact_dup")} exact, ${n("near_dup")} near duplicates dropped)"
        else s"dedup task ended, ${n("kept")} of $total docs kept " +
          s"(${n("dup")} duplicates dropped, best-quality canonicals)"
      assert(out == Seq(expected))
    }
  }

  test("dedup: a dup-free or empty corpus keeps every doc") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-dedup-unique").toString
    (0L until 12L).map(i => (i, (0 until 25).map(t => s"u${i}w$t").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    assert(Main.run(spark, Seq("dedup", s"$tmp/corpus", s"$tmp/out"), Map.empty) ==
      Seq("dedup task ended, 12 of 12 docs kept (0 exact, 0 near duplicates dropped)"))
    assert(Main.run(spark, Seq("dedup", s"$tmp/corpus", s"$tmp/outBest", "--best"),
      Map.empty) == Seq("dedup task ended, 12 of 12 docs kept " +
      "(0 duplicates dropped, best-quality canonicals)"))
    Seq.empty[(Long, String)].toDF("doc_id", "text").write.parquet(s"$tmp/empty")
    assert(Main.run(spark, Seq("dedup", s"$tmp/empty", s"$tmp/outEmpty"), Map.empty) ==
      Seq("dedup task ended, 0 of 0 docs kept (0 exact, 0 near duplicates dropped)"))
    assert(spark.read.parquet(s"$tmp/outEmpty").count() == 0)
  }

  test("spandedup: repeated paragraphs collapse to canonical, corpus rewritten") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-spandedup").toString
    // --sep "|" exercises the regex-quoting path (an unquoted "|" split
    // would explode every CHARACTER); the shared paragraph "LICENSE"
    // appears in docs 1 and 2 (df=2 -> canonical in doc 1 survives,
    // doc 2's copy drops), everything else is unique
    Seq(1L -> "intro one|LICENSE|body one",
        2L -> "LICENSE|body two",
        3L -> "standalone")
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    val out = Main.run(spark,
      Seq("spandedup", s"$tmp/corpus", s"$tmp/clean", "--sep", "|"),
      Map.empty)
    assert(out == Seq(
      "spandedup task ended, 3 docs, 1 of 6 paragraphs dropped (7 chars)"),
      out.mkString("\n"))
    val cleaned = spark.read.parquet(s"$tmp/clean")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("cleaned")).toMap
    assert(cleaned(1L) == "intro one|LICENSE|body one")
    assert(cleaned(2L) == "body two")
    assert(cleaned(3L) == "standalone")
    // out == corpus refusal, same contract as dedup
    val same = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("spandedup", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(same.getMessage.contains("differ"), same.getMessage)
  }

  test("curate: full pipeline writes dispositions + split-partitioned corpus") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-curate").toString
    // one doc per drop reason + enough healthy docs that the kept set
    // is non-empty: near-dup pair (1 canonical / 2 drops), an exact
    // copy of 1 (drops), a low-quality doc, a no-marker doc, healthy
    // fillers. Single surviving language => rate 10000 => nobody is
    // sampled_out, so kept docs land in their d13 split.
    val base = ("the a of" +: (0 until 37).map(t => s"cur$t")).mkString(" ")
    val near = (("the a of" +: (0 until 37).map(t => s"cur$t")) :+ "tail")
      .mkString(" ")
    val fillers = (0 until 6).map(k =>
      (10L + k, "en", ("the a of" +: (0 until 37).map(t => s"f${k}_$t"))
        .mkString(" ")))
    val docs = (Seq(
      (1L, "en", base),
      (2L, "en", near),
      (3L, "en", base), // exact copy of 1
      (4L, "en", "zz zz"), // low_quality
      (5L, "en", (0 until 100).map(i => f"qx$i%02d").mkString(" "))) // unknown_lang
      ++ fillers).toDF("doc_id", "lang", "text")
    docs.write.parquet(s"$tmp/corpus")
    val out = Main.run(spark, Seq("curate", s"$tmp/corpus", s"$tmp/cur"),
      Map.empty)
    val disp = spark.read.parquet(s"$tmp/cur/dispositions")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("disposition")).toMap
    assert(disp.size == 11, s"conservation broke: $disp")
    assert(disp(3L) == "exact_dup", s"doc 3: ${disp(3L)}")
    assert(disp(2L) == "near_dup", s"doc 2: ${disp(2L)}")
    assert(disp(4L) == "low_quality", s"doc 4: ${disp(4L)}")
    assert(disp(5L) == "unknown_lang", s"doc 5: ${disp(5L)}")
    assert(Set("train", "val", "test")(disp(1L)), s"doc 1: ${disp(1L)}")
    // the kept corpus carries exactly the kept docs, hive-partitioned
    // on split, with the text intact
    val kept = spark.read.parquet(s"$tmp/cur/corpus")
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    val expectKept = disp.filter(kv => Set("train", "val", "test")(kv._2))
      .keySet
    assert(keptIds == expectKept, s"kept $keptIds vs $expectKept")
    assert(kept.columns.toSet == Set("doc_id", "lang", "text", "split"))
    val doc1 = kept.filter($"doc_id" === 1L).select("text", "split")
      .head
    assert(doc1.getString(0) == base && doc1.getString(1) == disp(1L))
    // the summary line is the disposition census
    val keptN = expectKept.size
    assert(out.head.startsWith(s"curate task ended, $keptN of 11 docs kept"),
      out.mkString("\n"))
    assert(out.head.contains("1 low quality") &&
      out.head.contains("1 unknown lang") &&
      out.head.contains("1 exact") && out.head.contains("1 near dup"),
      out.mkString("\n"))
    // --best: the d34 policy rides the same funnel — the near-dup
    // cluster's canonical becomes its higher-quality member (doc 2 =
    // base + "tail", whose extra token nudges the d09 score) and the
    // drop vocabulary is d34's single 'dup'
    val outBest = Main.run(spark, Seq("curate", s"$tmp/corpus",
      s"$tmp/curBest", "--best"), Map.empty)
    assert(outBest.head.contains("dup (best-quality canonicals)"),
      outBest.mkString("\n"))
    val dispBest = spark.read.parquet(s"$tmp/curBest/dispositions")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("disposition")).toMap
    assert(dispBest.size == 11, s"conservation broke: $dispBest")
    val bestCluster = Seq(1L, 2L, 3L)
    val bestKept = bestCluster.filterNot(id => dispBest(id) == "dup")
    assert(bestKept.size == 1 &&
      Set("train", "val", "test")(dispBest(bestKept.head)),
      s"best cluster: $dispBest")
    assert(dispBest(4L) == "low_quality" && dispBest(5L) == "unknown_lang",
      s"gates unchanged under --best: $dispBest")
    // out == corpus refusal; bad --quality-min refused before any work
    val same = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("curate", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(same.getMessage.contains("differ"), same.getMessage)
    val bad = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("curate", s"$tmp/corpus", s"$tmp/cur2",
        "--quality-min", "1.5"), Map.empty)
    }
    assert(bad.getMessage.contains("[0, 1]"), bad.getMessage)
  }

  test("decontam: both report directions written, summary counts agree") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-decontam").toString
    // the planted straddle: base lands train, leak (base + tail) lands
    // test and shares every base 8-gram; one clean doc per side
    val body = (0 until 20).map(t => s"dc$t").mkString(" ")
    val (base, leak) = straddlePair(body)
    val cleanTrain = (0 until 1000).iterator
      .map(i => (0 until 12).map(t => s"ca${i}_$t").mkString(" "))
      .find(bucketOf(_) < 80).get
    val cleanEval = (0 until 1000).iterator
      .map(i => (0 until 12).map(t => s"cb${i}_$t").mkString(" "))
      .find(bucketOf(_) >= 80).get
    Seq(0L -> base, 1L -> leak, 2L -> cleanTrain, 3L -> cleanEval)
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    // ONE shared fingerprint pass: the ONLY tracked SQL action whose plan
    // scans the corpus parquet must be the Materialize checkpoint of the
    // shared (doc_id, split, fp) frame — the artifact writes and summary
    // aggregates all read that one materialized table. Pre-share, the
    // two write actions each scanned the corpus twice (each direction
    // references the fp frame twice) for 4 re-scans.
    val corpusActions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tracked = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = {
        tracked.incrementAndGet()
        if (qe.executedPlan.toString.contains(s"$tmp/corpus"))
          corpusActions.add(f)
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // deliver the fixture writes' events before listening: their plans
    // name the corpus path too
    org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out = try {
      val r = Main.run(spark,
        Seq("decontam", s"$tmp/corpus", s"$tmp/dec"), Map.empty)
      // the listener bus is async — wait for the command's actions
      // (1 checkpoint + 2 writes + 2 summary aggregates)
      val deadline = System.currentTimeMillis + 30000
      while (tracked.get < 5 && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(tracked.get >= 5, s"expected >= 5 tracked actions, saw $tracked")
    val reScans = corpusActions.toArray(Array.empty[String])
      .filterNot(f => f.contains("heckpoint")) // the one shared pass
    assert(reScans.isEmpty,
      s"corpus re-scanned by action(s) ${reScans.mkString(", ")} — the " +
        "decontam command must feed both directions from ONE " +
        "materialized fp pass")
    assert(out == Seq("decontam task ended, 1 of 2 eval docs " +
      "compromised; drop 1 of 2 train docs to remediate"),
      out.mkString("\n"))
    val ev = spark.read.parquet(s"$tmp/dec/eval_report")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("min_train_doc")).toMap
    assert(ev == Map(1L -> 0L, 3L -> -1L), s"eval report: $ev")
    val tr = spark.read.parquet(s"$tmp/dec/train_dispositions")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("disposition"), r.getAs[Long]("min_eval_doc"))))
      .toMap
    assert(tr == Map(0L -> (("drop", 1L)), 2L -> (("keep", -1L))),
      s"train dispositions: $tr")
    val same = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("decontam", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(same.getMessage.contains("differ"), same.getMessage)
    // --n wider than any doc: BOTH artifacts are empty — pins the knob
    // and the summary's empty-side coalesce path (not an NPE) at once
    val out25 = Main.run(spark, Seq("decontam", s"$tmp/corpus",
      s"$tmp/dec25", "--n", "25"), Map.empty)
    assert(out25 == Seq("decontam task ended, 0 of 0 eval docs " +
      "compromised; drop 0 of 0 train docs to remediate"),
      out25.mkString("\n"))
    val badN = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("decontam", s"$tmp/corpus", s"$tmp/decx",
        "--n", "0"), Map.empty)
    }
    assert(badN.getMessage.contains(">= 1"), badN.getMessage)
  }

  test("pack: slice table written with conservation census") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-pack").toString
    // 10 + 6 = 16 tokens, seq-len 8 => exactly 2 full sequences; doc 1
    // straddles the boundary
    Seq(1L -> (0 until 10).map(t => s"p$t").mkString(" "),
        2L -> (0 until 6).map(t => s"q$t").mkString(" "))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    val out = Main.run(spark, Seq("pack", s"$tmp/corpus", s"$tmp/packed",
      "--seq-len", "8"), Map.empty)
    assert(out == Seq(
      "pack task ended, 16 tokens from 2 docs packed into 2 sequences of 8"),
      out.mkString("\n"))
    val slices = spark.read.parquet(s"$tmp/packed")
      .collect().map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("doc_start"), r.getAs[Long]("seq_start"),
        r.getAs[Long]("n_toks"))).sortBy(s => (s._1, s._4))
    assert(slices.toSeq == Seq((0L, 1L, 0L, 0L, 8L), (1L, 1L, 8L, 0L, 2L),
      (1L, 2L, 0L, 2L, 6L)), s"slices: ${slices.toSeq}")
    // refusals: same-dir overwrite, malformed seq-len
    val same = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("pack", s"$tmp/corpus", s"$tmp/corpus"), Map.empty)
    }
    assert(same.getMessage.contains("differ"), same.getMessage)
    val bad = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("pack", s"$tmp/corpus", s"$tmp/p2",
        "--seq-len", "0"), Map.empty)
    }
    assert(bad.getMessage.contains("positive"), bad.getMessage)
  }

  test("the pipeline subcommands compose: curate -> decontam -> pack") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-chain").toString
    // a corpus with one of everything: dup pair, junk, healthy docs
    val mk = (tag: String) =>
      ("the a of" +: (0 until 37).map(t => s"$tag$t")).mkString(" ")
    val docs = (Seq(
      (1L, "en", mk("ch")),
      (2L, "en", mk("ch")), // exact dup of 1
      (3L, "en", "zz zz")) // low quality
      ++ (0 until 8).map(k => (10L + k, "en", mk(s"w$k")))) // healthy
      .toDF("doc_id", "lang", "text")
    docs.write.parquet(s"$tmp/corpus")
    // stage 1: curate emits the kept corpus, hive-partitioned by split
    Main.run(spark, Seq("curate", s"$tmp/corpus", s"$tmp/cur"), Map.empty)
    val kept = spark.read.parquet(s"$tmp/cur/corpus")
    val keptN = kept.count()
    assert(keptN >= 2 && keptN <= 9, s"kept $keptN of 11")
    // stage 2: decontam consumes the CURATED corpus directly (it
    // recomputes the same content-hash split curate assigned, so the
    // two stages agree on sides by construction)
    val dec = Main.run(spark,
      Seq("decontam", s"$tmp/cur/corpus", s"$tmp/dec"), Map.empty)
    assert(dec.head.startsWith("decontam task ended"), dec.mkString("\n"))
    assert(spark.read.parquet(s"$tmp/dec/eval_report").count() +
      spark.read.parquet(s"$tmp/dec/train_dispositions").count() == keptN,
      "decontam rows don't cover the curated corpus")
    // stage 3: pack the curated corpus into sequences; the census
    // conserves the kept docs' token volume exactly
    val packOut = Main.run(spark, Seq("pack", s"$tmp/cur/corpus",
      s"$tmp/packed", "--seq-len", "16"), Map.empty)
    val keptTokens = kept
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.expr(
          "filter(split(text, ' '), t -> t <> '')")).cast("long"))
      .as[Long].collect().sum
    assert(packOut.head.startsWith(
      s"pack task ended, $keptTokens tokens from $keptN docs"),
      s"${packOut.mkString("\n")} (expected $keptTokens tokens, $keptN docs)")
  }

  test("overlap: source-pair matrix written, worst offender printed") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-overlap").toString
    Seq((0L, "shared one", "A"), (1L, "shared one", "A"),
        (2L, "shared one", "B"), (3L, "shared two", "A"),
        (4L, "shared two", "C"), (5L, "only b", "B"), (6L, "only c", "C"))
      .toDF("doc_id", "text", "source").write.parquet(s"$tmp/corpus")
    val out = Main.run(spark,
      Seq("overlap", s"$tmp/corpus", s"$tmp/matrix"), Map.empty)
    // jaccard tie A~B / A~C breaks on (src_a, src_b)
    assert(out == Seq("overlap task ended, 3 source pairs; " +
      "max overlap A~B jaccard 0.333333 (1 shared)"), out.mkString("\n"))
    val m = spark.read.parquet(s"$tmp/matrix").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(m == Map(("A", "B") -> 1L, ("A", "C") -> 1L, ("B", "C") -> 0L))
    val same = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("overlap", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(same.getMessage.contains("differ"), same.getMessage)
  }

  test("select: budget prefix kept with original columns, frac validated") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-select").toString
    // three 10-token docs with strictly ordered d09 quality (stopword
    // ratio descending); budget floor(0.4 * 30) = 12 keeps exactly the
    // best one (cum 10 <= 12, next cum 20 > 12)
    Seq((1L, "the a the a the a w x y z", "en"),
        (2L, "the a w w w w w w w w", "en"),
        (3L, "w w w w w w w w w w", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$tmp/corpus")
    val out = Main.run(spark, Seq("select", s"$tmp/corpus", s"$tmp/sel",
      "--frac", "0.4"), Map.empty)
    assert(out == Seq(
      "select task ended, 1 of 3 docs kept (10 tokens, frac 0.4 of corpus)"),
      out.mkString("\n"))
    val sel = spark.read.parquet(s"$tmp/sel").collect()
    assert(sel.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    // original columns survive the join; the manifest columns ride along
    assert(sel.head.getAs[String]("lang") == "en")
    assert(sel.head.getAs[Long]("cum_tok") == 10L)
    // frac 1.0 keeps everything
    val all = Main.run(spark, Seq("select", s"$tmp/corpus", s"$tmp/sel2",
      "--frac", "1.0"), Map.empty)
    assert(all.head.startsWith("select task ended, 3 of 3 docs kept"))
    val bad = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("select", s"$tmp/corpus", s"$tmp/sel3",
        "--frac", "1.5"), Map.empty)
    }
    assert(bad.getMessage.contains("(0, 1]"), bad.getMessage)
  }

  test("semdedup: within-cell near-identical vectors deduped at --tau") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-semdedup").toString
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64) { i =>
        var z = (seed.toLong << 32 | i.toLong) + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z ^= z >>> 27
        ((z % 1000L).toFloat / 1000.0f)
      }
    val near = vec(3).clone(); near(0) += 0.001f
    val rows = (0 until 10).map(i => (i.toLong, vec(i))) :+ (100L, near)
    rows.toDF("vec_id", "embedding").write.parquet(s"$tmp/emb")
    // tau 0.99: only the planted pair (cos ~0.9999) is above the bar
    val out = Main.run(spark, Seq("semdedup", s"$tmp/emb", s"$tmp/disp",
      "--tau", "0.99"), Map.empty)
    assert(out == Seq("semdedup task ended, 10 of 11 vectors kept " +
      "(1 semantic duplicates dropped at tau 0.99)"), out.mkString("\n"))
    val dropped = spark.read.parquet(s"$tmp/disp")
      .filter($"decision" === "drop").collect()
    assert(dropped.length == 1)
    assert(Set(3L, 100L).contains(dropped.head.getAs[Long]("vec_id")))
    val bad = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("semdedup", s"$tmp/emb", s"$tmp/d2",
        "--tau", "0"), Map.empty)
    }
    assert(bad.getMessage.contains("(0, 1]"), bad.getMessage)
  }

  test("semdecontam: a train vector near an eval vector is flagged, " +
    "census printed, refusals loud") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-semdecontam").toString
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64) { i =>
        var z = (seed.toLong << 32 | i.toLong) + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        ((z % 1000L).toFloat / 1000.0f)
      }
    val planted = vec(52).clone(); planted(0) += 0.001f
    val train = (0 until 10).map(i => (i.toLong, vec(i))) :+ (100L, planted)
    val eval = Seq((1000L, vec(52)), (1001L, vec(46)))
    train.toDF("vec_id", "embedding").write.parquet(s"$tmp/train")
    eval.toDF("vec_id", "embedding").write.parquet(s"$tmp/eval")
    // tau 0.99: only the planted near-copy is above the bar
    val out = Main.run(spark, Seq("semdecontam", s"$tmp/train",
      s"$tmp/eval", s"$tmp/disp", "--tau", "0.99"), Map.empty)
    assert(out == Seq("semdecontam task ended, 1 of 11 train vectors " +
      "semantically contaminated at tau 0.99 (10 clean)"),
      out.mkString("\n"))
    val dropped = spark.read.parquet(s"$tmp/disp")
      .filter($"decision" === "drop").collect()
    assert(dropped.length == 1)
    assert(dropped.head.getAs[Long]("vec_id") == 100L)
    assert(dropped.head.getAs[Long]("witness") == 1000L)
    val bad = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("semdecontam", s"$tmp/train", s"$tmp/eval",
        s"$tmp/d2", "--tau", "2"), Map.empty)
    }
    assert(bad.getMessage.contains("(0, 1]"), bad.getMessage)
    val clash = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("semdecontam", s"$tmp/train", s"$tmp/eval",
        s"$tmp/eval"), Map.empty)
    }
    assert(clash.getMessage.contains("must differ"), clash.getMessage)
  }

  test("dsir: raw docs scored against the target corpus, target-like " +
    "doc ranks first, refusals loud") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-dsir").toString
    Seq(
      (10L, "quantum field theory predicts particle interactions"),
      (11L, "particle physics theory predicts quantum interactions"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/target")
    Seq(
      (1L, "quantum theory predicts particle physics interactions"),
      (2L, "zxq vbn mmm koko zzz plplpl qqq"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/raw")
    val out = Main.run(spark, Seq("dsir", s"$tmp/raw", s"$tmp/target",
      s"$tmp/weights"), Map.empty)
    assert(out.head.startsWith("dsir task ended, 2 raw docs scored"),
      out.mkString("\n"))
    val w = spark.read.parquet(s"$tmp/weights").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_ratio"))
      .toMap
    assert(w(1L) > w(2L), s"target-like doc must outscore junk: $w")
    val clash = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("dsir", s"$tmp/raw", s"$tmp/target",
        s"$tmp/raw"), Map.empty)
    }
    assert(clash.getMessage.contains("must differ"), clash.getMessage)
    intercept[IllegalArgumentException] {
      Main.run(spark, Seq("dsir", s"$tmp/raw", s"$tmp/target"), Map.empty)
    }
  }

  test("bm25index + bm25: index built once, probe scores through the " +
    "stored artifact, topk honored, refusals loud") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-bm25").toString
    Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian durian durian durian"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    Seq((101L, "apple banana"), (102L, "cherry"))
      .toDF("query_id", "qtext").write.parquet(s"$tmp/probes")
    val built = Main.run(spark, Seq("bm25index", s"$tmp/corpus",
      s"$tmp/idx"), Map.empty)
    // postings: doc1 {apple, banana}, doc2 {banana, cherry}, doc3
    // {durian} = 5 rows over 4 terms
    assert(built.head ==
      "bm25index task ended, 5 postings over 4 terms (3 docs)",
      built.mkString("\n"))
    val probed = Main.run(spark, Seq("bm25", s"$tmp/idx", s"$tmp/probes",
      s"$tmp/hits"), Map.empty)
    assert(probed.head.startsWith("bm25 task ended, 3 results over 2 " +
      "queries"), probed.mkString("\n"))
    // the CLI path scores exactly like the library inline path
    val inline = graft.queries.DocumentQueries.bm25TopK(
      spark.read.parquet(s"$tmp/corpus"),
      spark.read.parquet(s"$tmp/probes").select($"query_id", $"qtext"))
      .collect().toSeq
    val viaCli = spark.read.parquet(s"$tmp/hits")
      .orderBy($"query_id", $"rk").collect().toSeq
    assert(viaCli == inline, "CLI probe must equal the inline scores")
    // --topk truncation
    val top1 = Main.run(spark, Seq("bm25", s"$tmp/idx", s"$tmp/probes",
      s"$tmp/hits1", "--topk", "1"), Map.empty)
    assert(top1.head.startsWith("bm25 task ended, 2 results over 2 " +
      "queries (top-1)"), top1.mkString("\n"))
    // refusals: output clash, malformed topk, probes without qtext,
    // a bare corpus where the index should be
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("bm25index", s"$tmp/corpus", s"$tmp/corpus"), Map.empty))
      .getMessage.contains("must differ"))
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("bm25", s"$tmp/idx", s"$tmp/probes", s"$tmp/hits2",
        "--topk", "zero"), Map.empty))
      .getMessage.contains("--topk"))
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("bm25", s"$tmp/idx", s"$tmp/corpus", s"$tmp/hits3"), Map.empty))
      .getMessage.contains("query_id"))
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("bm25", s"$tmp/corpus", s"$tmp/probes", s"$tmp/hits4"),
        Map.empty))
      .getMessage.contains("bm25Index"))
  }

  test("ann: semantic rank table from a stored embeddings artifact " +
    "matches the library operator, query modes + refusals (r18 CLI)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-ann").toString
    // a small embeddings artifact in the lake shape (float array)
    def vec(seed: Int): Seq[Float] = (1 to 64)
      .map(i => (math.sin(seed * 64 + i).abs + 0.1).toFloat)
    val emb = (0L until 30L).map(i => (i, vec((i % 7).toInt)))
      .toDF("vec_id", "embedding")
    emb.write.parquet(s"$tmp/emb")
    val out = Main.run(spark, Seq("ann", s"$tmp/emb", s"$tmp/ranks",
      "--nqueries", "5", "--topk", "3"), Map.empty)
    assert(out.head.startsWith("ann task ended, 15 results over 5 queries " +
      "(top-3)"), out.mkString("\n"))
    val ranks = spark.read.parquet(s"$tmp/ranks")
    assert(ranks.columns.toSeq ==
      Seq("query_id", "rk", "doc_id", "cos_sim"))
    // CLI path == the library operator, and the output IS fuse-ready:
    // a planted twin (same seed class) ranks first at cosine 1.0
    val inline = graft.queries.EmbeddingQueries.annRankTable(
      spark.read.parquet(s"$tmp/emb"),
      spark.read.parquet(s"$tmp/emb").filter($"vec_id" < 5), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ranks.orderBy($"query_id", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      inline.toSeq)
    val top1 = ranks.filter($"query_id" === 0L && $"rk" === 1L)
      .collect().head
    assert(top1.getDouble(3) == 1.0 && top1.getLong(2) % 7 == 0,
      s"query 0's top hit must be a same-class twin at 1.0: $top1")
    // --queries dir mode: an external query table ranks against the
    // corpus (self-exclusion only applies to identical ids)
    emb.filter($"vec_id" >= 28).write.parquet(s"$tmp/q")
    val ext = Main.run(spark, Seq("ann", s"$tmp/emb", s"$tmp/ranks2",
      "--queries", s"$tmp/q", "--topk", "2"), Map.empty)
    assert(ext.head.contains("over 2 queries"), ext.mkString("\n"))
    // fuse consumes the ann output together with a lexical table
    spark.read.parquet(s"$tmp/ranks")
      .select($"query_id", $"doc_id", $"rk")
      .write.parquet(s"$tmp/lexlike")
    val fused = Main.run(spark, Seq("fuse", s"$tmp/ranks", s"$tmp/lexlike",
      s"$tmp/fusedann"), Map.empty)
    assert(fused.head.startsWith("fuse task ended"), fused.mkString("\n"))
    // ivftrain writes the stored quantizer artifact, and ann --centroids
    // probes against it WITHOUT retraining — row-for-row equal to the
    // retraining path under the same knobs (the artifact rule: only
    // comparable under the cells/rounds it was trained with)
    val trained = Main.run(spark, Seq("ivftrain", s"$tmp/emb",
      s"$tmp/cent"), Map.empty)
    assert(trained.head.startsWith("ivftrain task ended"),
      trained.mkString("\n"))
    val cent = spark.read.parquet(s"$tmp/cent")
    // r19: the artifact is self-describing — build knobs + format
    // version ride along so readers can refuse a mismatch loudly
    assert(cent.columns.toSeq.sorted == Seq("cell", "cnorm", "cv_sum",
      "meta_cells", "meta_rounds", "meta_ver"))
    Main.run(spark, Seq("ann", s"$tmp/emb", s"$tmp/ranksC",
      "--nqueries", "5", "--topk", "3", "--centroids", s"$tmp/cent"),
      Map.empty)
    val viaArtifact = spark.read.parquet(s"$tmp/ranksC")
      .orderBy($"query_id", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaArtifact.toSeq == inline.toSeq,
      "ann --centroids must equal the retraining path under equal knobs")
    // a non-artifact centroids dir refuses loudly
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/ranksD", "--centroids", s"$tmp/q"),
      Map.empty)).getMessage.contains("cell, cv_sum, cnorm"))
    // ivfindex writes the cell-partitioned assignment, and the fully
    // artifact-driven probe (ann --index --centroids: corpus neither
    // trained on nor re-assigned) equals the inline path row-for-row
    val idxOut = Main.run(spark, Seq("ivfindex", s"$tmp/emb", s"$tmp/cent",
      s"$tmp/ivfidx"), Map.empty)
    assert(idxOut.head.startsWith("ivfindex task ended, 30 vectors"),
      idxOut.mkString("\n"))
    // the layout IS cell-partitioned (partition dirs on disk)
    assert(new java.io.File(s"$tmp/ivfidx").listFiles()
      .exists(_.getName.startsWith("cell=")),
      "ivfindex must write Hive cell= partitions")
    Main.run(spark, Seq("ann", s"$tmp/emb", s"$tmp/ranksI",
      "--nqueries", "5", "--topk", "3", "--centroids", s"$tmp/cent",
      "--index", s"$tmp/ivfidx"), Map.empty)
    val viaIndex = spark.read.parquet(s"$tmp/ranksI")
      .orderBy($"query_id", $"rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaIndex.toSeq == inline.toSeq,
      "ann --index must equal the inline path under the same artifacts")
    // --index without --centroids refuses (the probe batch must assign
    // against the SAME stored quantizer the index was built with)
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/ranksJ", "--index", s"$tmp/ivfidx"),
      Map.empty)).getMessage.contains("--centroids"))
    // a non-index dir refuses loudly
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/ranksK", "--centroids", s"$tmp/cent",
        "--index", s"$tmp/q"), Map.empty))
      .getMessage.contains("ivfIndex artifact"))
    // refusals: clash with either input, malformed shape, bad flags
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/emb"), Map.empty))
      .getMessage.contains("must differ"))
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/ranks3", "--queries", s"$tmp/q",
        "--topk", "0"), Map.empty))
      .getMessage.contains("--topk"))
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("ivftrain", s"$tmp/emb", s"$tmp/emb"), Map.empty))
      .getMessage.contains("must differ"))
    emb.drop("embedding").write.parquet(s"$tmp/noemb")
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/noemb", s"$tmp/ranks4"), Map.empty))
      .getMessage.contains("vec_id, embedding"))
  }

  test("ANN artifacts are self-describing: knob, digest, version and " +
    "meta-less mismatches each refuse loudly (r19, VERDICT r18 #2)") {
    import spark.implicits._
    import graft.queries.{EmbeddingQueries, QueryConf}
    import org.apache.spark.sql.functions.lit
    val tmp = Files.createTempDirectory("graft-ann-meta").toString
    def vec(seed: Int): Seq[Float] = (1 to 64)
      .map(i => (math.sin(seed * 64 + i).abs + 0.1).toFloat)
    val emb = (0L until 24L).map(i => (i, vec((i % 5).toInt)))
      .toDF("vec_id", "embedding")
    emb.write.parquet(s"$tmp/emb")
    // a second corpus: same shape, different vectors → a quantizer with
    // a different learned surface (digest differs, knobs equal)
    (0L until 24L).map(i => (i, vec((i % 5).toInt + 7)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/embB")
    Main.run(spark, Seq("ivftrain", s"$tmp/emb", s"$tmp/cent"), Map.empty)
    Main.run(spark, Seq("ivftrain", s"$tmp/embB", s"$tmp/centB"), Map.empty)
    Main.run(spark, Seq("ivfindex", s"$tmp/emb", s"$tmp/cent",
      s"$tmp/idx"), Map.empty)
    // the index remembers its quantizer: digest column present, constant
    val idx = spark.read.parquet(s"$tmp/idx")
    assert(idx.columns.contains("meta_qfp") && idx.columns.contains("meta_ver"))
    assert(idx.select($"meta_qfp").distinct().count() == 1)
    // axis 1 — session-knob mismatch: probing a cells=16-trained
    // artifact in a cells=24 session refuses (the d24 rule, loud)
    spark.conf.set(QueryConf.IvfCellsKey, "24")
    try {
      val e = intercept[IllegalArgumentException](Main.run(spark,
        Seq("ann", s"$tmp/emb", s"$tmp/r1", "--centroids", s"$tmp/cent"),
        Map.empty))
      assert(e.getMessage.contains("d24") &&
        e.getMessage.contains("cells=16") &&
        e.getMessage.contains("cells=24"), e.getMessage)
      // build-time enforcement too: ivfindex under mismatched knobs
      assert(intercept[IllegalArgumentException](Main.run(spark,
        Seq("ivfindex", s"$tmp/emb", s"$tmp/cent", s"$tmp/idx2"),
        Map.empty)).getMessage.contains("d24"))
    } finally spark.conf.unset(QueryConf.IvfCellsKey)
    // axis 2 — digest mismatch: an index assigned under cent probed
    // with centB (knobs equal, learned surface different) refuses
    val dig = intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/r2", "--centroids", s"$tmp/centB",
        "--index", s"$tmp/idx"), Map.empty))
    assert(dig.getMessage.contains("DIFFERENT quantizer"), dig.getMessage)
    // axis 3 — a meta-less (pre-r19-shaped) index refuses
    idx.select($"vec_id", $"v", $"nrm", $"cell")
      .write.parquet(s"$tmp/idxOld")
    val old = intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/r3", "--centroids", s"$tmp/cent",
        "--index", s"$tmp/idxOld"), Map.empty))
    assert(old.getMessage.contains("no self-description"), old.getMessage)
    // axis 4 — format-version mismatch on either artifact refuses
    spark.read.parquet(s"$tmp/cent").withColumn("meta_ver", lit(99))
      .write.parquet(s"$tmp/centV99")
    val v99 = intercept[IllegalArgumentException](Main.run(spark,
      Seq("ann", s"$tmp/emb", s"$tmp/r4", "--centroids", s"$tmp/centV99"),
      Map.empty))
    assert(v99.getMessage.contains("version 99"), v99.getMessage)
    val idxV = intercept[IllegalArgumentException](
      EmbeddingQueries.annRankTableIndexed(
        idx.withColumn("meta_ver", lit(99)),
        spark.read.parquet(s"$tmp/emb").filter($"vec_id" < 3),
        spark.read.parquet(s"$tmp/cent")))
    assert(idxV.getMessage.contains("version 99"), idxV.getMessage)
    // a PARTIAL stamp is not a valid artifact either
    val part = intercept[IllegalArgumentException](
      EmbeddingQueries.annRankTable(spark.read.parquet(s"$tmp/emb"),
        spark.read.parquet(s"$tmp/emb").filter($"vec_id" < 3), k = 3,
        centroids = Some(spark.read.parquet(s"$tmp/cent")
          .drop("meta_rounds"))))
    assert(part.getMessage.contains("PARTIAL"), part.getMessage)
    // and the happy path under matching artifacts still ranks: the
    // checks add refusals, never rows
    Main.run(spark, Seq("ann", s"$tmp/emb", s"$tmp/rOk", "--nqueries",
      "3", "--topk", "2", "--centroids", s"$tmp/cent", "--index",
      s"$tmp/idx"), Map.empty)
    assert(spark.read.parquet(s"$tmp/rOk").count() == 6)
    // the cell-partition pruning CLAIM, pinned (r19, VERDICT r18 #3):
    // the indexed probe's scan must carry a dynamic partition-pruning
    // filter on cell= (fed by the broadcast probe side), so a probed
    // scan reads only probed cells' partitions instead of the corpus
    val pr = EmbeddingQueries.annRankTableIndexed(
      spark.read.parquet(s"$tmp/idx"),
      spark.read.parquet(s"$tmp/emb").filter($"vec_id" < 3),
      spark.read.parquet(s"$tmp/cent"))
    val planStr = pr.queryExecution.executedPlan.toString
    val scanLine = planStr.linesIterator.find(l =>
      l.contains(s"$tmp/idx") && l.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("dynamicpruningexpression(cell")),
      s"the ivfindex scan must dynamic-prune on cell=, got:\n$planStr")
    // and the write layout that makes pruning pay: ONE file per cell
    // (an unrepartitioned partitionBy writes shuffle-partitions-many
    // sliver files into every cell dir — measured 2.2x slower to probe
    // than flat at 100k vectors; SCALE.md "ann --index cell pruning")
    val cellDirs = new java.io.File(s"$tmp/idx").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.forall(d =>
      d.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "ivfindex must write exactly one parquet file per cell partition")
  }

  test("fuse: RRF over stored rank tables matches the library operator, " +
    "topk honored, refusals loud (d59 CLI)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-fuse").toString
    // the d59 spec fixture, as two persisted rank tables: doc 20 is
    // top of NEITHER list but fuses to top-1
    val lex = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L))
      .toDF("query_id", "doc_id", "rk")
    val sem = Seq((1L, 40L, 1L), (1L, 20L, 2L), (1L, 50L, 3L))
      .toDF("query_id", "doc_id", "rk")
    lex.write.parquet(s"$tmp/lex")
    sem.write.parquet(s"$tmp/sem")
    val out = Main.run(spark, Seq("fuse", s"$tmp/lex", s"$tmp/sem",
      s"$tmp/fused"), Map.empty)
    assert(out.head.startsWith("fuse task ended, 5 fused results over 1 " +
      "queries from 2 rank tables"), out.mkString("\n"))
    val fused = spark.read.parquet(s"$tmp/fused").orderBy($"query_id", $"rk")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(fused.toSeq == Seq((1L, 20L), (2L, 10L), (3L, 40L), (4L, 30L),
      (5L, 50L)), fused.mkString(","))
    // CLI path == the library operator
    val inline = graft.queries.DocumentQueries.rrfFuse(Seq(lex, sem))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(fused.toSeq == inline.toSeq)
    // --topk truncation
    val top1 = Main.run(spark, Seq("fuse", s"$tmp/lex", s"$tmp/sem",
      s"$tmp/fused1", "--topk", "1"), Map.empty)
    assert(top1.head.contains("1 fused results"), top1.mkString("\n"))
    // refusals: single rank table, output clash, non-rank-shaped input
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("fuse", s"$tmp/lex", s"$tmp/fused2"), Map.empty))
      .getMessage.contains("at least two"))
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("fuse", s"$tmp/lex", s"$tmp/sem", s"$tmp/sem"), Map.empty))
      .getMessage.contains("must differ"))
    lex.drop("rk").write.parquet(s"$tmp/norank")
    assert(intercept[IllegalArgumentException](Main.run(spark,
      Seq("fuse", s"$tmp/norank", s"$tmp/sem", s"$tmp/fused3"), Map.empty))
      .getMessage.contains("query_id, doc_id, rk"))
  }

  test("cluster: assignment manifest written, census names dominant " +
    "sources, refusals loud") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-cluster").toString
    // the d48 spec's empirically-pinned vocabulary pair: both groups
    // stay whole and separate under the fixed seeds
    def doc(prefix: String, i: Int) =
      ((0 until 20).map(t => s"${prefix}_${t % 12}") :+ s"${prefix}_${i % 12}")
        .mkString(" ")
    val docs = ((0 until 5).map(i => (i.toLong, doc("alpha", i), "crawlA")) ++
      (10 until 15).map(i => (i.toLong, doc("kappa", i), "crawlB")))
      .toDF("doc_id", "text", "source")
    docs.write.parquet(s"$tmp/corpus")
    val out = Main.run(spark, Seq("cluster", s"$tmp/corpus",
      s"$tmp/assign"), Map.empty)
    assert(out.head.startsWith("cluster task ended, 10 docs over 2 " +
      "clusters"), out.mkString("\n"))
    assert(out.head.contains("crawlA") && out.head.contains("crawlB"),
      s"census must name each cluster's dominant source: ${out.head}")
    val a = spark.read.parquet(s"$tmp/assign").collect()
    assert(a.length == 10 && a.map(_.getLong(0)).distinct.length == 10)
    val clash = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("cluster", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(clash.getMessage.contains("must differ"), clash.getMessage)
  }

  test("salvage: below-bar paragraphs dropped, docs rebuilt in order, " +
    "refusals loud") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-salvage").toString
    val good = "the quick brown fox jumps over a lazy dog near the river"
    Seq((1L, s"$good|x|$good"), (2L, "zz|q"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/corpus")
    val out = Main.run(spark, Seq("salvage", s"$tmp/corpus",
      s"$tmp/clean", "--sep", "|"), Map.empty)
    assert(out == Seq("salvage task ended, 2 docs, 3 of 5 paragraphs " +
      "dropped at quality 0.5"), out.mkString("\n"))
    val rows = spark.read.parquet(s"$tmp/clean").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("salvaged"))
      .toMap
    assert(rows(1L) == s"$good|$good", rows(1L))
    assert(rows(2L) == "")
    val bad = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("salvage", s"$tmp/corpus", s"$tmp/c2",
        "--quality-min", "0"), Map.empty)
    }
    assert(bad.getMessage.contains("(0, 1]"), bad.getMessage)
    val clash = intercept[IllegalArgumentException] {
      Main.run(spark, Seq("salvage", s"$tmp/corpus", s"$tmp/corpus"),
        Map.empty)
    }
    assert(clash.getMessage.contains("must differ"), clash.getMessage)
  }

  test("transform without -o or inputs fails loudly; bad flags too") {
    intercept[IllegalArgumentException](
      Main.run(spark, Seq("transform"), Map.empty))
    intercept[IllegalArgumentException](
      Main.run(spark, Seq("nonsense"), Map.empty))
    intercept[IllegalArgumentException](Main.run(spark,
      Seq("aggregate", "s3", "-r", "eu-west-1", "-b", "b"), Map.empty))
    // mixing the stream modes (--queue-dir takes 2 positionals, file
    // mode takes 3) is a usage error, not a MatchError
    intercept[IllegalArgumentException](Main.run(spark,
      Seq("stream", "--queue-dir", "/q", "landing", "out", "ckpt"), Map.empty))
  }

  test("output guard on every artifact verb: the input dir, a dir nested " +
    "in it, its parent and a symlink to it all refuse; the input survives") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-cli-guard").toString
    // (verb, input dirs, argv from (inputs, output))
    def plain(ins: Seq[String], out: String) = ins :+ out
    val verbs: Seq[(String, Int, (Seq[String], String) => Seq[String])] =
      Seq("dedup", "spandedup", "salvage", "curate", "decontam", "bpetrain",
        "pack", "overlap", "select", "semdedup", "cluster", "bm25index",
        "ivftrain").map(v => (v, 1, plain _)) ++
      Seq("tokenize", "semdecontam", "dsir", "bm25", "ivfindex", "fuse")
        .map(v => (v, 2, plain _)) :+
      (("ann", 4, (ins: Seq[String], out: String) => Seq(ins(0), out,
        "--queries", ins(1), "--centroids", ins(2), "--index", ins(3))))
    val rows = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
      .toDF("doc_id", "text")
    verbs.foreach { case (verb, n, argv) =>
      val parent = s"$tmp/$verb"
      val ins = (0 until n).map(i => s"$parent/in$i")
      ins.foreach(rows.write.parquet(_))
      ins.zipWithIndex.foreach { case (in, i) =>
        val link = Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$parent/link$i"),
          java.nio.file.Paths.get(in)).toString
        Seq(in, s"$in/nested", parent, link).foreach { out =>
          val e = intercept[IllegalArgumentException](
            Main.run(spark, verb +: argv(ins, out), Map.empty))
          assert(e.getMessage.contains("must differ"),
            s"$verb -> $out: ${e.getMessage}")
        }
      }
      ins.foreach { in =>
        assert(spark.read.parquet(in).count() == 3, s"$verb lost rows of $in")
      }
    }
  }

  test("a flag that only acts together with another is refused alone, " +
    "before any output exists") {
    val tmp = Files.createTempDirectory("graft-cli-needs").toString
    val (in, out, ck) = (s"$tmp/in", s"$tmp/out", s"$tmp/ck")
    Seq(
      Seq("transform", "-o", out, "--iterations", "2", in) -> "--loop",
      Seq("stream", "--once", "--objects", in, in, out, ck) -> "--queue-dir",
      Seq("ingest", "--once", "--span-sep", "|", in, out, ck) -> "--spansigs",
      Seq("ingest", "--once", "--decontam-n", "5", in, out, ck) -> "--decontam",
      Seq("ingest", "--once", "--rejects", s"$tmp/r", in, out, ck) ->
        "--quality-min",
      Seq("ann", in, out, "--index", s"$tmp/ix") -> "--centroids"
    ).foreach { case (argv, parent) =>
      val e = intercept[IllegalArgumentException](
        Main.run(spark, argv, Map.empty))
      val child = argv(argv.indexWhere(a => a.startsWith("--") &&
        Main.verbFlags(argv.head).needs.contains(a)))
      assert(e.getMessage.startsWith(s"${argv.head}: $child needs $parent"),
        e.getMessage)
      Seq(out, ck, s"$tmp/r").foreach { d =>
        assert(!new java.io.File(d).exists, s"${argv.mkString(" ")} made $d")
      }
    }
  }

  test("every verb refuses an unknown flag and names the flags it accepts") {
    Main.verbFlags.foreach { case (verb, flags) =>
      val e = intercept[IllegalArgumentException](Main.run(spark,
        Seq(verb, "a", "b", "--no-such-flag", "1"), Map.empty))
      // the first line is the refusal; the usage text follows it
      val refusal = e.getMessage.linesIterator.next()
      assert(refusal.startsWith(s"$verb: unknown flag --no-such-flag"), refusal)
      if (flags.all.isEmpty) assert(refusal.contains("takes no flags"), refusal)
      flags.all.foreach(f => assert(refusal.contains(f), s"$f: $refusal"))
    }
    // the typo that used to run curate at the default quality bar
    val typo = intercept[IllegalArgumentException](Main.run(spark,
      Seq("curate", "in", "out", "--quality-mn", "0.9"), Map.empty))
    assert(typo.getMessage.contains("unknown flag --quality-mn") &&
      typo.getMessage.contains("--quality-min"), typo.getMessage)
    // switches take no value, wherever they stand
    assert(Main.parse("dedup", List("c", "--best", "o")) ==
      Main.Opts(switches = Set("--best"), positional = Vector("c", "o")))
    assert(Main.parse("stream", List("--once", "l", "o", "k")) ==
      Main.Opts(switches = Set("--once"), positional = Vector("l", "o", "k")))
    assert(Main.parse("curate", List("c", "o", "--best", "--quality-min",
      "0.7")) == Main.Opts(Map("--quality-min" -> "0.7"), Set("--best"),
      Vector("c", "o")))
    // compact's kinds are switches; ingest's --sigs takes a dir
    (graft.etl.Compact.sidecarKinds.keySet + "--flat").foreach { k =>
      assert(Main.parse("compact", List("lake", k)) ==
        Main.Opts(switches = Set(k), positional = Vector("lake")))
    }
    assert(Main.parse("ingest", List("--sigs", "s", "d", "c", "k")) ==
      Main.Opts(Map("--sigs" -> "s"), positional = Vector("d", "c", "k")))
  }

  test("usage names every dispatched verb and exactly its declared flags") {
    val forms = Main.usage.linesIterator.map(_.trim)
      .filter(_.startsWith("graft.Main ")).toSeq
    assert(forms.map(_.split(" ")(1)).toSet == Main.verbFlags.keySet)
    Main.verbFlags.foreach { case (verb, flags) =>
      val inUsage = forms.filter(_.startsWith(s"graft.Main $verb "))
        .flatMap(_.split("[\\s\\[\\]|]+")).filter(_.startsWith("-")).toSet
      assert(inUsage == flags.all, s"$verb: usage $inUsage, declared ${flags.all}")
      // with no args the verb's own arm answers, so it is dispatched
      val e = intercept[IllegalArgumentException](
        Main.run(spark, Seq(verb), Map.empty))
      assert(e.getMessage.startsWith(s"$verb "), e.getMessage)
    }
  }
}
