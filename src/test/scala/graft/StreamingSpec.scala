package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl._

/** Streaming-mode coverage (SURVEY §3.3 / ST1–ST7): file source micro-
  * batches, watermarked dedup under redelivery, partitioned parquet sink
  * with checkpoint, late-data append, and stop/resume recovery.
  */
class StreamingSpec extends SparkSpec {

  private def writeBatch(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, Paths.get(dir, name)) // atomic visibility, like S3 PUT
  }

  test("streaming pipeline dedups redelivered lines and partitions by dt (ST1-ST6)") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val landing = s"$tmp/landing"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(landing))

    val batch1 = LogGen.lines(200, seed = 21)
    // batch2 redelivers 50 lines of batch1 (crash-redelivery, FAQ.md:20-22)
    // plus 100 new ones from a later seed
    val batch2 = batch1.take(50) ++ LogGen.lines(100, seed = 22)
    writeBatch(landing, "b1.log", batch1)

    val df = StreamingTransform.stream(spark, landing,
      watermarkDelay = "1 hour")
    val q = StreamingTransform.writer(df, out, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    writeBatch(landing, "b2.log", batch2)
    val q2 = StreamingTransform.writer(
      StreamingTransform.stream(spark, landing, watermarkDelay = "1 hour"),
      out, ckpt).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)

    val result = spark.read.parquet(out)
    // 200 + 100 distinct RequestIDs; the 50 redelivered are dropped by
    // dropDuplicatesWithinWatermark state carried across the restart.
    assert(result.count() == 300)
    assert(result.select("RequestID").distinct.count() == 300)
    assert(result.columns.contains("dt"))
    // partition dirs follow dt=YYYYMMDD
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")) // _spark_metadata = sink commit log (ST6)
    assert(dirs.nonEmpty && dirs.forall(_.matches("dt=\\d{8}")))
  }

  test("passthrough mode routes partitions from the object key (ST3)") {
    val tmp = Files.createTempDirectory("graft-pass").toString
    val landing = s"$tmp/landing"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(landing))
    // file names carry the event date; line timestamps deliberately do NOT
    // match it — passthrough must trust the key, not the rows
    writeBatch(landing, "logs-20240105-a.log", LogGen.lines(40, seed = 25))
    writeBatch(landing, "logs-20240106-b.log", LogGen.lines(40, seed = 26))
    val q = StreamingTransform.writer(
      StreamingTransform.streamPassthrough(spark, landing), out, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted
    assert(dirs.toSeq == Seq("dt=20240105", "dt=20240106"))
    assert(spark.read.parquet(out).count() == 80)
  }

  test("windowed streaming aggregation with watermark (tumbling counts)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-agg").toString
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    writeBatch(landing, "b1.log", LogGen.lines(300, seed = 27))
    val counts = StreamingTransform.stream(spark, landing, watermarkDelay = "1 hour")
      .groupBy(window($"ts", "900 seconds"), $"Operation")
      .count()
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("win_counts")
    assert(got.agg(sum($"count")).head.getLong(0) == 300)
    // every window is 900s-aligned
    val misaligned = got
      .select(unix_timestamp($"window.start").as("ws"))
      .filter($"ws" % 900 =!= 0).count()
    assert(misaligned == 0)
  }

  test("stream-stream interval join with watermark-bounded state (q25's streaming form)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ssj").toString
    Files.createDirectories(Paths.get(s"$tmp/gets"))
    Files.createDirectories(Paths.get(s"$tmp/puts"))
    val t0 = 1700000000L
    // same bucket, overlapping minute: every GET pairs with PUTs at most
    // 60s older from the same bucket
    writeBatch(s"$tmp/gets", "g.log",
      LogGen.entries(60, t0 = t0 + 60, rangeSec = 60, seed = 61).map(_.line))
    writeBatch(s"$tmp/puts", "p.log",
      LogGen.entries(60, t0 = t0, rangeSec = 180, seed = 62).map(_.line))
    // parse directly (stream() would already watermark `ts`; a watermark
    // can only be defined once per branch)
    def src(dir: String, pfx: String) =
      graft.etl.AccessLogParser.parse(spark.readStream.text(dir))
        .select(col("RequestID").as(s"${pfx}_id"), col("Bucket").as(s"${pfx}_bucket"),
          col("ts").as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "10 minutes")
    val joined = src(s"$tmp/gets", "g").join(src(s"$tmp/puts", "p"),
      expr("g_bucket = p_bucket AND p_ts <= g_ts AND p_ts > g_ts - INTERVAL 60 SECONDS"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ssj")
    assert(got.count() > 0)
    // join condition holds on every emitted row
    assert(got.filter("p_ts > g_ts OR p_ts <= g_ts - INTERVAL 60 SECONDS").count() == 0)
  }

  test("S3 event notifications gate processing to Put/MPU objects (F2)") {
    val tmp = Files.createTempDirectory("graft-f2").toString
    val notif = s"$tmp/notifications"; val objects = s"$tmp/objects"
    val out = s"$tmp/out"
    Files.createDirectories(Paths.get(notif))
    Files.createDirectories(Paths.get(objects))

    def event(name: String, key: String) =
      s"""{"Records":[{"eventVersion":"2.1","eventName":"$name","awsRegion":"us-east-1",""" +
        s""""s3":{"bucket":{"name":"logs-bucket"},"object":{"key":"$key","size":123}}}]}"""
    // one SQS-style message per line: 2 processable events, 3 skips
    writeBatch(notif, "msgs.json", Seq(
      event("ObjectCreated:Put", "put.log"),
      event("ObjectCreated:CompleteMultipartUpload", "mpu.log"),
      event("ObjectRemoved:Delete", "deleted.log"),
      event("ObjectRestore:Completed", "restored.log"),
      "not json at all"))
    // every named object exists — only the gated ones may be transformed
    for ((f, seed) <- Seq("put.log" -> 31, "mpu.log" -> 32, "deleted.log" -> 33,
        "restored.log" -> 34))
      writeBatch(objects, f, LogGen.lines(10, seed = seed))

    // ST1+F2 as a streaming query: notification JSON stream → event filter
    val q = StreamingTransform.s3EventKeys(spark.readStream.text(notif))
      .writeStream.format("memory").queryName("f2_keys")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val keys = spark.table("f2_keys").collect()
    assert(keys.map(_.getAs[String]("key")).toSet == Set("put.log", "mpu.log"))
    assert(keys.forall(_.getAs[String]("bucket") == "logs-bucket"))

    // the gated keys drive the transform — skipped objects never land
    val gated = keys.map(r => s"$objects/${r.getAs[String]("key")}").toSeq
    val stats = Transform.run(spark, gated, out)
    assert(stats.outputRows == 20)
    assert(spark.read.parquet(out).count() == 20)
  }

  test("F2 end-to-end: notification stream drives gate → fetch → transform → dt sink") {
    val tmp = Files.createTempDirectory("graft-f2e2e").toString
    val notif = s"$tmp/notifications"; val objects = s"$tmp/objects"
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(notif))
    Files.createDirectories(Paths.get(objects))
    writeBatch(objects, "a.log", LogGen.lines(300, seed = 71))
    writeBatch(objects, "b.log", LogGen.lines(200, seed = 72))
    writeBatch(objects, "skip.log", LogGen.lines(100, seed = 73))
    def event(name: String, key: String) =
      s"""{"Records":[{"eventName":"$name","awsRegion":"us-east-1",""" +
        s""""s3":{"bucket":{"name":"logs-bucket"},"object":{"key":"$key","size":123}}}]}"""
    writeBatch(notif, "n1.json", Seq(
      event("ObjectCreated:Put", "a.log"),
      "not json at all")) // undeserializable message: warn-and-skip
    writeBatch(notif, "n2.json", Seq(
      event("ObjectCreated:CompleteMultipartUpload", "b.log"),
      event("ObjectRemoved:Delete", "skip.log"))) // delete: gated out
    val run = () => {
      // maxFilesPerTrigger=1 → one notification file per micro-batch,
      // exercising multiple foreachBatch commits into one lake
      val q = StreamingTransform.notificationPipeline(spark, notif, out, ckpt,
          (_, key) => s"$objects/$key", maxFilesPerTrigger = 1)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run()
    val result = spark.read.parquet(out)
    // both gated objects flowed through parse → dedup → sink; the deleted
    // object's lines never entered the lake
    assert(result.count() == 500)
    val skipIds = AccessLogParser.parse(
      spark.read.text(s"$objects/skip.log")).select("RequestID")
      .collect().map(_.getString(0)).toSet
    val landedIds = result.select("RequestID").collect().map(_.getString(0)).toSet
    assert(landedIds.size == 500 && landedIds.intersect(skipIds).isEmpty)
    // dt partition layout, derived from event time
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_"))
    assert(dirs.nonEmpty && dirs.forall(_.matches("dt=\\d{8}")))
    // restart with a NEW notification: the checkpoint replays nothing —
    // only the new object's rows append
    writeBatch(objects, "c.log", LogGen.lines(100, seed = 74))
    writeBatch(notif, "n3.json", Seq(event("ObjectCreated:Put", "c.log")))
    run()
    assert(spark.read.parquet(out).count() == 600)
  }

  test("streaming document ingestion dedups by content fingerprint across batches") {
    import graft.streaming.DocumentIngest
    val tmp = Files.createTempDirectory("graft-docs").toString
    val landing = s"$tmp/landing"; val out = s"$tmp/corpus"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(landing))
    def doc(id: Long, text: String, lang: String, t: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang","source":"crawl","event_ts":"$t"}"""
    writeBatch(landing, "b1.jsonl", Seq(
      doc(1, "the quick brown fox", "en", "2024-01-01T10:00:00Z"),
      doc(2, "der schnelle braune fuchs", "de", "2024-01-01T10:00:05Z"),
      // same NORMALIZED content as doc 1 (case + spacing differ)
      doc(3, "The  Quick Brown   Fox", "en", "2024-01-01T10:00:10Z"),
      "not json at all"))
    val run = () => {
      val q = DocumentIngest.writer(
        DocumentIngest.stream(spark, landing, watermarkDelay = "1 hour"),
        out, ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run()
    // redelivery batch: doc 1's content again (new id), plus one new doc
    writeBatch(landing, "b2.jsonl", Seq(
      doc(10, "the quick brown fox", "en", "2024-01-01T10:05:00Z"),
      doc(11, "a genuinely new document", "en", "2024-01-01T10:05:05Z")))
    run()
    val corpus = spark.read.parquet(out)
    // 1 or 3 (first-wins), 2, 11 — the cross-batch duplicate 10 dropped
    // by fingerprint state carried in the checkpoint
    assert(corpus.count() == 3)
    assert(corpus.select("fp").distinct().count() == 3)
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(10L) && ids.contains(11L) && ids.contains(2L))
    val langs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted
    assert(langs.toSeq == Seq("lang=de", "lang=en"))
  }

  test("streaming ingest maintains the d16 signature table; incremental dedup never re-reads corpus text") {
    import spark.implicits._
    import graft.streaming.DocumentIngest
    import graft.queries.DedupQueries
    val tmp = Files.createTempDirectory("graft-sigtable").toString
    val landing = s"$tmp/landing"; val out = s"$tmp/corpus"
    val sigDir = s"$tmp/sigs"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(landing))
    // 40-token base — the proven near-dup pair shape from OperatorsSpec
    // d16 tests: `base + " tail"` estimates ≥0.5 and collides on a band
    val base = (0 until 40).map(t => s"inc$t").mkString(" ")
    val other = "wholly unrelated corpus doc " +
      (0 until 30).map(t => s"c$t").mkString(" ")
    val third = "exact twin text landed in batch two"
    def doc(id: Long, text: String, t: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl","event_ts":"$t"}"""
    val run = () => {
      val q = DocumentIngest.writerWithSignatures(
        DocumentIngest.stream(spark, landing, watermarkDelay = "1 hour"),
        out, sigDir, ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    writeBatch(landing, "b1.jsonl", Seq(
      doc(1, base, "2024-01-01T10:00:00Z"),
      doc(2, other, "2024-01-01T10:00:05Z")))
    run()
    // the table exists after batch one alone (appended per micro-batch,
    // not recomputed at the end)
    assert(spark.read.parquet(sigDir).count() == 2)
    writeBatch(landing, "b2.jsonl", Seq(doc(3, third, "2024-01-01T10:10:00Z")))
    run()
    val corpusSigs = spark.read.parquet(sigDir)
    assert(corpusSigs.count() == 3)
    // the artifact carries NO text column: the incremental-dedup join
    // physically cannot re-read corpus text — it isn't there to read.
    // `batch` is the per-micro-batch idempotency partition (replays
    // overwrite their own dir instead of appending duplicates).
    assert(corpusSigs.schema.fieldNames.toSet ==
      Set("doc_id", "fp", "mh", "bands", "split", "batch"),
      s"unexpected signature schema: ${corpusSigs.schema.fieldNames.toSeq}")
    // incoming ingest batch, deduped against the MAINTAINED table: the
    // planted near-dup and exact dup are found; the novel doc is not
    val incoming = Seq(
      (100L, base + " tail"),  // near tier → doc 1
      (101L, third),           // exact tier → doc 3
      (102L, "completely novel document " +
        (0 until 30).map(t => s"n$t").mkString(" ")))
      .toDF("doc_id", "text")
    val got = DedupQueries.incrementalMatches(
        corpusSigs, DedupQueries.signatureTable(incoming))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(100L, 101L), s"got $got")
    assert(got(100L)._1 == 1L && got(100L)._2 >= 0.5 && got(100L)._2 < 1.0)
    assert(got(101L) == ((3L, 1.0)))
  }

  test("per-ingest contamination check runs off the maintained artifact (d24)") {
    import spark.implicits._
    import graft.streaming.DocumentIngest
    import graft.queries.DedupQueries
    val tmp = Files.createTempDirectory("graft-d24").toString
    val landing = s"$tmp/landing"; val out = s"$tmp/corpus"
    val sigDir = s"$tmp/sigs"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(landing))
    // engineer the straddle (shared SparkSpec.straddlePair): batch ONE
    // lands a train-side doc, batch TWO its near-dup on the test side.
    // Same body as OperatorsSpec's d24 fixture — a pair PROVEN to
    // band-collide with estimate ≥ 0.5 (not every 40-token body + salt
    // search lands one: minhash collision is text-dependent)
    val body = (0 until 40).map(t => s"itok$t").mkString(" ")
    val (base, leak) = straddlePair(body)
    def doc(id: Long, text: String, t: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"crawl","event_ts":"$t"}"""
    val run = () => {
      val q = DocumentIngest.writerWithSignatures(
        DocumentIngest.stream(spark, landing, watermarkDelay = "1 hour"),
        out, sigDir, ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    writeBatch(landing, "b1.jsonl", Seq(
      doc(1, base, "2024-01-01T10:00:00Z"),
      doc(2, "some unrelated standing corpus document body", "2024-01-01T10:00:05Z")))
    run()
    writeBatch(landing, "b2.jsonl", Seq(
      doc(10, leak, "2024-01-01T10:10:00Z"),
      doc(11, "a genuinely novel second-batch document", "2024-01-01T10:10:05Z")))
    run()
    // the per-ingest check, exactly as the pipeline runs it: standing
    // corpus = the earlier batch partitions of the maintained artifact,
    // incoming = the batch that just landed. NO side reads any text —
    // the artifact has no text column to read (asserted above), so "no
    // corpus-text re-scan" holds by construction.
    // "the batch that just landed" = the max committed batch id (batch
    // ids need not be contiguous: AvailableNow can commit a trailing
    // empty batch, so the second file lands as batch 2 here)
    val sigs = spark.read.parquet(sigDir)
      .select($"doc_id", $"fp", $"mh", $"bands", $"split", $"batch")
    val latest = sigs.agg(org.apache.spark.sql.functions.max($"batch"))
      .head.getInt(0)
    val gotLeaks = DedupQueries.incrementalContamination(
        sigs.filter($"batch" < latest).drop("batch"),
        sigs.filter($"batch" === latest).drop("batch"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(gotLeaks.map(r => (r._1, r._2)).toSet == Set((10L, 1L)),
      s"expected the planted leak (10 ← 1), got ${gotLeaks.toSeq}")
    assert(gotLeaks.head._3 >= 0.5)
    // consistent with the batch-mode d14 audit over the landed corpus
    val full = DedupQueries.contamination(
        spark.read.parquet(out).select($"doc_id", $"text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((10L, 1L)), s"batch audit disagrees: $full")
  }

  test("late rows land as extra files in the same partition (ST5)") {
    val tmp = Files.createTempDirectory("graft-late").toString
    val landing = s"$tmp/landing"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(landing))

    val t0 = 1700000000L
    writeBatch(landing, "b1.log",
      LogGen.entries(100, t0 = t0, seed = 23).map(_.line))
    // watermark delay must cover the real lateness or stateful ops drop
    // the rows — the knob that replaces the reference's idle-close window
    val run = () => {
      val q = StreamingTransform.writer(
        StreamingTransform.stream(spark, landing, watermarkDelay = "4 hours"),
        out, ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run()
    // rows 2h OLDER than everything seen — beyond the watermark
    writeBatch(landing, "b2.log",
      LogGen.entries(50, t0 = t0 - 7200, seed = 24).map(_.line))
    run()
    val result = spark.read.parquet(out)
    assert(result.count() == 150) // late rows appended, none lost
  }

  test("stream dt follows the configured zone, into the same dir as batch (T3)") {
    val tmp = Files.createTempDirectory("graft-stream-tz").toString
    val landing = s"$tmp/landing"
    Files.createDirectories(Paths.get(landing))
    // 03:00-03:10 UTC on June 15 is 23:00-23:10 EDT on June 14
    val t0 = java.time.Instant.parse("2024-06-15T03:00:00Z").getEpochSecond
    writeBatch(landing, "b1.log",
      LogGen.entries(40, t0 = t0, seed = 26).map(_.line))
    val cfg = EtlConfig(tzZone = Some("America/New_York"),
      hourlyPartitions = false)
    StreamingTransform.writer(
      StreamingTransform.stream(spark, landing, cfg, watermarkDelay = "1 hour"),
      s"$tmp/stream", s"$tmp/ckpt", cfg)
      .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    Transform.run(spark, Seq(landing), s"$tmp/batch", cfg)
    def dts(dir: String) = new java.io.File(dir).listFiles.map(_.getName)
      .filter(_.startsWith("dt=")).toSet
    assert(dts(s"$tmp/batch") == Set("dt=20240614"))
    assert(dts(s"$tmp/stream") == Set("dt=20240614"))
    assert(spark.read.parquet(s"$tmp/stream").count() == 40)
  }
}
