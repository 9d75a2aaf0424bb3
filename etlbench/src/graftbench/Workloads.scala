package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl.{AccessLogParser, AccessLogSchema, EtlConfig, StreamingTransform, Transform}
import graft.queries.DedupQueries

/** What one timed op did: its wall, the waits a user sees inside it (the
  * op itself, or each micro-batch), its output, and the failed checks. */
final case class OpResult(wallS: Double, waitsS: Seq[Double], outBytes: Long,
    outFiles: Long, failures: Seq[String], layer: Map[String, Double] = Map.empty)

/** One benchmark workload: inputs made in `generate`, a public entry point
  * of the program timed in `op`, its output checked against the planted
  * truth, and (traced runs only) `breakdown` calls into each layer. */
trait Workload {
  def generate(): Unit
  def inputRows: Long
  def inputBytes: Long
  def op(i: Int): OpResult
  /** Per-layer metrics from separate calls into each layer, spans in `t`;
    * `traced` is a traced timed op, for layers derived from its wall. */
  def breakdown(t: Trace, opId: Int, traced: OpResult): Map[String, Double]
}

object Workload {

  def apply(name: String, spark: SparkSession, work: File, seed: Long,
      scale: Double = 1.0): Workload =
    name match {
      case "etl_batch" => new EtlBatch(spark, work, seed, scale)
      case "etl_stream" => new EtlStream(spark, work, seed, scale)
      case "corpus_dedup" => new CorpusDedup(spark, work, seed, scale)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** (bytes, files) of the Parquet files under `dir`. */
  def parquetUnder(dir: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(dir).filter(_.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.size.toLong)
  }

  def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)

  /** Evaluate every column of `df` without keeping anything. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Read, parse and tokenize layers over a directory of log files —
    * shared by both log workloads. These spans are short, so each is taken
    * three times and the median kept. Self times subtract the enclosing
    * read from the parse span and the cached scan from the kernel span. */
  def readParseLayers(spark: SparkSession, in: String, t: Trace, opId: Int,
      nLines: Long): (Map[String, Double], DataFrame, Double) = {
    val lines = spark.read.textFile(in).toDF("value")
    val parsed = AccessLogParser.parse(lines, dropMalformed = false)
    val cached = lines.persist()
    cached.count()
    val reps = (0 until 3).map { k =>
      val id = opId * 10 + k
      t.span("etl.read", id)(drain(lines))
      t.span("etl.parse", id)(drain(parsed))
      t.span("etl.scan_cached", id)(drain(cached.select(col("value"))))
      t.span("functions.graft_tokenize", id)(drain(cached.select(
        call_function(graft.functions.ParseS3LogExpr.functionName, col("value")))))
      (t.seconds("etl.read", id), t.seconds("etl.parse", id) - t.seconds("etl.read", id),
        t.seconds("functions.graft_tokenize", id) - t.seconds("etl.scan_cached", id))
    }
    cached.unpersist(blocking = true)
    val read = Main.median(reps.map(_._1))
    val parse = Main.median(reps.map(_._2))
    val kernel = Main.median(reps.map(_._3))
    (Map(
      "etl.read.s" -> read,
      "etl.parse.s" -> parse,
      "etl.parse.ns_per_line" -> parse / nLines * 1e9,
      "functions.graft_tokenize.ns_per_row" -> math.max(0.0, kernel) / nLines * 1e9,
      "etl.malformed.rows" -> parsed.filter(col("ts").isNull).count().toDouble),
      parsed, read + parse)
  }
}

import Workload._

/** `Transform.run` with the default `EtlConfig()` — what `transform`
  * runs — over one synthetic day of logs. */
final class EtlBatch(spark: SparkSession, work: File, seed: Long, scale: Double)
    extends Workload {
  val spec = Gen.BatchSpec(nUnique = (EtlBatch.Unique * scale).toInt, nFiles = 16)
  private val in = new File(work, "in")
  private var truth: Gen.LogTruth = _

  def generate(): Unit = { rmrf(in); truth = Gen.writeBatch(in, seed, spec) }
  def inputRows: Long = truth.lines
  def inputBytes: Long = truth.bytes

  def op(i: Int): OpResult = {
    val out = new File(work, s"out-$i")
    val (st, wall) = timed(Transform.run(spark, Seq(in.getPath), out.getPath))
    val hours = spark.read.parquet(out.getPath).groupBy("year", "month", "day", "hour")
      .count().collect()
    val failures =
      expect(st.inputLines == truth.lines, s"inputLines ${st.inputLines} != ${truth.lines}") ++
      expect(st.malformedLines == truth.malformed,
        s"malformedLines ${st.malformedLines} != ${truth.malformed}") ++
      expect(st.dedupedLines == truth.redelivered,
        s"dedupedLines ${st.dedupedLines} != ${truth.redelivered}") ++
      expect(st.outputRows == truth.unique, s"outputRows ${st.outputRows} != ${truth.unique}") ++
      expect(st.inputLines == st.malformedLines + st.dedupedLines + st.outputRows,
        s"conservation broken: $st") ++
      expect(hours.length == 24, s"${hours.length} hour partitions, expected 24") ++
      expect(hours.map(_.getLong(4)).sum == st.outputRows,
        s"lake holds ${hours.map(_.getLong(4)).sum} rows, run reported ${st.outputRows}")
    val (bytes, files) = parquetUnder(out)
    rmrf(out)
    OpResult(wall, Seq(wall), bytes, files, failures)
  }

  def breakdown(t: Trace, opId: Int, traced: OpResult): Map[String, Double] = {
    val (rp, parsed, readParse) = readParseLayers(spark, in.getPath, t, opId, truth.lines)
    val cfg = EtlConfig()
    val ok = parsed.filter(col("ts").isNotNull)
    val deduped = Transform.bucketAndDedup(ok, cfg)
    t.span("etl.dedup", opId)(drain(deduped))
    val kept = deduped.persist()
    val keptRows = kept.count()
    t.span("etl.widen", opId)(drain(AccessLogSchema.widened(kept, 2)))
    kept.unpersist(blocking = true)
    rp ++ Map(
      "etl.dedup.s" -> (t.seconds("etl.dedup", opId) - readParse),
      "etl.dedup.rows_dropped" -> (truth.lines - truth.malformed - keptRows).toDouble,
      "etl.widen.s" -> t.seconds("etl.widen", opId),
      // what a Transform.run spends after read, parse and dedup
      "etl.sink.s" -> (traced.wallS - t.seconds("etl.dedup", opId)),
      "etl.sink.bytes" -> traced.outBytes.toDouble)
  }
}

object EtlBatch {
  /** Unique requests in the batch backlog. */
  val Unique: Int = 45000
}

/** A `stream --once`-shaped drain: `StreamingTransform.stream` + `writer`
  * under `Trigger.AvailableNow` over a backlog of log files. */
final class EtlStream(spark: SparkSession, work: File, seed: Long, scale: Double)
    extends Workload {
  val spec = Gen.StreamSpec(nFiles = EtlStream.Files,
    linesPerFile = (EtlStream.LinesPerFile * scale).toInt,
    // late rows are filtered against the previous batch's watermark, so the
    // first batch that can drop them is the third
    firstLateFile = 2 * EtlStream.FilesPerTrigger)
  private val in = new File(work, "landing")
  private var truth: Gen.LogTruth = _

  def generate(): Unit = { rmrf(in); truth = Gen.writeStream(in, seed, spec) }
  def inputRows: Long = truth.lines
  def inputBytes: Long = truth.bytes

  def op(i: Int): OpResult = {
    val out = new File(work, s"out-$i")
    val ckpt = new File(work, s"ckpt-$i")
    val cfg = EtlConfig()
    val (progress, wall) = timed {
      val q = StreamingTransform.writer(
        StreamingTransform.stream(spark, in.getPath, cfg,
          maxFilesPerTrigger = EtlStream.FilesPerTrigger),
        out.getPath, ckpt.getPath, cfg)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    val data = progress.filter(_.numInputRows > 0)
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    val state = progress.flatMap(_.stateOperators.headOption)
    val late = state.map(_.numRowsDroppedByWatermark).sum
    val dupDropped = state.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.longValue).getOrElse(0L)).sum
    val lake = spark.read.parquet(out.getPath).count()
    val failures =
      expect(lake == truth.unique - truth.late,
        s"lake holds $lake rows, expected ${truth.unique - truth.late}") ++
      expect(late == truth.late, s"$late rows dropped as late, planted ${truth.late}") ++
      expect(data.map(_.numInputRows).sum == truth.lines,
        s"stream read ${data.map(_.numInputRows).sum} lines of ${truth.lines}")
    val (bytes, files) = parquetUnder(out)
    rmrf(out); rmrf(ckpt)
    val waits = data.map(ms(_, "triggerExecution"))
    OpResult(wall, waits, bytes, files, failures, Map(
      "etl.stream.batches" -> progress.size.toDouble,
      "etl.stream.first_batch_s" -> waits.headOption.getOrElse(0.0),
      "etl.stream.add_batch_s" -> Main.median(data.map(ms(_, "addBatch"))),
      "etl.stream.overhead_s" ->
        Main.median(data.map(p => ms(p, "triggerExecution") - ms(p, "addBatch"))),
      "etl.stream.state_rows" -> (0L +: state.map(_.numRowsTotal)).max.toDouble,
      "etl.stream.state_bytes" -> (0L +: state.map(_.memoryUsedBytes)).max.toDouble,
      "etl.stream.late_rows" -> late.toDouble,
      "etl.dedup.rows_dropped" -> dupDropped.toDouble))
  }

  def breakdown(t: Trace, opId: Int, traced: OpResult): Map[String, Double] =
    readParseLayers(spark, in.getPath, t, opId, truth.lines)._1
}

object EtlStream {
  val Files: Int = 10
  val LinesPerFile: Int = 1500
  val FilesPerTrigger: Int = 2
}

/** The `dedup` CLI command through `Main.run`: `dedupApply` over a
  * ScaleGen-shaped corpus, disposition written as Parquet. */
final class CorpusDedup(spark: SparkSession, work: File, seed: Long, scale: Double)
    extends Workload {
  private val corpus = new Gen.Corpus(seed, (CorpusDedup.Docs * scale).toLong)
  private val in = new File(work, "corpus")
  private lazy val planted = (0L until corpus.nDocs).map(corpus.planted)

  def generate(): Unit = {
    import spark.implicits._
    rmrf(in)
    (0L until corpus.nDocs)
      .map(id => (id, corpus.text(id), corpus.lang(id), corpus.source(id)))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4, col("doc_id"))
      .write.parquet(in.getPath)
  }
  def inputRows: Long = corpus.nDocs
  def inputBytes: Long = parquetUnder(in)._1

  def op(i: Int): OpResult = {
    val out = new File(work, s"out-$i")
    val (_, wall) = timed(graft.Main.run(spark,
      Seq("dedup", in.getPath, out.getPath), env = Map.empty))
    val rows = spark.read.parquet(out.getPath)
      .select("doc_id", "canonical_id", "status").collect()
    val (bytes, files) = parquetUnder(out)
    rmrf(out)
    OpResult(wall, Seq(wall), bytes, files, check(rows))
  }

  /** Each doc exactly once; statuses partition the corpus; the viral
    * group and every planted exact copy collapse onto one kept doc. */
  private def check(rows: Array[org.apache.spark.sql.Row]): Seq[String] = {
    val n = corpus.nDocs.toInt
    val canon = Array.fill(n)(-1L)
    val status = new Array[String](n)
    var dupIds = 0
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      if (canon(id) >= 0) dupIds += 1
      canon(id) = r.getLong(1); status(id) = r.getString(2)
    }
    val counts = status.groupBy(identity).map { case (k, v) => k -> v.length }
    val kept = counts.getOrElse("kept", 0)
    val exact = counts.getOrElse("exact_dup", 0)
    val near = counts.getOrElse("near_dup", 0)
    val badExact = planted.indices.filter { id =>
      planted(id).kind == 'e' &&
        (status(id) != "exact_dup" || canon(id) != canon(planted(id).src.toInt))
    }
    val badViral = planted.indices.filter(id => planted(id).kind == 'v' && canon(id) != 0L)
    expect(rows.length == n && dupIds == 0 && !canon.contains(-1L),
      s"${rows.length} disposition rows ($dupIds repeated) for $n docs") ++
    expect(kept + exact + near == n, s"kept $kept + exact $exact + near $near != $n") ++
    expect(status(0) == "kept", s"viral group head has status ${status(0)}") ++
    expect(badViral.isEmpty, s"${badViral.size} viral docs not collapsed onto doc 0") ++
    expect(badExact.isEmpty, s"${badExact.size} planted exact copies not collapsed, e.g. " +
      badExact.take(3).mkString(","))
  }

  def breakdown(t: Trace, opId: Int, traced: OpResult): Map[String, Double] = {
    val docs = spark.read.parquet(in.getPath).select("doc_id", "text")
    t.span("queries.dedup.sig", opId)(drain(DedupQueries.signatureTable(docs)))
    val pairs = t.span("queries.dedup.pairs", opId)(DedupQueries.minhashPairs(docs))
    val pairRows = pairs.count()
    val verified = t.span("queries.dedup.verify", opId)(DedupQueries.jaccardDups(docs))
    val verifiedRows = verified.count()
    val clusters = t.span("queries.dedup.clusters", opId) {
      val c = DedupQueries.duplicateClusters(docs); c.count(); c
    }
    val clusterRows = clusters.select("cluster_id").distinct().count()
    t.span("queries.dedup.apply", opId)(DedupQueries.dedupApply(docs))
    val sig = t.seconds("queries.dedup.sig", opId)
    Map(
      "queries.dedup.sig.s" -> sig,
      "functions.graft_text_signature.us_per_doc" -> sig / corpus.nDocs * 1e6,
      "queries.dedup.pairs.s" -> (t.seconds("queries.dedup.pairs", opId) - sig),
      "queries.dedup.pairs.rows" -> pairRows.toDouble,
      "queries.dedup.verify.s" -> (t.seconds("queries.dedup.verify", opId) - sig),
      "queries.dedup.verify.rows" -> verifiedRows.toDouble,
      "queries.dedup.verify.yield" ->
        (if (pairRows == 0) 0.0 else verifiedRows.toDouble / pairRows),
      "queries.dedup.clusters.s" -> (t.seconds("queries.dedup.clusters", opId) - sig),
      "queries.dedup.clusters.rows" -> clusterRows.toDouble,
      "queries.dedup.apply.s" -> t.seconds("queries.dedup.apply", opId))
  }
}

object CorpusDedup {
  val Docs: Long = 10000L
}
