package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Seeded input generators owned by the benchmark. Every value is a pure
  * function of (seed, index) through splitmix64, so a seed always yields
  * the same bytes and the files can be written in parallel.
  *
  * The shapes copy (rather than call) the program's own generators —
  * `graft.etl.LogGen` / `graft.ScaleEtl` for access-log lines and
  * `graft.ScaleGen` for the document corpus — so the benchmark keeps its
  * inputs if those dev mains are folded or changed.
  */
object Gen {

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** k-th draw for item `id` under `seed`, uniform in [0, bound). */
  def draw(seed: Long, id: Long, k: Long, bound: Int): Int =
    Math.floorMod(mix64(mix64(seed) ^ (id * 1000003L + k)), bound.toLong).toInt

  // ---------------------------------------------------------------- logs

  /** Planted truth of one generated log backlog. `unique` counts distinct
    * well-formed requests (late ones included); every other class is a
    * line on top of them, except `overflow` and `late`, which are subsets
    * of `unique`. */
  final case class LogTruth(
      unique: Long, redelivered: Long, malformed: Long, overflow: Long,
      late: Long, files: Int, bytes: Long) {
    def lines: Long = unique + redelivered + malformed
  }

  private val operations = Array(
    "REST.GET.OBJECT", "REST.PUT.OBJECT", "REST.HEAD.OBJECT",
    "REST.DELETE.OBJECT", "REST.POST.MULTI_OBJECT_DELETE",
    "REST.GET.BUCKET", "BATCH.DELETE.OBJECT")
  private val statuses = Array("200", "200", "200", "206", "204", "403", "404", "500")
  private val errorFor = Map("403" -> "AccessDenied", "404" -> "NoSuchKey",
    "500" -> "InternalError")
  private val agents = Array(
    "aws-sdk-java/2.20.0 Linux/5.10 OpenJDK_64-Bit_Server_VM/17",
    "aws-cli/2.13.0 Python/3.11.4 Linux/6.1 exe/x86_64",
    "Mozilla/5.0 (compatible; test agent with spaces)",
    "S3Console/0.4", "-")
  private val timeFmt = DateTimeFormatter
    .ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.US).withZone(ZoneOffset.UTC)

  /** 2023-11-14T00:00:00Z — the synthetic day. */
  val Day0: Long = 1699920000L

  /** Diurnal traffic: relative weight of each UTC hour, hot hour 14. */
  private val hourWeights: Array[Int] =
    Array(2, 2, 1, 1, 1, 2, 3, 4, 5, 6, 6, 6, 7, 8, 24, 8, 7, 6, 6, 5, 4, 4, 3, 2)
  private val hourCum: Array[Int] = hourWeights.scanLeft(0)(_ + _).tail

  /** One access-log line in the LogGen.Entry field layout (26 fields,
    * quoted URI/referer/agent, bracketed time), plus two overflow fields
    * when `overflow`. */
  def logLine(seed: Long, i: Long, epochSec: Long, nBuckets: Int,
      overflow: Boolean): String = {
    val bucket = s"bucket-${draw(seed, i, 1, nBuckets)}"
    val status = statuses(draw(seed, i, 2, statuses.length))
    val key = f"data/part-${draw(seed, i, 3, 1000)}%05d.bin"
    val bytes = draw(seed, i, 4, 1 << 20).toLong
    val sb = new java.lang.StringBuilder(420)
    sb.append("79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be ")
      .append(bucket).append(" [").append(timeFmt.format(Instant.ofEpochSecond(epochSec)))
      .append("] 192.0.2.").append(draw(seed, i, 5, 255))
      .append(" arn:aws:iam::123456789012:user/tester ")
      .append(requestId(seed, i)).append(' ')
      .append(operations(draw(seed, i, 6, operations.length))).append(' ')
      .append(key).append(" \"GET /").append(key).append(" HTTP/1.1\" ")
      .append(status).append(' ').append(errorFor.getOrElse(status, "-")).append(' ')
      .append(bytes).append(' ').append(bytes + 17).append(" 42 12 \"-\" \"")
      .append(agents(draw(seed, i, 7, agents.length)))
      .append("\" - HOSTID0123456789abcdef/example= SigV4 ECDHE-RSA-AES128-GCM-SHA256 AuthHeader ")
      .append(bucket).append(".s3.us-east-1.amazonaws.com TLSv1.2 - Yes")
    if (overflow) sb.append(" extraA extraB")
    sb.toString
  }

  private def requestId(seed: Long, i: Long): String =
    f"REQ${seed & 0xffffL}%04X$i%09X"

  /** A line whose Time field does not parse (or is missing), so the F1
    * malformed filter must drop it. Alternates the two shapes. */
  def malformedLine(seed: Long, j: Long): String =
    if (j % 2 == 0)
      s"79a59df9 bucket-0 [31/Foo/2023:99:99:99 +0000] 192.0.2.1 - MAL${seed & 0xffffL}-$j " +
        "REST.GET.OBJECT k \"GET /k HTTP/1.1\" 200 - 1 1 1 1 \"-\" \"-\" -"
    else s"truncated log line $j from a partial upload"

  /** Spec of the batch backlog: `nUnique` requests over one day across
    * `nBuckets` buckets with a diurnal hot hour; 1 in `redeliverEvery`
    * requests is delivered twice (in another file); `malformedPerMille`
    * ‰ extra malformed lines; `overflowPct` % of requests carry
    * ExtraFields overflow. */
  final case class BatchSpec(nUnique: Int, nFiles: Int, nBuckets: Int = 8,
      redeliverEvery: Int = 7, malformedPerMille: Int = 5,
      overflowPct: Int = 5)

  private def isRedelivered(seed: Long, i: Long, every: Int) =
    draw(seed, i, 10, every) == 0
  private def isOverflow(seed: Long, i: Long, pct: Int) =
    draw(seed, i, 9, 100) < pct

  /** Batch timestamp: hour from the diurnal table, second uniform. */
  private def batchTs(seed: Long, i: Long): Long = {
    val u = draw(seed, i, 11, hourCum.last)
    val hour = hourCum.indexWhere(u < _)
    Day0 + hour * 3600L + draw(seed, i, 12, 3600)
  }

  /** Write the batch backlog as `nFiles` text files under `dir`. Request
    * i lands in file i mod nFiles; its redelivery (if any) in file
    * (i + 5) mod nFiles; malformed line j in file j mod nFiles. */
  def writeBatch(dir: File, seed: Long, spec: BatchSpec): LogTruth = {
    dir.mkdirs()
    val nMal = spec.nUnique.toLong * spec.malformedPerMille / 1000
    val perFile = parallel(spec.nFiles) { f =>
      var redel, over = 0L
      val file = new File(dir, f"part-$f%05d.log")
      writeLines(file) { emit =>
        var i = f.toLong
        while (i < spec.nUnique) {
          val o = isOverflow(seed, i, spec.overflowPct)
          if (o) over += 1
          emit(logLine(seed, i, batchTs(seed, i), spec.nBuckets, o))
          i += spec.nFiles
        }
        i = Math.floorMod(f - 5L, spec.nFiles.toLong)
        while (i < spec.nUnique) {
          if (isRedelivered(seed, i, spec.redeliverEvery)) {
            redel += 1
            emit(logLine(seed, i, batchTs(seed, i), spec.nBuckets,
              isOverflow(seed, i, spec.overflowPct)))
          }
          i += spec.nFiles
        }
        var j = f.toLong
        while (j < nMal) { emit(malformedLine(seed, j)); j += spec.nFiles }
      }
      (redel, over, file.length)
    }
    LogTruth(unique = spec.nUnique, redelivered = perFile.map(_._1).sum,
      malformed = nMal, overflow = perFile.map(_._2).sum, late = 0,
      files = spec.nFiles, bytes = perFile.map(_._3).sum)
  }

  /** Spec of the streaming backlog, in the reference loggen shape: file k
    * carries `linesPerFile` fresh requests over the 600 s of event time
    * [t0 + 600k, t0 + 600(k+1)), plus redeliveries of 1 in
    * `redeliverEvery` requests of file k-1 (inside the watermark), plus
    * `latePerFile` requests more than an hour old in every file from
    * `firstLateFile` on (after the first trigger, so a watermark exists).
    */
  final case class StreamSpec(nFiles: Int, linesPerFile: Int,
      firstLateFile: Int, latePerFile: Int = 3, nBuckets: Int = 8,
      redeliverEvery: Int = 7, malformedPerMille: Int = 5,
      overflowPct: Int = 5)

  /** 01:00 on the synthetic day, so late lines stay on the same date. */
  val StreamT0: Long = Day0 + 3600L

  def writeStream(dir: File, seed: Long, spec: StreamSpec): LogTruth = {
    dir.mkdirs()
    val L = spec.linesPerFile.toLong
    val nMalPerFile = L * spec.malformedPerMille / 1000
    def fresh(k: Int, n: Long): Long = k * (L + spec.latePerFile) + n
    def freshTs(seed: Long, k: Int, i: Long): Long =
      StreamT0 + 600L * k + draw(seed, i, 12, 600)
    val perFile = parallel(spec.nFiles) { k =>
      var redel, over, late = 0L
      val file = new File(dir, f"log-$k%05d.txt")
      writeLines(file) { emit =>
        var n = 0L
        while (n < L) {
          val i = fresh(k, n)
          val o = isOverflow(seed, i, spec.overflowPct)
          if (o) over += 1
          emit(logLine(seed, i, freshTs(seed, k, i), spec.nBuckets, o))
          n += 1
        }
        if (k > 0) {
          n = 0L
          while (n < L) {
            val i = fresh(k - 1, n)
            if (isRedelivered(seed, i, spec.redeliverEvery)) {
              redel += 1
              emit(logLine(seed, i, freshTs(seed, k - 1, i), spec.nBuckets,
                isOverflow(seed, i, spec.overflowPct)))
            }
            n += 1
          }
        }
        if (k >= spec.firstLateFile) {
          var m = 0
          while (m < spec.latePerFile) {
            val i = fresh(k, L + m)
            late += 1
            emit(logLine(seed, i,
              StreamT0 + 600L * k - 3600L - 1 - draw(seed, i, 13, 600),
              spec.nBuckets, overflow = false))
            m += 1
          }
        }
        var j = 0L
        while (j < nMalPerFile) { emit(malformedLine(seed, k * L + j)); j += 1 }
      }
      // the file source takes files oldest-first: pin the order
      file.setLastModified(1700000000000L + k * 1000L)
      (redel, over, late, file.length)
    }
    LogTruth(unique = spec.nFiles * L + perFile.map(_._3).sum,
      redelivered = perFile.map(_._1).sum,
      malformed = spec.nFiles * nMalPerFile,
      overflow = perFile.map(_._2).sum, late = perFile.map(_._3).sum,
      files = spec.nFiles, bytes = perFile.map(_._4).sum)
  }

  // -------------------------------------------------------------- corpus

  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "zh", "es", "fr", "de")

  /** How a corpus doc was planted: `src` is the doc whose text it copies
    * (exact) or mutates (near); -1 for base docs and the viral group. */
  final case class Planted(kind: Char, src: Long)

  /** The ScaleGen corpus shape with the seed mixed into every draw:
    * 10-100 words from a 31-word vocabulary, a viral exact-dup group of
    * 1% of the corpus (ids below nDocs/100, all doc 0's text), ~0.3%
    * exact copies and ~5% near copies (~10% of words re-rolled) of an
    * earlier doc within 500 ids. */
  final class Corpus(seed: Long, val nDocs: Long) {
    val viralSize: Long = math.max(2L, nDocs / 100)

    private def baseText(id: Long): Array[String] = {
      val n = 10 + draw(seed, id, 0, 91)
      Array.tabulate(n)(i => Vocab(draw(seed, id, 100 + i, Vocab.length)))
    }

    def planted(id: Long): Planted =
      if (id < viralSize) Planted('v', -1)
      else {
        val roll = draw(seed, id, 1, 1000)
        val back = math.min(id - 1, 500L).toInt
        if (roll < 3 && id > viralSize) Planted('e', id - 1 - draw(seed, id, 2, back))
        else if (roll < 53 && id > viralSize) Planted('n', id - 1 - draw(seed, id, 3, back))
        else Planted('b', -1)
      }

    def words(id: Long): Array[String] = planted(id) match {
      case Planted('v', _) => baseText(0)
      case Planted('e', src) => words(src)
      case Planted('n', src) =>
        val w = words(src).clone()
        w.indices.foreach { i =>
          if (draw(seed, id, 200 + i, 10) == 0)
            w(i) = Vocab(draw(seed, id, 300 + i, Vocab.length))
        }
        w
      case _ => baseText(id)
    }

    def text(id: Long): String = words(id).mkString(" ")
    def lang(id: Long): String = Langs(draw(seed, id, 4, Langs.length))
    def source(id: Long): String = s"src${draw(seed, id, 5, 20)}"
  }

  /** Planted-truth counts of a corpus (viral group, exact and near copies). */
  final case class CorpusTruth(docs: Long, viral: Long, exact: Long, near: Long)

  def corpusTruth(c: Corpus): CorpusTruth = {
    val kinds = (0L until c.nDocs).map(c.planted(_).kind)
    CorpusTruth(c.nDocs, kinds.count(_ == 'v').toLong,
      kinds.count(_ == 'e').toLong, kinds.count(_ == 'n').toLong)
  }

  // ------------------------------------------------------------- helpers

  private def writeLines(file: File)(body: (String => Unit) => Unit): Unit = {
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 16)
    try body { s => w.write(s); w.write('\n') } finally w.close()
  }

  /** Run `f(0 until n)` on up to 4 threads, results in index order. */
  private def parallel[A](n: Int)(f: Int => A): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, Runtime.getRuntime.availableProcessors))
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = f(i)
      }))
      fs.map(_.get())
    } finally pool.shutdown()
  }

  /** SHA-256 over the names and bytes of every file under `dir`. */
  def digestDir(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    dir.listFiles.filter(_.isFile).sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes(UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest.map("%02x".format(_)).mkString
  }

  /** SHA-256 over every generated corpus row (id, text, lang, source). */
  def digestCorpus(c: Corpus): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (0L until c.nDocs).foreach { id =>
      md.update(s"$id\t${c.text(id)}\t${c.lang(id)}\t${c.source(id)}\n".getBytes(UTF_8))
    }
    md.digest.map("%02x".format(_)).mkString
  }
}
