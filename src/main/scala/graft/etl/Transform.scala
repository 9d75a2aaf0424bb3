package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Engine configuration (SURVEY §2.1 C1) — the reference's ~25 env vars /
  * INI knobs collapsed to one case class. Every field maps to a documented
  * reference default (README.md:49-79, example.ini).
  */
final case class EtlConfig(
    staggingSeconds: Long = 900,          // S3LOGS_STAGGING_PARTITION_SECOND
    aggregateSeconds: Long = 900,         // S3LOGS_TRANSFORM_AGGREGATE_SECOND (≥ stagging)
    tzOffsetSeconds: Long = 0,            // T3: S3LOGS_STAGGING_PARTITION_TZIF (UTC+8 = 28800)
    // T3 with DST RULES (r17): an IANA zone id ("America/New_York").
    // When set it overrides tzOffsetSeconds — bucket boundaries and K3
    // partition columns follow the zone's wall clock through DST
    // transitions (the reference's tzif surface accepts rule-carrying
    // POSIX TZ strings; its shipped default is UTC+0 and its examples
    // fixed offsets, so the fixed path stays the fast default).
    // Validated at config time via java.time.ZoneId — a typo fails
    // loudly, never silently buckets at UTC.
    tzZone: Option[String] = None,
    mergeOrigBuckets: Boolean = false,    // A3: collapse bucket key to ALLBUCKETS
    dedup: Boolean = true,                // D1: S3LOGS_TRANSFORM_LOG_DEDUPLICATION
    hourlyPartitions: Boolean = true,     // K3: year/.../hour (batch) vs dt=YYYYMMDD (stream)
    compression: String = "snappy",       // parquet writer props (C1, conf.rs:43)
    parquetWriterVersion: String = "v1",  // writer props INI `writer_version` 1.0/2.0
    parquetBlockSize: Long = 128L << 20,  // row-group size (writer props INI)
    maxRecordsPerFile: Long = 10000000L,  // ST4 rotation threshold analog
    // F3 age gate (S3LOGS_TRANSFORM_JOB_INTERVAL): skip input files
    // modified within the last N seconds. 0 = disabled — the reference's
    // 600 s default protects its live append-in-progress stagging files,
    // which don't exist under the fused shuffle pipeline; enable it when
    // scanning an external staging drop directory that other writers are
    // still appending to.
    jobIntervalSeconds: Long = 0,
    // Sink-shuffle salt width: the write repartitions by the OUTPUT
    // PARTITION columns so each Hive partition is produced by a bounded
    // set of tasks — but log traffic is diurnal, so one hot hour hashed
    // to ONE reducer would cap the sink at single-task throughput no
    // matter the cluster size (the reference documents the same hot-
    // partition contention for its prefix layout, FAQ.md:3-13). A
    // bounded per-partition salt fans each output partition across up
    // to this many reducer tasks while keeping files-per-partition
    // bounded (≤ salt × files-per-task). 1 disables salting.
    sinkSaltBuckets: Int = 8,
    widenedSink: Boolean = false,         // W1: write reference-shaped ExtraFieldN cols
    // fixed ExtraFieldN count for widenedSink. 0 = derive from this run's
    // widest row (reference-faithful: it widens per transform batch,
    // utils.rs:1213-1235) — but successive appends can then write
    // DIFFERENT physical schemas into one lake. Set >0 to pin the lake
    // contract for fixed-schema (Athena/Hive) readers.
    widenedSinkCols: Int = 0,
    archiveDir: Option[String] = None,    // S4: gzip raw-line archive
    quarantineDir: Option[String] = None) { // F1 rejects → bad-records sink
  require(aggregateSeconds >= staggingSeconds,
    "aggregate window must be >= stagging window")
  require(sinkSaltBuckets >= 1, "sinkSaltBuckets must be >= 1")
  require(Set("v1", "v2")(parquetWriterVersion),
    "parquet writer version must be v1 or v2")
}

object EtlConfig {

  /** The reference's full documented env vocabulary (README.md:49-79) —
    * including its literal `WRTIER` spelling — plus the engine-extension
    * keys. Keys marked n/a configure machinery Spark subsumes (stagging
    * files, flocks, S3 upload); they are ACCEPTED (a reference deployment's
    * env must not be rejected) but have no engine knob to turn. The S3
    * upload keys (MPU_CHUNK_SIZE, STORAGE_CLASS, CLEANUP_UPLOADED_PARQUET)
    * map onto the S3A committer/filesystem layer — see README "S3 sink:
    * the committer contract (K4)" for the fs.s3a.* settings that
    * reproduce the reference's .incomplete→rename atomicity. */
  private val passthroughKeys = Set(
    "S3LOGS_STAGGING_ROOT_PATH",            // staging layer = shuffle
    "S3LOGS_CONFIG_ROOT_PATH",              // schema is compiled in
    "S3LOGS_CONFIG_PARQUET_SCHEMA_FILE",
    "S3LOGS_CONFIG_PARQUET_WRITER_PROPERTIES_FILE",
    "S3LOGS_TRANSFORM_OUTPUT_TARGET_PREFIX", // sink path given per-run
    "S3LOGS_TRANSFORM_PARQUET_ROOT_PATH",   // local staging = committer/sink-managed
    "S3LOGS_TRANSFORM_CLEANUP_UPLOADED_PARQUET", // committer-managed
    "S3LOGS_TRANSFORM_STORAGE_CLASS",       // fs.s3a.* concern
    "S3LOGS_TRANSFORM_MPU_CHUNK_SIZE",      // S3A committer concern
    "S3LOGS_FILE_BUF_SIZE",                 // Hadoop FS buffers
    "S3LOGS_FILE_LOCK_TIMEOUT_SECONDS",     // no flocks under shuffle
    "S3LOGS_FILE_LOCK_RETRY_WAIT_MS",
    "S3LOGS_STAGGING_FILE_DATETIME_FMT",    // no stagging files
    "S3LOGS_STAGGING_FILE_SUFFIX",
    "S3LOGS_STAGGING_PROCESSING_SUFFIX")

  private val mappedKeys = Set(
    "S3LOGS_STAGGING_PARTITION_SECOND",
    "S3LOGS_STAGGING_PARTITION_TZIF",
    "S3LOGS_STAGGING_MERGE_ORIG_BUCKETS",
    "S3LOGS_TRANSFORM_AGGREGATE_SECOND",
    "S3LOGS_TRANSFORM_LOG_DEDUPLICATION",
    "S3LOGS_TRANSFORM_JOB_INTERVAL",
    "S3LOGS_TRANSFORM_ARCHIVE_ROOT_PATH",
    "S3LOGS_TRANSFORM_CLEANUP_PROCESSED_LOGS",
    "S3LOGS_TRANSFORM_OUTPUT_PREFIX_FMT",
    "S3LOGS_TRANSFORM_PARQUET_WRTIER_BULK_LINES", // sic — reference README.md:62
    "S3LOGS_TRANSFORM_PARQUET_WRITER_BULK_LINES", // corrected-spelling alias
    // engine extensions (INI writer props + quarantine/widening surfaced as env)
    "S3LOGS_TRANSFORM_PARQUET_COMPRESSION",
    "S3LOGS_TRANSFORM_PARQUET_WRITER_VERSION",
    "S3LOGS_TRANSFORM_PARQUET_MAX_ROW_GROUP_SIZE",
    "S3LOGS_TRANSFORM_QUARANTINE_ROOT_PATH",
    "S3LOGS_TRANSFORM_WIDENED_SCHEMA",
    "S3LOGS_TRANSFORM_WIDENED_SCHEMA_COLS",
    "S3LOGS_TRANSFORM_SINK_SALT_BUCKETS")

  /** C1 parity: build a config from the reference's environment-variable
    * vocabulary (README.md:49-79, s3logs/src/conf.rs:39-105). Unknown
    * `S3LOGS_*` keys FAIL LOUDLY (a typo'd knob silently falling back to a
    * default is the worst config outcome); non-S3LOGS keys are ignored so
    * a full process env can be passed in. tz accepts a fixed-offset POSIX
    * string (`UTC+8`, no DST — matching the reference's std-offset-only
    * tzif handling). */
  def fromEnv(env: Map[String, String]): EtlConfig = {
    val unknown = env.keySet.filter(_.startsWith("S3LOGS_")) --
      mappedKeys -- passthroughKeys
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown S3LOGS_* config keys: ${unknown.toSeq.sorted.mkString(", ")}")
    // a bad value names its key: every verb builds this config, so a bare
    // `For input string: "15m"` would point nowhere
    def parsed[T](k: String, d: T, what: String)(f: String => T): T =
      env.get(k).map { v =>
        try f(v.trim) catch { case _: IllegalArgumentException =>
          throw new IllegalArgumentException(s"$k must be $what, got: '$v'")
        }
      }.getOrElse(d)
    def num(k: String, d: Long) = parsed(k, d, "an integer")(_.toLong)
    def bool(k: String, d: Boolean) =
      parsed(k, d, "true or false")(_.toBoolean)
    // T3 vocabulary: UTC±HH[:MM] keeps the reference's fixed-offset
    // fast path; anything else must be a VALID IANA zone id (r17 — the
    // DST-rule surface: "America/New_York" buckets on zone rules). A
    // typo fails loudly at config time, never silently buckets at UTC.
    val (tzOff, tzZone) = env.get("S3LOGS_STAGGING_PARTITION_TZIF").map { s =>
      val m = "UTC([+-]\\d{1,2})(?::(\\d{2}))?".r
      s.trim match {
        case m(h, mm) =>
          val sign = if (h.startsWith("-")) -1 else 1
          (h.toLong * 3600 +
            sign * Option(mm).map(_.toLong * 60).getOrElse(0L), None)
        case "UTC" | "UTC0" => (0L, None)
        case zone =>
          try { java.time.ZoneId.of(zone); (0L, Some(zone)) }
          catch { case _: java.time.DateTimeException =>
            // POSIX TZ strings (ADVICE r17): the reference's tzif parser
            // accepts rule-carrying forms like "EST5EDT,M3.2.0/2,
            // M11.1.0/2" and uses the STD offset, ignoring the DST
            // rules — a config valid upstream must not refuse here.
            // graft maps the named form with TRUE POSIX sign semantics:
            // unsigned/'+' hours lie WEST of Greenwich (EST5 → UTC-5,
            // JST-9 → UTC+9), hh:mm:ss all honored and bounded
            // (hh ≤ 24, mm/ss ≤ 59 — out-of-range refuses like UTC25,
            // never a nonsense offset behind a warning; ADVICE r18).
            // SIGN CAVEAT, documented rather than claimed away: the
            // reference feeds tzif 0.2.0's std_info.offset straight into
            // chrono FixedOffset::east_opt (s3logs/src/utils.rs:479-494)
            // — whether that crate stores the raw west-positive POSIX
            // value or normalizes to seconds-east could not be pinned in
            // this sandbox (no network, no vendored crate source). If it
            // stores the raw value, the reference's named forms are
            // sign-FLIPPED relative to POSIX ("EST5" behaving as UTC+5)
            // and graft deliberately diverges on the side of the
            // standard; see README "POSIX tz sign".
            val posix =
              "[A-Za-z]{3,}([+-]?\\d{1,2})(?::(\\d{1,2}))?(?::(\\d{1,2}))?(?:[A-Za-z]{3,}.*)?".r
            zone match {
              // POSIX bounds: hh in [0, 24], mm/ss in [0, 59] —
              // "UTC25"/"EST5:99"-style garbage that happens to match
              // the shape must keep refusing (self-review + ADVICE r18)
              case posix(h, mm, ss) if math.abs(h.toLong) <= 24 &&
                  Option(mm).forall(_.toLong <= 59) &&
                  Option(ss).forall(_.toLong <= 59) =>
                val mag = math.abs(h.toLong) * 3600 +
                  Option(mm).map(_.toLong * 60).getOrElse(0L) +
                  Option(ss).map(_.toLong).getOrElse(0L)
                val off = if (h.startsWith("-")) mag else -mag
                val hhmm = f"${if (off < 0) "-" else "+"}${math.abs(off) / 3600}%02d:${
                  math.abs(off) % 3600 / 60}%02d"
                System.err.println(s"[etl] WARNING: POSIX tz '$zone' maps " +
                  s"to its standard offset (UTC$hhmm; POSIX sign — " +
                  "unsigned/positive hours lie WEST of Greenwich) and " +
                  "its DST rules are IGNORED; use an IANA zone id (e.g. " +
                  "America/New_York) for DST-correct bucketing")
                (off, None)
              case _ =>
                throw new IllegalArgumentException(
                  s"unsupported tz: '$zone' — use a fixed offset " +
                    "(UTC±HH[:MM]), a POSIX tz (EST5EDT[,rules] — std " +
                    "offset only; hours <= 24, minutes/seconds <= 59), " +
                    "or an IANA zone id (e.g. America/New_York) for DST " +
                    "rules")
            }
          }
      }
    }.getOrElse((0L, None))
    // archive only kept when cleanup is disabled — the reference routes
    // processed logs to the archive root iff CLEANUP_PROCESSED_LOGS=false.
    val archive =
      if (bool("S3LOGS_TRANSFORM_CLEANUP_PROCESSED_LOGS", d = true)) None
      else Some(env.getOrElse("S3LOGS_TRANSFORM_ARCHIVE_ROOT_PATH",
        "/mnt/s3logs/archive"))
    val version =
      env.getOrElse("S3LOGS_TRANSFORM_PARQUET_WRITER_VERSION", "1.0") match {
        case "1.0" | "v1" => "v1"
        case "2.0" | "v2" => "v2"
        case other => throw new IllegalArgumentException(
          s"parquet writer version must be 1.0 or 2.0, got: $other")
      }
    EtlConfig(
      staggingSeconds = num("S3LOGS_STAGGING_PARTITION_SECOND", 900),
      aggregateSeconds = num("S3LOGS_TRANSFORM_AGGREGATE_SECOND", 900),
      tzOffsetSeconds = tzOff,
      tzZone = tzZone,
      mergeOrigBuckets =
        bool("S3LOGS_STAGGING_MERGE_ORIG_BUCKETS", d = false),
      dedup = bool("S3LOGS_TRANSFORM_LOG_DEDUPLICATION", d = true),
      hourlyPartitions = !env
        .getOrElse("S3LOGS_TRANSFORM_OUTPUT_PREFIX_FMT",
          "year=%Y/month=%m/day=%d/hour=%H")
        .startsWith("dt="),
      compression =
        env.getOrElse("S3LOGS_TRANSFORM_PARQUET_COMPRESSION", "snappy").toLowerCase,
      parquetWriterVersion = version,
      parquetBlockSize =
        num("S3LOGS_TRANSFORM_PARQUET_MAX_ROW_GROUP_SIZE", 128L << 20),
      maxRecordsPerFile = num("S3LOGS_TRANSFORM_PARQUET_WRTIER_BULK_LINES",
        num("S3LOGS_TRANSFORM_PARQUET_WRITER_BULK_LINES", 10000000L)),
      // env-driven configs get the REFERENCE's default (600 s): a
      // reference deployment env dropped in unchanged must keep its
      // in-flight-file protection. Programmatic EtlConfig() defaults to
      // 0 because the fused pipeline has no live stagging files.
      jobIntervalSeconds = num("S3LOGS_TRANSFORM_JOB_INTERVAL", 600),
      sinkSaltBuckets =
        num("S3LOGS_TRANSFORM_SINK_SALT_BUCKETS", 8).toInt,
      widenedSink = bool("S3LOGS_TRANSFORM_WIDENED_SCHEMA", d = false),
      widenedSinkCols =
        num("S3LOGS_TRANSFORM_WIDENED_SCHEMA_COLS", 0).toInt,
      archiveDir = archive,
      quarantineDir = env.get("S3LOGS_TRANSFORM_QUARANTINE_ROOT_PATH"))
  }
}

/** Result of one batch transform run — the count-conservation facts the
  * reference asserts inline (M2, s3logs/src/utils.rs:642-643). */
final case class TransformStats(
    inputLines: Long, malformedLines: Long, dedupedLines: Long,
    outputRows: Long) {

  /** The run's funnel as one line, the batch twin of `stream census`. */
  def census: String = s"transform census: $inputLines lines read, " +
    s"$malformedLines malformed, $dedupedLines duplicates dropped, " +
    s"$outputRows rows written"
}

/** The batch ETL pipeline (SURVEY §3.1 + §3.2 fused into ONE Spark job).
  *
  * The reference runs two stages with a shared-filesystem staging layer in
  * between (append-only files + flocks, s3logs/src/utils.rs:455-1520)
  * because it has no shuffle. Under Spark the staging layer IS the
  * shuffle: parse → bucket → dedup → partitioned parquet write. Locks,
  * `.processing` renames, orphan merge-back and upload retry (R1–R3, K4)
  * all collapse into Spark's task retry + output-committer protocol.
  *
  * Scale design: a default run is a single pass — scan → parse → ONE
  * exchange → ONE sort → first-row-per-(RequestID, window) filter →
  * partitioned parquet write, with nothing cached and no aggregate. The
  * exchange hash-partitions by the output partition values of each row's
  * aggregate WINDOW (`agg_ts` on the local clock) plus a bounded RequestID
  * salt, so every row of one D1 key (RequestID, agg_ts) lands in one task.
  * The sort within each task is (partition columns, agg_ts, ts): it is the
  * writer's required order (Spark adds no sort of its own, and row groups
  * stay time-clustered), and it keeps each window contiguous, so D1 is the
  * reference's own first-wins scan with a seen-set cleared at every window
  * change ([[graft.functions.FirstInWindowExpr]]). When the window nests
  * in the output partition (the default 900 s in hourly dirs) each Hive
  * partition is written by its own ≤ sinkSaltBuckets tasks (no 1000-way
  * small-file fan-out per task); a window that straddles partitions
  * (7200 s) puts the few dirs it spans on one task. `maxRecordsPerFile`
  * bounds file size the way ST4's rotation does. [[TransformStats]] come
  * from two `Dataset.observe` counters in the write job's result stage,
  * not from extra count jobs.
  */
object Transform {

  /** K3 local wall clock of a timestamp column: zone RULES via
    * `from_utc_timestamp` when `tzZone` is set (T3/r17: DST-correct wall
    * time, codegen'd zone lookup), else the fixed-offset arithmetic (the
    * reference's shipped default is a DST-less POSIX tz, so the
    * pure-arithmetic path stays the fast default). */
  private[etl] def localClock(cfg: EtlConfig, t: Column) = cfg.tzZone match {
    case Some(zone) => from_utc_timestamp(t, zone)
    case None => timestamp_seconds(unix_timestamp(t) + cfg.tzOffsetSeconds)
  }

  /** K3 output partition columns and their `date_format` patterns. */
  private def partitionFormats(cfg: EtlConfig): Seq[(String, String)] =
    if (cfg.hourlyPartitions)
      Seq("year" -> "yyyy", "month" -> "MM", "day" -> "dd", "hour" -> "HH")
    else Seq("dt" -> "yyyyMMdd")

  /** T2: align-left tumbling bucket (`ts - ts % N`) on the local wall
    * clock, returned as epoch seconds (UTC) of the bucket start.
    *
    * Zone-rule path (T3/r17): floor on the wall-clock epoch, then map
    * the local bucket start back to its UTC instant with
    * `to_utc_timestamp`. Standard wall-clock bucketing semantics at DST
    * transitions: a fall-back repeats a local hour, so the two UTC
    * hours share local buckets keyed at the FIRST offset's instant
    * (java.time's ambiguity resolution); spring-forward skips a local
    * hour, so those buckets simply never materialize (from_utc_timestamp
    * only ever produces valid local times). Both engines of the oracle
    * compute this identically; EtlSpec pins a transition fixture. */
  def bucketTs(cfg: EtlConfig, seconds: Long) = cfg.tzZone match {
    case Some(zone) =>
      val localEpoch = unix_timestamp(from_utc_timestamp(col("ts"), zone))
      unix_timestamp(to_utc_timestamp(
        timestamp_seconds(floor(localEpoch / seconds) * seconds), zone))
    case None =>
      val shifted = unix_timestamp(col("ts")) + cfg.tzOffsetSeconds
      (floor(shifted / seconds) * seconds) - cfg.tzOffsetSeconds
  }

  /** Parse + bucket + dedup: the logical core, reusable by batch and
    * streaming. Input: one string column `value`. */
  def pipeline(lines: DataFrame, cfg: EtlConfig): DataFrame =
    bucketAndDedup(AccessLogParser.parse(lines, dropMalformed = true), cfg)

  /** bucket + dedup over an already-parsed frame. */
  def bucketAndDedup(parsed: DataFrame, cfg: EtlConfig): DataFrame =
    dedup(bucket(parsed, cfg), cfg)

  /** T2 + A3: the aggregate window `agg_ts` and the `OrigBucket` key,
    * shared by the batch and streaming pipelines. */
  private[etl] def bucket(parsed: DataFrame, cfg: EtlConfig) = parsed
    .withColumn("OrigBucket",
      if (cfg.mergeOrigBuckets) lit("ALLBUCKETS") else col("Bucket"))
    .withColumn("agg_ts", bucketTs(cfg, cfg.aggregateSeconds))

  /** D1 over an unsorted frame: the dedup key is (RequestID, window), NOT
    * global RequestID — the reference resets its seen-set at
    * aggregate_second bounds (s3logs/src/utils.rs:1034-1045). The batch
    * sink keeps the first row per key from its time-sorted rows instead
    * (`sink`); EtlSpec ties the two together. */
  private def dedup(df: DataFrame, cfg: EtlConfig): DataFrame =
    if (cfg.dedup) df.dropDuplicates("RequestID", "agg_ts") else df

  /** Full batch run: read text logs, transform, write partitioned parquet.
    * Returns conservation stats (M2). */
  def run(spark: SparkSession, in: Seq[String], out: String,
      cfg: EtlConfig = EtlConfig()): TransformStats = {
    // F3 age gate: only files quiet for >= jobIntervalSeconds are picked
    // up (the reference's is_process_target mtime check,
    // s3logs/src/utils.rs:896-938) — a file-listing filter, so excluded
    // files are never even opened.
    val reader =
      if (cfg.jobIntervalSeconds <= 0) spark.read
      else spark.read.option("modifiedBefore",
        // modifiedBefore parses its timestamp in spark.sql.session.timeZone
        // (which GraftSession pins to UTC) — the cutoff must be computed
        // in THAT zone, not the JVM default, or the gate is off by the
        // host's UTC offset
        java.time.LocalDateTime.now(java.time.ZoneId.of(
            spark.conf.get("spark.sql.session.timeZone")))
          .minusSeconds(cfg.jobIntervalSeconds)
          .format(java.time.format.DateTimeFormatter.ofPattern(
            "yyyy-MM-dd'T'HH:mm:ss")))
    val lines = reader.textFile(in: _*).toDF("value")

    // Malformed rows stay in (ts null) so the counters below see them.
    // Only the archive and quarantine branches re-read the parse, for
    // the raw line: then — and only then — it is cached, `_raw` included.
    // A default run caches nothing (a cached `_raw` once OOMed the
    // 10M-line ScaleEtl cell in an 8 GB local[32] JVM; SCALE.md).
    val keepRaw = cfg.archiveDir.nonEmpty || cfg.quarantineDir.nonEmpty
    val parsed = {
      val p = AccessLogParser.parse(lines, dropMalformed = false,
        keepRaw = keepRaw)
      if (keepRaw) p.cache() else p
    }
    try {
      // S4: optional gzip archive of the raw lines (transform_cleanup,
      // s3logs/src/utils.rs:1273-1294).
      cfg.archiveDir.foreach { dir =>
        parsed.select(col("_raw").as("value"))
          .write.mode(SaveMode.Append).option("compression", "gzip").text(dir)
      }
      // F1 rejects are quarantined raw (the PERMISSIVE badRecords
      // pattern), not silently dropped.
      cfg.quarantineDir.foreach { dir =>
        parsed.filter(col("ts").isNull).select(col("_raw"))
          .write.mode(SaveMode.Append).text(dir)
      }
      sink(parsed.drop("_raw"), out, cfg)
    } finally if (keepRaw) parsed.unpersist()
  }

  /** bucket → sink exchange → sort → first row per D1 key → partitioned
    * parquet, one job chain; the counters ride the write. */
  private def sink(parsed: DataFrame, out: String,
      cfg: EtlConfig): TransformStats = {
    val parts = partitionFormats(cfg)
    val partCols = parts.map(_._1)
    def partValues(t: Column) = parts.map { case (name, fmt) =>
      date_format(localClock(cfg, t), fmt).as(name)
    }

    // The sink key: the output partition values of the row's WINDOW, plus
    // a bounded RequestID salt, both functions of the D1 key (RequestID,
    // agg_ts) and hashed straight from expressions (no shuffled key
    // columns). Partition values alone would route a hot hour — guaranteed
    // by diurnal log traffic — to ONE reducer task regardless of cluster
    // size (maxRecordsPerFile bounds file size, not task size). The salt
    // fans each output partition over ≤ sinkSaltBuckets tasks; RequestID
    // is effectively uniform, so the fan-out is even.
    //
    // AQE interaction: coalescePartitions can merge salted sub-splits
    // back together when they are SMALL — at production sizes a hot
    // hour is hundreds of GB, so its sinkSaltBuckets sub-splits each
    // dwarf advisoryPartitionSizeInBytes (64 MB default) and the
    // fan-out survives; a KB-scale test corpus must pin BOTH
    // advisoryPartitionSizeInBytes AND coalescePartitions
    // .minPartitionSize down (the 1 MB minPartitionSize floor alone
    // re-collapses tiny shuffles to one task — see the EtlSpec salt
    // test). Cost side: salting multiplies files-per-partition by up
    // to sinkSaltBuckets (one file per reducer per partition dir),
    // bounded and compactable (graft.etl.Compact).
    val salt =
      if (cfg.sinkSaltBuckets > 1)
        Seq(pmod(hash(col("RequestID")), lit(cfg.sinkSaltBuckets)))
      else Nil

    // W1 at the sink: reference-shaped physical schema — real ExtraFieldN
    // columns instead of the overflow array (s3logs/src/utils.rs:1217-1222)
    // so Athena/Hive-style readers see the reference's widened contract.
    // The width must be known before the write, so it is one cheap agg
    // over this run's well-formed lines (a superset of the kept rows:
    // it never narrows below the data).
    val extraCols =
      if (!cfg.widenedSink) 0
      else {
        val derived = parsed.filter(col("ts").isNotNull)
          .agg(coalesce(max(size(col("ExtraFields"))), lit(0)))
          .head.getInt(0)
        // a pinned width narrower than the data would silently drop
        // overflow fields at the sink — refuse loudly instead
        if (cfg.widenedSinkCols > 0)
          require(derived <= cfg.widenedSinkCols,
            s"widenedSinkCols=${cfg.widenedSinkCols} but this batch has " +
              s"rows with $derived overflow fields — raise the pinned width")
        math.max(cfg.widenedSinkCols, derived)
      }

    // Both counters sit after the exchange, in the write job's result
    // stage, where Spark applies each task's update exactly once.
    val inObs = Observation("etl_in")
    val outObs = Observation("etl_out")
    // T1's sort exists in the reference to enable its streaming split +
    // first-wins dedup; post-shuffle we sort within partitions only (no
    // global exchange). The partition columns lead, so the writer's
    // required ordering holds and Spark adds no sort of its own; agg_ts
    // next keeps every window contiguous even where the local clock
    // repeats an hour (a DST fall-back); ts last makes the kept row the
    // earliest of its key and time-clusters the parquet row groups for
    // downstream range pruning. With a fixed offset agg_ts is monotone
    // in ts, so this is the (partition, ts) order.
    val sorted = bucket(parsed, cfg)
      .repartition(partValues(timestamp_seconds(col("agg_ts"))) ++ salt: _*)
      .observe(inObs, count(lit(1)).as("lines"),
        count_if(col("ts").isNull).as("malformed"))
      .filter(col("ts").isNotNull)
      .select(col("*") +: partValues(col("ts")): _*)
      .sortWithinPartitions((partCols :+ "agg_ts" :+ "ts").map(col): _*)
    // D1: the first row per (RequestID, agg_ts) of the sorted rows
    val deduped =
      if (!cfg.dedup) sorted
      else sorted.filter(call_function(
        graft.functions.FirstInWindowExpr.functionName,
        col("RequestID"), col("agg_ts")))
    val rows = deduped
      .observe(outObs, count(lit(1)).as("rows"))
      .drop("ts", "agg_ts")
    val sinkShaped =
      if (cfg.widenedSink) AccessLogSchema.widened(rows, extraCols) else rows
    sinkShaped.write.mode(SaveMode.Append)
      .option("compression", cfg.compression)
      .option("parquet.writer.version", cfg.parquetWriterVersion)
      .option("parquet.block.size", cfg.parquetBlockSize)
      .option("maxRecordsPerFile", cfg.maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(out)

    val seen = inObs.get
    val lines = seen("lines").asInstanceOf[Long]
    val malformed = seen("malformed").asInstanceOf[Long]
    val outputRows = outObs.get("rows").asInstanceOf[Long]
    TransformStats(
      inputLines = lines, malformedLines = malformed,
      dedupedLines = lines - malformed - outputRows,
      outputRows = outputRows)
  }
}
