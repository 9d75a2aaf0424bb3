package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.etl._

/** Unit + end-to-end coverage of the ETL surface (SURVEY §2.1). */
class EtlSpec extends SparkSpec {

  // ---- P1 tokenizer unit semantics --------------------------------------

  test("tokenize: bare, quoted, bracketed fields") {
    val line = """owner bucket [06/Feb/2019:00:00:38 +0000] 1.2.3.4 "GET /k HTTP/1.1" -"""
    val f = AccessLogParser.tokenize(line)
    assert(f.toSeq == Seq("owner", "bucket", "06/Feb/2019:00:00:38 +0000",
      "1.2.3.4", "GET /k HTTP/1.1", "-"))
  }

  test("tokenize: quotes with inner spaces and empty quoted field") {
    val f = AccessLogParser.tokenize("""a "b c d" "" e""")
    assert(f.toSeq == Seq("a", "b c d", "", "e"))
  }

  test("tokenize: unterminated quote consumes to EOL") {
    val f = AccessLogParser.tokenize("""a "broken tail""")
    assert(f.toSeq == Seq("a", "broken tail"))
  }

  test("tokenize: round-trips every generated entry at full width") {
    LogGen.entries(200, seed = 7).foreach { e =>
      val f = AccessLogParser.tokenize(e.line)
      assert(f.length == AccessLogSchema.width, s"width for: ${e.line}")
      assert(f(1) == e.bucket && f(5) == e.requestId && f(6) == e.operation)
      assert(f(16) == e.agent) // UserAgent with spaces survives quoting
    }
  }

  test("tokenize: overflow fields appear after the 26 base fields (W1)") {
    val e = LogGen.entries(50, seed = 8, extraFrac = 1.0).head
    val f = AccessLogParser.tokenize(e.line)
    assert(f.length == AccessLogSchema.width + 2)
    assert(f.takeRight(2).toSeq == Seq("extraA", "extraB"))
  }

  // ---- parse() DataFrame semantics (F1, W1, W2, P2) ---------------------

  test("parse: malformed lines dropped, ts parsed, overflow captured") {
    import spark.implicits._
    val good = LogGen.lines(100, seed = 9, extraFrac = 0.3)
    val bad = Seq("not a log line at all", "a b [not-a-time] c")
    // the native tokenizer, never a UDF (repartition keeps the optimizer
    // from folding the local input through the expression)
    val plan = AccessLogParser.parse(good.toDF("value").repartition(2))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_tokenize") && !plan.contains("ScalaUDF"), plan)
    val df = AccessLogParser.parse((good ++ bad).toDF("value")).cache()
    assert(df.count() == 100)
    assert(df.filter($"ts".isNull).count() == 0)
    val extras = df.filter(size($"ExtraFields") > 0).count()
    assert(extras > 0 && extras < 100)
    // W2: a short row null-fills trailing columns
    val short = AccessLogParser.parse(Seq("o b [06/Feb/2019:00:00:38 +0000]").toDF("value"))
    val row = short.select($"BucketOwner", $"RemoteIP", $"AclRequired").head
    assert(row.getString(0) == "o" && row.isNullAt(1) && row.isNullAt(2))
    df.unpersist()
  }

  test("widened projection exposes ExtraFieldN logical columns (W1 parity)") {
    import spark.implicits._
    val df = AccessLogParser.parse(
      LogGen.lines(20, seed = 10, extraFrac = 1.0).toDF("value"))
    val wide = AccessLogSchema.widened(df, 2)
    assert(wide.columns.contains("ExtraField27") && wide.columns.contains("ExtraField28"))
    assert(wide.filter($"ExtraField27" === "extraA").count() == 20)
  }

  test("typedView casts numerics and '-' to null") {
    import spark.implicits._
    val typed = AccessLogSchema.typedView(
      AccessLogParser.parse(LogGen.lines(50, seed = 11).toDF("value")))
    assert(typed.schema("BytesSent").dataType.typeName == "long")
    assert(typed.schema("HTTPStatus").dataType.typeName == "integer")
    assert(typed.filter($"ts".isNull).count() == 0)
  }

  // ---- T2/T3 bucketing --------------------------------------------------

  test("bucket alignment: every ts lands in exactly one 900s bucket") {
    import spark.implicits._
    val df = Transform.pipeline(
      LogGen.lines(500, seed = 12).toDF("value"), EtlConfig(dedup = false))
    val bad = df.filter($"agg_ts" % 900 =!= 0 ||
      unix_timestamp($"ts") < $"agg_ts" ||
      unix_timestamp($"ts") >= $"agg_ts" + 900).count()
    assert(bad == 0)
    assert(df.count() == 500) // M2 conservation
  }

  test("tz-aware bucketing shifts daily boundaries by the fixed offset (T3)") {
    import spark.implicits._
    val cfg = EtlConfig(tzOffsetSeconds = 28800, // UTC+8, DST-less POSIX tz
      staggingSeconds = 86400, aggregateSeconds = 86400)
    val df = Transform.pipeline(
      LogGen.lines(200, seed = 16).toDF("value"), cfg.copy(dedup = false))
    // A UTC+8 day starts at 16:00 UTC: every bucket ≡ -28800 (mod 86400).
    val bad = df.filter(
      pmod($"agg_ts" + 28800, lit(86400)) =!= 0).count()
    assert(bad == 0)
    val inWindow = df.filter(
      unix_timestamp($"ts") < $"agg_ts" ||
        unix_timestamp($"ts") >= $"agg_ts" + 86400).count()
    assert(inWindow == 0)
  }

  test("zone-rule bucketing follows DST transitions — the 25-hour " +
    "fall-back day and the folded repeated hour (T3/r17)") {
    import spark.implicits._
    def epoch(iso: String) = java.time.Instant.parse(iso).getEpochSecond
    // America/New_York 2024-11-03 fall-back: local Nov 3 runs 04:00Z
    // (00:00 EDT) to 05:00Z next day (00:00 EST) — a 25-hour UTC day no
    // fixed offset can produce
    val cfg = EtlConfig(tzZone = Some("America/New_York"),
      staggingSeconds = 86400, aggregateSeconds = 86400)
    val days = Seq(
      "2024-11-03T03:59:00Z" -> "2024-11-02T04:00:00Z", // 23:59 EDT Nov 2
      "2024-11-03T04:00:00Z" -> "2024-11-03T04:00:00Z", // 00:00 EDT Nov 3
      "2024-11-03T05:30:00Z" -> "2024-11-03T04:00:00Z", // 01:30 EDT (1st)
      "2024-11-03T06:30:00Z" -> "2024-11-03T04:00:00Z", // 01:30 EST (2nd)
      "2024-11-04T04:59:00Z" -> "2024-11-03T04:00:00Z", // 23:59 EST Nov 3
      "2024-11-04T05:00:00Z" -> "2024-11-04T05:00:00Z") // 00:00 EST Nov 4
    val got = days.map(_._1).toDF("iso")
      .withColumn("ts", to_timestamp($"iso"))
      .withColumn("b", Transform.bucketTs(cfg, 86400))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    days.foreach { case (iso, bucket) =>
      assert(got(iso) == epoch(bucket),
        s"$iso bucketed at ${got(iso)}, want ${epoch(bucket)} ($bucket)")
    }
    // hourly grain: the repeated local 01:xx hour folds into ONE bucket
    // keyed at the FIRST offset's instant (01:00 EDT = 05:00Z) — the
    // documented java.time ambiguity resolution
    val hours = Seq("2024-11-03T05:30:00Z", "2024-11-03T06:30:00Z")
      .toDF("iso").withColumn("ts", to_timestamp($"iso"))
      .withColumn("b", Transform.bucketTs(cfg, 3600))
      .select($"b").distinct().collect().map(_.getLong(0)).toSeq
    assert(hours == Seq(epoch("2024-11-03T05:00:00Z")), hours)
    // config surface: an IANA zone id parses from the reference's tz
    // env var; a typo refuses loudly instead of bucketing at UTC
    assert(EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "America/New_York"))
      .tzZone.contains("America/New_York"))
    val typo = intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map(
        "S3LOGS_STAGGING_PARTITION_TZIF" -> "America/NewYork"))
    }
    assert(typo.getMessage.contains("IANA"), typo.getMessage)
    // POSIX rule-carrying tz (ADVICE r17): the reference's tzif parser
    // accepts these and uses the STD offset, ignoring the rules — so a
    // reference deployment's value maps to the fixed-offset path here
    // (EST5 = UTC-5, PST8 = UTC-8; zone RULES want the IANA form)
    val posix = EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "EST5EDT,M3.2.0/2,M11.1.0/2"))
    assert(posix.tzOffsetSeconds == -18000 && posix.tzZone.isEmpty, posix)
    val posixHalf = EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "IST-5:30"))
    assert(posixHalf.tzOffsetSeconds == 19800 && posixHalf.tzZone.isEmpty)
    // a std-only POSIX form works too (JST-9 = UTC+9; note rule-LESS
    // names that happen to be IANA ids, like bare "EST5EDT", stay on
    // the zone-rules branch — strictly better than the reference);
    // a rule suffix on garbage still refuses
    assert(EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "JST-9"))
      .tzOffsetSeconds == 32400)
    assert(EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "EST5EDT"))
      .tzZone.contains("EST5EDT"))
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map(
        "S3LOGS_STAGGING_PARTITION_TZIF" -> "12345,M3.2.0"))
    }
    // POSIX hh is bounded to 24: shape-matching garbage keeps refusing
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map(
        "S3LOGS_STAGGING_PARTITION_TZIF" -> "UTC25"))
    }
    // minutes and seconds are bounded to 59 the same way (ADVICE r18:
    // 'EST5:99' previously mapped to a nonsense offset behind a warning)
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map(
        "S3LOGS_STAGGING_PARTITION_TZIF" -> "EST5:99"))
    }
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map(
        "S3LOGS_STAGGING_PARTITION_TZIF" -> "EST5:00:99"))
    }
    // the :ss field is honored, not silently dropped (ADVICE r18):
    // EST5:30:30 = 5h30m30s west of Greenwich
    assert(EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "EST5:30:30"))
      .tzOffsetSeconds == -(5 * 3600 + 30 * 60 + 30))
    // the zone path leaves the fixed-offset default untouched: same
    // frame, no zone -> pure offset arithmetic
    val fixed = Seq("2024-11-03T06:30:00Z").toDF("iso")
      .withColumn("ts", to_timestamp($"iso"))
      .withColumn("b", Transform.bucketTs(EtlConfig(), 86400))
      .collect().head.getLong(2)
    assert(fixed == epoch("2024-11-03T00:00:00Z"))
  }

  // ---- D1 dedup ---------------------------------------------------------

  test("dedup drops redelivered RequestIDs within a window (D1)") {
    import spark.implicits._
    val lines = LogGen.lines(300, seed = 13, dupFrac = 0.2)
    val n = lines.size
    assert(n > 300)
    val kept = Transform.pipeline(lines.toDF("value"), EtlConfig()).count()
    assert(kept == 300)
    val keptNoDedup =
      Transform.pipeline(lines.toDF("value"), EtlConfig(dedup = false)).count()
    assert(keptNoDedup == n)
  }

  // ---- end-to-end batch run (K1/K3/S4/M2) -------------------------------

  test("batch transform writes hive-partitioned parquet with conservation") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-etl").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val arch = s"$tmp/archive"
    LogGen.lines(1000, seed = 14, dupFrac = 0.1)
      .toDF("value").coalesce(2).write.text(in)
    val stats = Transform.run(spark, Seq(in), out,
      EtlConfig(archiveDir = Some(arch)))
    assert(stats.malformedLines == 0)
    assert(stats.outputRows == 1000)
    assert(stats.inputLines == 1000 + stats.dedupedLines)
    val back = spark.read.parquet(out)
    assert(back.columns.toSet.intersect(Set("year", "month", "day", "hour")).size == 4)
    assert(back.count() == 1000)
    // S4 archive preserves raw lines byte-for-byte
    assert(spark.read.text(arch).count() == stats.inputLines)
    // partition dirs follow the hive layout
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("year=")))
  }

  test("EtlConfig.fromEnv maps the full reference env vocabulary (C1)") {
    val cfg = EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_SECOND" -> "300",
      "S3LOGS_TRANSFORM_AGGREGATE_SECOND" -> "900",
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "UTC+8",
      "S3LOGS_STAGGING_MERGE_ORIG_BUCKETS" -> "true",
      "S3LOGS_TRANSFORM_LOG_DEDUPLICATION" -> "false",
      "S3LOGS_TRANSFORM_JOB_INTERVAL" -> "120",
      "S3LOGS_TRANSFORM_CLEANUP_PROCESSED_LOGS" -> "false",
      "S3LOGS_TRANSFORM_ARCHIVE_ROOT_PATH" -> "/tmp/arch",
      "S3LOGS_TRANSFORM_OUTPUT_PREFIX_FMT" -> "dt=%Y%m%d",
      "S3LOGS_TRANSFORM_PARQUET_COMPRESSION" -> "GZIP",
      "S3LOGS_TRANSFORM_PARQUET_WRITER_VERSION" -> "2.0",
      "S3LOGS_TRANSFORM_PARQUET_MAX_ROW_GROUP_SIZE" -> "1048576",
      "S3LOGS_TRANSFORM_QUARANTINE_ROOT_PATH" -> "/tmp/bad",
      "S3LOGS_TRANSFORM_WIDENED_SCHEMA" -> "true",
      // the reference README's literal (typo'd) key must be honored
      "S3LOGS_TRANSFORM_PARQUET_WRTIER_BULK_LINES" -> "200000",
      // n/a-by-design keys from a real deployment env must not be rejected
      "S3LOGS_STAGGING_ROOT_PATH" -> "/mnt/s3logs/stagging",
      "S3LOGS_FILE_LOCK_TIMEOUT_SECONDS" -> "30"))
    assert(cfg.staggingSeconds == 300 && cfg.aggregateSeconds == 900)
    assert(cfg.tzOffsetSeconds == 28800)
    assert(cfg.mergeOrigBuckets && cfg.compression == "gzip")
    assert(!cfg.dedup && cfg.jobIntervalSeconds == 120)
    assert(cfg.archiveDir.contains("/tmp/arch"))
    assert(!cfg.hourlyPartitions) // dt=... prefix fmt → stream layout
    assert(cfg.parquetWriterVersion == "v2" && cfg.parquetBlockSize == 1048576)
    assert(cfg.quarantineDir.contains("/tmp/bad") && cfg.widenedSink)
    assert(cfg.maxRecordsPerFile == 200000)
    assert(EtlConfig.fromEnv(Map(
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "UTC-5")).tzOffsetSeconds == -18000)
    // archive root is only honored when cleanup stays enabled → no archive
    assert(EtlConfig.fromEnv(Map(
      "S3LOGS_TRANSFORM_ARCHIVE_ROOT_PATH" -> "/tmp/arch")).archiveDir.isEmpty)
    // env-driven default keeps the REFERENCE's 600s in-flight-file gate;
    // programmatic EtlConfig() disables it (no stagging files to guard)
    assert(EtlConfig.fromEnv(Map.empty) ==
      EtlConfig(jobIntervalSeconds = 600))
    assert(EtlConfig().jobIntervalSeconds == 0)
  }

  test("fromEnv accepts EVERY key in the reference README env table (C1)") {
    // The complete vocabulary from the reference README.md:51-79 with its
    // documented defaults — a stock reference deployment's env, dropped in
    // unchanged, must never be rejected. Enumerated key-by-key so a future
    // omission from mappedKeys/passthroughKeys fails here, not in prod.
    val referenceEnv = Map(
      "S3LOGS_STAGGING_ROOT_PATH" -> "/mnt/s3logs/stagging",
      "S3LOGS_STAGGING_PARTITION_SECOND" -> "900",
      "S3LOGS_STAGGING_PARTITION_TZIF" -> "UTC+0",
      "S3LOGS_STAGGING_MERGE_ORIG_BUCKETS" -> "true",
      "S3LOGS_CONFIG_ROOT_PATH" -> "/mnt/s3logs/config",
      "S3LOGS_CONFIG_PARQUET_SCHEMA_FILE" -> "parquet.schema",
      "S3LOGS_CONFIG_PARQUET_WRITER_PROPERTIES_FILE" ->
        "parquet_writer_properties.ini",
      "S3LOGS_TRANSFORM_ARCHIVE_ROOT_PATH" -> "/mnt/s3logs/archive",
      "S3LOGS_TRANSFORM_PARQUET_ROOT_PATH" -> "/mnt/s3logs/parquet",
      "S3LOGS_TRANSFORM_OUTPUT_TARGET_PREFIX" -> "logs/",
      "S3LOGS_TRANSFORM_OUTPUT_PREFIX_FMT" -> "year=%Y/month=%m/day=%d/hour=%H",
      "S3LOGS_TRANSFORM_PARQUET_WRTIER_BULK_LINES" -> "200000",
      "S3LOGS_TRANSFORM_JOB_INTERVAL" -> "600",
      "S3LOGS_TRANSFORM_AGGREGATE_SECOND" -> "900",
      "S3LOGS_TRANSFORM_LOG_DEDUPLICATION" -> "true",
      "S3LOGS_TRANSFORM_CLEANUP_PROCESSED_LOGS" -> "true",
      "S3LOGS_TRANSFORM_CLEANUP_UPLOADED_PARQUET" -> "true",
      "S3LOGS_TRANSFORM_STORAGE_CLASS" -> "STANDARD",
      "S3LOGS_TRANSFORM_MPU_CHUNK_SIZE" -> "5242880",
      "S3LOGS_FILE_BUF_SIZE" -> "104857600",
      "S3LOGS_FILE_LOCK_TIMEOUT_SECONDS" -> "30",
      "S3LOGS_FILE_LOCK_RETRY_WAIT_MS" -> "100",
      "S3LOGS_STAGGING_FILE_DATETIME_FMT" -> "%Y-%m-%d-%H-%M-%S%z",
      "S3LOGS_STAGGING_FILE_SUFFIX" -> ".s3logs",
      "S3LOGS_STAGGING_PROCESSING_SUFFIX" -> ".processing")
    // every key individually and all at once — both must be accepted
    referenceEnv.foreach { case (k, v) => EtlConfig.fromEnv(Map(k -> v)) }
    val cfg = EtlConfig.fromEnv(referenceEnv)
    assert(cfg.staggingSeconds == 900 && cfg.dedup && cfg.hourlyPartitions)
  }

  test("fromEnv names the key and the value of a malformed number or boolean (C1)") {
    val badNum = intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("S3LOGS_TRANSFORM_JOB_INTERVAL" -> "15m"))
    }
    assert(badNum.getMessage.contains("S3LOGS_TRANSFORM_JOB_INTERVAL") &&
      badNum.getMessage.contains("'15m'"), badNum.getMessage)
    val badBool = intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("S3LOGS_TRANSFORM_LOG_DEDUPLICATION" -> "yes"))
    }
    assert(badBool.getMessage.contains("S3LOGS_TRANSFORM_LOG_DEDUPLICATION") &&
      badBool.getMessage.contains("'yes'"), badBool.getMessage)
    // well-formed values still parse, surrounding blanks trimmed
    assert(EtlConfig.fromEnv(Map("S3LOGS_TRANSFORM_JOB_INTERVAL" -> " 15 "))
      .jobIntervalSeconds == 15L)
  }

  test("fromEnv rejects unknown S3LOGS_* keys loudly (C1)") {
    val e = intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("S3LOGS_TRANSFORM_DEDUP" -> "true",
        "PATH" -> "/usr/bin"))
    }
    assert(e.getMessage.contains("S3LOGS_TRANSFORM_DEDUP"))
    intercept[IllegalArgumentException] {
      EtlConfig.fromEnv(Map("S3LOGS_TRANSFORM_PARQUET_WRITER_VERSION" -> "3.0"))
    }
  }

  test("widenedSink writes reference-shaped ExtraFieldN physical columns (W1)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-widen").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    LogGen.lines(80, seed = 18, extraFrac = 0.5).toDF("value").write.text(in)
    val stats = Transform.run(spark, Seq(in), out, EtlConfig(widenedSink = true))
    assert(stats.outputRows == 80)
    val back = spark.read.parquet(out)
    assert(!back.columns.contains("ExtraFields"))
    assert(back.columns.contains("ExtraField27") && back.columns.contains("ExtraField28"))
    assert(back.filter($"ExtraField27" === "extraA").count() > 0)
    // rows without overflow carry nulls in the widened columns (W2 parity)
    assert(back.filter($"ExtraField27".isNull).count() > 0)
    // pinned width: a clean batch (no overflow anywhere) still writes the
    // configured ExtraFieldN columns, so append-mode runs never produce
    // mixed physical schemas in one lake
    val in2 = s"$tmp/in2"; val out2 = s"$tmp/out2"
    LogGen.lines(20, seed = 20).toDF("value").write.text(in2)
    Transform.run(spark, Seq(in2), out2,
      EtlConfig(widenedSink = true, widenedSinkCols = 3))
    val cols2 = spark.read.parquet(out2).columns.toSet
    assert(Set("ExtraField27", "ExtraField28", "ExtraField29").subsetOf(cols2))
    // a pinned width NARROWER than the data must fail loudly, not
    // silently truncate overflow fields
    val in3 = s"$tmp/in3"
    LogGen.lines(20, seed = 21, extraFrac = 1.0).toDF("value").write.text(in3)
    intercept[IllegalArgumentException] {
      Transform.run(spark, Seq(in3), s"$tmp/out3",
        EtlConfig(widenedSink = true, widenedSinkCols = 1))
    }
  }

  test("job-interval age gate skips files modified too recently (F3)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-age").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    LogGen.lines(30, seed = 19).toDF("value").coalesce(1).write.text(in)
    // files written milliseconds ago: a 1-hour quiet gate must skip them
    val gated = Transform.run(spark, Seq(in), s"$out/gated",
      EtlConfig(jobIntervalSeconds = 3600))
    assert(gated.inputLines == 0 && gated.outputRows == 0)
    // disabled gate (the default) processes everything
    val open = Transform.run(spark, Seq(in), s"$out/open", EtlConfig())
    assert(open.inputLines == 30 && open.outputRows == 30)
  }

  test("malformed lines are quarantined raw, not dropped (F1 + badRecords)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-quar").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val quar = s"$tmp/bad"
    val bad = Seq("totally not a log line", "x y [not-a-time] z")
    (LogGen.lines(50, seed = 17) ++ bad).toDF("value").write.text(in)
    val stats = Transform.run(spark, Seq(in), out,
      EtlConfig(quarantineDir = Some(quar)))
    assert(stats.malformedLines == 2 && stats.outputRows == 50)
    val q = spark.read.text(quar).collect().map(_.getString(0)).toSet
    assert(q == bad.toSet)
  }

  test("sink salt fans a hot hour across writer tasks, layout unchanged") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-salt").toString
    val in = s"$tmp/in"
    // the generator's default 600 s spread IS a hot hour: every line
    // lands in one (year,month,day,hour) output partition
    LogGen.lines(2000, seed = 77).toDF("value").coalesce(2).write.text(in)
    // pin BOTH tiny AQE size knobs so the salted shuffle keeps its
    // fan-out at test scale the way real-size partitions would at 100 TB:
    // advisoryPartitionSizeInBytes alone is not enough — coalescing's
    // minPartitionSize floor (default 1 MB, applied with parallelismFirst)
    // still collapses a KB-scale test shuffle to a single reducer
    val advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val minPart = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
    try {
      val salted = Transform.run(spark, Seq(in), s"$tmp/salted",
        EtlConfig(sinkSaltBuckets = 8))
      val unsalted = Transform.run(spark, Seq(in), s"$tmp/unsalted",
        EtlConfig(sinkSaltBuckets = 1))
      def hourDirs(out: String) = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.getName.startsWith("hour=")) Seq(f)
          else f.listFiles.toSeq.filter(_.isDirectory).flatMap(walk)
        walk(new java.io.File(out))
      }
      // (i) layout unchanged: identical single hot-hour hive path, same rows
      val sDirs = hourDirs(s"$tmp/salted"); val uDirs = hourDirs(s"$tmp/unsalted")
      assert(sDirs.size == 1 && uDirs.size == 1)
      assert(sDirs.head.toString.stripPrefix(s"$tmp/salted")
        == uDirs.head.toString.stripPrefix(s"$tmp/unsalted"))
      assert(salted.outputRows == unsalted.outputRows)
      val a = spark.read.parquet(s"$tmp/salted").drop("year", "month", "day", "hour")
      val b = spark.read.parquet(s"$tmp/unsalted").drop("year", "month", "day", "hour")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      // (ii) the hot hour is written by >1 task when salted (one parquet
      // file per reducer task), exactly 1 when the salt is disabled
      def files(d: java.io.File) =
        d.listFiles.count(_.getName.endsWith(".parquet"))
      assert(files(sDirs.head) > 1,
        s"hot hour written by a single task despite salt: ${files(sDirs.head)} file(s)")
      assert(files(uDirs.head) == 1)
    } finally {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", minPart)
    }
  }

  // ---- the fused single-pass sink ----------------------------------------

  /** All nodes of an executed plan, through AQE and its query stages. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case n => n +: n.children.flatMap(planNodes)
    }
  }

  test("default transform is one action with one exchange and no cache; " +
    "row groups are time-clustered") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-fused").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    // four hours of shuffled lines with redeliveries and two malformed
    val bad = Seq("not a log line", "a b [not-a-time] c")
    (LogGen.entries(3000, rangeSec = 4 * 3600, seed = 81, dupFrac = 0.1)
      .map(_.line) ++ bad).toDF("value").repartition(3).write.text(in)
    var stats: TransformStats = null
    val actions = actionsOf { stats = Transform.run(spark, Seq(in), out) }
    assert(actions.size == 1,
      s"expected the write alone, saw: ${actions.map(_._1).mkString(", ")}")
    val nodes = planNodes(actions.head._2)
    assert(SparkSpec.shuffleCount(actions.head._2) == 1,
      s"expected one exchange:\n${actions.head._2}")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      s"a default run caches nothing:\n${actions.head._2}")
    assert(stats.inputLines == 3000 + stats.dedupedLines + 2)
    assert(stats.malformedLines == 2 && stats.outputRows == 3000)
    assert(stats.dedupedLines > 0)
    // T1: within every output file, Time is non-decreasing
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val files = parquetFiles(new java.io.File(out))
    assert(files.size >= 4, s"${files.size} files for four hours")
    files.foreach { f =>
      val times = spark.read.parquet(f.getPath)
        .select(to_timestamp($"Time", AccessLogSchema.timeFormat))
        .collect().map(_.getTimestamp(0).getTime).toSeq
      val inversions = times.zip(times.drop(1)).count { case (a, b) => a > b }
      assert(inversions == 0, s"$inversions rows of $f are out of time order")
    }
  }

  test("fused sink equals Transform.pipeline for a window straddling " +
    "hour dirs and across a DST fall-back, with conservation") {
    sinkMatchesPipeline()
  }

  /** `Transform.run`'s lake equals `Transform.pipeline` (dropDuplicates)
    * for a window straddling hour dirs and across a DST fall-back. */
  private def sinkMatchesPipeline(): Unit = {
    import spark.implicits._
    def epoch(iso: String) = java.time.Instant.parse(iso).getEpochSecond
    val cases = Seq(
      // 7200 s windows: one window spans two hour dirs
      ("straddle", EtlConfig(aggregateSeconds = 7200),
        LogGen.entries(1500, rangeSec = 5 * 3600, seed = 82, dupFrac = 0.15)),
      // America/New_York 2024-11-03: the local 01:xx hour repeats
      ("dst", EtlConfig(tzZone = Some("America/New_York")),
        LogGen.entries(1500, t0 = epoch("2024-11-03T04:30:00Z"),
          rangeSec = 3 * 3600, seed = 83, dupFrac = 0.15)))
    cases.foreach { case (name, cfg, entries) =>
      val tmp = Files.createTempDirectory(s"graft-fused-$name").toString
      val in = s"$tmp/in"; val out = s"$tmp/out"
      val lines = entries.map(_.line).toDF("value")
      lines.repartition(3).write.text(in)
      val stats = Transform.run(spark, Seq(in), out, cfg)
      val zone = cfg.tzZone.getOrElse("UTC")
      val local = from_utc_timestamp($"ts", zone)
      val expected = Transform.pipeline(lines, cfg)
        .withColumn("year", date_format(local, "yyyy").cast("int"))
        .withColumn("month", date_format(local, "MM").cast("int"))
        .withColumn("day", date_format(local, "dd").cast("int"))
        .withColumn("hour", date_format(local, "HH").cast("int"))
        .drop("ts", "agg_ts")
      val lake = spark.read.parquet(out)
        .select(expected.columns.map(col).toSeq: _*)
      // row multisets as JSON: exceptAll over the dedup's first()
      // aggregate trips a Spark 4 attribute-binding error
      def rowsOf(df: org.apache.spark.sql.DataFrame) = df.toJSON.collect().sorted.toSeq
      assert(rowsOf(lake) == rowsOf(expected),
        s"$name: lake differs from Transform.pipeline")
      assert(stats.inputLines == entries.size && stats.malformedLines == 0)
      assert(stats.outputRows == 1500 && lake.count() == 1500, s"$name: $stats")
      assert(stats.inputLines ==
        stats.malformedLines + stats.dedupedLines + stats.outputRows)
    }
  }

  /** `body` with session conf `knobs` set, the previous values restored. */
  private def withKnobs[A](knobs: Map[String, String])(body: => A): A = {
    val before = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("fused sink equals Transform.pipeline under the engine knobs a " +
    "stateful per-partition dedup could break") {
    Seq(
      Map("spark.sql.shuffle.partitions" -> "1"),
      Map("spark.sql.shuffle.partitions" -> "7"),
      Map("spark.sql.adaptive.enabled" -> "false"),
      Map("spark.sql.codegen.wholeStage" -> "false")).foreach { knobs =>
      withClue(s"$knobs: ")(withKnobs(knobs)(sinkMatchesPipeline()))
    }
  }

  test("the write plan is one exchange and one sort, with no aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    val tmp = Files.createTempDirectory("graft-one-sort").toString
    val in = s"$tmp/in"
    LogGen.entries(1000, rangeSec = 3 * 3600, seed = 85, dupFrac = 0.1)
      .map(_.line).toDF("value").repartition(2).write.text(in)
    val actions = actionsOf { Transform.run(spark, Seq(in), s"$tmp/out") }
    assert(actions.size == 1, actions.map(_._1))
    val plan = actions.head._2
    val nodes = planNodes(plan)
    assert(SparkSpec.shuffleCount(plan) == 1, plan)
    assert(nodes.count(_.isInstanceOf[SortExec]) == 1, plan)
    assert(!nodes.exists(n => n.isInstanceOf[SortAggregateExec] ||
      n.isInstanceOf[HashAggregateExec] ||
      n.isInstanceOf[ObjectHashAggregateExec]), plan)
    assert(plan.toString.contains("graft_first_in_window"), plan)
  }

  test("D1 keeps the earliest row per (RequestID, window): one RequestID " +
    "at two times in one window and again in the next") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-first").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    val w0 = 1699999200L // a 900 s window start
    val base = LogGen.entries(200, t0 = w0, rangeSec = 1800, seed = 86)
    val req = base.head.copy(requestId = "REQSAME")
    // the later copy of window w0 comes first in the input and differs
    // in Operation, so the kept row tells which one survived
    val fixture = Seq(
      req.copy(epochSec = w0 + 700, operation = "REST.PUT.OBJECT"),
      req.copy(epochSec = w0 + 100, operation = "REST.GET.OBJECT"),
      req.copy(epochSec = w0 + 900 + 10, operation = "REST.HEAD.OBJECT"))
    (fixture ++ base.tail).map(_.line).toDF("value").repartition(3)
      .write.text(in)
    val stats = Transform.run(spark, Seq(in), out)
    assert(stats.dedupedLines == 1 && stats.outputRows == 201, stats)
    val kept = spark.read.parquet(out).filter($"RequestID" === "REQSAME")
      .select(unix_timestamp(to_timestamp($"Time",
        AccessLogSchema.timeFormat)), $"Operation")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    assert(kept == Seq(w0 + 100 -> "REST.GET.OBJECT",
      (w0 + 910) -> "REST.HEAD.OBJECT"), kept)
    // Transform.pipeline agrees on how many rows each window keeps
    val viaPipeline = Transform.pipeline(
      spark.read.text(in), EtlConfig()).filter($"RequestID" === "REQSAME")
      .groupBy("agg_ts").count().collect().map(_.getLong(1)).toSeq
    assert(viaPipeline == Seq(1L, 1L), viaPipeline)
  }

  test("short lines without a RequestID collapse per window exactly as " +
    "Transform.pipeline collapses them") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-short").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    // valid time, no RequestID field: two windows of 3 and 2 short lines
    val short = Seq(
      "o2 b [14/Nov/2023:22:14:00 +0000]", "o1 b [14/Nov/2023:22:13:20 +0000]",
      "o3 c [14/Nov/2023:22:14:30 +0000]", "o5 b [14/Nov/2023:22:40:00 +0000]",
      "o4 b [14/Nov/2023:22:30:00 +0000]")
    val lines = short ++ LogGen.lines(50, seed = 87)
    lines.toDF("value").repartition(2).write.text(in)
    val stats = Transform.run(spark, Seq(in), out)
    val expected = Transform.pipeline(lines.toDF("value"), EtlConfig())
    val perWindow = (df: org.apache.spark.sql.DataFrame) => df
      .filter($"RequestID".isNull)
      .groupBy(floor(unix_timestamp(to_timestamp($"Time",
        AccessLogSchema.timeFormat)) / 900)).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lake = perWindow(spark.read.parquet(out))
    assert(lake == perWindow(expected) && lake.values.toSeq == Seq(1L, 1L), lake)
    assert(stats.outputRows == 52 && stats.dedupedLines == 3, stats)
    // the kept null-key row of each window is its earliest
    assert(spark.read.parquet(out).filter($"RequestID".isNull)
      .select($"BucketOwner").as[String].collect().sorted.toSeq ==
      Seq("o1", "o4"))
  }

  test("conservation holds on the cached path: archive and quarantine " +
    "both on") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-keepraw").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    val arch = s"$tmp/archive"; val quar = s"$tmp/bad"
    val bad = Seq("totally not a log line", "x y [not-a-time] z")
    val good = LogGen.lines(400, seed = 84, dupFrac = 0.2)
    (good ++ bad).toDF("value").repartition(2).write.text(in)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val stats = Transform.run(spark, Seq(in), out, EtlConfig(
      archiveDir = Some(arch), quarantineDir = Some(quar)))
    assert(stats.inputLines == good.size + 2 && stats.malformedLines == 2)
    assert(stats.outputRows == 400 && spark.read.parquet(out).count() == 400)
    assert(stats.inputLines ==
      stats.malformedLines + stats.dedupedLines + stats.outputRows)
    assert(spark.read.text(arch).count() == stats.inputLines)
    assert(spark.read.text(quar).collect().map(_.getString(0)).toSet == bad.toSet)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "the run must release its parse cache")
  }

  test("merge-orig-buckets collapses the bucket key (A3)") {
    import spark.implicits._
    val df = Transform.pipeline(
      LogGen.lines(50, seed = 15).toDF("value"),
      EtlConfig(mergeOrigBuckets = true))
    assert(df.select("OrigBucket").distinct.collect.map(_.getString(0)).toSeq
      == Seq("ALLBUCKETS"))
  }
}
