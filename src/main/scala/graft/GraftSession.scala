package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine.
  *
  * Local mode is a single JVM; shuffle partitions are sized to the core
  * count instead of the 200 default (SURVEY.md §4 "parallelism").
  * AQE stays on so skewed shuffles re-plan at runtime — the behaviour we
  * rely on at cluster scale. Session-artifact isolation is off, so a
  * cloned session (a streaming query, a scoped-conf materialization)
  * reuses the classes its parent already compiled instead of generating
  * them again under a classloader of its own.
  */
object GraftSession {
  /** Default core count: env override, else the machine's actual cores
    * (capped at 32) — local[32] on a smaller box oversubscribes the CPU
    * and skews bench numbers (ADVICE r01). */
  def defaultCores: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  /** `extraConf` lets a caller (Probe's A/B conf variants) layer config keys
    * on TOP of the canonical session instead of copy-pasting the builder
    * — the extension and config list lives here and only here. */
  def local(
      cores: String = defaultCores,
      appName: String = "graft",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      // Engine extensions: native codegen functions (graft_tokenize,
      // graft_text_signature, graft_dot, graft_eq_count, graft_rollhash,
      // graft_rep_concentration, graft_ngram_fps, graft_ngrams,
      // graft_hashed_feats, graft_quality_stats, graft_first_in_window).
      .withExtensions(graft.functions.ParseS3LogExpr.register)
      .withExtensions(graft.functions.FirstInWindowExpr.register)
      .withExtensions(graft.functions.TextSignatureExpr.register)
      .withExtensions(graft.functions.DotProductExpr.register)
      .withExtensions(graft.functions.EqCountExpr.register)
      .withExtensions(graft.functions.RollingHashExpr.register)
      .withExtensions(graft.functions.RepConcentrationExpr.register)
      .withExtensions(graft.functions.NgramFpsExpr.register)
      .withExtensions(graft.functions.NgramsExpr.register)
      .withExtensions(graft.functions.HashedFeatsExpr.register)
      .withExtensions(graft.functions.QualityStatsExpr.register)
      .withExtensions(graft.functions.WinnowExpr.register)
      .withExtensions(graft.functions.CharEntropyExpr.register)
      .withExtensions(graft.functions.TermCountsExpr.register)
      .withExtensions(graft.functions.TopKAgg.register)
      .withExtensions(graft.functions.BucketAgg.register)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      // NOTE: the ObjectHashAggregate sort-based fallback threshold is
      // deliberately NOT raised session-wide: it would govern EVERY
      // ObjectHashAggregateExec (collect_list/collect_set included),
      // holding up to that many in-memory group buffers regardless of
      // per-group state size (ADVICE r16). The one operator that needs
      // it — s14's graft_topk, whose buffers are a bounded k·16 bytes —
      // materializes under a private cloned session carrying the raise
      // (QueryConf.materializeWithConf, EmbeddingQueries.knnGraph) so
      // the shared session conf is never touched.
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet TIMESTAMP(NANOS) (the events table) is otherwise rejected
      // by Spark 4; read as long and convert in Tables().
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // One code cache for every cloned session. Spark caches compiled
      // classes by (classloader, source); with session-artifact isolation
      // on, each clone (every streaming query start, every
      // QueryConf.materializeWithConf scope) gets its own artifact
      // classloader and recompiles byte-identical generated code (16
      // classes for a warm drain in CodegenCacheSpec). Isolation exists to
      // keep one user's added jars and classes away from another's (Spark
      // Connect); this engine adds no artifacts, so every session shares
      // the one loader. Spark Connect, or jars added per session, would
      // need it back on.
      .config("spark.sql.artifact.isolation.enabled", "false")
    // `file://` goes through the in-process local FS (graft.LocalFs)
    val spark = (LocalFs.conf ++ extraConf).foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Test-table loader: one parquet file per table under a scale-factor dir
  * (TESTDATA.md). Kept as plain `read.parquet` so filter/projection
  * pushdown reaches the scan.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // With nanosAsLong the events.ts column arrives as nano-epoch long;
    // convert to Spark's native microsecond TimestampType (truncating,
    // which matches DuckDB's epoch()-based bucketing at second grain).
    // Keyed on the table NAME so a future table with a genuine long `ts`
    // column is not silently mis-converted (ADVICE r01).
    df.schema.find(_.name == "ts") match {
      case Some(f) if name == "events" &&
          f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  }
}
