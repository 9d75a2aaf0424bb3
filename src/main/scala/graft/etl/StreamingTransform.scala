package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Streaming mode (SURVEY §3.3): the reference's s3logd-stream process —
  * SQS poll loop, per-partition writer tasks, rotation/idle Reason
  * machine, receipts (ST1–ST6) — as ONE Structured Streaming query.
  *
  *   - ST1 notification source        → file source (`readStream.text`),
  *     `maxFilesPerTrigger` ≈ max_sqs_messages batch size — or the REAL
  *     queue-backed DSv2 source ([[graft.sources.QueueSourceProvider]],
  *     [[queueNotificationPipeline]]) with leases, receipts, and
  *     redelivery.
  *   - ST2 event-time partition router → the shuffle implied by the sink's
  *     partitionBy (no hand-rolled channel-per-partition BTreeMap).
  *   - ST4 rotation/idle-close        → trigger interval + maxRecordsPerFile;
  *     idle partitions simply produce no files.
  *   - ST5 late data                  → watermark + append mode; late rows
  *     become extra files in the same partition dir — the reference's own
  *     behavior (output.rs:724-735).
  *   - ST6 receipts/exactly-once      → checkpoint + the parquet sink's
  *     commit log; crash ⇒ source replay ⇒ dropDuplicatesWithinWatermark
  *     restores exactly-once effect (the reference gets at-least-once +
  *     D1 dedup; we get the same contract with no custom code).
  *   - ST7 graceful drain             → `query.stop()` + checkpoint resume.
  */
object StreamingTransform {

  /** The S3 event-notification payload subset the reference deserializes
    * (aws_lambda_events S3EventRecord fields read by s3_event_handler,
    * s3logd/src/main.rs:234-247): event name, region, bucket, key, size. */
  val s3EventSchema: StructType = StructType(Seq(
    StructField("Records", ArrayType(StructType(Seq(
      StructField("eventName", StringType),
      StructField("awsRegion", StringType),
      StructField("s3", StructType(Seq(
        StructField("bucket", StructType(Seq(
          StructField("name", StringType)))),
        StructField("object", StructType(Seq(
          StructField("key", StringType),
          StructField("size", LongType)))))))))))))

  /** F2: only object-creation events trigger processing — every other
    * event type (deletes, restores, replication, test events) is skipped,
    * matching the reference's PUT/MPU gate (s3logd/src/main.rs:241-247,
    * s3log-lambda-aggregator/src/main.rs:44-51). */
  val createdEventNames: Seq[String] =
    Seq("ObjectCreated:Put", "ObjectCreated:CompleteMultipartUpload")

  /** Parse a frame of raw S3 event-notification JSON messages (column
    * `value`, one SQS body per row — batch or streaming) into the created
    * objects to process: (eventName, region, bucket, key, size). Rows
    * that aren't valid event JSON parse to a null Records array and are
    * dropped by the explode, mirroring the reference's warn-and-skip on
    * undeserializable messages. */
  def s3EventKeys(events: DataFrame): DataFrame =
    events
      .select(explode(
        from_json(col("value"), s3EventSchema).getField("Records")).as("r"))
      .select(
        col("r.eventName").as("eventName"),
        col("r.awsRegion").as("region"),
        col("r.s3.bucket.name").as("bucket"),
        col("r.s3.object.key").as("key"),
        col("r.s3.object.size").as("size"))
      .filter(col("eventName").isin(createdEventNames: _*))

  /** Build the streaming pipeline over a landing directory of raw log
    * files. `watermarkDelay` bounds dedup/lateness state exactly where the
    * reference's idle-close threshold bounded open channels (ST4/ST5). */
  def stream(
      spark: SparkSession, landingDir: String, cfg: EtlConfig = EtlConfig(),
      maxFilesPerTrigger: Int = 10, watermarkDelay: String = "10 minutes")
      : DataFrame = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(landingDir)
    val parsed = Transform
      .bucket(AccessLogParser.parse(lines, dropMalformed = true), cfg)
      .withWatermark("ts", watermarkDelay)
    // D1 under redelivery: state is evicted once the watermark passes —
    // the streaming analog of the reference's seen-set reset (ST6 + D1).
    if (cfg.dedup) parsed.dropDuplicatesWithinWatermark("RequestID", "agg_ts")
    else parsed
  }

  /** Shared per-batch body for BOTH ST1 paths: resolve the batch's
    * created objects from a (bucket, key) frame and run the full batch
    * pipeline over them with the staging age gate OFF — a notification
    * fires after the PUT completed, so the gate (a polling guard for
    * files still being written) would skip fresh objects; on the queue
    * path the ack would then DELETE their notifications unprocessed.
    * Driver-side collect of NOTIFICATION records only (the SQS receive
    * shape) — bounded by the per-trigger message cap. */
  private def transformNotifiedObjects(
      spark: SparkSession, keys: org.apache.spark.sql.Dataset[Row],
      outDir: String, resolveKey: (String, String) => String,
      cfg: EtlConfig): Unit = {
    val objs = keys.select("bucket", "key").distinct().collect()
      .map(r => resolveKey(r.getString(0), r.getString(1)))
    if (objs.nonEmpty)
      Transform.run(spark, objs.toSeq, outDir,
        cfg.copy(jobIntervalSeconds = 0))
  }

  /** The reference's whole streaming loop as ONE wired query (s3logd-
    * stream/src/main.rs:263-289 feeding output.rs:737-759): poll
    * notifications → F2 created-object gate → fetch the named objects →
    * batch transform (parse → conform → dedup) → partitioned parquet
    * sink. `foreachBatch` is the poll-loop shape: the notification
    * stream carries WHICH objects to process — a driver-side handful per
    * micro-batch, bounded like the reference's max_sqs_messages — and
    * the object BYTES never enter the stream; each batch's objects go
    * through the full batch pipeline ([[Transform.run]]), so quarantine/
    * archive/stats semantics are identical between the triggered and the
    * scheduled paths. Exactly-once over NOTIFICATIONS comes from the
    * checkpoint (a crash replays the un-committed batch — at-least-once
    * object processing, the reference's contract); line-level dedup is
    * the pipeline's D1 stage.
    *
    * `resolveKey` maps (bucket, key) to a readable path — production maps
    * to s3a://bucket/key; tests map to local fixture files. Call
    * `.trigger(...).start()` on the result.
    *
    * Queue-connector contract (swapping the file source for real SQS —
    * README "Streaming notification source (ST1)"): visibility timeout
    * must exceed trigger interval + batch runtime (s3logd sizes it the
    * same way, s3logd/src/main.rs:29-207); message deletion maps to
    * checkpoint commit, so a crash replays the uncommitted batch —
    * at-least-once, made effectively-once by D1 dedup (the reference
    * deletes each message only after staging completes,
    * s3log-lambda-aggregator/src/main.rs:68-109); undeserializable
    * bodies drop with a warning (null Records → empty explode). */
  def notificationPipeline(
      spark: SparkSession, notifDir: String, outDir: String,
      checkpointDir: String, resolveKey: (String, String) => String,
      cfg: EtlConfig = EtlConfig(hourlyPartitions = false),
      maxFilesPerTrigger: Int = 10): DataStreamWriter[Row] = {
    val notifs = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(notifDir)
    s3EventKeys(notifs).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        transformNotifiedObjects(spark, batch, outDir, resolveKey, cfg)
      }
  }

  /** [[notificationPipeline]] fed by a REAL queue instead of the file
    * source: notifications arrive through the `graft-queue` DSv2 source
    * ([[graft.sources.QueueSourceProvider]]), so the receipts contract
    * runs for real. Each micro-batch acks its messages — EVERY message:
    * processed, event-gated, and undeserializable alike — only AFTER its
    * transform lands, the reference's delete-after-staging order
    * (s3log-lambda-aggregator/src/main.rs:68-109); a crash before the
    * ack leaves the messages leased and the queue redelivers after the
    * visibility timeout (at-least-once, s3logd/src/main.rs:29-207;
    * effectively-once behind the pipeline's dedup). Register the queue
    * implementation under `queueName` in
    * [[graft.sources.QueueRegistry]] first; the bodies are S3 event
    * JSON, gated and fetched exactly like the file-source path. */
  def queueNotificationPipeline(
      spark: SparkSession, queueName: String, outDir: String,
      checkpointDir: String, resolveKey: (String, String) => String,
      cfg: EtlConfig = EtlConfig(hourlyPartitions = false),
      maxMessagesPerTrigger: Int = 10,
      maxReceives: Int = 5): DataStreamWriter[Row] = {
    spark.readStream
      .format("graft-queue")
      .option("queue", queueName)
      .option("maxMessagesPerTrigger", maxMessagesPerTrigger)
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val rows = batch
          .select("body", "receipt_handle", "receive_count", "message_id")
          .collect()
        // poison-message guard (the reference's maxReceiveCount/DLQ
        // shape): a message that keeps crashing its batch — object
        // deleted before processing, unreadable path — would otherwise
        // crash-loop the query forever (fail → leases redeliver → fail
        // identically). After maxReceives deliveries it is written to
        // <checkpoint>/deadletter/<message_id>.json and acked instead
        // of processed.
        val (poison, fresh) = rows.partition(_.getInt(2) > maxReceives)
        poison.foreach { r =>
          System.err.println(s"[graft-queue] dead-lettering message " +
            s"${r.getString(3)} after ${r.getInt(2)} deliveries")
          deadLetter(spark, checkpointDir, r.getString(3), r.getString(0))
          graft.streaming.QueueMetrics.of(queueName)
            .deadLettered.incrementAndGet()
        }
        transformNotifiedObjects(spark,
          s3EventKeys(batch.sparkSession.createDataset(
              fresh.map(_.getString(0)).toSeq)(
              org.apache.spark.sql.Encoders.STRING).toDF("value")),
          outDir, resolveKey, cfg)
        // ack AFTER the work landed (fresh) / after dead-lettering
        // (poison): receipt-scoped, so a redelivered message's newer
        // lease survives a stale ack
        graft.sources.QueueRegistry.lookup(queueName)
          .delete(rows.map(_.getString(1)).toSeq)
        ()
      }
  }

  /** Dead-letter store: the message body lands under the query's own
    * checkpoint (Hadoop FS API — works on file://, hdfs://, s3a://), so
    * a poisoned notification is inspectable and replayable instead of
    * silently dropped. */
  private def deadLetter(spark: SparkSession, checkpointDir: String,
      messageId: String, body: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir, "deadletter")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, s"$messageId.json"), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** ST3 passthrough mode: when log objects are themselves named by event
    * date (the reference's event-time key format), the output partition
    * comes from the OBJECT KEY, not from per-line timestamp parsing —
    * partition columns derived from `input_file_name()` never touch row
    * data, mirroring the reference's passthrough gate. Lines are still
    * parsed for the 26 columns; only the partition routing skips the
    * per-line clock. Expects `...YYYYMMDD...` somewhere in the file name. */
  def streamPassthrough(
      spark: SparkSession, landingDir: String, cfg: EtlConfig = EtlConfig(),
      maxFilesPerTrigger: Int = 10): DataFrame = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(landingDir)
    AccessLogParser.parse(lines, dropMalformed = true)
      // anchor to the last path segment — parent dirs may contain digits.
      // A file with NO date in its name must fail the query loudly (the
      // reference's passthrough gate panics on unsupported key formats);
      // silently routing to an empty partition would lose the rows.
      .withColumn("_dt_raw", regexp_extract(input_file_name(), "(\\d{8})[^/]*$", 1))
      .withColumn("dt",
        when(col("_dt_raw") =!= "", col("_dt_raw"))
          .otherwise(raise_error(concat(
            lit("passthrough: no YYYYMMDD in object key "), input_file_name()))))
      .drop("_dt_raw")
  }

  /** Wire the pipeline to a partitioned parquet sink with a checkpoint —
    * call `.start()` on the result. Partition layout matches the stream
    * default `dt=YYYYMMDD` (s3logd-stream/src/output.rs:37). */
  def writer(
      df: DataFrame, outDir: String, checkpointDir: String,
      cfg: EtlConfig = EtlConfig(hourlyPartitions = false),
      triggerMs: Long = 60000L): DataStreamWriter[Row] = {
    // dt on the same local clock (zone rules or fixed offset) as the
    // batch sink's K3 partition values
    val withDt =
      if (df.columns.contains("dt")) df // passthrough already routed it (ST3)
      else df.withColumn("dt",
        date_format(Transform.localClock(cfg, col("ts")), "yyyyMMdd"))
    withDt
      .drop("ts", "agg_ts")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .option("compression", cfg.compression)
      .option("maxRecordsPerFile", cfg.maxRecordsPerFile)
      .partitionBy("dt")
      .trigger(Trigger.ProcessingTime(triggerMs))
  }
}
