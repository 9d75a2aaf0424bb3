package graft.etl

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line tokenizer for S3 server access logs (SURVEY §2.1 P1–P4, F1, W2).
  *
  * Semantics match the reference's PCRE2 field extractor
  * (s3logs/src/utils.rs:42,273-291): a line is a space-separated field
  * list where a field is (a) a `"..."`-quoted string (quotes stripped,
  * inner spaces kept), (b) a `[...]`-bracketed string (brackets stripped —
  * only the timestamp uses this), or (c) a bare token. `-` is the S3 null
  * marker and passes through verbatim.
  *
  * Implementation is a hand-rolled single-pass scanner rather than a
  * regex: on the JVM this is ~5× faster than java.util.regex alternation
  * and has no pathological backtracking. [[parse]] runs it through the
  * native codegen expression `graft_tokenize`
  * ([[graft.functions.ParseS3LogExpr]]), which every GraftSession
  * registers, so the whole parse stays in whole-stage codegen.
  */
object AccessLogParser {

  /** Split one log line into fields. Pure, total: malformed trailing
    * quotes/brackets just consume to end-of-line (same recovery as the
    * reference regex, which would simply not match the tail). */
  def tokenize(line: String): Array[String] = {
    val out = new ArrayBuffer[String](AccessLogSchema.width + 2)
    val n = line.length
    var i = 0
    while (i < n) {
      val c = line.charAt(i)
      if (c == ' ') { i += 1 }
      else if (c == '"') {
        val end = line.indexOf('"', i + 1)
        val stop = if (end < 0) n else end
        out += line.substring(i + 1, stop)
        i = stop + 1
      } else if (c == '[') {
        val end = line.indexOf(']', i + 1)
        val stop = if (end < 0) n else end
        out += line.substring(i + 1, stop)
        i = stop + 1
      } else {
        var j = i + 1
        while (j < n && line.charAt(j) != ' ') j += 1
        out += line.substring(i, j)
        i = j
      }
    }
    out.toArray
  }

  /** Parse a one-column DataFrame of raw lines (column `value`, as
    * produced by `spark.read.text`) into the 26-column string table plus
    * the ExtraFields overflow array (W1) with short rows null-filled (W2).
    *
    * Rows whose Time field fails to parse are DROPPED (F1 malformed-line
    * filter, reference s3logs/src/utils.rs:596-602) when `dropMalformed`;
    * pass false to keep them (ts null) for quarantine-style handling.
    */
  def parse(lines: DataFrame, dropMalformed: Boolean = true,
      keepRaw: Boolean = false): DataFrame = {
    val w = AccessLogSchema.width
    val withFields = lines
      .withColumn("_f", call_function(
        graft.functions.ParseS3LogExpr.functionName, col("value")))
    // try_element_at is 1-based and yields null past the end → W2
    // null-fill happens for free (ANSI-safe, unlike element_at which
    // throws under Spark 4's default ANSI mode); fields beyond 26 slice
    // into the overflow array.
    val rawCol: Seq[Column] = if (keepRaw) Seq(col("value").as("_raw")) else Nil
    val cols: Seq[Column] = rawCol ++
      AccessLogSchema.fieldNames.zipWithIndex.map { case (name, i) =>
        try_element_at(col("_f"), lit(i + 1)).as(name)
      } :+
        when(size(col("_f")) > w, slice(col("_f"), w + 1, 1000))
          .otherwise(array().cast("array<string>")).as("ExtraFields")
    val parsed = withFields
      // try_to_timestamp: malformed Time → null (PERMISSIVE), not an
      // ANSI runtime error — F1 then filters the nulls out.
      .select(cols :+ try_to_timestamp(col("Time"),
        lit(AccessLogSchema.timeFormat)).as("ts"): _*)
    if (dropMalformed) parsed.filter(col("ts").isNotNull) else parsed
  }
}
