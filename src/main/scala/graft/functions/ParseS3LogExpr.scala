package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the S3 access-log tokenizer (SURVEY §4
  * "promote the parser UDF to a codegen Expression"): `graft_tokenize(line)
  * -> array<string>`.
  *
  * Unlike a ScalaUDF this stays inside whole-stage codegen — no
  * encoder round-trip, no lambda dispatch: doGenCode emits a direct static
  * call, so the projection containing it fuses with the surrounding
  * operators exactly like a built-in. The scan loop itself is the
  * quote/bracket-aware scanner AccessLogParser.tokenize.
  */
case class ParseS3LogExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokenize"

  override def nullSafeEval(input: Any): Any =
    ParseS3LogExpr.tokenizeToArrayData(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ParseS3LogExpr.tokenizeToArrayData($c);")

  override protected def withNewChildInternal(newChild: Expression): ParseS3LogExpr =
    copy(child = newChild)
}

object ParseS3LogExpr {

  /** Static entry point referenced from generated code. */
  def tokenizeToArrayData(s: UTF8String): ArrayData = {
    val fields = graft.etl.AccessLogParser.tokenize(s.toString)
    val out = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) { out(i) = UTF8String.fromString(fields(i)); i += 1 }
    new GenericArrayData(out)
  }

  val functionName = "graft_tokenize"

  /** SparkSessionExtensions hook: `builder.withExtensions(ParseS3LogExpr.register)`. */
  def register(ext: SparkSessionExtensions): Unit =
    ext.injectFunction((
      FunctionIdentifier(functionName),
      new ExpressionInfo(classOf[ParseS3LogExpr].getName, functionName),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"$functionName expects exactly 1 argument, got ${children.length}")
        ParseS3LogExpr(children.head)
      }))
}
