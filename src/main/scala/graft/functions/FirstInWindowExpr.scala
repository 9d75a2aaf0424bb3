package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  ExpressionInfo, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** D1 as a streaming predicate: `graft_first_in_window(key, window) ->
  * boolean` is true for the first row of each (key, window) its partition
  * sees, the reference's first-wins dedup over time-sorted rows that
  * clears its RequestID set at every `aggregate_second` bound
  * (s3logs/src/utils.rs:1034-1045). A null key counts as one key, a null
  * window as one window, exactly like `dropDuplicates(key, window)`.
  *
  * Contract: each partition's rows arrive clustered by window (all rows of
  * one window contiguous). A window that shows up again after a later one
  * throws `IllegalStateException` rather than keep a second "first" row.
  *
  * `Nondeterministic` because the answer depends on the rows before it:
  * Catalyst then never pushes the predicate below the sort that gives it
  * its order, nor merges or reorders it. The per-partition state lives in
  * [[FirstInWindowState]], shared by the interpreted `eval` and the
  * generated code.
  */
case class FirstInWindowExpr(key: Expression, window: Expression)
    extends BinaryExpression with Nondeterministic {

  override def left: Expression = key
  override def right: Expression = window
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = FirstInWindowExpr.functionName

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == StringType && window.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes (string, bigint), got " +
        s"(${key.dataType.sql}, ${window.dataType.sql})")

  @transient private[this] var state: FirstInWindowState = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    state = new FirstInWindowState

  override protected def evalInternal(input: InternalRow): Any = {
    val w = window.eval(input)
    state.first(key.eval(input).asInstanceOf[UTF8String], w == null,
      if (w == null) 0L else w.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[FirstInWindowState].getName
    val state = ctx.addMutableState(cls, "firstInWindow")
    ctx.addPartitionInitializationStatement(s"$state = new $cls();")
    val k = key.genCode(ctx)
    val w = window.genCode(ctx)
    ev.copy(code = code"""
      ${k.code}
      ${w.code}
      boolean ${ev.value} = $state.first(${k.isNull} ? null : ${k.value},
        ${w.isNull}, ${w.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstInWindowExpr =
    copy(key = newLeft, window = newRight)
}

/** One partition's D1 state: the current window, the keys seen in it
  * (copied out of the row buffer) and the windows that already ended. */
final class FirstInWindowState {
  private[this] val keys = new java.util.HashSet[UTF8String]()
  private[this] val ended = new java.util.HashSet[java.lang.Long]()
  private[this] var started = false
  private[this] var nullWindow = false
  private[this] var current = 0L
  private[this] var nullKeySeen = false

  def first(key: UTF8String, windowIsNull: Boolean, window: Long): Boolean = {
    if (!started || windowIsNull != nullWindow ||
        (!windowIsNull && window != current)) advance(windowIsNull, window)
    if (key == null) { val f = !nullKeySeen; nullKeySeen = true; f }
    else if (keys.contains(key)) false
    else { keys.add(key.clone()); true }
  }

  private def advance(windowIsNull: Boolean, window: Long): Unit = {
    def boxed(isNull: Boolean, w: Long) =
      if (isNull) null else java.lang.Long.valueOf(w)
    if (started) ended.add(boxed(nullWindow, current))
    if (ended.contains(boxed(windowIsNull, window)))
      throw new IllegalStateException(
        s"${FirstInWindowExpr.functionName}: window " +
          s"${boxed(windowIsNull, window)} reappeared after a later window; " +
          "rows must arrive clustered by window")
    started = true
    nullWindow = windowIsNull
    current = window
    keys.clear()
    nullKeySeen = false
  }
}

object FirstInWindowExpr {

  val functionName = "graft_first_in_window"

  /** SparkSessionExtensions hook: `builder.withExtensions(FirstInWindowExpr.register)`. */
  def register(ext: SparkSessionExtensions): Unit =
    ext.injectFunction((
      FunctionIdentifier(functionName),
      new ExpressionInfo(classOf[FirstInWindowExpr].getName, functionName),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"$functionName expects exactly 2 arguments, got ${children.length}")
        FirstInWindowExpr(children(0), children(1))
      }))
}
