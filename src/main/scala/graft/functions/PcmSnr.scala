package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, NullType}
import graft.audio.Pcm

/** Native Catalyst expression for the engine's hottest scalar: decoded-PCM
  * SNR between two binary payloads. Compared to the Scala-UDF form this
  * stays INSIDE whole-stage codegen — no ScalaUDF boxing/closure dispatch —
  * and the generated Java calls one static kernel
  * ([[Pcm.snrDbBytesDirect]]) that fuses decode into the accumulation loop.
  *
  * NULL semantics are deliberately NOT null-propagating: a missing payload
  * is a VIOLATION, not an unknown — the expression always evaluates to a
  * double, −∞ when either side is null (mirrors RowInvariant/Runner
  * semantics where null bytes must count against pcm_allclose).
  */
case class PcmSnr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pcm_snr expects (binary, binary), got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "pcm_snr"

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    Pcm.snrDbBytesDirect(
      if (l == null) null else l.asInstanceOf[Array[Byte]],
      if (r == null) null else r.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val resultCode =
      code"""
        ${l.code}
        ${r.code}
        double ${ev.value} = graft.audio.Pcm.snrDbBytesDirect(
          ${l.isNull} ? null : ${l.value},
          ${r.isNull} ? null : ${r.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PcmSnr =
    copy(left = newLeft, right = newRight)
}

/** Registration hooks: Column forms for the DataFrame API, and one SQL
  * function table (`pcm_snr`, `pcm_stats`, `pcm_hum`)
  * registrable on a live session or injected through
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  /** Column form (classic-mode Expression → Column bridge). */
  def pcmSnr(ref: Column, cand: Column): Column = {
    import org.apache.spark.sql.classic.ColumnConversions.toRichColumn
    org.apache.spark.sql.graft.ExpressionBridge.column(
      PcmSnr(ref.expr, cand.expr))
  }

  /** Column form of `pcm_stats(bytes)` — per-payload audio quality struct. */
  def pcmStats(bytes: Column): Column = {
    import org.apache.spark.sql.classic.ColumnConversions.toRichColumn
    org.apache.spark.sql.graft.ExpressionBridge.column(PcmStats(bytes.expr))
  }

  /** Column wrapper for [[PcmHum]]: `pcm_hum(bytes, sr_hz)`. */
  def pcmHum(bytes: Column, srHz: Column): Column = {
    import org.apache.spark.sql.classic.ColumnConversions.toRichColumn
    org.apache.spark.sql.graft.ExpressionBridge.column(
      PcmHum(bytes.expr, srHz.expr))
  }

  /** The SQL function table, the one source of truth for both
    * registration paths: [[register]] (a live session's registry) and
    * [[GraftExtensions]] (`spark.sql.extensions`) iterate it, so the two
    * can never drift on name or arity. An untyped NULL literal
    * (`pcm_snr(x, NULL)`) arrives as NullType, which the strict BinaryType
    * input checks would reject at analysis; the builders retype it so the
    * documented NULL semantics hold in SQL.
    */
  private[functions] val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    sqlFunction("pcm_snr", classOf[PcmSnr], "pcm_snr(ref_bytes, cand_bytes)", 2)(c =>
      PcmSnr(retypeNullLiteral(c(0)), retypeNullLiteral(c(1)))),
    sqlFunction("pcm_stats", classOf[PcmStats], "pcm_stats(bytes)", 1)(c =>
      PcmStats(retypeNullLiteral(c(0)))),
    sqlFunction("pcm_hum", classOf[PcmHum], "pcm_hum(bytes, sr_hz)", 2)(c =>
      PcmHum(retypeNullLiteral(c(0)), c(1))))

  private def sqlFunction(name: String, cls: Class[_], signature: String, arity: Int)(
      build: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), children => {
      require(children.size == arity,
        s"$signature takes $arity argument${if (arity == 1) "" else "s"}")
      build(children)
    })

  private def retypeNullLiteral(e: Expression): Expression =
    if (e.dataType == NullType) Literal(null, BinaryType) else e

  /** Register the pcm functions in a live session's function registry. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `SparkSessionExtensions` injector — enables
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` on
  * spark-submit so every pcm function is available in pure SQL everywhere.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
}
