package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import graft.audio.Pcm

/** Native codegen expression `pcm_stats(bytes)` → struct of per-payload
  * audio quality metrics (n_samples, peak_abs, rms, dbfs, clip_ratio,
  * silence_ratio, zcr), one fused decode+accumulate pass per row
  * ([[Pcm.statsKernel]]). Same design rationale as [[PcmSnr]]: the decode
  * loop is the hot cost, so it runs once per row inside whole-stage
  * codegen and every quality check reads a struct field from that single
  * pass — N predicates cost one decode, not N.
  *
  * NULL semantics: null INPUT propagates to null (the bytes_not_null
  * check owns missing payloads); a NON-null payload with no decodable
  * samples (empty / a single stray byte) also returns null so the
  * dedicated decodability check can flag exactly those rows.
  */
case class PcmStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pcm_stats expects binary, got ${child.dataType.simpleString}")

  override def dataType: DataType = PcmStats.schema
  override def nullable: Boolean = true
  override def prettyName: String = "pcm_stats"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else PcmStats.row(v.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        InternalRow ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.PcmStats.row(${c.value});
          ${ev.isNull} = ${ev.value} == null;
        }
      """
    ev.copy(code = resultCode)
  }

  override protected def withNewChildInternal(newChild: Expression): PcmStats =
    copy(child = newChild)
}

object PcmStats {

  val schema: StructType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("peak_abs", IntegerType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("dbfs", DoubleType, nullable = false),
    StructField("clip_ratio", DoubleType, nullable = false),
    StructField("silence_ratio", DoubleType, nullable = false),
    StructField("zcr", DoubleType, nullable = false)))

  /** Static bridge called from generated Java: kernel slots → InternalRow
    * with the schema's field types. Returns null for undecodable payloads.
    */
  def row(bytes: Array[Byte]): InternalRow = {
    val a = Pcm.statsKernel(bytes)
    if (a == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](a(0).toLong, a(1).toInt, a(2), a(3), a(4), a(5), a(6)))
  }
}

/** Native codegen expression `pcm_hum(bytes, sr_hz)` → struct(dc_ratio,
  * hum_ratio): recording-chain-fault metrics — signed DC offset share and
  * the Goertzel-measured 50/60 Hz mains-hum energy share
  * ([[Pcm.humKernel]]). Same fused-decode design as [[PcmStats]]; null for
  * null inputs, undecodable payloads, or sample rates below the mains
  * Nyquist margin.
  */
case class PcmHum(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pcm_hum expects (binary, int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = PcmHum.schema
  override def nullable: Boolean = true
  override def prettyName: String = "pcm_hum"

  override def eval(input: InternalRow): Any = {
    val b = left.eval(input)
    val sr = right.eval(input)
    if (b == null || sr == null) null
    else PcmHum.row(b.asInstanceOf[Array[Byte]], sr.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val resultCode =
      code"""
        ${l.code}
        ${r.code}
        boolean ${ev.isNull} = true;
        InternalRow ${ev.value} = null;
        if (!${l.isNull} && !${r.isNull}) {
          ${ev.value} = graft.functions.PcmHum.row(${l.value}, ${r.value});
          ${ev.isNull} = ${ev.value} == null;
        }
      """
    ev.copy(code = resultCode)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PcmHum =
    copy(left = newLeft, right = newRight)
}

object PcmHum {

  val schema: StructType = StructType(Seq(
    StructField("dc_ratio", DoubleType, nullable = false),
    StructField("hum_ratio", DoubleType, nullable = false)))

  /** Static bridge called from generated Java. */
  def row(bytes: Array[Byte], srHz: Int): InternalRow = {
    val a = Pcm.humKernel(bytes, srHz)
    if (a == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](a(0), a(1)))
  }
}
