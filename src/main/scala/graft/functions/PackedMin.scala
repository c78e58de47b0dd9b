package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  BitwiseAnd, BitwiseOr, Coalesce, Expression, Least, Literal, ShiftLeft,
  ShiftRightUnsigned}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Componentwise MIN over a LONG packing TWO non-negative 31-bit values
  * (hi in bits 32..62, lo in bits 0..30) — the register-payload compactor
  * behind `reachSketch(intRegisters = true)`.
  *
  * Why packing instead of an INT column: Spark's UnsafeRow stores every
  * fixed-width field in an 8-byte slot, so casting a 2^31-range register
  * to INT saves NOTHING on the partial-aggregate shuffle (measured: 0.91x
  * compressed bytes, pure lz4 luck on the zeroed high bytes). Packing two
  * registers per long genuinely halves the aggregate BUFFER row — m/2
  * long columns instead of m — which is what the hop exchange actually
  * carries.
  *
  * The aggregate is a [[DeclarativeAggregate]]: update and merge are the
  * pure bit-expression
  * `(min(a>>>32, b>>>32) << 32) | min(a & 0x7FFFFFFF, b & 0x7FFFFFFF)`,
  * so the whole hop stays in two-phase whole-stage-codegen HashAggregate
  * exactly like the built-in min() it replaces (PlanSpec gates it).
  * Componentwise-min is exact — no packing artifact touches the register
  * values — because both halves are independent non-negative 31-bit
  * lanes: the hi lane's min never borrows from or carries into the lo
  * lane. NULL inputs fold as the neutral element (both lanes at
  * 2^31 − 1, the register-domain maximum). Since each lane only ever
  * lowers, the sum of both unpacked lanes over a row's columns drops
  * exactly when some register did — the test `reachSketch`'s
  * changed-set rule applies to packed rows.
  */
case class PackedMin2(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "packed_min2"

  /** Both 31-bit lanes at their max: the identity of componentwise min. */
  private val neutral = Literal((0x7FFFFFFFL << 32) | 0x7FFFFFFFL)

  private lazy val pmin2 = AttributeReference("pmin2", LongType,
    nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(pmin2)
  override lazy val initialValues: Seq[Expression] = Seq(neutral)

  private def lanesMin(a: Expression, b: Expression): Expression = {
    val hi = ShiftLeft(Least(Seq(
      ShiftRightUnsigned(a, Literal(32)),
      ShiftRightUnsigned(b, Literal(32)))), Literal(32))
    val lo = Least(Seq(
      BitwiseAnd(a, Literal(0x7FFFFFFFL)),
      BitwiseAnd(b, Literal(0x7FFFFFFFL))))
    BitwiseOr(hi, lo)
  }

  override lazy val updateExpressions: Seq[Expression] =
    Seq(lanesMin(pmin2, Coalesce(Seq(child, neutral))))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(lanesMin(pmin2.left, pmin2.right))
  override lazy val evaluateExpression: Expression = pmin2

  override protected def withNewChildInternal(c: Expression): PackedMin2 =
    copy(child = c)
}

object PackedMin2 {
  /** min per 31-bit lane of a two-register packed long. */
  def packedMin2(c: Column): Column =
    Bridge.toColumn(
      PackedMin2(Bridge.toExpression(c)).toAggregateExpression())
}
