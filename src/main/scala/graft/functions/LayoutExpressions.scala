package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression for multi-dimensional layout keys.
  *
  * `MortonCode(x, y)` interleaves the low 31 bits of two non-negative
  * longs into a 62-bit Z-order (Morton) key: bit i of `x` lands at
  * output bit 2i, bit i of `y` at 2i+1. Sorting by the key clusters
  * rows that are close in BOTH dimensions, so parquet row-group
  * min/max statistics become tight boxes in (x, y) space and a 2-D
  * range predicate prunes row groups on either axis — the data-skipping
  * property a single-column sort only has for its leading column.
  *
  * Pure bit arithmetic (five mask-shift rounds per operand — the
  * standard magic-number bit spreading), fully codegen'd, no
  * allocation. Inputs are expected already scaled to [0, 2^31); the
  * caller (e.g. [[graft.jobs.Sinks.zorderedLayout]]) owns the range
  * scaling because min/max are a property of the dataset, not the row.
  *
  * The key is layout-only: it orders rows on disk and never appears in
  * query results, so cross-engine oracle hashing is unaffected.
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  @inline private def spread(v0: Long): Long = {
    var v = v0 & 0x7fffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    spread(a.asInstanceOf[Long]) | (spread(b.asInstanceOf[Long]) << 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for the same method-scope reason as DotProduct: two
      // morton2 calls in one codegen span must not redeclare locals
      val xa = ctx.freshName("mortonA")
      val xb = ctx.freshName("mortonB")
      def rounds(v: String): String =
        s"""
           |$v &= 0x7fffffffL;
           |$v = ($v | ($v << 16)) & 0x0000ffff0000ffffL;
           |$v = ($v | ($v << 8)) & 0x00ff00ff00ff00ffL;
           |$v = ($v | ($v << 4)) & 0x0f0f0f0f0f0f0f0fL;
           |$v = ($v | ($v << 2)) & 0x3333333333333333L;
           |$v = ($v | ($v << 1)) & 0x5555555555555555L;
         """.stripMargin
      s"""
         |long $xa = $a;
         |long $xb = $b;
         |${rounds(xa)}
         |${rounds(xb)}
         |${ev.value} = $xa | ($xb << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
