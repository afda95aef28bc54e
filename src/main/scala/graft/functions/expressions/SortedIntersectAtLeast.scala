package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

/** Set-overlap verify step: `|L ∩ R|` of two pre-sorted, distinct long
  * arrays (token sets collapsed to xxhash64 — integer compares over
  * compact arrays instead of string compares over fat ones; a collision
  * at ~2^-64 per pair is the standard trade in production dedup), in
  * one merge scan, O(|L| + |R|).
  *
  * Positional early exit (PPJoin-style): the caller's predicate needs
  * `inter >= fracLeft·|L| + fracRight·|R|`; once even matching EVERY
  * remaining element can't reach that, the scan aborts and returns -1,
  * which makes the caller's computed similarity negative — below any
  * positive threshold, so pruned pairs self-filter with no extra
  * predicate. The bound covers both set-similarity joins:
  *  - Jaccard `inter / (|L|+|R|-inter) >= t` is exactly
  *    `inter >= t/(1+t)·(|L|+|R|)`: both fractions `t/(1+t)`;
  *  - containment of the left set `inter / |L| >= t`: `(t, 0)`;
  *  - `(0, 0)` never aborts — the plain intersection count.
  * The abort margin is 0.5 absolute: counts are integers and fp error
  * here is < 1e-6, so the margin can only FORGO pruning near the
  * boundary, never prune a true qualifier (the caller's final
  * similarity filter stays the decider).
  *
  * REAL codegen (`doGenCode`), not `CodegenFallback`: the merge loop
  * runs on 10^8-10^9 candidate pairs in a blocked similarity join, and
  * interpreted ArrayData eval with boxing was the dominant per-pair
  * constant.
  */
case class SortedIntersectAtLeast(left: Expression, right: Expression,
                                  fracLeft: Double, fracRight: Double)
    extends BinaryExpression {

  // the fractions are spliced into generated Java source as literals;
  // a non-finite value would make codegen emit non-compiling (or
  // eval-divergent) source, so reject it before either path runs
  require(java.lang.Double.isFinite(fracLeft) &&
    java.lang.Double.isFinite(fracRight),
    s"fractions must be finite, got ($fracLeft, $fracRight)")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_at_least"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var cnt = 0
    val na = a.numElements(); val nb = b.numElements()
    val need = fracLeft * na + fracRight * nb - 0.5
    while (i < na && j < nb) {
      val rem = math.min(na - i, nb - j)
      if (cnt + rem < need) { cnt = -1; i = na }
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { cnt += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt"); val rem = ctx.freshName("rem")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val need = ctx.freshName("need")
      s"""
         |int $i = 0, $j = 0, $cnt = 0;
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |final double $need = ($fracLeft) * $na + ($fracRight) * $nb - 0.5;
         |while ($i < $na && $j < $nb) {
         |  final int $rem = ($na - $i < $nb - $j) ? ($na - $i) : ($nb - $j);
         |  if ($cnt + $rem < $need) {
         |    $cnt = -1; break;
         |  }
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  if ($x == $y) { $cnt++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectAtLeast =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectAtLeast {
  /** Column wrapper: merge-scan `|a ∩ b|` of sorted distinct long
    * arrays, -1 once `fracLeft·|a| + fracRight·|b|` is unreachable. */
  def sortedIntersectAtLeast(a: Column, b: Column,
                             fracLeft: Double, fracRight: Double): Column =
    toColumn(SortedIntersectAtLeast(toExpression(a), toExpression(b),
      fracLeft, fracRight))
}
