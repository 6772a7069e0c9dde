package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression for the full minhash signature — the
  * fused form of `numPerm` × (`zip_with` + `array_min`) over the two
  * base-hash arrays: ONE pass over the elements, all permutation
  * minima held in a register array, no intermediate array allocations,
  * full whole-stage codegen.
  *
  * Semantics (pinned, spec-tested bit-for-bit against the HOF form):
  * permutation p of element i is Kirsch-Mitzenmacher double hashing
  * `(h1ᵢ + p·h2ᵢ) mod ring` with non-negative (floorMod == pmod)
  * residues, evaluated incrementally as repeated `+h2` with a
  * conditional `−ring` — exact, no multiply, no overflow for any
  * ring ≤ 2^62. Output: array<long> of length `numPerm`. NULL when the
  * arrays differ in length, are empty, or contain a null element
  * (fail-visible, same contract as CosineSimilarityExpr).
  */
case class MinhashSignatureExpr(left: Expression, right: Expression,
    numPerm: Int, ring: Long)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return null
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val h1 = java.lang.Math.floorMod(a.getLong(i), ring)
      val h2 = java.lang.Math.floorMod(b.getLong(i), ring)
      var v = h1
      var p = 0
      while (p < numPerm) {
        if (v < mins(p)) mins(p) = v
        v += h2
        if (v >= ring) v -= ring
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val p = ctx.freshName("p"); val mins = ctx.freshName("mins")
      val h1 = ctx.freshName("h1"); val h2 = ctx.freshName("h2")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements() || $n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  final long[] $mins = new long[$numPerm];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final long $h1 = java.lang.Math.floorMod($a.getLong($i), ${ring}L);
         |    final long $h2 = java.lang.Math.floorMod($b.getLong($i), ${ring}L);
         |    long $v = $h1;
         |    for (int $p = 0; $p < $numPerm; $p++) {
         |      if ($v < $mins[$p]) $mins[$p] = $v;
         |      $v += $h2;
         |      if ($v >= ${ring}L) $v -= ${ring}L;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinhashExpressions {
  /** The fused minhash signature Column (`graft_minhash`, see
    * [[Native]]; `numPerm` and `ring` travel as literal arguments).
    */
  def minhashFast(spark: SparkSession)(h1: Column, h2: Column,
      numPerm: Int, ring: Long): Column =
    Native.call(spark, "graft_minhash", h1, h2, lit(numPerm), lit(ring))
}
