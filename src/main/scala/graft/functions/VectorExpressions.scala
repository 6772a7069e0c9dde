package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over
  * `array<double>` — the bench-driven upgrade from the higher-order
  * `zip_with`/`aggregate` form (SURVEY §7.4): one fused loop, no
  * intermediate array allocations, full whole-stage codegen. On the
  * all-pairs workload this is ~50× the HOF form (BENCH r1: 109 s → see
  * Similarity.thresholdPairs).
  *
  * On well-formed input (equal lengths, no null elements) semantics
  * match `VectorFunctions.cosine` bit-for-bit, including the
  * divide-by-zero guard and the `sqrt(na)*sqrt(nb)` denominator (NOT
  * `sqrt(na*nb)` — last-ulp parity with the DuckDB oracle formula).
  * Malformed input yields NULL (see contract note below).
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // note: AbstractDataType is private[sql]; Seq[ArrayType] conforms
  // covariantly to the inherited Seq[AbstractDataType] signature.
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  // Malformed input contract (pinned, spec-tested): result is NULL when
  // the arrays differ in length or either contains a null element —
  // fail-visible rather than computing over a silently truncated or
  // zero-filled vector. (The HOF form's behavior on such input is an
  // accident of null propagation through when(); well-formed inputs are
  // bit-identical between the two forms.)
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0) dot / denom else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $x = $a.getDouble($i);
         |    final double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    ${ev.value} = $denom > 0.0 ? $dot / $denom : 0.0;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Plain dot product, same fused-loop/codegen/NULL contract as
  * CosineSimilarityExpr. For SIGN tests (LSH hyperplane routing)
  * sign(dot) == sign(cosine) since norms are positive — so this does
  * the same routing at a third of the arithmetic (no norm loops, no
  * sqrts).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** The codegen'd cosine Column (`graft_cosine`, see [[Native]]). */
  def cosineFast(spark: SparkSession)(a: Column, b: Column): Column =
    Native.call(spark, "graft_cosine", a, b)

  /** The codegen'd dot-product Column (`graft_dot`). */
  def dotFast(spark: SparkSession)(a: Column, b: Column): Column =
    Native.call(spark, "graft_dot", a, b)
}
