package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC normalization — the
  * canonical-composition pass a multilingual corpus needs before ANY
  * string-equality-based operator (exact dedup, shingles, vocabulary
  * counts): "é" arrives from the web both precomposed (U+00E9) and
  * decomposed (e + U+0301), and without normalization those are two
  * different tokens, two different shingles, and two different md5
  * digests. Spark ships no normalization builtin; a Scala UDF would
  * break whole-stage codegen in exactly the hot projections dedup
  * runs, so this is a codegen `UnaryExpression` over the JDK's
  * `java.text.Normalizer` (pure JVM, Unicode-standard NFC — the same
  * algorithm DuckDB's `nfc_normalize` implements, which is what makes
  * the operator oracle-checkable).
  */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression for the per-document top word-n-gram:
  * ONE O(L) hash-map pass over the token array — build each n-gram,
  * count it, keep the (count DESC, gram ASC binary) argmax — returning
  * struct(g: the winning gram, c: its count). Every n-gram of a
  * document originates from ONE input row, so the whole Gopher-style
  * repetition profile is row-local; expressing it as an exploded
  * (doc, n, gram) hash aggregate shuffled raw n-gram STRINGS (27 MB at
  * sf0.1, the suite's largest — ~27 GB at 100×), and the HOF
  * sort+run-length form kept the shuffle at zero but paid ~1.7×
  * wall-clock in interpreted per-element evaluation. This is the
  * (b)-tier fix the build rules prescribe: a fused codegen expression,
  * no sort, no per-element expression-tree dispatch.
  *
  * Tie-break is UTF8String binary compare (== Spark sort order ==
  * DuckDB default collation), making the result oracle-exact; hash-map
  * iteration order cannot leak because the (count, gram) argmax is a
  * total order. NULL on a null/undersized token array or null element
  * (fail-visible, the CosineSimilarityExpr contract).
  */
case class TopGramExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("c", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_topgram"

  override def nullSafeEval(toksAny: Any, nAny: Any): Any = {
    val arr = toksAny.asInstanceOf[ArrayData]
    val n = nAny.asInstanceOf[Int]
    val len = arr.numElements()
    if (n < 1 || len < n) return null
    val sep = UTF8String.fromString(" ")
    val m = new java.util.HashMap[UTF8String, Array[Long]](len * 2)
    val win = new Array[UTF8String](n)
    var i = 0
    while (i + n <= len) {
      var j = 0
      while (j < n) {
        if (arr.isNullAt(i + j)) return null
        win(j) = arr.getUTF8String(i + j)
        j += 1
      }
      val g = if (n == 1) win(0) else UTF8String.concatWs(sep, win: _*)
      val c = m.get(g)
      if (c == null) m.put(g, Array(1L)) else c(0) += 1L
      i += 1
    }
    var best: UTF8String = null
    var bc = 0L
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c > bc || (c == bc && e.getKey.compareTo(best) < 0)) {
        best = e.getKey; bc = c
      }
    }
    new GenericInternalRow(Array[Any](best, bc))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, nv) => {
      val u8 = "org.apache.spark.unsafe.types.UTF8String"
      val len = ctx.freshName("len"); val m = ctx.freshName("m")
      val win = ctx.freshName("win"); val sep = ctx.freshName("sep")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val g = ctx.freshName("g"); val c = ctx.freshName("c")
      val best = ctx.freshName("best"); val bc = ctx.freshName("bc")
      val it = ctx.freshName("it"); val e = ctx.freshName("e")
      val cv = ctx.freshName("cv")
      s"""
         |final int $len = $arr.numElements();
         |if ($nv < 1 || $len < $nv) {
         |  ${ev.isNull} = true;
         |} else {
         |  final $u8 $sep = $u8.fromString(" ");
         |  final java.util.HashMap $m = new java.util.HashMap($len * 2);
         |  final $u8[] $win = new $u8[$nv];
         |  for (int $i = 0; $i + $nv <= $len && !${ev.isNull}; $i++) {
         |    for (int $j = 0; $j < $nv; $j++) {
         |      if ($arr.isNullAt($i + $j)) { ${ev.isNull} = true; break; }
         |      $win[$j] = $arr.getUTF8String($i + $j);
         |    }
         |    if (!${ev.isNull}) {
         |      final $u8 $g = ($nv == 1) ? $win[0] : $u8.concatWs($sep, $win);
         |      final long[] $c = (long[]) $m.get($g);
         |      if ($c == null) { $m.put($g, new long[]{1L}); } else { $c[0]++; }
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    $u8 $best = null;
         |    long $bc = 0L;
         |    final java.util.Iterator $it = $m.entrySet().iterator();
         |    while ($it.hasNext()) {
         |      final java.util.Map.Entry $e = (java.util.Map.Entry) $it.next();
         |      final long $cv = ((long[]) $e.getValue())[0];
         |      if ($cv > $bc || ($cv == $bc
         |          && (($u8) $e.getKey()).compareTo($best) < 0)) {
         |        $best = ($u8) $e.getKey(); $bc = $cv;
         |      }
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(new Object[]{$best, java.lang.Long.valueOf($bc)});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TextExpressions {
  /** The fused top-n-gram Column (`graft_topgram`, see [[Native]]):
    * struct(g, c) — winning gram and its count.
    */
  def topGramFast(spark: SparkSession)(tokens: Column, n: Column): Column =
    Native.call(spark, "graft_topgram", tokens, n)

  /** The codegen'd NFC Column (`graft_nfc`). */
  def nfcFast(spark: SparkSession)(c: Column): Column =
    Native.call(spark, "graft_nfc", c)
}
