package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarityExpr, Md5Family, MinhashSignatureExpr, NfcNormalizeExpr}

/** Library integration point — the standard way to ship custom Catalyst
  * expressions with a Spark library:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftSparkExtensions ...
  *   // or in code, the same static conf through the session factory:
  *   GraftSession.local(n, "spark.sql.extensions" -> "graft.GraftSparkExtensions")
  * }}}
  *
  * Every session then has the graft native functions in its registry,
  * usable from plain SQL (`SELECT graft_cosine(a.embedding, b.embedding)
  * ...`), not just from the Scala API's `call_function` helpers.
  *
  * Registered:
  *  - `graft_cosine(array<double>, array<double>)` — fused codegen
  *    cosine similarity ([[graft.functions.CosineSimilarityExpr]]);
  *  - `graft_minhash16(array<long>, array<long>)` — fused 16-permutation
  *    minhash signature over two base-hash arrays in the Md5Family ring
  *    ([[graft.functions.MinhashSignatureExpr]]).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarityExpr(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash16"),
      new ExpressionInfo(classOf[MinhashSignatureExpr].getName, "graft_minhash16"),
      (exprs: Seq[Expression]) =>
        MinhashSignatureExpr(exprs.head, exprs(1), 16, Md5Family.Ring)))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => NfcNormalizeExpr(exprs.head)))
  }
}
