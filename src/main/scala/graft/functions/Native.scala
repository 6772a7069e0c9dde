package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

/** The graft native functions, one row each: the SQL name, the
  * expression class its registry entry documents, and the builder from
  * call arguments to the Catalyst expression. [[graft.GraftSparkExtensions]]
  * injects the whole table into every session built with it, and
  * [[call]] installs it into any other session on first use — so each
  * function is registered once per session, never per call.
  *
  * Registration goes through the session's FunctionRegistry because
  * Spark 4's Column API has no public Expression→Column constructor.
  */
object Native {
  final case class Fn(name: String, cls: Class[_], build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  /** A constant argument (a literal, or any foldable expression). */
  private def const(fn: String, e: Expression): Number = {
    require(e.foldable, s"$fn: argument $e must be a constant")
    e.eval().asInstanceOf[Number]
  }

  val all: Seq[Fn] = Seq(
    Fn("graft_cosine", classOf[CosineSimilarityExpr], e => CosineSimilarityExpr(e(0), e(1))),
    Fn("graft_dot", classOf[DotProductExpr], e => DotProductExpr(e(0), e(1))),
    Fn("graft_nfc", classOf[NfcNormalizeExpr], e => NfcNormalizeExpr(e(0))),
    Fn("graft_topgram", classOf[TopGramExpr], e => TopGramExpr(e(0), e(1))),
    // graft_minhash(h1, h2, numPerm, ring): numPerm and ring constants
    Fn("graft_minhash", classOf[MinhashSignatureExpr], e =>
      MinhashSignatureExpr(e(0), e(1), const("graft_minhash", e(2)).intValue,
        const("graft_minhash", e(3)).longValue)),
    // the 16-permutation Md5Family form, for plain SQL
    Fn("graft_minhash16", classOf[MinhashSignatureExpr], e =>
      MinhashSignatureExpr(e(0), e(1), 16, Md5Family.Ring)),
    Fn("graft_bloom_agg", classOf[BloomFilterAggregate], e =>
      new BloomFilterAggregate(e(0), e(1), e(2))),
    Fn("graft_bloom_might_contain", classOf[BloomFilterMightContain], e =>
      BloomFilterMightContain(e(0), e(1))))

  /** `name(args…)` as a Column on `spark`. If `spark`'s registry lacks
    * `name` (a session built without GraftSparkExtensions), the table's
    * missing rows are installed first. The check and the install hold
    * the registry's own lock, so concurrent first calls install once.
    */
  def call(spark: SparkSession, name: String, args: Column*): Column = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized {
      if (!reg.functionExists(FunctionIdentifier(name)))
        all.filterNot(f => reg.functionExists(f.id))
          .foreach(f => reg.registerFunction(f.id, f.info, f.build))
    }
    call_function(name, args: _*)
  }
}
