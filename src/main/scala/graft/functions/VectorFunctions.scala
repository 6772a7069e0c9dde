package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType` embedding columns, built entirely from
  * Spark's codegen'd higher-order functions (`zip_with`, `aggregate`) —
  * no UDFs, so the expressions stay inside WholeStageCodegen and are
  * usable in any filter/join/agg position.
  *
  * Inputs are cast to `array<double>` first: the testdata stores
  * float32 embeddings, and accumulating in float64 keeps results
  * stable (and comparable to the DuckDB oracle, which is told to cast
  * the same way). The fold is sequential left-to-right on both engines,
  * so round-trip differences stay at the last ulp.
  */
object VectorFunctions {
  def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with a zero-norm guard (mirrors the reference's
    * guarded-ratio pattern, gold_aggr.py:73-78: divide-by-zero → 0).
    */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n).otherwise(lit(0.0))
  }
}
