package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.Native

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
  * Registered: every row of [[graft.functions.Native]] —
  *  - `graft_cosine(array<double>, array<double>)` and
  *    `graft_dot(array<double>, array<double>)`, fused codegen cosine
  *    similarity and dot product;
  *  - `graft_nfc(string)`, Unicode NFC normalization, and
  *    `graft_topgram(array<string>, int)`, the most frequent n-gram;
  *  - `graft_minhash(array<long>, array<long>, numPerm, ring)`, the fused
  *    minhash signature over two base-hash arrays, and its 16-permutation
  *    Md5Family form `graft_minhash16(array<long>, array<long>)`;
  *  - `graft_bloom_agg(long, expectedItems, numBits)` and
  *    `graft_bloom_might_contain(binary, long)`, Spark's Bloom filter
  *    aggregate and probe.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Native.all.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
}
