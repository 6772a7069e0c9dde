package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashFamily, Md5Family, VectorExpressions, VectorFunctions, XxHash64Family}

/** Micro-benchmarks behind the two "pay for a custom path only on
  * evidence" decisions:
  *
  *  1. higher-order-function cosine (zip_with/aggregate) vs the
  *     codegen'd CosineSimilarityExpr, on the all-pairs workload that
  *     motivated the custom expression (SURVEY §7.4);
  *  2. Md5Family (the cross-engine ORACLE hash — string md5 per
  *     shingle) vs XxHash64Family (the production default — native
  *     codegen xxhash64) on the full MinHash-LSH dedup pipeline.
  *     The registered queries pin md5 so DuckDB can reproduce them;
  *     this measures what that parity costs and why prod keeps xxhash.
  *
  *   sbt "runMain graft.BenchMicro"
  */
object BenchMicro {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(16)

    val emb = graft.engine.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .cache()
    emb.count()
    val pairs = emb.select(col("vec_id").as("id_a"), col("emb").as("emb_a"))
      .crossJoin(emb.select(col("vec_id").as("id_b"), col("emb").as("emb_b")))
      .filter(col("id_a") < col("id_b"))

    def time(label: String)(c: org.apache.spark.sql.Column): Unit = {
      val t0 = System.nanoTime()
      val n = pairs.withColumn("cos", c).filter(col("cos") >= 0.4).count()
      println(f"$label%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n pairs)")
    }
    // warm-up
    pairs.limit(1000).withColumn("c", VectorFunctions.cosine(col("emb_a"), col("emb_b"))).count()

    time("codegen expression")(VectorExpressions.cosineFast(spark)(col("emb_a"), col("emb_b")))
    time("higher-order fns")(VectorFunctions.cosine(col("emb_a"), col("emb_b")))
    time("codegen expression")(VectorExpressions.cosineFast(spark)(col("emb_a"), col("emb_b")))
    emb.unpersist()

    val docs = graft.engine.Tables.documents(spark, sfDir)
      .select("doc_id", "text").cache()
    docs.count()
    def timeLsh(label: String)(hf: HashFamily): Unit = {
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup
        .minhashLshPairs(docs, "doc_id", "text", hashes = hf).count()
      println(f"$label%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n pairs)")
    }
    timeLsh("lsh md5 (oracle)")(Md5Family)
    timeLsh("lsh xxhash64 (prod)")(XxHash64Family)
    timeLsh("lsh md5 (oracle)")(Md5Family)
    timeLsh("lsh xxhash64 (prod)")(XxHash64Family)
    docs.unpersist()
    spark.stop()
  }
}
