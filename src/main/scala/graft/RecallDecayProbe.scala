package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.{AnnIndex, Similarity}

/** Measures how `AnnIndex` recall@k decays as batches are APPENDED
  * without retraining ([[AnnIndex.appendBatch]] quantizes against the
  * standing codebooks — the standard IVF maintenance contract), under
  * deliberate covariate DRIFT: the corpus is ordered along one
  * embedding coordinate, the index trains on the lower half, and the
  * upper half (vectors from a region the codebooks never saw) arrives
  * in 1 / 4 / 16 appended batches. For each scenario the probe
  * reports recall@k of the appended index vs a fresh
  * [[AnnIndex.buildLearned]] over the full corpus, for probes spread
  * across both regions. The curve (recorded in SCALING.md) is what
  * justifies the rebuild trigger `AnnIndex.needsRebuild` pins: decay
  * tracks the APPENDED FRACTION, not the batch count — quantization
  * error is per-vector, so slicing the same drift mass finer changes
  * nothing (and the probe demonstrates exactly that).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=16 \
  *   sbt "runMain graft.RecallDecayProbe 1 4 16"
  */
object RecallDecayProbe {
  def main(args: Array[String]): Unit = {
    val splits = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 16)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    val dim = 64; val k = 10
    val emb = Tables.embeddings(spark, sfDir)
      .withColumn("_drift", col("embedding").getItem(0))
      .localCheckpoint()
    val n = emb.count()
    // rank along the drift coordinate; lower half trains, upper half
    // appends (ties broken by id — deterministic split)
    val ranked = emb.withColumn("_r",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("_drift"), col("vec_id"))))
      .localCheckpoint()
    val base = ranked.filter(col("_r") <= n / 2).drop("_drift", "_r")
      .localCheckpoint()
    val drifted = ranked.filter(col("_r") > n / 2).localCheckpoint()
    // 16 probes spread across the full drift range (2 per octile)
    val probes = ranked.filter(
        pmod(col("_r"), lit(n / 16L)) === lit(3L))
      .limit(16).drop("_drift", "_r").localCheckpoint()
    val exact = Similarity.bruteForceTopK(emb, probes, k)
      .select("query_id", "neighbor_id").localCheckpoint()
    val nExact = exact.count()

    def recallOf(path: String): (Double, Double) = {
      val adc = AnnIndex.query(spark, path, probes, k, dim)
        .select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id")).count()
      val rr = AnnIndex.queryReranked(spark, path, probes, emb, k, dim)
        .select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id")).count()
      (adc.toDouble / nExact, rr.toDouble / nExact)
    }
    def rmTree(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }

    val scratch = java.nio.file.Files
      .createTempDirectory("graft_recall_decay").toString
    // the fresh-rebuild reference: learned codebooks over EVERYTHING
    val freshPath = s"$scratch/fresh"
    AnnIndex.buildLearned(emb, freshPath, dim)
    val (freshAdc, freshRr) = recallOf(freshPath)
    println(f"fresh rebuild: adc_recall@$k = $freshAdc%.4f  " +
      f"rerank_recall@$k = $freshRr%.4f  (n=$n)")

    for (m <- splits) {
      val path = s"$scratch/appended_$m"
      rmTree(path)
      AnnIndex.buildLearned(base, path, dim)
      val per = math.max(1L, (n / 2 + m - 1) / m)
      (0 until m).foreach { i =>
        val lo = n / 2 + i * per
        val slice = drifted
          .filter(col("_r") > lo && col("_r") <= lo + per)
          .drop("_drift", "_r")
        AnnIndex.appendBatch(slice, path, dim, batchId = i + 1L)
        // the per-FRACTION decay curve, read off the 4-batch scenario
        if (m == 4) {
          val (ia, ir) = recallOf(path)
          val fi = AnnIndex.appendedFraction(spark, path)
          println(f"  after batch ${i + 1}: adc = $ia%.4f  rerank = $ir%.4f" +
            f"  appended_fraction = $fi%.3f")
        }
      }
      val (rAdc, rRr) = recallOf(path)
      val f = AnnIndex.appendedFraction(spark, path)
      println(f"appended in $m%2d batches: adc_recall@$k = $rAdc%.4f  " +
        f"rerank_recall@$k = $rRr%.4f  appended_fraction = $f%.3f  " +
        f"vs fresh $freshAdc%.4f / $freshRr%.4f")
    }
    spark.stop()
  }
}
