package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured map of the four ANN encode families (raw PQ v9 / residual
  * PQ v15 / SQ8 v16 / BQ v17) on a LARGE clustered corpus — the
  * testdata's structureless embeddings pin the families' gate dials,
  * but the trade that matters at 100 TB (payload bytes vs recall at a
  * TIGHT rerank, where ADC/quantized ranking quality IS recall) only
  * shows on data with cluster structure. Same corpus generator as
  * DriveAnnScale (incompressible hash jitter, centers spanning ±200
  * through zero so sign bits vary within clusters); per family:
  * recall@5 vs the exact sweep at rerank 16 and 64, min-of-2 wall
  * time, and the at-rest payload bytes per vector. SCALE.md §ANN
  * families is authored from this output.
  *
  * `Test/runMain graft.tools.DriveFamilies [n] [nClusters]`
  * (default 200000 32)
  */
object DriveFamilies {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val g = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val spark = GraftSession.local("graft-ann-families")
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Similarity

    val dim = 64
    // two separation regimes: centers at ±200 with ±8 jitter (strong —
    // neighbors differ only by fine-grained jitter, the regime that
    // stresses code RESOLUTION) and centers at ±20 (weak — cluster
    // membership itself carries distance, the broad-manifold regime
    // where coarse codes keep signal)
    def corpus(sep: Double): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val grp = pmod(col("id"), lit(g))
          val center = (pmod(grp * (i + 7) + grp * grp * 13, lit(401))
            .cast("double") - 200.0) * sep
          (center + pmod(xxhash64(col("id"), i), lit(160000)).cast("double")
            / 10000.0 - 8.0).cast("float")
        }).as("embedding"))

    val nQ = 50; val k = 5; val nprobe = 8
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((regime, sep) <- Seq("strong-sep(±200)" -> 1.0, "weak-sep(±20)" -> 0.1)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-families").toString
      corpus(sep).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      graft.StampedMemo.clearAll()
      println(s"== four-family trade [$regime]: n=$n g=$g dim=$dim nprobe=$nprobe/$g queries=$nQ ==")
      val t0 = System.nanoTime()
      val exact = pairs(Similarity.annBruteForce(spark, dir, nQueries = nQ, k = k))
      println(f"exact sweep: ${(System.nanoTime() - t0) / 1e9}%.1fs (${exact.size} pairs)")

      val fams: Seq[(String, Int, Int => DataFrame)] = Seq(
        ("raw-PQ   (2B)", 2, r => Similarity.annIvfPq(spark, dir, nQueries = nQ, k = k,
          nClusters = g, iters = 2, nprobe = nprobe, m = 4, nCodes = 16, rerank = r)),
        ("resid-PQ (2B)", 2, r => Similarity.annIvfPqResidual(spark, dir, nQueries = nQ, k = k,
          nClusters = g, iters = 2, nprobe = nprobe, m = 4, nCodes = 16, rerank = r)),
        ("SQ8     (64B)", 64, r => Similarity.annIvfSq8(spark, dir, nQueries = nQ, k = k,
          nClusters = g, iters = 2, nprobe = nprobe, rerank = r)),
        ("BQ       (8B)", 8, r => Similarity.annIvfBq(spark, dir, nQueries = nQ, k = k,
          nClusters = g, iters = 2, nprobe = nprobe, rerank = r)))
      for ((name, bytes, f) <- fams; r <- Seq(16, 64)) {
        val times = (1 to 2).map { _ =>
          val s = System.nanoTime(); f(r).count(); (System.nanoTime() - s) / 1e9
        }
        val got = pairs(f(r))
        val recall = (exact -- (exact -- got)).size.toDouble / exact.size
        println(f"FAMILY $name rerank=$r%-3d recall@5=$recall%5.3f t=${times.min}%6.2fs payload=$bytes%3dB/vec")
      }
    }
    spark.stop()
  }
}
