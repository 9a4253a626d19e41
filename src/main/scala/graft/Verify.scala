package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `s` as a quoted JSON string for oracle_sql.json: escapes backslash,
    * quote and ALL control chars (< 0x20) — a tab or CR in the oracle
    * SQL would otherwise make the reader's json.load fail and zero the
    * whole correctness dump. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop operator-internal persists between queries (same reason as
      // Bench: bounded memory regardless of query count)
      spark.catalog.clearCache()
    }
    // d3's oracle (exact all-pairs sweep) is only valid when 16×4-band
    // LSH recall is 1 on THIS corpus — true for the pinned seed-42 data
    // (every qualifying pair at J ≥ 0.89) but not guaranteed for a
    // regenerated corpus with pairs in the probabilistic-recall band
    // (J ≈ 0.5–0.8). Signatures are seeded-deterministic, so recall on a
    // fixed corpus is a fact, not a probability: check it mechanically
    // (LSH output count == exact sweep count; LSH ⊆ exact because
    // verification is exact) and auto-demote d3 to rows-only when it
    // does not hold, rather than fail the gate for a non-bug.
    val d3Trusted = try {
      val exactPairs = operators.Dedup
        .ngramJaccard(spark, sfDir, operators.Dedup.lshMinJ).count()
      // the query loop above already computed and wrote d3's output —
      // read its count back rather than re-running the LSH pipeline
      val lshPairs = spark.read.parquet(s"$outDir/d3_minhash_lsh").count()
      spark.catalog.clearCache()
      if (lshPairs != exactPairs)
        System.err.println(s"[verify] d3_minhash_lsh demoted to rows-only: " +
          s"LSH recall < 1 on this corpus ($lshPairs of $exactPairs exact pairs)")
      lshPairs == exactPairs
    } catch { case e: Throwable =>
      // a broken precondition probe must not silently weaken the gate —
      // keep the oracle and let the driver's compare surface any issue
      System.err.println(s"[verify] d3 precondition probe failed: ${e.getMessage}")
      true
    }
    // v2/v5 (hyperplane-LSH ANN / near-dup) carry their exact
    // counterpart's oracle (v1 / v3) under the same kind of
    // precondition: the gate profile (see Similarity.queries — the
    // cheapest Probe-verified (lsh family) recall-complete planes × tables) is
    // recall-complete on the pinned corpus. Both relations were just
    // written by the query loop; value-level set equality (not only
    // counts — a missed true neighbor with a lower-cos substitute
    // keeps counts equal) is the mechanical probe. Demote to
    // rows-only when it fails; keep the oracle when the PROBE itself
    // breaks (a broken probe must not silently weaken the gate).
    def lshTrusted(name: String, exactName: String): Boolean = try {
      val a = spark.read.parquet(s"$outDir/$name")
      val b = spark.read.parquet(s"$outDir/$exactName")
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      if (diff != 0)
        System.err.println(s"[verify] $name demoted to rows-only: LSH " +
          s"output differs from exact $exactName by $diff rows on this corpus")
      diff == 0
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name precondition probe failed: ${e.getMessage}")
      true
    }
    // m3's gate precondition probed the same way: the chunk-blocked
    // Hamming join is recall-complete by pigeonhole (a theorem, not a
    // corpus property), but the ORACLE also recomputes the perceptual
    // hash value-exactly — compare the blocked output to an exact
    // same-kind all-pairs sweep over the same Spark-side hashes so a
    // regenerated corpus that breaks any piece of the chain demotes the
    // gate instead of silently keeping a green-but-unsound oracle.
    val m3Trusted = try {
      // the exact sweep shares the operator's hash, kind derivation and
      // default radius (Multimodal.phashExactPairs) — the probe cannot
      // drift from the gate query's definition. Persisted: the two
      // exceptAll actions below would otherwise each re-run the O(n²)
      // cross-join + feature extraction from scratch (the clearCache()
      // after the diff releases it).
      val exact = operators.Multimodal.phashExactPairs(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val blocked = spark.read.parquet(s"$outDir/m3_phash_pairs")
      val diff = blocked.exceptAll(exact).count() + exact.exceptAll(blocked).count()
      spark.catalog.clearCache()
      if (diff != 0)
        System.err.println(s"[verify] m3_phash_pairs demoted to rows-only: " +
          s"blocked join differs from exact sweep by $diff rows on this corpus")
      diff == 0
    } catch { case e: Throwable =>
      System.err.println(s"[verify] m3 precondition probe failed: ${e.getMessage}")
      true
    }
    val demoted =
      (if (d3Trusted) Nil else Seq("d3_minhash_lsh")) ++
      (if (m3Trusted) Nil else Seq("m3_phash_pairs")) ++
      (if (lshTrusted("v2_ann_lsh", "v1_ann_bruteforce")) Nil else Seq("v2_ann_lsh")) ++
      (if (lshTrusted("v4_ann_ivf", "v1_ann_bruteforce")) Nil else Seq("v4_ann_ivf")) ++
      (if (lshTrusted("v8_ann_pq", "v1_ann_bruteforce")) Nil else Seq("v8_ann_pq")) ++
      (if (lshTrusted("v9_ann_ivfpq", "v1_ann_bruteforce")) Nil else Seq("v9_ann_ivfpq")) ++
      (if (lshTrusted("v15_ann_ivfpq_residual", "v1_ann_bruteforce")) Nil
       else Seq("v15_ann_ivfpq_residual")) ++
      (if (lshTrusted("v16_ann_ivfsq8", "v1_ann_bruteforce")) Nil
       else Seq("v16_ann_ivfsq8")) ++
      (if (lshTrusted("v17_ann_ivfbq", "v1_ann_bruteforce")) Nil
       else Seq("v17_ann_ivfbq")) ++
      (if (lshTrusted("v18_ann_hnsw", "v1_ann_bruteforce")) Nil
       else Seq("v18_ann_hnsw")) ++
      (if (lshTrusted("v19_ann_hnsw_sharded", "v1_ann_bruteforce")) Nil
       else Seq("v19_ann_hnsw_sharded")) ++
      (if (lshTrusted("v5_near_dup_lsh", "v3_near_dup_pairs")) Nil else Seq("v5_near_dup_lsh")) ++
      (if (lshTrusted("v12_bitext_margin_ann", "v12_bitext_margin")) Nil
       else Seq("v12_bitext_margin_ann")) ++
      // v13's exact counterpart is not a gate query — compute the
      // all-pairs sweep inline for the probe (the m3 pattern). Unlike
      // the parquet-diff probes, a probe failure here DEMOTES: the
      // live O(n²) sweep is itself the likeliest thing to break (OOM
      // at a larger gate SF), and keeping a value oracle whose
      // precondition could not be checked is the unsound direction.
      (if (try {
        val exact = operators.Similarity.knnGraphExact(spark, sfDir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val got = spark.read.parquet(s"$outDir/v13_knn_graph")
          val diff = got.exceptAll(exact).count() + exact.exceptAll(got).count()
          if (diff != 0)
            System.err.println(s"[verify] v13_knn_graph demoted to rows-only: ANN " +
              s"graph differs from the exact sweep by $diff rows on this corpus")
          diff == 0
        } finally {
          // release ONLY the probe's persist — clearCache() would drop
          // every cached DataFrame in the session, not just ours
          exact.unpersist(); ()
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] v13_knn_graph demoted to rows-only: " +
          s"precondition probe failed (${e.getMessage})")
        false
      }) Nil else Seq("v13_knn_graph"))
    val oracles = SparkEntry.oracleSql -- demoted
    val json = oracles
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
