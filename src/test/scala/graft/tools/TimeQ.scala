package graft.tools

/** Dev timing harness: `Test/runMain graft.tools.TimeQ q1 q2 …` times the
  * named SparkEntry queries (min of 2 passes, clearCache between) at
  * SPARK_GRAFT_SF_DIR (default sf0.1). Mirrors Bench's per-query method
  * so numbers are comparable without a 47-query run. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-timeq")
    val qs = graft.SparkEntry.queries
    val names = if (args.nonEmpty) args.toSeq else qs.keys.toSeq.sorted
    val unknown = names.filterNot(qs.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"valid: ${qs.keys.toSeq.sorted.mkString(", ")}")
      spark.stop(); sys.exit(2)
    }
    // warm-up at sf0.001 like Bench
    names.foreach { n =>
      try qs(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    names.foreach { n =>
      val ts = (1 to 2).map { _ =>
        // standalone timings: each pass starts memo-cold (Bench's d8
        // runs memo-warm after d7; here d8 is its full standalone cost)
        graft.operators.Dedup.invalidateClusterMemo()
        graft.operators.Similarity.invalidateModelMemo()
        graft.operators.TextOps.invalidateBpeMemo()
        graft.operators.Hnsw.invalidateGraphMemo()
        val t0 = System.nanoTime()
        qs(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"TIMEQ $n%-28s ${ts.min}%8.3f s   (passes: ${ts.map(t => f"$t%.3f").mkString(", ")})")
    }
    spark.stop()
  }
}
