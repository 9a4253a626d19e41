package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HNSW scale rungs (the DriveAnnScale generator, graph-family edition)
  * on CLUSTERED vectors (hash-jittered, incompressible — real-embedding
  * shape; the testdata's structureless corpus forces ef≈24-complete,
  * clustered corpora are the family's home turf).
  *
  * `Test/runMain graft.tools.DriveHnswScale [sharded] [n:nClusters[:nShards[:m:efConstruction]] ...]`
  * (default 1000000:256:8) measures the sharded at-rest index
  * (v19 / writeHnswIndexSharded): distributed build wall (one graph per
  * executor task), at-rest bytes/vector, cold and resident fan-out
  * serve latency, and recall@5 vs the exact sweep across the ef dial.
  * A rung with nShards = 1 is the whole corpus in one graph.
  *
  * `Test/runMain graft.tools.DriveHnswScale reshard [n:nClusters:from:to ...]`
  * (default 1000000:256:4:8) measures [[graft.operators.Hnsw
  * .reshardHnswIndexSharded]] — the growth knob the 1e7 rung demands
  * (hold shard SIZE, scale nShards): reshard wall vs the fresh-build
  * wall at the target count (the operational saving is reading the
  * index's own vectors instead of the corpus + the staged swap; the
  * rebuild work is the same), and the recall curve BEFORE vs AFTER,
  * which is the point — from:to is chosen so per-shard size crosses
  * the recall rung.
  *
  * `Test/runMain graft.tools.DriveHnswScale maintain
  * [n:nClusters:nShards:batches:batchSize ...]` (default
  * 1000000:256:8:10:10000) A/Bs the two maintain-append modes over a
  * base index: ROUTED (`appendHnswIndexShardedBatch` — id-modulo
  * routing; uniform arrivals touch every shard, so per-batch cost is
  * an index rewrite) vs SEGMENT (`appendHnswIndexSegment` — each
  * batch its own partition, cost is batch-sized), plus the segment
  * path's serve-cost drift across the accumulated segments and the
  * reshard compaction that removes it.
  *
  * `Test/runMain graft.tools.DriveHnswScale diffab
  * [base:nClusters:nShards:batches:batchSize ...]` (default
  * 100000:64:8:5:10000 1000000:256:8:5:10000) A/Bs the segment
  * append's per-trigger DIFF cost against base-index size: STEADY =
  * the id-bloom sidecar valid (the maintained stream's state — the
  * freshness diff is a broadcast probe, zero index reads), FORCED =
  * sidecar deleted + memo cold before every batch (each batch pays
  * the full level-0 scan the bloom exists to avoid — the pre-round-14
  * per-batch shape). The claim under test: steady is FLAT across base
  * sizes while forced grows with the base. */
object DriveHnswScale {
  def main(args: Array[String]): Unit = {
    val sharded = args.headOption.contains("sharded")
    val reshard = args.headOption.contains("reshard")
    val maintain = args.headOption.contains("maintain")
    val diffab = args.headOption.contains("diffab")
    val rest =
      if (sharded || reshard || maintain || diffab) args.drop(1).toSeq
      else args.toSeq
    // rung syntax: n:nClusters[:nShards[:m:efConstruction]] — the dial
    // tail exists for the density experiments (a dense corpus needs a
    // richer graph, not more shards; SCALE.md round 14)
    val ladder: Seq[(Long, Int, Int, Int, Int)] =
      if (reshard || maintain || diffab) Nil // these parse their own rungs below
      else if (rest.nonEmpty) rest.map { a =>
        a.split(":") match {
          case Array(n, c) => (n.toLong, c.toInt, 8, 8, 96)
          case Array(n, c, s) => (n.toLong, c.toInt, s.toInt, 8, 96)
          case Array(n, c, s, m, ef) =>
            (n.toLong, c.toInt, s.toInt, m.toInt, ef.toInt)
        }
      }
      else Seq((1000000L, 256, 8, 8, 96))
    val spark = GraftSession.local("graft-hnsw-scale")
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Hnsw, Similarity}

    val dim = 64
    // the DriveAnnScale corpus: deterministic cluster centers ±200,
    // hash-derived jitter < 8 so the floats are incompressible
    def corpus(n: Long, g: Int): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val grp = pmod(col("id"), lit(g))
          val center = pmod(grp * (i + 7) + grp * grp * 13, lit(401))
            .cast("double") - 200.0
          (center + pmod(xxhash64(col("id"), i), lit(160000)).cast("double")
            / 10000.0 - 8.0).cast("float")
        }).as("embedding"))

    def duBytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(path))
    }
    def minOf2(f: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
    def setOf(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    if (diffab) {
      val rungs: Seq[(Long, Int, Int, Int, Int)] =
        if (rest.nonEmpty) rest.map { a =>
          val Array(n, c, s, b, bs) = a.split(":")
          (n.toLong, c.toInt, s.toInt, b.toInt, bs.toInt)
        } else Seq((100000L, 64, 8, 5, 10000), (1000000L, 256, 8, 5, 10000))
      for ((n, g, nSh, nBatches, batchSize) <- rungs) {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-hnswdiff-$n").toString
        val total = n + (2 * nBatches + 1).toLong * batchSize
        // the documented deployment sizes the bloom to the index's
        // TARGET id count — size it to this rung's, so the steady
        // numbers measure the designed fpp, not an over-capacity one
        sys.props("graft.hnsw.bloomCapacity") = total.toString
        corpus(total, g).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        def arrivals(i: Int) = emb.filter(
          col("vec_id") >= n + i.toLong * batchSize &&
            col("vec_id") < n + (i + 1).toLong * batchSize)
        val idx = s"$dir/hnsw_diffab"
        val baseDir = s"$dir/base"
        emb.filter(col("vec_id") < n)
          .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
        Hnsw.writeHnswIndexSharded(spark, baseDir, idx, nShards = nSh)
        // batch 0 = the one-time sidecar migration (no _idbloom exists
        // after a fresh build): one distributed level-0 scan, priced
        // separately
        Hnsw.IdBloom.invalidateBloomMemo()
        val tm = System.nanoTime()
        require(Hnsw.appendHnswIndexSegment(spark, idx, arrivals(0)) == batchSize)
        val migrateS = (System.nanoTime() - tm) / 1e9
        // STEADY: sidecar + memo stay valid batch to batch (the
        // maintain stream's state) — diff = broadcast bloom probe only
        val (rb0, fb0) = (Hnsw.IdBloom.rebuildCount, Hnsw.IdBloom.fallbackCount)
        val steady = (1 to nBatches).map { i =>
          val t0 = System.nanoTime()
          require(Hnsw.appendHnswIndexSegment(spark, idx, arrivals(i)) == batchSize)
          (System.nanoTime() - t0) / 1e9
        }
        // the steady path must never rebuild the sidecar (deterministic
        // — assert); fallbacks are the fpp tail, PROBABILISTIC by
        // design (cost, never correctness) — report, don't require
        require(Hnsw.IdBloom.rebuildCount == rb0,
          "steady-state batches must not rebuild the sidecar")
        val steadyFallbacks = Hnsw.IdBloom.fallbackCount - fb0
        // FORCED: kill sidecar + memo before every batch — each one
        // rebuilds from the full level-0 scan (the pre-bloom shape)
        val forced = (nBatches + 1 to 2 * nBatches).map { i =>
          Hnsw.IdBloom.invalidateBloomMemo()
          new java.io.File(s"$idx/_idbloom").delete()
          val t0 = System.nanoTime()
          require(Hnsw.appendHnswIndexSegment(spark, idx, arrivals(i)) == batchSize)
          (System.nanoTime() - t0) / 1e9
        }
        println(f"HNSWDIFFAB base=$n%-8d nShards=$nSh%-3d batches=$nBatches%-3d " +
          f"batchSize=$batchSize%-6d migrate=$migrateS%6.2fs " +
          f"steady=${steady.sum / steady.size}%6.2fs/batch " +
          f"(fallbacks=$steadyFallbacks) " +
          f"forced=${forced.sum / forced.size}%6.2fs/batch")
        def rmD(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rmD)); f.delete(); ()
        }
        rmD(new java.io.File(dir))
      }
      spark.stop(); return
    }

    if (maintain) {
      val rungs: Seq[(Long, Int, Int, Int, Int)] =
        if (rest.nonEmpty) rest.map { a =>
          val Array(n, c, s, b, bs) = a.split(":")
          (n.toLong, c.toInt, s.toInt, b.toInt, bs.toInt)
        } else Seq((1000000L, 256, 8, 10, 10000))
      for ((n, g, nSh, nBatches, batchSize) <- rungs) {
        // base corpus ids [0, n); arrivals [n, n + batches*size) —
        // uniform over id space, so id-modulo routing touches every
        // shard every batch (the case the segment path exists for)
        val dir = java.nio.file.Files.createTempDirectory(s"graft-hnswmnt-$n").toString
        val total = n + nBatches.toLong * batchSize
        corpus(total, g).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        def batchVecs(i: Int) = emb.filter(
          col("vec_id") >= n + i.toLong * batchSize &&
            col("vec_id") < n + (i + 1).toLong * batchSize)
        def runMode(tag: String,
                    append: (String, DataFrame) => Long): (String, Double) = {
          val idx = s"$dir/hnsw_$tag"
          // base index over [0, n) only — stage the base corpus dir
          val baseDir = s"$dir/base"
          emb.filter(col("vec_id") < n)
            .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
          Hnsw.writeHnswIndexSharded(spark, baseDir, idx, nShards = nSh)
          val walls = (0 until nBatches).map { i =>
            val t0 = System.nanoTime()
            val appended = append(idx, batchVecs(i))
            require(appended == batchSize, s"$tag batch $i appended $appended")
            (System.nanoTime() - t0) / 1e9
          }
          (idx, walls.sum / walls.length)
        }
        val (idxSeg, segS) = runMode("seg",
          (idx, b) => Hnsw.appendHnswIndexSegment(spark, idx, b))
        val (idxRoute, routeS) = runMode("route",
          (idx, b) => Hnsw.appendHnswIndexShardedBatch(spark, idx, b))
        // serve drift: fan-out over nSh + nBatches graphs vs the
        // routed nSh, then reshard-compact the segments and re-serve
        Hnsw.ShardGraphCache.invalidate(); Hnsw.invalidateDriftChecks()
        Hnsw.annHnswServeSharded(spark, dir, idxSeg).count() // warm
        val segServe = minOf2(Hnsw.annHnswServeSharded(spark, dir, idxSeg,
          nQueries = 100).count())
        Hnsw.annHnswServeSharded(spark, dir, idxRoute).count() // warm
        val routeServe = minOf2(Hnsw.annHnswServeSharded(spark, dir, idxRoute,
          nQueries = 100).count())
        val tc = System.nanoTime()
        Hnsw.reshardHnswIndexSharded(spark, idxSeg, nSh)
        val compactS = (System.nanoTime() - tc) / 1e9
        Hnsw.annHnswServeSharded(spark, dir, idxSeg).count() // warm
        val compServe = minOf2(Hnsw.annHnswServeSharded(spark, dir, idxSeg,
          nQueries = 100).count())
        println(f"HNSWMAINTAIN n=$n%-8d nShards=$nSh%-3d batches=$nBatches%-3d " +
          f"batchSize=$batchSize%-6d segAppend=$segS%6.2fs/batch " +
          f"routedAppend=$routeS%6.2fs/batch " +
          f"serve100 seg=$segServe%5.2fs routed=$routeServe%5.2fs " +
          f"compact=$compactS%6.1fs servedCompacted=$compServe%5.2fs")
        def rmM(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rmM)); f.delete(); ()
        }
        rmM(new java.io.File(dir))
      }
      spark.stop(); return
    }

    if (reshard) {
      val rungs: Seq[(Long, Int, Int, Int)] =
        if (rest.nonEmpty) rest.map { a =>
          val Array(n, c, f, t) = a.split(":"); (n.toLong, c.toInt, f.toInt, t.toInt)
        } else Seq((1000000L, 256, 4, 8))
      for ((n, g, from, to) <- rungs) {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-hnswresh-$n").toString
        corpus(n, g).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        val idx = s"$dir/hnsw_sharded"
        Hnsw.writeHnswIndexSharded(spark, dir, idx, nShards = from)
        val want = setOf(Similarity.annBruteForce(spark, dir, nQueries = 100))
        def curve(): String = Seq(128, 256).map { ef =>
          val got = setOf(Hnsw.annHnswServeSharded(spark, dir, idx,
            nQueries = 100, efSearch = ef))
          f"ef=$ef:recall=${(want & got).size.toDouble / want.size}%5.3f"
        }.mkString(" ")
        Hnsw.ShardGraphCache.invalidate(); Hnsw.invalidateDriftChecks()
        val before = curve()
        val tr = System.nanoTime()
        Hnsw.reshardHnswIndexSharded(spark, idx, to)
        val reshS = (System.nanoTime() - tr) / 1e9
        Hnsw.ShardGraphCache.invalidate(); Hnsw.invalidateDriftChecks()
        val after = curve()
        // the honest comparator: a fresh distributed build at `to`
        val idx2 = s"$dir/hnsw_fresh"
        val tb = System.nanoTime()
        Hnsw.writeHnswIndexSharded(spark, dir, idx2, nShards = to)
        val buildS = (System.nanoTime() - tb) / 1e9
        println(f"HNSWRESHARD n=$n%-8d nClusters=$g%-4d $from%d->$to%d " +
          f"reshard=$reshS%7.1fs freshBuild=$buildS%7.1fs " +
          f"before[$before] after[$after]")
        def rmR(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rmR)); f.delete(); ()
        }
        rmR(new java.io.File(dir))
      }
      spark.stop(); return
    }

    for ((n, g, nSh, mDial, efCDial) <- ladder) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-hnswscale-$n").toString
      corpus(n, g).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val idx = s"$dir/hnsw_sharded"
      val tb = System.nanoTime()
      Hnsw.writeHnswIndexSharded(spark, dir, idx, m = mDial,
        efConstruction = efCDial, nShards = nSh)
      val buildS = (System.nanoTime() - tb) / 1e9
      val bytesPerVec = duBytes(idx).toDouble / n
      // residency split (round 12): COLD = first serve in a fresh
      // tier (per-shard parquet read + graph reconstruction, one
      // task per shard); RESIDENT = the steady state, shard graphs
      // already in executor memory
      Hnsw.ShardGraphCache.invalidate(); Hnsw.invalidateDriftChecks()
      val tc = System.nanoTime()
      Hnsw.annHnswServeSharded(spark, dir, idx, nQueries = 10).count()
      val coldS = (System.nanoTime() - tc) / 1e9
      val serve10 = minOf2(Hnsw.annHnswServeSharded(spark, dir, idx, nQueries = 10).count())
      val serve100 = minOf2(Hnsw.annHnswServeSharded(spark, dir, idx, nQueries = 100).count())
      val want = setOf(Similarity.annBruteForce(spark, dir, nQueries = 100))
      // 512 on the sweep: shard graphs GROW with n at fixed nShards,
      // and the recall-complete ef grows with graph size (the r12
      // 1e7/32-shard rung reads 0.842 @256, 0.932 @512 — the dial
      // and the shard size, not the design; see SCALE.md)
      val efCurve = Seq(64, 128, 256, 512).map { ef =>
        val t0 = System.nanoTime()
        val got = setOf(Hnsw.annHnswServeSharded(spark, dir, idx,
          nQueries = 100, efSearch = ef))
        val dt = (System.nanoTime() - t0) / 1e9
        f"ef=$ef:recall=${(want & got).size.toDouble / want.size}%5.3f@$dt%4.2fs"
      }.mkString(" ")
      println(f"HNSWSHARD n=$n%-8d nClusters=$g%-4d nShards=$nSh%-3d " +
        f"m=$mDial%-3d efC=$efCDial%-4d " +
        f"buildDist=$buildS%7.1fs idx=$bytesPerVec%6.1f B/vec " +
        f"serveCold=$coldS%5.2fs serve10=$serve10%5.2fs " +
        f"serve100=$serve100%5.2fs $efCurve")
      def rmS(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmS)); f.delete(); ()
      }
      rmS(new java.io.File(dir))
    }
    spark.stop()
  }
}
