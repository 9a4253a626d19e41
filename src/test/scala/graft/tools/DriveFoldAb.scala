package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File-count-vs-batches A/B for the two ROW-SHAPED maintain loops —
  * the measurement behind the round-15 in-loop folds: run the REAL
  * streaming queries (annIndexMaintainQuery / dedupIntakeQuery) for N
  * micro-batches with the fold OFF (`compactEveryBatches = 0`, the
  * pre-round-15 shape) vs ON, and report what the fold exists to
  * bound: total data-file count, `batch_id=` partition count, and the
  * serve/probe latency over the resulting layout (round 9 measured the
  * dedup probe tracking file count 5.74 → 1.24 s on a 16× cut; the IVF
  * serve opens every file of every probed cell across every batch
  * partition).
  *
  * `Test/runMain graft.tools.DriveFoldAb
  *   [ivf:batches:batchSize:threshold | dedup:batches:batchSize:threshold ...]`
  * (default `ivf:48:1000:16 dedup:32:250:16`) */
object DriveFoldAb {
  def main(args: Array[String]): Unit = {
    // kind:batches:batchSize:threshold[:nClusters] — nClusters (ivf
    // modes only, default 16) exists for the parallelism-granularity
    // experiment: a folded base is one rowgroup per cell, so serve
    // parallelism is bounded by the probed cell count
    val runs: Seq[(String, Int, Int, Int, Int)] =
      if (args.nonEmpty) args.toSeq.map { a =>
        a.split(":") match {
          case Array(kind, b, bs, t) => (kind, b.toInt, bs.toInt, t.toInt, 16)
          case Array(kind, b, bs, t, nc) =>
            (kind, b.toInt, bs.toInt, t.toInt, nc.toInt)
        }
      } else Seq(("ivf", 48, 1000, 16, 16), ("dedup", 32, 250, 16, 16))
    val spark = GraftSession.local("graft-fold-ab")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dim = 64
    def corpus(n: Long, g: Int): DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val grp = pmod(col("id"), lit(g))
          val center = pmod(grp * (i + 7) + grp * grp * 13, lit(401))
            .cast("double") - 200.0
          (center + pmod(xxhash64(col("id"), i), lit(160000)).cast("double")
            / 10000.0 - 8.0).cast("float")
        }).as("embedding"))

    def parquetFiles(path: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(path))
    }
    def minOf2(f: => Unit): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.min
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }

    for ((kind, nBatches, batchSize, threshold, nClusters) <- runs) kind match {
      case "ivfdiag" =>
        // layout-only diagnostic: build the two layouts DIRECTLY (no
        // streaming loop) over identical rows, then separate the scan
        // cost from the serve plan — prints bytes, raw-scan wall, serve
        // wall and the executed join operators per layout
        val n = nBatches.toLong * batchSize
        val dir = java.nio.file.Files
          .createTempDirectory("graft-foldab-diag").toString
        corpus(n, 64).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val enc = graft.operators.Similarity
          .encodeForIndex(spark, dir, emb.select(col("vec_id"), col("embedding")),
            nClusters = nClusters)
          .persist()
        enc.count()
        val off = s"$dir/off"; val on = s"$dir/on"
        enc.withColumn("batch_id", pmod(col("vec_id"), lit(nBatches.toLong)))
          .repartition(col("batch_id"), col("cid"))
          .write.partitionBy("batch_id", "cid").parquet(off)
        graft.sources.IndexMeta.write(off, Seq("family" -> "pq",
          "nClusters" -> nClusters, "iters" -> 2, "m" -> 4, "nCodes" -> 16))
        val cut = n - 2L * batchSize
        enc.filter(col("vec_id") < cut).withColumn("batch_id", lit(-1L))
          .repartition(col("cid"))
          .write.partitionBy("batch_id", "cid").parquet(on)
        enc.filter(col("vec_id") >= cut)
          .withColumn("batch_id", pmod(col("vec_id"), lit(2)))
          .repartition(col("batch_id"), col("cid"))
          .write.mode("append").partitionBy("batch_id", "cid").parquet(on)
        graft.sources.IndexMeta.write(on, Seq("family" -> "pq",
          "nClusters" -> nClusters, "iters" -> 2, "m" -> 4, "nCodes" -> 16))
        enc.unpersist(blocking = false)
        val queries = emb.filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
          .persist()
        queries.count()
        def duB(p: String): Long = {
          def walk(f: java.io.File): Long =
            if (f.isDirectory)
              Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
            else f.length()
          walk(new java.io.File(p))
        }
        // stage anatomy: per-stage task counts + executor run time for
        // ONE serve per layout — which stage the layout actually taxes
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long)]()
        val sl = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            stages.add((si.stageId, si.numTasks,
              si.taskMetrics.executorRunTime,
              si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)))
          }
        }
        spark.sparkContext.addSparkListener(sl)
        Seq("off" -> off, "on" -> on).foreach { case (tag, idx) =>
          stages.clear()
          graft.operators.Similarity
            .annIvfPqServeQueries(spark, dir, idx, queries).count()
          Thread.sleep(1500) // listener bus is async — let it drain
          import scala.jdk.CollectionConverters._
          val rows = stages.asScala.toSeq.sortBy(_._1).map { case (id, n, run, wall) =>
            s"s$id:n=$n,run=${run}ms,wall=${wall}ms"
          }
          println(s"FOLDABDIAG-STAGES $tag ${rows.mkString(" ")}")
        }
        spark.sparkContext.removeSparkListener(sl)
        // interleaved repeats: mode-vs-noise disambiguation (a serve is
        // many tiny jobs; host drift between two single measurements
        // reads as a layout effect it isn't)
        (1 to 4).foreach { r =>
          val offS = { val t0 = System.nanoTime()
            graft.operators.Similarity
              .annIvfPqServeQueries(spark, dir, off, queries).count()
            (System.nanoTime() - t0) / 1e9 }
          val onS = { val t0 = System.nanoTime()
            graft.operators.Similarity
              .annIvfPqServeQueries(spark, dir, on, queries).count()
            (System.nanoTime() - t0) / 1e9 }
          println(f"FOLDABDIAG-REP r$r off=$offS%5.2fs on=$onS%5.2fs")
        }
        Seq("off" -> off, "on" -> on).foreach { case (tag, idx) =>
          val scanS = minOf2(spark.read.parquet(idx)
            .select(col("vec_id")).filter(col("vec_id") >= 0).count())
          val served = graft.operators.Similarity
            .annIvfPqServeQueries(spark, dir, idx, queries)
          val serveS = minOf2(served.count())
          // bisect: id-only scan vs full-payload scan (codes array
          // decode) vs the candidate equi-join stage in isolation
          val fullScanS = minOf2(spark.read.parquet(idx)
            .filter(size(col("codes")) >= 0).count())
          val probes100 = queries.limit(100)
            .select(col("query_id"), (col("query_id") % nClusters).as("cid"))
            .persist()
          probes100.count()
          val candS = minOf2(spark.read.parquet(idx)
            .join(broadcast(probes100), Seq("cid")).count())
          probes100.unpersist(blocking = false)
          println(f"FOLDABDIAG $tag%-4s files=${parquetFiles(idx)}%-5d " +
            f"bytes=${duB(idx)}%-10d scan=$scanS%5.2fs full=$fullScanS%5.2fs " +
            f"cand=$candS%5.2fs serve100=$serveS%5.2fs")
        }
        rm(new java.io.File(dir))
      case "ivf" | "ivfrev" => // ivfrev: run the modes in reverse order
                               // (order-vs-mode disambiguation)
        val n = nBatches.toLong * batchSize
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-foldab-ivf").toString
        corpus(n, 64).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
        val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
          .as[(Long, Array[Float])].collect().sortBy(_._1)
        val queries = vecs.take(100).toSeq
          .toDF("query_id", "q_emb")
        def mode(tag: String, every: Int): String = {
          val idx = s"$dir/idx_$tag"
          val mem = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, Array[Float])]
          val ckpt = java.nio.file.Files
            .createTempDirectory(s"graft-foldab-ck").toString
          val q = graft.streaming.Runner.annIndexMaintainQuery(spark, dir,
            idx, mem.toDS().toDF("vec_id", "embedding"), ckpt,
            nClusters = nClusters, compactEveryBatches = every)
          val t0 = System.nanoTime()
          try vecs.grouped(batchSize).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          } finally q.stop()
          val maintS = (System.nanoTime() - t0) / 1e9
          val serveS = minOf2(graft.operators.Similarity
            .annIvfPqServeQueries(spark, dir, idx, queries).count())
          f"$tag[files=${parquetFiles(idx)}%-5d dirs=${graft.sources.BatchFold
            .batchDirCount(spark, idx)}%-3d maintain=$maintS%6.1fs " +
            f"serve100=$serveS%5.2fs]"
        }
        val line =
          if (kind == "ivfrev") {
            val on = mode("on", threshold); val off = mode("off", 0)
            off + " " + on
          } else mode("off", 0) + " " + mode("on", threshold)
        println(f"FOLDAB $kind%s batches=$nBatches%-4d batchSize=$batchSize%-6d " +
          s"threshold=$threshold " + line)
        rm(new java.io.File(dir))
      case "dedup" =>
        val nDocs = nBatches.toLong * batchSize
        val docs = graft.sources.SyntheticDocs.corpus(spark, nDocs)
          .as[(Long, String)].collect().sortBy(_._1)
        val probe = docs.take(100).map { case (id, t) => (id + 10000000L, t) }
          .toSeq.toDF("doc_id", "text")
        def mode(tag: String, every: Int): String = {
          val idx = java.nio.file.Files
            .createTempDirectory(s"graft-foldab-didx").toString
          val out = java.nio.file.Files
            .createTempDirectory(s"graft-foldab-dout").toString
          val ckpt = java.nio.file.Files
            .createTempDirectory(s"graft-foldab-dck").toString
          val mem = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(Long, String)]
          // 64 shards, not the one-shard intake default: the scenario
          // SCALE.md round 15 recorded (2048 → 128 bucket files)
          val q = graft.streaming.Runner.dedupIntakeQuery(spark, idx,
            mem.toDS().toDF("doc_id", "text"), out, ckpt,
            shards = 64, compactEveryBatches = every)
          val t0 = System.nanoTime()
          try docs.grouped(batchSize).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          } finally q.stop()
          val maintS = (System.nanoTime() - t0) / 1e9
          val probeS = minOf2(graft.operators.Dedup
            .dedupServeBatch(spark, idx, probe).count())
          val line = f"$tag[buckets=${parquetFiles(s"$idx/buckets")}%-5d " +
            f"shingles=${parquetFiles(s"$idx/shingles")}%-5d " +
            f"dirs=${graft.sources.BatchFold
              .batchDirCount(spark, s"$idx/buckets")}%-3d " +
            f"intake=$maintS%6.1fs probe100=$probeS%5.2fs]"
          rm(new java.io.File(idx)); rm(new java.io.File(out))
          line
        }
        println(f"FOLDAB dedup batches=$nBatches%-4d batchSize=$batchSize%-6d " +
          s"threshold=$threshold " +
          mode("off", 0) + " " + mode("on", threshold))
    }
    spark.stop()
  }
}
