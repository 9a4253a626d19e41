package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * A warm-up pass at sf0.001 first — JVM/JIT, codegen compilation and
  * Hadoop filesystem init otherwise land entirely in whichever query
  * runs first and distort per-query numbers. The timed pass then runs
  * each query once, forcing full materialization via count().
  *
  * Contention guard: queries whose two passes disagree by >3× get a
  * third pass; if no two passes then agree within 3×, the JSON carries
  * `load_suspect: true` + `suspect_queries` so a loaded machine can be
  * told apart from a code regression (the BENCH_r04 failure mode). The
  * stream-rate sections run under the same guard (`suspect_streams`).
  *
  * Load normalization (round 8): a CPU-bound calibration anchor is
  * re-measured every `sectionSize` queries WITHIN each pass, and every
  * query's normalized value is min over passes of (time ÷ its
  * section's calib) — `queries_norm` / `total_norm` /
  * `prod_total_norm`, in calib units. Mid-run load then corrects
  * itself: the section it hits normalizes by its own inflated anchor
  * (the r7 failure mode — two "clean" runs bracketed by stable
  * start/end anchors still disagreed 22%, because the anchors didn't
  * ride the run). `total_norm` is the round-over-round comparison
  * number; raw seconds and the bracketing `total_per_calib` stay for
  * continuity.
  *
  * Gate vs production profiles: the CORRECTNESS gate pins the
  * approximate operators (v2/v4/v5/v8/v9) at probed recall-COMPLETE
  * settings so the exact oracle applies — settings chosen for the
  * oracle, not for users. The bench times BOTH: the gate surface in
  * `queries`/`value`, and the same operators at their production dials
  * in `prod_queries`; `prod_total` is the headline total with the gate
  * profiles swapped for the production ones — the number a user of the
  * library would see.
  */
object Bench {
  /** Pass-to-pass disagreement: ratio of the second-smallest successful
    * time to the smallest — 1.0 when fewer than two passes succeeded.
    * "No two passes agree within `x`" ⇔ spread > x: the min is only
    * trustworthy when some other pass lands near it. */
  private[graft] def passSpread(ts: Seq[Double]): Double = {
    val ok = ts.filter(_ >= 0).sorted
    if (ok.size < 2 || ok.head <= 0) 1.0 else ok(1) / ok.head
  }

  /** Shared at-rest ANN indexes per (corpus dir, encode family) —
    * built once outside the timed passes, so serving lines time
    * SERVING, not index builds. */
  private val annIndexMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def annIndexFor(s: SparkSession, d: String,
                          family: String = "pq"): String =
    annIndexMemo.computeIfAbsent(s"$d|$family", _ => {
      val p = java.nio.file.Files.createTempDirectory(s"graft-bench-annidx-$family").toString
      operators.Similarity.writeAnnIndex(s, d, p, family = family)
      p
    })
  private val servedFamilies = Seq("pq", "residual", "sq8", "bq")

  /** Shared at-rest LSH dedup index per corpus dir (the annIndexMemo
    * pattern — serving lines time PROBING, not index builds). */
  private val dedupIndexMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dedupIndexFor(s: SparkSession, d: String): String =
    dedupIndexMemo.computeIfAbsent(d, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-bench-dedupidx").toString
      operators.Dedup.writeDedupIndex(s, d, p)
      p
    })

  /** Shared maintained-CMS stores per corpus dir — (live, folded): the
    * live store holds 8 `batch_id=` sketch partitions (a mid-stream
    * shape), the folded one a single summed base — so the serve lines
    * time the POINT-LOOKUP path (per-cell sum + broadcast probe join)
    * against both fold states, the d3_lsh_serve treatment applied to
    * the bounded-state frequency service (r16 verdict Next #4). */
  private val cmsStoreMemo = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def cmsStoreFor(s: SparkSession, d: String): (String, String) =
    cmsStoreMemo.computeIfAbsent(d, _ => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      def build(): String = {
        val p = java.nio.file.Files.createTempDirectory("graft-bench-cmsstore").toString
        val docs = graft.Tables.documents(s, d)
        (0 until 8).foreach { i =>
          operators.TextOps.cmsSketchOn(
            docs.filter(pmod(col("doc_id"), lit(8)) === i), 4, 512)
            .withColumn("batch_id", lit(i.toLong))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(p)
        }
        p
      }
      val live = build()
      val folded = build()
      operators.TextOps.foldMaintainedCms(s, folded, excludeBatchId = -999L)
      (live, folded)
    })
  private val cmsProbes = Seq("hash", "join", "scan", "data", "zzz_absent")

  /** Shared at-rest ONE-shard HNSW index per corpus dir (same
    * pattern): the whole corpus in one graph, in the sharded layout. */
  private val hnswIndexMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def hnswIndexFor(s: SparkSession, d: String): String =
    hnswIndexMemo.computeIfAbsent(d, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-bench-hnswidx").toString
      operators.Hnsw.writeHnswIndexSharded(s, d, p, nShards = 1)
      p
    })

  /** Shared at-rest SHARDED HNSW index per corpus dir (same pattern). */
  private val hnswShardedIndexMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def hnswShardedIndexFor(s: SparkSession, d: String): String =
    hnswShardedIndexMemo.computeIfAbsent(d, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-bench-hnswshidx").toString
      operators.Hnsw.writeHnswIndexSharded(s, d, p)
      p
    })

  /** The approximate operators at their PRODUCTION dials (defaults) —
    * keyed with a `_prod` suffix so they ride the same two-pass +
    * contention machinery as the gate surface. `v13_knn_graph_serve`
    * is the deployment-shape extra: the same graph mined FROM the
    * at-rest index (no in-session encode). */
  private val prodFns: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v2_ann_lsh_prod" -> ((s, d) => operators.Similarity.annLsh(s, d)),
    "v4_ann_ivf_prod" -> ((s, d) => operators.Similarity.annIvf(s, d)),
    "v5_near_dup_lsh_prod" -> ((s, d) => operators.Similarity.nearDupLsh(s, d)),
    "v8_ann_pq_prod" -> ((s, d) => operators.Similarity.annPq(s, d)),
    "v9_ann_ivfpq_prod" -> ((s, d) => operators.Similarity.annIvfPq(s, d)),
    "v12_bitext_margin_ann_prod" -> ((s, d) => operators.Similarity.bitextMarginAnn(s, d)),
    "v13_knn_graph_prod" -> ((s, d) => operators.Similarity.knnGraph(s, d)),
    "v13_knn_graph_serve" -> ((s, d) =>
      operators.Similarity.knnGraphServe(s, d, annIndexFor(s, d))),
    "v14_embed_clusters_prod" -> ((s, d) => operators.Similarity.embeddingClusters(s, d, lsh = true)),
    // the four encode families served FROM THE AT-REST index at their
    // production dials — the per-family deployment board (the family is
    // sniffed off each index's schema; sq8's near-exact int8 ranking
    // makes rerank=8 recall-complete, so its served line is also its
    // cheapest)
    "v9_ann_ivfpq_serve" -> ((s, d) =>
      operators.Similarity.annIvfPqServe(s, d, annIndexFor(s, d))),
    "v15_ann_residual_serve" -> ((s, d) =>
      operators.Similarity.annIvfPqServe(s, d, annIndexFor(s, d, "residual"))),
    "v16_ann_sq8_serve" -> ((s, d) =>
      operators.Similarity.annIvfPqServe(s, d, annIndexFor(s, d, "sq8"), rerank = 8)),
    "v17_ann_bq_serve" -> ((s, d) =>
      operators.Similarity.annIvfPqServe(s, d, annIndexFor(s, d, "bq"))),
    // the graph family at its production dial, in-session and served
    // from the at-rest one-shard graph (family #5 — the serve line
    // includes the per-pass graph load: shard residency is invalidated
    // each pass)
    "v18_ann_hnsw_prod" -> ((s, d) => operators.Hnsw.annHnsw(s, d)),
    "v18_ann_hnsw_serve" -> ((s, d) =>
      operators.Hnsw.annHnswServeSharded(s, d, hnswIndexFor(s, d))),
    // the SHARDED graph family (v19): production dial in-session, and
    // the at-rest fan-out serve TWICE — `_serve` is the cold tier
    // (timedPass invalidates shard residency each pass, so this line
    // includes per-shard parquet read + reconstruction, comparable to
    // v18_ann_hnsw_serve's reload-included line), `_serve_resident` is
    // the serving-tier steady state: it sorts after the cold line in
    // the same pass, so every shard graph is already executor-resident
    // and the line times walks + rescore only
    "v19_ann_hnsw_sharded_prod" -> ((s, d) => operators.Hnsw.annHnswSharded(s, d)),
    "v19_ann_hnsw_serve" -> ((s, d) =>
      operators.Hnsw.annHnswServeSharded(s, d, hnswShardedIndexFor(s, d))),
    "v19_ann_hnsw_serve_resident" -> ((s, d) =>
      operators.Hnsw.annHnswServeSharded(s, d, hnswShardedIndexFor(s, d))),
    // dedup-at-intake: a 100-doc batch probed against the corpus's
    // at-rest LSH index — the DEPLOYMENT shape (a bounded arriving
    // batch vs a large index; the shard partition filter actually
    // prunes), mirroring the ANN serve lines' bounded query batches
    "d3_lsh_serve" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      operators.Dedup.dedupServeBatch(s, dedupIndexFor(s, d),
        graft.Tables.documents(s, d)
          .filter(col("doc_id") < 100).select(col("doc_id"), col("text")))
    }),
    // the maintained-CMS serve path: point lookups against the at-rest
    // store mid-stream (8 live batch partitions) and post-fold (one
    // summed base file) — cmsEstimateFrom over maintainedCms, the same
    // estimator the gate's t35 runs in-session
    "t35_cms_serve" -> ((s, d) =>
      operators.TextOps.cmsEstimateFrom(s,
        operators.TextOps.maintainedCms(s, cmsStoreFor(s, d)._1),
        cmsProbes, depth = 4, width = 512)),
    "t35_cms_serve_folded" -> ((s, d) =>
      operators.TextOps.cmsEstimateFrom(s,
        operators.TextOps.maintainedCms(s, cmsStoreFor(s, d)._2),
        cmsProbes, depth = 4, width = 512)),
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = GraftSession.local("graft-bench")
    val allQs = SparkEntry.queries ++ prodFns
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      allQs.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    }
    // build the serving index for the TIMED corpus outside the passes
    servedFamilies.foreach(f =>
      try annIndexFor(spark, sfDir, f) catch { case _: Throwable => () })
    try dedupIndexFor(spark, sfDir) catch { case _: Throwable => () }
    try hnswIndexFor(spark, sfDir) catch { case _: Throwable => () }
    try hnswShardedIndexFor(spark, sfDir) catch { case _: Throwable => () }
    try cmsStoreFor(spark, sfDir) catch { case _: Throwable => () }
    spark.catalog.clearCache() // drop warm-up persists
    // CALIBRATION ANCHOR: a fixed CPU-bound reference job, timed like
    // the queries (min of 2). The within-run spread guard catches
    // BURSTY noise, but SUSTAINED host load (VM neighbors for minutes)
    // shifts every number uniformly with no spread — measured: whole
    // runs 1.4× slower on queries, 6× on stream rates, guards silent.
    // query_time / calib_sec is load-normalized for CPU-bound work, so
    // rounds stay comparable across host weather. Measured TWICE — once
    // here and once after the stream sections (`calib_end_sec`) — so
    // load that starts mid-run (invisible to a single up-front anchor)
    // shows up as drift between the two.
    def calibrate(): Double = try {
      import org.apache.spark.sql.functions.{col, pmod, lit, sum, xxhash64}
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        // pmod keeps the ANSI-mode sum far from Long overflow
        spark.range(0L, 200000000L, 1L, 32)
          .select(pmod(xxhash64(col("id")), lit(1000000L)).as("h"))
          .agg(sum(col("h"))).head
        (System.nanoTime() - t0) / 1e9
      }.min
    } catch { case _: Throwable => -1.0 }
    val calibSec: Double = calibrate()
    // two independent timed passes per query, report the per-query MIN:
    // single-shot timings at this scale carry ±20% of GC/page-cache/JIT
    // noise, which would otherwise dominate round-over-round comparisons
    // pass order: memo TRAINERS first (sorted), then everything else
    // (sorted) — plain alphabetical order stopped satisfying the
    // trainer-before-dependent contract once v12_bitext_margin_ann
    // (sorts before v4/v8) joined the ANN-model dependents
    val passTrainers: Set[String] =
      operators.Dedup.memoTrainers ++ operators.Similarity.memoTrainers ++
        operators.TextOps.memoTrainers
    def passSorted(names: Seq[String]): Seq[String] =
      names.sortBy(n => (if (passTrainers(n)) 0 else 1, n))
    // PER-SECTION INTERLEAVED CALIBRATION (round 8): the start/end
    // anchors bracket the run but don't ride it — two same-day r7 runs
    // with stable bracketing calibs still disagreed 22% per-calib
    // (load that came and went mid-run). Each pass now re-measures the
    // anchor every `sectionSize` queries and every query carries the
    // calib of ITS section; the normalized per-query value is
    // min over passes of (time / section_calib), so a loaded section
    // in one pass is corrected by its own inflated anchor rather than
    // smeared across the run.
    val sectionSize = 12
    val sectionCalibs = scala.collection.mutable.ListBuffer.empty[Double]
    def timedPass(names: Seq[String]): Seq[(String, (Double, Double))] = {
      // each pass starts from a cold shared-model state so d7/v4/v8 are
      // timed as the full train+answer pipeline and d8/v9/the _prod
      // lines as their incremental (serving) cost — within a pass the
      // cluster-label and ANN-model memos are the cross-query reuse a
      // real pipeline gets (dedup labels once; ANN trains models once)
      StampedMemo.clearAll()
      // shard residency starts cold each pass: v19_ann_hnsw_serve then
      // measures the first-touch tier and v19_ann_hnsw_serve_resident
      // (sorted after it) the resident steady state
      operators.Hnsw.ShardGraphCache.invalidate()
      // anchor at every section BOUNDARY; a section's calib is the MEAN
      // of its two surrounding anchors — load ramping mid-section is
      // half-captured by the trailing anchor instead of missed entirely,
      // at the cost of ONE extra calibration per pass
      var cPrev = calibrate()
      sectionCalibs += cPrev
      passSorted(names).grouped(sectionSize).flatMap { section =>
        val timed = section.map { name =>
          val fn = allQs(name)
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          // operators persist small intermediates internally; clear between
          // queries so timings are independent of bench order / cache churn
          spark.catalog.clearCache()
          // a crashed query must not masquerade as a fast success — report -1
          name -> (if (ok) dt else -1.0)
        }
        val cNext = calibrate()
        sectionCalibs += cNext
        val calib =
          if (cPrev > 0 && cNext > 0) (cPrev + cNext) / 2
          else math.max(cPrev, cNext) // one anchor failed: use the other
        cPrev = cNext
        timed.map { case (name, t) => name -> ((t, calib)) }
      }.toSeq
    }
    val gateNames = SparkEntry.queries.keys.toSeq.sorted
    val allNames = allQs.keys.toSeq.sorted
    var passes = Seq(timedPass(allNames), timedPass(allNames)).map(_.toMap)
    // CONTENTION GUARD: a shared/loaded machine shows up as wild
    // pass-to-pass spread on multi-stage queries (BENCH_r04 post-mortem:
    // 5-50× blowups that idle re-timing could not reproduce). When the
    // two passes disagree by >3×, re-time those queries in a third pass;
    // if even then no two passes agree within 3×, flag the run as
    // load-suspect instead of letting the number masquerade as a code
    // regression.
    val disagree = allNames.filter { n =>
      val ts = passes.map(_(n)._1); ts.forall(_ >= 0) && passSpread(ts) > 3.0
    }
    if (disagree.nonEmpty) {
      // memo-warm environments must be reproduced in the partial third
      // pass: d8 reuses d7's cluster labels, v9/_prod lines reuse the
      // ANN models v4/v8 train — re-timing a dependent alone from a
      // cold memo would structurally include training cost and could
      // fake (or fail to clear) a contention signal. Adding the
      // trainers to the pass suffices: timedPass runs trainers FIRST
      // (passSorted — declared memoTrainers sort ahead of everything,
      // alphabetical within each group). Trainer timings from this pass
      // are discarded below unless the trainer itself disagreed. The
      // pairs are declared by the memo owners (Dedup/Similarity, next
      // to the memos) — a new memo-sharing query registers its
      // dependency there, not here.
      val memoDeps: Map[String, Seq[String]] =
        operators.Dedup.memoDeps ++ operators.Similarity.memoDeps ++
          operators.TextOps.memoDeps
      for ((dep, trainers) <- memoDeps; t <- trainers) {
        require(passTrainers(t), s"$t is named as a trainer for $dep but " +
          "not declared in its owner's memoTrainers (passSorted would not " +
          "run it before its dependents)")
        require(!passTrainers(dep) || t < dep,
          s"trainer-on-trainer dependency $t -> $dep must sort t first")
      }
      val third =
        (disagree.flatMap(n => memoDeps.getOrElse(n, Nil)) ++ disagree).distinct
      val p3 = timedPass(third).toMap
      passes = passes :+ disagree.map(n => n -> p3(n)).toMap
    }
    def timesOf(name: String): Seq[Double] = passes.flatMap(_.get(name)).map(_._1)
    val suspectQueries = disagree.filter(n => passSpread(timesOf(n)) > 3.0)
    def minOf(name: String): Double = {
      val ts = timesOf(name)
      // -1 (crash) wins over any timing: a query that failed any pass
      // is reported failed
      if (ts.exists(_ < 0)) -1.0 else ts.min
    }
    // load-normalized per-query value: min over passes of
    // (time ÷ THAT pass's section calib) — same calib units as
    // total_per_calib (the 200M-row anchor), so a round-over-round
    // compare of `queries_norm`/`total_norm` needs no further arithmetic
    def normMinOf(name: String): Double = {
      val obs = passes.flatMap(_.get(name))
      if (obs.exists(_._1 < 0)) -1.0
      else {
        val ns = obs.collect { case (t, c) if t >= 0 && c > 0 => t / c }
        if (ns.isEmpty) -1.0 else math.round(ns.min * 10000) / 10000.0
      }
    }
    val results = gateNames.map(n => n -> minOf(n))
    val prodResults = prodFns.keys.toSeq.sorted.map(n => n -> minOf(n))
    val normResults = gateNames.map(n => n -> normMinOf(n))
    val prodNormResults = prodFns.keys.toSeq.sorted.map(n => n -> normMinOf(n))
    def jsonMap(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jsonMap(results)
    val prodQs = jsonMap(prodResults)
    val qsNorm = jsonMap(normResults)
    val prodQsNorm = jsonMap(prodNormResults)
    // headline total covers successful queries only — a crashed query's
    // -1 sentinel must not subtract from (i.e. flatter) the total; it is
    // reported separately in "failed" so a crash is loud, not invisible
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // the user-facing total: gate profiles swapped for production dials.
    // NO silent fallback: a query whose chosen line (prod where one
    // exists, gate otherwise) crashed contributes nothing here and is
    // listed in "failed" — substituting the gate time for a crashed
    // prod line would inflate the number advertised as production cost.
    val prodByGate = prodResults.toMap.map { case (k, v) =>
      k.stripSuffix("_prod") -> v }
    val prodTotal = results.collect {
      case (n, v) if prodByGate.getOrElse(n, v) >= 0 => prodByGate.getOrElse(n, v)
    }.sum
    // normalized totals: Σ of the per-query normalized minima — each
    // term corrected by its own section's calib, so mid-run load
    // inflates neither the term it hit (its calib grew too) nor the
    // rest of the run (their calibs didn't)
    val totalNorm = math.round(normResults.collect {
      case (_, v) if v >= 0 => v }.sum * 1000) / 1000.0
    val prodNormByGate = prodNormResults.toMap.map { case (k, v) =>
      k.stripSuffix("_prod") -> v }
    val prodTotalNorm = math.round(normResults.collect {
      case (n, v) if prodNormByGate.getOrElse(n, v) >= 0 =>
        prodNormByGate.getOrElse(n, v)
    }.sum * 1000) / 1000.0
    val failed = (results ++ prodResults).collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // file-stream sources need a directory; expose a single parquet file
    // through a temp-dir symlink (shared by the streaming sections)
    def streamOf(name: String) = {
      val schema = spark.read.parquet(s"$sfDir/$name.parquet").schema
      val d = java.nio.file.Files.createTempDirectory(s"graft-bench-$name")
      java.nio.file.Files.createSymbolicLink(
        d.resolve(s"$name.parquet"),
        java.nio.file.Paths.get(s"$sfDir/$name.parquet"))
      spark.readStream.schema(schema).parquet(d.toString)
    }
    // run a streaming query with the state shuffle sized to the batch
    // volume: at these row counts more partitions just multiply
    // per-partition store-commit overhead (profiled by ProfileStream,
    // a main last at df0f5b7). The count is pinned into the checkpoint at
    // first batch (planned asynchronously after start()), so only
    // restore the conf once the query has fully stopped.
    def timedStream(partitions: Int)(start: () => org.apache.spark.sql.streaming.StreamingQuery): Double = {
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      // stop in finally: if processAllAvailable throws, the query must
      // not keep running (and pinning the conf) into later timed passes
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        val t0 = System.nanoTime()
        q = start()
        q.processAllAvailable()
        q.stop() // in the timed window — keeps methodology comparable
        (System.nanoTime() - t0) / 1e9
      } finally {
        // safety net for the failure path only (stop() is idempotent)
        if (q != null) { try q.stop() catch { case _: Throwable => () } }
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
    }
    // STREAM CONTENTION GUARD (the query machinery, rate-shaped): two
    // attempts per section, best (max) rate reported — each attempt gets
    // a FRESH checkpoint so no state is reused. If the top two
    // successful rates disagree by >3×, a third attempt decides; still
    // >3× → the section lands in `suspect_streams` (r5's dau-HDFS 3×
    // drop was unjudgeable because the rates were single-guarded). A
    // crash counts as -1 for that attempt only.
    val suspectStreams = scala.collection.mutable.ListBuffer.empty[String]
    // LOUD CRASHES (round 7): r6 shipped rc:0 / failed:[] while both DAU
    // sections were dead (-1 from every attempt, no message — the NTZ
    // regression went invisible). Any section whose every attempt threw
    // now lands in `failed_streams` with its exception, so a dead
    // section can never again ship as a quiet sentinel.
    val failedStreams = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def recordStreamFailure(name: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        .replaceAll("\\s+", " ").take(300)
      failedStreams(name) = s"${e.getClass.getSimpleName}: $msg"
    }
    def guardedRate(name: String)(run: () => Double): Double = {
      var lastErr: Throwable = null
      def one(): Double = try run() catch { case e: Throwable => lastErr = e; -1.0 }
      def spread(xs: Seq[Double]): Double = {
        val ok = xs.filter(_ > 0).sorted(Ordering[Double].reverse)
        if (ok.size < 2) 1.0 else ok.head / ok(1)
      }
      var rs = Seq(one(), one())
      if (spread(rs) > 3.0) rs = rs :+ one()
      if (spread(rs) > 3.0) suspectStreams += name
      if (rs.max <= 0 && lastErr != null) recordStreamFailure(name, lastErr)
      rs.max
    }
    // STREAM LOAD NORMALIZATION (round 9): queries got per-section
    // calib-normalized values in round 8; stream rows/s did not, and
    // the r8 artifact shipped dau lines ~2× under the committed clean
    // run because neighbor load has no normalized axis for rates. Each
    // stream section now measures its own CPU anchor right before it
    // runs, and the normalized rate is rate × that calib — "rows per
    // calibration job", the rate-shaped mirror of time ÷ calib: load
    // slows the section AND inflates its anchor, so the product holds
    // steady for the CPU-bound share of the work (the residual
    // shuffle/IO noise stays, as the r8 study measured for queries).
    val streamCalibs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // outer wrapper for each stream section: setup code outside
    // guardedRate (counts, schema reads) can also throw — same rule,
    // named + messaged, never a bare -1. Also anchors the section's
    // calib for the normalized rate — measured BEFORE and AFTER the
    // section and averaged (the query sections' boundary-mean scheme):
    // a single pre-section sample left the normalized rate noisier
    // than the raw one when load shifted mid-section.
    def streamSection(name: String)(body: => Double): Double = {
      val c0 = calibrate()
      val r = try body catch { case e: Throwable => recordStreamFailure(name, e); -1.0 }
      val c1 = calibrate()
      streamCalibs(name) =
        if (c0 > 0 && c1 > 0) (c0 + c1) / 2 else math.max(c0, c1)
      r
    }
    // streaming throughput: the DAU pipeline through a REAL streaming
    // query — file-stream source → watermark → state-store dedup → noop
    // sink (a batch DataFrame would take Pipelines' non-streaming
    // branch and skip the state store entirely). The reference's
    // envelope is "fits a 5 s trigger on 4 cores" (BASELINE.md);
    // rows/sec makes that comparable.
    //
    // INPUT SIZING (round 6): the sf0.1 events table is ~100k rows —
    // one micro-batch whose wall is dominated by fixed startup (plan
    // compile + first state-store open, ~1-3 s), so the reported "rate"
    // swung 4× between idle runs with IDENTICAL CPU calibrations
    // (r5's dau-HDFS 29.7k and an r6 repro both trace to this, not to
    // contention or a store regression — ProfileStreamIo, a main last
    // at df0f5b7, measured it: fsync latency flat, warm walls converge once input is ×10).
    // Each single-batch section therefore replicates its input with an
    // EXPANDED key space (real state growth, not re-dedup of the same
    // keys) until sustained throughput dominates the fixed cost.
    val dauRep = 10
    def dauRate(name: String): Double = {
      val n = Tables.events(spark, sfDir).count() * dauRep
      guardedRate(name) { () =>
        val ev = Tables.normalizeEventTs(streamOf("events"))
          .selectExpr("*", s"explode(sequence(0, ${dauRep - 1})) as r")
          .selectExpr("concat(cast(user_id as string), '#', r) as mid", "ts")
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-ckpt").toString
        val sec = timedStream(partitions = 8) { () =>
          streaming.Pipelines.dauFirstVisits(ev)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .start()
        }
        n / sec
      }
    }
    val streamRate = streamSection("stream_dau") { dauRate("stream_dau") }
    // the RocksDB state store — the provider the engine would run on at
    // 1e9-key scale (GraftSession.streamingTune default for the drive
    // mains); benchmark both so a store-side regression is visible.
    // providerClass is a runtime SQL conf pinned into each query's
    // checkpoint at first batch, so flipping it between fully-stopped
    // queries is safe.
    def withRocks[A](body: => A): A = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val streamRateRocks = streamSection("stream_dau_rocksdb") {
      withRocks(dauRate("stream_dau_rocksdb"))
    }
    // order-wide stream throughput (the reference's DWS core, J1/W1/F5):
    // lineitem+orders as two file streams through Pipelines.orderWide,
    // the fused join + apportion the pipelines run. The corpus's
    // synthetic ship/order dates are ±2400 days apart, so event time
    // derives from the join key on both sides (same value → pairs land
    // inside the 20 s skew window) — the keyed-state update and
    // watermark-timeout path is exercised with the real 1:N key
    // distribution; only the timestamps are manufactured. Rows/sec over
    // total input rows; paired-row count is accumulated and a
    // zero-match run reports -1 instead of a rate.
    val streamJoinRate: Double = streamSection("stream_join") {
      import org.apache.spark.sql.functions._
      val nIn = spark.read.parquet(s"$sfDir/lineitem.parquet").count() +
        spark.read.parquet(s"$sfDir/orders.parquet").count()
      def keyTime(key: org.apache.spark.sql.Column) =
        timestamp_seconds(lit(1700000000L) + key % 86400)
      import spark.implicits._
      val oi = streamOf("orders").select(
        col("o_orderkey").as("id"), col("o_custkey").as("user_id"),
        lit(0L).as("province_id"), col("o_orderstatus").as("order_status"),
        col("o_totalprice").as("final_total_amount"),
        col("o_totalprice").as("original_total_amount"),
        keyTime(col("o_orderkey")).as("create_time")).as[streaming.OrderInfo]
      val od = streamOf("lineitem").select(
        xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey")).as("id"),
        col("l_orderkey").as("order_id"), col("l_partkey").as("sku_id"),
        col("l_quantity").cast("long").as("sku_num"),
        col("l_extendedprice").as("order_price"),
        keyTime(col("l_orderkey")).as("create_time")).as[streaming.OrderDetail]
      guardedRate("stream_join") { () =>
        val acc = spark.sparkContext.longAccumulator("graft-bench-joined")
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-jckpt").toString
        val sec = timedStream(partitions = 16) { () =>
          streaming.Pipelines.orderWide(oi, od)
            .writeStream
            .foreachBatch((b: org.apache.spark.sql.Dataset[streaming.OrderWideSplit], _: Long) =>
              acc.add(b.count()))
            .option("checkpointLocation", ckpt)
            .start()
        }
        if (acc.value == 0L) -1.0 else nIn / sec
      }
    }
    // streaming CDC apply (q30's incremental twin): keyed
    // flatMapGroupsWithState over the full events stream — the
    // last-writer-wins state-update path with one state row per key.
    val streamCdcRate: Double = streamSection("stream_cdc_apply") {
      // ×10 with an expanded user key space (the dau sizing rationale):
      // 10× state rows, 10× update traffic through the keyed state path
      val cdcRep = 10
      val n = Tables.events(spark, sfDir).count() * cdcRep
      guardedRate("stream_cdc_apply") { () =>
        val ev = Tables.normalizeEventTs(streamOf("events"))
          .selectExpr("*", s"explode(sequence(0, ${cdcRep - 1})) as r")
          .selectExpr(
            "event_id * 10 + r as event_id", "user_id * 10 + r as user_id",
            "ts", "event_type", "value", "props")
        // processed-rows guard (the join bench's accumulator pattern): an
        // empty/misconfigured stream must report the -1 sentinel, not an
        // inflated n/sec over near-zero wall time
        val acc = spark.sparkContext.longAccumulator("graft-bench-cdc")
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-cckpt").toString
        val sec = timedStream(partitions = 8) { () =>
          streaming.Pipelines.cdcApplyStream(ev)
            .writeStream
            .foreachBatch((b: org.apache.spark.sql.Dataset[streaming.CdcRow], _: Long) =>
              acc.add(b.count()))
            .option("checkpointLocation", ckpt)
            .start()
        }
        if (acc.value == 0L) -1.0 else n / sec
      }
    }
    // streaming heavy hitters on RocksDB: the windowed (window, gram)
    // count state is exactly what grows at 1e9-key scale — documents
    // exploded to a gram stream (the t18 vocabulary) with synthetic
    // event time spreading docs across five 1-minute windows; rate over
    // input GRAM rows. Output is the aggregate relation (guard counts
    // emitted windows — zero emissions = misconfigured watermark, -1).
    val streamHhRate: Double = streamSection("stream_heavy_hitters_rocksdb") {
      import org.apache.spark.sql.functions._
      // ×4 via a window shift (the dau sizing rationale): 4× gram rows
      // AND 4× (window, gram) state keys — replicas land in disjoint
      // 1-minute windows, so this grows state, not per-key counts
      val hhRep = 4
      val nGrams = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(operators.TextOps.tokens(col("text")))).count() * hhRep
      withRocks {
        guardedRate("stream_heavy_hitters_rocksdb") { () =>
          val grams = streamOf("documents")
            .selectExpr("*", s"explode(sequence(0, ${hhRep - 1})) as r")
            .select(
              explode(operators.TextOps.tokens(col("text"))).as("gram"),
              timestamp_seconds(lit(1700000000L) + col("doc_id") % 300 +
                col("r") * 300).as("ts"))
          val acc = spark.sparkContext.longAccumulator("graft-bench-hh")
          val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-hckpt").toString
          val sec = timedStream(partitions = 8) { () =>
            streaming.Pipelines.heavyHittersWindowed(grams)
              .writeStream.outputMode("append")
              .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
                acc.add(b.count()))
              .option("checkpointLocation", ckpt)
              .start()
          }
          if (acc.value == 0L) -1.0 else nGrams / sec
        }
      }
    }
    // streaming CMS over the SAME ×4-replicated document feed the
    // heavy-hitters line tokenizes: the CONSTANT-state twin — ≤
    // depth×width counter rows total (HDFS store suffices) where the
    // line above grows per-(window, gram) state; rate over the same
    // input token rows, so the two lines price exact-vs-sketch
    // lifetime counting on identical traffic. Update mode: a counter
    // re-emits whenever it grows.
    val streamCmsRate: Double = streamSection("stream_cms_sketch") {
      import org.apache.spark.sql.functions._
      val cmsRep = 4
      val nToks = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(operators.TextOps.tokens(col("text")))).count() * cmsRep
      guardedRate("stream_cms_sketch") { () =>
        val docs = streamOf("documents")
          .selectExpr("text", s"explode(sequence(0, ${cmsRep - 1})) as r")
          .select(col("text"))
        val acc = spark.sparkContext.longAccumulator("graft-bench-cms")
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-cmsckpt").toString
        val sec = timedStream(partitions = 8) { () =>
          streaming.Pipelines.cmsSketchStream(docs)
            .writeStream.outputMode("update")
            .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
              acc.add(b.count()))
            .option("checkpointLocation", ckpt)
            .start()
        }
        if (acc.value == 0L) -1.0 else nToks / sec
      }
    }
    // the maintained-CMS deployment twin (round 16): the same sf
    // documents through cmsMaintainQuery — per-batch sketch under
    // batch_id partitions + the in-loop sum-fold — so the AT-REST
    // frequency store's intake cost is round-over-round comparable
    // alongside the in-session state twin above. Guard: maintained
    // sums must be non-empty (a file-less store = a dead loop).
    val streamCmsMaintainRate: Double = streamSection("stream_cms_maintain") {
      import org.apache.spark.sql.functions._
      val nToks = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(operators.TextOps.tokens(col("text")))).count()
      guardedRate("stream_cms_maintain") { () =>
        val cmsDir = java.nio.file.Files
          .createTempDirectory("graft-bench-cmsstore").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-bench-cmsmckpt").toString
        val docs = streamOf("documents").select(col("doc_id"), col("text"))
        val sec = timedStream(partitions = 8) { () =>
          streaming.Runner.cmsMaintainQuery(spark, cmsDir, docs, ckpt,
            compactEveryBatches = 3)
        }
        val cells = operators.TextOps.maintainedCms(spark, cmsDir).count()
        if (cells == 0L) -1.0 else nToks / sec
      }
    }
    // the full LAYERED topology as three concurrent chained streaming
    // queries (router → fused join+apportion → trademark agg over file
    // edges — streaming/Topology.scala): end-to-end chain throughput
    // over the CDC input lines, wall-clock from first stage start to
    // final stage drained (startup + commit-log handshakes included —
    // that IS the chain's latency). Output guard: zero brands in the
    // final agg = a dead stage, -1.
    val streamTopologyRate: Double = streamSection("stream_topology") {
      import org.apache.spark.sql.functions.col
      val fixDir = java.nio.file.Files.createTempDirectory("graft-bench-topofix").toString
      val n = streaming.Topology.writeCdcFixture(spark, sfDir, fixDir)
      guardedRate("stream_topology") { () =>
        val root = java.nio.file.Files.createTempDirectory("graft-bench-topo").toString
        val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try {
          val t0 = System.nanoTime()
          val chain = streaming.Topology.start(spark, fixDir,
            s"$root/routed", s"$root/wide", s"$root/agg", s"$root/ckpt",
            () => Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")))
          try { chain.drain() } finally chain.stopAll()
          val sec = (System.nanoTime() - t0) / 1e9
          if (spark.read.parquet(s"$root/agg").isEmpty) -1.0 else n / sec
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      }
    }
    // the two streaming INTAKE loops — the library's flagship
    // deployment shapes (r9 verdict Next #2: measured ad hoc in the
    // round-9 intake study (SCALE.md's TimeDedupServe record), now
    // round-over-round comparable on the artifact). The documents
    // table is split into 4 files and fed as 4 micro-batches
    // (maxFilesPerTrigger=1): each batch probes the index maintained
    // by the PREVIOUS batches, so the measured path is the real loop
    // (probe + intra-batch first-wins + two exactly-once sinks), not
    // a single-batch special case. Rate over
    // input docs; fresh index/decisions/checkpoint per attempt (a
    // reused index would change the work); the 4-file fixture is
    // shared, built once untimed. Guard: one decision row per doc, or
    // -1. For curate_intake the NB model + eval-gram builds land
    // INSIDE the timed window (they amortize over a real stream's
    // lifetime, but belong in an honest single-feed number — the
    // round-9 intake study's convention).
    val intakeFixtureMemo = new java.util.concurrent.atomic.AtomicReference[String]()
    def intakeFixture(): String = {
      import org.apache.spark.sql.functions.col
      if (intakeFixtureMemo.get == null) {
        val d = java.nio.file.Files.createTempDirectory("graft-bench-intakefix").toString
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
          .repartition(4).write.mode("overwrite").parquet(d)
        intakeFixtureMemo.set(d)
      }
      intakeFixtureMemo.get
    }
    def intakeRate(name: String, fix: String)(
        start: (DataFrame, String, String, String) =>
          org.apache.spark.sql.streaming.StreamingQuery): Double = {
      val nDocs = spark.read.parquet(fix).count()
      val schema = spark.read.parquet(fix).schema
      guardedRate(name) { () =>
        val idx = java.nio.file.Files.createTempDirectory(s"graft-bench-$name-idx").toString
        val out = java.nio.file.Files.createTempDirectory(s"graft-bench-$name-out").toString
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft-bench-$name-ckpt").toString
        val docStream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(fix)
        val sec = timedStream(partitions = 8) { () =>
          start(docStream, idx, out, ckpt)
        }
        if (spark.read.parquet(out).count() != nDocs) -1.0 else nDocs / sec
      }
    }
    val streamDedupIntakeRate: Double = streamSection("stream_dedup_intake") {
      intakeRate("stream_dedup_intake", intakeFixture())((ds, idx, out, ckpt) =>
        streaming.Runner.dedupIntakeQuery(spark, idx, ds, out, ckpt))
    }
    val streamCurateIntakeRate: Double = streamSection("stream_curate_intake") {
      intakeRate("stream_curate_intake", intakeFixture())((ds, idx, out, ckpt) =>
        streaming.Runner.curateIntakeQuery(spark, sfDir, idx, ds, out, ckpt))
    }
    // amortized intake (r10 verdict Next #7): the 4-file sf feed above
    // measures the ~15-job/trigger FIXED-COST FLOOR (1,250 docs per
    // trigger at sf0.1); production batches are bigger, and the
    // round-10 intake study (SCALE.md) showed docs/s rising with batch
    // size until stage work dominates. Carry that amortized point on
    // the artifact: ONE 20 k-doc trigger over the SyntheticDocs corpus
    // (distinct ~40-token docs, ~2% near-dups — replicating the 5 000
    // testdata docs would drown the dup path with exact copies). Models and
    // eval-dicts still build from sfDir inside the timed window, the
    // honest single-feed convention shared with the lines above.
    val intake20kFixtureMemo = new java.util.concurrent.atomic.AtomicReference[String]()
    def intake20kFixture(): String = {
      if (intake20kFixtureMemo.get == null) {
        val d = java.nio.file.Files.createTempDirectory("graft-bench-intake20k").toString
        sources.SyntheticDocs.corpus(spark, 20000L).coalesce(1)
          .write.mode("overwrite").parquet(d)
        intake20kFixtureMemo.set(d)
      }
      intake20kFixtureMemo.get
    }
    val streamCurateIntake20kRate: Double = streamSection("stream_curate_intake_20k") {
      intakeRate("stream_curate_intake_20k", intake20kFixture())((ds, idx, out, ckpt) =>
        streaming.Runner.curateIntakeQuery(spark, sfDir, idx, ds, out, ckpt))
    }
    // amortized DEDUP intake (r14 verdict Next #4): the 4-file sf feed
    // above prices the loop's fixed trigger cost only (~318 docs/s);
    // one 20 k-doc trigger over the same SyntheticDocs corpus carries
    // the amortized sustained point, the curate_intake_20k precedent
    // applied to the bare dedup loop (probe + first-wins + two
    // exactly-once sinks, no NB/decontam stages).
    val streamDedupIntake20kRate: Double = streamSection("stream_dedup_intake_20k") {
      intakeRate("stream_dedup_intake_20k", intake20kFixture())((ds, idx, out, ckpt) =>
        streaming.Runner.dedupIntakeQuery(spark, idx, ds, out, ckpt))
    }
    // streaming graph maintenance (round 15): the sf events table fed
    // in ONE trigger through transitionStream (keyed last-event state)
    // + pageRankMaintainQuery (edge-count partitions + per-trigger
    // 10-iteration rank recompute). Like hnsw_serve, the line prices
    // the LOOP (state pass + edge write + recompute floor) — the
    // recompute itself is the q36 batch operator, already timed on the
    // gate; rate over input event rows. Guard: ranks must exist with
    // every observed node ranked.
    val streamPageRankRate: Double = streamSection("stream_pagerank_maintain") {
      import org.apache.spark.sql.functions.col
      val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
      guardedRate("stream_pagerank_maintain") { () =>
        val graphDir = java.nio.file.Files
          .createTempDirectory("graft-bench-prgraph").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-bench-prckpt").toString
        val feed = streamOf("events").select(col("user_id"),
          col("ts").cast("timestamp").as("ts"), col("event_id"),
          col("event_type"))
        val sec = timedStream(partitions = 8) { () =>
          streaming.Runner.pageRankMaintainQuery(spark, graphDir,
            streaming.Pipelines.transitionStream(feed).toDF(), ckpt)
        }
        val ranked = spark.read.parquet(s"$graphDir/ranks").count()
        if (ranked == 0L) -1.0 else nEvents / sec
      }
    }
    // streaming COMPONENTS maintenance (round 17, the r16 verdict's
    // Next #3): the sf corpus's bigram edge feed in 4 micro-batches
    // through componentsMaintainQuery — the pageRank loop's store and
    // fold with the recompute swapped for min-label components. Like
    // stream_pagerank_maintain this prices the LOOP (edge write + fold
    // + per-trigger recompute floor); the recompute is the q37 batch
    // operator, already timed on the gate. Rate over input edge rows.
    // Guard: every node of the fed graph must come out labeled.
    val streamComponentsRate: Double = streamSection("stream_components_maintain") {
      import org.apache.spark.sql.functions.col
      val fix = {
        val d = java.nio.file.Files.createTempDirectory("graft-bench-ccfix").toString
        operators.GraphOps.bigramEdges(spark, sfDir)
          .repartition(4).write.mode("overwrite").parquet(d)
        d
      }
      val nEdges = spark.read.parquet(fix).count()
      val nNodes = spark.read.parquet(fix).select(col("src").as("n"))
        .union(spark.read.parquet(fix).select(col("dst"))).distinct().count()
      val schema = spark.read.parquet(fix).schema
      guardedRate("stream_components_maintain") { () =>
        val graphDir = java.nio.file.Files
          .createTempDirectory("graft-bench-ccgraph").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-bench-ccckpt").toString
        val pairStream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(fix)
        val sec = timedStream(partitions = 8) { () =>
          streaming.Runner.componentsMaintainQuery(spark, graphDir,
            pairStream, ckpt)
        }
        val labeled = spark.read.parquet(s"$graphDir/labels").count()
        if (labeled != nNodes) -1.0 else nEdges / sec
      }
    }
    // the same loop at recompute cadence 3 (r17 verdict Next #1's
    // done-criterion): 4 micro-batches recompute at batch ids 0 and 3
    // instead of all four — the line quantifies the floor lift the
    // web-scale dial buys (the final batch id falls ON the cadence, so
    // the every-node-labeled guard still holds). Same fixture shape as
    // the cadence-1 line above for direct comparison.
    val streamComponentsC3Rate: Double = streamSection("stream_components_maintain_c3") {
      import org.apache.spark.sql.functions.col
      val fix = {
        val d = java.nio.file.Files.createTempDirectory("graft-bench-ccfix3").toString
        operators.GraphOps.bigramEdges(spark, sfDir)
          .repartition(4).write.mode("overwrite").parquet(d)
        d
      }
      val nEdges = spark.read.parquet(fix).count()
      val nNodes = spark.read.parquet(fix).select(col("src").as("n"))
        .union(spark.read.parquet(fix).select(col("dst"))).distinct().count()
      val schema = spark.read.parquet(fix).schema
      guardedRate("stream_components_maintain_c3") { () =>
        val graphDir = java.nio.file.Files
          .createTempDirectory("graft-bench-ccgraph3").toString
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-bench-ccckpt3").toString
        val pairStream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(fix)
        val sec = timedStream(partitions = 8) { () =>
          streaming.Runner.componentsMaintainQuery(spark, graphDir,
            pairStream, ckpt, recomputeEveryBatches = 3)
        }
        val labeled = spark.read.parquet(s"$graphDir/labels").count()
        if (labeled != nNodes) -1.0 else nEdges / sec
      }
    }
    // streaming HNSW index maintenance (round 13): the sf embedding
    // table fed as 4 micro-batches through hnswMaintainQuery's
    // LSM-segment default, a fresh index per attempt. Like the intake
    // floors, sf-scale input (2 k vectors at sf0.1) makes this the
    // FIXED-COST FLOOR of the loop (checkpoint + per-batch left-anti +
    // one small segment build/write per trigger), carried on the
    // artifact so the maintain path is round-over-round comparable;
    // SCALE.md's maintain A/B prices the sustained 1e6-base shape.
    // Guard: every fed vector indexed exactly once (level-0 count).
    val streamHnswMaintainRate: Double = streamSection("stream_hnsw_maintain") {
      import org.apache.spark.sql.functions.col
      val fix = {
        val d = java.nio.file.Files.createTempDirectory("graft-bench-hnswfix").toString
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
          .repartition(4).write.mode("overwrite").parquet(d)
        d
      }
      val nVecs = spark.read.parquet(fix).count()
      val schema = spark.read.parquet(fix).schema
      guardedRate("stream_hnsw_maintain") { () =>
        val idx = java.nio.file.Files.createTempDirectory("graft-bench-hnswidx").toString
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-hnswckpt").toString
        val vecStream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(fix)
        val sec = timedStream(partitions = 8) { () =>
          streaming.Runner.hnswMaintainQuery(spark, idx, vecStream, ckpt)
        }
        val indexed = spark.read.parquet(s"$idx/graph")
          .filter(col("level") === 0).count()
        if (indexed != nVecs) -1.0 else nVecs / sec
      }
    }
    // amortized HNSW maintain (r13 verdict Next #6): the sf-table feed
    // above is the FIXED-COST FLOOR (~500 vectors/trigger at sf0.1 —
    // checkpoint + diff + one tiny segment build per trigger);
    // production maintain batches are bigger and the segment path's
    // cost is BATCH-sized, so the floor under-reports sustained
    // throughput exactly the way the intake floor did (the 20 k-doc
    // precedent above). Carry the amortized point: ONE 20 k-vector
    // trigger of clustered hash-jittered synthetic embeddings (the
    // corpus shape of SCALE.md's DriveHnswScale rungs — the sf table is too small for an
    // amortized feed), fresh index per attempt. Guard: every fed
    // vector indexed exactly once (level-0 count).
    val streamHnswMaintain20kRate: Double = streamSection("stream_hnsw_maintain_20k") {
      import org.apache.spark.sql.functions._
      val nVecs = 20000L
      val fix = {
        val d = java.nio.file.Files.createTempDirectory("graft-bench-hnsw20k").toString
        val dim = 64
        spark.range(nVecs).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)), i => {
            val grp = pmod(col("id"), lit(64))
            val center = pmod(grp * (i + 7) + grp * grp * 13, lit(401))
              .cast("double") - 200.0
            (center + pmod(xxhash64(col("id"), i), lit(160000)).cast("double")
              / 10000.0 - 8.0).cast("float")
          }).as("embedding"))
          .coalesce(1).write.mode("overwrite").parquet(d)
        d
      }
      val schema = spark.read.parquet(fix).schema
      guardedRate("stream_hnsw_maintain_20k") { () =>
        val idx = java.nio.file.Files.createTempDirectory("graft-bench-hnsw20kidx").toString
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-hnsw20kckpt").toString
        val vecStream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(fix)
        val sec = timedStream(partitions = 8) { () =>
          streaming.Runner.hnswMaintainQuery(spark, idx, vecStream, ckpt)
        }
        val indexed = spark.read.parquet(s"$idx/graph")
          .filter(col("level") === 0).count()
        if (indexed != nVecs) -1.0 else nVecs / sec
      }
    }
    // ONLINE HNSW serving (r13 verdict Next #3): a (query_id,
    // embedding) stream answered per micro-batch from the AT-REST
    // sharded index (hnswServeQuery → annHnswServeShardedQueries
    // through ShardGraphCache) — the deployment a vector store runs.
    // Two ~50-query batches against the bench's prebuilt sf index;
    // shard residency persists across attempts (the production steady
    // state — the serving tier stays warm), so this line prices walks
    // + rescore + the K5 sink, not reconstruction
    // (v19_ann_hnsw_serve carries the cold tier). Rate over query
    // rows. Guard: exactly k answers for every query across both
    // batches.
    val streamHnswServeRate: Double = streamSection("stream_hnsw_serve") {
      import org.apache.spark.sql.functions.col
      val idx = hnswShardedIndexFor(spark, sfDir)
      val nQ = math.min(100L,
        spark.read.parquet(s"$sfDir/embeddings.parquet").count())
      val fix = {
        val d = java.nio.file.Files.createTempDirectory("graft-bench-hnswsrvfix").toString
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") < nQ)
          .select(col("vec_id").as("query_id"), col("embedding"))
          .repartition(2).write.mode("overwrite").parquet(d)
        d
      }
      val schema = spark.read.parquet(fix).schema
      guardedRate("stream_hnsw_serve") { () =>
        val out = java.nio.file.Files.createTempDirectory("graft-bench-hnswsrvout").toString
        val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-hnswsrvckpt").toString
        val qStream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(fix)
        val sec = timedStream(partitions = 8) { () =>
          streaming.Runner.hnswServeQuery(spark, idx, qStream, out, ckpt)
        }
        val answers = spark.read.parquet(out)
        if (answers.count() != nQ * 5 ||
            answers.select(col("query_id")).distinct().count() != nQ) -1.0
        else nQ / sec
      }
    }
    // second anchor: sustained load that began after the first
    // calibration (mid-queries or mid-streams) is only visible here —
    // compare calib_end_sec to calib_sec before trusting a slow run
    val calibEndSec: Double = calibrate()
    // local[4] parity (round 12, r11 verdict Next #5): the reference
    // runs every app on a Seconds(5) clock at local[4]; drive the full
    // layered chain under exactly that envelope and carry the busy-
    // trigger latency on the artifact, so the reference-envelope check
    // is tracked round-over-round instead of living in one SCALE.md
    // measurement. Runs LAST on its OWN local[4] session (the main
    // local[32] session is stopped first — one SparkContext per JVM),
    // so it cannot disturb any timed section above; nothing below this
    // point may use the main `spark`. Fields are -1 when the run threw
    // or the chain failed its cent-for-cent gate (a latency from a
    // chain that got the answer wrong is not a parity number).
    // SECTION CALIB FOR THE PARITY ENVELOPE (round 16): the round-15
    // driver artifact read mean trigger 9.2 s / 7-of-17 over the 5 s
    // budget while all nine clean-tree study runs read 0.9–1.1 s with
    // 0 over — the harness ran co-tenant with the driver's own oracle
    // pass, and this section (unlike every query/stream section) had
    // no anchor to prove it. The local[4] anchor below does IDENTICAL
    // per-core work to the 32-core anchor (25M rows / 4 cores ==
    // 200M / 32 == 6.25M rows/core), so on a quiet host it reads
    // ≈ calib_sec; sustained co-tenant load inflates it, and the
    // section lands in `suspect_streams` instead of letting the
    // breach masquerade as a latency regression.
    // ONE source of truth for the parity envelope's trigger pace
    // (ADVICE r17): the pacedParity call, the over_detail filter, and
    // classifyOverBudget's budget previously hardcoded 5 s at three
    // sites — changing the pace would have silently desynchronized
    // over_budget from over_detail/bootstrap/correlated/isolated
    val local4TriggerSec = 5
    val local4BudgetMs = local4TriggerSec * 1000L
    var local4CalibPre = -1.0
    var local4CalibPost = -1.0
    val local4Parity: streaming.Topology.PacedParity = {
      try {
        spark.stop()
        val s4 = GraftSession.localStreamingCpus("graft-bench-local4", 4)
        def calibrate4(): Double = try {
          import org.apache.spark.sql.functions.{col, pmod, lit, sum, xxhash64}
          (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            s4.range(0L, 25000000L, 1L, 4)
              .select(pmod(xxhash64(col("id")), lit(1000000L)).as("h"))
              .agg(sum(col("h"))).head
            (System.nanoTime() - t0) / 1e9
          }.min
        } catch { case _: Throwable => -1.0 }
        try {
          local4CalibPre = calibrate4()
          val p = streaming.Topology.pacedParity(s4, sfDir,
            triggerSec = local4TriggerSec)
          local4CalibPost = calibrate4()
          if (p.gatePass) p
          else {
            recordStreamFailure("stream_topology_local4",
              new IllegalStateException("paced chain totals diverged from batch q1"))
            streaming.Topology.PacedParity(-1, -1, -1, p.busyTriggers,
              gatePass = false, p.triggers)
          }
        } finally s4.stop()
      } catch {
        case e: Throwable =>
          recordStreamFailure("stream_topology_local4", e)
          streaming.Topology.PacedParity(-1, -1, -1, 0, gatePass = false)
      }
    }
    // suspect iff the bracketing anchors disagree >2x (load came or
    // went mid-section) or the quieter anchor still runs >2x the main
    // run's 32-core anchor (sustained co-tenancy through the section)
    if (local4CalibPre > 0 && local4CalibPost > 0) {
      val lo = math.min(local4CalibPre, local4CalibPost)
      val hi = math.max(local4CalibPre, local4CalibPost)
      // the main run's anchor, guarded like streamSection's: the mean
      // only when BOTH calibrations succeeded — with one -1 sentinel the
      // mean would be halved (or negative), silently tightening/loosening
      // the 2x co-tenancy threshold (ADVICE r16)
      val mainAnchor =
        if (calibSec > 0 && calibEndSec > 0) (calibSec + calibEndSec) / 2
        else math.max(calibSec, calibEndSec)
      if (hi / lo > 2.0 || (mainAnchor > 0 && lo > 2.0 * mainAnchor))
        suspectStreams += "stream_topology_local4"
    } else suspectStreams += "stream_topology_local4" // anchor itself failed
    def jsonArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def jsonStr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val failedStreamsJson = failedStreams
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")
    // calibration-normalized totals (round 7): raw seconds ÷ the mean CPU
    // calibration anchor — a machine-speed-independent number, so
    // round-over-round comparison needs no judge arithmetic. Only
    // meaningful when both calibrations succeeded.
    val calibMean = (calibSec + calibEndSec) / 2
    def norm(x: Double): Double =
      if (calibSec > 0 && calibEndSec > 0) math.round(x / calibMean * 1000) / 1000.0 else -1.0
    // traceability stamp: artifact ↔ commit, byte-checkable
    def git(args: String*): String = try {
      val p = new ProcessBuilder(("git" +: args): _*)
        .redirectErrorStream(true).start()
      val s = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      p.waitFor(); s
    } catch { case _: Throwable => "" }
    val shaRaw = git("rev-parse", "HEAD")
    val gitSha = if (shaRaw.matches("[0-9a-f]{40}")) shaRaw else "unknown"
    // a sha alone can mislead: a run from a dirty tree measures code the
    // sha does not contain — stamp that state explicitly
    val gitDirty = git("status", "--porcelain").linesIterator
      .exists(l => l.nonEmpty && !l.startsWith("??"))
    val wallTs = java.time.Instant.now().toString
    val calibSectionsJson = sectionCalibs.toSeq
      .map(c => (math.round(c * 10000) / 10000.0).toString)
      .mkString("[", ",", "]")
    // normalized stream rates: rate × the section's own anchor (rows
    // per calibration job) — compare THESE round-over-round; -1 when
    // the section failed or its anchor did
    def streamNorm(name: String, rate: Double): Long = {
      val c = streamCalibs.getOrElse(name, -1.0)
      if (rate > 0 && c > 0) math.round(rate * c) else -1L
    }
    val streamNormJson = Seq(
      "stream_dau" -> streamRate,
      "stream_dau_rocksdb" -> streamRateRocks,
      "stream_join" -> streamJoinRate,
      "stream_cdc_apply" -> streamCdcRate,
      "stream_topology" -> streamTopologyRate,
      "stream_heavy_hitters_rocksdb" -> streamHhRate,
      "stream_cms_sketch" -> streamCmsRate,
      "stream_cms_maintain" -> streamCmsMaintainRate,
      "stream_pagerank_maintain" -> streamPageRankRate,
      "stream_components_maintain" -> streamComponentsRate,
      "stream_components_maintain_c3" -> streamComponentsC3Rate,
      "stream_dedup_intake" -> streamDedupIntakeRate,
      "stream_curate_intake" -> streamCurateIntakeRate,
      "stream_curate_intake_20k" -> streamCurateIntake20kRate,
      "stream_dedup_intake_20k" -> streamDedupIntake20kRate,
      "stream_hnsw_maintain" -> streamHnswMaintainRate,
      "stream_hnsw_maintain_20k" -> streamHnswMaintain20kRate,
      "stream_hnsw_serve" -> streamHnswServeRate)
      .map { case (n, r) => s""""${n}_rows_per_calib":${streamNorm(n, r)}""" }
      .mkString(",")
    val streamCalibsJson = streamCalibs
      .map { case (k, v) => s""""$k":${math.round(v * 10000) / 10000.0}""" }
      .mkString("{", ",", "}")
    // per-trigger attribution ledger for the parity envelope (r16
    // verdict Next #2): every busy trigger as "stage:batchId:ms", so a
    // breach is pinned to a NAMED trigger — wide:0 is the join/state
    // bootstrap, agg:0 the first dim refresh — instead of recurring as
    // an unattributed 1-of-36 tail across rounds
    val local4TriggersJson = jsonArr(
      local4Parity.triggers.map { case (st, b, _, ms) => s"$st:$b:$ms" })
    val local4OverDetail = jsonArr(local4Parity.triggers
      .collect { case (st, b, _, ms) if ms > local4BudgetMs => s"$st:$b:$ms" })
    // mechanical breach classification (bootstrap / correlated /
    // isolated — Topology.classifyOverBudget): only ISOLATED breaches
    // mean a stage regression; bootstrap is each stage's one-time
    // first-trigger cost and correlated is a cross-stage capacity blip
    val (local4OverBoot, local4OverCorr, local4OverIso) =
      streaming.Topology.classifyOverBudget(local4Parity.triggers, local4BudgetMs)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""n_queries":${results.size},"failed":$failed,""" +
      s""""prod_queries":$prodQs,"prod_total":$prodTotal,""" +
      s""""total_per_calib":${norm(total)},"prod_total_per_calib":${norm(prodTotal)},""" +
      s""""queries_norm":$qsNorm,"prod_queries_norm":$prodQsNorm,""" +
      s""""total_norm":$totalNorm,"prod_total_norm":$prodTotalNorm,""" +
      s""""calib_sections":$calibSectionsJson,""" +
      s""""load_suspect":${suspectQueries.nonEmpty || suspectStreams.nonEmpty},""" +
      s""""suspect_queries":${jsonArr(suspectQueries)},""" +
      s""""suspect_streams":${jsonArr(suspectStreams.toSeq)},""" +
      s""""failed_streams":$failedStreamsJson,""" +
      s""""stream_dau_rows_per_sec":${streamRate.toLong},""" +
      s""""stream_dau_rocksdb_rows_per_sec":${streamRateRocks.toLong},""" +
      s""""stream_join_rows_per_sec":${streamJoinRate.toLong},""" +
      s""""stream_cdc_apply_rows_per_sec":${streamCdcRate.toLong},""" +
      s""""stream_topology_rows_per_sec":${streamTopologyRate.toLong},""" +
      s""""stream_heavy_hitters_rocksdb_rows_per_sec":${streamHhRate.toLong},""" +
      s""""stream_cms_sketch_rows_per_sec":${streamCmsRate.toLong},""" +
      s""""stream_cms_maintain_rows_per_sec":${streamCmsMaintainRate.toLong},""" +
      s""""stream_pagerank_maintain_rows_per_sec":${streamPageRankRate.toLong},""" +
      s""""stream_components_maintain_rows_per_sec":${streamComponentsRate.toLong},""" +
      s""""stream_components_maintain_c3_rows_per_sec":${streamComponentsC3Rate.toLong},""" +
      s""""stream_dedup_intake_rows_per_sec":${streamDedupIntakeRate.toLong},""" +
      s""""stream_curate_intake_rows_per_sec":${streamCurateIntakeRate.toLong},""" +
      s""""stream_curate_intake_20k_rows_per_sec":${streamCurateIntake20kRate.toLong},""" +
      s""""stream_dedup_intake_20k_rows_per_sec":${streamDedupIntake20kRate.toLong},""" +
      s""""stream_hnsw_maintain_rows_per_sec":${streamHnswMaintainRate.toLong},""" +
      s""""stream_hnsw_maintain_20k_rows_per_sec":${streamHnswMaintain20kRate.toLong},""" +
      s""""stream_hnsw_serve_rows_per_sec":${streamHnswServeRate.toLong},""" +
      streamNormJson + "," +
      s""""stream_topology_local4_max_trigger_ms":${local4Parity.maxMs},""" +
      s""""stream_topology_local4_mean_trigger_ms":${local4Parity.meanMs},""" +
      s""""stream_topology_local4_over_budget":${local4Parity.overBudget},""" +
      s""""stream_topology_local4_busy_triggers":${local4Parity.busyTriggers},""" +
      s""""stream_topology_local4_triggers":$local4TriggersJson,""" +
      s""""stream_topology_local4_over_bootstrap":$local4OverBoot,""" +
      s""""stream_topology_local4_over_correlated":$local4OverCorr,""" +
      s""""stream_topology_local4_over_isolated":$local4OverIso,""" +
      s""""stream_topology_local4_calib_pre":${math.round(local4CalibPre * 10000) / 10000.0},""" +
      s""""stream_topology_local4_calib_post":${math.round(local4CalibPost * 10000) / 10000.0},""" +
      s""""stream_calibs":$streamCalibsJson,""" +
      s""""calib_sec":$calibSec,"calib_end_sec":$calibEndSec,""" +
      s""""git_sha":"$gitSha","git_dirty":$gitDirty,"wall_ts":"$wallTs","sf":"$sfDir"}"""
    println(line)
    // belt-and-braces: sbt prefixes stdout with [info] and appends its
    // own trailer lines, which can defeat a last-line JSON parse — leave
    // a clean copy on disk next to the build too
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_last.json"), line + "\n")
    catch { case _: Throwable => () }
    // COMPACT SUMMARY — the FINAL stdout line (r16 verdict Next #1):
    // the full line above is ~10 KB and the driver captures only the
    // last ~2 KB of stdout, so BENCH_r15/r16 both shipped parsed:null —
    // the authoritative artifact had no machine-readable totals. This
    // line carries the totals, failure/suspect state, and the local[4]
    // parity fields in well under the tail window (per-query detail
    // stays on the full line / bench_last.json).
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","summary":true,""" +
      s""""total_norm":$totalNorm,"prod_total":$prodTotal,""" +
      s""""prod_total_norm":$prodTotalNorm,"n_queries":${results.size},""" +
      s""""failed":$failed,""" +
      s""""load_suspect":${suspectQueries.nonEmpty || suspectStreams.nonEmpty},""" +
      s""""suspect_queries":${jsonArr(suspectQueries)},""" +
      s""""suspect_streams":${jsonArr(suspectStreams.toSeq)},""" +
      s""""n_failed_streams":${failedStreams.size},""" +
      s""""local4_mean_ms":${local4Parity.meanMs},""" +
      s""""local4_max_ms":${local4Parity.maxMs},""" +
      s""""local4_over":${local4Parity.overBudget},""" +
      s""""local4_busy":${local4Parity.busyTriggers},""" +
      s""""local4_over_detail":$local4OverDetail,""" +
      s""""local4_over_bootstrap":$local4OverBoot,""" +
      s""""local4_over_correlated":$local4OverCorr,""" +
      s""""local4_over_isolated":$local4OverIso,""" +
      s""""local4_calib_pre":${math.round(local4CalibPre * 10000) / 10000.0},""" +
      s""""local4_calib_post":${math.round(local4CalibPost * 10000) / 10000.0},""" +
      s""""calib_sec":$calibSec,"calib_end_sec":$calibEndSec,""" +
      s""""git_sha":"$gitSha","git_dirty":$gitDirty,""" +
      s""""full":"bench_last.json","sf":"$sfDir"}"""
    println(summary)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_summary.json"), summary + "\n")
    catch { case _: Throwable => () }
    // Same teardown hazard as DriveScale (r17 verdict Next #6), observed
    // here as a post-summary HANG and, with spark.stop() in the exit
    // path, a native `std::bad_alloc` ABORT (exit 134) from RocksDB
    // state-store unload — measured on this tree: the abort fires
    // INSIDE spark.stop(), so a halt placed after it never runs. Every
    // output of this main — the contract line, the summary line,
    // bench_last.json, bench_summary.json — is printed/written above
    // and every streaming query was stopped by its own section; native
    // teardown buys nothing a dying process needs, so halt(0) directly
    // and let the OS reclaim. `run / fork := true`, so this never
    // touches the sbt JVM.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
