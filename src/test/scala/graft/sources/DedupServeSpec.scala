package graft.sources

import graft.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Dedup-at-intake: the d3 LSH machinery split into an at-rest index
  * (Dedup.writeDedupIndex — banded buckets partitioned by shard +
  * range-clustered shingle arrays) and an online probe
  * (dedupServeBatch). Asserts (a) probing the corpus against its own
  * index reproduces EXACTLY the batch d3 pairs, (b) the candidate scan
  * reads only the batch's shards' partitions, (c) appends serve
  * without a rebuild, and (d) the full streaming intake loop
  * (probe → decide → append accepted) is exactly-once under replay. */
class DedupServeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = {
    graft.ScratchCache.drain()
    spark.stop()
  }

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("probing the corpus against its own index == the batch d3 pairs") {
    val idx = tmp("graft-dedup-idx")
    Dedup.writeDedupIndex(spark, sf, idx)
    val corpus = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val served = Dedup.dedupServeBatch(spark, idx, corpus).collect()
      // canonicalize both directions to unordered pairs
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    val batch = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served === batch,
      "serve-from-index pairs must equal the in-session d3 pairs")
    assert(served.nonEmpty, "the pinned corpus has near-dups — empty = broken probe")
    // and each pair was found in BOTH directions (every doc probes)
    val directed = Dedup.dedupServeBatch(spark, idx, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(directed.size === 2 * batch.size)
  }

  /** Spark jobs started while `body` runs, counted after draining the
    * listener bus on both sides so no earlier or late event is miscounted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  test("the serve builder's internal shard collect does not sweep the " +
      "armed batch cache") {
    // the round-10 fix (cd0a99d): dedupServeBatch collects the probed
    // shard set BEFORE arming the hashed batch (q feeds the probes AND
    // the verify join), and over a deliberately DISTINCT plan (a
    // 2-column projection that sameResult-matches neither the armed
    // relation nor any subtree of it), so no listener delivery order
    // can sweep the armed entry — on Spark 4 NO action style dodges
    // the listener (even Dataset.rdd posts an execution event via
    // withNewRDDExecutionId; see ScratchCache's doc). Pin it: after
    // the builder returns (the internal collect has run), the armed
    // entry must still be cached for the caller's materialization.
    // Second input: a one-shard index (the stream-maintained default)
    // has nothing to prune, so the builder skips the shard-set pass
    // and runs no job at all; the 64-shard index runs its collect.
    val batch = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") < 20).select(col("doc_id"), col("text"))
    val idx64 = tmp("graft-dedup-cidx")
    Dedup.writeDedupIndex(spark, sf, idx64)
    val idx1 = tmp("graft-dedup-cidx1")
    Dedup.appendDedupIndexBatch(spark, idx1,
      graft.Tables.documents(spark, sf).select(col("doc_id"), col("text")), 0L)
    assert(Dedup.readDedupMeta(idx1)._3 === 1, "the maintained default is one shard")
    Seq(idx64 -> true, idx1 -> false).foreach { case (idx, collects) =>
      graft.ScratchCache.drain()
      val (rel, jobs) = jobsDuring(Dedup.dedupServeBatch(spark, idx, batch))
      if (collects) assert(jobs >= 1, s"$idx: the shard-set collect ran no job")
      else assert(jobs === 0, s"$idx: a one-shard index must build with no job, ran $jobs")
      assert(graft.ScratchCache.pending >= 1,
        "the armed batch cache was swept by the builder's internal " +
          "collect — the shard-set collect must run BEFORE arm(), over " +
          "a plan that sameResult-matches no armed subtree")
      rel.count() // the caller's action consumes (and then sweeps) it
    }
  }

  test("the candidate scan reads only the probed shards' partitions") {
    val idx = tmp("graft-dedup-pidx")
    Dedup.writeDedupIndex(spark, sf, idx)
    val total = spark.read.parquet(s"$idx/buckets").count()
    // one tiny batch: its 16 band-probes cover few of the 64 shards
    val one = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 100).select(col("doc_id"), col("text"))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = Dedup.dedupServeBatch(spark, idx, one)
      served.collect()
      val scanned = served.queryExecution.executedPlan.collectLeaves()
        .filter(_.toString.contains("bucket"))
        .flatMap(_.metrics.get("numOutputRows").map(_.value))
        .maxOption.getOrElse(fail("no plan leaf reads the buckets relation"))
      assert(scanned < total / 2,
        s"bucket scan should be shard-pruned: read $scanned of $total rows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("appended docs are served without a rebuild") {
    val idx = tmp("graft-dedup-aidx")
    Dedup.writeDedupIndex(spark, sf, idx)
    // append a clone of doc 0 under a fresh id
    val clone = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 0)
      .select(lit(900000L).as("doc_id"), col("text"))
    Dedup.appendDedupIndex(spark, idx, clone)
    // a batch carrying the same text must now match BOTH doc 0 and the
    // appended clone at J = 1
    val probe = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 0)
      .select(lit(900001L).as("doc_id"), col("text"))
    val hits = Dedup.dedupServeBatch(spark, idx, probe).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(hits.contains(0L) && hits.contains(900000L),
      s"expected matches on the original AND the appended clone, got ${hits.keySet}")
    // the two exact clones match at J = 1; doc 0's genuine corpus
    // near-dups may also appear (correctly) at lower J
    assert(hits(0L) >= 0.999999 && hits(900000L) >= 0.999999)
  }

  test("shingle-less documents never pair as near-duplicates") {
    // null text has no tokens, so no shingles (n_sh = 0): two such
    // documents share nothing, and their 0/0 Jaccard must not read as
    // a match
    val sq = spark; import sq.implicits._
    val short = Seq((900001L, null: String), (900002L, null: String))
      .toDF("doc_id", "text")
    assert(Dedup.minhashLshOn(short).count() === 0L,
      "two shingle-less documents paired in the batch-local pass")
    val idx = tmp("graft-dedup-sidx")
    Dedup.writeDedupIndex(spark, sf, idx)
    Dedup.appendDedupIndex(spark, idx, short.filter(col("doc_id") === 900001L))
    val hits = Dedup.dedupServeBatch(spark, idx,
      short.filter(col("doc_id") === 900002L)).collect()
    assert(hits.isEmpty, s"a shingle-less probe matched: ${hits.mkString(", ")}")
  }

  test("the index is self-describing: serve refuses meta-less dirs; maintained dials must match") {
    // a directory without meta.json is not a dedup index — serving it
    // must fail loudly, not probe with assumed dials (a wrong `shards`
    // modulus would silently drop candidates)
    val notAnIndex = tmp("graft-dedup-noidx")
    val batch = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 0).select(col("doc_id"), col("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupServeBatch(spark, notAnIndex, batch)
    }
    assert(e.getMessage.contains("meta.json"))
    // a maintained index refuses a batch append under different dials
    val midx = tmp("graft-dedup-dialidx")
    Dedup.appendDedupIndexBatch(spark, midx, batch, 0L) // creates meta @ defaults
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendDedupIndexBatch(spark, midx, batch, 1L, shards = 32)
    }
    assert(e2.getMessage.contains("dial mismatch"))
  }

  test("a legacy meta.json index migrates: serve reads it IN PLACE, " +
      "append migrates and keeps its dials") {
    // rounds ≤ 9 wrote the same JSON body under meta.json; the rename
    // to _meta.json must not strand old indexes — and critically must
    // not let appendDedupIndexBatch's create-or-match guard "create"
    // fresh dials over legacy buckets (silent banding corruption).
    // Serve is READ-ONLY: it reads the legacy file where it lies (a
    // rename-on-read fails on read-only index storage and races
    // concurrent serves); only append paths — which already mutate the
    // index — perform the rename.
    val idx = tmp("graft-dedup-legacy")
    Dedup.writeDedupIndex(spark, sf, idx, numHashes = 32, bands = 8)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$idx/_meta.json"),
      java.nio.file.Paths.get(s"$idx/meta.json")) // forge the old layout
    val batch = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 0).select(col("doc_id"), col("text"))
    Dedup.dedupServeBatch(spark, idx, batch).collect() // serves in place
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/_meta.json")),
      "serve is read-only and must NOT rename the legacy meta")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/meta.json")))
    assert(Dedup.readDedupMeta(idx) === ((32, 8, 64)))
    // append MAY mutate — it migrates the meta as part of its write
    val clone = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === 0)
      .select(lit(910000L).as("doc_id"), col("text"))
    Dedup.appendDedupIndex(spark, idx, clone)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/_meta.json")),
      "append should migrate the legacy meta")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$idx/meta.json")))
    assert(Dedup.readDedupMeta(idx) === ((32, 8, 64)),
      "migrated dials must be the legacy ones, not append defaults")
    // the maintained-batch guard must SEE the legacy dials: an append
    // under different dials refuses instead of overwriting the meta
    val legacy2 = tmp("graft-dedup-legacy2")
    Dedup.writeDedupIndex(spark, sf, legacy2, numHashes = 32, bands = 8)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$legacy2/_meta.json"),
      java.nio.file.Paths.get(s"$legacy2/meta.json"))
    val e = intercept[IllegalArgumentException] {
      Dedup.appendDedupIndexBatch(spark, legacy2, batch, 0L) // defaults ≠ (32,8)
    }
    assert(e.getMessage.contains("dial mismatch"),
      s"append over a legacy index must match ITS dials, got: ${e.getMessage}")
    // both layouts at once is ambiguous — refuse loudly
    val both = tmp("graft-dedup-bothmeta")
    Dedup.writeDedupIndex(spark, sf, both)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$both/_meta.json"),
      java.nio.file.Paths.get(s"$both/meta.json"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.dedupServeBatch(spark, both, batch)
    }
    assert(e2.getMessage.contains("BOTH"))
  }

  test("streaming intake loop: first-wins decisions, cross-batch dedup, replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // feed: batch 1 = two distinct docs + an intra-batch clone of the
    // first; batch 2 = a clone of an ACCEPTED batch-1 doc + a new doc
    val d = graft.Tables.documents(spark, sf)
      .orderBy(col("doc_id")).limit(3)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val b1 = Seq((1L, d(0)._2), (2L, d(1)._2), (3L, d(0)._2))
    val b2 = Seq((4L, d(1)._2), (5L, d(2)._2))
    val idx = tmp("graft-dedup-midx")
    val out = tmp("graft-dedup-mout")
    def runFeed(): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val ckpt = tmp("graft-dedup-mckpt")
      val q = graft.streaming.Runner.dedupIntakeQuery(spark, idx,
        mem.toDS().toDF("doc_id", "text"), out, ckpt)
      try {
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
    }
    runFeed()
    def decisions() = spark.read.parquet(out)
      .select(col("doc_id"), col("accepted"), col("dup_of"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val dec = decisions()
    assert(dec(1L) === ((true, -1L)), "first occurrence accepted")
    assert(dec(2L) === ((true, -1L)), "distinct doc accepted")
    assert(dec(3L) === ((false, 1L)), "intra-batch clone dropped, first wins")
    assert(dec(4L) === ((false, 2L)), "cross-batch clone dropped against batch-1 acceptee")
    assert(dec(5L) === ((true, -1L)), "new doc accepted")
    // the index holds exactly the accepted ids
    val indexed = spark.read.parquet(s"$idx/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed === Set(1L, 2L, 5L))
    // replay from a fresh checkpoint: same batches, same batch ids —
    // dynamic overwrite must leave decisions AND index unchanged
    runFeed()
    assert(decisions() === dec, "replay changed the decisions")
    assert(spark.read.parquet(s"$idx/shingles").select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 5L))
    assert(spark.read.parquet(s"$idx/buckets").count() ===
      spark.read.parquet(s"$idx/buckets").select("doc_id", "band").distinct().count(),
      "replay appended duplicate bucket rows")
  }

  test("in-loop compaction: the intake loop folds committed batches into " +
      "the batch_id=-1 bases past compactEveryBatches — probe verdicts " +
      "unchanged across the fold, file counts bounded, and a replayed " +
      "in-flight batch rewrites its own partitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = graft.Tables.documents(spark, sf)
      .orderBy(col("doc_id")).limit(6)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    // b0/b1/b2 all-distinct; b3 carries a clone of a b1 acceptee — its
    // dup verdict must come from the FOLDED base (the fold runs at b3's
    // head: buckets depth 3 >= threshold 3)
    val batches = Seq(
      Seq((1L, d(0)._2), (2L, d(1)._2)),
      Seq((3L, d(2)._2), (4L, d(3)._2)),
      Seq((5L, d(4)._2)),
      Seq((6L, d(2)._2), (7L, d(5)._2))) // 6 clones doc 3 (accepted in b1)
    val idx = tmp("graft-dedup-fidx")
    val out = tmp("graft-dedup-fout")
    def bucketDirs(): Set[String] =
      new java.io.File(s"$idx/buckets").listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).toSet
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val ckpt = tmp("graft-dedup-fckpt")
    val q = graft.streaming.Runner.dedupIntakeQuery(spark, idx,
      mem.toDS().toDF("doc_id", "text"), out, ckpt,
      compactEveryBatches = 3)
    try batches.foreach { b =>
      mem.addData(b); q.processAllAvailable()
      assert(BatchFold.batchDirCount(spark, s"$idx/buckets") <= 3,
        "the policy must bound the buckets LSM depth at every trigger")
    } finally q.stop()
    // b3's head folded {0,1,2} -> base, then appended its own partition
    assert(bucketDirs() === Set("batch_id=-1", "batch_id=3"))
    def decisions() = spark.read.parquet(out)
      .select(col("doc_id"), col("accepted"), col("dup_of"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    val dec = decisions()
    assert(Seq(1L, 2L, 3L, 4L, 5L, 7L).forall(dec(_) === ((true, -1L))))
    assert(dec(6L) === ((false, 3L)),
      "the post-fold probe must still flag the clone against the FOLDED base")
    // the folded buckets base holds one file per touched shard (one
    // shard=0 file at the maintained one-shard default) — the
    // writeDedupIndex layout the fold restores (round 9: probe latency
    // tracks exactly this file count)
    val baseShards = new java.io.File(s"$idx/buckets/batch_id=-1")
      .listFiles().toSeq.filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(baseShards.nonEmpty)
    assert(baseShards.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "the folded base must hold one file per shard")
    // index content: exactly the accepted docs, no row lost or doubled
    def shingleIds() = spark.read.parquet(s"$idx/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(shingleIds() === Seq(1L, 2L, 3L, 4L, 5L, 7L))
    val bucketRows = spark.read.parquet(s"$idx/buckets")
      .select("doc_id", "band", "bucket")
      .collect().map(_.mkString("|")).toSeq.sorted
    assert(bucketRows.distinct === bucketRows, "fold duplicated bucket rows")
    // replay the IN-FLIGHT batch (the only one a checkpoint re-runs):
    // attempt 2 of b3 re-executes the trigger body — recover (no-op),
    // depth 2 < 3 so no fold, probe, dynamic-overwrite append of its
    // OWN partitions. Index must end exactly where attempt 1 left it.
    graft.operators.Dedup.recoverDedupIndexFolds(spark, idx)
    val accepted3 = Seq((7L, d(5)._2)).toDF("doc_id", "text")
    graft.operators.Dedup.appendDedupIndexBatch(spark, idx, accepted3, 3L)
    assert(bucketDirs() === Set("batch_id=-1", "batch_id=3"))
    assert(shingleIds() === Seq(1L, 2L, 3L, 4L, 5L, 7L),
      "a replayed in-flight batch must rewrite, never duplicate")
    // and the WORST crash shape: attempt 1 appended b3 then died before
    // commit; attempt 2's head re-runs the fold (excluding b3). The
    // fold must absorb only committed batches, leave b3's partitions
    // for the overwrite, and probe verdicts must be unchanged.
    val probeClone = Seq((999L, d(2)._2)).toDF("doc_id", "text")
    val hitsBefore = graft.operators.Dedup
      .dedupServeBatch(spark, idx, probeClone)
      .collect().map(_.mkString("|")).toSet
    graft.operators.Dedup.compactDedupIndexBatches(spark, idx,
      excludeBatchId = 3L)
    graft.operators.Dedup.appendDedupIndexBatch(spark, idx, accepted3, 3L)
    assert(shingleIds() === Seq(1L, 2L, 3L, 4L, 5L, 7L))
    val hitsAfter = graft.operators.Dedup
      .dedupServeBatch(spark, idx, probeClone)
      .collect().map(_.mkString("|")).toSet
    assert(hitsAfter === hitsBefore,
      "probe verdicts must be identical across a fold")
    assert(hitsAfter.nonEmpty, "the clone probe must hit doc 3")
  }
}
