package graft.streaming

import graft.GraftSession
import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The full streaming curation intake (Runner.curateIntakeQuery):
  * per-batch rule filter + NB classifier + decontamination + dedup
  * against everything accepted so far, with first-fail reasons.
  * Asserts stream verdicts equal the BATCH gate operators' verdicts
  * composed offline (same docs, same priority), the duplicate branch
  * fires cross-batch against an accepted doc, only accepted docs
  * enter the index, a full replay changes nothing, each batch writes
  * one bucket file at the default one-shard layout, a 64-shard
  * index decides every doc the same, each micro-batch runs a bounded
  * number of Spark jobs, a restart with mismatched dials is refused
  * before it writes a decision, and a first batch that accepts nothing
  * does not break the next one. */
class CurateIntakeSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** Spark jobs started while `body` runs, counted after draining the
    * listener bus on both sides so no earlier or late event is
    * miscounted (the DedupServeSpec helper). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(counter)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(counter)
  }

  /** The most Spark jobs one intake micro-batch of this feed may run,
    * the first batch's table builds included. Judging and hashing each
    * document once runs the feed's two batches in 24–26 jobs each; the
    * three verdict joins with up to three shingle-hash plans ran 43. */
  private val maxJobsPerBatch = 30

  test("stream verdicts == batch-operator verdicts; dup branch; index holds acceptees; replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // batch-operator verdict maps for the corpus docs (the gate forms)
    val ruleReason = TextOps.filterDecision(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) null else r.getString(4))).toMap
    val nbKeep = TextOps.nbQuality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val contaminated = TextOps.decontaminate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap

    val corpusB1 = (50L to 59L).toSeq
    val docsText = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap

    // offline intra-batch dup logic for b1 (the intake's contract):
    // a later doc is a duplicate of an earlier STAGE-CLEAN partner
    def stageReason(id: Long): String =
      Option(ruleReason(id))
        .orElse(if (!nbKeep(id)) Some("classifier") else None)
        .orElse(if (contaminated(id)) Some("contaminated") else None)
        .orNull
    val b1Frame = corpusB1.map(id => id -> docsText(id)).toDF("doc_id", "text")
    val intraPairs = Dedup.minhashLshOn(b1Frame).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cleanB1 = corpusB1.filter(id => stageReason(id) == null).toSet
    val dupOf: Map[Long, (Long, Double)] = intraPairs
      .filter { case (a, _, _) => cleanB1.contains(a) }
      .groupBy(_._2)
      .map { case (b, ps) =>
        val best = ps.maxBy(p => (p._3, -p._1)); b -> (best._1, best._3)
      }
    def expected(id: Long): (Boolean, String) = {
      val sr = stageReason(id)
      if (sr != null) (false, sr)
      else if (dupOf.contains(id)) (false, "duplicate")
      else (true, null)
    }

    // batch 2: a clone of a b1 ACCEPTEE (must drop as cross-batch
    // duplicate), a guaranteed-too_short synthetic doc, and a doc with
    // NULL text (no tokens: must drop as too_short, never pass)
    val b1AcceptedExpected = corpusB1.filter(id => expected(id)._1)
    assert(b1AcceptedExpected.nonEmpty, "need at least one accepted b1 doc")
    val cloneSrc = b1AcceptedExpected.head
    def stageClean(id: Long) = stageReason(id) == null

    // edge inputs, also in batch 2:
    //  - empty and whitespace-only text, and fewer than 5 tokens (one
    //    eval-gram window): too_short
    //  - tokens the NB model never saw: each scores the smoothed
    //    unseen log-odds, so the doc's score is that constant
    //  - a verbatim copy of an eval doc that passes the rules and the
    //    classifier: contaminated
    //  - an intra-batch near-dup pair whose EARLIER doc fails a stage
    //    (repetitive padding): the later doc is judged on its own
    //    merits and accepted
    val unseenText = (1 to 20).map(i => s"zq$i").mkString(" ")
    val unseenKeep = {
      val m = TextOps.nbModel(spark, sf).select("cp", "cn").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val v = m.length
      val lo = math.log(1.0 / (m.map(_._1).sum + v)) - math.log(1.0 / (m.map(_._2).sum + v))
      BigDecimal(lo).setScale(6, BigDecimal.RoundingMode.HALF_UP) > 0
    }
    val evalSrc = (0L until 50L).find(id => ruleReason(id) == null && nbKeep(id))
      .getOrElse(fail("no eval doc passes the rules and the classifier"))
    def nearDupIds(docs: Seq[(Long, String)]): Set[Long] =
      Dedup.minhashLshOn(docs.toDF("doc_id", "text")).collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val others = corpusB1.map(id => id -> docsText(id)) ++
      Seq(0L -> docsText(evalSrc), 1L -> unseenText)
    // a stage-clean corpus doc outside batch 1 that near-dups nothing
    // else in the feed
    val partnerSrc = (60L until 500L)
      .filter(id => docsText.contains(id) && stageClean(id))
      .find(id => !nearDupIds(others :+ (2L -> docsText(id))).contains(2L))
      .getOrElse(fail("no stage-clean doc free of near-dups"))
    val partnerText = docsText(partnerSrc)
    val padded = partnerText + " " +
      Seq.fill(partnerText.trim.split("\\s+").length / 4 + 1)("zz").mkString(" ")
    assert(nearDupIds(Seq(1L -> padded, 2L -> partnerText)) === Set(1L, 2L),
      "the padded doc and its partner must be an LSH near-dup pair")

    val b2 = Seq((900000L, docsText(cloneSrc)), (900001L, "tiny doc"),
      (900002L, null: String), (900003L, ""), (900004L, "  \t  "),
      (900005L, "one two three four"), (900006L, unseenText),
      (900007L, docsText(evalSrc)), (900010L, padded), (900011L, partnerText))

    val idx = tmp("graft-ci-idx")
    val out = tmp("graft-ci-out")
    // `shards` None = the intake's default; returns the Spark jobs each
    // micro-batch ran
    def runFeed(idx: String, out: String, shards: Option[Int]): Seq[Int] = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val ckpt = tmp("graft-ci-ckpt")
      val docs = mem.toDS().toDF("doc_id", "text")
      val q = shards.fold(Runner.curateIntakeQuery(spark, sf, idx, docs, out, ckpt))(n =>
        Runner.curateIntakeQuery(spark, sf, idx, docs, out, ckpt, shards = n))
      try Seq(corpusB1.map(id => id -> docsText(id)), b2).map { rows =>
        jobsDuring { mem.addData(rows); q.processAllAvailable() }
      } finally q.stop()
    }
    val jobs = runFeed(idx, out, None)
    assert(jobs.forall(_ <= maxJobsPerBatch),
      s"jobs per micro-batch: ${jobs.mkString(", ")} (bound $maxJobsPerBatch)")

    def decisions(out: String) = spark.read.parquet(out)
      .select(col("doc_id"), col("accepted"), col("drop_reason"), col("dup_of"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val dec = decisions(out)

    // every b1 corpus doc: stream verdict == offline-composed verdict
    corpusB1.foreach { id =>
      val (accept, reason) = expected(id)
      assert(dec(id)._1 === accept, s"doc $id accepted mismatch")
      assert(dec(id)._2 === reason, s"doc $id reason mismatch")
      if (reason == "duplicate")
        assert(dec(id)._3 === dupOf(id)._1, s"doc $id dup_of mismatch")
    }
    // the feed must exercise at least one drop and one accept in b1
    assert(corpusB1.exists(id => dec(id)._1) && corpusB1.exists(id => !dec(id)._1),
      "feed exercises both accept and drop branches")
    // b2: the clone of an acceptee drops as a duplicate OF that doc
    assert(dec(900000L) === ((false, "duplicate", cloneSrc)),
      s"cross-batch clone verdict: ${dec(900000L)}")
    Seq(900001L, 900002L, 900003L, 900004L, 900005L).foreach { id =>
      assert(dec(id) === ((false, "too_short", -1L)), s"doc $id: ${dec(id)}")
    }
    assert(dec(900006L) === (if (unseenKeep) (true, null, -1L)
      else (false, "classifier", -1L)), s"unseen-token doc: ${dec(900006L)}")
    assert(dec(900007L) === ((false, "contaminated", -1L)),
      s"eval-doc copy: ${dec(900007L)}")
    assert(dec(900010L) === ((false, "repetitive", -1L)))
    assert(dec(900011L) === ((true, null, -1L)),
      s"near-dup of a stage-failed doc: ${dec(900011L)}")

    // index holds exactly the accepted ids
    val indexed = spark.read.parquet(s"$idx/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed === dec.filter(_._2._1).keySet)

    // the default index is one shard: each batch's buckets are ONE
    // shard=0 directory holding one parquet file (a batch with no
    // acceptee writes no bucket partition at all)
    val batchDirs = new java.io.File(s"$idx/buckets").listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(batchDirs.map(_.getName).contains("batch_id=0"))
    batchDirs.foreach { b =>
      val shardDirs = b.listFiles().toSeq.filter(_.isDirectory)
      assert(shardDirs.map(_.getName) === Seq("shard=0"),
        s"${b.getName} holds ${shardDirs.size} shard directories")
      assert(shardDirs.head.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"${b.getName}/shard=0 must hold one parquet file")
    }

    // replay from a fresh checkpoint: decisions and index unchanged
    runFeed(idx, out, None)
    assert(decisions(out) === dec, "replay changed the decisions")
    assert(spark.read.parquet(s"$idx/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet === indexed)

    // the same feed over a 64-shard index: every doc's accepted flag,
    // drop_reason and dup_of are unchanged (the shard count is layout
    // only; banding and verification do not depend on it)
    val out64 = tmp("graft-ci-out64")
    runFeed(tmp("graft-ci-idx64"), out64, Some(64))
    assert(decisions(out64) === dec, "a 64-shard index changed the decisions")
  }

  test("a restart whose dials differ from the index's is refused before any decision is written") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf).filter(col("doc_id").between(50L, 59L))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val idx = tmp("graft-ci-idx-dials")
    def start(out: String, shards: Option[Int]): (org.apache.spark.sql.execution
        .streaming.runtime.MemoryStream[(Long, String)], StreamingQuery) = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val df = mem.toDS().toDF("doc_id", "text")
      val ckpt = tmp("graft-ci-ckpt-dials")
      (mem, shards.fold(Runner.curateIntakeQuery(spark, sf, idx, df, out, ckpt))(n =>
        Runner.curateIntakeQuery(spark, sf, idx, df, out, ckpt, shards = n)))
    }
    // an index written at 64 shards (as intakes wrote it before one shard
    // became the default)
    val (mem64, q64) = start(tmp("graft-ci-out-dials64"), Some(64))
    try { mem64.addData(docs); q64.processAllAvailable() } finally q64.stop()

    // resumed at the default dials, into a fresh decisions dir
    val out = tmp("graft-ci-out-dials")
    val (mem, q) = start(out, None)
    try {
      mem.addData(docs.take(3))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("dial mismatch"), chain)
    } finally q.stop()
    val partitions = Option(new java.io.File(out).list()).toSeq.flatten
      .filter(_.startsWith("batch_id="))
    assert(partitions.isEmpty, s"a refused batch left decisions: $partitions")
  }

  test("a first micro-batch that accepts nothing leaves the next batch a working intake") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = tmp("graft-ci-out-empty")
    val q = Runner.curateIntakeQuery(spark, sf, tmp("graft-ci-idx-empty"),
      mem.toDS().toDF("doc_id", "text"), out, tmp("graft-ci-ckpt-empty"))
    try {
      // batch 0 drops its one doc, so the index gets no bucket file
      mem.addData(Seq(800001L -> "tiny doc")); q.processAllAvailable()
      mem.addData(Seq(800002L -> "another tiny doc")); q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(out).select("doc_id", "drop_reason").as[(Long, String)]
      .collect().toSet === Set(800001L -> "too_short", 800002L -> "too_short"))
  }
}
