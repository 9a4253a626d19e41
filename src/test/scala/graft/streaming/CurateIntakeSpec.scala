package graft.streaming

import graft.GraftSession
import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * one bucket file at the default one-shard layout, and a 64-shard
  * index decides every doc the same. */
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
      .filter(col("doc_id").isin(corpusB1: _*))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap

    // offline intra-batch dup logic for b1 (the intake's contract):
    // a later doc is a duplicate of an earlier STAGE-CLEAN partner
    def stageReason(id: Long): String =
      Option(ruleReason(id))
        .orElse(if (!nbKeep(id)) Some("classifier") else None)
        .orElse(if (contaminated(id)) Some("contaminated") else None)
        .orNull
    val b1Frame = docsText.toSeq.toDF("doc_id", "text")
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
    val b2 = Seq((900000L, docsText(cloneSrc)), (900001L, "tiny doc"),
      (900002L, null: String))

    val idx = tmp("graft-ci-idx")
    val out = tmp("graft-ci-out")
    // `shards` None = the intake's default
    def runFeed(idx: String, out: String, shards: Option[Int]): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val ckpt = tmp("graft-ci-ckpt")
      val docs = mem.toDS().toDF("doc_id", "text")
      val q = shards.fold(Runner.curateIntakeQuery(spark, sf, idx, docs, out, ckpt))(n =>
        Runner.curateIntakeQuery(spark, sf, idx, docs, out, ckpt, shards = n))
      try {
        mem.addData(corpusB1.map(id => id -> docsText(id)))
        q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
      } finally q.stop()
    }
    runFeed(idx, out, None)

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
    assert(dec(900001L) === ((false, "too_short", -1L)))
    assert(dec(900002L) === ((false, "too_short", -1L)))

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
}
