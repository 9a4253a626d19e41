package graft

import graft.operators.{Dedup, Hnsw, Similarity, TextOps}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one validity rule of the driver memos ([[StampedMemo]]), one
  * test per clause, plus the tokenizer models that ride it. */
class StampedMemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local("stampedmemo-spec")
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a new stamp misses and drops the scope's old entries, counted as evictions") {
    val m = StampedMemo[Int, String]()
    m.put(spark, "/d/a.parquet", 1, "s1", "one")
    m.put(spark, "/d/a.parquet", 2, "s1", "two")
    m.put(spark, "/d/b.parquet", 1, "s1", "other scope")
    assert(m.get(spark, "/d/a.parquet", 1, "s1").contains("one"))
    assert(m.hits == 1 && m.misses == 0)
    assert(m.get(spark, "/d/a.parquet", 1, "s2").isEmpty)
    assert(m.misses == 1)
    assert(m.evictions == 2, "both s1 entries of the scope are dropped")
    assert(m.size == 1, "the other scope's entry stays")
    assert(m.get(spark, "/d/b.parquet", 1, "s1").contains("other scope"))
  }

  test("two scopes under one dir with different stamps do not purge each other") {
    // d7's labels are stamped from documents.parquet, v14's from
    // embeddings.parquet: alternating calls must both keep hitting
    val m = StampedMemo[(String, Double), Int]()
    var builds = 0
    (1 to 3).foreach { _ =>
      m(spark, "/d/documents.parquet", ("ngram", 0.5), "docs-stamp") { builds += 1; 7 }
      m(spark, "/d/embeddings.parquet", ("cos", 0.4), "emb-stamp") { builds += 1; 8 }
    }
    assert(builds == 2)
    assert(m.hits == 4 && m.misses == 2 && m.evictions == 0)
  }

  test("get/put memoize only what is put") {
    val m = StampedMemo[Int, String]()
    assert(m.get(spark, "s", 1, "x").isEmpty)
    assert(m.get(spark, "s", 1, "x").isEmpty, "a miss stores nothing")
    assert(m.size == 0)
    assert(m.put(spark, "s", 1, "x", "v") == "v")
    assert(m.get(spark, "s", 1, "x").contains("v"))
    assert(m.get(spark, "s", 2, "x").isEmpty, "other params are not stored")
  }

  test("a build may call another memo, and a failed build stores nothing") {
    val inner = StampedMemo[Int, Int]()
    val outer = StampedMemo[Int, Int]()
    def innerFor(k: Int) = inner(spark, "s", k, "x")(k * 10)
    assert(outer(spark, "s", 1, "x")(innerFor(1) + 1) == 11)
    assert(outer(spark, "s", 2, "x")(outer(spark, "s", 3, "x")(30) + 1) == 31,
      "a build may re-enter its own memo")
    assert(inner.size == 1 && outer.size == 3)
    intercept[IllegalStateException](outer(spark, "s", 4, "x")(throw new IllegalStateException))
    assert(outer.size == 3)
  }

  test("clearAll empties every memo") {
    val a = StampedMemo[Int, Int]()
    val b = StampedMemo[String, Int]()
    a.put(spark, "s", 1, "x", 1)
    b.put(spark, "s", "k", "x", 2)
    StampedMemo.clearAll()
    assert(a.size == 0 && b.size == 0)
  }

  test("each cold-timing wrapper clears exactly its own memos") {
    // typed as one shape so one loop fills them all; a memo's key and
    // value types are erased at run time
    val memos = Seq(Dedup.clusterMemo, Similarity.centsMemo, Similarity.booksMemo,
      Similarity.residBooksMemo, TextOps.bpeMemo, TextOps.unigramMemo, Hnsw.graphMemo,
      Hnsw.driftChecked, Hnsw.IdBloom.memo).asInstanceOf[Seq[StampedMemo[Unit, Any]]]
    Seq[(() => Unit, Seq[Int])](
      (() => Dedup.invalidateClusterMemo(), Seq(0)),
      (() => Similarity.invalidateModelMemo(), Seq(1, 2, 3)),
      (() => TextOps.invalidateBpeMemo(), Seq(4)),
      (() => TextOps.invalidateUnigramMemo(), Seq(5)),
      (() => StampedMemo.clearAll(), memos.indices)
    ).foreach { case (clear, cleared) =>
      memos.foreach(_.put(spark, "s", (), "x", null))
      clear()
      assert(memos.map(_.size) == memos.indices.map(i => if (cleared.contains(i)) 0 else 1))
    }
  }

  test("tokenizer models retrain after documents.parquet is rewritten in place") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stampedmemo").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def bpe() = TextOps.bpeMerges(spark, dir, nMerges = 5)
      .select("merged").as[String].collect().toSeq
    def unigram() = TextOps.unigramPieces(spark, dir, vocabSize = 20)
      .select("piece").as[String].collect().toSet
    write(Seq("lower lower lowest", "newer newest lower"))
    val (bpe1, uni1) = (bpe(), unigram())
    assert(bpe() == bpe1 && unigram() == uni1, "unchanged corpus serves the memo")
    write(Seq("zebra zebras zigzag", "quiz quizzes zebra"))
    assert(bpe() != bpe1, "BPE must retrain on the rewritten corpus")
    assert(unigram() != uni1, "unigram must retrain on the rewritten corpus")
  }
}
