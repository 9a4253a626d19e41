package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The in-loop fold's threshold guard: a fold leaves base + current
  * = 2 batch partitions, so a `compactEveryBatches` of 2 would rewrite
  * the whole store on every batch. Each maintain loop must refuse it
  * before its query starts, and name the store it guards. */
class FoldThresholdSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("every maintain loop refuses compactEveryBatches = 2 before it starts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-fold-guard").toString
    val vectors = MemoryStream[(Long, Array[Float])].toDS().toDF("vec_id", "embedding")
    val docs = MemoryStream[(Long, String)].toDS().toDF("doc_id", "text")
    val starts: Seq[(String, () => Any)] = Seq(
      s"ANN index $dir/ann" -> (() => Runner.annIndexMaintainQuery(spark,
        s"$dir/model", s"$dir/ann", vectors, s"$dir/ck_ann", compactEveryBatches = 2)),
      s"store $dir/cms" -> (() => Runner.cmsMaintainQuery(spark,
        s"$dir/cms", docs, s"$dir/ck_cms", compactEveryBatches = 2)),
      s"dedup index $dir/dedup" -> (() => Runner.dedupIntakeQuery(spark,
        s"$dir/dedup", docs, s"$dir/decisions", s"$dir/ck_dedup",
        compactEveryBatches = 2)))
    for ((store, start) <- starts) {
      val e = intercept[IllegalArgumentException](start())
      assert(e.getMessage.contains("compactEveryBatches (2) must be 0 (off) or >= 3"))
      assert(e.getMessage.contains(s"rewrite the whole $store on every batch"))
    }
    assert(spark.streams.active.isEmpty)
    assert(new java.io.File(dir).list().isEmpty, "a refused loop wrote no store or checkpoint")
  }
}
