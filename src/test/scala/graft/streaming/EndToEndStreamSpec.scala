package graft.streaming

import java.sql.Timestamp
import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The full reference topology, wired end-to-end: CDC envelopes →
  * ODS router → typed parse → the fused order-wide join + stateful
  * apportionment (stage 1, ≙ BaseDBMaxwellApp + OrderWideApp; its
  * per-order state survives a restart on the same checkpoint),
  * then apportioned rows → static-dim enrichment → event-time windowed
  * trademark revenue (stage 2, ≙ TrademarkStatApp). The stage split is
  * the same boundary the reference crosses via Kafka (`dws_order_wide`).
  */
class EndToEndStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String) = Timestamp.valueOf(s)

  private val oiSchema = Runner.orderInfoSchema
  private val odSchema = Runner.orderDetailSchema

  test("stage 1: CDC → router → parse → join → apportion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cdc = MemoryStream[(String, String, String)] // (type, table, data-json)
    val routed = Pipelines.routeCdc(
      cdc.toDF().toDF("type", "table", "data"))
    val oi = routed.filter(col("topic") === "ods_order_info")
      .select(from_json(col("value"), oiSchema).as("o")).select("o.*").as[OrderInfo]
    val od = routed.filter(col("topic") === "ods_order_detail")
      .select(from_json(col("value"), odSchema).as("o")).select("o.*").as[OrderDetail]
    val wide = Pipelines.orderWide(oi, od)
    val q = wide.writeStream.format("memory").queryName("e2e_wide")
      .outputMode("append").start()
    try {
      // order 100 = 50.00 total, two details 20.00 + 30.00
      cdc.addData(
        ("insert", "order_info",
          """{"id":100,"user_id":7,"province_id":1,"order_status":"1001",
             |"final_total_amount":45.00,"original_total_amount":50.00,
             |"create_time":"2024-01-01 00:00:10"}""".stripMargin.replace("\n", "")),
        ("insert", "order_detail",
          """{"id":1,"order_id":100,"sku_id":11,"sku_num":2,"order_price":10.00,
             |"create_time":"2024-01-01 00:00:12"}""".stripMargin.replace("\n", "")),
        ("update", "order_info", """{"id":999}"""))    // fact update → dropped
      q.processAllAvailable()
      cdc.addData( // second detail arrives in a later micro-batch
        ("insert", "order_detail",
          """{"id":2,"order_id":100,"sku_id":12,"sku_num":1,"order_price":30.00,
             |"create_time":"2024-01-01 00:00:14"}""".stripMargin.replace("\n", "")))
      q.processAllAvailable()
      val out = spark.table("e2e_wide").as[OrderWideSplit]
        .collect().sortBy(_.order_detail_id)
      assert(out.map(_.order_detail_id).toSeq === Seq(1L, 2L))
      // detail 1: proportional 4500*2000/5000 = 1800 c; detail 2 completes
      // the origin sum → remainder 45.00 − 18.00
      assert(out(0).final_detail_amount === 18.00)
      assert(out(1).final_detail_amount === 27.00)
      assert(out.map(_.final_detail_amount).sum === 45.00)
    } finally q.stop()
  }

  test("exactly-once across restart: the per-order state (header and both " +
      "apportion sums) survives a stop and a restart on the same checkpoint") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val cdcDir = s"$root/cdc"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cdcDir))
    def feed(name: String, lines: String*): Unit = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$cdcDir/$name"), lines.mkString("\n"))
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = Runner.orderWideQuery(spark, cdcDir, s"$root/wide", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      q
    }
    def shares() = spark.read.parquet(s"$root/wide").as[OrderWideSplit]
      .collect().map(w => w.order_detail_id -> w.final_detail_amount).toMap
    // phase 1: order 300 (final 45.01 over original 50.00) and its first
    // detail, 2 × 10.00 → the proportional 18.00; the order stays open
    feed("b1.json",
      """{"type":"insert","table":"order_info","data":"{\"id\":300,\"user_id\":7,\"province_id\":1,\"order_status\":\"1001\",\"final_total_amount\":45.01,\"original_total_amount\":50.00,\"create_time\":\"2024-01-01T00:00:10\"}"}""",
      """{"type":"insert","table":"order_detail","data":"{\"id\":31,\"order_id\":300,\"sku_id\":11,\"sku_num\":2,\"order_price\":10.00,\"create_time\":\"2024-01-01T00:00:12\"}"}""")
    run()
    assert(shares() === Map(31L -> 18.00))
    // phase 2, a new query on the same checkpoint: the second detail
    // completes the origin sum and takes the remainder 27.01 only if the
    // header and both sums were recovered (lost state: no header, so no
    // pair; a lost sum alone would give the proportional 27.00)
    feed("b2.json",
      """{"type":"insert","table":"order_detail","data":"{\"id\":32,\"order_id\":300,\"sku_id\":12,\"sku_num\":1,\"order_price\":30.00,\"create_time\":\"2024-01-01T00:00:14\"}"}""",
      """{"type":"insert","table":"order_info","data":"{\"id\":999,\"user_id\":8,\"province_id\":1,\"order_status\":\"1001\",\"final_total_amount\":1.00,\"original_total_amount\":1.00,\"create_time\":\"2024-01-01T02:00:00\"}"}""",
      """{"type":"insert","table":"order_detail","data":"{\"id\":91,\"order_id\":999,\"sku_id\":11,\"sku_num\":1,\"order_price\":1.00,\"create_time\":\"2024-01-01T02:00:00\"}"}""")
    val q2 = run()
    assert(shares() === Map(31L -> 18.00, 32L -> 27.01, 91L -> 1.00))
    assert(q2.lastProgress.stateOperators.map(_.numRowsTotal).sum === 0L,
      "both orders completed: no per-order state may remain")
  }

  test("stage 2: apportioned stream → static dim join → windowed trademark revenue") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val skuDim = Seq((11L, "tm_apple"), (12L, "tm_pear")).toDF("sku_id", "tm_name")
    val wide = MemoryStream[OrderWideSplit]
    val enriched = wide.toDF().join(broadcast(skuDim), "sku_id") // stream-static J2
    val q = Pipelines.trademarkAmount(enriched)
      .writeStream.format("memory").queryName("e2e_tm")
      .outputMode("complete").start()
    try {
      wide.addData(
        OrderWideSplit(1, 100, 11, 2, 10.0, 45.0, 50.0, ts("2024-01-01 00:00:10"), 18.00),
        OrderWideSplit(2, 100, 12, 1, 30.0, 45.0, 50.0, ts("2024-01-01 00:00:11"), 27.00),
        OrderWideSplit(3, 101, 11, 1, 12.5, 12.5, 12.5, ts("2024-01-01 00:00:12"), 12.50))
      q.processAllAvailable()
      val out = spark.table("e2e_tm")
        .select("trademark_name", "amount").as[(String, Double)].collect().toSet
      assert(out === Set(("tm_apple", 30.50), ("tm_pear", 27.00)))
    } finally q.stop()
  }
}
