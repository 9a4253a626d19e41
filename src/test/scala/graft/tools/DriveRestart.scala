package graft.tools

import java.nio.file.{Files, Paths}
import graft.GraftSession
import graft.streaming.Runner

/** Exactly-once demonstration: the order-wide state (the header and the
  * running origin/split sums per order) must survive a full process
  * restart via the checkpoint (EndToEndStreamSpec runs the same two
  * phases in one JVM). Phase 1 feeds one detail of a two-detail order and
  * exits; phase 2 (fresh JVM invocation) feeds the second detail — if
  * state recovered, the second detail completes the origin sum and gets
  * the remainder, and Σ shares == final_total exactly. final_total is
  * 45.01 ON PURPOSE: recovered state → remainder 27.01; lost state →
  * proportional 27.00 — the two paths are distinguishable (a clean
  * 45.00 would print 27.00 either way and mask broken recovery).
  * `sbt "Test/runMain graft.tools.DriveRestart <phase> <dir>"`.
  */
object DriveRestart {
  def main(args: Array[String]): Unit = {
    val Array(phase, root) = args
    val cdcDir = s"$root/cdc"
    Files.createDirectories(Paths.get(cdcDir))
    val spark = GraftSession.localStreaming("drive-restart")
    def feed(name: String, lines: String*): Unit =
      Files.writeString(Paths.get(s"$cdcDir/$name"), lines.mkString("\n"))
    if (phase == "1") {
      feed("b1.json",
        """{"type":"insert","table":"order_info","data":"{\"id\":300,\"user_id\":7,\"province_id\":1,\"order_status\":\"1001\",\"final_total_amount\":45.01,\"original_total_amount\":50.00,\"create_time\":\"2024-01-01T00:00:10\"}"}""",
        """{"type":"insert","table":"order_detail","data":"{\"id\":31,\"order_id\":300,\"sku_id\":11,\"sku_num\":2,\"order_price\":10.00,\"create_time\":\"2024-01-01T00:00:12\"}"}""")
    } else {
      feed("b2.json",
        """{"type":"insert","table":"order_detail","data":"{\"id\":32,\"order_id\":300,\"sku_id\":12,\"sku_num\":1,\"order_price\":30.00,\"create_time\":\"2024-01-01T00:00:14\"}"}""",
        // an order far ahead in event time, so the watermark passes 300
        """{"type":"insert","table":"order_info","data":"{\"id\":999,\"user_id\":8,\"province_id\":1,\"order_status\":\"1001\",\"final_total_amount\":1.00,\"original_total_amount\":1.00,\"create_time\":\"2024-01-01T02:00:00\"}"}""",
        """{"type":"insert","table":"order_detail","data":"{\"id\":91,\"order_id\":999,\"sku_id\":11,\"sku_num\":1,\"order_price\":1.00,\"create_time\":\"2024-01-01T02:00:00\"}"}""")
    }
    val q = Runner.orderWideQuery(spark, cdcDir, s"$root/wide", s"$root/ckpt")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline && q.isActive &&
      q.recentProgress.length < 4) Thread.sleep(1000)
    Thread.sleep(8000)
    q.stop()
    println(s"=== phase $phase output ===")
    try spark.read.parquet(s"$root/wide")
      .orderBy("order_detail_id")
      .show(20, false)
    catch { case e: Exception => println("no output yet: " + e.getMessage) }
    spark.stop()
  }
}
