package graft.tools

import graft.GraftSession
import graft.streaming.Runner

/** Manual end-to-end driver for the file-edged streaming runner and the
  * SQL surface of the custom expression — run with
  * `sbt "Test/runMain graft.tools.DriveStreams <startLogDir> <cdcDir> <outRoot>"`.
  * Dev verification harness, not part of the library surface.
  */
object DriveStreams {
  def main(args: Array[String]): Unit = {
    val Array(startDir, cdcDir, outRoot) = args
    val spark = GraftSession.localStreaming("drive-streams")

    println("=== SQL cosine_similarity ===")
    spark.sql(
      """SELECT cosine_similarity(array(1.0f,2.0f,3.0f), array(2.0f,4.0f,6.0f)) AS c_parallel,
        |       cosine_similarity(array(1.0f,0.0f), array(0.0f,1.0f)) AS c_orth""".stripMargin)
      .show()

    println("=== DAU streaming (file edges) ===")
    val q1 = Runner.dauQuery(spark, startDir, s"$outRoot/dau", s"$outRoot/dau_ckpt")
    q1.processAllAvailable(); q1.stop()
    spark.read.parquet(s"$outRoot/dau").show(20, false)

    println("=== Router streaming (file edges) ===")
    val q2 = Runner.routerQuery(spark, cdcDir, s"$outRoot/router", s"$outRoot/router_ckpt")
    q2.processAllAvailable(); q2.stop()
    spark.read.parquet(s"$outRoot/router").orderBy("topic").show(20, false)

    println("=== Order-wide streaming (CDC → fused join + apportion, file edges) ===")
    val q3 = Runner.orderWideQuery(spark, cdcDir, s"$outRoot/wide", s"$outRoot/wide_ckpt")
    q3.processAllAvailable(); q3.stop()
    spark.read.parquet(s"$outRoot/wide").orderBy("order_detail_id").show(20, false)

    spark.stop()
  }
}
