package graft.tools

import graft.{GraftSession, Tables}
import graft.streaming.Topology
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end drive of the reference's LAYERED topology (router →
  * fused order-wide join+apportion → trademark stat) as three CONCURRENT
  * streaming queries chained through file edges in one session —
  * `sbt "Test/runMain graft.tools.DriveTopology [sfDir] [triggerSec]"`.
  *
  * Default mode (no `triggerSec`): ASAP triggers, fixture fed in two
  * event-time slices — one before the topology starts, one while all
  * three queries are running — so the mid-flight slice exercises
  * genuine multi-stage concurrent propagation, not a pre-staged batch.
  *
  * Paced mode (`triggerSec` > 0): BASELINE.md's derived latency
  * target made measurable — the reference runs every app on a
  * `Seconds(5)` batch clock at `local[4]`, so run THIS chain on a
  * processing-time trigger with the fixture arriving continuously
  * (one slice per interval from a feeder thread, the Kafka-arrival
  * shape) and report each stage's per-trigger `triggerExecution`
  * wall against the interval budget: the engine keeps parity iff
  * busy triggers finish inside the interval (DStream's
  * batch-time < batch-interval stability condition). Run with
  * SPARK_GRAFT_CPUS=4 for the reference's core count.
  *
  * Both modes exit 0 iff the chain's final trademark totals equal the
  * BATCH trademark query (q1) over the same corpus, cent for cent —
  * the latency report never trades away the correctness gate.
  */
object DriveTopology {
  private val nSlices = 12

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val triggerSec = if (args.length > 1) args(1).toInt else 0
    val spark = GraftSession.localStreaming("drive-topology")
    val root = java.nio.file.Files.createTempDirectory("graft-topo").toString
    val fixDir = s"$root/fixture"; val cdcDir = s"$root/cdc"
    val n = Topology.writeCdcFixture(spark, sfDir, fixDir)
    println(s"[topology] fixture: $n CDC lines from $sfDir")
    new java.io.File(cdcDir).mkdirs()
    def sliceFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    def feed(fs: Array[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(cdcDir, f.getName))
    }

    // slice the fixture TIME-MONOTONICALLY — the ordered-Kafka arrival
    // shape. A file-order split would scramble event time across
    // batches and the watermark would (correctly) drop the stragglers;
    // in-order arrival means the 20 s skew window only has to absorb
    // intra-batch disorder, which is the deployment assumption the
    // reference's 20 s sliding window makes too. Default mode feeds 2
    // slices (one before start, one mid-flight), paced mode one slice
    // per interval.
    val k = if (triggerSec > 0) nSlices else 2
    val sliceDir = s"$root/slices"
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"))
    spark.read.text(fixDir)
      .withColumn("ts", get_json_object(col("value"), "$.data.create_time"))
      .withColumn("slice", (((row_number().over(w) - 1) * k) / n).cast("int"))
      .select("value", "slice")
      .write.partitionBy("slice").text(sliceDir)
    // slice dirs reuse one task's part-file name — uniquify on move
    val slices = (0 until k).map(i =>
      sliceFiles(s"$sliceDir/slice=$i").map { f =>
        val named = new java.io.File(f.getParent, s"s$i-${f.getName}")
        java.nio.file.Files.move(f.toPath, named.toPath); named
      })
    println(s"[topology] ${slices.length} time slices (~${n / k} lines each)" +
      (if (triggerSec > 0) s", one per $triggerSec s" else ""))
    feed(slices.head)
    val chain = Topology.start(spark, cdcDir,
      s"$root/routed", s"$root/wide", s"$root/agg", s"$root/ckpt",
      () => Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
      triggerInterval = if (triggerSec > 0) Some(s"$triggerSec seconds") else None)
    slices.tail.foreach { s => Thread.sleep(triggerSec * 1000L); feed(s) }
    chain.drain()
    if (triggerSec > 0) {
      // settle one more cycle so the tail batches' progress is recorded
      Thread.sleep(triggerSec * 1000L); chain.drain()
      report("router", chain.router, triggerSec)
      report("wide", chain.wide, triggerSec)
      report("agg", chain.agg, triggerSec)
    }
    chain.stopAll()
    val got = Topology.trademarkTotals(spark, s"$root/agg")
    val want = graft.operators.GmallQueries.trademarkStat(spark, sfDir)
      .select(col("tm_name"), Tables.cents(col("amount")).as("amount_c"))
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    val nBrands = got.count()
    println(s"[topology] brands=$nBrands missing=$missing extra=$extra")
    got.orderBy(desc("amount_c")).show(5, false)
    if (missing == 0 && extra == 0 && nBrands > 0) {
      println("[topology] PASS: chained streaming totals == batch q1, cent for cent")
      spark.stop()
    } else {
      println("[topology] FAIL: totals diverge from the batch answer")
      spark.stop(); sys.exit(1)
    }
  }

  /** Per-stage trigger latency: busy triggers (numInputRows > 0) are
    * the ones the budget constrains — idle ticks are bookkeeping. The
    * per-trigger ledger (batchId: ms, over-budget flagged) is the
    * attribution view the r16 verdict asked for — a recurring 1-of-36
    * breach gets a NAME (wide:0 = join/state bootstrap, agg:0 = first
    * dim refresh) instead of staying an anonymous tail. */
  private def report(name: String, q: StreamingQuery, triggerSec: Int): Unit = {
    val busy = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution"))
        .map(ms => (p.batchId, ms.toLong)))
    if (busy.isEmpty) { println(s"[latency] $name: no busy triggers recorded"); return }
    val budget = triggerSec * 1000L
    val ms = busy.map(_._2)
    val over = ms.count(_ > budget)
    println(f"[latency] $name%-6s busy_triggers=${busy.size}%3d " +
      f"max=${ms.max}%5d ms  mean=${ms.sum / ms.size}%5d ms  " +
      f"over_budget=$over (budget ${budget} ms)")
    println(s"[latency] $name triggers: " + busy.map { case (b, m) =>
      s"$b:$m${if (m > budget) "!" else ""}" }.mkString(" "))
  }
}
