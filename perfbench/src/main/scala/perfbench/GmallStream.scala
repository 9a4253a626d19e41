package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Pipelines, Runner, Topology}

/** gmall_stream: the layered chain (router -> wide -> agg), then the DAU
  * stage, on the RocksDB-backed streaming session, each fed closed-loop:
  * a slice lands, then every stage drains it before the next one lands.
  * Then the warehouse's batch queries ([[GmallBatch]]). */
final class GmallStream(spark: SparkSession, o: Main.Opts) extends Workload {
  private val queryIds = mutable.Map.empty[String, mutable.Set[String]]
  private val batch = new GmallBatch(spark, o, this)

  private def track(stage: String, q: StreamingQuery): Unit =
    queryIds.getOrElseUpdate(stage, mutable.Set.empty) += q.id.toString

  def round(r: Int): Unit = {
    val root = s"${o.out}/round-$r"
    val cdc = Main.stage(s"${o.in}/cdc", s"$root/staging/cdc")
    val logs = Main.stage(s"${o.in}/startlog", s"$root/staging/startlog")
    val (cdcDir, logDir) = (s"$root/cdc", s"$root/startlog")
    new File(cdcDir).mkdirs(); new File(logDir).mkdirs()
    val part = s"${o.in}/sku/part.parquet"

    val chainLines = cdc.tail.map(Main.lineCount).sum
    val dauLines = logs.tail.map(Main.lineCount).sum
    // slice 0 of each feed lands before its queries start: that step is
    // the pipeline's cold start; each later slice lands once the previous
    // one has drained through every stage
    Main.land(cdc.head, cdcDir)
    val chain = step("chain_start", r) {
      val c = Topology.start(spark, cdcDir, s"$root/routed", s"$root/wide",
        s"$root/agg", s"$root/ckpt",
        () => spark.read.parquet(part).select(col("p_partkey"), col("p_brand")))
      c.drain()
      c
    }
    track("router", chain.router); track("wide", chain.wide); track("agg", chain.agg)
    cdc.tail.foreach(f => step("chain_slice", r) { Main.land(f, cdcDir); chain.drain() })
    chain.stopAll()

    Main.land(logs.head, logDir)
    val dau = step("dau_start", r) {
      val q = Pipelines.dauFirstVisits(Runner.parseStartLogs(spark.readStream.text(logDir)))
        .writeStream.outputMode("append").format("parquet").partitionBy("dt")
        .option("path", s"$root/dau")
        .option("checkpointLocation", s"$root/ckpt/dau")
        .start()
      q.processAllAvailable()
      q
    }
    track("dau", dau)
    logs.tail.foreach(f => step("dau_slice", r) { Main.land(f, logDir); dau.processAllAvailable() })
    dau.stop()

    val secs = (n: String) => steps.filter(s => s._1 == n && s._2 == r).map(_._3)
    record("chain_rows_per_s", chainLines / secs("chain_slice").sum)
    record("chain_slice_latency_ms", Main.median(secs("chain_slice").toSeq) * 1000)
    record("dau_rows_per_s", dauLines / secs("dau_slice").sum)

    batch.round(r, root)
    manifest(s"round-$r") = root
  }

  private val phases = Seq("trigger" -> Seq("triggerExecution"), "add_batch" -> Seq("addBatch"),
    "planning" -> Seq("queryPlanning"), "commit" -> Seq("walCommit", "commitOffsets"),
    "offsets" -> Seq("latestOffset", "getBatch"))

  def layers(rounds: Int): Map[String, Any] = {
    val progress = Trace.synchronized(Trace.progress.toList)
    val out = mutable.LinkedHashMap.empty[String, Any]
    Seq("router", "wide", "agg", "dau").foreach { stage =>
      val ids = queryIds.getOrElse(stage, mutable.Set.empty[String])
      val mine = progress.filter(p => ids.contains(p.id.toString))
      val busy = Trace.steadyTriggers(ids)
      phases.foreach { case (name, keys) =>
        out(s"$stage.${name}_ms") = Main.median(busy.map(p =>
          keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum))
      }
      if (stage == "wide" || stage == "dau") {
        out(s"$stage.state_rows") = mine.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
        out(s"$stage.state_bytes") = mine.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)
      }
    }
    val cs = queryIds.values.flatten.map(Trace.query).toList
    // engine counters per round
    out("stream.shuffle_write_bytes") = cs.map(_.shuffleWrite).sum / rounds
    out("stream.executor_cpu_s") = cs.map(_.cpuNs).sum / 1e9 / rounds
    out("stream.tasks") = cs.map(_.tasks).sum / rounds
    out("stream.jobs") = cs.map(_.jobs).sum / rounds
    (out ++ batch.layers(rounds)).toMap
  }
}
