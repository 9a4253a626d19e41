package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Hnsw, Similarity, TextOps}
import graft.streaming.Runner

/** corpus: the training-data path. Per round: the batch curate
  * composites memo-cold (q34 then q35), the streaming curate intake over
  * several landed document batches, a sharded HNSW index build, and the
  * streaming HNSW serve over several landed query batches. */
final class Corpus(spark: SparkSession, o: Main.Opts) extends Workload {
  private val sf = s"${o.in}/sf"
  private val curate = Seq("q34_curate_llm" -> "curate_llm", "q35_curate_full" -> "curate_full")
  private val queryIds = mutable.Map.empty[String, mutable.Set[String]]
  private val indexBytes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  manifest("oracle_sql") = {
    val path = s"${o.out}/oracle_sql.json"
    Main.write(path, scala.jdk.CollectionConverters.MapHasAsJava(
      graft.SparkEntry.oracleSql.filter { case (k, _) => curate.exists(_._1 == k) }).asJava)
    path
  }

  private def closedLoop(name: String, r: Int, files: Array[File], dir: String,
                         q: StreamingQuery): Unit = {
    queryIds.getOrElseUpdate(name, mutable.Set.empty) += q.id.toString
    files.foreach(f => step(s"${name}_batch", r) { Main.land(f, dir); q.processAllAvailable() })
    q.stop()
  }

  def round(r: Int): Unit = {
    val root = s"${o.out}/round-$r"
    // memo-cold: clear the process-global memos a previous round filled
    Dedup.invalidateClusterMemo()
    Similarity.invalidateModelMemo()
    TextOps.invalidateBpeMemo()
    TextOps.invalidateUnigramMemo()
    curate.foreach { case (q, label) =>
      step(label, r) {
        graft.SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(s"$root/$q")
      }
    }

    val intake = Main.stage(s"${o.in}/intake", s"$root/staging/intake")
    val intakeDir = s"$root/intake"
    new File(intakeDir).mkdirs()
    val docSchema = spark.read.parquet(intake.head.getPath).schema
    val nDocs = intake.map(Main.parquetRows(_)).sum
    closedLoop("intake", r, intake, intakeDir,
      Runner.curateIntakeQuery(spark, sf, s"$root/intake_index",
        spark.readStream.schema(docSchema).parquet(intakeDir),
        s"$root/decisions", s"$root/ckpt/intake"))
    indexBytes.getOrElseUpdate("intake", mutable.ArrayBuffer.empty) +=
      Main.dirBytes(s"$root/intake_index").toDouble

    val annIndex = s"$root/ann_index"
    step("ann_build", r) { Hnsw.writeHnswIndexSharded(spark, sf, annIndex) }
    indexBytes.getOrElseUpdate("ann", mutable.ArrayBuffer.empty) +=
      Main.dirBytes(annIndex).toDouble
    val queries = Main.stage(s"${o.in}/annq", s"$root/staging/annq")
    val annqDir = s"$root/annq"
    new File(annqDir).mkdirs()
    val qSchema = spark.read.parquet(queries.head.getPath).schema
    val nQueries = queries.map(Main.parquetRows(_)).sum
    closedLoop("ann", r, queries, annqDir,
      Runner.hnswServeQuery(spark, annIndex,
        spark.readStream.schema(qSchema).parquet(annqDir),
        s"$root/ann_answers", s"$root/ckpt/ann"))

    val secs = (n: String) => steps.filter(s => s._1 == n && s._2 == r).map(_._3).sum
    record("curate_s", secs("curate_llm") + secs("curate_full"))
    record("intake_docs_per_s", nDocs / secs("intake_batch"))
    record("ann_index_build_s", secs("ann_build"))
    record("ann_queries_per_s", nQueries / secs("ann_batch"))
    manifest(s"round-$r") = root
  }

  def layers(rounds: Int): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val med = (n: String) => Main.median(steps.filter(_._1 == n).map(_._3).toSeq)
    out("curate_llm.s") = med("curate_llm")
    out("curate_full.s") = med("curate_full")
    val cs = curate.map(c => Trace.label(c._2))
    out("curate.exchanges") = cs.map(_.exchanges).sum / rounds
    out("curate.stages") = cs.map(_.stages).sum / rounds
    out("curate.shuffle_write_bytes") = cs.map(_.shuffleWrite).sum / rounds
    out("curate.executor_cpu_s") = cs.map(_.cpuNs).sum / 1e9 / rounds
    out("curate.driver_gap_s") = Spans.all.filter(s => curate.exists(_._2 == s.name))
      .map(s => Trace.driverGapMs(Trace.label(s.name), s.startMs, s.endMs)).sum / 1000.0 / rounds
    Seq("intake", "ann").foreach { name =>
      val ids = queryIds.getOrElse(name, mutable.Set.empty[String])
      val busy = Trace.steadyTriggers(ids)
      val dur = (k: String) => busy.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      out(s"$name.trigger_ms") = Main.median(dur("triggerExecution"))
      out(s"$name.add_batch_ms") = Main.median(dur("addBatch"))
      val qc = ids.toList.map(Trace.query)
      out(s"$name.executor_cpu_s") = qc.map(_.cpuNs).sum / 1e9 / rounds
      if (name == "ann") out("ann.shuffle_write_bytes") = qc.map(_.shuffleWrite).sum / rounds
      out(s"$name.index_bytes") = Main.median(indexBytes.getOrElse(name, Nil).toSeq)
    }
    out.toMap
  }
}
