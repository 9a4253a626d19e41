package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The warehouse's batch queries as the last stage of gmall_stream: the
  * batch twins of the chain's sink and of its join + apportion
  * (`q1_trademark_stat`, `q4_apportion`) and the rows-only
  * `q16_dau_approx`, each materialised into a parquet sink, in an order
  * drawn from the seed. No streaming or state code runs in this stage. */
final class GmallBatch(spark: SparkSession, o: Main.Opts, w: Workload) {
  val names: Seq[String] = new scala.util.Random(o.seed).shuffle(GmallBatch.queries)
  private val planning = mutable.Map.empty[String, Double]

  w.manifest("queries") = names.mkString(",")
  Main.write(s"${o.out}/oracle_sql.json", scala.jdk.CollectionConverters.MapHasAsJava(
    graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }).asJava)

  def round(r: Int, root: String): Unit = {
    names.foreach { q =>
      w.step(q, r) {
        val df = graft.SparkEntry.queries(q)(spark, s"${o.in}/sf")
        // traced only: reach the executed plan from outside before the
        // action (the write plans the same logical plan again)
        if (o.trace) planning(s"$q#$r") = Main.time(df.queryExecution.executedPlan)
        df.write.mode("overwrite").parquet(s"$root/$q")
      }
    }
    w.record("batch_total_s", w.steps.filter(s => s._2 == r && names.contains(s._1)).map(_._3).sum)
  }

  def layers(rounds: Int): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    names.sorted.foreach { q =>
      out(s"$q.s") = Main.median(w.steps.filter(_._1 == q).map(_._3).toSeq)
    }
    val spans = Spans.all.filter(s => names.contains(s.name))
    val cs = names.map(Trace.label)
    out("batch.planning_s") = planning.values.sum / rounds
    out("batch.exchanges") = cs.map(_.exchanges).sum / rounds
    out("batch.stages") = cs.map(_.stages).sum / rounds
    out("batch.tasks") = cs.map(_.tasks).sum / rounds
    out("batch.shuffle_write_bytes") = cs.map(_.shuffleWrite).sum / rounds
    out("batch.input_bytes") = cs.map(_.inputBytes).sum / rounds
    out("batch.output_bytes") = cs.map(_.outputBytes).sum / rounds
    out("batch.executor_cpu_s") = cs.map(_.cpuNs).sum / 1e9 / rounds
    out("batch.driver_gap_s") = spans.map(s =>
      Trace.driverGapMs(Trace.label(s.name), s.startMs, s.endMs)).sum / 1000.0 / rounds
    out.toMap
  }
}

object GmallBatch {
  val queries: Seq[String] = Seq("q1_trademark_stat", "q4_apportion", "q16_dau_approx")
}
