package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around each call into a layer, timed in every run. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[String] = Nil

  /** Times `body` as a span; its parent is the innermost open span. */
  def apply[T](name: String)(body: => T): (T, Span) = {
    val outer = open
    val par = outer.headOption.getOrElse("")
    open = name :: outer
    Trace.enter(name)
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    try {
      val out = body
      val sp = Span(name, par, ms0, System.currentTimeMillis(), ns0, System.nanoTime())
      done.synchronized(done += sp)
      (out, sp)
    } finally {
      open = outer
      Trace.leave(name, par)
    }
  }

  def all: Seq[Span] = done.synchronized(done.toList)
}

/** Per-stage engine counters attributed to a label. */
final class Counters {
  var stages = 0L; var tasks = 0L; var jobs = 0L
  var cpuNs = 0L; var shuffleWrite = 0L; var inputBytes = 0L; var outputBytes = 0L
  var exchanges = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The traced run's observers. Everything is registered from outside the
  * program: a SparkListener for stages/tasks/jobs, a QueryExecutionListener
  * for the final (adaptive) plans, and a StreamingQueryListener for
  * StreamingQueryProgress. Batch work is labelled by the innermost open
  * span (the listener bus is drained before a span closes, so every event
  * of a span is delivered while its label is current); streaming work is
  * labelled by the `sql.streaming.queryId` job property. */
object Trace {
  @volatile var enabled = false
  @volatile private var label = ""
  private var spark: SparkSession = _

  val byLabel = mutable.Map.empty[String, Counters]
  val byQuery = mutable.Map.empty[String, Counters]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def counters(props: java.util.Properties): Counters = synchronized {
    val qid = Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    qid match {
      case Some(id) => byQuery.getOrElseUpdate(id, new Counters)
      case None => byLabel.getOrElseUpdate(label, new Counters)
    }
  }

  private val stageProps = mutable.Map.empty[Int, java.util.Properties]

  def install(s: SparkSession): Unit = {
    spark = s
    enabled = true
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val c = counters(e.properties)
        Trace.synchronized { c.jobs += 1 }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Trace.synchronized { stageProps(e.stageInfo.stageId) = e.properties }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val props = Trace.synchronized(stageProps.remove(si.stageId).orNull)
        val c = counters(props)
        Trace.synchronized {
          c.stages += 1
          c.tasks += si.numTasks
          val m = si.taskMetrics
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.inputBytes += m.inputMetrics.bytesRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val props = Trace.synchronized(stageProps.get(e.stageId).orNull)
        val c = counters(props)
        Trace.synchronized { c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val n = exchanges(qe.executedPlan)
        val c = counters(null)
        Trace.synchronized { c.exchanges += n }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Trace.synchronized { progress += e.progress }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Shuffle and broadcast exchanges in a physical plan, following the
    * final plan of every adaptive node, query stages and subqueries. */
  def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      case _ => 0
    }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.innerChildren.collect { case c: SparkPlan => c } ++ p.subqueries
    }
    own + kids.map(exchanges).sum
  }

  private[perfbench] def enter(name: String): Unit = if (enabled) label = name
  private[perfbench] def leave(name: String, parent: String): Unit =
    if (enabled) { drain(); label = parent }

  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Busy triggers (input rows > 0) of the given streaming queries, each
    * query's first one left out: it carries the query's one-time costs
    * (codegen, first state-store open). */
  def steadyTriggers(ids: collection.Set[String]): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized(progress.toList).filter(p => ids.contains(p.id.toString) && p.numInputRows > 0)
      .groupBy(_.id).values.flatMap(_.sortBy(_.batchId).drop(1)).toSeq

  def label(name: String): Counters = synchronized(byLabel.getOrElse(name, new Counters))
  def query(id: String): Counters = synchronized(byQuery.getOrElse(id, new Counters))

  /** Wall time inside [startMs, endMs] during which no task ran. */
  def driverGapMs(c: Counters, startMs: Long, endMs: Long): Long = {
    val iv = synchronized(c.taskIntervals.toList)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    math.max(0L, (endMs - startMs) - busy)
  }
}
