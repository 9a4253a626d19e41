package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in its own JVM.
  *
  * Usage: perfbench.Main --workload W --in DIR --out DIR --seed N
  *                       --seconds S --trace 0|1 --cpus N
  *
  * `--in` holds the generated inputs (gen.py), `--out` receives every
  * output the program writes plus `result.json`: step timings, per-layer
  * figures (traced runs) and, traced, the spans and counters. The JVM
  * ends itself with `halt` once the result is on disk, so a native
  * teardown that aborts or hangs cannot hold the run. */
object Main {
  final case class Opts(workload: String, in: String, out: String, seed: Long,
                        seconds: Int, trace: Boolean, cpus: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("in"), m("out"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cpus", "4").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val result = new java.util.LinkedHashMap[String, Any]()
    var code = 0
    try { run(o, result); result.put("completed", true) }
    catch {
      case t: Throwable =>
        t.printStackTrace()
        result.put("error", s"${t.getClass.getName}: ${t.getMessage}")
        code = 1
    }
    write(s"${o.out}/result.json", result)
    System.out.flush(); System.err.flush()
    // stop the session off the main thread; give up on it after a bound
    val stopper = new Thread(() => SparkSession.getActiveSession.foreach { s =>
      s.streams.active.foreach(q => scala.util.Try(q.stop()))
      s.stop()
    })
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(20000)
    Runtime.getRuntime.halt(code)
  }

  def write(path: String, v: Any): Unit =
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new File(path), v)

  def run(o: Opts, result: java.util.LinkedHashMap[String, Any]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    watchGc()
    val spark = o.workload match {
      case "gmall_stream" => graft.GraftSession.localStreamingCpus(s"perfbench-${o.workload}", o.cpus)
      case _ => graft.GraftSession.local(s"perfbench-${o.workload}") // SPARK_GRAFT_CPUS
    }
    require(spark.sparkContext.defaultParallelism == o.cpus,
      s"session runs ${spark.sparkContext.defaultParallelism} task threads, expected ${o.cpus}")
    val sessionReady = System.currentTimeMillis()
    // input set-up: list and open every generated input the workload
    // reads (parquet footers, line files by listing); repeated, median
    // reported
    val prep = (0 until 3).map(_ => time(prepareInputs(o.in)))
    val setupS = (sessionReady - jvmStart) / 1000.0 + median(prep)
    if (o.trace) Trace.install(spark)

    val w: Workload = o.workload match {
      case "gmall_stream" => new GmallStream(spark, o)
      case "corpus" => new Corpus(spark, o)
    }
    val t0 = System.nanoTime()
    var round = 0
    // whole rounds only: every round runs the same operations
    while (round == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      Spans(s"round-$round")(w.round(round))
      w.endRound(round)
      round += 1
    }
    Trace.drain()
    result.put("workload", o.workload)
    result.put("rounds", round)
    result.put("setup_s", setupS)
    result.put("setup_parts", Map("session_s" -> (sessionReady - jvmStart) / 1000.0,
      "inputs_s" -> prep.asJava).asJava)
    result.put("peak_rss_mb", peakRssMb())
    result.put("peak_live_heap_mb", peakLiveHeapMb())
    result.put("steps", w.steps.map(s => Map("name" -> s._1, "round" -> s._2, "s" -> s._3,
      "cpu_s" -> s._4).asJava).asJava)
    result.put("metrics", w.metrics.map { case (k, v) => k -> v.asJava }.asJava)
    result.put("manifest", w.manifest.asJava)
    if (o.trace) {
      result.put("layers", w.layers(round).asJava)
      result.put("progress", Trace.synchronized(Trace.progress.toList).map(p => Map(
        "query" -> p.id.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start" -> p.timestamp, "duration_ms" -> p.durationMs).asJava).asJava)
      result.put("spans", Spans.all.map(s => Map("name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs).asJava).asJava)
      result.put("counters", (Trace.byLabel.map { case (k, c) => s"label:$k" -> c }
        ++ Trace.byQuery.map { case (k, c) => s"query:$k" -> c }).map { case (k, c) =>
        k -> Map("stages" -> c.stages, "tasks" -> c.tasks, "jobs" -> c.jobs,
          "executor_cpu_ns" -> c.cpuNs, "shuffle_write_bytes" -> c.shuffleWrite,
          "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes,
          "exchanges" -> c.exchanges).asJava
      }.toMap.asJava)
    }
  }

  private def prepareInputs(in: String): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    new File(in).listFiles().filter(_.isDirectory).sortBy(_.getName).foreach { d =>
      val files = d.listFiles().sortBy(_.getName)
      require(files.nonEmpty, s"empty input dir $d")
      files.filter(_.getName.endsWith(".parquet"))
        .foreach(f => require(parquetRows(f, conf) > 0, s"no rows in $f"))
    }
  }

  /** Row count of a parquet file, from its footer. */
  def parquetRows(f: File, conf: org.apache.hadoop.conf.Configuration =
      new org.apache.hadoop.conf.Configuration()): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
    try r.getRecordCount finally r.close()
  }

  def time(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val liveHeapPeak = new java.util.concurrent.atomic.AtomicLong

  /** Records, from every garbage collection on, the heap occupancy right
    * after it: the data the program still holds, plus garbage the
    * collection did not reach. */
  def watchGc(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
        (n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            liveHeapPeak.accumulateAndGet(after, math.max(_, _))
          }, null, null)
    }
  }

  /** Largest heap occupancy after a collection since [[watchGc]], MB. */
  def peakLiveHeapMb(): Double = liveHeapPeak.get / 1048576.0

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Atomically moves `src` into the watched directory `dir`. */
  def land(src: File, dir: String): Unit =
    Files.move(src.toPath, Paths.get(dir, src.getName), StandardCopyOption.ATOMIC_MOVE)

  /** Copies the files of `from` into a fresh staging dir for one round. */
  def stage(from: String, to: String): Array[File] = {
    new File(to).mkdirs()
    new File(from).listFiles().filter(_.isFile).sortBy(_.getName).map { f =>
      val t = Paths.get(to, f.getName)
      Files.copy(f.toPath, t)
      t.toFile
    }
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def lineCount(f: File): Long = {
    val src = scala.io.Source.fromFile(f)
    try src.getLines().count(_.nonEmpty).toLong finally src.close()
  }
}

/** A workload: whole rounds of the same operations, each timed step
  * recorded as (name, round, wall seconds, process CPU seconds). */
trait Workload {
  val steps = mutable.ArrayBuffer.empty[(String, Int, Double, Double)]
  /** Workload-specific figures, one value per round. */
  val metrics = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val manifest = mutable.LinkedHashMap.empty[String, Any]

  def round(r: Int): Unit
  def layers(rounds: Int): Map[String, Any]

  def record(name: String, v: Double): Unit =
    metrics.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def step[T](name: String, r: Int)(body: => T): T = {
    val cpu0 = os.getProcessCpuTime
    val (out, sp) = Spans(name)(body)
    steps += ((name, r, sp.seconds, (os.getProcessCpuTime - cpu0) / 1e9))
    out
  }

  /** The round's end-to-end figures: wall and process CPU time of its
    * timed steps. */
  def endRound(r: Int): Unit = {
    val mine = steps.filter(_._2 == r)
    record("work_s", mine.map(_._3).sum)
    record("work_cpu_s", mine.map(_._4).sum)
  }
}
