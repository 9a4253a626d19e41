package graft.streaming

import graft.{GraftSession, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The full LAYERED topology under the repeatable test gate (the
  * DriveTopology assertion as a spec, single-chunk feed at sf0.001):
  * three concurrent streaming queries chained through FileStreamSink/
  * Source edges — router → fused order-wide join + apportionment →
  * per-batch-dim-refreshed trademark aggregation — must reproduce the BATCH
  * trademark query cent-for-cent. This is the reference's actual
  * multi-app deployment shape run end-to-end, not stage-by-stage
  * (EndToEndStreamSpec covers the stages individually). */
class TopologySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // one drained run of the chain, shared by the tests below: its
  // output root, its (stopped) queries and how often agg loaded the dim
  private lazy val drained: (String, Topology.Chain, Int) = {
    val root = java.nio.file.Files.createTempDirectory("graft-topospec").toString
    Topology.writeCdcFixture(spark, sf, s"$root/cdc")
    val dimLoads = new java.util.concurrent.atomic.AtomicInteger
    val chain = Topology.start(spark, s"$root/cdc",
      s"$root/routed", s"$root/wide", s"$root/agg", s"$root/ckpt",
      () => {
        dimLoads.incrementAndGet()
        Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))
      })
    try {
      chain.drain()
      // re-send the fixture's first 400 s of event time (it starts at
      // 22:13:20): all of it is behind wide's watermark, so wide emits
      // an empty micro-batch that agg reads as a batch of 0 rows (the
      // totals stay the batch answer)
      import spark.implicits._
      val late = spark.read.text(s"$root/cdc").as[String]
        .filter(get_json_object(col("value"), "$.data.create_time") < "2023-11-14 22:20:00")
        .collect()
      assert(late.nonEmpty)
      late.toSeq.toDS().write.mode("append").text(s"$root/cdc")
      chain.drain()
    } finally chain.stopAll()
    (root, chain, dimLoads.get)
  }

  test("chained streaming trademark totals == batch q1, cent for cent") {
    val (root, _, _) = drained
    val got = Topology.trademarkTotals(spark, s"$root/agg")
    val want = graft.operators.GmallQueries.trademarkStat(spark, sf)
      .select(col("tm_name"), Tables.cents(col("amount")).as("amount_c"))
    assert(got.count() > 0)
    assert(want.exceptAll(got).count() === 0L)
    assert(got.exceptAll(want).count() === 0L)
  }

  test("the wide stage plans one shuffle into one stateful operator " +
      "with one state store per shuffle partition") {
    // exchange and state-store counts are deterministic: a change that
    // re-adds a shuffle (or the interval join's 4 stores per partition)
    // fails here at plan time
    val (_, Topology.Chain(_, wide, _), _) = drained
    val plan = wide.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1, plan.treeString)
    assert(plan.collect { case s: StateStoreWriter => s }.size === 1, plan.treeString)
    val ops = wide.lastProgress.stateOperators
    assert(ops.length === 1)
    assert(ops.head.numStateStoreInstances === 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("agg loads the sku dim only for micro-batches that carry rows") {
    val (_, chain, dimLoads) = drained
    // input rows of each micro-batch that ran (idle progress has no addBatch)
    def inputs(q: StreamingQuery) = q.recentProgress
      .filter(_.durationMs.containsKey("addBatch")).map(_.numInputRows).toSeq
    // wide ran a no-data micro-batch once the watermark advanced, and
    // agg ran one micro-batch of 0 rows (the late slice's)
    assert(inputs(chain.wide).contains(0L))
    assert(inputs(chain.agg).contains(0L))
    assert(dimLoads === inputs(chain.agg).count(_ > 0))
  }

  test("agg joins the sku dim as it stands at each micro-batch") {
    // the reference's per-batch dim refresh (S5/J2): a brand rewritten
    // between two slices lands in the next agg batch. Each order's
    // lines share one create_time, so cutting by it keeps orders whole
    // and puts the second slice ahead of wide's watermark
    val root = java.nio.file.Files.createTempDirectory("graft-topodim").toString
    Topology.writeCdcFixture(spark, sf, s"$root/fixture")
    val lines = spark.read.text(s"$root/fixture")
    val late = get_json_object(col("value"), "$.data.create_time") >= "2023-11-14 22:26:00"
    lines.filter(!late).write.text(s"$root/cdc")
    val dimDir = s"$root/dim"
    val dim = Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))
    dim.write.parquet(dimDir)
    val chain = Topology.start(spark, s"$root/cdc",
      s"$root/routed", s"$root/wide", s"$root/agg", s"$root/ckpt",
      () => spark.read.parquet(dimDir))
    try {
      chain.drain()
      val lastBefore = spark.read.parquet(s"$root/agg")
        .agg(max(col("batch_id")).cast("long")).head.getLong(0)
      val sku = lines.filter(late)
        .select(get_json_object(col("value"), "$.data.sku_id").cast("long").as("sku"))
        .filter(col("sku").isNotNull).head.getLong(0)
      dim.withColumn("p_brand", when(col("p_partkey") === sku, lit("Brand#Refreshed"))
          .otherwise(col("p_brand")))
        .write.mode("overwrite").parquet(dimDir)
      lines.filter(late).write.mode("append").text(s"$root/cdc")
      chain.drain()
      val landed = spark.read.parquet(s"$root/agg")
        .filter(col("tm_name") === "Brand#Refreshed")
        .select(col("batch_id").cast("long")).collect().map(_.getLong(0)).toSeq
      assert(landed.nonEmpty && landed.forall(_ > lastBefore), landed)
    } finally chain.stopAll()
  }

  // ---- breach attribution (Topology.classifyOverBudget) — the r17
  // ledgers' measured breach shapes plus the regression shape,
  // replayed synthetically so the classifier's semantics are pinned.
  // Triggers fire on a shared 5 s clock: trigger b starts at b*5000
  // and runs for its duration, so wall-clock overlap mirrors the
  // paced chain's concurrency.

  private def row(stage: String, b: Long, ms: Long): (String, Long, Long, Long) =
    (stage, b, b * 5000L, ms)

  // a steady stage: first busy trigger at batch 0, median ~500 ms
  private def steady(stage: String, n: Int = 12, ms: Long = 500): Seq[(String, Long, Long, Long)] =
    (0 until n).map(i => row(stage, i.toLong, ms))

  test("classifyOverBudget: a stage's FIRST busy trigger over budget is " +
      "bootstrap, even when the other stages' own bootstraps are hot too") {
    // the run-3 shape: wide:0 at 6 s, router:0/agg:0 elevated (2-3x
    // their medians) but under budget — their elevation is their OWN
    // one-time cost, not a capacity blip
    val obs = Seq(row("wide", 0L, 6000L)) ++
      steady("wide").tail.map { case (s, b, t, _) => (s, b, t, 2400L) } ++
      (row("router", 0L, 1100L) +: steady("router").tail) ++
      (row("agg", 0L, 1700L) +: steady("agg").tail)
    assert(Topology.classifyOverBudget(obs, 5000L) === ((1, 0, 0)))
  }

  test("classifyOverBudget: mid-stream breaches overlapping neighbors at " +
      ">2x their medians are correlated (the run-2 capacity blip)") {
    // the run-2 shape: wide 3-5 over budget; router 4-6 and agg 2-3
    // simultaneously 2-8x their medians, everything else steady
    val wide = steady("wide", ms = 2300).map {
      case (s, b, t, _) if b >= 3 && b <= 5 => (s, b, t, 6200L)
      case t => t
    }
    val router = steady("router").map {
      case (s, b, t, _) if b >= 4 && b <= 6 => (s, b, t, 2000L)
      case t => t
    }
    val agg = steady("agg").map {
      case (s, b, t, _) if b >= 2 && b <= 3 => (s, b, t, 3300L)
      case t => t
    }
    assert(Topology.classifyOverBudget(wide ++ router ++ agg, 5000L) === ((0, 3, 0)))
  }

  test("classifyOverBudget: correlation aligns by WALL-CLOCK overlap, not " +
      "batch id — the run-6 drain tail (wide batch 12 concurrent with agg " +
      "batch 9) classifies correlated") {
    // agg ticked fewer busy batches: its batch 9 starts where wide's
    // batch 12 does (both at the drain). batch-id distance is 3, but
    // the intervals overlap and agg:9 runs >2x agg's median
    val wide = steady("wide", n = 13, ms = 2400).map {
      case (s, b, t, _) if b == 12 => (s, b, t, 7900L)
      case t => t
    }
    val agg = steady("agg", n = 9, ms = 800) :+ (("agg", 9L, 12L * 5000L, 3900L))
    assert(Topology.classifyOverBudget(wide ++ agg ++ steady("router"),
      5000L) === ((0, 1, 0)))
  }

  test("classifyOverBudget: a lone non-first breach with quiet neighbors " +
      "is ISOLATED — the class that means a stage regression") {
    val wide = steady("wide", ms = 2300).map {
      case (s, b, t, _) if b == 7 => (s, b, t, 7000L)
      case t => t
    }
    val obs = wide ++ steady("router") ++ steady("agg")
    assert(Topology.classifyOverBudget(obs, 5000L) === ((0, 0, 1)))
    // and a neighbor elevated ONLY at its bootstrap does not launder
    // the breach into correlated: first triggers are excluded from the
    // correlation evidence (even when they run long enough to overlap)
    val bootRouter = (("router", 0L, 0L, 9000L) +: steady("router").tail)
    val wide0 = steady("wide", ms = 2300).map {
      case (s, b, t, _) if b == 1 => (s, b, t, 7000L)
      case t => t
    }
    assert(Topology.classifyOverBudget(wide0 ++ bootRouter ++ steady("agg"),
      5000L) === ((1, 0, 1)))
  }

  test("classifyOverBudget: sustained section-wide load (non-first " +
      "breaches in >=2 stages) is correlated even though the inflated " +
      "medians destroy pairwise evidence — the run-9 shape") {
    // run 9: EVERY wide trigger 6.9-12.5 s (median itself ~8.5 s, so
    // nothing reads >2x it), router and agg each breaching too — a
    // single-stage regression cannot breach the other stages' budgets
    val wide = steady("wide", n = 8, ms = 8500).map {
      case (s, b, t, _) if b == 0 => (s, b, t, 2800L)
      case t => t
    }
    val router = steady("router", n = 11, ms = 1300).map {
      case (s, b, t, _) if b == 9 => (s, b, t, 8267L)
      case t => t
    }
    val agg = steady("agg", n = 8, ms = 1700).map {
      case (s, b, t, _) if b == 1 || b == 3 => (s, b, t, 7000L)
      case t => t
    }
    val (boot, corr, iso) = Topology.classifyOverBudget(wide ++ router ++ agg, 5000L)
    assert(iso === 0, "sustained load must not read as a stage regression")
    assert(boot === 0 && corr === 10)
  }

  test("classifyOverBudget: two single-stage breaches in DIFFERENT stages " +
      "far apart in time are BOTH isolated — the breadth rule is " +
      "temporally gated (ADVICE r17), so independent regressions no " +
      "longer launder each other") {
    val wide = steady("wide", n = 20, ms = 2300).map {
      case (s, b, t, _) if b == 2 => (s, b, t, 7000L)
      case t => t
    }
    val router = steady("router", n = 20).map {
      case (s, b, t, _) if b == 15 => (s, b, t, 8000L)
      case t => t
    }
    // wide:2 ends at 17 s, router:15 starts at 75 s — 58 s apart, no
    // shared time-cluster; each breach's concurrent neighbors sit at
    // their medians, so BOTH must surface as stage regressions
    assert(Topology.classifyOverBudget(
      wide ++ router ++ steady("agg", n = 20), 5000L) === ((0, 0, 2)))
    // ...while the SAME two breaches moved adjacent in time chain into
    // one >=2-stage cluster and read correlated (the sustained-load
    // signature the gate must keep)
    val routerNear = steady("router", n = 20).map {
      case (s, b, t, _) if b == 3 => (s, b, t, 8000L)
      case t => t
    }
    assert(Topology.classifyOverBudget(
      wide ++ routerNear ++ steady("agg", n = 20), 5000L) === ((0, 2, 0)))
  }

  test("classifyOverBudget: an unparseable start (start < 0) is excluded " +
      "from temporal evidence and falls back to the non-temporal breadth " +
      "rule for itself (ADVICE r17)") {
    // alone: a no-position breach with quiet neighbors stays ISOLATED
    val wideLone = steady("wide", ms = 2300).map {
      case (s, b, _, _) if b == 7 => (s, b, -1L, 7000L)
      case t => t
    }
    assert(Topology.classifyOverBudget(
      wideLone ++ steady("router") ++ steady("agg"), 5000L) === ((0, 0, 1)))
    // with a second breached stage anywhere: no temporal info, so the
    // no-position breach takes the pre-gate breadth rule (correlated)
    // while the POSITIONED far-apart breach still reads isolated — and
    // the -1 row never serves as that breach's overlap evidence
    val router = steady("router", n = 20).map {
      case (s, b, t, _) if b == 15 => (s, b, t, 8000L)
      case t => t
    }
    assert(Topology.classifyOverBudget(
      wideLone ++ router ++ steady("agg"), 5000L) === ((0, 1, 1)))
  }

  test("classifyOverBudget: empty ledger and under-budget ledgers " +
      "classify to zero everywhere") {
    assert(Topology.classifyOverBudget(Nil, 5000L) === ((0, 0, 0)))
    assert(Topology.classifyOverBudget(
      steady("wide") ++ steady("router"), 5000L) === ((0, 0, 0)))
  }
}
