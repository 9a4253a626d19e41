package graft.streaming

import java.sql.Timestamp
import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class PipelinesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String) = Timestamp.valueOf(s)

  // ---- apportionment (A3) ----

  private def header(id: Long, fin: Double, orig: Double, t: String) =
    OrderInfo(id, 7, 1, "1001", fin, orig, ts(t))

  test("apportion: shares sum exactly to final_total, last-arriving detail absorbs remainder") {
    import spark.implicits._
    // details sum exactly to original_total (order invariant): 33.33+33.33+33.36
    val details = Seq(
      OrderDetail(1, 10, 100, 1, 33.33, ts("2024-01-01 00:00:00")),
      OrderDetail(2, 10, 101, 1, 33.33, ts("2024-01-01 00:00:01")),
      OrderDetail(3, 10, 102, 1, 33.36, ts("2024-01-01 00:00:02")))
    val out = Pipelines.orderWide(
        Seq(header(10, 90.00, 100.02, "2024-01-01 00:00:00")).toDS(), details.toDS())
      .collect().sortBy(_.order_detail_id)
    assert(out.map(_.final_detail_amount).sum === 90.00)
    // proportional share: round(9000*3333/10002 = 2999.1) = 2999 cents
    assert(out(0).final_detail_amount === 29.99)
    assert(out(1).final_detail_amount === 29.99)
    // completes the origin sum → remainder
    assert(out(2).final_detail_amount === 30.02)
  }

  test("apportion: proportional shares round half-up like the reference (FIXTURES §4.1)") {
    import spark.implicits._
    // 25.01 over 3 × 10.00: 2501*1000/3000 = 833.67 cents rounds to 834
    // (a floor would give 833), and the last detail absorbs 833
    val details = (1 to 3).map(i =>
      OrderDetail(i, 11, 100 + i, 1, 10.00, ts("2024-01-01 00:00:00")))
    val out = Pipelines.orderWide(
        Seq(header(11, 25.01, 30.00, "2024-01-01 00:00:00")).toDS(), details.toDS())
      .collect().sortBy(_.order_detail_id)
    assert(out.map(_.final_detail_amount).toSeq === Seq(8.34, 8.34, 8.33))
  }

  test("heavyHittersWindowed: cross-batch counts, emits on window close == batch path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val q = Pipelines.heavyHittersWindowed(
      mem.toDS().toDF("gram", "ts"), minCount = 3)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Timestamp)]
    def add(rows: (String, Timestamp)*): Unit = {
      all ++= rows; mem.addData(rows); q.processAllAvailable()
    }
    try {
      add(("a", ts("2024-01-01 00:00:01")), ("a", ts("2024-01-01 00:00:05")),
        ("b", ts("2024-01-01 00:00:10")))
      // nothing closed yet → append mode has emitted nothing
      assert(spark.table("hh_out").count() === 0)
      // same window, later batch: the count must accumulate across batches
      add(("a", ts("2024-01-01 00:00:20")), ("b", ts("2024-01-01 00:00:25")))
      // watermark-advancing event closes the [00:00, 00:01) window
      add(("z", ts("2024-01-01 00:02:00")))
      val got = spark.table("hh_out").as[(Timestamp, String, Long)].collect().toSet
      assert(got === Set((ts("2024-01-01 00:00:00"), "a", 3L)))
      // the emitted set equals the batch operator over the same rows
      // (b reached only 2, z only 1 — thresholded out on both paths)
      val batch = Pipelines.heavyHittersWindowed(all.toSeq.toDF("gram", "ts"),
        minCount = 3).as[(Timestamp, String, Long)].collect().toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("apportion: state carries across micro-batches (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val oiMem = MemoryStream[OrderInfo]
    val odMem = MemoryStream[OrderDetail]
    val q = Pipelines.orderWide(oiMem.toDS(), odMem.toDS())
      .writeStream.format("memory").queryName("apportion_out")
      .outputMode("append").start()
    try {
      oiMem.addData(header(20, 99.00, 100.00, "2024-01-01 00:00:00"))
      odMem.addData(OrderDetail(1, 20, 100, 1, 40.00, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      odMem.addData(OrderDetail(2, 20, 101, 1, 60.00, ts("2024-01-01 00:00:05")))
      q.processAllAvailable()
      val out = spark.table("apportion_out").as[OrderWideSplit]
        .collect().sortBy(_.order_detail_id)
      assert(out.length === 2)
      // batch 1: proportional 9900*4000/10000 = 3960
      assert(out(0).final_detail_amount === 39.60)
      // batch 2: detail completes origin sum → remainder 99.00-39.60
      assert(out(1).final_detail_amount === 59.40)
      assert(out.map(_.final_detail_amount).sum === 99.00)
    } finally q.stop()
  }

  test("lastTouchAttribution: cross-batch state, same-instant click, late purchase") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // rows: (event_id, ts, user_id, event_type)
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type")
    val q = Pipelines.lastTouchAttribution(events)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 00:00:10"), 7L, "click"),
        (2L, ts("2024-01-01 00:00:20"), 7L, "purchase"), // same batch: click 1
        (3L, ts("2024-01-01 00:00:20"), 8L, "purchase")) // no click → None
      q.processAllAvailable()
      mem.addData(
        (4L, ts("2024-01-01 00:00:30"), 7L, "purchase"), // state from batch 1 → click 1
        (5L, ts("2024-01-01 00:00:40"), 7L, "click"),
        (6L, ts("2024-01-01 00:00:40"), 7L, "purchase")) // same-instant click 5 (inclusive)
      q.processAllAvailable()
      mem.addData(
        (7L, ts("2024-01-01 00:00:35"), 7L, "purchase")) // LATE: stored click 5 is newer → None
      q.processAllAvailable()
      val rows = spark.table("attr_out").as[Attribution].collect()
      val out = rows.map(a => a.event_id -> a.click_id).toMap
      assert(out === Map(2L -> Some(1L), 3L -> None, 4L -> Some(1L),
        6L -> Some(5L), 7L -> None))
      // observability: the late purchase whose None came from a NEWER
      // stored click is flagged; the never-clicked user's None is not
      val stale = rows.map(a => a.event_id -> a.stale_state).toMap
      assert(stale === Map(2L -> false, 3L -> false, 4L -> false,
        6L -> false, 7L -> true))
    } finally q.stop()
  }

  test("lastTouchAttribution agrees with the batch as-of join on in-order corpus events") {
    import spark.implicits._
    // feed the whole sf0.001 events table as ONE batch (in-order case):
    // streaming operator in batch mode must reproduce AsOf.purchaseLastClick
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val streamed = Pipelines.lastTouchAttribution(ev)
      .collect().map(a => a.event_id -> a.click_id.getOrElse(-1L)).toMap
    val batch = graft.operators.AsOf.purchaseLastClick(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), coalesce(col("click_id"), lit(-1L)))
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("scd2Stream: cross-batch closed intervals == batch scd2History, in order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[(Long, Long, Timestamp, String)].collect()
      .sortWith { (a, b) => // (ts, event_id) — Timestamp.compareTo keeps sub-ms
        val c = a._3.compareTo(b._3)
        if (c != 0) c < 0 else a._1 < b._1
      }
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = Pipelines.scd2Stream(
        mem.toDF().toDF("event_id", "user_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      all.grouped((all.length + 2) / 3)
        .foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      val streamed = spark.table("scd2_out").as[Scd2Row].collect()
      assert(streamed.nonEmpty && streamed.forall(_.n_late == 0L))
      val got = streamed.map(r =>
        (r.user_id, r.version, r.state, r.valid_from, r.valid_to, r.n_events)).toSet
      val want = graft.operators.GmallQueries.scd2History(spark, sf)
        .filter(col("valid_to").isNotNull)
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from"), col("valid_to"), col("n_events"))
        .as[(Long, Int, String, Timestamp, Timestamp, Long)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("scd2Stream: out-of-order event is dropped and counted in n_late") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = Pipelines.scd2Stream(
        mem.toDF().toDF("event_id", "user_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("scd2_late")
      .outputMode("append").start()
    try {
      mem.addData(Seq(
        (1L, 7L, ts("2024-01-01 10:00:00"), "A"),
        (2L, 7L, ts("2024-01-01 10:02:00"), "B")))
      q.processAllAvailable()
      // late C (10:01) lands between already-applied events: drop + count;
      // D closes the open B run, which carries the late counter
      mem.addData(Seq(
        (3L, 7L, ts("2024-01-01 10:01:00"), "C"),
        (4L, 7L, ts("2024-01-01 10:03:00"), "D")))
      q.processAllAvailable()
      // E closes the D run: n_late is PER-INTERVAL (resets with each new
      // run), so B's drop must not leak into D's row
      mem.addData(Seq((5L, 7L, ts("2024-01-01 10:04:00"), "E")))
      q.processAllAvailable()
      val rows = spark.table("scd2_late").as[Scd2Row].collect().sortBy(_.version)
      assert(rows.map(r => (r.version, r.state, r.n_late)).toSeq ===
        Seq((1, "A", 0L), (2, "B", 1L), (3, "D", 0L)))
    } finally q.stop()
  }

  test("stratifiedSampleStream: final sample == batch bottom-k sample on an UNORDERED feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // shuffle deterministically so the feed order differs from doc order
    val all = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id")).as[(String, Long)].collect()
      .sortBy { case (_, id) => id * 2654435761L % 1000003 }
    val mem = MemoryStream[(String, Long)]
    val q = Pipelines.stratifiedSampleStream(
        mem.toDF().toDF("lang", "doc_id"), quota = 7)
      .writeStream.format("memory").queryName("sample_out")
      .outputMode("append").start()
    try {
      all.grouped((all.length + 2) / 3)
        .foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      val rows = spark.table("sample_out").as[SampleRow].collect()
      // downstream convention: keep max(ver) per stratum
      val lastVer = rows.groupBy(_.lang).view.mapValues(_.map(_.ver).max).toMap
      val got = rows.filter(r => r.ver == lastVer(r.lang))
        .map(r => (r.lang, r.doc_id, r.rk)).toSet
      val want = graft.operators.TextOps.stratifiedSample(spark, sf, quota = 7)
        .select(col("lang"), col("doc_id"), col("rk"))
        .as[(String, Long, Int)].collect().toSet
      assert(got === want)
      // earlier versions exist (membership evolved across batches)
      assert(rows.map(_.ver).max > 1)
    } finally q.stop()
  }

  test("weightedSampleStream: final per-stratum sample == batch A-ES sample, unordered feed + re-delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)].collect()
      .sortBy { case (_, id, _) => id * 2654435761L % 1000003 }
    val mem = MemoryStream[(String, Long, Long)]
    val q = Pipelines.weightedSampleStream(
        mem.toDF().toDF("lang", "doc_id", "n_chars"), quota = 5, beta = 1.0)
      .writeStream.format("memory").queryName("wsample_out")
      .outputMode("append").start()
    try {
      val chunks = all.grouped((all.length + 2) / 3).toSeq
      chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      // re-deliver the first chunk: membership is a function of the SET
      // of docs seen, so the sample must not move (ver does)
      mem.addData(chunks.head.toSeq); q.processAllAvailable()
      val rows = spark.table("wsample_out").as[WSampleRow].collect()
      val lastVer = rows.groupBy(_.lang).view.mapValues(_.map(_.ver).max).toMap
      val got = rows.filter(r => r.ver == lastVer(r.lang))
        .map(r => (r.lang, r.doc_id, r.rk)).toSet
      // batch expectation per stratum: the SAME operator over just that
      // stratum's docs (weightedSampleOn is a global top-k)
      val want = all.map(_._1).distinct.flatMap { l =>
        graft.operators.TextOps.weightedSampleOn(
            graft.Tables.documents(spark, sf).filter(col("lang") === l),
            k = 5, beta = 1.0)
          .select(col("doc_id")).as[Long].collect()
          .zipWithIndex.map { case (id, i) => (l, id, i + 1) }
      }.toSet
      assert(got === want)
      assert(rows.map(_.ver).max > 1)
    } finally q.stop()
  }

  test("sourceSketchStream: final sketch == batch union sketch on an unordered feed with re-delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).as[(String, String)].collect()
      .sortBy { case (_, t) => t.hashCode * 2654435761L % 1000003 }
    val mem = MemoryStream[(String, String)]
    val q = Pipelines.sourceSketchStream(mem.toDF().toDF("source", "text"))
      .writeStream.format("memory").queryName("sketch_out")
      .outputMode("append").start()
    try {
      val chunks = all.grouped((all.length + 2) / 3).toSeq
      chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      // re-deliver the first chunk: min is idempotent, the sketch must
      // not move (ver does — state updates on every touched batch)
      mem.addData(chunks.head.toSeq); q.processAllAvailable()
      val rows = spark.table("sketch_out").as[SketchRow].collect()
      val lastVer = rows.groupBy(_.source).view.mapValues(_.map(_.ver).max).toMap
      val got = rows.filter(r => r.ver == lastVer(r.source))
        .map(r => (r.source, r.perm, r.mh)).toSet
      // batch expectation: d6 per-doc signatures folded per source —
      // the same relation sourceOverlapMinhash aggregates
      val srcOf = graft.Tables.documents(spark, sf)
        .select(col("doc_id"), col("source"))
        .as[(Long, String)].collect().toMap
      val want = graft.operators.Dedup.minhashSigPortable(spark, sf).collect()
        .map(r => (srcOf(r.getLong(0)), r.getInt(1), r.getString(2)))
        .groupBy { case (s, p, _) => (s, p) }
        .map { case ((s, p), vs) => (s, p, vs.map(_._3).min) }.toSet
      assert(got === want)
      assert(rows.map(_.ver).max > 1, "sketch evolved across batches")
    } finally q.stop()
  }

  test("cdcApplyStream: final snapshot == batch cdcApply on an UNORDERED feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("props"))
      .as[(Long, Long, Timestamp, String, Double, String)].collect()
    // deliberately NOT time-ordered: batch by event_id % 3 — the
    // (ts, event_id) max rule must absorb any arrival order
    val mem = MemoryStream[(Long, Long, Timestamp, String, Double, String)]
    val q = Pipelines.cdcApplyStream(
        mem.toDF().toDF("event_id", "user_id", "ts", "event_type", "value", "props"))
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("append").start()
    try {
      (0 until 3).foreach { b =>
        mem.addData(all.filter(_._1 % 3 == b).toSeq); q.processAllAvailable()
      }
      // latest emission per key = the row with the max n_ops
      val streamed = spark.table("cdc_out").as[CdcRow].collect()
        .groupBy(_.user_id).map(_._2.maxBy(_.n_ops)).toSeq
      val batch = graft.operators.GmallQueries.cdcApply(spark, sf)
        .select(col("user_id"), col("last_ts"), col("last_event_type"),
          col("last_value"), col("last_k"), col("n_ops"))
        .as[(Long, Timestamp, String, Double, Option[Int], Long)].collect()
      val got = streamed.filter(!_.is_deleted)
        .map(r => (r.user_id, r.last_ts, r.last_event_type, r.last_value,
          r.last_k, r.n_ops)).toSet
      assert(got === batch.toSet)
      // tombstoned keys are exactly the complement of the batch snapshot
      val allUsers = all.map(_._2).toSet
      assert(streamed.filter(_.is_deleted).map(_.user_id).toSet ===
        allUsers -- batch.map(_._1).toSet)
    } finally q.stop()
  }

  test("dauHllStream: constant-register state across batches == batch q22 estimates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[(Long, Timestamp, Long)].collect()
    val (b1, b2) = all.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val q = Pipelines.dauHllStream(
      mem.toDF().toDF("event_id", "ts", "user_id"))
      .toDF("dt", "dau_hll")
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("append").start()
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()
      // snapshot batch-1 emissions (≤ 1 row per day) — the estimate is
      // NOT monotone across the linear-counting→raw-estimator switch,
      // so "max emission per day" would be wrong; identify each day's
      // FINAL value as the batch-2 emission when one exists
      val snap1 = spark.table("hll_out").collect()
        .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
      mem.addData(b2.toSeq); q.processAllAvailable()
      val streamed = spark.table("hll_out").collect()
        .map(r => r.getDate(0).toString -> r.getDouble(1))
        .groupBy(_._1).map { case (dt, vs) =>
          val values = vs.map(_._2)
          dt -> (if (values.size == 1) values.head
                 else values.find(v => snap1.get(dt).forall(_ != v))
                   .getOrElse(values.head)) // both batches emitted the same value
        }
      val batch = graft.operators.GmallQueries.dauHllPortable(spark, sf)
        .select(col("dt").cast("string"), col("dau_hll"))
        .as[(String, Double)].collect().toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  // ---- stream-stream join (J1/W1) ----

  test("orderWideJoin matches details to orders across micro-batches within skew window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val oiMem = MemoryStream[OrderInfo]
    val odMem = MemoryStream[OrderDetail]
    val q = Pipelines.orderWideJoin(oiMem.toDS(), odMem.toDS())
      .writeStream.format("memory").queryName("ow_out").outputMode("append").start()
    try {
      oiMem.addData(OrderInfo(1, 7, 1, "1001", 50.0, 50.0, ts("2024-01-01 00:00:10")))
      q.processAllAvailable()
      // detail arrives a batch later, 5s later in event time (inside 20s)
      odMem.addData(OrderDetail(11, 1, 100, 1, 50.0, ts("2024-01-01 00:00:15")))
      q.processAllAvailable()
      // a detail far outside the window never joins
      odMem.addData(OrderDetail(12, 1, 100, 1, 50.0, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val out = spark.table("ow_out").as[OrderWide].collect()
      assert(out.map(_.order_detail_id).toSet === Set(11L))
    } finally q.stop()
  }

  test("orderWide emits exactly orderWideJoin's pairs, with the apportion's " +
      "shares, and holds no state once every order completes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the same feed into both operators (a MemoryStream serves one query)
    val (oiJ, odJ) = (MemoryStream[OrderInfo], MemoryStream[OrderDetail])
    val (oiF, odF) = (MemoryStream[OrderInfo], MemoryStream[OrderDetail])
    val joinQ = Pipelines.orderWideJoin(oiJ.toDS(), odJ.toDS())
      .writeStream.format("memory").queryName("eq_join").outputMode("append").start()
    val fusedQ = Pipelines.orderWide(oiF.toDS(), odF.toDS())
      .writeStream.format("memory").queryName("eq_fused").outputMode("append").start()
    // the join's pairs, batch by batch: the apportion's arrival order
    val joinBatches = scala.collection.mutable.ArrayBuffer.empty[Seq[OrderWide]]
    def feed(oi: Seq[OrderInfo], od: Seq[OrderDetail]): Unit = {
      oiJ.addData(oi); odJ.addData(od); oiF.addData(oi); odF.addData(od)
      joinQ.processAllAvailable(); fusedQ.processAllAvailable()
      val seen = joinBatches.flatten.map(_.order_detail_id).toSet
      joinBatches += spark.table("eq_join").as[OrderWide].collect().toSeq
        .filterNot(w => seen(w.order_detail_id))
    }
    def det(id: Long, order: Long, num: Long, price: Double, t: String) =
      OrderDetail(id, order, 100 + id, num, price, ts(t))
    try {
      // order 1: header with its first detail; a detail 25 s after the
      // header (outside ±20 s) never pairs. Order 2: its detail comes a
      // batch before its header. Watermark after: 00:00:35 − 20 s
      feed(Seq(header(1, 45.01, 50.00, "2024-01-01 00:00:10")),
        Seq(det(11, 1, 2, 10.00, "2024-01-01 00:00:12"),
          det(13, 1, 1, 5.00, "2024-01-01 00:00:35"),
          det(21, 2, 1, 10.00, "2024-01-01 00:00:20")))
      // order 1 completes a batch later; order 2's header arrives
      feed(Seq(header(2, 25.01, 30.00, "2024-01-01 00:00:25")),
        Seq(det(12, 1, 1, 30.00, "2024-01-01 00:00:18"),
          det(22, 2, 1, 20.00, "2024-01-01 00:00:26")))
      // both streams move the watermark to 00:01:40
      feed(Seq(header(9, 5.00, 5.00, "2024-01-01 00:02:00")),
        Seq(det(91, 9, 1, 5.00, "2024-01-01 00:02:00")))
      // order 3 is behind the watermark on both sides: dropped
      feed(Seq(header(3, 7.00, 7.00, "2024-01-01 00:01:00"),
          header(8, 4.00, 4.00, "2024-01-01 00:10:00")),
        Seq(det(31, 3, 1, 7.00, "2024-01-01 00:01:05"),
          det(81, 8, 1, 4.00, "2024-01-01 00:10:00")))
      val fused = spark.table("eq_fused").as[OrderWideSplit].collect()
      val pairs = (w: Iterable[(Long, Long)]) => w.toSeq.sorted
      assert(pairs(fused.map(f => (f.order_detail_id, f.order_id))) ===
        pairs(joinBatches.flatten.map(w => (w.order_detail_id, w.order_id))))
      assert(pairs(fused.map(f => (f.order_detail_id, f.order_id))) ===
        Seq((11L, 1L), (12L, 1L), (21L, 2L), (22L, 2L), (81L, 8L), (91L, 9L)))
      // expected shares: the shared apportion function folded over the
      // join's pairs in arrival order (order_detail_id within a batch)
      val cents = (d: Double) => Math.round(d * 100)
      val sums = scala.collection.mutable.Map.empty[Long, ApportionState]
      val want = joinBatches.flatMap(_.sortBy(_.order_detail_id).map { w =>
        val (share, next) = Pipelines.apportionShare(
          sums.getOrElse(w.order_id, ApportionState(0L, 0L)),
          cents(w.sku_price * w.sku_num), cents(w.original_total_amount),
          cents(w.final_total_amount))
        sums(w.order_id) = next
        w.order_detail_id -> share
      }).toMap
      assert(fused.map(f => f.order_detail_id -> cents(f.final_detail_amount)).toMap === want)
      // order 1: 18.00 + the remainder 27.01; order 2: 8.34 + 16.67
      assert(want === Map(11L -> 1800L, 12L -> 2701L, 21L -> 834L, 22L -> 1667L,
        81L -> 400L, 91L -> 500L))
      assert(fusedQ.lastProgress.stateOperators.map(_.numRowsTotal).sum === 0L,
        "every order completed: no per-order state may remain")
    } finally { joinQ.stop(); fusedQ.stop() }
  }

  test("orderWide: a 0-cent detail arriving a batch after its order completed " +
      "expires unmatched, where orderWideJoin pairs it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (oiJ, odJ) = (MemoryStream[OrderInfo], MemoryStream[OrderDetail])
    val (oiF, odF) = (MemoryStream[OrderInfo], MemoryStream[OrderDetail])
    val joinQ = Pipelines.orderWideJoin(oiJ.toDS(), odJ.toDS())
      .writeStream.format("memory").queryName("zero_join").outputMode("append").start()
    val fusedQ = Pipelines.orderWide(oiF.toDS(), odF.toDS())
      .writeStream.format("memory").queryName("zero_fused").outputMode("append").start()
    def feed(oi: Seq[OrderInfo], od: Seq[OrderDetail]): Unit = {
      oiJ.addData(oi); odJ.addData(od); oiF.addData(oi); odF.addData(od)
      joinQ.processAllAvailable(); fusedQ.processAllAvailable()
    }
    try {
      // order 1 completes in the first batch: 10.00 of 10.00
      feed(Seq(header(1, 9.00, 10.00, "2024-01-01 00:00:10")),
        Seq(OrderDetail(11, 1, 101, 1, 10.00, ts("2024-01-01 00:00:11"))))
      // a free line, inside ±20 s and ahead of the watermark
      feed(Nil, Seq(OrderDetail(12, 1, 102, 1, 0.00, ts("2024-01-01 00:00:12"))))
      val joined = spark.table("zero_join").as[OrderWide].collect()
      assert(joined.map(_.order_detail_id).sorted.toSeq === Seq(11L, 12L))
      val fused = spark.table("zero_fused").as[OrderWideSplit].collect()
      assert(fused.map(f => (f.order_detail_id, f.final_detail_amount)).toSeq ===
        Seq((11L, 9.00)))
      // the free line waits for a header that is gone, then expires
      assert(fusedQ.lastProgress.stateOperators.map(_.numRowsTotal).sum === 1L)
      feed(Seq(header(9, 5.00, 5.00, "2024-01-01 00:02:00")),
        Seq(OrderDetail(91, 9, 109, 1, 5.00, ts("2024-01-01 00:02:00"))))
      feed(Nil, Nil)
      assert(spark.table("zero_fused").as[OrderWideSplit].collect()
        .map(_.order_detail_id).sorted.toSeq === Seq(11L, 91L))
      assert(fusedQ.lastProgress.stateOperators.map(_.numRowsTotal).sum === 0L)
    } finally { joinQ.stop(); fusedQ.stop() }
  }

  test("left-outer interval join emits unmatched details with matched=false after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val oiMem = MemoryStream[OrderInfo]
    val odMem = MemoryStream[OrderDetail]
    val q = Pipelines.orderWideJoinLeftOuter(oiMem.toDS(), odMem.toDS())
      .writeStream.format("memory").queryName("owlo_out").outputMode("append").start()
    try {
      oiMem.addData(OrderInfo(1, 7, 1, "1001", 50.0, 50.0, ts("2024-01-01 00:00:10")))
      odMem.addData(OrderDetail(11, 1, 100, 1, 50.0, ts("2024-01-01 00:00:15"))) // matches
      odMem.addData(OrderDetail(12, 2, 100, 1, 50.0, ts("2024-01-01 00:00:16"))) // no header
      q.processAllAvailable()
      // advance both watermarks far past the window so the unmatched row emits
      oiMem.addData(OrderInfo(99, 8, 1, "1001", 1.0, 1.0, ts("2024-01-01 01:00:00")))
      odMem.addData(OrderDetail(91, 99, 100, 1, 1.0, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val out = spark.table("owlo_out")
        .select("order_detail_id", "matched").as[(Long, Boolean)].collect().toMap
      assert(out(11L) === true)
      assert(out(12L) === false, "detail without header must emit unmatched after watermark")
    } finally q.stop()
  }

  test("per-batch refreshing dim join sees dim updates on the next micro-batch (J2 semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dimDir = java.nio.file.Files.createTempDirectory("dim").toString
    Seq((100L, "tm_old")).toDF("sku_id", "tm_name")
      .write.mode("overwrite").parquet(dimDir)
    val mem = MemoryStream[OrderDetail]
    val results = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val ckpt = java.nio.file.Files.createTempDirectory("dimckpt").toString
    val q = Pipelines.runEnrichWithRefreshingDim(
      mem.toDF(), () => spark.read.parquet(dimDir), Seq("sku_id"), ckpt) { (batch, _) =>
      results.synchronized {
        results ++= batch.select("id", "tm_name").as[(Long, String)].collect()
      }
    }
    try {
      mem.addData(OrderDetail(1, 10, 100, 1, 5.0, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // dim updated between batches — the reference's per-batch re-read
      Seq((100L, "tm_new")).toDF("sku_id", "tm_name")
        .write.mode("overwrite").parquet(dimDir)
      mem.addData(OrderDetail(2, 11, 100, 1, 5.0, ts("2024-01-01 00:00:05")))
      q.processAllAvailable()
      val m = results.toMap
      assert(m(1L) === "tm_old")
      assert(m(2L) === "tm_new", "dim refresh must be visible on the next batch")
    } finally q.stop()
  }

  // ---- DAU dedup (F4) ----

  test("dauFirstVisits keeps one row per (mid, day) across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StartLog]
    val q = Pipelines.dauFirstVisits(mem.toDF())
      .writeStream.format("memory").queryName("dau_out").outputMode("append").start()
    try {
      mem.addData(
        StartLog("mid1", "u1", "110000", "appstore", "v1", ts("2024-01-01 08:00:00")),
        StartLog("mid1", "u1", "110000", "appstore", "v1", ts("2024-01-01 09:00:00")),
        StartLog("mid2", "u2", "110000", "appstore", "v1", ts("2024-01-01 08:30:00")))
      q.processAllAvailable()
      mem.addData( // same mid same day later batch → dropped; next day → kept
        StartLog("mid1", "u1", "110000", "appstore", "v1", ts("2024-01-01 10:00:00")),
        StartLog("mid1", "u1", "110000", "appstore", "v1", ts("2024-01-02 08:00:00")))
      q.processAllAvailable()
      val out = spark.table("dau_out").select("mid", "dt").as[(String, String)].collect().toSet
      assert(out === Set(("mid1", "2024-01-01"), ("mid2", "2024-01-01"), ("mid1", "2024-01-02")))
    } finally q.stop()
  }

  test("nearDupCandidates surfaces a cross-batch duplicate; unrelated docs stay apart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "completely different words that share nothing with anything else here"
    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupCandidates(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ndc_out").outputMode("append").start()
    try {
      mem.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      val afterBatch1 = spark.table("ndc_out")
        .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
      // an exact duplicate arriving in a LATER batch must collide with
      // the state left by batch 1, in every band
      mem.addData((3L, textA))
      q.processAllAvailable()
      val pairs = spark.table("ndc_out")
        .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 3L)))
      assert(!pairs.contains((1L, 2L)) && !afterBatch1.contains((1L, 2L)),
        "unrelated docs should not share a bucket on this input")
      val bandsHit = spark.table("ndc_out")
        .filter(col("id_a") === 1L && col("id_b") === 3L)
        .select("band").distinct().count()
      assert(bandsHit === 8L, "identical docs must collide in all 8 bands")
    } finally q.stop()
  }

  test("nearDupCandidates hot bucket: state and pair fan-out stay capped, overflow surfaced") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 10k identical docs → ONE bucket per band gets every doc. With a
    // cap of 64, state must stop at 64 members per bucket, pairs at
    // C(64,2) per band, and every suppressed arrival must surface as
    // an id_b == BucketOverflow signal row. Runs on RocksDB — the
    // production store for exactly the hot-state scenario this guards.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val cap = 64
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val mem = MemoryStream[(Long, String)]
    val q = Pipelines.nearDupCandidates(mem.toDF().toDF("doc_id", "text"),
        maxBucketSize = cap)
      .writeStream.format("memory").queryName("ndc_hot").outputMode("append").start()
    try {
      mem.addData((0L until 5000L).map(i => (i, text)): _*)
      q.processAllAvailable()
      mem.addData((5000L until 10000L).map(i => (i, text)): _*) // all post-saturation
      q.processAllAvailable()
      val out = spark.table("ndc_hot")
      val pairs = out.filter(col("id_b") =!= Pipelines.BucketOverflow)
      val overflow = out.filter(col("id_b") === Pipelines.BucketOverflow)
      assert(pairs.count() === 8L * cap * (cap - 1) / 2,
        "pair fan-out must stop at C(cap,2) per band")
      assert(pairs.select(col("id_a")).union(pairs.select(col("id_b")))
        .distinct().count() === cap.toLong,
        "only the first cap doc ids may enter the bucket state")
      assert(overflow.count() === 8L * (10000 - cap),
        "every suppressed arrival must emit one signal row per band")
      assert(overflow.select("id_a").distinct().count() === (10000L - cap))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("nearDupGroup TTL path: registers the timeout, drops state on expiry") {
    // drive the state function directly (ProcessingTimeTimeout streams
    // busy-spin under processAllAvailable — see harness notes), so the
    // TTL branch gets real coverage
    val ttl = 60000L
    val state = new TestGroupState[List[Long]]
    val out1 = Pipelines.nearDupGroup(ttl)(
      (0, 42L), Iterator((1L, 0, 42L), (2L, 0, 42L)), state).toList
    assert(out1 === List((1L, 2L, 0)))
    assert(state.lastTimeoutMs === ttl, "timeout must be registered each call")
    assert(state.get.toSet === Set(1L, 2L))
    // expiry: state removed, nothing emitted
    state.timedOut = true
    val out2 = Pipelines.nearDupGroup(ttl)((0, 42L), Iterator.empty, state).toList
    assert(out2.isEmpty)
    assert(!state.exists, "timed-out bucket state must be removed")
  }

  test("dauFirstVisits runs on the RocksDB state store (production config)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StartLog]
      val q = Pipelines.dauFirstVisits(mem.toDF())
        .writeStream.format("memory").queryName("dau_rocks").outputMode("append").start()
      try {
        mem.addData(
          StartLog("m1", "u1", "a", "c", "v", ts("2024-01-01 08:00:00")),
          StartLog("m1", "u1", "a", "c", "v", ts("2024-01-01 09:00:00")))
        q.processAllAvailable()
        mem.addData(StartLog("m1", "u1", "a", "c", "v", ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
        assert(spark.table("dau_rocks").count() === 1)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  // ---- first-order flag (J6/A2) ----

  test("firstOrderFlag: earliest order in batch gets 1, later batches get 0") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[OrderInfo]
    val q = Pipelines.firstOrderFlag(mem.toDS())
      .map { case (o, flag) => (o.id, flag) }
      .writeStream.format("memory").queryName("fo_out").outputMode("append").start()
    try {
      mem.addData(
        OrderInfo(2, 7, 1, "1001", 10.0, 10.0, ts("2024-01-01 00:00:05")),
        OrderInfo(1, 7, 1, "1001", 10.0, 10.0, ts("2024-01-01 00:00:01")),
        OrderInfo(3, 8, 1, "1001", 10.0, 10.0, ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      mem.addData(OrderInfo(4, 7, 1, "1001", 10.0, 10.0, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      val out = spark.table("fo_out").as[(Long, String)].collect().toMap
      assert(out === Map(1L -> "1", 2L -> "0", 3L -> "1", 4L -> "0"))
    } finally q.stop()
  }

  // ---- router (F2/R1) ----

  test("routeCdc keeps facts on insert only, dims on any op, builds ods_ topics") {
    import spark.implicits._
    val env = Seq(
      ("insert", "order_info", """{"id":1}"""),
      ("update", "order_info", """{"id":1}"""),   // fact update → dropped
      ("update", "user_info", """{"id":2}"""),    // dim update → kept
      ("insert", "unknown_tbl", """{"id":3}"""),  // not whitelisted → dropped
      ("insert", "sku_info", ""))                 // empty data → dropped
      .toDF("type", "table", "data")
    val out = Pipelines.routeCdc(env).as[(String, String)].collect().toSet
    assert(out === Set(
      ("ods_order_info", """{"id":1}"""),
      ("ods_user_info", """{"id":2}""")))
  }

  test("routeCanal explodes the data array: 2-row INSERT → 2 messages, UPDATE dropped") {
    import spark.implicits._
    // FIXTURES.md §4.4: Canal array of 2 rows → 2 messages.
    val env = Seq(
      ("INSERT", "order_info", Seq("""{"id":1}""", """{"id":2}""")),
      ("UPDATE", "order_info", Seq("""{"id":3}""")), // non-INSERT → dropped
      ("INSERT", "user_info", null),                 // null data → dropped
      ("INSERT", "sku_info", Seq("")))               // empty element → dropped
      .toDF("type", "table", "data")
    val out = Pipelines.routeCanal(env).as[(String, String)].collect().toSet
    assert(out === Set(
      ("ods_order_info", """{"id":1}"""),
      ("ods_order_info", """{"id":2}""")))
  }

  test("routeMixed splits a raw Maxwell/Canal feed disjointly by envelope shape") {
    import spark.implicits._
    val lines = Seq(
      // Maxwell: lowercase op, data OBJECT
      """{"type":"insert","table":"order_info","data":{"id":1}}""",
      // Canal: UPPERCASE op, data ARRAY of 2 rows → 2 messages
      """{"type":"INSERT","table":"order_info","data":[{"id":2},{"id":3}]}""",
      // Canal UPDATE → dropped; Maxwell update on a fact → dropped too
      """{"type":"UPDATE","table":"order_info","data":[{"id":4}]}""",
      """{"type":"update","table":"order_info","data":{"id":5}}""",
      // Canal INSERT on a Maxwell-whitelisted dim: must route exactly
      // ONCE (shape check keeps it out of the dim-on-any-op branch)
      """{"type":"INSERT","table":"user_info","data":[{"id":6}]}""")
      .toDF("value")
    val out = Runner.routeMixed(lines).as[(String, String)].collect()
    assert(out.toSet === Set(
      ("ods_order_info", """{"id":1}"""),
      ("ods_order_info", """{"id":2}"""),
      ("ods_order_info", """{"id":3}"""),
      ("ods_user_info", """{"id":6}""")))
    assert(out.length === 4) // no double-routing across branches
  }

  test("routeMixedWithDeadLetter: malformed lines land in the DLQ raw; policy drops do not") {
    import spark.implicits._
    val lines = Seq(
      """{"type":"insert","table":"order_info","data":{"id":1}}""", // routed
      """not json at all""",                                        // DLQ
      """{"foo": 1}""",                                             // DLQ: no envelope
      """{"type":"insert","data":{"id":2}}""",                      // DLQ: no table
      """{"type":"insert","table":"order_info"}""",                 // DLQ: no data
      // parsed fine, dropped by POLICY (not whitelisted / wrong op):
      """{"type":"insert","table":"not_a_table","data":{"id":3}}""",
      """{"type":"update","table":"order_info","data":{"id":4}}""")
      .toDF("value")
    val out = Runner.routeMixedWithDeadLetter(lines).as[(String, String)].collect()
    val (dlq, routed) = out.partition(_._1 == "dlq_cdc")
    assert(routed.toSet === Set(("ods_order_info", """{"id":1}""")))
    assert(dlq.map(_._2).toSet === Set(
      """not json at all""",
      """{"foo": 1}""",
      """{"type":"insert","data":{"id":2}}""",
      """{"type":"insert","table":"order_info"}"""))
  }

  test("sessionize merges events within gap across micro-batches, closes on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = Pipelines.sessionize(mem.toDF().toDF("user_id", "ts"), gap = "10 minutes",
      lateness = "5 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-01 08:00:00")), (1L, ts("2024-01-01 08:05:00")))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 08:12:00"))) // merges into same session
      q.processAllAvailable()
      // advance watermark far past the session to close it
      mem.addData((2L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect()
      val u1 = out.filter(_._1 == 1L)
      assert(u1.length === 1)
      assert(u1.head._2 === ts("2024-01-01 08:00:00"))
      assert(u1.head._3 === ts("2024-01-01 08:22:00")) // last event + gap
      assert(u1.head._4 === 3L)
    } finally q.stop()
  }

  // ---- windowed agg (A1) ----

  test("trademarkAmount aggregates into event-time windows with late data handled") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[OrderWideSplit]
    val q = Pipelines.trademarkAmount(
      mem.toDF().withColumn("tm_name", concat(lit("tm_"), col("sku_id"))))
      .writeStream.format("memory").queryName("tm_out").outputMode("complete").start()
    try {
      mem.addData(
        OrderWideSplit(1, 1, 100, 1, 10.0, 10.0, 10.0, ts("2024-01-01 00:00:01"), 10.0),
        OrderWideSplit(2, 2, 100, 1, 10.0, 10.0, 10.0, ts("2024-01-01 00:00:03"), 2.5),
        OrderWideSplit(3, 3, 200, 1, 10.0, 10.0, 10.0, ts("2024-01-01 00:00:07"), 7.25))
      q.processAllAvailable()
      val out = spark.table("tm_out")
        .select("trademark_name", "amount").as[(String, Double)].collect().toSet
      assert(out === Set(("tm_100", 12.5), ("tm_200", 7.25)))
    } finally q.stop()
  }
}
