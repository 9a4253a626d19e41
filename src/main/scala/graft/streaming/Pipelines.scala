package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming pipelines as Dataset→Dataset transforms — source/sink
  * agnostic, so the same logical code runs under batch (for oracle
  * tests) and under Structured Streaming with `readStream`/`writeStream`
  * bound at the edges.
  *
  * Behavioral upgrades over the reference, by design (SURVEY §7.4):
  * event-time watermarks replace processing-time windows, and the state
  * store replaces Redis — exactly-once without external systems.
  */
object Pipelines {

  /** F4/A4 DAU dedup (`app/DauApp.scala:85-104`): first sighting per
    * (mid, day). The Redis `SADD dau:<dt>` with 24 h TTL becomes
    * watermarked streaming dedup — state evicted by watermark instead of
    * TTL. `dedupDelay` mirrors the reference's 24 h key expiry. */
  def dauFirstVisits(startLogs: DataFrame, tsCol: String = "ts",
                     dedupDelay: String = "24 hours"): DataFrame = {
    // Defensive: withWatermark rejects TIMESTAMP_NTZ at analysis
    // ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]); parquet written without
    // isAdjustedToUTC (the current testdata encoding) arrives as NTZ, so
    // coerce to the session-TZ type here rather than trusting every
    // caller to have routed through Tables.normalizeEventTs.
    val tsFixed = startLogs.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        startLogs.withColumn(tsCol, col(tsCol).cast("timestamp"))
      case _ => startLogs
    }
    val withDt = tsFixed
      .withColumn("dt", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("hr", date_format(col(tsCol), "HH"))
    if (withDt.isStreaming)
      // dropDuplicatesWithinWatermark, NOT dropDuplicates: plain dedup
      // keys without the event-time column carry no watermark metadata,
      // so their state would never be evicted (unbounded growth). The
      // within-watermark variant expires each (mid, dt) entry once the
      // watermark passes its event time + delay — the 24 h Redis TTL,
      // enforced by the state store.
      withDt.withWatermark(tsCol, dedupDelay)
        .dropDuplicatesWithinWatermark("mid", "dt")
    else withDt.dropDuplicates("mid", "dt")
  }

  /** F1/F2/R1 CDC router (`ods/BaseDBMaxwellApp.scala:49-81`): parse the
    * CDC envelope, keep facts on insert + whitelisted dims on any op,
    * emit (topic, value) pairs for the Kafka sink — `topic` is a computed
    * column, so one writeStream fans out to all `ods_*` topics. */
  def routeCdc(envelopes: DataFrame,
               factTables: Seq[String] = Seq("order_info", "order_detail"),
               dimTables: Seq[String] = Seq("base_province", "user_info", "sku_info",
                 "base_trademark", "base_category3", "spu_info")): DataFrame =
    envelopes
      .filter(col("data").isNotNull && col("data") =!= "" &&
        ((col("table").isin(factTables: _*) &&
          col("type") === "insert") ||
          col("table").isin(dimTables: _*)))
      .select(
        concat(lit("ods_"), col("table")).as("topic"),
        col("data").as("value"))

  /** F1/R1 Canal-envelope router (`ods/BaseDBCanalApp.scala:57-82`):
    * Canal wraps each commit as `{type: "INSERT", table, data: [row,
    * row, …]}` — op names UPPERCASE and `data` an ARRAY (one element
    * per affected row), where Maxwell emits lowercase ops and one
    * object per message. The reference forwards every table on INSERT
    * only (no dim whitelist in its Canal app) and sends each array
    * element as its own message; `explode` reproduces the per-row
    * fan-out. Expects `data` already parsed as `array<string>` of raw
    * JSON row payloads ([[Runner.canalCdcSchema]]). Narrow
    * (filter+explode, no shuffle) — scales with input partitions. */
  def routeCanal(envelopes: DataFrame): DataFrame =
    envelopes
      .filter(col("type") === "INSERT" && col("data").isNotNull)
      .select(
        concat(lit("ods_"), col("table")).as("topic"),
        explode(col("data")).as("value"))
      .filter(col("value").isNotNull && col("value") =!= "")

  /** The order-wide skew window (the reference's 20 s join window): a
    * detail pairs with its order's header iff their event times are at
    * most this far apart. Also the watermark delay of both order-wide
    * operators. */
  private val OrderSkew = "20 seconds"
  private val OrderSkewMs = 20000L

  /** J1/W1 stream-stream join (`dws/OrderWideApp.scala:91-111`): the
    * reference's 20 s sliding processing-time windows + Redis dedup
    * become an event-time interval join with watermarks — exact
    * semantics, bounded state, no duplicate pairs. The chain runs the
    * fused [[orderWide]] instead, which Bench's `stream_join` section
    * times; this join is the reference its pairs are checked against. */
  def orderWideJoin(orderInfo: Dataset[OrderInfo], orderDetail: Dataset[OrderDetail],
                    maxSkew: String = OrderSkew): Dataset[OrderWide] = {
    import orderInfo.sparkSession.implicits._
    val oi = orderInfo.withColumnRenamed("create_time", "oi_time")
      .withWatermark("oi_time", maxSkew)
    val od = orderDetail
      .withColumnRenamed("id", "order_detail_id")
      .withColumnRenamed("create_time", "od_time")
      .withWatermark("od_time", maxSkew)
    od.join(oi,
      expr(s"""order_id = id AND
               od_time BETWEEN oi_time - INTERVAL $maxSkew AND oi_time + INTERVAL $maxSkew"""))
      .select(
        col("order_detail_id"),
        col("order_id"),
        col("sku_id"),
        col("sku_num"),
        col("order_price").as("sku_price"),
        col("final_total_amount"),
        col("original_total_amount"),
        col("oi_time").as("create_time"))
      .as[OrderWide]
  }

  /** J1 variant: LEFT OUTER interval join — details whose order header
    * never arrives inside the skew window emit with null order fields
    * once the watermark closes the window, instead of vanishing (the
    * reference silently dropped pairs >20 s apart,
    * `dws/OrderWideApp.scala:91-111`). The unmatched rows are the
    * monitoring signal the reference never had. */
  def orderWideJoinLeftOuter(orderInfo: Dataset[OrderInfo], orderDetail: Dataset[OrderDetail],
                             maxSkew: String = OrderSkew): DataFrame = {
    val oi = orderInfo.withColumnRenamed("create_time", "oi_time")
      .withWatermark("oi_time", maxSkew)
    val od = orderDetail
      .withColumnRenamed("id", "order_detail_id")
      .withColumnRenamed("create_time", "od_time")
      .withWatermark("od_time", maxSkew)
    od.join(oi,
      expr(s"""order_id = id AND
               od_time BETWEEN oi_time - INTERVAL $maxSkew AND oi_time + INTERVAL $maxSkew"""),
      "left_outer")
      .select(
        col("order_detail_id"), col("order_id"), col("sku_id"), col("sku_num"),
        col("order_price").as("sku_price"),
        col("final_total_amount"), col("original_total_amount"),
        col("od_time").as("detail_time"),
        col("id").isNotNull.as("matched"))
  }

  /** J2 exact semantics (`dwd/OrderInfoApp.scala:194-221`): the
    * reference re-reads the full dimension table EVERY batch, so dim
    * updates are visible on the next micro-batch. A plain stream-static
    * join snapshots the static plan once; re-reading inside foreachBatch
    * restores the per-batch refresh. `loadDim` is called once per
    * trigger; `sink` receives the enriched batch. */
  def runEnrichWithRefreshingDim(stream: DataFrame, loadDim: () => DataFrame,
                                 joinKeys: Seq[String], checkpoint: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batch.join(broadcast(loadDim()), joinKeys, "left"), batchId)
      }
      .start()

  private def roundC(d: Double): Long = Math.round(d * 100)

  /** J1+F5+A3 fused (`dws/OrderWideApp.scala:91-178`): the order-wide
    * join and the apportionment as ONE stateful operator keyed by
    * order id, the way the reference keeps everything it knows about an
    * order under that id (the join's Redis dedup set and the two
    * apportion sums). Header and detail events form one watermarked
    * stream (delay [[OrderSkew]]), grouped by the `order_id` column, so a
    * single shuffle feeds the operator and a trigger commits one state
    * store per partition. Per order the state holds the header, the
    * details waiting for it, and the running [[ApportionState]] sums.
    *
    *  - Matching is [[orderWideJoin]]'s rule: a detail pairs with its
    *    order's header iff `|od_time − oi_time| ≤ 20 s`; a row with a
    *    null order id or event time never pairs, and a row behind the
    *    watermark is dropped. Each output row carries the header's
    *    create_time, like the join's.
    *  - Each matched detail's share is [[apportionShare]]; details
    *    released together are taken in order_detail_id order.
    *  - An order's state is removed as soon as Σ detail == original
    *    (every detail has its share), and an incomplete order expires
    *    once the watermark passes its event time (the header's, or the
    *    latest waiting detail's) plus 20 s. So state holds only
    *    the orders still in flight.
    *
    * Deliberate divergences from [[orderWideJoin]] followed by a
    * per-order apportion:
    *  - a duplicate header: the first one wins (within a batch, the
    *    earliest create_time), where the join pairs every detail with
    *    both copies;
    *  - a detail re-sent after its order completed: it waits for a
    *    header that no longer exists and expires, where the join
    *    re-pairs it with the header it still holds and the apportion
    *    counts it twice;
    *  - a detail worth 0 cents (a free line) that arrives in a later
    *    micro-batch than the detail completing its order: it expires
    *    unmatched, where the join pairs it and the apportion gives it
    *    the remainder, 0;
    *  - one watermark over both streams, where the join takes the
    *    minimum of one per side.
    *
    * Runs on batch Datasets too, where each order is one call. */
  def orderWide(orderInfo: Dataset[OrderInfo],
                orderDetail: Dataset[OrderDetail]): Dataset[OrderWideSplit] = {
    import orderInfo.sparkSession.implicits._
    val (infoT, detailT) = (Encoders.product[OrderInfo].schema, Encoders.product[OrderDetail].schema)
    val events = orderInfo.select(col("id").as("order_id"),
        col("create_time").as("event_time"),
        struct(infoT.fieldNames.map(orderInfo.col): _*).as("header"),
        lit(null).cast(detailT).as("detail"))
      .unionByName(orderDetail.select(col("order_id"),
        col("create_time").as("event_time"), lit(null).cast(infoT).as("header"),
        struct(detailT.fieldNames.map(orderDetail.col): _*).as("detail")))
      .filter(col("order_id").isNotNull && col("event_time").isNotNull)
    events.withWatermark("event_time", OrderSkew)
      .groupBy(col("order_id")).as[Long, OrderEvent]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        orderWideGroup(OrderSkewMs, events.isStreaming))
  }

  /** `streaming` false: a batch query calls each order once, so an
    * incomplete order keeps no state (and sets no timeout). */
  private[streaming] def orderWideGroup(skewMs: Long, streaming: Boolean)(
      orderId: Long, events: Iterator[OrderEvent],
      state: GroupState[OrderWideState]): Iterator[OrderWideSplit] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val st = state.getOption.getOrElse(OrderWideState(None, Nil, ApportionState(0L, 0L)))
    val evs = events.toSeq
    val header = st.header.orElse(
      evs.flatMap(_.header).sortBy(_.create_time.getTime).headOption)
    val details = (st.pending ++ evs.flatMap(_.detail)).sortBy(_.id)
    def keepUntil(eventMs: Long, next: OrderWideState): Unit = if (streaming) {
      state.update(next)
      // a timeout may not precede the current watermark
      state.setTimeoutTimestamp(math.max(eventMs + skewMs, state.getCurrentWatermarkMs()))
    }
    header match {
      case None =>
        keepUntil(details.map(_.create_time.getTime).max, st.copy(pending = details))
        Iterator.empty
      case Some(h) =>
        val hMs = h.create_time.getTime
        val originalC = roundC(h.original_total_amount)
        val finalC = roundC(h.final_total_amount)
        var sums = st.sums
        val out = details
          .filter(d => math.abs(d.create_time.getTime - hMs) <= skewMs)
          .map { d =>
            val (shareC, next) =
              apportionShare(sums, roundC(d.order_price * d.sku_num), originalC, finalC)
            sums = next
            OrderWideSplit(d.id, orderId, d.sku_id, d.sku_num, d.order_price,
              h.final_total_amount, h.original_total_amount, h.create_time,
              shareC / 100.0)
          }
        if (out.nonEmpty && sums.originSumC == originalC) state.remove()
        else keepUntil(hMs, OrderWideState(Some(h), Nil, sums))
        out.iterator
    }
  }

  /** A3 apportionment of one detail (`dws/OrderWideApp.scala:136-178`),
    * exact reference semantics in integer cents: given the order's
    * running origin/split sums, the detail gets the proportional share
    * `round(final * detail / original)` (half-up), except the detail
    * that completes the origin sum, which absorbs the remainder so
    * Σ shares == final exactly. Arrival-order-dependent like the
    * reference (its Redis sums were too). Returns the share and the
    * advanced sums. */
  private[streaming] def apportionShare(sums: ApportionState, detailC: Long,
                                        originalC: Long,
                                        finalC: Long): (Long, ApportionState) = {
    val shareC =
      if (detailC == originalC - sums.originSumC) finalC - sums.splitSumC
      // malformed order (original total 0) must not poison-pill the
      // query — a task throw would crash-loop on checkpoint replay
      else if (originalC == 0L) 0L
      // round(final * detail / original) half-up, in exact Long math
      else (2 * finalC * detailC + originalC) / (2 * originalC)
    (shareC, ApportionState(sums.originSumC + detailC, sums.splitSumC + shareC))
  }

  /** A1 trademark revenue (`ads/TrademarkStatApp.scala:67-72`) upgraded
    * from per-5s-batch sums to event-time tumbling windows with late-data
    * handling; output mode update ≙ the reference's per-batch emission. */
  def trademarkAmount(orderWide: DataFrame, tmCol: String = "tm_name",
                      amountCol: String = "final_detail_amount",
                      window_ : String = "5 seconds",
                      lateness: String = "10 seconds"): DataFrame = {
    val base =
      if (orderWide.isStreaming) orderWide.withWatermark("create_time", lateness)
      else orderWide
    base.groupBy(window(col("create_time"), window_), col(tmCol))
      .agg(round(sum(col(amountCol)), 2).as("amount"))
      .select(
        col("window.start").as("stat_time"),
        col(tmCol).as("trademark_name"),
        col("amount"))
  }

  /** Sessionization (beyond the reference — no session semantics exist
    * there): per-user session windows with an inactivity gap. In
    * streaming, `session_window` grouping merges adjacent windows in
    * the state store and the watermark closes sessions; identical code
    * path in batch (GmallQueries.sessionize shares it). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 lateness: String = "1 hour"): DataFrame = {
    val base =
      if (events.isStreaming) events.withWatermark("ts", lateness) else events
    base.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** Streaming heavy hitters — the incremental form of batch
    * TextOps.heavyHitters, reshaped for an unbounded vocabulary: global
    * all-time counts would grow state per DISTINCT gram forever, so the
    * streaming form is per event-time window — the production question
    * is "what was hot in this window", and the watermark closing a
    * window evicts all of its gram state. Fully declarative
    * (window groupBy + count + threshold filter); in append mode a
    * (window, gram) row emits exactly once, with its FINAL count, when
    * the watermark closes the window — so the `n >= minCount` filter
    * sees complete counts and the emitted set equals the batch operator
    * run over the same window (asserted by PipelinesSpec against the
    * same-windowed batch groupBy).
    *
    * State bound: distinct grams per open window × open windows — the
    * streaming analog of the batch operator's per-partition summary
    * bound. Identical code path in batch (the window function groups by
    * time bucket). */
  def heavyHittersWindowed(grams: DataFrame, gramCol: String = "gram",
                           tsCol: String = "ts", minCount: Long = 5,
                           window_ : String = "1 minute",
                           lateness: String = "30 seconds"): DataFrame = {
    val base =
      if (grams.isStreaming) grams.withWatermark(tsCol, lateness) else grams
    base.groupBy(window(col(tsCol), window_), col(gramCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("window.start").as("window_start"), col(gramCol), col("n"))
  }

  /** Streaming count-min sketch — t34's CONSTANT-state twin, and the
    * all-time-counts answer [[heavyHittersWindowed]] deliberately
    * refuses: the state store holds at most depth × width counter rows
    * REGARDLESS of vocabulary, traffic, or stream age, so "estimate
    * any token's lifetime frequency" stays answerable forever (with
    * CMS's one-sided ε = e/width error) where exact per-gram state
    * would grow without bound. The aggregation IS
    * TextOps.cmsSketchOn — the identical plan batch t34 runs, so the
    * streamed sketch equals the batch sketch over the same documents
    * on ANY batch split (spec-pinned), and per-stream / per-day
    * sketches merge downstream by summing `c` on (r, bucket).
    * Update/complete output (a counter row re-emits when it grows). */
  def cmsSketchStream(docs: DataFrame, depth: Int = 4, width: Int = 512): DataFrame =
    graft.operators.TextOps.cmsSketchOn(docs, depth, width)

  /** Streaming stratified sample — the incremental form of batch
    * bottom-k-by-hash sampling (operators/TextOps.stratifiedSample):
    * per stratum, keep the `quota` documents with the smallest
    * md5(doc_id) rank keys. Because membership is a deterministic
    * function of the SET of documents seen (not of arrival order or
    * batch boundaries), the stream converges to exactly the batch
    * sample on any feed — the reproducible-subset property a training
    * pipeline needs from a sample that is drawn while data is still
    * arriving.
    *
    * State: one bounded list per stratum (quota × (32-char hash, id)) —
    * O(strata × quota) regardless of traffic. Each batch that touches a
    * stratum re-emits that stratum's CURRENT sample under an
    * incremented `ver` (append mode cannot retract an evicted member,
    * so downstream keeps the rows of max(ver) per stratum — the
    * cdcApplyStream "latest wins" convention, pinned by spec). */
  def stratifiedSampleStream(docs: DataFrame, quota: Int = 20,
                             stateTtlMs: Long = 0L): Dataset[SampleRow] = {
    import docs.sparkSession.implicits._
    val typed = docs.select(col("lang"), col("doc_id").cast("long"),
        md5(col("doc_id").cast("string").cast("binary")).as("rk_key"))
      .as[(String, Long, String)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        sampleGroup(quota, stateTtlMs))
  }

  private[streaming] def sampleGroup(quota: Int, stateTtlMs: Long)(
      lang: String, rows: Iterator[(String, Long, String)],
      state: GroupState[SampleState]): Iterator[SampleRow] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val cur = state.getOption.getOrElse(SampleState(0, Nil))
    // bounded bottom-k merge: keep exactly the quota smallest (rk_key,
    // doc_id) pairs — same ordering as the batch window (rk_key asc,
    // doc_id asc), so membership equals the batch sample over the
    // union of everything seen. A TreeSet capped at quota keeps the
    // per-batch working memory O(quota) even when one micro-batch
    // delivers millions of rows for a stratum (buffering + sorting the
    // whole batch would scale with batch size, not with the documented
    // O(strata × quota) bound).
    val merged: List[(String, Long)] = if (quota <= 0) Nil else {
      val set = scala.collection.mutable.TreeSet.empty[(String, Long)]
      cur.members.foreach(m => set += ((m.rk_key, m.doc_id)))
      rows.foreach { r =>
        val cand = (r._3, r._2)
        if (set.size < quota) set += cand
        else if (Ordering[(String, Long)].lt(cand, set.last) && set.add(cand))
          set -= set.last
      }
      set.toList
    }
    val next = SampleState(cur.ver + 1,
      merged.map { case (k, id) => SampleMember(k, id) })
    state.update(next)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    merged.iterator.zipWithIndex.map { case ((_, id), i) =>
      SampleRow(lang, next.ver, id, i + 1) }
  }

  /** Streaming weighted sample — the incremental form of batch t36
    * ([[graft.operators.TextOps.weightedSampleOn]]): per stratum
    * (lang), keep the `quota` documents with the LARGEST A-ES keys
    * ln(u)/w^beta — i.e. a sample drawn ∝ w^beta without replacement,
    * maintained while data is still arriving. The key column is THE
    * batch derivation (TextOps.esKey — shared code, zero drift), and
    * membership is a deterministic function of the SET of documents
    * seen, so the stream converges to exactly the per-stratum batch
    * sample on any feed order, batching, or re-delivery (spec-pinned).
    *
    * State: quota (double, long) pairs per stratum — O(strata × quota)
    * regardless of traffic; per-arrival cost O(log quota) via the
    * capped TreeSet (the stratifiedSampleStream bound). Same
    * append-mode latest-wins `ver` convention. */
  def weightedSampleStream(docs: DataFrame, quota: Int = 20, beta: Double = 1.0,
                           stateTtlMs: Long = 0L): Dataset[WSampleRow] = {
    import docs.sparkSession.implicits._
    val typed = docs.filter(col("n_chars") > 0)
      .select(col("lang"), col("doc_id").cast("long"),
        graft.operators.TextOps.esKey(beta).as("es_key"))
      .as[(String, Long, Double)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        wSampleGroup(quota, stateTtlMs))
  }

  private[streaming] def wSampleGroup(quota: Int, stateTtlMs: Long)(
      lang: String, rows: Iterator[(String, Long, Double)],
      state: GroupState[WSampleState]): Iterator[WSampleRow] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val cur = state.getOption.getOrElse(WSampleState(0, Nil))
    // bounded top-k merge: order by (key DESC, doc_id ASC) — the batch
    // operator's orderBy — stored as (-key, doc_id) so the TreeSet's
    // natural ascending order keeps exactly the quota best
    val merged: List[(Double, Long)] = if (quota <= 0) Nil else {
      val set = scala.collection.mutable.TreeSet.empty[(Double, Long)]
      cur.members.foreach(m => set += ((-m.es_key, m.doc_id)))
      rows.foreach { r =>
        val cand = (-r._3, r._2)
        if (set.size < quota) set += cand
        else if (Ordering[(Double, Long)].lt(cand, set.last) && set.add(cand))
          set -= set.last
      }
      set.toList
    }
    val next = WSampleState(cur.ver + 1,
      merged.map { case (nk, id) => WSampleMember(-nk, id) })
    state.update(next)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    merged.iterator.zipWithIndex.map { case ((_, id), i) =>
      WSampleRow(lang, next.ver, id, i + 1) }
  }

  /** Streaming transition extraction — the incremental form of
    * [[graft.operators.GraphOps.transitionEdges]]'s LEAD window (which
    * streaming cannot run): keyed state holds each user's LAST event
    * (ts, event_id, type); each batch sorts the user's arrivals by the
    * SAME (ts, event_id) tie-break, chains them from the state, and
    * emits one [[TransitionRow]] per adjacent pair — so over an
    * in-order feed the emitted multiset equals the batch window's
    * pairs exactly, across any batch boundaries (spec-pinned). An
    * arrival at or before the state's last (late data, re-delivery) is
    * DROPPED without corrupting the chain — the lastTouchAttribution
    * convention: append mode cannot retract a transition the true
    * order never produced, so late events cost a missed edge
    * observation, never a wrong one.
    *
    * State: one (ts, id, type) row per user — O(users), the
    * lastTouchAttribution envelope; per-batch memory is one user's
    * arrivals (sorted). */
  def transitionStream(events: DataFrame, stateTtlMs: Long = 0L): Dataset[TransitionRow] = {
    import events.sparkSession.implicits._
    val typed = events.select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        transitionGroup(stateTtlMs))
  }

  private[streaming] def transitionGroup(stateTtlMs: Long)(
      user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
      state: GroupState[TransitionState]): Iterator[TransitionRow] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    // Timestamp ordering via compareTo keeps sub-millisecond precision
    // (getTime alone truncates to ms — Tables.normalizeEventTs emits
    // micros, and the batch LEAD window orders by the full value), the
    // same comparator discipline attributionGroup uses. Two events in
    // the same millisecond would otherwise mis-order or wrongly drop
    // as late, silently diverging the maintained edges from batch q36.
    val sorted = rows.toSeq.sortWith { (a, b) =>
      val c = a._2.compareTo(b._2)
      if (c != 0) c < 0 else a._3 < b._3
    }
    var last = state.getOption
    val out = Seq.newBuilder[TransitionRow]
    sorted.foreach { case (_, ts, id, tpe) =>
      val lateOrDup = last.exists { s =>
        val c = ts.compareTo(s.ts)
        c < 0 || (c == 0 && id <= s.event_id)
      }
      if (!lateOrDup) {
        last.foreach(s => out += TransitionRow(s.event_type, tpe))
        last = Some(TransitionState(ts, id, tpe))
      }
    }
    last.foreach(state.update)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    out.result().iterator
  }

  /** Streaming source-overlap sketches — the incremental form of batch
    * [[graft.operators.Dedup.sourceOverlapMinhash]]'s per-source union
    * sketch: as documents arrive, fold their d6 md5 minhash signatures
    * (same fused expression, same values as the batch path) into a
    * per-source element-wise minimum. Min is associative/commutative/
    * idempotent, so the sketch is a deterministic function of the SET
    * of documents seen — any feed order, any batching, even re-delivery
    * converges to exactly the batch sketch (spec-pinned). Each batch
    * that touches a source re-emits its CURRENT sketch under an
    * incremented `ver`; downstream keeps max(ver) per source and joins
    * sketch pairs exactly as the batch estimator does.
    *
    * This is the shape a continuous-intake corpus monitor runs at
    * 100 TB: O(sources × numHashes) state, one scalar row per
    * (source, perm) out, no corpus retention — the crawl flows through,
    * only sketches persist. Input needs (source, text) columns. */
  def sourceSketchStream(docs: DataFrame,
                         numHashes: Int = graft.operators.Dedup.portablePerms,
                         stateTtlMs: Long = 0L): Dataset[SketchRow] = {
    import docs.sparkSession.implicits._
    val sigs = docs
      .withColumn("toks", graft.operators.TextOps.tokens(col("text")))
      .withColumn("shingles",
        array_distinct(graft.operators.TextOps.tokenWindows(col("toks"), 3, 1)))
      .select(col("source"), graft.functions.Md5MinHashSigs
        .md5_minhash_sigs(col("shingles"), lit(numHashes)).as("sigs"))
      .filter(col("sigs").isNotNull)
      .as[(String, Seq[String])]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    sigs.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        sketchGroup(stateTtlMs))
  }

  private[streaming] def sketchGroup(stateTtlMs: Long)(
      source: String, rows: Iterator[(String, Seq[String])],
      state: GroupState[SketchState]): Iterator[SketchRow] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var mins: Array[String] = state.getOption.map(_.mins.toArray).orNull
    rows.foreach { case (_, sig) =>
      if (mins == null) mins = sig.toArray
      else {
        var i = 0
        while (i < mins.length) {
          if (sig(i) < mins(i)) mins(i) = sig(i); i += 1
        }
      }
    }
    if (mins == null) return Iterator.empty // timeout-only invocation
    val ver = state.getOption.map(_.ver).getOrElse(0) + 1
    state.update(SketchState(ver, mins.toSeq))
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    mins.iterator.zipWithIndex.map { case (mh, p) =>
      SketchRow(source, ver, p, mh) }
  }

  /** Streaming near-dup candidate detection — the incremental form of
    * batch MinHash-LSH (operators/Dedup.minhashLsh): as documents
    * arrive, band their minhash signatures (same fused expressions, same
    * bucket values as the batch path) and surface every (earlier doc,
    * new doc) collision within a (band, bucket) as a candidate pair for
    * exact downstream verification. Keyed state per bucket holds the doc
    * ids seen so far — the streaming analog of the banded index, evicted
    * by `stateTtlMs` (0 → no timeout, for tests; production uses a TTL
    * matching the dedup horizon, like the reference's Redis SADD TTLs).
    * Pairs can surface from several bands — dedupe downstream
    * (`dropDuplicates("id_a","id_b")`) before verification.
    *
    * Hot-bucket guard: a stop-shingle band bucket would otherwise grow
    * its member list (and its per-arrival pair fan-out) without bound.
    * Each bucket keeps at most `maxBucketSize` members; a doc arriving
    * at a saturated bucket emits ONE overflow-signal row
    * (`id_b == BucketOverflow`) instead of candidate pairs — state and
    * output both stay bounded, and the suppression is observable in
    * the stream rather than silent. Signal rows are per-DELIVERY
    * (at-least-once: recording suppressed ids would unbound the state
    * the cap exists to bound, so a replayed doc re-signals —
    * `dropDuplicates("id_a","band")` downstream if exactly-once
    * overflow counting matters). Members of a bucket that hot are
    * stop-shingle collisions, not near-dups; route signal rows to a
    * dense-bucket side channel if those docs need a second pass. */
  def nearDupCandidates(docs: DataFrame, numHashes: Int = 16, bands: Int = 8,
                        stateTtlMs: Long = 0L,
                        maxBucketSize: Int = 1024): Dataset[(Long, Long, Int)] = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    import docs.sparkSession.implicits._
    // the SAME shingle-hash and band-hash constructions as the batch
    // path (Dedup.withShingleHashes / bandHashCols) — bucket parity with
    // minhashLsh holds by shared code, and is pinned by a spec
    val shingled = graft.operators.Dedup
      .withShingleHashes(docs, "text")
      .filter(size(col("sh_hashes")) > 0)
      .withColumn("sigs", graft.functions.MinHashSigs.minhash_sigs(
        col("sh_hashes"), lit(numHashes)))
    val banded = shingled.select(col("doc_id"),
      posexplode(array(
        graft.operators.Dedup.bandHashCols(col("sigs"), numHashes, bands): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
      .as[(Long, Int, Long)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        nearDupGroup(stateTtlMs, maxBucketSize))
      .toDF("id_a", "id_b", "band").as[(Long, Long, Int)]
  }

  /** `id_b` sentinel marking a suppressed arrival at a saturated
    * bucket (see [[nearDupCandidates]]); real doc ids are ≥ 0. */
  val BucketOverflow: Long = -1L

  private[streaming] def nearDupGroup(stateTtlMs: Long, maxBucketSize: Int = 1024)(
      key: (Int, Long), rows: Iterator[(Long, Int, Long)],
      state: GroupState[List[Long]]): Iterator[(Long, Long, Int)] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var seen = state.getOption.getOrElse(Nil)
    // hot buckets (stop-shingle band collisions) can hold many docs —
    // O(1) membership via a local set; the stored state stays a List
    // (encoder-friendly)
    val seenSet = scala.collection.mutable.HashSet.from(seen)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Int)]
    // deterministic intra-batch order; pairs emit (older/min id first)
    // against everything already seen, including earlier-in-batch
    // arrivals
    rows.map(_._1).toSeq.distinct.sorted.foreach { id =>
      if (!seenSet.contains(id)) {
        if (seenSet.size >= maxBucketSize) {
          // saturated: no state growth, no O(|bucket|) pair fan-out —
          // one signal row makes the suppression observable downstream
          out += ((id, BucketOverflow, key._1))
        } else {
          seen.foreach(s => out += ((math.min(s, id), math.max(s, id), key._1)))
          seenSet += id
          seen = id :: seen
        }
      }
    }
    state.update(seen)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    out.iterator
  }

  /** Streaming last-touch attribution — the incremental form of the
    * batch as-of join (operators/AsOf.purchaseLastClick): keyed state
    * per user holds the latest click; each purchase emits with the
    * stored click attached. One scalar pair of state per user —
    * O(users), not O(events) — evicted by `stateTtlMs` (0 → NoTimeout,
    * for tests/batch parity).
    *
    * Ordering semantics match the batch operator for in-order arrivals:
    * within a batch, rows process in (ts, click-before-purchase,
    * event_id) order, so a same-instant click is visible to its
    * purchase (inclusive >=) and same-instant clicks resolve to the max
    * event_id. Cross-batch, a purchase only attributes to a stored
    * click with click.ts <= purchase.ts; a LATE purchase arriving after
    * a newer click gets None (the state keeps one click, not a history
    * — the documented trade-off vs the batch as-of join, which is the
    * replayable source of truth). */
  def lastTouchAttribution(events: DataFrame, stateTtlMs: Long = 0L): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    val typed = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts").cast("timestamp"), col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        attributionGroup(stateTtlMs))
  }

  private[streaming] def attributionGroup(stateTtlMs: Long)(
      user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
      state: GroupState[ClickState]): Iterator[Attribution] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var last = state.getOption
    val out = scala.collection.mutable.ListBuffer.empty[Attribution]
    // clicks sort before purchases at the same instant (inclusive >=,
    // matching AsOf.asOfJoin's __seq); Timestamp ordering via compareTo
    // keeps sub-millisecond precision (getTime alone truncates to ms)
    rows.toSeq
      .sortWith { (a, b) =>
        val c = a._3.compareTo(b._3)
        if (c != 0) c < 0
        else {
          val sa = if (a._4 == "click") 0 else 1
          val sb = if (b._4 == "click") 0 else 1
          if (sa != sb) sa < sb else a._1 < b._1
        }
      }
      .foreach {
        case (id, _, ts, "click") =>
          if (last.forall(c => ts.compareTo(c.ts) > 0 ||
            (ts.compareTo(c.ts) == 0 && id > c.id)))
            last = Some(ClickState(ts, id))
        case (id, uid, ts, _) =>
          val valid = last.filter(_.ts.compareTo(ts) <= 0)
          // flag the batch-divergence case: a stored click NEWER than
          // this purchase means an older qualifying click may have been
          // overwritten (state keeps one click, not a history)
          out += Attribution(id, uid, ts, valid.map(_.id), valid.map(_.ts),
            stale_state = valid.isEmpty && last.nonEmpty)
      }
    last.foreach(state.update)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    out.iterator
  }

  /** Streaming HyperLogLog DAU — the incremental form of the portable
    * batch sketch (GmallQueries.dauHllPortable): keyed state per day
    * holds the 256 register maxima (constant-size state regardless of
    * traffic — the whole point of a sketch vs dropDuplicates' O(users)
    * state), each batch merges its rank observations and re-emits the
    * day's refreshed estimate. The estimator is the SHARED
    * GmallQueries.Hll.estimate — streaming estimates equal the batch
    * query's on the same data (pinned by spec). Register merging is a
    * per-register max — associative and commutative, so arrival order
    * and batching cannot change the final state. Late rows within the
    * state's lifetime fold in exactly; output is append-mode with one
    * refreshed row per (day, batch) — downstream keeps the latest. */
  def dauHllStream(events: DataFrame, stateTtlMs: Long = 0L): Dataset[(java.sql.Date, Double)] = {
    import events.sparkSession.implicits._
    // the SHARED hash→register→rank derivation (Hll.registerRanks) —
    // stream and batch cannot drift
    val ranks = graft.operators.GmallQueries.Hll.registerRanks(events)
      .as[(java.sql.Date, Int, Int)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ranks.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        hllGroup(stateTtlMs))
  }

  private[streaming] def hllGroup(stateTtlMs: Long)(
      dt: java.sql.Date, rows: Iterator[(java.sql.Date, Int, Int)],
      state: GroupState[Seq[Int]]): Iterator[(java.sql.Date, Double)] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val regs = state.getOption.map(_.toArray)
      .getOrElse(new Array[Int](graft.operators.GmallQueries.Hll.m))
    rows.foreach { case (_, j, r) => if (r > regs(j)) regs(j) = r }
    state.update(regs.toSeq)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    Iterator.single((dt, graft.operators.GmallQueries.Hll.estimate(regs)))
  }

  /** Streaming SCD2 — incremental maintenance of the versioned history
    * that GmallQueries.scd2History builds in batch: keyed state holds
    * each user's OPEN run (state string, valid_from, version, event
    * count); a state-changing event closes the run (emitting one
    * Scd2Row, append mode) and opens the next. This is the reference's
    * dim-upsert lane (`dim/UserInfoApp.scala:69-74` keeps latest-only)
    * upgraded to keep history, with O(keys) state — one scalar record
    * per key regardless of traffic.
    *
    * Ordering: rows are applied in (ts, event_id) order within a batch;
    * an event older than the open run's last applied event
    * (cross-batch out-of-order) cannot retro-split already-closed
    * intervals, so it is dropped and COUNTED — emitted rows carry
    * `n_late`, and the batch rebuild is the replayable source of truth
    * when it is nonzero (the lastTouchAttribution `stale_state`
    * pattern). In-order feeds reproduce the batch history exactly
    * (pinned by spec). */
  def scd2Stream(events: DataFrame, stateTtlMs: Long = 0L): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts").cast("timestamp"), col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        scd2Group(stateTtlMs))
  }

  private[streaming] def scd2Group(stateTtlMs: Long)(
      user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
      state: GroupState[Scd2State]): Iterator[Scd2Row] = {
    // a TTL'd key drops its open run — acceptable for abandoned keys,
    // the same trade the reference's Redis TTLs make
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var cur = state.getOption
    val out = scala.collection.mutable.ListBuffer.empty[Scd2Row]
    rows.toSeq
      .sortWith { (a, b) =>
        val c = a._3.compareTo(b._3)
        if (c != 0) c < 0 else a._1 < b._1
      }
      .foreach { case (id, uid, ts, et) =>
        cur match {
          case None =>
            cur = Some(Scd2State(et, ts, 1, 1L, ts, id, 0L))
          case Some(s) =>
            val cmp = ts.compareTo(s.lastTs)
            if (cmp < 0 || (cmp == 0 && id < s.lastId))
              cur = Some(s.copy(nLate = s.nLate + 1)) // out-of-order: count, drop
            else if (et == s.state)
              cur = Some(s.copy(nEvents = s.nEvents + 1, lastTs = ts, lastId = id))
            else {
              out += Scd2Row(uid, s.version, s.state, s.validFrom, ts,
                s.nEvents, s.nLate)
              // n_late is per-interval ("dropped while this interval was
              // open", Beans.Scd2Row) — the new run starts its own count,
              // so summing n_late downstream never double-counts a drop
              cur = Some(Scd2State(et, ts, s.version + 1, 1L, ts, id, 0L))
            }
        }
      }
    cur.foreach(state.update)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    out.iterator
  }

  /** Streaming CDC apply — the incremental form of
    * GmallQueries.cdcApply: keyed state holds each key's CURRENT row
    * under last-writer-wins (`error` = delete tombstone, kept in state
    * so later upserts revive the key); each batch emits one refreshed
    * CdcRow per touched key (append mode — downstream keeps the
    * latest). O(keys) state; out-of-order events older than the
    * current row are absorbed by the (ts, event_id) max rule exactly
    * as in batch, so stream and batch snapshots agree on ANY feed
    * order (pinned by spec). */
  def cdcApplyStream(events: DataFrame, stateTtlMs: Long = 0L): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts").cast("timestamp"), col("event_type"),
        col("value").cast("double"),
        get_json_object(col("props"), "$.k").cast("int"))
      .as[(Long, Long, java.sql.Timestamp, String, Double, Option[Int])]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        cdcApplyGroup(stateTtlMs))
  }

  private[streaming] def cdcApplyGroup(stateTtlMs: Long)(
      user: Long,
      rows: Iterator[(Long, Long, java.sql.Timestamp, String, Double, Option[Int])],
      state: GroupState[CdcRow]): Iterator[CdcRow] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var cur = state.getOption
    rows.foreach { case (id, uid, ts, et, v, k) =>
      val newer = cur.forall { c =>
        val cmp = ts.compareTo(c.last_ts)
        cmp > 0 || (cmp == 0 && id > c.last_id)
      }
      val n = cur.map(_.n_ops).getOrElse(0L) + 1
      cur =
        if (newer) Some(CdcRow(uid, ts, id, et, v, k, n, et == "error"))
        else cur.map(c => c.copy(n_ops = n))
    }
    cur.foreach(state.update)
    if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
    cur.iterator
  }

  /** J6/A2 first-order flag (`dwd/OrderInfoApp.scala:92-157`): keyed
    * state holds "has this user ever ordered"; within one batch the
    * earliest order wins — the reference's lookup + intra-batch
    * correction collapsed into one stateful operator (SURVEY §7.4.3),
    * read-your-own-writes by construction. */
  def firstOrderFlag(orders: Dataset[OrderInfo]): Dataset[(OrderInfo, String)] = {
    import orders.sparkSession.implicits._
    orders.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[OrderInfo], state: GroupState[Boolean]) => {
          var consumed = state.getOption.getOrElse(false)
          val out = rows.toSeq.sortBy(r => (r.create_time.getTime, r.id)).map { r =>
            val flag = if (consumed) "0" else "1"
            consumed = true
            (r, flag)
          }
          state.update(consumed)
          out.iterator
        })
  }
}
