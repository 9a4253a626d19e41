package graft.streaming

import java.sql.Timestamp

/** Typed rows for the streaming pipelines, mirroring the reference beans
  * (FIXTURES.md §2; `bean/OrderInfo.scala:6-28`, `bean/OrderDetail.scala:3-17`)
  * with immutable case classes — enrichment adds columns instead of
  * mutating `var` fields.
  */
final case class OrderInfo(
    id: Long,
    user_id: Long,
    province_id: Long,
    order_status: String,
    final_total_amount: Double,
    original_total_amount: Double,
    create_time: Timestamp)

final case class OrderDetail(
    id: Long,
    order_id: Long,
    sku_id: Long,
    sku_num: Long,
    order_price: Double,
    create_time: Timestamp)

/** Joined order-wide row pre-apportionment (`bean/OrderWide.scala:6-43`). */
final case class OrderWide(
    order_detail_id: Long,
    order_id: Long,
    sku_id: Long,
    sku_num: Long,
    sku_price: Double,
    final_total_amount: Double,
    original_total_amount: Double,
    create_time: Timestamp)

/** Output row with the apportioned payment share. */
final case class OrderWideSplit(
    order_detail_id: Long,
    order_id: Long,
    sku_id: Long,
    sku_num: Long,
    sku_price: Double,
    final_total_amount: Double,
    original_total_amount: Double,
    create_time: Timestamp,
    final_detail_amount: Double)

/** An order's running apportion sums in cents
  * (`dws/OrderWideApp.scala:136-178`'s two Redis keys). */
final case class ApportionState(originSumC: Long, splitSumC: Long)

/** One header or detail event of an order — exactly one of the two is
  * set — as the fused order-wide operator reads them. */
final case class OrderEvent(order_id: Long, event_time: Timestamp,
    header: Option[OrderInfo], detail: Option[OrderDetail])

/** Keyed state of the fused order-wide operator: the order's header
  * once seen, the details waiting for it, and the apportion sums. */
final case class OrderWideState(header: Option[OrderInfo],
    pending: Seq[OrderDetail], sums: ApportionState)

/** App-start log for the DAU pipeline (FIXTURES.md §1.1). */
final case class StartLog(mid: String, uid: String, ar: String, ch: String,
    vc: String, ts: Timestamp)

/** Keyed state for streaming last-touch attribution: the user's latest
  * click so far (one scalar pair per user — O(users) state). */
final case class ClickState(ts: Timestamp, id: Long)

/** Output of streaming last-touch attribution: a purchase joined to the
  * user's latest preceding click (None when no click qualifies).
  * `stale_state` marks the one divergence from the batch as-of source
  * of truth: the stored click was NEWER than this (late) purchase, so a
  * qualifying older click may have been overwritten — the batch join
  * might attribute where the stream emits None. Monitor its rate to
  * observe drift. */
final case class Attribution(event_id: Long, user_id: Long, ts: Timestamp,
    click_id: Option[Long], click_ts: Option[Timestamp],
    stale_state: Boolean = false)

/** Streaming SCD2 output: one CLOSED validity interval (the open run
  * lives only in state until the next state change closes it).
  * `n_late` is the count of out-of-order events dropped while this
  * interval was open — nonzero means the batch rebuild
  * (GmallQueries.scd2History) may split this interval differently. */
final case class Scd2Row(user_id: Long, version: Int, state: String,
    valid_from: Timestamp, valid_to: Timestamp, n_events: Long,
    n_late: Long)

/** Keyed state for streaming SCD2: the open run per user. */
final case class Scd2State(state: String, validFrom: Timestamp,
    version: Int, nEvents: Long, lastTs: Timestamp, lastId: Long,
    nLate: Long)

/** Streaming stratified-sample output: one CURRENT member of a
  * stratum's bottom-k-by-hash sample. `ver` increments per state
  * update; append mode cannot retract evicted members, so downstream
  * keeps the rows of max(ver) per lang (the cdcApplyStream "latest
  * wins" convention). */
final case class SampleRow(lang: String, ver: Int, doc_id: Long, rk: Int)

/** One member of a stratum's sample: the md5 rank key and its doc. */
final case class SampleMember(rk_key: String, doc_id: Long)

/** Keyed state for the streaming stratified sample: the stratum's
  * current bottom-k members (bounded: quota entries) + emission
  * version. */
final case class SampleState(ver: Int, members: Seq[SampleMember])

/** Streaming weighted-sample output: one CURRENT member of a
  * stratum's top-k-by-A-ES-key sample (weights via TextOps.esKey).
  * Same latest-wins `ver` convention as SampleRow. */
final case class WSampleRow(lang: String, ver: Int, doc_id: Long, rk: Int)

/** One member of a stratum's weighted sample: the A-ES key (held
  * UNROUNDED — membership must match the batch operator's double
  * ordering exactly) and its doc. */
final case class WSampleMember(es_key: Double, doc_id: Long)

/** Keyed state for the streaming weighted sample: the stratum's
  * current top-k members (bounded: quota entries) + emission
  * version. */
final case class WSampleState(ver: Int, members: Seq[WSampleMember])

/** Streaming transition-extraction output: one observed adjacent
  * (src → dst) event-type transition within a user's stream. */
final case class TransitionRow(src: String, dst: String)

/** Keyed state for transition extraction: the user's LAST event
  * (event-time, id tie-break, type) — one tiny row per user. */
final case class TransitionState(ts: java.sql.Timestamp, event_id: Long,
                                 event_type: String)

/** Streaming source-sketch output: one permutation slot of a source's
  * CURRENT minhash union sketch (operators/Dedup.sourceOverlapMinhash's
  * srcSig relation, maintained incrementally). `ver` increments per
  * state update; downstream keeps the rows of max(ver) per source (the
  * cdcApplyStream "latest wins" convention). */
final case class SketchRow(source: String, ver: Int, perm: Int, mh: String)

/** Keyed state for the streaming source sketch: the element-wise
  * minimum md5 digest per permutation (bounded: numHashes 32-char
  * strings per source — constant per key, mergeable by min). */
final case class SketchState(ver: Int, mins: Seq[String])

/** Streaming CDC-apply state AND output: the key's current row under
  * last-writer-wins (one scalar record per key — O(keys) state).
  * `is_deleted` = the latest op is a tombstone; the key stays in state
  * so later upserts revive it, but a snapshot reader drops it. */
final case class CdcRow(user_id: Long, last_ts: Timestamp, last_id: Long,
    last_event_type: String, last_value: Double, last_k: Option[Int],
    n_ops: Long, is_deleted: Boolean)
