package graft.streaming

import java.sql.Timestamp
import org.scalacheck.{Gen, Prop, Properties}

/** Property tests for the apportionment core (SURVEY §5 / §7.4.1): for
  * ANY order whose detail amounts sum to original_total, the emitted
  * shares sum exactly to final_total — the invariant the reference's
  * remainder trick exists to guarantee. Runs the fused order-wide
  * operator's per-order function directly (pure function of events +
  * state) under ScalaCheck, no SparkSession: the header arrives with
  * the first batch of details, the rest follow.
  */
object ApportionPropertySpec extends Properties("apportion") {

  private val ts0 = Timestamp.valueOf("2024-01-01 00:00:00")

  // an order: 1–8 details with cent amounts, arbitrary discount so
  // final_total ≤ original_total
  private val orderGen: Gen[(List[Long], Long)] = for {
    n <- Gen.choose(1, 8)
    cents <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
    discount <- Gen.choose(0L, cents.sum - 1)
  } yield (cents, cents.sum - discount)

  private def run(detailCents: List[Long], finalC: Long,
                  batches: List[List[Int]]): List[OrderWideSplit] = {
    val header = OrderEvent(1L, ts0, Some(OrderInfo(1L, 7L, 1L, "1001",
      finalC / 100.0, detailCents.sum / 100.0, ts0)), None)
    val details = detailCents.zipWithIndex.map { case (c, i) =>
      OrderEvent(1L, ts0, None, Some(OrderDetail(i + 1, 1L, 100L + i, 1, c / 100.0, ts0)))
    }
    val state = new TestGroupState[OrderWideState]
    batches.zipWithIndex.flatMap { case (idxs, b) =>
      val events = (if (b == 0) List(header) else Nil) ++ idxs.map(details(_))
      Pipelines.orderWideGroup(20000L, streaming = true)(1L, events.iterator, state).toList
    }
  }

  property("shares sum exactly to final_total across any batch split") =
    Prop.forAll(orderGen, Gen.choose(0, 6)) { (order, splitAt) =>
      val (cents, finalC) = order
      val idxs = cents.indices.toList
      val cut = math.min(splitAt, idxs.size)
      val batches = List(idxs.take(cut), idxs.drop(cut)).filter(_.nonEmpty)
      val out = run(cents, finalC, batches)
      val sumC = out.map(s => Math.round(s.final_detail_amount * 100)).sum
      (out.size == cents.size) && (sumC == finalC)
    }

  property("non-remainder shares are the proportional share rounded half-up") =
    Prop.forAll(orderGen) { case (cents, finalC) =>
      val out = run(cents, finalC, List(cents.indices.toList))
      val originalC = cents.sum
      val shares = out.sortBy(_.order_detail_id)
        .map(s => Math.round(s.final_detail_amount * 100))
      shares.zip(cents).init.forall { case (share, c) =>
        share == (BigDecimal(finalC) * c / originalC)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
    }
}

/** Hand-rolled GroupState for driving stateful functions directly
  * (scalatestplus is not in the offline cache). `timedOut` and
  * `lastTimeoutMs` let TTL paths be exercised without the
  * ProcessingTimeTimeout busy-spin under processAllAvailable. */
class TestGroupState[T] extends org.apache.spark.sql.streaming.GroupState[T] {
  private var st: Option[T] = None
  var timedOut: Boolean = false
  var lastTimeoutMs: Long = -1L
  override def exists: Boolean = st.isDefined
  override def get: T = st.get
  override def getOption: Option[T] = st
  override def update(s: T): Unit = st = Some(s)
  override def remove(): Unit = st = None
  override def hasTimedOut: Boolean = timedOut
  override def setTimeoutDuration(d: Long): Unit = lastTimeoutMs = d
  override def setTimeoutDuration(d: String): Unit = ()
  override def setTimeoutTimestamp(t: Long): Unit = ()
  override def setTimeoutTimestamp(t: Long, add: String): Unit = ()
  override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
