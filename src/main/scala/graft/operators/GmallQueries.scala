package graft.operators

import graft.Tables
import graft.Tables.{cents, dollars}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity batch queries, re-expressed over the TESTDATA corpus
  * (FIXTURES.md §3 mapping: orders↔order_info, lineitem↔order_detail,
  * part↔sku/trademark/category dims, customer↔user_info,
  * nation/region↔province, events↔start-log stream).
  *
  * Each query is declarative DataFrame code — Catalyst handles pushdown,
  * pruning and join strategy; we hint `broadcast` only for genuine
  * dimension tables that stay small at 100 TB fact scale (nation/region
  * are fixed-cardinality; part/customer scale with SF and are left to
  * AQE's size-based broadcast decision).
  */
object GmallQueries {

  /** A1/P8/P9 (`ads/TrademarkStatApp.scala:67-72`): revenue per trademark
    * (brand). Map-side partial agg + final agg — the reference's
    * `reduceByKey` — is automatic in HashAggregateExec. */
  def trademarkStat(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(p("p_brand").as("tm_name"))
      .agg(dollars(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
        .as("amount"))
  }

  /** J1/P11 (`dws/OrderWideApp.scala:91-111`, `bean/OrderWide.scala:44-92`):
    * the order-wide row — fact lines joined to the fact header plus three
    * dimensions. lineitem⋈orders is the genuine big-big shuffle join
    * (co-partitioned on the order key); part/customer are dim lookups
    * (J2–J4 analogs) left to AQE's size-based broadcast choice (they
    * scale with SF); nation is a fixed-25-row broadcast hint. */
  def orderWide(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val p = Tables.part(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(p, li("l_partkey") === p("p_partkey"))
      .select(
        li("l_orderkey").as("order_id"),
        li("l_linenumber").as("order_detail_id"),
        li("l_partkey").as("sku_id"),
        li("l_quantity").as("sku_num"),
        li("l_extendedprice").as("order_price"),
        o("o_totalprice").as("final_total_amount"),
        o("o_orderstatus").as("order_status"),
        o("o_custkey").as("user_id"),
        c("c_mktsegment").as("user_segment"),
        c("c_nationkey").as("province_id"),
        n("n_name").as("province_name"),
        p("p_name").as("sku_name"),
        p("p_brand").as("tm_name"),
        p("p_type").as("category3_name"),
        to_date(o("o_orderdate")).as("dt"))
  }

  /** A2/J6 (`dwd/OrderInfoApp.scala:128-157`): first-order flag. The
    * reference sorts each user's orders by create_time within a batch and
    * marks the earliest; the deterministic batch formulation is a
    * row_number window (single shuffle on user key). */
  def firstOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("user_id"),
        col("o_orderdate").as("create_time"),
        when(col("rn") === 1, lit("1")).otherwise(lit("0")).as("if_first_order"))
  }

  /** A3 (`dws/OrderWideApp.scala:136-178`): payment apportionment with
    * "last row absorbs the remainder" so Σ detail == order total exactly.
    * Deterministic reformulation documented in SURVEY §7.4: the highest
    * line number (instead of arrival order) absorbs the residue; all math
    * in integer cents with integral `div` so Spark and the oracle agree
    * bit-for-bit. Two window passes over the same l_orderkey partitioning
    * — one shuffle, both windows reuse it. */
  def apportion(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        cents(col("l_extendedprice")).as("amt_c"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total_c"))
    val w = Window.partitionBy(col("l_orderkey"))
    // The remainder row must be unique per order. (l_orderkey,
    // l_linenumber) is NOT unique in the corpus, so rank rows by content
    // — deterministic in any engine; ties only between fully identical
    // rows, where the choice is immaterial to the output multiset.
    val wOrd = w.orderBy(col("l_linenumber"), col("amt_c"), col("l_partkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("osum_c", sum(col("amt_c")).over(w))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_rows", count(lit(1)).over(w))
      // round(total * amt / osum) half-up, in integer cents
      .withColumn("prop_c", expr("(2 * total_c * amt_c + osum_c) div (2 * osum_c)"))
      .withColumn("sumprop_c", sum(col("prop_c")).over(w))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("order_detail_id"),
        dollars(when(col("rn") === col("n_rows"),
          col("total_c") - (col("sumprop_c") - col("prop_c")))
          .otherwise(col("prop_c"))).as("final_detail_amount"))
  }

  /** F4/A4/P4 (`app/DauApp.scala:52-104`): daily-active dedup — first
    * sighting of each user per day. Batch formulation of the Redis-SADD
    * distinct: groupBy (user, day), keep the earliest event. */
  def dauDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("dt", to_date(col("ts")))
      .groupBy(col("user_id"), col("dt"))
      .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n_events"))

  /** DAU rollup (`app/DauApp.scala:115-125` dt/hr breakdown): distinct
    * users per day-hour. */
  def dauStat(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("dt", to_date(col("ts")))
      .withColumn("hr", hour(col("ts")))
      .groupBy(col("dt"), col("hr"))
      .agg(countDistinct(col("user_id")).as("dau"))

  /** F1/F2/R1 (`ods/BaseDBMaxwellApp.scala:49-81`): CDC router — keep the
    * whitelisted record types, compute the fan-out topic `ods_<type>`.
    * Narrow ops only; the filter is pushed into the parquet scan. */
  def router(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view", "purchase", "signup"))
      .select(
        col("event_id"),
        concat(lit("ods_"), col("event_type")).as("topic"),
        col("user_id"),
        col("value"))

  /** J5 (`dim/SkuInfoApp.scala:60-109`): 3-level dimension enrichment —
    * supplier ⋈ nation ⋈ region, both dims broadcast (fixed cardinality
    * at any SF). */
  def dimEnrich(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        s("s_suppkey"),
        s("s_name"),
        n("n_name").as("nation_name"),
        r("r_name").as("region_name"))
  }

  /** P6/P7 (`dim/UserInfoApp.scala:45-61`): bucketing + decode. Preserves
    * the reference's boundary semantics — value == low bound falls in the
    * middle bucket (the age==20 quirk, SURVEY §7.4.4). */
  def userBucket(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("user_id"),
      when(col("c_acctbal") < 1000.0, lit("low"))
        .when(col("c_acctbal") > 5000.0, lit("high"))
        .otherwise(lit("mid")).as("balance_group"),
      when(col("c_mktsegment") === "BUILDING", lit("B")).otherwise(lit("O"))
        .as("segment_code"))

  /** J2 + A1 (`dwd/OrderInfoApp.scala:194-221`): revenue per province
    * (nation) — fact ⋈ two broadcast dims, then aggregate. */
  def provinceStat(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("province_name"))
      .agg(
        count(lit(1)).as("order_count"),
        dollars(sum(cents(col("o_totalprice")))).as("total_amount"))
  }

  /** F1/F3 (`ods/BaseDBCanalApp.scala:62-63`, `dwd/OrderInfoApp.scala:269`):
    * op-type filter + projection; predicate pushed to the scan. */
  def statusFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(
        col("o_orderkey").as("order_id"),
        col("o_custkey").as("user_id"),
        col("o_totalprice").as("final_total_amount"),
        col("o_orderpriority").as("priority"))

  /** J6 as a batch anti-join (`dwd/OrderInfoApp.scala:92-117`): users
    * with no orders at all — the existence check the reference does with
    * an IN-list lookup against the USER_STATUS state table, expressed as
    * left_anti (no row materialization for the non-matching side). */
  def neverOrdered(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey").as("user_id"), col("c_name").as("user_name"),
        col("c_mktsegment").as("segment"))
  }

  /** §2.11 ES-style bool query (`util/MyESUtil.scala:118-191`): must-
    * match + filter-term + sort + from/size pagination, as filter +
    * orderBy + offset/limit. Deterministic total order (tie-break on
    * key) makes pagination stable — and oracle-comparable.
    *
    * `highlight` is the ES match-snippet analog (the reference's query
    * carries `"highlight": {"fields": {"name": {}}}`,
    * `util/MyESUtil.scala:145-149`): every occurrence of the matched
    * term wrapped in `<em>…</em>`, ES's default tags. Deviation: ES
    * highlights analyzer tokens and trims to fragment windows; this
    * wraps the literal match over the full (short) field — the right
    * analog for a non-analyzed engine, and exactly portable SQL. The
    * DuckDB oracle hard-codes the default `term = "a"`. */
  def searchPage(spark: SparkSession, dir: String, term: String = "a"): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_name").contains(term) && col("p_size") === 10)
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .offset(5).limit(10)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_retailprice"),
        regexp_replace(col("p_name"), lit(java.util.regex.Pattern.quote(term)),
          lit(s"<em>${java.util.regex.Matcher.quoteReplacement(term)}</em>"))
          .as("highlight"))

  /** Top-N per group (ADS-layer ranking, generalizes A1): top-3 orders
    * by value per nation — rank in a window, filter. One shuffle on the
    * group key; at scale AQE handles skewed nations. */
  def topOrdersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("n_name").as("province_name"), col("rank"),
        col("o_orderkey").as("order_id"), col("o_totalprice").as("amount"))
  }

  /** Hierarchical rollup (ADS-layer drill-down): revenue by
    * region → nation → grand total in one pass — `ROLLUP` runs as a
    * single expanded aggregate, not three queries. */
  def regionRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(r("r_name").as("region_name"), n("n_name").as("province_name"))
      .agg(count(lit(1)).as("order_count"),
        dollars(sum(cents(col("o_totalprice")))).as("total_amount"))
  }

  /** q27: arbitrary GROUPING SETS (beyond q15's prefix-only ROLLUP) —
    * region totals, status totals, and the grand total in ONE pass with
    * an explicit `grouping_id` disambiguating which set a row belongs
    * to (r_name/o_orderstatus are never null in the data, but the
    * marker is what makes the pattern safe on nullable dimensions).
    * Spark expands the sets before the aggregate, so this is still a
    * single shuffle whose width is Σ per-set distinct keys — the
    * one-pass multi-cube alternative to N separate groupBys + union. */
  def groupingSetsStat(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(r("r_name").as("region_name"),
        o("o_orderstatus").as("order_status"), o("o_totalprice"))
      .groupingSets(
        Seq(Seq(col("region_name")), Seq(col("order_status")), Seq.empty),
        col("region_name"), col("order_status"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("order_count"),
        dollars(sum(cents(col("o_totalprice")))).as("total_amount"))
  }

  /** HLL-style approximate distinct (north-star §7.2-9): sketch-based
    * DAU per day — the constant-memory path when exact distinct state
    * would hold 1e9+ keys. Sketches are engine-specific → rows-only
    * check; exactness bound asserted in ScalaTest vs q6. */
  def dauApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("dt", to_date(col("ts")))
      .groupBy(col("dt"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("dau_approx"))

  /** q22: PORTABLE HyperLogLog — the cross-engine-checkable counterpart
    * of [[dauApprox]]: an explicit HLL (m = 256 registers, b = 8) over
    * md5-derived 60-bit hashes, so DuckDB recomputes the identical
    * sketch and the VALUE sits under the hash-match gate (q16's
    * engine-internal sketch can only ever be rows-checked).
    *
    * Determinism across engines is engineered, not assumed:
    * register ranks use `LENGTH(bin(w))` (both engines strip leading
    * zeros identically — no float log2), and the harmonic sum is
    * accumulated as EXACT integers scaled by 2^scaleBits
    * (`1 << (scaleBits − rank)`) — a float Σ2^−rank is order-dependent
    * under distributed partial aggregation and could differ from
    * DuckDB's summation order. The only float ops are one division and
    * the standard small-range `m·ln(m/V)` correction, rounded to 4 dp
    * to absorb any last-ulp libm divergence.
    *
    * Scale shape: per-(day, register) max — associative, mergeable at
    * any fan-in, constant m-register state per day. */
  /** Shared HLL constants + driver/state-side estimator — the SAME
    * arithmetic as the column-expression form below and the generated
    * DuckDB oracle (exact integer-scaled harmonic sum, one double
    * division, small-range ln correction, round 4dp half-up). Used by
    * the streaming sketch (Pipelines.dauHllStream), whose estimates are
    * pinned equal to q22's by a spec. */
  /** Portable-HLL parameter block + shared derivations, parametric in
    * the register count (m = 2^bBits). [[Hll]] is the m=256 instance
    * every gate query/stream uses; HllSpec exercises other widths
    * (estimate error shrinks ~1.04/√m by construction). */
  class HllParams(val bBits: Int) {
    val m: Int = 1 << bBits // register count
    val hexChars: Int = 15 // md5 hex chars used → hashBits = 4 × this
    val hashBits: Int = 4 * hexChars // 60: fits signed 64-bit anywhere
    val wBits: Int = hashBits - bBits // rank-observation bits
    val rankOfZero: Int = wBits + 1 // rank when the w bits are all zero
    val scaleBits: Int = wBits + 1 // harmonic terms scaled by 2^scaleBits
    val alpha: Double = 0.7213 / (1 + 1.079 / m)
    val scale: Double = (1L << scaleBits).toDouble
    require(bBits > 0 && bBits < hashBits, s"bBits out of range: $bBits")
    require(scaleBits < 62, "scaled harmonic terms must fit a signed long")

    /** The ONE md5→(day, register, rank) derivation — shared by the
      * batch query (dauHllPortable) and the streaming sketch
      * (Pipelines.dauHllStream), so the two cannot drift; the generated
      * DuckDB oracle interpolates the same constants. Expects `ts` and
      * `user_id` columns. */
    def registerRanks(events: DataFrame): DataFrame =
      events
        .select(to_date(col("ts")).as("dt"),
          conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, hexChars), 16, 10)
            .cast("long").as("h"))
        .select(col("dt"), (col("h") % m).cast("int").as("j"),
          expr(s"h div $m").as("w"))
        .select(col("dt"), col("j"),
          when(col("w") === 0, lit(rankOfZero))
            .otherwise(lit(rankOfZero) - length(bin(col("w")))).cast("int").as("rank"))

    /** registers: rank per register index (0 = empty). Same arithmetic
      * as the column-expression form in [[dauHllPortable]]. */
    def estimate(registers: Array[Int]): Double = {
      var sScaled = 0L
      var vZero = 0
      registers.foreach { r =>
        if (r == 0) { vZero += 1; sScaled += (1L << scaleBits) }
        else sScaled += (1L << (scaleBits - r))
      }
      val raw = alpha * m * m * scale / sScaled
      val e = if (vZero > 0 && raw <= 2.5 * m) m.toDouble * math.log(m.toDouble / vZero)
              else raw
      BigDecimal(e).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** The m=256 instance — the one the q22 oracle, dauHllPortable and
    * the streaming sketch all share. */
  object Hll extends HllParams(8)

  def dauHllPortable(spark: SparkSession, dir: String): DataFrame = {
    val m = Hll.m
    val alpha = Hll.alpha
    val sb = Hll.scaleBits
    val regs = Hll.registerRanks(Tables.events(spark, dir))
      .groupBy(col("dt"), col("j")).agg(max(col("rank")).as("r"))
    regs.groupBy(col("dt"))
      .agg(sum(expr(s"shiftleft(1L, $sb - r)")).as("s_present"),
        count(lit(1)).as("n_regs"))
      .select(col("dt"),
        (lit(m) - col("n_regs")).cast("int").as("v_zero"),
        // Σ 2^(sb−rank) for present registers + 2^sb per empty register
        (col("s_present") + (lit(m) - col("n_regs")) * expr(s"shiftleft(1L, $sb)"))
          .as("s_scaled"))
      .select(col("dt"), col("v_zero"), col("s_scaled"), {
        val raw = lit(alpha * m * m) * lit(Hll.scale) / col("s_scaled")
        round(
          when(col("v_zero") > 0 && raw <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero")))
            .otherwise(raw),
          4).as("dau_hll")
      })
  }

  /** q23: running lifetime spend per customer — a cumulative window
    * frame (`rowsBetween(unboundedPreceding, currentRow)`) over the
    * order history, the canonical "customer LTV so far" feature. Sum in
    * integer cents so partial-order-independent and exact; one keyed
    * shuffle + sort like any window. Deterministic frame order via
    * (o_orderdate, o_orderkey) — date alone has ties. */
  def runningSpend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey").as("customer_id"), col("o_orderkey").as("order_id"),
        col("o_orderdate").as("order_date"), col("o_totalprice").as("amount"),
        Tables.dollars(sum(Tables.cents(col("o_totalprice"))).over(w))
          .as("lifetime_spend"))
  }

  /** Sessionization: per-user session windows over the event stream
    * (30 min inactivity gap). Batch uses the same `session_window`
    * grouping Structured Streaming uses (Pipelines.sessionize) — one
    * shuffle on the user key, state merges adjacent windows. Session
    * end follows Spark's definition: last event + gap. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event_id"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("first_event_id"))

  /** q26: assign every event to its containing session — a keyed
    * point-in-interval join through [[Ranges.pointInIntervalJoin]]'s
    * binning rewrite (one shuffle equi-join on (user_id, time-bin);
    * Spark's native plan for the range predicate would cross-product
    * each user's events × sessions). Sessions come from [[sessionize]],
    * so the oracle reuses q17's gaps-and-islands CTE and checks the
    * containment join directly. `binSeconds` is a PLAN dial, not a
    * semantic one — the rewrite's output is bin-width-invariant — so
    * its dial2 twin (binSeconds = 137) gates against the SAME oracle:
    * what it proves is that an arbitrary bin width still reproduces
    * the exact containment join (the explode arithmetic, not a lucky
    * alignment of the hour grid). */
  def eventSessionJoin(spark: SparkSession, dir: String,
                       binSeconds: Long = 3600L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
    val sess = sessionize(spark, dir)
      .select(col("user_id"), col("session_start"), col("session_end"))
    Ranges.pointInIntervalJoin(ev, sess, Seq("user_id"),
        "ts", "session_start", "session_end", binSeconds = binSeconds)
      .select(col("user_id"), col("event_id"), col("ts"), col("session_start"))
  }

  /** Pivot (status × nation revenue matrix). Pivot values are pinned —
    * an unpinned pivot needs a distinct-scan of the pivot column first,
    * which is an extra pass at 100 TB. */
  def statusPivot(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name").as("province_name"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dollars(sum(cents(col("o_totalprice")))))
      .withColumnRenamed("F", "amount_f")
      .withColumnRenamed("O", "amount_o")
      .withColumnRenamed("P", "amount_p")
  }

  /** Exact interpolated percentiles per group (both engines use the
    * (n−1)·p linear-interpolation definition). At 100 TB exact
    * percentiles require a per-group sort — the approx_percentile
    * sketch is the scale path; this is the exact-ADS variant. */
  def orderPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.95)"), 2).as("p95"))

  /** q33: sampled percentiles — the 100 TB shape for q19: exact
    * percentiles need a per-group global sort, so at scale you estimate
    * from a bounded deterministic sample. The sample is the
    * bottom-`sampleK` orders by md5(o_orderkey) per group (t14's
    * reproducible-sample machinery — content-independent,
    * engine-independent, stable under reshuffling), and the estimate is
    * percentile_disc over the sample (the ceil(p·n)-th smallest,
    * integer-cents exact). Every value is portable, so the whole
    * ESTIMATOR sits under the value-level gate — the q16-vs-q22 trade
    * solved the same way: a deterministic portable construction instead
    * of an opaque engine sketch (t-digest), whose merge order no SQL
    * can replay. Spec bounds the estimate against the exact q19
    * percentiles.
    *
    * Scale shape: the md5 ranking is narrow; per-group bottom-k is a
    * WindowGroupLimit (per-partition limit precedes the shuffle); the
    * final aggregate holds ≤ sampleK cents per group. */
  def sampledPercentiles(spark: SparkSession, dir: String,
                         sampleK: Int = 500): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("rk_key"), col("o_orderkey"))
    val sample = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderkey"),
        cents(col("o_totalprice")).as("c"),
        md5(col("o_orderkey").cast("string").cast("binary")).as("rk_key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= sampleK)
    def pDisc(p: Double) =
      element_at(col("sorted"), ceil(lit(p) * col("n_sample")).cast("int"))
    sample.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sample"),
        sort_array(collect_list(col("c"))).as("sorted"))
      .select(col("o_orderstatus"), col("n_sample"),
        dollars(pDisc(0.25)).as("p25"),
        dollars(pDisc(0.5)).as("p50"),
        dollars(pDisc(0.95)).as("p95"))
  }

  /** Set operations (completing the relational surface — the reference
    * has none): high-value customers = (bought at 'F' status) ∩ (bought
    * at 'O' status) minus anyone with a 'P' order; plus the union-all
    * row feed underneath. Set ops compile to joins/aggregates — at
    * scale each is one shuffle on the full row. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def buyers(status: String) =
      o.filter(col("o_orderstatus") === status)
        .select(col("o_custkey").as("user_id")).distinct()
    buyers("F").intersect(buyers("O")).except(buyers("P"))
  }


  /** q24: ordered funnel (view → click → purchase) per user — the
    * classic product-analytics operator the reference's ADS layer
    * gestures at but never builds. Step semantics: step 1 is the
    * user's earliest view; step n is the earliest matching event
    * STRICTLY AFTER step n−1 (order matters — a purchase before any
    * view does not convert). Three keyed min-aggregations and two
    * equi-joins, all on user_id: Catalyst reuses one hash partitioning
    * across the chain (ReusedExchange), so at 100 TB this is
    * effectively one shuffle of the filtered event columns — no
    * per-user event collection, no window over global order. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def step(evType: String) = ev.filter(col("event_type") === evType)
    val views = step("view").groupBy(col("user_id"))
      .agg(min(col("ts")).as("view_ts"))
    val clicks = step("click").join(views, "user_id")
      .filter(col("ts") > col("view_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
    val purchases = step("purchase").join(clicks, "user_id")
      .filter(col("ts") > col("click_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
    views
      .join(clicks, Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ts"), col("click_ts"),
        col("purchase_ts"),
        (lit(1) + when(col("click_ts").isNotNull, 1).otherwise(0)
          + when(col("purchase_ts").isNotNull, 1).otherwise(0)).as("max_step"))
  }

  /** q25: cohort retention triangle — users grouped by first-activity
    * date, counted distinct on each later active day, reported as
    * (cohort_date, day_offset, n_users). Two keyed aggregations
    * (first-seen per user, distinct user-days) and one user-keyed
    * join; the final rollup is bounded by cohorts × horizon, tiny at
    * any scale. The distinct user-day pre-aggregation is what keeps
    * the big shuffle bounded by |users|·|active days| instead of raw
    * event count. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_date"))
    ev.distinct()
      .join(firstSeen, "user_id")
      .groupBy(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** q28: SCD Type-2 history build — the temporal-table extension of
    * the reference's dimension layer (its Phoenix upserts keep only the
    * LATEST row per key, `dim/ProvinceInfoApp.scala:48-53`; a warehouse
    * also needs the history). Per user, consecutive runs of the same
    * `event_type` collapse into one versioned validity interval
    * `[valid_from, valid_to)`, `valid_to` null ⇒ current row.
    *
    * Plan shape: every window is partitioned by `user_id` and the runs
    * are derived from run-START rows only (filter on lag ≠ state, then
    * lead over the survivors) — no second groupBy exchange, so the
    * whole history build is ONE keyed shuffle + sorts at any scale.
    * Ordering ties break on `event_id`, so versions are deterministic
    * under re-execution. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val marked = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state"))
      .withColumn("prev", lag("state", 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_total", count(lit(1)).over(Window.partitionBy("user_id")))
    val w2 = Window.partitionBy("user_id").orderBy("rn")
    marked.filter(col("prev").isNull || col("prev") =!= col("state"))
      .withColumn("version", row_number().over(w2))
      .withColumn("valid_to", lead("ts", 1).over(w2))
      .withColumn("n_events",
        (coalesce(lead("rn", 1).over(w2), col("n_total") + 1) - col("rn"))
          .cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("version"), col("state"),
        col("ts").as("valid_from"), col("valid_to"), col("n_events"),
        col("is_current"))
  }

  /** q29: calendar gap-fill / resample — per-user daily activity with
    * missing days materialized (zero-filled) and the last active day
    * forward-filled, the standard time-series densification every
    * reporting layer needs on top of event streams (the reference's ES
    * daily indexes, `app/DauApp.scala:133`, silently skip empty days).
    *
    * Plan shape: daily rollup (one keyed shuffle, map-side combined),
    * per-user span agg, then `sequence(d0, d1)` explode — output is
    * bounded by users × calendar span, NOT event count, so at 100 TB
    * the explode is the small relation; the forward-fill window rides
    * the same user_id partitioning. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    // armed: the daily rollup feeds BOTH the span/calendar side and the
    // join side — without the cache the heaviest aggregate runs twice
    val daily = graft.ScratchCache.arm(Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("day_cents")))
    val cal = daily.groupBy(col("user_id"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "d"), "left")
      .withColumn("filled", col("n_events").isNull)
      .withColumn("last_active_day",
        last(when(!col("filled"), col("d")), ignoreNulls = true).over(w))
      .select(col("user_id"), col("d"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"),
        col("filled"), col("last_active_day"))
  }

  /** q30: CDC apply / upsert compaction — materialize the current
    * snapshot from a keyed change log, the batch form of what the
    * reference's ODS→DIM layer does per micro-batch with Phoenix
    * upserts (`ods/BaseDBMaxwellApp.scala:54-74` routes full-row CDC
    * events; the dim apps upsert latest state). Maxwell/Canal rows carry
    * the FULL row, so last-writer-wins is the correct merge:
    * `signup` = insert, `view/click/purchase` = update (both upsert the
    * carried row), `error` = delete tombstone — a key whose latest
    * event is a delete leaves the snapshot. `props` is parsed as JSON
    * (`$$.k`), exercising the semi-structured path end to end.
    *
    * Plan shape: ONE `max_by` aggregation with map-side partial
    * combine — each mapper keeps one row per local key before the
    * shuffle, so the exchange carries ≤ |keys| × mappers rows instead
    * of the full log (the row_number-window formulation would shuffle
    * and sort EVERY event). At 100 TB of CDC log this is the difference
    * between compacting and re-sorting the log. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_ops"),
        max_by(struct(col("ts"), col("event_type"), col("value"), col("k")),
          struct(col("ts"), col("event_id"))).as("last"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.ts").as("last_ts"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"), col("last.k").as("last_k"),
        col("n_ops"))
  }

  /** q31: incremental materialized-view maintenance — refresh a
    * pre-aggregated revenue MV from a signed delta instead of
    * recomputing, the standard warehouse pattern the reference
    * approximates by re-reading dims every batch
    * (`dwd/OrderInfoApp.scala:194-221`). Base = the MV as of `cutoff`
    * (orders before it); delta = post-cutoff orders applied with
    * sign +1, and post-cutoff 'P'-status orders retracted with sign −1
    * (cancellations arriving after the MV was built). The refreshed MV
    * must equal a full recompute that excludes the retracted rows —
    * which is exactly what the DuckDB oracle computes, so the gate
    * checks the IVM invariant itself.
    *
    * Plan shape: base and delta are map-side-combined aggregates over
    * disjoint date slices (at 100 TB: the base is the ALREADY
    * MATERIALIZED tiny MV, only the delta partition is scanned); the
    * merge is a full-outer join on the group key — |groups| rows, not
    * fact rows. Zeroed groups drop out (`n_orders > 0`), so deletes
    * fully unwind.
    *
    * The DuckDB oracle hard-codes the default `cutoff = 2000-01-01`;
    * non-default invocations are NOT gate-checked (the spec covers
    * mid-range and both degenerate cutoffs instead). */
  def deltaAgg(spark: SparkSession, dir: String,
               cutoff: String = "2000-01-01"): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val rows = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(n("n_name").as("province_name"), col("o_orderdate"),
        col("o_orderstatus"), cents(col("o_totalprice")).as("c"))
    val base = rows.filter(col("o_orderdate") < lit(cutoff))
      .groupBy("province_name")
      .agg(count(lit(1)).as("b_n"), sum("c").as("b_c"))
    val post = rows.filter(col("o_orderdate") >= lit(cutoff))
    val delta = post.select(col("province_name"), col("c"), lit(1L).as("sign"))
      .union(post.filter(col("o_orderstatus") === "P")
        .select(col("province_name"), col("c"), lit(-1L).as("sign")))
      .groupBy("province_name")
      .agg(sum(col("sign")).as("d_n"), sum(col("sign") * col("c")).as("d_c"))
    base.join(delta, Seq("province_name"), "full_outer")
      .select(col("province_name"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_orders"),
        dollars(coalesce(col("b_c"), lit(0L)) + coalesce(col("d_c"), lit(0L)))
          .as("amount"))
      .filter(col("n_orders") > 0)
  }

  /** q32: temporal (as-of) dimension join — enrich each event with the
    * SCD2 version valid at its timestamp: the canonical consumer of
    * q28's history (a fact joined to a versioned dimension AS OF event
    * time, the Kimball type-2 lookup). Interval semantics are
    * [valid_from, valid_to): an event whose ts equals a boundary
    * belongs to the NEWER version — the only consistent reading at ts
    * granularity, since q28 breaks same-instant ties by event_id below
    * what intervals can express; the oracle applies the identical
    * predicate. Every event lands in exactly one interval (a user's
    * intervals partition the time axis from their first event) — spec-
    * asserted.
    *
    * Scale shape: history is one row per STATE CHANGE per user
    * (versions, not events), so this is a keyed equi-join on user_id
    * with an interval residual filter — the equi-key carries the join
    * (SortMergeJoin, plan-audited; never a range nested loop), and the
    * per-user match fan-out is |versions|, collapsed by the residual
    * to 1. */
  def temporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val hist = scd2History(spark, dir)
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from"), col("valid_to"))
    ev.join(hist, Seq("user_id"))
      .filter(col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("version"), col("state"))
  }

  /** DuckDB-equivalent SQL per query (driver correctness oracle). Money
    * math mirrors the cents formulation exactly. */
  /** q22 oracle: identical HLL recomputed in DuckDB — constants
    * interpolated from the same Scala values the operator uses (shortest
    * round-trip double repr parses back bit-identical), integer-scaled
    * harmonic sum, LENGTH(bin(w)) ranks. */
  private def dauHllOracle: String = {
    // every constant interpolated from the SAME Hll object the Spark
    // paths use — changing m/bBits there changes this oracle in lockstep
    val m = Hll.m
    val amm = Hll.alpha * m * m
    val rz = Hll.rankOfZero
    val sb = Hll.scaleBits
    val scaleLong = 1L << sb
    s"""WITH h AS (
       |  SELECT CAST(ts AS DATE) AS dt,
       |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, ${Hll.hexChars}) AS BIGINT) AS h
       |  FROM events),
       |rk AS (
       |  SELECT dt, CAST(h % $m AS INTEGER) AS j, h // $m AS w FROM h),
       |ranks AS (
       |  SELECT dt, j,
       |         CAST(CASE WHEN w = 0 THEN $rz ELSE $rz - LENGTH(bin(w)) END AS INTEGER) AS rank
       |  FROM rk),
       |regs AS (SELECT dt, j, MAX(rank) AS r FROM ranks GROUP BY dt, j),
       |agg AS (
       |  SELECT dt, SUM(1::BIGINT << ($sb - r)) AS s_present, COUNT(*) AS n_regs
       |  FROM regs GROUP BY dt),
       |fin AS (
       |  SELECT dt, CAST($m - n_regs AS INTEGER) AS v_zero,
       |         CAST(s_present + ($m - n_regs) * (1::BIGINT << $sb) AS BIGINT) AS s_scaled
       |  FROM agg)
       |SELECT dt, v_zero, s_scaled,
       |       round(CASE WHEN v_zero > 0 AND CAST($amm AS DOUBLE) * $scaleLong / s_scaled <= ${2.5 * m}
       |                  THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / v_zero)
       |                  ELSE CAST($amm AS DOUBLE) * $scaleLong / s_scaled END, 4) AS dau_hll
       |FROM fin""".stripMargin
  }

  /** q17's gaps-and-islands session derivation, shared with q26's
    * containment-join oracle so the two cannot drift. */
  private val sessionsCte =
    """marked AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   > INTERVAL 30 MINUTE OR
      |              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |islands AS (
      |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                                   ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM marked),
      |sessions AS (
      |  SELECT user_id, MIN(ts) AS session_start,
      |         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |         COUNT(*) AS n_events, MIN(event_id) AS first_event_id
      |  FROM islands GROUP BY user_id, session_no)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q26_event_session_join" ->
      s"""WITH $sessionsCte
         |SELECT e.user_id, e.event_id, e.ts, s.session_start
         |FROM events e JOIN sessions s
         |  ON e.user_id = s.user_id
         | AND e.ts >= s.session_start AND e.ts <= s.session_end""".stripMargin,
    // binSeconds is a plan dial with bin-width-invariant output — the
    // dial2 twin gates against the IDENTICAL containment-join oracle
    "q26_event_session_join_dial2" ->
      s"""WITH $sessionsCte
         |SELECT e.user_id, e.event_id, e.ts, s.session_start
         |FROM events e JOIN sessions s
         |  ON e.user_id = s.user_id
         | AND e.ts >= s.session_start AND e.ts <= s.session_end""".stripMargin,
    "q24_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS view_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS click_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS purchase_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
        |SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
        |       1 + CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS max_step
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin,
    "q25_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |fs AS (
        |  SELECT user_id, MIN(d) AS cohort_date FROM ud GROUP BY 1)
        |SELECT fs.cohort_date,
        |       CAST(DATEDIFF('day', fs.cohort_date, ud.d) AS INTEGER) AS day_offset,
        |       COUNT(*) AS n_users
        |FROM ud JOIN fs ON ud.user_id = fs.user_id
        |GROUP BY 1, 2""".stripMargin,
    // q31's oracle is the full recompute the incremental path must
    // reproduce: everything except post-cutoff cancelled ('P') orders
    "q31_delta_agg" ->
      """SELECT n_name AS province_name, COUNT(*) AS n_orders,
        |       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS amount
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT (o_orderstatus = 'P' AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n_name""".stripMargin,
    "q30_cdc_apply" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM ev)
        |SELECT user_id, ts AS last_ts, event_type AS last_event_type,
        |       value AS last_value, k AS last_k, CAST(n_ops AS BIGINT) AS n_ops
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    "q28_scd2_history" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS INTEGER) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n_total
        |  FROM events),
        |starts AS (SELECT * FROM marked WHERE prev IS NULL OR prev <> state)
        |SELECT user_id,
        |       CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
        |       state, ts AS valid_from,
        |       LEAD(ts) OVER w AS valid_to,
        |       CAST(COALESCE(LEAD(rn) OVER w, n_total + 1) - rn AS BIGINT) AS n_events,
        |       LEAD(ts) OVER w IS NULL AS is_current
        |FROM starts
        |WINDOW w AS (PARTITION BY user_id ORDER BY rn)""".stripMargin,
    // q32: the q28 history rebuilt as a CTE, then the as-of lookup with
    // the identical [valid_from, valid_to) predicate
    "q32_temporal_join" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS INTEGER) AS rn
        |  FROM events),
        |starts AS (SELECT * FROM marked WHERE prev IS NULL OR prev <> state),
        |hist AS (
        |  SELECT user_id,
        |         CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
        |         state, ts AS valid_from, LEAD(ts) OVER w AS valid_to
        |  FROM starts
        |  WINDOW w AS (PARTITION BY user_id ORDER BY rn))
        |SELECT e.event_id, e.user_id, e.ts, h.version, h.state
        |FROM events e JOIN hist h ON e.user_id = h.user_id
        | AND e.ts >= h.valid_from
        | AND (h.valid_to IS NULL OR e.ts < h.valid_to)""".stripMargin,
    "q29_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n_events,
        |         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
        |cal AS (
        |  SELECT user_id,
        |         CAST(UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
        |                                     CAST(d1 AS TIMESTAMP),
        |                                     INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM span)
        |SELECT c.user_id, c.d,
        |       COALESCE(dy.n_events, 0) AS n_events,
        |       COALESCE(dy.day_cents, 0) AS day_cents,
        |       dy.n_events IS NULL AS filled,
        |       last_value(CASE WHEN dy.n_events IS NOT NULL THEN c.d END IGNORE NULLS)
        |         OVER (PARTITION BY c.user_id ORDER BY c.d
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_active_day
        |FROM cal c LEFT JOIN daily dy ON c.user_id = dy.user_id AND c.d = dy.d""".stripMargin,
    "q22_dau_hll_portable" -> dauHllOracle,
    "q23_running_spend" ->
      """SELECT o_custkey AS customer_id, o_orderkey AS order_id,
        |       o_orderdate AS order_date, o_totalprice AS amount,
        |       SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |         OVER (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         / 100.0 AS lifetime_spend
        |FROM orders""".stripMargin,
    "q1_trademark_stat" ->
      """SELECT p_brand AS tm_name,
        |       SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT))/100.0 AS amount
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "q2_order_wide" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS order_detail_id,
        |       l_partkey AS sku_id, l_quantity AS sku_num,
        |       l_extendedprice AS order_price, o_totalprice AS final_total_amount,
        |       o_orderstatus AS order_status, o_custkey AS user_id,
        |       c_mktsegment AS user_segment, c_nationkey AS province_id,
        |       n_name AS province_name, p_name AS sku_name, p_brand AS tm_name,
        |       p_type AS category3_name, CAST(o_orderdate AS DATE) AS dt
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN part     ON l_partkey = p_partkey""".stripMargin,
    "q3_first_order" ->
      """SELECT o_orderkey AS order_id, o_custkey AS user_id,
        |       o_orderdate AS create_time,
        |       CASE WHEN ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
        |            THEN '1' ELSE '0' END AS if_first_order
        |FROM orders""".stripMargin,
    "q4_apportion" ->
      """WITH d AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS amt_c
        |  FROM lineitem),
        |j AS (
        |  SELECT d.*, CAST(ROUND(o_totalprice*100) AS BIGINT) AS total_c
        |  FROM d JOIN orders ON l_orderkey = o_orderkey),
        |w AS (
        |  SELECT *, SUM(amt_c) OVER (PARTITION BY l_orderkey) AS osum_c,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, amt_c, l_partkey) AS rn,
        |         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_rows
        |  FROM j),
        |p AS (SELECT *, (2 * total_c * amt_c + osum_c) // (2 * osum_c) AS prop_c FROM w),
        |s AS (SELECT *, SUM(prop_c) OVER (PARTITION BY l_orderkey) AS sumprop_c FROM p)
        |SELECT l_orderkey AS order_id, l_linenumber AS order_detail_id,
        |       CASE WHEN rn = n_rows
        |            THEN (total_c - (sumprop_c - prop_c))/100.0
        |            ELSE prop_c/100.0 END AS final_detail_amount
        |FROM s""".stripMargin,
    "q5_dau_dedup" ->
      """SELECT user_id, CAST(ts AS DATE) AS dt,
        |       MIN(event_id) AS first_event_id, COUNT(*) AS n_events
        |FROM events GROUP BY user_id, CAST(ts AS DATE)""".stripMargin,
    "q6_dau_stat" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr,
        |       COUNT(DISTINCT user_id) AS dau
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q7_router" ->
      """SELECT event_id, 'ods_' || event_type AS topic, user_id, value
        |FROM events
        |WHERE event_type IN ('click','view','purchase','signup')""".stripMargin,
    "q8_dim_enrich" ->
      """SELECT s_suppkey, s_name, n_name AS nation_name, r_name AS region_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q9_user_bucket" ->
      """SELECT c_custkey AS user_id,
        |       CASE WHEN c_acctbal < 1000.0 THEN 'low'
        |            WHEN c_acctbal > 5000.0 THEN 'high'
        |            ELSE 'mid' END AS balance_group,
        |       CASE WHEN c_mktsegment = 'BUILDING' THEN 'B' ELSE 'O' END AS segment_code
        |FROM customer""".stripMargin,
    "q10_province_stat" ->
      """SELECT n_name AS province_name, COUNT(*) AS order_count,
        |       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0 AS total_amount
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q11_status_filter" ->
      """SELECT o_orderkey AS order_id, o_custkey AS user_id,
        |       o_totalprice AS final_total_amount, o_orderpriority AS priority
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "q12_never_ordered" ->
      """SELECT c_custkey AS user_id, c_name AS user_name, c_mktsegment AS segment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q13_search_page" ->
      """SELECT p_partkey, p_name, p_brand, p_retailprice,
        |       REPLACE(p_name, 'a', '<em>a</em>') AS highlight
        |FROM part
        |WHERE p_name LIKE '%a%' AND p_size = 10
        |ORDER BY p_retailprice DESC, p_partkey
        |LIMIT 10 OFFSET 5""".stripMargin,
    "q14_top_orders_per_nation" ->
      """SELECT n_name AS province_name, rank, o_orderkey AS order_id,
        |       o_totalprice AS amount
        |FROM (
        |  SELECT n_name, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY n_name
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation   ON c_nationkey = n_nationkey)
        |WHERE rank <= 3""".stripMargin,
    "q15_region_rollup" ->
      """SELECT r_name AS region_name, n_name AS province_name,
        |       COUNT(*) AS order_count,
        |       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0 AS total_amount
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q27_grouping_sets" ->
      """SELECT r_name AS region_name, o_orderstatus AS order_status,
        |       CAST(GROUPING(r_name)*2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
        |       COUNT(*) AS order_count,
        |       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0 AS total_amount
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (o_orderstatus), ())""".stripMargin,
    "q17_sessionize" ->
      s"""WITH $sessionsCte
         |SELECT user_id, session_start, session_end, n_events,
         |       first_event_id
         |FROM sessions""".stripMargin,
    "q18_status_pivot" ->
      """SELECT n_name AS province_name,
        |       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) FILTER (WHERE o_orderstatus='F')/100.0 AS amount_f,
        |       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) FILTER (WHERE o_orderstatus='O')/100.0 AS amount_o,
        |       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) FILTER (WHERE o_orderstatus='P')/100.0 AS amount_p
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q19_order_percentiles" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |       ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        |       ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |       ROUND(quantile_cont(o_totalprice, 0.95), 2) AS p95
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q20_set_ops" ->
      """SELECT DISTINCT o_custkey AS user_id FROM orders WHERE o_orderstatus='F'
        |INTERSECT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O'
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='P'""".stripMargin,
    // q33: the identical deterministic sample (bottom-sampleK by md5
    // key per group) and the identical disc-percentile arithmetic over
    // integer cents — value-exact on both sides; gate-checked at the
    // default AND a second dial (the round-11 _dial2 convention)
    "q33_sampled_percentiles" -> sampledPercentilesSql(500),
    "q33_sampled_percentiles_dial2" -> sampledPercentilesSql(137),
  )

  private def sampledPercentilesSql(sampleK: Int): String =
    s"""WITH s AS (
       |  SELECT o_orderstatus, o_orderkey,
       |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
       |         md5(CAST(o_orderkey AS VARCHAR)) AS rk_key
       |  FROM orders),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
       |                               ORDER BY rk_key, o_orderkey) AS rk
       |  FROM s),
       |g AS (
       |  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_sample,
       |         list(c ORDER BY c) AS sorted
       |  FROM r WHERE rk <= $sampleK GROUP BY o_orderstatus)
       |SELECT o_orderstatus, n_sample,
       |       sorted[CAST(ceil(0.25 * n_sample) AS INTEGER)] / 100.0 AS p25,
       |       sorted[CAST(ceil(0.5 * n_sample) AS INTEGER)] / 100.0 AS p50,
       |       sorted[CAST(ceil(0.95 * n_sample) AS INTEGER)] / 100.0 AS p95
       |FROM g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_trademark_stat" -> trademarkStat,
    "q2_order_wide" -> orderWide,
    "q3_first_order" -> firstOrder,
    "q4_apportion" -> apportion,
    "q5_dau_dedup" -> dauDedup,
    "q6_dau_stat" -> dauStat,
    "q7_router" -> router,
    "q8_dim_enrich" -> dimEnrich,
    "q9_user_bucket" -> userBucket,
    "q10_province_stat" -> provinceStat,
    "q11_status_filter" -> statusFilter,
    "q12_never_ordered" -> neverOrdered,
    "q13_search_page" -> ((s, d) => searchPage(s, d)),
    "q14_top_orders_per_nation" -> topOrdersPerNation,
    "q15_region_rollup" -> regionRollup,
    "q16_dau_approx" -> dauApprox,
    "q22_dau_hll_portable" -> dauHllPortable,
    "q23_running_spend" -> runningSpend,
    "q17_sessionize" -> sessionize,
    "q26_event_session_join" -> ((s, d) => eventSessionJoin(s, d)),
    // bin-width-INVARIANCE twin: same oracle, non-grid-aligned bins
    "q26_event_session_join_dial2" ->
      ((s, d) => eventSessionJoin(s, d, binSeconds = 137L)),
    "q27_grouping_sets" -> groupingSetsStat,
    "q18_status_pivot" -> statusPivot,
    "q19_order_percentiles" -> orderPercentiles,
    "q20_set_ops" -> setOps,
    "q24_funnel" -> funnel,
    "q25_retention" -> retention,
    "q28_scd2_history" -> scd2History,
    "q29_gap_fill" -> gapFill,
    "q30_cdc_apply" -> cdcApply,
    "q31_delta_agg" -> ((s, d) => deltaAgg(s, d)),
    "q32_temporal_join" -> temporalJoin,
    "q33_sampled_percentiles" -> ((s, d) => sampledPercentiles(s, d)),
    "q33_sampled_percentiles_dial2" -> ((s, d) => sampledPercentiles(s, d, sampleK = 137)),
  )
}
