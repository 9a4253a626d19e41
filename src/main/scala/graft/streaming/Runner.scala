package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Binds the logical pipelines to physical sources/sinks.
  *
  * Production wiring is Kafka (`readStream.format("kafka")` →
  * `writeStream.format("kafka")` with a computed `topic` column for the
  * router fan-out — `util/MyKafkaSink.scala`'s dynamic topic, native).
  * This environment has no Kafka broker, so the file variants below bind
  * the same pipelines to parquet streams: source = file stream over a
  * directory, sink = parquet partitioned by the fan-out column. The
  * pipeline code is identical — only these edges differ; the swap is
  * pinned executable by [[KafkaEdge]] + KafkaContractSpec (wire schema,
  * adapters, option wiring, kafka-shaped MemoryStream parity).
  */
object Runner {

  /** CDC envelope schema (Maxwell-shaped, FIXTURES.md §1.3) with `data`
    * kept as a raw JSON string for per-table downstream parsing. */
  val cdcSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("table", StringType),
    StructField("data", StringType)))

  /** Canal CDC envelope schema (`ods/BaseDBCanalApp.scala:57-82`):
    * `data` is an ARRAY of row objects. Declaring the element type as
    * StringType makes Spark's JSON parser capture each row object as
    * its raw JSON text (same raw-capture trick the Maxwell schema uses
    * at top level) — exactly the per-row payload the reference
    * forwards. */
  val canalCdcSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("table", StringType),
    StructField("data", ArrayType(StringType))))

  /** Router over a MIXED Maxwell/Canal feed of raw JSON lines (a
    * `value` column, the Kafka wire shape). Each line is parsed under
    * both envelope schemas; the `data` SHAPE is the disambiguator —
    * Canal's array nulls out under the Maxwell schema's raw-capture
    * only for typed fields, so the Maxwell branch additionally requires
    * an OBJECT payload (`data` starting `{`), while the Canal branch's
    * array type rejects Maxwell objects on its own. (Op case alone is
    * not enough: Maxwell routes dims on ANY op, which would also match
    * an uppercase Canal `INSERT`.) Both branches are narrow; union of
    * narrow branches stays narrow. */
  def routeMixed(lines: DataFrame): DataFrame = {
    val maxwell = Pipelines.routeCdc(
      lines.select(from_json(col("value"), cdcSchema).as("e")).select("e.*")
        .filter(col("data").startsWith("{")))
    val canal = Pipelines.routeCanal(
      lines.select(from_json(col("value"), canalCdcSchema).as("e")).select("e.*"))
    maxwell.union(canal)
  }

  /** [[routeMixed]] plus a DEAD-LETTER lane: CDC feeds carry garbage in
    * practice (truncated messages, non-JSON heartbeats, envelopes with
    * missing fields), and the bare router drops those silently — at
    * production scale a silent drop is an unnoticed data loss. Lines
    * that are unparseable as JSON or lack the (type, table, data)
    * envelope under BOTH interpretations route to `dlqTopic` with their
    * raw payload intact, so they can be replayed after a fix. Lines the
    * router drops ON PURPOSE (non-whitelisted table, non-insert op on a
    * fact, empty data) are NOT dead letters — they parsed fine and
    * policy excluded them. Still one narrow pass (two from_json
    * branches + a predicate), no shuffle. */
  def routeMixedWithDeadLetter(lines: DataFrame,
                               dlqTopic: String = "dlq_cdc"): DataFrame = {
    val m = from_json(col("value"), cdcSchema)
    val c = from_json(col("value"), canalCdcSchema)
    // from_json yields null for unparseable input; field-level nulls
    // mean the envelope key was absent (or mistyped for BOTH shapes)
    val wellFormed = m.isNotNull &&
      m.getField("type").isNotNull && m.getField("table").isNotNull &&
      (m.getField("data").isNotNull || c.getField("data").isNotNull)
    val dead = lines.filter(!wellFormed)
      .select(lit(dlqTopic).as("topic"), col("value"))
    routeMixed(lines).union(dead)
  }

  val startLogSchema: StructType = StructType(Seq(
    StructField("ts", LongType),
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("uid", StringType),
      StructField("ar", StringType), StructField("ch", StringType),
      StructField("vc", StringType))))))

  /** Kafka-value JSON lines → typed start-log rows (P1/P4). */
  def parseStartLogs(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), startLogSchema).as("j"))
      .select(
        col("j.common.mid").as("mid"), col("j.common.uid").as("uid"),
        col("j.common.ar").as("ar"), col("j.common.ch").as("ch"),
        col("j.common.vc").as("vc"),
        timestamp_millis(col("j.ts")).as("ts"))

  /** DAU end-to-end on file edges: JSON-lines dir → dedup → daily-
    * partitioned parquet (ES daily index ≙ `dt=` partition, K2). */
  def dauQuery(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String): StreamingQuery = {
    // text source: each raw line lands in a `value` column — the same
    // shape a Kafka source's value has, and what parseStartLogs expects.
    // (A json reader with a value-only schema would look for a
    // top-level "value" FIELD and null out every fixture line.)
    val raw = spark.readStream.text(inDir)
    Pipelines.dauFirstVisits(parseStartLogs(raw))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .partitionBy("dt")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()
  }

  val orderInfoSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user_id", LongType),
    StructField("province_id", LongType), StructField("order_status", StringType),
    StructField("final_total_amount", DoubleType),
    StructField("original_total_amount", DoubleType),
    StructField("create_time", TimestampType)))

  val orderDetailSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("order_id", LongType),
    StructField("sku_id", LongType), StructField("sku_num", LongType),
    StructField("order_price", DoubleType),
    StructField("create_time", TimestampType)))

  /** CDC file stream → routed → typed order header/detail streams
    * (shared by the single- and multi-sink DWS queries). */
  private def parseOrderStreams(spark: SparkSession, cdcDir: String)
      : (Dataset[OrderInfo], Dataset[OrderDetail]) = {
    import spark.implicits._
    val routed = Pipelines.routeCdc(spark.readStream.schema(cdcSchema).json(cdcDir))
    val oi = routed.filter(col("topic") === "ods_order_info")
      .select(from_json(col("value"), orderInfoSchema).as("o"))
      .select("o.*").as[OrderInfo]
    val od = routed.filter(col("topic") === "ods_order_detail")
      .select(from_json(col("value"), orderDetailSchema).as("o"))
      .select("o.*").as[OrderDetail]
    (oi, od)
  }

  /** DWS order-wide on file edges: one CDC JSON-lines dir in → router →
    * typed parse → the fused order-wide join + apportionment
    * ([[Pipelines.orderWide]]) → parquet out (≙ OrderWideApp
    * end-to-end; the ClickHouse/Kafka sinks are this `writeStream` with
    * a different format string). */
  def orderWideQuery(spark: SparkSession, cdcDir: String, outDir: String,
                     checkpoint: String): StreamingQuery = {
    val (oi, od) = parseOrderStreams(spark, cdcDir)
    Pipelines.orderWide(oi, od)
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()
  }

  /** Multi-sink fan-out (the reference's cache-before-multi-sink,
    * `dwd/OrderInfoApp.scala:265` / `dws/OrderWideApp.scala:180`):
    * one DWS stream written to BOTH a detail sink and an aggregate sink
    * in a single `foreachBatch` — the batch is persisted once, written
    * twice, and both writes commit under the same checkpointed batchId
    * (idempotent on replay, the K5 exactly-once recipe without the
    * driver-side collect). */
  def orderWideMultiSinkQuery(spark: SparkSession, cdcDir: String, detailDir: String,
                              aggDir: String, checkpoint: String): StreamingQuery = {
    val (oi, od) = parseOrderStreams(spark, cdcDir)
    Pipelines.orderWide(oi, od)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[OrderWideSplit], batchId: Long) =>
        val cached = batch.persist()
        try {
          cached.write.mode("append").parquet(detailDir)      // ≙ ClickHouse K4
          cached.groupBy(col("order_id"))                      // ≙ ADS aggregate K5
            .agg(sum(col("final_detail_amount")).as("order_amount"),
              count(lit(1)).as("n_details"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(aggDir)
        } finally { cached.unpersist(); () }
      }
      .start()
  }

  /** ODS router on file edges: CDC JSON-lines → (topic, value) →
    * parquet partitioned by topic (≙ Kafka sink with computed topic). */
  def routerQuery(spark: SparkSession, inDir: String, outDir: String,
                  checkpoint: String): StreamingQuery =
    Pipelines.routeCdc(
      spark.readStream.schema(cdcSchema).json(inDir))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .partitionBy("topic")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()

  /** Streaming ANN INDEX MAINTENANCE — the write half of the index
    * lifecycle under continuous intake: a stream of (vec_id,
    * embedding) rows is encoded per micro-batch with the PINNED
    * build-time model (`modelDir` — the [[graft.operators.Similarity
    * .appendAnnIndex]] contract: the model ships with the index and
    * never silently retrains as the corpus grows) and landed
    * partitioned by (batch_id, cid) under write-scoped dynamic
    * partition OVERWRITE. The batch_id partition level is what buys
    * EXACTLY-ONCE: a replayed batch rewrites its own partitions
    * instead of appending duplicates — duplicate index rows are NOT
    * benign (a duplicated candidate occupies two rerank slots and can
    * displace a true neighbor). Cell-level partition pruning still
    * works on the second level: serving's `cid isin (...)` filter
    * prunes cid= subdirectories under every batch. A maintained index
    * is therefore a directory the stream ALONE writes — seed it by
    * feeding the base corpus as the first batch(es).
    *
    * The LSM merge policy is IN the loop (the `compactEverySegments`
    * contract, row-shaped): `compactEveryBatches` (0 = off) is the
    * batch-partition depth tolerated before the trigger folds every
    * COMMITTED batch into the `batch_id=-1` base
    * ([[graft.operators.Similarity.compactMaintainedAnnBatches]] —
    * one file per cid, crash-safe staged swap; a mid-swap crash is
    * self-healed at the next trigger or serve read). Without it the
    * loop lands one partition tree per trigger forever — ~17 k/day at
    * a 5 s trigger — and probed-cell reads fan out over thousands of
    * tiny files within days. The fold runs at the HEAD of the trigger
    * and always excludes the current batch id, so the replayed-batch-
    * rewrites-own-partition property holds for exactly the batches the
    * checkpoint can still replay (a crashed prior attempt's partition
    * is dropped by the swap and rewritten by the append that follows —
    * its rows replay from the source, not the index). Each fold
    * rewrites the whole base, so amortized fold cost is ~index size /
    * (compactEveryBatches − 2) per batch — size the threshold to the
    * trigger rate; ≤ 2 would fold (= rewrite the index) every batch
    * and is refused loudly. A serve racing the swap window of a
    * CONCURRENT fold can read a partial index — run serve and maintain
    * serialized on one index, the single-writer contract this layout
    * documents everywhere. */
  def annIndexMaintainQuery(spark: SparkSession, modelDir: String,
                            indexPath: String, vectorStream: DataFrame,
                            checkpoint: String,
                            nClusters: Int = 16, iters: Int = 2,
                            m: Int = 4, nCodes: Int = 16,
                            family: String = "pq",
                            compactEveryBatches: Int = 64): StreamingQuery = {
    requireFoldThreshold(compactEveryBatches, s"ANN index $indexPath")
    vectorStream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // first maintained batch CREATES the index _meta.json (the
        // appendDedupIndexBatch pattern); later batches and replays
        // must match it — a restarted stream with different dials
        // would silently encode against a different model
        graft.operators.Similarity
          .ensureAnnMeta(indexPath, family, nClusters, iters, m, nCodes)
        graft.sources.BatchFold.recover(spark, indexPath)
        if (compactEveryBatches > 0 &&
            graft.sources.BatchFold.batchDirCount(spark, indexPath)
              >= compactEveryBatches)
          graft.operators.Similarity
            .compactMaintainedAnnBatches(spark, indexPath, batchId)
        graft.operators.Similarity
          .encodeForIndex(spark, modelDir, batch, nClusters, iters, m, nCodes,
            family)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id", "cid").parquet(indexPath)
      }
      .start()
  }

  /** Refuse a fold threshold of 1 or 2 before the query starts: the
    * fold leaves base + current = 2 partitions, so such a threshold
    * would rewrite the whole `store` on every batch. 0 turns the fold
    * off. */
  private def requireFoldThreshold(compactEveryBatches: Int, store: String): Unit =
    require(compactEveryBatches == 0 || compactEveryBatches >= 3,
      s"compactEveryBatches ($compactEveryBatches) must be 0 (off) or >= 3: " +
        "the fold leaves base + current = 2 partitions, so a threshold of " +
        s"2 would rewrite the whole $store on every batch")

  /** Shared body of every at-rest MAINTAIN loop — pageRank edges,
    * component edges, CMS counters ran three near-identical
    * foreachBatch copies before this (drift risk once the third copy
    * landed): per NON-EMPTY micro-batch, (1) `prepare` (e.g. pin store
    * meta create-or-match), (2) [[graft.sources.BatchFold.recover]]
    * the store, (3) run `fold` when the live `batch_id=` partition
    * count reaches `compactEveryBatches` (always excluding the current
    * batch), (4) land `batchSlice(batch, batchId)` under
    * `batch_id=<id>` with dynamic partition overwrite — the K5
    * exactly-once layout: a replayed batch rewrites its own partition
    * — then (5) `afterWrite` (the derived-store recompute hook).
    *
    * Empty micro-batches skip the whole body: the store is unchanged
    * by an empty batch, the dynamic-overwrite write of a quiet
    * bootstrap trigger would leave a file-less store that kills the
    * next read inside foreachBatch, and skipping is also the cheap
    * path on replay. Single-writer per store, like every maintain
    * loop. */
  private def maintainLoop(spark: SparkSession, rows: DataFrame,
                           checkpoint: String, storeDir: String,
                           compactEveryBatches: Int,
                           fold: (SparkSession, String, Long) => Unit,
                           batchSlice: (DataFrame, Long) => DataFrame,
                           prepare: SparkSession => Unit = _ => (),
                           afterWrite: (SparkSession, Long) => Unit = (_, _) => ())
      : StreamingQuery = {
    requireFoldThreshold(compactEveryBatches, s"store $storeDir")
    rows
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          prepare(spark)
          graft.sources.BatchFold.recover(spark, storeDir)
          if (compactEveryBatches > 0 &&
              graft.sources.BatchFold.batchDirCount(spark, storeDir)
                >= compactEveryBatches)
            fold(spark, storeDir, batchId)
          batchSlice(batch, batchId)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(storeDir)
          afterWrite(spark, batchId)
        }
      }
      .start()
  }

  /** Recompute-cadence gate for the graph maintain loops: edges land
    * EVERY batch; the derived store (`ranks/`, `labels/`) refreshes
    * only when `batchId % every == 0` — keyed on the batch id, so a
    * replayed batch makes exactly the decision it made the first time
    * (replay-idempotent by construction, like the batch_id partition
    * layout) — or when the derived store has no parquet yet (a stream
    * whose first non-empty batch falls off the cadence must still
    * bootstrap a readable store). Between recompute triggers the
    * derived store keeps its previous content, stamped with the
    * PRODUCING batch id, so the staleness is observable, not silent. */
  private def onCadence(outDir: String, every: Int)(
      recompute: (SparkSession, Long) => Unit): (SparkSession, Long) => Unit =
    (spark, batchId) =>
      if (batchId % every == 0 || !hasParquet(spark, outDir))
        recompute(spark, batchId)

  private def hasParquet(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** Streaming maintenance of a GRAPH-ANALYTICS store — the
    * [[annIndexMaintainQuery]] lifecycle pattern applied to
    * [[graft.operators.GraphOps.pageRank]]: a stream of (src, dst)
    * transitions (from [[Pipelines.transitionStream]] or any edge
    * feed) lands per-batch edge COUNTS under `edges/batch_id=` —
    * dynamic partition overwrite, so a replayed batch rewrites its own
    * partition (K5 exactly-once, bought by layout) and counts stay
    * additive — then recomputes PageRank over the maintained totals
    * and overwrites `ranks/` (small: one row per node; stamped with
    * the producing batch id for observability). The in-loop fold is
    * the SAME round-15 `BatchFold` contract as the IVF and dedup
    * loops ([[graft.operators.GraphOps.foldMaintainedEdges]] — counts
    * are additive, so the base is one per-(src, dst) summed file),
    * run at trigger head, always excluding the current batch.
    *
    * Per-trigger cost: the rank recompute is `iters` joins over the
    * CURRENT edge totals — right for bounded node sets (event types,
    * domains, hosts) at the default `recomputeEveryBatches = 1`; for
    * web-scale graphs set the cadence > 1: edges still land (and fold)
    * on every batch, ranks refresh on every `recomputeEveryBatches`-th
    * batch id (plus a bootstrap recompute if the first landing batch
    * falls off the cadence), and the `batch_id` stamp on `ranks/`
    * names the producing batch, so staleness between recompute
    * triggers is observable. Single-writer per store, like every
    * maintain loop. */
  def pageRankMaintainQuery(spark: SparkSession, graphDir: String,
                            transitions: DataFrame, checkpoint: String,
                            iters: Int = 10, damping: Double = 0.85,
                            compactEveryBatches: Int = 64,
                            recomputeEveryBatches: Int = 1): StreamingQuery = {
    require(recomputeEveryBatches >= 1,
      s"recomputeEveryBatches ($recomputeEveryBatches) must be >= 1")
    val edgesDir = s"$graphDir/edges"
    val ranksDir = s"$graphDir/ranks"
    maintainLoop(spark, transitions, checkpoint, edgesDir, compactEveryBatches,
      fold = (s, d, b) =>
        { graft.operators.GraphOps.foldMaintainedEdges(s, d, b); () },
      batchSlice = (batch, _) => batch.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("long").as("w")),
      afterWrite = onCadence(ranksDir, recomputeEveryBatches) { (s, batchId) =>
        graft.operators.GraphOps
          .pageRank(graft.operators.GraphOps.maintainedEdges(s, edgesDir),
            iters, damping)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(ranksDir)
      })
  }

  /** Streaming maintenance of CONNECTED COMPONENTS — the graph
    * family's second maintain loop, [[pageRankMaintainQuery]] with the
    * recompute swapped: a stream of (src, dst) pairs (an edge feed —
    * collocation bigrams, near-dup candidate pairs, any undirected
    * relation) lands per-batch edge COUNTS under `edges/batch_id=`
    * (dynamic overwrite — K5 exactly-once bought by layout; the
    * identical store layout, fold, and read-side merge as the PageRank
    * loop, so one maintained edge store can serve BOTH recomputes),
    * then recomputes min-label components over the maintained totals
    * ([[graft.operators.GraphOps.minLabelComponents]] — weights don't
    * affect membership, so duplicate deliveries of a pair move `w` but
    * never a label) and overwrites `labels/`, stamped with the
    * producing batch id. Empty micro-batches skip the body (the
    * pageRank loop's bootstrap guard — a quiet first trigger must not
    * leave a file-less store that kills the read inside foreachBatch).
    *
    * Per-trigger cost: `maxIters` dst-keyed shuffles over the CURRENT
    * edge totals (component diameter bounds the needed depth; the loop
    * early-stops when no label moves). Right for vocabulary-bounded
    * graphs (token collocations, hosts, event types) at the default
    * `recomputeEveryBatches = 1`; web-scale graphs set the cadence
    * > 1 — edges land (and fold) every batch, labels refresh on every
    * `recomputeEveryBatches`-th batch id (plus a bootstrap recompute
    * if the first landing batch falls off the cadence), and the
    * `batch_id` stamp on `labels/` names the producing batch.
    * Single-writer per store, like every maintain loop. */
  def componentsMaintainQuery(spark: SparkSession, graphDir: String,
                              pairs: DataFrame, checkpoint: String,
                              maxIters: Int = 8,
                              compactEveryBatches: Int = 64,
                              recomputeEveryBatches: Int = 1): StreamingQuery = {
    require(maxIters >= 1)
    require(recomputeEveryBatches >= 1,
      s"recomputeEveryBatches ($recomputeEveryBatches) must be >= 1")
    val edgesDir = s"$graphDir/edges"
    val labelsDir = s"$graphDir/labels"
    maintainLoop(spark, pairs, checkpoint, edgesDir, compactEveryBatches,
      fold = (s, d, b) =>
        { graft.operators.GraphOps.foldMaintainedEdges(s, d, b); () },
      batchSlice = (batch, _) => batch.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("long").as("w")),
      afterWrite = onCadence(labelsDir, recomputeEveryBatches) { (s, batchId) =>
        graft.operators.GraphOps
          .minLabelComponents(
            graft.operators.GraphOps.maintainedEdges(s, edgesDir),
            maxIters)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(labelsDir)
      })
  }

  /** Streaming maintenance of an at-rest COUNT-MIN SKETCH store — the
    * deployment twin of [[Pipelines.cmsSketchStream]]'s in-session
    * state, completing the bounded-state frequency service: each
    * micro-batch of documents lands its OWN sketch (the identical
    * `TextOps.cmsSketchOn` plan batch t34 runs) under a `batch_id=`
    * partition — dynamic overwrite, so a replayed batch rewrites its
    * own partition (K5 exactly-once, bought by layout) — and counters
    * stay additive across partitions: the serve-side read
    * ([[graft.operators.TextOps.maintainedCms]]) is the per-(r,
    * bucket) sum, ≤ depth × width rows however long the stream runs.
    * The in-loop fold is the round-15 BatchFold contract applied to
    * (r, bucket, c) ([[graft.operators.TextOps.foldMaintainedCms]] —
    * the [[pageRankMaintainQuery]] edge-fold shape), so the store's
    * file count stays bounded too; `_meta.json` pins (depth, width)
    * create-or-match, because summing sketches built under different
    * dials is silent corruption. Empty micro-batches skip the body
    * (nothing to add; keeps a quiet bootstrap trigger from writing a
    * file-less store). */
  def cmsMaintainQuery(spark: SparkSession, cmsDir: String,
                       docs: DataFrame, checkpoint: String,
                       depth: Int = 4, width: Int = 512,
                       compactEveryBatches: Int = 64): StreamingQuery = {
    // refuse a degenerate dial BEFORE the meta is written and the
    // stream starts — width 0 would otherwise be pinned into _meta.json
    // and die only at runtime inside foreachBatch (pmod by 0), leaving
    // an unusable store behind (ADVICE r16)
    require(depth >= 1 && width >= 1, s"degenerate CMS: $depth x $width")
    maintainLoop(spark, docs, checkpoint, cmsDir, compactEveryBatches,
      fold = (s, d, b) =>
        { graft.operators.TextOps.foldMaintainedCms(s, d, b); () },
      batchSlice = (batch, _) =>
        graft.operators.TextOps.cmsSketchOn(batch, depth, width),
      prepare = _ => graft.operators.TextOps.ensureCmsMeta(cmsDir, depth, width))
  }

  /** Streaming maintenance of a SHARDED HNSW index — the graph
    * family's [[annIndexMaintainQuery]]: each micro-batch of (vec_id,
    * embedding) rows inserts into the at-rest sharded graph via
    * [[graft.operators.Hnsw.appendHnswIndexShardedBatch]]. The first
    * batch CREATES `_meta.json` (create-or-match — a restarted stream
    * passing different dials refuses loudly, because inserting with
    * different (m, efConstruction) than the base graph silently
    * changes recall) and `graph/` itself (no offline seed build
    * needed). Exactly-once here falls out of the append's DIFF-driven
    * idempotence rather than batch_id partitions: an already-indexed
    * vec_id left-antis away, so a replayed batch appends 0 and writes
    * nothing — the decision the batch_id layout buys for row-shaped
    * indexes, bought structurally for a graph-shaped one (whose rows
    * REWIRE existing shards rather than append alongside them, so
    * partition-per-batch cannot express it). Only routed shards
    * rewrite per batch, so untouched shard graphs stay
    * executor-resident across batches (ShardGraphCache) — arriving
    * vectors keep the SERVING tier warm while the index grows; when
    * growth pushes per-shard size past the recall rung it was tuned
    * for, [[graft.operators.Hnsw.reshardHnswIndexSharded]] re-balances
    * (the SCALE.md 1e7-rung contract: hold shard size, scale
    * nShards).
    *
    * `segmented` (the default) picks the LSM shape
    * ([[graft.operators.Hnsw.appendHnswIndexSegment]]): each batch
    * lands as its own small `shard=` partition and NOTHING existing
    * is rewritten — under uniform vec_id arrivals the routed append
    * touches every shard every batch (a whole-index rewrite per
    * trigger), so per-batch cost there is index-sized while the
    * segment path's is batch-sized. The trade is fan-out growth (one
    * more graph walked per batch) until `reshardHnswIndexSharded`
    * compacts the segments back into the balanced id-modulo layout.
    * That merge policy is IN the loop: `compactEverySegments` (0 =
    * off) is the LSM depth tolerated before the maintain loop folds
    * the index back itself — when the post-append count of populated
    * `shard=` partitions reaches it, the batch ends with
    * [[graft.operators.Hnsw.reshardHnswIndexSharded]] at the pinned
    * `nShards` (one distributed rebuild from the index's own level-0;
    * no corpus read; the id-bloom sidecar carries over). Serve drift
    * stays bounded at ~`compactEverySegments` × the measured
    * +6 ms/segment instead of growing forever. The threshold MUST sit
    * above `nShards` (validated loudly): the fold lands exactly
    * `nShards` populated partitions and the next non-empty batch makes
    * it `nShards + 1`, so any setting in (0, nShards] keeps the count
    * permanently at/over the threshold and the loop would run a FULL
    * distributed rebuild every trigger — the fresh segment dir defeats
    * the reshard's layout no-op, so this is not a wasted listing but a
    * whole-index rewrite per batch. A crash between append and fold
    * retries the fold on the next batch (the count is still over); a
    * replayed batch appends 0 and at most re-runs the idempotent,
    * id-set-preserving fold. Set `segmented = false` only when
    * arrivals are id-range-skewed enough that batches touch few
    * shards. */
  def hnswMaintainQuery(spark: SparkSession, indexPath: String,
                        vectorStream: DataFrame, checkpoint: String,
                        m: Int = 8, efConstruction: Int = 96,
                        nShards: Int = 4,
                        segmented: Boolean = true,
                        compactEverySegments: Int = 64): StreamingQuery = {
    require(compactEverySegments == 0 || compactEverySegments > nShards,
      s"compactEverySegments ($compactEverySegments) must be 0 (off) or " +
        s"> nShards ($nShards): the fold lands nShards partitions and every " +
        "non-empty batch adds one, so a threshold <= nShards would trigger a " +
        "full distributed index rebuild on every batch")
    vectorStream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Hnsw.ensureShardedMeta(indexPath, m, efConstruction,
          nShards)
        if (segmented) {
          graft.operators.Hnsw.appendHnswIndexSegment(spark, indexPath, batch)
          if (compactEverySegments > 0 &&
              graft.operators.Hnsw.shardPartitionCount(spark, indexPath)
                >= compactEverySegments)
            graft.operators.Hnsw.reshardHnswIndexSharded(spark, indexPath,
              nShards)
        } else
          graft.operators.Hnsw.appendHnswIndexShardedBatch(spark, indexPath, batch)
        ()
      }
      .start()
  }

  /** ONLINE serving of a sharded HNSW index — the deployment a vector
    * store actually runs: a stream of (query_id, embedding) queries
    * answered per micro-batch from the at-rest index via
    * [[graft.operators.Hnsw.annHnswServeShardedQueries]], each
    * batch's (query_id, rank, neighbor_id, cos) answers landing
    * partitioned by `batch_id` under write-scoped dynamic partition
    * overwrite (the K5 idempotent sink — a replayed batch rewrites
    * its own partition). Query ids SHARE THE INDEX'S ID SPACE (the
    * annHnswServeShardedQueries contract): a query whose id collides
    * with an indexed vec_id loses exactly that vector as a candidate
    * (the self-match drop) — callers with an external id space must
    * remap (e.g. negate) before feeding the stream; duplicate
    * query_id rows within one batch collapse to one. Stateless per
    * batch: all state is the
    * at-rest index, and the shard graphs stay EXECUTOR-RESIDENT
    * across batches ([[graft.operators.Hnsw.ShardGraphCache]] —
    * repeat batches reload nothing until a maintain append rewrites a
    * shard, whose new content stamp invalidates exactly that shard's
    * residency). Composes with a concurrent [[hnswMaintainQuery]] in
    * its SEGMENTED default on the same index: segments only ADD
    * `shard=` partitions, so a serve batch's driver-side listing is a
    * consistent (at worst one-segment-stale) view and every listed
    * shard's content matches its stamp. Two caveats, both LOUD and
    * recoverable, never wrong answers: (1) the maintain loop's
    * auto-compaction swaps the whole layout (staged write → rename
    * aside → rename in — two namespace ops; round 15 removed the
    * O(index files) delete from the window) — a serve batch that
    * lists or reads inside that
    * millisecond window fails its trigger; the restarted query resumes
    * from its checkpoint and the K5 sink rewrites the failed batch's
    * own partition idempotently. (2) the routed maintain mode REWRITES
    * shards in place — run serve and routed maintain serialized in one
    * foreachBatch loop rather than as two concurrent queries, or a
    * serve that lists between a rewrite's commit and its own reads can
    * cache torn content under a stale stamp. A wait-free composition
    * needs a versioned layout (manifest-pointer swap), which this
    * layout deliberately avoids — one directory, self-describing. */
  def hnswServeQuery(spark: SparkSession, indexPath: String,
                     queryStream: DataFrame, outDir: String,
                     checkpoint: String, k: Int = 5,
                     efSearch: Int = 64): StreamingQuery =
    queryStream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Hnsw
          .annHnswServeShardedQueries(spark, indexPath, batch,
            k = k, efSearch = efSearch)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }
      .start()

  /** Streaming QUALITY-CLASSIFIER scoring — the stream-side deployment
    * of t29's NB filter (the shape a crawl-intake pipeline runs: train
    * the classifier offline on the curated seeds, score every arriving
    * document online): the model is derived ONCE from `dir`'s seed
    * classes and persisted across micro-batches; each batch of
    * (doc_id, text) rows is scored STATELESSLY against the broadcast
    * model ([[graft.operators.TextOps.nbScoreOf]] — shared with the
    * batch gate query, so stream and batch values cannot drift), and
    * answers land partitioned by `batch_id` under write-scoped dynamic
    * partition overwrite (the K5 idempotent-sink recipe: a replayed
    * batch rewrites its own partition). No cross-batch state — every
    * doc is scored whole within its batch. The model's driver-built
    * log-odds table ([[graft.operators.TextOps.NbTable]]) is built in
    * the first micro-batch and lives as long as the query's closure
    * (vocab-bounded — tiny next to any corpus). */
  def nbScoreQuery(spark: SparkSession, dir: String, docStream: DataFrame,
                   outDir: String, checkpoint: String,
                   posSource: String = "src0",
                   negSource: String = "src1"): StreamingQuery = {
    import graft.operators.TextOps
    // built in the first micro-batch, held by this query's closure
    lazy val table = TextOps.nbTable(TextOps.nbModel(spark, dir, posSource, negSource))
    docStream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TextOps.nbScoreOf(batch, table)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }
      .start()
  }

  /** The FULL streaming intake-dedup loop on a STREAM-MAINTAINED
    * index: per micro-batch, (1) probe the arriving documents against
    * everything accepted so far (the [[graft.operators.Dedup
    * .dedupServeBatch]] probe), (2) write each doc's keep/drop DECISION
    * (dup docs carry their best indexed match), (3) append ONLY the
    * accepted documents' banded rows + shingles into the index — so
    * later batches dedup against them. Each batch is hashed and banded
    * ONCE, and the probe, the intra-batch LSH, the decisions and the
    * append read those two persisted relations (the
    * [[maintainedIntakeQuery]] body, shared with [[curateIntakeQuery]],
    * which also says why the accepted set is read back from the
    * written decisions). A restart whose dials differ from the index's
    * `_meta.json` is refused before anything is written. Exactly-once
    * on BOTH sinks by the annIndexMaintainQuery recipe: decisions
    * partition by `batch_id`; index rows land under (batch_id, shard) /
    * (batch_id) dynamic partition overwrite, so a replayed batch
    * rewrites its own partitions instead of appending duplicates. At
    * the default `shards` ([[graft.operators.Dedup.maintainedShards]],
    * one) a batch's buckets are one `batch_id=B/shard=0` file: a
    * micro-batch's buckets cover every shard of a wider index, so more
    * shards would prune nothing. An index written with 64 shards
    * resumes only with `shards = 64`.
    *
    * Like a maintained ANN index, the index directory is one the
    * stream ALONE writes (partition-discovery depth must be uniform —
    * a [[graft.operators.Dedup.writeDedupIndex]] layout cannot be
    * mixed in); seed it by feeding the base corpus as the first
    * batch(es). Intra-batch duplicates: the FIRST occurrence (lowest
    * doc_id) is accepted, later ones are dropped as duplicates of it —
    * the batch's own LSH pass scoped batch-local.
    *
    * The LSM merge policy is IN the loop (`compactEveryBatches`,
    * 0 = off — the annIndexMaintainQuery contract): when the buckets
    * relation's `batch_id=` partition count crosses the threshold, the
    * trigger folds every COMMITTED batch of BOTH relations into their
    * `batch_id=-1` bases ([[graft.operators.Dedup
    * .compactDedupIndexBatches]] — buckets back to one file per shard,
    * shingles back to one range-clustered run) BEFORE probing, always
    * excluding the current batch id so a replayed in-flight batch
    * still rewrites its own partitions. A long-running crawl otherwise
    * accretes one file per batch per shard forever — and file
    * count is exactly what this index's probe latency is sensitive to
    * (round 9: 5.74 → 1.24 s on a 16× cut). Fold cost is an
    * index-sized rewrite every `compactEveryBatches − 2` batches;
    * ≤ 2 would rewrite per trigger and is refused. */
  def dedupIntakeQuery(spark: SparkSession, indexPath: String,
                       docStream: DataFrame, decisionsDir: String,
                       checkpoint: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shards: Int = graft.operators.Dedup.maintainedShards,
                       minJ: Double = graft.operators.Dedup.lshMinJ,
                       compactEveryBatches: Int = 64): StreamingQuery =
    maintainedIntakeQuery(spark, indexPath, docStream, decisionsDir, checkpoint,
      numHashes, bands, shards, minJ, compactEveryBatches)(
      batch => graft.operators.Dedup.hashedOf(batch)
        .withColumn("stage_reason", lit(null).cast("string")),
      rows => rows.select(col("doc_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNull.as("accepted")))

  /** The FULL streaming CURATION intake — the crawl-intake deployment
    * of curateLlm's decision stages, per micro-batch of (doc_id, text):
    *
    *   1. rule filter (t10, [[graft.operators.TextOps.filterReason]] —
    *      the rules of the batch gate query);
    *   2. trained NB quality classifier (t29, the
    *      [[graft.operators.TextOps.NbTable]] lookup the batch
    *      `nbScoreOf` scores with);
    *   3. benchmark decontamination (t12, the eval-gram
    *      [[graft.operators.TextOps.GramSet]] lookup `decontaminateOn`
    *      uses);
    *   4. near-dup check against everything ACCEPTED so far (the
    *      [[dedupIntakeQuery]] machinery: maintained LSH index +
    *      intra-batch first-wins; an intra-batch hit only counts when
    *      its earlier partner survived stages 1–3 — a near-dup of a
    *      rejected doc is judged on its own merits).
    *
    * Each doc gets ONE decision row: `accepted`, or the FIRST failing
    * stage as `drop_reason` (too_short / repetitive / stopword_heavy /
    * classifier / contaminated / duplicate — the production pipeline
    * order), with `dup_of`/`jaccard` when the reason is duplicate.
    * Decisions land by `batch_id`; ONLY accepted docs' banded rows +
    * shingles append to the index ((batch_id, shard) dynamic
    * overwrite; one `shard=0` bucket file per batch at the default
    * `shards`, as [[dedupIntakeQuery]] explains) — both sinks
    * exactly-once under replay. The maintained index folds in-loop
    * past `compactEveryBatches` exactly as [[dedupIntakeQuery]]
    * documents (same machinery, same exclusion of the in-flight batch).
    *
    * Verdict pass: stages 1–3 are ONE projection over one token array
    * per row, which also hashes the doc's shingles — the per-document
    * relation (doc_id, stage_reason, sh_hashes, n_sh) that the
    * [[maintainedIntakeQuery]] body persists once per batch. The NB
    * log-odds table and the eval-gram set are built on the driver in
    * the query's FIRST micro-batch (so their cost is the stream's, not
    * the caller's) and live as long as the query's closure; they are
    * broadcast once, and nothing is persisted for them. */
  def curateIntakeQuery(spark: SparkSession, dir: String, indexPath: String,
                        docStream: DataFrame, decisionsDir: String,
                        checkpoint: String, evalN: Long = 50,
                        numHashes: Int = 64, bands: Int = 16,
                        shards: Int = graft.operators.Dedup.maintainedShards,
                        minJ: Double = graft.operators.Dedup.lshMinJ,
                        compactEveryBatches: Int = 64): StreamingQuery = {
    import graft.operators.{Dedup, TextOps}
    lazy val tables = {
      val docs = graft.Tables.documents(spark, dir)
      (TextOps.nbTable(TextOps.nbModelOn(docs)), TextOps.evalGramSet(docs, evalN))
    }
    maintainedIntakeQuery(spark, indexPath, docStream, decisionsDir, checkpoint,
      numHashes, bands, shards, minJ, compactEveryBatches)(
      batch => {
        val (nb, evalGrams) = tables
        val toks = col("toks")
        batch.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            // coalesce stops at the first failing stage: a doc the rules
            // drop is never scored or gram-matched
            coalesce(TextOps.filterReason(toks),
              when(!nb.keep(toks), "classifier"),
              when(evalGrams.matched(toks) > 0, "contaminated")).as("stage_reason"),
            Dedup.shingleHashes(toks).as("sh_hashes"))
          .withColumn("n_sh", size(col("sh_hashes")))
      },
      rows => rows
        .withColumn("drop_reason",
          coalesce(col("stage_reason"), when(col("dup_of").isNotNull, "duplicate")))
        .select(col("doc_id"), col("drop_reason").isNull.as("accepted"),
          col("drop_reason"),
          // dup details only when duplicate IS the verdict
          when(col("drop_reason") === "duplicate", col("dup_of")).as("dup_of"),
          when(col("drop_reason") === "duplicate", col("jaccard")).as("jaccard")))
  }

  /** The body both maintained-index intakes share. Per micro-batch:
    *
    *   1. refuse a dial mismatch against the index's `_meta.json`
    *      (or create it on the first batch) — before the fold and
    *      before any write, so a refused restart leaves nothing behind;
    *   2. finish a crashed fold, and fold past `compactEveryBatches`;
    *   3. `judge` the batch into ONE per-document relation
    *      (doc_id, stage_reason, sh_hashes, n_sh) and band it once;
    *      both are persisted, and the index probe, the intra-batch LSH
    *      ([[graft.operators.Dedup.intakeHitsOf]]), the decisions and
    *      the index append all read them;
    *   4. write each doc's decision (`decide` over
    *      (doc_id, stage_reason, dup_of, jaccard), the best match per
    *      doc: highest J, then lowest match id);
    *   5. append the accepted docs, read back from the decisions just
    *      written.
    *
    * Why step 5 reads the decisions back: the bucket write makes Spark
    * re-cache every persisted plan over the index path (its
    * `recacheByPath`), so an accepted set taken from a persisted
    * decisions relation would be recomputed against an index that
    * already holds this batch's buckets. The written partition is read
    * with the schema in its footer, so the read-back runs no job. */
  private def maintainedIntakeQuery(spark: SparkSession, indexPath: String,
                                    docStream: DataFrame, decisionsDir: String,
                                    checkpoint: String, numHashes: Int,
                                    bands: Int, shards: Int, minJ: Double,
                                    compactEveryBatches: Int)(
      judge: DataFrame => DataFrame,
      decide: DataFrame => DataFrame): StreamingQuery = {
    import graft.operators.Dedup
    requireFoldThreshold(compactEveryBatches, s"dedup index $indexPath")
    docStream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Dedup.ensureMaintainedDials(indexPath, numHashes, bands, shards)
        Dedup.recoverDedupIndexFolds(spark, indexPath)
        if (compactEveryBatches > 0 &&
            graft.sources.BatchFold
              .batchDirCount(spark, s"$indexPath/buckets")
              >= compactEveryBatches)
          Dedup.compactDedupIndexBatches(spark, indexPath, batchId)
        val judged = judge(batch).persist()
        try {
          // a shingle-less doc shares nothing (its Jaccard is 0/0)
          val hashed = judged.filter(col("n_sh") > 0)
          val banded = Dedup.bandedOf(hashed, numHashes, bands, shards).persist()
          try {
            val best = Dedup.intakeHitsOf(spark, indexPath, hashed, banded,
                hashed.filter(col("stage_reason").isNull),
                Dedup.shardSetOf(banded, shards), minJ)
              .groupBy(col("query_id"))
              .agg(max_by(struct(col("match_id"), col("jaccard")),
                struct(col("jaccard"), (-col("match_id")).as("neg"))).as("m"))
              .select(col("query_id").as("doc_id"),
                col("m.match_id").as("dup_of"), col("m.jaccard").as("jaccard"))
            decide(judged.select(col("doc_id"), col("stage_reason"))
                .join(best, Seq("doc_id"), "left"))
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(decisionsDir)
            // an empty micro-batch writes no partition and accepts nothing
            val written = new org.apache.hadoop.fs.Path(s"$decisionsDir/batch_id=$batchId")
            if (written.getFileSystem(spark.sessionState.newHadoopConf()).exists(written)) {
              val accepted = graft.sources.Layout.readParquet(spark, written.toString)
                .filter(col("accepted")).select(col("doc_id"))
              Dedup.appendHashedBatch(spark, indexPath,
                judged.join(accepted, Seq("doc_id"), "left_semi"),
                banded.join(accepted, Seq("doc_id"), "left_semi"), batchId)
            }
          } finally banded.unpersist(blocking = false)
        } finally judged.unpersist(blocking = false)
      }
      .start()
  }

  /** Online ANN serving: a STREAM of (query_id, q_emb) answered per
    * micro-batch against the at-rest IVF×PQ index
    * (`Similarity.writeAnnIndex` output) — the online half of the
    * FAISS train-offline/search-online deployment split, on Spark's
    * own micro-batch runtime. Each batch routes its queries to their
    * probed cells, and THAT BATCH's cell set becomes the static
    * partition filter on the index read (the annIvfPqServe pruning,
    * re-derived per batch), so a trigger touches only the index files
    * its queries probe. Answers land as parquet partitioned by
    * `batch_id` with dynamic partition OVERWRITE — a replayed batch
    * rewrites its own partition instead of duplicating it (the K5
    * idempotent-sink recipe, partition-keyed). Model training is
    * memoized across batches (the serving session trains once — in
    * production the model ships with the index). */
  def annServeQuery(spark: SparkSession, dir: String, indexPath: String,
                    queryStream: DataFrame, outDir: String, checkpoint: String,
                    k: Int = 5, nprobe: Int = 4, rerank: Int = 64): StreamingQuery =
    queryStream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // overwrite mode scoped to THIS write via the writer option —
        // a session-conf flip would leak 'dynamic' to any concurrent
        // partitioned write during the micro-batch (and race on restore)
        graft.operators.Similarity
          .annIvfPqServeQueries(spark, dir, indexPath, batch,
            k = k, nprobe = nprobe, rerank = rerank)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
      }
      .start()
}
