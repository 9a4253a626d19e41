package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet corpus (TESTDATA.md) plus
  * shared money-arithmetic helpers.
  *
  * Money semantics follow the reference (`bean/OrderInfo.scala:6-28`:
  * Double dollars, `Math.round(x*100)/100d` cents rounding —
  * `dws/OrderWideApp.scala:162-164`). To make results reproducible across
  * engines (Spark vs the DuckDB oracle) we do money math in integer
  * *cents* (Long): deterministic, associative, overflow-safe at 100 TB
  * (max order ~5e7 cents × 1e9 rows still < 2^63 when summed as Long).
  */
object Tables {
  /** (total bytes, data-file count) per path, memoized — one FileSystem
    * listing per table per JVM; load() is called by every builder.
    * ASSUMES an immutable corpus: a path rewritten in place mid-JVM
    * keeps its stale stats (and thus its fan-out routing). That only
    * affects ROUTING, never results; the maintained stores write to
    * fresh paths, so no current caller rewrites in place. It stays
    * outside [[StampedMemo]] on purpose: a content stamp is the very
    * file listing this memo exists to save. */
  private val scanStats = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Below this input size the fan-out is skipped outright: tiny dim
    * tables (nation/region/supplier) are broadcast-join sides whose
    * scans finish in ms — an exchange would be pure per-query stage
    * overhead. Override with -Dgraft.fanout.minBytes=N (0 disables the
    * floor, Long.MaxValue disables fan-out entirely). */
  private val fanOutMinBytes: Long =
    java.lang.Long.getLong("graft.fanout.minBytes", 256L << 10)

  /** Fan a small scan out to the session's parallelism — applied by the
    * MEASURED map-heavy operators only (gram-explode text family, pHash
    * encode, ADC mining), never blanket: the gate corpus ships each
    * table as ONE single-row-group parquet file, so every map-side
    * stage downstream otherwise runs as ONE task regardless of core
    * count — parquet cannot split inside a row group, and
    * `maxPartitionBytes` never sees a second split for a small file
    * (opt guide §2.5 "input skew: one huge unsplittable file", §6
    * input split sizing). A blanket fan-out in load() was measured a
    * NET LOSS: the exchange + AQE stage barrier costs ~0.2-0.9 s per
    * query, which only per-row-CPU-heavy pipelines amortize (bench A/B
    * r18: t30 ×1.7, t31 ×2.4, m3 ×2.4, v13 ×1.9 faster — but q1/q20/
    * q24/v2/v4/v8 each ~0.2-0.9 s slower), so the heavy operators opt
    * in at their corpus read.
    *
    * Mechanics: the decision is pure file-metadata arithmetic (no
    * probe job): estimated scan splits = max(file count, bytes /
    * maxPartitionBytes); a scan that already yields >=
    * defaultParallelism splits — any real multi-file corpus, and
    * anything at production scale — is returned untouched, so the
    * fan-out is scale-adaptive, not a local-mode constant. The
    * exchange hash-partitions on the table's primary id (round-robin
    * repartition(n) pays a sortBeforeRepartition local sort over the
    * whole single input partition — measured as most of the exchange
    * cost); filters and column pruning push through it, so scan
    * pushdown is unaffected (plan-checked in plans/r18). */
  private def fanOut(spark: SparkSession, df: DataFrame, path: String,
                     key: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val (bytes, files) = scanStats.computeIfAbsent(path, p => {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(hp, true)
      var b = 0L; var n = 0L
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        // count DATA files only: sidecars (_SUCCESS, .crc, metadata)
        // and empty files are not scan splits, and counting them
        // inflates estSplits enough to skip a fan-out a real
        // multi-sidecar corpus would benefit from (ADVICE r18)
        if (f.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")) {
          b += f.getLen; n += 1
        }
      }
      (b, n)
    })
    val maxSplit = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val estSplits = math.max(files, (bytes + maxSplit - 1) / maxSplit)
    if (bytes < fanOutMinBytes || estSplits >= target) df
    else df.repartition(target, col(key))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** [[documents]] fanned out to the cluster ([[fanOut]]) — the corpus
    * read for the gram-explode operators whose per-row tokenize/hash
    * work dominates their runtime. */
  def documentsFanned(spark: SparkSession, dir: String): DataFrame =
    fanOut(spark, documents(spark, dir), s"$dir/documents.parquet", "doc_id")

  /** [[embeddings]] fanned out to the cluster ([[fanOut]]) — the
    * corpus read for the mining-shaped ANN paths (per-query ADC lookup
    * tables / PQ encodes are the heavy map work). */
  def embeddingsFanned(spark: SparkSession, dir: String): DataFrame =
    fanOut(spark, embeddings(spark, dir), s"$dir/embeddings.parquet", "vec_id")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** Normalize `events.ts` to a plain session-TZ TIMESTAMP regardless of
    * how the corpus parquet encodes it. The testdata generator has
    * shipped two encodings so far:
    *   - TIMESTAMP(NANOS): Spark 4 reads it only as Long via
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *     [[GraftSession]]); the corpus values are micro-resolution, so
    *     `div 1000` is lossless.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *     TIMESTAMP_NTZ, which `withWatermark` REJECTS at analysis
    *     ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]) — cast to the
    *     session-TZ type (sessions run UTC, so the instant is
    *     unchanged).
    * Every reader — batch loader, Bench stream sections, drive mains —
    * must go through here so a corpus re-encode can't strand one path. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Dollars (Double) → integer cents (Long). `round` first so the cast
    * truncation cannot flip a xxx.9999 repr down by one cent. */
  def cents(c: Column): Column = round(c * lit(100), 0).cast("long")

  /** Integer cents (Long) → dollars (Double); exact for |cents| < 2^53. */
  def dollars(c: Column): Column = c / lit(100.0)
}
