package graft

import org.apache.spark.sql.SparkSession

/** Single place for engine session defaults. Used by Verify/Bench/tests;
  * a production caller can apply [[tune]] to their own builder. */
object GraftSession {
  /** Settings every graft session needs regardless of master/memory. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new functions.GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Older TESTDATA corpora wrote events.ts as TIMESTAMP(NANOS), which
    // Spark 4 reads only with this flag (as Long). The current corpus
    // writes TIMESTAMP(MICROS, NTZ), which the flag doesn't touch —
    // Tables.normalizeEventTs handles BOTH encodings; the flag stays so
    // either corpus vintage loads.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // Tungsten page size, fixed at the floor of Spark's own formula
    // (heap / cores / 16, clamped to [1 MB, 64 MB]). Every
    // BytesToBytesMap — behind each string-keyed broadcast relation,
    // hash aggregate and sorter — allocates at least one page, so at
    // -Xmx8g and local[4] the formula's 64 MB page made a 31-row
    // broadcast hold 64 MB of heap, in humongous G1 regions that stay
    // live across collections. At 1 MB (under G1's 2 MB humongous
    // threshold at an 8g heap) each map grows a page at a time with
    // its data; a record larger than a page still gets a page of its
    // own size.
    .config("spark.buffer.pageSize", "1m")

  /** Production-streaming additions: RocksDB state store — keyed state
    * (dedup at 1e9+ keys, join state, apportionment sums) spills off
    * heap instead of living in the HDFSBacked in-memory map. Apply to
    * sessions that run the streaming pipelines at scale. */
  def streamingTune(b: SparkSession.Builder): SparkSession.Builder =
    tune(b).config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Local session sized by SPARK_GRAFT_CPUS (driver contract; default
    * 32 — the harness runs local[32]). */
  def local(appName: String): SparkSession = localWith(appName, tune)

  /** [[local]] with the production streaming config ([[streamingTune]]:
    * RocksDB state store) — the default for the streaming drive mains,
    * so every stateful pipeline (dedup, join, apportion, near-dup,
    * attribution) is exercised on the store it would run on at scale. */
  def localStreaming(appName: String): SparkSession =
    localWith(appName, streamingTune)

  /** [[localStreaming]] at an EXPLICIT core count (SPARK_GRAFT_CPUS is
    * ignored) — the local[4] reference-parity sections. The caller must
    * have stopped any prior session first (one SparkContext per JVM;
    * getOrCreate would silently return a live session under the WRONG
    * master otherwise). */
  def localStreamingCpus(appName: String, cpus: Int): SparkSession = {
    require(SparkSession.getActiveSession
        .forall(_.sparkContext.isStopped),
      "localStreamingCpus: a live SparkSession exists — stop it first " +
        "(getOrCreate would reuse it under the wrong master)")
    localWith(appName, streamingTune, cpus.toString)
  }

  private def localWith(appName: String,
      tuneFn: SparkSession.Builder => SparkSession.Builder,
      cpusOverride: String = null): SparkSession = {
    val cpus = Option(cpusOverride)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = tuneFn(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
