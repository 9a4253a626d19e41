package graft.streaming

import graft.{GraftSession, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Regression net for the round-6 TIMESTAMP_NTZ breakage: the testdata
  * generator re-encoded `events.ts` (NANOS → MICROS/NTZ) and every
  * watermark-over-raw-events path died at analysis with
  * [EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE] — while `sbt test` stayed
  * green, because the dau specs fed MemoryStream-typed rows that never
  * touched the parquet schema. These tests stream the REAL corpus
  * schema (read from /root/testdata) through the watermark, so the next
  * schema drift fails the suite, not the round's bench artifact.
  */
class EventsSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("normalizeEventTs yields watermarkable TimestampType on the current corpus") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType === TimestampType,
      s"events.ts normalized to ${ev.schema("ts").dataType}; watermarks require TIMESTAMP " +
        "— extend Tables.normalizeEventTs for the new corpus encoding")
    // values must be sane instants, not epoch-zero or null artifacts
    val r = ev.agg(min(col("ts")), max(col("ts")), count(lit(1))).head
    assert(!r.isNullAt(0) && r.getLong(2) > 0)
    assert(r.getTimestamp(0).getTime > 0L)
  }

  test("dauFirstVisits streams the real events.parquet schema through its watermark") {
    // file-stream source with the EXACT on-disk schema (readStream needs
    // an explicit schema; take it from a batch read so nothing is
    // hand-maintained) — this is the path Bench's DAU lines run (and
    // DriveDauRaw, a main last at df0f5b7)
    val onDisk = spark.read.parquet(s"$sf/events.parquet")
    // file-stream sources want a directory; symlink the corpus file into
    // one (the Bench streamOf pattern)
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz-events")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"), java.nio.file.Paths.get(s"$sf/events.parquet"))
    val raw = spark.readStream.schema(onDisk.schema).parquet(dir.toString)
    val ev = Tables.normalizeEventTs(raw)
      .selectExpr("cast(user_id as string) as mid", "ts")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ntz-ckpt").toString
    val q = Pipelines.dauFirstVisits(ev)
      .writeStream.format("memory").queryName("ntz_dau_out")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ntz_dau_out").count()
      assert(rows > 0, "watermarked DAU dedup over the real corpus emitted nothing")
      // dedup semantics on the real data: one row per (mid, dt)
      val dup = spark.table("ntz_dau_out").groupBy("mid", "dt").count()
        .filter(col("count") > 1).count()
      assert(dup === 0)
    } finally q.stop()
  }

  test("dauFirstVisits coerces an NTZ event-time column instead of failing analysis") {
    // deliberately-NTZ input (what the current parquet decodes to):
    // without the defensive cast this throws at analysis, which is
    // exactly the crash that shipped silently in BENCH_r06
    val ntz = spark.range(3)
      .select(concat(lit("m"), col("id")).as("mid"),
        timestamp_seconds(lit(1700000000L) + col("id")).cast(TimestampNTZType).as("ts"))
    assert(ntz.schema("ts").dataType === TimestampNTZType)
    val out = Pipelines.dauFirstVisits(ntz)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.count() === 3)
  }
}
