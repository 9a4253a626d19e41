package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Session defaults whose effect shows in a plan's runtime statistics,
  * which do not depend on the host's timing. */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a string-keyed broadcast of a few dozen rows holds one small page, " +
      "not a heap-sized one") {
    // the distinct whitespace tokens of sf0.001's documents: 31 strings.
    // A string key builds an UnsafeHashedRelation over a BytesToBytesMap,
    // whose size is its pages; Spark's own formula would make that page
    // heap / cores / 16 (64 MiB at an 8g heap and 4 cores)
    val toks = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
    val vocab = toks.distinct()
    val joined = toks.join(broadcast(vocab), "tok")
    // an action on `joined` itself, so its adaptive plan is the final one
    assert(joined.collect().length.toLong === toks.count())
    val stages = collect(joined.queryExecution.executedPlan) {
      case s: BroadcastQueryStageExec => s
    }
    assert(stages.size === 1, joined.queryExecution.executedPlan.treeString)
    val stats = stages.head.getRuntimeStatistics
    assert(stats.rowCount.contains(BigInt(31)))
    assert(stats.sizeInBytes < BigInt(2L << 20),
      s"broadcast relation holds ${stats.sizeInBytes} bytes")
  }
}
