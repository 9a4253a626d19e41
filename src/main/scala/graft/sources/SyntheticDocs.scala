package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic document corpus for scale measurements —
  * distinct ~40-token docs with ~2% near-dup pairs, all pure column
  * arithmetic (no data files, no RNG): the same corpus shape at any
  * size, so ladder rungs and bench lines are comparable across rounds.
  * Used by [[graft.Bench]]'s amortized intake lines and, until
  * df0f5b7, by the dedup scale ladder (SCALE.md's DriveDedupScale
  * rungs) —
  * replicating the 5 000 testdata docs instead would drown the dup
  * path with exact copies. */
object SyntheticDocs {

  /** ~40 tokens: 38 from the doc's TEMPLATE (its own id, except every
    * 50th doc, which borrows its predecessor's — the near-dup pair)
    * plus 2 per-doc tokens, so pairs land at J ≈ 38/42 ≈ 0.9. */
  def docText(idCol: Column): Column = {
    val base = when(pmod(idCol, lit(50L)) === 0 && idCol > 0, idCol - 1)
      .otherwise(idCol)
    val tmpl = transform(sequence(lit(0), lit(37)),
      i => concat(lit("w"), pmod(xxhash64(base, i), lit(50000L))))
    val own = transform(sequence(lit(38), lit(39)),
      i => concat(lit("u"), pmod(xxhash64(idCol, i, lit(7L)), lit(1000000000L))))
    array_join(concat(tmpl, own), " ")
  }

  /** The synthetic (doc_id, text) corpus: n docs, ~2% near-dup pairs. */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), docText(col("id")).as("text"))
}
