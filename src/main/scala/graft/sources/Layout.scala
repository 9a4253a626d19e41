package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side data layout for scan efficiency at 100 TB — the half of
  * performance that lives in HOW data is written, not how it is queried.
  *
  * Parquet readers skip whole row groups whose column min/max stats
  * exclude a pushed-down predicate. On an unordered write every row
  * group spans nearly the full value range, so nothing skips and a
  * selective filter still scans the whole table; range-clustering the
  * data at write time makes row-group stats disjoint, and the SAME query
  * then reads only the slice it needs. These helpers produce that
  * layout with plain Spark primitives (repartitionByRange +
  * sortWithinPartitions + maxRecordsPerFile) — no table format needed,
  * the effect is measured by LayoutSpec / DriveLayout via task input
  * metrics.
  *
  * Reference has no analog (its sinks are row-oriented KV/ES/ClickHouse
  * upserts); this is lakehouse-side engineering the 100 TB target makes
  * first-class.
  */
object Layout {

  /** Range-cluster `df` on `cols` for write: rows land in range-disjoint
    * partitions (one shuffle), each partition sorted so every row group
    * within every output file has tight, disjoint min/max stats on
    * `cols`. Filters on a prefix of `cols` then skip at three levels:
    * partition files never read (footer stats), row groups never
    * decoded, and pages never decompressed (parquet column indexes).
    *
    * `maxRecordsPerFile` caps file size without a second shuffle —
    * oversized range partitions split into several files, all still
    * sorted. At 100 TB, size partitions so one file ≈ one HDFS block /
    * object-store part. */
  def writeRangeClustered(df: DataFrame, path: String, cols: Seq[String],
                          maxRecordsPerFile: Long = 0L): Unit = {
    val sortCols = cols.map(col)
    val clustered = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val w = clustered.write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
     else w).parquet(path)
  }

  /** Z-value (Morton code) of `cols`, each linearly scaled into
    * `bits`-bit integers against supplied [min, max] domains and
    * bit-interleaved — points close in ALL dimensions get close
    * z-values, so range-clustering by z-value gives row-group locality
    * on EVERY listed column at once, where a lexicographic sort only
    * helps its leading column. Pure built-in expressions (shift/and/or
    * folds), fully codegen, no UDF.
    *
    * Domains come from the caller (one tiny agg job — see
    * [[writeZOrdered]]) because a literal scale keeps the expression
    * foldable per row; values outside the domain clamp to the edge
    * bucket, which costs locality, never correctness. */
  def zValue(cols: Seq[(Column, Double, Double)], bits: Int = 12): Column = {
    require(cols.nonEmpty && bits * cols.size <= 62,
      s"z-value needs bits*nCols <= 62, got $bits*${cols.size}")
    val maxBucket = (1L << bits) - 1
    val n = cols.size
    val scaled = cols.map { case (c, lo, hi) =>
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(greatest(
        floor((c.cast("double") - lit(lo)) / lit(span) * maxBucket).cast("long"),
        lit(0L)), lit(maxBucket))
    }
    (for { i <- 0 until bits; j <- 0 until n } yield
      shiftleft(shiftright(scaled(j), i).bitwiseAND(lit(1L)), i * n + j))
      .reduce(_ bitwiseOR _)
  }

  /** Z-order write: one small min/max agg to learn the domains, then
    * range-cluster + sort by the z-value. Use when queries filter on
    * SEVERAL independent columns — the classic lakehouse OPTIMIZE
    * ZORDER; for single-column (or prefix) filters,
    * [[writeRangeClustered]] is strictly better. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    bits: Int = 12, maxRecordsPerFile: Long = 0L): Unit = {
    val statExprs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"lo_$c"),
      max(col(c)).cast("double").as(s"hi_$c")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*).head()
    val domains = cols.map(c => (col(c),
      stats.getAs[Double](s"lo_$c"), stats.getAs[Double](s"hi_$c")))
    val zv = zValue(domains, bits).as("__zv")
    val clustered = df.withColumn("__zv", zv)
      .repartitionByRange(col("__zv"))
      .sortWithinPartitions(col("__zv"))
      .drop("__zv")
    val w = clustered.write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
     else w).parquet(path)
  }

  /** Compact a small-files table: rewrite `path` into files of
    * ~`targetRecordsPerFile` rows, preserving any range clustering by
    * coalescing ADJACENT input splits (coalesce, not repartition — no
    * shuffle, and parquet splits enumerate in file order). The
    * small-files problem is the other half of layout at scale: a
    * streaming sink or over-parallel writer leaves thousands of
    * KB-sized files whose per-file open/footer overhead dominates reads
    * and whose row groups are too small to carry useful stats. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              outPath: String, targetRecordsPerFile: Long): Unit = {
    require(targetRecordsPerFile > 0)
    val in = spark.read.parquet(path)
    val rows = in.count()
    val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    in.coalesce(nFiles).write.mode("overwrite").parquet(outPath)
  }

  /** `spark.read.parquet(path)` without its schema-inference job. Spark
    * infers a parquet relation's schema with a one-task job that reads
    * one data file's footer; here the driver reads that footer itself
    * and takes the Spark schema every Spark writer stores in it, so a
    * per-trigger read plans with no job. Partition columns are still
    * discovered from the `key=value/` directories. Falls back to plain
    * inference when no visible data file carries that schema. */
  def readParquet(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    def firstFile(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator
        .filter(st => ContentStamp.isVisible(st.getPath.getName))
        .map(st => if (st.isDirectory) firstFile(st.getPath) else Some(st))
        .collectFirst { case Some(st) => st }
    val schema = (if (fs.exists(root)) firstFile(root) else None).flatMap { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }
    schema.fold(spark.read.parquet(path))(json => spark.read
      .schema(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .parquet(path))
  }
}
