package graft.tools

import graft.{GraftSession, SparkEntry, Verify}

/** Dev-side single-query gate check: run ONE SparkEntry query at a
  * given sf dir, dump its parquet + oracle_sql.json for
  * tools/check_oracle.py. Usage:
  *   Test/runMain graft.tools.DriveOne <name> [sfDir] [outDir]
  */
object DriveOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    val spark = GraftSession.local("graft-drive-one")
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    println(f"[drive-one] $name ran in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val sql = SparkEntry.oracleSql.get(name)
    sql.foreach { s =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
        s"{${Verify.jsonString(name)}: ${Verify.jsonString(s)}}".getBytes("UTF-8"))
    }
    if (sql.isEmpty) println(s"[drive-one] $name has no oracle (rows-only)")
    spark.stop()
  }
}
