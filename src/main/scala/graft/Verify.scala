package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = BenchHarness.session(defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    BenchHarness.selectedQueries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // release the localCheckpoint RDDs this query pinned — the
      // 113-query dump otherwise accretes session storage exactly
      // like the bench loop (see BenchHarness.drainLocalCheckpoints)
      BenchHarness.drainLocalCheckpoints(spark)
    }
    // every control char escaped: a tab or CR in an oracle's SQL would
    // otherwise make a strict json.load of the file fail
    import BenchHarness.jsonString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
