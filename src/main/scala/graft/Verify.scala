package graft
import java.nio.file.{Files, Paths}
import graft.gate.Gate
/** Driver-run correctness dump: each gated query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Local.session()
    new java.io.File(outDir).mkdirs()
    // Delete every oracle-aux file up front: if a query crashes before
    // re-emitting its aux file, its oracle SQL must FAIL on a missing
    // file instead of silently auditing a previous run's output.
    for (q <- Gate.all; path <- q.auxPath) {
      val aux = new java.io.File(path(sfDir))
      if (aux.exists()) {
        Option(aux.listFiles()).foreach(_.foreach(_.delete()))
        aux.delete()
      }
    }
    Gate.all.foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Gate.oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
