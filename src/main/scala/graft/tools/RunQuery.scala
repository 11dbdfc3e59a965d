package graft.tools

import graft.Local
import graft.gate.Gate

/** Iteration helper: run ONE gated query + dump its oracle SQL in the
  * same layout Verify uses, so tools/compare_oracle.py can gate a single
  * query without the full sweep.
  *
  * usage: runMain graft.tools.RunQuery <name> [sfDir] [outDir]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/runquery_out"
    val spark = Local.session()
    new java.io.File(outDir).mkdirs()
    val query = Gate(name)
    if (sys.env.contains("RUNQUERY_WARM")) { // bench-style warm pass first
      val tw = System.nanoTime()
      query.build(spark, sfDir).count()
      println(f"[runquery] $name warm pass ${(System.nanoTime() - tw) / 1e9}%.2f s")
    }
    val t0 = System.nanoTime()
    query.build(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    println(f"[runquery] $name wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Gate.oracleJson(Seq(name -> query.oracleSql)))
    spark.stop()
  }
}
