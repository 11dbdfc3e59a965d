package graft

import org.apache.spark.sql.SparkSession

/** What every local entry point (Verify, Bench, the tools) shares: the
  * work directory and one session recipe.
  */
object Local {
  /** Fixtures, query scratch output and bench artifacts. The gate's oracle
    * SQL reads fixture paths under it.
    */
  val workDir = "/root/repo/work"

  /** `SPARK_GRAFT_CPUS`, or every visible core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` session with one shuffle partition per core, UI off,
    * UTC session time and WARN logging.
    */
  def session(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
