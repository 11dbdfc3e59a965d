package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gate.{Gate, GeoGate}

/** Entry points over the oracle gate's registry (graft.gate.Gate), one
  * record per gated query.
  */
object SparkEntry {
  def entry(spark: SparkSession): DataFrame =
    GeoGate.pipCity.build(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gate.byName.map { case (name, q) => name -> q.build }

  def oracleSql: Map[String, String] =
    Gate.byName.map { case (name, q) => name -> q.oracleSql }
}
