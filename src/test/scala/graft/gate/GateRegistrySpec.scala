package graft.gate

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** The oracle gate's registry and SparkEntry's views over it. */
class GateRegistrySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("gate-registry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("65 records with unique names") {
    assert(Gate.all.size == 65)
    assert(Gate.all.map(_.name).distinct.size == 65)
  }

  test("every record has oracle SQL, and the SparkEntry views share one key set") {
    Gate.all.foreach(q => assert(q.oracleSql.trim.nonEmpty, q.name))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == Gate.all.map(_.name).toSet)
  }

  test("the Evidence records are exactly the gate-machinery queries") {
    assert(Gate.all.filter(_.kind == Evidence).map(_.name).toSet == Set(
      "q_stream_neardup", "q_stream_evict", "q_checkpoint",
      "q_checkpoint_clustered", "q_clustered", "q_tile_covering"))
  }

  test("SparkEntry.entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
