package graft.tools

import org.apache.spark.sql.functions._
import graft.core.CellId

/** Smoke driver: exercises the core CellID kernel from Spark executor
  * threads (UDF path) against driver testdata. Usage:
  *   sbt "runMain graft.tools.KernelDemo [sfDir]"
  */
object KernelDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Local.session()

    // Deterministic lat/lng derived from order keys, encoded to S2 cells
    // on executors, aggregated by coarse parent cell.
    val cellOf = udf((lat: Double, lng: Double) => CellId.fromLatLngDegrees(lat, lng))
    val tokenOf = udf((id: Long) => CellId.toToken(id))
    val parentOf = udf((id: Long, l: Int) => CellId.parent(id, l))

    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .withColumn("lat", (col("o_orderkey") % 180) - lit(89.5) + lit(0.25))
      .withColumn("lng", (col("o_custkey") % 360) - lit(179.5) + lit(0.25))
      .withColumn("cell_id", cellOf(col("lat"), col("lng")))
      .withColumn("token", tokenOf(col("cell_id")))
      .withColumn("cell_l4", parentOf(col("cell_id"), lit(4)))

    val n = df.count()
    val groups = df.groupBy("cell_l4").count().orderBy(desc("count"))
    println(s"rows=$n distinct_l4=${groups.count()}")
    groups.withColumn("l4_token", tokenOf(col("cell_l4"))).show(10, false)
    df.select("lat", "lng", "token").show(5, false)

    // Point-in-polygon refine with a broadcast loop (exact predicates on
    // executors): a 2000 km disc-polygon inside the derived data range.
    val loop = graft.core.Loop.regularLoop(
      graft.core.LatLng.toPointDegrees(0, -100),
      graft.core.Earth.angleFromMeters(2e6), 64)
    val loopB = spark.sparkContext.broadcast(loop)
    val pip = udf((lat: Double, lng: Double) =>
      loopB.value.containsPoint(graft.core.LatLng.toPointDegrees(lat, lng)))
    val inside = df.filter(pip(col("lat"), col("lng"))).count()
    println(s"pip_inside=$inside of $n")
    spark.stop()
  }
}
