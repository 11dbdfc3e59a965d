package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Polyline x polyline proximity joins over trajectory tables — the
  * distributed surface for the edge-pair distance kernels
  * (/root/reference/s2/edge_distances.go:334-419).
  *
  * Plan shape: each chain's covering is computed row-side; the A side is
  * expanded by the join radius (CellUnion.expandByRadius, the coverage
  * guarantee: every point within r of A is inside the expanded covering),
  * both sides explode to a common cell level, and an equi-join on the
  * cell key yields candidate pairs. Pairs dedup on ids (narrow), vertex
  * arrays join back, and the refine is the exact chain-to-chain edge-pair
  * minimum distance. One shuffle per side plus the candidate join — the
  * same currency as every other join in the engine.
  */
object PolylineJoin {

  /** Driver-side list convenience; wraps the DataFrame path. */
  def polylineRadiusJoin(spark: SparkSession,
                         linesA: Seq[(Long, Polyline)],
                         linesB: Seq[(Long, Polyline)],
                         radiusMeters: Double): DataFrame =
    polylineRadiusJoinDF(spark, lineRows(spark, linesA, "a_id"),
      lineRows(spark, linesB, "b_id"), radiusMeters)

  /** The row form of the DataFrame polyline joins: (idCol, xs, ys, zs),
    * each vertex's unit-vector components.
    */
  private[ops] def lineRows(spark: SparkSession, lines: Seq[(Long, Polyline)],
                            idCol: String): DataFrame = {
    import spark.implicits._
    lines.map { case (id, pl) =>
      (id, pl.vertices.map(_.x).toSeq, pl.vertices.map(_.y).toSeq,
        pl.vertices.map(_.z).toSeq)
    }.toDF(idCol, "xs", "ys", "zs")
  }

  /** The vertices of one row of the row form. */
  private[ops] def vertices(xs: Seq[Double], ys: Seq[Double], zs: Seq[Double]): Array[Vec3] =
    Array.tabulate(xs.length)(i => Vec3(xs(i), ys(i), zs(i)))

  /** DataFrame sides: (a_id|b_id, xs, ys, zs) unit-vector component
    * arrays. Returns (a_id, b_id, dist_rad) for pairs within the radius.
    */
  def polylineRadiusJoinDF(spark: SparkSession, linesA: DataFrame,
                           linesB: DataFrame,
                           radiusMeters: Double,
                           maxCells: Int = 16): DataFrame = {
    val radiusRad = Earth.angleFromMeters(radiusMeters)
    val level = math.max(0, Metric.MinWidth.maxLevel(radiusRad))

    def coveringUdf(expand: Boolean) = udf(
      (xs: Seq[Double], ys: Seq[Double], zs: Seq[Double]) => {
        val pl = new Polyline(vertices(xs, ys, zs))
        val coverer = RegionCoverer(maxCells = maxCells)
        var cov = coverer.covering(pl)
        if (expand) cov = cov.expandByRadius(radiusRad, 4)
        cov.ids.flatMap(CellId.cellsAtLevel(_, level)).distinct
      })

    val aCells = linesA
      .withColumn("cell", explode(coveringUdf(expand = true)(
        col("xs"), col("ys"), col("zs"))))
      .select("cell", "a_id")
    val bCells = linesB
      .withColumn("cell", explode(coveringUdf(expand = false)(
        col("xs"), col("ys"), col("zs"))))
      .select("cell", "b_id")

    val candidates = aCells.join(bCells, "cell")
      .select("a_id", "b_id").distinct()

    val refine = udf((axs: Seq[Double], ays: Seq[Double], azs: Seq[Double],
                      bxs: Seq[Double], bys: Seq[Double], bzs: Seq[Double]) => {
      val a = new Polyline(vertices(axs, ays, azs))
      val b = new Polyline(vertices(bxs, bys, bzs))
      val d = ChordAngle.toRadians(a.distanceToPolyline(b))
      if (d <= radiusRad) d else -1.0
    })

    candidates
      .join(linesA, "a_id")
      .join(linesB.withColumnRenamed("xs", "bxs")
        .withColumnRenamed("ys", "bys").withColumnRenamed("zs", "bzs"), "b_id")
      .withColumn("dist_rad", refine(col("xs"), col("ys"), col("zs"),
        col("bxs"), col("bys"), col("bzs")))
      .filter(col("dist_rad") >= 0)
      .select("a_id", "b_id", "dist_rad")
  }
}
