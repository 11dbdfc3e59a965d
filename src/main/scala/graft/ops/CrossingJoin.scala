package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Polyline x polygon crossing join: which trajectories cross which
  * polygon boundaries — the distributed analogue of the reference's
  * CrossingEdgeQuery (/root/reference/s2/crossing_edge_query.go:15-60).
  *
  * The polyline side is a DataFrame (a trajectory table at any scale);
  * polygons are broadcast with their bounds. Candidates are pruned by
  * chain-bound x polygon-bound intersection, then refined with exact
  * chain crossing signs; for large polygons the per-segment candidate
  * edges come from the loop's edge index, so the refine is sublinear in
  * the polygon's vertex count.
  */
object CrossingJoin {

  /** Driver-side polyline list convenience; wraps the DataFrame path. */
  def polylinePolygonJoin(spark: SparkSession,
                          polylines: Seq[(Long, Polyline)],
                          polygons: Seq[(Long, Loop)],
                          includeContained: Boolean = true): DataFrame = {
    import spark.implicits._
    val lines = polylines.map { case (id, pl) =>
      (id, pl.vertices.map(_.x).toSeq, pl.vertices.map(_.y).toSeq,
        pl.vertices.map(_.z).toSeq)
    }.toDF("line_id", "xs", "ys", "zs")
    polylinePolygonJoinDF(spark, lines, polygons, includeContained)
  }

  /** DataFrame polyline side: (line_id, xs, ys, zs) unit-vector component
    * arrays. Returns (line_id, poly_id, crossings); containment-only
    * overlaps carry crossings = 0 when includeContained.
    */
  def polylinePolygonJoinDF(spark: SparkSession, lines: DataFrame,
                            polygons: Seq[(Long, Loop)],
                            includeContained: Boolean = true): DataFrame = {
    val bc = spark.sparkContext.broadcast(polygons)

    val matchUdf = udf((xs: Seq[Double], ys: Seq[Double], zs: Seq[Double]) => {
      val verts = Array.tabulate(xs.length)(i => Vec3(xs(i), ys(i), zs(i)))
      val rb = new RectBounder
      verts.foreach(rb.addPoint)
      val lineBound = rb.rectBound
      bc.value.iterator.flatMap { case (polyId, loop) =>
        if (!lineBound.intersects(loop.bound)) None
        else {
          var crossings = 0
          var i = 1
          while (i < verts.length) {
            val a = verts(i - 1)
            val b = verts(i)
            val crosser = new EdgeCrosser(a, b)
            val cand = loop.candidateEdgesPublic(a, b)
            var k = 0
            while (k < cand.length) {
              val e = cand(k)
              if (crosser.crossingSignTo(loop.vertex(e), loop.vertex(e + 1))
                == EdgeCrossings.Cross) crossings += 1
              k += 1
            }
            i += 1
          }
          val contained = crossings == 0 && loop.containsPoint(verts(0))
          if (crossings > 0 || (includeContained && contained))
            Some((polyId, crossings))
          else None
        }
      }.toSeq
    })

    lines
      .select(col("line_id"),
        explode(matchUdf(col("xs"), col("ys"), col("zs"))).as("m"))
      .select(col("line_id"), col("m._1").as("poly_id"), col("m._2").as("crossings"))
  }
}
