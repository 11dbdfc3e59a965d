package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Polyline x polygon crossing join: which trajectories cross which
  * polygon boundaries — the distributed analogue of the reference's
  * crossing-edge query (crossing_edge_query.go:15-60).
  *
  * The polyline side is a DataFrame (a trajectory table at any scale);
  * polygons are broadcast with a SpatialJoin.CoveringIndex of their
  * coverings, indexed by position as in the point joins
  * (SpatialJoin.indexByPosition), next to their ids and loops by
  * position. Each row covers its line with the default RegionCoverer and
  * refines only the polygons whose covering intersects the line's: the
  * pruning is exact, since a line that crosses or lies inside a loop
  * shares a point with it. The refine counts exact chain crossing signs;
  * for large polygons the per-segment candidate edges come from the
  * loop's edge index, so the refine is sublinear in the polygon's vertex
  * count.
  */
object CrossingJoin {

  /** Driver-side polyline list convenience; wraps the DataFrame path. */
  def polylinePolygonJoin(spark: SparkSession,
                          polylines: Seq[(Long, Polyline)],
                          polygons: Seq[(Long, Loop)],
                          includeContained: Boolean = true): DataFrame =
    polylinePolygonJoinDF(spark, PolylineJoin.lineRows(spark, polylines, "line_id"),
      polygons, includeContained)

  /** DataFrame polyline side: (line_id, xs, ys, zs) unit-vector component
    * arrays. Returns (line_id, poly_id, crossings); containment-only
    * overlaps carry crossings = 0 when includeContained.
    */
  def polylinePolygonJoinDF(spark: SparkSession, lines: DataFrame,
                            polygons: Seq[(Long, Loop)],
                            includeContained: Boolean = true): DataFrame = {
    val bc = spark.sparkContext.broadcast((
      SpatialJoin.indexByPosition(SpatialJoin.polygonCoverings(polygons)),
      polygons.map(_._1).toArray, polygons.map(_._2).toArray))

    val matchUdf = udf((xs: Seq[Double], ys: Seq[Double], zs: Seq[Double]) => {
      val (index, polyIds, loops) = bc.value
      if (xs.isEmpty) Seq.empty[(Long, Int)]
      else {
        val verts = PolylineJoin.vertices(xs, ys, zs)
        val covering = RegionCoverer().covering(new Polyline(verts))
        index.intersecting(covering).toSeq.flatMap { r =>
          val loop = loops(r.toInt)
          val crossings = crossingCount(verts, loop)
          val contained = crossings == 0 && loop.containsPoint(verts(0))
          if (crossings > 0 || (includeContained && contained))
            Some((polyIds(r.toInt), crossings))
          else None
        }
      }
    })

    lines
      .select(col("line_id"),
        explode(matchUdf(col("xs"), col("ys"), col("zs"))).as("m"))
      .select(col("line_id"), col("m._1").as("poly_id"), col("m._2").as("crossings"))
  }

  /** Edges of the chain that cross an edge of the loop, counted per
    * (chain edge, loop edge) pair.
    */
  private def crossingCount(verts: Array[Vec3], loop: Loop): Int = {
    var crossings = 0
    var i = 1
    while (i < verts.length) {
      val a = verts(i - 1)
      val b = verts(i)
      val crosser = new EdgeCrosser(a, b)
      val cand = loop.candidateEdges(a, b)
      var k = 0
      while (k < cand.length) {
        val e = cand(k)
        if (crosser.crossingSignTo(loop.vertex(e), loop.vertex(e + 1))
          == EdgeCrossings.Cross) crossings += 1
        k += 1
      }
      i += 1
    }
    crossings
  }
}
