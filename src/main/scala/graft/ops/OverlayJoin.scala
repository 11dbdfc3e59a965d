package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Polygon x polygon overlay join: which regions of set A contain /
  * intersect which regions of set B — the distributed surface over
  * Loop/Polygon Contains+Intersects (/root/reference/s2/loop.go:274-369,
  * polygon.go:826-892).
  *
  * The plan is the shuffle PIP join's (ShuffleSpatialJoin.pipJoinLarge)
  * with a polygon side in place of the points:
  *  1. Each side is covered on the executors
  *     (SpatialJoin.polygonCoveringsDistributed) and becomes a cell-keyed
  *     dimension table at the join level
  *     (ShuffleSpatialJoin.polygonDimTable): rows of (cell_lk, id, pos),
  *     where pos is the polygon's position in its side's list.
  *  2. Equi-join on the cell key yields candidate pairs: two polygons can
  *     only relate if some covering cell overlaps. One shuffle, keyed by
  *     cell; hot cells are AQE-splittable. Pairs are dedup'd on
  *     (a pos, a id, b pos, b id).
  *  3. Each pair resolves both polygons through its side's region table
  *     (SpatialJoin.RegionTable) by position and is refined with the
  *     exact relation predicates. Geometry never rides on covering rows.
  *
  * Both sides follow SpatialJoin's region contract: (id, region) pairs
  * with distinct ids.
  */
object OverlayJoin {

  /** Inner overlap join of two polygon sets.
    *
    * @return DataFrame(a_id, b_id, a_contains_b, b_contains_a) with one
    *         row per intersecting pair.
    */
  def polygonOverlapJoin(spark: SparkSession,
                         polysA: Seq[(Long, Polygon)],
                         polysB: Seq[(Long, Polygon)],
                         level: Int = 8,
                         maxCells: Int = 32): DataFrame = {
    def dim(polys: Seq[(Long, Polygon)], side: String) =
      ShuffleSpatialJoin.polygonDimTable(spark, polys, level, precomputed =
          Some(SpatialJoin.polygonCoveringsDistributed(spark, polys, maxCells)))
        .select(col("cell_lk"), col("poly_id").as(s"${side}_id"),
          col("pos").as(s"${side}_pos"))
    val candidates = dim(polysA, "a").join(dim(polysB, "b"), "cell_lk")
      .select("a_pos", "a_id", "b_pos", "b_id").distinct()

    val regionsA = new SpatialJoin.RegionTable(spark, polysA.map(_._2), "a_pos", "a_geom")
    val regionsB = new SpatialJoin.RegionTable(spark, polysB.map(_._2), "b_pos", "b_geom")
    val resolveA = regionsA.resolve
    val resolveB = regionsB.resolve
    // The relation of an intersecting pair, or none: a generator runs once
    // per pair, where a filter on the refine could be pushed below the
    // distinct and run once per shared cell.
    val relation = udf((aPos: Int, aGeom: Array[Byte], bPos: Int, bGeom: Array[Byte]) => {
      val a = resolveA(aPos, aGeom)
      val b = resolveB(bPos, bGeom)
      if (a.intersects(b)) Seq((a.contains(b), b.contains(a))) else Nil
    })
    regionsB.attach(regionsA.attach(candidates))
      .select(col("a_id"), col("b_id"), explode(
        relation(col("a_pos"), col("a_geom"), col("b_pos"), col("b_geom"))).as("rel"))
      .select(col("a_id"), col("b_id"),
        col("rel._1").as("a_contains_b"), col("rel._2").as("b_contains_a"))
  }
}
