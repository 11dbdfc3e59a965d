package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Shuffle-path PIP join for polygon sets too large to broadcast.
  *
  * The broadcast CoveringIndex path (SpatialJoin) is the default; it
  * breaks down when |polygons| * maxCells no longer fits per-executor.
  * This path is the SURVEY §4 "Plan B": turn the covering containment
  * test into an equi-join at a fixed cell level.
  *
  *  - Polygon side: covering cells denormalized to join level k, one row
  *    per (cell_lk, polyId, isInterior) — a DataFrame that shuffles like
  *    any dimension table. Geometry travels once per polygon in the join
  *    wire form (SpatialJoin.encodeGeometry) and is decoded once per
  *    executor JVM through SpatialJoin.cachedGeometry.
  *  - Point side: withColumn(cell_lk = s2_parent(s2_cellid(lat,lng), k)).
  *  - Equi-join on cell_lk (sort-merge or shuffled hash, Catalyst/AQE
  *    picks; hot cells are AQE-splittable because the join key is the
  *    coarse cell). Interior matches skip the refine; boundary matches
  *    run the exact parity PIP after decoding.
  *
  * Regions follow SpatialJoin's region contract: (id, S2Region) pairs,
  * Loops or Polygons (holes included), refined with containsPoint.
  *
  * Level choice: coarser k = fewer polygon rows but more false-positive
  * point-polygon pairs; finer k = bigger dimension table. chooseLevel
  * picks the finest level whose denormalized covering stays under a row
  * budget, mirroring the reference's adaptive brute-vs-index thresholds
  * (loop.go:615, edge_query.go:475).
  */
object ShuffleSpatialJoin {

  /** Pick the finest join level whose total denormalized covering size
    * stays within maxRows.
    */
  def chooseLevel(coverings: Seq[CellUnion], maxRows: Long = 2000000L,
                  minLevel: Int = 4, maxLevel: Int = 14): Int = {
    var level = maxLevel
    while (level > minLevel) {
      val rows = coverings.iterator.map { cu =>
        cu.ids.iterator.map { id =>
          val l = CellId.level(id)
          if (l >= level) 1L else 1L << (2 * (level - l))
        }.sum
      }.sum
      if (rows <= maxRows) return level
      level -= 1
    }
    minLevel
  }

  /** Build the polygon dimension DataFrame:
    * (cell_lk long, poly_id long, is_interior boolean).
    *
    * Geometry bytes deliberately do NOT ride on covering rows: a fine
    * join level times per-row geometry multiplies the dim table by the
    * vertex count (hundreds of MB of duplicated bytes for city-sized
    * polygon sets). Geometry travels once per polygon in the separate
    * geometryTable and joins back only for boundary candidates.
    */
  def polygonDimTable(spark: SparkSession, polygons: Seq[(Long, S2Region)],
                      level: Int, maxCells: Int = 32,
                      precomputed: Option[Seq[(Long, CellUnion, CellUnion)]] = None): DataFrame = {
    import spark.implicits._
    import graft.functions.S2
    val coverings = precomputed.getOrElse(
      SpatialJoin.polygonCoverings(polygons, maxCells))
    // Only the NORMALIZED covering rides from the driver (<= 2*maxCells
    // cells per polygon, as two long arrays); everything that multiplies
    // cells happens executor-side. That includes the boundary DIFFERENCE:
    // covering \ interior fragments into dozens of finer cells per
    // polygon, and materializing it driver-side made the shipped
    // LocalRelation the dim build's dominant cost at 10k polygons (~28
    // cells/polygon shipped vs <= 16 normalized) — and, like the level-k
    // fan-out (s2_cells_at + explode, bounded by the maxDimRows budget),
    // it is a per-polygon computation with no cross-polygon dependency,
    // exactly what scales out.
    val normalized = coverings.map { case (id, covering, interior) =>
      (id, covering.ids, interior.ids)
    }.toDF("poly_id", "cov", "inter")
      .repartition(spark.sparkContext.defaultParallelism)
    val rows = normalized.as[(Long, Array[Long], Array[Long])]
      .flatMap { case (id, cov, inter) =>
        val interior = CellUnion.fromNormalized(inter)
        val boundary = CellUnion.fromNormalized(cov).difference(interior)
        interior.ids.iterator.map(c => (c, id, true)) ++
          boundary.ids.iterator.map(c => (c, id, false))
      }
    rows.toDF("cell", "poly_id", "covering_interior")
      .withColumn("cell_lk", explode(S2.cellsAt(col("cell"), lit(level))))
      // A finer-than-k covering cell rolls UP to its level-k parent; the
      // parent is then not fully interior, so force the refine.
      .withColumn("is_interior",
        col("covering_interior") && S2.level(col("cell")) <= lit(level))
      // a polygon may touch the same level-k cell with both interior and
      // boundary sub-cells; keep interior=false in that case (must refine)
      .groupBy("cell_lk", "poly_id")
      .agg(min(col("is_interior").cast("int")).cast("boolean").as("is_interior"))
  }

  /** One wire-encoded geometry row per polygon. */
  def geometryTable(spark: SparkSession, polygons: Seq[(Long, S2Region)]): DataFrame = {
    import spark.implicits._
    polygons.map { case (id, region) => (id, SpatialJoin.encodeGeometry(region)) }
      .toDF("poly_id", "geom")
  }

  /** The shuffle-path join itself. Returns points + poly_id. */
  def pipJoinLarge(spark: SparkSession, points: DataFrame,
                   polygons: Seq[(Long, S2Region)],
                   latCol: String = "lat", lngCol: String = "lng",
                   maxDimRows: Long = 2000000L,
                   precomputed: Option[Seq[(Long, CellUnion, CellUnion)]] = None): DataFrame = {
    val coverings = precomputed.getOrElse(SpatialJoin.polygonCoverings(polygons))
    val level = chooseLevel(coverings.map(_._2), maxDimRows)
    val dim = polygonDimTable(spark, polygons, level, precomputed = Some(coverings))
    val geoms = geometryTable(spark, polygons)

    import graft.functions.S2
    // CellId encodes every point with a non-finite coordinate to one
    // corner leaf; such a point is in no region, so it must not reach the
    // exchange keyed to that corner's cell.
    def finite(c: String) = !isnan(col(c)) && abs(col(c)) =!= Double.PositiveInfinity
    val pts = points
      .filter(finite(latCol) && finite(lngCol))
      .withColumn("cell_lk",
        S2.parent(S2.cellId(col(latCol), col(lngCol)), lit(level)))

    // Exact refine with a per-JVM decode cache (geometry decoded once per
    // executor per polygon, not per row).
    val refine = udf((geom: Array[Byte], lat: Double, lng: Double) =>
      SpatialJoin.cachedGeometry(geom).containsPoint(LatLng.toPointDegrees(lat, lng)))

    // The dim side is by definition too large to broadcast (that case is
    // SpatialJoin.pipJoin); pin the sort-merge plan so tiny test inputs
    // exercise the same join the operator exists for, and AQE's skew
    // handling applies to hot cells.
    val candidates = pts.join(dim.hint("merge"), "cell_lk")
    val interiorHits = candidates.filter(col("is_interior"))
      .drop("cell_lk", "is_interior")
    // Only boundary candidates need geometry (AQE picks broadcast vs
    // shuffle for the per-polygon geometry join by its actual size).
    val boundaryHits = candidates.filter(!col("is_interior"))
      .join(geoms, "poly_id")
      .filter(refine(col("geom"), col(latCol), col(lngCol)))
      .drop("cell_lk", "is_interior", "geom")
    interiorHits.unionByName(boundaryHits)
  }
}
