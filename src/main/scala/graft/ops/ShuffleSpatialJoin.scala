package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Shuffle-path PIP join for polygon sets too large to broadcast.
  *
  * The broadcast CoveringIndex path (SpatialJoin) is the default; it
  * breaks down when |polygons| * maxCells no longer fits per-executor, and
  * SpatialJoin.pipJoin then runs this path instead. This path is the
  * SURVEY §4 "Plan B": turn the covering containment test into an
  * equi-join at a fixed cell level.
  *
  *  - Polygon side: covering cells denormalized to join level k, one row
  *    per (cell_lk, polyId, isInterior, pos) — a DataFrame that shuffles
  *    like any dimension table. `pos` is the region's dense position in
  *    the caller's region list; geometry never rides on dim rows.
  *  - Point side: withColumn(cell_lk = s2_parent(s2_cellid(lat,lng), k)).
  *  - One sort-merge equi-join on cell_lk (hot cells are AQE-splittable
  *    because the join key is the coarse cell), then one filter:
  *    interior candidates pass, boundary candidates run the region's
  *    exact containsPoint. The points are scanned once.
  *  - Region table (SpatialJoin.RegionTable), indexed by position, in
  *    the join wire form: broadcast when its wire bytes fit Spark's
  *    spark.sql.autoBroadcastJoinThreshold, each region decoded on first
  *    use per executor; otherwise candidates sort-merge join it on `pos`
  *    and each task decodes a region once per run of equal positions.
  *    That join exchanges every candidate, interior ones too: keeping
  *    interior rows out of it would take a union whose interior branch
  *    scans and exchanges the points a second time.
  *
  * Regions follow SpatialJoin's region contract: (id, S2Region) pairs with
  * distinct ids, Loops or Polygons (holes included), refined with
  * containsPoint.
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
    * (cell_lk long, poly_id long, is_interior boolean, pos int), where
    * pos is the region's position in `polygons`. Regions need distinct
    * ids.
    *
    * Only the normalized coverings leave the driver (<= 2*maxCells cells
    * per polygon, as two long arrays). One executor flatMap does all the
    * per-polygon work that multiplies cells: the boundary difference
    * covering \ interior, the level-k fan-out (bounded by the maxDimRows
    * budget) and the interior flag of each level-k cell.
    */
  def polygonDimTable(spark: SparkSession, polygons: Seq[(Long, S2Region)],
                      level: Int, maxCells: Int = 32,
                      precomputed: Option[Seq[(Long, CellUnion, CellUnion)]] = None): DataFrame = {
    import spark.implicits._
    SpatialJoin.requireDistinctIds(polygons)
    val posOf = polygons.iterator.map(_._1).zipWithIndex.toMap
    val coverings = precomputed.getOrElse(
      SpatialJoin.polygonCoverings(polygons, maxCells))
    coverings.map { case (id, covering, interior) =>
      (posOf(id), id, covering.ids, interior.ids)
    }.toDS()
      .flatMap { case (pos, id, cov, inter) =>
        levelCells(cov, inter, level).map { case (c, in) => (c, id, in, pos) }
      }
      .toDF("cell_lk", "poly_id", "is_interior", "pos")
  }

  /** One polygon's distinct level-k cells, each flagged interior when the
    * whole cell lies in the interior covering.
    *
    * The interior and boundary cells are disjoint, so a cell at or above
    * level k fans out to level-k cells that no other cell reaches, and it
    * passes its own flag on. A finer cell rolls up to its level-k parent,
    * which it does not fill, so that parent needs the refine; several
    * finer cells may share it, hence the distinct.
    */
  private def levelCells(cov: Array[Long], inter: Array[Long],
                         level: Int): Iterator[(Long, Boolean)] = {
    val interior = CellUnion.fromNormalized(inter)
    val boundary = CellUnion.fromNormalized(cov).difference(interior)
    def fanOut(cells: Array[Long], isInterior: Boolean) =
      cells.iterator.filter(CellId.level(_) <= level)
        .flatMap(CellId.cellsAtLevel(_, level).iterator.map(c => (c, isInterior)))
    val rolledUp = (interior.ids.iterator ++ boundary.ids.iterator)
      .filter(CellId.level(_) > level).map(CellId.parent(_, level))
      .toArray.distinct
    fanOut(interior.ids, isInterior = true) ++ fanOut(boundary.ids, isInterior = false) ++
      rolledUp.iterator.map(c => (c, false))
  }

  /** The shuffle-path join itself. Returns points + poly_id. Regions need
    * distinct ids.
    */
  def pipJoinLarge(spark: SparkSession, points: DataFrame,
                   polygons: Seq[(Long, S2Region)],
                   latCol: String = "lat", lngCol: String = "lng",
                   maxDimRows: Long = 2000000L,
                   precomputed: Option[Seq[(Long, CellUnion, CellUnion)]] = None): DataFrame = {
    SpatialJoin.requireDistinctIds(polygons)
    val coverings = precomputed.getOrElse(SpatialJoin.polygonCoverings(polygons))
    val level = chooseLevel(coverings.map(_._2), maxDimRows)
    val dim = polygonDimTable(spark, polygons, level, precomputed = Some(coverings))

    import graft.functions.S2
    // CellId encodes every point with a non-finite coordinate to one
    // corner leaf; such a point is in no region, so it must not reach the
    // exchange keyed to that corner's cell.
    val pts = points
      .filter(SpatialJoin.finite(latCol) && SpatialJoin.finite(lngCol))
      .withColumn("cell_lk",
        S2.parent(S2.cellId(col(latCol), col(lngCol)), lit(level)))

    // The dim side is by definition too large to broadcast (that case is
    // SpatialJoin.pipJoin's covering probe); pin the sort-merge plan so
    // tiny test inputs exercise the same join the operator exists for, and
    // AQE's skew handling applies to hot cells.
    val candidates = pts.join(dim.hint("merge"), "cell_lk")

    val regions = new SpatialJoin.RegionTable(spark, polygons.map(_._2), "pos", "geom")
    val resolve = regions.resolve
    val refine = udf((pos: Int, geom: Array[Byte], lat: Double, lng: Double) =>
      resolve(pos, geom).containsPoint(LatLng.toPointDegrees(lat, lng)))
    regions.attach(candidates)
      .filter(col("is_interior") ||
        refine(col("pos"), col("geom"), col(latCol), col(lngCol)))
      .drop("cell_lk", "is_interior", "pos", "geom")
  }
}
