package graft.ops

import java.util.concurrent.atomic.AtomicReferenceArray
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Distributed point-in-polygon / rect / radius / kNN joins.
  *
  * Region contract of the PIP join: pipJoin is its one entry point. It
  * takes (id, region) pairs of Loops and Polygons (holes included) with
  * distinct ids (a repeated id fails a require), covers each region once
  * with RegionCoverer.coverings, and refines a boundary candidate with the
  * region's own containsPoint. When the covering index and the geometry
  * fit Spark's spark.sql.autoBroadcastJoinThreshold (estimateBroadcastBytes
  * against broadcastThreshold) it runs the broadcast covering probe below;
  * otherwise it hands the same coverings to
  * ShuffleSpatialJoin.pipJoinLarge, the cell-level sort-merge join. The
  * shuffle path, the overlay join and the distributed coverer ship
  * geometry in one wire form, encodeGeometry: the lossless polygon layout
  * that Codec.decodePolygon reads.
  *
  * Architecture (SURVEY.md §3.1, replacing the reference's in-memory
  * shape index with Spark-native access paths):
  *
  *  - Per region, precompute a RegionCoverer covering and interior
  *    covering once (driver side, embarrassingly parallel over regions).
  *  - Broadcast a CoveringIndex: the reference's (cell, label) index,
  *    core.CellIndex, over every region's interior and boundary cells,
  *    stored as primitive arrays. Its leaf-cell ranges never overlap, so
  *    a point probe is one binary search for the leaf's range plus a walk
  *    up that range's ancestor chain, which lists exactly the covering
  *    cells containing the leaf, however different regions' coverings
  *    overlap. CrossingJoin probes the same index with a line's covering.
  *  - The covering joins index their regions by position (indexByPosition):
  *    the broadcast carries the index, the ids by position and a refine
  *    over arrays by position, computed once per query, so the probe
  *    looks nothing up by id.
  *  - A single narrow map stage probes each point's leaf cell. Points in
  *    *interior* covering cells skip the exact test (the containsCenter
  *    fast path, shapeindex.go:373-470); boundary candidates are refined
  *    exactly (crossing-parity PIP / rect containment / haversine).
  *
  * No shuffle at all: at 10^12 rows on 1000 executors this is a pure
  * map-side join, and the only data motion is the broadcast (O(regions *
  * maxCells) entries). Skewed hot cells cost nothing here because there
  * is no partitioning by cell — each input split probes independently.
  *
  * The kNN join is the radius join with one radius per query, read off a
  * histogram of the points per cell before the join (knnJoin).
  */
object SpatialJoin {

  /** Broadcastable covering index: a CellIndex over every region's
    * interior and boundary cells, labelled 2 * position + isInterior, and
    * one packed entry per label, regionId << 1 | isInterior. Probe it with
    * a leaf (candidates) or with a covering (intersecting).
    */
  final class CoveringIndex private (cells: CellIndex, packed: Array[Long],
                                     val levels: Array[Int]) extends Serializable {

    /** Candidate (regionId, isInterior) pairs for a leaf cell, packed as
      * regionId << 1 | interiorBit, coarsest covering cell first. A region
      * appears twice if its interior and boundary cells overlap; callers
      * dedup.
      */
    def candidates(leaf: Long): Array[Long] = {
      val labels = cells.labelsContaining(leaf)
      if (labels.length == 0) return CoveringIndex.emptyLongs
      val out = new Array[Long](labels.length)
      var i = 0
      while (i < labels.length) { out(i) = packed(labels(i)); i += 1 }
      out
    }

    /** The distinct ids of the regions whose covering intersects the
      * union, in build order.
      */
    def intersecting(covering: CellUnion): Array[Long] = {
      val hit = new java.util.BitSet(packed.length >> 1)
      cells.visitIntersectingCells(covering, (_, label) => { hit.set(label >> 1); true })
      hit.stream().mapToLong(r => packed(r << 1) >> 1).toArray
    }
  }

  object CoveringIndex {
    private[SpatialJoin] val emptyLongs = Array.empty[Long]

    /** Build from (regionId, covering, interiorCovering) triples. */
    def build(entries: Seq[(Long, CellUnion, CellUnion)]): CoveringIndex = {
      val cells = new CellIndex
      val packed = new Array[Long](2 * entries.size)
      var levels = 0
      for (((id, covering, interior), r) <- entries.iterator.zipWithIndex) {
        packed(2 * r) = id << 1
        packed(2 * r + 1) = (id << 1) | 1L
        val boundary = covering.difference(interior)
        cells.addCellUnion(interior, 2 * r + 1)
        cells.addCellUnion(boundary, 2 * r)
        (interior.ids.iterator ++ boundary.ids.iterator)
          .foreach(c => levels |= 1 << CellId.level(c))
      }
      cells.build()
      new CoveringIndex(cells, packed,
        (0 to CellId.MaxLevel).filter(l => (levels & (1 << l)) != 0).toArray)
    }
  }

  /** The covering index of the covering joins: region i of `coverings`
    * is indexed as id i, so candidates carry positions.
    */
  private[ops] def indexByPosition(
      coverings: Seq[(Long, CellUnion, CellUnion)]): CoveringIndex =
    CoveringIndex.build(coverings.zipWithIndex.map { case ((_, c, ic), pos) =>
      (pos.toLong, c, ic) })

  /** Spark's spark.sql.autoBroadcastJoinThreshold: the one broadcast
    * budget of the spatial joins (a negative value broadcasts nothing).
    */
  private[ops] def broadcastThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Generic covering join: emits `outCol` with the id of every region
    * containing the point, refining boundary candidates with
    * `refine(position, lat, lng)`, where a position indexes `coverings`.
    */
  private def coveringJoin(spark: SparkSession, points: DataFrame,
                           coverings: Seq[(Long, CellUnion, CellUnion)],
                           refine: (Int, Double, Double) => Boolean,
                           outCol: String, latCol: String, lngCol: String): DataFrame = {
    val bc = spark.sparkContext.broadcast(
      (indexByPosition(coverings), coverings.map(_._1).toArray, refine))
    // Native codegen expression (not a ScalaUDF): the probe runs inside
    // whole-stage codegen with primitive doubles, no boxing/encoder hops.
    val matcher = graft.functions.ColumnBridge.column(
      graft.functions.CoveringProbeExpr(
        graft.functions.ColumnBridge.expression(col(latCol)),
        graft.functions.ColumnBridge.expression(col(lngCol)), bc))
    points.withColumn(outCol, explode(matcher))
  }

  /** Fails, naming the id, when two regions share an id: the join output
    * identifies a region by it.
    */
  private[ops] def requireDistinctIds(regions: Seq[(Long, S2Region)]): Unit = {
    val seen = new scala.collection.mutable.HashSet[Long]
    regions.foreach { case (id, _) =>
      require(seen.add(id), s"region id $id appears more than once; PIP join region ids must be distinct")
    }
  }

  /** Covering + interior covering per region — computed once and shared
    * between the size estimate and whichever join path runs (covering is
    * the dominant driver-side cost at real dimension-table sizes).
    */
  def polygonCoverings(polygons: Seq[(Long, S2Region)],
                       maxCells: Int = 32): Seq[(Long, CellUnion, CellUnion)] = {
    val coverer = RegionCoverer(maxCells = maxCells)
    polygons.map { case (id, region) =>
      val (c, ic) = coverer.coverings(region)
      (id, c, ic)
    }
  }

  /** Coverings computed ON THE EXECUTORS: at real dimension-table sizes
    * (10^4+ polygons) the serial per-polygon RegionCoverer work dominates
    * the driver. Geometry ships out in the join wire form
    * (encodeGeometry); only the (id, covering, interiorCovering) triples
    * come back (bounded: <= 3*maxCells cells per polygon). A one-loop
    * polygon covers exactly as its loop does, so the output is identical
    * to the driver-side polygonCoverings at any parallelism; ids are
    * re-sorted to keep downstream iteration order stable.
    */
  def polygonCoveringsDistributed(spark: SparkSession,
                                  polygons: Seq[(Long, S2Region)],
                                  maxCells: Int = 32): Seq[(Long, CellUnion, CellUnion)] = {
    val enc = polygons.map { case (id, region) => (id, encodeGeometry(region)) }
    val slices = math.max(spark.sparkContext.defaultParallelism,
      math.min(256, enc.size / 64 + 1))
    spark.sparkContext.parallelize(enc, slices)
      .map { case (id, bytes) =>
        val (c, ic) = RegionCoverer(maxCells = maxCells).coverings(Codec.decodePolygon(bytes))
        (id, c, ic)
      }
      .collect().toSeq.sortBy(_._1)
  }

  /** Estimated broadcast payload of the covering-index path: covering +
    * interior cells (16 B of packed entry + key share each) plus the wire
    * size of every geometry (broadcast once per polygon for the refine).
    */
  def estimateBroadcastBytes(polygons: Seq[(Long, S2Region)],
                             coverings: Seq[(Long, CellUnion, CellUnion)]): Long =
    polygons.iterator.zip(coverings.iterator).map { case ((_, region), (_, c, ic)) =>
      16L * (c.size + ic.size) + 24L * numVertices(region) + 64L
    }.sum

  /** Inner PIP join: adds `poly_id`, one row per (point, containing
    * region). Loops and Polygons with holes take the same path; the
    * boundary refine is the region's containsPoint. The regions are
    * covered once; the broadcast covering probe runs when its estimated
    * payload fits broadcastThreshold, the cell-level sort-merge join
    * (ShuffleSpatialJoin.pipJoinLarge) otherwise.
    */
  def pipJoin(spark: SparkSession, points: DataFrame, polygons: Seq[(Long, S2Region)],
              latCol: String = "lat", lngCol: String = "lng",
              maxCells: Int = 32): DataFrame = {
    requireDistinctIds(polygons)
    val coverings = polygonCoverings(polygons, maxCells)
    if (estimateBroadcastBytes(polygons, coverings) <= broadcastThreshold(spark)) {
      val regions = polygons.map(_._2).toArray
      coveringJoin(spark, points, coverings,
        (pos, lat, lng) => regions(pos).containsPoint(LatLng.toPointDegrees(lat, lng)),
        "poly_id", latCol, lngCol)
    } else
      ShuffleSpatialJoin.pipJoinLarge(spark, points, polygons, latCol, lngCol,
        precomputed = Some(coverings))
  }

  /** Lat/lng-rectangle join: adds `rect_id`. Rects as (id, latLo, lngLo,
    * latHi, lngHi) degrees.
    */
  def rectJoin(spark: SparkSession, points: DataFrame,
               rects: Seq[(Long, Double, Double, Double, Double)],
               latCol: String = "lat", lngCol: String = "lng",
               maxCells: Int = 32): DataFrame = {
    val regions = rects.map { case (id, latLo, lngLo, latHi, lngHi) =>
      id -> RectRegion.fromDegrees(latLo, lngLo, latHi, lngHi)
    }
    val byPos = regions.map(_._2.rect).toArray
    // The refine, like SQL's BETWEEN on degrees, matches no point outside
    // [-90, 90] x [-180, 180]; dropping such points before the probe keeps
    // interior covering cells from admitting them.
    val inRange = points.filter(abs(col(latCol) * LatLng.DegToRad) <= math.Pi / 2 &&
      abs(col(lngCol) * LatLng.DegToRad) <= math.Pi)
    coveringJoin(spark, inRange, polygonCoverings(regions, maxCells),
      (pos, lat, lng) => byPos(pos).containsLatLng(
        lat * LatLng.DegToRad, lng * LatLng.DegToRad),
      "rect_id", latCol, lngCol)
  }

  /** Fails, naming the query, unless the query ids are distinct and
    * every centre is finite.
    */
  private def requireQueries(queries: Seq[(Long, Double, Double)], join: String): Unit = {
    val seen = new scala.collection.mutable.HashSet[Long]
    queries.foreach { case (id, lat, lng) =>
      require(seen.add(id), s"query id $id appears more than once; $join query ids must be distinct")
      require(java.lang.Double.isFinite(lat) && java.lang.Double.isFinite(lng),
        s"query id $id has a non-finite coordinate ($lat, $lng)")
    }
  }

  /** The caps of radius-join discs (id, lat, lng, radiusMeters), after
    * requireQueries and a check that each radius is finite and not
    * negative. A radius past half the circumference is legal: its cap is
    * the whole sphere.
    */
  private def discCaps(queries: Seq[(Long, Double, Double, Double)]): Seq[(Long, Cap)] = {
    requireQueries(queries.map(q => (q._1, q._2, q._3)), "radius join")
    queries.map { case (id, qlat, qlng, rm) =>
      require(rm >= 0 && rm < Double.PositiveInfinity,
        s"query id $id has radius $rm m; a radius must be finite and not negative")
      id -> Cap.fromCenterRadians(
        LatLng.toPointDegrees(qlat, qlng), Earth.angleFromMeters(rm))
    }
  }

  /** Radius join: adds `query_id` for each disc (id, lat, lng,
    * radiusMeters) containing the point. Fails fast, before any Spark
    * job, on a repeated query id, a non-finite centre, or a NaN, negative
    * or infinite radius.
    */
  def radiusJoin(spark: SparkSession, points: DataFrame,
                 queries: Seq[(Long, Double, Double, Double)],
                 latCol: String = "lat", lngCol: String = "lng",
                 maxCells: Int = 16): DataFrame = {
    val caps = discCaps(queries)
    val qLat = queries.map(_._2 * LatLng.DegToRad).toArray
    val qLng = queries.map(_._3 * LatLng.DegToRad).toArray
    val angle = queries.map(q => Earth.angleFromMeters(q._4)).toArray
    coveringJoin(spark, points, polygonCoverings(caps, maxCells),
      (pos, lat, lng) => LatLng.distance(lat * LatLng.DegToRad, lng * LatLng.DegToRad,
        qLat(pos), qLng(pos)) <= angle(pos),
      "query_id", latCol, lngCol)
  }

  // ------------------------------------------------------------------
  // Join wire form: how the region tables and the distributed coverer
  // ship a region; executors decode it with Codec.decodePolygon.

  private def requireWireForm(region: S2Region): Unit =
    require(region.isInstanceOf[Loop] || region.isInstanceOf[Polygon],
      s"join geometry must be a Loop or a Polygon, got ${region.getClass.getSimpleName}")

  private def numVertices(region: S2Region): Int = {
    requireWireForm(region)
    region match {
      case l: Loop => l.numVertices
      case p: Polygon => p.loops.map(_.numVertices).sum
    }
  }

  /** A join region in the lossless polygon layout, which
    * Codec.decodePolygon reads: a Polygon as itself, a Loop as a one-loop
    * polygon. Regions other than Loop and Polygon fail a require.
    */
  private[graft] def encodeGeometry(region: S2Region): Array[Byte] = {
    requireWireForm(region)
    region match {
      case l: Loop => Codec.encodeLoopAsPolygon(l)
      case p: Polygon => Codec.encodePolygonLossless(p)
    }
  }

  /** The region table of a cell-keyed join (the shuffle PIP join, the
    * overlay join): one join's regions in the wire form, indexed by their
    * position in the caller's list, so join rows carry a position and
    * never the geometry. Two operations: `attach` adds the column `geomCol`
    * to a DataFrame that carries the position column `posCol`, and
    * `resolve`, inside a UDF, turns a position and that column into the
    * decoded region.
    *
    * When the wire bytes fit broadcastThreshold the table is broadcast,
    * `geomCol` is null, and each region is decoded on first use, for all
    * tasks of the executor. Decoded regions are larger than their wire
    * bytes (2.4x for 16-gons, 5.4x for 64-gons once their edge indexes
    * exist), and they stay as long as the broadcast does. Otherwise
    * `attach` sort-merge joins the rows to the (posCol, geomCol) table and
    * a task decodes each region once per run of equal positions. Spark
    * sizes a local binary column at a fixed width per row, so the choice
    * reads the real wire bytes.
    */
  private[ops] final class RegionTable(spark: SparkSession, regions: Seq[S2Region],
                                       posCol: String, geomCol: String) {
    private val wire = regions.iterator.map(encodeGeometry).toArray
    private val fits = wire.iterator.map(_.length.toLong).sum <= broadcastThreshold(spark)

    /** The region at a position, given the row's `geomCol`. It is
      * serializable and the table is not, so a UDF captures this value
      * bound to a local, never the table.
      */
    val resolve: (Int, Array[Byte]) => Polygon =
      if (fits) {
        val decoded = spark.sparkContext.broadcast(new RegionArray(wire))
        (pos, _) => decoded.value(pos)
      } else new RunSlot

    def attach(df: DataFrame): DataFrame =
      if (fits) df.withColumn(geomCol, lit(null).cast("binary"))
      else {
        import spark.implicits._
        df.join(wire.toSeq.zipWithIndex.map(_.swap).toDF(posCol, geomCol).hint("merge"),
          posCol)
      }
  }

  /** Broadcast region table: wire-form regions indexed by position, each
    * decoded on first use and then shared by every task of the executor.
    */
  private final class RegionArray(wire: Array[Array[Byte]]) extends Serializable {
    @transient private lazy val decoded = new AtomicReferenceArray[Polygon](wire.length)

    def apply(pos: Int): Polygon = {
      var p = decoded.get(pos)
      if (p == null) {
        p = Codec.decodePolygon(wire(pos))
        decoded.set(pos, p)
      }
      p
    }
  }

  /** The region of the current run of equal positions; within one join a
    * position names one region. The position and its decoded region are
    * one immutable pair in one field, so a thread that shares the slot
    * sees a matching pair and at worst decodes again.
    */
  private final class RunSlot extends ((Int, Array[Byte]) => Polygon) with Serializable {
    @volatile private var run: (Int, Polygon) = (-1, null)

    def apply(pos: Int, geom: Array[Byte]): Polygon = {
      val cur = run
      if (cur._1 == pos) cur._2
      else {
        val region = Codec.decodePolygon(geom)
        run = (pos, region)
        region
      }
    }
  }

  // ------------------------------------------------------------------
  // kNN join: a point histogram picks each query's radius, and one
  // radiusJoin answers every query.

  /** The level of the kNN join's point histogram. The histogram has at
    * most one row per level-8 cell: 6 * 4^8 = 393,216 (cell, count) rows,
    * about 6 MB, collected into the calling JVM.
    */
  private[ops] final val KnnLevel = 8

  /** Cells of the interior covering that counts a radius's points. */
  private final val KnnCountCells = 16

  /** Relative widening of a counted radius before the join. A point in a
    * cell inside the radius may have a computed haversine an ulp above
    * it, and the join's refine reads the computed value.
    */
  private[ops] final val KnnMargin = 1e-9

  /** Keeps, as a filter, the rows whose `c` is finite: a null, NaN or
    * infinite coordinate is dropped.
    */
  private[ops] def finite(c: String): Column =
    !isnan(col(c)) && abs(col(c)) =!= Double.PositiveInfinity

  /** Points per level-KnnLevel cell, sorted by cell id, with prefix sums:
    * the points under a coarser cell are two binary searches away.
    */
  private[ops] final class CellCounts(cells: Array[Long], counts: Array[Long]) {
    // Flipping the sign bit turns unsigned cell-id order into signed order.
    private val order = cells.indices.sortBy(i => cells(i) ^ Long.MinValue).toArray
    private val keys = order.map(i => cells(i) ^ Long.MinValue)
    private val prefix = order.scanLeft(0L)(_ + counts(_))

    def total: Long = prefix.last

    /** Points in the cells of a union of cells at level KnnLevel or
      * coarser. A cell's range ends are leaves, never a key, so each
      * search returns an insertion point.
      */
    def within(cover: CellUnion): Long = cover.ids.iterator.map { c =>
      prefix(-1 - java.util.Arrays.binarySearch(keys, CellId.rangeMax(c) ^ Long.MinValue)) -
        prefix(-1 - java.util.Arrays.binarySearch(keys, CellId.rangeMin(c) ^ Long.MinValue))
    }.sum
  }

  /** The kNN join's histogram: one aggregate over the rows that the
    * join can match, those whose lat, lng and `endCols` (a segment's end
    * vertex) are all finite, counted at the level-KnnLevel cell of (latCol,
    * lngCol). (CellId encodes a non-finite point to a corner leaf;
    * counted, it would let a query choose a radius holding fewer than k
    * matchable rows.)
    */
  private[ops] def cellCounts(points: DataFrame, latCol: String, lngCol: String,
                              endCols: Seq[String] = Nil): CellCounts = {
    val rows = points.filter((latCol +: lngCol +: endCols).map(finite).reduce(_ && _))
      .groupBy(graft.functions.S2.parent(
        graft.functions.S2.cellId(col(latCol), col(lngCol)), lit(KnnLevel)))
      .count().collect()
    new CellCounts(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** A query's search radius in radians: the first rung of the ladder
    * w, 2w, 4w, ... below π (w, the minimum width of a level-KnnLevel
    * cell) whose cap's interior covering at maxLevel KnnLevel holds at
    * least k counted points, or π, the whole sphere, when none does.
    * Every point in an interior cell lies within the rung, so the cap
    * holds the query's k nearest points.
    */
  private[ops] def knnRadius(counts: CellCounts, lat: Double, lng: Double, k: Int): Double =
    if (counts.total < k) math.Pi
    else {
      val center = LatLng.toPointDegrees(lat, lng)
      val coverer = RegionCoverer(maxLevel = KnnLevel, maxCells = KnnCountCells)
      Iterator.iterate(Metric.MinWidth.value(KnnLevel))(_ * 2).takeWhile(_ < math.Pi)
        .find(r => counts.within(
          coverer.interiorCovering(Cap.fromCenterRadians(center, r))) >= k)
        .getOrElse(math.Pi)
    }

  /** The radius radiusJoin takes for a counted radius: widened by
    * KnnMargin, so π comes back from meters as more than π, a cap holding
    * the antipode.
    */
  private[ops] def knnJoinMeters(radius: Double): Double =
    Earth.metersFromAngle(radius * (1 + KnnMargin))

  /** kNN join: for each query (id, lat, lng) in degrees, its k nearest
    * rows, ranked by distance and then by `tieBreakCols`. Adds `query_id`,
    * `q_lat`, `q_lng`, `dist_rad` (radians) and `knn_rank` (1..k); a query
    * with fewer than k matchable rows gets them all. A row with a
    * non-finite coordinate never matches.
    *
    * A row is a point at (latCol, lngCol), ranked by haversine distance,
    * or, when `endLatCol` and `endLngCol` are given, the geodesic segment
    * from (latCol, lngCol) to (endLatCol, endLngCol), ranked by
    * EdgeDistances.distanceFromSegment, the angle to its closest point.
    *
    * The plan is the paper's cell-ring expansion with the rings counted
    * before the join; the output scans the rows once:
    *
    *  1. One aggregate counts the finite rows per level-KnnLevel cell of
    *     (latCol, lngCol), a segment's first vertex (cellCounts); it is the
    *     call's only Spark action.
    *  2. In the calling JVM (queries are small by contract), each query takes
    *     knnRadius: the smallest rung of a doubling ladder whose interior
    *     covering holds k rows, or π. A counted row has a point in a cell
    *     the rung's cap contains, so it lies within the rung.
    *  3. One join with each radius widened by KnnMargin. It emits every row
    *     whose computed distance is within the radius, so every row that
    *     ranks at or before the k-th, ties included. Points take
    *     radiusJoin, the broadcast covering probe. A segment covers itself
    *     and probes CoveringIndex.intersecting with its covering over the
    *     caps' coverings (segmentRadiusJoin): a segment within the radius
    *     shares a point with the cap, and that point lies in a cell of
    *     both coverings.
    *  4. A broadcast join attaches q_lat/q_lng; a window per query keeps
    *     the first k by (dist_rad, tieBreakCols).
    *
    * Fails fast unless k >= 1, both end columns or neither are given, and
    * the query ids are distinct and their coordinates finite.
    */
  def knnJoin(spark: SparkSession, points: DataFrame,
              queries: Seq[(Long, Double, Double)], k: Int,
              latCol: String = "lat", lngCol: String = "lng",
              tieBreakCols: Seq[String] = Nil,
              endLatCol: String = null, endLngCol: String = null): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(k >= 1, s"kNN join k must be at least 1, got $k")
    require((endLatCol == null) == (endLngCol == null),
      s"kNN join needs both segment end columns or neither, got ($endLatCol, $endLngCol)")
    requireQueries(queries, "kNN")
    val endCols = Option(endLatCol).toSeq ++ Option(endLngCol)
    val counts = cellCounts(points, latCol, lngCol, endCols)
    val discs = queries.map { case (id, lat, lng) =>
      (id, lat, lng, knnJoinMeters(knnRadius(counts, lat, lng, k)))
    }
    val order = col("dist_rad").asc +: tieBreakCols.map(col(_).asc)
    val qs = broadcast(queries.toDF("query_id", "q_lat", "q_lng"))
    val ranked =
      if (endCols.nonEmpty)
        segmentRadiusJoin(spark, points, discs, latCol +: lngCol +: endCols).join(qs, "query_id")
      else
        radiusJoin(spark, points, discs, latCol, lngCol).join(qs, "query_id")
          .withColumn("dist_rad",
            graft.functions.S2.distance(col("q_lat"), col("q_lng"), col(latCol), col(lngCol)))
    ranked
      .withColumn("knn_rank",
        row_number().over(Window.partitionBy("query_id").orderBy(order: _*)))
      .filter(col("knn_rank") <= k)
  }

  /** knnJoin's join for segment rows: adds `query_id` and `dist_rad` for
    * each disc within whose radius the segment from (coordCols(0),
    * coordCols(1)) to (coordCols(2), coordCols(3)) passes. The discs'
    * caps are broadcast in a CoveringIndex; each row covers its 2-vertex
    * Polyline and refines the caps whose covering meets its own with
    * EdgeDistances.distanceFromSegment.
    */
  private def segmentRadiusJoin(spark: SparkSession, segments: DataFrame,
                                discs: Seq[(Long, Double, Double, Double)],
                                coordCols: Seq[String]): DataFrame = {
    val caps = discCaps(discs)
    val bc = spark.sparkContext.broadcast((
      indexByPosition(polygonCoverings(caps, maxCells = 16)),
      caps.map(_._1).toArray,
      caps.map(_._2.center).toArray,
      discs.map(d => Earth.angleFromMeters(d._4)).toArray))
    val hits = udf((lat: Double, lng: Double, endLat: Double, endLng: Double) => {
      val (index, ids, centers, angles) = bc.value
      if (!Seq(lat, lng, endLat, endLng).forall(java.lang.Double.isFinite)) Seq.empty[(Long, Double)]
      else {
        val a = LatLng.toPointDegrees(lat, lng)
        val b = LatLng.toPointDegrees(endLat, endLng)
        index.intersecting(RegionCoverer().covering(new Polyline(Array(a, b)))).toSeq.flatMap { r =>
          val pos = r.toInt
          val d = EdgeDistances.distanceFromSegment(centers(pos), a, b)
          if (d <= angles(pos)) Some((ids(pos), d)) else None
        }
      }
    })
    segments
      .withColumn("knn_hit", explode(hits(coordCols.map(col): _*)))
      .withColumn("query_id", col("knn_hit._1"))
      .withColumn("dist_rad", col("knn_hit._2"))
      .drop("knn_hit")
  }
}
