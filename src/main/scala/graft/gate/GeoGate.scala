package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Local
import graft.core.{CellId, Earth, LatLng, Loop, Polygon, Polyline, PolylineAlignment,
  RegionCoverer, WebMercator}
import graft.functions.S2
import graft.ops.{CrossingJoin, OverlayJoin, ShuffleSpatialJoin, SpatialJoin}
import graft.sources.PagesSource
import Inputs._

/** Gated geo queries: covering joins, cell encode/aggregation, tiling,
  * edge queries and trajectory alignment over the deterministic pages
  * fixture (sources/PagesSource.scala). The oracle reads the same parquet
  * bytes, so set-equality of output rows is a true correctness check.
  */
object GeoGate {

  /** The 8 city admin polygons: regular 64-gons, radius 25..400 km
    * (FIXTURES.md §2). Deterministic given the fixed city centers.
    */
  def cityPolygons: Seq[(Long, Loop)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      val radiusMeters = 25000.0 * (1 << (i % 5)) // 25,50,100,200,400 km
      (i.toLong,
        Loop.regularLoop(LatLng.toPointDegrees(lat, lng),
          Earth.angleFromMeters(radiusMeters), 64))
    }

  /** Annulus (ring) polygons: 200 km shell with an 80 km hole, both
    * regular 64-gons; exercises multi-loop parity containment.
    */
  def cityAnnuli: Seq[(Long, Polygon)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      val c = LatLng.toPointDegrees(lat, lng)
      val shell = Loop.regularLoop(c, Earth.angleFromMeters(200000), 64)
      val hole = Loop.regularLoop(c, Earth.angleFromMeters(80000), 64)
      (i.toLong, Polygon.fromLoops(Seq(shell, hole)))
    }

  /** Overlay fixture set A: convex regular 24-gons around the cities with
    * growing radii. Convexity makes every pairwise relation expressible
    * in SQL from baked vertex/edge-normal literals; radii and offsets are
    * chosen so every pair has km-scale margins from the contain/overlap/
    * disjoint decision boundaries.
    */
  def overlayPolysA: Seq[(Long, Polygon)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      (i.toLong, Polygon.fromLoops(Seq(
        Loop.regularLoop(LatLng.toPointDegrees(lat, lng),
          Earth.angleFromMeters((50.0 + 30.0 * i) * 1000), 24))))
    }

  /** Overlay fixture set B: small 24-gons offset north of each city
    * (contained by the bigger A polys, overlapping the smallest) plus
    * four disjoint polygons shifted 5 degrees east.
    */
  def overlayPolysB: Seq[(Long, Polygon)] = {
    val near = PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      (i.toLong, Polygon.fromLoops(Seq(
        Loop.regularLoop(LatLng.toPointDegrees(lat + 0.3, lng),
          Earth.angleFromMeters(30000), 24))))
    }
    val far = (0 until 4).map { i =>
      val (lat, lng) = PagesSource.cities(i)
      ((8 + i).toLong, Polygon.fromLoops(Seq(
        Loop.regularLoop(LatLng.toPointDegrees(lat, lng + 5.0),
          Earth.angleFromMeters(60000), 24))))
    }
    near ++ far
  }

  /** Dimension-scale PIP fixture: 10,000 deterministic convex 16-gons
    * (2-15 km radius) scattered within +-3 degrees of the 8 city centers —
    * far past the broadcast budget, so the shuffle path is the only plan.
    * Radii/spread are sized so the full join emits ~300k rows at sf0.1
    * (enough to exercise every path, not so dense that the sweep is
    * dominated by writing match rows). Every 250th polygon is the oracle
    * sample (40 polygons whose edge normals are feasible to bake into
    * convex SQL).
    */
  lazy val tenKPolys: Seq[(Long, Loop)] = {
    val rng = new scala.util.Random(777)
    (0 until 10000).map { i =>
      val (cLat, cLng) = PagesSource.cities(i % 8)
      val lat = cLat + (rng.nextDouble() * 6 - 3)
      val lng = cLng + (rng.nextDouble() * 6 - 3)
      val radius = 2000.0 + rng.nextDouble() * 13000.0
      (i.toLong, Loop.regularLoop(LatLng.toPointDegrees(lat, lng),
        Earth.angleFromMeters(radius), 16))
    }
  }

  /** Large-polygon PIP fixture: a 4096-vertex regular loop (300 km around
    * New York) — forces the indexed refine path (>32 vertices).
    */
  def coastLoop: Loop = Loop.regularLoop(
    LatLng.toPointDegrees(40.7128, -74.0060),
    Earth.angleFromMeters(300000), 4096)

  /** Deterministic trajectory fixtures for the edge-kNN query: 12 chains
    * of 5 (lat, lng) degree vertices seeded from the city list.
    */
  private def trajectoryLatLngs: Seq[(Long, Seq[(Double, Double)])] =
    (0 until 12).map { i =>
      val (cLat, cLng) = PagesSource.cities(i % 8)
      val rng = new scala.util.Random(1000 + i)
      var lat = cLat + rng.nextDouble() * 2 - 1
      var lng = cLng + rng.nextDouble() * 2 - 1
      val pts = Seq.fill(5) {
        lat += (rng.nextDouble() - 0.5) * 0.8
        lng += (rng.nextDouble() - 0.5) * 0.8
        (lat, lng)
      }
      (i.toLong, pts)
    }

  /** The trajectory fixtures as polylines. */
  def trajectoryLines: Seq[(Long, Polyline)] =
    trajectoryLatLngs.map { case (id, pts) => (id, Polyline.fromLatLngsDegrees(pts)) }

  /** City-center rectangles for the rect join (3x2 degrees, no wrap). */
  def cityRects: Seq[(Long, Double, Double, Double, Double)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      (i.toLong, lat - 1.0, lng - 1.5, lat + 1.0, lng + 1.5)
    }

  /** SQL oracle predicate for convex-polygon PIP: point strictly inside iff
    * every edge normal has positive dot product with the point. The edge
    * normals are baked into the SQL as double literals, so DuckDB checks
    * the same geometry without any S2 code.
    */
  private def convexPipSql(loop: Loop): String = {
    val n = loop.numVertices
    val terms = (0 until n).map { i =>
      val a = loop.vertex(i)
      val b = loop.vertex(i + 1)
      val nrm = a.cross(b)
      f"(${nrm.x}%.17g*px + ${nrm.y}%.17g*py + ${nrm.z}%.17g*pz > 0)"
    }
    terms.mkString("(", " AND ", ")")
  }

  val parseGeoSqlLat =
    "CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 1) AS DOUBLE)"
  val parseGeoSqlLng =
    "CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 2) AS DOUBLE)"

  /** Common oracle CTE: pages with parsed lat/lng and unit vector. */
  def pagesCte: String =
    s"""WITH pages AS (
       |  SELECT url, text,
       |    $parseGeoSqlLat AS lat,
       |    $parseGeoSqlLng AS lng
       |  FROM read_parquet('$oraclePages')
       |), pts AS (
       |  SELECT url, lat, lng,
       |    cos(radians(lng))*cos(radians(lat)) AS px,
       |    sin(radians(lng))*cos(radians(lat)) AS py,
       |    sin(radians(lat)) AS pz
       |  FROM pages
       |)""".stripMargin

  /** Oracle CTEs over `pts` ending in `st(face, s, t)`: each page's cube
    * face and (s, t) by the pure quadratic-ST projection, with no Hilbert
    * curve, so cell (face, i, j) keys are derivable in SQL.
    */
  private def faceStCte: String =
    s"""$pagesCte, f1 AS (
       |  SELECT CASE WHEN abs(px) > abs(py)
       |    THEN (CASE WHEN abs(px) > abs(pz) THEN 0 ELSE 2 END)
       |    ELSE (CASE WHEN abs(py) > abs(pz) THEN 1 ELSE 2 END) END AS axis,
       |    px, py, pz FROM pts),
       | f2 AS (SELECT CASE WHEN axis = 0 AND px < 0 THEN 3
       |    WHEN axis = 1 AND py < 0 THEN 4
       |    WHEN axis = 2 AND pz < 0 THEN 5 ELSE axis END AS face,
       |    px, py, pz FROM f1),
       | uv AS (SELECT face,
       |  CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz
       |    WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS u,
       |  CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz
       |    WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS v
       |  FROM f2),
       | st AS (SELECT face,
       |  CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
       |  CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t
       |  FROM uv)""".stripMargin

  /** Pages strictly inside each convex loop, one UNION ALL branch per loop. */
  private def convexPipJoinSql(polys: Seq[(Long, Loop)]): String = {
    val branches = polys.map { case (id, loop) =>
      s"SELECT url, $id AS poly_id FROM pts WHERE ${convexPipSql(loop)}"
    }
    s"$pagesCte ${branches.mkString(" UNION ALL ")}"
  }

  /** Oracle of the city-polygon PIP join, whatever plan runs it. */
  def pipCitySql: String = convexPipJoinSql(cityPolygons)

  /** Fixed, fixture-keyed path where q_tile_covering emits its covering
    * cells as (face, leaf-ij box) rows, so the static oracle SQL can read
    * them back and re-derive the audit booleans in pure SQL.
    */
  def tileCoveringCellsPath(dir: String): String =
    s"${Local.workDir}/tile_cov_cells_n${PagesSource.rowsForScale(dir)}.parquet"

  /** Each city center's 3 closest trajectory segments, or, at the city's
    * antipode, its 3 farthest: the farthest point of an arc from p is the
    * closest to -p (edge_distances.go:60-72). One SpatialJoin.knnJoin over
    * the segments (line_id, seg_id, a, b), ranked by (distance, line_id,
    * seg_id).
    */
  private def segmentRank(s: SparkSession, antipodes: Boolean): DataFrame = {
    import s.implicits._
    val segments = trajectoryLatLngs.flatMap { case (id, pts) =>
      pts.zip(pts.tail).zipWithIndex.map { case (((aLat, aLng), (bLat, bLng)), k) =>
        (id, k.toLong, aLat, aLng, bLat, bLng)
      }
    }.toDF("line_id", "seg_id", "a_lat", "a_lng", "b_lat", "b_lng")
    val queries = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
      if (antipodes) (i.toLong, -la, if (ln > 0) ln - 180 else ln + 180)
      else (i.toLong, la, ln)
    }
    SpatialJoin.knnJoin(s, segments, queries, k = 3, "a_lat", "a_lng",
        tieBreakCols = Seq("line_id", "seg_id"), endLatCol = "b_lat", endLngCol = "b_lng")
      .select(col("query_id"), col("line_id"), col("seg_id"),
        col("knn_rank").cast("long").as("rank"))
  }

  /** VALUES rows "(poly, idx, x, y, z)" for single-loop polygon sets. */
  private def polyVertexValues(polys: Seq[(Long, Polygon)]): String =
    polys.flatMap { case (id, p) =>
      val loop = p.loops(0)
      (0 until loop.numVertices).map { k =>
        val v = loop.vertex(k)
        f"($id, $k, ${v.x}%.17e, ${v.y}%.17e, ${v.z}%.17e)"
      }
    }.mkString(", ")

  /** Oracle for the polygon-overlap join over convex fixtures: edge
    * normals from the baked vertices; containment = all vertices strictly
    * inside; intersection = edge straddle crossing or vertex containment
    * either way (exact for convex polygons with no shared boundaries).
    */
  private def polyOverlapSql: String = {
    val nA = 24
    s"""WITH va(poly, idx, x, y, z) AS (VALUES ${polyVertexValues(overlayPolysA)}),
       | vb(poly, idx, x, y, z) AS (VALUES ${polyVertexValues(overlayPolysB)}),
       | na AS (SELECT a.poly, a.idx,
       |   a.y*b.z - a.z*b.y AS nx, a.z*b.x - a.x*b.z AS ny, a.x*b.y - a.y*b.x AS nz,
       |   a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS byy, b.z AS bz
       |   FROM va a JOIN va b ON a.poly = b.poly AND b.idx = (a.idx + 1) % $nA),
       | nb AS (SELECT a.poly, a.idx,
       |   a.y*b.z - a.z*b.y AS nx, a.z*b.x - a.x*b.z AS ny, a.x*b.y - a.y*b.x AS nz,
       |   a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS byy, b.z AS bz
       |   FROM vb a JOIN vb b ON a.poly = b.poly AND b.idx = (a.idx + 1) % $nA),
       | pairs AS (SELECT DISTINCT a.poly AS a_id, b.poly AS b_id FROM va a, vb b),
       | acb AS (SELECT p.a_id, p.b_id FROM pairs p WHERE NOT EXISTS (
       |   SELECT 1 FROM vb v, na e WHERE v.poly = p.b_id AND e.poly = p.a_id
       |     AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0)),
       | bca AS (SELECT p.a_id, p.b_id FROM pairs p WHERE NOT EXISTS (
       |   SELECT 1 FROM va v, nb e WHERE v.poly = p.a_id AND e.poly = p.b_id
       |     AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0)),
       | vtx AS (
       |   SELECT p.a_id, p.b_id FROM pairs p WHERE EXISTS (
       |     SELECT 1 FROM vb v WHERE v.poly = p.b_id AND NOT EXISTS (
       |       SELECT 1 FROM na e WHERE e.poly = p.a_id
       |         AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0))
       |   UNION
       |   SELECT p.a_id, p.b_id FROM pairs p WHERE EXISTS (
       |     SELECT 1 FROM va v WHERE v.poly = p.a_id AND NOT EXISTS (
       |       SELECT 1 FROM nb e WHERE e.poly = p.b_id
       |         AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0))),
       | crossing AS (SELECT p.a_id, p.b_id FROM pairs p WHERE EXISTS (
       |   SELECT 1 FROM na x, nb y WHERE x.poly = p.a_id AND y.poly = p.b_id
       |     AND (x.nx*y.ax + x.ny*y.ay + x.nz*y.az)
       |       * (x.nx*y.bx + x.ny*y.byy + x.nz*y.bz) < 0
       |     AND (y.nx*x.ax + y.ny*x.ay + y.nz*x.az)
       |       * (y.nx*x.bx + y.ny*x.byy + y.nz*x.bz) < 0)),
       | inter AS (SELECT * FROM crossing UNION SELECT * FROM vtx)
       |SELECT i.a_id, i.b_id,
       |  (c1.a_id IS NOT NULL) AS a_contains_b,
       |  (c2.a_id IS NOT NULL) AS b_contains_a
       |FROM inter i
       |LEFT JOIN acb c1 ON c1.a_id = i.a_id AND c1.b_id = i.b_id
       |LEFT JOIN bca c2 ON c2.a_id = i.a_id AND c2.b_id = i.b_id""".stripMargin
  }

  /** Oracle for the 4096-gon PIP: vertices regenerated in SQL with the
    * same frame/radius literals and arithmetic shape as Loop.regularLoop,
    * then the convex all-edge-normals test behind a conservative bbox
    * prefilter.
    */
  private def pipCoastSql: String = {
    val c = LatLng.toPointDegrees(40.7128, -74.0060)
    val z = c
    val y = z.ortho
    val x = y.cross(z)
    val r = Earth.angleFromMeters(300000)
    val sinR = math.sin(r)
    val cosR = math.cos(r)
    val step = 2 * math.Pi / 4096
    val b = coastLoop.bound
    val latLo = b.lat.lo * LatLng.RadToDeg - 0.05
    val latHi = b.lat.hi * LatLng.RadToDeg + 0.05
    val lngLo = b.lng.lo * LatLng.RadToDeg - 0.05
    val lngHi = b.lng.hi * LatLng.RadToDeg + 0.05
    f"""$pagesCte, idx AS (SELECT unnest(range(4096)) AS i),
       | w AS (SELECT i,
       |   ${x.x}%.17e*($sinR%.17e*cos(i*$step%.17e)) + ${y.x}%.17e*($sinR%.17e*sin(i*$step%.17e)) + ${z.x}%.17e*$cosR%.17e AS wx,
       |   ${x.y}%.17e*($sinR%.17e*cos(i*$step%.17e)) + ${y.y}%.17e*($sinR%.17e*sin(i*$step%.17e)) + ${z.y}%.17e*$cosR%.17e AS wy,
       |   ${x.z}%.17e*($sinR%.17e*cos(i*$step%.17e)) + ${y.z}%.17e*($sinR%.17e*sin(i*$step%.17e)) + ${z.z}%.17e*$cosR%.17e AS wz
       |   FROM idx),
       | v AS (SELECT i, wx*(1.0/sqrt(wx*wx + wy*wy + wz*wz)) AS vx,
       |   wy*(1.0/sqrt(wx*wx + wy*wy + wz*wz)) AS vy,
       |   wz*(1.0/sqrt(wx*wx + wy*wy + wz*wz)) AS vz FROM w),
       | e AS (SELECT a.i, a.vy*b.vz - a.vz*b.vy AS nx,
       |   a.vz*b.vx - a.vx*b.vz AS ny, a.vx*b.vy - a.vy*b.vx AS nz
       |   FROM v a JOIN v b ON b.i = (a.i + 1) %% 4096)
       |SELECT url, 0 AS poly_id FROM pts p
       |WHERE p.lat BETWEEN $latLo AND $latHi AND p.lng BETWEEN $lngLo AND $lngHi
       |  AND NOT EXISTS (SELECT 1 FROM e
       |    WHERE e.nx*p.px + e.ny*p.py + e.nz*p.pz <= 0)""".stripMargin
  }

  /** Oracle for the polyline x polygon crossing join. Crossing condition
    * is the reference's full four-orientation test (edge_crosser.go:
    * crossing iff acb == bda == cbd == dac), NOT the naive two-straddle
    * test — for near-antipodal city-pair arcs the naive test false-fires
    * when the line's great circle (but not its minor arc) passes through
    * a polygon on the far side of the sphere.
    */
  private def crossingSql: String = {
    val cities = PagesSource.cities
    val lines = (for { i <- cities.indices; j <- cities.indices if i < j } yield {
      val a = LatLng.toPointDegrees(cities(i)._1, cities(i)._2)
      val b = LatLng.toPointDegrees(cities(j)._1, cities(j)._2)
      f"(${i * 100 + j}, ${a.x}%.17e, ${a.y}%.17e, ${a.z}%.17e, ${b.x}%.17e, ${b.y}%.17e, ${b.z}%.17e)"
    }).mkString(", ")
    val verts = cityPolygons.flatMap { case (id, loop) =>
      (0 until loop.numVertices).map { k =>
        val v = loop.vertex(k)
        f"($id, $k, ${v.x}%.17e, ${v.y}%.17e, ${v.z}%.17e)"
      }
    }.mkString(", ")
    s"""WITH lines(line_id, px, py, pz, qx, qy, qz) AS (VALUES $lines),
       | pv(poly, idx, x, y, z) AS (VALUES $verts),
       | pe AS (SELECT a.poly, a.idx,
       |   a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS byy, b.z AS bz
       |   FROM pv a JOIN pv b ON a.poly = b.poly AND b.idx = (a.idx + 1) % 64),
       | cr AS (SELECT l.line_id, e.poly, CASE WHEN
       |     ((l.py*l.qz - l.pz*l.qy)*e.ax + (l.pz*l.qx - l.px*l.qz)*e.ay + (l.px*l.qy - l.py*l.qx)*e.az)
       |   * ((l.py*l.qz - l.pz*l.qy)*e.bx + (l.pz*l.qx - l.px*l.qz)*e.byy + (l.px*l.qy - l.py*l.qx)*e.bz) < 0
       |   AND
       |     ((l.py*l.qz - l.pz*l.qy)*e.ax + (l.pz*l.qx - l.px*l.qz)*e.ay + (l.px*l.qy - l.py*l.qx)*e.az)
       |   * ((e.ay*e.bz - e.az*e.byy)*l.px + (e.az*e.bx - e.ax*e.bz)*l.py + (e.ax*e.byy - e.ay*e.bx)*l.pz) < 0
       |   AND
       |     ((l.py*l.qz - l.pz*l.qy)*e.ax + (l.pz*l.qx - l.px*l.qz)*e.ay + (l.px*l.qy - l.py*l.qx)*e.az)
       |   * ((e.ay*e.bz - e.az*e.byy)*l.qx + (e.az*e.bx - e.ax*e.bz)*l.qy + (e.ax*e.byy - e.ay*e.bx)*l.qz) > 0
       |   THEN 1 ELSE 0 END AS c
       |   FROM lines l CROSS JOIN pe e),
       | agg AS (SELECT line_id, poly, SUM(c) AS crossings FROM cr GROUP BY 1, 2),
       | contained AS (SELECT l.line_id, p.poly
       |   FROM lines l, (SELECT DISTINCT poly FROM pv) p
       |   WHERE NOT EXISTS (SELECT 1 FROM pe e WHERE e.poly = p.poly
       |     AND (e.ay*e.bz - e.az*e.byy)*l.px + (e.az*e.bx - e.ax*e.bz)*l.py
       |       + (e.ax*e.byy - e.ay*e.bx)*l.pz <= 0))
       |SELECT CAST(a.line_id AS BIGINT) AS line_id,
       |  CAST(a.poly AS BIGINT) AS poly_id, CAST(a.crossings AS BIGINT) AS crossings
       |FROM agg a LEFT JOIN contained c ON c.line_id = a.line_id AND c.poly = a.poly
       |WHERE a.crossings > 0 OR c.line_id IS NOT NULL""".stripMargin
  }

  /** Oracle for the edge-kNN query: point-to-segment spherical distance
    * computed from baked segment endpoints (interior case = distance to
    * the great circle via asin, decided by the same tangential conditions
    * as edge_distances.go interiorDist; endpoint case = arc cosine),
    * ranked per query with the engine's (distance, line, segment)
    * tie-break.
    *
    * The FARTHEST query (negateQueries) ranks the same way: the farthest
    * point of an arc from p is the closest point to -p (max angle = Pi -
    * min angle to the antipode, edge_distances.go:60-72), so ranking by
    * ascending min-distance of the NEGATED city point reproduces the
    * descending max-distance order, with identical (line_id, seg_id)
    * tie-breaks.
    */
  private def edgeRankSql(negateQueries: Boolean): String = {
    val sgn = if (negateQueries) -1.0 else 1.0
    val segs = trajectoryLines.flatMap { case (lineId, pl) =>
      (1 until pl.vertices.length).map { k =>
        val a = pl.vertices(k - 1)
        val b = pl.vertices(k)
        f"($lineId, ${k - 1}, ${a.x}%.17e, ${a.y}%.17e, ${a.z}%.17e, ${b.x}%.17e, ${b.y}%.17e, ${b.z}%.17e)"
      }
    }.mkString(", ")
    val qs = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
      val p = LatLng.toPointDegrees(la, ln) * sgn
      f"($i, ${p.x}%.17e, ${p.y}%.17e, ${p.z}%.17e)"
    }.mkString(", ")
    s"""WITH seg(line_id, seg_id, ax, ay, az, bx, byy, bz) AS (VALUES $segs),
       | q(query_id, px, py, pz) AS (VALUES $qs),
       | d AS (SELECT q.query_id, s.line_id, s.seg_id,
       |   CASE WHEN
       |     ((s.ax*s.bx + s.ay*s.byy + s.az*s.bz)
       |       * (s.ax*q.px + s.ay*q.py + s.az*q.pz)
       |       - (s.bx*q.px + s.byy*q.py + s.bz*q.pz)) < 0
       |     AND ((s.ax*q.px + s.ay*q.py + s.az*q.pz)
       |       - (s.ax*s.bx + s.ay*s.byy + s.az*s.bz)
       |         * (s.bx*q.px + s.byy*q.py + s.bz*q.pz)) > 0
       |   THEN asin(least(1.0,
       |     abs((s.ay*s.bz - s.az*s.byy)*q.px + (s.az*s.bx - s.ax*s.bz)*q.py
       |       + (s.ax*s.byy - s.ay*s.bx)*q.pz)
       |     / sqrt(pow(s.ay*s.bz - s.az*s.byy, 2) + pow(s.az*s.bx - s.ax*s.bz, 2)
       |       + pow(s.ax*s.byy - s.ay*s.bx, 2))))
       |   ELSE least(
       |     acos(least(1.0, greatest(-1.0, s.ax*q.px + s.ay*q.py + s.az*q.pz))),
       |     acos(least(1.0, greatest(-1.0, s.bx*q.px + s.byy*q.py + s.bz*q.pz))))
       |   END AS dist
       |   FROM q, seg s)
       |SELECT query_id, line_id, seg_id, rank FROM (
       |  SELECT CAST(query_id AS BIGINT) AS query_id,
       |    CAST(line_id AS BIGINT) AS line_id, CAST(seg_id AS BIGINT) AS seg_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist, line_id, seg_id) AS BIGINT) AS rank
       |  FROM d) WHERE rank <= 3""".stripMargin
  }

  /** Oracle for the DTW query: the full dynamic-timewarp DP re-run in
    * SQL — vertex unit vectors baked as literals, the DP table iterated
    * by a recursive CTE (one row per DP row), each row's costs built by
    * a left-to-right list fold (left/diag/up recurrence identical to
    * polyline_alignment.go:442-470). Costs rounded to 9 decimals on both
    * sides (DuckDB fuses a*b+c into FMA, so raw doubles differ by ulps).
    */
  private def dtwSql: String = {
    val vals = trajectoryLines.flatMap { case (id, pl) =>
      pl.vertices.zipWithIndex.map { case (v, k) =>
        f"($id, $k, ${v.x}%.17e, ${v.y}%.17e, ${v.z}%.17e)"
      }
    }.mkString(", ")
    def dist(i: String) = {
      val jx = "CAST(jl[1] AS INT)"
      s"sqrt(((al[$i].x - bl[$jx].x)*(al[$i].x - bl[$jx].x)" +
        s" + (al[$i].y - bl[$jx].y)*(al[$i].y - bl[$jx].y))" +
        s" + (al[$i].z - bl[$jx].z)*(al[$i].z - bl[$jx].z))"
    }
    s"""WITH RECURSIVE v(line_id, idx, x, y, z) AS (VALUES $vals),
       | lists AS (SELECT line_id, list(struct_pack(x := x, y := y, z := z) ORDER BY idx) AS l
       |           FROM v GROUP BY line_id),
       | pairs AS (SELECT a.line_id AS a_id, b.line_id AS b_id, a.l AS al, b.l AS bl
       |           FROM lists a, lists b WHERE a.line_id < b.line_id),
       | dp AS (
       |   SELECT a_id, b_id, al, bl, 1 AS row,
       |     list_reduce(
       |       list_prepend(CAST([] AS DOUBLE[]), [[CAST(j AS DOUBLE)] for j in range(1, len(bl)+1)]),
       |       (acc, jl) -> list_append(acc,
       |         ${dist("1")} + CASE WHEN jl[1] > 1 THEN acc[len(acc)] ELSE 0 END)) AS costs
       |   FROM pairs
       |   UNION ALL
       |   SELECT a_id, b_id, al, bl, row + 1,
       |     list_reduce(
       |       list_prepend(CAST([] AS DOUBLE[]), [[CAST(j AS DOUBLE)] for j in range(1, len(bl)+1)]),
       |       (acc, jl) -> list_append(acc,
       |         ${dist("row + 1")} + least(
       |             CASE WHEN jl[1] > 1 THEN costs[CAST(jl[1] AS INT) - 1] ELSE 1e308 END,
       |             costs[CAST(jl[1] AS INT)],
       |             CASE WHEN jl[1] > 1 THEN acc[len(acc)] ELSE 1e308 END)))
       |   FROM dp WHERE row < len(al)
       | )
       |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  round(costs[len(costs)], 9) AS dtw_cost
       |FROM dp WHERE row = len(al)""".stripMargin
  }

  /** Covering join + exact convex-PIP refine over the skewed pages
    * table: the headline query, and `SparkEntry.entry`.
    */
  val pipCity: GateQuery = GateQuery("q_pip_city", (s, dir) => {
    SpatialJoin.pipJoin(s, pages(s, dir), cityPolygons)
      .select(col("url"), col("poly_id"))
  }, oracleSql = pipCitySql)

  val queries: Seq[GateQuery] = Seq(
    pipCity,

    // Covering join with lat/lng rectangle regions (coverer + interior
    // fast path; refine = closed rect containment).
    GateQuery("q_rect_join", (s, dir) => {
      SpatialJoin.rectJoin(s, pages(s, dir), cityRects)
        .select(col("url"), col("rect_id"))
    }, oracleSql = {
      val branches = cityRects.map { case (id, latLo, lngLo, latHi, lngHi) =>
        s"""SELECT url, $id AS rect_id FROM pts
           | WHERE lat BETWEEN $latLo AND $latHi
           |   AND lng BETWEEN $lngLo AND $lngHi""".stripMargin
      }
      s"$pagesCte ${branches.mkString(" UNION ALL ")}"
    }),

    // Radius join: pages within 100 km of each city center (cap covering).
    GateQuery("q_radius_100km", (s, dir) => {
      val qs = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
        (i.toLong, la, ln, 100000.0)
      }
      SpatialJoin.radiusJoin(s, pages(s, dir), qs)
        .select(col("url"), col("query_id"))
    }, oracleSql = {
      val branches = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
        // same haversine formula as the engine (latlng.go:61-69)
        s"""SELECT url, $i AS query_id FROM pts WHERE
           | 2*atan2(
           |   sqrt(pow(sin(0.5*(radians(lat)-radians($la))),2)
           |     + pow(sin(0.5*(radians(lng)-radians($ln))),2)
           |       *cos(radians($la))*cos(radians(lat))),
           |   sqrt(greatest(0.0, 1.0 - (pow(sin(0.5*(radians(lat)-radians($la))),2)
           |     + pow(sin(0.5*(radians(lng)-radians($ln))),2)
           |       *cos(radians($la))*cos(radians(lat)))))
           | ) <= ${100000.0 / Earth.RadiusMeters}""".stripMargin
      }
      s"$pagesCte ${branches.mkString(" UNION ALL ")}"
    }),

    // Cell encode + coarse aggregation: pages per level-6 cell (the
    // "cells encoded" half of the throughput metric). The output keys the
    // histogram by the cell's (face, i, j) grid coordinates — the same
    // partition of the sphere as the level-6 cells, but derivable in SQL
    // via the quadratic ST projection, making the whole encode+decode
    // path oracle-checkable.
    GateQuery("q_cell_agg", (s, dir) => {
      pages(s, dir)
        .withColumn("cell_id", S2.cellId(col("lat"), col("lng")))
        .withColumn("cell_l6", S2.parent(col("cell_id"), lit(6)))
        .groupBy("cell_l6").agg(count("*").as("n_pages"))
        .select(S2.face(col("cell_l6")).cast("long").as("face"),
          S2.cellI(col("cell_l6"), lit(6)).cast("long").as("i6"),
          S2.cellJ(col("cell_l6"), lit(6)).cast("long").as("j6"),
          col("n_pages"))
    }, oracleSql =
      s"""$faceStCte
         |SELECT CAST(face AS BIGINT) AS face,
         |  CAST(greatest(0, least(63, floor(s*64))) AS BIGINT) AS i6,
         |  CAST(greatest(0, least(63, floor(t*64))) AS BIGINT) AS j6,
         |  count(*) AS n_pages
         |FROM st GROUP BY 1, 2, 3""".stripMargin),

    // kNN join: 5 nearest pages to each city center, one radius join with
    // each city's radius read off a point histogram, ranked by haversine.
    GateQuery("q_knn5", (s, dir) => {
      val qs = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
        (i.toLong, la, ln)
      }
      SpatialJoin.knnJoin(s, pages(s, dir), qs, k = 5, tieBreakCols = Seq("url"))
        .select(col("query_id"), col("url"))
    }, oracleSql = {
      val qVals = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
        s"SELECT $i AS query_id, CAST($la AS DOUBLE) AS qlat, CAST($ln AS DOUBLE) AS qlng"
      }.mkString(" UNION ALL ")
      s"""$pagesCte, q AS ($qVals)
         |SELECT query_id, url FROM (
         |  SELECT q.query_id, p.url,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      2*atan2(
         |        sqrt(pow(sin(0.5*(radians(p.lat)-radians(q.qlat))),2)
         |          + pow(sin(0.5*(radians(p.lng)-radians(q.qlng))),2)
         |            *cos(radians(q.qlat))*cos(radians(p.lat))),
         |        sqrt(greatest(0.0, 1.0 - (pow(sin(0.5*(radians(p.lat)-radians(q.qlat))),2)
         |          + pow(sin(0.5*(radians(p.lng)-radians(q.qlng))),2)
         |            *cos(radians(q.qlat))*cos(radians(p.lat)))))
         |      ) ASC, p.url ASC) AS rn
         |  FROM pts p CROSS JOIN q
         |) WHERE rn <= 5""".stripMargin
    }),

    // Raster side of tiling: Web-Mercator zoom-12 tile assignment + count
    // per tile (vector->raster).
    GateQuery("q_tile_z12", (s, dir) => {
      pages(s, dir)
        .withColumn("tx", S2.tileX(col("lng"), lit(12)))
        .withColumn("ty", S2.tileY(col("lat"), lit(12)))
        .groupBy("tx", "ty").agg(count("*").as("n_pages"))
        .filter(col("n_pages") >= 2)
        .select(col("tx"), col("ty"), col("n_pages"))
    }, oracleSql =
      s"""$pagesCte
         |SELECT tx, ty, count(*) AS n_pages FROM (
         |  SELECT
         |    CAST(greatest(0, least(4095, floor((lng + 180.0)/360.0*4096.0))) AS BIGINT) AS tx,
         |    CAST(greatest(0, least(4095, floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*4096.0))) AS BIGINT) AS ty
         |  FROM pts
         |) GROUP BY tx, ty HAVING count(*) >= 2""".stripMargin),

    // Vector side of tiling: distributed S2 cell covering of every
    // occupied zoom-12 tile (raster->vector), audited per-tile against
    // covering invariants the oracle can state independently: the
    // covering contains the leaf cells of 5 interior sample points of
    // the tile rect, is canonical, and respects maxCells. The tile set
    // itself is derived from the data (same derivation as q_tile_z12's
    // oracle), so the whole row is SQL-checkable.
    GateQuery("q_tile_covering", (s, dir) => {
      val tiles = pages(s, dir)
        .withColumn("tx", S2.tileX(col("lng"), lit(12)))
        .withColumn("ty", S2.tileY(col("lat"), lit(12)))
        .groupBy("tx", "ty").agg(count("*").as("n_pages"))
        .filter(col("n_pages") >= 2)
      val auditUdf = udf((tx: Long, ty: Long) => {
        val cu = WebMercator.tileCovering(tx, ty, 12, maxCells = 8)
        val r = WebMercator.tileRect(tx, ty, 12).rect
        val (latC, lngC) = (r.lat.center, r.lng.center)
        val dLat = (r.lat.hi - r.lat.lo) / 4
        val dLng = (r.lng.hi - r.lng.lo) / 4
        val samples = Seq((latC, lngC), (latC - dLat, lngC - dLng),
          (latC - dLat, lngC + dLng), (latC + dLat, lngC - dLng),
          (latC + dLat, lngC + dLng))
        val covered = samples.forall { case (la, ln) =>
          cu.containsCellId(CellId.fromLatLngDegrees(
            la * LatLng.RadToDeg, ln * LatLng.RadToDeg))
        }
        (covered, RegionCoverer(maxCells = 8).isCanonical(cu), cu.size <= 8)
      })
      // EMIT the covering cells as (face, leaf-ij box) rows at a fixed
      // path keyed by the fixture size: the static oracle SQL reads them
      // back and RE-DERIVES covers_samples (sample leaf in some box, via
      // pure-projection SQL that never touches the Hilbert curve),
      // canonical (pairwise box disjointness + no complete 4-sibling
      // quartet + the >maxCells shared-ancestor rule — the full
      // isCanonical semantics at minLevel=0/levelMod=1), and within_max
      // (count <= 8) instead of trusting the Spark booleans.
      // Spatial containment in (face, i, j) space is an axis-aligned box
      // test — the Hilbert order only matters for ID SORTING, and the
      // id -> ij decode is independently proven by q_snap_e2's oracle.
      val boxUdf = udf((tx: Long, ty: Long) => {
        WebMercator.tileCovering(tx, ty, 12, maxCells = 8).ids.map { id =>
          val level = CellId.level(id)
          // mask to the min-ij corner: the decoded leaf ij is a Hilbert
          // curve position, not the box corner (rangeMin's leaf can sit
          // at ANY of the 4 corners depending on orientation)
          val (f, i, j, _) = CellId.faceIJOrientation(id)
          val span = 1L << (CellId.MaxLevel - level)
          val iLo = i.toLong & ~(span - 1)
          val jLo = j.toLong & ~(span - 1)
          (f, iLo, iLo + span - 1, jLo, jLo + span - 1)
        }
      })
      // ALWAYS re-emit: a write-once guard would let the oracle audit a
      // stale box file — a regression in tileCovering/tileRect that
      // keeps per-tile counts unchanged would then self-consistently
      // pass (fresh Spark booleans vs old-but-valid boxes).
      // repartition(1) (not coalesce) keeps the per-tile covering
      // computation parallel upstream of the single-file write.
      tiles.withColumn("box", explode(boxUdf(col("tx"), col("ty"))))
        .select(col("tx"), col("ty"), col("box._1").as("f"),
          col("box._2").as("i_lo"), col("box._3").as("i_hi"),
          col("box._4").as("j_lo"), col("box._5").as("j_hi"))
        .repartition(1).write.mode("overwrite")
        .parquet(tileCoveringCellsPath(dir))
      tiles
        .withColumn("audit", auditUdf(col("tx"), col("ty")))
        .select(col("tx"), col("ty"), col("n_pages"),
          col("audit._1").as("covers_samples"),
          col("audit._2").as("canonical"),
          col("audit._3").as("within_max"))
    },
    // Covering audit per occupied tile. The tile set and n_pages are
    // derived from the data (as q_tile_z12's oracle); covers_samples,
    // canonical, and within_max are ALL RE-DERIVED in SQL from the
    // covering cells the Spark side emitted as (face, leaf-ij box)
    // rows: each of the 5 interior sample points is projected to its
    // level-30 (face,si,sj) with the same pure quadratic-ST SQL
    // q_snap_e2 proved against the Hilbert path, then box-tested
    // against the emitted covering; canonicality = pairwise box
    // disjointness + no complete sibling quartet + the >maxCells
    // shared-ancestor rule (the full isCanonical semantics at
    // minLevel=0/levelMod=1).
    oracleSql =
      s"""$pagesCte,
         | tiles AS (
         |  SELECT tx, ty, count(*) AS n_pages FROM (
         |   SELECT
         |    CAST(greatest(0, least(4095, floor((lng + 180.0)/360.0*4096.0))) AS BIGINT) AS tx,
         |    CAST(greatest(0, least(4095, floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*4096.0))) AS BIGINT) AS ty
         |   FROM pts) GROUP BY tx, ty HAVING count(*) >= 2),
         | aux AS (SELECT * FROM read_parquet('${tileCoveringCellsPath(oracleSf)}/*.parquet')),
         | rect AS (
         |  SELECT tx, ty, n_pages,
         |   radians(tx/4096.0*360.0 - 180.0) AS lng_w,
         |   radians((tx+1)/4096.0*360.0 - 180.0) AS lng_e,
         |   radians(degrees(atan((exp(pi() - 2*pi()*ty/4096.0) - exp(-(pi() - 2*pi()*ty/4096.0)))/2))) AS lat_n,
         |   radians(degrees(atan((exp(pi() - 2*pi()*(ty+1)/4096.0) - exp(-(pi() - 2*pi()*(ty+1)/4096.0)))/2))) AS lat_s
         |  FROM tiles),
         | smp AS (
         |  SELECT tx, ty, n_pages, o.sid,
         |   (lat_s+lat_n)/2 + o.dy*(lat_n-lat_s)/4 AS slat,
         |   (lng_w+lng_e)/2 + o.dx*(lng_e-lng_w)/4 AS slng
         |  FROM rect, (VALUES (0,0,0),(-1,-1,1),(-1,1,2),(1,-1,3),(1,1,4)) AS o(dy,dx,sid)),
         | sp AS (SELECT tx, ty, n_pages, sid,
         |   cos(slng)*cos(slat) AS px, sin(slng)*cos(slat) AS py, sin(slat) AS pz
         |  FROM smp),
         | ax AS (SELECT tx, ty, n_pages, sid, px, py, pz,
         |  CASE WHEN abs(px) > abs(py)
         |    THEN (CASE WHEN abs(px) > abs(pz) THEN 0 ELSE 2 END)
         |    ELSE (CASE WHEN abs(py) > abs(pz) THEN 1 ELSE 2 END) END AS axis FROM sp),
         | fc AS (SELECT tx, ty, n_pages, sid, px, py, pz,
         |  CASE WHEN axis = 0 AND px < 0 THEN 3
         |    WHEN axis = 1 AND py < 0 THEN 4
         |    WHEN axis = 2 AND pz < 0 THEN 5 ELSE axis END AS face FROM ax),
         | uv AS (SELECT tx, ty, n_pages, sid, face,
         |  CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz
         |    WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS u,
         |  CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz
         |    WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS v FROM fc),
         | st AS (SELECT tx, ty, n_pages, sid, face,
         |  CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
         |  CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t FROM uv),
         | leafs AS (SELECT tx, ty, n_pages, sid, face,
         |  CAST(greatest(0, least(1073741823, floor(s*1073741824.0))) AS BIGINT) AS si,
         |  CAST(greatest(0, least(1073741823, floor(t*1073741824.0))) AS BIGINT) AS sj FROM st),
         | matched AS (
         |  SELECT l.tx, l.ty, l.n_pages, l.sid,
         |   max(CASE WHEN a.f IS NOT NULL THEN 1 ELSE 0 END) AS m
         |  FROM leafs l LEFT JOIN aux a
         |    ON a.tx = l.tx AND a.ty = l.ty AND a.f = l.face
         |   AND l.si BETWEEN a.i_lo AND a.i_hi AND l.sj BETWEEN a.j_lo AND a.j_hi
         |  GROUP BY 1, 2, 3, 4),
         | cov AS (SELECT tx, ty, n_pages, (min(m) = 1) AS covers_samples
         |  FROM matched GROUP BY 1, 2, 3),
         | cnt AS (SELECT tx, ty, count(*) AS n_cells FROM aux GROUP BY 1, 2),
         | fcnt AS (SELECT tx, ty, max(c) AS max_per_face FROM
         |   (SELECT tx, ty, f, count(*) AS c FROM aux GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2),
         | auxn AS (SELECT *, row_number() OVER (
         |   PARTITION BY tx, ty ORDER BY f, i_lo, j_lo, i_hi) AS rid FROM aux),
         | ovl AS (SELECT DISTINCT a.tx, a.ty FROM auxn a JOIN auxn b
         |   ON a.tx = b.tx AND a.ty = b.ty AND a.f = b.f AND a.rid < b.rid
         |  AND a.i_lo <= b.i_hi AND b.i_lo <= a.i_hi
         |  AND a.j_lo <= b.j_hi AND b.j_lo <= a.j_hi),
         | quart AS (SELECT DISTINCT tx, ty FROM (
         |   SELECT tx, ty, f, (i_hi - i_lo + 1) AS span,
         |     i_lo // ((i_hi - i_lo + 1) * 2) AS pi,
         |     j_lo // ((j_hi - j_lo + 1) * 2) AS pj, count(*) AS c
         |   FROM aux WHERE (i_hi - i_lo + 1) < 1073741824
         |   GROUP BY 1, 2, 3, 4, 5, 6 HAVING count(*) = 4))
         |SELECT c.tx, c.ty, c.n_pages, c.covers_samples,
         |  ((o.tx IS NULL) AND (q.tx IS NULL)
         |   AND (cnt.n_cells <= 8 OR fc.max_per_face <= 1)) AS canonical,
         |  (cnt.n_cells <= 8) AS within_max
         |FROM cov c JOIN cnt ON cnt.tx = c.tx AND cnt.ty = c.ty
         |JOIN fcnt fc ON fc.tx = c.tx AND fc.ty = c.ty
         |LEFT JOIN ovl o ON o.tx = c.tx AND o.ty = c.ty
         |LEFT JOIN quart q ON q.tx = c.tx AND q.ty = c.ty""".stripMargin,
    kind = Evidence, auxPath = Some(tileCoveringCellsPath)),

    // Snap rounding through the CellIdSnapper (~1.2 km level-13 grid;
    // near-dup geocode dedup): snap each page to its cell center, then
    // emit collision groups decoded back to (face, i, j) — integers, so
    // the oracle's pure-projection SQL derivation is hash-exact. The
    // Spark path round-trips the Hilbert curve (encode in s2_snap_cell,
    // decode in s2_i/s2_j); the SQL path never touches it.
    GateQuery("q_snap_e2", (s, dir) => {
      val level = 13
      pages(s, dir)
        .withColumn("snap_cell", S2.snapCell(col("lat"), col("lng"), lit(level)))
        .groupBy("snap_cell").agg(count("*").as("n"))
        .filter(col("n") >= 2)
        .select(S2.face(col("snap_cell")).cast("long").as("face"),
          S2.cellI(col("snap_cell"), lit(level)).cast("long").as("si"),
          S2.cellJ(col("snap_cell"), lit(level)).cast("long").as("sj"),
          col("n"))
    },
    // Same face/i/j derivation as q_cell_agg's oracle but at the snap
    // level: i_level = floor(s * 2^level) (identical to the engine's
    // stToIJ at level 30 followed by >> (30-level), exactly, because
    // floor(floor(s*2^30)/2^17) == floor(s*2^13) for s in [0,1]).
    oracleSql = {
      val n = 1 << 13
      s"""$faceStCte
         |SELECT CAST(face AS BIGINT) AS face,
         |  CAST(greatest(0, least(${n - 1}, floor(s*$n))) AS BIGINT) AS si,
         |  CAST(greatest(0, least(${n - 1}, floor(t*$n))) AS BIGINT) AS sj,
         |  count(*) AS n
         |FROM st GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin
    }),

    // Spatial aggregation: centroid of page unit vectors per zoom-8 tile
    // (the centroid Aggregator over a raster partition key).
    GateQuery("q_tile_centroid", (s, dir) => {
      pages(s, dir)
        .withColumn("tx", S2.tileX(col("lng"), lit(8)))
        .withColumn("ty", S2.tileY(col("lat"), lit(8)))
        .withColumn("px", cos(radians(col("lng"))) * cos(radians(col("lat"))))
        .withColumn("py", sin(radians(col("lng"))) * cos(radians(col("lat"))))
        .withColumn("pz", sin(radians(col("lat"))))
        .groupBy("tx", "ty")
        .agg(count("*").as("n"), sum("px").as("sx"), sum("py").as("sy"),
          sum("pz").as("sz"))
        .filter(col("n") >= 5)
        .select(col("tx"), col("ty"), col("n"),
          round(degrees(atan2(col("sz"),
            sqrt(col("sx") * col("sx") + col("sy") * col("sy")))), 6).as("c_lat"),
          round(degrees(atan2(col("sy"), col("sx"))), 6).as("c_lng"))
    }, oracleSql =
      s"""$pagesCte
         |SELECT tx, ty, n,
         |  round(degrees(atan2(sz, sqrt(sx*sx + sy*sy))), 6) AS c_lat,
         |  round(degrees(atan2(sy, sx)), 6) AS c_lng
         |FROM (
         |  SELECT
         |    CAST(greatest(0, least(255, floor((lng + 180.0)/360.0*256.0))) AS BIGINT) AS tx,
         |    CAST(greatest(0, least(255, floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*256.0))) AS BIGINT) AS ty,
         |    count(*) AS n, sum(px) AS sx, sum(py) AS sy, sum(pz) AS sz
         |  FROM pts GROUP BY 1, 2
         |) WHERE n >= 5""".stripMargin),

    // PIP against polygons WITH HOLES: annulus per city (shell 200 km,
    // hole 80 km) via parity containment.
    GateQuery("q_pip_annulus", (s, dir) => {
      SpatialJoin.pipJoin(s, pages(s, dir), cityAnnuli)
        .select(col("url"), col("poly_id"))
    }, oracleSql = {
      val branches = cityAnnuli.map { case (id, poly) =>
        val shellSql = convexPipSql(poly.loops(0))
        val holeSql = convexPipSql(poly.loops(1))
        s"SELECT url, $id AS poly_id FROM pts WHERE $shellSql AND NOT $holeSql"
      }
      s"$pagesCte ${branches.mkString(" UNION ALL ")}"
    }),

    // Polyline x polygon crossing join: city-pair trajectories vs city
    // polygons (rows-only; exact crossing semantics tested in
    // GeomOpsSpec/CrossingSpec).
    GateQuery("q_crossing", (s, dir) => {
      val cities = PagesSource.cities
      val lines = (for {
        i <- cities.indices
        j <- cities.indices if i < j
      } yield {
        val a = cities(i); val b = cities(j)
        ((i.toLong * 100 + j),
          Polyline.fromLatLngsDegrees(Seq(a, b)))
      }).toSeq
      CrossingJoin.polylinePolygonJoin(s, lines, cityPolygons)
        .select(col("line_id"), col("poly_id"),
          col("crossings").cast("long").as("crossings"))
    }, oracleSql = crossingSql),

    // Polygon x polygon overlay join: covering-cell candidate pairing +
    // exact Loop/Polygon Contains/Intersects refine.
    GateQuery("q_poly_overlap", (s, dir) => {
      OverlayJoin.polygonOverlapJoin(s, overlayPolysA, overlayPolysB)
        .select(col("a_id"), col("b_id"),
          col("a_contains_b"), col("b_contains_a"))
    }, oracleSql = polyOverlapSql),

    // Large-polygon PIP: 4096-vertex loop through the cell-bucketed edge
    // index (sublinear boundary refine).
    GateQuery("q_pip_coast", (s, dir) => {
      SpatialJoin.pipJoin(s, pages(s, dir), Seq((0L, coastLoop)), maxCells = 64)
        .select(col("url"), col("poly_id"))
    }, oracleSql = pipCoastSql),

    // Edge kNN: for each city center, the 3 closest trajectory segments.
    GateQuery("q_edge_knn", (s, _) => segmentRank(s, antipodes = false),
      edgeRankSql(negateQueries = false)),

    // Edge FARTHEST: the max-distance mirror of q_edge_knn (diameter/
    // spread analytics access path).
    GateQuery("q_edge_far", (s, _) => segmentRank(s, antipodes = true),
      edgeRankSql(negateQueries = true)),

    // Trajectory similarity: pairwise dynamic-timewarp alignment cost
    // (PolylineAlignment.exactVertexAlignmentCost) over all trajectory
    // pairs, distributed as a pair table + broadcast lines. Costs are
    // rounded to 9 decimals in both systems: DuckDB contracts a*b+c
    // into FMA, so raw doubles differ in the last ulp.
    GateQuery("q_dtw", (s, dir) => {
      import s.implicits._
      val lines = trajectoryLines
      val bc = s.sparkContext.broadcast(lines.toMap)
      val pairsDf = (for {
        i <- lines.indices; j <- lines.indices if i < j
      } yield (lines(i)._1, lines(j)._1)).toDF("a_id", "b_id")
      val dtwUdf = udf((aId: Long, bId: Long) =>
        PolylineAlignment.exactVertexAlignmentCost(
          bc.value(aId), bc.value(bId)))
      pairsDf
        .withColumn("dtw_cost", round(dtwUdf(col("a_id"), col("b_id")), 9))
        .select(col("a_id"), col("b_id"), col("dtw_cost"))
    }, oracleSql = dtwSql),

    // Shuffle-path PIP join (the non-broadcast plan for dimension tables
    // too large to broadcast): same semantics and oracle as q_pip_city,
    // forced through the cell-level equi-join + exact refine path.
    GateQuery("q_pip_shuffle", (s, dir) => {
      ShuffleSpatialJoin.pipJoinLarge(s, pages(s, dir), cityPolygons)
        .select(col("url"), col("poly_id"))
    }, oracleSql = pipCitySql),

    // DIMENSION SCALE under the hard gate (VERDICT r4 "Next" #4): the
    // shuffle-path PIP join against 10,000 polygons — the scale the
    // non-broadcast plan exists for (estimated payload >> the 10 MB
    // broadcast budget; DimScaleSpec pins the auto-chooser cutover and
    // shuffle==broadcast equality sbt-side). The FULL 10k-dimension join
    // is materialized to parquet first — a deliberate optimizer barrier:
    // filtering to the oracle sample before a barrier would let Catalyst
    // push the sample predicate into the dimension build and quietly
    // shrink the join back to 40 polygons. The gate then hash-checks the
    // 40 sampled polygons (every 250th) against baked convex SQL, the
    // same technique as q_pip_city.
    GateQuery("q_pip_10k", (s, dir) => {
      val polys = tenKPolys
      // coverings computed executor-side: 10k serial RegionCoverer runs
      // would dominate the driver (the scale-correct shape regardless)
      val coverings = SpatialJoin.polygonCoveringsDistributed(s, polys, maxCells = 8)
      val joined = ShuffleSpatialJoin.pipJoinLarge(
        s, pages(s, dir), polys, maxDimRows = 500000L,
        precomputed = Some(coverings))
        .select(col("url"), col("poly_id"))
      val scratch = s"${Local.workDir}/q_pip_10k_out"
      joined.write.mode("overwrite").parquet(scratch)
      s.read.parquet(scratch).filter(pmod(col("poly_id"), lit(250)) === 0)
    },
    // The 40 sampled polygons of the 10k-dimension shuffle join, each a
    // baked convex edge-normal test (the Spark side executed all 10k;
    // the sample is what is feasible to restate in SQL).
    oracleSql = convexPipJoinSql(tenKPolys.filter(_._1 % 250 == 0)))
  )
}
