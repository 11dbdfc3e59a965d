package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** FurthestEdgeQuery vs brute force and the reference's own protocols
  * (edge_query_furthest_test.go: NoEdges, BasicTest, antipodal-interior
  * cases), over point, edge, and cell targets.
  */
class FurthestEdgeQuerySpec extends AnyFunSuite {
  import FurthestEdgeQuery._

  private val rng = new scala.util.Random(778)

  private def chord2OfDegrees(deg: Double): Double = {
    val s = math.sin(math.toRadians(deg) / 2)
    4 * s * s
  }

  private def buildIndex(): ShapeIndex = {
    val index = new ShapeIndex()
    index.add(LoopShape(Loop.regularLoop(
      LatLng.toPointDegrees(40.7, -74.0), 0.04, 96)))
    index.add(LoopShape(Loop.regularLoop(
      LatLng.toPointDegrees(41.5, -72.5), 0.02, 48)))
    index.add(PolylineShape(Polyline.fromLatLngsDegrees(
      Seq((39.0, -75.0), (39.5, -74.0), (40.0, -75.5), (41.0, -76.0)))))
    index.add(PolygonShape(graft.gate.GeoGate.cityAnnuli(0)._2)) // NY annulus
    index
  }

  private def bruteFurthest(index: ShapeIndex, target: DistanceTarget,
                            k: Int): Seq[Result] = {
    val all = scala.collection.mutable.ArrayBuffer[Result]()
    for (shapeId <- 0 until index.numShapes) {
      val shape = index.shape(shapeId)
      for (e <- 0 until shape.numEdges) {
        val (v0, v1) = shape.edge(e)
        val (d, _) = target.updateMaxDistance(v0, v1, -1.0)
        all += Result(shapeId, e, d)
      }
    }
    all.sortBy(r => (-r.distance, r.shapeId, r.edgeId)).take(k).toSeq
  }

  private def randTargetPoint(): Vec3 =
    LatLng.toPointDegrees(-90 + rng.nextDouble() * 180,
      -180 + rng.nextDouble() * 360)

  test("point targets: k furthest edges match brute force") {
    val index = buildIndex()
    val query = new FurthestEdgeQuery(index, includeInteriors = false,
      maxBruteForceEdges = 8) // force the best-first path
    for (_ <- 0 until 300) {
      val t = PointTarget(randTargetPoint())
      val k = 1 + rng.nextInt(5)
      val got = query.findFurthestEdges(t, k)
      val want = bruteFurthest(index, t, k)
      assert(got === want, s"target ${t.p}")
    }
  }

  test("edge and cell targets match brute force") {
    val index = buildIndex()
    val query = new FurthestEdgeQuery(index, includeInteriors = false,
      maxBruteForceEdges = 8)
    for (_ <- 0 until 150) {
      val et = EdgeTarget(randTargetPoint(), randTargetPoint())
      assert(query.findFurthestEdges(et, 3) === bruteFurthest(index, et, 3))
      val cellId = CellId.parent(
        CellId.fromLatLngDegrees(-90 + rng.nextDouble() * 180,
          -180 + rng.nextDouble() * 360), 8 + rng.nextInt(6))
      val ct = CellTarget(Cell.fromId(cellId))
      assert(query.findFurthestEdges(ct, 3) === bruteFurthest(index, ct, 3))
    }
  }

  test("empty index has negative distance (NoEdges protocol)") {
    val index = new ShapeIndex()
    val query = new FurthestEdgeQuery(index)
    assert(query.findFurthestEdges(PointTarget(Vec3(1, 0, 0)), 1).isEmpty)
    assert(query.distance(PointTarget(Vec3(1, 0, 0))) === -1.0)
  }

  test("basic point-vector protocol (BasicTest)") {
    // points 0:1 | 0:2 | 0:3; furthest from 0:4 is 0:1 (edge id 0), 3 deg
    val index = new ShapeIndex()
    index.add(PointVectorShape(Array(
      LatLng.toPointDegrees(0, 1), LatLng.toPointDegrees(0, 2),
      LatLng.toPointDegrees(0, 3))))
    val query = new FurthestEdgeQuery(index, includeInteriors = false)
    val t = PointTarget(LatLng.toPointDegrees(0, 4))
    val rs = query.findFurthestEdges(t, 3, chord2OfDegrees(1.0))
    assert(rs.head.shapeId === 0)
    assert(rs.head.edgeId === 0)
    val gotDeg = math.toDegrees(ChordAngle.toRadians(rs.head.distance))
    assert(math.abs(gotDeg - 3.0) < 1e-9)
    assert(query.isDistanceGreater(t, chord2OfDegrees(1.5)))
    // the distance limit excludes nothing here (all 3 points > 1 deg away)
    assert(rs.length === 3)
  }

  test("antipodal point inside indexed polygon (interior protocols)") {
    // polyline 0:0,0:5,5:5,5:0 (no interior) + polygon 0:10,0:15,5:15,5:10
    def build() = {
      val index = new ShapeIndex()
      index.add(PolylineShape(Polyline.fromLatLngsDegrees(
        Seq((0, 0), (0, 5), (5, 5), (5, 0)))))
      index.add(PolygonShape(Polygon.fromLoops(Seq(
        Loop.parse("0:10, 0:15, 5:15, 5:10")))))
      index
    }
    val target = PointTarget(LatLng.toPointDegrees(2, 12) * -1)
    // include_interiors: distance is Straight, interior hit on shape 1
    val q1 = new FurthestEdgeQuery(build(), includeInteriors = true)
    val r1 = q1.findFurthestEdges(target, 10, chord2OfDegrees(178)).head
    assert(r1 === Result(1, -1, ChordAngle.Straight))
    // without interiors: a real edge of shape 1, below Straight
    val q2 = new FurthestEdgeQuery(build(), includeInteriors = false)
    val r2 = q2.findFurthestEdges(target, 10, chord2OfDegrees(178)).head
    assert(r2.shapeId === 1)
    assert(r2.edgeId >= 0)
    assert(r2.distance < ChordAngle.Straight)
    assert(r2.distance > chord2OfDegrees(178))
  }

  test("antipodal point outside indexed polygon yields nothing above 179 deg") {
    val index = new ShapeIndex()
    index.add(PolylineShape(Polyline.fromLatLngsDegrees(
      Seq((0, 0), (0, 5), (5, 5), (5, 0)))))
    index.add(PolygonShape(Polygon.fromLoops(Seq(
      Loop.parse("0:10, 0:15, 5:15, 5:10")))))
    // 2:2 is inside the polyline's lat/lng box but polylines have no
    // interior, so its antipode gets no interior hit and every edge is
    // closer than the 179-degree limit.
    val target = PointTarget(LatLng.toPointDegrees(2, 2) * -1)
    val q = new FurthestEdgeQuery(index, includeInteriors = true)
    assert(q.findFurthestEdges(target, 10, chord2OfDegrees(179)).isEmpty)
  }

  test("interior hits rank first and cap at Straight") {
    val index = buildIndex()
    val q = new FurthestEdgeQuery(index, includeInteriors = true)
    // antipode of the first loop's center: interior hit on shape 0
    val t = PointTarget(LatLng.toPointDegrees(40.7, -74.0) * -1)
    val rs = q.findFurthestEdges(t, 2)
    assert(rs.head === Result(0, -1, ChordAngle.Straight))
  }
}
