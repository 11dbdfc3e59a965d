package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** ClosestEdgeQuery vs brute force over every (shape, edge) pair — the
  * reference's own cross-validation style (edge_query_closest_test.go
  * UseBruteForce comparisons), over point, edge, and cell targets.
  */
class ClosestEdgeQuerySpec extends AnyFunSuite {
  import ClosestEdgeQuery._

  private val rng = new scala.util.Random(777)

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

  private def bruteClosest(index: ShapeIndex, target: DistanceTarget,
                           k: Int): Seq[Result] = {
    val all = scala.collection.mutable.ArrayBuffer[Result]()
    for (shapeId <- 0 until index.numShapes) {
      val shape = index.shape(shapeId)
      for (e <- 0 until shape.numEdges) {
        val (v0, v1) = shape.edge(e)
        val (d, _) = target.updateMinDistance(v0, v1, ChordAngle.Straight + 1)
        all += Result(shapeId, e, d)
      }
    }
    all.sortBy(r => (r.distance, r.shapeId, r.edgeId)).take(k).toSeq
  }

  private def randTargetPoint(): Vec3 =
    LatLng.toPointDegrees(38 + rng.nextDouble() * 6, -77 + rng.nextDouble() * 6)

  test("point targets: k closest edges match brute force") {
    val index = buildIndex()
    val query = new ClosestEdgeQuery(index, includeInteriors = false,
      maxBruteForceEdges = 8) // force the best-first path
    for (_ <- 0 until 300) {
      val t = PointTarget(randTargetPoint())
      val k = 1 + rng.nextInt(5)
      val got = query.findClosestEdges(t, k)
      val want = bruteClosest(index, t, k)
      assert(got === want, s"target ${t.p}")
    }
  }

  test("edge and cell targets match brute force") {
    val index = buildIndex()
    val query = new ClosestEdgeQuery(index, includeInteriors = false,
      maxBruteForceEdges = 8)
    for (_ <- 0 until 150) {
      val et = EdgeTarget(randTargetPoint(), randTargetPoint())
      assert(query.findClosestEdges(et, 3) === bruteClosest(index, et, 3))
      val cellId = CellId.parent(
        CellId.fromLatLngDegrees(38 + rng.nextDouble() * 6,
          -77 + rng.nextDouble() * 6), 8 + rng.nextInt(6))
      val ct = CellTarget(Cell.fromId(cellId))
      assert(query.findClosestEdges(ct, 3) === bruteClosest(index, ct, 3))
    }
  }

  test("interior hits report distance zero for containing shapes") {
    val index = buildIndex()
    val query = new ClosestEdgeQuery(index, includeInteriors = true)
    // center of the first loop: contained by shape 0 only
    val inside = PointTarget(LatLng.toPointDegrees(40.7, -74.0))
    val rs = query.findClosestEdges(inside, 2)
    assert(rs.head === Result(0, -1, 0.0))
    // a point outside everything has no interior hit
    val outside = PointTarget(LatLng.toPointDegrees(0.0, 100.0))
    val rs2 = query.findClosestEdges(outside, 2)
    assert(rs2.forall(_.edgeId >= 0))
  }

  test("distance limit and isDistanceLess behave as radius predicates") {
    val index = buildIndex()
    val query = new ClosestEdgeQuery(index, includeInteriors = false,
      maxBruteForceEdges = 8)
    for (_ <- 0 until 200) {
      val t = PointTarget(randTargetPoint())
      val trueDist = bruteClosest(index, t, 1).head.distance
      val tight = trueDist * 0.99
      val loose = trueDist * 1.01 + 1e-30
      assert(!query.isDistanceLess(t, tight))
      assert(query.isDistanceLess(t, loose))
      assert(math.abs(query.distance(t) - trueDist) <= 1e-15 * (1 + trueDist))
    }
  }
}
