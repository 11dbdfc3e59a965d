package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Edge distances, polylines, polygons, snappers, and the wire codec. */
class GeomOpsSpec extends AnyFunSuite {

  private val paris = LatLng.toPointDegrees(48.8566, 2.3522)

  test("edge distances: project + distance basics") {
    val a = LatLng.toPointDegrees(0, 0)
    val b = LatLng.toPointDegrees(0, 10)
    val x = LatLng.toPointDegrees(1, 5)
    // closest point on the equator segment is ~(0, 5)
    val p = EdgeDistances.project(x, a, b)
    assert(math.abs(LatLng.latitude(p)) < 1e-9)
    assert(math.abs(LatLng.longitude(p) * LatLng.RadToDeg - 5) < 0.01)
    val d = EdgeDistances.distanceFromSegment(x, a, b)
    assert(math.abs(d - 1 * LatLng.DegToRad) < 1e-6)
    // endpoint case
    val y = LatLng.toPointDegrees(0, -4)
    assert(EdgeDistances.project(y, a, b) === a)
    // interpolate round trip
    val mid = EdgeDistances.interpolate(0.5, a, b)
    assert(math.abs(LatLng.longitude(mid) * LatLng.RadToDeg - 5) < 1e-9)
    assert(math.abs(EdgeDistances.distanceFraction(mid, a, b) - 0.5) < 1e-9)
  }

  test("polyline: length, interpolate, project, subsample") {
    val line = Polyline.parse("0:0, 0:10, 10:10")
    assert(math.abs(line.length - 20 * LatLng.DegToRad) < 1e-3)
    val (p, _) = line.interpolate(0.25)
    assert(math.abs(LatLng.longitude(p) * LatLng.RadToDeg - 5) < 0.01)
    val (proj, next) = line.project(LatLng.toPointDegrees(1, 3))
    assert(next === 1)
    assert(math.abs(LatLng.latitude(proj)) < 1e-9)
    // uninterpolate inverts interpolate
    val (q, nv) = line.interpolate(0.6)
    assert(math.abs(line.uninterpolate(q, nv) - 0.6) < 1e-6)
    // subsample: collinear middle vertex dropped at loose tolerance
    val line2 = Polyline.parse("0:0, 0:5, 0:10")
    val kept = line2.subsampleVertices(0.01)
    assert(kept.toSeq === Seq(0, 2))
    // right-side test
    assert(line.isOnRight(LatLng.toPointDegrees(-1, 5)))
    assert(!line.isOnRight(LatLng.toPointDegrees(1, 5)))
  }

  test("polygon with hole: parity containment") {
    // shell: big quad around (0,0); hole: smaller quad inside
    val shell = Loop.parse("-10:-10, -10:10, 10:10, 10:-10")
    val hole = Loop.parse("-3:-3, -3:3, 3:3, 3:-3")
    val poly = Polygon.fromLoops(Seq(shell, hole))
    assert(poly.containsPoint(LatLng.toPointDegrees(5, 5))) // in shell, not hole
    assert(!poly.containsPoint(LatLng.toPointDegrees(0, 0))) // inside hole
    assert(!poly.containsPoint(LatLng.toPointDegrees(20, 0))) // outside
    // area = shell - hole
    val expected = shell.area - hole.area
    assert(math.abs(poly.area - expected) < 1e-9)
  }

  test("snappers: determinism and radius bounds") {
    val s = CellIdSnapper(12)
    val p = LatLng.toPointDegrees(48.85661, 2.35221)
    val snapped = s.snap(p)
    assert(snapped === s.snap(p))
    assert(p.angle(snapped) <= s.snapRadius)
    // nearby points snap to the same cell center
    val q = LatLng.toPointDegrees(48.85662, 2.35222)
    assert(s.snapToCell(p) === s.snapToCell(q))

    val e6 = IntLatLngSnapper(6)
    val (la, ln) = e6.snapLatLng(48.8566123456, 2.3522123456)
    assert(la === 48.856612)
    assert(ln === 2.352212)
    assert(CellIdSnapper.forMaxSnapRadius(Earth.angleFromMeters(100)).snapRadius
      <= Earth.angleFromMeters(100))
  }

  test("codec round trips") {
    val id = CellId.fromLatLngDegrees(48.85, 2.35)
    assert(Codec.decodeCellId(Codec.encodeCellId(id)) === id)

    val cu = RegionCoverer(maxCells = 16).covering(
      Cap.fromCenterRadians(paris, Earth.angleFromMeters(50000)))
    assert(Codec.decodeCellUnion(Codec.encodeCellUnion(cu)) === cu)

    val loop = Loop.regularLoop(paris, Earth.angleFromMeters(10000), 16)
    val loop2 = Codec.decodeLoop(Codec.encodeLoop(loop))
    assert(loop2.vertices.toSeq === loop.vertices.toSeq)
    assert(loop2.originInside === loop.originInside)

    val poly = Polygon.fromLoops(Seq(
      Loop.parse("-10:-10, -10:10, 10:10, 10:-10"),
      Loop.parse("-3:-3, -3:3, 3:3, 3:-3")))
    val poly2 = Codec.decodePolygon(Codec.encodePolygon(poly))
    assert(poly2.numLoops === 2)
    assert(poly2.containsPoint(LatLng.toPointDegrees(5, 5)))
    assert(!poly2.containsPoint(LatLng.toPointDegrees(0, 0)))
  }
}
