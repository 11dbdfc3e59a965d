package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.lang.{Long => JLong}

/** Golden-table tests ported from the reference's own suites
  * (/root/reference/s2/cellid_test.go:340-427, 47-140, 206-339).
  */
class CellIdSpec extends AnyFunSuite {

  // (token, id) golden pairs from cellid_test.go:340-377.
  private val goldenTokens: Seq[(String, Long)] = Seq(
    "1" -> 0x1000000000000000L,
    "3" -> 0x3000000000000000L,
    "14" -> 0x1400000000000000L,
    "41" -> 0x4100000000000000L,
    "094" -> 0x0940000000000000L,
    "537" -> 0x5370000000000000L,
    "3fec" -> 0x3fec000000000000L,
    "72f3" -> 0x72f3000000000000L,
    "52b8c" -> 0x52b8c00000000000L,
    "990ed" -> 0x990ed00000000000L,
    "4476dc" -> 0x4476dc0000000000L,
    "2a724f" -> 0x2a724f0000000000L,
    "7d4afc4" -> 0x7d4afc4000000000L,
    "b675785" -> 0xb675785000000000L,
    "40cd6124" -> 0x40cd612400000000L,
    "3ba32f81" -> 0x3ba32f8100000000L,
    "08f569b5c" -> 0x08f569b5c0000000L,
    "385327157" -> 0x3853271570000000L,
    "166c4d1954" -> 0x166c4d1954000000L,
    "96f48d8c39" -> 0x96f48d8c39000000L,
    "0bca3c7f74c" -> 0x0bca3c7f74c00000L,
    "1ae3619d12f" -> 0x1ae3619d12f00000L,
    "07a77802a3fc" -> 0x07a77802a3fc0000L,
    "4e7887ec1801" -> 0x4e7887ec18010000L,
    "4adad7ae74124" -> 0x4adad7ae74124000L,
    "90aba04afe0c5" -> 0x90aba04afe0c5000L,
    "8ffc3f02af305c" -> 0x8ffc3f02af305c00L,
    "6fa47550938183" -> 0x6fa4755093818300L,
    "aa80a565df5e7fc" -> 0xaa80a565df5e7fc0L,
    "01614b5e968e121" -> 0x01614b5e968e1210L,
    "aa05238e7bd3ee7c" -> 0xaa05238e7bd3ee7cL,
    "48a23db9c2963e5b" -> 0x48a23db9c2963e5bL
  )

  test("token round trips (golden, cellid_test.go:340)") {
    for ((tok, id) <- goldenTokens) {
      assert(CellId.fromToken(tok) === id, s"fromToken($tok)")
      assert(CellId.toToken(id) === tok, s"toToken(${JLong.toHexString(id)})")
    }
  }

  test("token error cases (cellid_test.go:391-427)") {
    assert(CellId.toToken(0L) === "X")
    assert(CellId.fromToken("X") === 0L)
    assert(CellId.fromToken(CellId.toToken(CellId.Sentinel)) === CellId.Sentinel)
    val f7 = CellId.fromFace(7)
    assert(CellId.fromToken(CellId.toToken(f7)) === f7)
    for (bad <- Seq("876b e99", "876bee99\n", "876[ee99", " 876bee99"))
      assert(CellId.fromToken(bad) === 0L, s"fromToken($bad)")
  }

  test("cellsAtLevel enumerates exactly the level-k descendants in order") {
    val id = CellId.parent(CellId.fromLatLngDegrees(40.7, -74.0), 8)
    for (target <- 8 to 12) {
      val got = CellId.cellsAtLevel(id, target)
      assert(got.length === (1L << (2 * (target - 8))).toInt)
      assert(got.forall(c => CellId.level(c) == target && CellId.contains(id, c)))
      assert(got.toSeq === got.sorted(Ordering.fromLessThan[Long](
        java.lang.Long.compareUnsigned(_, _) < 0)).toSeq)
    }
    // finer than target: rolls up to the ancestor
    assert(CellId.cellsAtLevel(id, 5).toSeq === Seq(CellId.parent(id, 5)))
  }

  test("parent/child relationships (cellid_test.go:47-100)") {
    val ci = CellId.fromFacePosLevel(3, 0x12345678L, CellId.MaxLevel - 4)
    assert(CellId.isValid(ci))
    assert(CellId.face(ci) === 3)
    assert(CellId.pos(ci) === 0x12345700L)
    assert(CellId.level(ci) === 26)
    assert(!CellId.isLeaf(ci))

    assert(CellId.pos(CellId.childBeginAtLevel(ci, CellId.level(ci) + 2)) === 0x12345610L)
    assert(CellId.pos(CellId.childBegin(ci)) === 0x12345640L)
    assert(CellId.pos(CellId.children(ci)(0)) === 0x12345640L)
    assert(CellId.pos(CellId.immediateParent(ci)) === 0x12345400L)
    assert(CellId.pos(CellId.parent(ci, CellId.level(ci) - 2)) === 0x12345000L)

    assert(JLong.compareUnsigned(CellId.childBegin(ci), ci) < 0)
    assert(JLong.compareUnsigned(CellId.childEnd(ci), ci) > 0)
    assert(CellId.childEnd(ci) ===
      CellId.next(CellId.next(CellId.next(CellId.next(CellId.childBegin(ci))))))
    assert(CellId.rangeMin(ci) === CellId.childBeginAtLevel(ci, CellId.MaxLevel))
    assert(CellId.next(CellId.rangeMax(ci)) === CellId.childEndAtLevel(ci, CellId.MaxLevel))
  }

  test("containment (cellid_test.go:102-140)") {
    val a = 0x80855c0000000000L // Pittsburgh
    val b = 0x80855d0000000000L // child of a
    val c = 0x80855dc000000000L // child of b
    val d = 0x8085630000000000L // disjoint from a
    val cases = Seq(
      (a, a, true, true, true), (a, b, true, false, true),
      (a, c, true, false, true), (a, d, false, false, false),
      (b, b, true, true, true), (b, c, true, false, true),
      (b, d, false, false, false), (c, c, true, true, true),
      (c, d, false, false, false), (d, d, true, true, true))
    for ((x, y, xcy, ycx, xiy) <- cases) {
      assert(CellId.contains(x, y) === xcy)
      assert(CellId.contains(y, x) === ycx)
      assert(CellId.intersects(x, y) === xiy)
    }
  }

  test("debug string (cellid_test.go:142-147)") {
    assert(CellId.toDebugString(0xbb04000000000000L) === "5/31200")
    assert(CellId.fromDebugString("5/31200") === 0xbb04000000000000L)
  }

  test("latlng -> cellid -> latlng round trip stays within a leaf cell") {
    val rng = new scala.util.Random(42)
    for (_ <- 0 until 2000) {
      val lat = rng.nextDouble() * 180 - 90
      val lng = rng.nextDouble() * 360 - 180
      val id = CellId.fromLatLngDegrees(lat, lng)
      assert(CellId.isValid(id))
      assert(CellId.isLeaf(id))
      // center of the leaf is within a leaf diagonal of the input
      val d = LatLng.distance(lat * LatLng.DegToRad, lng * LatLng.DegToRad,
        CellId.toLatRadians(id), CellId.toLngRadians(id))
      assert(d <= Metric.MaxDiag.value(30), s"($lat,$lng)")
    }
  }

  test("cellIDFromPoint inverse: decoded center encodes to same leaf") {
    val rng = new scala.util.Random(7)
    for (_ <- 0 until 2000) {
      val p = Vec3(rng.nextDouble() * 2 - 1, rng.nextDouble() * 2 - 1,
        rng.nextDouble() * 2 - 1).normalize
      if (p.norm2 > 0) {
        val id = CellId.fromPoint(p.x, p.y, p.z)
        val c = CellId.toPoint(id)
        assert(CellId.fromPoint(c.x, c.y, c.z) === id)
      }
    }
  }

  test("parent is monotone prefix: parent contains child at every level") {
    val rng = new scala.util.Random(11)
    for (_ <- 0 until 500) {
      val id = CellId.fromLatLngDegrees(rng.nextDouble() * 180 - 90,
        rng.nextDouble() * 360 - 180)
      for (l <- 0 to 30) {
        val p = CellId.parent(id, l)
        assert(CellId.level(p) === l)
        assert(CellId.contains(p, id))
      }
    }
  }

  test("edge neighbors of a face center cell (cellid_test.go:206-230)") {
    // The 4 edge neighbors of the level-1 center cell of face 0... use the
    // documented invariant instead: neighbors are distinct, same level, and
    // edge-adjacent (share exactly an edge => each neighbor's neighbors
    // include the original).
    val id = CellId.parent(CellId.fromLatLngDegrees(10, 10), 10)
    val nbrs = CellId.edgeNeighbors(id)
    assert(nbrs.distinct.length === 4)
    for (n <- nbrs) {
      assert(CellId.level(n) === 10)
      assert(CellId.edgeNeighbors(n).contains(id))
    }
  }

  test("vertex neighbors (cellid_test.go:232-270 semantics)") {
    // From the reference test: vertex neighbors of the leaf containing
    // (0,0,1) at level MaxLevel-1 (structural invariants).
    val p = Vec3(0, 0, 1)
    val id = CellId.fromPoint(p.x, p.y, p.z)
    val nbrs = CellId.vertexNeighbors(id, 5)
    assert(nbrs.length === 4 || nbrs.length === 3)
    assert(nbrs.distinct.length === nbrs.length)
    for (n <- nbrs) assert(CellId.level(n) === 5)
    // one of them contains the original leaf
    assert(nbrs.exists(n => CellId.contains(n, id)))
  }

  test("all neighbors count and levels") {
    val id = CellId.parent(CellId.fromLatLngDegrees(45, 45), 12)
    for (l <- 12 to 14) {
      val nbrs = CellId.allNeighbors(id, l)
      assert(nbrs.nonEmpty)
      for (n <- nbrs) assert(CellId.level(n) === l)
      assert(!nbrs.contains(id))
    }
  }

  test("maxTile tiles a range exactly (cellid.go:859-900 contract)") {
    val a = CellId.rangeMin(CellId.parent(CellId.fromLatLngDegrees(1, 1), 8))
    val limit = CellId.rangeMin(CellId.parent(CellId.fromLatLngDegrees(1.5, 1.5), 8))
    val (start, end) =
      if (JLong.compareUnsigned(a, limit) < 0) (a, limit) else (limit, a)
    var id = CellId.maxTile(start, end)
    var covered = 0L
    var guard = 0
    while (id != end && guard < 10000) {
      assert(JLong.compareUnsigned(CellId.rangeMin(id), CellId.rangeMax(id)) <= 0)
      covered += (CellId.rangeMax(id) - CellId.rangeMin(id)) / 2 + 1
      id = CellId.maxTile(CellId.next(id), end)
      guard += 1
    }
    assert(guard < 10000)
    assert(covered === (end - start) / 2)
  }

  test("metric constants (metric.go:46-106)") {
    assert(Metric.MinWidth.deriv === 2 * math.sqrt(2.0) / 3)
    assert(Metric.AvgArea.deriv === 4 * math.Pi / 6)
    assert(Metric.MaxDiag.deriv === 2.438654594434021032)
    assert(Metric.MinWidth.value(0) === Metric.MinWidth.deriv)
    assert(Metric.MinWidth.value(2) === Metric.MinWidth.deriv / 4)
    // MinLevel/MaxLevel invariants from metric_test.go
    for (level <- 0 to 30; m <- Seq(Metric.MinWidth, Metric.MaxArea, Metric.AvgDiag)) {
      val v = m.value(level)
      assert(m.minLevel(v) <= level || v > m.value(0))
      assert(m.maxLevel(v) >= level || v < m.value(30))
    }
  }

  test("commonAncestorLevel") {
    val id = CellId.parent(CellId.fromLatLngDegrees(30, 30), 20)
    assert(CellId.commonAncestorLevel(id, id) === 20)
    val kids = CellId.children(id)
    assert(CellId.commonAncestorLevel(kids(0), kids(3)) === 20)
    val otherFace = CellId.fromFace((CellId.face(id) + 3) % 6)
    assert(CellId.commonAncestorLevel(id, otherFace) === -1)
  }

  test("packed (i, j) decode equals faceIJOrientation, and Cell.fromId the tuple construction") {
    val rng = new scala.util.Random(29)
    for (face <- 0 until 6; level <- 0 to CellId.MaxLevel; _ <- 0 until 40) {
      val id = CellId.fromFacePosLevel(face, rng.nextLong() & ((1L << CellId.PosBits) - 1), level)
      val (f, i, j, _) = CellId.faceIJOrientation(id)
      val ij = CellId.ijPacked(id)
      assert((f, CellId.packedI(ij), CellId.packedJ(ij)) === (face, i, j), CellId.toToken(id))
      // the decoded leaf lies in the cell: fromFaceIJ inverts the decode
      assert(CellId.parent(CellId.fromFaceIJ(f, i, j), level) === id, CellId.toToken(id))
      val (uLo, uHi, vLo, vHi) = CellId.ijLevelToBoundUV(i, j, level)
      assert(Cell.fromId(id) === Cell(id, f, level, uLo, uHi, vLo, vHi), CellId.toToken(id))
      // the centre: si/ti of the tuple decode, as cellid.go:525-536 builds it
      val delta = if (CellId.isLeaf(id)) 1 else if (((i ^ (id >>> 2).toInt) & 1) != 0) 2 else 0
      assert(CellId.faceSiTi(id) === ((f, 2L * i + delta, 2L * j + delta)), CellId.toToken(id))
      assert(CellId.rawPoint(id) === STUV.faceUVToXYZ(f,
        STUV.stToUV((0.5 / CellId.MaxSize) * (2L * i + delta).toDouble),
        STUV.stToUV((0.5 / CellId.MaxSize) * (2L * j + delta).toDouble)), CellId.toToken(id))
    }
  }
}
