package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** ShapeIndex correctness via the reference's quadraticValidate oracle
  * (shapeindex_test.go:157-240): every cell of the index must contain
  * exactly the edges that intersect it (checked independently through
  * clipToPaddedFace + edgeIntersectsRect), containsCenter must match
  * brute-force containment, cells must cover the sphere without overlap,
  * and the subdivision budget must hold.
  */
class ShapeIndexSpec extends AnyFunSuite {
  import EdgeClipping._

  private val rng = new scala.util.Random(112358)

  private def star(center: Vec3, n: Int, rOuter: Double, rInner: Double): Loop = {
    val z = center
    val y = z.ortho
    val x = y.cross(z)
    Loop.fromPoints(Array.tabulate(n) { i =>
      val r = if (i % 2 == 0) rOuter else rInner
      val a = 2 * math.Pi * i / n
      val p = Vec3(math.sin(r) * math.cos(a), math.sin(r) * math.sin(a), math.cos(r))
      (x * p.x + y * p.y + z * p.z).normalize
    })
  }

  private def buildFixtureIndex(): ShapeIndex = {
    val index = new ShapeIndex()
    index.add(LoopShape(Loop.regularLoop(
      LatLng.toPointDegrees(40.7, -74.0), 0.05, 64)))
    index.add(LoopShape(star(LatLng.toPointDegrees(-12.0, 130.0), 64, 0.06, 0.02)))
    index.add(PolygonShape(graft.gate.GeoGate.cityAnnuli(1)._2))
    index.add(PolylineShape(Polyline.fromLatLngsDegrees(
      Seq((10.0, -30.0), (12.0, -28.0), (15.0, -31.0)))))
    // a loop circling the pole (crosses all four polar-face quadrants)
    index.add(LoopShape(Loop.parse(
      (0 until 16).map(i => s"80:${-180 + i * 22.5}").mkString(", "))))
    index
  }

  private def validateEdge(a: Vec3, b: Vec3, ci: Long, hasEdge: Boolean,
                           padding0: Double): Unit = {
    val sign = if (hasEdge) 1.0 else -1.0
    val padding = padding0 + sign * IntersectsRectErrorUVDist
    val cell = Cell.fromId(ci)
    val xLo = cell.uLo - padding; val xHi = cell.uHi + padding
    val yLo = cell.vLo - padding; val yHi = cell.vHi + padding
    val got = clipToPaddedFace(a, b, CellId.face(ci), padding) match {
      case Some((aU, aV, bU, bV)) =>
        edgeIntersectsRect(aU, aV, bU, bV, xLo, xHi, yLo, yHi)
      case None => false
    }
    assert(got === hasEdge,
      s"edge presence mismatch in cell ${CellId.toToken(ci)}: got $got")
  }

  private def validateInterior(shape: Shape, ci: Long,
                               indexContainsCenter: Boolean): Unit = {
    assert(ShapeUtil.containsBruteForce(shape, CellId.toPoint(ci)) ===
      indexContainsCenter, s"containsCenter mismatch at ${CellId.toToken(ci)}")
  }

  test("quadraticValidate: index contents match brute-force clipping") {
    val index = buildFixtureIndex()
    val it = index.iterator()
    val padding = index.CellPadding
    var minCellId = CellId.childBeginAtLevel(CellId.fromFace(0), CellId.MaxLevel)
    var rounds = 0
    var continueLoop = true
    while (continueLoop) {
      val skipped: Array[Long] =
        if (!it.done) {
          val cellId = it.cellId
          assert(java.lang.Long.compareUnsigned(cellId, minCellId) >= 0 ||
            CellId.rangeMin(cellId) == minCellId, "cells out of order")
          val s = CellUnion.fromRange(minCellId, CellId.rangeMin(cellId)).ids
          minCellId = CellId.next(CellId.rangeMax(cellId))
          s
        } else {
          CellUnion.fromRange(minCellId,
            CellId.childEndAtLevel(CellId.fromFace(5), CellId.MaxLevel)).ids
        }

      var shortEdges = 0
      for (id <- 0 until index.numShapes) {
        val shape = index.shape(id)
        for (sk <- skipped) validateInterior(shape, sk, indexContainsCenter = false)
        var clipped: ClippedShape = null
        if (!it.done) {
          clipped = it.indexCell.findByShapeId(id)
          val containsCenter = clipped != null && clipped.containsCenter
          if (shape.dimension == 2)
            validateInterior(shape, it.cellId, containsCenter)
          else assert(!containsCenter)
        }
        for (e <- 0 until shape.numEdges) {
          val (v0, v1) = shape.edge(e)
          for (sk <- skipped) validateEdge(v0, v1, sk, hasEdge = false, padding)
          if (!it.done) {
            val hasEdge = clipped != null && clipped.containsEdge(e)
            validateEdge(v0, v1, it.cellId, hasEdge, padding)
            if (hasEdge && CellId.level(it.cellId) <
              Metric.AvgEdge.minLevel((v0 - v1).norm)) shortEdges += 1
          }
        }
      }
      assert(shortEdges <= index.maxEdgesPerCell,
        s"too many short edges: $shortEdges")
      if (it.done) continueLoop = false else it.next()
      rounds += 1
      assert(rounds < 1000000, "runaway validation loop")
    }
  }

  test("iterator locatePoint finds the covering cell for random points") {
    val index = buildFixtureIndex()
    val it = index.iterator()
    // points near the indexed shapes must locate successfully, and the
    // located cell must contain the point's leaf cell
    for (_ <- 0 until 500) {
      val base = LatLng.toPointDegrees(40.7 + rng.nextDouble() * 2 - 1,
        -74.0 + rng.nextDouble() * 2 - 1)
      if (it.locatePoint(base)) {
        val leaf = CellId.fromPoint(base.x, base.y, base.z)
        assert(CellId.contains(it.cellId, leaf))
      }
    }
  }

  test("iterator locateCellId trichotomy is consistent") {
    val index = buildFixtureIndex()
    val it = index.iterator()
    for (_ <- 0 until 2000) {
      val p = Vec3(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian()).normalize
      val level = rng.nextInt(16)
      val target = CellId.parent(CellId.fromPoint(p.x, p.y, p.z), level)
      it.locateCellId(target) match {
        case CellRelation.Indexed =>
          assert(CellId.contains(it.cellId, target))
        case CellRelation.Subdivided =>
          assert(CellId.contains(target, it.cellId))
          assert(it.cellId != target)
        case CellRelation.Disjoint =>
          // no index cell may intersect the target
          val it2 = index.iterator()
          it2.seek(CellId.rangeMin(target))
          if (!it2.done)
            assert(!CellId.intersects(it2.cellId, target))
      }
    }
  }

  test("ShapeIndexRegion: bounds cover the geometry; coverer produces valid covers") {
    val index = buildFixtureIndex()
    val region = new ShapeIndexRegion(index)
    val cub = region.cellUnionBound
    assert(cub.nonEmpty && cub.length <= 6)
    // every index cell must be contained by some bound cell
    for (c <- index.cells) {
      assert(cub.exists(b => CellId.contains(b, c)),
        s"index cell ${CellId.toToken(c)} escapes the cell union bound")
    }
    // region covering contains sample points of every shape
    val cov = RegionCoverer(maxCells = 32).covering(region)
    for (id <- 0 until index.numShapes) {
      val shape = index.shape(id)
      if (shape.numEdges > 0) {
        val (v0, _) = shape.edge(0)
        assert(cov.containsCellId(CellId.fromPoint(v0.x, v0.y, v0.z)),
          s"covering misses shape $id")
      }
    }
    // containsPoint delegates to the SemiOpen query
    assert(region.containsPoint(LatLng.toPointDegrees(40.7, -74.0)))
    assert(!region.containsPoint(LatLng.toPointDegrees(0.0, 100.0)))
  }

  test("ContainsPointQuery matches brute force under SemiOpen") {
    val index = buildFixtureIndex()
    val q = new ContainsPointQuery(index, VertexModel.SemiOpen)
    val centers = Seq((40.7, -74.0), (-12.0, 130.0), (48.8566 + 0.3, 2.3522),
      (85.0, 0.0), (11.0, -29.0))
    for ((cLat, cLng) <- centers; _ <- 0 until 400) {
      val p = LatLng.toPointDegrees(cLat + rng.nextDouble() * 8 - 4,
        cLng + rng.nextDouble() * 8 - 4)
      val got = (0 until index.numShapes).filter { id =>
        q.shapeContains(id, p)
      }.toSet
      val want = (0 until index.numShapes).filter { id =>
        ShapeUtil.containsBruteForce(index.shape(id), p)
      }.toSet
      assert(got === want, s"containment mismatch at $p")
    }
  }
}
