package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Incremental ShapeIndex updates (lazy batched add/remove with index
  * cell absorption) against the strongest available oracle: after any
  * sequence of updates, the index must be CELL-IDENTICAL (same cell ids,
  * same clipped shapes, same containsCenter, same edge lists, modulo the
  * id renumbering of a compact rebuild) to a fresh index built from the
  * live shape set — because the subdivision is a pure function of the
  * edge set. Query-level equivalence is checked on top.
  */
class ShapeIndexIncrementalSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(314159)

  private def nyLoop = LoopShape(Loop.regularLoop(
    LatLng.toPointDegrees(40.7, -74.0), 0.05, 64))
  private def ctLoop = LoopShape(Loop.regularLoop(
    LatLng.toPointDegrees(41.5, -72.5), 0.03, 48))
  private def line = PolylineShape(Polyline.fromLatLngsDegrees(
    Seq((39.0, -75.0), (39.5, -74.0), (40.0, -75.5), (41.0, -76.0))))
  private def annulus = PolygonShape(graft.gate.GeoGate.cityAnnuli(0)._2)
  private def bigLoop = LoopShape(Loop.regularLoop(
    LatLng.toPointDegrees(40.0, -74.5), 0.20, 96)) // interior spans cells
  private def points = PointVectorShape(Array(
    LatLng.toPointDegrees(40.2, -74.2), LatLng.toPointDegrees(41.0, -73.0)))

  /** Cell-structure snapshot with shape ids remapped through idMap. */
  private def snapshot(index: ShapeIndex,
                       idMap: Int => Int): Map[Long, Seq[(Int, Boolean, Seq[Int])]] = {
    index.iterator() // force pending updates
    index.cells.map { id =>
      id -> index.cellFor(id).shapes.toSeq
        .map(c => (idMap(c.shapeId), c.containsCenter, c.edges.toSeq))
    }.toMap
  }

  private def freshIndex(shapes: Seq[Shape]): ShapeIndex = {
    val idx = new ShapeIndex()
    shapes.foreach(idx.add)
    idx
  }

  private def assertStructurallyEqual(inc: ShapeIndex, liveIds: Seq[Int],
                                      fresh: ShapeIndex): Unit = {
    val idMap = liveIds.zipWithIndex.toMap
    assert(snapshot(inc, idMap) === snapshot(fresh, identity))
  }

  /** The quadraticValidate oracle (shapeindex_test.go:157-240) over a
    * possibly-updated index: cells must tile without gaps/overlaps in
    * Hilbert order, each cell must hold exactly the edges of LIVE shapes
    * that intersect it, and containsCenter must match brute force.
    * (Unlike cell-level equality with a fresh build, this holds after
    * removals too: incremental updates never re-coarsen cells, so the
    * decomposition may legitimately be finer than a fresh rebuild's.)
    */
  private def validateIndex(index: ShapeIndex): Unit = {
    import EdgeClipping._
    val it = index.iterator()
    val padding0 = index.CellPadding
    def validateEdge(a: Vec3, b: Vec3, ci: Long, hasEdge: Boolean): Unit = {
      val sign = if (hasEdge) 1.0 else -1.0
      val padding = padding0 + sign * IntersectsRectErrorUVDist
      val cell = Cell.fromId(ci)
      val got = clipToPaddedFace(a, b, CellId.face(ci), padding) match {
        case Some((aU, aV, bU, bV)) => edgeIntersectsRect(aU, aV, bU, bV,
          cell.uLo - padding, cell.uHi + padding,
          cell.vLo - padding, cell.vHi + padding)
        case None => false
      }
      assert(got === hasEdge,
        s"edge presence mismatch in cell ${CellId.toToken(ci)}")
    }
    var minCellId = CellId.childBeginAtLevel(CellId.fromFace(0), CellId.MaxLevel)
    var continueLoop = true
    while (continueLoop) {
      val skipped: Array[Long] =
        if (!it.done) {
          val cellId = it.cellId
          assert(java.lang.Long.compareUnsigned(
            CellId.rangeMin(cellId), minCellId) >= 0, "cells overlap")
          val s = CellUnion.fromRange(minCellId, CellId.rangeMin(cellId)).ids
          minCellId = CellId.next(CellId.rangeMax(cellId))
          s
        } else {
          CellUnion.fromRange(minCellId,
            CellId.childEndAtLevel(CellId.fromFace(5), CellId.MaxLevel)).ids
        }
      for (id <- 0 until index.numShapes if index.shape(id) != null) {
        val shape = index.shape(id)
        def validateInterior(ci: Long, indexContainsCenter: Boolean): Unit =
          if (shape.dimension == 2)
            assert(ShapeUtil.containsBruteForce(shape, CellId.toPoint(ci)) ===
              indexContainsCenter,
              s"containsCenter mismatch at ${CellId.toToken(ci)}")
          else assert(!indexContainsCenter)
        for (sk <- skipped) validateInterior(sk, indexContainsCenter = false)
        var clipped: ClippedShape = null
        if (!it.done) {
          clipped = it.indexCell.findByShapeId(id)
          validateInterior(it.cellId, clipped != null && clipped.containsCenter)
        }
        for (e <- 0 until shape.numEdges) {
          val (v0, v1) = shape.edge(e)
          for (sk <- skipped) validateEdge(v0, v1, sk, hasEdge = false)
          if (!it.done)
            validateEdge(v0, v1, it.cellId,
              clipped != null && clipped.containsEdge(e))
        }
      }
      // no cell may reference a removed shape
      if (!it.done)
        it.indexCell.shapes.foreach(c =>
          assert(index.shape(c.shapeId) != null,
            s"cell ${CellId.toToken(it.cellId)} references removed shape"))
      if (it.done) continueLoop = false else it.next()
    }
  }

  /** Query-level equivalence: point containment over a probe grid and
    * closest-edge results must match a fresh index through the id map.
    */
  private def assertSameAnswers(inc: ShapeIndex, map: Map[Int, Int],
                                fresh: ShapeIndex): Unit = {
    val incQ = new ContainsPointQuery(inc, VertexModel.SemiOpen)
    val freshQ = new ContainsPointQuery(fresh, VertexModel.SemiOpen)
    for (_ <- 0 until 600) {
      val p = LatLng.toPointDegrees(38.5 + rng.nextDouble() * 4,
        -76.5 + rng.nextDouble() * 5)
      assert(incQ.containingShapes(p).map(map) === freshQ.containingShapes(p),
        s"containment mismatch at $p")
    }
  }

  test("incremental add after first build equals fresh build") {
    val inc = new ShapeIndex()
    inc.add(nyLoop); inc.add(line)
    inc.iterator() // first build happens here
    assert(inc.isFresh)
    inc.add(annulus); inc.add(ctLoop)
    assert(!inc.isFresh)
    inc.build()
    assertStructurallyEqual(inc, Seq(0, 1, 2, 3),
      freshIndex(Seq(nyLoop, line, annulus, ctLoop)))
  }

  test("incremental remove validates and answers like a fresh build") {
    val inc = new ShapeIndex()
    inc.add(nyLoop); inc.add(line); inc.add(annulus); inc.add(ctLoop)
    inc.build()
    inc.remove(1) // the polyline
    inc.build()
    assert(inc.shape(1) == null)
    // A removal cannot re-coarsen cells, so the decomposition may be
    // finer than a fresh build's: validate contents exactly instead.
    validateIndex(inc)
    assertSameAnswers(inc, Map(0 -> 0, 2 -> 1, 3 -> 2),
      freshIndex(Seq(nyLoop, annulus, ctLoop)))
  }

  test("removing a polygon with tracked interior clears its cells") {
    val inc = new ShapeIndex()
    inc.add(bigLoop); inc.add(nyLoop); inc.add(points)
    inc.build()
    inc.remove(0) // the big loop: interior-only cells must vanish
    inc.build()
    assertStructurallyEqual(inc, Seq(1, 2), freshIndex(Seq(nyLoop, points)))
  }

  test("mixed add+remove in one batch validates and answers correctly") {
    val inc = new ShapeIndex()
    inc.add(nyLoop); inc.add(line); inc.add(annulus)
    inc.build()
    inc.remove(1)
    inc.add(ctLoop)
    inc.add(bigLoop)
    inc.build()
    validateIndex(inc)
    assertSameAnswers(inc, Map(0 -> 0, 2 -> 1, 3 -> 2, 4 -> 3),
      freshIndex(Seq(nyLoop, annulus, ctLoop, bigLoop)))
  }

  test("three update rounds stay identical to fresh builds") {
    val inc = new ShapeIndex()
    inc.add(nyLoop); inc.add(line)
    inc.build()
    inc.add(bigLoop)
    inc.build()
    assertStructurallyEqual(inc, Seq(0, 1, 2),
      freshIndex(Seq(nyLoop, line, bigLoop)))
    inc.remove(2)
    inc.add(annulus)
    inc.build()
    validateIndex(inc)
    assertSameAnswers(inc, Map(0 -> 0, 1 -> 1, 3 -> 2),
      freshIndex(Seq(nyLoop, line, annulus)))
  }

  test("removing a shape that was never indexed is free") {
    val inc = new ShapeIndex()
    inc.add(nyLoop)
    inc.build()
    val id = inc.add(ctLoop)
    inc.remove(id) // pending addition cancelled before any build
    inc.build()
    assertStructurallyEqual(inc, Seq(0), freshIndex(Seq(nyLoop)))
  }

  test("randomized add/remove soak validates after every round") {
    val soak = new scala.util.Random(271828)
    def randomShape(): Shape = soak.nextInt(4) match {
      case 0 => LoopShape(Loop.regularLoop(
        LatLng.toPointDegrees(soak.nextDouble() * 20 + 30,
          soak.nextDouble() * 20 - 80),
        0.01 + soak.nextDouble() * 0.1, 8 + soak.nextInt(40)))
      case 1 =>
        var lat = 35 + soak.nextDouble() * 10
        var lng = -78 + soak.nextDouble() * 10
        PolylineShape(new Polyline(Array.fill(2 + soak.nextInt(6)) {
          lat += soak.nextDouble() - 0.5; lng += soak.nextDouble() - 0.5
          LatLng.toPointDegrees(lat, lng)
        }))
      case 2 => PointVectorShape(Array.fill(1 + soak.nextInt(4))(
        LatLng.toPointDegrees(soak.nextDouble() * 20 + 30,
          soak.nextDouble() * 20 - 80)))
      case _ => LaxLoopShape(Array.fill(3 + soak.nextInt(5))(
        LatLng.toPointDegrees(soak.nextDouble() * 5 + 40,
          soak.nextDouble() * 5 - 75)))
    }
    val inc = new ShapeIndex()
    val live = scala.collection.mutable.ArrayBuffer[Int]()
    val rounds = sys.props.get("graft.soak.rounds").map(_.toInt).getOrElse(6)
    for (round <- 0 until rounds) {
      // each round: 1-3 adds, and sometimes a removal of a random live id
      for (_ <- 0 to soak.nextInt(3)) live += inc.add(randomShape())
      if (round > 0 && live.nonEmpty && soak.nextBoolean()) {
        val victim = live.remove(soak.nextInt(live.length))
        inc.remove(victim)
      }
      inc.build()
      validateIndex(inc)
      // query equivalence against a fresh build of the live set
      val fresh = freshIndex(live.toSeq.map(inc.shape))
      val map = live.toSeq.zipWithIndex.toMap
      val incQ = new ContainsPointQuery(inc, VertexModel.SemiOpen)
      val freshQ = new ContainsPointQuery(fresh, VertexModel.SemiOpen)
      for (_ <- 0 until 150) {
        val p = LatLng.toPointDegrees(soak.nextDouble() * 30 + 25,
          soak.nextDouble() * 30 - 85)
        assert(incQ.containingShapes(p).map(map) === freshQ.containingShapes(p),
          s"round $round mismatch at $p")
      }
    }
  }

  test("EdgeIterator walks every live edge, skipping removed shapes") {
    val inc = new ShapeIndex()
    inc.add(nyLoop); inc.add(line); inc.add(ctLoop)
    inc.build()
    inc.remove(1)
    inc.build()
    val got = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    val it = new EdgeIterator(inc)
    while (!it.done) {
      got += ((it.shapeId, it.edgeId))
      val (v0, v1) = it.edge
      assert(v0 != null && v1 != null)
      it.next()
    }
    val want = for {
      id <- 0 until inc.numShapes if inc.shape(id) != null
      e <- 0 until inc.shape(id).numEdges
    } yield (id, e)
    assert(got.toSeq === want)
    // snapper edge-deviation slack (builder.go constant)
    val s = CellIdSnapper(10)
    assert(s.maxEdgeDeviation === 1.1 * s.snapRadius)
  }

  test("queries agree with a fresh index after updates") {
    val inc = new ShapeIndex()
    inc.add(nyLoop); inc.add(line); inc.add(annulus)
    inc.build()
    inc.remove(0)
    inc.add(bigLoop); inc.add(ctLoop)
    val fresh = freshIndex(Seq(line, annulus, bigLoop, ctLoop))
    val incQ = new ContainsPointQuery(inc, VertexModel.SemiOpen)
    val freshQ = new ContainsPointQuery(fresh, VertexModel.SemiOpen)
    val map = Map(1 -> 0, 2 -> 1, 3 -> 2, 4 -> 3)
    for (_ <- 0 until 800) {
      val p = LatLng.toPointDegrees(38.5 + rng.nextDouble() * 4,
        -76.5 + rng.nextDouble() * 5)
      assert(incQ.containingShapes(p).map(map) === freshQ.containingShapes(p),
        s"containment mismatch at $p")
    }
    // edge crossings match too (walks the updated index cells)
    val incX = new CrossingEdgeQuery(inc)
    val freshX = new CrossingEdgeQuery(fresh)
    for (_ <- 0 until 100) {
      val a = LatLng.toPointDegrees(38.5 + rng.nextDouble() * 4,
        -76.5 + rng.nextDouble() * 5)
      val b = LatLng.toPointDegrees(38.5 + rng.nextDouble() * 4,
        -76.5 + rng.nextDouble() * 5)
      val got = incX.crossingsEdgeMap(a, b, CrossingType.All)
        .map { case (id, es) => map(id) -> es.sorted }
      val want = freshX.crossingsEdgeMap(a, b, CrossingType.All)
        .map { case (id, es) => id -> es.sorted }
      assert(got === want, s"crossing mismatch for $a-$b")
    }
  }
}
