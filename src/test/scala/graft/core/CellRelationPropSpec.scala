package graft.core

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Property checks for the fused region-cell relation and the one-call
  * coverings, at a fixed seed:
  *
  *  - S2Region.cellRelation (fresh, and through one reused cellRelator as
  *    the coverer drives it) equals the pair (intersectsCell, containsCell)
  *    for Loops (including loops large enough to carry an edge index),
  *    Polygons with holes, Caps and RectRegions, on cells at levels 0-30
  *    at the poles, the antimeridian, face boundaries and loop vertices.
  *    Loops also come where LoopCellRelator's single-face path is decided
  *    at its margins: complements of small loops, loops within 1e-6 of a
  *    face edge or corner or straddling two faces, metre-scale 16-gons and
  *    loops whose vertices are a cell's corners, on cells whose UV
  *    rectangle just touches the loop's vertex UV box.
  *  - RegionCoverer.coverings equals the two separate passes driven only by
  *    intersectsCell/containsCell, cell for cell.
  *  - The join layer's one region type: Polygon.containsPoint equals the
  *    XOR of the loops' brute-force containment, a one-loop Polygon covers
  *    exactly as its Loop, and a Loop sent through the join wire form
  *    decodes to a region with the same containsPoint — at loop vertices,
  *    edge midpoints, the poles and the antimeridian, with loops on both
  *    sides of the edge-index threshold.
  *  - The broadcast joins' CoveringIndex: a leaf's candidates are exactly
  *    the entries whose cell contains it, and a covering's intersecting
  *    regions are exactly those whose covering meets it.
  */
class CellRelationPropSpec extends AnyFunSuite {
  import RegionRelation._

  private val params = Test.Parameters.default
    .withInitialSeed(20261017L).withMinSuccessfulTests(150).withWorkers(1)

  private def check(prop: Prop): Unit = check(params, prop)

  private def check(params: Test.Parameters, prop: Prop): Unit = {
    val result = Test.check(params, prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }

  /** (lat, lng) degrees of the sphere's hard places, plus anywhere. */
  private val hardPlace: Gen[(Double, Double)] = Gen.oneOf(
    Gen.const((90.0, 0.0)), Gen.const((-90.0, 0.0)),
    Gen.choose(-89.0, 89.0).map(lat => (lat, 180.0)),
    Gen.choose(-89.0, 89.0).map(lat => (lat, -179.9999)),
    // face 0/1 edge, the corner shared by faces 0, 1 and 2, the face 1/2 edge
    Gen.choose(-30.0, 30.0).map(lat => (lat, 45.0)),
    Gen.const((35.26438968275466, 45.0)),
    Gen.choose(60.0, 120.0).map(lng => (45.0, lng)),
    for (lat <- Gen.choose(-90.0, 90.0); lng <- Gen.choose(-180.0, 180.0)) yield (lat, lng))

  private val center: Gen[Vec3] = for {
    (lat, lng) <- hardPlace
    jitter <- Gen.choose(-1e-3, 1e-3)
  } yield LatLng.toPointDegrees(math.max(-90.0, math.min(90.0, lat + jitter)), lng + jitter)

  /** Star-shaped loop (radius jittered per vertex), CCW around c, from
    * 1e-6 rad to 0.5 rad; vertex counts on both sides of
    * LoopEdgeIndex.MaxBruteForceVertices.
    */
  private def loopAt(c: Vec3, radius: Double, n: Int, jitter: Seq[Double]): Loop = {
    val base = Loop.regularLoop(c, radius, n).vertices
    Loop.fromPoints(base.zip(jitter).map { case (v, f) => (c * (1 - f) + v * f).normalize })
  }

  private val loopGen: Gen[Loop] = for {
    c <- center
    radius <- Gen.oneOf(Gen.choose(1e-6, 1e-4), Gen.choose(1e-4, 0.05), Gen.choose(0.05, 0.5))
    n <- Gen.oneOf(Gen.choose(3, 16), Gen.const(40), Gen.const(LoopEdgeIndex.MaxBruteForceVertices + 45))
    jitter <- Gen.listOfN(n, Gen.choose(0.6, 1.0))
  } yield loopAt(c, radius, n, jitter)

  /** Shell with one or two holes; the holes nest inside the shell's inner
    * radius, so the polygon is valid.
    */
  private val polygonGen: Gen[Polygon] = for {
    c <- center
    radius <- Gen.oneOf(Gen.choose(1e-5, 1e-3), Gen.choose(1e-3, 0.3))
    n <- Gen.oneOf(Gen.choose(6, 16), Gen.const(48))
    holes <- Gen.choose(1, 2)
  } yield {
    val shell = Loop.regularLoop(c, radius, n)
    val holeLoops = (0 until holes).map { h =>
      val hc = if (holes == 1) c else Loop.regularLoop(c, radius * 0.4, 4).vertices(2 * h)
      Loop.regularLoop(hc, radius * 0.2, 8 + 29 * h)
    }
    Polygon.fromLoops(shell +: holeLoops)
  }

  private val capGen: Gen[Cap] = for {
    c <- center
    radius <- Gen.oneOf(Gen.choose(1e-7, 1e-3), Gen.choose(1e-3, 1.0), Gen.choose(1.0, 3.1))
  } yield Cap.fromCenterRadians(c, radius)

  private val rectGen: Gen[RectRegion] = for {
    (lat, lng) <- hardPlace
    dLat <- Gen.choose(1e-6, 20.0)
    dLng <- Gen.choose(1e-6, 40.0)
  } yield {
    val d = LatLng.DegToRad
    val lo = math.max(-90.0, lat - dLat) * d
    val hi = math.min(90.0, lat + dLat) * d
    // Endpoints past +-180 wrap, so some rects straddle the antimeridian.
    def wrap(x: Double) = math.IEEEremainder(x * d, 2 * math.Pi)
    RectRegion(SphereRect(R1Interval(lo, hi), S1Interval.fromEndpoints(wrap(lng - dLng), wrap(lng + dLng))))
  }

  private val regionGen: Gen[S2Region] =
    Gen.oneOf(loopGen, loopGen, polygonGen, capGen, rectGen)

  /** A small loop reversed: it contains the antipode of its face's centre,
    * so its region is not inside its vertices' UV hull.
    */
  private val complementGen: Gen[Loop] = for {
    c <- center
    radius <- Gen.oneOf(Gen.choose(1e-6, 1e-4), Gen.choose(1e-4, 0.05))
    n <- Gen.choose(3, 16)
    jitter <- Gen.listOfN(n, Gen.choose(0.6, 1.0))
  } yield loopAt(c, radius, n, jitter).inverted

  /** Centred within a few 1e-6 of a face edge (or corner), on either side
    * of it, with radii around 1e-6: vertices fall on both sides of the
    * single-face limit |u|, |v| <= 1 - 1e-6, and some loops straddle two
    * or three faces.
    */
  private val nearFaceEdgeGen: Gen[Loop] = for {
    face <- Gen.choose(0, 5)
    d <- Gen.oneOf(Gen.const(1e-6), Gen.choose(-3e-6, 3e-6), Gen.choose(-1e-4, 1e-4))
    corner <- Gen.oneOf(true, false)
    su <- Gen.oneOf(-1.0, 1.0)
    sv <- Gen.oneOf(-1.0, 1.0)
    along <- Gen.choose(-0.9, 0.9)
    radius <- Gen.oneOf(Gen.choose(1e-8, 1e-6), Gen.choose(1e-6, 1e-4))
    n <- Gen.choose(3, 16)
    jitter <- Gen.listOfN(n, Gen.choose(0.6, 1.0))
  } yield {
    val v = if (corner) sv * (1 - d) else along
    loopAt(STUV.faceUVToXYZ(face, su * (1 - d), v).normalize, radius, n, jitter)
  }

  private val metreGen: Gen[Loop] = for {
    c <- center
    metres <- Gen.choose(0.5, 50.0)
  } yield Loop.regularLoop(c, Earth.angleFromMeters(metres), 16)

  /** The boundary of a cell: its vertices sit on the grid lines that the
    * cell's neighbours share, within rounding of a projected point.
    */
  private val cellCornerGen: Gen[Loop] = for {
    (lat, lng) <- hardPlace
    level <- Gen.choose(6, 26)
  } yield {
    val cell = Cell.fromId(CellId.parent(CellId.fromLatLngDegrees(lat, lng), level))
    Loop.fromPoints(Array.tabulate(4)(cell.vertex))
  }

  private val marginLoopGen: Gen[Loop] =
    Gen.oneOf(complementGen, nearFaceEdgeGen, metreGen, cellCornerGen)

  /** Points that matter for a region: its vertices (or bound corners),
    * its center and points on its edges.
    */
  private def anchors(r: S2Region): Seq[Vec3] = r match {
    case l: Loop => l.vertices.toSeq ++
      l.vertices.indices.map(i => (l.vertex(i) + l.vertex(i + 1)).normalize)
    case p: Polygon => p.loops.toSeq.flatMap(l => anchors(l))
    case c: Cap => Seq(c.center) ++ Loop.regularLoop(c.center, c.radiusRadians, 8).vertices
    case rr: RectRegion =>
      val b = rr.rect
      for (la <- Seq(b.lat.lo, b.lat.hi, b.lat.center); ln <- Seq(b.lng.lo, b.lng.hi, b.lng.center))
        yield LatLng.toPoint(la, ln)
    case other => Seq(other.capBound.center)
  }

  /** Cells at levels 0-30 containing anchors, plus their edge neighbours
    * (which cross face boundaries near cube corners).
    */
  private def cellsFor(r: S2Region): Gen[Seq[Cell]] = {
    val pts = anchors(r).toIndexedSeq
    Gen.listOfN(24, for {
      i <- Gen.choose(0, pts.size - 1)
      level <- Gen.choose(0, CellId.MaxLevel)
      nbr <- Gen.choose(-1, 3)
    } yield {
      val p = pts(i)
      val id = CellId.parent(CellId.fromPoint(p.x, p.y, p.z), level)
      Cell.fromId(if (nbr < 0) id else CellId.edgeNeighbors(id)(nbr))
    })
  }

  /** Cells at levels 8-30 just outside each side of a loop's vertex UV
    * box on the face of its vertex 0, at gaps from 0 to 1e-8 around the
    * single-face path's 1e-9 widening; none for loops with a vertex off
    * that face.
    */
  private def boxTouchingCells(l: Loop): Gen[Seq[Cell]] = {
    val v0 = l.vertex(0)
    val f = STUV.face(v0.x, v0.y, v0.z)
    if (!l.vertices.forall(STUV.onFacePositiveSide(f, _))) return Gen.const(Seq.empty)
    val us = l.vertices.map(p => STUV.validFaceXYZtoU(f, p.x, p.y, p.z))
    val vs = l.vertices.map(p => STUV.validFaceXYZtoV(f, p.x, p.y, p.z))
    Gen.listOfN(12, for {
      side <- Gen.choose(0, 3)
      t <- Gen.choose(0.0, 1.0)
      gap <- Gen.oneOf(0.0, -1e-12, 1e-15, 1e-12, 1e-10, 5e-10, 1e-9, 2e-9, 1e-8)
      level <- Gen.choose(8, CellId.MaxLevel)
    } yield {
      val u = us.min + t * (us.max - us.min)
      val v = vs.min + t * (vs.max - vs.min)
      val p = (side match {
        case 0 => STUV.faceUVToXYZ(f, us.min - gap, v)
        case 1 => STUV.faceUVToXYZ(f, us.max + gap, v)
        case 2 => STUV.faceUVToXYZ(f, u, vs.min - gap)
        case _ => STUV.faceUVToXYZ(f, u, vs.max + gap)
      }).normalize
      Cell.fromId(CellId.parent(CellId.fromPoint(p.x, p.y, p.z), level))
    })
  }

  private def expected(r: S2Region, cell: Cell): Int =
    if (!r.intersectsCell(cell)) Disjoint
    else if (r.containsCell(cell)) Contains
    else Intersects

  test("cellRelation equals (intersectsCell, containsCell) at the sphere's hard places") {
    val cases = for {
      r <- Gen.oneOf(regionGen, marginLoopGen)
      cells <- cellsFor(r)
      touching <- r match {
        case l: Loop => boxTouchingCells(l)
        case _ => Gen.const(Seq.empty)
      }
    } yield (r, cells ++ touching)
    check(params.withMinSuccessfulTests(600), Prop.forAllNoShrink(cases) { case (r, cells) =>
      val relator = r.cellRelator()
      val bad = cells.filter { cell =>
        val want = expected(r, cell)
        r.cellRelation(cell) != want || relator.relation(cell) != want
      }
      bad.isEmpty :| s"$r: relation differs on ${bad.map(c => CellId.toToken(c.id))}"
    })
  }

  test("every relation kind occurs, and the edge-index path runs") {
    val rng = new scala.util.Random(5)
    val loop = Loop.regularLoop(LatLng.toPointDegrees(89.9, 0), 0.01, 80)
    assert(loop.edgeIndexOption.isDefined)
    val seen = (0 to CellId.MaxLevel).map { level =>
      val v = loop.vertex(rng.nextInt(80))
      Cell.fromId(CellId.parent(CellId.fromPoint(v.x, v.y, v.z), level))
    } ++ Seq(Cell.fromId(CellId.fromLatLngDegrees(89.9, 0)), Cell.fromId(CellId.fromFace(0)))
    val kinds = seen.map(loop.cellRelation).toSet
    assert(kinds === Set(Disjoint, Intersects, Contains))
    assert(Loop.full.cellRelation(Cell.fromId(CellId.fromFace(3))) === Contains)
    assert(Loop.empty.cellRelation(Cell.fromId(CellId.fromFace(3))) === Disjoint)
  }

  test("coverings equals the two-pass covering and interior covering, cell for cell") {
    val cases = for {
      r <- regionGen
      maxCells <- Gen.oneOf(4, 8, 32)
      levelMod <- Gen.oneOf(1, 2, 3)
      minLevel <- Gen.choose(1, 5)
      maxLevel <- Gen.choose(minLevel, CellId.MaxLevel)
    } yield (r, RegionCoverer(minLevel, maxLevel, levelMod, maxCells))
    check(Prop.forAllNoShrink(cases) { case (r, rc) =>
      val (cov, interior) = rc.coverings(r)
      val oracle = new PredicatesOnly(r)
      val same = (cov.ids sameElements rc.covering(oracle).ids) &&
        (interior.ids sameElements rc.interiorCovering(oracle).ids)
      same :| s"$rc on $r"
    })
  }

  /** A loop's own points (vertices, edge midpoints) plus points at the
    * poles, on the antimeridian and anywhere.
    */
  private def pointsFor(r: S2Region): Gen[Seq[Vec3]] =
    Gen.listOfN(16, hardPlace).map(_.map { case (lat, lng) =>
      LatLng.toPointDegrees(lat, lng) } ++ anchors(r))

  private val onePolygonGen: Gen[Polygon] =
    Gen.oneOf(polygonGen, loopGen.map(l => Polygon.fromLoops(Seq(l))))

  test("Polygon.containsPoint equals the XOR of the loops' brute-force containment") {
    val cases = for (p <- onePolygonGen; pts <- pointsFor(p)) yield (p, pts)
    check(Prop.forAllNoShrink(cases) { case (p, pts) =>
      val bad = pts.filter { v =>
        p.containsPoint(v) != (p.loops.count(_.bruteForceContainsPoint(v)) % 2 == 1)
      }
      bad.isEmpty :| s"$p: containsPoint differs at $bad"
    })
  }

  test("a one-loop Polygon covers exactly as its Loop, cell for cell") {
    val cases = for {
      l <- loopGen
      maxCells <- Gen.oneOf(4, 8, 32)
      levelMod <- Gen.oneOf(1, 2, 3)
      minLevel <- Gen.choose(0, 5)
    } yield (l, RegionCoverer(minLevel, CellId.MaxLevel, levelMod, maxCells))
    check(Prop.forAllNoShrink(cases) { case (l, rc) =>
      val (cov, interior) = rc.coverings(l)
      val (pCov, pInterior) = rc.coverings(Polygon.fromLoops(Seq(l)))
      ((cov.ids sameElements pCov.ids) && (interior.ids sameElements pInterior.ids)) :|
        s"$rc on $l"
    })
  }

  test("a Loop through the join wire form keeps its containsPoint and depth") {
    import graft.ops.SpatialJoin.encodeGeometry
    val cases = for (l <- loopGen; pts <- pointsFor(l)) yield (l, pts)
    check(Prop.forAllNoShrink(cases) { case (l, pts) =>
      val decoded = Codec.decodePolygon(encodeGeometry(l))
      val bad = pts.filter(v => decoded.containsPoint(v) != l.containsPoint(v))
      (decoded.numLoops == 1 && bad.isEmpty) :| s"$l: containsPoint differs at $bad"
    })
    // a hole keeps its nesting depth: encoding builds no Polygon around it
    val hole = Polygon.fromLoopStrings(Seq("0:0, 0:10, 10:5", "2:4, 2:6, 5:5")).loops(1)
    assert(hole.depth == 1)
    Codec.decodePolygon(encodeGeometry(hole))
    assert(hole.depth == 1)
    intercept[IllegalArgumentException](encodeGeometry(Cap.fromCenterRadians(Vec3(0, 0, 1), 0.1)))
  }

  /** Six regions (overlapping ones included) indexed as the broadcast
    * joins index them, under ids that are not their positions.
    */
  private val coveringsGen: Gen[Seq[(Long, CellUnion, CellUnion)]] = for {
    regions <- Gen.listOfN(6, regionGen)
    maxCells <- Gen.oneOf(4, 8, 32)
  } yield regions.zipWithIndex.map { case (r, i) =>
    val (c, ic) = RegionCoverer(maxCells = maxCells).coverings(r)
    (100L + 7 * i, c, ic)
  }

  /** Leaves at the hard places, at the first and last leaf of every
    * covering cell, and at its vertices.
    */
  private def leavesFor(covs: Seq[(Long, CellUnion, CellUnion)]): Gen[Seq[Long]] =
    Gen.listOfN(16, hardPlace).map { places =>
      val cells = covs.flatMap { case (_, c, ic) => c.ids ++ ic.ids }
      places.map { case (lat, lng) => CellId.fromLatLngDegrees(lat, lng) } ++
        cells.flatMap(c => Seq(CellId.rangeMin(c), CellId.rangeMax(c))) ++
        cells.flatMap(c => (0 until 4).map { k =>
          val v = Cell.fromId(c).vertex(k)
          CellId.fromPoint(v.x, v.y, v.z)
        })
    }

  test("CoveringIndex.candidates equals the entries whose cell contains the leaf") {
    import graft.ops.SpatialJoin.CoveringIndex
    val cases = for (covs <- coveringsGen; leaves <- leavesFor(covs)) yield (covs, leaves)
    check(Prop.forAllNoShrink(cases) { case (covs, leaves) =>
      val index = CoveringIndex.build(covs)
      val bad = leaves.filter { leaf =>
        val brute = covs.flatMap { case (id, c, ic) =>
          ic.ids.filter(CellId.contains(_, leaf)).map(_ => (id << 1) | 1L) ++
            c.difference(ic).ids.filter(CellId.contains(_, leaf)).map(_ => id << 1)
        }
        index.candidates(leaf).sorted.toSeq != brute.sorted
      }
      bad.isEmpty :| s"candidates differ at ${bad.map(CellId.toToken)}"
    })
  }

  test("CoveringIndex.intersecting equals the regions whose covering meets the union") {
    import graft.ops.SpatialJoin.CoveringIndex
    val cases = for {
      covs <- coveringsGen
      target <- regionGen
      maxCells <- Gen.oneOf(1, 8, 32)
    } yield (covs, RegionCoverer(maxCells = maxCells).covering(target))
    check(Prop.forAllNoShrink(cases) { case (covs, target) =>
      val got = CoveringIndex.build(covs).intersecting(target).toSeq
      val want = covs.collect { case (id, c, _) if c.intersectsUnion(target) => id }
      (got == want) :| s"intersecting $got, brute $want"
    })
  }
}

/** Oracle: forwards only the two predicates, so coverings through it
  * follow the reference's call pattern.
  */
private[core] final class PredicatesOnly(r: S2Region) extends S2Region {
  def capBound: Cap = r.capBound
  def rectBound: SphereRect = r.rectBound
  def containsCell(cell: Cell): Boolean = r.containsCell(cell)
  def intersectsCell(cell: Cell): Boolean = r.intersectsCell(cell)
  def containsPoint(p: Vec3): Boolean = r.containsPoint(p)
  def cellUnionBound: Array[Long] = r.cellUnionBound
}
