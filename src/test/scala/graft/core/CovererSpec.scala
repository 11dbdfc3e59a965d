package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** RegionCoverer / CellUnion validity tests ported from the reference suite
  * (/root/reference/s2/regioncoverer_test.go:25-160, cellunion_test.go).
  */
class CovererSpec extends AnyFunSuite {

  private def randomCellId(rng: Random): Long = {
    val level = rng.nextInt(CellId.MaxLevel + 1)
    val face = rng.nextInt(6)
    val pos = rng.nextLong() & ((1L << CellId.PosBits) - 1)
    CellId.fromFacePosLevel(face, pos, level)
  }

  /** Port of checkCovering (regioncoverer_test.go:44-81). */
  private def checkCovering(rc: RegionCoverer, r: S2Region, covering: CellUnion,
                            interior: Boolean): Unit = {
    val minLevelCells = scala.collection.mutable.Map[Long, Int]()
    for (ci <- covering.ids) {
      val level = CellId.level(ci)
      assert(level >= rc.minLevel, s"${CellId.toToken(ci)} level")
      assert(level <= rc.maxLevel, s"${CellId.toToken(ci)} level")
      assert((level - rc.minLevel) % rc.levelMod === 0)
      val p = CellId.parent(ci, rc.minLevel)
      minLevelCells(p) = minLevelCells.getOrElse(p, 0) + 1
    }
    if (covering.size > rc.maxCells) {
      for ((_, count) <- minLevelCells) assert(count === 1)
    }
    if (interior) {
      for (ci <- covering.ids) assert(r.containsCell(Cell.fromId(ci)))
    } else {
      checkCoveringTight(r, CellUnion.normalized(covering.ids), checkTight = true, 0L)
    }
  }

  /** Port of checkCoveringTight (regioncoverer_test.go:85-115). */
  private def checkCoveringTight(r: S2Region, cover: CellUnion,
                                 checkTight: Boolean, id: Long): Unit = {
    if (!CellId.isValid(id)) {
      for (f <- 0 until 6) checkCoveringTight(r, cover, checkTight, CellId.fromFace(f))
      return
    }
    if (!r.intersectsCell(Cell.fromId(id))) {
      if (checkTight) assert(!cover.intersectsCellId(id), CellId.toToken(id))
    } else if (!cover.containsCellId(id)) {
      assert(!r.containsCell(Cell.fromId(id)), CellId.toToken(id))
      assert(!CellId.isLeaf(id), CellId.toToken(id))
      var child = CellId.childBegin(id)
      val end = CellId.childEnd(id)
      while (child != end) {
        checkCoveringTight(r, cover, checkTight, child)
        child = CellId.next(child)
      }
    }
  }

  test("random single cells cover as themselves (regioncoverer_test.go:25)") {
    val rc = RegionCoverer(minLevel = 0, maxLevel = 30, levelMod = 1, maxCells = 1)
    val rng = new Random(42)
    for (_ <- 0 until 10000) {
      val id = randomCellId(rng)
      val covering = rc.covering(CellRegion(Cell.fromId(id)))
      assert(covering.size === 1, CellId.toToken(id))
      assert(covering(0) === id, CellId.toToken(id))
    }
  }

  test("random caps coverings are valid (regioncoverer_test.go:118)") {
    val rng = new Random(7)
    for (_ <- 0 until 200) {
      var minL = rng.nextInt(CellId.MaxLevel + 1)
      var maxL = rng.nextInt(CellId.MaxLevel + 1)
      if (minL > maxL) { val t = minL; minL = maxL; maxL = t }
      val levelMod = 1 + rng.nextInt(3)
      val maxCells = 1 + rng.nextInt(10)
      val rc = RegionCoverer(minL, maxL, levelMod, maxCells)
      // random cap with area between ~leaf size and full sphere
      val p = Vec3(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian()).normalize
      val maxArea = math.min(4 * math.Pi,
        (3 * maxCells + 1) * Metric.AvgArea.value(minL))
      val area = Metric.AvgArea.value(maxL) *
        math.pow(maxArea / Metric.AvgArea.value(maxL), rng.nextDouble())
      val cap = Cap.fromCenterHeight(p, area / (2 * math.Pi))
      val covering = rc.covering(cap)
      checkCovering(rc, cap, covering, interior = false)
      val interior = rc.interiorCovering(cap)
      checkCovering(rc, cap, interior, interior = true)
    }
  }

  test("loop coverings are valid and refine loops") {
    val rc = RegionCoverer(maxCells = 8)
    val paris = LatLng.toPointDegrees(48.85, 2.35)
    val loop = Loop.regularLoop(paris, Earth.angleFromMeters(150000), 64)
    val covering = rc.covering(loop)
    assert(covering.size <= 8 && covering.size > 0)
    checkCovering(rc, loop, covering, interior = false)
    // all loop vertices inside covering
    for (v <- loop.vertices) assert(covering.containsPoint(v))

    val interior = rc.interiorCovering(loop)
    checkCovering(rc, loop, interior, interior = true)
  }

  test("covering determinism: identical inputs yield identical coverings") {
    val loop = Loop.regularLoop(LatLng.toPointDegrees(-33.9, 151.2),
      Earth.angleFromMeters(80000), 128)
    val rc = RegionCoverer(maxCells = 32)
    val a = rc.covering(loop)
    val b = rc.covering(loop)
    assert(a === b)
    assert(a.ids sameElements b.ids)
  }

  /** Forwards to a region and counts what the coverer asks of it. */
  private final class CountingRegion(r: S2Region) extends S2Region {
    val relationsById = scala.collection.mutable.HashMap[Long, Int]()
    var predicateCalls = 0
    def capBound: Cap = r.capBound
    def rectBound: SphereRect = r.rectBound
    def containsCell(cell: Cell): Boolean = { predicateCalls += 1; r.containsCell(cell) }
    def intersectsCell(cell: Cell): Boolean = { predicateCalls += 1; r.intersectsCell(cell) }
    def containsPoint(p: Vec3): Boolean = r.containsPoint(p)
    def cellUnionBound: Array[Long] = r.cellUnionBound
    override def cellRelation(cell: Cell): Int = {
      relationsById(cell.id) = relationsById.getOrElse(cell.id, 0) + 1
      r.cellRelation(cell)
    }
  }

  test("work-count pin: coverings relates each distinct cell at most once across both passes") {
    val rng = new Random(9)
    val rc = RegionCoverer(maxCells = 8)
    var shared = 0
    var separate = 0
    for (_ <- 0 until 300) {
      // 16-gons of radius 2-15 km, the shape of the shuffle-join dimension
      val center = LatLng.toPointDegrees(rng.nextDouble() * 120 - 60, rng.nextDouble() * 360 - 180)
      val loop = Loop.regularLoop(center,
        Earth.angleFromMeters(2000 + rng.nextDouble() * 13000), 16)
      val counted = new CountingRegion(loop)
      val (cov, interior) = rc.coverings(counted)
      assert(counted.relationsById.values.forall(_ == 1), "a cell was related twice")
      assert(counted.predicateCalls === 0, "the coverer must ask only cellRelation")
      shared += counted.relationsById.size
      val twoPass = new CountingRegion(loop)
      assert(cov === rc.covering(twoPass))
      assert(interior === rc.interiorCovering(twoPass))
      separate += twoPass.relationsById.values.sum
    }
    assert(shared < separate, s"shared memo $shared vs two passes $separate")
  }

  /** Forwards to a loop, and hands the coverer relators that count the
    * relations they answer.
    */
  private final class RelatorSpy(loop: Loop) extends S2Region {
    val relators = scala.collection.mutable.ArrayBuffer[LoopCellRelator]()
    var relations = 0
    def capBound: Cap = loop.capBound
    def rectBound: SphereRect = loop.rectBound
    def containsCell(cell: Cell): Boolean = loop.containsCell(cell)
    def intersectsCell(cell: Cell): Boolean = loop.intersectsCell(cell)
    def containsPoint(p: Vec3): Boolean = loop.containsPoint(p)
    def cellUnionBound: Array[Long] = loop.cellUnionBound
    override def cellRelator(): CellRelator = {
      val r = new LoopCellRelator(loop)
      relators += r
      cell => { relations += 1; r.relation(cell) }
    }
  }

  test("geobench-shaped 16-gons take the single-face path and cover as the predicates do") {
    // 16-gons of radius 2-15 km within +-3 deg of the benchmark's 8 cities
    val cities = Seq((40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503),
      (-23.5505, -46.6333), (28.6139, 77.2090), (-33.8688, 151.2093),
      (6.5244, 3.3792), (48.8566, 2.3522))
    val rng = new Random(9)
    val rc = RegionCoverer(maxCells = 8)
    var singleFace = 0
    for (k <- 0 until 2000) {
      val (lat, lng) = cities(k % cities.size)
      val loop = Loop.regularLoop(LatLng.toPointDegrees(lat + rng.nextDouble() * 6 - 3,
        lng + rng.nextDouble() * 6 - 3), Earth.angleFromMeters(2000 + rng.nextDouble() * 13000), 16)
      // Tokyo and New York lie near cube edges, so some loops straddle two
      // faces; these small loops never contain a face centre's antipode.
      val f = STUV.face(loop.vertex(0).x, loop.vertex(0).y, loop.vertex(0).z)
      val eligible = loop.vertices.forall { p =>
        STUV.face(p.x, p.y, p.z) == f &&
          math.abs(STUV.validFaceXYZtoU(f, p.x, p.y, p.z)) <= 1 - 1e-6 &&
          math.abs(STUV.validFaceXYZtoV(f, p.x, p.y, p.z)) <= 1 - 1e-6
      }
      val spy = new RelatorSpy(loop)
      val (cov, interior) = rc.coverings(spy)
      assert(spy.relators.size === 1)
      val taken = spy.relators.head.singleFaceRelations
      assert(spy.relations > 0 && taken === (if (eligible) spy.relations else 0),
        s"loop $k: $taken of ${spy.relations} relations took the single-face path")
      if (eligible) singleFace += 1
      val oracle = new PredicatesOnly(loop)
      assert(cov.ids sameElements rc.covering(oracle).ids, s"loop $k covering")
      assert(interior.ids sameElements rc.interiorCovering(oracle).ids, s"loop $k interior")
      val counted = new CountingRegion(loop)
      rc.coverings(counted)
      assert(counted.relationsById.values.forall(_ == 1), s"loop $k: a cell was related twice")
    }
    assert(singleFace >= 1950, s"only $singleFace of 2000 loops lie within one face")
  }

  test("cell union normalize: siblings collapse (cellunion_test.go semantics)") {
    val id = CellId.parent(CellId.fromLatLngDegrees(10, 20), 10)
    val kids = CellId.children(id)
    val cu = CellUnion.normalized(kids)
    assert(cu.size === 1)
    assert(cu(0) === id)
    // contained cells dropped
    val cu2 = CellUnion.normalized(Array(id, kids(1), CellId.children(kids(2))(3)))
    assert(cu2.size === 1 && cu2(0) === id)
  }

  test("cell union set ops agree with leaf-set semantics") {
    val rng = new Random(3)
    for (_ <- 0 until 50) {
      val base = CellId.parent(randomCellId(rng), 6)
      val kidsA = CellId.children(base)
      val a = CellUnion.normalized(Array(kidsA(0), kidsA(1)))
      val b = CellUnion.normalized(Array(kidsA(1), kidsA(2)))
      val u = a.union(b)
      val i = a.intersection(b)
      val d = a.difference(b)
      assert(u.leafCellsCovered === 3 * (kidsA(0) - CellId.rangeMin(kidsA(0)) + 1) / 1 ||
        u.leafCellsCovered === a.leafCellsCovered + b.leafCellsCovered - i.leafCellsCovered)
      assert(i.leafCellsCovered === (a.leafCellsCovered + b.leafCellsCovered - u.leafCellsCovered))
      assert(d.leafCellsCovered === a.leafCellsCovered - i.leafCellsCovered)
      assert(u.containsUnion(a) && u.containsUnion(b))
      assert(a.containsUnion(i) && b.containsUnion(i))
      assert(!d.intersectsUnion(b) || i.isEmpty)
    }
  }

  test("cellUnionFromRange tiles ranges minimally (cellunion_test.go:1285 semantics)") {
    val rng = new Random(9)
    for (_ <- 0 until 100) {
      val a = CellId.rangeMin(randomCellId(rng))
      val b = CellId.rangeMin(randomCellId(rng))
      val (lo, hi) =
        if (java.lang.Long.compareUnsigned(a, b) <= 0) (a, b) else (b, a)
      val cu = CellUnion.fromRange(lo, hi)
      // covers exactly [lo, hi): leaf count matches
      val want = (hi - lo) >>> 1 // each leaf step is 2 on the id line
      assert(cu.leafCellsCovered === want)
      // normalized: valid, sorted, non-overlapping
      var i = 0
      while (i + 1 < cu.size) {
        assert(java.lang.Long.compareUnsigned(
          CellId.rangeMax(cu(i)), CellId.rangeMin(cu(i + 1))) < 0)
        i += 1
      }
    }
  }

  test("expandAtLevel adds a complete rim") {
    val id = CellId.parent(CellId.fromLatLngDegrees(40, -70), 10)
    val cu = CellUnion.normalized(Array(id))
    val expanded = cu.expandAtLevel(10)
    assert(expanded.containsCellId(id))
    for (n <- CellId.allNeighbors(id, 10)) assert(expanded.containsCellId(n))
  }
}
