package graft.core

/** Single closed vertex chain on the sphere; the interior is on the left of
  * the directed edges (CCW loops enclose small areas)
  * (/root/reference/s2/loop.go:27-162,590-628).
  *
  * Containment parity is counted from a fixed origin point, bootstrapped via
  * the wedge test at vertex 1 exactly like the reference (loop.go:125-162) so
  * results are bit-compatible. Point containment uses the brute-force
  * crossing count; at engine scale the covering join prunes candidates so
  * each refine call sees only boundary-cell points.
  */
final class Loop private (val vertices: Array[Vec3]) extends S2Region {
  import EdgeCrossings._

  /** Nesting depth within a polygon (0 = shell, odd = hole); assigned by
    * Polygon construction, like the reference's Loop.depth
    * (loop.go:88-95).
    */
  var depth: Int = 0

  def isHole: Boolean = (depth & 1) == 1

  /** +1 for shells, -1 for holes (loop.go:uses in area sums). */
  def sign: Int = if (isHole) -1 else 1

  /** Whether the fixed origin point is inside; part of the wire format. */
  val originInside: Boolean = computeOriginInside()

  /** Conservative lat/lng bound of the loop (loop.go:175-216). */
  val bound: SphereRect = computeBound()

  /** Bound that contains the bounds of all subregions. */
  val subregionBound: SphereRect = RectBounder.expandForSubregions(bound)

  def numVertices: Int = vertices.length

  /** Vertex with wraparound (vertex(n) == vertex(0)). */
  def vertex(i: Int): Vec3 = vertices(i % vertices.length)

  def isEmptyOrFull: Boolean = vertices.length == 1
  def isEmpty: Boolean = isEmptyOrFull && !originInside
  def isFull: Boolean = isEmptyOrFull && originInside

  private def computeOriginInside(): Boolean = {
    if (vertices.length < 3) {
      if (!isEmptyOrFull) return false
      return vertices(0).z < 0
    }
    val v1Inside = vertices(0) != vertices(1) && vertices(2) != vertices(1) &&
      angleContainsVertex(vertices(0), vertices(1), vertices(2))
    // Guess origin outside; flip if vertex-1 containment disagrees.
    val v1ContainedIfOutside = bruteForceContains(vertices(1), originIn = false)
    v1Inside != v1ContainedIfOutside
  }

  private def computeBound(): SphereRect = {
    if (isEmptyOrFull) {
      return if (isEmpty) SphereRect.empty else SphereRect.full
    }
    val bounder = new RectBounder
    var i = 0
    while (i <= vertices.length) { bounder.addPoint(vertex(i)); i += 1 }
    var b = bounder.rectBound
    if (bruteForceContains(Vec3(0, 0, 1), originInside)) {
      b = SphereRect(R1Interval(b.lat.lo, math.Pi / 2), S1Interval.full)
    }
    if (b.lng.isFull && bruteForceContains(Vec3(0, 0, -1), originInside)) {
      b = SphereRect(R1Interval(-math.Pi / 2, b.lat.hi), b.lng)
    }
    b
  }

  private def bruteForceContains(p: Vec3, originIn: Boolean): Boolean = {
    var inside = originIn
    val crosser = new EdgeCrosser(originPoint, p)
    crosser.restartAt(vertex(0))
    var i = 1
    while (i <= vertices.length) { // vertex 0 appended again at the end
      inside = inside != crosser.edgeOrVertexChainCrossing(vertex(i))
      i += 1
    }
    inside
  }

  /** Brute-force PIP (loop.go:590-598). */
  def bruteForceContainsPoint(p: Vec3): Boolean =
    bruteForceContains(p, originInside)

  /** Cell-bucketed edge index, built lazily for loops above the
    * reference's brute-force threshold (loop.go:615). None for small
    * loops where the O(V) scan is cheaper than an index probe.
    */
  @transient private lazy val builtIndex: Option[LoopEdgeIndex] =
    if (!isEmptyOrFull && vertices.length > LoopEdgeIndex.MaxBruteForceVertices)
      Some(LoopEdgeIndex.build(this))
    else None

  /** Exposed for tests/benchmarks: the index if this loop carries one. */
  def edgeIndexOption: Option[LoopEdgeIndex] = builtIndex

  /** Conservative candidate edge ids for a query segment (all edges for
    * small loops) — the pruning source for loop-relation crossing scans
    * and the crossing join.
    */
  private[graft] def candidateEdges(a: Vec3, b: Vec3): Array[Int] =
    builtIndex match {
      case Some(idx) => idx.candidateEdges(a, b)
      case None => Array.tabulate(vertices.length)(identity)
    }

  def containsPoint(p: Vec3): Boolean = {
    if (!bound.containsPoint(p)) return false
    builtIndex match {
      case Some(idx) => idx.containsPoint(p)
      case None => bruteForceContainsPoint(p)
    }
  }

  // ------------------------------------------------------------------
  // Loop x Loop relations (loop.go:272-369, 436-469, 951-980, 1822-1852)

  /** Whether this loop's region is a superset of the other loop's region
    * (loop.go:274-325): no boundary crossings, compatible wedges at
    * shared vertices, and the point-containment conditions that separate
    * nesting from the union-is-the-whole-sphere case.
    */
  def contains(o: Loop): Boolean = {
    if (!subregionBound.containsRect(o.bound)) return false
    if (isEmptyOrFull || o.isEmptyOrFull) return isFull || o.isEmpty
    val rel = new LoopRelations.ContainsRelation
    if (LoopRelations.hasCrossingRelation(this, o, rel)) return false
    if (rel.foundSharedVertex) return true
    if (!containsPoint(o.vertex(0))) return false
    // (A union B) == sphere means A contains B's boundary but not B.
    if ((o.subregionBound.containsRect(bound) || o.bound.union(bound).isFull) &&
        o.containsPoint(vertex(0))) return false
    true
  }

  /** Whether the two loop regions intersect (loop.go:330-369). */
  def intersects(o: Loop): Boolean = {
    if (!bound.intersects(o.bound)) return false
    val rel = new LoopRelations.IntersectsRelation
    if (LoopRelations.hasCrossingRelation(this, o, rel)) return true
    if (rel.foundSharedVertex) return false
    // No crossings / shared vertices: loops intersect only via nesting or
    // mutual boundary containment; neither loop is empty here.
    if (subregionBound.containsRect(o.bound) || bound.union(o.bound).isFull) {
      if (containsPoint(o.vertex(0))) return true
    }
    if (o.subregionBound.containsRect(bound) && o.containsPoint(vertex(0)))
      return true
    false
  }

  /** +1 if this loop contains the other's boundary, -1 if it excludes it,
    * 0 if the boundaries cross; shared edges resolved by the other loop's
    * hole-ness (loop.go:436-469).
    */
  def compareBoundary(o: Loop): Int = {
    if (!bound.intersects(o.bound)) return -1
    if (isFull) return 1
    if (o.isFull) return -1
    val rel = new LoopRelations.CompareBoundaryRelation(o.isHole)
    if (LoopRelations.hasCrossingRelation(this, o, rel)) return 0
    if (rel.foundSharedVertex) return if (rel.containsEdge) 1 else -1
    if (containsPoint(o.vertex(0))) 1 else -1
  }

  /** Validation per loop.go:219-270 (unit vertices, vertex count,
    * degenerate/antipodal edges, duplicate vertices) plus the
    * non-adjacent edge-crossing check the reference leaves as a TODO
    * (the edge index makes it cheap here). Returns the first error.
    */
  def validate(checkSelfIntersection: Boolean = true): Option[String] = {
    val n = vertices.length
    var i = 0
    while (i < n) {
      if (math.abs(vertices(i).norm2 - 1.0) > 5 * Predicates.MachineEps)
        return Some(s"vertex $i is not unit length")
      i += 1
    }
    if (n < 3) {
      if (isEmptyOrFull) return None
      return Some("non-empty, non-full loops must have at least 3 vertices")
    }
    i = 0
    while (i < n) {
      if (vertex(i) == vertex(i + 1))
        return Some(s"edge $i is degenerate (duplicate vertex)")
      if (vertex(i) == vertex(i + 1) * -1)
        return Some(s"vertices $i and ${(i + 1) % n} are antipodal")
      i += 1
    }
    val seen = scala.collection.mutable.HashSet[Vec3]()
    i = 0
    while (i < n) {
      if (!seen.add(vertices(i)))
        return Some(s"duplicate vertex at $i")
      i += 1
    }
    if (checkSelfIntersection) {
      i = 0
      while (i < n) {
        val a0 = vertex(i)
        val a1 = vertex(i + 1)
        val crosser = new EdgeCrosser(a0, a1)
        for (j <- candidateEdges(a0, a1)) {
          // skip this edge and the two adjacent ones (they share a vertex)
          val adjacent = j == i || (j + 1) % n == i || (i + 1) % n == j
          if (!adjacent && j > i &&
            crosser.crossingSignTo(vertex(j), vertex(j + 1)) == Cross)
            return Some(s"edges $i and $j cross")
        }
        i += 1
      }
    }
    None
  }

  /** Whether the two loops have the same boundary (same vertices in the
    * same cyclic order); empty and full differ (loop.go:394-425).
    */
  def boundaryEqual(o: Loop): Boolean = {
    if (vertices.length != o.vertices.length) return false
    if (isEmptyOrFull) return isEmpty == o.isEmpty
    var offset = 0
    while (offset < vertices.length) {
      if (vertices(offset) == o.vertex(0)) {
        var i = 0
        while (i < vertices.length) {
          if (vertex(i + offset) != o.vertex(i)) return false
          i += 1
        }
        return true
      }
      offset += 1
    }
    false
  }

  /** Index of a vertex equal to p in [1, numVertices], or -1
    * (loop.go:917-945).
    */
  private[core] def findVertex(p: Vec3): Int = {
    var i = 1
    while (i <= vertices.length) {
      if (vertex(i) == p) return i
      i += 1
    }
    -1
  }

  /** Containment given the precondition that the loops share no edges and
    * either nest or are disjoint (loop.go:951-980).
    */
  def containsNested(o: Loop): Boolean = {
    if (!subregionBound.containsRect(o.bound)) return false
    if (isEmptyOrFull || o.numVertices < 2) return isFull || o.isEmpty
    val m = findVertex(o.vertex(1))
    if (m < 0) return containsPoint(o.vertex(1))
    WedgeRelations.wedgeContains(vertex(m - 1), vertex(m), vertex(m + 1),
      o.vertex(0), o.vertex(2))
  }

  /** Whether this loop contains the other's boundary, given no boundary
    * crossings; reverseOther flips the other's direction for shared-edge
    * resolution (loop.go:1822-1852).
    */
  private[core] def containsNonCrossingBoundary(o: Loop,
                                                reverseOther: Boolean): Boolean = {
    if (!bound.intersects(o.bound)) return false
    if (isFull) return true
    if (o.isFull) return false
    val m = findVertex(o.vertex(0))
    if (m < 0) return containsPoint(o.vertex(0))
    WedgeRelations.wedgeContainsSemiwedge(vertex(m - 1), vertex(m),
      vertex(m + 1), o.vertex(1), reverseOther)
  }

  def containsCell(cell: Cell): Boolean =
    bound.containsPoint(cell.center) &&
      !new LoopCellRelator(this).boundaryIntersects(cell, cell.rectBound) &&
      containsPoint(cell.vertex(0))

  def intersectsCell(cell: Cell): Boolean = {
    if (isEmpty) return false
    if (isFull) return true
    val cellBound = cell.rectBound
    if (!bound.intersects(cellBound)) return false
    new LoopCellRelator(this).boundaryIntersects(cell, cellBound) ||
      containsPoint(cell.vertex(0))
  }

  /** One pass: the rect reject, one boundary test, one containsPoint of
    * cell vertex 0 (containsCell and intersectsCell each repeat the
    * boundary test).
    */
  override def cellRelation(cell: Cell): Int = cellRelator().relation(cell)

  override def cellRelator(): CellRelator = new LoopCellRelator(this)

  def capBound: Cap = {
    // Bounding cap derived from the rect bound's center/corners.
    if (isEmpty) return Cap.empty
    if (isFull) return Cap.full
    val ctrLat = bound.lat.center
    val ctrLng = bound.lng.center
    var c = Cap.fromPoint(LatLng.toPoint(ctrLat, ctrLng))
    var i = 0
    while (i < vertices.length) { c = c.addPoint(vertices(i)); i += 1 }
    c
  }

  def rectBound: SphereRect = bound

  def cellUnionBound: Array[Long] = capBound.cellUnionBound

  /** Signed turning angle sum; > 0 for CCW "normalized" loops. */
  def isNormalized: Boolean = area <= 2 * math.Pi + 1e-10

  /** Invert the loop in place semantics: returns the complement loop;
    * empty and full swap their sentinel vertices (loop.go:856-880).
    */
  def inverted: Loop =
    if (isEmptyOrFull) { if (isFull) Loop.empty else Loop.full }
    else new Loop(vertices.reverse)

  def normalized: Loop = if (isNormalized) this else inverted

  /** Loop area in steradians, in [0, 4*Pi], via the signed surface integral
    * (loop.go:1007-1070 semantics — Kahan-free simplified form: area of a
    * spherical polygon = sum of triangle areas from an interior fan with
    * sign handling done by the parity of the origin).
    */
  def area: Double = {
    if (isEmptyOrFull) return if (originInside) 4 * math.Pi else 0.0
    var a = turningAngleArea()
    if (a < 0) a += 4 * math.Pi
    if (a > 4 * math.Pi) a = 4 * math.Pi
    if (a < 0) a = 0
    a
  }

  /** Canonical (rotation- and direction-invariant) first vertex and
    * traversal direction, so angle sums are order-stable
    * (loop.go:758-775).
    */
  private def canonicalFirstVertex: (Int, Int) = {
    def cmpLess(a: Vec3, b: Vec3): Boolean =
      a.x < b.x || (a.x == b.x && (a.y < b.y || (a.y == b.y && a.z < b.z)))
    var firstIdx = 0
    val n = vertices.length
    var i = 1
    while (i < n) {
      if (cmpLess(vertex(i), vertex(firstIdx))) firstIdx = i
      i += 1
    }
    if (cmpLess(vertex(firstIdx + 1), vertex(firstIdx + n - 1))) (firstIdx, 1)
    else (firstIdx + n, -1)
  }

  /** Turning-angle sum with Kahan compensation over the canonical vertex
    * order (loop.go:785-828): plain accumulation has worst-case error
    * quadratic in the vertex count on spiral shapes.
    */
  def turningAngle: Double = {
    if (isEmptyOrFull) return if (originInside) -2 * math.Pi else 2 * math.Pi
    if (vertices.length < 3) return 0
    val n0 = vertices.length
    var (i, dir) = canonicalFirstVertex
    var sum = turnAngle(vertex((i + n0 - dir) % n0), vertex(i % n0),
      vertex((i + dir + 2 * n0) % n0))
    var compensation = 0.0
    var n = n0
    while (n - 1 > 0) {
      i += dir
      var angle = turnAngle(vertex((i - dir + 2 * n0) % n0), vertex((i + 2 * n0) % n0),
        vertex((i + dir + 2 * n0) % n0))
      val oldSum = sum
      angle += compensation
      sum += angle
      compensation = (oldSum - sum) + angle
      n -= 1
    }
    val maxCurvature = 2 * math.Pi - 4 * Predicates.MachineEps
    math.max(-maxCurvature, math.min(maxCurvature, dir * (sum + compensation)))
  }

  /** Gauss-Bonnet: area = 2*Pi - sum of turning angles. */
  private def turningAngleArea(): Double = 2 * math.Pi - turningAngle

  /** Exterior (turning) angle at b going a->b->c, positive for left turns
    * (point_measures.go:120-150).
    */
  private def turnAngle(a: Vec3, b: Vec3, c: Vec3): Double = {
    val angle = pointCross(a, b).angle(pointCross(b, c))
    if (Predicates.sign(a, b, c)) angle else -angle
  }

  /** Centroid of the loop interior times its area (not unit length). */
  def centroidTimesArea: Vec3 = {
    // Fan of triangles from vertex(0); triangle centroid contribution per
    // centroids.go:61-100 (TrueCentroid of triangle).
    var sum = Vec3.zero
    var i = 1
    while (i + 1 <= vertices.length - 1) {
      sum = sum + Centroids.trueCentroid(vertices(0), vertices(i), vertices(i + 1))
      i += 1
    }
    sum
  }
}

object Loop {
  /** Build from vertices; does NOT take ownership normalization decisions
    * (loop.go:77-105).
    */
  def fromPoints(points: Array[Vec3]): Loop = new Loop(points)

  def fromLatLngsDegrees(latLngs: Seq[(Double, Double)]): Loop =
    new Loop(latLngs.map { case (lat, lng) => LatLng.toPointDegrees(lat, lng) }.toArray)

  /** Parse the reference's text fixture format "lat:lng, lat:lng, ..."
    * in degrees (textformat_test.go:15-30).
    */
  def parse(s: String): Loop =
    fromLatLngsDegrees(s.split(",").map(_.trim).filter(_.nonEmpty).map { tok =>
      val Array(lat, lng) = tok.split(":").map(_.trim.toDouble)
      (lat, lng)
    }.toSeq)

  val empty: Loop = new Loop(Array(Vec3(0, 0, 1)))
  val full: Loop = new Loop(Array(Vec3(0, 0, -1)))

  /** Regular polygon loop: numVertices vertices on a circle of the given
    * angular radius around center (loop.go:742-750, point.go:148-172).
    */
  def regularLoop(center: Vec3, radiusRad: Double, numVertices: Int): Loop = {
    // Right-handed frame (x,y,z=center) per matrix3x3.go:104-114.
    val z = center
    val y = z.ortho
    val x = y.cross(z)
    val cosR = math.cos(radiusRad)
    val sinR = math.sin(radiusRad)
    val step = 2 * math.Pi / numVertices
    val verts = Array.tabulate(numVertices) { i =>
      val angle = i * step
      val p = Vec3(sinR * math.cos(angle), sinR * math.sin(angle), cosR)
      // fromFrame: m * p with columns (x, y, z)
      (x * p.x + y * p.y + z * p.z).normalize
    }
    new Loop(verts)
  }
}

/** Loop-versus-cell tests for one caller (Loop.cellRelator). It keeps one
  * EdgeCrosser per loop edge, built on first use and reused for every
  * later cell, so a coverer run builds each crosser once instead of once
  * per edge per cell. Not thread-safe: a Loop is broadcast to concurrent
  * tasks, so this state lives here and never in the Loop.
  *
  * Single-face path. When every vertex lies well inside one cube face F
  * (|u|, |v| <= 1 - 1e-6) and the loop does not contain the antipode of
  * F's centre, the loop's closed region lies inside the UV hull of its
  * vertices on F: its edges project to straight UV segments, and the
  * region outside the hull, connected to that antipode and crossed by no
  * edge, is outside the loop. The first relation() projects the vertices
  * onto F once. A cell is then Disjoint if it lies on another face or if
  * its UV rectangle misses the vertex UV box widened by UVMargin, and
  * the rect bound is never computed. The vertex-in-cell test compares
  * the projected vertices with the arithmetic and margin of
  * Cell.containsPoint. Only edges whose widened UV box meets the cell
  * reach the EdgeCrosser tests, and a cell whose vertex 0 lies outside
  * the widened vertex box needs no containsPoint. These filters skip only
  * tests whose exact answer they already know: every remaining decision
  * goes through the same exact predicates as the general path, so both
  * paths return the same relation for every cell. Loops that fail the
  * condition, and loops large enough to carry an edge index, take the
  * general path. Loop.containsCell and intersectsCell build a relator per
  * call but use only boundaryIntersects, so they never build the
  * projection.
  */
private[core] final class LoopCellRelator(loop: Loop) extends CellRelator {
  import RegionRelation._
  import LoopCellRelator._

  private val crossers = new Array[EdgeCrosser](loop.numVertices)

  /** Relations answered on the single-face path. */
  private[core] var singleFaceRelations = 0

  // The single-face projection, built by the first relation():
  // `face` is Unplanned before that and NoFace when the loop does not
  // qualify. us/vs are the vertices' (u, v) on the face, box the widened
  // vertex box (uLo, uHi, vLo, vHi) and edgeBoxes the same per edge.
  private var face = Unplanned
  private var us: Array[Double] = _
  private var vs: Array[Double] = _
  private val box = new Array[Double](4)
  private var edgeBoxes: Array[Double] = _
  private val edgesMeetingCell = new Array[Int](loop.numVertices)

  def relation(cell: Cell): Int = {
    if (face == Unplanned) face = projectOntoFace()
    if (face == NoFace) generalRelation(cell)
    else {
      singleFaceRelations += 1
      singleFaceRelation(cell)
    }
  }

  private def generalRelation(cell: Cell): Int = {
    if (loop.isEmpty) return Disjoint
    if (!loop.isFull) {
      val cellBound = cell.rectBound
      if (!loop.bound.intersects(cellBound)) return Disjoint
      if (boundaryIntersects(cell, cellBound)) return Intersects
    }
    // No boundary in the cell: it lies wholly inside or wholly outside,
    // as its vertex 0 does.
    if (loop.containsPoint(cell.vertex(0))) Contains
    else if (loop.isFull) Intersects
    else Disjoint
  }

  /** The face the single-face path projects onto, or NoFace; fills
    * us, vs, box and edgeBoxes.
    */
  private def projectOntoFace(): Int = {
    val n = loop.numVertices
    if (loop.isEmptyOrFull || n > LoopEdgeIndex.MaxBruteForceVertices) return NoFace
    val v0 = loop.vertex(0)
    val f = STUV.face(v0.x, v0.y, v0.z)
    val u = new Array[Double](n)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      val p = loop.vertex(i)
      if (!STUV.onFacePositiveSide(f, p)) return NoFace
      u(i) = STUV.validFaceXYZtoU(f, p.x, p.y, p.z)
      v(i) = STUV.validFaceXYZtoV(f, p.x, p.y, p.z)
      if (!(math.abs(u(i)) <= FaceLimit && math.abs(v(i)) <= FaceLimit)) return NoFace
      i += 1
    }
    if (loop.containsPoint(STUV.unitNorm(f) * -1.0)) return NoFace
    val eb = new Array[Double](4 * n)
    box(0) = Double.PositiveInfinity; box(1) = Double.NegativeInfinity
    box(2) = Double.PositiveInfinity; box(3) = Double.NegativeInfinity
    i = 0
    while (i < n) {
      val k = if (i + 1 == n) 0 else i + 1
      eb(4 * i) = math.min(u(i), u(k)) - UVMargin
      eb(4 * i + 1) = math.max(u(i), u(k)) + UVMargin
      eb(4 * i + 2) = math.min(v(i), v(k)) - UVMargin
      eb(4 * i + 3) = math.max(v(i), v(k)) + UVMargin
      box(0) = math.min(box(0), eb(4 * i)); box(1) = math.max(box(1), eb(4 * i + 1))
      box(2) = math.min(box(2), eb(4 * i + 2)); box(3) = math.max(box(3), eb(4 * i + 3))
      i += 1
    }
    us = u
    vs = v
    edgeBoxes = eb
    f
  }

  private def singleFaceRelation(cell: Cell): Int = {
    if (cell.face != face || cell.uLo > box(1) || cell.uHi < box(0) ||
      cell.vLo > box(3) || cell.vHi < box(2)) return Disjoint
    // Vertex i can lie in the cell only if edge i's box meets it, so one
    // pass over the edge boxes runs the vertex tests and collects the
    // edges for the crossing tests.
    val uLo = cell.uLo - Cell.PointMargin
    val uHi = cell.uHi + Cell.PointMargin
    val vLo = cell.vLo - Cell.PointMargin
    val vHi = cell.vHi + Cell.PointMargin
    var m = 0
    var i = 0
    while (i < us.length) {
      val b = 4 * i
      if (edgeBoxes(b) <= cell.uHi && edgeBoxes(b + 1) >= cell.uLo &&
        edgeBoxes(b + 2) <= cell.vHi && edgeBoxes(b + 3) >= cell.vLo) {
        val u = us(i)
        val v = vs(i)
        if (u >= uLo && u <= uHi && v >= vLo && v <= vHi) return Intersects
        edgesMeetingCell(m) = i
        m += 1
      }
      i += 1
    }
    var v0: Vec3 = null
    if (m > 0) {
      v0 = cell.vertex(0)
      val v1 = cell.vertex(1)
      val v2 = cell.vertex(2)
      val v3 = cell.vertex(3)
      i = 0
      while (i < m) {
        val cr = crosser(edgesMeetingCell(i))
        if (cr.edgeOrVertexCrossingTo(v0, v1) || cr.edgeOrVertexCrossingTo(v1, v2) ||
          cr.edgeOrVertexCrossingTo(v2, v3) || cr.edgeOrVertexCrossingTo(v3, v0)) return Intersects
        i += 1
      }
    }
    // No boundary in the cell: it lies wholly inside or wholly outside,
    // as its vertex 0 does, and outside when that vertex lies outside the
    // vertex box. Inside the box the parity test needs no bound reject.
    if (cell.uLo < box(0) || cell.uLo > box(1) || cell.vLo < box(2) || cell.vLo > box(3))
      return Disjoint
    if (loop.bruteForceContainsPoint(if (v0 == null) cell.vertex(0) else v0)) Contains
    else Disjoint
  }

  /** Whether the loop boundary passes through the cell: a loop vertex lies
    * inside the (closed) cell, or a loop edge crosses a cell edge. Large
    * loops test only the edges their edge index files under leaves that
    * overlap `cellBound`, the cell's rect bound.
    */
  def boundaryIntersects(cell: Cell, cellBound: => SphereRect): Boolean = {
    if (loop.isEmptyOrFull) return false
    val cand: Array[Int] = loop.edgeIndexOption match {
      case Some(idx) => idx.candidateEdgesInRect(cellBound)
      case None => null // every edge
    }
    val m = if (cand == null) loop.numVertices else cand.length
    var i = 0
    while (i < m) {
      if (cell.containsPoint(loop.vertex(if (cand == null) i else cand(i)))) return true
      i += 1
    }
    val v0 = cell.vertex(0)
    val v1 = cell.vertex(1)
    val v2 = cell.vertex(2)
    val v3 = cell.vertex(3)
    i = 0
    while (i < m) {
      val cr = crosser(if (cand == null) i else cand(i))
      if (cr.edgeOrVertexCrossingTo(v0, v1) || cr.edgeOrVertexCrossingTo(v1, v2) ||
        cr.edgeOrVertexCrossingTo(v2, v3) || cr.edgeOrVertexCrossingTo(v3, v0)) return true
      i += 1
    }
    false
  }

  private def crosser(e: Int): EdgeCrosser = {
    var cr = crossers(e)
    if (cr == null) {
      cr = new EdgeCrosser(loop.vertex(e), loop.vertex(e + 1))
      crossers(e) = cr
    }
    cr
  }
}

private[core] object LoopCellRelator {
  private final val Unplanned = -2
  private final val NoFace = -1

  /** Largest |u| and |v| of a vertex on the single-face path. */
  private final val FaceLimit = 1 - 1e-6

  /** Widening of the vertex and edge UV boxes: far above the rounding
    * of a projected vertex or of a normalized cell corner (about 1e-16).
    */
  private final val UVMargin = 1e-9
}

/** Triangle centroid kernels (/root/reference/s2/centroids.go:61-133). */
object Centroids {
  /** True centroid of spherical triangle ABC times its area. */
  def trueCentroid(a: Vec3, b: Vec3, c: Vec3): Vec3 = {
    // centroids.go:78-110, INCLUDING the first-row subtraction: solving
    // Cramer's rule on the raw vertex rows cancels catastrophically for
    // tiny triangles (vertices agree to many digits); subtracting row A
    // from B and C keeps the differences exact.
    val angleA = b.angle(c)
    val angleB = c.angle(a)
    val angleC = a.angle(b)
    val ra = if (angleA == 0) 1.0 else angleA / math.sin(angleA)
    val rb = if (angleB == 0) 1.0 else angleB / math.sin(angleB)
    val rc = if (angleC == 0) 1.0 else angleC / math.sin(angleC)

    val xv = Vec3(a.x, b.x - a.x, c.x - a.x)
    val yv = Vec3(a.y, b.y - a.y, c.y - a.y)
    val zv = Vec3(a.z, b.z - a.z, c.z - a.z)
    val r = Vec3(ra, rb - ra, rc - ra)
    Vec3(
      0.5 * yv.cross(zv).dot(r),
      0.5 * zv.cross(xv).dot(r),
      0.5 * xv.cross(yv).dot(r))
  }
}
