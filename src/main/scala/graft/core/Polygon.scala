package graft.core

/** Multi-loop polygon with even/odd hole semantics: a point is inside iff
  * it is contained by an odd number of loops... more precisely, the
  * reference defines containment as the parity over all loops
  * (/root/reference/s2/polygon.go:591-613: "any-loop parity via shared
  * index").
  *
  * INPUT CONTRACT (the reference's InitNested contract): every loop must
  * be normalized — its interior the CCW-small region, area <= 2*Pi —
  * except the full loop. Holes are detected by nesting depth, not by
  * winding; a CW-wound input loop violates the contract and yields
  * complement-region areas.
  */
final class Polygon(val loops: Array[Loop]) extends S2Region {

  // Assign nesting depths (the reference's initNested loop hierarchy,
  // polygon.go:282-375, computed here by containment counting: loops in a
  // valid polygon do not cross, so depth(i) = number of other loops that
  // contain loop i). Containment is decided with containsNested — the
  // findVertex + wedge test of loop.go:951-980 — NOT a point-in-loop
  // parity test of vertex 0: a hole may legally touch its shell at a
  // vertex, where parity of a boundary point is ill-defined and a flipped
  // depth would silently corrupt `bound` and the polygon relations.
  locally {
    var i = 0
    while (i < loops.length) {
      var d = 0
      var j = 0
      while (j < loops.length) {
        if (j != i && loops(j).containsNested(loops(i))) d += 1
        j += 1
      }
      loops(i).depth = d
      i += 1
    }
  }

  val hasHoles: Boolean = loops.exists(_.isHole)

  def isEmpty: Boolean = loops.isEmpty || loops.forall(_.isEmpty)
  def isFull: Boolean = loops.length == 1 && loops(0).isFull

  val bound: SphereRect = {
    // Union of the SHELL loop bounds only (polygon.go:389-405): every
    // contained point lies inside a depth-even loop's region, and a CW
    // hole loop's own bound is near-full, so including holes would
    // destroy the bound's selectivity.
    var b = SphereRect.empty
    loops.foreach(l => if (!l.isHole) b = b.union(l.bound))
    b
  }

  val subregionBound: SphereRect = RectBounder.expandForSubregions(bound)

  def numLoops: Int = loops.length

  /** XOR of per-loop containment (polygon.go:706-729 semantics). Each
    * loop answers through Loop.containsPoint: its bound reject, then its
    * edge index above LoopEdgeIndex.MaxBruteForceVertices.
    */
  def containsPoint(p: Vec3): Boolean = {
    var inside = false
    var i = 0
    while (i < loops.length) {
      if (loops(i).containsPoint(p)) inside = !inside
      i += 1
    }
    inside
  }

  /** Area of the polygon: signed sum of the stored loops' areas, holes
    * subtracted (polygon.go Area semantics: sign from the nesting depth
    * assigned at construction). Loops are stored normalized (interiors
    * CCW-small) except the full loop, whose 4*Pi area stands as-is.
    */
  def area: Double = {
    var total = 0.0
    loops.foreach(l => total += (if (l.isHole) -l.area else l.area))
    math.max(0, total)
  }

  /** True centroid times area: sum of the loops' scaled centroids, holes
    * subtracted (polygon.go:1021-1032). Not unit length; zero for the
    * empty and full polygons.
    */
  def centroid: Vec3 = {
    var u = Vec3.zero
    for (l <- loops) {
      val v = l.centroidTimesArea
      u = if (l.isHole) u - v else u + v
    }
    u
  }

  // ------------------------------------------------------------------
  // Polygon x Polygon relations (polygon.go:822-1003)

  /** Whether every point of `o` is contained by this polygon
    * (polygon.go:826-865).
    */
  def contains(o: Polygon): Boolean = {
    if (loops.length == 1 && o.loops.length == 1)
      return loops(0).contains(o.loops(0))
    if (!subregionBound.containsRect(o.bound)) {
      // A can still contain B when the union of the bounds wraps all
      // longitudes (two shells with a gap vs one going the other way).
      if (!bound.lng.union(o.bound.lng).isFull) return false
    }
    if (!hasHoles && !o.hasHoles)
      return o.loops.forall(anyLoopContains)
    containsBoundary(o) && o.excludesNonCrossingComplementShells(this)
  }

  /** Whether some point is contained by both polygons
    * (polygon.go:867-892).
    */
  def intersects(o: Polygon): Boolean = {
    if (loops.length == 1 && o.loops.length == 1)
      return loops(0).intersects(o.loops(0))
    if (!bound.intersects(o.bound)) return false
    if (!hasHoles && !o.hasHoles)
      return o.loops.exists(anyLoopIntersects)
    !excludesBoundary(o) || !o.excludesNonCrossingShells(this)
  }

  /** +1 if this polygon contains the boundary of loop o, -1 if it
    * excludes it, 0 on crossing (polygon.go:894-903).
    */
  def compareBoundary(o: Loop): Int = {
    var result = -1
    var i = 0
    while (i < loops.length && result != 0) {
      // sign flips each time o is contained by a loop of this polygon
      result *= -loops(i).compareBoundary(o)
      i += 1
    }
    result
  }

  private def containsBoundary(o: Polygon): Boolean =
    o.loops.forall(l => compareBoundary(l) > 0)

  private def excludesBoundary(o: Polygon): Boolean =
    o.loops.forall(l => compareBoundary(l) < 0)

  private def containsNonCrossingBoundary(o: Loop, reverse: Boolean): Boolean = {
    var inside = false
    loops.foreach(l => inside ^= l.containsNonCrossingBoundary(o, reverse))
    inside
  }

  /** Given boundaries of this do not cross loops of o: does this exclude
    * all shell boundaries of o (polygon.go:938-951)?
    */
  private def excludesNonCrossingShells(o: Polygon): Boolean =
    o.loops.forall(l => l.isHole || !containsNonCrossingBoundary(l, reverse = false))

  /** Same for the complement of o: shells of ~o are o's loop 0 inverted
    * plus o's holes (polygon.go:953-981).
    */
  private def excludesNonCrossingComplementShells(o: Polygon): Boolean = {
    if (o.isEmpty) return !isFull
    if (o.isFull) return true
    o.loops.zipWithIndex.forall { case (l, j) =>
      if (j > 0 && !l.isHole) true
      else !containsNonCrossingBoundary(l, reverse = j == 0)
    }
  }

  private def anyLoopContains(o: Loop): Boolean = loops.exists(_.contains(o))
  private def anyLoopIntersects(o: Loop): Boolean = loops.exists(_.intersects(o))

  def capBound: Cap = {
    if (loops.isEmpty) return Cap.empty
    if (loops.length == 1) return loops(0).capBound
    var c = Cap.fromPoint(LatLng.toPoint(bound.lat.center, bound.lng.center))
    loops.foreach(_.vertices.foreach(v => c = c.addPoint(v)))
    c
  }

  def rectBound: SphereRect = bound

  def containsCell(cell: Cell): Boolean = {
    if (!bound.containsPoint(cell.center)) return false
    // The polygon contains the cell iff no loop boundary passes through it
    // (each loop either wholly contains the cell or is disjoint from it)
    // and one cell corner is inside the polygon.
    loops.forall(_.cellRelation(cell) != RegionRelation.Intersects) &&
      containsPoint(cell.vertex(0))
  }

  def intersectsCell(cell: Cell): Boolean = {
    loops.exists(_.intersectsCell(cell)) || containsPoint(cell.vertex(0))
  }

  override def cellRelation(cell: Cell): Int = cellRelator().relation(cell)

  /** A one-loop polygon relates cells exactly as its loop does (the same
    * shortcut contains/intersects take), so it uses the loop's relator.
    */
  override def cellRelator(): CellRelator =
    if (loops.length == 1) loops(0).cellRelator() else new PolygonCellRelator(this)

  def cellUnionBound: Array[Long] = capBound.cellUnionBound
}

object Polygon {
  /** Build from loops. Input must satisfy the class's normalized-loop
    * contract: every loop's interior is its CCW-small region (area <=
    * 2*Pi) except the full loop; holes are implied by nesting, not by
    * winding.
    */
  def fromLoops(loops: Seq[Loop]): Polygon = new Polygon(loops.toArray)

  def fromLoopStrings(specs: Seq[String]): Polygon =
    fromLoops(specs.map(Loop.parse))

  val empty: Polygon = new Polygon(Array.empty)
  val full: Polygon = new Polygon(Array(Loop.full))
}

/** Polygon-versus-cell relation for one caller (Polygon.cellRelator): one
  * relation per loop, each through its own LoopCellRelator. A loop
  * boundary through the cell decides Intersects at once; otherwise every
  * loop holds the cell wholly inside or outside, and the polygon's
  * containment of cell vertex 0 decides the rest.
  */
private final class PolygonCellRelator(polygon: Polygon) extends CellRelator {
  import RegionRelation._

  private val loopRelators = polygon.loops.map(l => new LoopCellRelator(l))

  def relation(cell: Cell): Int = {
    var anyLoop = false
    var i = 0
    while (i < loopRelators.length) {
      val r = loopRelators(i).relation(cell)
      if (r == Intersects) return Intersects
      if (r == Contains) anyLoop = true
      i += 1
    }
    if (polygon.containsPoint(cell.vertex(0))) {
      if (polygon.bound.containsPoint(cell.center)) Contains else Intersects
    } else if (anyLoop) Intersects
    else Disjoint
  }
}
