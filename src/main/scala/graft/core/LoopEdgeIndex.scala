package graft.core

/** Per-loop edge index: the Spark-side analogue of the reference's
  * shape index (s2/shapeindex.go:789-1143) for large
  * loops. The reference switches Loop.ContainsPoint from brute force to
  * an index walk above 32 vertices (loop.go:615); this index restores
  * that sublinear refine with rect-bound edge assignment instead of the
  * reference's padded-cell edge clipping:
  *
  *  - Recursive cell subdivision from the 6 faces, splitting while a cell
  *    holds more than maxEdgesPerCell candidate edges (the reference's
  *    subdivision criterion, shapeindex.go:634-637). Edge-to-cell
  *    assignment is conservative (edge rect-bound vs cell rect-bound), so
  *    every leaf's edge list is a superset of the edges truly crossing it
  *    — extra candidates only cost time, never correctness.
  *  - The interior state (does the loop contain each leaf's center) is
  *    propagated during the subdivision DFS: cells are geodesically
  *    convex (intersections of 4 hemispheres), so the segment from a
  *    parent center to a child center stays inside the parent and only
  *    the parent's candidate edges can cross it — the same idea as the
  *    reference's interiorTracker (shapeindex.go:373-470) without
  *    re-walking all edges per cell.
  *
  * Queries:
  *  - containsPoint: locate the leaf (binary search over the disjoint
  *    Hilbert-sorted tiling), then parity = centerInside XOR crossings of
  *    the center->p segment against the leaf's <= maxEdgesPerCell edges —
  *    loop.go:718-738 semantics, O(log leaves + edgesPerCell) per probe
  *    instead of O(V).
  *  - candidateEdges: conservative candidate edge ids for an arbitrary
  *    query segment (used by the loop-relation crossing scan), via leaf
  *    rect-bound overlap.
  */
final class LoopEdgeIndex private (loop: Loop,
                                   cellIds: Array[Long],
                                   bounds: Array[SphereRect],
                                   edgeLists: Array[Array[Int]],
                                   centerIn: Array[Boolean]) {

  /** Diagnostic: exact-predicate edge tests performed by queries (reset
    * freely from tests; single-threaded accounting only).
    */
  var edgeTests: Long = 0L

  private def leafOf(p: Vec3): Int = {
    val leaf = CellId.fromPoint(p.x, p.y, p.z)
    // rightmost cell whose rangeMin <= leaf (cells disjoint + complete)
    var lo = 0
    var hi = cellIds.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (java.lang.Long.compareUnsigned(CellId.rangeMin(cellIds(mid)), leaf) <= 0) lo = mid
      else hi = mid - 1
    }
    lo
  }

  def containsPoint(p: Vec3): Boolean = {
    val li = leafOf(p)
    val edges = edgeLists(li)
    var inside = centerIn(li)
    if (edges.length > 0) {
      val center = Cell.fromId(cellIds(li)).center
      val crosser = new EdgeCrosser(center, p)
      var k = 0
      while (k < edges.length) {
        val e = edges(k)
        if (crosser.edgeOrVertexCrossingTo(loop.vertex(e), loop.vertex(e + 1)))
          inside = !inside
        k += 1
      }
      edgeTests += edges.length
    }
    inside
  }

  /** Sorted, distinct candidate edge ids for a query segment (a, b). */
  def candidateEdges(a: Vec3, b: Vec3): Array[Int] = {
    val rb = new RectBounder
    rb.addPoint(a)
    rb.addPoint(b)
    candidateEdgesInRect(rb.rectBound)
  }

  /** Sorted, distinct candidate edge ids for any query region given its
    * conservative rect bound.
    */
  def candidateEdgesInRect(qBound: SphereRect): Array[Int] = {
    val seen = new java.util.BitSet(loop.numVertices)
    var i = 0
    while (i < cellIds.length) {
      if (edgeLists(i).length > 0 && bounds(i).intersects(qBound)) {
        val es = edgeLists(i)
        var k = 0
        while (k < es.length) { seen.set(es(k)); k += 1 }
      }
      i += 1
    }
    val out = new Array[Int](seen.cardinality())
    var e = seen.nextSetBit(0)
    var k = 0
    while (e >= 0) { out(k) = e; k += 1; e = seen.nextSetBit(e + 1) }
    out
  }

  def numLeaves: Int = cellIds.length
}

object LoopEdgeIndex {
  /** Brute threshold per the reference (loop.go:615). */
  final val MaxBruteForceVertices = 32
  final val MaxEdgesPerCell = 16
  final val MaxSubdivisionLevel = 18

  /** Padding in UV for the exact edge-vs-cell test, mirroring the
    * reference's cellPadding idea (shapeindex.go:41-51): testing against
    * a slightly grown cell makes the edge lists conservative under
    * floating-point grazing, which is what parity correctness needs.
    */
  private final val UVPad = 1e-10

  /** Whether edge (a, b) intersects the padded cell: endpoint inside, or
    * the geodesic crosses the padded boundary quad. Exact predicates —
    * rect-only filtering degenerates for long diagonal edges (their
    * lat/lng boxes overlap everything, so subdivision would never
    * terminate; the reference avoids this with exact edge clipping,
    * edge_clipping.go:84-143).
    */
  private def edgeIntersectsCell(a: Vec3, b: Vec3, cell: Cell): Boolean = {
    def inPadded(p: Vec3): Boolean = STUV.faceXYZToUV(cell.face, p) match {
      case Some((u, v)) =>
        u >= cell.uLo - UVPad && u <= cell.uHi + UVPad &&
          v >= cell.vLo - UVPad && v <= cell.vHi + UVPad
      case None => false
    }
    if (inPadded(a) || inPadded(b)) return true
    val q0 = STUV.faceUVToXYZ(cell.face, cell.uLo - UVPad, cell.vLo - UVPad).normalize
    val q1 = STUV.faceUVToXYZ(cell.face, cell.uHi + UVPad, cell.vLo - UVPad).normalize
    val q2 = STUV.faceUVToXYZ(cell.face, cell.uHi + UVPad, cell.vHi + UVPad).normalize
    val q3 = STUV.faceUVToXYZ(cell.face, cell.uLo - UVPad, cell.vHi + UVPad).normalize
    val crosser = new EdgeCrosser(a, b)
    crosser.edgeOrVertexCrossingTo(q0, q1) || crosser.edgeOrVertexCrossingTo(q1, q2) ||
      crosser.edgeOrVertexCrossingTo(q2, q3) || crosser.edgeOrVertexCrossingTo(q3, q0)
  }

  def build(loop: Loop): LoopEdgeIndex = {
    val n = loop.numVertices
    // Conservative per-edge rect bounds (pole-safe via RectBounder) used
    // as a cheap prefilter ahead of the exact test.
    val edgeBounds = new Array[SphereRect](n)
    var i = 0
    while (i < n) {
      val rb = new RectBounder
      rb.addPoint(loop.vertex(i))
      rb.addPoint(loop.vertex(i + 1))
      edgeBounds(i) = rb.rectBound
      i += 1
    }

    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    val bnds = scala.collection.mutable.ArrayBuffer[SphereRect]()
    val lists = scala.collection.mutable.ArrayBuffer[Array[Int]]()
    val ins = scala.collection.mutable.ArrayBuffer[Boolean]()

    def crossingParity(p: Vec3, q: Vec3, edges: Array[Int]): Boolean = {
      var parity = false
      val crosser = new EdgeCrosser(p, q)
      var k = 0
      while (k < edges.length) {
        val e = edges(k)
        if (crosser.edgeOrVertexCrossingTo(loop.vertex(e), loop.vertex(e + 1)))
          parity = !parity
        k += 1
      }
      parity
    }

    def descend(cell: Cell, edges: Array[Int], centerInside: Boolean): Unit = {
      if (edges.length <= MaxEdgesPerCell || cell.level >= MaxSubdivisionLevel) {
        ids += cell.id
        bnds += cell.rectBound
        lists += edges
        ins += centerInside
      } else {
        var ci = 0
        val children = CellId.children(cell.id)
        while (ci < 4) {
          val child = Cell.fromId(children(ci))
          val cb = child.rectBound
          val childEdges = edges.filter(e => edgeBounds(e).intersects(cb) &&
            edgeIntersectsCell(loop.vertex(e), loop.vertex(e + 1), child))
          // Parent center -> child center stays inside the (convex)
          // parent, so only the parent's candidates can cross it.
          val childInside =
            centerInside ^ crossingParity(cell.center, child.center, edges)
          descend(child, childEdges, childInside)
          ci += 1
        }
      }
    }

    var face = 0
    while (face < 6) {
      val cell = Cell.fromId(CellId.fromFace(face))
      val cb = cell.rectBound
      val faceEdges = (0 until n).filter(e => edgeBounds(e).intersects(cb) &&
        edgeIntersectsCell(loop.vertex(e), loop.vertex(e + 1), cell)).toArray
      descend(cell, faceEdges, loop.bruteForceContainsPoint(cell.center))
      face += 1
    }

    new LoopEdgeIndex(loop, ids.toArray, bnds.toArray, lists.toArray, ins.toArray)
  }
}
