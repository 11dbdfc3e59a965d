package graft.core

/** Wedge relations: the local edge-ordering tests at a vertex shared by
  * two loops (/root/reference/s2/wedge_relations.go:18-97). Given an edge
  * chain (x0, x1, x2), the wedge at x1 is the set of rays from x1x0
  * (inclusive) to x1x2 (exclusive) sweeping clockwise — i.e. the region
  * to the left of the chain.
  */
object WedgeRelations {
  import EdgeCrossings.orderedCCW

  final val WedgeEquals = 0
  final val WedgeProperlyContains = 1
  final val WedgeIsProperlyContained = 2
  final val WedgeProperlyOverlaps = 3
  final val WedgeIsDisjoint = 4

  /** Relation between non-empty wedges A=(a0,ab1,a2) and B=(b0,ab1,b2)
    * (wedge_relations.go:36-79): distinguishes equals / contains /
    * contained / disjoint, collapsing the three overlap orderings.
    */
  def wedgeRelation(a0: Vec3, ab1: Vec3, a2: Vec3, b0: Vec3, b2: Vec3): Int = {
    if (a0 == b0 && a2 == b2) return WedgeEquals
    if (orderedCCW(a0, a2, b2, ab1)) {
      if (orderedCCW(b2, b0, a0, ab1)) return WedgeProperlyContains
      if (a2 == b2) return WedgeIsProperlyContained
      return WedgeProperlyOverlaps
    }
    if (orderedCCW(a0, b0, b2, ab1)) return WedgeIsProperlyContained
    if (orderedCCW(a0, b0, a2, ab1)) return WedgeIsDisjoint
    WedgeProperlyOverlaps
  }

  /** A contains B: CCW order around ab1 must be a2 b2 b0 a0
    * (wedge_relations.go:81-88).
    */
  def wedgeContains(a0: Vec3, ab1: Vec3, a2: Vec3, b0: Vec3, b2: Vec3): Boolean =
    orderedCCW(a2, b2, b0, ab1) && orderedCCW(b0, a0, a2, ab1)

  /** A intersects B: NOT (CCW order a0 b2 b0 a2); written as negations so
    * duplicate vertices behave (wedge_relations.go:90-97).
    */
  def wedgeIntersects(a0: Vec3, ab1: Vec3, a2: Vec3, b0: Vec3, b2: Vec3): Boolean =
    !orderedCCW(a0, b2, b0, ab1) || !orderedCCW(b0, a2, a0, ab1)

  /** Whether wedge (a0,ab1,a2) contains the "semiwedge" of rays
    * immediately CCW (CW when reverse) from edge (ab1,b2)
    * (loop.go:1793-1800).
    */
  def wedgeContainsSemiwedge(a0: Vec3, ab1: Vec3, a2: Vec3, b2: Vec3,
                             reverse: Boolean): Boolean = {
    if (b2 == a0 || b2 == a2) (b2 == a0) == reverse // shared or reversed edge
    else orderedCCW(a0, a2, b2, ab1)
  }
}

/** Loop-pair crossing machinery: tests all boundary edge pairs of two
  * loops for interior crossings, and dispatches shared vertices to a
  * relation's wedge test (/root/reference/s2/loop.go:1726-1791,
  * 1483-1723). The reference drives this from two shape-index range
  * iterators; here candidate pruning comes from each loop's cell-bucketed
  * edge index (LoopEdgeIndex), which serves the same role.
  */
object LoopRelations {
  import EdgeCrossings._

  /** Callback invoked at each shared vertex ab1 with the two wedges;
    * returning true means the relation is decided as if a crossing was
    * found (loop.go:1738-1791).
    */
  sealed trait LoopRelation {
    var foundSharedVertex: Boolean = false
    def wedgesCross(a0: Vec3, ab1: Vec3, a2: Vec3, b0: Vec3, b2: Vec3): Boolean
  }

  /** A.Contains(B): a shared wedge where A does NOT contain B's wedge is
    * equivalent to a crossing (loop.go:1738-1749).
    */
  final class ContainsRelation extends LoopRelation {
    def wedgesCross(a0: Vec3, ab1: Vec3, a2: Vec3, b0: Vec3, b2: Vec3): Boolean = {
      foundSharedVertex = true
      !WedgeRelations.wedgeContains(a0, ab1, a2, b0, b2)
    }
  }

  /** A.Intersects(B): a shared wedge where the wedges intersect is
    * equivalent to a crossing (loop.go:1751-1762).
    */
  final class IntersectsRelation extends LoopRelation {
    def wedgesCross(a0: Vec3, ab1: Vec3, a2: Vec3, b0: Vec3, b2: Vec3): Boolean = {
      foundSharedVertex = true
      WedgeRelations.wedgeIntersects(a0, ab1, a2, b0, b2)
    }
  }

  /** compareBoundary support: tracks whether A contains/excludes edges of
    * B at shared vertices; crossing once both seen (loop.go:1764-1791).
    */
  final class CompareBoundaryRelation(reverse: Boolean) extends LoopRelation {
    var containsEdge: Boolean = false
    var excludesEdge: Boolean = false
    def wedgesCross(a0: Vec3, ab1: Vec3, a2: Vec3, b0: Vec3, b2: Vec3): Boolean = {
      foundSharedVertex = true
      if (WedgeRelations.wedgeContainsSemiwedge(a0, ab1, a2, b2, reverse))
        containsEdge = true
      else excludesEdge = true
      containsEdge && excludesEdge
    }
  }

  /** Whether any edge pair of (a, b) crosses, or any shared vertex's
    * wedges satisfy the relation. Candidate B edges per A edge come from
    * B's edge index; every actual crossing or shared vertex is within the
    * candidate set because candidate pruning is conservative
    * (rect-bound based).
    */
  def hasCrossingRelation(a: Loop, b: Loop, rel: LoopRelation): Boolean = {
    // Empty/full loops have no edges (loop.go:27-69).
    if (a.isEmptyOrFull || b.isEmptyOrFull) return false
    val nA = a.numVertices
    var i = 0
    while (i < nA) {
      val a0 = a.vertex(i)
      val a1 = a.vertex(i + 1)
      val cand = b.candidateEdges(a0, a1)
      if (cand.length > 0) {
        val crosser = new EdgeCrosser(a0, a1)
        var prev = -2
        var k = 0
        while (k < cand.length) {
          val j = cand(k)
          if (j != prev + 1) crosser.restartAt(b.vertex(j))
          prev = j
          val crossing = crosser.chainCrossingSign(b.vertex(j + 1))
          if (crossing == Cross) return true
          if (crossing == MaybeCross && a1 == b.vertex(j + 1)) {
            // Each shared vertex is processed once, at matching edge heads.
            if (rel.wedgesCross(a.vertex(i), a1, a.vertex(i + 2),
                b.vertex(j), b.vertex(j + 2))) return true
          }
          k += 1
        }
      }
      i += 1
    }
    false
  }
}
