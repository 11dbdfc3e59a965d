package graft.core

import java.lang.{Long => JLong}
import scala.collection.mutable.ArrayBuffer

/** Greedy best-first covering generator
  * (/root/reference/s2/regioncoverer.go:75-615).
  *
  * Deterministic for a fixed region + parameters: the candidate priority
  * formula (regioncoverer.go:226) and the binary-heap pop order are ported
  * exactly (including Go container/heap's sift semantics) so covering
  * contents reproduce run-to-run and across parallelism levels.
  *
  * Relation contract: the coverer asks a region about a cell only through
  * S2Region.cellRelation (via one cellRelator per call), once per distinct
  * cell id per call, and that answer must equal the pair (intersectsCell,
  * containsCell). This departs from the reference, which calls
  * IntersectsCell and then ContainsCell on every candidate
  * (regioncoverer.go:226-245); the coverings are identical. `coverings`
  * runs the covering pass and the interior pass through one memo, since
  * both start from the same fastCovering cells.
  *
  * Loops of up to LoopEdgeIndex.MaxBruteForceVertices vertices that lie
  * well inside one cube face, and do not contain the antipode of its
  * centre, answer from their vertices projected onto that face
  * (LoopCellRelator): the loop then lies inside its vertices' UV hull,
  * so a cell on another face, or whose UV rectangle misses the widened
  * vertex box, is Disjoint without further tests, and only the edges
  * whose UV box meets a cell reach the crossing tests. The exact
  * predicates still decide every other cell, so the coverings equal
  * those of the general path cell for cell.
  */
final case class RegionCoverer(minLevel: Int = 0, maxLevel: Int = CellId.MaxLevel,
                               levelMod: Int = 1, maxCells: Int = 8) {

  def covering(region: S2Region): CellUnion = denormalize(cellUnion(region))

  def interiorCovering(region: S2Region): CellUnion = denormalize(interiorCellUnion(region))

  /** (covering(region), interiorCovering(region)), computed together. */
  def coverings(region: S2Region): (CellUnion, CellUnion) = {
    val memo = new RelationMemo(region)
    val start = initialCells(region)
    (denormalize(run(memo, start, interior = false)),
      denormalize(run(memo, start, interior = true)))
  }

  def cellUnion(region: S2Region): CellUnion =
    run(new RelationMemo(region), initialCells(region), interior = false)

  def interiorCellUnion(region: S2Region): CellUnion =
    run(new RelationMemo(region), initialCells(region), interior = true)

  private def run(memo: RelationMemo, start: Array[Long], interior: Boolean): CellUnion = {
    val c = newCoverer(interior)
    c.coveringInternal(memo, start)
    CellUnion.normalized(c.result.toArray)
  }

  private def initialCells(region: S2Region): Array[Long] =
    newCoverer(interior = false).initialCells(region)

  private def denormalize(cu: CellUnion): CellUnion =
    cu.denormalize(clamp(minLevel, 0, CellId.MaxLevel), clamp(levelMod, 1, 3))

  /** Fast loose covering from the region's CellUnionBound
    * (regioncoverer.go:397-402).
    */
  def fastCovering(region: S2Region): CellUnion =
    newCoverer(interior = false).normalizeCovering(region.cellUnionBound)

  def isCanonical(covering: CellUnion): Boolean =
    newCoverer(interior = false).isCanonical(covering.ids)

  private def clamp(v: Int, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, v))

  private def newCoverer(interior: Boolean) = new Coverer(
    clamp(minLevel, 0, CellId.MaxLevel), clamp(maxLevel, 0, CellId.MaxLevel),
    clamp(levelMod, 1, 3), maxCells, interior)
}

object RegionCoverer {
  /** Fixed-level BFS flood fill from a seed cell (regioncoverer.go:593-615). */
  def floodFillCovering(region: S2Region, start: Long): Array[Long] = {
    val output = new ArrayBuffer[Long]()
    val all = scala.collection.mutable.Set[Long](start)
    var frontier = List(start)
    while (frontier.nonEmpty) {
      val id = frontier.head
      frontier = frontier.tail
      if (region.intersectsCell(Cell.fromId(id))) {
        output += id
        for (nbr <- CellId.edgeNeighbors(id)) {
          if (all.add(nbr)) frontier = nbr :: frontier
        }
      }
    }
    output.toArray
  }

  /** Covering at a fixed level seeded from a point inside/on the region
    * (regioncoverer.go:587-589).
    */
  def simpleCovering(region: S2Region, start: Vec3, level: Int): Array[Long] =
    floodFillCovering(region,
      CellId.parent(CellId.fromPoint(start.x, start.y, start.z), level))
}

private final class Candidate(val id: Long) {
  val level: Int = CellId.level(id)
  var terminal: Boolean = false
  var numChildren: Int = 0
  var children: ArrayBuffer[Candidate] = null
  var priority: Int = 0
  def addChild(c: Candidate): Unit = {
    if (children == null) children = new ArrayBuffer[Candidate](4)
    children += c
    numChildren += 1
  }
}

/** Max-heap replicating Go container/heap semantics exactly (Push = append +
  * siftUp; Pop = swap(0, n-1) + siftDown + take last) so tie order matches.
  */
private final class CandidateHeap {
  private val items = new ArrayBuffer[Candidate]()
  def size: Int = items.length
  def nonEmpty: Boolean = items.nonEmpty

  private def less(i: Int, j: Int): Boolean = items(i).priority > items(j).priority
  private def swap(i: Int, j: Int): Unit = {
    val t = items(i); items(i) = items(j); items(j) = t
  }

  def push(c: Candidate): Unit = {
    items += c
    var j = items.length - 1
    var done = false
    while (!done) {
      val i = (j - 1) / 2
      if (i == j || !less(j, i)) done = true
      else { swap(i, j); j = i }
    }
  }

  def pop(): Candidate = {
    val n = items.length - 1
    swap(0, n)
    siftDown(0, n)
    val out = items(n)
    items.remove(n)
    out
  }

  private def siftDown(i0: Int, n: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val j1 = 2 * i + 1
      if (j1 >= n || j1 < 0) done = true
      else {
        var j = j1
        val j2 = j1 + 1
        if (j2 < n && less(j2, j1)) j = j2
        if (!less(j, i)) done = true
        else { swap(i, j); i = j }
      }
    }
  }
}

/** A region's cell relations for one coverer call, evaluated once per
  * cell id through one cellRelator and remembered for the rest of the
  * call; dropped with it, so it holds at most the cells one region's
  * coverings visit. The Cell is decoded only on a miss. An open-addressing
  * table on the id (0 marks a free slot: no valid id is 0), sized for a
  * 16-gon's 200-odd relations at maxCells 8 and doubled at half load.
  */
private final class RelationMemo(region: S2Region) {
  private val relator = region.cellRelator()
  private var ids = new Array[Long](512)
  private var relations = new Array[Byte](512)
  private var size = 0

  def apply(id: Long): Int = {
    val mask = ids.length - 1
    var slot = RelationMemo.slot(id, mask)
    while (ids(slot) != 0L) {
      if (ids(slot) == id) return relations(slot)
      slot = (slot + 1) & mask
    }
    val fresh = relator.relation(Cell.fromId(id))
    ids(slot) = id
    relations(slot) = fresh.toByte
    size += 1
    if (2 * size > ids.length) grow()
    fresh
  }

  private def grow(): Unit = {
    val oldIds = ids
    val oldRelations = relations
    ids = new Array[Long](2 * oldIds.length)
    relations = new Array[Byte](2 * oldIds.length)
    val mask = ids.length - 1
    var k = 0
    while (k < oldIds.length) {
      if (oldIds(k) != 0L) {
        var slot = RelationMemo.slot(oldIds(k), mask)
        while (ids(slot) != 0L) slot = (slot + 1) & mask
        ids(slot) = oldIds(k)
        relations(slot) = oldRelations(k)
      }
      k += 1
    }
  }
}

private object RelationMemo {
  /** Cell ids at one level share their low bits, so mix before masking. */
  def slot(id: Long, mask: Int): Int = {
    var h = id ^ (id >>> 33)
    h *= 0xff51afd7ed558ccdL
    (h ^ (h >>> 33)).toInt & mask
  }
}

private final class Coverer(minLevel: Int, maxLevel: Int, levelMod: Int,
                            maxCells: Int, interiorCovering: Boolean) {
  private var relation: RelationMemo = _
  val result = new ArrayBuffer[Long]()
  private val pq = new CandidateHeap

  private def newCandidate(id: Long): Candidate = {
    val rel = relation(id)
    if (rel == RegionRelation.Disjoint) return null
    val cand = new Candidate(id)
    val level = cand.level
    if (level >= minLevel) {
      val contained = rel == RegionRelation.Contains
      if (interiorCovering) {
        if (contained) cand.terminal = true
        else if (level + levelMod > maxLevel) return null
      } else if (level + levelMod > maxLevel || contained) {
        cand.terminal = true
      }
    }
    cand
  }

  private def expandChildren(cand: Candidate, id: Long, numLevels0: Int): Int = {
    val numLevels = numLevels0 - 1
    var numTerminals = 0
    val last = CellId.childEnd(id)
    var ci = CellId.childBegin(id)
    while (ci != last) {
      if (numLevels > 0) {
        if (relation(ci) != RegionRelation.Disjoint)
          numTerminals += expandChildren(cand, ci, numLevels)
      } else {
        val child = newCandidate(ci)
        if (child != null) {
          cand.addChild(child)
          if (child.terminal) numTerminals += 1
        }
      }
      ci = CellId.next(ci)
    }
    numTerminals
  }

  private def addCandidate(cand: Candidate): Unit = {
    if (cand == null) return
    if (cand.terminal) { result += cand.id; return }

    var numLevels = levelMod
    val level = cand.level
    if (level < minLevel) numLevels = 1
    val numTerminals = expandChildren(cand, cand.id, numLevels)
    val maxChildrenShift = 2 * levelMod
    if (cand.numChildren == 0) ()
    else if (!interiorCovering && numTerminals == (1 << maxChildrenShift) &&
      level >= minLevel) {
      cand.terminal = true
      addCandidate(cand)
    } else {
      cand.priority =
        -((((level << maxChildrenShift) + cand.numChildren) << maxChildrenShift) + numTerminals)
      pq.push(cand)
    }
  }

  def adjustLevel(level: Int): Int =
    if (levelMod > 1 && level > minLevel) level - (level - minLevel) % levelMod
    else level

  private def adjustCellLevels(cells: Array[Long]): Array[Long] = {
    if (levelMod == 1) return cells
    val out = new ArrayBuffer[Long]()
    for (ci0 <- cells) {
      var ci = ci0
      val level = CellId.level(ci)
      val newLevel = adjustLevel(level)
      if (newLevel != level) ci = CellId.parent(ci, newLevel)
      if (!(out.nonEmpty && CellId.contains(out.last, ci))) {
        while (out.nonEmpty && CellId.contains(ci, out.last)) out.remove(out.length - 1)
        out += ci
      }
    }
    out.toArray
  }

  /** The fast covering at levels levelMod allows: where both the covering
    * pass and the interior pass start.
    */
  def initialCells(region: S2Region): Array[Long] = {
    val temp = RegionCoverer(maxLevel = maxLevel, levelMod = 1,
      maxCells = math.min(4, maxCells))
    adjustCellLevels(temp.fastCovering(region).ids)
  }

  def coveringInternal(memo: RelationMemo, start: Array[Long]): Unit = {
    relation = memo
    start.foreach(ci => addCandidate(newCandidate(ci)))
    while (pq.nonEmpty && (!interiorCovering || result.length < maxCells)) {
      val cand = pq.pop()
      if (interiorCovering || cand.level < minLevel || cand.numChildren == 1 ||
        result.length + pq.size + cand.numChildren <= maxCells) {
        if (cand.children != null) cand.children.foreach { child =>
          if (!interiorCovering || result.length < maxCells) addCandidate(child)
        }
      } else {
        cand.terminal = true
        addCandidate(cand)
      }
    }
  }

  /** (regioncoverer.go:430-499) */
  def normalizeCovering(raw: Array[Long]): CellUnion = {
    var covering = raw.clone()
    if (maxLevel < CellId.MaxLevel || levelMod > 1) {
      covering = covering.map { ci =>
        val level = CellId.level(ci)
        val newLevel = adjustLevel(math.min(level, maxLevel))
        if (newLevel != level) CellId.parent(ci, newLevel) else ci
      }
    }
    var cu = CellUnion.normalized(covering)
    if (minLevel > 0 || levelMod > 1) cu = cu.denormalize(minLevel, levelMod)

    val excess = cu.size - maxCells
    if (excess <= 0 || isCanonical(cu.ids)) return cu
    if (excess * cu.size > 10000) return RegionCoverer().covering(cu)

    var cells = cu.ids
    var continue = true
    while (continue && cells.length > maxCells) {
      var bestIndex = -1
      var bestLevel = -1
      var i = 0
      while (i + 1 < cells.length) {
        val lev = CellId.commonAncestorLevel(cells(i), cells(i + 1))
        if (lev >= 0) {
          val adjusted = adjustLevel(lev)
          if (adjusted > bestLevel) { bestLevel = adjusted; bestIndex = i }
        }
        i += 1
      }
      if (bestLevel < minLevel) continue = false
      else {
        var id = CellId.parent(cells(bestIndex), bestLevel)
        cells = replaceCellsWithAncestor(cells, id)
        var lvl = bestLevel
        var go = true
        while (go && lvl > minLevel) {
          lvl -= levelMod
          id = CellId.parent(id, lvl)
          if (!containsAllChildren(cells, id)) go = false
          else cells = replaceCellsWithAncestor(cells, id)
        }
      }
    }
    CellUnion.fromNormalized(cells)
  }

  private def search(cells: Array[Long], pred: Long => Boolean): Int = {
    // index of first element satisfying pred (pred monotone)
    var lo = 0; var hi = cells.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pred(cells(mid))) hi = mid else lo = mid + 1
    }
    lo
  }

  private def replaceCellsWithAncestor(cells: Array[Long], id: Long): Array[Long] = {
    val begin = search(cells, c => JLong.compareUnsigned(c, CellId.rangeMin(id)) > 0)
    val end = search(cells, c => JLong.compareUnsigned(c, CellId.rangeMax(id)) > 0)
    cells.take(begin) ++ Array(id) ++ cells.drop(end)
  }

  private def containsAllChildren(cells: Array[Long], id: Long): Boolean = {
    var pos = search(cells, c => JLong.compareUnsigned(c, CellId.rangeMin(id)) >= 0)
    val level = CellId.level(id) + levelMod
    var child = CellId.childBeginAtLevel(id, level)
    val end = CellId.childEndAtLevel(id, level)
    while (child != end) {
      if (pos == cells.length || cells(pos) != child) return false
      pos += 1
      child = CellId.next(child)
    }
    true
  }

  /** (regioncoverer.go:502-555) */
  def isCanonical(covering: Array[Long]): Boolean = {
    val trueMax =
      if (levelMod == 1) maxLevel
      else maxLevel - (maxLevel - minLevel) % levelMod
    val tooManyCells = covering.length > maxCells
    var sameParentCount = 1
    var prevId = 0L
    for (id <- covering) {
      if (!CellId.isValid(id)) return false
      val level = CellId.level(id)
      if (level < minLevel || level > trueMax) return false
      if (levelMod > 1 && (level - minLevel) % levelMod != 0) return false
      if (prevId != 0) {
        if (JLong.compareUnsigned(CellId.rangeMax(prevId), CellId.rangeMin(id)) >= 0)
          return false
        val lev = CellId.commonAncestorLevel(id, prevId)
        if (tooManyCells && lev >= 0 && lev >= minLevel) return false
        val pLevel = level - levelMod
        if (pLevel < minLevel || level != CellId.level(prevId) ||
          CellId.parent(id, pLevel) != CellId.parent(prevId, pLevel)) {
          sameParentCount = 1
        } else {
          sameParentCount += 1
          if (sameParentCount == (1 << (2 * levelMod))) return false
        }
      }
      prevId = id
    }
    true
  }
}
