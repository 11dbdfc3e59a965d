package graft.core

import java.lang.{Long => JLong}

/** A collection of (cellId, label) pairs over possibly-overlapping,
  * possibly-duplicated cells (the reference's cell_index.go): e.g. one
  * label per stored CellUnion. build() splits the sphere into
  * non-overlapping leaf-cell ranges, each pointing at a node of a preorder
  * cell tree whose ancestor chain enumerates exactly the pairs containing
  * that range.
  *
  * After build() the tree and the ranges are primitive arrays (cell ids,
  * labels and parents; range starts and range contents), so a built index
  * is compact to broadcast. Three access paths read them: the reference's
  * range and contents iterators, visitIntersectingCells (cell-union
  * targets), and labelsContaining (leaf targets: one binary search, then
  * the parent chain). The covering-candidate joins (ops/SpatialJoin
  * CoveringIndex) use the last two.
  */
final class CellIndex extends Serializable {
  import CellIndex._

  // Pairs queued by add(); build() moves them into the tree.
  private var pendingCells = Array.newBuilder[Long]
  private var pendingLabels = Array.newBuilder[Int]
  private var built = false

  // The preorder cell tree: node k stores one pair and its parent node.
  private var treeCells: Array[Long] = _
  private var treeLabels: Array[Int] = _
  private var treeParents: Array[Int] = _
  // The leaf-cell ranges: range r starts at rangeStarts(r) and its pairs
  // are the chain from node rangeContents(r) (DoneContents when empty).
  private var rangeStarts: Array[Long] = _
  private var rangeContents: Array[Int] = _

  /** Queue a (cellId, label) pair; call build() before iterating. */
  def add(id: Long, label: Int): Unit = {
    require(label >= 0, "labels must be non-negative")
    require(!built, "CellIndex is not dynamic: add before build")
    pendingCells += id
    pendingLabels += label
  }

  /** Add every cell of the union under one label. */
  def addCellUnion(cu: CellUnion, label: Int): Unit =
    cu.ids.foreach(add(_, label))

  /** Build the leaf-cell ranges and preorder cell tree
    * (cell_index.go:406-489): each pair is pushed at its range start and
    * popped just past its range end. Sweeping the boundaries in order —
    * at each one the pops first, then the pushes in (cellId desc, label
    * asc) order — maintains the ancestor stack and emits one range per
    * distinct boundary, including the first and last leaf of the sphere.
    */
  def build(): Unit = {
    if (built) return
    built = true
    val cells = pendingCells.result()
    val labels = pendingLabels.result()
    pendingCells = null
    pendingLabels = null
    val n = cells.length
    val pushes = Array.tabulate[Integer](n)(Int.box)
    java.util.Arrays.sort(pushes, (a: Integer, b: Integer) => {
      val byStart = JLong.compareUnsigned(CellId.rangeMin(cells(a)), CellId.rangeMin(cells(b)))
      if (byStart != 0) byStart
      else if (cells(a) != cells(b)) JLong.compareUnsigned(cells(b), cells(a))
      else Integer.compare(labels(a), labels(b))
    })
    def pushStart(k: Int) = CellId.rangeMin(cells(pushes(k)))
    // Pop positions, sign-flipped so that a signed sort orders them
    // unsigned.
    def flip(id: Long) = id ^ Long.MinValue
    val pops = cells.map(c => flip(CellId.next(CellId.rangeMax(c))))
    java.util.Arrays.sort(pops)

    treeCells = new Array[Long](n)
    treeLabels = new Array[Int](n)
    treeParents = new Array[Int](n)
    val starts = Array.newBuilder[Long]
    val contentsOf = Array.newBuilder[Int]
    val last = CellId.childEndAtLevel(CellId.fromFace(5), CellId.MaxLevel)
    var boundary = CellId.childBeginAtLevel(CellId.fromFace(0), CellId.MaxLevel)
    var contents = DoneContents
    var pi = 0 // next push
    var qi = 0 // next pop
    var more = true
    while (more) {
      while (qi < n && flip(pops(qi)) == boundary) {
        contents = treeParents(contents)
        qi += 1
      }
      while (pi < n && pushStart(pi) == boundary) {
        treeCells(pi) = cells(pushes(pi))
        treeLabels(pi) = labels(pushes(pi))
        treeParents(pi) = contents
        contents = pi
        pi += 1
      }
      starts += boundary
      contentsOf += contents
      // the next boundary: the least of the next push, next pop and last
      var next = last
      if (pi < n && JLong.compareUnsigned(pushStart(pi), next) < 0) next = pushStart(pi)
      if (qi < n && JLong.compareUnsigned(flip(pops(qi)), next) < 0) next = flip(pops(qi))
      more = boundary != last
      boundary = next
    }
    rangeStarts = starts.result()
    rangeContents = contentsOf.result()
  }

  def rangeIterator(): RangeIterator = { build(); new RangeIterator(this, false) }
  def nonEmptyRangeIterator(): RangeIterator = { build(); new RangeIterator(this, true) }
  def contentsIterator(): ContentsIterator = { build(); new ContentsIterator(this) }

  /** Every stored pair, in tree order. */
  private[core] def pairs: IndexedSeq[(Long, Int)] = {
    build()
    treeCells.indices.map(k => (treeCells(k), treeLabels(k)))
  }

  /** The labels of every stored pair whose cell contains the leaf cell,
    * coarsest cell first (pairs of one cell in label order): the leaf's
    * range by binary search, then its node's parent chain.
    */
  def labelsContaining(leaf: Long): Array[Int] = {
    build()
    val top = rangeContents(rangeAt(leaf))
    var n = 0
    var k = top
    while (k != DoneContents) { n += 1; k = treeParents(k) }
    val out = new Array[Int](n)
    k = top
    while (k != DoneContents) { n -= 1; out(n) = treeLabels(k); k = treeParents(k) }
    out
  }

  /** The last range starting at or before the target (range 0 for targets
    * before the first leaf).
    */
  private def rangeAt(target: Long): Int = {
    var lo = 0
    var hi = rangeStarts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (JLong.compareUnsigned(rangeStarts(mid), target) <= 0) lo = mid + 1
      else hi = mid
    }
    math.max(lo - 1, 0)
  }

  /** Visit every (cellId, label) pair that intersects the target union,
    * each exactly once (the C++ VisitIntersectingCells the Go port lists
    * as a TODO); the visitor returns false to stop early. Target cells
    * are visited in increasing order, so the contents iterator's
    * monotone dedup applies across the whole walk.
    */
  def visitIntersectingCells(target: CellUnion,
                             visitor: (Long, Int) => Boolean): Boolean = {
    if (target.ids.isEmpty) return true
    build()
    val contents = contentsIterator()
    val range = rangeIterator()
    range.begin()
    var ti = 0
    while (ti < target.ids.length) {
      val cell = target.ids(ti)
      val rangeMax = CellId.rangeMax(cell)
      if (JLong.compareUnsigned(range.limitId, CellId.rangeMin(cell)) <= 0)
        range.seek(CellId.rangeMin(cell))
      while (JLong.compareUnsigned(range.startId, rangeMax) <= 0) {
        contents.startUnion(range)
        while (!contents.done) {
          if (!visitor(contents.cellId, contents.label)) return false
          contents.next()
        }
        range.next()
      }
      ti += 1
      // skip target cells entirely inside the current (already-visited)
      // range
      while (ti < target.ids.length && JLong.compareUnsigned(
        CellId.rangeMax(target.ids(ti)), range.startId) < 0) ti += 1
    }
    true
  }

  /** The distinct labels of all pairs intersecting the target union. */
  def intersectingLabels(target: CellUnion): Seq[Int] = {
    val out = scala.collection.mutable.SortedSet[Int]()
    visitIntersectingCells(target, (_, label) => { out += label; true })
    out.toSeq
  }
}

object CellIndex {
  val DoneContents: Int = -1

  /** Iterator over the non-overlapping leaf-cell ranges covering the
    * sphere (cell_index.go:67-215); optionally skipping empty ranges.
    */
  final class RangeIterator(index: CellIndex, nonEmpty: Boolean) {
    private val starts = index.rangeStarts
    private val contentsOf = index.rangeContents
    private var pos = 0

    def startId: Long = starts(pos)
    def limitId: Long = starts(pos + 1)
    def isEmpty: Boolean = contentsOf(pos) == DoneContents
    def done: Boolean = pos >= starts.length - 1
    private[CellIndex] def contents: Int = contentsOf(pos)

    def begin(): Unit = {
      pos = 0
      while (nonEmpty && isEmpty && !done) pos += 1
    }
    def next(): Unit = {
      pos += 1
      while (nonEmpty && isEmpty && !done) pos += 1
    }
    def finish(): Unit = pos = starts.length - 1
    def advance(n: Int): Boolean = {
      if (n >= starts.length - 1 - pos) return false
      pos += n
      true
    }
    def prev(): Boolean = {
      if (nonEmpty) nonEmptyPrev()
      else rawPrev()
    }
    private def rawPrev(): Boolean = {
      if (pos == 0) return false
      pos -= 1
      true
    }
    private def nonEmptyPrev(): Boolean = {
      while (rawPrev()) {
        if (!isEmpty) return true
      }
      if (isEmpty && !done) next()
      false
    }
    /** Position at the last range with startId <= target (always exists
      * for valid leaf targets).
      */
    def seek(target: Long): Unit = {
      pos = index.rangeAt(target)
      while (nonEmpty && isEmpty && !done) pos += 1
    }
  }

  /** Iterator over the (cellId, label) pairs covering one or more leaf
    * cell ranges (cell_index.go:217-312). Visiting ranges in increasing
    * order reports each pair exactly once.
    */
  final class ContentsIterator(index: CellIndex) {
    private val cells = index.treeCells
    private val labels = index.treeLabels
    private val parents = index.treeParents
    private var nodeCutoff = -1
    private var nextNodeCutoff = -1
    private var prevStartId = 0L
    private var node = DoneContents

    def clear(): Unit = {
      prevStartId = 0L
      nodeCutoff = -1
      nextNodeCutoff = -1
      node = DoneContents
    }
    def cellId: Long = cells(node)
    def label: Int = if (done) DoneContents else labels(node)
    def done: Boolean = node == DoneContents

    def next(): Unit = {
      if (parents(node) <= nodeCutoff) {
        // already processed this node and its ancestors
        nodeCutoff = nextNodeCutoff
        node = DoneContents
      } else {
        node = parents(node)
      }
    }

    def startUnion(r: RangeIterator): Unit = {
      if (JLong.compareUnsigned(r.startId, prevStartId) < 0)
        nodeCutoff = -1 // non-monotone visit: cannot suppress duplicates
      prevStartId = r.startId
      val contents = r.contents
      node = if (contents <= nodeCutoff) DoneContents else contents
      // When visiting ancestors, stop as soon as the node index drops to
      // a previously visited one (preorder indexes: already reported).
      nextNodeCutoff = contents
    }
  }
}
