package graft.core

/** A cell whose (u,v)-range is expanded by padding on all sides —
  * optimized for clipping edges against cell boundaries during recursive
  * subdivision (/root/reference/s2/paddedcell.go:15-254).
  */
final class PaddedCell private (val id: Long, val padding: Double,
                                var uLo: Double, var uHi: Double,
                                var vLo: Double, var vHi: Double,
                                val iLo: Int, val jLo: Int,
                                val orientation: Int, val level: Int) {

  private var middleULo = 1.0
  private var middleUHi = 0.0
  private var middleVLo = 1.0
  private var middleVHi = 0.0
  private var middleComputed = false

  /** The (u,v) rect shared by all four children, computed lazily
    * (paddedcell.go:128-144).
    */
  def middle: (Double, Double, Double, Double) = {
    if (!middleComputed) {
      val ijSize = CellId.sizeIJ(level)
      val u = STUV.stToUV(STUV.siTiToST(2L * iLo + ijSize))
      val v = STUV.stToUV(STUV.siTiToST(2L * jLo + ijSize))
      middleULo = u - padding; middleUHi = u + padding
      middleVLo = v - padding; middleVHi = v + padding
      middleComputed = true
    }
    (middleULo, middleUHi, middleVLo, middleVHi)
  }

  def bound: (Double, Double, Double, Double) = (uLo, uHi, vLo, vHi)

  /** Cell center point (paddedcell.go:119-125). */
  def center: Vec3 = {
    val ijSize = CellId.sizeIJ(level)
    PointCompression.faceSiTiToXYZ(CellId.face(id),
      2L * iLo + ijSize, 2L * jLo + ijSize).normalize
  }

  /** (i, j) of the child at the given Hilbert traversal position
    * (paddedcell.go:152-156).
    */
  def childIJ(pos: Int): (Int, Int) = {
    val ij = CellId.posToIJ(orientation)(pos)
    (ij >> 1, ij & 1)
  }

  /** Child at (i, j) in increasing-u/v order (paddedcell.go:66-102). */
  def childAt(i: Int, j: Int): PaddedCell = {
    val pos = CellId.ijToPos(orientation)(2 * i + j)
    val childId = CellId.children(id)(pos)
    val childLevel = level + 1
    val ijSize = CellId.sizeIJ(childLevel)
    val c = new PaddedCell(childId, padding, uLo, uHi, vLo, vHi,
      iLo + i * ijSize, jLo + j * ijSize,
      orientation ^ CellId.posToOrientation(pos), childLevel)
    val (mULo, mUHi, mVLo, mVHi) = middle
    if (i == 1) c.uLo = mULo else c.uHi = mUHi
    if (j == 1) c.vLo = mVLo else c.vHi = mVHi
    c
  }

  /** Curve entry vertex; independent of padding (paddedcell.go:158-171). */
  def entryVertex: Vec3 = {
    var i = iLo
    var j = jLo
    if ((orientation & CellId.InvertMask) != 0) {
      val ijSize = CellId.sizeIJ(level)
      i += ijSize
      j += ijSize
    }
    PointCompression.faceSiTiToXYZ(CellId.face(id), 2L * i, 2L * j).normalize
  }

  /** Curve exit vertex (paddedcell.go:173-186). */
  def exitVertex: Vec3 = {
    var i = iLo
    var j = jLo
    val ijSize = CellId.sizeIJ(level)
    if (orientation == 0 ||
      orientation == (CellId.SwapMask | CellId.InvertMask)) i += ijSize
    else j += ijSize
    PointCompression.faceSiTiToXYZ(CellId.face(id), 2L * i, 2L * j).normalize
  }

  /** Smallest cell containing all descendants whose padded bounds
    * intersect the rect (paddedcell.go:188-254). The rect must intersect
    * this cell's bound.
    */
  def shrinkToFit(xLo: Double, xHi: Double, yLo: Double, yHi: Double): Long = {
    if (level == 0) {
      if ((xLo <= 0 && 0 <= xHi) || (yLo <= 0 && 0 <= yHi)) return id
    }
    val ijSize = CellId.sizeIJ(level)
    val midU = STUV.stToUV(STUV.siTiToST(2L * iLo + ijSize))
    val midV = STUV.stToUV(STUV.siTiToST(2L * jLo + ijSize))
    if ((xLo <= midU && midU <= xHi) || (yLo <= midV && midV <= yHi)) return id

    val pad = padding + 1.5 * Predicates.MachineEps
    val pxLo = xLo - pad; val pxHi = xHi + pad
    val pyLo = yLo - pad; val pyHi = yHi + pad
    var iMin = iLo
    var jMin = jLo
    var iXor = 0
    var jXor = 0

    if (iMin < STUV.stToIJ(STUV.uvToST(pxLo))) iMin = STUV.stToIJ(STUV.uvToST(pxLo))
    val iHiCand = STUV.stToIJ(STUV.uvToST(pxHi))
    iXor = if (iLo + ijSize - 1 <= iHiCand) iMin ^ (iLo + ijSize - 1)
      else iMin ^ iHiCand

    if (jMin < STUV.stToIJ(STUV.uvToST(pyLo))) jMin = STUV.stToIJ(STUV.uvToST(pyLo))
    val jHiCand = STUV.stToIJ(STUV.uvToST(pyHi))
    jXor = if (jLo + ijSize - 1 <= jHiCand) jMin ^ (jLo + ijSize - 1)
      else jMin ^ jHiCand

    val levelMSB = (((iXor | jXor).toLong << 1) + 1)
    val newLevel = CellId.MaxLevel - (63 - java.lang.Long.numberOfLeadingZeros(levelMSB))
    if (newLevel <= level) return id
    CellId.parent(CellId.fromFaceIJ(CellId.face(id), iMin, jMin), newLevel)
  }
}

object PaddedCell {
  /** Construct from a cell id (paddedcell.go:39-63). */
  def fromCellId(id: Long, padding: Double): PaddedCell = {
    if (CellId.isFace(id)) {
      val limit = padding + 1
      val p = new PaddedCell(id, padding, -limit, limit, -limit, limit,
        0, 0, CellId.face(id) & 1, 0)
      p.middleULo = -padding; p.middleUHi = padding
      p.middleVLo = -padding; p.middleVHi = padding
      p.middleComputed = true
      return p
    }
    val (_, i0, j0, orientation) = CellId.faceIJOrientation(id)
    val lvl = CellId.level(id)
    val ijSize = CellId.sizeIJ(lvl)
    val i = i0 & -ijSize
    val j = j0 & -ijSize
    new PaddedCell(id, padding, CellId.gridUV(i) - padding, CellId.gridUV(i + ijSize) + padding,
      CellId.gridUV(j) - padding, CellId.gridUV(j + ijSize) + padding, i, j, orientation, lvl)
  }
}
