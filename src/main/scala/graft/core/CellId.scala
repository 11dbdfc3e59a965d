package graft.core

import java.lang.{Long => JLong}

/** S2 CellID kernel: 64-bit Hilbert-curve cell identifiers.
  *
  * A cell id packs a 3-bit cube face (0-5) and a 61-bit Hilbert-curve
  * position; the level (0..30) is encoded by the position of the lowest set
  * bit. Semantics are bit-compatible with the reference implementation
  * (/root/reference/s2/cellid.go:33-97,539-738): all values are treated as
  * *unsigned* 64-bit ints carried in Scala `Long`s, so every ordering test
  * goes through [[JLong.compareUnsigned]] and every right shift is `>>>`.
  *
  * Everything here is a static method on `Long` so that Catalyst
  * whole-stage codegen can emit direct calls (no boxing, no closures).
  */
object CellId {
  final val FaceBits = 3
  final val NumFaces = 6
  final val MaxLevel = 30
  final val PosBits: Int = 2 * MaxLevel + 1 // 61
  final val MaxSize: Int = 1 << MaxLevel
  final val WrapOffset: Long = NumFaces.toLong << PosBits
  /** All-ones sentinel, > any valid id (cellid.go:59-63). */
  final val Sentinel: Long = -1L

  private final val LookupBits = 4
  private[core] final val SwapMask = 0x01
  private[core] final val InvertMask = 0x02

  // posToIJ(orientation)(pos) = ij, ijToPos(orientation)(ij) = pos
  // (cellid.go:696-708)
  private[core] val posToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2),
    Array(0, 2, 3, 1),
    Array(3, 2, 0, 1),
    Array(3, 1, 0, 2)
  )
  private[core] val posToOrientation: Array[Int] =
    Array(SwapMask, 0, 0, InvertMask | SwapMask)

  private[core] val ijToPos: Array[Array[Int]] = posToIJ.map { row =>
    val inv = new Array[Int](4)
    for (pos <- 0 until 4) inv(row(pos)) = pos
    inv
  }

  // 10-bit-keyed Hilbert lookup tables (cellid.go:680-738). 2 KB each,
  // cache-resident; built once at class-init, identical to the reference's.
  private val lookupIJ = new Array[Int](1 << (2 * LookupBits + 2))
  private val lookupPos = new Array[Int](1 << (2 * LookupBits + 2))

  private def initLookupCell(level: Int, i: Int, j: Int, origOrientation: Int,
                             pos: Int, orientation: Int): Unit = {
    if (level == LookupBits) {
      val ij = (i << LookupBits) + j
      lookupPos((ij << 2) + origOrientation) = (pos << 2) + orientation
      lookupIJ((pos << 2) + origOrientation) = (ij << 2) + orientation
    } else {
      val l = level + 1
      val i2 = i << 1
      val j2 = j << 1
      val p2 = pos << 2
      val r = posToIJ(orientation)
      var k = 0
      while (k < 4) {
        initLookupCell(l, i2 + (r(k) >> 1), j2 + (r(k) & 1), origOrientation,
          p2 + k, orientation ^ posToOrientation(k))
        k += 1
      }
    }
  }
  initLookupCell(0, 0, 0, 0, 0, 0)
  initLookupCell(0, 0, 0, SwapMask, 0, SwapMask)
  initLookupCell(0, 0, 0, InvertMask, 0, InvertMask)
  initLookupCell(0, 0, 0, SwapMask | InvertMask, 0, SwapMask | InvertMask)

  // ---- bit probes ----------------------------------------------------

  def lsb(id: Long): Long = id & -id
  def lsbForLevel(level: Int): Long = 1L << (2 * (MaxLevel - level))
  def face(id: Long): Int = (id >>> PosBits).toInt
  def pos(id: Long): Long = id & (-1L >>> FaceBits)
  def level(id: Long): Int = MaxLevel - (JLong.numberOfTrailingZeros(id) >> 1)
  def isLeaf(id: Long): Boolean = (id & 1L) != 0
  def isFace(id: Long): Boolean = (id & (lsbForLevel(0) - 1)) == 0
  def isValid(id: Long): Boolean =
    face(id) < NumFaces && (lsb(id) & 0x1555555555555555L) != 0

  def childPosition(id: Long, level: Int): Int =
    ((id >>> (2 * (MaxLevel - level) + 1)) & 3L).toInt

  // ---- hierarchy -----------------------------------------------------

  def parent(id: Long, level: Int): Long = {
    val l = lsbForLevel(level)
    (id & -l) | l
  }

  def immediateParent(id: Long): Long = {
    val nlsb = lsb(id) << 2
    (id & -nlsb) | nlsb
  }

  def children(id: Long): Array[Long] = {
    val out = new Array[Long](4)
    var l = lsb(id)
    out(0) = id - l + (l >>> 2)
    l >>>= 1
    out(1) = out(0) + l
    out(2) = out(1) + l
    out(3) = out(2) + l
    out
  }

  /** The cell's level-`level` descendants (the denormalize(level) fan-out
    * of one cell), or its level-`level` ancestor when the cell is finer.
    */
  def cellsAtLevel(id: Long, targetLevel: Int): Array[Long] = {
    if (level(id) >= targetLevel) return Array(parent(id, targetLevel))
    // 4^13 descendants is already a 512 MB array; beyond that the shift
    // count would also overflow the Int element count and silently
    // return empty — refuse loudly instead.
    require(targetLevel - level(id) <= 13,
      s"cellsAtLevel fan-out 4^${targetLevel - level(id)} is unreasonably " +
        "large; denormalize to a coarser level")
    val n = (1L << (2 * (targetLevel - level(id)))).toInt
    val out = new Array[Long](n)
    var c = childBeginAtLevel(id, targetLevel)
    val step = lsbForLevel(targetLevel) << 1
    var i = 0
    while (i < n) { out(i) = c; c += step; i += 1 }
    out
  }

  def rangeMin(id: Long): Long = id - (lsb(id) - 1)
  def rangeMax(id: Long): Long = id + (lsb(id) - 1)

  def contains(id: Long, other: Long): Boolean =
    JLong.compareUnsigned(rangeMin(id), other) <= 0 &&
      JLong.compareUnsigned(other, rangeMax(id)) <= 0

  def intersects(id: Long, other: Long): Boolean =
    JLong.compareUnsigned(rangeMin(other), rangeMax(id)) <= 0 &&
      JLong.compareUnsigned(rangeMax(other), rangeMin(id)) >= 0

  /** Level of lowest common ancestor, or -1 if on different faces
    * (cellid.go:740-748).
    */
  def commonAncestorLevel(a: Long, b: Long): Int = {
    var bits = a ^ b
    if (JLong.compareUnsigned(bits, lsb(a)) < 0) bits = lsb(a)
    if (JLong.compareUnsigned(bits, lsb(b)) < 0) bits = lsb(b)
    val msbPos = 63 - JLong.numberOfLeadingZeros(bits)
    if (msbPos > 60) -1 else (60 - msbPos) >> 1
  }

  // ---- Hilbert traversal ---------------------------------------------

  def childBegin(id: Long): Long = { val ol = lsb(id); id - ol + (ol >>> 2) }
  def childBeginAtLevel(id: Long, level: Int): Long =
    id - lsb(id) + lsbForLevel(level)
  def childEnd(id: Long): Long = { val ol = lsb(id); id + ol + (ol >>> 2) }
  def childEndAtLevel(id: Long, level: Int): Long =
    id + lsb(id) + lsbForLevel(level)
  def next(id: Long): Long = id + (lsb(id) << 1)
  def prev(id: Long): Long = id - (lsb(id) << 1)

  def nextWrap(id: Long): Long = {
    val n = next(id)
    if (JLong.compareUnsigned(n, WrapOffset) < 0) n else n - WrapOffset
  }

  def prevWrap(id: Long): Long = {
    val p = prev(id)
    if (JLong.compareUnsigned(p, WrapOffset) < 0) p else p + WrapOffset
  }

  /** Advance +/- steps along the curve at this level, clamped to the level's
    * begin/end (cellid.go:753-774).
    */
  def advance(id: Long, steps0: Long): Long = {
    if (steps0 == 0) return id
    var steps = steps0
    val stepShift = 2 * (MaxLevel - level(id)) + 1
    if (steps < 0) {
      val minSteps = -(id >>> stepShift)
      if (steps < minSteps) steps = minSteps
    } else {
      val maxSteps = (WrapOffset + lsb(id) - id) >>> stepShift
      if (steps > maxSteps) steps = maxSteps
    }
    id + (steps << stepShift)
  }

  /** Advance with wraparound between faces (cellid.go:451-481). */
  def advanceWrap(id: Long, steps0: Long): Long = {
    if (steps0 == 0) return id
    var steps = steps0
    val shift = 2 * (MaxLevel - level(id)) + 1
    if (steps < 0) {
      val minS = -(id >>> shift)
      if (steps < minS) {
        val wrap = WrapOffset >>> shift
        steps %= wrap
        if (steps < minS) steps += wrap
      }
    } else {
      val maxS = (WrapOffset - id) >>> shift
      if (steps > maxS) {
        val wrap = WrapOffset >>> shift
        steps %= wrap
        if (steps > maxS) steps -= wrap
      }
    }
    id + (steps << shift)
  }

  def distanceFromBegin(id: Long): Long =
    id >>> (2 * (MaxLevel - level(id)) + 1)

  /** Largest cell with the same RangeMin whose RangeMax < limit.RangeMin;
    * the greedy tiling step (cellid.go:870-900).
    */
  def maxTile(id0: Long, limit: Long): Long = {
    var id = id0
    val start = rangeMin(id)
    if (JLong.compareUnsigned(start, rangeMin(limit)) >= 0) return limit
    if (JLong.compareUnsigned(rangeMax(id), limit) >= 0) {
      // Too large: shrink (always terminates at a leaf).
      var done = false
      while (!done) {
        id = children(id)(0)
        if (JLong.compareUnsigned(rangeMax(id), limit) < 0) done = true
      }
      return id
    }
    // Maybe too small: grow.
    while (!isFace(id)) {
      val p = immediateParent(id)
      if (rangeMin(p) != start || JLong.compareUnsigned(rangeMax(p), limit) >= 0)
        return id
      id = p
    }
    id
  }

  // ---- construction ---------------------------------------------------

  def fromFace(face: Int): Long = (face.toLong << PosBits) + lsbForLevel(0)

  def fromFacePosLevel(face: Int, pos: Long, level: Int): Long =
    parent((face.toLong << PosBits) + (pos | 1), level)

  def sizeIJ(level: Int): Int = 1 << (MaxLevel - level)

  /** (face,i,j) of leaf -> cell id via the Hilbert lookup tables
    * (cellid.go:576-598).
    */
  def fromFaceIJ(f: Int, i: Int, j: Int): Long = {
    var n = f.toLong << (PosBits - 1)
    var bits = f & SwapMask
    val mask = (1 << LookupBits) - 1
    var k = 7
    while (k >= 0) {
      bits += ((i >> (k * LookupBits)) & mask) << (LookupBits + 2)
      bits += ((j >> (k * LookupBits)) & mask) << 2
      bits = lookupPos(bits)
      n |= (bits >> 2).toLong << (k * 2 * LookupBits)
      bits &= SwapMask | InvertMask
      k -= 1
    }
    n * 2 + 1
  }

  private def expandEndpoint(u: Double, maxV: Double, sinDist: Double): Double = {
    val sinUShift = sinDist * math.sqrt((1 + u * u + maxV * maxV) / (1 + u * u))
    val cosUShift = math.sqrt(1 - sinUShift * sinUShift)
    // expansion of tan(atan(u) + asin(sinUShift))
    (cosUShift * u + sinUShift) / (cosUShift - sinUShift * u)
  }

  /** Expand a (u,v) rectangle so it contains all points within the given
    * sphere distance (radians) of its boundary; negative distances shrink
    * (cellid.go:811-857). Used for tight radius pre-filters in UV space.
    * Returns (uLo, uHi, vLo, vHi).
    */
  def expandedByDistanceUV(uLo: Double, uHi: Double, vLo: Double, vHi: Double,
                           distanceRad: Double): (Double, Double, Double, Double) = {
    val maxU = math.max(math.abs(uLo), math.abs(uHi))
    val maxV = math.max(math.abs(vLo), math.abs(vHi))
    val sinDist = math.sin(distanceRad)
    (expandEndpoint(uLo, maxV, -sinDist), expandEndpoint(uHi, maxV, sinDist),
      expandEndpoint(vLo, maxU, -sinDist), expandEndpoint(vHi, maxU, sinDist))
  }

  /** The cell's i index at its own or a coarser level: every leaf in a
    * level-k cell shares the same top-k bits of (i, j), so decoding any
    * leaf (rangeMin here) and shifting yields the level-k grid index
    * (cellid.go:539-573 decode + the (face,i,j) prefix property).
    */
  def iAtLevel(id: Long, level: Int): Int =
    packedI(ijPacked(rangeMin(id))) >>> (MaxLevel - level)

  def jAtLevel(id: Long, level: Int): Int =
    packedJ(ijPacked(rangeMin(id))) >>> (MaxLevel - level)

  /** The leaf (i, j) inside the cell that faceIJOrientation decodes,
    * packed as (i << 32 | j) and read back with packedI / packedJ: the
    * same decode without a tuple, for callers that need no orientation.
    */
  def ijPacked(id: Long): Long = {
    val ijo = decodeIJO(id)
    (ijo & 0xFFFFFFFF00000000L) | ((ijo & 0xFFFFFFFFL) >>> 2)
  }

  def packedI(ij: Long): Int = (ij >>> 32).toInt
  def packedJ(ij: Long): Int = ij.toInt

  /** Decode id -> (face, i, j, orientation) (cellid.go:539-573). */
  def faceIJOrientation(id: Long): (Int, Int, Int, Int) = {
    val ijo = decodeIJO(id)
    var orientation = (ijo & 3L).toInt
    if ((lsb(id) & 0x1111111111111110L) != 0) orientation ^= SwapMask
    (face(id), (ijo >>> 32).toInt, (ijo >>> 2).toInt & (MaxSize - 1), orientation)
  }

  /** The Hilbert decode: i << 32 | j << 2 | the orientation of the last
    * lookup, before faceIJOrientation's level correction.
    */
  private def decodeIJO(id: Long): Long = {
    var orientation = face(id) & SwapMask
    var nbits = MaxLevel - 7 * LookupBits // first iteration: 2 bits
    var i = 0
    var j = 0
    var k = 7
    while (k >= 0) {
      orientation += (((id >>> (k * 2 * LookupBits + 1)).toInt &
        ((1 << (2 * nbits)) - 1)) << 2)
      orientation = lookupIJ(orientation)
      i += (orientation >> (LookupBits + 2)) << (k * LookupBits)
      j += ((orientation >> 2) & ((1 << LookupBits) - 1)) << (k * LookupBits)
      orientation &= SwapMask | InvertMask
      nbits = LookupBits
      k -= 1
    }
    (i.toLong << 32) | (j.toLong << 2) | orientation
  }

  private def clampIJ(v: Int): Int =
    if (v < -1) -1 else if (v > MaxSize) MaxSize else v

  /** Leaf cell from (f,i,j) that may lie just outside the face; wraps onto
    * the adjacent face (cellid.go:600-629).
    */
  def fromFaceIJWrap(f: Int, i0: Int, j0: Int): Long = {
    val i = clampIJ(i0)
    val j = clampIJ(j0)
    val scale = 1.0 / MaxSize
    val limit = math.nextAfter(1.0, 2.0)
    val u = math.max(-limit, math.min(limit, scale * ((i << 1) + 1 - MaxSize)))
    val v = math.max(-limit, math.min(limit, scale * ((j << 1) + 1 - MaxSize)))
    val p = STUV.faceUVToXYZ(f, u, v)
    val f2 = STUV.face(p.x, p.y, p.z)
    val u2 = STUV.validFaceXYZtoU(f2, p.x, p.y, p.z)
    val v2 = STUV.validFaceXYZtoV(f2, p.x, p.y, p.z)
    fromFaceIJ(f2, STUV.stToIJ(0.5 * (u2 + 1)), STUV.stToIJ(0.5 * (v2 + 1)))
  }

  def fromFaceIJSame(f: Int, i: Int, j: Int, sameFace: Boolean): Long =
    if (sameFace) fromFaceIJ(f, i, j) else fromFaceIJWrap(f, i, j)

  /** Leaf cell containing the unit-sphere point (cellid.go:647-652). */
  def fromPoint(x: Double, y: Double, z: Double): Long = {
    val f = STUV.face(x, y, z)
    val u = STUV.validFaceXYZtoU(f, x, y, z)
    val v = STUV.validFaceXYZtoV(f, x, y, z)
    fromFaceIJ(f, STUV.stToIJ(STUV.uvToST(u)), STUV.stToIJ(STUV.uvToST(v)))
  }

  def fromLatLngRadians(lat: Double, lng: Double): Long = {
    val p = LatLng.toPoint(lat, lng)
    fromPoint(p.x, p.y, p.z)
  }

  def fromLatLngDegrees(lat: Double, lng: Double): Long =
    fromLatLngRadians(lat * LatLng.DegToRad, lng * LatLng.DegToRad)

  // ---- decode to point ------------------------------------------------

  /** (face, si, ti) of cell center (cellid.go:525-536). si/ti carried as Long. */
  def faceSiTi(id: Long): (Int, Long, Long) = {
    val ij = ijPacked(id)
    val delta = centerDelta(id, packedI(ij))
    (face(id), 2L * packedI(ij) + delta, 2L * packedJ(ij) + delta)
  }

  /** si - 2i (and ti - 2j) of the cell centre, given the decoded i. */
  private def centerDelta(id: Long, i: Int): Int =
    if (isLeaf(id)) 1
    else if (((i ^ (id >>> 2).toInt) & 1) != 0) 2
    else 0

  /** Unnormalized center vector (cellid.go:519-522). */
  def rawPoint(id: Long): Vec3 = {
    val ij = ijPacked(id)
    val delta = centerDelta(id, packedI(ij))
    STUV.faceUVToXYZ(face(id),
      STUV.stToUV((0.5 / MaxSize) * (2L * packedI(ij) + delta).toDouble),
      STUV.stToUV((0.5 / MaxSize) * (2L * packedJ(ij) + delta).toDouble))
  }

  def toPoint(id: Long): Vec3 = rawPoint(id).normalize

  def toLatRadians(id: Long): Double = LatLng.latitude(rawPoint(id))
  def toLngRadians(id: Long): Double = LatLng.longitude(rawPoint(id))
  def toLatDegrees(id: Long): Double = toLatRadians(id) * LatLng.RadToDeg
  def toLngDegrees(id: Long): Double = toLngRadians(id) * LatLng.RadToDeg

  // ---- tokens / strings -----------------------------------------------

  /** Zero-stripped 16-hex token; "X" for id 0 (cellid.go:136-142). */
  def toToken(id: Long): String = {
    val s = f"${id}%016x"
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '0') end -= 1
    if (end == 0) "X" else s.substring(0, end)
  }

  /** Parse token; invalid input -> 0 (cellid.go:119-132). */
  def fromToken(s: String): Long = {
    val n = s.length
    if (n == 0 || n > 16) return 0L
    var v = 0L
    var k = 0
    while (k < n) {
      val c = s.charAt(k)
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else return 0L
      v = (v << 4) | d
      k += 1
    }
    v << (4 * (16 - n))
  }

  /** Debug form "1/3210" (cellid.go:340-351). */
  def toDebugString(id: Long): String = {
    if (!isValid(id)) return "Invalid: " + JLong.toHexString(id)
    val b = new StringBuilder
    b.append("012345".charAt(face(id))).append('/')
    var l = 1
    val lvl = level(id)
    while (l <= lvl) {
      b.append("0123".charAt(childPosition(id, l)))
      l += 1
    }
    b.toString
  }

  def fromDebugString(s: String): Long = {
    val lvl = s.length - 2
    if (lvl < 0 || lvl > MaxLevel) return 0L
    val f = s.charAt(0) - '0'
    if (f < 0 || f > 5 || s.charAt(1) != '/') return 0L
    var id = fromFace(f)
    var i = 2
    while (i < s.length) {
      val cp = s.charAt(i) - '0'
      if (cp < 0 || cp > 3) return 0L
      id = children(id)(cp)
      i += 1
    }
    id
  }

  // ---- neighbors -------------------------------------------------------

  /** Four edge-adjacent cells at this cell's level (cellid.go:215-225). */
  def edgeNeighbors(id: Long): Array[Long] = {
    val lvl = level(id)
    val size = sizeIJ(lvl)
    val f = face(id)
    val ij = ijPacked(id)
    val i = packedI(ij)
    val j = packedJ(ij)
    Array(
      parent(fromFaceIJWrap(f, i, j - size), lvl),
      parent(fromFaceIJWrap(f, i + size, j), lvl),
      parent(fromFaceIJWrap(f, i, j + size), lvl),
      parent(fromFaceIJWrap(f, i - size, j), lvl)
    )
  }

  /** Neighbors of the closest vertex at the given level (cellid.go:230-263). */
  def vertexNeighbors(id: Long, level: Int): Array[Long] = {
    val halfSize = sizeIJ(level + 1)
    val size = halfSize << 1
    val f = face(id)
    val ij = ijPacked(id)
    val i = packedI(ij)
    val j = packedJ(ij)
    var isame = false; var jsame = false
    var ioffset = 0; var joffset = 0
    if ((i & halfSize) != 0) { ioffset = size; isame = (i + size) < MaxSize }
    else { ioffset = -size; isame = (i - size) >= 0 }
    if ((j & halfSize) != 0) { joffset = size; jsame = (j + size) < MaxSize }
    else { joffset = -size; jsame = (j - size) >= 0 }

    val buf = new scala.collection.mutable.ArrayBuffer[Long](4)
    buf += parent(id, level)
    buf += parent(fromFaceIJSame(f, i + ioffset, j, isame), level)
    buf += parent(fromFaceIJSame(f, i, j + joffset, jsame), level)
    if (isame || jsame)
      buf += parent(fromFaceIJSame(f, i + ioffset, j + joffset, isame && jsame), level)
    buf.toArray
  }

  /** All neighbors at the given level >= this cell's level; may contain
    * duplicates near face vertices (cellid.go:274-321).
    */
  def allNeighbors(id: Long, nbrLevel: Int): Array[Long] = {
    if (nbrLevel < level(id) || nbrLevel > MaxLevel) return Array.empty
    val buf = new scala.collection.mutable.ArrayBuffer[Long]()
    val f = face(id)
    val ij = ijPacked(id)
    val size = sizeIJ(level(id))
    val i = packedI(ij) & -size
    val j = packedJ(ij) & -size
    val nbrSize = sizeIJ(nbrLevel)
    var k = -nbrSize
    var done = false
    while (!done) {
      var sameFace = false
      if (k < 0) sameFace = (j + k) >= 0
      else if (k >= size) sameFace = (j + k) < MaxSize
      else {
        sameFace = true
        buf += parent(fromFaceIJSame(f, i + k, j - nbrSize, (j - size) >= 0), nbrLevel)
        buf += parent(fromFaceIJSame(f, i + k, j + size, (j + size) < MaxSize), nbrLevel)
      }
      buf += parent(fromFaceIJSame(f, i - nbrSize, j + k, sameFace && (i - size) >= 0), nbrLevel)
      buf += parent(fromFaceIJSame(f, i + size, j + k, sameFace && (i + size) < MaxSize), nbrLevel)
      if (k >= size) done = true else k += nbrSize
    }
    buf.toArray
  }

  // ---- UV bounds -------------------------------------------------------

  /** Bounds in (u,v)-space of the level-`level` cell containing leaf (i,j)
    * (cellid.go:656-671). Returns (uLo, uHi, vLo, vHi).
    */
  def ijLevelToBoundUV(i: Int, j: Int, level: Int): (Double, Double, Double, Double) = {
    val cellSize = sizeIJ(level)
    val xLo = i & -cellSize
    val yLo = j & -cellSize
    (gridUV(xLo), gridUV(xLo + cellSize), gridUV(yLo), gridUV(yLo + cellSize))
  }

  /** u (or v) of leaf grid line x in [0, MaxSize]: the level-k cell
    * containing leaf i spans gridUV(i & -sizeIJ(k)) to that plus
    * sizeIJ(k).
    */
  def gridUV(x: Int): Double = STUV.stToUV(STUV.ijToSTMin(x))

  def boundUV(id: Long): (Double, Double, Double, Double) = {
    val c = Cell.fromId(id)
    (c.uLo, c.uHi, c.vLo, c.vHi)
  }

  /** Unsigned ordering comparator for cell ids. */
  def compare(a: Long, b: Long): Int = JLong.compareUnsigned(a, b)
}
