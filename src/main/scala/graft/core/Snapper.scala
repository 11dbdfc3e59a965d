package graft.core

/** Snap functions: round points to a discrete set with bounded snap radius
  * (/root/reference/s2/builder_snapper.go:15-505). Used for deduplicating
  * near-identical geocodes and for stable geometry keys.
  */
sealed trait Snapper extends Serializable {
  /** Max distance a point can move when snapped, radians. */
  def snapRadius: Double
  def snap(p: Vec3): Vec3

  /** Max deviation of a snapped edge from its original great circle:
    * snap radius plus the 10% slack that keeps edge splitting rare
    * (builder.go:17-35 maxEdgeDeviationRatio).
    */
  final def maxEdgeDeviation: Double = Snapper.MaxEdgeDeviationRatio * snapRadius
}

object Snapper {
  /** builder.go:35 — edges up to ~30-49 degrees never split under this
    * slack at legal snap radii.
    */
  val MaxEdgeDeviationRatio: Double = 1.1
}

/** Identity snapper: no rounding (builder_snapper.go IdentitySnapper). */
final case class IdentitySnapper(snapRadius: Double = 0) extends Snapper {
  def snap(p: Vec3): Vec3 = p
}

/** Snap to S2 cell centers at a fixed level
  * (builder_snapper.go CellIDSnapper): radius bound = half the max diag.
  */
final case class CellIdSnapper(level: Int) extends Snapper {
  val snapRadius: Double = 0.5 * Metric.MaxDiag.value(level)
  def snap(p: Vec3): Vec3 =
    CellId.toPoint(CellId.parent(CellId.fromPoint(p.x, p.y, p.z), level))
  def snapToCell(p: Vec3): Long =
    CellId.parent(CellId.fromPoint(p.x, p.y, p.z), level)

  /** Level needed so the snap radius is at most r (builder_snapper.go
    * levelForMaxSnapRadius semantics).
    */
}

object CellIdSnapper {
  def forMaxSnapRadius(radiusRad: Double): CellIdSnapper =
    CellIdSnapper(math.min(CellId.MaxLevel,
      Metric.MaxDiag.minLevel(2 * radiusRad)))
}

/** Snap lat/lng to a fixed decimal exponent (E5/E6/E7 fixed point)
  * (builder_snapper.go IntLatLngSnapper).
  */
final case class IntLatLngSnapper(exponent: Int) extends Snapper {
  require(exponent >= 0 && exponent <= 10)
  private val scale = math.pow(10, exponent)
  // max movement: half a grid diagonal at the equator
  val snapRadius: Double = (math.sqrt(2.0) / 2) * (math.Pi / 180) / scale

  def snapLatLng(latDeg: Double, lngDeg: Double): (Double, Double) =
    (math.rint(latDeg * scale) / scale, math.rint(lngDeg * scale) / scale)

  def snap(p: Vec3): Vec3 = {
    val (la, ln) = snapLatLng(
      LatLng.latitude(p) * LatLng.RadToDeg, LatLng.longitude(p) * LatLng.RadToDeg)
    LatLng.toPointDegrees(la, ln)
  }
}

/** The reference's C++/Java-interoperable lossless wire format
  * (/root/reference/s2/encode.go:15-60 framing; field orders from
  * cap.go:500-505, rect.go:439-445, loop.go:1261-1275,
  * polygon.go:encodeLossless, polyline.go:362-370, cellunion.go encode).
  * Compressed variants (polygon v4 / polyline v2 / point compression)
  * are not implemented; decode rejects their version bytes.
  */
object Codec {
  private val Version: Byte = 1
  import java.nio.{ByteBuffer, ByteOrder}

  private def buf(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  private def rd(bytes: Array[Byte]) =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  // CellID: raw little-endian uint64 (cellid encode).
  def encodeCellId(id: Long): Array[Byte] = buf(8).putLong(id).array()
  def decodeCellId(bytes: Array[Byte]): Long = rd(bytes).getLong

  // Cap: center xyz + chord-angle radius, no version byte (cap.go:500-505).
  def encodeCap(c: Cap): Array[Byte] =
    buf(32).putDouble(c.center.x).putDouble(c.center.y).putDouble(c.center.z)
      .putDouble(c.radius).array()
  def decodeCap(bytes: Array[Byte]): Cap = {
    val b = rd(bytes)
    Cap(Vec3(b.getDouble, b.getDouble, b.getDouble), b.getDouble)
  }

  // Point: version + xyz (point encode).
  def encodePoint(p: Vec3): Array[Byte] =
    buf(25).put(Version).putDouble(p.x).putDouble(p.y).putDouble(p.z).array()
  def decodePoint(bytes: Array[Byte]): Vec3 = {
    val b = rd(bytes)
    require(b.get() == Version, "bad version")
    Vec3(b.getDouble, b.getDouble, b.getDouble)
  }

  // Rect: version + lat.lo, lat.hi, lng.lo, lng.hi (rect.go:439-445).
  def encodeRect(r: SphereRect): Array[Byte] =
    buf(33).put(Version).putDouble(r.lat.lo).putDouble(r.lat.hi)
      .putDouble(r.lng.lo).putDouble(r.lng.hi).array()
  def decodeRect(bytes: Array[Byte]): SphereRect = {
    val b = rd(bytes)
    require(b.get() == Version, "bad version")
    decodeRectFrom(b)
  }
  private def encodeRectInto(b: ByteBuffer, r: SphereRect): Unit = {
    b.put(Version)
    b.putDouble(r.lat.lo); b.putDouble(r.lat.hi)
    b.putDouble(r.lng.lo); b.putDouble(r.lng.hi)
  }
  private def decodeRectFrom(b: ByteBuffer): SphereRect =
    SphereRect(R1Interval(b.getDouble, b.getDouble),
      S1Interval(b.getDouble, b.getDouble))

  // CellUnion: version + int64 count + raw cell ids (cellunion encode).
  def encodeCellUnion(cu: CellUnion): Array[Byte] = {
    val b = buf(1 + 8 + 8 * cu.size)
    b.put(Version)
    b.putLong(cu.size.toLong)
    cu.ids.foreach(b.putLong)
    b.array()
  }
  def decodeCellUnion(bytes: Array[Byte]): CellUnion = {
    val b = rd(bytes)
    require(b.get() == Version, "bad version")
    val n = b.getLong.toInt
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) { ids(i) = b.getLong; i += 1 }
    CellUnion.fromNormalized(ids)
  }

  // Loop: version + uint32 n + vertices + originInside + int32 depth +
  // bound rect (loop.go:1261-1275).
  private def loopEncodedSize(l: Loop): Int = 1 + 4 + 24 * l.numVertices + 1 + 4 + 33
  private def encodeLoopInto(b: ByteBuffer, l: Loop): Unit = {
    b.put(Version)
    b.putInt(l.numVertices)
    l.vertices.foreach { v => b.putDouble(v.x); b.putDouble(v.y); b.putDouble(v.z) }
    b.put(if (l.originInside) 1.toByte else 0.toByte)
    b.putInt(l.depth)
    encodeRectInto(b, l.bound)
  }
  def encodeLoop(l: Loop): Array[Byte] = {
    val b = buf(loopEncodedSize(l))
    encodeLoopInto(b, l)
    b.array()
  }
  private def decodeLoopFrom(b: ByteBuffer): Loop = {
    require(b.get() == Version, "bad version")
    val n = b.getInt
    val verts = Array.fill(n)(Vec3(b.getDouble, b.getDouble, b.getDouble))
    val loop = Loop.fromPoints(verts)
    val originInside = b.get() == 1
    // originInside is derivable from vertices; assert round-trip integrity
    require(loop.originInside == originInside, "origin parity mismatch on decode")
    loop.depth = b.getInt
    require(b.get() == Version, "bad bound version")
    decodeRectFrom(b) // bound is recomputed by the constructor
    loop
  }
  def decodeLoop(bytes: Array[Byte]): Loop = decodeLoopFrom(rd(bytes))

  // --- compressed (v4/v2) formats -----------------------------------
  private val PolygonCompressedVersion: Byte = 4
  import PointCompression.{Enc, Dec, XyzFaceSiTi}

  private val OriginInsideBit = 1L
  private val BoundEncodedBit = 2L
  private val MinVerticesForBound = 64

  /** Loop compressed block (no leading version byte; loop.go:1335-1354):
    * uvarint n, compressed points, uvarint props, uvarint depth,
    * optional bound.
    */
  def encodeLoopCompressed(e: Enc, l: Loop, snapLevel: Int,
                           vs: Array[XyzFaceSiTi]): Unit = {
    e.writeUvarint(l.numVertices.toLong)
    PointCompression.encodePointsCompressed(e, vs, snapLevel)
    var props = 0L
    if (l.originInside) props |= OriginInsideBit
    if (l.numVertices >= MinVerticesForBound) props |= BoundEncodedBit
    e.writeUvarint(props)
    e.writeUvarint(l.depth.toLong)
    if ((props & BoundEncodedBit) != 0) {
      // Rect encode: version + 4 doubles (rect.go:439-445).
      e.writeByte(Version)
      e.writeFloat64(l.bound.lat.lo); e.writeFloat64(l.bound.lat.hi)
      e.writeFloat64(l.bound.lng.lo); e.writeFloat64(l.bound.lng.hi)
    }
  }

  def decodeLoopCompressed(d: Dec, snapLevel: Int): Loop = {
    val n = d.readUvarint().toInt
    val verts = PointCompression.decodePointsCompressed(d, snapLevel, n)
    val props = d.readUvarint()
    val loop = Loop.fromPoints(verts)
    require(loop.originInside == ((props & OriginInsideBit) != 0),
      "origin parity mismatch on compressed decode")
    loop.depth = d.readUvarint().toInt
    if ((props & BoundEncodedBit) != 0) {
      require(d.readByte() == Version, "bad bound version")
      d.readFloat64(); d.readFloat64(); d.readFloat64(); d.readFloat64()
    }
    loop
  }

  /** Polygon encode with the reference's dispatch (polygon.go:1042-1084):
    * vertices snap-tested; compressed v4 when the size estimate wins
    * (and always for the 0-loop empty polygon), lossless v1 otherwise.
    */
  def encodePolygon(p: Polygon): Array[Byte] = {
    val numVertices = p.loops.map(_.numVertices).sum
    if (numVertices == 0) return encodePolygonCompressed(p, CellId.MaxLevel,
      Array.empty)

    val vs = p.loops.flatMap(l =>
      l.vertices.map(PointCompression.xyzToFaceSiTi)).toArray
    val histogram = new Array[Int](CellId.MaxLevel + 2)
    vs.foreach(v => histogram(v.level + 1) += 1)
    var snapLevel = 0
    var numSnapped = 0
    for (level <- 0 to CellId.MaxLevel) {
      if (histogram(level + 1) > numSnapped) {
        snapLevel = level
        numSnapped = histogram(level + 1)
      }
    }
    val numUnsnapped = numVertices - numSnapped
    val pointSize = 3 * 8
    val compressedSize = 4 * numVertices + (pointSize + 2) * numUnsnapped
    val losslessSize = pointSize * numVertices
    if (compressedSize < losslessSize) encodePolygonCompressed(p, snapLevel, vs)
    else encodePolygonLossless(p)
  }

  /** The lossless (v1) polygon layout, whatever encodePolygon's size
    * dispatch would pick.
    */
  def encodePolygonLossless(p: Polygon): Array[Byte] =
    encodeLoopsLossless(p.loops, p.hasHoles, p.bound)

  /** A loop in the lossless polygon layout, as a one-loop polygon that
    * decodePolygon reads back. No Polygon is built around the loop:
    * construction would rewrite the caller's loop depth.
    */
  def encodeLoopAsPolygon(l: Loop): Array[Byte] =
    encodeLoopsLossless(Array(l), hasHoles = false, l.bound)

  private def encodeLoopsLossless(loops: Array[Loop], hasHoles: Boolean,
                                  bound: SphereRect): Array[Byte] = {
    val total = 1 + 1 + 1 + 4 + loops.map(loopEncodedSize).sum + 33
    val b = buf(total)
    b.put(Version)
    b.put(1.toByte) // legacy C++ value, must be true
    b.put(if (hasHoles) 1.toByte else 0.toByte)
    b.putInt(loops.length)
    loops.foreach(l => encodeLoopInto(b, l))
    encodeRectInto(b, bound)
    b.array()
  }

  private def encodePolygonCompressed(p: Polygon, snapLevel: Int,
                                      vs: Array[XyzFaceSiTi]): Array[Byte] = {
    val e = new Enc
    e.writeByte(PolygonCompressedVersion)
    e.writeByte(snapLevel)
    e.writeUvarint(p.loops.length.toLong)
    var offset = 0
    p.loops.foreach { l =>
      encodeLoopCompressed(e, l, snapLevel,
        vs.slice(offset, offset + l.numVertices))
      offset += l.numVertices
    }
    e.toBytes
  }

  def decodePolygon(bytes: Array[Byte]): Polygon = {
    val version = bytes(0)
    if (version == PolygonCompressedVersion) {
      val d = new Dec(bytes, 1)
      val snapLevel = d.readByte()
      require(snapLevel <= CellId.MaxLevel, "snap level too big")
      val n = d.readUvarint().toInt
      val loops = Array.fill(n)(decodeLoopCompressed(d, snapLevel))
      return new Polygon(loops)
    }
    val b = rd(bytes)
    require(b.get() == Version, "bad version")
    b.get() // legacy
    b.get() // hasHoles (recomputed)
    val n = b.getInt
    val loops = Array.fill(n)(decodeLoopFrom(b))
    require(b.get() == Version, "bad bound version")
    decodeRectFrom(b)
    new Polygon(loops)
  }

  // Polyline: version + uint32 n + points (polyline.go:362-370). The
  // points-level functions also cover the reference's legal empty
  // polyline, which the Polyline class itself rejects (>= 2 vertices).
  def encodePolylinePoints(vs: Array[Vec3]): Array[Byte] = {
    val b = buf(1 + 4 + 24 * vs.length)
    b.put(Version)
    b.putInt(vs.length)
    vs.foreach { v => b.putDouble(v.x); b.putDouble(v.y); b.putDouble(v.z) }
    b.array()
  }
  def decodePolylinePoints(bytes: Array[Byte]): Array[Vec3] = {
    val b = rd(bytes)
    require(b.get() == Version, "bad version")
    val n = b.getInt
    Array.fill(n)(Vec3(b.getDouble, b.getDouble, b.getDouble))
  }
  def encodePolyline(p: Polyline): Array[Byte] = encodePolylinePoints(p.vertices)
  def decodePolyline(bytes: Array[Byte]): Polyline =
    new Polyline(decodePolylinePoints(bytes))

  // Polyline compressed (v2): version + snapLevel + uvarint n +
  // compressed points (polyline.go:372-390).
  private val PolylineCompressedVersion: Byte = 2

  def encodePolylineCompressed(vs: Array[Vec3], snapLevel: Int): Array[Byte] = {
    val e = new Enc
    e.writeByte(PolylineCompressedVersion)
    e.writeByte(snapLevel)
    e.writeUvarint(vs.length.toLong)
    PointCompression.encodePointsCompressed(e,
      vs.map(PointCompression.xyzToFaceSiTi), snapLevel)
    e.toBytes
  }

  /** Decode either polyline wire version (v1 lossless / v2 compressed). */
  def decodePolylineAnyVersion(bytes: Array[Byte]): Array[Vec3] = {
    bytes(0) match {
      case PolylineCompressedVersion =>
        val d = new Dec(bytes, 1)
        val snapLevel = d.readByte()
        val n = d.readUvarint().toInt
        PointCompression.decodePointsCompressed(d, snapLevel, n)
      case Version => decodePolylinePoints(bytes)
      case v => throw new IllegalArgumentException(s"bad polyline version $v")
    }
  }
}
