package graft.core

/** Geometric cell: a cell id plus its exact (u,v)-rectangle on its face
  * (/root/reference/s2/cell.go:59-500). A Cell is a closed point set.
  */
final case class Cell(id: Long, face: Int, level: Int,
                      uLo: Double, uHi: Double, vLo: Double, vHi: Double) {
  import Predicates.MachineEps

  /** CCW vertex k (0=lower-left in UV), normalized (cell.go:117-125). */
  def vertex(k: Int): Vec3 = vertexRaw(k).normalize

  def vertexRaw(k: Int): Vec3 = k match {
    case 0 => STUV.faceUVToXYZ(face, uLo, vLo)
    case 1 => STUV.faceUVToXYZ(face, uHi, vLo)
    case 2 => STUV.faceUVToXYZ(face, uHi, vHi)
    case _ => STUV.faceUVToXYZ(face, uLo, vHi)
  }

  /** Inward normal of edge k->k+1, exact (cell.go:145-156). */
  def edgeRaw(k: Int): Vec3 = k match {
    case 0 => STUV.vNorm(face, vLo)          // bottom
    case 1 => STUV.uNorm(face, uHi)          // right
    case 2 => STUV.vNorm(face, vHi) * -1.0   // top
    case _ => STUV.uNorm(face, uLo) * -1.0   // left
  }

  def edge(k: Int): Vec3 = edgeRaw(k).normalize

  /** Closed containment incl. boundary (cell.go:462-491). */
  def containsPoint(p: Vec3): Boolean = STUV.onFacePositiveSide(face, p) && {
    val u = STUV.validFaceXYZtoU(face, p.x, p.y, p.z)
    val v = STUV.validFaceXYZtoV(face, p.x, p.y, p.z)
    val m = Cell.PointMargin
    u >= uLo - m && u <= uHi + m && v >= vLo - m && v <= vHi + m
  }

  def center: Vec3 = CellId.toPoint(id)

  private def latitudeAt(i: Int, j: Int): Double = {
    val u = if (i == 0) uLo else uHi
    val v = if (j == 0) vLo else vHi
    LatLng.latitude(STUV.faceUVToXYZ(face, u, v))
  }

  private def longitudeAt(i: Int, j: Int): Double = {
    val u = if (i == 0) uLo else uHi
    val v = if (j == 0) vLo else vHi
    LatLng.longitude(STUV.faceUVToXYZ(face, u, v))
  }

  /** Conservative lat/lng bound (cell.go:361-444). */
  def rectBound: SphereRect = {
    if (level > 0) {
      val u = uLo + uHi
      val v = vLo + vHi
      var i = 0; var j = 0
      if (STUV.uAxis(face).z == 0) { if (u < 0) i = 1 } else if (u > 0) i = 1
      if (STUV.vAxis(face).z == 0) { if (v < 0) j = 1 } else if (v > 0) j = 1
      val lat = R1Interval.fromPoint(latitudeAt(i, j)).addPoint(latitudeAt(1 - i, 1 - j))
      val lng = S1Interval.empty.addPoint(longitudeAt(i, 1 - j)).addPoint(longitudeAt(1 - i, j))
      SphereRect(lat, lng).expanded(2 * MachineEps, 2 * MachineEps).polarClosure
    } else {
      val poleMinLat = math.asin(math.sqrt(1.0 / 3)) - 0.5 * MachineEps
      val bound = face match {
        case 0 => SphereRect(R1Interval(-math.Pi / 4, math.Pi / 4),
          S1Interval(-math.Pi / 4, math.Pi / 4))
        case 1 => SphereRect(R1Interval(-math.Pi / 4, math.Pi / 4),
          S1Interval(math.Pi / 4, 3 * math.Pi / 4))
        case 2 => SphereRect(R1Interval(poleMinLat, math.Pi / 2), S1Interval.full)
        case 3 => SphereRect(R1Interval(-math.Pi / 4, math.Pi / 4),
          S1Interval(3 * math.Pi / 4, -3 * math.Pi / 4))
        case 4 => SphereRect(R1Interval(-math.Pi / 4, math.Pi / 4),
          S1Interval(-3 * math.Pi / 4, -math.Pi / 4))
        case _ => SphereRect(R1Interval(-math.Pi / 2, -poleMinLat), S1Interval.full)
      }
      bound.expanded(MachineEps, 0)
    }
  }

  // ------------------------------------------------------------------
  // Cell distance functions (cell.go:517-790) — tighter kNN/radius
  // pruning bounds than cap coverings.

  /** Project p into this face's (u,v,w) frame (stuv.go:312-328). */
  private def toUVW(p: Vec3): Vec3 = face match {
    case 0 => Vec3(p.y, p.z, p.x)
    case 1 => Vec3(-p.x, p.z, p.y)
    case 2 => Vec3(-p.x, -p.y, p.z)
    case 3 => Vec3(-p.z, -p.y, -p.x)
    case 4 => Vec3(-p.z, p.x, -p.y)
    case _ => Vec3(p.y, p.x, -p.z)
  }

  private def vertexChordDist2(p: Vec3, xHi: Boolean, yHi: Boolean): Double = {
    val x = if (xHi) uHi else uLo
    val y = if (yHi) vHi else vLo
    ChordAngle.between(p, Vec3(x, y, 1).normalize)
  }

  private def uEdgeIsClosest(p: Vec3, atVHi: Boolean): Boolean = {
    val u0 = uLo; val u1 = uHi
    val v = if (atVHi) vHi else vLo
    val dir0 = Vec3(v * v + 1, -u0 * v, -u0)
    val dir1 = Vec3(v * v + 1, -u1 * v, -u1)
    p.dot(dir0) > 0 && p.dot(dir1) < 0
  }

  private def vEdgeIsClosest(p: Vec3, atUHi: Boolean): Boolean = {
    val v0 = vLo; val v1 = vHi
    val u = if (atUHi) uHi else uLo
    val dir0 = Vec3(-u * v0, u * u + 1, -v0)
    val dir1 = Vec3(-u * v1, u * u + 1, -v1)
    p.dot(dir0) > 0 && p.dot(dir1) < 0
  }

  /** Chord distance from a point (given by its edge-normal dot product)
    * to a cell edge (cell.go:563-577).
    */
  private def edgeDist(ij: Double, uv: Double): Double = {
    val pq2 = (ij * ij) / (1 + uv * uv)
    val qr = 1 - math.sqrt(1 - pq2)
    pq2 + qr * qr
  }

  private def distanceInternal(targetXYZ: Vec3, toInterior: Boolean): Double = {
    val t = toUVW(targetXYZ)
    val dir00 = t.x - t.z * uLo
    val dir01 = t.x - t.z * uHi
    val dir10 = t.y - t.z * vLo
    val dir11 = t.y - t.z * vHi
    var inside = true
    if (dir00 < 0) {
      inside = false
      if (vEdgeIsClosest(t, atUHi = false)) return edgeDist(-dir00, uLo)
    }
    if (dir01 > 0) {
      inside = false
      if (vEdgeIsClosest(t, atUHi = true)) return edgeDist(dir01, uHi)
    }
    if (dir10 < 0) {
      inside = false
      if (uEdgeIsClosest(t, atVHi = false)) return edgeDist(-dir10, vLo)
    }
    if (dir11 > 0) {
      inside = false
      if (uEdgeIsClosest(t, atVHi = true)) return edgeDist(dir11, vHi)
    }
    if (inside) {
      if (toInterior) return 0.0
      return math.min(math.min(edgeDist(-dir00, uLo), edgeDist(dir01, uHi)),
        math.min(edgeDist(-dir10, vLo), edgeDist(dir11, vHi)))
    }
    math.min(
      math.min(vertexChordDist2(t, xHi = false, yHi = false),
        vertexChordDist2(t, xHi = true, yHi = false)),
      math.min(vertexChordDist2(t, xHi = false, yHi = true),
        vertexChordDist2(t, xHi = true, yHi = true)))
  }

  /** Chord distance to the point; 0 when inside (cell.go:643-647). */
  def distance(target: Vec3): Double = distanceInternal(target, toInterior = true)

  /** Chord distance from the boundary (cell.go:669-672). */
  def boundaryDistance(target: Vec3): Double =
    distanceInternal(target, toInterior = false)

  /** Max chord distance from any cell point (cell.go:649-666). */
  def maxDistance(target: Vec3): Double = {
    val t = toUVW(target)
    val maxDist = math.max(
      math.max(vertexChordDist2(t, xHi = false, yHi = false),
        vertexChordDist2(t, xHi = true, yHi = false)),
      math.max(vertexChordDist2(t, xHi = false, yHi = true),
        vertexChordDist2(t, xHi = true, yHi = true)))
    if (maxDist <= ChordAngle.Right) return maxDist
    ChordAngle.Straight - distance(target * -1)
  }

  /** Min chord distance to edge AB; 0 if AB intersects the cell
    * (cell.go:674-712).
    */
  def distanceToEdge(a: Vec3, b: Vec3): Double = {
    var minDist = math.min(distance(a), distance(b))
    if (minDist == 0) return 0
    val crosser = new EdgeCrosser(a, b)
    crosser.restartAt(vertex(3))
    var i = 0
    while (i < 4) {
      if (crosser.chainCrossingSign(vertex(i)) != EdgeCrossings.DoNotCross)
        return 0
      i += 1
    }
    i = 0
    while (i < 4) {
      minDist = EdgeDistances.updateMinDistance(vertex(i), a, b, minDist)._1
      i += 1
    }
    minDist
  }

  /** Max chord distance from the cell to edge AB (cell.go:714-726). */
  def maxDistanceToEdge(a: Vec3, b: Vec3): Double = {
    val maxDist = math.max(maxDistance(a), maxDistance(b))
    if (maxDist <= ChordAngle.Right) return maxDist
    ChordAngle.Straight - distanceToEdge(a * -1, b * -1)
  }

  /** Min chord distance between two cells; 0 when they intersect
    * (cell.go:728-760).
    */
  def distanceToCell(target: Cell): Double = {
    if (face == target.face &&
      uLo <= target.uHi && target.uLo <= uHi &&
      vLo <= target.vHi && target.vLo <= vHi) return 0
    val va = Array.tabulate(4)(vertex)
    val vb = Array.tabulate(4)(target.vertex)
    var minDist = ChordAngle.Straight + 1 // "infinity"
    var i = 0
    while (i < 4) {
      var j = 0
      while (j < 4) {
        minDist = EdgeDistances.updateMinDistance(va(i), vb(j), vb((j + 1) & 3), minDist)._1
        minDist = EdgeDistances.updateMinDistance(vb(i), va(j), va((j + 1) & 3), minDist)._1
        j += 1
      }
      i += 1
    }
    minDist
  }

  /** Max chord distance between two cells (cell.go:762-790). */
  def maxDistanceToCell(target: Cell): Double = {
    // Antipodal target uv is the transpose within the opposite face.
    if (face == (target.face + 3) % 6 &&
      uLo <= target.vHi && target.vLo <= uHi &&
      vLo <= target.uHi && target.uLo <= vHi) return ChordAngle.Straight
    val va = Array.tabulate(4)(vertex)
    val vb = Array.tabulate(4)(target.vertex)
    var maxDist = ChordAngle.Negative
    var i = 0
    while (i < 4) {
      var j = 0
      while (j < 4) {
        maxDist = EdgeDistances.updateMaxDistance(va(i), vb(j), vb((j + 1) & 3), maxDist)._1
        maxDist = EdgeDistances.updateMaxDistance(vb(i), va(j), va((j + 1) & 3), maxDist)._1
        j += 1
      }
      i += 1
    }
    maxDist
  }

  /** Bounding cap via the UV-center axis (cell.go:444-455). */
  def capBound: Cap = {
    var c = Cap.fromPoint(
      STUV.faceUVToXYZ(face, 0.5 * (uLo + uHi), 0.5 * (vLo + vHi)).normalize)
    var k = 0
    while (k < 4) { c = c.addPoint(vertex(k)); k += 1 }
    c
  }
}

object Cell {
  /** UV slack of containsPoint, for the error of projecting p
    * (cell.go:462-491).
    */
  final val PointMargin: Double = (1.125 + Predicates.MachineEps) * Predicates.MachineEps

  /** The cell's UV rectangle from one packed (i, j) decode, with no
    * intermediate tuples (cellid.go:656-671).
    */
  def fromId(id: Long): Cell = {
    val ij = CellId.ijPacked(id)
    val lvl = CellId.level(id)
    val size = CellId.sizeIJ(lvl)
    val i = CellId.packedI(ij) & -size
    val j = CellId.packedJ(ij) & -size
    Cell(id, CellId.face(id), lvl, CellId.gridUV(i), CellId.gridUV(i + size),
      CellId.gridUV(j), CellId.gridUV(j + size))
  }

  def fromPoint(p: Vec3): Cell = fromId(CellId.fromPoint(p.x, p.y, p.z))
}

/** Cell as a region (region.go implementors). */
final case class CellRegion(cell: Cell) extends S2Region {
  def capBound: Cap = cell.capBound
  def rectBound: SphereRect = cell.rectBound
  def containsCell(other: Cell): Boolean = CellId.contains(cell.id, other.id)
  def intersectsCell(other: Cell): Boolean = CellId.intersects(cell.id, other.id)
  def containsPoint(p: Vec3): Boolean = cell.containsPoint(p)
  def cellUnionBound: Array[Long] = Array(cell.id)
}

/** Spherical disc: center + chord-angle radius
  * (/root/reference/s2/cap.go:67-445).
  */
final case class Cap(center: Vec3, radius: Double) extends S2Region {
  def isEmpty: Boolean = radius < 0
  def isFull: Boolean = radius == ChordAngle.Straight
  def height: Double = 0.5 * radius
  def radiusRadians: Double = ChordAngle.toRadians(radius)

  def containsPoint(p: Vec3): Boolean =
    ChordAngle.between(center, p) <= radius

  def interiorContainsPoint(p: Vec3): Boolean =
    isFull || ChordAngle.between(center, p) < radius

  def containsCap(o: Cap): Boolean =
    isFull || o.isEmpty ||
      radius >= ChordAngle.add(ChordAngle.between(center, o.center), o.radius)

  def intersectsCap(o: Cap): Boolean =
    !isEmpty && !o.isEmpty &&
      ChordAngle.add(radius, o.radius) >= ChordAngle.between(center, o.center)

  def addPoint(p: Vec3): Cap = {
    if (isEmpty) Cap(p, 0)
    else {
      val newRad = ChordAngle.between(center, p)
      if (newRad > radius) Cap(center, newRad) else this
    }
  }

  def addCap(o: Cap): Cap =
    if (isEmpty) o
    else if (o.isEmpty) this
    else {
      val r = ChordAngle.add(ChordAngle.between(center, o.center), o.radius)
      if (r > radius) Cap(center, r) else this
    }

  def expanded(distanceRad: Double): Cap =
    if (isEmpty) Cap.empty
    else Cap(center, ChordAngle.add(radius, ChordAngle.fromRadians(distanceRad)))

  def complement: Cap =
    if (isFull) Cap.empty
    else if (isEmpty) Cap.full
    else Cap(center * -1, ChordAngle.sub(ChordAngle.Straight, radius))

  def capBound: Cap = this

  def rectBound: SphereRect = {
    if (isEmpty) return SphereRect.empty
    val capAngle = radiusRadians
    val ctrLat = LatLng.latitude(center)
    var latLo = ctrLat - capAngle
    var latHi = ctrLat + capAngle
    var allLng = false
    if (latLo <= -math.Pi / 2) { latLo = -math.Pi / 2; allLng = true }
    if (latHi >= math.Pi / 2) { latHi = math.Pi / 2; allLng = true }
    if (allLng) SphereRect(R1Interval(latLo, latHi), S1Interval.full)
    else {
      // Longitude span via spherical law of sines (cap.go:236-260).
      val lngCtr = LatLng.longitude(center)
      val sinA = math.sin(capAngle)
      val sinC = math.cos(ctrLat)
      if (sinA > sinC) SphereRect(R1Interval(latLo, latHi), S1Interval.full)
      else {
        val angleA = math.asin(sinA / sinC)
        SphereRect(R1Interval(latLo, latHi),
          S1Interval.fromEndpoints(
            math.IEEEremainder(lngCtr - angleA, 2 * math.Pi),
            math.IEEEremainder(lngCtr + angleA, 2 * math.Pi)))
      }
    }
  }

  def containsCell(cell: Cell): Boolean = {
    val vertices = new Array[Vec3](4)
    var k = 0
    while (k < 4) {
      vertices(k) = cell.vertex(k)
      if (!containsPoint(vertices(k))) return false
      k += 1
    }
    !complement.intersectsVertices(cell, vertices)
  }

  def intersectsCell(cell: Cell): Boolean = {
    val vertices = new Array[Vec3](4)
    var k = 0
    while (k < 4) {
      vertices(k) = cell.vertex(k)
      if (containsPoint(vertices(k))) return true
      k += 1
    }
    intersectsVertices(cell, vertices)
  }

  /** Cap x cell-interior intersection given no vertex is inside
    * (cap.go:368-417).
    */
  private def intersectsVertices(cell: Cell, vertices: Array[Vec3]): Boolean = {
    if (radius >= ChordAngle.Right) return false
    if (isEmpty) return false
    if (cell.containsPoint(center)) return true
    val sin2Angle = ChordAngle.sin2(radius)
    var k = 0
    while (k < 4) {
      val edge = cell.edgeRaw(k)
      val dot = center.dot(edge)
      if (dot <= 0) {
        if (dot * dot > sin2Angle * edge.norm2) return false
        val dir = edge.cross(center)
        if (dir.dot(vertices(k)) < 0 && dir.dot(vertices((k + 1) & 3)) > 0)
          return true
      }
      k += 1
    }
    false
  }

  /** <= 4 vertex-neighbor cells, or the 6 faces for huge caps
    * (cap.go:420-445).
    */
  def cellUnionBound: Array[Long] = {
    val level = Metric.MinWidth.maxLevel(radiusRadians) - 1
    if (level < 0) Array.tabulate(6)(f => CellId.fromFace(f))
    else CellId.vertexNeighbors(CellId.fromPoint(center.x, center.y, center.z), level)
  }
}

object Cap {
  def fromPoint(p: Vec3): Cap = Cap(p, 0)
  def fromCenterRadians(center: Vec3, rad: Double): Cap =
    Cap(center, ChordAngle.fromRadians(rad))
  def fromCenterHeight(center: Vec3, h: Double): Cap =
    Cap(center, ChordAngle.fromSquaredLength(2 * h))
  val empty: Cap = Cap(Vec3(1, 0, 0), ChordAngle.Negative)
  val full: Cap = Cap(Vec3(1, 0, 0), ChordAngle.Straight)
}
