package graft.core

/** Cube-face projection pipeline: (x,y,z) <-> (face,u,v) <-> (s,t) <-> (i,j).
  *
  * Uses the quadratic ST<->UV transform — the only projection the reference
  * supports (/root/reference/s2/stuv.go:107-147,182-201); bit-parity with it
  * is required for identical CellIDs.
  */
object STUV {
  final val MaxLevel = 30
  final val MaxSize: Int = 1 << MaxLevel // 2^30
  final val MaxSiTi: Long = MaxSize.toLong << 1

  /** Quadratic s->u transform (stuv.go:186-191). */
  def stToUV(s: Double): Double =
    if (s >= 0.5) (1 / 3.0) * (4 * s * s - 1)
    else (1 / 3.0) * (1 - 4 * (1 - s) * (1 - s))

  /** Inverse quadratic u->s transform (stuv.go:196-201). */
  def uvToST(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1 + 3 * u)
    else 1 - 0.5 * math.sqrt(1 - 3 * u)

  /** si/ti -> s/t; capped at 1.0 (stuv.go:165-170). */
  def siTiToST(si: Long): Double =
    if (si > MaxSiTi) 1.0 else si.toDouble / MaxSiTi.toDouble

  /** s/t -> nearest si/ti (stuv.go:175-180). Result as unsigned-in-Long. */
  def stToSiTi(s: Double): Long =
    if (s < 0) (s * MaxSiTi - 0.5).toLong & 0xFFFFFFFFL
    else (s * MaxSiTi + 0.5).toLong & 0xFFFFFFFFL

  /** leaf i/j -> min s/t of that leaf cell (stuv.go:222-224). */
  def ijToSTMin(i: Int): Double = i.toDouble / MaxSize.toDouble

  /** s/t -> leaf i/j, clamped to [0, 2^30-1] (stuv.go:227-229). */
  def stToIJ(s: Double): Int = {
    val v = math.floor(MaxSize * s).toInt
    if (v < 0) 0 else if (v > MaxSize - 1) MaxSize - 1 else v
  }

  /** Cube face (0-5) containing direction r (stuv.go:205-216). */
  def face(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    // largestComponent with the reference's tie-breaking (x>y, then >z)
    var f = if (ax > ay) { if (ax > az) 0 else 2 } else { if (ay > az) 1 else 2 }
    f match {
      case 0 => if (x < 0) 3 else 0
      case 1 => if (y < 0) 4 else 1
      case _ => if (z < 0) 5 else 2
    }
  }

  /** (face, xyz) -> u, given face is valid for the point (stuv.go:234-248). */
  def validFaceXYZtoU(face: Int, x: Double, y: Double, z: Double): Double =
    face match {
      case 0 => y / x
      case 1 => -x / y
      case 2 => -x / z
      case 3 => z / x
      case 4 => z / y
      case _ => -y / z
    }

  def validFaceXYZtoV(face: Int, x: Double, y: Double, z: Double): Double =
    face match {
      case 0 => z / x
      case 1 => z / y
      case 2 => -y / z
      case 3 => y / x
      case 4 => -x / y
      case _ => -x / z
    }

  /** (face,u,v) -> unnormalized xyz (stuv.go:259-274). */
  def faceUVToXYZ(face: Int, u: Double, v: Double): Vec3 = face match {
    case 0 => Vec3(1, u, v)
    case 1 => Vec3(-u, 1, v)
    case 2 => Vec3(-u, -v, 1)
    case 3 => Vec3(-1, -v, -u)
    case 4 => Vec3(v, -1, -u)
    case _ => Vec3(v, u, -1)
  }

  /** (face, p) -> (u,v) if p is on the positive side of face, else None
    * (stuv.go:278-308).
    */
  def faceXYZToUV(face: Int, p: Vec3): Option[(Double, Double)] =
    if (!onFacePositiveSide(face, p)) None
    else Some((validFaceXYZtoU(face, p.x, p.y, p.z), validFaceXYZtoV(face, p.x, p.y, p.z)))

  /** Whether p projects onto face, i.e. faceXYZToUV(face, p) is defined. */
  def onFacePositiveSide(face: Int, p: Vec3): Boolean = face match {
    case 0 => p.x > 0
    case 1 => p.y > 0
    case 2 => p.z > 0
    case 3 => p.x < 0
    case 4 => p.y < 0
    case _ => p.z < 0
  }

  /** Right-handed normal for an edge at constant u on the face (stuv.go:369-384). */
  def uNorm(face: Int, u: Double): Vec3 = face match {
    case 0 => Vec3(u, -1, 0)
    case 1 => Vec3(1, u, 0)
    case 2 => Vec3(1, 0, u)
    case 3 => Vec3(-u, 0, 1)
    case 4 => Vec3(0, -u, 1)
    case _ => Vec3(0, -1, -u)
  }

  /** Right-handed normal for an edge at constant v on the face (stuv.go:389-404). */
  def vNorm(face: Int, v: Double): Vec3 = face match {
    case 0 => Vec3(-v, 0, 1)
    case 1 => Vec3(0, -v, 1)
    case 2 => Vec3(0, -1, -v)
    case 3 => Vec3(v, -1, 0)
    case 4 => Vec3(1, v, 0)
    case _ => Vec3(1, 0, v)
  }

  private val uvwAxes: Array[Array[Vec3]] = Array(
    Array(Vec3(0, 1, 0), Vec3(0, 0, 1), Vec3(1, 0, 0)),
    Array(Vec3(-1, 0, 0), Vec3(0, 0, 1), Vec3(0, 1, 0)),
    Array(Vec3(-1, 0, 0), Vec3(0, -1, 0), Vec3(0, 0, 1)),
    Array(Vec3(0, 0, -1), Vec3(0, -1, 0), Vec3(-1, 0, 0)),
    Array(Vec3(0, 0, -1), Vec3(1, 0, 0), Vec3(0, -1, 0)),
    Array(Vec3(0, 1, 0), Vec3(1, 0, 0), Vec3(0, 0, -1))
  )

  def uAxis(face: Int): Vec3 = uvwAxes(face)(0)
  def vAxis(face: Int): Vec3 = uvwAxes(face)(1)
  def unitNorm(face: Int): Vec3 = uvwAxes(face)(2)
}
