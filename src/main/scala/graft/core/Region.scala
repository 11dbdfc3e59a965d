package graft.core

/** 2-D region on the sphere; the callback interface the RegionCoverer
  * drives (/root/reference/s2/region.go:22-59).
  */
trait S2Region extends Serializable {
  def capBound: Cap
  def rectBound: SphereRect
  def containsCell(cell: Cell): Boolean
  def intersectsCell(cell: Cell): Boolean
  def containsPoint(p: Vec3): Boolean
  /** Small cell covering seed, <= 6 cells (region.go:52-58). */
  def cellUnionBound: Array[Long]

  /** Disjoint, Intersects or Contains (RegionRelation): exactly the pair
    * (intersectsCell, containsCell), with Disjoint whenever intersectsCell
    * is false. Regions whose two predicates share work override this to
    * answer both at once.
    */
  def cellRelation(cell: Cell): Int =
    if (!intersectsCell(cell)) RegionRelation.Disjoint
    else if (containsCell(cell)) RegionRelation.Contains
    else RegionRelation.Intersects

  /** Evaluator of cellRelation for one caller's run of cells. It may keep
    * scratch state that depends only on the region (Loop keeps its edge
    * crossers), so it must not be shared between threads; the region
    * itself stays immutable and safe to broadcast.
    */
  def cellRelator(): CellRelator = cell => cellRelation(cell)
}

/** Per-caller cellRelation evaluator (S2Region.cellRelator). */
trait CellRelator {
  def relation(cell: Cell): Int
}

/** Region-versus-cell relation codes returned by S2Region.cellRelation. */
object RegionRelation {
  final val Disjoint = 0
  final val Intersects = 1
  final val Contains = 2
}

/** ChordAngle helpers: squared chord length in [0,4] as plain Double
  * (/root/reference/s1/chordangle.go). -1 = negative/empty sentinel.
  */
object ChordAngle {
  final val Negative: Double = -1.0
  final val Right: Double = 2.0
  final val Straight: Double = 4.0

  def fromRadians(rad: Double): Double = {
    if (rad < 0) Negative
    else {
      val l = 2 * math.sin(0.5 * math.min(math.Pi, rad))
      l * l
    }
  }

  def toRadians(ca: Double): Double =
    if (ca < 0) -1.0 else 2 * math.asin(0.5 * math.sqrt(math.min(4.0, ca)))

  def fromSquaredLength(l2: Double): Double = if (l2 > 4.0) Straight else l2

  def between(x: Vec3, y: Vec3): Double = math.min(4.0, (x - y).norm2)

  /** Angle addition without trig (chordangle.go:251-275). */
  def add(c: Double, other: Double): Double = {
    if (other == 0) c
    else if (c + other >= 4.0) Straight
    else {
      val x = c * (1 - 0.25 * other)
      val y = other * (1 - 0.25 * c)
      math.min(4.0, x + y + 2 * math.sqrt(x * y))
    }
  }

  /** Angle subtraction without trig (chordangle.go:279-289). */
  def sub(c: Double, other: Double): Double = {
    if (other == 0) c
    else if (c <= other) 0
    else {
      val x = c * (1 - 0.25 * other)
      val y = other * (1 - 0.25 * c)
      math.max(0.0, x + y - 2 * math.sqrt(x * y))
    }
  }

  def sin2(c: Double): Double = c * (1 - 0.25 * c)
  def sin(c: Double): Double = math.sqrt(sin2(c))
  def cos(c: Double): Double = 1 - 0.5 * c
}
