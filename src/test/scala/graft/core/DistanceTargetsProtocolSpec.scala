package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The point-rotation protocol from the distance-target suite
  * (TestPointRotate): rotating a point about an axis keeps it unit length
  * and keeps its angle to the axis, down to near-zero and near-pi
  * distances and angles. It exercises Vec3.rotate and
  * EdgeDistances.interpolateAtDistance, the kernels that survive the
  * removal of the closest/furthest edge queries and their targets.
  */
class DistanceTargetsProtocolSpec extends AnyFunSuite {

  test("rotate preserves axis distance at extreme angles (TestPointRotate)") {
    val rng = new scala.util.Random(999)
    def randPt() = Vec3(rng.nextGaussian(), rng.nextGaussian(),
      rng.nextGaussian()).normalize
    // golden: x rotated a quarter turn around z is y
    assert((Vec3(1, 0, 0).rotate(Vec3(0, 0, 1), math.Pi / 2) -
      Vec3(0, 1, 0)).norm < 1e-15)
    for (_ <- 0 until 500) {
      val axis = randPt()
      val target = randPt()
      var distance = math.Pi * math.pow(1e-15, rng.nextDouble())
      if (rng.nextInt(5) == 0) distance = math.Pi - distance
      val p = EdgeDistances.interpolateAtDistance(distance, axis, target)
      var angle = 2 * math.Pi * math.pow(1e-15, rng.nextDouble())
      if (rng.nextInt(3) == 0) angle = -angle
      if (rng.nextInt(10) == 0) angle = 0
      val got = p.rotate(axis, angle)
      assert(math.abs(got.norm - 1.0) < 1e-14, "must stay unit length")
      assert(math.abs(got.angle(axis) - p.angle(axis)) <= 1e-15,
        s"axis distance must be preserved (d=$distance a=$angle)")
    }
  }
}
