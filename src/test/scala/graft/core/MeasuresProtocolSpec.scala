package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The centroid kernel's protocol from centroids_test.go: the true
  * centroid of a small triangle sits at its median point.
  */
class MeasuresProtocolSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(1618)

  test("true centroid of small triangles sits at the median point") {
    for (_ <- 0 until 100) {
      val p = Vec3(rng.nextGaussian(), rng.nextGaussian(),
        rng.nextGaussian()).normalize
      val x = p.ortho
      val y = p.cross(x)
      val d = 1e-4 * math.pow(1e-4, rng.nextDouble())
      // isoceles triangle: centroid two-thirds along the median
      val p0 = (p - x * d).normalize
      val p1 = (p + x * d).normalize
      val p2 = (p + y * (d * 3)).normalize
      val want1 = (p + y * d).normalize
      val got1 = Centroids.trueCentroid(p0, p1, p2).normalize
      assert((got1 - want1).norm < 2e-8, "isoceles centroid")
      // right triangle
      val q1 = (p + x * (d * 3)).normalize
      val q2 = (p + y * (d * 6)).normalize
      val want2 = (p + (x + y * 2) * d).normalize
      val got2 = Centroids.trueCentroid(p, q1, q2).normalize
      assert((got2 - want2).norm < 2e-8, "right-angle centroid")
    }
  }
}
