package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The polyline x polygon crossing join against a brute scan of every
  * loop (the join's previous algorithm: bound test, exact crossing count,
  * containment of the first vertex), on 1,000 seeded loops and 500 seeded
  * lines, some across the antimeridian, near a pole, through loop
  * vertices or with one vertex; and the pruning its covering index buys.
  */
class CrossingJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("crossing-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rng = new scala.util.Random(20261017)

  private def uniform(): (Double, Double) =
    (math.toDegrees(math.asin(2 * rng.nextDouble() - 1)), 360 * rng.nextDouble() - 180)

  private def wrapLng(lng: Double): Double =
    if (lng > 180) lng - 360 else if (lng < -180) lng + 360 else lng

  /** Star-shaped loops of 3-60 vertices (both sides of the edge-index
    * threshold), 20-300 km across; one in ten near a pole, one in ten on
    * the antimeridian.
    */
  private val loops: IndexedSeq[(Long, Loop)] = (0 until 1000).map { i =>
    val (lat, lng) = i % 10 match {
      case 0 => ((if (rng.nextBoolean()) 1 else -1) * (86 + 3.99 * rng.nextDouble()),
        360 * rng.nextDouble() - 180)
      case 1 => (160 * rng.nextDouble() - 80, wrapLng(179 + 2 * rng.nextDouble()))
      case _ => uniform()
    }
    val c = LatLng.toPointDegrees(lat, lng)
    val n = 3 + rng.nextInt(58)
    val base = Loop.regularLoop(c, Earth.angleFromMeters(20000 + 280000 * rng.nextDouble()), n)
    val verts = base.vertices.map { v =>
      val f = 0.6 + 0.4 * rng.nextDouble()
      (c * (1 - f) + v * f).normalize
    }
    (3L * i + 1, Loop.fromPoints(verts))
  }

  private def walk(lat0: Double, lng0: Double, n: Int, step: Double): Seq[(Double, Double)] = {
    var lat = lat0
    var lng = lng0
    (0 until n).map { k =>
      if (k > 0) {
        lat = math.max(-89.99, math.min(89.99, lat + step * (rng.nextDouble() - 0.5)))
        lng = wrapLng(lng + step * (rng.nextDouble() - 0.5))
      }
      (lat, lng)
    }
  }

  private def centreOf(loop: Loop): (Double, Double) = {
    val c = loop.vertices.foldLeft(Vec3.zero)(_ + _).normalize
    (math.toDegrees(math.asin(c.z)), math.toDegrees(math.atan2(c.y, c.x)))
  }

  /** 500 lines in seven groups (the group is the id's thousands digit). */
  private val lines: IndexedSeq[(Long, Array[Vec3])] = {
    def randomLoop = loops(rng.nextInt(loops.size))._2
    val groups: Seq[(Int, () => Seq[(Double, Double)])] = Seq(
      // random walks anywhere
      150 -> (() => { val (la, ln) = uniform(); walk(la, ln, 2 + rng.nextInt(5), 10) }),
      // walks from a loop's centre: containment and crossings
      100 -> (() => { val (la, ln) = centreOf(randomLoop); walk(la, ln, 2 + rng.nextInt(3), 6) }),
      // across the antimeridian
      50 -> (() => Seq((160 * rng.nextDouble() - 80, 178 + 1.99 * rng.nextDouble()),
        (160 * rng.nextDouble() - 80, -178 - 1.99 * rng.nextDouble()))),
      // near a pole, some over it
      50 -> (() => {
        val s = if (rng.nextBoolean()) 1 else -1
        Seq.fill(2 + rng.nextInt(3))((s * (85 + 4.99 * rng.nextDouble()), 360 * rng.nextDouble() - 180))
      }),
      // one vertex: half at a loop's centre
      50 -> (() => Seq(if (rng.nextBoolean()) centreOf(randomLoop) else uniform())),
      // long two-vertex arcs
      50 -> (() => Seq(uniform(), uniform())),
      // through a loop's vertices
      50 -> (() => {
        val l = randomLoop
        val v = l.vertex(rng.nextInt(l.numVertices))
        val (la, ln) = (math.toDegrees(math.asin(v.z)), math.toDegrees(math.atan2(v.y, v.x)))
        walk(la, ln, 2, 8) :+ centreOf(l)
      }))
    groups.zipWithIndex.flatMap { case ((n, gen), g) =>
      (0 until n).map(k => (1000L * g + k, gen().map { case (la, ln) =>
        LatLng.toPointDegrees(la, ln) }.toArray))
    }.toIndexedSeq
  }

  /** Every loop whose bound meets the line's: crossings of each (line
    * edge, loop edge) pair, and containment of the first vertex.
    */
  private def brute(verts: Array[Vec3], includeContained: Boolean): Seq[(Long, Int)] = {
    val rb = new RectBounder
    verts.foreach(rb.addPoint)
    val bound = rb.rectBound
    loops.flatMap { case (id, loop) =>
      if (!bound.intersects(loop.bound)) None
      else {
        var crossings = 0
        for (i <- 1 until verts.length; e <- 0 until loop.numVertices)
          if (EdgeCrossings.crossingSign(verts(i - 1), verts(i), loop.vertex(e),
            loop.vertex(e + 1)) == EdgeCrossings.Cross) crossings += 1
        val contained = crossings == 0 && loop.containsPoint(verts(0))
        if (crossings > 0 || (includeContained && contained)) Some((id, crossings))
        else None
      }
    }
  }

  private def joinRows(includeContained: Boolean): Seq[(Long, Long, Int)] = {
    import spark.implicits._
    val df = lines.map { case (id, vs) =>
      (id, vs.map(_.x).toSeq, vs.map(_.y).toSeq, vs.map(_.z).toSeq)
    }.toDF("line_id", "xs", "ys", "zs")
    CrossingJoin.polylinePolygonJoinDF(spark, df, loops, includeContained)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
  }

  private def bruteRows(includeContained: Boolean): Seq[(Long, Long, Int)] =
    lines.flatMap { case (id, vs) =>
      brute(vs, includeContained).map { case (poly, n) => (id, poly, n) }
    }.sorted

  test("rows equal a brute scan of every loop") {
    val want = bruteRows(includeContained = true)
    // every group meets some loop; crossings and containment both occur
    assert(want.map(_._1 / 1000).distinct.size === 7)
    assert(want.exists(_._3 > 0) && want.exists(_._3 == 0))
    assert(joinRows(includeContained = true) === want)
    assert(joinRows(includeContained = false) === bruteRows(includeContained = false))
  }

  test("a line refines a small fraction of the loops") {
    val index = SpatialJoin.CoveringIndex.build(SpatialJoin.polygonCoverings(loops))
    val perLine = lines.map { case (_, vs) =>
      index.intersecting(RegionCoverer().covering(new Polyline(vs))).length
    }
    val mean = perLine.sum.toDouble / lines.size
    // a scan tests all 1,000 loops per line; the covering index leaves
    // at most 2% of them on average (13.6 at this seed)
    assert(mean <= 0.02 * loops.size, s"mean candidates per line $mean")
    assert(perLine.max < loops.size / 5, s"max candidates per line ${perLine.max}")
  }
}
