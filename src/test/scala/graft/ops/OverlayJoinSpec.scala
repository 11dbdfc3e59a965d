package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.WithConf.withConf
import graft.core.{Earth, LatLng, Loop, Polygon, Vec3}

/** The overlay join against a brute all-pairs scan of the exact
  * Polygon predicates, on the overlay fixtures and on generated polygons
  * at the sphere's hard places, under every region-table combination.
  */
class OverlayJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("overlay-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      .toSet

  private def brute(pa: Seq[(Long, Polygon)], pb: Seq[(Long, Polygon)]) =
    (for {
      (ai, a) <- pa
      (bi, b) <- pb
      if a.intersects(b)
    } yield (ai, bi, a.contains(b), b.contains(a))).toSet

  test("overlay join equals a brute all-pairs scan on the overlay fixtures") {
    val pa = graft.gate.GeoGate.overlayPolysA
    val pb = graft.gate.GeoGate.overlayPolysB
    val want = brute(pa, pb)
    assert(want.exists(r => r._3) && want.exists(r => !r._3 && !r._4),
      "fixtures should hold both contained and merely overlapping pairs")

    val df = OverlayJoin.polygonOverlapJoin(spark, pa, pb)
    assert(rows(df) === want)
    // covering rows must not carry geometry (the r1 dim-table lesson)
    assert(!df.queryExecution.executedPlan.toString.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("geom") && l.contains("cell")),
      "no exchange may carry (cell, geom) rows")
  }

  test("list entry point never broadcasts geometry over the threshold") {
    // Spark sizes a local table's row at about 116 B, so set A's 8
    // 24-gons (about 4.8 kB on the wire) are estimated at 928 B, under a
    // 1 kB threshold.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val pa = graft.gate.GeoGate.overlayPolysA
    val pb = graft.gate.GeoGate.overlayPolysB
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "1KB") {
      val df = OverlayJoin.polygonOverlapJoin(spark, pa, pb)
      assert(rows(df) === brute(pa, pb))
      val geomBroadcasts = scala.collection.mutable.ArrayBuffer[String]()
      def walk(p: SparkPlan): Unit = {
        p match {
          case b: BroadcastExchangeExec if b.output.exists(_.name.endsWith("geom")) =>
            geomBroadcasts += b.output.map(_.name).mkString(",")
          case _ =>
        }
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case other => other.children.foreach(walk)
        }
      }
      walk(df.queryExecution.executedPlan)
      assert(geomBroadcasts.isEmpty,
        s"geometry broadcast: $geomBroadcasts\n${df.queryExecution.executedPlan}")
    }
  }

  test("annulus polygons round trip through the wire format in the join") {
    // multi-loop polygons (holes) through encode -> shuffle -> decode
    val annuli = graft.gate.GeoGate.cityAnnuli
    // in-ring discs (center ~133 km out, radius 30 km: spans 103-163 km,
    // inside the 80-200 km annulus) and hole-straddling discs (center
    // ~67 km, spans 37-97 km: crosses the hole boundary)
    val discs = graft.sources.PagesSource.cities.zipWithIndex.flatMap {
      case ((lat, lng), i) =>
        def disc(dLat: Double) = Polygon.fromLoops(Seq(Loop.regularLoop(
          LatLng.toPointDegrees(lat + dLat, lng),
          Earth.angleFromMeters(30000), 24)))
        Seq((i.toLong * 2, disc(1.2)), (i.toLong * 2 + 1, disc(0.6)))
    }
    // the annuli cross the wire both broadcast and sort-merge joined
    for (threshold <- Seq("10MB", "1KB")) withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
      val rows = OverlayJoin.polygonOverlapJoin(spark, annuli, discs)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getBoolean(2), r.getBoolean(3))))
        .toMap
      for (i <- 0 until 8) {
        // in-ring disc: contained by its own annulus
        assert(rows.get((i.toLong, i.toLong * 2)).contains((true, false)),
          s"in-ring disc of city $i should be contained ($threshold)")
        // straddling disc: intersects but is not contained
        assert(rows.get((i.toLong, i.toLong * 2 + 1)).contains((false, false)),
          s"straddling disc of city $i should intersect only ($threshold)")
      }
    }
  }

  // Differential property of the overlay join: at a fixed seed it returns
  // exactly the pairs a brute all-pairs intersects/contains scan finds,
  // under each of the four region-table combinations (A broadcast or
  // sort-merge joined, B likewise). Polygons sit at both poles, on the
  // antimeridian, on a face edge and on a face corner. Each site holds a
  // pair nested each way, a polygon with a hole and discs inside the hole,
  // across its rim and inside its ring, polygons sharing a vertex or an
  // edge with A's polygon, a disjoint disc and random stars. Ids run
  // opposite to positions, so a refine that mixes the two up, or the two
  // sides' positions, relates the wrong polygons.

  private def km(m: Double) = Earth.angleFromMeters(m * 1000)

  /** The point `angle` from c along a random direction. */
  private def near(rng: scala.util.Random, c: Vec3, angle: Double): Vec3 = {
    val t = Vec3(rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian())
      .cross(c).normalize
    (c * math.cos(angle) + t * math.sin(angle)).normalize
  }

  private def disc(c: Vec3, radius: Double, n: Int) =
    Polygon.fromLoops(Seq(Loop.regularLoop(c, radius, n)))

  /** Star-shaped polygon CCW around c: regular vertices pulled toward c. */
  private def star(rng: scala.util.Random, c: Vec3, radius: Double, n: Int) =
    Polygon.fromLoops(Seq(Loop.fromPoints(Loop.regularLoop(c, radius, n).vertices.map { v =>
      val f = 0.55 + 0.45 * rng.nextDouble()
      (c * (1 - f) + v * f).normalize
    })))

  /** The polygon of the small side of the given vertices. */
  private def triangle(a: Vec3, b: Vec3, c: Vec3) =
    Polygon.fromLoops(Seq(Loop.fromPoints(Array(a, b, c)).normalized))

  /** Sets A and B at every hard site; B holds more and larger polygons,
    * so its wire bytes exceed A's.
    */
  private def overlaySets(seed: Long): (Seq[(Long, Polygon)], Seq[(Long, Polygon)]) = {
    val rng = new scala.util.Random(seed)
    val sites = Seq((89.7, 0.0), (-89.6, 40.0), (10.0, 180.0), (-35.0, -179.9),
      (0.0, 45.0), (35.26438968275466, 45.0))
    val (as, bs) = sites.map { case (lat, lng) =>
      val c = LatLng.toPointDegrees(lat, lng)
      val shell = Loop.regularLoop(c, km(150), 5 + rng.nextInt(20))
      val h = near(rng, c, km(450))
      val holed = Polygon.fromLoops(Seq(Loop.regularLoop(h, km(120), 16),
        Loop.regularLoop(h, km(50), 7)))
      val (v0, v1) = (shell.vertex(0), shell.vertex(1))
      val out = (p: Vec3, f: Double) => (p + (p - c) * f).normalize
      val a = Seq(
        Polygon.fromLoops(Seq(shell)),
        holed,
        disc(near(rng, c, km(20)), km(30), 6), // nested in the shell
        star(rng, near(rng, c, km(250)), km(40 + 80 * rng.nextDouble()), 5 + rng.nextInt(20)))
      val b = Seq(
        disc(near(rng, c, km(40)), km(40), 12), // contained by the shell
        disc(h, km(300), 30), // contains the holed polygon
        disc(h, km(20), 8), // inside the hole
        disc(near(rng, h, km(50)), km(25), 12), // across the hole's rim
        disc(near(rng, h, km(85)), km(20), 12), // inside the ring
        triangle(v0, out(v0, 0.5), (out(v0, 0.5) + v0.cross(c).normalize * 1e-3).normalize), // shares a vertex
        triangle(v1, v0, out((v0 + v1).normalize, 0.4)), // shares an edge
        disc(near(rng, c, km(1500)), km(60), 10), // disjoint
        star(rng, near(rng, c, km(200)), km(40 + 120 * rng.nextDouble()), 5 + rng.nextInt(28)),
        star(rng, near(rng, h, km(100)), km(20 + 60 * rng.nextDouble()), 5 + rng.nextInt(28)))
      (a, b)
    }.unzip
    def ids(ps: Seq[Polygon]) = ps.zipWithIndex.map { case (p, i) => ((ps.size - 1 - i).toLong, p) }
    (ids(as.flatten), ids(bs.flatten))
  }

  private def wireBytes(ps: Seq[(Long, Polygon)]) =
    ps.iterator.map(p => SpatialJoin.encodeGeometry(p._2).length.toLong).sum

  /** Whether the join attaches a side's region table with a join on its
    * position column.
    */
  private def joinsOn(df: DataFrame, pos: String) =
    df.queryExecution.optimizedPlan.toString.linesIterator.exists(l =>
      l.contains("Join") && l.matches(s".*\\($pos#\\d+ = $pos#\\d+\\).*"))

  test("overlay join equals a brute scan under every region-table combination") {
    val (pa, pb) = overlaySets(91L)
    val want = brute(pa, pb)
    val swapped = want.map { case (a, b, ab, ba) => (b, a, ba, ab) }
    // the fixture reaches the cases it is for
    assert(want.count(_._3) >= 6 && want.count(_._4) >= 6 &&
      want.count(r => !r._3 && !r._4) >= 6, s"too few relations of a kind: $want")
    val (bytesA, bytesB) = (wireBytes(pa), wireBytes(pb))
    assert(bytesB > 2 * bytesA, s"wire bytes A $bytesA, B $bytesB")
    val between = ((bytesA + bytesB) / 2).toString

    val combos = Seq(
      // (threshold, A side, B side, A's table broadcast, B's table broadcast)
      ("10MB", pa, pb, true, true),
      (between, pa, pb, true, false),
      (between, pb, pa, false, true),
      ("-1", pa, pb, false, false))
    for ((threshold, sideA, sideB, aFits, bFits) <- combos) withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
      val df = OverlayJoin.polygonOverlapJoin(spark, sideA, sideB)
      val label = s"A broadcast $aFits, B broadcast $bFits"
      assert(joinsOn(df, "a_pos") === !aFits && joinsOn(df, "b_pos") === !bFits,
        s"$label: region tables not as expected\n${df.queryExecution.optimizedPlan}")
      val got = rows(df)
      val expected = if (sideA eq pa) want else swapped
      assert(got === expected, s"$label: missing ${(expected -- got).take(5)}, " +
        s"extra ${(got -- expected).take(5)}")
    }
  }

  test("sequential overlay joins reusing polygon ids with different geometry stay correct") {
    // Each join resolves its polygons from its own region tables, so a
    // second join whose ids name other polygons sees its own geometry.
    val pa = graft.gate.GeoGate.overlayPolysA.take(2)
    // same ids (0, 1), different geometry: swap the two polygons
    val swappedA = Seq((0L, pa(1)._2), (1L, pa(0)._2))
    val pb = graft.gate.GeoGate.overlayPolysB
    for (threshold <- Seq("10MB", "-1")) withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
      val first = rows(OverlayJoin.polygonOverlapJoin(spark, pa, pb))
      val second = rows(OverlayJoin.polygonOverlapJoin(spark, swappedA, pb))
      assert(first.nonEmpty)
      // identical pairs modulo the id swap, NOT identical pairs
      assert(second.map { case (a, b, ab, ba) => (1L - a, b, ab, ba) } === first, threshold)
      assert(second !== first, threshold)
    }
  }
}
