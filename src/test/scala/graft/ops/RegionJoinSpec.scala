package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Earth, LatLng, RectRegion, Vec3}

/** Differential property of rectJoin and radiusJoin: at fixed seeds each
  * returns exactly the (point, region) pairs that its own refine predicate
  * finds when applied to every region, so the covering never prunes a
  * true match and no match is emitted twice. Regions sit at the poles, on
  * the antimeridian, on cube-face edges and corners and anywhere, from
  * metre-sized to continental; their ids run opposite to their positions,
  * so a join that mixes the two up reports or refines the wrong region.
  * Points weight rect corners and edges, cap rims, the poles, the
  * antimeridian, non-finite coordinates and coordinates out of range.
  */
class RegionJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("region-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val D = LatLng.DegToRad

  private def deg(p: Vec3) =
    (LatLng.latitude(p) * LatLng.RadToDeg, LatLng.longitude(p) * LatLng.RadToDeg)

  /** Ids n-1 .. 0 for positions 0 .. n-1. */
  private def withIds[T](regions: Seq[T]): Seq[(Long, T)] =
    regions.zipWithIndex.map { case (r, i) => ((regions.size - 1 - i).toLong, r) }

  private val commonPoints: Seq[(Double, Double)] = {
    val poles = Seq((90.0, 0.0), (-90.0, 0.0), (90.0, 137.0), (-90.0, -45.0),
      (89.99999, -20.0), (-89.99999, 75.0))
    val antimeridian = Seq(-60.0, -35.0, 0.0, 10.0, 20.0, 45.0).flatMap(lat =>
      Seq((lat, 180.0), (lat, -180.0), (lat, 179.99999), (lat, -179.99999)))
    val faceEdges = Seq((0.0, 45.0), (0.0, -45.0), (0.0, 135.0),
      (35.26438968275466, 45.0), (-35.26438968275466, -135.0), (45.0, 45.0))
    val nonFinite = Seq((Double.NaN, 0.0), (0.0, Double.NaN), (Double.NaN, Double.NaN),
      (Double.PositiveInfinity, 0.0), (0.0, Double.NegativeInfinity),
      (35.26438968275466, Double.PositiveInfinity), (89.9, Double.NaN))
    val outOfRange = Seq((90.5, 10.0), (-91.0, 0.0), (10.0, 181.0), (-10.0, -180.5),
      (20.0, 540.0), (85.0, -359.0))
    poles ++ antimeridian ++ faceEdges ++ nonFinite ++ outOfRange
  }

  private def finite(lat: Double, lng: Double) =
    java.lang.Double.isFinite(lat) && java.lang.Double.isFinite(lng)

  private def toDf(pts: Seq[(Double, Double)]): DataFrame = {
    import spark.implicits._
    pts.zipWithIndex.map { case ((lat, lng), i) => (i.toLong, lat, lng) }
      .toDF("pt", "lat", "lng")
  }

  private def pairs(df: DataFrame, idCol: String): Seq[(Long, Long)] =
    df.select("pt", idCol).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def brute[R](pts: Seq[(Double, Double)], regions: Seq[(Long, R)])(
      contains: (R, Double, Double) => Boolean): Seq[(Long, Long)] =
    pts.zipWithIndex.flatMap { case ((lat, lng), i) =>
      if (!finite(lat, lng)) Nil
      else regions.collect { case (id, r) if contains(r, lat, lng) => (i.toLong, id) }
    }.sorted

  // ---------------------------------------------------------------- rects

  private def rects(seed: Long): Seq[(Double, Double, Double, Double)] = {
    val rng = new scala.util.Random(seed)
    val hard = Seq(
      (80.0, -180.0, 90.0, 180.0),     // north polar cap
      (-90.0, -180.0, -75.0, 180.0),   // south polar cap
      (70.0, 10.0, 90.0, 40.0),        // wedge touching the north pole
      (10.0, 170.0, 30.0, -170.0),     // across the antimeridian
      (-20.0, 160.0, 0.0, 180.0),      // east edge on the antimeridian
      (-50.0, -180.0, -30.0, -175.0),  // west edge on the antimeridian
      (-5.0, 40.0, 5.0, 50.0),         // across a face edge
      (30.0, 40.0, 40.0, 50.0),        // around a face corner
      (0.0, 45.0, 35.26438968275466, 135.0), // edges on face boundaries
      (40.0, -74.0, 40.0001, -73.9999), // metre-scale
      (-40.0, -20.0, 40.0, 60.0),      // continental
      (-10.0, 100.0, 60.0, -100.0))    // 160 degrees wide, across the antimeridian
    val random = (0 until 12).map { _ =>
      val lat = rng.nextDouble() * 160.0 - 80.0
      val lng = rng.nextDouble() * 360.0 - 180.0
      val h = math.pow(10, -3 + rng.nextDouble() * 4)
      (lat, lng, math.min(90.0, lat + h), lng + h * (1 + rng.nextDouble()))
    }.map { case (a, b, c, d) => (a, b, c, if (d > 180.0) d - 360.0 else d) }
    hard ++ random
  }

  private def rectPoints(seed: Long, rs: Seq[(Double, Double, Double, Double)]) = {
    val rng = new scala.util.Random(seed)
    val eps = 1e-9
    rs.flatMap { case (latLo, lngLo, latHi, lngHi) =>
      val width = { val w = lngHi - lngLo; if (w < 0) w + 360.0 else w }
      def lngAt(t: Double) = { val l = lngLo + t * width; if (l > 180.0) l - 360.0 else l }
      val corners = for (lat <- Seq(latLo, latHi); lng <- Seq(lngLo, lngHi)) yield (lat, lng)
      val edges = (0 until 4).flatMap { _ =>
        val t = rng.nextDouble()
        val lat = latLo + t * (latHi - latLo)
        val lng = lngAt(t)
        Seq((latLo, lng), (latHi, lng), (lat, lngLo), (lat, lngHi),
          (latLo - eps, lng), (latHi + eps, lng), (lat, lngLo - eps), (lat, lngHi + eps),
          (latLo + eps, lng), (latHi - eps, lng), (lat, lngLo + eps), (lat, lngHi - eps))
      }
      val scatter = (0 until 8).map { _ =>
        (latLo + (rng.nextDouble() * 1.4 - 0.2) * (latHi - latLo),
          lngAt(rng.nextDouble() * 1.4 - 0.2))
      }
      corners ++ edges ++ scatter
    } ++ commonPoints
  }

  test("rectJoin equals its refine applied to every rect") {
    for (seed <- Seq(81L, 82L)) {
      val rs = withIds(rects(seed))
      val pts = rectPoints(seed, rs.map(_._2))
      val byId = rs.map { case (id, (a, b, c, d)) =>
        id -> RectRegion.fromDegrees(a, b, c, d).rect }
      val want = brute(pts, byId)((r, lat, lng) => r.containsLatLng(lat * D, lng * D))
      val got = pairs(SpatialJoin.rectJoin(spark, toDf(pts),
        rs.map { case (id, (a, b, c, d)) => (id, a, b, c, d) }), "rect_id")
      assert(want.size > 1000, s"only ${want.size} matching pairs")
      assert(rs.forall { case (id, _) => want.exists(_._2 == id) }, "a rect matches no point")
      assert(got === want, s"seed $seed: missing ${want.diff(got).take(5)}, " +
        s"extra ${got.diff(want).take(5)}")
    }
  }

  // ----------------------------------------------------------------- caps

  private def caps(seed: Long): Seq[(Double, Double, Double)] = {
    val rng = new scala.util.Random(seed)
    val hard = Seq(
      (90.0, 0.0, 500000.0),           // centred on the north pole
      (89.5, 30.0, 200000.0),          // over the north pole
      (-90.0, 0.0, 1000000.0),         // centred on the south pole
      (0.0, 180.0, 300000.0),          // on the antimeridian
      (-30.0, -179.99, 50000.0),       // across the antimeridian
      (35.26438968275466, 45.0, 100000.0), // on a face corner
      (0.0, 45.0, 20000.0),            // on a face edge
      (40.7128, -74.006, 1.0),         // one metre
      (51.5, -0.12, 0.25),             // a quarter metre
      (10.0, 20.0, 3000000.0),         // continental
      (-20.0, 140.0, 6000000.0))       // continental, across the antimeridian
    val random = (0 until 12).map { _ =>
      (rng.nextDouble() * 170.0 - 85.0, rng.nextDouble() * 360.0 - 180.0,
        math.pow(10, rng.nextDouble() * 6))
    }
    hard ++ random
  }

  private def capPoints(seed: Long, cs: Seq[(Double, Double, Double)]) = {
    val rng = new scala.util.Random(seed)
    cs.flatMap { case (lat, lng, rm) =>
      val c = LatLng.toPointDegrees(lat, lng)
      val u = c.ortho.normalize
      val v = c.cross(u).normalize
      val a = Earth.angleFromMeters(rm)
      def at(theta: Double, d: Double) =
        deg((c * math.cos(d) + (u * math.cos(theta) + v * math.sin(theta)) * math.sin(d)).normalize)
      val rim = (0 until 8).flatMap { _ =>
        val theta = rng.nextDouble() * 2 * math.Pi
        Seq(1 - 1e-9, 1 - 1e-12, 1.0, 1 + 1e-12, 1 + 1e-9).map(f => at(theta, a * f))
      }
      val scatter = (0 until 12).map(_ =>
        at(rng.nextDouble() * 2 * math.Pi, a * 1.5 * rng.nextDouble()))
      Seq((lat, lng)) ++ rim ++ scatter
    } ++ commonPoints
  }

  test("radiusJoin equals its refine applied to every cap") {
    for (seed <- Seq(91L, 92L)) {
      val cs = withIds(caps(seed))
      val pts = capPoints(seed, cs.map(_._2))
      val want = brute(pts, cs) { case ((qlat, qlng, rm), lat, lng) =>
        LatLng.distance(lat * D, lng * D, qlat * D, qlng * D) <= Earth.angleFromMeters(rm)
      }
      val got = pairs(SpatialJoin.radiusJoin(spark, toDf(pts),
        cs.map { case (id, (a, b, r)) => (id, a, b, r) }), "query_id")
      assert(want.size > 400, s"only ${want.size} matching pairs")
      assert(cs.forall { case (id, _) => want.exists(_._2 == id) }, "a cap matches no point")
      assert(got === want, s"seed $seed: missing ${want.diff(got).take(5)}, " +
        s"extra ${got.diff(want).take(5)}")
    }
  }
}
