package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** knnJoin over segment rows against a brute top-k by
  * (EdgeDistances.distanceFromSegment, line_id, seg_id): at both poles,
  * across the antimeridian, on a vertex two lines share, with k above the
  * segment count, for a query whose segments all lie near its antipode,
  * and for a segment that lies an ulp past its counted rung.
  */
class SegmentKnnSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("segment-knn-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (line_id, seg_id, a_lat, a_lng, b_lat, b_lng); None is a null. */
  private type Seg = (Long, Long, Option[Double], Option[Double], Option[Double], Option[Double])

  private def seg(line: Long, s: Long, aLat: Double, aLng: Double,
                  bLat: Double, bLng: Double): Seg =
    (line, s, Some(aLat), Some(aLng), Some(bLat), Some(bLng))

  private def toDF(segs: Seq[Seg]): DataFrame = {
    val s = spark
    import s.implicits._
    segs.toDF("line_id", "seg_id", "a_lat", "a_lng", "b_lat", "b_lng")
  }

  private def knn(segs: DataFrame, qs: Seq[(Long, Double, Double)], k: Int) =
    SpatialJoin.knnJoin(spark, segs, qs, k, "a_lat", "a_lng",
      Seq("line_id", "seg_id"), "b_lat", "b_lng")
      .select("query_id", "line_id", "seg_id", "knn_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet

  /** The k nearest segments with four finite coordinates, ranked by
    * (distanceFromSegment, line_id, seg_id), as (query, line, seg, rank).
    */
  private def bruteTopK(segs: Seq[Seg], qs: Seq[(Long, Double, Double)], k: Int) = {
    val finite = segs.flatMap {
      case (l, s, Some(aLat), Some(aLng), Some(bLat), Some(bLng))
          if Seq(aLat, aLng, bLat, bLng).forall(java.lang.Double.isFinite) =>
        Some((l, s, LatLng.toPointDegrees(aLat, aLng), LatLng.toPointDegrees(bLat, bLng)))
      case _ => None
    }
    qs.flatMap { case (qid, qLat, qLng) =>
      val q = LatLng.toPointDegrees(qLat, qLng)
      finite.sortBy { case (l, s, a, b) => (EdgeDistances.distanceFromSegment(q, a, b), l, s) }
        .take(k).zipWithIndex.map { case ((l, s, _, _), i) => (qid, l, s, i + 1) }
    }.toSet
  }

  private def wrap(lng: Double) = if (lng > 180) lng - 360 else if (lng < -180) lng + 360 else lng

  test("segment knnJoin equals a brute top-k at the sphere's hard places") {
    val rng = new scala.util.Random(1606)
    // four 3-segment chains around each place, 1-degree steps
    val places = Seq((89.5, 0.0), (-89.5, 30.0), (10.0, 179.8), (40.7, -74.0), (0.0, 0.0))
    val chains = places.zipWithIndex.flatMap { case ((la, ln), p) =>
      (0 until 4).flatMap { c =>
        val pts = Iterator.iterate((la, ln)) { case (lat, lng) =>
          (math.max(-90, math.min(90, lat + rng.nextDouble() - 0.5)), wrap(lng + rng.nextDouble() - 0.5))
        }.take(4).toSeq
        pts.zip(pts.tail).zipWithIndex.map { case (((aLat, aLng), (bLat, bLng)), s) =>
          seg(10L * p + c, s, aLat, aLng, bLat, bLng)
        }
      }
    }
    val special = Seq(
      seg(100, 0, 89.0, 0.0, 89.0, 180.0),     // over the north pole
      seg(101, 0, -89.2, -45.0, -89.2, 135.0), // over the south pole
      seg(102, 0, 10.2, 179.6, 9.8, -179.6),   // across the antimeridian
      seg(103, 0, 0.0, -20.0, 0.0, 20.0),      // both vertices far from its queries
      // lines 104 and 105 share the vertex (30.5, 30.5)
      seg(104, 0, 30.0, 30.0, 30.5, 30.5), seg(104, 1, 30.5, 30.5, 31.0, 30.0),
      seg(105, 0, 30.5, 30.5, 30.0, 31.0))
    val broken: Seq[Seg] = Seq(
      (106, 0, Some(5.0), Some(5.0), Some(Double.NaN), Some(5.0)),
      (107, 0, Some(Double.PositiveInfinity), Some(5.0), Some(5.0), Some(5.0)),
      (108, 0, Some(5.0), Some(5.0), None, Some(5.0)),
      (109, 0, None, Some(0.0), Some(0.0), Some(0.0)))
    val segs = chains ++ special ++ broken
    val qs = Seq((90.0, 0.0), (-90.0, 0.0), (10.0, 180.0), (10.0, -179.99), (0.05, 0.0),
        (30.5, 30.5), (40.7, -74.0), (89.9, 100.0))
      .zipWithIndex.map { case ((la, ln), i) => (50L - 3 * i, la, ln) }
    // the query on the shared vertex ties three segments at distance 0
    val q = LatLng.toPointDegrees(30.5, 30.5)
    assert(Seq(((30.0, 30.0), (30.5, 30.5)), ((30.5, 30.5), (31.0, 30.0)), ((30.5, 30.5), (30.0, 31.0)))
      .forall { case ((aLa, aLn), (bLa, bLn)) => EdgeDistances.distanceFromSegment(q,
        LatLng.toPointDegrees(aLa, aLn), LatLng.toPointDegrees(bLa, bLn)) == 0.0 })
    val df = toDF(segs)
    val finiteCount = chains.size + special.size
    for (k <- Seq(1, 3, finiteCount + 5)) {
      val got = knn(df, qs, k)
      assert(got == bruteTopK(segs, qs, k), s"k = $k")
      assert(got.size == qs.size * math.min(k, finiteCount), s"k = $k")
    }
  }

  test("a query whose segments all lie near its antipode takes the π rung") {
    val rng = new scala.util.Random(1607)
    val segs = (0 until 12).map { i =>
      val (la, ln) = (40.0 + rng.nextDouble() - 0.5, -100.0 + rng.nextDouble() - 0.5)
      seg(i / 3, i % 3, la, ln, la + rng.nextDouble() - 0.5, ln + rng.nextDouble() - 0.5)
    }
    val qs = Seq((7L, -40.0, 80.0))
    val df = toDF(segs)
    assert(SpatialJoin.knnRadius(
      SpatialJoin.cellCounts(df, "a_lat", "a_lng", Seq("b_lat", "b_lng")), -40.0, 80.0, 3) == math.Pi)
    assert(knn(df, qs, 3) == bruteTopK(segs, qs, 3))
  }

  test("the histogram counts a segment at its first vertex's cell") {
    val segs = Seq(seg(0, 0, 10.0, 10.0, 20.0, 20.0), seg(0, 1, 20.0, 20.0, 20.0, 21.0),
      seg(1, 0, 10.0, 10.1, 30.0, 30.0))
    val counts = SpatialJoin.cellCounts(toDF(segs), "a_lat", "a_lng", Seq("b_lat", "b_lng"))
    def cell(lat: Double, lng: Double) =
      CellUnion.fromNormalized(Array(CellId.parent(CellId.fromLatLngDegrees(lat, lng), SpatialJoin.KnnLevel)))
    assert(counts.total == 3L)
    assert(counts.within(cell(10.0, 10.0)) == 2L)
    assert(counts.within(cell(20.0, 20.0)) == 1L)
    assert(counts.within(cell(30.0, 30.0)) == 0L)
  }

  test("a segment from a counted cell's far corner passes the join's refine") {
    // A segment counts at the cell of its first vertex. When that vertex
    // is the corner of a cell the query's rung contains, its computed
    // distance can lie an ulp past the rung; the join's widened radius
    // must still admit it, or the query loses one of its k.
    val rng = new scala.util.Random(78)
    val level = SpatialJoin.KnnLevel
    val w = Metric.MinWidth.value(level)
    val d2r = LatLng.DegToRad
    def deg(p: Vec3) = (LatLng.latitude(p) / d2r, LatLng.longitude(p) / d2r)
    val cases = Iterator.continually {
      val cell = Cell.fromId(CellId.parent(CellId.fromLatLngDegrees(
        -80 + 160 * rng.nextDouble(), -180 + 360 * rng.nextDouble()), level))
      val v = cell.vertex(0)
      val toward = (cell.center - v * v.dot(cell.center)).normalize
      val (qLat0, qLng) = deg(v * math.cos(w) + toward * math.sin(w))
      val (vLat, vLng) = deg(v)
      val (xLat, xLng) = deg(v * math.cos(1e-3) - toward * math.sin(1e-3))
      (-16 to 16).iterator.map(step => qLat0 + step * math.ulp(qLat0)).find { qLat =>
        val qp = LatLng.toPointDegrees(qLat, qLng)
        Cap.fromCenterRadians(qp, w).containsCell(cell) &&
          CellId.contains(cell.id, CellId.fromLatLngDegrees(vLat, vLng)) &&
          SpatialJoin.knnRadius(new SpatialJoin.CellCounts(Array(cell.id), Array(3L)),
            qLat, qLng, 3) == w &&
          EdgeDistances.distanceFromSegment(qp, LatLng.toPointDegrees(vLat, vLng),
            LatLng.toPointDegrees(xLat, xLng)) > w
      }.map(qLat => (cell, qLat, qLng, Seq(vLat, vLng, xLat, xLng)))
    }.take(2000).flatten
    assert(cases.hasNext, "no corner reached past its rung; the check is vacuous")
    val (cell, qLat, qLng, Seq(vLat, vLng, xLat, xLng)) = cases.next()
    // the corner segment and two short ones beside the query, all three
    // counted in the cell, so the query's rung is w
    val segs = Seq(seg(0, 0, vLat, vLng, xLat, xLng),
      seg(1, 0, qLat + 1e-4, qLng, qLat + 2e-4, qLng),
      seg(1, 1, qLat + 2e-4, qLng, qLat + 2e-4, qLng + 1e-4))
    assert(segs.forall { case (_, _, Some(la), Some(ln), _, _) =>
      CellId.parent(CellId.fromLatLngDegrees(la, ln), level) == cell.id
      case _ => false })
    val qs = Seq((0L, qLat, qLng))
    assert(knn(toDF(segs), qs, 3) == bruteTopK(segs, qs, 3))
  }
}
