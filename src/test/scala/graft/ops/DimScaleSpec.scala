package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Dimension-table scale rehearsal: the shuffle path exists for polygon
  * sets too large to broadcast, but until now was only driver-exercised
  * with 8 polygons. This spec pushes 10,000 synthesized polygons through
  * pipJoin and pins the contracts that matter at that scale:
  * the chooser picks the shuffle path, only normalized coverings leave
  * the driver (bounded closure), the denormalized dim table respects
  * maxDimRows, and the result matches the broadcast path row-for-row.
  */
class DimScaleSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("dim-scale-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val nPolys = 10000
  // 64-vertex polygons, 2-6 km radius, deterministic centers away from
  // the poles; sized so the estimated broadcast payload genuinely
  // exceeds the 10 MB default budget (the scale the shuffle path is for).
  private lazy val polys: Seq[(Long, Loop)] = {
    val rng = new scala.util.Random(4242)
    (0 until nPolys).map { i =>
      val lat = rng.nextDouble() * 120.0 - 60.0
      val lng = rng.nextDouble() * 360.0 - 180.0
      val radius = 2000.0 + rng.nextDouble() * 4000.0
      (i.toLong, Loop.regularLoop(LatLng.toPointDegrees(lat, lng),
        Earth.angleFromMeters(radius), 64))
    }
  }
  private lazy val coverings = SpatialJoin.polygonCoverings(polys, maxCells = 8)

  // 30,000 points: 3 per polygon at center / near-edge-inside / outside.
  private lazy val points = {
    import spark.implicits._
    val rows = polys.flatMap { case (id, loop) =>
      val c = loop.vertices.reduce(_ + _).normalize
      val lat = LatLng.latitude(c) * LatLng.RadToDeg
      val lng = LatLng.longitude(c) * LatLng.RadToDeg
      val d = 0.06 // ~6.6 km: outside every radius
      Seq((s"pt_in_$id", lat, lng),
        (s"pt_near_$id", lat + 0.012, lng),
        (s"pt_out_$id", lat + d, lng + d))
    }
    rows.toDF("url", "lat", "lng")
  }

  test("normalized coverings stay driver-shippable at 10k polygons") {
    // The closure the driver ships to the dim-table fan-out is the
    // normalized covering list: <= 3*maxCells cells per polygon, 8 bytes
    // each — NOT the level-k denormalization (millions of rows) and NOT
    // per-row geometry bytes.
    val cells = coverings.iterator.map { case (_, c, ic) => c.size + ic.size }.sum
    assert(cells <= nPolys * 3 * 8, s"covering cells blew up: $cells")
    // measured, not estimated: the serialized form of what leaves the
    // driver stays in single-digit MB
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(coverings.map { case (id, c, ic) =>
      (id, c.ids, ic.ids)
    }.toArray)
    oos.close()
    assert(bos.size() < 8 * 1024 * 1024,
      s"normalized covering payload ${bos.size()} bytes exceeds 8 MB")
  }

  test("pipJoin selects the shuffle path at 10k polygons") {
    val est = SpatialJoin.estimateBroadcastBytes(polys, coverings)
    assert(est > 10L * 1024 * 1024,
      s"fixture must exceed the 10 MB broadcast budget, estimated $est")
    val auto = SpatialJoin.pipJoin(spark, points, polys)
    assert(!auto.queryExecution.executedPlan.toString.contains("covering_probe"),
      "10k polygons must not take the broadcast covering-probe path")
  }

  test("dim table respects the maxDimRows budget") {
    val level = ShuffleSpatialJoin.chooseLevel(coverings.map(_._2))
    val dim = ShuffleSpatialJoin.polygonDimTable(spark, polys, level,
      precomputed = Some(coverings))
    val n = dim.count()
    assert(n <= 2000000L, s"dim table has $n rows, budget is 2M")
    assert(n >= nPolys, "every polygon must contribute at least one cell")
  }

  test("shuffle path equals broadcast path at 10k polygons") {
    val shuffleRows = ShuffleSpatialJoin.pipJoinLarge(spark, points, polys,
      precomputed = Some(coverings))
      .select("url", "poly_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // an unbounded threshold keeps pipJoin on the broadcast probe
    val broadcast = graft.WithConf.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> Long.MaxValue.toString) {
      SpatialJoin.pipJoin(spark, points, polys)
    }
    assert(broadcast.queryExecution.executedPlan.toString.contains("covering_probe"))
    val broadcastRows = broadcast
      .select("url", "poly_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(shuffleRows === broadcastRows)
    // sanity on the fixture itself: centers hit, far points miss
    assert((0 until nPolys).forall(i => shuffleRows.contains((s"pt_in_$i", i.toLong))))
    // pt_out_i sits ~9 km from polygon i's center (radius <= 6 km) so it
    // must not match polygon i — but with 10k random polygons it can
    // legitimately fall inside a DIFFERENT one, so only the self-pair is
    // asserted absent.
    assert(!(0 until nPolys).exists(i => shuffleRows.contains((s"pt_out_$i", i.toLong))))
  }
}
