package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Polyline radius join vs brute-force ground truth, and the kNN join
  * against exact ground truth with its one-scan plan audit.
  */
class PolylineJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("polyline-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rng = new scala.util.Random(2468)

  private def randChain(centerLat: Double, centerLng: Double, n: Int): Polyline = {
    var lat = centerLat + rng.nextDouble()
    var lng = centerLng + rng.nextDouble()
    val pts = Seq.fill(n) {
      lat += (rng.nextDouble() - 0.5) * 0.3
      lng += (rng.nextDouble() - 0.5) * 0.3
      (lat, lng)
    }
    Polyline.fromLatLngsDegrees(pts)
  }

  test("polyline radius join equals brute-force pairs") {
    val linesA = (0L until 30L).map(i => (i, randChain(40, -74, 4)))
    val linesB = (0L until 40L).map(i => (i, randChain(40.2, -73.8, 3)))
    val radiusMeters = 25000.0
    val radiusRad = Earth.angleFromMeters(radiusMeters)

    val got = PolylineJoin.polylineRadiusJoin(spark, linesA, linesB, radiusMeters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val want = (for {
      (ai, a) <- linesA
      (bi, b) <- linesB
      if ChordAngle.toRadians(a.distanceToPolyline(b)) <= radiusRad
    } yield (ai, bi)).toSet

    assert(want.nonEmpty, "fixture should produce some close pairs")
    assert(got === want)
  }

  test("a radius far finer than the lines' coverings fails the fan-out guard") {
    // ~2,000 km along 40N with a 1 m radius: the join level is ~22 while
    // the coverings are ~level 6, a fan-out of ~4^16 cells per cell.
    val long = Seq((0L, Polyline.fromLatLngsDegrees(Seq((40.0, -10.0), (40.0, 13.5)))))
    val e = intercept[Exception](
      PolylineJoin.polylineRadiusJoin(spark, long, long, 1.0).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("fan-out")) &&
      messages.exists(_.contains("is unreasonably large")), messages.mkString("\n"))
  }

  test("degenerate inputs: empty sides, tiny k-overflow, single chains") {
    val one = Seq((0L, Polyline.fromLatLngsDegrees(Seq((10.0, 10.0), (10.5, 10.5)))))
    // empty B side -> empty result, no crash
    val emptyB = Seq.empty[(Long, Polyline)]
    assert(PolylineJoin.polylineRadiusJoin(spark, one, emptyB, 50000).count() === 0)
    assert(PolylineJoin.polylineRadiusJoin(spark, emptyB, one, 50000).count() === 0)
    // self-join of a single chain finds itself at distance 0
    val self = PolylineJoin.polylineRadiusJoin(spark, one, one, 1000).collect()
    assert(self.length === 1 && self(0).getDouble(2) === 0.0)

    // kNN with k greater than the candidate count returns all points
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    val total = pages.count()
    val all = SpatialJoin.knnJoin(spark, pages, Seq((0L, 48.8566, 2.3522)),
      k = total.toInt + 10, tieBreakCols = Seq("url"))
    assert(all.count() === total)

    // overlay join with an empty side
    val onePoly = graft.gate.GeoGate.overlayPolysA.take(1)
    assert(OverlayJoin.polygonOverlapJoin(spark, onePoly, Nil).count() === 0)

    // segment kNN over an empty table
    import spark.implicits._
    val noSegments = Seq.empty[(Long, Double, Double, Double, Double)]
      .toDF("seg_id", "a_lat", "a_lng", "b_lat", "b_lng")
    assert(SpatialJoin.knnJoin(spark, noSegments, Seq((0L, 0.0, 0.0)), k = 3,
      "a_lat", "a_lng", Seq("seg_id"), "b_lat", "b_lng").count() === 0)
  }

  test("kNN join matches exact ground truth across radii, k, and densities") {
    import spark.implicits._
    // clustered + sparse points: the clustered queries' radii stay small,
    // the sparse and polar ones' grow with k
    val pts = ((0 until 400).map { i =>
      (s"p$i", 40.0 + rng.nextDouble() * 2, -74.5 + rng.nextDouble() * 2)
    } ++ (0 until 20).map { i =>
      (s"sparse$i", -20.0 + rng.nextDouble() * 40, 60.0 + rng.nextDouble() * 40)
    }).toDF("url", "lat", "lng")
    for (trial <- 0 until 4) {
      val k = Seq(1, 3, 7, 25)(trial)
      val queries = ((0 until 6).map(i =>
        (i.toLong, 40.5 + rng.nextDouble(), -74.0 + rng.nextDouble())) ++
        Seq((6L, -10.0, 70.0), (7L, 89.0, 0.0))) // sparse + polar queries
      val got = SpatialJoin.knnJoin(spark, pts, queries, k, tieBreakCols = Seq("url"))
        .select("query_id", "url").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // exact ground truth via haversine in Scala
      val rows = pts.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val want = queries.flatMap { case (qid, qla, qln) =>
        rows.sortBy { case (u, la, ln) =>
          (graft.functions.LatLngStatics.distanceDegrees(qla, qln, la, ln), u)
        }.take(k).map(t => (qid, t._1))
      }.toSet
      assert(got === want, s"trial $trial k=$k")
    }
  }

  test("kNN join scans the points parquet once") {
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    val qSeq = graft.sources.PagesSource.cities.zipWithIndex.map {
      case ((la, ln), i) => (i.toLong, la, ln)
    }
    val df = SpatialJoin.knnJoin(spark, pages, qSeq, k = 3, tieBreakCols = Seq("url"))
    assert(df.select("query_id", "url").collect().length === 8 * 3)

    // Plan audit: the output's executed plan scans the points parquet
    // once (the histogram is its own, earlier action).
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    var fileScans = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: FileSourceScanExec => fileScans += 1
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(fileScans === 1, s"points scanned $fileScans times")
  }
}
