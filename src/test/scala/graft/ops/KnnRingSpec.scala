package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.functions.LatLngStatics

/** The kNN join's plan: a histogram of the points per cell gives each
  * query a radius (the paper's cell-ring expansion, counted before the
  * join), and one radius join answers every query. Pinned here: on a
  * dense cluster, a sparse one and an empty ocean every query gets a
  * finite radius unless it asks for more points than exist; a call runs
  * one Spark action and its output one more; and the result equals a
  * brute top-k, at the sphere's hard places too.
  */
class KnnRingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("knn-ring-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // Dense cluster near New York, a 5-point cluster in the mid-Pacific
  // ~300 km from its queries, and nothing within 6,900 km of the
  // southern-ocean query.
  private val pointRows = {
    val nyc = (0 until 300).map { i =>
      (s"nyc_$i", 40.70 + (i % 20) * 0.01, -74.00 + (i / 20) * 0.01)
    }
    val pacific = (0 until 5).map { j =>
      (s"pac_$j", 2.6 + j * 0.05, -140.0)
    }
    nyc ++ pacific
  }

  private lazy val points = {
    import spark.implicits._
    pointRows.toDF("url", "lat", "lng")
  }

  private val queries = Seq(
    (0L, 40.71, -74.0), (1L, 40.72, -74.0), (2L, 40.73, -74.0), // New York
    (3L, 0.0, -140.0), (4L, 0.1, -140.0), (5L, 0.2, -140.0),    // Pacific
    (6L, -60.0, -140.0))                                         // southern ocean

  private def keyed(df: DataFrame) =
    df.select("query_id", "url", "knn_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  /** The k nearest finite points of each query, ranked by (haversine,
    * url), as (query_id, url, knn_rank).
    */
  private def bruteTopK(rows: Seq[(String, Double, Double)],
                        qs: Seq[(Long, Double, Double)], k: Int) = {
    val finite = rows.filter { case (_, la, ln) =>
      java.lang.Double.isFinite(la) && java.lang.Double.isFinite(ln) }
    qs.flatMap { case (qid, qla, qln) =>
      finite.sortBy { case (u, la, ln) => (LatLngStatics.distanceDegrees(qla, qln, la, ln), u) }
        .take(k).zipWithIndex.map { case ((u, _, _), i) => (qid, u, i + 1) }
    }.toSet
  }

  test("sparse-region queries satisfy via ring escalation, not brute") {
    val counts = SpatialJoin.cellCounts(points, "lat", "lng")
    assert(counts.total == 305L)
    // every query, the southern-ocean one included, finds its k = 3 on a
    // finite rung of the ladder; only k above the point count is brute
    for ((id, lat, lng) <- queries) {
      val r = SpatialJoin.knnRadius(counts, lat, lng, 3)
      assert(r < math.Pi, s"query $id scans every point (radius $r)")
      assert(SpatialJoin.knnRadius(counts, lat, lng, 306) == math.Pi, s"query $id, k = 306")
    }
    // the whole sphere's join radius reaches the antipode
    assert(Earth.angleFromMeters(SpatialJoin.knnJoinMeters(math.Pi)) > math.Pi)
  }

  test("ring results equal the brute-force reference") {
    for (k <- Seq(1, 3, 6)) {
      val got = keyed(SpatialJoin.knnJoin(spark, points, queries, k, tieBreakCols = Seq("url")))
      assert(got == bruteTopK(pointRows, queries, k), s"k = $k")
      // every query got exactly k rows
      assert(got.groupBy(_._1).map { case (q, rows) => q -> rows.size } ==
        queries.map(_._1 -> k).toMap, s"k = $k")
    }
  }

  test("a kNN call runs one Spark action, and its output one more") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val dir = java.nio.file.Files.createTempDirectory("knn-ring-spec").toFile
    val fromFile = {
      val path = new java.io.File(dir, "points").getPath
      points.write.parquet(path)
      spark.read.parquet(path)
    }
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (e.isInstanceOf[SparkListenerSQLExecutionStart]) executions.incrementAndGet()
    }
    def drain(): Int = {
      org.apache.spark.GraftSparkBridge.waitListenerQueueEmpty(spark.sparkContext)
      executions.getAndSet(0)
    }
    def fileScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case _: FileSourceScanExec => 1
      case other => other.children.map(fileScans).sum
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain()
      val df = SpatialJoin.knnJoin(spark, fromFile, queries, k = 3, tieBreakCols = Seq("url"))
      assert(drain() == 1, "the call runs the histogram and nothing else")
      assert(keyed(df) == bruteTopK(pointRows, queries, 3))
      assert(drain() == 1, "the output runs as one action")
      assert(fileScans(df.queryExecution.executedPlan) == 1,
        df.queryExecution.executedPlan.toString)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("knnJoin rejects k < 1, a repeated query id and a non-finite query") {
    for ((qs, k, message) <- Seq(
        (queries, 0, "k must be at least 1, got 0"),
        (queries :+ ((4L, 1.0, 2.0)), 3, "query id 4 appears more than once"),
        (queries :+ ((9L, Double.NaN, 2.0)), 3, "query id 9 has a non-finite coordinate (NaN, 2.0)"),
        (Seq((8L, 10.0, Double.NegativeInfinity)), 1,
          "query id 8 has a non-finite coordinate (10.0, -Infinity)"))) {
      val e = intercept[IllegalArgumentException](SpatialJoin.knnJoin(spark, points, qs, k))
      assert(e.getMessage.contains(message), e.getMessage)
    }
  }

  test("a point in a cell inside a counted cap passes the join's refine") {
    // The count trusts every point whose leaf lies in a cell the rung's
    // cap contains. A point on such a cell's far corner, given in degrees,
    // can have a computed haversine an ulp past the rung; the join's
    // widened radius must still admit it.
    val rng = new scala.util.Random(77)
    val d2r = LatLng.DegToRad
    var pastRung = 0
    for (_ <- 0 until 300) {
      val r = Metric.MinWidth.value(SpatialJoin.KnnLevel) * (1 << rng.nextInt(4))
      val cell = Cell.fromId(CellId.parent(CellId.fromLatLngDegrees(
        -80 + 160 * rng.nextDouble(), -180 + 360 * rng.nextDouble()), SpatialJoin.KnnLevel))
      // vertex 0 is the cell's own (i, j) corner; the query lies r from it
      // along the diagonal, so that corner is the cell's farthest point
      val v = cell.vertex(0)
      val (vLat, vLng) = (LatLng.latitude(v) / d2r, LatLng.longitude(v) / d2r)
      val toward = (cell.center - v * v.dot(cell.center)).normalize
      val q = v * math.cos(r) + toward * math.sin(r)
      val (qLat0, qLng) = (LatLng.latitude(q) / d2r, LatLng.longitude(q) / d2r)
      for (step <- -16 to 16) {
        val qLat = qLat0 + step * math.ulp(qLat0)
        if (Cap.fromCenterRadians(LatLng.toPointDegrees(qLat, qLng), r).containsCell(cell) &&
            CellId.contains(cell.id, CellId.fromLatLngDegrees(vLat, vLng))) {
          // the covering probe's refine, argument order included
          val d = LatLng.distance(vLat * d2r, vLng * d2r, qLat * d2r, qLng * d2r)
          if (d > r) pastRung += 1
          assert(d <= Earth.angleFromMeters(SpatialJoin.knnJoinMeters(r)),
            s"corner of ${CellId.toToken(cell.id)} at $d past the join radius for rung $r")
        }
      }
    }
    assert(pastRung > 0, "no case reached past its rung; the check is vacuous")
  }

  test("knnJoin equals a brute top-k at the sphere's hard places") {
    import spark.implicits._
    val rng = new scala.util.Random(1405)
    val faceCorner = (math.asin(1 / math.sqrt(3)) / LatLng.DegToRad, 45.0)
    val places = Seq((90.0, 0.0), (-90.0, 0.0), (12.0, 180.0), (-7.0, -180.0), faceCorner)
    def wrap(lng: Double) = if (lng > 180) lng - 360 else if (lng < -180) lng + 360 else lng
    // 20 points around each place; every fifth repeats the previous one's
    // coordinates under another url
    val clusters = places.zipWithIndex.flatMap { case ((la, ln), c) =>
      var prev = (la, ln)
      (0 until 20).map { i =>
        if (i % 5 != 4) prev = (math.max(-90, math.min(90, la + (rng.nextDouble() - 0.5) * 4)),
          wrap(ln + (rng.nextDouble() - 0.5) * 4))
        (s"c${c}_$i", prev._1, prev._2)
      }
    }
    // four points 1 degree from (0, 0) on the axes, at one computed
    // distance, and a duplicate of one; urls against insertion order
    val ring = Seq((0.0, 1.0), (1.0, 0.0), (0.0, -1.0), (-1.0, 0.0), (0.0, 1.0))
      .zipWithIndex.map { case ((la, ln), i) => (s"ring_${4 - i}", la, ln) }
    assert(ring.map(p => LatLngStatics.distanceDegrees(0, 0, p._2, p._3)).distinct.size == 1)
    // CellId encodes every non-finite point to one leaf, at the face
    // corner the last cluster surrounds; a query sits on that leaf
    val nanLeaf = CellId.fromLatLngDegrees(Double.NaN, Double.NaN)
    for (bad <- Seq((Double.NaN, 10.0), (10.0, Double.PositiveInfinity)))
      assert(CellId.fromLatLngDegrees(bad._1, bad._2) == nanLeaf)
    assert(LatLng.toPointDegrees(faceCorner._1, faceCorner._2)
      .angle(CellId.toPoint(nanLeaf)) < 1e-6)
    val nonFinite = Seq((Double.NaN, Double.NaN), (Double.NaN, Double.NaN), (Double.NaN, Double.NaN),
      (Double.NaN, Double.NaN), (Double.NaN, 10.0), (10.0, Double.NaN),
      (Double.PositiveInfinity, 0.0), (0.0, Double.NegativeInfinity))
      .zipWithIndex.map { case ((la, ln), i) => (s"bad_$i", la, ln) }
    val rows = clusters ++ ring ++ nonFinite
    val nulls = Seq[(String, Option[Double], Option[Double])](
      ("null_0", None, Some(5.0)), ("null_1", Some(5.0), None), ("null_2", None, None))
    val pts = (rows.map { case (u, la, ln) => (u, Option(la), Option(ln)) } ++ nulls)
      .toDF("url", "lat", "lng")
    val qs = (places ++ Seq((0.0, 0.0),
        (CellId.toLatDegrees(nanLeaf), CellId.toLngDegrees(nanLeaf))))
      .zipWithIndex.map { case ((la, ln), i) => (100L - 7 * i, la, ln) }
    val finiteCount = clusters.size + ring.size
    for (k <- Seq(1, 4, finiteCount + 5))
      assert(keyed(SpatialJoin.knnJoin(spark, pts, qs, k, tieBreakCols = Seq("url"))) ==
        bruteTopK(rows, qs, k), s"k = $k")

    // a query whose only points lie near its antipode
    val farRows = (0 until 10).map(i =>
      (s"far_$i", 40.0 + rng.nextDouble() - 0.5, -100.0 + rng.nextDouble() - 0.5))
    val farQuery = Seq((1L, -40.0, 80.0))
    assert(keyed(SpatialJoin.knnJoin(spark, farRows.toDF("url", "lat", "lng"), farQuery, 3,
      tieBreakCols = Seq("url"))) == bruteTopK(farRows, farQuery, 3))
  }
}
