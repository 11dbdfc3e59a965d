package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.WithConf.withConf
import graft.core.{CellId, Earth, LatLng, Loop, Polygon, S2Region, Vec3}

/** The shuffle-path PIP join must produce exactly the broadcast path's
  * rows (the two physical strategies share logical semantics) and, on
  * generated inputs at the sphere's hard places, a brute scan's rows.
  */
class ShuffleJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("shuffle-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The same join inputs as Loops and as Polygons with holes. */
  private val regionSets: Seq[(String, Seq[(Long, graft.core.S2Region)])] = Seq(
    "city loops" -> graft.gate.GeoGate.cityPolygons,
    "city annuli" -> graft.gate.GeoGate.cityAnnuli)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("url", "poly_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("shuffle path equals broadcast path row-for-row") {
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    for ((name, polys) <- regionSets) {
      val broadcastRows = rows(SpatialJoin.pipJoin(spark, pages, polys))
      val shuffleRows = rows(ShuffleSpatialJoin.pipJoinLarge(spark, pages, polys))
      assert(broadcastRows.nonEmpty, name)
      assert(shuffleRows === broadcastRows, name)
    }
  }

  test("pipJoin chooses by covering cardinality and stays row-identical") {
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    def hasBroadcastProbe(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("covering_probe")

    for ((name, polys) <- regionSets) {
      val est = SpatialJoin.estimateBroadcastBytes(polys,
        SpatialJoin.polygonCoverings(polys))
      assert(est > 0, name)
      // generous budget: broadcast path
      val auto1 = SpatialJoin.pipJoin(spark, pages, polys)
      assert(hasBroadcastProbe(auto1), s"$name: small dim set must broadcast")
      // starved budget: shuffle path, identical rows
      val auto2 = withConf(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> (est - 1).toString) {
        SpatialJoin.pipJoin(spark, pages, polys)
      }
      assert(!hasBroadcastProbe(auto2), s"$name: over-budget dim set must not broadcast")
      assert(rows(auto1) === rows(auto2), name)
    }
  }

  test("shuffle path plans the candidate join as sort-merge, not broadcast") {
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.joins._
    // The 8 city loops' wire bytes (about 12 kB) fit the default 10 MB
    // threshold, so the regions broadcast; 1 kB forces the sort-merge join
    // on the region position.
    for ((threshold, broadcastRegions) <- Seq("10MB" -> true, "1KB" -> false))
      withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        val df = ShuffleSpatialJoin.pipJoinLarge(spark, pages,
          graft.gate.GeoGate.cityPolygons)
        df.collect() // finalize the adaptive plan
        var smj = 0
        var broadcastOnCell = 0
        var pointScans = 0
        var aggregates = 0
        val joinKeys = scala.collection.mutable.ArrayBuffer[String]()
        val geomJoinKeys = scala.collection.mutable.ArrayBuffer[String]()
        def keyed(j: BaseJoinExec, name: String) =
          (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == name))
        def walk(p: SparkPlan): Unit = {
          p match {
            case j: BaseJoinExec =>
              val keys = (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
              joinKeys ++= keys
              if (j.output.exists(_.name == "geom")) geomJoinKeys ++= keys
              j match {
                case _: SortMergeJoinExec => smj += 1
                case b: BroadcastHashJoinExec if keyed(b, "cell_lk") => broadcastOnCell += 1
                case _ =>
              }
            case _: FileSourceScanExec => pointScans += 1
            case _: HashAggregateExec => aggregates += 1
            case _ =>
          }
          p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: QueryStageExec => walk(q.plan)
            case other => other.children.foreach(walk)
          }
        }
        walk(df.queryExecution.executedPlan)
        val plan = df.queryExecution.executedPlan.toString.take(4000)
        assert(smj >= 1, s"$threshold: candidate join must be a sort-merge join")
        assert(broadcastOnCell === 0,
          s"$threshold: the dim side of the cell_lk join must never broadcast")
        assert(pointScans === 1, s"$threshold: the points must be scanned once\n$plan")
        assert(aggregates === 0, s"$threshold: the dim side must not aggregate\n$plan")
        assert(!joinKeys.contains("poly_id"), s"$threshold: no join may key on poly_id\n$plan")
        // geometry stays out of joins, except the region table's join on
        // position when the regions do not fit the broadcast threshold
        if (broadcastRegions) assert(geomJoinKeys.isEmpty, s"$threshold: $plan")
        else assert(geomJoinKeys.toSet === Set("pos"), s"$threshold: $plan")
      }
  }

  test("every PIP join entry point rejects a repeated region id") {
    // With two regions under one id, the broadcast refine's id lookup keeps
    // only the last region, so the first region's boundary candidates were
    // refined against the other geometry.
    import spark.implicits._
    val pages = Seq(("p", 40.7, -74.0)).toDF("url", "lat", "lng")
    val polys = graft.gate.GeoGate.cityPolygons
    val clash = polys.updated(3, (5L, polys(3)._2))
    for ((name, join) <- Seq[(String, () => Any)](
        "pipJoin" -> (() => SpatialJoin.pipJoin(spark, pages, clash)),
        "pipJoinLarge" -> (() => ShuffleSpatialJoin.pipJoinLarge(spark, pages, clash)))) {
      val e = intercept[IllegalArgumentException](join())
      assert(e.getMessage.contains("region id 5 "), s"$name: ${e.getMessage}")
    }
  }

  test("level choice shrinks with tighter row budgets") {
    val coverer = graft.core.RegionCoverer(maxCells = 32)
    val covs = graft.gate.GeoGate.cityPolygons.map(p => coverer.covering(p._2))
    val fine = ShuffleSpatialJoin.chooseLevel(covs, maxRows = 10000000L)
    val coarse = ShuffleSpatialJoin.chooseLevel(covs, maxRows = 2000L)
    assert(fine >= coarse)
    assert(coarse >= 4 && fine <= 14)
  }

  test("sequential joins reusing poly ids with different geometry stay correct") {
    // Regression: an id-keyed executor decode cache would return job 1's
    // polygon for job 2's id 0. Each join resolves its regions from its
    // own region table.
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    val polysA = graft.gate.GeoGate.cityPolygons.take(2)
    // same ids (0, 1), different geometry: swap the two loops
    val polysB = Seq((0L, polysA(1)._2), (1L, polysA(0)._2))

    def run(polys: Seq[(Long, graft.core.Loop)]) =
      rows(ShuffleSpatialJoin.pipJoinLarge(spark, pages, polys))

    val a = run(polysA)
    val b = run(polysB)
    assert(a.nonEmpty)
    // identical pairs modulo the id swap, NOT identical pairs
    val bSwappedBack = b.map { case (u, id) => (u, 1L - id) }
    assert(bSwappedBack === a)
    assert(b !== a)
  }

  test("dim table flags only truly-interior level-k cells as interior") {
    val polys = graft.gate.GeoGate.cityPolygons.take(2)
    val level = 10
    val dim = ShuffleSpatialJoin.polygonDimTable(spark, polys, level)
    val rows = dim.collect()
    val loops = polys.toMap
    for (r <- rows; if r.getBoolean(2)) {
      val cell = graft.core.Cell.fromId(r.getLong(0))
      // every interior-flagged cell must be fully inside its polygon
      assert(loops(r.getLong(1)).containsCell(cell),
        s"cell ${graft.core.CellId.toToken(cell.id)} flagged interior but not contained")
    }
  }

  test("points with a non-finite coordinate match no region on any PIP path") {
    import spark.implicits._
    import graft.core.{CellId, Earth, LatLng, Loop}
    // CellId encodes every non-finite point to the leaf at the corner of
    // face 2; a region around that corner holds it in an interior cell.
    val (cLat, cLng) = (35.26438968275466, 45.0)
    assert(CellId.fromLatLngDegrees(Double.NaN, 0) === 0x4000000000000001L)
    assert(CellId.fromLatLngDegrees(Double.PositiveInfinity, 0) === 0x4000000000000001L)
    val region = Seq((7L, Loop.regularLoop(LatLng.toPointDegrees(cLat, cLng),
      Earth.angleFromMeters(100000), 64)))
    val points = Seq(("nan-lat", Double.NaN, 0.0), ("nan-lng", 0.0, Double.NaN),
      ("nan-both", Double.NaN, Double.NaN), ("inf-lat", Double.PositiveInfinity, 0.0),
      ("centre", cLat, cLng)).toDF("url", "lat", "lng")
    val want = Set(("centre", 7L))
    assert(rows(SpatialJoin.pipJoin(spark, points, region)) === want, "pipJoin")
    assert(rows(ShuffleSpatialJoin.pipJoinLarge(spark, points, region)) === want,
      "pipJoinLarge")
  }

  // Differential property of pipJoinLarge: at fixed seeds it returns
  // exactly the (point, region) pairs a brute containsPoint scan finds,
  // under both region tables (the broadcast array and the sort-merge join
  // on position). Regions are star-shaped Loops and Polygons with holes at
  // the poles, on the antimeridian, on a face corner and anywhere; their
  // ids run opposite to their positions, so a refine that mixes the two up
  // picks the wrong region. Points weight the hard places: region
  // vertices, points on and beside edges, inside holes, the join level's
  // cell vertices, the poles, the antimeridian and non-finite coordinates.
  // Two region sets run back to back: one at a coarse join level, where
  // interior covering cells finer than the level roll up to cells that
  // need the refine, and one at the default level with coverings handed
  // over in id order rather than region order.

  private def deg(p: Vec3) =
    (LatLng.latitude(p) * LatLng.RadToDeg, LatLng.longitude(p) * LatLng.RadToDeg)

  /** Star-shaped loop CCW around c: regular vertices pulled toward c. */
  private def star(rng: scala.util.Random, c: Vec3, radius: Double, n: Int): Loop =
    Loop.fromPoints(Loop.regularLoop(c, radius, n).vertices.map { v =>
      val f = 0.55 + 0.45 * rng.nextDouble()
      (c * (1 - f) + v * f).normalize
    })

  private def regions(seed: Long, n: Int): Seq[(Long, S2Region)] = {
    val rng = new scala.util.Random(seed)
    val hard = Seq((89.7, 0.0), (-89.6, 40.0), (10.0, 180.0), (-35.0, -179.9),
      (35.26438968275466, 45.0), (0.0, 45.0))
    (0 until n).map { i =>
      val (lat, lng) =
        if (i < hard.size) hard(i)
        else (rng.nextDouble() * 170.0 - 85.0, rng.nextDouble() * 360.0 - 180.0)
      val c = LatLng.toPointDegrees(lat, lng)
      val radius = Earth.angleFromMeters(30000.0 + rng.nextDouble() * 170000.0)
      val vertices = 5 + rng.nextInt(20)
      val region: S2Region =
        if (i % 3 == 2) Polygon.fromLoops(Seq(Loop.regularLoop(c, radius, vertices),
          Loop.regularLoop(c, radius * 0.45, 7)))
        else star(rng, c, radius, vertices)
      ((n - 1 - i).toLong, region)
    }
  }

  private def loopsOf(r: S2Region): Seq[Loop] = r match {
    case l: Loop => Seq(l)
    case p: Polygon => p.loops.toSeq
  }

  private def points(seed: Long, regions: Seq[(Long, S2Region)],
                     level: Int): Seq[(Double, Double)] = {
    val rng = new scala.util.Random(seed)
    val onRegions = regions.flatMap { case (_, r) =>
      val loops = loopsOf(r)
      val shell = loops.head
      val c = shell.vertices.reduce(_ + _).normalize
      val edgePoints = loops.flatMap { l =>
        l.vertices.indices.flatMap { i =>
          val (a, b) = (l.vertex(i), l.vertex(i + 1))
          val t = rng.nextDouble()
          val on = (a * (1 - t) + b * t).normalize
          Seq(a, on, (on * 0.999 + c * 0.001).normalize, (on * 1.001 - c * 0.001).normalize)
        }
      }
      // uniform-ish scatter over 1.5x the shell's extent: interior, holes,
      // and the parts of covering cells outside the region
      val spread = shell.vertices.map(v => c.angle(v)).max * 1.5
      val scatter = Loop.regularLoop(c, spread, 64).vertices.toSeq.map { v =>
        val f = rng.nextDouble()
        (c * (1 - f) + v * f).normalize
      }
      val cellVertices = (c +: scatter.take(8)).flatMap { p =>
        val cell = graft.core.Cell.fromId(CellId.parent(CellId.fromPoint(p.x, p.y, p.z), level))
        (0 until 4).map(cell.vertex)
      }
      (edgePoints ++ scatter ++ cellVertices ++ Seq(c)).map(deg)
    }
    val poles = Seq((90.0, 0.0), (-90.0, 0.0), (90.0, 137.0), (89.99999, -20.0), (-89.99999, 75.0))
    val antimeridian = Seq(-60.0, -35.0, 0.0, 10.0, 10.5, 45.0).flatMap(lat =>
      Seq((lat, 180.0), (lat, -180.0), (lat, 179.99999), (lat, -179.99999)))
    val nonFinite = Seq((Double.NaN, 0.0), (0.0, Double.NaN), (Double.NaN, Double.NaN),
      (Double.PositiveInfinity, 0.0), (0.0, Double.NegativeInfinity),
      (35.26438968275466, Double.PositiveInfinity))
    onRegions ++ poles ++ antimeridian ++ nonFinite
  }

  private def brute(pts: Seq[(Double, Double)], regions: Seq[(Long, S2Region)]) =
    pts.zipWithIndex.flatMap { case ((lat, lng), i) =>
      if (lat.isNaN || lng.isNaN || lat.isInfinite || lng.isInfinite) Nil
      else {
        val p = LatLng.toPointDegrees(lat, lng)
        regions.collect { case (id, r) if r.containsPoint(p) => (i.toLong, id) }
      }
    }.toSet

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("pt", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("pipJoinLarge equals a brute containsPoint scan on both region tables") {
    import spark.implicits._
    val cases = Seq(
      // coarse level: a one-row budget yields the minimum level
      (71L, 1L, false),
      // default level, coverings handed over in id order
      (72L, 2000000L, true))
    for ((seed, maxDimRows, idOrder) <- cases) {
      val regs = regions(seed, 30)
      val coverings = SpatialJoin.polygonCoverings(regs)
      val level = ShuffleSpatialJoin.chooseLevel(coverings.map(_._2), maxDimRows)
      val pts = points(seed, regs, level)
      val want = brute(pts, regs)
      val df = pts.zipWithIndex.map { case ((lat, lng), i) => (i.toLong, lat, lng) }
        .toDF("pt", "lat", "lng")
      // the fixture reaches the cases it is for
      assert(want.size > 500, s"only ${want.size} matching pairs")
      if (maxDimRows == 1L)
        assert(coverings.exists(_._3.ids.exists(CellId.level(_) > level)),
          s"no interior covering cell finer than level $level")
      val handed = if (idOrder) coverings.sortBy(_._1) else coverings
      for (threshold <- Seq("10MB", "1KB")) withConf(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        val got = pairs(ShuffleSpatialJoin.pipJoinLarge(spark, df, regs,
          maxDimRows = maxDimRows, precomputed = Some(handed)))
        assert(got === want,
          s"level $level, threshold $threshold: missing ${(want -- got).take(5)}, " +
            s"extra ${(got -- want).take(5)}")
      }
    }
  }
}
