package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shuffle-path PIP join must produce exactly the broadcast path's
  * rows (the two physical strategies share logical semantics).
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

  test("pipJoinAuto chooses by covering cardinality and stays row-identical") {
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    def hasBroadcastProbe(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("covering_probe")

    for ((name, polys) <- regionSets) {
      val est = SpatialJoin.estimateBroadcastBytes(polys)
      assert(est > 0, name)
      // generous budget: broadcast path
      val auto1 = SpatialJoin.pipJoinAuto(spark, pages, polys)
      assert(hasBroadcastProbe(auto1), s"$name: small dim set must broadcast")
      // starved budget: shuffle path, identical rows
      val auto2 = SpatialJoin.pipJoinAuto(spark, pages, polys,
        broadcastBudgetBytes = est - 1)
      assert(!hasBroadcastProbe(auto2), s"$name: over-budget dim set must not broadcast")
      assert(rows(auto1) === rows(auto2), name)
    }
  }

  test("shuffle path plans the candidate join as sort-merge, not broadcast") {
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    val df = ShuffleSpatialJoin.pipJoinLarge(spark, pages,
      graft.gate.GeoGate.cityPolygons)
    df.collect() // finalize the adaptive plan
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.joins._
    var smj = 0
    var broadcastOnCell = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case j: SortMergeJoinExec =>
        smj += 1; j.children.foreach(walk)
      case j: BroadcastHashJoinExec =>
        // the per-polygon geometry join may broadcast (8 rows); the
        // cell_lk candidate join must not
        if (j.leftKeys.exists(_.toString.contains("cell_lk")) ||
            j.rightKeys.exists(_.toString.contains("cell_lk")))
          broadcastOnCell += 1
        j.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(smj >= 1, "candidate join must be a sort-merge join")
    assert(broadcastOnCell === 0,
      "the dim side of the cell_lk join must never broadcast")
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
    // polygon for job 2's id 0. The cache keys on geometry bytes.
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
    assert(rows(SpatialJoin.pipJoinAuto(spark, points, region)) === want, "pipJoinAuto")
  }
}
