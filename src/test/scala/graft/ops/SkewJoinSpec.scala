package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew rehearsal for the shuffle-path PIP join (the north rule's
  * hot-cell claim, previously untested): a fixture with >=50% of points
  * in ONE join-level cell must (a) actually engage AQE's skew-join split
  * on the candidate sort-merge join and (b) still produce exactly the
  * broadcast path's rows.
  *
  * The AQE skew thresholds are scaled down to the fixture (at 100 TB the
  * hot cell's shuffle partition crosses the 256 MB default naturally; at
  * 300k rows it is ~10 MB, so the rehearsal lowers the thresholds to keep
  * the TRIGGERING MECHANISM — map-output size stats vs threshold+median
  * factor — identical to what production hits).
  */
class SkewJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("skew-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withSkewConf[T](body: => T): T = graft.WithConf.withConf(spark,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512KB",
    // keep AQE from folding the 4 shuffle partitions into 1 before the
    // skew detector sees them
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  private lazy val skewedPages = {
    val df = graft.sources.PagesSource.withLatLng(
      graft.sources.PagesSource.generateSkewed(spark, 300000L, hotFrac = 0.55))
      .select("url", "lat", "lng")
    df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    df.count()
    df
  }

  test("skewed fixture really concentrates >=50% of rows in one join cell") {
    import graft.functions.S2
    val polys = graft.gate.GeoGate.cityPolygons
    val covs = SpatialJoin.polygonCoverings(polys).map(_._2)
    val level = ShuffleSpatialJoin.chooseLevel(covs)
    val counts = skewedPages
      .groupBy(S2.parent(S2.cellId(col("lat"), col("lng")), lit(level)).as("c"))
      .count().orderBy(desc("count")).limit(2).collect()
    val total = skewedPages.count()
    assert(counts.head.getLong(1).toDouble / total >= 0.5,
      s"hot cell holds ${counts.head.getLong(1)} of $total rows at level $level")
  }

  test("AQE skew-join split engages on the hot cell") {
    withSkewConf {
      val df = ShuffleSpatialJoin.pipJoinLarge(spark, skewedPages,
        graft.gate.GeoGate.cityPolygons)
      df.collect() // finalize THIS df's adaptive plan (count() would
                   // execute a different QueryExecution)
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive._
      import org.apache.spark.sql.execution.joins._
      var skewJoins = 0
      var smjs = 0
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case j: SortMergeJoinExec =>
          smjs += 1
          if (j.isSkewJoin) skewJoins += 1
          j.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(smjs >= 1, "candidate join must stay sort-merge under AQE")
      assert(skewJoins >= 1,
        s"AQE must split the hot-cell partition (final plan:\n" +
          s"${df.queryExecution.executedPlan.toString.take(4000)})")
    }
  }

  test("skew-split output is row-identical to the broadcast path") {
    withSkewConf {
      val shuffleRows = ShuffleSpatialJoin.pipJoinLarge(spark, skewedPages,
        graft.gate.GeoGate.cityPolygons)
        .select("url", "poly_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val broadcastRows = SpatialJoin.pipJoin(spark, skewedPages,
        graft.gate.GeoGate.cityPolygons)
        .select("url", "poly_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(broadcastRows.nonEmpty)
      // the hot disc sits inside the New York polygon, so the hot rows
      // must all surface as matches on both paths
      assert(shuffleRows === broadcastRows)
      assert(shuffleRows.size > 150000, "hot rows must match the NY polygon")
    }
  }
}
