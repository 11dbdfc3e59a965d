package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Codec

/** The overlay join against a brute all-pairs scan of the exact
  * Polygon predicates, through the list entry point and the DataFrame
  * path it wraps.
  */
class OverlayJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("overlay-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      .toSet

  test("overlay join equals a brute all-pairs scan on the overlay fixtures") {
    import spark.implicits._
    val pa = graft.gate.GeoGate.overlayPolysA
    val pb = graft.gate.GeoGate.overlayPolysB
    val brute = (for {
      (ai, a) <- pa
      (bi, b) <- pb
      if a.intersects(b)
    } yield (ai, bi, a.contains(b), b.contains(a))).toSet
    assert(brute.exists(r => r._3) && brute.exists(r => !r._3 && !r._4),
      "fixtures should hold both contained and merely overlapping pairs")

    assert(rows(OverlayJoin.polygonOverlapJoin(spark, pa, pb)) === brute)

    val aDf = pa.map { case (id, p) => (id, Codec.encodePolygon(p)) }
      .toDF("a_id", "geom")
    val bDf = pb.map { case (id, p) => (id, Codec.encodePolygon(p)) }
      .toDF("b_id", "geom")
    assert(rows(OverlayJoin.polygonOverlapJoinLarge(spark, aDf, bDf)) === brute)

    // covering rows must not carry geometry (the r1 dim-table lesson)
    val plan = OverlayJoin.polygonOverlapJoinLarge(spark, aDf, bDf)
      .queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
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
    val brute = (for {
      (ai, a) <- pa
      (bi, b) <- pb
      if a.intersects(b)
    } yield (ai, bi, a.contains(b), b.contains(a))).toSet
    graft.WithConf.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "1KB") {
      val df = OverlayJoin.polygonOverlapJoin(spark, pa, pb)
      assert(rows(df) === brute)
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
    import spark.implicits._
    // multi-loop polygons (holes) through encode -> shuffle -> decode
    import graft.core.{Earth, LatLng, Loop, Polygon}
    val annuli = graft.gate.GeoGate.cityAnnuli
    val aDf = annuli.map { case (id, p) => (id, Codec.encodePolygon(p)) }
      .toDF("a_id", "geom")
    // in-ring discs (center ~133 km out, radius 30 km: spans 103-163 km,
    // inside the 80-200 km annulus) and hole-straddling discs (center
    // ~67 km, spans 37-97 km: crosses the hole boundary)
    val discs = graft.sources.PagesSource.cities.zipWithIndex.flatMap {
      case ((lat, lng), i) =>
        def disc(dLat: Double) = Polygon.fromLoops(Seq(Loop.regularLoop(
          LatLng.toPointDegrees(lat + dLat, lng),
          Earth.angleFromMeters(30000), 24)))
        Seq((i.toLong * 2, Codec.encodePolygon(disc(1.2))),
          (i.toLong * 2 + 1, Codec.encodePolygon(disc(0.6))))
    }.toDF("b_id", "geom")
    val rows = OverlayJoin.polygonOverlapJoinLarge(spark, aDf, discs)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getBoolean(2), r.getBoolean(3))))
      .toMap
    for (i <- 0 until 8) {
      // in-ring disc: contained by its own annulus
      assert(rows.get((i.toLong, i.toLong * 2)).contains((true, false)),
        s"in-ring disc of city $i should be contained")
      // straddling disc: intersects but is not contained
      assert(rows.get((i.toLong, i.toLong * 2 + 1)).contains((false, false)),
        s"straddling disc of city $i should intersect only")
    }
  }
}
