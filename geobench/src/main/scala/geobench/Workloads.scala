package geobench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CellId, CellUnion, LatLng, Loop}
import graft.functions.S2
import graft.ops.{ShuffleSpatialJoin, SpatialJoin}

/** Order-independent digest of a set of (url, poly_id) rows. */
final case class Digest(rows: Long, sum: Long, xor: Long)

object Digest {
  private def h = xxhash64(col("url"), col("poly_id"))

  /** count, sum of the low 32 hash bits and xor of hashes over `keep` rows. */
  private def parts(keep: Column): Seq[Column] = Seq(
    count(when(keep, lit(1))),
    coalesce(sum(when(keep, h.bitwiseAND(lit(0xFFFFFFFFL)))), lit(0L)),
    coalesce(bit_xor(when(keep, h)), lit(0L)))

  private def read(r: Row, at: Int) = Digest(r.getLong(at), r.getLong(at + 1), r.getLong(at + 2))

  def of(pairs: DataFrame): Digest = {
    val p = parts(lit(true))
    read(pairs.agg(p.head, p.tail: _*).head(), 0)
  }

  /** One aggregate row: the digests of all rows, of the rows of regions the
    * brute scan checks and of those the other join path checks.
    */
  def aggregateChecked(pairs: DataFrame, brute: Column, cross: Column): DataFrame = {
    val p = parts(lit(true)) ++ parts(brute) ++ parts(cross)
    pairs.agg(p.head, p.tail: _*)
  }

  def readChecked(r: Row): Observed = Observed(read(r, 0), Some(read(r, 3)), Some(read(r, 6)))
}

/** What an iteration returns: its output's digest (only the row count
  * where the timed query just counts) and the digests on the regions the
  * brute scan and the other join path check.
  */
final case class Observed(full: Digest, bruteSample: Option[Digest], crossSample: Option[Digest])

/** A benchmark workload: the same seeded pages, a polygon set and one of
  * the engine's join paths.
  */
sealed trait Workload {
  def name: String
  def rows: Long
  def maxCells: Int
  def regions(seed: Long): Seq[Inputs.Region]

  /** (url, poly_id) through this workload's join path. */
  def pairs(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
            tracer: Tracer): DataFrame

  /** (url, poly_id) through the other join path, for the cross check on
    * the regions it is given.
    */
  def otherPairs(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
                 tracer: Tracer): Option[DataFrame]

  /** Whether the brute-force check scans this region. */
  def bruteSampled(regionId: Long): Boolean

  /** Whether the other join path checks this region. */
  def crossSampled(regionId: Long): Boolean = true

  def checked(polys: Seq[(Long, Loop)]): DataFrame => DataFrame = pairs => {
    def in(f: Long => Boolean) = col("poly_id").isin(polys.map(_._1).filter(f): _*)
    Digest.aggregateChecked(pairs, in(bruteSampled), in(crossSampled))
  }

  /** One timed iteration; returns what the output check compares. */
  def iterate(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
              tracer: Tracer): Observed = {
    val agg = tracer.span("driver.plan", "build DataFrame + executedPlan") {
      val d = checked(polys)(pairs(spark, pages, polys, tracer))
      d.queryExecution.executedPlan
      d
    }
    Digest.readChecked(agg.head())
  }

  /** Whether an iteration's result agrees with the verified output. */
  def agrees(observed: Observed, verified: Observed): Boolean = observed == verified
}

object Workloads {
  val MaxDimRows = 500000L

  def broadcast(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
                maxCells: Int): DataFrame =
    SpatialJoin.pipJoin(spark, pages, polys, maxCells = maxCells).select("url", "poly_id")

  def shuffle(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
              maxCells: Int, tracer: Tracer): DataFrame = {
    val cov = tracer.span("driver.cover", s"polygonCoveringsDistributed(${polys.size})") {
      SpatialJoin.polygonCoveringsDistributed(spark, polys, maxCells = maxCells)
    }
    ShuffleSpatialJoin.pipJoinLarge(spark, pages, polys, maxDimRows = MaxDimRows,
      precomputed = Some(cov)).select("url", "poly_id")
  }

  /** Headline: 8 city 64-gons, broadcast covering join, no shuffle. */
  object PipCity extends Workload {
    val name = "pip_city"
    val rows = 1000000L
    val maxCells = 32
    def regions(seed: Long): Seq[Inputs.Region] = Inputs.cityRegions
    def pairs(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)], tracer: Tracer) =
      broadcast(spark, pages, polys, maxCells)
    def otherPairs(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
                   tracer: Tracer): Option[DataFrame] = None
    def bruteSampled(regionId: Long): Boolean = true

    /** scan -> parse -> s2_cellid -> covering_probe -> count, drained
      * without an aggregate so the plan has no exchange.
      */
    override def iterate(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
                         tracer: Tracer): Observed = {
      val df = tracer.span("driver.plan", "build DataFrame + executedPlan") {
        val d = SpatialJoin.pipJoin(spark, pages, polys, maxCells = maxCells)
          .select(S2.cellId(col("lat"), col("lng")))
        d.queryExecution.executedPlan
        d
      }
      Observed(Digest(df.queryExecution.toRdd.count(), 0L, 0L), None, None)
    }
    override def agrees(observed: Observed, verified: Observed): Boolean =
      observed.full.rows == verified.full.rows
  }

  /** 10k seeded 16-gons through the sort-merge path: exchange, sort, the
    * geometry join and its decode cache; covering_probe is bypassed. The
    * broadcast path over every 10th polygon is the cross check: over all
    * 10k it would cover them serially, several seconds of every run.
    */
  object PipShuffle10k extends Workload {
    val name = "pip_shuffle_10k"
    val rows = 500000L
    val maxCells = 8
    def regions(seed: Long): Seq[Inputs.Region] = Inputs.manyRegions(10000, seed)
    def pairs(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)], tracer: Tracer) =
      shuffle(spark, pages, polys, maxCells, tracer)
    def otherPairs(spark: SparkSession, pages: DataFrame, polys: Seq[(Long, Loop)],
                   tracer: Tracer): Option[DataFrame] =
      Some(broadcast(spark, pages, polys, maxCells))
    def bruteSampled(regionId: Long): Boolean = regionId % 250 == 0
    override def crossSampled(regionId: Long): Boolean = regionId % 10 == 0
  }

  val all: Seq[Workload] = Seq(PipCity, PipShuffle10k)

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}

/** Untimed output checks. */
object Checks {

  /** (url, poly_id) for every sampled region whose loop contains the point,
    * by a brute Loop.containsPoint scan over the benchmark's own parse.
    */
  def brute(spark: SparkSession, pages: DataFrame, sample: Seq[Inputs.Region]): DataFrame = {
    val regions = sample.toArray
    val hits = udf { (lat: Double, lng: Double) =>
      val p = LatLng.toPointDegrees(lat, lng)
      val latR = lat * LatLng.DegToRad
      val lngR = lng * LatLng.DegToRad
      regions.iterator.filter { r =>
        LatLng.distance(latR, lngR, r.centerLat * LatLng.DegToRad,
          r.centerLng * LatLng.DegToRad) <= r.radiusRad * 1.001 + 1e-9 &&
          r.loop.containsPoint(p)
      }.map(_.id).toArray
    }
    Inputs.checkLatLng(pages)
      .select(col("url"), explode(hits(col("lat"), col("lng"))).as("poly_id"))
  }

  final case class Outcome(ok: Boolean, verified: Observed, detail: String)

  /** Compare the workload's output with the brute scan on the sampled
    * regions and, where there is one, with the other join path. The
    * output is an iteration's, when the iteration digests it, or else is
    * computed here.
    */
  def run(spark: SparkSession, w: Workload, pages: DataFrame, engineInput: DataFrame,
          regions: Seq[Inputs.Region], observed: Option[Observed], tracer: Tracer): Outcome = {
    val polys = Inputs.loops(regions)
    val own = observed.filter(_.bruteSample.isDefined).getOrElse(Digest.readChecked(
      w.checked(polys)(w.pairs(spark, engineInput, polys, tracer)).head()))
    val bruteSample = Digest.of(brute(spark, pages, regions.filter(r => w.bruteSampled(r.id))))
    val other = w.otherPairs(spark, engineInput, polys.filter(p => w.crossSampled(p._1)), tracer)
      .map(Digest.of)
    compare(own, bruteSample, other)
  }

  def compare(own: Observed, bruteSample: Digest, other: Option[Digest]): Outcome = {
    val bruteOk = own.bruteSample.contains(bruteSample) && bruteSample.rows > 0
    val otherOk = other.forall(o => own.crossSample.contains(o) && o.rows > 0)
    Outcome(bruteOk && otherOk, own,
      s"own=${own.full} ownBrute=${own.bruteSample.getOrElse("-")} brute=$bruteSample " +
        s"ownCross=${own.crossSample.getOrElse("-")} other=${other.getOrElse("-")}")
  }
}

/** Deterministic work counts and in-JVM kernel timings on the workload's
  * own points and polygons.
  */
object Kernels {
  final case class Sample(lat: Array[Double], lng: Array[Double]) {
    def size: Int = lat.length
  }

  /** Every `stride`-th page by id, parsed by the benchmark, in id order. */
  def sample(pages: DataFrame, stride: Long): Sample = {
    val rows = Inputs.checkLatLng(pages)
      .withColumn("id", substring_index(col("url"), "/", -1).cast("long"))
      .filter(col("id") % stride === 0)
      .orderBy("id").select("lat", "lng").collect()
    Sample(rows.map(_.getDouble(0)), rows.map(_.getDouble(1)))
  }

  /** Counts that must repeat exactly for a fixed seed. */
  final case class Counts(points: Long, candidates: Long, interiorHits: Long,
                          refines: Long, refineMatches: Long, outside: Long)

  /** Points sampled for the in-JVM kernels. */
  val SamplePoints = 100000L

  /** The kernels' inputs and the broadcast path's counts on the sample;
    * the refine work list is (region, point index) per boundary candidate.
    */
  final case class Prepared(sample: Sample, leaves: Array[Long],
                            covs: Seq[(Long, CellUnion, CellUnion)], coverS: Double,
                            index: SpatialJoin.CoveringIndex, buildS: Double, counts: Counts,
                            refRid: Array[Long], refPt: Array[Int])

  def prepare(pages: DataFrame, polys: Seq[(Long, Loop)], maxCells: Int,
              stride: Long): Prepared = {
    val s = sample(pages, stride)
    val lv = leaves(s)
    val t0 = System.nanoTime()
    val covs = SpatialJoin.polygonCoverings(polys, maxCells)
    val t1 = System.nanoTime()
    val index = SpatialJoin.CoveringIndex.build(covs)
    val t2 = System.nanoTime()
    val (counts, rid, pt) = probeCounts(index, lv, s, polys.toMap)
    Prepared(s, lv, covs, (t1 - t0) / 1e9, index, (t2 - t1) / 1e9, counts, rid, pt)
  }

  /** Every deterministic count a traced run reports. */
  def counts(k: Prepared, polys: Seq[(Long, Loop)], shuffle: (Int, Long, Long, Long),
             outputRows: Long): Seq[(String, Double)] = {
    val c = k.counts
    val pts = c.points.toDouble
    val (level, dimRows, candPairs, boundaryPairs) = shuffle
    Seq(
      "core.cover_cells_per_polygon" -> k.covs.map(_._2.size).sum.toDouble / polys.size,
      "ops.index_cells" -> indexEntries(k.covs).toDouble,
      "ops.index_levels" -> k.index.levels.length.toDouble,
      "ops.broadcast_est_bytes" -> SpatialJoin.estimateBroadcastBytes(polys, k.covs).toDouble,
      "ops.candidates_per_point" -> c.candidates / pts,
      "ops.refines_per_point" -> c.refines / pts,
      "ops.interior_hit_frac" -> c.interiorHits.toDouble / math.max(1L, c.candidates),
      "ops.refine_match_frac" -> c.refineMatches.toDouble / math.max(1L, c.refines),
      "ops.points_outside_covering_frac" -> c.outside / pts,
      "ops.join_level" -> level.toDouble, "ops.dim_rows" -> dimRows.toDouble,
      "ops.candidate_pairs" -> candPairs.toDouble, "ops.boundary_pairs" -> boundaryPairs.toDouble,
      "ops.match_frac" -> outputRows.toDouble / math.max(1L, candPairs))
  }

  /** Time per item in ns of `body` over `n` items, median of `passes`. */
  def nsPer(n: Int, passes: Int)(body: => Unit): Double = {
    val t = (0 until passes).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    }.sorted
    t(t.size / 2) / math.max(1, n)
  }

  /** Replays covering_probe's candidate walk on the sample: the counts
    * and the refine work list (region, point index).
    */
  def probeCounts(idx: SpatialJoin.CoveringIndex, leaves: Array[Long],
                  s: Sample, loops: Map[Long, Loop]): (Counts, Array[Long], Array[Int]) = {
    var candidates, interior, refines, matches, outside = 0L
    val refRid = Array.newBuilder[Long]
    val refPt = Array.newBuilder[Int]
    var i = 0
    while (i < leaves.length) {
      val cands = idx.candidates(leaves(i))
      if (cands.isEmpty) outside += 1
      val seen = scala.collection.mutable.Set[Long]()
      cands.foreach { c =>
        val rid = c >> 1
        if (seen.add(rid)) {
          candidates += 1
          if ((c & 1L) == 1L) interior += 1
          else {
            refines += 1
            refRid += rid; refPt += i
            if (loops(rid).containsPoint(LatLng.toPointDegrees(s.lat(i), s.lng(i)))) matches += 1
          }
        }
      }
      i += 1
    }
    (Counts(leaves.length, candidates, interior, refines, matches, outside),
      refRid.result(), refPt.result())
  }

  def leaves(s: Sample): Array[Long] =
    Array.tabulate(s.size)(i => CellId.fromLatLngDegrees(s.lat(i), s.lng(i)))

  def indexEntries(covs: Seq[(Long, CellUnion, CellUnion)]): Long =
    covs.iterator.map { case (_, c, ic) => ic.size.toLong + c.difference(ic).size }.sum

  /** The shuffle path's dimension and candidate counts. */
  def shuffleCounts(spark: SparkSession, engineInput: DataFrame, polys: Seq[(Long, Loop)],
                    covs: Seq[(Long, CellUnion, CellUnion)]): (Int, Long, Long, Long) = {
    val level = ShuffleSpatialJoin.chooseLevel(covs.map(_._2), Workloads.MaxDimRows)
    val dim = ShuffleSpatialJoin.polygonDimTable(spark, polys, level, precomputed = Some(covs))
    val dimRows = dim.count()
    val pts = engineInput.withColumn("cell_lk",
      S2.parent(S2.cellId(col("lat"), col("lng")), lit(level)))
    val split = pts.join(dim, "cell_lk").groupBy("is_interior").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    (level, dimRows, split.values.sum, split.getOrElse(false, 0L))
  }
}
