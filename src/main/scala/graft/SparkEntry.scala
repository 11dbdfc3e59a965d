package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Earth, LatLng, Loop}
import graft.ops.SpatialJoin
import graft.sources.PagesSource

/** Driver contract: one query per implemented operator (SURVEY.md §2), with
  * DuckDB-checkable oracle SQL wherever the semantics are SQL-expressible.
  *
  * Spatial queries run over the deterministic pages fixture
  * (sources/PagesSource.scala); the oracle reads the same parquet bytes, so
  * set-equality of output rows is a true correctness check.
  */
object SparkEntry {

  /** The pages fixture parquet path used by the DuckDB oracle (driver runs
    * correctness at sf0.01 => n=20000 per TESTDATA.md).
    */
  private val oraclePages = "/root/repo/work/pages_n20000.parquet/*.parquet"
  private val oracleSf = "/root/testdata/sf0.01"

  /** Memory-sink names must be unique per streaming run within a JVM
    * (Verify and Bench both call q_stream_neardup in one session).
    */
  private val streamRunCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The MinHash fixture corpus + planted near-dup copies, id-sorted.
    * doc_id < 500 is the FULL corpus at the oracle scale (sf0.01); at
    * larger SFs it bounds the driver-side feed — the streaming queries
    * prove the surface's semantics, not its throughput (StreamingSpec
    * covers state-size/eviction bounds).
    */
  private def streamCorpus(s: SparkSession, dir: String): Array[(Long, String)] = {
    val base = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    (base ++ base.map { case (id, t) =>
      (id + 100000L, t + " graftdupmarker")
    }).sortBy(_._1)
  }

  /** Drive the stateful streaming near-dup screen over deterministic
    * MemoryStream micro-batches and return the distinct'd pair sink
    * (the at-least-once emission made idempotent by pair identity).
    */
  private def runStreamNearDups(s: SparkSession,
      batches: Seq[Seq[(java.sql.Timestamp, Long, String)]]): DataFrame = {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String)]
    val hits = graft.streaming.StreamingCells.streamingNearDups(
      mem.toDF().toDF("ts", "doc_id", "text"))
    val qname = s"q_stream_${streamRunCounter.incrementAndGet()}"
    // Fixture-sized feeds: 32 shuffle partitions would be ~all
    // empty-task dispatch overhead per stateful stage. Partition count
    // affects parallelism only (per-bucket processing is
    // order-canonicalized), so pin it low; restore only AFTER stop()
    // (restoring right after start() races micro-batch planning).
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val query = hits.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try batches.foreach { b => mem.addData(b); query.processAllAvailable() }
      finally query.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
    // Collect the (small, distinct'd) pair set eagerly and DROP the memory
    // sink's temp view: leaving one uniquely-named sink per invocation
    // leaked every emitted row into driver memory for the session lifetime.
    val out = s.table(qname).select(col("a_id"), col("b_id"), col("jaccard"))
      .distinct()
    val rows = out.collect()
    s.catalog.dropTempView(qname)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Fixed work dir for a query's scratch output, wiped on every call:
    * bounded disk across repeated verify/bench invocations (a fresh temp
    * dir per call grew without bound), and a clean slate for queries whose
    * semantics need one (checkpoint resume must not see a stale manifest).
    */
  private def freshWorkDir(name: String): String = {
    val p = java.nio.file.Paths.get(s"/root/repo/work/$name")
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Fixed, fixture-keyed path where q_tile_covering emits its covering
    * cells as (face, leaf-ij box) rows, so the static oracle SQL can read
    * them back and re-derive the audit booleans in pure SQL.
    */
  def tileCoveringCellsPath(dir: String): String =
    s"/root/repo/work/tile_cov_cells_n${PagesSource.rowsForScale(dir)}.parquet"

  /** The embedding near-dup fixture: the first 500 corpus vectors (as
    * doubles) plus planted perturbed copies at vec_id + 100000 (even dims
    * scaled by 1.02, odd by 0.98 — cosine ~0.9996 with the original).
    * Shared by the exact cartesian (q_embed_neardup) and the LSH-bucketed
    * scale path (q_embed_neardup_lsh), which are gated against the same
    * oracle.
    */
  private def embedNearDupInput(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"))
    val planted = emb.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(CASE WHEN i % 2 = 0 THEN CAST(x AS DOUBLE) * 1.02 ELSE CAST(x AS DOUBLE) * 0.98 END AS DOUBLE))")
        .as("embedding"))
    emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .unionByName(planted)
  }

  /** Geocoded pages for the given scale dir. */
  private def pages(spark: SparkSession, sfDir: String): DataFrame = {
    val path = PagesSource.pagesParquet(spark, sfDir)
    PagesSource.withLatLng(spark.read.parquet(path))
  }

  /** The 8 city admin polygons: regular 64-gons, radius 25..400 km
    * (FIXTURES.md §2). Deterministic given the fixed city centers.
    */
  def cityPolygons: Seq[(Long, Loop)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      val radiusMeters = 25000.0 * (1 << (i % 5)) // 25,50,100,200,400 km
      (i.toLong,
        Loop.regularLoop(LatLng.toPointDegrees(lat, lng),
          Earth.angleFromMeters(radiusMeters), 64))
    }

  /** SQL oracle predicate for convex-polygon PIP: point strictly inside iff
    * every edge normal has positive dot product with the point. The edge
    * normals are baked into the SQL as double literals, so DuckDB checks
    * the same geometry without any S2 code.
    */
  private def convexPipSql(loop: Loop): String = {
    val n = loop.numVertices
    val terms = (0 until n).map { i =>
      val a = loop.vertex(i)
      val b = loop.vertex(i + 1)
      val nrm = a.cross(b)
      f"(${nrm.x}%.17g*px + ${nrm.y}%.17g*py + ${nrm.z}%.17g*pz > 0)"
    }
    terms.mkString("(", " AND ", ")")
  }

  private val parseGeoSqlLat =
    "CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 1) AS DOUBLE)"
  private val parseGeoSqlLng =
    "CAST(regexp_extract(text, 'geo:(-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 2) AS DOUBLE)"

  /** Common oracle CTE: pages with parsed lat/lng and unit vector. */
  private def pagesCte: String =
    s"""WITH pages AS (
       |  SELECT url, text,
       |    $parseGeoSqlLat AS lat,
       |    $parseGeoSqlLng AS lng
       |  FROM read_parquet('$oraclePages')
       |), pts AS (
       |  SELECT url, lat, lng,
       |    cos(radians(lng))*cos(radians(lat)) AS px,
       |    sin(radians(lng))*cos(radians(lat)) AS py,
       |    sin(radians(lat)) AS pz
       |  FROM pages
       |)""".stripMargin

  /** Annulus (ring) polygons: 200 km shell with an 80 km hole, both
    * regular 64-gons; exercises multi-loop parity containment.
    */
  def cityAnnuli: Seq[(Long, graft.core.Polygon)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      val c = LatLng.toPointDegrees(lat, lng)
      val shell = Loop.regularLoop(c, Earth.angleFromMeters(200000), 64)
      val hole = Loop.regularLoop(c, Earth.angleFromMeters(80000), 64)
      (i.toLong, graft.core.Polygon.fromLoops(Seq(shell, hole)))
    }

  /** Overlay fixture set A: convex regular 24-gons around the cities with
    * growing radii. Convexity makes every pairwise relation expressible
    * in SQL from baked vertex/edge-normal literals; radii and offsets are
    * chosen so every pair has km-scale margins from the contain/overlap/
    * disjoint decision boundaries.
    */
  def overlayPolysA: Seq[(Long, graft.core.Polygon)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      (i.toLong, graft.core.Polygon.fromLoops(Seq(
        Loop.regularLoop(LatLng.toPointDegrees(lat, lng),
          Earth.angleFromMeters((50.0 + 30.0 * i) * 1000), 24))))
    }

  /** Overlay fixture set B: small 24-gons offset north of each city
    * (contained by the bigger A polys, overlapping the smallest) plus
    * four disjoint polygons shifted 5 degrees east.
    */
  def overlayPolysB: Seq[(Long, graft.core.Polygon)] = {
    val near = PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      (i.toLong, graft.core.Polygon.fromLoops(Seq(
        Loop.regularLoop(LatLng.toPointDegrees(lat + 0.3, lng),
          Earth.angleFromMeters(30000), 24))))
    }
    val far = (0 until 4).map { i =>
      val (lat, lng) = PagesSource.cities(i)
      ((8 + i).toLong, graft.core.Polygon.fromLoops(Seq(
        Loop.regularLoop(LatLng.toPointDegrees(lat, lng + 5.0),
          Earth.angleFromMeters(60000), 24))))
    }
    near ++ far
  }

  /** Dimension-scale PIP fixture: 10,000 deterministic convex 16-gons
    * (2-15 km radius) scattered within +-3 degrees of the 8 city centers —
    * far past the broadcast budget, so the shuffle path is the only plan.
    * Radii/spread are sized so the full join emits ~300k rows at sf0.1
    * (enough to exercise every path, not so dense that the sweep is
    * dominated by writing match rows). Every 250th polygon is the oracle
    * sample (40 polygons whose edge normals are feasible to bake into
    * convex SQL).
    */
  lazy val tenKPolys: Seq[(Long, Loop)] = {
    val rng = new scala.util.Random(777)
    (0 until 10000).map { i =>
      val (cLat, cLng) = PagesSource.cities(i % 8)
      val lat = cLat + (rng.nextDouble() * 6 - 3)
      val lng = cLng + (rng.nextDouble() * 6 - 3)
      val radius = 2000.0 + rng.nextDouble() * 13000.0
      (i.toLong, Loop.regularLoop(LatLng.toPointDegrees(lat, lng),
        Earth.angleFromMeters(radius), 16))
    }
  }

  /** Large-polygon PIP fixture: a 4096-vertex regular loop (300 km around
    * New York) — forces the indexed refine path (>32 vertices).
    */
  def coastLoop: Loop = Loop.regularLoop(
    LatLng.toPointDegrees(40.7128, -74.0060),
    Earth.angleFromMeters(300000), 4096)

  /** Deterministic trajectory fixtures for the edge-kNN query: 12 chains
    * of 5 vertices seeded from the city list.
    */
  def trajectoryLines: Seq[(Long, graft.core.Polyline)] =
    (0 until 12).map { i =>
      val (cLat, cLng) = PagesSource.cities(i % 8)
      val rng = new scala.util.Random(1000 + i)
      var lat = cLat + rng.nextDouble() * 2 - 1
      var lng = cLng + rng.nextDouble() * 2 - 1
      val pts = Seq.fill(5) {
        lat += (rng.nextDouble() - 0.5) * 0.8
        lng += (rng.nextDouble() - 0.5) * 0.8
        (lat, lng)
      }
      (i.toLong, graft.core.Polyline.fromLatLngsDegrees(pts))
    }

  /** City-center rectangles for the rect join (3x2 degrees, no wrap). */
  def cityRects: Seq[(Long, Double, Double, Double, Double)] =
    PagesSource.cities.zipWithIndex.map { case ((lat, lng), i) =>
      (i.toLong, lat - 1.0, lng - 1.5, lat + 1.0, lng + 1.5)
    }

  // ---------------------------------------------------------------------

  def entry(spark: SparkSession): DataFrame =
    queries("q_pip_city")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Covering join + exact convex-PIP refine over the skewed pages table.
    "q_pip_city" -> ((s, dir) => {
      SpatialJoin.pipJoin(s, pages(s, dir), cityPolygons)
        .select(col("url"), col("poly_id"))
    }),

    // CHECKPOINT/RESUME under the hard gate: the same PIP join executed
    // as resumable Hilbert-range chunks with a simulated crash after 3
    // of 6 chunks; the second invocation resumes from the manifest (the
    // 3 completed chunks must be skipped, the rest processed) and the
    // union of chunk outputs must hash-equal q_pip_city's convex-SQL
    // oracle — proving the chunk ranges partition the cell line exactly
    // and the crash/resume cycle neither loses nor duplicates a row.
    // (The fixture computes `cell` on the fly, so each chunk filter
    // re-scans the input; production inputs store the cell column via
    // CellClusteredWrite, making the same BETWEEN filter pushable and
    // file-skipping — that path is spec'd in CellClusteredWriteSpec.)
    "q_checkpoint" -> ((s, dir) => {
      import graft.functions.S2
      val input = pages(s, dir)
        .withColumn("cell", S2.cellId(col("lat"), col("lng")))
      val outDir = freshWorkDir("q_checkpoint_out")
      def go(failAfter: Int) = graft.pipeline.CheckpointedPipeline.run(
        s, input, "cell",
        chunk => SpatialJoin.pipJoin(s, chunk, cityPolygons)
          .select(col("url"), col("poly_id")),
        outDir, nChunks = 6, failAfterChunks = failAfter)
      val first = go(3)
      require(first.count(!_.skipped) == 3, s"crashed run: $first")
      val second = go(Int.MaxValue)
      require(second.count(_.skipped) == 3 && second.count(!_.skipped) == 3,
        s"resumed run: $second")
      graft.pipeline.CheckpointedPipeline.readOutput(s, outDir)
        .select(col("url"), col("poly_id"))
    }),

    // CHECKPOINT over the CLUSTERED layout — the production wiring of
    // q_checkpoint + q_clustered (VERDICT r4 "Next" #3): pages are first
    // written through CellClusteredWrite (cell stored, files range-
    // partitioned + sorted on the persisted unsigned cell_sort column),
    // then the same crash/resume chunked PIP pipeline runs over that
    // table with each chunk filter a plain BETWEEN on cell_sort — an
    // attribute predicate parquet min/max stats can act on. The pruning
    // is asserted PHYSICALLY: the crash phase runs with parquet stats
    // pruning disabled (the re-scan-everything baseline q_checkpoint
    // discloses), the resume phase with it enabled, and the records
    // emitted by the scans (inputMetrics.recordsRead — BELOW Spark's
    // residual filter, ABOVE the reader's row-group pruning) must drop
    // by >2x between the phases (each phase is 3 chunks x 2 scans; the
    // unpruned phase scans the whole table every time, the pruned phase
    // only each chunk's surviving row groups). Output = the union of
    // all 6 chunk outputs, gated by the same convex-SQL oracle as
    // q_pip_city.
    "q_checkpoint_clustered" -> ((s, dir) => {
      import graft.functions.S2
      import graft.pipeline.{CellClusteredWrite, CheckpointedPipeline}
      val input = pages(s, dir)
        .withColumn("cell", S2.cellId(col("lat"), col("lng")))
        .select(col("url"), col("lat"), col("lng"), col("cell"))
      val tablePath = "/root/repo/work/q_ckpt_clustered_tbl"
      CellClusteredWrite.writeClustered(input, "cell", tablePath, numFiles = 12)
      val back = s.read.parquet(tablePath)
      val outDir = freshWorkDir("q_checkpoint_clustered_out")
      def go(failAfter: Int, statsPruning: Boolean)
          : (Seq[CheckpointedPipeline.ChunkResult], Long) = {
        val saved = s.conf.get("spark.sql.parquet.filterPushdown")
        s.conf.set("spark.sql.parquet.filterPushdown", statsPruning.toString)
        try {
          var res: Seq[CheckpointedPipeline.ChunkResult] = Seq.empty
          val bytes = CheckpointedPipeline.scanRecordsDuring(s) {
            res = CheckpointedPipeline.run(s, back, "cell_sort",
              chunk => SpatialJoin.pipJoin(s, chunk, cityPolygons)
                .select(col("url"), col("poly_id")),
              outDir, nChunks = 6, failAfterChunks = failAfter,
              cellColUnsigned = true)
          }
          (res, bytes)
        } finally s.conf.set("spark.sql.parquet.filterPushdown", saved)
      }
      val (first, recsUnpruned) = go(3, statsPruning = false)
      require(first.count(!_.skipped) == 3, s"crashed run: $first")
      val (second, recsPruned) = go(Int.MaxValue, statsPruning = true)
      require(second.count(_.skipped) == 3 && second.count(!_.skipped) == 3,
        s"resumed run: $second")
      require(recsPruned * 2 < recsUnpruned,
        s"chunk BETWEEN did not prune: pruned=$recsPruned unpruned=$recsUnpruned")
      CheckpointedPipeline.readOutput(s, outDir)
        .select(col("url"), col("poly_id"))
    }),

    // HILBERT-CLUSTERED WRITE under the hard gate: pages are written
    // range-partitioned + sorted in unsigned cell order (the plain-
    // parquet analogue of Iceberg write.order-by), then read back
    // through a face-2 cell-range predicate. The oracle derives the
    // same url set from raw lat/lng via pure-projection SQL (the face
    // decode q_cell_agg's oracle already proves), so the row hash
    // proves the write/range-scan round trip loses and invents
    // nothing; the require() pins physical clustering — face-2 rows
    // (~24% of the fixture) must land in at most half the files, which
    // an unclustered layout (all rows in all files) fails.
    "q_clustered" -> ((s, dir) => {
      import graft.functions.S2
      import graft.core.CellId
      import graft.pipeline.CellClusteredWrite
      val input = pages(s, dir)
        .withColumn("cell", S2.cellId(col("lat"), col("lng")))
        .select(col("url"), col("cell"))
      // fixed path, not a temp dir: writeClustered overwrites, so repeated
      // verify/bench invocations reuse the slot instead of leaking dirs
      val outDir = s"/root/repo/work/q_clustered_out"
      CellClusteredWrite.writeClustered(input, "cell", outDir, numFiles = 16)
      val back = s.read.parquet(outDir)
      val sel = back.filter(CellClusteredWrite.cellRangePredicate(
        CellId.rangeMin(CellId.fromFace(2)), CellId.rangeMax(CellId.fromFace(2))))
      val filesWith = sel.select(input_file_name()).distinct().count()
      val filesTotal = back.select(input_file_name()).distinct().count()
      require(filesWith * 2 <= filesTotal,
        s"clustering broken: face-2 rows span $filesWith of $filesTotal files")
      sel.select(col("url"))
    }),

    // Covering join with lat/lng rectangle regions (coverer + interior
    // fast path; refine = closed rect containment).
    "q_rect_join" -> ((s, dir) => {
      SpatialJoin.rectJoin(s, pages(s, dir), cityRects)
        .select(col("url"), col("rect_id"))
    }),

    // Radius join: pages within 100 km of each city center (cap covering).
    "q_radius_100km" -> ((s, dir) => {
      val qs = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
        (i.toLong, la, ln, 100000.0)
      }
      SpatialJoin.radiusJoin(s, pages(s, dir), qs)
        .select(col("url"), col("query_id"))
    }),

    // Cell encode + coarse aggregation: pages per level-6 cell (the
    // "cells encoded" half of the throughput metric). The output keys the
    // histogram by the cell's (face, i, j) grid coordinates — the same
    // partition of the sphere as the level-6 cells, but derivable in SQL
    // via the quadratic ST projection, making the whole encode+decode
    // path oracle-checkable.
    "q_cell_agg" -> ((s, dir) => {
      import graft.functions.S2
      pages(s, dir)
        .withColumn("cell_id", S2.cellId(col("lat"), col("lng")))
        .withColumn("cell_l6", S2.parent(col("cell_id"), lit(6)))
        .groupBy("cell_l6").agg(count("*").as("n_pages"))
        .select(S2.face(col("cell_l6")).cast("long").as("face"),
          S2.cellI(col("cell_l6"), lit(6)).cast("long").as("i6"),
          S2.cellJ(col("cell_l6"), lit(6)).cast("long").as("j6"),
          col("n_pages"))
    }),

    // kNN join: 5 nearest pages to each city center via iterative
    // cap-radius expansion + exact chord re-rank.
    "q_knn5" -> ((s, dir) => {
      val qs = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
        (i.toLong, la, ln)
      }
      SpatialJoin.knnJoin(s, pages(s, dir), qs, k = 5, tieBreakCol = "url")
        .select(col("query_id"), col("url"))
    }),

    // Raster side of tiling: Web-Mercator zoom-12 tile assignment + count
    // per tile (vector->raster).
    "q_tile_z12" -> ((s, dir) => {
      import graft.functions.S2
      pages(s, dir)
        .withColumn("tx", S2.tileX(col("lng"), lit(12)))
        .withColumn("ty", S2.tileY(col("lat"), lit(12)))
        .groupBy("tx", "ty").agg(count("*").as("n_pages"))
        .filter(col("n_pages") >= 2)
        .select(col("tx"), col("ty"), col("n_pages"))
    }),

    // Vector side of tiling: distributed S2 cell covering of every
    // occupied zoom-12 tile (raster->vector), audited per-tile against
    // covering invariants the oracle can state independently: the
    // covering contains the leaf cells of 5 interior sample points of
    // the tile rect, is canonical, and respects maxCells. The tile set
    // itself is derived from the data (same derivation as q_tile_z12's
    // oracle), so the whole row is SQL-checkable.
    "q_tile_covering" -> ((s, dir) => {
      import graft.functions.S2
      import graft.core.{WebMercator, CellId, RegionCoverer}
      val tiles = pages(s, dir)
        .withColumn("tx", S2.tileX(col("lng"), lit(12)))
        .withColumn("ty", S2.tileY(col("lat"), lit(12)))
        .groupBy("tx", "ty").agg(count("*").as("n_pages"))
        .filter(col("n_pages") >= 2)
      val auditUdf = udf((tx: Long, ty: Long) => {
        val cu = WebMercator.tileCovering(tx, ty, 12, maxCells = 8)
        val r = WebMercator.tileRect(tx, ty, 12).rect
        val (latC, lngC) = (r.lat.center, r.lng.center)
        val dLat = (r.lat.hi - r.lat.lo) / 4
        val dLng = (r.lng.hi - r.lng.lo) / 4
        val samples = Seq((latC, lngC), (latC - dLat, lngC - dLng),
          (latC - dLat, lngC + dLng), (latC + dLat, lngC - dLng),
          (latC + dLat, lngC + dLng))
        val covered = samples.forall { case (la, ln) =>
          cu.containsCellId(CellId.fromLatLngDegrees(
            la * graft.core.LatLng.RadToDeg, ln * graft.core.LatLng.RadToDeg))
        }
        (covered, RegionCoverer(maxCells = 8).isCanonical(cu), cu.size <= 8)
      })
      // EMIT the covering cells as (face, leaf-ij box) rows at a fixed
      // path keyed by the fixture size: the static oracle SQL reads them
      // back and RE-DERIVES covers_samples (sample leaf in some box, via
      // pure-projection SQL that never touches the Hilbert curve),
      // canonical (pairwise box disjointness + no complete 4-sibling
      // quartet + the >maxCells shared-ancestor rule — the full
      // isCanonical semantics at minLevel=0/levelMod=1), and within_max
      // (count <= 8) instead of trusting the Spark booleans.
      // Spatial containment in (face, i, j) space is an axis-aligned box
      // test — the Hilbert order only matters for ID SORTING, and the
      // id -> ij decode is independently proven by q_snap_e2's oracle.
      val boxUdf = udf((tx: Long, ty: Long) => {
        WebMercator.tileCovering(tx, ty, 12, maxCells = 8).ids.map { id =>
          val level = CellId.level(id)
          // mask to the min-ij corner: the decoded leaf ij is a Hilbert
          // curve position, not the box corner (rangeMin's leaf can sit
          // at ANY of the 4 corners depending on orientation)
          val (f, i, j, _) = CellId.faceIJOrientation(id)
          val span = 1L << (CellId.MaxLevel - level)
          val iLo = i.toLong & ~(span - 1)
          val jLo = j.toLong & ~(span - 1)
          (f, iLo, iLo + span - 1, jLo, jLo + span - 1)
        }
      })
      // ALWAYS re-emit: a write-once guard would let the oracle audit a
      // stale box file — a regression in tileCovering/tileRect that
      // keeps per-tile counts unchanged would then self-consistently
      // pass (fresh Spark booleans vs old-but-valid boxes).
      // repartition(1) (not coalesce) keeps the per-tile covering
      // computation parallel upstream of the single-file write.
      tiles.withColumn("box", explode(boxUdf(col("tx"), col("ty"))))
        .select(col("tx"), col("ty"), col("box._1").as("f"),
          col("box._2").as("i_lo"), col("box._3").as("i_hi"),
          col("box._4").as("j_lo"), col("box._5").as("j_hi"))
        .repartition(1).write.mode("overwrite")
        .parquet(tileCoveringCellsPath(dir))
      tiles
        .withColumn("audit", auditUdf(col("tx"), col("ty")))
        .select(col("tx"), col("ty"), col("n_pages"),
          col("audit._1").as("covers_samples"),
          col("audit._2").as("canonical"),
          col("audit._3").as("within_max"))
    }),

    // Snap rounding through the CellIdSnapper (~1.2 km level-13 grid;
    // near-dup geocode dedup): snap each page to its cell center, then
    // emit collision groups decoded back to (face, i, j) — integers, so
    // the oracle's pure-projection SQL derivation is hash-exact. The
    // Spark path round-trips the Hilbert curve (encode in s2_snap_cell,
    // decode in s2_i/s2_j); the SQL path never touches it.
    "q_snap_e2" -> ((s, dir) => {
      import graft.functions.S2
      val level = 13
      pages(s, dir)
        .withColumn("snap_cell", S2.snapCell(col("lat"), col("lng"), lit(level)))
        .groupBy("snap_cell").agg(count("*").as("n"))
        .filter(col("n") >= 2)
        .select(S2.face(col("snap_cell")).cast("long").as("face"),
          S2.cellI(col("snap_cell"), lit(level)).cast("long").as("si"),
          S2.cellJ(col("snap_cell"), lit(level)).cast("long").as("sj"),
          col("n"))
    }),

    // Spatial aggregation: centroid of page unit vectors per zoom-8 tile
    // (the centroid Aggregator over a raster partition key).
    "q_tile_centroid" -> ((s, dir) => {
      import graft.functions.S2
      pages(s, dir)
        .withColumn("tx", S2.tileX(col("lng"), lit(8)))
        .withColumn("ty", S2.tileY(col("lat"), lit(8)))
        .withColumn("px", cos(radians(col("lng"))) * cos(radians(col("lat"))))
        .withColumn("py", sin(radians(col("lng"))) * cos(radians(col("lat"))))
        .withColumn("pz", sin(radians(col("lat"))))
        .groupBy("tx", "ty")
        .agg(count("*").as("n"), sum("px").as("sx"), sum("py").as("sy"),
          sum("pz").as("sz"))
        .filter(col("n") >= 5)
        .select(col("tx"), col("ty"), col("n"),
          round(degrees(atan2(col("sz"),
            sqrt(col("sx") * col("sx") + col("sy") * col("sy")))), 6).as("c_lat"),
          round(degrees(atan2(col("sy"), col("sx"))), 6).as("c_lng"))
    }),

    // Exact dedup on the documents table. The group key is sha2(text),
    // not the text itself: identical group semantics (collision odds at
    // 256 bits are negligible at any corpus size), but the exchange
    // carries 32-byte digests instead of whole documents — at 100 TB the
    // shuffle payload shrinks by the full corpus size.
    "q_dedup_exact" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min("doc_id").as("canonical_id"), count("*").as("dup_count"))
        .filter(col("dup_count") >= 1)
        .select(col("canonical_id"), col("dup_count"))
    }),

    // PIP against polygons WITH HOLES: annulus per city (shell 200 km,
    // hole 80 km) via parity containment.
    "q_pip_annulus" -> ((s, dir) => {
      SpatialJoin.pipJoin(s, pages(s, dir), cityAnnuli)
        .select(col("url"), col("poly_id"))
    }),

    // Polyline x polygon crossing join: city-pair trajectories vs city
    // polygons (rows-only; exact crossing semantics tested in
    // GeomOpsSpec/CrossingSpec).
    "q_crossing" -> ((s, dir) => {
      val cities = PagesSource.cities
      val lines = (for {
        i <- cities.indices
        j <- cities.indices if i < j
      } yield {
        val a = cities(i); val b = cities(j)
        ((i.toLong * 100 + j),
          graft.core.Polyline.fromLatLngsDegrees(Seq(a, b)))
      }).toSeq
      graft.ops.CrossingJoin.polylinePolygonJoin(s, lines, cityPolygons)
        .select(col("line_id"), col("poly_id"),
          col("crossings").cast("long").as("crossings"))
    }),

    // Polygon x polygon overlay join: covering-cell candidate pairing +
    // exact Loop/Polygon Contains/Intersects refine.
    "q_poly_overlap" -> ((s, dir) => {
      graft.ops.OverlayJoin.polygonOverlapJoin(s, overlayPolysA, overlayPolysB)
        .select(col("a_id"), col("b_id"),
          col("a_contains_b"), col("b_contains_a"))
    }),

    // Large-polygon PIP: 4096-vertex loop through the cell-bucketed edge
    // index (sublinear boundary refine).
    "q_pip_coast" -> ((s, dir) => {
      SpatialJoin.pipJoin(s, pages(s, dir), Seq((0L, coastLoop)), maxCells = 64)
        .select(col("url"), col("poly_id"))
    }),

    // Text analysis: token counts (whitespace + BPE-ish regex),
    // punctuation/stopword ratios, composite quality score.
    "q_text_stats" -> ((s, dir) => {
      import graft.ops.TextOps
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.qualityScore(docs, "text")
        .withColumn("n_tokens_bpe", TextOps.tokenCountBpe(col("text")))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_tokens_bpe").cast("long").as("n_tokens_bpe"),
          col("stop_ratio"), col("punct_ratio"), col("quality"))
    }),

    // Benchmark decontamination: corpus docs sharing any word 8-gram
    // with the benchmark set (doc_id % 50 == 0). Benchmark gram hashes
    // broadcast once; the corpus pass is a shuffle-free codegen map
    // (shingle + merge-count probe). Oracle re-derives the overlap from
    // raw gram strings (hash-vs-string equality absent collisions, the
    // dedup family's declared trade).
    "q_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 50 === 0)
      graft.ops.Decontaminate.flagOverlaps(s, docs, bench, n = 8)
    }),

    // Corpus curation / data mixing: per-(lang, source) cap via the
    // bounded top-k aggregate (O(k) state, map-side combine — never a
    // per-domain sort), then per-lang greedy token-budget fill. Quality
    // DOUBLEs are bit-equal across engines (proven by q_text_stats's
    // value hash), so selection order matches the SQL windows exactly.
    "q_quota_mix" -> ((s, dir) => {
      import graft.ops.{Curation, TextOps}
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val scored = TextOps.qualityScore(docs, "text")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens").cast("long").as("n_tokens"), col("quality"))
      val capped = Curation.capPerStratum(
        scored, Seq("lang", "source"), "quality", "doc_id", k = 2)
      Curation.quotaFill(capped, "lang", "n_tokens", "quality", "doc_id",
        budget = 1000L)
    }),

    // PII redaction: scrub emails/phones before training. PII is planted
    // deterministically on 2/3 of the docs (the other third must pass
    // through byte-identical); the value hash covers the full redacted
    // string plus independent per-kind match counts. Chained
    // regexp_replace builtins: codegen, shuffle-free, one scan pass.
    "q_pii_redact" -> ((s, dir) => {
      import graft.ops.TextOps
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 2, col("text")).otherwise(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).as("text"))
      planted.select(col("doc_id"),
        TextOps.redactPii(col("text")).as("redacted"),
        TextOps.emailCount(col("text")).as("n_emails"),
        TextOps.phoneCount(col("text")).as("n_phones"))
    }),

    // Deterministic stratified sampling: hash-gated Bernoulli per
    // language, seedless and parallelism-independent (same doc set on
    // any cluster layout — df.sample's per-partition RNG streams can't
    // promise that). Shuffle-free scan; the exposed bucket column makes
    // each acceptance auditable.
    "q_sample_stratified" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.ops.Curation.sampleDeterministic(docs,
        "concat(lang, ':', CAST(doc_id AS STRING))", "lang",
        Seq("en" -> 30, "de" -> 60, "fr" -> 60, "es" -> 80), defaultRate = 90)
        .select(col("doc_id"), col("lang"), col("sample_bucket"))
    }),

    // Token-budget shard assignment: contiguous training shards of ~500
    // tokens per language in doc_id order, via the deterministic-bucket
    // distributed prefix sum (per-bucket subtotals -> driver prefix ->
    // bounded within-bucket windows) — never a whole-stratum
    // single-reducer sort. bucketSize=128 exercises 4 buckets at sf0.01.
    "q_token_shards" -> ((s, dir) => {
      import graft.ops.{Curation, TextOps}
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCountWhitespace(col("text")).cast("long").as("n_tokens"))
      Curation.tokenShards(docs, "lang", "doc_id", "n_tokens",
        budget = 500L, bucketSize = 128L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("shard"))
    }),

    // CCNet-style quality buckets (head/middle/tail per language) via
    // EXACT integer quantiles: bucket decided by 100*count_le(score) >
    // pct*n in BIGINT — no float, no approximate percentile, and the
    // cumulative window runs over the per-lang DISTINCT SCORE DOMAIN
    // (bounded by construction), never over corpus rows.
    "q_quality_buckets" -> ((s, dir) => {
      import graft.ops.{Curation, TextOps}
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCountWhitespace(col("text")).cast("long").as("n_tokens"))
      Curation.quantileBuckets(docs, "lang", "n_tokens")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bucket"))
    }),

    // Per-domain crawl profile over the pages table: host extracted from
    // the url (same regex, Java and RE2 dialects agree), then one
    // map-side-combinable aggregation keyed on host — page count,
    // distinct langs, first/last crawl timestamp (as epoch seconds so
    // the hash is timezone-proof), total text bytes. The standard
    // curation precursor for per-domain caps and crawl scheduling.
    "q_domain_stats" -> ((s, dir) => {
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      p.select(
          regexp_extract(col("url"), "https?://([^/]+)/", 1).as("host"),
          col("lang"), col("warc_ts"), length(col("text")).as("n_chars"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("lang")).as("n_langs"),
          min(unix_timestamp(col("warc_ts"))).as("first_ts"),
          max(unix_timestamp(col("warc_ts"))).as("last_ts"),
          sum(col("n_chars")).cast("long").as("total_chars"))
    }),

    // URL canonicalization (the crawl-frontier / url-dedup precursor):
    // strip fragment, lowercase scheme+authority only, drop default
    // ports, drop tracking params + sort survivors, strip trailing
    // slashes. Variants are planted per page_id%4 (tracking params,
    // uppercased authority + :443 + fragment, uppercase path + trailing
    // slash) so every rule is exercised; the uppercase-path variant
    // proves case is preserved OUTSIDE the authority. Shuffle-free
    // codegen map stage — the scale shape is "free".
    "q_url_canon" -> ((s, dir) => {
      import graft.ops.UrlOps
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val pid = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val raw = when(pid % 4 === 1,
          concat(col("url"), lit("?utm_source=feed&b=2&a=1&ref=rss")))
        .when(pid % 4 === 2,
          concat(
            regexp_replace(
              regexp_replace(col("url"), "^https://example-", "HTTPS://EXAMPLE-"),
              "\\.test/", ".TEST:443/"),
            lit("#frag")))
        .when(pid % 4 === 3, concat(col("url"), lit("/EXTRA/")))
        .otherwise(col("url"))
      p.select(pid.as("page_id"), raw.as("raw_url"))
        .withColumn("canon_url", UrlOps.canonicalizeUrl(col("raw_url")))
        .withColumn("changed",
          (col("canon_url") =!= col("raw_url")).cast("long"))
    }),

    // Re-crawl dedup: pages whose page_id%10 >= 7 are planted as
    // re-crawls of their decade's base url; per url keep the LATEST
    // snapshot (max warc_ts) — the standard "one row per url, newest
    // capture wins" CC rule, and the shape the per-url byte-identical
    // text invariant rides on. One map-side-combinable aggregation
    // (count/max/max_by), no window, no second shuffle.
    "q_url_latest" -> ((s, dir) => {
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val pid = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val cid = when(pid % 10 >= 7, pid - pid % 10).otherwise(pid)
      val curl = concat(lit("https://example-"),
        (cid % 1000).cast("string"), lit(".test/page/"), cid.cast("string"))
      p.select(curl.as("url"), col("warc_ts"), col("text"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_crawls"),
          max(unix_timestamp(col("warc_ts"))).as("kept_ts"),
          max_by(col("text"), col("warc_ts")).as("text"))
    }),

    // Outlink extraction + link-graph in-degree: two anchors are planted
    // into each page's html (targets keyed by page_id*7 and *13 mod the
    // 1000-host universe), hrefs regex-extracted from the raw bytes,
    // exploded, and aggregated to per-target-host in-degree + distinct
    // source hosts. Explode then ONE aggregation: the link-graph edge
    // list never round-trips through the driver and the group-by is
    // map-side combinable on the 1000-key host space.
    "q_outlinks" -> ((s, dir) => {
      import graft.ops.UrlOps
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val pid = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val h = concat(decode(col("html"), "UTF-8"),
        lit("<a href=\"https://example-"), ((pid * 7) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"), lit("\">a</a>"),
        lit("<a href=\"https://example-"), ((pid * 13) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"), lit("\">b</a>"))
      p.select(
          regexp_extract(col("url"), UrlOps.hostRe, 1).as("src_host"),
          explode(regexp_extract_all(h, lit(UrlOps.hrefRe), lit(1))).as("href"))
        .select(col("src_host"),
          regexp_extract(col("href"), UrlOps.hostRe, 1).as("host"))
        .groupBy("host")
        .agg(count(lit(1)).as("in_links"),
          countDistinct(col("src_host")).as("n_src_hosts"))
    }),

    // Host-graph PageRank (the crawl-quality prior downstream of
    // q_outlinks): the same planted page-level edges collapse to the
    // weighted host graph, then 3 fixed-point integer PageRank
    // iterations (scale 1e9, damping 85/100, truncating div). Integer
    // arithmetic end-to-end makes the ranks bit-identical across
    // engines, parallelism and cluster layout — no double-summation
    // order anywhere — so the gate hash is exact, not tolerance-based.
    "q_host_rank" -> ((s, dir) => {
      import graft.ops.{LinkGraph, UrlOps}
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val pid = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val h = concat(decode(col("html"), "UTF-8"),
        lit("<a href=\"https://example-"), ((pid * 7) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"), lit("\">a</a>"),
        lit("<a href=\"https://example-"), ((pid * 13) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"), lit("\">b</a>"))
      val edges = p.select(
          regexp_extract(col("url"), UrlOps.hostRe, 1).as("src"),
          explode(regexp_extract_all(h, lit(UrlOps.hrefRe), lit(1))).as("href"))
        .select(col("src"),
          regexp_extract(col("href"), UrlOps.hostRe, 1).as("dst"))
      LinkGraph.hostRank(edges, iters = 3)
    }),

    // Per-document salient terms: top-3 tokens by (tf desc, df asc,
    // token asc) — the TF-IDF ranking with an all-integer order, so the
    // gate is exact (no idf logarithm to disagree across engines). Both
    // aggregations combine map-side; the top-k window partitions by
    // document (bounded by per-doc vocabulary, never a hot stratum).
    "q_keywords" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      graft.ops.TextOps.keywordsTfDf(docs, "doc_id", "text", k = 3)
    }),

    // Crawl-snapshot diff: snapshot B is planted from the pages table
    // (pid%7 deleted, pid%5 text-changed, pid%13 spawns an added /v2
    // url; deletion wins the %35 overlap by construction), then one
    // full-outer join on url over (url, sha) pairs ONLY — text never
    // shuffles — emitting just the added/deleted/changed rows. The
    // incremental-recompute feed: downstream stages process |delta|,
    // not the corpus.
    "q_crawl_delta" -> ((s, dir) => {
      import graft.ops.CrawlDelta
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
        .withColumn("_pid",
          regexp_extract(col("url"), "([0-9]+)$", 1).cast("long"))
      val prev = p.select(col("url"), col("text"))
      val nextB = p.filter(col("_pid") % 7 =!= 0)
        .select(col("url"),
          when(col("_pid") % 5 === 0, concat(col("text"), lit(" UPDATED")))
            .otherwise(col("text")).as("text"))
        .unionByName(p.filter(col("_pid") % 13 === 0)
          .select(concat(col("url"), lit("/v2")).as("url"), col("text")))
      CrawlDelta.crawlDelta(prev, nextB, "url", "text")
    }),

    // Per-language vocabulary head: top-20 tokens by (count desc, token
    // asc bytewise) per language — computed with the string-payload
    // bounded top-k aggregate, NOT a window: languages are few and
    // enormous (10^11 'en' tokens at deploy scale), exactly the hot
    // stratum a row_number() window would sort on one reducer. The
    // aggregate carries O(k) state through map-side combine; its
    // bytewise tie-break equals DuckDB's binary collation, so the SQL
    // window oracle reproduces the order exactly.
    "q_vocab_topk" -> ((s, dir) => {
      import graft.functions.TopKStrings
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val counts = docs.select(col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      counts.groupBy(col("lang"))
        .agg(TopKStrings.topKStrs(col("cnt"), col("token"), 20).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), col("col.str").as("token"),
          col("col.score").as("cnt"),
          (col("pos") + 1).cast("long").as("vrank"))
    }),

    // Inbound anchor-text profile per target host — the link-context
    // quality/title signal: anchor tags parsed from the raw html (two
    // planted per page, anchor text keyed off pid so hosts accumulate
    // repeated texts), then (host, anchor) counts and the top-3 anchors
    // per host via the bounded string top-k aggregate — target hosts
    // are hot keys (a popular site has 10^9 inlinks), so the window
    // alternative would single-reducer-sort exactly the hosts that
    // matter most.
    "q_anchor_text" -> ((s, dir) => {
      import graft.functions.TopKStrings
      import graft.ops.UrlOps
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val pid = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val h = concat(decode(col("html"), "UTF-8"),
        lit("<a href=\"https://example-"), ((pid * 7) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"),
        lit("\">click "), (pid % 17).cast("string"), lit("</a>"),
        lit("<a href=\"https://example-"), ((pid * 13) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"),
        lit("\">visit "), (pid % 11).cast("string"), lit("</a>"))
      val pairs = p.select(
          explode(regexp_extract_all(h, lit(UrlOps.anchorTagRe), lit(0)))
            .as("tag"))
        .select(
          regexp_extract(regexp_extract(col("tag"), UrlOps.anchorTagRe, 1),
            UrlOps.hostRe, 1).as("host"),
          regexp_extract(col("tag"), UrlOps.anchorTagRe, 2).as("anchor"))
      pairs.groupBy(col("host"), col("anchor"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .groupBy(col("host"))
        .agg(TopKStrings.topKStrs(col("cnt"), col("anchor"), 3).as("top"))
        .select(col("host"), posexplode(col("top")))
        .select(col("host"), col("col.str").as("anchor"),
          col("col.score").as("cnt"),
          (col("pos") + 1).cast("long").as("arank"))
    }),

    // Per-host crawl-rate time series: daily capture counts + a 3-day
    // RANGE-frame moving sum (true day-distance window, not a row
    // window — gap days don't smear the frame). Day = epoch div 86400,
    // all arithmetic integer, so the series is timezone-proof and
    // engine-exact. The window partitions by host ordered by day: a
    // host's partition is CALENDAR-bounded (days, not pages), so a
    // 10^9-page host costs the same window state as a small one —
    // the aggregation before it already collapsed pages to days
    // map-side.
    "q_crawl_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.ops.UrlOps
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val daily = p.select(
          regexp_extract(col("url"), UrlOps.hostRe, 1).as("host"),
          expr("unix_timestamp(warc_ts) div 86400").as("day"))
        .groupBy(col("host"), col("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val w = Window.partitionBy(col("host")).orderBy(col("day"))
        .rangeBetween(-2, 0)
      daily.withColumn("cnt_3d", sum(col("cnt")).over(w).cast("long"))
    }),

    // Unicode NFC normalization — the cleaning pass BEFORE any
    // hashing/dedup stage (composed vs decomposed variants of the same
    // visible text would otherwise hash apart). Native codegen
    // expression with an ASCII fast path; the oracle twin is DuckDB's
    // utf8proc-backed nfc_normalize evaluating the same UAX #15
    // algorithm. Planted arms: doc_id%3==0 appends a combining-acute
    // sequence (len shrinks on compose), %3==1 appends U+212B ANGSTROM
    // SIGN (singleton-composes to U+00C5, same length), %3==2 stays
    // pure ASCII and must come back unchanged. Shuffle-free scan.
    "q_text_norm" -> ((s, dir) => {
      import graft.functions.TextHash
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val raw = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" cafe\u0301")))
        .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" \u212B")))
        .otherwise(col("text"))
      docs.select(col("doc_id"), raw.as("raw_text"))
        .withColumn("norm_text", TextHash.nfcNormalize(col("raw_text")))
        .select(col("doc_id"), col("norm_text"),
          (col("norm_text") =!= col("raw_text")).cast("long").as("changed"),
          length(col("raw_text")).cast("long").as("len_raw"),
          length(col("norm_text")).cast("long").as("len_norm"))
    }),

    // Repetition-based quality filter (the Gopher-style "repetitious
    // text" rules): per-document duplicate-line fraction + duplicate
    // word 2-/3-gram fractions, thresholded to a keep decision. The
    // fixture has no natural newlines and natural dup-gram fractions of
    // at most 0.13/0.07 (measured), so repetition is planted: a
    // 4x-duplicated line on doc_id%4==0, a 16x-repeated phrase on
    // doc_id%4==1; the other half must pass untouched. Builtin
    // higher-order functions only — a shuffle-free codegen scan.
    "q_quality_repetition" -> ((s, dir) => {
      import graft.ops.TextOps
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), repeat(lit("\nbuy cheap widgets today"), 4)))
          .when(col("doc_id") % 4 === 1,
            concat(col("text"), lit(" "), repeat(lit("limited time offer "), 16)))
          .otherwise(col("text")).as("text"))
      TextOps.repetitionStats(planted, "text")
        .withColumn("keep", TextOps.repetitionKeep)
        .select("doc_id", "n_lines", "dup_line_frac", "dup_2gram_frac",
          "dup_3gram_frac", "keep")
    }),

    // Within-document duplicate-line removal (CCNet line dedup): first
    // occurrence survives, order preserved. Plants: %4==0 appends the
    // same line 4x (one survives), %4==1 appends interleaved duplicate
    // lines (alpha/beta each survive once, in first-seen order).
    // Shuffle-free builtin scan; the full cleaned text is value-hashed.
    "q_line_dedup" -> ((s, dir) => {
      import graft.ops.TextOps
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), repeat(lit("\nbuy cheap widgets today"), 4)))
          .when(col("doc_id") % 4 === 1,
            concat(col("text"), lit("\nalpha line\nbeta line\nalpha line\nbeta line")))
          .otherwise(col("text")).as("text"))
      val lines = split(col("text"), "\n")
      planted.select(col("doc_id"),
        TextOps.dedupLines(col("text")).as("clean_text"),
        size(lines).cast("long").as("n_lines"),
        size(split(TextOps.dedupLines(col("text")), "\n"))
          .cast("long").as("n_kept"))
    }),

    // Corpus-level boilerplate paragraph removal (CCNet/Dolma cleaning
    // shape): paragraphs appearing in >= 50 distinct docs are stripped
    // from every doc, order preserved. Boilerplate is planted (cookie
    // header on doc_id%3==0, rights footer on %5==0 — 267 paragraph
    // instances across 233 docs at sf0.01); natural text multiplicity
    // maxes at 2, far under the threshold. The hot-set cap (10) is
    // mirrored in the SQL so the gate holds at any scale.
    "q_boilerplate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val withHdr = when(col("doc_id") % 3 === 0,
        concat(lit("accept cookies to continue\n"), col("text")))
        .otherwise(col("text"))
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(withHdr, lit("\nall rights reserved worldwide")))
          .otherwise(withHdr).as("text"))
      graft.ops.Boilerplate.removeBoilerplate(planted, "text",
        minDocs = 50, maxBoilerplate = 10)
        .select("doc_id", "n_paras", "n_removed", "clean_text")
    }),

    // Span-level duplicate measurement (the dedup granularity between
    // whole-document hashes and paragraph removal): per doc, the count
    // and fraction of its 8-token sliding windows that occur in >= 2
    // distinct documents. A fixed 16-token passage is planted on
    // doc_id%7==0 (9 guaranteed shared spans per planted doc); the tiny
    // fixture vocabulary also yields real natural span collisions
    // (measured: 1015 of 22.6k distinct spans at sf0.01), which the
    // oracle reproduces exactly — no caps, no floats beyond one division
    // on identical integer operands.
    "q_span_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" the quick brown fox jumps over the lazy dog again and again every single day forever")))
          .otherwise(col("text")).as("text"))
      graft.ops.Dedup.spanDupStats(planted, "doc_id", "text")
        .select("doc_id", "n_spans", "n_dup_spans", "dup_span_frac")
    }),

    // Span-level duplicate REMOVAL (the act stage over q_span_dedup's
    // measurement): keeper = min doc_id per duplicated 8-token span;
    // covered token positions drop everywhere else and the text is
    // rebuilt. Same planted passage as q_span_dedup — doc 0 keeps it,
    // every other %7 doc loses those windows; natural fixture span
    // collisions are removed under the same integer rule.
    "q_span_rewrite" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" the quick brown fox jumps over the lazy dog again and again every single day forever")))
          .otherwise(col("text")).as("text"))
      graft.ops.Dedup.spanDedupRewrite(planted, "doc_id", "text")
    }),

    // Language ID via marker-word scoring with deterministic tie-break.
    "q_lang_id" -> ((s, dir) => {
      graft.ops.TextOps.langId(
        s.read.parquet(s"$dir/documents.parquet"), "text")
        .select(col("doc_id"), col("pred_lang"))
    }),

    // Rolling-hash document fingerprint.
    "q_fingerprint" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), graft.ops.TextOps.fingerprint("text").as("fp"))
    }),

    // Exact n-gram Jaccard near-dup pairs over documents + planted
    // mutated copies (doc_id + 100000, one appended token).
    "q_ngram_jaccard" -> ((s, dir) => {
      // all-pairs is quadratic: bound the fixture subset so the exact
      // oracle path stays cheap at every SF (the LSH query is the scale
      // path; this one exists to be exactly SQL-checkable)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      val planted = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftdupmarker")).as("text"))
      graft.ops.Dedup.ngramJaccardPairs(
        docs.unionByName(planted), "doc_id", "text", n = 3, threshold = 0.6)
    }),

    // MinHash + LSH candidate pairs, exact-verified (rows-only check;
    // recall/determinism proven in DedupSpec).
    "q_minhash_lsh" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val planted = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftdupmarker")).as("text"))
      graft.ops.Dedup.minHashLsh(s, docs.unionByName(planted),
        "doc_id", "text", threshold = 0.6)
        .select(col("a_id"), col("b_id"), col("jaccard"))
    }),

    // Near-dup CLUSTER collapse — the step that makes the pair emitters
    // an actual dedup: LSH pairs -> connected components (alternating
    // large/small-star, O(log n) rounds at any graph diameter) -> one
    // survivor per cluster (longest text, ties to smallest id). Banding
    // recall 1.0 on this fixture carries over from q_minhash_lsh, so the
    // oracle can take the exact pair set's transitive closure.
    "q_dedup_cluster" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val all = docs.unionByName(docs.select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftdupmarker")).as("text")))
      val pairs = graft.ops.Dedup.minHashLsh(s, all, "doc_id", "text",
        threshold = 0.6).select(col("a_id"), col("b_id"))
      graft.ops.ConnectedComponents.dedupClusters(s, all, pairs)
    }),

    // The STREAMING near-dup screen under the same hard gate as the
    // batch path: the q_minhash_lsh fixture is fed as three deterministic
    // MemoryStream micro-batches through the stateful per-bucket screen;
    // the emitted pair set (sink-side distinct, the documented
    // at-least-once pattern) must equal the batch oracle's exact
    // all-pairs Jaccard >= 0.6 set. Timestamps span ~100 s, so the
    // 5-minute watermark never evicts state mid-fixture and banding
    // recall 1.0 carries over from the batch proof.
    "q_stream_neardup" -> ((s, dir) => {
      val all = streamCorpus(s, dir)
      runStreamNearDups(s, all.grouped((all.length + 2) / 3).map(_.map {
        case (id, t) => (new java.sql.Timestamp(1767225600000L + id), id, t)
      }.toSeq).toSeq)
    }),

    // Watermark EVICTION under the hard gate: epoch A (base docs at T0)
    // and epoch B (planted copies at T0+70min) are separated by more
    // than watermark delay (5min) + state retention (30min), with two
    // sentinel micro-batches in between that advance the watermark and
    // fire every epoch-A bucket's event-time timeout BEFORE epoch B
    // arrives. A correct screen therefore emits ONLY within-epoch pairs;
    // the 500 cross-epoch planted pairs — which q_stream_neardup proves
    // the same screen DOES find when state is live — must be absent. The
    // oracle is the exact all-pairs set restricted to within-epoch
    // pairs, so a single surviving cross pair hash-mismatches.
    "q_stream_evict" -> ((s, dir) => {
      val base = streamCorpus(s, dir).filter(_._1 < 100000L)
      val t0 = 1767225600000L
      val min = 60000L
      val epochA = base.map { case (id, t) =>
        (new java.sql.Timestamp(t0 + id), id, t) }
      val epochB = base.map { case (id, t) =>
        (new java.sql.Timestamp(t0 + 70 * min + id), id + 100000L, t + " graftdupmarker") }
      val sentinels = Seq(
        (new java.sql.Timestamp(t0 + 65 * min), 900001L,
          "graft watermark sentinel alpha advancing event time"),
        (new java.sql.Timestamp(t0 + 66 * min), 900002L,
          "unrelated beacon row with disjoint vocabulary entirely"))
      // 4 deterministic micro-batches: A, sentinel, sentinel (timeouts
      // fire here: watermark 60min > A's maxTs+30min retention), B.
      runStreamNearDups(s,
        Seq(epochA.toSeq, Seq(sentinels.head), Seq(sentinels(1)), epochB.toSeq))
    }),

    // SimHash near-dup pairs at Hamming distance <= 3 (rows-only).
    "q_simhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val planted = docs.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" graftdupmarker")).as("text"))
      graft.ops.Dedup.simHashPairs(s, docs.unionByName(planted),
        "doc_id", "text", maxDistance = 3)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
    }),

    // Embedding-cosine near-duplicate pairs (brute force, exact) over the
    // corpus + planted perturbed copies (vec_id + 100000; even indices
    // scaled by 1.02, odd by 0.98 -> cosine ~0.9996 with the original).
    "q_embed_neardup" -> ((s, dir) => {
      graft.ops.Dedup.embeddingNearDupPairs(
        embedNearDupInput(s, dir), "vec_id", "embedding", threshold = 0.99)
        .select(col("a_id"), col("b_id"))
    }),

    // The BUCKETED scale path for the same near-dup set: hyperplane-LSH
    // banding generates candidates inside signature buckets (ids-only
    // shuffle, capped hot buckets), exact cosine verifies. Output is by
    // construction a subset of q_embed_neardup's exact set; gating it
    // against the SAME oracle proves banding recall 1.0 on this fixture
    // (every planted pair shares at least one 4-bit band), so the one
    // remaining cartesian anchor has a gated bucketed sibling.
    "q_embed_neardup_lsh" -> ((s, dir) => {
      graft.ops.Dedup.embeddingNearDupPairsLsh(
        embedNearDupInput(s, dir), "vec_id", "embedding", threshold = 0.99)
        .select(col("a_id"), col("b_id"))
    }),

    // ANN baseline: exact cosine top-3 for the first 16 vectors as queries.
    "q_ann_top3" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ops.Similarity.bruteForceTopK(emb, queries, k = 3)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),

    // ANN scale path: hyperplane-LSH bucketed top-3 (approximate;
    // rows-only check, recall asserted in DedupSpec).
    "q_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ops.Similarity.hyperplaneLshTopK(s, emb, queries, k = 3)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),

    // Edge kNN: for each city center, the 3 closest trajectory segments
    // via ClosestEdgeQuery over a broadcast ShapeIndex of the chains —
    // the executor-local best-first access path inside a Spark query.
    "q_edge_knn" -> ((s, dir) => {
      import s.implicits._
      import graft.core._
      val lines = trajectoryLines
      val queries = PagesSource.cities.zipWithIndex
        .map { case ((la, ln), i) => (i.toLong, la, ln) }
        .toDF("query_id", "q_lat", "q_lng")
      val bc = s.sparkContext.broadcast(lines)
      val knnUdf = udf((lat: Double, lng: Double) => {
        // index built once per executor (IndexCache), not per row
        val index = graft.ops.IndexCache.forPolylines(bc)
        val q = new ClosestEdgeQuery(index, includeInteriors = false)
        q.findClosestEdges(
          ClosestEdgeQuery.PointTarget(LatLng.toPointDegrees(lat, lng)), 3)
          .zipWithIndex.map { case (r, rank) =>
            (bc.value(r.shapeId)._1, r.edgeId, rank + 1)
          }
      })
      queries
        .withColumn("hit", explode(knnUdf(col("q_lat"), col("q_lng"))))
        .select(col("query_id"), col("hit._1").as("line_id"),
          col("hit._2").cast("long").as("seg_id"),
          col("hit._3").cast("long").as("rank"))
    }),

    // Edge FARTHEST: for each city center, the 3 farthest trajectory
    // segments via FurthestEdgeQuery (max-distance mirror of q_edge_knn;
    // diameter/spread analytics access path).
    "q_edge_far" -> ((s, dir) => {
      import s.implicits._
      import graft.core._
      val lines = trajectoryLines
      val queries = PagesSource.cities.zipWithIndex
        .map { case ((la, ln), i) => (i.toLong, la, ln) }
        .toDF("query_id", "q_lat", "q_lng")
      val bc = s.sparkContext.broadcast(lines)
      val farUdf = udf((lat: Double, lng: Double) => {
        val index = graft.ops.IndexCache.forPolylines(bc)
        val q = new FurthestEdgeQuery(index, includeInteriors = false)
        q.findFurthestEdges(
          FurthestEdgeQuery.PointTarget(LatLng.toPointDegrees(lat, lng)), 3)
          .zipWithIndex.map { case (r, rank) =>
            (bc.value(r.shapeId)._1, r.edgeId, rank + 1)
          }
      })
      queries
        .withColumn("hit", explode(farUdf(col("q_lat"), col("q_lng"))))
        .select(col("query_id"), col("hit._1").as("line_id"),
          col("hit._2").cast("long").as("seg_id"),
          col("hit._3").cast("long").as("rank"))
    }),

    // Trajectory similarity: pairwise dynamic-timewarp alignment cost
    // (PolylineAlignment.exactVertexAlignmentCost) over all trajectory
    // pairs, distributed as a pair table + broadcast lines. Costs are
    // rounded to 9 decimals in both systems: DuckDB contracts a*b+c
    // into FMA, so raw doubles differ in the last ulp.
    "q_dtw" -> ((s, dir) => {
      import s.implicits._
      val lines = trajectoryLines
      val bc = s.sparkContext.broadcast(lines.toMap)
      val pairsDf = (for {
        i <- lines.indices; j <- lines.indices if i < j
      } yield (lines(i)._1, lines(j)._1)).toDF("a_id", "b_id")
      val dtwUdf = udf((aId: Long, bId: Long) =>
        graft.core.PolylineAlignment.exactVertexAlignmentCost(
          bc.value(aId), bc.value(bId)))
      pairsDf
        .withColumn("dtw_cost", round(dtwUdf(col("a_id"), col("b_id")), 9))
        .select(col("a_id"), col("b_id"), col("dtw_cost"))
    }),

    // Shuffle-path PIP join (the non-broadcast plan for dimension tables
    // too large to broadcast): same semantics and oracle as q_pip_city,
    // forced through the cell-level equi-join + exact refine path.
    "q_pip_shuffle" -> ((s, dir) => {
      graft.ops.ShuffleSpatialJoin.pipJoinLarge(s, pages(s, dir), cityPolygons)
        .select(col("url"), col("poly_id"))
    }),

    // DIMENSION SCALE under the hard gate (VERDICT r4 "Next" #4): the
    // shuffle-path PIP join against 10,000 polygons — the scale the
    // non-broadcast plan exists for (estimated payload >> the 10 MB
    // broadcast budget; DimScaleSpec pins the auto-chooser cutover and
    // shuffle==broadcast equality sbt-side). The FULL 10k-dimension join
    // is materialized to parquet first — a deliberate optimizer barrier:
    // filtering to the oracle sample before a barrier would let Catalyst
    // push the sample predicate into the dimension build and quietly
    // shrink the join back to 40 polygons. The gate then hash-checks the
    // 40 sampled polygons (every 250th) against baked convex SQL, the
    // same technique as q_pip_city.
    "q_pip_10k" -> ((s, dir) => {
      val polys = tenKPolys
      // coverings computed executor-side: 10k serial RegionCoverer runs
      // would dominate the driver (the scale-correct shape regardless)
      val coverings = SpatialJoin.polygonCoveringsDistributed(s, polys, maxCells = 8)
      val joined = graft.ops.ShuffleSpatialJoin.pipJoinLarge(
        s, pages(s, dir), polys, maxDimRows = 500000L,
        precomputed = Some(coverings))
        .select(col("url"), col("poly_id"))
      val scratch = "/root/repo/work/q_pip_10k_out"
      joined.write.mode("overwrite").parquet(scratch)
      s.read.parquet(scratch).filter(pmod(col("poly_id"), lit(250)) === 0)
    }),

    // ANN scale path 2: IVF inverted lists (coarse quantizer + nProbe
    // probing; rows-only check, recall asserted in DedupSpec).
    "q_ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ops.Similarity.ivfTopK(s, emb, queries, k = 3)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),

    // IVF with the k-means-refined quantizer (2 Lloyd iterations over the
    // corpus). The oracle re-runs Lloyd in SQL: per-dim means with float
    // rounding per iteration, argmax assignment with first-wins ties.
    // Centroid VALUES need only be float-equal, not summation-order-
    // equal: every comparison downstream (assignment, probe, re-rank)
    // has margins orders of magnitude above the 1-ulp mean noise.
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ops.Similarity.ivfTopK(s, emb, queries, k = 3, kmeansIters = 2)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),

    // SQ8 quantized ANN: int8 scalar quantization (floor(x*127/maxabs) —
    // one IEEE double op per element, identical in both engines) then
    // EXACT integer dot-product top-3 per query via the bounded top-k
    // aggregate. The 4x-smaller integer scan is the memory-bandwidth
    // path at corpus scale; recall vs float cosine measured in Sq8Spec.
    "q_ann_sq8" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ops.Similarity.sq8TopK(emb, queries, k = 3)
    }),

    // The production ANN composition: IVF coarse lists prune the corpus
    // (nProbe=4 of 16 lists per query), the in-list scan scores SQ8
    // int8 codes by the exact rescaled integer dot, top-3 via the
    // bounded aggregate. Same assignment/probe as q_ann_ivf, same
    // quantization as q_ann_sq8 — the oracle re-runs both stages.
    "q_ann_ivf_sq8" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ops.Similarity.ivfSq8TopK(s, emb, queries, k = 3)
    }),

    // Crawl-frontier url-seen screen: bloom filter over the seen urls
    // (one map-side-combinable build pass; merge = OR), broadcast probe
    // splits candidates shuffle-free, exact anti-join confirms only the
    // bloom-positive minority. Result is EXACT (no false negatives), so
    // the oracle is the plain anti-join. Candidates planted from pages:
    // revisits (pid%3==0), cross-links to other seen pages (pid%5==0,
    // url of page pid - pid%7 — scale-free), and new urls (pid%2==0).
    "q_frontier_bloom" -> ((s, dir) => {
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val pid = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val seen = p.select(col("url"))
      val crossPid = pid - pid % 7
      val candidates = p.filter(pid % 3 === 0).select(col("url"))
        .unionAll(p.filter(pid % 5 === 0).select(
          concat(lit("https://example-"), (crossPid % 1000).cast("string"),
            lit(".test/page/"), crossPid.cast("string")).as("url")))
        .unionAll(p.filter(pid % 2 === 0).select(
          concat(lit("https://example-"), (pid % 1000).cast("string"),
            lit(".test/page/new/"), pid.cast("string")).as("url")))
      graft.ops.Frontier.newUrls(s, seen, candidates)
    }),

    // Multimodal: REAL decode + feature extraction over binary media
    // payloads (PNG via ImageIO, WAV via javax.sound, PNG-frame video
    // container). Every feature is a deterministic function of the id,
    // so the oracle independently derives what a correct decoder must
    // return.
    "q_multimodal" -> ((s, dir) => {
      val media = graft.ops.Multimodal.synthesize(s, 1000)
      graft.ops.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"), col("mean0"))
    }),

    // HTML -> text extraction: the input_hint's defining per-row
    // operation (text IS the extraction of html, byte-identical per
    // url). Variants planted per pid%4 exercise script+style dropping,
    // nested tag stripping, and entity decoding with the &amp;-last
    // rule; arms 0-2 must reproduce the text column byte-for-byte
    // (matches_text TRUE), arm 3 appends entity-encoded content whose
    // decode both engines derive independently. Shuffle-free builtin
    // codegen scan.
    "q_extract_text" -> ((s, dir) => {
      import graft.ops.TextOps
      val p = s.read.parquet(PagesSource.pagesParquet(s, dir))
      val pid = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
      val body = decode(col("html"), "UTF-8")
      val h = when(pid % 4 === 0, body)
        .when(pid % 4 === 1, concat(
          lit("<html><head><script type=\"text/javascript\">var x = " +
            "\"<div>\";\nif (x) { x = 1; }</script><style>.c{color:red}" +
            "</style></head><body>"),
          col("text"), lit("</body></html>")))
        .when(pid % 4 === 2, concat(
          lit("<html><body><div class=\"m\"><a href=\"https://x.test/\">"),
          col("text"), lit("</a><br/></div></body></html>")))
        .otherwise(concat(
          lit("<html><body>"), col("text"),
          lit(" &amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</body></html>")))
      val extracted = TextOps.extractText(h)
      p.select(col("url"), extracted.as("extracted"),
        (extracted === col("text")).as("matches_text"))
    }),

    // Per-row invariant: text survives the whole pipeline byte-identical
    // per url (join + project + repartition round trip).
    "q_text_invariant" -> ((s, dir) => {
      val p = pages(s, dir)
      SpatialJoin.rectJoin(s, p, cityRects)
        .repartition(8, col("url"))
        .select(col("url"), sha2(col("text"), 256).as("text_sha"))
        .distinct()
    })
  )

  /** VALUES rows "(poly, idx, x, y, z)" for single-loop polygon sets. */
  private def polyVertexValues(polys: Seq[(Long, graft.core.Polygon)]): String =
    polys.flatMap { case (id, p) =>
      val loop = p.loops(0)
      (0 until loop.numVertices).map { k =>
        val v = loop.vertex(k)
        f"($id, $k, ${v.x}%.17e, ${v.y}%.17e, ${v.z}%.17e)"
      }
    }.mkString(", ")

  /** Oracle for the polygon-overlap join over convex fixtures: edge
    * normals from the baked vertices; containment = all vertices strictly
    * inside; intersection = edge straddle crossing or vertex containment
    * either way (exact for convex polygons with no shared boundaries).
    */
  private def polyOverlapSql: String = {
    val nA = 24
    s"""WITH va(poly, idx, x, y, z) AS (VALUES ${polyVertexValues(overlayPolysA)}),
       | vb(poly, idx, x, y, z) AS (VALUES ${polyVertexValues(overlayPolysB)}),
       | na AS (SELECT a.poly, a.idx,
       |   a.y*b.z - a.z*b.y AS nx, a.z*b.x - a.x*b.z AS ny, a.x*b.y - a.y*b.x AS nz,
       |   a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS byy, b.z AS bz
       |   FROM va a JOIN va b ON a.poly = b.poly AND b.idx = (a.idx + 1) % $nA),
       | nb AS (SELECT a.poly, a.idx,
       |   a.y*b.z - a.z*b.y AS nx, a.z*b.x - a.x*b.z AS ny, a.x*b.y - a.y*b.x AS nz,
       |   a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS byy, b.z AS bz
       |   FROM vb a JOIN vb b ON a.poly = b.poly AND b.idx = (a.idx + 1) % $nA),
       | pairs AS (SELECT DISTINCT a.poly AS a_id, b.poly AS b_id FROM va a, vb b),
       | acb AS (SELECT p.a_id, p.b_id FROM pairs p WHERE NOT EXISTS (
       |   SELECT 1 FROM vb v, na e WHERE v.poly = p.b_id AND e.poly = p.a_id
       |     AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0)),
       | bca AS (SELECT p.a_id, p.b_id FROM pairs p WHERE NOT EXISTS (
       |   SELECT 1 FROM va v, nb e WHERE v.poly = p.a_id AND e.poly = p.b_id
       |     AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0)),
       | vtx AS (
       |   SELECT p.a_id, p.b_id FROM pairs p WHERE EXISTS (
       |     SELECT 1 FROM vb v WHERE v.poly = p.b_id AND NOT EXISTS (
       |       SELECT 1 FROM na e WHERE e.poly = p.a_id
       |         AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0))
       |   UNION
       |   SELECT p.a_id, p.b_id FROM pairs p WHERE EXISTS (
       |     SELECT 1 FROM va v WHERE v.poly = p.a_id AND NOT EXISTS (
       |       SELECT 1 FROM nb e WHERE e.poly = p.b_id
       |         AND e.nx*v.x + e.ny*v.y + e.nz*v.z <= 0))),
       | crossing AS (SELECT p.a_id, p.b_id FROM pairs p WHERE EXISTS (
       |   SELECT 1 FROM na x, nb y WHERE x.poly = p.a_id AND y.poly = p.b_id
       |     AND (x.nx*y.ax + x.ny*y.ay + x.nz*y.az)
       |       * (x.nx*y.bx + x.ny*y.byy + x.nz*y.bz) < 0
       |     AND (y.nx*x.ax + y.ny*x.ay + y.nz*x.az)
       |       * (y.nx*x.bx + y.ny*x.byy + y.nz*x.bz) < 0)),
       | inter AS (SELECT * FROM crossing UNION SELECT * FROM vtx)
       |SELECT i.a_id, i.b_id,
       |  (c1.a_id IS NOT NULL) AS a_contains_b,
       |  (c2.a_id IS NOT NULL) AS b_contains_a
       |FROM inter i
       |LEFT JOIN acb c1 ON c1.a_id = i.a_id AND c1.b_id = i.b_id
       |LEFT JOIN bca c2 ON c2.a_id = i.a_id AND c2.b_id = i.b_id""".stripMargin
  }

  /** Oracle for the 4096-gon PIP: vertices regenerated in SQL with the
    * same frame/radius literals and arithmetic shape as Loop.regularLoop,
    * then the convex all-edge-normals test behind a conservative bbox
    * prefilter.
    */
  private def pipCoastSql: String = {
    val c = LatLng.toPointDegrees(40.7128, -74.0060)
    val z = c
    val y = z.ortho
    val x = y.cross(z)
    val r = Earth.angleFromMeters(300000)
    val sinR = math.sin(r)
    val cosR = math.cos(r)
    val step = 2 * math.Pi / 4096
    val b = coastLoop.bound
    val latLo = b.lat.lo * LatLng.RadToDeg - 0.05
    val latHi = b.lat.hi * LatLng.RadToDeg + 0.05
    val lngLo = b.lng.lo * LatLng.RadToDeg - 0.05
    val lngHi = b.lng.hi * LatLng.RadToDeg + 0.05
    f"""$pagesCte, idx AS (SELECT unnest(range(4096)) AS i),
       | w AS (SELECT i,
       |   ${x.x}%.17e*($sinR%.17e*cos(i*$step%.17e)) + ${y.x}%.17e*($sinR%.17e*sin(i*$step%.17e)) + ${z.x}%.17e*$cosR%.17e AS wx,
       |   ${x.y}%.17e*($sinR%.17e*cos(i*$step%.17e)) + ${y.y}%.17e*($sinR%.17e*sin(i*$step%.17e)) + ${z.y}%.17e*$cosR%.17e AS wy,
       |   ${x.z}%.17e*($sinR%.17e*cos(i*$step%.17e)) + ${y.z}%.17e*($sinR%.17e*sin(i*$step%.17e)) + ${z.z}%.17e*$cosR%.17e AS wz
       |   FROM idx),
       | v AS (SELECT i, wx*(1.0/sqrt(wx*wx + wy*wy + wz*wz)) AS vx,
       |   wy*(1.0/sqrt(wx*wx + wy*wy + wz*wz)) AS vy,
       |   wz*(1.0/sqrt(wx*wx + wy*wy + wz*wz)) AS vz FROM w),
       | e AS (SELECT a.i, a.vy*b.vz - a.vz*b.vy AS nx,
       |   a.vz*b.vx - a.vx*b.vz AS ny, a.vx*b.vy - a.vy*b.vx AS nz
       |   FROM v a JOIN v b ON b.i = (a.i + 1) %% 4096)
       |SELECT url, 0 AS poly_id FROM pts p
       |WHERE p.lat BETWEEN $latLo AND $latHi AND p.lng BETWEEN $lngLo AND $lngHi
       |  AND NOT EXISTS (SELECT 1 FROM e
       |    WHERE e.nx*p.px + e.ny*p.py + e.nz*p.pz <= 0)""".stripMargin
  }

  /** Oracle for the polyline x polygon crossing join. Crossing condition
    * is the reference's full four-orientation test (edge_crosser.go:
    * crossing iff acb == bda == cbd == dac), NOT the naive two-straddle
    * test — for near-antipodal city-pair arcs the naive test false-fires
    * when the line's great circle (but not its minor arc) passes through
    * a polygon on the far side of the sphere.
    */
  private def crossingSql: String = {
    val cities = PagesSource.cities
    val lines = (for { i <- cities.indices; j <- cities.indices if i < j } yield {
      val a = LatLng.toPointDegrees(cities(i)._1, cities(i)._2)
      val b = LatLng.toPointDegrees(cities(j)._1, cities(j)._2)
      f"(${i * 100 + j}, ${a.x}%.17e, ${a.y}%.17e, ${a.z}%.17e, ${b.x}%.17e, ${b.y}%.17e, ${b.z}%.17e)"
    }).mkString(", ")
    val verts = cityPolygons.flatMap { case (id, loop) =>
      (0 until loop.numVertices).map { k =>
        val v = loop.vertex(k)
        f"($id, $k, ${v.x}%.17e, ${v.y}%.17e, ${v.z}%.17e)"
      }
    }.mkString(", ")
    s"""WITH lines(line_id, px, py, pz, qx, qy, qz) AS (VALUES $lines),
       | pv(poly, idx, x, y, z) AS (VALUES $verts),
       | pe AS (SELECT a.poly, a.idx,
       |   a.x AS ax, a.y AS ay, a.z AS az, b.x AS bx, b.y AS byy, b.z AS bz
       |   FROM pv a JOIN pv b ON a.poly = b.poly AND b.idx = (a.idx + 1) % 64),
       | cr AS (SELECT l.line_id, e.poly, CASE WHEN
       |     ((l.py*l.qz - l.pz*l.qy)*e.ax + (l.pz*l.qx - l.px*l.qz)*e.ay + (l.px*l.qy - l.py*l.qx)*e.az)
       |   * ((l.py*l.qz - l.pz*l.qy)*e.bx + (l.pz*l.qx - l.px*l.qz)*e.byy + (l.px*l.qy - l.py*l.qx)*e.bz) < 0
       |   AND
       |     ((l.py*l.qz - l.pz*l.qy)*e.ax + (l.pz*l.qx - l.px*l.qz)*e.ay + (l.px*l.qy - l.py*l.qx)*e.az)
       |   * ((e.ay*e.bz - e.az*e.byy)*l.px + (e.az*e.bx - e.ax*e.bz)*l.py + (e.ax*e.byy - e.ay*e.bx)*l.pz) < 0
       |   AND
       |     ((l.py*l.qz - l.pz*l.qy)*e.ax + (l.pz*l.qx - l.px*l.qz)*e.ay + (l.px*l.qy - l.py*l.qx)*e.az)
       |   * ((e.ay*e.bz - e.az*e.byy)*l.qx + (e.az*e.bx - e.ax*e.bz)*l.qy + (e.ax*e.byy - e.ay*e.bx)*l.qz) > 0
       |   THEN 1 ELSE 0 END AS c
       |   FROM lines l CROSS JOIN pe e),
       | agg AS (SELECT line_id, poly, SUM(c) AS crossings FROM cr GROUP BY 1, 2),
       | contained AS (SELECT l.line_id, p.poly
       |   FROM lines l, (SELECT DISTINCT poly FROM pv) p
       |   WHERE NOT EXISTS (SELECT 1 FROM pe e WHERE e.poly = p.poly
       |     AND (e.ay*e.bz - e.az*e.byy)*l.px + (e.az*e.bx - e.ax*e.bz)*l.py
       |       + (e.ax*e.byy - e.ay*e.bx)*l.pz <= 0))
       |SELECT CAST(a.line_id AS BIGINT) AS line_id,
       |  CAST(a.poly AS BIGINT) AS poly_id, CAST(a.crossings AS BIGINT) AS crossings
       |FROM agg a LEFT JOIN contained c ON c.line_id = a.line_id AND c.poly = a.poly
       |WHERE a.crossings > 0 OR c.line_id IS NOT NULL""".stripMargin
  }

  /** Oracle for the edge-kNN query: point-to-segment spherical distance
    * computed from baked segment endpoints (interior case = distance to
    * the great circle via asin, decided by the same tangential conditions
    * as edge_distances.go interiorDist; endpoint case = arc cosine),
    * ranked per query with the engine's (distance, line, segment)
    * tie-break.
    */
  private def edgeKnnSql: String = edgeRankSql(negateQueries = false)

  /** Same ranking SQL for the FARTHEST query: the farthest point of an
    * arc from p is the closest point to -p (max angle = Pi - min angle
    * to the antipode, edge_distances.go:60-72), so ranking by ascending
    * min-distance of the NEGATED city point reproduces the descending
    * max-distance order, with identical (line_id, seg_id) tie-breaks.
    */
  private def edgeRankSql(negateQueries: Boolean): String = {
    val sgn = if (negateQueries) -1.0 else 1.0
    val segs = trajectoryLines.flatMap { case (lineId, pl) =>
      (1 until pl.vertices.length).map { k =>
        val a = pl.vertices(k - 1)
        val b = pl.vertices(k)
        f"($lineId, ${k - 1}, ${a.x}%.17e, ${a.y}%.17e, ${a.z}%.17e, ${b.x}%.17e, ${b.y}%.17e, ${b.z}%.17e)"
      }
    }.mkString(", ")
    val qs = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
      val p = LatLng.toPointDegrees(la, ln) * sgn
      f"($i, ${p.x}%.17e, ${p.y}%.17e, ${p.z}%.17e)"
    }.mkString(", ")
    s"""WITH seg(line_id, seg_id, ax, ay, az, bx, byy, bz) AS (VALUES $segs),
       | q(query_id, px, py, pz) AS (VALUES $qs),
       | d AS (SELECT q.query_id, s.line_id, s.seg_id,
       |   CASE WHEN
       |     ((s.ax*s.bx + s.ay*s.byy + s.az*s.bz)
       |       * (s.ax*q.px + s.ay*q.py + s.az*q.pz)
       |       - (s.bx*q.px + s.byy*q.py + s.bz*q.pz)) < 0
       |     AND ((s.ax*q.px + s.ay*q.py + s.az*q.pz)
       |       - (s.ax*s.bx + s.ay*s.byy + s.az*s.bz)
       |         * (s.bx*q.px + s.byy*q.py + s.bz*q.pz)) > 0
       |   THEN asin(least(1.0,
       |     abs((s.ay*s.bz - s.az*s.byy)*q.px + (s.az*s.bx - s.ax*s.bz)*q.py
       |       + (s.ax*s.byy - s.ay*s.bx)*q.pz)
       |     / sqrt(pow(s.ay*s.bz - s.az*s.byy, 2) + pow(s.az*s.bx - s.ax*s.bz, 2)
       |       + pow(s.ax*s.byy - s.ay*s.bx, 2))))
       |   ELSE least(
       |     acos(least(1.0, greatest(-1.0, s.ax*q.px + s.ay*q.py + s.az*q.pz))),
       |     acos(least(1.0, greatest(-1.0, s.bx*q.px + s.byy*q.py + s.bz*q.pz))))
       |   END AS dist
       |   FROM q, seg s)
       |SELECT query_id, line_id, seg_id, rank FROM (
       |  SELECT CAST(query_id AS BIGINT) AS query_id,
       |    CAST(line_id AS BIGINT) AS line_id, CAST(seg_id AS BIGINT) AS seg_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist, line_id, seg_id) AS BIGINT) AS rank
       |  FROM d) WHERE rank <= 3""".stripMargin
  }

  /** Oracle for the DTW query: the full dynamic-timewarp DP re-run in
    * SQL — vertex unit vectors baked as literals, the DP table iterated
    * by a recursive CTE (one row per DP row), each row's costs built by
    * a left-to-right list fold (left/diag/up recurrence identical to
    * polyline_alignment.go:442-470). Costs rounded to 9 decimals on both
    * sides (DuckDB fuses a*b+c into FMA, so raw doubles differ by ulps).
    */
  private def dtwSql: String = {
    val vals = trajectoryLines.flatMap { case (id, pl) =>
      pl.vertices.zipWithIndex.map { case (v, k) =>
        f"($id, $k, ${v.x}%.17e, ${v.y}%.17e, ${v.z}%.17e)"
      }
    }.mkString(", ")
    def dist(i: String) = {
      val jx = "CAST(jl[1] AS INT)"
      s"sqrt(((al[$i].x - bl[$jx].x)*(al[$i].x - bl[$jx].x)" +
        s" + (al[$i].y - bl[$jx].y)*(al[$i].y - bl[$jx].y))" +
        s" + (al[$i].z - bl[$jx].z)*(al[$i].z - bl[$jx].z))"
    }
    s"""WITH RECURSIVE v(line_id, idx, x, y, z) AS (VALUES $vals),
       | lists AS (SELECT line_id, list(struct_pack(x := x, y := y, z := z) ORDER BY idx) AS l
       |           FROM v GROUP BY line_id),
       | pairs AS (SELECT a.line_id AS a_id, b.line_id AS b_id, a.l AS al, b.l AS bl
       |           FROM lists a, lists b WHERE a.line_id < b.line_id),
       | dp AS (
       |   SELECT a_id, b_id, al, bl, 1 AS row,
       |     list_reduce(
       |       list_prepend(CAST([] AS DOUBLE[]), [[CAST(j AS DOUBLE)] for j in range(1, len(bl)+1)]),
       |       (acc, jl) -> list_append(acc,
       |         ${dist("1")} + CASE WHEN jl[1] > 1 THEN acc[len(acc)] ELSE 0 END)) AS costs
       |   FROM pairs
       |   UNION ALL
       |   SELECT a_id, b_id, al, bl, row + 1,
       |     list_reduce(
       |       list_prepend(CAST([] AS DOUBLE[]), [[CAST(j AS DOUBLE)] for j in range(1, len(bl)+1)]),
       |       (acc, jl) -> list_append(acc,
       |         ${dist("row + 1")} + least(
       |             CASE WHEN jl[1] > 1 THEN costs[CAST(jl[1] AS INT) - 1] ELSE 1e308 END,
       |             costs[CAST(jl[1] AS INT)],
       |             CASE WHEN jl[1] > 1 THEN acc[len(acc)] ELSE 1e308 END)))
       |   FROM dp WHERE row < len(al)
       | )
       |SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  round(costs[len(costs)], 9) AS dtw_cost
       |FROM dp WHERE row = len(al)""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val polys = cityPolygons
    // Exact all-pairs word-3-gram Jaccard >= 0.6 over the full corpus
    // + planted copies, via an inverted gram index (pairs sharing no
    // gram have Jaccard 0 and drop out of the join). Shared by
    // q_minhash_lsh (batch LSH) and q_stream_neardup (stateful
    // streaming screen over the same corpus): on this fixture banding
    // recall is provably 1.0 (min emitted Jaccard 0.75, max bucket
    // 6 << cap), so both approximate pipelines emit exactly this set.
    val minhashPairsCtes =
      s"""base AS (SELECT doc_id, text FROM read_parquet('$oracleSf/documents.parquet')),
         | docs AS (SELECT doc_id, text FROM base
         |          UNION ALL SELECT doc_id + 100000, text || ' graftdupmarker' FROM base),
         | grams AS (
         |   SELECT doc_id, list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
         |     for i in range(1, greatest(len(string_split(text, ' ')) - 1, 2))]) AS g
         |   FROM docs),
         | sizes AS (SELECT doc_id, len(g) AS n FROM grams),
         | ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
         | inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |           FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         | pairs AS (
         |   SELECT a_id, b_id,
         |     CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
         |   FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |   WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.6)""".stripMargin
    val minhashExactPairsSql =
      s"WITH $minhashPairsCtes SELECT a_id, b_id, jaccard FROM pairs"
    // Transitive closure of the exact pair set via a recursive CTE, then
    // the same survivor rule as ConnectedComponents.dedupClusters
    // (longest text, ties to smallest doc_id). cluster_id = component
    // minimum on both sides.
    val dedupClusterSql =
      s"""WITH RECURSIVE $minhashPairsCtes,
         | e AS (SELECT a_id AS u, b_id AS v FROM pairs
         |       UNION SELECT b_id, a_id FROM pairs),
         | nodes AS (SELECT DISTINCT u AS id FROM e),
         | reach(id, r) AS (
         |   SELECT id, id FROM nodes
         |   UNION
         |   SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v),
         | lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         | lens AS (SELECT doc_id, length(text) AS len FROM docs),
         | surv AS (SELECT cluster_id, id AS survivor_id FROM (
         |   SELECT l.cluster_id, l.id,
         |     row_number() OVER (PARTITION BY l.cluster_id
         |                        ORDER BY lens.len DESC, l.id ASC) AS rn
         |   FROM lab l JOIN lens ON lens.doc_id = l.id) WHERE rn = 1)
         |SELECT l.id AS doc_id, l.cluster_id, s.survivor_id
         |FROM lab l JOIN surv s ON s.cluster_id = l.cluster_id""".stripMargin
    val pipCitySql = {
      val branches = polys.map { case (id, loop) =>
        s"SELECT url, $id AS poly_id FROM pts WHERE ${convexPipSql(loop)}"
      }
      s"$pagesCte ${branches.mkString(" UNION ALL ")}"
    }
    // Exact all-pairs cosine >= 0.99 — shared by the brute cartesian and
    // the LSH-bucketed path: the LSH output is a subset by construction,
    // so hash-equality against this set IS the banding-recall-1.0 proof.
    val embedNearDupSql =
      s"""WITH base AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
         |  FROM read_parquet('$oracleSf/embeddings.parquet')
         |  WHERE vec_id < 500
         |), e AS (
         |  SELECT vec_id, emb FROM base
         |  UNION ALL
         |  SELECT vec_id + 100000,
         |    [CASE WHEN (i - 1) % 2 = 0 THEN emb[i] * 1.02 ELSE emb[i] * 0.98 END
         |     for i in range(1, len(emb) + 1)] FROM base
         |)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |FROM e a, e b
         |WHERE a.vec_id < b.vec_id
         |  AND list_cosine_similarity(a.emb, b.emb) >= 0.99""".stripMargin
    Map(
      "q_edge_knn" -> edgeKnnSql,
      "q_edge_far" -> edgeRankSql(negateQueries = true),
      "q_dtw" -> dtwSql,
      "q_pip_shuffle" -> {
        val branches = polys.map { case (id, loop) =>
          s"SELECT url, $id AS poly_id FROM pts WHERE ${convexPipSql(loop)}"
        }
        s"$pagesCte ${branches.mkString(" UNION ALL ")}"
      },

      // The 40 sampled polygons of the 10k-dimension shuffle join, each a
      // baked convex edge-normal test (the Spark side executed all 10k;
      // the sample is what is feasible to restate in SQL).
      "q_pip_10k" -> {
        val branches = tenKPolys.filter(_._1 % 250 == 0).map { case (id, loop) =>
          s"SELECT url, $id AS poly_id FROM pts WHERE ${convexPipSql(loop)}"
        }
        s"$pagesCte ${branches.mkString(" UNION ALL ")}"
      },
      "q_poly_overlap" -> polyOverlapSql,
      "q_pip_coast" -> pipCoastSql,
      "q_crossing" -> crossingSql,
      "q_cell_agg" ->
        s"""$pagesCte, f1 AS (
           |  SELECT CASE WHEN abs(px) > abs(py)
           |    THEN (CASE WHEN abs(px) > abs(pz) THEN 0 ELSE 2 END)
           |    ELSE (CASE WHEN abs(py) > abs(pz) THEN 1 ELSE 2 END) END AS axis,
           |    px, py, pz FROM pts),
           | f2 AS (SELECT CASE WHEN axis = 0 AND px < 0 THEN 3
           |    WHEN axis = 1 AND py < 0 THEN 4
           |    WHEN axis = 2 AND pz < 0 THEN 5 ELSE axis END AS face,
           |    px, py, pz FROM f1),
           | uv AS (SELECT face,
           |  CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz
           |    WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS u,
           |  CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz
           |    WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS v
           |  FROM f2),
           | st AS (SELECT face,
           |  CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
           |  CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t
           |  FROM uv)
           |SELECT CAST(face AS BIGINT) AS face,
           |  CAST(greatest(0, least(63, floor(s*64))) AS BIGINT) AS i6,
           |  CAST(greatest(0, least(63, floor(t*64))) AS BIGINT) AS j6,
           |  count(*) AS n_pages
           |FROM st GROUP BY 1, 2, 3""".stripMargin,
      "q_pip_city" -> pipCitySql,

      // Chunked/resumed execution must reproduce the identical join:
      // same oracle as q_pip_city.
      "q_checkpoint" -> pipCitySql,

      // The clustered-layout chunked run is the same join again — the
      // crash/resume cycle over the pruned table must neither lose nor
      // duplicate a row (pruning itself is asserted physically in the
      // query via measured input bytes).
      "q_checkpoint_clustered" -> pipCitySql,

      // The clustered-write round trip filtered to face 2, derived from
      // raw lat/lng by the projection SQL (no Hilbert curve needed:
      // face is the top-level split of the cell-id order).
      "q_clustered" ->
        s"""$pagesCte, f1 AS (
           |  SELECT url, CASE WHEN abs(px) > abs(py)
           |    THEN (CASE WHEN abs(px) > abs(pz) THEN 0 ELSE 2 END)
           |    ELSE (CASE WHEN abs(py) > abs(pz) THEN 1 ELSE 2 END) END AS axis,
           |    px, py, pz FROM pts),
           | f2 AS (SELECT url, CASE WHEN axis = 0 AND px < 0 THEN 3
           |    WHEN axis = 1 AND py < 0 THEN 4
           |    WHEN axis = 2 AND pz < 0 THEN 5 ELSE axis END AS face
           |  FROM f1)
           |SELECT url FROM f2 WHERE face = 2""".stripMargin,

      "q_rect_join" -> {
        val branches = cityRects.map { case (id, latLo, lngLo, latHi, lngHi) =>
          s"""SELECT url, $id AS rect_id FROM pts
             | WHERE lat BETWEEN $latLo AND $latHi
             |   AND lng BETWEEN $lngLo AND $lngHi""".stripMargin
        }
        s"$pagesCte ${branches.mkString(" UNION ALL ")}"
      },

      "q_radius_100km" -> {
        val branches = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
          // same haversine formula as the engine (latlng.go:61-69)
          s"""SELECT url, $i AS query_id FROM pts WHERE
             | 2*atan2(
             |   sqrt(pow(sin(0.5*(radians(lat)-radians($la))),2)
             |     + pow(sin(0.5*(radians(lng)-radians($ln))),2)
             |       *cos(radians($la))*cos(radians(lat))),
             |   sqrt(greatest(0.0, 1.0 - (pow(sin(0.5*(radians(lat)-radians($la))),2)
             |     + pow(sin(0.5*(radians(lng)-radians($ln))),2)
             |       *cos(radians($la))*cos(radians(lat)))))
             | ) <= ${100000.0 / Earth.RadiusMeters}""".stripMargin
        }
        s"$pagesCte ${branches.mkString(" UNION ALL ")}"
      },

      "q_pip_annulus" -> {
        val branches = cityAnnuli.map { case (id, poly) =>
          val shellSql = convexPipSql(poly.loops(0))
          val holeSql = convexPipSql(poly.loops(1))
          s"SELECT url, $id AS poly_id FROM pts WHERE $shellSql AND NOT $holeSql"
        }
        s"$pagesCte ${branches.mkString(" UNION ALL ")}"
      },

      "q_knn5" -> {
        val qVals = PagesSource.cities.zipWithIndex.map { case ((la, ln), i) =>
          s"SELECT $i AS query_id, CAST($la AS DOUBLE) AS qlat, CAST($ln AS DOUBLE) AS qlng"
        }.mkString(" UNION ALL ")
        s"""$pagesCte, q AS ($qVals)
           |SELECT query_id, url FROM (
           |  SELECT q.query_id, p.url,
           |    row_number() OVER (PARTITION BY q.query_id ORDER BY
           |      2*atan2(
           |        sqrt(pow(sin(0.5*(radians(p.lat)-radians(q.qlat))),2)
           |          + pow(sin(0.5*(radians(p.lng)-radians(q.qlng))),2)
           |            *cos(radians(q.qlat))*cos(radians(p.lat))),
           |        sqrt(greatest(0.0, 1.0 - (pow(sin(0.5*(radians(p.lat)-radians(q.qlat))),2)
           |          + pow(sin(0.5*(radians(p.lng)-radians(q.qlng))),2)
           |            *cos(radians(q.qlat))*cos(radians(p.lat)))))
           |      ) ASC, p.url ASC) AS rn
           |  FROM pts p CROSS JOIN q
           |) WHERE rn <= 5""".stripMargin
      },

      "q_tile_z12" ->
        s"""$pagesCte
           |SELECT tx, ty, count(*) AS n_pages FROM (
           |  SELECT
           |    CAST(greatest(0, least(4095, floor((lng + 180.0)/360.0*4096.0))) AS BIGINT) AS tx,
           |    CAST(greatest(0, least(4095, floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*4096.0))) AS BIGINT) AS ty
           |  FROM pts
           |) GROUP BY tx, ty HAVING count(*) >= 2""".stripMargin,

      "q_text_stats" -> {
        import graft.ops.TextOps
        val stopHits = TextOps.stopwordHitsSql("text")
        s"""SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
           |  CAST($stopHits AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
           |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
           |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.5
           |    + least((CAST($stopHits AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 4.0, 1.0) * 0.3
           |    + (1.0 - least((CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 10.0, 1.0)) * 0.2 AS quality
           |FROM read_parquet('$oracleSf/documents.parquet')""".stripMargin
      },

      // 8-gram comprehension mirrors the minhash oracle's 3-gram one
      // (docs with < 8 words contribute their whole text as one gram,
      // matching shingleHashes' short-doc rule).
      "q_decontaminate" ->
        s"""WITH docs AS (SELECT doc_id, text
           |   FROM read_parquet('$oracleSf/documents.parquet')),
           | grams AS (
           |   SELECT doc_id, list_distinct([array_to_string(string_split(text, ' ')[i:i+7], ' ')
           |     for i in range(1, greatest(len(string_split(text, ' ')) - 6, 2))]) AS g
           |   FROM docs),
           | bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams
           |           WHERE doc_id % 50 = 0),
           | ex AS (SELECT doc_id, unnest(g) AS gram FROM grams)
           |SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_hits
           |FROM ex JOIN bench ON ex.gram = bench.gram
           |GROUP BY ex.doc_id""".stripMargin,

      // Same quality formula, then the curation pipeline as SQL windows:
      // rank <= 2 per (lang, source), cumulative n_tokens per lang in
      // (quality desc, doc_id) order, keep rows starting under the budget.
      "q_quota_mix" -> {
        import graft.ops.TextOps
        val stopHits = TextOps.stopwordHitsSql("text")
        s"""WITH q AS (
           |  SELECT doc_id, lang, source,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.5
           |      + least((CAST($stopHits AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 4.0, 1.0) * 0.3
           |      + (1.0 - least((CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 10.0, 1.0)) * 0.2 AS quality
           |  FROM read_parquet('$oracleSf/documents.parquet')),
           | capped AS (SELECT doc_id, lang, source, n_tokens, quality FROM (
           |   SELECT q.*, row_number() OVER (PARTITION BY lang, source
           |     ORDER BY quality DESC, doc_id ASC) AS rn FROM q) WHERE rn <= 2),
           | filled AS (SELECT capped.*, sum(n_tokens) OVER (PARTITION BY lang
           |   ORDER BY quality DESC, doc_id ASC
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM capped)
           |SELECT doc_id, lang, source, n_tokens, quality
           |FROM filled WHERE cum - n_tokens < 1000""".stripMargin
      },

      "q_pii_redact" -> {
        import graft.ops.TextOps
        s"""WITH d AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 2 THEN text
           |       ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
           |            || '@example.com or +1-555-'
           |            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END AS text
           |  FROM read_parquet('$oracleSf/documents.parquet'))
           |SELECT doc_id,
           |  ${TextOps.redactPiiSql("text")} AS redacted,
           |  ${TextOps.emailCountSql("text")} AS n_emails,
           |  ${TextOps.phoneCountSql("text")} AS n_phones
           |FROM d""".stripMargin
      },

      "q_sample_stratified" -> {
        val bucket = graft.ops.TextOps.fingerprintSql(
          "(lang || ':' || CAST(doc_id AS VARCHAR))")
        s"""SELECT doc_id, lang, sample_bucket FROM (
           |  SELECT doc_id, lang, CAST(($bucket) % 100 AS BIGINT) AS sample_bucket
           |  FROM read_parquet('$oracleSf/documents.parquet'))
           |WHERE sample_bucket < (CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 60
           |  WHEN 'fr' THEN 60 WHEN 'es' THEN 80 ELSE 90 END)""".stripMargin
      },

      // The engine's bucketed prefix-sum decomposition must equal the
      // plain global cumulative window per language — the oracle states
      // the semantics, the engine the scale shape.
      "q_token_shards" ->
        s"""SELECT doc_id, lang, n_tokens,
           |  CAST(floor((cum - n_tokens) / 500) AS BIGINT) AS shard
           |FROM (
           |  SELECT doc_id, lang,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           |    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
           |      PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM read_parquet('$oracleSf/documents.parquet'))""".stripMargin,

      // Same all-integer cut rule (100*count_le > pct*n) over the same
      // histogram; ties share a score, so both engines assign buckets
      // identically regardless of row order.
      "q_quality_buckets" ->
        s"""WITH d AS (SELECT doc_id, lang,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM read_parquet('$oracleSf/documents.parquet')),
           | h AS (SELECT lang, n_tokens, count(*) AS cnt FROM d GROUP BY 1, 2),
           | c AS (SELECT lang, n_tokens,
           |    sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle,
           |    sum(cnt) OVER (PARTITION BY lang) AS n FROM h),
           | lab AS (SELECT lang, n_tokens,
           |    CASE WHEN cle*100 > n*90 THEN 'head'
           |         WHEN cle*100 > n*50 THEN 'middle'
           |         ELSE 'tail' END AS bucket FROM c)
           |SELECT d.doc_id, d.lang, d.n_tokens, lab.bucket
           |FROM d JOIN lab USING (lang, n_tokens)""".stripMargin,

      "q_domain_stats" ->
        s"""SELECT regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
           |  CAST(count(*) AS BIGINT) AS n_pages,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           |  CAST(epoch(min(warc_ts)) AS BIGINT) AS first_ts,
           |  CAST(epoch(max(warc_ts)) AS BIGINT) AS last_ts,
           |  CAST(sum(length(text)) AS BIGINT) AS total_chars
           |FROM read_parquet('$oraclePages')
           |GROUP BY 1""".stripMargin,

      // Variant planting (pid%4 arms) and the canonicalization rules are
      // both re-stated from UrlOps' shared regex constants — DuckDB
      // evaluates the identical specification with its own regex engine.
      "q_url_canon" -> {
        import graft.ops.UrlOps
        val canon = UrlOps.canonicalizeUrlSql("raw_url")
        s"""WITH p AS (
           |  SELECT CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS page_id,
           |    url FROM read_parquet('$oraclePages')
           |), r AS (
           |  SELECT page_id,
           |    CASE
           |      WHEN page_id % 4 = 1 THEN url || '?utm_source=feed&b=2&a=1&ref=rss'
           |      WHEN page_id % 4 = 2 THEN
           |        regexp_replace(
           |          regexp_replace(url, '^https://example-', 'HTTPS://EXAMPLE-'),
           |          '\\.test/', '.TEST:443/') || '#frag'
           |      WHEN page_id % 4 = 3 THEN url || '/EXTRA/'
           |      ELSE url
           |    END AS raw_url
           |  FROM p)
           |SELECT page_id, raw_url, $canon AS canon_url,
           |  CAST($canon <> raw_url AS BIGINT) AS changed
           |FROM r""".stripMargin
      },

      "q_url_latest" ->
        s"""WITH p AS (
           |  SELECT url, warc_ts, text,
           |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
           |  FROM read_parquet('$oraclePages')
           |), m AS (
           |  SELECT CASE WHEN pid % 10 >= 7 THEN pid - pid % 10 ELSE pid END AS cid,
           |    warc_ts, text FROM p)
           |SELECT 'https://example-' || CAST(cid % 1000 AS VARCHAR)
           |    || '.test/page/' || CAST(cid AS VARCHAR) AS url,
           |  CAST(count(*) AS BIGINT) AS n_crawls,
           |  CAST(epoch(max(warc_ts)) AS BIGINT) AS kept_ts,
           |  arg_max(text, warc_ts) AS text
           |FROM m GROUP BY 1""".stripMargin,

      "q_outlinks" -> {
        import graft.ops.UrlOps
        s"""WITH p AS (
           |  SELECT url, decode(html) AS h0,
           |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
           |  FROM read_parquet('$oraclePages')
           |), w AS (
           |  SELECT regexp_extract(url, '${UrlOps.hostRe}', 1) AS src_host,
           |    h0 || '<a href="https://example-' || CAST((pid * 7) % 1000 AS VARCHAR)
           |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">a</a>'
           |       || '<a href="https://example-' || CAST((pid * 13) % 1000 AS VARCHAR)
           |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">b</a>' AS h
           |  FROM p
           |), e AS (
           |  SELECT src_host,
           |    unnest(regexp_extract_all(h, '${UrlOps.hrefRe}', 1)) AS href
           |  FROM w)
           |SELECT regexp_extract(href, '${UrlOps.hostRe}', 1) AS host,
           |  CAST(count(*) AS BIGINT) AS in_links,
           |  CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
           |FROM e GROUP BY 1""".stripMargin
      },

      // Edge construction re-stated from the q_outlinks planting; the
      // PageRank iterations come from LinkGraph.hostRankSql — the same
      // integer fixed-point specification the Spark side executes
      // (DuckDB `//` ≡ Spark `div` on non-negative BIGINTs).
      "q_host_rank" -> {
        import graft.ops.{LinkGraph, UrlOps}
        val edgesSql =
          s"""WITH p0 AS (
             |  SELECT url, decode(html) AS h0,
             |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
             |  FROM read_parquet('$oraclePages')
             |), w0 AS (
             |  SELECT regexp_extract(url, '${UrlOps.hostRe}', 1) AS src,
             |    h0 || '<a href="https://example-' || CAST((pid * 7) % 1000 AS VARCHAR)
             |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">a</a>'
             |       || '<a href="https://example-' || CAST((pid * 13) % 1000 AS VARCHAR)
             |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">b</a>' AS h
             |  FROM p0
             |), e0 AS (
             |  SELECT src,
             |    unnest(regexp_extract_all(h, '${UrlOps.hrefRe}', 1)) AS href
             |  FROM w0)
             |SELECT src, regexp_extract(href, '${UrlOps.hostRe}', 1) AS dst
             |FROM e0""".stripMargin
        LinkGraph.hostRankSql(edgesSql, iters = 3)
      },

      "q_keywords" ->
        s"""WITH t AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
           |  FROM read_parquet('$oracleSf/documents.parquet')
           |), tf AS (
           |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           |  FROM t WHERE token <> '' GROUP BY 1, 2
           |), dfq AS (
           |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
           |), r AS (
           |  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
           |    CAST(row_number() OVER (PARTITION BY tf.doc_id
           |      ORDER BY tf.tf DESC, dfq.df ASC, tf.token ASC) AS BIGINT)
           |      AS kw_rank
           |  FROM tf JOIN dfq USING (token))
           |SELECT doc_id, token, tf, df, kw_rank FROM r
           |WHERE kw_rank <= 3""".stripMargin,

      "q_crawl_delta" ->
        s"""WITH p AS (
           |  SELECT url, text,
           |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
           |  FROM read_parquet('$oraclePages')
           |), b AS (
           |  SELECT url,
           |    CASE WHEN pid % 5 = 0 THEN text || ' UPDATED' ELSE text END
           |      AS text
           |  FROM p WHERE pid % 7 <> 0
           |  UNION ALL
           |  SELECT url || '/v2' AS url, text FROM p WHERE pid % 13 = 0
           |), d AS (
           |  SELECT coalesce(a.url, b.url) AS url,
           |    CASE WHEN a.url IS NULL THEN 'added'
           |         WHEN b.url IS NULL THEN 'deleted'
           |         WHEN sha256(a.text) <> sha256(b.text) THEN 'changed'
           |         ELSE 'unchanged' END AS status,
           |    CASE WHEN b.url IS NULL THEN NULL
           |         ELSE sha256(b.text) END AS new_sha
           |  FROM p a FULL OUTER JOIN b ON a.url = b.url)
           |SELECT url, status, new_sha FROM d
           |WHERE status <> 'unchanged'""".stripMargin,

      "q_vocab_topk" ->
        s"""WITH t AS (
           |  SELECT lang, unnest(string_split(text, ' ')) AS token
           |  FROM read_parquet('$oracleSf/documents.parquet')
           |), c AS (
           |  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
           |  FROM t WHERE token <> '' GROUP BY 1, 2
           |), r AS (
           |  SELECT lang, token, cnt,
           |    CAST(row_number() OVER (PARTITION BY lang
           |      ORDER BY cnt DESC, token ASC) AS BIGINT) AS vrank
           |  FROM c)
           |SELECT lang, token, cnt, vrank FROM r WHERE vrank <= 20""".stripMargin,

      "q_anchor_text" -> {
        import graft.ops.UrlOps
        s"""WITH p0 AS (
           |  SELECT url, decode(html) AS h0,
           |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
           |  FROM read_parquet('$oraclePages')
           |), w0 AS (
           |  SELECT h0 || '<a href="https://example-' || CAST((pid * 7) % 1000 AS VARCHAR)
           |       || '.test/page/' || CAST(pid % 50 AS VARCHAR)
           |       || '">click ' || CAST(pid % 17 AS VARCHAR) || '</a>'
           |       || '<a href="https://example-' || CAST((pid * 13) % 1000 AS VARCHAR)
           |       || '.test/page/' || CAST(pid % 50 AS VARCHAR)
           |       || '">visit ' || CAST(pid % 11 AS VARCHAR) || '</a>' AS h
           |  FROM p0
           |), tg AS (
           |  SELECT unnest(regexp_extract_all(h, '${UrlOps.anchorTagRe}', 0)) AS tag
           |  FROM w0
           |), pr AS (
           |  SELECT regexp_extract(regexp_extract(tag, '${UrlOps.anchorTagRe}', 1),
           |      '${UrlOps.hostRe}', 1) AS host,
           |    regexp_extract(tag, '${UrlOps.anchorTagRe}', 2) AS anchor
           |  FROM tg
           |), c AS (
           |  SELECT host, anchor, CAST(count(*) AS BIGINT) AS cnt
           |  FROM pr GROUP BY 1, 2
           |), r AS (
           |  SELECT host, anchor, cnt,
           |    CAST(row_number() OVER (PARTITION BY host
           |      ORDER BY cnt DESC, anchor ASC) AS BIGINT) AS arank
           |  FROM c)
           |SELECT host, anchor, cnt, arank FROM r WHERE arank <= 3""".stripMargin
      },

      "q_crawl_rate" -> {
        import graft.ops.UrlOps
        // DuckDB epoch() is DOUBLE and CAST(double AS BIGINT) ROUNDS —
        // floor() explicitly to match Spark's integral `div` semantics.
        s"""WITH p AS (
           |  SELECT regexp_extract(url, '${UrlOps.hostRe}', 1) AS host,
           |    CAST(floor(epoch(warc_ts) / 86400) AS BIGINT) AS day
           |  FROM read_parquet('$oraclePages')
           |), d AS (
           |  SELECT host, CAST(day AS BIGINT) AS day,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM p GROUP BY 1, 2)
           |SELECT host, day, cnt,
           |  CAST(sum(cnt) OVER (PARTITION BY host ORDER BY day
           |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
           |    AS cnt_3d
           |FROM d""".stripMargin
      },

      // chr(769) = U+0301 COMBINING ACUTE, chr(8491) = U+212B ANGSTROM
      // SIGN — the same decomposed plants as the Spark side; DuckDB's
      // utf8proc nfc_normalize evaluates the same UAX #15 algorithm as
      // java.text.Normalizer.
      "q_text_norm" ->
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
           |         WHEN doc_id % 3 = 1 THEN text || ' ' || chr(8491)
           |         ELSE text END AS raw_text
           |  FROM read_parquet('$oracleSf/documents.parquet'))
           |SELECT doc_id, nfc_normalize(raw_text) AS norm_text,
           |  CAST(nfc_normalize(raw_text) <> raw_text AS BIGINT) AS changed,
           |  CAST(length(raw_text) AS BIGINT) AS len_raw,
           |  CAST(length(nfc_normalize(raw_text)) AS BIGINT) AS len_norm
           |FROM d""".stripMargin,

      // First-occurrence line filter via list_position = 1-based index
      // (Spark mirrors with array_position = i+1 on its 0-based index).
      "q_line_dedup" -> {
        import graft.ops.TextOps
        s"""WITH d AS (SELECT doc_id,
           |  CASE WHEN doc_id % 4 = 0
           |         THEN text || repeat(chr(10) || 'buy cheap widgets today', 4)
           |       WHEN doc_id % 4 = 1
           |         THEN text || chr(10) || 'alpha line' || chr(10) || 'beta line'
           |           || chr(10) || 'alpha line' || chr(10) || 'beta line'
           |       ELSE text END AS text
           |  FROM read_parquet('$oracleSf/documents.parquet'))
           |SELECT doc_id, ${TextOps.dedupLinesSql("text")} AS clean_text,
           |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
           |  CAST(len(string_split(${TextOps.dedupLinesSql("text")}, chr(10))) AS BIGINT) AS n_kept
           |FROM d""".stripMargin
      },

      "q_quality_repetition" -> {
        import graft.ops.TextOps
        val toks = "string_split(text, ' ')"
        s"""WITH d AS (SELECT doc_id,
           |  CASE WHEN doc_id % 4 = 0
           |         THEN text || repeat(chr(10) || 'buy cheap widgets today', 4)
           |       WHEN doc_id % 4 = 1
           |         THEN text || ' ' || repeat('limited time offer ', 16)
           |       ELSE text END AS text
           |  FROM read_parquet('$oracleSf/documents.parquet')),
           | f AS (SELECT doc_id,
           |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
           |  ${TextOps.dupFracSql("string_split(text, chr(10))")} AS dup_line_frac,
           |  ${TextOps.dupFracSql(TextOps.wordNgramsSql(toks, 2))} AS dup_2gram_frac,
           |  ${TextOps.dupFracSql(TextOps.wordNgramsSql(toks, 3))} AS dup_3gram_frac
           |  FROM d)
           |SELECT doc_id, n_lines, dup_line_frac, dup_2gram_frac, dup_3gram_frac,
           |  CAST((dup_line_frac <= 0.30 AND dup_2gram_frac <= 0.20
           |        AND dup_3gram_frac <= 0.18) AS BIGINT) AS keep
           |FROM f""".stripMargin
      },

      "q_boilerplate" ->
        s"""WITH d AS (SELECT doc_id,
           |  CASE WHEN doc_id % 5 = 0
           |       THEN h || chr(10) || 'all rights reserved worldwide'
           |       ELSE h END AS text
           |  FROM (SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 0
           |         THEN 'accept cookies to continue' || chr(10) || text
           |         ELSE text END AS h
           |    FROM read_parquet('$oracleSf/documents.parquet'))),
           | p AS (SELECT unnest(list_distinct(string_split(text, chr(10)))) AS para FROM d),
           | hot AS (SELECT para FROM (SELECT para, count(*) AS n_docs FROM p GROUP BY 1
           |   HAVING count(*) >= 50 ORDER BY n_docs DESC, para LIMIT 10)),
           | f AS (SELECT doc_id, string_split(text, chr(10)) AS paras,
           |       (SELECT coalesce(list(para), []) FROM hot) AS hotlist FROM d)
           |SELECT doc_id, CAST(len(paras) AS BIGINT) AS n_paras,
           |  CAST(len(paras) - len(list_filter(paras, q -> NOT list_contains(hotlist, q))) AS BIGINT) AS n_removed,
           |  array_to_string(list_filter(paras, q -> NOT list_contains(hotlist, q)), chr(10)) AS clean_text
           |FROM f""".stripMargin,

      "q_span_dedup" ->
        s"""WITH d AS (SELECT doc_id,
           |  CASE WHEN doc_id % 7 = 0
           |       THEN text || ' the quick brown fox jumps over the lazy dog again and again every single day forever'
           |       ELSE text END AS text
           |  FROM read_parquet('$oracleSf/documents.parquet')),
           | t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
           | s AS (SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
           |   for i in range(1, len(toks) - 6)]) AS span FROM t),
           | dup AS (SELECT span FROM (SELECT span, count(DISTINCT doc_id) AS nd
           |   FROM s GROUP BY 1) WHERE nd >= 2),
           | pd AS (SELECT doc_id, count(*) AS n_dup FROM s JOIN dup USING(span) GROUP BY 1)
           |SELECT t.doc_id, CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_spans,
           |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_spans,
           |  CASE WHEN len(toks) >= 8
           |       THEN CAST(coalesce(pd.n_dup, 0) AS DOUBLE) / CAST(len(toks) - 7 AS DOUBLE)
           |       ELSE 0.0 END AS dup_span_frac
           |FROM t LEFT JOIN pd USING (doc_id)""".stripMargin,

      // Same integer rule: keeper = min(doc_id) per duplicated span;
      // covered 1-based positions via range (exclusive end, so s..s+7);
      // DuckDB list_filter's index is 1-based like start1, and
      // array_to_string([]) is NULL where Spark's array_join gives ''.
      "q_span_rewrite" ->
        s"""WITH d AS (SELECT doc_id,
           |  CASE WHEN doc_id % 7 = 0
           |       THEN text || ' the quick brown fox jumps over the lazy dog again and again every single day forever'
           |       ELSE text END AS text
           |  FROM read_parquet('$oracleSf/documents.parquet')),
           | t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
           | s AS (SELECT doc_id, unnest([{'i': i,
           |     'sp': array_to_string(toks[i:i+7], ' ')}
           |   for i in range(1, len(toks) - 6)]) AS u FROM t),
           | s2 AS (SELECT doc_id, u.i AS start1, u.sp AS span FROM s),
           | st AS (SELECT span, min(doc_id) AS keeper FROM s2
           |   GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
           | rem AS (SELECT doc_id, list(DISTINCT start1) AS starts
           |   FROM s2 JOIN st USING (span) WHERE doc_id <> keeper GROUP BY 1),
           | cov AS (SELECT t.doc_id, toks,
           |   list_distinct(flatten([range(s, s+8) for s in coalesce(starts, [])])) AS covered
           |   FROM t LEFT JOIN rem USING (doc_id))
           |SELECT doc_id,
           |  coalesce(array_to_string(
           |    list_filter(toks, (x, j) -> NOT list_contains(covered, j)), ' '), '') AS clean_text,
           |  CAST(len(toks) - len(list_filter(toks, (x, j) -> NOT list_contains(covered, j))) AS BIGINT) AS n_removed
           |FROM cov""".stripMargin,

      "q_lang_id" ->
        s"""SELECT doc_id, ${graft.ops.TextOps.langIdSql("text")} AS pred_lang
           |FROM read_parquet('$oracleSf/documents.parquet')""".stripMargin,

      "q_fingerprint" ->
        s"""SELECT doc_id, ${graft.ops.TextOps.fingerprintSql("text")} AS fp
           |FROM read_parquet('$oracleSf/documents.parquet')""".stripMargin,

      "q_ngram_jaccard" ->
        s"""WITH docs AS (
           |  SELECT doc_id, text FROM read_parquet('$oracleSf/documents.parquet')
           |  WHERE doc_id < 250
           |  UNION ALL
           |  SELECT doc_id + 100000, text || ' graftdupmarker'
           |  FROM read_parquet('$oracleSf/documents.parquet') WHERE doc_id < 250
           |), grams AS (
           |  SELECT doc_id, list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
           |    for i in range(1, greatest(len(string_split(text, ' ')) - 1, 2))]) AS g
           |  FROM docs
           |)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |    / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) AS jaccard
           |FROM grams a, grams b
           |WHERE a.doc_id < b.doc_id
           |  AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |    / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) >= 0.6""".stripMargin,

      "q_embed_neardup" -> embedNearDupSql,

      // The LSH-bucketed pipeline must emit the identical pair set:
      // subset-by-construction + hash-equality = recall 1.0 on fixture.
      "q_embed_neardup_lsh" -> embedNearDupSql,

      "q_ann_top3" ->
        s"""WITH e AS (SELECT vec_id, embedding FROM read_parquet('$oracleSf/embeddings.parquet')),
           |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM e WHERE vec_id < 16)
           |SELECT q_id, vec_id, rank FROM (
           |  SELECT q.q_id, e.vec_id,
           |    CAST(row_number() OVER (PARTITION BY q.q_id
           |      ORDER BY list_cosine_similarity(q.q_vec, e.embedding) DESC,
           |               e.vec_id ASC) AS BIGINT) AS rank
           |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id
           |) WHERE rank <= 3""".stripMargin,

      // Same face/i/j derivation as q_cell_agg's oracle but at the snap
      // level: i_level = floor(s * 2^level) (identical to the engine's
      // stToIJ at level 30 followed by >> (30-level), exactly, because
      // floor(floor(s*2^30)/2^17) == floor(s*2^13) for s in [0,1]).
      "q_snap_e2" -> {
        val n = 1 << 13
        s"""$pagesCte, f1 AS (
           |  SELECT CASE WHEN abs(px) > abs(py)
           |    THEN (CASE WHEN abs(px) > abs(pz) THEN 0 ELSE 2 END)
           |    ELSE (CASE WHEN abs(py) > abs(pz) THEN 1 ELSE 2 END) END AS axis,
           |    px, py, pz FROM pts),
           | f2 AS (SELECT CASE WHEN axis = 0 AND px < 0 THEN 3
           |    WHEN axis = 1 AND py < 0 THEN 4
           |    WHEN axis = 2 AND pz < 0 THEN 5 ELSE axis END AS face,
           |    px, py, pz FROM f1),
           | uv AS (SELECT face,
           |  CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz
           |    WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS u,
           |  CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz
           |    WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS v
           |  FROM f2),
           | st AS (SELECT face,
           |  CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
           |  CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t
           |  FROM uv)
           |SELECT CAST(face AS BIGINT) AS face,
           |  CAST(greatest(0, least(${n - 1}, floor(s*$n))) AS BIGINT) AS si,
           |  CAST(greatest(0, least(${n - 1}, floor(t*$n))) AS BIGINT) AS sj,
           |  count(*) AS n
           |FROM st GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin
      },

      "q_tile_centroid" ->
        s"""$pagesCte
           |SELECT tx, ty, n,
           |  round(degrees(atan2(sz, sqrt(sx*sx + sy*sy))), 6) AS c_lat,
           |  round(degrees(atan2(sy, sx)), 6) AS c_lng
           |FROM (
           |  SELECT
           |    CAST(greatest(0, least(255, floor((lng + 180.0)/360.0*256.0))) AS BIGINT) AS tx,
           |    CAST(greatest(0, least(255, floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*256.0))) AS BIGINT) AS ty,
           |    count(*) AS n, sum(px) AS sx, sum(py) AS sy, sum(pz) AS sz
           |  FROM pts GROUP BY 1, 2
           |) WHERE n >= 5""".stripMargin,

      // Covering audit per occupied tile. The tile set and n_pages are
      // derived from the data (as q_tile_z12's oracle); covers_samples,
      // canonical, and within_max are ALL RE-DERIVED in SQL from the
      // covering cells the Spark side emitted as (face, leaf-ij box)
      // rows: each of the 5 interior sample points is projected to its
      // level-30 (face,si,sj) with the same pure quadratic-ST SQL
      // q_snap_e2 proved against the Hilbert path, then box-tested
      // against the emitted covering; canonicality = pairwise box
      // disjointness + no complete sibling quartet + the >maxCells
      // shared-ancestor rule (the full isCanonical semantics at
      // minLevel=0/levelMod=1).
      "q_tile_covering" ->
        s"""$pagesCte,
           | tiles AS (
           |  SELECT tx, ty, count(*) AS n_pages FROM (
           |   SELECT
           |    CAST(greatest(0, least(4095, floor((lng + 180.0)/360.0*4096.0))) AS BIGINT) AS tx,
           |    CAST(greatest(0, least(4095, floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat)))/pi())/2.0*4096.0))) AS BIGINT) AS ty
           |   FROM pts) GROUP BY tx, ty HAVING count(*) >= 2),
           | aux AS (SELECT * FROM read_parquet('${tileCoveringCellsPath(oracleSf)}/*.parquet')),
           | rect AS (
           |  SELECT tx, ty, n_pages,
           |   radians(tx/4096.0*360.0 - 180.0) AS lng_w,
           |   radians((tx+1)/4096.0*360.0 - 180.0) AS lng_e,
           |   radians(degrees(atan((exp(pi() - 2*pi()*ty/4096.0) - exp(-(pi() - 2*pi()*ty/4096.0)))/2))) AS lat_n,
           |   radians(degrees(atan((exp(pi() - 2*pi()*(ty+1)/4096.0) - exp(-(pi() - 2*pi()*(ty+1)/4096.0)))/2))) AS lat_s
           |  FROM tiles),
           | smp AS (
           |  SELECT tx, ty, n_pages, o.sid,
           |   (lat_s+lat_n)/2 + o.dy*(lat_n-lat_s)/4 AS slat,
           |   (lng_w+lng_e)/2 + o.dx*(lng_e-lng_w)/4 AS slng
           |  FROM rect, (VALUES (0,0,0),(-1,-1,1),(-1,1,2),(1,-1,3),(1,1,4)) AS o(dy,dx,sid)),
           | sp AS (SELECT tx, ty, n_pages, sid,
           |   cos(slng)*cos(slat) AS px, sin(slng)*cos(slat) AS py, sin(slat) AS pz
           |  FROM smp),
           | ax AS (SELECT tx, ty, n_pages, sid, px, py, pz,
           |  CASE WHEN abs(px) > abs(py)
           |    THEN (CASE WHEN abs(px) > abs(pz) THEN 0 ELSE 2 END)
           |    ELSE (CASE WHEN abs(py) > abs(pz) THEN 1 ELSE 2 END) END AS axis FROM sp),
           | fc AS (SELECT tx, ty, n_pages, sid, px, py, pz,
           |  CASE WHEN axis = 0 AND px < 0 THEN 3
           |    WHEN axis = 1 AND py < 0 THEN 4
           |    WHEN axis = 2 AND pz < 0 THEN 5 ELSE axis END AS face FROM ax),
           | uv AS (SELECT tx, ty, n_pages, sid, face,
           |  CASE face WHEN 0 THEN py/px WHEN 1 THEN -px/py WHEN 2 THEN -px/pz
           |    WHEN 3 THEN pz/px WHEN 4 THEN pz/py ELSE -py/pz END AS u,
           |  CASE face WHEN 0 THEN pz/px WHEN 1 THEN pz/py WHEN 2 THEN -py/pz
           |    WHEN 3 THEN py/px WHEN 4 THEN -px/py ELSE -px/pz END AS v FROM fc),
           | st AS (SELECT tx, ty, n_pages, sid, face,
           |  CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
           |  CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t FROM uv),
           | leafs AS (SELECT tx, ty, n_pages, sid, face,
           |  CAST(greatest(0, least(1073741823, floor(s*1073741824.0))) AS BIGINT) AS si,
           |  CAST(greatest(0, least(1073741823, floor(t*1073741824.0))) AS BIGINT) AS sj FROM st),
           | matched AS (
           |  SELECT l.tx, l.ty, l.n_pages, l.sid,
           |   max(CASE WHEN a.f IS NOT NULL THEN 1 ELSE 0 END) AS m
           |  FROM leafs l LEFT JOIN aux a
           |    ON a.tx = l.tx AND a.ty = l.ty AND a.f = l.face
           |   AND l.si BETWEEN a.i_lo AND a.i_hi AND l.sj BETWEEN a.j_lo AND a.j_hi
           |  GROUP BY 1, 2, 3, 4),
           | cov AS (SELECT tx, ty, n_pages, (min(m) = 1) AS covers_samples
           |  FROM matched GROUP BY 1, 2, 3),
           | cnt AS (SELECT tx, ty, count(*) AS n_cells FROM aux GROUP BY 1, 2),
           | fcnt AS (SELECT tx, ty, max(c) AS max_per_face FROM
           |   (SELECT tx, ty, f, count(*) AS c FROM aux GROUP BY 1, 2, 3)
           |  GROUP BY 1, 2),
           | auxn AS (SELECT *, row_number() OVER (
           |   PARTITION BY tx, ty ORDER BY f, i_lo, j_lo, i_hi) AS rid FROM aux),
           | ovl AS (SELECT DISTINCT a.tx, a.ty FROM auxn a JOIN auxn b
           |   ON a.tx = b.tx AND a.ty = b.ty AND a.f = b.f AND a.rid < b.rid
           |  AND a.i_lo <= b.i_hi AND b.i_lo <= a.i_hi
           |  AND a.j_lo <= b.j_hi AND b.j_lo <= a.j_hi),
           | quart AS (SELECT DISTINCT tx, ty FROM (
           |   SELECT tx, ty, f, (i_hi - i_lo + 1) AS span,
           |     i_lo // ((i_hi - i_lo + 1) * 2) AS pi,
           |     j_lo // ((j_hi - j_lo + 1) * 2) AS pj, count(*) AS c
           |   FROM aux WHERE (i_hi - i_lo + 1) < 1073741824
           |   GROUP BY 1, 2, 3, 4, 5, 6 HAVING count(*) = 4))
           |SELECT c.tx, c.ty, c.n_pages, c.covers_samples,
           |  ((o.tx IS NULL) AND (q.tx IS NULL)
           |   AND (cnt.n_cells <= 8 OR fc.max_per_face <= 1)) AS canonical,
           |  (cnt.n_cells <= 8) AS within_max
           |FROM cov c JOIN cnt ON cnt.tx = c.tx AND cnt.ty = c.ty
           |JOIN fcnt fc ON fc.tx = c.tx AND fc.ty = c.ty
           |LEFT JOIN ovl o ON o.tx = c.tx AND o.ty = c.ty
           |LEFT JOIN quart q ON q.tx = c.tx AND q.ty = c.ty""".stripMargin,

      "q_minhash_lsh" -> minhashExactPairsSql,
      "q_dedup_cluster" -> dedupClusterSql,

      // The streaming screen's at-least-once pair stream, distinct'd at
      // the sink, must equal the same exact batch set: state never
      // evicts mid-fixture (event-time span ~100 s << 5 min watermark)
      // and every bucket stays below the cap, so cross-batch pairs are
      // all observed.
      "q_stream_neardup" -> minhashExactPairsSql,

      // Eviction proof: only within-epoch pairs survive (the epochs are
      // separated by more than watermark + retention and the timeouts
      // are fired by sentinel batches before epoch B arrives). The 500
      // cross-epoch planted pairs in the unrestricted set act as the
      // tripwire: any one of them surviving fails the hash.
      "q_stream_evict" ->
        s"""SELECT a_id, b_id, jaccard FROM ($minhashExactPairsSql)
           |WHERE (a_id < 500 AND b_id < 500)
           |   OR (a_id >= 100000 AND b_id >= 100000)""".stripMargin,

      // Full SimHash reimplementation in SQL: FNV-1a 64 per token (the
      // fixture is pure ASCII, so codepoints == UTF-8 bytes), 64-bit
      // majority vote, then pigeonhole banding (4 x 16-bit chunks —
      // exact for Hamming <= 3: any such pair shares a chunk) WITH the
      // engine's hot-bucket cap mirrored (row_number by doc_id <= 256
      // per (chunk, key)). The cap is part of the operator's declared
      // semantics (the boundedness guard at corpus scale); mirroring it
      // keeps the gate's set-equality true at ANY scale factor — at
      // sf0.1 the cap genuinely binds (42 of 5492 exact pairs fall in
      // over-cap buckets) and an uncapped oracle would hash-mismatch.
      "q_simhash" -> {
        val fnv = """list_reduce(
          |  list_prepend(CAST(14695981039346656037 AS UBIGINT),
          |               [CAST(unicode(c) AS UBIGINT) for c in string_split(w, '')]),
          |  (acc, b) -> CAST((CAST(xor(acc, b) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT))""".stripMargin
        s"""WITH base AS (SELECT doc_id, text FROM read_parquet('$oracleSf/documents.parquet')),
           | docs AS (SELECT doc_id, text FROM base
           |          UNION ALL SELECT doc_id + 100000, text || ' graftdupmarker' FROM base),
           | hs AS (SELECT doc_id, [$fnv for w in string_split(text, ' ')] AS hs FROM docs),
           | sh AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS UBIGINT),
           |   [CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END for h in hs]) > 0
           |         THEN CAST(1 AS UBIGINT) << b ELSE CAST(0 AS UBIGINT) END
           |    for b in range(0, 64)]), (acc, v) -> CAST(acc + v AS UBIGINT)) AS sh FROM hs),
           | banded AS (SELECT doc_id, sh, c.chunk,
           |     (sh >> (c.chunk * 16)) & 65535 AS key,
           |     row_number() OVER (PARTITION BY c.chunk, (sh >> (c.chunk * 16)) & 65535
           |                        ORDER BY doc_id) AS rn
           |   FROM sh CROSS JOIN (VALUES (0), (1), (2), (3)) c(chunk)),
           | kept AS (SELECT * FROM banded WHERE rn <= 256)
           |SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS a_id,
           |  CAST(b.doc_id AS BIGINT) AS b_id,
           |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
           |FROM kept a JOIN kept b
           |  ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin
      },

      // Full hyperplane-LSH reimplementation in SQL: the 16 seeded
      // hyperplanes are baked as literals (same doubles the engine
      // broadcasts), signatures and 4-bit band buckets recomputed
      // independently, candidates re-ranked exactly.
      "q_ann_lsh" -> {
        val planes = graft.ops.Similarity.hyperplanes(16, 64, 42)
        val pv = planes.zipWithIndex.map { case (p, b) =>
          s"($b, [${p.map(x => f"$x%.17e").mkString(", ")}])"
        }.mkString(", ")
        s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
           |           FROM read_parquet('$oracleSf/embeddings.parquet')),
           | planes(bit, p) AS (VALUES $pv),
           | bits AS (SELECT e.vec_id, planes.bit,
           |    CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      [planes.p[i] * e.emb[i] for i in range(1, 65)]), (a, v) -> a + v) >= 0
           |      THEN CAST(1 AS BIGINT) << planes.bit ELSE CAST(0 AS BIGINT) END AS b
           |   FROM e CROSS JOIN planes),
           | sigs AS (SELECT vec_id, CAST(sum(b) AS BIGINT) AS sig FROM bits GROUP BY vec_id),
           | bands(band) AS (VALUES (0), (1), (2), (3)),
           | cbuck AS (SELECT vec_id, (CAST(band AS BIGINT) << 32) | ((sig >> (band*4)) & 15) AS bucket
           |           FROM sigs CROSS JOIN bands),
           | qbuck AS (SELECT vec_id AS q_id, bucket FROM cbuck WHERE vec_id < 16),
           | cands AS (SELECT DISTINCT q.q_id, c.vec_id
           |           FROM qbuck q JOIN cbuck c USING (bucket) WHERE c.vec_id <> q.q_id)
           |SELECT q_id, vec_id, rank FROM (
           |  SELECT ca.q_id, ca.vec_id,
           |    CAST(row_number() OVER (PARTITION BY ca.q_id
           |      ORDER BY list_cosine_similarity(eq.emb, ec.emb) DESC, ca.vec_id ASC) AS BIGINT) AS rank
           |  FROM cands ca JOIN e eq ON eq.vec_id = ca.q_id JOIN e ec ON ec.vec_id = ca.vec_id)
           |WHERE rank <= 3""".stripMargin
      },

      // Full IVF reimplementation in SQL: same deterministic coarse
      // quantizer (16 lowest-id vectors), argmax assignment with
      // first-wins ties, nProbe=4 probing, exact re-rank.
      "q_ann_ivf" ->
        s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
           |           FROM read_parquet('$oracleSf/embeddings.parquet')),
           | cent AS (SELECT vec_id AS c, emb AS cvec FROM e WHERE vec_id < 16),
           | assign AS (SELECT vec_id, c FROM (
           |    SELECT e.vec_id, cent.c,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY list_cosine_similarity(e.emb, cent.cvec) DESC, cent.c ASC) AS rn
           |    FROM e CROSS JOIN cent) WHERE rn = 1),
           | probes AS (SELECT q_id, c FROM (
           |    SELECT e.vec_id AS q_id, cent.c,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY list_cosine_similarity(e.emb, cent.cvec) DESC, cent.c ASC) AS rn
           |    FROM e CROSS JOIN cent WHERE e.vec_id < 16) WHERE rn <= 4),
           | cands AS (SELECT p.q_id, a.vec_id FROM probes p JOIN assign a USING (c)
           |           WHERE a.vec_id <> p.q_id)
           |SELECT q_id, vec_id, rank FROM (
           |  SELECT ca.q_id, ca.vec_id,
           |    CAST(row_number() OVER (PARTITION BY ca.q_id
           |      ORDER BY list_cosine_similarity(eq.emb, ec.emb) DESC, ca.vec_id ASC) AS BIGINT) AS rank
           |  FROM cands ca JOIN e eq ON eq.vec_id = ca.q_id JOIN e ec ON ec.vec_id = ca.vec_id)
           |WHERE rank <= 3""".stripMargin,

      // Lloyd-refined IVF, fully re-run in SQL: two k-means iterations
      // (argmax assignment with first-wins ties, per-dim means computed
      // as sum/count then rounded to float — the exact arithmetic shape
      // of the Scala side's (sum/n).toFloat, so the only residual noise
      // is double-summation order, pinned harmless by KmeansMarginSpec's
      // tie-margin assertions), then the same
      // assignment / nProbe=4 probing / exact re-rank as q_ann_ivf.
      // Ranking by dot/(|e||c|) vs the Scala loop's dot/sqrt(na*nb) is
      // the same quantity; margins dwarf summation-order noise.
      "q_ann_ivf_kmeans" ->
        s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
           |           FROM read_parquet('$oracleSf/embeddings.parquet')),
           | dims AS (SELECT unnest(range(64)) AS dim),
           | c0 AS (SELECT vec_id AS c, dim, emb[dim+1] AS val FROM e, dims WHERE vec_id < 16),
           | s0 AS (SELECT e.vec_id, cr.c,
           |    sum(e.emb[cr.dim+1]*cr.val) /
           |    sqrt(sum(e.emb[cr.dim+1]*e.emb[cr.dim+1])*sum(cr.val*cr.val)) AS s
           |  FROM e CROSS JOIN c0 cr WHERE cr.dim >= 0 GROUP BY e.vec_id, cr.c),
           | a0 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
           |  FROM s0) WHERE rn = 1),
           | m0 AS (SELECT a.c, d.dim,
           |   CAST(CAST(sum(e.emb[d.dim+1])/count(*) AS REAL) AS DOUBLE) AS val
           |  FROM a0 a JOIN e ON e.vec_id = a.vec_id CROSS JOIN dims d GROUP BY a.c, d.dim),
           | c1 AS (SELECT p.c, p.dim, COALESCE(m.val, p.val) AS val
           |  FROM c0 p LEFT JOIN m0 m ON m.c = p.c AND m.dim = p.dim),
           | s1 AS (SELECT e.vec_id, cr.c,
           |    sum(e.emb[cr.dim+1]*cr.val) /
           |    sqrt(sum(e.emb[cr.dim+1]*e.emb[cr.dim+1])*sum(cr.val*cr.val)) AS s
           |  FROM e CROSS JOIN c1 cr WHERE cr.dim >= 0 GROUP BY e.vec_id, cr.c),
           | a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
           |  FROM s1) WHERE rn = 1),
           | m1 AS (SELECT a.c, d.dim,
           |   CAST(CAST(sum(e.emb[d.dim+1])/count(*) AS REAL) AS DOUBLE) AS val
           |  FROM a1 a JOIN e ON e.vec_id = a.vec_id CROSS JOIN dims d GROUP BY a.c, d.dim),
           | c2 AS (SELECT p.c, p.dim, COALESCE(m.val, p.val) AS val
           |  FROM c1 p LEFT JOIN m1 m ON m.c = p.c AND m.dim = p.dim),
           | s2 AS (SELECT e.vec_id, cr.c,
           |    sum(e.emb[cr.dim+1]*cr.val) /
           |    sqrt(sum(e.emb[cr.dim+1]*e.emb[cr.dim+1])*sum(cr.val*cr.val)) AS s
           |  FROM e CROSS JOIN c2 cr WHERE cr.dim >= 0 GROUP BY e.vec_id, cr.c),
           | assign AS (SELECT vec_id, c FROM (SELECT vec_id, c,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
           |  FROM s2) WHERE rn = 1),
           | probes AS (SELECT vec_id AS q_id, c FROM (SELECT vec_id, c,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
           |  FROM s2 WHERE vec_id < 16) WHERE rn <= 4),
           | cands AS (SELECT p.q_id, a.vec_id FROM probes p JOIN assign a USING (c)
           |           WHERE a.vec_id <> p.q_id)
           |SELECT q_id, vec_id, rank FROM (
           |  SELECT ca.q_id, ca.vec_id,
           |    CAST(row_number() OVER (PARTITION BY ca.q_id
           |      ORDER BY list_cosine_similarity(eq.emb, ec.emb) DESC, ca.vec_id ASC) AS BIGINT) AS rank
           |  FROM cands ca JOIN e eq ON eq.vec_id = ca.q_id JOIN e ec ON ec.vec_id = ca.vec_id)
           |WHERE rank <= 3""".stripMargin,

      // SQ8: identical quantization arithmetic (max-abs in double, one
      // multiply+divide+floor per element — IEEE-deterministic on both
      // engines), exact BIGINT code dot rescaled by the corpus vector's
      // stored factor maxabs/127 (one int64->double conversion + two
      // IEEE ops on shared operands), top-3 per query by (score, id).
      "q_ann_sq8" ->
        s"""WITH e AS (SELECT vec_id, embedding FROM read_parquet('$oracleSf/embeddings.parquet')),
           | m AS (SELECT vec_id, embedding,
           |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs FROM e),
           | c AS (SELECT vec_id, maxabs/127.0 AS scale,
           |   CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
           |        ELSE list_transform(embedding, x ->
           |          CAST(floor(CAST(x AS DOUBLE)*127.0/maxabs) AS INTEGER)) END AS codes
           |   FROM m),
           | q AS (SELECT vec_id AS q_id, codes AS q_codes FROM c WHERE vec_id < 16),
           | d AS (SELECT q.q_id, c.vec_id,
           |   CAST(list_sum(list_transform(list_zip(q.q_codes, c.codes),
           |     t -> CAST(t[1] AS BIGINT) * t[2])) AS BIGINT)
           |     * CAST(c.scale AS DOUBLE) AS score
           |  FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id)
           |SELECT q_id, vec_id, rank FROM (
           |  SELECT q_id, vec_id, CAST(row_number() OVER (PARTITION BY q_id
           |    ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank FROM d)
           |WHERE rank <= 3""".stripMargin,

      // IVF stage copied from q_ann_ivf's oracle (cosine assignment,
      // nProbe=4, first-wins ties); scoring stage copied from
      // q_ann_sq8's (codes, rescaled BIGINT dot). Candidates come only
      // from probed lists; ranking is the quantized ordering.
      "q_ann_ivf_sq8" ->
        s"""WITH e AS (SELECT vec_id, embedding,
           |           [CAST(x AS DOUBLE) for x in embedding] AS emb
           |           FROM read_parquet('$oracleSf/embeddings.parquet')),
           | cent AS (SELECT vec_id AS c, emb AS cvec FROM e WHERE vec_id < 16),
           | assign AS (SELECT vec_id, c FROM (
           |    SELECT e.vec_id, cent.c,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY list_cosine_similarity(e.emb, cent.cvec) DESC, cent.c ASC) AS rn
           |    FROM e CROSS JOIN cent) WHERE rn = 1),
           | probes AS (SELECT q_id, c FROM (
           |    SELECT e.vec_id AS q_id, cent.c,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY list_cosine_similarity(e.emb, cent.cvec) DESC, cent.c ASC) AS rn
           |    FROM e CROSS JOIN cent WHERE e.vec_id < 16) WHERE rn <= 4),
           | m AS (SELECT vec_id,
           |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
           |   embedding FROM e),
           | codes AS (SELECT vec_id, maxabs/127.0 AS scale,
           |   CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
           |        ELSE list_transform(embedding, x ->
           |          CAST(floor(CAST(x AS DOUBLE)*127.0/maxabs) AS INTEGER)) END AS cds
           |   FROM m),
           | cands AS (SELECT p.q_id, a.vec_id FROM probes p JOIN assign a USING (c)
           |           WHERE a.vec_id <> p.q_id),
           | d AS (SELECT ca.q_id, ca.vec_id,
           |   CAST(list_sum(list_transform(list_zip(cq.cds, cc.cds),
           |     t -> CAST(t[1] AS BIGINT) * t[2])) AS BIGINT)
           |     * CAST(cc.scale AS DOUBLE) AS score
           |  FROM cands ca JOIN codes cq ON cq.vec_id = ca.q_id
           |                JOIN codes cc ON cc.vec_id = ca.vec_id)
           |SELECT q_id, vec_id, rank FROM (
           |  SELECT q_id, vec_id, CAST(row_number() OVER (PARTITION BY q_id
           |    ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank FROM d)
           |WHERE rank <= 3""".stripMargin,

      // The bloom screen's RESULT is exact (false positives only route
      // extra rows through the confirm join), so the oracle is the plain
      // distinct anti-join over the same planted candidate arms.
      "q_frontier_bloom" ->
        s"""WITH p AS (SELECT url,
           |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
           |  FROM read_parquet('$oraclePages')),
           | cand AS (
           |   SELECT url FROM p WHERE pid % 3 = 0
           |   UNION ALL
           |   SELECT 'https://example-' || CAST((pid - pid % 7) % 1000 AS VARCHAR)
           |     || '.test/page/' || CAST(pid - pid % 7 AS VARCHAR) AS url
           |   FROM p WHERE pid % 5 = 0
           |   UNION ALL
           |   SELECT 'https://example-' || CAST(pid % 1000 AS VARCHAR)
           |     || '.test/page/new/' || CAST(pid AS VARCHAR) AS url
           |   FROM p WHERE pid % 2 = 0)
           |SELECT DISTINCT c.url FROM cand c
           |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.url = c.url)""".stripMargin,

      // Ground truth for the decoders: payload parameters are pure
      // integer functions of the id (Multimodal.imageDims etc.); the
      // means are exact because payloads are constant-valued (sum =
      // value * n is an exact double, and IEEE division returns the
      // exact quotient).
      "q_multimodal" ->
        s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id)
           |SELECT CAST(id AS BIGINT) AS media_id,
           |  CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           |  CAST(CASE id % 3 WHEN 0 THEN 16 + id % 48 WHEN 1 THEN 256 + id % 512
           |       ELSE 16 + id % 8 END AS BIGINT) AS width,
           |  CAST(CASE id % 3 WHEN 0 THEN 16 + id % 32 WHEN 1 THEN 1
           |       ELSE 16 + id % 8 END AS BIGINT) AS height,
           |  CAST(CASE id % 3 WHEN 1 THEN 1 ELSE 3 END AS BIGINT) AS channels,
           |  CAST(CASE id % 3 WHEN 0 THEN 1 WHEN 1 THEN 256 + id % 512
           |       ELSE 2 + id % 4 END AS BIGINT) AS n_frames,
           |  CASE id % 3 WHEN 1 THEN CAST((id % 2000) - 1000 AS DOUBLE)
           |       ELSE CAST((id * 37) % 256 AS DOUBLE) END AS mean0
           |FROM ids""".stripMargin,

      "q_dedup_exact" ->
        s"""SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
           |FROM read_parquet('$oracleSf/documents.parquet')
           |GROUP BY text HAVING count(*) >= 1""".stripMargin,

      // Same planted arms, same extraction chain (TextOps.extractTextSql
      // shares the regex/entity constants with the engine), so extracted
      // text is byte-identical — including arm 3's entity decode, which
      // only the oracle's own replace chain derives.
      "q_extract_text" -> {
        import graft.ops.TextOps
        s"""WITH p AS (
           |  SELECT url, text, decode(html) AS body,
           |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
           |  FROM read_parquet('$oraclePages')
           |), h AS (
           |  SELECT url, text, CASE pid % 4
           |    WHEN 0 THEN body
           |    WHEN 1 THEN '<html><head><script type="text/javascript">var x = "<div>";'
           |      || chr(10) || 'if (x) { x = 1; }</script><style>.c{color:red}</style></head><body>'
           |      || text || '</body></html>'
           |    WHEN 2 THEN '<html><body><div class="m"><a href="https://x.test/">'
           |      || text || '</a><br/></div></body></html>'
           |    ELSE '<html><body>' || text
           |      || ' &amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</body></html>'
           |  END AS html FROM p)
           |SELECT url, ${TextOps.extractTextSql("html")} AS extracted,
           |  (${TextOps.extractTextSql("html")} = text) AS matches_text
           |FROM h""".stripMargin
      },

      "q_text_invariant" ->
        s"""WITH pages AS (
           |  SELECT url, text,
           |    $parseGeoSqlLat AS lat,
           |    $parseGeoSqlLng AS lng
           |  FROM read_parquet('$oraclePages')
           |)
           |SELECT DISTINCT url, sha256(text) AS text_sha FROM pages, (${
          cityRects.map { case (id, latLo, lngLo, latHi, lngHi) =>
            s"SELECT $id AS rid, $latLo AS a, $lngLo AS b, $latHi AS c, $lngHi AS d"
          }.mkString(" UNION ALL ")}) r
           |WHERE lat BETWEEN r.a AND r.c AND lng BETWEEN r.b AND r.d""".stripMargin
    )
  }
}
