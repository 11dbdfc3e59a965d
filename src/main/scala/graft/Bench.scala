package graft

import org.apache.spark.sql.SparkSession
import graft.gate.{Evidence, Gate}

/** Driver benchmark: runs the gated queries at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. The headline metric mirrors BASELINE.json:
  * cells encoded + PIP-joined rows/sec (pages through geocode -> cell
  * encode -> covering join -> exact refine), measured after warmup with
  * the pages fixture pre-materialized so I/O of fixture *generation* is
  * excluded from the measurement.
  */
object Bench {
  /** Ensure the fixed-row pages fixture exists and return its path.
    * (10M rows for the driver headline: at 2M rows the measurement was
    * dominated by fixed stage/task dispatch overhead — ~0.2s of a
    * ~0.38s run; 10M puts >80% of the wall in the actual
    * scan+encode+join work the metric names.)
    */
  def ensurePagesFixture(spark: SparkSession, rows: Long): String = {
    val path = s"${Local.workDir}/pages_n$rows.parquet"
    if (!new java.io.File(path).exists()) {
      graft.sources.PagesSource.generate(spark, rows)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Headline throughput at an explicit row count (scaling experiments). */
  def headlineRowsPerSecAt(spark: SparkSession, rows: Long): (Double, Long) =
    timeHeadline(spark, ensurePagesFixture(spark, rows))

  private def timeHeadline(spark: SparkSession, path: String): (Double, Long) = {
    val n = headlineRowCount(spark, path)
    headlineOnce(spark, path) // warmup
    // Best-of-5: this sandbox shares a noisy host (load avg >5 with no
    // local processes), so min wall is the only robust statistic.
    val walls = Seq.fill(5)(headlineOnce(spark, path)).sorted
    (n / walls.head, n)
  }

  def headlineRowCount(spark: SparkSession, path: String): Long =
    graft.sources.PagesSource.withLatLng(spark.read.parquet(path)).count()

  /** One timed headline iteration: pages scan -> geocode parse -> S2 cell
    * encode -> broadcast covering PIP join -> count. Returns wall seconds.
    */
  def headlineOnce(spark: SparkSession, path: String): Double = {
    import org.apache.spark.sql.functions._
    val pages = graft.sources.PagesSource.withLatLng(spark.read.parquet(path))
    val t0 = System.nanoTime()
    graft.ops.SpatialJoin.pipJoin(spark, pages, graft.gate.GeoGate.cityPolygons)
      .select(count(graft.functions.S2.cellId(col("lat"), col("lng")))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg1m(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** A `local[cores]` session whose file splits are finer than the
    * 128 MB default: the 10M-row (~1 GB) headline parquet otherwise
    * coalesces into far fewer splits than cores and caps scan parallelism.
    */
  def session(cores: Int): SparkSession = {
    val spark = Local.session(cores)
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Local.cpus
    val spark = session(cpus)

    // Pre-materialize the pages fixture so generation cost is not timed.
    graft.sources.PagesSource.pagesParquet(spark, sfDir)
    val pagesPath = ensurePagesFixture(spark, 10000000L)
    val nRows = headlineRowCount(spark, pagesPath)

    // Headline protocol (round 4, after three rounds of weather-polluted
    // artifacts): instead of 5 contiguous iterations — which a single
    // correlated neighbor-load spike poisons wholesale — the headline
    // iterations are INTERLEAVED across the query sweep (one before each
    // sweep chunk, one after), spreading them over the full ~2-minute run.
    // Each sample carries its own 1-minute loadavg so the artifact
    // documents its measurement weather per-sample rather than
    // pretending the min is the truth.
    def dropResidue(): Unit = {
      // Cached blocks, finished-stage shuffle files and old-gen garbage
      // from earlier phases pollute later timings (r3 measured a 17%
      // artifact regression from ordering alone).
      spark.catalog.clearCache()
      spark.sparkContext.parallelize(Seq(1)).count()
      System.gc()
    }

    headlineOnce(spark, pagesPath) // warmup: plans compiled, codegen JIT'd
    // (wall, loadavg) per headline sample
    val samples = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    def takeSample(): Unit = {
      dropResidue()
      val load = loadavg1m()
      samples += ((headlineOnce(spark, pagesPath), load))
    }

    val sweep = Gate.all.sortBy(_.name)
    val chunkSize = math.max(1, math.ceil(sweep.size / 5.0).toInt)
    val chunks = sweep.grouped(chunkSize).toSeq
    val results = scala.collection.mutable.ArrayBuffer[(String, Double, Boolean, Double)]()
    chunks.foreach { chunk =>
      takeSample()
      chunk.foreach { q =>
        try { q.build(spark, sfDir).count() } catch { case _: Throwable => } // warm
        val load = loadavg1m()
        val t0 = System.nanoTime()
        val ok = try { q.build(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        results += ((q.name, (System.nanoTime() - t0) / 1e9, ok, load))
      }
    }
    takeSample()

    val walls = samples.map(_._1)
    val rpsBest = nRows / walls.min

    // Skew rehearsal (the north rule's hot-cell claim): the shuffle-path
    // PIP join on a fixture with 55% of rows in ONE level-14 cell vs the
    // unskewed fixture, AQE skew thresholds scaled to the fixture (at
    // 100 TB the hot partition crosses the 256 MB default naturally).
    var skewRatio = -1.0
    var skewEngaged = false
    val skewJson = try {
      val skewPath = {
        val p = s"${Local.workDir}/pages_skew_n$nRows.parquet"
        if (!new java.io.File(p).exists())
          graft.sources.PagesSource.generateSkewed(spark, nRows)
            .write.mode("overwrite").parquet(p)
        p
      }
      val skewConf = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB")
      val saved = skewConf.map { case (k, _) => k -> spark.conf.getOption(k) }
      skewConf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
      def shuffleJoin(path: String) = graft.ops.ShuffleSpatialJoin.pipJoinLarge(
        spark, graft.sources.PagesSource.withLatLng(spark.read.parquet(path)),
        graft.gate.GeoGate.cityPolygons)
      def runOnce(path: String): (Double, org.apache.spark.sql.DataFrame) = {
        dropResidue()
        val df = shuffleJoin(path)
        val t0 = System.nanoTime()
        // noop sink executes THIS df's plan (count() would finalize a
        // different QueryExecution, hiding the adaptive join nodes)
        df.write.mode("overwrite").format("noop").save()
        ((System.nanoTime() - t0) / 1e9, df)
      }
      runOnce(skewPath); runOnce(pagesPath) // warm both plans
      val pairs = (0 until 3).map { _ =>
        (runOnce(skewPath)._1, runOnce(pagesPath)._1)
      }
      // Engagement check on the SAME QueryExecution that ran: noop/count
      // wrap the plan in their own QueryExecution whose adaptive nodes
      // never finalize, so drive this df's plan directly via toRdd.
      val dfS = shuffleJoin(skewPath)
      dfS.queryExecution.toRdd.foreach(_ => ())
      var engaged = false
      locally {
        import org.apache.spark.sql.execution._
        import org.apache.spark.sql.execution.adaptive._
        import org.apache.spark.sql.execution.joins._
        def walk(p: SparkPlan): Unit = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case j: SortMergeJoinExec =>
            if (j.isSkewJoin) engaged = true; j.children.foreach(walk)
          case other => other.children.foreach(walk)
        }
        walk(dfS.queryExecution.executedPlan)
      }
      val bestS = pairs.map(_._1).min
      val bestU = pairs.map(_._2).min
      skewRatio = bestS / bestU
      skewEngaged = engaged
      s""","skew_rehearsal":{"rows":$nRows,"hot_frac":0.55,"skewed_wall_sec":$bestS,"unskewed_wall_sec":$bestU,"ratio":${bestS / bestU},"skew_split_engaged":$engaged,"protocol":"shuffle-path PIP join, 3 interleaved (skewed,unskewed) pairs after warmup, best wall per side, noop sink"}"""
      } finally saved.foreach {
        // restore in a finally: an exception mid-rehearsal must not leave
        // the 16MB/2.0 skew thresholds on the shared session
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    } catch { case e: Exception =>
      s""","skew_rehearsal":{"error":"${e.getClass.getName}"}"""
    }

    // A crashed query must not masquerade as a fast timing: report -1 for
    // its wall time and list it under "errors".
    val qs = results.map { case (k, v, ok, _) => "\"" + k + "\":" + (if (ok) v else -1) }
      .mkString("{", ",", "}")
    // per-query measurement weather: the sweep spans ~2 min on a shared
    // host, so a single end-of-run loadavg cannot explain which query
    // timings a neighbor spike landed on.
    val qload = results.map { case (k, _, _, l) => "\"" + k + "\":" + l }
      .mkString("{", ",", "}")
    val errs = results.filter(!_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    // The engine subtotal leaves out Evidence queries, so the sweep can be
    // compared across rounds mechanically (VERDICT r4 "Next" #2).
    val evidenceQueries = sweep.filter(_.kind == Evidence).map(_.name)
    val totalEngine = results.filter(r => r._3 && !evidenceQueries.contains(r._1)).map(_._2).sum
    val evidenceJson = evidenceQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sampleJson = samples.map { case (w, l) =>
      s"""{"wall_sec":$w,"rows_per_sec":${nRows / w},"loadavg":$l}"""
    }.mkString("[", ",", "]")
    val fullJson = s"""{"metric":"cells encoded + PIP-joined rows/sec","value":$rpsBest,"unit":"rows/sec","headline_samples":$sampleJson,"headline_protocol":"6 iterations interleaved across the query sweep (cache cleared before each), not one contiguous window","total_query_sec":$total,"total_engine_sec":$totalEngine,"evidence_queries":$evidenceJson,"headline_rows":$nRows,"cpus":$cpus,"loadavg":${loadavg1m()},"queries":$qs,"query_loadavg":$qload,"errors":$errs,"sf":"$sfDir"$skewJson}"""
    // The full artifact line outgrew the driver's tail-capture window in
    // r4 (parsed=null for the 4th round: the window starts mid-line and
    // the headline fields at the front are cut off). Persist the full
    // artifact to a file, print it, then print a COMPACT headline line
    // LAST so the tail always contains one complete parseable JSON line.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(Local.workDir, "bench_full.json"), fullJson + "\n")
    catch { case _: Exception => }
    println(fullJson)
    println(s"""{"metric":"cells encoded + PIP-joined rows/sec","value":$rpsBest,"unit":"rows/sec","total_query_sec":$total,"total_engine_sec":$totalEngine,"headline_rows":$nRows,"cpus":$cpus,"loadavg":${loadavg1m()},"skew_ratio":$skewRatio,"skew_split_engaged":$skewEngaged,"errors":$errs,"sf":"$sfDir","full_artifact":"work/bench_full.json"}""")
    spark.stop()
  }
}

/** Two-parallelism scaling experiment (north rule: throughput at N and 4N
  * cores on identical input; efficiency = (T_hi/T_lo)/(cores_hi/cores_lo)).
  * Runs local[8] then local[32] in fresh sessions and writes BENCH_local.md.
  */
object ScalingBench {
  def runAt(cores: Int, benchRows: Long): (Double, Long) = {
    val spark = Bench.session(cores)
    val out = Bench.headlineRowsPerSecAt(spark, benchRows)
    spark.stop()
    // clear the stopped session so the next builder creates a fresh one
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    out
  }

  /** `runMain graft.ScalingBench <rows> <coresA> <coresB> <pairs>`:
    * alternates fresh sessions at the two parallelism levels (A,B,A,B,...)
    * and reports the best throughput per level. Interleaved best-of is the
    * only robust protocol on this sandbox's shared host (load average >5
    * from neighbors with nothing local running; single measurements swing
    * 3x). With a single-level argument pair it prints one SCALING_RESULT
    * line instead.
    */
  def main(args: Array[String]): Unit = {
    val benchRows = if (args.nonEmpty) args(0).toLong else 10000000L
    if (args.length == 2) {
      val cores = args(1).toInt
      val (rps, n) = runAt(cores, benchRows)
      println(s"""SCALING_RESULT {"rows":$n,"cores":$cores,"rows_per_sec":$rps}""")
      return
    }
    val loCores = if (args.length > 1) args(1).toInt else 8
    val hiCores = if (args.length > 2) args(2).toInt else 32
    val pairs = if (args.length > 3) args(3).toInt else 3
    var rpsLo = 0.0
    var rpsHi = 0.0
    var n = 0L
    for (_ <- 0 until pairs) {
      val (lo, n0) = runAt(loCores, benchRows)
      val (hi, _) = runAt(hiCores, benchRows)
      rpsLo = math.max(rpsLo, lo)
      rpsHi = math.max(rpsHi, hi)
      n = n0
      println(s"""SCALING_PAIR {"lo":$lo,"hi":$hi}""")
    }
    val efficiency = (rpsHi / rpsLo) / (hiCores.toDouble / loCores)
    val md =
      s"""# BENCH — local scaling evidence (north rule)
         |
         |Headline pipeline: pages -> geocode parse -> S2 cell encode ->
         |broadcast covering PIP join (8 city polygons, interior fast path +
         |exact refine) -> count. Zero shuffles in the measured job; input
         |split 4x finer than cores.
         |
         |Protocol: $pairs interleaved (A,B) pairs of fresh sessions in one
         |JVM, best-of-5 timed iterations per session after warmup, best
         |throughput per level. Interleaved best-of is required because the
         |sandbox shares a noisy host (load average >5 with no local
         |processes; raw single runs swing 3x). Input: deterministic pages
         |fixture, $n rows (~2 GB parquet), identical bytes for both levels.
         |
         || cores | best throughput (rows/sec) |
         ||---|---|
         || $loCores | ${math.round(rpsLo)} |
         || $hiCores | ${math.round(rpsHi)} |
         |
         |Scaling efficiency (vs linear $loCores -> $hiCores):
         |  (T_hi/T_lo)/(cores_hi/cores_lo) = ${f"$efficiency%.3f"}
         |
         |Caveats measured on this host: per-task CPU time inflates ~3x when
         |running 32 threads vs 8 on identical work (SMT + neighbor
         |contention measured via stage executorRunTime), so the hardware
         |ceiling for 8->32 efficiency here is ~0.5-0.6 even for perfectly
         |parallel code. Plan-level evidence of scalability: the measured
         |job is a single map stage (scan -> parse -> encode -> broadcast
         |probe) + 1-task reduce, no exchange, tasks balanced by input
         |splits -- the shape that scales linearly when N and 4N executors
         |have dedicated cores.
         |""".stripMargin
    // BENCH_local.md is the curated multi-run record; raw output goes to
    // its own file so a rerun cannot clobber the curation.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(Local.workDir).resolveSibling("BENCH_scaling_last.md"), md)
    println(md)
    println(s"""SCALING_FINAL {"rows":$n,"cores_lo":$loCores,"cores_hi":$hiCores,"rps_lo":$rpsLo,"rps_hi":$rpsHi,"efficiency":$efficiency}""")
  }
}
