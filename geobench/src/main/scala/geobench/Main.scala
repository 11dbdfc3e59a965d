package geobench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{CellId, LatLng, Loop}
import graft.functions.S2
import graft.sources.PagesSource
import scala.collection.mutable.ArrayBuffer

/** Metric names and units; BENCHMARK.json lists the same. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "wall_s" -> "s", "cpu_s" -> "s", "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "peel.scan_cpu_ns_per_row" -> "ns/row", "peel.parse_cpu_ns_per_row" -> "ns/row",
    "peel.encode_cpu_ns_per_row" -> "ns/row", "peel.join_cpu_ns_per_row" -> "ns/row",
    "core.encode_ns" -> "ns", "ops.index_probe_ns" -> "ns", "core.refine_ns" -> "ns",
    "core.cover_us_per_polygon" -> "us", "core.cover_cells_per_polygon" -> "count",
    "driver.cover_s" -> "s",
    "ops.index_build_ms" -> "ms", "ops.index_cells" -> "count", "ops.index_levels" -> "count",
    "ops.broadcast_est_bytes" -> "bytes",
    "ops.candidates_per_point" -> "count", "ops.refines_per_point" -> "count",
    "ops.interior_hit_frac" -> "ratio", "ops.refine_match_frac" -> "ratio",
    "ops.points_outside_covering_frac" -> "ratio",
    "ops.join_level" -> "level", "ops.dim_rows" -> "count", "ops.candidate_pairs" -> "count",
    "ops.boundary_pairs" -> "count", "ops.match_frac" -> "ratio",
    "stage.count" -> "count", "stage.tasks" -> "count", "stage.task_cpu_s" -> "s",
    "stage.task_run_s" -> "s", "stage.cpu_busy_frac" -> "ratio", "stage.gc_s" -> "s",
    "stage.input_bytes" -> "bytes", "stage.spill_bytes" -> "bytes", "stage.task_skew" -> "ratio",
    "stage.shuffle_write_bytes" -> "bytes", "stage.shuffle_read_bytes" -> "bytes",
    "stage.shuffle_records" -> "count",
    "driver.plan_s" -> "s", "driver.cpu_s" -> "s",
    "trace.iteration_wall_s" -> "s", "trace.iteration_self_s" -> "s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final case class Options(workload: String, seed: Long, seconds: Int, trace: Boolean,
                         work: String, results: String)

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"geobench: $msg\nusage: --workload <name> --seed <n> --seconds <s> " +
      "--trace <0|1> --work <dir> --results <dir>")
    sys.exit(2)
  }

  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, usage(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val seconds = get("seconds").toIntOption.filter(_ > 0).getOrElse(usage("bad --seconds"))
    val seed = get("seed").toLongOption.getOrElse(usage("bad --seed"))
    Options(get("workload"), seed, seconds, trace, get("work"), get("results"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse(
      usage(s"unknown workload ${o.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    val r = new Run(w, o).execute()
    Files.createDirectories(Paths.get(o.results))
    val tag = s"${w.name}_seed${o.seed}_trace${if (o.trace) 1 else 0}"
    Files.writeString(Paths.get(o.results, s"$tag.json"), r.artifact + "\n")
    if (o.trace) Files.writeString(Paths.get(o.results, s"spans_$tag.json"), r.spans + "\n")
    println(r.artifact)
    println(r.line)
  }
}

/** JSON text for the flat values this benchmark writes. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

final case class Result(line: String, artifact: String, spans: String)

/** One benchmark run: fixtures, repeated set-up, timed iterations, the
  * output check and, when traced, the per-layer measurements.
  */
final class Run(w: Workload, o: Options) {
  private val tracer = new Tracer(o.trace)
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val pagesPath = new File(o.work, "pages.parquet").getAbsolutePath
  private var spark: SparkSession = _
  private var totals: TaskTotals = _

  private final case class Iter(wall: Double, driverCpu: Double, t: Totals,
                                out: Either[Throwable, Observed])

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("geobench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Starts a session with the task listener attached; returns seconds. */
  private def startSession(): Double = {
    val t0 = System.nanoTime()
    spark = session()
    totals = new TaskTotals(tracer)
    spark.sparkContext.addSparkListener(totals)
    tracer.sc = spark.sparkContext
    seconds(t0)
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def execute(): Result = {
    val regions = w.regions(o.seed)
    val polys = Inputs.loops(regions)
    val result = tracer.span("workload", w.name) {
      var sessionS = startSession()
      val g0 = System.nanoTime()
      Inputs.pages(spark, w.rows, o.seed, 16).write.mode("overwrite").parquet(pagesPath)
      val genS = seconds(g0)

      // Set-up is repeated so its median is steady: session start, input
      // load (scan + geotag parse), then one warm-up iteration, which also
      // builds the index. The first set-up uses the session that wrote the
      // inputs; generating them is not part of it.
      var pages: DataFrame = null
      var input: DataFrame = null
      val setups = (1 to 3).map { r =>
        tracer.span("setup", s"set-up $r") {
          if (r > 1) {
            stopSession()
            sessionS = startSession()
          }
          val t0 = System.nanoTime()
          pages = spark.read.parquet(pagesPath)
          input = PagesSource.withLatLng(pages)
          input.count()
          w.iterate(spark, input, polys, tracer)
          sessionS + seconds(t0)
        }
      }

      // The JIT keeps speeding iterations up for several seconds after
      // set-up (10-15% between the first and second half of a run), so
      // iterate untimed for half the measuring time first.
      val w0 = System.nanoTime()
      while (seconds(w0) < o.seconds / 2.0)
        tracer.span("warm-up", "untimed iteration")(w.iterate(spark, input, polys, tracer))

      val iters = ArrayBuffer[Iter]()
      val m0 = System.nanoTime()
      while (iters.size < 3 || seconds(m0) < o.seconds) {
        val before = totals.snapshot(spark.sparkContext)
        val c0 = threads.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        val out = try Right(tracer.span("iteration", s"iteration ${iters.size + 1}") {
          w.iterate(spark, input, polys, tracer)
        }) catch { case e: Exception => Left(e) }
        val wall = seconds(t0)
        val driverCpu = (threads.getCurrentThreadCpuTime - c0) / 1e9
        iters += Iter(wall, driverCpu, totals.snapshot(spark.sparkContext) - before, out)
      }

      val timedS = seconds(m0)
      val k0 = System.nanoTime()
      val check = tracer.span("check", "output checks") {
        Checks.run(spark, w, pages, input, regions, iters.flatMap(_.out.toOption).headOption,
          tracer)
      }
      val checkS = seconds(k0)
      val failed = iters.count(it =>
        !check.ok || it.out.fold(_ => true, d => !w.agrees(d, check.verified)))
      val errors = iters.flatMap(_.out.left.toOption).map(e => Json.str(e.toString)).distinct

      val metrics: Seq[(String, Double)] =
        if (o.trace) new Layers(w, spark, totals, tracer, pages, input, polys,
          check.verified).measure(iters.map(it => (it.wall, it.driverCpu, it.t)).toSeq)
        else {
          val wall = Metrics.median(iters.map(_.wall).toSeq)
          Seq("rows_per_s" -> w.rows / wall, "wall_s" -> wall,
            "cpu_s" -> Metrics.median(iters.map(it => it.t.cpuNs / 1e9 + it.driverCpu).toSeq),
            "setup_s" -> Metrics.median(setups), "peak_rss_mb" -> Run.peakRssMb())
        }
      val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
      val metricJson = Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
      })
      val correct = check.ok && failed == 0
      val line = Json.obj(Seq("correct" -> correct.toString, "attempted" -> iters.size.toString,
        "failed" -> failed.toString, "metrics" -> metricJson))
      val artifact = Json.obj(Seq(
        "workload" -> Json.str(w.name), "seed" -> o.seed.toString, "trace" -> o.trace.toString,
        "pages" -> w.rows.toString, "polygons" -> regions.size.toString,
        "max_cells" -> w.maxCells.toString, "seconds" -> o.seconds.toString,
        "cores" -> "4", "fixture_gen_s" -> Json.num(genS),
        "timed_s" -> Json.num(timedS), "check_s" -> Json.num(checkS),
        "setup_s_each" -> Json.arr(setups.map(Json.num)),
        "iteration_wall_s" -> Json.arr(iters.map(i => Json.num(i.wall)).toSeq),
        "iteration_cpu_s" -> Json.arr(iters.map(i => Json.num(i.t.cpuNs / 1e9 + i.driverCpu)).toSeq),
        "failed_frac" -> Json.num(failed.toDouble / iters.size),
        "check" -> Json.obj(Seq("ok" -> check.ok.toString, "detail" -> Json.str(check.detail))),
        "errors" -> Json.arr(errors.toSeq), "metrics" -> metricJson))
      Result(line, artifact, "")
    }
    stopSession()
    result.copy(spans = Run.spansJson(tracer.all))
  }
}

object Run {
  /** The JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def spansJson(spans: Seq[Span]): String = {
    val self = Tracer.selfTimesUs(spans)
    val bySelf = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Json.obj(Seq("count" -> ss.size.toString,
        "total_us" -> ss.map(s => s.endUs - s.startUs).sum.toString,
        "self_us" -> ss.map(s => self(s.id)).sum.toString))
    }.toSeq.sortBy(_._1)
    Json.obj(Seq(
      "self_time_by_name" -> Json.obj(bySelf),
      "spans" -> Json.arr(spans.sortBy(s => (s.startUs, s.id)).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "cause" -> Json.str(s.cause), "start_us" -> s.startUs.toString,
        "end_us" -> s.endUs.toString, "self_us" -> self(s.id).toString))))))
  }
}

/** Per-layer measurements of a traced run. */
final class Layers(w: Workload, spark: SparkSession, totals: TaskTotals, tracer: Tracer,
                   pages: DataFrame, input: DataFrame, polys: Seq[(Long, Loop)], verified: Observed) {
  import Metrics.median

  private def taskCpu[A](body: => A): Double = {
    val before = totals.snapshot(spark.sparkContext)
    body
    (totals.snapshot(spark.sparkContext) - before).cpuNs.toDouble
  }

  def measure(iters: Seq[(Double, Double, Totals)]): Seq[(String, Double)] = {
    val rows = w.rows.toDouble
    def med(f: Totals => Double) = median(iters.map(i => f(i._3)))

    // Marginal task CPU of each pipeline prefix: scan, +parse, +encode,
    // then the workload's own iteration.
    val peel = tracer.span("peel", "pipeline prefixes") {
      def prefix(name: String, df: => DataFrame) = tracer.span(s"peel.$name", name) {
        median((1 to 3).map(_ => taskCpu(df.queryExecution.toRdd.count())))
      }
      val scan = prefix("scan", pages.select(col("text")))
      val parse = prefix("parse", input.select(col("lat"), col("lng")))
      val encode = prefix("encode", input.select(S2.cellId(col("lat"), col("lng"))))
      val join = med(_.cpuNs.toDouble)
      Seq("peel.scan_cpu_ns_per_row" -> scan / rows,
        "peel.parse_cpu_ns_per_row" -> (parse - scan) / rows,
        "peel.encode_cpu_ns_per_row" -> (encode - parse) / rows,
        "peel.join_cpu_ns_per_row" -> (join - encode) / rows)
    }

    val k = tracer.span("l0.prepare", "sample, polygonCoverings, CoveringIndex.build") {
      Kernels.prepare(pages, polys, w.maxCells, w.rows / Kernels.SamplePoints)
    }
    val encodeNs = tracer.span("l0.encode", s"CellId.fromLatLngDegrees x ${k.sample.size}") {
      Kernels.nsPer(k.sample.size, 5) {
        var i = 0; var acc = 0L
        while (i < k.sample.size) {
          acc ^= CellId.fromLatLngDegrees(k.sample.lat(i), k.sample.lng(i)); i += 1
        }
        if (acc == 42L) println()
      }
    }
    val probeNs = tracer.span("l0.probe", s"CoveringIndex.candidates x ${k.leaves.length}") {
      Kernels.nsPer(k.leaves.length, 5) {
        var i = 0; var acc = 0L
        while (i < k.leaves.length) { acc += k.index.candidates(k.leaves(i)).length; i += 1 }
        if (acc == -1L) println()
      }
    }
    val loops = polys.toMap
    val refineNs = tracer.span("l0.refine", s"Loop.containsPoint x ${k.refRid.length}") {
      Kernels.nsPer(k.refRid.length, 5) {
        var i = 0; var acc = 0
        while (i < k.refRid.length) {
          val p = k.refPt(i)
          if (loops(k.refRid(i)).containsPoint(
            LatLng.toPointDegrees(k.sample.lat(p), k.sample.lng(p)))) acc += 1
          i += 1
        }
        if (acc == -1) println()
      }
    }
    val shuffle = tracer.span("counts.shuffle", "shuffle-path dimension and candidates") {
      Kernels.shuffleCounts(spark, input, polys, k.covs)
    }

    val spans = tracer.all
    val self = Tracer.selfTimesUs(spans)
    val iterIds = spans.filter(_.name == "iteration").map(_.id).toSet
    def under(name: String) = spans.filter(s => s.name == name && iterIds(s.parent))
    def durS(ss: Seq[Span]) = ss.map(s => (s.endUs - s.startUs) / 1e6)
    val coverSpans = spans.filter(s => s.name == "driver.cover" &&
      spans.exists(p => p.id == s.parent && p.name == "driver.plan" && iterIds(p.parent)))
    peel ++ Kernels.counts(k, polys, shuffle, verified.full.rows) ++ Seq(
      "core.encode_ns" -> encodeNs, "ops.index_probe_ns" -> probeNs, "core.refine_ns" -> refineNs,
      "core.cover_us_per_polygon" -> k.coverS * 1e6 / polys.size,
      "driver.cover_s" -> (if (coverSpans.nonEmpty) median(durS(coverSpans)) else k.coverS),
      "ops.index_build_ms" -> k.buildS * 1e3,
      "stage.count" -> med(_.stages.toDouble), "stage.tasks" -> med(_.tasks.toDouble),
      "stage.task_cpu_s" -> med(_.cpuNs / 1e9), "stage.task_run_s" -> med(_.runMs / 1e3),
      "stage.cpu_busy_frac" -> med(t => t.cpuNs / 1e6 / math.max(1L, t.runMs)),
      "stage.gc_s" -> med(_.gcMs / 1e3), "stage.input_bytes" -> med(_.inputBytes.toDouble),
      "stage.spill_bytes" -> med(_.spillBytes.toDouble), "stage.task_skew" -> med(_.taskSkew),
      "stage.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble),
      "stage.shuffle_read_bytes" -> med(_.shuffleReadBytes.toDouble),
      "stage.shuffle_records" -> med(_.shuffleRecords.toDouble),
      "driver.plan_s" -> median(durS(under("driver.plan"))),
      "driver.cpu_s" -> median(iters.map(_._2)),
      "trace.iteration_wall_s" -> median(iters.map(_._1)),
      "trace.iteration_self_s" -> median(spans.filter(_.name == "iteration").map(s => self(s.id) / 1e6)))
  }
}
