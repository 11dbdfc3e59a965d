package geobench

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchmarkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dir = Files.createTempDirectory("geobench-spec").toFile
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", new File(dir, "local").getPath)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def fixture(seed: Long, rows: Long, name: String) = {
    val path = new File(dir, name).getPath
    Inputs.pages(spark, rows, seed, 4).write.parquet(path)
    spark.read.parquet(path)
  }

  test("metric and workload names match BENCHMARK.json") {
    val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def named(key: String) = json.get(key).elements().asScala.toSeq
    assert(named("workloads").map(_.get("name").asText) == Workloads.all.map(_.name))
    def metrics(key: String) = named(key).map(m => m.get("name").asText -> m.get("unit").asText)
    assert(metrics("end_to_end") == Metrics.endToEnd)
    assert(metrics("per_layer") == Metrics.perLayer)
  }

  test("generators are deterministic per seed") {
    def rows(seed: Long) = Inputs.pages(spark, 3000, seed, 3)
      .selectExpr("url", "cast(warc_ts as string)", "hex(html)", "text", "lang")
      .collect().map(_.mkString("|")).toSeq
    assert(rows(7) == rows(7))
    assert(rows(7) != rows(8))
    def polys(seed: Long) = Inputs.manyRegions(200, seed)
      .map(r => (r.id, graft.core.Codec.encodeLoop(r.loop).toSeq))
    assert(polys(7) == polys(7))
    assert(polys(7) != polys(8))
  }

  test("deterministic counters repeat exactly for the same seed") {
    def counters(seed: Long, name: String) = {
      val pages = fixture(seed, 20000, name)
      val input = graft.sources.PagesSource.withLatLng(pages)
      val polys = Inputs.loops(Inputs.manyRegions(400, seed))
      val k = Kernels.prepare(pages, polys, 8, 10)
      val shuffle = Kernels.shuffleCounts(spark, input, polys, k.covs)
      val out = Digest.of(Workloads.broadcast(spark, input, polys, 8)).rows
      Kernels.counts(k, polys, shuffle, out)
    }
    val a = counters(5, "count-a")
    assert(a == counters(5, "count-b"))
    assert(a != counters(6, "count-c"))
    assert(a.toMap.apply("ops.candidate_pairs") > 0)
  }

  test("the output check passes on engine output and fails on a wrong expected value") {
    val pages = fixture(3, 20000, "check")
    val input = graft.sources.PagesSource.withLatLng(pages)
    val regions = Inputs.cityRegions
    val ok = Checks.run(spark, Workloads.PipCity, pages, input, regions, None, new Tracer(false))
    assert(ok.ok, ok.detail)
    assert(ok.verified.full.rows > 0)

    val own = ok.verified
    val brute = Digest.of(Checks.brute(spark, pages, regions))
    assert(Checks.compare(own, brute, Some(own.full)).ok)
    assert(!Checks.compare(own, brute.copy(rows = brute.rows + 1), None).ok)
    assert(!Checks.compare(own, brute, Some(own.full.copy(sum = own.full.sum + 1))).ok)
    val other = Digest.of(Workloads.broadcast(spark, input, Inputs.loops(regions), 32))
    assert(Checks.compare(own, brute, Some(other)).ok)
    // A brute scan that labels one region with another's id disagrees.
    val relabelled = regions.map(r => if (r.id == 0) r.copy(id = 1) else r)
    assert(!Checks.compare(own, Digest.of(Checks.brute(spark, pages, relabelled)), None).ok)
  }
}
