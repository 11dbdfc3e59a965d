package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hilbert-clustered writes: files must cover disjoint cell ranges and
  * range scans must touch only the covering files (the data-skipping
  * contract of Iceberg write.order-by, demonstrated on parquet).
  */
class CellClusteredWriteSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("clustered-write-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("clustered files cover disjoint Hilbert ranges; range scans skip files") {
    val pages = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
      .withColumn("cell_id",
        graft.functions.S2.cellId(col("lat"), col("lng")))

    val dir = java.nio.file.Files.createTempDirectory("graft_clustered").toString
    CellClusteredWrite.writeClustered(pages, "cell_id", dir, numFiles = 8)

    // Per-file (min, max) of the sort key must be pairwise disjoint.
    val back = spark.read.parquet(dir)
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min("cell_sort").as("lo"), max("cell_sort").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(ranges.length >= 4, s"expected several files, got ${ranges.length}")
    for (i <- 1 until ranges.length) {
      assert(ranges(i)._1 > ranges(i - 1)._2,
        s"file ranges overlap: ${ranges(i - 1)} vs ${ranges(i)}")
    }

    // A tight cell-range scan touches few files: query one city's level-8
    // cell range.
    val city = graft.core.CellId.parent(
      graft.core.CellId.fromLatLngDegrees(48.8566, 2.3522), 8)
    val lo = graft.core.CellId.rangeMin(city)
    val hi = graft.core.CellId.rangeMax(city)
    val hit = back.filter(CellClusteredWrite.cellRangePredicate(lo, hi))
    val nRows = hit.count()
    assert(nRows > 0, "Paris cell range should match fixture rows")
    val filesTouched = hit.select(input_file_name()).distinct().count()
    assert(filesTouched <= 2,
      s"clustered range scan touched $filesTouched of ${ranges.length} files")
  }
}
