package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.CheckpointedPipeline

/** Checkpoint/resume behavior over a skewed pages fixture. */
class PartitionPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("partition-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def skewedPages = {
    val p = graft.sources.PagesSource.withLatLng(
      spark.read.parquet(
        graft.sources.PagesSource.pagesParquet(spark, "/root/testdata/sf0.001")))
    p.withColumn("cell_id", graft.functions.S2.cellId(col("lat"), col("lng")))
  }

  test("checkpointed pipeline resumes: completed chunks skipped, results identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val df = skewedPages.select("url", "text", "cell_id")
    val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => d.withColumn("text_sha", sha2(col("text"), 256))
        .select("url", "text_sha", "cell_id")

    // First run dies after 3 of 8 chunks.
    val r1 = CheckpointedPipeline.run(spark, df, "cell_id", transform, dir,
      nChunks = 8, failAfterChunks = 3)
    assert(r1.count(r => !r.skipped) === 3)

    // Resume completes only the remaining chunks.
    val r2 = CheckpointedPipeline.run(spark, df, "cell_id", transform, dir, nChunks = 8)
    assert(r2.count(_.skipped) === 3)
    assert(r2.count(r => !r.skipped) === 5)

    // Combined output equals a single-shot run, row for row.
    val resumed = CheckpointedPipeline.readOutput(spark, dir)
      .select("url", "text_sha").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val direct = transform(df).select("url", "text_sha")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(resumed === direct)
    assert(resumed.size === df.count())

    // Lineage metrics: every chunk recorded rowsIn/rowsOut and they sum up.
    val manifest = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/manifest.jsonl"))
    assert(manifest.size === 8)
    val rowsOut = scala.jdk.CollectionConverters.ListHasAsScala(manifest).asScala
      .map(l => "\"rowsOut\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).sum
    assert(rowsOut === df.count())
  }

  test("chunk bounds tile the full valid leaf range deterministically") {
    val bounds = CheckpointedPipeline.chunkBounds(16)
    assert(bounds.length === 16)
    // contiguous, no gaps/overlaps in signed-shifted space
    for (i <- 0 until 15) {
      assert((bounds(i)._2 ^ Long.MinValue) + 1 === (bounds(i + 1)._1 ^ Long.MinValue))
    }
    assert(bounds.head._1 === graft.core.CellId.rangeMin(graft.core.CellId.fromFace(0)))
    assert(bounds.last._2 === graft.core.CellId.rangeMax(graft.core.CellId.fromFace(5)))
    // same bounds on every call
    assert(CheckpointedPipeline.chunkBounds(16) === bounds)
  }
}
