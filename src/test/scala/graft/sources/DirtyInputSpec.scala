package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Real Common-Crawl data is dirty; the engine must degrade row-wise, not
  * crash job-wise. Planted malformed geotags exercise the parse + join
  * pipeline's failure path (found live by a verify probe).
  */
class DirtyInputSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("dirty-input-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("malformed geotags drop row-wise; well-formed rows survive") {
    import spark.implicits._
    val clean = PagesSource.generate(spark, 500)
    val dirty = Seq(
      ("https://bad.test/1", "no geotag here at all"),
      ("https://bad.test/2", "truncated geo:48.85"),
      ("https://bad.test/3", "geo: , empty fields"),
      ("https://bad.test/4", "geo:abc,def garbage"),
      ("https://bad.test/5", ""),
      ("https://bad.test/6", "geo:999everything,merged")
    ).toDF("url", "text")
      .withColumn("warc_ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .withColumn("html", encode(col("text"), "UTF-8"))
      .withColumn("lang", lit("en"))
      .select("url", "warc_ts", "html", "text", "lang")

    val all = clean.unionByName(dirty)
    val parsed = PagesSource.withLatLng(all)
    // every dirty row dropped, every clean row kept
    assert(parsed.count() === 500)
    assert(parsed.filter(col("url").startsWith("https://bad.test")).count() === 0)

    // the join pipeline runs end-to-end over the mixed input without error
    val joined = graft.ops.SpatialJoin.pipJoin(spark, parsed,
      graft.gate.GeoGate.cityPolygons)
    assert(joined.count() > 0)

    // parsed coordinates are all in valid ranges
    val bad = parsed.filter(
      col("lat") < -90 || col("lat") > 90 || col("lng") < -180 || col("lng") > 180)
    assert(bad.count() === 0)
  }
}
