package geobench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Earth, LatLng, Loop}

/** Seeded inputs. The engine receives only what these build: the pages
  * table (FIXTURES.md section 1 shape, geotag inside `text`) and `Loop`s.
  * The same (seed, size) always gives byte-identical rows and vertices.
  */
object Inputs {

  /** Eight fixed city centres (lat, lng), degrees. */
  val cities: Seq[(Double, Double)] = Seq(
    (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503),
    (-23.5505, -46.6333), (28.6139, 77.2090), (-33.8688, 151.2093),
    (6.5244, 3.3792), (48.8566, 2.3522))

  /** Uniform double in [0, 1) from the row id, the seed and a salt. */
  private def u01(seed: Long, salt: Int) =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1L << 52)).cast("double") /
      lit((1L << 52).toDouble)

  /** `x` with six decimals, as "%.6f" prints it, built from integer
    * columns: format_string costs more than the rest of the generator.
    */
  private def fixed6(x: Column): Column = {
    val micro = round(x * 1e6).cast("long")
    val a = abs(micro)
    concat(when(micro < 0, lit("-")).otherwise(lit("")), (a / 1000000L).cast("long"), lit("."),
      lpad(pmod(a, lit(1000000L)).cast("string"), 6, "0"))
  }

  /** Pages: 80% Gaussian (sigma 0.5 deg) around a city, 20% uniform on the
    * sphere. Columns url, warc_ts, html, text, lang.
    */
  def pages(spark: SparkSession, n: Long, seed: Long, partitions: Int): DataFrame = {
    val r = sqrt(lit(-2.0) * log(greatest(u01(seed, 1), lit(1e-18))))
    val theta = lit(2 * math.Pi) * u01(seed, 2)
    val city = pmod(xxhash64(col("id"), lit(seed), lit(3)), lit(cities.size)).cast("int") + 1
    val cityLat = element_at(array(cities.map(c => lit(c._1)): _*), city)
    val cityLng = element_at(array(cities.map(c => lit(c._2)): _*), city)
    val isCity = u01(seed, 6) < 0.8
    val lat0 = when(isCity, cityLat + r * cos(theta) * 0.5)
      .otherwise(degrees(asin(u01(seed, 4) * 2.0 - 1.0)))
    val lng0 = when(isCity, cityLng + r * sin(theta) * 0.5)
      .otherwise(u01(seed, 5) * 360.0 - 180.0)
    val lat = greatest(lit(-89.999999), least(lit(89.999999), lat0))
    val lng = lng0 - lit(360.0) * floor((lng0 + lit(180.0)) / lit(360.0))
    val text = concat(lit("page "), col("id"),
      lit(" geo:"), fixed6(lat), lit(","), fixed6(lng),
      lit(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      lit(" eiusmod tempor incididunt ut labore"))
    val langs = array(Seq("en", "de", "fr", "es", "pt").map(lit): _*)
    spark.range(0, n, 1, partitions).select(
      concat(lit("https://example-"), pmod(col("id"), lit(1000)),
        lit(".test/page/"), col("id")).as("url"),
      (lit(1767225600L) + col("id")).cast("timestamp").as("warc_ts"),
      encode(concat(lit("<html><body>"), text, lit("</body></html>")), "UTF-8").as("html"),
      text.as("text"),
      element_at(langs, pmod(col("id"), lit(5)).cast("int") + 1).as("lang"))
  }

  /** The benchmark's own geotag parse, independent of the engine's
    * GeoLat/GeoLng expressions: used only by the output checks.
    */
  def checkLatLng(pages: DataFrame): DataFrame = {
    val tag = regexp_extract(col("text"), "geo:(-?[0-9.]+),(-?[0-9.]+)", 0)
    pages.select(col("url"),
      regexp_extract(tag, "geo:(-?[0-9.]+),", 1).cast("double").as("lat"),
      regexp_extract(tag, ",(-?[0-9.]+)$", 1).cast("double").as("lng"))
  }

  /** A regular loop plus the cap that bounds it, for brute checks. */
  final case class Region(id: Long, loop: Loop, centerLat: Double, centerLng: Double,
                          radiusRad: Double)

  /** The 8 city admin polygons: regular 64-gons of radius 25-400 km. */
  def cityRegions: Seq[Region] = cities.zipWithIndex.map { case ((lat, lng), i) =>
    regular(i.toLong, lat, lng, 25000.0 * (1 << (i % 5)), 64)
  }

  /** `count` seeded 16-gons of radius 2-15 km within +-3 deg of a city. */
  def manyRegions(count: Int, seed: Long): Seq[Region] = {
    val rng = new scala.util.Random(seed)
    (0 until count).map { i =>
      val (cLat, cLng) = cities(i % cities.size)
      val lat = cLat + (rng.nextDouble() * 6 - 3)
      val lng = cLng + (rng.nextDouble() * 6 - 3)
      regular(i.toLong, lat, lng, 2000.0 + rng.nextDouble() * 13000.0, 16)
    }
  }

  private def regular(id: Long, lat: Double, lng: Double, meters: Double, k: Int): Region = {
    val radius = Earth.angleFromMeters(meters)
    Region(id, Loop.regularLoop(LatLng.toPointDegrees(lat, lng), radius, k), lat, lng, radius)
  }

  def loops(regions: Seq[Region]): Seq[(Long, Loop)] = regions.map(r => (r.id, r.loop))
}
