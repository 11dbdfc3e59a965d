package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Common-Crawl-style pages fixture (FIXTURES.md §1, matching
  * BASELINE.json input_hint: url, warc_ts, html, text, lang).
  *
  * Generated entirely with codegen'd column expressions over spark.range —
  * no driver-side loops, no RNG state — so the same (n, seed) always yields
  * byte-identical rows at any parallelism. The geotag is embedded in `text`
  * as "geo:%.6f,%.6f" and is the ONLY source of truth for coordinates:
  * both the engine and the DuckDB oracle re-parse it, so the per-row
  * invariant (byte-identical text per url) also pins the geometry.
  *
  * Spatial skew: 80% of pages cluster around 8 city centers (Gaussian,
  * sigma 0.5 deg) and 20% are uniform on the sphere — the skew profile the
  * engine's hot-cell handling is graded on.
  */
object PagesSource {

  /** 8 fixed "city" centers (lat, lng) in degrees. */
  val cities: Seq[(Double, Double)] = Seq(
    (40.7128, -74.0060),  // New York
    (51.5074, -0.1278),   // London
    (35.6762, 139.6503),  // Tokyo
    (-23.5505, -46.6333), // Sao Paulo
    (28.6139, 77.2090),   // Delhi
    (-33.8688, 151.2093), // Sydney
    (6.5244, 3.3792),     // Lagos
    (48.8566, 2.3522))    // Paris

  /** Deterministic uniform double in [0,1) from (i, salt). */
  private def u01(salt: Int) =
    (pmod(xxhash64(col("id"), lit(salt)), lit(1L << 52)).cast("double")
      / lit((1L << 52).toDouble))

  /** Hot-spot for the skew rehearsal: the CENTER of the level-14 cell
    * containing the first city (New York). The center of a level-14 cell
    * stays one cell at every join level <= 14 under a +-55 m jitter —
    * whereas a coarser cell's center is a CORNER of its finer children,
    * so jitter around it would straddle four cells at finer join levels.
    */
  lazy val hotSpot: (Double, Double) = {
    import graft.core._
    val cell = CellId.parent(
      CellId.fromLatLngDegrees(cities.head._1, cities.head._2), 14)
    val p = CellId.toPoint(cell)
    (LatLng.latitude(p) * LatLng.RadToDeg, LatLng.longitude(p) * LatLng.RadToDeg)
  }

  /** Skew-rehearsal fixture: `hotFrac` of rows land within ~55 m of
    * `hotSpot` — one level-14 cell, so one join-key cell on the shuffle
    * path — and the rest follow the normal 8-city + uniform mix. This is
    * the profile the north rule's hot-cell handling is graded on
    * (a viral page cluster geotagged to one block).
    */
  def generateSkewed(spark: SparkSession, n: Long, hotFrac: Double = 0.55,
                     numPartitions: Int = 32): DataFrame =
    generate(spark, n, numPartitions, hotFrac)

  def generate(spark: SparkSession, n: Long, numPartitions: Int = 32,
               hotFrac: Double = 0.0): DataFrame = {
    val base = spark.range(0, n, 1, numPartitions)

    // Box-Muller from two uniforms for the Gaussian cluster offsets.
    val uA = u01(1)
    val uB = u01(2)
    // guard log(0)
    val r = sqrt(lit(-2.0) * log(greatest(uA, lit(1e-18))))
    val gaussLat = r * cos(lit(2 * math.Pi) * uB) * lit(0.5)
    val gaussLng = r * sin(lit(2 * math.Pi) * uB) * lit(0.5)

    val cityIdx = pmod(xxhash64(col("id"), lit(3)), lit(cities.length)).cast("int")
    val cityLat = element_at(
      array(cities.map(c => lit(c._1)): _*), cityIdx + 1)
    val cityLng = element_at(
      array(cities.map(c => lit(c._2)): _*), cityIdx + 1)

    // Uniform-on-sphere fallback for 20% of rows.
    val uC = u01(4)
    val uD = u01(5)
    val unifLat = degrees(asin(uC * 2.0 - 1.0))
    val unifLng = uD * 360.0 - 180.0

    val isCity = u01(6) < 0.8
    // Hot-cell override (skew rehearsal): hotFrac of ALL rows collapse to
    // a ~55 m-radius disc at hotSpot, i.e. one level-14 cell.
    val isHot = lit(hotFrac) > 0.0 && u01(7) < hotFrac
    val lat0 = when(isHot, lit(hotSpot._1) + (u01(8) - 0.5) * 0.001)
      .when(isCity, cityLat + gaussLat).otherwise(unifLat)
    val lng0 = when(isHot, lit(hotSpot._2) + (u01(9) - 0.5) * 0.001)
      .when(isCity, cityLng + gaussLng).otherwise(unifLng)
    // clamp/wrap into valid ranges
    val latV = greatest(lit(-89.999999), least(lit(89.999999), lat0))
    val lngV = lng0 - lit(360.0) * floor((lng0 + lit(180.0)) / lit(360.0))

    val langs = array(Seq("en", "de", "fr", "es", "pt").map(lit): _*)
    val text = concat(
      lit("page "), col("id"),
      lit(" geo:"), format_string("%.6f", latV),
      lit(","), format_string("%.6f", lngV),
      lit(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      lit(" eiusmod tempor incididunt ut labore"))

    base.select(
      concat(lit("https://example-"), pmod(col("id"), lit(1000)),
        lit(".test/page/"), col("id")).as("url"),
      (lit(1767225600L) + col("id")).cast("timestamp").as("warc_ts"),
      encode(concat(lit("<html><body>"), text, lit("</body></html>")), "UTF-8")
        .as("html"),
      text.as("text"),
      element_at(langs, pmod(col("id"), lit(5)).cast("int") + 1).as("lang"))
  }

  /** Parse the geo tag back out of `text`: the engine-side geocode step.
    * Native Catalyst expressions (graft.functions.GeoParse) — ~10x
    * cheaper than regexp and bit-identical output (both end in
    * Double.parseDouble on the same substring); the DuckDB oracle parses
    * the same bytes with its own regexp. Catalyst pushes the NaN filter
    * below this projection and substitutes the parse into it, so GeoParse
    * memoizes the (lat,lng) pair per row (identity-keyed, per-thread) —
    * one parse per row regardless of how many times the plan repeats the
    * expression.
    */
  def withLatLng(pages: DataFrame): DataFrame =
    pages
      .withColumn("lat", graft.functions.S2.geoLat(col("text")))
      .withColumn("lng", graft.functions.S2.geoLng(col("text")))
      .filter(!isnan(col("lat")) && !isnan(col("lng")))

  /** Row count tied to the driver's scale-factor dir naming. */
  def rowsForScale(sfDir: String): Long = {
    if (sfDir.contains("sf0.001")) 2000L
    else if (sfDir.contains("sf0.01")) 20000L
    else if (sfDir.contains("sf0.1")) 200000L
    else 20000L
  }

  /** Materialize (once) the pages fixture parquet for a scale dir; cached
    * under the work dir so repeated runs and the DuckDB oracle read
    * identical bytes.
    */
  def pagesParquet(spark: SparkSession, sfDir: String): String = {
    val n = rowsForScale(sfDir)
    val path = s"${graft.Local.workDir}/pages_n$n.parquet"
    val dir = new java.io.File(path)
    if (!dir.exists()) {
      generate(spark, n).coalesce(4)
        .write.mode("overwrite").parquet(path)
    }
    path
  }
}
