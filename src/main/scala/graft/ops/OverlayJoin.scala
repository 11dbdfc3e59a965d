package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Polygon x polygon overlay join: which regions of set A contain /
  * intersect which regions of set B — the distributed surface over
  * Loop/Polygon Contains+Intersects (/root/reference/s2/loop.go:274-369,
  * polygon.go:826-892).
  *
  * Plan shape (scales to millions of polygons per side):
  *  1. Each polygon's covering is denormalized to a common join level and
  *     becomes rows of a cell-keyed dimension table — same currency as
  *     the PIP shuffle join (ShuffleSpatialJoin.polygonDimTable).
  *  2. Equi-join on the cell key yields candidate pairs: two polygons can
  *     only relate if some covering cell overlaps. One shuffle, keyed by
  *     cell; hot cells are AQE-splittable.
  *  3. Candidate pairs are dedup'd on ids (narrow), joined back to both
  *     sides' geometry and refined with the exact relation predicates.
  *
  * There is one plan: the driver-side list entry point encodes its
  * polygons and runs it. For broadcast-scale fixture sets it degenerates
  * gracefully (tiny dim tables, broadcast hash join) — the shape is what
  * matters at 100 TB. Spark sizes a local table at a fixed width per row,
  * so the list entry point decides from the real wire bytes: a side whose
  * geometry exceeds SpatialJoin.broadcastThreshold carries a merge hint
  * and is never broadcast.
  *
  * The refine decodes through this object's executor-local cache, keyed
  * by the geometry bytes. The PIP joins need no such cache: they refine
  * by region position. The overlay join cannot, because its DataFrame
  * inputs carry ids and geometry but no positions.
  */
object OverlayJoin {

  // Executor-local decode cache keyed by the geometry BYTES, not the
  // polygon id: two joins in one executor JVM may reuse ids with
  // different geometry, and an id-keyed cache would silently return the
  // first job's polygon. ByteBuffer keys compare content; the LRU bound
  // keeps long-lived executors from accumulating stale geometries.
  private val geometryCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[java.nio.ByteBuffer, Polygon](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[java.nio.ByteBuffer, Polygon]): Boolean =
        size() > 1024
    })

  /** Codec.decodePolygon through the executor-local cache: each geometry
    * is decoded once per JVM while it stays among the 1024 most recent.
    */
  private def cachedGeometry(geom: Array[Byte]): Polygon = {
    val key = java.nio.ByteBuffer.wrap(geom)
    var p = geometryCache.get(key)
    if (p == null) {
      p = Codec.decodePolygon(geom)
      geometryCache.put(key, p)
    }
    p
  }

  /** Inner overlap join of two driver-side polygon sets; wraps the
    * DataFrame path with both sides in the lossless join wire form
    * (SpatialJoin.encodeGeometry).
    *
    * @return DataFrame(a_id, b_id, a_contains_b, b_contains_a) with one
    *         row per intersecting pair.
    */
  def polygonOverlapJoin(spark: SparkSession,
                         polysA: Seq[(Long, Polygon)],
                         polysB: Seq[(Long, Polygon)],
                         level: Int = 8,
                         maxCells: Int = 32): DataFrame = {
    import spark.implicits._
    def side(polys: Seq[(Long, Polygon)], idCol: String) = {
      val wire = polys.map { case (id, p) => (id, SpatialJoin.encodeGeometry(p)) }
      val df = wire.toDF(idCol, "geom")
      if (wire.iterator.map(_._2.length.toLong).sum <= SpatialJoin.broadcastThreshold(spark)) df
      else df.hint("merge")
    }
    polygonOverlapJoinLarge(spark, side(polysA, "a_id"), side(polysB, "b_id"),
      level, maxCells)
  }

  /** Shuffle-native overlay join for polygon sets too large to broadcast:
    * both sides are DataFrames of (id, geom) with wire-encoded polygons
    * (Codec.encodePolygon). Coverings are computed row-side from the
    * geometry, candidates pair on covering cells, and the refine decodes
    * through cachedGeometry, the content-keyed executor cache — geometry
    * only travels on the candidate pairs that survive cell pruning, never
    * on covering rows.
    */
  def polygonOverlapJoinLarge(spark: SparkSession,
                              polysA: DataFrame, polysB: DataFrame,
                              level: Int = 8,
                              maxCells: Int = 32): DataFrame = {
    val coverUdf = udf((geom: Array[Byte]) => {
      val p = Codec.decodePolygon(geom)
      RegionCoverer(maxCells = maxCells).covering(p).ids
        .flatMap(CellId.cellsAtLevel(_, level)).distinct
    })
    val aCells = polysA
      .withColumn("cell", explode(coverUdf(col("geom"))))
      .select(col("cell"), col("a_id"))
    val bCells = polysB
      .withColumn("cell", explode(coverUdf(col("geom"))))
      .select(col("cell"), col("b_id"))
    val candidates = aCells.join(bCells, "cell")
      .select("a_id", "b_id").distinct()

    val relUdf = udf((aGeom: Array[Byte], bGeom: Array[Byte]) => {
      val a = cachedGeometry(aGeom)
      val b = cachedGeometry(bGeom)
      if (!a.intersects(b)) null
      else (a.contains(b), b.contains(a))
    })
    candidates
      .join(polysA.select(col("a_id"), col("geom").as("a_geom")), "a_id")
      .join(polysB.select(col("b_id"), col("geom").as("b_geom")), "b_id")
      .withColumn("rel", relUdf(col("a_geom"), col("b_geom")))
      .filter(col("rel").isNotNull)
      .select(col("a_id"), col("b_id"),
        col("rel._1").as("a_contains_b"), col("rel._2").as("b_contains_a"))
  }
}
