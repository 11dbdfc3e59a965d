package graft.core

/** Web-Mercator XYZ ("slippy map") tiles at integer zoom levels; the
  * raster side of raster<->vector tiling. Tile (x, y, z) covers an exact
  * lat/lng rectangle, which ties tiles back to S2 cell coverings.
  */
object WebMercator {
  /** Tile x index of a longitude at zoom z (standard slippy formula). */
  def tileX(lngDeg: Double, zoom: Int): Long = {
    val n = (1L << zoom).toDouble
    val t = math.floor((lngDeg + 180.0) / 360.0 * n).toLong
    math.max(0L, math.min((1L << zoom) - 1, t))
  }

  /** Tile y index of a latitude at zoom z. */
  def tileY(latDeg: Double, zoom: Int): Long = {
    val n = (1L << zoom).toDouble
    val latRad = math.toRadians(latDeg)
    val t = math.floor(
      (1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi)
        / 2.0 * n).toLong
    math.max(0L, math.min((1L << zoom) - 1, t))
  }

  /** Packed tile key: zoom in the top bits, then x, y. */
  def tileKey(lngDeg: Double, latDeg: Double, zoom: Int): Long =
    (zoom.toLong << 58) | (tileX(lngDeg, zoom) << 29) | tileY(latDeg, zoom)

  def keyZoom(key: Long): Int = (key >>> 58).toInt
  def keyX(key: Long): Long = (key >>> 29) & ((1L << 29) - 1)
  def keyY(key: Long): Long = key & ((1L << 29) - 1)

  /** West edge longitude of tile x at zoom. */
  def tileWestDeg(x: Long, zoom: Int): Double =
    x.toDouble / (1L << zoom).toDouble * 360.0 - 180.0

  /** North edge latitude of tile y at zoom (y grows southward). */
  def tileNorthDeg(y: Long, zoom: Int): Double = {
    val n = math.Pi - 2.0 * math.Pi * y.toDouble / (1L << zoom).toDouble
    math.toDegrees(math.atan(math.sinh(n)))
  }

  /** The exact lat/lng rectangle of tile (x, y, z): vector-side region of
    * the raster tile.
    */
  def tileRect(x: Long, y: Long, zoom: Int): RectRegion = {
    val west = tileWestDeg(x, zoom)
    val east = tileWestDeg(x + 1, zoom)
    val north = tileNorthDeg(y, zoom)
    val south = tileNorthDeg(y + 1, zoom)
    RectRegion.fromDegrees(south, west, north, east)
  }

  /** S2 cell covering of a raster tile (raster -> vector direction). */
  def tileCovering(x: Long, y: Long, zoom: Int, maxCells: Int = 8): CellUnion =
    RegionCoverer(maxCells = maxCells).covering(tileRect(x, y, zoom))

  /** Tiles intersecting an S2 cell (vector -> raster direction): scan the
    * tile grid range of the cell's lat/lng bound.
    */
  def cellTiles(cellId: Long, zoom: Int): Array[Long] = {
    val bound = Cell.fromId(cellId).rectBound
    val latLo = bound.lat.lo * LatLng.RadToDeg
    val latHi = bound.lat.hi * LatLng.RadToDeg
    val lngLo = bound.lng.lo * LatLng.RadToDeg
    val lngHi = bound.lng.hi * LatLng.RadToDeg
    val xLo = tileX(lngLo, zoom)
    val xHi = tileX(math.nextDown(lngHi), zoom)
    val yLo = tileY(math.nextDown(latHi), zoom)
    val yHi = tileY(latLo, zoom)
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    val region = CellRegion(Cell.fromId(cellId))
    var x = xLo
    while (x <= xHi) {
      var yy = yLo
      while (yy <= yHi) {
        // exact check: does the tile rect intersect the cell?
        if (tileRect(x, yy, zoom).intersectsCell(Cell.fromId(cellId)))
          out += ((zoom.toLong << 58) | (x << 29) | yy)
        yy += 1
      }
      x += 1
    }
    out.toArray
  }
}
