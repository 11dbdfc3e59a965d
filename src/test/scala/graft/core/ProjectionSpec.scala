package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Web-Mercator tiling semantics. */
class ProjectionSpec extends AnyFunSuite {

  test("tile indices: known anchors") {
    // zoom 0: everything in tile (0,0)
    assert(WebMercator.tileX(0, 0) === 0 && WebMercator.tileY(0, 0) === 0)
    // zoom 1: (0,0) is in tile (1,0)? lng 0 -> x=1; lat 0 -> y=1
    assert(WebMercator.tileX(0.0, 1) === 1)
    assert(WebMercator.tileY(0.0, 1) === 1)
    assert(WebMercator.tileX(-180.0, 1) === 0)
    assert(WebMercator.tileY(85.0, 1) === 0)
    // known example: Greenwich at zoom 12
    assert(WebMercator.tileX(-0.001, 12) === 2047)
    assert(WebMercator.tileX(0.001, 12) === 2048)
  }

  test("tile rect contains exactly its points") {
    val rng = new Random(5)
    for (_ <- 0 until 300) {
      val lat = rng.nextDouble() * 160 - 80
      val lng = rng.nextDouble() * 360 - 180
      val z = 4 + rng.nextInt(9)
      val tx = WebMercator.tileX(lng, z)
      val ty = WebMercator.tileY(lat, z)
      val rect = WebMercator.tileRect(tx, ty, z)
      assert(rect.containsPoint(LatLng.toPointDegrees(lat, lng)),
        s"($lat,$lng) z=$z tile=($tx,$ty)")
    }
  }

  test("tile covering covers the tile's points; cellTiles inverts") {
    val rng = new Random(11)
    for (_ <- 0 until 50) {
      val lat = rng.nextDouble() * 120 - 60
      val lng = rng.nextDouble() * 360 - 180
      val z = 8
      val tx = WebMercator.tileX(lng, z)
      val ty = WebMercator.tileY(lat, z)
      val covering = WebMercator.tileCovering(tx, ty, z)
      assert(covering.size > 0 && covering.size <= 8)
      assert(covering.containsPoint(LatLng.toPointDegrees(lat, lng)))
      // vector->raster: every covering cell intersects some tile; our
      // original tile must be among the tiles of the cell containing the
      // point.
      val leaf = CellId.fromLatLngDegrees(lat, lng)
      val cellAt10 = CellId.parent(leaf, 10)
      val tiles = WebMercator.cellTiles(cellAt10, z)
      val key = (z.toLong << 58) | (tx << 29) | ty
      assert(tiles.contains(key), s"tile $tx/$ty missing from cell tiles")
    }
  }

  test("tile assignment is stable across repeated computation") {
    for (((la, ln), _) <- graft.sources.PagesSource.cities.zipWithIndex) {
      val a = (WebMercator.tileX(ln, 12), WebMercator.tileY(la, 12))
      val b = (WebMercator.tileX(ln, 12), WebMercator.tileY(la, 12))
      assert(a === b)
    }
  }
}
