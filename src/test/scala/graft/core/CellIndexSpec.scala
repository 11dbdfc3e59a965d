package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** CellIndex against the reference's own quadratic validation
  * (cell_index_test.go:23-346): range iterators tile the sphere and
  * agree with seek/prev/next, the non-empty iterator stays synchronized,
  * and the contents iterator reports exactly the pairs whose cells
  * contain each range — for the named protocols and random overlapping
  * cell unions; the leaf point query agrees with the contents at both
  * ends of every range. The intersection visitors (left as TODOs in the
  * Go port) are cross-checked against brute force.
  */
class CellIndexSpec extends AnyFunSuite {
  import CellIndex._
  import java.lang.{Long => JLong}

  private def leq(a: Long, b: Long) = JLong.compareUnsigned(a, b) <= 0
  private def lt(a: Long, b: Long) = JLong.compareUnsigned(a, b) < 0

  private def quadraticValidate(desc: String, index: CellIndex): Unit = {
    index.build()
    verifyRangeIterators(desc, index)
    verifyContents(desc, index)
  }

  private def verifyRangeIterators(desc: String, index: CellIndex): Unit = {
    val it = index.rangeIterator()
    it.begin(); it.finish()
    assert(it.done, s"$desc: finish must be done")
    val ne0 = index.nonEmptyRangeIterator()
    ne0.begin(); ne0.finish()
    assert(ne0.done, s"$desc: nonEmpty finish must be done")

    var prevStart = 0L
    var nonEmptyPrevStart = 0L
    val nonEmpty = index.nonEmptyRangeIterator()
    it.begin()
    nonEmpty.begin()
    while (!it.done) {
      val start = it.startId
      val it2 = index.rangeIterator()
      it2.seek(it.startId)
      assert(it2.startId === start, s"$desc: seek(start)")
      it2.seek(CellId.prev(it.limitId))
      assert(it2.startId === start, s"$desc: seek(limit.prev)")

      val nonEmpty2 = index.nonEmptyRangeIterator()
      val nonEmptyStart = nonEmpty.startId
      nonEmpty2.seek(it.startId)
      assert(nonEmpty2.startId === nonEmptyStart, s"$desc: ne seek(start)")
      nonEmpty2.seek(CellId.prev(it.limitId))
      assert(nonEmpty2.startId === nonEmptyStart, s"$desc: ne seek(limit.prev)")

      if (it2.prev()) {
        assert(it2.startId === prevStart, s"$desc: prev")
        it2.next()
        assert(it2.startId === start, s"$desc: prev+next")
      } else {
        assert(it2.startId === start, s"$desc: prev at begin")
        assert(prevStart === 0L, s"$desc: prevStart at begin")
      }
      if (nonEmpty2.prev()) {
        assert(nonEmpty2.startId === nonEmptyPrevStart, s"$desc: ne prev")
        nonEmpty2.next()
        assert(nonEmpty2.startId === nonEmptyStart, s"$desc: ne prev+next")
      } else {
        assert(nonEmpty2.startId === nonEmptyStart, s"$desc: ne prev at begin")
        assert(nonEmptyPrevStart === 0L, s"$desc: ne prevStart at begin")
      }

      if (!it.isEmpty) {
        assert(it.startId === nonEmpty.startId, s"$desc: ne sync start")
        assert(it.limitId === nonEmpty.limitId, s"$desc: ne sync limit")
        assert(!nonEmpty.done, s"$desc: ne done too early")
        nonEmptyPrevStart = nonEmptyStart
        nonEmpty.next()
      }
      prevStart = start
      it.next()
    }
    assert(nonEmpty.done, s"$desc: nonEmpty must finish too")
  }

  private def verifyContents(desc: String, index: CellIndex): Unit = {
    var minCellId = CellId.childBeginAtLevel(CellId.fromFace(0), CellId.MaxLevel)
    val r = index.rangeIterator()
    r.begin()
    while (!r.done) {
      assert(r.startId === minCellId, s"$desc: ranges must tile")
      assert(lt(minCellId, r.limitId), s"$desc: range must be non-empty")
      minCellId = r.limitId

      val expected = index.pairs.filter { case (cellId, _) =>
        leq(CellId.rangeMin(cellId), r.startId) &&
          leq(r.limitId, CellId.next(CellId.rangeMax(cellId)))
      }
      // cells not covering the range must not intersect it either
      index.pairs.filterNot(expected.contains).foreach { case (cellId, _) =>
        assert(!(leq(CellId.rangeMin(cellId), CellId.prev(r.limitId)) &&
          leq(r.startId, CellId.rangeMax(cellId))),
          s"$desc: cell intersects range without covering it")
      }
      val actual = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
      val c = index.contentsIterator()
      c.startUnion(r)
      while (!c.done) { actual += ((c.cellId, c.label)); c.next() }
      assert(actual.sorted.toSeq === expected.sorted,
        s"$desc: contents mismatch for range ${CellId.toToken(r.startId)}")
      // the point query at either end of the range lists the same pairs
      for (leaf <- Seq(r.startId, CellId.prev(r.limitId)))
        assert(index.labelsContaining(leaf).sorted.toSeq === expected.map(_._2).sorted,
          s"$desc: point query mismatch at ${CellId.toToken(leaf)}")
      r.next()
    }
    assert(minCellId ===
      CellId.childEndAtLevel(CellId.fromFace(5), CellId.MaxLevel),
      s"$desc: final range must reach the sentinel")
  }

  private def buildFrom(pairs: (String, Int)*): CellIndex = {
    val index = new CellIndex
    pairs.foreach { case (s, l) => index.add(CellId.fromDebugString(s), l) }
    index
  }

  test("reference protocols validate quadratically") {
    quadraticValidate("Empty", new CellIndex)
    quadraticValidate("One face cell", buildFrom("0/" -> 0))
    quadraticValidate("One leaf cell",
      buildFrom("1/012301230123012301230123012301" -> 12))
    quadraticValidate("Duplicate values",
      buildFrom("0/" -> 0, "0/" -> 0, "0/" -> 1, "0/" -> 17))
    quadraticValidate("Disjoint cells", buildFrom("0/" -> 0, "3/" -> 0))
    quadraticValidate("Nested cells", buildFrom(
      "1/" -> 3, "1/0" -> 15, "1/000" -> 9, "1/00000" -> 11, "1/012" -> 6,
      "1/01212" -> 5, "1/312" -> 17, "1/31200" -> 4, "1/3120000" -> 10,
      "1/333" -> 20, "1/333333" -> 18, "5/" -> 3, "5/3" -> 31, "5/3333" -> 27))
    quadraticValidate("Contents iterator suppresses duplicates", buildFrom(
      "2/1" -> 1, "2/1" -> 2, "2/10" -> 3, "2/100" -> 4, "2/102" -> 5,
      "2/1023" -> 6, "2/31" -> 7, "2/313" -> 8, "2/3132" -> 9,
      "3/1" -> 10, "3/12" -> 11, "3/13" -> 12))
  }

  test("random overlapping cell unions validate quadratically") {
    val rng = new scala.util.Random(777)
    val index = new CellIndex
    for (label <- 0 until 60) {
      for (_ <- 0 until 6) {
        val p = Vec3(rng.nextGaussian(), rng.nextGaussian(),
          rng.nextGaussian()).normalize
        val level = rng.nextInt(CellId.MaxLevel + 1)
        index.add(CellId.parent(CellId.fromPoint(p.x, p.y, p.z), level), label)
      }
    }
    quadraticValidate("Random cell unions", index)
  }

  test("intersection visitors match brute force") {
    val rng = new scala.util.Random(778)
    val index = new CellIndex
    val pairs = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    for (label <- 0 until 40) {
      for (_ <- 0 until 4) {
        val p = Vec3(rng.nextGaussian(), rng.nextGaussian(),
          rng.nextGaussian()).normalize
        val id = CellId.parent(CellId.fromPoint(p.x, p.y, p.z),
          2 + rng.nextInt(10))
        index.add(id, label)
        pairs += ((id, label))
      }
    }
    index.build()
    for (_ <- 0 until 50) {
      val p = Vec3(rng.nextGaussian(), rng.nextGaussian(),
        rng.nextGaussian()).normalize
      val target = CellUnion.normalized(Array(
        CellId.parent(CellId.fromPoint(p.x, p.y, p.z), 1 + rng.nextInt(8))))
      val visited = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
      index.visitIntersectingCells(target, (c, l) => { visited += ((c, l)); true })
      val want = pairs.filter { case (id, _) =>
        target.ids.exists(t => CellId.intersects(t, id))
      }
      // exactly once each
      assert(visited.sorted.toSeq === want.sorted.toSeq,
        s"visit mismatch for ${target.ids.toSeq.map(CellId.toToken)}")
      val wantLabels = want.map(_._2).distinct.sorted
      assert(index.intersectingLabels(target) === wantLabels)
    }
  }
}
