package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** A filter whose word count would overflow an Int fails at construction,
  * before any allocation, instead of wrapping to a wrong-sized array.
  */
class BloomSizeSpec extends AnyFunSuite {

  test("bloom filters above 2^37 - 64 bits fail fast") {
    val tooBig = BloomBuffer.MaxBits + 1
    for (mBits <- Seq(tooBig, 1L << 37, 1L << 40)) {
      val e = intercept[IllegalArgumentException](new BloomBuffer(mBits, 3))
      assert(e.getMessage.contains(s"$mBits bits"))
      intercept[IllegalArgumentException](BloomAggregate(Literal("x"), mBits, 3))
    }
    assert(((BloomBuffer.MaxBits + 63L) >>> 6).toInt === Int.MaxValue)
    assert(new BloomBuffer(1024L, 3).words.length === 16)
  }
}
