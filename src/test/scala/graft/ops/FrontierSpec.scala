package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Bloom, BloomStatics}

/** Bloom-filter frontier screen: no false negatives (set membership is a
  * hard guarantee, not a probability), bounded false-positive rate at
  * the design sizing, parallelism-invariant filter bytes (OR merge), and
  * exactness of the composed newUrls vs a plain anti-join.
  */
class FrontierSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("frontier-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def u8(s: String) = UTF8String.fromString(s)

  test("scalar kernel: added keys always probe true (no false negatives)") {
    val mBits = 1L << 14
    val k = 7
    val words = new Array[Long](((mBits + 63) >>> 6).toInt)
    val rng = new scala.util.Random(7)
    val keys = Seq.fill(1000)("https://h" + rng.nextLong() + ".test/p/" + rng.nextInt())
    keys.foreach(s => BloomStatics.set(words, mBits, k, u8(s)))
    assert(keys.forall(s => BloomStatics.mightContain(words, mBits, k, u8(s))))
  }

  test("scalar kernel: false-positive rate near theory at 16 bits/key") {
    // 1000 keys in 2^14 bits ~ 16.4 bits/key, k=7 -> theoretical fp ~0.6%.
    val mBits = 1L << 14
    val k = 7
    val words = new Array[Long](((mBits + 63) >>> 6).toInt)
    (0 until 1000).foreach(i => BloomStatics.set(words, mBits, k, u8(s"in$i")))
    val fp = (0 until 20000).count(i =>
      BloomStatics.mightContain(words, mBits, k, u8(s"out$i")))
    assert(fp.toDouble / 20000 < 0.03,
      s"fp rate ${fp / 20000.0} should be well under 3% at this sizing")
    assert(fp > 0, "a bloom filter this loaded should show SOME fp " +
      "(sanity: the probe is not accidentally exact)")
  }

  test("aggregate bytes are bit-identical at any parallelism (OR merge)") {
    import spark.implicits._
    val df = (0 until 5000).map(i => s"https://x$i.test/p/$i").toDF("url")
    def build(parts: Int): Seq[Byte] =
      df.repartition(parts)
        .select(Bloom.bloomAgg(col("url"), 1L << 16, 7).as("b"))
        .head.getAs[Array[Byte]](0).toSeq
    assert(build(1) == build(9))
  }

  test("empty seen set: all-zero filter, every candidate definitely new") {
    import spark.implicits._
    val seen = Seq.empty[String].toDF("url")
    val cands = (0 until 100).map(i => s"https://c$i.test/").toDF("url")
    val (defNew, maybe) =
      Frontier.splitByBloom(spark, seen, cands, "url", 1L << 10, 5)
    assert(defNew.count() == 100 && maybe.count() == 0)
  }

  test("newUrls equals the plain anti-join on a mixed fixture") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val seenUrls = (0 until 3000).map(i => s"https://s${i}.test/p/$i")
    val candUrls = rng.shuffle(
      seenUrls.take(700) ++                        // true revisits
        (0 until 2000).map(i => s"https://n${i}.test/q/$i") ++ // new
        seenUrls.slice(100, 300))                  // duplicate revisits
    val seen = seenUrls.toDF("url")
    val cands = candUrls.toDF("url")

    val got = Frontier.newUrls(spark, seen, cands, k = 7)
      .collect().map(_.getString(0)).toSet
    val want = cands.join(seen, Seq("url"), "left_anti")
      .distinct().collect().map(_.getString(0)).toSet
    assert(got == want)
    assert(want.size == 2000)
  }

  test("newUrls sizes its filter at 16 bits per seen url") {
    import spark.implicits._
    val seen = (0 until 100000).map(i => s"https://s$i.test/").toDF("url")
    val cands = Seq("https://s7.test/", "https://new.test/").toDF("url")
    val df = Frontier.newUrls(spark, seen, cands)
    val mBits = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case b: graft.functions.BloomProbeExpr => b.mBits
    }))
    assert(mBits.nonEmpty, "newUrls must probe a bloom filter")
    // 16 bits a key, from the seen count: not a fixed size
    assert(mBits.toSet === Set(1600000L), s"filter bits $mBits")
    assert(df.collect().map(_.getString(0)).toSeq === Seq("https://new.test/"))
    assert(Frontier.bloomBits(0) === 64L && Frontier.bloomBits(5) === 128L)
  }

  test("prefilter effectiveness: the confirm join carries only the seen " +
    "overlap plus a small fp fraction of the new") {
    import spark.implicits._
    val seen = (0 until 3000).map(i => s"https://s${i}.test/p/$i").toDF("url")
    val cands = ((0 until 300).map(i => s"https://s${i}.test/p/$i") ++
      (0 until 5000).map(i => s"https://n${i}.test/q/$i")).toDF("url")
    val (defNew, maybe) =
      Frontier.splitByBloom(spark, seen, cands, "url", 1L << 16, 7)
    val nMaybe = maybe.count()
    val nDefNew = defNew.count()
    assert(nMaybe >= 300, "all true revisits must be bloom-positive")
    assert(nMaybe <= 300 + 150,
      s"fp overhead ${nMaybe - 300} of 5000 new should be small at 21 bits/key")
    assert(nDefNew + nMaybe == 5300)
  }
}
