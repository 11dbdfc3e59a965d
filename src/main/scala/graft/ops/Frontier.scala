package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Bloom, BloomStatics}

/** Crawl-frontier url-seen screening: which candidate urls are NEW
  * (never crawled), exactly, without anti-joining the full candidate
  * stream against the full seen table.
  *
  * Scale shape at 10^12 seen urls / 10^10 candidates per batch, where
  * the overwhelming candidate majority is genuinely new:
  *
  *  1. Build a bloom filter over the seen urls ONCE per frontier epoch
  *     (one seen-table scan; merge = OR so the build is a plain
  *     map-side-combinable aggregate). The filter is a reusable
  *     artifact — subsequent batches in the epoch never touch the seen
  *     table again except through step 3's confirm join.
  *  2. Probe every candidate against the broadcast filter — a
  *     shuffle-free codegen scan. Bloom-NEGATIVE candidates are
  *     DEFINITELY new (no false negatives) and exit here without ever
  *     entering an exchange: the dominant cohort pays one map pass.
  *  3. Bloom-POSITIVE candidates (the truly-seen minority plus the
  *     bounded false-positive fraction of the new) are confirmed with
  *     an exact anti-join against the seen table. Only this minority
  *     shuffles; with a cell/hash-clustered seen layout the join is
  *     additionally partition-pruned.
  *
  * The result is EXACT (bloom errors only ever add rows to the confirm
  * join, never drop a new url), so the gate oracle is the plain
  * anti-join semantics. Sizing: newUrls counts the seen table and gives
  * the filter 16 bits a key; with k = 7 the false-positive rate is then
  * about 0.07%, so step 3 carries ~|seen-overlap| + 0.0007x|new| rows (at
  * ~10 bits/key it is ~1%). A single driver-resident filter covers
  * ~10^9-10^10 seen urls (GBs of bits); beyond that the same aggregate
  * builds one filter per url-hash partition and step 2 probes the
  * matching one.
  */
object Frontier {

  /** One-pass bloom build over a string column; returns the bit words. */
  def buildBloomWords(df: DataFrame, colName: String,
                      mBits: Long, k: Int): Array[Long] = {
    val bytes = df.select(Bloom.bloomAgg(col(colName), mBits, k).as("bloom"))
      .head.getAs[Array[Byte]](0)
    BloomStatics.wordsFromBytes(bytes)
  }

  /** Candidates split by the broadcast probe: (definitely-new,
    * maybe-seen). Exposed for specs; newUrls composes the exact result.
    */
  def splitByBloom(spark: SparkSession, seen: DataFrame, candidates: DataFrame,
                   urlCol: String, mBits: Long, k: Int)
      : (DataFrame, DataFrame) = {
    val words = buildBloomWords(seen, urlCol, mBits, k)
    val bc = spark.sparkContext.broadcast(words)
    val flagged = candidates
      .withColumn("__maybe_seen", Bloom.bloomProbe(col(urlCol), bc, mBits, k))
    (flagged.filter(!col("__maybe_seen")).drop("__maybe_seen"),
      flagged.filter(col("__maybe_seen")).drop("__maybe_seen"))
  }

  /** Bloom filter size for `keys` keys: 16 bits a key, a multiple of 64
    * bits, at least 64.
    */
  private[ops] def bloomBits(keys: Long): Long =
    math.max(64L, (16L * keys + 63L) / 64L * 64L)

  /** Distinct candidate urls NOT present in `seen` — exact. The filter is
    * sized from the seen count (bloomBits).
    */
  def newUrls(spark: SparkSession, seen: DataFrame, candidates: DataFrame,
              urlCol: String = "url", k: Int = 7): DataFrame = {
    val (definiteNew, maybeSeen) =
      splitByBloom(spark, seen, candidates, urlCol, bloomBits(seen.count()), k)
    val confirmedNew = maybeSeen
      .join(seen.select(col(urlCol)), Seq(urlCol), "left_anti")
    definiteNew.select(col(urlCol))
      .unionAll(confirmedNew.select(col(urlCol)))
      .distinct()
  }
}
