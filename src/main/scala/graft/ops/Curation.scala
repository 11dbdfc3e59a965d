package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation: per-domain caps and per-language token-budget quota
  * fill — the "data mixing" stage that sits between dedup and training.
  */
object Curation {

  /** Keep at most k rows per stratum, best score first (ties to smallest
    * id). Uses the bounded top-k aggregate, not a window rank: map-side
    * partial aggregation carries O(k) state per group, so a hot stratum
    * (one boilerplate domain with 10^8 pages) never sorts on a single
    * reducer. One shuffle on the stratum key, then an id semi-join back
    * to the full rows.
    */
  def capPerStratum(df: DataFrame, strata: Seq[String], scoreCol: String,
                    idCol: String, k: Int): DataFrame = {
    val kept = df.groupBy(strata.map(col): _*)
      .agg(graft.functions.TopKByScore.topKIds(
        col(scoreCol), col(idCol), k).as("_kept_ids"))
      .select(explode(col("_kept_ids")).as(idCol))
    df.join(kept, Seq(idCol), "left_semi")
  }

  /** Greedy quota fill: within each stratum, take rows in (score desc, id
    * asc) order while the budget lasts; a row is kept iff the cost BEFORE
    * it is under the budget (so the last kept row may overflow — the
    * standard greedy-fill convention). The running sum is sequential per
    * stratum by definition; strata are few (languages / mixture buckets),
    * so this window is over a handful of partitions whose size the
    * preceding cap already bounded. For an unbounded stratum at deploy
    * scale, the two-pass variant (approximate score threshold from a
    * quantile sketch, then filter) replaces the window — same semantics
    * up to ties at the threshold.
    */
  def quotaFill(df: DataFrame, stratum: String, costCol: String,
                scoreCol: String, idCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratum)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(costCol)).over(w))
      .filter(col("_cum") - col(costCol) < budget)
      .drop("_cum")
  }

  /** Deterministic stratified Bernoulli sampling: keep a row iff
    * hash(key) mod `mod` < rate(stratum). The hash is the same rolling
    * hash as TextOps.fingerprint (so the SQL oracle mirrors it exactly);
    * it is seedless and depends only on the key bytes, so the sample is
    * identical at any parallelism, on any cluster, on any rerun —
    * the property dataset-lineage reproducibility needs that
    * `df.sample(fraction, seed)` (per-partition RNG streams) cannot give
    * once partitioning changes. Shuffle-free: one codegen scan pass.
    * The kept `sample_bucket` column is the hash residue, exposing the
    * acceptance evidence for auditing.
    */
  def sampleDeterministic(df: DataFrame, keyExprSql: String, stratum: String,
                          rates: Seq[(String, Int)], defaultRate: Int,
                          mod: Int = 100): DataFrame = {
    val bucket = (TextOps.fingerprint(keyExprSql) % mod).cast("long")
    val rate = rates.foldRight(lit(defaultRate): Column) {
      case ((s, r), acc) => when(col(stratum) === s, lit(r)).otherwise(acc)
    }
    df.withColumn("sample_bucket", bucket)
      .filter(col("sample_bucket") < rate)
  }

  /** Token-budget shard assignment: in global (stratum, order) order,
    * rows pack into contiguous shards of ~`budget` cost each —
    * shard = floor(cost-before-this-row / budget), numbered per stratum.
    * The last row of a shard may overflow the budget (greedy fill).
    *
    * Scale shape: the naive form is one cumulative-sum window per
    * stratum, which sorts each whole stratum on a single reducer — dead
    * on a 10^11-row 'en' stratum. Here the prefix sum is decomposed by a
    * DETERMINISTIC coarse bucket (floor(order / bucketSize), no sampled
    * range boundaries, so the result is identical at any parallelism):
    *   1. per-(stratum, bucket) subtotals — a map-side-combinable
    *      aggregate, collected to the driver (bounded by
    *      order-domain / bucketSize rows);
    *   2. driver prefix over buckets in order → per-bucket start offsets,
    *      broadcast back;
    *   3. a within-bucket cumulative window, partitioned by
    *      (stratum, bucket) — every window partition is ≤ bucketSize
    *      rows, embarrassingly parallel.
    * One shuffle (the window), bounded window state, bounded driver pull.
    */
  def tokenShards(df: DataFrame, stratum: String, orderCol: String,
                  costCol: String, budget: Long,
                  bucketSize: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val bucketed = df.withColumn("_bkt",
      floor(col(orderCol) / lit(bucketSize)).cast("long"))
    val subs = bucketed.groupBy(col(stratum).as("_s"), col("_bkt"))
      .agg(sum(col(costCol)).cast("long").as("_sub"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // Driver prefix: offset(s, b) = Σ subtotals of (s, b') for b' < b.
    val offsets = subs.sortBy(r => (r._1, r._2)).foldLeft(
      (List.empty[(String, Long, Long)], "", 0L)) {
      case ((acc, prevS, run), (s, b, sub)) =>
        val start = if (s == prevS) run else 0L
        ((s, b, start) :: acc, s, start + sub)
    }._1
    import spark.implicits._
    val offDf = offsets.toDF("_s", "_bkt", "_off")
      .withColumnRenamed("_s", stratum)
    val w = Window.partitionBy(col(stratum), col("_bkt"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offDf), Seq(stratum, "_bkt"))
      .withColumn("_cum", sum(col(costCol)).over(w) + col("_off"))
      .withColumn("shard",
        floor((col("_cum") - col(costCol)) / lit(budget)).cast("long"))
      .drop("_bkt", "_off", "_cum")
  }

  /** CCNet-style quality-bucket assignment (head/middle/tail per
    * stratum) via EXACT integer quantiles — no approximate percentile,
    * no float, no whole-stratum sort.
    *
    * A document's bucket is decided by its cumulative position in the
    * per-stratum score distribution: with n docs in the stratum and
    * count_le(s) = docs scoring <= s, the doc lands in the first bucket
    * whose cut it clears — `100 * count_le(s) > pct * n` (all BIGINT
    * arithmetic, so both engines agree exactly; ties share a score and
    * therefore a bucket, making the assignment deterministic at any
    * parallelism). Documents whose score is NULL are not counted in n
    * and come back with bucket NULL.
    *
    * Scale shape: one map-side-combinable (stratum, score) histogram
    * exchange, then the cumulative window runs over the DISTINCT VALUE
    * DOMAIN per stratum (token counts, integer quality grades — bounded
    * by construction), never over corpus rows: a 10^11-doc 'en' stratum
    * costs the window only as many rows as it has distinct scores. The
    * tiny label table joins back broadcast.
    *
    * cuts: highest first, e.g. Seq("head" -> 90, "middle" -> 50);
    * everything below the last cut falls into `restBucket`.
    */
  def quantileBuckets(df: DataFrame, stratum: String, scoreCol: String,
                      cuts: Seq[(String, Int)] = Seq("head" -> 90, "middle" -> 50),
                      restBucket: String = "tail"): DataFrame = {
    require(cuts.nonEmpty && cuts.map(_._2) == cuts.map(_._2).sorted.reverse,
      "cuts must be highest-percentile first")
    val scored = df.withColumn("_score", col(scoreCol).cast("long"))
    // A NULL score has no rank: it stays out of the histogram (where it
    // would count toward every cut) and comes back with bucket NULL.
    val hist = scored.filter(col("_score").isNotNull)
      .groupBy(col(stratum), col("_score"))
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(stratum).orderBy(col("_score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(stratum)
    val labeled = hist
      .withColumn("_cle", sum(col("_cnt")).over(w))
      .withColumn("_n", sum(col("_cnt")).over(wAll))
      .withColumn("bucket",
        cuts.foldRight(lit(restBucket): Column) { case ((name, pct), rest) =>
          when(col("_cle") * 100 > col("_n") * pct, lit(name)).otherwise(rest)
        })
      .select(col(stratum), col("_score"), col("bucket"))
    scored.join(broadcast(labeled), Seq(stratum, "_score"), "left")
      .drop("_score")
  }
}
