package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over the crawl's host graph: fixed-point integer
  * PageRank — the standard crawl-quality prior (seed lists, crawl
  * scheduling, per-domain quality weighting) downstream of outlink
  * extraction.
  *
  * All arithmetic is BIGINT fixed-point (ranks scaled by `scale`,
  * truncating integer division): no floating point anywhere, so the
  * result is bit-identical across engines (Spark `div` ≡ DuckDB `//` on
  * non-negative operands), across parallelism levels, and across cluster
  * layouts — integer sums are order-independent where double sums are
  * not. That is the same determinism contract the sampling and
  * fingerprint operators pin, and it is what makes the rank column safe
  * to use as a gate/partition key in a resumable pipeline.
  *
  * Update rule per iteration (damping d = dampNum/100):
  *   contrib(s→t) = (rank(s) * weight(s→t)) div out_w(s)
  *   rank'(t)     = ((100-dampNum)*scale + dampNum * Σ_s contrib(s→t)) div 100
  * Dangling hosts (no outlinks) contribute nothing — the standard
  * leak-the-mass simplification; hosts with no inlinks settle at the
  * base rank.
  *
  * Scale shape at 10^12 pages: the page-level edge list collapses FIRST
  * to the weighted host-level graph (one map-side-combinable shuffle on
  * (src,dst) — hosts ~10^8, host-edges ~10^9, both orders of magnitude
  * below the corpus). Each iteration is then one shuffle join on the
  * host key plus one map-side-combinable aggregation over the host-level
  * graph only; documents never re-enter. Overflow bound: rank mass stays
  * ≤ n_hosts*scale, so rank*weight ≤ n_hosts*scale*max_weight must stay
  * under 2^63 — scale=10^9 leaves ~9 orders of headroom at 10^8 hosts.
  * At high iteration counts a production run would checkpoint each ranks
  * iteration to cut plan depth; at the fixed small iters used here the
  * composed plan is fine.
  */
object LinkGraph {

  /** PageRank over `edges` (columns `src`, `dst` — one row per page-level
    * link), `iters` fixed iterations. Returns (host, out_w, rank).
    */
  def hostRank(edges: DataFrame, iters: Int, scale: Long = 1000000000L,
               dampNum: Long = 85L): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= 100)
    // The host-level graph is referenced by every iteration (and by the
    // out-weight/universe derivations): localCheckpoint it so the
    // page-level edge extraction runs exactly once and the iteration
    // lineage stays flat — the ConnectedComponents pattern.
    val g = edges.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
      .localCheckpoint()
    val ow = g.groupBy(col("src")).agg(sum(col("w")).cast("long").as("out_w"))
    val gw = g.join(ow, "src").localCheckpoint()
    val universe = g.select(col("src").as("host"))
      .union(g.select(col("dst").as("host"))).distinct()
      .localCheckpoint()
    val base = (100L - dampNum) * scale
    var ranks = universe.withColumn("rank", lit(scale))
    for (_ <- 1 to iters) {
      val incoming = gw
        .join(ranks.withColumnRenamed("host", "src"), Seq("src"))
        .select(col("dst").as("host"),
          expr("(rank * w) div out_w").as("contrib"))
        .groupBy(col("host")).agg(sum(col("contrib")).as("inc"))
      ranks = universe.join(incoming, Seq("host"), "left")
        .select(col("host"),
          expr(s"($base + $dampNum * coalesce(inc, 0L)) div 100")
            .as("rank"))
    }
    ranks.join(ow.withColumnRenamed("src", "host"), Seq("host"), "left")
      .select(col("host"), coalesce(col("out_w"), lit(0L)).as("out_w"),
        col("rank"))
  }

  /** The same computation as DuckDB SQL: `edgesSql` must select columns
    * (src, dst); emits (host, out_w, rank). Iterations unrolled as
    * chained CTEs — both engines evaluate the one integer specification.
    */
  def hostRankSql(edgesSql: String, iters: Int, scale: Long = 1000000000L,
                  dampNum: Long = 85L): String = {
    val base = (100L - dampNum) * scale
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT u.host,
         |    CAST(($base + $dampNum * coalesce(inc.s, 0)) // 100 AS BIGINT)
         |      AS rank
         |  FROM u LEFT JOIN (
         |    SELECT g.dst AS host, sum((r${k - 1}.rank * g.w) // ow.out_w) AS s
         |    FROM g JOIN r${k - 1} ON g.src = r${k - 1}.host
         |           JOIN ow ON g.src = ow.src
         |    GROUP BY 1) inc ON u.host = inc.host)""".stripMargin
    }
    // edgesSql is substituted AFTER stripMargin: its lines may begin
    // with the `||` concat operator, which stripMargin would truncate.
    s"""WITH e AS (__EDGES__),
       | g AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |       FROM e GROUP BY 1, 2),
       | ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
       |        FROM g GROUP BY 1),
       | u AS (SELECT DISTINCT host FROM
       |        (SELECT src AS host FROM g UNION ALL SELECT dst FROM g)),
       | r0 AS (SELECT host, CAST($scale AS BIGINT) AS rank FROM u),
       | ${iterCtes.mkString(",\n ")}
       |SELECT r.host, CAST(coalesce(ow.out_w, 0) AS BIGINT) AS out_w,
       |  r.rank
       |FROM r$iters r LEFT JOIN ow ON r.host = ow.src""".stripMargin
      .replace("__EDGES__", edgesSql)
  }
}
