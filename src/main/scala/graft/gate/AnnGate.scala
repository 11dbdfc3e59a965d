package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity}
import Inputs._

/** Gated embedding queries (near-dup pairs, exact and approximate top-k
  * search) and the multimodal decode.
  */
object AnnGate {

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The top-k queries: the first 16 vectors as (q_id, q_vec). */
  private def annQueries(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  /** IVF stage: the 16 lowest-id vectors as centroids, argmax assignment
    * with first-wins ties, nProbe=4 probing. Reads `e(vec_id, emb)`.
    */
  private val ivfProbeCtes =
    """ cent AS (SELECT vec_id AS c, emb AS cvec FROM e WHERE vec_id < 16),
      | assign AS (SELECT vec_id, c FROM (
      |    SELECT e.vec_id, cent.c,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.emb, cent.cvec) DESC, cent.c ASC) AS rn
      |    FROM e CROSS JOIN cent) WHERE rn = 1),
      | probes AS (SELECT q_id, c FROM (
      |    SELECT e.vec_id AS q_id, cent.c,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.emb, cent.cvec) DESC, cent.c ASC) AS rn
      |    FROM e CROSS JOIN cent WHERE e.vec_id < 16) WHERE rn <= 4)""".stripMargin

  /** Exact cosine top-3 re-rank of `cands(q_id, vec_id)` over `e`. */
  private val rerankSql =
    """SELECT q_id, vec_id, rank FROM (
      |  SELECT ca.q_id, ca.vec_id,
      |    CAST(row_number() OVER (PARTITION BY ca.q_id
      |      ORDER BY list_cosine_similarity(eq.emb, ec.emb) DESC, ca.vec_id ASC) AS BIGINT) AS rank
      |  FROM cands ca JOIN e eq ON eq.vec_id = ca.q_id JOIN e ec ON ec.vec_id = ca.vec_id)
      |WHERE rank <= 3""".stripMargin

  /** Top-3 per query of `d(q_id, vec_id, score)`, ties to smaller id. */
  private val rankByScoreSql =
    """SELECT q_id, vec_id, rank FROM (
      |  SELECT q_id, vec_id, CAST(row_number() OVER (PARTITION BY q_id
      |    ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank FROM d)
      |WHERE rank <= 3""".stripMargin

  /** The embedding near-dup fixture: the first 500 corpus vectors (as
    * doubles) plus planted perturbed copies at vec_id + 100000 (even dims
    * scaled by 1.02, odd by 0.98 — cosine ~0.9996 with the original).
    * Shared by the exact cartesian (q_embed_neardup) and the LSH-bucketed
    * scale path (q_embed_neardup_lsh), which are gated against the same
    * oracle.
    */
  private def embedNearDupInput(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"))
    val planted = emb.select((col("vec_id") + 100000).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(CASE WHEN i % 2 = 0 THEN CAST(x AS DOUBLE) * 1.02 ELSE CAST(x AS DOUBLE) * 0.98 END AS DOUBLE))")
        .as("embedding"))
    emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .unionByName(planted)
  }

  /** Exact all-pairs cosine >= 0.99 — shared by the brute cartesian and
    * the LSH-bucketed path: the LSH output is a subset by construction,
    * so hash-equality against this set IS the banding-recall-1.0 proof.
    */
  private def embedNearDupSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
       |  FROM read_parquet('$oracleSf/embeddings.parquet')
       |  WHERE vec_id < 500
       |), e AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    [CASE WHEN (i - 1) % 2 = 0 THEN emb[i] * 1.02 ELSE emb[i] * 0.98 END
       |     for i in range(1, len(emb) + 1)] FROM base
       |)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |FROM e a, e b
       |WHERE a.vec_id < b.vec_id
       |  AND list_cosine_similarity(a.emb, b.emb) >= 0.99""".stripMargin

  val queries: Seq[GateQuery] = Seq(
    // Embedding-cosine near-duplicate pairs (brute force, exact) over the
    // corpus + planted perturbed copies (vec_id + 100000; even indices
    // scaled by 1.02, odd by 0.98 -> cosine ~0.9996 with the original).
    GateQuery("q_embed_neardup", (s, dir) => {
      Dedup.embeddingNearDupPairs(
        embedNearDupInput(s, dir), "vec_id", "embedding", threshold = 0.99)
        .select(col("a_id"), col("b_id"))
    }, oracleSql = embedNearDupSql),

    // The BUCKETED scale path for the same near-dup set: hyperplane-LSH
    // banding generates candidates inside signature buckets (ids-only
    // shuffle, capped hot buckets), exact cosine verifies. Output is by
    // construction a subset of q_embed_neardup's exact set; gating it
    // against the SAME oracle proves banding recall 1.0 on this fixture
    // (every planted pair shares at least one 4-bit band), so the one
    // remaining cartesian anchor has a gated bucketed sibling.
    GateQuery("q_embed_neardup_lsh", (s, dir) => {
      Dedup.embeddingNearDupPairsLsh(
        embedNearDupInput(s, dir), "vec_id", "embedding", threshold = 0.99)
        .select(col("a_id"), col("b_id"))
    },
    // The LSH-bucketed pipeline must emit the identical pair set:
    // subset-by-construction + hash-equality = recall 1.0 on fixture.
    oracleSql = embedNearDupSql),

    // ANN baseline: exact cosine top-3 for the first 16 vectors as queries.
    GateQuery("q_ann_top3", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb, annQueries(emb), k = 3)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }, oracleSql =
      s"""WITH e AS (SELECT vec_id, embedding FROM read_parquet('$oracleSf/embeddings.parquet')),
         |q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM e WHERE vec_id < 16)
         |SELECT q_id, vec_id, rank FROM (
         |  SELECT q.q_id, e.vec_id,
         |    CAST(row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY list_cosine_similarity(q.q_vec, e.embedding) DESC,
         |               e.vec_id ASC) AS BIGINT) AS rank
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id
         |) WHERE rank <= 3""".stripMargin),

    // ANN scale path: hyperplane-LSH bucketed top-3 (approximate;
    // rows-only check, recall asserted in DedupSpec).
    GateQuery("q_ann_lsh", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.hyperplaneLshTopK(s, emb, annQueries(emb), k = 3)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    },
    // Full hyperplane-LSH reimplementation in SQL: the 16 seeded
    // hyperplanes are baked as literals (same doubles the engine
    // broadcasts), signatures and 4-bit band buckets recomputed
    // independently, candidates re-ranked exactly.
    oracleSql = {
      val planes = Similarity.hyperplanes(16, 64, 42)
      val pv = planes.zipWithIndex.map { case (p, b) =>
        s"($b, [${p.map(x => f"$x%.17e").mkString(", ")}])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
         |           FROM read_parquet('$oracleSf/embeddings.parquet')),
         | planes(bit, p) AS (VALUES $pv),
         | bits AS (SELECT e.vec_id, planes.bit,
         |    CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      [planes.p[i] * e.emb[i] for i in range(1, 65)]), (a, v) -> a + v) >= 0
         |      THEN CAST(1 AS BIGINT) << planes.bit ELSE CAST(0 AS BIGINT) END AS b
         |   FROM e CROSS JOIN planes),
         | sigs AS (SELECT vec_id, CAST(sum(b) AS BIGINT) AS sig FROM bits GROUP BY vec_id),
         | bands(band) AS (VALUES (0), (1), (2), (3)),
         | cbuck AS (SELECT vec_id, (CAST(band AS BIGINT) << 32) | ((sig >> (band*4)) & 15) AS bucket
         |           FROM sigs CROSS JOIN bands),
         | qbuck AS (SELECT vec_id AS q_id, bucket FROM cbuck WHERE vec_id < 16),
         | cands AS (SELECT DISTINCT q.q_id, c.vec_id
         |           FROM qbuck q JOIN cbuck c USING (bucket) WHERE c.vec_id <> q.q_id)
         |$rerankSql""".stripMargin
    }),

    // ANN scale path 2: IVF inverted lists (coarse quantizer + nProbe
    // probing; rows-only check, recall asserted in DedupSpec).
    GateQuery("q_ann_ivf", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(s, emb, annQueries(emb), k = 3)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    },
    // Full IVF reimplementation in SQL: same deterministic coarse
    // quantizer (16 lowest-id vectors), argmax assignment with
    // first-wins ties, nProbe=4 probing, exact re-rank.
    oracleSql =
      s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
         |           FROM read_parquet('$oracleSf/embeddings.parquet')),
         |$ivfProbeCtes,
         | cands AS (SELECT p.q_id, a.vec_id FROM probes p JOIN assign a USING (c)
         |           WHERE a.vec_id <> p.q_id)
         |$rerankSql""".stripMargin),

    // IVF with the k-means-refined quantizer (2 Lloyd iterations over the
    // corpus). The oracle re-runs Lloyd in SQL: per-dim means with float
    // rounding per iteration, argmax assignment with first-wins ties.
    // Centroid VALUES need only be float-equal, not summation-order-
    // equal: every comparison downstream (assignment, probe, re-rank)
    // has margins orders of magnitude above the 1-ulp mean noise.
    GateQuery("q_ann_ivf_kmeans", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(s, emb, annQueries(emb), k = 3, kmeansIters = 2)
        .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    },
    // Lloyd-refined IVF, fully re-run in SQL: two k-means iterations
    // (argmax assignment with first-wins ties, per-dim means computed
    // as sum/count then rounded to float — the exact arithmetic shape
    // of the Scala side's (sum/n).toFloat, so the only residual noise
    // is double-summation order, pinned harmless by KmeansMarginSpec's
    // tie-margin assertions), then the same
    // assignment / nProbe=4 probing / exact re-rank as q_ann_ivf.
    // Ranking by dot/(|e||c|) vs the Scala loop's dot/sqrt(na*nb) is
    // the same quantity; margins dwarf summation-order noise.
    oracleSql =
      s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb
         |           FROM read_parquet('$oracleSf/embeddings.parquet')),
         | dims AS (SELECT unnest(range(64)) AS dim),
         | c0 AS (SELECT vec_id AS c, dim, emb[dim+1] AS val FROM e, dims WHERE vec_id < 16),
         | s0 AS (SELECT e.vec_id, cr.c,
         |    sum(e.emb[cr.dim+1]*cr.val) /
         |    sqrt(sum(e.emb[cr.dim+1]*e.emb[cr.dim+1])*sum(cr.val*cr.val)) AS s
         |  FROM e CROSS JOIN c0 cr WHERE cr.dim >= 0 GROUP BY e.vec_id, cr.c),
         | a0 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
         |  FROM s0) WHERE rn = 1),
         | m0 AS (SELECT a.c, d.dim,
         |   CAST(CAST(sum(e.emb[d.dim+1])/count(*) AS REAL) AS DOUBLE) AS val
         |  FROM a0 a JOIN e ON e.vec_id = a.vec_id CROSS JOIN dims d GROUP BY a.c, d.dim),
         | c1 AS (SELECT p.c, p.dim, COALESCE(m.val, p.val) AS val
         |  FROM c0 p LEFT JOIN m0 m ON m.c = p.c AND m.dim = p.dim),
         | s1 AS (SELECT e.vec_id, cr.c,
         |    sum(e.emb[cr.dim+1]*cr.val) /
         |    sqrt(sum(e.emb[cr.dim+1]*e.emb[cr.dim+1])*sum(cr.val*cr.val)) AS s
         |  FROM e CROSS JOIN c1 cr WHERE cr.dim >= 0 GROUP BY e.vec_id, cr.c),
         | a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
         |  FROM s1) WHERE rn = 1),
         | m1 AS (SELECT a.c, d.dim,
         |   CAST(CAST(sum(e.emb[d.dim+1])/count(*) AS REAL) AS DOUBLE) AS val
         |  FROM a1 a JOIN e ON e.vec_id = a.vec_id CROSS JOIN dims d GROUP BY a.c, d.dim),
         | c2 AS (SELECT p.c, p.dim, COALESCE(m.val, p.val) AS val
         |  FROM c1 p LEFT JOIN m1 m ON m.c = p.c AND m.dim = p.dim),
         | s2 AS (SELECT e.vec_id, cr.c,
         |    sum(e.emb[cr.dim+1]*cr.val) /
         |    sqrt(sum(e.emb[cr.dim+1]*e.emb[cr.dim+1])*sum(cr.val*cr.val)) AS s
         |  FROM e CROSS JOIN c2 cr WHERE cr.dim >= 0 GROUP BY e.vec_id, cr.c),
         | assign AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
         |  FROM s2) WHERE rn = 1),
         | probes AS (SELECT vec_id AS q_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c ASC) AS rn
         |  FROM s2 WHERE vec_id < 16) WHERE rn <= 4),
         | cands AS (SELECT p.q_id, a.vec_id FROM probes p JOIN assign a USING (c)
         |           WHERE a.vec_id <> p.q_id)
         |$rerankSql""".stripMargin),

    // SQ8 quantized ANN: int8 scalar quantization (floor(x*127/maxabs) —
    // one IEEE double op per element, identical in both engines) then
    // EXACT integer dot-product top-3 per query via the bounded top-k
    // aggregate. The 4x-smaller integer scan is the memory-bandwidth
    // path at corpus scale; recall vs float cosine measured in Sq8Spec.
    GateQuery("q_ann_sq8", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.sq8TopK(emb, annQueries(emb), k = 3)
    },
    // SQ8: identical quantization arithmetic (max-abs in double, one
    // multiply+divide+floor per element — IEEE-deterministic on both
    // engines), exact BIGINT code dot rescaled by the corpus vector's
    // stored factor maxabs/127 (one int64->double conversion + two
    // IEEE ops on shared operands), top-3 per query by (score, id).
    oracleSql =
      s"""WITH e AS (SELECT vec_id, embedding FROM read_parquet('$oracleSf/embeddings.parquet')),
         | m AS (SELECT vec_id, embedding,
         |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs FROM e),
         | c AS (SELECT vec_id, maxabs/127.0 AS scale,
         |   CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
         |        ELSE list_transform(embedding, x ->
         |          CAST(floor(CAST(x AS DOUBLE)*127.0/maxabs) AS INTEGER)) END AS codes
         |   FROM m),
         | q AS (SELECT vec_id AS q_id, codes AS q_codes FROM c WHERE vec_id < 16),
         | d AS (SELECT q.q_id, c.vec_id,
         |   CAST(list_sum(list_transform(list_zip(q.q_codes, c.codes),
         |     t -> CAST(t[1] AS BIGINT) * t[2])) AS BIGINT)
         |     * CAST(c.scale AS DOUBLE) AS score
         |  FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id)
         |$rankByScoreSql""".stripMargin),

    // The production ANN composition: IVF coarse lists prune the corpus
    // (nProbe=4 of 16 lists per query), the in-list scan scores SQ8
    // int8 codes by the exact rescaled integer dot, top-3 via the
    // bounded aggregate. Same assignment/probe as q_ann_ivf, same
    // quantization as q_ann_sq8 — the oracle re-runs both stages.
    GateQuery("q_ann_ivf_sq8", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfSq8TopK(s, emb, annQueries(emb), k = 3)
    },
    // IVF stage shared with q_ann_ivf's oracle; scoring stage as in
    // q_ann_sq8's (codes, rescaled BIGINT dot). Candidates come only
    // from probed lists; ranking is the quantized ordering.
    oracleSql =
      s"""WITH e AS (SELECT vec_id, embedding,
         |           [CAST(x AS DOUBLE) for x in embedding] AS emb
         |           FROM read_parquet('$oracleSf/embeddings.parquet')),
         |$ivfProbeCtes,
         | m AS (SELECT vec_id,
         |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
         |   embedding FROM e),
         | codes AS (SELECT vec_id, maxabs/127.0 AS scale,
         |   CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> 0)
         |        ELSE list_transform(embedding, x ->
         |          CAST(floor(CAST(x AS DOUBLE)*127.0/maxabs) AS INTEGER)) END AS cds
         |   FROM m),
         | cands AS (SELECT p.q_id, a.vec_id FROM probes p JOIN assign a USING (c)
         |           WHERE a.vec_id <> p.q_id),
         | d AS (SELECT ca.q_id, ca.vec_id,
         |   CAST(list_sum(list_transform(list_zip(cq.cds, cc.cds),
         |     t -> CAST(t[1] AS BIGINT) * t[2])) AS BIGINT)
         |     * CAST(cc.scale AS DOUBLE) AS score
         |  FROM cands ca JOIN codes cq ON cq.vec_id = ca.q_id
         |                JOIN codes cc ON cc.vec_id = ca.vec_id)
         |$rankByScoreSql""".stripMargin),

    // Multimodal: REAL decode + feature extraction over binary media
    // payloads (PNG via ImageIO, WAV via javax.sound, PNG-frame video
    // container). Every feature is a deterministic function of the id,
    // so the oracle independently derives what a correct decoder must
    // return.
    GateQuery("q_multimodal", (s, dir) => {
      val media = Multimodal.synthesize(s, 1000)
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"), col("mean0"))
    },
    // Ground truth for the decoders: payload parameters are pure
    // integer functions of the id (Multimodal.imageDims etc.); the
    // means are exact because payloads are constant-valued (sum =
    // value * n is an exact double, and IEEE division returns the
    // exact quotient).
    oracleSql =
      s"""WITH ids AS (SELECT unnest(range(0, 1000)) AS id)
         |SELECT CAST(id AS BIGINT) AS media_id,
         |  CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(CASE id % 3 WHEN 0 THEN 16 + id % 48 WHEN 1 THEN 256 + id % 512
         |       ELSE 16 + id % 8 END AS BIGINT) AS width,
         |  CAST(CASE id % 3 WHEN 0 THEN 16 + id % 32 WHEN 1 THEN 1
         |       ELSE 16 + id % 8 END AS BIGINT) AS height,
         |  CAST(CASE id % 3 WHEN 1 THEN 1 ELSE 3 END AS BIGINT) AS channels,
         |  CAST(CASE id % 3 WHEN 0 THEN 1 WHEN 1 THEN 256 + id % 512
         |       ELSE 2 + id % 4 END AS BIGINT) AS n_frames,
         |  CASE id % 3 WHEN 1 THEN CAST((id % 2000) - 1000 AS DOUBLE)
         |       ELSE CAST((id * 37) % 256 AS DOUBLE) END AS mean0
         |FROM ids""".stripMargin)
  )
}
