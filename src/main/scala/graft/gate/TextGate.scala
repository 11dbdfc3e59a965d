package graft.gate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextHash, TopKStrings}
import graft.ops.{Boilerplate, ConnectedComponents, Curation, Decontaminate, Dedup, TextOps}
import Inputs._

/** Gated text queries over the documents table (and, for HTML
  * extraction, the pages fixture): dedup, cleaning, quality and curation.
  */
object TextGate {

  /** `docs` plus a planted near-copy of each (doc_id + 100000, one
    * appended token): the near-dup fixture.
    */
  private def withPlantedCopies(docs: DataFrame): DataFrame =
    docs.unionByName(docs.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" graftdupmarker")).as("text")))

  /** Exact all-pairs word-3-gram Jaccard >= 0.6 over the full corpus
    * + planted copies, via an inverted gram index (pairs sharing no
    * gram have Jaccard 0 and drop out of the join). Shared by
    * q_minhash_lsh (batch LSH) and q_stream_neardup (stateful
    * streaming screen over the same corpus): on this fixture banding
    * recall is provably 1.0 (min emitted Jaccard 0.75, max bucket
    * 6 << cap), so both approximate pipelines emit exactly this set.
    */
  private def minhashPairsCtes: String =
    s"""base AS (SELECT doc_id, text FROM read_parquet('$oracleSf/documents.parquet')),
       | docs AS (SELECT doc_id, text FROM base
       |          UNION ALL SELECT doc_id + 100000, text || ' graftdupmarker' FROM base),
       | grams AS (
       |   SELECT doc_id, list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
       |     for i in range(1, greatest(len(string_split(text, ' ')) - 1, 2))]) AS g
       |   FROM docs),
       | sizes AS (SELECT doc_id, len(g) AS n FROM grams),
       | ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
       | inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
       |           FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       | pairs AS (
       |   SELECT a_id, b_id,
       |     CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
       |   FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       |   WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.6)""".stripMargin

  def minhashExactPairsSql: String =
    s"WITH $minhashPairsCtes SELECT a_id, b_id, jaccard FROM pairs"

  /** Transitive closure of the exact pair set via a recursive CTE, then
    * the same survivor rule as ConnectedComponents.dedupClusters
    * (longest text, ties to smallest doc_id). cluster_id = component
    * minimum on both sides.
    */
  private def dedupClusterSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       | e AS (SELECT a_id AS u, b_id AS v FROM pairs
       |       UNION SELECT b_id, a_id FROM pairs),
       | nodes AS (SELECT DISTINCT u AS id FROM e),
       | reach(id, r) AS (
       |   SELECT id, id FROM nodes
       |   UNION
       |   SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v),
       | lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       | lens AS (SELECT doc_id, length(text) AS len FROM docs),
       | surv AS (SELECT cluster_id, id AS survivor_id FROM (
       |   SELECT l.cluster_id, l.id,
       |     row_number() OVER (PARTITION BY l.cluster_id
       |                        ORDER BY lens.len DESC, l.id ASC) AS rn
       |   FROM lab l JOIN lens ON lens.doc_id = l.id) WHERE rn = 1)
       |SELECT l.id AS doc_id, l.cluster_id, s.survivor_id
       |FROM lab l JOIN surv s ON s.cluster_id = l.cluster_id""".stripMargin

  val queries: Seq[GateQuery] = Seq(
    // Exact dedup on the documents table. The group key is sha2(text),
    // not the text itself: identical group semantics (collision odds at
    // 256 bits are negligible at any corpus size), but the exchange
    // carries 32-byte digests instead of whole documents — at 100 TB the
    // shuffle payload shrinks by the full corpus size.
    GateQuery("q_dedup_exact", (s, dir) => {
      documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(min("doc_id").as("canonical_id"), count("*").as("dup_count"))
        .filter(col("dup_count") >= 1)
        .select(col("canonical_id"), col("dup_count"))
    }, oracleSql =
      s"""SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
         |FROM read_parquet('$oracleSf/documents.parquet')
         |GROUP BY text HAVING count(*) >= 1""".stripMargin),

    // Text analysis: token counts (whitespace + BPE-ish regex),
    // punctuation/stopword ratios, composite quality score.
    GateQuery("q_text_stats", (s, dir) => {
      val docs = documents(s, dir)
      TextOps.qualityScore(docs, "text")
        .withColumn("n_tokens_bpe", TextOps.tokenCountBpe(col("text")))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_tokens_bpe").cast("long").as("n_tokens_bpe"),
          col("stop_ratio"), col("punct_ratio"), col("quality"))
    }, oracleSql = {
      val stopHits = TextOps.stopwordHitsSql("text")
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
         |  CAST($stopHits AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.5
         |    + least((CAST($stopHits AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 4.0, 1.0) * 0.3
         |    + (1.0 - least((CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 10.0, 1.0)) * 0.2 AS quality
         |FROM read_parquet('$oracleSf/documents.parquet')""".stripMargin
    }),

    // Benchmark decontamination: corpus docs sharing any word 8-gram
    // with the benchmark set (doc_id % 50 == 0). Benchmark gram hashes
    // broadcast once; the corpus pass is a shuffle-free codegen map
    // (shingle + merge-count probe). Oracle re-derives the overlap from
    // raw gram strings (hash-vs-string equality absent collisions, the
    // dedup family's declared trade).
    GateQuery("q_decontaminate", (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 50 === 0)
      Decontaminate.flagOverlaps(s, docs, bench, n = 8)
    },
    // 8-gram comprehension mirrors the minhash oracle's 3-gram one
    // (docs with < 8 words contribute their whole text as one gram,
    // matching shingleHashes' short-doc rule).
    oracleSql =
      s"""WITH docs AS (SELECT doc_id, text
         |   FROM read_parquet('$oracleSf/documents.parquet')),
         | grams AS (
         |   SELECT doc_id, list_distinct([array_to_string(string_split(text, ' ')[i:i+7], ' ')
         |     for i in range(1, greatest(len(string_split(text, ' ')) - 6, 2))]) AS g
         |   FROM docs),
         | bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams
         |           WHERE doc_id % 50 = 0),
         | ex AS (SELECT doc_id, unnest(g) AS gram FROM grams)
         |SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM ex JOIN bench ON ex.gram = bench.gram
         |GROUP BY ex.doc_id""".stripMargin),

    // Corpus curation / data mixing: per-(lang, source) cap via the
    // bounded top-k aggregate (O(k) state, map-side combine — never a
    // per-domain sort), then per-lang greedy token-budget fill. Quality
    // DOUBLEs are bit-equal across engines (proven by q_text_stats's
    // value hash), so selection order matches the SQL windows exactly.
    GateQuery("q_quota_mix", (s, dir) => {
      val docs = documents(s, dir)
      val scored = TextOps.qualityScore(docs, "text")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens").cast("long").as("n_tokens"), col("quality"))
      val capped = Curation.capPerStratum(
        scored, Seq("lang", "source"), "quality", "doc_id", k = 2)
      Curation.quotaFill(capped, "lang", "n_tokens", "quality", "doc_id",
        budget = 1000L)
    },
    // Same quality formula, then the curation pipeline as SQL windows:
    // rank <= 2 per (lang, source), cumulative n_tokens per lang in
    // (quality desc, doc_id) order, keep rows starting under the budget.
    oracleSql = {
      val stopHits = TextOps.stopwordHitsSql("text")
      s"""WITH q AS (
         |  SELECT doc_id, lang, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0, 1.0) * 0.5
         |      + least((CAST($stopHits AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 4.0, 1.0) * 0.3
         |      + (1.0 - least((CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)) * 10.0, 1.0)) * 0.2 AS quality
         |  FROM read_parquet('$oracleSf/documents.parquet')),
         | capped AS (SELECT doc_id, lang, source, n_tokens, quality FROM (
         |   SELECT q.*, row_number() OVER (PARTITION BY lang, source
         |     ORDER BY quality DESC, doc_id ASC) AS rn FROM q) WHERE rn <= 2),
         | filled AS (SELECT capped.*, sum(n_tokens) OVER (PARTITION BY lang
         |   ORDER BY quality DESC, doc_id ASC
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM capped)
         |SELECT doc_id, lang, source, n_tokens, quality
         |FROM filled WHERE cum - n_tokens < 1000""".stripMargin
    }),

    // PII redaction: scrub emails/phones before training. PII is planted
    // deterministically on 2/3 of the docs (the other third must pass
    // through byte-identical); the value hash covers the full redacted
    // string plus independent per-kind match counts. Chained
    // regexp_replace builtins: codegen, shuffle-free, one scan pass.
    GateQuery("q_pii_redact", (s, dir) => {
      val docs = documents(s, dir)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 2, col("text")).otherwise(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).as("text"))
      planted.select(col("doc_id"),
        TextOps.redactPii(col("text")).as("redacted"),
        TextOps.emailCount(col("text")).as("n_emails"),
        TextOps.phoneCount(col("text")).as("n_phones"))
    }, oracleSql =
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 2 THEN text
         |       ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
         |            || '@example.com or +1-555-'
         |            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END AS text
         |  FROM read_parquet('$oracleSf/documents.parquet'))
         |SELECT doc_id,
         |  ${TextOps.redactPiiSql("text")} AS redacted,
         |  ${TextOps.emailCountSql("text")} AS n_emails,
         |  ${TextOps.phoneCountSql("text")} AS n_phones
         |FROM d""".stripMargin),

    // Deterministic stratified sampling: hash-gated Bernoulli per
    // language, seedless and parallelism-independent (same doc set on
    // any cluster layout — df.sample's per-partition RNG streams can't
    // promise that). Shuffle-free scan; the exposed bucket column makes
    // each acceptance auditable.
    GateQuery("q_sample_stratified", (s, dir) => {
      val docs = documents(s, dir)
      Curation.sampleDeterministic(docs,
        "concat(lang, ':', CAST(doc_id AS STRING))", "lang",
        Seq("en" -> 30, "de" -> 60, "fr" -> 60, "es" -> 80), defaultRate = 90)
        .select(col("doc_id"), col("lang"), col("sample_bucket"))
    }, oracleSql = {
      val bucket = TextOps.fingerprintSql(
        "(lang || ':' || CAST(doc_id AS VARCHAR))")
      s"""SELECT doc_id, lang, sample_bucket FROM (
         |  SELECT doc_id, lang, CAST(($bucket) % 100 AS BIGINT) AS sample_bucket
         |  FROM read_parquet('$oracleSf/documents.parquet'))
         |WHERE sample_bucket < (CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 60
         |  WHEN 'fr' THEN 60 WHEN 'es' THEN 80 ELSE 90 END)""".stripMargin
    }),

    // Token-budget shard assignment: contiguous training shards of ~500
    // tokens per language in doc_id order, via the deterministic-bucket
    // distributed prefix sum (per-bucket subtotals -> driver prefix ->
    // bounded within-bucket windows) — never a whole-stratum
    // single-reducer sort. bucketSize=128 exercises 4 buckets at sf0.01.
    GateQuery("q_token_shards", (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCountWhitespace(col("text")).cast("long").as("n_tokens"))
      Curation.tokenShards(docs, "lang", "doc_id", "n_tokens",
        budget = 500L, bucketSize = 128L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("shard"))
    },
    // The engine's bucketed prefix-sum decomposition must equal the
    // plain global cumulative window per language — the oracle states
    // the semantics, the engine the scale shape.
    oracleSql =
      s"""SELECT doc_id, lang, n_tokens,
         |  CAST(floor((cum - n_tokens) / 500) AS BIGINT) AS shard
         |FROM (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
         |      PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM read_parquet('$oracleSf/documents.parquet'))""".stripMargin),

    // CCNet-style quality buckets (head/middle/tail per language) via
    // EXACT integer quantiles: bucket decided by 100*count_le(score) >
    // pct*n in BIGINT — no float, no approximate percentile, and the
    // cumulative window runs over the per-lang DISTINCT SCORE DOMAIN
    // (bounded by construction), never over corpus rows.
    GateQuery("q_quality_buckets", (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCountWhitespace(col("text")).cast("long").as("n_tokens"))
      Curation.quantileBuckets(docs, "lang", "n_tokens")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bucket"))
    },
    // Same all-integer cut rule (100*count_le > pct*n) over the same
    // histogram; ties share a score, so both engines assign buckets
    // identically regardless of row order.
    oracleSql =
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM read_parquet('$oracleSf/documents.parquet')),
         | h AS (SELECT lang, n_tokens, count(*) AS cnt FROM d GROUP BY 1, 2),
         | c AS (SELECT lang, n_tokens,
         |    sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cle,
         |    sum(cnt) OVER (PARTITION BY lang) AS n FROM h),
         | lab AS (SELECT lang, n_tokens,
         |    CASE WHEN cle*100 > n*90 THEN 'head'
         |         WHEN cle*100 > n*50 THEN 'middle'
         |         ELSE 'tail' END AS bucket FROM c)
         |SELECT d.doc_id, d.lang, d.n_tokens, lab.bucket
         |FROM d JOIN lab USING (lang, n_tokens)""".stripMargin),

    // Per-document salient terms: top-3 tokens by (tf desc, df asc,
    // token asc) — the TF-IDF ranking with an all-integer order, so the
    // gate is exact (no idf logarithm to disagree across engines). Both
    // aggregations combine map-side; the top-k window partitions by
    // document (bounded by per-doc vocabulary, never a hot stratum).
    GateQuery("q_keywords", (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text"))
      TextOps.keywordsTfDf(docs, "doc_id", "text", k = 3)
    }, oracleSql =
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM read_parquet('$oracleSf/documents.parquet')
         |), tf AS (
         |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |  FROM t WHERE token <> '' GROUP BY 1, 2
         |), dfq AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), r AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf DESC, dfq.df ASC, tf.token ASC) AS BIGINT)
         |      AS kw_rank
         |  FROM tf JOIN dfq USING (token))
         |SELECT doc_id, token, tf, df, kw_rank FROM r
         |WHERE kw_rank <= 3""".stripMargin),

    // Per-language vocabulary head: top-20 tokens by (count desc, token
    // asc bytewise) per language — computed with the string-payload
    // bounded top-k aggregate, NOT a window: languages are few and
    // enormous (10^11 'en' tokens at deploy scale), exactly the hot
    // stratum a row_number() window would sort on one reducer. The
    // aggregate carries O(k) state through map-side combine; its
    // bytewise tie-break equals DuckDB's binary collation, so the SQL
    // window oracle reproduces the order exactly.
    GateQuery("q_vocab_topk", (s, dir) => {
      val docs = documents(s, dir)
      val counts = docs.select(col("lang"),
          explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      counts.groupBy(col("lang"))
        .agg(TopKStrings.topKStrs(col("cnt"), col("token"), 20).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), col("col.str").as("token"),
          col("col.score").as("cnt"),
          (col("pos") + 1).cast("long").as("vrank"))
    }, oracleSql =
      s"""WITH t AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS token
         |  FROM read_parquet('$oracleSf/documents.parquet')
         |), c AS (
         |  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
         |  FROM t WHERE token <> '' GROUP BY 1, 2
         |), r AS (
         |  SELECT lang, token, cnt,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY cnt DESC, token ASC) AS BIGINT) AS vrank
         |  FROM c)
         |SELECT lang, token, cnt, vrank FROM r WHERE vrank <= 20""".stripMargin),

    // Unicode NFC normalization — the cleaning pass BEFORE any
    // hashing/dedup stage (composed vs decomposed variants of the same
    // visible text would otherwise hash apart). Native codegen
    // expression with an ASCII fast path; the oracle twin is DuckDB's
    // utf8proc-backed nfc_normalize evaluating the same UAX #15
    // algorithm. Planted arms: doc_id%3==0 appends a combining-acute
    // sequence (len shrinks on compose), %3==1 appends U+212B ANGSTROM
    // SIGN (singleton-composes to U+00C5, same length), %3==2 stays
    // pure ASCII and must come back unchanged. Shuffle-free scan.
    GateQuery("q_text_norm", (s, dir) => {
      val docs = documents(s, dir)
      val raw = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" cafe\u0301")))
        .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" \u212B")))
        .otherwise(col("text"))
      docs.select(col("doc_id"), raw.as("raw_text"))
        .withColumn("norm_text", TextHash.nfcNormalize(col("raw_text")))
        .select(col("doc_id"), col("norm_text"),
          (col("norm_text") =!= col("raw_text")).cast("long").as("changed"),
          length(col("raw_text")).cast("long").as("len_raw"),
          length(col("norm_text")).cast("long").as("len_norm"))
    },
    // chr(769) = U+0301 COMBINING ACUTE, chr(8491) = U+212B ANGSTROM
    // SIGN — the same decomposed plants as the Spark side; DuckDB's
    // utf8proc nfc_normalize evaluates the same UAX #15 algorithm as
    // java.text.Normalizer.
    oracleSql =
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
         |         WHEN doc_id % 3 = 1 THEN text || ' ' || chr(8491)
         |         ELSE text END AS raw_text
         |  FROM read_parquet('$oracleSf/documents.parquet'))
         |SELECT doc_id, nfc_normalize(raw_text) AS norm_text,
         |  CAST(nfc_normalize(raw_text) <> raw_text AS BIGINT) AS changed,
         |  CAST(length(raw_text) AS BIGINT) AS len_raw,
         |  CAST(length(nfc_normalize(raw_text)) AS BIGINT) AS len_norm
         |FROM d""".stripMargin),

    // Repetition-based quality filter (the Gopher-style "repetitious
    // text" rules): per-document duplicate-line fraction + duplicate
    // word 2-/3-gram fractions, thresholded to a keep decision. The
    // fixture has no natural newlines and natural dup-gram fractions of
    // at most 0.13/0.07 (measured), so repetition is planted: a
    // 4x-duplicated line on doc_id%4==0, a 16x-repeated phrase on
    // doc_id%4==1; the other half must pass untouched. Builtin
    // higher-order functions only — a shuffle-free codegen scan.
    GateQuery("q_quality_repetition", (s, dir) => {
      val docs = documents(s, dir)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), repeat(lit("\nbuy cheap widgets today"), 4)))
          .when(col("doc_id") % 4 === 1,
            concat(col("text"), lit(" "), repeat(lit("limited time offer "), 16)))
          .otherwise(col("text")).as("text"))
      TextOps.repetitionStats(planted, "text")
        .withColumn("keep", TextOps.repetitionKeep)
        .select("doc_id", "n_lines", "dup_line_frac", "dup_2gram_frac",
          "dup_3gram_frac", "keep")
    }, oracleSql = {
      val toks = "string_split(text, ' ')"
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0
         |         THEN text || repeat(chr(10) || 'buy cheap widgets today', 4)
         |       WHEN doc_id % 4 = 1
         |         THEN text || ' ' || repeat('limited time offer ', 16)
         |       ELSE text END AS text
         |  FROM read_parquet('$oracleSf/documents.parquet')),
         | f AS (SELECT doc_id,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |  ${TextOps.dupFracSql("string_split(text, chr(10))")} AS dup_line_frac,
         |  ${TextOps.dupFracSql(TextOps.wordNgramsSql(toks, 2))} AS dup_2gram_frac,
         |  ${TextOps.dupFracSql(TextOps.wordNgramsSql(toks, 3))} AS dup_3gram_frac
         |  FROM d)
         |SELECT doc_id, n_lines, dup_line_frac, dup_2gram_frac, dup_3gram_frac,
         |  CAST((dup_line_frac <= 0.30 AND dup_2gram_frac <= 0.20
         |        AND dup_3gram_frac <= 0.18) AS BIGINT) AS keep
         |FROM f""".stripMargin
    }),

    // Within-document duplicate-line removal (CCNet line dedup): first
    // occurrence survives, order preserved. Plants: %4==0 appends the
    // same line 4x (one survives), %4==1 appends interleaved duplicate
    // lines (alpha/beta each survive once, in first-seen order).
    // Shuffle-free builtin scan; the full cleaned text is value-hashed.
    GateQuery("q_line_dedup", (s, dir) => {
      val docs = documents(s, dir)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), repeat(lit("\nbuy cheap widgets today"), 4)))
          .when(col("doc_id") % 4 === 1,
            concat(col("text"), lit("\nalpha line\nbeta line\nalpha line\nbeta line")))
          .otherwise(col("text")).as("text"))
      val lines = split(col("text"), "\n")
      planted.select(col("doc_id"),
        TextOps.dedupLines(col("text")).as("clean_text"),
        size(lines).cast("long").as("n_lines"),
        size(split(TextOps.dedupLines(col("text")), "\n"))
          .cast("long").as("n_kept"))
    },
    // First-occurrence line filter via list_position = 1-based index
    // (Spark mirrors with array_position = i+1 on its 0-based index).
    oracleSql =
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0
         |         THEN text || repeat(chr(10) || 'buy cheap widgets today', 4)
         |       WHEN doc_id % 4 = 1
         |         THEN text || chr(10) || 'alpha line' || chr(10) || 'beta line'
         |           || chr(10) || 'alpha line' || chr(10) || 'beta line'
         |       ELSE text END AS text
         |  FROM read_parquet('$oracleSf/documents.parquet'))
         |SELECT doc_id, ${TextOps.dedupLinesSql("text")} AS clean_text,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(string_split(${TextOps.dedupLinesSql("text")}, chr(10))) AS BIGINT) AS n_kept
         |FROM d""".stripMargin),

    // Corpus-level boilerplate paragraph removal (CCNet/Dolma cleaning
    // shape): paragraphs appearing in >= 50 distinct docs are stripped
    // from every doc, order preserved. Boilerplate is planted (cookie
    // header on doc_id%3==0, rights footer on %5==0 — 267 paragraph
    // instances across 233 docs at sf0.01); natural text multiplicity
    // maxes at 2, far under the threshold. The hot-set cap (10) is
    // mirrored in the SQL so the gate holds at any scale.
    GateQuery("q_boilerplate", (s, dir) => {
      val docs = documents(s, dir)
      val withHdr = when(col("doc_id") % 3 === 0,
        concat(lit("accept cookies to continue\n"), col("text")))
        .otherwise(col("text"))
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(withHdr, lit("\nall rights reserved worldwide")))
          .otherwise(withHdr).as("text"))
      Boilerplate.removeBoilerplate(planted, "text",
        minDocs = 50, maxBoilerplate = 10)
        .select("doc_id", "n_paras", "n_removed", "clean_text")
    }, oracleSql =
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0
         |       THEN h || chr(10) || 'all rights reserved worldwide'
         |       ELSE h END AS text
         |  FROM (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |         THEN 'accept cookies to continue' || chr(10) || text
         |         ELSE text END AS h
         |    FROM read_parquet('$oracleSf/documents.parquet'))),
         | p AS (SELECT unnest(list_distinct(string_split(text, chr(10)))) AS para FROM d),
         | hot AS (SELECT para FROM (SELECT para, count(*) AS n_docs FROM p GROUP BY 1
         |   HAVING count(*) >= 50 ORDER BY n_docs DESC, para LIMIT 10)),
         | f AS (SELECT doc_id, string_split(text, chr(10)) AS paras,
         |       (SELECT coalesce(list(para), []) FROM hot) AS hotlist FROM d)
         |SELECT doc_id, CAST(len(paras) AS BIGINT) AS n_paras,
         |  CAST(len(paras) - len(list_filter(paras, q -> NOT list_contains(hotlist, q))) AS BIGINT) AS n_removed,
         |  array_to_string(list_filter(paras, q -> NOT list_contains(hotlist, q)), chr(10)) AS clean_text
         |FROM f""".stripMargin),

    // Span-level duplicate measurement (the dedup granularity between
    // whole-document hashes and paragraph removal): per doc, the count
    // and fraction of its 8-token sliding windows that occur in >= 2
    // distinct documents. A fixed 16-token passage is planted on
    // doc_id%7==0 (9 guaranteed shared spans per planted doc); the tiny
    // fixture vocabulary also yields real natural span collisions
    // (measured: 1015 of 22.6k distinct spans at sf0.01), which the
    // oracle reproduces exactly — no caps, no floats beyond one division
    // on identical integer operands.
    GateQuery("q_span_dedup", (s, dir) => {
      val docs = documents(s, dir)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" the quick brown fox jumps over the lazy dog again and again every single day forever")))
          .otherwise(col("text")).as("text"))
      Dedup.spanDupStats(planted, "doc_id", "text")
        .select("doc_id", "n_spans", "n_dup_spans", "dup_span_frac")
    }, oracleSql =
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0
         |       THEN text || ' the quick brown fox jumps over the lazy dog again and again every single day forever'
         |       ELSE text END AS text
         |  FROM read_parquet('$oracleSf/documents.parquet')),
         | t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
         | s AS (SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
         |   for i in range(1, len(toks) - 6)]) AS span FROM t),
         | dup AS (SELECT span FROM (SELECT span, count(DISTINCT doc_id) AS nd
         |   FROM s GROUP BY 1) WHERE nd >= 2),
         | pd AS (SELECT doc_id, count(*) AS n_dup FROM s JOIN dup USING(span) GROUP BY 1)
         |SELECT t.doc_id, CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_spans,
         |  CASE WHEN len(toks) >= 8
         |       THEN CAST(coalesce(pd.n_dup, 0) AS DOUBLE) / CAST(len(toks) - 7 AS DOUBLE)
         |       ELSE 0.0 END AS dup_span_frac
         |FROM t LEFT JOIN pd USING (doc_id)""".stripMargin),

    // Span-level duplicate REMOVAL (the act stage over q_span_dedup's
    // measurement): keeper = min doc_id per duplicated 8-token span;
    // covered token positions drop everywhere else and the text is
    // rebuilt. Same planted passage as q_span_dedup — doc 0 keeps it,
    // every other %7 doc loses those windows; natural fixture span
    // collisions are removed under the same integer rule.
    GateQuery("q_span_rewrite", (s, dir) => {
      val docs = documents(s, dir)
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" the quick brown fox jumps over the lazy dog again and again every single day forever")))
          .otherwise(col("text")).as("text"))
      Dedup.spanDedupRewrite(planted, "doc_id", "text")
    },
    // Same integer rule: keeper = min(doc_id) per duplicated span;
    // covered 1-based positions via range (exclusive end, so s..s+7);
    // DuckDB list_filter's index is 1-based like start1, and
    // array_to_string([]) is NULL where Spark's array_join gives ''.
    oracleSql =
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0
         |       THEN text || ' the quick brown fox jumps over the lazy dog again and again every single day forever'
         |       ELSE text END AS text
         |  FROM read_parquet('$oracleSf/documents.parquet')),
         | t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
         | s AS (SELECT doc_id, unnest([{'i': i,
         |     'sp': array_to_string(toks[i:i+7], ' ')}
         |   for i in range(1, len(toks) - 6)]) AS u FROM t),
         | s2 AS (SELECT doc_id, u.i AS start1, u.sp AS span FROM s),
         | st AS (SELECT span, min(doc_id) AS keeper FROM s2
         |   GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
         | rem AS (SELECT doc_id, list(DISTINCT start1) AS starts
         |   FROM s2 JOIN st USING (span) WHERE doc_id <> keeper GROUP BY 1),
         | cov AS (SELECT t.doc_id, toks,
         |   list_distinct(flatten([range(s, s+8) for s in coalesce(starts, [])])) AS covered
         |   FROM t LEFT JOIN rem USING (doc_id))
         |SELECT doc_id,
         |  coalesce(array_to_string(
         |    list_filter(toks, (x, j) -> NOT list_contains(covered, j)), ' '), '') AS clean_text,
         |  CAST(len(toks) - len(list_filter(toks, (x, j) -> NOT list_contains(covered, j))) AS BIGINT) AS n_removed
         |FROM cov""".stripMargin),

    // Language ID via marker-word scoring with deterministic tie-break.
    GateQuery("q_lang_id", (s, dir) => {
      TextOps.langId(
        documents(s, dir), "text")
        .select(col("doc_id"), col("pred_lang"))
    }, oracleSql =
      s"""SELECT doc_id, ${TextOps.langIdSql("text")} AS pred_lang
         |FROM read_parquet('$oracleSf/documents.parquet')""".stripMargin),

    // Rolling-hash document fingerprint.
    GateQuery("q_fingerprint", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"), TextOps.fingerprint("text").as("fp"))
    }, oracleSql =
      s"""SELECT doc_id, ${TextOps.fingerprintSql("text")} AS fp
         |FROM read_parquet('$oracleSf/documents.parquet')""".stripMargin),

    // Exact n-gram Jaccard near-dup pairs over documents + planted
    // mutated copies (doc_id + 100000, one appended token).
    GateQuery("q_ngram_jaccard", (s, dir) => {
      // all-pairs is quadratic: bound the fixture subset so the exact
      // oracle path stays cheap at every SF (the LSH query is the scale
      // path; this one exists to be exactly SQL-checkable)
      val docs = documents(s, dir)
        .filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      Dedup.ngramJaccardPairs(
        withPlantedCopies(docs), "doc_id", "text", n = 3, threshold = 0.6)
    }, oracleSql =
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM read_parquet('$oracleSf/documents.parquet')
         |  WHERE doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 100000, text || ' graftdupmarker'
         |  FROM read_parquet('$oracleSf/documents.parquet') WHERE doc_id < 250
         |), grams AS (
         |  SELECT doc_id, list_distinct([array_to_string(string_split(text, ' ')[i:i+2], ' ')
         |    for i in range(1, greatest(len(string_split(text, ' ')) - 1, 2))]) AS g
         |  FROM docs
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |    / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) AS jaccard
         |FROM grams a, grams b
         |WHERE a.doc_id < b.doc_id
         |  AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |    / CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE) >= 0.6""".stripMargin),

    // MinHash + LSH candidate pairs, exact-verified (rows-only check;
    // recall/determinism proven in DedupSpec).
    GateQuery("q_minhash_lsh", (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text"))
      Dedup.minHashLsh(s, withPlantedCopies(docs),
        "doc_id", "text", threshold = 0.6)
        .select(col("a_id"), col("b_id"), col("jaccard"))
    }, oracleSql = minhashExactPairsSql),

    // Near-dup CLUSTER collapse — the step that makes the pair emitters
    // an actual dedup: LSH pairs -> connected components (alternating
    // large/small-star, O(log n) rounds at any graph diameter) -> one
    // survivor per cluster (longest text, ties to smallest id). Banding
    // recall 1.0 on this fixture carries over from q_minhash_lsh, so the
    // oracle can take the exact pair set's transitive closure.
    GateQuery("q_dedup_cluster", (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text"))
      val all = withPlantedCopies(docs)
      val pairs = Dedup.minHashLsh(s, all, "doc_id", "text",
        threshold = 0.6).select(col("a_id"), col("b_id"))
      ConnectedComponents.dedupClusters(s, all, pairs)
    }, oracleSql = dedupClusterSql),

    // SimHash near-dup pairs at Hamming distance <= 3 (rows-only).
    GateQuery("q_simhash", (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text"))
      Dedup.simHashPairs(s, withPlantedCopies(docs),
        "doc_id", "text", maxDistance = 3)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
    },
    // Full SimHash reimplementation in SQL: FNV-1a 64 per token (the
    // fixture is pure ASCII, so codepoints == UTF-8 bytes), 64-bit
    // majority vote, then pigeonhole banding (4 x 16-bit chunks —
    // exact for Hamming <= 3: any such pair shares a chunk) WITH the
    // engine's hot-bucket cap mirrored (row_number by doc_id <= 256
    // per (chunk, key)). The cap is part of the operator's declared
    // semantics (the boundedness guard at corpus scale); mirroring it
    // keeps the gate's set-equality true at ANY scale factor — at
    // sf0.1 the cap genuinely binds (42 of 5492 exact pairs fall in
    // over-cap buckets) and an uncapped oracle would hash-mismatch.
    oracleSql = {
      val fnv = """list_reduce(
        |  list_prepend(CAST(14695981039346656037 AS UBIGINT),
        |               [CAST(unicode(c) AS UBIGINT) for c in string_split(w, '')]),
        |  (acc, b) -> CAST((CAST(xor(acc, b) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT))""".stripMargin
      s"""WITH base AS (SELECT doc_id, text FROM read_parquet('$oracleSf/documents.parquet')),
         | docs AS (SELECT doc_id, text FROM base
         |          UNION ALL SELECT doc_id + 100000, text || ' graftdupmarker' FROM base),
         | hs AS (SELECT doc_id, [$fnv for w in string_split(text, ' ')] AS hs FROM docs),
         | sh AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS UBIGINT),
         |   [CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END for h in hs]) > 0
         |         THEN CAST(1 AS UBIGINT) << b ELSE CAST(0 AS UBIGINT) END
         |    for b in range(0, 64)]), (acc, v) -> CAST(acc + v AS UBIGINT)) AS sh FROM hs),
         | banded AS (SELECT doc_id, sh, c.chunk,
         |     (sh >> (c.chunk * 16)) & 65535 AS key,
         |     row_number() OVER (PARTITION BY c.chunk, (sh >> (c.chunk * 16)) & 65535
         |                        ORDER BY doc_id) AS rn
         |   FROM sh CROSS JOIN (VALUES (0), (1), (2), (3)) c(chunk)),
         | kept AS (SELECT * FROM banded WHERE rn <= 256)
         |SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS a_id,
         |  CAST(b.doc_id AS BIGINT) AS b_id,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM kept a JOIN kept b
         |  ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin
    }),

    // HTML -> text extraction: the input_hint's defining per-row
    // operation (text IS the extraction of html, byte-identical per
    // url). Variants planted per pid%4 exercise script+style dropping,
    // nested tag stripping, and entity decoding with the &amp;-last
    // rule; arms 0-2 must reproduce the text column byte-for-byte
    // (matches_text TRUE), arm 3 appends entity-encoded content whose
    // decode both engines derive independently. Shuffle-free builtin
    // codegen scan.
    GateQuery("q_extract_text", (s, dir) => {
      val p = rawPages(s, dir)
      val pid = pageId
      val body = decode(col("html"), "UTF-8")
      val h = when(pid % 4 === 0, body)
        .when(pid % 4 === 1, concat(
          lit("<html><head><script type=\"text/javascript\">var x = " +
            "\"<div>\";\nif (x) { x = 1; }</script><style>.c{color:red}" +
            "</style></head><body>"),
          col("text"), lit("</body></html>")))
        .when(pid % 4 === 2, concat(
          lit("<html><body><div class=\"m\"><a href=\"https://x.test/\">"),
          col("text"), lit("</a><br/></div></body></html>")))
        .otherwise(concat(
          lit("<html><body>"), col("text"),
          lit(" &amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</body></html>")))
      val extracted = TextOps.extractText(h)
      p.select(col("url"), extracted.as("extracted"),
        (extracted === col("text")).as("matches_text"))
    },
    // Same planted arms, same extraction chain (TextOps.extractTextSql
    // shares the regex/entity constants with the engine), so extracted
    // text is byte-identical — including arm 3's entity decode, which
    // only the oracle's own replace chain derives.
    oracleSql =
      s"""WITH p AS (
         |  SELECT url, text, decode(html) AS body,
         |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
         |  FROM read_parquet('$oraclePages')
         |), h AS (
         |  SELECT url, text, CASE pid % 4
         |    WHEN 0 THEN body
         |    WHEN 1 THEN '<html><head><script type="text/javascript">var x = "<div>";'
         |      || chr(10) || 'if (x) { x = 1; }</script><style>.c{color:red}</style></head><body>'
         |      || text || '</body></html>'
         |    WHEN 2 THEN '<html><body><div class="m"><a href="https://x.test/">'
         |      || text || '</a><br/></div></body></html>'
         |    ELSE '<html><body>' || text
         |      || ' &amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;</body></html>'
         |  END AS html FROM p)
         |SELECT url, ${TextOps.extractTextSql("html")} AS extracted,
         |  (${TextOps.extractTextSql("html")} = text) AS matches_text
         |FROM h""".stripMargin)
  )
}
