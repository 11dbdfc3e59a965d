package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TopKStrings
import graft.ops.{CrawlDelta, Frontier, LinkGraph, UrlOps}
import Inputs._

/** Gated crawl queries over the pages fixture: url canonicalization and
  * dedup, link graph, crawl deltas and rates, frontier screening.
  */
object CrawlGate {

  /** Host-level link edges (src, dst): two anchors are planted into
    * each page's html (targets keyed by page_id*7 and *13 mod the
    * 1000-host universe), then hrefs are regex-extracted from the raw
    * bytes and exploded.
    */
  private def plantedLinkEdges(s: SparkSession, dir: String): DataFrame = {
    val pid = pageId
    val h = concat(decode(col("html"), "UTF-8"),
      lit("<a href=\"https://example-"), ((pid * 7) % 1000).cast("string"),
      lit(".test/page/"), (pid % 50).cast("string"), lit("\">a</a>"),
      lit("<a href=\"https://example-"), ((pid * 13) % 1000).cast("string"),
      lit(".test/page/"), (pid % 50).cast("string"), lit("\">b</a>"))
    rawPages(s, dir).select(
        regexp_extract(col("url"), UrlOps.hostRe, 1).as("src"),
        explode(regexp_extract_all(h, lit(UrlOps.hrefRe), lit(1))).as("href"))
      .select(col("src"), regexp_extract(col("href"), UrlOps.hostRe, 1).as("dst"))
  }

  val queries: Seq[GateQuery] = Seq(
    // Per-domain crawl profile over the pages table: host extracted from
    // the url (same regex, Java and RE2 dialects agree), then one
    // map-side-combinable aggregation keyed on host — page count,
    // distinct langs, first/last crawl timestamp (as epoch seconds so
    // the hash is timezone-proof), total text bytes. The standard
    // curation precursor for per-domain caps and crawl scheduling.
    GateQuery("q_domain_stats", (s, dir) => {
      val p = rawPages(s, dir)
      p.select(
          regexp_extract(col("url"), "https?://([^/]+)/", 1).as("host"),
          col("lang"), col("warc_ts"), length(col("text")).as("n_chars"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("lang")).as("n_langs"),
          min(unix_timestamp(col("warc_ts"))).as("first_ts"),
          max(unix_timestamp(col("warc_ts"))).as("last_ts"),
          sum(col("n_chars")).cast("long").as("total_chars"))
    }, oracleSql =
      s"""SELECT regexp_extract(url, 'https?://([^/]+)/', 1) AS host,
         |  CAST(count(*) AS BIGINT) AS n_pages,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(epoch(min(warc_ts)) AS BIGINT) AS first_ts,
         |  CAST(epoch(max(warc_ts)) AS BIGINT) AS last_ts,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars
         |FROM read_parquet('$oraclePages')
         |GROUP BY 1""".stripMargin),

    // URL canonicalization (the crawl-frontier / url-dedup precursor):
    // strip fragment, lowercase scheme+authority only, drop default
    // ports, drop tracking params + sort survivors, strip trailing
    // slashes. Variants are planted per page_id%4 (tracking params,
    // uppercased authority + :443 + fragment, uppercase path + trailing
    // slash) so every rule is exercised; the uppercase-path variant
    // proves case is preserved OUTSIDE the authority. Shuffle-free
    // codegen map stage — the scale shape is "free".
    GateQuery("q_url_canon", (s, dir) => {
      val p = rawPages(s, dir)
      val pid = pageId
      val raw = when(pid % 4 === 1,
          concat(col("url"), lit("?utm_source=feed&b=2&a=1&ref=rss")))
        .when(pid % 4 === 2,
          concat(
            regexp_replace(
              regexp_replace(col("url"), "^https://example-", "HTTPS://EXAMPLE-"),
              "\\.test/", ".TEST:443/"),
            lit("#frag")))
        .when(pid % 4 === 3, concat(col("url"), lit("/EXTRA/")))
        .otherwise(col("url"))
      p.select(pid.as("page_id"), raw.as("raw_url"))
        .withColumn("canon_url", UrlOps.canonicalizeUrl(col("raw_url")))
        .withColumn("changed",
          (col("canon_url") =!= col("raw_url")).cast("long"))
    },
    // Variant planting (pid%4 arms) and the canonicalization rules are
    // both re-stated from UrlOps' shared regex constants — DuckDB
    // evaluates the identical specification with its own regex engine.
    oracleSql = {
      val canon = UrlOps.canonicalizeUrlSql("raw_url")
      s"""WITH p AS (
         |  SELECT CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS page_id,
         |    url FROM read_parquet('$oraclePages')
         |), r AS (
         |  SELECT page_id,
         |    CASE
         |      WHEN page_id % 4 = 1 THEN url || '?utm_source=feed&b=2&a=1&ref=rss'
         |      WHEN page_id % 4 = 2 THEN
         |        regexp_replace(
         |          regexp_replace(url, '^https://example-', 'HTTPS://EXAMPLE-'),
         |          '\\.test/', '.TEST:443/') || '#frag'
         |      WHEN page_id % 4 = 3 THEN url || '/EXTRA/'
         |      ELSE url
         |    END AS raw_url
         |  FROM p)
         |SELECT page_id, raw_url, $canon AS canon_url,
         |  CAST($canon <> raw_url AS BIGINT) AS changed
         |FROM r""".stripMargin
    }),

    // Re-crawl dedup: pages whose page_id%10 >= 7 are planted as
    // re-crawls of their decade's base url; per url keep the LATEST
    // snapshot (max warc_ts) — the standard "one row per url, newest
    // capture wins" CC rule, and the shape the per-url byte-identical
    // text invariant rides on. One map-side-combinable aggregation
    // (count/max/max_by), no window, no second shuffle.
    GateQuery("q_url_latest", (s, dir) => {
      val p = rawPages(s, dir)
      val pid = pageId
      val cid = when(pid % 10 >= 7, pid - pid % 10).otherwise(pid)
      val curl = concat(lit("https://example-"),
        (cid % 1000).cast("string"), lit(".test/page/"), cid.cast("string"))
      p.select(curl.as("url"), col("warc_ts"), col("text"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_crawls"),
          max(unix_timestamp(col("warc_ts"))).as("kept_ts"),
          max_by(col("text"), col("warc_ts")).as("text"))
    }, oracleSql =
      s"""WITH p AS (
         |  SELECT url, warc_ts, text,
         |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
         |  FROM read_parquet('$oraclePages')
         |), m AS (
         |  SELECT CASE WHEN pid % 10 >= 7 THEN pid - pid % 10 ELSE pid END AS cid,
         |    warc_ts, text FROM p)
         |SELECT 'https://example-' || CAST(cid % 1000 AS VARCHAR)
         |    || '.test/page/' || CAST(cid AS VARCHAR) AS url,
         |  CAST(count(*) AS BIGINT) AS n_crawls,
         |  CAST(epoch(max(warc_ts)) AS BIGINT) AS kept_ts,
         |  arg_max(text, warc_ts) AS text
         |FROM m GROUP BY 1""".stripMargin),

    // Outlink extraction + link-graph in-degree: the planted edges
    // aggregated to per-target-host in-degree + distinct source hosts.
    // Explode then ONE aggregation: the link-graph edge list never
    // round-trips through the driver and the group-by is map-side
    // combinable on the 1000-key host space.
    GateQuery("q_outlinks", (s, dir) => {
      plantedLinkEdges(s, dir)
        .groupBy(col("dst").as("host"))
        .agg(count(lit(1)).as("in_links"),
          countDistinct(col("src")).as("n_src_hosts"))
    }, oracleSql =
      s"""WITH p AS (
         |  SELECT url, decode(html) AS h0,
         |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
         |  FROM read_parquet('$oraclePages')
         |), w AS (
         |  SELECT regexp_extract(url, '${UrlOps.hostRe}', 1) AS src_host,
         |    h0 || '<a href="https://example-' || CAST((pid * 7) % 1000 AS VARCHAR)
         |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">a</a>'
         |       || '<a href="https://example-' || CAST((pid * 13) % 1000 AS VARCHAR)
         |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">b</a>' AS h
         |  FROM p
         |), e AS (
         |  SELECT src_host,
         |    unnest(regexp_extract_all(h, '${UrlOps.hrefRe}', 1)) AS href
         |  FROM w)
         |SELECT regexp_extract(href, '${UrlOps.hostRe}', 1) AS host,
         |  CAST(count(*) AS BIGINT) AS in_links,
         |  CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
         |FROM e GROUP BY 1""".stripMargin),

    // Host-graph PageRank (the crawl-quality prior downstream of
    // q_outlinks): the same planted page-level edges collapse to the
    // weighted host graph, then 3 fixed-point integer PageRank
    // iterations (scale 1e9, damping 85/100, truncating div). Integer
    // arithmetic end-to-end makes the ranks bit-identical across
    // engines, parallelism and cluster layout — no double-summation
    // order anywhere — so the gate hash is exact, not tolerance-based.
    GateQuery("q_host_rank", (s, dir) => {
      LinkGraph.hostRank(plantedLinkEdges(s, dir), iters = 3)
    },
    // Edge construction re-stated from the q_outlinks planting; the
    // PageRank iterations come from LinkGraph.hostRankSql — the same
    // integer fixed-point specification the Spark side executes
    // (DuckDB `//` ≡ Spark `div` on non-negative BIGINTs).
    oracleSql = {
      val edgesSql =
        s"""WITH p0 AS (
           |  SELECT url, decode(html) AS h0,
           |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
           |  FROM read_parquet('$oraclePages')
           |), w0 AS (
           |  SELECT regexp_extract(url, '${UrlOps.hostRe}', 1) AS src,
           |    h0 || '<a href="https://example-' || CAST((pid * 7) % 1000 AS VARCHAR)
           |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">a</a>'
           |       || '<a href="https://example-' || CAST((pid * 13) % 1000 AS VARCHAR)
           |       || '.test/page/' || CAST(pid % 50 AS VARCHAR) || '">b</a>' AS h
           |  FROM p0
           |), e0 AS (
           |  SELECT src,
           |    unnest(regexp_extract_all(h, '${UrlOps.hrefRe}', 1)) AS href
           |  FROM w0)
           |SELECT src, regexp_extract(href, '${UrlOps.hostRe}', 1) AS dst
           |FROM e0""".stripMargin
      LinkGraph.hostRankSql(edgesSql, iters = 3)
    }),

    // Crawl-snapshot diff: snapshot B is planted from the pages table
    // (pid%7 deleted, pid%5 text-changed, pid%13 spawns an added /v2
    // url; deletion wins the %35 overlap by construction), then one
    // full-outer join on url over (url, sha) pairs ONLY — text never
    // shuffles — emitting just the added/deleted/changed rows. The
    // incremental-recompute feed: downstream stages process |delta|,
    // not the corpus.
    GateQuery("q_crawl_delta", (s, dir) => {
      val p = rawPages(s, dir)
        .withColumn("_pid",
          pageId)
      val prev = p.select(col("url"), col("text"))
      val nextB = p.filter(col("_pid") % 7 =!= 0)
        .select(col("url"),
          when(col("_pid") % 5 === 0, concat(col("text"), lit(" UPDATED")))
            .otherwise(col("text")).as("text"))
        .unionByName(p.filter(col("_pid") % 13 === 0)
          .select(concat(col("url"), lit("/v2")).as("url"), col("text")))
      CrawlDelta.crawlDelta(prev, nextB, "url", "text")
    }, oracleSql =
      s"""WITH p AS (
         |  SELECT url, text,
         |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
         |  FROM read_parquet('$oraclePages')
         |), b AS (
         |  SELECT url,
         |    CASE WHEN pid % 5 = 0 THEN text || ' UPDATED' ELSE text END
         |      AS text
         |  FROM p WHERE pid % 7 <> 0
         |  UNION ALL
         |  SELECT url || '/v2' AS url, text FROM p WHERE pid % 13 = 0
         |), d AS (
         |  SELECT coalesce(a.url, b.url) AS url,
         |    CASE WHEN a.url IS NULL THEN 'added'
         |         WHEN b.url IS NULL THEN 'deleted'
         |         WHEN sha256(a.text) <> sha256(b.text) THEN 'changed'
         |         ELSE 'unchanged' END AS status,
         |    CASE WHEN b.url IS NULL THEN NULL
         |         ELSE sha256(b.text) END AS new_sha
         |  FROM p a FULL OUTER JOIN b ON a.url = b.url)
         |SELECT url, status, new_sha FROM d
         |WHERE status <> 'unchanged'""".stripMargin),

    // Inbound anchor-text profile per target host — the link-context
    // quality/title signal: anchor tags parsed from the raw html (two
    // planted per page, anchor text keyed off pid so hosts accumulate
    // repeated texts), then (host, anchor) counts and the top-3 anchors
    // per host via the bounded string top-k aggregate — target hosts
    // are hot keys (a popular site has 10^9 inlinks), so the window
    // alternative would single-reducer-sort exactly the hosts that
    // matter most.
    GateQuery("q_anchor_text", (s, dir) => {
      val p = rawPages(s, dir)
      val pid = pageId
      val h = concat(decode(col("html"), "UTF-8"),
        lit("<a href=\"https://example-"), ((pid * 7) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"),
        lit("\">click "), (pid % 17).cast("string"), lit("</a>"),
        lit("<a href=\"https://example-"), ((pid * 13) % 1000).cast("string"),
        lit(".test/page/"), (pid % 50).cast("string"),
        lit("\">visit "), (pid % 11).cast("string"), lit("</a>"))
      val pairs = p.select(
          explode(regexp_extract_all(h, lit(UrlOps.anchorTagRe), lit(0)))
            .as("tag"))
        .select(
          regexp_extract(regexp_extract(col("tag"), UrlOps.anchorTagRe, 1),
            UrlOps.hostRe, 1).as("host"),
          regexp_extract(col("tag"), UrlOps.anchorTagRe, 2).as("anchor"))
      pairs.groupBy(col("host"), col("anchor"))
        .agg(count(lit(1)).cast("long").as("cnt"))
        .groupBy(col("host"))
        .agg(TopKStrings.topKStrs(col("cnt"), col("anchor"), 3).as("top"))
        .select(col("host"), posexplode(col("top")))
        .select(col("host"), col("col.str").as("anchor"),
          col("col.score").as("cnt"),
          (col("pos") + 1).cast("long").as("arank"))
    }, oracleSql =
      s"""WITH p0 AS (
         |  SELECT url, decode(html) AS h0,
         |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
         |  FROM read_parquet('$oraclePages')
         |), w0 AS (
         |  SELECT h0 || '<a href="https://example-' || CAST((pid * 7) % 1000 AS VARCHAR)
         |       || '.test/page/' || CAST(pid % 50 AS VARCHAR)
         |       || '">click ' || CAST(pid % 17 AS VARCHAR) || '</a>'
         |       || '<a href="https://example-' || CAST((pid * 13) % 1000 AS VARCHAR)
         |       || '.test/page/' || CAST(pid % 50 AS VARCHAR)
         |       || '">visit ' || CAST(pid % 11 AS VARCHAR) || '</a>' AS h
         |  FROM p0
         |), tg AS (
         |  SELECT unnest(regexp_extract_all(h, '${UrlOps.anchorTagRe}', 0)) AS tag
         |  FROM w0
         |), pr AS (
         |  SELECT regexp_extract(regexp_extract(tag, '${UrlOps.anchorTagRe}', 1),
         |      '${UrlOps.hostRe}', 1) AS host,
         |    regexp_extract(tag, '${UrlOps.anchorTagRe}', 2) AS anchor
         |  FROM tg
         |), c AS (
         |  SELECT host, anchor, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pr GROUP BY 1, 2
         |), r AS (
         |  SELECT host, anchor, cnt,
         |    CAST(row_number() OVER (PARTITION BY host
         |      ORDER BY cnt DESC, anchor ASC) AS BIGINT) AS arank
         |  FROM c)
         |SELECT host, anchor, cnt, arank FROM r WHERE arank <= 3""".stripMargin),

    // Per-host crawl-rate time series: daily capture counts + a 3-day
    // RANGE-frame moving sum (true day-distance window, not a row
    // window — gap days don't smear the frame). Day = epoch div 86400,
    // all arithmetic integer, so the series is timezone-proof and
    // engine-exact. The window partitions by host ordered by day: a
    // host's partition is CALENDAR-bounded (days, not pages), so a
    // 10^9-page host costs the same window state as a small one —
    // the aggregation before it already collapsed pages to days
    // map-side.
    GateQuery("q_crawl_rate", (s, dir) => {
      val p = rawPages(s, dir)
      val daily = p.select(
          regexp_extract(col("url"), UrlOps.hostRe, 1).as("host"),
          expr("unix_timestamp(warc_ts) div 86400").as("day"))
        .groupBy(col("host"), col("day"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val w = Window.partitionBy(col("host")).orderBy(col("day"))
        .rangeBetween(-2, 0)
      daily.withColumn("cnt_3d", sum(col("cnt")).over(w).cast("long"))
    }, oracleSql = {
      // DuckDB epoch() is DOUBLE and CAST(double AS BIGINT) ROUNDS —
      // floor() explicitly to match Spark's integral `div` semantics.
      s"""WITH p AS (
         |  SELECT regexp_extract(url, '${UrlOps.hostRe}', 1) AS host,
         |    CAST(floor(epoch(warc_ts) / 86400) AS BIGINT) AS day
         |  FROM read_parquet('$oraclePages')
         |), d AS (
         |  SELECT host, CAST(day AS BIGINT) AS day,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM p GROUP BY 1, 2)
         |SELECT host, day, cnt,
         |  CAST(sum(cnt) OVER (PARTITION BY host ORDER BY day
         |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cnt_3d
         |FROM d""".stripMargin
    }),

    // Crawl-frontier url-seen screen: bloom filter over the seen urls
    // (one map-side-combinable build pass; merge = OR), broadcast probe
    // splits candidates shuffle-free, exact anti-join confirms only the
    // bloom-positive minority. Result is EXACT (no false negatives), so
    // the oracle is the plain anti-join. Candidates planted from pages:
    // revisits (pid%3==0), cross-links to other seen pages (pid%5==0,
    // url of page pid - pid%7 — scale-free), and new urls (pid%2==0).
    GateQuery("q_frontier_bloom", (s, dir) => {
      val p = rawPages(s, dir)
      val pid = pageId
      val seen = p.select(col("url"))
      val crossPid = pid - pid % 7
      val candidates = p.filter(pid % 3 === 0).select(col("url"))
        .unionAll(p.filter(pid % 5 === 0).select(
          concat(lit("https://example-"), (crossPid % 1000).cast("string"),
            lit(".test/page/"), crossPid.cast("string")).as("url")))
        .unionAll(p.filter(pid % 2 === 0).select(
          concat(lit("https://example-"), (pid % 1000).cast("string"),
            lit(".test/page/new/"), pid.cast("string")).as("url")))
      Frontier.newUrls(s, seen, candidates)
    },
    // The bloom screen's RESULT is exact (false positives only route
    // extra rows through the confirm join), so the oracle is the plain
    // distinct anti-join over the same planted candidate arms.
    oracleSql =
      s"""WITH p AS (SELECT url,
         |    CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) AS pid
         |  FROM read_parquet('$oraclePages')),
         | cand AS (
         |   SELECT url FROM p WHERE pid % 3 = 0
         |   UNION ALL
         |   SELECT 'https://example-' || CAST((pid - pid % 7) % 1000 AS VARCHAR)
         |     || '.test/page/' || CAST(pid - pid % 7 AS VARCHAR) AS url
         |   FROM p WHERE pid % 5 = 0
         |   UNION ALL
         |   SELECT 'https://example-' || CAST(pid % 1000 AS VARCHAR)
         |     || '.test/page/new/' || CAST(pid AS VARCHAR) AS url
         |   FROM p WHERE pid % 2 = 0)
         |SELECT DISTINCT c.url FROM cand c
         |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.url = c.url)""".stripMargin)
  )
}
