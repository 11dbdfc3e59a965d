package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan invariants the 100 TB design depends on, pinned as
  * tests so regressions fail loudly:
  *  - the headline covering-probe stage contains no ScalaUDF / Python
  *    eval (VERDICT r1 item 4's done-criterion),
  *  - covering joins stay shuffle-free (broadcast probe + explode only),
  *  - aggregation queries keep map-side partial aggregation,
  *  - parquet scans prune columns.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("plan-audit-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    graft.gate.Gate(q).build(spark, dir).queryExecution.executedPlan.toString

  test("covering joins: no ScalaUDF, no exchange in the probe stage") {
    for (q <- Seq("q_pip_city", "q_rect_join", "q_radius_100km",
      "q_pip_annulus", "q_pip_coast")) {
      val p = plan(q)
      assert(!p.contains("ScalaUDF"), s"$q probe must be a native expression")
      assert(!p.toLowerCase.contains("batchevalpython"), s"$q has python eval")
      assert(!p.contains("Exchange"), s"$q must stay a shuffle-free map join")
    }
  }

  test("cell aggregation: partial aggregation before the exchange") {
    val p = plan("q_cell_agg")
    // HashAggregate appears twice (partial + final) around one exchange
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, "one agg exchange expected")
  }

  test("parquet scans prune to the needed columns") {
    val df = graft.gate.Gate("q_dedup_exact").build(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // documents.parquet has (doc_id, text, ...); the dedup query needs
    // only those two
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang"), s"unpruned scan: $readSchema")
  }

  test("snap query: native s2_snap_cell expression, no UDF, partial agg") {
    val p = plan("q_snap_e2")
    assert(p.contains("s2_snap_cell"), "snap must route through the Snapper expression")
    assert(!p.contains("ScalaUDF"), "snap path must stay native")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final agg expected")
  }

  test("exact dedup shuffles digests, not documents") {
    val p = plan("q_dedup_exact")
    // the digest is computed below the exchange and becomes the grouping
    // key; the raw text column must never be the partitioning key
    assert(p.contains("sha2"), "digest computation missing from the plan")
    val exch = "hashpartitioning\\([^)]*".r.findFirstIn(p).getOrElse("")
    assert(exch.nonEmpty && !exch.contains("text#"),
      s"raw text must not be the shuffle key: $exch")
  }

  test("PII redaction and deterministic sampling stay shuffle-free codegen scans") {
    for (q <- Seq("q_pii_redact", "q_sample_stratified", "q_quality_repetition",
      "q_extract_text", "q_line_dedup")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be a single scan pass:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q must stay builtin-only")
      // the "*(n)" stage prefix is executedPlan.toString's codegen marker
      assert(p.contains("*(1)"), s"$q must run inside whole-stage codegen")
    }
  }

  test("token shards: windows partition by (stratum, bucket), never a whole stratum") {
    val p = plan("q_token_shards")
    val winSpec = "windowspecdefinition\\([^)]*".r.findFirstIn(p).getOrElse("")
    assert(winSpec.contains("_bkt"),
      s"window must include the coarse bucket key (bounded partitions): $winSpec")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "per-bucket offsets must join via broadcast")
  }

  test("vector queries use the fused vec_dot kernel, not array chains") {
    for (q <- Seq("q_ann_top3", "q_embed_neardup")) {
      val p = plan(q)
      assert(p.contains("vec_dot"), s"$q must use the native dot kernel")
      assert(!p.contains("zip_with"), s"$q must not materialize product arrays")
    }
  }

  test("ngram jaccard plans as an inverted-index join, not a cartesian") {
    val p = plan("q_ngram_jaccard")
    assert(!p.contains("CartesianProduct"),
      "exact jaccard must not be a cross join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join on gram:\n$p")
  }

  test("bucketed near-dup and ANN paths never plan a cartesian") {
    // The r5 gate queries that exist precisely because all-pairs does
    // not scale: each must plan as an equi-join on its bucket key.
    for (q <- Seq("q_minhash_lsh", "q_simhash", "q_embed_neardup_lsh",
      "q_ann_lsh", "q_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must stay a bucketed equi-join, not a cross join")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"expected an equi-join in $q:\n$p")
    }
  }

  test("sq8 ANN: native int-dot kernel, bounded top-k aggregate, no window") {
    for (q <- Seq("q_ann_sq8", "q_ann_ivf_sq8")) {
      val p = plan(q)
      assert(p.contains("vec_dot_i8"),
        s"$q scoring must route through the native integer-dot expression")
      assert(p.contains("top_k_ids"),
        s"$q per-query top-k must be the bounded aggregate")
      assert(!p.contains("Window"), s"no per-query window sort in $q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join")
    }
    assert(!plan("q_ann_sq8").contains("ScalaUDF"),
      "the pure sq8 path must stay native (IVF assignment is the one " +
        "justified broadcast-centroid UDF, as in q_ann_ivf)")
  }

  test("frontier bloom: codegen probe splits candidates; only the " +
    "bloom-positive branch reaches the anti-join") {
    val p = plan("q_frontier_bloom")
    assert(p.contains("bloom_probe"), s"probe expression missing:\n$p")
    assert(!p.contains("ScalaUDF"), "bloom path must stay native")
    // Catalyst pushes the LeftAnti below the candidate Union (one
    // confirm join per arm, build side dedup'd by exchange reuse) —
    // fine; what matters is every confirm is an equi hash join and
    // every one of its probe inputs is bloom-positive-filtered.
    val antis = "LeftAnti".r.findAllIn(p).size
    assert(antis >= 1, s"confirm anti-join missing:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\n]*LeftAnti".r
      .findAllIn(p).size == antis, s"anti-joins must be equi joins:\n$p")
    assert("NOT bloom_probe".r.findAllIn(p).size >= 1,
      "the definitely-new branch must bypass the join entirely")
    assert(!p.contains("CartesianProduct"))
  }

  test("quality buckets: window runs over the aggregated score domain, " +
    "not corpus rows, and the label table joins back broadcast") {
    val p = plan("q_quality_buckets")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"histogram must aggregate (partial+final) before the window:\n$p")
    assert(p.contains("Window"))
    assert(p.contains("BroadcastHashJoin"), s"the label join must be a broadcast join:\n$p")
    assert(p.indexOf("Window") > p.indexOf("BroadcastHashJoin"),
      s"the corpus join must sit ABOVE the window/histogram subtree " +
        s"(window consumes the aggregated domain, not corpus rows):\n$p")
    assert(!p.contains("ScalaUDF"))
  }

  test("quota-mix cap aggregates bounded state; only the fill is a window") {
    val p = plan("q_quota_mix")
    assert(p.contains("top_k_ids"),
      "per-domain cap must route through the bounded top-k aggregate")
    assert(!p.contains("CartesianProduct"), "curation must not cross-join")
    // exactly one Window operator pair (partial/final naming varies) —
    // the per-lang cumsum; the cap itself must NOT plan as a window sort
    assert("Window".r.findAllIn(p).size <= 2,
      s"cap must be an aggregate, not a second window:\n$p")
  }

  test("url family: canon is a pure scan, latest/outlinks aggregate map-side") {
    val canon = plan("q_url_canon")
    assert(!canon.contains("Exchange"), s"q_url_canon must be projection-only:\n$canon")
    assert(!canon.contains("ScalaUDF"), "q_url_canon must stay builtin-only")
    val latest = plan("q_url_latest")
    assert("Exchange".r.findAllIn(latest).size == 1,
      s"q_url_latest must be one partial+final aggregation:\n$latest")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r.findAllIn(latest).size >= 2,
      "q_url_latest needs map-side partial aggregation (max_by combines)")
    val out = plan("q_outlinks")
    // two-phase distinct on the bounded host key space: at most 2 exchanges
    assert("Exchange".r.findAllIn(out).size <= 2,
      s"q_outlinks must stay the standard two-phase distinct:\n$out")
    assert(!out.contains("CartesianProduct"), "link graph must not cross-join")
  }

  test("hot-stratum top-k queries route through bounded aggregates, not windows") {
    for (q <- Seq("q_vocab_topk", "q_anchor_text")) {
      val p = plan(q)
      assert(p.contains("top_k_strs"),
        s"$q must use the string-payload bounded top-k aggregate")
      assert(!p.contains("Window"),
        s"$q must never sort a hot stratum in a window:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q must stay builtin + native agg")
    }
  }

  test("keywords: window partitions by document only, joins stay equi") {
    val p = plan("q_keywords")
    assert(!p.contains("CartesianProduct"), "df join must be an equi-join")
    // the only window is the per-doc top-k (bounded by per-doc vocab);
    // WindowGroupLimit nodes are the rank-pushdown bonus: Spark caps
    // each partition to k rows BEFORE the exchange
    assert("Window \\[".r.findAllIn(p).size == 1,
      s"only the per-doc rank window is allowed:\n$p")
    assert(p.contains("WindowGroupLimit"),
      "the top-k limit must push below the exchange")
  }

  test("crawl delta: no exchange carries the text column") {
    val df = graft.gate.Gate("q_crawl_delta").build(spark, dir)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      assert(!e.child.output.map(_.name.toLowerCase).contains("text"),
        "delta join must shuffle (url, sha) pairs only")
    }
  }

  test("crawl rate: pages collapse to days before the host window") {
    val p = plan("q_crawl_rate")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the (host, day) count must partially aggregate map-side")
    assert("Window".r.findAllIn(p).size <= 2,
      s"one calendar-bounded window expected:\n$p")
  }

  test("host rank: iterations join on host keys, never a cartesian") {
    val p = plan("q_host_rank")
    assert(!p.contains("CartesianProduct"), "rank joins must be equi-joins")
    assert(!p.contains("ScalaUDF"), "fixed-point arithmetic must stay builtin")
  }

  test("headline pipeline stays inside whole-stage codegen") {
    val df = graft.gate.Gate("q_pip_city").build(spark, dir)
    val codegen = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(codegen.contains("WholeStageCodegen"),
      "probe stage must participate in whole-stage codegen")
  }
}
