package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bounded top-k aggregate vs a window-rank reference, and the curation
  * pipeline's cap + quota-fill semantics.
  */
class CurationSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("curation-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import graft.functions.TopKByScore.topKIds

  test("top_k_ids matches window rank on random data, at any parallelism") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val rows = Seq.tabulate(500) { i =>
      (s"g${rng.nextInt(7)}", rng.nextInt(40).toDouble / 4.0, i.toLong)
    }
    for (parts <- Seq(1, 4, 17)) {
      val df = rows.toDF("g", "score", "id").repartition(parts)
      val got = df.groupBy("g").agg(topKIds(col("score"), col("id"), 3).as("ids"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
      val want = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .orderBy("g", "rn").collect()
        .groupBy(_.getString(0))
        .map { case (g, rs) => g -> rs.map(_.getLong(2)).toList }
      assert(got == want, s"parts=$parts")
    }
  }

  test("top_k_ids: k larger than group, ties broken by smaller id") {
    import spark.implicits._
    val df = Seq(("a", 1.0, 10L), ("a", 1.0, 4L), ("b", 2.0, 7L))
      .toDF("g", "score", "id")
    val got = df.groupBy("g").agg(topKIds(col("score"), col("id"), 5).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(got == Map("a" -> List(4L, 10L), "b" -> List(7L)))
  }

  test("top_k_ids: NaN scores rank last, nulls ignored") {
    import spark.implicits._
    val df = Seq(("a", Some(Double.NaN), 1L), ("a", Some(0.5), 2L),
      ("a", None, 3L), ("a", Some(0.9), 4L)).toDF("g", "score", "id")
    val got = df.groupBy("g").agg(topKIds(col("score"), col("id"), 2).as("ids"))
      .collect().map(_.getSeq[Long](1).toList).head
    assert(got == List(4L, 2L))
  }

  test("TopKBuffer fuzz: any insert sequence equals sort-take-k") {
    val rng = new scala.util.Random(17)
    for (trial <- 0 until 300) {
      val k = 1 + rng.nextInt(8)
      val n = rng.nextInt(40)
      // few distinct scores -> dense ties; ids may repeat too
      val entries = Seq.fill(n)((rng.nextInt(5).toDouble, rng.nextInt(20).toLong))
      val buf = new graft.functions.TopKBuffer(k)
      entries.foreach { case (s, id) => buf.insert(s, id) }
      val got = (0 until buf.n).map(i => (buf.scores(i), buf.ids(i))).toList
      val want = entries.sortBy { case (s, id) => (-s, id) }.take(k).toList
      assert(got == want, s"trial $trial k=$k entries=$entries")
    }
  }

  test("TopKBuffer: merge order never changes the result") {
    val rng = new scala.util.Random(23)
    for (trial <- 0 until 50) {
      val k = 1 + rng.nextInt(5)
      val entries = Seq.fill(30)((rng.nextInt(6).toDouble, rng.nextInt(50).toLong))
      val whole = new graft.functions.TopKBuffer(k)
      entries.foreach { case (s, id) => whole.insert(s, id) }
      val parts = entries.grouped(7).map { chunk =>
        val b = new graft.functions.TopKBuffer(k)
        chunk.foreach { case (s, id) => b.insert(s, id) }
        b
      }.toSeq
      val merged = new graft.functions.TopKBuffer(k)
      for (p <- rng.shuffle(parts); i <- 0 until p.n)
        merged.insert(p.scores(i), p.ids(i))
      assert((0 until merged.n).map(i => (merged.scores(i), merged.ids(i))) ==
        (0 until whole.n).map(i => (whole.scores(i), whole.ids(i))), s"trial $trial")
    }
  }

  test("capPerStratum keeps exactly the k best rows per stratum") {
    import spark.implicits._
    val df = Seq(
      ("en", "s0", 0.9, 1L), ("en", "s0", 0.8, 2L), ("en", "s0", 0.7, 3L),
      ("en", "s1", 0.1, 4L), ("de", "s0", 0.5, 5L), ("de", "s0", 0.5, 6L),
      ("de", "s0", 0.5, 7L)).toDF("lang", "source", "quality", "doc_id")
    val kept = Curation.capPerStratum(df, Seq("lang", "source"), "quality",
      "doc_id", 2).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L, 6L))
  }

  test("q_quota_mix gate margins: boundary decisions far above ulp noise") {
    // Every selection the oracle hash depends on is either integer-exact
    // (the token cumsum) or separated by a quality margin orders of
    // magnitude above any float-evaluation divergence — measured, not
    // assumed (the KmeansMarginSpec discipline).
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val q = TextOps.qualityScore(docs, "text")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("quality"))
    val w = Window.partitionBy("lang", "source")
      .orderBy(col("quality").desc, col("doc_id").asc)
    val ranked = q.withColumn("rn", row_number().over(w)).cache()
    // cap boundary: kept rank-2 vs dropped rank-3 per stratum
    val margins = ranked.filter(col("rn") === 2).as("a")
      .join(ranked.filter(col("rn") === 3).as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source"))
      .select((col("a.quality") - col("b.quality")).as("m"))
      .collect().map(_.getDouble(0))
    assert(margins.nonEmpty)
    assert(margins.forall(m => m == 0.0 || m > 1e-6),
      s"sub-ulp-fragile cap margin: ${margins.min}")
    assert(!margins.contains(0.0),
      "exact ties would be fine (id tie-break) but the fixture has none — " +
        "a new zero here means the fixture changed; re-measure")
    // budget boundary: every lang's closest row-start must be whole
    // tokens away from the 1000 threshold (integer-exact on both sides)
    val wCum = Window.partitionBy("lang")
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dist = ranked.filter(col("rn") <= 2)
      .withColumn("cum", sum(col("n_tokens")).over(wCum))
      .select(abs(col("cum") - col("n_tokens") - 1000).as("d"))
      .agg(min("d")).collect()(0).getLong(0)
    ranked.unpersist()
    assert(dist >= 1, s"a row starts exactly at the budget: distance $dist")
  }

  test("quotaFill keeps rows while budget lasts; last row may overflow") {
    import spark.implicits._
    val df = Seq(
      ("en", 0.9, 1L, 400L), ("en", 0.8, 2L, 400L), ("en", 0.7, 3L, 400L),
      ("en", 0.6, 4L, 400L), ("de", 0.9, 5L, 2000L), ("de", 0.8, 6L, 10L))
      .toDF("lang", "quality", "doc_id", "n_tokens")
    val kept = Curation.quotaFill(df, "lang", "n_tokens", "quality",
      "doc_id", budget = 1000L).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // en: 400+400 < 1000 so doc 3 starts under budget (800) and overflows
    // to 1200; doc 4 starts at 1200 >= 1000 -> dropped.
    // de: doc 5 starts at 0 -> kept (overflows); doc 6 starts at 2000 -> dropped.
    assert(kept == Set(1L, 2L, 3L, 5L))
  }

  test("tokenShards equals the global window cumsum at any parallelism and bucket size") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(11)
    val rows = Seq.tabulate(600) { i =>
      (i.toLong, s"l${rng.nextInt(4)}", (1 + rng.nextInt(90)).toLong)
    }
    val w = Window.partitionBy("lang").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = rows.toDF("id", "lang", "cost")
      .withColumn("cum", sum(col("cost")).over(w))
      .withColumn("shard", floor((col("cum") - col("cost")) / lit(100L)).cast("long"))
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 4, 17); bkt <- Seq(1L, 7L, 1000000L)) {
      val got = Curation.tokenShards(
        rows.toDF("id", "lang", "cost").repartition(parts),
        "lang", "id", "cost", budget = 100L, bucketSize = bkt)
        .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"parts=$parts bucketSize=$bkt")
    }
  }

  test("tokenShards: shard starts are contiguous and greedy (last row may overflow)") {
    import spark.implicits._
    val df = Seq(
      (0L, "en", 60L), (1L, "en", 60L), (2L, "en", 60L), (3L, "en", 200L),
      (4L, "de", 99L), (5L, "de", 1L), (6L, "de", 1L))
      .toDF("id", "lang", "cost")
    val got = Curation.tokenShards(df, "lang", "id", "cost",
      budget = 100L, bucketSize = 2L)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // en cums-before: 0,60,120,180 -> shards 0,0,1,1 (row 1 overflows 100;
    // row 3's 200 cost lands wholly in shard 1). de: 0,99,100 -> 0,0,1.
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L,
      4L -> 0L, 5L -> 0L, 6L -> 1L))
  }

  test("sampleDeterministic: partitioning-invariant, rate-gated, nested across rates") {
    import spark.implicits._
    val docs = Seq.tabulate(400)(i => (i.toLong, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val key = "concat(lang, ':', CAST(doc_id AS STRING))"
    def ids(df: org.apache.spark.sql.DataFrame, rates: Seq[(String, Int)]) =
      Curation.sampleDeterministic(df, key, "lang", rates, defaultRate = 50)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val base = ids(docs, Seq("en" -> 30, "de" -> 70))
    for (parts <- Seq(1, 4, 17))
      assert(ids(docs.repartition(parts), Seq("en" -> 30, "de" -> 70)) == base,
        s"sample must not depend on partitioning (parts=$parts)")
    // every kept bucket is under its stratum's rate
    val rows = Curation.sampleDeterministic(docs, key, "lang",
      Seq("en" -> 30, "de" -> 70), defaultRate = 50)
      .select("lang", "sample_bucket").collect()
    assert(rows.forall(r => r.getLong(1) <
      (if (r.getString(0) == "en") 30 else 70)))
    // raising a rate only ADDS rows (nested samples — the lineage property)
    val wider = ids(docs, Seq("en" -> 60, "de" -> 70))
    assert(base.subsetOf(wider) && wider.size > base.size)
  }

  test("quantileBuckets: exact integer cuts, hand-computed") {
    import spark.implicits._
    // 10 docs, scores 1..10: count_le(s)=s, n=10.
    // head iff 100*s > 900 -> s = 10; middle iff 100*s > 500 -> 6..9.
    val docs = (1 to 10).map(i => (i.toLong, "en", i.toLong))
      .toDF("doc_id", "lang", "score")
    val got = Curation.quantileBuckets(docs, "lang", "score")
      .select("doc_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (1 to 10).map(i => i.toLong ->
      (if (i == 10) "head" else if (i >= 6) "middle" else "tail")).toMap)
  }

  test("quantileBuckets: ties share a score, so they share a bucket; " +
    "boundary is strict (100*cle == pct*n stays in the lower bucket)") {
    import spark.implicits._
    // 10 docs: score 1 x5, score 2 x4, score 3 x1.
    // cle(1)=5 -> 500 == 50*10: NOT middle (strict) -> tail
    // cle(2)=9 -> 900 == 90*10: NOT head (strict) -> middle
    // cle(3)=10 -> 1000 > 900 -> head
    val docs = (Seq.fill(5)(1L) ++ Seq.fill(4)(2L) ++ Seq(3L)).zipWithIndex
      .map { case (s, i) => (i.toLong, "en", s) }
      .toDF("doc_id", "lang", "score")
    val got = Curation.quantileBuckets(docs, "lang", "score")
      .select("score", "bucket").distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "tail", 2L -> "middle", 3L -> "head"))
  }

  test("quantileBuckets: NULL scores stay out of the histogram and come " +
    "back with a NULL bucket") {
    import spark.implicits._
    // scores 1..10 plus two NULL-score docs in the same stratum: the cuts
    // are those of the 10 scored docs alone (head = 10, middle = 6..9)
    val docs = ((1 to 10).map(i => (i.toLong, "en", Option(i.toLong))) ++
      Seq((11L, "en", Option.empty[Long]), (12L, "en", Option.empty[Long])))
      .toDF("doc_id", "lang", "score")
    val got = Curation.quantileBuckets(docs, "lang", "score")
      .select("doc_id", "bucket")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == (1 to 10).map(i => i.toLong ->
      Option(if (i == 10) "head" else if (i >= 6) "middle" else "tail")).toMap ++
      Map(11L -> None, 12L -> None))
  }

  test("quantileBuckets: per-stratum independence and parallelism invariance") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val docs = Seq.tabulate(400)(i =>
      (i.toLong, if (i % 3 == 0) "en" else "de", (rng.nextInt(40) + 5).toLong))
    def run(parts: Int) = Curation.quantileBuckets(
        docs.toDF("doc_id", "lang", "score").repartition(parts),
        "lang", "score")
      .select("doc_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = run(1); val b = run(7)
    assert(a == b)
    // every stratum has all three buckets on this fixture, and head is
    // the smallest cohort (top decile by count)
    val byLang = docs.map { case (id, lang, _) => id -> lang }.toMap
    for (lang <- Seq("en", "de")) {
      val sizes = a.toSeq.filter(kv => byLang(kv._1) == lang)
        .groupBy(_._2).view.mapValues(_.size).toMap
      assert(sizes.keySet == Set("head", "middle", "tail"), s"$lang: $sizes")
      assert(sizes("head") < sizes("middle") && sizes("head") < sizes("tail"))
    }
  }
}
