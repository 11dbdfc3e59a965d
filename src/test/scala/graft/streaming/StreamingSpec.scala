package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming surface: the s2 expressions inside a streaming
  * plan with watermarks, exercised through MemoryStream micro-batches.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.checkpointLocation",
      java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming cell counts with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val events = input.toDF().toDF("ts", "lat", "lng")

    val counts = StreamingCells.cellCountsStream(events, level = 6,
      windowDuration = "10 minutes", watermarkDelay = "5 minutes")

    val query = counts.writeStream
      .format("memory")
      .queryName("cell_counts")
      .outputMode("append")
      .start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:05:00")
    // batch 1: events in window [00:00, 00:10) at two cities
    input.addData(
      (t0, 48.8566, 2.3522), (t0, 48.8570, 2.3530), (t1, 40.7128, -74.0060))
    query.processAllAvailable()
    // batch 2: late watermark push — events far in the future close the
    // first window so append mode emits it
    input.addData((java.sql.Timestamp.valueOf("2026-01-01 01:00:00"), 0.0, 0.0))
    query.processAllAvailable()

    val out = spark.sql("select * from cell_counts").collect()
    query.stop()

    // the [00:00, 00:10) windows for Paris (2 events) and NY (1) are closed
    assert(out.length === 2)
    val byToken = out.map(r => r.getString(1) -> r.getLong(2)).toMap
    val parisTok = graft.core.CellId.toToken(
      graft.core.CellId.parent(graft.core.CellId.fromLatLngDegrees(48.8566, 2.3522), 6))
    val nyTok = graft.core.CellId.toToken(
      graft.core.CellId.parent(graft.core.CellId.fromLatLngDegrees(40.7128, -74.0060), 6))
    assert(byToken(parisTok) === 2)
    assert(byToken(nyTok) === 1)
  }

  test("cell sessions: custom state closes on event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val events = input.toDF().toDF("ts", "lat", "lng")
    val sessions = StreamingCells.cellSessions(events, level = 6,
      gapMillis = 10 * 60 * 1000L, watermarkDelay = "1 minute")
    val query = sessions.writeStream
      .format("memory").queryName("cell_sessions").outputMode("append").start()

    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:04:00")
    input.addData((t0, 48.8566, 2.3522), (t1, 48.8570, 2.3530))
    query.processAllAvailable()
    // no session closed yet (watermark has not passed last + gap)
    assert(spark.sql("select * from cell_sessions").count() === 0)

    // push the watermark far past the session gap
    input.addData((java.sql.Timestamp.valueOf("2026-01-01 02:00:00"), 0.0, 0.0))
    query.processAllAvailable()
    input.addData((java.sql.Timestamp.valueOf("2026-01-01 03:00:00"), 0.0, 0.0))
    query.processAllAvailable()
    query.stop()

    val out = spark.sql("select * from cell_sessions").collect()
    val parisTok = graft.core.CellId.toToken(
      graft.core.CellId.parent(graft.core.CellId.fromLatLngDegrees(48.8566, 2.3522), 6))
    val paris = out.filter(_.getString(0) == parisTok)
    assert(paris.length === 1, s"expected one closed Paris session, got ${out.toSeq}")
    assert(paris(0).getLong(1) === 2)
    assert(paris(0).getLong(3) - paris(0).getLong(2) === 180L)
  }

  test("stream-static PIP enrichment tags events with containing polygons") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val events = input.toDF().toDF("ts", "lat", "lng")
    val enriched = StreamingCells.streamingPipEnrich(spark, events,
      graft.gate.GeoGate.cityPolygons)
    val query = enriched.writeStream
      .format("memory").queryName("pip_enriched").outputMode("append").start()
    val t = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    input.addData((t, 48.8566, 2.3522), (t, 0.0, -160.0)) // Paris, mid-ocean
    query.processAllAvailable()
    query.stop()
    val out = spark.sql("select lat, poly_id from pip_enriched").collect()
    assert(out.length === 1, "only the Paris event matches a polygon")
    assert(out(0).getLong(1) === 7L) // Paris is city index 7
  }

  test("streaming dedup drops same-fingerprint docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val deduped = StreamingCells.streamingDedup(docs)
    val query = deduped.writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    val t = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    input.addData((t, "hello world"), (t, "hello world"), (t, "different doc"))
    query.processAllAvailable()
    val out = spark.sql("select text from deduped").collect().map(_.getString(0))
    query.stop()
    assert(out.length === 2)
    assert(out.toSet === Set("hello world", "different doc"))
  }

  test("streaming near-dup screen finds cross-batch LSH pairs exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val hits = StreamingCells.streamingNearDups(docs,
      watermarkDelay = "2 minutes", retentionMillis = 60 * 60 * 1000L)
    val query = hits.writeStream
      .format("memory").queryName("neardups").outputMode("append").start()

    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    // batch 1: an original + an unrelated doc
    input.addData((t0, 1L, base),
      (t0, 2L, "completely unrelated text about spark query planning and joins"))
    query.processAllAvailable()
    // batch 2: a near-duplicate of doc 1 arrives later -> must pair with
    // the STATE from batch 1 (cross-batch), plus another unrelated doc
    input.addData((t1, 3L, base + " extra"),
      (t1, 4L, "yet another separate document mentioning cells and coverings"))
    query.processAllAvailable()

    val out = spark.sql("select a_id, b_id, jaccard from neardups").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    query.stop()
    // at-least-once per pair (once per matching band); sink-side distinct
    // on pair identity yields exactly the planted pair with its exact
    // jaccard
    assert(out.nonEmpty)
    assert(out.toSet.size === 1, s"got ${out.toSeq}")
    assert(out.head._1 === 1L && out.head._2 === 3L)
    assert(out.head._3 === graft.ops.Dedup.ngramJaccard(base, base + " extra", 3))
  }

  test("near-dup screen evicts state across an over-retention event-time gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val hits = StreamingCells.streamingNearDups(docs,
      watermarkDelay = "2 minutes", retentionMillis = 10 * 60 * 1000L)
    val query = hits.writeStream
      .format("memory").queryName("neardups_evict").outputMode("append").start()

    val base = "the quick brown fox jumps over the lazy dog again and again today"
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime + min * 60000L)
    // epoch A: the original + an in-epoch near-dup (must pair)
    input.addData((ts(0), 1L, base), (ts(0), 2L, base + " extra"))
    query.processAllAvailable()
    // two sentinel batches advance the watermark past maxTs + retention
    // and fire the idle buckets' event-time timeouts BEFORE epoch B: the
    // first carries the high timestamp, the second lets the watermark
    // computed from it take effect while A's buckets are idle.
    input.addData((ts(30), 8L, "sentinel alpha advancing the event time watermark"))
    query.processAllAvailable()
    input.addData((ts(31), 9L, "different beacon vocabulary entirely disjoint"))
    query.processAllAvailable()
    // epoch B: another near-dup of the SAME text — state was evicted, so
    // it must NOT pair with epoch A, only with its own epoch
    input.addData((ts(35), 3L, base + " fresh"), (ts(35), 4L, base))
    query.processAllAvailable()

    val out = spark.sql("select a_id, b_id from neardups_evict").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    query.stop()
    assert(out === Set((1L, 2L), (3L, 4L)), s"got $out")
  }
}
