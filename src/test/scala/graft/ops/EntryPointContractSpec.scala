package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Public entry points reject invalid parameters with an
  * IllegalArgumentException that names the value, before any Spark job
  * runs. One row per entry point and invalid value.
  */
class EntryPointContractSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("entry-point-contract-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val points = {
    val s = spark
    import s.implicits._
    Seq(("a", 40.7, -74.0), ("b", 48.9, 2.3)).toDF("url", "lat", "lng")
  }

  /** Runs `body` and returns the Spark jobs and SQL executions it started. */
  private def started(body: => Unit): Int = {
    val events = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (e.isInstanceOf[SparkListenerSQLExecutionStart]) events.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.GraftSparkBridge.waitListenerQueueEmpty(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { body; drain(); events.get } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("radiusJoin rejects a bad radius, centre or query id before any job") {
    val ok = (1L, 40.7, -74.0, 1000.0)
    for ((queries, message) <- Seq(
        (Seq((2L, 40.7, -74.0, Double.NaN)), "query id 2 has radius NaN m"),
        (Seq((3L, 40.7, -74.0, -1.0)), "query id 3 has radius -1.0 m"),
        (Seq((4L, 40.7, -74.0, Double.PositiveInfinity)), "query id 4 has radius Infinity m"),
        (Seq((5L, Double.NaN, -74.0, 1000.0)), "query id 5 has a non-finite coordinate (NaN, -74.0)"),
        (Seq((6L, 40.7, Double.NegativeInfinity, 1000.0)),
          "query id 6 has a non-finite coordinate (40.7, -Infinity)"),
        (Seq(ok, (7L, 0.0, 0.0, 10.0), ok), "query id 1 appears more than once"))) {
      val jobs = started {
        val e = intercept[IllegalArgumentException](SpatialJoin.radiusJoin(spark, points, queries))
        assert(e.getMessage.contains(message), e.getMessage)
      }
      assert(jobs == 0, s"$message: $jobs jobs ran before the check")
    }
    // a radius past half the circumference is the whole sphere
    val whole = SpatialJoin.radiusJoin(spark, points, Seq((8L, -40.7, 106.0, 3e7)))
    assert(whole.count() == 2)
  }
}
