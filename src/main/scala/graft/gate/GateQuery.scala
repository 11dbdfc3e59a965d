package graft.gate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Local
import graft.sources.PagesSource

/** What a gated query's cost stands for in the bench. */
sealed trait Kind
/** Engine work: counted in the bench's `total_engine_sec`. */
case object Engine extends Kind
/** Gate machinery (crash/resume, streaming micro-batches, physical write
  * layouts, oracle-aux re-emission) whose cost is the price of keeping a
  * behaviour under the oracle gate, not engine time.
  */
case object Evidence extends Kind

/** One gated query: the Spark builder, run as `build(spark, sfDir)`, and
  * the DuckDB SQL whose rows it must equal. The SQL is built on first use,
  * since some oracles inline generated fixtures (q_pip_10k's polygons).
  *
  * @param auxPath for the scale dir, a file the query writes and its
  *   oracle SQL reads back; cleared before a verification sweep so a
  *   crashed query fails its oracle instead of auditing stale output.
  */
final class GateQuery(
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    sql: => String,
    val kind: Kind,
    val auxPath: Option[String => String]) {
  lazy val oracleSql: String = sql
}

object GateQuery {
  def apply(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracleSql: => String,
      kind: Kind = Engine,
      auxPath: Option[String => String] = None): GateQuery =
    new GateQuery(name, build, oracleSql, kind, auxPath)
}

/** The oracle gate: every gated query, one record each, grouped by domain. */
object Gate {
  val all: Seq[GateQuery] = GeoGate.queries ++ PipelineGate.queries ++
    TextGate.queries ++ CrawlGate.queries ++ AnnGate.queries

  val byName: Map[String, GateQuery] = all.map(q => q.name -> q).toMap
  require(byName.size == all.size, "gate query names must be unique")

  def apply(name: String): GateQuery = byName(name)

  /** The `oracle_sql.json` layout Verify writes: one JSON object of name -> SQL. */
  def oracleJson(sqls: Iterable[(String, String)]): String =
    sqls.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * file fail to parse as JSON and silently drop every oracle check.
    */
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Inputs every gate domain reads. */
object Inputs {
  /** The scale the oracle SQL reads: the gate checks at sf0.01, whose
    * pages fixture has n = 20000 rows (TESTDATA.md).
    */
  val oracleSf = "/root/testdata/sf0.01"
  val oraclePages = s"${Local.workDir}/pages_n20000.parquet/*.parquet"

  /** The raw pages fixture for the given scale dir. */
  def rawPages(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(PagesSource.pagesParquet(spark, sfDir))

  /** Geocoded pages for the given scale dir. */
  def pages(spark: SparkSession, sfDir: String): DataFrame =
    PagesSource.withLatLng(rawPages(spark, sfDir))

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** The numeric page id that ends every fixture url. */
  def pageId: Column = regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
}
