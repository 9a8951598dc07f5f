package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2/§7.
  *
  * Each SURVEY §2 inventory row contributes one entry in `queries`
  * (Spark-side build) and, when SQL-expressible, one in `oracleSql`
  * (DuckDB oracle the driver hash-compares against at sf0.01).
  */
object SparkEntry {

  /** All registered query families. Later registrations would win on
    * name clash — names are kept globally unique. Built once, so
    * `queries` and `benchQueries` hand out the SAME build instances. */
  private lazy val all: Map[String, QueryDef] =
    RelationalQueries.defs ++ ScidaQueries.defs ++ EventQueries.defs ++
      TextQueries.defs ++ DedupQueries.defs ++ AnnQueries.defs ++
      MultimodalQueries.defs ++ Hdf5Queries.defs ++ ZarrQueries.defs ++
      FitsQueries.defs ++ CorpusQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all("groupby_agg").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 — what
    * Verify checks: the build itself, or for a verdict-oracled query
    * its gate applied to the build. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, qd) =>
      name -> qd.gate.fold(qd.build)(g => (s, d) => g(s, d, qd.build(s, d)))
    }

  /** What Bench times: every query's one build. Identical (`eq`) to
    * `queries` except for the gated queries, where Verify wraps the
    * same build in its verdict. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, qd) => name -> qd.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the tables of dataset dir `d`. Omitted for non-SQL-expressible
    * ops. Artifact-backed oracles name the artifact their build writes
    * for `d` in this process. */
  def oracleSqlAt(d: String): Map[String, String] =
    all.collect { case (name, QueryDef(_, Some(o), _)) => name -> o(d) }

  /** `oracleSqlAt` with no dataset declared: constant oracles are
    * complete; artifact-backed ones name a path no build writes, so
    * their replay fails loudly instead of reading another dataset's
    * artifact. */
  def oracleSql: Map[String, String] = oracleSqlAt("<no dataset>")
}
