package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every query suite: each entry is an operator from
  * SURVEY.md §2 (or a training-data-pipeline extension) expressed
  * Spark-first, with a DuckDB oracle in [[oracleSql]] where the
  * semantics are ANSI-SQL-expressible.
  */
object SparkEntry {
  private val suites: Seq[(Map[String, (SparkSession, String) => DataFrame],
    Map[String, String])] = Seq(
    (Relational.queries, Relational.oracle),
    (EventQueries.queries, EventQueries.oracle),
    (TextQueries.queries, TextQueries.oracle),
    (VectorQueries.queries, VectorQueries.oracle),
    (PipelineQueries.queries, PipelineQueries.oracle),
    (FixtureQueries.queries, FixtureQueries.oracle),
    (GraphQueries.queries, GraphQueries.oracle),
    (RankingQueries.queries, RankingQueries.oracle),
    (CorpusQueries.queries, CorpusQueries.oracle),
    (SketchQueries.queries, SketchQueries.oracle),
    (UnigramQueries.queries, UnigramQueries.oracle),
    (SftQueries.queries, SftQueries.oracle),
    (GovernanceQueries.queries, GovernanceQueries.oracle),
    (graft.analytics.SqlSuite.queries, graft.analytics.SqlSuite.oracle),
  )

  /** Queries intentionally without a DuckDB oracle (non-SQL-expressible
    * semantics; invariants covered by ScalaTest instead). */
  val rowsOnlyQueries: Set[String] = Set.empty

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full §3.1/§3.2 slice: markdown ingest → chunking →
    * ids → embedding → cosine retrieval → cited context assembly. */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.q36RagPipeline(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    suites.map(_._1).reduce(_ ++ _)

  /** The queries named in `only`, a comma-separated list (Bench's
    * and Verify's `SPARK_GRAFT_ONLY`); all of them when unset. */
  def selected(only: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] =
    only.map(_.split(",").toSet) match {
      case Some(names) => queries.filter(kv => names(kv._1))
      case None => queries
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    suites.map(_._2).reduce(_ ++ _)
}
