package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers SURVEY §2's operator inventory plus the training-data
  * pipeline extensions; `oracleSql` holds the DuckDB-equivalent SQL for every
  * query whose semantics are SQL-expressible (column aliases match exactly —
  * the driver sorts columns by name before hashing).
  */
object SparkEntry {

  private def registry: Seq[Q] =
    CoreQueries.all ++ RelationalQueries.all ++ ApproxQueries.all ++
      DedupQueries.all ++ VectorQueries.all ++ TextQueries.all ++
      MediaQueries.all ++ PipelineQueries.all ++ SketchQueries.all ++
      StreamQueries.all ++ GraphQueries.all ++ CorpusQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
