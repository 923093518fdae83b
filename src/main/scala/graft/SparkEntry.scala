package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY §2 re-expressed
  * Spark-first; every entry with a DuckDB-expressible semantic also has an
  * exactly-mirrored oracle in `oracleSql` (same column names, same
  * rounding, same deterministic ordering).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A hybrid-ish slice: BM25 text search over documents (the reference's
    * differentiating surface) — exercises tokenization, global stats,
    * scoring and top-K in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    TextQueries.queries("t01_bm25_topk")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ VectorQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ EventQueries.queries ++ PipelineQueries.queries ++
      FormatQueries.queries ++ NlpQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose semantics are not
    * SQL-expressible (approximate LSH/SimHash) → rows-only check.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ VectorQueries.oracles ++ TextQueries.oracles ++
      DedupQueries.oracles ++ EventQueries.oracles ++ PipelineQueries.oracles ++
      FormatQueries.oracles ++ NlpQueries.oracles
}
