package graft.operators

import scala.collection.concurrent.TrieMap

import graft.engine.ParquetSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MergeTree PROJECTIONs — materialized per-part aggregates the optimizer
  * substitutes for the base table when a query's GROUP BY matches
  * (`/root/reference/src/Storages/ProjectionsDescription.cpp`; selection
  * `optimize_use_projections`,
  * `src/Processors/QueryPlan/Optimizations/optimizeUseAggregateProjection.cpp`).
  *
  * Spark realization: the projection is a parquet table of PARTIAL
  * aggregates (`__cnt`, `__sum_c`, `__min_c`, `__max_c`) grouped by the
  * projection key; [[graft.plans.ProjectionRewrite]] swaps a matching
  * `Aggregate(scan)` for a re-aggregation over the projection —
  * `sum→sum(__sum)`, `count→sum(__cnt)`, `min→min(__min)`,
  * `max→max(__max)` — which is exact because those aggregates are
  * associative and the query's grouping is a subset of the projection's.
  * A projection of G groups turns a full-table scan into a G-row scan:
  * the same orders-of-magnitude win the reference gets.
  */
object Projections {

  case class ProjEntry(
      name: String, sourcePath: String, projDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String], nGroups: Long)

  private val entries = TrieMap.empty[String, ProjEntry]

  def register(e: ProjEntry): Unit = entries.put(e.name, e)
  def drop(name: String): Unit = entries.remove(name)
  def forSource(path: String): Seq[ProjEntry] =
    entries.values.filter(_.sourcePath == path).toSeq.sortBy(_.name)

  /** `SELECT * FROM system.projections` analog. */
  def asDataFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.values.toSeq.sortBy(_.name)
      .map(e => (e.name, e.sourcePath, e.projDir,
        e.groupCols.mkString(","), e.nGroups))
      .toDF("name", "sourcePath", "projDir", "groupCols", "nGroups")
  }

  def sumColName(c: String): String = s"__sum_$c"
  def minColName(c: String): String = s"__min_$c"
  def maxColName(c: String): String = s"__max_$c"

  /** Build (`ALTER TABLE ... ADD PROJECTION p (SELECT ... GROUP BY ...)
    * MATERIALIZE`): one aggregation pass writing the partial-aggregate
    * table.
    */
  def build(
      spark: SparkSession,
      df: DataFrame,
      name: String,
      sourcePath: String,
      projDir: String,
      groupCols: Seq[String],
      sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil): ProjEntry = {
    val aggs =
      (count(lit(1)).as("__cnt") +:
        (sumCols.map(c => sum(col(c)).as(sumColName(c))) ++
          minCols.map(c => min(col(c)).as(minColName(c))) ++
          maxCols.map(c => max(col(c)).as(maxColName(c)))))
    df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(projDir)
    val nGroups = ParquetSchema.load(spark, projDir).count()
    val entry = ProjEntry(name, sourcePath, projDir, groupCols, sumCols,
      minCols, maxCols, nGroups)
    register(entry)
    entry
  }

  // ------------------------------------------------------------------
  // Normal (sort-order) projections — the reference's second projection
  // kind (`optimizeUseNormalProjection.cpp`): a column-subset copy of the
  // table stored under a different ORDER BY, substituted for the base
  // scan when a query only touches its columns and filters/sorts on its
  // sort key.
  // ------------------------------------------------------------------

  case class NormalEntry(
      name: String, sourcePath: String, projDir: String,
      sortCols: Seq[String], cols: Seq[String], nRows: Long)

  private val normals = TrieMap.empty[String, NormalEntry]

  def registerNormal(e: NormalEntry): Unit = normals.put(e.name, e)
  def dropNormal(name: String): Unit = normals.remove(name)
  def normalForSource(path: String): Seq[NormalEntry] =
    normals.values.filter(_.sourcePath == path).toSeq.sortBy(_.name)

  /** `ALTER TABLE ... ADD PROJECTION p (SELECT cols ORDER BY sortCols)
    * MATERIALIZE`: range-partition by the sort key then sort within
    * partitions, so at scale every parquet file covers a narrow sort-key
    * range and filter pushdown prunes at FILE level (the same win the
    * reference gets from the projection part's primary index).
    */
  def buildNormal(
      spark: SparkSession,
      df: DataFrame,
      name: String,
      sourcePath: String,
      projDir: String,
      sortCols: Seq[String],
      cols: Seq[String]): NormalEntry = {
    val all = (sortCols ++ cols.filterNot(sortCols.contains)).map(col)
    df.select(all: _*)
      .repartitionByRange(sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(projDir)
    val nRows = ParquetSchema.load(spark, projDir).count()
    val entry = NormalEntry(name, sourcePath, projDir, sortCols,
      (sortCols ++ cols).distinct, nRows)
    registerNormal(entry)
    entry
  }
}
