package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.ParquetSchema
import graft.functions.StateCombinators

/** Incremental materialized views over streams — the reference's
  * `CREATE MATERIALIZED VIEW ... ENGINE=AggregatingMergeTree` push chain
  * (`/root/reference/src/Processors/Transforms/buildPushingToViewsChain.cpp`):
  * each insert block contributes `-State` partial-aggregate rows; reads
  * finalize with `-Merge`.
  *
  * Spark shape: `foreachBatch` appends one state row per (group, batch)
  * to a parquet state table ([[StateCombinators.stateTable]]); a read =
  * [[StateCombinators.mergeStates]] over the state table. Refresh cost is
  * O(new data) + O(state rows) — never a rescan of the base table, which
  * is the property that matters at 100 TB.
  */
object MaterializedView {

  /** Attach an incremental aggregating MV to a stream. */
  def attachIncremental(
      stream: DataFrame,
      keys: Seq[String],
      valueCol: Column,
      uniqCol: Column,
      statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        StateCombinators
          .stateTable(batch, keys.map(col), valueCol, uniqCol)
          .write.mode("append").parquet(statePath)
      }
      .start()

  /** Finalized view: merge all state rows (any number of batches). */
  def read(spark: SparkSession, statePath: String, keys: Seq[String]): DataFrame =
    StateCombinators.mergeStates(ParquetSchema.load(spark, statePath),
      keys.map(col))

  /** LiveView (reference `registerStorages.cpp:24`, `StorageLiveView`):
    * an always-current in-memory result of a query over a stream.
    * Spark shape: complete-output-mode memory sink; `spark.table(name)`
    * (or SQL against `name`) reads the current result after any batch.
    * Complete mode re-emits the whole result per batch, which is exactly
    * LiveView's contract (and why it suits small aggregated results, not
    * raw streams — same caveat as the reference).
    */
  def liveView(aggregated: DataFrame, name: String): StreamingQuery =
    aggregated.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming IVF index maintenance: each micro-batch of new vectors is
    * assigned to the existing centroids and appended
    * ([[graft.operators.IvfIndex.append]]), so ANN queries see fresh rows
    * after every batch — the vector twin of [[attachFtsIndex]].
    */
  def attachIvfIndex(
      stream: DataFrame,
      indexName: String,
      indexDir: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.IvfIndex.append(
            batch.sparkSession, batch, indexName, indexDir)
          ()
        }
      }
      .start()

  /** Streaming HNSW maintenance: each micro-batch becomes new `part_id=`
    * graph directories ([[graft.operators.HnswIndex.append]]) — the
    * reference's per-part build-at-insert flow; searches union all parts
    * with no rebuild.
    */
  def attachHnswIndex(
      stream: DataFrame,
      indexName: String,
      indexDir: String,
      idCol: String,
      vecCol: String,
      checkpoint: String,
      metric: String = "l2"): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.HnswIndex.append(
            batch.sparkSession, indexDir, indexName, batch, idCol, vecCol,
            metric)
          ()
        }
      }
      .start()

  /** Streaming FTS index maintenance — the push-chain analog for the
    * text index: each micro-batch of new documents is appended into the
    * posting-list index ([[graft.operators.FtsIndex.append]] — new
    * parquet files in the bucket dirs + incremental global stats), so
    * `textsearch()` sees fresh documents after every batch without any
    * rebuild. Mirrors the reference indexing new parts at insert time.
    */
  def attachFtsIndex(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.FtsIndex.append(
            batch.sparkSession, batch, idCol, textCol, indexDir)
          ()
        }
      }
      .start()
}
