package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** WindowView / streaming surface of the reference (SURVEY §2.11):
  * `tumble(t, INTERVAL)`, `hop(t, slide, size)`, `tumbleStart/End`
  * (`/root/reference/src/Functions/FunctionsTimeWindow.cpp:113,217,261,289`),
  * the WATERMARK clause (`StorageWindowView.cpp:1365`), and Kafka→MV
  * pipelines — all expressed on Structured Streaming primitives. The same
  * column builders work identically on batch DataFrames (ClickHouse's
  * WindowView functions are usable in plain SELECTs too).
  */
object TimeWindows {

  /** tumble(ts, size): non-overlapping windows; returns struct(start,end). */
  def tumble(ts: Column, size: String): Column = window(ts, size)

  /** hop(ts, slide, size): overlapping windows (note the reference's
    * argument order — slide first: FunctionsTimeWindow.cpp:217).
    */
  def hop(ts: Column, slide: String, size: String): Column = window(ts, size, slide)

  def tumbleStart(ts: Column, size: String): Column = window(ts, size).getField("start")
  def tumbleEnd(ts: Column, size: String): Column = window(ts, size).getField("end")

  /** WindowView with WATERMARK: windowed aggregation that drops late
    * data past the watermark — the fire-on-watermark semantics of
    * `WatermarkTransform.cpp`.
    */
  def windowedAggregate(
      stream: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowExpr: Column,
      groupCols: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(windowExpr +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming exact dedup by key within the watermark horizon — the
    * streaming counterpart of `Dedup.exactDedup` (state bounded by the
    * watermark, so it holds at unbounded stream length).
    */
  def dedupeStream(stream: DataFrame, tsCol: String, watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Custom keyed state via mapGroupsWithState: running per-key counters
    * (count + sum + last-seen) — the template for reference-style
    * incremental materialized views over streams.
    */
  case class KeyedCounter(key: Long, n: Long, total: Double)

  def runningCounters[T](
      ds: Dataset[(Long, Double)])(implicit e: Encoder[KeyedCounter],
      e2: Encoder[Long]): Dataset[KeyedCounter] = {
    ds.groupByKey(_._1)
      .mapGroupsWithState[KeyedCounter, KeyedCounter](GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[KeyedCounter]) =>
          val prev = state.getOption.getOrElse(KeyedCounter(key, 0L, 0.0))
          val batch = rows.toSeq
          val next = KeyedCounter(key, prev.n + batch.size,
            prev.total + batch.map(_._2).sum)
          state.update(next)
          next
      }
  }
}
