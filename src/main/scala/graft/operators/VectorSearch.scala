package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.distances

/** Vector top-K search — the `distance()` / `batch_distance()` surface of
  * the reference (`/root/reference/src/VectorIndex/Storages/
  * MergeTreeVSManager.cpp:278-335`; brute-force path `:381-410`).
  *
  * Semantics preserved:
  *  - **Pre-filter**: WHERE is applied BEFORE the search so top-K is exact
  *    under filters (`MergeTreeSelectWithHybridSearchProcessor::performPrefilter`,
  *    `.h:117-129`). In DataFrame terms the filter simply precedes scoring —
  *    Catalyst pushes it into the scan.
  *  - **Top-K merge**: `orderBy(dist).limit(k)` lowers to Spark's
  *    `TakeOrderedAndProject` = per-partition top-K + driver merge, the same
  *    shape as the reference's per-part search + initiator merge. No full
  *    sort, no shuffle of the scored data — this is the 100 TB-safe plan.
  *  - **IP direction**: inner-product metric ranks descending
  *    (`MergeTreeVSManager` sorts IP results descending).
  */
object VectorSearch {

  val DefaultTopK = 30 // reference DEFAULT_TOPK, VICommon.h:170

  def distCol(vecCol: Column, q: Seq[Float], metric: String): Column =
    distances.distance(metric)(vecCol, typedLit(q))

  private[graft] def isDescending(metric: String): Boolean =
    metric.equalsIgnoreCase("ip") || metric.equalsIgnoreCase("dot")

  /** Rows whose vector is NULL or has the wrong dimension are SKIPPED,
    * not scored (reference `00008_mqvs_empty_vector`: rows inserted as
    * `[]` under `enforce_fixed_vector_length_constraint=0` never appear
    * in top-K results — the index build excludes them and brute force
    * skips them). A cheap codegen'd scan-stage predicate; the kernel's
    * own length `require` stays as the belt behind it.
    */
  private def dimGuard(vecCol: Column, dim: Int): Column =
    vecCol.isNotNull && size(vecCol) === lit(dim)

  /** Brute-force exact top-K. `tieBreak` columns make result order total. */
  def topK(
      df: DataFrame,
      vecCol: Column,
      q: Seq[Float],
      k: Int = DefaultTopK,
      metric: String = "l2",
      preFilter: Option[Column] = None,
      distName: String = "d",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val base = preFilter.map(df.filter).getOrElse(df)
      .filter(dimGuard(vecCol, q.length))
    val scored = base.withColumn(distName, distCol(vecCol, q, metric))
    val dir = if (isDescending(metric)) col(distName).desc else col(distName).asc
    scored.orderBy(dir +: tieBreak: _*).limit(k)
  }

  /** `batch_distance()`: several query vectors in one pass, per-query top-K
    * (`LIMIT k BY query_idx` in the reference,
    * `MergeTreeVSManager.cpp:465-500`).
    *
    * Plan shape: the data side is scanned ONCE; the tiny query set is
    * broadcast, scoring happens in the scan stage, and the per-query top-K
    * is a window over `query_idx` — at scale the pre-prune keeps only
    * k rows per (partition × query) before the shuffle.
    */
  def batchTopK(
      df: DataFrame,
      vecCol: Column,
      queries: Seq[Seq[Float]],
      k: Int = DefaultTopK,
      metric: String = "l2",
      preFilter: Option[Column] = None,
      distName: String = "d",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    require(queries.nonEmpty && queries.map(_.length).distinct.size == 1,
      "batch_distance queries must be non-empty and share one dimension")
    val base = preFilter.map(df.filter).getOrElse(df)
      .filter(dimGuard(vecCol, queries.head.length))
    val qdf = broadcast(
      df.sparkSession
        .createDataFrame(queries.zipWithIndex.map { case (v, i) => (i, v) })
        .toDF("query_idx", "query_vec"))
    val scored = base
      .crossJoin(qdf)
      .withColumn(distName, distances.distance(metric)(vecCol, col("query_vec")))
      .drop("query_vec")
    perQueryTopK(scored, k, distName, isDescending(metric), tieBreak)
  }

  /** `batch_distance()` over BINARY vectors (reference
    * `00038_mqvs_binary_vector_feature.sql`: `batch_distance(vector,
    * [unbin(...), char(...), unhex(...)])` with the Hamming/Jaccard
    * kernels + `LIMIT n BY dist.1`). Same plan shape as the float path:
    * one data scan, broadcast query set, scan-stage scoring, bounded
    * per-partition heaps before the per-query window. Both binary
    * metrics are ascending (smaller = closer), so no direction flip.
    */
  def batchTopKBinary(
      df: DataFrame,
      vecCol: Column,
      queries: Seq[Array[Byte]],
      k: Int = DefaultTopK,
      metric: String = "hamming",
      preFilter: Option[Column] = None,
      distName: String = "d",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    require(queries.nonEmpty && queries.map(_.length).distinct.size == 1,
      "batch_distance queries must be non-empty and share one code width")
    val base = preFilter.map(df.filter).getOrElse(df)
      .filter(vecCol.isNotNull && length(vecCol) === lit(queries.head.length))
    val kernel: (Column, Column) => Column = metric.trim.toLowerCase match {
      case "jaccard" => graft.functions.distances.jaccardDistance
      case "hamming" => graft.functions.distances.hammingDistance
      case other => throw new IllegalArgumentException(
        s"binary batch_distance supports Hamming/Jaccard, got '$other'")
    }
    val qdf = broadcast(
      df.sparkSession
        .createDataFrame(queries.zipWithIndex.map { case (v, i) => (i, v) })
        .toDF("query_idx", "query_vec"))
    val scored = base
      .crossJoin(qdf)
      .withColumn(distName, kernel(vecCol, col("query_vec")))
      .drop("query_vec")
    perQueryTopK(scored, k, distName, desc = false, tieBreak)
  }

  /** Per-query top-K over a `(query_idx, ..., distName)` scored frame —
    * the shared tail of [[batchTopK]] and [[IvfIndex.batchSearch]].
    *
    * Per-partition prune BEFORE the shuffle: a bounded heap keeps only k
    * rows per (input partition × query), mirroring the reference's
    * per-part top-K — the final window then shuffles ≤ k·partitions rows
    * per query instead of every scored row (the 100 TB property).
    */
  private[graft] def perQueryTopK(
      scored: DataFrame,
      k: Int,
      distName: String,
      desc: Boolean,
      tieBreak: Seq[Column]): DataFrame = {
    val qIdxPos = scored.schema.fieldIndex("query_idx")
    val dPos = scored.schema.fieldIndex(distName)
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(scored.schema))
    val pruned = scored.mapPartitions { rows =>
      val heaps = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.PriorityQueue[(Float, org.apache.spark.sql.Row)]]
      val heapOrd: Ordering[(Float, org.apache.spark.sql.Row)] =
        if (desc) Ordering.by(-_._1) else Ordering.by(_._1) // evict worst
      rows.foreach { r =>
        val h = heaps.getOrElseUpdate(r.getInt(qIdxPos),
          scala.collection.mutable.PriorityQueue.empty(heapOrd))
        h.enqueue((r.getFloat(dPos), r))
        // capacity 2k: margin so distance ties at the k boundary cannot
        // evict a row the caller's tieBreak ordering would have kept
        if (h.size > 2 * k) h.dequeue()
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._2))
    }(enc)

    val dir = if (desc) col(distName).desc else col(distName).asc
    val w = Window.partitionBy(col("query_idx")).orderBy(dir +: tieBreak: _*)
    pruned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Two-stage search (`two_stage_search`, reference
    * `MergeTreeVSManager.cpp:449-460` + `executeSecondStageVectorScan`):
    * stage 1 produces `numReorder` candidates cheaply, stage 2 re-ranks
    * them with exact distances. With an exact stage 1 this equals brute
    * force; with IVF stage 1 it is the recall-repair step.
    */
  def twoStageTopK(
      df: DataFrame,
      vecCol: Column,
      q: Seq[Float],
      k: Int,
      numReorder: Int,
      metric: String = "l2",
      preFilter: Option[Column] = None,
      distName: String = "d",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    // Stage 1: cheap ranking — L2Squared avoids the sqrt for L2; same order.
    val stage1Metric = if (metric.equalsIgnoreCase("l2")) "l2squared" else metric
    val candidates =
      topK(df, vecCol, q, numReorder, stage1Metric, preFilter, "__stage1_d", tieBreak)
        .drop("__stage1_d")
    // Stage 2: exact metric over the candidate set only.
    topK(candidates, vecCol, q, k, metric, None, distName, tieBreak)
  }

  /** Stage 2 of every two-stage index search (IVFSQ, IVFPQ, HNSWSQ,
    * HNSWPQ): the exact top-K of `source` restricted to the stage-1
    * `candidates`, a one-column `idCol` frame of at most numReorder ids,
    * broadcast into the source scan as a semi-join — the reference reads
    * raw vectors from the part for its second stage the same way.
    */
  private[graft] def rerank(
      source: DataFrame,
      idCol: String,
      vecCol: String,
      candidates: DataFrame,
      q: Seq[Float],
      k: Int,
      metric: String,
      preFilter: Option[Column],
      distName: String,
      tieBreak: Seq[Column]): DataFrame =
    topK(source.join(broadcast(candidates), Seq(idCol), "left_semi"), col(vecCol),
      q, k, metric, preFilter, distName, tieBreak)
}
