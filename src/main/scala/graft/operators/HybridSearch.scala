package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid (vector + text) search with score fusion — `hybridsearch()`
  * in the reference (`/root/reference/src/VectorIndex/Utils/
  * HybridSearchUtils.cpp`).
  *
  * Reference semantics mirrored exactly:
  *  - each sub-search contributes `k * hybrid_search_top_k_multiple_base`
  *    candidates (default base 3, `Settings.h:921`);
  *  - **RSF** (`RelativeScoreFusion`, HybridSearchUtils.cpp:212-275):
  *    min-max normalize each candidate list
  *    (`computeNormalizedScore` :276-331; all-equal list → 1.0);
  *    fused = norm_bm25 * w + norm_dist_term * (1-w), where the distance
  *    term is flipped (`1 - norm`) for ascending metrics (L2/Cosine) and
  *    taken as-is for descending (IP) — :265-270. Default w = 0.5
  *    (`Settings.h:919`).
  *  - **RRF** (`RankFusion`, :164-210): Σ 1/(fusion_k + rank), 1-based
  *    rank within each list, default fusion_k = 60 (`Settings.h:920`).
  *  - final result ordered by fused score descending, LIMIT k.
  *
  * Everything is plain DataFrame math over the two candidate frames,
  * inside one plan: an unpartitioned min/max window per candidate list
  * (RSF) or a rank window (RRF), then a full outer join on the row id —
  * no shuffle of the underlying table and no job while it is built.
  */
object HybridSearch {

  val DefaultFusionWeight = 0.5 // Settings.h:919
  val DefaultRrfK = 60          // Settings.h:920
  val TopKMultipleBase = 3      // Settings.h:921

  /** Relative-score fusion of a vector candidate list (id, dist) and a
    * text candidate list (id, bm25). `distAscending` = metric ranks
    * ascending (L2/Cosine); false for IP.
    */
  def rsf(
      vecCandidates: DataFrame, // columns: id, dist
      textCandidates: DataFrame, // columns: id, bm25
      idCol: String,
      distCol: String,
      bm25Col: String,
      k: Int,
      fusionWeight: Double = DefaultFusionWeight,
      distAscending: Boolean = true,
      fusedName: String = "fused_score",
      tieBreak: Seq[Column] = Nil): DataFrame = {

    // min/max over the whole candidate list (≤ 3·k rows) from an
    // unpartitioned window — inside the plan, no driver aggregation job
    def normalized(df: DataFrame, c: String, outName: String): DataFrame = {
      val whole = Window.partitionBy()
      // all-equal list → every normalized score is 1.0 (reference :299-304)
      df.withColumn("__mn", min(col(c)).over(whole).cast("double"))
        .withColumn("__mx", max(col(c)).over(whole).cast("double"))
        .withColumn(outName,
          when(col("__mn") === col("__mx"), lit(1.0))
            .otherwise((col(c).cast("double") - col("__mn")) / (col("__mx") - col("__mn"))))
        .drop("__mn", "__mx")
    }

    val v = normalized(vecCandidates, distCol, "__norm_d")
      .withColumn(
        "__vec_term",
        (if (distAscending) lit(1.0) - col("__norm_d") else col("__norm_d")) *
          lit(1.0 - fusionWeight))
      .select(col(idCol), col("__vec_term"))
    val t = normalized(textCandidates, bm25Col, "__norm_b")
      .withColumn("__text_term", col("__norm_b") * lit(fusionWeight))
      .select(col(idCol), col("__text_term"))
    sumTerms(v, t, idCol, k, fusedName, tieBreak)
  }

  /** The fusion tail of [[rsf]] and [[rrf]]: full outer join of the two
    * per-list terms on the id, their sum (a list that misses the id
    * adds 0), top `k`.
    */
  private def sumTerms(v: DataFrame, t: DataFrame, idCol: String, k: Int,
      fusedName: String, tieBreak: Seq[Column]): DataFrame =
    v.join(t, Seq(idCol), "full_outer")
      .withColumn(fusedName,
        coalesce(col("__vec_term"), lit(0.0)) + coalesce(col("__text_term"), lit(0.0)))
      .select(col(idCol), col(fusedName))
      .orderBy(col(fusedName).desc +: tieBreak: _*)
      .limit(k)

  /** Reciprocal-rank fusion. Ranks are 1-based positions in each candidate
    * list ordered by its own score (dist asc/desc per metric; bm25 desc).
    * The global rank windows run over the CANDIDATE lists (3·k rows each,
    * already reduced by the sub-searches) — bounded by construction, never
    * over a table.
    */
  def rrf(
      vecCandidates: DataFrame,
      textCandidates: DataFrame,
      idCol: String,
      distCol: String,
      bm25Col: String,
      k: Int,
      rrfK: Int = DefaultRrfK,
      distAscending: Boolean = true,
      fusedName: String = "fused_score",
      tieBreak: Seq[Column] = Nil): DataFrame = {

    val vOrder = if (distAscending) col(distCol).asc else col(distCol).desc
    val v = vecCandidates
      .withColumn("__rank", row_number().over(Window.orderBy(vOrder, col(idCol))))
      .select(col(idCol), (lit(1.0) / (lit(rrfK) + col("__rank"))).as("__vec_term"))
    val t = textCandidates
      .withColumn("__rank",
        row_number().over(Window.orderBy(col(bm25Col).desc, col(idCol))))
      .select(col(idCol), (lit(1.0) / (lit(rrfK) + col("__rank"))).as("__text_term"))
    sumTerms(v, t, idCol, k, fusedName, tieBreak)
  }

  /** The one fusion step of the hybrid family: `vecCand` (idCol, dist)
    * and `textCand` (idCol, bm25_score), each `k * TopKMultipleBase`
    * candidates, fused by `fusionType` ("rrf", else RSF) into (idCol,
    * fused_score) top-`k`, ties broken by the id.
    */
  private def fuse(vecCand: DataFrame, textCand: DataFrame, idCol: String, k: Int,
      fusionType: String, metric: String, fusionWeight: Double, rrfK: Int): DataFrame = {
    val distAsc = !metric.equalsIgnoreCase("ip")
    fusionType.toLowerCase match {
      case "rrf" =>
        rrf(vecCand, textCand, idCol, "dist", "bm25_score", k, rrfK, distAsc,
          "fused_score", Seq(col(idCol)))
      case _ =>
        rsf(vecCand, textCand, idCol, "dist", "bm25_score", k, fusionWeight,
          distAsc, "fused_score", Seq(col(idCol)))
    }
  }

  /** Brute-force vector leg: the exact top `nCand` of `df` by `metric`. */
  private def bruteLeg(df: DataFrame, idCol: String, vecCol: Column, qvec: Seq[Float],
      nCand: Int, metric: String): DataFrame =
    VectorSearch.topK(df, vecCol, qvec, nCand, metric, None, "dist", Seq(col(idCol)))
      .select(col(idCol), col("dist"))

  /** FTS-index text leg: the top `nCand` of the persisted postings, with
    * `doc_id` renamed to `idCol`.
    */
  private def ftsLeg(spark: SparkSession, ftsIndexDir: String, qtext: String, nCand: Int,
      idCol: String, deletedIds: Option[DataFrame]): DataFrame =
    FtsIndex
      .search(spark, ftsIndexDir, qtext, nCand, "OR", "bm25_score",
        Seq(col("doc_id")), deletedIds = deletedIds)
      .withColumnRenamed("doc_id", idCol)
      .select(col(idCol), col("bm25_score"))

  /** `hybridsearch('fusion_type=...')(v, doc, qvec, qtext) ... LIMIT k`:
    * runs both sub-searches over `df` (vector brute/IVF + BM25 text),
    * fuses, and joins payload columns back for the final top-k rows.
    */
  def hybridSearch(
      df: DataFrame,
      idCol: String,
      vecCol: Column,
      textCol: Column,
      qvec: Seq[Float],
      qtext: String,
      k: Int,
      fusionType: String = "rsf",
      metric: String = "cosine",
      fusionWeight: Double = DefaultFusionWeight,
      rrfK: Int = DefaultRrfK): DataFrame = {
    val nCand = k * TopKMultipleBase
    val textCand = TextSearch
      .textSearch(df, textCol, qtext, nCand, "OR", "bm25_score", Seq(col(idCol)))
      .select(col(idCol), col("bm25_score"))
    fuse(bruteLeg(df, idCol, vecCol, qvec, nCand, metric), textCand, idCol, k,
      fusionType, metric, fusionWeight, rrfK)
  }

  /** Index-backed hybrid search: the text leg reads the persisted FTS
    * posting-list index (one pruned-bucket scan) instead of re-tokenizing
    * and re-aggregating the corpus on every query. The FTS index must be
    * built over the SAME corpus `df` so BM25 statistics agree with the
    * direct path. The vector leg stays the brute/TakeOrdered top-K (swap
    * in IVF via [[IvfIndex.search]] when the corpus has one).
    */
  def hybridSearchIndexed(
      df: DataFrame,
      idCol: String,
      vecCol: Column,
      qvec: Seq[Float],
      qtext: String,
      k: Int,
      ftsIndexDir: String,
      fusionType: String = "rsf",
      metric: String = "cosine",
      fusionWeight: Double = DefaultFusionWeight,
      rrfK: Int = DefaultRrfK): DataFrame = {
    val nCand = k * TopKMultipleBase
    fuse(bruteLeg(df, idCol, vecCol, qvec, nCand, metric),
      ftsLeg(df.sparkSession, ftsIndexDir, qtext, nCand, idCol, None), idCol, k,
      fusionType, metric, fusionWeight, rrfK)
  }

  /** Fully index-backed hybrid search — BOTH legs on persisted indexes,
    * the reference's production shape: the dense leg probes the vector
    * index with `denseNprobe` (the `dense_nprobe` search parameter,
    * `VSDescription.h:112-153`), the text leg reads the FTS postings.
    * Per query, the corpus is touched only through nprobe/nLists of the
    * list files + ≤|terms| posting buckets — no full scan on either leg.
    * `vecIdCol` is the id column name inside the vector index's rows
    * (renamed to `idCol` for fusion). `denseNprobe = nLists` makes the
    * dense leg exhaustive-exact, so the full pipeline can be proven
    * against the direct-path oracle.
    */
  def hybridSearchFullyIndexed(
      spark: SparkSession,
      idCol: String,
      vecIdCol: String,
      qvec: Seq[Float],
      qtext: String,
      k: Int,
      vecIndexDir: String,
      ftsIndexDir: String,
      fusionType: String = "rsf",
      denseNprobe: Int = 4,
      metric: String = "cosine",
      fusionWeight: Double = DefaultFusionWeight,
      rrfK: Int = DefaultRrfK,
      deletedIds: Option[DataFrame] = None): DataFrame = {
    val nCand = k * TopKMultipleBase
    // Lightweight-DELETE over the fully-indexed path (reference
    // 00040_with_lwd on indexed parts): BOTH candidate legs drop deleted
    // rows before their top-nCand cuts; index-resident statistics stay
    // at their built values until merge (FtsIndex.search's contract).
    val vecCand = IvfIndex.search(spark, vecIndexDir, qvec, nCand,
        nprobe = denseNprobe, metricOverride = Some(metric),
        preFilter = None, distName = "dist", tieBreak = Seq(col(vecIdCol)),
        deletes = deletedIds)
      .withColumnRenamed(vecIdCol, idCol)
      .select(col(idCol), col("dist"))
    fuse(vecCand, ftsLeg(spark, ftsIndexDir, qtext, nCand, idCol, deletedIds), idCol, k,
      fusionType, metric, fusionWeight, rrfK)
  }
}
