package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.VectorDistance
import graft.operators.{HnswIndex, IvfIndex, PqIndex, SqIndex}

/** Catalyst rule for the reference's search-query shape.
  *
  * The reference recognizes `SELECT ..., distance(v, q) AS d ... ORDER BY
  * d LIMIT k` during analysis (`/root/reference/src/Interpreters/
  * ExpressionAnalyzer.cpp:216-240`) and swaps the plain scan for an ANN
  * index scan when the table has a built vector index
  * (`MergeTreeDataSelectExecutor.cpp:1367` → `ReadWithHybridSearch`);
  * it rejects queries with more than one search function
  * (`tests/queries/2_vector_search/00040_mqvs_hybrid_search.sql:17`,
  * error 62) and caps the result window
  * (`max_search_result_window`, `src/Core/Settings.h:923`).
  *
  * Spark-side semantics:
  *  - Without an index, `Sort(dist, ties...) + Limit(k)` already lowers to
  *    `TakeOrderedAndProject` — per-partition top-K + merge, exactly the
  *    reference's brute-force plan. Nothing to do.
  *  - With a BUILT **IVFFLAT** index registered in [[IvfIndex.Catalog]]
  *    for the scanned parquet path + vector column, the scan is swapped
  *    for the index's list-partitioned layout pruned to the
  *    `defaultNprobe` nearest lists — file-level pruning IS the index
  *    acceleration. Like the HNSW route, it runs no job during
  *    optimization: the probes rank against the cached centroids and
  *    [[IvfIndex.probedLists]] lists only the probed `list_id=`
  *    directories and takes the schema from one footer. A WHERE below the
  *    sort stays BELOW the ranking (pre-filter semantics). Approximate when
  *    nprobe < nLists, like the reference's index path.
  *  - With a BUILT **HNSWFLAT** index, the scan is replaced by a
  *    semi-join of the relation against the graph search's (id, d)
  *    candidates — the graph search itself is the shuffle-free per-part
  *    plan of [[HnswIndex.search]]. A WHERE routes too: it becomes a
  *    LAZY accept-id frame aggregated into a mask stage of the same job
  *    (the reference's pre-filter bitmap, `performPrefilter`, which is
  *    likewise built at execution time) — no job runs during
  *    optimization; each graph task picks masked-traversal /
  *    exact-over-bitmap / overflow from the materialized mask.
  *  - **IVFSQ/IVFPQ** route filtered queries by pushing the WHERE into
  *    the quantized stage-1 ranking (the lists carry the source columns),
  *    so candidates qualify BEFORE the top-`numReorder` cut.
  *  - The distance attribute may be the FIRST of several sort keys —
  *    trailing tie-break keys are preserved, not a reason to lose the
  *    index.
  */
case class TopKSearchRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def countSearchFns(e: Expression): Int =
    e.collect { case _: VectorDistance => () }.size

  private def maxWindow: Int =
    spark.conf.getOption("spark.graft.maxSearchResultWindow")
      .map(_.toInt).getOrElse(TopKSearchRewrite.DefaultMaxSearchResultWindow)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    validate(plan)
    plan.transformDown {
      case gl @ GlobalLimit(IntegerLiteral(k),
          LocalLimit(_, Sort(orders, true, child, _))) if orders.nonEmpty =>
        rewriteTopK(k, orders, child).getOrElse(gl)
    }
  }

  private def checkDirection: Boolean =
    spark.conf.getOption("spark.graft.checkOrderByDirection")
      .forall(_.toBoolean) // default ON, like the reference

  /** Reference constraints: at most one search function per sort; a
    * distance-ranked LIMIT may not exceed max_search_result_window; the
    * ORDER BY direction must match the metric's ranking sense
    * (00027_mqvs_check_order_by_for_metric_type: IP similarity ranks
    * DESC, every distance metric ranks ASC — the wrong direction returns
    * the FARTHEST vectors, which is never what a search meant).
    */
  private def validate(plan: LogicalPlan): Unit = plan.foreach {
    case s @ Sort(order, _, _, _) =>
      if (order.map(o => countSearchFns(o.child)).sum > 1) {
        throw new IllegalArgumentException(
          "only one search function is allowed per query (reference error 62)")
      }
      if (checkDirection) s match {
        case Sort(orders, _, Project(pl, _), _) if orders.nonEmpty =>
          val o = orders.head
          for {
            al <- pl.collectFirst {
              case al: Alias if al.exprId == attrId(o.child) => al }
            vd <- al.child.collectFirst { case v: VectorDistance => v }
          } {
            // Similarity-valued metrics (IP/Dot and the raw CosineSim
            // kernel) rank DESC; distance metrics rank ASC.
            val isSimilarity = vd.metric == graft.functions.Metric.IP ||
              vd.metric == graft.functions.Metric.Dot ||
              vd.metric == graft.functions.Metric.CosineSim
            val wrong =
              if (isSimilarity) o.direction == Ascending
              else o.direction == Descending
            if (wrong) throw new IllegalArgumentException(
              s"ORDER BY direction does not match metric ${vd.metric}: " +
                (if (isSimilarity)
                   "similarity metrics rank by similarity — use ORDER BY ... DESC"
                 else "distance metrics rank ascending — use ORDER BY ... ASC") +
                " (reference 00027_mqvs_check_order_by_for_metric_type)")
          }
        case _ => ()
      }
    case gl @ GlobalLimit(IntegerLiteral(k), _) =>
      val searchLimit = gl.collectFirst {
        case Sort(orders, _, Project(pl, _), _)
            if orders.headOption.exists(o => pl.exists {
              case al: Alias => al.exprId == attrId(o.child) && countSearchFns(al.child) > 0
              case _ => false
            }) => k
      }
      searchLimit.foreach { kk =>
        if (kk > maxWindow) throw new IllegalArgumentException(
          s"search result window $kk exceeds max_search_result_window=$maxWindow " +
            "(reference Settings.h:923)")
      }
    case _ => ()
  }

  private def attrId(e: Expression): ExprId = e match {
    case a: Attribute => a.exprId
    case _ => ExprId(-1L)
  }

  /** True when the WHERE touches the vector column itself — the quantized
    * lists dropped it, so such filters cannot resolve there.
    */
  private def filterReferencesVector(
      cond: Option[Expression], vecAttr: AttributeReference): Boolean =
    cond.exists(_.references.exists(_.name == vecAttr.name))

  /** Re-expresses a resolved condition with name-based attributes so it
    * can be resolved again against the index-lists layout (same column
    * names, different exprIds).
    */
  private def byNameColumn(cond: Expression): org.apache.spark.sql.Column =
    shim.column(cond.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })

  /** Source columns that would collide with index-internal column names
    * when a WHERE is re-resolved by name against the index layout (the
    * IVF lists carry `list_id`, the quantized lists `qcodes`/`pqcodes`,
    * the HNSW graph `node_idx`/`qvec`/`neighbors`). A source table using
    * one of these names would silently mis-filter inside the index scan,
    * so routing is skipped (brute force stays exact).
    */
  private val ReservedIndexColumns =
    Set("list_id", "qcodes", "pqcodes", "qvec", "node_idx", "neighbors", "part_id")

  private def rewriteTopK(
      k: Int, orders: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    // First sort key must be an attribute produced by a projection as
    // `distance(vecCol, literal-query-vector)`, ascending; trailing keys
    // are tie-breaks and are preserved.
    val order = orders.head
    val sortAttr = order.child match {
      case a: Attribute if order.direction == Ascending => a
      case _ => return None
    }
    // Accept Project(..., rel-or-filtered-rel)
    val (projList, below) = child match {
      case Project(pl, c) => (pl, c)
      case _ => return None
    }
    val (filterCond, relPlan) = below match {
      case Filter(cond, r) => (Some(cond), r)
      case r => (None, r)
    }
    val rel = relPlan match {
      case lr: LogicalRelation => lr
      case _ => return None
    }
    // A source schema using an index-internal name cannot route: the
    // index build overwrote that column in the lists layout, and a WHERE
    // re-resolved by name against it would silently mis-filter. Brute
    // force stays exact.
    if (rel.output.exists(a => ReservedIndexColumns.contains(a.name))) return None
    val distAlias = projList.collectFirst {
      case al @ Alias(vd @ VectorDistance(attr: AttributeReference, Literal(q, ArrayType(FloatType, _)), _), _)
          if al.exprId == sortAttr.exprId => (al, vd, attr, q.asInstanceOf[ArrayData])
    }.getOrElse(return None)
    val (alias, vd, vecAttr, qArray) = distAlias

    val path = rel.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption.map(_.toString).getOrElse(return None)
      case _ => return None
    }
    val entry = IvfIndex.Catalog.forSource(path, vecAttr.name).getOrElse(return None)
    if (!vd.metric.toString.equalsIgnoreCase(entry.metric)) return None

    val newScan: LogicalPlan = entry.indexType match {
      // MSTG is the validated-DDL stand-in over the IVF backend (SURVEY
      // §2.1) — identical probed-lists plan
      case "IVFFLAT" | "MSTG" =>
        val probes = IvfIndex.probeSet(spark, entry.indexDir,
          qArray.toFloatArray().toSeq, entry.defaultNprobe, Some(entry.metric))
        logInfo(s"TopKSearchRewrite: ORDER BY ${vd.prettyName} LIMIT $k over $path " +
          s"→ IVF index ${entry.name} (nprobe=${entry.defaultNprobe})")
        IvfIndex.probedLists(spark, entry.indexDir, probes).queryExecution.analyzed
      case sq @ ("IVFSQ" | "IVFPQ")
          if !filterReferencesVector(filterCond, vecAttr) =>
        val qvec = qArray.toFloatArray()
        // quantized stage-1 candidates; the original projection's exact
        // distance + the Sort/Limit on top IS the stage-2 re-rank. A
        // WHERE is pushed INTO stage 1 (resolved by name against the
        // quantized lists, which carry every source column except the
        // vector) — pre-filter semantics: ranking happens only over
        // qualifying rows, matching the reference's performPrefilter
        // (`MergeTreeSelectWithHybridSearchProcessor.h:117-129`).
        val numReorder = math.max(4 * k, 64)
        val listsFilter = filterCond.map(byNameColumn)
        val stage1 =
          if (sq == "IVFSQ") SqIndex.stage1Candidates _ else PqIndex.stage1Candidates _
        val cand = stage1(spark, entry.indexDir, qvec.toSeq, numReorder,
          entry.defaultNprobe, listsFilter, None)
        logInfo(s"TopKSearchRewrite: ORDER BY ${vd.prettyName} LIMIT $k over $path " +
          s"→ $sq index ${entry.name} (numReorder=$numReorder, " +
          s"filtered=${filterCond.nonEmpty})")
        shim.ofRows(spark, rel)
          .join(broadcast(cand), cand.columns.toSeq, "left_semi")
          .queryExecution.optimizedPlan
      case hnsw @ ("HNSWFLAT" | "HNSWSQ" | "HNSWPQ") if entry.idCol.nonEmpty =>
        val qvec = qArray.toFloatArray()
        // Quantized graphs (search() decodes via the per-JVM cache)
        // over-fetch candidates: the original projection's exact distance
        // + the Sort/Limit on top IS the stage-2 re-rank, so the graph
        // only needs to surface a numReorder-sized coarse pool (same
        // recall-repair shape as the IVFSQ/IVFPQ routing).
        val numCand = if (hnsw == "HNSWFLAT") k else math.max(4 * k, 64)
        // Filtered search routes through the graph with an accept mask
        // computed AT EXECUTION TIME (reference performPrefilter builds
        // its per-part bitmap during execution,
        // `MergeTreeSelectWithHybridSearchProcessor.h:117-129`): the
        // WHERE becomes a lazy id frame whose sorted-array aggregation is
        // a stage of the final job — NO job runs inside this rule. The
        // per-part graph tasks pick the regime from the actual mask:
        // masked traversal with selectivity-scaled ef, exact-over-bitmap
        // scoring when the filter is selective, or (mask over
        // DefaultMaxPrefilterIds) an all-qualifying-ids candidate
        // branch that keeps the exact re-rank exact. See
        // HnswIndex.searchWithAcceptDf for the regime contract.
        val cand = (filterCond match {
          case Some(cond) =>
            val acceptDf = shim.ofRows(spark, Filter(cond, rel))
              .select(col(entry.idCol).cast("long").as("id"))
            HnswIndex.searchWithAcceptDf(spark, entry.indexDir, qvec.toSeq,
              numCand, TopKSearchRewrite.EfCap, entry.metric, acceptDf,
              TopKSearchRewrite.DefaultMaxPrefilterIds, entry.nRows)
          case None =>
            HnswIndex.search(spark, entry.indexDir, qvec.toSeq, numCand,
              ef = math.min(TopKSearchRewrite.EfCap, math.max(64, 2 * numCand)),
              metric = entry.metric)
        }).withColumnRenamed("id", entry.idCol)
          .drop("d") // distance recomputed exactly by the projection
        logInfo(s"TopKSearchRewrite: ORDER BY ${vd.prettyName} LIMIT $k over $path " +
          s"→ $hnsw index ${entry.name} (numCand=$numCand, " +
          s"filtered=${filterCond.nonEmpty}, execution-time mask)")
        // Unfiltered candidates broadcast (≤ parts×numCand rows); filtered
        // candidates are left to AQE, whose runtime size decides between
        // broadcast (selective mask) and shuffle (overflow branch fired) —
        // a static hint would force-broadcast the unbounded overflow set.
        val candSide = if (filterCond.isEmpty) broadcast(cand) else cand
        // optimizedPlan (not analyzed): any broadcast hint must already be
        // folded into the join node — this rule runs after Spark's
        // hint-resolution batch.
        shim.ofRows(spark, rel)
          .join(candSide, Seq(entry.idCol), "left_semi")
          .queryExecution.optimizedPlan
      case _ => return None
    }

    // name → new attribute (the index layout carries the source columns)
    val byName = newScan.output.map(a => a.name -> a).toMap
    rel.output.foreach(a => if (!byName.contains(a.name)) return None)
    def remap(e: Expression): Expression = e.transformUp {
      case ar: AttributeReference if byName.contains(ar.name) &&
          rel.output.exists(_.exprId == ar.exprId) => byName(ar.name)
    }

    // Rebuild filter/project preserving the ORIGINAL exprIds on output
    // (upstream Sort/Limit/parents keep resolving).
    var rebuilt: LogicalPlan = newScan
    filterCond.foreach(c => rebuilt = Filter(remap(c), rebuilt))
    val newProj = projList.map {
      case a: AttributeReference =>
        Alias(remap(a), a.name)(exprId = a.exprId)
      case al: Alias =>
        Alias(remap(al.child), al.name)(exprId = al.exprId)
      case other => remap(other).asInstanceOf[NamedExpression]
    }
    rebuilt = Project(newProj, rebuilt)
    Some(GlobalLimit(Literal(k),
      LocalLimit(Literal(k), Sort(orders, global = true, rebuilt, None))))
  }
}

object TopKSearchRewrite {
  val DefaultMaxSearchResultWindow = 10000 // reference Settings.h:923
  /** Hard cap on the HNSW candidate pool; a filtered graph task whose
    * scaled ef would exceed it switches to the exact-over-bitmap regime
    * rather than risk < k rows.
    */
  val EfCap = 4096
  /** Cap on the accept-id mask materialized by the execution-time
    * aggregation stage (~16 MB of longs); past it the per-part tasks
    * yield to the all-qualifying-ids overflow branch.
    */
  val DefaultMaxPrefilterIds = 2 << 20

  def isDistanceSort(o: SortOrder): Boolean =
    o.child.exists(_.isInstanceOf[VectorDistance])
}
