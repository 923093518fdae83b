package graft

/** Plan-shape regression gate: the properties that make the engine safe
  * at 100 TB, asserted against the actual physical plans so a future
  * change cannot silently lose them. (`plans/headline/` is the
  * human-readable dump; this is the executable version.)
  */
class PlanRegressionSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("the shared session is Bench's: engine confs, UTC, nanosAsLong, graft rules") {
    // every plan-shape assertion below is only evidence for the plans
    // Bench times if the suite's session is built the way Bench's is
    val conf = spark.conf
    graft.engine.GraftSession.engineConfs.foreach { case (k, v) =>
      assert(conf.get(k) == v, k)
    }
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.exists(_.isInstanceOf[graft.plans.TopKSearchRewrite]), rules)
    assert(rules.exists(_.isInstanceOf[graft.plans.ProjectionRewrite]), rules)
  }

  test("q01: filters reach the parquet scan, aggregation is partial->final") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: ["), p.takeRight(800))
    assert(p.contains("partial_"), "no partial aggregation")
  }

  test("q05 star join broadcasts every dimension") {
    val p = plan("q05_region_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("v01 vector top-K never global-sorts") {
    val p = plan("v01_l2_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("t07 FTS search prunes bucket partitions and pushes the term filter") {
    val p = plan("t07_fts_topk")
    assert(p.contains("PartitionFilters: [bucket"), p.takeRight(1200))
    assert(p.contains("In(term"), "term filter not pushed to row groups")
  }

  test("v11 HNSW search plan has no Exchange") {
    assert(!plan("v11_hnsw_search").contains("Exchange"))
  }

  test("filtered HNSW rewrite: the WHERE is a stage INSIDE the plan, not a plan-time collect") {
    // the rewritten plan must carry the accept-set filter as an
    // execution stage (visible via the pushed-down predicate on the
    // candidate side's relation scan) — the reference computes its
    // pre-filter bitmap at execution time, and so must we
    val dir = tempDir("hnsw-planreg").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    spark.catalog.clearCache()
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val qv = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 3)
      .select("embedding").head().getSeq[Float](0)
    try {
      graft.operators.HnswIndex.build(spark, emb, "vec_id", "embedding",
        "planreg_hnsw", dir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(2), sourcePath = srcPath)
      import org.apache.spark.sql.functions.{col, typedLit}
      val filtered = emb.filter(col("label") === 2)
        .select(col("vec_id"), col("label"),
          graft.functions.distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
        .orderBy(col("d")).limit(5)
      val p = filtered.queryExecution.executedPlan.toString
      assert(p.contains("Join"), s"filtered query did not route:\n${p.take(800)}")
      // the label predicate appears ≥ twice: once re-applied above the
      // candidate join and once inside the candidate side's accept scan
      val pushed = p.sliding("label".length).count(_ == "label")
      assert(pushed >= 2, s"accept-set filter stage missing from plan:\n$p")
    } finally graft.operators.IvfIndex.Catalog.drop("planreg_hnsw")
  }

  test("q21 ASOF join shuffles once on the key (no nested-loop range join)") {
    val p = plan("q21_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("d02 exact Jaccard: prefix join is an equi-join, sizes never Cartesian") {
    val p = plan("d02_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q47 collapse FINAL avoids per-key windows (agg + semi join only)") {
    val p = plan("q47_collapsing_final")
    assert(!p.contains("Window"), p.take(800))
  }

  test("q48 SAMPLE is a scan-stage filter — no shuffle before the aggregate") {
    val p = plan("q48_sample")
    // exactly the one exchange of the final single-row aggregate
    assert(p.split("Exchange").length <= 3, p.take(1200))
  }

  test("no query uses a Cartesian product except the intended cross joins") {
    val allowCartesian = Set("q28_cross_to_inner", "v05_batch_distance")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allowCartesian)
      .filter { name =>
        // plan construction only — no execution
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString.contains("CartesianProduct")
        catch { case _: Throwable => false }
      }
    assert(offenders.isEmpty, s"unexpected CartesianProduct in: $offenders")
  }

  test("q72 spatial join: broadcast equi-join on cell, no cartesian, map-side rank-1 prune") {
    val p = plan("q72_spatial_join")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), "cartesian crept into the spatial join")
    assert(!p.contains("CartesianProduct"))
    // smallest-area winner: Spark's WindowGroupLimit prunes to rank 1
    // BEFORE the per-point shuffle (Partial) and again after (Final)
    assert(p.contains("WindowGroupLimit"), "rank-1 prune missing")
  }
}
