package graft

import org.apache.spark.sql.functions._

import graft.functions.distances
import graft.operators.{HnswIndex, IvfIndex, VectorSearch}
import graft.plans.TopKSearchRewrite

class TopKRewriteSpec extends SparkSpec {

  // fresh (uncached) relation so the logical plan is a LogicalRelation;
  // other suites cache() the same parquet, and the CacheManager would
  // (correctly) substitute InMemoryRelation, which the rule leaves alone.
  def emb = {
    spark.catalog.clearCache()
    graft.engine.Tables.t(spark, sfDir, "embeddings")
  }
  lazy val qv: Seq[Float] = emb.filter(col("vec_id") === 3)
    .select(col("embedding")).head().getSeq[Float](0)

  def topkDf(k: Int) =
    emb.select(col("vec_id"),
        distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
      .orderBy(col("d")).limit(k)

  test("no index registered → plain TakeOrderedAndProject brute force") {
    val plan = topkDf(5).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("list_id"))
  }

  test("registered index → scan swapped to probed IVF lists, exact at nprobe=nLists") {
    val dir = tempDir("ivf-auto").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      IvfIndex.build(spark, emb, "embedding", "auto_ivf", dir, "l2",
        nLists = 8, sourcePath = srcPath, defaultNprobe = 8)
      val df = topkDf(5)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("lists"), s"expected index-lists scan in:\n$plan")
      val got = df.collect().map(_.getLong(0)).toSeq
      val brute = VectorSearch.topK(emb, col("embedding"), qv, 5, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got === brute)
    } finally IvfIndex.Catalog.drop("auto_ivf")
  }

  test("tie-break sort keys no longer lose the index") {
    val dir = tempDir("ivf-ties").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      IvfIndex.build(spark, emb, "embedding", "ties_ivf", dir, "l2",
        nLists = 8, sourcePath = srcPath, defaultNprobe = 8)
      val df = emb.select(col("vec_id"),
          distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
        .orderBy(col("d"), col("vec_id")) // distance first + tie-break
        .limit(5)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("lists"), s"expected index-lists scan in:\n$plan")
      val brute = VectorSearch.topK(emb, col("embedding"), qv, 5, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(df.collect().map(_.getLong(0)).toSeq === brute)
    } finally IvfIndex.Catalog.drop("ties_ivf")
  }

  test("HNSWFLAT index routes the top-K through the graph search") {
    val dir = tempDir("hnsw-auto").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      graft.operators.HnswIndex.build(spark, emb, "vec_id", "embedding",
        "auto_hnsw", dir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(2), sourcePath = srcPath)
      val df = topkDf(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), s"expected candidate semi-join in:\n$plan")
      val got = df.collect().map(_.getLong(0)).toSet
      val brute = VectorSearch.topK(emb, col("embedding"), qv, 10, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert((got & brute).size >= 8, s"recall too low: ${(got & brute).size}/10")
      // filtered query routes through the graph with an accept mask
      // (no brute-force fallback): plan keeps the candidate semi-join,
      // every row qualifies, and recall vs filtered brute force holds
      val filtered = emb.filter(col("label") === 2)
        .select(col("vec_id"), col("label"),
          distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
        .orderBy(col("d")).limit(5)
      assert(filtered.queryExecution.executedPlan.toString.contains("Join"),
        "filtered HNSW query fell back to brute force")
      val fRows = filtered.collect()
      assert(fRows.forall(_.getInt(1) === 2))
      val fBrute = VectorSearch.topK(emb, col("embedding"), qv, 5, "l2",
          Some(col("label") === 2), "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val fGot = fRows.map(_.getLong(0)).toSet
      assert((fGot & fBrute).size >= 4,
        s"filtered recall too low: ${(fGot & fBrute).size}/5")
    } finally IvfIndex.Catalog.drop("auto_hnsw")
  }

  test("HNSWSQ index routes with candidate over-fetch + exact re-rank") {
    val dir = tempDir("hnswsq-auto").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      graft.operators.HnswIndex.build(spark, emb, "vec_id", "embedding",
        "auto_hnswsq", dir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(2), sourcePath = srcPath, quantize = true)
      val df = topkDf(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), s"expected candidate semi-join in:\n$plan")
      val got = df.collect().map(_.getLong(0)).toSet
      val brute = VectorSearch.topK(emb, col("embedding"), qv, 10, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      // quantized graph + 4k over-fetch + exact re-rank keeps recall high
      assert((got & brute).size >= 8, s"recall too low: ${(got & brute).size}/10")
    } finally IvfIndex.Catalog.drop("auto_hnswsq")
  }

  // family -> its build into (name, dir, source path)
  Seq[(String, (String, String, String) => Any)](
    "IVFSQ" -> ((name, dir, srcPath) => graft.operators.SqIndex.build(spark, emb,
      "vec_id", "embedding", name, dir, "l2", nLists = 8, sourcePath = srcPath,
      defaultNprobe = 8)),
    "IVFPQ" -> ((name, dir, srcPath) => graft.operators.PqIndex.build(spark, emb,
      "vec_id", "embedding", name, dir, "l2", nLists = 8, sourcePath = srcPath,
      defaultNprobe = 8))
  ).foreach { case (family, build) =>
    test(s"$family index routes through quantized stage-1 + exact re-rank") {
      val name = s"auto_${family.toLowerCase}"
      val dir = tempDir(name).toString
      val srcPath = "file:" + sfDir + "/embeddings.parquet"
      try {
        build(name, dir, srcPath)
        val df = topkDf(10)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("Join"), s"expected candidate semi-join in:\n$plan")
        val got = df.collect().map(_.getLong(0)).toSet
        val brute = VectorSearch.topK(emb, col("embedding"), qv, 10, "l2",
            None, "d", Seq(col("vec_id")))
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert((got & brute).size >= 9, s"recall: ${(got & brute).size}/10")
        // filtered query routes with the WHERE pushed into stage 1
        // (pre-filter semantics: candidates qualify before the reorder cut)
        val filtered = emb.filter(col("label") === 2)
          .select(col("vec_id"), col("label"),
            distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
          .orderBy(col("d")).limit(5)
        assert(filtered.queryExecution.executedPlan.toString.contains("Join"),
          s"filtered $family query fell back to brute force")
        val fRows = filtered.collect()
        assert(fRows.forall(_.getInt(1) === 2))
        val fBrute = VectorSearch.topK(emb, col("embedding"), qv, 5, "l2",
            Some(col("label") === 2), "d", Seq(col("vec_id")))
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert((fRows.map(_.getLong(0)).toSet & fBrute).size >= 4,
          s"filtered recall: ${(fRows.map(_.getLong(0)).toSet & fBrute).size}/5")
      } finally IvfIndex.Catalog.drop(name)
    }
  }

  test("selective filter routes and resolves exactly via exact-over-bitmap") {
    val dir = tempDir("hnsw-sel").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      graft.operators.HnswIndex.build(spark, emb, "vec_id", "embedding",
        "sel_hnsw", dir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(2), sourcePath = srcPath)
      // fewer qualifying rows than k: the per-part tasks see a tiny mask
      // at EXECUTION time and switch to exact scoring of accepted nodes —
      // routing stays (Join in the plan) and the result is exact, never
      // silently < k-capable
      val filtered = emb.filter(col("vec_id") < 3)
        .select(col("vec_id"),
          distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
        .orderBy(col("d")).limit(5)
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), s"expected routed candidate join in:\n$plan")
      assert(filtered.collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L))
    } finally IvfIndex.Catalog.drop("sel_hnsw")
  }

  test("accept mask past maxIds → exact overflow branch") {
    val dir = tempDir("hnsw-cap").toString
    try {
      HnswIndex.build(spark, emb, "vec_id", "embedding",
        "cap_hnsw", dir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(2))
      val e = emb
      val accept = e.filter(col("label") === 2) // ≫ 10 matching ids
        .select(col("vec_id").cast("long").as("id"))
      // the mask overflows at EXECUTION time; the runtime-gated branch
      // makes every qualifying id a candidate, so the exact re-rank
      // reproduces brute force bit-for-bit
      val cands = HnswIndex.searchWithAcceptDf(spark, dir, qv, numCand = 5,
          efCap = TopKSearchRewrite.EfCap, metric = "l2", acceptDf = accept,
          maxIds = 10, nRowsTotal = e.count())
        .select(col("id").as("vec_id"))
      assert(cands.count() === accept.count())
      val got = VectorSearch.rerank(e, "vec_id", "embedding", cands, qv, 5, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val fBrute = VectorSearch.topK(e, col("embedding"), qv, 5, "l2",
          Some(col("label") === 2), "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got === fBrute)
    } finally IvfIndex.Catalog.drop("cap_hnsw")
  }

  test("IVFFLAT routing runs NO Spark job during optimization") {
    val dir = tempDir("ivf-nojob").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      IvfIndex.build(spark, emb, "embedding", "nojob_ivf", dir, "l2",
        nLists = 8, sourcePath = srcPath, defaultNprobe = 3)
      val e = emb // force relation construction before listening
      qv // force the lazy query-vector collect before listening
      val (df, jobs) = jobsDuring {
        val d = e.select(col("vec_id"),
            distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
          .orderBy(col("d"), col("vec_id")).limit(5)
        // the probed lists used to be listed and schema-inferred here
        d.queryExecution.optimizedPlan
        d.queryExecution.executedPlan
        d
      }
      assert(jobs === 0, s"$jobs job(s) ran while the IVFFLAT route was planned")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("list_id"), s"expected the probed-lists scan in:\n$plan")
      // routed plan answers exactly like the API search at the same nprobe
      val want = IvfIndex.search(spark, dir, qv, 5, nprobe = 3, None, None,
          "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(df.collect().map(_.getLong(0)).toSeq === want)
    } finally IvfIndex.Catalog.drop("nojob_ivf")
  }

  test("filtered HNSW routing runs NO Spark job during optimization") {
    val dir = tempDir("hnsw-nojob").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      graft.operators.HnswIndex.build(spark, emb, "vec_id", "embedding",
        "nojob_hnsw", dir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(2), sourcePath = srcPath)
      val e = emb // force relation construction before listening
      qv // force the lazy query-vector collect before listening
      val (filtered, jobs) = jobsDuring {
        val f = e.filter(col("label") === 2)
          .select(col("vec_id"), col("label"),
            distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
          .orderBy(col("d")).limit(5)
        // force full optimization + physical planning — the phases where
        // the accept set used to be collect()ed
        f.queryExecution.optimizedPlan
        f.queryExecution.executedPlan
        f
      }
      assert(jobs === 0,
        s"$jobs job(s) ran during plan-time rewriting — the " +
          "accept mask must be built at execution time")
      // and the plan still routes + answers exactly like brute force
      val fBrute = VectorSearch.topK(emb, col("embedding"), qv, 5, "l2",
          Some(col("label") === 2), "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val fGot = filtered.collect().map(_.getLong(0)).toSet
      assert((fGot & fBrute).size >= 4,
        s"filtered recall too low: ${(fGot & fBrute).size}/5")
    } finally IvfIndex.Catalog.drop("nojob_hnsw")
  }

  test("multiple vector indexes on one table route per column (ref 00037)") {
    // two vector columns, each with its OWN index of a different type —
    // a query ranks by one column and must route to THAT column's index
    // (reference 00037_mqvs_select_multiple_vector_indices)
    val tmp = tempDir("multi-vec").toString
    val ivfDir = tempDir("mv-ivf").toString
    val hnswDir = tempDir("mv-hnsw").toString
    val src = tmp + "/emb2.parquet"
    emb.withColumn("embedding2",
        expr("transform(embedding, x -> x * cast(-1.0 as float) + cast(1.0 as float))"))
      .write.parquet(src)
    val two = spark.read.parquet(src)
    try {
      IvfIndex.build(spark, two, "embedding", "mv_ivf", ivfDir, "l2",
        nLists = 8, sourcePath = "file:" + src, defaultNprobe = 8)
      graft.operators.HnswIndex.build(spark, two, "vec_id", "embedding2",
        "mv_hnsw", hnswDir, "l2", m = 12, efConstruction = 80,
        numPartitions = Some(2), sourcePath = "file:" + src)
      val q1 = two.select(col("vec_id"),
          distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
        .orderBy(col("d")).limit(5)
      val p1 = q1.queryExecution.executedPlan.toString
      assert(p1.contains("lists") && !p1.contains("Join"),
        s"embedding query must route to ITS IVF index:\n${p1.take(600)}")
      val qv2: Seq[Float] = qv.map(x => -x + 1.0f)
      val q2 = two.select(col("vec_id"),
          distances.l2Distance(col("embedding2"), typedLit(qv2)).as("d"))
        .orderBy(col("d")).limit(5)
      val p2 = q2.queryExecution.executedPlan.toString
      assert(p2.contains("Join") && !p2.contains("lists"),
        s"embedding2 query must route to ITS HNSW index:\n${p2.take(600)}")
      // both answer correctly for their own column
      val brute1 = VectorSearch.topK(two, col("embedding"), qv, 5, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(q1.collect().map(_.getLong(0)).toSeq === brute1)
      val brute2 = VectorSearch.topK(two, col("embedding2"), qv2, 5, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got2 = q2.collect().map(_.getLong(0)).toSet
      assert((got2 & brute2).size >= 4, s"recall ${(got2 & brute2).size}/5")
    } finally {
      IvfIndex.Catalog.drop("mv_ivf")
      IvfIndex.Catalog.drop("mv_hnsw")
    }
  }

  test("source schema colliding with index-internal names never routes") {
    val tmp = tempDir("resv").toString
    val dir = tempDir("ivf-resv").toString
    val src = tmp + "/emb_resv.parquet"
    // a source column named `qcodes` would be clobbered inside the index
    // layout — the rewrite must leave the plain exact plan alone
    emb.withColumn("qcodes", lit(1)).write.parquet(src)
    try {
      IvfIndex.build(spark, spark.read.parquet(src), "embedding",
        "resv_ivf", dir, "l2", nLists = 8, sourcePath = "file:" + src,
        defaultNprobe = 8)
      val df = spark.read.parquet(src).select(col("vec_id"),
          distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
        .orderBy(col("d")).limit(5)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("lists"),
        s"reserved-name source must not route:\n$plan")
      assert(df.collect().length === 5)
    } finally IvfIndex.Catalog.drop("resv_ivf")
  }

  test("max_search_result_window caps distance-ranked limits") {
    spark.conf.set("spark.graft.maxSearchResultWindow", "100")
    try {
      val ex = intercept[Throwable] { topkDf(500).collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("max_search_result_window")), ex.toString)
      // at or below the cap: fine
      assert(topkDf(100).collect().length === 100)
    } finally spark.conf.unset("spark.graft.maxSearchResultWindow")
  }

  test("ORDER BY direction must match the metric (reference 00027)") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // distance metric sorted DESC → farthest-first, rejected
    val descL2 = emb.select(col("vec_id"),
        distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
      .orderBy(col("d").desc).limit(5)
    val ex1 = intercept[Throwable] { descL2.collect() }
    assert(msgs(ex1).exists(_.contains("rank ascending")), ex1.toString)
    // IP sorted ASC → least-similar-first, rejected
    val ascIp = emb.select(col("vec_id"),
        distances.dotProduct(col("embedding"), typedLit(qv)).as("d"))
      .orderBy(col("d").asc).limit(5)
    val ex2 = intercept[Throwable] { ascIp.collect() }
    assert(msgs(ex2).exists(_.contains("DESC")), ex2.toString)
    // CosineSim is a SIMILARITY: ASC rejected, DESC passes
    val ascSim = emb.select(col("vec_id"),
        distances.cosineSimilarity(col("embedding"), typedLit(qv)).as("s"))
      .orderBy(col("s").asc).limit(5)
    val ex3 = intercept[Throwable] { ascSim.collect() }
    assert(msgs(ex3).exists(_.contains("DESC")), ex3.toString)
    val descSim = emb.select(col("vec_id"),
        distances.cosineSimilarity(col("embedding"), typedLit(qv)).as("s"))
      .orderBy(col("s").desc).limit(5)
    assert(descSim.collect().length === 5)
    // correct directions pass; the check can be disabled
    assert(topkDf(5).collect().length === 5)
    spark.conf.set("spark.graft.checkOrderByDirection", "false")
    // fresh Dataset: Spark 4 caches a FAILED optimization phase per
    // QueryExecution, so the original frame would rethrow regardless
    val descL2Again = emb.select(col("vec_id"),
        distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
      .orderBy(col("d").desc).limit(5)
    try assert(descL2Again.collect().length === 5)
    finally spark.conf.unset("spark.graft.checkOrderByDirection")
  }

  test("metric mismatch leaves the plan untouched") {
    val dir = tempDir("ivf-cos").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      IvfIndex.build(spark, emb, "embedding", "cos_ivf", dir, "cosine",
        nLists = 4, sourcePath = srcPath, defaultNprobe = 4)
      // l2 query but cosine index → no swap
      val plan = topkDf(5).queryExecution.executedPlan.toString
      assert(!plan.contains("list_id"))
    } finally IvfIndex.Catalog.drop("cos_ivf")
  }

  test("pre-filter stays below the ranking after the swap") {
    val dir = tempDir("ivf-filter").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    try {
      IvfIndex.build(spark, emb, "embedding", "filt_ivf", dir, "l2",
        nLists = 8, sourcePath = srcPath, defaultNprobe = 8)
      val df = emb.filter(col("label") === 2)
        .select(col("vec_id"), col("label"),
          distances.l2Distance(col("embedding"), typedLit(qv)).as("d"))
        .orderBy(col("d")).limit(5)
      val rows = df.collect()
      assert(rows.forall(_.getInt(1) === 2))
      val brute = VectorSearch.topK(emb, col("embedding"), qv, 5, "l2",
          Some(col("label") === 2), "d", Seq.empty)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(rows.map(_.getLong(0)).toSet === brute)
    } finally IvfIndex.Catalog.drop("filt_ivf")
  }
}
