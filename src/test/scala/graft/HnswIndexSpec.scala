package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{HnswIndex, IndexArtifact, IvfIndex, VectorSearch}
import graft.plans.TopKSearchRewrite

class HnswIndexSpec extends SparkSpec {

  lazy val emb = Tables.t(spark, sfDir, "embeddings")
  lazy val qv: Seq[Float] = emb.filter(col("vec_id") === 5)
    .select(col("embedding")).head().getSeq[Float](0)

  lazy val indexDir: String = {
    val dir = tempDir("hnsw-spec").toString
    HnswIndex.build(spark, emb, "vec_id", "embedding", "spec_hnsw", dir,
      "l2", m = 8, efConstruction = 64, numPartitions = Some(4))
    dir
  }

  def bruteIds(k: Int): Seq[Long] =
    VectorSearch.topK(emb, col("embedding"), qv, k, "l2", None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("build writes per-partition graphs; catalog reports HNSWFLAT") {
    indexDir
    val g = spark.read.parquet(s"$indexDir/graph")
    assert(g.count() === emb.count()) // one row per vector
    assert(g.select("part_id").distinct().count() === 4)
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_hnsw").head()
    assert(cat.getAs[String]("indexType") === "HNSWFLAT")
  }

  test("search recall@10 vs brute force is high with generous ef") {
    val got = HnswIndex.search(spark, indexDir, qv, 10, ef = 128)
      .select("id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("search plan has no Exchange — the graph is never shuffled") {
    val plan = HnswIndex.search(spark, indexDir, qv, 10, ef = 128)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("batchSearch equals per-query single searches on the same graphs") {
    val qs = Seq(3L, 11L, 29L).map { id =>
      emb.filter(col("vec_id") === id).select(col("embedding"))
        .head().getSeq[Float](0)
    }
    val batch = HnswIndex.batchSearch(spark, indexDir, qs, 10, ef = 128,
        tieBreak = Seq(col("id")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getFloat(2)))
      .groupBy(_._1)
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = HnswIndex.search(spark, indexDir, q, 10, ef = 128)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
        .sortBy(x => (x._2, x._1))
      val got = batch(i).map(x => (x._2, x._3)).toSeq.sortBy(x => (x._2, x._1))
      assert(got === single, s"query $i batch != single")
    }
  }

  test("graph-cache eviction + reload returns identical top-K (r21 bounded LRU)") {
    val before = HnswIndex.search(spark, indexDir, qv, 10, ef = 128)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      .sortBy(x => (x._2, x._1))
    // simulate a budget eviction: every cached graph of this index drops,
    // the next search MUST reload from the parquet artifact
    HnswIndex.evictGraphsForTest(indexDir)
    val after = HnswIndex.search(spark, indexDir, qv, 10, ef = 128)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      .sortBy(x => (x._2, x._1))
    assert(after === before,
      "evicted-and-reloaded graphs changed the top-K")
  }

  test("accept filter (pre-filter / delete mask) is honored in-search") {
    val masked = bruteIds(5).toSet // delete the 5 nearest
    val accept = emb.filter(!col("vec_id").isin(masked.toSeq: _*))
      .select(col("vec_id").cast("long").as("id"))
    val got = HnswIndex.searchWithAcceptDf(spark, indexDir, qv, 10,
        TopKSearchRewrite.EfCap, "l2", accept,
        TopKSearchRewrite.DefaultMaxPrefilterIds, emb.count())
      .orderBy(col("d"), col("id")).limit(10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.intersect(masked).isEmpty)
    assert(got.size === 10)
    // with the nearest deleted, results should match brute force over the
    // surviving rows reasonably well
    val bruteSurvivors = VectorSearch.topK(
        emb.filter(!col("vec_id").isin(masked.toSeq: _*)),
        col("embedding"), qv, 10, "l2", None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteSurvivors).size / 10.0
    assert(recall >= 0.8, s"masked recall@10 = $recall")
  }

  // the replay oracles of v11/v17/v18/v31 score candidatePool in place of
  // search: the two must agree on every part kind
  Seq(("HNSWFLAT", false, 0L), ("HNSWSQ", true, 0L), ("gated HNSWFLAT", false, 100L))
    .foreach { case (kind, sq, minRows) =>
      test(s"$kind: search(k) is the top k of candidatePool by (d, id)") {
        val dir = tempDir("hnsw-pool").toString
        val n = emb.count()
        // two large parts and two of 25 rows, which the gate leaves unindexed
        val parts = emb.filter(col("vec_id") < n - 50).repartition(2)
          .unionAll(emb.filter(col("vec_id") >= n - 50).repartition(2))
        try {
          HnswIndex.build(spark, parts, "vec_id", "embedding", "pool_hnsw", dir,
            "l2", m = 8, efConstruction = 64, quantize = sq, minRowsToBuild = minRows)
          assert(Files.exists(java.nio.file.Paths.get(dir, "smallparts")) === (minRows > 0))
          Seq(5L, n - 10).foreach { qid =>
            val q = emb.filter(col("vec_id") === qid).select(col("embedding"))
              .head().getSeq[Float](0)
            def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Float)] =
              df.select("id", "d").collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
            val pool = rows(HnswIndex.candidatePool(spark, dir, q, 10, ef = 16))
              .sortBy(x => (x._2, x._1))
            assert(pool.size > 10)
            assert(rows(HnswIndex.search(spark, dir, q, 10, ef = 16)) === pool.take(10),
              s"query $qid")
          }
        } finally IvfIndex.Catalog.drop("pool_hnsw")
      }
    }

  test("reported distances match exact kernel values") {
    val rows = HnswIndex.search(spark, indexDir, qv, 5, ef = 128).collect()
    val byId = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { r =>
      val expect = graft.functions.VectorKernels
        .distance(byId(r.getLong(0)), qv.toArray, graft.functions.Metric.L2)
      assert(math.abs(r.getFloat(1) - expect) < 1e-5)
    }
  }

  test("HNSWSQ: quantized graph is ~4x smaller and keeps recall") {
    val dir = tempDir("hnswsq-spec").toString
    HnswIndex.build(spark, emb, "vec_id", "embedding", "spec_hnswsq", dir,
      "l2", m = 8, efConstruction = 64, numPartitions = Some(2), quantize = true)
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_hnswsq").head()
    assert(cat.getAs[String]("indexType") === "HNSWSQ")
    val g = spark.read.parquet(s"$dir/graph")
    assert(g.columns.contains("qvec") && !g.columns.contains("vec"))
    val got = HnswIndex.search(spark, dir, qv, 10, ef = 256)
      .select("id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.8, s"HNSWSQ recall@10 = $recall")
    IvfIndex.Catalog.drop("spec_hnswsq")
  }

  test("HNSWPQ: m-byte graph rows via product quantization keep recall") {
    val dir = tempDir("hnswpq-spec").toString
    HnswIndex.build(spark, emb, "vec_id", "embedding", "spec_hnswpq", dir,
      "l2", m = 8, efConstruction = 64, numPartitions = Some(2),
      pqSubspaces = 8)
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_hnswpq").head()
    assert(cat.getAs[String]("indexType") === "HNSWPQ")
    val g = spark.read.parquet(s"$dir/graph")
    assert(g.columns.contains("qvec"))
    assert(g.select(length(col("qvec"))).head().getInt(0) === 8) // m bytes
    // PQ reconstruction is coarse → the two-stage exact re-rank is the
    // intended read path (same shape as IVFPQ)
    val got = HnswIndex.searchTwoStage(spark, dir, emb, "vec_id", "embedding",
        qv, 10, numReorder = 60, ef = 256)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.7, s"HNSWPQ two-stage recall@10 = $recall")
    IvfIndex.Catalog.drop("spec_hnswpq")
  }

  test("deterministic rebuild produces identical graphs") {
    val d1 = tempDir("hnsw-d1").toString
    val d2 = tempDir("hnsw-d2").toString
    val single = emb.repartition(1)
    HnswIndex.build(spark, single, "vec_id", "embedding", "h1", d1, "l2", 8, 64)
    HnswIndex.build(spark, single, "vec_id", "embedding", "h2", d2, "l2", 8, 64)
    val g1 = spark.read.parquet(s"$d1/graph").orderBy("node_idx")
      .select("id", "neighbors").collect().map(_.toString).toSeq
    val g2 = spark.read.parquet(s"$d2/graph").orderBy("node_idx")
      .select("id", "neighbors").collect().map(_.toString).toSeq
    assert(g1 === g2)
    IvfIndex.Catalog.drop("h1"); IvfIndex.Catalog.drop("h2")
  }

  private def sortedRows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  Seq(("HNSWFLAT", false, 0), ("HNSWSQ", true, 0), ("HNSWPQ", false, 8))
    .foreach { case (t, sq, pq) =>
      test(s"$t: append builds new parts at insert time; search unions all parts") {
        val dir = tempDir(s"hnsw-append-$t").toString
        val name = s"append_${t.toLowerCase}"
        try {
          // build on the first half, append the second half
          val half1 = emb.filter(col("vec_id") % 2 === 0)
          val half2 = emb.filter(col("vec_id") % 2 === 1)
          HnswIndex.build(spark, half1, "vec_id", "embedding", name,
            dir, "l2", m = 8, efConstruction = 64, numPartitions = Some(2),
            quantize = sq, pqSubspaces = pq)
          val built = IndexArtifact.read(dir, classOf[HnswIndex.Meta])
          val quantizer = Seq("sq_params", "codebooks")
            .filter(d => Files.exists(java.nio.file.Paths.get(dir, d)))
            .map(d => d -> sortedRows(s"$dir/$d"))
          assert(quantizer.size === (if (t == "HNSWFLAT") 0 else 1))
          val partsBefore = spark.read.parquet(s"$dir/graph")
            .select("part_id").distinct().count()
          HnswIndex.append(spark, dir, name, half2, "vec_id",
            "embedding", "l2", m = 8, efConstruction = 64,
            numPartitions = Some(2))
          val g = spark.read.parquet(s"$dir/graph")
          assert(g.count() === emb.count())
          assert(g.select("part_id").distinct().count() === partsBefore + 2)
          if (quantizer.nonEmpty) {
            // appended parts carry codes of the stored quantizer: one byte
            // per dim (SQ) or per subspace (PQ)
            val lens = g.filter(col("part_id") >= partsBefore)
              .select(length(col("qvec"))).distinct().collect().map(_.getInt(0))
            assert(lens.toSeq === Seq(if (sq) qv.length else pq))
          }
          // every appended row is searchable: a self-query finds it
          Seq(1L, 101L, 201L, 301L, 401L).foreach { id =>
            val v = emb.filter(col("vec_id") === id).select(col("embedding"))
              .head().getSeq[Float](0)
            val got =
              if (pq > 0) HnswIndex.searchTwoStage(spark, dir, emb, "vec_id",
                  "embedding", v, 10, numReorder = 60, ef = 256)
                .select("vec_id").collect().map(_.getLong(0)).toSet
              else HnswIndex.search(spark, dir, v, 10, ef = 128)
                .select("id").collect().map(_.getLong(0)).toSet
            assert(got.contains(id), s"appended id $id missing from $got")
          }
          if (t == "HNSWFLAT") {
            val got = HnswIndex.search(spark, dir, qv, 10, ef = 128)
              .select("id").collect().map(_.getLong(0)).toSet
            val recall = (got & bruteIds(10).toSet).size / 10.0
            assert(recall >= 0.9, s"recall@10 after append = $recall")
          }
          // meta.json and the catalog count both halves; the build id and
          // the trained quantizer stay the build's
          val appended = IndexArtifact.read(dir, classOf[HnswIndex.Meta])
          assert(appended.meta.nRows === emb.count())
          assert(appended.buildId === built.buildId)
          quantizer.foreach { case (d, rows) => assert(sortedRows(s"$dir/$d") === rows, d) }
          assert(IvfIndex.Catalog.lookup(name).get.nRows === emb.count())
        } finally IvfIndex.Catalog.drop(name)
      }
    }

  test("cosine metric graph: recall vs brute-force cosine (ref 00014)") {
    val dir = tempDir("hnsw-cos").toString
    try {
      HnswIndex.build(spark, emb, "vec_id", "embedding", "cos_hnsw", dir,
        "cosine", m = 8, efConstruction = 64, numPartitions = Some(2))
      val got = HnswIndex.search(spark, dir, qv, 10, ef = 128, metric = "cosine")
        .select("id").collect().map(_.getLong(0)).toSet
      val brute = VectorSearch.topK(emb, col("embedding"), qv, 10, "cosine",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = (got & brute).size / 10.0
      assert(recall >= 0.9, s"cosine recall@10 = $recall")
    } finally IvfIndex.Catalog.drop("cos_hnsw")
  }

  test("min_rows gate: small parts skip graph build, stay searchable exactly") {
    val dir = tempDir("hnsw-gate").toString
    // skewed layout: 2 large parts + 2 tiny parts (union concatenates
    // partitions), so minRowsToBuild=100 gates exactly the tiny ones
    val n = emb.count()
    val big = emb.filter(col("vec_id") < n - 50).repartition(2)
    val small = emb.filter(col("vec_id") >= n - 50).repartition(2)
    try {
      HnswIndex.build(spark, big.unionAll(small), "vec_id", "embedding",
        "gate_hnsw", dir, "l2", m = 8, efConstruction = 64,
        minRowsToBuild = 100L)
      val segs = IvfIndex.Catalog.segmentsFor("gate_hnsw")
      val smallSegs = segs.filter(_.state == "SMALL_PART")
      assert(smallSegs.size === 2, segs.mkString(","))
      assert(smallSegs.map(_.nRows).sum === 50)
      assert(segs.filter(_.state == "BUILT").size === 2)
      // raw vectors live in smallparts/, not in the graph
      assert(spark.read.parquet(s"$dir/smallparts").count() === 50)
      assert(spark.read.parquet(s"$dir/graph").count() === n - 50)
      // catalog total covers BOTH regimes
      assert(IvfIndex.Catalog.lookup("gate_hnsw").get.nRows === n)
      // a query whose true neighbors live in a gated part still finds
      // them — small parts are brute-forced exactly, never dropped
      val qSmall: Seq[Float] = emb.filter(col("vec_id") === n - 10)
        .select(col("embedding")).head().getSeq[Float](0)
      val got = HnswIndex.search(spark, dir, qSmall, 10, ef = 128)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got.contains(n - 10), s"self-match missing from $got")
      val brute = VectorSearch.topK(emb, col("embedding"), qSmall, 10, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert((got & brute).size >= 8, s"gated recall@10 = ${(got & brute).size}")
    } finally IvfIndex.Catalog.drop("gate_hnsw")
  }

  test("append after a gated build numbers new parts past the small parts") {
    val dir = tempDir("hnsw-gate-append").toString
    val n = emb.count()
    // graph parts 0 and 1, small parts 2 and 3, then two appended parts
    val big = emb.filter(col("vec_id") < n - 150).repartition(2)
    val small = emb.filter(col("vec_id") >= n - 150 && col("vec_id") < n - 100)
      .repartition(2)
    try {
      HnswIndex.build(spark, big.unionAll(small), "vec_id", "embedding",
        "gate_append", dir, "l2", m = 8, efConstruction = 64,
        minRowsToBuild = 100L)
      HnswIndex.append(spark, dir, "gate_append",
        emb.filter(col("vec_id") >= n - 100), "vec_id", "embedding", "l2",
        m = 8, efConstruction = 64, numPartitions = Some(2))
      val graphParts = spark.read.parquet(s"$dir/graph").select("part_id")
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
      assert(graphParts === Seq(0, 1, 4, 5))
      val segs = IvfIndex.Catalog.segmentsFor("gate_append")
      assert(segs.filter(_.state == "SMALL_PART").map(_.segmentId) === Seq(2, 3),
        segs.mkString(","))
      assert(segs.map(_.nRows).sum === n, segs.mkString(","))
      val got = HnswIndex.search(spark, dir, qv, 500, ef = 500)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got.sorted === (0L until n))
    } finally IvfIndex.Catalog.drop("gate_append")
  }

  test("append to an index whose every part was gated") {
    val dir = tempDir("hnsw-all-small").toString
    try {
      HnswIndex.build(spark, emb.filter(col("vec_id") < 100), "vec_id",
        "embedding", "all_small", dir, "l2", m = 8, efConstruction = 64,
        numPartitions = Some(2), minRowsToBuild = 1000L)
      HnswIndex.append(spark, dir, "all_small",
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 200), "vec_id",
        "embedding", "l2", m = 8, efConstruction = 64, numPartitions = Some(2))
      val segs = IvfIndex.Catalog.segmentsFor("all_small")
      assert(segs.map(s => (s.segmentId, s.state)) ===
        Seq(0 -> "SMALL_PART", 1 -> "SMALL_PART", 2 -> "BUILT", 3 -> "BUILT"))
      assert(IvfIndex.Catalog.lookup("all_small").get.nRows === 200L)
      val got = HnswIndex.search(spark, dir, qv, 200, ef = 200)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got.sorted === (0L until 200L))
    } finally IvfIndex.Catalog.drop("all_small")
  }

  test("an in-place rebuild drops the previous build's small parts") {
    val dir = tempDir("hnsw-rebuild").toString
    val evens = emb.filter(col("vec_id") % 2 === 0)
    try {
      // build A: even ids, the ids >= 400 fall under the gate
      HnswIndex.build(spark,
        evens.filter(col("vec_id") < 400).repartition(2)
          .unionAll(evens.filter(col("vec_id") >= 400).repartition(2)),
        "vec_id", "embedding", "rebuild_hnsw", dir, "l2", m = 8,
        efConstruction = 64, minRowsToBuild = 50L)
      assert(Files.exists(java.nio.file.Paths.get(dir, "smallparts")))
      // build B in the same directory: odd ids, nothing gated
      HnswIndex.build(spark, emb.filter(col("vec_id") % 2 === 1), "vec_id",
        "embedding", "rebuild_hnsw", dir, "l2", m = 8, efConstruction = 64,
        numPartitions = Some(2))
      val q = emb.filter(col("vec_id") === 450).select(col("embedding"))
        .head().getSeq[Float](0)
      val got = HnswIndex.search(spark, dir, q, 20, ef = 128)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got.size === 20)
      assert(got.distinct.size === got.size, got.mkString(","))
      assert(got.forall(_ % 2 == 1), got.mkString(","))
    } finally IvfIndex.Catalog.drop("rebuild_hnsw")
  }

  test("HNSWSQ and HNSWPQ searches after a build run no Spark job while built") {
    Seq((true, 0), (false, 8)).foreach { case (sq, pq) =>
      val dir = tempDir("hnsw-warm").toString
      try {
        HnswIndex.build(spark, emb, "vec_id", "embedding", "warm_hnsw", dir,
          "l2", m = 8, efConstruction = 32, numPartitions = Some(2),
          quantize = sq, pqSubspaces = pq)
        val (_, jobs) = jobsDuring(HnswIndex.search(spark, dir, qv, 10))
        assert(jobs === 0, s"quantize=$sq pqSubspaces=$pq")
      } finally IvfIndex.Catalog.drop("warm_hnsw")
    }
  }
}
