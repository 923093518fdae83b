package graft

import org.apache.spark.sql.functions._

import graft.operators.HybridSearch

class HybridSearchSpec extends SparkSpec {
  import spark.implicits._

  // vector candidates: (id, dist) ascending-better; text: (id, bm25) desc-better
  lazy val vec = Seq((1L, 0.1), (2L, 0.5), (3L, 0.9)).toDF("id", "dist")
  lazy val txt = Seq((2L, 8.0), (3L, 4.0), (4L, 2.0)).toDF("id", "bm25")

  test("RSF mirrors the reference formula (min-max, flipped ascending distance)") {
    val got = HybridSearch.rsf(vec, txt, "id", "dist", "bm25", 10,
        fusionWeight = 0.5, distAscending = true, "f", Seq(col("id")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // norm_dist: (d-0.1)/0.8 → id1: 0, id2: 0.5, id3: 1; flipped → 1, .5, 0; ×0.5
    // norm_bm25: (b-2)/6 → id2: 1, id3: 1/3, id4: 0; ×0.5
    assert(math.abs(got(1L) - 0.5) < 1e-9)
    assert(math.abs(got(2L) - (0.25 + 0.5)) < 1e-9)
    assert(math.abs(got(3L) - (0.0 + 1.0 / 6)) < 1e-9)
    assert(math.abs(got(4L) - 0.0) < 1e-9)
  }

  test("RSF all-equal list normalizes to 1.0 (reference :299-304)") {
    val v1 = Seq((1L, 0.3), (2L, 0.3)).toDF("id", "dist")
    val got = HybridSearch.rsf(v1, txt, "id", "dist", "bm25", 10,
        0.5, distAscending = true, "f", Seq(col("id")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // norm=1.0 → flipped = 0 → vector term contributes 0
    assert(math.abs(got(1L) - 0.0) < 1e-9)
  }

  test("RRF sums 1/(k+rank) across both lists") {
    val got = HybridSearch.rrf(vec, txt, "id", "dist", "bm25", 10,
        rrfK = 60, distAscending = true, "f", Seq(col("id")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 1.0 / 61) < 1e-12)          // vec rank 1 only
    assert(math.abs(got(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-12) // vec 2, txt 1
    assert(math.abs(got(3L) - (1.0 / 63 + 1.0 / 62)) < 1e-12)
    assert(math.abs(got(4L) - 1.0 / 63) < 1e-12)
  }

  test("hybridSearch end-to-end on documents × embeddings") {
    val joined = graft.engine.Tables.t(spark, sfDir, "documents")
      .join(graft.engine.Tables.t(spark, sfDir, "embeddings"),
        col("doc_id") === col("vec_id"))
    val qvec = graft.engine.Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0)
    val res = HybridSearch.hybridSearch(joined, "doc_id", col("embedding"),
      col("text"), qvec, "spark join", 5, "rsf", "cosine").collect()
    assert(res.length === 5)
    val scores = res.map(_.getDouble(1))
    assert(scores === scores.sorted.reverse) // descending fused score
  }

  test("indexed hybrid search runs NO Spark job while it is built and planned") {
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val joined = docs.join(emb, col("doc_id") === col("vec_id"))
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val ftsDir = tempDir("hyb-nojob-fts").toString
    try {
      graft.operators.FtsIndex.build(spark, joined, "doc_id", "text",
        "hyb_nojob_fts", ftsDir, nBuckets = 64)
      val (fused, jobs) = jobsDuring {
        val f = HybridSearch.hybridSearchIndexed(joined, "doc_id",
          col("embedding"), qvec, "spark merge join", 10, ftsDir, "rsf", "cosine")
        f.queryExecution.executedPlan
        f
      }
      // FTS listing/inference/df and the two RSF min/max heads used to
      // run jobs here
      assert(jobs === 0, s"$jobs job(s) ran while the hybrid search was built")
      val direct = HybridSearch.hybridSearch(joined, "doc_id",
          col("embedding"), col("text"), qvec, "spark merge join", 10,
          "rsf", "cosine")
        .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e9)).toSeq
      assert(fused.collect()
        .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e9)).toSeq === direct)
    } finally graft.operators.FtsIndex.Catalog.drop("hyb_nojob_fts")
  }

  test("fully-indexed hybrid at realistic dense_nprobe recalls the direct path") {
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val joined = docs.join(emb, col("doc_id") === col("vec_id"))
    val qvec = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val ivfDir = tempDir("hyb-ivf").toString
    val ftsDir = tempDir("hyb-fts").toString
    try {
      graft.operators.IvfIndex.build(spark, emb, "embedding",
        "hyb_spec_ivf", ivfDir, "cosine", 16)
      graft.operators.FtsIndex.build(spark, joined, "doc_id", "text",
        "hyb_spec_fts", ftsDir, nBuckets = 64)
      val direct = HybridSearch.hybridSearch(joined, "doc_id",
          col("embedding"), col("text"), qvec, "spark merge join", 10,
          "rsf", "cosine")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // exhaustive dense probes reproduce the direct path exactly
      val exact = HybridSearch.hybridSearchFullyIndexed(spark, "doc_id",
          "vec_id", qvec, "spark merge join", 10, ivfDir, ftsDir, "rsf",
          denseNprobe = 16)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(exact === direct)
      // realistic nprobe keeps high overlap with the direct top-k
      val approx = HybridSearch.hybridSearchFullyIndexed(spark, "doc_id",
          "vec_id", qvec, "spark merge join", 10, ivfDir, ftsDir, "rsf",
          denseNprobe = 6)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert((approx & direct).size >= 8, s"overlap ${(approx & direct).size}")
    } finally {
      graft.operators.IvfIndex.Catalog.drop("hyb_spec_ivf")
      graft.operators.FtsIndex.Catalog.drop("hyb_spec_fts")
    }
  }
}
