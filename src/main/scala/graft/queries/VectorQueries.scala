package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables.t
import graft.operators.{BinaryHnswIndex, BinaryIvfIndex, HnswIndex, IvfIndex, PqIndex, SqIndex, VectorSearch}
import graft.plans.TopKSearchRewrite

/** Vector-search coverage (SURVEY §2.1): distance() top-K per metric,
  * pre-filtered search, batch_distance, two-stage re-rank. Oracles use
  * DuckDB's float32 list kernels (list_distance / list_cosine_similarity /
  * list_inner_product), matching our Float32-accumulating kernels.
  */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The query vector is row vec_id=0's embedding — fetched at run time
    * on both sides (scalar subquery in the oracle) so no literals drift.
    * Memoized per (dir, id): the table is immutable test data and a
    * dozen queries share the same vector, so the one-row lookup job
    * runs once per JVM instead of once per query (v33 alone re-enters
    * ten query bodies).
    */
  private val queryVecs =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Seq[Float]]
  private def queryVec(s: SparkSession, dir: String, id: Long = 0L): Seq[Float] =
    queryVecs.getOrElseUpdate((dir, id),
      t(s, dir, "embeddings").filter(col("vec_id") === id)
        .select(col("embedding")).head().getSeq[Float](0))

  private def emb(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  private def ivfDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-ivf", dir)(idx => IvfIndex.build(s, emb(s, dir),
      "embedding", IndexFixtures.name("ivf_embeddings", dir), idx, "l2", 16))
  private def hnswDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-hnsw", dir)(idx => HnswIndex.build(s, emb(s, dir),
      "vec_id", "embedding", IndexFixtures.name("hnsw_embeddings", dir), idx,
      "l2", m = 12, efConstruction = 80, numPartitions = Some(4)))
  private def ivfCosDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-ivf-cos", dir)(idx => IvfIndex.build(s, emb(s, dir),
      "embedding", IndexFixtures.name("ivfcos_embeddings", dir), idx, "cosine", 16))
  private def sqDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-ivfsq", dir)(idx => SqIndex.build(s, emb(s, dir),
      "vec_id", "embedding", IndexFixtures.name("ivfsq_embeddings", dir), idx, "l2", 16))
  private def hnswSqDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-hnswsq", dir)(idx => HnswIndex.build(s, emb(s, dir),
      "vec_id", "embedding", IndexFixtures.name("hnswsq_embeddings", dir), idx,
      "l2", m = 12, efConstruction = 80, numPartitions = Some(4), quantize = true))
  private def hnswPqDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-hnswpq", dir)(idx => HnswIndex.build(s, emb(s, dir),
      "vec_id", "embedding", IndexFixtures.name("hnswpq_embeddings", dir), idx,
      "l2", m = 12, efConstruction = 80, numPartitions = Some(4), pqSubspaces = 8))
  private def pqDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-ivfpq", dir)(idx => PqIndex.build(s, emb(s, dir),
      "vec_id", "embedding", IndexFixtures.name("ivfpq_embeddings", dir), idx, "l2",
      nLists = 16, m = 8))
  private def mstgDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-mstg", dir)(idx => graft.operators.MstgIndex.build(s,
      emb(s, dir), "embedding", IndexFixtures.name("mstg_embeddings", dir), idx,
      params = Seq("disk_mode=1", "metric_type=L2"), nLists = 16))
  /** Binary corpus: deterministic 16-byte vectors from document text
    * (same derivation as v10, so the two stay comparable).
    */
  private def bvecs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), unhex(md5(col("text"))).as("bvec"))
  private def bhnswDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-bhnsw", dir)(idx => BinaryHnswIndex.build(s,
      bvecs(s, dir), "doc_id", "bvec", IndexFixtures.name("bhnsw_documents", dir), idx,
      m = 12, efConstruction = 80, numPartitions = Some(4)))
  private def bivfDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-bivf", dir)(idx => BinaryIvfIndex.build(s,
      bvecs(s, dir), "doc_id", "bvec", IndexFixtures.name("bivf_documents", dir), idx,
      nLists = 16))
  /** Row doc_id = 0's binary code: the query of the binary index paths. */
  private def bquery(s: SparkSession, dir: String): Array[Byte] =
    bvecs(s, dir).filter(col("doc_id") === 0).select("bvec").head().getAs[Array[Byte]](0)

  /** v26's filtered HNSW candidates over `e`: the accept set `label = 3`
    * is a lazy id frame, aggregated at execution time.
    */
  private def prefilterHnswCands(s: SparkSession, dir: String, e: DataFrame): DataFrame = {
    val idx = hnswDir(s, dir)
    val nRows = IvfIndex.Catalog.lookup(IndexFixtures.name("hnsw_embeddings", dir))
      .map(_.nRows).getOrElse(0L)
    HnswIndex.searchWithAcceptDf(s, idx, queryVec(s, dir), 10,
        efCap = TopKSearchRewrite.EfCap, metric = "l2",
        acceptDf = e.filter(col("label") === 3).select(col("vec_id").cast("long").as("id")),
        maxIds = TopKSearchRewrite.DefaultMaxPrefilterIds, nRowsTotal = nRows)
      .select(col("id").as("vec_id"))
  }

  val queries: Map[String, Q] = Map(
    // `SELECT id, distance(v, q) AS d ... ORDER BY d LIMIT k` — L2.
    "v01_l2_topk" -> ((s, dir) => {
      VectorSearch.topK(emb(s, dir), col("embedding"), queryVec(s, dir), 10,
          "l2", None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Cosine metric (00014_* tests in the reference).
    "v02_cosine_topk" -> ((s, dir) => {
      VectorSearch.topK(emb(s, dir), col("embedding"), queryVec(s, dir, 1), 10,
          "cosine", None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // IP metric ranks DESCENDING (larger inner product = closer).
    "v03_ip_topk" -> ((s, dir) => {
      VectorSearch.topK(emb(s, dir), col("embedding"), queryVec(s, dir, 2), 10,
          "ip", None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Pre-filter semantics: WHERE evaluated BEFORE the search → top-K is
    // exact among qualifying rows (reference tests 00003/00009-00011).
    "v04_prefilter_topk" -> ((s, dir) => {
      VectorSearch.topK(emb(s, dir), col("embedding"), queryVec(s, dir), 10,
          "l2", Some(col("label") === 3), "d", Seq(col("vec_id")))
        .select(col("vec_id"), col("label"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // batch_distance(): 3 query vectors, per-query top-5
    // (`LIMIT n BY dist.1` in the reference).
    "v05_batch_distance" -> ((s, dir) => {
      val qs = Seq(queryVec(s, dir, 0), queryVec(s, dir, 1), queryVec(s, dir, 2))
      VectorSearch.batchTopK(emb(s, dir), col("embedding"), qs, 5, "l2", None,
          "d", Seq(col("vec_id")))
        .select(col("query_idx"), col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("query_idx"), col("vec_id"))
    }),
    // batch_distance THROUGH the IVF index: per-query probe lists, ONE
    // scan of the probed list partitions for the whole batch, broadcast
    // probe-map join, per-query heap-pruned top-K. nprobe=16 probes
    // every list ⇒ exhaustive-exact ⇒ shares v05's brute-force oracle.
    "v29_batch_ivf" -> ((s, dir) => {
      val qs = Seq(queryVec(s, dir, 0), queryVec(s, dir, 1), queryVec(s, dir, 2))
      IvfIndex.batchSearch(s, ivfDir(s, dir), qs, 5, nprobe = 16,
          distName = "d", tieBreak = Seq(col("vec_id")))
        .select(col("query_idx"), col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("query_idx"), col("vec_id"))
    }),
    // Two-stage search (test 00035): cheap stage-1 candidates, exact
    // re-rank — must equal exact brute force when stage 1 is lossless.
    "v06_two_stage" -> ((s, dir) => {
      VectorSearch.twoStageTopK(emb(s, dir), col("embedding"), queryVec(s, dir),
          10, 50, "l2", None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // IVF index search, exhaustive probes (nprobe = nLists) → exact:
    // index build + partition-pruned scan must reproduce brute force.
    "v08_ivf_exact" -> ((s, dir) => {
      IvfIndex.search(s, ivfDir(s, dir), queryVec(s, dir), 10,
          nprobe = 16, None, None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // IVF approximate search (nprobe=4 of 16 lists) — EXACT replay
    // oracle since round 15: the per-row list assignment + the probe set
    // are exported as VALUES and DuckDB computes the same
    // nprobe-restricted top-K (recall additionally measured in ScalaTest
    // and gated by v33).
    "v09_ivf_nprobe" -> ((s, dir) => {
      IvfIndex.search(s, ivfDir(s, dir), queryVec(s, dir), 10,
          nprobe = 4, None, None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Binary vector search (FixedString → BinaryType): 16-byte vectors
    // derived deterministically from document text (unhex(md5)), Hamming
    // top-K. Exact oracle: byte-level Hamming ≡ per-hex-digit xor
    // popcount of the md5 hex string (kernel parity also in DistanceSpec).
    "v10_binary_hamming" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), unhex(md5(col("text"))).as("bvec"))
      val q = docs.filter(col("doc_id") === 0).select("bvec").head().getAs[Array[Byte]](0)
      docs
        .withColumn("d", graft.functions.distances.hammingDistance(
          col("bvec"), lit(q)))
        .orderBy(col("d"), col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("d").cast("double").as("d"))
        .orderBy(col("doc_id"))
    }),
    // batch_distance() over BINARY vectors (reference
    // 00038_mqvs_binary_vector_feature.sql: `batch_distance(vector,
    // [unbin(...), char(...), unhex(...)])` + `LIMIT n BY dist.1`, Hamming
    // kernel): three md5-digest query codes, per-query top-10. Hamming is
    // integer-valued — exact oracle, no rounding.
    "v38_batch_binary" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), unhex(md5(col("text"))).as("bvec"))
      val qs = docs.filter(col("doc_id") < 3).orderBy(col("doc_id"))
        .collect().map(_.getAs[Array[Byte]]("bvec")).toSeq
      VectorSearch.batchTopKBinary(docs, col("bvec"), qs, 10, "hamming", None,
          "d", Seq(col("doc_id")))
        .select(col("query_idx"), col("doc_id"), col("d").cast("double").as("d"))
        .orderBy(col("query_idx"), col("doc_id"))
    }),
    // HNSW-FLAT graph index search (per-partition graphs + global merge).
    // EXACT candidate-pool replay oracle since round 16: each part's
    // pre-truncation ef-beam (the index's whole decision, ref
    // MergeTreeVSManager.cpp:449-460 stage split) is exported as VALUES
    // and DuckDB recomputes the exact top-K restricted to the pool —
    // pinning kernel/rounding/tie-break parity; graph-traversal quality
    // itself stays covered by the v33 recall gates + HnswIndexSpec.
    "v11_hnsw_search" -> ((s, dir) => {
      HnswIndex.search(s, hnswDir(s, dir), queryVec(s, dir), 10, ef = 128)
        .select(col("id").as("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Pre-filter INSIDE the IVF index search (reference tests
    // 00003/00009-00011 with an index present): exhaustive probes ⇒ the
    // filtered top-K is exact, so it shares v04's brute-force oracle.
    "v12_prefilter_ivf" -> ((s, dir) => {
      IvfIndex.search(s, ivfDir(s, dir), queryVec(s, dir), 10,
          nprobe = 16, None, Some(col("label") === 3), "d", Seq(col("vec_id")))
        .select(col("vec_id"), col("label"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Lightweight-delete mask applied inside the IVF index search
    // (reference 00037_mqvs_multiple_lwd.sql): rows deleted AFTER the
    // index build must not surface. Exhaustive probes ⇒ exact oracle.
    "v13_lwd_index_search" -> ((s, dir) => {
      val deleted = graft.operators.Deletes
        .delete(emb(s, dir), col("vec_id") % 7 === 0)
        .filter(col(graft.operators.Deletes.MaskCol))
        .select(col("vec_id"))
      IvfIndex.search(s, ivfDir(s, dir), queryVec(s, dir), 10,
          nprobe = 16, None, None, "d", Seq(col("vec_id")),
          deletes = Some(deleted))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // IVFSQ (int8 scalar quantization) two-stage search: quantized
    // stage-1 ranking over 1-byte/dim codes, exact float re-rank
    // (reference 00013_mqvs_index_ivfsq_*). EXACT replay oracle since
    // round 15: the stage-1 candidate set (numReorder ids, the index's
    // whole decision) is exported as VALUES and DuckDB re-ranks it with
    // its own exact kernel — stage 2 IS exact top-K over that set.
    "v14_ivfsq" -> ((s, dir) => {
      SqIndex.search(s, sqDir(s, dir), emb(s, dir), queryVec(s, dir), 10,
          numReorder = 50, nprobe = 16, None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // HNSWSQ: graph index over int8-quantized vectors (4x smaller graph
    // files). EXACT replay oracle since round 16: the reported distances
    // are to the DEQUANTIZED points, so the export carries each pool
    // candidate's dequantized vector and DuckDB recomputes the same
    // quantized-space top-K — verifying the SQ decode + kernel +
    // tie-break, given the index's decision (pool + codes). Recall vs
    // exact floats stays in HnswIndexSpec + v33.
    "v17_hnswsq" -> ((s, dir) => {
      HnswIndex.search(s, hnswSqDir(s, dir), queryVec(s, dir), 10, ef = 128)
        .select(col("id").as("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // HNSWPQ: product-quantized graph + two-stage exact re-rank (the
    // intended read path for PQ graphs). EXACT replay oracle since round
    // 16: stage 2 is exact top-K over the stage-1 candidate set, so the
    // candidate ids (the quantized graph's whole decision — the v14/v16
    // pattern) are exported and DuckDB re-ranks them with its own exact
    // kernel. Recall in spec + v33.
    "v19_hnswpq" -> ((s, dir) => {
      HnswIndex.searchTwoStage(s, hnswPqDir(s, dir), emb(s, dir),
          "vec_id", "embedding", queryVec(s, dir), 10,
          numReorder = 60, ef = 256, "l2", "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // IVFPQ: product quantization (m=8 bytes/vector, 32x vs float32) with
    // per-query ADC lookup tables + exact re-rank. EXACT replay oracle
    // since round 15 (same stage-1-candidate export as v14); recall also
    // in PqIndexSpec + v33.
    "v16_ivfpq" -> ((s, dir) => {
      PqIndex.search(s, pqDir(s, dir), emb(s, dir), queryVec(s, dir), 10,
          numReorder = 50, nprobe = 16, None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // BinaryIVF: k-majority bit centroids + Hamming nprobe search
    // (reference 00038_mqvs_binary_vector_feature.sql). nprobe=8 of 16 —
    // genuinely approximate (v22 is the exhaustive-exact twin). EXACT
    // replay oracle since round 15: assignment + probe set exported, the
    // restricted Hamming top-K recomputed from md5 hex digits (the v10/
    // v22 kernel-parity trick). Recall vs brute Hamming in BinaryIvfSpec.
    "v15_binary_ivf" -> ((s, dir) => {
      BinaryIvfIndex.search(s, bivfDir(s, dir), bquery(s, dir), 10,
          nprobe = 8, None, "d", Seq(col("doc_id")))
        .select(col("doc_id"), col("d").cast("double").as("d"))
        .orderBy(col("doc_id"))
    }),
    // BinaryHNSW: graph search over bit vectors (L2² of 0/1 floats ==
    // Hamming, reusing the whole HNSW machinery). EXACT replay oracle
    // since round 16: pool export + restricted Hamming top-K recomputed
    // from md5 hex digits (the v10/v22 kernel-parity trick) — binary SQ
    // dequantization is exact (0→0, 255→1.0f), so beam distances ARE
    // true Hamming and the pool top-K equals the merged result. Recall +
    // integer-exact distances in BinaryHnswSpec.
    "v18_binary_hnsw" -> ((s, dir) => {
      BinaryHnswIndex.search(s, bhnswDir(s, dir), bquery(s, dir), 10, ef = 128)
        .select(col("id").as("doc_id"), col("d").cast("double").as("d"))
        .orderBy(col("doc_id"))
    }),
    // COSINE-metric IVF, exhaustive probes → exact (shares v02's brute
    // oracle): probe selection must rank centroids by the INDEX metric
    // (centroidDist cosine branch) — an L2-probed cosine index silently
    // loses recall, which is exactly what this query pins down.
    "v25_ivf_cosine_exact" -> ((s, dir) => {
      IvfIndex.search(s, ivfCosDir(s, dir), queryVec(s, dir, 1), 10,
          nprobe = 16, None, None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // distance() over a JOINed table (reference
    // 00026_mqvs_support_distance_on_right_joined_table): the search
    // column comes from the right side of an equi-join; brute-force
    // top-K over the join output — the same TakeOrderedAndProject, with
    // the join shuffling BEFORE the k-row merge.
    "v28_join_distance" -> ((s, dir) => {
      val joined = emb(s, dir)
        .join(t(s, dir, "documents"), col("vec_id") === col("doc_id"))
      VectorSearch.topK(joined, col("embedding"), queryVec(s, dir), 10,
          "l2", None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), col("lang"),
          (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // batch_distance THROUGH the HNSW graphs: one graph load per part
    // serves the whole batch (the reference's batch path amortizes
    // per-part index instances the same way). EXACT replay oracle since
    // round 16: per-query candidate pools exported, DuckDB recomputes
    // each query's restricted top-5. HnswIndexSpec additionally asserts
    // batch ≡ the same graph's single-query searches exactly.
    "v31_batch_hnsw" -> ((s, dir) => {
      val qs = Seq(queryVec(s, dir, 0), queryVec(s, dir, 1), queryVec(s, dir, 2))
      HnswIndex.batchSearch(s, hnswDir(s, dir), qs, 5, ef = 128,
          tieBreak = Seq(col("id")))
        .select(col("query_idx"), col("id").as("vec_id"),
          (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("query_idx"), col("vec_id"))
    }),
    // Index-accelerated twin of v28 (same reference JOIN shape): the
    // dense side feeds the join from its PROBED IVF lists instead of a
    // full scan — nprobe = nLists ⇒ exact, shares v28's oracle shape.
    "v30_join_distance_ivf" -> ((s, dir) => {
      IvfIndex.searchJoined(s, ivfDir(s, dir), queryVec(s, dir), 10,
          broadcast(t(s, dir, "documents")), col("vec_id") === col("doc_id"),
          nprobe = 16, distName = "d", tieBreak = Seq(col("vec_id")))
        .select(col("vec_id"), col("lang"),
          (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // MSTG DDL stand-in (reference 00028_mqvs_index_mstg_build_search):
    // TYPE MSTG('disk_mode=1','metric_type=L2') with full parameter
    // validation, searched with the public `alpha` knob. alpha=4 probes
    // every list ⇒ exact — shares the brute-force oracle.
    "v27_mstg_search" -> ((s, dir) => {
      graft.operators.MstgIndex.search(s, mstgDir(s, dir),
          queryVec(s, dir), 10, params = Seq("alpha=4"),
          preFilter = None, distName = "d", tieBreak = Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Pre-filtered HNSW search with the accept set computed AT EXECUTION
    // TIME (reference performPrefilter builds its bitmap during
    // execution): the WHERE is a lazy id frame aggregated into a mask
    // stage of the same job — no driver-side collect — and each graph
    // task picks masked-traversal / exact-over-bitmap / overflow from
    // the materialized mask. Approximate → rows-only; the
    // Catalyst-rewrite twin is plan- and no-job-asserted in
    // TopKRewriteSpec. EXACT replay oracle since round 16: the final
    // stage is exact top-K over (filter ∧ candidate set), so exporting
    // the candidate ids lets DuckDB recompute the same restricted
    // filtered top-K (the pool rows are already accept-masked; the
    // label predicate is repeated in the oracle for faithfulness).
    "v26_prefilter_hnsw" -> ((s, dir) => {
      val e = emb(s, dir)
      VectorSearch.topK(e.filter(col("label") === 3)
          .join(prefilterHnswCands(s, dir, e), Seq("vec_id"), "left_semi"),
          col("embedding"), queryVec(s, dir), 10, "l2", None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // IVFSQ in EXACT mode: exhaustive probes + full re-rank. The true
    // top-K can't fall below the reorder cut, so the quantized storage +
    // ADC + two-stage machinery must reproduce brute force bit-for-bit —
    // shares v08's oracle. (Realistic nprobe/numReorder configs stay
    // covered by v14 + recall specs.)
    "v20_ivfsq_exact" -> ((s, dir) => {
      SqIndex.search(s, sqDir(s, dir), emb(s, dir), queryVec(s, dir), 10,
          numReorder = 1 << 20, nprobe = 16, None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // IVFPQ in EXACT mode (same argument as v20) — shares v08's oracle.
    "v21_ivfpq_exact" -> ((s, dir) => {
      PqIndex.search(s, pqDir(s, dir), emb(s, dir), queryVec(s, dir), 10,
          numReorder = 1 << 20, nprobe = 16, None, "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // BinaryIVF with exhaustive probes: distances are true Hamming (the
    // bucketing never alters them), so exhaustive probing IS exact —
    // shares v10's hex-digit-popcount oracle.
    "v22_binary_ivf_exact" -> ((s, dir) => {
      BinaryIvfIndex.search(s, bivfDir(s, dir), bquery(s, dir), 10,
          nprobe = 16, None, "d", Seq(col("doc_id")))
        .select(col("doc_id"), col("d").cast("double").as("d"))
        .orderBy(col("doc_id"))
    }),
    // Range search: filter ON the distance value (reference
    // 00004_mqvs_filter_by_distance.sh — `WHERE distance(...) < r`), not
    // top-K: every vector within the radius. Pure filter over the scan.
    "v23_range_search" -> ((s, dir) => {
      val q = queryVec(s, dir)
      emb(s, dir)
        .withColumn("d", graft.functions.distances.l2Distance(
          col("embedding"), typedLit(q)))
        .filter(col("d") < 10.0f)
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Query vector from a SUBQUERY (reference 00025_mqvs_distance_with_
    // subquery.sql): the vector never touches the driver — a 1-row frame
    // is joined in (broadcast at any scale), so the whole query stays one
    // distributed plan. This is the shape to use when the query vector is
    // itself computed (e.g. an aggregate of several vectors).
    "v24_distance_subquery" -> ((s, dir) => {
      val qrow = emb(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      emb(s, dir)
        .crossJoin(broadcast(qrow))
        .withColumn("d", graft.functions.distances.l2Distance(
          col("embedding"), col("qvec")))
        .orderBy(col("d"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // distance() whose query vector is GENERATED by a lambda expression
    // (reference 00036_mqvs_with_clause_process_function.sql: `distance(
    // vector, arrayMap(x -> x/1., range(1, 4)))`): the transform/sequence
    // expression is foldable, so Catalyst constant-folds it to the array
    // literal the search rewrite recognizes — same plan as a literal
    // query vector, proving lambda-built vectors get index routing too.
    "v32_lambda_query_vector" -> ((s, dir) => {
      emb(s, dir)
        .withColumn("d", expr(
          "l2_distance(embedding, transform(sequence(1, 64), i -> CAST(i AS FLOAT) / 64))"))
        .orderBy(col("d"), col("vec_id")).limit(10)
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // Driver-checked recall gates for every approximate index path: each
    // kind's top-10 is intersected with the EXACT (tie-broken) top-10
    // computed in the same job, and the oracle pins n_results = k and
    // recall_ok = true. This moves the ScalaTest recall assertions into
    // the driver's correctness surface — an index regression flips a
    // boolean and hash-fails the round. Gates sit well below observed
    // recall (see minHits per kind) so sketch-level nondeterminism can't
    // flake them, while a broken graph/probe/re-rank path (recall → ~0)
    // always trips.
    "v33_recall_gates" -> ((s, dir) => recallGates(s, dir)),
    // HNSW in EXACT mode: ef ≥ corpus makes the greedy search exhaustive
    // over each part's (connected) graph, so the result is the brute-force
    // top-K — same upgrade v20/v21/v22 gave IVFSQ/IVFPQ/BinaryIVF. Shares
    // v01's DuckDB oracle; the approximate-ef modes stay rows-only.
    "v34_hnsw_exact" -> ((s, dir) => {
      val n = emb(s, dir).count().toInt
      HnswIndex.search(s, hnswDir(s, dir), queryVec(s, dir), 10, ef = n)
        .select(col("id").as("vec_id"),
          (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // HNSWSQ/HNSWPQ in exact mode: exhaustive-ef quantized graph search
    // feeds the full corpus into the exact re-rank (v21's 1<<20-reorder
    // trick over the graph path) — shares v01's brute oracle.
    "v35_hnswsq_exact" -> ((s, dir) => {
      val n = emb(s, dir).count().toInt
      HnswIndex.searchTwoStage(s, hnswSqDir(s, dir), emb(s, dir),
          "vec_id", "embedding", queryVec(s, dir), 10,
          numReorder = n, ef = n, "l2", "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    "v36_hnswpq_exact" -> ((s, dir) => {
      val n = emb(s, dir).count().toInt
      HnswIndex.searchTwoStage(s, hnswPqDir(s, dir), emb(s, dir),
          "vec_id", "embedding", queryVec(s, dir), 10,
          numReorder = n, ef = n, "l2", "d", Seq(col("vec_id")))
        .select(col("vec_id"), (round(col("d").cast("double"), 3) + lit(0.0)).as("d"))
        .orderBy(col("vec_id"))
    }),
    // BinaryHNSW with exhaustive ef: Hamming distances are exact on the
    // graph itself, so full-ef search IS brute force — shares v22's
    // hex-digit-popcount oracle.
    "v37_binary_hnsw_exact" -> ((s, dir) => {
      val n = bvecs(s, dir).count().toInt
      BinaryHnswIndex.search(s, bhnswDir(s, dir), bquery(s, dir), 10, ef = n)
        .select(col("id").as("doc_id"), col("d").cast("double").as("d"))
        .orderBy(col("doc_id"))
    }),
    // system.vector_indices / vector_index_segments under the driver gate
    // (ref `StorageSystemVIs.cpp:37-61`, `StorageSystemVIsWithPart.cpp`):
    // build (or reuse) the IVF index, then assert catalog state — index
    // row status/type/metric/row-count plus per-segment counts — against
    // a DuckDB oracle that derives the row count from the same parquet.
    "q79_vector_index_catalog" -> ((s, dir) => {
      val _ = ivfDir(s, dir) // ensure built + registered
      val name = IndexFixtures.name("ivf_embeddings", dir)
      val vi = IvfIndex.Catalog.asDataFrame(s)
        .filter(col("name") === name)
        .select(col("indexType").as("index_type"), col("metric"),
          col("status"), col("nRows").as("total_rows"))
      val segs = IvfIndex.Catalog.segmentsDataFrame(s)
        .filter(col("indexName") === name)
        .agg(count(lit(1)).as("n_segments"),
          sum(col("nRows")).as("seg_rows"),
          sum(when(col("state").isin("BUILT", "SMALL_PART"), 1L)
            .otherwise(0L)).as("built_segments"))
      // VIEventLog analog (ref VIEventLog.cpp): a memoized build logs
      // exactly one BUILD_START + one BUILD_FINISH for this index name
      // per JVM, and never an error — pinned by the oracle
      val events = IvfIndex.Catalog.eventLogDataFrame(s)
        .filter(col("indexName") === name)
        .agg(
          sum(when(col("event") === "BUILD_START", 1L).otherwise(0L))
            .as("build_starts"),
          sum(when(col("event") === "BUILD_FINISH", 1L).otherwise(0L))
            .as("build_finishes"),
          sum(when(col("event") === "BUILD_ERROR", 1L).otherwise(0L))
            .as("build_errors"))
      vi.crossJoin(segs).crossJoin(events)
        .select(lit("ivf_embeddings").as("name"), col("index_type"),
          col("metric"), col("status"),
          col("total_rows").cast("long").as("total_rows"),
          col("n_segments").cast("long").as("n_segments"),
          col("seg_rows").cast("long").as("seg_rows"),
          col("built_segments").cast("long").as("built_segments"),
          col("build_starts").cast("long").as("build_starts"),
          col("build_finishes").cast("long").as("build_finishes"),
          col("build_errors").cast("long").as("build_errors"))
    }),
    // arrayDistance scalar family as projection columns (not top-K).
    "v07_distance_family" -> ((s, dir) => {
      val q = queryVec(s, dir)
      emb(s, dir).filter(col("vec_id") < 10)
        .select(
          col("vec_id"),
          round(graft.functions.distances.l2Distance(col("embedding"), typedLit(q)).cast("double"), 3).as("l2"),
          round(graft.functions.distances.l1Distance(col("embedding"), typedLit(q)).cast("double"), 3).as("l1"),
          (round(graft.functions.distances.dotProduct(col("embedding"), typedLit(q)).cast("double"), 3) + lit(0.0)).as("ip"))
        .orderBy(col("vec_id"))
    }),
  )

  /** Gates sit ≥ 2 hits below the observed sf0.01/sf0.1 minima (measured
    * hits@10: ivf_nprobe 5/7 — nprobe=4 of 16 on near-random vectors is
    * genuinely lossy — hnsw 10/10, ivfsq 10/10, ivfpq 10/8, hnswsq 10/9,
    * hnswpq 10/8, binary_ivf 10/7 — nprobe=8 of 16 over 16-byte Hamming
    * codes is the second genuinely-lossy mode; the sf0.1 minimum was
    * re-measured in round 16 — binary_hnsw 10/10, prefilter 10/10),
    * while a broken path (wrong metric, dead probes, corrupt graph)
    * lands near the random baseline of ~0.2 expected hits.
    * NoOracleStabilitySpec re-asserts the measured values.
    */
  private val recallMinHits: Map[String, Int] = Map(
    "ivf_nprobe" -> 3, "hnsw" -> 8, "ivfsq" -> 8, "ivfpq" -> 6,
    "hnswsq" -> 7, "hnswpq" -> 6, "binary_ivf" -> 5, "binary_hnsw" -> 8,
    "prefilter_hnsw" -> 8)

  /** One gate row per approximate index path: intersect its top-10 ids
    * with the exact tie-broken top-10 (the already-oracle-checked brute
    * queries), emit `hits >= minHits`. Reuses the SparkEntry query
    * bodies verbatim so the gated plan is exactly the plan the driver
    * runs elsewhere.
    */
  private def recallGates(s: SparkSession, dir: String): DataFrame = {
    def ids(name: String, idCol: String): DataFrame =
      queries(name)(s, dir).select(col(idCol).cast("long").as("rid"))
    // The exact frames are k = 10 rows each but feed 6/2/1 legs: pinned
    // eagerly so the brute top-K scans run once, not once per consuming
    // leg (r21 — guide §2.4, shared subtree evaluated once). distinct()
    // (free at 10 rows) makes the left-join count arithmetic's
    // distinct-rid assumption structural — a duplicate exact rid would
    // otherwise inflate n_results AND hits (r21 ADVICE).
    val exactDense = ids("v01_l2_topk", "vec_id").distinct().localCheckpoint(true)
    val exactBin = ids("v10_binary_hamming", "doc_id").distinct().localCheckpoint(true)
    val exactFiltered = ids("v04_prefilter_topk", "vec_id").distinct().localCheckpoint(true)
    val legs: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("ivf_nprobe", ids("v09_ivf_nprobe", "vec_id"), exactDense),
      ("hnsw", ids("v11_hnsw_search", "vec_id"), exactDense),
      ("ivfsq", ids("v14_ivfsq", "vec_id"), exactDense),
      ("ivfpq", ids("v16_ivfpq", "vec_id"), exactDense),
      ("hnswsq", ids("v17_hnswsq", "vec_id"), exactDense),
      ("hnswpq", ids("v19_hnswpq", "vec_id"), exactDense),
      ("binary_ivf", ids("v15_binary_ivf", "doc_id"), exactBin),
      ("binary_hnsw", ids("v18_binary_hnsw", "doc_id"), exactBin),
      ("prefilter_hnsw", ids("v26_prefilter_hnsw", "vec_id"), exactFiltered))
    // One pass per leg: a left join against the (distinct-id) exact set
    // yields n_results = count(*) and hits = matched count in a single
    // aggregate — the former semi-join agg × crossJoin count ran every
    // approximate index search twice (r21).
    legs.map { case (kind, approx, exact) =>
      approx
        .join(exact.withColumn("__hit", lit(1)), Seq("rid"), "left")
        .agg(count(lit(1)).as("n_results"),
          coalesce(sum(col("__hit")), lit(0L)).as("hits"))
        .select(lit(kind).as("kind"), col("n_results"),
          (col("hits") >= recallMinHits(kind)).as("recall_ok"))
    }.reduce(_ unionAll _).orderBy(col("kind"))
  }

  /** Replay oracles for the deterministic approximate modes (v09
    * nprobe-IVF, v14 IVFSQ, v15 BinaryIVF, v16 IVFPQ, and the HNSW
    * ef-limited modes v11/v17/v18/v19/v26/v31 via the candidate-pool
    * export): given the Spark-trained index artifacts, the search decision
    * is a FIXED set — the per-row list assignment plus the probe set
    * (IVF), the stage-1 candidate ids (SQ/PQ re-rank), or the
    * pre-truncation ef-beam (HNSW) — so each entry exports that set as
    * literal VALUES and DuckDB recomputes the restricted top-K with its
    * own exact kernels. [[graft.Verify]] evaluates them against the dir it
    * dumps, after the queries ran, and writes them into oracle_sql.json
    * beside [[oracles]]; the query functions never export anything.
    */
  val replayOracles: Map[String, (SparkSession, String) => String] = Map(
    "v09_ivf_nprobe" -> ((s, dir) => {
      val idx = ivfDir(s, dir)
      val q = queryVec(s, dir)
      // every list_id= partition, so Spark's partition discovery reads it
      val assigns = s.read.parquet(s"$idx/lists").select("vec_id", "list_id")
        .collect().map(r => (r.getLong(0), r.get(1).toString.toInt))
        .sortBy(_._1)
      val probes = IvfIndex.probeSet(s, idx, q, nprobe = 4)
      s"""WITH assign(vec_id, list_id) AS (VALUES ${
            assigns.map { case (v, l) => s"($v,$l)" }.mkString(",")}),
          cand AS (SELECT vec_id FROM assign
                   WHERE list_id IN (${probes.mkString(",")}))
          SELECT * FROM (
            SELECT e.vec_id,
                   round(CAST(list_distance(e.embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY list_distance(e.embedding, $qv0), e.vec_id LIMIT 10)
          ORDER BY vec_id"""
    }),
    "v11_hnsw_search" -> ((s, dir) => {
      val idx = hnswDir(s, dir)
      val q = queryVec(s, dir)
      val pool = HnswIndex.candidatePool(s, idx, q, 10, ef = 128)
        .select("id").collect().map(_.getLong(0)).distinct.sorted
      s"""WITH pool(vec_id) AS (VALUES ${pool.map(i => s"($i)").mkString(",")})
          SELECT * FROM (
            SELECT e.vec_id,
                   round(CAST(list_distance(e.embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
            FROM embeddings e JOIN pool USING (vec_id)
            ORDER BY list_distance(e.embedding, $qv0), e.vec_id LIMIT 10)
          ORDER BY vec_id"""
    }),
    "v14_ivfsq" -> ((s, dir) => {
      val idx = sqDir(s, dir)
      val q = queryVec(s, dir)
      val cands = SqIndex.stage1Candidates(s, idx, q, numReorder = 50,
          nprobe = 16).collect().map(_.getLong(0)).sorted
      s"""WITH cand(vec_id) AS (VALUES ${cands.map(c => s"($c)").mkString(",")})
          SELECT * FROM (
            SELECT e.vec_id,
                   round(CAST(list_distance(e.embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY list_distance(e.embedding, $qv0), e.vec_id LIMIT 10)
          ORDER BY vec_id"""
    }),
    "v15_binary_ivf" -> ((s, dir) => {
      val idx = bivfDir(s, dir)
      val q = bquery(s, dir)
      // every list_id= partition, so Spark's partition discovery reads it
      val assigns = s.read.parquet(s"$idx/lists").select("doc_id", "list_id")
        .collect().map(r => (r.getLong(0), r.get(1).toString.toInt))
        .sortBy(_._1)
      val probes = BinaryIvfIndex.probeSet(s, idx, q, nprobe = 8)
      s"""WITH assign(doc_id, list_id) AS (VALUES ${
            assigns.map { case (v, l) => s"($v,$l)" }.mkString(",")}),
          cand AS (SELECT doc_id FROM assign
                   WHERE list_id IN (${probes.mkString(",")})),
          q AS (SELECT md5(text) AS qh FROM documents WHERE doc_id = 0),
          h AS (SELECT doc_id, md5(text) AS h
                FROM documents JOIN cand USING (doc_id))
          SELECT * FROM (
            SELECT doc_id,
              CAST(list_sum(list_transform(range(1, 33), i ->
                bit_count(xor(strpos('0123456789abcdef', substring(h, CAST(i AS INTEGER), 1)) - 1,
                              strpos('0123456789abcdef', substring(qh, CAST(i AS INTEGER), 1)) - 1)))) AS DOUBLE) AS d
            FROM h CROSS JOIN q
            ORDER BY d, doc_id LIMIT 10)
          ORDER BY doc_id"""
    }),
    "v16_ivfpq" -> ((s, dir) => {
      val idx = pqDir(s, dir)
      val q = queryVec(s, dir)
      val cands = PqIndex.stage1Candidates(s, idx, q, numReorder = 50,
          nprobe = 16).collect().map(_.getLong(0)).sorted
      s"""WITH cand(vec_id) AS (VALUES ${cands.map(c => s"($c)").mkString(",")})
          SELECT * FROM (
            SELECT e.vec_id,
                   round(CAST(list_distance(e.embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY list_distance(e.embedding, $qv0), e.vec_id LIMIT 10)
          ORDER BY vec_id"""
    }),
    "v17_hnswsq" -> ((s, dir) => {
      val idx = hnswSqDir(s, dir)
      val q = queryVec(s, dir)
      val pool = HnswIndex.candidatePool(s, idx, q, 10, ef = 128)
        .select("id", "vec").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
      val rows = pool.map { case (id, dq) =>
        s"($id,[${dq.mkString(",")}])"
      }.mkString(",")
      s"""WITH pool(vec_id, dq) AS (VALUES $rows)
          SELECT * FROM (
            SELECT vec_id,
                   round(CAST(list_distance(CAST(dq AS FLOAT[]), $qv0) AS DOUBLE), 3) + 0.0 AS d
            FROM pool
            ORDER BY list_distance(CAST(dq AS FLOAT[]), $qv0), vec_id LIMIT 10)
          ORDER BY vec_id"""
    }),
    "v18_binary_hnsw" -> ((s, dir) => {
      val idx = bhnswDir(s, dir)
      val q = bquery(s, dir)
      val pool = HnswIndex.candidatePool(s, idx,
          BinaryHnswIndex.bitsToFloats(q).toSeq, 10, ef = 128)
        .select("id").collect().map(_.getLong(0)).distinct.sorted
      s"""WITH pool(doc_id) AS (VALUES ${pool.map(i => s"($i)").mkString(",")}),
          q AS (SELECT md5(text) AS qh FROM documents WHERE doc_id = 0),
          h AS (SELECT doc_id, md5(text) AS h
                FROM documents JOIN pool USING (doc_id))
          SELECT * FROM (
            SELECT doc_id,
              CAST(list_sum(list_transform(range(1, 33), i ->
                bit_count(xor(strpos('0123456789abcdef', substring(h, CAST(i AS INTEGER), 1)) - 1,
                              strpos('0123456789abcdef', substring(qh, CAST(i AS INTEGER), 1)) - 1)))) AS DOUBLE) AS d
            FROM h CROSS JOIN q
            ORDER BY d, doc_id LIMIT 10)
          ORDER BY doc_id"""
    }),
    "v19_hnswpq" -> ((s, dir) => {
      val idx = hnswPqDir(s, dir)
      val q = queryVec(s, dir)
      val cands = HnswIndex.stage1Candidates(s, idx, q,
          numReorder = 60, ef = 256).collect().map(_.getLong(0)).sorted
      s"""WITH cand(vec_id) AS (VALUES ${cands.map(c => s"($c)").mkString(",")})
          SELECT * FROM (
            SELECT e.vec_id,
                   round(CAST(list_distance(e.embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY list_distance(e.embedding, $qv0), e.vec_id LIMIT 10)
          ORDER BY vec_id"""
    }),
    "v26_prefilter_hnsw" -> ((s, dir) => {
      val cand = prefilterHnswCands(s, dir, emb(s, dir))
      val pool = cand.collect().map(_.getLong(0)).distinct.sorted
      s"""WITH pool(vec_id) AS (VALUES ${pool.map(i => s"($i)").mkString(",")})
          SELECT * FROM (
            SELECT e.vec_id,
                   round(CAST(list_distance(e.embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
            FROM embeddings e JOIN pool USING (vec_id)
            WHERE e.label = 3
            ORDER BY list_distance(e.embedding, $qv0), e.vec_id LIMIT 10)
          ORDER BY vec_id"""
    }),
    "v31_batch_hnsw" -> ((s, dir) => {
      val idx = hnswDir(s, dir)
      val qs = Seq(queryVec(s, dir, 0), queryVec(s, dir, 1), queryVec(s, dir, 2))
      val rows = qs.zipWithIndex.flatMap { case (q, qi) =>
        HnswIndex.candidatePool(s, idx, q, 5, ef = 128)
          .select("id").collect().map(_.getLong(0)).distinct.sorted
          .map(id => s"($qi,$id)")
      }.mkString(",")
      s"""WITH pool(query_idx, vec_id) AS (VALUES $rows),
          q AS (SELECT 0 AS query_idx, $qv0 AS qv
                UNION ALL SELECT 1, $qv1
                UNION ALL SELECT 2, $qv2)
          SELECT p.query_idx, p.vec_id,
                 round(CAST(list_distance(e.embedding, q.qv) AS DOUBLE), 3) + 0.0 AS d
          FROM pool p
          JOIN embeddings e ON e.vec_id = p.vec_id
          JOIN q ON q.query_idx = p.query_idx
          QUALIFY row_number() OVER (PARTITION BY p.query_idx
            ORDER BY list_distance(e.embedding, q.qv), p.vec_id) <= 5
          ORDER BY p.query_idx, p.vec_id"""
    }),
  )

  private val qv0 = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
  private val qv1 = "(SELECT embedding FROM embeddings WHERE vec_id = 1)"
  private val qv2 = "(SELECT embedding FROM embeddings WHERE vec_id = 2)"

  val oracles: Map[String, String] = Map(
    // v33: the gate booleans and result counts are pinned — any index
    // path whose recall collapses flips recall_ok and hash-fails.
    "v33_recall_gates" -> recallMinHits.keys.toSeq.sorted
      .map(k => s"SELECT '$k' AS kind, CAST(10 AS BIGINT) AS n_results, true AS recall_ok")
      .mkString("", " UNION ALL ", " ORDER BY kind"),
    "v01_l2_topk" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    // v34-v36: exhaustive-ef HNSW (flat/SQ/PQ re-ranked) is exact — same
    // brute-force oracle as v01
    "v34_hnsw_exact" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v35_hnswsq_exact" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v36_hnswpq_exact" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v37_binary_hnsw_exact" -> """
      WITH q AS (SELECT md5(text) AS qh FROM documents WHERE doc_id = 0),
      d AS (SELECT doc_id, md5(text) AS h FROM documents)
      SELECT * FROM (
        SELECT doc_id,
          CAST(list_sum(list_transform(range(1, 33), i ->
            bit_count(xor(strpos('0123456789abcdef', substring(h, CAST(i AS INTEGER), 1)) - 1,
                          strpos('0123456789abcdef', substring(qh, CAST(i AS INTEGER), 1)) - 1)))) AS DOUBLE) AS d
        FROM d CROSS JOIN q
        ORDER BY d, doc_id LIMIT 10)
      ORDER BY doc_id""",
    "q79_vector_index_catalog" -> """
      SELECT 'ivf_embeddings' AS name, 'IVFFLAT' AS index_type,
             'l2' AS metric, 'BUILT' AS status,
             CAST(count(1) AS BIGINT) AS total_rows,
             CAST(16 AS BIGINT) AS n_segments,
             CAST(count(1) AS BIGINT) AS seg_rows,
             CAST(16 AS BIGINT) AS built_segments,
             CAST(1 AS BIGINT) AS build_starts,
             CAST(1 AS BIGINT) AS build_finishes,
             CAST(0 AS BIGINT) AS build_errors
      FROM embeddings""",
    "v02_cosine_topk" -> s"""
      SELECT * FROM (
        SELECT vec_id,
               round(CAST(1.0 - list_cosine_similarity(embedding, $qv1) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY 1.0 - list_cosine_similarity(embedding, $qv1), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v03_ip_topk" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_inner_product(embedding, $qv2) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_inner_product(embedding, $qv2) DESC, vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v04_prefilter_topk" -> s"""
      SELECT * FROM (
        SELECT vec_id, label, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        WHERE label = 3
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v05_batch_distance" -> s"""
      WITH q AS (
        SELECT 0 AS query_idx, $qv0 AS qv
        UNION ALL SELECT 1, $qv1
        UNION ALL SELECT 2, $qv2)
      SELECT query_idx, vec_id, round(CAST(list_distance(embedding, qv) AS DOUBLE), 3) + 0.0 AS d
      FROM embeddings, q
      QUALIFY row_number() OVER (PARTITION BY query_idx
        ORDER BY list_distance(embedding, qv), vec_id) <= 5
      ORDER BY query_idx, vec_id""",
    "v29_batch_ivf" -> s"""
      WITH q AS (
        SELECT 0 AS query_idx, $qv0 AS qv
        UNION ALL SELECT 1, $qv1
        UNION ALL SELECT 2, $qv2)
      SELECT query_idx, vec_id, round(CAST(list_distance(embedding, qv) AS DOUBLE), 3) + 0.0 AS d
      FROM embeddings, q
      QUALIFY row_number() OVER (PARTITION BY query_idx
        ORDER BY list_distance(embedding, qv), vec_id) <= 5
      ORDER BY query_idx, vec_id""",
    "v06_two_stage" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v08_ivf_exact" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v28_join_distance" -> s"""
      SELECT * FROM (
        SELECT vec_id, lang,
               round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings JOIN documents ON vec_id = doc_id
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v30_join_distance_ivf" -> s"""
      SELECT * FROM (
        SELECT vec_id, lang,
               round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings JOIN documents ON vec_id = doc_id
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v27_mstg_search" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v12_prefilter_ivf" -> s"""
      SELECT * FROM (
        SELECT vec_id, label, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        WHERE label = 3
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v23_range_search" -> s"""
      SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
      FROM embeddings
      WHERE list_distance(embedding, $qv0) < 10.0
      ORDER BY vec_id""",
    "v24_distance_subquery" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v32_lambda_query_vector" -> """
      WITH q AS (SELECT list_transform(range(1, 65),
                   i -> CAST(i AS FLOAT) / 64) AS qv)
      SELECT * FROM (
        SELECT vec_id,
               round(CAST(list_distance(embedding, (SELECT qv FROM q)) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, (SELECT qv FROM q)), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v25_ivf_cosine_exact" -> s"""
      SELECT * FROM (
        SELECT vec_id,
               round(CAST(1.0 - list_cosine_similarity(embedding, $qv1) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY 1.0 - list_cosine_similarity(embedding, $qv1), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v20_ivfsq_exact" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v21_ivfpq_exact" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v22_binary_ivf_exact" -> """
      WITH q AS (SELECT md5(text) AS qh FROM documents WHERE doc_id = 0),
      d AS (SELECT doc_id, md5(text) AS h FROM documents)
      SELECT * FROM (
        SELECT doc_id,
          CAST(list_sum(list_transform(range(1, 33), i ->
            bit_count(xor(strpos('0123456789abcdef', substring(h, CAST(i AS INTEGER), 1)) - 1,
                          strpos('0123456789abcdef', substring(qh, CAST(i AS INTEGER), 1)) - 1)))) AS DOUBLE) AS d
        FROM d CROSS JOIN q
        ORDER BY d, doc_id LIMIT 10)
      ORDER BY doc_id""",
    // Hamming over unhex(md5(text)) bytes ≡ per-hex-digit xor popcount of
    // the md5 hex string — DuckDB-expressible, so the binary path gets an
    // EXACT oracle (byte-level kernel parity is in DistanceSpec).
    // batch binary Hamming: the v10 nibble-xor-bitcount kernel over a
    // 3-code query set, per-query top-10 (LIMIT n BY dist.1).
    "v38_batch_binary" -> """
      WITH q AS (SELECT CAST(doc_id AS INTEGER) AS query_idx, md5(text) AS qh
                 FROM documents WHERE doc_id < 3),
      d AS (SELECT doc_id, md5(text) AS h FROM documents),
      scored AS (
        SELECT query_idx, doc_id,
          CAST(list_sum(list_transform(range(1, 33), i ->
            bit_count(xor(strpos('0123456789abcdef', substring(h, CAST(i AS INTEGER), 1)) - 1,
                          strpos('0123456789abcdef', substring(qh, CAST(i AS INTEGER), 1)) - 1)))) AS DOUBLE) AS d
        FROM d CROSS JOIN q)
      SELECT query_idx, doc_id, d FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_idx ORDER BY d, doc_id) <= 10
      ORDER BY query_idx, doc_id""",
    "v10_binary_hamming" -> """
      WITH q AS (SELECT md5(text) AS qh FROM documents WHERE doc_id = 0),
      d AS (SELECT doc_id, md5(text) AS h FROM documents)
      SELECT * FROM (
        SELECT doc_id,
          CAST(list_sum(list_transform(range(1, 33), i ->
            bit_count(xor(strpos('0123456789abcdef', substring(h, CAST(i AS INTEGER), 1)) - 1,
                          strpos('0123456789abcdef', substring(qh, CAST(i AS INTEGER), 1)) - 1)))) AS DOUBLE) AS d
        FROM d CROSS JOIN q
        ORDER BY d, doc_id LIMIT 10)
      ORDER BY doc_id""",
    "v13_lwd_index_search" -> s"""
      SELECT * FROM (
        SELECT vec_id, round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS d
        FROM embeddings
        WHERE vec_id % 7 <> 0
        ORDER BY list_distance(embedding, $qv0), vec_id LIMIT 10)
      ORDER BY vec_id""",
    "v07_distance_family" -> s"""
      SELECT vec_id,
             round(CAST(list_distance(embedding, $qv0) AS DOUBLE), 3) AS l2,
             round(CAST(list_aggregate(list_transform(list_zip(embedding, $qv0),
                    p -> abs(p[1] - p[2])), 'sum') AS DOUBLE), 3) AS l1,
             round(CAST(list_inner_product(embedding, $qv0) AS DOUBLE), 3) + 0.0 AS ip
      FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""",
  )
}
