package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim

import graft.functions.PqAdcDistance

/** IVFPQ — IVF with product quantization (reference index type registry
  * `/root/reference/src/VectorIndex/Interpreters/parseVSParameters.cpp:77-112`;
  * algorithm: Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", IEEE TPAMI 2011).
  *
  * The vector is split into `m` contiguous subspaces; each subspace gets
  * its own 256-centroid codebook ([[trainCodebooks]], on a bounded
  * sample like [[IvfIndex]]'s centroids), so a d-dim float vector stores
  * as m bytes — a 4·d/m× footprint cut (32× at d=128, m=16).
  *
  * Search uses Asymmetric Distance Computation (ADC): per query, a
  * m×256 lookup table of exact subspace distances to the query is built
  * once on the driver (m·256 kernel evaluations), then every candidate's
  * distance is just m table lookups — no float math per row. The table
  * rides into codegen as a reference object ([[PqAdcDistance]]). The
  * search split is [[SqIndex]]'s: [[IvfIndex.probedLists]], the shared
  * [[IvfIndex.stage1Cut]] on the ADC score in [[stage1Candidates]], then
  * [[VectorSearch.rerank]] of the `numReorder` survivors against the
  * source table.
  */
object PqIndex {

  case class PqMeta(metric: String, nLists: Int, m: Int, dim: Int,
      nRows: Long, vecCol: String, idCol: String, status: String)

  private[graft] def encode(
      v: Array[Float], books: Array[Array[Array[Float]]]): Array[Byte] = {
    val m = books.length
    val sub = v.length / m
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val base = s * sub
      var best = 0; var bestD = Float.MaxValue
      val book = books(s)
      var c = 0
      while (c < book.length) {
        var d = 0f; var j = 0
        val cent = book(c)
        while (j < sub) { val x = v(base + j) - cent(j); d += x * x; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** The `m` per-subspace codebooks (up to 256 centroids each) over the
    * rows of `train`, whose `vecCol` holds `m * sub` floats: one seeded
    * [[IvfIndex.kmeansMl]] per subspace over an array slice computed in
    * the scan. `nTrain` is `train`'s row count, so no subspace counts it
    * again. Shared by IVFPQ and HNSWPQ.
    */
  private[graft] def trainCodebooks(train: DataFrame, vecCol: String, m: Int,
      sub: Int, nTrain: Long): Array[Array[Array[Float]]] = {
    val nCodes = math.min(256L, nTrain).toInt
    Array.tabulate(m) { s =>
      IvfIndex.kmeansMl(train.select(slice(col(vecCol), s * sub + 1, sub).as("__sub")),
        "__sub", nCodes, seed = 42L + s, approxRows = nTrain)
    }
  }

  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      indexName: String,
      indexDir: String,
      metric: String = "l2",
      nLists: Int = 16,
      m: Int = 8,
      trainSampleSize: Int = 100000,
      sourcePath: String = "",
      defaultNprobe: Int = 4): IvfIndex.IndexEntry = {
    IvfIndex.Catalog.register(IvfIndex.IndexEntry(indexName, indexDir,
      sourcePath, vecCol, "IVFPQ", metric, "BUILDING", 0L, defaultNprobe))
    IvfIndex.Catalog.logEvent(indexName, "BUILD_START",
      s"IVFPQ nLists=$nLists m=$m metric=$metric")

    val n = df.count()
    require(n > 0, "empty input to PqIndex.build")
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")

    // distributed training: coarse centroids AND the m per-subspace
    // codebooks all train via spark.ml KMeans|| on a sampled frame —
    // no vector sample ever reaches the driver.
    val train = IvfIndex.trainFrame(df.select(col(vecCol)), n, trainSampleSize)
      .persist()
    val (centroids, books) =
      try {
        val nTrain = train.count()
        (IvfIndex.kmeansMl(train, vecCol, nLists, approxRows = nTrain),
          trainCodebooks(train, vecCol, m, dim / m, nTrain))
      } finally train.unpersist(blocking = false)

    val bcC = spark.sparkContext.broadcast(centroids)
    val bcB = spark.sparkContext.broadcast(books)
    val assignU = udf((v: Seq[Float]) => IvfIndex.nearest(bcC.value, v.toArray))
    val encodeU = udf((v: Seq[Float]) => encode(v.toArray, bcB.value))
    df.withColumn("list_id", assignU(col(vecCol)))
      .withColumn("pqcodes", encodeU(col(vecCol)))
      .drop(vecCol)
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")

    IndexArtifact.Centroids.write(spark, indexDir, centroids)
    IndexArtifact.Codebooks.write(spark, indexDir, books)

    val art = IndexArtifact.write(indexDir, "IVFPQ",
      PqMeta(metric, nLists, m, dim, n, vecCol, idCol, "BUILT"))
    IndexArtifact.Codebooks.put(art, books)
    IndexArtifact.Centroids.put(art, centroids)

    val entry = IvfIndex.IndexEntry(indexName, indexDir, sourcePath, vecCol,
      "IVFPQ", metric, "BUILT", n, defaultNprobe)
    IvfIndex.Catalog.register(entry)
    IvfIndex.Catalog.logEvent(indexName, "BUILD_FINISH", s"nRows=$n")
    entry
  }

  /** ADC lookup table: adc(s*256 + c) = exact L2² between the query's
    * subvector s and codebook centroid c. Σ over subspaces = L2² to the
    * dequantized vector (for IP: Σ of subspace dots, negated for ranking).
    */
  private[graft] def adcTable(
      q: Array[Float], books: Array[Array[Array[Float]]],
      metric: String): Array[Float] = {
    val m = books.length
    val sub = q.length / m
    val table = new Array[Float](m * 256)
    val ip = metric.equalsIgnoreCase("ip") || metric.equalsIgnoreCase("dot")
    var s = 0
    while (s < m) {
      val base = s * sub
      val book = books(s)
      var c = 0
      while (c < book.length) {
        var d = 0f; var j = 0
        val cent = book(c)
        if (ip) { while (j < sub) { d += q(base + j) * cent(j); j += 1 } }
        else { while (j < sub) { val x = q(base + j) - cent(j); d += x * x; j += 1 } }
        table(s * 256 + c) = d
        c += 1
      }
      s += 1
    }
    table
  }

  /** Stage 1: the `numReorder` ids with the best ADC distance
    * ([[adcTable]] + [[PqAdcDistance]], m table lookups per row) over the
    * probed lists' codes, after `deletes` and `preFilter`. The only stage 1
    * of IVFPQ: [[search]], [[graft.plans.TopKSearchRewrite]] and the v16
    * replay oracle all call it.
    */
  def stage1Candidates(
      spark: SparkSession,
      indexDir: String,
      qvec: Seq[Float],
      numReorder: Int,
      nprobe: Int,
      preFilter: Option[Column] = None,
      deletes: Option[DataFrame] = None): DataFrame = {
    val art = IndexArtifact.read(indexDir, classOf[PqMeta])
    val q = qvec.toArray
    val table = adcTable(q, IndexArtifact.Codebooks.load(spark, art), art.meta.metric)
    IvfIndex.stage1Cut(
      IvfIndex.probedLists(spark, indexDir,
        IvfIndex.probes(spark, art, q, nprobe, art.meta.metric), deletes, preFilter),
      "__adc", shim.column(PqAdcDistance(shim.expression(col("pqcodes")), table)),
      VectorSearch.isDescending(art.meta.metric), art.meta.idCol, numReorder)
  }

  /** Two-stage IVFPQ search: [[stage1Candidates]], then
    * [[VectorSearch.rerank]] of the survivors against `source`.
    */
  def search(
      spark: SparkSession,
      indexDir: String,
      source: DataFrame,
      qvec: Seq[Float],
      k: Int,
      numReorder: Int = 100,
      nprobe: Int = 4,
      preFilter: Option[Column] = None,
      distName: String = "d",
      tieBreak: Seq[Column] = Nil,
      deletes: Option[DataFrame] = None): DataFrame = {
    val meta = IndexArtifact.read(indexDir, classOf[PqMeta]).meta
    VectorSearch.rerank(source, meta.idCol, meta.vecCol,
      stage1Candidates(spark, indexDir, qvec, numReorder, nprobe, preFilter, deletes),
      qvec, k, meta.metric, preFilter, distName, tieBreak)
  }
}
