package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim

import graft.functions.{Metric, SqDistance, VectorKernels}

/** IVFSQ — IVF index with int8 scalar quantization of the stored vectors
  * (reference index type registry
  * `/root/reference/src/VectorIndex/Interpreters/parseVSParameters.cpp:77-112`,
  * test `2_vector_search/00013_mqvs_index_ivfsq_*`).
  *
  * Same layout as [[IvfIndex]] (centroids + `list_id=` partitioned lists)
  * except the lists store `qcodes: binary` (1 byte/dim) instead of the
  * float vector — a 4× footprint cut, which is what makes 100 TB of
  * vectors fit in an index. Quantization params (per-dim min/max →
  * offset/scale) are trained in one distributed `mapPartitions` pass
  * (per-partition min/max arrays, dim-sized driver reduce — no shuffle).
  *
  * Search is the reference's two-stage shape: stage 1 ranks quantized
  * codes with the fused dequantize-and-score expression [[SqDistance]]
  * (codegen'd, probed lists only), stage 2 re-ranks the `numReorder`
  * survivors with exact float distances read from the SOURCE table
  * (broadcast semi-join on the id — the reference reads raw vectors from
  * the part for its second stage the same way).
  */
object SqIndex {

  case class SqMeta(metric: String, nLists: Int, dim: Int, nRows: Long,
      vecCol: String, idCol: String, status: String)

  private[graft] def parseMetric(m: String): Metric.Value = m.trim.toLowerCase match {
    case "l2" | "euclidean" => Metric.L2
    case "cosine"           => Metric.Cosine
    case "ip" | "dot"       => Metric.IP
    case "l1"               => Metric.L1
    case "linf"             => Metric.Linf
    case "l2squared"        => Metric.L2Squared
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** Per-dim int8 quantizer `(scale, offset)`: each partition reduces its
    * vectors to min/max arrays, and the driver reduces those dim-sized
    * arrays — one pass, no shuffle. Shared by IVFSQ and HNSWSQ.
    */
  private[graft] def trainParams(vecs: Dataset[Array[Float]]): (Array[Float], Array[Float]) = {
    import vecs.sparkSession.implicits._
    val mm = vecs.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()
        val mn = first.clone(); val mx = first.clone()
        it.foreach { v =>
          var j = 0
          while (j < v.length) {
            if (v(j) < mn(j)) mn(j) = v(j)
            if (v(j) > mx(j)) mx(j) = v(j)
            j += 1
          }
        }
        Iterator((mn, mx))
      }
    }.collect()
    require(mm.nonEmpty, "empty input to an SQ index build")
    val dim = mm.head._1.length
    val mins = mm.map(_._1).reduce((a, b) => Array.tabulate(dim)(j => math.min(a(j), b(j))))
    val maxs = mm.map(_._2).reduce((a, b) => Array.tabulate(dim)(j => math.max(a(j), b(j))))
    (Array.tabulate(dim)(j => (maxs(j) - mins(j)) / 255f), mins)
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
      trainSampleSize: Int = 100000,
      sourcePath: String = "",
      defaultNprobe: Int = 4): IvfIndex.IndexEntry = {
    import spark.implicits._
    IvfIndex.Catalog.register(IvfIndex.IndexEntry(indexName, indexDir,
      sourcePath, vecCol, "IVFSQ", metric, "BUILDING", 0L, defaultNprobe))
    IvfIndex.Catalog.logEvent(indexName, "BUILD_START", s"IVFSQ nLists=$nLists metric=$metric")

    val n = df.count()
    require(n > 0, "empty input to SqIndex.build")
    // distributed centroid training (spark.ml KMeans||) — no vector
    // sample ever reaches the driver
    val centroids = IvfIndex.kmeansMl(
      IvfIndex.trainFrame(df.select(col(vecCol)), n, trainSampleSize),
      vecCol, nLists, approxRows = math.min(n, trainSampleSize.toLong))
    val dim = centroids.head.length

    val (scale, offset) = trainParams(df.select(col(vecCol)).as[Array[Float]])

    val bcC = spark.sparkContext.broadcast(centroids)
    val bcS = spark.sparkContext.broadcast(scale)
    val bcO = spark.sparkContext.broadcast(offset)
    val assignU = udf((v: Seq[Float]) => IvfIndex.nearest(bcC.value, v.toArray))
    val encodeU = udf((v: Seq[Float]) =>
      VectorKernels.sqEncode(v.toArray, bcS.value, bcO.value))
    df.withColumn("list_id", assignU(col(vecCol)))
      .withColumn("qcodes", encodeU(col(vecCol)))
      .drop(vecCol) // the 4× shrink: codes only, floats stay in the table
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")

    IndexArtifact.Centroids.write(spark, indexDir, centroids)
    IndexArtifact.SqParams.write(spark, indexDir, (scale, offset))

    val art = IndexArtifact.write(indexDir, "IVFSQ",
      SqMeta(metric, nLists, dim, n, vecCol, idCol, "BUILT"))
    IndexArtifact.SqParams.put(art, (scale, offset))
    IndexArtifact.Centroids.put(art, centroids)

    val entry = IvfIndex.IndexEntry(indexName, indexDir, sourcePath, vecCol,
      "IVFSQ", metric, "BUILT", n, defaultNprobe)
    IvfIndex.Catalog.register(entry)
    IvfIndex.Catalog.logEvent(indexName, "BUILD_FINISH", s"nRows=$n")
    entry
  }

  /** The probed lists' quantized rows, plus what ranking them needs. */
  private def probed(spark: SparkSession, indexDir: String, q: Array[Float],
      nprobe: Int): (SqMeta, (Array[Float], Array[Float]), DataFrame) = {
    val art = IndexArtifact.read(indexDir, classOf[SqMeta])
    val probes = IvfIndex.nearestLists(IndexArtifact.Centroids.load(spark, art),
      art.meta.metric, q, nprobe)
    (art.meta, IndexArtifact.SqParams.load(spark, art),
      ProbedPartitions.read(spark, s"$indexDir/lists", "list_id", probes))
  }

  /** Stage-1 candidate ids only (quantized ranking over the probed
    * lists) — used by [[graft.plans.TopKSearchRewrite]] to graft an IVFSQ
    * path into a SQL plan, where the original projection's exact distance
    * + Sort/Limit IS the stage-2 re-rank.
    */
  def stage1Candidates(
      spark: SparkSession,
      indexDir: String,
      qvec: Seq[Float],
      numReorder: Int,
      nprobe: Int,
      preFilter: Option[Column] = None): DataFrame = {
    val q = qvec.toArray
    val (meta, (scale, offset), pruned0) = probed(spark, indexDir, q, nprobe)
    // pre-filter BEFORE ranking (reference performPrefilter semantics):
    // the lists carry every source column except the vector, so filters
    // evaluate directly on the quantized layout
    val pruned = preFilter.map(pruned0.filter).getOrElse(pruned0)
    val m = parseMetric(meta.metric)
    val sqd = shim.column(SqDistance(
      shim.expression(col("qcodes")), q, scale, offset, m))
    val dir = if (m == Metric.IP || m == Metric.Dot) col("__sqd").desc else col("__sqd").asc
    pruned.withColumn("__sqd", sqd)
      .orderBy(dir, col(meta.idCol))
      .limit(numReorder)
      .select(col(meta.idCol))
  }

  /** Two-stage IVFSQ search. Stage 1 never touches float vectors; stage 2
    * re-ranks `numReorder` candidates exactly against `source`.
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
    val q = qvec.toArray
    val (meta, (scale, offset), pruned0) = probed(spark, indexDir, q, nprobe)
    val pruned1 = deletes.map { d =>
      require(d.columns.length == 1, "deletes must be a single id column")
      pruned0.join(d, d.columns.toSeq, "left_anti")
    }.getOrElse(pruned0)
    val pruned = preFilter.map(pruned1.filter).getOrElse(pruned1)

    val m = parseMetric(meta.metric)
    val sqd = shim.column(SqDistance(
      shim.expression(col("qcodes")), q, scale, offset, m))
    val desc = m == Metric.IP || m == Metric.Dot
    val stage1Dir = if (desc) col("__sqd").desc else col("__sqd").asc
    val cands = pruned.withColumn("__sqd", sqd)
      .orderBy(stage1Dir +: tieBreak: _*)
      .limit(numReorder)
      .select(col(meta.idCol))

    // numReorder ids — bounded, broadcast into the source scan.
    val candidates = source.join(broadcast(cands), Seq(meta.idCol), "left_semi")
    VectorSearch.topK(candidates, col(meta.vecCol), qvec, k, meta.metric,
      preFilter, distName, tieBreak)
  }
}
