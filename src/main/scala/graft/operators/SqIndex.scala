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
  * Search is the reference's two-stage shape, split like every IVF-family
  * search: [[IvfIndex.probedLists]] reads the probed lists,
  * [[stage1Candidates]] ranks their quantized codes with the fused
  * dequantize-and-score expression [[SqDistance]] (codegen'd) and cuts the
  * `numReorder` best in the shared [[IvfIndex.stage1Cut]], and
  * [[VectorSearch.rerank]] re-ranks the survivors with exact float
  * distances read from the SOURCE table.
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

  /** Stage 1: the `numReorder` ids with the best [[SqDistance]] over the
    * probed lists' codes, after `deletes` and `preFilter` (the lists
    * carry every source column except the vector, so filters evaluate
    * directly on the quantized layout). The only stage 1 of IVFSQ:
    * [[search]], [[graft.plans.TopKSearchRewrite]] (whose original
    * projection's exact distance + Sort/Limit IS the stage-2 re-rank) and
    * the v14 replay oracle all call it.
    */
  def stage1Candidates(
      spark: SparkSession,
      indexDir: String,
      qvec: Seq[Float],
      numReorder: Int,
      nprobe: Int,
      preFilter: Option[Column] = None,
      deletes: Option[DataFrame] = None): DataFrame = {
    val art = IndexArtifact.read(indexDir, classOf[SqMeta])
    val q = qvec.toArray
    val (scale, offset) = IndexArtifact.SqParams.load(spark, art)
    val m = parseMetric(art.meta.metric)
    IvfIndex.stage1Cut(
      IvfIndex.probedLists(spark, indexDir,
        IvfIndex.probes(spark, art, q, nprobe, art.meta.metric), deletes, preFilter),
      "__sqd", shim.column(SqDistance(shim.expression(col("qcodes")), q, scale, offset, m)),
      desc = m == Metric.IP || m == Metric.Dot, art.meta.idCol, numReorder)
  }

  /** Two-stage IVFSQ search: [[stage1Candidates]] never touches float
    * vectors; [[VectorSearch.rerank]] re-ranks them exactly against
    * `source`.
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
    val meta = IndexArtifact.read(indexDir, classOf[SqMeta]).meta
    VectorSearch.rerank(source, meta.idCol, meta.vecCol,
      stage1Candidates(spark, indexDir, qvec, numReorder, nprobe, preFilter, deletes),
      qvec, k, meta.metric, preFilter, distName, tieBreak)
  }
}
