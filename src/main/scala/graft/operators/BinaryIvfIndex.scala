package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{distances, VectorKernels}

/** BinaryIVF — IVF over binary vectors with Hamming distance (reference
  * binary index types BinaryFLAT/BinaryIVF/BinaryHNSW,
  * `/root/reference/src/VectorIndex/Interpreters/parseVSParameters.cpp:77-112`,
  * test `2_vector_search/00038_mqvs_binary_vector_feature.sql`).
  *
  * Centroids are trained with k-majority (Lloyd's with Hamming assignment
  * and per-bit majority vote — the binary analog of the mean), on a
  * bounded driver sample like [[IvfIndex]]. Lists are `list_id=`
  * partitioned parquet, so an nprobe search prunes at the FILE level and
  * ranks with the codegen'd Hamming kernel; exhaustive probes are exact.
  */
object BinaryIvfIndex {

  case class BMeta(nLists: Int, nBytes: Int, nRows: Long, vecCol: String,
      idCol: String, status: String, metric: String)

  private[graft] def nearestHamming(cs: Array[Array[Byte]], v: Array[Byte]): Int = {
    var best = 0; var bestD = Float.MaxValue; var i = 0
    while (i < cs.length) {
      val d = VectorKernels.hammingBits(cs(i), v)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** k-majority clustering over bit vectors (deterministic, seeded). */
  private[graft] def kMajority(
      sample: Array[Array[Byte]], k: Int, iters: Int = 10,
      seed: Long = 42L): Array[Array[Byte]] = {
    require(sample.nonEmpty, "empty training sample")
    val rnd = new scala.util.Random(seed)
    val nBytes = sample.head.length
    var centroids = rnd.shuffle(sample.toVector).take(k).map(_.clone()).toArray
    if (centroids.length < k)
      centroids = Array.tabulate(k)(i => centroids(i % centroids.length).clone())
    var it = 0
    while (it < iters) {
      val ones = Array.fill(k)(new Array[Int](nBytes * 8))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestHamming(centroids, v)
        counts(c) += 1
        var b = 0
        while (b < nBytes * 8) {
          if ((v(b >> 3) >> (7 - (b & 7)) & 1) == 1) ones(c)(b) += 1
          b += 1
        }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val out = new Array[Byte](nBytes)
          var b = 0
          while (b < nBytes * 8) {
            // majority vote per bit (ties → 0)
            if (2 * ones(c)(b) > counts(c)) {
              out(b >> 3) = (out(b >> 3) | (1 << (7 - (b & 7)))).toByte
            }
            b += 1
          }
          centroids(c) = out
        } else {
          centroids(c) = sample(rnd.nextInt(sample.length)).clone()
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      indexName: String,
      indexDir: String,
      nLists: Int = 16,
      trainSampleSize: Int = 100000,
      sourcePath: String = "",
      defaultNprobe: Int = 4,
      metric: String = "hamming"): IvfIndex.IndexEntry = {
    // the DECLARED ranking metric (reference binary types take Hamming or
    // Jaccard): probe ranking and within-probe scoring honor it; list
    // ASSIGNMENT stays Hamming-k-majority (centroids are bit-majorities —
    // a routing heuristic either way; within-probe results are exact in
    // the declared metric)
    require(metric == "hamming" || metric == "jaccard",
      s"binary index metric must be Hamming or Jaccard, got '$metric'")
    IvfIndex.Catalog.register(IvfIndex.IndexEntry(indexName, indexDir,
      sourcePath, vecCol, "BinaryIVF", metric, "BUILDING", 0L, defaultNprobe))
    IvfIndex.Catalog.logEvent(indexName, "BUILD_START", s"BinaryIVF nLists=$nLists")

    val n = df.count()
    val fraction = math.min(1.0, trainSampleSize.toDouble / math.max(1L, n))
    val sample = df.sample(withReplacement = false, fraction, seed = 42L)
      .select(col(vecCol)).collect().map(_.getAs[Array[Byte]](0))
    val centroids = kMajority(sample, nLists)
    val nBytes = centroids.head.length

    val bc = spark.sparkContext.broadcast(centroids)
    val assignU = udf((v: Array[Byte]) => nearestHamming(bc.value, v))
    df.withColumn("list_id", assignU(col(vecCol)))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")

    IndexArtifact.BinaryCentroids.write(spark, indexDir, centroids)
    val art = IndexArtifact.write(indexDir, "BinaryIVF",
      BMeta(nLists, nBytes, n, vecCol, idCol, "BUILT", metric))
    IndexArtifact.BinaryCentroids.put(art, centroids)

    val entry = IvfIndex.IndexEntry(indexName, indexDir, sourcePath, vecCol,
      "BinaryIVF", metric, "BUILT", n, defaultNprobe)
    IvfIndex.Catalog.register(entry)
    IvfIndex.Catalog.logEvent(indexName, "BUILD_FINISH", s"nRows=$n")
    entry
  }

  private def artifact(indexDir: String): IndexArtifact.Artifact[BMeta] =
    IndexArtifact.read(indexDir, classOf[BMeta])

  /** The probe set [[search]] uses — public for replay oracles (same
    * contract as [[IvfIndex.probeSet]]). Ranks centroids by the index's
    * DECLARED metric.
    */
  def probeSet(
      spark: SparkSession,
      indexDir: String,
      qvec: Array[Byte],
      nprobe: Int): Seq[Int] =
    probes(spark, artifact(indexDir), qvec, nprobe)

  private def probes(spark: SparkSession, art: IndexArtifact.Artifact[BMeta],
      qvec: Array[Byte], nprobe: Int): Seq[Int] = {
    val centroids = IndexArtifact.BinaryCentroids.load(spark, art)
    val kernel: (Array[Byte], Array[Byte]) => Float =
      if (art.meta.metric == "jaccard") VectorKernels.jaccardBits
      else VectorKernels.hammingBits
    centroids.zipWithIndex
      .map { case (c, i) => (kernel(c, qvec), i) }
      .sortBy(_._1).take(math.min(nprobe, centroids.length)).map(_._2).toSeq
  }

  /** nprobe search over the pruned lists, ranking in the index's declared
    * binary metric (exact within probes).
    */
  def search(
      spark: SparkSession,
      indexDir: String,
      qvec: Array[Byte],
      k: Int,
      nprobe: Int = 4,
      preFilter: Option[Column] = None,
      distName: String = "d",
      tieBreak: Seq[Column] = Nil,
      deletes: Option[DataFrame] = None): DataFrame = {
    val art = artifact(indexDir)
    val meta = art.meta
    val pruned = IvfIndex.probedLists(spark, indexDir,
      probes(spark, art, qvec, nprobe), deletes, preFilter)
    val kernel =
      if (meta.metric == "jaccard") distances.jaccardDistance _
      else distances.hammingDistance _
    pruned
      .withColumn(distName, kernel(col(meta.vecCol), lit(qvec)))
      .orderBy(col(distName).asc +: tieBreak: _*)
      .limit(k)
      .drop("list_id")
  }
}
