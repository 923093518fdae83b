package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BinaryHNSW — HNSW graph search over binary vectors with Hamming
  * distance (reference type registry `parseVSParameters.cpp:77-112`,
  * binary feature test `00038_mqvs_binary_vector_feature.sql`).
  *
  * Realization: each bit expands to a 0/1 float, because squared L2 over
  * 0/1 vectors IS the Hamming distance — so the whole [[HnswIndex]]
  * machinery (per-part graphs, shuffle-free search, per-JVM cache) is
  * reused verbatim with `metric=l2`: [[search]] is [[HnswIndex.search]]
  * on the expanded query, and the replay oracle reads the same index
  * through [[HnswIndex.candidatePool]]. Graphs are built with
  * `quantize=true`, so the persisted rows store 1 byte per BIT (the SQ
  * codes of the 0/1 floats); reported distances are converted back to
  * integer Hamming by squaring.
  */
object BinaryHnswIndex {

  private[graft] def bitsToFloats(b: Array[Byte]): Array[Float] = {
    val out = new Array[Float](b.length * 8)
    var i = 0
    while (i < b.length) {
      var j = 0
      while (j < 8) {
        out(i * 8 + j) = (b(i) >> (7 - j)) & 1
        j += 1
      }
      i += 1
    }
    out
  }

  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      indexName: String,
      indexDir: String,
      m: Int = 16,
      efConstruction: Int = 100,
      numPartitions: Option[Int] = None,
      sourcePath: String = ""): IvfIndex.IndexEntry = {
    val conv = udf((b: Array[Byte]) => bitsToFloats(b))
    val expanded = df.withColumn("__bits", conv(col(vecCol)))
    val base = HnswIndex.build(spark, expanded, idCol, "__bits", indexName,
      indexDir, "l2", m, efConstruction, numPartitions, sourcePath,
      quantize = true)
    val entry = base.copy(indexType = "BinaryHNSW", metric = "hamming",
      vecCol = vecCol)
    IvfIndex.Catalog.register(entry)
    entry
  }

  /** Top-k by Hamming distance: `(id, d)` with integer-exact d. */
  def search(
      spark: SparkSession,
      indexDir: String,
      qvec: Array[Byte],
      k: Int,
      ef: Int = 64): DataFrame = {
    HnswIndex.search(spark, indexDir, bitsToFloats(qvec).toSeq, k, ef, "l2")
      // L2 = sqrt(ΣΔ²) over 0/1 dims ⇒ d² is the bit-difference count
      .withColumn("d", round(col("d") * col("d")).cast("float"))
      .orderBy(col("d"), col("id"))
  }
}
