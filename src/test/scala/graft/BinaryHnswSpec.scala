package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.distances
import graft.operators.{BinaryHnswIndex, IvfIndex}

class BinaryHnswSpec extends SparkSpec {

  lazy val docs = Tables.t(spark, sfDir, "documents")
    .select(col("doc_id"), unhex(md5(col("text"))).as("bvec")).cache()
  lazy val qv: Array[Byte] = docs.filter(col("doc_id") === 7)
    .select("bvec").head().getAs[Array[Byte]](0)

  lazy val indexDir: String = {
    val dir = tempDir("bhnsw-spec").toString
    BinaryHnswIndex.build(spark, docs, "doc_id", "bvec", "spec_bhnsw", dir,
      m = 12, efConstruction = 80, numPartitions = Some(2))
    dir
  }

  def brute(k: Int): Seq[(Long, Float)] =
    docs.withColumn("d", distances.hammingDistance(col("bvec"), lit(qv)))
      .orderBy(col("d"), col("doc_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getFloat(2))).toSeq

  test("bitsToFloats: squared L2 equals Hamming") {
    val a = Array[Byte](-1, 0)  // 11111111 00000000
    val b = Array[Byte](0, -1)
    val fa = BinaryHnswIndex.bitsToFloats(a)
    val fb = BinaryHnswIndex.bitsToFloats(b)
    assert(fa.length === 16 && fa.take(8).forall(_ == 1f) && fa.drop(8).forall(_ == 0f))
    val l2sq = graft.functions.VectorKernels.l2sq(fa, fb)
    assert(l2sq === graft.functions.VectorKernels.hammingBits(a, b))
  }

  test("catalog registers BinaryHNSW with hamming metric") {
    indexDir
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_bhnsw").head()
    assert(cat.getAs[String]("indexType") === "BinaryHNSW")
    assert(cat.getAs[String]("metric") === "hamming")
  }

  test("search recall vs brute Hamming, with integer-exact distances") {
    val got = BinaryHnswIndex.search(spark, indexDir, qv, 10, ef = 256)
      .collect().map(r => (r.getLong(0), r.getFloat(1)))
    val bruteTop = brute(10)
    val recall = (got.map(_._1).toSet & bruteTop.map(_._1).toSet).size / 10.0
    assert(recall >= 0.7, s"recall@10 = $recall")
    // distances are integers and match the exact kernel per id
    val exact = docs.withColumn("d", distances.hammingDistance(col("bvec"), lit(qv)))
      .collect().map(r => r.getLong(0) -> r.getFloat(2)).toMap
    got.foreach { case (id, d) =>
      assert(d === math.round(d).toFloat)
      assert(d === exact(id), s"id $id")
    }
  }
}
