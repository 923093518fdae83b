package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.distances
import graft.operators.{BinaryIvfIndex, IvfIndex}

class BinaryIvfSpec extends SparkSpec {

  lazy val docs = Tables.t(spark, sfDir, "documents")
    .select(col("doc_id"), unhex(md5(col("text"))).as("bvec")).cache()
  lazy val qv: Array[Byte] = docs.filter(col("doc_id") === 0)
    .select("bvec").head().getAs[Array[Byte]](0)

  lazy val indexDir: String = {
    val dir = tempDir("bivf-spec").toString
    BinaryIvfIndex.build(spark, docs, "doc_id", "bvec", "spec_bivf", dir,
      nLists = 8)
    dir
  }

  def bruteIds(k: Int): Seq[Long] =
    docs.withColumn("d", distances.hammingDistance(col("bvec"), lit(qv)))
      .orderBy(col("d"), col("doc_id")).limit(k)
      .select("doc_id").collect().map(_.getLong(0)).toSeq

  test("build partitions lists by centroid; catalog reports BinaryIVF") {
    indexDir
    val lists = spark.read.parquet(s"$indexDir/lists")
    assert(lists.count() === docs.count())
    assert(lists.select("list_id").distinct().count() <= 8)
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_bivf").head()
    assert(cat.getAs[String]("indexType") === "BinaryIVF")
    assert(cat.getAs[String]("metric") === "hamming")
  }

  test("kMajority is deterministic and centroids are bitwise-majority") {
    // 3 identical vectors + 1 outlier in one cluster → majority keeps the 3
    val a = Array[Byte](-1, 0)  // 0xff00
    val b = Array[Byte](0, -1)  // 0x00ff
    val sample = Array(a, a, a, b, b, b)
    val c1 = BinaryIvfIndex.kMajority(sample, 2)
    val c2 = BinaryIvfIndex.kMajority(sample, 2)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    assert(c1.map(_.toSeq).toSet === Set(a.toSeq, b.toSeq))
  }

  test("exhaustive probes reproduce exact brute-force Hamming top-K") {
    val got = BinaryIvfIndex.search(spark, indexDir, qv, 10, nprobe = 8,
        None, "d", Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === bruteIds(10))
  }

  test("nprobe pruning keeps useful recall") {
    val got = BinaryIvfIndex.search(spark, indexDir, qv, 10, nprobe = 3,
        None, "d", Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.3, s"recall@10 = $recall (nprobe=3/8)")
  }

  test("delete mask inside binary index search") {
    import spark.implicits._
    val nearest = bruteIds(2)
    val got = BinaryIvfIndex.search(spark, indexDir, qv, 10, nprobe = 8,
        None, "d", Seq(col("doc_id")), deletes = Some(nearest.toDF("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.intersect(nearest.toSet).isEmpty)
  }
}
