package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.VectorKernels
import graft.operators.{IvfIndex, PqIndex, VectorSearch}

class PqIndexSpec extends SparkSpec {

  lazy val emb = Tables.t(spark, sfDir, "embeddings").cache()
  lazy val qv: Seq[Float] = emb.filter(col("vec_id") === 9)
    .select(col("embedding")).head().getSeq[Float](0)
  lazy val nEmb: Long = emb.count()

  lazy val indexDir: String = {
    val dir = tempDir("pq-spec").toString
    PqIndex.build(spark, emb, "vec_id", "embedding", "spec_ivfpq", dir,
      "l2", nLists = 8, m = 8)
    dir
  }

  def bruteIds(k: Int): Seq[Long] =
    VectorSearch.topK(emb, col("embedding"), qv, k, "l2", None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("lists store m-byte PQ codes (8x smaller than SQ, 32x vs float)") {
    indexDir
    val lists = spark.read.parquet(s"$indexDir/lists")
    assert(lists.columns.contains("pqcodes") && !lists.columns.contains("embedding"))
    assert(lists.select(length(col("pqcodes"))).head().getInt(0) === 8) // m bytes
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_ivfpq").head()
    assert(cat.getAs[String]("indexType") === "IVFPQ")
  }

  test("ADC table lookup equals direct distance to dequantized codes") {
    val books = Array.tabulate(2)(s =>
      Array.tabulate(4)(c => Array.fill(2)(s + c * 0.5f)))
    val q = Array(1f, 2f, 3f, 4f)
    val table = PqIndex.adcTable(q, books, "l2")
    val codes = Array[Byte](1, 3)
    val adc = VectorKernels.pqAdc(codes, table)
    // manual: dequantized = books(0)(1) ++ books(1)(3)
    val deq = books(0)(1) ++ books(1)(3)
    val expect = VectorKernels.l2sq(q, deq)
    assert(math.abs(adc - expect) < 1e-5)
  }

  test("exhaustive probes + full reorder reproduce exact brute force") {
    val got = PqIndex.search(spark, indexDir, emb, qv, 10,
        numReorder = nEmb.toInt, nprobe = 8, None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === bruteIds(10))
  }

  test("ADC stage-1 recall is high with modest reorder") {
    val got = PqIndex.search(spark, indexDir, emb, qv, 10,
        numReorder = 50, nprobe = 8, None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.8, s"recall@10 = $recall (numReorder=50)")
  }

  test("encode is deterministic and codes index the codebooks") {
    val books = Array.tabulate(4)(s => Array.tabulate(16)(c => Array.fill(16)(c * 1f)))
    val v = Array.fill(64)(3.2f)
    val c1 = PqIndex.encode(v, books)
    val c2 = PqIndex.encode(v, books)
    assert(c1.toSeq === c2.toSeq)
    assert(c1.forall(b => (b & 0xff) === 3)) // nearest centroid value 3.0
  }
}
