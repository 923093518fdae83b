package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.VectorKernels
import graft.operators.{IvfIndex, SqIndex, VectorSearch}

class SqIndexSpec extends SparkSpec {

  lazy val emb = Tables.t(spark, sfDir, "embeddings").cache()
  lazy val qv: Seq[Float] = emb.filter(col("vec_id") === 3)
    .select(col("embedding")).head().getSeq[Float](0)
  lazy val nEmb: Long = emb.count()

  lazy val indexDir: String = {
    val dir = tempDir("sq-spec").toString
    SqIndex.build(spark, emb, "vec_id", "embedding", "spec_ivfsq", dir,
      "l2", nLists = 8)
    dir
  }

  def bruteIds(k: Int): Seq[Long] =
    VectorSearch.topK(emb, col("embedding"), qv, k, "l2", None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("lists store int8 codes, not floats — 4x footprint cut") {
    indexDir
    val lists = spark.read.parquet(s"$indexDir/lists")
    assert(lists.columns.contains("qcodes"))
    assert(!lists.columns.contains("embedding"))
    assert(lists.count() === nEmb)
    val dim = qv.length
    val codeLen = lists.select(length(col("qcodes"))).head().getInt(0)
    assert(codeLen === dim) // 1 byte/dim vs 4
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_ivfsq").head()
    assert(cat.getAs[String]("indexType") === "IVFSQ")
  }

  test("sq encode/decode roundtrip error is bounded by one step") {
    val scale = Array(0.1f, 0.5f)
    val offset = Array(-1f, 2f)
    val v = Array(0.42f, 50f)
    val codes = VectorKernels.sqEncode(v, scale, offset)
    var j = 0
    while (j < v.length) {
      val deq = offset(j) + (codes(j) & 0xff) * scale(j)
      val clamped = math.max(offset(j), math.min(offset(j) + 255 * scale(j), v(j)))
      assert(math.abs(deq - clamped) <= scale(j) / 2 + 1e-6, s"dim $j")
      j += 1
    }
  }

  test("exhaustive probes + full reorder reproduce exact brute force") {
    val got = SqIndex.search(spark, indexDir, emb, qv, 10,
        numReorder = nEmb.toInt, nprobe = 8, None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === bruteIds(10))
  }

  test("quantized stage-1 recall is high with modest reorder") {
    val got = SqIndex.search(spark, indexDir, emb, qv, 10,
        numReorder = 50, nprobe = 8, None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.9, s"recall@10 = $recall (numReorder=50)")
  }

  test("nprobe pruning still finds most neighbors") {
    val got = SqIndex.search(spark, indexDir, emb, qv, 10,
        numReorder = 50, nprobe = 4, None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.5, s"recall@10 = $recall (nprobe=4/8)")
  }

  test("exact re-rank distances equal the float kernel") {
    val rows = SqIndex.search(spark, indexDir, emb, qv, 5,
        numReorder = 50, nprobe = 8, None, "d", Seq(col("vec_id"))).collect()
    val byId = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { r =>
      val expect = VectorKernels.distance(byId(r.getLong(0)), qv.toArray,
        graft.functions.Metric.L2)
      assert(math.abs(r.getAs[Float]("d") - expect) < 1e-5)
    }
  }
}
