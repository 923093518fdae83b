package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, MstgIndex, VectorSearch}

/** MSTG DDL stand-in: reference parameter-string validation
  * (parseVSParameters.cpp:43-220) + build/search over the IVF backend
  * (reference test 00028_mqvs_index_mstg_build_search.sql shape).
  */
class MstgIndexSpec extends SparkSpec {

  def emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
  lazy val qv: Seq[Float] = emb.filter(col("vec_id") === 0)
    .select(col("embedding")).head().getSeq[Float](0)

  test("parseArg: space stripping, exactly one `=`, non-empty key/value") {
    assert(MstgIndex.parseArg(" disk_mode = 1 ") === ("disk_mode", "1"))
    intercept[IllegalArgumentException](MstgIndex.parseArg("disk_mode"))
    intercept[IllegalArgumentException](MstgIndex.parseArg("a=b=c"))
    intercept[IllegalArgumentException](MstgIndex.parseArg("=1"))
    intercept[IllegalArgumentException](MstgIndex.parseArg("disk_mode="))
  }

  test("build params: unknown key, non-int value, candidate sets rejected") {
    val dir = tempDir("mstg-bad").toString
    def build(params: String*) =
      MstgIndex.build(spark, emb, "embedding", "bad_mstg", dir,
        params = params, nLists = 4)
    val unknown = intercept[IllegalArgumentException](build("bogus_knob=1"))
    assert(unknown.getMessage.contains("supported arguments is [disk_mode,metric_type]"))
    val nonInt = intercept[IllegalArgumentException](build("disk_mode=fast"))
    assert(nonInt.getMessage.contains("Expects an integer value"))
    val badCand = intercept[IllegalArgumentException](build("disk_mode=7"))
    assert(badCand.getMessage.contains("should be one of [0, 1, 2]"))
    val badMetric = intercept[IllegalArgumentException](build("metric_type=Hamming"))
    assert(badMetric.getMessage.contains("should be one of [L2,Cosine,IP]"))
    assert(IvfIndex.Catalog.lookup("bad_mstg").isEmpty
      || IvfIndex.Catalog.lookup("bad_mstg").exists(_.status != "BUILT"))
  }

  test("search params: alpha range enforced, string rejected") {
    val dir = tempDir("mstg-s").toString
    MstgIndex.build(spark, emb, "embedding", "s_mstg", dir,
      params = Seq("disk_mode=0"), nLists = 4)
    try {
      val range = intercept[IllegalArgumentException](
        MstgIndex.search(spark, dir, qv, 5, params = Seq("alpha=9")).collect())
      assert(range.getMessage.contains("range needs to be 1.0~4.0"))
      val str = intercept[IllegalArgumentException](
        MstgIndex.search(spark, dir, qv, 5, params = Seq("alpha=high")).collect())
      assert(str.getMessage.contains("can't be string"))
      val unknown = intercept[IllegalArgumentException](
        MstgIndex.search(spark, dir, qv, 5, params = Seq("nprobe=4")).collect())
      assert(unknown.getMessage.contains("Unsupported vector search argument"))
    } finally IvfIndex.Catalog.drop("s_mstg")
  }

  test("MSTG build + alpha=4 search is exact; catalog row reports MSTG") {
    val dir = tempDir("mstg-ok").toString
    MstgIndex.build(spark, emb, "embedding", "ok_mstg", dir,
      params = Seq("disk_mode=1", "metric_type=L2"), nLists = 4)
    try {
      val entry = IvfIndex.Catalog.lookup("ok_mstg").get
      assert(entry.indexType === "MSTG" && entry.status === "BUILT")
      val got = MstgIndex.search(spark, dir, qv, 10, params = Seq("alpha=4"),
          tieBreak = Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val brute = VectorSearch.topK(emb, col("embedding"), qv, 10, "l2",
          None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got.sorted === brute.sorted)
      // cosine variant builds with the mapped metric
      val dir2 = tempDir("mstg-cos").toString
      MstgIndex.build(spark, emb, "embedding", "cos_mstg", dir2,
        params = Seq("metric_type=Cosine"), nLists = 4)
      try assert(IvfIndex.Catalog.lookup("cos_mstg").get.metric === "cosine")
      finally IvfIndex.Catalog.drop("cos_mstg")
    } finally IvfIndex.Catalog.drop("ok_mstg")
  }

  test("TYPE DEFAULT resolves by column type: float -> MSTG, binary -> BinaryMSTG (00041 golden)") {
    import org.apache.spark.sql.types._
    assert(MstgIndex.defaultIndexType(ArrayType(FloatType, containsNull = false)) === "MSTG")
    assert(MstgIndex.defaultIndexType(ArrayType(FloatType, containsNull = true)) === "MSTG")
    assert(MstgIndex.defaultIndexType(BinaryType) === "BinaryMSTG")
    // no default for non-vector column types (the reference rejects at DDL)
    assertThrows[IllegalArgumentException](MstgIndex.defaultIndexType(StringType))
    assertThrows[IllegalArgumentException](MstgIndex.defaultIndexType(ArrayType(DoubleType)))
  }

  test("buildDefault dispatches by column type and stamps the catalog row (00041 product surface)") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings").limit(200)
    val dirF = tempDir("default-float").toString
    val ef = MstgIndex.buildDefault(spark, emb, "vec_id", "embedding",
      "def_float", dirF, params = Seq("metric_type=Cosine"))
    try assert(ef.indexType === "MSTG" &&
      IvfIndex.Catalog.lookup("def_float").get.indexType === "MSTG")
    finally IvfIndex.Catalog.drop("def_float")
    val bin = graft.engine.Tables.t(spark, sfDir, "documents").limit(200)
      .select(col("doc_id"), unhex(md5(col("text"))).as("bvec"))
    val dirB = tempDir("default-bin").toString
    val eb = MstgIndex.buildDefault(spark, bin, "doc_id", "bvec",
      "def_bin", dirB, params = Seq("metric_type=Jaccard"))
    try {
      assert(eb.indexType === "BinaryMSTG" &&
        IvfIndex.Catalog.lookup("def_bin").get.indexType === "BinaryMSTG")
      // the DECLARED metric reaches the catalog AND the ranking: a
      // Jaccard-declared index must return the brute-force Jaccard
      // top-k under exhaustive probes, not the Hamming one
      assert(eb.metric === "jaccard")
      val got = graft.operators.BinaryIvfIndex.search(spark, dirB,
          bin.filter(col("doc_id") === 0).select("bvec").head().getAs[Array[Byte]](0),
          10, nprobe = 16, tieBreak = Seq(col("doc_id")))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val q0 = bin.filter(col("doc_id") === 0).select("bvec").head().getAs[Array[Byte]](0)
      val brute = bin
        .withColumn("d", graft.functions.distances.jaccardDistance(col("bvec"), lit(q0)))
        .orderBy(col("d"), col("doc_id")).limit(10)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got === brute)
    } finally IvfIndex.Catalog.drop("def_bin")
    // float metric names are rejected on the binary grid (reference
    // param validation posture)
    val dirX = tempDir("default-bad").toString
    assertThrows[IllegalArgumentException](
      MstgIndex.buildDefault(spark, bin, "doc_id", "bvec", "def_bad", dirX,
        params = Seq("metric_type=L2")))
  }
}
