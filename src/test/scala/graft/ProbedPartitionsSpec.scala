package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{FtsIndex, IvfIndex, ProbedPartitions, VectorSearch}

/** Edge cases of the pruned artifact read behind IVF and FTS search:
  * partitions that do not exist, appends seen by the next query, and a
  * footer without Spark's schema.
  */
class ProbedPartitionsSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.t(spark, sfDir, "embeddings").cache()

  def vecOf(id: Long): Seq[Float] =
    emb.filter(col("vec_id") === id).select(col("embedding")).head().getSeq[Float](0)

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  test("a probed IVF list with no list_id= directory is skipped; none left → empty") {
    val dir = tempDir("pp-ivf").toString
    try {
      IvfIndex.build(spark, emb, "embedding", "pp_ivf", dir, "l2", nLists = 8)
      val qv = vecOf(7)
      val probes = IvfIndex.probeSet(spark, dir, qv, nprobe = 8)
      val gone = probes.head // the list nearest the query
      val goneIds = spark.read.parquet(s"$dir/lists").filter(col("list_id") === gone)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(goneIds.contains(7L))
      deleteTree(s"$dir/lists/list_id=$gone")

      val got = IvfIndex.search(spark, dir, qv, 10, nprobe = 8, None, None, "d",
          Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val want = VectorSearch.topK(emb.filter(!col("vec_id").isin(goneIds.toSeq: _*)),
          col("embedding"), qv, 10, "l2", None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got === want)

      // only the missing list probed: an empty result with the lists' columns
      val none = IvfIndex.search(spark, dir, qv, 10, nprobe = 1, None, None, "d",
        Seq(col("vec_id")))
      assert(none.count() === 0)
      assert(none.columns.toSeq === emb.columns.toSeq :+ "d")
    } finally IvfIndex.Catalog.drop("pp_ivf")
  }

  lazy val corpus = Seq(
    (1L, "spark joins data fast"),
    (2L, "spark spark spark everywhere"),
    (3L, "ducks swim in ponds")).toDF("doc_id", "text")

  test("FTS query whose buckets have no directory returns the empty (doc_id, score) frame") {
    val dir = tempDir("pp-fts").toString
    FtsIndex.build(spark, corpus, "doc_id", "text", "pp_fts", dir, nBuckets = 64)
    val present = Files.list(Paths.get(s"$dir/postings")).toArray.map(_.toString)
      .filter(_.contains("bucket=")).map(_.split("bucket=").last.toInt).toSet
    val absent = Iterator.from(0).map(i => s"zz$i")
      .find(t => !present.contains(FtsIndex.bucketOf(t, 64))).get
    for (op <- Seq("OR", "AND")) {
      val res = FtsIndex.search(spark, dir, absent, 10, op)
      assert(res.schema.map(f => f.name -> f.dataType.simpleString) ===
        Seq("doc_id" -> "bigint", "bm25_score" -> "double"))
      assert(res.count() === 0)
    }
  }

  test("FTS AND with one term missing from the index matches nothing; OR still scores") {
    val dir = tempDir("pp-fts-and").toString
    FtsIndex.build(spark, corpus, "doc_id", "text", "pp_fts_and", dir, nBuckets = 8)
    // "zebra" is in no document; its bucket may or may not hold other terms
    assert(FtsIndex.search(spark, dir, "spark zebra", 10, "AND").count() === 0)
    assert(FtsIndex.search(spark, dir, "spark zebra", 10, "OR")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(FtsIndex.search(spark, dir, "spark fast", 10, "AND")
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("IvfIndex.append is seen by the next search") {
    val dir = tempDir("pp-ivf-append").toString
    try {
      IvfIndex.build(spark, emb.filter(col("vec_id") < 250), "embedding",
        "pp_ivf_append", dir, "l2", nLists = 8)
      val newId = emb.filter(col("vec_id") >= 250).select("vec_id").head().getLong(0)
      val qv = vecOf(newId)
      def top1 = IvfIndex.search(spark, dir, qv, 1, nprobe = 8, None, None, "d",
          Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(top1 !== Seq(newId))
      IvfIndex.append(spark, emb.filter(col("vec_id") >= 250), "pp_ivf_append", dir)
      assert(top1 === Seq(newId))
    } finally IvfIndex.Catalog.drop("pp_ivf_append")
  }

  test("FtsIndex.append is seen by the next search") {
    val dir = tempDir("pp-fts-append").toString
    FtsIndex.build(spark, corpus, "doc_id", "text", "pp_fts_append", dir, nBuckets = 8)
    def hits(q: String) = FtsIndex.search(spark, dir, q, 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits("otters") === Set.empty[Long])
    FtsIndex.append(spark, Seq((4L, "otters swim"), (5L, "spark otters")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(hits("otters") === Set(4L, 5L))
    assert(hits("spark") === Set(1L, 2L, 5L))
  }

  test("a footer without Spark's schema key reads like Spark") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val root = tempDir("pp-footer").toString
    Files.createDirectories(Paths.get(s"$root/bucket=3"))
    val file = new org.apache.hadoop.fs.Path(s"$root/bucket=3/part-0.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 doc_id; required binary term (UTF8); }")
    val writer = ExampleParquetWriter.builder(file).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("doc_id", 1L).append("term", "spark"))
    finally writer.close()
    // no key: the parquet schema goes through the session's converter,
    // the fallback Spark's own inference takes
    val got = ProbedPartitions.read(spark, root, "bucket", Seq(3))
    val spark3 = spark.read.parquet(root)
    assert(got.schema === spark3.schema)
    assert(got.collect().toSeq === spark3.collect().toSeq)
  }
}
