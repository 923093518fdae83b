package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.{IvfIndex, PqIndex, SqIndex, VectorSearch}

class IvfIndexSpec extends SparkSpec {

  lazy val emb = Tables.t(spark, sfDir, "embeddings").cache()
  lazy val qv: Seq[Float] = emb.filter(col("vec_id") === 7)
    .select(col("embedding")).head().getSeq[Float](0)

  lazy val indexDir: String = {
    val dir = tempDir("ivf-spec").toString
    IvfIndex.build(spark, emb, "embedding", "spec_ivf", dir, "l2", nLists = 8)
    dir
  }

  def bruteIds(k: Int): Seq[Long] =
    VectorSearch.topK(emb, col("embedding"), qv, k, "l2", None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("build writes centroids, lists and meta; catalog reports BUILT") {
    indexDir // force build
    assert(Files.exists(java.nio.file.Paths.get(s"$indexDir/meta.json")))
    assert(spark.read.parquet(s"$indexDir/centroids").count() === 8)
    val listed = spark.read.parquet(s"$indexDir/lists")
    assert(listed.count() === emb.count())
    assert(listed.select("list_id").distinct().count() <= 8)
    val cat = IvfIndex.Catalog.asDataFrame(spark)
      .filter(col("name") === "spec_ivf").head()
    assert(cat.getAs[String]("status") === "BUILT")
  }

  test("exhaustive probes reproduce exact brute-force top-K") {
    val got = IvfIndex.search(spark, indexDir, qv, 10, nprobe = 8,
        None, None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === bruteIds(10))
  }

  test("searchJoined: join fed from probed lists, exact at full probes") {
    val docs = Tables.t(spark, sfDir, "documents")
    val df = IvfIndex.searchJoined(spark, indexDir, qv, 10,
      broadcast(docs), col("vec_id") === col("doc_id"),
      nprobe = 8, distName = "d", tieBreak = Seq(col("vec_id")))
    // the indexed side of the join is the pruned lists scan, not the
    // source table: list_id partition pruning shows in the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("lists"), s"expected lists scan in:\n${plan.take(1200)}")
    assert(plan.contains("list_id"), "expected list_id partition pruning")
    // exact vs brute join-then-rank at exhaustive probes
    val joined = emb.join(docs, col("vec_id") === col("doc_id"))
    val brute = VectorSearch.topK(joined, col("embedding"), qv, 10, "l2",
        None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(df.select("vec_id").collect().map(_.getLong(0)).toSeq === brute)
    // partial probes really prune: fewer candidate rows feed the join
    val partial = IvfIndex.searchJoined(spark, indexDir, qv, 10,
      broadcast(docs), col("vec_id") === col("doc_id"), nprobe = 2)
    assert(partial.count() === 10)
  }

  test("nprobe search prunes partitions and keeps useful recall") {
    val got = IvfIndex.search(spark, indexDir, qv, 10, nprobe = 2,
        None, None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.3, s"recall@10=$recall with nprobe=2/8")
    // the probed scan reads at most 2 of 8 list partitions
    val scanned = IvfIndex.search(spark, indexDir, qv, 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(scanned.contains("list_id"))
  }

  test("pre-filter inside index search keeps filtered top-K exact") {
    val got = IvfIndex.search(spark, indexDir, qv, 5, nprobe = 8,
        None, Some(col("label") === 1), "d", Seq(col("vec_id")))
      .select("vec_id", "label").collect()
    assert(got.forall(_.getInt(1) === 1))
    val brute = VectorSearch.topK(emb, col("embedding"), qv, 5, "l2",
        Some(col("label") === 1), "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.map(_.getLong(0)).toSeq === brute)
  }

  test("delete mask inside index search: masked rows never surface") {
    import spark.implicits._
    val nearest = bruteIds(3) // delete the 3 nearest to the query
    val deleted = nearest.toDF("vec_id")
    val got = IvfIndex.search(spark, indexDir, qv, 10, nprobe = 8,
        None, None, "d", Seq(col("vec_id")), deletes = Some(deleted))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.toSet.intersect(nearest.toSet).isEmpty)
    // exhaustive probes + mask == exact brute force over survivors
    val brute = VectorSearch.topK(
        emb.filter(!col("vec_id").isin(nearest: _*)),
        col("embedding"), qv, 10, "l2", None, "d", Seq(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === brute)
  }

  test("vector_index_segments reports per-list build state") {
    indexDir // force build
    val segs = IvfIndex.Catalog.segmentsFor("spec_ivf")
    assert(segs.size === 8)
    assert(segs.forall(s => s.state == "BUILT" || s.state == "SMALL_PART"))
    assert(segs.map(_.nRows).sum === emb.count())
    val df = IvfIndex.Catalog.segmentsDataFrame(spark)
    assert(df.columns.toSeq ===
      Seq("indexName", "segmentId", "state", "nRows", "failReason"))
    assert(df.filter(col("indexName") === "spec_ivf").count() === 8)
  }

  test("vector_index_event_log records the build lifecycle") {
    indexDir // force build
    val evs = IvfIndex.Catalog.events("spec_ivf").map(_.event)
    assert(evs.contains("BUILD_START") && evs.contains("BUILD_FINISH"))
    val df = IvfIndex.Catalog.eventLogDataFrame(spark)
    assert(df.columns.toSeq === Seq("eventTimeMs", "indexName", "event", "detail"))
    assert(df.filter(col("indexName") === "spec_ivf").count() >= 2)
  }

  test("kmeans is deterministic and produces k centroids") {
    val sample = Array.tabulate(100)(i => Array(i.toFloat, (i % 10).toFloat))
    val c1 = IvfIndex.kmeans(sample, 4)
    val c2 = IvfIndex.kmeans(sample, 4)
    assert(c1.length === 4)
    assert(c1.map(_.toSeq) === c2.map(_.toSeq))
  }

  test("incremental append: assign to existing centroids, exact at full probes") {
    val dir = tempDir("ivf-append").toString
    try {
      IvfIndex.build(spark, emb.filter(col("vec_id") < 250), "embedding",
        "append_ivf", dir, "l2", nLists = 8)
      IvfIndex.append(spark, emb.filter(col("vec_id") >= 250),
        "append_ivf", dir)
      val got = IvfIndex.search(spark, dir, qv, 10, nprobe = 8,
          None, None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got === bruteIds(10)) // exhaustive probes ⇒ exact over ALL rows
      val cat = IvfIndex.Catalog.asDataFrame(spark)
        .filter(col("name") === "append_ivf").head()
      assert(cat.getAs[Long]("nRows") === emb.count())
      val segs = IvfIndex.Catalog.segmentsFor("append_ivf")
      assert(segs.map(_.nRows).sum === emb.count())
      assert(IvfIndex.Catalog.events("append_ivf").exists(_.event == "APPEND"))
    } finally IvfIndex.Catalog.drop("append_ivf")
  }

  test("distributed KMeans training path builds a working index") {
    val dir = tempDir("ivf-ml").toString
    try {
      IvfIndex.build(spark, emb, "embedding", "ml_ivf", dir, "l2",
        nLists = 4)
      val got = IvfIndex.search(spark, dir, qv, 10, nprobe = 4,
          None, None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got === bruteIds(10)) // exhaustive probes ⇒ exact
      assert(spark.read.parquet(s"$dir/centroids").count() === 4)
    } finally IvfIndex.Catalog.drop("ml_ivf")
  }

  test("mutations on non-vector columns reuse the index unchanged (00023)") {
    // Reference 00023_mqvs_mutation_can_reuse_vector_index: an UPDATE that
    // doesn't touch the vector column must not invalidate the index. Our
    // index stores (id, vector) only, so a payload mutation composes with
    // an existing index by joining search hits back to the mutated table.
    val mutated = graft.operators.RelationalOps.update(
      emb, col("vec_id") % 2 === 0, Seq("label" -> lit(999)))
    val hits = IvfIndex.search(spark, indexDir, qv, 10, nprobe = 8,
        None, None, "d", Seq(col("vec_id")))
      .select(col("vec_id"), col("d"))
    val joined = hits.join(mutated.select(col("vec_id"), col("label")), "vec_id")
    val rows = joined.collect()
    assert(rows.length === 10)
    // mutated labels visible; index files untouched (same search results)
    assert(rows.filter(_.getAs[Long]("vec_id") % 2 == 0)
      .forall(_.getAs[Int]("label") === 999))
    assert(hits.select("vec_id").collect().map(_.getLong(0)).toSeq === bruteIds(10))
  }

  test("IVFSQ/IVFPQ: search keeps the stage-1 candidates on tied codes") {
    import spark.implicits._
    // 20 identical vectors (ids 0-19) tie on every quantized code and on
    // the exact distance; distant noise fills the rest of the lists
    val dup = Seq.fill(8)(1f)
    val rnd = new scala.util.Random(7)
    val df = ((0L until 20L).map(i => (i, dup)) ++
      (20L until 80L).map(i => (i, Seq.fill(8)(50f + 50f * rnd.nextFloat()))))
      .toDF("vec_id", "embedding")
    val tie = Seq(col("vec_id").desc) // the caller's order disagrees with the id
    // family -> (build, search, stage1Candidates), all at nprobe = nLists
    val families: Seq[(String, String => Any, String => DataFrame, String => DataFrame)] = Seq(
      ("tie_sq",
        dir => SqIndex.build(spark, df, "vec_id", "embedding", "tie_sq", dir, nLists = 4),
        dir => SqIndex.search(spark, dir, df, dup, 5, numReorder = 5, nprobe = 4, tieBreak = tie),
        dir => SqIndex.stage1Candidates(spark, dir, dup, numReorder = 5, nprobe = 4)),
      ("tie_pq",
        dir => PqIndex.build(spark, df, "vec_id", "embedding", "tie_pq", dir, nLists = 4, m = 4),
        dir => PqIndex.search(spark, dir, df, dup, 5, numReorder = 5, nprobe = 4, tieBreak = tie),
        dir => PqIndex.stage1Candidates(spark, dir, dup, numReorder = 5, nprobe = 4)))
    def ids(d: DataFrame): Set[Long] = d.select("vec_id").collect().map(_.getLong(0)).toSet
    families.foreach { case (name, build, search, stage1) =>
      val dir = tempDir(name).toString
      try {
        build(dir)
        assert(ids(stage1(dir)) === (0L until 5L).toSet, name)
        assert(ids(search(dir)) === ids(stage1(dir)), name)
      } finally IvfIndex.Catalog.drop(name)
    }
  }

  test("batchSearch: exhaustive probes equal brute batch; nprobe recalls") {
    val qs = Seq(0L, 7L, 11L).map(i => emb.filter(col("vec_id") === i)
      .select(col("embedding")).head().getSeq[Float](0))
    def toMap(rows: Array[org.apache.spark.sql.Row]): Map[(Int, Long), Float] =
      rows.map(r => (r.getAs[Int]("query_idx"), r.getAs[Long]("vec_id")) ->
        r.getAs[Float]("d")).toMap
    val brute = toMap(VectorSearch.batchTopK(emb, col("embedding"), qs, 5,
      "l2", None, "d", Seq(col("vec_id")))
      .select("query_idx", "vec_id", "d").collect())
    val exact = toMap(IvfIndex.batchSearch(spark, indexDir, qs, 5,
      nprobe = 8, distName = "d", tieBreak = Seq(col("vec_id")))
      .select("query_idx", "vec_id", "d").collect())
    assert(exact === brute) // all lists probed ⇒ identical ids AND distances
    // realistic nprobe: per-query recall vs brute stays useful
    val approx = IvfIndex.batchSearch(spark, indexDir, qs, 5,
      nprobe = 3, distName = "d", tieBreak = Seq(col("vec_id")))
      .select("query_idx", "vec_id").collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val bruteByQ = brute.keys.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    qs.indices.foreach { qi =>
      assert(approx(qi).size === 5)
      assert((approx(qi) & bruteByQ(qi)).size >= 3,
        s"q$qi recall ${(approx(qi) & bruteByQ(qi)).size}/5")
    }
  }
}
