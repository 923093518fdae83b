package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, FtsIndex, TextSearch, VectorSearch}

/** Empty-input and degenerate-input behavior: operators must stay
  * graceful (empty results with the right schema) or fail loudly — never
  * NPE or silently mis-answer.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  lazy val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("textSearch over an empty corpus returns empty with schema") {
    val r = TextSearch.textSearch(emptyDocs, col("text"), "anything", 5)
    assert(r.count() === 0)
    assert(r.columns.contains("bm25_score"))
  }

  test("FTS index builds empty, appends fill it, search works throughout") {
    val dir = tempDir("fts-empty").toString
    FtsIndex.build(spark, emptyDocs, "doc_id", "text", "fts_empty", dir, 4)
    assert(FtsIndex.loadMeta(dir).nDocs === 0)
    // search against the empty index: no postings → empty result
    assert(FtsIndex.search(spark, dir, "anything", 5).count() === 0)
    FtsIndex.append(spark,
      Seq((1L, "spark rows"), (2L, "duck rows")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val m = FtsIndex.loadMeta(dir)
    assert(m.nDocs === 2 && math.abs(m.avgDl - 2.0) < 1e-9)
    assert(FtsIndex.search(spark, dir, "spark", 5)
      .select("doc_id").head().getLong(0) === 1L)
    FtsIndex.Catalog.drop("fts_empty")
  }

  test("vector topK over an empty frame returns empty") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(VectorSearch.topK(empty, col("embedding"),
      Seq(1f, 2f), 5).count() === 0)
  }

  test("dedup over an empty corpus returns empty pair/survivor sets") {
    assert(Dedup.exactDedup(emptyDocs, col("text"), col("doc_id")).count() === 0)
    assert(Dedup.minhashLshPairs(emptyDocs, col("text"), col("doc_id")).count() === 0)
    assert(Dedup.incrementalDedup(emptyDocs, emptyDocs, col("text"),
      col("doc_id"), col("text")).count() === 0)
  }

  test("mismatched vector lengths: SEARCH skips them (00008), the raw kernel fails loudly") {
    // round 20: the reference's 00008 golden excludes wrong-dimension
    // rows from top-K results, so the search surface SKIPS them
    // (dimGuard) instead of crashing mid-task...
    val bad = Seq((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val got = VectorSearch.topK(bad, col("embedding"), Seq(1f, 2f), 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L)) // only the matching-dim row is scored
    // ...while the raw distance kernel — called OUTSIDE the guarded
    // search surface — still refuses to compare unequal lengths
    val ex = intercept[Throwable] {
      bad.select(graft.functions.distances.l2Distance(
        col("embedding"), typedLit(Seq(1f, 2f)))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("length mismatch")), ex.toString)
  }

  test("NLQ queries with no usable terms return empty") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    assert(TextSearch.textSearchNlq(docs, col("text"), "???", 5).count() === 0)
    assert(TextSearch.textSearch(docs, col("text"), "", 5).count() === 0)
  }

  test("summingFinal / withFillStep / collapsingFinal on empty inputs") {
    import graft.operators.RelationalOps
    val empty = Seq.empty[(String, Double, Long)].toDF("k", "v", "ord")
    assert(RelationalOps.summingFinal(empty, Seq("k"), Seq("v")).count() === 0)
    assert(RelationalOps.collapsingFinal(empty, Seq(col("k")),
      lit(1), col("ord")).count() === 0)
    // fill over empty data still emits the dense series with defaults
    val filled = RelationalOps.withFillStep(
      Seq.empty[(Long, Long)].toDF("qb", "n"), "qb", 0L, 25L, 5L,
      Seq("n" -> lit(0L)))
    assert(filled.count() === 5)
    assert(filled.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) === 0L)
  }

  test("partitionedRunningSum on empty and single-row inputs") {
    import graft.operators.RelationalOps
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    assert(RelationalOps.partitionedRunningSum(empty, "k", Seq("v")).count() === 0)
    val one = Seq((1L, 2.5)).toDF("k", "v")
    val r = RelationalOps.partitionedRunningSum(one, "k", Seq("v")).head()
    assert(r.getAs[Double]("__cum_v") === 2.5 && r.getAs[Double]("__tot_v") === 2.5)
  }

  test("compacting an empty directory is a no-op, not an error") {
    val dir = tempDir("compact-empty").toString
    val res = graft.sources.Maintenance.compact(spark, dir)
    assert(res.filesBefore === 0 && res.filesAfter === 0)
  }

  test("ngramJaccardPairs: docs shorter than the shingle width drop out") {
    import graft.operators.Dedup
    val docs = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text") // < 3 tokens
    assert(Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id")).count() === 0)
  }
}
