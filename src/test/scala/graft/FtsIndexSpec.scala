package graft

import org.apache.spark.sql.functions._

import graft.operators.{FtsIndex, TextSearch}

class FtsIndexSpec extends SparkSpec {
  import spark.implicits._

  lazy val corpus = Seq(
    (1L, "spark joins data fast"),
    (2L, "spark spark spark everywhere"),
    (3L, "ducks swim in ponds"),
    (4L, "the quick brown fox"),
    (5L, "")).toDF("doc_id", "text")

  lazy val indexDir: String = {
    val dir = tempDir("fts-spec").toString
    FtsIndex.build(spark, corpus, "doc_id", "text", "fts_spec", dir,
      nBuckets = 8, sourcePath = "spec://corpus")
    dir
  }

  test("build persists stats and bucket-partitioned postings") {
    val meta = FtsIndex.loadMeta(indexDir)
    assert(meta.nDocs === 5)
    assert(math.abs(meta.avgDl - 16.0 / 5) < 1e-9) // 4+4+4+4+0 tokens
    val posts = spark.read.parquet(s"$indexDir/postings")
    assert(posts.columns.toSet ===
      Set("term", "doc_id", "dl", "tf", "positions", "bucket"))
    // positional postings: doc 2 has spark at token offsets 0,1,2
    val p2 = posts.filter($"term" === "spark" && $"doc_id" === 2)
      .select("positions").head().getSeq[Int](0)
    assert(p2 === Seq(0, 1, 2))
    // tf counts duplicates: doc 2 has spark×3 in ONE posting row
    val sparkRows = posts.filter($"term" === "spark").collect()
    assert(sparkRows.length === 2)
    assert(sparkRows.map(r => r.getAs[Double]("tf")).sorted.toSeq === Seq(1.0, 3.0))
    // every term's rows all live in its own bucket
    val perTerm = posts.groupBy("term").agg(countDistinct($"bucket").as("nb"))
      .collect().map(_.getLong(1))
    assert(perTerm.forall(_ === 1L))
  }

  test("indexed search equals direct textsearch (OR and AND)") {
    for ((q, op) <- Seq(("spark fast", "OR"), ("spark fast", "AND"),
        ("ducks everywhere", "OR"), ("quick brown fox", "AND"))) {
      val direct = TextSearch.textSearch(corpus, col("text"), q, 10, op,
          "bm25_score", Seq(col("doc_id")))
        .select($"doc_id", round($"bm25_score", 9).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexed = FtsIndex.search(spark, indexDir, q, 10, op,
          "bm25_score", Seq(col("doc_id")))
        .select($"doc_id", round($"bm25_score", 9).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed === direct, s"query '$q' op $op")
    }
  }

  test("empty and unknown-term queries return empty with schema") {
    assert(FtsIndex.search(spark, indexDir, "???", 10).count() === 0)
    assert(FtsIndex.search(spark, indexDir, "zebra", 10).count() === 0)
    // AND with one unknown term → nothing (direct path agrees)
    assert(FtsIndex.search(spark, indexDir, "spark zebra", 10, "AND").count() === 0)
    assert(FtsIndex.search(spark, indexDir, "spark zebra", 10, "OR")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("search plan prunes to the query terms' buckets") {
    val meta = FtsIndex.loadMeta(indexDir)
    val b = FtsIndex.bucketOf("spark", meta.nBuckets)
    val plan = FtsIndex.search(spark, indexDir, "spark", 10)
      .queryExecution.executedPlan.toString
    // file-level partition pruning: the scan carries the bucket filter
    assert(plan.contains("bucket"), plan)
  }

  test("search and searchNlq run NO Spark job while they are built and planned") {
    indexDir // force build
    val searches = Seq("OR", "AND").map(op => op -> (() =>
      FtsIndex.search(spark, indexDir, "spark fast", 10, op, "bm25_score",
        Seq(col("doc_id"))))) :+
      ("NLQ" -> (() => FtsIndex.searchNlq(spark, indexDir,
        """"spark joins" +fast -ducks""", 10, "bm25_score", Seq(col("doc_id")))))
    for ((name, search) <- searches) {
      val (_, jobs) = jobsDuring(search().queryExecution.executedPlan)
      // the bucket listing, the schema inference and the per-term df
      // collect each used to run a job here
      assert(jobs === 0, s"$name: $jobs job(s) ran while the search was built")
    }
  }

  test("build stores the exact token total; an append keeps avgDl = totalDl / nDocs") {
    val dir = tempDir("fts-totaldl").toString
    // 7 documents, 4+4+4+4+4+4+5 = 29 tokens: 7 * (29.0 / 7) is not 29.0
    val seven = (1L to 7L).map(i =>
      (i, (Seq("spark", "data", "rows", "fast") ++ (if (i == 7) Seq("ducks") else Nil))
        .mkString(" "))).toDF("doc_id", "text")
    FtsIndex.build(spark, seven, "doc_id", "text", "fts_totaldl", dir, nBuckets = 4)
    val built = FtsIndex.loadMeta(dir)
    assert(built.nDocs === 7)
    assert(built.totalDl === 29.0)
    assert(built.avgDl === 29.0 / 7)
    val appended = FtsIndex.append(spark,
      Seq((8L, "spark ponds"), (9L, "the quick brown fox")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(appended.nDocs === 9)
    assert(appended.totalDl === 35.0)
    assert(appended.avgDl === appended.totalDl / appended.nDocs)
    assert(FtsIndex.loadMeta(dir) === appended)
    FtsIndex.Catalog.drop("fts_totaldl")
  }

  test("termStats TVF reports global df and tf") {
    val stats = FtsIndex.termStats(spark, indexDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats("spark") === ((2L, 4L)))
    assert(stats("ducks") === ((1L, 1L)))
  }

  test("ftsIndexInspect matches the reference inspection schema") {
    val tvf = FtsIndex.ftsIndexInspect(spark, indexDir, "spark ducks")
    // reference column names/shape (StorageFtsIndex.cpp:37-61)
    assert(tvf.columns.toSeq ===
      Seq("part", "total_docs", "field_tokens", "terms_freq"))
    // COLUMN-LEVEL schema parity with the reference's
    // virtuals_sample_block (StorageFtsIndex.cpp:37-61): nested field
    // names AND types — UInt64→BIGINT, UInt32→INT, String→STRING
    def ddl(c: String) =
      tvf.schema(c).dataType.sql.replace(" NOT NULL", "")
    assert(ddl("total_docs") === "BIGINT")
    assert(ddl("field_tokens") ===
      "ARRAY<STRUCT<field_id: INT, total_tokens: BIGINT>>")
    assert(ddl("terms_freq") ===
      "ARRAY<STRUCT<term_str: STRING, field_id: INT, doc_freq: BIGINT>>")
    val rows = tvf.collect()
    val meta = FtsIndex.loadMeta(indexDir)
    // total_docs is table-global on every part row
    assert(rows.forall(_.getAs[Long]("total_docs") === meta.nDocs))
    // terms_freq carries the queried terms with their table-global df
    // (term postings live entirely in one bucket)
    val df = rows.flatMap(_.getSeq[org.apache.spark.sql.Row](3))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(df("spark") === 2L)
    assert(df("ducks") === 1L)
    assert(df.values.forall(_ > 0))
    // field_tokens totals equal the per-bucket token sums from the
    // postings themselves
    val expected = spark.read.parquet(s"$indexDir/postings")
      .groupBy(col("bucket")).agg(sum(col("tf")).cast("long").as("tt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val part = r.getInt(0)
      val ft = r.getSeq[org.apache.spark.sql.Row](2)
      assert(ft.size === 1 && ft.head.getInt(0) === 0) // single field id 0
      assert(ft.head.getLong(1) === expected(part))
    }
  }

  test("searchNlq on the index equals the direct textSearchNlq path") {
    for (q <- Seq(""""spark joins"""", "+spark -ducks fast", """"joins data" +fast""",
        "ducks", "+spark +fast", """"data fast"""")) {
      val direct = TextSearch.textSearchNlq(corpus, col("text"), q, 10,
          "bm25_score", Seq(col("doc_id")))
        .select($"doc_id", round($"bm25_score", 9).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexed = FtsIndex.searchNlq(spark, indexDir, q, 10,
          "bm25_score", Seq(col("doc_id")))
        .select($"doc_id", round($"bm25_score", 9).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed === direct, s"nlq query: $q")
    }
    // three-term phrase chains across positions
    val three = FtsIndex.searchNlq(spark, indexDir, """"spark joins data"""", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(three === Set(1L))
  }

  test("incremental append: build half + append half == direct full search") {
    val dir = tempDir("fts-append").toString
    val half1 = corpus.filter($"doc_id" <= 2)
    val half2 = corpus.filter($"doc_id" > 2)
    FtsIndex.build(spark, half1, "doc_id", "text", "fts_append", dir, nBuckets = 8)
    val meta = FtsIndex.append(spark, half2, "doc_id", "text", dir)
    assert(meta.nDocs === 5)
    assert(math.abs(meta.avgDl - 16.0 / 5) < 1e-9)
    for ((q, op) <- Seq(("spark fast", "OR"), ("spark fast", "AND"),
        ("ducks everywhere", "OR"))) {
      val direct = TextSearch.textSearch(corpus, col("text"), q, 10, op,
          "bm25_score", Seq(col("doc_id")))
        .select($"doc_id", round($"bm25_score", 9).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexed = FtsIndex.search(spark, dir, q, 10, op,
          "bm25_score", Seq(col("doc_id")))
        .select($"doc_id", round($"bm25_score", 9).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed === direct, s"after append: query '$q' op $op")
    }
  }

  test("catalog registers BUILT entry") {
    indexDir // force build
    val e = FtsIndex.Catalog.lookup("fts_spec").get
    assert(e.status === "BUILT" && e.nDocs === 5)
    assert(FtsIndex.Catalog.forSource("spec://corpus", "text").isDefined)
  }
}
