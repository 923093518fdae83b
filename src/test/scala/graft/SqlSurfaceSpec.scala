package graft

import org.apache.spark.sql.functions._

/** Reference-flavored SQL runs verbatim through spark.sql with graft's
  * registered functions + extensions — the "a MyScaleDB user could paste
  * their query" smoke test.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("vector search SQL: distance + ORDER BY + LIMIT") {
    graft.engine.Tables.t(spark, sfDir, "embeddings").createOrReplaceTempView("emb")
    val rows = spark.sql("""
      SELECT vec_id,
             L2Distance(embedding,
               (SELECT embedding FROM emb WHERE vec_id = 0)) AS d
      FROM emb ORDER BY d, vec_id LIMIT 5""").collect()
    assert(rows.length === 5)
    assert(rows.head.getLong(0) === 0L && rows.head.getFloat(1) === 0f)
    val ds = rows.map(_.getFloat(1)).toSeq
    assert(ds === ds.sorted)
  }

  test("SQL ORDER BY distance LIMIT k is routed through a registered IVF index") {
    spark.catalog.clearCache() // rule matches LogicalRelation, not cache
    val dir = tempDir("ivf-sql").toString
    val srcPath = "file:" + sfDir + "/embeddings.parquet"
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val qv = emb.filter(col("vec_id") === 4)
      .select("embedding").head().getSeq[Float](0)
    graft.operators.IvfIndex.build(spark, emb, "embedding", "sql_ivf", dir,
      "l2", nLists = 8, sourcePath = srcPath, defaultNprobe = 8)
    try {
      emb.createOrReplaceTempView("emb_sql")
      val qcsv = qv.map(v => s"CAST($v AS FLOAT)").mkString(", ")
      val df = spark.sql(
        s"""SELECT vec_id, l2_distance(embedding, array($qcsv)) AS d
            FROM emb_sql ORDER BY d, vec_id LIMIT 5""")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("lists"), s"expected index scan in:\n$plan")
      val brute = graft.operators.VectorSearch.topK(emb, col("embedding"),
          qv, 5, "l2", None, "d", Seq(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(df.collect().map(_.getLong(0)).toSeq === brute)
    } finally graft.operators.IvfIndex.Catalog.drop("sql_ivf")
  }

  test("ClickHouse-named functions inside an analytical query") {
    graft.engine.Tables.t(spark, sfDir, "orders").createOrReplaceTempView("ords")
    val rows = spark.sql("""
      SELECT toYYYYMM(o_orderdate) AS ym,
             uniq(o_custkey) AS u,
             median(o_totalprice) AS med,
             count(1) AS n
      FROM ords
      GROUP BY toYYYYMM(o_orderdate)
      ORDER BY ym LIMIT 3""").collect()
    assert(rows.length === 3)
    assert(rows.forall(r => r.getInt(0) > 199000 && r.getLong(3) > 0))
  }

  test("cosine distance + prefilter in SQL") {
    val rows = spark.sql("""
      SELECT vec_id, cosine_distance(embedding,
               (SELECT embedding FROM emb WHERE vec_id = 1)) AS d
      FROM emb WHERE label = 2
      ORDER BY d, vec_id LIMIT 3""").collect()
    assert(rows.length === 3)
  }

  test("getObject through a registered connection") {
    // round 12: the stub path is gone — a credential-less object-store
    // connection is a fail-fast configuration error, and an unknown
    // connection still raises at plan time
    graft.multimodal.Connections.create("s3_conn", "AWS", "s3.amazonaws.com")
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq("s3://b/k1").toDF("url")
        .select(graft.multimodal.Connections.getObject(spark, "s3_conn")(col("url")))
        .head()
    }
    assert(ex.getMessage.contains("credentials") ||
      (ex.getCause != null && ex.getCause.getMessage.contains("credentials")))
    intercept[IllegalArgumentException] {
      graft.multimodal.Connections.getObject(spark, "nope")(col("url"))
    }
    graft.multimodal.Connections.drop("s3_conn")
  }
}
