package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.engine.{ParquetSchema, Tables}
import graft.operators.Projections

class ParquetSchemaSpec extends SparkSpec {
  import spark.implicits._

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"Tables.t has Spark's inferred schema for all 10 tables at $sf") {
      val dir = s"${new java.io.File(sfDir).getParent}/$sf"
      tables.foreach { name =>
        assert(Tables.t(spark, dir, name).schema ===
          spark.read.parquet(s"$dir/$name.parquet").schema, name)
      }
    }
  }

  test("a multi-file directory with _SUCCESS and hidden files reads like Spark") {
    val dir = tempDir("pschema-multi").resolve("t").toString
    (1 to 40).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("id", "name", "x")
      .repartition(4).write.parquet(dir)
    // hidden and underscore files with another schema must not be read
    Seq(("a", 1)).toDF("other", "cols").coalesce(1).write.parquet(s"$dir-stale")
    val stale = new java.io.File(s"$dir-stale").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.copy(stale, Paths.get(dir, "_stale.parquet"))
    Files.copy(stale, Paths.get(dir, ".hidden.parquet"))
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    val expected = spark.read.parquet(dir)
    val (got, jobs) = jobsDuring(ParquetSchema.load(spark, dir))
    assert(jobs === 0)
    assert(got.schema === expected.schema)
    assert(got.orderBy("id").collect().toSeq === expected.orderBy("id").collect().toSeq)
  }

  test("a rewritten table is seen by the next read") {
    val dir = tempDir("pschema-rewrite").resolve("t").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(dir)
    assert(ParquetSchema.read(spark, dir).fieldNames.toSeq === Seq("id", "name"))
    Seq((1L, 2.0, 3)).toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    assert(ParquetSchema.read(spark, dir).fieldNames.toSeq === Seq("id", "x", "y"))
  }

  test("mergeSchema on in the session conf defers to Spark") {
    val dir = tempDir("pschema-merge").resolve("t").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(dir)
    Seq((2L, 0.5)).toDF("id", "x").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir).schema
    assert(merged.fieldNames.toSet === Set("id", "name", "x"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(ParquetSchema.read(spark, dir) === merged)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // off: one footer, two of the three columns
    assert(ParquetSchema.read(spark, dir) === spark.read.parquet(dir).schema)
    assert(ParquetSchema.read(spark, dir).length === 2)
  }

  test("a missing path and an empty directory fail with Spark's error class") {
    def condition(body: => Any): String = intercept[AnalysisException](body).getCondition
    val missing = tempDir("pschema-missing").resolve("nope").toString
    assert(condition(ParquetSchema.read(spark, missing)) === "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) === "PATH_NOT_FOUND")
    assert(intercept[AnalysisException](ParquetSchema.read(spark, missing)).getMessage ===
      intercept[AnalysisException](spark.read.parquet(missing)).getMessage)
    val empty = tempDir("pschema-empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    assert(condition(ParquetSchema.read(spark, empty.toString)) === "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty.toString)) === "UNABLE_TO_INFER_SCHEMA")
  }

  for (q <- Seq("q01_pricing_summary", "q05_region_volume", "e06_tumble")) {
    test(s"building $q runs no Spark job") {
      val fn = SparkEntry.queries(q)
      fn(spark, sfDir).queryExecution.executedPlan // warm the session
      val (_, jobs) = jobsDuring(fn(spark, sfDir).queryExecution.executedPlan)
      assert(jobs === 0)
    }
  }

  test("ProjectionRewrite optimizes a query with no Spark job") {
    val dir = tempDir("pschema-rewrite-rule")
    val src = dir.resolve("srcdata").toString
    (1 to 60).map(i => (i % 3, i.toLong)).toDF("g", "v").write.parquet(src)
    Projections.build(spark, ParquetSchema.load(spark, src), "pschema_proj",
      "file:" + src, dir.resolve("projdata").toString, groupCols = Seq("g"),
      sumCols = Seq("v"))
    try {
      val q = ParquetSchema.load(spark, src).groupBy("g").agg(sum("v").as("s"))
      val (_, jobs) = jobsDuring(q.queryExecution.optimizedPlan)
      assert(jobs === 0)
      // the scan reads the projection's stored sum, not the source's v
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ReadSchema: struct<g:int,__sum_v:bigint>"), plan)
      assert(q.orderBy("g").collect().toSeq ===
        Seq((0, 630L), (1, 590L), (2, 610L)).map { case (g, s) =>
          org.apache.spark.sql.Row(g, s) })
    } finally Projections.drop("pschema_proj")
  }
}
