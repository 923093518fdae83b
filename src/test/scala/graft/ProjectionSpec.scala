package graft

import org.apache.spark.sql.functions._

import graft.operators.Projections

class ProjectionSpec extends SparkSpec {

  def li = {
    spark.catalog.clearCache()
    graft.engine.Tables.t(spark, sfDir, "lineitem")
  }
  lazy val srcPath = "file:" + sfDir + "/lineitem.parquet"

  lazy val projDir: String = {
    val dir = tempDir("proj-spec").toString
    Projections.build(spark, li, "p_flag_status", srcPath, dir,
      groupCols = Seq("l_returnflag", "l_linestatus"),
      sumCols = Seq("l_quantity", "l_extendedprice"),
      minCols = Seq("l_discount"), maxCols = Seq("l_discount"))
    dir
  }

  test("matching GROUP BY reads the projection, not the base table") {
    projDir
    val q = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("proj-spec"), s"projection not used:\n${plan.take(1200)}")
    assert(!plan.contains("lineitem.parquet"), "base table still scanned")
  }

  test("projection results equal the direct aggregation exactly") {
    projDir
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("l_returnflag", "l_linestatus").collect().map(_.toString).toSeq
    val viaProj = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sq"),
        sum(col("l_extendedprice")).as("se"),
        count(lit(1)).as("n"),
        min(col("l_discount")).as("mn"),
        max(col("l_discount")).as("mx"))
    assert(viaProj.queryExecution.executedPlan.toString.contains("proj-spec"))
    // compute the truth WITHOUT the projection (unregister temporarily)
    val entry = Projections.forSource(srcPath).head
    Projections.drop(entry.name)
    val direct = try li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sq"),
        sum(col("l_extendedprice")).as("se"),
        count(lit(1)).as("n"),
        min(col("l_discount")).as("mn"),
        max(col("l_discount")).as("mx"))
      .collect().map(_.toString).toSeq
    finally Projections.register(entry)
    assert(normalize(viaProj).sorted === direct.sorted)
  }

  test("subset grouping re-aggregates the projection (coarser GROUP BY)") {
    projDir
    val q = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("proj-spec"))
    val entry = Projections.forSource(srcPath).head
    Projections.drop(entry.name)
    val direct = try li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
      .collect().map(_.toString).toSet
    finally Projections.register(entry)
    assert(q.collect().map(_.toString).toSet === direct)
  }

  test("filters over projection-key columns are served by the projection") {
    projDir
    val q = li.filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString.contains("proj-spec"))
    val entry = Projections.forSource(srcPath).head
    Projections.drop(entry.name)
    val direct = try li.filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
      .collect().map(_.toString).toSet
    finally Projections.register(entry)
    assert(q.collect().map(_.toString).toSet === direct)
  }

  test("uncovered queries leave the plan untouched") {
    projDir
    // avg is not covered → no projection
    val avgQ = li.groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("a"))
    assert(!avgQ.queryExecution.executedPlan.toString.contains("proj-spec"))
    // sum of an uncovered column → no projection
    val taxQ = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_tax")).as("t"))
    assert(!taxQ.queryExecution.executedPlan.toString.contains("proj-spec"))
    // filter over a NON-key column below the aggregate → no projection
    val filtQ = li.filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(!filtQ.queryExecution.executedPlan.toString.contains("proj-spec"))
    // grouping outside the projection key → no projection
    val partQ = li.groupBy(col("l_partkey")).agg(sum(col("l_quantity")).as("s"))
    assert(!partQ.queryExecution.executedPlan.toString.contains("proj-spec"))
  }

  test("system.projections catalog lists the entry") {
    projDir
    val cat = Projections.asDataFrame(spark)
      .filter(col("name") === "p_flag_status").head()
    assert(cat.getAs[String]("groupCols") === "l_returnflag,l_linestatus")
    assert(cat.getAs[Long]("nGroups") > 0)
  }

  // ---- normal (sort-order) projections: optimizeUseNormalProjection ----

  lazy val normDir: String = {
    val dir = tempDir("normproj-spec").toString
    Projections.buildNormal(spark, li, "n_by_shipdate", srcPath, dir,
      sortCols = Seq("l_shipdate"),
      cols = Seq("l_shipdate", "l_orderkey", "l_quantity"))
    dir
  }

  test("sort on the normal projection's key reads the projection") {
    normDir
    val q = li.select("l_shipdate", "l_orderkey", "l_quantity")
      .orderBy(col("l_shipdate"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("normproj-spec"), s"normal projection not used:\n${plan.take(1200)}")
    assert(!plan.contains("lineitem.parquet"), "base table still scanned")
    // identical rows vs the direct scan+sort
    val entry = Projections.normalForSource(srcPath).head
    Projections.dropNormal(entry.name)
    val direct = try li.select("l_shipdate", "l_orderkey", "l_quantity")
      .orderBy(col("l_shipdate")).collect().map(_.toString).toSeq
    finally Projections.registerNormal(entry)
    assert(q.collect().map(_.toString).toSeq.sorted === direct.sorted)
  }

  test("filter on the leading sort column reads the normal projection") {
    normDir
    val q = li.filter(col("l_shipdate") < "1992-06-01").select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("normproj-spec"), s"normal projection not used:\n${plan.take(1200)}")
    val entry = Projections.normalForSource(srcPath).head
    Projections.dropNormal(entry.name)
    val direct = try li.filter(col("l_shipdate") < "1992-06-01")
      .select("l_orderkey", "l_quantity").collect().map(_.toString).toSeq
    finally Projections.registerNormal(entry)
    assert(q.collect().map(_.toString).toSeq.sorted === direct.sorted)
  }

  test("normal projection does NOT fire off its access pattern") {
    normDir
    // uncovered column → untouched
    val wide = li.filter(col("l_shipdate") < "1992-06-01").select("l_tax")
    assert(!wide.queryExecution.executedPlan.toString.contains("normproj-spec"))
    // filter on a non-sort column → untouched
    val wrongKey = li.filter(col("l_quantity") > 10).select("l_orderkey", "l_quantity")
    assert(!wrongKey.queryExecution.executedPlan.toString.contains("normproj-spec"))
    // sort by a non-prefix key → untouched
    val wrongSort = li.select("l_shipdate", "l_orderkey", "l_quantity")
      .orderBy(col("l_orderkey"))
    assert(!wrongSort.queryExecution.executedPlan.toString.contains("normproj-spec"))
  }
}
