package graft

import org.apache.spark.sql.functions._

/** Co-located joins via bucketing — the Spark counterpart of the
  * reference's co-located distributed joins (GLOBAL JOIN avoidance):
  * both sides bucketed on the join key join with NO shuffle exchange.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val wh = tempDir("graft-buckets").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '$wh'")
    try {
      val li = graft.engine.Tables.t(spark, sfDir, "lineitem")
      val ord = graft.engine.Tables.t(spark, sfDir, "orders")
      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("bucketdb.li_b")
      ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bucketdb.ord_b")

      val joined = spark.table("bucketdb.li_b")
        .join(spark.table("bucketdb.ord_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))

      // Disable broadcast so the join strategy itself is exercised.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

      // top-down printout: everything after the join line is its subtree
      val lines = plan.linesIterator.toSeq
      val joinAt = lines.indexWhere(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      assert(joinAt >= 0, s"no shuffle-join in plan:\n$plan")
      val exchangesUnderJoin =
        lines.drop(joinAt + 1).count(_.contains("Exchange"))
      assert(exchangesUnderJoin === 0,
        s"expected shuffle-free bucketed join, plan:\n$plan")

      // correctness unchanged vs plain join
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bucketed = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bucketed === plain)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketdb.li_b")
      spark.sql("DROP TABLE IF EXISTS bucketdb.ord_b")
    }
  }
}
