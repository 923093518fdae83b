package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.operators.RelationalOps

/** The running sum and the keyed rank are one plan node: nothing runs
  * while the query is built, nothing stays cached after it ran, and the
  * node shows in the executed plan with its metrics.
  */
class PrefixScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def input: DataFrame = spark.range(0, 2000, 1, 5)
    .select(col("id"), (col("id") % 7).cast("string").as("key"),
      (col("id") * 0.5).as("v"))

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "partitionedRunningSum" -> (df => RelationalOps.partitionedRunningSum(df, "id", Seq("v"))),
    "keyedRank" -> (df => RelationalOps.keyedRank(df, "key", Seq(col("v").desc, col("id")))))

  operators.foreach { case (name, op) =>
    test(s"$name runs no Spark job while it is built and planned") {
      val (_, jobs) = jobsDuring(op(input).queryExecution.executedPlan)
      assert(jobs === 0)
    }

    test(s"$name leaves no persisted frame behind") {
      val before = spark.sparkContext.getPersistentRDDs.size
      (1 to 3).foreach(_ => op(input).collect())
      assert(spark.sparkContext.getPersistentRDDs.size <= before)
    }

    test(s"$name shows as a plan node whose row metric counts its output") {
      val df = op(input)
      val rows = df.collect().length
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("PrefixScan"), plan.toString)
      val nodes = collect(plan) { case p if p.nodeName == "PrefixScan" => p }
      assert(nodes.size === 1, plan.toString)
      assert(nodes.head.metrics("numOutputRows").value === rows)
      assert(nodes.head.metrics("numPartitions").value >= 1)
    }
  }

  test("a running sum joins with itself") {
    val rs = RelationalOps.partitionedRunningSum(input, "id", Seq("v"))
    val pairs = rs.as("a").join(rs.as("b"), col("a.id") === col("b.id") + 1)
      .select((col("a.__cum_v") - col("b.__cum_v")).as("d"), col("a.v"))
      .collect()
    assert(pairs.length === 1999)
    pairs.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("keyedRank's cardinality cap fails when the query runs") {
    val ids = spark.range(0, 1000001, 1, 4).select(col("id"), col("id").as("key"))
    val ranked = RelationalOps.keyedRank(ids, "key", Seq(col("id")))
    val e = intercept[Exception](ranked.count())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("bounded-cardinality key")), e)
  }
}
