package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression conversion (Spark 4 moved
  * Column onto ColumnNode; the converter lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`). Standard extension
  * pattern: a shim inside the `org.apache.spark.sql` package tree.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion. `expression` returns a lazy
    * `ColumnNodeExpression` wrapper that only Dataset-side resolution
    * unwraps; expressions injected through the FUNCTION REGISTRY (the
    * ClickHouse-named aggregate fronts) need the real catalyst tree up
    * front so the analyzer can resolve the inner function calls.
    */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over a raw logical plan (`Dataset.ofRows` is
    * `private[sql]`) — used by optimizer rules that graft an index-scan
    * sub-plan into an existing query tree, and by operators that are
    * their own plan node (`graft.plans.PrefixScan`).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drain the listener bus (`private[spark]`) — lets tests assert
    * "no job ran during optimization" without sleeping.
    */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The session's SQL conf (`sessionState` is `private[sql]`). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The Hadoop conf a file-source read of `spark` uses. */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** `schema` with every field nullable, as a file-source relation
    * reads it (`StructType.asNullable` is `private[spark]`).
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The `PATH_NOT_FOUND` error `spark.read.parquet` raises for `path`. */
  def pathNotFound(path: String): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.dataPathNotExistError(path)

  /** The `UNABLE_TO_INFER_SCHEMA` error `spark.read.<format>` raises for
    * a path with no data file.
    */
  def unableToInferSchema(format: String): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.dataSchemaNotSpecifiedError(format)

  /** A fresh directory `<namePrefix>-<uuid>` under `java.io.tmpdir` that
    * the JVM deletes at shutdown (`Utils.createTempDir` is
    * `private[spark]`).
    */
  def createTempDir(namePrefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = namePrefix)

  /** Delete `dir` recursively at JVM shutdown, as [[createTempDir]]'s
    * directories are (`ShutdownHookManager` is `private[spark]`).
    */
  def deleteAtShutdown(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** Propagate the task context onto a helper thread
    * (`TaskContext.setTaskContext` is `private[spark]`). Spark's own
    * PipedRDD does exactly this for its stdin-writer thread; without it,
    * consuming a columnar-scan iterator from the helper thread NPEs on
    * the missing per-task memory manager.
    */
  def setTaskContext(tc: org.apache.spark.TaskContext): Unit =
    org.apache.spark.TaskContext.setTaskContext(tc)
}
