package graft.operators

import graft.engine.ParquetSchema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Job-free read of the probed partitions of a `partCol=v`-partitioned
  * parquet artifact: the IVF-family `lists/` (`list_id=`) and the FTS
  * `postings/` (`bucket=`).
  *
  * `spark.read.parquet(root)` lists every partition directory (a
  * parallel-listing job once there are more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` of them) and
  * infers the schema in a second job, on every search. Here the driver
  * lists the root non-recursively, keeps the requested directories that
  * exist, and takes the data schema from one footer
  * ([[graft.engine.ParquetSchema]], the same sources Spark's own
  * inference reads) plus the INT partition column. The `isin` filter
  * stays, so the scan still carries `PartitionFilters`.
  *
  * Nothing is cached: every search lists afresh, so an append or a
  * rebuild in another JVM is seen by the next query.
  */
private[graft] object ProbedPartitions {

  /** The requested partitions of `root`; an empty frame with the
    * artifact's schema when none of them exists.
    */
  def read(spark: SparkSession, root: String, partCol: String,
      values: Seq[Int]): DataFrame = {
    val all = partitionDirs(spark, root, partCol)
    val dirs = values.distinct.sorted.flatMap(all.get)
    if (dirs.isEmpty)
      spark.createDataFrame(java.util.List.of[Row](),
        schema(spark, root, partCol, all.values.toSeq))
    else spark.read.schema(schema(spark, root, partCol, dirs))
      .option("basePath", root).parquet(dirs.map(_.toString): _*)
      .filter(col(partCol).isin(values: _*))
  }

  /** `partCol=v` directories directly under `root`, by `v`. */
  private def partitionDirs(spark: SparkSession, root: String,
      partCol: String): Map[Int, Path] = {
    val rootPath = new Path(root)
    val prefix = partCol + "="
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(rootPath).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(s => s.getPath.getName.substring(prefix.length).toIntOption
        .map(_ -> s.getPath))
      .toMap
  }

  /** Row schema from the footer of the first partition in `dirs` that
    * holds a data file ([[graft.engine.ParquetSchema.schemaFile]] picks the
    * file, [[graft.engine.ParquetSchema.footer]] reads it), plus the INT
    * partition column.
    */
  private def schema(spark: SparkSession, root: String, partCol: String,
      dirs: Seq[Path]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = dirs.iterator
      .flatMap(d => ParquetSchema.schemaFile(d.getFileSystem(conf).listStatus(d).toSeq))
      .nextOption().getOrElse(throw new IllegalStateException(
        s"no parquet data file under any partition of $root"))
    ParquetSchema.footer(spark, conf, file).add(partCol, IntegerType)
  }
}
