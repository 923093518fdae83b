package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.{DataType, StructType}

import scala.util.Try

/** Job-free parquet reads: a table's schema from one footer, read on the
  * driver.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job on every
  * call (98–122 ms warm on a 4-core box, against 15–18 ms for the same
  * read with a given schema). With `mergeSchema` off, that job reads one
  * footer: a `_common_metadata` or `_metadata` summary when the directory
  * has one, else the first data file in path order. It takes the schema
  * from Spark's row-metadata key when the footer has it, else converts
  * the parquet schema under the session conf
  * (`ParquetFileFormat.readSchemaFromFooter`). [[read]] does the same on
  * the driver, so `spark.read.schema(read(spark, p)).parquet(p)` plans
  * the scan Spark's inference would and starts no job.
  *
  * Spark's own inference still runs when the session conf turns
  * `mergeSchema` on (every footer counts) and for a directory with
  * subdirectories (partition discovery).
  *
  * Nothing is cached: the footer is read on every call, so a table
  * rewritten by another JVM is seen at once.
  */
object ParquetSchema {

  /** Footer key under which Spark's parquet writer stores the row schema. */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read.parquet(path)` with the schema from [[read]]. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(read(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers (every field
    * nullable, as a file-source relation reads it). A missing path or a
    * directory without a data file fails with the error class Spark
    * raises (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`).
    */
  def read(spark: SparkSession, path: String): StructType = {
    def inferred = spark.read.parquet(path).schema
    if (shim.sqlConf(spark).isParquetSchemaMergingEnabled) return inferred
    val conf = shim.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException =>
        throw shim.pathNotFound(fs.makeQualified(p).toString)
    }
    val file =
      if (root.isFile) p
      else {
        val listing = fs.listStatus(p).toSeq
        if (listing.exists(s => s.isDirectory && isVisible(s.getPath.getName))) return inferred
        schemaFile(listing).getOrElse(throw shim.unableToInferSchema("Parquet"))
      }
    shim.asNullable(footer(spark, conf, file))
  }

  /** The file among one directory's `listing` whose footer Spark's
    * inference reads with `mergeSchema` off: a `_common_metadata` or
    * `_metadata` summary, else the first visible data file in path order.
    */
  private[graft] def schemaFile(listing: Seq[FileStatus]): Option[Path] = {
    val files = listing.filter(s => s.isFile && isVisible(s.getPath.getName))
      .map(_.getPath).sortBy(_.toString)
    def named(n: String) = files.find(_.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !isSummary(f.getName)))
  }

  /** The row schema in the footer of `file`: Spark's row-metadata key if
    * present and parseable, else the parquet schema converted under the
    * session conf (which honours `nanosAsLong`).
    */
  private[graft] def footer(spark: SparkSession, conf: Configuration,
      file: Path): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
      .flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
      .getOrElse(new ParquetToSparkSchemaConverter(shim.sqlConf(spark))
        .convert(meta.getSchema))
  }

  /** Spark's file-listing filter (`InMemoryFileIndex.shouldFilterOut`). */
  private def isVisible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) ||
      name.startsWith("_common_metadata") || name.startsWith("_metadata")

  private def isSummary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"
}
