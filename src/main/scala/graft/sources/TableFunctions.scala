package graft.sources

import graft.engine.ParquetSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table functions — the reference's TVF source surface
  * (`/root/reference/src/TableFunctions/`): `numbers()`, `zeros()`,
  * `generateRandom()`, `file()`. Each returns an ordinary DataFrame so
  * the whole relational surface composes on top.
  */
object TableFunctions {

  /** `numbers(N)` / `numbers(offset, N)`
    * (`TableFunctionNumbers.cpp`) — the planner's `Range` node: no data
    * scan, splittable, pushdown-friendly.
    */
  def numbers(spark: SparkSession, n: Long, offset: Long = 0L): DataFrame =
    spark.range(offset, offset + n).toDF("number")

  /** `zeros(N)` (`TableFunctionZeros.cpp`). */
  def zeros(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(lit(0).as("zero"))

  /** `generateRandom('schema', seed)` (`TableFunctionGenerateRandom.cpp`):
    * deterministic synthetic rows for the given schema. Supported field
    * types: numeric, boolean, string (seeded hash-derived — reproducible
    * across runs and partitionings).
    */
  def generateRandom(
      spark: SparkSession, schema: StructType, n: Long,
      seed: Long = 42L): DataFrame = {
    val base = spark.range(n)
    schema.fields.foldLeft(base.toDF()) { (df, f) =>
      val h = abs(graft.functions.SparkHash.xxh64(col("id"), lit(seed), lit(f.name)))
      val value = f.dataType match {
        case org.apache.spark.sql.types.LongType    => h
        case org.apache.spark.sql.types.IntegerType => (h % 1000000).cast("int")
        case org.apache.spark.sql.types.DoubleType  => (h % 1000000).cast("double") / 1000.0
        case org.apache.spark.sql.types.FloatType   => ((h % 1000000).cast("double") / 1000.0).cast("float")
        case org.apache.spark.sql.types.BooleanType => h % 2 === 0
        case org.apache.spark.sql.types.StringType  => concat(lit("v"), conv(h.cast("string"), 10, 16))
        case other => throw new IllegalArgumentException(
          s"generateRandom: unsupported type $other for field ${f.name}")
      }
      df.withColumn(f.name, value)
    }.drop("id")
  }

  /** `file('path', 'format')` (`TableFunctionFile.cpp`): read a local /
    * DFS path with the format inferred from the extension when omitted.
    * Formats map to Spark's native readers (the reference's
    * CSV/TSV/JSON/Parquet/ORC input formats).
    */
  def file(spark: SparkSession, path: String, format: String = ""): DataFrame = {
    val fmt =
      if (format.nonEmpty) format.toLowerCase
      else path.replaceAll("^.*\\.", "").toLowerCase match {
        case "csv" | "tsv"          => "csv"
        case "json" | "jsonl" | "ndjson" => "json"
        case "orc"                  => "orc"
        case _                      => "parquet"
      }
    fmt match {
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("sep", if (path.endsWith(".tsv")) "\t" else ",").csv(path)
      case "json"    => spark.read.json(path)
      case "orc"     => spark.read.orc(path)
      case "parquet" => ParquetSchema.load(spark, path)
      case _ =>
        // reference-only formats (Values/TSKV/RowBinary*/MySQLDump/…):
        // single local file through the format parsers
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
        InputFormats.parseBytes(spark, bytes, fmt, None)
    }
  }

  /** `INSERT INTO FUNCTION file('path', 'Format') SELECT …`
    * (`TableFunctionFile.cpp` write side, the 02322 shape): columnar
    * formats go through Spark's native writers; row-wise reference
    * formats render distributed via [[OutputFormats.save]]; framed /
    * binary formats land as one local file (they are single-stream by
    * construction).
    */
  def fileWrite(df: DataFrame, path: String, format: String,
      settings: OutputFormats.Settings = OutputFormats.Settings()): Unit = {
    val f = format.toLowerCase
    f match {
      case "parquet" => df.write.mode("overwrite").parquet(path)
      case "orc" => df.write.mode("overwrite").orc(path)
      case "json" if path.endsWith(".jsonl") =>
        df.write.mode("overwrite").json(path)
      case _ if OutputFormats.isRowFormat(f) && !path.contains(".") =>
        OutputFormats.save(df, path, format, settings)
      case _ =>
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          OutputFormats.writeBytes(df, format, settings))
    }
  }

  // ---- round-12 TVF closure (TableFunctionFactory registrations with a
  // single-JVM meaning; cluster/remote/JDBC/lake formats are documented
  // out — no cluster, no drivers, no egress in scope) ----

  /** `url('http(s)://…', 'Format')` (`TableFunctionURL.cpp`): fetch the
    * resource and parse it with the named input format (same format map as
    * [[format]]). The fetch is one stream (exactly the reference's
    * single-URL semantics); the parsed frame then distributes normally.
    * At 100 TB the right source is a DFS path via [[file]] — a single URL
    * is by definition a single-reader bottleneck in any engine.
    */
  /** Fetched-payload dispatch shared by [[url]] and [[s3]]: BINARY formats
    * (RowBinary*, RawBLOB, Native, BSONEachRow, MsgPack) go straight to
    * [[InputFormats.parseBytes]] — a UTF-8 decode would mangle them — and
    * text formats keep [[format]]'s schema-inference path.
    */
  private def parseFetched(spark: SparkSession, bytes: Array[Byte],
      formatName: String): DataFrame = {
    val c = OutputFormats.canon(formatName)
    if (c.startsWith("rowbinary") || c == "rawblob" || c == "native" ||
        c == "bsoneachrow" || c == "msgpack")
      InputFormats.parseBytes(spark, bytes, formatName, None)
    else format(spark, formatName,
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  def url(spark: SparkSession, u: String, formatName: String): DataFrame = {
    parseFetched(spark, graft.multimodal.Connections.httpFetch(u), formatName)
  }

  /** `s3('endpoint/bucket/key', 'Format')` via a registered CONNECTION
    * (`TableFunctionS3.cpp`): the object is fetched through the SigV4
    * path of [[graft.multimodal.Connections]] and parsed like [[url]].
    */
  def s3(spark: SparkSession, connectionName: String, u: String,
      formatName: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val bytes = spark.range(1)
      .select(graft.multimodal.Connections
        .getObject(spark, connectionName)(lit(u)).as("b"))
      .head().getAs[Array[Byte]]("b")
    parseFetched(spark, bytes, formatName)
  }

  /** `values('structure', row, row, ...)` (`TableFunctionValues.cpp`):
    * inline literal rows under an explicit DDL schema.
    */
  def values(spark: SparkSession, schemaDdl: String,
      rows: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType.fromDDL(schemaDdl)
    val rs = rows.map(r => org.apache.spark.sql.Row.fromSeq(r))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rs).asJava), schema)
  }

  /** `null('structure')` (`TableFunctionNull.cpp`): a Null-engine table —
    * reads yield zero rows, writes are discarded; the schema is real so
    * downstream plans resolve.
    */
  def nullTable(spark: SparkSession, schemaDdl: String): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType.fromDDL(schemaDdl))

  /** `format('Format', 'data'[, 'structure'])` (`TableFunctionFormat
    * .cpp`): parse an inline data literal with the named input format.
    * Without a declared structure, the five formats with a Spark-native
    * schema-inferring reader keep it (JSONEachRow/CSV[WithNames]/
    * TSV[WithNames]); every other reference format — Values, TSKV,
    * JSONCompactEachRow[WithNames[AndTypes]], typed CSV/TSV headers,
    * CustomSeparated, Regexp, LineAsString, JSONAsString, MySQLDump,
    * RowBinary*, RawBLOB — routes through [[InputFormats]].
    */
  def format(spark: SparkSession, formatName: String, data: String,
      structure: String = ""): DataFrame = {
    val lines = spark.createDataset(data.split("\n").toSeq.filter(_.nonEmpty))(
      org.apache.spark.sql.Encoders.STRING)
    if (structure.nonEmpty)
      InputFormats.parse(spark, data, formatName, Some(structure))
    else formatName.toLowerCase match {
      case "jsoneachrow" | "ndjson" | "jsonlines" => spark.read.json(lines)
      case "csv" => spark.read.option("inferSchema", "true").csv(lines)
      case "csvwithnames" =>
        spark.read.option("header", "true").option("inferSchema", "true").csv(lines)
      case "tsv" | "tabseparated" =>
        spark.read.option("sep", "\t").option("inferSchema", "true").csv(lines)
      case "tsvwithnames" | "tabseparatedwithnames" =>
        spark.read.option("sep", "\t").option("header", "true")
          .option("inferSchema", "true").csv(lines)
      case _ => InputFormats.parse(spark, data, formatName, None)
    }
  }

  /** `view(SELECT ...)` (`TableFunctionView.cpp`): subquery as a table. */
  def view(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)

  /** `viewIfPermitted(SELECT ... ELSE null('structure'))`: the
    * permission-gated view — single-user sandbox is always permitted, so
    * the ELSE branch only fires when the query itself cannot resolve.
    */
  /** `input('structure')` (`TableFunctionInput.cpp`): the INSERT-payload
    * transformer — the incoming stream parsed against the declared
    * structure so the INSERT's SELECT can reshape it. Batch analog: the
    * payload arrives as an argument and parses exactly like [[format]]
    * with a mandatory structure.
    */
  def input(spark: SparkSession, structure: String, data: String,
      formatName: String = "TSV"): DataFrame =
    InputFormats.parse(spark, data, formatName, Some(structure))

  def viewIfPermitted(spark: SparkSession, sql: String,
      elseSchemaDdl: String): DataFrame =
    try view(spark, sql)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      nullTable(spark, elseSchemaDdl) }

  /** `merge('tables_regexp')` (`TableFunctionMerge.cpp`): union of every
    * catalog table whose name matches, with the `_table` virtual column;
    * structures are merged by name, absent columns NULL-filled — the
    * reference's Merge-engine read semantics.
    */
  def merge(spark: SparkSession, tablesRegexp: String): DataFrame = {
    val re = tablesRegexp.r
    val names = spark.catalog.listTables().collect()
      .map(_.name).filter(n => re.pattern.matcher(n).matches()).sorted
    require(names.nonEmpty, s"merge(): no tables match '$tablesRegexp'")
    names.map(n => spark.table(n).withColumn("_table", lit(n)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** `dictionary('name')` (`TableFunctionDictionary.cpp`): the rows of a
    * named dictionary from the CREATE DICTIONARY catalog.
    */
  def dictionary(spark: SparkSession, name: String): DataFrame = {
    val d = graft.operators.Dictionaries.describe(name)
    val attrNames = d.attrTypes.keys.toSeq.sorted
    // declared CH type → engine column type (same collapse the typed
    // dictGet<T> fronts use: ints → BIGINT, floats → DOUBLE, rest STRING)
    def ddl(t: String): String = t match {
      case t1 if t1.startsWith("UInt") || t1.startsWith("Int") => "BIGINT"
      case t1 if t1.startsWith("Float") => "DOUBLE"
      case _ => "STRING"
    }
    val keys = d.attrs.values.flatMap(_.keys).toSeq.distinct.sorted
    val rows = keys.map { k =>
      org.apache.spark.sql.Row.fromSeq(
        k +: attrNames.map { a =>
          (d.attrs(a).get(k), ddl(d.attrTypes(a))) match {
            case (None, _)            => null
            case (Some(v: Number), "BIGINT") => v.longValue()
            case (Some(v: Number), "DOUBLE") => v.doubleValue()
            case (Some(v), "BIGINT")  => v.toString.toLong
            case (Some(v), "DOUBLE")  => v.toString.toDouble
            case (Some(v), _)         => v.toString
          }
        })
    }
    val schema = StructType.fromDDL(
      (s"${d.keyCol} BIGINT" +:
        attrNames.map(a => s"$a ${ddl(d.attrTypes(a))}")).mkString(", "))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** `explain(SELECT ...)` (`TableFunctionExplain.cpp`): the optimized
    * plan as rows — one line per row, like the reference's
    * `EXPLAIN ... FORMAT TSV` table form.
    */
  def explain(spark: SparkSession, sql: String): DataFrame = {
    val lines = spark.sql(sql).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode).split("\n").toSeq
    spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("explain")
  }

  /** `executable('cmd', 'structure')` (`TableFunctionExecutable.cpp`):
    * run the script once, parse its TSV stdout under the declared
    * schema. Like the reference, the process runs on the serving node
    * (here: the driver) and is bounded by the script's output size; for
    * per-row transforms use [[graft.functions.ExecutableUdf]] which
    * pipes inside the executors.
    */
  def executable(spark: SparkSession, cmd: Seq[String],
      schemaDdl: String): DataFrame = {
    val proc = new ProcessBuilder(
      scala.jdk.CollectionConverters.SeqHasAsJava(cmd).asJava)
      .redirectErrorStream(false).start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    require(proc.waitFor() == 0, s"executable(): ${cmd.head} exited non-zero")
    val schema = StructType.fromDDL(schemaDdl)
    val rows = out.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val parts = line.split("\t", -1)
      org.apache.spark.sql.Row.fromSeq(schema.fields.zipWithIndex.map {
        case (f, i) =>
          val v = parts(i)
          f.dataType match {
            case org.apache.spark.sql.types.LongType    => v.toLong
            case org.apache.spark.sql.types.IntegerType => v.toInt
            case org.apache.spark.sql.types.DoubleType  => v.toDouble
            case _                                      => v
          }
      }.toSeq)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }
}
