package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables.t
import graft.sources.{InputFormats, OutputFormats}

/** Driver-checked queries for the I/O format surface (SURVEY §2.2).
  *
  * q76 proves the format codecs end-to-end the only way a SQL oracle
  * can: twenty-two rows each WRITE → PARSE round trip the same orders
  * slice (twenty-one formats driver-side — including the schema-driven
  * Protobuf/ProtobufList pair, CapnProto, the Arrow IPC stream, and
  * the Avro container — plus one DISTRIBUTED save()/readLines TSV
  * file-set pass), and the aggregate of each
  * round-tripped frame must equal the aggregate DuckDB computes
  * directly from parquet. A format that drops
  * a row, mangles an escape, shifts a date, or loses float precision
  * breaks its row. q77 drives the executable-UDF pipe (ExecutableUdf)
  * through a real `awk` process with a closed-form oracle.
  */
object FormatQueries {

  private val fmtStructure =
    "o_orderkey Int64, o_custkey Int64, o_totalprice Float64, " +
      "o_orderdate DateTime, o_orderpriority String"

  /** uint32 dates carry epoch-seconds (the reference's DateTime↔uint32
    * protobuf mapping); int64/double/string map directly.
    */
  private val protoSchema =
    """syntax = "proto3";
      |message Order {
      |  int64 o_orderkey = 1;
      |  int64 o_custkey = 2;
      |  double o_totalprice = 3;
      |  uint64 o_orderdate = 4;
      |  string o_orderpriority = 5;
      |};""".stripMargin

  private val protoListSchema =
    """syntax = "proto3";
      |message Envelope {
      |  message Order {
      |    int64 o_orderkey = 1;
      |    int64 o_custkey = 2;
      |    double o_totalprice = 3;
      |    uint64 o_orderdate = 4;
      |    string o_orderpriority = 5;
      |  };
      |  repeated Order rows = 1;
      |};""".stripMargin

  private def slice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderpriority")
      .orderBy("o_orderkey")

  private def agg(fmt: String, df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("cnt"),
      sum(col("o_orderkey")).as("key_sum"),
      sum(col("o_totalprice")).as("price_sum"),
      min(col("o_orderdate")).cast("string").as("first_day"))
      .selectExpr(s"'$fmt' AS fmt", "CAST(cnt AS BIGINT) AS cnt",
        "CAST(key_sum AS BIGINT) AS key_sum",
        "CAST(round(price_sum, 2) AS DOUBLE) AS price_sum", "first_day")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q76_format_roundtrip" -> ((s, dir) => {
      val base = slice(s, dir)
      val frames = Seq(
        "bson_each_row" -> InputFormats.parseBytes(s,
          OutputFormats.writeBytes(base, "BSONEachRow"), "BSONEachRow",
          Some(fmtStructure)),
        "csv_typed" -> InputFormats.parse(s,
          OutputFormats.write(base, "CSVWithNamesAndTypes"),
          "CSVWithNamesAndTypes"),
        "custom_separated" -> InputFormats.parse(s,
          OutputFormats.write(base, "CustomSeparated"),
          "CustomSeparated", Some(fmtStructure)),
        "json_compact_typed" -> InputFormats.parse(s,
          OutputFormats.write(base, "JSONCompactEachRowWithNamesAndTypes"),
          "JSONCompactEachRowWithNamesAndTypes"),
        "json_each_row" -> InputFormats.parse(s,
          OutputFormats.write(base, "JSONEachRow"),
          "JSONEachRow", Some(fmtStructure)),
        "native" -> InputFormats.parseBytes(s,
          OutputFormats.writeBytes(base, "Native"), "Native"),
        "msgpack" -> InputFormats.parseBytes(s,
          OutputFormats.writeBytes(base, "MsgPack"), "MsgPack",
          Some(fmtStructure)),
        "mysql_dump" -> InputFormats.parse(s,
          OutputFormats.write(base, "SQLInsert"),
          "MySQLDump", Some(fmtStructure)),
        // schema-driven wire formats: the .proto compiled by the in-tree
        // parser, rows varint-delimited (Protobuf) / envelope-framed
        // (ProtobufList)
        "protobuf" -> {
          val ps = OutputFormats.Settings(
            formatSchemaSource = protoSchema, formatSchemaMessage = "Order")
          InputFormats.parseBytes(s,
            OutputFormats.writeBytes(base, "Protobuf", ps), "Protobuf",
            Some(fmtStructure), ps)
        },
        // Cap'n Proto (ref CapnProtoRow{Input,Output}Format.cpp, 02030
        // round-trips): message-per-row segment framing, DateTime as
        // uint32 epoch seconds — the in-tree schema parser + wire codec
        "capnproto" -> {
          val cs = OutputFormats.Settings(
            formatSchemaSource =
              """@0xabcdef0123456701;
                |struct Order {
                |  o_orderkey @0 : Int64;
                |  o_custkey @1 : Int64;
                |  o_totalprice @2 : Float64;
                |  o_orderdate @3 : UInt32;
                |  o_orderpriority @4 : Text;
                |}""".stripMargin,
            formatSchemaMessage = "Order")
          InputFormats.parseBytes(s,
            OutputFormats.writeBytes(base, "CapnProto", cs), "CapnProto",
            Some(fmtStructure), cs)
        },
        "protobuf_list" -> {
          val ps = OutputFormats.Settings(
            formatSchemaSource = protoListSchema, formatSchemaMessage = "Order")
          InputFormats.parseBytes(s,
            OutputFormats.writeBytes(base, "ProtobufList", ps), "ProtobufList",
            Some(fmtStructure), ps)
        },
        "row_binary" -> InputFormats.parseBytes(s,
          OutputFormats.writeBytes(base, "RowBinaryWithNamesAndTypes"),
          "RowBinaryWithNamesAndTypes"),
        // Arrow IPC — both framings — via the arrow-java library Spark
        // ships (ref ArrowBlockOutputFormat.cpp): the random-access FILE
        // format (footer + magic) and the stream format; both reads
        // self-describing
        "arrow" -> InputFormats.parseBytes(s,
          OutputFormats.writeBytes(base, "Arrow"), "Arrow"),
        "arrow_stream" -> InputFormats.parseBytes(s,
          OutputFormats.writeBytes(base, "ArrowStream"), "ArrowStream"),
        // Avro container via the Avro Java library (ref
        // AvroRowOutputFormat.cpp); schema travels in the header
        "avro" -> InputFormats.parseBytes(s,
          OutputFormats.writeBytes(base, "Avro"), "Avro"),
        "json_framed" -> InputFormats.parse(s,
          OutputFormats.write(base, "JSON"), "JSON"),
        "json_object" -> InputFormats.parse(s,
          OutputFormats.write(base, "JSONObjectEachRow"),
          "JSONObjectEachRow", Some(fmtStructure)),
        "jsoncolumns" -> InputFormats.parse(s,
          OutputFormats.write(base, "JSONColumns"), "JSONColumns",
          Some(fmtStructure)),
        "template" -> {
          val ts = OutputFormats.Settings(
            templateResultset = "== result ==\n${data}\n== end ==",
            templateRow = "${o_orderkey:CSV}|${o_custkey:Quoted}|" +
              "${o_totalprice:JSON}|${o_orderdate:Quoted}|${o_orderpriority:CSV}",
            customRowBetweenDelimiter = ";\n")
          InputFormats.parse(s, OutputFormats.write(base, "Template", ts),
            "Template", Some(fmtStructure), ts)
        },
        "tskv" -> InputFormats.parse(s,
          OutputFormats.write(base, "TSKV"), "TSKV", Some(fmtStructure)),
        "tsv_typed" -> InputFormats.parse(s,
          OutputFormats.write(base, "TabSeparatedWithNamesAndTypes"),
          "TabSeparatedWithNamesAndTypes"),
        "values" -> InputFormats.parse(s,
          OutputFormats.write(base, "Values"), "Values", Some(fmtStructure)),
        // the DISTRIBUTED path: multi-partition save() to a TSV file set,
        // read back with mapPartitions readLines (no driver round-trip)
        "save_tsv" -> {
          val dir = org.apache.spark.sql.graft.shim
            .createTempDir("graft_q76_save").toPath.resolve("tsv").toString
          OutputFormats.save(base.repartition(4), dir, "TSV")
          InputFormats.readLines(s.read.textFile(dir), "TSV", fmtStructure)
        })
      frames.map { case (name, df) => agg(name, df) }
        .reduce(_.unionAll(_))
        .orderBy("fmt")
    }),

    // input() TVF (ref src/TableFunctions/TableFunctionInput.cpp): the
    // INSERT-payload transform front — a typed payload parsed against the
    // declared structure, then reshaped by the INSERT's SELECT before
    // landing. The payload exercises real CSV quoting (a comma INSIDE a
    // quoted tag field) and feeds a join against a real table, the exact
    // "INSERT INTO t SELECT ... FROM input(...)" flow.
    "q82_input_tvf" -> ((s, dir) => {
      val payload = (0 until 25).map { i =>
        s"""$i,"tag,${i % 3}",${(i * 37) % 11}"""
      }.mkString("", "\n", "\n")
      graft.sources.TableFunctions.input(s,
          "nk Int64, tag String, qty Int64", payload, "CSV")
        .join(t(s, dir, "nation"), col("nk") === col("n_nationkey"))
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).cast("long").as("qty_sum"),
          min(col("n_name")).as("first_nation"))
        .orderBy(col("tag"))
    }),

    // Executable (process) UDF through a real pipe: one long-lived awk
    // per partition doubling the key and scaling the quantity.
    "q77_executable_udf" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 300)
        .select("l_orderkey", "l_returnflag", "l_quantity")
      val piped = graft.functions.ExecutableUdf.pipe(
        li,
        "awk -F'\\t' '{print ($1*2)\"\\t\"($3*10)}'",
        Seq("l_orderkey", "l_returnflag", "l_quantity"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doubled BIGINT, qty10 BIGINT"))
      piped.groupBy(col("l_returnflag").as("grp"))
        .agg(count(lit(1)).as("cnt"), sum(col("doubled")).as("dbl_sum"),
          sum(col("qty10")).as("qty_sum"))
        .selectExpr("grp", "CAST(cnt AS BIGINT) AS cnt",
          "CAST(dbl_sum AS BIGINT) AS dbl_sum",
          "CAST(qty_sum AS BIGINT) AS qty_sum")
        .orderBy("grp")
    }))

  def oracles: Map[String, String] = Map(
    "q76_format_roundtrip" -> """
      WITH base AS (
        SELECT CAST(count(1) AS BIGINT) AS cnt,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS price_sum,
               CAST(min(o_orderdate) AS VARCHAR) AS first_day
        FROM orders WHERE o_orderkey <= 500),
      fmts AS (
        SELECT unnest(['arrow', 'arrow_stream', 'avro', 'bson_each_row', 'capnproto', 'csv_typed', 'custom_separated', 'json_compact_typed',
                       'json_each_row', 'json_framed', 'json_object', 'jsoncolumns', 'msgpack',
                       'mysql_dump', 'native', 'protobuf', 'protobuf_list', 'row_binary',
                       'save_tsv', 'template', 'tskv', 'tsv_typed', 'values']) AS fmt)
      SELECT fmt, cnt, key_sum, price_sum, first_day
      FROM fmts CROSS JOIN base
      ORDER BY fmt""",
    "q82_input_tvf" -> """
      WITH p AS (SELECT range AS nk,
                        'tag,' || CAST(range % 3 AS VARCHAR) AS tag,
                        (range * 37) % 11 AS qty
                 FROM range(0, 25))
      SELECT tag, count(1) AS n, CAST(sum(qty) AS BIGINT) AS qty_sum,
             min(n_name) AS first_nation
      FROM p JOIN nation ON nk = n_nationkey
      GROUP BY tag ORDER BY tag""",
    "q77_executable_udf" -> """
      SELECT l_returnflag AS grp,
             CAST(count(1) AS BIGINT) AS cnt,
             CAST(sum(l_orderkey * 2) AS BIGINT) AS dbl_sum,
             CAST(sum(CAST(l_quantity * 10 AS BIGINT)) AS BIGINT) AS qty_sum
      FROM lineitem WHERE l_orderkey <= 300
      GROUP BY l_returnflag
      ORDER BY grp""")
}
