package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.types._

import FormatCodec._

/** The reference's output-format surface re-expressed Spark-first
  * (ref `src/Processors/Formats/Impl/ * RowOutputFormat.cpp` +
  * `registerFormats.cpp`).
  *
  * Row-wise formats (TSV/CSV/JSON*EachRow/TSKV/Values/Markdown/
  * SQLInsert…) render distributed: `lines()` returns a `Dataset[String]`
  * built with `mapPartitions` so a 100 TB export never funnels through
  * the driver — one output line per row, headers prepended as their own
  * tiny dataset. Framed presentation formats (JSON/XML/Pretty/Vertical)
  * are terminal-display formats; `write()` assembles them driver-side
  * from a bounded `take`, exactly like `df.show()`.
  *
  * Byte-parity is pinned against the reference's own goldens
  * (`00309_formats`, `00405_pretty_formats`, `00231_format_vertical_raw`,
  * `01231_markdown_format`, `01034_JSONCompactEachRow`, `01550_type_map
  * _formats`, `02322_sql_insert_format`, `02293_formats_json_columns`,
  * `02417_json_object_each_row_format`) in FormatsSpec.
  */
object OutputFormats {

  /** Format knobs, mirroring the reference's `format_*` /
    * `output_format_*` settings (defaults = reference defaults).
    */
  case class Settings(
      blockSize: Int = 8192,
      prettyMaxRows: Int = 10000,
      prettyMaxValueWidth: Int = 10000,
      prettyMaxColumnPadWidth: Int = 250,
      prettyAscii: Boolean = false,
      prettyRowNumbers: Boolean = false,
      prettyColor: Boolean = true,
      quote64BitIntegers: Boolean = true,
      rowsBeforeLimit: Option[Long] = None,
      sqlInsertMaxBatchSize: Int = 65505,
      sqlInsertTableName: String = "table",
      sqlInsertIncludeColumnNames: Boolean = true,
      sqlInsertQuoteNames: Boolean = true,
      sqlInsertUseReplace: Boolean = false,
      customEscapingRule: String = "Escaped",
      customFieldDelimiter: String = "\t",
      customRowBeforeDelimiter: String = "",
      customRowAfterDelimiter: String = "\n",
      customRowBetweenDelimiter: String = "",
      customResultBeforeDelimiter: String = "",
      customResultAfterDelimiter: String = "",
      templateResultset: String = "",
      templateRow: String = "",
      regexpPattern: String = "",
      regexpEscapingRule: String = "Raw",
      jsonObjectEachRowColumnForObjectName: String = "",
      regexpSkipUnmatched: Boolean = false,
      rowsRead: Option[Long] = None,
      bytesRead: Option[Long] = None,
      // Protobuf family: the .proto source + root message name (the
      // reference's `format_schema = 'file:Message'` setting)
      formatSchemaSource: String = "",
      formatSchemaMessage: String = "")

  private case class Col(name: String, dt: DataType, ch: String, idx: Int)

  private def cols(schema: StructType): Array[Col] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      Col(f.name, f.dataType, ChTypes.chName(f), i)
    }

  /** Normalized format name (case-insensitive; TSV aliases folded). */
  def canon(format: String): String = {
    val f = format.toLowerCase
    f.replace("tsvraw", "tabseparatedraw")
      .replace("tsvwithnames", "tabseparatedwithnames")
      .replace("tsv", "tabseparated")
  }

  def isRowFormat(format: String): Boolean = canon(format) match {
    case "tabseparated" | "tabseparatedraw" | "tabseparatedwithnames" |
        "tabseparatedwithnamesandtypes" | "tabseparatedrawwithnames" |
        "tabseparatedrawwithnamesandtypes" | "csv" | "csvwithnames" |
        "csvwithnamesandtypes" | "tskv" | "jsoneachrow" | "ndjson" |
        "jsonlines" | "jsonstringseachrow" | "jsoncompacteachrow" |
        "jsoncompacteachrowwithnames" | "jsoncompacteachrowwithnamesandtypes" |
        "jsoncompactstringseachrow" | "values" | "markdown" | "sqlinsert" |
        "lineasstring" | "customseparated" | "null" => true
    case _ => false
  }

  // ------------------------------------------------------------ row formats

  /** Header lines that precede the data rows (may be empty). */
  def headerLines(schema: StructType, format: String, s: Settings): Seq[String] = {
    val cs = cols(schema)
    def namesTsv = cs.map(c => escapeEscaped(c.name)).mkString("\t")
    def typesTsv = cs.map(_.ch).mkString("\t")
    canon(format) match {
      case "tabseparatedwithnames" | "tabseparatedrawwithnames" => Seq(namesTsv)
      case "tabseparatedwithnamesandtypes" | "tabseparatedrawwithnamesandtypes" =>
        Seq(namesTsv, typesTsv)
      case "csvwithnames" => Seq(cs.map(c => quoteCsv(c.name)).mkString(","))
      case "csvwithnamesandtypes" =>
        Seq(cs.map(c => quoteCsv(c.name)).mkString(","),
          cs.map(c => quoteCsv(c.ch)).mkString(","))
      case "jsoncompacteachrowwithnames" =>
        Seq(cs.map(c => "\"" + escapeJson(c.name) + "\"").mkString("[", ", ", "]"))
      case "jsoncompacteachrowwithnamesandtypes" =>
        Seq(cs.map(c => "\"" + escapeJson(c.name) + "\"").mkString("[", ", ", "]"),
          cs.map(c => "\"" + escapeJson(c.ch) + "\"").mkString("[", ", ", "]"))
      case "markdown" =>
        val isNum: DataType => Boolean = {
          case ByteType | ShortType | IntegerType | LongType | FloatType |
              DoubleType | _: DecimalType => true
          case _ => false
        }
        Seq(cs.map(_.name).mkString("| ", " | ", " |"),
          cs.map(c => if (isNum(c.dt)) "-:" else ":-").mkString("|", "|", "|"))
      case "customseparated" if s.customResultBeforeDelimiter.nonEmpty =>
        Seq(s.customResultBeforeDelimiter.stripSuffix("\n"))
      case _ => Seq.empty
    }
  }

  def footerLines(format: String, s: Settings): Seq[String] =
    canon(format) match {
      case "customseparated" if s.customResultAfterDelimiter.nonEmpty =>
        Seq(s.customResultAfterDelimiter.stripPrefix("\n").stripSuffix("\n"))
      case _ => Seq.empty
    }

  /** One output line per row for the row-wise formats. Serializable —
    * runs inside mapPartitions.
    */
  def rowRenderer(schema: StructType, format: String, s: Settings): Row => String = {
    val cs = cols(schema)
    canon(format) match {
      case "tabseparated" | "tabseparatedwithnames" | "tabseparatedwithnamesandtypes" =>
        r => cs.map(c => escapedText(r.get(c.idx), c.dt)).mkString("\t")
      case "tabseparatedraw" | "tabseparatedrawwithnames" |
          "tabseparatedrawwithnamesandtypes" =>
        r => cs.map(c => rawText(r.get(c.idx), c.dt)).mkString("\t")
      case "csv" | "csvwithnames" | "csvwithnamesandtypes" =>
        r => cs.map(c => csvText(r.get(c.idx), c.dt)).mkString(",")
      case "tskv" =>
        val names = cs.map(c =>
          escapeEscaped(c.name).replace("=", "\\=") + "=")
        r => cs.map(c => names(c.idx) + escapedText(r.get(c.idx), c.dt)).mkString("\t")
      case "jsoneachrow" | "ndjson" | "jsonlines" =>
        r => cs.map(c => "\"" + escapeJson(c.name) + "\":" +
          jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
          .mkString("{", ",", "}")
      case "jsonstringseachrow" =>
        r => cs.map(c => "\"" + escapeJson(c.name) + "\":\"" +
          escapeJson(plainText(r.get(c.idx), c.dt)) + "\"")
          .mkString("{", ",", "}")
      case "jsoncompacteachrow" | "jsoncompacteachrowwithnames" |
          "jsoncompacteachrowwithnamesandtypes" =>
        r => cs.map(c => jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
          .mkString("[", ", ", "]")
      case "jsoncompactstringseachrow" =>
        r => cs.map(c => "\"" + escapeJson(plainText(r.get(c.idx), c.dt)) + "\"")
          .mkString("[", ", ", "]")
      case "values" =>
        r => cs.map(c => quotedText(r.get(c.idx), c.dt)).mkString("(", ",", ")")
      case "markdown" =>
        r => cs.map(c => escapedText(r.get(c.idx), c.dt).replace("|", "\\|"))
          .mkString("| ", " | ", " |")
      case "lineasstring" =>
        r => rawText(r.get(0), cs(0).dt)
      case "customseparated" =>
        val field: (Any, DataType) => String = s.customEscapingRule match {
          case "CSV" => csvText
          case "Quoted" => quotedText
          case "JSON" => (v, dt) => jsonText(v, dt, "", s.quote64BitIntegers)
          case "Raw" => rawText
          case _ => escapedText
        }
        r => s.customRowBeforeDelimiter +
          cs.map(c => field(r.get(c.idx), c.dt)).mkString(s.customFieldDelimiter) +
          s.customRowAfterDelimiter.stripSuffix("\n")
      case "null" => _ => ""
      case other =>
        throw new IllegalArgumentException(s"not a row-wise format: $other")
    }
  }

  /** Distributed rendering for row-wise formats: header lines (one tiny
    * leading partition) followed by one string per row. Scale path for
    * exports — no driver collect.
    */
  def lines(df: DataFrame, format: String, s: Settings = Settings()): Dataset[String] = {
    val spark = df.sparkSession
    val render = rowRenderer(df.schema, format, s)
    val hdr = headerLines(df.schema, format, s)
    val body = df.mapPartitions(rows => rows.map(render))(Encoders.STRING)
    if (hdr.isEmpty) body
    else spark.createDataset(hdr)(Encoders.STRING).union(body)
  }

  // -------------------------------------------------------- framed formats

  /** Render the whole result as one string (driver-side assembly). Row
    * formats stream through the same renderer; framed formats build
    * their frame here. `Values` joins rows with "," on a single line;
    * `SQLInsert` batches rows into INSERT statements.
    */
  def write(df: DataFrame, format: String, s: Settings = Settings()): String =
    writeRows(df.schema, df.collect(), format, s)

  /** Rows-based core of [[write]] — also the engine behind the
    * `formatRow` scalar function, which renders outside any DataFrame.
    */
  def writeRows(schema: StructType, rows0: Array[Row], format: String,
      s: Settings = Settings()): String = {
    val cs = cols(schema)
    val f = canon(format)
    f match {
      case "prometheus" => PrometheusFormat.write(schema, rows0)
      case "values" =>
        val render = rowRenderer(schema, format, s)
        rows0.map(render).mkString("", ",", "\n")
      case "sqlinsert" =>
        val rows = rows0
        val names =
          if (!s.sqlInsertIncludeColumnNames) ""
          else cs.map(c => if (s.sqlInsertQuoteNames) s"`${c.name}`" else c.name)
            .mkString(" (", ", ", ")")
        val verb = if (s.sqlInsertUseReplace) "REPLACE INTO" else "INSERT INTO"
        rows.grouped(math.max(1, s.sqlInsertMaxBatchSize)).map { batch =>
          batch.map(r => cs.map(c => quotedText(r.get(c.idx), c.dt))
            .mkString("(", ", ", ")"))
            .mkString(s"$verb ${s.sqlInsertTableName}$names VALUES ", ", ", ";\n")
        }.mkString
      case "json" | "jsoncompact" | "jsonstrings" | "jsoncompactstrings" =>
        val rows = rows0
        val sb = new StringBuilder
        sb.append("{\n\t\"meta\":\n\t[\n")
        sb.append(cs.map(c =>
          "\t\t{\n\t\t\t\"name\": \"" + escapeJson(c.name) +
            "\",\n\t\t\t\"type\": \"" + escapeJson(c.ch) + "\"\n\t\t}")
          .mkString(",\n"))
        sb.append("\n\t],\n\n\t\"data\":\n\t[\n")
        val dataRows = f match {
          case "json" => rows.map { r =>
            cs.map(c => "\t\t\t\"" + escapeJson(c.name) + "\": " +
              jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
              .mkString("\t\t{\n", ",\n", "\n\t\t}")
          }
          case "jsoncompact" => rows.map { r =>
            cs.map(c => jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
              .mkString("\t\t[", ", ", "]")
          }
          case "jsoncompactstrings" => rows.map { r =>
            cs.map(c => "\"" + escapeJson(plainText(r.get(c.idx), c.dt)) + "\"")
              .mkString("\t\t[", ", ", "]")
          }
          case _ => rows.map { r =>
            cs.map(c => "\t\t\t\"" + escapeJson(c.name) + "\": \"" +
              escapeJson(plainText(r.get(c.idx), c.dt)) + "\"")
              .mkString("\t\t{\n", ",\n", "\n\t\t}")
          }
        }
        sb.append(dataRows.mkString(",\n"))
        sb.append("\n\t],\n\n\t\"rows\": " + rows.length)
        s.rowsBeforeLimit.foreach { n =>
          sb.append(",\n\n\t\"rows_before_limit_at_least\": " + n)
        }
        sb.append("\n}\n")
        sb.toString
      case "jsoncolumns" =>
        val rows = rows0
        cs.map { c =>
          "\t\"" + escapeJson(c.name) + "\": " +
            rows.map(r => jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
              .mkString("[", ", ", "]")
        }.mkString("{\n", ",\n", "\n}\n")
      case "jsoncompactcolumns" =>
        val rows = rows0
        cs.map { c =>
          "\t" + rows.map(r => jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
            .mkString("[", ", ", "]")
        }.mkString("[\n", ",\n", "\n]\n")
      case "jsoncolumnswithmetadata" =>
        val rows = rows0
        val sb = new StringBuilder
        sb.append("{\n\t\"meta\":\n\t[\n")
        sb.append(cs.map(c =>
          "\t\t{\n\t\t\t\"name\": \"" + escapeJson(c.name) +
            "\",\n\t\t\t\"type\": \"" + escapeJson(c.ch) + "\"\n\t\t}")
          .mkString(",\n"))
        sb.append("\n\t],\n\n\t\"data\":\n\t{\n")
        sb.append(cs.map { c =>
          "\t\t\"" + escapeJson(c.name) + "\": " +
            rows.map(r => jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
              .mkString("[", ", ", "]")
        }.mkString(",\n"))
        sb.append("\n\t},\n\n\t\"rows\": " + rows.length)
        s.rowsBeforeLimit.foreach(n =>
          sb.append(",\n\n\t\"rows_before_limit_at_least\": " + n))
        if (s.rowsRead.nonEmpty || s.bytesRead.nonEmpty) {
          sb.append(",\n\n\t\"statistics\":\n\t{\n")
          sb.append(Seq(
            s.rowsRead.map(v => "\t\t\"rows_read\": " + v),
            s.bytesRead.map(v => "\t\t\"bytes_read\": " + v)).flatten
            .mkString(",\n"))
          sb.append("\n\t}")
        }
        sb.append("\n}\n")
        sb.toString
      case "jsonobjecteachrow" =>
        val rows = rows0
        rows.zipWithIndex.map { case (r, i) =>
          "\t\"row_" + (i + 1) + "\": " +
            cs.map(c => "\"" + escapeJson(c.name) + "\":" +
              jsonText(r.get(c.idx), c.dt, c.ch, s.quote64BitIntegers))
              .mkString("{", ",", "}")
        }.mkString("{\n", ",\n", "\n}\n")
      case "xml" =>
        val rows = rows0
        val sb = new StringBuilder
        sb.append("<?xml version='1.0' encoding='UTF-8' ?>\n<result>\n")
        sb.append("\t<meta>\n\t\t<columns>\n")
        cs.foreach { c =>
          sb.append("\t\t\t<column>\n\t\t\t\t<name>").append(escapeXml(c.name))
            .append("</name>\n\t\t\t\t<type>").append(escapeXml(c.ch))
            .append("</type>\n\t\t\t</column>\n")
        }
        sb.append("\t\t</columns>\n\t</meta>\n\t<data>\n")
        rows.foreach { r =>
          sb.append("\t\t<row>\n")
          cs.foreach { c =>
            val tag = c.name.replaceAll("[^A-Za-z0-9_]", "_")
            sb.append("\t\t\t<").append(tag).append(">")
              .append(xmlText(r.get(c.idx), c.dt))
              .append("</").append(tag).append(">\n")
          }
          sb.append("\t\t</row>\n")
        }
        sb.append("\t</data>\n\t<rows>").append(rows.length).append("</rows>\n")
        s.rowsBeforeLimit.foreach { n =>
          sb.append("\t<rows_before_limit_at_least>").append(n)
            .append("</rows_before_limit_at_least>\n")
        }
        sb.append("</result>\n")
        sb.toString
      case "vertical" =>
        val rows = rows0
        val widths = cs.map(c => c.name.codePointCount(0, c.name.length))
        val maxW = if (widths.isEmpty) 0 else widths.max
        val sb = new StringBuilder
        rows.zipWithIndex.foreach { case (r, i) =>
          val rn = i + 1
          sb.append("Row ").append(rn).append(":\n")
          val w = math.log10(rn + 1).toInt + 1 + "Row :".length
          sb.append("─" * w).append("\n")
          cs.foreach { c =>
            sb.append(c.name).append(": ")
              .append(" " * (maxW - widths(c.idx)))
              .append(plainText(r.get(c.idx), c.dt)).append("\n")
          }
          if (i < rows.length - 1) sb.append("\n")
        }
        sb.toString
      case p if p.startsWith("pretty") => PrettyFormat.writeRows(schema, rows0, s, format)
      case "template" =>
        TemplateFormat.writeRows(schema, rows0, s, s.templateResultset,
          s.templateRow)
      case "null" => ""
      case _ if isRowFormat(f) =>
        val render = rowRenderer(schema, format, s)
        val hdr = headerLines(schema, format, s)
        val ftr = footerLines(format, s)
        val body = rows0.map(render)
        ((hdr ++ body ++ ftr).mkString("", "\n", "\n"))
      case other =>
        throw new IllegalArgumentException(s"unsupported output format: $other")
    }
  }

  /** Distributed export: write a row-wise format to `path` with Spark's
    * text writer — the 100 TB path (every partition renders and writes
    * its own split; headers land in their own leading split via
    * `lines`). Framed presentation formats refuse: they are terminal
    * output by design.
    */
  def save(df: DataFrame, path: String, format: String,
      s: Settings = Settings()): Unit = {
    require(isRowFormat(format),
      s"save(): $format is a framed presentation format — use write()")
    lines(df, format, s).write.text(path)
  }

  /** The supported format registry — the `system.formats` view. */
  def formats: Seq[(String, Boolean, Boolean)] = Seq(
    // (name, is_input, is_output)
    ("TabSeparated", true, true), ("TabSeparatedRaw", true, true),
    ("TabSeparatedWithNames", true, true),
    ("TabSeparatedWithNamesAndTypes", true, true),
    ("TabSeparatedRawWithNames", true, true),
    ("TabSeparatedRawWithNamesAndTypes", true, true),
    ("CSV", true, true), ("CSVWithNames", true, true),
    ("CSVWithNamesAndTypes", true, true), ("TSKV", true, true),
    ("Values", true, true), ("Markdown", false, true),
    ("SQLInsert", false, true), ("MySQLDump", true, false),
    ("Vertical", false, true), ("XML", false, true),
    ("JSON", false, true), ("JSONCompact", false, true),
    ("JSONStrings", false, true), ("JSONCompactStrings", false, true),
    ("JSONColumns", true, true),
    ("JSONCompactColumns", true, true), ("JSONColumnsWithMetadata", false, true),
    ("JSONEachRow", true, true), ("JSONStringsEachRow", false, true),
    ("JSONCompactEachRow", true, true),
    ("JSONCompactEachRowWithNames", true, true),
    ("JSONCompactEachRowWithNamesAndTypes", true, true),
    ("JSONCompactStringsEachRow", false, true),
    ("JSONObjectEachRow", true, true), ("JSONAsString", true, false),
    ("HiveText", true, false),
    ("JSONAsObject", true, false), ("CustomSeparatedIgnoreSpaces", true, false),
    ("Pretty", false, true), ("PrettyCompact", false, true),
    ("PrettySpace", false, true), ("PrettyNoEscapes", false, true),
    ("PrettyCompactNoEscapes", false, true),
    ("PrettySpaceNoEscapes", false, true),
    ("PrettyCompactMonoBlock", false, true),
    ("Native", true, true), ("BSONEachRow", true, true),
    ("MsgPack", true, true), ("Prometheus", false, true),
    ("Protobuf", true, true), ("ProtobufSingle", true, true),
    ("ProtobufList", true, true), ("CapnProto", true, true),
    ("Arrow", true, true), ("ArrowStream", true, true),
    ("Avro", true, true),
    ("RowBinary", true, true), ("RowBinaryWithNames", true, true),
    ("RowBinaryWithNamesAndTypes", true, true),
    ("LineAsString", true, true), ("RawBLOB", true, true),
    ("Regexp", true, false), ("CustomSeparated", true, true),
    ("Template", true, true), ("TemplateIgnoreSpaces", true, false),
    ("Null", false, true),
    // Spark-native columnar readers/writers (the reference's
    // Parquet/ORC/Avro/Arrow stream formats)
    ("Parquet", true, true), ("ORC", true, true), ("JSONLines", true, true))

  /** Binary output formats → raw bytes. */
  def writeBytes(df: DataFrame, format: String, s: Settings = Settings()): Array[Byte] =
    canon(format) match {
      case "native" => NativeFormat.write(df)
      case "bsoneachrow" => BsonFormat.write(df)
      case "msgpack" => MsgPackFormat.write(df)
      case p @ ("protobuf" | "protobufsingle" | "protobuflist") =>
        ProtobufFormat.write(df, s.formatSchemaSource, s.formatSchemaMessage, p)
      case "capnproto" =>
        CapnProtoFormat.write(df, s.formatSchemaSource, s.formatSchemaMessage)
      case "arrow" => ArrowFormat.write(df, stream = false)
      case "arrowstream" => ArrowFormat.write(df, stream = true)
      case "avro" => AvroFormat.write(df)
      case "rowbinary" => RowBinaryFormat.write(df, withNames = false, withTypes = false)
      case "rowbinarywithnames" => RowBinaryFormat.write(df, withNames = true, withTypes = false)
      case "rowbinarywithnamesandtypes" =>
        RowBinaryFormat.write(df, withNames = true, withTypes = true)
      case "rawblob" =>
        val out = new java.io.ByteArrayOutputStream()
        val dt = df.schema.fields(0).dataType
        df.collect().foreach { r =>
          r.get(0) match {
            case b: Array[Byte] => out.write(b)
            case other => out.write(scalarText(other, dt).getBytes("UTF-8"))
          }
        }
        out.toByteArray
      case _ => write(df, format, s).getBytes("UTF-8")
    }
}
