package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.{ChTypes, FormatCodec, InputFormats, OutputFormats, RowBinaryFormat}
import graft.sources.OutputFormats.{Settings => S}

/** Output/input format parity, pinned to the reference's OWN stateless
  * goldens: `00309_formats`, `00231_format_vertical_raw`,
  * `01231_markdown_format`, `01550_type_map_formats`,
  * `02322_sql_insert_format`, `01034_JSONCompactEachRow`,
  * `00306_insert_values_and_expressions`, `01014_format_custom_separated`,
  * `02417_json_object_each_row_format`, `01633_limit_fuzz` (Values),
  * `00310_tskv`. Expected strings below are the goldens' own bytes
  * (the 00309 frames carry the single n=10 row; the 256-row of the
  * golden exercises raw invalid-UTF-8 byte passthrough, which a JVM
  * String engine cannot represent — documented deviation).
  */
class FormatsSpec extends SparkSpec {

  private def chField(name: String, dt: DataType, ch: String,
      nullable: Boolean = false): StructField =
    StructField(name, dt, nullable,
      new MetadataBuilder().putString(ChTypes.MetaKey, ch).build())

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // ---- the 00309 frame, row 1 (n=10) --------------------------------------

  private lazy val f309: DataFrame = {
    val schema = StructType(Seq(
      chField("n", LongType, "UInt64"),
      chField("d", DateType, "Date"),
      chField("arr", ArrayType(LongType, containsNull = false), "Array(UInt64)"),
      chField("s", StringType, "String"),
      chField("tuple", StructType(Seq(
        StructField("_1", LongType, nullable = false),
        StructField("_2", DateType, nullable = false))), "Tuple(UInt64, Date)")))
    val s1 = (1 to 9).map(_.toChar).mkString
    val d = java.sql.Date.valueOf("2000-01-11")
    df(schema, Row(10L, d, (0L to 9L).toSeq, s1, Row(10L, d)))
  }

  private val ctl7 = "\u0001\u0002\u0003\u0004\u0005\u0006\u0007" // raw in TSV

  test("00309: TabSeparatedWithNamesAndTypes") {
    val expected =
      "n\td\tarr\ts\ttuple\n" +
        "UInt64\tDate\tArray(UInt64)\tString\tTuple(UInt64, Date)\n" +
        s"10\t2000-01-11\t[0,1,2,3,4,5,6,7,8,9]\t$ctl7\\b\\t\t(10,'2000-01-11')\n"
    assert(OutputFormats.write(f309, "TabSeparatedWithNamesAndTypes") === expected)
  }

  test("00309: TabSeparatedRaw") {
    val expected =
      s"10\t2000-01-11\t[0,1,2,3,4,5,6,7,8,9]\t$ctl7\b\t\t(10,'2000-01-11')\n"
    assert(OutputFormats.write(f309, "TabSeparatedRaw") === expected)
  }

  test("00309: CSV — tuple flattens to element fields") {
    val expected =
      "10,\"2000-01-11\",\"[0,1,2,3,4,5,6,7,8,9]\"," +
        s""""$ctl7\b\t",10,"2000-01-11"""" + "\n"
    assert(OutputFormats.write(f309, "CSV") === expected)
  }

  test("00309: JSON framed") {
    val expected =
      "{\n\t\"meta\":\n\t[\n" +
        "\t\t{\n\t\t\t\"name\": \"n\",\n\t\t\t\"type\": \"UInt64\"\n\t\t},\n" +
        "\t\t{\n\t\t\t\"name\": \"d\",\n\t\t\t\"type\": \"Date\"\n\t\t},\n" +
        "\t\t{\n\t\t\t\"name\": \"arr\",\n\t\t\t\"type\": \"Array(UInt64)\"\n\t\t},\n" +
        "\t\t{\n\t\t\t\"name\": \"s\",\n\t\t\t\"type\": \"String\"\n\t\t},\n" +
        "\t\t{\n\t\t\t\"name\": \"tuple\",\n\t\t\t\"type\": \"Tuple(UInt64, Date)\"\n\t\t}\n" +
        "\t],\n\n\t\"data\":\n\t[\n" +
        "\t\t{\n" +
        "\t\t\t\"n\": \"10\",\n" +
        "\t\t\t\"d\": \"2000-01-11\",\n" +
        "\t\t\t\"arr\": [\"0\",\"1\",\"2\",\"3\",\"4\",\"5\",\"6\",\"7\",\"8\",\"9\"],\n" +
        "\t\t\t\"s\": \"\\u0001\\u0002\\u0003\\u0004\\u0005\\u0006\\u0007\\b\\t\",\n" +
        "\t\t\t\"tuple\": [\"10\",\"2000-01-11\"]\n" +
        "\t\t}\n" +
        "\t],\n\n\t\"rows\": 1,\n\n\t\"rows_before_limit_at_least\": 1\n}\n"
    assert(OutputFormats.write(f309, "JSON",
      S(rowsBeforeLimit = Some(1))) === expected)
  }

  test("00309: JSONCompact framed") {
    val out = OutputFormats.write(f309, "JSONCompact", S(rowsBeforeLimit = Some(1)))
    assert(out.contains(
      "\t\t[\"10\", \"2000-01-11\", [\"0\",\"1\",\"2\",\"3\",\"4\",\"5\",\"6\",\"7\",\"8\",\"9\"], " +
        "\"\\u0001\\u0002\\u0003\\u0004\\u0005\\u0006\\u0007\\b\\t\", [\"10\",\"2000-01-11\"]]"))
    assert(out.endsWith("\t\"rows\": 1,\n\n\t\"rows_before_limit_at_least\": 1\n}\n"))
  }

  test("00309: XML framed") {
    val expected =
      "<?xml version='1.0' encoding='UTF-8' ?>\n<result>\n\t<meta>\n\t\t<columns>\n" +
        "\t\t\t<column>\n\t\t\t\t<name>n</name>\n\t\t\t\t<type>UInt64</type>\n\t\t\t</column>\n" +
        "\t\t\t<column>\n\t\t\t\t<name>d</name>\n\t\t\t\t<type>Date</type>\n\t\t\t</column>\n" +
        "\t\t\t<column>\n\t\t\t\t<name>arr</name>\n\t\t\t\t<type>Array(UInt64)</type>\n\t\t\t</column>\n" +
        "\t\t\t<column>\n\t\t\t\t<name>s</name>\n\t\t\t\t<type>String</type>\n\t\t\t</column>\n" +
        "\t\t\t<column>\n\t\t\t\t<name>tuple</name>\n\t\t\t\t<type>Tuple(UInt64, Date)</type>\n\t\t\t</column>\n" +
        "\t\t</columns>\n\t</meta>\n\t<data>\n\t\t<row>\n" +
        "\t\t\t<n>10</n>\n" +
        "\t\t\t<d>2000-01-11</d>\n" +
        "\t\t\t<arr><array><elem>0</elem><elem>1</elem><elem>2</elem><elem>3</elem><elem>4</elem><elem>5</elem><elem>6</elem><elem>7</elem><elem>8</elem><elem>9</elem></array></arr>\n" +
        s"\t\t\t<s>$ctl7\b\t</s>\n" +
        "\t\t\t<tuple><tuple><elem>10</elem><elem>2000-01-11</elem></tuple></tuple>\n" +
        "\t\t</row>\n\t</data>\n\t<rows>1</rows>\n" +
        "\t<rows_before_limit_at_least>1</rows_before_limit_at_least>\n</result>\n"
    assert(OutputFormats.write(f309, "XML", S(rowsBeforeLimit = Some(1))) === expected)
  }

  test("00309: RowBinary row bytes match the reference golden") {
    val golden =
      "0a00000000000000d72a0a000000000000000001000000000000000200000000000000" +
        "030000000000000004000000000000000500000000000000060000000000000007000000" +
        "0000000008000000000000000900000000000000090102030405060708090a00000000000000d72a"
    val bytes = OutputFormats.writeBytes(f309, "RowBinary")
    assert(bytes.map("%02x".format(_)).mkString === golden)
  }

  test("00309: RowBinaryWithNamesAndTypes header bytes match the golden") {
    val goldenHeader =
      "05016e0164036172720173057475706c650655496e74363404446174650d4172726179" +
        "2855496e7436342906537472696e67135475706c652855496e7436342c204461746529"
    val bytes = OutputFormats.writeBytes(f309, "RowBinaryWithNamesAndTypes")
    assert(bytes.take(goldenHeader.length / 2).map("%02x".format(_)).mkString
      === goldenHeader)
    // and the self-describing reader round-trips it
    val back = InputFormats.parseBytes(spark, bytes, "RowBinaryWithNamesAndTypes")
    assert(back.columns.toSeq === Seq("n", "d", "arr", "s", "tuple"))
    val r = back.head()
    assert(r.getLong(0) === 10L)
    assert(r.getDate(1).toString === "2000-01-11")
    assert(r.getSeq[Long](2) === (0L to 9L).toSeq)
    assert(r.getString(3) === (1 to 9).map(_.toChar).mkString)
    assert(r.getStruct(4).getLong(0) === 10L)
  }

  test("RowBinary round-trips nullable / decimal / map / float columns") {
    val schema = StructType(Seq(
      chField("a", ShortType, "UInt8"),
      chField("b", StringType, "Nullable(String)", nullable = true),
      chField("c", DecimalType(9, 2), "Decimal(9, 2)"),
      chField("m", MapType(StringType, LongType, valueContainsNull = false),
        "Map(String, UInt64)"),
      chField("f", DoubleType, "Float64")))
    val in = df(schema,
      Row(7.toShort, "hi", new java.math.BigDecimal("12.34"), Map("k" -> 1L), 2.5),
      Row(255.toShort, null, new java.math.BigDecimal("-0.01"), Map.empty[String, Long], -1.0))
    val bytes = RowBinaryFormat.write(in, withNames = true, withTypes = true)
    val back = RowBinaryFormat.read(spark, bytes, None, withNames = true, withTypes = true)
    assert(back.collect().map(_.toString).toSeq === in.collect().map(_.toString).toSeq)
  }

  test("RowBinary/Native frame Int128/Int256/Decimal(76) at the reference widths") {
    // the reference serializes Int128/Int256 as 16/32 LE bytes and
    // Decimal(76) as 32 — a wrong width misreads EVERY later column, so
    // the framing is what this pins (values carry at Int64 precision via
    // the engine's wraparound conversion; see RowBinaryFormat notes)
    val schema = StructType(Seq(
      chField("w", LongType, "Int128"),
      chField("s", StringType, "String"),
      chField("u", LongType, "UInt256"),
      chField("d", DecimalType(38, 2), "Decimal(76, 2)"),
      chField("t", IntegerType, "Int32")))
    val in = df(schema,
      Row(-5L, "mid", 9L, new java.math.BigDecimal("12.34"), 42),
      Row(Long.MaxValue, "x", 0L, new java.math.BigDecimal("-0.01"), -7))
    val bytes = RowBinaryFormat.write(in, withNames = false, withTypes = false)
    // per row: 16 (Int128) + 1+len (String varint) + 32 (UInt256) +
    // 32 (Decimal(76)) + 4 (Int32)
    assert(bytes.length === (16 + 4 + 32 + 32 + 4) + (16 + 2 + 32 + 32 + 4))
    // -5 as Int128: low 8 bytes LE of -5, then 8 bytes of 0xff sign fill
    assert(bytes(7) === -1.toByte && bytes(8) === -1.toByte && bytes(15) === -1.toByte)
    assert(bytes(0) === (-5).toByte)
    val back = RowBinaryFormat.read(spark, bytes, Some(schema),
      withNames = false, withTypes = false)
    assert(back.collect().map(_.toString).toSeq === in.collect().map(_.toString).toSeq)
    // Native: same framing contract, bulk columns — and the Decimal
    // width must come from the DECLARED precision here too (it reads
    // 32 bytes for Decimal(76), not the Spark-precision 16)
    val nat = OutputFormats.writeBytes(in, "Native")
    val natBack = InputFormats.parseBytes(spark, nat, "Native")
    assert(natBack.collect().map(_.toString).toSeq === in.collect().map(_.toString).toSeq)
    // the Decimal256(S) alias spelling maps like Decimal(76, S)
    assert(ChTypes.toSpark("Decimal256(2)")._1 === DecimalType(38, 2))
    // inline comments inside a type declaration parse (00477)
    assert(ChTypes.toSpark("Array( /* Hello */ UInt32 /* World */ )")._1
      === org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, false))
    // ...but comment delimiters INSIDE a quoted literal are data, not
    // comments (the reference lexes comments only outside strings) —
    // an Enum value spelled 'a/*b' or '*/x' must survive the strip
    assert(ChTypes.toSpark("Enum8('a/*b' = 1, '*/x' = 2) /* tail */")._1
      === org.apache.spark.sql.types.StringType)
    assert(ChTypes.toSpark("Enum8('it\\'s/*' = 1) /* real comment */")._1
      === org.apache.spark.sql.types.StringType)
    assert(ChTypes.decimalWireWidth("Decimal256(2)", 38) === 32)
    assert(ChTypes.decimalWireWidth("Decimal(76, 2)", 38) === 32)
    assert(ChTypes.decimalWireWidth("Decimal(9, 2)", 38) === 4)
  }

  test("wide reads are STRICT: genuinely wide values throw, wrap views read") {
    // 1 + 2^64 as Int128: low 8 LE bytes = 1, byte 8 = 0x01 — the high
    // bytes are NOT a sign extension of the low 8, so a silent wrap
    // would corrupt the value; the read must throw instead
    val wideSchema = StructType(Seq(chField("w", LongType, "Int128")))
    val genuinelyWide = new Array[Byte](16)
    genuinelyWide(0) = 1; genuinelyWide(8) = 1
    val e = intercept[IllegalArgumentException] {
      RowBinaryFormat.read(spark, genuinelyWide, Some(wideSchema),
        withNames = false, withTypes = false).collect()
    }
    assert(e.getMessage.contains("Int64 carrier"))
    // UInt128 in [2^63, 2^64): zero high bytes — the documented
    // UInt64-style two's-complement view, reads as the wrapped Long
    val uSchema = StructType(Seq(chField("u", LongType, "UInt128")))
    val wrapView = new Array[Byte](16)
    java.util.Arrays.fill(wrapView, 0, 8, -1.toByte) // 2^64 - 1
    val got = RowBinaryFormat.read(spark, wrapView, Some(uSchema),
      withNames = false, withTypes = false).collect()
    assert(got.head.getLong(0) === -1L)
    // Native path shares the contract (same helper): write a fitting
    // value, then corrupt the trailing high bytes into a genuine wide
    val nat = OutputFormats.writeBytes(df(wideSchema, Row(1L)), "Native")
    nat(nat.length - 8) = 1
    val natWide = intercept[Exception] {
      InputFormats.parseBytes(spark, nat, "Native").collect()
    }
    assert(natWide.getMessage.contains("Int64 carrier"))
  }

  // ---- Vertical (00231) ---------------------------------------------------

  test("00231: Vertical raw values") {
    val schema = StructType(Seq(chField("x", StringType, "String")))
    val d = df(schema, Row("a\tb\nc\td"))
    assert(OutputFormats.write(d, "Vertical") === "Row 1:\n──────\nx: a\tb\nc\td\n")
  }

  test("Vertical pads names to align values") {
    val schema = StructType(Seq(
      chField("id", LongType, "UInt64"), chField("name", StringType, "String")))
    val d = df(schema, Row(1L, "x"))
    assert(OutputFormats.write(d, "Vertical") ===
      "Row 1:\n──────\nid:   1\nname: x\n")
  }

  // ---- Markdown (01231) ---------------------------------------------------

  test("01231: Markdown") {
    val schema = StructType(Seq(
      chField("id", IntegerType, "UInt32"),
      chField("name", StringType, "String"),
      chField("array", ArrayType(IntegerType, containsNull = false), "Array(Int32)"),
      chField("nullable", StringType, "Nullable(String)", nullable = true),
      chField("low_cardinality", StringType, "LowCardinality(String)"),
      chField("decimal", DecimalType(9, 6), "Decimal32(6)")))
    def dec(s: String) = new java.math.BigDecimal(s).setScale(6)
    val d = df(schema,
      Row(1, "name1", Seq(1, 2, 3), "Some long string", "name1", dec("1.11")),
      Row(2, "name2", Seq(4, 5, 60000), null, "Another long string", dec("222.222222")),
      Row(30000, "One more long string", Seq(7, 8, 9), "name3", "name3", dec("3.33")))
    val expected =
      "| id | name | array | nullable | low_cardinality | decimal |\n" +
        "|-:|:-|:-|:-|:-|-:|\n" +
        "| 1 | name1 | [1,2,3] | Some long string | name1 | 1.11 |\n" +
        "| 2 | name2 | [4,5,60000] | \\N | Another long string | 222.222222 |\n" +
        "| 30000 | One more long string | [7,8,9] | name3 | name3 | 3.33 |\n"
    assert(OutputFormats.write(d, "Markdown") === expected)
  }

  // ---- Values (01633 output shape; 00306 input) ---------------------------

  test("Values output: single line of comma-joined tuples") {
    val schema = StructType(Seq(
      chField("number", LongType, "UInt64"), chField("k", ShortType, "UInt8")))
    val d = df(schema, Row(1025L, 1.toShort), Row(1026L, 1.toShort), Row(1027L, 1.toShort))
    assert(OutputFormats.write(d, "Values") === "(1025,1),(1026,1),(1027,1)\n")
  }

  test("00306: Values input — literals and interpreted expressions") {
    val structure =
      "i UInt64, s String, u UUID, d Date, t DateTime, a Array(UInt32)"
    val data =
      "(1, 'Hello', 'ab41bdd6-5cd4-11e7-907b-a6006ad3dba0', '2016-01-01', " +
        "'2016-01-02 03:04:05', [1, 2, 3]), " +
        "(1 + 1, concat('Hello', ', world'), " +
        "toUUID('00000000-0000-0000-0000-000000000000'), " +
        "toDate('2016-01-01') + 1, " +
        "toStartOfMinute(toDateTime('2016-01-02 03:04:05')), [[0,1],[2]][1]), " +
        "(4, 'World', 'ab41bdd6-5cd4-11e7-907b-a6006ad3dba0', '2016-01-04', " +
        "'2016-12-11 10:09:08', [3,2,1])"
    val out = InputFormats.parse(spark, data, "Values", Some(structure))
      .orderBy("i").collect()
    assert(out.length === 3)
    // golden row: 1  Hello  ab41…  2016-01-01  2016-01-02 03:04:05  [1,2,3]
    assert(out(0).getLong(0) === 1L)
    assert(out(0).getString(1) === "Hello")
    assert(out(0).getString(2) === "ab41bdd6-5cd4-11e7-907b-a6006ad3dba0")
    assert(out(0).getDate(3).toString === "2016-01-01")
    assert(FormatCodec.dateTimeText(out(0).getTimestamp(4)) === "2016-01-02 03:04:05")
    assert(out(0).getSeq[Long](5) === Seq(1L, 2L, 3L))
    // golden row: 2  Hello, world  0000…  2016-01-02  2016-01-02 03:04:00  [0,1]
    assert(out(1).getLong(0) === 2L)
    assert(out(1).getString(1) === "Hello, world")
    assert(out(1).getString(2) === "00000000-0000-0000-0000-000000000000")
    assert(out(1).getDate(3).toString === "2016-01-02")
    assert(FormatCodec.dateTimeText(out(1).getTimestamp(4)) === "2016-01-02 03:04:00")
    assert(out(1).getSeq[Long](5) === Seq(0L, 1L))
    // golden row: 4  World  …  2016-01-04  2016-12-11 10:09:08  [3,2,1]
    assert(out(2).getLong(0) === 4L)
    assert(out(2).getSeq[Long](5) === Seq(3L, 2L, 1L))
  }

  test("rewriteChExpr: array literals and 1-based subscripts") {
    assert(InputFormats.rewriteChExpr("[1, 2, 3]") === "array(1, 2, 3)")
    assert(InputFormats.rewriteChExpr("[[0,1],[2]][1]") ===
      "element_at(array(array(0,1),array(2)), 1)")
    assert(InputFormats.rewriteChExpr("f(x)[2]") === "element_at(f(x), 2)")
    assert(InputFormats.rewriteChExpr("'a[1]'") === "'a[1]'")
  }

  // ---- TSKV (00310 input; 01550 output shape) -----------------------------

  test("00310: TSKV input unescapes \\= in values; output escapes names only") {
    val parsed = InputFormats.parse(spark,
      "tskv\ttext=can contain \\= symbol\n", "TSKV", Some("text String"))
    assert(parsed.head().getString(0) === "can contain = symbol")

    val schema = StructType(Seq(
      chField("a=b", StringType, "String"), chField("v", LongType, "UInt64")))
    val out = OutputFormats.write(df(schema, Row("x=y", 1L)), "TSKV")
    assert(out === "a\\=b=x=y\tv=1\n")
  }

  // ---- Map columns across formats (01550) ---------------------------------

  private lazy val mapDf: DataFrame = {
    val schema = StructType(Seq(
      chField("m", MapType(StringType, LongType, valueContainsNull = false),
        "Map(String, UInt32)"),
      chField("m1", MapType(StringType, DateType, valueContainsNull = false),
        "Map(String, Date)"),
      chField("m2", MapType(StringType, ArrayType(LongType, containsNull = false),
        valueContainsNull = false), "Map(String, Array(UInt32))")))
    def d(s: String) = java.sql.Date.valueOf(s)
    df(schema,
      Row(Map("k1" -> 1L, "k2" -> 2L, "k3" -> 3L), Map("k1" -> d("2020-05-05")),
        Map("k1" -> Seq.empty[Long], "k2" -> Seq(7L, 8L))),
      Row(Map("k1" -> 10L, "k3" -> 30L), Map("k2" -> d("2020-06-06")),
        Map.empty[String, Seq[Long]]))
  }

  test("01550: maps in JSONEachRow / CSV / TSV / TSKV") {
    assert(OutputFormats.write(mapDf, "JSONEachRow") ===
      """{"m":{"k1":1,"k2":2,"k3":3},"m1":{"k1":"2020-05-05"},"m2":{"k1":[],"k2":[7,8]}}""" + "\n" +
        """{"m":{"k1":10,"k3":30},"m1":{"k2":"2020-06-06"},"m2":{}}""" + "\n")
    assert(OutputFormats.write(mapDf, "CSV") ===
      "\"{'k1':1,'k2':2,'k3':3}\",\"{'k1':'2020-05-05'}\",\"{'k1':[],'k2':[7,8]}\"\n" +
        "\"{'k1':10,'k3':30}\",\"{'k2':'2020-06-06'}\",\"{}\"\n")
    assert(OutputFormats.write(mapDf, "TSV") ===
      "{'k1':1,'k2':2,'k3':3}\t{'k1':'2020-05-05'}\t{'k1':[],'k2':[7,8]}\n" +
        "{'k1':10,'k3':30}\t{'k2':'2020-06-06'}\t{}\n")
    assert(OutputFormats.write(mapDf, "TSKV") ===
      "m={'k1':1,'k2':2,'k3':3}\tm1={'k1':'2020-05-05'}\tm2={'k1':[],'k2':[7,8]}\n" +
        "m={'k1':10,'k3':30}\tm1={'k2':'2020-06-06'}\tm2={}\n")
  }

  test("01550: maps in framed JSON") {
    val out = OutputFormats.write(mapDf, "JSON")
    assert(out.contains("\"type\": \"Map(String, UInt32)\""))
    assert(out.contains("\t\t\t\"m\": {\"k1\":1,\"k2\":2,\"k3\":3},"))
    assert(out.contains("\t\t\t\"m2\": {}\n"))
    assert(out.endsWith("\t\"rows\": 2\n}\n"))
  }

  // ---- Regexp (01508) / JSONColumns input (02293) / metadata / save ------

  test("01508: Regexp input with Raw escaping") {
    val out = InputFormats.parse(spark,
      "abc\\ separator Hello, world!\n", "Regexp", Some("a String, b String"),
      S(regexpPattern = "^(.+?) separator (.+?)$"))
    assert(out.head().toSeq === Seq("abc\\", "Hello, world!"))
  }

  test("02293: JSONColumns input — union of chunk columns, NULL-filled") {
    val data =
      "{\n \"b\": [1, 2, 3],\n \"a\": [3, 2, 1]\n}\n" +
        "{\n \"c\": [1, 2, 3]\n}\n{\n}\n" +
        "{\n \"a\": [],\n \"d\": []\n}\n{\n \"d\": [\"String\"]\n}"
    val out = InputFormats.parse(spark, data, "JSONColumns")
    assert(out.columns.toSeq === Seq("b", "a", "c", "d"))
    assert(out.count() === 7)
    val rows = out.collect().map(_.toString).toSeq
    assert(rows.take(3) === Seq("[1,3,null,null]", "[2,2,null,null]", "[3,1,null,null]"))
    assert(rows.last === "[null,null,null,String]")
    // declared structure keeps only the named columns
    val narrowed = InputFormats.parse(spark, data, "JSONColumns",
      Some("a Int64, t String"))
    assert(narrowed.columns.toSeq === Seq("a", "t"))
    assert(narrowed.collect().map(_.getAs[Any]("a")).toSeq.take(3) === Seq(3L, 2L, 1L))
  }

  test("JSONCompactColumns round-trip") {
    val schema = StructType(Seq(
      chField("a", IntegerType, "UInt32"), chField("b", StringType, "String")))
    val d = df(schema, Row(1, "x"), Row(2, "y"))
    val out = OutputFormats.write(d, "JSONCompactColumns")
    val back = InputFormats.parse(spark, out, "JSONCompactColumns",
      Some("a UInt32, b String"))
    assert(back.collect().map(_.toString).toSeq === d.collect().map(_.toString).toSeq)
  }

  test("02293: JSONColumnsWithMetadata output shape") {
    val schema = StructType(Seq(
      chField("sum", LongType, "UInt64"), chField("avg", DoubleType, "Float64")))
    val d = df(schema, Row(1L, 1.0), Row(2L, 2.0), Row(3L, 3.0), Row(4L, 2.0))
    val out = OutputFormats.write(d, "JSONColumnsWithMetadata",
      S(rowsRead = Some(5), bytesRead = Some(20)))
    assert(out.contains("\t\"meta\":"))
    assert(out.contains("\t\t\"sum\": [\"1\", \"2\", \"3\", \"4\"]"))
    assert(out.contains("\t\t\"avg\": [1, 2, 3, 2]"))
    assert(out.contains("\t\"rows\": 4"))
    assert(out.contains("\t\t\"rows_read\": 5,\n\t\t\"bytes_read\": 20"))
  }

  test("save(): distributed export writes one file set per partition") {
    val dir = tempDir("fmt-save").toString + "/out"
    val d = spark.range(0, 100, 1, 4).toDF("n")
    OutputFormats.save(d, dir, "JSONEachRow")
    val back = spark.read.textFile(dir).collect().sorted
    assert(back.length === 100)
    assert(back.head === "{\"n\":\"0\"}")
    intercept[IllegalArgumentException] {
      OutputFormats.save(d, dir + "2", "Pretty")
    }
  }

  test("formats registry covers inputs and outputs") {
    val fs = OutputFormats.formats
    assert(fs.size >= 50)
    assert(fs.count(_._2) >= 25 && fs.count(_._3) >= 35)
    // every listed text input format actually parses
    assert(fs.filter(f => f._2).map(_._1).contains("MySQLDump"))
  }

  test("framed JSON / JSONCompact round-trip as input (self-describing meta)") {
    val schema = StructType(Seq(
      chField("n", LongType, "UInt64"), chField("s", StringType, "String"),
      chField("d", DateType, "Date")))
    val d = df(schema,
      Row(1L, "a,b", java.sql.Date.valueOf("2020-01-01")),
      Row(2L, "x\ty", java.sql.Date.valueOf("2020-06-15")))
    for (fmt <- Seq("JSON", "JSONCompact")) {
      val out = OutputFormats.write(d, fmt)
      val back = InputFormats.parse(spark, out, fmt)
      assert(back.schema.fields.map(ChTypes.chName).toSeq ===
        Seq("UInt64", "String", "Date"), fmt)
      assert(back.collect().map(_.toString).toSeq ===
        d.collect().map(_.toString).toSeq, fmt)
    }
  }

  test("02157/01232: LineAsString output raw; JSONAsString brace-matched objects") {
    val schema = StructType(Seq(chField("x", StringType, "String")))
    // 02157: no escaping at all on output
    assert(OutputFormats.write(df(schema, Row("Hello \\ World")), "LineAsString")
      === "Hello \\ World\n")
    // 01232: objects split on matching braces, quotes/escapes respected,
    // nested maps and braces inside strings kept verbatim
    val payload =
      "{\n \"id\" : 1,\n \"string\" : \"123{{{\\\"\\\\\",\n \"map\": {\"a\" : 1}\n},\n" +
        "{\n \"id\" : 2,\n \"string\" : \"{another\\\"\\n string}}\",\n \"map\" : {\"z\" : 1}\n}"
    val out = InputFormats.parse(spark, payload, "JSONAsString").collect()
    assert(out.length === 2)
    assert(out(0).getString(0).startsWith("{") && out(0).getString(0).endsWith("}"))
    assert(out(0).getString(0).contains("123{{{"))
    assert(out(1).getString(0).contains("{another"))
  }

  test("JSONCompactStrings: framed compact rows with stringified values") {
    val schema = StructType(Seq(
      chField("n", LongType, "UInt64"), chField("s", StringType, "String")))
    val out = OutputFormats.write(df(schema, Row(7L, "x")), "JSONCompactStrings")
    assert(out.contains("\t\t[\"7\", \"x\"]"))
    assert(out.contains("\"rows\": 1"))
  }

  test("Native: columnar block round-trip incl. Nullable and Array columns") {
    val schema = StructType(Seq(
      chField("n", LongType, "UInt64"),
      chField("s", StringType, "String"),
      chField("opt", StringType, "Nullable(String)", nullable = true),
      chField("arr", ArrayType(LongType, containsNull = false), "Array(UInt64)"),
      chField("d", DateType, "Date"),
      chField("f", DoubleType, "Float64")))
    val d = df(schema,
      Row(1L, "a", "x", Seq(1L, 2L), java.sql.Date.valueOf("2020-01-01"), 1.5),
      Row(2L, "b", null, Seq.empty[Long], java.sql.Date.valueOf("2021-06-15"), -2.25),
      Row(3L, "c", "z", Seq(7L), java.sql.Date.valueOf("1970-01-01"), 0.0))
    val bytes = OutputFormats.writeBytes(d, "Native")
    // header: 6 columns, 3 rows
    assert((bytes(0) & 0xff) === 6 && (bytes(1) & 0xff) === 3)
    val back = InputFormats.parseBytes(spark, bytes, "Native")
    assert(back.schema.fields.map(ChTypes.chName).toSeq ===
      schema.fields.map(ChTypes.chName).toSeq)
    assert(back.collect().map(_.toString).toSeq === d.collect().map(_.toString).toSeq)
    // two concatenated blocks read as one frame
    val twice = bytes ++ bytes
    assert(InputFormats.parseBytes(spark, twice, "Native").count() === 6)
  }

  test("BSONEachRow: one document per row, round-trip with declared structure") {
    val schema = StructType(Seq(
      chField("n", LongType, "Int64"),
      chField("s", StringType, "String"),
      chField("opt", StringType, "Nullable(String)", nullable = true),
      chField("arr", ArrayType(LongType, containsNull = false), "Array(Int64)"),
      chField("b", BooleanType, "Bool"),
      chField("f", DoubleType, "Float64")))
    val d = df(schema,
      Row(1L, "a", "x", Seq(1L, 2L), true, 1.5),
      Row(2L, "b\u00e9ta", null, Seq.empty[Long], false, -2.25))
    val bytes = OutputFormats.writeBytes(d, "BSONEachRow")
    // first document: int32 size then type byte 0x12 (INT64) + "n\0"
    assert((bytes(4) & 0xff) === 0x12 && bytes(5) === 'n'.toByte && bytes(6) === 0)
    val back = InputFormats.parseBytes(spark, bytes, "BSONEachRow",
      Some("n Int64, s String, opt Nullable(String), arr Array(Int64), b Bool, f Float64"))
    assert(back.collect().map(_.toString).toSeq === d.collect().map(_.toString).toSeq)
    // self-describing read (schema from the documents)
    val inferred = InputFormats.parseBytes(spark, bytes, "BSONEachRow")
    assert(inferred.columns.toSeq === Seq("n", "s", "opt", "arr", "b", "f"))
    assert(inferred.count() === 2)
  }

  test("signed Int64 parses in every text path (negative values)") {
    // ADVICE r13: parseUnsignedLong threw on '-'; Int64 is the default int
    assert(FormatCodec.parseScalar("-42", LongType) === -42L)
    assert(FormatCodec.parseScalar("9223372036854775807", LongType) === Long.MaxValue)
    // UInt64 upper half still round-trips via the unsigned fallback
    assert(FormatCodec.parseScalar("18446744073709551615", LongType) === -1L)
    val back = InputFormats.parse(spark, "-7\tx\n", "TabSeparated",
      Some("n Int64, s String"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((-7L, "x")))
    val j = InputFormats.parse(spark, "{\"n\": -9, \"s\": \"y\"}\n",
      "JSONEachRow", Some("n Int64, s String"))
    assert(j.collect().head.getLong(0) === -9L)
  }

  test("interior empty line is a row; terminal newline fragment is not") {
    val back = InputFormats.parse(spark, "a\n\nb\n", "TabSeparated",
      Some("s String"))
    assert(back.collect().map(_.getString(0)).toSeq === Seq("a", "", "b"))
  }

  test("CSV typed header: quoted type containing the separator splits correctly") {
    val data = "\"d\"\n\"Decimal(18, 2)\"\n\"1.50\"\n"
    val back = InputFormats.parse(spark, data, "CSVWithNamesAndTypes")
    assert(back.schema.fields(0).name === "d")
    assert(back.schema.fields(0).dataType === DecimalType(18, 2))
    assert(back.collect().head.getDecimal(0).toPlainString === "1.50")
  }

  test("BSONEachRow: non-ASCII element names decode as UTF-8") {
    val schema = StructType(Seq(chField("col\u00e9", LongType, "Int64")))
    val d = df(schema, Row(5L))
    val bytes = OutputFormats.writeBytes(d, "BSONEachRow")
    val back = InputFormats.parseBytes(spark, bytes, "BSONEachRow",
      Some("col\u00e9 Int64"))
    assert(back.columns.toSeq === Seq("col\u00e9"))
    assert(back.collect().head.getLong(0) === 5L)
  }

  test("MsgPack: minimal encodings, reference type mapping, round-trip") {
    val schema = StructType(Seq(
      chField("u8", IntegerType, "UInt8"),
      chField("i64", LongType, "Int64"),
      chField("f", DoubleType, "Float64"),
      chField("s", StringType, "String"),
      chField("opt", StringType, "Nullable(String)", nullable = true),
      chField("arr", ArrayType(LongType, containsNull = false), "Array(UInt32)"),
      chField("d", DateType, "Date")))
    val d = df(schema,
      Row(255, -100000000000L, 10000.0000001, "String", null,
        Seq(1L, 2L, 3L), java.sql.Date.valueOf("2021-12-19")),
      Row(4, 42L, 42.42, "Another", "x", Seq.empty[Long],
        java.sql.Date.valueOf("1970-02-12")))
    val bytes = OutputFormats.writeBytes(d, "MsgPack")
    // 255 as UInt8 -> 0xcc 0xff; -100000000000 needs int64 -> 0xd3
    assert((bytes(0) & 0xff) === 0xcc && (bytes(1) & 0xff) === 0xff)
    assert((bytes(2) & 0xff) === 0xd3)
    val back = InputFormats.parseBytes(spark, bytes, "MsgPack",
      Some("u8 UInt8, i64 Int64, f Float64, s String, opt Nullable(String), " +
        "arr Array(UInt32), d Date"))
    assert(back.collect().map(_.toString).toSeq === d.collect().map(_.toString).toSeq)
    // strings pack as bin (0xc4), per the reference's default
    assert(bytes.indexOfSlice("String".getBytes("UTF-8")) > 0)
    assert((bytes(bytes.indexOfSlice("String".getBytes("UTF-8")) - 2) & 0xff) === 0xc4)
  }

  test("readLines: distributed TSV file-set parse matches the driver parse") {
    val dir = tempDir("graft_readlines")
      .resolve("tsv").toString
    val d = spark.range(0, 100).selectExpr("id AS n", "concat('s', id) AS s")
    OutputFormats.save(d.repartition(4), dir, "TSV")
    val back = InputFormats.readLines(spark.read.textFile(dir), "TSV",
      "n Int64, s String")
    assert(back.count() === 100)
    assert(back.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) === 4950L)
    assert(back.filter("s = 's7'").count() === 1)
  }

  test("JSONObjectEachRow round-trip as input; object name via setting") {
    val schema = StructType(Seq(
      chField("n", LongType, "Int64"),
      chField("s", StringType, "String")))
    val d = df(schema, Row(1L, "a"), Row(2L, "b"))
    val out = OutputFormats.write(d, "JSONObjectEachRow")
    val back = InputFormats.parse(spark, out, "JSONObjectEachRow",
      Some("n Int64, s String"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // object keys land in the named column when requested
    val s2 = OutputFormats.Settings(jsonObjectEachRowColumnForObjectName = "rk")
    val withKey = InputFormats.parse(spark, out, "JSONObjectEachRow",
      Some("rk String, n Int64, s String"), s2)
    assert(withKey.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("row_1", 1L), ("row_2", 2L)))
    // self-describing read (union of row-object keys)
    val inferred = InputFormats.parse(spark, out, "JSONObjectEachRow")
    assert(inferred.columns.toSeq === Seq("n", "s"))
    assert(inferred.count() === 2)
  }

  test("HiveText input: \\x01-delimited rows against a declared structure") {
    val data = "7\u0001zz\u00012021-12-19\n8\u0001\\N\u00012021-12-20\n"
    val back = InputFormats.parse(spark, data, "HiveText",
      Some("n Int64, s Nullable(String), d Date"))
    val rows = back.collect()
    assert(rows(0).getLong(0) === 7L && rows(0).getString(1) === "zz")
    assert(rows(1).isNullAt(1))
    assert(rows(0).getDate(2).toString === "2021-12-19")
  }

  test("Native: recursive nesting — Array(Array), Tuple, Map, Array(Nullable)") {
    val schema = StructType(Seq(
      chField("aa", ArrayType(ArrayType(LongType, containsNull = false),
        containsNull = false), "Array(Array(Int64))"),
      chField("tup", StructType(Seq(
        StructField("_1", LongType, nullable = false),
        StructField("_2", StringType, nullable = false))), "Tuple(Int64, String)"),
      chField("m", MapType(StringType, LongType, valueContainsNull = false),
        "Map(String, Int64)"),
      chField("an", ArrayType(StringType, containsNull = true),
        "Array(Nullable(String))")))
    val d = df(schema,
      Row(Seq(Seq(1L, 2L), Seq.empty[Long], Seq(3L)), Row(7L, "x"),
        Map("a" -> 1L, "b" -> 2L), Seq("p", null, "q")),
      Row(Seq.empty[Seq[Long]], Row(-1L, "né"), Map.empty[String, Long],
        Seq.empty[String]))
    val bytes = OutputFormats.writeBytes(d, "Native")
    val back = InputFormats.parseBytes(spark, bytes, "Native")
    assert(back.schema.fields.map(f => ChTypes.chName(f)).toSeq ===
      Seq("Array(Array(Int64))", "Tuple(Int64, String)", "Map(String, Int64)",
        "Array(Nullable(String))"))
    val got = back.collect()
    assert(got(0).getSeq[Seq[Long]](0) === Seq(Seq(1L, 2L), Seq.empty, Seq(3L)))
    assert(got(0).getStruct(1).toSeq === Seq(7L, "x"))
    assert(got(0).getMap[String, Long](2) === Map("a" -> 1L, "b" -> 2L))
    assert(got(0).getSeq[String](3) === Seq("p", null, "q"))
    assert(got(1).getStruct(1).getString(1) === "né")
    assert(got(1).getSeq[Seq[Long]](0).isEmpty)
  }

  test("MySQLDump: '--' and '/*...*/' comments around/inside statements") {
    // the shape real mysqldump output has: header comments, conditional
    // /*!40101*/ statements, a '-- Dumping data' banner WITH an
    // apostrophe, then the INSERT (ref MySQLDumpRowInputFormat.cpp
    // skips both comment styles before keyword matching)
    val dump =
      """-- MySQL dump 10.13  Distrib 8.0
        |/*!40101 SET @saved_cs_client = @@character_set_client */;
        |-- Dumping data for table `t` — it's the one we want
        |INSERT INTO `t` (`a`, `b`) VALUES (1,'x'),(2,'y\'s');
        |/* trailing block
        |   comment */
        |""".stripMargin
    val back = InputFormats.parse(spark, dump, "MySQLDump")
    assert(back.columns.toSeq === Seq("a", "b"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "x"), (2L, "y's")))
    // a quoted literal containing '--' is NOT a comment
    val lit = InputFormats.parse(spark,
      "INSERT INTO t (a) VALUES ('a -- not a comment'),('b # neither');",
      "MySQLDump")
    assert(lit.collect().map(_.getString(0)).toSeq ===
      Seq("a -- not a comment", "b # neither"))
    // MySQL's rule: '--' is a comment only when followed by whitespace
    // or EOL — an unquoted double-dash inside an expression (1--2) must
    // NOT swallow the rest of the line
    assert(InputFormats.stripSqlComments("SELECT 1--2") === "SELECT 1--2")
    assert(InputFormats.stripSqlComments("SELECT 1 -- two\n") === "SELECT 1 \n")
    assert(InputFormats.stripSqlComments("SELECT 1 --") === "SELECT 1 ")
  }

  test("blank lines are skipped for multi-column / typed schemas") {
    // "\n\n"-terminated payload with an Int column: the blank line must
    // not become a row of empty fields (NumberFormatException)
    val back = InputFormats.parse(spark, "1\tx\n\n2\ty\n\n",
      "TabSeparated", Some("n Int64, s String"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "x"), (2L, "y")))
    val csv = InputFormats.parse(spark, "n,s\n1,x\n\n2,y\n",
      "CSVWithNames", Some("n Int64, s String"))
    assert(csv.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "x"), (2L, "y")))
    // single String column keeps the empty-row round-trip contract
    val s1 = InputFormats.parse(spark, "a\n\nb\n", "TabSeparated",
      Some("s String"))
    assert(s1.collect().map(_.getString(0)).toSeq === Seq("a", "", "b"))
  }
}
