package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.{ChTypes, InputFormats, OutputFormats, ProtobufFormat}

/** Protobuf / ProtobufSingle / ProtobufList — byte-pinned to the
  * reference's own goldens (00825_protobuf_format_squares / _array_of_
  * arrays / _map / _enum_mapping .reference hexdumps) plus round-trips
  * across the scalar kinds and framings.
  */
class ProtobufFormatSpec extends SparkSpec {

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString(" ")

  private def df(schema: StructType, rows: Row*) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows.toSeq).asJava), schema)

  // ---------------------------------------------------------------- goldens

  test("squares golden: proto3 skips defaults, varint-delimited frames") {
    val schema = ChTypes.structure("number UInt32, square UInt64")
    val base = df(schema, Row(2L, 4L), Row(0L, 0L), Row(3L, 9L))
    val proto =
      """syntax = "proto3";
        |message NumberAndSquare {
        |  uint32 number = 1;
        |  uint64 square = 2;
        |};""".stripMargin
    val bytes = ProtobufFormat.write(base, proto, "NumberAndSquare", "protobuf")
    // 00825_protobuf_format_squares.reference: the (0,0) row is an empty
    // message (both fields at their proto3 default)
    assert(hex(bytes) === "04 08 02 10 04 00 04 08 03 10 09")
    val back = ProtobufFormat.read(spark, bytes, proto, "NumberAndSquare",
      "protobuf", schema)
    assert(back.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((2L, 4L), (0L, 0L), (3L, 9L)))
  }

  test("array_of_arrays golden: repeated message elements + packed doubles") {
    val schema = StructType(Seq(
      StructField("a", StringType, nullable = false),
      StructField("b", ArrayType(StructType(Seq(
        StructField("c", ArrayType(DoubleType, containsNull = false),
          nullable = false)))), nullable = false)))
    val base = df(schema, Row("one", Seq(
      Row(Seq(1.0, 2.0, 3.0)), Row(Seq(0.5, 0.25)), Row(Seq.empty[Double]),
      Row(Seq(4.0, 5.0)), Row(Seq(0.125, 0.0625)), Row(Seq(6.0)))))
    val proto =
      """syntax = "proto3";
        |message AA {
        |    message nested_array {
        |	    repeated double c = 2;
        |    }
        |    string a = 1;
        |    repeated nested_array b = 2;
        |}""".stripMargin
    val bytes = ProtobufFormat.write(base, proto, "AA", "protobuf")
    // 00825_protobuf_format_array_of_arrays.reference hexdump: the empty
    // inner array still writes its `b {}` element as `12 00`
    assert(hex(bytes) === ("6b 0a 03 6f 6e 65 12 1a 12 18 00 00 00 00 00 00 " +
      "f0 3f 00 00 00 00 00 00 00 40 00 00 00 00 00 00 08 40 12 12 12 10 " +
      "00 00 00 00 00 00 e0 3f 00 00 00 00 00 00 d0 3f 12 00 12 12 12 10 " +
      "00 00 00 00 00 00 10 40 00 00 00 00 00 00 14 40 12 12 12 10 " +
      "00 00 00 00 00 00 c0 3f 00 00 00 00 00 00 b0 3f 12 0a 12 08 " +
      "00 00 00 00 00 00 18 40"))
    val back = ProtobufFormat.read(spark, bytes, proto, "AA", "protobuf", schema)
    val r = back.collect()(0)
    assert(r.getString(0) === "one")
    assert(r.getSeq[Row](1).map(_.getSeq[Double](0)) === Seq(
      Seq(1.0, 2.0, 3.0), Seq(0.5, 0.25), Seq(), Seq(4.0, 5.0),
      Seq(0.125, 0.0625), Seq(6.0)))
  }

  test("map golden: entries always write key AND value, even defaults") {
    val schema = ChTypes.structure("a Map(String, UInt32)")
    val base = df(schema,
      Row(scala.collection.immutable.ListMap("x" -> 5L, "y" -> 7L)),
      Row(Map("z" -> 11L)), Row(Map("temp" -> 0L)), Row(Map("" -> 0L)))
    val proto =
      """syntax = "proto3";
        |message Message {
        |  map<string, uint32> a = 1;
        |};""".stripMargin
    val bytes = ProtobufFormat.write(base, proto, "Message", "protobuf")
    // 00825_protobuf_format_map.reference hexdump: {'temp':0} keeps its
    // explicit `10 00` value and {'':0} its zero-length key
    assert(hex(bytes) === ("0e 0a 05 0a 01 78 10 05 0a 05 0a 01 79 10 07 07 " +
      "0a 05 0a 01 7a 10 0b 0a 0a 08 0a 04 74 65 6d 70 10 00 06 0a 04 " +
      "0a 00 10 00"))
    val back = ProtobufFormat.read(spark, bytes, proto, "Message", "protobuf", schema)
    assert(back.collect().toSeq.map(_.getMap[String, Long](0).toMap) === Seq(
      Map("x" -> 5L, "y" -> 7L), Map("z" -> 11L), Map("temp" -> 0L), Map("" -> 0L)))
  }

  test("enum golden: case-insensitive name match first, then numeric value") {
    val schema = ChTypes.structure(
      "x Enum16('First' = -100, 'Second' = 0, 'Third' = 100)")
    val base = df(schema, Row("Second"), Row("Third"), Row("First"),
      Row("First"), Row("Second"))
    val proto =
      """syntax = "proto3";
        |message EnumMessage
        |{
        |  enum Enum
        |  {
        |    FIRST = 0;
        |    SECOND = 1;
        |    TEN = 10;
        |    HUNDRED = 100;
        |  };
        |  Enum x = 1;
        |};""".stripMargin
    val bytes = ProtobufFormat.write(base, proto, "EnumMessage", "protobuf")
    // 00825_protobuf_format_enum_mapping.reference: 'Second'(=0)→SECOND(=1)
    // by name, 'Third'(=100)→HUNDRED(=100) by value, 'First'→FIRST(=0) skipped
    assert(hex(bytes) === "02 08 01 02 08 64 00 00 02 08 01")
    val back = ProtobufFormat.read(spark, bytes, proto, "EnumMessage",
      "protobuf", schema)
    assert(back.collect().toSeq.map(_.getString(0)) ===
      Seq("Second", "Third", "First", "First", "Second"))
  }

  test("enum allow_alias: number decodes to the FIRST declared name") {
    val schema = ChTypes.structure("x String")
    val proto =
      """syntax = "proto3";
        |message AliasMessage
        |{
        |  enum State
        |  {
        |    option allow_alias = true;
        |    UNKNOWN = 0;
        |    RUNNING = 1;
        |    STARTED = 1;
        |    ACTIVE = 1;
        |    DONE = 2;
        |  };
        |  State x = 1;
        |};""".stripMargin
    val base = df(schema, Row("STARTED"), Row("DONE"))
    val bytes = ProtobufFormat.write(base, proto, "AliasMessage", "protobuf")
    // decode is deterministic first-declaration-wins: 1 → RUNNING, not
    // whichever alias a hash-map iteration happened to keep
    val back = ProtobufFormat.read(spark, bytes, proto, "AliasMessage",
      "protobuf", schema)
    assert(back.collect().toSeq.map(_.getString(0)) === Seq("RUNNING", "DONE"))
  }

  // ------------------------------------------------------------- framings

  test("ProtobufSingle: one bare message, >1 row refuses (error 546 analog)") {
    val schema = ChTypes.structure("x Int32, str String")
    val proto =
      """syntax = "proto3";
        |message Message {
        |  int32 x = 1;
        |  string str = 2;
        |};""".stripMargin
    val one = df(schema, Row(1000, "1K"))
    val bytes = ProtobufFormat.write(one, proto, "Message", "protobufsingle")
    // no length delimiter: payload starts directly with the x field key
    assert(hex(bytes) === "08 e8 07 12 02 31 4b")
    val back = ProtobufFormat.read(spark, bytes, proto, "Message",
      "protobufsingle", schema)
    assert(back.collect().toSeq.map(r => (r.getInt(0), r.getString(1))) ===
      Seq((1000, "1K")))
    val two = df(schema, Row(1, "a"), Row(2, "b"))
    intercept[IllegalArgumentException] {
      ProtobufFormat.write(two, proto, "Message", "protobufsingle")
    }
  }

  test("ProtobufList: rows nest as field 1 of the Envelope") {
    val schema = ChTypes.structure("name String, age UInt32")
    val proto =
      """syntax = "proto3";
        |message Envelope {
        |  message Person {
        |    string name = 1;
        |    uint32 age = 2;
        |  };
        |  repeated Person rows = 1;
        |};""".stripMargin
    val base = df(schema, Row("ada", 36L), Row("bob", 0L), Row("cyd", 7L))
    val bytes = ProtobufFormat.write(base, proto, "Person", "protobuflist")
    assert((bytes(0) & 0xff) === 0x0a) // field 1, wire 2
    val back = ProtobufFormat.read(spark, bytes, proto, "Person",
      "protobuflist", schema)
    assert(back.collect().toSeq.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("ada", 36L), ("bob", 0L), ("cyd", 7L)))
  }

  // ---------------------------------------------------- scalar kind closure

  test("scalar kinds round-trip: sint zigzag, fixed, float, bytes, bool") {
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = false),    // sint64
      StructField("b", IntegerType, nullable = false), // sint32
      StructField("c", LongType, nullable = false),    // int64 (negative)
      StructField("d", IntegerType, nullable = false), // fixed32
      StructField("e", LongType, nullable = false),    // sfixed64
      StructField("f", FloatType, nullable = false),
      StructField("g", BooleanType, nullable = false),
      StructField("h", BinaryType, nullable = false)))
    val proto =
      """syntax = "proto3";
        |message Wide {
        |  sint64 a = 1;
        |  sint32 b = 2;
        |  int64 c = 3;
        |  fixed32 d = 4;
        |  sfixed64 e = 5;
        |  float f = 6;
        |  bool g = 7;
        |  bytes h = 8;
        |};""".stripMargin
    val base = df(schema,
      Row(-3L, -7, -123456789012L, 42, -99L, 1.5f, true, Array[Byte](1, 2, 3)),
      Row(0L, 0, 0L, 0, 0L, 0.0f, false, Array.empty[Byte]))
    val bytes = ProtobufFormat.write(base, proto, "Wide", "protobuf")
    val back = ProtobufFormat.read(spark, bytes, proto, "Wide", "protobuf", schema)
    val rs = back.collect()
    assert(rs(0).getLong(0) === -3L)
    assert(rs(0).getInt(1) === -7)
    assert(rs(0).getLong(2) === -123456789012L)
    assert(rs(0).getInt(3) === 42)
    assert(rs(0).getLong(4) === -99L)
    assert(rs(0).getFloat(5) === 1.5f)
    assert(rs(0).getBoolean(6) === true)
    assert(rs(0).getAs[Array[Byte]](7).toSeq === Seq[Byte](1, 2, 3))
    // the all-defaults row reads back as defaults
    assert(rs(1).getLong(0) === 0L)
    assert(rs(1).getAs[Array[Byte]](7).length === 0)
  }

  test("proto2: no default skipping, [packed=true] honored") {
    val schema = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    val proto =
      """syntax = "proto2";
        |message M {
        |  optional int32 x = 1;
        |  repeated int32 xs = 2 [packed=true];
        |};""".stripMargin
    val base = df(schema, Row(0, Seq(1, 2, 3)))
    val bytes = ProtobufFormat.write(base, proto, "M", "protobuf")
    // proto2 writes x=0 explicitly; xs packs because of the option
    assert(hex(bytes) === "07 08 00 12 03 01 02 03")
    val back = ProtobufFormat.read(spark, bytes, proto, "M", "protobuf", schema)
    assert(back.collect()(0).getSeq[Int](1) === Seq(1, 2, 3))
  }

  test("nested singular message + column/field matching is case-insensitive") {
    val schema = StructType(Seq(
      StructField("Outer_Id", LongType, nullable = false),
      StructField("nest", StructType(Seq(
        StructField("d", IntegerType, nullable = false),
        StructField("e", ArrayType(IntegerType, containsNull = false),
          nullable = false))), nullable = false)))
    val proto =
      """syntax = "proto3";
        |message Root {
        |  message Sub {
        |    uint32 d = 1;
        |    repeated uint32 e = 2;
        |  };
        |  uint64 outer_id = 1;
        |  Sub NEST = 2;
        |};""".stripMargin
    val base = df(schema, Row(7L, Row(3, Seq(10, 20))), Row(8L, Row(0, Seq())))
    val bytes = ProtobufFormat.write(base, proto, "Root", "protobuf")
    val back = ProtobufFormat.read(spark, bytes, proto, "Root", "protobuf", schema)
    val rs = back.collect()
    assert(rs(0).getLong(0) === 7L)
    assert(rs(0).getStruct(1).getInt(0) === 3)
    assert(rs(0).getStruct(1).getSeq[Int](1) === Seq(10, 20))
    // the all-default Sub was skipped on the wire → defaults on read
    assert(rs(1).getStruct(1).getInt(0) === 0)
  }

  test("writeBytes/parseBytes dispatch through the format registry") {
    val schema = ChTypes.structure("k UInt32, s String")
    val base = df(schema, Row(1L, "a"), Row(2L, "b"))
    val proto =
      """syntax = "proto3";
        |message KV { uint32 k = 1; string s = 2; };""".stripMargin
    val s = OutputFormats.Settings(
      formatSchemaSource = proto, formatSchemaMessage = "KV")
    val bytes = OutputFormats.writeBytes(base, "Protobuf", s)
    val back = InputFormats.parseBytes(spark, bytes, "Protobuf",
      Some("k UInt32, s String"), s)
    assert(back.collect().toSeq.map(r => (r.getLong(0), r.getString(1))) ===
      Seq((1L, "a"), (2L, "b")))
    assert(OutputFormats.formats.exists(_._1 == "ProtobufList"))
  }
}
