package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro object-container format (reference
  * `src/Processors/Formats/Impl/Avro{RowInputFormat,RowOutputFormat}.cpp`,
  * goldens `0_stateless/01543_avro_deserialization_with_lc`,
  * `02252_jit_profile_events` family uses it for inserts): one container
  * file per payload, self-describing on read (schema travels in the
  * header). Spark's Avro CONNECTOR (spark-avro) is not on this
  * classpath — only the Avro Java library that Spark itself depends on —
  * so this codec drives that library directly, the same approach as
  * [[ArrowFormat]].
  *
  * Type mapping mirrors the reference's: ints by width (int/long),
  * Float32/64 → float/double, String → string, FixedString/binary →
  * bytes, Date → int+date, DateTime → long+timestamp-micros (tz-less →
  * local-timestamp-micros), Decimal → bytes+decimal, Array → array,
  * Nullable → union(null, T). Narrow ints carry a `graftType` prop so
  * the reader restores Byte/Short exactly.
  */
object AvroFormat {

  private def toAvroField(f: StructField, safeName: String): ASchema.Field = {
    def prim(dt: DataType): ASchema = dt match {
      case ByteType =>
        val s = ASchema.create(ASchema.Type.INT); s.addProp("graftType", "byte"); s
      case ShortType =>
        val s = ASchema.create(ASchema.Type.INT); s.addProp("graftType", "short"); s
      case IntegerType => ASchema.create(ASchema.Type.INT)
      case LongType => ASchema.create(ASchema.Type.LONG)
      case FloatType => ASchema.create(ASchema.Type.FLOAT)
      case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
      case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
      case StringType => ASchema.create(ASchema.Type.STRING)
      case BinaryType => ASchema.create(ASchema.Type.BYTES)
      case DateType =>
        LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
      case TimestampType =>
        LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
      case TimestampNTZType =>
        LogicalTypes.localTimestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
      case d: DecimalType =>
        LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(ASchema.create(ASchema.Type.BYTES))
      case ArrayType(et, containsNull) =>
        ASchema.createArray(
          if (containsNull) nullable(prim(et)) else prim(et))
      case other => throw new IllegalArgumentException(
        s"Avro: unsupported type $other")
    }
    def nullable(s: ASchema): ASchema =
      ASchema.createUnion(java.util.List.of(
        ASchema.create(ASchema.Type.NULL), s))
    val base = prim(f.dataType)
    val fld = new ASchema.Field(safeName,
      if (f.nullable) nullable(base) else base,
      null, if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null)
    if (safeName != f.name) fld.addProp("graftName", f.name)
    fld
  }

  /** Avro identifiers are ASCII `[A-Za-z_][A-Za-z0-9_]*` — a Spark
    * column like `sum(k)` must not make the writer throw (no other
    * codec in the registry rejects names). Sanitized names are
    * collision-deduped; the original rides the `graftName` field prop
    * and the reader restores it.
    */
  private def recordSchema(st: StructType): ASchema = {
    val taken = mutable.Set.empty[String]
    val fields = st.fields.map { f =>
      val base0 = f.name.map(c =>
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9') || c == '_') c else '_')
      val base =
        if (base0.isEmpty || !(base0.head.isLetter && base0.head < 128) &&
            base0.head != '_') "_" + base0
        else base0
      var safe = base
      var i = 1
      while (taken.contains(safe)) { safe = s"${base}_$i"; i += 1 }
      taken += safe
      toAvroField(f, safe)
    }
    ASchema.createRecord("graft_row", null, "graft", false,
      fields.toSeq.asJava)
  }

  private def nonNull(s: ASchema): ASchema =
    if (s.getType == ASchema.Type.UNION)
      s.getTypes.asScala.find(_.getType != ASchema.Type.NULL).get
    else s

  // ------------------------------------------------------------- writing

  private def toAvroValue(v: Any, s0: ASchema): Any = {
    if (v == null) return null
    val s = nonNull(s0)
    (s.getType, v) match {
      case (ASchema.Type.INT, d: java.sql.Date) => d.toLocalDate.toEpochDay.toInt
      case (ASchema.Type.INT, d: java.time.LocalDate) => d.toEpochDay.toInt
      case (ASchema.Type.INT, b: Byte) => b.toInt
      case (ASchema.Type.INT, sh: Short) => sh.toInt
      case (ASchema.Type.INT, i: Int) => i
      case (ASchema.Type.LONG, t: java.sql.Timestamp) =>
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      case (ASchema.Type.LONG, t: java.time.Instant) =>
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      case (ASchema.Type.LONG, t: java.time.LocalDateTime) =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
      case (ASchema.Type.LONG, l: Long) => l
      case (ASchema.Type.BYTES, d: java.math.BigDecimal) =>
        val scale = s.getLogicalType.asInstanceOf[LogicalTypes.Decimal].getScale
        ByteBuffer.wrap(d.setScale(scale).unscaledValue.toByteArray)
      case (ASchema.Type.BYTES, b: Array[Byte]) => ByteBuffer.wrap(b)
      case (ASchema.Type.STRING, x) => String.valueOf(x)
      case (ASchema.Type.ARRAY, xs: scala.collection.Seq[_]) =>
        xs.map(x => toAvroValue(x, s.getElementType)).asJava
      case (_, x) => x // float/double/boolean pass through
    }
  }

  def write(df: DataFrame): Array[Byte] = {
    val st = df.schema
    val schema = recordSchema(st)
    val out = new ByteArrayOutputStream()
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, out)
    val avroFields = schema.getFields.asScala.toArray // positional: order = st.fields
    // driver-bounded by contract: in-memory Array[Byte] FORMAT output;
    // the distributed path is save()/readLines over a file set
    try df.collect().foreach { r =>
      val rec = new GenericData.Record(schema)
      st.fields.indices.foreach { i =>
        rec.put(i,
          if (r.isNullAt(i)) null
          else toAvroValue(r.get(i), avroFields(i).schema()))
      }
      writer.append(rec)
    } finally writer.close()
    out.toByteArray
  }

  // ------------------------------------------------------------- reading

  private def toSparkType(s0: ASchema): (DataType, Boolean) = {
    val isNullable = s0.getType == ASchema.Type.UNION
    val s = nonNull(s0)
    val dt = (s.getType, Option(s.getLogicalType), Option(s.getProp("graftType"))) match {
      case (ASchema.Type.INT, Some(_: LogicalTypes.Date), _) => DateType
      case (ASchema.Type.INT, _, Some("byte")) => ByteType
      case (ASchema.Type.INT, _, Some("short")) => ShortType
      case (ASchema.Type.INT, _, _) => IntegerType
      case (ASchema.Type.LONG, Some(_: LogicalTypes.TimestampMicros), _) => TimestampType
      case (ASchema.Type.LONG, Some(_: LogicalTypes.LocalTimestampMicros), _) => TimestampNTZType
      case (ASchema.Type.LONG, _, _) => LongType
      case (ASchema.Type.FLOAT, _, _) => FloatType
      case (ASchema.Type.DOUBLE, _, _) => DoubleType
      case (ASchema.Type.BOOLEAN, _, _) => BooleanType
      case (ASchema.Type.STRING, _, _) => StringType
      case (ASchema.Type.BYTES, Some(d: LogicalTypes.Decimal), _) =>
        DecimalType(d.getPrecision, d.getScale)
      case (ASchema.Type.BYTES, _, _) => BinaryType
      case (ASchema.Type.ARRAY, _, _) =>
        val (et, en) = toSparkType(s.getElementType)
        ArrayType(et, en)
      case (t, _, _) => throw new IllegalArgumentException(
        s"Avro: unsupported avro type $t")
    }
    (dt, isNullable)
  }

  private def toSparkValue(v: Any, s0: ASchema): Any = {
    if (v == null) return null
    val s = nonNull(s0)
    (s.getType, Option(s.getLogicalType)) match {
      case (ASchema.Type.INT, Some(_: LogicalTypes.Date)) =>
        java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case (ASchema.Type.INT, _) => Option(s.getProp("graftType")) match {
        case Some("byte") => v.asInstanceOf[Int].toByte
        case Some("short") => v.asInstanceOf[Int].toShort
        case _ => v
      }
      case (ASchema.Type.LONG, Some(_: LogicalTypes.TimestampMicros)) =>
        val us = v.asInstanceOf[Long]
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case (ASchema.Type.LONG, Some(_: LogicalTypes.LocalTimestampMicros)) =>
        val us = v.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case (ASchema.Type.BYTES, Some(d: LogicalTypes.Decimal)) =>
        val bb = v.asInstanceOf[ByteBuffer]
        val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
        new java.math.BigDecimal(new java.math.BigInteger(bytes), d.getScale)
      case (ASchema.Type.BYTES, _) =>
        val bb = v.asInstanceOf[ByteBuffer]
        val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
        bytes
      case (ASchema.Type.STRING, _) => v.toString // Utf8 → String
      case (ASchema.Type.ARRAY, _) =>
        v.asInstanceOf[java.util.Collection[Any]].asScala.toSeq
          .map(toSparkValue(_, s.getElementType))
      case _ => v
    }
  }

  def read(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val reader = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    val rows = mutable.ArrayBuffer.empty[Row]
    var st: StructType = null
    try {
      val schema = reader.getSchema
      st = StructType(schema.getFields.asScala.toSeq.map { f =>
        val (dt, n) = toSparkType(f.schema())
        // restore the original Spark column name when it was sanitized
        StructField(Option(f.getProp("graftName")).getOrElse(f.name), dt, n)
      })
      val fields = schema.getFields.asScala.toSeq
      while (reader.hasNext) {
        val rec = reader.next()
        rows += Row.fromSeq(fields.zipWithIndex.map { case (f, i) =>
          toSparkValue(rec.get(i), f.schema())
        })
      }
    } finally reader.close()
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), st)
  }
}
