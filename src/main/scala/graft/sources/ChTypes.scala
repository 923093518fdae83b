package graft.sources

import org.apache.spark.sql.types._

/** ClickHouse-style type names for the format surface.
  *
  * The reference's formats print a declared type per column
  * (`WithNamesAndTypes` headers, JSON/XML `meta`, `fts_index()` schema —
  * ref `src/DataTypes/DataTypeFactory.cpp`). Spark's type lattice is
  * narrower (no unsigned ints, 38-digit decimal cap), so the mapping is:
  *
  *  - engine type -> display name uses the SIGNED default (Long ->
  *    "Int64"); a column that semantically carries a reference unsigned /
  *    exotic type declares it via the `ch_type` field-metadata key, which
  *    this mapper honors verbatim — the same convention the dictionary
  *    catalog uses for declared attribute types.
  *  - display name -> engine type (typed format headers, `structure`
  *    arguments) parses the full reference grammar: Nullable/
  *    LowCardinality wrappers, Array/Tuple/Map composites, Decimal
  *    aliases, Enum8/16 (collapse to String), FixedString, DateTime64.
  *    UInt64 lands on LongType (wrap-around beyond 2^63-1 is the engine's
  *    documented two's-complement view, same as the hash surface).
  */
object ChTypes {

  /** Field-metadata key carrying a declared reference type name. */
  val MetaKey = "ch_type"

  def chName(f: StructField): String =
    if (f.metadata.contains(MetaKey)) f.metadata.getString(MetaKey)
    else chName(f.dataType, f.nullable)

  /** Default display name; `nullable` wraps scalar types in Nullable(). */
  def chName(dt: DataType, nullable: Boolean = false): String = {
    val base = dt match {
      case ByteType => "Int8"
      case ShortType => "Int16"
      case IntegerType => "Int32"
      case LongType => "Int64"
      case FloatType => "Float32"
      case DoubleType => "Float64"
      case StringType => "String"
      case BinaryType => "String"
      case BooleanType => "Bool"
      case DateType => "Date"
      case _: TimestampType => "DateTime"
      case TimestampNTZType => "DateTime"
      case d: DecimalType => s"Decimal(${d.precision}, ${d.scale})"
      case a: ArrayType => s"Array(${chName(a.elementType, a.containsNull)})"
      case m: MapType =>
        s"Map(${chName(m.keyType)}, ${chName(m.valueType, m.valueContainsNull)})"
      case s: StructType =>
        s"Tuple(${s.fields.map(f => chName(f.dataType, f.nullable)).mkString(", ")})"
      case other => other.simpleString
    }
    // Composite types cannot be Nullable in the reference either.
    dt match {
      case _: ArrayType | _: MapType | _: StructType => base
      case _ if nullable => s"Nullable($base)"
      case _ => base
    }
  }

  /** Wire byte width of the wide integer types — the reference
    * serializes Int128/Int256 as 16/32 little-endian bytes; a wrong
    * width misreads every later column of a row/block. Shared by the
    * RowBinary and Native codecs so they cannot diverge.
    */
  def wideWidth(ch0: String): Option[Int] = stripComments(ch0) match {
    case "Int128" | "UInt128" => Some(16)
    case "Int256" | "UInt256" => Some(32)
    case _ => None
  }

  /** STRICT decode of a wide (Int128/UInt128/Int256/UInt256) wire value
    * onto the engine's Int64 carrier. `lo` is the low 8 LE bytes as a
    * Long; `hi` the remaining wire bytes (LE order). The LongType
    * carrier is lossless exactly when the high bytes are a sign
    * extension (signed kinds) / zero fill (unsigned kinds — which also
    * admits the documented UInt64-style two's-complement view of
    * [2^63, 2^64)) of the low 8. Anything else is a genuinely wide
    * value that a silent wrap would corrupt, so throw: reading wrong
    * data quietly is the one unacceptable outcome. (A BinaryType
    * carrier using the WideInt tagged encoding was considered and
    * rejected: it would leak the internal encoding into every text
    * format that shares the type mapping. Export such columns via
    * toString on the writer side to move them losslessly.)
    */
  def wideLongStrict(lo: Long, hi: Array[Byte], ch: String): Long = {
    val fill: Byte = if (ch.startsWith("Int") && lo < 0) -1 else 0
    var i = 0
    while (i < hi.length) {
      if (hi(i) != fill) throw new IllegalArgumentException(
        s"$ch value exceeds the engine's Int64 carrier (high wire bytes " +
          hi.map(b => f"$b%02x").mkString +
          s" are not a ${if (fill == -1) "sign" else "zero"} extension " +
          "of the low 8); re-export the column via toString to read it " +
          "losslessly instead of silently wrapping")
      i += 1
    }
    lo
  }

  /** Wire byte width of a Decimal column by its DECLARED type name
    * (≤9 → 4, ≤18 → 8, ≤38 → 16, ≤76 → 32). The declaration wins over
    * the Spark precision (which caps at 38) so Decimal(76, 2) /
    * Decimal256(2) frame as the 32 bytes the reference writes.
    */
  def decimalWireWidth(ch0: String, sparkPrecision: Int): Int = {
    val ch = stripComments(ch0)
    val p =
      if (ch.startsWith("Decimal32(")) 9
      else if (ch.startsWith("Decimal64(")) 18
      else if (ch.startsWith("Decimal128(")) 38
      else if (ch.startsWith("Decimal256(")) 76
      else if (ch.startsWith("Decimal(") && ch.endsWith(")"))
        ch.substring(8, ch.length - 1).split(',').head.trim.toInt
      else sparkPrecision
    if (p <= 9) 4 else if (p <= 18) 8 else if (p <= 38) 16 else 32
  }

  // The reference's parser allows slash-star comments inside a type
  // declaration (00477_parsing_data_types) but lexes them only OUTSIDE
  // string literals — a '/*' inside Enum8('a/*b' = 1) is data, not a
  // comment. Scans char-by-char: single-quoted segments (with
  // backslash escapes, the reference's literal syntax) pass through
  // verbatim; outside quotes a comment runs non-greedily to the first
  // '*/'. Shared by EVERY raw-type-string consumer here — toSpark and
  // the wire-width helpers must see the same declaration or a
  // commented Decimal would parse a schema yet misframe its bytes.
  private def stripComments(ch: String): String = {
    val out = new java.lang.StringBuilder(ch.length)
    var i = 0; var q = false
    while (i < ch.length) {
      val c = ch.charAt(i)
      if (q) {
        out.append(c)
        if (c == '\\' && i + 1 < ch.length) { out.append(ch.charAt(i + 1)); i += 1 }
        else if (c == '\'') q = false
        i += 1
      } else if (c == '\'') {
        q = true; out.append(c); i += 1
      } else if (c == '/' && i + 1 < ch.length && ch.charAt(i + 1) == '*') {
        val close = ch.indexOf("*/", i + 2)
        out.append(' ')
        i = if (close < 0) ch.length else close + 2
      } else {
        out.append(c); i += 1
      }
    }
    out.toString.trim
  }

  /** Parse a reference type name to (engine type, nullable). */
  def toSpark(ch: String): (DataType, Boolean) = {
    val s = stripComments(ch)
    def inner: String = {
      val i = s.indexOf('(')
      require(i >= 0 && s.endsWith(")"), s"malformed type: $s")
      s.substring(i + 1, s.length - 1)
    }
    // split top-level commas of e.g. "Tuple(UInt64, Date)"
    def splitArgs(args: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var depth = 0; var q = false; var start = 0
      var i = 0
      while (i < args.length) {
        args.charAt(i) match {
          case '\'' => q = !q
          case '(' if !q => depth += 1
          case ')' if !q => depth -= 1
          case ',' if !q && depth == 0 =>
            out += args.substring(start, i); start = i + 1
          case _ =>
        }
        i += 1
      }
      out += args.substring(start)
      out.result().map(_.trim).filter(_.nonEmpty)
    }

    if (s.startsWith("Nullable(")) {
      val (t, _) = toSpark(inner); (t, true)
    } else if (s.startsWith("LowCardinality(")) {
      toSpark(inner)
    } else if (s.startsWith("Array(")) {
      val (e, n) = toSpark(inner); (ArrayType(e, n), false)
    } else if (s.startsWith("Map(")) {
      val Seq(k, v) = splitArgs(inner).map(toSpark)
      (MapType(k._1, v._1, v._2), false)
    } else if (s.startsWith("Tuple(")) {
      val parts = splitArgs(inner).map(toSpark)
      val fields = parts.zipWithIndex.map { case ((t, n), i) =>
        StructField(s"_${i + 1}", t, n)
      }
      (StructType(fields.toArray), false)
    } else if (s.startsWith("Enum8(") || s.startsWith("Enum16(") ||
        s.startsWith("FixedString(")) {
      (StringType, false)
    } else if (s.startsWith("DateTime64")) {
      (TimestampType, false)
    } else if (s.startsWith("DateTime")) {
      (TimestampType, false)
    } else if (s.startsWith("Decimal32(")) {
      (DecimalType(9, inner.trim.toInt), false)
    } else if (s.startsWith("Decimal64(")) {
      (DecimalType(18, inner.trim.toInt), false)
    } else if (s.startsWith("Decimal128(")) {
      (DecimalType(38, inner.trim.toInt), false)
    } else if (s.startsWith("Decimal256(")) {
      // Spark value precision caps at 38; the declared name is kept in
      // the ch_type metadata so the binary codecs frame 32 bytes. A
      // scale past 38 cannot be VALUE-represented — clamping it would
      // silently misread every value by a power of ten, so reject.
      val sc = inner.trim.toInt
      require(sc <= 38,
        s"Decimal256($sc): scale > 38 exceeds the engine's DecimalType cap")
      (DecimalType(38, sc), false)
    } else if (s.startsWith("Decimal(")) {
      val Seq(p, sc) = splitArgs(inner)
      (DecimalType(math.min(p.toInt, 38), sc.toInt), false)
    } else s match {
      case "Int8" => (ByteType, false)
      case "Int16" => (ShortType, false)
      case "Int32" => (IntegerType, false)
      case "Int64" | "Int128" | "Int256" => (LongType, false)
      case "UInt8" => (ShortType, false)
      case "UInt16" => (IntegerType, false)
      case "UInt32" => (LongType, false)
      case "UInt64" | "UInt128" | "UInt256" => (LongType, false)
      case "Float32" => (FloatType, false)
      case "Float64" => (DoubleType, false)
      case "String" | "UUID" | "IPv4" | "IPv6" | "JSON" | "Object('json')" =>
        (StringType, false)
      case "Bool" | "Boolean" => (BooleanType, false)
      case "Date" | "Date32" => (DateType, false)
      case "Nothing" => (NullType, false)
      case other => throw new IllegalArgumentException(s"unsupported type: $other")
    }
  }

  /** Parse a reference `structure` string: `"n UInt64, d Date, s String"`. */
  def structure(ddl: String): StructType = {
    val out = Array.newBuilder[StructField]
    var depth = 0; var start = 0; var q = false
    val parts = Seq.newBuilder[String]
    var i = 0
    while (i < ddl.length) {
      ddl.charAt(i) match {
        case '\'' => q = !q
        case '(' if !q => depth += 1
        case ')' if !q => depth -= 1
        case ',' if !q && depth == 0 =>
          parts += ddl.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    parts += ddl.substring(start)
    parts.result().map(_.trim).filter(_.nonEmpty).foreach { col =>
      val (name, tpe) =
        if (col.startsWith("`")) {
          val close = col.indexOf('`', 1)
          require(close > 0, s"malformed structure column: '$col'")
          (col.substring(1, close), col.substring(close + 1).trim)
        } else {
          val sp = col.indexWhere(_.isWhitespace)
          require(sp > 0, s"malformed structure column: '$col'")
          (col.substring(0, sp), col.substring(sp + 1).trim)
        }
      val (dt, nullable) = toSpark(tpe)
      out += StructField(name, dt, nullable,
        new MetadataBuilder().putString(MetaKey, tpe).build())
    }
    StructType(out.result())
  }
}
