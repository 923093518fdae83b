package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Cap'n Proto row format (reference
  * `src/Processors/Formats/Impl/CapnProtoRowInputFormat.cpp` /
  * `CapnProtoRowOutputFormat.cpp`, type mapping `CapnProtoSchema.cpp`,
  * tests `0_stateless/02030_capnp_format.sh` + `00823_capnproto_input.sh`
  * + `02402_capnp_format_segments_overflow.sh`). The environment has no
  * `capnp` compiler, so — like [[ProtobufFormat]] — this is an in-tree
  * parser for the schema SUBSET the reference's tests exercise plus a
  * wire codec written against the published Cap'n Proto encoding spec
  * (capnproto.org/encoding.html):
  *
  *  - structs: data section (first-fit hole-packed slots, the published
  *    compiler layout algorithm) + pointer section; pointers are
  *    (signed-offset, dataWords, ptrWords) words;
  *  - lists: element-size-coded pointers (bit/byte/2B/4B/8B/pointer/
  *    composite); composite lists carry a tag word; Text is a NUL-
  *    terminated byte list, Data a plain byte list;
  *  - nullable: the reference maps `Nullable(T)` to the test schemas'
  *    `union { value @0 : T; null @1 : Void; }` shape — a 16-bit
  *    discriminant allocated like a data field when the union's second
  *    member appears;
  *  - framing: one message per row (stream segment table: LE32 count-1,
  *    LE32 sizes, pad to word), single segment on write; multi-segment
  *    + single-far pointers handled on read.
  *
  * Unions beyond the `{value, null}` nullable pattern do not overlap
  * members (the tests need none); a schema requiring member overlap
  * would lay out differently from the official compiler but the codec
  * stays self-consistent: the writer sets the discriminant to the one
  * active (non-null) member and writes only its slot, and the reader
  * emits only the tagged member — a write → read round trip preserves
  * every tag (CapnProtoFormatSpec "general union").
  */
object CapnProtoFormat {

  // ------------------------------------------------------------- schema AST

  sealed trait CT
  case object TVoid extends CT
  case object TBool extends CT
  /** bits ∈ {8,16,32,64} */
  case class TInt(bits: Int, signed: Boolean) extends CT
  case class TFloat(bits: Int) extends CT
  case object TText extends CT
  case object TData extends CT
  case class TList(elem: CT) extends CT
  case class TStruct(name: String) extends CT
  case class TEnum(name: String) extends CT

  case class CField(name: String, ordinal: Int, tpe: CT, inUnion: Boolean)
  case class CStructDef(fullName: String, fields: Seq[CField])
  case class CEnumDef(fullName: String, names: Vector[String])
  case class CSchema(structs: Map[String, CStructDef],
      enums: Map[String, CEnumDef]) {
    def structOf(name: String): CStructDef =
      structs.getOrElse(name,
        structs.collectFirst {
          case (k, v) if k == name || k.endsWith(s".$name") => v
        }.getOrElse(throw new IllegalArgumentException(
          s"CapnProto: no struct named '$name'")))
  }

  private def tokenize(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c == '#') { while (i < n && text.charAt(i) != '\n') i += 1 }
      else if (c.isWhitespace) i += 1
      else if (c.isLetterOrDigit || c == '_') {
        val start = i
        i += 1
        while (i < n && (text.charAt(i).isLetterOrDigit ||
            text.charAt(i) == '_' || text.charAt(i) == 'x')) i += 1
        out += text.substring(start, i)
      } else { out += c.toString; i += 1 }
    }
    out.result()
  }

  /** Parse the `.capnp` subset: file id, nested structs, enums, anonymous
    * unions, `name @N : Type;` fields, `List(T)`, the builtin scalar set.
    */
  def parseSchema(text: String): CSchema = {
    val toks = tokenize(text)
    var pos = 0
    def cur: String = if (pos < toks.length) toks(pos) else ""
    def eat(): String = { val t = cur; pos += 1; t }
    def expect(t: String): Unit = {
      val got = eat()
      require(got == t, s"CapnProto schema: expected '$t', got '$got'")
    }
    val structs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[CField]]
    val enums = mutable.LinkedHashMap.empty[String, CEnumDef]

    def parseType(scope: String): CT = {
      val t = eat()
      t match {
        case "Void" => TVoid
        case "Bool" => TBool
        case "Int8" => TInt(8, signed = true)
        case "Int16" => TInt(16, signed = true)
        case "Int32" => TInt(32, signed = true)
        case "Int64" => TInt(64, signed = true)
        case "UInt8" => TInt(8, signed = false)
        case "UInt16" => TInt(16, signed = false)
        case "UInt32" => TInt(32, signed = false)
        case "UInt64" => TInt(64, signed = false)
        case "Float32" => TFloat(32)
        case "Float64" => TFloat(64)
        case "Text" => TText
        case "Data" => TData
        case "List" =>
          expect("(")
          val e = parseType(scope)
          expect(")")
          TList(e)
        case name =>
          // resolve innermost-out against already-declared types; forward
          // references resolve lazily at layout time via structOf
          resolve(scope, name)
      }
    }

    def resolve(scope: String, name: String): CT = {
      var s = scope
      while (true) {
        val cand = if (s.isEmpty) name else s"$s.$name"
        if (enums.contains(cand)) return TEnum(cand)
        if (structs.contains(cand)) return TStruct(cand)
        if (s.isEmpty) return TStruct(name) // forward reference
        s = s.split('.').dropRight(1).mkString(".")
      }
      TStruct(name)
    }

    def parseEnum(scope: String): Unit = {
      val name = eat()
      val full = if (scope.isEmpty) name else s"$scope.$name"
      expect("{")
      val names = mutable.ArrayBuffer.empty[(Int, String)]
      while (cur != "}") {
        val vn = eat()
        expect("@")
        val ord = eat().toInt
        expect(";")
        names += ((ord, vn))
      }
      expect("}")
      enums(full) = CEnumDef(full, names.sortBy(_._1).map(_._2).toVector)
    }

    def parseField(scope: String, name: String, inUnion: Boolean): Unit = {
      expect("@")
      val ord = eat().toInt
      expect(":")
      val tpe = parseType(scope)
      expect(";")
      structs(scope) += CField(name, ord, tpe, inUnion)
    }

    def parseStructBody(scope: String): Unit = {
      expect("{")
      while (cur != "}") {
        cur match {
          case "struct" => eat(); parseStruct(scope)
          case "enum" => eat(); parseEnum(scope)
          case "union" =>
            eat(); expect("{")
            while (cur != "}") {
              val n = eat()
              parseField(scope, n, inUnion = true)
            }
            expect("}")
          case _ =>
            val n = eat()
            parseField(scope, n, inUnion = false)
        }
      }
      expect("}")
    }

    def parseStruct(scope: String): Unit = {
      val name = eat()
      val full = if (scope.isEmpty) name else s"$scope.$name"
      structs(full) = mutable.ArrayBuffer.empty[CField]
      parseStructBody(full)
    }

    while (pos < toks.length) {
      cur match {
        case "@" => // file id: @0x...;
          eat(); eat(); if (cur == ";") eat()
        case "struct" => eat(); parseStruct("")
        case "enum" => eat(); parseEnum("")
        case _ => eat() // unknown top-level token — skip
      }
    }
    // Second pass: re-resolve type names now every declaration is known —
    // the test schemas declare enums AFTER the fields that use them
    // (02030_capnp_enum), which the first pass typed as forward TStructs.
    def resolveFinal(scope: String, n: String): CT = {
      var s = scope
      while (true) {
        val cand = if (s.isEmpty) n else s"$s.$n"
        if (enums.contains(cand)) return TEnum(cand)
        if (structs.contains(cand)) return TStruct(cand)
        if (s.isEmpty) return TStruct(n)
        s = s.split('.').dropRight(1).mkString(".")
      }
      TStruct(n)
    }
    def fix(scope: String, t: CT): CT = t match {
      case TStruct(n) => resolveFinal(scope, n)
      case TEnum(n) => resolveFinal(scope, n)
      case TList(e) => TList(fix(scope, e))
      case other => other
    }
    CSchema(
      structs.map { case (k, v) =>
        k -> CStructDef(k,
          v.sortBy(_.ordinal).map(f => f.copy(tpe = fix(k, f.tpe))).toSeq)
      }.toMap,
      enums.toMap)
  }

  // ---------------------------------------------------------------- layout

  /** `offset` units: 2^lgSize bits for data slots; pointer index for
    * pointer slots (lgSize = -1).
    */
  case class Slot(isPointer: Boolean, offset: Int, lgSize: Int)
  case class CLayout(dataWords: Int, ptrWords: Int,
      slots: Map[String, Slot], discOffset: Int, tags: Map[String, Int])

  private def isPointerType(t: CT): Boolean = t match {
    case TText | TData | _: TList | _: TStruct => true
    case _ => false
  }

  private def lgSizeOf(t: CT): Int = t match {
    case TBool => 0
    case TInt(8, _) => 3
    case TInt(16, _) => 4
    case TInt(32, _) => 5
    case TInt(64, _) => 6
    case TFloat(32) => 5
    case TFloat(64) => 6
    case TEnum(_) => 4
    case other => throw new IllegalArgumentException(s"no data size for $other")
  }

  // keyed by the schema VALUE (CSchema is a case class — structural
  // equality): identical schema texts share entries, distinct schemas
  // can never collide (an identity-hash key could, silently corrupting
  // slot offsets, and would also grow per parse call)
  private val layouts = TrieMap.empty[(CSchema, String), CLayout]

  /** First-fit hole-packed data-section layout — the published compiler
    * algorithm: one tracked hole per power-of-two size below a word;
    * a field takes the smallest adequate hole (splitting the remainder
    * into one hole per smaller size) or opens a new word. The union
    * discriminant allocates like a UInt16 when the union's second
    * member is declared.
    */
  def layoutOf(sc: CSchema, name: String): CLayout =
    layouts.getOrElseUpdate((sc, name), {
      val d = sc.structOf(name)
      var dataWords = 0
      var ptrWords = 0
      val holes = Array.fill(6)(-1) // lgSize 0..5 -> offset in units of 2^lg
      def allocData(lg: Int): Int = {
        if (lg == 6) { val w = dataWords; dataWords += 1; return w }
        var l = lg
        while (l < 6 && holes(l) < 0) l += 1
        if (l < 6) {
          val off = holes(l); holes(l) = -1
          var s = lg
          while (s < l) { holes(s) = (off << (l - s)) + 1; s += 1 }
          off << (l - lg)
        } else {
          val w = dataWords; dataWords += 1
          var s = lg
          while (s < 6) { holes(s) = (w << (6 - s)) + 1; s += 1 }
          w << (6 - lg)
        }
      }
      val slots = Map.newBuilder[String, Slot]
      val tags = Map.newBuilder[String, Int]
      var disc = -1
      var tagCount = 0
      d.fields.foreach { f =>
        if (f.inUnion) {
          tags += f.name -> tagCount
          tagCount += 1
          if (tagCount == 2 && disc < 0) disc = allocData(4)
        }
        f.tpe match {
          case TVoid => ()
          case t if isPointerType(t) =>
            slots += f.name -> Slot(isPointer = true, ptrWords, -1)
            ptrWords += 1
          case t =>
            val lg = lgSizeOf(t)
            slots += f.name -> Slot(isPointer = false, allocData(lg), lg)
        }
      }
      CLayout(dataWords, ptrWords, slots.result(), disc, tags.result())
    })

  /** The `{ union { value; null : Void } }` nullable shape the reference
    * maps `Nullable(T)` onto (CapnProtoSchema.cpp).
    */
  private def nullableShape(sc: CSchema, name: String): Option[CField] = {
    val d = sc.structOf(name)
    val u = d.fields.filter(_.inUnion)
    if (u.length == 2 && u.exists(f => f.tpe == TVoid && f.name == "null"))
      u.find(f => f.tpe != TVoid)
    else None
  }

  // ---------------------------------------------------------------- writer

  private final class Seg {
    val words = mutable.ArrayBuffer.empty[Long]
    def alloc(n: Int): Int = { val at = words.length
      var i = 0; while (i < n) { words += 0L; i += 1 }; at }
    def orBits(bitOff: Long, width: Int, v: Long): Unit = {
      val w = (bitOff / 64).toInt
      val sh = (bitOff % 64).toInt
      val mask = if (width == 64) -1L else (1L << width) - 1
      words(w) = words(w) | ((v & mask) << sh)
      if (sh + width > 64) // straddles — cannot happen for power-of-two slots
        throw new IllegalStateException("capnp: straddled slot")
    }
  }

  private def asLongV(v: Any): Long = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case b: Boolean => if (b) 1L else 0L
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.sql.Timestamp => t.toInstant.getEpochSecond
    case t: java.time.Instant => t.getEpochSecond
    case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
    case d: java.math.BigDecimal => d.unscaledValue.longValue
    case d: BigDecimal => d.underlying.unscaledValue.longValue
    case s: String => s.trim.toLong
    case other => throw new IllegalArgumentException(s"CapnProto: not an integer: $other")
  }

  private def asDoubleV(v: Any): Double = v match {
    case f: Float => f.toDouble
    case d: Double => d
    case other => asLongV(other).toDouble
  }

  private def stringOf(v: Any): String = v match {
    case s: String => s
    case b: Array[Byte] => new String(b, "UTF-8")
    case other => String.valueOf(other)
  }

  private def enumOrdinal(e: CEnumDef, v: Any): Int = v match {
    case s: String =>
      val i = e.names.indexWhere(_ == s)
      if (i >= 0) i
      else {
        val ci = e.names.indexWhere(_.equalsIgnoreCase(s))
        if (ci >= 0) ci
        else throw new IllegalArgumentException(
          s"CapnProto: enum ${e.fullName} has no value '$s'")
      }
    case other => asLongV(other).toInt
  }

  /** DateTime64(p) carries the scaled integer (reference serializer). */
  private def dt64Value(v: Any, ch: String): Long = {
    val p = "DateTime64\\((\\d+)".r.findFirstMatchIn(ch)
      .map(_.group(1).toInt).getOrElse(3)
    val micros = v match {
      case t: java.sql.Timestamp =>
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      case t: java.time.Instant =>
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      case other => asLongV(other) * 1000000L
    }
    if (p <= 6) micros / math.pow(10, 6 - p).toLong
    else micros * math.pow(10, p - 6).toLong
  }

  private def scalarBits(sc: CSchema, t: CT, v: Any, ch: String): Long = t match {
    case TBool => if (v.asInstanceOf[Boolean]) 1L else 0L
    case TInt(_, _) if ch.startsWith("DateTime64") => dt64Value(v, ch)
    case TInt(_, _) => asLongV(v)
    case TFloat(32) =>
      java.lang.Float.floatToIntBits(asDoubleV(v).toFloat).toLong & 0xffffffffL
    case TFloat(64) => java.lang.Double.doubleToLongBits(asDoubleV(v))
    case TEnum(en) => enumOrdinal(sc.enums(en), v).toLong
    case other => throw new IllegalArgumentException(s"not a scalar: $other")
  }

  /** Serialize `v` behind the (already-allocated) pointer word at
    * `ptrPos`; content appends to the segment end.
    */
  private def writePtr(sc: CSchema, seg: Seg, ptrPos: Int, t: CT, v: Any,
      ch: String): Unit = {
    // a null STRUCT value must still serialize when the struct is the
    // nullable {value,null} shape — the null TAG is data, a zero pointer
    // would read back as the value member's default instead of NULL.
    // Any OTHER null stays a zero pointer (reads back as defaults) —
    // recursing into a default struct would never terminate on a
    // self-referential schema.
    val nullableStruct = t match {
      case TStruct(n) => nullableShape(sc, n).isDefined
      case _ => false
    }
    if (v == null && !nullableStruct) return // null pointer = default
    t match {
      case TText =>
        val b = stringOf(v).getBytes("UTF-8")
        writeByteList(seg, ptrPos, b, nulTerminated = true)
      case TData =>
        val b = v match {
          case ab: Array[Byte] => ab
          case other => stringOf(other).getBytes("UTF-8")
        }
        writeByteList(seg, ptrPos, b, nulTerminated = false)
      case TList(elem) => writeList(sc, seg, ptrPos, elem, seqOf(v), ch)
      case TStruct(n) => writeStruct(sc, seg, ptrPos, n, v, ch)
      case other => throw new IllegalArgumentException(s"not a pointer type: $other")
    }
  }

  private def seqOf(v: Any): Seq[Any] = v match {
    // collection.Seq, not default immutable.Seq — Spark rows carry
    // mutable.ArraySeq for array columns
    case s: scala.collection.Seq[_] => s.toSeq
    case a: Array[_] => a.toSeq
    case other => Seq(other)
  }

  private def listPtr(seg: Seg, ptrPos: Int, contentAt: Int, elemCode: Int,
      count: Int): Unit = {
    val off = contentAt - (ptrPos + 1)
    seg.words(ptrPos) = 1L | ((off.toLong & 0x3fffffffL) << 2) |
      (elemCode.toLong << 32) | ((count.toLong & 0x1fffffffL) << 35)
  }

  private def writeByteList(seg: Seg, ptrPos: Int, b: Array[Byte],
      nulTerminated: Boolean): Unit = {
    val n = b.length + (if (nulTerminated) 1 else 0)
    val wordsN = (n + 7) / 8
    val at = seg.alloc(wordsN)
    var i = 0
    while (i < b.length) {
      seg.orBits(at.toLong * 64 + i * 8, 8, b(i) & 0xffL); i += 1
    }
    listPtr(seg, ptrPos, at, 2, n)
  }

  private def elemCodeOf(elem: CT): Int = elem match {
    case TVoid => 0
    case TBool => 1
    case TInt(8, _) => 2
    case TInt(16, _) | TEnum(_) => 3
    case TInt(32, _) | TFloat(32) => 4
    case TInt(64, _) | TFloat(64) => 5
    case TText | TData | TList(_) => 6
    case TStruct(_) => 7
    case other => throw new IllegalArgumentException(
      s"CapnProto: bad list element type $other")
  }

  private def writeList(sc: CSchema, seg: Seg, ptrPos: Int, elem: CT,
      xs: Seq[Any], ch: String): Unit = {
    val elemCh = if (ch.startsWith("Array(") && ch.endsWith(")"))
      ch.substring(6, ch.length - 1).trim else ""
    elemCodeOf(elem) match {
      case 0 => listPtr(seg, ptrPos, seg.words.length, 0, xs.length)
      case 1 =>
        val at = seg.alloc((xs.length + 63) / 64)
        xs.zipWithIndex.foreach { case (x, i) =>
          if (x.asInstanceOf[Boolean]) seg.orBits(at.toLong * 64 + i, 1, 1L)
        }
        listPtr(seg, ptrPos, at, 1, xs.length)
      case code @ (2 | 3 | 4 | 5) =>
        val bits = 8 << (code - 2)
        val perWord = 64 / bits
        val at = seg.alloc((xs.length + perWord - 1) / perWord)
        xs.zipWithIndex.foreach { case (x, i) =>
          seg.orBits(at.toLong * 64 + i.toLong * bits, bits,
            scalarBits(sc, elem, x, elemCh))
        }
        listPtr(seg, ptrPos, at, code, xs.length)
      case 6 =>
        val at = seg.alloc(xs.length)
        listPtr(seg, ptrPos, at, 6, xs.length)
        xs.zipWithIndex.foreach { case (x, i) =>
          writePtr(sc, seg, at + i, elem, x, elemCh)
        }
      case 7 =>
        val sn = elem.asInstanceOf[TStruct].name
        val lay = layoutOf(sc, sn)
        val per = math.max(1, lay.dataWords + lay.ptrWords)
        val at = seg.alloc(1 + xs.length * per)
        // tag word: struct pointer whose offset field = element count
        seg.words(at) = ((xs.length.toLong & 0x3fffffffL) << 2) |
          ((lay.dataWords.toLong & 0xffffL) << 32) |
          ((lay.ptrWords.toLong & 0xffffL) << 48)
        listPtr(seg, ptrPos, at, 7, xs.length * per)
        xs.zipWithIndex.foreach { case (x, i) =>
          fillStruct(sc, seg, at + 1 + i * per, sn, x, elemCh)
        }
    }
  }

  /** Look up a member of a Spark Row / value by struct field name; an
    * UNNAMED CH Tuple (Spark names `_1`, `_2`, …) falls back to position
    * — the reference maps unnamed tuple elements positionally.
    */
  private def memberOf(v: Any, st: Option[StructType], name: String,
      idx: Int): (Any, String) = v match {
    case r: Row =>
      val schema = st.orElse(Option(r.schema))
      schema match {
        case Some(s) =>
          val i = s.fields.indexWhere(_.name.equalsIgnoreCase(name))
          if (i >= 0) (r.get(i), ChTypes.chName(s.fields(i)))
          else if (idx < s.fields.length && s.fields(idx).name == s"_${idx + 1}")
            (r.get(idx), ChTypes.chName(s.fields(idx)))
          else (null, "")
        case None =>
          if (idx < r.length) (r.get(idx), "") else (null, "")
      }
    case m: scala.collection.Map[_, _] =>
      m.asInstanceOf[scala.collection.Map[String, Any]]
        .find(_._1.equalsIgnoreCase(name)).map(kv => (kv._2, ""))
        .getOrElse((null, ""))
    case other => (other, "") // single-value struct (Nullable wrapper)
  }

  /** Fill an already-allocated struct body at `dataAt`. `v` is a Spark
    * Row (fields matched by name) or, for the nullable wrapper shape, the
    * bare value / null.
    */
  private def fillStruct(sc: CSchema, seg: Seg, dataAt: Int, name: String,
      v: Any, ch: String): Unit = {
    val d = sc.structOf(name)
    val lay = layoutOf(sc, name)
    val ptrBase = dataAt + lay.dataWords
    nullableShape(sc, name) match {
      case Some(valueField) =>
        // Nullable(T): discriminant picks value/null; bare value in, no Row
        val nullTag = lay.tags("null")
        val valueTag = lay.tags(valueField.name)
        val innerCh =
          if (ch.startsWith("Nullable(") && ch.endsWith(")"))
            ch.substring(9, ch.length - 1) else ch
        if (v == null) {
          if (lay.discOffset >= 0)
            seg.orBits(dataAt.toLong * 64 + lay.discOffset.toLong * 16, 16,
              nullTag.toLong)
        } else {
          if (lay.discOffset >= 0)
            seg.orBits(dataAt.toLong * 64 + lay.discOffset.toLong * 16, 16,
              valueTag.toLong)
          lay.slots.get(valueField.name).foreach { slot =>
            if (slot.isPointer)
              writePtr(sc, seg, ptrBase + slot.offset, valueField.tpe, v, innerCh)
            else
              seg.orBits(dataAt.toLong * 64 + slot.offset.toLong * (1L << slot.lgSize),
                1 << slot.lgSize, scalarBits(sc, valueField.tpe, v, innerCh))
          }
        }
      case None =>
        // a bare (non-Row) column value can only map to the {value,null}
        // 2-member union — the reference rejects "fake nullable" targets
        // (3-member unions, plain value/null fields) with
        // CAPN_PROTO_BAD_CAST (02030_capnp_fake_nullable)
        v match {
          case null | _: Row | _: scala.collection.Map[_, _] => ()
          case other => throw new IllegalArgumentException(
            s"CapnProto: cannot write a bare ${other.getClass.getSimpleName} " +
              s"into struct '$name' — Nullable maps only to the 2-member " +
              "{value,null} union (ref 02030 fake_nullable, CAPN_PROTO_BAD_CAST)")
        }
        val st = v match { case r: Row => Option(r.schema); case _ => None }
        // general (non-nullable-shape) union: exactly ONE member is
        // active. More than one non-null member is ambiguous — the
        // reference rejects it (02030_capnp_unnamed_union,
        // CAPN_PROTO_BAD_CAST); all-null = the tag-0 member at its
        // default. Write only the active member and set its
        // discriminant: the read side emits only the tagged member, so
        // writing every slot with a zero discriminant would silently
        // drop tag>=1 members on a write→read round trip.
        val activeUnion: Option[CField] = {
          val nonNull = d.fields.zipWithIndex.filter { case (f, i) =>
            f.inUnion && memberOf(v, st, f.name, i)._1 != null
          }.map(_._1)
          if (nonNull.length > 1) throw new IllegalArgumentException(
            s"CapnProto: ${nonNull.map(_.name).mkString(", ")} are all " +
              s"non-null but are members of one union in '$name' — a union " +
              "holds exactly one active member (ref 02030 unnamed_union, " +
              "CAPN_PROTO_BAD_CAST)")
          nonNull.lastOption
            .orElse(d.fields.find(_.inUnion))
        }
        activeUnion.foreach { f =>
          if (lay.discOffset >= 0)
            seg.orBits(dataAt.toLong * 64 + lay.discOffset.toLong * 16, 16,
              lay.tags(f.name).toLong)
        }
        d.fields.zipWithIndex.foreach { case (f, i) =>
          val (mv, mch) = memberOf(v, st, f.name, i)
          f.tpe match {
            case _ if f.inUnion && !activeUnion.contains(f) => ()
            case TVoid => ()
            case t =>
              val slot = lay.slots(f.name)
              if (mv == null && !slot.isPointer) ()
              else if (slot.isPointer)
                writePtr(sc, seg, ptrBase + slot.offset, t, mv, mch)
              else
                seg.orBits(dataAt.toLong * 64 + slot.offset.toLong * (1L << slot.lgSize),
                  1 << slot.lgSize, scalarBits(sc, t, mv, mch))
          }
        }
    }
  }

  private def writeStruct(sc: CSchema, seg: Seg, ptrPos: Int, name: String,
      v: Any, ch: String): Unit = {
    val lay = layoutOf(sc, name)
    val at = seg.alloc(lay.dataWords + lay.ptrWords)
    val off = at - (ptrPos + 1)
    seg.words(ptrPos) = ((off.toLong & 0x3fffffffL) << 2) |
      ((lay.dataWords.toLong & 0xffffL) << 32) |
      ((lay.ptrWords.toLong & 0xffffL) << 48)
    fillStruct(sc, seg, at, name, v, ch)
  }

  /** One message per row: stream segment table + single segment whose
    * word 0 is the root struct pointer.
    */
  def write(df: DataFrame, schemaText: String, messageName: String): Array[Byte] = {
    val sc = parseSchema(schemaText)
    val root = sc.structOf(messageName).fullName
    val out = new java.io.ByteArrayOutputStream()
    // driver-bounded by contract: in-memory Array[Byte] FORMAT output;
    // the distributed path is save()/readLines over a file set
    df.collect().foreach { row =>
      val seg = new Seg
      seg.alloc(1)
      writeStruct(sc, seg, 0, root, row, "")
      val bb = ByteBuffer.allocate(8 + seg.words.length * 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0) // segment count - 1
      bb.putInt(seg.words.length)
      seg.words.foreach(bb.putLong)
      out.write(bb.array())
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------- reader

  private final class Msg(val segs: Array[Array[Long]])
  private case class Loc(seg: Int, word: Int)

  private def readMessages(bytes: Array[Byte]): Seq[Msg] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val msgs = Seq.newBuilder[Msg]
    while (bb.remaining() >= 8) {
      val segCount = bb.getInt + 1
      require(segCount >= 1 && segCount <= 512,
        s"CapnProto: implausible segment count $segCount")
      val sizes = Array.fill(segCount)(bb.getInt)
      if (segCount % 2 == 0) bb.getInt // pad to word
      val total = sizes.map(_.toLong).sum
      require(total * 8 <= bb.remaining(),
        s"CapnProto: segment table overflows input " +
          s"(${total * 8} bytes declared, ${bb.remaining()} available)")
      val segs = sizes.map { n =>
        val a = new Array[Long](n)
        var i = 0; while (i < n) { a(i) = bb.getLong; i += 1 }
        a
      }
      msgs += new Msg(segs)
    }
    msgs.result()
  }

  /** Resolve a pointer word (following one far-pointer hop) to
    * (pointerWord, contentLocation-of-target).
    */
  private def resolvePtr(m: Msg, loc: Loc): (Long, Loc) = {
    val w = m.segs(loc.seg)(loc.word)
    if (w == 0L) return (0L, loc)
    (w & 3) match {
      case 2 => // far pointer: single-word landing pad
        require((w & 4) == 0, "CapnProto: double-far pointers unsupported")
        val seg = (w >>> 32).toInt
        val off = ((w >>> 3) & 0x1fffffffL).toInt
        resolvePtr(m, Loc(seg, off))
      case _ => (w, loc)
    }
  }

  private def structLoc(w: Long, at: Loc): (Loc, Int, Int) = {
    val off = (w << 32 >> 34).toInt // signed 30-bit
    val dw = ((w >>> 32) & 0xffffL).toInt
    val pw = ((w >>> 48) & 0xffffL).toInt
    (Loc(at.seg, at.word + 1 + off), dw, pw)
  }

  private def bitsAt(m: Msg, base: Loc, bitOff: Long, width: Int,
      limitWords: Int): Long = {
    val w = (bitOff / 64).toInt
    if (w >= limitWords) return 0L // beyond the encoded data section = default
    val sh = (bitOff % 64).toInt
    val v = m.segs(base.seg)(base.word + w) >>> sh
    if (width == 64) v else v & ((1L << width) - 1)
  }

  private def decodeScalar(sc: CSchema, t: CT, bits: Long): Any = t match {
    case TBool => bits != 0L
    case TInt(8, true) => bits.toByte
    case TInt(16, true) => bits.toShort
    case TInt(32, true) => bits.toInt
    case TInt(64, _) => bits
    case TInt(8, false) => bits & 0xffL
    case TInt(16, false) => bits & 0xffffL
    case TInt(32, false) => bits & 0xffffffffL
    case TFloat(32) => java.lang.Float.intBitsToFloat(bits.toInt)
    case TFloat(64) => java.lang.Double.longBitsToDouble(bits)
    case TEnum(en) =>
      val e = sc.enums(en)
      val i = (bits & 0xffffL).toInt
      if (i < e.names.length) e.names(i) else i.toString
    case other => throw new IllegalArgumentException(s"not a scalar: $other")
  }

  private def readBytesList(m: Msg, contentAt: Loc, count: Int): Array[Byte] = {
    val out = new Array[Byte](count)
    var i = 0
    while (i < count) {
      out(i) = ((m.segs(contentAt.seg)(contentAt.word + i / 8) >>> ((i % 8) * 8)) & 0xff).toByte
      i += 1
    }
    out
  }

  private def readPtrValue(sc: CSchema, m: Msg, loc: Loc, t: CT): Any = {
    val (w, at) = resolvePtr(m, loc)
    t match {
      case TText =>
        if (w == 0L) ""
        else {
          val count = ((w >>> 35) & 0x1fffffffL).toInt
          val content = Loc(at.seg, at.word + 1 + (w << 32 >> 34).toInt)
          new String(readBytesList(m, content, math.max(0, count - 1)), "UTF-8")
        }
      case TData =>
        if (w == 0L) Array.empty[Byte]
        else {
          val count = ((w >>> 35) & 0x1fffffffL).toInt
          val content = Loc(at.seg, at.word + 1 + (w << 32 >> 34).toInt)
          readBytesList(m, content, count)
        }
      case TList(elem) =>
        if (w == 0L) Seq.empty[Any]
        else {
          val code = ((w >>> 32) & 7L).toInt
          val countField = ((w >>> 35) & 0x1fffffffL).toInt
          val content = Loc(at.seg, at.word + 1 + (w << 32 >> 34).toInt)
          code match {
            case 0 => Seq.fill(countField)(null)
            case 1 =>
              (0 until countField).map(i =>
                ((m.segs(content.seg)(content.word + i / 64) >>> (i % 64)) & 1L) != 0L)
            case c @ (2 | 3 | 4 | 5) =>
              val bits = 8 << (c - 2)
              val perWord = 64 / bits
              (0 until countField).map { i =>
                val word = m.segs(content.seg)(content.word + i / perWord)
                val sh = (i % perWord) * bits
                val raw = if (bits == 64) word
                  else (word >>> sh) & ((1L << bits) - 1)
                decodeScalar(sc, elem, raw)
              }
            case 6 =>
              (0 until countField).map(i =>
                readPtrValue(sc, m, Loc(content.seg, content.word + i), elem))
            case 7 =>
              val tag = m.segs(content.seg)(content.word)
              val n = ((tag >>> 2) & 0x3fffffffL).toInt
              val dw = ((tag >>> 32) & 0xffffL).toInt
              val pw = ((tag >>> 48) & 0xffffL).toInt
              val per = dw + pw
              val sn = elem match {
                case TStruct(s) => s
                case other => throw new IllegalArgumentException(
                  s"composite list of non-struct $other")
              }
              (0 until n).map(i => readStructValue(sc, m,
                Loc(content.seg, content.word + 1 + i * per), dw, pw, sn))
          }
        }
      case TStruct(sn) =>
        if (w == 0L) readStructValue(sc, m, at, 0, 0, sn) // all defaults
        else {
          val (dloc, dw, pw) = structLoc(w, at)
          readStructValue(sc, m, dloc, dw, pw, sn)
        }
      case other => throw new IllegalArgumentException(s"not a pointer type: $other")
    }
  }

  /** Decode a struct into either the bare nullable value (for the
    * `{value,null}` union shape) or a LinkedHashMap field-name → value.
    */
  private def readStructValue(sc: CSchema, m: Msg, dataLoc: Loc, dw: Int,
      pw: Int, name: String): Any = {
    val d = sc.structOf(name)
    val lay = layoutOf(sc, name)
    val ptrLoc = Loc(dataLoc.seg, dataLoc.word + dw)
    def slotValue(f: CField): Any = f.tpe match {
      case TVoid => null
      case t if isPointerType(t) =>
        val slot = lay.slots(f.name)
        if (slot.offset >= pw) defaultFor(t) // beyond encoded ptr section
        else readPtrValue(sc, m, Loc(ptrLoc.seg, ptrLoc.word + slot.offset), t)
      case t =>
        val slot = lay.slots(f.name)
        decodeScalar(sc, t,
          bitsAt(m, dataLoc, slot.offset.toLong * (1L << slot.lgSize),
            1 << slot.lgSize, dw))
    }
    nullableShape(sc, name) match {
      case Some(valueField) =>
        val disc =
          if (lay.discOffset < 0) 0L
          else bitsAt(m, dataLoc, lay.discOffset.toLong * 16, 16, dw)
        if (disc.toInt == lay.tags("null")) null else slotValue(valueField)
      case None =>
        val out = mutable.LinkedHashMap.empty[String, Any]
        val disc =
          if (lay.discOffset < 0) -1L
          else bitsAt(m, dataLoc, lay.discOffset.toLong * 16, 16, dw)
        d.fields.foreach { f =>
          if (!f.inUnion || lay.tags(f.name).toLong == disc)
            out(f.name) = slotValue(f)
        }
        out
    }
  }

  private def defaultFor(t: CT): Any = t match {
    case TText => ""
    case TData => Array.empty[Byte]
    case TList(_) => Seq.empty[Any]
    case TBool => false
    case TInt(_, _) | TEnum(_) => 0L
    case TFloat(_) => 0.0
    case _ => null
  }

  // ------------------------------------------------ Spark row materialization

  private def coerce(v: Any, dt: DataType, ch: String): Any = {
    if (v == null) return null
    (dt, v) match {
      case (st: StructType, mm: mutable.LinkedHashMap[String @unchecked, Any @unchecked]) =>
        val entries = mm.toSeq
        Row.fromSeq(st.fields.toSeq.zipWithIndex.map { case (c, i) =>
          mm.collectFirst { case (k, x) if k.equalsIgnoreCase(c.name) => x }
            .orElse( // unnamed CH Tuple (_1, _2, …): positional
              if (c.name == s"_${i + 1}" && i < entries.length)
                Some(entries(i)._2) else None) match {
            case Some(x) => coerce(x, c.dataType, ChTypes.chName(c))
            case None => if (c.nullable) null else FormatCodec.defaultValue(c.dataType)
          }
        })
      case (a: ArrayType, xs: Seq[Any @unchecked]) =>
        val ech = if (ch.startsWith("Array(") && ch.endsWith(")"))
          ch.substring(6, ch.length - 1).trim else ""
        xs.map(coerce(_, a.elementType, ech))
      case _ =>
        dt match {
          case StringType => stringOf(v)
          case BinaryType => v match {
            case b: Array[Byte] => b
            case other => stringOf(other).getBytes("UTF-8")
          }
          case ByteType => asLongV(v).toByte
          case ShortType => asLongV(v).toShort
          case IntegerType => asLongV(v).toInt
          case LongType => asLongV(v)
          case BooleanType => v match {
            case b: Boolean => b
            case other => asLongV(other) != 0L
          }
          case FloatType => asDoubleV(v).toFloat
          case DoubleType => asDoubleV(v)
          case DateType =>
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(asLongV(v)))
          case TimestampType if ch.startsWith("DateTime64") =>
            val p = "DateTime64\\((\\d+)".r.findFirstMatchIn(ch)
              .map(_.group(1).toInt).getOrElse(3)
            val scaled = asLongV(v)
            val micros = if (p <= 6) scaled * math.pow(10, 6 - p).toLong
              else scaled / math.pow(10, p - 6).toLong
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
              Math.floorDiv(micros, 1000000L),
              Math.floorMod(micros, 1000000L) * 1000L))
          case TimestampType =>
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(asLongV(v)))
          case d: DecimalType =>
            new java.math.BigDecimal(
              java.math.BigInteger.valueOf(asLongV(v)), d.scale)
          case _ => v
        }
    }
  }

  /** Column-name lookup with the reference's FLATTENED-nested mapping
    * (CapnProtoSchema.cpp, test 00823): a CH column `a_b_c` reaches the
    * capnp path `a.b.c` — greedy descent through struct members whose
    * name is a `_`-delimited prefix.
    */
  private def lookup(mm: mutable.LinkedHashMap[String, Any],
      name: String): Option[Any] =
    mm.collectFirst { case (k, x) if k.equalsIgnoreCase(name) => x }
      .orElse {
        val lower = name.toLowerCase
        mm.collectFirst {
          case (k, sub: mutable.LinkedHashMap[String @unchecked, Any @unchecked])
              if lower.startsWith(k.toLowerCase + "_") =>
            lookup(sub, name.substring(k.length + 1))
        }.flatten
      }

  def read(spark: SparkSession, bytes: Array[Byte], schemaText: String,
      messageName: String, structure: StructType): DataFrame = {
    val sc = parseSchema(schemaText)
    val root = sc.structOf(messageName).fullName
    val rows = readMessages(bytes).map { m =>
      val (w, at) = resolvePtr(m, Loc(0, 0))
      val mm =
        if (w == 0L) mutable.LinkedHashMap.empty[String, Any]
        else {
          val (dloc, dw, pw) = structLoc(w, at)
          readStructValue(sc, m, dloc, dw, pw, root)
            .asInstanceOf[mutable.LinkedHashMap[String, Any]]
        }
      Row.fromSeq(structure.fields.toSeq.map { c =>
        lookup(mm, c.name) match {
          case Some(x) => coerce(x, c.dataType, ChTypes.chName(c))
          case None =>
            if (c.nullable) null else FormatCodec.defaultValue(c.dataType)
        }
      })
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), structure)
  }
}
