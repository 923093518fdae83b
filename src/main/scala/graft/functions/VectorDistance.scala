package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types._

/** Vector distance metrics of the reference engine.
  *
  * The reference supports float metrics L2 / Cosine / IP and binary
  * metrics Hamming / Jaccard (defaults at
  * `/root/reference/src/Storages/MergeTree/MergeTreeSettings.h:183-184`,
  * binary check `/root/reference/src/VectorIndex/Storages/
  * MergeTreeVSManager.cpp:1578`), plus the arrayDistance scalar family
  * `L1/L2/L2Squared/Linf/cosine/dot`
  * (`/root/reference/src/Functions/array/arrayDistance.cpp:23-131`).
  *
  * Accumulation is intentionally in Float32 — the reference computes
  * Float32 distances end-to-end, and our DuckDB oracle's
  * `list_distance`/`list_cosine_similarity` likewise produce float32
  * values, so float accumulation gives bit-identical golden results.
  */
object Metric extends Enumeration {
  // CosineSim (appended — ids are codegen-stable) is the SIMILARITY twin
  // of Cosine: the raw `cosineSim` kernel without the `1 − sim` distance
  // wrap, for similarity-side consumers (SemDeDup, dup-pair thresholds)
  // whose oracles compare similarities directly — the 1−(1−sim) Float32
  // roundtrip costs a ulp, which flips knife-edge rounding boundaries.
  val L2, L2Squared, L1, Linf, Cosine, IP, Dot, CosineSim = Value
}

/** Scalar distance between two float-vector columns.
  *
  * Codegen: emits a tight primitive loop over the two array buffers so
  * the expression stays inside whole-stage codegen (the brute-force scan
  * is the hot path at scale — 100 TB of embeddings is scored through
  * this).
  */
case class VectorDistance(left: Expression, right: Expression, metric: Metric.Value)
    extends BinaryExpression {

  override def dataType: DataType = FloatType

  override def prettyName: String = s"${metric.toString.toLowerCase}_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData].toFloatArray()
    val b = r.asInstanceOf[ArrayData].toFloatArray()
    VectorKernels.distance(a, b, metric)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mid = metric.id
    nullSafeCodeGen(ctx, ev, (l, r) => {
      s"""
         |${ev.value} = graft.functions.VectorKernels.distanceById(
         |    $l.toFloatArray(), $r.toFloatArray(), $mid);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hamming / Jaccard over binary vectors (`FixedString(N)` in the
  * reference → BinaryType here).
  */
case class BinaryVectorDistance(left: Expression, right: Expression, jaccard: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = FloatType
  override def prettyName: String = if (jaccard) "jaccard_distance" else "hamming_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]
    val b = r.asInstanceOf[Array[Byte]]
    if (jaccard) VectorKernels.jaccardBits(a, b) else VectorKernels.hammingBits(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (jaccard) "jaccardBits" else "hammingBits"
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.VectorKernels.$fn($l, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distance between a float query and an int8-scalar-quantized vector
  * (IVFSQ index lists — reference SQ types in
  * `/root/reference/src/VectorIndex/Interpreters/parseVSParameters.cpp:77-112`).
  * Asymmetric: the query stays float, stored codes are dequantized on the
  * fly (`v_j = offset_j + code_j · scale_j`) inside one fused loop, so the
  * scan stage reads 1 byte/dim instead of 4 and stays in whole-stage
  * codegen.
  */
case class SqDistance(
    child: Expression,
    query: Array[Float],
    scale: Array[Float],
    offset: Array[Float],
    metric: Metric.Value)
    extends UnaryExpression {

  override def dataType: DataType = FloatType
  override def prettyName: String = s"sq_${metric.toString.toLowerCase}_distance"

  override def nullSafeEval(b: Any): Any =
    VectorKernels.sqDistanceById(b.asInstanceOf[Array[Byte]], query, scale,
      offset, metric.id)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("sqQuery", query, "float[]")
    val sRef = ctx.addReferenceObj("sqScale", scale, "float[]")
    val oRef = ctx.addReferenceObj("sqOffset", offset, "float[]")
    val mid = metric.id
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.VectorKernels.sqDistanceById(" +
        s"$b, $qRef, $sRef, $oRef, $mid);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ Asymmetric Distance Computation: the per-query m×256 lookup table
  * of exact subspace distances is built once on the driver and rides into
  * codegen as a reference object; each row's distance is m byte-indexed
  * table lookups — no float kernel math in the scan (Jégou et al., PQ for
  * NN search, TPAMI 2011).
  */
case class PqAdcDistance(child: Expression, table: Array[Float])
    extends UnaryExpression {

  override def dataType: DataType = FloatType
  override def prettyName: String = "pq_adc_distance"

  override def nullSafeEval(b: Any): Any =
    VectorKernels.pqAdc(b.asInstanceOf[Array[Byte]], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("adcTable", table, "float[]")
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.VectorKernels.pqAdc($b, $tRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Primitive kernels, shared by interpreted eval and generated code.
  * Top-level object → Scala emits static forwarders, so generated Java
  * (Janino) can call `VectorKernels.distanceById(...)` directly.
  */
object VectorKernels {

  /** Metric dispatch by `Metric.id`, callable from generated Java. */
  def distanceById(a: Array[Float], b: Array[Float], id: Int): Float =
    distance(a, b, Metric(id))

  def distance(a: Array[Float], b: Array[Float], metric: Metric.Value): Float = {
    require(a.length == b.length,
      s"vector length mismatch: ${a.length} vs ${b.length}")
    metric match {
      case Metric.L2        => math.sqrt(l2sq(a, b)).toFloat
      case Metric.L2Squared => l2sq(a, b)
      case Metric.L1        => l1(a, b)
      case Metric.Linf      => linf(a, b)
      case Metric.Cosine    => 1.0f - cosineSim(a, b)
      case Metric.CosineSim => cosineSim(a, b)
      case Metric.IP | Metric.Dot => dot(a, b)
    }
  }

  def l2sq(a: Array[Float], b: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  def l1(a: Array[Float], b: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
    s
  }

  def linf(a: Array[Float], b: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < a.length) { val d = math.abs(a(i) - b(i)); if (d > s) s = d; i += 1 }
    s
  }

  def dot(a: Array[Float], b: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def cosineSim(a: Array[Float], b: Array[Float]): Float = {
    var d = 0f; var na = 0f; var nb = 0f; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    (d / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))).toFloat
  }

  /** Asymmetric SQ8 distance: float query vs int8 codes dequantized as
    * `offset_j + code_j·scale_j` in one fused loop.
    */
  def sqDistanceById(
      codes: Array[Byte], q: Array[Float], scale: Array[Float],
      offset: Array[Float], id: Int): Float = {
    val m = Metric(id)
    var i = 0
    m match {
      case Metric.L2 | Metric.L2Squared =>
        var s = 0f
        while (i < codes.length) {
          val v = offset(i) + (codes(i) & 0xff) * scale(i)
          val d = q(i) - v; s += d * d; i += 1
        }
        if (m == Metric.L2) math.sqrt(s).toFloat else s
      case Metric.IP | Metric.Dot =>
        var s = 0f
        while (i < codes.length) {
          s += q(i) * (offset(i) + (codes(i) & 0xff) * scale(i)); i += 1
        }
        s
      case Metric.Cosine =>
        var d = 0f; var na = 0f; var nb = 0f
        while (i < codes.length) {
          val v = offset(i) + (codes(i) & 0xff) * scale(i)
          d += q(i) * v; na += q(i) * q(i); nb += v * v; i += 1
        }
        1.0f - (d / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))).toFloat
      case other @ (Metric.L1 | Metric.Linf) =>
        // L1 / Linf over dequantized values
        var s = 0f
        while (i < codes.length) {
          val v = offset(i) + (codes(i) & 0xff) * scale(i)
          val d = math.abs(q(i) - v)
          if (other == Metric.Linf) { if (d > s) s = d } else s += d
          i += 1
        }
        s
      case other =>
        // the old catch-all would silently compute L1 for any metric
        // appended to the enum later (CosineSim hit this) — fail loudly
        throw new IllegalArgumentException(
          s"sqDistance does not support metric $other")
    }
  }

  /** int8 scalar quantization: `code_j = round((v_j - min_j)/scale_j)`
    * clamped to [0,255].
    */
  def sqEncode(v: Array[Float], scale: Array[Float], offset: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      val c =
        if (scale(i) == 0f) 0
        else math.max(0, math.min(255, math.round((v(i) - offset(i)) / scale(i))))
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /** ADC: Σ over subspaces of table[(s<<8) | code_s]. */
  def pqAdc(codes: Array[Byte], table: Array[Float]): Float = {
    var s = 0f; var i = 0
    while (i < codes.length) {
      s += table((i << 8) | (codes(i) & 0xff))
      i += 1
    }
    s
  }

  def hammingBits(a: Array[Byte], b: Array[Byte]): Float = {
    var s = 0; var i = 0
    while (i < a.length) { s += Integer.bitCount((a(i) ^ b(i)) & 0xff); i += 1 }
    s.toFloat
  }

  /** Binary Jaccard distance: 1 - |AND bits| / |OR bits|. */
  def jaccardBits(a: Array[Byte], b: Array[Byte]): Float = {
    var and = 0; var or = 0; var i = 0
    while (i < a.length) {
      and += Integer.bitCount((a(i) & b(i)) & 0xff)
      or += Integer.bitCount((a(i) | b(i)) & 0xff)
      i += 1
    }
    if (or == 0) 0f else 1.0f - and.toFloat / or.toFloat
  }
}

/** Column-level API for the distance family. */
object distances {
  private def mk(e: Expression): Column = shim.column(e)

  /** Coerce any numeric-array column to array<float> before the kernel. */
  private def asFloats(c: Column): Expression =
    Cast(shim.expression(c), ArrayType(FloatType))

  private def ex(c: Column): Expression = shim.expression(c)

  def l2Distance(a: Column, b: Column): Column = mk(VectorDistance(asFloats(a), asFloats(b), Metric.L2))
  def l2SquaredDistance(a: Column, b: Column): Column = mk(VectorDistance(asFloats(a), asFloats(b), Metric.L2Squared))
  def l1Distance(a: Column, b: Column): Column = mk(VectorDistance(asFloats(a), asFloats(b), Metric.L1))
  def linfDistance(a: Column, b: Column): Column = mk(VectorDistance(asFloats(a), asFloats(b), Metric.Linf))
  def cosineDistance(a: Column, b: Column): Column = mk(VectorDistance(asFloats(a), asFloats(b), Metric.Cosine))
  def cosineSimilarity(a: Column, b: Column): Column = mk(VectorDistance(asFloats(a), asFloats(b), Metric.CosineSim))
  def dotProduct(a: Column, b: Column): Column = mk(VectorDistance(asFloats(a), asFloats(b), Metric.Dot))
  def hammingDistance(a: Column, b: Column): Column = mk(BinaryVectorDistance(ex(a), ex(b), jaccard = false))
  def jaccardDistance(a: Column, b: Column): Column = mk(BinaryVectorDistance(ex(a), ex(b), jaccard = true))

  /** `distance(col, qvec)` with a metric name, mirroring the reference's
    * parameterized `distance('metric_type=...')(col, q)` surface.
    */
  def distance(metricType: String)(a: Column, b: Column): Column = {
    val m = metricType.trim.toLowerCase match {
      case "l2" | "euclidean"  => Metric.L2
      case "cosine"            => Metric.Cosine
      case "ip" | "dot"        => Metric.IP
      case "l1"                => Metric.L1
      case "linf"              => Metric.Linf
      case "l2squared"         => Metric.L2Squared
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }
    mk(VectorDistance(asFloats(a), asFloats(b), m))
  }
}
