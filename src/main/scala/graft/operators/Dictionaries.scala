package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named-dictionary catalog + the reference's SQL dictionary-function
  * surface (`src/Functions/FunctionsExternalDictionaries.cpp`,
  * `src/Dictionaries/`): `CREATE DICTIONARY`-shaped registration of a
  * keyed dimension (name → materialized key→attribute maps + declared
  * attribute types), resolved BY NAME from the typed SQL getters
  * `dictGet<T>[OrDefault]`, `dictGetOrNull`, `dictHas`,
  * `dictGetHierarchy`, `dictIsIn`, `dictGetChildren`,
  * `dictGetDescendants`.
  *
  * Layout model: the reference's flat/hashed layouts materialize the
  * source into an in-memory hash keyed by UInt64 — here the source frame
  * is collected once at CREATE time (dimension-sized by contract, like
  * the reference's memory layouts) and the maps ride to executors inside
  * the UDF closures (broadcast by the task serializer). The DataFrame
  * path for big dictionaries stays [[RelationalOps.dictGet]] (map
  * literal / broadcast join).
  *
  * Missing-key semantics mirror the reference: `dictGet<T>` returns the
  * type's default value (0 / '' / epoch), `…OrDefault` the caller's
  * per-row default, `dictGetOrNull` NULL, `dictHas` 0/1.
  */
object Dictionaries {

  final case class Dict(
      keyCol: String,
      attrTypes: Map[String, String],        // attr -> declared CH type name
      attrs: Map[String, Map[Long, Any]],    // attr -> key -> value
      hierarchical: Option[String])          // attr holding the parent key

  private val registry = TrieMap.empty[String, Dict]

  /** CREATE DICTIONARY name (…) PRIMARY KEY keyCol SOURCE(df) — the
    * catalog entry. `attrTypes` declares each attribute's reference type
    * name (UInt64, String, Float64, Date, DateTime, …); `hierarchical`
    * marks the parent-key attribute for the hierarchy functions.
    */
  def create(
      name: String,
      df: DataFrame,
      keyCol: String,
      attrTypes: Map[String, String],
      hierarchical: Option[String] = None): Unit = {
    val cols = keyCol +: attrTypes.keys.toSeq
    val rows = df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
    val attrs = attrTypes.keys.map { a =>
      val i = cols.indexOf(a)
      a -> rows.iterator.map { r =>
        val k = r.get(0) match {
          case n: Number => n.longValue()
          case other => other.toString.toLong
        }
        k -> r.get(i)
      }.toMap
    }.toMap
    registry(name) = Dict(keyCol, attrTypes, attrs, hierarchical)
  }

  def drop(name: String): Unit = registry.remove(name)

  /** Catalog lookup for the `dictionary('name')` table function. */
  def describe(name: String): Dict = dict(name)
  def names: Seq[String] = registry.keys.toSeq.sorted
  def exists(name: String): Boolean = registry.contains(name)

  /** `system.dictionaries` analog (reference
    * `src/Storages/System/StorageSystemDictionaries.cpp`, incl. the
    * virtual `key` layout column of 01838): one row per registered
    * dictionary with its key layout, attribute names/types (comma-joined
    * — scalar cells, driver-comparator-safe) and hierarchy marker.
    * Simple-key entries report `UInt64` (the registry's key domain);
    * polygon-layout entries report `Polygon`.
    */
  def system(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, StringType, BooleanType}
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("key", StringType, nullable = false),
      StructField("attribute_names", StringType, nullable = false),
      StructField("attribute_types", StringType, nullable = false),
      StructField("hierarchical", BooleanType, nullable = false)))
    val rows: Seq[org.apache.spark.sql.Row] =
      registry.toSeq.map { case (n, d) =>
        val as = d.attrTypes.keys.toSeq.sorted
        org.apache.spark.sql.Row(n, "UInt64", as.mkString(","),
          as.map(d.attrTypes).mkString(","), d.hierarchical.nonEmpty)
      } ++ polyRegistry.toSeq.map { case (n, d) =>
        val as = d.attrTypes.keys.toSeq.sorted
        org.apache.spark.sql.Row(n, "Polygon", as.mkString(","),
          as.map(d.attrTypes).mkString(","), false)
      }
    graft.sources.SystemCatalog.df(spark, rows.sortBy(_.getString(0)), schema)
  }

  private def dict(name: String): Dict =
    registry.getOrElse(name,
      throw new IllegalArgumentException(s"Dictionary '$name' does not exist"))

  private def rawGet(name: String, attr: String, key: Long): Option[Any] = {
    val d = dict(name)
    d.attrs.getOrElse(attr,
      throw new IllegalArgumentException(
        s"Dictionary '$name' has no attribute '$attr'")).get(key)
  }

  private def toLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case b: Boolean => if (b) 1L else 0L
    case s: String => s.toLong
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case t: java.sql.Timestamp => t.getTime / 1000
    case other => other.toString.toLong
  }
  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
    case other => other.toString.toDouble
  }
  private def toStr(v: Any): String = v match {
    case null => null
    case other => other.toString
  }

  /** Ancestor chain including the key itself, walking the hierarchical
    * attribute until 0 / missing / a cycle (reference getHierarchy). */
  def hierarchy(name: String, key: Long): Seq[Long] = {
    val d = dict(name)
    val parentAttr = d.hierarchical.getOrElse(
      throw new IllegalArgumentException(s"Dictionary '$name' is not hierarchical"))
    val parents = d.attrs(parentAttr)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cur = key
    while (cur != 0 && parents.contains(cur) && !out.contains(cur)) {
      out += cur
      cur = toLong(parents(cur))
    }
    if (cur != 0 && !out.contains(cur) && parents.contains(cur)) out += cur
    out.toSeq
  }

  def isIn(name: String, child: Long, ancestor: Long): Boolean =
    hierarchy(name, child).contains(ancestor)

  def children(name: String, key: Long): Seq[Long] = {
    val d = dict(name)
    val parentAttr = d.hierarchical.getOrElse(
      throw new IllegalArgumentException(s"Dictionary '$name' is not hierarchical"))
    d.attrs(parentAttr).collect {
      case (k, p) if toLong(p) == key => k
    }.toSeq.sorted
  }

  def descendants(name: String, key: Long, level: Int): Seq[Long] = {
    // level 0 = all descendants (reference semantics); level n = depth n only
    var frontier = children(name, key)
    val all = scala.collection.mutable.ArrayBuffer.empty[Long]
    var depth = 1
    while (frontier.nonEmpty && (level == 0 || depth <= level)) {
      if (level == 0 || depth == level) all ++= frontier
      frontier = frontier.flatMap(children(name, _)).distinct
      depth += 1
    }
    all.distinct.sorted.toSeq
  }

  /** Register the SQL-name surface on the session. */
  def install(spark: SparkSession): Unit = {
    // integer family: all map through Long (the reference's widths are a
    // storage detail; Spark's BIGINT covers every UInt8..Int64 value the
    // maps can hold)
    val intNames = Seq("UInt8", "UInt16", "UInt32", "UInt64",
      "Int8", "Int16", "Int32", "Int64")
    for (t <- intNames) {
      spark.udf.register(s"dictGet$t",
        (d: String, a: String, k: Long) =>
          rawGet(d, a, k).map(toLong).getOrElse(0L))
      spark.udf.register(s"dictGet${t}OrDefault",
        (d: String, a: String, k: Long, dflt: Long) =>
          rawGet(d, a, k).map(toLong).getOrElse(dflt))
    }
    for (t <- Seq("Float32", "Float64")) {
      spark.udf.register(s"dictGet$t",
        (d: String, a: String, k: Long) =>
          rawGet(d, a, k).map(toDouble).getOrElse(0.0))
      spark.udf.register(s"dictGet${t}OrDefault",
        (d: String, a: String, k: Long, dflt: Double) =>
          rawGet(d, a, k).map(toDouble).getOrElse(dflt))
    }
    for (t <- Seq("String", "UUID", "IPv4", "IPv6")) {
      spark.udf.register(s"dictGet$t",
        (d: String, a: String, k: Long) =>
          rawGet(d, a, k).map(toStr).getOrElse(""))
      spark.udf.register(s"dictGet${t}OrDefault",
        (d: String, a: String, k: Long, dflt: String) =>
          rawGet(d, a, k).map(toStr).getOrElse(dflt))
    }
    spark.udf.register("dictGetDate",
      (d: String, a: String, k: Long) =>
        rawGet(d, a, k).map {
          case dd: java.sql.Date => dd
          case n: Number => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue()))
          case s => java.sql.Date.valueOf(s.toString)
        }.getOrElse(java.sql.Date.valueOf("1970-01-01")))
    spark.udf.register("dictGetDateOrDefault",
      (d: String, a: String, k: Long, dflt: java.sql.Date) =>
        rawGet(d, a, k).map {
          case dd: java.sql.Date => dd
          case n: Number => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue()))
          case s => java.sql.Date.valueOf(s.toString)
        }.getOrElse(dflt))
    spark.udf.register("dictGetDateTime",
      (d: String, a: String, k: Long) =>
        rawGet(d, a, k).map {
          case t: java.sql.Timestamp => t
          case n: Number => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(n.longValue()))
          case s => java.sql.Timestamp.valueOf(s.toString)
        }.getOrElse(new java.sql.Timestamp(0L)))
    spark.udf.register("dictGetDateTimeOrDefault",
      (d: String, a: String, k: Long, dflt: java.sql.Timestamp) =>
        rawGet(d, a, k).map {
          case t: java.sql.Timestamp => t
          case n: Number => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(n.longValue()))
          case s => java.sql.Timestamp.valueOf(s.toString)
        }.getOrElse(dflt))
    // untyped front: display form (the reference's untyped dictGet takes
    // its type from the dictionary DDL at analysis time; a SQL UDF has a
    // fixed return type, so the untyped name yields the string form and
    // the typed names carry exact types — documented deviation)
    spark.udf.register("dictGet",
      (d: String, a: String, k: Long) => rawGet(d, a, k).map(toStr).orNull)
    spark.udf.register("dictGetOrNull",
      (d: String, a: String, k: Long) => rawGet(d, a, k).map(toStr).orNull)
    spark.udf.register("dictGetOrDefault",
      (d: String, a: String, k: Long, dflt: String) =>
        rawGet(d, a, k).map(toStr).getOrElse(dflt))
    spark.udf.register("dictHas",
      (d: String, k: Long) => {
        val dd = dict(d)
        val anyAttr = dd.attrs.values.headOption
        if (anyAttr.exists(_.contains(k))) 1 else 0
      })
    spark.udf.register("dictGetHierarchy", (d: String, k: Long) => hierarchy(d, k))
    spark.udf.register("dictIsIn",
      (d: String, c: Long, a: Long) => if (isIn(d, c, a)) 1 else 0)
    spark.udf.register("dictGetChildren", (d: String, k: Long) => children(d, k))
    spark.udf.register("dictGetDescendants",
      (d: String, k: Long, lvl: Int) => descendants(d, k, lvl))
    // polygon-dictionary fronts (the reference overloads dictGet on a
    // tuple key at analysis time; Spark UDF names are monomorphic, so the
    // point-keyed lookups carry their own names — documented deviation)
    spark.udf.register("dictGetPoint",
      (d: String, a: String, x: Double, y: Double) =>
        polyGet(d, a, x, y).map(toStr).orNull)
    spark.udf.register("dictGetPointOrDefault",
      (d: String, a: String, x: Double, y: Double, dflt: String) =>
        polyGet(d, a, x, y).map(toStr).getOrElse(dflt))
    spark.udf.register("dictGetPointUInt64OrDefault",
      (d: String, a: String, x: Double, y: Double, dflt: Long) =>
        polyGet(d, a, x, y).map(toLong).getOrElse(dflt))
    spark.udf.register("dictHasPoint",
      (d: String, x: Double, y: Double) =>
        if (polyFind(d, x, y).isDefined) 1 else 0)
  }

  // ---- polygon dictionaries ----------------------------------------------
  // Reference `src/Dictionaries/PolygonDictionary.cpp` (layout POLYGON):
  // the key is a MultiPolygon per row and lookup is by point containment.
  // The reference's own 01037 fixtures resolve ties (point inside several
  // polygons) to the SMALLEST containing polygon ("Click East" beats the
  // enclosing "Click" cross) — entries are kept area-sorted so the first
  // containment hit is the answer. Broadcast-sized by the same contract as
  // the flat layouts; the unbounded-size path is operators/SpatialJoin.

  import graft.functions.{Geometry, PolygonClip}

  final case class PolyDict(
      attrTypes: Map[String, String],
      entries: IndexedSeq[(PolygonClip.MultiPoly, Map[String, Any])])

  private val polyRegistry = TrieMap.empty[String, PolyDict]

  /** CREATE DICTIONARY … LAYOUT(POLYGON): `keyCol` holds the MultiPolygon
    * (`array(array(array(struct(double, double))))`), the remaining
    * declared attributes are payload.
    */
  def createPolygon(
      name: String,
      df: DataFrame,
      keyCol: String,
      attrTypes: Map[String, String]): Unit = {
    val cols = keyCol +: attrTypes.keys.toSeq
    val rows = df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
    val entries = rows.iterator.map { r =>
      val mp: PolygonClip.MultiPoly = r.getSeq[scala.collection.Seq[Any]](0).map { poly =>
        poly.map {
          case ring: scala.collection.Seq[_] =>
            ring.map {
              case p: org.apache.spark.sql.Row => (p.getDouble(0), p.getDouble(1))
            }.toIndexedSeq
        }.toIndexedSeq
      }.toIndexedSeq
      val attrs = attrTypes.keys.map(a => a -> r.get(cols.indexOf(a))).toMap
      (mp, attrs)
    }.toIndexedSeq
    val sorted = entries.sortBy { case (mp, _) => Geometry.areaCartesian(mp) }
    polyRegistry(name) = PolyDict(attrTypes, sorted)
  }

  def dropPolygon(name: String): Unit = polyRegistry.remove(name)

  private def polyFind(name: String, x: Double, y: Double): Option[Map[String, Any]] = {
    val d = polyRegistry.getOrElse(name,
      throw new IllegalArgumentException(s"Polygon dictionary '$name' does not exist"))
    d.entries.collectFirst {
      case (mp, attrs) if Geometry.pointInMulti((x, y), mp) => attrs
    }
  }

  private def polyGet(name: String, attr: String, x: Double, y: Double): Option[Any] =
    polyFind(name, x, y).map(_.getOrElse(attr,
      throw new IllegalArgumentException(
        s"Polygon dictionary '$name' has no attribute '$attr'")))
}
