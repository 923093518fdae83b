package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.engine.ParquetSchema
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The on-disk metadata of every index family (IVFFLAT/MSTG, IVFSQ,
  * IVFPQ, BinaryIVF, HNSW/BinaryHNSW, FTS), and the one writer and per-JVM
  * cache of the small tables a search loads while it is planned
  * (centroids, PQ codebooks, SQ params) — the reference keeps this
  * per-part state in one place too (`VIInfo`, `VICacheManager`).
  *
  * `meta.json` is a `{version, type, buildId, status, meta}` envelope
  * around the family's `Meta` case class. `build` writes a fresh
  * `buildId`; `append` rewrites the file and keeps it. Every search reads
  * the file once (a few hundred bytes), so nothing caches metadata, and
  * every cached table is keyed `indexDir/<table>@buildId`: a rebuild in
  * another JVM changes the build id, and the next search here misses the
  * old entries instead of serving them.
  */
private[graft] object IndexArtifact {

  /** The `meta.json` format this code writes; a newer file is rejected. */
  val Version = 2

  /** One index directory's metadata as read from (or just written to)
    * its `meta.json`.
    */
  final case class Artifact[M](
      dir: String, indexType: String, buildId: String, status: String, meta: M)

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES)
    .build()

  def metaPath(dir: String): Path = Paths.get(dir, "meta.json")

  /** Write `meta.json` atomically: a temp file in the same directory
    * renamed over the target, so a concurrent [[read]] sees the old file
    * or the new one, never a partial write.
    */
  def write[M <: AnyRef](
      dir: String, indexType: String, meta: M,
      buildId: String = java.util.UUID.randomUUID().toString): Artifact[M] = {
    val node = mapper.createObjectNode()
      .put("version", Version).put("type", indexType)
      .put("buildId", buildId).put("status", "BUILT")
    node.set[JsonNode]("meta", mapper.valueToTree[JsonNode](meta))
    val target = metaPath(dir)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".meta", ".json.tmp")
    try {
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    Artifact(dir, indexType, buildId, "BUILT", meta)
  }

  /** Read `meta.json`, failing with the file's path on a missing file,
    * invalid JSON, a newer format version or a missing field.
    */
  def read[M](dir: String, cls: Class[M]): Artifact[M] = {
    val p = metaPath(dir)
    def fail(why: String): Nothing =
      throw new IllegalStateException(s"index metadata $p: $why")
    if (!Files.exists(p)) fail("not found")
    val root =
      try mapper.readTree(Files.readAllBytes(p))
      catch { case e: JsonProcessingException => fail(s"invalid JSON: ${e.getOriginalMessage}") }
    if (root == null || !root.isObject) fail("invalid JSON: not an object")
    def field(k: String): JsonNode =
      Option(root.get(k)).filterNot(_.isNull).getOrElse(fail(s"missing field '$k'"))
    val version = field("version")
    if (!version.isInt) fail(s"field 'version' is not an integer: $version")
    if (version.intValue > Version)
      fail(s"format version ${version.intValue} is newer than this reader's $Version")
    if (!root.has("buildId")) fail("written without a build id; rebuild the index")
    val meta =
      try mapper.treeToValue(field("meta"), cls)
      catch { case e: JsonProcessingException => fail(s"invalid meta: ${e.getOriginalMessage}") }
    Artifact(dir, field("type").asText, field("buildId").asText, field("status").asText, meta)
  }

  /** ONE cache for every centroid/codebook/SQ-param table across
    * IVF/PQ/SQ/BinaryIVF/HNSW, so one budget bounds their sum.
    */
  private val cache =
    new BoundedCache[AnyRef]("spark.graft.index.centroidCacheBytes", "1g")

  /** A small parquet table under an index dir: written once by the build
    * (one file), collected, decoded and cached under `dir/name@buildId`.
    */
  final class Table[V <: AnyRef](name: String, weigh: V => Long,
      decode: Array[Row] => V, encode: (SparkSession, V) => DataFrame) {
    private def key(a: Artifact[_]) = s"${a.dir}/$name@${a.buildId}"
    private val weight: AnyRef => Long = v => weigh(v.asInstanceOf[V])

    def write(spark: SparkSession, dir: String, v: V): Unit =
      encode(spark, v).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")

    def load(spark: SparkSession, a: Artifact[_]): V =
      cache.getOrLoad(key(a))(
        decode(ParquetSchema.load(spark, s"${a.dir}/$name").collect()))(weight)
        .asInstanceOf[V]

    /** Build-time warm insert of the table just written, once `meta.json`
      * names the build.
      */
    def put(a: Artifact[_], v: V): Unit = cache.put(key(a), v)(weight)
  }

  private def floatTableBytes(t: Array[Array[Float]]): Long =
    16L + t.iterator.map(r => 56L + r.length.toLong * 4L).sum

  /** `centroids/`: (list_id, centroid float[]), in list order. */
  val Centroids = new Table[Array[Array[Float]]]("centroids", floatTableBytes,
    _.sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray),
    (spark, cs) => {
      import spark.implicits._
      cs.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("list_id", "centroid")
    })

  /** `centroids/` of a binary index: (list_id, centroid bytes). */
  val BinaryCentroids = new Table[Array[Array[Byte]]]("centroids",
    t => 16L + t.iterator.map(r => 56L + r.length.toLong).sum,
    _.sortBy(_.getInt(0)).map(_.getAs[Array[Byte]](1)),
    (spark, cs) => {
      import spark.implicits._
      cs.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("list_id", "centroid")
    })

  /** `codebooks/`: (sub, code, centroid) → books(sub)(code). */
  val Codebooks = new Table[Array[Array[Array[Float]]]]("codebooks",
    b => 16L + b.iterator.map(floatTableBytes).sum,
    rows => {
      val bySub = rows.groupBy(_.getInt(0))
      Array.tabulate(bySub.keys.max + 1)(s =>
        bySub(s).sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray))
    },
    (spark, books) => {
      import spark.implicits._
      books.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
      }.toSeq.toDF("sub", "code", "centroid")
    })

  /** `sq_params/`: one (scale, offset) row of per-dim floats. */
  val SqParams = new Table[(Array[Float], Array[Float])]("sq_params",
    p => 32L + 8L * p._1.length,
    rows => (rows.head.getSeq[Float](0).toArray, rows.head.getSeq[Float](1).toArray),
    (spark, p) => {
      import spark.implicits._
      Seq((p._1.toSeq, p._2.toSeq)).toDF("scale", "offset")
    })
}
