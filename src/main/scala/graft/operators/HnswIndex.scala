package graft.operators

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorKernels

/** HNSW vector indexes — HNSWFLAT, and the quantized HNSWSQ and HNSWPQ
  * (`ADD VECTOR INDEX v col TYPE HNSWFLAT|HNSWSQ|HNSWPQ`, reference
  * index-type registry per SURVEY §2.1; algorithm: Malkov & Yashunin,
  * "Efficient and robust approximate nearest neighbor search using
  * Hierarchical Navigable Small World graphs", IEEE TPAMI 2018).
  *
  * Spark shape — mirrors the reference's per-part indexes:
  *  - **Write**: one part writer ([[writeParts]]) serves the first load
  *    and every later insert, as the reference indexes every data part
  *    the same way (`VIBuilderUpdater.cpp`, `VIWithDataPart.cpp`). Each
  *    Spark partition becomes one part with its own in-JVM graph, stored
  *    as plain rows `(part_id, node_idx, id, vec | qvec,
  *    neighbors[layer][..])` — the graph IS a DataFrame, partitioned by
  *    `part_id` on disk. [[build]] is "clear the data directories, train
  *    the quantizer, append from part 0"; [[append]] numbers its parts
  *    past every part in use. No global state beyond the quantizer.
  *  - **Search**: each `part_id=` directory is its own single-task scan
  *    (`coalesce(1)`, no Exchange); the task takes the part's graph from
  *    the per-JVM cache (the `VICacheManager` analog) or loads it, runs
  *    one beam per query ([[Graph]]: descend the layers, one ef-beam on
  *    layer 0, sorted by `(d, id)`) and emits its local top-k; the parts
  *    too small to index are brute-forced from `smallparts/`. Every search
  *    — [[search]], [[candidatePool]], [[batchSearch]],
  *    [[searchWithAcceptDf]] — unions that graph leg and that small-part
  *    leg and differs only in what a part emits and how the union is cut;
  *    the global merge is the same `TakeOrderedAndProject` every other
  *    top-K uses.
  *  - **Layout** under `indexDir`: `graph/part_id=N/` graph rows,
  *    `smallparts/` raw vectors of parts under the min-rows gate,
  *    `sq_params/` (HNSWSQ) or `codebooks/` (HNSWPQ), and `meta.json`, the
  *    [[IndexArtifact]] envelope (version, type, buildId, status) around
  *    [[Meta]]. Cached graphs are keyed `indexDir#part@buildId`.
  *
  * Determinism: level draws are seeded per part, so builds are
  * reproducible.
  */
object HnswIndex {

  case class Meta(metric: String, idCol: String, vecCol: String, nRows: Long)

  case class GraphRow(part_id: Int, node_idx: Int, id: Long,
      vec: Array[Float], neighbors: Seq[Seq[Int]])

  /** The graph distance: 1 − cosine similarity, or squared L2 (rank-
    * equivalent to L2, so the beam never pays for a sqrt).
    */
  private def dist(cosine: Boolean, a: Array[Float], b: Array[Float]): Float =
    if (cosine) 1.0f - VectorKernels.cosineSim(a, b) else VectorKernels.l2sq(a, b)

  /** A [[dist]] value in the metric's native scale (sqrt for L2). */
  private def native(cosine: Boolean, d: Float): Float =
    if (cosine) d else math.sqrt(d).toFloat

  /** The ef-bounded best-first beam over one layer, from `ep`, as
    * unordered `(distance, node)` pairs. `dq(n)` is node n's distance to
    * the query and `nbrs(n, layer)` its adjacency; nodes already in
    * `visited` are never entered (an insert pre-visits itself).
    */
  private def searchLayer(ep: Int, ef: Int, layer: Int, dq: Int => Float,
      nbrs: (Int, Int) => Iterable[Int],
      visited: mutable.HashSet[Int] = mutable.HashSet.empty): Seq[(Float, Int)] = {
    // candidates: min-dist first; results: max-dist first (bounded ef)
    val cand = mutable.PriorityQueue.empty[(Float, Int)](Ordering.by(-_._1))
    val res = mutable.PriorityQueue.empty[(Float, Int)](Ordering.by(_._1))
    if (visited.add(ep)) {
      val d = dq(ep)
      cand.enqueue((d, ep)); res.enqueue((d, ep))
    }
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      if (res.size >= ef && dc > res.head._1) {
        cand.clear() // every remaining candidate is farther
      } else {
        nbrs(c, layer).foreach { n =>
          if (visited.add(n)) {
            val d = dq(n)
            if (res.size < ef || d < res.head._1) {
              cand.enqueue((d, n)); res.enqueue((d, n))
              if (res.size > ef) res.dequeue()
            }
          }
        }
      }
    }
    res.dequeueAll
  }

  /** In-memory graph for one partition. */
  final class Graph(
      val ids: Array[Long],
      val vecs: Array[Array[Float]],
      val neighbors: Array[Array[Array[Int]]], // node -> layer -> ids
      val entryPoint: Int,
      val metric: String) {

    private val cosine = metric.equalsIgnoreCase("cosine")

    private def layerNbrs(node: Int, layer: Int): Iterable[Int] =
      if (layer < neighbors(node).length) neighbors(node)(layer) else Nil

    /** The layer-0 ef-beam of `q` sorted by `(d, id)` — the index's whole
      * decision for a query: descend the upper layers with ef = 1, then
      * one beam of width `max(ef, k)` on layer 0. Distances are [[dist]]s.
      */
    private def pool(q: Array[Float], k: Int, ef: Int): Seq[(Float, Int)] = {
      if (ids.isEmpty) return Nil
      val dq = (n: Int) => dist(cosine, q, vecs(n))
      var ep = entryPoint
      var layer = neighbors(entryPoint).length - 1
      while (layer > 0) {
        ep = searchLayer(ep, 1, layer, dq, layerNbrs).minBy(_._1)._2
        layer -= 1
      }
      searchLayer(ep, math.max(ef, k), 0, dq, layerNbrs).sortBy(x => (x._1, ids(x._2)))
    }

    /** Top-k (id, distance) in the metric's native scale. `accept`
      * restricts the result by id (the reference's filter-bitmap /
      * lightweight-delete mask applied inside the index search,
      * `MergeTreeSelectWithHybridSearchProcessor.h:117-129`): the graph is
      * still traversed through non-qualifying nodes (they keep the small
      * world connected), so callers raise `ef` when the filter is
      * selective.
      */
    def search(q: Array[Float], k: Int, ef: Int,
        accept: Long => Boolean = _ => true): Seq[(Long, Float)] =
      pool(q, k, ef).filter(x => accept(ids(x._2))).take(k)
        .map { case (d, i) => (ids(i), native(cosine, d)) }

    /** The whole layer-0 beam as `(id, distance, stored vector)` — the
      * pre-truncation candidate pool (the reference's stage-1 result set
      * before the k-cut, `MergeTreeVSManager.cpp:449-460` stage split).
      * Exported by the replay oracles so DuckDB can recompute the exact
      * top-K restricted to the pool — pinning kernel/rounding/tie-break
      * parity of everything downstream of graph traversal.
      */
    def searchPool(q: Array[Float], k: Int, ef: Int): Seq[(Long, Float, Array[Float])] =
      pool(q, k, ef).map { case (d, i) => (ids(i), native(cosine, d), vecs(i)) }

    /** Exact scoring of the nodes whose id is in the sorted `mask`, without
      * graph traversal — the "exact-over-bitmap" regime the reference uses
      * for selective filters (per-part brute force over the filter bitmap
      * instead of a masked graph walk,
      * `MergeTreeSelectWithHybridSearchProcessor.h:117-129`). Distances are
      * reported in the metric's native scale.
      */
    def bruteScores(q: Array[Float], mask: Array[Long]): Iterator[(Long, Float)] =
      ids.indices.iterator
        .filter(i => java.util.Arrays.binarySearch(mask, ids(i)) >= 0)
        .map(i => (ids(i), native(cosine, dist(cosine, q, vecs(i)))))
  }

  /** Incremental builder (insert-based, seeded levels). */
  final class Builder(metric: String, m: Int, efConstruction: Int, seed: Long) {
    private val mL = 1.0 / math.log(m.toDouble)
    private val rnd = new scala.util.Random(seed)
    private val cosine = metric.equalsIgnoreCase("cosine")
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    private val nbrs = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry = -1

    private def layerNbrs(node: Int, layer: Int): Iterable[Int] =
      if (layer < nbrs(node).length) nbrs(node)(layer) else Nil

    def insert(id: Long, v: Array[Float]): Unit = {
      val level = math.min(15, (-math.log(rnd.nextDouble() + 1e-12) * mL).toInt)
      val idx = ids.length
      ids += id; vecs += v
      nbrs += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (idx == 0) { entry = 0; return }

      val top = nbrs(entry).length - 1
      val dq = (n: Int) => dist(cosine, v, vecs(n))
      var ep = entry
      var layer = top
      while (layer > level) {
        ep = bestFrom(v, ep, layer)
        layer -= 1
      }
      var l = math.min(level, top)
      while (l >= 0) {
        val cands = searchLayer(ep, efConstruction, l, dq, layerNbrs, mutable.HashSet(idx))
        val selected = cands.sortBy(_._1).take(m).map(_._2)
        selected.foreach { n =>
          nbrs(idx)(l) += n
          nbrs(n)(l) += idx
          // prune over-connected neighbors to the m closest
          val cap = if (l == 0) 2 * m else m
          if (nbrs(n)(l).length > cap) {
            val pruned = nbrs(n)(l)
              .map(x => (dist(cosine, vecs(n), vecs(x)), x)).sortBy(_._1).take(cap).map(_._2)
            nbrs(n)(l) = mutable.ArrayBuffer(pruned.toSeq: _*)
          }
        }
        if (selected.nonEmpty) ep = selected.head
        l -= 1
      }
      if (level > top) entry = idx
    }

    /** Greedy descent on one layer: move to the nearest neighbour while
      * that improves. Not an ef = 1 [[searchLayer]]: the two can part on
      * tied distances, and the stored graphs follow this walk.
      */
    private def bestFrom(q: Array[Float], start: Int, layer: Int): Int = {
      var cur = start
      var curD = dist(cosine, q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        layerNbrs(cur, layer).foreach { n =>
          val d = dist(cosine, q, vecs(n))
          if (d < curD) { curD = d; cur = n; improved = true }
        }
      }
      cur
    }

    def rows(partId: Int): Iterator[GraphRow] =
      ids.indices.iterator.map { i =>
        GraphRow(partId, i, ids(i), vecs(i), nbrs(i).map(_.toSeq).toSeq)
      }
  }

  // Per-JVM graph cache — the VICacheManager analog, now SIZE-BOUNDED
  // like the reference's (VICacheManager.cpp caps its cache and evicts):
  // at 100 TB an executor touches thousands of parts over a job's
  // lifetime and an unbounded map is an OOM vector. Budget via
  // `spark.graft.hnsw.graphCacheBytes` (default 4g); evicted graphs
  // reload from the parquet artifact on next use (same rows iterator
  // the loader already consumes), so eviction costs I/O, never
  // correctness — HnswIndexSpec pins evict-then-reload top-K equality.
  private val graphCache =
    new BoundedCache[Graph]("spark.graft.hnsw.graphCacheBytes", "4g")

  /** How a quantized graph stores its vectors: HNSWSQ keeps one byte per
    * dim (`sq_params/`), HNSWPQ one byte per subspace (`codebooks/`). The
    * build trains it once; appends encode with the stored one.
    */
  private sealed trait Quantizer extends Serializable {
    def encode(v: Array[Float]): Array[Byte]
    def decode(codes: Array[Byte]): Array[Float]
    def write(spark: SparkSession, indexDir: String): Unit
    def put(art: IndexArtifact.Artifact[_]): Unit
  }

  private final case class Sq(scale: Array[Float], offset: Array[Float]) extends Quantizer {
    def encode(v: Array[Float]): Array[Byte] = VectorKernels.sqEncode(v, scale, offset)
    def decode(codes: Array[Byte]): Array[Float] = {
      val v = new Array[Float](codes.length)
      var j = 0
      while (j < codes.length) {
        v(j) = offset(j) + (codes(j) & 0xff) * scale(j); j += 1
      }
      v
    }
    def write(spark: SparkSession, indexDir: String): Unit =
      IndexArtifact.SqParams.write(spark, indexDir, (scale, offset))
    def put(art: IndexArtifact.Artifact[_]): Unit = IndexArtifact.SqParams.put(art, (scale, offset))
  }

  private final case class Pq(books: Array[Array[Array[Float]]]) extends Quantizer {
    def encode(v: Array[Float]): Array[Byte] = PqIndex.encode(v, books)
    def decode(codes: Array[Byte]): Array[Float] = {
      val sub = books.head.head.length
      val v = new Array[Float](codes.length * sub)
      var s = 0
      while (s < codes.length) {
        System.arraycopy(books(s)(codes(s) & 0xff), 0, v, s * sub, sub)
        s += 1
      }
      v
    }
    def write(spark: SparkSession, indexDir: String): Unit =
      IndexArtifact.Codebooks.write(spark, indexDir, books)
    def put(art: IndexArtifact.Artifact[_]): Unit = IndexArtifact.Codebooks.put(art, books)
  }

  private def storedQuantizer(
      spark: SparkSession, art: IndexArtifact.Artifact[Meta]): Option[Quantizer] =
    art.indexType match {
      case "HNSWPQ" => Some(Pq(IndexArtifact.Codebooks.load(spark, art)))
      case "HNSWSQ" =>
        val (scale, offset) = IndexArtifact.SqParams.load(spark, art)
        Some(Sq(scale, offset))
      case _ => None
    }

  /** Build: an append into an empty index. Clear the index's data
    * directories, train and write the quantizer if there is one, write
    * every partition as a part from part 0 with the writer [[append]]
    * uses ([[writeParts]]), then write `meta.json` with a fresh build id
    * and warm the quantizer's cache entry.
    *
    * `quantize=true` → HNSWSQ, `pqSubspaces > 0` → HNSWPQ (reference
    * quantized graph indexes, `parseVSParameters.cpp:77-112`): graph
    * construction still uses exact floats, but the persisted rows carry
    * the codes (HNSWSQ: int8, 1 byte/dim, the graph file shrinks ~4×;
    * HNSWPQ: 1 byte/subspace), and the loader decodes once per JVM.
    * Search traversal is unchanged; reported distances are to the decoded
    * points, so pair quantized graphs with [[searchTwoStage]] for exact
    * distances. The SQ params come from one pass over every row
    * ([[SqIndex.trainParams]]); the PQ codebooks from a sample of at most
    * 100k rows ([[PqIndex.trainCodebooks]]).
    */
  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      indexName: String,
      indexDir: String,
      metric: String = "l2",
      m: Int = 16,
      efConstruction: Int = 100,
      numPartitions: Option[Int] = None,
      sourcePath: String = "",
      quantize: Boolean = false,
      pqSubspaces: Int = 0,
      minRowsToBuild: Long = 0L): IvfIndex.IndexEntry = {
    import spark.implicits._
    require(!(quantize && pqSubspaces > 0), "choose SQ or PQ, not both")
    val indexType =
      if (pqSubspaces > 0) "HNSWPQ"
      else if (quantize) "HNSWSQ"
      else "HNSWFLAT"
    IvfIndex.Catalog.logEvent(indexName, "BUILD_START",
      s"$indexType m=$m efC=$efConstruction minRows=$minRowsToBuild")
    val base = df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    val parted = numPartitions.map(base.repartition(_)).getOrElse(base)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("graph", "smallparts", "sq_params", "codebooks")
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(root, d), true))
    val quantizer: Option[Quantizer] =
      if (pqSubspaces > 0) {
        val vecs = parted.toDF("__id", "__v")
        val nVecs = vecs.count()
        require(nVecs > 0, "empty input to HnswIndex.build")
        val dim = vecs.select(size(col("__v"))).head().getInt(0)
        require(dim % pqSubspaces == 0, s"dim $dim not divisible by m=$pqSubspaces")
        val train = IvfIndex.trainFrame(vecs.select(col("__v")), nVecs, 100000).persist()
        try Some(Pq(PqIndex.trainCodebooks(train, "__v", pqSubspaces,
          dim / pqSubspaces, train.count())))
        finally train.unpersist(blocking = false)
      } else if (quantize) {
        val (scale, offset) = SqIndex.trainParams(base.map(_._2))
        Some(Sq(scale, offset))
      } else None
    quantizer.foreach(_.write(spark, indexDir))
    val w = writeParts(spark, parted, indexDir, indexName, firstPartId = 0,
      quantizer, metric, m, efConstruction, minRowsToBuild)
    val art = IndexArtifact.write(indexDir, indexType, Meta(metric, idCol, vecCol, w.rows))
    quantizer.foreach(_.put(art))
    val entry = IvfIndex.IndexEntry(indexName, indexDir, sourcePath, vecCol,
      indexType, metric, "BUILT", w.rows, idCol = idCol)
    IvfIndex.Catalog.register(entry)
    IvfIndex.Catalog.logEvent(indexName, "BUILD_FINISH", s"nRows=${w.rows} ${w.detail}")
    entry
  }

  /** Incremental append — the reference's insert path: each new part
    * gets its OWN graph built at insert time (`VIWithDataPart`), old
    * parts' graphs untouched; a search unions all per-part graphs.
    * Here: the batch goes through the same part writer as [[build]],
    * numbered past every part in use (graph and small parts alike; part 0
    * on an index with none). Quantized variants (HNSWSQ/HNSWPQ) encode
    * the batch with the STORED quantizer (sq_params/codebooks) —
    * distribution drift in new data degrades quantization quality, not
    * correctness (distances to slightly-misquantized codes still re-rank
    * exactly in the two-stage path). `meta.json` keeps its build id.
    */
  def append(
      spark: SparkSession,
      indexDir: String,
      indexName: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      metric: String = "l2",
      m: Int = 16,
      efConstruction: Int = 100,
      numPartitions: Option[Int] = None,
      minRowsToBuild: Long = 0L): Unit = {
    import spark.implicits._
    val l = layout(spark, indexDir)
    val smallMax = l.smallRows(spark)
      .map(_.select(col("part_id")).as[Int].reduce((a, b) => math.max(a, b)))
    val offset = (l.parts.map(_._1) ++ smallMax).maxOption.fold(0)(_ + 1)
    IvfIndex.Catalog.logEvent(indexName, "APPEND_START", s"offset=$offset")
    val base = batch.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    val w = writeParts(spark, numPartitions.map(base.repartition(_)).getOrElse(base),
      indexDir, indexName, offset, l.quantizer, metric, m, efConstruction, minRowsToBuild)
    IndexArtifact.write(indexDir, l.art.indexType,
      l.art.meta.copy(nRows = l.art.meta.nRows + w.rows), l.art.buildId)
    IvfIndex.Catalog.lookup(indexName).foreach { e =>
      IvfIndex.Catalog.register(e.copy(nRows = e.nRows + w.rows))
    }
    IvfIndex.Catalog.logEvent(indexName, "APPEND_FINISH", s"added=${w.rows} ${w.detail}")
  }

  /** What one [[writeParts]] call added. */
  private final case class Written(rows: Long, parts: Int, smallParts: Int) {
    def detail: String = s"parts=$parts smallParts=$smallParts"
  }

  /** The one part writer behind [[build]] and [[append]]: partition `i` of
    * `rows` becomes part `firstPartId + i`.
    *
    *  1. The min_rows_to_build_vector_index gate (ref
    *     MergeTreeSettings.h:181): with `minRowsToBuild > 0` the rows are
    *     persisted and one job sizes every partition. A non-empty part
    *     under the threshold gets NO graph — its raw vectors land in
    *     `smallparts/` (state SMALL_PART, ref VIInfo.h:41-49) and search()
    *     brute-forces them exactly, so tiny tail parts never pay graph
    *     construction while staying searchable.
    *  1. Every other part builds its graph in its own task, seeded
    *     `42 + part id`, and appends its rows — encoded by `quantizer`
    *     when there is one — under `graph/part_id=N/`.
    *  1. The written parts register their segments (the
    *     `system.vector_index_segments` analog).
    */
  private def writeParts(
      spark: SparkSession,
      rows: Dataset[(Long, Array[Float])],
      indexDir: String,
      indexName: String,
      firstPartId: Int,
      quantizer: Option[Quantizer],
      metric: String,
      m: Int,
      efConstruction: Int,
      minRowsToBuild: Long): Written = {
    import spark.implicits._
    val gated = minRowsToBuild > 0L
    val parted = if (gated) rows.persist() else rows
    val small: Map[Int, Long] =
      if (!gated) Map.empty
      else parted.rdd.mapPartitionsWithIndex { (i, it) =>
        Iterator.single((firstPartId + i) -> it.size.toLong)
      }.collect().filter { case (_, n) => n > 0 && n < minRowsToBuild }.toMap
    val bcSmall = spark.sparkContext.broadcast(small.keySet)
    // write smallparts/ only when a part actually fell under the gate —
    // an empty-but-present dir would make every later search() union a
    // pointless empty brute-force leg (extra scan + job per query)
    if (small.nonEmpty) {
      parted.mapPartitions { iter =>
        val pid = TaskContext.getPartitionId() + firstPartId
        if (bcSmall.value.contains(pid)) iter.map { case (id, v) => (pid, id, v) }
        else Iterator.empty
      }.toDF("part_id", "id", "vec")
        .write.mode("append").parquet(s"$indexDir/smallparts")
    }
    val graphs = parted.mapPartitions { iter =>
      val pid = TaskContext.getPartitionId() + firstPartId
      if (bcSmall.value.contains(pid)) Iterator.empty
      else {
        val b = new Builder(metric, m, efConstruction, seed = 42L + pid)
        iter.foreach { case (id, v) => b.insert(id, v) }
        b.rows(pid)
      }
    }
    val out = quantizer match {
      case Some(q) =>
        val bcQ = spark.sparkContext.broadcast(q)
        graphs.map(r => (r.part_id, r.node_idx, r.id, bcQ.value.encode(r.vec), r.neighbors))
          .toDF("part_id", "node_idx", "id", "qvec", "neighbors")
      case None => graphs.toDF()
    }
    out.write.mode("append").partitionBy("part_id").parquet(s"$indexDir/graph")
    if (gated) parted.unpersist(blocking = false)
    // an index where EVERY part fell under the gate has no part_id= dir —
    // legal; search() brute-forces smallparts/ alone
    val built = spark.read.schema(PartIdSchema).parquet(s"$indexDir/graph")
      .filter(col("part_id") >= firstPartId)
      .groupBy(col("part_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    built.foreach { case (pid, n) =>
      IvfIndex.Catalog.registerSegment(IvfIndex.SegmentEntry(indexName, pid, "BUILT", n))
    }
    small.toSeq.sorted.foreach { case (pid, n) =>
      IvfIndex.Catalog.registerSegment(IvfIndex.SegmentEntry(indexName, pid, "SMALL_PART", n))
    }
    Written(built.map(_._2).sum + small.values.sum, built.length, small.size)
  }

  /** Graph row as stored inside a `part_id=` directory (the partition
    * column lives in the directory name, not the file).
    */
  case class GraphNode(node_idx: Int, id: Long,
      vec: Array[Float], neighbors: Seq[Seq[Int]])

  /** Conservative heap footprint of a loaded graph: primitive payloads
    * (id longs, vector floats, adjacency ints) plus ~56 B/node of array
    * object headers — good enough to budget eviction; exactness is not
    * required, only monotonicity with real footprint.
    */
  private def graphFootprint(g: Graph): Long = {
    var bytes = 16L + g.ids.length.toLong * (8L + 56L)
    var i = 0
    while (i < g.vecs.length) {
      bytes += g.vecs(i).length.toLong * 4L
      val layers = g.neighbors(i)
      var l = 0
      while (l < layers.length) { bytes += 16L + layers(l).length.toLong * 4L; l += 1 }
      i += 1
    }
    bytes
  }

  /** Test hook: drop every cached graph of one index dir — simulates a
    * budget eviction so specs can pin that reload-from-artifact returns
    * identical results.
    */
  private[graft] def evictGraphsForTest(indexDir: String): Unit =
    graphCache.invalidatePrefix(s"$indexDir#")

  private[graft] def cachedGraphCount: Int = graphCache.size

  private def loadGraph(key: String, rows: Iterator[GraphNode], metric: String): Graph =
    graphCache.getOrLoad(key) {
      val sorted = rows.toArray.sortBy(_.node_idx)
      val ids = sorted.map(_.id)
      val vecs = sorted.map(_.vec)
      val nbrs = sorted.map(_.neighbors.map(_.toArray).toArray)
      val entry = if (nbrs.isEmpty) 0 else nbrs.zipWithIndex.maxBy(_._1.length)._2
      new Graph(ids, vecs, nbrs, entry, metric)
    }(graphFootprint)

  // Explicit read schemas: a schema-less spark.read.parquet runs a
  // footer-inference job — with these, defining the per-part scans is
  // entirely job-free (required by the no-job-at-plan-time contract of
  // TopKSearchRewrite).
  private val GraphSchemaFlat = org.apache.spark.sql.types.StructType.fromDDL(
    "node_idx INT, id BIGINT, vec ARRAY<FLOAT>, neighbors ARRAY<ARRAY<INT>>")
  private val GraphSchemaQuant = org.apache.spark.sql.types.StructType.fromDDL(
    "node_idx INT, id BIGINT, qvec BINARY, neighbors ARRAY<ARRAY<INT>>")
  private val SmallPartsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "part_id INT, id BIGINT, vec ARRAY<FLOAT>")
  private val PartIdSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "node_idx INT, part_id INT")

  /** What a search (or an append) needs from one index dir: its metadata,
    * its graph parts `(part id, dir)`, its small-parts dir when one exists,
    * and the stored quantizer of a quantized graph, whose decoder runs once
    * per part at graph-load time.
    */
  private final case class Layout(
      art: IndexArtifact.Artifact[Meta],
      parts: Seq[(Int, String)],
      small: Option[String],
      quantizer: Option[Quantizer]) {
    def graphKey(pid: Int): String = s"${art.dir}#$pid@${art.buildId}"
    def smallRows(spark: SparkSession): Option[DataFrame] =
      small.map(spark.read.schema(SmallPartsSchema).parquet(_))
  }

  private def layout(spark: SparkSession, indexDir: String): Layout = {
    val art = IndexArtifact.read(indexDir, classOf[Meta])
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/graph")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("part_id="))
      .map(st => (st.getPath.getName.stripPrefix("part_id=").toInt, st.getPath.toString))
    val small = new org.apache.hadoop.fs.Path(s"$indexDir/smallparts")
    Layout(art, parts, Some(small.toString).filter(_ => fs.exists(small)),
      storedQuantizer(spark, art))
  }

  private def searchLayout(spark: SparkSession, indexDir: String): Layout = {
    val l = layout(spark, indexDir)
    require(l.parts.nonEmpty || l.small.nonEmpty,
      s"no graph partitions or small parts under $indexDir")
    l
  }

  /** One single-task scan per graph part (`coalesce(1)` — a narrow
    * dependency, no Exchange) running `f(graphKey, nodes)` inside the
    * part's task. Quantized rows decode lazily, so only a graph-cache miss
    * pays for decoding.
    */
  private def mapParts[T: Encoder](spark: SparkSession, l: Layout)(
      f: (String, Iterator[GraphNode]) => Iterator[T]): Seq[Dataset[T]] = {
    import spark.implicits._
    l.parts.map { case (pid, path) =>
      val key = l.graphKey(pid)
      l.quantizer match {
        case Some(qz) =>
          spark.read.schema(GraphSchemaQuant).parquet(path)
            .select(col("node_idx"), col("id"), col("qvec"), col("neighbors"))
            .as[(Int, Long, Array[Byte], Seq[Seq[Int]])]
            .coalesce(1)
            .mapPartitions(rows => f(key, rows.map { case (ni, id, codes, nbrs) =>
              GraphNode(ni, id, qz.decode(codes), nbrs)
            }))
        case None =>
          spark.read.schema(GraphSchemaFlat).parquet(path)
            .select(col("node_idx"), col("id"), col("vec"), col("neighbors"))
            .as[GraphNode]
            .coalesce(1)
            .mapPartitions(rows => f(key, rows))
      }
    }
  }

  /** The graph leg: `f` runs against each part's graph inside the part's
    * single-task scan ([[mapParts]]); the parts' rows are unioned and
    * named `cols`. None when every part fell under the min-rows gate.
    */
  private def graphLeg[T: Encoder](spark: SparkSession, l: Layout, metric: String,
      cols: String*)(f: Graph => Iterator[T]): Option[DataFrame] = {
    val perPart = mapParts(spark, l)((key, rows) => f(loadGraph(key, rows, metric)))
    if (perPart.isEmpty) None else Some(perPart.reduce(_ union _).toDF(cols: _*))
  }

  /** The small-part leg: SMALL_PART segments (parts under
    * min_rows_to_build_vector_index at write time) hold raw vectors in
    * `smallparts/` and are brute-forced exactly — the reference's behavior
    * for index-less parts. Rows keep their columns plus `d`, scored against
    * one literal query (`Left`) or, per `query_idx`, a broadcast frame of
    * the batch (`Right`, tiny by the gate's definition); `accept` keeps
    * only its ids through a lazy semi-join. Callers cut it.
    */
  private def smallLeg(spark: SparkSession, l: Layout, metric: String,
      query: Either[Array[Float], Seq[Seq[Float]]],
      accept: Option[DataFrame] = None): Option[DataFrame] =
    l.smallRows(spark).map { rows =>
      val kept = accept.fold(rows)(rows.join(_, Seq("id"), "left_semi"))
      val (scored, qv) = query match {
        case Left(q) => (kept, typedLit(q.toSeq))
        case Right(qs) =>
          val qDf = spark.createDataFrame(qs.zipWithIndex.map { case (v, i) => (i, v) })
            .toDF("query_idx", "__qv")
          (kept.crossJoin(broadcast(qDf)), col("__qv"))
      }
      scored.withColumn("d", graft.functions.distances.distance(metric)(col("vec"), qv))
    }

  /** The union of the legs an index has ([[searchLayout]] requires one). */
  private def unionLegs(legs: Option[DataFrame]*): DataFrame =
    legs.flatten.reduce(_ unionAll _)

  /** ANN search across all per-partition graphs + global top-K merge.
    *
    * Plan shape (the 100 TB property): each `part_id=` directory is read
    * as its own single-task scan (`coalesce(1)` — a narrow dependency, NO
    * Exchange), the graph search runs `mapPartitions`-style inside that
    * task against the per-JVM graph cache, and each part emits at most k
    * rows; the union of parts feeds the usual TakeOrderedAndProject merge.
    * The previous shape (`groupByKey(part_id)`) shuffled every graph row
    * (id + vector + adjacency) on every query — more I/O than brute force.
    * A filtered search is [[searchWithAcceptDf]].
    */
  def search(
      spark: SparkSession,
      indexDir: String,
      qvec: Seq[Float],
      k: Int,
      ef: Int = 64,
      metric: String = "l2"): DataFrame = {
    import spark.implicits._
    val q = qvec.toArray
    val l = searchLayout(spark, indexDir)
    unionLegs(
      graphLeg(spark, l, metric, "id", "d")(_.search(q, k, ef).iterator),
      smallLeg(spark, l, metric, Left(q))
        .map(_.select(col("id"), col("d")).orderBy(col("d"), col("id")).limit(k)))
      .orderBy(col("d"), col("id"))
      .limit(k)
  }

  /** Replay-oracle export: the union of every part's layer-0 ef-beam
    * (each part's pre-truncation candidate pool, [[Graph.searchPool]]),
    * plus ALL small-part rows (they are brute-forced exactly, so every
    * one is a "candidate"). Emits `(id, d, vec)` where `vec` is the
    * STORED point (dequantized codes for HNSWSQ/HNSWPQ) — quantized
    * replay oracles recompute distances from it. The global top-K over
    * this pool equals [[search]]'s merged result: search takes each
    * part's top-k from the same beam by the same `(d, id)` order, and an
    * element outside a part's top-k has k pool elements ahead of it, so
    * it can never enter the global top-k.
    *
    * Verification side channel only (driver collects it into DuckDB
    * VALUES); never on the engine's own search path.
    */
  def candidatePool(
      spark: SparkSession,
      indexDir: String,
      qvec: Seq[Float],
      k: Int,
      ef: Int,
      metric: String = "l2"): DataFrame = {
    import spark.implicits._
    val q = qvec.toArray
    val l = searchLayout(spark, indexDir)
    unionLegs(
      graphLeg(spark, l, metric, "id", "d", "vec")(_.searchPool(q, k, ef).iterator),
      smallLeg(spark, l, metric, Left(q)).map(_.select(col("id"), col("d"), col("vec"))))
  }

  /** Stage-1 candidate ids of [[searchTwoStage]] — the quantized graph's
    * decision set before the exact re-rank (same export role as
    * [[SqIndex.stage1Candidates]]/[[PqIndex.stage1Candidates]]).
    */
  def stage1Candidates(
      spark: SparkSession,
      indexDir: String,
      qvec: Seq[Float],
      numReorder: Int,
      ef: Int,
      metric: String = "l2"): DataFrame =
    search(spark, indexDir, qvec, numReorder, math.max(ef, numReorder), metric)
      .select(col("id"))

  /** Filtered ANN search whose accept set is computed AT EXECUTION TIME —
    * the Spark analog of the reference's per-part `performPrefilter`
    * bitmap, which is built during query execution, not planning
    * (`MergeTreeSelectWithHybridSearchProcessor.h:117-129`).
    *
    * `acceptDf` is a lazy single-column (`id: long`) frame of every
    * qualifying id (typically `rel.filter(where).select(id)` — filters and
    * pruning push into its parquet scan). Nothing here runs a job: the
    * mask is a shuffle stage of the SAME job DAG, zipped (narrow, no
    * shuffle of graph rows) into each per-part graph task:
    *
    *   mask     = sorted accept ids, capped at maxIds+1 (RDD stage)
    *   per part = zipPartitions(graph-part, mask) → regime chosen in-task
    *
    * Three execution-time regimes, decided per task from the ACTUAL mask:
    *  - **graph+mask**: mask complete and large enough for the capped ef
    *    pool → masked traversal, ef scaled by measured selectivity;
    *  - **exact-over-bitmap**: mask smaller than the candidate pool (or
    *    ef would blow the cap) → score only accepted nodes, no traversal
    *    — exact, and cheapest exactly when the filter is selective;
    *  - **overflow** (> `maxIds` qualifying — filter not selective): graph
    *    tasks emit nothing; a runtime-gated branch (an empty-or-everything
    *    cross join against the mask row) contributes ALL qualifying ids as
    *    candidates, so the caller's exact re-rank stays exact. Cost
    *    degrades to the brute scan an unselective filter pays anyway.
    *
    * Emits candidate `(id, d)` rows — callers re-rank exactly and cut to
    * k; per-part emission is bounded by `numCand` except in overflow.
    */
  def searchWithAcceptDf(
      spark: SparkSession,
      indexDir: String,
      qvec: Seq[Float],
      numCand: Int,
      efCap: Int,
      metric: String,
      acceptDf: DataFrame,
      maxIds: Int,
      nRowsTotal: Long): DataFrame = {
    import spark.implicits._
    val q = qvec.toArray
    val l = searchLayout(spark, indexDir)
    val cap = maxIds
    // The sorted accept-id mask, built in pure (lazy) RDD ops — an
    // SQL-side aggregation would let AQE materialize its shuffle stage
    // the moment `.rdd` is taken, i.e. a job DURING PLANNING, which is
    // exactly what this path exists to avoid. Per-partition capping at
    // cap+1 bounds what any task materializes; the cumulative cap
    // preserves the overflow signal (> cap ⇒ filter not selective).
    // The repartition(1) is a real shuffle boundary: the accept scan's
    // map stage runs once per query and is REUSED by every per-part zip
    // below (same shuffle dependency object).
    val maskRdd: org.apache.spark.rdd.RDD[Array[Long]] = acceptDf.rdd
      .mapPartitions(it =>
        Iterator.single(it.map(_.getLong(0)).take(cap + 1).toArray))
      .repartition(1)
      .mapPartitions { arrs =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        arrs.foreach { a =>
          if (buf.length <= cap) buf ++= a.iterator.take(cap + 1 - buf.length)
        }
        val m = buf.toArray
        java.util.Arrays.sort(m)
        Iterator.single(m)
      }
    val nodes = mapParts(spark, l)((_, rows) => rows)
    val perPart = l.parts.zip(nodes).map { case ((pid, _), part) =>
      val key = l.graphKey(pid)
      part.rdd.zipPartitions(maskRdd) { (rows, mit) =>
        val mask = if (mit.hasNext) mit.next() else Array.empty[Long]
        val g = loadGraph(key, rows, metric)
        if (mask.length > cap) {
          // overflow: mask truncated → cannot filter exactly here; the
          // runtime-gated overflow branch below contributes ALL
          // qualifying ids instead, so this task emits nothing
          Iterator.empty
        } else if (mask.isEmpty) Iterator.empty
        else {
          val sel = mask.length.toDouble / math.max(1L, nRowsTotal)
          val efNeeded = math.max(math.max(64, 2 * numCand),
            math.ceil(2.0 * numCand / math.max(sel, 1e-9)).toInt)
          if (mask.length < numCand || efNeeded > efCap) {
            // exact-over-bitmap: selective filter → score accepted only
            g.bruteScores(q, mask).toSeq
              .sortBy(x => (x._2, x._1)).take(numCand).iterator
          } else {
            g.search(q, numCand, math.min(efCap, efNeeded),
              id => java.util.Arrays.binarySearch(mask, id) >= 0).iterator
          }
        }
      }
    }
    val graphHits: Option[DataFrame] =
      if (perPart.isEmpty) None
      else Some(spark.createDataset(spark.sparkContext.union(perPart))
        .toDF("id", "d"))
    // the small parts take their qualifying ids from a semi-join against
    // the FULL accept frame (no cap needed: a join never materializes the
    // set)
    val smallHits = smallLeg(spark, l, metric, Left(q), Some(acceptDf))
      .map(_.select(col("id"), col("d")).orderBy(col("d"), col("id")).limit(numCand))
    // overflow branch: when (and only when) the accept set overflowed
    // the mask cap, ALL qualifying ids become candidates — the
    // empty-or-everything gate is a runtime cross join against a lazy
    // count row, so the static plan covers both regimes without a
    // plan-time decision
    val overflowGate = acceptDf.agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > cap).select(lit(1).as("__overflow"))
    val overflowIds = acceptDf.crossJoin(overflowGate)
      .select(col("id"), lit(Float.NaN).as("d"))
    unionLegs(graphHits, smallHits, Some(overflowIds))
  }

  /** `batch_distance()` THROUGH the per-part graphs: each part's task
    * loads (or takes from the per-JVM cache) its graph ONCE and runs
    * EVERY query against it — one narrow single-task scan per part
    * regardless of batch size, the same amortization the reference's
    * batch path gets from its per-part index instances. Emits
    * `(query_idx, id, d)`; the per-query top-K cut reuses the same
    * heap-prune + window as the brute/IVF batch paths, so the plan
    * stays `TakeOrdered`-shaped per query with no graph shuffle.
    */
  def batchSearch(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[Seq[Float]],
      k: Int,
      ef: Int = 64,
      metric: String = "l2",
      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "batchSearch: empty query batch")
    val qArr = queries.map(_.toArray).toArray
    val l = searchLayout(spark, indexDir)
    val graphHits = graphLeg(spark, l, metric, "query_idx", "id", "d") { g =>
      qArr.iterator.zipWithIndex.flatMap { case (q, qi) =>
        g.search(q, k, ef).iterator.map { case (id, d) => (qi, id, d) }
      }
    }
    val smallHits = smallLeg(spark, l, metric, Right(queries))
      .map(_.select(col("query_idx"), col("id"), col("d")))
    VectorSearch.perQueryTopK(unionLegs(graphHits, smallHits), k, "d",
      VectorSearch.isDescending(metric), tieBreak)
  }

  /** Two-stage search for quantized graphs (HNSWSQ/HNSWPQ): the graph
    * ranks `numReorder` candidates on dequantized points
    * ([[stage1Candidates]]), then [[VectorSearch.rerank]] re-ranks the
    * survivors with exact float distances from `source` — the same
    * recall-repair shape as [[SqIndex.search]]/[[PqIndex.search]].
    * Essential for PQ, whose reconstruction error is too coarse for
    * direct top-K.
    */
  def searchTwoStage(
      spark: SparkSession,
      indexDir: String,
      source: DataFrame,
      idCol: String,
      vecCol: String,
      qvec: Seq[Float],
      k: Int,
      numReorder: Int = 100,
      ef: Int = 128,
      metric: String = "l2",
      distName: String = "d",
      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    VectorSearch.rerank(source, idCol, vecCol,
      stage1Candidates(spark, indexDir, qvec, numReorder, ef, metric)
        .withColumnRenamed("id", idCol),
      qvec, k, metric, None, distName, tieBreak)
  }
}
