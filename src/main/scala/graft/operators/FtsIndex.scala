package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.text

/** Persisted full-text (inverted) index — the Spark realization of the
  * reference's FTS index (`INDEX inv_idx(doc) TYPE fts`,
  * `/root/reference/src/Storages/MergeTree/MergeTreeIndexTantivy.cpp`,
  * store `TantivyIndexStore.cpp`, TVF
  * `src/VectorIndex/TableFunctions/TableFunctionFtsIndex.cpp`).
  *
  * Layout under `indexDir` (plain parquet + JSON):
  *   - `postings/` — one row per (term, doc): `(term, doc_id, dl, tf,
  *     positions)`,
  *     hive-partitioned by `bucket = floorMod(term.hashCode, nBuckets)` so
  *     a query's terms prune to ≤ |terms| bucket directories at the FILE
  *     level. A term's postings live entirely in its bucket, so per-term
  *     document frequency computed from the pruned read is table-global.
  *   - `meta.json` — [[IndexArtifact]] envelope (version, type, buildId,
  *     status) around [[Meta]]: table-global N (doc count), avgdl and the
  *     token total, stored at build time and updated by appends (the
  *     reference ships exactly these to every node,
  *     `collectStatisticForBM25Calculation`, `CommonUtils.h:107`).
  *
  * Query cost: ≤ |terms| bucket partitions (tiny fraction of the
  * postings), read twice inside one plan (per-term df, then scoring) —
  * versus the index-less path's two full corpus scans per query; no job
  * runs while the search is built. Build cost: `build` is an `append`
  * into an empty index — one stats pass (N, token total) and one
  * explode/groupBy shuffle writing the postings (the classic distributed
  * inverted-index build, map-side combined).
  *
  * Scoring is identical to [[TextSearch]] (Tantivy BM25, k1=1.2, b=0.75)
  * so the indexed path reproduces the non-indexed results exactly.
  */
object FtsIndex {

  /** `totalDl` is the exact token total of the indexed documents, which
    * appends add to; `avgDl` is `totalDl / nDocs`.
    */
  case class Meta(nDocs: Long, avgDl: Double, nBuckets: Int, textCol: String,
      totalDl: Double)

  case class Entry(name: String, indexDir: String, sourcePath: String,
      textCol: String, status: String, nDocs: Long)

  /** system.fts_indices analog (`StorageFtsIndex.cpp`). */
  object Catalog {
    private val entries = TrieMap.empty[String, Entry]
    def register(e: Entry): Unit = entries.put(e.name, e)
    def drop(name: String): Unit = entries.remove(name)
    def lookup(name: String): Option[Entry] = entries.get(name)
    def forSource(path: String, textCol: String): Option[Entry] =
      entries.values.find(e =>
        e.sourcePath == path && e.textCol == textCol && e.status == "BUILT")
    def asDataFrame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      entries.values.toSeq.toDF()
        .select("name", "indexDir", "sourcePath", "textCol", "status", "nDocs")
    }
  }

  /** Bucket routing must agree between build (executor) and search
    * (driver); `String.hashCode` is specified by the JLS, so it is stable
    * across JVMs.
    */
  def bucketOf(term: String, nBuckets: Int): Int =
    math.floorMod(term.hashCode, nBuckets)

  /** Build the inverted index: an [[append]] into an empty index. The
    * old postings go, an empty [[Meta]] is written under a new build id,
    * and the append writes every document's postings and the stats.
    */
  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      indexName: String,
      indexDir: String,
      nBuckets: Int = 64,
      sourcePath: String = ""): Entry = {
    Catalog.register(Entry(indexName, indexDir, sourcePath, textCol, "BUILDING", 0L))
    val postings = new org.apache.hadoop.fs.Path(indexDir, "postings")
    postings.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(postings, true)
    IndexArtifact.write(indexDir, "FTS", Meta(0L, 0.0, nBuckets, textCol, 0.0))
    val meta = append(spark, df, idCol, textCol, indexDir)
    val entry = Entry(indexName, indexDir, sourcePath, textCol, "BUILT", meta.nDocs)
    Catalog.register(entry)
    entry
  }

  /** Incremental maintenance — the reference's insert-time index update
    * (`VIBuilderUpdater.cpp` lifecycle: new parts get indexed without
    * rebuilding old ones), and the one postings writer. New documents'
    * postings are APPENDED into the bucket directories (immutable-file
    * semantics: new parquet files only) and the global stats are updated
    * incrementally; per-term df at query time comes from the pruned
    * read, which lists the bucket directories on every query, so
    * appended postings participate immediately. Callers must not
    * re-append existing doc ids.
    *
    * Postings rows carry POSITIONAL information: `(term, doc_id, dl, tf,
    * positions[], bucket)` — positions are the 0-based token offsets of
    * the term in the document (Tantivy's positional postings), enabling
    * index-side phrase matching.
    */
  def append(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String): Meta = {
    val art = IndexArtifact.read(indexDir, classOf[Meta])
    val meta = art.meta
    val base = df
      .select(col(idCol).cast("long").as("doc_id"),
        text.tokenize(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    val row = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("tdl")).head()
    val nNew = row.getAs[Long]("n")
    val tdlNew = Option(row.get(1)).map(_.toString.toDouble).getOrElse(0.0)
    if (nNew == 0) return meta

    val nb = meta.nBuckets
    val bucketU = udf((t: String) => bucketOf(t, nb))
    base
      .select(col("doc_id"), col("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bucket", bucketU(col("term")))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$indexDir/postings")

    val totalDl = meta.totalDl + tdlNew
    val nDocs = meta.nDocs + nNew
    IndexArtifact.write(indexDir, art.indexType,
      meta.copy(nDocs = nDocs, avgDl = totalDl / nDocs, totalDl = totalDl),
      art.buildId).meta
  }

  /** The index statistics persisted in `indexDir/meta.json`. */
  private[graft] def loadMeta(indexDir: String): Meta =
    IndexArtifact.read(indexDir, classOf[Meta]).meta

  /** The postings in the buckets of `terms` — the one pruned read of
    * `postings/` (an empty frame when none of those buckets exists).
    */
  private def termBuckets(spark: SparkSession, indexDir: String, meta: Meta,
      terms: Seq[String]): DataFrame =
    ProbedPartitions.read(spark, s"$indexDir/postings", "bucket",
      terms.map(bucketOf(_, meta.nBuckets)).distinct)

  private def noDocs(spark: SparkSession, scoreName: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Double)].toDF("doc_id", scoreName)
  }

  /** BM25 top-K against the postings index. One plan, no driver job:
    * the pruned postings read lists only the query terms' bucket
    * directories and [[TextSearch.scorePostings]] scores them (per-term
    * df aggregated in the plan and broadcast back — bucket partitioning
    * makes it table-global — then one per-doc hash aggregation); the
    * top-K is the usual TakeOrderedAndProject. Returns `(doc_id,
    * <scoreName>)`.
    */
  def search(
      spark: SparkSession,
      indexDir: String,
      query: String,
      k: Int,
      operator: String = "OR",
      scoreName: String = "bm25_score",
      tieBreak: Seq[Column] = Nil,
      deletedIds: Option[DataFrame] = None): DataFrame = {
    val meta = loadMeta(indexDir)
    val terms = TextSearch.queryTerms(query)
    // empty index (built before any append) has no postings files at all
    if (terms.isEmpty || meta.nDocs == 0) return noDocs(spark, scoreName)

    val posts = termBuckets(spark, indexDir, meta, terms).filter(col("term").isin(terms: _*))
    // AND: every (distinct) query term posts for the doc; a term missing
    // from the index matches no doc
    val matched = TextSearch.scorePostings(posts, "doc_id", meta.nDocs, meta.avgDl,
      scoreName, if (TextSearch.isAnd(operator)) terms.size else 0)
    // Lightweight-DELETE mask (reference 00040_mqvs_hybrid_search_with_lwd
    // over a part WITH a Tantivy index): deleted rows vanish from the
    // RESULT while the index-resident statistics (N, avgdl, df) keep
    // their built values until a merge rebuilds the part — the direct
    // path (TextSearch over the masked frame) is the post-merge twin
    // that recomputes stats over survivors. Anti-join BEFORE the top-K
    // cut so k survivors return.
    val masked = deletedIds match {
      case Some(del) =>
        matched.join(broadcast(del.select(col(del.columns.head).cast("long")
          .as("doc_id"))), Seq("doc_id"), "left_anti")
      case None => matched
    }
    masked.orderBy(col(scoreName).desc +: tieBreak: _*).limit(k)
  }

  /** `enable_nlq` search against the positional postings index — the
    * index-side twin of [[TextSearch.textSearchNlq]]. Phrases resolve by
    * chaining per-term position lists (`valid ∩ (positions - 1)` folds,
    * Tantivy-style) over the pruned postings; `+must`/`-mustNot` are
    * semi/anti joins on per-term doc sets, so a must or phrase term
    * without postings empties the result; scoring is
    * [[TextSearch.scorePostings]] over the scored terms. One
    * pruned-bucket read per query, no corpus access, no job while it is
    * built.
    */
  def searchNlq(
      spark: SparkSession,
      indexDir: String,
      query: String,
      k: Int,
      scoreName: String = "bm25_score",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val meta = loadMeta(indexDir)
    val nlq = TextSearch.parseNlq(query)
    val scored = nlq.scoredTerms
    val allTerms = (scored ++ nlq.mustNot).distinct
    if (scored.isEmpty || meta.nDocs == 0) return noDocs(spark, scoreName)

    // several lazy passes over the pruned postings — each is a
    // partition-pruned scan of ≤ |terms| buckets, no caching needed
    val posts = termBuckets(spark, indexDir, meta, allTerms)
      .filter(col("term").isin(allTerms: _*))

    def docsWith(terms: Seq[String], requireAll: Boolean): Option[DataFrame] =
      if (terms.isEmpty) None
      else if (requireAll) Some(
        posts.filter(col("term").isin(terms: _*))
          .groupBy(col("doc_id")).agg(countDistinct(col("term")).as("__nt"))
          .filter(col("__nt") === terms.size).select("doc_id"))
      else Some(
        posts.filter(col("term").isin(terms: _*)).select("doc_id").distinct())

    /** Docs containing the phrase: fold `valid = (valid + 1) ∩ pos_i`. */
    def phraseDocs(phrase: Seq[String]): DataFrame = {
      var cur = posts.filter(col("term") === phrase.head)
        .select(col("doc_id"), col("positions").as("__valid"))
      phrase.tail.foreach { t =>
        val nxt = posts.filter(col("term") === t)
          .select(col("doc_id"), col("positions").as("__p2"))
        cur = cur.join(nxt, "doc_id")
          .withColumn("__valid",
            array_intersect(transform(col("__valid"), x => x + 1), col("__p2")))
          .filter(size(col("__valid")) > 0)
          .select(col("doc_id"), col("__valid"))
      }
      cur.select("doc_id")
    }

    val constraints =
      nlq.phrases.map(phraseDocs) ++
        docsWith(nlq.must, requireAll = true).toSeq ++
        (if (nlq.must.isEmpty && nlq.phrases.isEmpty)
          docsWith(nlq.should, requireAll = false).toSeq
        else Nil)
    var matched = constraints.reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
    docsWith(nlq.mustNot, requireAll = false).foreach { banned =>
      matched = matched.join(banned, Seq("doc_id"), "left_anti")
    }

    TextSearch.scorePostings(posts.filter(col("term").isin(scored: _*)), "doc_id",
        meta.nDocs, meta.avgDl, scoreName, only = Some(matched))
      .orderBy(col(scoreName).desc +: tieBreak: _*)
      .limit(k)
  }

  /** `fts_index(table)` TVF analog: per-term statistics straight off the
    * postings (`TableFunctionFtsIndex.cpp`, `StorageFtsIndex.cpp:1-217`).
    */
  def termStats(spark: SparkSession, indexDir: String): DataFrame =
    // every bucket= partition, so Spark's partition discovery reads it
    spark.read.parquet(s"$indexDir/postings")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("doc_freq"), sum(col("tf")).cast("long").as("total_tf"))

  /** `ftsIndex(table, index, query)` TVF with the reference's inspection
    * schema (`StorageFtsIndex.cpp:37-61`): one row per index part — here
    * the postings BUCKET, our per-part unit — carrying
    * `total_docs: Long`, `field_tokens: [(field_id, total_tokens)]` and
    * `terms_freq: [(term_str, field_id, doc_freq)]` restricted to the
    * query's terms — exactly the statistics the reference ships to its
    * distributed BM25 scorer (`collectStatisticForBM25Calculation`). One
    * text field per index here, so field_id is always 0.
    *
    * The scan is bucket-pruned to the query terms' partitions (the same
    * file-level pruning the search path uses).
    */
  def ftsIndexInspect(
      spark: SparkSession,
      indexDir: String,
      query: String): DataFrame = {
    val meta = loadMeta(indexDir)
    val terms = TextSearch.queryTerms(query)
    require(terms.nonEmpty, s"fts_index: no terms in query '$query'")
    val posts = termBuckets(spark, indexDir, meta, terms)
    val termFreq = posts
      .filter(col("term").isin(terms: _*))
      .groupBy(col("bucket"), col("term"))
      .agg(count(lit(1)).cast("long").as("doc_freq"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(
        col("term").as("term_str"),
        lit(0).as("field_id"),
        col("doc_freq")))).as("terms_freq"))
    val emptyTf = array().cast(
      "array<struct<term_str:string,field_id:int,doc_freq:bigint>>")
    posts
      .groupBy(col("bucket"))
      .agg(sum(col("tf")).cast("long").as("__tt"))
      .join(termFreq, Seq("bucket"), "left")
      .select(col("bucket").as("part"),
        lit(meta.nDocs).as("total_docs"),
        array(struct(lit(0).as("field_id"), col("__tt").as("total_tokens")))
          .as("field_tokens"),
        coalesce(col("terms_freq"), emptyTf).as("terms_freq"))
  }
}
