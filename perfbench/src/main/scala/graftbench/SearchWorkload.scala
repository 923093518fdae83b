package graftbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Graft
import graft.operators.{FtsIndex, HnswIndex, HybridSearch, TextSearch, VectorSearch}

/** `search`: a seeded stream of single top-10 requests from two clients
  * in a closed loop. The families share one request mix: brute force
  * through `VectorSearch.topK`, IVF and HNSW through SQL `ORDER BY
  * l2_distance(...) LIMIT 10` (routed to the index by the top-K rewrite),
  * FTS through `FtsIndex.search` and indexed hybrid RSF. FTS and hybrid
  * share one FTS index over the sf0.1 documents that have an embedding.
  * Every index is built during set-up.
  */
final class SearchWorkload(seed: Long) extends Workload {
  val clients = 2
  private val K = 10
  private val families = IndexedSeq("brute", "ivf", "hnsw", "fts", "hybrid")
  private val corpus = new VectorCorpus(seed, SearchWorkload.Rows, SearchWorkload.Dim,
    SearchWorkload.Clusters, SearchWorkload.Spread)
  private val queryVecs = corpus.queries(512, salt = 1)
  // (family, request) pairs in rounds of `PerFamily` requests of every
  // family, shuffled. FTS and hybrid requests come from pools, so their
  // exact references are computed once per request; a round uses every
  // pool entry equally often, so the mix of cheap and costly requests
  // is the same in every round.
  private val PerFamily = 12
  private val FtsPool = 12
  private val HybridPool = 6
  val round: Int = PerFamily * families.length
  private val stream: Array[(Int, Int)] = {
    val r = new Random(seed + 7)
    Array.tabulate(64) { k =>
      r.shuffle(Seq.tabulate(round) { j =>
        (j % families.length, (k * PerFamily + j / families.length) % queryVecs.length)
      })
    }.flatten
  }

  private var bruteDf: DataFrame = _
  private var docs: DataFrame = _
  private var ftsQueries: IndexedSeq[String] = _
  private var hybridQueries: IndexedSeq[(Seq[Float], String)] = _
  private var dirs: Map[String, String] = _
  private val recall = scala.collection.concurrent.TrieMap.empty[String, Vector[Double]]

  def setup(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    b.setupStep("inputs") {
      // The table arrives from one writer per core and is compacted
      // before indexing, as parts are merged before their index is built.
      corpus.vectors.indices.map(i => (i.toLong, corpus.vectors(i).toSeq))
        .toDF("id", "vec").repartition(b.cpus)
        .write.mode("overwrite").parquet(b.dir("corpus_brute"))
    }
    val compacted = b.setupStep("sources.compact")(Graft.compact(spark, b.dir("corpus_brute")))
    b.extra("base_files") = compacted.filesAfter
    b.setupStep("inputs") {
      // Three copies: the top-K rewrite routes a query by its source path,
      // so the IVF and HNSW indexes each need their own copy and brute
      // force needs one with no index.
      for (copy <- Seq("ivf", "hnsw")) b.copyTree(b.dir("corpus_brute"), b.dir(s"corpus_$copy"))
      bruteDf = spark.read.parquet(b.dir("corpus_brute"))
      spark.read.parquet(b.dir("corpus_ivf")).createOrReplaceTempView("perf_ivf_corpus")
      spark.read.parquet(b.dir("corpus_hnsw")).createOrReplaceTempView("perf_hnsw_corpus")
      docs = spark.read.parquet(s"${b.args.data}/documents.parquet")
        .join(spark.read.parquet(s"${b.args.data}/embeddings.parquet"),
          col("doc_id") === col("vec_id"))
      val terms = new ZipfTerms(docs.select("text").as[String].collect().toSeq, seed)
      ftsQueries = IndexedSeq.fill(FtsPool)(terms.query())
      val r = new Random(seed + 11)
      val embs = docs.select("embedding").as[Seq[Float]].collect()
      hybridQueries = IndexedSeq.fill(HybridPool)(
        (embs(r.nextInt(embs.length)).map(x => x + 0.05f * r.nextGaussian().toFloat),
          terms.query()))
    }
    def qualified(d: String) = "file:" + d
    dirs = Map("ivf" -> b.dir("ivf"), "hnsw" -> b.dir("hnsw"), "fts" -> b.dir("fts"))
    b.setupStep("operators.ivf.index_build")(Graft.buildIvfIndex(spark,
      spark.table("perf_ivf_corpus"), "vec", "perf_ivf", dirs("ivf"),
      nLists = SearchWorkload.IvfLists, sourcePath = qualified(b.dir("corpus_ivf"))))
    b.setupStep("operators.hnsw.index_build")(HnswIndex.build(spark,
      spark.table("perf_hnsw_corpus"), "id", "vec", "perf_hnsw", dirs("hnsw"),
      numPartitions = Some(b.cpus), sourcePath = qualified(b.dir("corpus_hnsw"))))
    b.setupStep("operators.fts.index_build")(Graft.buildFtsIndex(spark, docs,
      "doc_id", "text", "perf_fts", dirs("fts")))
    val bytes = dirs.map { case (f, d) => f -> b.bytesUnder(d) }
    val rows = Map("ivf" -> corpus.n.toLong, "hnsw" -> corpus.n.toLong, "fts" -> docs.count())
    b.extra("index_bytes") = bytes
    b.extra("indexed_rows") = rows
    b.extra("stored_bytes_per_row") = bytes.values.sum.toDouble / rows.values.sum
  }

  /** Two requests of every family, spread over the clients. */
  def warmup(b: Bench): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    b.parallel(clients) {
      var j = next.getAndIncrement()
      while (j < 2 * families.length) {
        request(b, j % families.length, j, "warmup")
        j = next.getAndIncrement()
      }
    }
  }

  def op(b: Bench, i: Long, window: String): Unit = {
    val (f, q) = stream((i % stream.length).toInt)
    request(b, f, q, window)
  }

  private def sqlTopK(view: String, q: Array[Float]): String =
    s"""SELECT id, l2_distance(vec, array(${q.map(x => s"CAST($x AS FLOAT)").mkString(", ")})) AS d
       |FROM $view ORDER BY d, id LIMIT $K""".stripMargin

  private def ids(rows: (Seq[String], Seq[org.apache.spark.sql.Row])): Seq[Long] =
    rows._2.map(_.getLong(0))

  private def request(b: Bench, f: Int, q: Int, window: String): Unit = {
    val fam = families(f)
    val spark = b.spark
    val qv = queryVecs(q)
    def build(df: => DataFrame) = b.tracer.span(s"operators.$fam.build")(df)
    fam match {
      case "brute" =>
        b.timed("search.brute", s"v$q", window) {
          b.collect(build(VectorSearch.topK(bruteDf, col("vec"), qv.toSeq, K, "l2",
            None, "d", Seq(col("id"))).select("id", "d")))
        } { (rec, rows) =>
          rec.rows = rows._2.length
          val exact = Exact.topK(corpus.vectors, _.toLong, qv, K)
          if (!Exact.matches(ids(rows), exact, id => Exact.l2(corpus.vectors(id.toInt), qv)))
            rec.fail(s"brute ids ${ids(rows)} != exact ${exact.map(_._1)}")
        }
      case "ivf" | "hnsw" =>
        b.timed(s"search.$fam", s"v$q", window) {
          b.collect(build(spark.sql(sqlTopK(s"perf_${fam}_corpus", qv))))
        } { (rec, rows) =>
          rec.rows = rows._2.length
          if (rows._2.length != K) rec.fail(s"$fam returned ${rows._2.length} rows")
          val exact = Exact.topK(corpus.vectors, _.toLong, qv, K).map(_._1).toSet
          val r = ids(rows).count(exact.contains).toDouble / K
          if (rec.window != "warmup")
            recall.synchronized(recall(fam) = recall.getOrElse(fam, Vector.empty) :+ r)
        }
      case "fts" =>
        val text = ftsQueries(q % FtsPool)
        b.timed("search.fts", text, window) {
          b.collect(build(FtsIndex.search(spark, dirs("fts"), text, K, "OR", "bm25_score",
            Seq(col("doc_id")))))
        } { (rec, rows) =>
          rec.rows = rows._2.length
          val want = SearchWorkload.reference(("fts", text)) {
            TextSearch.textSearch(docs, col("text"), text, K, "OR", "bm25_score",
              Seq(col("doc_id"))).select("doc_id").collect().map(_.getLong(0)).toSeq
          }
          if (ids(rows) != want) rec.fail(s"fts ids ${ids(rows)} != reference $want")
        }
      case "hybrid" =>
        val (hv, text) = hybridQueries(q % HybridPool)
        b.timed("search.hybrid", s"h${q % HybridPool}", window) {
          b.collect(build(HybridSearch.hybridSearchIndexed(docs, "doc_id",
            col("embedding"), hv, text, K, dirs("fts"), "rsf", "cosine")))
        } { (rec, rows) =>
          rec.rows = rows._2.length
          val want = SearchWorkload.reference(("hybrid", s"${q % HybridPool}")) {
            HybridSearch.hybridSearch(docs, "doc_id", col("embedding"), col("text"),
              hv, text, K, "rsf", "cosine").select("doc_id").collect().map(_.getLong(0)).toSeq
          }
          if (ids(rows) != want) rec.fail(s"hybrid ids ${ids(rows)} != reference $want")
        }
    }
  }

  def finish(b: Bench): Map[String, Any] = {
    val all = recall.values.flatten
    (if (all.isEmpty) Map.empty[String, Any] else Map("recall_at_10" -> all.sum / all.size)) ++ Map(
      "recall_by_family" -> recall.map { case (f, rs) => f -> rs.sum / rs.size }.toMap,
      "corpus" -> Map("rows" -> corpus.n, "dim" -> corpus.dim,
        "clusters" -> SearchWorkload.Clusters, "spread" -> SearchWorkload.Spread,
        "ivf_lists" -> SearchWorkload.IvfLists, "fts_pool" -> FtsPool, "hybrid_pool" -> HybridPool))
  }
}

object SearchWorkload {
  val Rows = 5000
  val Dim = 64
  /** Gaussian centres (components drawn from N(0, 1)) and the standard
    * deviation around them. With σ = 1.5 a point lies about 12 from its
    * centre and centres about 11 apart, so the clusters overlap, IVF lists
    * do not line up with clusters, and the approximate indexes miss some
    * true neighbours: `recall_at_10` sits measurably below 1 and can show
    * a loss of search quality, not only total breakage.
    */
  val Clusters = 64
  val Spread = 1.5f
  val IvfLists = 64
  private val refs = new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[Long]]()
  /** Each reference answer is computed once, also under concurrent checks. */
  def reference(key: (String, String))(compute: => Seq[Long]): Seq[Long] =
    refs.computeIfAbsent(key, _ => compute)
}
