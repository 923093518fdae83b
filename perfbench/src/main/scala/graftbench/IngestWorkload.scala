package graftbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Graft
import graft.operators.{FtsIndex, HnswIndex, IvfIndex}

/** `ingest`: one client repeating write cycles on a seeded corpus. A cycle
  * appends a seeded batch to the base table and to the IVF, HNSW and FTS
  * indexes, then searches each family twice: first for a row of the new
  * batch, which must be found, then for a held-out query. Every
  * `CompactEvery`-th cycle compacts the base table.
  */
final class IngestWorkload(seed: Long) extends Workload {
  val clients = 1
  private val K = 10
  private val BaseRows = 2000
  private val BatchRows = 200
  private val CompactEvery = 2
  private val corpus = new VectorCorpus(seed, BaseRows, 64, clusters = 32, spread = 0.5f)
  private val queryVecs = corpus.queries(256, salt = 2)
  private val words = IndexedSeq("spark", "merge", "tree", "index", "vector", "search",
    "table", "part", "query", "scan", "filter", "join", "batch", "stream", "column",
    "row", "sort", "group", "hash", "window")
  private var dirs: Map[String, String] = _
  private var cycle = 0

  private def text(r: Random, extra: String): String =
    (Seq.fill(8 + r.nextInt(24))(words(r.nextInt(words.length))) :+ extra).mkString(" ")

  private def batchDf(b: Bench, c: Int): (DataFrame, Array[Array[Float]], Long, String) = {
    val spark = b.spark
    import spark.implicits._
    val vecs = corpus.batch(BatchRows, salt = c)
    val first = BaseRows.toLong + c.toLong * BatchRows
    val nonce = s"batch${seed}x$c"
    val r = new Random(seed * 17 + c)
    val df = vecs.indices.map(i => (first + i, vecs(i).toSeq, text(r, nonce)))
      .toDF("id", "vec", "text")
    (df, vecs, first, nonce)
  }

  def setup(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    dirs = Map("base" -> b.dir("base"), "ivf" -> b.dir("ivf"), "hnsw" -> b.dir("hnsw"),
      "fts" -> b.dir("fts"))
    val base = b.setupStep("inputs") {
      val r = new Random(seed + 3)
      corpus.vectors.indices.map(i => (i.toLong, corpus.vectors(i).toSeq, text(r, "base")))
        .toDF("id", "vec", "text").repartition(b.cpus)
        .write.mode("overwrite").parquet(dirs("base"))
      spark.read.parquet(dirs("base"))
    }
    b.setupStep("operators.ivf.index_build")(
      IvfIndex.build(spark, base, "vec", "ingest_ivf", dirs("ivf"), "l2"))
    b.setupStep("operators.hnsw.index_build")(HnswIndex.build(spark, base, "id", "vec",
      "ingest_hnsw", dirs("hnsw"), numPartitions = Some(b.cpus)))
    b.setupStep("operators.fts.index_build")(
      Graft.buildFtsIndex(spark, base, "id", "text", "ingest_fts", dirs("fts")))
  }

  /** One search per family; appends are measured from the first cycle on. */
  def warmup(b: Bench): Unit = {
    val q = queryVecs.last
    for (fam <- Seq("ivf", "hnsw")) search(b, fam, "warm", q, "warmup") { (rec, got) =>
      if (got.length != K) rec.fail(s"$fam returned ${got.length} rows")
    }
    b.timed("ingest.search.fts.warm", words.head, "warmup") {
      ids(b.collect(FtsIndex.search(b.spark, dirs("fts"), words.head, K, "OR", "bm25_score",
        Seq(col("doc_id")))))
    } { (rec, got) => rec.rows = got.length; if (got.length != K) rec.fail(s"fts returned $got") }
  }

  def op(b: Bench, i: Long, window: String): Unit = runCycle(b, window)

  /** One call runs a whole cycle; a round is the cycles between compactions. */
  val round: Int = CompactEvery

  private def runCycle(b: Bench, window: String): Unit = {
    val spark = b.spark
    val c = cycle
    cycle += 1
    val (batch, vecs, first, nonce) = batchDf(b, c)
    b.timed("ingest.write", s"c$c", window) {
      b.tracer.span("sources.append")(batch.write.mode("append").parquet(dirs("base")))
      b.tracer.span("operators.ivf.append")(
        IvfIndex.append(spark, batch, "ingest_ivf", dirs("ivf")))
      b.tracer.span("operators.hnsw.append")(HnswIndex.append(spark, dirs("hnsw"),
        "ingest_hnsw", batch, "id", "vec", numPartitions = Some(1)))
      b.tracer.span("operators.fts.append")(
        FtsIndex.append(spark, batch, "id", "text", dirs("fts")))
    } { (rec, _) => rec.rows = BatchRows }

    // first search of each family: a row of the new batch must come back
    val probe = new Random(seed * 7 + c).nextInt(BatchRows)
    val wantId = first + probe
    for (fam <- Seq("ivf", "hnsw")) search(b, fam, "cold", vecs(probe), window) { (rec, got) =>
      if (!got.headOption.contains(wantId))
        rec.fail(s"$fam: new row $wantId not first after append, got $got")
    }
    b.timed("ingest.search.fts.cold", nonce, window) {
      ids(b.collect(b.tracer.span("operators.fts.build")(
        FtsIndex.search(spark, dirs("fts"), nonce, K, "OR", "bm25_score", Seq(col("doc_id"))))))
    } { (rec, got) =>
      rec.rows = got.length
      if (got.length != K || !got.forall(id => id >= first && id < first + BatchRows))
        rec.fail(s"fts: batch $c not returned after append, got $got")
    }
    // then a held-out query per family, against the grown indexes
    val q = queryVecs(c % queryVecs.length)
    for (fam <- Seq("ivf", "hnsw")) search(b, fam, "warm", q, window) { (rec, got) =>
      if (got.length != K) rec.fail(s"$fam returned ${got.length} rows")
    }
    b.timed("ingest.search.fts.warm", words(c % words.length), window) {
      ids(b.collect(b.tracer.span("operators.fts.build")(FtsIndex.search(spark, dirs("fts"),
        words(c % words.length), K, "OR", "bm25_score", Seq(col("doc_id"))))))
    } { (rec, got) => rec.rows = got.length; if (got.length != K) rec.fail(s"fts returned $got") }

    if (c % CompactEvery == CompactEvery - 1)
      b.timed("ingest.compact", s"c$c", window) {
        b.tracer.span("sources.compact")(Graft.compact(spark, dirs("base")))
      } { (rec, res) => if (res.filesAfter < 1) rec.fail(s"compaction left $res") }
  }

  private def ids(rows: (Seq[String], Seq[org.apache.spark.sql.Row])): Seq[Long] =
    rows._2.map(_.getLong(0))

  private def search(b: Bench, fam: String, which: String, q: Array[Float], window: String)
      (check: (OpRec, Seq[Long]) => Unit): Unit =
    b.timed(s"ingest.search.$fam.$which", fam, window) {
      val df = b.tracer.span(s"operators.$fam.build")(fam match {
        case "ivf" => IvfIndex.search(b.spark, dirs("ivf"), q.toSeq, K, tieBreak = Seq(col("id")))
          .select("id")
        case _ => HnswIndex.search(b.spark, dirs("hnsw"), q.toSeq, K).select("id")
      })
      ids(b.collect(df))
    } { (rec, got) => rec.rows = got.length; check(rec, got) }

  def finish(b: Bench): Map[String, Any] = {
    val bytes = Seq("ivf", "hnsw", "fts").map(f => f -> b.bytesUnder(dirs(f))).toMap
    val rows = BaseRows.toLong + cycle.toLong * BatchRows
    val baseFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dirs("base")))
    val files = try baseFiles.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally baseFiles.close()
    Map("index_bytes" -> bytes, "indexed_rows" -> rows, "cycles" -> cycle,
      "stored_bytes_per_row" -> bytes.values.sum.toDouble / (3 * rows),
      "base_files" -> files)
  }
}
