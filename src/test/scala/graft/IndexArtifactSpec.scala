package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators._

/** `meta.json` and the artifact caches behind it, for every index family.
  * A cache keyed on anything but the artifact's build id serves the old
  * index once another JVM rebuilds the directory; a file the reader does
  * not understand must fail loudly, naming itself.
  */
class IndexArtifactSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.t(spark, sfDir, "embeddings").cache()
  lazy val qv: Seq[Float] = emb.filter(col("vec_id") === 5)
    .select(col("embedding")).head().getSeq[Float](0)
  lazy val bdocs = Tables.t(spark, sfDir, "documents")
    .select(col("doc_id"), unhex(md5(col("text"))).as("bvec")).cache()
  lazy val bq: Array[Byte] = bdocs.filter(col("doc_id") === 0)
    .select("bvec").head().getAs[Array[Byte]](0)
  lazy val corpusA = Seq((1L, "spark joins data fast"), (2L, "ducks swim"),
    (3L, "spark spark everywhere")).toDF("doc_id", "text")
  lazy val corpusB = Seq((10L, "spark streams"), (11L, "fast ducks and spark"),
    (12L, "ponds"), (13L, "data data spark")).toDF("doc_id", "text")

  private def half(df: DataFrame, idCol: String, b: Boolean) =
    df.filter(col(idCol) % 2 === (if (b) 1 else 0))

  /** One index family: `build(dir, b)` builds index A (b = false) or, from
    * different data and parameters, index B; `search(dir)` returns the
    * rows of one fixed top-k request.
    */
  case class Family(name: String, build: (String, Boolean) => Unit,
      search: String => Seq[String])

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  lazy val families: Seq[Family] = Seq(
    Family("IVFFLAT",
      (dir, b) => IvfIndex.build(spark, half(emb, "vec_id", b), "embedding",
        s"art_ivf_$b", dir, nLists = if (b) 4 else 8),
      dir => rows(IvfIndex.search(spark, dir, qv, 5, nprobe = 2,
        tieBreak = Seq(col("vec_id"))))),
    Family("IVFSQ",
      (dir, b) => SqIndex.build(spark, half(emb, "vec_id", b), "vec_id",
        "embedding", s"art_sq_$b", dir, nLists = if (b) 4 else 8),
      dir => rows(SqIndex.search(spark, dir, emb, qv, 5, numReorder = 8,
        nprobe = 2, tieBreak = Seq(col("vec_id"))))),
    Family("IVFPQ",
      (dir, b) => PqIndex.build(spark, half(emb, "vec_id", b), "vec_id",
        "embedding", s"art_pq_$b", dir, nLists = if (b) 4 else 8, m = 8),
      dir => rows(PqIndex.search(spark, dir, emb, qv, 5, numReorder = 8,
        nprobe = 2, tieBreak = Seq(col("vec_id"))))),
    Family("BinaryIVF",
      (dir, b) => BinaryIvfIndex.build(spark, half(bdocs, "doc_id", b),
        "doc_id", "bvec", s"art_bivf_$b", dir, nLists = if (b) 4 else 8,
        metric = if (b) "jaccard" else "hamming"),
      dir => rows(BinaryIvfIndex.search(spark, dir, bq, 5, nprobe = 2,
        tieBreak = Seq(col("doc_id"))).drop("bvec"))),
    Family("HNSW",
      (dir, b) => HnswIndex.build(spark, half(emb, "vec_id", b), "vec_id",
        "embedding", s"art_hnsw_$b", dir, m = 8, efConstruction = 32,
        numPartitions = Some(2), quantize = b),
      dir => rows(HnswIndex.search(spark, dir, qv, 5))),
    Family("FTS",
      (dir, b) => FtsIndex.build(spark, if (b) corpusB else corpusA, "doc_id",
        "text", s"art_fts_$b", dir, nBuckets = if (b) 4 else 8),
      dir => rows(FtsIndex.search(spark, dir, "spark data", 5,
        tieBreak = Seq(col("doc_id"))))))

  /** Replace `to`'s files with `from`'s using plain file copies — what a
    * rebuild by another JVM looks like to this one.
    */
  private def replaceFiles(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    Files.walk(dst).sorted(java.util.Comparator.reverseOrder[Path]())
      .filter(_ != dst).forEach(p => Files.delete(p))
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def tmp(tag: String) = tempDir(s"artifact-$tag").toString

  /** Index B of each family, built once for (b) and (c). */
  private lazy val builtB: Map[String, String] = families.map { f =>
    val dir = tmp(f.name)
    f.build(dir, true)
    f.name -> dir
  }.toMap

  families.foreach { f =>
    test(s"${f.name}: a search after another JVM's rebuild sees the new index") {
      val x = tmp(f.name + "-x")
      f.build(x, false)
      val before = f.search(x) // warms every cache for index A
      val y = builtB(f.name)
      val expected = f.search(y)
      assert(before !== expected, "A and B must answer differently")
      replaceFiles(y, x)
      assert(f.search(x) === expected)
    }

    test(s"${f.name}: a newer meta.json version fails, naming file and version") {
      val z = tmp(f.name + "-v")
      replaceFiles(builtB(f.name), z)
      val p = IndexArtifact.metaPath(z)
      val newer = IndexArtifact.Version + 1
      Files.writeString(p, Files.readString(p)
        .replaceFirst("\"version\"\\s*:\\s*\\d+", s""""version" : $newer"""))
      val e = intercept[IllegalStateException](f.search(z))
      assert(e.getMessage.contains(p.toString) &&
        e.getMessage.contains(s"version $newer"), e.getMessage)
    }

    test(s"${f.name}: truncated meta.json fails, naming the file") {
      val z = tmp(f.name + "-t")
      replaceFiles(builtB(f.name), z)
      val p = IndexArtifact.metaPath(z)
      val bytes = Files.readAllBytes(p)
      Files.write(p, bytes.take(bytes.length / 2))
      val e = intercept[IllegalStateException](f.search(z))
      assert(e.getMessage.contains(p.toString) &&
        e.getMessage.contains("invalid JSON"), e.getMessage)
    }
  }

  /** A copy of index B of `family` whose meta.json lost `field`
    * (`meta.` prefix: a field of the family's Meta).
    */
  private def withoutField(family: String, field: String): (String, Path) = {
    val z = tmp("nofield")
    replaceFiles(builtB(family), z)
    val p = IndexArtifact.metaPath(z)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(p.toFile)
    val parent = if (field.startsWith("meta.")) root.get("meta") else root
    parent.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove(field.stripPrefix("meta."))
    mapper.writeValue(p.toFile, root)
    (z, p)
  }

  test("meta.json without a build id asks for a rebuild") {
    val (z, _) = withoutField("IVFFLAT", "buildId")
    val e = intercept[IllegalStateException](IvfIndex.loadMeta(z))
    assert(e.getMessage.contains("rebuild the index"), e.getMessage)
  }

  test("a meta field missing from meta.json fails, naming the field") {
    val (z, p) = withoutField("BinaryIVF", "meta.metric")
    val e = intercept[IllegalStateException](
      BinaryIvfIndex.search(spark, z, bq, 5))
    assert(e.getMessage.contains(p.toString) && e.getMessage.contains("metric"),
      e.getMessage)
  }

  test("build writes a fresh build id; append keeps it") {
    val dir = tmp("ids")
    val half1 = half(emb, "vec_id", false)
    IvfIndex.build(spark, half1, "embedding", "art_ids", dir, nLists = 4)
    val first = IvfIndex.artifact(dir)
    IvfIndex.append(spark, half(emb, "vec_id", true), "art_ids", dir)
    val appended = IvfIndex.artifact(dir)
    assert(appended.buildId === first.buildId)
    assert(appended.meta.nRows === emb.count())
    IvfIndex.build(spark, half1, "embedding", "art_ids", dir, nLists = 4)
    assert(IvfIndex.artifact(dir).buildId !== first.buildId)
  }

  test("a reader never sees a partly written meta.json") {
    val dir = tmp("atomic")
    val meta = IvfIndex.Meta("l2", 8, 16, 0L, "", "embedding", "BUILT")
    val id = IndexArtifact.write(dir, "IVFFLAT", meta).buildId
    @volatile var writing = true
    @volatile var failure: Option[Throwable] = None
    var reads = 0
    val reader = new Thread(() =>
      while (writing && failure.isEmpty) {
        try { IvfIndex.loadMeta(dir); reads += 1 }
        catch { case t: Throwable => failure = Some(t) }
      })
    reader.start()
    try (1 to 1000).foreach(i =>
      IndexArtifact.write(dir, "IVFFLAT", meta.copy(nRows = i.toLong), id))
    finally { writing = false; reader.join(10000) }
    assert(failure.isEmpty, failure.map(_.toString).getOrElse(""))
    assert(reads > 0)
    assert(IvfIndex.loadMeta(dir).nRows === 1000L)
    assert(Files.list(Paths.get(dir)).count() === 1L, "temp files left behind")
  }
}
