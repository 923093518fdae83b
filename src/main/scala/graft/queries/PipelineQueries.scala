package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim

import graft.engine.Tables.t
import graft.functions.text
import graft.operators.Packing

/** Training-pipeline coverage past dedup (SURVEY pipeline-ops mandate):
  * sequence packing, deterministic splits, stratified source mixing,
  * seeded shuffle — each with an exact DuckDB oracle (all four ops are
  * deterministic by construction; see [[Packing]]).
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  // DuckDB fragment matching graft.functions.text.tokenize + the md5
  // bucket of Packing.hashBucket
  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"
  private def bucketSql(idExpr: String): String =
    s"(CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 8)) AS BIGINT) % 100)"

  /** Recursive temp-dir delete for the FileLog queries (q84/q85): their
    * batches are materialized before cleanup, so repeated bench/verify
    * cycles must not accumulate data/meta temp directories.
    */
  private def rmTree(roots: java.nio.file.Path*): Unit =
    roots.foreach { root =>
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }

  /** Deterministic PNG fixtures shared by q80 (file scheme) and q83
    * (loopback http + s3 + gs schemes): image i is (16+i)×(8+i) with
    * pixel(x,y) = (x·7 + y·13 + i·31) % 256 on all three channels —
    * PNG is lossless, so the oracle replays Σ(r+g+b) in closed form.
    */
  private def pngFixtures(): java.nio.file.Path = {
    val imgDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q80_imgs")
    java.nio.file.Files.createDirectories(imgDir)
    (1 to 6).foreach { i =>
      val f = imgDir.resolve(s"img_$i.png")
      if (!java.nio.file.Files.exists(f)) {
        val w = 16 + i; val h = 8 + i
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val v = (x * 7 + y * 13 + i * 31) % 256
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        javax.imageio.ImageIO.write(img, "png", f.toFile)
      }
    }
    imgDir
  }

  val queries: Map[String, Q] = Map(
    // Concat-then-chunk sequence packing at a 2048-token budget over the
    // doc_id-ordered corpus: per-doc chunk placement via the distributed
    // two-phase prefix sum (no single-partition window).
    "p01_pack_sequences" -> ((s, dir) => {
      Packing.packSequences(
          t(s, dir, "documents"),
          col("doc_id"), text.tokenCount(col("text")), budget = 2048L)
        .select(col("id").as("doc_id"), col("n_tokens"), col("cum_before"),
          col("chunk_start"), col("chunk_end"), col("offset_in_chunk"))
        .orderBy(col("doc_id"))
    }),
    // Deterministic id-hash train/val/test split (10/10/80): membership
    // is a pure function of the id, stable under appends.
    "p02_split" -> ((s, dir) => {
      Packing.deterministicSplit(t(s, dir, "documents"), col("doc_id"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
        .orderBy(col("split"))
    }),
    // Stratified source mixing: keep 100% of English docs, 25% of the
    // rest — the up/down-sampling primitive, deterministic per id.
    "p03_stratified_mix" -> ((s, dir) => {
      Packing.stratifiedSampleByHash(
          t(s, dir, "documents"), col("lang"), col("doc_id"),
          Map("en" -> 100), defaultPct = 25)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),
    // Epoch-capped up-sampling mix: budget 3x the corpus forces small
    // languages ABOVE 1e6 ppm (real repetition) while the cap keeps
    // every source <= 3 epochs; per-lang selected-copy counts + the
    // rate pin the whole integer pipeline.
    "p06_epoch_mix" -> ((s, dir) => {
      Packing.epochCappedMix(t(s, dir, "documents"), col("lang"),
          col("doc_id"), budget = 1500L, maxEpochs = 3, alpha = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_copies"),
          max(col("epoch")).as("max_epoch"),
          max(col("__rate_ppm")).as("rate_ppm"))
        .orderBy(col("lang"))
    }),
    // Temperature-scaled source mixing (p_s ∝ n_s^0.5, the mT5/XLM-R
    // flattening rule) with a 200-doc budget: per-lang integer-exact
    // quota/rate derivation + id-hash Bernoulli selection. The oracle
    // replays every step (floor-sqrt weights, integer division chain,
    // md5 bucket) bit-exactly.
    "p05_temperature_mix" -> ((s, dir) => {
      Packing.temperatureMix(t(s, dir, "documents"), col("lang"),
          col("doc_id"), budget = 200L, alpha = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_selected"),
          max(col("__rate_ppm")).as("rate_ppm"))
        .orderBy(col("lang"))
    }),
    // DSIR importance resampling (Xie et al. 2023): score each raw doc
    // (doc_id >= 50) by the Laplace-smoothed hashed-bigram log-ratio
    // against the target slice (doc_id < 50), then Gumbel-top-40 with
    // the deterministic hash-Gumbel draw. The oracle replays the full
    // chain: tokenize, unigram+bigram md5 buckets, both smoothed
    // distributions, the per-doc ln-sum and the Gumbel cut.
    "p07_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Packing.dsirResample(
          docs.filter(col("doc_id") >= 50),
          docs.filter(col("doc_id") < 50),
          col("text"), col("doc_id"), k = 40, buckets = 256, seed = "dsir")
        .select(col("id").as("doc_id"), col("n_grams"),
          round(col("score"), 4).as("score"),
          round(col("gumbel_key"), 4).as("gumbel_key"))
        .orderBy(col("doc_id"))
    }),
    // Seeded global shuffle for training order: first 20 docs of the
    // 'seed42' permutation, shuffle key included so the oracle pins the
    // exact order (TakeOrderedAndProject, no global window).
    "p04_seeded_shuffle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("skey",
          md5(concat(lit("seed42"), lit("-"), col("doc_id").cast("string"))))
      docs.select(col("doc_id"), col("skey"))
        .orderBy(col("skey"), col("doc_id"))
        .limit(20)
    }),

    // Multimodal decode under the driver gate: deterministic PNGs fetched
    // through a file-scheme CONNECTION (ref `getObject.cpp:53-60`), decoded
    // with the REAL JDK codec (format/width/height + exact pixel checksum).
    // PNG is lossless, so the oracle replays Σ(r+g+b) in closed form from
    // the generator formula pixel(x,y) = (x*7 + y*13 + i*31) % 256.
    "q80_multimodal_decode" -> ((s, _) => {
      import graft.multimodal.{Connections, Multimodal}
      val imgDir = pngFixtures()
      Connections.create("q80_fs", "FS")
      import s.implicits._
      val fetched = (1 to 4).map(i =>
          (i.toLong, s"file://${imgDir.resolve(s"img_$i.png")}"))
        .toDF("img_id", "url")
        .select(col("img_id"),
          Connections.getObject(s, "q80_fs")(col("url")).as("bytes"))
      val decoded = Multimodal.withPixelChecksum(
        Multimodal.withDecodedMeta(fetched, "bytes"), "bytes")
      decoded.select(col("img_id"), col("meta.format").as("fmt"),
          col("meta.width").as("w"), col("meta.height").as("h"),
          col("pix_sum"))
        .orderBy("img_id")
    }),

    // Remote-scheme getObject under the driver gate (ref
    // `getObject.cpp:53-60`, test `3_ai_core_support/00009_mqai_
    // objecturl_getObject.sql`): the same PNG fixtures fetched through a
    // LOOPBACK http server — two rows over a plain http(s) CONNECTION
    // (endpoint-pinned to the loopback host), two rows as `s3://` URLs
    // through the real SigV4 presigner against a custom endpoint
    // (path-style + port-in-host), and two rows as `gs://` URLs through
    // the SAME presigner via the isGs route (GCS XML API HMAC interop,
    // ref getObject.cpp:53-60) — with the server VERIFYING signature AND
    // expiry before serving (403 on mismatch). Zero egress; same
    // closed-form pixel-checksum oracle as q80.
    "q83_multimodal_remote" -> ((s, _) => {
      import graft.multimodal.{Connections, LoopbackObjectStore, Multimodal}
      val imgDir = pngFixtures()
      val creds = Connections.ObjectStoreCredentials(
        "GRAFTTESTACCESSKEY", "graft-test-secret-key", region = "us-east-1")
      val port = LoopbackObjectStore.port(imgDir, creds)
      Connections.registerCredentials("q83_creds", creds)
      Connections.create("q83_http", "HTTP",
        endpoint = s"http://127.0.0.1:$port")
      Connections.create("q83_s3", "AWS",
        endpoint = s"http://127.0.0.1:$port", credentialRef = "q83_creds")
      Connections.create("q83_gs", "GCS",
        endpoint = s"http://127.0.0.1:$port", credentialRef = "q83_creds")
      import s.implicits._
      val httpRows = Seq(1L, 2L)
        .map(i => (i, s"http://127.0.0.1:$port/imgs/img_$i.png"))
        .toDF("img_id", "url")
        .select(col("img_id"), lit("http").as("scheme"),
          Connections.getObject(s, "q83_http")(col("url")).as("bytes"))
      val s3Rows = Seq(3L, 4L)
        .map(i => (i, s"s3://s3imgs/img_$i.png"))
        .toDF("img_id", "url")
        .select(col("img_id"), lit("s3").as("scheme"),
          Connections.getObject(s, "q83_s3")(col("url")).as("bytes"))
      val gsRows = Seq(5L, 6L)
        .map(i => (i, s"gs://gsimgs/img_$i.png"))
        .toDF("img_id", "url")
        .select(col("img_id"), lit("gs").as("scheme"),
          Connections.getObject(s, "q83_gs")(col("url")).as("bytes"))
      val decoded = Multimodal.withPixelChecksum(
        Multimodal.withDecodedMeta(
          httpRows.unionAll(s3Rows).unionAll(gsRows), "bytes"), "bytes")
      decoded.select(col("img_id"), col("scheme"),
          col("meta.format").as("fmt"), col("meta.width").as("w"),
          col("meta.height").as("h"), col("pix_sum"))
        .orderBy("img_id")
    }),

    // ENGINE = FileLog under the driver gate (ref StorageFileLog.cpp,
    // tests 02022-02026): a two-phase append/copy dance over a fresh
    // temp directory — phase 1 consumes the initial file, phase 2
    // consumes ONLY the appended tail plus a fresh copy's full content
    // (per-file byte offsets; copies are new inodes, appends deliver
    // once). Fresh dirs per invocation keep the query idempotent; the
    // oracle replays the closed form.
    "q84_filelog" -> ((s, _) => {
      import graft.streaming.FileLogEngine
      import java.nio.file.{Files, StandardOpenOption}
      import java.nio.charset.StandardCharsets
      val dir = shim.createTempDir("graft-q84").toPath
      val a = dir.resolve("a.csv")
      def put(lines: Seq[String]): Unit =
        Files.write(a, lines.mkString("", "\n", "\n")
            .getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      val name = s"q84_${System.nanoTime()}"
      put((1 to 20).map(i => s"$i,${i * 3}"))
      val t = FileLogEngine.create(name, dir.toString, "CSV",
        "k UInt64, v UInt64")
      // consume() returns an already-MATERIALIZED batch (its contract),
      // so later file mutations can't reach phase1's rows
      val phase1 = t.consume(s).select(lit(1).as("phase"), col("k"), col("v"))
      put((21 to 30).map(i => s"$i,${i * 3}"))
      Files.copy(a, dir.resolve("b.csv"))
      val phase2 = t.consume(s).select(lit(2).as("phase"), col("k"), col("v"))
      FileLogEngine.drop(name)
      rmTree(dir, java.nio.file.Paths.get(t.metaDir))
      phase1.unionAll(phase2)
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("k_sum"), sum(col("v")).as("v_sum"))
        .orderBy(col("phase"))
    }),

    // FileLog → MATERIALIZED VIEW flow (ref 02024_storage_filelog_mv.sh):
    // each poll's delivery runs through the MV's SELECT transform and
    // APPENDS to the target table; the query aggregates over the TARGET,
    // so the oracle pins exactly-once accumulation across polls (poll 1 =
    // a.csv rows 1..12; poll 2 = a's appended 13..25 tail + new-inode
    // b.csv rows 100..110 — nothing re-delivered, nothing dropped).
    "q85_filelog_mv" -> ((s, _) => {
      import graft.streaming.FileLogEngine
      import java.nio.file.{Files, StandardOpenOption}
      import java.nio.charset.StandardCharsets
      val dir = shim.createTempDir("graft-q85").toPath
      val sinkRoot = shim.createTempDir("graft-q85-sink").toPath
      val sink = sinkRoot.resolve("mv_target").toString
      def put(f: String, lines: Seq[String]): Unit =
        Files.write(dir.resolve(f), lines.mkString("", "\n", "\n")
            .getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      val name = s"q85_${System.nanoTime()}"
      put("a.csv", (1 to 12).map(i => s"$i,${i * 7}"))
      val t = FileLogEngine.create(name, dir.toString, "CSV",
        "k UInt64, v UInt64")
      // the MV's SELECT transform (k, v, k+v AS s) applied per poll,
      // INSERT SELECT into the target — the reference's TO-table pattern
      def mvInsert(): Unit = t.consume(s)
        .select(col("k"), col("v"), (col("k") + col("v")).as("sv"))
        .write.mode("append").parquet(sink)
      mvInsert()
      put("a.csv", (13 to 25).map(i => s"$i,${i * 7}"))
      put("b.csv", (100 to 110).map(i => s"$i,${i * 7}"))
      mvInsert()
      val total = graft.engine.ParquetSchema.load(s, sink)
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          sum(col("v")).as("v_sum"), sum(col("sv")).as("sv_sum"))
        .localCheckpoint(true) // materialize before the dirs go
      FileLogEngine.drop(name)
      rmTree(dir, sinkRoot, java.nio.file.Paths.get(t.metaDir))
      total
    }),
  )

  val oracles: Map[String, String] = Map(
    "p01_pack_sequences" -> s"""
      WITH d AS (
        SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                 ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM d)
      SELECT doc_id, n_tokens, cum_before,
             cum_before // 2048 AS chunk_start,
             greatest(cum_before // 2048,
                      (cum_before + n_tokens - 1) // 2048) AS chunk_end,
             cum_before % 2048 AS offset_in_chunk
      FROM c ORDER BY doc_id""",
    "p02_split" -> s"""
      WITH s AS (
        SELECT doc_id,
               CASE WHEN ${bucketSql("doc_id")} < 10 THEN 'val'
                    WHEN ${bucketSql("doc_id")} < 20 THEN 'test'
                    ELSE 'train' END AS split
        FROM documents)
      SELECT split, CAST(count(1) AS BIGINT) AS n,
             min(doc_id) AS first_id, max(doc_id) AS last_id
      FROM s GROUP BY split ORDER BY split""",
    "p03_stratified_mix" -> s"""
      SELECT lang, CAST(count(1) AS BIGINT) AS n
      FROM documents
      WHERE ${bucketSql("doc_id")} < (CASE WHEN lang = 'en' THEN 100 ELSE 25 END)
      GROUP BY lang ORDER BY lang""",
    "p04_seeded_shuffle" -> """
      SELECT doc_id, md5('seed42-' || CAST(doc_id AS VARCHAR)) AS skey
      FROM documents
      ORDER BY skey, doc_id LIMIT 20""",
    // p07: full DSIR replay — hashed unigram+bigram buckets (the same
    // md5 bucket as the mixing ops), Laplace-smoothed target/raw bucket
    // distributions, per-doc ln-ratio sum, deterministic hash-Gumbel
    // key, top-40 cut on the raw key (ties doc_id).
    "p07_dsir" -> s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      grams AS (
        SELECT doc_id, unnest(toks ||
          [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS g
        FROM d),
      gb AS (SELECT doc_id,
               (CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 256) AS b
             FROM grams),
      tc AS (SELECT b, count(1) AS c FROM gb WHERE doc_id < 50 GROUP BY 1),
      rc AS (SELECT b, count(1) AS c FROM gb WHERE doc_id >= 50 GROUP BY 1),
      tt AS (SELECT sum(c) AS t FROM tc),
      rt AS (SELECT sum(c) AS t FROM rc),
      w AS (SELECT coalesce(tc.b, rc.b) AS b,
              ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE) /
                 CAST((SELECT t FROM tt) + 256 AS DOUBLE))
            - ln(CAST(coalesce(rc.c, 0) + 1 AS DOUBLE) /
                 CAST((SELECT t FROM rt) + 256 AS DOUBLE)) AS w
            FROM tc FULL JOIN rc ON tc.b = rc.b),
      db AS (SELECT doc_id, b, CAST(count(1) AS BIGINT) AS n
             FROM gb WHERE doc_id >= 50 GROUP BY 1, 2),
      s AS (SELECT db.doc_id, CAST(sum(db.n) AS BIGINT) AS n_grams,
              sum(CAST(db.n AS DOUBLE) * w.w) AS score
            FROM db JOIN w ON db.b = w.b GROUP BY 1),
      keyed AS (SELECT doc_id, n_grams, score,
              score - ln(-ln(
                (CAST(('0x' || substr(md5('dsir-' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000000 + 0.5) / 1000000.0)) AS gkey
            FROM s)
      SELECT doc_id, n_grams, round(score, 4) AS score,
             round(gkey, 4) AS gumbel_key
      FROM (SELECT * FROM keyed ORDER BY gkey DESC, doc_id LIMIT 40)
      ORDER BY doc_id""",
    // p05: the integer-exact temperature derivation — w = floor(sqrt(n))
    // (min 1), W = Σw, quota = (w*200)//W, rate_ppm = min(1e6,
    // quota*1e6//n) — then the same md5 bucket at 1e6 granularity.
    // p06: same integer arithmetic; copies = rate div 1e6 + (hash <
    // rate mod 1e6); rows explode via range(copies)
    "p06_epoch_mix" -> s"""
      WITH c AS (SELECT lang, CAST(count(1) AS BIGINT) AS n
                 FROM documents GROUP BY 1),
      w AS (SELECT lang, n,
                   greatest(CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT), 1) AS w
            FROM c),
      r AS (SELECT lang, n,
                   (least((w * 1500) // (SELECT sum(w) FROM w), n * 3)
                     * 1000000) // n AS rate_ppm
            FROM w),
      copies AS (SELECT d.doc_id, d.lang, r.rate_ppm,
                   (r.rate_ppm // 1000000)
                   + (CASE WHEN (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                            % 1000000) < (r.rate_ppm % 1000000) THEN 1 ELSE 0 END)
                     AS n_copies
                 FROM documents d
                 JOIN r ON d.lang IS NOT DISTINCT FROM r.lang),
      exploded AS (SELECT doc_id, lang, rate_ppm,
                     unnest(range(0, CAST(n_copies AS BIGINT))) AS epoch
                   FROM copies WHERE n_copies > 0)
      SELECT lang, CAST(count(1) AS BIGINT) AS n_copies,
             CAST(max(epoch) AS BIGINT) AS max_epoch,
             CAST(max(rate_ppm) AS BIGINT) AS rate_ppm
      FROM exploded GROUP BY lang ORDER BY lang""",
    "p05_temperature_mix" -> s"""
      WITH c AS (SELECT lang, CAST(count(1) AS BIGINT) AS n
                 FROM documents GROUP BY 1),
      w AS (SELECT lang, n,
                   greatest(CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT), 1) AS w
            FROM c),
      r AS (SELECT lang, n,
                   least(1000000,
                     ((w * 200) // (SELECT sum(w) FROM w)) * 1000000 // n)
                     AS rate_ppm
            FROM w)
      SELECT d.lang, CAST(count(1) AS BIGINT) AS n_selected,
             CAST(max(r.rate_ppm) AS BIGINT) AS rate_ppm
      FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
      WHERE (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 1000000) < r.rate_ppm
      GROUP BY d.lang ORDER BY d.lang""",
    // closed-form replay of the PNG generator: Σ over pixels of 3·v where
    // v = (x·7 + y·13 + i·31) % 256, image i is (16+i)×(8+i)
    "q80_multimodal_decode" -> """
      SELECT CAST(i AS BIGINT) AS img_id, 'png' AS fmt,
             CAST(16 + i AS INT) AS w, CAST(8 + i AS INT) AS h,
             CAST(sum(3 * ((x.g * 7 + y.g * 13 + i * 31) % 256)) AS BIGINT)
               AS pix_sum
      FROM (SELECT unnest([1, 2, 3, 4]) AS i) imgs
      JOIN generate_series(0, 25) x(g) ON x.g < 16 + i
      JOIN generate_series(0, 17) y(g) ON y.g < 8 + i
      GROUP BY i
      ORDER BY img_id""",
    // same closed form; rows 1-2 arrive over plain http, 3-4 over
    // SigV4-presigned s3://, 5-6 over gs:// (same HMAC presign, GCS XML
    // interop route) — all against the loopback endpoint
    "q83_multimodal_remote" -> """
      SELECT CAST(i AS BIGINT) AS img_id,
             CASE WHEN i <= 2 THEN 'http'
                  WHEN i <= 4 THEN 's3' ELSE 'gs' END AS scheme,
             'png' AS fmt,
             CAST(16 + i AS INT) AS w, CAST(8 + i AS INT) AS h,
             CAST(sum(3 * ((x.g * 7 + y.g * 13 + i * 31) % 256)) AS BIGINT)
               AS pix_sum
      FROM (SELECT unnest([1, 2, 3, 4, 5, 6]) AS i) imgs
      JOIN generate_series(0, 25) x(g) ON x.g < 16 + i
      JOIN generate_series(0, 17) y(g) ON y.g < 8 + i
      GROUP BY i
      ORDER BY img_id""",
    // phase 1 = rows 1..20 of a.csv; phase 2 = a's appended 21..30 plus
    // the b.csv copy's full 1..30 (new inode ⇒ full delivery)
    "q84_filelog" -> """
      WITH r AS (SELECT range AS k FROM range(1, 31)),
      p1 AS (SELECT k FROM r WHERE k <= 20),
      p2 AS (SELECT k FROM r WHERE k > 20 UNION ALL SELECT k FROM r)
      SELECT 1 AS phase, CAST(count(1) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS k_sum,
             CAST(sum(3 * k) AS BIGINT) AS v_sum
      FROM p1
      UNION ALL
      SELECT 2, CAST(count(1) AS BIGINT), CAST(sum(k) AS BIGINT),
             CAST(sum(3 * k) AS BIGINT)
      FROM p2
      ORDER BY phase""",
    // the MV target accumulates a.csv's 1..25 (two polls, no overlap)
    // plus b.csv's 100..110, each transformed (v=7k, sv=k+v=8k)
    "q85_filelog_mv" -> """
      WITH r AS (SELECT range AS k FROM range(1, 26)
                 UNION ALL SELECT range FROM range(100, 111))
      SELECT CAST(count(1) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS k_sum,
             CAST(sum(7 * k) AS BIGINT) AS v_sum,
             CAST(sum(8 * k) AS BIGINT) AS sv_sum
      FROM r""",
  )
}
