package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup, RelationalOps}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoin picks latest right row at or before left time, per key") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:05"), "t1"),
      (1L, ts("2024-01-01 10:00:00"), "t0"),
      (2L, ts("2024-01-01 09:00:00"), "t2"))
      .toDF("k", "t", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0), // equal ts → inclusive match
      (1L, ts("2024-01-01 10:00:03"), 101.0),
      (1L, ts("2024-01-01 10:00:09"), 102.0),
      (2L, ts("2024-01-01 09:30:00"), 50.0)) // after the only trade → no match
      .toDF("k", "t", "price")
    val got = AsOfJoin.asofJoin(trades, quotes,
        col("k"), col("k"), col("t"), col("t"),
        Seq("price" -> col("price")), inner = true)
      .select(col("trade"), col("price")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("t0" -> 100.0, "t1" -> 101.0)) // t2 dropped (inner)
    val left = AsOfJoin.asofJoin(trades, quotes,
        col("k"), col("k"), col("t"), col("t"),
        Seq("price" -> col("price")), inner = false)
    assert(left.count() === 3) // LEFT ASOF keeps unmatched
  }

  test("limitBy keeps first n per group in given order") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9)).toDF("g", "x")
    val got = RelationalOps.limitBy(df, 2, Seq(col("g")), Seq(col("x").asc))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got === Set(("a", 1), ("a", 2), ("b", 9)))
  }

  test("withFillDays densifies the date series with defaults") {
    val df = Seq((java.sql.Date.valueOf("2024-01-01"), 5L)).toDF("d", "n")
    val got = RelationalOps.withFillDays(df, "d",
        java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-05"),
        Seq("n" -> lit(0L)))
      .orderBy("d").collect().map(_.getLong(1)).toSeq
    assert(got === Seq(5L, 0L, 0L, 0L))
  }

  test("withTotals appends a grand-total row with null keys") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "x")
    val got = RelationalOps.withTotals(df, Seq("g"), Seq(sum(col("x")).as("s")))
      .collect().map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getDouble(1)).toMap
    assert(got === Map("a" -> 3.0, "b" -> 3.0, (null: String) -> 6.0))
  }

  test("exact dedup keeps canonical (min id) per normalized text") {
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(docs, col("text"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L)) // 2 is a case/whitespace dup of 1
  }

  test("minhash LSH finds the exact near-dup pairs on sf0.001 docs") {
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, col("text"), col("doc_id"), 3, 16, 4, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("corpus margin invariant: every qualifying pair sits at jaccard >= 0.8") {
    // the d03/d13/d22 oracle-reuse argument is that b=16/r=4 banding
    // recall ~= 1 BECAUSE all pairs above the 0.5 threshold actually sit
    // at jaccard >= 0.8 (miss probability <= 2.1e-4 there, vs ~35% at
    // 0.6). This turns that implicit corpus property into a CHECKED
    // invariant: a regenerated corpus that grows a pair inside the
    // [0.5, 0.8) margin fails here, not nondeterministically in Verify.
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val docs = graft.engine.Tables.t(spark, dir, "documents")
      val inMargin = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), 3, 0.5)
        .filter(col("jaccard") < 0.8).count()
      assert(inMargin === 0L,
        s"$dir has $inMargin pairs in the [0.5, 0.8) banding-miss margin")
    }
  }

  test("incremental minhash LSH = exact cross-side pairs on sf0.001 docs") {
    // the d13 contract: new-batch (doc_id >= 250) vs seen (doc_id < 250)
    // candidates come ONLY from cross-side bucket joins; verified output
    // must equal the exact cross-side 3-gram-Jaccard pair set (banding
    // recall ~1 at this corpus's similarity margins)
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val exactCross = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), 3, 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a < 250) != (b < 250) }
      .map { case (a, b) => if (a >= 250) (a, b) else (b, a) } // (new, seen)
      .toSet
    val inc = Dedup.minhashLshIncrementalPairs(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        col("text"), col("doc_id"), col("text"), col("doc_id"),
        minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactCross.nonEmpty)
    assert(inc === exactCross)
  }

  test("verified minhash LSH = exact n-gram Jaccard pairs on sf0.001 and sf0.01 docs") {
    // the d03/d22 contract, self-join twin of the incremental check above:
    // banding recall ~1 at this corpus's similarity margins, and the
    // verify is the exact set intersection, so the rows (scores included)
    // equal the PPJoin path's
    for (dir <- Seq(sfDir, s"${new java.io.File(sfDir).getParent}/sf0.01")) {
      val docs = graft.engine.Tables.t(spark, dir, "documents")
      def rows(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = rows(Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), 3, 0.5))
      val lsh = rows(
        Dedup.minhashLshVerifiedPairs(docs, col("text"), col("doc_id"), 3, 16, 4, 0.5))
      assert(exact.nonEmpty, dir)
      assert(lsh === exact, dir)
    }
  }

  test("simhash: identical texts collide, near texts are close in hamming") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different content about spark engines"))
      .toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 10)
    // the aggregated-signature path (the scale shape simhashPairs uses)
    // must equal the per-row fold bit-for-bit, incl. token-less docs → 0
    val withEmpty = df.unionByName(Seq((4L, "!!!")).toDF("doc_id", "text"))
    val agged = Dedup.simhashSignatures(withEmpty, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agged(1L) === sigs(1L) && agged(3L) === sigs(3L))
    assert(agged(4L) === 0L)
  }

  test("simhashPairs is COMPLETE at the declared radius (brute-force cross-check)") {
    // the d04 contract: with chunk count derived from maxHamming, every
    // pair with bit_count(sig_a ^ sig_b) <= maxHamming must be generated —
    // including pairs whose differing bits spread across many chunks
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    for (radius <- Seq(3, 8)) {
      val sigs = Dedup.simhashSignatures(docs, col("text"), col("doc_id"))
      val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
        .withColumn("h", bit_count(col("a.sig").bitwiseXOR(col("b.sig"))))
        .filter(col("h") <= radius)
        .select(col("a.id"), col("b.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val blocked = Dedup.simhashPairs(docs, col("text"), col("doc_id"), radius)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(brute.nonEmpty, s"radius $radius produced no brute-force pairs")
      assert(blocked === brute,
        s"radius $radius: blocking missed ${(brute -- blocked).size} of " +
          s"${brute.size} pairs / produced ${(blocked -- brute).size} extras")
    }
  }

  test("simhashMd5Pairs is COMPLETE at the declared radius (brute-force cross-check)") {
    // same contract as simhashPairs, over the oracle-replayable md5-digit
    // signatures the d04 driver query uses
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val sigs = Dedup.simhashMd5Signatures(docs, col("text"), col("doc_id"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .withColumn("h", bit_count(col("a.sig").bitwiseXOR(col("b.sig"))))
      .filter(col("h") <= 8)
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.simhashMd5Pairs(docs, col("text"), col("doc_id"), 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(blocked === brute,
      s"blocking missed ${(brute -- blocked).size} of ${brute.size} pairs " +
        s"/ produced ${(blocked -- brute).size} extras")
  }

  test("lshCosineCoordPairs at the d09 driver config: subset + useful recall") {
    // the coordinate-sign variant d09 ships: precision 1.0 by verification;
    // recall is whatever the axis-aligned family gives at this config —
    // asserted above a floor so bucketing degradation (e.g. a biased
    // coordinate making buckets collapse) fails the build
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val exact = Dedup.embeddingDupPairs(emb, col("embedding"), col("vec_id"), 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshCosineCoordPairs(emb, col("embedding"), col("vec_id"),
        0.35, dim = 64, nPlanes = 4, nTables = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact))
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"coord-LSH recall $recall over ${exact.size} exact pairs")
  }

  test("spanDupReport flags exactly the shared and self-repeated n-token spans") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: 10 tokens -> 3 windows; window i=1 also appears in doc 2
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // doc 2: 11 tokens -> 4 windows; window i=2 == doc 1's i=1
      (2L, "prefix alpha beta gamma delta epsilon zeta eta theta diff suffix"),
      // doc 3: nothing shared
      (3L, "totally unrelated words nothing shared here at all today friend"),
      // doc 4: an 8-token span repeated back-to-back (intra-doc dup):
      // 16 tokens -> 9 windows, the first and last are identical
      (4L, "a b c d e f g h a b c d e f g h"),
      // doc 5: shorter than n -> no windows, no row
      (5L, "too short for any window")).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .spanDupReport(docs, col("text"), col("doc_id"), n = 8)
      .select("id", "n_windows", "n_dup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((3L, 1L)), 2L -> ((4L, 1L)), 3L -> ((3L, 0L)), 4L -> ((9L, 2L))))
  }

  test("lshCosineCoordPairs AutoPlanes default = the scaled-plane policy") {
    // the engine default derives nPlanes from the corpus (constant
    // expected bucket occupancy — the parameterization ScaleGrowth
    // measured near-flat); pinning nPlanes stays available for
    // bit-replayable oracles. The auto run must equal the pinned run at
    // the derived count exactly (same seed → same coordinate choices).
    import graft.operators.Dedup
    assert(Dedup.scaledPlaneCount(100) === 4) // floor
    assert(Dedup.scaledPlaneCount(2048) === 4) // sf0.1-ish corpus
    assert(Dedup.scaledPlaneCount(4096) === 5) // +1 per doubling
    assert(Dedup.scaledPlaneCount(40000) === 9) // the 20x ScaleGrowth corpus
    assert(Dedup.scaledPlaneCount(128L << 30) === 30) // 100 TB-ish rows
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val derived = Dedup.scaledPlaneCount(emb.count())
    def pairs(np: Int) = Dedup.lshCosineCoordPairs(emb, col("embedding"),
        col("vec_id"), 0.35, dim = 64, nPlanes = np, nTables = 16)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.lshCosineCoordPairs(emb, col("embedding"),
        col("vec_id"), 0.35, dim = 64)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === pairs(derived))
  }

  test("embedding LSH cosine pairs ⊆ exact pairs, on sf0.001") {
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val exact = Dedup.embeddingDupPairs(emb, col("embedding"), col("vec_id"), 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // moderate similarities (~0.3-0.4) need short bucket codes + many
    // tables: P(match/table) ≈ (1 - θ/π)^4, θ≈72° → ~0.13; 16 tables → ~0.9
    val lsh = Dedup.lshCosinePairs(emb, col("embedding"), col("vec_id"), 0.3, 4, 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification step guarantees precision
    assert(exact.isEmpty || (exact & lsh).size.toDouble / exact.size > 0.5)
  }

  test("lshCosinePairs at the d09 driver config: recall >= 0.9 vs exact pairs") {
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val exact = Dedup.embeddingDupPairs(emb, col("embedding"), col("vec_id"), 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshCosinePairs(emb, col("embedding"), col("vec_id"), 0.35, 4, 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact)) // cosine verification ⇒ perfect precision
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("LSH-fed connected components ≈ exact-fed clusters (d10 path)") {
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    def clusters(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactC = clusters(
      Dedup.embeddingDupPairs(emb, col("embedding"), col("vec_id"), 0.35))
    val lshC = clusters(
      Dedup.lshCosinePairs(emb, col("embedding"), col("vec_id"), 0.35, 4, 16))
    assert(lshC.nonEmpty)
    // LSH candidates ⊆ exact pairs, so LSH clusters only ever SPLIT exact
    // clusters (never merge across them): two ids the LSH path groups
    // together must be grouped together by the exact path too
    for (ids <- lshC.groupBy(_._2).values.map(_.keys.toSeq) if ids.size > 1)
      assert(ids.map(exactC).distinct.size == 1,
        s"LSH merged ids across exact clusters: $ids")
    // recall at the cluster level: most exact-clustered ids stay clustered
    val exactClustered = exactC.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(_.keys).toSet
    val lshClustered = lshC.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(_.keys).toSet
    val kept = (exactClustered & lshClustered).size.toDouble / exactClustered.size
    assert(kept >= 0.8, s"only $kept of exact-clustered ids remain clustered")
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
}
