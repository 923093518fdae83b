package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth measurement for the dedup/ANN families: synthesizes an
  * N× corpus from the sf0.1 documents/embeddings tables and times the
  * headline queries at each factor, printing per-factor seconds and the
  * growth ratios. The 2×-of-baseline gate at a single SF cannot see a
  * super-linear term; this tool provides the measured curve
  * (IMPLEMENTATION.md publishes the results).
  *
  * Synthesis preserves the DUPLICATE DENSITY per replica so the workload
  * grows linearly in rows, not quadratically in near-dup pairs:
  *
  *  - documents: replica i rewrites text through a bijective character
  *    substitution (replica 0 = identity; replica i ≥ 1 = a
  *    deterministic seeded Fisher–Yates permutation of the letter and
  *    digit alphabets — round 20 replaced the former rot-by-i scheme,
  *    which aliased replica i with i+26 and capped factors at 25).
  *    Token boundaries are untouched, so each replica's shingle/Jaccard
  *    structure is EXACTLY the original's, while cross-replica tokens
  *    (hence 3-gram shingles) almost never collide. SimHash signatures
  *    rehash per replica (statistically similar density, not
  *    bit-identical).
  *  - embeddings: replica i sign-flips each dimension by a murmur3 hash
  *    of (i, dim). |s|=1 per dim keeps every within-replica L2/cosine
  *    EXACTLY (the whole replica shares one flip pattern); cross-replica
  *    cosines drop to ~0 (random half-agreement of signs).
  *
  * Usage: ScaleGrowth [baseDir] [factors-csv] [workDir] [query-filter-csv]
  * (the 4th arg restricts the measured rows by name — substring match —
  * for iterating on one curve without the full ~15 min sweep)
  * Index builds (v08's IVF) run in the untimed warm pass, mirroring
  * Bench's build-at-insert-time policy.
  */
object ScaleGrowth {

  private val Queries = Seq("d01_exact_dedup", "d02_ngram_jaccard",
    "d03_minhash_lsh", "d04_simhash", "d07_dup_clusters",
    "d10_lsh_clusters", "d09_lsh_cosine", "d12_span_dups",
    "d13_incremental_lsh", "d14_line_dedup", "d16_decontaminate",
    // d20 runs the ENGINE DEFAULT (autoCentroidCount: k ∝ n, expected
    // cluster ≤128) — per-cluster pairwise work constant; assignment is
    // the IVF-style two-level multi-probe router (n·3√k flops — n^1.5 under
    // k ∝ n, sub-quadratic; see autoCentroidCount's docs for the
    // deeper-hierarchy/ANN path beyond);
    // p07's distributions are ≤buckets rows, scoring one explode +
    // broadcast join + partial agg — linear by construction
    "d20_semdedup", "p07_dsir",
    // d21 = the d02 pair feed + star-contraction CC + one max(struct)
    // partial agg — the retention policy adds only slim-row work
    "d21_dedup_retention",
    "v08_ivf_exact",
    // the search surface: FTS-indexed BM25 top-K (bucket-pruned postings
    // scan — growth bounded by bucket-file size, not corpus scans) and
    // hybrid fusion (FTS leg + dense leg); index builds in the warm pass
    "t07_fts_topk", "h03_hybrid_fts",
    // LM quality scoring: bigram-count self-join + score joins — the
    // perplexity-filter stage's growth is the count-frame shuffles;
    // t21 layers the keyed two-phase rank + tercile split on top
    "t20_lm_quality", "t21_ppl_buckets")

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 10, 20))
    val workRoot = args.lift(2).getOrElse("/tmp/graft_scale")
    val filter: String => Boolean = args.lift(3) match {
      case Some(csv) =>
        val pats = csv.split(",").map(_.trim).filter(_.nonEmpty)
        name => pats.exists(name.contains)
      case None => _ => true
    }
    // 64 is a memory bound (50× of sf0.1 fits easily in 128 GiB), not a
    // synthesis bound: the seeded-permutation alphabets stay distinct at
    // any factor (the former rot-k scheme capped this at 25)
    require(factors.forall(f => f >= 1 && f <= 64), "factors must be in [1, 64]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.engine.GraftSession.local(cpus)

    def synth(factor: Int): String = {
      if (factor == 1) return baseDir
      val out = s"$workRoot/x$factor"
      val marker = java.nio.file.Paths.get(s"$out/_DONE")
      if (java.nio.file.Files.exists(marker)) return out
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val letters = ('a' to 'z').mkString
      val digits = ('0' to '9').mkString
      // deterministic per-replica alphabet permutation (Fisher–Yates over
      // an LCG keyed by the replica index): bijective, token-length
      // preserving, distinct across replicas at ANY factor — unlike the
      // former rot-by-i scheme, which repeated at i % 26 and would have
      // aliased replica i with i+26 (cross-replica duplicate pairs)
      def perm(alphabet: String, seed: Int): String = {
        val a = alphabet.toCharArray
        var s = (seed * 2654435761L) ^ 0x9E3779B97F4A7C15L
        var i = a.length - 1
        while (i > 0) {
          s = s * 6364136223846793005L + 1442695040888963407L
          val j = ((s >>> 33) % (i + 1)).toInt
          val t = a(i); a(i) = a(j); a(j) = t
          i -= 1
        }
        new String(a)
      }
      val docReplicas = (0 until factor).map { i =>
        val mapped =
          if (i == 0) col("text")
          else translate(lower(col("text")),
            letters + digits, perm(letters, i) + perm(digits, i))
        docs.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          mapped.as("text"), col("lang"), col("source"), col("n_chars"))
      }
      docReplicas.reduce(_ unionAll _)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/documents.parquet")
      val embReplicas = (0 until factor).map { i =>
        val flipped =
          if (i == 0) col("embedding")
          else transform(col("embedding"),
            (x, j) => when(pmod(hash(lit(i), j), lit(2)) === 0, x).otherwise(-x))
        embs.select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          flipped.as("embedding"), col("label"))
      }
      embReplicas.reduce(_ unionAll _)
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/embeddings.parquet")
      java.nio.file.Files.createFile(marker)
      out
    }

    // d09 at the ENGINE DEFAULT (nPlanes omitted → AutoPlanes →
    // scaledPlaneCount(corpus count)): constant expected bucket
    // occupancy, candidate pairs linear in rows. The SparkEntry query
    // pins nPlanes=4 for its bit-replayable oracle; this row measures
    // exactly what a caller gets as shipped.
    def d09Scaled: (SparkSession, String) => DataFrame = (s, dir) =>
      graft.operators.Dedup.lshCosineCoordPairs(
        graft.engine.Tables.t(s, dir, "embeddings"),
        col("embedding"), col("vec_id"),
        minCosSim = 0.35, dim = 64, nTables = 16)

    // d10 with the ENGINE-DEFAULT parameterization (nPlanes =
    // AutoPlanes → scaledPlaneCount(n)): LSH pairs + star-contraction
    // clustering end-to-end — proves the CLUSTER stage is also
    // near-linear once candidate generation is scale-parameterized
    // (d10's pinned nPlanes=4 row measures the oracle twin, which goes
    // super-linear by the same candidate-pair growth as d09-fixed).
    // Same assembly as the d10 query itself (DedupQueries.lshClusterLabels)
    // so the measured pipeline cannot drift from the shipped one.
    def d10Scaled: (SparkSession, String) => DataFrame = (s, dir) =>
      graft.queries.DedupQueries.lshClusterLabels(
        graft.engine.Tables.t(s, dir, "embeddings"),
        graft.operators.Dedup.AutoPlanes)

    // d21 over its PRODUCTION feed: the SparkEntry d21 row pipes
    // keepBestPerCluster from d02's exact all-pairs join (the oracle
    // twin — quadratic BY DESIGN), which dominates its measured curve.
    // At 100 TB the documented feed is MinHash-LSH verified pairs
    // (d03's machinery); this leg measures the retention policy over
    // that feed so the policy's own growth is visible, expected ~d03's.
    def d21Lsh: (SparkSession, String) => DataFrame = (s, dir) => {
      val docs = graft.engine.Tables.t(s, dir, "documents")
      val pairs = graft.operators.Dedup.minhashLshVerifiedPairs(docs,
          col("text"), col("doc_id"), n = 3, bands = 16, rowsPerBand = 4,
          minSim = 0.5)
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup.keepBestPerCluster(docs, col("doc_id"),
        col("n_chars").cast("long"), pairs)
    }

    // wide-integer arithmetic under aggregation load: construction +
    // multiply are scalar UDFs (one BigInteger per row), wideSum is the
    // Aggregator — this row measures whether the boxing overhead grows
    // faster than the data (the comparator/shuffle side is native by
    // the encoding design, so the UDF chain is the only suspect).
    // 100× row amplification so arithmetic dominates fixed overhead
    // (x1 ≈ 0.5M rows, x20 ≈ 10M rows of construct+multiply+sum)
    def wideScaled: (SparkSession, String) => DataFrame = (s, dir) =>
      graft.engine.Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), lit(100))).as("rep"))
        .groupBy(col("lang"))
        .agg(expr("wideToString(wideSum(wideMultiply(toInt128(doc_id * 100 + rep), " +
          "toInt128('1000000000000000000000'))))").as("ws"))

    val results = factors.map { f =>
      val dir = synth(f)
      val perQuery = (Queries.map(n => n -> graft.SparkEntry.queries(n)) ++
          Seq("d09_lsh_cosine_scaled" -> d09Scaled,
            "d10_lsh_clusters_scaled" -> d10Scaled,
            "d21_retention_lsh" -> d21Lsh,
            "wide_sum_groupby" -> wideScaled))
        .filter { case (name, _) => filter(name) }
        .map { case (name, fn) =>
        // untimed warm: JIT + page cache + index builds (v08)
        try fn(spark, dir).count()
        catch { case e: Throwable =>
          System.err.println(s"[scale] warm $name@x$f failed: ${e.getMessage}") }
        def once(): Double = {
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        val t = math.min(once(), once()) // best-of-2 warm
        System.err.println(f"[scale] x$f $name $t%.2f s")
        name -> t
      }
      // ELASTICITY pass: the main rows measure WORK growth at fixed
      // parallelism; these re-run d03/d13 with shuffle partitions scaled
      // with the data (cpus × factor) — the closest a single box gets to
      // multi-node elasticity evidence. Flat-or-better vs the fixed-
      // partition row means the extra work parallelizes instead of
      // serializing into the same partition count.
      val elastic = Seq("d03_minhash_lsh", "d13_incremental_lsh")
        .filter(n => filter(s"${n}_scaledparts")).map { name =>
        val fn = graft.SparkEntry.queries(name)
        spark.conf.set("spark.sql.shuffle.partitions", (cpus * f).toString)
        try {
          try fn(spark, dir).count() catch { case _: Throwable => }
          def once(): Double = {
            spark.catalog.clearCache(); System.gc()
            val t0 = System.nanoTime()
            fn(spark, dir).count()
            (System.nanoTime() - t0) / 1e9
          }
          val t = math.min(once(), once())
          System.err.println(f"[scale] x$f $name@${cpus * f}parts $t%.2f s")
          s"${name}_scaledparts" -> t
        } finally spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
      }
      f -> (perQuery ++ elastic)
    }
    val base = results.head._2.toMap
    val json = results.map { case (f, qs) =>
      val entries = qs.map { case (n, t) =>
        val ratio = t / math.max(base(n), 1e-9)
        s""""$n":{"sec":${f"$t%.3f"},"ratio":${f"$ratio%.2f"}}"""
      }.mkString(",")
      s""""x$f":{$entries}"""
    }.mkString("{", ",", "}")
    println(json)
    spark.stop()
  }
}
