package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1), prints one JSON line
  * {"metric":...,"queries":{name:sec,...}}. Each query is forced with
  * a count() action (cold JVM — first query absorbs session startup).
  */
object Bench {
  /** The timed order of `names` for `SPARK_GRAFT_BENCH_ORDER` = `mode`.
    * "interleave" (the default) round-robins across the query families
    * (d/e/h/p/q/t/v prefixes, alphabetical within a family) so every
    * family samples the WHOLE run window: ambient pressure (a Verify/DuckDB
    * tear-down overlapping the bench) or cumulative in-JVM
    * state can then shift the total but never silently tax one family —
    * which is exactly what produced the r11 d-family and r13 t-family
    * "regressions" on untouched code (both vanished in an idle
    * environment; r14 bisection: t-family isolated = faster than r11,
    * full-alpha local = faster than r11, only the alpha run under ambient
    * load drifted). "alpha" and "reverse" remain for A/B bisection. Any other
    * value throws, so a typo cannot quietly time the default order.
    */
  def order(mode: String, names: Seq[String]): Seq[String] = {
    val base = names.sorted
    mode match {
      case "interleave" =>
        val fams = base.groupBy(_.take(1)).toSeq.sortBy(_._1).map(_._2)
        val maxLen = if (fams.isEmpty) 0 else fams.map(_.length).max
        (0 until maxLen).flatMap(i => fams.flatMap(_.lift(i)))
      case "alpha" => base
      case "reverse" => base.reverse
      case other => throw new IllegalArgumentException(
        s"unknown SPARK_GRAFT_BENCH_ORDER '$other': expected interleave, alpha or reverse")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=d01_exact_dedup,d08_contamination : restrict the
    // timed set (bisection / local iteration). SPARK_GRAFT_BENCH_ORDER: see
    // order(); the order is recorded in the output JSON.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val orderMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER", "interleave")
    val allNames = SparkEntry.queries.keys.toSeq
    val names = order(orderMode, only.fold(allNames)(s => allNames.filter(s.contains)))
    val spark = graft.engine.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Untimed warm-up: exercise scan/agg/window/sort codegen paths once so
    // the alphabetically-first query doesn't absorb JVM+codegen startup.
    {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.range(100000)
        .withColumn("g", col("id") % 10)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("id"))))
        .groupBy(col("g")).agg(sum(col("id")), count(lit(1)))
        .orderBy(col("g")).count()
      // Touch every benched table once so OS page-cache state does not
      // depend on what ran before this JVM (the driver runs Verify + the
      // DuckDB oracle immediately before Bench; round-11's d-family "warm
      // regression" was exactly this ambient-pressure effect — it vanishes
      // in an idle environment and bisection exonerated the r11 code).
      for (tbl <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "documents", "embeddings"))
        graft.engine.Tables.t(spark, sfDir, tbl).foreach(_ => ())
      graft.engine.Tables.t(spark, sfDir, "events").foreach(_ => ())
      // Pre-build persisted indexes (IVF/HNSW/SQ/BinaryIVF/FTS) untimed —
      // the reference builds indexes at insert/merge time, not inside the
      // first query that happens to use them; timed numbers then measure
      // search, not one-off construction.
      // d02 runs once untimed as well: round-9 bench showed its run 1 at
      // 2.79× run 2 (13.2 s vs 4.7 s) — the first multi-second dedup query
      // absorbs the PPJoin kernels' JIT + the session's first large shuffle
      // spill. Warming it keeps the timed run 1 representative.
      val warmNames = Seq("v08_ivf_exact", "v11_hnsw_search", "v14_ivfsq",
          "v15_binary_ivf", "v16_ivfpq", "v17_hnswsq", "v18_binary_hnsw",
          "v19_hnswpq", "v25_ivf_cosine_exact", "t07_fts_topk",
          "h03_hybrid_fts", "h04_hybrid_dense_ivf", "v27_mstg_search",
          "d02_ngram_jaccard")
      // Under SPARK_GRAFT_BENCH_ONLY, warm only what the filtered set needs
      // (same first letter ≈ same family/artifacts) so bisection runs fast.
      val warmOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim.take(1)).toSet)
      warmNames.filter(n => warmOnly.forall(_.contains(n.take(1)))).foreach { n =>
        SparkEntry.queries.get(n).foreach { fn =>
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $n failed: ${e.getMessage}") }
        }
      }
    }

    val timeSplit = sys.env.contains("SPARK_GRAFT_BENCH_SPLIT")
    // Ambient-noise sentinel (round 20): a FIXED constant-work CPU job —
    // range → xxhash64 → 1-row partial agg; no I/O, no data shuffle — timed
    // immediately before and after the query pass. Its drift measures the
    // MACHINE (driver tear-down overlap, co-tenant pressure), never the
    // engine: same-HEAD bench totals spread 109.7–130.4 s across round-19
    // windows and needed manual adjudication every round. When the
    // post/pre ratio exceeds 1.2× the window was degraded mid-run, so a
    // THIRD timing pass runs and the reported statistic becomes min-of-3 —
    // the extra pass re-samples every query outside the spike. Both
    // sentinel times and the ratio are recorded in the output JSON.
    def sentinelOnce(): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 26, 1L, 64)
        .selectExpr("xxhash64(id, id + 3) % 1024 AS h") // mod: no ANSI sum overflow
        .agg(org.apache.spark.sql.functions.sum("h"))
        .head()
      (System.nanoTime() - t0) / 1e9
    }
    sentinelOnce() // untimed: absorb the sentinel's own codegen/JIT
    val sentinelPre = sentinelOnce()
    // Every query is timed TWICE back-to-back (identical isolation); the
    // REPORTED per-query number is min(run1, run2) — the noise-robust
    // statistic (rounds 15/16 both had warm deltas on untouched code
    // that were only adjudicable as "inside the ±8% ambient band"; the
    // min of two runs discards whichever sample an ambient spike hit).
    // Both raw runs are still recorded in full in the output file. Run 2
    // is EXPECTED to be somewhat faster (JIT + page cache warm —
    // measured ~25% median at sf0.1), so the `unstable` flag marks
    // genuine pathology only: run 2 SLOWER by >25% (a cross-query
    // leak — cache, shuffle files, memory pressure) or a >2× swing in
    // either direction, above a 1 s floor (tightened from 3× after
    // round 9 let a 2.79× d02 cold-start pass silently).
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // Query isolation: drop any SQL cache a previous query left behind
      // and give the ContextCleaner a GC tick to release unreferenced
      // localCheckpoint blocks — without this, cached/checkpointed blocks
      // leak across queries and the iterative entries (dedup suite, GD)
      // swing 2-3x run-to-run on identical code. Runs OUTSIDE the timed
      // window. (Index artifacts are parquet + JVM-object caches, not
      // Spark SQL cache, so warm-up-built indexes survive clearCache.)
      // A run that THROWS must not win the min with its fail-fast wall
      // time (review r20: run3 fires exactly when the machine is
      // degraded, so a third-pass OOM at 0.4 s would silently replace
      // two good 5 s samples) — failed runs report +inf so only
      // successful samples compete; if every run failed the +inf total
      // is loud rather than flattering.
      def once(): Double = {
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        var ok = true
        try {
          if (timeSplit) {
            val df = fn(spark, sfDir) // Dataset construction = analysis
            val t1 = System.nanoTime()
            df.count()
            val t2 = System.nanoTime()
            System.err.println(f"[bench-split] $name build=${(t1 - t0) / 1e9}%.3f exec=${(t2 - t1) / 1e9}%.3f")
          } else fn(spark, sfDir).count()
        }
        catch { case e: Throwable =>
          ok = false
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity
      }
      val r1 = once()
      val r2 = once()
      (name, r1, r2, once _)
    }
    val sentinelPost = sentinelOnce()
    val sentinelRatio = math.max(sentinelPost, sentinelPre) /
      math.max(math.min(sentinelPost, sentinelPre), 1e-9)
    // Degraded window → one more pass over every query, min-of-3.
    val run3: Option[Map[String, Double]] =
      if (sentinelRatio > 1.2) {
        System.err.println(f"[bench] sentinel drifted ${sentinelRatio}%.2fx " +
          f"($sentinelPre%.3f -> $sentinelPost%.3f s): taking a third pass")
        Some(results.map { case (k, _, _, again) => k -> again() }.toMap)
      } else None
    val sentinelFinal = run3.map(_ => sentinelOnce())
    val unstable = results.filter { case (_, r1, r2, _) =>
      val swing = math.max(r1, r2) / math.max(math.min(r1, r2), 1e-9)
      math.max(r1, r2) > 1.0 && ((r2 > r1 * 1.25 && r2 > 1.0) || swing > 2.0)
    }.map(_._1)
    // Adjudication stat: per-query min of the two (or three) runs.
    // (+inf, not MaxValue, as the no-third-run identity — a query that
    // failed EVERY run must stay infinite so fmt() renders it -1)
    val best = results.map { case (k, r1, r2, _) =>
      k -> math.min(math.min(r1, r2),
        run3.flatMap(_.get(k)).getOrElse(Double.PositiveInfinity))
    }
    def render(prec: String, shown: Seq[(String, Double)], full: Boolean): String = {
      // failed samples carry +inf (see once()); JSON renders them -1 so
      // the line stays parseable and the failure stays visible
      def fmt(v: Double): String = if (v.isInfinite) "-1" else prec.format(v)
      val qs = shown
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = fmt(best.map(_._2).sum)
      val extra =
        if (shown.size < results.size)
          s""","queries_shown":${shown.size},"queries_total":${results.size}"""
        else ""
      val run2 =
        if (!full) s""","unstable_count":${unstable.size}"""
        else {
          val q1 = results
            .map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v) }
            .mkString("{", ",", "}")
          val q2 = results
            .map { case (k, _, v, _) => "\"" + k + "\":" + fmt(v) }
            .mkString("{", ",", "}")
          val q3 = run3.fold("") { m =>
            val s = results
              .map { case (k, _, _, _) => "\"" + k + "\":" + fmt(m(k)) }
              .mkString("{", ",", "}")
            s""","queries_run3":$s"""
          }
          val us = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
          s""","queries_run1":$q1,"queries_run2":$q2$q3,"unstable":$us"""
        }
      val stat = if (run3.isDefined) "min_of_3" else "min_of_2"
      val sentinel = s""","sentinel_pre":${"%.3f".format(sentinelPre)}""" +
        s""","sentinel_post":${"%.3f".format(sentinelPost)}""" +
        s""","sentinel_ratio":${"%.3f".format(sentinelRatio)}""" +
        sentinelFinal.fold("")(v => s""","sentinel_final":${"%.3f".format(v)}""")
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"$stat"$sentinel,"order":"$orderMode","queries":$qs$run2$extra,"sf":"$sfDir"}"""
    }
    // stdout: 2-decimal precision + a cap on the per-query map keep the
    // line short enough to survive the harness's bounded stdout-tail
    // capture (rounds 1–2 lost the JSON to truncation); when capped, the
    // slowest queries are kept and queries_shown/queries_total record the
    // truncation. The file keeps every query at full precision and is
    // authoritative.
    // Round 3 lost the line head at 100 entries (~3.1KB vs a ~3KB buffer);
    // 40 entries is ~1.3KB — comfortable margin.
    val MaxStdoutQueries = 40
    val stdoutShown =
      if (best.size <= MaxStdoutQueries) best
      else best.sortBy(-_._2).take(MaxStdoutQueries).sortBy(_._1)
    // One COMPACT extra line BEFORE the contract line (tail-capture
    // keeps the end; the driver parses the LAST line, so the contract
    // line must stay last): both raw-run totals — so the stdout capture
    // alone shows cold/warm alongside the min-of-2 adjudication total —
    // plus run-2 times for the flagged-unstable queries only (the full
    // two-run maps live in the committed BENCH.json).
    // runs_raw must stay parseable JSON when a run carries +inf (a
    // failed query) — render infinities as -1 like the contract line
    def fin(v: Double, p: String = "%.2f"): String =
      if (v.isInfinite || v.isNaN) "-1" else p.format(v)
    val run2Map = results.map { case (k, _, v, _) => k -> v }.toMap
    val qs2 = unstable.map(k => "\"" + k + "\":" + fin(run2Map(k)))
      .mkString("{", ",", "}")
    val total1 = fin(results.map(_._2).sum)
    val total2 = fin(results.map(_._3).sum)
    val total3 = run3.fold("")(m => s""","run3_total":${fin(m.values.sum)}""")
    val sline = f""","sentinel_pre":$sentinelPre%.3f,"sentinel_post":$sentinelPost%.3f,"sentinel_ratio":$sentinelRatio%.2f"""
    println(s"""{"metric":"runs_raw","run1_total":$total1,"run2_total":$total2$total3$sline,"unit":"sec","unstable_run2":$qs2}""")
    println(render("%.2f", stdoutShown, full = false))
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      render("%.3f", best, full = true) + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
  }
}
