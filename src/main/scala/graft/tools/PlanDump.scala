package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans of headline queries to PLANS.md —
  * the plan-shape evidence (pushdown, broadcast, TakeOrdered, codegen
  * spans) reviewed after each round.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/root/repo/PLANS.md")
    val spark = SparkSession.builder()
      .withExtensions(new graft.engine.GraftExtensions)
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.GraftSession.install(spark)

    val headline = Seq(
      "q01_pricing_summary" -> "scan-heavy aggregation: filter pushed to parquet, partial/final agg",
      "q05_region_volume" -> "star join: every dimension broadcast, single fact shuffle",
      "v01_l2_topk" -> "vector top-K: scoring inside the scan stage, TakeOrderedAndProject merge",
      "t01_bm25_topk" -> "BM25 top-K: codegen'd scoring expressions over one scan",
      "q21_asof_join" -> "ASOF join: union + window, one shuffle on the key",
      "e06_tumble" -> "tumbling window aggregation",
      "t07_fts_topk" -> "FTS index search: pruned bucket-partition postings scan, per-term df aggregated in the plan and broadcast-joined back for idf — no corpus scan, no job while it is built",
      "v11_hnsw_search" -> "HNSW search: per-part single-task scans + union, NO Exchange of the graph",
      "v12_prefilter_ivf" -> "IVF search with pre-filter inside the probed list_id partitions",
      "v14_ivfsq" -> "IVFSQ two-stage: quantized codegen scoring over pruned lists, broadcast semi-join re-rank",
      "h03_hybrid_fts" -> "hybrid fusion with the text leg on the FTS index",
      "d02_ngram_jaccard" -> "exact Jaccard pairs: size-ratio prune INSIDE the shingle self-join (prefix-filter family), sizes shuffled not broadcast",
      "q47_collapsing_final" -> "sign-only collapse FINAL: one agg shuffle on the key + semi join, no per-key window over the table",
      "e29_bitmap" -> "bitmap set algebra: collect_set partial-merge build, array-kernel ops — all codegen, no UDF",
      "q48_sample" -> "SAMPLE clause: deterministic hash-range filter pushed into the scan stage, no shuffle",
      "e34_mann_whitney" -> "rank statistic on the distributed prefix sum: rangepartitioning, no SinglePartition window",
      "d04_simhash" -> "SimHash pairs: adaptive chunk-combination blocking over a localCheckpoint barrier; shuffle-hash bucket self-join (bounded bucket loads — no sort); Hamming verify + first-agreeing-combo filter both map-side on the join output — no pair-dedup shuffle",
      "d09_lsh_cosine" -> "LSH cosine pairs: bucket self-join; cosine verify on the join output so only slim verified pairs shuffle",
      "p01_pack_sequences" -> "sequence packing: range-partitioned two-phase prefix sum, no SinglePartition window",
      "q53_url_ip" -> "URL/IP scalar decomposition: all compat functions codegen into the scan/agg stages",
      "v26_prefilter_hnsw" -> "filtered HNSW with the accept set built AT EXECUTION TIME: the WHERE's id frame aggregates into a mask stage of the same job (zipped into the per-part graph tasks), no plan-time collect",
      "v30_join_distance_ivf" -> "distance-over-join at index speed: the join is fed from the nprobe-pruned list_id= partitions, not a full dense-side scan",
      "v31_batch_hnsw" -> "batch_distance through the HNSW graphs: one single-task scan per part serves the whole batch; per-query top-K merge",
      "q20_with_fill" -> "WITH FILL as union + broadcast LEFT ANTI: the generated series meets only the data's in-window keys (both bounded by the series length) — the data never reshuffles on the fill key; full-outer would force a both-sides sort-merge",
      "d11_sketch_hashes" -> "document sketch gates: CRC32-C SimHash/MinHash computed inside the scan stage, pair joins shuffle only slim (id, sketch) rows",
      "v33_recall_gates" -> "driver-checked ANN recall gates: each approximate path's top-K intersects the exact top-K via broadcast semi-joins, one union of 9 single-row gate legs",
      "q72_spatial_join" -> "bucketed point-in-polygon join: polygons explode to covering grid cells, points hash to their cell, broadcast equi-join on cell + exact containment verify — no cartesian anywhere; smallest-area winner via one window over the slim candidate set",
      "t15_textsearch_subquery" -> "textsearch with a full document as the query: tokens projected ONCE per row (match + all per-term scores reference the attribute — 26 regexp splits per row collapsed to 1); above 32 terms the plan switches to the exploded-postings shape",
      "v34_hnsw_exact" -> "exhaustive-ef HNSW: same per-part single-task graph scans as v11, exact by construction — the oracle-checkable twin of the approximate path",
      "q80_multimodal_decode" -> "multimodal decode: executor-side getObject fetch + JDK codec decode under mapPartitions — partitioning preserved, no shuffle, no driver byte traffic",
      "q82_input_tvf" -> "input() TVF: the INSERT payload parses to an in-memory relation (LocalTableScan) that joins/aggregates like any source — transform runs BEFORE the sink, one broadcast join, no extra shuffle",
      "q83_multimodal_remote" -> "remote-scheme getObject: http and SigV4-presigned s3 fetches run per-row inside the projection (executor-side; loopback server verifies the signature) — same no-shuffle shape as q80's file scheme",
      "v09_ivf_nprobe" -> "nprobe-IVF search: scan restricted to the probed list_id= partitions (PartitionFilters), scoring + TakeOrdered as v01. NOTE replay-oracle side channel: under Verify ONLY (graft.replay.dir property), the first run also exports the row->list assignment + probe set as DuckDB VALUES — memoized per (query, dir), never in Bench's timed path (gated off), never in the search plan below",
      "v19_hnswpq" -> "HNSWPQ two-stage: per-part quantized graph scans (stage 1, ADC distances on dequantized codes) -> broadcast semi-join exact re-rank (stage 2). Replay oracle exports the stage-1 candidate ids under Verify only — the plan below is the engine's own path",
      "q84_filelog" -> "ENGINE = FileLog poll: the appended byte ranges become a tiny repartitioned frame whose tasks read+parse ONLY the new bytes (mapPartitions), materialized as one consistent batch — no corpus scan, poll cost is O(new data)",
      "q85_filelog_mv" -> "FileLog -> MV flow (02024): each poll's materialized batch runs the MV transform and APPENDS to a parquet target; the aggregate reads the TARGET (a plain parquet scan) — exactly-once accumulation verified by the oracle, stream work stays O(new data)",
      "d12_span_dups" -> "span-level (substring) dedup: token-hash array bound ONCE in the Project below the window explode (an inlined transform would re-evaluate per element_at — 40x slower, caught in r17); only 8-byte hashes shuffle — one hash-keyed count window + one id groupBy, no text movement",
      "d13_incremental_lsh" -> "incremental MinHash-LSH (new batch vs seen corpus): candidates meet ONLY in the cross-side band-bucket hash join (never new×new/seen×seen); signatures partial-aggregate map-side (numPerm longs per doc is all that shuffles); exact-Jaccard verify joins the slim candidate set back to per-doc shingle sets — at 100 TB the seen side's buckets are a persisted artifact, cost stays O(batch)",
      "q86_wide_integers" -> "Int128/256 wide integers: construction/arithmetic are scalar UDFs inside the scan-stage projection (one stage, no shuffle beyond the final sort); the `ord` window sorts the raw BINARY column — the order-preserving encoding makes Spark's native BinaryType comparator the numeric comparator, so wide ORDER BY/min/max/GROUP BY need no UDF calls at all",
      "d14_line_dedup" -> "corpus-level span REMOVAL (C4 rule): first-occurrence = groupBy(span) min(struct(doc,pos)) PARTIAL aggregate — map-side combine absorbs boilerplate-span skew where a PARTITION BY span window would funnel every copy of a hot span into one task; one equi-join back + one doc groupBy reassembles",
      "p05_temperature_mix" -> "temperature source mixing: the per-source rate table is one tiny aggregate broadcast back onto the corpus; selection is id-hash Bernoulli inside the scan stage — no per-source sort, no top-k, membership stable under appends",
      "q87_decimal256" -> "Decimal256 (76-digit) scalars: construction/arithmetic in the scan-stage projection; `dord` sorts the raw BINARY — within one scale the offset-binary encoding makes native BinaryType order numeric order, same design as the wide ints",
      "t19_gopher_rules" -> "Gopher filter rules: five integer-comparison rules + keep, all inside one codegen projection over the scan — zero shuffles, the filter stage costs what the scan costs",
      "d15_url_dedup" -> "canonical-URL dedup: the whole normalization (case/www/port/fragment/tracking/sort-params/slash) is regexp+array expressions in the scan-stage projection; one groupBy on the canonical key is the only shuffle — at crawl scale this is the cheapest dedup stage there is",
      "d16_decontaminate" -> "span decontamination: benchmark grams distinct once (broadcastable), covered token positions explode ONLY from matched windows (contaminated docs), one anti-join on (doc, pos) + one reassembly groupBy — clean docs never explode coverage rows",
      "d17_lsh_autoplanes" -> "the ENGINE-DEFAULT LSH path (nPlanes = AutoPlanes): one count job sizes the plane set so expected bucket occupancy stays <=128, then the same bucket self-join + map-side cosine verify as d09 — the default a user gets is the measured-near-flat parameterization, now oracle-hashed itself",
      "q88_scalar_tranche18" -> "scalar tranche 18: arrayJoin resolves to a Generate (explode) over the scan — the row-multiplying front costs one generator, every other tranche-18 scalar (ranked enumerates, state init/finalize, introspection literals) stays inside the same projection; introspection folded to literals AT PLAN TIME (isConstant/isNullable/defaults never execute per-row)",
      "t20_lm_quality" -> "LM quality score (CCNet perplexity-filter stage): the MODEL IS A JOIN — tokens hash to LONGS at tokenize time (xxhash64) and bigrams form as array-adjacent pairs in the scan stage (no (id,pos) self-join anywhere); bigram/unigram count frames from two groupBys over slim hashed rows, score = one left join + two unigram joins + a per-doc avg, every shuffle key an 8-byte long; nothing model-shaped ever reaches the driver, so the reference corpus can be 100 TB",
      "d19_semantic_contamination" -> "semantic contamination: the benchmark side BROADCASTS (BroadcastNestedLoopJoin — small by definition), the corpus streams one map-side cosine sweep, and only the tiny per-benchmark partial aggregate shuffles — no vector ever moves",
      "p06_epoch_mix" -> "epoch-capped up-sampling mix: the per-source rate table is one tiny aggregate broadcast back; repetition = explode(sequence(0, copies-1)) inside the scan stage — integer ppm arithmetic, no per-source sort, membership a pure function of the id",
      "q90_scalar_tranche19" -> "scalar tranche 19: the running family (neighbor/runningDifference/runningAccumulate) is DELIBERATELY a single-partition window over layout order — the reference's block-order semantics ARE a serial walk; the deviation is documented at the builder, and scale users get real window functions (q10/q11/e04). The fuzzy multi-regex columns are scan-stage scalars (NFA simulation per row, no shuffle)",
      "d20_semdedup" -> "SemDeDup at the engine default: centroid table broadcasts (BroadcastNestedLoopJoin), assignment is a map-side max(struct) partial agg — no window; the pairwise cosine join is keyed on cluster_id so the quadratic is bounded by the largest cluster; dup groups via the star-contraction CC; keep rule = one min(struct) partial agg over the slim grouped membership",
      "p07_dsir" -> "DSIR importance resampling: both smoothed bucket distributions are <=buckets rows (BROADCAST joins), per-doc score = one gram explode + per-(doc,bucket) partial agg + broadcast weight join, selection = TakeOrderedAndProject on the Gumbel key — no pairwise stage anywhere, the linear-cost selection recipe",
      "t21_ppl_buckets" -> "CCNet perplexity buckets: the t20 score chain, then the keyed two-phase rank — range repartition on (lang, score6 desc, id), local rank pass, bounded per-(partition, lang) count collect, broadcast offset join — no per-language window funnel; tercile split is closed-form integer arithmetic in the projection",
      "v38_batch_binary" -> "binary batch_distance (reference 00038): query codes broadcast, Hamming kernel scores in the scan stage, bounded per-partition heaps prune to <=2k rows per (partition, query) BEFORE the per-query window — the same 100 TB shape as the float batch path",
      "d22_retention_lsh" -> "quality retention over the LSH PRODUCTION feed: band-bucket joins propose candidates (never all-pairs), exact-Jaccard verify on the slim join output, star-contraction CC, keep = one max(struct) partial agg — the documented 100 TB dedup path, now oracle-hashed end to end")
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (generated by graft.tools.PlanDump)\n")
    sb.append(s"\nScale factor dir: `$sfDir`. Regenerate: " +
      "`sbt \"runMain graft.tools.PlanDump\"`.\n")
    headline.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      sb.append("\n```\n")
    }
    // normal (sort-order) projection substitution — not a SparkEntry
    // query (it needs a registered projection), so built inline
    locally {
      import org.apache.spark.sql.functions.col
      val li = graft.engine.Tables.t(spark, sfDir, "lineitem")
      val srcPath = "file:" + sfDir + "/lineitem.parquet"
      val dir = java.nio.file.Files.createTempDirectory("plandump-normproj").toString
      graft.operators.Projections.buildNormal(spark, li, "plandump_n_shipdate",
        srcPath, dir, sortCols = Seq("l_shipdate"),
        cols = Seq("l_shipdate", "l_orderkey", "l_quantity"))
      val q = li.filter(col("l_shipdate") < "1992-06-01")
        .select("l_orderkey", "l_quantity")
      sb.append("\n## normal_projection_filter\n\n" +
        "filter on a normal projection's leading sort column: the scan is " +
        "the projection's range-partitioned sorted copy (file-level pruning " +
        "on the sort key), not the base table\n\n```\n")
      sb.append(q.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      sb.append("\n```\n")
      graft.operators.Projections.dropNormal("plandump_n_shipdate")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
