package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond dedup: sequence packing,
  * deterministic splits, stratified sampling, seeded global shuffle —
  * the steps between "cleaned corpus" and "token stream on the trainer"
  * (public method references: GPT-3 paper appendix B packing; T5
  * "pack_examples"; Dolma toolkit mixing/splitting).
  *
  * Everything is deterministic (hash- or order-based, never RNG state),
  * so re-runs and backfills produce byte-identical splits — the property
  * production pipelines rely on to keep train/val membership stable
  * across incremental runs.
  */
object Packing {

  /** Concat-then-chunk sequence packing: the tokenized corpus is one
    * logical stream in `orderCol` order, cut into fixed `budget`-token
    * chunks; documents may straddle chunk boundaries (the standard LLM
    * pretraining shape). Returns one row per doc with its placement:
    * `(id, n_tokens, cum_before, chunk_start, chunk_end,
    * offset_in_chunk)`.
    *
    * Scale shape: the global running total comes from
    * [[RelationalOps.partitionedRunningSum]] — one plan node over a range
    * exchange that totals each partition, then adds the prefix of those
    * totals to the local running sums —
    * NOT a single-partition window, so the op holds at 100 TB where a
    * global cumsum window would collapse onto one task.
    */
  def packSequences(
      df: DataFrame,
      idCol: Column,
      nTokensCol: Column,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val base = df.select(idCol.cast("long").as("id"),
      nTokensCol.cast("double").as("__n"))
    RelationalOps.partitionedRunningSum(base, "id", Seq("__n"))
      .select(col("id"),
        col("__n").cast("long").as("n_tokens"),
        (col("__cum___n") - col("__n")).cast("long").as("cum_before"))
      .withColumn("chunk_start",
        (col("cum_before") / lit(budget)).cast("long"))
      .withColumn("chunk_end",
        greatest(col("chunk_start"),
          ((col("cum_before") + col("n_tokens") - 1) / lit(budget)).cast("long")))
      .withColumn("offset_in_chunk", pmod(col("cum_before"), lit(budget)))
  }

  /** Deterministic [0, buckets) bucket from the md5 of a column — the
    * hash-based assignment used for splits/sampling below. md5 (not
    * xxhash) so any engine (including the DuckDB oracle) reproduces the
    * bucket byte-for-byte from the same string rendering.
    */
  def hashBucket(c: Column, buckets: Int): Column =
    pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Deterministic train/val/test split on the id hash: membership is a
    * pure function of the id, so appending new data never reshuffles
    * existing rows' split (the leakage-safety property "random()"-based
    * splits lack). Adds a `split` column.
    */
  def deterministicSplit(
      df: DataFrame,
      idCol: Column,
      valPct: Int = 10,
      testPct: Int = 10): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct <= 100,
      s"bad split percentages: val=$valPct test=$testPct")
    val b = hashBucket(idCol, 100)
    df.withColumn("split",
      when(b < valPct, "val")
        .when(b < valPct + testPct, "test")
        .otherwise("train"))
  }

  /** Deterministic stratified sampling: per-stratum keep-percentages
    * applied via the id-hash bucket (same hash for every stratum, so a
    * row's fate is stable under fraction changes — raising a stratum's
    * percentage only ADDS rows). `fractions` maps stratum value →
    * percentage [0,100]; missing strata default to `defaultPct`.
    * This is the source-weighting / data-mixing primitive: up-sample
    * high-quality sources, down-sample the crawl.
    */
  def stratifiedSampleByHash(
      df: DataFrame,
      strataCol: Column,
      idCol: Column,
      fractions: Map[String, Int],
      defaultPct: Int = 100): DataFrame = {
    val pct = fractions.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(strataCol === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(idCol, 100) < pct)
  }

  /** Temperature-scaled source mixing — the multilingual-pretraining
    * sampling rule (mT5 / XLM-R: sample source s with p_s ∝ n_s^α,
    * α < 1 flattening the source distribution so head sources stop
    * drowning the tail). Given a document budget, each source gets
    * quota_s = budget·w_s / Σw and a per-row keep-rate
    * rate_s = min(1, quota_s / n_s); rows are selected by id-hash
    * Bernoulli (same [[hashBucket]] as the other mixing ops) — the
    * shuffle-free 100 TB shape: no per-source top-k sort, membership is
    * a pure function of the id so appending data never flips an
    * existing row's fate.
    *
    * α = 0.5 (the common choice) computes w_s = floor(sqrt(n_s)) and
    * keeps EVERY step in integer arithmetic (IEEE sqrt is correctly
    * rounded, floor/sums/divisions exact) — deterministic across
    * engines, which is what lets the p05 oracle replay it bit-exactly.
    * Other α use floor(n^α) (libm pow — deterministic per engine, not
    * pinned cross-engine).
    *
    * Adds `__rate_ppm` (the source's parts-per-million keep rate) to the
    * selected rows. The per-source rate table is one small aggregate
    * broadcast back onto the corpus — source cardinality is dozens, the
    * same dictionary-sized-structure posture as the other mixing ops.
    */
  def temperatureMix(
      df: DataFrame,
      strataCol: Column,
      idCol: Column,
      budget: Long,
      alpha: Double = 0.5): DataFrame = {
    val rates = temperatureRates(df, strataCol, budget, alpha, epochCap = None)
    // Null-safe join key: groupBy already collects NULL strata into their
    // own group, so <=> gives a NULL stratum a quota like any other —
    // a plain === would silently drop every NULL-stratum row.
    df.join(broadcast(rates), strataCol <=> col("__stratum"))
      .filter(hashBucket(idCol, 1000000) < col("__rate_ppm"))
      .drop("__stratum")
  }

  /** The shared temperature-rate derivation (both mixers): w_s =
    * floor(n_s^α), quota_s = (w_s·budget) div Σw — optionally capped at
    * n_s·epochCap — and rate_ppm = (quota·1e6) div n. Without a cap the
    * rate clamps to 1e6 (pure selection); with one it may exceed 1e6
    * (repetition). Σw comes from an integer window over the tiny rate
    * table (exact, order-free); every step integer arithmetic so the
    * oracles replay it bit-exactly.
    */
  private def temperatureRates(
      df: DataFrame,
      strataCol: Column,
      budget: Long,
      alpha: Double,
      epochCap: Option[Int]): DataFrame = {
    val w =
      if (alpha == 0.5) floor(sqrt(col("__n").cast("double"))).cast("long")
      else floor(pow(col("__n").cast("double"), alpha)).cast("long")
    val counts = df.groupBy(strataCol.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", greatest(w, lit(1L)))
    val rawQuota = expr(s"(__w * CAST($budget AS BIGINT)) div __wsum")
    val quota = epochCap match {
      case Some(m) => least(rawQuota, expr(s"__n * CAST($m AS BIGINT)"))
      case None => rawQuota
    }
    val rate = expr("(__quota * 1000000) div __n")
    counts
      .withColumn("__wsum",
        sum(col("__w")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
      .withColumn("__quota", quota)
      .withColumn("__rate_ppm",
        if (epochCap.isDefined) rate else least(lit(1000000L), rate))
      .select(col("__stratum"), col("__rate_ppm"))
  }

  /** Epoch-capped source mixing — the up-sampling counterpart of
    * [[temperatureMix]] (the Llama/mT5 recipe: small high-quality
    * sources REPEAT up to a cap instead of merely keeping all rows):
    * temperature weights w_s = floor(n_s^α) set each source's share of
    * the budget, but the quota is capped at n_s·maxEpochs so no source
    * repeats more than maxEpochs times. The per-source rate (ppm, may
    * exceed 1e6) splits into floor(rate/1e6) FULL copies of every row
    * plus one extra copy for rows whose id-hash falls under the
    * remainder — deterministic, shuffle-free, append-stable, every step
    * integer arithmetic so the oracle replays it bit-exactly. Output
    * carries `epoch` (0-based copy index, so a downstream seeded
    * shuffle interleaves epochs) and `__rate_ppm`.
    */
  def epochCappedMix(
      df: DataFrame,
      strataCol: Column,
      idCol: Column,
      budget: Long,
      maxEpochs: Int = 4,
      alpha: Double = 0.5): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be positive: $maxEpochs")
    val rates =
      temperatureRates(df, strataCol, budget, alpha, epochCap = Some(maxEpochs))
    df.join(broadcast(rates), strataCol <=> col("__stratum"))
      .withColumn("__copies",
        expr("__rate_ppm div 1000000") +
          when(hashBucket(idCol, 1000000) < col("__rate_ppm") % 1000000, 1L)
            .otherwise(0L))
      .filter(col("__copies") > 0) // sequence(0, -1) is an error, not empty
      .withColumn("epoch",
        explode(sequence(lit(0L), col("__copies") - 1L)))
      .drop("__stratum", "__copies")
  }

  /** Hashed unigram+bigram features for [[dsirScores]] — the DSIR paper's
    * feature space (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling", arXiv:2302.03169 §3: hashed n-grams of
    * the whitespace tokenization, bucketed). Buckets come from the same
    * md5 hash as [[hashBucket]] so any engine replays the assignment.
    * Returns an array<long> of bucket ids, one per gram (duplicates
    * kept — feature counts are per-OCCURRENCE, a bag not a set).
    */
  def hashedGramBuckets(textCol: Column, buckets: Int): Column =
    hashedGramBucketsOfToks(graft.functions.text.tokenize(textCol), buckets)

  /** [[hashedGramBuckets]] over an ALREADY-BOUND token-array column.
    * The token array is referenced five times below (size, two slices,
    * concat); callers must bind it in its own projection first or
    * CollapseProject re-runs the whole tokenize per reference (r21:
    * measured ~6× the tokenize cost inside p07's gram stage).
    */
  def hashedGramBucketsOfToks(toks: Column, buckets: Int): Column = {
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    transform(concat(toks, bigrams), g => hashBucket(g, buckets))
  }

  /** DSIR importance scores (Xie et al. 2023, arXiv:2302.03169): score
    * each RAW document by how target-like its hashed n-gram bag is —
    * `score(doc) = Σ_grams ln p_target(b) − ln p_raw(b)` where both
    * distributions are Laplace-smoothed bucket frequencies
    * `(count(b)+1) / (total+B)`. Selection then resamples by
    * `score + Gumbel noise` ([[dsirResample]]); here the noise is the
    * deterministic hash-Gumbel `−ln(−ln((hash(seed,id)+0.5)/1e6))` so
    * re-runs (and the DuckDB oracle) reproduce the draw exactly —
    * the same determinism posture as every other op in this file.
    *
    * Scale shape: both distribution tables are at most `buckets` rows —
    * they BROADCAST; the per-doc score is one explode + broadcast-join +
    * per-doc partial aggregate (one shuffle keyed on id). No pairwise
    * anything: DSIR is the linear-cost alternative to classifier-based
    * selection, which is exactly why it ran on full CommonCrawl in the
    * paper.
    *
    * Returns `(id, n_grams, score, gumbel_key)` — one row per RAW doc
    * with at least one gram.
    */
  def dsirScores(
      raw: DataFrame,
      target: DataFrame,
      textCol: Column,
      idCol: Column,
      buckets: Int = 1024,
      seed: String = "dsir"): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // Per-(doc, bucket) counts, PERSISTED: the raw corpus' grams explode
    // exactly once — this frame feeds the raw distribution, the raw
    // total, and the score join, and recomputing it re-runs the gram
    // explode each time (the plan showed it three times unpersisted).
    // Materialized rows are slim and bounded: ≤ `buckets` rows per doc.
    // The two distribution frames (≤ buckets rows each) persist for the
    // same reason at no cost.
    // token arrays bound in their OWN projection below the gram lambdas —
    // inlining re-runs the tokenize per lambda reference (see
    // hashedGramBucketsOfToks; r21 measured the inlined form ~6× the
    // tokenize cost)
    val docBuckets = raw
      .select(idCol.as("id"), graft.functions.text.tokenize(textCol).as("__t"))
      .select(col("id"),
        explode(hashedGramBucketsOfToks(col("__t"), buckets)).as("__b"))
      .groupBy(col("id"), col("__b")).agg(count(lit(1)).as("__n"))
      .persist()
    val tCounts = target
      .select(graft.functions.text.tokenize(textCol).as("__t"))
      .select(explode(hashedGramBucketsOfToks(col("__t"), buckets)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .persist()
    val rCounts = docBuckets.groupBy(col("__b")).agg(sum(col("__n")).as("__c"))
      .persist()
    // Totals are driver-collected from the tiny cached count frames
    // (one row each): an EMPTY target would otherwise flow a NULL
    // total into every weight and silently degrade selection to
    // lowest-id order — fail loudly instead. Σc is exact integer; the
    // smoothed log-ratio per bucket is two ln's of exact rationals.
    // Missing buckets fall to the +1 numerator via the full join's
    // coalesce.
    val (tTot, rTot) =
      try {
        val tTotRow = tCounts.agg(sum(col("__c"))).collect()(0)
        require(!tTotRow.isNullAt(0) && tTotRow.getLong(0) > 0L,
          "DSIR target corpus has no grams (empty target, or all target " +
            "text tokenizes to nothing) — importance weights are undefined")
        (tTotRow.getLong(0),
          Option(rCounts.agg(sum(col("__c"))).collect()(0))
            .filterNot(_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L))
      } catch {
        case t: Throwable =>
          // failure path releases the caches — no frame is returned to
          // hold them
          docBuckets.unpersist(blocking = false)
          tCounts.unpersist(blocking = false)
          rCounts.unpersist(blocking = false)
          throw t
      }
    val weights = tCounts.withColumnRenamed("__c", "__ct")
      .join(rCounts.withColumnRenamed("__c", "__cr"), Seq("__b"), "full")
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + 1L).cast("double") /
             lit((tTot + buckets).toDouble)) -
         log((coalesce(col("__cr"), lit(0L)) + 1L).cast("double") /
             lit((rTot + buckets).toDouble))).as("__w"))
    // the gram caches stay live with the returned (lazy) frame, which
    // reads them through a live plan rather than an eager checkpoint;
    // all three frames are slim and bucket-bounded
    docBuckets.join(broadcast(weights), Seq("__b"))
      .groupBy(col("id"))
      .agg(sum(col("__n")).as("n_grams"),
        sum(col("__n").cast("double") * col("__w")).as("score"))
      .withColumn("gumbel_key",
        col("score") - log(-log(
          (hashBucket(concat(lit(seed), lit("-"), col("id").cast("string")),
            1000000).cast("double") + 0.5d) / 1000000.0d)))
  }

  /** DSIR top-k selection: Gumbel-top-k over [[dsirScores]]' keys ≡
    * sampling k docs without replacement with probability ∝ exp(score)
    * (the Gumbel-max trick — public folklore, see the DSIR paper §3.2's
    * resampling step). `orderBy(...).limit(k)` is TakeOrderedAndProject:
    * each partition ships only its local top-k, no global sort.
    */
  def dsirResample(
      raw: DataFrame,
      target: DataFrame,
      textCol: Column,
      idCol: Column,
      k: Int,
      buckets: Int = 1024,
      seed: String = "dsir"): DataFrame =
    dsirScores(raw, target, textCol, idCol, buckets, seed)
      .orderBy(col("gumbel_key").desc, col("id"))
      .limit(k)

  /** Seeded global shuffle for training order: sort by the md5 of
    * (seed, id). Deterministic across runs and engines; at scale the
    * sort is the usual range-repartition + local sort, and downstream
    * writers consume partitions in order — no driver materialization.
    */
  def seededShuffle(df: DataFrame, idCol: Column, seed: String): DataFrame =
    df.withColumn("__shuffle_key",
        md5(concat(lit(seed), lit("-"), idCol.cast("string"))))
      .orderBy(col("__shuffle_key"), idCol)
      .drop("__shuffle_key")
}
