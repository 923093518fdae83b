package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.text

/** Training-data text-pipeline operators beyond the reference's surface:
  * sliding-window chunking (context-window packing) and PII redaction.
  * Both are pure per-row column pipelines — whole-stage codegen, no
  * shuffle, no UDF — so they scale as fast as the parquet scan itself.
  */
object TextPipeline {

  /** The Gopher quality-filter rule set (Rae et al. 2021, Appendix A1 —
    * public literature; also the C4/Dolma filtering stage), as per-rule
    * boolean flags plus the conjunctive keep decision:
    *
    *  - word count in [minWords, maxWords];
    *  - mean word length in [3, 10] characters — evaluated as the
    *    INTEGER comparison 3·n ≤ Σlen ≤ 10·n (no float division, so
    *    the oracle replays it bit-exactly);
    *  - symbol-to-word ratio ≤ 0.1 for EACH symbol class separately
    *    ("either the hash symbol or the ellipsis", Rae et al. A1):
    *    10·hashes ≤ n AND 10·ellipses ≤ n, where ellipses counts both
    *    the `…` codepoint and the three-dot `...` form (non-overlapping
    *    exact-3 matches — Java regex and RE2 agree);
    *  - ≥ 80% of words contain a letter → 5·alpha ≥ 4·n (the paper's
    *    threshold);
    *  - at least 2 of the paper's stop list {the, be, to, of, and,
    *    that, have, with} present.
    *
    * The bullet-line / ellipsis-line rules need line structure this
    * corpus lacks (documented out; the line unit is what d14 spans
    * stand in for). Pure per-row column math — codegen, no shuffle.
    */
  /** The stop list the Gopher paper's rule names (Rae et al. 2021 A1). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      minWords: Long = 50L,
      maxWords: Long = 100000L): DataFrame = {
    val stats = df.select(
      idCol.as("id"),
      text.tokenize(textCol).as("__t"),
      (length(textCol) - length(translate(textCol, "#", "")))
        .cast("long").as("__hash"),
      ((length(textCol) - length(translate(textCol, "…", ""))) +
        regexp_count(textCol, lit("\\.{3}")))
        .cast("long").as("__ellipsis"))
      .select(col("id"), col("__hash"), col("__ellipsis"),
        size(col("__t")).cast("long").as("n_words"),
        aggregate(transform(col("__t"), t => length(t).cast("long")),
          lit(0L), (a, b) => a + b).as("__chars"),
        size(filter(col("__t"), t => t.rlike("[a-z]")))
          .cast("long").as("__alpha"),
        size(filter(col("__t"),
          t => t.isin(gopherStopwords.map(lit(_)): _*)))
          .cast("long").as("__sw"))
    stats.select(col("id"), col("n_words"),
      col("n_words").between(minWords, maxWords).as("word_count_ok"),
      (col("__chars") >= col("n_words") * 3L &&
        col("__chars") <= col("n_words") * 10L).as("mean_wlen_ok"),
      (col("__hash") * 10L <= col("n_words") &&
        col("__ellipsis") * 10L <= col("n_words")).as("symbol_ok"),
      (col("__alpha") * 5L >= col("n_words") * 4L).as("alpha_ok"),
      (col("__sw") >= 2L).as("stopword_ok"))
      .withColumn("keep",
        col("word_count_ok") && col("mean_wlen_ok") && col("symbol_ok") &&
          col("alpha_ok") && col("stopword_ok"))
  }

  /** Sliding-window token chunking: tokens [s, s+size) for
    * s = 1, 1+stride, ... while s <= token count (the last chunk may be
    * shorter; stride < size gives overlapping chunks). Output one row per
    * chunk: (id, chunk_idx, n_tokens, chunk_text) over the normalized
    * token stream — the context-window packing step of an LLM data
    * pipeline.
    */
  def chunk(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0,
      s"chunkSize/stride must be positive: $chunkSize/$stride")
    // Token array in its own projection: inlining it into the per-chunk
    // lambdas would re-run tokenization once per chunk (CollapseProject).
    df.select(idCol.as("id"), text.tokenize(textCol).as("__toks"))
      .select(col("id"), col("__toks"),
        posexplode(sequence(lit(1), greatest(size(col("__toks")), lit(1)), lit(stride))))
      .select(col("id"), col("pos").as("chunk_idx"),
        least(lit(chunkSize), size(col("__toks")) - col("col") + 1).as("n_tokens"),
        array_join(slice(col("__toks"), col("col"), lit(chunkSize)), " ").as("chunk_text"))
  }

  /** Language-model quality score — the CCNet / Gopher perplexity-filter
    * stage (Wenzek et al. 2020, Rae et al. 2021 — public literature):
    * score each document by how predictable its tokens are under an
    * n-gram LM with stupid backoff (Brants et al. 2007, α = 0.4). The
    * reference corpus here is the scored corpus itself (self-scoring —
    * boilerplate scores high, lorem-noise low); at 100 TB the reference
    * side is a held-out sample and the count frames become persisted
    * artifacts, exactly like the incremental-LSH posture.
    *
    * Spark-first shape — the MODEL IS A JOIN, never a driver-side
    * structure: bigram counts and unigram counts are two groupBy frames;
    * each token position joins its (prev, cur) count and backs off to
    * α·unigram when unseen. Per-token probability
    *   s_i = c2(prev,cur)/c1(prev)   if the bigram was seen
    *       = 0.4 · c1(cur)/T         otherwise (stupid backoff)
    * and the document score is mean(s_i) over positions 2..m. Every
    * per-token s_i is an exactly-replayable IEEE division (no
    * transcendental in the pinned column; callers wanting classic PPL
    * can exp/log the same frame); the final MEAN's floating sum is
    * order-dependent across engines in its last ulp, which the oracle's
    * 4-decimal rounding absorbs at any realistic margin. Single-token
    * and token-less docs score NULL (no bigram positions).
    */
  def lmQualityScore(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      alpha: Double = 0.4,
      reference: DataFrame = null): DataFrame = {
    // Tokens are HASHED to longs at tokenize time (xxhash64) and the
    // surface strings never leave the scan stage: every downstream
    // shuffle key — the unigram/bigram groupBys and the three count
    // joins — is a fixed-width long instead of a variable-width string,
    // which at 100 TB is the difference between shuffling the corpus
    // vocabulary and shuffling 8-byte keys. A 64-bit collision merges
    // two vocabulary entries' counts (P ≈ |vocab|²/2⁶⁵ — negligible at
    // any real vocabulary, and this is a scoring stage, not an exact
    // operator). Bigrams come straight from the token ARRAY as adjacent
    // pairs — a scan-stage lambda, NOT the former (id, pos) self-join,
    // so the whole pair-forming shuffle is gone.
    //
    // r22 (guide §1.2/§2.4 — one pass instead of four): a single
    // (id, ph, wh) row per TOKEN POSITION (ph null at position 0)
    // carries everything the model needs — unigram counts are the `wh`
    // column (each token appears exactly once as its own position's
    // wh), the total T is their sum, and bigram rows are the ph-not-null
    // subset. The r21 form tokenized the corpus once per frame: the
    // token-count action, the unigram groupBy, the count-side bigrams
    // and the scored-side bigrams — four full tokenize passes
    // self-scored (a direct token-ARRAY persist was A/B'd in r21 and
    // lost: token strings are corpus-sized; these rows are three longs).
    //
    // Nothing is persisted and nothing runs while the frame is built, so
    // a long-lived session keeps no cached frame per call. Self-scored,
    // the corpus is tokenized twice: once for the pair counts, which the
    // plan shares between the bigram join, both unigram joins and T, and
    // once for the scored positions.
    def tokenPairs(src: DataFrame): DataFrame =
      src.select(idCol.as("id"), text.tokenize(textCol).as("__t"))
        .select(col("id"), explode(expr(
          """transform(__t, (x, i) -> struct(
               CASE WHEN i > 0 THEN xxhash64(__t[i - 1]) END AS ph,
               xxhash64(x) AS wh))""")).as("tp"))
        .select(col("id"), col("tp.ph").as("ph"), col("tp.wh").as("wh"))
    // count frames come from the REFERENCE corpus when given (the
    // CCNet posture: a held-out/high-quality reference LM), else from
    // the scored corpus itself
    val dfPairs = tokenPairs(df)
    val refPairs = if (reference == null) dfPairs else tokenPairs(reference)
    // c2 per (ph, wh), position 0 under the sentinel ph xxhash64('') (no
    // token is empty): c1(w) is the sum over every ph and T the sum over
    // every pair. A non-null key lets no consumer push a filter below
    // the aggregate, so all of them read the same exchange.
    val pairCounts = refPairs
      .groupBy(coalesce(col("ph"), expr("xxhash64('')")).as("p"), col("wh").as("w"))
      .agg(count(lit(1)).as("c2"))
    val uni = pairCounts.groupBy(col("w").as("th")).agg(sum(col("c2")).as("c1"))
    // T = max(Σ c1, 1) over the vocab-bounded unigram frame, as one
    // aggregate row inside the plan
    val total = uni.agg(greatest(coalesce(sum(col("c1")), lit(0L)), lit(1L))
      .cast("double").as("__T"))
    val scored = dfPairs.filter(col("ph").isNotNull)
      .join(pairCounts, col("ph") === col("p") && col("wh") === col("w"), "left")
      .join(uni.withColumnRenamed("th", "__pt").withColumnRenamed("c1", "c1p"),
        col("ph") === col("__pt"), "left")
      .join(uni.withColumnRenamed("th", "__ct").withColumnRenamed("c1", "c1c"),
        col("wh") === col("__ct"), "left")
      .crossJoin(broadcast(total))
      .select(col("id"),
        // seen bigram: c2/c1(prev); else stupid backoff α·c1(cur)/T,
        // with an unseen NEXT token counting one virtual occurrence
        // (zero would poison the mean; a seen bigram implies a seen
        // prev, so c1p is never null on the first branch)
        when(col("c2").isNotNull,
        col("c2").cast("double") / col("c1p").cast("double"))
        .otherwise(lit(alpha) *
          greatest(coalesce(col("c1c"), lit(0L)), lit(1L)).cast("double") /
          col("__T"))
        .as("__s"))
    df.select(idCol.as("id")).join(
        scored.groupBy("id").agg(avg(col("__s")).as("mean_tok_prob")),
        Seq("id"), "left")
      .select(col("id"), col("mean_tok_prob")) // raw; callers round ONCE
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    * §4.3, arXiv:1911.00359): per LANGUAGE, rank documents by LM quality
    * ([[lmQualityScore]] — higher mean token probability = lower
    * perplexity = more fluent) and split into equal-count terciles;
    * CCNet keeps head(+middle) for pretraining. Unscorable docs
    * (< 2 tokens → null score) never occupy a rank — terciles split the
    * SCORABLE docs only (ranked nulls would both land in head for tiny
    * languages and inflate the count, promoting bottom-tercile scorable
    * docs) — and come back unconditionally as 'tail'.
    *
    * Determinism/scale notes: the rank key is the score ROUNDED at 6
    * decimals (ties broken by id) so the per-engine last-ulp of a
    * float mean can't flip an ordering; the within-language rank is
    * [[RelationalOps.keyedRank]] — one range-partitioned two-pass plan
    * node, NOT a per-language window, so the head language doesn't
    * funnel into one task; the tercile split is the standard ntile rule
    * (first n%3 buckets get the extra row) computed in closed-form
    * integer arithmetic from the rank and the per-language count, so any
    * engine replays it exactly.
    *
    * Returns `(id, lang, mean_tok_prob, ppl_bucket)` with bucket ∈
    * head/middle/tail.
    */
  def perplexityBuckets(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      langCol: Column,
      alpha: Double = 0.4,
      reference: DataFrame = null): DataFrame = {
    val scored = lmQualityScore(df, textCol, idCol, alpha, reference)
    // Not persisted: the rank, the per-language counts and the tail
    // branch read the same score exchanges, which the plan reuses.
    val base = df.select(idCol.as("id"), langCol.as("lang"))
      .join(scored, Seq("id"))
      .withColumn("__s6", round(col("mean_tok_prob"), 6))
    // Terciles are computed over SCORABLE docs only: if unscorable docs
    // occupied ranks they would inflate the per-language count and
    // promote bottom-tercile scorable docs into head (a language with 3
    // scorable + 6 unscorable docs would put ALL scorable docs in
    // head). Unscorable docs bypass ranking entirely and union back in
    // as tail.
    val scorable = base.filter(col("__s6").isNotNull)
    val ranked = RelationalOps.keyedRank(scorable, "lang",
      Seq(col("__s6").desc, col("id").asc))
    val counts = scorable.groupBy(col("lang").as("__clang"))
      .agg(count(lit(1)).as("__n"))
    val bucketNum = expr(
      """CASE WHEN __rank <= ((__n div 3) + 1) * (__n % 3)
        |     THEN (__rank - 1) div ((__n div 3) + 1) + 1
        |     ELSE (__n % 3) +
        |          (__rank - ((__n div 3) + 1) * (__n % 3) - 1)
        |            div greatest(__n div 3, 1) + 1
        |END""".stripMargin)
    val bucketed = ranked
      .join(broadcast(counts), col("lang") <=> col("__clang"))
      .withColumn("__b", bucketNum)
      .select(col("id"), col("lang"), col("mean_tok_prob"),
        when(col("__b") === 1, "head")
          .when(col("__b") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
    bucketed.unionByName(
      base.filter(col("__s6").isNull)
        .select(col("id"), col("lang"), col("mean_tok_prob"),
          lit("tail").as("ppl_bucket")))
  }

  // RE2-compatible patterns (no lookarounds) — identical semantics under
  // Java regex (Spark) and RE2 (DuckDB oracle / Dolma-style pipelines).
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: count and mask emails, NANP-style phone numbers and
    * IPv4 literals. Counts are taken on the ORIGINAL text (order-
    * independent); masking is applied email → phone → ip so an already-
    * masked span is never re-matched. Adds columns
    * (n_emails, n_phones, n_ips, <out>) and keeps the rest of the row.
    */
  def piiRedact(df: DataFrame, textCol: Column, outCol: String = "redacted"): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(textCol, lit(EmailPattern), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(textCol, lit(PhonePattern), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(textCol, lit(Ipv4Pattern), lit(0))))
      .withColumn(outCol,
        regexp_replace(
          regexp_replace(
            regexp_replace(textCol, EmailPattern, "[EMAIL]"),
            PhonePattern, "[PHONE]"),
          Ipv4Pattern, "[IP]"))
}
