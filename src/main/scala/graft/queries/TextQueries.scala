package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables.t
import graft.functions.text
import graft.operators.{Deletes, FtsIndex, HybridSearch, TextPipeline, TextSearch}

/** Full-text + hybrid search and text-analysis coverage (SURVEY §2.1
  * textsearch/hybridsearch; pipeline text ops). BM25 oracle reimplements
  * Tantivy's formula in pure SQL over the same tokenization.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private val query1 = "spark merge join"
  private val query2 = "window batch stream"

  // DuckDB fragment: tokenize exactly like graft.functions.text.tokenize
  private[queries] val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  private def bm25OracleSql(
      terms: Seq[String], k: Int, and: Boolean,
      corpus: String = "documents",
      qtSql: Option[String] = None,
      resultWhere: Option[String] = None): String = {
    val termList = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    val wherePieces =
      (if (and) Seq(s"doc_id IN (SELECT doc_id FROM d WHERE list_has_all(toks, $termList))")
       else Nil) ++ resultWhere.toSeq
    val andFilter =
      if (wherePieces.isEmpty) "" else "WHERE " + wherePieces.mkString(" AND ")
    val qtClause = qtSql.getOrElse(s"SELECT unnest($termList) AS term")
    s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM $corpus),
      dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM d),
      stats AS (SELECT CAST(count(1) AS DOUBLE) AS n,
                       avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM d),
      tf AS (SELECT doc_id, tok, CAST(count(1) AS DOUBLE) AS tf
             FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1, 2),
      qt AS ($qtClause),
      dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                FROM tf JOIN qt ON tok = term GROUP BY 1),
      scores AS (
        SELECT tf.doc_id,
               sum(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
                   tf.tf * (1.2 + 1) /
                   (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
        FROM tf
        JOIN dfreq ON tf.tok = dfreq.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id)
      SELECT * FROM (
        SELECT doc_id, round(score, 4) AS bm25_score
        FROM scores $andFilter
        ORDER BY score DESC, doc_id LIMIT $k)
      ORDER BY bm25_score DESC, doc_id"""
  }

  private def ftsDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-fts", dir)(idx => FtsIndex.build(s,
      t(s, dir, "documents"), "doc_id", "text", IndexFixtures.name("fts_documents", dir),
      idx, nBuckets = 64, sourcePath = s"$dir/documents.parquet"))

  /** FTS index over the HYBRID corpus (documents ⋈ embeddings) — BM25
    * stats must be computed over the same joined rows as the direct path
    * (cardinalities can differ between the two tables).
    */
  private def hybFtsDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-fts-hyb", dir) { idx =>
      val joined = t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
      FtsIndex.build(s, joined, "doc_id", "text", IndexFixtures.name("fts_hybrid", dir),
        idx, nBuckets = 64, sourcePath = s"$dir/documents+embeddings")
    }

  /** Cosine IVF index over the embeddings table for the fully-indexed
    * hybrid path (dense_nprobe leg).
    */
  private def hybIvfDir(s: SparkSession, dir: String): String =
    IndexFixtures.dir("graft-ivf-hyb", dir)(idx => graft.operators.IvfIndex.build(s,
      t(s, dir, "embeddings"), "embedding", IndexFixtures.name("ivf_hybrid", dir), idx,
      "cosine", 16))

  val queries: Map[String, Q] = Map(
    // Fully index-backed hybrid: dense leg probes the cosine IVF index
    // (dense_nprobe search parameter), text leg reads the FTS postings —
    // no corpus scan on either leg. dense_nprobe=16 probes every list ⇒
    // exhaustive-exact dense candidates ⇒ shares h01's direct-path
    // oracle; realistic-nprobe recall is pinned in HybridSearchSpec.
    "h04_hybrid_dense_ivf" -> ((s, dir) => {
      val qvec = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      HybridSearch.hybridSearchFullyIndexed(s, "doc_id", "vec_id", qvec,
          query1, 10, hybIvfDir(s, dir), hybFtsDir(s, dir), "rsf",
          denseNprobe = 16)
        .select(col("doc_id"), round(col("fused_score"), 4).as("fused_score"))
        .orderBy(col("fused_score").desc, col("doc_id"))
    }),
    // textsearch() top-K, OR semantics (any term), BM25-scored.
    "t01_bm25_topk" -> ((s, dir) => {
      TextSearch.textSearch(t(s, dir, "documents"), col("text"), query1, 10,
          "OR", "bm25_score", Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // textsearch() with operator=AND (all terms must match).
    "t02_bm25_and" -> ((s, dir) => {
      TextSearch.textSearch(t(s, dir, "documents"), col("text"), query2, 10,
          "AND", "bm25_score", Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // textsearch() whose QUERY STRING is a scalar subquery (reference
    // 00040_mqvs_hybrid_search_with_subquery.sql: `textsearch(doc,
    // (SELECT doc FROM t WHERE hasToken(doc, 'Ancient') LIMIT 1))`).
    // The subquery resolves to the lowest-doc_id document containing the
    // token 'spark'; its full text becomes the BM25 query — query terms =
    // that document's distinct tokens. A scalar subquery is a
    // driver-materialized single value in the reference too, so the
    // `.head()` here is the operator's semantics, not a shortcut.
    "t15_textsearch_subquery" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qtext = docs
        .filter(array_contains(text.tokenize(col("text")), "spark"))
        .orderBy(col("doc_id")).select(col("text"))
        .head().getString(0)
      TextSearch.textSearch(docs, col("text"), qtext, 10,
          "OR", "bm25_score", Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // FTS-INDEX search AFTER a lightweight DELETE: the reference's
    // index path masks deleted rows out of the RESULT while the
    // index-resident BM25 stats keep their built values until a merge
    // (t16 below is the post-merge twin that recomputes stats). The
    // oracle scores with full-corpus stats and filters the result set.
    "t17_fts_lwd" -> ((s, dir) => {
      val deleted = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 3).select(col("doc_id"))
      FtsIndex.search(s, ftsDir(s, dir), query1, 10, "OR", "bm25_score",
          Seq(col("doc_id")), deletedIds = Some(deleted))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // textsearch() AFTER a lightweight DELETE (reference
    // 00040_mqvs_hybrid_search_with_lwd.sql re-runs textsearch after
    // `DELETE FROM t WHERE id=13`): the masked rows disappear from the
    // result AND from the BM25 global statistics (N, avgdl, df), exactly
    // as the reference's index search honors `_row_exists` — the
    // post-merge semantics; t17 above is the index-path pre-merge twin.
    "t16_textsearch_lwd" -> ((s, dir) => {
      val surviving = Deletes.applyMask(
        Deletes.delete(t(s, dir, "documents"), col("doc_id") % 7 === 3))
      TextSearch.textSearch(surviving, col("text"), query1, 10,
          "OR", "bm25_score", Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // Token counting (pipeline op).
    "t03_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    // BPE-style pre-tokenizer count (the LLM data-budget unit): letter
    // runs / digit runs / punctuation runs with optional leading space.
    "t12_bpe_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          text.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    // Sliding-window token chunking (context-window packing): 32-token
    // chunks, stride 24 (8-token overlap).
    "t13_chunking" -> ((s, dir) => {
      TextPipeline.chunk(t(s, dir, "documents"), col("text"), col("doc_id"),
          chunkSize = 32, stride = 24)
        .select(col("id").as("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          col("n_tokens").cast("long").as("n_tokens"), col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    // PII redaction over a derived column (the raw corpus has no PII, so
    // the query plants a deterministic email/phone/IP per doc and the
    // operator must count and mask all three).
    "t14_pii_redaction" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-1234 from 10.0."), pmod(col("doc_id"), lit(256)), lit(".7")
        ).as("text"))
      TextPipeline.piiRedact(withPii, col("text"))
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ips").cast("long").as("n_ips"), col("redacted"))
        .orderBy(col("doc_id"))
    }),
    // Language ID heuristic (stopword density).
    "t04_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(text.stopwordRatio(col("text")), 4).as("stopword_ratio"),
          text.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),
    // Quality scoring (length/alpha/stopword blend).
    "t05_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), text.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),
    // The Gopher FILTER RULE SET (Rae et al. 2021 Appendix A1) as
    // per-rule booleans + the conjunctive keep flag — every rule an
    // integer comparison (no float division), so the oracle replays it
    // bit-exactly. Complements t05's blended score and t18's repetition
    // signal; together these are the pretraining quality-filter stage.
    "t19_gopher_rules" -> ((s, dir) =>
      graft.operators.TextPipeline.gopherRules(
          t(s, dir, "documents"), col("text"), col("doc_id"),
          minWords = 30L, maxWords = 100000L)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // LM quality score — the CCNet/Gopher perplexity-filter stage
    // (Wenzek et al. 2020): mean stupid-backoff bigram probability of
    // each document, self-scored against the corpus. The model IS a
    // join (bigram + unigram count frames), so the oracle recomputes
    // the identical counts and IEEE divisions — no driver-side model,
    // no transcendental in the pinned column.
    // Scored docs only (single-token docs have no bigram positions and
    // drop out) — which also keeps the row COUNT a function of the
    // scoring join, so count()-based timing cannot elide the pipeline.
    "t20_lm_quality" -> ((s, dir) =>
      graft.operators.TextPipeline.lmQualityScore(
          t(s, dir, "documents"), col("text"), col("doc_id"))
        .filter(col("mean_tok_prob").isNotNull)
        .withColumnRenamed("id", "doc_id")
        .select(col("doc_id"),
          round(col("mean_tok_prob"), 4).as("mean_tok_prob"))
        .orderBy(col("doc_id"))),

    // CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020):
    // per-language equal-count terciles of the t20 LM score — CCNet's
    // keep-head(+middle) corpus cut. Rank key = score rounded at 6
    // (id tiebreak) so a per-engine float ulp can't flip an ordering;
    // the within-language rank is the two-phase keyedRank (no
    // per-language window task funnel); the tercile is the closed-form
    // ntile rule, replayed by the oracle in integer arithmetic.
    "t21_ppl_buckets" -> ((s, dir) =>
      graft.operators.TextPipeline.perplexityBuckets(
          t(s, dir, "documents"), col("text"), col("doc_id"), col("lang"))
        .select(col("id").as("doc_id"), col("lang"),
          round(col("mean_tok_prob"), 4).as("mean_tok_prob"),
          col("ppl_bucket"))
        .orderBy(col("doc_id"))),

    // Repetition quality signal (Gopher-style, Rae et al. 2021 — public
    // literature): fraction of tokens covered by the most frequent
    // bigram. High values mark boilerplate/looping text; the standard
    // pretraining-corpus filter alongside t05's quality blend. Exact
    // shape: bigrams explode (token array materialized in its OWN
    // projection — the CollapseProject trap), count per (doc, gram),
    // max per doc — two doc-keyed shuffles, no pair joins.
    "t18_repetition" -> ((s, dir) => {
      val withT = t(s, dir, "documents")
        .select(col("doc_id"), text.tokenize(col("text")).as("__t"))
      val base = withT.select(col("doc_id"), size(col("__t")).as("n_tokens"))
      val grams = withT.select(col("doc_id"),
        when(size(col("__t")) >= 2,
          transform(sequence(lit(1), size(col("__t")) - 1),
            i => concat_ws(" ", element_at(col("__t"), i),
              element_at(col("__t"), i + 1))))
          .otherwise(array().cast("array<string>")).as("__g"))
      val top = grams.select(col("doc_id"), explode(col("__g")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
      base.join(top, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          coalesce(col("top_c"), lit(0L)).cast("long").as("top_c"),
          round(lit(2.0) * coalesce(col("top_c"), lit(0L)) /
            greatest(col("n_tokens"), lit(1)), 4).as("rep_frac"))
        .withColumn("flagged", col("rep_frac") > 0.2)
        .orderBy(col("doc_id"))
    }),
    // Document fingerprinting (md5 of normalized text).
    "t06_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), text.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),
    // textsearch() against the persisted FTS posting-list index — must
    // reproduce t01's (non-indexed) results exactly: one pruned postings
    // scan instead of two full corpus scans.
    "t07_fts_topk" -> ((s, dir) => {
      FtsIndex.search(s, ftsDir(s, dir), query1, 10, "OR", "bm25_score",
          Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // Indexed AND search — must reproduce t02 exactly.
    "t08_fts_and" -> ((s, dir) => {
      FtsIndex.search(s, ftsDir(s, dir), query2, 10, "AND", "bm25_score",
          Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // Hybrid search, RSF fusion (reference defaults: w=0.5, 3×k
    // candidates per sub-search).
    "h01_hybrid_rsf" -> ((s, dir) => {
      // materialized once: hybridSearch reads the joined corpus three
      // times (BM25 stats pass, text leg, vector leg) — re-running the
      // join per leg measured ~1.6× the materialized form (r21 A/B:
      // min 1.32 → 0.72 s)
      val joined = t(s, dir, "documents")
        .join(t(s, dir, "embeddings"),
          col("doc_id") === col("vec_id"))
        .localCheckpoint(true)
      val qvec = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      HybridSearch.hybridSearch(joined, "doc_id", col("embedding"), col("text"),
          qvec, query1, 10, "rsf", "cosine")
        .select(col("doc_id"), round(col("fused_score"), 4).as("fused_score"))
        .orderBy(col("fused_score").desc, col("doc_id"))
    }),
    // textsearch with enable_nlq: phrase + must + must-not query language
    // (Tantivy parser subset, VSDescription.h:72-108).
    "t09_nlq" -> ((s, dir) => {
      TextSearch.textSearchNlq(t(s, dir, "documents"), col("text"),
          """"customer join" +table -hash""", 10, "bm25_score",
          Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // fts_index() inspection TVF (reference schema: total_docs,
    // field_tokens, terms_freq per part) — flattened to one row per
    // query term for the DuckDB oracle: per-term document frequency and
    // the table-global doc count must match a direct recount from the
    // corpus. (The part-local field_tokens totals depend on the index's
    // bucket hashing and are pinned by FtsIndexSpec instead.)
    "t12_fts_index_tvf" -> ((s, dir) => {
      FtsIndex.ftsIndexInspect(s, ftsDir(s, dir), query1)
        .select(col("total_docs"), explode(col("terms_freq")).as("tf"))
        .select(col("tf.term_str").as("term"),
          col("tf.doc_freq").as("doc_freq"), col("total_docs"))
        .orderBy(col("term"))
    }),
    // NLQ against the positional postings index (phrase chain over
    // per-term position lists) — must reproduce t09's direct path.
    "t10_fts_nlq" -> ((s, dir) => {
      FtsIndex.searchNlq(s, ftsDir(s, dir),
          """"customer join" +table -hash""", 10, "bm25_score",
          Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // Hybrid search with the text leg served by the FTS posting-list
    // index — must reproduce h01's direct-path fusion exactly.
    "h03_hybrid_fts" -> ((s, dir) => {
      val joined = t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
      val qvec = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      HybridSearch.hybridSearchIndexed(joined, "doc_id", col("embedding"),
          qvec, query1, 10, hybFtsDir(s, dir), "rsf", "cosine")
        .select(col("doc_id"), round(col("fused_score"), 4).as("fused_score"))
        .orderBy(col("fused_score").desc, col("doc_id"))
    }),
    // textsearch() over a Map column's VALUES (reference mapKeys/mapValues
    // search target, CommonUtils.h:104): docs carried as
    // map('lang'→lang, 'text'→text); the lang token now participates in
    // BM25 (query term 'en' matches every English doc's map).
    "t11_map_textsearch" -> ((s, dir) => {
      val withMap = t(s, dir, "documents")
        .withColumn("m", map(lit("lang"), col("lang"), lit("text"), col("text")))
      TextSearch.textSearchMap(withMap, col("m"), "en spark merge", 10,
          "values", "OR", "bm25_score", Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // textsearch() over an Array(String) column (reference
    // 00040_mqvs_hybrid_search.sql `t_vector_invert_array`: the fts
    // index treats the array as one multi-value field, so BM25 stats see
    // the concatenation of the elements — the `source` element changes
    // per-row document length vs the plain-text corpus, so this row is
    // NOT t01 with different labels).
    "t22_array_textsearch" -> ((s, dir) => {
      val withArr = t(s, dir, "documents")
        .withColumn("docs", array(col("source"), col("text")))
      TextSearch.textSearchArray(withArr, col("docs"), query1, 10,
          "OR", "bm25_score", Seq(col("doc_id")))
        .select(col("doc_id"), round(col("bm25_score"), 4).as("bm25_score"))
        .orderBy(col("bm25_score").desc, col("doc_id"))
    }),
    // FULLY-INDEXED hybrid search AFTER a lightweight DELETE: the IVF
    // dense leg anti-joins the mask inside the probed lists (v13's
    // machinery) and the FTS text leg masks results against index-built
    // stats (t17's machinery) — the reference's indexed pre-merge
    // behavior on both legs. dense_nprobe=16 probes every list ⇒ exact.
    "h06_hybrid_lwd_indexed" -> ((s, dir) => {
      val deleted = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 3)
        .select(col("doc_id").as("vec_id")) // IVF masks by the vector id col
      val qvec = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      HybridSearch.hybridSearchFullyIndexed(s, "doc_id", "vec_id", qvec,
          query1, 10, hybIvfDir(s, dir), hybFtsDir(s, dir), "rsf",
          denseNprobe = 16, deletedIds = Some(deleted))
        .select(col("doc_id"), round(col("fused_score"), 4).as("fused_score"))
        .orderBy(col("fused_score").desc, col("doc_id"))
    }),
    // Hybrid search AFTER a lightweight DELETE (reference
    // 00040_mqvs_hybrid_search_with_lwd.sql): BOTH legs honor the mask —
    // the dense leg never surfaces a deleted row as a candidate and the
    // BM25 leg recomputes its global stats over the survivors.
    "h05_hybrid_lwd" -> ((s, dir) => {
      // materialized once — three consumers, see h01
      val joined = Deletes.applyMask(Deletes.delete(
        t(s, dir, "documents")
          .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id")),
        col("doc_id") % 7 === 3))
        .localCheckpoint(true)
      val qvec = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      HybridSearch.hybridSearch(joined, "doc_id", col("embedding"), col("text"),
          qvec, query1, 10, "rsf", "cosine")
        .select(col("doc_id"), round(col("fused_score"), 4).as("fused_score"))
        .orderBy(col("fused_score").desc, col("doc_id"))
    }),
    // Hybrid search, RRF fusion (fusion_k=60).
    "h02_hybrid_rrf" -> ((s, dir) => {
      // materialized once — three consumers, see h01
      val joined = t(s, dir, "documents")
        .join(t(s, dir, "embeddings"),
          col("doc_id") === col("vec_id"))
        .localCheckpoint(true)
      val qvec = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      HybridSearch.hybridSearch(joined, "doc_id", col("embedding"), col("text"),
          qvec, query1, 10, "rrf", "cosine")
        .select(col("doc_id"), round(col("fused_score"), 6).as("fused_score"))
        .orderBy(col("fused_score").desc, col("doc_id"))
    }),
  )

  private val stopwordsSql = text.englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared CTE fragment: BM25 scores over a corpus (doc_id, text). */
  private def bm25ScoresCte(terms: Seq[String], corpus: String): String = {
    val termList = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""
      d AS (SELECT doc_id, $toksSql AS toks FROM $corpus),
      dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM d),
      stats AS (SELECT CAST(count(1) AS DOUBLE) AS n,
                       avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM d),
      tf AS (SELECT doc_id, tok, CAST(count(1) AS DOUBLE) AS tf
             FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1, 2),
      qt AS (SELECT unnest($termList) AS term),
      dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                FROM tf JOIN qt ON tok = term GROUP BY 1),
      scores AS (
        SELECT tf.doc_id,
               sum(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
                   tf.tf * (1.2 + 1) /
                   (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))) AS score
        FROM tf
        JOIN dfreq ON tf.tok = dfreq.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id)"""
  }

  /** Hybrid oracle: both sub-searches (30 candidates each = 3×k), exact
    * reference fusion math in SQL. The hybrid corpus is documents ⋈
    * embeddings on doc_id = vec_id (they can differ in cardinality per
    * scale factor, and BM25 statistics are corpus-global).
    */
  /** @param maskResultsOnly pre-merge index semantics: BM25 statistics
    *   over the FULL corpus, the survivor predicate applied only to the
    *   candidate lists (t17's contract, both legs).
    */
  private def hybridOracleSql(
      fusion: String, survivor: Option[String] = None,
      maskResultsOnly: Boolean = false): String = {
    val corpusWhere =
      if (maskResultsOnly) ""
      else survivor.map(p => s" WHERE d2.doc_id $p").getOrElse("")
    val corpus =
      "(SELECT d2.doc_id, d2.text FROM documents d2 JOIN embeddings e " +
        s"ON d2.doc_id = e.vec_id$corpusWhere)"
    val bmWhere =
      if (maskResultsOnly) survivor.map(p => s" WHERE doc_id $p").getOrElse("")
      else ""
    val vecWhere = survivor.map(p => s" WHERE vec_id $p").getOrElse("")
    val qv = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
    val fusionSelect = fusion match {
      case "rsf" => s"""
      vstat AS (SELECT min(dist) AS mn, max(dist) AS mx FROM vec_cand),
      tstat AS (SELECT min(score) AS mn, max(score) AS mx FROM bm25_cand),
      vnorm AS (SELECT doc_id,
                       CASE WHEN mx = mn THEN 1.0 ELSE (dist - mn) / (mx - mn) END AS nd
                FROM vec_cand, vstat),
      tnorm AS (SELECT doc_id,
                       CASE WHEN mx = mn THEN 1.0 ELSE (score - mn) / (mx - mn) END AS nb
                FROM bm25_cand, tstat),
      fused AS (SELECT coalesce(v.doc_id, t.doc_id) AS doc_id,
                       coalesce((1.0 - v.nd) * 0.5, 0) + coalesce(t.nb * 0.5, 0) AS f
                FROM vnorm v FULL OUTER JOIN tnorm t ON v.doc_id = t.doc_id)
      SELECT * FROM (
        SELECT doc_id, round(f, 4) AS fused_score FROM fused
        ORDER BY f DESC, doc_id LIMIT 10)
      ORDER BY fused_score DESC, doc_id"""
      case _ => s"""
      vrank AS (SELECT doc_id, row_number() OVER (ORDER BY dist ASC, doc_id) AS r
                FROM vec_cand),
      trank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
                FROM bm25_cand),
      fused AS (SELECT coalesce(v.doc_id, t.doc_id) AS doc_id,
                       coalesce(1.0 / (60 + v.r), 0) + coalesce(1.0 / (60 + t.r), 0) AS f
                FROM vrank v FULL OUTER JOIN trank t ON v.doc_id = t.doc_id)
      SELECT * FROM (
        SELECT doc_id, round(f, 6) AS fused_score FROM fused
        ORDER BY f DESC, doc_id LIMIT 10)
      ORDER BY fused_score DESC, doc_id"""
    }
    s"""
      WITH ${bm25ScoresCte(TextSearch.queryTerms(query1), corpus)},
      bm25_cand AS (SELECT doc_id, score FROM scores$bmWhere
                    ORDER BY score DESC, doc_id LIMIT 30),
      vec_cand AS (SELECT vec_id AS doc_id,
                          CAST(1.0 - list_cosine_similarity(embedding, $qv) AS DOUBLE) AS dist
                   FROM embeddings$vecWhere
                   ORDER BY 1.0 - list_cosine_similarity(embedding, $qv), vec_id
                   LIMIT 30),$fusionSelect"""
  }

  val oracles: Map[String, String] = Map(
    "h01_hybrid_rsf" -> hybridOracleSql("rsf"),
    "h02_hybrid_rrf" -> hybridOracleSql("rrf"),
    // indexed hybrid shares the direct-path oracle (index ≡ direct)
    "h03_hybrid_fts" -> hybridOracleSql("rsf"),
    // fully-indexed hybrid at dense_nprobe = nLists (exhaustive-exact
    // dense leg) shares it too
    "h04_hybrid_dense_ivf" -> hybridOracleSql("rsf"),
    // LWD hybrid: both legs and the fusion restricted to survivors.
    "h05_hybrid_lwd" -> hybridOracleSql("rsf", survivor = Some("% 7 <> 3")),
    // indexed LWD hybrid: full-corpus (index-built) stats, masked legs.
    "h06_hybrid_lwd_indexed" -> hybridOracleSql("rsf",
      survivor = Some("% 7 <> 3"), maskResultsOnly = true),
    "t01_bm25_topk" -> bm25OracleSql(TextSearch.queryTerms(query1), 10, and = false),
    "t02_bm25_and" -> bm25OracleSql(TextSearch.queryTerms(query2), 10, and = true),
    // Query string from a scalar subquery: the query's term set is the
    // distinct tokens (in any order — BM25 OR is order-independent) of
    // the lowest-doc_id document containing 'spark'.
    "t15_textsearch_subquery" -> bm25OracleSql(Nil, 10, and = false,
      qtSql = Some(
        "SELECT DISTINCT unnest(qtoks) AS term FROM (SELECT " + toksSql +
          " AS qtoks FROM documents WHERE list_contains(" + toksSql +
          ", 'spark') ORDER BY doc_id LIMIT 1)")),
    // LWD: corpus and statistics restricted to the surviving rows.
    "t16_textsearch_lwd" -> bm25OracleSql(TextSearch.queryTerms(query1), 10,
      and = false,
      corpus = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3)"),
    // index-path LWD: full-corpus (index-built) stats, masked results.
    "t17_fts_lwd" -> bm25OracleSql(TextSearch.queryTerms(query1), 10,
      and = false, resultWhere = Some("doc_id % 7 <> 3")),
    // The indexed paths share the non-indexed oracles — proving
    // index path ≡ direct path ≡ oracle.
    "t07_fts_topk" -> bm25OracleSql(TextSearch.queryTerms(query1), 10, and = false),
    "t08_fts_and" -> bm25OracleSql(TextSearch.queryTerms(query2), 10, and = true),
    // fts_index() TVF: per-term df + global doc count recomputed from the
    // corpus (a term appears once per (term, doc) posting)
    "t12_fts_index_tvf" -> {
      val termList = TextSearch.queryTerms(query1)
        .map(t => s"'$t'").mkString("[", ", ", "]")
      s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      qt AS (SELECT unnest($termList) AS term)
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
             (SELECT count(1) FROM documents) AS total_docs
      FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
      JOIN qt ON tok = term
      GROUP BY term ORDER BY term"""
    },
    // Map-values search ≡ BM25 over the values flattened to one text
    // stream ("lang text"), exactly what textSearchMap builds.
    "t11_map_textsearch" -> bm25OracleSql(
      TextSearch.queryTerms("en spark merge"), 10, and = false,
      corpus = "(SELECT doc_id, lang || ' ' || text AS text FROM documents)"),
    // Array(String) target: elements join into one field, so the oracle
    // corpus is the same space-joined concatenation.
    "t22_array_textsearch" -> bm25OracleSql(
      TextSearch.queryTerms(query1), 10, and = false,
      corpus = "(SELECT doc_id, source || ' ' || text AS text FROM documents)"),
    // scored terms in parse order (must ++ should ++ phrase tokens)
    "t09_nlq" -> s"""
      WITH ${bm25ScoresCte(Seq("table", "customer", "join"), "documents")},
      nlq_toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      nlq_m AS (SELECT doc_id FROM nlq_toks
                WHERE list_contains(tk, 'table')
                  AND (' ' || array_to_string(tk, ' ') || ' ') LIKE '% customer join %'
                  AND NOT list_contains(tk, 'hash'))
      SELECT * FROM (
        SELECT s.doc_id, round(s.score, 4) AS bm25_score
        FROM scores s JOIN nlq_m USING (doc_id)
        ORDER BY s.score DESC, s.doc_id LIMIT 10)
      ORDER BY bm25_score DESC, doc_id""",
    "t10_fts_nlq" -> s"""
      WITH ${bm25ScoresCte(Seq("table", "customer", "join"), "documents")},
      nlq_toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
      nlq_m AS (SELECT doc_id FROM nlq_toks
                WHERE list_contains(tk, 'table')
                  AND (' ' || array_to_string(tk, ' ') || ' ') LIKE '% customer join %'
                  AND NOT list_contains(tk, 'hash'))
      SELECT * FROM (
        SELECT s.doc_id, round(s.score, 4) AS bm25_score
        FROM scores s JOIN nlq_m USING (doc_id)
        ORDER BY s.score DESC, s.doc_id LIMIT 10)
      ORDER BY bm25_score DESC, doc_id""",
    "t03_token_count" -> s"""
      SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
      FROM documents ORDER BY doc_id""",
    // DuckDB standard strings don't process backslashes — the pattern is
    // embedded verbatim (`\t` stays the 2-char regex escape both engines
    // read as tab).
    "t12_bpe_token_count" -> s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '${graft.functions.text.bpePattern}')) AS BIGINT) AS n_bpe
      FROM documents ORDER BY doc_id""",
    "t04_lang_id" -> s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      r AS (SELECT doc_id,
                   CASE WHEN len(toks) > 0
                        THEN CAST(len(list_filter(toks,
                               x -> list_contains($stopwordsSql, x))) AS DOUBLE)
                             / CAST(len(toks) AS DOUBLE)
                        ELSE 0.0 END AS ratio
            FROM d)
      SELECT doc_id, round(ratio, 4) AS stopword_ratio,
             CASE WHEN ratio >= 0.03 THEN 'en' ELSE 'unknown' END AS lang_pred
      FROM r ORDER BY doc_id""",
    // exact-rational integer HALF_UP blend — mirrors qualityScore's
    // integer arithmetic so the compare is engine- and SF-independent
    "t05_quality_score" -> s"""
      WITH d AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
      f AS (SELECT doc_id,
                   least(CAST(length(text) AS BIGINT), 500) AS len_num,
                   CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS BIGINT) AS alpha,
                   greatest(CAST(length(text) AS BIGINT), 1) AS ncs,
                   greatest(CAST(len(toks) AS BIGINT), 1) AS ts,
                   least(10 * CAST(len(list_filter(toks,
                       x -> list_contains($stopwordsSql, x))) AS BIGINT),
                     CAST(len(toks) AS BIGINT)) AS m
            FROM d)
      SELECT doc_id,
             (((len_num * ncs * ts + 500 * alpha * ts + 250 * m * ncs) * 20000
               + 1250 * ncs * ts) // (2 * 1250 * ncs * ts)) / 10000.0 AS quality
      FROM f ORDER BY doc_id""",
    // t19: every rule an integer comparison over token stats; the
    // stopword list is the engine's englishStopwords inlined
    "t19_gopher_rules" -> s"""
      WITH d AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_words,
              CAST(coalesce(list_aggregate(
                list_transform(toks, x -> len(x)), 'sum'), 0) AS BIGINT) AS chars,
              CAST(len(list_filter(toks,
                x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
              CAST(len(list_filter(toks, x -> list_contains(
                ['the','be','to','of','and','that','have','with'], x)))
                AS BIGINT) AS sw,
              CAST(length(text) - length(replace(text, '#', ''))
                AS BIGINT) AS hashes,
              CAST(length(text) - length(replace(text, '…', ''))
                AS BIGINT)
                + CAST(len(regexp_extract_all(text, '\\.\\.\\.'))
                AS BIGINT) AS ellipses
            FROM d)
      SELECT doc_id, n_words,
             n_words BETWEEN 30 AND 100000 AS word_count_ok,
             chars >= 3 * n_words AND chars <= 10 * n_words AS mean_wlen_ok,
             10 * hashes <= n_words AND 10 * ellipses <= n_words
               AS symbol_ok,
             5 * alpha >= 4 * n_words AS alpha_ok,
             sw >= 2 AS stopword_ok,
             (n_words BETWEEN 30 AND 100000)
               AND chars >= 3 * n_words AND chars <= 10 * n_words
               AND 10 * hashes <= n_words AND 10 * ellipses <= n_words
               AND 5 * alpha >= 4 * n_words
               AND sw >= 2 AS keep
      FROM m ORDER BY doc_id""",
    // t20: bigram/unigram counts recomputed in SQL; prob = c2/c1(prev)
    // when the bigram exists, else 0.4 * c1(cur)/T — the same IEEE
    // divisions, averaged per doc
    "t20_lm_quality" -> s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      pos AS (SELECT doc_id,
                unnest(toks) AS tok,
                unnest(range(1, len(toks) + 1)) AS pos
              FROM d),
      big AS (SELECT doc_id, pos, tok,
                lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM pos),
      uni AS (SELECT tok, count(*) AS c1 FROM pos GROUP BY tok),
      bi AS (SELECT prev AS p, tok AS w, count(*) AS c2
             FROM big WHERE prev IS NOT NULL GROUP BY 1, 2),
      s AS (SELECT big.doc_id,
              CASE WHEN bi.c2 IS NOT NULL
                   THEN CAST(bi.c2 AS DOUBLE) / CAST(up.c1 AS DOUBLE)
                   ELSE 0.4 * CAST(uc.c1 AS DOUBLE)
                        / CAST((SELECT count(*) FROM pos) AS DOUBLE)
              END AS sc
            FROM big
            LEFT JOIN bi ON bi.p = big.prev AND bi.w = big.tok
            JOIN uni up ON up.tok = big.prev
            JOIN uni uc ON uc.tok = big.tok
            WHERE big.prev IS NOT NULL)
      SELECT s.doc_id,
             round(avg(s.sc), 4) AS mean_tok_prob
      FROM s
      GROUP BY s.doc_id
      ORDER BY s.doc_id""",
    // t21: the t20 score chain, then per-lang rank on round(score, 6)
    // (DESC NULLS LAST, doc_id tiebreak) and the closed-form ntile(3)
    // rule — first n%3 buckets take the extra row.
    "t21_ppl_buckets" -> s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      pos AS (SELECT doc_id,
                unnest(toks) AS tok,
                unnest(range(1, len(toks) + 1)) AS pos
              FROM d),
      big AS (SELECT doc_id, pos, tok,
                lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              FROM pos),
      uni AS (SELECT tok, count(*) AS c1 FROM pos GROUP BY tok),
      bi AS (SELECT prev AS p, tok AS w, count(*) AS c2
             FROM big WHERE prev IS NOT NULL GROUP BY 1, 2),
      s AS (SELECT big.doc_id,
              CASE WHEN bi.c2 IS NOT NULL
                   THEN CAST(bi.c2 AS DOUBLE) / CAST(up.c1 AS DOUBLE)
                   ELSE 0.4 * CAST(uc.c1 AS DOUBLE)
                        / CAST((SELECT count(*) FROM pos) AS DOUBLE)
              END AS sc
            FROM big
            LEFT JOIN bi ON bi.p = big.prev AND bi.w = big.tok
            JOIN uni up ON up.tok = big.prev
            JOIN uni uc ON uc.tok = big.tok
            WHERE big.prev IS NOT NULL),
      sc AS (SELECT d0.doc_id, d0.lang, avg(s.sc) AS score
             FROM documents d0 LEFT JOIN s ON s.doc_id = d0.doc_id
             GROUP BY 1, 2),
      r AS (SELECT doc_id, lang, score,
              row_number() OVER (PARTITION BY lang
                ORDER BY round(score, 6) DESC, doc_id) AS rk,
              count(1) OVER (PARTITION BY lang) AS n
            FROM sc WHERE score IS NOT NULL),
      b AS (SELECT doc_id,
              CASE WHEN rk <= ((n // 3) + 1) * (n % 3)
                   THEN (rk - 1) // ((n // 3) + 1) + 1
                   ELSE (n % 3) +
                        (rk - ((n // 3) + 1) * (n % 3) - 1)
                          // greatest(n // 3, 1) + 1
              END AS bn
            FROM r)
      SELECT sc.doc_id, sc.lang, round(sc.score, 4) AS mean_tok_prob,
             CASE WHEN sc.score IS NULL THEN 'tail'
                  WHEN b.bn = 1 THEN 'head' WHEN b.bn = 2 THEN 'middle'
                  ELSE 'tail' END AS ppl_bucket
      FROM sc LEFT JOIN b ON b.doc_id = sc.doc_id
      ORDER BY sc.doc_id""",
    "t18_repetition" -> s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      g AS (SELECT doc_id, len(toks) AS n_tokens,
              CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])
                ELSE [] END AS grams
            FROM d),
      c AS (SELECT doc_id, g AS gram, count(1) AS c
            FROM (SELECT doc_id, unnest(grams) AS g FROM g)
            GROUP BY doc_id, gram),
      t AS (SELECT doc_id, max(c) AS top_c FROM c GROUP BY doc_id)
      SELECT g.doc_id,
             CAST(g.n_tokens AS BIGINT) AS n_tokens,
             CAST(coalesce(t.top_c, 0) AS BIGINT) AS top_c,
             round(2.0 * coalesce(t.top_c, 0) / greatest(g.n_tokens, 1), 4)
               AS rep_frac,
             round(2.0 * coalesce(t.top_c, 0) / greatest(g.n_tokens, 1), 4) > 0.2
               AS flagged
      FROM g LEFT JOIN t ON g.doc_id = t.doc_id
      ORDER BY g.doc_id""",
    "t06_fingerprint" -> """
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents ORDER BY doc_id""",
    // chunk starts s = 1, 1+stride, ... while s <= len (DuckDB range() is
    // stop-exclusive, Spark sequence() stop-inclusive — hence len+1).
    "t13_chunking" -> s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      st AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 24)) AS s
             FROM d)
      SELECT doc_id, CAST((s - 1) // 24 AS INT) AS chunk_idx,
             CAST(least(32, len(toks) - s + 1) AS BIGINT) AS n_tokens,
             array_to_string(list_slice(toks, s, s + 31), ' ') AS chunk_text
      FROM st ORDER BY doc_id, chunk_idx""",
    "t14_pii_redaction" -> s"""
      WITH p AS (SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or 555-' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
               '-1234 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t2
             FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(t2, '${TextPipeline.EmailPattern}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(t2, '${TextPipeline.PhonePattern}')) AS BIGINT) AS n_phones,
             CAST(len(regexp_extract_all(t2, '${TextPipeline.Ipv4Pattern}')) AS BIGINT) AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(t2,
               '${TextPipeline.EmailPattern}', '[EMAIL]', 'g'),
               '${TextPipeline.PhonePattern}', '[PHONE]', 'g'),
               '${TextPipeline.Ipv4Pattern}', '[IP]', 'g') AS redacted
      FROM p ORDER BY doc_id""",
  )
}
