package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.text

/** BM25 full-text search — the `textsearch()` function and
  * `full_text_search()` table function of the reference
  * (`/root/reference/src/VectorIndex/Storages/MergeTreeTextSearchManager.cpp`,
  * `TableFunctionFullTextSearch.cpp:110-141`).
  *
  * The reference computes BM25 against **table-global** statistics (all
  * parts/shards): doc count, per-term doc-freq, total tokens — collected
  * before the search and shipped to every node
  * (`collectStatisticForBM25Calculation`, `CommonUtils.h:107`;
  * `ReadWithHybridSearch.cpp:263-290`). Here the stats are one aggregation
  * job whose (tiny, query-terms-only) result is broadcast into the scoring
  * expression — global by construction.
  *
  * Scoring is Tantivy's BM25 (k1=1.2, b=0.75,
  * idf = ln(1 + (N - df + 0.5) / (df + 0.5))).
  */
object TextSearch {

  val K1 = 1.2
  val B = 0.75

  case class Bm25Stats(totalDocs: Long, avgDl: Double, docFreq: Map[String, Long])

  def queryTerms(query: String): Seq[String] =
    query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq

  /** One pass over the corpus: N, avgdl, and df for the query terms only.
    * The text is tokenized ONCE into a projected column — per-term
    * aggregates reference the attribute, not a per-term re-tokenization
    * (a 26-term query was paying 26 regexp splits per row before r14).
    */
  def collectStats(df: DataFrame, textCol: Column, terms: Seq[String]): Bm25Stats = {
    val toks = col("__graft_toks")
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(toks, t), 1L).otherwise(0L)).as(s"df_$i")
    }
    val allAggs = Seq(
      count(lit(1)).as("n"),
      avg(size(toks).cast("double")).as("avgdl")) ++ dfAggs
    val row = df.select(text.tokenize(textCol).as("__graft_toks"))
      .agg(allAggs.head, allAggs.tail: _*).head()
    Bm25Stats(
      row.getAs[Long]("n"),
      row.getAs[Double]("avgdl"),
      terms.zipWithIndex.map { case (t, i) => t -> row.getAs[Long](s"df_$i") }.toMap)
  }

  /** Tantivy's idf, `ln(1 + (N - df + 0.5) / (df + 0.5))` — the one idf
    * of the text family (Scala `math.log`; Spark's `log` is StrictMath and
    * may differ in the last bit).
    */
  def idf(n: Long, df: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** One term's BM25 contribution for term frequency `tf` in a document
    * of `dl` tokens — the one scoring rule of the direct and the index
    * path.
    */
  private[operators] def bm25Term(idf: Column, tf: Column, dl: Column, avgDl: Double): Column =
    idf * tf * lit(K1 + 1.0) / (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / avgDl))

  /** BM25 score column for `query` given global stats. Pure built-in
    * expressions (codegen'd): tf via a filtered token count, dl via token
    * count; the per-term idf is a literal folded at plan time.
    */
  def bm25Score(textCol: Column, terms: Seq[String], stats: Bm25Stats): Column =
    bm25ScoreTokens(text.tokenize(textCol), terms, stats)

  /** Same scoring over an already-tokenized column (the attribute form —
    * one tokenize per row no matter how many terms reference it).
    */
  def bm25ScoreTokens(toks: Column, terms: Seq[String], stats: Bm25Stats): Column = {
    val dl = size(toks).cast("double")
    val perTerm = terms.map { t =>
      val dfT = stats.docFreq.getOrElse(t, 0L)
      if (dfT == 0L) lit(0.0)
      else bm25Term(lit(idf(stats.totalDocs, dfT)),
        size(filter(toks, x => x === t)).cast("double"), dl, stats.avgDl)
    }
    perTerm.reduceOption(_ + _).getOrElse(lit(0.0))
  }

  /** BM25 per document from postings rows `(term, <doc>, tf, dl)` — the
    * one scorer of the index path and the many-terms direct path. Per-term
    * df is a `groupBy(term).count` over the same rows, broadcast back (≤
    * |terms| rows), so no job runs while the plan is built; idf goes
    * through a UDF over [[idf]]. `only` restricts the scored documents
    * (df still counts every row); `allTerms > 0` keeps only the documents
    * that post for that many distinct terms (AND). Returns `(<doc>,
    * <scoreName>)`.
    */
  private[operators] def scorePostings(posts: DataFrame, doc: String, nDocs: Long,
      avgDl: Double, scoreName: String, allTerms: Int = 0,
      only: Option[DataFrame] = None): DataFrame = {
    val dfs = posts.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val idfU = udf((df: Long) => idf(nDocs, df))
    val rows = posts.join(broadcast(dfs), "term")
    val perDoc = only.fold(rows)(rows.join(_, Seq(doc), "left_semi"))
      .withColumn("__c", bm25Term(idfU(col("__df")), col("tf"), col("dl"), avgDl))
      .groupBy(col(doc))
      .agg(sum(col("__c")).as(scoreName), count(lit(1)).as("__nterms"))
    (if (allTerms > 0) perDoc.filter(col("__nterms") === allTerms) else perDoc)
      .drop("__nterms")
  }

  /** `operator` = "AND": every query term must match (else OR, any term). */
  private[operators] def isAnd(operator: String): Boolean = operator.equalsIgnoreCase("AND")

  /** `textsearch(doc, 'query')` top-K with OR (any term) or AND (all
    * terms) match, score exposed as `bm25_score` (reference param
    * `operator=OR|AND`, `VSDescription.h:72-108`).
    */
  def textSearch(
      df: DataFrame,
      textCol: Column,
      query: String,
      k: Int,
      operator: String = "OR",
      scoreName: String = "bm25_score",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val terms = queryTerms(query)
    // A query with no alphanumeric terms matches nothing (empty result,
    // schema preserved) instead of crashing on an empty reduce.
    if (terms.isEmpty) return noMatch(df, k, scoreName)
    if (terms.length > ManyTermsThreshold)
      return textSearchManyTerms(df, textCol, terms, k, operator, scoreName, tieBreak)
    scoreDirect(df, textCol, terms, k, scoreName, tieBreak) { toks =>
      val has = terms.map(t => array_contains(toks, t))
      if (isAnd(operator)) has.reduce(_ && _) else has.reduce(_ || _)
    }
  }

  private def noMatch(df: DataFrame, k: Int, scoreName: String): DataFrame =
    df.withColumn(scoreName, lit(0.0)).filter(lit(false)).limit(k)

  /** The direct path's one body: tokenize once per row (match and score
    * reference the projected column), collect the global stats, keep the
    * rows `matched` accepts, score `terms`, cut the top `k`.
    */
  private def scoreDirect(df: DataFrame, textCol: Column, terms: Seq[String], k: Int,
      scoreName: String, tieBreak: Seq[Column])(matched: Column => Column): DataFrame = {
    val tname = "__graft_toks"
    val toks = col(tname)
    val withT = df.withColumn(tname, text.tokenize(textCol))
    val stats = collectStats(df, textCol, terms)
    withT.filter(matched(toks))
      .withColumn(scoreName, bm25ScoreTokens(toks, terms, stats))
      .drop(tname)
      .orderBy(col(scoreName).desc +: tieBreak: _*)
      .limit(k)
  }

  /** Above this many distinct query terms, per-term scan expressions lose
    * to the exploded-postings plan below (the reference's index path has
    * the same crossover: `MergeTreeTextSearchManager.cpp` scores only
    * postings-matched rows instead of testing every term on every row).
    */
  val ManyTermsThreshold = 32

  /** Many-term BM25: explode tokens into in-plan postings `(term, row,
    * tf, dl)` for the query terms only and score them with
    * [[scorePostings]], the index path's scorer. O(corpus tokens +
    * matches) instead of O(rows × terms × tokens) — the shape that
    * survives a whole document used as the query string (no catalog
    * query reaches it: t15's query has 17–26 distinct terms across the
    * scale factors). Scores equal the per-term-expression path's BM25
    * (same stats, same formula; only FP summation order differs).
    */
  private def textSearchManyTerms(
      df: DataFrame,
      textCol: Column,
      terms: Seq[String],
      k: Int,
      operator: String,
      scoreName: String,
      tieBreak: Seq[Column]): DataFrame = {
    val stats = collectStats(df, textCol, Nil)
    val toks = text.tokenize(textCol)
    val rid = "__graft_ts_rid"
    // monotonically_increasing_id is only stable if the input's partition
    // splits and row order are deterministic — NOT guaranteed downstream
    // of a shuffle. Materialize the id assignment ONCE (the Dedup barrier
    // pattern) so the postings branch and the final join read the SAME
    // ids instead of independently recomputing them.
    val base = df.withColumn(rid, monotonically_increasing_id())
      .localCheckpoint(true)
    val posts = base
      .select(col(rid), size(toks).cast("double").as("dl"), explode(toks).as("term"))
      .where(col("term").isInCollection(terms))
      .groupBy(col("term"), col(rid), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // AND: a term absent from the whole corpus leaves no row with the
    // full count — result empty, same as the per-term path's conjunction
    val perDoc = scorePostings(posts, rid, stats.totalDocs, stats.avgDl, scoreName,
      if (isAnd(operator)) terms.length else 0)
    base.join(perDoc, Seq(rid), "inner")
      .drop(rid)
      .orderBy(col(scoreName).desc +: tieBreak: _*)
      .limit(k)
  }

  /** Parsed natural-language query (`enable_nlq`, reference
    * `VSDescription.h:72-108` — Tantivy's query-parser subset):
    * `"quoted phrase"` = consecutive-token phrase match, `+term` = must
    * occur, `-term` = must not occur, bare terms = should (scored, OR).
    */
  case class NlQuery(must: Seq[String], mustNot: Seq[String],
      should: Seq[String], phrases: Seq[Seq[String]]) {
    /** Terms contributing to the BM25 score. */
    def scoredTerms: Seq[String] = (must ++ should ++ phrases.flatten).distinct
  }

  private[graft] def parseNlq(q: String): NlQuery = {
    val phraseRe = "\"([^\"]*)\"".r
    val phrases = phraseRe.findAllMatchIn(q).map(m => queryTerms(m.group(1)))
      .filter(_.nonEmpty).toSeq
    val rest = phraseRe.replaceAllIn(q, " ")
    val tokens = rest.split("\\s+").filter(_.nonEmpty)
    val must = tokens.filter(_.startsWith("+")).flatMap(t => queryTerms(t.drop(1)))
    val mustNot = tokens.filter(_.startsWith("-")).flatMap(t => queryTerms(t.drop(1)))
    val should = tokens.filterNot(t => t.startsWith("+") || t.startsWith("-"))
      .flatMap(queryTerms(_))
    NlQuery(must.distinct.toSeq, mustNot.distinct.toSeq,
      should.distinct.toSeq, phrases)
  }

  /** `textsearch()` with `enable_nlq=true`: the query string is parsed as
    * the Tantivy-style mini-language and matching combines phrase /
    * must / must-not constraints with BM25 scoring over the remaining
    * terms. Phrase matching is consecutive-token (space-joined token
    * stream containment) — the direct-path equivalent of Tantivy's
    * positional postings.
    */
  def textSearchNlq(
      df: DataFrame,
      textCol: Column,
      query: String,
      k: Int,
      scoreName: String = "bm25_score",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val nlq = parseNlq(query)
    if (nlq.scoredTerms.isEmpty && nlq.mustNot.isEmpty) return noMatch(df, k, scoreName)
    scoreDirect(df, textCol, nlq.scoredTerms, k, scoreName, tieBreak) { toks =>
      val joined = concat(lit(" "), array_join(toks, " "), lit(" "))
      val phraseConds = nlq.phrases.map(p =>
        joined.contains(" " + p.mkString(" ") + " "))
      val mustConds = nlq.must.map(t => array_contains(toks, t))
      val notConds = nlq.mustNot.map(t => !array_contains(toks, t))
      val shouldCond =
        if (nlq.should.isEmpty) Nil
        else if (nlq.must.nonEmpty || nlq.phrases.nonEmpty) Nil // should only scores
        else Seq(nlq.should.map(t => array_contains(toks, t)).reduce(_ || _))
      (phraseConds ++ mustConds ++ notConds ++ shouldCond)
        .reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** `textsearch()` over a Map column's keys or values (reference
    * `mapKeys`/`mapValues` search target, `CommonUtils.h:104`): the map
    * side is flattened to a text stream and searched with the same BM25
    * machinery — `over` = "values" (default) | "keys".
    */
  def textSearchMap(
      df: DataFrame,
      mapCol: Column,
      query: String,
      k: Int,
      over: String = "values",
      operator: String = "OR",
      scoreName: String = "bm25_score",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val textCol = over.toLowerCase match {
      case "keys" => array_join(map_keys(mapCol), " ")
      case _      => array_join(map_values(mapCol), " ")
    }
    textSearch(df, textCol, query, k, operator, scoreName, tieBreak)
  }

  /** `textsearch()` over an `Array(String)` column (reference
    * `00040_mqvs_hybrid_search.sql` `t_vector_invert_array`: the fts
    * index treats the array as ONE multi-value field, so BM25 document
    * length / term frequency / doc-freq statistics see the row as the
    * concatenation of its elements). Engine twin: join the elements
    * with a single space — the tokenizer splits on non-alphanumerics,
    * so the join is statistics-identical to multi-value indexing — and
    * run the String path.
    */
  def textSearchArray(
      df: DataFrame,
      arrCol: Column,
      query: String,
      k: Int,
      operator: String = "OR",
      scoreName: String = "bm25_score",
      tieBreak: Seq[Column] = Nil): DataFrame =
    textSearch(df, array_join(arrCol, " "), query, k, operator, scoreName, tieBreak)

  /** The `full_text_search(table, query, ...)` table-valued function
    * (`TableFunctionFullTextSearch.cpp:110-141`): returns the matching
    * rows with `bm25_score`, optionally without the score column.
    */
  def fullTextSearch(
      df: DataFrame,
      textCol: Column,
      query: String,
      k: Int = 30,
      withScore: Boolean = true,
      operator: String = "OR",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val res = textSearch(df, textCol, query, k, operator, "bm25_score", tieBreak)
    if (withScore) res else res.drop("bm25_score")
  }
}
