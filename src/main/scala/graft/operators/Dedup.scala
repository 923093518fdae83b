package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.text

/** Deduplication suite for the training-data pipeline: exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * All variants are pure DataFrame pipelines with map-side-combinable
  * aggregations; candidate generation never cross-joins the full corpus —
  * pairs meet only inside a band/bucket join (the LSH property), which is
  * what keeps them viable at 100 TB.
  */
object Dedup {

  /** Exact dedup: canonical row = min id per normalized-text fingerprint.
    * One hash-shuffle on the 16-byte fingerprint, not the document text.
    */
  def exactDedup(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(text.fingerprint(textCol)).orderBy(idCol.asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact duplicate groups: fingerprint → group size + canonical id. */
  def duplicateGroups(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.groupBy(text.fingerprint(textCol).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(idCol).as("canonical_id"))

  /** Exact word n-gram Jaccard similarity pairs (id_a < id_b, sim >= minSim).
    *
    * Shape: explode distinct shingles → self-join on shingle (only
    * matching shingles meet) → per-pair intersection counts → Jaccard via
    * |A|+|B|-|A∩B|. The shingle join key is hashed to 8 bytes so the
    * shuffle carries longs, not strings.
    */
  /** Cross-corpus incremental dedup — the training-pipeline shape where
    * each new batch is deduplicated AGAINST THE ALREADY-SEEN corpus
    * (batch-vs-seen, not batch-vs-itself): survivors are the new docs
    * whose fingerprints appear in neither the seen set nor earlier within
    * the batch. One anti-join on the 16-byte fingerprint (shuffle prunes
    * to new-batch cardinality) + the exact-dedup of the batch itself.
    */
  def incrementalDedup(
      newDocs: DataFrame,
      seen: DataFrame,
      textCol: Column,
      idCol: Column,
      seenTextCol: Column): DataFrame = {
    val seenFp = seen.select(text.fingerprint(seenTextCol).as("__fp")).distinct()
    exactDedup(newDocs, textCol, idCol)
      .withColumn("__fp", text.fingerprint(textCol))
      .join(seenFp, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Exact n-gram-Jaccard pair join via the AllPairs/PPJoin prefix
    * filter (Bayardo et al., WWW'07; Xiao et al., WWW'08 — public
    * literature): instead of joining every shingle (df² blowup on common
    * shingles), each doc exposes only its PREFIX — the first
    * `|A| - ceil(t·|A|) + 1` shingles in a canonical global order
    * (sorted by hash). Any pair with J ≥ t must share a prefix element
    * (if they shared none, the overlap is at most min over the
    * suffixes < ceil(t·max(|A|,|B|)) — below the required t bound), so
    * candidate generation is EXACT-complete. Candidates (deduped,
    * size-ratio-pruned) are then verified by true set intersection of
    * the two full shingle arrays.
    *
    * Scale shape: the prefix join explodes only (1-t)·|A|+1 rows per doc
    * (vs |A|), and verification shuffles the doc arrays only for
    * surviving candidates — this is the standard distributed exact
    * similarity self-join, the oracle-checkable twin of MinHash-LSH.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      n: Int = 3,
      minSim: Double = 0.5): DataFrame = {
    // Shingle hash = xxhash over the n token hashes (hashShingles) — no
    // shingle STRING is ever materialized, the same trick that makes the
    // MinHash signature stage fast (string building dominated the cost).
    // Token hashes are materialized in their OWN projection below the
    // Generate: inlining them into hashShingles' element_at lambdas would
    // re-run the whole tokenize pipeline per element access (the
    // CollapseProject trap — 5× slowdown measured).
    val exploded = df
      .select(idCol.as("id"),
        transform(text.tokenize(textCol), t => graft.functions.SparkHash.xxh64(t)).as("__th"))
      .select(col("id"),
        explode(array_distinct(hashShingles(col("__th"), n))).as("shash"))
    // Canonical global order = ASCENDING document frequency (ties by
    // hash) — the AllPairs essential: prefixes then hold each doc's
    // RAREST shingles, so the candidate join explodes on rare hashes
    // only. (Ordering by hash value puts the same ubiquitous shingles
    // in every prefix and recreates the df² blowup.) df comes from a
    // count-over-shash window: ONE evaluation of the shingle stream,
    // two shuffles total (shash window, id aggregation).
    val withDf = exploded.withColumn("__df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("shash")))
    val docs = withDf
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("__df"), col("shash")))).as("__ord"))
      .select(col("id"),
        transform(col("__ord"), e => e.getField("shash")).as("sh"),
        size(col("__ord")).as("n_sh"))
      .persist()
    try {
      // prefix length p = n_sh - ceil(t·n_sh) + 1 (clamped to [1, n_sh])
      val pLen = greatest(lit(1),
        col("n_sh") - ceil(lit(minSim) * col("n_sh")).cast("int") + 1)
      val pref = docs.select(col("id"), col("n_sh"),
        explode(slice(col("sh"), lit(1), pLen)).as("shash"))
      // Candidate pairs: shared prefix hash + size-ratio prune
      // (J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)), deduped.
      val cand = pref.as("a")
        .join(pref.as("b"),
          col("a.shash") === col("b.shash") && col("a.id") < col("b.id") &&
            least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
              lit(minSim) * greatest(col("a.n_sh"), col("b.n_sh")).cast("double"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      // Verification: exact set intersection of the full shingle arrays.
      // Doc arrays are shuffled only for candidate pairs; never broadcast
      // (one row per doc — a broadcast OOMs at corpus scale).
      cand
        .join(docs.select(col("id").as("id_a"), col("sh").as("sa"),
          col("n_sh").as("na")), Seq("id_a"))
        .join(docs.select(col("id").as("id_b"), col("sh").as("sb"),
          col("n_sh").as("nb")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("jaccard") >= minSim)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        // eager: pair set materialized before the doc cache is released
        .localCheckpoint(true)
    } finally docs.unpersist(blocking = false)
  }

  /** Word-n-gram shingle hashes from a token-hash array: h(i) =
    * xxhash64 over the n consecutive token hashes (position-sensitive —
    * xxhash64 is order-dependent across its arguments; no overflow-prone
    * arithmetic, ANSI-safe).
    */
  private[graft] def hashShingles(tokenHashes: Column, n: Int): Column = {
    val cnt = size(tokenHashes) - (n - 1)
    val idxs = when(cnt >= 1, sequence(lit(1), cnt))
      .otherwise(array().cast("array<int>"))
    transform(idxs, i =>
      graft.functions.SparkHash.xxh64((0 until n).map(j => element_at(tokenHashes, i + j)): _*))
  }

  /** MinHash signature as an array<bigint> column: numPerm independent
    * hash functions h_i(s) = graft.functions.SparkHash.xxh64(i, shingle-hash), min over shingles.
    */
  def minhashSignature(textCol: Column, n: Int = 3, numPerm: Int = 64): Column = {
    val baseHashes = array_distinct(
      hashShingles(transform(text.tokenize(textCol), t => graft.functions.SparkHash.xxh64(t)), n))
    val perms = sequence(lit(0), lit(numPerm - 1))
    transform(perms, i => array_min(transform(baseHashes, h => graft.functions.SparkHash.xxh64(i, h))))
  }

  /** MinHash + LSH banding: docs sharing ≥1 band bucket become candidate
    * pairs; estimated Jaccard = fraction of matching minhashes.
    * numPerm = bands * rowsPerBand.
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      minEstSim: Double = 0.5): DataFrame = {
    val numPerm = bands * rowsPerBand
    // Signature via numPerm min() aggregates over exploded shingle hashes.
    // The aggregation is a hard optimizer barrier (projection chains get
    // re-inlined by CollapseProject, re-deriving the tokenize→shingle
    // pipeline once per permutation lambda — catastrophically slow), and
    // min() partial-aggregates map-side, so the only shuffle carries
    // numPerm longs per doc. This is the 100 TB shape.
    // Shingle hash = mixed combination of the n token hashes — no shingle
    // STRING is ever materialized (one xxhash per token, then long math),
    // which halves the signature stage cost vs string shingles.
    val exploded = df
      .select(idCol.as("id"),
        transform(text.tokenize(textCol), t => graft.functions.SparkHash.xxh64(t)).as("__th"))
      .select(col("id"), explode(array_distinct(hashShingles(col("__th"), n))).as("shash"))
    val minAggs = (0 until numPerm).map(i =>
      min(graft.functions.SparkHash.xxh64(lit(i), col("shash"))).as(s"__m$i"))
    val sigs = exploded
      .groupBy("id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("id"),
        array((0 until numPerm).map(i => col(s"__m$i")): _*).as("sig"))
      // r14: localCheckpoint beats persist for the slim signature frame
      .localCheckpoint(true)
    locally {
      val banded = sigs.select(
        col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)), b))))
        .withColumnRenamed("col", "bucket")
        .withColumnRenamed("pos", "band")
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
        .dropDuplicates("id_a", "id_b")
      cand
        .withColumn("est_jaccard",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            b => b)).cast("double") / lit(numPerm.toDouble))
        .filter(col("est_jaccard") >= minEstSim)
        .select(col("id_a"), col("id_b"), col("est_jaccard"))
        // eager: pair set materialized before the signature blocks are
        // released
        .localCheckpoint(true)
    }
  }

  /** MinHash-LSH with EXACT verification — the production MinHash dedup
    * shape: banding generates candidate pairs (probabilistic recall,
    * ~1 - (1 - s^r)^b per true pair), then each candidate's TRUE n-gram
    * Jaccard is computed from the distinct shingle-hash sets and
    * filtered at `minSim`. Output therefore contains no estimation
    * error — only banding recall is probabilistic, and for pairs well
    * above the threshold (s ≥ 0.8 with b=16, r=4: miss ≤ 2.1e-4) the
    * output equals the exact-join pair set, making this oracle-checkable
    * against the same SQL as the exact PPJoin path.
    *
    * Scale shape: signatures shuffle numPerm longs per doc; candidates
    * meet only inside band-bucket joins; the verify step joins the slim
    * (id_a, id_b) candidate set back to the per-doc shingle-hash sets —
    * two hash joins on doc id, never an all-pairs product.
    */
  def minhashLshVerifiedPairs(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      minSim: Double = 0.5): DataFrame = {
    val numPerm = bands * rowsPerBand
    val exploded = df
      .select(idCol.as("id"),
        transform(text.tokenize(textCol), t => graft.functions.SparkHash.xxh64(t)).as("__th"))
      .select(col("id"), explode(array_distinct(hashShingles(col("__th"), n))).as("shash"))
      .persist()
    try {
      val minAggs = (0 until numPerm).map(i =>
        min(graft.functions.SparkHash.xxh64(lit(i), col("shash"))).as(s"__m$i"))
      val sigs = exploded
        .groupBy("id")
        .agg(minAggs.head, minAggs.tail: _*)
        .select(col("id"),
          array((0 until numPerm).map(i => col(s"__m$i")): _*).as("sig"))
      val banded = sigs.select(
        col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)), b))))
        .withColumnRenamed("col", "bucket")
        .withColumnRenamed("pos", "band")
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val sets = exploded.groupBy("id")
        .agg(collect_set(col("shash")).as("sh"), count(lit(1)).as("n_sh"))
      cand
        .join(sets.select(col("id").as("id_a"), col("sh").as("sa"),
          col("n_sh").as("na")), Seq("id_a"))
        .join(sets.select(col("id").as("id_b"), col("sh").as("sb"),
          col("n_sh").as("nb")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("jaccard") >= minSim)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        // eager: pair set materialized before the shingle cache is
        // released
        .localCheckpoint(true)
    } finally exploded.unpersist(blocking = false)
  }

  /** Incremental MinHash-LSH — dedup a NEW batch against the already-seen
    * corpus, the streaming-ingest production shape (a crawl snapshot
    * arrives; only new-vs-seen near-dups matter, the seen side is already
    * internally deduped). Candidates are generated ONLY across sides: the
    * new batch's band buckets hash-join the seen side's band buckets —
    * never new×new or seen×seen — then each candidate's TRUE n-gram
    * Jaccard is verified, exactly like [[minhashLshVerifiedPairs]].
    *
    * Scale shape: at 100 TB the seen side's (band, bucket) table is a
    * persisted artifact (append-only, bucketed by `bucket`), so a new
    * batch costs signatures over the BATCH plus a bucket-join pruned to
    * shared buckets — O(batch) work against an arbitrarily large corpus,
    * never a corpus rescan. Here both sides are computed in-plan; the
    * join/verify topology is the one that persists.
    *
    * Returns (new_id, seen_id, jaccard).
    */
  def minhashLshIncrementalPairs(
      newDocs: DataFrame,
      seen: DataFrame,
      textCol: Column,
      idCol: Column,
      seenTextCol: Column,
      seenIdCol: Column,
      n: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      minSim: Double = 0.5): DataFrame = {
    val numPerm = bands * rowsPerBand
    def explodedOf(df: DataFrame, tc: Column, ic: Column): DataFrame = df
      .select(ic.as("id"),
        transform(text.tokenize(tc), t => graft.functions.SparkHash.xxh64(t)).as("__th"))
      .select(col("id"), explode(array_distinct(hashShingles(col("__th"), n))).as("shash"))
    // same signature/banding pipeline as the self-join path — min()
    // partial-aggregates map-side; the only shuffle carries numPerm longs
    // per doc (see minhashLshVerifiedPairs for the optimizer-barrier notes)
    def bandedOf(exploded: DataFrame): DataFrame = {
      val minAggs = (0 until numPerm).map(i =>
        min(graft.functions.SparkHash.xxh64(lit(i), col("shash"))).as(s"__m$i"))
      exploded.groupBy("id")
        .agg(minAggs.head, minAggs.tail: _*)
        .select(col("id"),
          array((0 until numPerm).map(i => col(s"__m$i")): _*).as("sig"))
        .select(col("id"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => hash(slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)), b))))
        .withColumnRenamed("col", "bucket")
        .withColumnRenamed("pos", "band")
    }
    val newExploded = explodedOf(newDocs, textCol, idCol).persist()
    val seenExploded = explodedOf(seen, seenTextCol, seenIdCol).persist()
    try {
      val cand = bandedOf(newExploded).as("a")
        .join(bandedOf(seenExploded).as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .select(col("a.id").as("new_id"), col("b.id").as("seen_id"))
        .dropDuplicates("new_id", "seen_id")
      def setsOf(exploded: DataFrame): DataFrame = exploded.groupBy("id")
        .agg(collect_set(col("shash")).as("sh"), count(lit(1)).as("n_sh"))
      cand
        .join(setsOf(newExploded).select(col("id").as("new_id"),
          col("sh").as("sa"), col("n_sh").as("na")), Seq("new_id"))
        .join(setsOf(seenExploded).select(col("id").as("seen_id"),
          col("sh").as("sb"), col("n_sh").as("nb")), Seq("seen_id"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("jaccard") >= minSim)
        .select(col("new_id"), col("seen_id"), col("jaccard"))
        // eager: pair set materialized before the shingle caches release
        .localCheckpoint(true)
    } finally {
      newExploded.unpersist(blocking = false)
      seenExploded.unpersist(blocking = false)
    }
  }

  /** Corpus-wide span REMOVAL + document reassembly — the C4 rule
    * (Raffel et al. 2020 §2.2: "we discarded all but one of any
    * three-sentence span occurring more than once in the data set"),
    * over non-overlapping n-token spans (this corpus has no newline/
    * sentence structure; on line-structured data the same topology runs
    * with lines as the unit). d12's [[spanDupReport]] REPORTS window
    * duplication; this operator actually removes: a span survives iff
    * its (doc id, span position) is the globally FIRST occurrence of
    * that span text, and each document is reassembled from its
    * survivors. Returns (id, n_spans, n_kept, cleaned_text) for every
    * input document (token-less docs keep n_spans = 0, cleaned = "").
    *
    * Scale shape: first-occurrence is a groupBy(span) with a
    * min(struct(doc, pos)) PARTIAL aggregate — map-side combine absorbs
    * boilerplate-span skew, where a `PARTITION BY span` window would
    * funnel every copy of a hot span into one task — then one equi-join
    * back on the span and one doc-id groupBy to reassemble. Three
    * shuffles total, none carrying more than the exploded span text.
    */
  def corpusSpanDedup(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      n: Int = 10): DataFrame = {
    val toks = df.select(idCol.as("id"), text.tokenize(textCol).as("__t"))
    val nSpans = expr(s"(size(__t) + ${n - 1}) div $n")
    // persisted: the span frame feeds BOTH the first-occurrence
    // aggregate and the join back (same reason the LSH ops persist
    // their exploded shingles — tokenize+explode is the dominant cost)
    val exploded = toks
      .select(col("id"),
        posexplode(when(nSpans >= 1,
          transform(sequence(lit(0), (nSpans - 1).cast("int")),
            i => array_join(slice(col("__t"), i * n + lit(1), lit(n)), " ")))
          .otherwise(array())))
      .withColumnRenamed("pos", "span_no")
      .withColumnRenamed("col", "s")
      .persist()
    try {
      val firsts = exploded.groupBy("s")
        .agg(min(struct(col("id"), col("span_no"))).as("first"))
      val kept = exploded.join(firsts, Seq("s"))
        .withColumn("keep",
          struct(col("id"), col("span_no")) === col("first"))
      val perDoc = kept.groupBy("id").agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("span_no"), col("s"))))),
            x => x.getField("s")), " ").as("cleaned_text"))
      df.select(idCol.as("id")).join(perDoc, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
        // eager: materialized before the span cache is released
        .localCheckpoint(true)
    } finally exploded.unpersist(blocking = false)
  }

  /** Canonical-URL dedup groups — the crawl-pipeline URL-dedup stage:
    * normalize each URL to its [[graft.functions.text.urlCanonicalKey]]
    * and keep per-group stats (count + canonical = min id). Rows with a
    * NULL url are EXCLUDED — grouping them would merge every URL-less
    * document into one "dup group" a keep-the-canonical consumer would
    * then mass-delete. One codegen projection + one key groupBy.
    */
  def urlDedupGroups(df: DataFrame, urlCol: Column, idCol: Column): DataFrame =
    // Filter on the RAW url, not the projected key: the key expression
    // is never null for a non-null url (concat/CASE over it), and
    // filtering after the projection makes Catalyst substitute the
    // whole ~30-regex canonicalization tree into the Filter node —
    // this order keeps the tree exactly once in the plan and lets the
    // isnotnull push to the scan.
    df.filter(urlCol.isNotNull)
      .select(idCol.as("id"), text.urlCanonicalKey(urlCol).as("url_key"))
      .groupBy(col("url_key"))
      .agg(count(lit(1)).as("n_urls"), min(col("id")).as("canonical_id"))

  /** 64-bit SimHash of the token multiset: per bit j, sum +1/-1 over token
    * hashes; bit set iff the sum is positive. Computed entirely with
    * higher-order functions (stays in codegen, no UDF, no explode).
    */
  def simhash(textCol: Column): Column = {
    val toks = text.tokenize(textCol)
    val counts = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = graft.functions.SparkHash.xxh64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, j) => a + when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1).otherwise(-1))
      })
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, j) => when(c > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** SimHash signatures as 64 conditional aggregates over exploded token
    * hashes — partial-merge (map-side-combinable) sums instead of the
    * per-token 64-wide array fold of [[simhash]]; same bit semantics.
    * Token-less docs keep signature 0 (the fold's empty-input value).
    */
  def simhashSignatures(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val toks = df
      .select(idCol.as("id"),
        transform(text.tokenize(textCol), t => graft.functions.SparkHash.xxh64(t)).as("__th"))
      .select(col("id"), explode(col("__th")).as("__t"))
    // ones-count + 2·ones > n threshold — same rewrite as the md5
    // variant below (identical signatures, no per-bit CASE in the agg)
    val bitSums = (0 until 64).map { j =>
      sum(call_function("shiftright", col("__t"), lit(j))
        .bitwiseAND(lit(1L))).as(s"__b$j")
    }
    val agged = toks.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail :+ count(lit(1)).as("__n"): _*)
    val sig = (0 until 64).map { j =>
      when(col(s"__b$j") * 2L > col("__n"),
        call_function("shiftleft", lit(1L), lit(j)))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    df.select(idCol.as("id")).join(agged, Seq("id"), "left")
      .select(col("id"),
        coalesce(sig, lit(0L)).as("sig"))
  }

  /** SimHash signatures whose per-token bits come from md5 HEX DIGITS
    * instead of xxh64: bit j of a token is bit `3 - j%4` of hex digit
    * `j/4 + 1` of `md5(token)`. md5 returns the identical lowercase hex
    * string in every engine and the rest is integer arithmetic — no
    * engine-private hash, so an external SQL oracle can replay the
    * signature (and therefore the whole near-dup pipeline) exactly.
    * Same multiset ±1 bit-sum semantics as [[simhashSignatures]];
    * token-less docs keep signature 0.
    */
  def simhashMd5Signatures(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    // bit j of a token = bit (3 - j%4) of hex digit (j/4 + 1) ⇔ bit
    // (63 - j) of the 64-bit word spelled by the first 16 hex digits —
    // decode that word ONCE per token (two 8-digit conv halves) so the
    // 64 aggregates below are single shift-and-mask ops instead of 64
    // separate conv(substring(...)) evaluations per row (r14: cut d04's
    // signature job ~4x)
    val toks = df
      .select(idCol.as("id"), explode(text.tokenize(textCol)).as("__t"))
      .select(col("id"), md5(col("__t")).as("__h"))
      .select(col("id"),
        (call_function("shiftleft",
          conv(substring(col("__h"), 1, 8), 16, 10).cast("long"), lit(32))
          .bitwiseOR(conv(substring(col("__h"), 9, 8), 16, 10).cast("long")))
          .as("__w"))
    // ±1 bit sum positive ⟺ ones > zeros ⟺ 2·ones > n: aggregate the
    // plain ones-count (no CASE branch per bit per row — r21, ~64
    // conditionals removed from the hot agg update) and threshold
    // against the token count. Identical signatures.
    val bitSums = (0 until 64).map { j =>
      sum(call_function("shiftright", col("__w"), lit(63 - j))
        .bitwiseAND(lit(1L))).as(s"__b$j")
    }
    val agged = toks.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail :+ count(lit(1)).as("__n"): _*)
    val sig = (0 until 64).map { j =>
      when(col(s"__b$j") * 2L > col("__n"),
        call_function("shiftleft", lit(1L), lit(j)))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    df.select(idCol.as("id")).join(agged, Seq("id"), "left")
      .select(col("id"), coalesce(sig, lit(0L)).as("sig"))
  }

  /** SimHash near-dup candidate pairs: block on bit-chunk COMBINATIONS,
    * verify with `bit_count(xor)` — the permuted-table scheme of Manku et
    * al., WWW'07 (public literature).
    *
    * Completeness: split the 64 bits into `m = maxHamming + c` chunks. A
    * pair within Hamming distance `maxHamming` differs in at most
    * `maxHamming` chunks, so it agrees EXACTLY on ≥ c chunks — hence it
    * shares at least one of the C(m, c) c-chunk combination keys, and
    * candidate generation is complete at the declared radius.
    *
    * Why combinations instead of single chunks (`c = 1`): at large radii
    * single chunks get narrow (radius 8 → 9 chunks of ~7 bits → 128-value
    * buckets), and blocking degenerates toward all-pairs once the corpus
    * outgrows the key space. Concatenating `c` chunks multiplies key
    * width without losing completeness: radius 8 at corpus size 10⁶
    * blocks on C(11,3) = 165 combos of ~17-bit keys instead of 9 chunks
    * of 7-bit keys — more rows exploded, orders of magnitude fewer false
    * candidates. `c` is chosen ADAPTIVELY: the smallest c ∈ {1,2,3} whose
    * per-combo bucket load n/2^(c·w) stays ≤ 64 (false candidates are
    * map-side discards, so a bounded bucket load is cheap, while larger c
    * multiplies the explode factor C(m,c) and the duplicate-emission
    * multiplicity of true pairs); the explode factor is capped at 256.
    */
  def simhashPairs(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      maxHamming: Int = 3): DataFrame =
    blockedHammingPairs(simhashSignatures(df, textCol, idCol), maxHamming)

  /** [[simhashPairs]] over the md5-digit signatures — every stage (token
    * md5, bit extraction, ±1 bit sums, blocking-complete candidate
    * generation, Hamming verify) is deterministic integer/string
    * arithmetic available verbatim in other SQL engines, so the full
    * near-dup pair set has an exact external oracle (see d04's DuckDB
    * replay in DedupQueries).
    */
  def simhashMd5Pairs(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      maxHamming: Int = 3): DataFrame =
    blockedHammingPairs(simhashMd5Signatures(df, textCol, idCol), maxHamming)

  /** Shared candidate generation + verify over any (id, sig) 64-bit
    * signature frame (Manku chunk-combination blocking; complete at the
    * declared radius — see [[simhashPairs]] scaladoc).
    */
  private def blockedHammingPairs(rawSigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    def choose(n: Int, k: Int): Long =
      (1 to k).foldLeft(1L)((acc, i) => acc * (n - i + 1) / i)
    // materialization barrier (both join sides read the checkpointed
    // blocks — r14: localCheckpoint beats persist() here, the columnar
    // cache build cost ~1s on a 2-column frame) that doubles as the
    // corpus size for adaptive key-width selection
    val sigs = rawSigs.localCheckpoint(true)
    locally {
      val n = math.max(sigs.count(), 1L)
      def keyBits(cc: Int) = cc * (64.0 / (maxHamming + cc))
      def explodeFactor(cc: Int) = choose(maxHamming + cc, cc)
      val c = (1 to 3).find(cc => explodeFactor(cc) <= 256 &&
          n / math.pow(2, keyBits(cc)) <= 64)
        .getOrElse((1 to 3).filter(explodeFactor(_) <= 256).maxBy(keyBits))
      val nChunks = maxHamming + c
      // distribute 64 bits over nChunks chunks; first (64 % nChunks)
      // chunks are one bit wider
      val base = 64 / nChunks
      val rem = 64 % nChunks
      val bounds = (0 until nChunks).map { ch =>
        val off = ch * base + math.min(ch, rem)
        val w = base + (if (ch < rem) 1 else 0)
        (off, w)
      }
      val combos = (0 until nChunks).combinations(c).toSeq
      val chunkCols = bounds.map { case (off, w) =>
        val mask = if (w >= 64) -1L else (1L << w) - 1L
        call_function("shiftright", col("sig"), lit(off)).bitwiseAND(lit(mask))
      }
      // combo key = chunk values concatenated at 21-bit stride. Packing
      // invariant (held by the adaptive selector needing m >= 4 before
      // it ever picks c >= 2):
      // c >= 2 ⇒ m = maxHamming + c >= 4 ⇒ chunk width = ceil(64/m)
      // <= 16 <= 21, and c <= 3 keeps 3·21 < 64 from overflowing;
      // c = 1 keys are the raw chunk value (any width)
      val keyCols = combos.map(_.map(chunkCols)
        .reduce((a, b) => call_function("shiftleft", a, lit(21)).bitwiseOR(b)))
      val keyed = sigs.select(col("id"), col("sig"), posexplode(array(keyCols: _*)))
        .withColumnRenamed("col", "bkey")
        .withColumnRenamed("pos", "combo_idx")
      // A pair agreeing on several combos would be emitted once per
      // agreeing combo; instead each joined row checks — map-side, from
      // the XOR alone — whether ITS combo is the FIRST agreeing one, so
      // every pair survives exactly once and the pair-dedup shuffle
      // disappears. First-agreeing-combo is a 2^m-entry lookup table
      // indexed by the per-chunk agreement bitmask; for the rare radii
      // where m > 14 (table would exceed 16k entries) we keep the
      // dropDuplicates fallback instead.
      val xorCol = col("a.sig").bitwiseXOR(col("b.sig"))
      val firstComboOnly: Option[Column] =
        if (nChunks > 14) None
        else {
          val lut: Seq[Int] = (0 until (1 << nChunks)).map { pat =>
            combos.indexWhere(_.forall(k => ((pat >> k) & 1) == 1))
          }
          val agreeBits = bounds.zipWithIndex.map { case ((off, w), k) =>
            val mask = if (w >= 64) -1L else (1L << w) - 1L
            when(call_function("shiftright", xorCol, lit(off))
              .bitwiseAND(lit(mask)) === 0, lit(1 << k)).otherwise(lit(0))
          }.reduce[Column](_.bitwiseOR(_))
          Some(col("a.combo_idx") === element_at(typedLit(lut), agreeBits + 1))
        }
      val verified = keyed.as("a")
        // shuffle-hash beats sort-merge here: bounded bucket loads (the
        // adaptive c keeps them ≤64) make the hash build tiny while SMJ
        // pays a sort plus per-group buffering (r14 A/B: 3.1s vs 4.0s;
        // the same hint HURT the rarer-key prefix/banded joins — left
        // unhinted there)
        .join(keyed.hint("shuffle_hash").as("b"),
          col("a.combo_idx") === col("b.combo_idx") &&
            col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
        // verify on the join output: false candidates fail the Hamming
        // check and duplicate emissions fail the first-combo check, both
        // map-side — nothing but the final pair set ever shuffles
        .withColumn("hamming", bit_count(xorCol))
        .filter(col("hamming") <= maxHamming &&
          firstComboOnly.getOrElse(lit(true)))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      val pairs =
        if (firstComboOnly.isDefined) verified
        else verified.dropDuplicates("id_a", "id_b")
      // eager: materialize the (small) pair set now so the signature
      // cache can be released before returning — cached blocks must not
      // outlive the operator (they squeeze later queries' memory)
      pairs.localCheckpoint(true)
      // sigs' checkpoint blocks are released by the ContextCleaner once
      // the frame goes out of scope (pairs is already materialized)
    }
  }

  /** Embedding-cosine near-dup pairs. Exact all-pairs is quadratic — kept
    * for oracle-checkable correctness at test scale; the scale path is
    * [[lshCosinePairs]] (random-hyperplane LSH blocking).
    */
  def embeddingDupPairs(
      df: DataFrame,
      vecCol: Column,
      idCol: Column,
      minCosSim: Double): DataFrame = {
    val a = df.select(idCol.as("id_a"), vecCol.as("__va"))
    val b = df.select(idCol.as("id_b"), vecCol.as("__vb"))
    // Direct similarity kernel (not 1−distance): bit-identical to the
    // oracle's list_cosine_similarity — the 1−(1−sim) roundtrip costs a
    // Float32 ulp that can flip a knife-edge threshold or rounding.
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        graft.functions.distances.cosineSimilarity(col("__va"), col("__vb")))
      .filter(col("cos_sim") >= minCosSim)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Semantic (embedding-level) contamination report — the cosine
    * counterpart of [[contaminationReport]]'s token-shingle check: for
    * each BENCHMARK vector, how many corpus vectors sit within
    * `minCosSim` cosine, and the closest corpus cosine overall. Catches
    * paraphrased/translated benchmark leakage that n-gram overlap
    * misses (the standard complement in decontamination audits).
    *
    * Scale shape: the benchmark side is small by definition — it
    * BROADCASTS, the corpus streams through one map-side
    * cross-evaluation (flops linear in |corpus|·|bench|, no shuffle of
    * vectors), and only the tiny per-benchmark aggregate shuffles. For
    * benchmark sets too large to broadcast, block through
    * [[lshCosineCoordPairs]] buckets instead.
    */
  def semanticContamination(
      corpus: DataFrame,
      bench: DataFrame,
      vecCol: Column,
      idCol: Column,
      minCosSim: Double,
      benchVecCol: Column = null, // defaults to vecCol (same schema)
      benchIdCol: Column = null): DataFrame = {
    val c = corpus.select(idCol.as("corpus_id"), vecCol.as("__cv"))
    val b = bench.select(
      Option(benchIdCol).getOrElse(idCol).as("bench_id"),
      Option(benchVecCol).getOrElse(vecCol).as("__bv"))
    c.crossJoin(broadcast(b))
      .withColumn("cos_sim",
        graft.functions.distances.cosineSimilarity(col("__cv"), col("__bv")))
      .groupBy(col("bench_id"))
      .agg(
        sum(when(col("cos_sim") >= minCosSim, 1L).otherwise(0L))
          .as("n_contaminated"),
        max(col("cos_sim")).as("max_cos"))
  }

  /** Deterministic seed-centroid policy for [[semDeDup]]: the `k`
    * lowest-id vectors become the cluster centroids. This is the
    * oracle-replayable clustering plug (any engine derives the same k
    * rows from the same table); production swaps in trained k-means
    * centroids ([[IvfIndex]]'s Lloyd's/KMeans‖ trainer) — semDeDup's
    * semantics are agnostic to how the centroid table was produced.
    * Returns `(cluster_id, centroid)`, bounded at k rows (broadcast-
    * sized by construction, like an IVF centroid table).
    */
  def seedCentroids(df: DataFrame, vecCol: Column, idCol: Column, k: Int): DataFrame =
    df.select(idCol.cast("long").as("cluster_id"), vecCol.as("centroid"))
      .orderBy(col("cluster_id"))
      .limit(k)

  /** Centroid count for [[semDeDup]]'s default path: enough clusters
    * that the EXPECTED cluster size stays ≤ `targetClusterSize` (128 —
    * the same constant-occupancy policy as [[scaledPlaneCount]]),
    * floored at 8 and capped at 65536 (the centroid table must stay
    * broadcastable). semDeDup's pairwise stage is quadratic in cluster
    * size, so a FIXED k sends the WITHIN-CLUSTER join quadratic with
    * the corpus; k ∝ n keeps the per-cluster pairwise work constant —
    * the SemDeDup paper's own posture (50k clusters for LAION-440M).
    *
    * Honest cost accounting: [[semDeDup]]'s assignment is IVF-style
    * two-level with nprobe=2 multi-probe (⌈√k⌉ super-centroids; each
    * vector probes its top-2 supers' members), so the stage costs
    * n·3√k cosine flops — under k ∝ n that
    * is n^1.5/√targetClusterSize, sub-quadratic but not linear (the
    * flat n×k scan the paper budgets GPU time for would be
    * n²/targetClusterSize). Past this regime, deepen the hierarchy
    * (3-level = n^(4/3)) or route through a trained coarse quantizer /
    * ANN graph over the centroid table ([[HnswIndex]] kernels —
    * n·log k); the keep-rule machinery is unchanged by the router.
    */
  def autoCentroidCount(n: Long, targetClusterSize: Long = 128L): Int =
    math.min(65536L,
      math.max(8L, (n + targetClusterSize - 1) / targetClusterSize)).toInt

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540) —
    * embedding-level semantic dedup: assign every vector to its nearest
    * centroid, find near-duplicate pairs ONLY within a cluster
    * (`cos_sim >= minCosSim`), group them transitively, and within each
    * duplicate group KEEP the member with the LOWEST cosine similarity
    * to its cluster centroid (the paper's §3 keep rule — retain the
    * cluster's "outlier", drop the redundant near-centroid copies; ties
    * break on the lower id).
    *
    * Scale shape — the reason the recipe works at web scale: the
    * centroid table broadcasts (k rows, IVF-sized), assignment is one
    * map-side argmax absorbed by a partial aggregate (max of a
    * (sim, -cluster) struct — map-side combine, no window), and the
    * pairwise cosine join is keyed on `cluster_id`, so the quadratic
    * blow-up is bounded by the largest CLUSTER, never the corpus.
    * Components run over the sparse dup-pair graph
    * ([[connectedComponents]] — driver union-find under 1M edges,
    * large-star/small-star above).
    *
    * `centroids` contract: columns `(cluster_id, centroid)` — see
    * [[seedCentroids]] for the deterministic policy, or feed trained
    * k-means centroids.
    *
    * Returns one row per input vector:
    * `(id, cluster_id, group_id, centroid_sim, keep)` where `group_id`
    * is the dup-group label (own id for singletons) and `keep` is the
    * retention verdict.
    */
  /** [[semDeDup]] default path: seed centroids with the scale-safe
    * [[autoCentroidCount]] (k from a cheap corpus count — one extra
    * `df.count()` pass, recomputed on non-deterministic inputs; pass
    * explicit centroids to pin). Production quality improves with
    * trained k-means centroids; the dedup semantics are identical.
    */
  def semDeDup(
      df: DataFrame,
      vecCol: Column,
      idCol: Column,
      minCosSim: Double): DataFrame =
    semDeDup(df, vecCol, idCol,
      seedCentroids(df, vecCol, idCol, autoCentroidCount(df.count())), minCosSim)

  def semDeDup(
      df: DataFrame,
      vecCol: Column,
      idCol: Column,
      centroids: DataFrame,
      minCosSim: Double): DataFrame = {
    val base = df.select(idCol.as("id"), vecCol.as("__v"))
    // Nearest-centroid assignment, IVF-style TWO-LEVEL with MULTI-PROBE
    // (the FAISS coarse-quantizer shape, fully deterministic so the
    // oracle replays it): the ⌈√k⌉ lowest-id centroids double as
    // SUPER-centroids; each centroid routes to its single nearest super
    // (k×√k — tiny; memberships stay a PARTITION), each vector probes
    // its TOP-2 supers (n×√k routing) and argmaxes over their member
    // centroids (n·2·k/√k expected) — n·3√k cosine flops total instead
    // of the flat scan's n·k (30× at k=8k), at the cost of IVF's usual
    // approximation: a vector may land on a neighboring cluster when
    // its true-best centroid routed outside both probed supers
    // (SemDeDup's clustering is a heuristic partition; the dedup
    // semantics downstream are unchanged; the router spec pins observed
    // agreement with the flat argmax). Ties break on the lower id at
    // every level; duplicate-vector supers are never probed ahead of
    // their lower-id twin. The probe window partitions by VECTOR id —
    // maximal cardinality, no skew funnel.
    // The centroid table is broadcast-sized BY CONTRACT (≤65536 rows) —
    // collect it ONCE so (a) a non-deterministic centroid source
    // (trained k-means, the documented production path) cannot produce
    // inconsistent supers/membership across the plan's several centroid
    // consumers, and (b) k comes from the row count with no extra jobs.
    val centRows = centroids
      .select(col("cluster_id").cast("long"), col("centroid"))
      .take(65537)
    require(centRows.nonEmpty, "semDeDup requires at least one centroid")
    require(centRows.length <= 65536,
      "semDeDup: centroid table exceeds the 65536-row broadcast contract - " +
        "was the corpus passed instead of a centroid frame? Cluster first " +
        "(e.g. KMeans) and pass the fitted centers.")
    val kCount = centRows.length
    val kPrime = math.max(1, math.ceil(math.sqrt(kCount.toDouble)).toInt)
    val probes = 2
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__cid",
        org.apache.spark.sql.types.LongType),
      centroids.schema.fields
        .find(_.name == "centroid").get.copy(name = "__cv")))
    val spark = df.sparkSession
    def centDf(rows: Seq[org.apache.spark.sql.Row]) = broadcast(
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, centSchema))
    val centsB = centDf(centRows.toSeq)
    val sups = centDf(centRows.sortBy(_.getLong(0)).take(kPrime).toSeq)
      .select(col("__cid").as("__sid"), col("__cv").as("__sv"))
    // centroid → super membership (k rows, broadcast with the vectors):
    // top-1 via max(struct) — a partition, not a cover
    val memb = broadcast(
      centsB.crossJoin(sups)
        .withColumn("__ssim",
          graft.functions.distances.cosineSimilarity(col("__cv"), col("__sv")))
        .groupBy(col("__cid"), col("__cv"))
        .agg(max(struct(col("__ssim").as("s"), (-col("__sid")).as("ns"))).as("__sm"))
        .select((-col("__sm.ns")).as("__msid"), col("__cid"), col("__cv")))
    // vector → top-`probes` supers. The probe window sees only SLIM
    // (id, super, sim) rows — the vector column is projected away
    // before the rank shuffle and re-joined once afterwards, so the
    // embeddings cross the exchange once (keyed by id), not √k times.
    val probeW = Window.partitionBy(col("id"))
      .orderBy(col("__ssim").desc, col("__sid").asc)
    val v2s = base.crossJoin(sups)
      .withColumn("__ssim",
        graft.functions.distances.cosineSimilarity(col("__v"), col("__sv")))
      .select(col("id"), col("__sid"), col("__ssim"))
      .withColumn("__rn", row_number().over(probeW))
      .filter(col("__rn") <= probes)
      .select(col("id"), col("__sid").as("__vsid"))
      .join(base, "id")
    // Persisted ON PURPOSE (the d16/t20 recompute-over-persist lesson
    // cuts the other way here): four consumers read this frame — both
    // sides of the pair self-join, the labeled output, and the keep
    // rule — and recomputing it is a full n×√k cosine sweep each time,
    // not a scan-stage projection. The materialized rows are slim
    // (id, cluster, sim — no vectors).
    val assigned = v2s
      .join(memb, col("__vsid") === col("__msid"))
      .withColumn("__csim",
        graft.functions.distances.cosineSimilarity(col("__v"), col("__cv")))
      .groupBy(col("id"))
      .agg(max(struct(col("__csim").as("s"), (-col("__cid")).as("nc"))).as("__m"))
      .select(col("id"), (-col("__m.nc")).as("cluster_id"),
        col("__m.s").as("centroid_sim"))
      .persist()
    val withVec = assigned.join(base, "id")
    // Within-cluster near-dup pairs: the join is keyed on cluster_id, so
    // pairs only ever meet inside one cluster's partition.
    val a = withVec.select(col("cluster_id").as("__ca"), col("id").as("id_a"),
      col("__v").as("__va"))
    val b = withVec.select(col("cluster_id").as("__cb"), col("id").as("id_b"),
      col("__v").as("__vb"))
    val pairs = a.join(b, col("__ca") === col("__cb") && col("id_a") < col("id_b"))
      .filter(graft.functions.distances.cosineSimilarity(
        col("__va"), col("__vb")) >= minCosSim)
      .select(col("id_a"), col("id_b"))
    val groups = connectedComponents(pairs)
      .withColumnRenamed("cluster_id", "group_id")
    val labeled = assigned
      .join(groups, assigned("id") === groups("id"), "left")
      .select(assigned("id"), col("cluster_id"), col("group_id"),
        col("centroid_sim"))
    // Keep rule: per dup group, argmin(centroid_sim, id) — one partial
    // aggregate over the (small) grouped membership.
    val kept = labeled.filter(col("group_id").isNotNull)
      .groupBy(col("group_id"))
      .agg(min(struct(col("centroid_sim").as("s"), col("id").as("i"))).as("__k"))
      .select(col("group_id").as("__g"), col("__k.i").as("__kept_id"))
    // kept is usually tiny (one row per dup group) but not BOUNDED —
    // leave the broadcast decision to AQE rather than forcing a hint
    // that could OOM on a pathological mostly-duplicate corpus.
    labeled.join(kept, col("group_id") === col("__g"), "left")
      .select(col("id"), col("cluster_id"),
        coalesce(col("group_id"), col("id")).as("group_id"),
        col("centroid_sim"),
        (col("group_id").isNull || col("id") === col("__kept_id")).as("keep"))
    // the assignment cache stays live with the returned (lazy) frame —
    // the partitionedRunningSum/t20 posture: a live plan over an eager
    // checkpoint that would collapse the plan tree (plans/headline/
    // d20_semdedup_plan.txt) to an RDD scan;
    // long-lived sessions can clearCache between pipeline stages
  }

  /** Quality-aware dedup retention — the SlimPajama/Dolma rule: given
    * any near-dup PAIR feed (n-gram Jaccard, MinHash-LSH, SimHash,
    * embedding cosine) and a per-document quality signal, group pairs
    * transitively and KEEP the highest-quality member of each group
    * (ties on the lower id); singletons keep themselves. The
    * text-side counterpart of [[semDeDup]]'s keep rule — retention is a
    * POLICY over clusters, orthogonal to how candidates were found.
    *
    * Scale shape: groups come from [[connectedComponents]] over the
    * sparse pair graph; the keep rule is two partial aggregates plus one
    * slim join over the (id, group, quality) membership — nothing here
    * touches document text.
    *
    * Contract: ids must be integral ([[connectedComponents]] runs
    * union-find/star-contraction over longs — non-numeric ids fail
    * loudly at the cast); quality may be ANY orderable type, nulls rank
    * lowest.
    *
    * Returns one row per input doc: `(id, group_id, quality, keep)`.
    */
  def keepBestPerCluster(
      df: DataFrame,
      idCol: Column,
      qualityCol: Column,
      pairs: DataFrame): DataFrame = {
    val groups = connectedComponents(pairs)
      .withColumnRenamed("cluster_id", "group_id")
    val base = df.select(idCol.as("id"), qualityCol.as("quality"))
    val labeled = base.join(groups, base("id") === groups("id"), "left")
      .select(base("id"), col("group_id"), col("quality"))
    // argmax(quality, tie min id) as two partial aggs + one slim join —
    // no max(struct(q, -id)) trick, which would cast a non-numeric id
    // to NULL (silently dropping every group member) and would force a
    // numeric quality; this shape takes ANY orderable id/quality types.
    // Null-safe quality match so an all-null-quality group still keeps
    // its lowest id instead of keeping nobody.
    val grouped = labeled.filter(col("group_id").isNotNull)
    val best = grouped.groupBy(col("group_id"))
      .agg(max(col("quality")).as("__bq"))
      .select(col("group_id").as("__bg"), col("__bq"))
    val kept = grouped
      .join(best, col("group_id") === col("__bg") &&
        col("quality") <=> col("__bq"))
      .groupBy(col("group_id"))
      .agg(min(col("id")).as("__kept_id"))
      .select(col("group_id").as("__g"), col("__kept_id"))
    labeled.join(kept, col("group_id") === col("__g"), "left")
      .select(col("id"),
        coalesce(col("group_id"), col("id")).as("group_id"),
        col("quality"),
        (col("group_id").isNull || col("id") === col("__kept_id")).as("keep"))
  }

  /** Connected components over an undirected near-dup pair list — the
    * transitive-closure step that turns pairwise near-duplicates into
    * dedup CLUSTERS (canonical id = component minimum), so "keep one doc
    * per cluster" stays well-defined even though near-dup similarity is
    * not transitive.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * literature), which converges in O(log n) rounds on any graph vs
    * O(diameter) for plain min-label propagation. Each round is one
    * aggregation + one join, both keyed on node id; neighbor lists are
    * never materialized as arrays (a hot node with millions of
    * neighbors stays row-shaped through the shuffle), and lineage is cut
    * per round with localCheckpoint so the iterated plan doesn't grow.
    *
    * Input: first two columns of `pairs` are the edge endpoints.
    * Returns (id, cluster_id) for every node appearing in `pairs`;
    * isolated nodes are absent — callers left-join and coalesce to the
    * node's own id (see d07).
    *
    * Adaptive small-graph path: a near-dup pair graph is usually a
    * vanishing fraction of the corpus, so when the deduplicated edge set
    * fits `driverMaxEdges` (16 bytes/edge — the default 1M edges is
    * ~16 MB, the same bounded-materialization budget as AQE broadcast or
    * the k-means training threshold) it is collected and solved with
    * union-find on the driver: one job instead of ~5 shuffle-heavy
    * rounds. Larger graphs take the distributed loop unchanged.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 30,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    // Checkpoint blocks are released by unpersisting the EXACT RDD each
    // round checkpointed (the LogicalRDD leaf the lazy localCheckpoint
    // wrapped), never by diffing the global persistent-RDD registry —
    // Spark supports concurrent query threads on one SparkContext, and a
    // registry diff could evict another thread's freshly cached or
    // checkpointed blocks (unrecomputable in the checkpoint case).
    def cpRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    def release(df: DataFrame): Unit =
      cpRdd(df).foreach(_.unpersist(blocking = false))
    // canonical directed form: u > v (edges point larger -> smaller)
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
    // lazy checkpoints throughout the loop: the convergence aggregation
    // below is the first job that touches each round's frame, so
    // materializing the checkpoint rides that job — one job per round,
    // not a separate eager materialization plus the convergence check.
    var e = canon(pairs.select(col(pairs.columns(0)).cast("long").as("u"),
      col(pairs.columns(1)).cast("long").as("v"))).localCheckpoint(eager = false)

    // the count materializes the initial checkpoint either way
    val nEdges = e.count()
    if (nEdges <= driverMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val edges = e.as[(Long, Long)].collect()
      release(e)
      // path-halving union-find; roots are component minima because
      // canon() points every edge larger -> smaller and union always
      // attaches the larger root under the smaller one
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrElse(x, x)
        while (p != x) {
          val gp = parent.getOrElse(p, p)
          parent(x) = gp
          x = gp
          p = parent.getOrElse(x, x)
        }
        x
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }
      val labels = nodes.map(n => (n, find(n))).toMap.toSeq
      // a LocalRelation is already lineage-free — no checkpoint needed
      return labels.toDF("id", "cluster_id")
    }

    // large-star: each node's strictly-larger neighbors re-point at the
    // min of its closed neighborhood.
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = bi.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      canon(bi.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star: smaller neighbors (and the node itself) re-point at
    // the neighborhood min; on u>v directed edges every neighbor
    // qualifies.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      canon(e.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(m.select(col("u"), col("m").as("v"))))
    }

    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      // single-job set-equality check: signed counts over the union —
      // both sides are distinct sets, so the symmetric difference is
      // empty iff every (u,v) group sums to 0. The shuffle map stage of
      // this aggregation computes every partition of `next`, which is
      // what materializes its lazy checkpoint — convergence check and
      // checkpoint share the round's single job.
      converged = next.select(col("u"), col("v"), lit(1).as("__s"))
        .unionAll(e.select(col("u"), col("v"), lit(-1).as("__s")))
        .groupBy(col("u"), col("v")).agg(sum(col("__s")).as("__d"))
        .filter(col("__d") =!= 0)
        .isEmpty
      release(e) // superseded — at most two rounds' blocks ever live
      e = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    val labels = e.select(col("u").as("id"), col("v").as("cluster_id"))
      .unionAll(e.select(col("v").as("id"), col("v").as("cluster_id")))
      .groupBy("id").agg(min("cluster_id").as("cluster_id"))
    // pin the final labels eagerly, then release the last round's blocks
    val out = labels.localCheckpoint(true)
    release(e)
    out
  }

  /** Benchmark-contamination report: for each corpus doc, the fraction
    * of its DISTINCT word n-grams that appear anywhere in the benchmark
    * set — the n-gram-overlap decontamination check LLM training
    * pipelines run against eval benchmarks (public method: GPT-3 paper
    * appendix C; Dolma toolkit). One row per corpus doc with any
    * overlap: (id, n_shingles, n_matched, overlap).
    *
    * Scale shape: both sides reduce to 8-byte shingle hashes; the
    * benchmark side is a DISTINCT hash set (benchmarks are MBs, so AQE
    * broadcasts it), the corpus side stays row-shaped — one join keyed
    * on the hash + one groupBy the doc id. No text string ever shuffles.
    */
  def contaminationReport(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: Column,
      idCol: Column,
      benchTextCol: Column,
      n: Int = 5): DataFrame = {
    def sh(df: DataFrame, t: Column, id: Column): DataFrame = df
      .select(id.as("id"), transform(text.tokenize(t), w => graft.functions.SparkHash.xxh64(w)).as("__th"))
      .select(col("id"), explode(array_distinct(hashShingles(col("__th"), n))).as("shash"))
    val corpusSh = sh(corpus, textCol, idCol)
    val benchSh = sh(bench, benchTextCol, idCol).select("shash").distinct()
      .withColumn("__hit", lit(1))
    corpusSh.join(benchSh, Seq("shash"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_matched"))
      .filter(col("n_matched") > 0)
      .withColumn("overlap",
        round(col("n_matched").cast("double") / col("n_shingles").cast("double"), 4))
  }

  /** Span-level DECONTAMINATION — remove benchmark-overlapping n-gram
    * spans from training documents (the GPT-3 appendix-C recipe, Brown
    * et al. 2020: training text matching a benchmark 13-gram is
    * removed; d08's [[contaminationReport]] is the read-only audit,
    * this op actually cleans). A training token is dropped iff it is
    * covered by ANY n-token window whose text appears among the
    * benchmark's n-grams; the document is reassembled from the
    * survivors. Returns (id, n_tokens, n_removed, cleaned_text) for
    * every training document.
    *
    * Scale shape: the benchmark n-gram set is distinct-projected and
    * met in a hash join keyed on the window text (at real benchmark
    * sizes it broadcasts); covered positions explode only from MATCHED
    * windows (≤ n rows each, and only contaminated docs produce any),
    * then one anti-join drops covered tokens and one doc-id groupBy
    * reassembles. No all-pairs anything.
    */
  def decontaminateSpans(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: Column,
      idCol: Column,
      benchTextCol: Column,
      n: Int = 13): DataFrame = {
    // benchmark examples SHORTER than n contribute their whole token
    // sequence as one gram (the appendix-C rule "for examples shorter
    // than 13 words we use the whole example") — without this, short
    // benchmark answers verbatim in the corpus would silently survive.
    // A k-token gram string only ever equals another k-token string, so
    // grams of different k can share one join key.
    val benchToks = bench
      .select(text.tokenize(benchTextCol).as("__t"))
      .filter(size(col("__t")) >= 1)
    val benchGrams = benchToks
      .select(explode(when(size(col("__t")) >= n,
        transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => array_join(slice(col("__t"), i, lit(n)), " ")))
        .otherwise(array(array_join(col("__t"), " ")))).as("w"))
      .distinct()
    // the distinct gram LENGTHS actually present (≤ n values, driver-
    // bounded like the other dictionary-sized loads; normally just {n})
    val ks = benchToks
      .select(least(size(col("__t")), lit(n)).as("k")).distinct()
      .collect().map(_.getInt(0)).sorted
    // the tokenized corpus is a SCAN-STAGE PROJECTION evaluated once per
    // consumer (window pass per k, token explode, final count) — NOT
    // persisted: caching the token arrays was measured 10× SLOWER at
    // bench scale (cache write + eager checkpoint dwarf three codegen
    // regex-split projections), and at 100 TB a materialized token cache
    // is exactly the memory footprint a scan-stage recompute avoids
    val toksDf = corpus.select(idCol.as("id"), text.tokenize(textCol).as("__t"))
    def coveredAt(k: Int): DataFrame = toksDf
      .select(col("id"),
        posexplode(when(size(col("__t")) >= k,
          transform(sequence(lit(1), size(col("__t")) - (k - 1)),
            i => array_join(slice(col("__t"), i, lit(k)), " ")))
          .otherwise(array())))
      .withColumnRenamed("pos", "wpos0")
      .withColumnRenamed("col", "w")
      .join(benchGrams, Seq("w")) // inner: only contaminated windows
      .select(col("id"),
        explode(sequence(col("wpos0") + 1, col("wpos0") + k)).as("p"))
    val covered = ks.map(coveredAt).reduceOption(_ unionByName _)
      .map(_.distinct())
      .getOrElse(toksDf.sparkSession.emptyDataFrame
        .withColumn("id", lit(0L)).withColumn("p", lit(0)).limit(0))
    val toks = toksDf
      .select(col("id"), posexplode(col("__t")))
      .select(col("id"), (col("pos") + 1).as("p"), col("col").as("tok"))
    val kept = toks.join(covered, Seq("id", "p"), "left_anti")
    val perDoc = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("p"), col("tok")))), x => x.getField("tok")), " ")
          .as("cleaned_text"))
    toksDf.select(col("id"), size(col("__t")).cast("long").as("__nt"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), col("__nt").as("n_tokens"),
        (col("__nt") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Span-level (substring) duplication report — the SEQUENCE-level
    * dedup step of LLM training pipelines, complementing the doc-level
    * family above (public method: Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"; Dolma's
    * paragraph/span dedup): hash every n-token window of every doc,
    * count each window's occurrences CORPUS-WIDE with multiplicity (a
    * span repeated inside one doc is still a duplicated span), report
    * per doc how many of its windows are duplicated. A pipeline then
    * drops or masks the flagged spans. Docs shorter than n tokens have
    * no windows and no row.
    *
    * Scale shape: no text ever shuffles — each doc reduces to 8-byte
    * window hashes; one shuffle keyed on the hash (a count window over
    * hash groups — groups are duplicate sets, naturally small, and a
    * pathological boilerplate span only grows ONE group), then one
    * groupBy the doc id over slim (id, flag) rows.
    */
  def spanDupReport(
      df: DataFrame,
      textCol: Column,
      idCol: Column,
      n: Int = 8): DataFrame = {
    // token-hash array materialized as a bound column BEFORE the window
    // expansion: hashShingles reads element_at 8× per window, and an
    // inlined transform(...) subtree would be re-evaluated per access
    // (the whole tokenize+hash per element_at — measured 28 s instead
    // of ~1 s at sf0.1), same discipline as contaminationReport
    val sh = df
      .select(idCol.as("id"),
        transform(text.tokenize(textCol),
          w => graft.functions.SparkHash.xxh64(w)).as("__th"))
      .select(col("id"), explode(hashShingles(col("__th"), n)).as("shash"))
    val occurrences = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("shash")))
    sh.withColumn("__c", occurrences)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_windows").cast("double"), 4))
  }

  /** Scale path for embedding near-dup: sign of r random hyperplane
    * projections → bucket; pairs meet only within a bucket. Recall is
    * tunable via number of hash tables (repeat with different seeds).
    *
    * The defaults are tuned for recall at the test corpus size; at a
    * growing corpus, grow `nPlanes` ≈ log2(n) − log2(targetBucketRows)
    * to hold bucket occupancy (candidate pairs linear in rows) and grow
    * `nTables` to hold recall — gaussian-plane recall per table is
    * (1 − θ/π)^nPlanes, so added planes must be compensated with more
    * tables. [[lshCosineCoordPairs]] automates the occupancy half via
    * its [[AutoPlanes]] default and is the engine's documented scale
    * path (its axis-aligned buckets are also engine-replayable).
    */
  /** Bucket self-join build-side strategy for the LSH pair paths —
    * `spark.graft.lsh.bucketJoin` session conf, default from env
    * `SPARK_GRAFT_LSH_JOIN`, else "shuffle_hash".
    *
    * - "shuffle_hash" (default): pin SHJ. The 100 TB shape — neither
    *   side of the bucket self-join can broadcast there, bounded bucket
    *   loads make the per-partition hash build tiny, and the (table,
    *   bucket) exchange spreads the cosine verify across reducers
    *   (r21: with a single input split, AQE's broadcast plan ran the
    *   whole verify in ONE probe task).
    * - "auto": no hint — planner/AQE free choice (broadcast at small
    *   SF). Exists so the r21 driver regression on d09/d10/d17 can be
    *   A/B'd per VERDICT r21 #2 without a recompile.
    * - "broadcast": force broadcast of the build side.
    *
    * Any other value fails, so a typo cannot quietly A/B the default.
    */
  private def lshBucketBuildSide(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.lsh.bucketJoin")
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_LSH_JOIN", "shuffle_hash"))
    match {
      case "auto" => df
      case "broadcast" => broadcast(df)
      case "shuffle_hash" => df.hint("shuffle_hash")
      case other => throw new IllegalArgumentException(
        s"unknown LSH bucket-join mode '$other' (spark.graft.lsh.bucketJoin / " +
          "SPARK_GRAFT_LSH_JOIN): expected shuffle_hash, auto or broadcast")
    }

  def lshCosinePairs(
      df: DataFrame,
      vecCol: Column,
      idCol: Column,
      minCosSim: Double,
      nPlanes: Int = 12,
      nTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val dim = df.select(size(vecCol)).head().getInt(0)
    // one scan + posexplode over the per-table bucket keys (same rows as
    // the former nTables-branch union — see lshCosineCoordPairs)
    val tableBuckets = (0 until nTables).map { _ =>
      val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian().toFloat)
      planes.zipWithIndex.map { case (p, i) =>
        val proj = graft.functions.distances.dotProduct(vecCol, typedLit(p.toSeq))
        when(proj > 0f, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce[Column]((x, y) => x.bitwiseOR(y))
    }
    val buckets = df
      .select(idCol.as("id"), vecCol.as("__v"),
        posexplode(array(tableBuckets: _*)))
      .withColumnRenamed("pos", "table_id")
      .withColumnRenamed("col", "bucket")
    // shuffle-hash by default — see lshCosineCoordPairs / the knob doc
    buckets.as("a")
      .join(lshBucketBuildSide(buckets).as("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      // verify on the join output (map side of the pair dedup): candidate
      // pairs carry two full embeddings, so computing cos_sim and
      // filtering BEFORE dropDuplicates means only verified near-dup
      // pairs — slim (id, id, score) rows — ever shuffle. A pair that
      // collides in several tables re-computes its cosine that many
      // times; flops are far cheaper than shuffling vectors per
      // candidate pair.
      .withColumn("cos_sim",
        graft.functions.distances.cosineSimilarity(col("a.__v"), col("b.__v")))
      .filter(col("cos_sim") >= minCosSim)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos_sim"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Deterministic coordinate choices for [[lshCosineCoordPairs]]: per
    * table, `nPlanes` distinct coordinates sampled by `Random(seed)`.
    * Exposed so an external oracle can replay the identical bucketing.
    */
  def lshCoordPlanes(dim: Int, nPlanes: Int, nTables: Int,
      seed: Long): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    (0 until nTables).map(_ => rnd.shuffle((0 until dim).toList).take(nPlanes))
  }

  /** Sentinel for [[lshCosineCoordPairs]]' `nPlanes`: derive the plane
    * count from the corpus size instead of pinning it.
    */
  val AutoPlanes: Int = 0

  /** The scale-safe plane-count policy: enough sign bits that the
    * EXPECTED bucket occupancy n / 2^nPlanes stays ≤ 128 rows, i.e.
    * `max(4, ceil(log2(n / 128)))` — equivalently 4 planes at n ≈ 2k
    * (the sf0.1 corpus) growing by one per corpus doubling. Candidate
    * pairs per bucket are quadratic in occupancy, so a FIXED nPlanes
    * turns super-linear as the corpus grows (ScaleGrowth measured 23.6×
    * work at 20× data for nPlanes=4, near-flat for this policy) — the
    * reference likewise sizes LSH structures by corpus. Exposed so
    * oracles/tests can replay the derived count.
    */
  def scaledPlaneCount(n: Long): Int = {
    val target = 128.0
    // the 1e-9 slack keeps exact powers of two from rounding UP when
    // the double log ratio lands a hair above the integer
    math.max(4, math.ceil(math.log(math.max(1L, n) / target) /
      math.log(2.0) - 1e-9).toInt)
  }

  /** Random-hyperplane LSH blocking with AXIS-ALIGNED planes (the
    * coordinate-sampling member of the sign-random-projection family):
    * bucket bit i of table t is `sign(v[k_{t,i}])` for a seeded choice of
    * coordinates. Sign-of-a-stored-float is engine-independent — no
    * floating-point accumulation decides a bucket — so the whole pipeline
    * (bucketing → bucket join → exact cosine verify) is replayable
    * bit-for-bit by an independent SQL engine, turning this approximate
    * operator into an exact-oracle one. Same join/verify discipline as
    * [[lshCosinePairs]]: candidates meet only inside (table, bucket)
    * groups; cosine is verified map-side before any pair row shuffles.
    *
    * `nPlanes` defaults to [[AutoPlanes]]: a count of the input feeds
    * [[scaledPlaneCount]], so the as-shipped default is the
    * measured-near-flat parameterization at any scale. The count is one
    * extra Spark job at call time — footer-metadata-cheap for a bare
    * parquet table, but a derived frame (joins/filters upstream)
    * executes its plan once for the count and again for the LSH job:
    * for those, persist the input or pin `nPlanes` explicitly. Pinning
    * (as the d09/d10 replay oracles do) is also what makes the
    * bucketing bit-replayable across engines.
    */
  def lshCosineCoordPairs(
      df: DataFrame,
      vecCol: Column,
      idCol: Column,
      minCosSim: Double,
      dim: Int,
      nPlanes: Int = AutoPlanes,
      nTables: Int = 16,
      seed: Long = 42L): DataFrame = {
    val effPlanes = math.min(math.min(dim, 62), // ≤ dim coords, bits fit a Long
      if (nPlanes == AutoPlanes) scaledPlaneCount(df.count()) else nPlanes)
    val planes = lshCoordPlanes(dim, effPlanes, nTables, seed)
    // All nTables bucket keys are computed in ONE pass over the scan and
    // row-multiplied with posexplode — the former per-table union re-read
    // the input nTables times (r21: 16 scan legs per join side collapsed
    // to one Generate; identical (id, table_id, bucket) rows).
    val tableBuckets = planes.map { coords =>
      coords.zipWithIndex.map { case (k, i) =>
        when(element_at(vecCol, k + 1) > lit(0f), lit(1L << i)).otherwise(lit(0L))
      }.reduce[Column]((x, y) => x.bitwiseOR(y))
    }
    val buckets = df
      .select(idCol.as("id"), vecCol.as("__v"),
        posexplode(array(tableBuckets: _*)))
      .withColumnRenamed("pos", "table_id")
      .withColumnRenamed("col", "bucket")
    // shuffle-hash, never broadcast: with a single input split the
    // broadcast plan AQE picks would run the whole cosine verify in ONE
    // probe task (measured 3× slower at sf0.1); the (table, bucket)
    // exchange spreads the verify across reducers and is the shape that
    // holds at 100 TB, where neither side could broadcast anyway. Same
    // hint rationale as blockedHammingPairs (bounded bucket loads make
    // the per-partition hash build tiny; no sort).
    buckets.as("a")
      .join(lshBucketBuildSide(buckets).as("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos_sim",
        graft.functions.distances.cosineSimilarity(col("a.__v"), col("b.__v")))
      .filter(col("cos_sim") >= minCosSim)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos_sim"))
      .dropDuplicates("id_a", "id_b")
  }
}
