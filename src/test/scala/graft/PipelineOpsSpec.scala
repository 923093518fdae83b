package graft

import org.apache.spark.sql.functions._

import graft.functions.{Aggregates, MiscAggregates}
import graft.operators.{Dedup, TextPipeline}

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- connected components ----

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n.toLong.toInt)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to the component min (roots are mins because unions
    // always point larger at smaller)
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("connectedComponents matches union-find on random graphs (both paths)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 30
      val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val exp = unionFind(n, edges)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      // driverMaxEdges = 0 forces the distributed large-star/small-star
      // loop; the default takes the driver union-find fast path — both
      // must agree with the reference union-find
      for (maxDriver <- Seq(0L, 1000000L)) {
        val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
            driverMaxEdges = maxDriver)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        touched.foreach { v =>
          assert(got(v) === exp(v), s"node $v trial $trial driver=$maxDriver") }
        assert(got.keySet === touched) // isolated nodes absent by contract
      }
    }
  }

  test("connectedComponents handles a long chain (worst case for label propagation)") {
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    for (maxDriver <- Seq(0L, 1000000L)) {
      val got = Dedup.connectedComponents(chain.toDF("a", "b"),
          driverMaxEdges = maxDriver)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.values.toSet === Set(0L))
      assert(got.size === 40)
    }
  }

  // ---- contamination ----

  test("contaminationReport counts distinct-shingle overlap") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps somewhere else entirely today"), // shares '{the,quick,brown,fox,jumps}' 5-gram
      (11L, "completely different words with no overlap at all here")
    ).toDF("id", "text")
    val got = Dedup.contaminationReport(corpus, bench, col("text"), col("id"),
        col("text"), n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got === Map(10L -> 1L)) // only the shared leading 5-gram; doc 11 absent
  }

  // ---- chunking ----

  test("decontaminateSpans removes exactly the covered token positions") {
    import graft.operators.Dedup
    val gram = (1 to 8).map(i => s"g$i").mkString(" ") // the shared 8-gram
    val train = Seq(
      (1L, s"alpha beta $gram gamma delta"),  // tokens 3..10 covered
      (2L, "clean text with no overlap at all here okay"),
      (3L, gram))                             // fully covered
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"intro $gram outro")).toDF("doc_id", "text")
    val got = Dedup.decontaminateSpans(train, bench,
        col("text"), col("doc_id"), col("text"), n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((12L, 8L, "alpha beta gamma delta")))
    assert(got(2L) === ((9L, 0L, "clean text with no overlap at all here okay")))
    assert(got(3L) === ((8L, 8L, "")))
    // SHORT benchmark examples (< n tokens) use the WHOLE example as
    // the gram (the appendix-C rule) — verbatim short answers must not
    // slip through. A bench frame with a DIFFERENT id column name works
    // (only its text column is touched).
    val shortBench = Seq((7L, "secret answer phrase")).toDF("example_id", "q")
    val train2 = Seq(
      (1L, "intro secret answer phrase outro"),   // 3-gram covered
      (2L, "secret answer other phrase here"))    // NOT contiguous — kept
      .toDF("doc_id", "text")
    val got2 = Dedup.decontaminateSpans(train2, shortBench,
        col("text"), col("doc_id"), col("q"), n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(got2(1L) === ((3L, "intro outro")))
    assert(got2(2L) === ((0L, "secret answer other phrase here")))
  }

  test("corpusSpanDedup keeps only globally-first span occurrences") {
    val ten = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, ten + " k1 k2"),          // spans: [ten], [k1 k2]
      (2L, ten + " x1 x2"),          // span 0 dups doc 1's span 0
      (3L, "!!!"),                   // token-less
      (4L, ten + " " + ten))         // intra-doc repeat: span 1 dups span 0
      .toDF("doc_id", "text")
    val got = Dedup.corpusSpanDedup(docs, col("text"), col("doc_id"), n = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((2L, 2L, ten + " k1 k2")))
    assert(got(2L) === ((2L, 1L, "x1 x2")))
    assert(got(3L) === ((0L, 0L, "")))
    assert(got(4L) === ((2L, 0L, ""))) // both spans = doc 1's span 0
  }

  test("temperatureMix: integer-exact rates, hash-deterministic selection") {
    import graft.operators.Packing
    // strata: 'big' 100 docs, 'small' 4 docs; budget 52 at alpha 0.5:
    // w = floor(sqrt(n)) = (10, 2), W = 12, quota = (10*52/12, 2*52/12)
    // = (43, 8), rate_ppm = (430000, min(1e6, 2000000) = 1e6)
    val docs = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 104).map(i => (i.toLong, "small"))).toDF("doc_id", "lang")
    val sel = Packing.temperatureMix(docs, col("lang"), col("doc_id"),
        budget = 52L, alpha = 0.5)
      .select("doc_id", "lang", "__rate_ppm").collect()
    val rates = sel.map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rates("small") === 1000000L)
    assert(rates.get("big").forall(_ === 430000L))
    assert(sel.count(_.getString(1) == "small") === 4) // rate 1e6 keeps all
    // independent replay of the md5-bucket selection for the 'big' side
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val expectedBig = (1 to 100).map(_.toLong).filter(bucket(_) < 430000L).toSet
    val gotBig = sel.filter(_.getString(1) == "big").map(_.getLong(0)).toSet
    assert(gotBig === expectedBig)
  }

  test("temperatureMix: NULL strata form their own quota group, not a drop") {
    import graft.operators.Packing
    // 4 null-stratum docs + 4 'en' docs, budget big enough that every
    // stratum keeps rate 1e6 — a plain === join key would silently drop
    // the null side; <=> must keep all 8
    val docs = ((1 to 4).map(i => (i.toLong, null: String)) ++
      (5 to 8).map(i => (i.toLong, "en"))).toDF("doc_id", "lang")
    val sel = Packing.temperatureMix(docs, col("lang"), col("doc_id"),
      budget = 100L, alpha = 0.5).collect()
    assert(sel.length === 8)
    assert(sel.count(_.isNullAt(1)) === 4)
  }

  test("epochCappedMix: repetition up to the cap, integer-exact rates") {
    import graft.operators.Packing
    // 'small' (4 rows) should hit the 2-epoch cap; 'big' (100 rows)
    // takes the remaining budget below 1 epoch. w = (10, 2), W = 12;
    // quota_small = min(2*60/12, 4*2) = min(10, 8) = 8 -> rate 2e6 ppm
    // (every row exactly twice); quota_big = min(10*60/12, 200) = 50
    // -> rate 500000 ppm (hash-selected half, single copies)
    val docs = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 104).map(i => (i.toLong, "small"))).toDF("doc_id", "lang")
    val sel = Packing.epochCappedMix(docs, col("lang"), col("doc_id"),
      budget = 60L, maxEpochs = 2).collect()
    val small = sel.filter(_.getString(1) == "small")
    assert(small.length === 8) // 4 rows x exactly 2 epochs
    assert(small.map(r => (r.getLong(0), r.getLong(3))).toSet ===
      (101 to 104).flatMap(i => Seq((i.toLong, 0L), (i.toLong, 1L))).toSet)
    val big = sel.filter(_.getString(1) == "big")
    assert(big.forall(_.getLong(3) === 0L)) // never repeats below 1 epoch
    assert(big.map(_.getLong(0)).distinct.length === big.length)
    // determinism: membership is a pure function of (id, rate) —
    // rerunning reproduces the exact copy set
    val again = Packing.epochCappedMix(docs, col("lang"), col("doc_id"),
      budget = 60L, maxEpochs = 2).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(again === sel.map(r => (r.getLong(0), r.getLong(3))).toSet)
  }

  test("gopherRules: symbol classes separate; '...' counts as ellipsis") {
    import graft.operators.TextPipeline
    val filler = (1 to 60).map(_ => "the").mkString(" ") // 60 stopwords
    val docs = Seq(
      // 4 hashes + 4 '…' over 64 words: each class alone ≤ 0.1n (6.4),
      // combined 8 > 6.4 — the paper applies the threshold PER CLASS,
      // so this doc passes (the pooled rule would fail it)
      (1L, filler + " a# b# c# d#… … … …"),
      // 8 three-dot ellipses over 64 words: 80 > 64 → symbol_ok false
      // (the '…'-only keep set would miss the '...' form entirely)
      (2L, filler + " w... x... y... z... p... q... r... s..."),
      // clean control
      (3L, filler + " and some more plain words here"))
      .toDF("doc_id", "text")
    val got = TextPipeline.gopherRules(docs, col("text"), col("doc_id"),
        minWords = 10L)
      .collect().map(r => r.getLong(0) ->
        r.getBoolean(r.fieldIndex("symbol_ok"))).toMap
    assert(got(1L) === true)
    assert(got(2L) === false)
    assert(got(3L) === true)
  }

  test("semanticContamination: count + closest cosine per benchmark vector") {
    import graft.operators.Dedup
    val bench = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
    val corpus = Seq(
      (10L, Seq(1f, 0f)),     // identical to bench 1 (cos 1.0)
      (11L, Seq(1f, 1f)),     // cos ~0.707 to both
      (12L, Seq(-1f, 0f)))    // cos -1 to bench 1, 0 to bench 2
      .toDF("id", "v")
    val got = Dedup.semanticContamination(corpus, bench, col("v"), col("id"),
        minCosSim = 0.7)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), math.round(r.getFloat(2) * 1000) / 1000.0))).toMap
    assert(got(1L) === ((2L, 1.0)))     // 10 and 11 within 0.7; max = 1.0
    assert(got(2L) === ((1L, 0.707)))   // only 11; max ~0.707
  }

  test("lmQualityScore: hand-computed stupid-backoff means + backoff path") {
    import graft.operators.TextPipeline
    // corpus: uni a:3 b:3 c:1 z:1 (T=8); bi (a,b):3 (b,a):1 (b,c):1
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextPipeline.lmQualityScore(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // doc1: (a,b)=3/3, (b,a)=1/3, (a,b)=3/3 -> mean 7/9
    assert(math.abs(got(1L).get - 7.0 / 9.0) < 1e-12)
    // doc2: (a,b)=1, (b,c)=1/3 -> mean 2/3
    assert(math.abs(got(2L).get - 2.0 / 3.0) < 1e-12)
    assert(got(3L) === None) // single token: no bigram positions
    // external reference: scored text has an UNSEEN bigram and an unseen
    // token -> stupid backoff alpha*max(c1,1)/T fires
    val ref = Seq((10L, "a b")).toDF("doc_id", "text") // T=2, c1(a)=c1(b)=1
    val scored = Seq((1L, "a q")).toDF("doc_id", "text")
    val bk = TextPipeline.lmQualityScore(scored, col("text"), col("doc_id"),
      alpha = 0.4, reference = ref).collect()
    // (a,q) unseen, q unseen -> 0.4 * 1 / 2 = 0.2
    assert(math.abs(bk.head.getDouble(1) - 0.2) < 1e-12)
  }

  test("urlCanonicalKey: case/www/port/fragment/tracking/slash rules") {
    import graft.functions.text
    def k(u: String): String =
      Seq(u).toDF("u").select(text.urlCanonicalKey(col("u"))).head().getString(0)
    assert(k("HTTP://WWW.Ex.COM:80/A/?b=2&utm_x=1&a=1#f") === "http://ex.com/A?a=1&b=2")
    assert(k("https://ex.com:443/p") === "https://ex.com/p")
    assert(k("https://ex.com:8443/p") === "https://ex.com:8443/p") // non-default kept
    assert(k("http://ex.com") === "http://ex.com")
    assert(k("http://ex.com/") === "http://ex.com")
    assert(k("http://ex.com/?gclid=g&fbclid=f&ref=r") === "http://ex.com")
    assert(k("not a url") === "not a url") // unparsable: lowercased identity
    assert(k("Not A URL#x") === "not a url")
    // empty authority: identity, NOT collapsed to bare "scheme://"
    assert(k("file:///etc/a") === "file:///etc/a")
    assert(k("file:///etc/b") === "file:///etc/b")
    // null-URL rows are excluded from dedup groups
    import graft.operators.Dedup
    val withNull = Seq((1L, "http://ex.com/a"), (2L, null), (3L, null))
      .toDF("id", "u")
    val groups = Dedup.urlDedupGroups(withNull, col("u"), col("id"))
    assert(groups.count() === 1)
  }

  test("chunk emits sliding windows with a short tail") {
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("id", "text")
    val got = TextPipeline.chunk(df, col("text"), col("id"), chunkSize = 4, stride = 3)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got === Array(
      (0, 4, "w1 w2 w3 w4"),
      (1, 4, "w4 w5 w6 w7"),
      (2, 4, "w7 w8 w9 w10"),
      (3, 1, "w10")))
  }

  test("chunk is a single codegen stage — no shuffle") {
    val df = Seq((1L, "a b c")).toDF("id", "text")
    val plan = TextPipeline.chunk(df, col("text"), col("id"), 2, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ---- PII ----

  test("piiRedact masks and counts emails, phones, IPs") {
    val df = Seq((1L, "mail a.b+c@ex-1.org or x@y.io call 555-123-4567 from 10.0.0.1 done"))
      .toDF("id", "text")
    val r = TextPipeline.piiRedact(df, col("text")).head()
    assert(r.getAs[Int]("n_emails") === 2)
    assert(r.getAs[Int]("n_phones") === 1)
    assert(r.getAs[Int]("n_ips") === 1)
    assert(r.getAs[String]("redacted") ===
      "mail [EMAIL] or [EMAIL] call [PHONE] from [IP] done")
  }

  // ---- sequenceNextNode ----

  private def nextNodeOf(rows: Seq[(Double, String)], conds: String*): Option[String] = {
    val df = rows.toDF("t", "ev")
    val c = Aggregates.sequenceNextNode(col("t"), col("ev"), lit(true),
      conds.map(col("ev") === _): _*)
    Option(df.agg(c.as("nn")).head().getString(0))
  }

  test("sequenceNextNode returns the event after the head chain") {
    assert(nextNodeOf(Seq((1.0, "a"), (2.0, "b"), (3.0, "c"), (4.0, "d")),
      "a", "b") === Some("c"))
    // chain matches but sequence ends — null
    assert(nextNodeOf(Seq((1.0, "a"), (2.0, "b")), "a", "b") === None)
    // head event doesn't match cond1 — null
    assert(nextNodeOf(Seq((1.0, "x"), (2.0, "a"), (3.0, "b")), "a", "b") === None)
    // second event breaks the chain — null
    assert(nextNodeOf(Seq((1.0, "a"), (2.0, "x"), (3.0, "b")), "a", "b") === None)
  }

  test("sequenceNextNode respects baseCond on the head event") {
    val df = Seq((1.0, "a", false), (2.0, "b", true)).toDF("t", "ev", "base")
    val c = Aggregates.sequenceNextNode(col("t"), col("ev"), col("base"),
      col("ev") === "a")
    assert(df.agg(c.as("nn")).head().getString(0) == null)
  }

  test("HeadBuf keeps only the k time-smallest events across merges") {
    val a = new Aggregates.HeadBuf(3)
    Seq((5.0, "e"), (1.0, "a"), (3.0, "c")).foreach { case (t, v) => a.insert(t, v, 0) }
    val b = new Aggregates.HeadBuf(3)
    Seq((2.0, "b"), (4.0, "d")).foreach { case (t, v) => b.insert(t, v, 0) }
    a.mergeFrom(b)
    assert(a.n === 3)
    assert((0 until a.n).map(a.vs) === Seq("a", "b", "c"))
  }

  // ---- categorical IV ----

  test("categoricalIv computes WoE per category") {
    // cat A: 3 pos 1 neg; cat B: 1 pos 3 neg → n1=4, n0=4
    val df = (Seq.fill(3)(("A", true)) ++ Seq(("A", false)) ++
      Seq(("B", true)) ++ Seq.fill(3)(("B", false))).toDF("cat", "tag")
    val got = MiscAggregates.categoricalIv(df, col("cat"), col("tag"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val woeA = math.log((3.0 / 4.0) / (1.0 / 4.0))
    assert(math.abs(got("A")._1 - woeA) < 1e-12)
    assert(math.abs(got("A")._2 - (3.0 / 4.0 - 1.0 / 4.0) * woeA) < 1e-12)
    assert(math.abs(got("B")._1 + woeA) < 1e-12) // symmetric
  }

  // ---- sparkbar ----

  test("sparkbar renders scaled glyphs with gaps as spaces") {
    val df = Seq(("g", 0L, 1.0), ("g", 1L, 8.0), ("g", 3L, 4.0)).toDF("k", "x", "y")
    val got = MiscAggregates.sparkbar(df, Seq(col("k")), col("x"), col("y"),
      nBuckets = 4, xMin = 0, xMax = 3).select("sparkbar").head().getString(0)
    // max=8 → levels ceil(8·y/8): 1, 8, gap, 4
    assert(got === "▁█ ▄")
  }

  // ---- regression fits ----

  test("linearRegressionFit recovers exact coefficients") {
    val rnd = new scala.util.Random(1)
    val rows = Seq.fill(500) {
      val x1 = rnd.nextDouble() * 10; val x2 = rnd.nextDouble() * 5
      (x1, x2, 2.0 * x1 - 3.0 * x2 + 5.0)
    }
    val r = MiscAggregates.linearRegressionFit(rows.toDF("x1", "x2", "y"),
      col("y"), Seq(col("x1"), col("x2"))).head()
    assert(math.abs(r.getAs[Double]("w1") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("w2") + 3.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("intercept") - 5.0) < 1e-9)
  }

  test("logisticRegressionGD separates linearly separable data") {
    val rnd = new scala.util.Random(2)
    val rows = Seq.fill(400) {
      val x1 = rnd.nextDouble() * 2 - 1; val x2 = rnd.nextDouble() * 2 - 1
      (x1, x2, x1 + x2 > 0.0)
    }.filter { case (x1, x2, _) => math.abs(x1 + x2) > 0.2 } // margin
    val r = MiscAggregates.logisticRegressionGD(rows.toDF("x1", "x2", "y"),
      col("y"), Seq(col("x1"), col("x2")), lr = 2.0, iters = 120).head()
    assert(r.getAs[Double]("accuracy") === 1.0)
    // learned boundary direction ≈ (1, 1)
    assert(r.getAs[Double]("w1") > 0 && r.getAs[Double]("w2") > 0)
  }

  // ---- packing / splits / mixing / shuffle (operators.Packing) ----

  test("packSequences: stream invariants hold and chunks are dense") {
    import graft.operators.Packing
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val packed = Packing.packSequences(docs, col("doc_id"),
      graft.functions.text.tokenCount(col("text")), budget = 512L)
      .orderBy(col("id")).collect()
    var cum = 0L
    packed.foreach { r =>
      assert(r.getAs[Long]("cum_before") === cum) // exact stream positions
      assert(r.getAs[Long]("offset_in_chunk") === cum % 512)
      assert(r.getAs[Long]("chunk_start") === cum / 512)
      cum += r.getAs[Long]("n_tokens")
      val lastTok = math.max(cum - 1, r.getAs[Long]("cum_before"))
      assert(r.getAs[Long]("chunk_end") === math.max(lastTok / 512, r.getAs[Long]("chunk_start")))
    }
    // chunk ids are dense 0..maxChunk (documents straddle boundaries, so
    // no chunk can be skipped)
    val chunks = packed.flatMap(r =>
      r.getAs[Long]("chunk_start") to r.getAs[Long]("chunk_end")).toSet
    assert(chunks === (0L to (cum - 1) / 512).toSet)
  }

  test("deterministicSplit: stable under appends, percentages in range") {
    import graft.operators.Packing
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val full = Packing.deterministicSplit(docs, col("doc_id"))
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // membership is a pure function of the id: a subset corpus assigns
    // the same splits (append-stability)
    val subset = Packing.deterministicSplit(
        docs.filter(col("doc_id") < 100), col("doc_id"))
      .select(col("doc_id"), col("split")).collect()
    subset.foreach(r => assert(full(r.getLong(0)) === r.getString(1)))
    val n = full.size.toDouble
    val frac = full.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("val") - 0.10) < 0.06, frac.toString)
    assert(math.abs(frac("test") - 0.10) < 0.06, frac.toString)
    assert(frac("train") > 0.7)
  }

  test("stratifiedSampleByHash: raising a fraction only adds rows") {
    import graft.operators.Packing
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    def ids(pct: Int): Set[Long] =
      Packing.stratifiedSampleByHash(docs, col("lang"), col("doc_id"),
          Map("en" -> 100), defaultPct = pct)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val at10 = ids(10); val at25 = ids(25)
    assert(at10.subsetOf(at25)) // monotone growth — stable membership
    val en = docs.filter(col("lang") === "en")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(en.subsetOf(at10)) // 100% stratum fully kept
  }

  test("seededShuffle: deterministic, permutation, seed-sensitive") {
    import graft.operators.Packing
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    def order(seed: String): Seq[Long] =
      Packing.seededShuffle(docs, col("doc_id"), seed)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val a = order("s1"); val b = order("s1"); val c = order("s2")
    assert(a === b)                      // reproducible
    assert(a.toSet === c.toSet)          // permutation of the same rows
    assert(a !== c)                      // different seed, different order
    assert(a !== a.sorted)               // actually shuffled
  }

  test("semDeDup: cluster-local groups, keep = lowest centroid similarity") {
    // cluster 0 seeded by id 0 = [1,0]; cluster 1 by id 1 = [0,1].
    // ids 0/2/3 are mutual near-dups in cluster 0 (cos > 0.99); id 4
    // lands in cluster 1 but is NOT a dup of id 1 (cos ≈ 0.447).
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(1f, 0.1f)), (3L, Array(1f, 0.12f)),
      (4L, Array(-1f, 0.5f))).toDF("vec_id", "embedding")
    val out = Dedup.semDeDup(emb, col("embedding"), col("vec_id"),
        Dedup.seedCentroids(emb, col("embedding"), col("vec_id"), k = 2),
        minCosSim = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(out(0L) === ((0L, 0L, false)))  // dup group {0,2,3}, sim 1.0
    assert(out(2L) === ((0L, 0L, false)))  // sim ≈ 0.995
    assert(out(3L) === ((0L, 0L, true)))   // LOWEST centroid sim — kept
    assert(out(1L) === ((1L, 1L, true)))   // singleton keeps itself
    assert(out(4L) === ((1L, 4L, true)))   // assigned to 1, no dup pair
    // centroid_sim ordering that drives the keep rule
    val sims = Dedup.semDeDup(emb, col("embedding"), col("vec_id"),
        Dedup.seedCentroids(emb, col("embedding"), col("vec_id"), k = 2),
        minCosSim = 0.95)
      .collect().map(r => r.getLong(0) -> r.getFloat(3)).toMap
    assert(sims(0L) === 1.0f)
    assert(sims(2L) > sims(3L))
  }

  test("semDeDup: oversized centroid table fails loudly, not with a driver OOM") {
    // the documented contract is <=65536 broadcast-sized centroid rows;
    // passing the corpus by mistake must throw before materializing it
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val oversized = spark.range(65537)
      .select(col("id").as("cluster_id"),
        array(lit(1f), lit(0f)).as("centroid"))
    val e = intercept[IllegalArgumentException] {
      Dedup.semDeDup(emb, col("embedding"), col("vec_id"), oversized,
        minCosSim = 0.95).collect()
    }
    assert(e.getMessage.contains("65536"))
  }

  test("keepBestPerCluster: highest quality survives, ties on lower id") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),  // cluster {1,2,3}: 2 wins tie vs 3
      (4L, 99L),                         // singleton
      (5L, 5L), (6L, 7L)).toDF("id", "q") // cluster {5,6}: 6 wins
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerCluster(docs, col("id"), col("q"), pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, false)))
    assert(out(2L) === ((1L, true)))   // quality 30, lower id than 3
    assert(out(3L) === ((1L, false)))
    assert(out(4L) === ((4L, true)))   // singleton keeps itself
    assert(out(5L) === ((5L, false)))
    assert(out(6L) === ((5L, true)))
  }

  test("keepBestPerCluster: fractional quality is not truncated") {
    // a long-cast of quality would truncate every score to 0 and
    // degenerate the keep rule to lowest-id — 0.70 must beat 0.31,
    // and the 0.70 tie must break to the lower id
    val docs = Seq(
      (1L, 0.31), (2L, 0.70), (3L, 0.70), (9L, 0.99)).toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerCluster(docs, col("id"), col("q"), pairs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out === Map(1L -> false, 2L -> true, 3L -> false, 9L -> true))
  }

  test("keyedRank matches window row_number on random keyed data") {
    import graft.operators.RelationalOps
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map(i =>
      (i.toLong, s"k${rnd.nextInt(7)}", rnd.nextInt(40)))
    val df = rows.toDF("id", "key", "v").repartition(8)
    val got = RelationalOps.keyedRank(df, "key",
        Seq(col("v").desc, col("id").asc))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("v").desc, col("id").asc)
    val exp = df.withColumn("rn", row_number().over(w))
      .collect().map(r => r.getLong(0) -> r.getInt(3).toLong).toMap
    assert(got === exp)
  }

  test("t20/t21 run no job while built and leave no persisted frame") {
    for (q <- Seq("t20_lm_quality", "t21_ppl_buckets")) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val (df, jobs) = jobsDuring(SparkEntry.queries(q)(spark, sfDir))
      assert(jobs === 0, q)
      assert(df.collect().nonEmpty, q)
      assert(spark.sparkContext.getPersistentRDDs.size === before, q)
    }
  }

  test("perplexityBuckets: equal-count per-lang terciles, fluent docs in head") {
    import graft.operators.TextPipeline
    // 6 'aa' docs: the repeated phrase is high-probability, the shuffled
    // rare words are low — ntile(3) over 6 gives 2/2/2
    val docs = Seq(
      (1L, "aa", "the cat sat on the mat the cat sat on the mat"),
      (2L, "aa", "the cat sat on the mat again today"),
      (3L, "aa", "zx qw er ty ui op as df"),
      (4L, "aa", "the cat sat on the mat"),
      (5L, "aa", "qw zx ty er op ui df as"),
      (6L, "aa", "cat the on sat mat the"),
      (7L, "bb", "solo language doc"),
      (8L, "cc", "single"),
      (9L, "dd", "the cat sat on the mat here"),
      (10L, "dd", "cat sat mat the the on"),
      (11L, "dd", "x")).toDF("doc_id", "lang", "text")
    val rows = TextPipeline.perplexityBuckets(docs, col("text"),
        col("doc_id"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3)))
    assert(rows.length === 11)
    val aa = rows.filter(_._2 == "aa")
    assert(aa.count(_._4 == "head") === 2)     // ntile(3) of 6 = 2/2/2
    assert(aa.count(_._4 == "middle") === 2)
    assert(aa.count(_._4 == "tail") === 2)
    // buckets are consistent with score order: every head score >= every
    // middle score >= every tail score (within the language)
    def scoresOf(b: String) = aa.filter(_._4 == b).flatMap(_._3)
    assert(scoresOf("head").min >= scoresOf("middle").max)
    assert(scoresOf("middle").min >= scoresOf("tail").max)
    // the repeated-phrase docs outrank the shuffled-rare-word gibberish
    val byId = rows.map(r => r._1 -> r._4).toMap
    assert(Set(byId(3L), byId(5L)).subsetOf(Set("middle", "tail")))
    assert(byId(7L) === "head")     // single doc in 'bb': rank 1 of 1
    // an UNSCORABLE doc (1 token, null score) is forced to tail even
    // as its language's only member — keep-head must never retain it
    assert(byId(8L) === "tail")
    // unscorable docs do NOT occupy tercile ranks: 'dd' has 2 scorable
    // + 1 unscorable — terciles split the 2 scorable (head, middle),
    // the unscorable lands in tail (ranked, it would make n=3 and put
    // both scorable docs in head/middle ANYWAY but inflate counts in
    // bigger mixes — the 3+6 promotion case in the operator docs)
    assert(Set(byId(9L), byId(10L)) === Set("head", "middle"))
    assert(byId(11L) === "tail")
  }

  test("semDeDup two-level router: deterministic, high agreement with flat argmax") {
    import graft.functions.distances
    val emb = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val k = 8
    val cents = Dedup.seedCentroids(emb, col("embedding"), col("vec_id"), k)
    def assignments() = Dedup.semDeDup(emb, col("embedding"), col("vec_id"),
        cents, minCosSim = 0.35)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val routed = assignments()
    assert(routed === assignments()) // deterministic across runs
    // flat global argmax per vector (the exact assignment)
    val flat = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("s", distances.cosineSimilarity(col("v"), col("centroid")))
      .groupBy(col("id"))
      .agg(max(struct(col("s"), (-col("cluster_id")).as("nc"))).as("m"))
      .select(col("id"), (-col("m.nc")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = routed.count { case (id, c) => flat(id) == c }
    // IVF routing is approximate by design; on this corpus the observed
    // agreement is deterministic — pin a floor well under it so the
    // assertion only fires on a real routing regression
    assert(agree.toDouble / routed.size >= 0.7,
      s"two-level agreement ${agree}/${routed.size}")
  }

  test("dsirScores: target-like docs outscore off-target, deterministic") {
    import graft.operators.Packing
    val target = Seq((1L, "spark shuffle partition spark shuffle partition"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (10L, "spark shuffle partition spark shuffle"),
      (11L, "zebra giraffe lion hippo zebra")).toDF("doc_id", "text")
    def run() = Packing.dsirScores(raw, target, col("text"), col("doc_id"),
        buckets = 64, seed = "t")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val got = run()
    assert(got(10L)._1 === 9L)            // 5 unigrams + 4 bigrams
    assert(got(11L)._1 === 9L)
    assert(got(10L)._2 > got(11L)._2)     // target-like wins
    assert(got === run())                 // hash-deterministic
    val picked = Packing.dsirResample(raw, target, col("text"), col("doc_id"),
        k = 1, buckets = 64, seed = "t").collect()
    assert(picked.length === 1)
  }
}
