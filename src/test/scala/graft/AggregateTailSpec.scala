package graft


import graft.functions.{AggregateTail => A, BitmapFunctions => B}

/** Round-12 aggregate-registry closure: semantics pinned to the
  * reference's own rules (Moments.h, QuantileExact.h,
  * QuantileExactWeighted.h, AggregateFunctionMinMaxAny.h anyHeavy,
  * AggregateFunctionMaxIntersections.h, AggregateFunctionGroupBitmap).
  */
class AggregateTailSpec extends SparkSpec {
  import spark.implicits._

  // ---- exact quantile variants ----

  test("quantileExactLow/High: python median_low/high rules (QuantileExact.h)") {
    val even = Seq(1.0, 2.0, 3.0, 4.0).toDF("x") // low=2, high=3
    val r1 = even.agg(
      A.quantileExactLow($"x", 0.5).as("lo"),
      A.quantileExactHigh($"x", 0.5).as("hi")).head()
    assert(r1.getDouble(0) === 2.0 && r1.getDouble(1) === 3.0)

    val odd = Seq(5.0, 1.0, 3.0).toDF("x") // both = middle 3
    val r2 = odd.agg(
      A.quantileExactLow($"x", 0.5).as("lo"),
      A.quantileExactHigh($"x", 0.5).as("hi")).head()
    assert(r2.getDouble(0) === 3.0 && r2.getDouble(1) === 3.0)

    // non-0.5 level: sorted[trunc(level*size)] — 0.1 of 10 elems → idx 1
    val ten = (1 to 10).map(_.toDouble).toDF("x")
    val r3 = ten.agg(
      A.quantileExactLow($"x", 0.1).as("lo"),
      A.quantileExactHigh($"x", 0.1).as("hi")).head()
    assert(r3.getDouble(0) === 2.0 && r3.getDouble(1) === 2.0)
  }

  test("quantileExactExclusive: Excel PERCENTILE.EXC / R-6 interpolation") {
    // {1..4}, level 0.25: h = 0.25*5 = 1.25 → 1 + 0.25*(2-1) = 1.25
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val r = df.agg(A.quantileExactExclusive($"x", 0.25).as("q")).head()
    assert(math.abs(r.getDouble(0) - 1.25) < 1e-12)
    // clamps: level tiny → min element, level near 1 → max element
    val r2 = df.agg(A.quantileExactExclusive($"x", 0.01).as("a"),
      A.quantileExactExclusive($"x", 0.99).as("b")).head()
    assert(r2.getDouble(0) === 1.0 && r2.getDouble(1) === 4.0)
  }

  test("quantileExactWeighted: ceil-threshold scan over ascending values") {
    // values 1,2,3 with weights 1,1,8: total=10, threshold=ceil(5)=5 → 3
    val df = Seq((1.0, 1), (2.0, 1), (3.0, 8)).toDF("x", "w")
    val r = df.agg(A.quantileExactWeighted($"x", $"w", 0.5).as("q")).head()
    assert(r.getDouble(0) === 3.0)
    // weight mass front-loaded: 8,1,1 → threshold 5 crosses at value 1
    val df2 = Seq((1.0, 8), (2.0, 1), (3.0, 1)).toDF("x", "w")
    val r2 = df2.agg(A.quantileExactWeighted($"x", $"w", 0.5).as("q")).head()
    assert(r2.getDouble(0) === 1.0)
  }

  // ---- higher-order moments ----

  test("skewPop/kurtPop/skewSamp/kurtSamp match the Moments.h closed forms") {
    val xs = Seq(1.0, 2.0, 2.0, 3.0, 7.0)
    val n = xs.size.toDouble
    val mu = xs.sum / n
    val m2p = xs.map(x => (x - mu) * (x - mu)).sum / n
    val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
    val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
    val vs = xs.map(x => (x - mu) * (x - mu)).sum / (n - 1)
    val df = xs.toDF("x")
    val r = df.agg(
      A.skewPop($"x").as("sp"), A.skewSamp($"x").as("ss"),
      A.kurtPop($"x").as("kp"), A.kurtSamp($"x").as("ks")).head()
    assert(math.abs(r.getDouble(0) - m3 / math.pow(m2p, 1.5)) < 1e-9)
    assert(math.abs(r.getDouble(1) - m3 / math.pow(vs, 1.5)) < 1e-9)
    assert(math.abs(r.getDouble(2) - m4 / (m2p * m2p)) < 1e-9)
    assert(math.abs(r.getDouble(3) - m4 / (vs * vs)) < 1e-9)
  }

  // ---- anyHeavy ----

  test("anyHeavy: exact under a strict majority, survives partition merges") {
    val vals = (1 to 60).map(_ => "maj") ++ (1 to 20).map(i => s"x$i")
    val df = vals.toDF("v").repartition(8) // force multi-state merge
    val r = df.agg(A.anyHeavy($"v").as("h")).head()
    assert(r.getString(0) === "maj")
  }

  // ---- groupArrayLast / groupArraySample ----

  test("groupArrayLast: last n by the explicit order column") {
    val df = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("o", "v")
    val r = df.agg(A.groupArrayLast($"v", $"o", 3).as("l")).head()
    assert(r.getSeq[String](0) === Seq("b", "c", "d"))
    // group smaller than n: whole group
    val r2 = df.limit(2).agg(A.groupArrayLast($"v", $"o", 5).as("l")).head()
    assert(r2.getSeq[String](0).size === 2)
  }

  test("groupArraySample: deterministic n-subset for a fixed seed") {
    val df = ('a' to 'j').map(_.toString).toDF("v")
    val s1 = df.agg(A.groupArraySample($"v", 3, 42L).as("s")).head().getSeq[String](0)
    val s2 = df.repartition(5)
      .agg(A.groupArraySample($"v", 3, 42L).as("s")).head().getSeq[String](0)
    assert(s1.size === 3 && s1 === s2) // partition-layout independent
    val s3 = df.agg(A.groupArraySample($"v", 3, 7L).as("s")).head().getSeq[String](0)
    assert(s3.size === 3 && !(s1 == s3)) // seed changes the draw
  }

  // ---- maxIntersections / Position ----

  test("maxIntersections fold: count + leftmost position (strict > update)") {
    // [0,10) [1,3) [2,5) [7,9): max overlap 3 first reached at point 2
    val df = Seq((0.0, 10.0), (1.0, 3.0), (2.0, 5.0), (7.0, 9.0)).toDF("s", "e")
    val r = df.agg(
      A.maxIntersections($"s", $"e").as("m"),
      A.maxIntersectionsPosition($"s", $"e").as("p")).head()
    assert(r.getLong(0) === 3L && r.getDouble(1) === 2.0)
    // end-before-start at equal points: [0,1) and [1,2) never overlap
    val touch = Seq((0.0, 1.0), (1.0, 2.0)).toDF("s", "e")
    val r2 = touch.agg(A.maxIntersections($"s", $"e").as("m")).head()
    assert(r2.getLong(0) === 1L)
  }

  // ---- bitmap group folds ----

  test("groupBitmapAnd/Or/Xor: ∩ / ∪ / parity folds over bitmap states") {
    val df = Seq(
      ("g", Seq(1L, 2L, 3L)),
      ("g", Seq(2L, 3L, 4L)),
      ("g", Seq(3L, 4L, 5L))).toDF("g", "bm")
    val r = df.groupBy($"g").agg(
      B.groupBitmapAnd($"bm").as("a"),
      B.groupBitmapOr($"bm").as("o"),
      B.groupBitmapXor($"bm").as("x"),
      B.groupBitmapXorState($"bm").as("xs")).head()
    assert(r.getLong(1) === 1L) // {3}
    assert(r.getLong(2) === 5L) // {1,2,3,4,5}
    // parity: 1(1),2(2),3(3),4(2),5(1) → odd: {1,3,5}
    assert(r.getLong(3) === 3L)
    assert(r.getSeq[Long](4) === Seq(1L, 3L, 5L))
  }

  // ---- SQL-name registry fronts ----

  test("registry fronts resolve: skew/kurt, exact-quantile tail, sweeps") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = Seq(1.0, 2.0, 2.0, 3.0, 7.0).toDF("x")
      .selectExpr(
        "skewSamp(x) AS ss", "kurtPop(x) AS kp",
        "quantileExactLow(x, 0.5D) AS ql",
        "quantileExactHigh(x, 0.5D) AS qh",
        "quantileExactExclusive(x, 0.25D) AS qe",
        "medianExactLow(x) AS ml",
        "varPop(x) AS vp", "stddevSampStable(x) AS sd",
        "sumWithOverflow(x) AS so", "nothing(x) AS no")
      .head()
    assert(r.getDouble(2) === 2.0 && r.getDouble(3) === 2.0) // odd → middle
    assert(r.getDouble(5) === 2.0)
    assert(math.abs(r.getDouble(6) - 4.4) < 1e-12) // var_pop of the set
    assert(r.getDouble(8) === 15.0)
    assert(r.isNullAt(9))
    // heavy hitter through the SQL name (strict majority ⇒ exact)
    val h = ((1 to 6).map(_ => "m") ++ Seq("a", "b")).toDF("v")
      .selectExpr("anyHeavy(v) AS ah").head()
    assert(h.getString(0) === "m")
    // intervals [1,3) [2,4) [3,5): end sorts before start at 3 → max 2 @ 2
    val w = Seq((1.0, 1), (2.0, 1), (3.0, 8)).toDF("x", "w")
      .selectExpr("quantileExactWeighted(x, w, 0.5D) AS q",
        "maxIntersections(x, x + 2.0) AS mi",
        "maxIntersectionsPosition(x, x + 2.0) AS mp").head()
    assert(w.getDouble(0) === 3.0)
    assert(w.getLong(1) === 2L && w.getDouble(2) === 2.0)
  }

  test("plural quantiles* fronts: per-level arrays, ordered as given") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = (1 to 10).map(_.toDouble).toDF("x")
      .selectExpr(
        "quantile(x, 0.5D) AS q",
        "quantilesExactLow(x, 0.1D, 0.5D) AS ql",
        "quantilesExactHigh(x, 0.1D, 0.5D) AS qh",
        "quantilesExactInclusive(x, 0.0D, 1.0D) AS qi",
        "quantilesDeterministic(x, x, 0.5D) AS qd",
        "quantilesTDigest(x, 0.5D) AS qt")
      .head()
    assert(r.getSeq[Double](1) === Seq(2.0, 5.0)) // low: idx 1, median_low
    assert(r.getSeq[Double](2) === Seq(2.0, 6.0)) // high median
    assert(r.getSeq[Double](3) === Seq(1.0, 10.0))
    assert(r.getSeq[Double](4) === Seq(5.5))
    assert(r.getSeq[Double](5).head >= 5.0 && r.getSeq[Double](5).head <= 6.0)
  }
}
