package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables.{events, t}
import graft.functions.{Aggregates, Combinators, MiscAggregates}

/** Event-analytics + time-window coverage: retention, windowFunnel,
  * sequenceMatch, nonNegativeDerivative, exponentialTimeDecayedSum
  * (SURVEY §2.5–2.6) and the WindowView tumble/hop surface (§2.11) in
  * batch form (the streaming form is exercised in ScalaTest).
  */
object EventQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Epoch seconds (micros-exact) from the NTZ event timestamp. */
  private def tsSec =
    unix_micros(col("ts").cast("timestamp")).cast("double") / lit(1e6)

  val queries: Map[String, Q] = Map(
    // retention('view','click','purchase'): r1, r1&r2, r1&r3 summed.
    "e01_retention" -> ((s, dir) => {
      val flags = Aggregates.retentionFlags(
        col("event_type") === "view",
        col("event_type") === "click",
        col("event_type") === "purchase")
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(flags(0).as("r1"), flags(1).as("r2"), flags(2).as("r3"))
        .agg(sum(col("r1")).as("n_r1"), sum(col("r2")).as("n_r2"),
          sum(col("r3")).as("n_r3"))
    }),
    // windowFunnel(1 hour)(ts, view→click→purchase): users per min level.
    "e02_window_funnel" -> ((s, dir) => {
      val lvl = Aggregates.windowFunnel(3600.0)(
        tsSec,
        col("event_type") === "view",
        col("event_type") === "click",
        col("event_type") === "purchase")
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(lvl.as("level"))
        .agg(
          sum(when(col("level") >= 1, 1L).otherwise(0L)).as("n_lvl1"),
          sum(when(col("level") >= 2, 1L).otherwise(0L)).as("n_lvl2"),
          sum(when(col("level") >= 3, 1L).otherwise(0L)).as("n_lvl3"))
    }),
    // sequenceMatch('(?1).*(?2)'): signup then later purchase.
    "e03_sequence_match" -> ((s, dir) => {
      val m = Aggregates.sequenceMatch(
        tsSec,
        col("event_type") === "signup",
        col("event_type") === "purchase")
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(m.as("matched"))
        .agg(sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched"))
    }),
    // nonNegativeDerivative over per-user event value series.
    "e04_nonneg_derivative" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .filter(col("user_id") < 5)
        .withColumn("deriv",
          round(Aggregates.nonNegativeDerivative(
            col("value"), tsSec, w), 6))
        .select(col("event_id"), col("user_id"), col("deriv"))
        .orderBy(col("event_id"))
    }),
    // exponentialTimeDecayedSum, decay = 7 days, per user over time.
    "e05_exp_decayed_sum" -> ((s, dir) => {
      Aggregates.withExpTimeDecayedSum(
          events(s, dir).filter(col("user_id") < 5),
          "decayed_sum", 604800.0, col("value"), tsSec,
          Seq(col("user_id")), Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("user_id"),
          round(col("decayed_sum"), 4).as("decayed_sum"))
        .orderBy(col("event_id"))
    }),
    // Full exponentialTimeDecayed family (sum/count/avg/max).
    "e10_exp_decayed_family" -> ((s, dir) => {
      Aggregates.withExpTimeDecayedAll(
          events(s, dir).filter(col("user_id") < 3),
          "dec", 604800.0, col("value"), tsSec,
          Seq(col("user_id")), Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("user_id"),
          round(col("dec_count"), 4).as("dec_count"),
          round(col("dec_avg"), 4).as("dec_avg"),
          round(col("dec_max"), 4).as("dec_max"))
        .orderBy(col("event_id"))
    }),
    // -State/-Merge combinators: per-month partial states merged to a
    // per-user total (the incremental-MV refresh shape). HLL uniq state
    // is exact at this cardinality, so the oracle is exact count+distinct.
    "e11_state_merge" -> ((s, dir) => {
      import graft.functions.StateCombinators
      val ev = events(s, dir)
      // batch boundary = calendar day: one state row per (user, day)
      val states = StateCombinators.stateTable(
        ev.withColumn("d", col("ts").cast("date")),
        Seq(col("user_id"), col("d")), col("value"), col("event_type"))
      StateCombinators.mergeStates(states, Seq(col("user_id")))
        // `value` carries 2-decimal data: recover the cent total from
        // the double sum, then round the average HALF-UP in INTEGER
        // arithmetic — independent of the engine's double-ROUNDING
        // algorithm (exact .5 boundaries at 4 decimals are common for
        // cents/n and Spark's decimal HALF_UP vs binary rounding would
        // otherwise flip the last digit). NOTE the compare is only as
        // stable as the double SUMMATION: once a group's sum grows
        // enough that accumulated double error reaches half a cent, the
        // recovered total itself can flip (observed as rare knife-edge
        // diffs at sf0.1); a truly order-independent compare would need
        // DecimalType sums on both engines
        .withColumn("__cents", round(col("sum_merged") * 100).cast("long"))
        .select(col("user_id"),
          (col("__cents") / 100.0).as("sum_v"),
          col("count_merged").as("n"),
          (expr("(200 * __cents + count_merged) DIV (2 * count_merged)")
            / 10000.0).as("avg_v"),
          col("uniq_merged").cast("long").as("uniq_types"))
        .orderBy(col("user_id"))
    }),
    // sumMap: per-key sums over a map-like structure, emitted as a
    // sorted "k:v" string for a byte-stable golden compare.
    "e12_sum_map" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(round(sum(col("value")), 2).as("v"))
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_list(
          concat(col("event_type"), lit(":"), col("v").cast("string")))), ",")
          .as("sum_map"))
        .orderBy(col("user_id"))
        .limit(50)
    }),
    // groupArrayInsertAt(default, size)(x, pos): fixed-size array with
    // values placed at their positions, default elsewhere; collisions
    // resolve to the MIN value so both engines are deterministic.
    // sumCount (sum+count in one pass), singleValueOrNull (value iff the
    // group is single-valued), quantileExactInclusive (Excel
    // PERCENTILE.INC ≡ Spark Percentile's interpolation) — the last
    // unmapped names of registerAggregateFunctions.cpp's registry.
    // proportionsZTest + minSampleSizeConversion (tranche-15 natives,
    // src/Functions/proportionsZTest.cpp / minSampleSize.cpp): split
    // users into even/odd cohorts, z-test the high-value-event rate
    // between them. The statistics are closed-form given the fixed
    // normal quantiles (95% two-sided = 1.9599639845400545, power 0.8 =
    // 0.8416212335729143), so the oracle recomputes EVERY output cell —
    // including the p<0.05 verdict, which equals |z| > q95 exactly.
    "e60_proportions_ztest" -> ((s, dir) => {
      // both cohorts' (successes, total) in one aggregate row: the
      // test's inputs stay inside the plan
      val even = pmod(col("user_id"), lit(2)) === 0
      val high = col("value") > 10
      events(s, dir)
        .agg(count(when(even && high, 1)).as("sx"),
          count(when(!even && high, 1)).as("sy"),
          count(when(even, 1)).as("tx"),
          count(when(!even, 1)).as("ty"))
        .selectExpr(
          "proportionsZTest(sx, sy, tx, ty, 0.95D) AS zt",
          "minSampleSizeConversion(0.25D, 0.03D, 0.8D, 0.05D) AS mss")
        .selectExpr(
          "round(zt._1, 6) AS z_stat",
          "zt._2 < 0.05 AS significant",
          "round(zt._3, 6) AS ci_low",
          "round(zt._4, 6) AS ci_high",
          "round(mss._1, 0) AS min_n",
          "round(mss._2, 4) AS p_low",
          "round(mss._3, 4) AS p_high")
    }),
    // ---- round-12 aggregate-registry closure (AggregateTail) ----
    // skewSamp/kurtSamp (AggregateFunctionStatisticsSimple.h:173-200):
    // population central moments over the SAMPLE variance — exercised
    // through the registered SQL fronts; skew_pop cross-checks the same
    // front against e43's explicit-formula form.
    "e61_moments_samp" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(expr("skewSamp(value)").as("__ss"),
          expr("kurtSamp(value)").as("__ks"),
          expr("skewPop(value)").as("__sp"),
          expr("kurtPop(value)").as("__kp"))
        .select(col("event_type"),
          round(col("__ss"), 4).as("skew_samp"),
          round(col("__ks"), 4).as("kurt_samp"),
          round(col("__sp"), 4).as("skew_pop"),
          round(col("__kp"), 4).as("kurt_pop"))
        .orderBy(col("event_type"))
    }),
    // Exact-quantile tail (QuantileExact.h ExactLow/ExactHigh/
    // ExactExclusive, QuantileExactWeighted.h): the element-select and
    // ceil-threshold rules the interpolating quantileExact does NOT
    // cover. Weighted uses a deterministic int weight.
    "e62_quantile_exact_tail" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("quantileExactLow(value, 0.5D)").as("qel_med"),
          expr("quantileExactLow(value, 0.25D)").as("qel_25"),
          expr("quantileExactHigh(value, 0.5D)").as("qeh_med"),
          expr("quantileExactHigh(value, 0.75D)").as("qeh_75"),
          expr("quantileExactExclusive(value, 0.25D)").as("__qex"),
          expr("quantileExactWeighted(value, event_id % 5 + 1, 0.5D)").as("qew_med"))
        .select(col("event_type"), col("qel_med"), col("qel_25"),
          col("qeh_med"), col("qeh_75"),
          round(col("__qex"), 4).as("qex_25"), col("qew_med"))
        .orderBy(col("event_type"))
    }),
    // groupArrayLast(3) over explicit (ts, event_id) order +
    // groupArraySample(2, seed=42) via the md5-rank deterministic
    // sampler (documented deviation from the reference's private pcg
    // reservoir — same uniform-n-sample contract, replayable by any
    // engine with md5).
    "e63_group_array_tail" -> ((s, dir) => {
      val A = graft.functions.AggregateTail
      events(s, dir)
        .filter(col("user_id") < 20)
        .groupBy(col("user_id"))
        .agg(
          A.groupArrayLast(col("event_type"),
            struct(col("ts"), col("event_id")), 3).as("__last3"),
          A.groupArraySample(col("event_type"), 2, 42L).as("__samp2"))
        .select(col("user_id"),
          array_join(col("__last3"), ",").as("last3"),
          array_join(col("__samp2"), ",").as("samp2"))
        .orderBy(col("user_id"))
    }),
    // anyHeavy (Boyer–Moore vote, exact under a strict majority — the
    // engineered column gives 'major' an ~80% share per bucket) +
    // maxIntersections[Position] in their collect-and-fold aggregate
    // form (the window-sweep form is e15; both must agree).
    "e64_heavy_sweep" -> ((s, dir) => {
      val A = graft.functions.AggregateTail
      events(s, dir)
        .filter(col("user_id") < 50)
        .withColumn("__maj",
          when(col("event_id") % 10 < 8, lit("major")).otherwise(col("event_type")))
        .withColumn("__s", tsSec)
        .withColumn("__e", tsSec + col("value"))
        .groupBy(col("user_id"))
        .agg(A.anyHeavy(col("__maj")).as("heavy"),
          A.maxIntersections(col("__s"), col("__e")).as("max_open"),
          round(A.maxIntersectionsPosition(col("__s"), col("__e")), 4).as("max_pos"))
        .orderBy(col("user_id"))
    }),
    // covarPopMatrix / covarSampMatrix (AggregateFunctionVarianceMatrix
    // .cpp) — upper triangle exploded to (i, j, cov_pop, cov_samp) rows,
    // day-scaled time column so 4-dp rounding is stable in Float64.
    "e65_covar_matrix" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("value").as("c0"),
        (col("user_id") % 10).cast("double").as("c1"),
        (unix_micros(col("ts").cast("timestamp")) / lit(86400e6) - 20000)
          .as("c2"))
      val cols = Seq("c0", "c1", "c2")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if j >= i
      } yield (i, j)
      val exprs = pairs.flatMap { case (i, j) =>
        Seq(round(covar_pop(col(cols(i)), col(cols(j))), 4).as(s"p_${i}_$j"),
          round(covar_samp(col(cols(i)), col(cols(j))), 4).as(s"s_${i}_$j"))
      }
      val row = ev.agg(exprs.head, exprs.tail: _*)
      val entries = array(pairs.map { case (i, j) =>
        struct(lit(i).as("i"), lit(j).as("j"),
          col(s"p_${i}_$j").as("cov_pop"), col(s"s_${i}_$j").as("cov_samp"))
      }: _*)
      row.select(explode(entries).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"),
          col("e.cov_pop").as("cov_pop"), col("e.cov_samp").as("cov_samp"))
        .orderBy(col("i"), col("j"))
    }),
    // groupBitmapAnd/Or/Xor (AggregateFunctionGroupBitmap.cpp): fold the
    // per-slot user bitmaps of each event type with ∩ / ∪ / parity and
    // return cardinalities. Slots overlap in value space (user_id % 500
    // collides across user_id % 4 slots), so ∩ is non-trivial.
    "e66_bitmap_group_fold" -> ((s, dir) => {
      val B = graft.functions.BitmapFunctions
      events(s, dir)
        .groupBy(col("event_type"), (col("user_id") % 4).as("__slot"))
        .agg(B.bitmapBuild(col("user_id") % 500).as("__bm"))
        .groupBy(col("event_type"))
        .agg(B.groupBitmapAnd(col("__bm")).as("and_card"),
          B.groupBitmapOr(col("__bm")).as("or_card"),
          B.groupBitmapXor(col("__bm")).as("xor_card"))
        .orderBy(col("event_type"))
    }),
    "e59_sum_count_single" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("sumCount(l_quantity)").as("sc"),
          expr("singleValueOrNull(l_linestatus)").as("only_status"),
          expr("quantileExactInclusive(l_quantity, 0.5D)").as("med"))
        .select(col("l_returnflag"),
          round(col("sc.sum"), 2).as("qty_sum"),
          col("sc.count").as("qty_n"),
          col("only_status"),
          round(col("med"), 4).as("med_qty"))
        .orderBy(col("l_returnflag"))
    }),
    "e58_group_array_insert_at" -> ((s, dir) => {
      events(s, dir)
        .withColumn("pos", (col("event_id") % 8).cast("int"))
        .groupBy(col("user_id"), col("pos"))
        .agg(min(col("event_type")).as("v"))
        .groupBy(col("user_id"))
        .agg(map_from_arrays(collect_list(col("pos")), collect_list(col("v")))
          .as("m"))
        .select(col("user_id"),
          array_join(transform(sequence(lit(0), lit(7)),
            i => coalesce(element_at(col("m"), i), lit("-"))), ",").as("arr"))
        .orderBy(col("user_id"))
        .limit(50)
    }),
    // minMap/maxMap: per-key min/max over a map-like structure
    // (registerAggregateFunctions.cpp sumMap family), e12's sorted
    // "k:v" string form for byte-stable compare.
    "e55_min_max_map" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(round(min(col("value")), 2).as("mn"),
          round(max(col("value")), 2).as("mx"))
        .groupBy(col("user_id"))
        .agg(
          array_join(array_sort(collect_list(
            concat(col("event_type"), lit(":"), col("mn").cast("string")))), ",")
            .as("min_map"),
          array_join(array_sort(collect_list(
            concat(col("event_type"), lit(":"), col("mx").cast("string")))), ",")
            .as("max_map"))
        .orderBy(col("user_id"))
        .limit(50)
    }),
    // groupUniqArray: distinct values per group as a sorted array
    // (emitted joined for the hash compare).
    "e56_group_uniq_array" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("types"),
          size(collect_set(col("event_type"))).cast("long").as("n_types"))
        .orderBy(col("user_id"))
        .limit(50)
    }),
    // sumMapFiltered(keys)(k, v): sumMap restricted to a declared key
    // set (registerAggregateFunctions.cpp) — the filter rides the
    // map-side scan, everything else is e12's shape.
    "e52_sum_map_filtered" -> ((s, dir) => {
      events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(round(sum(col("value")), 2).as("v"))
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_list(
          concat(col("event_type"), lit(":"), col("v").cast("string")))), ",")
          .as("sum_map"))
        .orderBy(col("user_id"))
        .limit(50)
    }),
    // groupArrayMovingAvg(5): windowed moving average dividing by the
    // DECLARED window size even while the window fills (the reference's
    // contract), emitted as rows like e32.
    "e53_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .filter(col("user_id") < 20)
        .withColumn("pos", row_number().over(w).cast("long"))
        .withColumn("moving_avg",
          round(sum(col("value")).over(w.rowsBetween(-4, Window.currentRow))
            / lit(5.0), 2))
        .select(col("user_id"), col("pos"), col("moving_avg"))
        .orderBy(col("user_id"), col("pos"))
    }),
    // largestTriangleThreeBuckets(20)(x, y): LTTB downsampling of one
    // user's (ts, value) series — a per-series aggregate whose oracle
    // replays the same sequential selection as a recursive CTE.
    "e54_lttb" -> ((s, dir) => {
      val lttbUdf = udf((pts: Seq[org.apache.spark.sql.Row]) =>
        graft.functions.Lttb.downsample(
          pts.map(r => (r.getLong(0), r.getDouble(2))).toIndexedSeq, 20))
      events(s, dir).filter(col("user_id") === 3)
        .select(unix_micros(col("ts").cast("timestamp")).as("x"),
          col("event_id"), col("value"))
        .agg(sort_array(collect_list(
          struct(col("x"), col("event_id"), col("value")))).as("pts"))
        .select(explode(lttbUdf(col("pts"))).as("p"))
        .select(col("p._1").as("x_us"), round(col("p._2"), 2).as("y"))
        .orderBy(col("x_us"), col("y"))
    }),
    // -Array combinator family (sumArray/countArray/avgArray/maxArray):
    // per-row HOF fold before the aggregation — no explode, the group
    // shuffle carries one value per row (registerAggregateFunctions.cpp:84).
    "e20_array_combinator" -> ((s, dir) => {
      val lens = transform(graft.functions.text.tokenize(col("text")),
        x => length(x))
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          Combinators.countArray(lens).as("n_tokens"),
          Combinators.sumArray(lens).cast("long").as("sum_len"),
          round(Combinators.avgArray(lens), 4).as("avg_len"),
          Combinators.maxArray(lens).cast("long").as("max_len"))
        .orderBy(col("source"))
    }),
    // -Map combinator family (minMap/maxMap): per-key aggregation over
    // single-entry maps built from (event_type -> value); emitted as a
    // sorted "k:v" string like e12 for a byte-stable golden compare.
    "e21_map_combinator" -> ((s, dir) => {
      val m = map(col("event_type"), col("value"))
      val mins = Combinators.aggMap(events(s, dir), Seq("user_id"), m,
        c => round(min(c), 2), "mins")
      val maxs = Combinators.aggMap(events(s, dir), Seq("user_id"), m,
        c => round(max(c), 2), "maxs")
      def fmt(entries: Column): Column = array_join(
        transform(entries,
          e => concat(e.getField("key"), lit(":"),
            e.getField("value").cast("string"))), ",")
      mins.join(maxs, "user_id")
        .select(col("user_id"), fmt(col("mins")).as("min_map"),
          fmt(col("maxs")).as("max_map"))
        .orderBy(col("user_id"))
        .limit(50)
    }),
    // -ForEach combinator: element-wise sums across equal-length arrays
    // per group (shuffle on (group, pos) — the distributed shape). Output
    // exploded to (group, pos, sum) rows: the driver's oracle compare
    // sorts values with pandas, which cannot hash array cells.
    "e22_foreach_combinator" -> ((s, dir) => {
      val arr = array(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      Combinators.sumForEach(t(s, dir, "lineitem"), Seq("l_returnflag"), arr)
        .select(col("l_returnflag"),
          posexplode(col("sum_foreach")).as(Seq("pos", "__v")))
        .select(col("l_returnflag"), col("pos"),
          round(col("__v"), 2).as("component_sum"))
        .orderBy(col("l_returnflag"), col("pos"))
    }),
    // sequenceMatch with a (?t<N) time-window operator: a purchase
    // IMMEDIATELY following a view (among condition events) within 600 s
    // (`AggregateFunctionSequenceMatch.h` pattern language).
    "e23_sequence_match_window" -> ((s, dir) => {
      val m = Aggregates.sequenceMatchPattern("(?1)(?t<600)(?2)")(
        tsSec, col("event_type") === "view", col("event_type") === "purchase")
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(m.cast("int").as("matched"))
        .orderBy(col("user_id"))
    }),
    // -Distinct combinator: native DISTINCT-input aggregates.
    "e25_distinct_combinator" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum_distinct(col("l_quantity")), 2).as("sum_distinct_qty"),
          count_distinct(col("l_suppkey")).as("uniq_supp"),
          round(avg(col("l_discount")), 4).as("avg_disc"))
        .orderBy(col("l_returnflag"))
    }),
    // Bitmap family (FunctionsBitmap.h / AggregateFunctionGroupBitmap):
    // build per-event-type user bitmaps, then full set algebra between the
    // view and purchase audiences. Bitmaps are sorted long-arrays — every
    // op below is a codegen'd array kernel, build is a partial-merge agg.
    "e29_bitmap" -> ((s, dir) => {
      import graft.functions.{BitmapFunctions => B}
      val ev = events(s, dir)
      val viewB = ev.filter(col("event_type") === "view")
        .agg(B.bitmapBuild(col("user_id")).as("bv"))
      val purB = ev.filter(col("event_type") === "purchase")
        .agg(B.bitmapBuild(col("user_id")).as("bp"))
      viewB.crossJoin(purB).select(
        B.bitmapCardinality(col("bv")).as("card_view"),
        B.bitmapCardinality(col("bp")).as("card_purchase"),
        B.bitmapAndCardinality(col("bv"), col("bp")).as("card_and"),
        B.bitmapOrCardinality(col("bv"), col("bp")).as("card_or"),
        B.bitmapXorCardinality(col("bv"), col("bp")).as("card_xor"),
        B.bitmapAndnotCardinality(col("bv"), col("bp")).as("card_andnot"),
        B.bitmapMin(col("bv")).as("min_view"),
        B.bitmapMax(col("bv")).as("max_view"),
        B.bitmapCardinality(
          B.bitmapSubsetInRange(col("bv"), lit(0), lit(100))).as("card_view_lt100"))
    }),
    // -OrNull / -OrDefault combinators stacked on -If
    // (registerAggregateFunctions.cpp:90 — sumIfOrNull shape): groups
    // where the predicate never fires yield NULL (or the default), not 0.
    "e30_ornull_combinator" -> ((s, dir) => {
      val hit = col("value") > 9.9 // rare → some event types have no hits
      val sumIf = sum(when(hit, col("value")))
      val hitVals = when(hit, col("value"))
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(Combinators.orNull(sumIf, hitVals).cast("double"), 2).as("sum_ornull"),
          round(Combinators.orDefault(sumIf, hitVals, lit(-1.0)).cast("double"), 2)
            .as("sum_ordefault"),
          // count's empty-input default is 0 — -OrNull visibly overrides
          Combinators.orNull(count(hitVals), hitVals).cast("long").as("cnt_ornull"),
          count(hitVals).as("n_hits"))
        .orderBy(col("event_type"))
    }),
    // uniqUpTo(N): exact distinct count saturating at N+1; plus
    // singleValueOrNull (value iff exactly one distinct, else NULL).
    "e31_uniq_up_to" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          Combinators.uniqUpTo(col("user_id"), 10).as("u10"),
          Combinators.uniqUpTo(col("user_id"), 1000).as("u1000"),
          count_distinct(col("user_id")).as("exact"),
          when(count_distinct(col("event_type")) === 1, min(col("event_type")))
            .as("single_type"))
        .orderBy(col("event_type"))
    }),
    // groupArrayMovingSum: per-user running sum in event order, emitted
    // as (user, pos, moving_sum) rows (the array form's cells are
    // unhashable in the driver compare; same values).
    "e32_moving_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .filter(col("user_id") < 20)
        .withColumn("pos", row_number().over(w).cast("long"))
        .withColumn("moving_sum",
          round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)), 2))
        .select(col("user_id"), col("pos"), col("moving_sum"))
        .orderBy(col("user_id"), col("pos"))
    }),
    // groupBitAnd/Or/Xor aggregates (registerAggregateFunctions.cpp).
    "e26_group_bit_agg" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("bit_and(user_id)").as("band"),
          expr("bit_or(user_id)").as("bor"),
          expr("bit_xor(user_id)").as("bxor"))
        .orderBy(col("event_type"))
    }),
    // -Resample combinator: one aggregate split into key-range buckets
    // ([1,51) step 10 over l_quantity) — single pass, no explode on the
    // agg path; the bucket arrays are unzipped to rows only for output
    // (array cells are unhashable in the driver's pandas compare).
    "e24_resample_combinator" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Combinators.countResample(1, 51, 10)(col("l_quantity")).as("cnts"),
          Combinators.sumResample(1, 51, 10)(col("l_quantity"), col("l_extendedprice"))
            .as("sums"))
        .select(col("l_returnflag"),
          posexplode(arrays_zip(col("cnts"), col("sums"))).as(Seq("bucket", "__z")))
        .select(col("l_returnflag"), col("bucket"),
          col("__z.cnts").as("cnt"),
          round(col("__z.sums"), 2).as("bucket_sum"))
        .orderBy(col("l_returnflag"), col("bucket"))
    }),
    // sequenceCount: non-overlapping signup→purchase chains per user
    // (greedy semantics; oracle = run-length A→B boundary count, which is
    // exactly the greedy automaton's value).
    "e19_sequence_count" -> ((s, dir) => {
      val c = Aggregates.sequenceCount(
        tsSec, col("event_type") === "signup", col("event_type") === "purchase")
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(c.as("n_chains"))
        .orderBy(col("user_id"))
    }),
    // deltaSumTimestamp (AggregateFunctionDeltaSumTimestamp): like
    // deltaSum but differences only count between rows in TIMESTAMP
    // order with strictly increasing ts — duplicate-ts rows don't
    // contribute (merge-safety semantics of the reference).
    "e46_delta_sum_ts" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("__prev", lag(col("value"), 1).over(w))
        .withColumn("__prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("__delta",
          when(col("__prev").isNotNull && col("ts") > col("__prev_ts") &&
            col("value") > col("__prev"),
            col("value") - col("__prev")).otherwise(lit(0.0)))
        .groupBy(col("user_id"))
        .agg(round(sum(col("__delta")), 2).as("delta_sum_ts"))
        .orderBy(col("user_id"))
    }),
    // deltaSum: sum of positive successive differences (reference
    // registerAggregateFunctions deltaSum).
    "e13_delta_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("__prev", lag(col("value"), 1).over(w))
        .withColumn("__delta",
          when(col("__prev").isNotNull && col("value") > col("__prev"),
            col("value") - col("__prev")).otherwise(lit(0.0)))
        .groupBy(col("user_id"))
        .agg(round(sum(col("__delta")), 2).as("delta_sum"))
        .orderBy(col("user_id"))
    }),
    // intervalLengthSum: total covered length of possibly-overlapping
    // [ts, ts + value seconds) intervals per user — sweep via running
    // max of interval ends.
    "e14_interval_length_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("__s", tsSec)
        .withColumn("__e", tsSec + col("value"))
        .withColumn("__cov", greatest(col("__s"), coalesce(max(col("__e")).over(w), col("__s"))))
        .withColumn("__len", greatest(col("__e") - col("__cov"), lit(0.0)))
        .groupBy(col("user_id"))
        .agg(round(sum(col("__len")), 2).as("covered_seconds"))
        .orderBy(col("user_id"))
    }),
    // maxIntersections: maximum number of simultaneously-open intervals.
    "e15_max_intersections" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("__s", tsSec).withColumn("__e", tsSec + col("value"))
      val points = ev.select(col("user_id"), col("__s").as("p"), lit(1).as("delta"))
        .unionByName(ev.select(col("user_id"), col("__e").as("p"), lit(-1).as("delta")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("p"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      points
        .withColumn("__open", sum(col("delta")).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("__open")).cast("long").as("max_open"))
        .orderBy(col("user_id"))
    }),
    // histogram — fixed-width bins (explicit formula; DuckDB 1.0 has no
    // width_bucket, so both sides share the same floor arithmetic).
    "e16_histogram" -> ((s, dir) => {
      val bin = when(col("value") < 0, lit(0L))
        .when(col("value") >= 1000.0, lit(11L))
        .otherwise((floor(col("value") / 100.0) + 1).cast("long"))
      events(s, dir)
        .groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) * 100).cast("long").as("__cents"))
        // cent-exact integer HALF_UP average (see e11): independent of
        // summation order and engine rounding at every SF
        .select(col("bin"), col("n"),
          (expr("(2 * __cents + n) DIV (2 * n)") / 100.0).as("avg_v"))
        .orderBy(col("bin"))
    }),
    // Welch two-sample t-test statistic (reference studentTTest/
    // welchTTest family) — click vs view event values.
    "e17_ttest" -> ((s, dir) => {
      events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy()
        .agg(
          avg(when(col("event_type") === "click", col("value"))).as("__m1"),
          var_samp(when(col("event_type") === "click", col("value"))).as("__v1"),
          count(when(col("event_type") === "click", 1)).as("__n1"),
          avg(when(col("event_type") === "view", col("value"))).as("__m2"),
          var_samp(when(col("event_type") === "view", col("value"))).as("__v2"),
          count(when(col("event_type") === "view", 1)).as("__n2"))
        .select(round((col("__m1") - col("__m2")) /
            sqrt(col("__v1") / col("__n1") + col("__v2") / col("__n2")), 4)
          .as("t_stat"),
          col("__n1").as("n_click"), col("__n2").as("n_view"))
    }),
    // studentTTest (pooled variance, vs e17's Welch —
    // AggregateFunctionTTest.h): same group moments, pooled s².
    "e33_student_ttest" -> ((s, dir) => {
      events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy()
        .agg(
          avg(when(col("event_type") === "click", col("value"))).as("__m1"),
          var_samp(when(col("event_type") === "click", col("value"))).as("__v1"),
          count(when(col("event_type") === "click", 1)).as("__n1"),
          avg(when(col("event_type") === "view", col("value"))).as("__m2"),
          var_samp(when(col("event_type") === "view", col("value"))).as("__v2"),
          count(when(col("event_type") === "view", 1)).as("__n2"))
        .select(round((col("__m1") - col("__m2")) /
            sqrt((((col("__n1") - 1) * col("__v1") + (col("__n2") - 1) * col("__v2")) /
              (col("__n1") + col("__n2") - 2)) *
              (lit(1.0) / col("__n1") + lit(1.0) / col("__n2"))), 4)
          .as("t_stat"),
          (col("__n1") + col("__n2") - 2).as("dof"))
    }),
    // mannWhitneyUTest (rank-sum): U1 = R1 - n1(n1+1)/2 with average
    // ranks for ties (AggregateFunctionMannWhitney). Scale shape: ranks
    // come from a cumulative count over the DISTINCT-VALUE stream (one
    // row per distinct value — the only global window runs over that
    // bounded stream, never over the events), then fold back as
    // Σ cnt_group · avg_rank. avg_rank(v) = #smaller + (cnt(v)+1)/2.
    "e34_mann_whitney" -> ((s, dir) => {
      val vals = events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("value"))
        .agg(count(lit(1)).as("cnt"),
          count(when(col("event_type") === "click", 1)).as("cnt1"))
      // distributed prefix sum (range-partitioned two-phase scan) — a
      // global cumsum window would collapse to one task
      graft.operators.RelationalOps.partitionedRunningSum(vals, "value", Seq("cnt"))
        .withColumn("__avg_r",
          col("__cum_cnt") - col("cnt") + (col("cnt") + 1) / 2.0)
        .agg(
          sum(col("cnt1") * col("__avg_r")).as("__r1"),
          sum(col("cnt1")).as("__n1"),
          sum(col("cnt") - col("cnt1")).as("__n2"))
        .select(
          round(col("__r1") - col("__n1") * (col("__n1") + 1) / 2.0, 1).as("u1"),
          col("__n1").cast("long").as("n1"), col("__n2").cast("long").as("n2"))
    }),
    // rankCorr (Spearman, AggregateFunctionRankCorr.h): Pearson corr of
    // average ranks. Same distinct-value rank maps as e34, joined back
    // to the rows by value — windows only over distinct streams.
    "e35_spearman" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("user_id") < 200)
        .select(col("event_id"), col("user_id").cast("double").as("x"),
          col("value").as("y"))
      def rankMap(src: DataFrame, c: String): DataFrame = {
        val g = src.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
        graft.operators.RelationalOps.partitionedRunningSum(g, c, Seq("__cnt"))
          .select(col(c),
            (col("__cum___cnt") - col("__cnt") + (col("__cnt") + 1) / 2.0)
              .as(s"__r_$c"))
      }
      ev.join(rankMap(ev, "x"), Seq("x"))
        .join(rankMap(ev, "y"), Seq("y"))
        .agg(round(corr(col("__r_x"), col("__r_y")), 4).as("rho"),
          count(lit(1)).as("n"))
    }),
    // cramersV: association strength of two categoricals from the
    // contingency table (AggregateFunctionCramersV) — chi² over the
    // (event_type × value-bucket) counts, all relational math.
    "e36_cramers_v" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type").as("a"),
          (col("user_id") % 5).cast("string").as("b"))
      val n = ev.count().toDouble
      val cell = ev.groupBy("a", "b").agg(count(lit(1)).as("o"))
      val rowT = ev.groupBy("a").agg(count(lit(1)).as("ra"))
      val colT = ev.groupBy("b").agg(count(lit(1)).as("cb"))
      val chi2 = cell.join(rowT, "a").join(colT, "b")
        .select(((col("o") - col("ra") * col("cb") / n) *
          (col("o") - col("ra") * col("cb") / n) /
          (col("ra") * col("cb") / n)).as("term"))
        .agg(sum(col("term")).as("chi2"))
      val k = ev.select("a").distinct().count().toDouble
      val r = ev.select("b").distinct().count().toDouble
      // bias correction (AggregateFunctionCramersVBiasCorrected):
      // phi²corr = max(0, phi² − (k−1)(r−1)/(n−1)), dims shrink likewise
      val kc = k - (k - 1) * (k - 1) / (n - 1)
      val rc = r - (r - 1) * (r - 1) / (n - 1)
      chi2.select(
        round(sqrt(col("chi2") / (n * math.min(k - 1, r - 1))), 4).as("cramers_v"),
        // contingency coefficient (AggregateFunctionContingency)
        round(sqrt(col("chi2") / (col("chi2") + n)), 4).as("contingency"),
        round(sqrt(
          greatest(col("chi2") / n - lit((k - 1) * (r - 1) / (n - 1)), lit(0.0)) /
            lit(math.min(kc - 1, rc - 1))), 4).as("cramers_v_bc"))
    }),
    // theilsU (AggregateFunctionTheilsU): uncertainty coefficient
    // U(a|b) = (H(a) − H(a|b)) / H(a) from the joint counts.
    "e40_theils_u" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type").as("a"),
          (col("user_id") % 5).cast("string").as("b"))
      val n = ev.count().toDouble
      val joint = ev.groupBy("a", "b").agg(count(lit(1)).as("nab"))
      val byB = ev.groupBy("b").agg(count(lit(1)).as("nb"))
      // H(a|b) = Σ_b p(b) · H(a|B=b) = −Σ_ab p(ab)·log2(p(ab)/p(b))
      val hCond = joint.join(byB, "b")
        .select((col("nab") / n * log2(col("nab") / col("nb"))).as("t"))
        .agg((-sum(col("t"))).as("h_cond"))
      val hA = ev.groupBy("a").agg(count(lit(1)).as("na"))
        .select((col("na") / n * log2(col("na") / n)).as("t"))
        .agg((-sum(col("t"))).as("h_a"))
      hA.crossJoin(hCond)
        .select(round((col("h_a") - col("h_cond")) / col("h_a"), 4).as("theils_u"))
    }),
    // kolmogorovSmirnovTest (AggregateFunctionKolmogorovSmirnovTest):
    // D = max |ECDF₁ − ECDF₂| — both ECDFs from one cumulative pass over
    // the distinct-value stream (the e34 scale shape).
    "e37_ks_test" -> ((s, dir) => {
      val vals = events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("value"))
        .agg(count(when(col("event_type") === "click", 1)).as("c1"),
          count(when(col("event_type") === "view", 1)).as("c2"))
      graft.operators.RelationalOps
        .partitionedRunningSum(vals, "value", Seq("c1", "c2"))
        .agg(
          round(max(abs(col("__cum_c1") / col("__tot_c1") -
            col("__cum_c2") / col("__tot_c2"))), 4).as("d_stat"),
          max(col("__tot_c1")).cast("long").as("n1"),
          max(col("__tot_c2")).cast("long").as("n2"))
    }),
    // entropy (AggregateFunctionEntropy.h): Shannon entropy of the value
    // distribution, −Σ p·log2 p from the per-value counts.
    "e38_entropy" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val n = counts.agg(sum(col("cnt"))).head().getLong(0).toDouble
      counts
        .select((col("cnt") / n).as("p"))
        .agg(round(-sum(col("p") * log2(col("p"))), 4).as("entropy"))
    }),
    // quantileExactWeighted (AggregateFunctionQuantileExactWeighted):
    // smallest value whose cumulative weight reaches q·W — element-
    // picking (hash-safe), computed over the distinct-value stream.
    "e39_quantile_weighted" -> ((s, dir) => {
      val vals = events(s, dir)
        .select(col("value"), (col("user_id") % 10 + 1).as("w"))
        .groupBy(col("value")).agg(sum(col("w")).as("w"))
      val cum = graft.operators.RelationalOps
        .partitionedRunningSum(vals, "value", Seq("w"))
        .withColumnRenamed("__cum_w", "__cw")
        .withColumnRenamed("__tot_w", "__tw")
      cum.agg(
        round(min(when(col("__cw") >= lit(0.25) * col("__tw"), col("value"))), 4).as("p25"),
        round(min(when(col("__cw") >= lit(0.50) * col("__tw"), col("value"))), 4).as("p50"),
        round(min(when(col("__cw") >= lit(0.90) * col("__tw"), col("value"))), 4).as("p90"))
    }),
    // boundingRatio (AggregateFunctionBoundingRatio.h): slope between
    // the min-x and max-x points, (y@maxx − y@minx)/(maxx − minx) —
    // min_by/max_by element picking per group.
    "e41_bounding_ratio" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min_by(col("value"), col("event_id")).as("__y0"),
          max_by(col("value"), col("event_id")).as("__y1"),
          min(col("event_id")).as("__x0"),
          max(col("event_id")).as("__x1"))
        .filter(col("__x1") > col("__x0"))
        .select(col("user_id"),
          (round((col("__y1") - col("__y0")) / (col("__x1") - col("__x0")), 6)
            + lit(0.0)).as("bounding_ratio"))
        .orderBy(col("user_id"))
    }),
    // covar/corr matrix (AggregateFunctionVarianceMatrix.cpp) over three
    // series, exploded to (i, j, corr) rows (upper triangle).
    "e42_corr_matrix" -> ((s, dir) => {
      val ev = events(s, dir).select(
        col("value").as("c0"),
        (col("user_id") % 10).cast("double").as("c1"),
        unix_micros(col("ts").cast("timestamp")).cast("double").as("c2"))
      val cols = Seq("c0", "c1", "c2")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if j >= i
      } yield (i, j)
      val exprs = pairs.map { case (i, j) =>
        round(corr(col(cols(i)), col(cols(j))), 4).as(s"r_${i}_$j")
      }
      val row = ev.agg(exprs.head, exprs.tail: _*)
      // unpivot the single row to (i, j, corr)
      val entries = array(pairs.map { case (i, j) =>
        struct(lit(i).as("i"), lit(j).as("j"), col(s"r_${i}_$j").as("corr"))
      }: _*)
      row.select(explode(entries).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("e.corr").as("corr"))
        .orderBy(col("i"), col("j"))
    }),
    // skewPop/kurtPop (AggregateFunctionStatisticsThird/FourthMoment):
    // computed from raw power sums so both engines run IDENTICAL
    // arithmetic (built-in skewness()/kurtosis() differ in estimator
    // convention between engines).
    "e43_moments" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("__n"),
          sum(col("value")).as("__s1"),
          sum(col("value") * col("value")).as("__s2"),
          sum(col("value") * col("value") * col("value")).as("__s3"),
          sum(col("value") * col("value") * col("value") * col("value")).as("__s4"))
        .withColumn("__m", col("__s1") / col("__n"))
        // multiplication (not pow) mirrors the oracle's arithmetic exactly
        .withColumn("__m2", col("__s2") / col("__n") - col("__m") * col("__m"))
        .withColumn("__m3", col("__s3") / col("__n")
          - lit(3) * col("__m") * col("__s2") / col("__n")
          + lit(2) * pow(col("__m"), 3))
        .withColumn("__m4", col("__s4") / col("__n")
          - lit(4) * col("__m") * col("__s3") / col("__n")
          + lit(6) * pow(col("__m"), 2) * col("__s2") / col("__n")
          - lit(3) * pow(col("__m"), 4))
        .select(col("event_type"),
          round(col("__m3") / pow(col("__m2"), 1.5), 4).as("skew_pop"),
          round(col("__m4") / pow(col("__m2"), 2), 4).as("kurt_pop"))
        .orderBy(col("event_type"))
    }),
    // meanZTest (AggregateFunctionMeanZTest): z statistic with
    // population variances.
    "e44_mean_ztest" -> ((s, dir) => {
      events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy()
        .agg(
          avg(when(col("event_type") === "click", col("value"))).as("__m1"),
          var_pop(when(col("event_type") === "click", col("value"))).as("__v1"),
          count(when(col("event_type") === "click", 1)).as("__n1"),
          avg(when(col("event_type") === "view", col("value"))).as("__m2"),
          var_pop(when(col("event_type") === "view", col("value"))).as("__v2"),
          count(when(col("event_type") === "view", 1)).as("__n2"))
        .select(round((col("__m1") - col("__m2")) /
            sqrt(col("__v1") / col("__n1") + col("__v2") / col("__n2")), 4)
          .as("z_stat"))
    }),
    // analysisOfVariance (AggregateFunctionAnalysisOfVariance): one-way
    // ANOVA F over the event_type groups — between/within sums of
    // squares from group moments, pure relational math.
    "e45_anova" -> ((s, dir) => {
      val g = events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("ni"),
          avg(col("value")).as("mi"),
          sum(col("value") * col("value")).as("s2i"))
      val tot = g.agg(
        sum(col("ni")).as("n"),
        (sum(col("ni") * col("mi")) / sum(col("ni"))).as("m"),
        count(lit(1)).cast("double").as("k"))
      g.crossJoin(tot)
        .agg(
          sum(col("ni") * (col("mi") - col("m")) * (col("mi") - col("m"))).as("__ssb"),
          sum(col("s2i") - col("ni") * col("mi") * col("mi")).as("__ssw"),
          max(col("k")).as("__k"), max(col("n")).as("__n"))
        .select(round((col("__ssb") / (col("__k") - 1)) /
            (col("__ssw") / (col("__n") - col("__k"))), 4).as("f_stat"),
          (col("__k") - 1).cast("long").as("df_between"),
          (col("__n") - col("__k")).cast("long").as("df_within"))
    }),
    // simpleLinearRegression → regr_slope / regr_intercept.
    "e18_regression" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(regr_slope(col("value"), tsSec - lit(1.7e9)), 6).as("slope"),
          round(regr_intercept(col("value"), tsSec - lit(1.7e9)), 2).as("intercept"),
          regr_count(col("value"), tsSec).as("n"))
        .orderBy(col("event_type"))
    }),
    // Tumbling window (WindowView tumble(ts, INTERVAL 1 HOUR)).
    "e06_tumble" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("window.start").as("wstart"), col("n"), col("total"))
        .orderBy(col("wstart"))
    }),
    // topK heavy-hitters aggregate (SpaceSaving; exact here because
    // distinct event types fit the counter budget) — results as rows.
    "e08_topk_values" -> ((s, dir) => {
      events(s, dir)
        .agg(graft.functions.TopKAggregate.topK(3)(col("event_type")).as("top_types"))
        .select(posexplode(col("top_types")).as(Seq("rank", "event_type")))
        .select((col("rank") + 1).cast("long").as("rank"), col("event_type"))
        .orderBy(col("rank"))
    }),
    // avgWeighted: weight-blended mean per group.
    "e28_avg_weighted" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(round(Combinators.avgWeighted(
          col("value"), col("user_id") % 10 + 1), 4).as("wavg"))
        .orderBy(col("event_type"))
    }),
    // topKWeighted: heavy hitters by summed weight (SpaceSaving with
    // weighted counters; exact at this cardinality).
    "e27_topk_weighted" -> ((s, dir) => {
      events(s, dir)
        .agg(graft.functions.TopKAggregate.topKWeighted(3)(
          col("event_type"), round(col("value") * 100).cast("long")).as("top"))
        .select(posexplode(col("top")).as(Seq("rank", "event_type")))
        .select((col("rank") + 1).cast("long").as("rank"), col("event_type"))
        .orderBy(col("rank"))
    }),
    // Approximate quantiles (quantileTDigest family → percentile_approx;
    // algorithm-specific values → rows-only check).
    // percentile_approx with a driver-checked rank-error gate: the GK
    // sketch guarantees rank error ≤ 1/accuracy = 0.001, so the approx
    // value must land between the exact quantiles at p ± 0.05 (a 50×
    // margin). The oracle recomputes the exact brackets (quantile_cont)
    // and pins the gate booleans true — a sketch regression hash-fails.
    "e09_quantile_approx" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("percentile_approx(value, 0.5, 1000)").as("__a50"),
          expr("percentile_approx(value, 0.95, 1000)").as("__a95"),
          expr("percentile(value, 0.45)").as("__p45"),
          expr("percentile(value, 0.55)").as("__p55"),
          expr("percentile(value, 0.93)").as("__p93"),
          expr("percentile(value, 0.97)").as("__p97"))
        .select(col("event_type"),
          round(col("__p45"), 2).as("p45"), round(col("__p55"), 2).as("p55"),
          col("__a50").between(col("__p45"), col("__p55")).as("p50_in_bounds"),
          round(col("__p93"), 2).as("p93"), round(col("__p97"), 2).as("p97"),
          col("__a95").between(col("__p93"), col("__p97")).as("p95_in_bounds"))
        .orderBy(col("event_type"))
    }),
    // Hopping window (hop(ts, 30 min slide, 1 hour size)).
    "e07_hop" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("window.start").as("wstart"), col("n"), col("total"))
        .orderBy(col("wstart"))
    }),
    // sequenceNextNode(forward, head): the event right after a
    // view→click chain starting at the user's FIRST event (bounded
    // O(k) buffer — no full event list).
    "e47_sequence_next_node" -> ((s, dir) => {
      val nxt = Aggregates.sequenceNextNode(tsSec, col("event_type"), lit(true),
        col("event_type") === "view", col("event_type") === "click")
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(nxt.as("next_event"))
        .orderBy(col("user_id"))
    }),
    // sequenceNextNode('backward','tail'): anchor at the LAST event
    // (must be click), previous must be view, return the event before
    // that chain — the time-reversed twin of e47.
    "e57_seq_next_node_backward" -> ((s, dir) => {
      val prev = Aggregates.sequenceNextNodeBackward(tsSec, col("event_type"),
        lit(true), col("event_type") === "click", col("event_type") === "view")
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(prev.as("prev_event"))
        .orderBy(col("user_id"))
    }),
    // categoricalInformationValue: per-category WoE / IV terms for the
    // binary outcome value > 10.
    "e48_categorical_iv" -> ((s, dir) => {
      MiscAggregates.categoricalIv(events(s, dir), col("event_type"),
          col("value") > 10)
        .select(col("category"), round(col("woe"), 6).as("woe"),
          round(col("iv_term"), 6).as("iv_term"))
        .orderBy(col("category"))
    }),
    // sparkbar(10 buckets over 30 days)(day, value) per user.
    "e49_sparkbar" -> ((s, dir) => {
      val day = datediff(col("ts").cast("date"), to_date(lit("2024-01-01")))
      MiscAggregates.sparkbar(events(s, dir).withColumn("__day", day),
          Seq(col("user_id")), col("__day"), col("value"),
          nBuckets = 10, xMin = 0, xMax = 29)
        .select(col("user_id"), col("sparkbar"))
        .orderBy(col("user_id"))
    }),
    // stochasticLinearRegression analog: exact normal-equation fit from
    // distributed second moments (value ~ hour + user bucket).
    "e50_linreg_fit" -> ((s, dir) => {
      MiscAggregates.linearRegressionFit(events(s, dir), col("value"),
          Seq(hour(col("ts")).cast("double"),
            pmod(col("user_id"), lit(10)).cast("double")))
        .select(round(col("w1"), 6).as("w1"), round(col("w2"), 6).as("w2"),
          round(col("intercept"), 6).as("intercept"))
    }),
    // stochasticLogisticRegression analog: deterministic full-batch GD
    // (order/partitioning independent); algorithm-specific output →
    // rows-only driver check + ScalaTest separability spec.
    // Full-batch logistic-regression GD, oracle-checked END TO END: the
    // DuckDB oracle replays all 30 gradient steps as unrolled aggregate
    // CTEs (the GD twin of the LTTB recursive-CTE oracle). Weights are
    // rounded to 4 dp BEFORE the accuracy pass so both systems score
    // with bit-identical coefficients; cross-system float-sum drift in
    // the weights themselves contracts under the convex descent and
    // vanishes at 4 dp.
    "e51_logreg_gd" -> ((s, dir) => {
      val fit = MiscAggregates.logisticRegressionGD(events(s, dir),
          col("value") > 10,
          Seq(hour(col("ts")).cast("double") / lit(23.0),
            pmod(col("user_id"), lit(10)).cast("double") / lit(9.0)),
          lr = 1.0, iters = 30)
        .select(col("w1"), col("w2"), col("intercept")).head() // 1 row: fitted coefficients
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (w1, w2, b) = (r4(fit.getDouble(0)), r4(fit.getDouble(1)), r4(fit.getDouble(2)))
      events(s, dir)
        .select((hour(col("ts")).cast("double") / lit(23.0)).as("x1"),
          (pmod(col("user_id"), lit(10)).cast("double") / lit(9.0)).as("x2"),
          (col("value") > 10).cast("double").as("y"))
        .agg(round(avg(when((col("x1") * lit(w1) + col("x2") * lit(w2) + lit(b) > 0)
            .cast("double") === col("y"), 1.0).otherwise(0.0)), 4).as("accuracy"))
        .select(lit(w1).as("w1"), lit(w2).as("w2"), lit(b).as("intercept"),
          col("accuracy"))
    }),
  )

  val oracles: Map[String, String] = Map(
    // round-12 aggregate-registry closure: the oracle replays the EXACT
    // arithmetic shape of AggregateTail (Moments.h raw-sum forms,
    // QuantileExact index rules, ceil-threshold weighted scan) so both
    // engines round the same Float64.
    "e61_moments_samp" -> """
      WITH g AS (
        SELECT event_type, CAST(count(1) AS DOUBLE) AS n,
               sum(value) AS s1, sum(value * value) AS s2,
               sum(value * value * value) AS s3,
               sum(value * value * value * value) AS s4
        FROM events GROUP BY 1),
      m AS (SELECT event_type,
              (s3 - (3 * s2 - 2 * s1 * s1 / n) * s1 / n) / n AS m3,
              (s4 - (4 * s3 - (6 * s2 - 3 * s1 * s1 / n) * s1 / n) * s1 / n) / n AS m4,
              greatest((s2 - s1 * s1 / n) / n, 0) AS vp,
              greatest((s2 - s1 * s1 / n) / (n - 1), 0) AS vs
            FROM g)
      SELECT event_type,
             round(m3 / pow(vs, 1.5), 4) AS skew_samp,
             round(m4 / pow(vs, 2), 4) AS kurt_samp,
             round(m3 / pow(vp, 1.5), 4) AS skew_pop,
             round(m4 / pow(vp, 2), 4) AS kurt_pop
      FROM m ORDER BY event_type""",
    "e62_quantile_exact_tail" -> """
      WITH g AS (
        SELECT event_type, list_sort(list(value)) AS arr,
               CAST(count(1) AS BIGINT) AS s
        FROM events GROUP BY 1),
      q AS (SELECT event_type, arr, s,
              CASE WHEN s % 2 = 1 THEN s // 2 ELSE s // 2 - 1 END AS il_med,
              CAST(floor(0.25 * s) AS BIGINT) AS il_25,
              s // 2 AS ih_med,
              CAST(floor(0.75 * s) AS BIGINT) AS ih_75,
              0.25 * (s + 1) AS h,
              CAST(floor(0.25 * (s + 1)) AS BIGINT) AS hn
            FROM g),
      wsrc AS (SELECT event_type, value,
                      CAST(event_id % 5 + 1 AS DOUBLE) AS wt FROM events),
      cumw AS (SELECT event_type, value,
                      sum(wt) OVER (PARTITION BY event_type ORDER BY value) AS cw
               FROM wsrc),
      tot AS (SELECT event_type, sum(wt) AS t FROM wsrc GROUP BY 1),
      qew AS (SELECT c.event_type, min(c.value) AS qew_med
              FROM cumw c JOIN tot t ON c.event_type = t.event_type
              WHERE c.cw >= ceil(t.t * 0.5) GROUP BY 1)
      SELECT q.event_type,
             arr[il_med + 1] AS qel_med,
             arr[il_25 + 1] AS qel_25,
             arr[ih_med + 1] AS qeh_med,
             arr[ih_75 + 1] AS qeh_75,
             round(CASE WHEN hn >= s THEN arr[s]
                        WHEN hn < 1 THEN arr[1]
                        ELSE arr[hn] + (h - hn) * (arr[hn + 1] - arr[hn])
                   END, 4) AS qex_25,
             w.qew_med
      FROM q JOIN qew w ON q.event_type = w.event_type
      ORDER BY q.event_type""",
    "e63_group_array_tail" -> """
      WITH g AS (
        SELECT user_id,
               list(event_type ORDER BY ts, event_id) AS seq,
               list(event_type ORDER BY md5(event_type || '#42'), event_type)
                 AS sh
        FROM events WHERE user_id < 20 GROUP BY user_id)
      SELECT user_id,
             array_to_string(list_slice(seq, greatest(len(seq) - 2, 1),
               len(seq)), ',') AS last3,
             array_to_string(list_slice(sh, 1, 2), ',') AS samp2
      FROM g ORDER BY user_id""",
    "e64_heavy_sweep" -> """
      WITH f AS (
        SELECT user_id, event_id, value,
               CASE WHEN event_id % 10 < 8 THEN 'major' ELSE event_type END
                 AS maj,
               epoch_us(ts) / 1000000.0 AS s,
               epoch_us(ts) / 1000000.0 + value AS e
        FROM events WHERE user_id < 50),
      hv AS (SELECT user_id, maj, count(1) AS c FROM f GROUP BY 1, 2),
      tot AS (SELECT user_id, count(1) AS t FROM f GROUP BY 1),
      heavy AS (SELECT h.user_id, min(h.maj) AS heavy
                FROM hv h JOIN tot t ON h.user_id = t.user_id
                WHERE 2 * h.c > t.t GROUP BY 1),
      pts AS (SELECT user_id, s AS p, 1 AS delta FROM f
              UNION ALL SELECT user_id, e AS p, -1 AS delta FROM f),
      sw AS (SELECT user_id, p,
               sum(delta) OVER (PARTITION BY user_id ORDER BY p, delta
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
             FROM pts),
      mx AS (SELECT user_id, max(open) AS max_open FROM sw GROUP BY 1),
      pos AS (SELECT w.user_id, min(w.p) AS mp
              FROM sw w JOIN mx m
                ON w.user_id = m.user_id AND w.open = m.max_open
              GROUP BY 1)
      SELECT h.user_id, h.heavy, CAST(m.max_open AS BIGINT) AS max_open,
             round(p.mp, 4) AS max_pos
      FROM heavy h JOIN mx m ON h.user_id = m.user_id
      JOIN pos p ON h.user_id = p.user_id
      ORDER BY h.user_id""",
    "e65_covar_matrix" -> """
      WITH ev AS (SELECT value AS c0,
                         CAST(user_id % 10 AS DOUBLE) AS c1,
                         epoch_us(ts) / 86400000000.0 - 20000 AS c2
                  FROM events),
      m AS (SELECT
              round(covar_pop(c0, c0), 4) AS p00, round(covar_samp(c0, c0), 4) AS s00,
              round(covar_pop(c0, c1), 4) AS p01, round(covar_samp(c0, c1), 4) AS s01,
              round(covar_pop(c0, c2), 4) AS p02, round(covar_samp(c0, c2), 4) AS s02,
              round(covar_pop(c1, c1), 4) AS p11, round(covar_samp(c1, c1), 4) AS s11,
              round(covar_pop(c1, c2), 4) AS p12, round(covar_samp(c1, c2), 4) AS s12,
              round(covar_pop(c2, c2), 4) AS p22, round(covar_samp(c2, c2), 4) AS s22
            FROM ev)
      SELECT 0 AS i, 0 AS j, p00 AS cov_pop, s00 AS cov_samp FROM m
      UNION ALL SELECT 0, 1, p01, s01 FROM m
      UNION ALL SELECT 0, 2, p02, s02 FROM m
      UNION ALL SELECT 1, 1, p11, s11 FROM m
      UNION ALL SELECT 1, 2, p12, s12 FROM m
      UNION ALL SELECT 2, 2, p22, s22 FROM m
      ORDER BY i, j""",
    "e66_bitmap_group_fold" -> """
      WITH m AS (SELECT DISTINCT event_type, user_id % 4 AS slot,
                        user_id % 500 AS v FROM events),
      ns AS (SELECT event_type, count(DISTINCT slot) AS nslots
             FROM m GROUP BY 1),
      cnt AS (SELECT event_type, v, count(1) AS c FROM m GROUP BY 1, 2)
      SELECT c.event_type,
             CAST(sum(CASE WHEN c.c = n.nslots THEN 1 ELSE 0 END) AS BIGINT)
               AS and_card,
             CAST(count(1) AS BIGINT) AS or_card,
             CAST(sum(CASE WHEN c.c % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS xor_card
      FROM cnt c JOIN ns n ON c.event_type = n.event_type
      GROUP BY 1 ORDER BY 1""",
    // Greedy non-overlapping A→B chain count == number of A-run → B-run
    // boundaries in the run-length encoding of the condition-event stream
    // (extra A's inside a run are ignored by the automaton, extra B's
    // likewise) — that makes the greedy semantics SQL-expressible.
    "e19_sequence_count" -> """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      f AS (SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'signup' THEN 'a' ELSE 'b' END AS s
            FROM events WHERE event_type IN ('signup', 'purchase')),
      w AS (SELECT user_id, s,
                   lag(s) OVER (PARTITION BY user_id ORDER BY ts, s, event_id) AS ps
            FROM f),
      c AS (SELECT user_id, count(*) FILTER (WHERE s = 'b' AND ps = 'a') AS n
            FROM w GROUP BY user_id)
      SELECT u.user_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_chains
      FROM u LEFT JOIN c USING (user_id) ORDER BY u.user_id""",
    "e23_sequence_match_window" -> """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      f AS (SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'view' THEN 'a' ELSE 'b' END AS s
            FROM events WHERE event_type IN ('view', 'purchase')),
      w AS (SELECT user_id, s, ts,
                   lag(s) OVER (PARTITION BY user_id ORDER BY ts, s, event_id) AS ps,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, s, event_id) AS pts
            FROM f),
      c AS (SELECT user_id,
                   max(CASE WHEN s = 'b' AND ps = 'a'
                             AND epoch_us(ts - pts) / 1e6 < 600
                            THEN 1 ELSE 0 END) AS m
            FROM w GROUP BY user_id)
      SELECT u.user_id, CAST(coalesce(c.m, 0) AS INTEGER) AS matched
      FROM u LEFT JOIN c USING (user_id) ORDER BY u.user_id""",
    "e20_array_combinator" -> s"""
      WITH d AS (SELECT source,
                        list_transform(${TextQueries.toksSql}, x -> len(x)) AS lens
                 FROM documents)
      SELECT source,
             CAST(sum(len(lens)) AS BIGINT) AS n_tokens,
             CAST(sum(list_aggregate(lens, 'sum')) AS BIGINT) AS sum_len,
             round(sum(list_aggregate(lens, 'sum')) * 1.0 / sum(len(lens)), 4) AS avg_len,
             CAST(max(list_aggregate(lens, 'max')) AS BIGINT) AS max_len
      FROM d GROUP BY source ORDER BY source""",
    "e21_map_combinator" -> """
      WITH per AS (
        SELECT user_id, event_type,
               round(min(value), 2) AS mn, round(max(value), 2) AS mx
        FROM events GROUP BY 1, 2)
      SELECT user_id,
             array_to_string(list_sort(list(event_type || ':' || CAST(mn AS VARCHAR))), ',')
               AS min_map,
             array_to_string(list_sort(list(event_type || ':' || CAST(mx AS VARCHAR))), ',')
               AS max_map
      FROM per GROUP BY user_id ORDER BY user_id LIMIT 50""",
    "e25_distinct_combinator" -> """
      SELECT l_returnflag,
             round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS uniq_supp,
             round(avg(l_discount), 4) AS avg_disc
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "e26_group_bit_agg" -> """
      SELECT event_type,
             bit_and(user_id) AS band,
             bit_or(user_id) AS bor,
             bit_xor(user_id) AS bxor
      FROM events GROUP BY event_type ORDER BY event_type""",
    "e39_quantile_weighted" -> """
      WITH vals AS (
        SELECT value, sum(user_id % 10 + 1) AS w FROM events GROUP BY value),
      cum AS (SELECT value,
                sum(w) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                sum(w) OVER () AS tw
              FROM vals)
      SELECT round(min(CASE WHEN cw >= 0.25 * tw THEN value END), 4) AS p25,
             round(min(CASE WHEN cw >= 0.50 * tw THEN value END), 4) AS p50,
             round(min(CASE WHEN cw >= 0.90 * tw THEN value END), 4) AS p90
      FROM cum""",
    "e37_ks_test" -> """
      WITH p AS (SELECT event_type, value FROM events
                 WHERE event_type IN ('click', 'view')),
      vals AS (SELECT value,
                      count(CASE WHEN event_type = 'click' THEN 1 END) AS c1,
                      count(CASE WHEN event_type = 'view' THEN 1 END) AS c2
               FROM p GROUP BY value),
      cum AS (SELECT
                sum(c1) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
                sum(c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
                sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
              FROM vals)
      SELECT round(max(abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2)), 4) AS d_stat,
             CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
      FROM cum""",
    "e38_entropy" -> """
      WITH c AS (SELECT event_type, count(1) AS cnt FROM events GROUP BY 1),
      t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM c)
      SELECT round(-sum((cnt / t.n) * log2(cnt / t.n)), 4) AS entropy
      FROM c CROSS JOIN t""",
    "e33_student_ttest" -> """
      WITH stats AS (
        SELECT avg(value) FILTER (event_type = 'click') AS m1,
               var_samp(value) FILTER (event_type = 'click') AS v1,
               count(value) FILTER (event_type = 'click') AS n1,
               avg(value) FILTER (event_type = 'view') AS m2,
               var_samp(value) FILTER (event_type = 'view') AS v2,
               count(value) FILTER (event_type = 'view') AS n2
        FROM events WHERE event_type IN ('click', 'view'))
      SELECT round((m1 - m2) / sqrt((((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
               * (1.0 / n1 + 1.0 / n2)), 4) AS t_stat,
             CAST(n1 + n2 - 2 AS BIGINT) AS dof
      FROM stats""",
    "e34_mann_whitney" -> """
      WITH p AS (SELECT event_type, value FROM events
                 WHERE event_type IN ('click', 'view')),
      r AS (SELECT event_type,
                   rank() OVER (ORDER BY value)
                     + (count(1) OVER (PARTITION BY value) - 1) / 2.0 AS rr
            FROM p),
      s AS (SELECT sum(CASE WHEN event_type = 'click' THEN rr END) AS r1,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS n1,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS n2
            FROM r)
      SELECT round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
             CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
      FROM s""",
    "e35_spearman" -> """
      WITH ev AS (SELECT event_id, CAST(user_id AS DOUBLE) AS x, value AS y
                  FROM events WHERE user_id < 200),
      r AS (SELECT
              rank() OVER (ORDER BY x) + (count(1) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
              rank() OVER (ORDER BY y) + (count(1) OVER (PARTITION BY y) - 1) / 2.0 AS ry
            FROM ev)
      SELECT round(corr(rx, ry), 4) AS rho, CAST(count(1) AS BIGINT) AS n
      FROM r""",
    "e36_cramers_v" -> """
      WITH ev AS (SELECT event_type AS a, CAST(user_id % 5 AS VARCHAR) AS b
                  FROM events),
      n AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM ev),
      cell AS (SELECT a, b, count(1) AS o FROM ev GROUP BY 1, 2),
      rt AS (SELECT a, count(1) AS ra FROM ev GROUP BY 1),
      ct AS (SELECT b, count(1) AS cb FROM ev GROUP BY 1),
      chi AS (SELECT sum((o - ra * cb / n.n) * (o - ra * cb / n.n) / (ra * cb / n.n)) AS chi2
              FROM cell JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN n),
      dims AS (SELECT CAST((SELECT count(DISTINCT a) FROM ev) AS DOUBLE) AS k,
                      CAST((SELECT count(DISTINCT b) FROM ev) AS DOUBLE) AS r)
      SELECT round(sqrt(chi.chi2 / ((SELECT n FROM n) * least(dims.k - 1, dims.r - 1))), 4)
               AS cramers_v,
             round(sqrt(chi.chi2 / (chi.chi2 + (SELECT n FROM n))), 4) AS contingency,
             round(sqrt(
               greatest(chi.chi2 / (SELECT n FROM n)
                 - (dims.k - 1) * (dims.r - 1) / ((SELECT n FROM n) - 1), 0.0)
               / least(dims.k - (dims.k - 1) * (dims.k - 1) / ((SELECT n FROM n) - 1) - 1,
                       dims.r - (dims.r - 1) * (dims.r - 1) / ((SELECT n FROM n) - 1) - 1)), 4)
               AS cramers_v_bc
      FROM chi CROSS JOIN dims""",
    "e43_moments" -> """
      WITH g AS (
        SELECT event_type, CAST(count(1) AS DOUBLE) AS n,
               sum(value) AS s1, sum(value * value) AS s2,
               sum(value * value * value) AS s3,
               sum(value * value * value * value) AS s4
        FROM events GROUP BY 1),
      m AS (SELECT event_type, n, s1 / n AS mu,
                   s2 / n - (s1 / n) * (s1 / n) AS m2,
                   s3 / n - 3 * (s1 / n) * s2 / n + 2 * pow(s1 / n, 3) AS m3,
                   s4 / n - 4 * (s1 / n) * s3 / n + 6 * pow(s1 / n, 2) * s2 / n
                     - 3 * pow(s1 / n, 4) AS m4
            FROM g)
      SELECT event_type,
             round(m3 / pow(m2, 1.5), 4) AS skew_pop,
             round(m4 / pow(m2, 2), 4) AS kurt_pop
      FROM m ORDER BY event_type""",
    "e44_mean_ztest" -> """
      WITH s AS (
        SELECT avg(value) FILTER (event_type = 'click') AS m1,
               var_pop(value) FILTER (event_type = 'click') AS v1,
               count(value) FILTER (event_type = 'click') AS n1,
               avg(value) FILTER (event_type = 'view') AS m2,
               var_pop(value) FILTER (event_type = 'view') AS v2,
               count(value) FILTER (event_type = 'view') AS n2
        FROM events WHERE event_type IN ('click', 'view'))
      SELECT round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS z_stat FROM s""",
    "e45_anova" -> """
      WITH g AS (
        SELECT event_type, CAST(count(1) AS DOUBLE) AS ni, avg(value) AS mi,
               sum(value * value) AS s2i
        FROM events GROUP BY 1),
      t AS (SELECT sum(ni) AS n, sum(ni * mi) / sum(ni) AS m,
                   CAST(count(1) AS DOUBLE) AS k FROM g),
      s AS (SELECT sum(ni * (mi - t.m) * (mi - t.m)) AS ssb,
                   sum(s2i - ni * mi * mi) AS ssw,
                   max(t.k) AS k, max(t.n) AS n
            FROM g CROSS JOIN t)
      SELECT round((ssb / (k - 1)) / (ssw / (n - k)), 4) AS f_stat,
             CAST(k - 1 AS BIGINT) AS df_between,
             CAST(n - k AS BIGINT) AS df_within
      FROM s""",
    "e41_bounding_ratio" -> """
      WITH g AS (
        SELECT user_id,
               min_by(value, event_id) AS y0, max_by(value, event_id) AS y1,
               min(event_id) AS x0, max(event_id) AS x1
        FROM events GROUP BY user_id)
      SELECT user_id, round((y1 - y0) / (x1 - x0), 6) + 0.0 AS bounding_ratio
      FROM g WHERE x1 > x0 ORDER BY user_id""",
    "e42_corr_matrix" -> """
      WITH ev AS (SELECT value AS c0,
                         CAST(user_id % 10 AS DOUBLE) AS c1,
                         CAST(epoch_us(ts) AS DOUBLE) AS c2
                  FROM events),
      m AS (SELECT round(corr(c0, c0), 4) AS r00, round(corr(c0, c1), 4) AS r01,
                   round(corr(c0, c2), 4) AS r02, round(corr(c1, c1), 4) AS r11,
                   round(corr(c1, c2), 4) AS r12, round(corr(c2, c2), 4) AS r22
            FROM ev)
      SELECT 0 AS i, 0 AS j, r00 AS corr FROM m
      UNION ALL SELECT 0, 1, r01 FROM m
      UNION ALL SELECT 0, 2, r02 FROM m
      UNION ALL SELECT 1, 1, r11 FROM m
      UNION ALL SELECT 1, 2, r12 FROM m
      UNION ALL SELECT 2, 2, r22 FROM m
      ORDER BY i, j""",
    "e40_theils_u" -> """
      WITH ev AS (SELECT event_type AS a, CAST(user_id % 5 AS VARCHAR) AS b
                  FROM events),
      n AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM ev),
      joint AS (SELECT a, b, count(1) AS nab FROM ev GROUP BY 1, 2),
      byb AS (SELECT b, count(1) AS nb FROM ev GROUP BY 1),
      hcond AS (SELECT -sum(nab / n.n * log2(CAST(nab AS DOUBLE) / nb)) AS h_cond
                FROM joint JOIN byb USING (b) CROSS JOIN n),
      ha AS (SELECT -sum(na / n.n * log2(na / n.n)) AS h_a
             FROM (SELECT a, CAST(count(1) AS DOUBLE) AS na FROM ev GROUP BY 1)
             CROSS JOIN n)
      SELECT round((ha.h_a - hcond.h_cond) / ha.h_a, 4) AS theils_u
      FROM ha CROSS JOIN hcond""",
    "e31_uniq_up_to" -> """
      SELECT event_type,
             least(CAST(count(DISTINCT user_id) AS BIGINT), 11) AS u10,
             least(CAST(count(DISTINCT user_id) AS BIGINT), 1001) AS u1000,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact,
             CASE WHEN count(DISTINCT event_type) = 1 THEN min(event_type) END
               AS single_type
      FROM events GROUP BY event_type ORDER BY event_type""",
    "e32_moving_sum" -> """
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS pos,
             round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS moving_sum
      FROM events
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, pos""",
    "e30_ornull_combinator" -> """
      SELECT event_type,
             round(sum(CASE WHEN value > 9.9 THEN value END), 2) AS sum_ornull,
             round(coalesce(sum(CASE WHEN value > 9.9 THEN value END), -1.0), 2)
               AS sum_ordefault,
             CASE WHEN count(CASE WHEN value > 9.9 THEN value END) = 0 THEN NULL
                  ELSE CAST(count(CASE WHEN value > 9.9 THEN value END) AS BIGINT)
             END AS cnt_ornull,
             CAST(count(CASE WHEN value > 9.9 THEN value END) AS BIGINT) AS n_hits
      FROM events GROUP BY event_type ORDER BY event_type""",
    "e29_bitmap" -> """
      WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
           p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      SELECT CAST((SELECT count(1) FROM v) AS BIGINT) AS card_view,
             CAST((SELECT count(1) FROM p) AS BIGINT) AS card_purchase,
             CAST((SELECT count(1) FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM p)) AS BIGINT) AS card_and,
             CAST((SELECT count(1) FROM (SELECT user_id FROM v UNION SELECT user_id FROM p)) AS BIGINT) AS card_or,
             CAST((SELECT count(1) FROM (SELECT user_id FROM v UNION SELECT user_id FROM p)) -
                  (SELECT count(1) FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM p)) AS BIGINT) AS card_xor,
             CAST((SELECT count(1) FROM (SELECT user_id FROM v EXCEPT SELECT user_id FROM p)) AS BIGINT) AS card_andnot,
             (SELECT min(user_id) FROM v) AS min_view,
             (SELECT max(user_id) FROM v) AS max_view,
             CAST((SELECT count(1) FROM v WHERE user_id >= 0 AND user_id < 100) AS BIGINT) AS card_view_lt100""",
    "e24_resample_combinator" -> {
      val buckets = (0 until 5).map { i =>
        val lo = 1 + i * 10; val hi = 11 + i * 10
        s"""SELECT l_returnflag, CAST($i AS INTEGER) AS bucket,
               CAST(sum(CASE WHEN l_quantity >= $lo AND l_quantity < $hi THEN 1 ELSE 0 END) AS BIGINT) AS cnt,
               round(sum(CASE WHEN l_quantity >= $lo AND l_quantity < $hi THEN l_extendedprice ELSE 0 END), 2) AS bucket_sum
             FROM lineitem GROUP BY l_returnflag"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      $buckets
      ORDER BY l_returnflag, bucket"""
    },
    "e22_foreach_combinator" -> """
      SELECT l_returnflag, CAST(0 AS INTEGER) AS pos,
             round(sum(l_quantity), 2) AS component_sum
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, CAST(1 AS INTEGER) AS pos,
             round(sum(l_extendedprice), 2) AS component_sum
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, CAST(2 AS INTEGER) AS pos,
             round(sum(l_discount), 2) AS component_sum
      FROM lineitem GROUP BY l_returnflag
      ORDER BY l_returnflag, pos""",
    "e28_avg_weighted" -> """
      SELECT event_type,
             round(sum(value * (user_id % 10 + 1)) / sum(user_id % 10 + 1), 4)
               AS wavg
      FROM events GROUP BY event_type ORDER BY event_type""",
    "e27_topk_weighted" -> """
      SELECT CAST(row_number() OVER (ORDER BY w DESC, event_type) AS BIGINT) AS rank,
             event_type
      FROM (SELECT event_type, sum(CAST(round(value * 100) AS BIGINT)) AS w
            FROM events GROUP BY 1)
      ORDER BY w DESC, event_type LIMIT 3""",
    "e08_topk_values" -> """
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, event_type) AS BIGINT) AS rank,
             event_type
      FROM (SELECT event_type, count(1) AS cnt FROM events GROUP BY 1)
      ORDER BY cnt DESC, event_type LIMIT 3""",
    "e01_retention" -> """
      WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c3
        FROM events GROUP BY user_id)
      SELECT CAST(sum(c1) AS BIGINT) AS n_r1,
             CAST(sum(least(c1, c2)) AS BIGINT) AS n_r2,
             CAST(sum(least(c1, c3)) AS BIGINT) AS n_r3
      FROM per_user""",
    "e02_window_funnel" -> """
      WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      lvl1 AS (SELECT DISTINCT user_id FROM v),
      lvl2 AS (SELECT DISTINCT v.user_id
               FROM v JOIN c ON c.user_id = v.user_id
                 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR),
      lvl3 AS (SELECT DISTINCT v.user_id
               FROM v
               JOIN c ON c.user_id = v.user_id AND c.ts >= v.ts
               JOIN p ON p.user_id = v.user_id AND p.ts >= c.ts
                 AND p.ts <= v.ts + INTERVAL 1 HOUR)
      SELECT (SELECT count(1) FROM lvl1) AS n_lvl1,
             (SELECT count(1) FROM lvl2) AS n_lvl2,
             (SELECT count(1) FROM lvl3) AS n_lvl3""",
    "e03_sequence_match" -> """
      SELECT CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_matched
      FROM events a JOIN events b
        ON a.user_id = b.user_id
        AND a.event_type = 'signup' AND b.event_type = 'purchase'
        AND b.ts >= a.ts""",
    "e04_nonneg_derivative" -> """
      WITH w AS (
        SELECT event_id, user_id, value, ts,
               lag(value) OVER win AS pv,
               lag(ts) OVER win AS pt
        FROM events WHERE user_id < 5
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_id, user_id,
             round(CASE WHEN pt IS NOT NULL AND ts > pt AND value > pv
                        THEN (value - pv) / (epoch_us(ts - pt) / 1000000.0)
                        ELSE 0.0 END, 6) AS deriv
      FROM w ORDER BY event_id""",
    "e05_exp_decayed_sum" -> """
      SELECT a.event_id, a.user_id,
             round(sum(b.value * exp(-(epoch_us(a.ts - b.ts) / 1000000.0) / 604800.0)), 4)
               AS decayed_sum
      FROM (SELECT * FROM events WHERE user_id < 5) a
      JOIN (SELECT * FROM events WHERE user_id < 5) b
        ON a.user_id = b.user_id
        AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id <= a.event_id))
      GROUP BY a.event_id, a.user_id
      ORDER BY a.event_id""",
    // e09: exact quantile brackets verified value-for-value; the GK
    // sketch estimates are asserted inside [p-0.05, p+0.05] by the gate
    // booleans (pinned true).
    "e09_quantile_approx" -> """
      SELECT event_type,
             round(quantile_cont(value, 0.45), 2) AS p45,
             round(quantile_cont(value, 0.55), 2) AS p55,
             true AS p50_in_bounds,
             round(quantile_cont(value, 0.93), 2) AS p93,
             round(quantile_cont(value, 0.97), 2) AS p97,
             true AS p95_in_bounds
      FROM events GROUP BY event_type ORDER BY event_type""",
    "e10_exp_decayed_family" -> """
      WITH p AS (SELECT * FROM events WHERE user_id < 3)
      SELECT a.event_id, a.user_id,
             round(sum(exp(-(epoch_us(a.ts - b.ts) / 1000000.0) / 604800.0)), 4)
               AS dec_count,
             round(sum(b.value * exp(-(epoch_us(a.ts - b.ts) / 1000000.0) / 604800.0)) /
                   sum(exp(-(epoch_us(a.ts - b.ts) / 1000000.0) / 604800.0)), 4)
               AS dec_avg,
             round(max(b.value * exp(-(epoch_us(a.ts - b.ts) / 1000000.0) / 604800.0)), 4)
               AS dec_max
      FROM p a JOIN p b
        ON a.user_id = b.user_id
        AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id <= a.event_id))
      GROUP BY a.event_id, a.user_id
      ORDER BY a.event_id""",
    "e11_state_merge" -> """
      WITH g AS (
        SELECT user_id, CAST(round(sum(value) * 100) AS BIGINT) AS cents,
               count(1) AS n, count(DISTINCT event_type) AS uniq_types
        FROM events GROUP BY user_id)
      SELECT user_id, cents / 100.0 AS sum_v, n,
             ((200 * cents + n) // (2 * n)) / 10000.0 AS avg_v,
             uniq_types
      FROM g ORDER BY user_id""",
    // e60: closed-form replay — the same pooled-z / unpooled-CI /
    // power-analysis arithmetic with the normal quantiles as literals
    // (q(0.975) = 1.9599639845400545, q(0.8) = 0.8416212335729143).
    "e60_proportions_ztest" -> """
      WITH c AS (
        SELECT user_id % 2 = 0 AS even,
               CAST(sum(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS DOUBLE) AS s,
               CAST(count(1) AS DOUBLE) AS t
        FROM events GROUP BY 1),
      v AS (SELECT x.s AS sx, x.t AS tx, y.s AS sy, y.t AS ty,
                   x.s/x.t AS p1, y.s/y.t AS p2,
                   (x.s+y.s)/(x.t+y.t) AS pp
            FROM (SELECT * FROM c WHERE even) x,
                 (SELECT * FROM c WHERE NOT even) y),
      z AS (SELECT p1 - p2 AS diff,
                   (p1-p2)/sqrt(pp*(1-pp)*(1/tx + 1/ty)) AS z,
                   sqrt(p1*(1-p1)/tx + p2*(1-p2)/ty) AS se
            FROM v)
      SELECT round(z, 6) AS z_stat,
             abs(z) > 1.9599639845400545 AS significant,
             round(diff - 1.9599639845400545*se, 6) AS ci_low,
             round(diff + 1.9599639845400545*se, 6) AS ci_high,
             round(pow(1.9599639845400545*sqrt(2*0.265*0.735)
                       + 0.8416212335729143*sqrt(0.25*0.75 + 0.28*0.72), 2)
                   / (0.03*0.03), 0) AS min_n,
             round(0.25 - 0.03, 4) AS p_low,
             round(0.25 + 0.03, 4) AS p_high
      FROM z""",
    "e59_sum_count_single" -> """
      SELECT l_returnflag,
             round(CAST(sum(l_quantity) AS DOUBLE), 2) AS qty_sum,
             CAST(count(l_quantity) AS BIGINT) AS qty_n,
             CASE WHEN count(DISTINCT l_linestatus) = 1
               THEN max(l_linestatus) END AS only_status,
             round(quantile_cont(l_quantity, 0.5), 4) AS med_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "e58_group_array_insert_at" -> """
      WITH per AS (
        SELECT user_id, CAST(event_id % 8 AS INT) AS pos, min(event_type) AS v
        FROM events GROUP BY 1, 2),
      g AS (
        SELECT user_id, list(v ORDER BY pos) AS lv, list(pos ORDER BY pos) AS lp
        FROM per GROUP BY 1)
      SELECT user_id,
             array_to_string([coalesce(lv[list_position(lp, i)], '-')
               for i in range(0, 8)], ',') AS arr
      FROM g ORDER BY user_id LIMIT 50""",
    "e55_min_max_map" -> """
      WITH per AS (
        SELECT user_id, event_type, round(min(value), 2) AS mn,
               round(max(value), 2) AS mx
        FROM events GROUP BY 1, 2)
      SELECT user_id,
             array_to_string(list_sort(list(event_type || ':' || CAST(mn AS VARCHAR))), ',')
               AS min_map,
             array_to_string(list_sort(list(event_type || ':' || CAST(mx AS VARCHAR))), ',')
               AS max_map
      FROM per GROUP BY user_id ORDER BY user_id LIMIT 50""",
    "e56_group_uniq_array" -> """
      SELECT user_id,
             array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      FROM events GROUP BY user_id ORDER BY user_id LIMIT 50""",
    "e52_sum_map_filtered" -> """
      WITH per AS (
        SELECT user_id, event_type, round(sum(value), 2) AS v
        FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2)
      SELECT user_id,
             array_to_string(list_sort(list(event_type || ':' || CAST(v AS VARCHAR))), ',')
               AS sum_map
      FROM per GROUP BY user_id ORDER BY user_id LIMIT 50""",
    "e53_moving_avg" -> """
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS pos,
             round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 5.0, 2) AS moving_avg
      FROM events
      WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, pos""",
    "e54_lttb" -> """
      WITH RECURSIVE
      series AS (
        SELECT row_number() OVER (ORDER BY ts, event_id) AS pos,
               epoch_us(ts) AS x, value AS y
        FROM events WHERE user_id = 3),
      params AS (SELECT count(*)::INT AS n FROM series),
      mids AS (
        SELECT pos, x, y, CAST((pos - 2) * 18 // (n - 2) AS INT) AS b
        FROM series, params WHERE pos > 1 AND pos < n),
      bavg AS (SELECT b, avg(x::DOUBLE) AS ax, avg(y) AS ay FROM mids GROUP BY b),
      lastpt AS (SELECT x, y FROM series, params WHERE pos = n),
      sel AS (
        SELECT -1 AS b, CAST(1 AS BIGINT) AS pos, x, y FROM series WHERE pos = 1
        UNION ALL
        SELECT nxt.b, nxt.pos, nxt.x, nxt.y
        FROM sel, LATERAL (
          SELECT mk.b, mk.pos, mk.x, mk.y
          FROM mids mk
          WHERE mk.b = sel.b + 1
          ORDER BY abs((sel.x::DOUBLE - coalesce((SELECT ax FROM bavg WHERE b = mk.b + 1),
                                                 (SELECT x::DOUBLE FROM lastpt)))
                       * (mk.y - sel.y)
                     - (sel.x::DOUBLE - mk.x::DOUBLE)
                       * (coalesce((SELECT ay FROM bavg WHERE b = mk.b + 1),
                                   (SELECT y FROM lastpt)) - sel.y)) DESC, mk.pos ASC
          LIMIT 1) nxt
        WHERE sel.b < 17)
      SELECT x AS x_us, y FROM (
        SELECT x, round(y, 2) AS y, pos FROM sel
        UNION ALL
        SELECT x, round(y, 2) AS y, pos FROM series, params WHERE pos = n)
      ORDER BY x_us, y""",
    "e12_sum_map" -> """
      WITH per AS (
        SELECT user_id, event_type, round(sum(value), 2) AS v
        FROM events GROUP BY 1, 2)
      SELECT user_id,
             array_to_string(list_sort(list(event_type || ':' || CAST(v AS VARCHAR))), ',')
               AS sum_map
      FROM per GROUP BY user_id ORDER BY user_id LIMIT 50""",
    "e46_delta_sum_ts" -> """
      WITH d AS (
        SELECT user_id, ts, value,
               lag(value) OVER w AS prev,
               lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id,
             round(sum(CASE WHEN prev IS NOT NULL AND ts > prev_ts
                              AND value > prev
                            THEN value - prev ELSE 0 END), 2) AS delta_sum_ts
      FROM d GROUP BY user_id ORDER BY user_id""",
    "e13_delta_sum" -> """
      WITH w AS (
        SELECT user_id, value,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        FROM events)
      SELECT user_id,
             round(sum(CASE WHEN pv IS NOT NULL AND value > pv
                            THEN value - pv ELSE 0.0 END), 2) AS delta_sum
      FROM w GROUP BY user_id ORDER BY user_id""",
    "e14_interval_length_sum" -> """
      WITH iv AS (
        SELECT user_id, event_id, ts,
               epoch_us(ts) / 1000000.0 AS s,
               epoch_us(ts) / 1000000.0 + value AS e
        FROM events),
      sw AS (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM iv)
      SELECT user_id,
             round(sum(greatest(e - greatest(s, coalesce(prev_max, s)), 0.0)), 2)
               AS covered_seconds
      FROM sw GROUP BY user_id ORDER BY user_id""",
    "e15_max_intersections" -> """
      WITH iv AS (
        SELECT user_id, epoch_us(ts) / 1000000.0 AS s,
               epoch_us(ts) / 1000000.0 + value AS e
        FROM events),
      pts AS (
        SELECT user_id, s AS p, 1 AS delta FROM iv
        UNION ALL
        SELECT user_id, e AS p, -1 AS delta FROM iv),
      sw AS (
        SELECT user_id,
               sum(delta) OVER (PARTITION BY user_id ORDER BY p, delta
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        FROM pts)
      SELECT user_id, CAST(max(open) AS BIGINT) AS max_open
      FROM sw GROUP BY user_id ORDER BY user_id""",
    "e16_histogram" -> """
      SELECT CASE WHEN value < 0 THEN 0
                  WHEN value >= 1000.0 THEN 11
                  ELSE CAST(floor(value / 100.0) + 1 AS BIGINT) END AS bin,
             count(1) AS n,
             ((2 * CAST(round(sum(value) * 100) AS BIGINT) + count(1))
                // (2 * count(1))) / 100.0 AS avg_v
      FROM events GROUP BY 1 ORDER BY bin""",
    "e17_ttest" -> """
      WITH stats AS (
        SELECT avg(value) FILTER (event_type = 'click') AS m1,
               var_samp(value) FILTER (event_type = 'click') AS v1,
               count(1) FILTER (event_type = 'click') AS n1,
               avg(value) FILTER (event_type = 'view') AS m2,
               var_samp(value) FILTER (event_type = 'view') AS v2,
               count(1) FILTER (event_type = 'view') AS n2
        FROM events WHERE event_type IN ('click', 'view'))
      SELECT round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
             n1 AS n_click, n2 AS n_view
      FROM stats""",
    "e18_regression" -> """
      SELECT event_type,
             round(regr_slope(value, epoch_us(ts) / 1000000.0 - 1.7e9), 6) AS slope,
             round(regr_intercept(value, epoch_us(ts) / 1000000.0 - 1.7e9), 2) AS intercept,
             regr_count(value, epoch_us(ts) / 1000000.0) AS n
      FROM events GROUP BY event_type ORDER BY event_type""",
    "e06_tumble" -> """
      SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
             count(1) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY 1 ORDER BY wstart""",
    "e07_hop" -> """
      WITH starts AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS wstart, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE, value
        FROM events)
      SELECT wstart, count(1) AS n, round(sum(value), 2) AS total
      FROM starts GROUP BY 1 ORDER BY wstart""",
    // head/forward chain over the time-ordered event list: first event
    // 'view', second 'click' → value of the third (NULL past the end).
    "e47_sequence_next_node" -> """
      WITH l AS (SELECT user_id,
                        list(event_type ORDER BY ts, event_type) AS evs
                 FROM events GROUP BY 1)
      SELECT user_id,
             CASE WHEN evs[1] = 'view' AND evs[2] = 'click' THEN evs[3] END
               AS next_event
      FROM l ORDER BY user_id""",
    "e57_seq_next_node_backward" -> """
      WITH l AS (SELECT user_id,
                        list(event_type ORDER BY ts DESC, event_type) AS evs
                 FROM events GROUP BY 1)
      SELECT user_id,
             CASE WHEN evs[1] = 'click' AND evs[2] = 'view' THEN evs[3] END
               AS prev_event
      FROM l ORDER BY user_id""",
    "e48_categorical_iv" -> """
      WITH c AS (SELECT event_type AS category,
                        CASE WHEN value > 10 THEN 1 ELSE 0 END AS t
                 FROM events),
      tot AS (SELECT CAST(sum(t) AS DOUBLE) AS n1,
                     CAST(count(*) - sum(t) AS DOUBLE) AS n0 FROM c),
      g AS (SELECT category, CAST(sum(t) AS DOUBLE) AS x1,
                   CAST(count(*) - sum(t) AS DOUBLE) AS x0
            FROM c GROUP BY 1)
      SELECT category,
             round(ln((x1 / n1) / (x0 / n0)), 6) AS woe,
             round((x1 / n1 - x0 / n0) * ln((x1 / n1) / (x0 / n0)), 6) AS iv_term
      FROM g, tot WHERE x1 > 0 AND x0 > 0 ORDER BY category""",
    "e49_sparkbar" -> """
      WITH b AS (SELECT user_id,
                        CAST(floor(date_diff('day', DATE '2024-01-01', ts)
                                   * 10 / 30.0) AS INT) AS bk,
                        round(sum(value), 2) AS sv
                 FROM events
                 WHERE date_diff('day', DATE '2024-01-01', ts) BETWEEN 0 AND 29
                 GROUP BY 1, 2),
      m AS (SELECT user_id, max(sv) AS mx FROM b GROUP BY 1),
      grid AS (SELECT u.user_id, g.bk
               FROM (SELECT DISTINCT user_id FROM b) u,
                    (SELECT unnest(range(10)) AS bk) g),
      j AS (SELECT grid.user_id, grid.bk, b.sv, m.mx
            FROM grid LEFT JOIN b ON b.user_id = grid.user_id AND b.bk = grid.bk
            JOIN m ON m.user_id = grid.user_id)
      SELECT user_id,
             string_agg(CASE WHEN sv IS NULL OR sv <= 0 OR mx <= 0 THEN ' '
                             ELSE substring('▁▂▃▄▅▆▇█',
                               CAST(least(8, ceil(sv * 8.0 / mx)) AS INT), 1)
                        END, '' ORDER BY bk) AS sparkbar
      FROM j GROUP BY user_id ORDER BY user_id""",
    // 2-feature normal equations in closed form (centered second moments).
    "e50_linreg_fit" -> """
      WITH d AS (SELECT CAST(hour(ts) AS DOUBLE) AS x1,
                        CAST(user_id % 10 AS DOUBLE) AS x2,
                        value AS y
                 FROM events),
      s AS (SELECT covar_pop(x1, x1) AS c11, covar_pop(x1, x2) AS c12,
                   covar_pop(x2, x2) AS c22, covar_pop(x1, y) AS c1y,
                   covar_pop(x2, y) AS c2y,
                   avg(x1) AS m1, avg(x2) AS m2, avg(y) AS my
            FROM d),
      w AS (SELECT (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS w1,
                   (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS w2,
                   m1, m2, my
            FROM s)
      SELECT round(w1, 6) AS w1, round(w2, 6) AS w2,
             round(my - w1 * m1 - w2 * m2, 6) AS intercept
      FROM w""",
    "e51_logreg_gd" -> logregGdOracle,
  )

  /** DuckDB replay of e51's full-batch logistic GD: 30 unrolled
    * aggregate-CTE steps (w{i} → gradient over `data` → w{i+1}),
    * weights rounded to 4 dp before the shared accuracy pass — the same
    * two-stage contract as the Spark side, so every output cell is
    * deterministic in both systems. Every CTE is MATERIALIZED: inlined,
    * the w-chain re-expands each predecessor per reference and the
    * query tree grows exponentially.
    */
  private def logregGdOracle: String = {
    def sig(w: String) =
      s"(1.0/(1.0+exp(-((SELECT w1 FROM $w)*x1+(SELECT w2 FROM $w)*x2+(SELECT b FROM $w)))) - y)"
    val steps = (0 until 30).map { i =>
      s"""g$i AS MATERIALIZED (SELECT sum(${sig(s"w$i")}*x1) AS g1,
                        sum(${sig(s"w$i")}*x2) AS g2,
                        sum(${sig(s"w$i")}) AS gb FROM data),
      w${i + 1} AS MATERIALIZED (SELECT
        (SELECT w1 FROM w$i) - (SELECT g1 FROM g$i)/(SELECT n FROM nn) AS w1,
        (SELECT w2 FROM w$i) - (SELECT g2 FROM g$i)/(SELECT n FROM nn) AS w2,
        (SELECT b FROM w$i) - (SELECT gb FROM g$i)/(SELECT n FROM nn) AS b)"""
    }.mkString(",\n      ")
    s"""
      WITH data AS MATERIALIZED (SELECT CAST(hour(ts) AS DOUBLE) / 23.0 AS x1,
                           CAST(user_id % 10 AS DOUBLE) / 9.0 AS x2,
                           CASE WHEN value > 10 THEN 1.0 ELSE 0.0 END AS y
                    FROM events),
      nn AS MATERIALIZED (SELECT CAST(count(1) AS DOUBLE) AS n FROM data),
      w0 AS MATERIALIZED (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b),
      $steps,
      wr AS MATERIALIZED (SELECT round(w1, 4) AS w1, round(w2, 4) AS w2,
                    round(b, 4) AS b FROM w30)
      SELECT (SELECT w1 FROM wr) AS w1, (SELECT w2 FROM wr) AS w2,
             (SELECT b FROM wr) AS intercept,
             round(avg(CASE WHEN (CASE WHEN
                 (SELECT w1 FROM wr)*x1 + (SELECT w2 FROM wr)*x2 +
                 (SELECT b FROM wr) > 0 THEN 1.0 ELSE 0.0 END) = y
               THEN 1.0 ELSE 0.0 END), 4) AS accuracy
      FROM data"""
  }
}
