package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ClickHouse relational operators Spark lacks as first-class syntax:
  * `LIMIT n BY cols` and `ORDER BY ... WITH FILL`.
  */
object RelationalOps {

  /** `LIMIT n BY cols` (reference `/root/reference/src/Processors/
    * QueryPlan/LimitByStep.cpp`): first n rows per group in the given
    * order. Window + row_number — one shuffle on the group key.
    */
  def limitBy(df: DataFrame, n: Int, by: Seq[Column], order: Seq[Column]): DataFrame =
    limitByOffset(df, 0, n, by, order)

  /** `LIMIT offset, n BY cols` — the reference's per-group pagination
    * form (`LimitByStep.cpp`): skip `offset` rows per group, keep `n`.
    */
  def limitByOffset(
      df: DataFrame, offset: Int, n: Int,
      by: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(by: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > offset && col("__rn") <= offset + n)
      .drop("__rn")
  }

  /** `ORDER BY key WITH FILL FROM f TO t STEP s` over a date key
    * (reference `/root/reference/src/Processors/Transforms/
    * FillingTransform.cpp`): generate the dense series, OUTER-join the
    * data, fill value columns with a default.
    *
    * Reference parity: `toExclusive` is NOT included (FillingTransform's
    * TO bound is exclusive), and original rows OUTSIDE `[from,
    * toExclusive)` are preserved — WITH FILL only inserts rows, it never
    * drops data.
    *
    * Plan shape: a full-outer join here would force a sort-merge join
    * (Spark cannot broadcast either side of full-outer), shuffling the
    * data on the fill key just to meet a few hundred generated rows.
    * Instead: UNION the data with the series keys it lacks. The
    * missing-key set comes from a broadcast LEFT ANTI join of the series
    * against the data's in-window keys — both sides bounded by the
    * series length, so the data itself never reshuffles.
    */
  def withFillDays(
      df: DataFrame,
      dateCol: String,
      from: java.sql.Date,
      toExclusive: java.sql.Date,
      fillDefaults: Seq[(String, Column)]): DataFrame = {
    val spark = df.sparkSession
    val lastDay = java.sql.Date.valueOf(toExclusive.toLocalDate.minusDays(1))
    val series = spark
      .range(1)
      .select(explode(sequence(
        lit(from), lit(lastDay), expr("interval 1 day"))).as(dateCol))
    fillMissing(df, dateCol, series,
      col(dateCol).between(lit(from), lit(lastDay)), fillDefaults)
  }

  /** Shared tail of the WITH FILL helpers: append the series keys absent
    * from `df` (checked only inside the fill window — the anti join's
    * build side is bounded by the series length and broadcast), then
    * apply fill defaults. Original rows, including out-of-window ones,
    * pass through untouched.
    */
  private def fillMissing(
      df: DataFrame,
      keyCol: String,
      series: DataFrame,
      inWindow: Column,
      fillDefaults: Seq[(String, Column)]): DataFrame = {
    val keyType = df.schema(keyCol).dataType
    val typedSeries = series.select(col(keyCol).cast(keyType).as(keyCol))
    // distinct so the broadcast build side is bounded by the number of
    // distinct in-window keys (≤ series length), not the data's row count.
    val present = df.select(col(keyCol)).filter(inWindow).distinct()
    val missing = typedSeries.join(broadcast(present), Seq(keyCol), "left_anti")
    val unioned = df.unionByName(missing, allowMissingColumns = true)
    fillDefaults.foldLeft(unioned) { case (d, (name, default)) =>
      d.withColumn(name, coalesce(col(name), default))
    }
  }

  /** `ORDER BY key WITH FILL FROM f TO t STEP s` over a NUMERIC key —
    * the general FillingTransform shape: dense series from `sequence`,
    * missing keys appended via broadcast anti join (original rows outside
    * the window survive), defaults. `toExclusive` is not included,
    * matching the reference's TO bound.
    */
  def withFillStep(
      df: DataFrame,
      keyCol: String,
      from: Long, toExclusive: Long, step: Long,
      fillDefaults: Seq[(String, Column)]): DataFrame = {
    require(step > 0, s"WITH FILL STEP must be positive, got $step")
    val spark = df.sparkSession
    val last = from + ((toExclusive - 1 - from) / step) * step
    val series = spark.range(1)
      .select(explode(sequence(lit(from), lit(last), lit(step))).as(keyCol))
    fillMissing(df, keyCol, series,
      col(keyCol).between(lit(from), lit(last)), fillDefaults)
  }

  /** `WITH FILL ... INTERPOLATE (col AS expr-of-prev)` — linear carry:
    * missing rows take the previous present value (the reference's
    * default interpolate carries the last value forward).
    *
    * The global window here is intentional: the input is the GENERATED
    * fill series (one row per step — thousands at most), not a data
    * table. For data-sized running passes use [[partitionedRunningSum]].
    */
  def interpolateLastOver(df: DataFrame, orderCol: Column, cols: Seq[String]): DataFrame = {
    val w = Window.orderBy(orderCol).rowsBetween(Window.unboundedPreceding, 0)
    cols.foldLeft(df) { case (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Skew-resistant equi-join: the skewed (left) side gets a random salt
    * in [0, saltFactor); the right side is replicated saltFactor times —
    * hot keys spread over saltFactor reducers instead of one straggler
    * (AQE's skew-join handles sort-merge cases at runtime; salting is the
    * explicit tool when a key is pathologically hot or the join is
    * shuffled-hash).
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      saltFactor: Int = 8,
      joinType: String = "inner"): DataFrame = {
    // Replicating the right side saltFactor times would emit unmatched
    // RIGHT rows saltFactor times under right/full joins — semantics only
    // hold for left-preserving join types.
    val allowed = Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross")
    require(allowed.contains(joinType.toLowerCase.replace(" ", "_")),
      s"saltedJoin supports left-preserving join types only, got '$joinType'")
    val saltedLeft = left
      .withColumn("__salt", (rand(42) * saltFactor).cast("int"))
    val saltedRight = right
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedLeft
      .join(saltedRight,
        leftKey === rightKey && saltedLeft("__salt") === saltedRight("__salt"),
        joinType)
      .drop("__salt")
  }

  /** `dictGet('dict', 'attr', key)` (reference `src/Dictionaries/`):
    * a small dimension collected once and broadcast as a literal map —
    * the flat/hashed dictionary layout. For dictionaries too big to
    * collect, use a broadcast join instead (same plan the reference's
    * direct join produces).
    */
  def dictGet(dict: DataFrame, keyCol: String, valueCol: String)(key: Column): Column = {
    val entries = dict.select(col(keyCol).cast("long"), col(valueCol)).collect()
    val pairs = entries.flatMap(r => Seq(lit(r.get(0)), lit(r.get(1))))
    element_at(map(pairs.toIndexedSeq: _*), key.cast("long"))
  }

  /** `dictGetOrDefault('dict', 'attr', key, default)` — like [[dictGet]]
    * but missing keys yield the (per-row) default instead of NULL.
    */
  def dictGetOrDefault(dict: DataFrame, keyCol: String, valueCol: String)(
      key: Column, default: Column): Column =
    coalesce(dictGet(dict, keyCol, valueCol)(key), default)

  /** `dictHas('dict', key)` — key membership in the dictionary. Shares
    * [[dictGet]]'s broadcast map-literal layout (constant-folded into ONE
    * MapType literal) instead of an N-ary `isin` expression tree; the
    * same too-big-to-collect caveat as dictGet applies — use a broadcast
    * left-semi join for dictionaries beyond driver memory.
    */
  def dictHas(dict: DataFrame, keyCol: String)(key: Column): Column = {
    val keys = dict.select(col(keyCol).cast("long")).collect().map(_.getLong(0))
    if (keys.isEmpty) lit(false)
    else {
      val pairs = keys.flatMap(k => Seq(lit(k), lit(true)))
      coalesce(
        element_at(map(pairs.toIndexedSeq: _*), key.cast("long")), lit(false))
    }
  }

  /** `GROUP BY ... WITH TOTALS` (reference `TotalsHavingStep.cpp`):
    * grand-total row appended with null group keys — expressed as
    * ROLLUP restricted to (full, grand-total) grouping sets.
    */
  def withTotals(
      df: DataFrame,
      groupCols: Seq[String],
      aggs: Seq[Column]): DataFrame = {
    val full = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val total = df.groupBy().agg(aggs.head, aggs.tail: _*)
    val totalWithKeys = groupCols.foldLeft(total) { case (d, c) =>
      d.withColumn(c, lit(null))
    }
    full.unionByName(totalWithKeys.select(full.columns.map(col): _*))
  }

  /** ReplacingMergeTree `FINAL` semantics
    * (`/root/reference/src/Storages/MergeTree/ReplacingSortedAlgorithm.cpp`):
    * keep only the row with the greatest version per sorting key. One
    * window shuffle on the key — the read-time analog of the merge-time
    * replacement.
    */
  def replacingFinal(
      df: DataFrame, keys: Seq[Column], version: Column): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(version.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** `ANY LEFT JOIN` (reference join strictness `any`,
    * `src/Interpreters/TableJoin.h`): at most one right-side match per
    * key. The reference keeps an arbitrary match; here `tieBreak` picks a
    * deterministic one (smallest first) so results are reproducible.
    */
  def anyLeftJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tieBreak)
    val dedup = right.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    left.join(dedup, keys, "left")
  }

  /** VersionedCollapsingMergeTree `FINAL`
    * (`src/Storages/MergeTree/VersionedCollapsingSortedAlgorithm.cpp`):
    * rows carry `sign` ∈ {+1, -1}; a -1 row cancels the +1 row with the
    * same (key, version). FINAL keeps the +1 rows whose (key, version)
    * net sign is positive. One aggregation shuffle on (key, version).
    */
  def versionedCollapse(
      df: DataFrame, keys: Seq[Column], sign: Column,
      version: Column): DataFrame = {
    val net = df.groupBy((keys :+ version).map(c => c): _*)
      .agg(sum(sign).as("__net"))
      .filter(col("__net") > 0).drop("__net")
    df.filter(sign > 0).join(net, df.columns.intersect(
      net.columns).toSeq, "left_semi")
  }

  /** CollapsingMergeTree FINAL WITHOUT a version column
    * (`CollapsingSortedAlgorithm.cpp`): +1/-1 rows for the same key cancel
    * pairwise in insertion order; FINAL keeps the LAST +1 row of keys
    * whose net sign is positive. `order` supplies the insertion order the
    * reference gets from part/row position (any monotonic id column).
    * One aggregation shuffle on the key + a key-joined semi filter — no
    * per-key windows over the full table.
    */
  def collapsingFinal(
      df: DataFrame, keys: Seq[Column], sign: Column,
      order: Column): DataFrame = {
    val net = df.groupBy(keys: _*)
      .agg(sum(sign).as("__net"),
        max(when(sign > 0, order)).as("__last_ord"))
      .filter(col("__net") > 0)
      .drop("__net")
    val lhs = df.filter(sign > 0).withColumn("__last_ord", order)
    lhs.join(net, lhs.columns.intersect(net.columns).toSeq, "left_semi")
      .drop("__last_ord")
  }

  /** Distributed running (prefix) sums in `orderCol` order — the classic
    * two-phase scan: range-partition by the key, cumulate locally inside
    * each sorted partition, then add the broadcast prefix of the
    * per-partition totals (one bounded collect of #partitions rows).
    * A `Window.orderBy` without partitions collapses to a SINGLE task in
    * Spark — this is the shape that replaces it at scale; output values
    * are identical when `orderCol` is unique per row (ties would make
    * per-row prefixes order-dependent in both formulations).
    *
    * Emits `__cum_<col>` (running sum INCLUDING the current row) and
    * `__tot_<col>` (grand total) for each requested column.
    */
  def partitionedRunningSum(
      df: DataFrame, orderCol: String, sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.types._
    val ranged = df.repartitionByRange(col(orderCol))
      .sortWithinPartitions(col(orderCol))
    val withPidSchema = StructType(df.schema.fields.toSeq
      ++ sumCols.map(c => StructField(s"__cum_$c", DoubleType))
      :+ StructField("__pid", IntegerType))
    val idxs = sumCols.map(df.schema.fieldIndex).toArray
    // r22 (guide §1.2 — per-task work): the cumulate pass stays in
    // Spark's INTERNAL row format. The r21 form rebuilt an external Row
    // per input row (r.toSeq ++ acc.toSeq) and pushed it back through an
    // ExpressionEncoder — a serialize/deserialize round-trip that was the
    // dominant constant cost of all 7 consumers (e34/e35/e37/e39/e60/
    // p01/q06). Values are bit-identical: same widening-to-double
    // semantics, same per-partition addition order.
    val getters: Array[InternalRow => Double] =
      idxs.map { ix =>
        df.schema.fields(ix).dataType match {
          case DoubleType => (r: InternalRow) => r.getDouble(ix)
          case FloatType => (r: InternalRow) => r.getFloat(ix).toDouble
          case LongType => (r: InternalRow) => r.getLong(ix).toDouble
          case IntegerType => (r: InternalRow) => r.getInt(ix).toDouble
          case ShortType => (r: InternalRow) => r.getShort(ix).toDouble
          case ByteType => (r: InternalRow) => r.getByte(ix).toDouble
          case dt: DecimalType =>
            (r: InternalRow) => r.getDecimal(ix, dt.precision, dt.scale).toDouble
          case dt => throw new IllegalArgumentException(
            s"partitionedRunningSum over non-numeric column type $dt")
        }
      }
    val rdd = ranged.queryExecution.toRdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val acc = new Array[Double](idxs.length)
      val proj = UnsafeProjection.create(withPidSchema)
      val joined = new JoinedRow
      rows.map { r =>
        val extra = new Array[Any](idxs.length + 1)
        var i = 0
        while (i < idxs.length) {
          if (!r.isNullAt(idxs(i))) acc(i) += getters(i)(r)
          extra(i) = acc(i)
          i += 1
        }
        extra(idxs.length) = pid
        proj(joined(r, new GenericInternalRow(extra))): InternalRow
      }
    }
    val local = org.apache.spark.sql.graft.shim
      .internalDf(df.sparkSession, rdd, withPidSchema)
      .persist() // read once for totals, once for the final pass
    // Phase 2: per-partition totals — ONE ROW PER PARTITION (bounded
    // driver collect), turned into exclusive prefix offsets.
    // (r21 note: an in-plan variant — windowed totals + broadcast join,
    // bit-identical values — was built and REVERTED: every consumer
    // query regressed 0.3–0.7 s in the full bench; the bounded collect
    // plus literal offsets is the faster form as measured.)
    val aggExprs = sumCols.map(c => sum(col(c).cast("double")).as(c))
    val perPart = local.groupBy(col("__pid"))
      .agg(aggExprs.head, aggExprs.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> sumCols.map(c => r.getAs[Double](c)).toArray)
      .sortBy(_._1)
    val offsets = scala.collection.mutable.Map.empty[Int, Array[Double]]
    val running = new Array[Double](sumCols.length)
    perPart.foreach { case (pid, tots) =>
      offsets(pid) = running.clone()
      var i = 0
      while (i < running.length) { running(i) += tots(i); i += 1 }
    }
    val grand = running
    // Phase 3: add each partition's offset (broadcast literal map) and
    // expose grand totals as literals.
    val withCums = sumCols.zipWithIndex.foldLeft(local) { case (d, (c, i)) =>
      val offMap = typedLit(offsets.map { case (pid, arr) => pid -> arr(i) }.toMap)
      d.withColumn(s"__cum_$c",
          col(s"__cum_$c") + coalesce(element_at(offMap, col("__pid")), lit(0.0)))
        .withColumn(s"__tot_$c", lit(grand(i)))
    }
    withCums.drop("__pid")
  }

  /** Distributed rank within a BOUNDED-cardinality key (languages,
    * sources — dictionary-sized), in `orderCols` order: the keyed twin
    * of [[partitionedRunningSum]]. A `Window.partitionBy(key)` puts each
    * key's ENTIRE population into one task — the skew funnel that
    * collapses on the head language at 100 TB; here rows range-partition
    * by (key, order...), a map pass assigns local ranks, per-(partition,
    * key) counts collect to the driver (bounded: partitions × keys),
    * and the exclusive prefix joins back as a broadcast offset table.
    *
    * Adds `__rank` (1-based within key). Make `orderCols` a TOTAL order
    * (unique tiebreak) or ranks depend on partition-internal arrival.
    */
  def keyedRank(df: DataFrame, keyCol: String, orderCols: Seq[Column]): DataFrame = {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val sortCols = col(keyCol) +: orderCols
    val ranged = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val withRankSchema = StructType(df.schema.fields.toSeq
      :+ StructField("__local_rank", LongType)
      :+ StructField("__pid", IntegerType))
    val keyIdx = df.schema.fieldIndex(keyCol)
    val keyType = df.schema.fields(keyIdx).dataType
    // r22: same InternalRow treatment as partitionedRunningSum — the
    // local-rank pass no longer round-trips rows through an external Row
    // + ExpressionEncoder. curKey copies the key value (an UnsafeRow's
    // UTF8String points into the reused row buffer); equality semantics
    // match the external form.
    val rdd = ranged.queryExecution.toRdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val proj = UnsafeProjection.create(withRankSchema)
      val joined = new JoinedRow
      var curKey: Any = null; var started = false; var n = 0L
      rows.map { r =>
        val k = r.get(keyIdx, keyType)
        if (!started || k != curKey) {
          curKey = InternalRow.copyValue(k); n = 0L; started = true
        }
        n += 1
        val extra = new Array[Any](2)
        extra(0) = n; extra(1) = pid
        proj(joined(r, new GenericInternalRow(extra))): InternalRow
      }
    }
    val local = org.apache.spark.sql.graft.shim
      .internalDf(df.sparkSession, rdd, withRankSchema)
      .persist() // read once for the count pass, once for the join
    try {
      // Per-(partition, key) counts — bounded collect by the
      // key-cardinality contract, ENFORCED: take(cap+1) streams at most
      // cap+1 rows to the driver (no silent OOM on a mistaken
      // high-cardinality key), then fails loudly.
      val cap = 1000000
      val perPartRows = local.groupBy(col("__pid"), col(keyCol))
        .agg(max(col("__local_rank")).as("__cnt"))
        .take(cap + 1)
      require(perPartRows.length <= cap,
        s"keyedRank requires a bounded-cardinality key (dictionary-sized, " +
          s"e.g. language/source): got more than $cap (partition, key) " +
          "groups — was a document id passed as the key?")
      val perPart = perPartRows.map(r => (r.getInt(0), r.get(1), r.getLong(2)))
      val offRows = perPart.groupBy(_._2).toSeq.flatMap { case (_, parts) =>
        var running = 0L
        parts.sortBy(_._1).map { case (pid, k, cnt) =>
          val off = running; running += cnt; Row(pid, k, off)
        }
      }
      val spark = df.sparkSession
      val offSchema = StructType(Seq(
        StructField("__opid", IntegerType),
        StructField("__okey", df.schema(keyIdx).dataType),
        StructField("__ooff", LongType)))
      val offDf = spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(offRows).asJava, offSchema)
      local.join(broadcast(offDf),
          col("__pid") === col("__opid") && col(keyCol) <=> col("__okey"), "left")
        .withColumn("__rank",
          col("__local_rank") + coalesce(col("__ooff"), lit(0L)))
        .drop("__local_rank", "__pid", "__opid", "__okey", "__ooff")
    } catch {
      case t: Throwable => local.unpersist(blocking = false); throw t
    }
    // the local-rank cache stays live with the returned (lazy) frame —
    // the partitionedRunningSum posture: a live plan (plans/headline/
    // t21_ppl_buckets_plan.txt shows the real tree through
    // InMemoryRelation) over an eager checkpoint that
    // would collapse it to an opaque RDD scan; rows are slim (input
    // columns + one long)
  }

  /** SummingMergeTree FINAL (`SummingSortedAlgorithm.cpp`): rows with the
    * same key collapse to one row with the numeric columns summed; other
    * columns take an arbitrary surviving value (we pick min for
    * determinism). Plain partial→final hash agg — the read-time semantics
    * of the engine family map 1:1 onto groupBy.
    */
  def summingFinal(
      df: DataFrame, keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(c => keys.contains(c) || sumCols.contains(c))
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++ others.map(c => min(col(c)).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col): _*)
  }

  /** `SAMPLE num/den` clause (reference sampling-key read path,
    * `InterpreterSelectQuery` sampling over `intHash32(key)` ranges):
    * keep rows whose key's multiplicative hash lands in the first
    * num/den of the 32-bit hash space. Deterministic and STABLE — the
    * same rows survive in every query (unlike `rand()` sampling), so
    * sampled aggregates are repeatable and two tables sampled on the
    * same key keep matching rows together. Pure filter → pushes to the
    * scan; no shuffle. Keys must fit |key| < 2^33 so the Knuth-constant
    * product stays inside BIGINT (true for every key column here).
    */
  def sampleByKey(df: DataFrame, key: Column, num: Long, den: Long): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, s"bad sample fraction $num/$den")
    val h = pmod(key.cast("long") * lit(2654435761L), lit(1L << 32))
    df.filter(h * den < num * (1L << 32))
  }

  /** Lightweight `ALTER TABLE ... UPDATE` mutation
    * (`src/Interpreters/MutationsInterpreter.cpp`): rewrite matching rows
    * column-wise; non-matching rows pass through. Immutable-file
    * semantics — the result is a new DataFrame, like the reference
    * writing a mutated part.
    */
  def update(
      df: DataFrame, cond: Column,
      assignments: Seq[(String, Column)]): DataFrame =
    assignments.foldLeft(df) { case (d, (name, value)) =>
      d.withColumn(name, when(cond, value).otherwise(col(name)))
    }
}
