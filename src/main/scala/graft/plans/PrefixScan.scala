package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** A running aggregate over rows in `order`, as one plan node: the
  * two-pass prefix scan of "Building Advanced SQL Analytics From
  * Low-Level Plan Operators" (SIGMOD 2021). The rows are range-partitioned
  * and sorted on `order` once; pass 1 reduces each partition to its
  * totals, pass 2 emits every row with a local running value plus the
  * exclusive prefix of the earlier partitions' totals.
  *
  *  - unkeyed (`keyed = false`): `emitted` is `__cum_<c>` for each of
  *    `sums`, then `__tot_<c>`; doubles, the running sum including the
  *    current row and the grand total.
  *  - keyed (`keyed = true`, `order.head` is the key): `emitted` is one
  *    `__rank` long, the 1-based row number within the key. Pass 1 counts
  *    rows per (partition, key) run and is capped at [[MaxKeyGroups]]
  *    groups.
  */
case class PrefixScan(
    order: Seq[SortOrder],
    keyed: Boolean,
    sums: Seq[Attribute],
    emitted: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ emitted
  override def producedAttributes: AttributeSet = AttributeSet(emitted)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixScan =
    copy(child = newChild)
}

object PrefixScan {

  /** Most (partition, key) groups a keyed scan accepts: the key must be
    * dictionary-sized (a language, a source), not a document id.
    */
  val MaxKeyGroups = 1000000

  /** Reads a numeric column widened to double — the same value `CAST(c AS
    * DOUBLE)` gives. Throws for a non-numeric type.
    */
  def doubleGetter(ordinal: Int, dt: DataType): InternalRow => Double = dt match {
    case DoubleType => r => r.getDouble(ordinal)
    case FloatType => r => r.getFloat(ordinal).toDouble
    case LongType => r => r.getLong(ordinal).toDouble
    case IntegerType => r => r.getInt(ordinal).toDouble
    case ShortType => r => r.getShort(ordinal).toDouble
    case ByteType => r => r.getByte(ordinal).toDouble
    case d: DecimalType => r => r.getDecimal(ordinal, d.precision, d.scale).toDouble
    case other => throw new IllegalArgumentException(
      s"partitionedRunningSum over non-numeric column type $other")
  }
}

/** Plans [[PrefixScan]]; [[graft.engine.GraftSession.install]] registers it. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PrefixScan =>
      PrefixScanExec(p.order, p.keyed, p.sums, p.emitted, planLater(p.child)) :: Nil
    case _ => Nil
  }

  def setup(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(this)) ex.extraStrategies = this +: ex.extraStrategies
  }
}

/** Physical [[PrefixScan]]. `EnsureRequirements` puts the range exchange
  * and the sort below it, so AQE runs them as ordinary stages; both passes
  * read the one child RDD. Arithmetic: each partition accumulates from 0.0
  * in row order and adds its exclusive offset, the offsets being a prefix
  * over partition totals in partition order.
  */
case class PrefixScanExec(
    order: Seq[SortOrder],
    keyed: Boolean,
    sums: Seq[Attribute],
    emitted: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ emitted
  override def producedAttributes: AttributeSet = AttributeSet(emitted)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPartitions" -> SQLMetrics.createMetric(sparkContext, "number of partitions"),
    "totalsTime" -> SQLMetrics.createTimingMetric(sparkContext, "time in totals pass"))

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixScanExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    val start = System.nanoTime()
    val emit = if (keyed) rankRows(input) else sumRows(input)
    longMetric("totalsTime").set((System.nanoTime() - start) / 1000000)
    longMetric("numPartitions").set(input.getNumPartitions)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(longMetric("totalsTime"), longMetric("numPartitions")))
    emit
  }

  /** Pass 2 over `input`: `fill(partition)` returns the per-row function
    * that writes the emitted values of a row into the extra row.
    */
  private def withEmitted(
      input: RDD[InternalRow],
      fill: Int => (InternalRow, InternalRow) => Unit): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val out = output
    val width = emitted.length
    input.mapPartitionsWithIndex { (p, rows) =>
      val set = fill(p)
      val extra = new GenericInternalRow(width)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(out, out)
      rows.map { r =>
        set(r, extra)
        numOutputRows += 1
        proj(joined(r, extra)): InternalRow
      }
    }
  }

  private def sumRows(input: RDD[InternalRow]): RDD[InternalRow] = {
    val ordinals = sums.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val getters = sums.zip(ordinals)
      .map { case (a, o) => PrefixScan.doubleGetter(o, a.dataType) }.toArray
    val n = ordinals.length
    val accumulate = (r: InternalRow, acc: Array[Double]) => {
      var i = 0
      while (i < n) {
        if (!r.isNullAt(ordinals(i))) acc(i) += getters(i)(r)
        i += 1
      }
    }
    val totals = sparkContext.runJob(input, (rows: Iterator[InternalRow]) => {
      val acc = new Array[Double](n)
      rows.foreach(accumulate(_, acc))
      acc
    })
    val running = new Array[Double](n)
    val offsets = totals.map { t =>
      val off = running.clone()
      var i = 0
      while (i < n) { running(i) += t(i); i += 1 }
      off
    }
    val grand = running
    withEmitted(input, p => {
      val off = offsets(p)
      val acc = new Array[Double](n)
      (r, extra) => {
        accumulate(r, acc)
        var i = 0
        while (i < n) {
          extra.setDouble(i, acc(i) + off(i))
          extra.setDouble(n + i, grand(i))
          i += 1
        }
      }
    })
  }

  private def rankRows(input: RDD[InternalRow]): RDD[InternalRow] = {
    val key = BindReferences.bindReference(order.head.child, child.output)
    val cap = PrefixScan.MaxKeyGroups
    // per partition, the (key, row count) of each run of equal keys in
    // sort order; a partition stops after cap + 1 runs, which already
    // fails the check below
    val runs = sparkContext.runJob(input, (rows: Iterator[InternalRow]) => {
      val out = mutable.ArrayBuffer.empty[(Any, Long)]
      var cur: Any = null
      var n = 0L
      while (rows.hasNext && out.length <= cap) {
        val k = key.eval(rows.next())
        if (n == 0L || k != cur) {
          if (n > 0L) out += (cur -> n)
          cur = InternalRow.copyValue(k)
          n = 0L
        }
        n += 1
      }
      if (n > 0L) out += (cur -> n)
      out.toArray
    })
    require(runs.iterator.map(_.length.toLong).sum <= cap,
      s"keyedRank requires a bounded-cardinality key (dictionary-sized, " +
        s"e.g. language/source): got more than $cap (partition, key) " +
        "groups — was a document id passed as the key?")
    val running = mutable.HashMap.empty[Any, Long]
    val offsets = runs.map { partRuns =>
      partRuns.map { case (k, c) =>
        val off = running.getOrElse(k, 0L)
        running(k) = off + c
        k -> off
      }.toMap
    }
    withEmitted(input, p => {
      val off = offsets(p)
      var cur: Any = null
      var started = false
      var rank = 0L
      (r, extra) => {
        val k = key.eval(r)
        if (!started || k != cur) {
          cur = InternalRow.copyValue(k)
          rank = off.getOrElse(cur, 0L)
          started = true
        }
        rank += 1
        extra.setLong(0, rank)
      }
    })
  }
}
