package graft

import scala.util.Random

import graft.functions.{Aggregates, VectorKernels}
import graft.functions.Aggregates.SeqPattern

/** Randomized (seeded, deterministic) property checks for the
  * algorithmic cores: the pattern matcher against a brute-force
  * reference, the compact event buffer against plain lists, and the
  * quantization kernels' error bounds.
  */
class PropertySpec extends SparkSpec {

  private val Trials = 300

  private def randomEvents(rnd: Random, n: Int): Array[(Double, Int)] =
    Array.fill(n)((math.floor(rnd.nextDouble() * 40), 1 + rnd.nextInt(3)))
      .sortBy(e => (e._1, e._2))

  /** Naive reference: subsequence-with-gaps exists (pattern (?1).*(?2)...). */
  private def naiveGapMatch(events: Array[(Double, Int)], conds: Seq[Int]): Boolean = {
    def rec(ei: Int, ci: Int): Boolean =
      if (ci == conds.length) true
      else if (ei >= events.length) false
      else if ((events(ei)._2 & (1 << conds(ci))) != 0 && rec(ei + 1, ci + 1)) true
      else rec(ei + 1, ci)
    rec(0, 0)
  }

  test("SeqPattern gap patterns equal brute-force subsequence search") {
    val rnd = new Random(4242)
    val pat2 = SeqPattern.parse("(?1).*(?2)", 2)
    val pat3 = SeqPattern.parse("(?1).*(?2).*(?1)", 2)
    (1 to Trials).foreach { _ =>
      val evs = randomEvents(rnd, rnd.nextInt(14))
      assert(SeqPattern.matches(evs, pat2) === naiveGapMatch(evs, Seq(0, 1)),
        evs.mkString(","))
      assert(SeqPattern.matches(evs, pat3) === naiveGapMatch(evs, Seq(0, 1, 0)),
        evs.mkString(","))
    }
  }

  test("SeqPattern count: bounded by per-condition counts, greedy-consistent") {
    val rnd = new Random(99)
    val pat = SeqPattern.parse("(?1).*(?2)", 2)
    (1 to Trials).foreach { _ =>
      val evs = randomEvents(rnd, rnd.nextInt(16))
      val c = SeqPattern.count(evs, pat)
      val n1 = evs.count(e => (e._2 & 1) != 0)
      val n2 = evs.count(e => (e._2 & 2) != 0)
      assert(c <= math.min(n1, n2)) // each match consumes two distinct events
      if (c > 0) {
        // dropping the first full match decrements the count by exactly 1
        val end = SeqPattern.findMatch(evs, pat, 0)
        assert(SeqPattern.count(evs.drop(end + 1), pat) === c - 1)
      }
    }
  }

  test("EvBuffer append/merge/sorted equals plain list semantics") {
    val rnd = new Random(7)
    (1 to Trials).foreach { _ =>
      val chunks = List.fill(rnd.nextInt(5))(
        List.fill(rnd.nextInt(20))((rnd.nextDouble() * 50, rnd.nextInt(4))))
      val bufs = chunks.map(_.foldLeft(new Aggregates.EvBuffer()) {
        (b, e) => b.append(e._1, e._2)
      })
      val merged = bufs.foldLeft(new Aggregates.EvBuffer())(_ merge _)
      val expect = chunks.flatten.sortBy(e => (e._1, e._2))
      assert(merged.sorted.toSeq === expect)
    }
  }

  test("distance kernels: symmetry, identity, SQ reconstruction bound") {
    val rnd = new Random(13)
    (1 to Trials).foreach { _ =>
      val a = Array.fill(16)(rnd.nextFloat() * 20 - 10)
      val b = Array.fill(16)(rnd.nextFloat() * 20 - 10)
      assert(VectorKernels.l2sq(a, b) === VectorKernels.l2sq(b, a))
      assert(VectorKernels.l1(a, b) === VectorKernels.l1(b, a))
      assert(VectorKernels.l2sq(a, a) === 0f)
      assert(math.abs(VectorKernels.dot(a, b) - VectorKernels.dot(b, a)) < 1e-3)
      val mins = a.indices.map(j => math.min(a(j), b(j))).toArray
      val maxs = a.indices.map(j => math.max(a(j), b(j))).toArray
      val scale = mins.indices.map(j => (maxs(j) - mins(j)) / 255f).toArray
      val codes = VectorKernels.sqEncode(a, scale, mins)
      a.indices.foreach { j =>
        val deq = mins(j) + (codes(j) & 0xff) * scale(j)
        assert(math.abs(deq - a(j)) <= scale(j) / 2 + 1e-4, s"dim $j")
      }
    }
  }

  test("hamming: bitsToFloats L2sq identity for random byte vectors") {
    val rnd = new Random(21)
    (1 to Trials).foreach { _ =>
      val a = Array.fill(8)(rnd.nextInt(256).toByte)
      val b = Array.fill(8)(rnd.nextInt(256).toByte)
      val fa = graft.operators.BinaryHnswIndex.bitsToFloats(a)
      val fb = graft.operators.BinaryHnswIndex.bitsToFloats(b)
      assert(VectorKernels.l2sq(fa, fb) === VectorKernels.hammingBits(a, b))
    }
  }

  test("bitmap algebra: randomized set identities vs Scala sets") {
    import org.apache.spark.sql.functions._
    import graft.functions.{BitmapFunctions => B}
    import spark.implicits._
    val rnd = new Random(77)
    (1 to 20).foreach { _ =>
      val sa = Set.fill(rnd.nextInt(30) + 1)(rnd.nextInt(50).toLong)
      val sb = Set.fill(rnd.nextInt(30) + 1)(rnd.nextInt(50).toLong)
      val row = Seq((sa.toSeq, sb.toSeq)).toDF("a", "b")
        .select(
          B.bitmapAndCardinality(col("a"), col("b")).as("and"),
          B.bitmapOrCardinality(col("a"), col("b")).as("or"),
          B.bitmapXorCardinality(col("a"), col("b")).as("xor"),
          B.bitmapAndnotCardinality(col("a"), col("b")).as("andnot"))
        .head()
      assert(row.getLong(0) === (sa & sb).size.toLong)
      assert(row.getLong(1) === (sa | sb).size.toLong)
      assert(row.getLong(2) === ((sa | sb) -- (sa & sb)).size.toLong)
      assert(row.getLong(3) === (sa -- sb).size.toLong)
    }
  }

  test("collapsingFinal: randomized streams equal a sequential model") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new Random(55)
    (1 to 10).foreach { _ =>
      // random +1/-1 stream over few keys, ordered by ord
      val rows = (1 to 60).map { ord =>
        (s"k${rnd.nextInt(5)}", if (rnd.nextBoolean()) 1 else -1, ord.toLong, ord * 10)
      }
      // model: survivors = keys with positive net sign; value = last +1 row
      val expected = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val net = rs.map(_._2).sum
        if (net > 0) rs.filter(_._2 > 0).lastOption.map(r => k -> r._4) else None
      }
      val got = graft.operators.RelationalOps.collapsingFinal(
        rows.toDF("k", "sign", "ord", "v"),
        Seq(col("k")), col("sign"), col("ord"))
        .select("k", "v").as[(String, Int)].collect().toMap
      assert(got === expected)
    }
  }

  test("sampleByKey: deterministic, disjoint complement, unbiased-ish") {
    import org.apache.spark.sql.functions._
    val df = spark.range(20000).toDF("id")
    def ids(num: Long, den: Long): Set[Long] =
      graft.operators.RelationalOps.sampleByKey(df, col("id"), num, den)
        .collect().map(_.getLong(0)).toSet
    val s1 = ids(1, 10); val s2 = ids(1, 10)
    assert(s1 === s2) // stable
    assert(math.abs(s1.size - 2000) < 300, s"got ${s1.size}") // ~10%
    // nested fractions: the 5% sample is a subset of the 10% sample
    val s05 = ids(1, 20)
    assert(s05.subsetOf(s1))
    // full fraction = everything, zero fraction = nothing
    assert(ids(1, 1).size === 20000 && ids(0, 1).isEmpty)
  }

  test("partitionedRunningSum equals the window cumsum, without the single task") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    val rnd = new Random(17)
    val df = TestSpark.spark.createDataFrame(
      (1 to 5000).map(i => (i.toLong, rnd.nextDouble() * 100 - 20)))
      .toDF("k", "v").repartition(7)
    val got = graft.operators.RelationalOps
      .partitionedRunningSum(df, "k", Seq("v"))
      .select(col("k"), col("__cum_v"), col("__tot_v"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val expect = df
      .withColumn("c", sum(col("v")).over(W.orderBy(col("k"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("c")).toMap
    val tot = expect.values.max max expect(5000L)
    assert(got.keySet === expect.keySet)
    got.foreach { case (k, (c, t)) =>
      assert(math.abs(c - expect(k)) < 1e-6 * (1 + math.abs(expect(k))), s"k=$k")
      assert(math.abs(t - expect(5000L)) < 1e-6 * (1 + math.abs(tot)))
    }
    // the scale property: NOT a single-partition sort. The cumulate pass
    // is the PrefixScan plan node over a range exchange, so assert it is
    // there and that no Window / SinglePartition is anywhere in the plan.
    val out = graft.operators.RelationalOps
      .partitionedRunningSum(df, "k", Seq("v"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PrefixScan"), plan.take(600))
    assert(!plan.contains("SinglePartition"), plan.take(600))
    // (no partition-count assertion: AQE's byte-sized coalescing folds
    // this 80 KB input into one partition by design — scale-adaptive)
    assert(!plan.contains("Window"), plan.take(600))
  }

  test("PQ: ADC table distance equals distance to the dequantized vector") {
    val rnd = new Random(31)
    (1 to 50).foreach { _ =>
      val m = 4; val sub = 4
      val books = Array.fill(m)(Array.fill(16)(Array.fill(sub)(rnd.nextFloat() * 4 - 2)))
      val q = Array.fill(m * sub)(rnd.nextFloat() * 4 - 2)
      val v = Array.fill(m * sub)(rnd.nextFloat() * 4 - 2)
      val codes = graft.operators.PqIndex.encode(v, books)
      val table = graft.operators.PqIndex.adcTable(q, books, "l2")
      val deq = codes.zipWithIndex.flatMap { case (c, s) => books(s)(c & 0xff) }
      val expect = VectorKernels.l2sq(q, deq)
      assert(math.abs(VectorKernels.pqAdc(codes, table) - expect) < 1e-3)
    }
  }
}
