package graftbench

import scala.util.Random

/** Seeded inputs: a clustered vector corpus, held-out query vectors and
  * exact nearest neighbours computed on the driver.
  */
final class VectorCorpus(seed: Long, val n: Int, val dim: Int, clusters: Int,
    spread: Float) {
  private val rng = new Random(seed)
  private val centers = Array.fill(clusters, dim)(rng.nextGaussian().toFloat)
  private def point(r: Random): Array[Float] = {
    val c = centers(r.nextInt(clusters))
    Array.tabulate(dim)(j => c(j) + spread * r.nextGaussian().toFloat)
  }
  val vectors: Array[Array[Float]] = Array.fill(n)(point(rng))

  /** Held-out points of the same distribution, perturbed: never in the corpus. */
  def queries(count: Int, salt: Long): Array[Array[Float]] = {
    val r = new Random(seed * 31 + salt)
    Array.fill(count) {
      val p = point(r)
      p.map(x => x + 0.05f * spread * r.nextGaussian().toFloat)
    }
  }

  /** Fresh rows for appends, from a stream of their own. */
  def batch(count: Int, salt: Long): Array[Array[Float]] = {
    val r = new Random(seed * 131 + salt)
    Array.fill(count)(point(r))
  }
}

object Exact {
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j); s += d * d; j += 1 }
    math.sqrt(s)
  }

  /** Exact top-k ids (ascending L2, ties on the lower id) and their distances. */
  def topK(vectors: Array[Array[Float]], ids: Long => Long, q: Array[Float],
      k: Int): Seq[(Long, Double)] =
    vectors.indices.iterator.map(i => (ids(i), l2(vectors(i), q))).toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** Whether `got` is a correct exact top-k: every id outside the exact
    * set must tie the k-th exact distance within float rounding.
    */
  def matches(got: Seq[Long], exact: Seq[(Long, Double)], dist: Long => Double): Boolean =
    got.length == exact.length && {
      val kth = exact.last._2
      val want = exact.map(_._1).toSet
      got.forall(id => want.contains(id) || dist(id) <= kth * (1 + 1e-5) + 1e-6)
    }
}

/** Text requests drawn from the documents' own vocabulary with Zipf
  * weights over document frequency.
  */
final class ZipfTerms(docs: Seq[String], seed: Long) {
  val vocab: IndexedSeq[String] = docs
    .flatMap(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct)
    .groupBy(identity).view.mapValues(_.size).toSeq
    .sortBy { case (t, df) => (-df, t) }.map(_._1).toIndexedSeq
  private val cum = vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail
  private val rng = new Random(seed)
  private def draw(): String = {
    val u = rng.nextDouble() * cum.last
    vocab(cum.indexWhere(_ >= u))
  }
  /** A query of two distinct terms, so requests cost alike across seeds. */
  def query(): String = {
    val first = draw()
    Iterator.continually(draw()).find(_ != first).map(t => s"$first $t").get
  }
}
