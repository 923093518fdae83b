package graftbench

import java.nio.file.{Files, Paths}

import org.json4s.{DefaultFormats, JObject, JString}
import org.json4s.jackson.JsonMethods

import graft.SparkEntry

/** `analytics` and `pipeline`: catalog queries from `SparkEntry.queries`
  * over the sf0.1 test data, one client. A round is `passes` passes over
  * the set, each in its own seed-shuffled order, so each query is timed
  * `passes` times. Each result is checked against its pinned digest.
  */
final class CatalogWorkload(kind: String, names: Seq[String], passes: Int, seed: Long,
    expected: Map[String, String]) extends Workload {
  val clients = 1
  private val rng = new scala.util.Random(seed)
  private val order = IndexedSeq.fill(passes)(rng.shuffle(names)).flatten

  def setup(b: Bench): Unit = {
    val missing = names.filterNot(expected.contains)
    require(missing.isEmpty, s"no pinned digest for ${missing.mkString(",")}")
  }

  private def run(b: Bench, name: String, window: String): Unit =
    b.timed(kind, name, window) {
      val df = b.tracer.span("queries.build")(SparkEntry.queries(name)(b.spark, b.args.data))
      b.collect(df)
    } { (rec, rows) =>
      rec.rows = rows._2.length
      val got = Digest.of(rows._1, rows._2)
      if (got != expected(name)) rec.fail(s"digest $got != pinned ${expected(name)}")
    }

  /** One untimed pass, run as the timed passes are. */
  def warmup(b: Bench): Unit = order.take(names.length).foreach(run(b, _, "warmup"))

  def op(b: Bench, i: Long, window: String): Unit =
    run(b, order((i % order.length).toInt), window)

  def round: Int = order.length

  def finish(b: Bench): Map[String, Any] = Map("queries" -> names.length, "passes" -> passes)
}

object CatalogWorkload {
  /** The catalog entries a workload may run. */
  def namesFor(kind: String): Seq[String] = {
    val prefixes = if (kind == "analytics") Set('q', 'e') else Set('d', 't', 'p')
    SparkEntry.queries.keys.filter(n => prefixes.contains(n.head)).toSeq.sorted
  }

  /** The `analytics` set: a warm pass over all 157 q/e entries takes about
    * 90 s, far beyond one run, so a run uses a fixed set. It holds the six
    * entries that feed the running-sum/rank operator (ROADMAP direction 4)
    * plus every 60th remaining q/e entry in name order, taken when the set
    * was fixed. Listed by name, so a new catalog entry does not shift it.
    */
  val AnalyticsSet: Seq[String] = Seq(
    "e34_mann_whitney", "e35_spearman", "e37_ks_test", "e39_quantile_weighted",
    "e60_proportions_ztest", "q06_revenue_forecast",
    "e01_retention", "e66_bitmap_group_fold", "q61_with_fill_bounds")

  def loadExpected(b: Bench): Map[String, String] = {
    implicit val formats: DefaultFormats.type = DefaultFormats
    JsonMethods.parse(Files.readString(Paths.get(b.args.expected))).extract[Map[String, String]]
  }

  def analytics(b: Bench): CatalogWorkload =
    new CatalogWorkload("analytics", AnalyticsSet, passes = 3, b.args.seed, loadExpected(b))
  def pipeline(b: Bench): CatalogWorkload =
    new CatalogWorkload("pipeline", namesFor("pipeline"), passes = 1, b.args.seed, loadExpected(b))

  /** Writes the digests of a `graft.Verify` output directory (whose
    * results passed the DuckDB oracle) as the pinned expectations.
    */
  def pin(b: Bench, verifyDir: String): Unit = {
    val names = namesFor("analytics") ++ namesFor("pipeline")
    val digests = names.sorted.map { n =>
      val df = b.spark.read.parquet(s"$verifyDir/$n")
      n -> Digest.of(df.columns.toSeq, df.collect().toSeq)
    }
    Files.writeString(Paths.get(b.args.expected),
      JsonMethods.pretty(JObject(digests.map { case (n, d) => n -> JString(d) }: _*)) + "\n")
  }
}
