package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val names = Seq("q02", "d01", "v01", "q01", "e01", "d02", "q03")

  test("SPARK_GRAFT_BENCH_ORDER: the three modes keep their orders") {
    assert(Bench.order("alpha", names) ===
      Seq("d01", "d02", "e01", "q01", "q02", "q03", "v01"))
    assert(Bench.order("reverse", names) ===
      Seq("v01", "q03", "q02", "q01", "e01", "d02", "d01"))
    // round-robin across first-letter families, alphabetical within one
    assert(Bench.order("interleave", names) ===
      Seq("d01", "e01", "q01", "v01", "d02", "q02", "q03"))
  }

  test("SPARK_GRAFT_BENCH_ORDER: an unknown mode fails instead of interleaving") {
    val err = intercept[IllegalArgumentException](Bench.order("alpah", names))
    for (word <- Seq("alpah", "interleave", "alpha", "reverse"))
      assert(err.getMessage.contains(word), err.getMessage)
  }
}
