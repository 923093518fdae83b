package graftbench

import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val cols = Seq("id", "name", "score")
  private val rows = Seq(Row(2L, "b", 0.5), Row(1L, "a", 1.25), Row(3L, null, Double.NaN))

  test("row order does not change the digest") {
    assert(Digest.of(cols, rows) === Digest.of(cols, rows.reverse))
  }

  test("columns are taken in name order") {
    val swapped = rows.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(Digest.of(Seq("score", "id", "name"), swapped) === Digest.of(cols, rows))
  }

  test("rows are a multiset: a duplicate or a changed cell changes the digest") {
    val base = Digest.of(cols, rows)
    assert(Digest.of(cols, rows :+ rows.head) !== base)
    assert(Digest.of(cols, rows.updated(0, Row(2L, "b", 0.50001))) !== base)
    assert(Digest.of(Seq("id", "name", "total"), rows) !== base)
  }

  test("rows sort after stringification, cell by cell") {
    val n = Digest.normalize(Seq("x"), Seq(Row(10), Row(9), Row(100)))
    assert(n === Seq(Seq("10"), Seq("100"), Seq("9")))
  }

  test("cells stringify like the correctness checker") {
    assert(Digest.cell(null) === "NULL")
    assert(Digest.cell(Double.NaN) === "NaN")
    assert(Digest.cell(true) === "True")
    assert(Digest.cell(Array[Byte](0, 15, -1)) === "000fff")
    assert(Digest.cell(Date.valueOf("2024-02-29")) === "2024-02-29 00:00:00")
    assert(Digest.cell(LocalDateTime.of(2024, 1, 2, 3, 4, 5)) === "2024-01-02 03:04:05")
    assert(Digest.cell(LocalDateTime.of(2024, 1, 2, 3, 4, 5, 120000000)) ===
      "2024-01-02 03:04:05.120000")
    val ts = Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05Z"))
    assert(Digest.cell(ts) === "2024-01-02 03:04:05")
    assert(Digest.cell(Seq(1, 2)) === "[1, 2]")
    assert(Digest.cell(Row(1, Seq("a"))) === "(1, [a])")
    assert(Digest.cell(Map("b" -> 2, "a" -> 1)) === "{a: 1, b: 2}")
  }

  test("-0.0 stays distinct from 0.0") {
    assert(Digest.cell(-0.0) === "-0.0")
    assert(Digest.of(Seq("d"), Seq(Row(-0.0))) !== Digest.of(Seq("d"), Seq(Row(0.0))))
  }
}
