package graftbench

import java.security.MessageDigest
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Order-insensitive result digest with the normalization of
  * `tools/check_correctness.py`: columns taken in name order, every cell
  * stringified, rows sorted after stringification. Two results with the
  * same multiset of rows hash alike whatever order the engine produced.
  */
object Digest {

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else d.toString
    case f: Float => if (f.isNaN) "NaN" else f.toString
    case b: Boolean => if (b) "True" else "False"
    case bs: Array[Byte] => bs.map(b => f"${b & 0xff}%02x").mkString
    case d: java.sql.Date => s"$d 00:00:00"
    case d: java.time.LocalDate => s"$d 00:00:00"
    case t: java.sql.Timestamp => timestamp(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: Instant => timestamp(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => timestamp(t)
    case r: Row => r.toSeq.map(cell).mkString("(", ", ", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}: ${cell(x)}" }.sorted.mkString("{", ", ", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case other => other.toString
  }

  /** `yyyy-MM-dd HH:mm:ss[.ffffff]`, the pandas rendering. */
  private def timestamp(t: LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  /** Stringified rows with columns in name order, sorted. */
  def normalize(columns: Seq[String], rows: Seq[Row]): Seq[Seq[String]] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val cells = rows.map(r => order.map(i => cell(r.get(i))))
    cells.sorted(Ordering.Implicits.seqOrdering[Seq, String])
  }

  def of(columns: Seq[String], rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString("\u001f").getBytes("UTF-8"))
    normalize(columns, rows).foreach { r =>
      md.update('\n'.toByte)
      md.update(r.mkString("\u001f").getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
