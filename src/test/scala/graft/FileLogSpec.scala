package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.streaming.FileLogEngine

/** ENGINE = FileLog — offset-tailing directory stream (reference
  * `StorageFileLog.cpp`, tests `0_stateless/02022-02026_storage_filelog*`):
  * appends deliver once, new files are picked up, renames do NOT
  * re-deliver (inode identity), offsets survive detach/attach, and the
  * `_filename`/`_offset` virtual columns ride every row.
  */
class FileLogSpec extends SparkSpec {

  private def append(p: Path, lines: Seq[String]): Unit =
    Files.write(p, (lines.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("k").cast("long")).collect().map(_.getLong(0)).toSeq.sorted

  test("02023 shape: appends deliver once; copies are new; renames are not; deletes drop") {
    val dir = tempDir("graft-filelog")
    val a = dir.resolve("a.txt")
    append(a, (1 to 20).map(i => s"$i,$i"))
    val t = FileLogEngine.create("flog1", dir.toString, "CSV", "k UInt64, v UInt64")

    assert(ks(t.consume(spark)) === (1L to 20L))

    // copy = NEW inode → delivered in full; a.txt itself already consumed
    Files.copy(a, dir.resolve("b.txt"))
    assert(ks(t.consume(spark)) === (1L to 20L))

    // append to a; copy a twice; RENAME b (same inode — nothing new);
    // delete one copy before the poll
    append(a, (100 to 120).map(i => s"$i,$i"))
    Files.copy(a, dir.resolve("c.txt"))
    Files.copy(a, dir.resolve("d.txt"))
    Files.move(dir.resolve("b.txt"), dir.resolve("j.txt"))
    Files.delete(dir.resolve("d.txt"))
    val got = ks(t.consume(spark))
    // a's new 21 rows + c's 41 (fresh inode, full content); d deleted; j none
    assert(got === ((1L to 20L) ++ (100L to 120L) ++ (100L to 120L)).sorted)
  }

  test("log ROTATION: rename + recreate same name, appends to both, exactly once") {
    // the classic logrotate dance (the reference survives it via
    // per-inode metadata, StorageFileLog.cpp DirectoryWatcher): mv the
    // live file aside, recreate the same NAME fresh, keep appending to
    // both — every record must deliver exactly once
    val dir = tempDir("graft-filelog-rot")
    val a = dir.resolve("app.log")
    append(a, (1 to 10).map(i => s"$i,$i"))
    val t = FileLogEngine.create("flogrot", dir.toString, "CSV", "k UInt64, v UInt64")
    assert(ks(t.consume(spark)) === (1L to 10L))

    // rotate: same inode under the new name, a FRESH inode under the old
    Files.move(a, dir.resolve("app.log.1"))
    append(a, (11 to 15).map(i => s"$i,$i"))
    // appends continue on BOTH sides of the rotation
    append(dir.resolve("app.log.1"), (16 to 18).map(i => s"$i,$i"))
    append(a, (19 to 20).map(i => s"$i,$i"))
    assert(ks(t.consume(spark)) === (11L to 20L)) // 1-10 never re-deliver
    assert(t.consume(spark).count() === 0)

    // second rotation round proves the offset store follows inodes, not
    // names: app.log.1's inode keeps its high-water mark across renames
    Files.delete(dir.resolve("app.log.1"))
    Files.move(a, dir.resolve("app.log.1"))
    append(a, Seq("21,21"))
    assert(ks(t.consume(spark)) === Seq(21L))
  }

  test("log rotation: deleting the rotated-away file drops only ITS offsets") {
    val dir = tempDir("graft-filelog-rotdel")
    val a = dir.resolve("app.log")
    append(a, (1 to 5).map(i => s"$i,$i"))
    val t = FileLogEngine.create("flogrotdel", dir.toString, "CSV", "k UInt64, v UInt64")
    assert(ks(t.consume(spark)) === (1L to 5L))

    Files.move(a, dir.resolve("app.log.1"))
    append(a, (6 to 8).map(i => s"$i,$i"))
    assert(ks(t.consume(spark)) === (6L to 8L))

    // the rotated file disappears (logrotate cleanup); the live file's
    // offsets must be untouched and its tail still delivers exactly once
    Files.delete(dir.resolve("app.log.1"))
    append(a, (9 to 10).map(i => s"$i,$i"))
    assert(ks(t.consume(spark)) === (9L to 10L))
    assert(t.consume(spark).count() === 0)

    // a brand-new file reusing the DELETED rotated name is a fresh inode:
    // full content delivers
    append(dir.resolve("app.log.1"), Seq("100,100"))
    assert(ks(t.consume(spark)) === Seq(100L))
  }

  test("copytruncate: a file shrunk below its offset restarts from byte 0") {
    val dir = tempDir("graft-filelog-trunc")
    val a = dir.resolve("app.log")
    append(a, (1 to 5).map(i => s"$i,$i"))
    val t = FileLogEngine.create("flogtrunc", dir.toString, "CSV", "k UInt64, v UInt64")
    assert(ks(t.consume(spark)) === (1L to 5L))
    // logrotate copytruncate: same inode, size snaps to 0 — the stored
    // offset's byte-claim is void; new content delivers from 0
    Files.newByteChannel(a, StandardOpenOption.WRITE).truncate(0).close()
    append(a, Seq("6,6"))
    assert(ks(t.consume(spark)) === Seq(6L))
    assert(t.consume(spark).count() === 0)
  }

  test("02022 shape: single file incremental tail with partial-line holdback") {
    val dir = tempDir("graft-filelog-one")
    val a = dir.resolve("a.txt")
    append(a, (1 to 5).map(i => s"$i,${i * 2}"))
    val t = FileLogEngine.create("flog2", dir.toString, "CSV", "k UInt64, v UInt64")
    assert(t.consume(spark).count() === 5)
    assert(t.consume(spark).count() === 0) // nothing new
    // a partial record (no trailing newline) must NOT be delivered yet
    Files.write(a, "6,".getBytes, StandardOpenOption.APPEND)
    assert(t.consume(spark).count() === 0)
    Files.write(a, "12\n7,14\n".getBytes, StandardOpenOption.APPEND)
    val got = t.consume(spark).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === Seq((6L, 12L), (7L, 14L)))
  }

  test("02025 shape: _filename and _offset virtual columns") {
    val dir = tempDir("graft-filelog-virt")
    append(dir.resolve("x.csv"), Seq("1,10", "2,20"))
    val t = FileLogEngine.create("flog3", dir.toString, "CSV", "k UInt64, v UInt64")
    val got = t.consume(spark)
      .select("k", "_filename", "_offset").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "x.csv", 0L), (2L, "x.csv", 5L)))
  }

  test("_offset stays byte-exact past blank lines") {
    val dir = tempDir("graft-filelog-blank")
    // "1,10\n" (5) + "\n" (1) + "2,20\n" -> record 2 starts at byte 6
    append(dir.resolve("x.csv"), Seq("1,10", "", "2,20"))
    val t = FileLogEngine.create("flog7", dir.toString, "CSV", "k UInt64, v UInt64")
    val got = t.consume(spark)
      .select("k", "_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 0L), (2L, 6L)))
  }

  test("offsets persist across detach/attach (02023 tail)") {
    val dir = tempDir("graft-filelog-meta")
    val a = dir.resolve("a.txt")
    append(a, (1 to 3).map(i => s"$i,$i"))
    val t = FileLogEngine.create("flog4", dir.toString, "CSV", "k UInt64, v UInt64")
    assert(t.consume(spark).count() === 3)
    val meta = t.metaDir
    FileLogEngine.drop("flog4") // DETACH
    append(a, Seq("4,4", "5,5"))
    val t2 = FileLogEngine.attach("flog4", dir.toString, "CSV",
      "k UInt64, v UInt64", meta)
    assert(ks(t2.consume(spark)) === Seq(4L, 5L)) // resumes, no re-delivery
  }

  test("02024 shape: FileLog feeding an incremental sink (the MV flow)") {
    val dir = tempDir("graft-filelog-mv")
    val sink = tempDir("graft-filelog-sink").resolve("t").toString
    val a = dir.resolve("a.txt")
    append(a, (1 to 10).map(i => s"$i,$i"))
    val t = FileLogEngine.create("flog5", dir.toString, "CSV", "k UInt64, v UInt64")
    // each poll appends its delivery to the target table — INSERT SELECT
    // from the stream, the reference's MV pattern
    t.consume(spark).select("k", "v").write.mode("append").parquet(sink)
    append(a, (11 to 15).map(i => s"$i,$i"))
    t.consume(spark).select("k", "v").write.mode("append").parquet(sink)
    val total = spark.read.parquet(sink)
    assert(total.count() === 15)
    assert(total.agg(sum("k")).head().getLong(0) === (1L to 15L).sum)
  }

  test("CRLF records parse clean; the \\r byte stays in the offset math") {
    val dir = tempDir("graft-filelog-crlf")
    Files.write(dir.resolve("w.csv"), "1,x\r\n2,y\r\n".getBytes("UTF-8"),
      StandardOpenOption.CREATE)
    val t = FileLogEngine.create("flog8", dir.toString, "CSV", "k UInt64, v String")
    val got = t.consume(spark).select("k", "v", "_offset").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "x", 0L), (2L, "y", 5L)))
  }

  test("a poisoned file is QUARANTINED per-file: offsets preserved, table flows") {
    // injection: a single record over the 2 GiB task-buffer bound
    // (sparse file — its only newline past 2.5 GB). The r16 code
    // swallowed this in Try(...).toOption — silently skipping the file
    // forever AND rebuilding the offset map without any file that
    // erred, so a TRANSIENT stat/scan error could reset a healthy file
    // to byte 0 (duplicate delivery). Contract now: transient errors
    // fail the poll before offsets commit; this PERMANENT condition
    // quarantines only the poisoned file (offset preserved, loud
    // warning) while the rest of the table keeps streaming.
    val dir = tempDir("graft-filelog-err")
    val a = dir.resolve("a.csv")
    append(a, Seq("1,1", "2,2"))
    val t = FileLogEngine.create("flog11", dir.toString, "CSV",
      "k UInt64, v UInt64")
    assert(ks(t.consume(spark)) === Seq(1L, 2L))
    append(a, Seq("3,3"))
    val big = dir.resolve("big.csv")
    val ch = java.nio.channels.FileChannel.open(big,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try ch.write(java.nio.ByteBuffer.wrap("9,9\n".getBytes),
      2500000000L) // sparse: 2.5 GB of hole, then the only newline
    finally ch.close()
    // the poisoned file must not wedge the table: a's append delivers,
    // big delivers nothing and its offset stays 0 (never "consumed")
    assert(ks(t.consume(spark)) === Seq(3L))
    assert(t.consume(spark).count() === 0)
    // operator fixes the file in place (same inode): because the
    // quarantine preserved offset 0, the repaired content delivers in
    // full — nothing was skipped-and-committed during the bad polls
    val fix = java.nio.channels.FileChannel.open(big,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try fix.write(java.nio.ByteBuffer.wrap("9,9\n".getBytes))
    finally fix.close()
    assert(ks(t.consume(spark)) === Seq(9L))
    assert(t.consume(spark).count() === 0)
  }

  test("a growing partial record is scanned once: high-water mark persists") {
    // poll cost must be O(new bytes) even for a newline-less file: the
    // scan high-water mark (offsets.tsv column 4) records how far the
    // newline search got, so the next poll resumes there instead of
    // re-scanning the whole partial record from `offset` every time
    val dir = tempDir("graft-filelog-partial")
    val a = dir.resolve("a.csv")
    Files.write(a, "hello\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE)
    val t = FileLogEngine.create("flog12", dir.toString, "CSV", "s String")
    def metaCols(): (Long, Long) = {
      val l = Files.readAllLines(Paths.get(t.metaDir, "offsets.tsv")).get(0)
      val p = l.split("\t")
      (p(2).toLong, p(3).toLong)
    }
    assert(t.consume(spark).count() === 1)
    assert(metaCols() === ((6L, 6L)))
    val junk = Array.fill[Byte](1 << 20)('x')
    Files.write(a, junk, StandardOpenOption.APPEND)
    assert(t.consume(spark).count() === 0) // partial record held back
    assert(metaCols() === ((6L, 6L + (1 << 20)))) // offset intact, scan advanced
    Files.write(a, junk, StandardOpenOption.APPEND)
    assert(t.consume(spark).count() === 0)
    assert(metaCols() === ((6L, 6L + 2 * (1 << 20))))
    // the newline finally arrives: the WHOLE record (both junk chunks)
    // delivers as one row from the preserved offset
    Files.write(a, "tail\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)
    val got = t.consume(spark).select("s").collect()
    assert(got.length === 1)
    assert(got(0).getString(0).length === 2 * (1 << 20) + 4)
    assert(t.consume(spark).count() === 0)
  }

  test("a backlog whose FIRST record overflows the poll cap streams in bounded batches") {
    // one 70 MiB record followed by ordinary rows: the cap escape must
    // deliver exactly the one over-cap record (first newline past the
    // cap), then resume normal capped batches — NOT treat the whole
    // backlog up to its last newline as one giant range (which would
    // have quarantined a perfectly deliverable multi-record file had it
    // crossed 2 GiB)
    val dir = tempDir("graft-filelog-bigrec")
    val a = dir.resolve("a.csv")
    val ch = java.nio.channels.FileChannel.open(a,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val chunk = java.nio.ByteBuffer.wrap(Array.fill[Byte](1 << 20)('x'))
      (0 until 70).foreach { _ => chunk.rewind(); ch.write(chunk) }
      ch.write(java.nio.ByteBuffer.wrap(
        ("\n" + (1 to 10).map(i => s"row$i").mkString("\n") + "\n").getBytes))
    } finally ch.close()
    val t = FileLogEngine.create("flog13", dir.toString, "CSV", "s String")
    // poll 1: exactly the giant record (cap-escape, one record only)
    val first = t.consume(spark).select("s").collect()
    assert(first.length === 1)
    assert(first(0).getString(0).length === 70 * (1 << 20))
    // poll 2: the rest of the backlog as a normal capped batch
    val rest = t.consume(spark).select("s").collect().map(_.getString(0)).sorted
    assert(rest.toSeq === (1 to 10).map(i => s"row$i").sorted)
    assert(t.consume(spark).count() === 0)
  }

  test("hard links deliver once (inode identity)") {
    val dir = tempDir("graft-filelog-link")
    val a = dir.resolve("a.csv")
    append(a, Seq("1,1", "2,2"))
    try Files.createLink(dir.resolve("alias.csv"), a)
    catch { case _: UnsupportedOperationException => cancel("no hard links") }
    val t = FileLogEngine.create("flog9", dir.toString, "CSV", "k UInt64, v UInt64")
    assert(t.consume(spark).count() === 2) // once, not twice
  }

  test("a tab in a filename cannot corrupt the offset store") {
    val dir = tempDir("graft-filelog-tabname")
    append(dir.resolve("a\tb.csv"), Seq("1,1"))
    val t = FileLogEngine.create("flog10", dir.toString, "CSV", "k UInt64, v UInt64")
    assert(t.consume(spark).count() === 1)
    append(dir.resolve("a\tb.csv"), Seq("2,2"))
    assert(t.consume(spark).count() === 1) // offsets survived the reload
  }

  test("JSONEachRow format variant") {
    val dir = tempDir("graft-filelog-json")
    append(dir.resolve("a.jsonl"),
      Seq("""{"k": 1, "v": "x"}""", """{"k": 2, "v": "y"}"""))
    val t = FileLogEngine.create("flog6", dir.toString, "JSONEachRow",
      "k UInt64, v String")
    val got = t.consume(spark).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "x"), (2L, "y")))
  }
}
