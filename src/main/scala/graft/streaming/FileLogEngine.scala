package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ChTypes, InputFormats}

/** `ENGINE = FileLog(dir, format)` — the reference's broker-less
  * streaming engine (`src/Storages/FileLog/StorageFileLog.cpp`, tests
  * `0_stateless/02022-02026_storage_filelog*`): a directory of row-format
  * files consumed as an append-only stream with PER-FILE BYTE OFFSETS —
  * each poll delivers only records appended since the last poll, new
  * files are picked up, renames do NOT re-deliver (files are tracked by
  * inode, the reference's DirectoryWatcher semantics), deletions drop
  * the remainder, and offsets persist across a detach/attach (metadata
  * directory).
  *
  * Spark shape: the poll is a tiny driver-side directory listing (names,
  * sizes, inodes — never file contents); the DELIVERY is distributed —
  * the new `[offset, lastNewline)` range of every file becomes one task
  * that reads just that byte range and parses it with the row-format
  * parsers ([[InputFormats]]). A consume is therefore one narrow scan
  * over exactly the appended bytes: at 100 TB/day of appends the work
  * per poll is proportional to the NEW data, like the reference's.
  * Partial trailing lines (a concurrent writer mid-record) stay
  * unconsumed until the newline arrives — record-boundary delivery, as
  * the reference's ReadBufferFromFileLog.
  *
  * Virtual columns `_filename` / `_offset` (test 02025) ride every row.
  */
object FileLogEngine {

  /** Per-file byte cap per poll (the reference's bounded-batch poll —
    * its max_block_size family): a huge backlog delivers over several
    * polls; also bounds the per-task buffer (and keeps the range far
    * from Int overflow).
    */
  val MaxPollBytesPerFile: Long = 64L * 1024 * 1024

  /** Per-inode consumption state. `offset` = first unconsumed byte;
    * `scanned` = newline-scan high-water mark: bytes in
    * [offset, scanned) are KNOWN to contain no '\n', so the next poll
    * scans only [scanned, size) — without it, a growing partial record
    * (a newline-less file) would be re-scanned from `offset` on every
    * poll, breaking the poll-is-O(new data) contract (the reference's
    * forward read buffer remembers its position the same way).
    * Observed SHRINKING voids the mark (reset to `offset`); an in-place
    * rewrite that keeps the size ≥ the mark is outside FileLog's
    * append-only stream contract, as in the reference.
    */
  case class FileMeta(key: String, name: String, offset: Long,
      scanned: Long = -1L)

  /** One FileLog table. `metaDir` persists offsets (detach/attach = drop
    * and re-create the Table over the same metaDir).
    */
  final class Table(
      val name: String,
      val dir: String,
      val format: String,
      val structure: String,
      val metaDir: String) {

    private val metaFile = Paths.get(metaDir, "offsets.tsv")

    // key and name are URL-encoded in the metadata file: a tab or
    // newline in a FILENAME must not corrupt the offset store (which
    // would wedge the table on every later poll, across detach/attach)
    private def enc(s: String): String =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
    private def dec(s: String): String =
      java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

    private def loadOffsets(): Map[String, FileMeta] =
      if (!Files.exists(metaFile)) Map.empty
      else Files.readAllLines(metaFile, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty)
        .map { l =>
          // 4th column (scan high-water mark) is optional: metadata
          // written before it existed loads with scanned = -1 (unknown)
          val parts = l.split("\t", 4)
          val scanned = if (parts.length >= 4) parts(3).toLong else -1L
          dec(parts(0)) -> FileMeta(dec(parts(0)), dec(parts(1)),
            parts(2).toLong, scanned)
        }.toMap

    private def saveOffsets(m: Map[String, FileMeta]): Unit = {
      Files.createDirectories(metaFile.getParent)
      Files.write(metaFile,
        m.values.toSeq.sortBy(_.key)
          .map(f => s"${enc(f.key)}\t${enc(f.name)}\t${f.offset}\t${f.scanned}")
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }

    private def inodeKey(p: Path): String =
      Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey() match {
        case null => p.toAbsolutePath.toString // non-POSIX fallback
        case k => k.toString
      }

    /** Byte offset of the char AFTER the FIRST '\n' in [from, size), or
      * -1 if none — the boundary of exactly ONE record, used when that
      * record alone overflows the per-poll byte cap (forward scan: the
      * boundary is near `from`-side growth, and the bytes below `from`
      * are already known newline-free).
      */
    private def firstRecordEnd(p: Path, from: Long, size: Long): Long = {
      if (size <= from) return -1L
      val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(8192)
        var pos = from
        while (pos < size) {
          val end = math.min(size, pos + buf.capacity())
          buf.clear(); buf.limit((end - pos).toInt)
          var off = 0
          var eof = false
          while (!eof && off < buf.limit()) {
            val n = ch.read(buf, pos + off)
            if (n < 0) eof = true else off += n
          }
          var i = 0
          while (i < off) {
            if (buf.get(i) == '\n') return pos + i + 1
            i += 1
          }
          if (eof) return -1L // concurrent truncation: scan what existed
          pos = end
        }
        -1L
      } finally ch.close()
    }

    /** Byte offset of the char AFTER the last '\n' in [from, size) —
      * records past it are incomplete and stay for the next poll.
      */
    private def lastCompleteOffset(p: Path, from: Long, size: Long): Long = {
      if (size <= from) return from
      val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(8192)
        var found = -1L
        var pos = size
        while (found < 0 && pos > from) {
          val start = math.max(from, pos - buf.capacity())
          buf.clear(); buf.limit((pos - start).toInt)
          // positional read can return short — loop until the region is
          // full; on EOF (file truncated concurrently) scan only what
          // was actually read, never stale bytes from a prior iteration
          var off = 0
          var eof = false
          while (!eof && off < buf.limit()) {
            val n = ch.read(buf, start + off)
            if (n < 0) eof = true else off += n
          }
          var i = off - 1
          while (i >= 0 && found < 0) {
            if (buf.get(i) == '\n') found = start + i + 1
            i -= 1
          }
          pos = start
        }
        if (found < 0) from else found
      } finally ch.close()
    }

    /** Poll: deliver every record appended since the last poll. The
      * returned frame carries the declared structure plus `_filename`
      * and `_offset` (byte offset of the record's first byte — the
      * reference's virtual columns, test 02025).
      *
      * The delivery is MATERIALIZED (localCheckpoint) before offsets
      * commit: the returned frame stays valid however late the caller
      * reads it, even after the files mutate — one poll = one
      * consistent batch, the engine contract the reference's MV flow
      * relies on.
      */
    def consume(spark: SparkSession): DataFrame = synchronized {
      // synchronized: concurrent polls on one Table would both read the
      // old offsets (double delivery) and the later whole-map
      // saveOffsets would erase the other poll's advance — the
      // reference serializes consumption per table the same way
      val offsets = loadOffsets()
      val listing = Files.list(Paths.get(dir))
      val files =
        try listing.iterator().asScala
          .filter(Files.isRegularFile(_)).toSeq.sortBy(_.getFileName.toString)
        finally listing.close() // directory stream = one fd per poll otherwise
      // ONE stat pass: (key, path, name, from, to) snapshot drives both
      // the delivery and the offset commit — no re-stat later. Per-file
      // error policy, by failure class:
      //  - CONFIRMED deletion (NoSuchFileException): file skipped this
      //    round, its offset entry drops with it — the documented
      //    delete tolerance, never a poll failure;
      //  - PERMANENT per-file condition (a single record over the 2 GiB
      //    task-buffer bound — retrying can never fix it): the file is
      //    QUARANTINED, not the table: it joins the snapshot with an
      //    empty range so its committed offset is PRESERVED (never reset
      //    to 0), delivers nothing, and warns loudly every poll; other
      //    files keep streaming;
      //  - anything else (permission flap, I/O error — presumed
      //    TRANSIENT): the whole poll fails BEFORE offsets commit, so a
      //    flap can never drop a file's offset and re-deliver from
      //    byte 0 — the reference likewise only drops per-inode metadata
      //    on removal.
      // Hard links (two names, one inode) deliver once: distinct by
      // inode key. `to` is capped at MaxPollBytesPerFile (rolled back to
      // a record boundary), the reference's bounded-batch poll; a single
      // RECORD larger than the cap (but under the bound) escapes it
      // (scan to true EOF) so an oversized line progresses instead of
      // wedging the file.
      val snapshot = files.flatMap { p =>
        try {
          val key = inodeKey(p)
          val size = Files.size(p)
          val meta = offsets.get(key)
          // TRUNCATION / inode recycle: a stored offset past EOF means
          // the bytes it claims no longer exist (logrotate copytruncate,
          // or the inode number of a deleted file reused by a new one
          // before any poll observed the deletion). The claim is void —
          // restart the file from byte 0 (at-least-once on this edge;
          // silently never delivering is the unacceptable alternative).
          val stored = meta.map(_.offset).getOrElse(0L)
          val from = if (stored > size) {
            System.err.println(s"[filelog] $p shrank below its committed " +
              s"offset ($size < $stored): truncation or inode reuse — " +
              "restarting from byte 0")
            0L
          } else stored
          // bytes in [from, scanned) are KNOWN newline-free from prior
          // polls — the scan floor keeps a growing partial record from
          // being re-scanned from `from` every poll (O(new bytes), not
          // O(partial length), per poll). A shrunken file (truncation /
          // in-place replacement) voids the claim: reset to `from`.
          val storedScan = meta.map(_.scanned).getOrElse(-1L)
          val floor = if (storedScan > size) from else math.max(from, storedScan)
          val capped = math.min(size, from + MaxPollBytesPerFile)
          // position AFTER the last '\n' in [lo, hi), or -1 if none
          def lastNl(lo: Long, hi: Long): Long =
            if (hi <= lo) -1L
            else { val r = lastCompleteOffset(p, lo, hi); if (r == lo) -1L else r }
          // normal batch: last newline inside the cap window. Cap escape:
          // the FIRST record alone overflows the cap — deliver exactly
          // that one record (first newline past the cap, FORWARD scan),
          // so a multi-record backlog over the cap streams out in capped
          // batches instead of arriving as one giant range.
          val (nl, scannedTo) = {
            val n1 = lastNl(floor, capped)
            if (n1 >= 0) (n1, capped)
            else {
              val f1 = firstRecordEnd(p, math.max(floor, capped), size)
              if (f1 >= 0) (f1, f1) else (-1L, size)
            }
          }
          val to = if (nl >= 0) nl else from
          // a SINGLE record over the task-buffer bound is undeliverable —
          // quarantine the file: offset preserved, scan mark held just
          // below the boundary newline so every poll re-detects it and
          // warns (an O(8KB) forward scan), other files keep flowing
          val quarantined = to - from > Int.MaxValue - 8
          if (quarantined) System.err.println(
            s"[filelog] QUARANTINED $p: single record of ${to - from} bytes " +
              s"at offset $from exceeds the ${Int.MaxValue - 8}-byte task " +
              "bound — offset preserved, file skipped until fixed")
          Some((key, p.toAbsolutePath.toString, p.getFileName.toString, from,
            if (quarantined) from else to,
            if (quarantined) nl - 1 else scannedTo))
        } catch {
          // vanished between the listing and the stat/scan → skip this
          // round; its offset entry drops with it (deletion contract)
          case _: java.nio.file.NoSuchFileException => None
          case _: java.io.FileNotFoundException => None
        }
      }.distinctBy(_._1)
      val ranges = snapshot.collect {
        case (key, path, name, from, to, _) if to > from =>
          (key, path, name, from, to)
      }
      val st = ChTypes.structure(structure)
      val fullSchema = st
        .add("_filename", org.apache.spark.sql.types.StringType, nullable = false)
        .add("_offset", org.apache.spark.sql.types.LongType, nullable = false)
      val delivered: DataFrame =
        if (ranges.isEmpty)
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), fullSchema)
        else {
          val fmt = format
          import spark.implicits._
          val fullEnc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
            org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(fullSchema))
          // one task per (file, range): reads ONLY the appended bytes,
          // parses each newline-framed record with the row-format parser
          // in-task — then MATERIALIZES, so the batch is consistent even
          // though the files keep growing underneath
          spark.createDataset(ranges).toDF(
              "key", "path", "fname", "from", "to")
            .repartition(math.min(ranges.length, 32), col("key"))
            .mapPartitions { it =>
              it.flatMap { r =>
                val (path, fname, from, to) =
                  (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
                val ch = java.nio.channels.FileChannel.open(
                  Paths.get(path), StandardOpenOption.READ)
                val bytes =
                  try {
                    val bb = java.nio.ByteBuffer.allocate((to - from).toInt)
                    var read = 0
                    while (read < bb.capacity()) {
                      val n = ch.read(bb, from + read)
                      if (n < 0) read = bb.capacity() else read += n
                    }
                    bb.array()
                  } finally ch.close()
                val text = new String(bytes, StandardCharsets.UTF_8)
                val parse = InputFormats.lineParser(fmt, st) // once per range
                var off = from
                // advance the byte counter for EVERY segment (a blank
                // line still consumes its newline byte — filtering first
                // would shift every later record's _offset), emit only
                // non-empty records; a trailing '\r' (CRLF writer) is
                // part of the byte count but not of the record
                text.split("\n", -1).iterator.flatMap { raw =>
                  val lineStart = off
                  off += raw.getBytes(StandardCharsets.UTF_8).length + 1
                  val line = if (raw.endsWith("\r")) raw.dropRight(1) else raw
                  if (line.isEmpty) None
                  else Some(org.apache.spark.sql.Row.fromSeq(
                    parse(line).toSeq ++ Seq(fname, lineStart)))
                }
              }
            }(fullEnc)
            .toDF(fullSchema.fieldNames: _*)
            .localCheckpoint(true)
        }
      // offsets commit AFTER the batch materialized — to EXACTLY the
      // `to` bounds that were delivered, from the snapshot (never a
      // fresh stat: bytes appended during the read stay unconsumed, and
      // a file deleted mid-poll cannot fail the commit); a failed read
      // throws before this point and re-delivers next time. State for
      // vanished inodes drops with them (file deleted = its unread
      // remainder is dropped, like the reference).
      val newOffsets = snapshot.map { case (key, _, name, from, to, scanned) =>
        key -> FileMeta(key, name, math.max(from, to), scanned)
      }.toMap
      saveOffsets(newOffsets)
      delivered
    }
  }

  private val registry = TrieMap.empty[String, Table]

  /** `CREATE TABLE name (...) ENGINE = FileLog('dir/', 'CSV')`. */
  def create(name: String, dir: String, format: String, structure: String,
      metaDir: Option[String] = None): Table = {
    val meta = metaDir.getOrElse(
      org.apache.spark.sql.graft.shim.createTempDir(s"graft-filelog-$name").toString)
    val t = new Table(name, dir, format, structure, meta)
    registry.put(name, t)
    t
  }

  def lookup(name: String): Option[Table] = registry.get(name)
  def drop(name: String): Unit = registry.remove(name)

  /** DETACH/ATTACH: a new Table over the same metadata dir resumes from
    * the persisted offsets (the reference's StorageFileLog meta path).
    */
  def attach(name: String, dir: String, format: String, structure: String,
      metaDir: String): Table = {
    val t = new Table(name, dir, format, structure, metaDir)
    registry.put(name, t)
    t
  }
}
