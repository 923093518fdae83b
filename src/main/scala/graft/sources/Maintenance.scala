package graft.sources

import graft.engine.ParquetSchema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}

/** Table maintenance — the reference's background merges
  * (`/root/reference/src/Storages/MergeTree/MergeTreeData*` merge
  * selection; `OPTIMIZE TABLE ... FINAL`) mapped to Spark's immutable-file
  * world: rewrite a directory of many small parquet files into
  * size-targeted ones.
  *
  * The small-file problem IS the 100 TB concern this addresses: a table
  * ingested by a streaming job accumulates thousands of KB-sized files,
  * and every scan then pays per-file open/footer/seek costs and loses
  * row-group pruning granularity. Compaction reads once, repartitions to
  * ceil(bytes / targetBytes) and atomically swaps the directory.
  */
object Maintenance {

  /** Result: file/byte counts before and after. */
  case class CompactionResult(
      filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long)

  /** OPTIMIZE-style compaction of a parquet directory. Writes to a
    * sibling temp dir, then swaps — readers see either the old or the new
    * complete directory (same guarantee MergeTree part replacement
    * gives). `sortBy` optionally re-sorts within output files so parquet
    * min/max stats stay selective after the merge (MergeTree parts are
    * always sorted by primary key — sorted writes are what make file
    * skipping work). `deduplicate = true` is `OPTIMIZE ... DEDUPLICATE`
    * (reference `InterpreterOptimizeQuery` + merge-time dedup): full-row
    * duplicates collapse during the rewrite.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil,
      deduplicate: Boolean = false): CompactionResult = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def stats(path: Path): (Int, Long) = {
      val it = fs.listFiles(path, true)
      var n = 0; var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
          n += 1; bytes += f.getLen
        }
      }
      (n, bytes)
    }

    val (nBefore, bytesBefore) = stats(p)
    if (nBefore == 0) // nothing to merge; reading an empty dir would throw
      return CompactionResult(0, 0, 0L, 0L)
    val nOut = math.max(1, math.ceil(bytesBefore.toDouble / targetFileBytes).toInt)

    val df0 = ParquetSchema.load(spark, dir)
    val df = if (deduplicate) df0.dropDuplicates() else df0
    val writer = {
      val base =
        if (sortBy.nonEmpty)
          // repartition-then-sortWithin: one shuffle, files stay sorted
          df.repartition(nOut).sortWithinPartitions(sortBy.head, sortBy.tail: _*)
        else df.repartition(nOut)
      base.write.mode("overwrite")
    }
    val tmp = new Path(p.getParent, s".${p.getName}.compact.tmp")
    writer.parquet(tmp.toString)

    // swap: old dir out, new dir in (two renames; readers of the old path
    // that already opened files keep their handles — same as part GC)
    val old = new Path(p.getParent, s".${p.getName}.compact.old")
    if (fs.exists(old)) fs.delete(old, true)
    swap(fs, p, tmp, old)

    val (nAfter, bytesAfter) = stats(p)
    CompactionResult(nBefore, nAfter, bytesBefore, bytesAfter)
  }

  case class TtlResult(rowsBefore: Long, rowsExpired: Long, filesAfter: Int)

  /** Table TTL (`TTL ts + INTERVAL n ... DELETE` — reference
    * `src/Storages/TTLDescription.cpp` / `TTLDeleteAlgorithm`): rewrite
    * the directory WITHOUT rows matching `expireWhen`, with the same
    * atomic-swap guarantee as [[compact]]. The reference applies delete-
    * TTL during background merges; here the expiry IS a merge, so one
    * pass both expires and compacts (pass `targetFileBytes`/`sortBy` to
    * control the rewrite like compact does).
    */
  def applyTtl(
      spark: SparkSession,
      dir: String,
      expireWhen: Column,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil): TtlResult = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val df = ParquetSchema.load(spark, dir)
    val before = df.count()
    // NULL TTL expressions keep the row (the reference's behavior)
    val kept = df.filter(not(coalesce(expireWhen, lit(false))))
    // Output file count honors targetFileBytes like compact: estimate
    // surviving bytes as the surviving-row fraction of current bytes.
    val bytesNow = {
      val it = fs.listFiles(p, true)
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getLen
      }
      b
    }
    val frac = kept.count().toDouble / math.max(1L, before)
    val nOut = math.max(1,
      math.ceil(bytesNow * frac / targetFileBytes).toInt)
    val writer = {
      val base =
        if (sortBy.nonEmpty)
          kept.repartition(nOut).sortWithinPartitions(sortBy.head, sortBy.tail: _*)
        else kept.repartition(nOut)
      base.write.mode("overwrite")
    }
    val tmp = new Path(p.getParent, s".${p.getName}.ttl.tmp")
    writer.parquet(tmp.toString)
    val old = new Path(p.getParent, s".${p.getName}.ttl.old")
    if (fs.exists(old)) fs.delete(old, true)
    swap(fs, p, tmp, old)
    val after = ParquetSchema.load(spark, dir).count()
    TtlResult(before, before - after, fileCount(fs, p))
  }

  /** Two-rename directory swap with rollback: if installing the new dir
    * fails after the live dir moved aside, the original is restored —
    * the table is never left missing.
    */
  private def swap(
      fs: org.apache.hadoop.fs.FileSystem,
      live: Path, incoming: Path, aside: Path): Unit = {
    if (!fs.rename(live, aside))
      sys.error(s"swap: could not move $live aside")
    try {
      if (!fs.rename(incoming, live)) sys.error(s"swap: could not install $incoming")
    } catch {
      case e: Throwable =>
        fs.rename(aside, live) // roll back
        throw e
    }
    fs.delete(aside, true)
  }

  private def fileCount(fs: org.apache.hadoop.fs.FileSystem, p: Path): Int = {
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }
}
