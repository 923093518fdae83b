package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{MaterializedView, TimeWindows}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming FTS index maintenance: batches append, search stays exact") {
    import graft.operators.{FtsIndex, TextSearch}
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val half1 = docs.filter($"doc_id" < 100)
    val half2 = docs.filter($"doc_id" >= 100)
    val idx = tempDir("fts-stream").toString
    FtsIndex.build(spark, half1, "doc_id", "text", "fts_stream", idx, 16)

    // stream the second half in as parquet micro-batches
    val srcDir = tempDir("fts-stream-src").toString
    half2.write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(half2.schema).parquet(srcDir)
    val q = graft.streaming.MaterializedView.attachFtsIndex(
      stream, "doc_id", "text", idx,
      tempDir("fts-stream-ckpt").toString)
    q.processAllAvailable(); q.stop()

    assert(FtsIndex.loadMeta(idx).nDocs === docs.count())
    val direct = TextSearch.textSearch(docs, col("text"), "spark merge join",
        10, "OR", "bm25_score", Seq(col("doc_id")))
      .select($"doc_id", round($"bm25_score", 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = FtsIndex.search(spark, idx, "spark merge join", 10, "OR",
        "bm25_score", Seq(col("doc_id")))
      .select($"doc_id", round($"bm25_score", 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed === direct)
    FtsIndex.Catalog.drop("fts_stream")
  }

  test("tumble window streaming agg matches batch result (memory sink)") {
    val dir = tempDir("graft-stream").toString
    val batch = graft.engine.Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
    batch.write.mode("overwrite").parquet(dir)

    val schema = batch.schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg = TimeWindows.windowedAggregate(
      stream, "ts", "10 minutes",
      TimeWindows.tumble(col("ts"), "1 hour"),
      Seq.empty,
      Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumble_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.sql("SELECT window.start AS s, n FROM tumble_out")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val expected = batch.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed === expected)
  }

  test("LiveView: complete-mode memory sink stays current across batches") {
    val dir = tempDir("graft-live").toString
    val batch1 = spark.range(100).selectExpr("id % 5 AS g", "id AS v")
    batch1.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch1.schema).parquet(dir)
    val agg = stream.groupBy(col("g")).agg(sum(col("v")).as("total"))

    val q1 = MaterializedView.liveView(agg, "live_totals")
    q1.processAllAvailable(); q1.stop()
    val after1 = spark.table("live_totals").agg(sum("total")).head().getLong(0)
    assert(after1 === (0L until 100).sum)

    // more data arrives → restart the view (AvailableNow) → result reflects it
    spark.range(100, 200).selectExpr("id % 5 AS g", "id AS v")
      .write.mode("append").parquet(dir)
    val q2 = MaterializedView.liveView(agg, "live_totals")
    q2.processAllAvailable(); q2.stop()
    val after2 = spark.table("live_totals").agg(sum("total")).head().getLong(0)
    assert(after2 === (0L until 200).sum)
  }

  test("hop windows double-count rows across overlapping windows") {
    val ev = graft.engine.Tables.events(spark, sfDir)
    val total = ev.count()
    val hopSum = ev.groupBy(TimeWindows.hop(col("ts"), "30 minutes", "1 hour"))
      .agg(count(lit(1)).as("n")).agg(sum("n")).head().getLong(0)
    assert(hopSum === 2 * total) // size/slide = 2 windows per event
  }

  test("streaming dedupe by key within watermark") {
    val dir = tempDir("graft-dedup").toString
    Seq((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:01"), 1L),
        (ts("2024-01-01 10:00:02"), 2L))
      .toDF("ts", "k").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("ts timestamp, k long").parquet(dir)
    val q = TimeWindows.dedupeStream(stream, "ts", "1 hour", Seq("k"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(spark.sql("SELECT count(DISTINCT k) FROM dedup_out").head().getLong(0) === 2)
    assert(spark.sql("SELECT count(1) FROM dedup_out").head().getLong(0) === 2)
  }

  test("mapGroupsWithState running counters") {
    val dir = tempDir("graft-state").toString
    Seq((1L, 10.0), (1L, 5.0), (2L, 1.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema("k long, v double").parquet(dir)
      .as[(Long, Double)]
    val q = TimeWindows.runningCounters(stream)
      .writeStream.outputMode("update").format("memory").queryName("counter_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT key, n, total FROM counter_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 15.0), (2L, 1L, 1.0)))
  }

  test("incremental MV: state rows per batch, merged read = full aggregate") {
    val src = tempDir("mv-src").toString
    val state = tempDir("mv-state").toString + "/states"
    val ckpt = tempDir("mv-ckpt").toString
    val ev = graft.engine.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value"))
    // two "insert blocks"
    ev.filter(col("user_id") < 25).write.mode("overwrite").parquet(src)
    val stream1 = spark.readStream.schema(ev.schema).parquet(src)
    val q1 = graft.streaming.MaterializedView.attachIncremental(
      stream1, Seq("user_id"), col("value"), col("event_type"), state, ckpt)
    q1.awaitTermination()
    ev.filter(col("user_id") >= 25).write.mode("append").parquet(src)
    val stream2 = spark.readStream.schema(ev.schema).parquet(src)
    val q2 = graft.streaming.MaterializedView.attachIncremental(
      stream2, Seq("user_id"), col("value"), col("event_type"), state, ckpt)
    q2.awaitTermination()

    val mv = graft.streaming.MaterializedView.read(spark, state, Seq("user_id"))
      .select(col("user_id"), round(col("sum_merged"), 2).as("s"),
        col("count_merged").as("n"), col("uniq_merged").cast("long").as("u"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    val direct = ev.groupBy("user_id")
      .agg(round(sum("value"), 2).as("s"), count(lit(1)).as("n"),
        countDistinct("event_type").as("u"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(mv.keySet === direct.keySet)
    direct.foreach { case (k, (s, n, u)) =>
      val (ms, mn, mu) = mv(k)
      assert(mn === n && mu === u, s"user $k count/uniq")
      assert(math.abs(ms - s) < 0.05, s"user $k sum $ms vs $s")
    }
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
