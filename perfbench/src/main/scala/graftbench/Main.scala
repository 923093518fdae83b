package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.engine.{GraftExtensions, GraftSession}

/** One operation of a timed window. `ok`/`err` can be set after the
  * operation ends, by checks that run outside the timed interval.
  */
final class OpRec(val id: Long, val kind: String, val name: String,
    val window: String, val startMs: Double) {
  @volatile var endMs = 0.0
  @volatile var ok = true
  @volatile var err = ""
  @volatile var rows = 0L
  def fail(msg: String): Unit = if (ok) { ok = false; err = msg }
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
    "window" -> window, "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok,
    "err" -> err, "rows" -> rows)
}

/** A workload: set-up, an untimed warm-up and a seeded stream of
  * operations driven by a closed loop of `clients` threads.
  */
trait Workload {
  def clients: Int
  def setup(b: Bench): Unit
  def warmup(b: Bench): Unit
  /** Runs operation `i` of the stream on the calling client thread. */
  def op(b: Bench, i: Long, window: String): Unit
  /** Operations per round. A window runs whole rounds, so every run of a
    * workload measures the same mix of work.
    */
  def round: Int
  /** Checks that need work outside the timed windows; extra report fields. */
  def finish(b: Bench): Map[String, Any]
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String,
    expected: String, pin: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"),
      need("expected"), m.get("pin"))
  }
}

/** Shared state of one benchmark process. */
final class Bench(val args: Args, val spark: SparkSession) {
  val cpus: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark.sparkContext)
  val listener = new OpListener
  private val opIds = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val setupTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def dir(name: String): String = {
    val f = new File(args.work, name); f.mkdirs(); f.getAbsolutePath
  }

  /** Times a set-up step; the time goes into `setup_s` and the report. */
  def setupStep[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    setupTimes(name) = setupTimes.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  private val checks = new ConcurrentLinkedQueue[() => Unit]()

  /** Runs one operation: `body` returns what the caller received, and the
    * operation ends when it returns. `check` is queued and runs in
    * [[runChecks]], outside every timed window.
    */
  def timed[A](kind: String, name: String, window: String)(body: => A)
      (check: (OpRec, A) => Unit): Unit = {
    val rec = new OpRec(opIds.incrementAndGet(), kind, name, window, tracer.nowMs)
    val result =
      try Some(tracer.span("driver.op", rec.id)(body))
      catch { case e: Throwable => rec.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    rec.endMs = tracer.nowMs
    ops.add(rec)
    println(f"op $window%s $kind%s $name%s ${rec.endMs - rec.startMs}%.1f ms")
    result.foreach(r => checks.add(() => check(rec, r)))
  }

  /** Runs the queued checks on `cpus` threads; some compute a reference
    * answer through Spark.
    */
  def runChecks(): Unit = parallel(cpus) {
    var c = checks.poll()
    while (c != null) { c(); c = checks.poll() }
  }

  /** Runs `body` on `n` threads and waits for all of them. */
  def parallel(n: Int)(body: => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until n).map { _ =>
      val t = new Thread(() => try body catch { case e: Throwable => failure.compareAndSet(null, e) })
      t.start(); t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }

  /** Forces planning in its own span, then collects: an operation ends
    * when its rows reach the caller.
    */
  def collect(df: DataFrame): (Seq[String], Seq[Row]) = {
    if (tracer.enabled) tracer.span("plans.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("spark.exec")(df.collect())
    (df.columns.toSeq, rows.toSeq)
  }

  /** Closed loop: each client issues its next operation when the previous
    * one returns. Once `seconds` have passed, no operation past the end of
    * the current round of `round` operations starts. Every window starts
    * the stream from its beginning. Returns (start, end) ms.
    */
  def loop(w: Workload, seconds: Double, window: String, round: Int): (Double, Double) = {
    val counter = new AtomicLong(0)
    val limit = new AtomicLong(Long.MaxValue)
    val start = tracer.nowMs
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { _ =>
      val t = new Thread(() => {
        var i = counter.getAndIncrement()
        if (System.nanoTime() >= deadline)
          limit.compareAndSet(Long.MaxValue, (i + round - 1) / round * round)
        while (i < limit.get) {
          w.op(this, i, window)
          i = counter.getAndIncrement()
          if (System.nanoTime() >= deadline)
            limit.compareAndSet(Long.MaxValue, (i + round - 1) / round * round)
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val end = (start +: ops.asScala.filter(_.window == window).map(_.endMs).toSeq).max
    (start, end)
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** Bytes of all regular files under `path`. */
  def bytesUnder(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

object Main {
  def session(cpus: Int, work: String): SparkSession = {
    val spark = GraftSession.withEngineConfs(
      SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.install(spark)
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    val spark = session(cpus, args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val b = new Bench(args, spark)
    b.setupTimes("engine.session") = sessionS
    args.pin match {
      case Some(verifyDir) => CatalogWorkload.pin(b, verifyDir)
      case None => run(b)
    }
    spark.stop()
  }

  private def run(b: Bench): Unit = {
    val args = b.args
    val w: Workload = args.workload match {
      case "search" => new SearchWorkload(args.seed)
      case "analytics" => CatalogWorkload.analytics(b)
      case "pipeline" => CatalogWorkload.pipeline(b)
      case "ingest" => new IngestWorkload(args.seed)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup(b)
    b.setupStep("engine.warmup")(w.warmup(b))
    b.runChecks()
    // The end-to-end window runs untraced. A traced run measures untraced
    // and traced windows in the order U T T U, each at least a quarter of
    // the time and half a round (the same operations, as every window
    // restarts the stream), so the tracing overhead is measured in one
    // process and a steady drift (the JVM still warming) falls on both
    // sides alike.
    val windows =
      if (!args.trace) Seq("main" -> b.loop(w, args.seconds, "main", w.round))
      else Seq("untraced", "traced", "traced", "untraced").zipWithIndex.map { case (name, i) =>
        if (name == "traced") {
          b.spark.sparkContext.addSparkListener(b.listener)
          b.tracer.enabled = true
        }
        val span = b.loop(w, args.seconds / 4, name, math.max(1, w.round / 2))
        b.tracer.enabled = false
        // deliver the window's last events before the listener leaves
        org.apache.spark.sql.graft.shim.waitListenerBus(b.spark.sparkContext)
        b.spark.sparkContext.removeSparkListener(b.listener)
        s"$name.$i" -> span
      }
    b.runChecks()
    val report = w.finish(b)
    // Spark's ContextCleaner frees blocks of collected RDDs and broadcasts
    // asynchronously after a GC; let it finish before the final count.
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(500); System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val out = Map(
      "workload" -> args.workload, "seed" -> args.seed, "cpus" -> b.cpus,
      "clients" -> w.clients, "trace" -> args.trace,
      "setup" -> b.setupTimes.toMap,
      "windows" -> windows.map { case (n, (s, e)) => n -> Map("start_ms" -> s, "end_ms" -> e) }.toMap,
      "heap_retained_mb" -> mem.getUsed / (1024.0 * 1024.0),
      "ops" -> b.ops.asScala.toSeq.sortBy(_.id).map(_.toMap),
      "report" -> (b.extra.toMap ++ report),
      "spans" -> b.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> b.listener.jobList,
      "groups" -> b.listener.groupTotals)
    Files.writeString(Paths.get(args.out), Serialization.write(out)(DefaultFormats))
  }
}
