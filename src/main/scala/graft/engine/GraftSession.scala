package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}

/** Session factory for the graft engine.
  *
  * Mirrors the reference's server bootstrap (MyScaleDB registers search
  * functions + storage at startup; see
  * `/root/reference/src/Functions/registerFunctions.cpp:9-15`): here we
  * install our Catalyst extensions and register SQL-visible functions on
  * an existing or new SparkSession.
  */
object GraftSession {

  /** The one session factory: `local[cpus]` with `cpus` shuffle
    * partitions, UTC, the UI off, nanosecond parquet timestamps read as
    * longs (see [[Tables.events]]), [[GraftExtensions]] and
    * [[engineConfs]], log level ERROR, and everything [[install]]
    * registers. Bench, Verify, the tools and the test suite all build
    * their session here, so each of them runs the plans Bench times.
    */
  def local(cpus: Int): SparkSession = {
    val spark = withEngineConfs(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    install(spark)
  }

  /** The engine's session-conf posture (guide §2.2/§3.1). [[local]] and
    * perfbench's session both apply it, so the oracle gate, the specs and
    * the plan dumps check the physical plans Bench times.
    *
    *  - Shuffled-hash joins where their byte-sized conditions hold:
    *    `preferSortMergeJoin=false` plus AQE's runtime SMJ→SHJ conversion
    *    for build maps under 128m; huge partitions at 100 TB keep
    *    sort-merge. r21 interleaved A/B over a 12-query join-heavy
    *    sample: 20.97 → 19.56 s (−7 %), no query regressed beyond noise.
    *  - Post-shuffle partitions coalesce by bytes (64m advisory,
    *    `parallelismFirst=false`): the partition count derives from data
    *    volume at any scale, not from the core count. r21 interleaved A/B
    *    over a 10-query mixed sample: 19.71 → 16.97 s (−14 %), worst
    *    regression +0.18 s.
    *
    * To A/B a value, change it here and time the checkout against its
    * parent.
    */
  def engineConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "128m",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
  )

  /** Apply [[engineConfs]] to a builder. */
  def withEngineConfs(b: SparkSession.Builder): SparkSession.Builder =
    engineConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Register everything onto a session: [[local]]'s, or one created
    * elsewhere (perfbench builds its own to set its local and warehouse
    * dirs).
    */
  def install(spark: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.registerAll(spark)
    graft.functions.ClickHouseCompat.install(spark)
    graft.multimodal.Connections.installNative(spark) // SQL getObject()
    graft.operators.Dictionaries.install(spark) // dictGet<T> name surface
    graft.operators.JoinSetStorage.install(spark) // joinGet / inSet surface
    QueryLog.install(spark) // system.query_log analog
    spark
  }
}

/** SparkSessionExtensions entry point: injects the top-K search rewrite
  * (reference: `ORDER BY distance(...) LIMIT k` is recognized and turned
  * into an index/brute top-K scan, `/root/reference/src/Interpreters/
  * ExpressionAnalyzer.cpp:216-240`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(spark => graft.plans.TopKSearchRewrite(spark))
    ext.injectOptimizerRule(spark => graft.plans.ProjectionRewrite(spark))
  }
}

/** Table loading over the driver-provided parquet layout. */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.LongType

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` carries nanosecond timestamps, which Spark's parquet reader
    * rejects; sessions set `spark.sql.legacy.parquet.nanosAsLong` and this
    * loader restores `ts` to TIMESTAMP_NTZ at microsecond precision
    * (integer division — never a double cast, which would lose precision
    * above 2^53 ns).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ => df
    }
  }
}
