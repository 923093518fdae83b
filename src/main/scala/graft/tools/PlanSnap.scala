package graft.tools

/** Snapshot `explain("formatted")` for named queries into per-query
  * files — the plan evidence format (`plans/r<N>/<query>_<suffix>.txt`
  * per optimization round, `plans/headline/<query>_plan.txt` for the
  * headline set). Usage:
  * `runMain graft.tools.PlanSnap <outDir> <suffix> <name>[,<name>...] [sfDir]`
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      sys.error("usage: PlanSnap <outDir> <suffix> <names> [sfDir]"))
    val suffix = args.lift(1).getOrElse("before")
    val names = args.lift(2).map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(sys.error("names required"))
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val spark = graft.engine.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { nm =>
      val fn = graft.SparkEntry.queries.getOrElse(nm,
        sys.error(s"unknown query $nm"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${nm}_$suffix.txt")
      java.nio.file.Files.writeString(p, txt + "\n")
      println(s"[plansnap] wrote $p")
    }
    spark.stop()
  }
}
