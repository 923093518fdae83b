package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json (SparkEntry.oracleSql and the replay oracles of
  * `VectorQueries`), for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver passes exactly two args — all queries)
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val spark = graft.engine.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the replay oracles export the index decision sets of the approximate
    // vector queries as DuckDB VALUES; only this dump pays for the export
    val replays = graft.queries.VectorQueries.replayOracles
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, oracle) =>
        try Some(name -> oracle(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name replay oracle failed: ${e.getMessage}")
          None
        }
      }
    val json = (SparkEntry.oracleSql ++ replays)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
