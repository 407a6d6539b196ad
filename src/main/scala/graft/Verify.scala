package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt, cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // dev knob (same contract as Bench's): restrict the dump to the
    // named queries while iterating on one gate row. The driver never
    // sets it, so the per-round artifact is always the full suite.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // loud, impossible-to-miss: a leaked dev filter in a driver/CI
    // environment would otherwise produce a silently PARTIAL artifact
    only.foreach { names =>
      System.err.println(
        s"[verify] *** SPARK_GRAFT_ONLY ACTIVE — dumping ONLY ${names.size} " +
          s"of ${SparkEntry.queries.size} queries (${names.mkString(",")}); " +
          "this output is NOT a full correctness artifact ***")
      Files.write(Paths.get(outDir, "PARTIAL_DUMP.txt"),
        ("SPARK_GRAFT_ONLY=" + names.mkString(",") + "\n").getBytes("UTF-8"))
    }
    SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
