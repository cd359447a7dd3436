package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // only — the driver always calls with exactly two args)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // progress marker to stderr: interleaves with Spark WARNs so a
      // warning in the log attributes to the query that produced it
      System.err.println(s"[verify] $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // bound cache retention to one query (see IvfIndex.assignCellsTree's
      // retention note): each lane's in-plan caches die with its dump
      spark.catalog.clearCache()
    }
    writeOracleSql(outDir, SparkEntry.oracleSql.toSeq)
    spark.stop()
  }

  /** `<outDir>/oracle_sql.json`: lane name -> the DuckDB SQL that checks it. */
  def writeOracleSql(outDir: String, sqls: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      sqls.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // oracle compare's json.load fail and silently zero the whole check.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
