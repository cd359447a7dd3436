package graft.ops

import org.apache.spark.sql.SparkSession
import graft.io.{Sinks, Sources}

/** The reference's flagship end-to-end ETL (`pyspark_etl.py:48-64`,
  * `run_etl`): CSV (header + inferSchema) -> mode null-fill -> timestamp
  * split -> overwrite parquet + insights JSON.
  *
  * Scale departure from the reference: the insights read the parquet just
  * written instead of re-running the CSV scan, fill and split once per
  * insight action (SURVEY.md §3 step 6) — at 100 TB the reference makes
  * four full input scans. Nothing is cached, so a long-lived caller holds
  * no blocks between runs.
  */
object LoanPipeline {
  case class Result(insights: Insights.Summary)

  def runEtl(
      spark: SparkSession,
      inputPath: String,
      outputPath: String,
      timestampCol: String = "timestamp",
      insightsJsonPath: Option[String] = None): Result = {
    val filled = ModeFill.fillNullsWithMode(Sources.csvInferred(spark, inputPath))
    Sinks.parquetOverwrite(Timestamps.splitTimestamp(filled, timestampCol), outputPath)
    val insights = Insights.compute(spark.read.parquet(outputPath))
    insightsJsonPath.foreach(p => Sinks.writeTextFile(Insights.toJson(insights), p))
    Result(insights)
  }
}
