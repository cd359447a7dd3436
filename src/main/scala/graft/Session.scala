package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and every spec takes
  * its session from here, so the numbers of different harnesses compare:
  * a setting that differs between Bench and Verify is a measurement bug.
  *
  * Fixed policy:
  *   - UTC session time zone;
  *   - non-ANSI: the reference semantics are Spark 3.4 defaults
  *     (`pyspark_etl.py` ran with them); library code uses `try_*` where
  *     it matters, so either setting is safe;
  *   - `nanosAsLong`, so every parquet timestamp shape the test tables
  *     have shipped can be read (normalized in [[Tables.events]]);
  *   - no UI;
  *   - a codegen cache sized for the whole suite: the default holds 100
  *     compiled classes, so a 260+-lane run evicts everything each rep and
  *     pays janino compile and JIT tier-up again (measured: identical-code
  *     re-runs drifted 7% median / 31% p90 per lane);
  *   - a fresh temp warehouse directory, so no run writes into its cwd;
  *   - WARN logging: at INFO a full `sbt test` wrote >0.5 GB of
  *     synchronous scheduler log lines.
  *
  * Shuffle partitions follow `SPARK_GRAFT_SHUFFLE_PARTS` when set, else
  * equal `cpus`. The override exists for scale gating: a ×100 ScaleGen
  * decade grows the per-partition working set ×100 at fixed partitions,
  * while a real cluster scales partitions with data.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
