package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.{Sinks, Sources}
import graft.ops.{Insights, LoanPipeline, ModeAggregator, ModeFill, Timestamps}

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * process, and checks what it leaves in `--out`.
  *
  * Usage: perfbench.Main --mode probe|etl|lanes --in <path> --out <dir>
  *   --seconds <s> --trace 0|1 [--lanes <file>] [--ties <col=value;...>]
  *
  * Every mode first builds a `local[nproc]` session with `graft.Bench`'s
  * settings, then prints `[perfbench] ready`; `run.py` times the process
  * up to that line as set-up. `probe` stops there. The other modes write
  * `result.json` (and, traced, `spans.jsonl`) into `--out`. Calls are a
  * closed loop: each starts when the previous one has returned.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(s"[perfbench] session local[$cpus] " +
      Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone", "spark.sql.ansi.enabled",
        "spark.sql.legacy.parquet.nanosAsLong", "spark.ui.enabled", "spark.sql.codegen.cache.maxEntries")
        .map(k => s"$k=${spark.conf.get(k)}").mkString(" "))
    println(s"[perfbench] ready ${(System.currentTimeMillis() - jvmStart) / 1e3} s after JVM start")
    Console.out.flush()
    try opts("mode") match {
      // a set-up probe has nothing to clean up but Spark's scratch
      // directories, which run.py removes with the rest of its work
      // directory
      case "probe" => Runtime.getRuntime.halt(0)
      case mode =>
        val out = opts("out")
        val seconds = opts("seconds").toDouble
        Files.createDirectories(Paths.get(out))
        val tracer = new Tracer(spark, opts.getOrElse("trace", "0") == "1")
        val result =
          if (mode == "etl") etl(spark, tracer, opts("in"), out, seconds, opts.getOrElse("ties", ""))
          else lanes(spark, tracer, opts("in"), out, seconds,
            Files.readAllLines(Paths.get(opts("lanes"))).toArray.map(_.toString.trim).filter(_.nonEmpty).toSeq)
        if (tracer.enabled) tracer.writeSpans(s"$out/spans.jsonl")
        Files.writeString(Paths.get(s"$out/result.json"), Json.render(result))
    } finally spark.stop()
  }

  /** The session `graft.Bench` builds, with its core count taken from the
    * machine. `graft.Bench`'s warm-up query is left out: set-up ends when
    * the session is ready, and the first call pays what a fresh process
    * pays.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def storage(spark: SparkSession): Map[String, Double] = {
    val held = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    Map(
      "storage.retained_rdds" -> held.length.toDouble,
      "storage.retained_mb" -> held.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0))
  }

  private def error(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  /** `etl`: `LoanPipeline.runEtl` calls on the fresh JVM, the first one
    * as the reference's Airflow task makes it, more while `seconds` last.
    * The returned results are kept, as a caller of today's API keeps
    * them. Traced, one call is made stage by stage in `runEtl`'s order
    * with a span around each stage; then the two single-pass mode fills
    * are timed on the same raw frame.
    */
  private def etl(spark: SparkSession, tr: Tracer, csv: String, out: String, seconds: Double,
      ties: String): Map[String, Any] = {
    val parquet = s"$out/parquet"
    val insightsPath = s"$out/insights.json"
    if (!tr.enabled) {
      val kept = scala.collection.mutable.ArrayBuffer.empty[LoanPipeline.Result]
      val start = System.nanoTime()
      val calls = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      while (calls.isEmpty || secondsSince(start) < seconds) {
        val t0 = System.nanoTime()
        val res = Try(LoanPipeline.runEtl(spark, csv, parquet, insightsJsonPath = Some(insightsPath)))
        res.foreach(kept += _)
        calls += Map("name" -> "runEtl", "seconds" -> secondsSince(t0), "error" -> res.failed.toOption.map(error))
      }
      return Map("calls" -> calls.toSeq)
    }

    val before = Snapshot.take(tr)
    val t0 = System.nanoTime()
    var raw, cleaned: DataFrame = null
    val res = Try(tr.span("etl.call") {
      raw = tr.span("io.infer")(Sources.csvInferred(spark, csv))
      val filled = tr.span("ops.modefill")(ModeFill.fillNullsWithMode(raw))
      cleaned = tr.span("ops.split")(Timestamps.splitTimestamp(filled, "timestamp").cache())
      tr.span("io.parquet_write")(Sinks.parquetOverwrite(cleaned, parquet))
      tr.span("ops.insights") {
        Sinks.writeTextFile(Insights.toJson(Insights.compute(cleaned)), insightsPath)
      }
    })
    val callSeconds = secondsSince(t0)
    val window = Snapshot.take(tr) - before
    val layers = storage(spark)

    // The tie columns and the value the reference fill puts in them:
    // the count of that value after each fill shows which value won.
    val tieRef = ties.split(";").filter(_.contains("=")).map { kv =>
      val Array(c, v) = kv.split("=", 2)
      c -> v
    }.toSeq
    def tieCounts(df: DataFrame): Map[String, Long] = {
      val row = df.select(tieRef.map { case (c, v) =>
        val hit = if (v.isEmpty) col(c).isNull else col(c) === lit(v).cast(df.schema(c).dataType)
        count(when(hit, 1)).as(c)
      }: _*).head()
      tieRef.indices.map(i => tieRef(i)._1 -> row.getLong(i)).toMap
    }
    val variants = Seq[(String, DataFrame => DataFrame)](
      "single_pass" -> (df => ModeFill.fillNullsWithModeSinglePass(df)),
      "aggregator" -> (df => ModeAggregator.fillNullsWithMode(df)))
    val fills = if (raw == null) Map.empty[String, Any] else variants.map { case (name, fill) =>
      val t = System.nanoTime()
      val r = Try(fill(raw))
      name -> Map("seconds" -> secondsSince(t), "tie_counts" -> r.toOption.map(tieCounts),
        "error" -> r.failed.toOption.map(error))
    }.toMap
    val refTies = Option(cleaned).map(tieCounts)

    val stage = Seq("io.infer", "ops.modefill", "ops.split", "io.parquet_write", "ops.insights")
      .flatMap { n =>
        val (s, j) = tr.total(n)
        Seq(s"${n}_s" -> s, s"${n}_jobs" -> j.toDouble)
      }.toMap
    Map(
      "calls" -> Seq(Map("name" -> "runEtl", "seconds" -> callSeconds, "error" -> res.failed.toOption.map(error))),
      "layers" -> (window ++ layers ++ stage ++
        Map("trace.wall_s" -> callSeconds, "trace.overhead_s" -> tr.blockedSeconds)),
      "fills" -> fills,
      "reference_tie_counts" -> refTies)
  }

  /** `lanes`: every listed `SparkEntry.queries` lane in name order. The
    * first pass runs on the cold JVM and writes each result as parquet for
    * the oracle check; then warm passes, each result consumed by a `noop`
    * write as in `graft.Bench`, repeat while `seconds` last; traced, one
    * more warm pass runs with spans around each lane's construction (the
    * time inside `fn(spark, dir)`) and its final action.
    */
  private def lanes(spark: SparkSession, tr: Tracer, dir: String, out: String, seconds: Double,
      names: Seq[String]): Map[String, Any] = {
    val all = SparkEntry.queries
    val known = names.filter(all.contains)
    def pass(sink: (String, DataFrame) => Unit): Seq[Map[String, Any]] = known.map { name =>
      val t0 = System.nanoTime()
      val err = Try(tr.span(s"lane:$name") {
        sink(name, tr.span("queries.construct")(all(name)(spark, dir)))
      }).failed.toOption.map(error)
      val s = secondsSince(t0)
      // outside the timed window, as in graft.Bench: caches a lane makes
      // inside its plan die with the lane
      spark.catalog.clearCache()
      Map("name" -> name, "seconds" -> s, "error" -> err)
    }
    def noop(name: String, df: DataFrame): Unit =
      tr.span("queries.execute")(df.write.mode("overwrite").format("noop").save())
    def wall(p: Seq[Map[String, Any]]) = p.map(_("seconds").asInstanceOf[Double]).sum

    val cold = tr.suspended(pass((name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$name")))
    val warm = scala.collection.mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    val start = System.nanoTime()
    while (warm.isEmpty || secondsSince(start) < seconds) {
      // settle the heap between passes, as graft.Bench does between reps
      System.gc()
      warm += tr.suspended(pass(noop))
    }
    val held = storage(spark)
    val traced = if (!tr.enabled) Map.empty[String, Any] else {
      System.gc()
      val before = Snapshot.take(tr)
      val t = pass(noop)
      val window = Snapshot.take(tr) - before
      val (cs, cj) = tr.total("queries.construct")
      val (es, _) = tr.total("queries.execute")
      window ++ Map(
        "queries.construct_s" -> cs, "queries.construct_jobs" -> cj.toDouble, "queries.execute_s" -> es,
        "trace.wall_s" -> wall(t), "trace.overhead_s" -> tr.blockedSeconds)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => known.contains(k) }
    Files.createDirectories(Paths.get(s"$out/check"))
    Files.writeString(Paths.get(s"$out/check/oracle_sql.json"), Json.render(oracle))
    Map("missing" -> names.filterNot(all.contains), "cold" -> cold, "warm" -> warm.toSeq,
      "layers" -> (held ++ traced))
  }
}
