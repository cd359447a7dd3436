package graft.tools

import graft.{Session, SparkEntry, Tally}

/** Per-lane profile: for each rep, the wall seconds of Bench's action (a
  * noop-sink write, then `clearCache()`) next to the [[graft.Tally]]
  * totals of that rep — jobs, stages, tasks, input, shuffle, spill, run,
  * CPU and GC time.
  *
  * Usage: runMain graft.tools.ProfileOne <sfDir> <name>[,<name>...] [reps=2]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Session.local()
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    val t = new Tally
    spark.sparkContext.addSparkListener(t)
    def drain(): Unit = org.apache.spark.graft.ListenerSync.drain(spark.sparkContext)
    names.foreach { name =>
      (1 to reps).foreach { i =>
        drain(); t.reset()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        def mb(v: Long): String = f"${v / 1048576.0}%.1f"
        println(f"$name rep$i: wall=$wall%.2fs jobs=${t.jobs.get}%d stages=${t.stages.get}%d tasks=${t.tasks.get}%d " +
          f"input=${mb(t.input.get)}MB(${t.inputRec.get}%d rec) shufW=${mb(t.shufW.get)}MB shufR=${mb(t.shufR.get)}MB " +
          f"spill=${mb(t.spill.get)}MB run=${t.runMs.get / 1000.0}%.1fs cpu=${t.cpuMs.get / 1000.0}%.1fs gc=${t.gcMs.get / 1000.0}%.1fs")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
