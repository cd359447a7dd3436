package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The one metrics listener: task-level totals of every job and stage that
  * completes between two [[reset]]s — where a lane's time goes (task
  * count, input bytes and records, i.e. the re-scan factor against the
  * table size, shuffle read/write, spill, GC, executor run/CPU time). A
  * 3000-line plan with 150 Exchanges may still run few stages if AQE
  * reuses them; only these counters settle it.
  *
  * Readers bracket the window with `ListenerSync.drain` on both edges, so
  * the asynchronous listener bus has delivered every event of the window.
  * Setting `SPARK_GRAFT_STAGES` also prints one line per completed stage.
  */
final class Tally extends SparkListener {
  val input, inputRec, shufW, shufR, spill, tasks, stages, jobs, runMs, cpuMs, gcMs = new AtomicLong(0L)

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val m = s.stageInfo.taskMetrics
    if (sys.env.contains("SPARK_GRAFT_STAGES"))
      println(f"    stage ${s.stageInfo.stageId}%4d tasks=${s.stageInfo.numTasks}%4d " +
        f"run=${m.executorRunTime / 1000.0}%6.2fs cpu=${m.executorCpuTime / 1e9}%6.2fs " +
        f"in=${m.inputMetrics.recordsRead}%9d rec shW=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%7.1fMB " +
        f"shR=${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%7.1fMB  [${s.stageInfo.name.take(60)}]")
    input.addAndGet(m.inputMetrics.bytesRead)
    inputRec.addAndGet(m.inputMetrics.recordsRead)
    shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    tasks.addAndGet(s.stageInfo.numTasks.toLong)
    stages.incrementAndGet()
    runMs.addAndGet(m.executorRunTime)
    cpuMs.addAndGet(m.executorCpuTime / 1000000L)
    gcMs.addAndGet(m.jvmGCTime)
  }

  def reset(): Unit =
    Seq(input, inputRec, shufW, shufR, spill, tasks, stages, jobs, runMs, cpuMs, gcMs).foreach(_.set(0L))
}
