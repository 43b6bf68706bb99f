package graft.perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Spark-listener counts for one traced pass: jobs, tasks, task run
  * time, time tasks waited between stage submission and launch, shuffle,
  * spill and task-result bytes.
  */
final class SparkCounters extends SparkListener {
  private val jobs, tasks, runMs, waitMs, shuffleBytes, spillBytes, resultBytes =
    new LongAdder
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    Option(stageSubmitted.get(e.stageId)).foreach(s =>
      waitMs.add(math.max(0L, e.taskInfo.launchTime - s)))
    Option(e.taskMetrics).foreach { m =>
      runMs.add(m.executorRunTime)
      shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.add(m.resultSize)
    }
  }

  /** Listener delivery is asynchronous: wait until the task count holds
    * still for two consecutive 50 ms polls (at most 5 s).
    */
  def settle(): Unit = {
    var last = tasks.sum()
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 5000) {
      Thread.sleep(50)
      waited += 50
      val now = tasks.sum()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs.sum(), "tasks" -> tasks.sum(),
    "task_run_ms" -> runMs.sum(), "task_wait_ms" -> waitMs.sum(),
    "shuffle_bytes" -> shuffleBytes.sum(), "spill_bytes" -> spillBytes.sum(),
    "result_bytes" -> resultBytes.sum())
}
