package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor counters, read from Spark's public listener APIs.
  * The listener bus is drained before every read, so a snapshot taken after
  * an action includes all of that action's tasks. */
final class Meter(spark: SparkSession, traced: Boolean) {
  private val jobs, stages, tasks = new AtomicLong
  private val waitNs, runMs, taskMs, cpuNs, gcMs = new AtomicLong
  private val shuffleWrite, shuffleRead, spill = new AtomicLong
  private val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val submitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]
  private val durations = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  // (max task ms, median task ms) of each completed stage, in completion order
  private val stageSpread = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      submitted.put((i.stageId, i.attemptNumber()),
        java.lang.Long.valueOf(i.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      // scheduler wait: stage submission to its first task launch
      val s = submitted.remove((e.stageId, e.stageAttemptId))
      if (s != null) waitNs.addAndGet((e.taskInfo.launchTime - s) * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      taskMs.addAndGet(e.taskInfo.duration)
      durations.synchronized {
        durations.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      submitted.remove(key)
      val d = durations.synchronized(durations.remove(key)).getOrElse(mutable.ArrayBuffer.empty)
      if (d.nonEmpty) {
        val sorted = d.sorted
        stageSpread.synchronized(stageSpread += ((sorted.last, sorted(sorted.size / 2))))
      }
    }
  }

  /** Driver phase times of every action the program runs through the
    * Dataset API (the ETL layers). `queryExecution.toRdd` bypasses this
    * listener, so the query mix passes its own through [[addPhases]]. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      addPhases(qe)
  }

  def addPhases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
  }

  spark.sparkContext.addSparkListener(listener)
  if (traced) spark.listenerManager.register(qeListener)

  def snapshot(): Meter.Snap = {
    org.apache.spark.sql.graft.shim.drainListenerBus(spark)
    Meter.Snap(jobs.get, stages.get, tasks.get, waitNs.get / 1e9, runMs.get / 1e3,
      taskMs.get / 1e3, cpuNs.get / 1e9, gcMs.get / 1e3, shuffleWrite.get,
      shuffleRead.get, spill.get, analysisMs.get / 1e3, optimizationMs.get / 1e3,
      planningMs.get / 1e3, stageSpread.synchronized(stageSpread.size))
  }

  /** max/median task time of the stage with the longest task among the
    * stages completed between two snapshots (1.0 when none ran). */
  def skew(from: Meter.Snap, to: Meter.Snap): Double =
    stageSpread.synchronized(stageSpread.slice(from.stageMark, to.stageMark).toList)
      .maxByOption(_._1)
      .map { case (mx, med) => mx.toDouble / math.max(med, 1L) }
      .getOrElse(1.0)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    if (traced) spark.listenerManager.unregister(qeListener)
  }
}

object Meter {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, waitS: Double,
                        runS: Double, taskS: Double, cpuS: Double, gcS: Double,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        analysisS: Double, optimizationS: Double,
                        planningS: Double, stageMark: Int) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      waitS - o.waitS, runS - o.runS, taskS - o.taskS, cpuS - o.cpuS, gcS - o.gcS,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
      analysisS - o.analysisS, optimizationS - o.optimizationS,
      planningS - o.planningS, stageMark)

    def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      waitS + o.waitS, runS + o.runS, taskS + o.taskS, cpuS + o.cpuS, gcS + o.gcS,
      shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill,
      analysisS + o.analysisS, optimizationS + o.optimizationS,
      planningS + o.planningS, o.stageMark)
  }
}

/** Meter deltas summed over the traced operations, with each operation's
  * skew, reported per operation (a landed day, or a query). */
final class OpTotals {
  private var sum: Option[Meter.Snap] = None
  private val skews = mutable.ArrayBuffer.empty[Double]

  def add(meter: Meter, from: Meter.Snap, to: Meter.Snap): Unit = {
    sum = Some(sum.fold(to - from)(_ + (to - from)))
    skews += meter.skew(from, to)
  }

  def metrics(ops: Int): Seq[(String, Double, String)] = {
    val l = sum.getOrElse(sys.error("no traced operation ran"))
    val per = 1.0 / ops
    Seq(
      ("driver.analysis_s", l.analysisS * per, "s"),
      ("driver.optimization_s", l.optimizationS * per, "s"),
      ("driver.planning_s", l.planningS * per, "s"),
      ("sched.jobs", l.jobs * per, "count"),
      ("sched.stages", l.stages * per, "count"),
      ("sched.tasks", l.tasks * per, "count"),
      ("sched.wait_s", l.waitS * per, "s"),
      ("exec.run_s", l.runS * per, "s"),
      ("exec.task_s", l.taskS * per, "s"),
      ("exec.cpu_s", l.cpuS * per, "s"),
      ("exec.gc_s", l.gcS * per, "s"),
      ("exec.shuffle_write_bytes", l.shuffleWrite * per, "bytes"),
      ("exec.shuffle_read_bytes", l.shuffleRead * per, "bytes"),
      ("exec.spill_bytes", l.spill * per, "bytes"),
      ("exec.skew", Main.median(skews.toSeq), "ratio"))
  }
}
