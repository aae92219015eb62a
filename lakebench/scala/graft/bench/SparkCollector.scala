package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spark-side metrics keyed by op id, registered in every run.
  *
  * Jobs are attributed to the op that launched them through the
  * [[Trace.OpProperty]] local property, which `Ctx.op` sets on the client
  * thread (the same job-attribution idea as the repository's JobProfile
  * tool: read the submitting thread's properties at job start). Every
  * task's CPU time rolls up to its op, which with the client thread's own
  * CPU time gives an op's CPU cost. For ops of the traced run, each job
  * also becomes a `spark.job` span and the other task metrics roll up as
  * counters. Catalyst phase times come from a DataFrame's
  * `queryExecution.tracker`. */
class SparkCollector extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]()
  private val cpuNs = new ConcurrentHashMap[String, LongAdder]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val op = Option(js.properties).map(_.getProperty(Trace.OpProperty)).orNull
    if (op != null) {
      js.stageIds.foreach(s => stageOp.put(s, op))
      if (Trace.isTraced(op)) jobs.put(js.jobId, (op, js.time))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val j = jobs.remove(je.jobId)
    if (j != null) {
      Trace.countFor(j._1, "spark.jobs", 1)
      Trace.countFor(j._1, "spark.job_ms", je.time - j._2)
      Trace.external(j._1, "spark.job", j._2 * 1000000L, je.time * 1000000L)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(te.stageId)
    val m = te.taskMetrics
    if (op != null && m != null) {
      cpuNs.computeIfAbsent(op, _ => new LongAdder)
        .add(m.executorCpuTime + m.executorDeserializeCpuTime)
      if (Trace.isTraced(op)) {
        def add(k: String, v: Long): Unit = Trace.countFor(op, k, v)
        add("spark.tasks", 1)
        add("spark.executor_run_ms", m.executorRunTime)
        add("spark.executor_cpu_ns", m.executorCpuTime)
        add("spark.input_bytes", m.inputMetrics.bytesRead)
        add("spark.shuffle_bytes",
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.output_records", m.outputMetrics.recordsWritten)
      }
    }
  }

  /** CPU time, in ms, of the Spark tasks op `op` launched. */
  def taskCpuMs(op: String): Double =
    Option(cpuNs.get(op)).map(_.sum() / 1e6).getOrElse(0.0)
}

object SparkCollector {
  /** Catalyst phase spans of an executed DataFrame, charged to `op`. */
  def recordPhases(op: String, df: DataFrame): Unit = {
    if (!Trace.enabled || op == null) return
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      Trace.external(op, s"catalyst.$phase", s.startTimeMs * 1000000L,
        s.endTimeMs * 1000000L)
      Trace.countFor(op, s"catalyst.${phase}_ms", s.durationMs)
    }
  }
}
