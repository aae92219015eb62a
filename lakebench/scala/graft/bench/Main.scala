package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

/** JVM side of the benchmark: runs one workload of a plan written by
  * `run.py` and writes raw measurements (op latencies, set-up times,
  * check outcomes, spans, counters) as JSON. Metrics are computed from
  * that file by `report.py`.
  *
  * Usage: Main <plan.json> <result.json> */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new java.io.File(args(0)))
    val ctx = new Ctx(plan)
    try {
      plan.get("workload").asText() match {
        case "point_reads" | "large_log_reads" => ReadWorkload.run(ctx)
        case "ingest_mix" => IngestWorkload.run(ctx)
        case "dedup_pipeline" => DedupWorkload.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.finish()
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(new java.io.File(args(1)), ctx.result)
    } finally ctx.spark.stop()
  }
}

/** One run's session, plan and measurement sink. */
final class Ctx(val plan: JsonNode) {
  import Main.mapper

  val traced: Boolean = plan.get("trace").asInt() == 1
  val seconds: Double = plan.get("seconds").asDouble()
  val work: String = plan.get("work").asText()
  val params: JsonNode = plan.get("params")
  val cores: Int = plan.get("cores").asInt()

  val sparkConf: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.default.parallelism" -> cores.toString,
    "spark.ui.enabled" -> "false",
    // Spark keeps a history of finished jobs, stages, tasks and SQL
    // executions for its UI even when the UI is off; it grows with the
    // number of ops a run happens to complete, so it is kept short and
    // live_heap_mb counts the state the program retains
    "spark.ui.retainedJobs" -> "20",
    "spark.ui.retainedStages" -> "20",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.ui.retainedExecutions" -> "20",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse") ++
    (if (traced) Seq(
      "spark.hadoop.fs.file.impl" -> classOf[CountingFileSystem].getName)
     else Nil)

  private val sessionStart = System.nanoTime()
  val spark: SparkSession = {
    val b = SparkSession.builder().appName("lakebench")
    sparkConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")

  private val collector = new SparkCollector
  spark.sparkContext.addSparkListener(collector)
  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean

  if (traced) {
    val fs = graft.delta.log.LogSegment.fs(spark, new org.apache.hadoop.fs.Path(work))
    require(fs.isInstanceOf[CountingFileSystem],
      s"traced run expects the counting filesystem, got ${fs.getClass.getName}")
    Trace.enabled = true
  }

  val result: ObjectNode = mapper.createObjectNode()
  val info: ObjectNode = result.putObject("info")
  private val phases = info.putObject("phase_s")
  phases.put("session", (System.nanoTime() - sessionStart) / 1e9)
  val layer: ObjectNode = result.putObject("layer")
  private val opRecords = new ConcurrentLinkedQueue[ObjectNode]()
  private val checksRun = new AtomicLong
  private val checkFailures = new ConcurrentLinkedQueue[String]()
  private val runChecksRun = new AtomicLong
  private val runCheckFailures = new ConcurrentLinkedQueue[String]()

  {
    val c = info.putObject("spark_conf")
    sparkConf.foreach { case (k, v) => c.put(k, v) }
    info.set[JsonNode]("params", params)
  }

  /** Runs one phase of the run and records its wall time (printed with
    * the metrics, so that the run's time budget is visible). */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally phases.put(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up repetitions, each timed in wall time and in CPU time (the
    * client thread plus the Spark tasks it launched, as for ops); returns
    * the per-repetition results. */
  def setup[A](repeats: Int)(f: Int => A): Seq[A] = phase("setup") {
    val arr = result.putArray("setup_s")
    (0 until repeats).map { r =>
      val id = s"setup-$r"
      spark.sparkContext.setLocalProperty(Trace.OpProperty, id)
      val cpu0 = threadMx.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      val a = f(r)
      arr.add((System.nanoTime() - t0) / 1e9)
      setupThreadCpuNs += id -> (threadMx.getCurrentThreadCpuTime - cpu0)
      spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
      a
    }
  }
  private val setupThreadCpuNs = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  /** Whether op number `i` of a client is traced: in the traced run every
    * second op is, so the untraced ones in between give the tracing
    * overhead under identical conditions. */
  def tracedOp(i: Int): Boolean = traced && i % 2 == 0

  private var measureStartNs = 0L
  def startMeasure(): Unit = {
    graft.delta.log.Replay.ReplayCounters.reset()
    gcStart = gcMs()
    measureStartNs = System.nanoTime()
  }
  def elapsedNs: Long = System.nanoTime() - measureStartNs
  def deadlineReached: Boolean = elapsedNs >= (seconds * 1e9).toLong
  def endMeasure(): Unit = {
    result.put("measure_s", (System.nanoTime() - measureStartNs) / 1e9)
    result.put("gc_ms", gcMs() - gcStart)
    val rc = graft.delta.log.Replay.ReplayCounters
    layer.put("replay.hits", rc.hit.get())
    layer.put("replay.incremental", rc.incremental.get())
    layer.put("replay.full", rc.full.get())
  }
  private var gcStart = 0L
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Runs and records one client op. `body` gets whether the op is traced
    * and the op id; it returns extra fields for the record. A thrown
    * exception marks the op failed. */
  def op(kind: String, client: Int, i: Int, traceKey: Int = -1)(
      body: (Boolean, String) => Map[String, Any]): Option[Map[String, Any]] = {
    val tr = tracedOp(if (traceKey >= 0) traceKey else i)
    val opId = s"$kind-$client-$i"
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, opId)
    val cpu0 = threadMx.getCurrentThreadCpuTime
    val start = System.nanoTime()
    val out = scala.util.Try {
      if (tr) Trace.op(opId, kind)(body(tr, opId)) else body(tr, opId)
    }
    val end = System.nanoTime()
    val threadCpuNs = threadMx.getCurrentThreadCpuTime - cpu0
    sc.setLocalProperty(Trace.OpProperty, null)
    val rec = mapper.createObjectNode()
    rec.put("kind", kind).put("client", client).put("i", i).put("id", opId)
    rec.put("t_ms", (start - measureStartNs) / 1e6)
    rec.put("ms", (end - start) / 1e6)
    rec.put("thread_cpu_ms", threadCpuNs / 1e6)
    rec.put("traced", tr)
    rec.put("ok", out.isSuccess)
    out.failed.foreach(e => rec.put("error", e.toString.take(300)))
    out.toOption.foreach(_.foreach { case (k, v) => putAny(rec, k, v) })
    opRecords.add(rec)
    out.toOption
  }

  private def putAny(n: ObjectNode, k: String, v: Any): Unit = v match {
    case x: Int => n.put(k, x)
    case x: Long => n.put(k, x)
    case x: Double => n.put(k, x)
    case x: Boolean => n.put(k, x)
    case x: String => n.put(k, x)
    case _ => ()
  }

  /** Records the output check of one op. */
  def check(ok: Boolean, what: => String): Unit = {
    checksRun.incrementAndGet()
    if (!ok) checkFailures.add(what)
  }

  /** Records a check of the whole run (final table state, attribution). */
  def runCheck(ok: Boolean, what: => String): Unit = {
    runChecksRun.incrementAndGet()
    if (!ok) runCheckFailures.add(what)
  }

  /** Order-independent digest of a row set over named columns (rows
    * without a schema are taken to be in `cols` order): the row count and
    * the sum of per-row hashes. */
  def digest(rows: Iterable[Row], cols: Seq[String]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val values = if (r.schema == null) r.toSeq else cols.map(c => r.get(r.fieldIndex(c)))
      n += 1
      h += scala.util.hashing.MurmurHash3.seqHash(values).toLong
    }
    (n, h)
  }

  def finish(): Unit = {
    import scala.jdk.CollectionConverters._
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    val setupCpu = result.putArray("setup_cpu_s")
    setupThreadCpuNs.foreach { case (id, ns) =>
      setupCpu.add(ns / 1e9 + collector.taskCpuMs(id) / 1e3)
    }
    val ops = result.putArray("ops")
    opRecords.asScala.toSeq.sortBy(_.get("t_ms").asDouble()).foreach { rec =>
      // the op's CPU cost: its client thread plus the tasks it launched
      rec.put("cpu_ms", rec.get("thread_cpu_ms").asDouble() +
        collector.taskCpuMs(rec.get("id").asText()))
      ops.add(rec)
    }
    val checks = result.putObject("checks")
    checks.put("op_checks", checksRun.get())
    checks.put("op_failed", checkFailures.size())
    checks.put("run_checks", runChecksRun.get())
    checks.put("run_failed", runCheckFailures.size())
    val fl = checks.putArray("failures")
    (runCheckFailures.asScala ++ checkFailures.asScala).take(20).foreach(s => fl.add(s))
    // live heap: used heap after full collections, with the run's caches
    // still held by the session; the lowest of a few rounds, so that
    // objects Spark's cleaner releases late do not count
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed
    }
    result.put("live_heap_mb", used.min / 1048576.0)
    if (traced) {
      val spans = result.putArray("spans")
      Trace.spans.asScala.foreach { s =>
        spans.addObject().put("id", s.id).put("parent", s.parent)
          .put("op", s.op).put("name", s.name)
          .put("start_ns", s.startNs).put("end_ns", s.endNs)
      }
      val counters = result.putObject("counters")
      Trace.countersByOp.foreach { case (op, m) =>
        val o = counters.putObject(op)
        m.foreach { case (k, v) => o.put(k, v) }
      }
    }
  }

  def arr(n: JsonNode): Seq[JsonNode] = {
    import scala.jdk.CollectionConverters._
    n.elements().asScala.toSeq
  }
}
