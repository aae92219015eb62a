package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.TaskContext

/** In-memory span and counter recorder for the traced run.
  *
  * Spans are recorded by the benchmark around its calls into graft's
  * public functions, never from inside graft. Every span carries the op
  * id of the client operation it belongs to; work done in Spark tasks is
  * attributed through the `lakebench.op` local property, which `Ctx.op`
  * sets for every op and Spark copies from the submitting thread onto
  * every job and task. Times are epoch nanoseconds so that they line up
  * with the millisecond stamps Spark reports for jobs and Catalyst
  * phases. */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Long, parent: Long, op: String, name: String,
      startNs: Long, endNs: Long)

  val OpProperty = "lakebench.op"

  private val ids = new AtomicLong(1)
  private val tracedOps = ConcurrentHashMap.newKeySet[String]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(String, Long)]

  /** Epoch-ns clock with nanoTime resolution. */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + offsetNs

  /** Whether `op` is an op of the traced run that runs under [[op]]. */
  def isTraced(op: String): Boolean = enabled && op != null && tracedOps.contains(op)

  /** Traced op of the calling thread: the client thread's own op, or inside
    * a Spark task, the op whose job launched the task; null outside a
    * traced op. */
  def currentOp: String = {
    val c = current.get()
    if (c != null) c._1
    else {
      val tc = TaskContext.get()
      val op = if (tc == null) null else tc.getLocalProperty(OpProperty)
      if (isTraced(op)) op else null
    }
  }

  def onDriver: Boolean = TaskContext.get() == null

  /** Run `f` as the root span of op `opId`, whose id the calling thread
    * has already set as its `lakebench.op` local property; everything it
    * calls is attributed to the op. */
  def op[A](opId: String, kind: String)(f: => A): A = {
    tracedOps.add(opId)
    val id = ids.getAndIncrement()
    current.set((opId, id))
    val start = nowNs()
    try f
    finally {
      spans.add(Span(id, 0L, opId, s"op.$kind", start, nowNs()))
      current.remove()
    }
  }

  /** Child span of the calling thread's innermost open span. Outside a
    * traced op this only runs `f`. */
  def span[A](name: String)(f: => A): A = {
    val c = current.get()
    if (!enabled || c == null) return f
    val id = ids.getAndIncrement()
    current.set((c._1, id))
    val start = nowNs()
    try f
    finally {
      spans.add(Span(id, c._2, c._1, name, start, nowNs()))
      current.set(c)
    }
  }

  /** A span whose times were measured elsewhere (Spark jobs, Catalyst
    * phases); its parent is resolved later by time containment. */
  def external(op: String, name: String, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.getAndIncrement(), -1L, op, name, startNs, endNs))

  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, LongAdder]]()

  def count(name: String, n: Long = 1L): Unit = {
    if (!enabled) return
    val op = currentOp
    if (op != null) countFor(op, name, n)
  }

  def countFor(op: String, name: String, n: Long): Unit =
    counters.computeIfAbsent(op, _ => new ConcurrentHashMap[String, LongAdder]())
      .computeIfAbsent(name, _ => new LongAdder).add(n)

  def countersByOp: Map[String, Map[String, Long]] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (op, m) =>
      op -> m.asScala.map { case (k, v) => k -> v.sum() }.toMap
    }.toMap
  }
}
