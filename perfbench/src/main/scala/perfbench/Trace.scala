package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Spark-side counters for one span, filled by [[Tracer]]'s listeners. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var exchanges = 0L
  /** Wall-clock intervals (epoch ms) of the jobs this span ran. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskCpuNs += o.taskCpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes; exchanges += o.exchanges; jobIntervals ++= o.jobIntervals
  }

  /** Length of the union of the job intervals, seconds. */
  def jobBusySeconds: Double = {
    var busy = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) busy += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) busy += curEnd - curStart
    busy / 1000.0
  }
}

/** One timed call into a layer. `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long,
    var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus the benchmark's own Spark listener.
  *
  * Each span is tagged on the driver thread with the local property
  * `perfbench.span`, which Spark copies into every job it submits. The
  * [[SparkListener]] attributes jobs, stages and task metrics to spans
  * through it. It also counts the exchanges in each SQL execution's plan
  * (the last adaptive re-plan, so the plan that ran) and attributes them
  * through the execution id that the execution's jobs carry. Spans are
  * kept in memory and written out when the run ends. When `enabled` is
  * false, `span` only runs its body: no listener is registered and
  * nothing is recorded. */
final class Tracer(val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val execExchanges = mutable.HashMap.empty[Long, Long]
  @volatile private var flushSeen = -1L

  /** Time spent in the listeners and in span bookkeeping, ns. */
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong
  def overheadSeconds: Double = overheadNs.get / 1e9

  private def charged[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charged(Tracer.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("perfbench.flush"))).foreach(v => flushSeen = v.toLong)
      props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).foreach { id =>
        jobSpan(e.jobId) = (id, e.time)
        e.stageIds.foreach(stageSpan(_) = id)
        val c = counters.getOrElseUpdate(id, new Counters)
        c.jobs += 1
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan(x.toLong) = id)
      }
    })
    override def onJobEnd(e: SparkListenerJobEnd): Unit = charged(Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) =>
        counters.getOrElseUpdate(id, new Counters).jobIntervals += ((t0, e.time))
      }
    })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged(Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = counters.getOrElseUpdate(id, new Counters)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
        }
      }
    })
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plan(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plan(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
    private def plan(executionId: Long, info: SparkPlanInfo): Unit = charged {
      val n = Tracer.countExchanges(info)
      Tracer.this.synchronized { execExchanges(executionId) = n }
    }
  }

  /** Register the listener on a session (a no-op when disabled). */
  def attach(spark: SparkSession): Unit = if (enabled) spark.sparkContext.addSparkListener(listener)

  def detach(spark: SparkSession): Unit = if (enabled) {
    flush(spark)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `body` as a span named `name`, nested in the current span. */
  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      val s = charged(synchronized {
        val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
          System.nanoTime(), System.currentTimeMillis())
        spans += s
        stack = s :: stack
        s
      })
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally charged {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        synchronized { stack = stack.tail }
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far:
    * submit a marker job and wait for the listener to see it (the bus is
    * ordered, so earlier events are in by then). */
  def flush(spark: SparkSession): Unit = if (enabled) {
    val sc = spark.sparkContext
    val marker = System.nanoTime()
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty("perfbench.flush", marker.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty("perfbench.flush", null)
      sc.setLocalProperty(SpanKey, prev)
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (flushSeen != marker && System.nanoTime() < deadline) Thread.sleep(5)
    // SQL execution-end events trail their last job; give them a moment
    Thread.sleep(50)
  }

  /** Counters of a span alone (not its children). */
  def own(spanId: Int): Counters = synchronized {
    val c = new Counters
    counters.get(spanId).foreach(c += _)
    c.exchanges = execSpan.collect { case (x, id) if id == spanId => execExchanges.getOrElse(x, 0L) }.sum
    c
  }

  def children(spanId: Int): Seq[Span] = spans.filter(_.parent == spanId).toSeq

  /** Counters of a span and all its descendants. */
  def total(spanId: Int): Counters = {
    val c = own(spanId)
    children(spanId).foreach(ch => c += total(ch.id))
    c
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val c = own(s.id)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> selfSeconds(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
      "task_cpu_s" -> c.taskCpuNs / 1e9, "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "exchanges" -> c.exchanges)
  }
}

object Tracer {
  private val ExchangeNodes = Set("Exchange", "ShuffleExchange", "BroadcastExchange")

  /** Exchanges in a plan, looking through adaptive query stages and
    * subqueries. Reused exchanges do not run again and are not counted,
    * nor are the plans behind cached relations, which ran earlier. */
  def countExchanges(info: SparkPlanInfo): Long =
    if (info.nodeName == "InMemoryTableScan") 0L
    else (if (ExchangeNodes(info.nodeName)) 1L else 0L) + info.children.map(countExchanges).sum
}
