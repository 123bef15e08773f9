package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** What one measured pass of a workload produced. `metrics` feed the run
  * record (medians over passes); `layers` are per-layer values the
  * workload measures itself (they join the traced run's span metrics). */
final case class PassResult(
    wallS: Double,
    cpuS: Double,
    stepsS: Seq[Double],
    heapMb: Double,
    metrics: Map[String, Double],
    layers: Map[String, Double],
    attempted: Int,
    failures: Seq[String])

trait Workload {
  def name: String
  /** Build or reuse the inputs for `seed` under `work` (untimed). */
  def prepare(work: File, seed: Long): Unit
  /** Whether each pass needs its own session (cold per-session caches). */
  def sessionPerPass: Boolean
  def pass(spark: SparkSession, tracer: Tracer, work: File): PassResult
  /** Per-layer values measured after the passes (traced runs only). */
  def afterPasses(cores: Int, passes: Seq[PassResult]): Map[String, Double] = Map.empty
}

object Workload {
  /** CPU nanoseconds of each live application thread, by thread id: the
    * driver, the executor's task threads and Spark's service threads. The
    * JIT compiler and GC threads are not among them. */
  def threadCpu(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** CPU seconds the application threads used since `mark` (a
    * [[threadCpu]] snapshot). A thread started since counts whole; the
    * time of a thread that ended since is lost. */
  def cpuSince(mark: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - mark.getOrElse(id, 0L) }.sum / 1e9

  /** Process CPU seconds (all JVM threads: tasks, driver, GC, JIT). */
  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Collector time so far, all collectors, seconds. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }

  /** JIT compilation time so far, seconds. */
  def jitSeconds: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Live heap, MB: heap in use after full collections, repeated until it
    * stops falling. Spark frees the blocks of unreferenced broadcasts and
    * RDDs on a cleaner thread, after the collection that finds them. */
  def liveHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var best = collect()
    var tries = 1
    var next = collect()
    while (next < best * 0.99 && tries < 8) { best = next; next = collect(); tries += 1 }
    math.min(best, next) / 1048576.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean: the typical step of a set of steps whose sizes
    * differ by orders of magnitude, steadier than the median of a few. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile, p in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
}
