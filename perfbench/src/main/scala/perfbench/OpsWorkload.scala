package perfbench

import graft.{CacheLog, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** A fixed sample of the `SparkEntry.queries` battery on the fixture
  * tables: many short jobs and driver loops on one session. Every entry's
  * full result is collected (a count would let column pruning skip
  * work), and its row count and content digest are checked against the
  * pinned values in `ops_pins.tsv`. */
final class OpsWorkload(benchDir: File) extends Workload {
  val name = "ops_sample"
  private val fixtures = new File(benchDir, "fixtures/sf0.001").getPath
  private val pinFile = new File(benchDir, "ops_pins.tsv")

  def prepare(work: File, seed: Long): Unit = ()
  // the operators cache per SparkContext: a fresh session per pass keeps
  // every pass as cold as the first
  def sessionPerPass: Boolean = true

  lazy val entries: Seq[(String, String)] = OpsWorkload.sample(SparkEntry.queries.keys.toSeq)

  private lazy val pins: Map[String, (Long, String)] =
    if (!pinFile.isFile) Map.empty
    else Files.readAllLines(pinFile.toPath).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(p => p(0) -> ((p(2).toLong, p(3)))).toMap

  def pass(spark: SparkSession, tracer: Tracer, work: File): PassResult = {
    val sc = spark.sparkContext
    CacheLog.builds.clear()
    val cpu0 = Workload.threadCpu()
    val times = Seq.newBuilder[Double]
    val failures = Seq.newBuilder[String]
    var wall = 0.0
    var uncounted = 0.0 // CPU of the output checks
    tracer.span(spark, "pass")(entries.foreach { case (entry, family) =>
      CacheLog.currentQuery = entry
      sc.setJobDescription(entry)
      val t0 = System.nanoTime()
      try {
        val (fields, rows) = tracer.span(spark, s"op:$family:$entry") {
          val df = SparkEntry.queries(entry)(spark, fixtures)
          (df.schema.fieldNames, df.collect())
        }
        val dt = (System.nanoTime() - t0) / 1e9
        wall += dt
        times += dt
        val c0 = Workload.threadCpu()
        Checks.pinned(entry, rows.length, Checks.digest(fields, rows), pins.get(entry))
          .foreach(failures += _)
        uncounted += Workload.cpuSince(c0)
      } catch {
        case e: Exception =>
          wall += (System.nanoTime() - t0) / 1e9
          failures += s"$entry threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally {
        CacheLog.currentQuery = ""
        sc.setJobDescription(null)
      }
    })
    val cpu = Workload.cpuSince(cpu0) - uncounted
    val ts = times.result()
    PassResult(wall, cpu, ts, Double.NaN,
      Map("ops_total_s" -> wall, "ops_cpu_s" -> cpu,
        "op_p50_s" -> Workload.median(ts), "op_p80_s" -> Workload.percentile(ts, 0.8)),
      Map("ops.cache_builds" -> CacheLog.builds.size.toDouble),
      entries.size, failures.result())
  }
}

object OpsWorkload {
  val Families = Seq("relational", "graph", "streaming", "lda", "ext")
  private val GraphWords =
    "pagerank|kcore|bfs|triangle|closeness|clustering_coef|adamic|degree_dist|assortativity|conductance".r

  /** Operator family of a battery entry, from its name. */
  def family(entry: String): String =
    if (entry.matches("q\\d+_.*")) "relational"
    else if (entry.startsWith("lda_")) "lda"
    else if (entry.startsWith("ext_stream_")) "streaming"
    else if (GraphWords.findFirstIn(entry).isDefined) "graph"
    else "ext"

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }

  /** The sampling rule: from each family, the entry whose name has the
    * smallest CRC-32. */
  def sample(names: Seq[String]): Seq[(String, String)] =
    names.groupBy(family).toSeq.map { case (fam, ns) => ns.minBy(crc) -> fam }.sortBy(_._1)
}
