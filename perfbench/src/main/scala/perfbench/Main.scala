package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import scala.collection.mutable

/** One benchmark run: generate inputs, set up (several times; the median
  * is `setup_s`), run the workload's warm-up and measured passes, check
  * outputs, and write the run record and the result line. Launched by
  * `run.py`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --bench DIR --result FILE */
object Main {
  val SetupRepeats = 5
  /** Nominal length of one measured pass: a run of `--seconds S` makes
    * round(S / PassSeconds) passes, at least one. */
  val PassSeconds = 10.0
  /** No further pass starts once the run has taken this long (the JVM's
    * uptime), so that a run on a slowed-down host still ends in time. */
  val PassDeadlineSeconds = 110.0

  def workloads(bench: File): Map[String, Workload] = Seq[Workload](
    // the paper's configuration (K=10, α=0.1, β=0.01) on a NYTimes-shaped
    // corpus: V=102,660, documents of 233–433 tokens
    new LdaWorkload("nyt_k10", CorpusShape(docs = 400, heldOutDocs = 100, vocab = 102660,
      minLen = 233, maxLen = 433), k = 10, iterations = 20),
    new OpsWorkload(bench),
  ).map(w => w.name -> w).toMap

  /** A small SQL shuffle and an RDD tree-reduce: first jobs pay their
    * scheduler, codegen and shuffle start-up costs here. */
  def warmUp(spark: SparkSession, cores: Int): Unit = {
    spark.range(0L, 100000L, 1L, cores).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    spark.sparkContext.parallelize(1 to 10000, cores).treeReduce(_ + _)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(opt("work"))
    val bench = new File(opt("bench"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val workload = workloads(bench)(opt("workload"))
    work.mkdirs()

    val noise0 = Noise.sample()
    workload.prepare(work, seed)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-${workload.name}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // set-up: session ready plus a warm-up job, repeated; the last session
    // stays. The first set-up in a fresh JVM also loads Spark's classes.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupRepeats).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      warmUp(spark, cores)
      setups += (System.nanoTime() - t0) / 1e9
    }

    // one warm-up pass (not measured: it pays the JIT and code generation
    // for this workload's code), then the measured passes, all traced in a
    // traced run and none otherwise
    val warm = workload.pass(spark, new Tracer(false), work)
    val tracer = new Tracer(traced)
    val results = mutable.ArrayBuffer.empty[(PassResult, Int)]
    val gcJitCpu = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val passes = math.max(1, math.round(seconds / PassSeconds).toInt)
    while (results.size < passes && (results.isEmpty || uptime.getUptime / 1000.0 < PassDeadlineSeconds)) {
      if (workload.sessionPerPass) { spark.stop(); spark = session() }
      tracer.attach(spark)
      val spanId = tracer.spans.size
      val (gc0, jit0, cpu0) = (Workload.gcSeconds, Workload.jitSeconds, Workload.processCpuS)
      results += ((workload.pass(spark, tracer, work), spanId))
      gcJitCpu += ((Workload.gcSeconds - gc0, Workload.jitSeconds - jit0, Workload.processCpuS - cpu0))
      tracer.detach(spark)
    }
    val all = results.map(_._1).toSeq
    val layerExtra = if (traced) workload.afterPasses(cores, all) else Map.empty[String, Double]
    spark.stop()
    val noise1 = Noise.sample()

    val attempted = warm.attempted + all.map(_.attempted).sum
    val failures = warm.failures ++ all.flatMap(_.failures)
    val med = Workload.median _
    // the pass's wall time is in the record only: it moves with the CPU
    // steal of a shared host far more than the application's CPU time
    val e2e = Seq(
      ("setup_s", med(setups.toSeq), "s"),
      ("pass_app_cpu_s", med(all.map(_.cpuS)), "s"))
    val named: Map[String, Double] = {
      val keys = all.flatMap(_.metrics.keys).distinct
      keys.map(k => k -> med(all.flatMap(_.metrics.get(k)))).toMap
    }
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else Layers.compute(tracer, results.toSeq, layerExtra)

    val metrics: Seq[(String, Double, String)] =
      if (traced) Layers.names.map(k => (k, layers.getOrElse(k, 0.0), Layers.units(k)))
      else e2e
    val correct = failures.isEmpty && metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val result = Json.obj(
      "correct" -> correct,
      "attempted" -> math.max(1, attempted),
      "failed" -> failures.size,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    val record = Json.obj(
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "passes" -> all.size, "setup_runs_s" -> setups.toSeq,
      "end_to_end" -> mutable.LinkedHashMap(e2e.map(m => m._1 -> m._2): _*),
      "pass_s" -> med(all.map(_.wallS)),
      "step_geomean_s" -> Workload.geomean(all.flatMap(_.stepsS)),
      "peak_live_heap_mb" -> med(all.map(_.heapMb)),
      "workload_metrics" -> mutable.LinkedHashMap(named.toSeq.sortBy(_._1): _*),
      "failed_ops_ratio" -> failures.size.toDouble / math.max(1, attempted),
      "failures" -> failures,
      "warmup_pass_s" -> warm.wallS,
      "pass_walls_s" -> all.map(_.wallS), "pass_app_cpu_s" -> all.map(_.cpuS),
      "pass_process_cpu_s" -> gcJitCpu.map(_._3),
      "pass_steps_s" -> all.map(_.stepsS),
      "pass_gc_s" -> gcJitCpu.map(_._1), "pass_jit_s" -> gcJitCpu.map(_._2),
      "noise" -> Noise.between(noise0, noise1),
      "per_layer" -> mutable.LinkedHashMap(layers.toSeq.sortBy(_._1): _*))
    Files.writeString(new File(work, s"record-${workload.name}-trace${opt("trace")}.json").toPath,
      Json.render(record) + "\n")
    if (traced)
      Files.writeString(new File(work, s"spans-${workload.name}.json").toPath,
        Json.render(tracer.toJson) + "\n")
    println(Json.render(record))
    Files.writeString(new File(opt("result")).toPath, Json.render(result) + "\n")
  }
}

/** Host noise evidence: CPU steal share over the run (from /proc/stat)
  * and the 1-minute load average at start and end. */
object Noise {
  final case class Sample(steal: Long, total: Long, load1: Double)

  def sample(): Sample = {
    val cpu = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    }.getOrElse(Array.empty[Long])
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    Sample(if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum, load)
  }

  def between(a: Sample, b: Sample): Map[String, Any] = Map(
    "cpu_steal_fraction" -> (if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0),
    "load1_start" -> a.load1, "load1_end" -> b.load1)
}
