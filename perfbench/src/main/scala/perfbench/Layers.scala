package perfbench

/** Per-layer metrics of a traced run, from the spans of its traced passes
  * (median over those passes). A layer a workload does not exercise
  * reads 0. */
object Layers {
  private val lda = Seq(
    "corpus.s" -> "s", "corpus.task_cpu_s" -> "s", "corpus.shuffle_bytes" -> "bytes",
    "corpus.jobs" -> "count",
    "gibbs.kernel_tok_topics_per_s" -> "1/s", "train.sweep_task_cpu_s" -> "s",
    "train.efficiency" -> "ratio",
    "train.iter_p50_s" -> "s", "train.bcast_s" -> "s", "train.reduce_result_bytes" -> "bytes",
    "train.driver_gap_s" -> "s", "train.gc_s" -> "s", "train.jobs" -> "count",
    "train.tasks" -> "count",
    "modelio.write_s" -> "s", "modelio.write_bytes" -> "bytes", "modelio.read_s" -> "s",
    "likelihood.s" -> "s", "likelihood.tokens_per_s" -> "1/s",
    "infer.s" -> "s", "infer.task_cpu_s" -> "s", "infer.jobs" -> "count",
    "report.s" -> "s")
  private val ops = OpsWorkload.Families.flatMap { f =>
    Seq(s"ops.$f.s" -> "s", s"ops.$f.task_cpu_s" -> "s", s"ops.$f.jobs" -> "count",
      s"ops.$f.shuffle_bytes" -> "bytes", s"ops.$f.exchanges" -> "count")
  } :+ ("ops.cache_builds" -> "count")
  private val spark = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.driver_gap_s" -> "s")
  private val trace = Seq("trace.coverage" -> "ratio", "trace.overhead_s" -> "s")

  val all: Seq[(String, String)] = lda ++ ops ++ spark ++ trace
  val names: Seq[String] = all.map(_._1)
  val units: Map[String, String] = all.toMap

  /** `passes`: each traced pass with the id of its "pass" span. */
  def compute(tr: Tracer, passes: Seq[(PassResult, Int)], extra: Map[String, Double]): Map[String, Double] = {
    val perPass = passes.map { case (r, passId) => one(tr, r, tr.spans(passId)) }
    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> Workload.median(perPass.flatMap(_.get(k)))).toMap
    med ++ extra + ("trace.overhead_s" -> tr.overheadSeconds / passes.size)
  }

  private def one(tr: Tracer, r: PassResult, pass: Span): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double]
    val top = tr.children(pass.id)
    def layer(name: String): Option[(Span, Counters)] =
      top.find(_.name == name).map(s => (s, tr.total(s.id)))
    layer("corpus").foreach { case (s, c) =>
      m("corpus.s") = s.seconds; m("corpus.task_cpu_s") = c.taskCpuNs / 1e9
      m("corpus.shuffle_bytes") = c.shuffleWriteBytes.toDouble; m("corpus.jobs") = c.jobs.toDouble
    }
    layer("train").foreach { case (s, c) =>
      m("train.sweep_task_cpu_s") = c.taskCpuNs / 1e9
      m("train.reduce_result_bytes") = c.resultBytes.toDouble
      m("train.driver_gap_s") = s.seconds - c.jobBusySeconds
      m("train.gc_s") = c.gcMs / 1000.0
      m("train.jobs") = c.jobs.toDouble; m("train.tasks") = c.tasks.toDouble
    }
    layer("modelio.write").foreach { case (s, _) => m("modelio.write_s") = s.seconds }
    layer("modelio.read").foreach { case (s, _) => m("modelio.read_s") = s.seconds }
    layer("likelihood").foreach { case (s, _) => m("likelihood.s") = s.seconds }
    layer("infer").foreach { case (s, c) =>
      m("infer.s") = s.seconds; m("infer.task_cpu_s") = c.taskCpuNs / 1e9; m("infer.jobs") = c.jobs.toDouble
    }
    layer("report").foreach { case (s, _) => m("report.s") = s.seconds }
    top.filter(_.name.startsWith("op:")).groupBy(_.name.split(":")(1)).foreach { case (f, ss) =>
      val c = new Counters
      ss.foreach(s => c += tr.total(s.id))
      m(s"ops.$f.s") = ss.map(_.seconds).sum
      m(s"ops.$f.task_cpu_s") = c.taskCpuNs / 1e9
      m(s"ops.$f.jobs") = c.jobs.toDouble
      m(s"ops.$f.shuffle_bytes") = c.shuffleWriteBytes.toDouble
      m(s"ops.$f.exchanges") = c.exchanges.toDouble
    }
    val c = tr.total(pass.id)
    m("spark.jobs") = c.jobs.toDouble
    m("spark.tasks") = c.tasks.toDouble
    m("spark.task_cpu_s") = c.taskCpuNs / 1e9
    m("spark.gc_s") = c.gcMs / 1000.0
    m("spark.shuffle_write_bytes") = c.shuffleWriteBytes.toDouble
    m("spark.spill_bytes") = c.spillBytes.toDouble
    m("spark.driver_gap_s") = r.wallS - c.jobBusySeconds
    m("trace.coverage") = top.map(_.seconds).sum / r.wallS
    m ++= r.layers.filter { case (k, _) => units.contains(k) }
    m.toMap
  }
}
