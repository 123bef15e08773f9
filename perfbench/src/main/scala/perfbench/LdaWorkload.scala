package perfbench

import graft.apps.{Flags, InferApp}
import graft.lda._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.broadcast

import java.io.File
import scala.collection.mutable
import scala.io.Source

/** The paper's pipeline on a generated corpus: corpus build → AD-LDA
  * training → model write and re-read → corpus likelihood → fold-in
  * inference of a held-out set → top-words report. Each step is a call
  * into the repository's public API, timed (and traced) from outside. */
final class LdaWorkload(
    val name: String,
    shape: CorpusShape,
    k: Int,
    iterations: Int) extends Workload {

  private val alpha = 0.1
  private val beta = 0.01
  // fold-in: 15 sweeps, the last 5 averaged
  private val inferIterations = 15
  private val inferBurnIn = 10
  private var seed = 0L
  private var inputs: Gen.Inputs = _

  def prepare(work: File, seed: Long): Unit = {
    this.seed = seed
    inputs = Gen.corpus(new File(work, "inputs"), name, seed, shape)
  }

  def sessionPerPass: Boolean = false

  def pass(spark: SparkSession, tracer: Tracer, work: File): PassResult = {
    val out = new File(work, s"out-$name-${System.nanoTime()}")
    out.mkdirs()
    try tracer.span(spark, "pass")(run(spark, tracer, inputs, iterations, out))
    finally deleteRecursively(out)
  }

  /** Kernel ceiling: one thread sweeping a fixed doc sample against the
    * last written model, at this workload's K. */
  override def afterPasses(cores: Int, passes: Seq[PassResult]): Map[String, Double] = {
    val ceiling = Kernel.tokTopicsPerS(lastModel, inputs.train, k, alpha, beta, seed)
    val achieved = Workload.median(passes.map(_.layers("train.tok_topics_per_s")))
    Map("gibbs.kernel_tok_topics_per_s" -> ceiling,
      "train.efficiency" -> achieved / (cores * ceiling))
  }

  private var lastModel: (Array[Long], Array[String]) = _

  private def run(spark: SparkSession, tr: Tracer, in: Gen.Inputs, iterations: Int,
      out: File): PassResult = {
    val failures = mutable.ArrayBuffer.empty[String]
    val secs = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var excluded = 0.0
    var heapMb = Double.NaN
    /** One layer call: timed, traced, and counted as an op; a throw or a
      * failed check marks it failed, and a throw ends the pass. */
    def op[T](layer: String)(body: => T)(check: T => Option[String]): T = {
      attempted += 1
      val t0 = System.nanoTime()
      val r = try tr.span(spark, layer)(body) catch {
        case e: Exception =>
          failures += s"$layer threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          throw new PassAborted
      }
      secs(layer) = (System.nanoTime() - t0) / 1e9
      check(r).foreach(f => failures += s"$layer: $f")
      r
    }
    val modelPath = new File(out, "model.txt").getPath
    val resultPath = new File(out, "inference.txt").getPath
    val t0 = System.nanoTime()
    val cpu0 = Workload.threadCpu()
    var stepsS = Seq.empty[Double]
    var metrics = Map.empty[String, Double]
    var layers = Map.empty[String, Double]
    try {
      // as TrainApp.run: the vocabulary is built and counted here; the
      // corpus stays a lazy Dataset, and train's first job materializes it
      val (vocab, numWords, corpus) = op("corpus") {
        val bowTok = Corpus.readPldaText(spark, in.train.getPath)
        val vocab = Corpus.sortedVocab(bowTok.select("tok")).cache()
        val numWords = vocab.count().toInt
        val bow = bowTok.join(broadcast(vocab), "tok").select("doc_id", "word_id", "c")
        (vocab, numWords, Corpus.fromBow(bow, k, seed))
      }(_ => None)
      val cfg = LdaConfig(k, alpha, beta, iterations, iterations / 2, computeLikelihood = false, seed)
      val r = op("train")(LdaTrainer.train(corpus, numWords, cfg))(r =>
        Checks.topicMass(r.model, numWords, k, in.trainTokens))
      op("modelio.write") {
        val words = vocab.orderBy("word_id").select("tok").collect().map(_.getString(0))
        ModelIO.writeAveraged(r.averaged, k, words, modelPath)
      }(_ => None)
      val reread = op("modelio.read")(ModelIO.readModel(modelPath))(m =>
        Checks.modelShape(m._1, m._2, numWords, k))
      val ll = op("likelihood") {
        val bc = spark.sparkContext.broadcast(r.model)
        try Gibbs.corpusLikelihood(r.docs, bc, numWords, k, alpha, beta)
        finally bc.destroy()
      }(ll => Checks.finite("log-likelihood", ll))
      // live heap at the pipeline's fullest point (training state and
      // vocabulary still cached); the probe is not part of the pass time
      val p0 = System.nanoTime()
      heapMb = Workload.liveHeapMb
      excluded += (System.nanoTime() - p0) / 1e9
      r.release()
      op("infer")(InferApp.run(spark, Flags(alpha = alpha, beta = beta, modelFile = modelPath,
        inferenceDataFile = in.heldOut.getPath, inferenceResultFile = resultPath,
        burnInIterations = inferBurnIn, totalIterations = inferIterations, seed = seed)))(_ => None)
      op("report") {
        val top = LdaModel(r.model, r.averaged, r.likelihoods, vocab, numWords, cfg).topWords(10).collect()
        (top.length, ModelIO.viewModelLines(modelPath).length)
      } { case (t, v) => if (t > 0 && v > 0) None else Some(s"empty report ($t top words, $v lines)") }
      vocab.unpersist()
      val wall = (System.nanoTime() - t0) / 1e9 - excluded
      val cpu = Workload.cpuSince(cpu0)
      // untimed: the fold-in output check
      val lens = {
        val src = Source.fromFile(in.heldOut)
        try Checks.inVocabLengths(src.getLines(), reread._2.toSet) finally src.close()
      }
      val lines = {
        val src = Source.fromFile(resultPath)
        try src.getLines().toVector finally src.close()
      }
      Checks.foldIn(lines, lens, k).foreach(f => failures += s"infer: $f")
      lastModel = reread
      val trainTokIters = in.trainTokens.toDouble * iterations
      stepsS = r.iterMillis.toSeq.map(_ / 1000.0)
      metrics = Map(
        "train_tok_iters_per_s" -> trainTokIters / secs("train"),
        "infer_docs_per_s" -> lens.length / secs("infer"),
        // 10 significant digits: the likelihood's reduce adds per-task
        // partial sums in completion order, which moves the last bits
        "loglik_per_token" -> BigDecimal(ll / in.trainTokens)
          .round(new java.math.MathContext(10)).toDouble)
      layers = Map(
        "train.iter_p50_s" -> Workload.median(stepsS),
        "train.bcast_s" -> r.bcastMillis.sum / 1000.0,
        "train.tok_topics_per_s" -> trainTokIters * k / secs("train"),
        "modelio.write_bytes" -> new File(modelPath).length.toDouble,
        "likelihood.tokens_per_s" -> in.trainTokens / secs("likelihood"))
      PassResult(wall, cpu, stepsS, heapMb, metrics, layers, attempted, failures.toSeq)
    } catch {
      case _: PassAborted =>
        PassResult((System.nanoTime() - t0) / 1e9, Workload.cpuSince(cpu0), stepsS, heapMb,
          metrics, layers, LdaWorkload.Ops, failures.toSeq ++
            Seq.fill(LdaWorkload.Ops - attempted)("not run after an earlier failure"))
    }
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

object LdaWorkload {
  /** Layer calls per pass: corpus, train, model write, model read,
    * likelihood, infer, report. */
  val Ops = 7
}

final class PassAborted extends RuntimeException("pass aborted")
