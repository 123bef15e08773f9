package graft.apps

import graft.lda._
import org.apache.spark.sql.SparkSession

/** CLI parity layer (C1, cmd_flags.cc:22-170): the reference's `--flag
  * value` pairs with the same three validity profiles. */
final case class Flags(
    numTopics: Int = 0,
    alpha: Double = 0.0,
    beta: Double = 0.01,
    trainingDataFile: String = "",
    modelFile: String = "",
    inferenceDataFile: String = "",
    inferenceResultFile: String = "",
    burnInIterations: Int = -1,
    totalIterations: Int = 0,
    computeLikelihood: Boolean = false,
    seed: Long = 42L,
    outputMode: String = "averaged" // averaged | final_counts (quirk #1)
)

object Flags {
  def parse(args: Array[String]): Flags = {
    var f = Flags()
    var i = 0
    while (i < args.length) {
      val flag = args(i)
      if (i + 1 == args.length) sys.error(s"flag $flag has no value")
      val v = args(i + 1)
      def num[A](parse: String => A): A =
        try parse(v)
        catch { case _: NumberFormatException => sys.error(s"flag $flag: bad number \"$v\"") }
      flag match {
        case "--num_topics" => f = f.copy(numTopics = num(_.toInt))
        case "--alpha" => f = f.copy(alpha = num(_.toDouble))
        case "--beta" => f = f.copy(beta = num(_.toDouble))
        case "--training_data_file" => f = f.copy(trainingDataFile = v)
        case "--model_file" => f = f.copy(modelFile = v)
        case "--inference_data_file" => f = f.copy(inferenceDataFile = v)
        case "--inference_result_file" => f = f.copy(inferenceResultFile = v)
        case "--burn_in_iterations" => f = f.copy(burnInIterations = num(_.toInt))
        case "--total_iterations" => f = f.copy(totalIterations = num(_.toInt))
        case "--compute_likelihood" => f = f.copy(computeLikelihood = v == "true")
        case "--seed" => f = f.copy(seed = num(_.toLong))
        case "--output_mode" =>
          if (v != "averaged" && v != "final_counts")
            sys.error(s"flag $flag: bad value \"$v\" (averaged | final_counts)")
          f = f.copy(outputMode = v)
        case other => sys.error(s"unknown flag: $other")
      }
      i += 2
    }
    f
  }

  /** cmd_flags.cc:74-105 (single-node train: requires burn_in). */
  def checkTraining(f: Flags): Unit = {
    require(f.numTopics > 1 && f.alpha > 0 && f.beta > 0, "bad hyperparameters")
    require(f.trainingDataFile.nonEmpty && f.modelFile.nonEmpty, "missing files")
    require(f.totalIterations > 0, "bad total_iterations")
    require(f.burnInIterations >= 0 && f.burnInIterations < f.totalIterations, "bad burn_in")
  }

  /** cmd_flags.cc:107-138 (parallel train: burn_in NOT required — mpi_lda
    * ignores it and always writes last-iteration raw counts, quirk #1).
    * Selected when `--output_mode final_counts`. */
  def checkParallelTraining(f: Flags): Unit = {
    require(f.numTopics > 1 && f.alpha > 0 && f.beta > 0, "bad hyperparameters")
    require(f.trainingDataFile.nonEmpty && f.modelFile.nonEmpty, "missing files")
    require(f.totalIterations > 0, "bad total_iterations")
  }

  /** cmd_flags.cc:139-170 (infer: num_topics NOT required — K comes from
    * the model file). */
  def checkInferring(f: Flags): Unit = {
    require(f.alpha > 0 && f.beta > 0, "bad hyperparameters")
    require(f.modelFile.nonEmpty && f.inferenceDataFile.nonEmpty &&
      f.inferenceResultFile.nonEmpty, "missing files")
    require(f.totalIterations > 0 && f.burnInIterations >= 0 &&
      f.burnInIterations < f.totalIterations, "bad iterations")
  }

  def session(name: String): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    .appName(name)
    .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString))
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

/** Train a topic model from a plda-format text corpus (parity with the
  * `lda` / `mpi_lda` binaries, lda.cc:99-148 / mpi_lda.cc:171-245) or from
  * a parquet documents table (path ending in .parquet with doc_id, text).
  * `--output_mode averaged` writes the burn-in-averaged double model
  * (single-node kind); `final_counts` writes last-iteration raw counts
  * (mpi kind) — SURVEY quirk #1. */
object TrainApp {
  def main(args: Array[String]): Unit = {
    val f = Flags.parse(args)
    // final_counts = the mpi_lda kind → its laxer validity profile
    if (f.outputMode == "final_counts") Flags.checkParallelTraining(f)
    else Flags.checkTraining(f)
    val spark = Flags.session("graft-train")
    try run(spark, f) finally spark.stop()
  }

  /** Session-preserving body (separated so specs can drive it). */
  def run(spark: SparkSession, f: Flags): Unit = {
    val cfg = LdaConfig(f.numTopics, f.alpha, f.beta, f.totalIterations,
      math.max(0, f.burnInIterations), f.computeLikelihood, f.seed)
    val bowOrDocs = f.trainingDataFile
    val model =
      if (bowOrDocs.endsWith(".parquet")) {
        Lda(cfg).fit(spark.read.parquet(bowOrDocs).select("doc_id", "text"))
      } else {
        val bowTok = Corpus.readPldaText(spark, bowOrDocs)
        val vocab = Corpus.sortedVocab(bowTok.select("tok")).cache()
        val numWords = vocab.count().toInt
        val bow = bowTok.join(org.apache.spark.sql.functions.broadcast(vocab), "tok")
          .select("doc_id", "word_id", "c")
        val corpus = Corpus.fromBow(bow, cfg.numTopics, cfg.seed)
        val r = LdaTrainer.train(corpus, numWords, cfg)
        r.release()
        LdaModel(r.model, r.averaged, r.likelihoods, vocab, numWords, cfg)
      }
    // console parity with lda.cc:127/135: the iteration line prints every
    // iteration; the likelihood line only when --compute_likelihood true
    (0 until f.totalIterations).foreach { i =>
      println(s"Iteration $i ...")
      if (f.computeLikelihood) println(s"Loglikelihood: ${model.likelihoods(i)}")
    }
    // the vocabulary stays cached until the model file is written
    try {
      if (f.outputMode == "final_counts")
        ModelIO.writeCounts(model.counts, cfg.numTopics, model.indexToWord, f.modelFile)
      else
        ModelIO.writeAveraged(model.averaged, cfg.numTopics, model.indexToWord, f.modelFile)
    } finally model.vocab.unpersist(blocking = false)
  }
}

/** Fold-in inference with a frozen model file (parity with `infer`,
  * infer.cc:37-101): reads a plda-format corpus, drops OOV words, writes
  * one line of K space-separated averaged topic counts per input doc. */
object InferApp {
  def main(args: Array[String]): Unit = {
    val f = Flags.parse(args)
    Flags.checkInferring(f)
    val spark = Flags.session("graft-infer")
    try run(spark, f) finally spark.stop()
  }

  /** Session-preserving body (separated so specs can drive it).
    *
    * One narrow pass over the kept input lines, no shuffle: each task
    * parses its lines, maps words through the broadcast dictionary
    * (dropping OOV words — the semi-join of infer.cc:77-80), folds each
    * line in as its own document, and formats the result line. A line
    * with no in-vocabulary word still gets its K-zeros line, as in
    * infer.cc:82-98, where the empty document's prob_dist stays zero: the
    * output is positional, one line per kept input line. Partitions
    * follow file order, so the part files, written in partition order,
    * hold the lines in input order, and the driver only STREAMS them
    * byte-by-byte into the single result file the reference format
    * requires — it never holds the result set in memory, so a
    * 100×-corpus inference run stays executor-bound. */
  def run(spark: SparkSession, f: Flags): Unit = {
    val (model, words) = ModelIO.readModel(f.modelFile)
    val numWords = words.length
    val k = (model.length / (numWords + 1))
    val cfg = LdaConfig(k, f.alpha, f.beta, f.totalIterations, f.burnInIterations, seed = f.seed)
    val sc = spark.sparkContext
    // the dictionary goes out as the broadcast word array (a V-row
    // vocabulary DataFrame built on the driver is a LocalRelation the
    // planner re-walks; a broadcast Scala Map costs a SizeEstimator walk
    // of its V entries on the driver), and each task indexes it once. A
    // word the model file repeats maps to its last row.
    val bcWords = sc.broadcast(words)
    val bcModel = sc.broadcast(model)
    try {
      val lines = Corpus.pldaKeptLines(spark, f.inferenceDataFile).mapPartitions { it =>
        val ws = bcWords.value
        val dict = new java.util.HashMap[String, Integer](ws.length * 2)
        var w = 0
        while (w < ws.length) { dict.put(ws(w), w); w += 1 }
        val m = bcModel.value
        val dist = new Array[Double](k)
        it.map { case (line, docId) =>
          // the doc Corpus.fromBow builds: (word id, count) pairs sorted,
          // a word repeated within the line kept as repeated pairs
          val wcs = Corpus.pldaPairs(line)
            .flatMap { case (w, c) => Option(dict.get(w)).map(id => (id.intValue, c)) }
            .toArray.sorted
          val doc = DocState.init(docId, wcs.map(_._1), wcs.map(_._2), k, f.seed)
          LdaInfer.inferDoc(doc, m, numWords, cfg, dist).map(ModelIO.formatDouble).mkString(" ")
        }
      }
      val partsDir = new org.apache.hadoop.fs.Path(f.inferenceResultFile + ".parts")
      partsDir.getFileSystem(sc.hadoopConfiguration).delete(partsDir, true)
      lines.saveAsTextFile(partsDir.toString)
      mergeTextParts(spark, partsDir.toString, f.inferenceResultFile)
    } finally {
      bcWords.destroy()
      bcModel.destroy()
    }
  }

  /** Concatenate a text-sink directory's part files (name order =
    * partition order = doc order) into one local file, streaming bytes in
    * constant memory; removes the part directory afterwards. */
  private def mergeTextParts(spark: SparkSession, dir: String, dest: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(dest))
    try parts.foreach { part =>
      val in = fs.open(part)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      finally in.close()
    } finally out.close()
    fs.delete(p, true)
  }
}

/** End-to-end corpus-preparation CLI — the north-star pipeline composed
  * from the individually-oracle-checked operators: quality gates →
  * canonical exact-dedup → content-hash split
  * ([[graft.ext.TextAnalysis.cleanCorpus]]), written as
  * split-partitioned parquet (`<out>/split=train|val|test/`) so a
  * training job reads its split with directory-level partition pruning.
  * Usage: `PipelineApp <documents.parquet> <outDir>
  * [minTokens minStopwordRatio maxTopBigramFrac]`. Prints one summary
  * line per split. */
object PipelineApp {
  def main(args: Array[String]): Unit = {
    val spark = Flags.session("graft-pipeline")
    try run(spark, args) finally spark.stop()
  }

  /** Session-preserving body (separated so specs can drive it). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PipelineApp <documents.parquet> <outDir> " +
      "[minTokens minStopwordRatio maxTopBigramFrac]")
    val in = args(0)
    val out = args(1)
    val minTokens = args.lift(2).map(_.toInt).getOrElse(10)
    val minSw = args.lift(3).map(_.toDouble).getOrElse(0.05)
    val maxBi = args.lift(4).map(_.toDouble).getOrElse(0.2)
    val docs = spark.read.parquet(in)
    val cleaned = graft.ext.TextAnalysis.cleanCorpus(docs, minTokens, minSw, maxBi)
    cleaned.write.mode("overwrite").partitionBy("split").parquet(out)
    val stats = spark.read.parquet(out).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("train", "val", "test").foreach { s =>
      println(s"$s: ${stats.getOrElse(s, 0L)} docs")
    }
  }
}

/** Readable model report, format-parity with view_model.py (per topic:
  * `TOPIC:  <i> <mass>` then `word value` rows, value>1, sorted by
  * (value, word) descending). Usage mirrors the reference:
  * `ViewModelApp <model_file> [viewable_file]` — prints to stdout when no
  * output file is given. Driver-local (model files are V×K, bounded), as
  * are the DataFrame views LdaModel.topWords/describeTopics. */
object ViewModelApp {
  def main(args: Array[String]): Unit = {
    val lines = ModelIO.viewModelLines(args(0))
    if (args.length > 1) {
      val out = new java.io.PrintWriter(args(1), "UTF-8")
      try lines.foreach(out.println) finally out.close()
    } else lines.foreach(println)
  }
}
