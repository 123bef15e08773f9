package graft.apps

import graft.SparkSpec
import java.nio.file.Files

/** End-to-end CLI parity: TrainApp writes a loadable model; InferApp's
  * output is positional — one line per kept input line, in input order,
  * with a K-zeros line for all-OOV docs (infer.cc:63-99; ADVICE r1). */
class AppsSpec extends SparkSpec {

  private def tmp(name: String, content: String): String = {
    val p = Files.createTempFile("graft-apps-" + name, ".txt")
    Files.writeString(p, content)
    p.toString
  }

  test("TrainApp trains from plda text and writes both model kinds") {
    val corpus = tmp("corpus",
      """alpha 2 beta 1
        |beta 3 gamma 1
        |alpha 1 gamma 2
        |""".stripMargin)
    val modelAvg = Files.createTempFile("graft-model-avg", ".txt").toString
    val modelCnt = Files.createTempFile("graft-model-cnt", ".txt").toString

    val base = Flags(numTopics = 2, alpha = 0.1, beta = 0.01,
      trainingDataFile = corpus, burnInIterations = 2, totalIterations = 5)
    TrainApp.run(spark, base.copy(modelFile = modelAvg))
    TrainApp.run(spark, base.copy(modelFile = modelCnt, outputMode = "final_counts"))

    for (m <- Seq(modelAvg, modelCnt)) {
      val (model, words) = graft.lda.ModelIO.readModel(m)
      assert(words.toSeq == Seq("alpha", "beta", "gamma")) // sorted vocab (V2)
      assert(model.length == (words.length + 1) * 2)
      // conservation: averaged-then-truncated may drop fractions, counts
      // kind must conserve exactly 10 occurrences
      if (m == modelCnt) {
        val perWordTotal = (0 until 3).map(w => model(2 * w) + model(2 * w + 1))
        assert(perWordTotal == Seq(3L, 4L, 3L))
      }
    }
  }

  test("ViewModelApp output matches view_model.py's format exactly") {
    // model file: 2 topics; 'b' filtered from topic 0 (value 1 not > 1);
    // tie in topic 1 (a=4, c=4) must break by word DESCENDING
    val model = tmp("model",
      "a\t3 4\nb\t1 2\nc\t5.5 4\n")
    val got = graft.lda.ModelIO.viewModelLines(model)
    val want = Seq(
      "", "TOPIC:  0 8.5", "",
      "c 5.5", "a 3.0",
      "", "TOPIC:  1 10.0", "",
      "c 4.0", "a 4.0", "b 2.0")
    assert(got == want, got.mkString("|"))
  }

  test("flag validity profiles mirror cmd_flags.cc's three variants") {
    val base = Flags(numTopics = 2, alpha = 0.1, beta = 0.01,
      trainingDataFile = "x", modelFile = "m", totalIterations = 5)
    // single-node train requires 0 <= burn_in < total (default -1 fails)
    intercept[IllegalArgumentException](Flags.checkTraining(base))
    Flags.checkTraining(base.copy(burnInIterations = 2))
    // parallel train (final_counts kind) does NOT require burn_in
    Flags.checkParallelTraining(base)
    // infer does NOT require num_topics (K comes from the model file)
    Flags.checkInferring(Flags(alpha = 0.1, beta = 0.01, modelFile = "m",
      inferenceDataFile = "i", inferenceResultFile = "o",
      burnInIterations = 1, totalIterations = 3))
    // a trailing flag with no value fails, naming the flag, rather than
    // leaving its default in force
    assert(Flags.parse(Array("--num_topics", "2", "--seed", "7")).seed == 7L)
    val e = intercept[RuntimeException](Flags.parse(Array("--num_topics", "2", "--seed")))
    assert(e.getMessage.contains("--seed"), e.getMessage)
    // a numeric flag whose value does not parse fails naming flag and value
    for ((flag, bad) <- Seq("--num_topics" -> "x", "--alpha" -> "y", "--seed" -> "z")) {
      val e = intercept[RuntimeException](Flags.parse(Array(flag, bad)))
      assert(e.getMessage.contains(flag) && e.getMessage.contains(s"\"$bad\""), e.getMessage)
    }
    // --output_mode takes only its two values; a typo fails naming flag
    // and value instead of silently selecting the averaged model
    assert(Flags.parse(Array("--output_mode", "final_counts")).outputMode == "final_counts")
    assert(Flags.parse(Array("--output_mode", "averaged")).outputMode == "averaged")
    val om = intercept[RuntimeException](Flags.parse(Array("--output_mode", "final_count")))
    assert(om.getMessage.contains("--output_mode") && om.getMessage.contains("\"final_count\""),
      om.getMessage)
  }

  test("InferApp emits one line per kept input line, zeros for all-OOV docs") {
    val corpus = tmp("train", "alpha 2 beta 1\nbeta 3 gamma 1\n")
    val model = Files.createTempFile("graft-model", ".txt").toString
    TrainApp.run(spark, Flags(numTopics = 2, alpha = 0.1, beta = 0.01,
      trainingDataFile = corpus, modelFile = model,
      burnInIterations = 1, totalIterations = 3))

    val inferIn = tmp("infer",
      """alpha 1 beta 1
        |# a comment line — skipped, no output line
        |zzz 2 qqq 1
        |
        |gamma 2 zzz 1
        |""".stripMargin)
    val resultFile = Files.createTempFile("graft-infer-out", ".txt").toString
    InferApp.run(spark, Flags(numTopics = 2, alpha = 0.1, beta = 0.01,
      modelFile = model, inferenceDataFile = inferIn,
      inferenceResultFile = resultFile,
      burnInIterations = 1, totalIterations = 3))

    val lines = Files.readString(java.nio.file.Path.of(resultFile)).split("\n")
    // kept lines: doc0 (in-vocab), doc2 (all-OOV), doc4 (partially OOV)
    assert(lines.length == 3, lines.toSeq)
    assert(lines.forall(_.split(" ").length == 2)) // K values per line
    // all-OOV doc: exactly K zeros, positionally second
    assert(lines(1) == "0 0", lines(1))
    // in-vocab docs average 2 occurrences (doc0) / 2 kept occurrences
    // (doc4: gamma 2, zzz dropped) across post-burn-in iterations
    assert(lines(0).split(" ").map(_.toDouble).sum == 2.0)
    assert(lines(2).split(" ").map(_.toDouble).sum == 2.0)
  }

  test("InferApp folds a word the model file repeats in against its last row") {
    // alpha's first row is all topic 0, its last all topic 1: every
    // occurrence of alpha settles in the topic of the row the dictionary
    // maps it to
    val model = tmp("repeated-model", "alpha 1000 0\nbeta 500 500\nalpha 0 1000\n")
    val inferIn = tmp("repeated-infer", "alpha 4\n")
    val resultFile = Files.createTempFile("graft-infer-repeated", ".txt").toString
    InferApp.run(spark, Flags(numTopics = 2, alpha = 0.1, beta = 0.01,
      modelFile = model, inferenceDataFile = inferIn,
      inferenceResultFile = resultFile,
      burnInIterations = 1, totalIterations = 3))
    assert(Files.readString(java.nio.file.Path.of(resultFile)) == "0 4\n")
  }

  test("PipelineApp writes split-partitioned parquet matching cleanCorpus") {
    val out = Files.createTempDirectory("graft-pipeline").toString
    PipelineApp.run(spark, Array(sf() + "/documents.parquet", out))
    val got = spark.read.parquet(out)
    val want = graft.ext.TextAnalysis.cleanCorpus(
      spark.read.parquet(sf() + "/documents.parquet"))
    assert(got.count() == want.count() && got.count() > 0)
    // split lives in the directory structure AND reads back as a column
    assert(got.columns.contains("split"))
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("split="))
    assert(dirs.nonEmpty)
    // per-split counts agree with the operator
    val wantCounts = want.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotCounts = got.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotCounts == wantCounts)
  }
}
