package graft.lda

import graft.SparkSpec

class TrainSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic corpus with two planted topics: docs draw words from either
    * {w0..w4} or {w5..w9} (SURVEY §5.2(5) statistical golden). */
  private def plantedDocs(n: Int): Seq[(Long, String)] = {
    val rng = new SplitMix64(2024L)
    (0L until n.toLong).map { id =>
      val base = if (id % 2 == 0) 0 else 5
      val words = (0 until 30).map(_ => s"w${base + rng.nextInt(5)}")
      (id, words.mkString(" "))
    }
  }

  /** Docs of 20 words drawn uniformly from w0..w29: no topic structure,
    * so a short chain keeps moving. */
  private def unplantedDocs(n: Int): Seq[(Long, String)] = {
    val rng = new SplitMix64(4051L)
    (0L until n.toLong).map(id => (id, Seq.fill(20)(s"w${rng.nextInt(30)}").mkString(" ")))
  }

  private val cfg = LdaConfig(numTopics = 2, alpha = 0.1, beta = 0.01,
    totalIterations = 20, burnInIterations = 10, computeLikelihood = true, seed = 11L)

  private lazy val fitted: LdaModel = Lda(cfg).fit(plantedDocs(60).toDF("doc_id", "text"))

  test("training is deterministic: same seed ⇒ identical model") {
    val m2 = Lda(cfg).fit(plantedDocs(60).toDF("doc_id", "text"))
    assert(fitted.counts.sameElements(m2.counts))
    assert(fitted.averaged.sameElements(m2.averaged))
  }

  test("fit auto-switches to the sharded path above the model-size threshold") {
    // the default threshold is the r12-MEASURED crossover (NytKsweep,
    // BENCH_ksweep_r12.json: flat/sharded tie at 50 MB, sharded ahead
    // from 78 MB) — changing it should mean re-measuring, not drive-by
    assert(Lda.BroadcastModelBytesMax == (64L << 20),
      "BroadcastModelBytesMax must track the measured K-sweep crossover")
    // the rule itself flips exactly at (V+1)·K·8 > threshold
    assert(!Lda.shouldShard(numWords = 1023, numTopics = 1024,
      thresholdBytes = 8L * 1024 * 1024))
    assert(Lda.shouldShard(numWords = 1024, numTopics = 1024,
      thresholdBytes = 8L * 1024 * 1024))
    // force the switch (threshold 1 byte) on a fixture whose chain still
    // moves over the whole run, so the flat and the sharded chain end in
    // different counts and averaged differs from the final counts: fit's
    // output must be the S = 2 chain's, and not the S = 1 chain's
    val mcfg = LdaConfig(numTopics = 4, alpha = 0.1, beta = 0.01,
      totalIterations = 6, burnInIterations = 3, seed = 19L)
    val docsDf = unplantedDocs(40).toDF("doc_id", "text")
    val sharded = Lda(mcfg, broadcastBytesMax = 1L).fit(docsDf)
    val toks = Corpus.tokenize(docsDf)
    val vocab = Corpus.sortedVocab(toks).cache()
    val v = vocab.count().toInt
    val corpus = Corpus.fromTokenIds(
      toks.join(org.apache.spark.sql.functions.broadcast(vocab), "tok")
        .select("doc_id", "word_id"), mcfg.numTopics, mcfg.seed)
    def direct(s: Int) = { val r = LdaTrainer.train(corpus, v, mcfg, s); r.release(); r }
    val s = Lda.recommendedShards(v, mcfg.numTopics)
    assert(s == 2)
    val shardedRef = direct(s)
    val flatRef = direct(1)
    vocab.unpersist()
    assert(!flatRef.model.sameElements(shardedRef.model), "fixture cannot tell S = 1 from S = 2")
    assert(!shardedRef.averaged.sameElements(shardedRef.model.map(_.toDouble)),
      "the chain is stationary over the burn-in window")
    assert(sharded.counts.sameElements(shardedRef.model), "fit did not run the sharded chain")
    assert(!sharded.counts.sameElements(flatRef.model), "fit ran the flat chain")
    // one output kind at every S: averaged is the burn-in accumulator
    // mean (quirk #1 single-node kind) of the sharded chain
    assert(sharded.averaged.sameElements(shardedRef.averaged))
    // invariants hold on the auto-switched path too
    assert((0 until mcfg.numTopics).map(t => sharded.counts(v * mcfg.numTopics + t)).sum == 40L * 20L)
  }

  test("model invariants hold after training") {
    val k = cfg.numTopics
    val v = fitted.numWords
    assert(v == 10)
    for (t <- 0 until k) {
      val colSum = (0 until v).map(w => fitted.counts(w * k + t)).sum
      assert(colSum == fitted.counts(v * k + t))
    }
    assert((0 until k).map(t => fitted.counts(v * k + t)).sum == 60 * 30)
  }

  test("log-likelihood improves from the random initialization") {
    val lls = fitted.likelihoods
    assert(lls.length == cfg.totalIterations)
    // pre-sweep LL of iteration 0 is the random-init state; it must improve
    assert(lls.last > lls.head)
    // and the back half should be better than the first half on average
    val (front, back) = lls.splitAt(lls.length / 2)
    assert(back.sum / back.length > front.sum / front.length)
  }

  test("planted topics are recovered: each topic concentrates on one word block") {
    val k = cfg.numTopics
    val v = fitted.numWords
    for (t <- 0 until k) {
      val block0 = (0 until 5).map(w => fitted.counts(w * k + t)).sum.toDouble
      val block5 = (5 until 10).map(w => fitted.counts(w * k + t)).sum.toDouble
      val purity = math.max(block0, block5) / (block0 + block5)
      assert(purity > 0.9, s"topic $t purity $purity")
    }
  }

  test("infer assigns held-out docs to the right planted topic") {
    val holdout = Seq((100L, "w0 w1 w2 w3 w4 w0 w1 w2"), (101L, "w5 w6 w7 w8 w9 w5 w6 w7"))
      .toDF("doc_id", "text")
    val inferCfg = cfg.copy(totalIterations = 15, burnInIterations = 10)
    val topics = fitted.transform(holdout, inferCfg).collect().sortBy(_.docId)
    assert(topics.length == 2)
    // the two docs must put their mass on different topics
    val t0 = topics(0).topics.indexOf(topics(0).topics.max)
    val t1 = topics(1).topics.indexOf(topics(1).topics.max)
    assert(t0 != t1)
    // averaged counts sum to doc length
    assert(math.abs(topics(0).topics.sum - 8.0) < 1e-9)
  }

  test("topWords surfaces the planted vocabulary blocks") {
    val tw = fitted.topWords(5).collect()
    assert(tw.nonEmpty)
    val byTopic = tw.groupBy(_.getInt(0))
    for ((_, rows) <- byTopic) {
      val words = rows.map(_.getString(1)).toSet
      val inBlock0 = words.count(w => w.stripPrefix("w").toInt < 5)
      assert(inBlock0 == 0 || inBlock0 == words.size, s"mixed topic: $words")
    }
  }

  test("umass coherence separates planted topics from shuffled word sets") {
    val docsDf = plantedDocs(60).toDF("doc_id", "text")
    val good = fitted.topWords(5)
    val coherent = LdaEval.umassCoherence(docsDf, good)
      .as[(Int, Double)].collect().toMap
    // deliberately mixed: words from BOTH blocks in each "topic"
    val mixed = Seq((0, "w0"), (0, "w5"), (0, "w1"), (0, "w6"), (0, "w2"),
      (1, "w7"), (1, "w3"), (1, "w8"), (1, "w4"), (1, "w9"))
      .toDF("topic", "word")
    val incoherent = LdaEval.umassCoherence(docsDf, mixed)
      .as[(Int, Double)].collect().toMap
    for (t <- 0 to 1)
      assert(coherent(t) > incoherent(t),
        s"topic $t: coherent=${coherent(t)} mixed=${incoherent(t)}")
    // planted blocks never co-occur → mixed pairs hit the +1-smoothed floor
    assert(incoherent.values.forall(_ < -1.0))
  }

  test("perplexity is a monotone transform of likelihood") {
    val n = 60L * 30L
    val p1 = LdaEval.perplexity(fitted.likelihoods.head, n)
    val p2 = LdaEval.perplexity(fitted.likelihoods.last, n)
    assert(p2 < p1) // better LL ⇒ lower perplexity
    assert(p2 > 1.0)
  }

  test("describeTopics returns rank-ordered terms with normalized weights") {
    val d = fitted.describeTopics(3).orderBy("topic").collect()
    assert(d.length == 2)
    d.foreach { r =>
      val terms = r.getSeq[String](1)
      val weights = r.getSeq[Double](2)
      assert(terms.length == 3 && weights.length == 3)
      assert(weights.sliding(2).forall(p => p(0) >= p(1)), weights.toString) // rank order
      assert(weights.forall(w => w > 0 && w <= 1))
    }
    // topic term lists mirror topWords order
    val tw = fitted.topWords(3).select("topic", "word").as[(Int, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    d.foreach(r => assert(r.getSeq[String](1) == tw(r.getInt(0))))
  }

  test("trainResumable checkpoints, resumes, and preserves invariants") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val corpus = { val (c, _) = Corpus.fromDocuments(
      plantedDocs(40).toDF("doc_id", "text"), 2, 11L); c }
    // phase 1: 4 iterations, checkpoint every 2 → ckpt_2, ckpt_4 on disk
    val cfg4 = LdaConfig(2, 0.1, 0.01, totalIterations = 4, burnInIterations = 1, seed = 11L)
    LdaTrainer.trainResumable(corpus, 10, cfg4, dir, every = 2)
    val saved = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(saved.contains("ckpt_2") && saved.contains("ckpt_4"), saved.toString)
    // phase 2: extend to 8 total — must RESUME from ckpt_4, not restart
    val cfg8 = cfg4.copy(totalIterations = 8)
    val a = LdaTrainer.trainResumable(corpus, 10, cfg8, dir, every = 2)
    // invariants after resume: all 40*30 occurrences conserved
    assert((0 until 2).map(t => a.model(10 * 2 + t)).sum == 40L * 30L)
    // burn-in accumulation continued across the resume (7 post-burn-in iters)
    assert(new java.io.File(s"$dir/ckpt_8").exists())
    // resumed path is deterministic: re-resume from the same ckpt_4 state
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    // copy ckpt_4 so load picks the same state
    def copy(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) { dst.mkdirs(); src.listFiles().foreach(f => copy(f, new java.io.File(dst, f.getName))) }
      else java.nio.file.Files.copy(src.toPath, dst.toPath)
    }
    copy(new java.io.File(s"$dir/ckpt_4"), new java.io.File(s"$dir2/ckpt_4"))
    val b = LdaTrainer.trainResumable(corpus, 10, cfg8, dir2, every = 100)
    val c = LdaTrainer.trainResumable(corpus, 10, cfg8.copy(seed = cfg8.seed), dir2, every = 100)
    // b resumed ckpt_4→8; c resumed the same (no new ckpt written at every=100...
    // except the final state differs only if chains differ — they must not)
    assert(b.model.sameElements(c.model))
  }

  test("resume is byte-identical to an uninterrupted run (canonical layout)") {
    val corpus = { val (c, _) = Corpus.fromDocuments(
      plantedDocs(40).toDF("doc_id", "text"), 2, 11L); c }
    val cfg8 = LdaConfig(2, 0.1, 0.01, totalIterations = 8,
      burnInIterations = 1, computeLikelihood = true, seed = 11L)
    // uninterrupted: every=100 writes no intermediate checkpoint
    val dirA = java.nio.file.Files.createTempDirectory("graft-ckpt-a").toString
    val a = LdaTrainer.trainResumable(corpus, 10, cfg8, dirA, every = 100)
    // interrupted at iter 4 (simulated by a 4-iteration cfg), then resumed
    // to 8 from the parquet checkpoint — the round-trip scrambles file
    // partitioning, which canonicalLayout must re-pin
    val dirB = java.nio.file.Files.createTempDirectory("graft-ckpt-b").toString
    LdaTrainer.trainResumable(corpus, 10, cfg8.copy(totalIterations = 4), dirB, every = 2)
    val b = LdaTrainer.trainResumable(corpus, 10, cfg8, dirB, every = 2)
    // byte-equality of every output surface: final counts, burn-in
    // average (double-exact: same accumulation order), LL trace
    // (double-exact: same partition-order slot sum), and parallel timing arrays
    assert(a.model.sameElements(b.model))
    assert(a.averaged.sameElements(b.averaged))
    assert(a.likelihoods.sameElements(b.likelihoods))
    assert(a.likelihoods.length == 8)
    assert(b.iterMillis.length == 8 && b.bcastMillis.length == 8,
      "resumed timing traces must stay parallel to likelihoods")
    a.release(); b.release()
  }

  test("averaged model reflects burn-in accumulation (quirk #1 single-node kind)") {
    // averaged counts should be close to final counts in scale (same corpus)
    val totalAvg = fitted.averaged.slice(fitted.numWords * 2, fitted.numWords * 2 + 2).sum
    assert(math.abs(totalAvg - 60 * 30) < 1e-6) // global row sums to corpus size
  }

  test("UCI end-to-end: docword/vocab files → readUci → train K=4 → topWords") {
    // the reference workflow (testdata/get_NYTimes.sh + format.py + lda):
    // a UCI bag-of-words corpus with two planted word blocks, driven
    // through the same stages as one flow. 40 docs, 10 words, even docs
    // draw from w0..w4 (uci ids 1..5), odd docs from w5..w9 (ids 6..10).
    val dir = java.nio.file.Files.createTempDirectory("uci-e2e")
    val docLines = (0 until 40).flatMap { d =>
      val base = if (d % 2 == 0) 1 else 6
      (0 until 5).map(j => s"${d + 1} ${base + j} ${1 + (d + j) % 3}")
    }
    val nnz = docLines.length
    val totalTokens = (0 until 40).flatMap(d => (0 until 5).map(j => 1 + (d + j) % 3)).sum
    java.nio.file.Files.write(dir.resolve("docword.txt"),
      (Seq("40", "10", nnz.toString) ++ docLines).mkString("", "\n", "\n").getBytes)
    java.nio.file.Files.write(dir.resolve("vocab.txt"),
      (0 until 10).map(i => s"w$i").mkString("", "\n", "\n").getBytes)

    val bowTok = Corpus.readUci(spark, dir.resolve("docword.txt").toString,
      dir.resolve("vocab.txt").toString)
    val vocab = Corpus.sortedVocab(bowTok.select("tok")).cache()
    assert(vocab.count() == 10)
    val bow = bowTok.join(org.apache.spark.sql.functions.broadcast(vocab), "tok")
      .select("doc_id", "word_id", "c")
    val uciCfg = LdaConfig(numTopics = 4, alpha = 0.1, beta = 0.01,
      totalIterations = 30, burnInIterations = 15, seed = 7L)
    val corpus = Corpus.fromBow(bow, uciCfg.numTopics, uciCfg.seed)
    val result = LdaTrainer.train(corpus, numWords = 10, uciCfg)
    result.release()
    val model = LdaModel(result.model, result.averaged, result.likelihoods,
      vocab, numWords = 10, uciCfg)

    // token conservation through the whole flow: Σ n(k) == corpus tokens
    val k = uciCfg.numTopics
    assert((0 until k).map(t => model.counts(10 * k + t)).sum == totalTokens)
    // topWords runs on the trained model and respects the planted blocks:
    // no topic mixes words from both blocks
    val tw = model.topWords(5).collect()
    assert(tw.nonEmpty)
    for ((_, rows) <- tw.groupBy(_.getInt(0))) {
      val words = rows.map(_.getString(1)).toSet
      val inBlock0 = words.count(w => w.stripPrefix("w").toInt < 5)
      assert(inBlock0 == 0 || inBlock0 == words.size, s"mixed topic: $words")
    }
    vocab.unpersist()
  }
}
