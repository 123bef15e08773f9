package graft

/** The repo-wide cache-lifetime contract (scaladoc'd at
  * [[graft.lda.LdaTrainer.Result]]): operators that persist internal state
  * either expose `release()` (Result-style returns) or hand back a
  * `localCheckpoint`ed Dataset whose blocks die with the caller's
  * reference. Either way, REPEATED calls must leave the session's
  * persistent-RDD registry flat — a growing registry is a cache leak that
  * eventually evicts the caches a long-running session actually wants. */
class CacheLifetimeSpec extends SparkSpec {

  private def persistedCount: Int = spark.sparkContext.getPersistentRDDs.size

  /** localCheckpoint blocks are reclaimed by the ContextCleaner after the
    * reference is GC'd — poll with explicit GCs until the registry drains
    * back to the baseline (bounded). */
  private def eventuallyFlat(baseline: Int, timeoutMs: Long = 90000): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (persistedCount > baseline && System.currentTimeMillis < end) {
      System.gc()
      Thread.sleep(250)
    }
    val n = persistedCount
    assert(n <= baseline, s"cached entries grew: $n > $baseline : " +
      spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString("; "))
  }

  private def drainedBaseline(): Int = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(250)
    persistedCount
  }

  test("lda_sharded_word_totals: 10 repeated calls leave the cache registry flat") {
    // warm once (session/registry setup), drop the result, drain
    graft.queries.LdaQueries.entries("lda_sharded_word_totals")(spark, sf()).count()
    val baseline = drainedBaseline()
    (1 to 10).foreach { _ =>
      graft.queries.LdaQueries.entries("lda_sharded_word_totals")(spark, sf()).count()
    }
    eventuallyFlat(baseline)
  }

  test("dupClustersDistributed: 10 repeated calls leave the cache registry flat") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L))
      .toDF("doc_a", "doc_b")
    graft.ext.Dedup.dupClustersDistributed(pairs).count()
    val baseline = drainedBaseline()
    (1 to 10).foreach { _ =>
      // one (doc_id, cluster) row per NODE of the pair graph: 8 nodes
      assert(graft.ext.Dedup.dupClustersDistributed(pairs).count() == 8L)
    }
    eventuallyFlat(baseline)
  }

  test("round-4 ops (setsim, domainKl, Bpe.train, pqTopK): registry flat across 5 calls") {
    import spark.implicits._
    val docs = (0L until 60L)
      .map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} w${i % 2} tail", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val emb = (0L until 32L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 7 + j) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    def callAll(): Unit = {
      graft.ext.Dedup.setSimilarityJoin(docs).count()
      graft.ext.TextAnalysis.domainKl(docs).count()
      graft.ext.Bpe.train(docs, 3)
      graft.ext.Similarity.pqTopK(emb, dim = 8, m = 2, k = 2, topK = 5).count()
      graft.ext.Similarity.semDedup(emb, k = 2, iters = 1, tau = 0.9).count()
    }
    callAll()
    val baseline = drainedBaseline()
    (1 to 5).foreach(_ => callAll())
    eventuallyFlat(baseline)
  }

  test("session-2 ops (containmentJoin, Unigram.train): registry flat across 5 calls") {
    import spark.implicits._
    val docs = (0L until 60L)
      .map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} w${i % 2} tail"))
      .toDF("doc_id", "text")
    def callAll(): Unit = {
      graft.ext.Dedup.containmentJoin(docs).count()
      graft.ext.Unigram.train(docs, vocabSize = 16, iters = 2, seedSize = 64).count()
    }
    callAll()
    val baseline = drainedBaseline()
    (1 to 5).foreach(_ => callAll())
    eventuallyFlat(baseline)
  }

  test("session-3 persist users (ksDrift, auc, probe query): registry flat") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf())
    def callAll(): Unit = {
      graft.ext.Drift.ksDrift(ev).count()
      val scored = Seq(("g", 0.9, 1.0), ("g", 0.1, 0.0), ("g", 0.5, 1.0))
        .toDF("grp", "s", "y")
      graft.ext.LinearModel.auc(scored, "s", "y", "grp").count()
      graft.queries.ExtQueries.linearProbeQ(spark, sf()).count()
    }
    callAll()
    val baseline = drainedBaseline()
    (1 to 3).foreach(_ => callAll())
    eventuallyFlat(baseline)
  }

  test("S = 2 train + LdaInfer.infer with release(): registry flat across 5 calls") {
    import spark.implicits._
    val docs = (0L until 40L).map { id =>
      graft.lda.DocState.init(id, Array(0, 1, 2, 3), Array(2, 1, 1, 2), 2, seed = id)
    }
    val ds = spark.createDataset(docs)
    val cfg = graft.lda.LdaConfig(2, 0.1, 0.01, totalIterations = 2,
      burnInIterations = 0, seed = 5L)
    graft.lda.LdaTrainer.train(ds, 4, cfg, numShards = 2).release()
    val baseline = drainedBaseline()
    (1 to 5).foreach { _ =>
      val res = graft.lda.LdaTrainer.train(ds, 4, cfg, numShards = 2)
      val inferred = graft.lda.LdaInfer.infer(ds, res.model, 4, cfg)
      assert(inferred.count() == 40L)
      res.release()
    }
    eventuallyFlat(baseline)
  }

  test("r11 self-releasing harnesses (knnLabelEval, silhouette, dunnIndex, adamicAdar): registry flat") {
    import spark.implicits._
    val emb = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat - 6f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    // warm once each (these ops own their cache lifecycle internally now:
    // persist → bounded-output materialize → unpersist in finally)
    graft.ext.Similarity.knnLabelEval(emb).count()
    graft.ext.Graph.adamicAdar(pairs).count()
    val baseline = drainedBaseline()
    (1 to 5).foreach { _ =>
      assert(graft.ext.Similarity.knnLabelEval(emb, k = 3).count() == 3L)
      assert(graft.ext.Similarity.silhouette(emb).count() == 3L)
      assert(graft.ext.Similarity.dunnIndex(emb).count() == 1L)
      assert(graft.ext.Graph.adamicAdar(pairs).count() >= 1L)
    }
    eventuallyFlat(baseline)
  }

  test("TrainApp.run from plda text and from parquet: registry flat across 5 calls") {
    val dir = java.nio.file.Files.createTempDirectory("graft-trainapp")
    val text = dir.resolve("corpus.txt")
    val model = dir.resolve("model.txt")
    java.nio.file.Files.writeString(text, "alpha 2 beta 1\nbeta 3 gamma 1\nalpha 1 gamma 2\n")
    val base = graft.apps.Flags(numTopics = 2, alpha = 0.1, beta = 0.01,
      modelFile = model.toString, burnInIterations = 1, totalIterations = 3)
    def callAll(): Unit =
      for (in <- Seq(text.toString, sf() + "/documents.parquet"))
        graft.apps.TrainApp.run(spark, base.copy(trainingDataFile = in))
    try {
      callAll()
      val baseline = drainedBaseline()
      (1 to 5).foreach(_ => callAll())
      eventuallyFlat(baseline)
    } finally Seq(text, model, dir).foreach(java.nio.file.Files.deleteIfExists)
  }

  test("SessionMemo builds once per (context, dir, name) and returns the same value") {
    var builds = 0
    def get(dir: String, name: String): AnyRef =
      SessionMemo(spark, dir, name) { builds += 1; new Object }
    val a = get("memo-spec/a", "memoSpec")
    assert(get("memo-spec/a", "memoSpec") eq a)
    assert(builds == 1)
    val b = get("memo-spec/b", "memoSpec")
    val c = get("memo-spec/a", "memoSpec2")
    assert(builds == 3)
    assert((b ne a) && (c ne a) && (b ne c))
    assert(get("memo-spec/b", "memoSpec") eq b)
    assert(builds == 3)
  }

  test("SessionMemo attributes a build to the current query on a miss only") {
    val name = "memoSpec:attribution"
    try {
      CacheLog.currentQuery = ""
      SessionMemo(spark, "memo-spec/attr-a", name)(1)
      CacheLog.currentQuery = "hit_query"
      SessionMemo(spark, "memo-spec/attr-a", name)(2)
      assert(!CacheLog.builds.contains(name), "a hit was attributed")
      CacheLog.currentQuery = "miss_query"
      SessionMemo(spark, "memo-spec/attr-b", name)(3)
      assert(CacheLog.builds.get(name).contains("miss_query"))
    } finally {
      CacheLog.currentQuery = ""
      CacheLog.builds.remove(name)
    }
  }

  // stops the shared session, so it runs last; it leaves a live session
  // behind, which later suites pick up through SparkSpec.session()
  test("SessionMemo drops a stopped context's entries; the next session rebuilds") {
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession): Array[Byte] =
      SessionMemo(s, "memo-spec/release", "memoSpec") { builds += 1; new Array[Byte](1024) }
    // a frame of its own: no stack slot of this test may keep the value
    def firstSession(): java.lang.ref.WeakReference[Array[Byte]] = {
      val v = get(spark)
      assert(get(spark) eq v)
      new java.lang.ref.WeakReference(v)
    }
    val old = firstSession()
    spark.stop()
    val fresh = SparkSpec.session()
    assert(!fresh.sparkContext.isStopped)
    val again = get(fresh)
    assert(builds == 2)
    val end = System.currentTimeMillis + 30000
    while (!old.refersTo(null) && System.currentTimeMillis < end) { System.gc(); Thread.sleep(100) }
    assert(old.refersTo(null), "the stopped context's value is still reachable")
    assert(get(fresh) eq again)
    assert(builds == 2)
  }
}
