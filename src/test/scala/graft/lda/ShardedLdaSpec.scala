package graft.lda

import graft.SparkSpec

class ShardedLdaSpec extends SparkSpec {
  import spark.implicits._

  private val k = 4
  private val v = 12

  private def corpus(n: Int): org.apache.spark.sql.Dataset[DocState] = {
    val docs = (0L until n.toLong).map { id =>
      // overlapping word ranges so every shard sees most docs
      val ids = Array((id % 4).toInt, 4 + (id % 5).toInt, 9 + (id % 3).toInt)
      DocState.init(id, ids, Array(3, 2, 4), k, seed = 11L)
    }
    spark.createDataset(docs).repartition(3)
  }

  private val iterCfg = LdaConfig(k, 0.1, 0.01, totalIterations = 1, seed = 5L)

  /** n(w) for each word: the row sums of a flat (V+1)×K model. */
  private def wordTotals(model: Array[Long]): Seq[Long] =
    (0 until v).map(w => model.slice(w * k, (w + 1) * k).sum)

  /** The global row n(·): the last K entries of a flat model. */
  private def globalRow(model: Array[Long]): Array[Long] = model.slice(v * k, (v + 1) * k)

  test("a 3-shard iteration conserves per-word and total counts across shards") {
    val docs = corpus(30)
    val model0 = Gibbs.countModel(docs, v, k)
    val (sweptRdd, model, _, _) = LdaTrainer.iteration(docs.rdd.glom().map(Block.initial),
      model0, v, iterCfg, numShards = 3, iter = 0, new LdaTrainer.Generations)
    val swept = spark.createDataset(sweptRdd.flatMap(_.docs.iterator))
    val recount = Gibbs.countModel(swept, v, k)
    // topic flips never change word totals (row sums)
    assert(wordTotals(model0) == wordTotals(recount))
    assert(globalRow(recount).sum == 30 * 9) // 9 occurrences per doc
    swept.collect().foreach(d => assert(d.topics.forall(t => t >= 0 && t < k)))
    // the driver model assembled from the passes is the swept corpus's tally
    assert(model.sameElements(recount))
  }

  for (s <- Seq(1, 3); ll <- Seq(false, true)) {
    test(s"S = $s, computeLikelihood = $ll: the delta-updated model equals a fresh recount") {
      val cfg = iterCfg.copy(totalIterations = 3, computeLikelihood = ll)
      val gens = new LdaTrainer.Generations
      var docs = corpus(30).rdd.glom().map(Block.initial).persist()
      var model = Gibbs.countModelRdd(docs, 0, v, k)
      var moved = 0
      for (iter <- 0 until cfg.totalIterations) {
        val before = model.clone()
        val (swept, next, passLL, _) = LdaTrainer.iteration(docs, model, v, cfg, s, iter, gens)
        assert(next.sameElements(Gibbs.countModelRdd(swept, 0, v, k)), s"iteration $iter")
        // at S = 1 the input model is the live broadcast value: untouched
        if (s == 1) assert(model.sameElements(before))
        assert(ll == (passLL != 0.0))
        // each block of the returned generation carries the last pass's
        // partial on its partition: sorted distinct nonzero entries of
        // that pass's (hi − lo + 1)×K slice, so never more than the dense
        // slice
        val (lo, hi) = LdaTrainer.shardBounds(v, s, s - 1)
        val size = (hi - lo + 1) * k
        val sum = new Array[Long](size)
        swept.collect().map(_.delta).foreach { d =>
          val idx = d.map(Gibbs.deltaIndex)
          assert(d.length <= size)
          assert(idx.forall(i => i >= 0 && i < size))
          assert(idx.indices.drop(1).forall(i => idx(i - 1) < idx(i)))
          assert(d.forall(Gibbs.deltaChange(_) != 0))
          d.foreach(e => sum(Gibbs.deltaIndex(e)) += Gibbs.deltaChange(e))
          moved += d.length
        }
        // at S = 1 the one pass's partials sum to the iteration's change
        if (s == 1) assert(sum.sameElements(next.indices.map(i => next(i) - before(i))))
        gens.retire(docs)
        docs = swept
        model = next
      }
      gens.release(docs)
      assert(moved > 0, "no pass changed a count")
    }
  }

  test("a shard pass recomputed after its cache is dropped resamples identically") {
    // each shard pass keys its RNG on its own shard index, so lineage
    // recompute (block loss, eviction) must replay the same draws, and
    // the recomputed blocks carry the same deltas, which the pass's
    // allreduce sums to the same delta and likelihood
    val docs = corpus(30).rdd.glom().map(Block.initial)
    val model0 = Gibbs.countModelRdd(docs, 0, v, k)
    val (swept, _, _, _) = LdaTrainer.iteration(docs, model0, v, iterCfg, numShards = 3,
      iter = 0, new LdaTrainer.Generations)
    val (lo, hi) = LdaTrainer.shardBounds(v, 3, 2) // the last pass's range
    val rows = model0.slice(lo * k, hi * k) ++ model0.slice(v * k, (v + 1) * k)
    val (numWords, topicCount) = (v, k)
    val likelihood = Some((docs, (d: DocState, sum: Double) =>
      Gibbs.logLikelihood(d, rows, lo, hi, numWords, 0.1, 0.01, topicCount, sum)))
    def topics = swept.collect().flatMap(_.docs).sortBy(_.docId).map(_.topics.toSeq)
    def deltas = swept.collect().map(_.delta.toSeq).toSeq
    def pass = Gibbs.sumDeltas(swept, lo, hi, k, likelihood, Gibbs.DriverIngressBytes) match {
      case (delta, ll) => (delta.toSeq, ll)
    }
    val first = topics
    val firstDeltas = deltas
    val firstPass = pass
    assert(firstDeltas.exists(_.nonEmpty) && firstPass._2 != 0.0)
    swept.unpersist(blocking = true)
    val changed = first.zip(topics).count { case (a, b) => a != b }
    assert(changed == 0, s"$changed of 30 docs resampled differently")
    assert(deltas == firstDeltas, "recomputed blocks carry different deltas")
    assert(pass == firstPass, "the recomputed pass sums to a different delta or likelihood")
  }

  test("sharded training is deterministic for fixed seed and shards") {
    val a = LdaTrainer.train(corpus(20), v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 3, seed = 77L), numShards = 3)
    val b = LdaTrainer.train(corpus(20), v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 3, seed = 77L), numShards = 3)
    val ta = a.docs.collect().sortBy(_.docId).map(_.topics.toSeq)
    val tb = b.docs.collect().sortBy(_.docId).map(_.topics.toSeq)
    assert(ta.toSeq == tb.toSeq)
    // different shard count → different (but valid) chain
    val c = LdaTrainer.train(corpus(20), v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 3, seed = 77L), numShards = 2)
    assert(c.docs.collect().forall(_.topics.forall(t => t >= 0 && t < k)))
  }

  test("shard counts that leave empty trailing shards still train and infer (V=12, S=10)") {
    // per = ceil(12/10) = 2 → only 6 shards hold words; shards 6..9 start
    // past V. Regression for a NegativeArraySizeException on such a shard
    // (shard 11 of 15 over V=31 at the 100× scaling run) — bounds must
    // clamp and the loops must skip the empty tail.
    val docs = corpus(20)
    val res = LdaTrainer.train(docs, v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 2, seed = 5L), numShards = 10)
    assert(wordTotals(res.model).sum == 20 * 9) // word totals conserved through 10-shard sweeps
    // the S = 10 model folds in through the one fold-in path
    val mass = LdaInfer.infer(docs, res.model, v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 2, burnInIterations = 0, seed = 6L)).collect()
    assert(mass.length == 20)
    mass.foreach(dt => assert(math.abs(dt.topics.sum - 9.0) < 1e-9))
    res.release()
  }

  test("sharded trainResumable checkpoints, resumes, and conserves totals") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-sharded-ckpt").toString
    val ds = corpus(20)
    val cfg8 = LdaConfig(k, 0.1, 0.01, totalIterations = 8, seed = 7L)
    val full = LdaTrainer.trainResumable(ds, v, cfg8, dir, every = 4, numShards = 3)
    assert(full.model.take(v * k).sum == 20 * 9)
    full.release()
    // ckpt_4 must exist and be complete; resuming twice from the same
    // copied checkpoint must give identical chains (deterministic resume)
    assert(new java.io.File(s"$dir/ckpt_4/meta/_SUCCESS").exists())
    val dir2 = Files.createTempDirectory("graft-sharded-ckpt2").toString
    def copy(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) { dst.mkdirs(); src.listFiles().foreach(f => copy(f, new java.io.File(dst, f.getName))) }
      else Files.copy(src.toPath, dst.toPath)
    }
    copy(new java.io.File(s"$dir/ckpt_4"), new java.io.File(s"$dir2/ckpt_4"))
    val b = LdaTrainer.trainResumable(ds, v, cfg8, dir2, every = 100, numShards = 3)
    val mb = b.model.toSeq
    // timing trace restored on resume: 4 checkpointed + 4 live iterations,
    // parallel to likelihoods (the Result field doc's contract)
    assert(b.iterMillis.length == 8)
    b.release()
    val c = LdaTrainer.trainResumable(ds, v, cfg8, dir2, every = 100, numShards = 3)
    val mc = c.model.toSeq
    c.release()
    assert(mb == mc)
    assert(mb.take(v * k).sum == 20 * 9) // resumed totals conserved
  }

  test("sharded resume is byte-identical to an uninterrupted run") {
    import java.nio.file.Files
    val ds = corpus(20)
    val cfg8 = LdaConfig(k, 0.1, 0.01, totalIterations = 8, seed = 7L)
    val dirA = Files.createTempDirectory("graft-sharded-bi-a").toString
    val a = LdaTrainer.trainResumable(ds, v, cfg8, dirA, every = 100, numShards = 3)
    val ma = a.model.toSeq
    a.release()
    val dirB = Files.createTempDirectory("graft-sharded-bi-b").toString
    LdaTrainer.trainResumable(ds, v, cfg8.copy(totalIterations = 4),
      dirB, every = 2, numShards = 3)
    val b = LdaTrainer.trainResumable(ds, v, cfg8, dirB, every = 2, numShards = 3)
    val mb = b.model.toSeq
    b.release()
    assert(ma == mb) // parquet round-trip re-pinned by canonicalLayout
  }

  test("sharded training improves likelihood on a planted-topic corpus") {
    // two disjoint topic vocabularies; docs draw from exactly one
    val docs = (0L until 60L).map { id =>
      val base = if (id % 2 == 0) 0 else 6
      DocState.init(id, Array(base, base + 1, base + 2), Array(4, 3, 3), 2, seed = id)
    }
    val ds = spark.createDataset(docs).repartition(2)
    val res = LdaTrainer.train(ds, v,
      LdaConfig(2, 0.1, 0.01, totalIterations = 12,
        computeLikelihood = true, seed = 3L), numShards = 3)
    val lls = res.likelihoods
    assert(lls.length == 12)
    // pre-sweep LL of late iterations should beat the random-init LL
    assert(lls.takeRight(3).max > lls.head,
      s"no improvement: first=${lls.head} last=${lls.last}")
  }
}
