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

  test("countModelRows matches the flat-array countModel exactly") {
    val docs = corpus(30)
    val flat = Gibbs.countModel(docs, v, k)
    val rows = ShardedLda.countModelRows(docs, k).collect()
    assert(rows.length == rows.map(_.wordId).distinct.length)
    rows.foreach { r =>
      (0 until k).foreach { t =>
        assert(r.counts(t) == flat(r.wordId * k + t),
          s"word ${r.wordId} topic $t")
      }
    }
    // rows cover every nonzero flat entry
    val covered = rows.map(_.wordId).toSet
    (0 until v).foreach { w =>
      val nonzero = (0 until k).exists(t => flat(w * k + t) != 0)
      assert(!nonzero || covered(w))
    }
    val g = ShardedLda.globalRow(ShardedLda.countModelRows(docs, k), k)
    (0 until k).foreach(t => assert(g(t) == flat(v * k + t)))
  }

  private val iterCfg = LdaConfig(k, 0.1, 0.01, totalIterations = 1, seed = 5L)

  test("a 3-shard iteration conserves per-word and total counts across shards") {
    val docs = corpus(30)
    val before = ShardedLda.countModelRows(docs, k).collect()
      .map(r => r.wordId -> r.counts.sum).toMap
    val (sweptRdd, model, _, _) = LdaTrainer.iteration(docs.rdd,
      Gibbs.countModel(docs, v, k), v, iterCfg, numShards = 3, iter = 0,
      new LdaTrainer.Generations)
    val swept = spark.createDataset(sweptRdd)
    val after = ShardedLda.countModelRows(swept, k).collect()
      .map(r => r.wordId -> r.counts.sum).toMap
    assert(before == after) // topic flips never change word totals
    val g = ShardedLda.globalRow(ShardedLda.countModelRows(swept, k), k)
    assert(g.sum == 30 * 9) // 9 occurrences per doc
    swept.collect().foreach(d => assert(d.topics.forall(t => t >= 0 && t < k)))
    // the driver model assembled from the passes is the swept corpus's tally
    assert(model.sameElements(Gibbs.countModel(swept, v, k)))
  }

  for (s <- Seq(1, 3); ll <- Seq(false, true)) {
    test(s"S = $s, computeLikelihood = $ll: the delta-updated model equals a fresh recount") {
      val cfg = iterCfg.copy(totalIterations = 3, computeLikelihood = ll)
      val gens = new LdaTrainer.Generations
      var docs = corpus(30).rdd.persist()
      var model = Gibbs.countModelRdd(docs, 0, v, k)
      var moved = 0
      for (iter <- 0 until cfg.totalIterations) {
        val before = model.clone()
        val (swept, next, passLL, _) = LdaTrainer.iteration(docs, model, v, cfg, s, iter, gens)
        assert(next.sameElements(Gibbs.countModelRdd(swept, 0, v, k)), s"iteration $iter")
        // at S = 1 the input model is the live broadcast value: untouched
        if (s == 1) assert(model.sameElements(before))
        assert(ll == (passLL != 0.0))
        // pass p alone moves the occurrences of its words, so its partial
        // on a partition is the delta of its range between the iteration's
        // input and output: sorted distinct nonzero entries of the
        // (hi − lo + 1)×K slice, so never more than the dense slice
        for (p <- 0 until s) {
          val (lo, hi) = LdaTrainer.shardBounds(v, s, p)
          val topics = k
          val size = (hi - lo + 1) * topics
          swept.zipPartitions(docs)((o, i) => Iterator.single(Gibbs.countDelta(o, i, lo, hi, topics)))
            .collect().foreach { d =>
              val idx = d.map(Gibbs.deltaIndex)
              assert(d.length <= size)
              assert(idx.forall(i => i >= 0 && i < size))
              assert(idx.indices.drop(1).forall(i => idx(i - 1) < idx(i)))
              assert(d.forall(Gibbs.deltaChange(_) != 0))
              moved += d.length
            }
        }
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
    // recompute (block loss, eviction) must replay the same draws
    val docs = corpus(30).rdd
    val (swept, _, _, _) = LdaTrainer.iteration(docs,
      Gibbs.countModelRdd(docs, 0, v, k), v, iterCfg, numShards = 3, iter = 0,
      new LdaTrainer.Generations)
    def topics = swept.collect().sortBy(_.docId).map(_.topics.toSeq)
    val first = topics
    swept.unpersist(blocking = true)
    val changed = first.zip(topics).count { case (a, b) => a != b }
    assert(changed == 0, s"$changed of 30 docs resampled differently")
  }

  test("sharded fold-in lineage does not grow with iterations (V=12, S=5 → 4 shards)") {
    def lineage(rdd: org.apache.spark.rdd.RDD[_]): Int = {
      val seen = scala.collection.mutable.Set.empty[Int]
      def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
        if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
      walk(rdd)
      seen.size
    }
    val docs = corpus(12)
    val rows = ShardedLda.countModelRows(docs, k)
    def depth(iters: Int): Int = lineage(ShardedLda.infer(docs, rows, v,
      LdaConfig(k, 0.1, 0.01, totalIterations = iters, seed = 6L), numShards = 5).rdd)
    assert(depth(2) == depth(6))
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

  test("sharded likelihood matches the flat-model likelihood") {
    val docs = corpus(25)
    val rows = ShardedLda.countModelRows(docs, k)
    val cfg = LdaConfig(k, 0.1, 0.01, totalIterations = 1)
    val sharded = ShardedLda.shardedLikelihood(docs, rows, v, cfg)
    val flat = Gibbs.countModel(docs, v, k)
    val bc = spark.sparkContext.broadcast(flat)
    val full = Gibbs.corpusLikelihood(docs, bc, v, k, 0.1, 0.01)
    assert(math.abs(sharded - full) < 1e-8 * math.abs(full),
      s"sharded=$sharded full=$full")
  }

  test("distributed text export equals the flat writer byte-for-byte") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val docs = corpus(20)
    val rows = ShardedLda.countModelRows(docs, k)
    // vocab: word ids 0..v-1 as "w<id>" names
    val vocab = spark.createDataset(0 until v).toDF("word_id")
      .select(col("word_id"), org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("w"), col("word_id")).as("tok"))
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    ModelIO.writeCountsDistributed(rows, vocab, s"$dir/dist")
    // flat reference bytes
    val flat = Gibbs.countModel(docs, v, k)
    val words = (0 until v).map(w => s"w$w").toArray
    ModelIO.writeCounts(flat, k, words, s"$dir/flat.txt")
    val distBytes = {
      val parts = new java.io.File(s"$dir/dist").listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
    }
    val flatBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/flat.txt"))
    assert(distBytes.sameElements(flatBytes))
    // and it round-trips through the reference reader
    val cat = new String(distBytes, "UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/cat.txt"), cat.getBytes)
    val (reload, reWords) = ModelIO.readModel(s"$dir/cat.txt")
    assert(reWords.sameElements(words))
    (0 until v * k).foreach(i => assert(reload(i) == flat(i)))
  }

  test("sharded inference recovers planted topics and conserves mass") {
    // train a flat model on a planted 2-topic corpus, serve it SHARDED
    val trainDocs = (0L until 60L).map { id =>
      val base = if (id % 2 == 0) 0 else 6
      DocState.init(id, Array(base, base + 1, base + 2), Array(4, 3, 3), 2, seed = id)
    }
    val ds = spark.createDataset(trainDocs).repartition(2)
    val trained = LdaTrainer.train(ds, v, LdaConfig(2, 0.1, 0.01, 15, seed = 3L))
    val rows = ShardedLda.countModelRows(trained.docs, 2)
    // held-out docs from each planted topic
    val held = spark.createDataset((100L until 120L).map { id =>
      val base = if (id % 2 == 0) 0 else 6
      DocState.init(id, Array(base, base + 1), Array(5, 5), 2, seed = id)
    })
    val cfg = LdaConfig(2, 0.1, 0.01, totalIterations = 12, burnInIterations = 6, seed = 9L)
    val got = ShardedLda.infer(held, rows, v, cfg, numShards = 3)
      .collect().map(dt => dt.docId -> dt.topics).toMap
    assert(got.size == 20)
    // averaged counts conserve doc mass (10 occurrences per doc)
    got.values.foreach(t => assert(math.abs(t.sum - 10.0) < 1e-9))
    // same-parity docs (same planted topic) agree on the dominant topic;
    // opposite-parity docs disagree
    val dom = got.map { case (id, t) => id -> (if (t(0) > t(1)) 0 else 1) }
    assert(dom(100L) == dom(102L) && dom(101L) == dom(103L))
    assert(dom(100L) != dom(101L))
    // dominance is strong (planted separation)
    got.foreach { case (id, t) =>
      assert(math.max(t(0), t(1)) / 10.0 > 0.8, s"doc $id weak: ${t.toSeq}")
    }
    // deterministic for fixed seed/shards
    val again = ShardedLda.infer(held, rows, v, cfg, numShards = 3)
      .collect().map(dt => dt.docId -> dt.topics.toSeq).toMap
    assert(again == got.map { case (k2, v2) => k2 -> v2.toSeq })
  }

  test("shard counts that leave empty trailing shards still train and infer (V=12, S=10)") {
    // per = ceil(12/10) = 2 → only 6 shards hold words; shards 6..9 start
    // past V. Regression for the NegativeArraySizeException in
    // collectShard (shard 11 of 15 over V=31 at the 100× scaling run) —
    // bounds must clamp and the loops must skip the empty tail.
    val docs = corpus(20)
    val res = LdaTrainer.train(docs, v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 2, seed = 5L), numShards = 10)
    val rows = spark.createDataset((0 until v).map(w =>
      WordTopics(w, res.model.slice(w * k, (w + 1) * k))))
    val totals = rows.collect().map(_.counts.sum).sum
    assert(totals == 20 * 9) // word totals conserved through 10-shard sweeps
    val inferred = ShardedLda.infer(docs, rows, v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 2, burnInIterations = 0, seed = 6L),
      numShards = 10)
    val mass = inferred.collect()
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
