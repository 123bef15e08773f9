package graft.lda

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** One model row: n(w,·) for a single word. */
final case class WordTopics(wordId: Int, counts: Array[Long])

/** Word-sharded training path for models too large to broadcast whole
  * (SURVEY §7.4 risk 2, mitigation (b)/(c); the data-placement idea of the
  * PLDA+ paper cited at reference README.md:232).
  *
  * The flat-array path ([[LdaTrainer]]) broadcasts (V+1)×K longs per
  * iteration — ~8 MB at NYTimes scale (V=102,660, K=10) but 8 GB at
  * V=1M, K=1000, which breaks both the driver collect and the broadcast.
  * Here the model lives as a distributed `Dataset[WordTopics]`; each
  * iteration sweeps the vocabulary in `numShards` ranges, collecting and
  * broadcasting only one shard's rows — (V/S)×K — at a time, so driver
  * and executor peak memory are bounded by the shard size, never the
  * full model.
  *
  * There is no sampler here: each shard pass runs [[Gibbs]]'s one kernel
  * ([[Gibbs.sweepDocument]], [[Gibbs.logLikelihood]]) over the shard's word
  * range [lo, hi), handing it the shard's rows with the global row n(k)
  * appended. Training and fold-in differ only in `train`.
  *
  * Like [[LdaTrainer]], the doc-state loop runs at the RDD layer (plain
  * JVM object caching; a Dataset persist would encoder-serialize every
  * DocState once per shard pass). Public entry points keep Dataset
  * signatures; `Rdd`-suffixed cores are what train/infer drive.
  *
  * Trade-offs, stated explicitly:
  *  - S jobs per iteration instead of 1 (each materialized before its
  *    shard broadcast is released). Job overhead amortizes at the corpus
  *    sizes that force sharding in the first place.
  *  - Within an iteration every shard samples against counts that are
  *    stale from the iteration start (the global row n(k) too). This is
  *    the same one-iteration-staleness class as AD-LDA across partitions
  *    (reference mpi_lda.cc:213-218) — statistically equivalent, verified
  *    by the likelihood-trend tests, not by hash equality.
  *  - Visit order differs from the full sweep (shard-major instead of
  *    doc-major), so chains are NOT bit-identical to [[LdaTrainer]];
  *    determinism for a fixed (seed, numShards, partitioning) still holds.
  */
object ShardedLda {

  /** Recount model rows from assignments, distributed end-to-end: the
    * sharded analog of Gibbs.countModel. Per-partition open-hash tally,
    * then a key-shuffled array-add reduce. Output partitioned by wordId
    * hash — collectShard prunes with a filter. */
  def countModelRows(docs: Dataset[DocState], numTopics: Int): Dataset[WordTopics] = {
    import docs.sparkSession.implicits._
    countModelRowsRdd(docs.rdd, numTopics).map { case (w, c) => WordTopics(w, c) }.toDS()
  }

  /** RDD core of [[countModelRows]].
    * RDD reduceByKey rather than Dataset groupByKey.reduceGroups: the
    * partial (map-side) combine is guaranteed, and the shuffle carries
    * raw (Int, Array[Long]) pairs instead of encoder-serialized rows —
    * at most V rows per partition cross the wire either way, but without
    * the per-row InternalRow round-trip. */
  def countModelRowsRdd(docs: RDD[DocState], numTopics: Int): RDD[(Int, Array[Long])] = {
    val k = numTopics
    docs.mapPartitions { it =>
      val tally = mutable.LongMap.empty[Array[Long]]
      it.foreach { doc =>
        var i = 0
        while (i < doc.wordIds.length) {
          val row = tally.getOrElseUpdate(doc.wordIds(i).toLong, new Array[Long](k))
          var j = doc.offsets(i)
          val end = doc.offsets(i + 1)
          while (j < end) { row(doc.topics(j)) += 1; j += 1 }
          i += 1
        }
      }
      tally.iterator.map { case (w, counts) => (w.toInt, counts) }
    }
    .reduceByKey { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
  }

  /** Global topic row n(k) = column sums of the model rows (length K —
    * always small enough to collect). */
  def globalRow(modelRows: Dataset[WordTopics], numTopics: Int): Array[Long] =
    globalRowRdd(modelRows.rdd.map(r => (r.wordId, r.counts)), numTopics)

  def globalRowRdd(modelRows: RDD[(Int, Array[Long])], numTopics: Int): Array[Long] =
    modelRows.mapPartitions { it =>
      val acc = new Array[Long](numTopics)
      it.foreach { case (_, counts) =>
        var i = 0
        while (i < numTopics) { acc(i) += counts(i); i += 1 }
      }
      Iterator.single(acc)
    }.treeReduce({ (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }, depth = 1) // partials are K longs each — tiny

  /** Shard s of S owns word ids in [lo, hi). Range (not hash) sharding:
    * a shard's rows form one contiguous array slice on the executors.
    * Both bounds clamp to V: with per = ⌈V/S⌉, trailing shards can start
    * past V whenever S ∤ V (e.g. V=31, S=15 → per=3, shard 11 starts at
    * 33) — those are EMPTY [V, V) shards, not negative slices. */
  private def shardBounds(numWords: Int, numShards: Int, s: Int): (Int, Int) = {
    val per = (numWords + numShards - 1) / numShards
    (math.min(s * per, numWords), math.min((s + 1) * per, numWords))
  }

  /** Largest shard count with no empty trailing shards: with ⌈V/S⌉ rows
    * per shard only ⌈V/⌈V/S⌉⌉ shards hold any words — iterating past that
    * costs a full corpus pass per EMPTY shard. Every loop below runs on
    * this normalized count (chains are deterministic per requested
    * (seed, numShards, partitioning) as documented — two requested counts
    * that normalize identically produce identical chains). */
  private def effectiveShards(numWords: Int, numShards: Int): Int = {
    val per = (numWords + numShards - 1) / numShards
    (numWords + per - 1) / per
  }

  /** Collect one shard's rows into a dense (hi−lo)×K flat array followed
    * by the global row: the model slice [[Gibbs.sweepDocument]] reads.
    * Driver memory: (V/S + 1)×K×8 bytes — the whole point. */
  private def collectShard(
      modelRows: RDD[(Int, Array[Long])], lo: Int, hi: Int, global: Array[Long]): Array[Long] = {
    val k = global.length
    val flat = new Array[Long]((hi - lo + 1) * k)
    modelRows.filter { case (w, _) => w >= lo && w < hi }.collect().foreach {
      case (w, counts) => System.arraycopy(counts, 0, flat, (w - lo) * k, k)
    }
    System.arraycopy(global, 0, flat, (hi - lo) * k, k)
    flat
  }

  /** One training iteration: for each shard, broadcast its rows + the
    * iteration-start global row, sweep only that shard's occurrences.
    * Returns the swept corpus (persisted, materialized). */
  def sweepIteration(
      docs: Dataset[DocState], modelRows: Dataset[WordTopics],
      numWords: Int, numTopics: Int, numShards: Int,
      alpha: Double, beta: Double, seed: Long, iter: Int): Dataset[DocState] = {
    import docs.sparkSession.implicits._
    docs.sparkSession.createDataset(
      sweepIterationRdd(docs.rdd, modelRows.rdd.map(r => (r.wordId, r.counts)),
        numWords, numTopics, numShards, alpha, beta, seed, iter,
        checkpointLast = false))
  }

  /** RDD core of [[sweepIteration]]. `checkpointLast` marks the final
    * shard pass for localCheckpoint BEFORE its materializing count (RDD
    * checkpoint marks must precede the first job), bounding recompute
    * depth at one iteration after block loss. */
  def sweepIterationRdd(
      docs: RDD[DocState], modelRows: RDD[(Int, Array[Long])],
      numWords: Int, numTopics: Int, numShards: Int,
      alpha: Double, beta: Double, seed: Long, iter: Int,
      checkpointLast: Boolean): RDD[DocState] = {
    val sc = docs.sparkContext
    val k = numTopics
    val global0 = globalRowRdd(modelRows, k) // stale for the whole iteration
    var current = docs
    val nShards = effectiveShards(numWords, numShards)
    // `s` is a fresh val per pass: a task closure recomputed from lineage
    // must key its RNG on its own shard, not on a shared loop variable
    for (s <- 0 until nShards) {
      val (lo, hi) = shardBounds(numWords, numShards, s)
      val bcShard = sc.broadcast(collectShard(modelRows, lo, hi, global0))
      val prev = current
      current = current.mapPartitions { it =>
        val shard = bcShard.value.clone() // task-local AD-LDA replica
        val dist = new Array[Double](k)
        it.map { doc =>
          val topics = doc.topics.clone()
          val rng = new SplitMix64(Rng.mix(seed, doc.docId, iter.toLong << 16 | s))
          Gibbs.sweepDocument(doc.wordIds, doc.offsets, topics, doc.topicHistogram(k),
            shard, lo, hi, numWords, alpha, beta, train = true, rng, dist)
          doc.copy(topics = topics)
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      if (checkpointLast && s == nShards - 1) current.localCheckpoint()
      current.count() // materialize before releasing this shard's broadcast
      if (prev ne docs) prev.unpersist(blocking = false)
      bcShard.unpersist(blocking = false)
    }
    current
  }

  /** Sharded training output. CACHE-LIFETIME CONTRACT (the repo-wide
    * convention — see also [[LdaTrainer.Result.release]] and
    * [[graft.ext.Dedup.dupClustersDistributed]]):
    *  - a Result-style return exposes `release()`; the CALLER calls it
    *    once done consuming `modelRows`/`docs`, which unpersists the
    *    backing cached generation (the Datasets are map views — their own
    *    `unpersist` would be a no-op on the backing RDD entries);
    *  - a bare Dataset return that must survive its producer's internal
    *    caches is handed back `localCheckpoint`ed: its blocks die with
    *    the caller's reference (ContextCleaner on GC), never as a
    *    CacheManager entry leaking per call. CacheLifetimeSpec asserts
    *    both shapes leave `getPersistentRDDs` flat across repeated calls. */
  final case class Result(
      modelRows: Dataset[WordTopics],
      docs: Dataset[DocState],
      likelihoods: Array[Double],
      /** wall-clock per training iteration, ms (all S shard passes +
        * model recount) — the sharded twin of
        * [[LdaTrainer.Result.iterMillis]], what the broadcast-vs-sharded
        * crossover measurement reads */
      iterMillis: Array[Long],
      release: () => Unit)

  /** Full training loop on the sharded path. The model is never collected
    * whole anywhere. */
  def train(
      corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      numShards: Int): Result =
    trainFrom(corpus, numWords, cfg, numShards, startIter = 0,
      lls0 = Array.empty, iterMs0 = Array.empty, ckptDir = null, ckptEvery = 0)

  /** [[train]] with durable checkpoint/resume — the preemption-survival
    * story for the huge-V runs big enough to need sharding (symmetric
    * with [[LdaTrainer.trainResumable]]). The ONLY durable state is the
    * doc assignments + likelihood trace (the sharded model is recounted
    * from the docs on resume; there is no burn-in accumulator on this
    * path — quirk #1, the mpi output kind), stored via
    * [[TrainCheckpoint]]'s versioned complete-marked directories every
    * `every` iterations. A later call with the same `dir` resumes from
    * the newest complete checkpoint. The corpus is pinned to
    * [[LdaTrainer.canonicalLayout]] on both the fresh and resumed path
    * (same contract as [[LdaTrainer.trainResumable]]): sweep RNG streams
    * key on (seed, docId, iter, shard) and model recounts are integer
    * sums, so with the layout canonicalized the resumed chain is
    * byte-identical to an uninterrupted run. */
  def trainResumable(corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      numShards: Int, dir: String, every: Int = 10): Result = {
    val spark = corpus.sparkSession
    TrainCheckpoint.load(spark, dir, numWords, cfg.numTopics) match {
      case Some(st) =>
        val p = if (st.numParts > 0) st.numParts else st.docs.rdd.getNumPartitions
        trainFrom(LdaTrainer.canonicalLayout(st.docs, p), numWords, cfg, numShards,
          startIter = st.iter, lls0 = st.lls, iterMs0 = st.iterMs,
          ckptDir = dir, ckptEvery = every)
      case None =>
        val p = corpus.rdd.getNumPartitions
        trainFrom(LdaTrainer.canonicalLayout(corpus, p), numWords, cfg, numShards,
          startIter = 0, lls0 = Array.empty, iterMs0 = Array.empty,
          ckptDir = dir, ckptEvery = every)
    }
  }

  private def trainFrom(
      corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      numShards: Int, startIter: Int, lls0: Array[Double],
      iterMs0: Array[Long], ckptDir: String, ckptEvery: Int): Result = {
    require(numShards >= 1 && numShards <= numWords, "1 <= numShards <= V")
    val spark = corpus.sparkSession
    import spark.implicits._
    // private identity copy: persist/checkpoint marks must never touch the
    // shared lazy corpus.rdd (see the matching comment in LdaTrainer)
    var docs = corpus.rdd.mapPartitions(it => it, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.localCheckpoint() // marked before the first job below
    var modelRows = countModelRowsRdd(docs, cfg.numTopics)
      .persist(StorageLevel.MEMORY_AND_DISK)
    modelRows.count()
    // ArrayBuffer, not Array.newBuilder: mid-loop snapshots for checkpoint
    // saves must not disturb the builder (see the matching note in Lda.scala)
    val lls = scala.collection.mutable.ArrayBuffer.empty[Double]
    lls ++= lls0
    val iterMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    iterMs ++= iterMs0
    var iter = startIter
    while (iter < cfg.totalIterations) {
      val tIter0 = System.nanoTime()
      if (cfg.computeLikelihood)
        lls += shardedLikelihoodRdd(docs, modelRows, numWords, cfg, numShards)
      val prevDocs = docs
      val prevModel = modelRows
      // the last shard pass is localCheckpoint-marked inside: each
      // iteration's final state owns its blocks, so the S-pass chain
      // never has to replay further back than one iteration
      docs = sweepIterationRdd(docs, modelRows, numWords, cfg.numTopics,
        numShards, cfg.alpha, cfg.beta, cfg.seed, iter, checkpointLast = true)
      modelRows = countModelRowsRdd(docs, cfg.numTopics)
        .persist(StorageLevel.MEMORY_AND_DISK)
      modelRows.count()
      prevDocs.unpersist(blocking = false)
      prevModel.unpersist(blocking = false)
      iterMs += (System.nanoTime() - tIter0) / 1000000L
      iter += 1
      if (ckptDir != null && ckptEvery > 0 && iter % ckptEvery == 0 &&
          iter < cfg.totalIterations)
        TrainCheckpoint.save(ckptDir, spark.createDataset(docs), iter,
          Array.emptyDoubleArray, 0, lls.toArray,
          numParts = docs.getNumPartitions,
          iterMs = iterMs.toArray, bcastMs = Array.empty)
    }
    val (finalDocs, finalModel) = (docs, modelRows)
    Result(modelRows.map { case (w, c) => WordTopics(w, c) }.toDS(),
      spark.createDataset(docs), lls.toArray, iterMs.toArray,
      release = () => {
        finalDocs.unpersist(blocking = false)
        finalModel.unpersist(blocking = false)
      })
  }

  /** Fold-in inference against a DISTRIBUTED model (the huge-V regime —
    * completes the sharded surface: train, likelihood, AND infer never
    * collect the model whole). Iterations outer, shards inner: each
    * (iter, shard) pass broadcasts only (V/S)×K rows and resamples that
    * shard's occurrences with the model frozen (no −1 self-adjustment,
    * sampler.cc:99 with update_model=false). The per-doc running
    * histogram sum for post-burn-in averaging rides the doc state.
    *
    * Visit order is shard-major, so chains are NOT bit-identical to
    * [[LdaInfer.infer]]'s doc-major chains — statistically equivalent,
    * verified by planted-topic recovery (ShardedLdaSpec), not by hash.
    *
    * Lifecycle: the returned Dataset is a map view over the final
    * persisted+localCheckpointed state generation. Its blocks are
    * released by the ContextCleaner once the caller drops the Dataset
    * (standard RDD GC semantics); do NOT unpersist the backing RDD while
    * still consuming the view — localCheckpoint truncated its lineage, so
    * evicted blocks cannot be recomputed. */
  def infer(docs0: Dataset[DocState], modelRows: Dataset[WordTopics],
      numWords: Int, cfg: LdaConfig, numShards: Int): Dataset[LdaInfer.DocTopics] = {
    val spark = docs0.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val k = cfg.numTopics
    val (alpha, beta, seed) = (cfg.alpha, cfg.beta, cfg.seed)
    val mrows = modelRows.rdd.map(r => (r.wordId, r.counts))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val global = globalRowRdd(mrows, k) // frozen
    var state: RDD[(DocState, Array[Double])] =
      docs0.rdd.map(d => (d, new Array[Double](k)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    state.localCheckpoint() // marked before the first job (count below)
    state.count()
    val nShards = effectiveShards(numWords, numShards)
    for (iter <- 0 until cfg.totalIterations; s <- 0 until nShards) {
      val (lo, hi) = shardBounds(numWords, numShards, s)
      val bcShard = sc.broadcast(collectShard(mrows, lo, hi, global))
      val accumulate = (s == nShards - 1) && iter >= cfg.burnInIterations
      val prev = state
      state = state.mapPartitions { it =>
        val shard = bcShard.value
        val dist = new Array[Double](k)
        it.map { case (doc, acc) =>
          val topics = doc.topics.clone()
          val docTopics = doc.topicHistogram(k)
          // namespace by seed xor (not OR-ed tag bits, which alias once
          // iter/shard bits overlap the tag); (iter << 16 | shard) is
          // collision-free like the training path's key
          val rng = new SplitMix64(
            Rng.mix(seed ^ 0x1FE2C0DEL, doc.docId, (iter.toLong << 16) | s))
          Gibbs.sweepDocument(doc.wordIds, doc.offsets, topics, docTopics,
            shard, lo, hi, numWords, alpha, beta, train = false, rng, dist)
          val acc2 =
            if (accumulate) {
              val a = acc.clone()
              var t = 0
              while (t < k) { a(t) += docTopics(t); t += 1 }
              a
            } else acc
          (doc.copy(topics = topics), acc2)
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      // cut the S-pass chain at each iteration boundary, marked before
      // the materializing count
      if (s == nShards - 1) state.localCheckpoint()
      state.count() // materialize before releasing this shard's broadcast
      prev.unpersist(blocking = false)
      bcShard.unpersist(blocking = false)
    }
    mrows.unpersist(blocking = false)
    val n = cfg.totalIterations - cfg.burnInIterations
    spark.createDataset(
      state.map { case (d, acc) => LdaInfer.DocTopics(d.docId, acc.map(_ / n)) })
  }

  /** Corpus log-likelihood on the sharded model: per-word terms need the
    * word's own row, so broadcast the model shard by shard and sum each
    * shard's occurrences' contributions. */
  def shardedLikelihood(
      docs: Dataset[DocState], modelRows: Dataset[WordTopics],
      numWords: Int, cfg: LdaConfig, numShards: Int = 0,
      maxShardBytes: Long = 64L << 20): Double =
    shardedLikelihoodRdd(docs.rdd, modelRows.rdd.map(r => (r.wordId, r.counts)),
      numWords, cfg, numShards, maxShardBytes)

  def shardedLikelihoodRdd(
      docs: RDD[DocState], modelRows: RDD[(Int, Array[Long])],
      numWords: Int, cfg: LdaConfig, numShards: Int = 0,
      maxShardBytes: Long = 64L << 20): Double = {
    val k = cfg.numTopics
    val (alpha, beta) = (cfg.alpha, cfg.beta)
    val global = globalRowRdd(modelRows, k)
    val sc = docs.sparkContext
    // honor the caller's shard count (train threads its own, preserving the
    // "driver bounded by shard size" guarantee); standalone callers get a
    // byte-budget default: ceil(V*K*8 / maxShardBytes) shards, so one
    // collectShard never pulls more than maxShardBytes to the driver
    val shards = effectiveShards(numWords,
      if (numShards >= 1) numShards
      else math.max(1L, (numWords.toLong * k * 8 + maxShardBytes - 1) / maxShardBytes).toInt)
    var total = 0.0
    for (s <- 0 until shards) {
      val (lo, hi) = shardBounds(numWords, shards, s)
      val bcShard = sc.broadcast(collectShard(modelRows, lo, hi, global))
      total += docs.mapPartitions { it =>
        val shard = bcShard.value
        var acc = 0.0
        it.foreach(doc => acc = Gibbs.logLikelihood(doc, shard, lo, hi, numWords,
          alpha, beta, k, acc))
        Iterator.single(acc)
      }.treeReduce(_ + _, depth = 1) // partials are one Double each
      bcShard.unpersist(blocking = false)
    }
    total
  }
}
