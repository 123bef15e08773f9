package graft.lda

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** One model row: n(w,·) for a single word. */
final case class WordTopics(wordId: Int, counts: Array[Long])

/** The distributed-model surface: a model kept as `Dataset[WordTopics]`
  * rows, never collected whole — its tally ([[ShardedLda.countModelRows]],
  * [[ShardedLda.globalRow]]), fold-in ([[ShardedLda.infer]]) and
  * likelihood ([[ShardedLda.shardedLikelihood]]). Training is not here:
  * [[LdaTrainer]] is the one trainer, and runs word-sharded at S ≥ 2 with
  * the model on the driver.
  *
  * There is no sampler here: each shard pass runs [[Gibbs]]'s one kernel
  * ([[Gibbs.sweepDocument]], [[Gibbs.logLikelihood]]) over the shard's word
  * range [lo, hi) of [[LdaTrainer.shardBounds]], handing it the shard's
  * rows with the global row n(k) appended — collected and broadcast one
  * shard at a time, so driver and executor memory are bounded by the
  * shard size, never the full model.
  *
  * Like [[LdaTrainer]], the doc-state loop runs at the RDD layer (plain
  * JVM object caching; a Dataset persist would encoder-serialize every
  * DocState once per shard pass). Public entry points keep Dataset
  * signatures; `Rdd`-suffixed cores are what they drive.
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

  /** Fold-in inference against a DISTRIBUTED model (the huge-V regime —
    * likelihood and infer never collect the model whole). Iterations outer, shards inner: each
    * (iter, shard) pass broadcasts only (V/S)×K rows and resamples that
    * shard's occurrences with the model frozen (no −1 self-adjustment,
    * sampler.cc:99 with update_model=false). The per-doc running
    * histogram sum for post-burn-in averaging rides the doc state.
    *
    * Visit order is shard-major, so chains are NOT bit-identical to
    * [[LdaInfer.infer]]'s doc-major chains — statistically equivalent,
    * verified by planted-topic recovery (ShardedLdaSpec), not by hash.
    *
    * Lifecycle: superseded state generations are released as in training
    * ([[LdaTrainer.Generations]]: the newest checkpointed one stays
    * cached while later ones rest on it). The returned Dataset is a map
    * view over the final persisted+localCheckpointed state generation.
    * Its blocks are released by the ContextCleaner once the caller drops
    * the Dataset (standard RDD GC semantics); do NOT unpersist the backing
    * RDD while still consuming the view — localCheckpoint truncated its
    * lineage, so evicted blocks cannot be recomputed. */
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
    val gens = new LdaTrainer.Generations
    gens.materialized(state)
    val nShards = LdaTrainer.effectiveShards(numWords, numShards)
    for (iter <- 0 until cfg.totalIterations; s <- 0 until nShards) {
      val (lo, hi) = LdaTrainer.shardBounds(numWords, nShards, s)
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
      gens.materialized(state)
      gens.retire(prev)
      bcShard.unpersist(blocking = false)
    }
    mrows.unpersist(blocking = false)
    val n = cfg.totalIterations - cfg.burnInIterations
    spark.createDataset(
      state.map { case (d, acc) => LdaInfer.DocTopics(d.docId, acc.map(_ / n)) })
  }

  /** Corpus log-likelihood on the sharded model: per-word terms need the
    * word's own row, so broadcast the model shard by shard and sum each
    * shard's occurrences' contributions (per partition, then across
    * partitions in partition order, then across shards in shard order). */
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
    // honor the caller's shard count; by default a byte budget of
    // ceil(V*K*8 / maxShardBytes) shards, so one collectShard never pulls
    // more than maxShardBytes to the driver
    val shards = LdaTrainer.effectiveShards(numWords,
      if (numShards >= 1) numShards
      else math.max(1L, (numWords.toLong * k * 8 + maxShardBytes - 1) / maxShardBytes).toInt)
    var total = 0.0
    for (s <- 0 until shards) {
      val (lo, hi) = LdaTrainer.shardBounds(numWords, shards, s)
      val bcShard = sc.broadcast(collectShard(modelRows, lo, hi, global))
      // per-partition partials added in partition order
      total += Gibbs.sumInOrder(docs.mapPartitions { it =>
        val shard = bcShard.value
        var acc = 0.0
        it.foreach(doc => acc = Gibbs.logLikelihood(doc, shard, lo, hi, numWords,
          alpha, beta, k, acc))
        Iterator.single(acc)
      }.collect())
      bcShard.unpersist(blocking = false)
    }
    total
  }
}
