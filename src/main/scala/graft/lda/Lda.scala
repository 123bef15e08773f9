package graft.lda

import org.apache.spark.graftbridge.CheckpointBridge
import org.apache.spark.rdd.RDD
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The AD-LDA trainer (SURVEY §3.4): plda's one training iteration —
  * sweep against a replica, then allreduce the counts (mpi_lda.cc:213-235,
  * Newman et al.) — with the model placed in S word shards (the PLDA+
  * data-placement idea, Liu et al., ACM TIST 2011, cited at the
  * reference's README.md:232). S = 1 is plain flat training.
  *
  * The driver holds the flat (V+1)×K model. Iteration i runs one pass per
  * word range [lo, hi) of [[shardBounds]], each pass ONE Spark job:
  *   1. broadcast rows [lo, hi) of the driver model, then the global row
  *      as it was at iteration start (at S = 1: the whole model, no copy);
  *   2. Gibbs sweep of the range's occurrences, block to block
  *      ([[Gibbs.sweepRdd]]) — each task samples against its cloned
  *      replica (AD-LDA staleness, quirk #2), and its new block carries
  *      the replica's change: the sparse count delta of rows [lo, hi) and
  *      of the global row;
  *   3. allreduce "up" of those deltas ([[Gibbs.sumDeltas]]; plda
  *      allreduces the recounted model, ParallelLDAModel::
  *      ComputeAndAllReduce, mpi_lda.cc:94-111): a narrow map of the
  *      persisted swept generation, merged on the driver as each task
  *      finishes (one bare `runJob`, which also materializes the
  *      generation); optionally, in the same tasks, the pre-sweep
  *      log-likelihood of the range, read from the iteration-start
  *      generation (quirk #6: the reported LL describes the previous
  *      iteration's model);
  *   4. add the delta into the driver model: rows [lo, hi) at once, the
  *      global row after the last pass. At S = 1 the sum goes into a copy,
  *      as the model array is the live broadcast value, which a task
  *      recomputed from lineage must still read unchanged.
  * Integer deltas make the result exactly the recounted model.
  * A pass only moves its own words' occurrences, so pass s still sees its
  * rows and the global row as of iteration start: every shard samples
  * against one-iteration-stale counts, the same staleness AD-LDA has
  * across partitions. Post-burn-in, each iteration's model is added into
  * the driver-side averaged model (A1/A2, accumulative_model.cc:38-68) —
  * the single-node `lda` binary's semantics, at every S.
  *
  * Memory: the driver holds the whole model at every S; what S bounds is
  * the per-task broadcast replica, (V/S + 1)×K longs, and the
  * per-partition delta partial, at most that many entries. A cached block
  * keeps its pass's delta for as long as its generation stays cached:
  * per block at most the dense slice, and at most 4 entries per topic
  * flip (3 MB at V = 38,007, K = 10; about 0.5 MB per task in perfbench's
  * `nyt_k10` workload). Up to three generations are live at once (the
  * iteration-start one, the pass's input and its output; two at S = 1),
  * plus the newest checkpointed one, each P blocks over P partitions, so
  * the deltas add at most 4 × P dense slices to the cache, spilled to
  * disk with the docs under MEMORY_AND_DISK. Early iterations on a
  * large-V corpus flip the most topics, when this can exceed the
  * generation's topic assignments themselves.
  *
  * A generation is cached as ONE [[Block]] per partition (`glom` of the
  * input, then a block-to-block sweep), not one record per doc. Spark
  * caches a partition as one block either way, and unrolls it
  * whole either way, so the memory held is the same plus one reference
  * per doc; what changes is that `MemoryStore` sizes one object per
  * partition (`SizeEstimator` samples a large array) instead of
  * re-estimating its growing record buffer dozens of times per partition
  * on every pass. [[Result.docs]] and the checkpoint hook still see a
  * `Dataset[DocState]`, a flattening view over the blocks.
  *
  * Lineage is cut with a localCheckpoint every 10 passes; each
  * superseded generation is unpersisted, except the newest checkpointed
  * one, where every later generation's lineage ends ([[Generations]]).
  */
object LdaTrainer {

  /** Training output. CACHE-LIFETIME CONTRACT (the repo-wide convention —
    * see also [[graft.ext.Dedup.dupClustersDistributed]]):
    *  - a Result-style return exposes `release()`; the CALLER calls it
    *    once done consuming `docs`, which unpersists the backing cached
    *    generation (`docs` is a map view — its own `unpersist` would be a
    *    no-op on the backing RDD entry);
    *  - a bare Dataset return that must survive its producer's internal
    *    caches is handed back `localCheckpoint`ed: its blocks die with
    *    the caller's reference (ContextCleaner on GC), never as a
    *    CacheManager entry leaking per call. CacheLifetimeSpec asserts
    *    both shapes leave `getPersistentRDDs` flat across repeated calls. */
  final case class Result(
      /** last-iteration raw counts, (V+1)×K flat (the `mpi_lda` output kind) */
      model: Array[Long],
      /** burn-in-averaged model, (V+1)×K flat (the `lda` output kind) */
      averaged: Array[Double],
      /** pre-sweep corpus log-likelihood per iteration (if requested) */
      likelihoods: Array[Double],
      /** wall-clock per training iteration, ms (all passes' broadcasts,
        * and their sweeps with the allreduce of the swept blocks' deltas,
        * each pass one `runJob`, plus the driver-side delta add and
        * burn-in accumulate) — the number
        * BASELINE.md's per-iteration cost model asks to watch at scale */
      iterMillis: Array[Long],
      /** driver-side model broadcast time per iteration, ms (the
        * allreduce-"down" half of the communication profile) */
      bcastMillis: Array[Long],
      /** final doc states (a flattening view over the persisted
        * generation's per-partition blocks) */
      docs: Dataset[DocState],
      numWords: Int,
      /** Unpersists the cached generation backing `docs` (the loop's
        * internal RDD — not always the same object as `docs`, which can be
        * a map view). Callers done with `docs` must call this, or the
        * final corpus generation stays cached. */
      release: () => Unit)

  /** `numShards` ≥ 1 sets S; 0 (the default) derives it from the model
    * size ([[Lda.numShards]]). S ≥ 2 changes the chain (sharded RNG
    * streams and staleness), not its distribution. */
  def train(corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      numShards: Int = 0): Result =
    trainFrom(corpus, numWords, cfg, numShards, startIter = 0,
      accum0 = None, nAccum0 = 0, lls0 = Array.empty,
      iterMs0 = Array.empty, bcastMs0 = Array.empty, onCheckpoint = null)

  /** Canonical deterministic doc layout: hash-partition on docId into
    * exactly `p` partitions, sorted within each. A pure function of
    * (data, p) — independent of the INCOMING partitioning, which is what
    * a parquet round-trip scrambles (maxPartitionBytes re-splits files).
    * AD-LDA sweep results depend on which docs share a task replica and
    * in what order they sweep it, so pinning this layout at the start of
    * BOTH the fresh and the resumed chain makes resume byte-identical to
    * an uninterrupted run (spec: TrainSpec "resume ≡ uninterrupted"). */
  private[lda] def canonicalLayout(docs: Dataset[DocState], p: Int): Dataset[DocState] =
    docs.repartition(p, col("docId")).sortWithinPartitions("docId")

  /** [[train]] with durable checkpoint/resume: every `every` iterations
    * the full training state (doc assignments, burn-in accumulator,
    * likelihood trace, timing traces, iteration marker, canonical
    * partition count) is written under `dir`; a later call with the same
    * `dir` resumes from the newest checkpoint instead of restarting —
    * the preemption-survival story for long runs. The model is not
    * stored: it is recounted from the doc assignments. The corpus is
    * pinned to [[canonicalLayout]] (one extra shuffle at chain start),
    * making the resumed chain BYTE-IDENTICAL to an uninterrupted run with
    * the same seed and S: sweep RNG streams key on (seed, docId, iter,
    * shard), model updates are integer sums (exact in any merge order,
    * so also across the per-task arrival order of the allreduce), and
    * the layout — the only remaining degree of freedom — is now a pure
    * function of (data, num_parts) on both paths. The hook sees each
    * generation as a `Dataset[DocState]` view over its cached blocks. */
  def trainResumable(corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      dir: String, every: Int, numShards: Int = 0): Result = {
    require(every >= 1, "checkpoint cadence `every` must be >= 1")
    val spark = corpus.sparkSession
    def hook(p: Int) = (i: Int, d: Dataset[DocState], a: Array[Double], n: Int,
        l: Array[Double], im: Array[Long], bm: Array[Long]) =>
      if (i % every == 0) TrainCheckpoint.save(dir, d, i, a, n, l, p, im, bm)
    TrainCheckpoint.load(spark, dir, numWords, cfg.numTopics) match {
      case Some(st) =>
        val p = if (st.numParts > 0) st.numParts else st.docs.rdd.getNumPartitions
        trainFrom(canonicalLayout(st.docs, p), numWords, cfg, numShards, st.iter,
          Some(st.accum), st.nAccum, st.lls, st.iterMs, st.bcastMs, hook(p))
      case None =>
        val p = corpus.rdd.getNumPartitions
        trainFrom(canonicalLayout(corpus, p), numWords, cfg, numShards, 0, None, 0,
          Array.empty, Array.empty, Array.empty, hook(p))
    }
  }

  /** Shard s of S owns word ids in [lo, hi). Range (not hash) sharding:
    * a shard's rows form one contiguous slice of the flat model. Both
    * bounds clamp to V: with per = ⌈V/S⌉, trailing shards can start past
    * V whenever S ∤ V (e.g. V=31, S=15 → per=3, shard 11 starts at 33) —
    * those are EMPTY [V, V) shards, not negative slices. */
  private[lda] def shardBounds(numWords: Int, numShards: Int, s: Int): (Int, Int) = {
    val per = (numWords + numShards - 1) / numShards
    (math.min(s * per, numWords), math.min((s + 1) * per, numWords))
  }

  /** Largest shard count with no empty trailing shards: with ⌈V/S⌉ rows
    * per shard only ⌈V/⌈V/S⌉⌉ shards hold any words — iterating past that
    * costs a full corpus pass per EMPTY shard. Two requested counts that
    * normalize identically produce identical chains; [[shardBounds]] on
    * the normalized count gives the same ranges as on the requested one.
    * At least 1, also for V = 0. */
  private[lda] def effectiveShards(numWords: Int, numShards: Int): Int = {
    val per = math.max(1, (numWords + numShards - 1) / numShards)
    math.max(1, (numWords + per - 1) / per)
  }

  /** The cached generations of one chain of doc states. A superseded
    * generation is unpersisted, except the newest locally checkpointed
    * one: every later generation's lineage ends in its blocks, so it stays
    * cached until a newer checkpointed generation has been materialized,
    * and [[release]] drops it together with the final generation. A
    * checkpointed generation is dropped only once nothing can read it, so
    * without `RDD.unpersist`'s warning that it cannot be recomputed. */
  private[lda] final class Generations {
    private var anchor: RDD[_] = null
    private var anchorRetired = false

    private def drop(gen: RDD[_]): Unit =
      if (gen.isCheckpointed) CheckpointBridge.drop(gen) else gen.unpersist(blocking = false)

    /** `gen` has just been materialized by a job. */
    def materialized(gen: RDD[_]): Unit =
      if (gen.isCheckpointed && (gen ne anchor)) {
        if (anchor != null && anchorRetired) drop(anchor)
        anchor = gen
        anchorRetired = false
      }

    /** No pass reads `gen` any more. */
    def retire(gen: RDD[_]): Unit =
      if (gen eq anchor) anchorRetired = true else drop(gen)

    /** Drops the final generation `last` and the checkpoint it rests on. */
    def release(last: RDD[_]): Unit = {
      drop(last)
      if (anchor != null) drop(anchor)
    }
  }

  /** One training iteration: `numShards` passes over the word ranges of
    * [[shardBounds]] (see the object doc). `docs` is the iteration-start
    * generation, one block per partition; it stays cached until the
    * caller retires it in `gens`. Returns the swept generation (persisted
    * and materialized), the model after the iteration — `model` itself,
    * updated in place, at S ≥ 2; an updated copy at S = 1, where `model`
    * is the live broadcast value and is left untouched — the pre-sweep
    * log-likelihood (0 unless `cfg.computeLikelihood`), and the broadcast
    * time in ns. `ingressMax` bounds the allreduce's driver ingress
    * ([[Gibbs.DriverIngressBytes]]). */
  private[lda] def iteration(docs: RDD[Block], model: Array[Long], numWords: Int,
      cfg: LdaConfig, numShards: Int, iter: Int, gens: Generations,
      ingressMax: Long = Gibbs.DriverIngressBytes
  ): (RDD[Block], Array[Long], Double, Long) = {
    val sc = docs.sparkContext
    val k = cfg.numTopics
    val global = numWords * k
    val next = if (numShards == 1) model.clone() else model
    val globalDelta = new Array[Long](k)
    var current = docs
    var ll = 0.0
    var bcNanos = 0L
    // `s` is a fresh val per pass: a task closure recomputed from lineage
    // must key its RNG on its own shard, not on a shared loop variable
    for (s <- 0 until numShards) {
      val (lo, hi) = shardBounds(numWords, numShards, s)
      val t0 = System.nanoTime()
      val bc = sc.broadcast(
        if (numShards == 1) model
        else java.util.Arrays.copyOfRange(model, lo * k, hi * k) ++
          java.util.Arrays.copyOfRange(model, global, global + k))
      bcNanos += System.nanoTime() - t0
      val stream = if (numShards == 1) iter.toLong else iter.toLong << 16 | s
      val swept = Gibbs.sweepRdd(current, bc, lo, hi, numWords, k, cfg.alpha, cfg.beta,
        cfg.seed, stream).persist(StorageLevel.MEMORY_AND_DISK)
      // lineage cut every 10 passes, marked BEFORE the materializing
      // action below (RDD.localCheckpoint must precede the first job);
      // bounds recompute depth after executor loss
      if ((iter.toLong * numShards + s + 1) % 10 == 0) swept.localCheckpoint()
      val likelihood = if (!cfg.computeLikelihood) None else Some((docs,
        (d: DocState, sum: Double) =>
          if (numShards == 1)
            sum + Gibbs.logLikelihood(d, bc.value, lo, hi, numWords, cfg.alpha, cfg.beta, k, 0.0)
          else Gibbs.logLikelihood(d, bc.value, lo, hi, numWords, cfg.alpha, cfg.beta, k, sum)))
      val (delta, passLL) = // materializes
        Gibbs.sumDeltas(swept, lo, hi, k, likelihood, ingressMax)
      ll += passLL
      val gOff = (hi - lo) * k
      delta.foreach { d =>
        val i = Gibbs.deltaIndex(d)
        if (i < gOff) next(lo * k + i) += Gibbs.deltaChange(d)
        else globalDelta(i - gOff) += Gibbs.deltaChange(d)
      }
      gens.materialized(swept)
      if (current ne docs) gens.retire(current)
      current = swept
      bc.unpersist(blocking = false)
    }
    var t = 0
    while (t < k) { next(global + t) += globalDelta(t); t += 1 }
    (current, next, ll, bcNanos)
  }

  private def trainFrom(corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      numShards: Int, startIter: Int, accum0: Option[Array[Double]], nAccum0: Int,
      lls0: Array[Double], iterMs0: Array[Long], bcastMs0: Array[Long],
      onCheckpoint: (Int, Dataset[DocState], Array[Double], Int, Array[Double],
        Array[Long], Array[Long]) => Unit): Result = {
    require(numShards >= 0, "numShards must be >= 0 (0: derived from the model size)")
    val spark = corpus.sparkSession
    import spark.implicits._
    def view(gen: RDD[Block]) = spark.createDataset(gen.flatMap(_.docs.iterator))
    val k = cfg.numTopics
    val nShards = effectiveShards(numWords,
      if (numShards >= 1) numShards else Lda.numShards(numWords, k))
    // The loop lives at the RDD layer: per-partition imperative compute
    // with no relational structure — Catalyst has nothing to optimize,
    // and a Dataset persist would encoder-serialize every DocState each
    // iteration (measured 3× slower at sf0.1); the RDD caches plain JVM
    // objects, one block array per partition (see the object doc).
    // localCheckpoint up front truncates the INPUT's lineage
    // (continue-training would otherwise drag the prior chain along) —
    // marked before the first job so the first materialization checkpoints.
    // The persist/checkpoint marks go on a PRIVATE block copy, never on
    // corpus.rdd itself: Dataset.rdd is a lazy val shared by every
    // consumer of the Dataset, and marking it would truncate the caller's
    // lineage — a second fit() on the same Dataset would then read
    // unpersisted checkpoint blocks and fail.
    var docs = corpus.rdd.glom().map(Block.initial).persist(StorageLevel.MEMORY_AND_DISK)
    docs.localCheckpoint()
    var model = Gibbs.countModelRdd(docs, 0, numWords, k)
    val gens = new Generations
    gens.materialized(docs)
    val accum = accum0.getOrElse(new Array[Double]((numWords + 1) * k))
    var nAccum = nAccum0
    // ArrayBuffer, NOT Array.newBuilder: the per-checkpoint snapshots below
    // call result()/toArray mid-loop, and 2.13's ArrayBuilder.result() steals
    // the backing array when capacity == size (any power-of-2 length),
    // NPE-ing the next += — ArrayBuffer.toArray is a pure copy
    val lls = scala.collection.mutable.ArrayBuffer.empty[Double]
    lls ++= lls0
    // restored on resume so the timing traces stay parallel to
    // `likelihoods` (consumers zip them per-iteration)
    val iterMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    iterMs ++= iterMs0
    val bcastMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    bcastMs ++= bcastMs0

    var iter = startIter
    while (iter < cfg.totalIterations) {
      val t0 = System.nanoTime()
      val (swept, m, ll, bcNanos) = iteration(docs, model, numWords, cfg, nShards, iter, gens)
      model = m
      if (cfg.computeLikelihood) lls += ll
      gens.retire(docs)
      docs = swept
      if (iter >= cfg.burnInIterations) {
        var i = 0
        while (i < accum.length) { accum(i) += model(i); i += 1 }
        nAccum += 1
      }
      iterMs += (System.nanoTime() - t0) / 1000000L
      bcastMs += bcNanos / 1000000L
      iter += 1
      if (onCheckpoint != null)
        onCheckpoint(iter, view(docs), accum, nAccum,
          lls.toArray, iterMs.toArray, bcastMs.toArray)
    }
    if (nAccum > 0) {
      var i = 0
      while (i < accum.length) { accum(i) /= nAccum; i += 1 }
    }
    val gen = docs
    Result(model, accum, lls.toArray, iterMs.toArray, bcastMs.toArray,
      view(docs), numWords,
      release = () => gens.release(gen))
  }
}

/** Fold-in inference for unseen documents with a frozen model (I1,
  * infer.cc:37-101). Each document's chain is independent given the frozen
  * model, so ALL its iterations run inside one `mapPartitions` pass — one
  * Spark job total, embarrassingly parallel, no per-iteration barrier.
  *
  * This is the program's one fold-in: [[LdaModel.transform]], `InferApp`
  * and `lda_infer_topics` all run [[inferDoc]] over the driver model,
  * broadcast whole. Memory: one (V+1)×K array of longs per executor — the
  * sweep runs with `train = false`, so tasks read the broadcast value and
  * never clone it. There is no fold-in over a model kept as distributed
  * rows with a bounded per-task replica: training always returns the model
  * on the driver, so no caller holds a model too large to broadcast. */
object LdaInfer {

  final case class DocTopics(docId: Long, topics: Array[Double])

  /** One document's full fold-in chain (the body of infer.cc:82-98):
    * `total` frozen-model sweeps, post-burn-in averaged topic counts.
    * `dist` is reusable scratch of length K. */
  def inferDoc(doc: DocState, model: Array[Long], numWords: Int,
      cfg: LdaConfig, dist: Array[Double]): Array[Double] = {
    val k = cfg.numTopics
    val topics = doc.topics.clone()
    val docTopics = doc.topicHistogram(k)
    val acc = new Array[Double](k)
    val rng = new SplitMix64(Rng.mix(cfg.seed, doc.docId, 0x1FE2L))
    var iter = 0
    while (iter < cfg.totalIterations) {
      Gibbs.sweepDocument(doc.wordIds, doc.offsets, topics, docTopics, model,
        numWords, cfg.alpha, cfg.beta, train = false, rng, dist)
      if (iter >= cfg.burnInIterations) {
        var t = 0
        while (t < k) { acc(t) += docTopics(t); t += 1 }
      }
      iter += 1
    }
    val n = cfg.totalIterations - cfg.burnInIterations
    var t = 0
    while (t < k) { acc(t) /= n; t += 1 }
    acc
  }

  /** corpus must be built against the model's vocabulary (OOV dropped at
    * the dictionary join — the semi-join of infer.cc:77-80). Output: per
    * doc, averaged post-burn-in topic counts (NOT normalized to 1),
    * averaged over (total − burnIn) iterations like infer.cc:94-98. */
  def infer(corpus: Dataset[DocState], model: Array[Long], numWords: Int, cfg: LdaConfig): Dataset[DocTopics] = {
    import corpus.sparkSession.implicits._
    val sc = corpus.sparkSession.sparkContext
    val bc = sc.broadcast(model)
    val k = cfg.numTopics
    corpus.mapPartitions { it =>
      val m = bc.value
      val dist = new Array[Double](k)
      it.map(doc => DocTopics(doc.docId, inferDoc(doc, m, numWords, cfg, dist)))
    }
  }
}

/** User-facing estimator/model pair (the north-star surface of SURVEY
  * §2.4): `Lda(cfg).fit(documents)` → [[LdaModel]] → `.transform(docs)` /
  * `.topWords(n)` / `.describeTopics`. */
final case class Lda(cfg: LdaConfig,
    /** model-size ceiling for one-shard training; above it [[fit]] trains
      * with S ≥ 2 word shards — see [[Lda.BroadcastModelBytesMax]] for the
      * measured default and [[Lda.numShards]] for the rule. */
    broadcastBytesMax: Long = Lda.BroadcastModelBytesMax) {

  /** documents: DataFrame(doc_id, text). Trains with [[LdaTrainer]] at the
    * shard count the model size calls for (the reference's own scaling
    * law — its memory formula V×K×8, README.md:125 / model.cc:54): one
    * shard up to [[broadcastBytesMax]], [[Lda.recommendedShards]] above
    * it. Either way the model comes back as one driver-side array, with
    * the burn-in-averaged model next to the final counts. */
  def fit(documents: DataFrame): LdaModel = {
    val toks = Corpus.tokenize(documents)
    val vocab = Corpus.sortedVocab(toks).cache()
    val numWords = vocab.count().toInt
    val corpus = Corpus.fromTokenIds(toks.join(broadcast(vocab), "tok")
      .select("doc_id", "word_id"), cfg.numTopics, cfg.seed)
    val result = LdaTrainer.train(corpus, numWords, cfg,
      Lda.numShards(numWords, cfg.numTopics, broadcastBytesMax))
    // the model arrays are extracted; release the persisted final corpus
    // generation (via release(), NOT docs.unpersist — docs can be a narrow
    // view whose unpersist would be a no-op on the backing cache entry)
    result.release()
    LdaModel(result.model, result.averaged, result.likelihoods, vocab,
      numWords, cfg)
  }
}

object Lda {

  /** MEASURED one-shard → word-sharded crossover on the model-size axis
    * (NytKsweep r12, `BENCH_ksweep_r12.json` / BENCH.md round 12: the
    * published-scale corpus — 300k docs, V = 102,660, ~100M tokens —
    * trained both ways at K ∈ {10, 32, 64, 100, 1000}, when the sharded
    * path was a separate trainer keeping the model distributed).
    * Steady s/iter, local[32]: flat wins 1.9× at 8 MB (0.85 vs 1.62)
    * and 13% at 25 MB (2.02 vs 2.28), the two paths tie at 50 MB
    * (3.36 vs 3.44), sharded wins from 78 MB (4.53 vs 4.86) out to
    * 783 MB (44.2 vs 80.4 — where the flat path also needed
    * `spark.driver.maxResultSize` raised past its 1g default just to
    * run). 64 MB was the indifference point of that measurement, taken
    * on the since-deleted trainer whose allreduce shipped dense
    * whole-model partials; today's passes ship sparse deltas, and
    * ROADMAP item 3 re-measures the crossover. One shard's per-task
    * clone grows with V×K while S shards' per-pass broadcasts and
    * partials stay bounded. */
  val BroadcastModelBytesMax: Long = 64L << 20

  /** Per-shard broadcast target for sharded training: big enough to
    * amortize the per-pass job, small enough that per-task clones stay
    * trivial next to executor heaps. */
  val TargetShardBytes: Long = 64L << 20

  /** (V+1)×K×8 — the reference's own memory law (README.md:125). */
  def modelBytes(numWords: Int, numTopics: Int): Long =
    (numWords + 1L) * numTopics * 8L

  /** Whether a model of this size trains with S ≥ 2 word shards. */
  def shouldShard(numWords: Int, numTopics: Int,
      thresholdBytes: Long = BroadcastModelBytesMax): Boolean =
    modelBytes(numWords, numTopics) > thresholdBytes

  def recommendedShards(numWords: Int, numTopics: Int): Int =
    math.max(2, math.ceil(
      modelBytes(numWords, numTopics).toDouble / TargetShardBytes).toInt)

  /** The word-shard count S training uses for a model of this size: 1
    * unless [[shouldShard]], else [[recommendedShards]]. */
  def numShards(numWords: Int, numTopics: Int,
      thresholdBytes: Long = BroadcastModelBytesMax): Int =
    if (shouldShard(numWords, numTopics, thresholdBytes)) recommendedShards(numWords, numTopics)
    else 1
}

final case class LdaModel(
    counts: Array[Long],
    averaged: Array[Double],
    likelihoods: Array[Double],
    vocab: DataFrame,
    numWords: Int,
    cfg: LdaConfig) {

  /** Fold-in topic mixtures for (doc_id, text) docs; OOV words dropped. */
  def transform(documents: DataFrame, inferCfg: LdaConfig): Dataset[LdaInfer.DocTopics] = {
    val toks = Corpus.tokenize(documents)
    val corpus = Corpus.fromTokenIds(toks.join(broadcast(vocab), "tok")
      .select("doc_id", "word_id"), inferCfg.numTopics, inferCfg.seed)
    LdaInfer.infer(corpus, counts, numWords, inferCfg)
  }

  /** Words in id order: collects (word_id, tok) and places each word by
    * its id (V ≪ corpus). The ids must be exactly 0..V-1, as every
    * [[Corpus]] vocabulary builder makes them: `counts` is indexed by id. */
  lazy val indexToWord: Array[String] = {
    val rows = vocab.select(col("word_id").cast("int"), col("tok")).collect()
    val words = new Array[String](rows.length)
    rows.foreach { r =>
      val id = r.getInt(0)
      require(id >= 0 && id < words.length && words(id) == null,
        s"vocab word_id $id (word ${r.getString(1)}) is out of range or repeated: " +
          s"the ${words.length} ids must be exactly 0..${words.length - 1}")
      words(id) = r.getString(1)
    }
    words
  }

  /** word → id map (collected; for broadcast in row-wise/streaming paths). */
  lazy val vocabMap: Map[String, Int] = indexToWord.zipWithIndex.toMap

  /** Per topic, the ids of its words with count > 1 in rank order — count
    * descending, ties by word in Spark's string order (UTF-8 bytes) — cut
    * to the first `n`. Ranked on the driver from `counts`. */
  private def ranked(n: Int): IndexedSeq[Array[Int]] = {
    val k = cfg.numTopics
    val utf8 = indexToWord.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (0 until k).map { t =>
      val better: Ordering[Int] = (a, b) => {
        val c = java.lang.Long.compare(counts(b * k + t), counts(a * k + t))
        if (c != 0) c else Corpus.unsignedBytes.compare(utf8(a), utf8(b))
      }
      // the n best so far; the head is the worst of them
      val top = scala.collection.mutable.PriorityQueue.empty[Int](better)
      var w = 0
      while (w < utf8.length) {
        if (n > 0 && counts(w * k + t) > 1) {
          if (top.size < n) top.enqueue(w)
          else if (better.lt(w, top.head)) { top.dequeue(); top.enqueue(w) }
        }
        w += 1
      }
      top.toArray.sorted(better)
    }
  }

  private def localFrame(rows: Seq[Row], schema: StructType): DataFrame =
    vocab.sparkSession.createDataFrame(rows.asJava, schema)

  /** MLlib-style topic description: one row per topic with rank-ordered
    * term/weight arrays. Weights are fractions of the FULL topic mass
    * n(k) (totals computed before any filtering); the term list applies
    * the same cnt > 1 floor as [[topWords]] (view_model.py:20), so the
    * two views agree and no zero-count filler terms appear. A topic with
    * no cnt > 1 words is absent from both views. Built on the driver from
    * `counts` (K rows). */
  def describeTopics(maxTerms: Int = 10): DataFrame = {
    val k = cfg.numTopics
    val words = indexToWord
    val rows = ranked(maxTerms).zipWithIndex.collect { case (ids, t) if ids.nonEmpty =>
      var total = 0L
      for (w <- words.indices) total += counts(w * k + t)
      Row(t, ids.map(words(_)).toSeq, ids.map(w => counts(w * k + t).toDouble / total).toSeq)
    }
    localFrame(rows, LdaModel.DescribeTopicsSchema)
  }

  /** Top-n words per topic (R1, view_model.py): count>1 filter, per-topic
    * ranking, deterministic tie-break by word; rows ordered by (topic,
    * cnt desc, word). Built on the driver from `counts` (at most K·n
    * rows). */
  def topWords(n: Int): DataFrame = {
    val words = indexToWord
    val rows = for ((ids, t) <- ranked(n).zipWithIndex; w <- ids.toSeq)
      yield Row(t, words(w), counts(w * cfg.numTopics + t))
    localFrame(rows, LdaModel.TopWordsSchema)
  }
}

object LdaModel {
  private val TopWordsSchema = StructType(Seq(
    StructField("topic", IntegerType, nullable = false),
    StructField("word", StringType),
    StructField("cnt", LongType, nullable = false)))

  private val DescribeTopicsSchema = StructType(Seq(
    StructField("topic", IntegerType, nullable = false),
    StructField("terms", ArrayType(StringType, containsNull = true), nullable = false),
    StructField("termWeights", ArrayType(DoubleType, containsNull = true), nullable = false)))
}
