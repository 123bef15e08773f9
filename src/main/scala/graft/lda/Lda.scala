package graft.lda

import org.apache.spark.rdd.RDD
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Training iteration driver (SURVEY §3.4).
  *
  * Per iteration — exactly the reference's MPI communication profile
  * (mpi_lda.cc:213-235), re-expressed as Spark's aggregate/broadcast:
  *   1. broadcast the model (allreduce "down");
  *   2. optional pre-sweep corpus log-likelihood (quirk #6: the reported LL
  *      describes the previous iteration's model);
  *   3. `mapPartitions` Gibbs sweep — each task samples against its cloned
  *      replica (AD-LDA staleness, quirk #2);
  *   4. recount the model from the swept corpus via treeReduce (allreduce
  *      "up"; = ParallelLDAModel::ComputeAndAllReduce, mpi_lda.cc:94-111);
  *   5. post-burn-in: accumulate into the driver-side averaged model
  *      (A1/A2, accumulative_model.cc:38-68) — the single-node `lda`
  *      binary's semantics.
  *
  * Lineage is cut with an eager localCheckpoint every 10 iterations; the
  * superseded generation is unpersisted.
  */
object LdaTrainer {

  final case class Result(
      /** last-iteration raw counts, (V+1)×K flat (the `mpi_lda` output kind) */
      model: Array[Long],
      /** burn-in-averaged model, (V+1)×K flat (the `lda` output kind) */
      averaged: Array[Double],
      /** pre-sweep corpus log-likelihood per iteration (if requested) */
      likelihoods: Array[Double],
      /** wall-clock per training iteration, ms (sweep + model recount
        * treeReduce + accumulate) — the number BASELINE.md's per-iteration
        * cost model asks to watch at scale */
      iterMillis: Array[Long],
      /** driver-side model broadcast time per iteration, ms (the
        * allreduce-"down" half of the communication profile) */
      bcastMillis: Array[Long],
      /** final doc states (a view over the persisted generation) */
      docs: Dataset[DocState],
      numWords: Int,
      /** Unpersists the cached generation backing `docs` (the loop's
        * internal RDD — not always the same object as `docs`, which can be
        * a map view). Callers done with `docs` must call this, or the
        * final corpus generation stays cached. */
      release: () => Unit)

  def train(corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig): Result =
    trainFrom(corpus, numWords, cfg, startIter = 0,
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
    * the preemption-survival story for long runs. The corpus is pinned
    * to [[canonicalLayout]] (one extra shuffle at chain start), making
    * the resumed chain BYTE-IDENTICAL to an uninterrupted run with the
    * same seed: sweep RNG streams key on (seed, docId, iter), model
    * recounts are integer treeReduce sums, and the layout — the only
    * remaining degree of freedom — is now a pure function of
    * (data, num_parts) on both paths. */
  def trainResumable(corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      dir: String, every: Int): Result = {
    require(every >= 1, "checkpoint cadence `every` must be >= 1")
    val spark = corpus.sparkSession
    def hook(p: Int) = (i: Int, d: Dataset[DocState], a: Array[Double], n: Int,
        l: Array[Double], im: Array[Long], bm: Array[Long]) =>
      if (i % every == 0) TrainCheckpoint.save(dir, d, i, a, n, l, p, im, bm)
    TrainCheckpoint.load(spark, dir, numWords, cfg.numTopics) match {
      case Some(st) =>
        val p = if (st.numParts > 0) st.numParts else st.docs.rdd.getNumPartitions
        trainFrom(canonicalLayout(st.docs, p), numWords, cfg, st.iter,
          Some(st.accum), st.nAccum, st.lls, st.iterMs, st.bcastMs, hook(p))
      case None =>
        val p = corpus.rdd.getNumPartitions
        trainFrom(canonicalLayout(corpus, p), numWords, cfg, 0, None, 0,
          Array.empty, Array.empty, Array.empty, hook(p))
    }
  }

  private def trainFrom(corpus: Dataset[DocState], numWords: Int, cfg: LdaConfig,
      startIter: Int, accum0: Option[Array[Double]], nAccum0: Int,
      lls0: Array[Double], iterMs0: Array[Long], bcastMs0: Array[Long],
      onCheckpoint: (Int, Dataset[DocState], Array[Double], Int, Array[Double],
        Array[Long], Array[Long]) => Unit): Result = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val k = cfg.numTopics
    // The loop lives at the RDD layer: per-partition imperative compute
    // with no relational structure — Catalyst has nothing to optimize,
    // and a Dataset persist would encoder-serialize every DocState each
    // iteration (measured 3× slower at sf0.1); the RDD caches plain JVM
    // objects. localCheckpoint up front truncates the INPUT's lineage
    // (continue-training would otherwise drag the prior chain along) —
    // marked before the first job so the first materialization checkpoints.
    // The persist/checkpoint marks go on a PRIVATE identity-mapPartitions
    // copy, never on corpus.rdd itself: Dataset.rdd is a lazy val shared
    // by every consumer of the Dataset, and marking it would truncate the
    // caller's lineage — a second fit() on the same Dataset would then
    // read unpersisted checkpoint blocks and fail.
    var docs = corpus.rdd.mapPartitions(it => it, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.localCheckpoint()
    var pinned: RDD[_] = docs // the currently-persisted generation
    var model = Gibbs.countModelRdd(docs, numWords, k)._1
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
      val bc = sc.broadcast(model)
      val tBc = System.nanoTime()
      val swept = Gibbs.sweepRdd(docs, bc, numWords, k, cfg.alpha, cfg.beta,
        cfg.seed, iter).persist(StorageLevel.MEMORY_AND_DISK)
      // lineage cut every 10 iters, marked BEFORE the materializing
      // action below (RDD.localCheckpoint must precede the first job);
      // bounds recompute depth after executor loss
      if ((iter + 1) % 10 == 0) swept.localCheckpoint()
      // the pre-sweep LL (quirk #6: it describes the previous iteration's
      // model) is summed from the still-cached pre-sweep docs by the
      // tally's own tasks
      val likelihood = if (!cfg.computeLikelihood) None else Some((docs,
        (d: DocState) => Gibbs.logLikelihood(d, bc.value, numWords, cfg.alpha, cfg.beta, k)))
      val (m, ll) = Gibbs.countModelRdd(swept, numWords, k, likelihood) // materializes
      model = m
      if (cfg.computeLikelihood) lls += ll
      docs = swept
      pinned.unpersist(blocking = false)
      pinned = swept
      bc.unpersist(blocking = false)
      if (iter >= cfg.burnInIterations) {
        var i = 0
        while (i < accum.length) { accum(i) += model(i); i += 1 }
        nAccum += 1
      }
      iterMs += (System.nanoTime() - t0) / 1000000L
      bcastMs += (tBc - t0) / 1000000L
      iter += 1
      if (onCheckpoint != null)
        onCheckpoint(iter, spark.createDataset(docs), accum, nAccum,
          lls.toArray, iterMs.toArray, bcastMs.toArray)
    }
    if (nAccum > 0) {
      var i = 0
      while (i < accum.length) { accum(i) /= nAccum; i += 1 }
    }
    val gen = pinned
    Result(model, accum, lls.toArray, iterMs.toArray, bcastMs.toArray,
      spark.createDataset(docs), numWords,
      release = () => gen.unpersist(blocking = false))
  }
}

/** Fold-in inference for unseen documents with a frozen model (I1,
  * infer.cc:37-101). Each document's chain is independent given the frozen
  * model, so ALL its iterations run inside one `mapPartitions` pass — one
  * Spark job total, embarrassingly parallel, no per-iteration barrier. */
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
    /** broadcast-path model-size ceiling; above it [[fit]] trains via
      * [[ShardedLda]] — see [[Lda.BroadcastModelBytesMax]] for the
      * measured default and [[Lda.shouldShard]] for the rule. */
    broadcastBytesMax: Long = Lda.BroadcastModelBytesMax) {

  /** documents: DataFrame(doc_id, text). Auto-selects the training path
    * on the model-size axis (the reference's own scaling law — its
    * memory formula V×K×8, README.md:125 / model.cc:54): the flat
    * broadcast path below [[broadcastBytesMax]], the word-sharded path
    * above it. The sharded path's final counts are assembled into the
    * same driver-side [[LdaModel]] (fit's contract is a local model;
    * for models too big for ONE driver array, use [[ShardedLda]]
    * directly and keep the model distributed). Sharded `averaged` is
    * the raw final counts (the reference's mpi output kind, quirk #1 —
    * that path has no burn-in accumulator). */
  def fit(documents: DataFrame): LdaModel = {
    val toks = Corpus.tokenize(documents)
    val vocab = Corpus.sortedVocab(toks).cache()
    val numWords = vocab.count().toInt
    val corpus = Corpus.fromTokenIds(toks.join(broadcast(vocab), "tok")
      .select("doc_id", "word_id"), cfg.numTopics, cfg.seed)
    if (Lda.shouldShard(numWords, cfg.numTopics, broadcastBytesMax)) {
      val nShards = Lda.recommendedShards(numWords, cfg.numTopics)
      // loud switch: the sharded path changes `averaged` semantics (raw
      // final counts, no burn-in accumulator — the reference's mpi kind)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Lda.fit: model ${Lda.modelBytes(numWords, cfg.numTopics)} B > " +
          s"$broadcastBytesMax B — auto-switching to the sharded path " +
          s"($nShards shards); `averaged` will be the raw final counts " +
          "(no burn-in averaging)")
      val result = ShardedLda.train(corpus, numWords, cfg, nShards)
      val counts = new Array[Long]((numWords + 1) * cfg.numTopics)
      // V-row collect of the final counts — bounded by the same driver
      // array LdaModel itself holds, not by executor replica memory
      result.modelRows.collect().foreach { wt =>
        System.arraycopy(wt.counts, 0, counts, wt.wordId * cfg.numTopics,
          cfg.numTopics)
      }
      // global topic row n(k) = column sums over the word rows (the
      // flat layout's row V; the sharded model stores word rows only)
      val global = numWords * cfg.numTopics
      var w = 0
      while (w < numWords) {
        var k = 0
        while (k < cfg.numTopics) {
          counts(global + k) += counts(w * cfg.numTopics + k); k += 1
        }
        w += 1
      }
      result.release()
      LdaModel(counts, counts.map(_.toDouble), result.likelihoods, vocab,
        numWords, cfg)
    } else {
      val result = LdaTrainer.train(corpus, numWords, cfg)
      // the model arrays are extracted; release the persisted final corpus
      // generation (via release(), NOT docs.unpersist — docs can be a narrow
      // view whose unpersist would be a no-op on the backing cache entry)
      result.release()
      LdaModel(result.model, result.averaged, result.likelihoods, vocab,
        numWords, cfg)
    }
  }
}

object Lda {

  /** MEASURED broadcast→sharded crossover on the model-size axis
    * (NytKsweep r12, `BENCH_ksweep_r12.json` / BENCH.md round 12: the
    * published-scale corpus — 300k docs, V = 102,660, ~100M tokens —
    * trained through BOTH paths at K ∈ {10, 32, 64, 100, 1000}).
    * Steady s/iter, local[32]: flat wins 1.9× at 8 MB (0.85 vs 1.62)
    * and 13% at 25 MB (2.02 vs 2.28), the two paths tie at 50 MB
    * (3.36 vs 3.44), sharded wins from 78 MB (4.53 vs 4.86) out to
    * 783 MB (44.2 vs 80.4 — where the flat path also needs
    * `spark.driver.maxResultSize` raised past its 1g default just to
    * run: treeReduce ships whole-model partials). 64 MB is the
    * measured indifference point; the flat path's per-task clone and
    * full-model allreduce grow with V×K while the sharded path's
    * per-shard broadcasts stay bounded, so above this the sharded
    * path is both faster and the only default-config-safe choice. */
  val BroadcastModelBytesMax: Long = 64L << 20

  /** Per-shard broadcast target for the sharded path: big enough to
    * amortize the per-shard job, small enough that per-task clones stay
    * trivial next to executor heaps. */
  val TargetShardBytes: Long = 64L << 20

  /** (V+1)×K×8 — the reference's own memory law (README.md:125). */
  def modelBytes(numWords: Int, numTopics: Int): Long =
    (numWords + 1L) * numTopics * 8L

  /** The auto-switch rule [[Lda.fit]] applies. */
  def shouldShard(numWords: Int, numTopics: Int,
      thresholdBytes: Long = BroadcastModelBytesMax): Boolean =
    modelBytes(numWords, numTopics) > thresholdBytes

  def recommendedShards(numWords: Int, numTopics: Int): Int =
    math.max(2, math.ceil(
      modelBytes(numWords, numTopics).toDouble / TargetShardBytes).toInt)
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
