package graft.lda

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Collapsed-Gibbs kernel (the only genuinely custom compute in the engine;
  * everything relational is Spark built-ins — SURVEY.md §4.3). Every LDA
  * path — training at any word-shard count ([[LdaTrainer]]), fold-in
  * ([[LdaInfer]]) and corpus likelihood ([[corpusLikelihood]], or the
  * in-pass likelihood of [[LdaTrainer.iteration]]) — samples and scores
  * through the one full conditional, per-document sampling loop and
  * per-document log-likelihood below.
  *
  * Semantics mirror `/root/reference/sampler.cc` exactly:
  *  - full conditional p(k) ∝ (n(w,k)+β)(n(d,k)+α)/(n(k)+Vβ), with the
  *    current occurrence's own count subtracted when training
  *    (sampler.cc:83-113);
  *  - inverse-CDF categorical sampling over the non-normalized weights
  *    (common.cc:31-50);
  *  - during a training sweep the local model replica is mutated in place
  *    (sampler.cc:75-78) — across partitions this yields exactly the
  *    AD-LDA one-iteration-stale counts of the reference's MPI path
  *    (mpi_lda.cc:213-218, Newman et al.).
  *
  * The kernel reads the model as a slice over a word range [lo, hi): the
  * rows n(w,·) of those words back to back, then the topic row n(·) — the
  * flat (V+1)×K layout restricted to the range. A one-shard training pass
  * or a flat fold-in passes the whole model (lo = 0, hi = V); a pass over
  * one of S ≥ 2 word shards passes that shard's rows with the global row
  * appended, and occurrences of words outside the range are left as they
  * are.
  *
  * Unlike the reference (per-occurrence `vector<double>` alloc,
  * sampler.cc:67 — a known inefficiency we do NOT copy), the kernel reuses
  * one distribution buffer per partition and allocates nothing in the
  * per-occurrence loop.
  *
  * Scale: the sweep is a `mapPartitions` over the doc states with a
  * broadcast model slice — no shuffle. The allreduce "up"
  * ([[countDeltaRdd]]) is a per-partition count DELTA of the slice —
  * only the entries the sweep changed, as sparse (index, change) pairs —
  * combined with `treeReduce` (Spark's allreduce idiom, =
  * mpi_lda.cc:58-92's chunked MPI_Allreduce) and added to the driver's
  * model. plda allreduces the whole recounted model instead
  * (mpi_lda.cc:94-111); adding exact integer deltas gives the same
  * counts while shipping no more than the dense slice, and usually far
  * less (parameter-server LDA synchronizes the same way, Smola &
  * Narayanamurthy, VLDB 2010). In training, a full recount
  * ([[countModelRdd]]) only builds the initial model.
  */
object Gibbs {

  /** Non-normalized full conditional for one occurrence (sampler.cc:83-113). */
  def topicDistribution(
      model: Array[Long], gOff: Int, vBeta: Double, wOff: Int,
      docTopics: Array[Long], curTopic: Int, train: Boolean,
      alpha: Double, beta: Double, dist: Array[Double]): Unit = {
    val k = dist.length
    var i = 0
    while (i < k) {
      val adj = if (train && i == curTopic) -1 else 0
      dist(i) = (model(wOff + i) + adj + beta) * (docTopics(i) + adj + alpha) /
        (model(gOff + i) + adj + vBeta)
      i += 1
    }
  }

  /** Inverse-CDF sample from non-normalized weights (common.cc:31-50).
    * The reference LOG(FATAL)s if the walk falls off the end; fp rounding
    * can legitimately get there, so we clamp to the last index instead. */
  def sampleFromCdf(dist: Array[Double], u01: Double): Int = {
    var sum = 0.0
    var i = 0
    while (i < dist.length) { sum += dist(i); i += 1 }
    val choice = u01 * sum
    var acc = 0.0
    i = 0
    while (i < dist.length) {
      acc += dist(i)
      if (acc >= choice) return i
      i += 1
    }
    dist.length - 1
  }

  /** One Gibbs sweep over a document's occurrences of words in [lo, hi)
    * (sampler.cc:60-81), against the model slice `rows` of that range.
    * Mutates `rows` (iff train), `docTopics`, and `topics` in place;
    * `dist` is scratch. */
  def sweepDocument(
      wordIds: Array[Int], offsets: Array[Int], topics: Array[Int],
      docTopics: Array[Long], rows: Array[Long], lo: Int, hi: Int, numWords: Int,
      alpha: Double, beta: Double, train: Boolean, rng: SplitMix64,
      dist: Array[Double]): Unit = {
    val k = dist.length
    val gOff = (hi - lo) * k
    val vBeta = numWords * beta
    var i = 0
    while (i < wordIds.length) {
      val w = wordIds(i)
      if (w >= lo && w < hi) {
        val wOff = (w - lo) * k
        var j = offsets(i)
        val end = offsets(i + 1)
        while (j < end) {
          val cur = topics(j)
          topicDistribution(rows, gOff, vBeta, wOff, docTopics, cur, train, alpha, beta, dist)
          val next = sampleFromCdf(dist, rng.nextDouble())
          if (next != cur) {
            if (train) { // ReassignTopic (model.cc:90-96)
              rows(wOff + cur) -= 1; rows(gOff + cur) -= 1
              rows(wOff + next) += 1; rows(gOff + next) += 1
            }
            docTopics(cur) -= 1; docTopics(next) += 1 // SetTopic (document.cc:58-67)
            topics(j) = next
          }
          j += 1
        }
      }
      i += 1
    }
  }

  /** [[sweepDocument]] over the whole vocabulary of a flat (V+1)×K model. */
  def sweepDocument(
      wordIds: Array[Int], offsets: Array[Int], topics: Array[Int],
      docTopics: Array[Long], model: Array[Long], numWords: Int,
      alpha: Double, beta: Double, train: Boolean, rng: SplitMix64,
      dist: Array[Double]): Unit =
    sweepDocument(wordIds, offsets, topics, docTopics, model, 0, numWords, numWords,
      alpha, beta, train, rng, dist)

  /** Distributed training sweep of the occurrences of words in [lo, hi):
    * one `mapPartitions` over the doc states. Each task clones the
    * broadcast model slice once (its local AD-LDA replica) and streams
    * docs through [[sweepDocument]]. Per-doc RNG streams keyed on
    * (seed, docId, `stream`) make the sweep deterministic for a fixed
    * partitioning.
    *
    * The loop runs at the RDD layer: an iterative mapPartitions chain
    * gains nothing from Catalyst (no relational structure to optimize)
    * and a Dataset persist would pay encoder serialization of every
    * DocState per iteration; the RDD caches plain JVM objects (this is the
    * sanctioned "genuine per-partition imperative logic" RDD case). */
  def sweepRdd(
      docs: RDD[DocState], bcRows: Broadcast[Array[Long]], lo: Int, hi: Int,
      numWords: Int, numTopics: Int, alpha: Double, beta: Double,
      seed: Long, stream: Long): RDD[DocState] = {
    val k = numTopics
    docs.mapPartitions { it =>
      val rows = bcRows.value.clone() // task-local AD-LDA replica
      val dist = new Array[Double](k)
      it.map { doc =>
        val topics = doc.topics.clone()
        val rng = new SplitMix64(Rng.mix(seed, doc.docId, stream))
        sweepDocument(doc.wordIds, doc.offsets, topics, doc.topicHistogram(k), rows,
          lo, hi, numWords, alpha, beta, train = true, rng, dist)
        doc.copy(topics = topics)
      }
    }
  }

  /** Tree-combine depth for the model allreduce, sized to the traffic:
    * at most one dense model slice per partition flows to the combiner.
    * Under 256 MB total the driver takes them directly (one stage); beyond
    * that an intermediate tree level caps driver ingress (the
    * chunked-allreduce concern of mpi_lda.cc:58-92). At sf0.1
    * (32 × 1.6 MB) this saves a whole shuffle stage per training
    * iteration; at 1000 executors with a 100 MB model it picks the tree. */
  private def reduceDepth(numPartitions: Int, modelBytes: Long): Int =
    if (numPartitions.toLong * modelBytes <= (256L << 20)) 1 else 2

  /** Recount n(w,k)/n(k) from assignments and allreduce
    * (M3 sampler.cc:34-45 + M4 mpi_lda.cc:94-111): per-partition flat
    * tally, tree-combined. Partition-count invariant (addition commutes). */
  def countModel(docs: Dataset[DocState], numWords: Int, numTopics: Int): Array[Long] =
    countModelRdd(docs.rdd, 0, numWords, numTopics)

  /** RDD core of [[countModel]], over a word range: the rows of the words
    * in [lo, hi), then the global row n(k) over ALL occurrences —
    * (hi − lo + 1)×K, the model slice layout of [[sweepDocument]]. */
  def countModelRdd(docs: RDD[DocState], lo: Int, hi: Int, numTopics: Int): Array[Long] = {
    val k = numTopics
    val size = (hi - lo + 1) * k
    val gOff = (hi - lo) * k
    docs.mapPartitions { it =>
      val acc = new Array[Long](size)
      it.foreach { doc =>
        var i = 0
        while (i < doc.wordIds.length) {
          val w = doc.wordIds(i)
          var j = doc.offsets(i)
          val end = doc.offsets(i + 1)
          if (w >= lo && w < hi) {
            val wOff = (w - lo) * k
            while (j < end) {
              val t = doc.topics(j)
              acc(wOff + t) += 1
              acc(gOff + t) += 1
              j += 1
            }
          } else while (j < end) { acc(gOff + doc.topics(j)) += 1; j += 1 }
          i += 1
        }
      }
      Iterator.single(acc)
    }.treeReduce({ (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }, depth = reduceDepth(docs.getNumPartitions, size * 8L))
  }

  /** A sparse count delta: one Long per changed entry of a model slice,
    * the entry's index in the high 32 bits and its (nonzero) change in the
    * low 32, sorted by index. */
  private[lda] def packDelta(index: Int, change: Int): Long =
    index.toLong << 32 | (change & 0xFFFFFFFFL)
  private[lda] def deltaIndex(packed: Long): Int = (packed >>> 32).toInt
  private[lda] def deltaChange(packed: Long): Int = packed.toInt

  /** The count delta of one training pass over [lo, hi), on one
    * partition: `swept` is the pass's output and `input` its input, the
    * same docs in the same order. Only occurrences of words in the range
    * move, so the delta covers the range's rows and the global row, in
    * the model slice layout of [[sweepDocument]]. At most one entry per
    * slice entry: never more than the dense slice. */
  private[lda] def countDelta(swept: Iterator[DocState], input: Iterator[DocState],
      lo: Int, hi: Int, numTopics: Int): Array[Long] = {
    val k = numTopics
    val gOff = (hi - lo) * k
    val acc = new Array[Int](gOff + k)
    swept.foreach { out =>
      val in = input.next()
      var i = 0
      while (i < in.wordIds.length) {
        val w = in.wordIds(i)
        if (w >= lo && w < hi) {
          val wOff = (w - lo) * k
          var j = in.offsets(i)
          val end = in.offsets(i + 1)
          while (j < end) {
            val a = in.topics(j)
            val b = out.topics(j)
            if (a != b) {
              acc(wOff + a) -= 1; acc(gOff + a) -= 1
              acc(wOff + b) += 1; acc(gOff + b) += 1
            }
            j += 1
          }
        }
        i += 1
      }
    }
    var n = 0
    var i = 0
    while (i < acc.length) { if (acc(i) != 0) n += 1; i += 1 }
    val packed = new Array[Long](n)
    n = 0
    i = 0
    while (i < acc.length) {
      if (acc(i) != 0) { packed(n) = packDelta(i, acc(i)); n += 1 }
      i += 1
    }
    packed
  }

  /** Sum of two sparse deltas (a sorted merge; entries that cancel are
    * dropped). Fails rather than wrap if a change leaves the Int range. */
  private[lda] def addDeltas(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length || j < b.length) {
      val ia = if (i < a.length) deltaIndex(a(i)) else Int.MaxValue
      val ib = if (j < b.length) deltaIndex(b(j)) else Int.MaxValue
      if (j == b.length || (i < a.length && ia < ib)) { out(n) = a(i); n += 1; i += 1 }
      else if (i == a.length || ib < ia) { out(n) = b(j); n += 1; j += 1 }
      else {
        val c = Math.addExact(deltaChange(a(i)), deltaChange(b(j)))
        if (c != 0) { out(n) = packDelta(ia, c); n += 1 }
        i += 1
        j += 1
      }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** A training pass's allreduce "up" (ParallelLDAModel::
    * ComputeAndAllReduce, mpi_lda.cc:94-111, shipped as a delta): ONE job
    * that zips each swept partition with the pass's input partition,
    * emits its sparse [[countDelta]] over [lo, hi), and combines the
    * partials with `treeReduce`. The caller adds the sum to the model
    * the pass sampled against. `swept` must derive from `input` by a
    * per-doc map (as [[sweepRdd]] does) and `input` should be cached.
    *
    * With `likelihood = Some((pre, ll))`, where `pre` is a co-partitioned
    * RDD (the generation the iteration started from), the same tasks also
    * fold `ll(doc, sum)` over `pre`'s docs of each partition from 0: the
    * pre-sweep log-likelihood (quirk #6) costs no extra job, and is
    * exactly-once by construction (a task retry recomputes the same
    * partial; contrast an accumulator updated in a transformation). Each
    * partition's sum rides the treeReduce in its own slot, and the slots
    * are added in partition order, so the total does not depend on which
    * task finished first. Without it the sum is 0. */
  def countDeltaRdd(
      swept: RDD[DocState], input: RDD[DocState], lo: Int, hi: Int, numTopics: Int,
      likelihood: Option[(RDD[DocState], (DocState, Double) => Double)] = None
  ): (Array[Long], Double) = {
    val numParts = swept.getNumPartitions
    val partials = likelihood match {
      case None => swept.zipPartitions(input) { (out, in) =>
        Iterator.single((countDelta(out, in, lo, hi, numTopics), Array.emptyDoubleArray))
      }
      case Some((pre, ll)) => swept.zipPartitions(input, pre) { (out, in, preIt) =>
        val delta = countDelta(out, in, lo, hi, numTopics)
        var sum = 0.0
        preIt.foreach(d => sum = ll(d, sum))
        val slots = new Array[Double](numParts)
        slots(TaskContext.getPartitionId()) = sum
        Iterator.single((delta, slots))
      }
    }
    val (delta, slots) = partials.treeReduce({ case ((a, la), (b, lb)) =>
      var i = 0
      while (i < la.length) { la(i) += lb(i); i += 1 } // disjoint slots: exact
      (addDeltas(a, b), la)
    }, depth = reduceDepth(numParts, (hi - lo + 1) * numTopics * 8L))
    (delta, sumInOrder(slots))
  }

  /** Left-to-right sum: per-partition partials added in partition order. */
  private[lda] def sumInOrder(partials: Array[Double]): Double =
    partials.foldLeft(0.0)(_ + _)

  /** Log-likelihood of a document's occurrences of words in [lo, hi)
    * (L1, sampler.cc:116-166) under the model slice `rows` of that range
    * (as in [[sweepDocument]]), added word by word onto `acc`: computed per
    * unique word then weighted by its occurrence count (the reference
    * recomputes identical values per occurrence — same sum, more flops). */
  def logLikelihood(
      doc: DocState, rows: Array[Long], lo: Int, hi: Int, numWords: Int,
      alpha: Double, beta: Double, numTopics: Int, acc: Double): Double = {
    val k = numTopics
    val gOff = (hi - lo) * k
    val docTopics = doc.topicHistogram(k)
    val len = doc.numOccurrences
    val pzd = new Array[Double](k)
    var t = 0
    while (t < k) {
      pzd(t) = (docTopics(t) + alpha) / (len + alpha * k)
      t += 1
    }
    var ll = acc
    var i = 0
    while (i < doc.wordIds.length) {
      val w = doc.wordIds(i)
      if (w >= lo && w < hi) {
        val wOff = (w - lo) * k
        var pw = 0.0
        t = 0
        while (t < k) {
          pw += (rows(wOff + t) + beta) / (rows(gOff + t) + numWords * beta) * pzd(t)
          t += 1
        }
        ll += (doc.offsets(i + 1) - doc.offsets(i)) * math.log(pw)
      }
      i += 1
    }
    ll
  }

  /** [[logLikelihood]] of a whole doc under a flat (V+1)×K model. */
  def logLikelihood(
      doc: DocState, model: Array[Long], numWords: Int,
      alpha: Double, beta: Double, numTopics: Int): Double =
    logLikelihood(doc, model, 0, numWords, numWords, alpha, beta, numTopics, 0.0)

  /** Global log-likelihood: per-partition sums, added on the driver in
    * partition order (the MPI_Allreduce(MPI_DOUBLE) of mpi_lda.cc:228-229,
    * with a fixed summation order). */
  def corpusLikelihood(
      docs: Dataset[DocState], bcModel: Broadcast[Array[Long]],
      numWords: Int, numTopics: Int, alpha: Double, beta: Double): Double =
    sumInOrder(docs.rdd.mapPartitions { it =>
      val model = bcModel.value
      var s = 0.0
      it.foreach(d => s += logLikelihood(d, model, numWords, alpha, beta, numTopics))
      Iterator.single(s)
    }.collect())
}
