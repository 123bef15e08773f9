package graft.lda

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import scala.reflect.ClassTag

/** One partition of a training generation: its docs, and the sparse
  * count delta of the model slice that the pass which swept them made
  * ([[Gibbs.packDelta]] entries). The initial generation's blocks carry
  * no delta. Only the pass's allreduce ([[Gibbs.sumDeltas]]) reads it. */
private[lda] final case class Block(docs: Array[DocState], delta: Array[Long])

private[lda] object Block {
  def initial(docs: Array[DocState]): Block = Block(docs, Array.emptyLongArray)
}

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
  * Scale: the sweep maps blocks to blocks with a broadcast model slice —
  * no shuffle. The training loop keeps each generation as one [[Block]]
  * per partition: a partition's docs, plus what the pass that swept them
  * changed. A swept block carries its task's count DELTA of the slice
  * ([[sweepRdd]]: the replica minus the broadcast slice, only the
  * entries the sweep changed, as sparse (index, change) pairs), which is
  * the allreduce "up" ([[sumDeltas]]): a narrow map of the swept
  * generation, merged on the driver as each task's partial arrives
  * ([[allreduce]], one bare
  * `runJob`, = mpi_lda.cc:58-92's chunked MPI_Allreduce) and added to the
  * driver's model. plda allreduces the whole recounted model instead
  * (mpi_lda.cc:94-111); adding exact integer deltas gives the same counts
  * while shipping no more than the dense slice, and usually far less
  * (parameter-server LDA ships the replica's change the same way, Smola &
  * Narayanamurthy, VLDB 2010). In training, a full recount
  * ([[countModelRdd]]) only builds the initial model.
  *
  * The allreduce calls `SparkContext.runJob` itself, with functions
  * defined here, rather than Spark's tree reduction: `ClosureCleaner`
  * re-reads the class file that defines each closure it cleans, and the
  * tree reduction (`treeAggregate` → `fold` → `runJob`) cleans about six
  * closures defined in `RDD` or `SparkContext`, classes ten times the
  * size of this one, on every pass.
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

  /** Distributed training sweep of the occurrences of words in [lo, hi),
    * block to block. Each block is swept against its own clone of the
    * broadcast model slice (its local AD-LDA replica), then the clone's
    * change, `rows − bcRows.value`, becomes the new block's
    * [[Block.delta]]: the pass's allreduce input ([[sumDeltas]]), found
    * without reading either block again. Per-doc RNG streams keyed on
    * (seed, docId, `stream`) make the sweep deterministic for a fixed
    * partitioning.
    *
    * The loop runs at the RDD layer: an iterative chain of block maps
    * gains nothing from Catalyst (no relational structure to optimize)
    * and a Dataset persist would pay encoder serialization of every
    * DocState per iteration; the RDD caches plain JVM objects (this is the
    * sanctioned "genuine per-partition imperative logic" RDD case). */
  private[lda] def sweepRdd(
      blocks: RDD[Block], bcRows: Broadcast[Array[Long]], lo: Int, hi: Int,
      numWords: Int, numTopics: Int, alpha: Double, beta: Double,
      seed: Long, stream: Long): RDD[Block] = {
    val k = numTopics
    blocks.map { in =>
      val base = bcRows.value
      val rows = base.clone() // task-local AD-LDA replica
      val dist = new Array[Double](k)
      val docs = in.docs.map { doc =>
        val topics = doc.topics.clone()
        val rng = new SplitMix64(Rng.mix(seed, doc.docId, stream))
        sweepDocument(doc.wordIds, doc.offsets, topics, doc.topicHistogram(k), rows,
          lo, hi, numWords, alpha, beta, train = true, rng, dist)
        doc.copy(topics = topics)
      }
      Block(docs, deltaOf(rows, base))
    }
  }

  /** A training pass's allreduce "up" (ParallelLDAModel::
    * ComputeAndAllReduce, mpi_lda.cc:94-111, shipped as a delta): ONE job
    * that sums the swept blocks' [[Block.delta]]s with [[allreduce]],
    * materializing `swept` (persist it first). The caller adds the sum to
    * the model the pass sampled against. `ingressMax` bounds the driver's
    * ingress.
    *
    * With `likelihood = Some((pre, ll))`, where `pre` is a co-partitioned
    * RDD (the generation the iteration started from), the same tasks also
    * fold `ll(doc, sum)` over `pre`'s docs of each partition from 0: the
    * pre-sweep log-likelihood (quirk #6) costs no extra job, and is
    * exactly-once by construction (a task retry recomputes the same
    * partial; contrast an accumulator updated in a transformation). `pre`
    * is zipped in here, in the job's own throwaway RDD, so it never enters
    * `swept`'s lineage, which must end in the newest checkpoint
    * ([[LdaTrainer.Generations]]). Each partition's sum rides the
    * allreduce in its own slot, and the slots are added in partition
    * order, so the total does not depend on which task finished first.
    * Without it the sum is 0. */
  private[lda] def sumDeltas(swept: RDD[Block], lo: Int, hi: Int, numTopics: Int,
      likelihood: Option[(RDD[Block], (DocState, Double) => Double)], ingressMax: Long
  ): (Array[Long], Double) = {
    val numParts = swept.getNumPartitions
    val partials = likelihood match {
      case None => swept.map(b => (b.delta, Array.emptyDoubleArray))
      case Some((pre, ll)) => swept.zipPartitions(pre) { (out, preIt) =>
        val delta = out.next().delta
        var sum = 0.0
        preIt.next().docs.foreach(d => sum = ll(d, sum))
        val slots = new Array[Double](numParts)
        slots(TaskContext.getPartitionId()) = sum
        Iterator.single((delta, slots))
      }
    }
    val (delta, slots) = allreduce(partials, (hi - lo + 1) * numTopics * 8L, ingressMax) {
      case ((a, la), (b, lb)) =>
        var i = 0
        while (i < la.length) { la(i) += lb(i); i += 1 } // disjoint slots: exact
        (addDeltas(a, b), la)
    }
    (delta, sumInOrder(slots))
  }

  /** Driver ingress up to which the allreduce merges every partition's
    * partial on the driver directly (one stage). Beyond it
    * ([[allreduce]]) one executor-side combine level caps driver ingress
    * (the chunked-allreduce concern of mpi_lda.cc:58-92). At sf0.1
    * (32 × 1.6 MB) this saves a whole shuffle stage per training pass; at
    * 1000 executors with a 100 MB model it picks the combine level. */
  private[lda] val DriverIngressBytes: Long = 256L << 20

  /** The allreduce of one partial per partition, each at most
    * `partialBytes`: ONE job, a bare `runJob` whose result handler merges
    * each partial into the running sum as it arrives (`merge` may update
    * its first argument in place; it must be associative and
    * commutative). When the partials outgrow `ingressMax`, groups of about
    * √n partitions are first merged on the executors — the one
    * intermediate level `treeAggregate` adds at depth 2, with its grouping
    * and its rule for when a level pays — and the driver merges the group
    * sums. Fails on an RDD with no partitions, as Spark's `reduce` does. */
  private def allreduce[P: ClassTag](partials: RDD[P], partialBytes: Long, ingressMax: Long)(
      merge: (P, P) => P): P = {
    val n = partials.getNumPartitions
    val scale = math.max(math.ceil(math.sqrt(n.toDouble)).toInt, 2)
    val groups = n / scale
    val level =
      if (n.toLong * partialBytes <= ingressMax || n <= scale + (n + scale - 1) / scale) partials
      else partials.mapPartitionsWithIndex((i, it) => it.map(p => (i % groups, p)))
        .reduceByKey(new HashPartitioner(groups), merge).values
    var acc: Option[P] = None
    partials.sparkContext.runJob(level,
      (_: TaskContext, it: Iterator[P]) => it.reduceLeft(merge),
      (_: Int, p: P) => acc = Some(acc.fold(p)(merge(_, p))))
    acc.getOrElse(throw new UnsupportedOperationException("allreduce of no partitions"))
  }

  /** Recount n(w,k)/n(k) from assignments and allreduce
    * (M3 sampler.cc:34-45 + M4 mpi_lda.cc:94-111): per-partition flat
    * tally, merged by [[allreduce]]. Partition-count invariant (addition
    * commutes). */
  def countModel(docs: Dataset[DocState], numWords: Int, numTopics: Int): Array[Long] =
    countModelRdd(docs.rdd.glom().map(Block.initial), 0, numWords, numTopics)

  /** RDD core of [[countModel]], over a generation and a word range:
    * the rows of the words in [lo, hi), then the global row n(k) over ALL
    * occurrences — (hi − lo + 1)×K, the model slice layout of
    * [[sweepDocument]]. `ingressMax` bounds the driver's ingress ([[allreduce]]). */
  private[lda] def countModelRdd(docs: RDD[Block], lo: Int, hi: Int, numTopics: Int,
      ingressMax: Long = DriverIngressBytes): Array[Long] = {
    val k = numTopics
    val size = (hi - lo + 1) * k
    val gOff = (hi - lo) * k
    val partials = docs.mapPartitions { it =>
      val acc = new Array[Long](size)
      it.foreach(_.docs.foreach { doc =>
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
      })
      Iterator.single(acc)
    }
    allreduce(partials, size * 8L, ingressMax) { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
  }

  /** A sparse count delta: one Long per changed entry of a model slice,
    * the entry's index in the high 32 bits and its (nonzero) change in the
    * low 32, sorted by index. */
  private[lda] def packDelta(index: Int, change: Int): Long =
    index.toLong << 32 | (change & 0xFFFFFFFFL)
  private[lda] def deltaIndex(packed: Long): Int = (packed >>> 32).toInt
  private[lda] def deltaChange(packed: Long): Int = packed.toInt

  /** The sparse delta `after − before` of two model slices: at most one
    * entry per slice entry, so never more than the dense slice. */
  private def deltaOf(after: Array[Long], before: Array[Long]): Array[Long] = {
    var packed = new Array[Long](64)
    var n = 0
    var i = 0
    while (i < after.length) {
      if (after(i) != before(i)) {
        if (n == packed.length) packed = java.util.Arrays.copyOf(packed, 2 * n)
        packed(n) = packDelta(i, Math.toIntExact(after(i) - before(i)))
        n += 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(packed, n)
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
