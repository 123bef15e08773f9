package perfbench

import graft.lda.{DocState, Gibbs, Rng, SplitMix64}

import java.io.File
import scala.io.Source

/** Single-thread ceiling of the Gibbs kernel: `Gibbs.sweepDocument` on
  * one thread over a fixed sample of training documents, against a
  * trained model. No Spark: this is the rate a perfectly parallel,
  * overhead-free trainer would reach per core. */
object Kernel {
  val SampleDocs = 300

  /** Token·topic updates per second (tokens swept × K / seconds). */
  def tokTopicsPerS(model: (Array[Long], Array[String]), train: File, k: Int,
      alpha: Double, beta: Double, seed: Long): Double = {
    val (counts, words) = model
    val numWords = words.length
    val id = words.zipWithIndex.toMap
    val docs = {
      val src = Source.fromFile(train)
      try src.getLines().take(SampleDocs).zipWithIndex.map { case (line, d) =>
        val p = line.trim.split("\\s+").grouped(2).collect {
          case Array(w, c) if id.contains(w) => (id(w), c.toInt)
        }.toArray.sortBy(_._1)
        DocState.init(d.toLong, p.map(_._1), p.map(_._2), k, seed)
      }.toVector
      finally src.close()
    }
    val tokens = docs.map(_.numOccurrences.toLong).sum
    val dist = new Array[Double](k)
    val docTopics = docs.map(_.topicHistogram(k))
    def sweepAll(m: Array[Long], iter: Int): Unit = docs.indices.foreach { i =>
      val d = docs(i)
      val rng = new SplitMix64(Rng.mix(seed, d.docId, iter.toLong))
      Gibbs.sweepDocument(d.wordIds, d.offsets, d.topics, docTopics(i), m, numWords, alpha, beta,
        train = true, rng, dist)
    }
    // the sample's own assignments are not in the model: add them so the
    // in-place train updates never drive a count below zero
    val m = counts.clone()
    docs.foreach { d =>
      var i = 0
      while (i < d.wordIds.length) {
        var j = d.offsets(i)
        while (j < d.offsets(i + 1)) {
          m(d.wordIds(i) * k + d.topics(j)) += 1
          m(numWords * k + d.topics(j)) += 1
          j += 1
        }
        i += 1
      }
    }
    sweepAll(m, 0) // JIT warm-up
    var iter = 1
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L || iter < 3) {
      sweepAll(m, iter)
      iter += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    tokens.toDouble * (iter - 1) * k / secs
  }
}
