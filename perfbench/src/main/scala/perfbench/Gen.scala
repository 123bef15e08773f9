package perfbench

import graft.lda.{Rng, SplitMix64}

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, StandardCopyOption}

/** Shape of a generated LDA corpus. Words are `w<rank>` drawn from a
  * Zipf–Mandelbrot profile p(r) ∝ 1/(r + shift) over `vocab` ranks — the
  * NYTimes-shaped profile of the repository's `NytGen` — and each
  * document's length is uniform in [minLen, maxLen]. */
final case class CorpusShape(docs: Int, heldOutDocs: Int, vocab: Int,
    minLen: Int, maxLen: Int, shift: Double = 27.0) {
  def tag: String = s"d${docs}h${heldOutDocs}v${vocab}l$minLen-$maxLen"
}

/** Seeded corpus files in the reference's text format (one document per
  * line: `word count word count …`). Held-out documents are drawn from
  * the same profile with an independent stream, so some of their words
  * never occur in training and are dropped at fold-in. */
object Gen {
  final case class Inputs(train: File, heldOut: File, trainTokens: Long)

  /** Cumulative Zipf–Mandelbrot mass over ranks 0 until v. */
  def cumulative(v: Int, shift: Double): Array[Double] = {
    val cum = new Array[Double](v)
    var s = 0.0
    var r = 0
    while (r < v) { s += 1.0 / (r + shift); cum(r) = s; r += 1 }
    r = 0
    while (r < v) { cum(r) /= s; r += 1 }
    cum
  }

  /** Generate (or reuse) the corpus for (workload, seed, shape) under dir. */
  def corpus(dir: File, workload: String, seed: Long, shape: CorpusShape): Inputs = {
    val d = new File(dir, s"$workload-seed$seed-${shape.tag}")
    val train = new File(d, "train.txt")
    val heldOut = new File(d, "heldout.txt")
    val done = new File(d, "tokens")
    if (!done.isFile) {
      d.mkdirs()
      val cum = cumulative(shape.vocab, shape.shift)
      val tokens = write(train, cum, shape, seed, 0L, shape.docs)
      write(heldOut, cum, shape, seed, 1L << 40, shape.heldOutDocs)
      val tmp = new File(d, "tokens.tmp")
      Files.writeString(tmp.toPath, tokens.toString)
      Files.move(tmp.toPath, done.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    Inputs(train, heldOut, Files.readString(done.toPath).trim.toLong)
  }

  private def write(f: File, cum: Array[Double], shape: CorpusShape, seed: Long,
      idBase: Long, n: Int): Long = {
    val out = new BufferedWriter(new FileWriter(f), 1 << 20)
    var tokens = 0L
    try {
      val span = shape.maxLen - shape.minLen + 1
      val ranks = new Array[Int](shape.maxLen)
      var d = 0
      while (d < n) {
        val rng = new SplitMix64(Rng.mix(seed, idBase + d, 0xA11CE5L))
        val len = shape.minLen + rng.nextInt(span)
        var t = 0
        while (t < len) {
          val u = rng.nextDouble()
          var lo = 0
          var hi = cum.length - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (cum(mid) < u) lo = mid + 1 else hi = mid
          }
          ranks(t) = lo
          t += 1
        }
        java.util.Arrays.sort(ranks, 0, len)
        val sb = new java.lang.StringBuilder(len * 10)
        var i = 0
        while (i < len) {
          var j = i
          while (j < len && ranks(j) == ranks(i)) j += 1
          if (sb.length > 0) sb.append(' ')
          sb.append('w').append(ranks(i)).append(' ').append(j - i)
          i = j
        }
        out.write(sb.toString)
        out.write('\n')
        tokens += len
        d += 1
      }
    } finally out.close()
    tokens
  }
}
