package perfbench

import org.apache.spark.sql.Row

import java.security.MessageDigest

/** Output checks. Each returns None when the output is right and a
  * one-line reason when it is not. */
object Checks {

  /** Σ n(k) — the global topic row of a (V+1)×K model — must equal the
    * number of training tokens: Gibbs sampling moves tokens between
    * topics but never creates or drops one. */
  def topicMass(model: Array[Long], numWords: Int, k: Int, tokens: Long): Option[String] = {
    if (model.length != (numWords + 1) * k)
      return Some(s"model has ${model.length} cells, expected ${(numWords + 1) * k}")
    var s = 0L
    var t = 0
    while (t < k) { s += model(numWords * k + t); t += 1 }
    if (s == tokens) None else Some(s"sum n(k) = $s, expected $tokens training tokens")
  }

  /** A model file read back must have the vocabulary size and K it was
    * written with. */
  def modelShape(model: Array[Long], words: Array[String], numWords: Int, k: Int): Option[String] =
    if (words.length != numWords) Some(s"model file has ${words.length} words, expected $numWords")
    else if (model.length != (numWords + 1) * k)
      Some(s"model file has K=${model.length / math.max(1, words.length + 1)}, expected $k")
    else None

  /** Fold-in output: one line per kept held-out document, K values per
    * line, summing to that document's in-vocabulary token count (the
    * averaged topic counts of a document always add up to its length). */
  def foldIn(lines: Seq[String], inVocabLengths: Seq[Long], k: Int): Option[String] = {
    if (lines.length != inVocabLengths.length)
      return Some(s"fold-in wrote ${lines.length} lines, expected ${inVocabLengths.length}")
    lines.iterator.zip(inVocabLengths.iterator).zipWithIndex.collectFirst(Function.unlift {
      case ((line, len), i) =>
        val vs = line.trim.split(" ").filter(_.nonEmpty)
        if (vs.length != k) Some(s"fold-in line $i has ${vs.length} values, expected $k")
        else {
          val s = vs.map(_.toDouble).sum
          if (math.abs(s - len) <= 1e-4 * math.max(1L, len)) None
          else Some(s"fold-in line $i sums to $s, expected $len")
        }
    })
  }

  def finite(name: String, v: Double): Option[String] =
    if (v.isNaN || v.isInfinite) Some(s"$name is $v") else None

  /** In-vocabulary token count of each document of a text-format corpus. */
  def inVocabLengths(lines: Iterator[String], vocab: Set[String]): Seq[Long] =
    lines.filter(l => l.nonEmpty && l(0) != '#' && l(0) != '\r').map { line =>
      val p = line.trim.split("\\s+")
      var n = 0L
      var i = 0
      while (i + 1 < p.length) {
        if (vocab.contains(p(i))) n += p(i + 1).toInt
        i += 2
      }
      n
    }.toVector

  /** Content digest of a result: columns in name order, doubles as %.4f,
    * NULL as \N, binary as hex, tab-joined (the render of the repository's golden-hash
    * tests). Rendered rows are sorted before hashing, so the digest does
    * not depend on the order ties come out in. */
  def digest(fieldNames: Array[String], rows: Array[Row]): String = {
    val order = fieldNames.indices.sortBy(fieldNames(_))
    val text = rows.map { r =>
      order.map { i =>
        r.get(i) match {
          case null => "\\N"
          case d: java.lang.Double => "%.4f".formatLocal(java.util.Locale.ROOT, d.doubleValue())
          case b: Array[Byte] => b.map("%02x".format(_)).mkString
          case v => v.toString
        }
      }.mkString("\t")
    }.sorted.mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** A result's row count and digest must match its pinned values. */
  def pinned(name: String, rows: Long, digest: String, pin: Option[(Long, String)]): Option[String] =
    pin match {
      case None => Some(s"$name has no pinned digest ($rows rows, digest $digest)")
      case Some((r, d)) if r != rows => Some(s"$name returned $rows rows (digest $digest), pinned $r")
      case Some((_, d)) if d != digest => Some(s"$name digest $digest, pinned $d")
      case _ => None
    }
}
