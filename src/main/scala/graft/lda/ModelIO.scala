package graft.lda

import java.io.{BufferedWriter, FileWriter}
import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model (de)serialization with byte parity to the reference's text format
  * (A2 in FIXTURES.md): one word per line, `word<TAB>c1 c2 … cK\n`.
  *
  * Two writers, matching the reference's two output kinds (SURVEY quirk #1):
  *  - raw int64 counts — the mpi_lda path (model.cc:98-111);
  *  - burn-in-averaged doubles — the single-node lda path
  *    (accumulative_model.cc:80-94), doubles rendered with C++
  *    `ostream<<double` defaultfloat precision-6 semantics.
  *
  * The reader accepts both and truncates doubles to int64, reproducing
  * model.cc:126-127 (quirk #4). Word order in the file defines word ids on
  * reload (V3 vocabulary semantics).
  *
  * The codec runs as plain loops over the V×K values: [[formatDouble]]
  * rounds with `BigDecimal`, and the reader splits lines without a regex
  * and parses each value with `parseDouble`.
  *
  * The text model file is a driver-side artifact (V×K longs — ~8 MB at the
  * reference's NYTimes scale); [[writeCountsDistributed]] exports models
  * too large to collect.
  */
object ModelIO {

  private val Digits6 = new MathContext(6, RoundingMode.HALF_EVEN)

  /** C++ `ostream << double` (defaultfloat, precision 6), i.e. C's `%.6g`
    * with trailing zeros (and a bare trailing '.') stripped: the exact
    * binary value rounded half-to-even to 6 significant digits, fixed
    * notation for decimal exponents -4..5, else `d.ddddde±XX`. Zeros
    * print as `0` / `-0`; NaN and infinities keep Java's spelling. */
  def formatDouble(d: Double): String =
    if (d == 0) (if (1 / d < 0) "-0" else "0")
    else if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = new JBigDecimal(math.abs(d)).round(Digits6).stripTrailingZeros
      val exp = r.precision - r.scale - 1 // decimal exponent of the rounded value
      val body =
        if (exp >= -4 && exp < 6) r.toPlainString
        else {
          val digits = r.unscaledValue.toString
          val mant = if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
          val e = math.abs(exp)
          s"${mant}e${if (exp < 0) '-' else '+'}${if (e < 10) "0" else ""}$e"
        }
      if (d < 0) "-" + body else body
    }

  /** Write raw counts (model.cc:98-111). `indexToWord(i)` = word with id i;
    * `model` is the flat (V+1)×K array (global row excluded from output). */
  def writeCounts(model: Array[Long], numTopics: Int, indexToWord: Array[String], path: String): Unit =
    writeLines(indexToWord, path) { (sb, w) =>
      val off = w * numTopics
      var k = 0
      while (k < numTopics) {
        sb.append(model(off + k))
        sb.append(if (k < numTopics - 1) ' ' else '\n')
        k += 1
      }
    }

  /** Write averaged doubles (accumulative_model.cc:80-94). */
  def writeAveraged(model: Array[Double], numTopics: Int, indexToWord: Array[String], path: String): Unit =
    writeLines(indexToWord, path) { (sb, w) =>
      val off = w * numTopics
      var k = 0
      while (k < numTopics) {
        sb.append(formatDouble(model(off + k)))
        sb.append(if (k < numTopics - 1) ' ' else '\n')
        k += 1
      }
    }

  private def writeLines(indexToWord: Array[String], path: String)(row: (StringBuilder, Int) => Unit): Unit = {
    val out = new BufferedWriter(new FileWriter(path))
    try {
      val sb = new StringBuilder
      var w = 0
      while (w < indexToWord.length) {
        sb.setLength(0)
        sb.append(indexToWord(w)).append('\t')
        row(sb, w)
        out.write(sb.toString)
        w += 1
      }
    } finally out.close()
  }

  private def isBlank(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** The fields of a model line: `line.trim.split("\\s+")` without the
    * regex. */
  private[lda] def fields(line: String): Array[String] = {
    var end = line.length
    while (end > 0 && line.charAt(end - 1) <= ' ') end -= 1
    var i = 0
    while (i < end && line.charAt(i) <= ' ') i += 1
    if (i == end) return Array("")
    val out = ArrayBuffer.empty[String]
    while (i < end) {
      val start = i
      while (i < end && !isBlank(line.charAt(i))) i += 1
      out += line.substring(start, i)
      while (i < end && isBlank(line.charAt(i))) i += 1
    }
    out.toArray
  }

  /** The rows of a model file, as the reference parser sees them: lines
    * that are empty or start with '#', '\r' or '\n' are skipped; every other
    * line is a word and its values, and must have as many values as the
    * first such line. */
  private def readRows(path: String): (Array[String], Array[Array[Double]]) = {
    val src = Source.fromFile(path)
    try {
      val words = ArrayBuffer.empty[String]
      val rows = ArrayBuffer.empty[Array[Double]]
      var lineNo = 0
      for (line <- src.getLines()) {
        lineNo += 1
        if (line.nonEmpty && line(0) != '#' && line(0) != '\r' && line(0) != '\n') {
          val f = fields(line)
          val values = new Array[Double](f.length - 1)
          var t = 0
          while (t < values.length) { values(t) = java.lang.Double.parseDouble(f(t + 1)); t += 1 }
          if (rows.nonEmpty) require(values.length == rows(0).length,
            s"model file $path line $lineNo: ${values.length} values, expected ${rows(0).length}")
          words += f(0)
          rows += values
        }
      }
      (words.toArray, rows.toArray)
    } finally src.close()
  }

  /** Read a model file (model.cc:113-153): word order defines ids (V3);
    * double values truncated to long (quirk #4); global row rebuilt by
    * column sums (model.cc:147-151). Returns (flat (V+1)×K counts, words
    * in id order). Fails on a file with no rows, or rows of unequal
    * length. */
  def readModel(path: String): (Array[Long], Array[String]) = {
    val (words, rows) = readRows(path)
    require(words.nonEmpty, s"model file $path has no model rows")
    val v = words.length
    val k = rows(0).length
    val model = new Array[Long]((v + 1) * k)
    var w = 0
    while (w < v) {
      val cs = rows(w)
      var t = 0
      while (t < k) {
        val c = cs(t).toLong
        model(w * k + t) = c
        model(v * k + t) += c
        t += 1
      }
      w += 1
    }
    (model, words)
  }

  /** view_model.py-parity report lines (view_model.py:28-39): per topic a
    * blank line, `TOPIC:  <i> <mass>`, a blank line, then `word value`
    * rows filtered to value > 1 and sorted by (value, word) DESCENDING —
    * python2's `sorted(..., key=(v, k), reverse=True)`. Values are read
    * as raw doubles (NOT int64-truncated — the truncation quirk applies
    * to the inference reload path only) and rendered python-str-style
    * (integral doubles as `x.0`). */
  def viewModelLines(path: String): Seq[String] = {
    val (words, rows) = readRows(path)
    if (words.isEmpty) return Seq.empty
    def pyFloat(v: Double): String =
      if (v == math.floor(v) && math.abs(v) < 1e16) s"${v.toLong}.0" else v.toString
    (0 until rows(0).length).flatMap { t =>
      val kept = words.indices.filter(w => rows(w)(t) > 1).toArray
      var mass = 0.0
      kept.foreach(w => mass += rows(w)(t))
      val byValueThenWordDesc: Ordering[Int] = (a, b) => {
        val c = java.lang.Double.compare(rows(b)(t), rows(a)(t))
        if (c != 0) c else words(b).compareTo(words(a))
      }
      Seq("", s"TOPIC:  $t ${pyFloat(mass)}", "") ++
        kept.sorted(byValueThenWordDesc).map(w => s"${words(w)} ${pyFloat(rows(w)(t))}")
    }
  }

  /** Distributed plda-format text export for models too large to collect
    * (the [[ShardedLda]] path): formats each `word\tc1 … cK` line on the
    * executors and writes with a global sort on word_id — Spark's range
    * partitioning makes part-file lexicographic order equal global word
    * order, so `cat part-*` (or any in-order reader) reproduces the exact
    * byte stream [[writeCounts]] would emit. Every vocab word must have a
    * model row (true by construction — the vocabulary is built from the
    * corpus). Reload at scale via the parquet form; the text form is for
    * interop with the reference's tooling. */
  def writeCountsDistributed(modelRows: org.apache.spark.sql.Dataset[WordTopics],
      vocab: DataFrame, path: String): Unit = {
    modelRows.toDF("word_id", "counts")
      .join(vocab, "word_id")
      .orderBy("word_id")
      .select(concat(col("tok"), lit("\t"),
        array_join(col("counts"), " ")).as("value"))
      .write.mode("overwrite").text(path)
  }
}
