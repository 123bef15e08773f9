package graft.lda

import java.nio.file.{Files, Paths}
import scala.io.Source
import graft.SparkSpec

class ModelIOSpec extends SparkSpec {

  test("formatDouble mirrors C++ ostream<<double defaultfloat precision 6") {
    assert(ModelIO.formatDouble(0.0) == "0")
    assert(ModelIO.formatDouble(150.0) == "150")
    assert(ModelIO.formatDouble(1.5) == "1.5")
    assert(ModelIO.formatDouble(123.456) == "123.456")
    assert(ModelIO.formatDouble(123.4567) == "123.457")   // 6 sig digits
    assert(ModelIO.formatDouble(0.0001) == "0.0001")      // exp = -4: fixed
    assert(ModelIO.formatDouble(0.00001) == "1e-05")      // exp < -4: sci
    assert(ModelIO.formatDouble(1234567.0) == "1.23457e+06")
    assert(ModelIO.formatDouble(-2.5) == "-2.5")
    assert(ModelIO.formatDouble(1.0 / 3.0) == "0.333333")
  }

  test("counts write → read round-trips, rebuilding the global row") {
    val k = 3
    val words = Array("apple", "pear", "quince")
    val model = Array[Long](5, 0, 2, 1, 1, 1, 0, 9, 3, /* global: */ 6, 10, 6)
    val path = Files.createTempDirectory("m").resolve("model.txt").toString
    ModelIO.writeCounts(model, k, words, path)
    val text = new String(Files.readAllBytes(Paths.get(path)))
    assert(text == "apple\t5 0 2\npear\t1 1 1\nquince\t0 9 3\n")
    val (back, wordsBack) = ModelIO.readModel(path)
    assert(wordsBack.sameElements(words))
    assert(back.sameElements(model)) // incl. recomputed global row
  }

  test("averaged write uses C++ double formatting; read truncates to int64 (model.cc:126-127)") {
    val k = 2
    val words = Array("a", "b")
    val avg = Array(2.6, 0.0, 150.0, 1.0 / 3.0, /* global */ 152.6, 1.0 / 3.0)
    val path = Files.createTempDirectory("m").resolve("avg.txt").toString
    ModelIO.writeAveraged(avg, k, words, path)
    val text = new String(Files.readAllBytes(Paths.get(path)))
    assert(text == "a\t2.6 0\nb\t150 0.333333\n")
    val (back, _) = ModelIO.readModel(path)
    // 2.6→2, 150→150, 0.333333→0; global row rebuilt from truncated values
    assert(back.sameElements(Array[Long](2, 0, 150, 0, 152, 0)))
  }

  test("readModel skips comment/empty lines like the reference parser") {
    val path = Files.createTempDirectory("m").resolve("c.txt").toString
    Files.write(Paths.get(path), "# comment\n\nw1\t3 4\nw2\t1 2\n".getBytes)
    val (model, words) = ModelIO.readModel(path)
    assert(words.sameElements(Array("w1", "w2")))
    assert(model.sameElements(Array[Long](3, 4, 1, 2, 4, 6)))
  }

  test("formatDouble rounds the exact binary value half-to-even, as C's %.6g does") {
    assert(ModelIO.formatDouble(12345.65) == "12345.6")     // 12345.6499999…
    assert(ModelIO.formatDouble(1234565.0) == "1.23456e+06") // exact tie → even
    assert(ModelIO.formatDouble(123456.5) == "123456")       // exact tie → even
  }

  test("formatDouble matches C printf %.6g on a fixture of hard cases") {
    // format6g.tsv: raw IEEE bits (hex) → the C library's "%.6g" with
    // trailing zeros stripped; generated with Python's printf-style
    // formatting (correctly rounded, half-to-even on the exact value)
    val src = Source.fromResource("format6g.tsv")
    val cases = try src.getLines().map(_.split('\t')).toVector finally src.close()
    assert(cases.length > 1000)
    val bad = cases.flatMap { case Array(bits, want) =>
      val d = java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(bits, 16))
      val got = ModelIO.formatDouble(d)
      if (got == want) None else Some(s"$d: got $got, C gives $want")
    }
    assert(bad.isEmpty, s"${bad.length} mismatches, e.g. ${bad.take(10).mkString("; ")}")
  }

  private def file(content: String): String = {
    val p = Files.createTempFile("graft-model", ".txt")
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  private def rejects(content: String, what: String, line: Int): Unit = {
    val path = file(content)
    val e = intercept[IllegalArgumentException](ModelIO.readModel(path))
    assert(e.getMessage.contains(path) && e.getMessage.contains(what), e.getMessage)
    if (line > 0) assert(e.getMessage.contains(s"line $line"), e.getMessage)
  }

  test("readModel rejects an empty model file, naming the path") {
    rejects("", "no model rows", 0)
    rejects("# only a comment\n\n", "no model rows", 0)
  }

  test("readModel rejects a row with fewer values than the first, naming the line") {
    rejects("# header\na\t1 2 3\nb\t4 5\n", "2 values, expected 3", 3)
  }

  test("readModel rejects a row with more values than the first, naming the line") {
    rejects("a\t1 2\n\nb\t3 4\nc\t5 6 7\n", "3 values, expected 2", 4)
  }

  /** The parsers this codec replaced: comment filter, `trim.split("\\s+")`
    * and `toDouble`. */
  private def refRows(path: String): Vector[(String, Array[Double])] = {
    val src = Source.fromFile(path)
    try src.getLines().filter(l => l.nonEmpty && l(0) != '#' && l(0) != '\r' && l(0) != '\n')
      .map { line =>
        val parts = line.trim.split("\\s+")
        (parts(0), parts.drop(1).map(_.toDouble))
      }.toVector
    finally src.close()
  }

  private def refViewModelLines(rows: Vector[(String, Array[Double])]): Seq[String] = {
    if (rows.isEmpty) return Seq.empty
    val k = rows.head._2.length
    def pyFloat(v: Double): String =
      if (v == math.floor(v) && math.abs(v) < 1e16) s"${v.toLong}.0" else v.toString
    (0 until k).flatMap { t =>
      val entries = rows.collect { case (w, vs) if vs(t) > 1 => (w, vs(t)) }
      val mass = entries.map(_._2).sum
      val sorted = entries.sortBy { case (w, v) => (-v, w) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String.reverse))
      Seq("", s"TOPIC:  $t ${pyFloat(mass)}", "") ++
        sorted.map { case (w, v) => s"$w ${pyFloat(v)}" }
    }
  }

  /** A model file in every layout the reader accepts: comment and blank
    * lines, tabs and runs of spaces, leading and trailing blanks, CRLF, and
    * values in exponent form, signed zeros, 15- to 18-digit integers,
    * decimals of up to 20 digits, and forms only `toDouble` takes. */
  private def messyModel(rng: scala.util.Random, k: Int, rows: Int): String = {
    def digits(n: Int) = (1 to n).map(_ => ('0' + rng.nextInt(10)).toChar).mkString
    val fixed = Seq("1e-05", "-0", "0", "-0.0", "0.000", "2.6", "150", "1.5E3", "007",
      "3.", ".5", "+4", "999999", "123456789012345", "1234567890123456", "999999999999999999",
      "0.1", "-12.50", "1.7976931348623157E308", "4.9E-324")
    def value(): String = rng.nextInt(4) match {
      case 0 => fixed(rng.nextInt(fixed.length))
      case 1 => digits(1 + rng.nextInt(18))
      case 2 => (if (rng.nextBoolean()) "-" else "") + digits(1 + rng.nextInt(10)) + "." + digits(1 + rng.nextInt(10))
      case _ => s"${rng.nextInt(500)}.${rng.nextInt(10)}"
    }
    def blanks() = (0 until 1 + rng.nextInt(3)).map(_ => if (rng.nextBoolean()) " " else "\t").mkString
    // ASCII: model files are read and written in the platform charset
    val words = Seq("a", "Z", "z", "w_1", "the", "x-y", "~", "0")
    val sb = new StringBuilder
    for (r <- 0 until rows) {
      if (rng.nextInt(6) == 0) sb.append("# comment ").append(r).append('\n')
      if (rng.nextInt(8) == 0) sb.append(if (rng.nextBoolean()) "\n" else "\r\n")
      if (rng.nextInt(5) == 0) sb.append(blanks())
      sb.append(words(rng.nextInt(words.length))).append(r).append('\t')
      for (t <- 0 until k) sb.append(if (t == 0) "" else blanks()).append(value())
      if (rng.nextInt(5) == 0) sb.append(blanks())
      sb.append(if (rng.nextBoolean()) "\n" else "\r\n")
    }
    sb.toString
  }

  test("readModel and viewModelLines parse messy files exactly like split + toDouble") {
    for (seed <- 1 to 40) {
      val rng = new scala.util.Random(seed)
      val k = 1 + rng.nextInt(6)
      val path = file(messyModel(rng, k, 60))
      val ref = refRows(path)
      val (model, words) = ModelIO.readModel(path)
      assert(words.toSeq == ref.map(_._1), s"seed $seed")
      val v = ref.length
      val want = new Array[Long]((v + 1) * k)
      for ((row, w) <- ref.zipWithIndex; t <- 0 until k) {
        want(w * k + t) = row._2(t).toLong
        want(v * k + t) += row._2(t).toLong
      }
      assert(model.sameElements(want), s"seed $seed")
      assert(ModelIO.viewModelLines(path) == refViewModelLines(ref), s"seed $seed")
    }
  }

  test("the line tokenizer matches trim.split") {
    for (seed <- 1 to 200) {
      val r = new scala.util.Random(seed)
      for (line <- messyModel(r, 1 + r.nextInt(6), 20).split("\n"))
        assert(ModelIO.fields(line).toSeq == line.trim.split("\\s+").toSeq, line)
    }
    // blanks Java's trim drops but \s does not split on; control chars
    for (line <- Seq("", "   ", "\u0001a\u0001 1", "a\u000B1\f2", "a\u00011 2", " \t a \t "))
      assert(ModelIO.fields(line).toSeq == line.trim.split("\\s+").toSeq, line)
  }
}
