package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Each output check accepts a right output and rejects a corrupted one. */
class ChecksSpec extends AnyFunSuite {
  // V=2 words, K=2 topics, 5 tokens: rows w0, w1, then the n(k) row
  private val model = Array[Long](2, 1, 0, 2, 2, 3)

  test("topic mass: Σ n(k) must equal the training token count") {
    assert(Checks.topicMass(model, 2, 2, 5).isEmpty)
    val lost = model.clone(); lost(5) -= 1
    assert(Checks.topicMass(lost, 2, 2, 5).isDefined)
    assert(Checks.topicMass(model.dropRight(2), 2, 2, 5).isDefined)
  }

  test("model shape: the re-read model keeps V and K") {
    assert(Checks.modelShape(model, Array("a", "b"), 2, 2).isEmpty)
    assert(Checks.modelShape(model, Array("a"), 2, 2).isDefined)
    assert(Checks.modelShape(Array.fill(9)(0L), Array("a", "b"), 2, 2).isDefined)
  }

  test("fold-in: one line per doc, K values summing to the in-vocabulary length") {
    val lines = Seq("1.5 2.5", "0 3")
    assert(Checks.foldIn(lines, Seq(4L, 3L), 2).isEmpty)
    assert(Checks.foldIn(lines.take(1), Seq(4L, 3L), 2).isDefined)
    assert(Checks.foldIn(Seq("1.5 2.5 0", "0 3"), Seq(4L, 3L), 2).isDefined)
    assert(Checks.foldIn(Seq("1.5 2.4", "0 3"), Seq(4L, 3L), 2).isDefined)
  }

  test("in-vocabulary lengths count only known words") {
    val docs = Iterator("a 2 x 5 b 1", "", "x 3")
    assert(Checks.inVocabLengths(docs, Set("a", "b")) == Seq(3L, 0L))
  }

  test("likelihood must be finite") {
    assert(Checks.finite("ll", -9.2).isEmpty)
    assert(Checks.finite("ll", Double.NaN).isDefined)
    assert(Checks.finite("ll", Double.NegativeInfinity).isDefined)
  }

  test("pinned digest: rejects a changed value, a lost row and a missing pin") {
    val fields = Array("b", "a")
    val rows = Array(Row(1.23456, "x"), Row(null, "y"))
    val d = Checks.digest(fields, rows)
    assert(Checks.digest(fields, rows.reverse) == d, "row order must not matter")
    assert(Checks.pinned("e", 2, d, Some((2L, d))).isEmpty)
    val changed = Checks.digest(fields, Array(Row(1.2346, "x"), Row(null, "z")))
    assert(Checks.pinned("e", 2, changed, Some((2L, d))).isDefined)
    assert(Checks.pinned("e", 1, Checks.digest(fields, rows.take(1)), Some((2L, d))).isDefined)
    assert(Checks.pinned("e", 2, d, None).isDefined)
  }

  test("digest renders doubles at 4 decimals, so sub-rounding noise is invisible") {
    val fields = Array("v")
    assert(Checks.digest(fields, Array(Row(0.123449999))) == Checks.digest(fields, Array(Row(0.12344))))
  }

  test("generated corpora depend on the seed and only on it") {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    val shape = CorpusShape(docs = 20, heldOutDocs = 5, vocab = 500, minLen = 10, maxLen = 20)
    val a = Gen.corpus(new java.io.File(dir, "a"), "w", 7L, shape)
    val b = Gen.corpus(new java.io.File(dir, "b"), "w", 7L, shape)
    val c = Gen.corpus(new java.io.File(dir, "c"), "w", 8L, shape)
    def text(f: java.io.File) = Files.readString(f.toPath)
    try {
      assert(text(a.train) == text(b.train) && text(a.heldOut) == text(b.heldOut))
      assert(text(a.train) != text(c.train))
      assert(a.trainTokens >= 20 * 10 && a.trainTokens <= 20 * 20)
    } finally {
      Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
  }

  test("the ops sample takes one entry per family and is a fixed function of the names") {
    val names = graft.SparkEntry.queries.keys.toSeq
    val s = OpsWorkload.sample(names)
    assert(s.map(_._2).sorted == OpsWorkload.Families.sorted)
    assert(OpsWorkload.sample(names.reverse) == s)
  }
}
