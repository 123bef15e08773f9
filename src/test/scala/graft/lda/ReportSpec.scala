package graft.lda

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `LdaModel.topWords` and `describeTopics` against the Spark window
  * ranking they replaced, kept here as the reference: same schema
  * (nullability included), same rows in the same order. The generated
  * models have heavy count ties, counts at the `cnt > 1` floor, a topic
  * with no word above it, and words whose UTF-8 (Spark) order differs
  * from their UTF-16 (Java `String`) order. */
class ReportSpec extends SparkSpec {
  import spark.implicits._

  private val specials = Seq("z", "é", "😀", "ｚ", "ﬁ", "Z", "ze", "a")

  /** A random model: counts in 0..4 (so ranks tie often), topic 0 held at
    * the floor (every count ≤ 1). */
  private def model(seed: Long, k: Int, v: Int): LdaModel = {
    val rng = new scala.util.Random(seed)
    // shuffled: word ids follow neither byte nor String order
    val words = rng.shuffle(specials ++ (0 until v - specials.length).map(i => s"w${rng.nextInt(v)}_$i"))
    val counts = new Array[Long]((v + 1) * k)
    for (w <- 0 until v; t <- 0 until k) {
      val c = if (t == 0) rng.nextInt(2).toLong else rng.nextInt(5).toLong
      counts(w * k + t) = c
      counts(v * k + t) += c
    }
    val vocab = words.zipWithIndex.toDF("tok", "word_id")
    LdaModel(counts, counts.map(_.toDouble), Array.empty, vocab, v,
      LdaConfig(k, 0.1, 0.01, totalIterations = 1))
  }

  private def longForm(m: LdaModel): DataFrame = {
    val words = m.vocab.as[(String, Int)].collect().sortBy(_._2).map(_._1)
    val k = m.cfg.numTopics
    words.indices.map(w => (words(w), w, Array.tabulate(k)(t => m.counts(w * k + t))))
      .toDF("word", "word_id", "counts")
      .select(col("word"), posexplode(col("counts")).as(Seq("topic", "cnt")))
  }

  private def refTopWords(m: LdaModel, n: Int): DataFrame = {
    val w = Window.partitionBy("topic").orderBy(col("cnt").desc, col("word").asc)
    longForm(m).where(col("cnt") > 1)
      .withColumn("r", row_number().over(w))
      .where(col("r") <= n)
      .select("topic", "word", "cnt")
      .orderBy(col("topic"), col("cnt").desc, col("word"))
  }

  private def refDescribe(m: LdaModel, maxTerms: Int): DataFrame = {
    val w = Window.partitionBy("topic").orderBy(col("cnt").desc, col("word").asc)
    val totals = Window.partitionBy("topic")
    longForm(m).withColumn("total", sum(col("cnt")).over(totals))
      .where(col("cnt") > 1)
      .withColumn("r", row_number().over(w))
      .where(col("r") <= maxTerms)
      .groupBy("topic")
      .agg(
        sort_array(collect_list(struct(col("r"), col("word")))).as("tw"),
        sort_array(collect_list(struct(col("r"),
          (col("cnt") / col("total")).as("wt")))).as("twt"))
      .select(col("topic"), col("tw.word").as("terms"), col("twt.wt").as("termWeights"))
      .orderBy("topic")
  }

  private def assertSame(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema == want.schema, s"$clue: ${got.schema.treeString} vs ${want.schema.treeString}")
    val g: Seq[Row] = got.collect().toSeq
    val e: Seq[Row] = want.collect().toSeq
    assert(g == e, s"$clue:\n${g.mkString("\n")}\nvs\n${e.mkString("\n")}")
  }

  for (seed <- Seq(1L, 2L, 3L); (k, v) <- Seq((2, 9), (3, 40), (7, 120)))
    test(s"topWords and describeTopics match the window ranking (seed $seed, K=$k, V=$v)") {
      val m = model(seed, k, v)
      for (n <- Seq(0, 1, 3, 10, v + 5)) {
        assertSame(m.topWords(n), refTopWords(m, n), s"topWords($n)")
        assertSame(m.describeTopics(n), refDescribe(m, n), s"describeTopics($n)")
      }
    }

  test("ties rank by word in UTF-8 byte order, not UTF-16 order") {
    val words = Seq("z", "é", "ｚ", "😀")
    // Java's String order puts the surrogate pair of 😀 below ｚ (U+FF5A)
    assert(words.sorted == Seq("z", "é", "😀", "ｚ"))
    val v = words.length
    val counts = Array[Long](3, 1, 3, 0, 3, 0, 3, 0, /* global */ 12, 1)
    val m = LdaModel(counts, counts.map(_.toDouble), Array.empty,
      words.zipWithIndex.toDF("tok", "word_id"), v, LdaConfig(2, 0.1, 0.01, totalIterations = 1))
    val top = m.topWords(10).as[(Int, String, Long)].collect().toSeq
    assert(top == Seq((0, "z", 3L), (0, "é", 3L), (0, "ｚ", 3L), (0, "😀", 3L)))
    assert(m.describeTopics(2).collect().map(_.getSeq[String](1)).toSeq == Seq(Seq("z", "é")))
  }

  test("a vocabulary whose ids are not exactly 0..V-1 is rejected, naming the id") {
    val counts = Array[Long](3, 0, 2, 0, 4, 0, /* global */ 9, 0)
    def m(ids: Seq[Int]) = LdaModel(counts, counts.map(_.toDouble), Array.empty,
      Seq("a", "b", "c").zip(ids).toDF("tok", "word_id"), 3, LdaConfig(2, 0.1, 0.01, totalIterations = 1))
    for ((ids, bad) <- Seq((Seq(0, 1, 3), "word_id 3"), (Seq(0, 1, 1), "word_id 1"), (Seq(-1, 0, 1), "word_id -1"))) {
      val e = intercept[IllegalArgumentException](m(ids).topWords(2))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
    assert(m(Seq(2, 0, 1)).topWords(1).as[(Int, String, Long)].collect().toSeq == Seq((0, "a", 4L)))
  }
}
