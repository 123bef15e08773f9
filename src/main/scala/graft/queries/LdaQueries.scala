package graft.queries

import graft.{SessionMemo, Tables}
import graft.lda._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LDA surface exposed as driver-checkable queries. Stochastic outputs are
  * excluded from the DuckDB hash oracle (FIXTURES.md §D.5) — these entries
  * get the weaker rows-only check; the real verification is the seeded
  * determinism + invariant + planted-topic statistical specs. */
object LdaQueries {

  // one fit per session: the model's cached vocabulary dies with its
  // context, so a second session refits (the SessionMemo key rule)
  private def fitted(s: SparkSession, dir: String): LdaModel =
    SessionMemo(s, dir, "ldaFitted") {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      Lda(LdaConfig(numTopics = 4, alpha = 0.1, beta = 0.01,
        totalIterations = 10, burnInIterations = 5,
        computeLikelihood = true, seed = 42L)).fit(docs)
    }

  /** Top-10 words per topic from a 10-iteration K=4 fit on `documents`. */
  def trainTopWords(s: SparkSession, dir: String): DataFrame =
    fitted(s, dir).topWords(10)

  /** Fold-in topic mixtures for the training docs (I1 surface). Output is
    * flattened to one scalar row per (doc, topic) — the driver's compare
    * layer sorts every column with pandas, and an array column crashes
    * that sort (numpy.ndarray is unhashable). */
  def inferTopics(s: SparkSession, dir: String): DataFrame = {
    val m = fitted(s, dir)
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    m.transform(docs, m.cfg.copy(totalIterations = 15, burnInIterations = 10))
      .toDF("doc_id", "topics")
      .select(col("doc_id"), posexplode(col("topics")).as(Seq("topic", "w")))
      .select(col("doc_id"), col("topic"), round(col("w"), 4).as("w"))
      .orderBy("doc_id", "topic")
  }

  /** Per-iteration pre-sweep corpus log-likelihood (L1 surface; quirk #6). */
  def likelihoods(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    fitted(s, dir).likelihoods.zipWithIndex
      .map { case (ll, i) => (i, math.round(ll * 10000.0) / 10000.0) }.toSeq
      .toDF("iteration", "log_likelihood")
      .orderBy("iteration")
  }

  /** Word-sharded training (SURVEY §7.4 risk 2 — the huge-V×K regime
    * where the model can't broadcast whole): [[LdaTrainer]] at S = 2,
    * each iteration two passes over word ranges. Output: n(w,·) totals
    * per word id, deterministic invariant view (row sum = word occurrence
    * count, which IS oracle-checkable — it equals the corpus word
    * frequency). */
  def shardedWordTotals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val toks = Corpus.tokenize(docs)
    val vocab = Corpus.sortedVocab(toks).cache()
    val numWords = vocab.count().toInt
    val corpus = Corpus.fromTokenIds(toks.join(org.apache.spark.sql.functions.broadcast(vocab), "tok").select("doc_id", "word_id"), 4, 42L)
    // 2 iters × 2 shards exercises the full path (shard broadcast, sweep,
    // ranged recount); the conserved-totals oracle is
    // iteration-count-invariant
    val k = 4
    val res = LdaTrainer.train(corpus, numWords,
      LdaConfig(numTopics = k, alpha = 0.1, beta = 0.01,
        totalIterations = 2, seed = 42L), numShards = 2)
    res.release()
    // materialized (localCheckpoint) before the vocabulary cache goes
    val totals = (0 until numWords).map(w => (w, res.model.slice(w * k, (w + 1) * k).sum))
      .toDF("word_id", "total")
      .join(vocab, "word_id")
      .select(col("tok"), col("total"))
      .orderBy("tok")
      .localCheckpoint(eager = true)
    vocab.unpersist(blocking = false)
    totals
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lda_train_topwords" -> trainTopWords _,
    "lda_infer_topics" -> inferTopics _,
    "lda_likelihood" -> likelihoods _,
    "lda_sharded_word_totals" -> shardedWordTotals _,
  )
}
