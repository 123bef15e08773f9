package graft.lda

import graft.SparkSpec

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest

/** Golden chain pins: SHA-256 of every LDA chain's output on one small
  * seeded corpus with a fixed partitioning. The determinism specs elsewhere
  * only check that two runs agree, which a change to the sampler would pass
  * as long as it changed every run alike; these pins fail on any change to
  * the flat sweep, the fold-in, the sharded sweep, the model tally or the
  * likelihood. Counts and topic averages are exact; the likelihood pins also
  * assume the JVM's `Math.log`. */
class GoldenChainSpec extends SparkSpec {
  import spark.implicits._

  private val k = 4
  private val v = 12

  private def docs(ids: Range, seed: Long): Seq[DocState] = ids.map { i =>
    val id = i.toLong
    val w = Array((id % 4).toInt, 4 + (id % 5).toInt, 9 + (id % 3).toInt)
    DocState.init(id, w, Array(1 + (id % 3).toInt, 2, 3 + (id % 2).toInt), k, seed)
  }

  /** 36 training docs in 2 fixed partitions: the AD-LDA chain depends on
    * which docs share a task replica. (The likelihood reduces add
    * per-partition partials in partition order, so the pins do not depend
    * on which task finishes first.) */
  private def corpus = spark.createDataset(
    spark.sparkContext.parallelize(docs(0 until 36, seed = 11L), 2))
  private def held = spark.createDataset(
    spark.sparkContext.parallelize(docs(100 until 110, seed = 12L), 2))

  private val cfg = LdaConfig(k, 0.1, 0.01, totalIterations = 6,
    burnInIterations = 3, seed = 77L)

  private def sha(write: DataOutputStream => Unit): String = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    write(out)
    out.flush()
    MessageDigest.getInstance("SHA-256").digest(bytes.toByteArray)
      .map(b => f"$b%02x").mkString
  }
  private def longs(a: Array[Long]) = sha(o => a.foreach(o.writeLong))
  private def doubles(a: Array[Double]) = sha(o => a.foreach(o.writeDouble))
  private def docTopics(out: Array[LdaInfer.DocTopics]) = sha { o =>
    out.sortBy(_.docId).foreach { d => o.writeLong(d.docId); d.topics.foreach(o.writeDouble) }
  }
  /** The V word rows of a flat model, each as its word id then its K counts. */
  private def rows(model: Array[Long]) = sha { o =>
    (0 until v).foreach { w => o.writeInt(w); (0 until k).foreach(t => o.writeLong(model(w * k + t))) }
  }

  private lazy val flat = {
    val r = LdaTrainer.train(corpus, v, cfg)
    r.release()
    r
  }
  private lazy val flatLL = {
    val r = LdaTrainer.train(corpus, v, cfg.copy(computeLikelihood = true))
    r.release()
    r
  }

  test("flat training: model and averaged arrays") {
    assert(longs(flat.model) ==
      "10d1c09ac869fe2e6f2c007e12cd65523b9be21e4527ffa55b52a51c34af406a")
    assert(doubles(flat.averaged) ==
      "9a27dbc913dbf6c48451957a7d41b6ee8222320a96cbcc43db83019f19bdc447")
  }

  test("flat training with computeLikelihood: same chain, pinned likelihood trace") {
    assert(longs(flatLL.model) == longs(flat.model))
    assert(doubles(flatLL.averaged) == doubles(flat.averaged))
    assert(flatLL.likelihoods.length == cfg.totalIterations)
    assert(doubles(flatLL.likelihoods) ==
      "8d75f05c64b8942f8b51a515fe203165250c21a237976ac21399a410fc43e6b2")
  }

  test("flat fold-in: LdaInfer.infer output") {
    assert(docTopics(LdaInfer.infer(held, flat.model, v, cfg).collect()) ==
      "f20deb3a0c874144166424ee49e52b86022ee979876c8c08202e3114ff5b2107")
  }

  test("sharded training: model rows and likelihood trace") {
    val r = LdaTrainer.train(corpus, v, cfg.copy(computeLikelihood = true), numShards = 3)
    assert(rows(r.model) ==
      "5d38838eeb2f2ae8f39f217cc54c94e26f0a49697555415f27ccb901dcc74efa")
    assert(doubles(r.likelihoods) ==
      "2ebfcefa12ca747572d238ae32be7091008e2933bb0b118f043b54a39cc52a98")
    r.release()
  }

  test("corpusLikelihood on the trained model") {
    val bc = spark.sparkContext.broadcast(flat.model)
    assert(doubles(Array(Gibbs.corpusLikelihood(corpus, bc, v, k, cfg.alpha, cfg.beta))) ==
      "ff0fe4e187a1c9ccb7c150355ec4c6a4ddd708c1fbcbc47ff5a0ab4966311163")
    bc.destroy()
  }
}
