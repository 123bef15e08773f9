package graft.lda

import graft.SparkSpec
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** The one training loop: S word-shard passes per iteration, one Spark
  * job each; burn-in averaging at every S; likelihood sums that do not
  * depend on task completion order. */
class TrainLoopSpec extends SparkSpec {
  import spark.implicits._

  private val k = 4
  private val v = 12

  private def corpus(n: Int, partitions: Int) = spark.createDataset(
    spark.sparkContext.parallelize((0L until n.toLong).map { id =>
      val ids = Array((id % 4).toInt, 4 + (id % 5).toInt, 9 + (id % 3).toInt)
      DocState.init(id, ids, Array(3, 2, 4), k, seed = 11L)
    }, partitions))

  test("shard ranges of the requested and the effective shard count agree (V < 400)") {
    for (nw <- 1 until 400; s <- 1 to nw) {
      val eff = LdaTrainer.effectiveShards(nw, s)
      val requested = (0 until s).map(LdaTrainer.shardBounds(nw, s, _)).filter(r => r._1 < r._2)
      val effective = (0 until eff).map(LdaTrainer.shardBounds(nw, eff, _))
      assert(requested == effective, s"V=$nw S=$s")
    }
    assert(LdaTrainer.effectiveShards(0, 1) == 1)
    assert(LdaTrainer.shardBounds(0, 1, 0) == ((0, 0)))
  }

  /** The stage count of each job the body runs, counted by a listener on
    * a private job group. A marker job run after the body is seen last
    * (the listener bus delivers in order), so every job of the body has
    * been counted by then. */
  private def jobStages(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"train-loop-jobs-${System.nanoTime()}"
    val marker = group + "-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(group)).foreach(g => seen.add((g, e.stageInfos.size)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def markerSeen = seen.asScala.exists(_._1 == marker)
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener never saw the marker job")
      seen.asScala.toSeq.collect { case (`group`, stages) => stages }
    } finally sc.removeSparkListener(listener)
  }

  private def jobsOf(body: => Unit): Int = jobStages(body).size

  for (s <- Seq(1, 3); ll <- Seq(false, true)) {
    test(s"S = $s, computeLikelihood = $ll: one job per pass after the initial tally") {
      val docs = corpus(30, 2)
      val cfg = LdaConfig(k, 0.1, 0.01, totalIterations = 2, computeLikelihood = ll, seed = 5L)
      val jobs = jobsOf(LdaTrainer.train(docs, v, cfg, numShards = s).release())
      assert(jobs == 1 + 2 * s, s"$jobs jobs for 2 iterations at S = $s")
    }
  }

  for (s <- Seq(1, 3); ll <- Seq(false, true)) {
    test(s"S = $s, computeLikelihood = $ll: an executor-side combine level (depth 2) " +
        "gives the same models, likelihoods and topics as depth 1") {
      // 8 partitions: the depth-2 rule (treeAggregate's) merges them in 2
      // groups of 4 on the executors before the driver merges the groups
      val cfg = LdaConfig(k, 0.1, 0.01, totalIterations = 3, computeLikelihood = ll, seed = 17L)
      def run(ingressMax: Long) = {
        val gens = new LdaTrainer.Generations
        var docs = corpus(64, 8).rdd.glom().map(Block.initial).persist()
        var model = Gibbs.countModelRdd(docs, 0, v, k, ingressMax)
        val trace = Seq.newBuilder[(Seq[Long], Double)]
        trace += ((model.toSeq, 0.0))
        for (iter <- 0 until cfg.totalIterations) {
          val (swept, next, passLL, _) =
            LdaTrainer.iteration(docs, model, v, cfg, s, iter, gens, ingressMax)
          trace += ((next.toSeq, passLL))
          gens.retire(docs)
          docs = swept
          model = next
        }
        val topics = docs.collect().flatMap(_.docs).map(d => d.docId -> d.topics.toSeq).toSeq
        gens.release(docs)
        (trace.result(), topics)
      }
      var depth1: (Seq[(Seq[Long], Double)], Seq[(Long, Seq[Int])]) = null
      var depth2: (Seq[(Seq[Long], Double)], Seq[(Long, Seq[Int])]) = null
      val stages1 = jobStages { depth1 = run(Gibbs.DriverIngressBytes) }
      val stages2 = jobStages { depth2 = run(0L) }
      // the initial tally and one job per pass, then the final collect
      assert(stages1 == Seq.fill(1 + 3 * s)(1) :+ 1)
      assert(stages2 == Seq.fill(1 + 3 * s)(2) :+ 1, "no combine stage ran at depth 2")
      assert(depth2._1 == depth1._1)
      assert(depth2._2 == depth1._2)
      assert(depth1._1.map(_._1).distinct.size == depth1._1.size, "the chain did not move")
      assert(ll == depth1._1.drop(1).forall(_._2 != 0.0))
    }
  }

  test("S = 3: averaged is the mean of the post-burn-in models") {
    val docs = corpus(30, 2)
    val cfg = LdaConfig(k, 0.1, 0.01, totalIterations = 4, burnInIterations = 2, seed = 9L)
    def run(c: LdaConfig) = { val r = LdaTrainer.train(docs, v, c, numShards = 3); r.release(); r }
    val full = run(cfg)
    val m3 = run(cfg.copy(totalIterations = 3)).model
    val m4 = full.model
    assert(!m3.sameElements(m4), "the chain did not move between iterations 3 and 4")
    assert(full.averaged.sameElements(m3.indices.map(i => (m3(i) + m4(i)) / 2.0)))
  }

  // 12 iterations cross at least one checkpoint (every 10th pass) past
  // the input copy; dropping the final generation's cache makes the
  // recount recompute it through its lineage, which ends in that
  // checkpointed generation. At S = 3 with likelihood on, 4 iterations
  // end just past a mid-iteration checkpoint (pass 10: iteration 3, shard
  // 0), whose materialization drops the input copy's checkpoint; the
  // passes after it fold the likelihood over the iteration-start
  // generation, unpersisted once the iteration ends, so that fold must
  // stay out of the generations' lineage.
  for ((s, ll, iters) <- Seq((1, false, 12), (3, false, 12), (3, true, 4))) {
    test(s"S = $s${if (ll) ", computeLikelihood = true" else ""}: " +
        "the final generation recomputes from the newest local checkpoint") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val cfg = LdaConfig(k, 0.1, 0.01, totalIterations = iters, computeLikelihood = ll,
        seed = 13L)
      val r = LdaTrainer.train(corpus(30, 2), v, cfg, numShards = s)
      try {
        val cached = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
        cached.maxBy(_._1)._2.unpersist(blocking = true) // the final generation
        assert(Gibbs.countModel(r.docs, v, k).sameElements(r.model))
      } finally r.release()
      assert(sc.getPersistentRDDs.keySet == before, "release() left a generation cached")
    }
  }

  /** The model slice [lo, hi) + global row, as a pass broadcasts it. */
  private def slice(model: Array[Long], lo: Int, hi: Int): Array[Long] =
    model.slice(lo * k, hi * k) ++ model.slice(v * k, (v + 1) * k)

  /** Log-likelihood of `docs` under `model`, summed on the driver: per
    * partition (flat: doc sums added up; chained: word terms folded into
    * one running sum), then partitions in index order, then shards. */
  private def reference(docs: RDD[DocState], model: Array[Long], shards: Int,
      chained: Boolean, cfg: LdaConfig): Double = {
    val parts = docs.glom().collect()
    var total = 0.0
    for (s <- 0 until shards) {
      val (lo, hi) = LdaTrainer.shardBounds(v, shards, s)
      val rows = slice(model, lo, hi)
      var shardSum = 0.0
      parts.foreach { p =>
        var acc = 0.0
        p.foreach { d =>
          acc =
            if (chained) Gibbs.logLikelihood(d, rows, lo, hi, v, cfg.alpha, cfg.beta, k, acc)
            else acc + Gibbs.logLikelihood(d, rows, lo, hi, v, cfg.alpha, cfg.beta, k, 0.0)
        }
        shardSum += acc
      }
      total += shardSum
    }
    total
  }

  test("likelihood sums add partition partials in partition order (8 partitions, 5 runs)") {
    val docs = corpus(64, 8)
    val cfg = LdaConfig(k, 0.1, 0.01, totalIterations = 3, computeLikelihood = true, seed = 21L)
    val model0 = Gibbs.countModel(docs, v, k)
    // iteration i's pre-sweep state is the state after i iterations
    val trace = Seq(1, 3).map { s =>
      s -> (0 until cfg.totalIterations).map { i =>
        if (i == 0) reference(docs.rdd, model0, s, chained = s > 1, cfg)
        else {
          val r = LdaTrainer.train(docs, v, cfg.copy(totalIterations = i), numShards = s)
          try reference(r.docs.rdd, r.model, s, chained = s > 1, cfg) finally r.release()
        }
      }
    }.toMap
    val corpusRef = reference(docs.rdd, model0, 1, chained = false, cfg)
    for (run <- 1 to 5) {
      val bc = spark.sparkContext.broadcast(model0)
      assert(Gibbs.corpusLikelihood(docs, bc, v, k, cfg.alpha, cfg.beta) == corpusRef, s"run $run")
      bc.destroy()
      for (s <- Seq(1, 3)) {
        val r = LdaTrainer.train(docs, v, cfg, numShards = s)
        r.release()
        assert(r.likelihoods.toSeq == trace(s), s"run $run, S = $s")
      }
    }
  }
}
