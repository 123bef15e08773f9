package graft.lda

import graft.SparkSpec

class GibbsSpec extends SparkSpec {

  test("DocState.init builds a valid CSR with seeded topics") {
    val doc = DocState.init(7L, Array(0, 2, 5), Array(2, 1, 3), 4, seed = 42L)
    assert(doc.offsets.sameElements(Array(0, 2, 3, 6)))
    assert(doc.topics.length == 6)
    assert(doc.topics.forall(t => t >= 0 && t < 4))
    // deterministic per (seed, docId), independent of anything else
    val again = DocState.init(7L, Array(0, 2, 5), Array(2, 1, 3), 4, seed = 42L)
    assert(doc.topics.sameElements(again.topics))
    val other = DocState.init(8L, Array(0, 2, 5), Array(2, 1, 3), 4, seed = 42L)
    assert(!doc.topics.sameElements(other.topics)) // different stream
  }

  test("topicDistribution matches the hand-computed full conditional") {
    // V=2, K=2. model: n(w0,·)=(3,1) n(w1,·)=(2,4); global=(5,5)
    val model = Array[Long](3, 1, 2, 4, 5, 5)
    val docTopics = Array[Long](2, 1)
    val dist = new Array[Double](2)
    val (alpha, beta) = (0.1, 0.01)
    // train, current topic = 0, word w0: k=0 gets -1 on all three counts
    Gibbs.topicDistribution(model, gOff = 4, vBeta = 2 * beta, wOff = 0,
      docTopics, curTopic = 0, train = true, alpha, beta, dist)
    val e0 = (3 - 1 + beta) * (2 - 1 + alpha) / (5 - 1 + 2 * beta)
    val e1 = (1 + beta) * (1 + alpha) / (5 + 2 * beta)
    assert(math.abs(dist(0) - e0) < 1e-12 && math.abs(dist(1) - e1) < 1e-12)
    // inference: no adjustment
    Gibbs.topicDistribution(model, 4, 2 * beta, 0, docTopics, 0, train = false, alpha, beta, dist)
    val f0 = (3 + beta) * (2 + alpha) / (5 + 2 * beta)
    assert(math.abs(dist(0) - f0) < 1e-12)
  }

  test("sampleFromCdf walks the prefix sums like common.cc:31-50") {
    val dist = Array(1.0, 2.0, 1.0) // cdf: 1,3,4
    assert(Gibbs.sampleFromCdf(dist, 0.0) == 0)
    assert(Gibbs.sampleFromCdf(dist, 0.24) == 0) // 0.96 < 1
    assert(Gibbs.sampleFromCdf(dist, 0.26) == 1) // 1.04 > 1
    assert(Gibbs.sampleFromCdf(dist, 0.74) == 1) // 2.96 < 3
    assert(Gibbs.sampleFromCdf(dist, 0.76) == 2)
    assert(Gibbs.sampleFromCdf(dist, 0.9999999) == 2)
  }

  test("sweepDocument conserves counts (model column sums, doc histogram)") {
    val k = 3
    val v = 4
    val doc = DocState.init(1L, Array(0, 1, 3), Array(5, 2, 4), k, 99L)
    val model = new Array[Long]((v + 1) * k)
    // init model counts from this doc (M3)
    for (i <- doc.wordIds.indices; j <- doc.offsets(i) until doc.offsets(i + 1)) {
      model(doc.wordIds(i) * k + doc.topics(j)) += 1
      model(v * k + doc.topics(j)) += 1
    }
    val docTopics = doc.topicHistogram(k)
    val topics = doc.topics.clone()
    val rng = new SplitMix64(123L)
    Gibbs.sweepDocument(doc.wordIds, doc.offsets, topics, docTopics, model, v,
      0.1, 0.01, train = true, rng, new Array[Double](k))
    // total occurrences conserved
    assert(docTopics.sum == doc.numOccurrences)
    // Σ_w n(w,k) == n(k) for every k (model.cc:79-88 invariant)
    for (t <- 0 until k) {
      val colSum = (0 until v).map(w => model(w * k + t)).sum
      assert(colSum == model(v * k + t))
    }
    // n(w,·) row sums == word occurrence counts
    for (i <- doc.wordIds.indices) {
      val w = doc.wordIds(i)
      val rowSum = (0 until k).map(t => model(w * k + t)).sum
      assert(rowSum == doc.offsets(i + 1) - doc.offsets(i))
    }
    // histogram consistent with assignments
    assert(docTopics.sameElements {
      val h = new Array[Long](k); topics.foreach(t => h(t) += 1); h
    })
  }

  test("sweepDocument over a word range touches only that range's occurrences and rows") {
    val (k, v, lo, hi) = (3, 5, 1, 3)
    val doc = DocState.init(2L, Array(0, 1, 2, 4), Array(3, 4, 2, 3), k, 17L)
    val model = new Array[Long]((v + 1) * k)
    for (i <- doc.wordIds.indices; j <- doc.offsets(i) until doc.offsets(i + 1)) {
      model(doc.wordIds(i) * k + doc.topics(j)) += 1
      model(v * k + doc.topics(j)) += 1
    }
    // the slice: rows [lo, hi) back to back, then the global row
    val shard = model.slice(lo * k, hi * k) ++ model.slice(v * k, (v + 1) * k)
    val docTopics = doc.topicHistogram(k)
    val topics = doc.topics.clone()
    Gibbs.sweepDocument(doc.wordIds, doc.offsets, topics, docTopics, shard, lo, hi, v,
      0.1, 0.01, train = true, new SplitMix64(5L), new Array[Double](k))
    for (i <- doc.wordIds.indices if doc.wordIds(i) < lo || doc.wordIds(i) >= hi;
         j <- doc.offsets(i) until doc.offsets(i + 1))
      assert(topics(j) == doc.topics(j), s"occurrence $j of word ${doc.wordIds(i)} moved")
    assert(docTopics.sameElements {
      val h = new Array[Long](k); topics.foreach(t => h(t) += 1); h
    })
    // shard rows keep their word totals; the global row moves with them
    for (w <- lo until hi)
      assert((0 until k).map(t => shard((w - lo) * k + t)).sum ==
        (0 until k).map(t => model(w * k + t)).sum)
    val g = (hi - lo) * k
    for (t <- 0 until k)
      assert(shard(g + t) - model(v * k + t) ==
        (lo until hi).map(w => shard((w - lo) * k + t) - model(w * k + t)).sum)
  }

  test("countModel is partition-count invariant") {
    import spark.implicits._
    val docs = (0L until 40L).map { id =>
      DocState.init(id, Array(0, 1, 2), Array(3, 1, 2), 4, seed = 7L)
    }
    val a = Gibbs.countModel(spark.createDataset(docs).repartition(1), 3, 4)
    val b = Gibbs.countModel(spark.createDataset(docs).repartition(7), 3, 4)
    assert(a.sameElements(b))
    // global row = total occurrences
    assert((0 until 4).map(t => a(3 * 4 + t)).sum == 40 * 6)
  }

  test("logLikelihood matches a brute-force computation") {
    val k = 2
    val v = 3
    val doc = DocState(5L, Array(0, 2), Array(0, 2, 3), Array(0, 1, 0))
    val model = Array[Long](4, 1, 2, 2, 0, 3, 6, 6)
    val (alpha, beta) = (0.5, 0.1)
    val got = Gibbs.logLikelihood(doc, model, v, alpha, beta, k)
    // brute force per occurrence (sampler.cc:116-166)
    val hist = doc.topicHistogram(k)
    val len = 3.0
    val pzd = (0 until k).map(t => (hist(t) + alpha) / (len + alpha * k))
    var exp = 0.0
    for (i <- doc.wordIds.indices; _ <- doc.offsets(i) until doc.offsets(i + 1)) {
      val w = doc.wordIds(i)
      val pw = (0 until k).map(t =>
        (model(w * k + t) + beta) / (model(v * k + t) + v * beta) * pzd(t)).sum
      exp += math.log(pw)
    }
    assert(math.abs(got - exp) < 1e-12)
  }
}
