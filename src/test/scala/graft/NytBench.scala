package graft

import org.apache.spark.sql.SparkSession

/** Dev-only published-scale LDA tools (test scope, not shipped).
  *
  * The reference's ONLY documented workload (README.md:102-133) is the
  * UCI NYTimes bag-of-words: 300,000 docs, 102,660-word vocabulary,
  * ~100,000,000 tokens, trained with K=10, α=0.1, β=0.01. That dataset
  * isn't in the repository, so [[NytGen]] synthesizes a deterministic
  * corpus with the SAME shape — doc count, vocab size, token total,
  * Zipf-Mandelbrot frequency profile — in the reference's own text
  * format (`word cnt word cnt …`, lda.cc:56-84), and [[NytKsweep]] times
  * our trainer on it at a given K and word-shard count, with
  * per-iteration resolution. Both run on `local[*]` with one shuffle
  * partition per available processor, so they size themselves to the
  * host; the heap is the forked JVM's -Xmx (SPARK_DRIVER_MEM).
  */
object NytGen {
  /** p(rank r) ∝ 1/(r + shift): Zipf-Mandelbrot, the empirical shape of
    * stopword-stripped news vocabulary (pure Zipf puts 8% of all mass on
    * rank 1 — stopword territory; shifting flattens the head the way
    * stopword removal does while keeping the long tail Zipfian). */
  def cumulative(v: Int, shift: Double): Array[Double] = {
    val cum = new Array[Double](v)
    var s = 0.0
    var r = 0
    while (r < v) { s += 1.0 / (r + shift); cum(r) = s; r += 1 }
    r = 0
    while (r < v) { cum(r) /= s; r += 1 }
    cum
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/nyt/corpus")
    val nDocs = args.lift(1).map(_.toLong).getOrElse(300000L)
    val vocab = args.lift(2).map(_.toInt).getOrElse(102660)
    // mean doc length 333 → ~100M tokens over 300k docs (README.md:102)
    val minLen = 233
    val lenSpan = 201
    val seed = 20260815L

    val spark = SparkSession.builder().master("local[*]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val bcCum = spark.sparkContext.broadcast(cumulative(vocab, 27.0))
    // 32 slices whatever the host: the part files (and so the corpus
    // bytes) stay the same on every host; each doc's RNG is keyed by its id
    spark.range(0L, nDocs, 1L, 32).as[Long].mapPartitions { it =>
      val cum = bcCum.value
      it.map { docId =>
        val rng = new graft.lda.SplitMix64(graft.lda.Rng.mix(seed, docId, 0xA11CE5L))
        val len = minLen + rng.nextInt(lenSpan)
        val counts = new java.util.TreeMap[Integer, Integer]()
        var t = 0
        while (t < len) {
          val u = rng.nextDouble()
          // inverse-CDF: first rank whose cumulative mass covers u
          var lo = 0; var hi = cum.length - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (cum(mid) < u) lo = mid + 1 else hi = mid
          }
          counts.merge(lo, 1, (a: Integer, b: Integer) => a + b)
          t += 1
        }
        val sb = new java.lang.StringBuilder(counts.size() * 12)
        val e = counts.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          if (sb.length() > 0) sb.append(' ')
          sb.append('w').append(kv.getKey.intValue()).append(' ')
            .append(kv.getValue.intValue())
        }
        sb.toString
      }
    }.write.mode("overwrite").text(outDir)

    println(s"WROTE $outDir docs=$nDocs vocab=$vocab")
    spark.stop()
  }
}

/** One-shard vs word-sharded crossover measurement on the MODEL-SIZE axis
  * (BASELINE.md's scaling law is the memory formula V×K×8 bytes,
  * reference README.md:125 / model.cc:54): trains the SAME corpus at a
  * given K with [[graft.lda.LdaTrainer]] in one mode per run, printing
  * one JSON line with per-iteration walls. `flat` is S = 1 (the whole
  * model broadcast; every task clones it — the AD-LDA replica);
  * `sharded:S` runs S word-shard passes per iteration, each broadcasting
  * and tallying only (V/S + 1)×K longs. The measured s/iter pair at
  * K ∈ {10, 100, 1000} is what [[graft.lda.Lda.numShards]]'s threshold
  * encodes (measured in r12, when the sharded mode was a separate
  * trainer).
  * Run: sbt "Test/runMain graft.NytKsweep /tmp/nyt/corpus <k> <iters>
  *   <flat|sharded:S> <out.json>"
  */
object NytKsweep {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/nyt/corpus")
    val k = args.lift(1).map(_.toInt).getOrElse(100)
    val iters = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("flat")
    val outJson = args.lift(4).getOrElse(s"/tmp/nyt/ksweep_${mode}_k$k.json")

    val spark = SparkSession.builder().master("local[*]")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors.toLong)
      .config("spark.ui.enabled", "false")
      // default 1g on purpose: the since-deleted trainer whose allreduce
      // shipped full-model partials hit the stock limit at large K
      // (recorded in BENCH.md round 12), and hitting it again IS a
      // finding; raise explicitly to measure past the cliff
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("SPARK_MAX_RESULT", "1g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    val t0 = System.nanoTime()
    val bowTok = graft.lda.Corpus.readPldaText(spark, path)
    val vocab = graft.lda.Corpus.sortedVocab(bowTok.select("tok")).cache()
    val numWords = vocab.count().toInt
    val bow = bowTok.join(broadcast(vocab), "tok")
      .select("doc_id", "word_id", "c")
    val corpus = graft.lda.Corpus.fromBow(bow, k, 42L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nToks = corpus.rdd.map(_.topics.length.toLong).reduce(_ + _)
    val tLoad = (System.nanoTime() - t0) / 1e9
    val modelMb = (numWords + 1).toLong * k * 8 / (1 << 20)
    println(s"LOADED tokens=$nToks vocab=$numWords k=$k model=${modelMb}MB in ${tLoad}s")

    val cfg = graft.lda.LdaConfig(numTopics = k, alpha = 0.1, beta = 0.01,
      totalIterations = iters, burnInIterations = math.max(0, iters - 5),
      computeLikelihood = false, seed = 42L)
    val tTrain0 = System.nanoTime()
    val shards = mode match {
      case "flat" => 1
      case s if s.startsWith("sharded:") => s.stripPrefix("sharded:").toInt
      case other => sys.error(s"mode must be flat or sharded:S, got $other")
    }
    val r = graft.lda.LdaTrainer.train(corpus, numWords, cfg, numShards = shards)
    r.release()
    val iterSec = r.iterMillis.map(_ / 1000.0)
    val bcastSec = r.bcastMillis.map(_ / 1000.0)
    val wall = (System.nanoTime() - tTrain0) / 1e9
    val steady = if (iterSec.length > 3) iterSec.drop(3) else iterSec
    val steadyMean = steady.sum / steady.length
    val json =
      s"""{"metric":"nyt_ksweep","mode":"$mode","k":$k,"shards":$shards,""" +
      s""""vocab":$numWords,"tokens":$nToks,"model_mb":$modelMb,""" +
      s""""iters":$iters,"train_wall_sec":${f"$wall%.1f"},""" +
      s""""iter_sec":[${iterSec.map(s => f"$s%.2f").mkString(",")}],""" +
      s""""bcast_sec":[${bcastSec.map(s => f"$s%.3f").mkString(",")}],""" +
      s""""steady_iter_sec":${f"$steadyMean%.2f"}}"""
    println(json)
    val w = new java.io.PrintWriter(outJson)
    try w.println(json) finally w.close()
    spark.stop()
  }
}
