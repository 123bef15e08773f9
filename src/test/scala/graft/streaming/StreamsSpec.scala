package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def runToCompletion(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), s"query $name did not terminate")
    finally q.stop()
    spark.table(name)
  }

  /** Poll until `cond` holds (bounded): `processAllAvailable` never wakes
    * under ProcessingTimeTimeout's continuous no-data batches. */
  private def eventually(cond: => Boolean, timeoutMs: Long = 60000): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (!cond && System.currentTimeMillis < end) Thread.sleep(200)
    assert(cond, "condition not met within timeout")
  }

  test("streaming tumbling counts equal the batch Q17 aggregation") {
    val stream = Streams.eventStream(spark, sf() + "/events.parquet")
    // complete mode: append would hold back windows newer than the final
    // watermark (max ts − 2h), which never finalize on a finite stream
    val got = runToCompletion(
      Streams.tumblingCounts(stream), "t_counts", mode = "complete")
      .select(col("h"), col("event_type"), col("c"),
        round(col("s"), 4).as("s"))
      .orderBy("h", "event_type")
      .collect()
    val want = graft.queries.Relational.q17(spark, sf()).collect()
    assert(got.length == want.length)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("session_window rollups equal the batch sessionAgg") {
    val stream = Streams.eventStream(spark, sf() + "/events.parquet")
    val got = runToCompletion(
      Streams.sessionWindows(stream), "t_sessions", mode = "complete")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 4).as("total_value"))
      .orderBy("user_id", "session_start")
      .collect()
    val want = graft.ext.Temporal.sessionAgg(graft.Tables.events(spark, sf()))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")
      .collect()
    assert(got.length == want.length)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val stream = Streams.eventStream(spark, sf() + "/events.parquet")
    val deduped = runToCompletion(Streams.dedupEvents(stream), "t_dedup")
    val n = deduped.count()
    val distinct = graft.Tables.events(spark, sf()).select("event_id").distinct().count()
    assert(n == distinct)
  }

  test("stream-static enrichment equals the batch join") {
    val dim = graft.Tables.events(spark, sf())
      .groupBy("user_id").agg(round(avg(col("value")), 4).as("user_avg"))
    val stream = Streams.eventStream(spark, sf() + "/events.parquet")
      .select("event_id", "user_id")
    val got = runToCompletion(Streams.enrich(stream, dim, "user_id"), "t_enrich")
      .orderBy("event_id").collect()
    val want = graft.Tables.events(spark, sf()).select("event_id", "user_id")
      .join(dim, Seq("user_id"), "left")
      .orderBy("event_id").collect()
    assert(got.length == want.length)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("sliding windows produce two windows per event hour") {
    val stream = Streams.eventStream(spark, sf() + "/events.parquet")
    val got = runToCompletion(Streams.slidingUserValue(stream), "t_slide")
    assert(got.count() > 0)
    // every (user, window) average is finite
    assert(got.where(col("avg_value").isNull).count() == 0)
  }

  test("watermark drops late rows: a 2h-late event never reaches its window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val events = ms.toDS().toDF("event_id", "ts", "event_type", "value")
    val q = Streams.tumblingCounts(events, windowLen = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("t_late")
      .outputMode("append").start()
    try {
      // two on-time rows in the 10:00 window + one far-future row that
      // pushes the watermark to 11:30 (> the 10:00 window's end)
      ms.addData((1L, ts("2024-01-01 10:00:00"), "view", 1.0),
        (2L, ts("2024-01-01 10:30:00"), "view", 1.0),
        (3L, ts("2024-01-01 13:30:00"), "view", 1.0))
      q.processAllAvailable()
      // next batch: the 10:00 window is now final — and this LATE row
      // (event time 10:15 < watermark 11:30) must be discarded
      ms.addData((4L, ts("2024-01-01 10:15:00"), "view", 1.0))
      q.processAllAvailable()
      val win10 = spark.table("t_late")
        .where(col("h") === ts("2024-01-01 10:00:00")).collect()
      assert(win10.length == 1, win10.mkString(","))
      assert(win10(0).getAs[Long]("c") == 2L, s"late row counted: ${win10(0)}")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch time-range join") {
    val stream = Streams.eventStream(spark, sf() + "/events.parquet")
    val got = runToCompletion(Streams.viewPurchaseIntervalJoin(stream), "t_ivj").count()
    val e = graft.Tables.events(spark, sf())
    val v = e.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vu"), col("ts").as("vts"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"), col("ts").as("pts"))
    val want = v.join(p,
      expr("vu = pu AND pts BETWEEN vts - INTERVAL 1 HOUR AND vts")).count()
    assert(got == want && want > 0, s"stream=$got batch=$want")
  }

  test("parquet sink with checkpoint is exactly-once across restarts") {
    val base = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    def run(): Unit = {
      val q = Streams.parquetSink(
        Streams.dedupEvents(Streams.eventStream(spark, sf() + "/events.parquet")),
        out, ckpt)
      assert(q.awaitTermination(120000), "sink query did not terminate")
      q.stop()
    }
    run()
    val first = spark.read.parquet(out).count()
    assert(first == graft.Tables.events(spark, sf()).select("event_id").distinct().count())
    // restart with the same checkpoint: offsets are committed, the same
    // input file must NOT be reprocessed
    run()
    assert(spark.read.parquet(out).count() == first, "duplicates after restart")
  }

  test("streaming canonical dedup drops content dups across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    // batch 1: two docs; batch 2: a canonical dup of doc 1 (case+digit
    // variant) and one genuinely new doc — the dup must be dropped by
    // STATE carried across the micro-batch boundary, not within-batch
    ms.addData(Seq((1L, "Page 3: the quick fox"), (2L, "something else")))
    ms.addData(Seq((3L, "page 7 the quick fox!"), (4L, "brand new text")))
    val got = runToCompletion(
      Streams.canonicalDedupStream(ms.toDS().toDF("doc_id", "text")), "t_cdedup")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 4L), got.toString)
    // survivor count equals the batch operator's group count on the union
    val all = Seq((1L, "Page 3: the quick fox"), (2L, "something else"),
      (3L, "page 7 the quick fox!"), (4L, "brand new text"))
      .toDF("doc_id", "text")
    assert(got.size == graft.ext.TextAnalysis.dedupNormalized(all).count())
  }

  test("streaming near-dup gate reproduces the batch first-wins marking across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // docs 1/3 are near-identical (share most 3-shingles -> same minhash
    // buckets); doc 3 arrives in a LATER micro-batch, so the dup decision
    // must come from bucket state carried across the boundary. doc 2 is
    // unrelated; doc 4 has < 3 tokens (no buckets, always kept).
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val ms = MemoryStream[(Long, String)]
    ms.addData(Seq((1L, a), (2L, "completely different words in this one here")))
    ms.addData(Seq((3L, a + " extra"), (4L, "too short")))
    val decisions = runToCompletion(
      Streams.nearDupGate(ms.toDS().toDF("doc_id", "text"))
        .toDF("doc_id", "band", "owner"), "t_neardup")
    val marked = decisions.groupBy("doc_id").agg(min("owner").as("o"))
      .as[(Long, Long)].collect().toMap
    assert(marked(1L) == 1L && marked(2L) == 2L && marked(3L) == 1L)
    assert(!marked.contains(4L)) // shingle-free: no buckets
    // parity with the batch operator on the unioned corpus
    val all = Seq((1L, a), (2L, "completely different words in this one here"),
      (3L, a + " extra"), (4L, "too short")).toDF("doc_id", "text")
    val batch = graft.ext.Dedup.firstWinsNearDup(all)
      .as[(Long, Int, Option[Long])].collect().sortBy(_._1).toList
    val stream = all.select("doc_id").as[Long].collect().sorted.toList.map { id =>
      marked.get(id) match {
        case Some(o) if o < id => (id, 1, Some(o))
        case _ => (id, 0, None)
      }
    }
    assert(stream == batch, s"stream=$stream batch=$batch")
  }

  test("near-dup gate under the RocksDB state store matches the default provider") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the GraftSession.streamingBuilder production config, applied to the
    // live session: provider choice must be deployment-only — identical
    // gate output, state held off-heap in RocksDB instead of the heap
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val a = "the quick brown fox jumps over the lazy dog again and again"
      val ms = MemoryStream[(Long, String)]
      ms.addData(Seq((1L, a), (2L, "completely different words in this one here")))
      ms.addData(Seq((3L, a + " extra")))
      val marked = runToCompletion(
        Streams.nearDupGate(ms.toDS().toDF("doc_id", "text"))
          .toDF("doc_id", "band", "owner"), "t_neardup_rocks")
        .groupBy("doc_id").agg(min("owner").as("o"))
        .as[(Long, Long)].collect().toMap
      // same marking the default-provider test pins: 3 dups onto 1
      assert(marked == Map(1L -> 1L, 2L -> 2L, 3L -> 1L), marked.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming near-dup gate with idleRetention evicts idle bucket state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = Streams.nearDupGate(ms.toDS().toDF("doc_id", "text"),
        idleRetentionMs = 500L)
      .toDF("doc_id", "band", "owner")
      .writeStream.format("memory").queryName("t_neardup_ttl")
      .outputMode("append").start()
    // NOTE: no processAllAvailable anywhere in this test — it never
    // wakes under ProcessingTimeTimeout's continuous no-data batches
    // (see the eventually() helper's doc above)
    // latest progress may already reflect a timer-batch eviction, so the
    // "state reached 4" probe scans the full history while the eviction
    // probe reads only the latest
    def latestState: Option[Long] = q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty => p.stateOperators.head.numRowsTotal
    }
    def everHeld(n: Long): Boolean = q.recentProgress.exists(p =>
      p.stateOperators.nonEmpty && p.stateOperators.head.numRowsTotal == n)
    try {
      ms.addData(Seq((1L, "the quick brown fox jumps over the lazy dog")))
      eventually(spark.table("t_neardup_ttl").count() == 4L)
      eventually(everHeld(4L))
      // after the idle retention passes, the timer batches fire the
      // processing-time timeouts and the buckets are remove()d
      eventually(latestState.contains(0L))
      // a fresh doc after eviction builds fresh buckets and is admitted
      // (having forgotten doc 1 — the documented retention trade)
      ms.addData(Seq((9L, "unrelated fresh content arriving much later now")))
      eventually(spark.table("t_neardup_ttl").count() == 8L)
    } finally q.stop()
  }

  test("near-dup gate TTL mode: batch parity inside retention, re-admission after") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val a = "the quick brown fox jumps over the lazy dog again"
    val ms = MemoryStream[(Long, String)]
    val q = Streams.nearDupGate(ms.toDS().toDF("doc_id", "text"),
        idleRetentionMs = 2000L)
      .toDF("doc_id", "band", "owner")
      .writeStream.format("memory").queryName("t_neardup_ttl_parity")
      .outputMode("append").start()
    def latestState: Option[Long] = q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty => p.stateOperators.head.numRowsTotal
    }
    def marked: Map[Long, Long] =
      spark.table("t_neardup_ttl_parity").groupBy("doc_id")
        .agg(min("owner").as("o")).as[(Long, Long)].collect().toMap
    try {
      // phase 1 — WITHIN retention: micro-batch slicing + the TTL knob
      // must not change the marking; the oracle is the batch operator
      ms.addData(Seq((1L, a), (2L, "completely different words in this one")))
      eventually(spark.table("t_neardup_ttl_parity").count() == 8L)
      ms.addData(Seq((3L, a + " tail")))
      eventually(spark.table("t_neardup_ttl_parity").count() == 12L)
      val batchWant = {
        import spark.implicits._
        val docs = Seq((1L, a), (2L, "completely different words in this one"),
          (3L, a + " tail")).toDF("doc_id", "text")
        graft.ext.Dedup.firstWinsNearDup(docs)
          .select(col("doc_id"),
            coalesce(col("dup_of"), col("doc_id")).as("o"))
          .as[(Long, Long)].collect().toMap
      }
      assert(marked == batchWant,
        s"TTL-mode marking $marked != batch marking $batchWant")
      // phase 2 — AFTER retention the buckets evict, so a RETURNING
      // duplicate re-admits as its own owner: the documented trade
      eventually(latestState.contains(0L))
      ms.addData(Seq((9L, a)))
      eventually(spark.table("t_neardup_ttl_parity").count() == 16L)
      assert(marked(9L) == 9L,
        s"returning dup after eviction should own itself, got ${marked(9L)}")
    } finally q.stop()
  }

  test("streaming EWMA TTL mode: per-segment batch parity, smoothing restart after eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Double)]
    val q = Streams.streamingEwma(ms.toDS(), alpha = 0.2, idleRetentionMs = 2000L)
      .toDF("key", "order_id", "ewma")
      .writeStream.format("memory").queryName("t_ewma_ttl")
      .outputMode("append").start()
    def latestState: Option[Long] = q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty => p.stateOperators.head.numRowsTotal
    }
    def got: Map[Long, Double] =
      spark.table("t_ewma_ttl").select("order_id", "ewma")
        .as[(Long, Double)].collect().toMap
    def batchEwma(rows: Seq[(Long, Long, Double)]): Map[Long, Double] = {
      import spark.implicits._
      graft.ext.Temporal.ewma(
          rows.toDF("user_id", "event_id", "value"), alpha = 0.2)
        .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    }
    try {
      // segment 1 (key retained across these micro-batches): the TTL
      // knob must not perturb the smoothing — oracle is the batch op
      val seg1 = Seq((1L, 1L, 10.0), (1L, 2L, 20.0))
      ms.addData(seg1.take(1)); ms.addData(seg1.drop(1))
      eventually(spark.table("t_ewma_ttl").count() == 2L)
      assert(got == batchEwma(seg1), s"seg1 ${got} != ${batchEwma(seg1)}")
      // eviction: the key's (haveY, y) state drops on idle timeout
      eventually(latestState.contains(0L))
      // segment 2: the RETURNING key restarts from its next value —
      // ewma(order 3) = 50.0 exactly, NOT 0.2*50 + 0.8*12 = 17.6
      ms.addData(Seq((1L, 3L, 50.0)))
      eventually(spark.table("t_ewma_ttl").count() == 3L)
      assert(got(3L) == 50.0, s"restarted smoothing should emit 50.0, got ${got(3L)}")
      assert(got(3L) == batchEwma(Seq((1L, 3L, 50.0)))(3L))
    } finally q.stop()
  }

  test("streaming inference is byte-equal to the batch transform") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docsDf = graft.Tables.documents(spark, sf()).select("doc_id", "text").limit(50)
    val m = graft.lda.Lda(graft.lda.LdaConfig(numTopics = 3, alpha = 0.1,
      beta = 0.01, totalIterations = 4, burnInIterations = 2, seed = 7L)).fit(docsDf)
    val inferCfg = m.cfg.copy(totalIterations = 6, burnInIterations = 3)

    val want = m.transform(docsDf, inferCfg).collect()
      .map(dt => dt.docId -> dt.topics.toSeq).toMap

    val ms = MemoryStream[(Long, String)]
    ms.addData(docsDf.as[(Long, String)].collect().toSeq)
    val q = Streams.streamingInferTopics(ms.toDS().toDF("doc_id", "text"),
        m.counts, m.vocabMap, inferCfg)
      .writeStream.format("memory").queryName("t_infer")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000)) finally q.stop()
    val got = spark.table("t_infer").as[(Long, Seq[Double])].collect().toMap

    assert(got.keySet == want.keySet)
    got.foreach { case (id, topics) => assert(topics == want(id), s"doc $id") }
  }

  test("streaming EWMA equals the batch operator across micro-batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val events = graft.Tables.events(spark, sf())
      .select("user_id", "event_id", "value").limit(600)
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    val want = graft.ext.Temporal.ewma(events.toSeq.toDF("user_id", "event_id", "value"))
      .as[(Long, Long, Double)].collect().map(r => r._2 -> r._3).toMap

    val ms = MemoryStream[(Long, Long, Double)]
    val q = Streams.streamingEwma(ms.toDS())
      .writeStream.format("memory").queryName("t_ewma")
      .outputMode("append").start()
    try {
      // three arbitrary batch boundaries; EWMA is a left fold, so the
      // split must not matter
      events.grouped(250).foreach { batch =>
        ms.addData(batch.toSeq)
        q.processAllAvailable()
      }
      val got = spark.table("t_ewma").as[(Long, Long, Double)].collect()
        .map(r => r._2 -> r._3).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (id, v) => assert(v == want(id), s"event $id") }
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizes per user with running totals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Double)]
    ms.addData((1L, 2.0), (1L, 3.0), (2L, 5.0))
    // long session timeout: the test asserts running totals, not closes
    val q = Streams.userSessions(ms.toDS(), timeoutMs = 600000)
      .writeStream.format("memory").queryName("t_sessions")
      .outputMode("append").start()
    try {
      def live = spark.table("t_sessions").as[SessionUpdate].collect().filter(!_.closed)
      eventually(live.length >= 2)
      ms.addData((1L, 4.0))
      eventually(live.exists(u => u.user_id == 1L && u.n_events == 3L))
      val rows = live
      // user 1: first batch n=2 total=5, second batch n=3 total=9 (state kept)
      val u1 = rows.filter(_.user_id == 1L).sortBy(_.n_events)
      assert(u1.map(u => (u.n_events, u.total_value)).toSeq == Seq((2L, 5.0), (3L, 9.0)))
      assert(rows.exists(u => u.user_id == 2L && u.n_events == 1L && u.total_value == 5.0))
    } finally q.stop()
  }

  test("streaming robust-z gate emits exactly the batch outlier rows") {
    val batch = graft.Tables.events(spark, sf())
    val stats = graft.ext.Temporal.robustStats(batch)
    val stream = Streams.eventStream(spark, sf() + "/events.parquet")
    val got = runToCompletion(
      Streams.robustAnomalyGate(stream, stats), "t_madgate")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val want = batch.join(broadcast(stats), "event_type")
      .where(abs(col("value") - col("_med")) > lit(3 * 1.4826) * col("_mad"))
      .select(col("event_id"), col("event_type"), round(col("value"), 4).as("value"))
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(got == want)
    // the per-group flag counts agree with madOutliers' census
    val census = graft.ext.Temporal.madOutliers(batch)
      .select("event_type", "n_outliers").as[(String, Long)].collect().toMap
    val byType = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    census.foreach { case (t, c) => assert(byType.getOrElse(t, 0L) == c) }
  }

  test("stream source sizing is recursive, glob-aware and storage-agnostic") {
    // Hadoop FileSystem sizing: nested partition directories count (the
    // old java.io.File listFiles was non-recursive and returned 0 on any
    // non-local scheme, flooring stateful streams to 8 state partitions)
    val root = java.nio.file.Files.createTempDirectory("graft-srcbytes-")
    try {
      val nested = root.resolve("day=1/hour=2")
      java.nio.file.Files.createDirectories(nested)
      java.nio.file.Files.write(nested.resolve("a.parquet"),
        Array.fill[Byte](1000)(1))
      java.nio.file.Files.write(root.resolve("b.parquet"),
        Array.fill[Byte](500)(2))
      val sb = graft.queries.ExtQueries.sourceBytes(spark, root.toString)
      assert(sb == 1500L, s"recursive size, got $sb")
      // the file: scheme (what a distributed deployment passes, modulo
      // scheme) resolves through the same FileSystem API
      assert(graft.queries.ExtQueries.sourceBytes(
        spark, "file:" + root.toString) == 1500L)
      // glob metacharacters expand instead of sizing as 0
      assert(graft.queries.ExtQueries.sourceBytes(
        spark, root.toString + "/day=*") == 1000L)
      // nonexistent path sizes as 0 (caller keeps the session default)
      assert(graft.queries.ExtQueries.sourceBytes(
        spark, root.toString + "/nope") == 0L)
      // a path no file system can open sizes as 0 instead of throwing
      assert(graft.queries.ExtQueries.sourceBytes(spark, "nosuchfs://host/x") == 0L)
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val entries = java.nio.file.Files.list(p)
          try entries.forEach(rm(_)) finally entries.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(root)
    }
  }
}
