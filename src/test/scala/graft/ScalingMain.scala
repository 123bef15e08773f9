package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scaling-curve harness (test scope, not shipped): replicates
  * the sf0.1 corpus N× with fresh doc_ids and measures the dedup/
  * similarity pipeline stages at each size — the measured evidence behind
  * the "this shape holds at 100 TB" claims (per-size wall-clock should
  * grow ~linearly once fixed job overhead amortizes; a quadratic stage
  * would blow up immediately at 10×).
  * Run: sbt "Test/runMain graft.ScalingMain /root/testdata/sf0.1 1,4,10"
  */
object ScalingMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults = args.lift(1).getOrElse("1,4,10").split(",").map(_.trim.toInt)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // zstd cuts shuffle/spill bytes ~35% vs lz4 — the knob that
      // decides whether a spill-bound leg fits this box's one disk;
      // the GraftSession default since r11 (GRAFT_IO_CODEC=lz4 to A/B
      // against the old default)
      .config("spark.io.compression.codec",
        sys.env.getOrElse("GRAFT_IO_CODEC", GraftSession.DefaultIoCodec))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.documents(spark, dir).select("doc_id", "text")
    val nBase = base.count()

    // every token gets a replica-specific prefix, so replica r's vocab is
    // disjoint from replica r': the near-dup pair structure of EACH
    // replica equals the base corpus's and total pairs grow linearly in m
    // (verbatim copies would instead make all m replicas mutual near-dups
    // — an m² pair blowup that measures the data, not the engine)
    def replicated(m: Int): DataFrame =
      if (m == 1) base
      else base.crossJoin(spark.range(m).toDF("rep"))
        .select((col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("r"), col("rep"), lit("_$1"))).as("text"))

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // dev filter: SCALE_SECTIONS=dedup,relational,r3,r4,r4b,lda restricts
    // the run to named sections (default: all)
    val sections = sys.env.get("SCALE_SECTIONS").map(_.split(",").map(_.trim).toSet)
    def sweep(name: String)(body: Int => Unit): Unit =
      if (sections.forall(_.contains(name))) mults.foreach(body)

    println(f"SCALE base=$nBase docs  (each stage cold per size; times in sec)")
    println("mult |     docs | minhash_bands | band_candidates | simhash_sigs | simhash_banded | cdc_chunks | winnow_pairs | setsim_join")
    sweep("dedup") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = docs.count()
      val (tBands, _) = time(ext.Dedup.minhashBands(docs).count())
      val (tCand, nCand) = time(ext.Dedup.minhashCandidates(docs).count())
      val (tSig, _) = time(ext.Dedup.simhashes(docs).count())
      val (tBanded, nPairs) = time(
        ext.Dedup.simhashBandedPairs(ext.Dedup.simhashes(docs), 4).count())
      val (tCdc, _) = time(ext.Dedup.cdcChunkDups(docs).count())
      // the two EXACT verification ops run to 10× only: both are
      // linear-in-candidates (1×→10× measured ~10× wall-clock), but their
      // absolute cost is the per-pair exact verification work itself —
      // at 100× the leg measures ~10 minutes of fixture geometry, not
      // engine shape, and the 8g harness JVM thrashes pinning the 100×
      // tokenized corpus for the three-way reuse
      val (tWp, nWp) = if (m <= 10)
        time(ext.TextAnalysis.sharedFingerprintPairs(docs).count()) else (-1.0, -1L)
      val (tSs, nSs) = if (m <= 10)
        time(ext.Dedup.setSimilarityJoin(docs).count()) else (-1.0, -1L)
      println(f"$m%4d | $n%8d | $tBands%13.2f | $tCand%8.2f($nCand%7d) | $tSig%12.2f | $tBanded%7.2f($nPairs%7d) | $tCdc%9.2f | $tWp%6.2f($nWp%7d) | $tSs%6.2f($nSs%7d)")
      docs.unpersist(blocking = true)
    }

    // relational side: the q20-shape multi-join + rollup over a replicated
    // fact table (fresh orderkeys per replica so join fan-out stays the
    // data's own) — the broadcast-dim + shuffled-fact plan whose cost
    // should track the fact row count alone
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    println("mult | lineitem rows | q20 multi-join+rollup")
    sweep("relational") { m =>
      def rep(df: DataFrame, keyCols: Seq[String]): DataFrame =
        if (m == 1) df
        else df.crossJoin(spark.range(m).toDF("rep"))
          .select(df.columns.map(c =>
            if (keyCols.contains(c)) (col(c) + col("rep") * lit(1000000000L)).as(c)
            else col(c)): _*)
      val lim = rep(li, Seq("l_orderkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ordm = rep(ord, Seq("o_orderkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nRows = lim.count(); ordm.count()
      val (t, _) = time {
        lim.join(ordm, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("rev"))
          .count()
      }
      println(f"$m%4d | $nRows%13d | $t%8.2f")
      lim.unpersist(blocking = true); ordm.unpersist(blocking = true)
    }

    // round-3 ops: importance weights (two grouped counts + broadcast
    // dictionary — should track token count), EWMA (one shuffle + linear
    // scan — should track event rows), PageRank distributed path (forced
    // via localThreshold=0: per-iteration join+agg over the pair graph)
    println("mult |     docs | importance_w |   events |   ewma | pr_edges | pagerank_dist")
    sweep("r3") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val (tIw, _) = time(
        ext.TextAnalysis.importanceWeights(docs, col("doc_id") % 5 === 0).count())
      val ev = Tables.events(spark, dir).select("user_id", "event_id", "value")
      val evm = (if (m == 1) ev
        else ev.crossJoin(spark.range(m).toDF("rep"))
          .select((col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            (col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            col("value")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val (tEwma, _) = time(ext.Temporal.ewma(evm).count())
      val pairs = ext.Dedup.minhashCandidates(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nE = pairs.count()
      val (tPr, _) = time(
        ext.Graph.pageRank(pairs, iters = 5, localThreshold = 0L).count())
      println(f"$m%4d | ${docs.count()}%8d | $tIw%12.2f | $nEv%8d | $tEwma%6.2f | $nE%8d | $tPr%10.2f")
      docs.unpersist(blocking = true); evm.unpersist(blocking = true)
      pairs.unpersist(blocking = true)
    }

    // round-4 ops: inverted index (one (tok,segment) shuffle — should
    // track token count), domain KL (V×S grid — tracks vocab), BPE train
    // (vocab-level merge loop — near-flat in corpus size), PQ top-k
    // (m× one-pass encodes + tiny codebook aggs — tracks embedding rows)
    println("mult |     docs | inv_index | bm25_idx | domain_kl | bpe_train |     vecs | pq_topk | ivfpq")
    sweep("r4") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val withSrc = docs.withColumn("source",
        concat(lit("src"), col("doc_id") % 20))
      val (tIx, nIx) = time(ext.Retrieval.invertedIndexFlat(docs, 256L).count())
      // index-served BM25 end-to-end: build + sidecar + term lookup
      // (replica 0's tokens carry the r0_ prefix beyond m=1)
      val bmTerms = if (m == 1) Seq("join", "hash", "scan")
        else Seq("r0_join", "r0_hash", "r0_scan")
      val (tBmi, _) = time(ext.Retrieval.bm25FromIndex(
        ext.Retrieval.invertedIndex(docs, 256L), ext.Retrieval.docLengths(docs),
        bmTerms).count())
      val (tKl, _) = time(ext.TextAnalysis.domainKl(withSrc).count())
      val (tBpe, _) = time { ext.Bpe.train(docs, 10)._1.length.toLong }
      val emb = Tables.embeddings(spark, dir)
      val embm = (if (m == 1) emb
        else emb.crossJoin(spark.range(m).toDF("rep"))
          .select((col("vec_id") + col("rep") * lit(1000000L)).as("vec_id"),
            col("embedding")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nVec = embm.count()
      val (tPq, _) = time(ext.Similarity.pqTopK(embm).count())
      val (tIvfPq, _) = time(ext.Similarity.ivfPqTopK(embm).count())
      println(f"$m%4d | ${docs.count()}%8d | $tIx%6.2f($nIx%8d) | $tBmi%8.2f | $tKl%9.2f | $tBpe%9.2f | $nVec%8d | $tPq%7.2f | $tIvfPq%5.2f")
      docs.unpersist(blocking = true); embm.unpersist(blocking = true)
    }

    // round-4b ops: gopher filter (pure map — tracks the doc scan),
    // repeated spans (stride-1 gram slide + gram-keyed count + doc-keyed
    // merge — tracks total characters; the token prefixes keep replica
    // gram spaces disjoint, though prefixing also densifies WITHIN-replica
    // 40-gram collisions — span counts grow superlinearly by construction
    // while the engine cost tracks gram volume), semdedup (k grown with N
    // per the production rule so cluster sizes — and the within-cluster
    // pair cost — stay bounded; replica r's embeddings are the base
    // vectors circularly rotated by r mod 64 (global sign flip past 64):
    // within-replica cosines are exactly preserved, cross-replica pairs
    // decorrelate, so near-dup structure grows ~linearly in m, not m²)
    println("mult |     docs | gopher | rep_spans (spans) |     vecs |   k | semdedup (kept)")
    sweep("r4b") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val (tGq, _) = time(ext.TextAnalysis.gopherQuality(docs).count())
      val (tRs, nSp) = time(ext.Dedup.repeatedSpans(docs).count())
      val emb = Tables.embeddings(spark, dir)
      val sh = (col("rep") % 64).cast("int")
      val embm = (if (m == 1) emb
        else emb.crossJoin(spark.range(m).toDF("rep"))
          .select((col("vec_id") + col("rep") * lit(1000000L)).as("vec_id"),
            col("embedding").cast("array<double>").as("e64"), col("rep"))
          .select(col("vec_id"),
            transform(
              concat(slice(col("e64"), sh + lit(1), lit(64) - sh),
                slice(col("e64"), lit(1), sh)),
              x => x * when(col("rep") < 64, lit(1.0)).otherwise(lit(-1.0)))
              .as("embedding")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nVec = embm.count()
      // k = 8m keeps ⟨cluster⟩ constant; past k=32 semDedup's assignment
      // auto-switches to the broadcast centroid-table join (the shape
      // that scales in k — the literal fan-out collapsed codegen at k=80)
      val k = 8 * m
      val (tSd, nKept) =
        time(ext.Similarity.semDedup(embm, k = k, iters = 1)
          .where(col("kept") === 1).count())
      println(f"$m%4d | ${docs.count()}%8d | $tGq%6.2f | $tRs%9.2f($nSp%6d) | $nVec%8d | $k%3d | $tSd%8.2f($nKept%6d)")
      docs.unpersist(blocking = true); embm.unpersist(blocking = true)
    }

    // temporal/event ops (the one family with no leg until r6): replicated
    // events with fresh user_ids AND event_ids per replica — each replica
    // keeps the base per-user event density, so total rows (and the one
    // (user_id)-keyed shuffle every op below rides) grow exactly m×; a
    // superlinear curve here would mean a per-user window is secretly
    // quadratic or a join fans out across replicas. ts is left unchanged:
    // time-range density per user is the invariant these ops care about.
    println("mult |   events |  asof | session | funnel | resample | compact | rolling")
    // .count() is NOT a valid forcing idiom here: Catalyst's column pruning
    // deletes a Window whose expressions go unused and eliminates
    // cardinality-preserving join subtrees under a bare count (the
    // remove_spans trap, BENCH.md r4) — rolling/asof would time an empty
    // plan. toRdd materializes every output column of the plan as built.
    def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
    sweep("temporal") { m =>
      val ev = Tables.events(spark, dir)
      val evm = (if (m == 1) ev
        else ev.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"), col("value"), col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val views = evm.where(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = evm.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
        .withColumnRenamed("event_id", "pid")
      val (tAsof, _) = time(mat(ext.Temporal.asofJoin(views, purchases, "user_id",
        "ts", payloadCols = Seq("pid", "value"), prefix = "purchase_")))
      val (tSess, _) = time(mat(ext.Temporal.sessionAgg(evm)))
      val (tFun, _) = time(
        mat(ext.Temporal.funnel(evm, Seq("view", "click", "purchase"))))
      val (tRes, _) = time(mat(ext.Temporal.resampleHourlyFfill(evm)))
      val (tCmp, _) = time(mat(ext.Temporal.compactLatest(
        evm.select("event_id", "user_id", "ts", "event_type", "value"),
        "user_id", Seq("ts", "event_id"))))
      val (tRoll, _) = time(mat(ext.Temporal.rollingMean(
        evm.select("event_id", "user_id", "ts", "value"),
        "user_id", Seq("ts", "event_id"), "value", 3)))
      println(f"$m%4d | $nEv%8d | $tAsof%5.2f | $tSess%7.2f | $tFun%6.2f | $tRes%8.2f | $tCmp%7.2f | $tRoll%7.2f")
      evm.unpersist(blocking = true)
    }

    // round-6 ops: NB classifier (one corpus explode + model-sized grid
    // join — should track token volume; the prefixed replicas grow the
    // V×C grid m× too, the huge-vocab regime) and dataset profiling
    // (in-row melt + one column-keyed aggregation — tracks melted rows;
    // exact text distincts make it string-heavy by design)
    println("mult |     docs | nb_classify | profile")
    sweep("r6") { m =>
      val docs = replicated(m)
        .withColumn("source", concat(lit("src"), col("doc_id") % 20))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      def mat6(df: DataFrame): Long = df.queryExecution.toRdd.count()
      val (tNb, _) = time(mat6(ext.TextAnalysis.nbClassify(docs)))
      val (tPr, _) = time(mat6(ext.Profile.profile(docs,
        Seq("doc_id", "text", "source"))))
      println(f"$m%4d | ${docs.count()}%8d | $tNb%11.2f | $tPr%7.2f")
      docs.unpersist(blocking = true)
    }

    // session-2 ops: containment join, source overlap (exact and KMV),
    // normalized dedup and Unigram training over replicated docs
    println("mult |     docs | containment (pairs)     | src_ovl | src_kmv | norm_dd | unigram")
    sweep("r6b") { m =>
      val docs = replicated(m)
        .withColumn("source", concat(lit("src"), col("doc_id") % 20))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
      val (tCont, nCont) = time(mat(ext.Dedup.containmentJoin(docs)))
      val (tSov, _) = time(mat(ext.Dedup.sourceOverlap(docs)))
      val (tKmv, _) = time(mat(ext.Dedup.sourceOverlapKMV(docs)))
      val (tNorm, _) = time(mat(ext.TextAnalysis.dedupNormalized(docs)))
      val (tUni, _) = time(mat(ext.Unigram.train(docs, vocabSize = 256,
        iters = 3, seedSize = 2048)))
      println(f"$m%4d | ${docs.count()}%8d | $tCont%9.2f ($nCont%7d pairs) | $tSov%7.2f | $tKmv%7.2f | $tNorm%7.2f | $tUni%7.2f")
      docs.unpersist(blocking = true)
    }

    // session-3 ops: drift/diff over replicated events, SCD2 over
    // replicated orders, AC-blocklist / HLL / probe train+AUC over
    // replicated docs. Replica events get distinct ids and value jitter
    // (distinct-value count grows m×); orders get fresh custkeys (per-key
    // changelog length stays the data's own).
    println("mult |   events | ks_drift | tbl_diff |   orders |  scd2 |     docs | bl_mine | bl_ac |   hll | probe8 |  auc")
    sweep("r6c") { m =>
      def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
      val ev = {
        val e = Tables.events(spark, dir).select("event_id", "event_type", "value")
        if (m == 1) e
        else e.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(100000000L)).as("event_id"),
            col("event_type"),
            (col("value") + col("rep") * lit(0.001)).as("value"))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ne = ev.count()
      val (tKs, _) = time(mat(ext.Drift.ksDrift(ev)))
      val vOld = ev.where(col("event_id") % 10 =!= 0)
      val vNew = ev.where(col("event_id") % 13 =!= 0)
        .withColumn("value", when(col("event_id") % 7 === 0, col("value") + 1.0)
          .otherwise(col("value")))
      val (tTd, _) = time(mat(
        ext.Incremental.tableDiff(vOld, vNew, "event_id", Seq("event_type", "value"))))
      val ords = {
        val o = Tables.orders(spark, dir)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
        if (m == 1) o
        else o.crossJoin(spark.range(m).toDF("rep"))
          .select((col("o_custkey") + col("rep") * lit(100000000L)).as("o_custkey"),
            (col("o_orderkey") + col("rep") * lit(1000000000L)).as("o_orderkey"),
            col("o_orderdate"), col("o_orderstatus"))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val no = ords.count()
      val (tScd, _) = time(mat(ext.Temporal.scd2(
        ords, "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")))
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = docs.count()
      val (tMine, phrases) = {
        val t0 = System.nanoTime()
        val p = ext.Blocklist.minedBigrams(docs, 200)
        ((System.nanoTime() - t0) / 1e9, p)
      }
      val (tAc, _) = time(mat( // forced automaton path
        ext.Blocklist.filterReport(docs, phrases, acThreshold = 0)))
      val occ = docs.select(col("doc_id"),
        explode(ext.Dedup.shingles(ext.Dedup.tokens(col("text")), 3)).as("sh"))
        .withColumn("source", concat(lit("s"), col("doc_id") % 20))
      val (tHll, _) = time(mat(ext.Sketches.hllEstimate(
        ext.Sketches.hllRegisters(occ, "source", col("sh")), "source")))
      val feats = docs
        .select(col("doc_id"), ext.Dedup.tokens(col("text")).as("ts"))
        .where(size(col("ts")) > 0)
        .select(col("doc_id"), lit(1.0).as("x1"),
          (size(col("ts")) / lit(100.0)).as("x2"),
          (size(array_distinct(col("ts"))) / size(col("ts"))).as("x3"),
          when(size(col("ts")) > 50, 1.0).otherwise(0.0).as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      feats.count()
      val t0p = System.nanoTime()
      val w = ext.LinearModel.trainLinearProbe(feats, Seq("x1", "x2", "x3"), "y", 0.8, 8)
      val tProbe = (System.nanoTime() - t0p) / 1e9
      val scored = feats.select(lit("g").as("grp"),
        ext.LinearModel.score(Seq("x1", "x2", "x3"), w.toSeq).as("s"), col("y"))
      val (tAuc, _) = time(mat(ext.LinearModel.auc(scored, "s", "y", "grp")))
      println(f"$m%4d | $ne%8d | $tKs%8.2f | $tTd%8.2f | $no%8d | $tScd%5.2f | $nd%8d | $tMine%7.2f | $tAc%5.2f | $tHll%5.2f | $tProbe%6.2f | $tAuc%4.2f")
      feats.unpersist(blocking = true)
      ev.unpersist(blocking = true); ords.unpersist(blocking = true)
      docs.unpersist(blocking = true)
    }

    // session-3b ops: KN LM + PPMI power iteration + triangles over the
    // replicated corpus (prefixed replicas → vocab and the PPMI matrix
    // grow m×; the candidate graph's per-replica structure stays the
    // data's own), jaro-winkler blocked pairs, pseudonymized rollup.
    println("mult |     docs | kneser_ney |  ppmi(V) | triangles | jaro_wink |   events | pseud")
    sweep("r6d") { m =>
      def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
      val docs = replicated(m)
        .withColumn("lang", concat(lit("l"), col("doc_id") % 2))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = docs.count()
      val (tKn, _) = time(mat(ext.TextAnalysis.knBigramNll(docs, col("lang") === "l0")))
      val (tPpmi, nV) = {
        val t0 = System.nanoTime()
        val dir = ext.Spectral.ppmiTopDirection(
          ext.TextAnalysis.skipgramPairs(docs), iters = 3)
        ((System.nanoTime() - t0) / 1e9, dir.size.toLong)
      }
      val (tTri, _) = time(mat(ext.Graph.triangleStats(
        ext.Dedup.minhashCandidates(docs))))
      val (tJw, _) = time(mat(ext.Dedup.jaroWinklerPairs(docs)))
      val ev = {
        val e = Tables.events(spark, dir).select("event_id", "user_id", "value")
        if (m == 1) e
        else e.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(100000000L)).as("event_id"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"), col("value"))
      }
      val ne = ev.count()
      val (tPs, _) = time(mat(
        ext.TextAnalysis.pseudonymize(ev, "user_id", "graft42")
          .groupBy("user_id_pseud").agg(count(lit(1)).as("n"))))
      println(f"$m%4d | $nd%8d | $tKn%10.2f | $tPpmi%5.2f($nV%5d) | $tTri%9.2f | $tJw%9.2f | $ne%8d | $tPs%5.2f")
      docs.unpersist(blocking = true)
    }

    // session-4 event analytics: cohort retention (agg + user_id join +
    // distinct — all keyed on user_id/weeks), Markov transitions (one
    // user_id window + tiny-grid aggs), MAD outlier census (two exact
    // percentile rounds on |types| groups — the per-group distinct-value
    // buffer is the scale watch-item, bounded here by value granularity)
    println("mult |   events | cohort | transitions |  mad")
    sweep("r6e") { m =>
      val ev = Tables.events(spark, dir)
      val evm = (if (m == 1) ev
        else ev.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"), col("value"), col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val (tCoh, _) = time(mat(ext.Temporal.cohortRetention(evm)))
      val (tTr, _) = time(mat(ext.Temporal.eventTransitions(evm)))
      val (tMad, _) = time(mat(ext.Temporal.madOutliers(evm)))
      println(f"$m%4d | $nEv%8d | $tCoh%6.2f | $tTr%11.2f | $tMad%4.2f")
      evm.unpersist(blocking = true)
    }

    // session-4b event features: RFM (one user agg + scalar quintile
    // row), nearest join (one union window), decayed value (one keyed
    // window+agg), gini (partitioned rank window), fano/chi2 (tiny-grid
    // aggs) — all should track event volume ~linearly
    println("mult |   events |  rfm | nearest | decayed | gini | fano | chi2")
    sweep("r6f") { m =>
      val ev = Tables.events(spark, dir)
      val evm = (if (m == 1) ev
        else ev.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"), col("value"), col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val (tRfm, _) = time(mat(ext.Temporal.rfmSegments(evm)))
      val views = evm.where(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purch = evm.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(min("event_id").as("pid"))
      val (tNear, _) = time(mat(ext.Temporal.nearestJoin(
        views, purch, "user_id", "ts", Seq("pid"), 3600L)))
      val (tDec, _) = time(mat(ext.Temporal.decayedValue(evm)))
      val (tGini, _) = time(mat(ext.Temporal.giniByGroup(evm)))
      val (tFano, _) = time(mat(ext.Temporal.fanoHourly(evm)))
      val (tChi, _) = time(mat(ext.Temporal.hourOfDayChi2(evm)))
      println(f"$m%4d | $nEv%8d | $tRfm%4.1f | $tNear%7.1f | $tDec%7.1f | $tGini%4.1f | $tFano%4.1f | $tChi%4.1f")
      evm.unpersist(blocking = true)
    }

    // generalized suffix array: rows = corpus chars; rounds are
    // log4(maxlen) and size-independent, so wall-clock should track
    // char volume once per-round job overhead amortizes
    println("mult |    chars | suffix_ranks")
    sweep("sa") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val nc = docs.agg(sum(length(col("text")))).head().getLong(0)
      val (tSa, _) = time(mat(ext.SuffixArray.suffixRanks(docs)))
      println(f"$m%4d | $nc%8d | $tSa%12.2f")
      docs.unpersist(blocking = true)
    }

    // round-7 legs: the de-broadcast scale paths under load.
    //  - neardup_canon: keepNearDupCanonical against a 50%-dup pair graph
    //    (every even doc pairs its successor), the real-crawl regime the
    //    old forced broadcast would OOM on — nonReps is O(corpus/2), and
    //    the left-anti join must track corpus size linearly;
    //  - sorted_nbhd: sortedNeighborhoodPairs' global rank + window
    //    bucket join (bucket population is FIXED at `window` by
    //    construction, so unlike the JW prefix blocks there is no hot
    //    block to salt — the leg proves the claim by measurement);
    //  - lm_score: the bigram-LM shuffle join (was broadcast).
    println("mult |     docs | dup_pairs | neardup_canon (kept) | sorted_nbhd | lm_score")
    sweep("r7") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = docs.count()
      val pairs = docs.select((col("doc_id") - (col("doc_id") % 2)).as("doc_a"),
          col("doc_id").as("doc_b"))
        .where(col("doc_a") =!= col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val np = pairs.count()
      val (tCanon, nKept) = time(mat(ext.Dedup.keepNearDupCanonical(docs, pairs)))
      val (tSn, _) = time(mat(ext.Dedup.sortedNeighborhoodPairs(docs)))
      val (tLm, _) = time(mat(ext.TextAnalysis.lmScore(docs)))
      println(f"$m%4d | $nd%8d | $np%9d | $tCanon%7.2f ($nKept%8d) | $tSn%11.2f | $tLm%8.2f")
      pairs.unpersist(blocking = true)
      docs.unpersist(blocking = true)
    }

    // round-7 session-2 ops over replicated docs: all pure projections /
    // one-shuffle shapes — the legs prove the in-row fold (span corrupt),
    // the (doc,bigram) count shuffle (char entropy), and the doc-keyed
    // ranking window (keywords) stay linear.
    println("mult |     docs | span_corrupt | char_entropy | keywords | syllables")
    sweep("r7b") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = docs.count()
      val (tSc, _) = time(mat(ext.TextAnalysis.spanCorrupt(docs)))
      val (tCe, _) = time(mat(ext.TextAnalysis.charEntropy(docs)))
      val (tKw, _) = time(mat(ext.TextAnalysis.keywords(docs)))
      val (tSy, _) = time(mat(ext.TextAnalysis.syllableStats(docs)))
      println(f"$m%4d | $nd%8d | $tSc%12.2f | $tCe%12.2f | $tKw%8.2f | $tSy%9.2f")
      docs.unpersist(blocking = true)
    }

    // round-7 session-2 temporal ops over replicated events (fresh user
    // and event ids per replica — every op below rides one user-keyed
    // shuffle, so wall-clock must track m; sliding_active's 24× fan-out
    // is a constant factor, not a growth term).
    println("mult |   events |   twa | interval_merge | trimmed | roll_med | cooccur | sliding24")
    sweep("r7c") { m =>
      val ev0 = Tables.events(spark, dir)
      val evm = (if (m == 1) ev0
        else ev0.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"), col("value"), col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val (tTwa, _) = time(mat(ext.Temporal.timeWeightedAvg(evm)))
      val (tIm, _) = time(mat(ext.Temporal.mergeIntervals(evm)))
      val (tTm, _) = time(mat(ext.Temporal.trimmedMean(evm)))
      val (tRm, _) = time(mat(ext.Temporal.rollingMedian(
        evm.select("event_id", "user_id", "value"),
        "user_id", Seq("event_id"), "value", 9)))
      val (tCo, _) = time(mat(ext.Temporal.typeCooccurrence(evm)))
      val (tSl, _) = time {
        val uh = evm.select(col("user_id"), date_trunc("hour", col("ts")).as("h")).distinct()
        val bounds = evm.agg(max(date_trunc("hour", col("ts"))).as("hmax"))
        mat(uh.crossJoin(broadcast(bounds))
          .select(col("user_id"), explode(sequence(col("h"),
            least(col("h") + expr("INTERVAL 23 HOURS"), col("hmax")),
            expr("INTERVAL 1 HOUR"))).as("hh"))
          .groupBy("hh").agg(countDistinct(col("user_id")).as("n")))
      }
      println(f"$m%4d | $nEv%8d | $tTwa%5.2f | $tIm%14.2f | $tTm%7.2f | $tRm%8.2f | $tCo%7.2f | $tSl%9.2f")
      evm.unpersist(blocking = true)
    }

    // round-7 session-3 temporal/monitoring ops over the same replicated
    // events: each is one type- or user-keyed shuffle (+ a span-bounded
    // hour-grid explode for the grid ops), so wall-clock must track m;
    // note the hour-grid ops' grid size is span-bounded (constant in m —
    // replicas share the time span), so their cost grows only through
    // the count shuffle.
    println("mult |   events | cusum | autocorr |  iqr | xmr | entropy | peaks | stick | snaive")
    sweep("r7d") { m =>
      val ev0 = Tables.events(spark, dir)
      val evm = (if (m == 1) ev0
        else ev0.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"), col("value"), col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val (tCu, _) = time(mat(ext.Temporal.cusumChangePoint(evm)))
      val (tAc, _) = time(mat(ext.Temporal.hourlyAutocorr(evm)))
      val (tIq, _) = time(mat(ext.Temporal.iqrOutliers(evm)))
      val (tXm, _) = time(mat(ext.Temporal.controlChart(evm)))
      val (tHe, _) = time(mat(ext.Temporal.hourlyTypeEntropy(evm)))
      val (tPk, _) = time(mat(ext.Temporal.hourlyPeaks(evm)))
      val (tSt, _) = time(mat(ext.Temporal.stickiness(evm)))
      val (tSn, _) = time(mat(ext.Temporal.seasonalNaiveError(evm)))
      println(f"$m%4d | $nEv%8d | $tCu%5.2f | $tAc%8.2f | $tIq%4.2f | $tXm%3.2f | $tHe%7.2f | $tPk%5.2f | $tSt%5.2f | $tSn%6.2f")
      evm.unpersist(blocking = true)
    }

    // round-7 session-3b: survival/uncertainty/behavioral ops over the
    // same replicated events (every one a single user- or bucket-keyed
    // shuffle; KM's risk rollup is span-bounded) plus the text QC ops
    // over replicated docs (pure projections + one count shuffle each).
    println("mult |   events |  km | jack | surprisal | gapcurve | circular | uentropy")
    sweep("r7e") { m =>
      val ev0 = Tables.events(spark, dir)
      val evm = (if (m == 1) ev0
        else ev0.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            col("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"), col("value"), col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val (tKm, _) = time(mat(ext.Temporal.kaplanMeier(evm)))
      val (tJk, _) = time(mat(ext.Temporal.jackknifeSe(evm)))
      val (tPs, _) = time(mat(ext.Temporal.pathSurprisal(evm)))
      val (tGc, _) = time(mat(ext.Temporal.sessionGapCurve(evm)))
      val (tCi, _) = time(mat(ext.Temporal.circularHourStats(evm)))
      val (tUe, _) = time(mat(ext.Temporal.userTypeEntropy(evm)))
      println(f"$m%4d | $nEv%8d | $tKm%4.2f | $tJk%4.2f | $tPs%9.2f | $tGc%8.2f | $tCi%8.2f | $tUe%8.2f")
      evm.unpersist(blocking = true)
    }
    println("mult |     docs | burstiness | char_census | boilerplate | readability")
    sweep("r7e") { m =>
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = docs.count()
      val (tBu, _) = time(mat(ext.TextAnalysis.tokenBurstiness(docs)))
      val (tCc, _) = time(mat(ext.TextAnalysis.charClassCensus(
        docs.withColumn("source", col("doc_id") % 20))))
      val (tBt, _) = time(mat(ext.TextAnalysis.boilerplateTokens(docs)))
      val (tRd, _) = time(mat(ext.TextAnalysis.readability(docs)))
      println(f"$m%4d | $nd%8d | $tBu%10.2f | $tCc%11.2f | $tBt%11.2f | $tRd%11.2f")
      docs.unpersist(blocking = true)
    }

    // round-7 session-4: rank statistics (distributed global tied ranks
    // — distinct values grow ~linearly in m, the runningSum two-pass must
    // track it), the experiment trio (one user rollup each), attribution
    // (one user-keyed range join), Holt (span-bounded grid), and the
    // graph pair (co-activity edges grow linearly — replicas add users,
    // not density, so wedge fan-out per node stays constant).
    println("mult |   events |  mw | kruskal | holt | attrib | cuped | lorenz | kcore | adamic")
    sweep("r7f") { m =>
      val ev0 = Tables.events(spark, dir)
      val evm = (if (m == 1) ev0
        else ev0.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            // replicas occupy DISJOINT 40-day windows: co-activity cell
            // sizes stay constant (users m×, edges m× — linear), instead
            // of packing m× users into the same hours (a quadratic
            // fan-out that would measure the fixture, not the engine)
            expr("timestampadd(DAY, CAST(rep * 40 AS INT), ts)").as("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"),
            // jitter values per replica so distinct-value count grows
            // with m (verbatim copies would only deepen per-value ties)
            (col("value") + col("rep").cast("double") * lit(0.0001)).as("value"),
            col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val (tMw, _) = time(mat(
        ext.RankStats.mannWhitney(evm, "event_type", "value", "click", "view")))
      val (tKw, _) = time(mat(
        ext.RankStats.kruskalWallis(evm, "event_type", "value")))
      val (tHo, _) = time(mat(ext.Temporal.holtForecast(evm)))
      val (tAt, _) = time(mat(ext.Temporal.lastTouchAttribution(evm)))
      val cupedIn = {
        val ev = evm.select(col("user_id").as("u"),
          (col("user_id") % 2).cast("int").as("v"),
          expr("unix_micros(ts) div 86400000000").as("dd"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("vc"))
        val d0 = ev.agg(min("dd").as("d0"))
        ev.crossJoin(broadcast(d0))
          .withColumn("p", (col("dd") - col("d0") >= 15).cast("int"))
          .groupBy("u", "v")
          .agg(sum(when(col("p") === 0, col("vc")).otherwise(0L)).as("x"),
            sum(when(col("p") === 1, col("vc")).otherwise(0L)).as("y"))
      }
      val (tCp, _) = time(mat(ext.Experiment.cuped(cupedIn)))
      val lorenzIn = evm.select(col("user_id").as("key"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("v"))
        .groupBy("key").agg(sum("v").as("t"))
      val (tLz, _) = time {
        // the exactNtile path lives in queries; the decile rollup itself
        // is the measured part (two-pass range partition + offsets)
        mat(ext.Temporal.runningSum(
          lorenzIn.groupBy("t").agg(count(lit(1)).as("c")), "t", "c"))
      }
      val coact = {
        val ua = evm.select(col("user_id"),
          expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"),
          col("event_type")).distinct()
        val l = ua.toDF("ua", "h", "t"); val r = ua.toDF("ub", "h", "t")
        l.join(r, Seq("h", "t")).where(col("ua") < col("ub"))
          .groupBy(col("ua").as("doc_a"), col("ub").as("doc_b"))
          .agg(count(lit(1)).as("shared"))
          .where(col("shared") >= 4).select("doc_a", "doc_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      coact.count()
      val (tKc, _) = time(mat(ext.Graph.kCoreSummary(coact)))
      val (tAa, _) = time(mat(ext.Graph.adamicAdar(coact)))
      coact.unpersist(blocking = false)
      println(f"$m%4d | $nEv%8d | $tMw%4.2f | $tKw%7.2f | $tHo%4.2f | $tAt%6.2f | $tCp%5.2f | $tLz%6.2f | $tKc%5.2f | $tAa%6.2f")
      evm.unpersist(blocking = true)
    }

    // round-7 session-5: the all-pairs-BFS centrality (users m× in
    // disjoint windows → m independent components, state grows m× not
    // m²), the group stats (one agg each), t-closeness (QI cells fixed,
    // counts m×), Holt–Winters (span-bounded in-row fold), and the doc
    // ops (prefixed vocab keeps candidate pairs/grid linear in m).
    println("mult |   events | closeness | jb | bf | t_clo | hw | qld | rouge | distd | corr")
    sweep("r7g") { m =>
      val ev0 = Tables.events(spark, dir)
      val evm = (if (m == 1) ev0
        else ev0.crossJoin(spark.range(m).toDF("rep"))
          .select((col("event_id") + col("rep") * lit(1000000000L)).as("event_id"),
            expr("timestampadd(DAY, CAST(rep * 40 AS INT), ts)").as("ts"),
            (col("user_id") + col("rep") * lit(1000000L)).as("user_id"),
            col("event_type"),
            (col("value") + col("rep").cast("double") * lit(0.0001)).as("value"),
            col("props")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nEv = evm.count()
      val coact = {
        val ua = evm.select(col("user_id"),
          expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"),
          col("event_type")).distinct()
        val l = ua.toDF("ua", "h", "t"); val r = ua.toDF("ub", "h", "t")
        l.join(r, Seq("h", "t")).where(col("ua") < col("ub"))
          .groupBy(col("ua").as("doc_a"), col("ub").as("doc_b"))
          .agg(count(lit(1)).as("shared"))
          .where(col("shared") >= 4).select("doc_a", "doc_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      coact.count()
      val (tCl, _) = time(mat(ext.Graph.closenessCentrality(coact)))
      coact.unpersist(blocking = false)
      val (tJb, _) = time(mat(ext.Drift.jarqueBera(evm, "event_type", "value")))
      val (tBf, _) = time(mat(ext.Drift.brownForsythe(evm, "event_type", "value")))
      val (tTc, _) = time(mat(ext.Profile.tCloseness(
        evm.select(col("event_type"), hour(col("ts")).as("hr"),
          expr("CAST(ROUND(value * 100) AS BIGINT) div 1000").as("vb"),
          (col("user_id") % 10).as("sens")),
        Seq("event_type", "hr", "vb"), "sens")))
      val (tHw, _) = time(mat(ext.Temporal.holtWintersForecast(evm)))
      val docs = replicated(m)
        .withColumn("source", col("doc_id") % 20)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val qlTerms = if (m == 1) Seq("join", "hash", "scan")
        else Seq("r0_join", "r0_hash", "r0_scan")
      val (tQl, _) = time(mat(ext.Retrieval.queryLikelihood(docs, qlTerms)))
      val cand = ext.Dedup.minhashCandidates(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cand.count()
      val (tRg, _) = time(mat(ext.TextAnalysis.rougePairEval(docs, cand)))
      cand.unpersist(blocking = false)
      val (tDd, _) = time(mat(ext.TextAnalysis.distributionDistances(docs)))
      docs.unpersist(blocking = true)
      val li0 = Tables.lineitem(spark, dir)
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val lim = (if (m == 1) li0
        else li0.crossJoin(spark.range(m).toDF("rep")).drop("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      lim.count()
      val (tCr, _) = time(mat(ext.Profile.corrMatrix(lim,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))))
      lim.unpersist(blocking = true)
      println(f"$m%4d | $nEv%8d | $tCl%9.2f | $tJb%4.2f | $tBf%4.2f | $tTc%5.2f | $tHw%4.2f | $tQl%4.2f | $tRg%5.2f | $tDd%5.2f | $tCr%4.2f")
      evm.unpersist(blocking = true)
    }

    // round-9 hardening legs: the two LM scorers now ride the SHUFFLE
    // join for their n-gram type tables (broadcast hints removed — the
    // leg proves the shuffle path stays linear, not just correct), and
    // the 10-band phash dedup (2.5× the band rows of the old recall-
    // broken 4-band form — the leg shows the banding join stays linear).
    // Replicated docs keep replica vocabs disjoint, so n-gram type
    // tables grow m× and per-replica pair structure is preserved.
    println("mult |     docs | stupid_backoff | kneser_ney | phash_banded")
    sweep("r9") { m =>
      def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
      val docs = replicated(m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = docs.count()
      val isTrain = col("doc_id") % 10 < 8
      val (tSb, _) = time(mat(ext.TextAnalysis.stupidBackoff(docs, isTrain)))
      val (tKn, _) = time(mat(ext.TextAnalysis.knBigramNll(docs, isTrain)))
      val (tPh, _) = time {
        val media = ext.Multimodal.syntheticMedia(spark,
          docs.withColumn("n_chars", length(col("text")).cast("long")))
        mat(ext.Multimodal.phashBandedPairs(ext.Multimodal.mediaPhashes(media)))
      }
      println(f"$m%4d | $nd%8d | $tSb%14.2f | $tKn%10.2f | $tPh%12.2f")
      docs.unpersist(blocking = true)
    }

    // round-9b: the streaming first-wins near-dup gate, run to
    // completion over the replicated corpus in one AvailableNow pass —
    // per-doc cost is the in-row signature (fixed) plus one keyed state
    // touch per band, so wall-clock must track m; state rows equal
    // occupied buckets (≤ bands·docs, fewer under dup collapse).
    println("mult |     docs | neardup_gate | decisions | state_rows")
    sweep("r9b") { m =>
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val rows = replicated(m).as[(Long, String)].collect().toSeq
      val ms = MemoryStream[(Long, String)]
      ms.addData(rows)
      val name = s"scale_neardup_$m"
      var states = -1L
      val (t, nDec) = time {
        val q = streaming.Streams.nearDupGate(ms.toDS().toDF("doc_id", "text"))
          .toDF("doc_id", "band", "owner")
          .writeStream.format("memory").queryName(name).outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        require(q.awaitTermination(600000), s"$name did not terminate")
        states = q.recentProgress.reverse.collectFirst {
          case p if p.stateOperators.nonEmpty =>
            p.stateOperators.head.numRowsTotal
        }.getOrElse(-1L)
        q.stop()
        spark.table(name).count()
      }
      println(f"$m%4d | ${rows.size}%8d | $t%12.2f | $nDec%9d | $states%10d")
    }

    // round-9c: the adamicAdar maxCenterDegree cap, measured — a planted
    // hub of degree 2000·m over a 1000-node background path. Uncapped,
    // the hub alone contributes (2000·m)²/2 wedge rows (quadratic in m);
    // with the cap below the hub degree the wedge join only sees the
    // path's degree-≤2 centers and must stay flat.
    println("mult | hub_deg | aa_capped | aa_uncapped")
    sweep("r9c") { m =>
      def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
      val d = 2000 * m
      val hub = spark.range(1, d + 1)
        .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
      val path = spark.range(1, 1000)
        .select((col("id") + 1000000L).as("doc_a"), (col("id") + 1000001L).as("doc_b"))
      val edges = hub.unionAll(path)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      edges.count()
      val (tCap, _) = time(mat(ext.Graph.adamicAdar(edges, maxCenterDegree = 1024L)))
      val (tFull, _) = time(mat(ext.Graph.adamicAdar(edges, maxCenterDegree = Long.MaxValue)))
      println(f"$m%4d | $d%7d | $tCap%9.2f | $tFull%11.2f")
      edges.unpersist(blocking = true)
    }

    // round-10: the generalized suffix array — the highest-shuffle-count
    // extension op (log2(maxlen/seedLen) global rank sorts after the
    // seed ranking) and the last heavy path without a leg. Replication
    // grows positions m× with per-replica repeat structure intact
    // (disjoint vocabs), so both the prefix-doubling chain and the
    // LCP/neighbor stage must track m · log-ish, never blow up in
    // rounds (the fixpoint stop bounds rounds by content, not size).
    println("mult |     docs |     chars | suffix_ranks | longest_repeats")
    // the per-leg initialPartitionNum override must not leak into the
    // subsequent lda sweep (it would shift its measured shuffle
    // behavior) — capture and restore around the whole r10 sweep
    val priorInitParts =
      spark.conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    try sweep("r10") { m =>
      def mat(df: DataFrame): Long = df.queryExecution.toRdd.count()
      // shuffle granularity must GROW with the input (the knob a real
      // cluster sets): with the static 32, each ×100 sort-merge task
      // sorts ~1.5 GB and 32 of them share one heap — the leg OOM'd.
      // AQE coalesces the fine-grained start back down at small m, so
      // this is free where it isn't needed.
      spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(32, m * 8).toString)
      // replicated() inherits the base parquet's 1-2 input partitions;
      // spread BEFORE the 50x-per-char explode or one task shuffle-writes
      // the entire suffix-seed set solo (observed: a 15-min single-task
      // stage at x100)
      val docs = replicated(m).repartition(math.max(32, m))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nd = docs.count()
      val nc = docs.agg(sum(length(col("text")))).head.getLong(0)
      val sa = ext.SuffixArray.suffixRanks(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (tSa, nSfx) = time(sa.count())
      require(nSfx == nc, s"suffix count $nSfx != char count $nc")
      val (tLr, _) = time(mat(ext.SuffixArray.longestRepeatsOn(sa, docs, 10)))
      println(f"$m%4d | $nd%8d | $nc%9d | $tSa%12.2f | $tLr%15.2f")
      sa.unpersist(blocking = true)
      docs.unpersist(blocking = true)
    } finally priorInitParts match {
      case Some(v) => spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", v)
      case None => spark.conf.unset(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    }

    // word-sharded LDA: vocab AND corpus grow m× together (prefixed
    // replicas), shard count grows with V (SURVEY §7.4 risk 2). Training
    // runs S word-shard passes per iteration; the infer leg folds the
    // corpus in through LdaInfer.infer against the trained driver model
    // and checks token conservation (Σ per-doc averaged topic counts ==
    // corpus tokens).
    println("mult |   tokens |  vocab | shards | train 2it | infer 2it | conserved")
    sweep("lda") { m =>
      val docs = replicated(m)
      val toks = lda.Corpus.tokenize(docs)
      val vocab = lda.Corpus.sortedVocab(toks).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val v = vocab.count().toInt
      val corpus = lda.Corpus.fromTokenIds(
        toks.join(broadcast(vocab), "tok").select("doc_id", "word_id"), 4, 42L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nTok = corpus.rdd.map(_.topics.length.toLong).reduce(_ + _)
      val shards = math.max(2, m / 2)
      val t0 = System.nanoTime()
      val res = lda.LdaTrainer.train(corpus, v,
        lda.LdaConfig(numTopics = 4, alpha = 0.1, beta = 0.01,
          totalIterations = 2, seed = 42L), numShards = shards)
      val t = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val inferred = lda.LdaInfer.infer(corpus, res.model, v,
        lda.LdaConfig(numTopics = 4, alpha = 0.1, beta = 0.01,
          totalIterations = 2, burnInIterations = 0, seed = 43L))
      val tokSum = inferred.rdd.map(_.topics.sum).reduce(_ + _)
      val tInf = (System.nanoTime() - t1) / 1e9
      val conserved = math.abs(tokSum - nTok) / nTok < 1e-9
      assert(conserved, f"token conservation broken: $tokSum%.3f vs $nTok")
      println(f"$m%4d | $nTok%8d | $v%6d | $shards%6d | $t%9.2f | $tInf%9.2f | $conserved")
      res.release()
      corpus.unpersist(blocking = true); vocab.unpersist(blocking = true)
    }
    spark.stop()
  }
}
