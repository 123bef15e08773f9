package graft.ext

import org.apache.spark.HashPartitioner
import org.apache.spark.graftbridge.CheckpointBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Graph operators over pair tables — the natural continuation of
  * [[Dedup.dupClusters]]' connected components: once a candidate-pair
  * graph exists (near-dup edges, citation links, co-occurrence), rank
  * its nodes. */
object Graph {

  /** Partition count of the per-node state of the [[supersteps]] loops
    * — [[bitsetBfs]] (behind [[closenessCentrality]], [[approxCloseness]]
    * and [[bfsLayers]]) and [[kCoreSummary]] — derived from the node
    * count: ~500k nodes per partition, floor 1, cap 8× the cluster's
    * parallelism. Every round's state and message shuffle keeps this
    * count, so left at the session's shuffle default a ~39k-edge fixture
    * graph ran 32–64 tasks per round at ~0.1 CPU-s of FIXED per-task
    * cost each (r16 evlog: kcore spent 54 CPU-s on <1 MB of state, and 8
    * cores beat 32 across the whole family — PERF_r15 scaling ratios
    * 0.41 to 0.58). Volume-derived, so at 100 TB the count grows with
    * the data instead of strangling it. */
  private def stateParts(spark: org.apache.spark.sql.SparkSession,
      rows: Long): Int =
    math.max(1L, math.min(rows / 500000L + 1,
      8L * spark.sparkContext.defaultParallelism)).toInt

  /** The canonical undirected edge set of `pairs`: one (a, b) row per
    * unordered pair, a < b, self-loops dropped. */
  private def edgeSet(pairs: DataFrame): DataFrame =
    pairs.select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") =!= col("b")).distinct()

  /** (v, d): each node's degree in an [[edgeSet]]. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** PageRank over an undirected edge list (doc_a, doc_b), `iters` exact
    * synchronous iterations with damping `d`:
    *   r_0(n)    = 1/N
    *   r_{i+1}(n) = (1−d)/N + d · Σ_{(m,n)∈E} r_i(m)/deg(m)
    * N = nodes appearing in ≥1 edge. Symmetric edges mean every node has
    * in-edges, so no dangling-mass term is needed. Deterministic: fixed
    * iteration count, no convergence test, no RNG.
    *
    * Two regimes, same split as [[Dedup.dupClusters]]: a near-dup pair
    * graph is orders of magnitude smaller than its corpus, so when it
    * fits on the driver (≤ `localThreshold` edges) the whole power
    * iteration runs in primitive arrays — zero shuffles instead of
    * iters×2. Beyond that, the classic Pregel-lite loop: per iteration
    * ONE join of the (degree-annotated) edge list with the rank table
    * and one groupBy(dst) sum with map-side combine; rank generations
    * persist/unpersist in turn, and nothing is ever collected.
    * Output: (doc_id, pr) with pr ROUND(·,4). */
  def pageRank(pairs: DataFrame, iters: Int = 5, d: Double = 0.85,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val pairsL = pairs
      .select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairsL.count()
    val out =
      if (nPairs <= localThreshold) {
        val es = pairsL.as[(Long, Long)].collect()
        val nodes = es.flatMap(p => Array(p._1, p._2)).distinct.sorted
        val idx = nodes.zipWithIndex.toMap
        val n = nodes.length
        val deg = new Array[Double](n)
        es.foreach { case (a, b) => deg(idx(a)) += 1; deg(idx(b)) += 1 }
        var r = Array.fill(n)(1.0 / n)
        (0 until iters).foreach { _ =>
          val next = Array.fill(n)((1 - d) / n)
          es.foreach { case (a, b) =>
            val (ia, ib) = (idx(a), idx(b))
            next(ib) += d * r(ia) / deg(ia)
            next(ia) += d * r(ib) / deg(ib)
          }
          r = next
        }
        spark.createDataset(nodes.indices.map(i => (nodes(i), r(i))))
          .toDF("doc_id", "pr")
          .select(col("doc_id"), graft.functions.StableRound.col4(col("pr")).as("pr"))
      } else pageRankDistributed(pairsL, iters, d)
    pairsL.unpersist(blocking = false)
    out
  }

  /** Triangle census + global clustering coefficient over an undirected
    * pair graph — the "is this near-dup graph clumpy boilerplate or
    * chains of borderline pairs" diagnostic (high GCC ⇒ dense mirror
    * clusters; low ⇒ threshold noise). Edges canonicalize to a < b, so
    * each triangle materializes exactly once as an ordered (a<b<c) path
    * closed by a third edge: one self-equi-join for the wedges, one more
    * equi-join to close them — never an all-pairs step, per-node cost
    * O(deg²) like every triangle counter. Wedge count Σ d·(d−1)/2 and
    * the census stay in exact integers; GCC = 3·Δ/wedges is the single
    * double. Callers joining a cached pair table (the query reuses the
    * shared minhash candidates) pay zero extra scans.
    * Output (one row): n_edges, n_wedges, n_triangles, gcc. */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val e = edgeSet(pairs)
    val deg = degrees(e)
    val wedges = deg.agg(expr("sum(d * (d - 1)) div 2").as("n_wedges"))
    val e2 = e.toDF("b2", "c")
    val e3 = e.toDF("a3", "c3")
    val tri = e.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast("double") / col("n_wedges"), 4))
          .as("gcc"))
  }

  /** The scale path: synchronous power iteration as join+aggregate
    * rounds (see [[pageRank]]). */
  def pageRankDistributed(pairs: DataFrame, iters: Int, d: Double): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val n = deg.count()
    var ranks = deg.select(col("src").as("id"), lit(1.0 / n).as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deged = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (0 until iters).foreach { _ =>
      val next = deged.join(ranks.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("deg")).as("m"))
        .select(col("id"), (lit((1 - d) / n) + lit(d) * col("m")).as("r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before dropping the parent generation
      ranks.unpersist(blocking = false)
      ranks = next
    }
    edges.unpersist(blocking = false)
    deged.unpersist(blocking = false)
    val out = ranks.select(col("id").as("doc_id"),
        graft.functions.StableRound.col4(col("r")).as("pr"))
      .localCheckpoint(true)
    ranks.unpersist(blocking = false)
    out
  }

  /** Degree distribution + Hill power-law exponent of the pair graph —
    * "is this near-dup graph scale-free hubs or uniform noise": the
    * histogram is (degree, node count) over exact integers, and α =
    * 1 + N/Σln(dᵥ) (Hill MLE at dmin = 1) folds Σ c_d·ln d over the
    * FEW distinct degree values in degree order — lns of exact
    * integers, engine-identical association. NULL α when every node
    * has degree 1 (Σ = 0: no tail to fit). Output: one row per degree
    * with n_nodes and the α rider. */
  def degreeDistribution(pairs: DataFrame): DataFrame = {
    val e = edgeSet(pairs)
    val deg = degrees(e).toDF("v", "degree")
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    val alpha = hist.agg(
        sum(col("n_nodes")).as("nn"),
        aggregate(sort_array(collect_list(struct(col("degree"), col("n_nodes")))),
          lit(0.0), (a, x) => a + x.getField("n_nodes").cast("double")
            * log(x.getField("degree").cast("double"))).as("slnd"))
      .select(when(col("slnd") > 0.0,
        round(lit(1.0) + col("nn").cast("double") / col("slnd"), 4)).as("alpha"))
    hist.crossJoin(broadcast(alpha)).orderBy("degree")
  }

  /** Degree ASSORTATIVITY of the pair graph (Newman 2002): Pearson r of
    * endpoint degrees over all directed edge stubs — positive means
    * hubs pair with hubs (mirror farms), negative means hubs bridge
    * leaves (template + variations). Every moment (M, Σx, Σxy, Σx²…)
    * is an exact 64-bit integer off one edge⋈degree join, so both
    * engines divide identical numerators; NULL when degenerate (all
    * degrees equal). Output: one row (n_edges, r). */
  def assortativity(pairs: DataFrame): DataFrame = {
    val e = edgeSet(pairs)
    val deg = degrees(e)
    val stubs = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .join(deg.toDF("src", "dx"), "src")
      .join(deg.toDF("dst", "dy"), "dst")
    val m = stubs.agg(count(lit(1)).as("m"),
      sum("dx").as("sx"), sum("dy").as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val num = (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (col("m") * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(expr("m div 2").as("n_edges"),
      when(dx > 0.0 && dy > 0.0, round(num / (sqrt(dx) * sqrt(dy)), 4)).as("r"))
  }

  /** Conductance of each connected component of the pair graph —
    * "is this dup cluster a sealed mirror farm (φ = 0) or does it bleed
    * borderline edges into the rest of the graph": φ(C) = cut(C) /
    * min(vol(C), vol(V∖C)). Components with no external edges (the
    * common case for true dup clusters — they ARE the components, so
    * cut ≡ 0 here by construction) make this the degenerate-but-honest
    * audit that the labeling is consistent; feed it labels from a
    * COARSER grouping (e.g. source or band buckets) to measure real
    * leakage. All counts exact integers off one edge⋈label join; one
    * division. `labels` must be (doc_id, cluster). */
  def clusterConductance(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val e = edgeSet(pairs)
    val el = e
      .join(labels.toDF("a", "la"), "a")
      .join(labels.toDF("b", "lb"), "b")
    val deg = degrees(e)
    val vol = labels.toDF("v", "cluster").join(deg, "v")
      .groupBy("cluster").agg(count(lit(1)).as("n_nodes"), sum("d").as("vol"))
    val volAll = e.agg((count(lit(1)) * 2).as("vol_all"))
    val cut = el.where(col("la") =!= col("lb"))
      .select(explode(array(col("la"), col("lb"))).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("cut"))
    vol.join(cut, Seq("cluster"), "left")
      .withColumn("cut", coalesce(col("cut"), lit(0L)))
      .crossJoin(broadcast(volAll))
      .withColumn("mn", least(col("vol"), col("vol_all") - col("vol")))
      .select(col("cluster"), col("n_nodes"), col("vol"), col("cut"),
        when(col("mn") > 0,
          round(col("cut").cast("double") / col("mn").cast("double"), 4))
          .as("phi"))
      .orderBy("cluster")
  }

  /** Per-node LOCAL clustering coefficient — the node-level refinement of
    * [[triangleStats]]' global census: lcc(v) = 2·Δ(v)/(d(v)·(d(v)−1)),
    * the fraction of v's neighbor pairs that are themselves connected
    * (1.0 ⇒ v sits inside a clique — a mirror cluster; ~0 ⇒ v is a hub of
    * otherwise-unrelated near-dup pairs, the "template glues everything"
    * smell). Same ordered-path closure as the census — each triangle
    * materializes ONCE as (a<b<c) and credits its three corners via an
    * in-row explode, so per-node cost stays O(deg²), never all-pairs.
    * Counts are exact integers; lcc is one division. Nodes with d < 2 are
    * excluded (coefficient undefined). Output: (v, degree, n_tri, lcc). */
  def localClustering(pairs: DataFrame): DataFrame = {
    val e = edgeSet(pairs)
    val deg = degrees(e).toDF("v", "degree")
    val e2 = e.toDF("b2", "c")
    val e3 = e.toDF("a3", "c3")
    val tris = e.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"), "left_semi")
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.where(col("degree") >= 2)
      .join(tris, Seq("v"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .select(col("v"), col("degree"), col("n_tri"),
        round(lit(2.0) * col("n_tri").cast("double")
          / (col("degree") * (col("degree") - 1)).cast("double"), 4).as("lcc"))
      .orderBy("v")
  }

  /** Adamic–Adar link prediction over an undirected pair graph: for
    * every NON-adjacent pair (x, y) sharing ≥1 common neighbor,
    * score(x,y) = Σ_z 1/ln(deg(z)) over the shared neighbors z — the
    * classic "which near-dup edges did banding miss" / "which docs
    * will merge next" ranking. Top-k by (rounded score, x, y).
    *
    * Scale shape: one neighbor-keyed self-join for the wedges (per-node
    * cost O(deg²), the triangle counter's shape), one anti-join against
    * the existing edges, one rollup. `maxCenterDegree` drops
    * super-hub centers BEFORE the wedge self-join (their 1/ln(deg)
    * contribution is the smallest and their deg² fan-out the largest —
    * the standard AA truncation): one hub at degree d costs d² wedge
    * rows, so an unbounded default turns a single celebrity node into a
    * quadratic blowup. The default (65536 ⇒ ≤4.3e9 wedges per center)
    * is far above any fixture degree, so the battery caps nothing; when
    * the cap DOES fire a WARN log reports how many centers were
    * excluded, so default-parameter users on hub-heavy graphs can see
    * that scores were truncated rather than silently differ.
    *
    * Determinism: contributions are grouped by EXACT integer degree and
    * the per-pair sum folds cnt/ln(deg) in ascending-degree order, so
    * both engines associate the same doubles identically. */
  def adamicAdar(pairs: DataFrame, topK: Int = 20,
      maxCenterDegree: Long = 65536L): DataFrame = {
    val e = edgeSet(pairs)
    // ONE pinned exchange on v serves the whole head of the op: the
    // degree rollup aggregates in place on it (hash(v) satisfies the
    // groupBy's clustering), the center semi-join is co-partitioned
    // against the degree table derived from the same exchange, and the
    // wedge self-join below reads the co-partitioned semi output — the
    // r16 evlog showed the previous form paying a separate agg exchange
    // plus a re-pin after the semi join, each its own AQE stage job.
    val adj = graft.ext.Dedup.pinnedByKey(
      e.select(col("a").as("v"), col("b").as("n"))
        .unionAll(e.select(col("b").as("v"), col("a").as("n"))),
      col("v"))
    // the degree table feeds the cap-truncation count, the center
    // filter AND the scoring join — persist it so the adj aggregation
    // runs once, not once per consumer; the op's output is topK-BOUNDED,
    // so the plan is materialized below and the cache released in
    // `finally` rather than leaking for the session lifetime
    val degAll = adj.groupBy("v").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the cap SILENTLY changes scores for hub-mediated pairs, so make
      // the truncation observable: one linear count over the CACHED
      // degree table (tiny next to the wedge join it bounds; this is
      // also the action that materializes the cache), warned when it
      // fires
      val capped = degAll.where(col("deg") > maxCenterDegree).count()
      if (capped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"adamicAdar: $capped center(s) exceed maxCenterDegree=" +
            s"$maxCenterDegree and are excluded from wedge mediation; " +
            "hub-mediated pair scores are truncated (raise the cap to " +
            "include them at O(deg^2) wedge cost per hub)")
      val deg = degAll.where(col("deg") <= maxCenterDegree)
      // cap the CENTERS before the self-join: the wedge fan-out is what
      // maxCenterDegree exists to bound, not just the final scoring join.
      // adj is already pinned on v and deg derives from that same
      // exchange, so the semi join and the z = z2 wedge self-join are
      // both co-partitioned on it — the CPU-dense deg² expansion keeps
      // the pinned parallelism with no further shuffle.
      val adjC = adj.join(deg.select("v"), Seq("v"), "left_semi")
      val l = adjC.toDF("z", "x")
      val r = adjC.toDF("z2", "y")
      val wedges = l.join(r, col("z") === col("z2") && col("x") < col("y"))
        .select(col("x"), col("y"), col("z"))
      val open = wedges.join(e,
        wedges("x") === e("a") && wedges("y") === e("b"), "left_anti")
      // ONE pair-keyed exchange serves the whole scoring tail: hash(x, y)
      // clusters (x, y, deg) for the rollup, the deg-ordered window AND
      // the final per-pair max — the previous form exchanged on
      // (x, y, deg) for the rollup and again on (x, y) for the window
      // (evlog: 23 + 27 MB shuffles, each its own AQE stage job), and the
      // rollup barely reduced anyway (2.18 M wedges → 2.15 M groups).
      val byDeg = open.join(deg, open("z") === deg("v"))
        .select(col("x"), col("y"), col("deg"))
        .repartition(col("x"), col("y"))
        .groupBy("x", "y", "deg").agg(count(lit(1)).as("cnt"))
      // ascending-degree left fold via a FULL-FRAME window sum: an
      // UnboundedPreceding..UnboundedFollowing frame accumulates rows
      // sequentially in sort order, so sum(c) ordered by deg is the
      // exact IEEE fold the previous collect_list+sort_array+aggregate
      // form computed (deg is unique per (x,y) group after the rollup,
      // and every term is > 0 so the 0.0 seed is exact) — but it runs
      // as a Tungsten sort + linear pass instead of ObjectHashAggregate
      // building and sorting a per-group object array (the entry's
      // hottest aggregate in the r15 thread dumps)
      val wDeg = org.apache.spark.sql.expressions.Window
        .partitionBy("x", "y").orderBy("deg")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val scored = byDeg
        .withColumn("score",
          sum(col("cnt").cast("double") / log(col("deg").cast("double")))
            .over(wDeg))
        .groupBy("x", "y").agg(max(col("score")).as("score"))
        .select(col("x").as("doc_a"), col("y").as("doc_b"),
          round(col("score"), 4).as("aa"))
      val top = scored.orderBy(col("aa").desc, col("doc_a"), col("doc_b"))
        .limit(topK)
      top.sparkSession.createDataFrame(
        java.util.Arrays.asList(top.collect(): _*), top.schema)
    } finally degAll.unpersist(blocking = false)
  }

  /** BFS distance layers from a source node over an undirected pair
    * graph — "how far does influence/contamination spread" in hops:
    * [[bitsetBfs]] with the source as its one source (W = 1 word per
    * node). The bit first reaches a node at its distance d, so each
    * node's own fold is its layer (`ecc`), and any other node the bit
    * never reaches is unreached. Pure integer set computation. THROWS if
    * the frontier outlives `maxDepth` (the oracle unrolls exactly
    * `maxDepth` rounds — same contract as [[kCoreSummary]]). The default
    * source is the graph's MINIMUM node id (deterministic); a source
    * that is no node of the graph is still its own layer 0. Output:
    * (dist, n_nodes) histogram, plus a dist = −1 row counting nodes
    * unreached from the source. */
  def bfsLayers(pairs: DataFrame, source: Option[Long] = None,
      maxDepth: Int = 8): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val arcs = undirectedArcs(pairs)
    // one job yields the node count that sizes the state AND the
    // default source
    val (n, minV) = arcs.keys.distinct().aggregate((0L, Long.MaxValue))(
      (a, v) => (a._1 + 1, math.min(a._2, v)),
      (a, b) => (a._1 + b._1, math.min(a._2, b._2)))
    val src = source.getOrElse {
      require(n > 0, "bfsLayers: a graph without edges has no default source")
      minV
    }
    val state = bitsetBfs(spark, arcs, n, Array(src), maxDepth)
    val layers = try state.map { case (v, s) =>
        if (v == src) 0 else if (s.reached > 0) s.ecc else -1 }.countByValue()
      finally CheckpointBridge.drop(state)
    // the source is layer 0 whether or not it is a node
    spark.createDataset((layers.toMap + (0 -> 1L)).toSeq.sorted)
      .toDF("dist", "n_nodes").orderBy("dist")
  }

  /** One node of [[kCoreSummary]]'s peel: its deduped neighbours, its
    * live degree (the number of them still alive) and whether it is
    * alive itself. */
  private final case class CoreNode(nbrs: Array[Long], deg: Int, alive: Boolean)

  /** k-core decomposition summary — iterative peeling: repeatedly drop
    * nodes of degree &lt; k until a fixpoint; what survives is the
    * k-core, the standard "dense nucleus vs peripheral fuzz" cut of a
    * candidate/link graph (a near-dup cluster's core survives k=3;
    * chains of borderline pairs don't). Pure integer set computation —
    * no floats anywhere, so the result is trivially engine-exact.
    *
    * Scale shape: the [[supersteps]] loop over one node state
    * ([[CoreNode]]) per node. A round kills the alive nodes whose live
    * degree is below k; each sends a 1 to every neighbour, the 1s are
    * summed by `reduceByKey` on the state's partitioner and subtracted
    * through a narrow `leftOuterJoin`. The round's one job sums the
    * alive nodes' live degrees: the surviving edge set is exactly the
    * edges between alive nodes, so that sum is twice its size, and the
    * edge count per round is the one the edge-peeling oracle sees.
    * Rounds to fixpoint are ≤ the graph's degeneracy-peeling depth —
    * small for real graphs; `maxRounds` caps the loop and the operator
    * THROWS if the fixpoint isn't reached (the oracle unrolls exactly
    * `maxRounds` rounds, so a non-converged result would be silently
    * wrong — fail loudly instead). k-cores are nested, so each k peels
    * on from the previous k's survivors. Output per k: (k, n_nodes,
    * n_edges) of the surviving core. */
  def kCoreSummary(pairs: DataFrame, ks: Seq[Int] = Seq(2, 3, 4),
      maxRounds: Int = 8): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val arcs = undirectedArcs(pairs)
    // one job counts the nodes (sizing the state) and sums their degrees
    val (nodes, degSum) = arcs.distinct().mapValues(_ => 1L).reduceByKey(_ + _)
      .values.aggregate((0L, 0L))((a, d) => (a._1 + 1, a._2 + d),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    var state = nodeStates(spark, arcs, nodes)((_, ns) => CoreNode(ns, ns.length, true))
    // a state's (n_edges, n_nodes): alive nodes with live degree > 0
    def measure(s: RDD[(Long, CoreNode)]): (Long, Long) = {
      val (d, v) = s.values.filter(_.alive).aggregate((0L, 0L))(
        (a, c) => (a._1 + c.deg, a._2 + (if (c.deg > 0) 1 else 0)),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      (d / 2, v)
    }
    var m = (degSum / 2, nodes)
    val rows = ks.sorted.map { k =>
      val (next, mk) = supersteps(state, (-1L, 0L), m, maxRounds,
          s"k-core peeling not converged within $maxRounds rounds (k=$k)")(
          { case ((prevN, _), (n, _)) => n != prevN && n > 0 }) { (s, _) =>
        val part = s.partitioner.get
        val lost = s
          .flatMap { case (_, c) =>
            if (c.alive && c.deg < k) c.nbrs.iterator.map(_ -> 1) else Iterator.empty }
          .reduceByKey(part, _ + _)
        s.leftOuterJoin(lost, part).mapValues { case (c, l) =>
          CoreNode(c.nbrs, c.deg - l.getOrElse(0), c.alive && c.deg >= k) }
      }(measure)
      state = next; m = mk
      (k, m._2, m._1)
    }
    CheckpointBridge.drop(state)
    spark.createDataset(rows).toDF("k", "n_nodes", "n_edges").orderBy("k")
  }

  /** Node budget for [[inducedSlice]] as used by the exact-closeness
    * battery entry: the largest V whose all-pairs BFS oracle stays
    * comfortably feasible in DuckDB. The binding quantity is the
    * chain's tuple EXPANSION — sources × 2·E_slice per unrolled round,
    * and E_slice shrinks ~quadratically with the node budget on a dense
    * graph — sized from the sf1
    * measurements: the r12 unsliced V = 14.5k chain expands
    * sources x 2E ~ 11e9 tuples (>78 GB of DuckDB spill); the 2048
    * slice keeps ~7.2k induced edges, an ~30M-tuple chain. (The first
    * slice attempts appeared to spill at ANY budget — that was the
    * un-MATERIALIZED slice CTEs being inlined into the expensive
    * co-activity join several times, not the chain.) 2048 stays a
    * no-op at the sf0.1 fixture (V ~ 1.4k) and binds above it. The
    * battery oracle interpolates THIS constant (the GridMaxSpanHours
    * drift-proofing pattern). */
  val ClosenessSliceNodes = 2048

  /** Deterministic md5-sampled induced subgraph: keep the `maxNodes`
    * hash-smallest nodes (order = md5(tag ‖ id) then id — both engines
    * hash the same string, so the sample is replayable in SQL) and the
    * edges with BOTH endpoints kept. A no-op when the graph has ≤
    * `maxNodes` nodes. This is the bounded-analysis companion to the
    * V-quadratic exact ops ([[closenessCentrality]]'s all-pairs BFS):
    * the slice pins the exact computation at a fixed V at ANY corpus
    * scale, while [[approxCloseness]] remains the unbounded-V estimate.
    * Shape: one distinct over edge endpoints, a maxNodes-row TakeOrdered
    * (never a global sort materialized), two broadcast semi-joins. */
  def inducedSlice(pairs: DataFrame, maxNodes: Int = ClosenessSliceNodes,
      tag: String = "cslice"): DataFrame = {
    require(maxNodes >= 2, s"maxNodes must be >= 2, got $maxNodes")
    val spark = pairs.sparkSession
    // Short-circuit when the graph already fits the node budget: the
    // slice would keep every node (identical output — the oracle's
    // LIMIT-maxNodes slice is equally a no-op, so hashes can't move),
    // and skipping it spares every downstream scan the md5 TakeOrdered
    // + two broadcast semi-joins of preamble. One count over the
    // distinct endpoint set — the r13 battery measured that preamble
    // doubling ext_closeness (4.55 → 9.0 s) at exactly the scales where
    // the slice does nothing. The endpoint set is PERSISTED around the
    // count so that when the slice BINDS, the count job and the keep-set
    // TakeOrdered share one evaluation of the (potentially expensive)
    // `pairs` plan instead of running it twice; `keep` is then collected
    // (≤ maxNodes rows — the same bounded-driver-structure class as a
    // k-means centroid pull) so nothing downstream holds a lineage into
    // the unpersisted set.
    val nodes = pairs.select(col("doc_a").as("v"))
      .union(pairs.select(col("doc_b").as("v"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (nodes.count() <= maxNodes) return pairs
      val keepRows = nodes
        .orderBy(md5(concat(lit(tag), col("v").cast("string"))), col("v"))
        .limit(maxNodes)
        .collect()
      val keep = spark.createDataFrame(
        java.util.Arrays.asList(keepRows: _*), nodes.schema)
      pairs
        .join(broadcast(keep.select(col("v").as("doc_a"))), Seq("doc_a"), "left_semi")
        .join(broadcast(keep.select(col("v").as("doc_b"))), Seq("doc_b"), "left_semi")
        .select(pairs.columns.map(col): _*) // USING-joins moved keys first
    } finally nodes.unpersist()
  }

  /** Closeness + harmonic centrality per node by ALL-PAIRS BFS — who
    * sits nearest the middle of the co-activity graph (the influence /
    * hub readout next to [[pageRank]]'s flow-based one). Distances are
    * exact integers (unweighted layered BFS); eccentricity rides along
    * (its max over nodes = the component diameter).
    *
    * Every node is a source of [[bitsetBfs]], and undirected distance is
    * symmetric: the sources whose bits first reach v at depth d are
    * exactly the nodes at distance d FROM v. So each node's own fold is
    * its distance histogram — n_reached = Σ p_d, sum_dist = Σ d·p_d,
    * ecc = the last d with p_d > 0, harmonic = Σ p_d/d added in depth
    * order (disconnected components cost 0 there instead of ∞; a depth
    * with p_d = 0 would add an exact +0.0, so the sum is bit-identical
    * to the oracle's distance-ordered fold) — and no (source, node) row
    * is ever produced. closeness = n_reached/sum_dist is one division
    * of exact longs. The V·V/64-word bitset state is the V²-bounded
    * part — guarded at 16k nodes; an EVAL op for bounded entity graphs
    * (users, domains, sources), not a billion-node pipeline stage;
    * [[approxCloseness]] is the unbounded-V variant. THROWS if a
    * frontier outlives `maxDepth` (the oracle unrolls exactly that many
    * rounds). */
  def closenessCentrality(pairs: DataFrame, maxDepth: Int = 8): DataFrame = {
    val spark = pairs.sparkSession
    val arcs = undirectedArcs(pairs)
    val ids = arcs.keys.distinct().collect()
    require(ids.length <= 16384,
      s"bitset all-pairs BFS bounded at 16384 nodes, got ${ids.length}")
    // an explicit schema pins each column's nullability, which is part
    // of the written parquet bytes
    spark.createDataFrame(bitsetBfs(spark, arcs, ids.length, ids, maxDepth)
        .map { case (v, s) => Row(v, s.reached, s.ecc, s.sumDist, s.harmonic) },
        StructType.fromDDL("user_id BIGINT NOT NULL, n_reached BIGINT, ecc INT, " +
          "sum_dist BIGINT, harmonic DOUBLE"))
      .select(col("user_id"), col("n_reached"), col("ecc"), col("sum_dist"),
        when(col("sum_dist") > 0,
          round(col("n_reached").cast("double")
            / col("sum_dist").cast("double"), 4)).as("closeness"),
        round(col("harmonic"), 4).as("harmonic"))
      .orderBy("user_id")
  }

  /** `pairs` as arcs in both directions; self-loops and null endpoints
    * dropped (duplicates stay — [[bitsetBfs]] dedupes each node's
    * neighbours). */
  private def undirectedArcs(pairs: DataFrame): RDD[(Long, Long)] = {
    import pairs.sparkSession.implicits._
    pairs.select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .as[(Long, Long)].rdd
      .flatMap(e => Iterator(e, e.swap))
  }

  /** One node of [[bitsetBfs]]: its deduped neighbours, the source bits
    * it has seen and those first seen in the last round (empty when
    * none), and its fold over the p_d sources first reaching it at each
    * depth d: reached = Σ p_d, sumDist = Σ d·p_d, ecc = the last d with
    * p_d > 0, harmonic = Σ p_d/d in depth order. */
  private final case class BfsNode(nbrs: Array[Long], seen: Array[Long],
      fresh: Array[Long], reached: Long, sumDist: Long, ecc: Int,
      harmonic: Double)

  /** The initial state of a [[supersteps]] loop: `init` of each node of
    * `arcs` and its deduped neighbours, built by ONE `groupByKey` on a
    * [[stateParts]]-sized HashPartitioner that every round's state keeps
    * (rounds read it back from `partitioner`). */
  private def nodeStates[S](spark: org.apache.spark.sql.SparkSession,
      arcs: RDD[(Long, Long)], nodes: Long)(
      init: (Long, Array[Long]) => S): RDD[(Long, S)] =
    arcs.groupByKey(new HashPartitioner(stateParts(spark, nodes)))
      .mapPartitions(_.map { case (v, ns) => v -> init(v, ns.toArray.distinct) },
        preservesPartitioning = true)

  /** The superstep loop (Pregel, Malewicz et al., SIGMOD 2010) of
    * [[bitsetBfs]] and [[kCoreSummary]]. From `state`, whose measure is
    * `m` (and its predecessor's `before`), it runs rounds while
    * `more(before, m)` holds and fewer than `maxRounds` have run: round
    * r (from 1) builds the next state, which is `localCheckpoint`ed and
    * materialized by ONE job, `measure`, whose result is its measure;
    * then the previous state's blocks are dropped. THROWS `failure` if
    * `more` still holds after `maxRounds` (the oracles unroll exactly
    * that many rounds). A throw drops every state the loop holds, the
    * given one included; otherwise the final state and its measure are
    * returned, the state cached (its blocks die with the caller's
    * reference or a [[CheckpointBridge]] drop). */
  private def supersteps[S, M](state: RDD[(Long, S)], before: M, m: M,
      maxRounds: Int, failure: => String)(more: (M, M) => Boolean)(
      round: (RDD[(Long, S)], Int) => RDD[(Long, S)])(
      measure: RDD[(Long, S)] => M): (RDD[(Long, S)], M) = {
    var live = List(state) // newest first: the state, and the one being built
    var (prev, cur, r) = (before, m, 0)
    try {
      while (more(prev, cur) && r < maxRounds) {
        r += 1
        live = round(live.head, r).localCheckpoint() :: live
        prev = cur
        cur = measure(live.head)
        live.tail.foreach(CheckpointBridge.drop)
        live = live.take(1)
      }
      require(!more(prev, cur), failure)
      (live.head, cur)
    } catch { case t: Throwable => live.foreach(CheckpointBridge.drop); throw t }
  }

  /** BITSET multi-source BFS as a [[supersteps]] loop shared by
    * [[closenessCentrality]] (sources = all nodes), [[approxCloseness]]
    * (sources = k sampled pivots) and [[bfsLayers]] (one source): 64
    * sources per long word, W = ⌈S/64⌉ words per node, the per-node
    * state ([[BfsNode]]) built by [[nodeStates]]. A round: every node
    * with fresh bits sends them to its neighbours (`reduceByKey` ORs
    * them on the state's partitioner), a narrow `leftOuterJoin` keeps
    * the bits each node had not seen, and with p = their popcount at
    * depth d the node adds p to its fold; the round's one job counts the
    * nodes with fresh bits. Cost is ≈ diameter·2E W-word ORs; state is
    * V·W longs — LINEAR in V for a fixed source count, quadratic only
    * when every node is a source (the caller's guard). THROWS if a
    * frontier outlives `maxDepth` (oracles unroll exactly that many
    * rounds). Returns the final state, one row per node of `arcs`,
    * `localCheckpoint`ed (its blocks die with the caller's reference). */
  private def bitsetBfs(spark: org.apache.spark.sql.SparkSession,
      arcs: RDD[(Long, Long)], nodes: Long, sources: Array[Long],
      maxDepth: Int): RDD[(Long, BfsNode)] = {
    val W = (sources.length + 63) / 64
    val srcIdx = sources.sorted
    val none = Array.emptyLongArray
    // a source's bit is its index in `srcIdx`; every node starts with
    // its own bit (zeros if it is no source) seen and fresh
    val init = nodeStates(spark, arcs, nodes) { (v, ns) =>
      val bits = new Array[Long](W)
      val si = java.util.Arrays.binarySearch(srcIdx, v)
      if (si >= 0) bits(si / 64) = 1L << (si % 64)
      BfsNode(ns, bits, if (si >= 0) bits else none, 0L, 0L, 0, 0.0)
    }
    // the sources are the first frontier: a round runs even if none is a node
    supersteps(init, 0L, 1L, maxDepth,
        s"BFS frontier still expanding at maxDepth=$maxDepth")(
        (_, freshN) => freshN > 0) { (state, d) =>
      val part = state.partitioner.get
      val msgs = state
        .flatMap { case (_, s) =>
          if (s.fresh.isEmpty) Iterator.empty else s.nbrs.iterator.map(_ -> s.fresh) }
        .reduceByKey(part, (a, b) => Array.tabulate(W)(i => a(i) | b(i)))
      state.leftOuterJoin(msgs, part).mapValues {
        case (s, Some(m)) =>
          val nb = Array.tabulate(W)(i => m(i) & ~s.seen(i))
          val p = nb.map(java.lang.Long.bitCount).sum
          if (p == 0) s.copy(fresh = none)
          else BfsNode(s.nbrs, Array.tabulate(W)(i => s.seen(i) | nb(i)), nb,
            s.reached + p, s.sumDist + p.toLong * d, d, s.harmonic + p.toDouble / d)
        case (s, None) => if (s.fresh.isEmpty) s else s.copy(fresh = none)
      }
    }(_.filter(_._2.fresh.nonEmpty).count())._1
  }

  /** Sampled-pivot closeness (Eppstein–Wang, "Fast approximation of
    * centrality", SODA 2001) — the UNBOUNDED-graph variant of
    * [[closenessCentrality]]: BFS from k deterministic sampled pivots
    * instead of all V sources, state k·V/64 longs (linear in V), so it
    * runs where the exact op's V ≤ 16384 contract throws. Estimator:
    * with S(v) = Σ d(pivot, v) over the r(v) pivots that reach v at
    * d > 0, ĉ(v) = r(v)·(n−1) / (n·S(v)) — the EW inverse-average-
    * distance estimate, generalized to disconnected graphs by averaging
    * over REACHED pivots only; error is O(1/√k)·diameter w.h.p.
    * (their Hoeffding bound). On a connected graph E[ĉ] ≈
    * closeness·(n−1)/n — rankings agree with the exact op
    * (spec: GraphSpec). The pivots whose bits first reach v at depth d
    * of [[bitsetBfs]] are exactly those at distance d from v, so r(v)
    * and S(v) are v's own fold: its reached count and distance sum.
    *
    * Determinism (cross-engine): pivots are the k smallest
    * md5("ccap" ‖ v) — a seedless uniform hash both engines compute
    * identically; numerator r·(n−1) and denominator n·S are exact
    * longs, one double division, ROUND 4. Output: (user_id, k_reached,
    * sum_dist, closeness_hat) for every node some pivot reaches. */
  def approxCloseness(pairs: DataFrame, numPivots: Int = 64,
      maxDepth: Int = 8): DataFrame = {
    require(numPivots >= 1 && numPivots <= 4096,
      s"1 <= numPivots <= 4096 (state is numPivots*V/64 longs), got $numPivots")
    val spark = pairs.sparkSession
    import spark.implicits._
    val arcs = undirectedArcs(pairs)
    val nodes = arcs.keys.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the finally drops the node cache when the count or the pivot
    // collect fails, or it would stay cached for the session's lifetime
    val (n, pivots) = try {
      // k smallest hash values via TakeOrdered (never a global sort),
      // a k-bounded collect
      (nodes.count(), nodes.toDF("v")
        .select(col("v"), md5(concat(lit("ccap"), col("v").cast("string"))).as("h"))
        .orderBy("h", "v").limit(numPivots)
        .collect().map(_.getLong(0)))
    } finally nodes.unpersist(blocking = false)
    spark.createDataFrame(bitsetBfs(spark, arcs, n, pivots, maxDepth)
        .flatMap { case (v, s) =>
          if (s.reached > 0) Iterator(Row(v, s.reached, s.sumDist)) else Iterator.empty },
        StructType.fromDDL("user_id BIGINT, k_reached BIGINT NOT NULL, sum_dist BIGINT"))
      .select(col("user_id"), col("k_reached"), col("sum_dist"),
        round((col("k_reached") * lit(n - 1)).cast("double")
          / (col("sum_dist") * lit(n)).cast("double"), 4).as("closeness_hat"))
      .orderBy("user_id")
  }
}
