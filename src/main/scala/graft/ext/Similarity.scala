package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`), extension
  * surface of SURVEY.md §2.4.
  *
  * Baseline: brute-force cosine top-k (exact; broadcast the query side).
  * Scale path: random-hyperplane LSH — seeded, deterministic planes;
  * candidates only within matching buckets. Both UDF-free: the dot product
  * is `zip_with` + `aggregate` (codegen'd higher-order functions).
  */
object Similarity {

  /** Dot product of two double-array columns — the native codegen'd
    * expression ([[graft.functions.DotProduct]]). Bit-identical to the
    * previous `aggregate(zip_with(...))` HOF form (same summation order)
    * but runs inside whole-stage codegen instead of the interpreted
    * per-element lambda evaluator. */
  def dot(x: Column, y: Column): Column =
    graft.functions.DotProduct.dotNative(x, y)

  def norm(x: Column): Column = sqrt(dot(x, x))

  def cosine(x: Column, y: Column): Column = dot(x, y) / (norm(x) * norm(y))

  /** Cast float embeddings to double before arithmetic (FIXTURES §D.2). */
  def asDouble(e: Column): Column = e.cast("array<double>")

  /** Sign-matrix random projection (Achlioptas 2003 / JL lemma): project
    * d-dim embeddings to k dims with R[j][i] = ±1 drawn from the PARITY
    * OF md5("rp:i:j") — no RNG object, so the projection matrix is a
    * pure function of (i, j) that Spark, DuckDB, and any re-run derive
    * identically: the oracle replays the whole reduction bit-for-bit.
    * y_j = (Σ_i x_i·R[j][i]) / √k preserves pairwise distances within
    * (1±ε) for k = O(log n / ε²) — the standard cheap pre-step before
    * LSH/clustering when d is large.
    *
    * Plan shape: the k×d sign matrix folds in as a LITERAL array-of-
    * arrays (kilobytes), each vector explodes to its k output rows, and
    * the fold over d runs in-row — a pure map, ZERO exchanges before the
    * caller's own ordering. Long-form output (vec_id, j, y) keeps array
    * columns out of battery results. Summation order is ascending i on
    * both engines (left fold / list order), so values agree exactly. */
  def randomProjection(embeddings: DataFrame, k: Int = 16,
      dim: Int = 64, salt: String = "rp"): DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val h = md.digest(s"$salt:$i:$j".getBytes("UTF-8"))
      // first hex digit < '8' ⟺ top bit of byte 0 is clear — p = 1/2
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    }
    val signs = array((0 until k).map(j =>
      array((0 until dim).map(i => lit(sign(i, j))): _*)): _*)
    Dedup.spreadForCompute(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .withColumn("sm", signs)
      .select(col("vec_id"), col("e"), col("sm"),
        explode(expr(s"sequence(0, ${k - 1})")).as("j"))
      .select(col("vec_id"), col("j"),
        round(dot(col("e"), element_at(col("sm"), col("j") + 1))
          / math.sqrt(k.toDouble), 4).as("y"))
  }

  /** (vec_id, e, n): embeddings as doubles with the norm precomputed ONCE
    * per vector — pair ops then do a single dot product instead of three.
    * cos = dot(a,b)/(na·nb) is the same IEEE expression as the oracle's
    * dot/(sqrt(dot aa)·sqrt(dot bb)), just with the sqrt hoisted, so the
    * values stay bit-identical. */
  private def withNorm(embeddings: DataFrame): DataFrame =
    Dedup.spreadForCompute(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .withColumn("n", norm(col("e")))

  /** Ceiling for the exact brute-pairwise EVAL harnesses
    * ([[knnLabelEval]], [[silhouette]], [[dunnIndex]]): they broadcast
    * the full vector table into an n² nested-loop join, which is the
    * right plan for a bounded eval slice and an OOM at corpus scale.
    * 65536 rows → 65536² ≈ 4.3e9 pair evals / ~35 MB broadcast — the
    * practical single-eval ceiling. */
  val BruteEvalBound = 65536L

  /** Default [[evalSlice]] budget for BATTERY eval entries: 16384 rows
    * ≈ 1.3e8 pair evals — tens of seconds per entry at any corpus
    * scale, an order under the [[BruteEvalBound]] hard ceiling (which
    * remains the per-call feasibility require). The sf10 (100×) sweep
    * found ext_embedding_neardup running UNBOUNDED all-pairs over 200k
    * vectors (4e10 pairs — hours); this is the bound that prevents the
    * class. */
  val EvalSliceRows = 16384

  /** Shared engine/oracle constants for the k-NN label-agreement evals
    * ([[knnLabelEval]], [[knnLabelEvalIvf]]): the oracle SQL in
    * ExtQueries interpolates THESE (the GridMaxSpanHours pattern), so a
    * parameter change can't silently drift the two sides apart and get
    * caught only at hash-compare time. */
  val KnnEvalK = 5
  val KnnIvfNlist = 16
  val KnnIvfNprobe = 4

  /** Query-sample size for [[knnLabelEvalIvf]]'s recall guard. The exact
    * top-k needed to score ANN recall is the BRUTE pass — computing it
    * for every slice vector made the ANN-routed entry cost its brute
    * twin PLUS the ANN work (sf10 probe: 21 s exact + 10 s ANN vs 21 s
    * brute total). Recall@k is an estimate by nature, so it's scored on
    * the md5('rslice')-smallest `KnnRecallQueries` query vectors
    * (deterministic, SQL-replayable, the evalSlice pattern; a no-op when
    * the slice is smaller): 1024 queries × k  pair checks is a tight
    * recall estimate at 1/16 the exact-scan FLOPs. Votes/acc still
    * cover every slice vector. */
  val KnnRecallQueries = 1024

  /** Deterministic md5-sampled eval slice for the brute-pairwise eval
    * harnesses — the [[graft.ext.Graph.inducedSlice]] treatment for
    * vector tables: keep the `maxRows` hash-smallest vec_ids
    * (md5(tag ‖ id) then id — replayable in SQL, so oracles stay
    * hash-green at any scale), a no-op whenever the table fits. This is
    * how a battery entry (or any caller) satisfies
    * [[withBoundedEvalSlice]]'s "run it on a sampled or pre-sliced eval
    * set" contract at unbounded corpus scale instead of throwing. */
  def evalSlice(embeddings: DataFrame, maxRows: Int = EvalSliceRows,
      tag: String = "eslice"): DataFrame = {
    require(maxRows >= 1, s"maxRows must be positive, got $maxRows")
    embeddings
      .orderBy(md5(concat(lit(tag), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(maxRows)
  }

  /** Fail-fast enforcement of the bounded-eval contract (the
    * closenessCentrality `require(V <= 16384)` pattern) WITHOUT an
    * extra upstream scan: persist the prepared eval slice, count the
    * cached copy (this is the materializing action), and hard-`require`
    * the bound — an immediate, named error beats an executor OOM three
    * stages in. The n² join `build` constructs then reads the SAME
    * cached slice (both sides of its self-join hit it), so the bound
    * check is free rather than a duplicate pass over the input lineage.
    *
    * Cache lifecycle is OWNED HERE: eval outputs are label-/scalar-
    * bounded (a handful of rows), so the built plan is materialized
    * into a local relation and the slice unpersisted in `finally` —
    * the harness never leaks its ≤[[BruteEvalBound]]-row cache into
    * the session, and a failed bound check releases it before the
    * throw. */
  private def withBoundedEvalSlice(prepared: DataFrame, op: String)
      (build: DataFrame => DataFrame): DataFrame = {
    val p = prepared.persist()
    try {
      val n = p.count()
      require(n <= BruteEvalBound,
        s"$op is an exact brute-pairwise eval harness bounded at " +
          s"$BruteEvalBound vectors (got $n); run it on a sampled or " +
          s"pre-sliced eval set, or use the ANN stack for the serving path")
      val out = build(p)
      val rows = java.util.Arrays.asList(out.collect(): _*)
      out.sparkSession.createDataFrame(rows, out.schema)
    } finally p.unpersist(blocking = false)
  }

  /** Exact top-k neighbors for each query vector: broadcast the (small)
    * query side, scan the corpus once, per-query ranking window. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = withNorm(corpus)
    val q = withNorm(queries).toDF("query_id", "qe", "qn")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("e"), col("qe")) / (col("qn") * col("n")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .orderBy("query_id", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs: every pair with cosine ≥
    * `threshold` (the dedup semantic — SURVEY §2.4's "embedding-cosine
    * near-dup"). Exact all-pairs form for the oracle; the scale path runs
    * the same predicate over [[lshPairsTopK]]'s bucket candidates instead
    * of the cross join. Production near-dup thresholds sit around
    * 0.9–0.97; the synthetic fixtures are random vectors (max observed
    * cosine ≈ 0.51 at sf0.01), so demos use a lower cut. */
  def nearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = withNorm(embeddings)
    val l = e.toDF("vec_a", "ea", "na")
    val r = e.toDF("vec_b", "eb", "nb")
    l.join(r, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Top-k most-similar pairs among all embeddings (exact, all-pairs —
    * the small-data oracle; at scale use [[lshBuckets]] first). */
  def cosinePairsTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    val l = e.toDF("vec_a", "ea", "na")
    val r = e.toDF("vec_b", "eb", "nb")
    l.join(r, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(k)
  }

  /** [[kmeansKFor]] / [[lshBitsFor]] derivation constants, hoisted and
    * named so the DuckDB oracle twins INTERPOLATE them instead of
    * restating them as SQL literals — a changed default that the SQL side
    * didn't follow would silently desync engine and oracle at exactly the
    * scales where both derivations stop being no-ops (the fixture-scale
    * driver compare could never catch it). */
  val KmeansTargetClusterSize = 512L
  val KmeansMinK = 8
  val KmeansMaxK = 4096
  val LshTargetOccupancy = 32L
  val LshMinBits = 8
  val LshMaxBits = 24

  /** Volume-derived k-means cluster count for [[semDedup]]: the smallest
    * power-of-two k in [minK, maxK] with n ≤ target·k, i.e. mean cluster
    * size ≤ target. SemDeDup's within-cluster pair join costs Σ|cluster|²
    * ≈ n²/k — FIXED k makes it quadratic in the corpus (the r14 tier-3
    * sf10 sweep measured ext_semdedup at 12.6×/decade under k=8; the
    * paper's k grows with n for exactly this reason). Power-of-two
    * stepping keeps the oracle's SQL twin a 10-element unnest over the
    * same integer comparisons (no float boundary). A no-op at fixture
    * scales (n ≤ target·minK). */
  def kmeansKFor(n: Long, target: Long = KmeansTargetClusterSize,
      minK: Int = KmeansMinK, maxK: Int = KmeansMaxK): Int = {
    require(minK >= 1 && Integer.bitCount(minK) == 1 &&
      maxK >= minK && Integer.bitCount(maxK) == 1,
      s"k range must be powers of two: [$minK, $maxK]")
    require(target >= 1, s"target cluster size must be >= 1, got $target")
    var k = minK
    while (k < maxK && k.toLong * target < n) k <<= 1
    k
  }

  /** Volume-derived hyperplane-LSH bit count: the smallest b in
    * [minBits, maxBits] with n ≤ target·2^b, i.e. expected bucket
    * occupancy ≤ target. FIXED bits are the classic LSH scale trap —
    * occupancy grows linearly with the corpus and collision PAIRS
    * quadratically (the r14 sf10 sweep measured ext_lsh_pairs_top10 at
    * 33×/decade under nBits=8; 200k vectors in 256 buckets/table =
    * ~780/bucket = ~300k pairs/bucket). Pure integer comparisons — no
    * log2 float boundary to disagree across engines — so the DuckDB
    * oracle derives the SAME b from COUNT(*) (`32·(1<<b) >= n` over a
    * b-range, the Layout.bucketCount doctrine for hash tables). A no-op
    * at fixture scales (n ≤ target·2^minBits). */
  def lshBitsFor(n: Long, target: Long = LshTargetOccupancy,
      minBits: Int = LshMinBits, maxBits: Int = LshMaxBits): Int = {
    require(minBits >= 1 && maxBits >= minBits && maxBits <= 62,
      s"bits range invalid: [$minBits, $maxBits]")
    require(target >= 1, s"target occupancy must be >= 1, got $target")
    var b = minBits
    while (b < maxBits && (target << b) < n) b += 1
    b
  }

  /** Deterministic random hyperplanes: nBits × dim sign-random projections
    * in {−1, +1}. Component (i, j) is addressed (not sequential): its sign
    * is the top bit of md5("seed:i:j") — replicable in plain SQL
    * (`substr(md5(...), 1, 1) < '8'`), which is what lets the LSH queries
    * carry a DuckDB hash oracle. Driver-side, nBits×dim md5 calls, ~µs. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nBits) { i =>
      Array.tabulate(dim) { j =>
        val d = md.digest(s"$seed:$i:$j".getBytes("UTF-8"))
        if (((d(0) >> 7) & 1) == 0) 1.0 else -1.0 // top bit clear ⇔ hex[0] < '8'
      }
    }
  }

  /** Random-hyperplane LSH bucket id per vector: bit i = sign(v · plane_i).
    * Vectors in the same bucket are cosine-similar candidates. */
  def lshBuckets(embeddings: DataFrame, nBits: Int, dim: Int, seed: Long): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    val e = asDouble(col("embedding"))
    val bits = (0 until nBits).map { i =>
      val plane = array(planes(i).map(lit): _*)
      when(dot(e, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    embeddings.select(col("vec_id"), e.as("e"),
      bits.reduce(_ + _).as("bucket"))
  }

  /** Candidate pairs under multi-table LSH: `tables` independent
    * hyperplane sets (seeds derived from `seed`); a pair is a candidate if
    * it collides in ANY table. Collision prob per table for angle θ is
    * (1 − θ/π)^nBits, so L tables lift recall to 1 − (1 − p)^L — the
    * standard recall/cost dial. Per-table joins are bucket-local; the
    * all-pairs cross join never materializes. */
  def lshCandidatePairs(embeddings: DataFrame, nBits: Int, tables: Int, dim: Int, seed: Long): DataFrame = {
    // One (vec_id, table, bucket) frame — each table's bucket bits stay
    // in their OWN union branch (fusing tables×nBits dot products into a
    // single projection was measured SLOWER: it blows past the JIT
    // method-size limit and drops to interpreted code) — checkpointed so
    // the nBits×dim literal-plane dot trees run once, then ONE flat
    // self-join on (table, bucket) generates collision pairs: fully
    // codegen'd, AQE-skew-splittable (the collect_list bucket-expansion
    // form this replaces ran ObjectHashAggregate per table). A pair
    // colliding in several tables dedups in the distinct.
    val buckets = (0 until tables).map { t =>
      lshBuckets(embeddings, nBits, dim, seed + 0x9E3779B9L * (t + 1))
        .select(lit(t).as("tbl"), col("bucket"), col("vec_id"))
    }.reduce(_ union _).localCheckpoint()
    val l = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
    val r = buckets.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b"))
    val e = withNorm(embeddings)
    l.join(r, Seq("tbl", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
      .join(e.toDF("vec_a", "ea", "na"), "vec_a")
      .join(e.toDF("vec_b", "eb", "nb"), "vec_b")
  }

  /** Approximate top-k pairs: exact cosine over multi-table LSH candidates
    * only — the 100 TB shape. Recall vs [[cosinePairsTopK]] is spec-tested. */
  def lshPairsTopK(embeddings: DataFrame, k: Int, nBits: Int, dim: Int, seed: Long, tables: Int = 8): DataFrame = {
    lshCandidatePairs(embeddings, nBits, tables, dim, seed)
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(k)
  }

  /** IVF-flat ANN (the "IVF variant" scale path of SURVEY §2.4): coarse-
    * quantize the corpus into `nlist` centroid lists, probe the `nprobe`
    * nearest lists per query, exact-cosine re-rank only inside probed
    * lists — candidate count drops to ~nprobe/nlist of the corpus.
    *
    * Centroids are the `nlist` lowest-id vectors (a deterministic,
    * training-free quantizer — [[kmeans]] is the trained alternative;
    * everything downstream of centroid choice is the real IVF mechanics). Assignment
    * and probing are PURE MAPS: each row scores all nlist broadcast
    * centroids inside one projection (no row explosion, no shuffle) — the
    * DataFrame analog of the BLAS-matmul assignment step. The only
    * shuffles are the probed-list join (keyed by list id, which is exactly
    * how IVF shards at scale) and the final per-query ranking window.
    * Ties break to the lowest centroid id / vector id, so the result is
    * deterministic and DuckDB-replicable. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent: Array[(Int, Array[Double], Double)] = corpus
      .where(col("vec_id") < nlist)
      .select(col("vec_id").cast("int"), asDouble(col("embedding")))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (r.getInt(0), v, math.sqrt(s))
      }
    // per-row score structs vs every centroid; -cid so struct max/sort
    // break exact-cosine ties toward the LOWEST centroid id
    def scoreStructs(e: Column, n: Column) = cent.map { case (cid, cv, cn) =>
      struct((dot(e, array(cv.map(lit): _*)) / (n * lit(cn))).as("s"),
        lit(-cid).as("negcid"))
    }
    val c = withNorm(corpus)
    val assigned = c.select(col("vec_id"), col("e"), col("n"),
      (-array_max(array(scoreStructs(col("e"), col("n")): _*))
        .getField("negcid")).as("cid"))
    val q = withNorm(queries).toDF("query_id", "qe", "qn")
    val probes = q.select(col("query_id"), col("qe"), col("qn"),
        explode(slice(reverse(array_sort(
          array(scoreStructs(col("qe"), col("qn")): _*))), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qe"), col("qn"), (-col("p.negcid")).as("cid"))
    val rw = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, "cid")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("e"), col("qe")) / (col("qn") * col("n")), 4).as("cos"))
      .withColumn("rnk", row_number().over(rw))
      .where(col("rnk") <= k)
      .orderBy("query_id", "rnk")
  }

  /** Grid step for [[kmeans]] centroid components: 2⁻²⁰. Rounding each
    * updated component to this grid makes Lloyd's engine-portable: the
    * per-cluster mean is a float sum whose accumulation ORDER differs
    * between engines (and between Spark runs — partial aggregation is
    * schedule-dependent), so raw means drift by ULPs; snapping to a 2⁻²⁰
    * lattice absorbs that drift (a flip requires the true mean to sit
    * within ~1e-12 of a lattice midpoint), after which every distance is
    * computed from bit-identical centroids on both engines. */
  private val KmeansGrid = 1048576.0

  private def gridRound(x: Double): Double =
    math.floor(x * KmeansGrid + 0.5) / KmeansGrid

  /** Above this many centroids, assignment switches from the inline
    * literal fan-out to the broadcast-join form: the generated projection
    * scores every centroid inline, and past ~tens of centroids the
    * method outgrows janino (measured: k=80 made the 10× scaling leg
    * 23× slower purely from codegen collapse). */
  private val AssignJoinThreshold = 32

  /** One Lloyd assignment pass: nearest centroid by squared L2, ties to
    * the lowest centroid id. `cent` is (cid, components, ‖c‖²).
    * dist = (‖v‖² − 2·v·c) + ‖c‖² in exactly that association so the
    * DuckDB oracle (`ldp(v,v) - 2*ldp(v,c) + ldp(c,c)`) matches bit-wise.
    * Small k: pure map scoring broadcast centroid literals inside one
    * projection. Large k ([[AssignJoinThreshold]]): broadcast centroid
    * TABLE join + per-vector struct-min — same argmin, same tie rule,
    * bit-identical distances (the dot runs the same sequential expression
    * against a column instead of literals). */
  private def assignClusters(e: DataFrame, cent: Seq[(Int, Array[Double], Double)]): DataFrame =
    if (cent.size <= AssignJoinThreshold) assignClustersLiteral(e, cent)
    else assignClustersJoin(e, cent)

  private[ext] def assignClustersLiteral(e: DataFrame, cent: Seq[(Int, Array[Double], Double)]): DataFrame =
    e.select(col("vec_id"), col("e"), col("n2"),
      array_min(array(cent.map { case (cid, cv, cn2) =>
        struct(
          (col("n2") - lit(2.0) * dot(col("e"), array(cv.map(lit): _*)) + lit(cn2)).as("d"),
          lit(cid).as("cid"))
      }: _*)).getField("cid").as("cluster"))

  /** Join-form assignment — the shape that scales in k (production's
    * BLAS matmul analog): N×k scored (vec_id, d, cid) triples (the
    * vector itself never rides along), per-vector `min(struct(d, cid))`
    * (lexicographic struct order = distance asc, cid tiebreak — exactly
    * the literal form's `array_min`), then one keyed join back to
    * re-attach (e, n2). Shuffles: the N×k triple agg + the vec_id join. */
  private[ext] def assignClustersJoin(e: DataFrame, cent: Seq[(Int, Array[Double], Double)]): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    val centDf = cent.toDF("cid", "ce", "cn2")
    val assigned = e.select(col("vec_id"), col("e"), col("n2"))
      .crossJoin(broadcast(centDf))
      .select(col("vec_id"),
        struct(
          (col("n2") - lit(2.0) * dot(col("e"), col("ce")) + col("cn2")).as("d"),
          col("cid").as("cid")).as("s"))
      .groupBy("vec_id").agg(min(col("s")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster"))
    e.join(assigned, "vec_id")
      .select(col("vec_id"), col("e"), col("n2"), col("cluster"))
  }

  /** Seeded-deterministic k-means (Lloyd's) over the embedding column —
    * the missing "production would k-means them" trainer of [[ivfTopK]]'s
    * coarse quantizer, exposed as a first-class op.
    *
    * Init: the k lowest-id vectors (deterministic, engine-portable).
    * Iterate `iters` times: assign (pure map over broadcast centroids) →
    * update (per-cluster component means via one partial-agg shuffle of
    * k×dim cells, collected to the driver — k·dim is tiny by construction,
    * the same invariant that lets real k-means broadcast its codebook).
    * Empty clusters drop out (no member rows → no centroid), matching the
    * oracle's GROUP BY semantics. Returns the final assignment
    * (vec_id, cluster) under the last updated centroids.
    *
    * Scale: per iteration = one scan + one k×dim-cell shuffle; the corpus
    * never moves. Centroid components are grid-rounded ([[KmeansGrid]])
    * for cross-engine reproducibility. */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 1): DataFrame = {
    val e = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .withColumn("n2", dot(col("e"), col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cent = lloyd(e, k, iters)
    val out = assignClusters(e, cent).select(col("vec_id"), col("cluster"))
    e.unpersist(blocking = false)
    out
  }

  private def centNorm2(cv: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
    s
  }

  /** The Lloyd trainer extracted from [[kmeans]] (identical code path —
    * ext_kmeans keeps verifying it): init = k lowest-id vectors of `e`
    * (which must carry (vec_id, e, n2)), then `iters` assign+update
    * rounds with grid-rounded component means. Returns the final
    * centroids (cid, components, ‖c‖²). */
  private def lloyd(e: DataFrame, k: Int, iters: Int): Seq[(Int, Array[Double], Double)] = {
    var cent: Seq[(Int, Array[Double], Double)] = e
      .where(col("vec_id") < k)
      .select(col("vec_id").cast("int"), col("e"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .map { case (cid, cv) => (cid, cv, centNorm2(cv)) }
    var it = 0
    while (it < iters) {
      val cells = assignClusters(e, cent)
        .select(col("cluster"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .collect()
      cent = cells.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (cid, rows) =>
        val dim = rows.length
        val cv = new Array[Double](dim)
        rows.foreach(r => cv(r.getInt(1)) = gridRound(r.getDouble(2) / r.getLong(3)))
        (cid, cv, centNorm2(cv))
      }
      it += 1
    }
    cent
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — cluster the embedding space, then drop all but one of
    * each within-cluster group of near-identical vectors. Composes the two
    * oracle-checked pieces this file already owns: the [[lloyd]] trainer +
    * [[assignClusters]] (ext_kmeans's exact engine-portable scheme) and
    * the rounded-cosine predicate of [[nearDupPairs]]. Keep rule: a vector
    * is dropped iff a LOWER-id vector in the SAME cluster has cosine ≥
    * `tau` (the paper keeps one representative per ε-ball; lowest-id is
    * its deterministic stand-in).
    *
    * Scale shape — the paper's entire point: candidate pairs exist only
    * WITHIN a cluster, so the pair join is keyed on cluster id and costs
    * Σ|cluster|² instead of N²; production grows k with N (k ≈ N/⟨cluster⟩)
    * to keep cluster sizes bounded while assignment stays a pure map over
    * broadcast centroids. Shuffles: lloyd's k×dim-cell partial agg per
    * iteration, the cluster-keyed self-join, and the id-keyed anti join —
    * never an all-pairs product.
    *
    * Output: (vec_id, cluster, kept 0/1) for every input vector. */
  def semDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 1,
      tau: Double = 0.45): DataFrame = {
    val e = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .withColumn("n2", dot(col("e"), col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cent = lloyd(e, k, iters)
    val assigned = assignClusters(e, cent).withColumn("nrm", sqrt(col("n2")))
    val a = assigned.select(col("cluster"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cluster"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, "cluster")
      .where(col("vec_a") < col("vec_b"))
      .where(round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4) >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
    val out = assigned.join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("hit").isNull, 1).otherwise(0).cast("int").as("kept"))
    e.unpersist(blocking = false)
    out
  }

  /** Product-quantization top-k by asymmetric-distance (ADC) inner
    * product — the memory-bounded ANN scheme one tier past
    * [[quantizeInt8]]: vectors live as m codebook codes (log₂k bits
    * each), the query stays full-precision, and scoring is m table
    * lookups instead of a dim-length dot product (Jégou et al. 2011).
    *
    * Codebooks: the embedding is split into `m` contiguous subspaces of
    * dim/m components; each subspace trains its own [[lloyd]] codebook
    * (k lowest-id subvectors init, grid-rounded means — the same
    * deterministic, engine-portable scheme ext_kmeans verifies).
    * Encoding assigns each subvector its nearest centroid
    * (squared-L2, ties to the lowest cid) in ONE pure-map projection per
    * corpus row. The query's ADC table (cid → q_s·c_{s,cid}, computed
    * driver-side over the tiny codebooks in ascending index order —
    * the same order `list_dot_product` sums) folds into the projection
    * as a CASE chain, so approx_ip = Σ_s table_s[code_s] in fixed
    * left-to-right subspace order — bit-identical across engines
    * (centroid components are exact grid multiples).
    *
    * Scale shape: training = m × (one scan + one k×(dim/m)-cell partial
    * agg); encode+score = one scan, no shuffle; top-k = TakeOrdered.
    * Output: (vec_id, pq_ip) — top `topK` by raw approx ip (desc,
    * vec_id tiebreak), query excluded, pq_ip ROUND(·,4). */
  /** The m per-subspace PQ codebooks (one [[lloyd]] run per dim/m-wide
    * slice) over the spread (vec_id, e) rows. pqTopK and ivfPqTopK train
    * IDENTICAL books by construction (the probe-all-equals-plain-PQ
    * parity depends on it), so a pipeline running both should train once
    * via [[pqCodebooks]] and pass the result to each — the codebooks are
    * pure data (m·k·dim/m doubles), safe to hold across entries. */
  private def trainPqBooks(full: DataFrame, dim: Int, m: Int, k: Int,
      iters: Int): Seq[Seq[(Int, Array[Double], Double)]] = {
    val d0 = dim / m
    // the m per-subspace lloyd runs are INDEPENDENT jobs (each is its
    // own init-collect + cell-agg actions over the shared cached input)
    // — submit them from a small thread pool so each run's scheduling
    // tail back-fills the others' (guide §2.6 overlap); per-subspace
    // results are computed and returned in subspace order, so the books
    // are bit-identical to the sequential form. Each run is its own job
    // group, so a failure cancels the runs still going instead of leaving
    // their jobs behind; there is no timeout, as a slow run has not failed
    val sc = full.sparkSession.sparkContext
    val groups = (0 until m).map(s => s"graft-pq-books-${java.util.UUID.randomUUID()}-$s")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val description = sc.getLocalProperty("spark.job.description")
      val runs = (0 until m).map { s =>
        scala.concurrent.Future {
          // keeps the caller's job description (what Bench keys on)
          sc.setJobGroup(groups(s), description, interruptOnCancel = true)
          val sub = full
            .select(col("vec_id"), slice(col("e"), s * d0 + 1, d0).as("e"))
            .withColumn("n2", dot(col("e"), col("e")))
          lloyd(sub, k, iters)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(runs), scala.concurrent.duration.Duration.Inf)
    } catch {
      case e: Throwable =>
        groups.foreach(sc.cancelJobGroup)
        pool.shutdownNow()
        throw e
    } finally pool.shutdown()
  }

  /** Train the shared PQ codebooks standalone (see [[trainPqBooks]]) —
    * the compute-once-reuse entry point for callers running both
    * [[pqTopK]] and [[ivfPqTopK]] over the same corpus. */
  def pqCodebooks(embeddings: DataFrame, dim: Int = 64, m: Int = 4,
      k: Int = 8, iters: Int = 1): Seq[Seq[(Int, Array[Double], Double)]] = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val full = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try trainPqBooks(full, dim, m, k, iters)
    finally full.unpersist(false)
  }

  def pqTopK(embeddings: DataFrame, dim: Int = 64, queryId: Long = 0L, m: Int = 4,
      k: Int = 8, iters: Int = 1, topK: Int = 25,
      books0: Option[Seq[Seq[(Int, Array[Double], Double)]]] = None): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val d0 = dim / m
    val full = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books: Seq[Seq[(Int, Array[Double], Double)]] =
      books0.getOrElse(trainPqBooks(full, dim, m, k, iters))
    val q = full.where(col("vec_id") === queryId)
      .select(col("e")).collect()(0).getSeq[Double](0).toArray
    // ADC tables: q_s · c in ascending component order (= list_dot_product)
    val tables: Seq[Seq[(Int, Double)]] = books.zipWithIndex.map { case (cent, s) =>
      cent.map { case (cid, cv, _) =>
        var ip = 0.0; var i = 0
        while (i < cv.length) { ip += q(s * d0 + i) * cv(i); i += 1 }
        (cid, ip)
      }
    }
    // hoist each subvector and its ‖·‖² into named columns BEFORE the
    // per-centroid distance fan-out: the aliases are referenced k times
    // above, so CollapseProject won't re-inline them — without this the
    // dim/m-term self-dot expands k·m times and the generated method
    // blows past janino's size limit (codegen falls back to interpreted)
    val subCols = (0 until m).map(s => slice(col("e"), s * d0 + 1, d0).as(s"sub$s"))
    val enc = full.where(col("vec_id") =!= queryId)
      .select(col("vec_id") +: subCols: _*)
      .select(col("vec_id") +:
        (0 until m).map(s => col(s"sub$s")) ++:
        (0 until m).map(s => dot(col(s"sub$s"), col(s"sub$s")).as(s"n2$s")): _*)
    // codes get their own projection for the same reason: each code is
    // consulted k times by its ADC CASE chain below
    val codeCols = (0 until m).map { s =>
      array_min(array(books(s).map { case (cid, cv, cn2) =>
        struct(
          (col(s"n2$s") - lit(2.0) * dot(col(s"sub$s"), array(cv.map(lit): _*)) + lit(cn2)).as("d"),
          lit(cid).as("cid"))
      }: _*)).getField("cid").as(s"code$s")
    }
    val coded = enc.select(col("vec_id") +: codeCols: _*)
    val ipCols = (0 until m).map { s =>
      tables(s).foldLeft(lit(Double.NaN)) { case (acc, (cid, ip)) =>
        when(col(s"code$s") === cid, lit(ip)).otherwise(acc)
      }
    }
    val out = coded
      .select(col("vec_id"), ipCols.reduceLeft(_ + _).as("ip")) // fixed subspace order
      .orderBy(col("ip").desc, col("vec_id")).limit(topK)
      .select(col("vec_id"), round(col("ip"), 4).as("pq_ip"))
    full.unpersist(blocking = false)
    out
  }

  /** IVF-PQ top-k — the two quantizers of [[ivfTopK]] and [[pqTopK]]
    * composed into the production ANN architecture (FAISS's IVFPQ,
    * direct-coding variant): a coarse full-dimension codebook routes the
    * query to its `nprobe` nearest inverted lists, and only those lists'
    * members are ADC-scored with the subspace codebooks. At 100 TB this
    * is the index whose query cost is corpus/kc·nprobe encoded rows — the
    * scan never touches unprobed lists.
    *
    * Everything deterministic and engine-portable exactly like the two
    * parents: coarse + subspace codebooks via [[lloyd]] (k lowest-id
    * init, grid-rounded means), probe selection by (distance, cid)
    * order with the same (‖q‖² − 2q·c + ‖c‖²) association the oracle
    * spells, candidates filtered map-side by coarse code ∈ probe set,
    * ADC sum in fixed subspace order.
    *
    * Scale shape: training as in [[kmeans]]/[[pqTopK]]; query time is
    * ONE scan with the probe filter applied before the ADC CASE chains
    * (encode-then-filter in the same projection), then TakeOrdered. */
  def ivfPqTopK(embeddings: DataFrame, dim: Int = 64, queryId: Long = 0L, m: Int = 4,
      k: Int = 8, kc: Int = 8, nprobe: Int = 2, iters: Int = 1, topK: Int = 10,
      books0: Option[Seq[Seq[(Int, Array[Double], Double)]]] = None): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(nprobe >= 1 && nprobe <= kc, s"nprobe=$nprobe must be in [1, kc=$kc]")
    val d0 = dim / m
    val full = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fullN2 = full.withColumn("n2", dot(col("e"), col("e")))
    val coarse = lloyd(fullN2, kc, iters)
    val books: Seq[Seq[(Int, Array[Double], Double)]] =
      books0.getOrElse(trainPqBooks(full, dim, m, k, iters))
    val q = full.where(col("vec_id") === queryId)
      .select(col("e")).collect()(0).getSeq[Double](0).toArray
    def dotArr(a: Array[Double], off: Int, b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < b.length) { s += a(off + i) * b(i); i += 1 }
      s
    }
    // probe set: the query's nprobe nearest coarse centroids, same
    // association and (d, cid) tie order as the oracle
    val qq = dotArr(q, 0, q)
    val probed = coarse
      .map { case (cid, cv, cn2) => (qq - 2.0 * dotArr(q, 0, cv) + cn2, cid) }
      .sorted.take(nprobe).map(_._2).toSet
    val tables: Seq[Seq[(Int, Double)]] = books.zipWithIndex.map { case (cent, s) =>
      cent.map { case (cid, cv, _) => (cid, dotArr(q, s * d0, cv)) }
    }
    // hoisting discipline as in pqTopK: full-dim norm for the coarse
    // code, then subvectors/norms, then codes — each alias consumed
    // multiple times by the next stage, so nothing re-inlines
    val subCols = (0 until m).map(s => slice(col("e"), s * d0 + 1, d0).as(s"sub$s"))
    val coarseCode = array_min(array(coarse.map { case (cid, cv, cn2) =>
      struct(
        (col("n2f") - lit(2.0) * dot(col("e"), array(cv.map(lit): _*)) + lit(cn2)).as("d"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")
    val codeCols = (0 until m).map { s =>
      array_min(array(books(s).map { case (cid, cv, cn2) =>
        struct(
          (col(s"n2$s") - lit(2.0) * dot(col(s"sub$s"), array(cv.map(lit): _*)) + lit(cn2)).as("d"),
          lit(cid).as("cid"))
      }: _*)).getField("cid").as(s"code$s")
    }
    val coded = full.where(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("e"), dot(col("e"), col("e")).as("n2f"))
      .select(col("vec_id"), col("e"), coarseCode.as("gcode"))
      .where(col("gcode").isin(probed.toSeq: _*))
      .select(col("vec_id") +: subCols: _*)
      .select(col("vec_id") +:
        (0 until m).map(s => col(s"sub$s")) ++:
        (0 until m).map(s => dot(col(s"sub$s"), col(s"sub$s")).as(s"n2$s")): _*)
      .select(col("vec_id") +: codeCols: _*)
    val ipCols = (0 until m).map { s =>
      tables(s).foldLeft(lit(Double.NaN)) { case (acc, (cid, ip)) =>
        when(col(s"code$s") === cid, lit(ip)).otherwise(acc)
      }
    }
    val out = coded
      .select(col("vec_id"), ipCols.reduceLeft(_ + _).as("ip")) // fixed subspace order
      .orderBy(col("ip").desc, col("vec_id")).limit(topK)
      .select(col("vec_id"), round(col("ip"), 4).as("ivfpq_ip"))
    full.unpersist(blocking = false)
    out
  }

  /** Per-vector symmetric int8 quantization — the memory-layout step of a
    * 100 TB ANN index (4× smaller than float32, 8× than float64). scale =
    * max|component| (so q ∈ [−127, 127]); q = floor(v·127/scale + 0.5).
    * floor/abs/max are exact in IEEE terms, so the oracle matches
    * bit-for-bit with no rounding hazards. Zero vectors quantize to 0.
    * Output is flat (vec_id, pos, q) — one row per component. Pure map. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .select(col("vec_id"),
        array_max(transform(col("e"), x => abs(x))).as("ma"),
        posexplode(col("e")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        when(col("ma") === 0.0, lit(0))
          .otherwise(floor(col("v") * lit(127.0) / col("ma") + lit(0.5)).cast("int"))
          .as("q"))

  /** Per-class embedding centroids (element-wise mean per label),
    * flattened to (label, pos, c) — class prototypes for
    * nearest-centroid labeling, domain drift checks, or seeding [[kmeans]].
    * Pure posexplode + one partial-aggregated shuffle of |labels|×dim
    * cells; the corpus never moves. The mean is a float sum in schedule
    * order — drift ~1e-15 against the 1e-4 rounding grid, the accepted
    * risk profile of [[graft.ext.TextAnalysis.lmScore]]'s avg. */
  def labelCentroids(embeddings: DataFrame, labelCol: String = "label"): DataFrame =
    Dedup.spreadForCompute(
        embeddings.select(col(labelCol).as("label"), asDouble(col("embedding")).as("e")))
      .select(col("label"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v")), 4).as("c"))
      .orderBy("label", "pos")

  /** Per-dimension z-score standardization of the embedding matrix —
    * the feature-scaling step in front of k-means / linear probes /
    * drift tests, where one high-variance dimension would otherwise
    * dominate every distance. Two passes over a posexploded view: the
    * per-dimension (mean, population σ) table is DIMENSION-bounded (d
    * rows — broadcast-safe at any corpus size, unlike anything keyed by
    * the corpus), then z = (v − μ)/σ joins it back in-row. Constant
    * dimensions (σ = 0) yield z = 0 rather than NaN, the convention
    * that keeps downstream dot products finite. Output:
    * (vec_id, pos, z ROUND·,4). */
  def standardize(embeddings: DataFrame): DataFrame = {
    val v = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "v")))
    val stats = v.groupBy("pos")
      .agg(avg(col("v")).as("_mu"),
        stddev_pop(col("v")).as("_sd"))
    v.join(broadcast(stats), "pos")
      .select(col("vec_id"), col("pos"),
        when(col("_sd") === 0.0, 0.0)
          .otherwise(round((col("v") - col("_mu")) / col("_sd"), 4)).as("z"))
  }

  /** Embedding-space ISOTROPY probe: cosine statistics over a
    * deterministic 1-regular pairing (vec i ↔ vec (i+stride) mod N) —
    * the cheap stand-in for "mean cosine of random pairs", the
    * anisotropy diagnostic (a healthy embedding space has mean pair
    * cosine ≈ 0; a collapsed/anisotropic one sits far above — Ethayarajh
    * 2019). N pairs, ONE equi-join on the shifted id (never all-pairs);
    * each cosine rounds to an exact 1e-4 integer BEFORE aggregation, so
    * the means are exact integer ratios and min/max are order
    * statistics — no float accumulation anywhere. Norm mean rides along
    * the same way. Output: one row. */
  def isotropyProbe(embeddings: DataFrame, stride: Long = 501L): DataFrame = {
    val e = withNorm(embeddings)
    val nn = e.agg(count(lit(1)).as("n"))
    val a = e.toDF("vec_a", "ea", "na").crossJoin(broadcast(nn))
      .withColumn("partner", (col("vec_a") + stride) % col("n"))
      .where(col("partner") =!= col("vec_a"))
    val b = e.toDF("partner", "eb", "nb")
    val pairs = a.join(b, "partner")
      .select(round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
        .as("cos"))
      .withColumn("ic", round(col("cos") * lit(10000)).cast("long"))
    val norms = e.select(round(col("n") * lit(10000)).cast("long").as("inrm"))
      .agg(sum("inrm").as("snrm"), count(lit(1)).as("nv"))
    pairs.agg(count(lit(1)).as("n_pairs"), sum("ic").as("sic"),
        sum(abs(col("ic"))).as("sabs"),
        min(col("cos")).as("cos_min"), max(col("cos")).as("cos_max"))
      .crossJoin(broadcast(norms))
      .select(col("n_pairs"),
        round(col("sic").cast("double") / (col("n_pairs") * lit(10000)).cast("double"), 4)
          .as("mean_cos"),
        round(col("sabs").cast("double") / (col("n_pairs") * lit(10000)).cast("double"), 4)
          .as("mean_abs_cos"),
        col("cos_min"), col("cos_max"),
        round(col("snrm").cast("double") / (col("nv") * lit(10000)).cast("double"), 4)
          .as("norm_mean"))
  }

  /** Embedding-cosine near-duplicate pairs: cosine ≥ threshold. Exact
    * all-pairs form; compose with [[lshBuckets]] at scale. */
  def cosineNearDups(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = withNorm(embeddings)
    val l = e.toDF("vec_a", "ea", "na")
    val r = e.toDF("vec_b", "eb", "nb")
    l.join(r, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** k-NN label-agreement evaluation — "do embedding neighborhoods
    * respect the labels?", the intrinsic embedding-quality check run
    * before trusting vectors for retrieval or dedup. Each vector's k
    * nearest (by ROUND(cos,4), vec_id tie-break) vote; majority label
    * (count desc, label asc) vs the vector's own label, rolled up per
    * label. The pairwise scan is the BRUTE eval harness (this is an
    * offline metric over an eval slice — the serving path is the ANN
    * stack); per-vector ranking is a vec-keyed window, never global.
    * Output: (label, n, n_correct, acc). */
  def knnLabelEval(embeddings: DataFrame, k: Int = KnnEvalK): DataFrame =
    withBoundedEvalSlice(Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("e")))
      .withColumn("nrm", norm(col("e"))), "knnLabelEval") { e =>
    val l = e.toDF("a", "la", "ea", "na")
    val top = l.join(broadcast(e.toDF("b", "lb", "eb", "nb")), col("a") =!= col("b"))
      .select(col("a"), col("la"), col("b"), col("lb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("a").orderBy(col("cos").desc, col("b"))))
      .where(col("rk") <= k)
    val votes = top.groupBy("a", "la", "lb").agg(count(lit(1)).as("c"))
    val pred = votes.groupBy("a", "la").agg(
      max(struct(col("c"), (-col("lb")).as("nl"))).as("m"))
      .select(col("a"), col("la"), (-col("m").getField("nl")).as("pred"))
    pred.groupBy(col("la").as("label")).agg(
        count(lit(1)).as("n"),
        sum(when(col("pred") === col("la"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n").cast("double"), 4)
          .as("acc"))
      .orderBy("label")
  }

  /** ANN-candidate variant of [[knnLabelEval]] — the SCALE path for the
    * label-agreement metric, recall-guarded the [[ext_dedup_eval]] way:
    * neighbors come from the [[ivfTopK]] routing (deterministic
    * lowest-id coarse quantizer, nprobe probed lists per vector), so
    * the candidate join touches ~nprobe/nlist of the corpus per vector
    * instead of the brute n² scan; the exact top-k is computed ONCE on
    * the same (bounded) eval slice to score the ANN neighbor sets as
    * TP/FN per label. At 100 TB only the IVF path runs per-corpus; this
    * entry is the fixture-scale regression guard that keeps its recall
    * an oracle-checked number rather than a hope.
    * Output per label: (label, n, n_correct, acc, tp, fn, recall) —
    * acc from IVF-majority votes over ALL n vectors of the label
    * (a vector with no surviving candidate counts as incorrect),
    * recall = tp/(tp+fn) over the exact top-k pair sets of the
    * [[KnnRecallQueries]] md5-sampled query vectors (the exact scan is
    * the brute pass — sampling it is what keeps this entry cheaper than
    * its brute twin; recall is NULL for a label with no sampled
    * queries). */
  def knnLabelEvalIvf(embeddings: DataFrame, k: Int = KnnEvalK,
      nlist: Int = KnnIvfNlist, nprobe: Int = KnnIvfNprobe): DataFrame =
    withBoundedEvalSlice(Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("e")))
      .withColumn("nrm", norm(col("e"))), "knnLabelEvalIvf") { e =>
    import org.apache.spark.sql.expressions.Window
    // coarse quantizer = the nlist SMALLEST vec_ids present in the eval
    // slice (NOT `vec_id < nlist`: the md5 slice keeps an arbitrary id
    // subset, so a fixed-id predicate goes empty at binding scales — the
    // sf10 sweep caught exactly that). Identical set at no-op scales.
    val cent: Array[(Long, Array[Double], Double)] = e
      .select(col("vec_id").cast("long"), col("e"), col("nrm"))
      .orderBy("vec_id").limit(nlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    require(cent.nonEmpty, "knnLabelEvalIvf: empty input")
    def scoreStructs(ec: Column, n: Column) = cent.map { case (cid, cv, cn) =>
      struct((dot(ec, array(cv.map(lit): _*)) / (n * lit(cn))).as("s"),
        lit(-cid).as("negcid"))
    }
    val assigned = e.select(col("vec_id").as("b"), col("label").as("lb"),
      col("e").as("eb"), col("nrm").as("nb"),
      (-array_max(array(scoreStructs(col("e"), col("nrm")): _*))
        .getField("negcid")).as("cid"))
    val probes = e.select(col("vec_id").as("a"), col("label").as("la"),
        col("e").as("ea"), col("nrm").as("na"),
        explode(slice(reverse(array_sort(
          array(scoreStructs(col("e"), col("nrm")): _*))), 1, nprobe)).as("p"))
      .select(col("a"), col("la"), col("ea"), col("na"),
        (-col("p.negcid")).as("cid"))
    def topK(pairs: DataFrame) = pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy("a").orderBy(col("cos").desc, col("b"))))
      .where(col("rk") <= k)
    // broadcast the ≤slice-row assigned side: a shuffle join on cid has
    // only nlist keys and byte-tiny inputs, so AQE coalesces it to ~one
    // partition while the join OUTPUT fans out ~slice²/nlist·nprobe rows
    // — one fat task computed every candidate dot product (measured 741 s
    // vs 37 s for the exact twin at the sf10 sweep). Broadcasting keeps
    // the output on the probes' even partitioning.
    val annTop = topK(probes.join(broadcast(assigned), "cid")
      .where(col("a") =!= col("b"))
      .select(col("a"), col("la"), col("b"), col("lb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos")))
      .localCheckpoint() // consumed twice (votes + recall join)
    // recall is scored on the md5-sampled query subset (see
    // [[KnnRecallQueries]]) — the exact scan runs at sample×slice pairs,
    // not slice², so the ANN entry no longer embeds its brute twin
    val recallQ = e.select(col("vec_id"))
      .orderBy(md5(concat(lit("rslice"), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(KnnRecallQueries)
    val exactTop = topK(e.join(broadcast(recallQ), "vec_id")
      .toDF("qa", "qla", "qea", "qna")
      .join(broadcast(e.toDF("cb", "clb", "ceb", "cnb")), col("qa") =!= col("cb"))
      .select(col("qa").as("a"), col("qla").as("la"), col("cb").as("b"),
        round(dot(col("qea"), col("ceb")) / (col("qna") * col("cnb")), 4).as("cos")))
    val votes = annTop.groupBy("a", "la", "lb").agg(count(lit(1)).as("c"))
    val pred = votes.groupBy("a", "la").agg(
      max(struct(col("c"), (-col("lb")).as("nl"))).as("m"))
      .select(col("a"), col("la"), (-col("m").getField("nl")).as("pred"))
    val correct = pred.where(col("pred") === col("la"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("n_correct"))
    val nAll = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val rec = exactTop.select(col("a"), col("la"), col("b"))
      .join(annTop.select(col("a"), col("b"), lit(1).as("hit")),
        Seq("a", "b"), "left")
      .groupBy(col("la").as("label"))
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("tp"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("fn"))
    nAll
      .join(correct, Seq("label"), "left")
      .join(rec, Seq("label"), "left")
      .select(col("label"), col("n"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"),
        round(coalesce(col("n_correct"), lit(0L)).cast("double")
          / col("n").cast("double"), 4).as("acc"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fn"), lit(0L)).as("fn"),
        when(coalesce(col("tp"), lit(0L)) + coalesce(col("fn"), lit(0L)) > 0,
          round(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double"), 4)).as("recall"))
      .orderBy("label")
  }

  /** Mean silhouette per cluster over cosine DISTANCE (1 − cos) — the
    * "are these clusters real" readout for [[kmeansAssign]]-style or
    * ground-truth labels. Distances quantize to exact 1e-4 integers
    * BEFORE any aggregation (the isotropy pattern), so the per-(vector,
    * cluster) mean distances are identical doubles in both engines; the
    * per-vector s = (b−a)/max(a,b) then re-quantizes through StableRound
    * ×1e4 so the final per-cluster MEAN is a ratio of exact integers —
    * shuffle-order-proof. Singleton clusters score 0 by convention.
    * Brute pairwise, like [[knnLabelEval]]: the offline eval harness.
    * Output: (label, n, silhouette). */
  def silhouette(embeddings: DataFrame, labelCol: String = "label"): DataFrame =
    withBoundedEvalSlice(Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), col(labelCol).as("lab"),
          asDouble(col("embedding")).as("e")))
      .withColumn("nrm", norm(col("e"))), "silhouette") { e =>
    val sizes = e.groupBy(col("lab").as("lb")).agg(count(lit(1)).as("nc"))
    val l = e.toDF("a", "la", "ea", "na")
    val r = e.toDF("b", "lb", "eb", "nb")
    val d4 = l.join(broadcast(r), col("a") =!= col("b"))
      .select(col("a"), col("la"), col("lb"),
        (lit(10000L) - round(
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4) * 10000)
          .cast("long")).as("d4"))
    val perCluster = d4.groupBy("a", "la", "lb").agg(sum("d4").as("sd4"))
      .join(broadcast(sizes), "lb")
      .withColumn("mean4", when(col("lb") === col("la"),
        when(col("nc") > 1, col("sd4").cast("double") / (col("nc") - 1).cast("double")))
        .otherwise(col("sd4").cast("double") / col("nc").cast("double")))
    val ab = perCluster.groupBy("a", "la").agg(
      max(when(col("lb") === col("la"), col("mean4"))).as("a4"),
      min(when(col("lb") =!= col("la"), col("mean4"))).as("b4"))
    val si = ab.select(col("a"), col("la"),
      // singleton cluster (no a) or single-cluster corpus (no b) → s = 0
      when(col("a4").isNull || col("b4").isNull, lit(0L))
        .otherwise(round(round(
          (col("b4") - col("a4")) / greatest(col("a4"), col("b4"))
            + signum((col("b4") - col("a4")) / greatest(col("a4"), col("b4")))
            * lit(1e-9), 4) * 10000))
        .cast("long").as("si4"))
    si.groupBy(col("la").as("label")).agg(
        count(lit(1)).as("n"), sum("si4").as("s4"))
      .select(col("label"), col("n"),
        (round(col("s4").cast("double") / (lit(10000.0) * col("n").cast("double")), 4)
          + lit(0.0)).as("silhouette"))
      .orderBy("label")
  }

  /** B-cubed precision/recall/F1 of a clustering against ground-truth
    * labels (Bagga & Baldwin 1998) — THE cluster-eval for dedup /
    * entity-resolution output: per-item credit, robust to a
    * cluster-count mismatch, unlike pair-F1 it doesn't let one giant
    * cluster dominate. With cells c = |cluster ∩ label| and N items:
    * P = Σ c²/n_cluster / N, R = Σ c²/n_label / N — every term a ratio
    * of exact integers, folded in (cluster, label) cell order so the
    * double sum is engine-identical.
    *
    * Scale shape: one equi-join on item id + a cells-bounded rollup;
    * the per-cluster / per-label size tables are CLUSTER/LABEL-bounded
    * → broadcast-safe at any corpus size. */
  def bcubed(assign: DataFrame, truth: DataFrame): DataFrame = {
    val j = assign.join(truth, "vec_id")
    val cells = j.groupBy("cluster", "label").agg(count(lit(1)).as("c"))
    val nc = cells.groupBy("cluster").agg(sum("c").as("ncl"))
    val nl = cells.groupBy("label").agg(sum("c").as("nlb"))
    val nn = cells.agg(sum("c").as("n"))
    val t = cells.join(broadcast(nc), "cluster").join(broadcast(nl), "label")
      .crossJoin(broadcast(nn))
      .withColumn("pt", (col("c") * col("c")).cast("double")
        / (col("ncl") * col("n")).cast("double"))
      .withColumn("rt", (col("c") * col("c")).cast("double")
        / (col("nlb") * col("n")).cast("double"))
    t.agg(first(col("n")).as("n"),
        aggregate(sort_array(collect_list(struct(col("cluster"), col("label"),
            col("pt")))), lit(0.0), (a, x) => a + x.getField("pt")).as("p"),
        aggregate(sort_array(collect_list(struct(col("cluster"), col("label"),
            col("rt")))), lit(0.0), (a, x) => a + x.getField("rt")).as("r"))
      .select(col("n"), round(col("p"), 4).as("bcubed_precision"),
        round(col("r"), 4).as("bcubed_recall"),
        round(lit(2.0) * col("p") * col("r") / (col("p") + col("r")), 4)
          .as("bcubed_f1"))
  }

  /** Shared geometry for the internal cluster-validity indices
    * ([[chIndex]], [[dbIndex]]): train the [[kmeans]] clustering, then
    * per row emit (cluster, d2) — the assignment AND its squared
    * distance in one expression (the array_min struct carries both), so
    * the validity scan costs exactly the assignment scan. Returns
    * (scored rows, final centroids). */
  private def clusterGeometry(embeddings: DataFrame, k: Int, iters: Int)
      : (DataFrame, Seq[(Int, Array[Double], Double)]) = {
    val e = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .withColumn("n2", dot(col("e"), col("e")))
    val cent = lloyd(e, k, iters)
    val m = array_min(array(cent.map { case (cid, cv, cn2) =>
      struct(
        (col("n2") - lit(2.0) * dot(col("e"), array(cv.map(lit): _*)) + lit(cn2)).as("d"),
        lit(cid).as("cid"))
    }: _*))
    val scored = e.select(col("vec_id"), col("e"),
      m.getField("cid").as("cluster"), m.getField("d").as("d2"))
    (scored, cent)
  }

  /** Global grid-rounded centroid of an (vec_id, e) frame — the lloyd
    * update step run on the whole corpus as one cluster. */
  private def globalCentroid(scored: DataFrame): Array[Double] = {
    val cells = scored
      .select(posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("pos").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .collect()
    val g = new Array[Double](cells.length)
    cells.foreach(r => g(r.getInt(0)) = gridRound(r.getDouble(1) / r.getLong(2)))
    g
  }

  /** Calinski–Harabasz index of the [[kmeans]] clustering — the
    * between/within variance-ratio validity score (higher = tighter,
    * better-separated clusters; THE "pick k" curve). Per-row squared
    * distances to the assigned centroid and per-cluster
    * centroid-to-global distances are each quantized to exact 1e-4
    * longs BEFORE summation, so W and B are exact integers and
    * CH = (B·(N−k)) / (W·(k−1)) is one division of exact products.
    * The global centroid is grid-rounded like every lloyd mean.
    *
    * Scale shape: the kmeans training shuffles + one assignment scan +
    * one k-row rollup — nothing pairwise anywhere. */
  def chIndex(embeddings: DataFrame, k: Int = 8, iters: Int = 1): DataFrame = {
    val (scored, cent) = clusterGeometry(embeddings, k, iters)
    val g = globalCentroid(scored)
    val gn2 = centNorm2(g)
    val sp = embeddings.sparkSession
    import sp.implicits._
    val centDf = cent.toDF("cid", "ce", "cn2")
    val w = scored.groupBy("cluster").agg(count(lit(1)).as("n"),
      sum(round(round(greatest(col("d2"), lit(0.0)), 4) * 10000).cast("long"))
        .as("w4c"))
    val b = centDf.select(col("cid").as("cluster"),
      (col("cn2") - lit(2.0) * dot(col("ce"), array(g.map(lit): _*)) + lit(gn2))
        .as("b2"))
    w.join(broadcast(b), "cluster")
      .agg(sum("n").as("n"), count(lit(1)).as("k"), sum("w4c").as("w4"),
        sum(col("n") * round(round(greatest(col("b2"), lit(0.0)), 4) * 10000)
          .cast("long")).as("b4"))
      .select(col("n"), col("k"),
        round(col("b4") / 10000.0, 4).as("ssb"),
        round(col("w4") / 10000.0, 4).as("ssw"),
        when(col("k") > 1 && col("n") > col("k") && col("w4") > 0,
          round((col("b4") * (col("n") - col("k"))).cast("double")
            / (col("w4") * (col("k") - 1)).cast("double"), 4)).as("ch"))
  }

  /** Davies–Bouldin index of the [[kmeans]] clustering — the
    * scatter-vs-separation validity score (lower = better): per cluster
    * R_i = max_{j≠i} (s_i + s_j)/d_ij with s = mean member distance to
    * the centroid and d = centroid separation. Scatter sums and pair
    * distances are exact 1e-4 longs (the 1e-4 scale cancels in R), so
    * every R is the same two-exact-ratio expression in both engines;
    * per-cluster rows carry (n, scatter, r_max) with the k-term
    * cid-ordered DB mean as a rider. Zero-separation pairs are dropped
    * identically on both sides. Same scale shape as [[chIndex]]. */
  def dbIndex(embeddings: DataFrame, k: Int = 8, iters: Int = 1): DataFrame = {
    val (scored, cent) = clusterGeometry(embeddings, k, iters)
    val sp = embeddings.sparkSession
    import sp.implicits._
    val sc = scored.groupBy("cluster").agg(count(lit(1)).as("n"),
      sum(round(round(sqrt(greatest(col("d2"), lit(0.0))), 4) * 10000)
        .cast("long")).as("s4"))
    val centDf = cent.toDF("cid", "ce", "cn2")
    val pair = centDf.toDF("ci", "cei", "cn2i")
      .crossJoin(broadcast(centDf.toDF("cj", "cej", "cn2j")))
      .where(col("ci") =!= col("cj"))
      .select(col("ci"), col("cj"),
        round(round(sqrt(greatest(
          col("cn2i") - lit(2.0) * dot(col("cei"), col("cej")) + col("cn2j"),
          lit(0.0))), 4) * 10000).cast("long").as("d4"))
      .where(col("d4") > 0)
    val r = pair
      .join(broadcast(sc.toDF("ci", "ni", "s4i")), "ci")
      .join(broadcast(sc.toDF("cj", "nj", "s4j")), "cj")
      .groupBy("ci")
      .agg(max((col("s4i").cast("double") / col("ni")
        + col("s4j").cast("double") / col("nj"))
        / col("d4").cast("double")).as("rmax"))
    val db = r.agg((aggregate(sort_array(collect_list(struct(col("ci"),
        col("rmax")))), lit(0.0), (a, x) => a + x.getField("rmax"))
      / count(lit(1))).as("db"))
    sc.toDF("ci", "n", "s4").join(r, "ci").crossJoin(broadcast(db))
      .select(col("ci").as("cluster"), col("n"),
        round(col("s4").cast("double") / (col("n") * 10000).cast("double"), 4)
          .as("scatter"),
        round(col("rmax"), 4).as("r_max"), round(col("db"), 4).as("db"))
      .orderBy("cluster")
  }

  /** Rand index + ADJUSTED Rand index of a clustering against ground
    * truth (Hubert & Arabie 1985) — the pair-counting agreement family
    * next to [[bcubed]]'s per-item one. Works on DOUBLED pair counts
    * (s_c = Σc(c−1), s_a = Σa(a−1), s_b = Σb(b−1), m = N(N−1)) so
    * everything stays integer: RI = (m + 2s_c − s_a − s_b)/m,
    * ARI = 2(m·s_c − s_a·s_b) / (m(s_a+s_b) − 2·s_a·s_b). The N⁴-scale
    * products are carried in DECIMAL(38,0) — exact far past int64 (N up
    * to ~3·10⁹ items before 38 digits run out).
    *
    * Scale shape: one id equi-join + a cells-bounded rollup into four
    * scalars — nothing here grows past the contingency table. */
  def randIndex(assign: DataFrame, truth: DataFrame): DataFrame = {
    val D = "decimal(38,0)"
    val cells = assign.join(truth, "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("c"))
    val sc = cells.agg(sum(col("c") * (col("c") - 1)).cast(D).as("sc"))
    val sa = cells.groupBy("cluster").agg(sum("c").as("a"))
      .agg(sum(col("a") * (col("a") - 1)).cast(D).as("sa"),
        sum("a").cast(D).as("n"))
    val sb = cells.groupBy("label").agg(sum("c").as("b"))
      .agg(sum(col("b") * (col("b") - 1)).cast(D).as("sb"))
    sc.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .withColumn("m", (col("n") * (col("n") - 1)).cast(D))
      .select(col("n").cast("long").as("n"),
        round((col("m") + lit(2) * col("sc") - col("sa") - col("sb"))
          .cast("double") / col("m").cast("double"), 4).as("rand_index"),
        round((lit(2) * (col("m") * col("sc") - col("sa") * col("sb")))
          .cast("double")
          / (col("m") * (col("sa") + col("sb"))
            - lit(2) * col("sa") * col("sb")).cast("double"), 4).as("ari"))
  }

  /** Normalized mutual information between a clustering and ground-truth
    * labels — the information-theoretic member of the cluster-agreement
    * trio (pair-counting [[randIndex]], per-item [[bcubed]]). Integer-ln
    * form throughout: N·MI = Σ c·(ln N + ln c − ln a − ln b) and
    * N·H = N·ln N − Σ a·ln a, every ln argument an exact integer; sums
    * folded in (cluster, label) order so the doubles are
    * engine-identical. NMI = 2·MI/(H_cluster + H_label). */
  def clusterNmi(assign: DataFrame, truth: DataFrame): DataFrame = {
    val cells = assign.join(truth, "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("c"))
    val nc = cells.groupBy("cluster").agg(sum("c").as("a"))
    val nl = cells.groupBy("label").agg(sum("c").as("b"))
    val nn = cells.agg(sum("c").as("n"))
    val mi = cells.join(broadcast(nc), "cluster").join(broadcast(nl), "label")
      .crossJoin(broadcast(nn))
      .withColumn("t", col("c").cast("double")
        * (log(col("n")) + log(col("c")) - log(col("a")) - log(col("b"))))
      .agg(aggregate(sort_array(collect_list(struct(col("cluster"),
          col("label"), col("t")))), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("smi"))
    val ha = nc
      .agg(aggregate(sort_array(collect_list(struct(col("cluster"),
          (col("a").cast("double") * log(col("a"))).as("t")))), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("sa"))
    val hb = nl
      .agg(aggregate(sort_array(collect_list(struct(col("label"),
          (col("b").cast("double") * log(col("b"))).as("t")))), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("sb"))
    nn.crossJoin(broadcast(mi)).crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .withColumn("mi", col("smi") / col("n"))
      .withColumn("hc", log(col("n")) - col("sa") / col("n"))
      .withColumn("hl", log(col("n")) - col("sb") / col("n"))
      .select(col("n"), round(col("mi"), 4).as("mi"),
        round(col("hc"), 4).as("h_cluster"), round(col("hl"), 4).as("h_label"),
        round(lit(2.0) * col("mi") / (col("hc") + col("hl")), 4).as("nmi"))
  }

  /** V-measure (Rosenberg & Hirschberg 2007): homogeneity h = 1 −
    * H(label|cluster)/H(label), completeness c = 1 −
    * H(cluster|label)/H(cluster), V = 2hc/(h+c) — the entropy-based
    * member of the agreement family that separates "each cluster is
    * pure" from "each class is whole" (NMI's single number can't).
    * Same integer-ln discipline as [[clusterNmi]]: N·H(L|C) =
    * Σ_c a·ln a − Σ_cells c·ln c, every ln argument an exact integer,
    * folds in (cluster, label) / cluster / label order. */
  def vMeasure(assign: DataFrame, truth: DataFrame): DataFrame = {
    val cells = assign.join(truth, "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("c"))
    val nc = cells.groupBy("cluster").agg(sum("c").as("a"))
    val nl = cells.groupBy("label").agg(sum("c").as("b"))
    val nn = cells.agg(sum("c").as("n"))
    val sCells = cells.agg(aggregate(sort_array(collect_list(struct(
        col("cluster"), col("label"),
        (col("c").cast("double") * log(col("c"))).as("t")))), lit(0.0),
        (acc, x) => acc + x.getField("t")).as("scc"))
    val sa = nc.agg(aggregate(sort_array(collect_list(struct(col("cluster"),
        (col("a").cast("double") * log(col("a"))).as("t")))), lit(0.0),
        (acc, x) => acc + x.getField("t")).as("sa"))
    val sb = nl.agg(aggregate(sort_array(collect_list(struct(col("label"),
        (col("b").cast("double") * log(col("b"))).as("t")))), lit(0.0),
        (acc, x) => acc + x.getField("t")).as("sb"))
    nn.crossJoin(broadcast(sCells)).crossJoin(broadcast(sa))
      .crossJoin(broadcast(sb))
      // N·H(label|cluster) = Σa·ln a − Σc·ln c; N·H(label) = N ln N − Σb ln b
      .withColumn("hlc", (col("sa") - col("scc")) / col("n"))
      .withColumn("hcl", (col("sb") - col("scc")) / col("n"))
      .withColumn("hl", log(col("n")) - col("sb") / col("n"))
      .withColumn("hc", log(col("n")) - col("sa") / col("n"))
      .withColumn("h", when(col("hl") > 0.0, lit(1.0) - col("hlc") / col("hl"))
        .otherwise(lit(1.0)))
      .withColumn("cm", when(col("hc") > 0.0, lit(1.0) - col("hcl") / col("hc"))
        .otherwise(lit(1.0)))
      .select(col("n"), round(col("h"), 4).as("homogeneity"),
        round(col("cm"), 4).as("completeness"),
        when(col("h") + col("cm") > 0.0,
          round(lit(2.0) * col("h") * col("cm") / (col("h") + col("cm")), 4))
          .otherwise(lit(0.0)).as("v_measure"))
  }

  /** Dunn index of a labeled embedding set: min inter-cluster vs max
    * intra-cluster cosine distance — the compactness/separation scalar
    * (>1 ⇒ clusters farther apart than their widest member spread).
    * Both extremes are EXACT 1e-4 integers off the pairwise distance
    * table — no float decision anywhere, so min/max are order-free.
    *
    * Scale shape: deliberately exact-pairwise (n²/2 in-row dot
    * products, no shuffle beyond the final scalar agg) — an EVAL op
    * for sampled/bounded eval sets, not a corpus-scale pipeline stage;
    * at corpus scale run it on a per-label sample. */
  def dunnIndex(embeddings: DataFrame, labelCol: String = "label"): DataFrame =
    withBoundedEvalSlice(Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), col(labelCol).as("lab"),
          asDouble(col("embedding")).as("e")))
      .withColumn("nrm", norm(col("e"))), "dunnIndex") { e =>
    val l = e.toDF("a", "la", "ea", "na")
    val d4 = l.join(broadcast(e.toDF("b", "lb", "eb", "nb")),
        col("a") < col("b"))
      .select(col("la"), col("lb"),
        (lit(10000L) - round(round(
          dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          * 10000).cast("long")).as("d4"))
    d4.agg(
        min(when(col("la") =!= col("lb"), col("d4"))).as("min_inter"),
        max(when(col("la") === col("lb"), col("d4"))).as("max_intra"))
      .select(col("min_inter"), col("max_intra"),
        round(col("min_inter").cast("double") / col("max_intra").cast("double"),
          4).as("dunn"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998,
    * λ = ½): greedily pick k results that are RELEVANT to the query but
    * DISSIMILAR to what's already picked — the diversity re-ranker that
    * stops a near-dup corpus from returning five copies of one page.
    * With λ = ½ the argmax reduces to rel − max-sim in EXACT 1e-4
    * integer units (both cosines ROUND(·,4)-scaled), so every greedy
    * decision is an integer comparison with vec_id tie-breaks.
    *
    * Scale shape: relevance is one broadcast-query scan + TakeOrdered
    * to `topN`; the pairwise sim matrix and the greedy loop run over
    * topN² / k·topN cells — BOUNDED BY CONSTRUCTION (topN ≤ 1000
    * enforced), the [[graft.ext.TextAnalysis.prioritySample]] k·P
    * pattern, so the driver step is O(topN²) regardless of corpus
    * size. Output: (step 1..k, vec_id, mmr = score/1e4). */
  def mmrSelect(embeddings: DataFrame, queryId: Long = 0L, topN: Int = 20,
      k: Int = 5): DataFrame = {
    require(topN >= k && topN <= 1000, "topN out of the bounded-driver range")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = Dedup.spreadForCompute(
        embeddings.select(col("vec_id"), asDouble(col("embedding")).as("e")))
      .withColumn("nrm", norm(col("e")))
    val q = e.where(col("vec_id") === queryId)
      .select(col("e").as("qe"), col("nrm").as("qn"))
    val rel = e.where(col("vec_id") =!= queryId).crossJoin(broadcast(q))
      .select(col("vec_id"), col("e"), col("nrm"),
        round(dot(col("e"), col("qe")) / (col("nrm") * col("qn")), 4).as("cos"))
    val cand = rel.orderBy(col("cos").desc, col("vec_id")).limit(topN)
      .select(col("vec_id"), col("e"), col("nrm"),
        round(col("cos") * 10000).cast("long").as("ri"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = cand.select(col("vec_id").as("va"), col("e").as("ea"),
      col("nrm").as("na"))
    val b = cand.select(col("vec_id").as("vb"), col("e").as("eb"),
      col("nrm").as("nb"))
    val sims = a.crossJoin(broadcast(b)).where(col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        round(round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          * 10000).cast("long").as("si"))
    val cs = cand.select(col("vec_id"), col("ri")).as[(Long, Long)]
      .collect().sortBy(c => (-c._2, c._1))
    val simMap = sims.as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    cand.unpersist(blocking = false)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to math.min(k, cs.length)).foreach { step =>
      val best = cs.iterator.filterNot(c => chosen.contains(c._1))
        .map { case (v, ri) =>
          val maxSim = if (chosen.isEmpty) 0L
            else chosen.map(sv => simMap((v, sv))).max
          (v, if (chosen.isEmpty) ri else ri - maxSim)
        }
        .reduceLeft((x, y) => if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
      picked += ((step, best._1, best._2))
      chosen += best._1
    }
    spark.createDataset(picked.toSeq).toDF("step", "vec_id", "sc")
      .select(col("step"), col("vec_id"),
        (col("sc").cast("double") / 10000.0).as("mmr"))
      .orderBy("step")
  }
}
