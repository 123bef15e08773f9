package graft.ext

import graft.SparkSpec
import scala.jdk.CollectionConverters._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def pr(pairs: Seq[(Long, Long)], iters: Int = 5): Map[Long, Double] =
    Graph.pageRank(pairs.toDF("doc_a", "doc_b"), iters)
      .as[(Long, Double)].collect().toMap

  /** Driver-side reference: dense synchronous iteration, same recurrence. */
  private def naive(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val edges = pairs.flatMap(p => Seq(p, p.swap))
    val nodes = edges.map(_._1).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      r = nodes.map { v =>
        val in = edges.filter(_._2 == v).map(_._1)
        v -> (0.15 / n + 0.85 * in.map(m => r(m) / deg(m)).sum)
      }.toMap
    }
    r.map { case (k, v) => k -> math.rint(v * 1e4) / 1e4 }
  }

  test("pageRank on a star: hub outranks leaves; ranks sum to ~1") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val got = pr(star)
    assert(got(1L) > got(2L))
    assert(Seq(2L, 3L, 4L, 5L).map(got).distinct.size == 1) // symmetry
    assert(math.abs(got.values.sum - 1.0) < 1e-2)
  }

  test("pageRank matches the dense reference iteration") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 1L))
    val got = pr(g)
    val want = naive(g, 5)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 2e-4, s"node $k") }
  }

  test("distributed path equals the driver-local path (within rounding ulps)") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 1L))
    val local = pr(g)
    val dist = Graph.pageRank(g.toDF("doc_a", "doc_b"), 5, localThreshold = 0L)
      .as[(Long, Double)].collect().toMap
    // the distributed groupBy sums in shuffle-fetch order — a value within
    // 1 ulp of a .00005 boundary may round differently, so compare with
    // tolerance, not equality
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) => assert(math.abs(v - dist(k)) <= 2e-4, s"node $k") }
  }

  test("pageRank is invariant to edge-list partitioning") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
    val a = pr(g)
    val b = Graph.pageRank(g.toDF("doc_a", "doc_b").repartition(7), 5)
      .as[(Long, Double)].collect().toMap
    assert(a == b)
  }

  test("triangleStats: hand-counted census; reversed/duplicate edges canonicalize") {
    // triangle 1-2-3 plus pendant 3-4: degrees 2,2,3,1 →
    // wedges = 1+1+3+0 = 5, triangles = 1, gcc = 3·1/5 = 0.6
    val g = Seq((1L, 2L), (3L, 2L), (1L, 3L), (3L, 4L), (2L, 1L), (1L, 2L))
      .toDF("doc_a", "doc_b") // includes a reversed and an exact duplicate
    val r = Graph.triangleStats(g)
      .as[(Long, Long, Long, Option[Double])].head()
    assert(r == ((4L, 5L, 1L, Some(0.6))), r.toString)
    // triangle-free graph: zero triangles, defined gcc 0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val p = Graph.triangleStats(path).as[(Long, Long, Long, Option[Double])].head()
    assert(p == ((2L, 1L, 0L, Some(0.0))), p.toString)
    // single edge: no wedges → gcc undefined (null), not a crash
    val one = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val o = Graph.triangleStats(one).as[(Long, Long, Long, Option[Double])].head()
    assert(o == ((1L, 0L, 0L, None)), o.toString)
  }

  test("localClustering: clique corner = 1.0, hub of strangers = 0.0, pendant excluded") {
    // triangle 1-2-3; node 3 also bridges to 4 and 5 (4,5 unconnected)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (3L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Graph.localClustering(g)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))          // both neighbors connected
    assert(got(2L) == ((2L, 1L, 1.0)))
    // node 3: degree 4, 6 neighbor pairs, 1 connected -> 1/6
    assert(got(3L) == ((4L, 1L, math.rint(1.0 / 6 * 10000) / 10000)))
    assert(!got.contains(4L) && !got.contains(5L)) // degree 1: undefined
  }

  test("degreeDistribution: histogram + Hill alpha; all-deg-1 yields null alpha") {
    // star 1-{2,3,4}: center degree 3, leaves degree 1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val got = Graph.degreeDistribution(star)
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 3L && got(3L)._2 == 1L)
    // alpha = 1 + 4 / (3*ln1 + 1*ln3) = 1 + 4/ln3, same on every row
    val a = math.rint((1.0 + 4.0 / math.log(3.0)) * 10000) / 10000
    assert(got.values.forall(_._3.contains(a)))
    // single edge: both nodes degree 1, sum ln d = 0 -> alpha null
    val one = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val o = Graph.degreeDistribution(one).as[(Long, Long, Option[Double])].head()
    assert(o == ((1L, 2L, None)))
  }

  test("assortativity: a star is maximally disassortative, a cycle degenerate") {
    // star 1-{2,3,4}: every stub pairs degree 3 with degree 1 -> r = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val s = Graph.assortativity(star).as[(Long, Option[Double])].head()
    assert(s == ((3L, Some(-1.0))))
    // triangle: every degree 2 -> zero variance -> r null
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val t = Graph.assortativity(tri).as[(Long, Option[Double])].head()
    assert(t == ((3L, None)))
  }

  test("clusterConductance: sealed cluster phi 0, bridged cluster counts its cut") {
    // edges: 1-2 (cluster A internal), 3-4 (B internal), 2-3 (A-B bridge)
    val g = Seq((1L, 2L), (3L, 4L), (2L, 3L)).toDF("doc_a", "doc_b")
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("doc_id", "cluster")
    val got = Graph.clusterConductance(g, lab)
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // A: nodes {1,2} deg 1+2=3, cut 1, volAll 6 -> min(3,3)=3 -> 1/3
    assert(got("A") == (("A", 2L, 3L, 1L, Some(math.rint(1.0 / 3 * 10000) / 10000))))
    assert(got("B") == (("B", 2L, 3L, 1L, Some(math.rint(1.0 / 3 * 10000) / 10000))))
    // sealed: two disjoint edges, same labels -> cut 0 both
    val g2 = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val s2 = Graph.clusterConductance(g2, lab)
      .as[(String, Long, Long, Long, Option[Double])].collect()
    assert(s2.forall(r => r._4 == 0L && r._5.contains(0.0)))
  }

  test("adamic-adar: path opens one pair, star opens three") {
    import spark.implicits._
    // path 1-2-3: open pair (1,3) through center 2 (deg 2) -> 1/ln2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val a = Graph.adamicAdar(path).as[(Long, Long, Double)].collect().toSeq
    assert(a == Seq((1L, 3L, 1.4427)), a.toString)
    // star center 1 with leaves 2,3,4: three open pairs, each 1/ln3
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val b = Graph.adamicAdar(star).as[(Long, Long, Double)].collect().toSeq
    assert(b == Seq((2L, 3L, 0.9102), (2L, 4L, 0.9102), (3L, 4L, 0.9102)),
      b.toString)
    // triangle: every wedge closed -> empty
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    assert(Graph.adamicAdar(tri).count() == 0L)
  }

  test("adamic-adar: maxCenterDegree truncates super-hub centers before the wedge join") {
    import spark.implicits._
    // hub 0 touches 1..6 (deg 6), plus edges 1-2 and 2-7. Degrees:
    // 0:6, 2:3, 1:2, rest 1. Cap 5 excludes exactly the hub as a center.
    val hub = (1L to 6L).map(l => (0L, l)) ++ Seq((1L, 2L), (2L, 7L))
    val full = Graph.adamicAdar(hub.toDF("doc_a", "doc_b"))
      .as[(Long, Long, Double)].collect().toSeq
    // uncapped: hub-mediated open pairs like (3,4) are present
    assert(full.exists(p => p._1 == 3L && p._2 == 4L))
    val capped = Graph.adamicAdar(hub.toDF("doc_a", "doc_b"),
        maxCenterDegree = 5L)
      .as[(Long, Long, Double)].collect().toSeq
    // capped: no hub-mediated pair survives...
    assert(!capped.exists(p => p._1 == 3L && p._2 == 4L))
    // ...and the non-hub wedges keep their exact scores: (0,7) and (1,7)
    // both open through center 2 (deg 3) -> 1/ln3
    assert(capped.toSet == Set((0L, 7L, 0.9102), (1L, 7L, 0.9102)))
  }


  test("k-core peeling: path dissolves, triangle is the 2-core, K4 the 3-core") {
    import spark.implicits._
    // path 1-2-3-4: no 2-core; triangle 5-6-7: 2-core, no 3-core; plus
    // self-loops, a duplicate and reversed pairs, which change nothing
    val g = Seq((1L,2L),(2L,3L),(3L,4L),(5L,6L),(6L,7L),(5L,7L),
        (2L,1L),(1L,2L),(3L,3L),(7L,6L),(8L,8L))
      .toDF("doc_a", "doc_b")
    val got = Graph.kCoreSummary(g, Seq(2, 3))
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((2, 3L, 3L), (3, 0L, 0L)), got.toString)
    // K4: 3-core is the whole graph; its 4- and 5-cores are empty
    val k4 = (for (a <- 1 to 4; b <- a + 1 to 4) yield (a.toLong, b.toLong))
      .toDF("doc_a", "doc_b")
    val g2 = Graph.kCoreSummary(k4, Seq(5, 3, 4)).as[(Int, Long, Long)].collect()
    assert(g2.toSeq == Seq((3, 4L, 6L), (4, 0L, 0L), (5, 0L, 0L)), g2.toSeq.toString)
    // the 2-peel takes 2 rounds to dissolve the path (its ends, then its
    // middle edge) and a third that changes nothing: a cap of 2 throws
    intercept[IllegalArgumentException](Graph.kCoreSummary(g, Seq(2), maxRounds = 2))
    assert(Graph.kCoreSummary(g, Seq(2), maxRounds = 3)
      .as[(Int, Long, Long)].collect().toSeq == Seq((2, 3L, 3L)))
  }

  test("bfs layers: path distances from min node, disconnected reports -1") {
    import spark.implicits._
    // path 1-2-3-4 plus island 9-10: from node 1, dists 0,1,2,3; island
    // -1; self-loops, a duplicate and reversed pairs change nothing
    val g = Seq((1L,2L),(2L,3L),(3L,4L),(9L,10L),(2L,1L),(3L,2L),(3L,2L),(4L,4L),(11L,11L))
      .toDF("doc_a", "doc_b")
    val got = Graph.bfsLayers(g).as[(Int, Long)].collect().toSeq
    assert(got == Seq((-1, 2L), (0, 1L), (1, 1L), (2, 1L), (3, 1L)),
      got.toString)
    // explicit source in the island
    val fromIsland = Graph.bfsLayers(g, source = Some(9L))
      .as[(Int, Long)].collect().toSeq
    assert(fromIsland == Seq((-1, 4L), (0, 1L), (1, 1L)), fromIsland.toString)
    // a source that is no node is its own layer 0 and reaches nothing
    val fromNowhere = Graph.bfsLayers(g, source = Some(5L))
      .as[(Int, Long)].collect().toSeq
    assert(fromNowhere == Seq((-1, 6L), (0, 1L)), fromNowhere.toString)
    // a graph without edges has no default source, but a given one is
    val empty = Seq((1L, 1L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](Graph.bfsLayers(empty))
    assert(Graph.bfsLayers(empty, source = Some(1L)).as[(Int, Long)].collect().toSeq ==
      Seq((0, 1L)))
    // maxDepth too small for the path -> loud failure, not a wrong answer;
    // an eccentricity equal to maxDepth throws too (the round that would
    // find the frontier empty never runs), one more round passes
    intercept[IllegalArgumentException](Graph.bfsLayers(g, maxDepth = 2))
    intercept[IllegalArgumentException](Graph.bfsLayers(g, maxDepth = 3))
    assert(Graph.bfsLayers(g, maxDepth = 4).as[(Int, Long)].collect().toSeq == got)
  }

  test("closenessCentrality: path 1-2-3 + island pair, hand values") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("doc_a", "doc_b")
    val got = Graph.closenessCentrality(g)
      .as[(Long, Long, Int, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2, 3L, 0.6667, 1.5),   // 1: d(2)=1, d(3)=2
      (2L, 2L, 1, 2L, 1.0, 2.0),      // middle of the path
      (3L, 2L, 2, 3L, 0.6667, 1.5),
      (9L, 1L, 1, 1L, 1.0, 1.0),      // island pair sees only its twin
      (10L, 1L, 1, 1L, 1.0, 1.0)), got.toString)
    intercept[IllegalArgumentException] {
      Graph.closenessCentrality(g, maxDepth = 1)
    }
  }

  test("inducedSlice: no-op under budget, md5-deterministic keep set above it") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (2L, 5L))
      .toDF("doc_a", "doc_b")
    // budget covers the graph → identical edge set back
    val full = Graph.inducedSlice(g, maxNodes = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(full == Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (2L, 5L)))
    // binding budget: keep = the 3 md5('cslice'||id)-smallest ids, edges
    // require BOTH endpoints kept — recompute the sample independently
    val keep = Seq(1L, 2L, 3L, 4L, 5L)
      .sortBy(id => (org.apache.commons.codec.digest.DigestUtils.md5Hex(
        "cslice" + id.toString), id)).take(3).toSet
    val sliced = Graph.inducedSlice(g, maxNodes = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expect = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (2L, 5L))
      .filter { case (a, b) => keep(a) && keep(b) }
    assert(sliced == expect, s"keep=$keep got=$sliced want=$expect")
    // slice bound pinned: the oracle interpolates this constant, and it
    // must stay ABOVE the sf0.1 fixture's V (~1.4k) so driver-scale
    // hashes are slice-invariant
    assert(Graph.ClosenessSliceNodes == 2048)
  }

  test("approxCloseness: all-nodes-as-pivots gives the exact EW values") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("doc_a", "doc_b")
    // numPivots >= V ⇒ every node is a pivot ⇒ ĉ(v) = r(n−1)/(nS)
    // computed over ALL nodes — hand values with n = 5
    val got = Graph.approxCloseness(g, numPivots = 16)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 3L, 0.5333),  // r=2 (d=1,2), S=3: 2·4/(5·3)
      (2L, 2L, 2L, 0.8),     // middle of the path: 2·4/(5·2)
      (3L, 2L, 3L, 0.5333),
      (9L, 1L, 1L, 0.8),     // island: 1·4/(5·1)
      (10L, 1L, 1L, 0.8)), got.toString)
    intercept[IllegalArgumentException] {
      Graph.approxCloseness(g, maxDepth = 1)
    }
    intercept[IllegalArgumentException] {
      Graph.approxCloseness(g, numPivots = 0)
    }
  }

  test("approxCloseness ranking tracks exact closenessCentrality at 64/300 pivots") {
    import spark.implicits._
    // deterministic connected graph: a 300-node chain + skip links — a
    // spread of centralities (middle nodes central, ends peripheral)
    val n = 300
    val edges = ((0 until n - 1).map(i => (i.toLong, (i + 1).toLong)) ++
      (0 until n).map(i => (i.toLong, ((i * 7 + 3) % n).toLong)))
      .filter { case (a, b) => a != b }
    val g = edges.toDF("doc_a", "doc_b")
    val exact = Graph.closenessCentrality(g, maxDepth = 16)
      .select("user_id", "closeness").as[(Long, Double)].collect().toMap
    val approx = Graph.approxCloseness(g, numPivots = 64, maxDepth = 16)
      .select("user_id", "closeness_hat").as[(Long, Double)].collect().toMap
    assert(approx.keySet == exact.keySet)
    // the EW guarantee is per-node estimation error (Hoeffding, O(1/√k)
    // of the value scale), not rank stability among near-ties — check
    // the scale-corrected relative error: E[ĉ] = closeness·(n−1)/n on a
    // connected graph, so est = ĉ·n/(n−1) estimates closeness directly
    val rel = exact.keySet.toSeq.map { id =>
      val est = approx(id) * n / (n - 1.0)
      math.abs(est - exact(id)) / exact(id)
    }
    val meanRel = rel.sum / rel.length
    assert(meanRel < 0.10, s"mean relative error $meanRel at 64/300 pivots")
    assert(rel.max < 0.40, s"max relative error ${rel.max}")
    // rank overlap is a WEAK signal on this graph — the skip links make
    // it small-world, so the top decile is a band of near-ties that
    // O(1/√k) noise reshuffles freely; the pinned floor (deterministic:
    // fixed pivot hash) just guards against gross inversions, the real
    // contract is the relative-error bound above
    val topE = exact.toSeq.sortBy { case (id, v) => (-v, id) }.take(10).map(_._1).toSet
    val topA = approx.toSeq.sortBy { case (id, v) => (-v, id) }.take(10).map(_._1).toSet
    assert((topE & topA).size >= 3, s"top-10 overlap ${(topE & topA).size}")
  }

  /** 152 nodes (W = 3 bitset words): a 140-node chain with skip links,
    * a disconnected 10-node path, an isolated pair; plus a self-loop, a
    * reversed duplicate, and a node seen only in a self-loop (dropped). */
  private val multiWordEdges: Seq[(Long, Long)] =
    (0 until 139).map(i => (i.toLong, i + 1L)) ++
      (0 until 140).map(i => (i.toLong, ((i * 7 + 3) % 140).toLong))
        .filter { case (a, b) => a != b } ++
      (200 until 209).map(i => (i.toLong, i + 1L)) ++
      Seq((300L, 301L), (5L, 5L), (1L, 0L), (400L, 400L))

  /** Plain-Scala BFS from every node: node -> (distance -> node count),
    * the source itself at distance 0. */
  private def bfsHistograms(edges: Seq[(Long, Long)]): Map[Long, Map[Int, Long]] = {
    val nbrs = edges.filter { case (a, b) => a != b }
      .flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2).distinct }
    nbrs.keys.map { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = Seq(s)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(nbrs).distinct.filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      s -> dist.values.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    }.toMap
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("closeness and approxCloseness match a plain BFS on a 3-word graph") {
    val hist = bfsHistograms(multiWordEdges)
    assert(hist.size == 152 && !hist.contains(400L))
    val g = multiWordEdges.toDF("doc_a", "doc_b").repartition(3)
    val want = hist.toSeq.sortBy(_._1).map { case (v, h) =>
      val reached = h.values.sum - 1
      val sumDist = h.map { case (d, c) => d * c }.sum
      // harmonic folds the histogram in distance order, as the oracle does
      val harmonic = h.toSeq.sorted.filter(_._1 > 0)
        .foldLeft(0.0) { case (a, (d, c)) => a + c.toDouble / d }
      (v, reached, h.keys.max, sumDist, round4(reached.toDouble / sumDist),
        round4(harmonic))
    }
    val got = Graph.closenessCentrality(g, maxDepth = 16)
      .as[(Long, Long, Int, Long, Double, Double)].collect().toSeq
    assert(got == want)
    // every node a pivot: k_reached and sum_dist are the exact per-node
    // reach and distance sum, closeness_hat r(n−1)/(nS) with n = 152
    val n = hist.size.toLong
    val wantHat = want.map { case (v, r, _, s, _, _) =>
      (v, r, s, round4((r * (n - 1)).toDouble / (s * n).toDouble)) }
    val gotHat = Graph.approxCloseness(g, numPivots = 256, maxDepth = 16)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(gotHat == wantHat)
  }

  test("bfsLayers and kCoreSummary match plain BFS and edge peeling on a 3-word graph") {
    val hist = bfsHistograms(multiWordEdges)
    val g = multiWordEdges.toDF("doc_a", "doc_b").repartition(3)
    for (src <- Seq(0L, 70L, 139L, 204L, 300L)) {
      val h = hist(src)
      val want = (h.toSeq :+ (-1 -> (hist.size - h.values.sum))).filter(_._2 > 0).sorted
      val got = Graph.bfsLayers(g, source = Some(src), maxDepth = 16)
        .as[(Int, Long)].collect().toSeq
      assert(got == want, s"source $src")
    }
    // plain edge peeling to a fixpoint, each k from the previous k's core
    var e = multiWordEdges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    val ks = Seq(2, 3, 4, 5)
    val want = ks.map { k =>
      var prev = -1
      while (e.size != prev) {
        prev = e.size
        val deg = e.flatMap(x => Seq(x._1, x._2)).groupBy(identity).map { case (v, vs) => v -> vs.size }
        e = e.filter(x => deg(x._1) >= k && deg(x._2) >= k)
      }
      (k, e.flatMap(x => Seq(x._1, x._2)).distinct.size.toLong, e.size.toLong)
    }
    assert(want.map(_._3).distinct.size > 2, want.toString) // the peel bites
    val got = Graph.kCoreSummary(g, ks, maxRounds = 64).as[(Int, Long, Long)].collect().toSeq
    assert(got == want)
  }

  /** The stage count of each job the body launches, in launch order,
    * seen by a listener on a private job group; a marker job run after
    * the body is seen last (the listener bus delivers in order), so every
    * job of the body is counted. */
  private def jobStages(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"graph-jobs-${System.nanoTime()}"
    val marker = group + "-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
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

  test("bitset BFS: one job per round; only the final state stays cached") {
    val sc = spark.sparkContext
    // a path of n nodes has diameter n − 1: n − 1 rounds find new bits,
    // and one more finds none
    def path(n: Int) = (1 until n).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    for (n <- Seq(4, 7)) {
      val before = sc.getPersistentRDDs.keySet
      var df: org.apache.spark.sql.DataFrame = null
      // the node index collect (map + result stage), then one job per
      // round: the first also runs the adjacency's groupByKey, later
      // ones read the checkpointed state through the narrow join, so
      // only the message shuffle precedes the result stage
      val stages = jobStages { df = Graph.closenessCentrality(path(n)) }
      assert(stages == Seq(2, 3) ++ Seq.fill(n - 1)(2), s"n = $n")
      assert(df.collect().length == n)
      assert((sc.getPersistentRDDs.keySet -- before).size <= 1, s"n = $n")
    }
    // approxCloseness runs the same loop after its pivot pick
    val approx = Seq(4, 7).map(n => jobStages(Graph.approxCloseness(path(n))).size)
    assert(approx(1) - approx(0) == 3, approx.toString)
    val before = sc.getPersistentRDDs.keySet
    Graph.approxCloseness(path(5)).collect()
    assert((sc.getPersistentRDDs.keySet -- before).size <= 1)
    // bfsLayers and kCoreSummary run the same loop: one job per round
    // after their set-up job, and keep nothing cached
    for (n <- Seq(4, 7)) {
      val before = sc.getPersistentRDDs.keySet
      // the node count / default source (distinct: map + result stage),
      // then the n rounds of the BFS from node 1, then the histogram
      // (countByValue: map + result stage)
      var layers: org.apache.spark.sql.DataFrame = null
      val bfs = jobStages { layers = Graph.bfsLayers(path(n)) }
      // the node and degree count (distinct, degree rollup, result), then
      // one round per pair of ends peeled off the path for k = 2; the
      // empty 2-core leaves k = 3 and 4 no round to run
      var cores: org.apache.spark.sql.DataFrame = null
      val kcore = jobStages { cores = Graph.kCoreSummary(path(n)) }
      assert(bfs == Seq(2, 3) ++ Seq.fill(n - 1)(2) ++ Seq(2), s"n = $n: $bfs")
      assert(kcore == Seq(3, 3) ++ Seq.fill(n / 2 - 1)(2), s"n = $n: $kcore")
      assert(layers.count() == n && cores.count() == 3)
      assert(sc.getPersistentRDDs.keySet == before, s"n = $n")
    }
    // a frontier outliving maxDepth, or a peel outliving maxRounds, still
    // throws, and drops its state
    val beforeThrow = sc.getPersistentRDDs.keySet
    intercept[IllegalArgumentException](Graph.closenessCentrality(path(7), maxDepth = 6))
    intercept[IllegalArgumentException](Graph.approxCloseness(path(7), maxDepth = 6))
    intercept[IllegalArgumentException](Graph.bfsLayers(path(7), maxDepth = 6))
    intercept[IllegalArgumentException](Graph.kCoreSummary(path(7), maxRounds = 2))
    intercept[IllegalArgumentException](Graph.kCoreSummary(path(7), Seq(1, 2), maxRounds = 2))
    assert(sc.getPersistentRDDs.keySet == beforeThrow)
  }

}
