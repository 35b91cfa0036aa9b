package graft

import graft.dedup.Cluster

/** Connected components: hand graphs, brute-force equivalence on a seeded
  * random graph, and logarithmic-round convergence on a long chain.
  */
class ClusterSpec extends SparkSpec {

  private def comps(edges: Seq[(Long, Long)], maxIters: Int = 50): Map[Long, Long] = {
    import spark.implicits._
    Cluster.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Reference union-find, for brute-force comparison. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // relabel every root to the minimum member of its component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
  }

  test("chain, separate components, and symmetric duplicate edges") {
    // 1-2-3-4 chain plus {10,11}, with duplicates and reversed edges thrown in
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L), (1L, 2L), (10L, 11L))
    val got = comps(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("empty edge set yields empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Cluster.connectedComponents(empty, "a", "b").isEmpty)
  }

  test("matches union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    // 80 nodes, 70 edges: several nontrivial components + isolated pairs
    val edges = Seq.fill(70)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    assert(comps(edges) == unionFind(edges))
  }

  test("long chain converges in logarithmic rounds (pointer jumping)") {
    // a 64-node chain has diameter 63; plain min-propagation would need 63
    // rounds. Relax + pointer-jump must finish well within 12.
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = comps(edges, maxIters = 12)
    assert(got.values.toSet == Set(0L) && got.size == 64)
  }

  test("maxIters failure is loud: an over-tight round bound throws, never loops") {
    // the round cap is the guard against a (hypothetical) bug breaking the
    // monotone-label invariant: the failure mode must be an exception
    // naming the bound, not silent non-termination or a wrong labeling
    val edges = (0L until 63L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] { comps(edges, maxIters = 1) }
    assert(e.getMessage.contains("no fixpoint after 1 rounds"))
  }

  test("star resolves in the minimum rounds (diameter-2 graph)") {
    // the bench's cc_hot_star shape in miniature: every leaf is one hop
    // from the center, so the seed relax already labels everything 0 and
    // the loop must exit on its FIRST convergence check (maxIters = 1
    // suffices — compare the chain above, which needs several)
    val edges = (1L until 200L).map(i => (0L, i))
    val got = comps(edges, maxIters = 1)
    assert(got.values.toSet == Set(0L) && got.size == 200)
  }
}
