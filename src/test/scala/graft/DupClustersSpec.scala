package graft

import graft.operators.TrainingOps

/** Convergence and correctness of the connected-components step.
  * Default path: large-star/small-star contraction
  * (TrainingOps.dupClustersFromPairs, r3 verdict #3) — per-pass edge mass
  * must SHRINK, convergence in few alternations on both deep (path) and
  * wide (star) worst cases — and its labels must equal a driver-side
  * union-find over the same edges, an independent reference that shares
  * no code path with the Spark plan.
  */
class DupClustersSpec extends SparkTestBase {

  test("64-node path converges in few alternations, labels = component min") {
    import spark.implicits._
    // path 0-1-2-…-63: diameter 63. Plain one-hop min propagation needs
    // ~63 passes; the contraction lands well under.
    val pairs = (0 until 63).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val (labels, passes) = TrainingOps.dupClustersFromPairs(pairs)
    val rows = labels.collect()
    assert(rows.length === 64)
    assert(rows.forall(_.getLong(1) === 0L),
      "some node missed the component minimum")
    assert(rows.count(_.getBoolean(2)) === 1, "exactly one keeper expected")
    assert(passes <= 10,
      s"contraction should converge in ≤10 passes on diameter 63, took $passes")
  }

  test("two components keep distinct minima and keepers") {
    import spark.implicits._
    val pairs = Seq((1L, 5L), (5L, 3L), (10L, 12L), (12L, 11L), (11L, 10L))
      .toDF("doc_a", "doc_b")
    val (labels, _) = TrainingOps.dupClustersFromPairs(pairs)
    val byId = labels.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(Seq(1L, 3L, 5L).forall(byId(_)._1 == 1L))
    assert(Seq(10L, 11L, 12L).forall(byId(_)._1 == 10L))
    assert(byId(1L)._2 && byId(10L)._2)
    assert(labels.filter("is_keeper").count() === 2L)
  }

  test("non-convergence is loud, not silently wrong (ADVICE r2)") {
    import spark.implicits._
    val pairs = (0 until 40).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    assertThrows[IllegalStateException] {
      TrainingOps.dupClustersFromPairs(pairs, maxPasses = 1)
    }
  }

  test("path+star worst case: tight pass bound AND per-pass edge contraction " +
      "(r3 verdict #3)") {
    import spark.implicits._
    // one deep component (64-node path rooted at 0) + one wide component
    // whose center is the LARGEST id (star worst case for orientation:
    // every leaf must be rewired off the hub toward the true minimum) +
    // a clique-ish blob (the shape real near-dup clusters take)
    val path = (0 until 63).map(i => (i.toLong, i.toLong + 1))
    val hub = 9999L
    val star = (9000L until 9099L).map(leaf => (hub, leaf))
    val blob = for (a <- 500L until 520L; b <- (a + 1) until 520L) yield (a, b)
    val pairs = (path ++ star ++ blob).toDF("doc_a", "doc_b")
    val trace = scala.collection.mutable.Buffer[Long]()
    val (labels, passes) =
      TrainingOps.dupClustersFromPairs(pairs, edgeTrace = Some(trace))
    val byId = labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 to 63).forall(i => byId(i.toLong) == 0L), "path mislabeled")
    assert(byId(hub) === 9000L, "star hub missed its component minimum")
    assert((9000L until 9099L).forall(byId(_) == 9000L), "star leaf mislabeled")
    assert((500L until 520L).forall(byId(_) == 500L), "blob mislabeled")
    assert(passes <= 8,
      s"path(64)+star(100)+blob(20) should converge in ≤8 alternations, took $passes")
    // the contraction property itself: the blob's quadratic edge mass (190
    // edges over 20 nodes) must collapse — the final star forest carries
    // exactly one edge per non-root node, strictly below the input mass
    val nNodes = labels.count()
    val nComponents = labels.filter("is_keeper").count()
    assert(trace.head > trace.last,
      s"edge mass did not contract: $trace")
    assert(trace.last === nNodes - nComponents,
      s"final edge mass ${trace.last} != non-root nodes ${nNodes - nComponents}")
  }

  test("star contraction ≡ pointer doubling on a mixed random-ish graph") {
    import spark.implicits._
    // deterministic pseudo-random edges over 400 nodes: multiple components
    // of mixed shape, checked against a driver-side union-find (the min-id
    // root of each component is its label and its one keeper)
    val edges = (0 until 600).map { i =>
      val a = graft.model.Fixtures.mix(11L, i.toLong).abs % 400
      val b = graft.model.Fixtures.mix(13L, i.toLong).abs % 400
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.toSeq
      .map { v => val l = find(v); (v, l, v == l) }.toSet
    val star = TrainingOps.dupClustersFromPairs(edges.toDF("doc_a", "doc_b"))._1
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(star === truth, "contraction disagrees with union-find")
  }
}
