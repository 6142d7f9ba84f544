package graft

import org.scalacheck.Gen

/** Spark-free graph ground truth shared by the connected-components and
  * dup-cluster properties (InvariantProps / LlmInvariantProps) — one
  * copy, so a fix to the reference algorithm can never silently diverge
  * between the two suites. */
object GraphTruth {

  /** Random undirected edge lists, self-loops and duplicates included. */
  val edgesGen: Gen[List[(Long, Long)]] = for {
    nNodes <- Gen.choose(2, 24)
    nEdges <- Gen.choose(1, 40)
    edges <- Gen.listOfN(nEdges,
      Gen.zip(Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L)))
  } yield edges

  /** [[edgesGen]] with about one id in eight null. */
  val nullableEdgesGen: Gen[List[(Option[Long], Option[Long])]] = for {
    edges <- edgesGen
    nulls <- Gen.listOfN(2 * edges.size, Gen.frequency(1 -> true, 7 -> false))
  } yield edges.zip(nulls.grouped(2).toList).map { case ((a, b), n) =>
    (Option.unless(n(0))(a), Option.unless(n(1))(b))
  }

  /** Plain-Scala union-find: node → min reachable node, for every node
    * appearing in an edge. Unions always point max → min, so the root
    * IS the component minimum. */
  def minLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // SNAPSHOT the keys before the final resolve: `parent.keys` is a
    // LIVE view, and find()'s path-compression `update` can trigger
    // mutable.HashMap's grow-before-lookup resize (put0 grows at
    // contentSize+1 >= threshold even for existing keys) — rehashing
    // the table mid-iteration skips entries, silently dropping nodes
    // from the "truth". Caught by the r11 hammer: an 11-entry parent
    // (default threshold 12) with a self-loop-only node drew
    // `Falsified after 60 passed tests` against a CORRECT library
    // answer (seed cE0NyhwQCN3whbQXR9BBQlyJGFBMPo9tEZ2oBCNfTwJ=).
    parent.keys.toList.map(n => n -> find(n)).toMap
  }
}
