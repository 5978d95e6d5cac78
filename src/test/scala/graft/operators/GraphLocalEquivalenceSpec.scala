package graft.operators

import org.apache.spark.sql.functions._

/** Pins the size-gated broadcast-local graph kernels (g1 PageRank, g2
  * triangle census, g3 k-hop BFS — the "graph" Sliver site) to the
  * distributed frame fixed points, on the real corpus and on random
  * graphs. Every kernel is exact integer arithmetic, so the pin is
  * full bit-equality of the collected rows, not a tolerance check. */
class GraphLocalEquivalenceSpec extends LocalFrameEquivalence {
  import spark.implicits._

  private def corpusPairs = Graph.copurchasePairs(spark, sfDir)

  test("g1 kernel: broadcast-local PageRank equals the frame fixed point on the real corpus") {
    def run() = Graph.pageRank(corpusPairs, Graph.Iterations, assumeNormalized = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val local = localPath("graph")(run())
    val frame = framePath("graph")(run())
    assert(local == frame)
    assert(local.nonEmpty)
  }

  test("g2 kernel: broadcast-local census equals the frame census on the real corpus") {
    def run() = Graph.triangleStats(corpusPairs).collect().map(_.toSeq).toSeq
    val local = localPath("graph")(run())
    assert(local == framePath("graph")(run()))
  }

  test("g3 kernel: broadcast-local BFS equals the frame walk on the real corpus") {
    val seeds = graft.Tables.part(spark, sfDir)
      .filter(col("p_brand") === Graph.ReachBrand)
      .select(col("p_partkey").as("node"))
    def run() = Graph.khopReach(corpusPairs, seeds, Graph.ReachHops)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(localPath("graph")(run()) == framePath("graph")(run()))
  }

  test("local equals frame on random graphs, off-graph seeds and a null seed row") {
    val rnd = new scala.util.Random(20260819L)
    for (_ <- 0 until 3) {
      val nEdges = 12 + rnd.nextInt(30)
      val edges = Seq.fill(nEdges) {
        val u = rnd.nextInt(30).toLong
        val v = rnd.nextInt(30).toLong
        (math.min(u, v), math.max(u, v) + 1) // +1 avoids self-loops
      }.toDF("p1", "p2")
      def pr() = Graph.pageRank(edges, Graph.Iterations)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(localPath("graph")(pr()) == framePath("graph")(pr()))
      def tri() = Graph.triangleStats(edges).collect().map(_.toSeq).toSeq
      assert(localPath("graph")(tri()) == framePath("graph")(tri()))
      // seed 999 is outside the graph; the null row must count at hop 0
      // (it survives distinct and count(lit(1))) but join and checksum
      // nothing — the frame walk's exact semantics
      val seeds = Seq(Some(1L), Some(999L), None).toDF("node")
      def khop() = Graph.khopReach(edges, seeds, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(localPath("graph")(khop()) == framePath("graph")(khop()))
    }
  }
}
