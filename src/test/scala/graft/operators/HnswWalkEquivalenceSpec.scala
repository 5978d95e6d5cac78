package graft.operators

import org.apache.spark.sql.functions._

/** r18: the broadcast-local read walk ([[Hnsw.localWalkVisited]]) must be
  * BIT-IDENTICAL to the iterative frame walk it short-circuits — same
  * visited node set per query, same double-precision score per node, for
  * every serving knob the s24 curve publishes. The local path replicates
  * the cosine accumulation order, the greedy tie order, the top-ef beam
  * order and the fixed-point termination of the frame recurrence; this
  * spec pins that equivalence on the real corpus so any drift in either
  * implementation fails loudly (the registered s21–s24/p11 rows all read
  * through this walk).
  */
class HnswWalkEquivalenceSpec extends LocalFrameEquivalence {

  private lazy val e = graft.Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding")

  private def visitedSet(ef: Int): Set[(Long, Long, Double)] = {
    val vis = Hnsw.visitedFrame(e, Hnsw.buildAdjacency(e),
      Similarity.externalQueries(spark, sfDir), ef = ef)
    val rows = vis.select("qid", "node", "sc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.Checkpoints.release(vis)
    rows
  }

  test("local walk ≡ frame walk: same visited set, bit-identical scores") {
    Seq(4, Hnsw.Ef).foreach { ef =>
      val local = localPath("hnsw.walk")(visitedSet(ef))
      val frame = framePath("hnsw.walk")(visitedSet(ef))
      assert(local.nonEmpty, s"empty visited set at ef=$ef")
      assert(local == frame,
        s"walks diverged at ef=$ef: onlyLocal=${(local -- frame).take(5)} " +
          s"onlyFrame=${(frame -- local).take(5)}")
    }
  }

  test("local walk serves the registered read: s21 rows unchanged across paths") {
    def s21Rows(): Seq[(Long, Int, Long)] =
      Hnsw.s21HnswTopK(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(localPath("hnsw.walk")(s21Rows()) == framePath("hnsw.walk")(s21Rows()))
  }
}
