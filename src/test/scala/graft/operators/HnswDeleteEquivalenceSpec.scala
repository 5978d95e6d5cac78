package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r18: the broadcast-local delete ([[Hnsw.deleteLocal]]) must be
  * BIT-IDENTICAL to the declarative frame pass it short-circuits — the
  * same surviving adjacency multiset (layer, node, nbr, nemb with raw
  * float bits), on the real corpus with the registered doomed set AND
  * on the rename fixture (a doomed canonical whose replicas survive —
  * the re-canonicalize step), plus the registered s23 rows across both
  * paths. Any drift in either implementation fails loudly (s23 and the
  * s23FromPersisted twin both route through this delete). */
class HnswDeleteEquivalenceSpec extends LocalFrameEquivalence {
  import spark.implicits._

  private lazy val e = graft.Tables.embeddings(spark, sfDir)
    .select("vec_id", "embedding")

  /** Collected adjacency as a sorted multiset with RAW float bits —
    * the strictest comparison (both paths carry source embeddings
    * verbatim, so even ±0.0 must agree). */
  private def rowsOf(df: DataFrame): Vector[(Int, Long, Long, Seq[Int])] =
    df.select("layer", "node", "nbr", "nemb").collect().toVector
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null
        else r.getSeq[Float](3).map(java.lang.Float.floatToRawIntBits)))
      .sortBy(t => (t._1, t._2, t._3))

  private def deleted(corpus: DataFrame, doomIds: Seq[Long],
      local: Boolean): Vector[(Int, Long, Long, Seq[Int])] = {
    val doom = corpus.filter(col("vec_id").isin(doomIds: _*))
    val surv = corpus.filter(!col("vec_id").isin(doomIds: _*))
    val adj = Hnsw.buildAdjacency(corpus).localCheckpoint()
    def run() = rowsOf(Hnsw.deleteFromAdjacency(surv, adj, doom))
    val out = if (local) localPath("hnsw.delete")(run()) else framePath("hnsw.delete")(run())
    graft.Checkpoints.release(adj)
    out
  }

  test("local delete ≡ frame delete on the real corpus (registered doomed set)") {
    val local = deleted(e, Hnsw.deleteIds, local = true)
    val frame = deleted(e, Hnsw.deleteIds, local = false)
    assert(local.nonEmpty)
    assert(local == frame,
      s"paths diverged: onlyLocal=${(local.toSet -- frame.toSet).take(3)} " +
        s"onlyFrame=${(frame.toSet -- local.toSet).take(3)}")
  }

  test("local delete ≡ frame delete on the rename fixture (doomed canonical, surviving replicas)") {
    // the HnswDeleteSpec planting scheme: every 20th vector replicated at
    // id+100000; deleting the canonical exercises the rename step, and a
    // doomed id with NO surviving replica (id 1) exercises the mask
    val replicas = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(replicas)
    val doomIds = Seq(0L, 1L, 20L, 40L)
    val local = deleted(corpus, doomIds, local = true)
    val frame = deleted(corpus, doomIds, local = false)
    assert(local.nonEmpty)
    assert(local == frame)
  }

  test("registered s23 rows identical across delete paths") {
    def rows(): Seq[(Long, Int, Long)] =
      Hnsw.s23HnswDelete(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(localPath("hnsw.delete")(rows()) == framePath("hnsw.delete")(rows()))
  }
}
