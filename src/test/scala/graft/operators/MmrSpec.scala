package graft.operators

import org.apache.spark.sql.functions.col

/** s12 MMR re-rank: the full greedy selection recomputed driver-side
  * from the Carbonell-Goldstein definition, plus structural invariants. */
class MmrSpec extends LocalFrameEquivalence {
  import spark.implicits._

  /** Driver-side MMR: shortlist by (cos desc, id asc), then greedy
    * argmax of λ·rel − (1−λ)·maxsim with id-asc tie-break. */
  private def mmrReference(vecs: Map[Long, Array[Float]]): Seq[(Long, Int, Long)] = {
    val lam = Similarity.MmrLambda
    vecs.keys.filter(_ < 10).toSeq.sorted.flatMap { qid =>
      val q = vecs(qid)
      val shortlist = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(Similarity.MmrShortlist)
      val rel = shortlist.toMap
      var selected = Vector.empty[Long]
      (1 to Similarity.MmrK).map { r =>
        val remaining = shortlist.map(_._1).filterNot(selected.contains)
        val pick = remaining.map { c =>
          val mmr =
            if (selected.isEmpty) rel(c)
            else lam * rel(c) - (1.0 - lam) * selected.map(s => cos(vecs(c), vecs(s))).max
          (c, mmr)
        }.minBy { case (c, m) => (-m, c) }._1
        selected :+= pick
        (qid, r, pick)
      }
    }
  }

  private lazy val vecs: Map[Long, Array[Float]] =
    graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap

  test("s12 equals the driver-side greedy MMR from the definition") {
    val got = Similarity.s12MmrRerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == mmrReference(vecs))
  }

  test("s12 broadcast-local greedy equals the frame unroll (forced via the gate)") {
    def run(): Seq[(Long, Int, Long)] =
      Similarity.s12MmrRerank(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val viaLocal = localPath("mmr")(run()) // sliver-sized, routes local
    val viaFrames = framePath("mmr")(run())
    assert(viaLocal == viaFrames)
  }

  test("s12 rank 1 is the pure-relevance pick (s1 top-1 identity)") {
    val first = Similarity.s12MmrRerank(spark, sfDir).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val s1Top = Similarity.s1BruteForceTopK(spark, sfDir).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(first == s1Top)
  }

  test("s12 selections are distinct, 5 per query, drawn from the shortlist") {
    val rows = Similarity.s12MmrRerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (qid, g) =>
      assert(g.map(_._2).sorted.toSeq == (1 to Similarity.MmrK))
      assert(g.map(_._3).distinct.length == Similarity.MmrK)
      val q = vecs(qid)
      val shortlist = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(Similarity.MmrShortlist)
        .map(_._1).toSet
      assert(g.map(_._3).forall(shortlist.contains))
    }
  }

  test("diversity: a planted near-duplicate of the top hit is deferred by MMR") {
    // corpus: query 0; 1 and 2 nearly identical high-rel; 3 moderately
    // relevant but orthogonal to 1/2. Pure relevance ranks (1, 2, 3);
    // MMR at λ=0.5 must pull the diverse 3 ahead of the clone 2.
    def v(xs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(8)(0f); xs.foreach { case (i, x) => a(i) = x }; a
    }
    val fixture = Seq[(Long, Array[Float])](
      0L -> v(0 -> 1f),
      1L -> v(0 -> 1f, 1 -> 0.1f),
      2L -> v(0 -> 1f, 1 -> 0.11f),
      3L -> v(0 -> 0.5f, 2 -> 1f),
      10L -> v(3 -> 1f), 11L -> v(4 -> 1f), 12L -> v(5 -> 1f))
    val df = fixture.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = Similarity.s12MmrRerankFrame(df).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    // pure relevance would give (1, 2, 3, ...); at λ=0.5 the clone 2's
    // redundancy penalty (~sim 1.0 to the already-picked 1) outweighs its
    // relevance, so the diverse 3 follows 1 and 2 drops out of the top-5
    assert(got.take(2) == Seq(1L, 3L), s"got $got")
    assert(!got.contains(2L), s"clone 2 should be fully displaced: $got")
    // and the driver-side reference agrees on the whole fixture
    assert(
      Similarity.s12MmrRerankFrame(df).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      mmrReference(fixture.toMap))
  }
}
