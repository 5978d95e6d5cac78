package graft.operators

import graft.Sliver
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one driver-local routing rule: its footprint estimate, its budget
  * rule, and every routed site on empty input (local ≡ frames, and the
  * route still flips with the budget when there is nothing to collect). */
class SliverSpec extends LocalFrameEquivalence {
  import spark.implicits._

  test("row footprint tracks SizeEstimator on collected rows within 25%") {
    val emb = array((0 until Sliver.ArrayLen).map(i => rand(i).cast("float")): _*)
    val id = col("id") + 1000L
    Seq("embedding" -> Seq(id.as("vec_id"), emb.as("embedding")),
      "adjacency" -> Seq(id.as("node"), (id * 7L).as("nbr"), (id % 4L).cast("int").as("layer"), emb),
      "edge" -> Seq(id.as("u"), (id * 3L).as("v")),
      "visited" -> Seq((id % 10L + 1000L).as("qid"), id.as("node"), rand(7).as("sc"))
    ).foreach { case (shape, cols) =>
      val df = spark.range(2000).select(cols: _*)
      val measured = org.apache.spark.util.SizeEstimator.estimate(df.collect()) / 2000.0
      val estimated = Sliver.rowBytes(df.schema)
      assert(math.abs(estimated / measured - 1.0) <= 0.25,
        f"$shape: estimate $estimated B/row vs SizeEstimator $measured%.0f B/row")
    }
  }

  test("budget 0 routes frames without measuring; sizes stop at the first overflow") {
    withConf(Sliver.BudgetKey, Some("0")) {
      assert(!Sliver.fits("spec", spark)(() => fail("measured under a zero budget")))
      assert(Sliver.collect("spec", spark.range(0).toDF()).isEmpty)
    }
    withConf(Sliver.BudgetKey, Some("1000")) {
      assert(Sliver.fits("spec", spark)(() => 600L, () => 400L))
      assert(!Sliver.fits("spec", spark)(() => 1001L, () => fail("measured past an overflow")))
      val cap = 1000L / Sliver.rowBytes(spark.range(1).schema)
      assert(Sliver.collect("spec", spark.range(cap).toDF()).exists(_.length == cap))
      assert(Sliver.collect("spec", spark.range(cap + 1).toDF()).isEmpty)
    }
  }

  private lazy val e = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private lazy val noVectors = e.filter(lit(false))
  private lazy val noAdjacency = Hnsw.buildAdjacency(e).filter(lit(false))
  private lazy val queries = Similarity.externalQueries(spark, sfDir)
  private def none(cols: String*) = Seq.empty[(Long, Long)].toDF(cols: _*)
  private lazy val q = e.filter(col("vec_id") === 0L).select(col("embedding").as("qemb"))

  // one empty input per site; PQ's budget admits the empty corpus, then
  // the local Lloyd's init-vector precondition hands it to the frames
  Seq[(String, String, () => DataFrame)](
    ("hnsw.walk", "an empty adjacency", () => Hnsw.visitedFrame(e, noAdjacency, queries)),
    ("hnsw.report", "no visited nodes", () => Hnsw.expandTopK(e, none("qid", "node").withColumn("sc", rand()))),
    ("hnsw.delete", "an empty store", () => Hnsw.deleteFromAdjacency(noVectors, noAdjacency, noVectors)),
    ("brute", "an empty corpus", () => Similarity.bruteTopKFrame(noVectors, queries, 5, excludeSelf = false)),
    ("mmr", "an empty corpus", () => Similarity.s12MmrFrame(noVectors, queries, excludeSelf = false)),
    ("p4.mmr", "no fused docs", () => Retrieval.p4Frame(spark, sfDir, none("doc_id", "x"), q)),
    ("pq.train", "an empty corpus", () => graft.sources.PqCodebook.trainMany(noVectors, Similarity.PqKs)),
    ("cc", "no edges (propagation)", () => Dedup.connectedComponents(none("u", "v"))),
    ("cc", "no edges (large-star)", () => Dedup.connectedComponentsStar(none("u", "v"))),
    ("graph", "no pairs (PageRank)", () => Graph.pageRank(none("p1", "p2"), Graph.Iterations)),
    ("graph", "no pairs (census)", () => Graph.triangleStats(none("p1", "p2"))),
    ("graph", "no pairs (BFS)", () => Graph.khopReach(none("p1", "p2"), Seq(1L).toDF("node"), 2))
  ).foreach { case (site, input, run) =>
    test(s"empty input: $site over $input, local ≡ frames") {
      def rows() = run().collect().map(_.toString).toSeq.sorted
      assert(localPath(site)(rows()) == framePath(site)(rows()))
    }
  }
}
