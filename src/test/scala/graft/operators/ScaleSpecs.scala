package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  test("salted aggregation equals direct aggregation (associative + decimal)") {
    val e = graft.Tables.events(spark, sfDir)
    val direct = e.groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,2)")).as("total"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), (r.getDecimal(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(e, "user_id", col("value").cast("decimal(18,2)"), 8)
      .collect().map(r => (r.getLong(0), (r.getDecimal(1), r.getLong(2)))).toMap
    assert(salted.keySet == direct.keySet)
    direct.foreach { case (k, (s, c)) =>
      assert(salted(k)._1.compareTo(s) == 0 && salted(k)._2 == c, s"key $k")
    }
  }

  test("salted plan has two aggregation exchanges (key×salt then key)") {
    val plan = Skew.saltedSumCount(graft.Tables.events(spark, sfDir), "user_id",
      col("value").cast("decimal(18,2)"), 8).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }
}

class StarComponentsSpec extends LocalFrameEquivalence {
  import spark.implicits._

  test("local, large-star/small-star and min-propagation labels all match on the d2 graph") {
    val edges = Dedup.d2NgramJaccard(spark, sfDir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    def run(cc: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      cc(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = framePath("cc")(run(Dedup.connectedComponents))
    val viaStar = framePath("cc")(run(Dedup.connectedComponentsStar))
    // default budget: sliver-sized graph routes to the driver-side
    // union-find — must land on the identical fixed point
    val viaLocal = localPath("cc")(run(Dedup.connectedComponentsStar))
    val viaLocalProp = localPath("cc")(run(Dedup.connectedComponents))
    assert(viaStar == viaProp)
    assert(viaLocal == viaProp)
    assert(viaLocalProp == viaProp)
  }

  test("local, star and propagation agree on random sparse graphs (property)") {
    // 24-node graphs keep the worst-case diameter under propagation's
    // round cap, so both algorithms are guaranteed to converge
    val rnd = new scala.util.Random(20260812L)
    for (_ <- 0 until 5) {
      val nEdges = 8 + rnd.nextInt(18)
      val edges = Seq.fill(nEdges) {
        val u = rnd.nextInt(24).toLong
        val v = rnd.nextInt(24).toLong
        (math.min(u, v), math.max(u, v) + 1) // +1 avoids self-loops
      }.toDF("u", "v")
      val viaProp = framePath("cc")(Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val viaStar = framePath("cc")(Dedup.connectedComponentsStar(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val viaLocal = localPath("cc")(Dedup.connectedComponentsStar(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(viaStar == viaProp, s"divergence on edges ${edges.collect().toSeq}")
      assert(viaLocal == viaProp, s"local divergence on edges ${edges.collect().toSeq}")
    }
  }

  test("star variant converges on a 200-node path (diameter far beyond its round cap)") {
    // path 0-1-2-...-199: min-propagation moves the 0 label one hop per
    // round (199 rounds); the alternating star algorithm needs O(log n)
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = framePath("cc")(Dedup.connectedComponentsStar(edges).collect())
    assert(labels.length == 200)
    assert(labels.forall(_.getLong(1) == 0L), "path did not collapse to component 0")
    val local = Dedup.connectedComponentsStar(edges).collect()
    assert(local.length == 200 && local.forall(_.getLong(1) == 0L))
  }
}

class BucketedJoinSpec extends SparkSpec {
  test("bucketed tables join without a shuffle") {
    // tables land in the default ./spark-warehouse (gitignored)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    graft.Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    graft.Tables.customer(spark, sfDir).select("c_custkey", "c_name")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")

    // disable broadcast so the join must choose shuffle vs bucket-local
    try withConf("spark.sql.autoBroadcastJoinThreshold", Some("-1")) {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucketed join: no shuffle exchange on either side
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // every order has exactly one customer -> join preserves row count
      assert(joined.count() == graft.Tables.orders(spark, sfDir).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}

class SemanticDedupPlanSpec extends SparkSpec {
  test("registered d11 plan never broadcasts anything corpus-sized") {
    // auto-broadcast off: whatever broadcasts now does so only via an
    // explicit hint — i.e. the one-row codebook and the per-label centroid
    // frame, both bounded at any corpus size. The dominance anti-join
    // (the only corpus×corpus-shaped operator) must plan as a SHUFFLED
    // join on (cid, salt): a BroadcastHashJoin LeftAnti here would mean
    // the corpus itself became a broadcast build side — the r6
    // scale-killer this assertion exists to keep dead.
    withConf("spark.sql.autoBroadcastJoinThreshold", Some("-1")) {
      val plan = graft.SparkEntry.queries("d11_semantic_dedup")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"dominance anti-join missing:\n$plan")
      assert(!"""BroadcastHashJoin[^\n]*LeftAnti""".r.findFirstIn(plan).isDefined,
        s"dominance anti-join broadcasts a corpus-sized side:\n$plan")
      // the broadcasts that remain are the hinted bounded frames, and the
      // corpus parquet scan must not feed any of them: every
      // BroadcastExchange subtree in the formatted plan reads embeddings
      // only under the codebook/centroid aggregates (one-row / per-label)
      val antiIsShuffled = """(SortMergeJoin|ShuffledHashJoin)[^\n]*LeftAnti""".r
        .findFirstIn(plan).isDefined
      assert(antiIsShuffled, s"anti-join is neither sort-merge nor shuffled-hash:\n$plan")
    }
  }
}

class SimilarityPlanSpec extends SparkSpec {
  test("s6 materializes the brute-force truth once (two RDD reads, no inlined subtree)") {
    // the truth sliver is localCheckpoint'd: the physical plan must read
    // it as an RDD scan exactly twice (once per method row) instead of
    // inlining the O(queries x corpus) brute-force subtree at each
    // reference — before this materialization the subtree appeared four
    // times (two semi-joins + two total counts)
    val plan = Similarity.s6RecallEval(spark, sfDir)
      .queryExecution.executedPlan.toString
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(rddScans == 2, s"expected exactly 2 truth reads, got $rddScans:\n$plan")
  }
}
