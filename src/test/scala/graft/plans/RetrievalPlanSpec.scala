package graft.plans

import graft.SparkSpec
import graft.operators.Retrieval
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Plan-shape receipts for the retrieval-serving family: the scale
  * claims in the scaladocs, pinned at runtime. */
class RetrievalPlanSpec extends SparkSpec {

  test("t26 top-20 is a bounded partial top-k, never a global sort") {
    val plan = Retrieval.t26Bm25(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 should plan as TakeOrderedAndProject:\n$plan")
  }

  test("t26's idf/stats slivers broadcast even with auto-broadcast off") {
    // auto-broadcast disabled: any BroadcastHashJoin left is an explicit
    // hint — the ≤|query|-row idf sliver. The corpus-sized tf⋈dl join
    // may shuffle (doc-keyed, group-count-bound); what must NOT happen
    // is the idf/stats frames arriving by shuffle, which at 100 TB would
    // put a vocabulary exchange on the query path.
    withConf("spark.sql.autoBroadcastJoinThreshold", Some("-1")) {
      val plan = Retrieval.t26Bm25(spark, sfDir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"idf sliver should join by explicit broadcast:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
        s"one-row stats frame should broadcast:\n$plan")
    }
  }

  test("s13's dense leg scores through the bounded top-k aggregate") {
    val plan = Retrieval.s13RrfHybrid(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("topk_by_score"),
      s"dense leg must use the bounded partial top-k aggregate:\n$plan")
  }

  test("p4's token ledger joins by broadcasting the 5-row selection, not shuffling the corpus") {
    val plan = Retrieval.p4RagContext(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the ledger join must broadcast the selection sliver:\n$plan")
  }

  test("the streaming BM25 scorer is stateless: no state store operators") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bm25_plan").toString
    Retrieval.t26StatsWrite(spark, sfDir, dir)
    val idf = spark.read.parquet(s"$dir/idf")
    val stats = spark.read.parquet(s"$dir/stats")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingBm25.scoreAgainstStore(
        mem.toDF().toDF("doc_id", "text"), idf, stats)
      .writeStream.format("memory").queryName("bm25_plan_out")
      .outputMode("append").start()
    mem.addData((1L, "spark stream")); q.processAllAvailable()
    val progress = q.lastProgress.toString
    q.stop()
    assert(!progress.contains("stateOperators\" : [ {"),
      s"scorer must not register state operators:\n$progress")
  }
}
