package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingRangeCheckSpec extends SparkSpec {

  test("stream gate passes exactly the batch-s18 novel set; re-uploads never pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    // replay the s18 query batch (blends + exact re-uploads) as a stream
    val batchVerdicts = Similarity.s18RangeSearch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    val reups = store.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      .select((col("vec_id") + 900).as("qid"), col("embedding").as("qemb"))
    val batch = Similarity.externalQueries(spark, sfDir).unionByName(reups)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    // extra stream rows with driver-computed verdicts: a one-hot vector
    // (novel unless some stored vector concentrates on dim 0) and a
    // byte-identical copy of stored vec 200 (can never pass)
    val stored = store.collect().map(r => r.getSeq[Float](1).toArray)
    val dim = stored(0).length
    val oneHot = Array.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)
    val copy200 = store.filter(col("vec_id") === 200)
      .collect()(0).getSeq[Float](1).toArray
    val extras = Seq((5000L, oneHot), (5001L, copy200))
    val extraNovel = extras.collect {
      case (qid, v) if !stored.exists(cos(v, _) >= Similarity.RangeTau) => qid
    }.toSet
    assert(extraNovel.contains(5000L), "fixture assumption: the one-hot vector is novel")
    assert(!extraNovel.contains(5001L), "fixture assumption: the copy matches its original")

    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDS().toDF("qid", "qemb")
    val q = StreamingRangeCheck.novelOnly(stream, store, Similarity.RangeTau)
      .writeStream.format("memory").queryName("range_gate").outputMode("append").start()
    mem.addData(batch.take(batch.length / 2): _*)
    q.processAllAvailable()
    mem.addData(batch.drop(batch.length / 2) ++ extras: _*) // second micro-batch
    q.processAllAvailable()
    val passed = spark.sql("select qid from range_gate")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    val expectNovel = batchVerdicts.collect { case (qid, 1) => qid }.toSet ++ extraNovel
    assert(passed == expectNovel,
      s"stream gate diverges from batch s18: passed $passed, expected $expectNovel")
    // the hard guarantee: byte-identical re-uploads never pass
    assert(!passed.contains(5001L) && passed.forall(q => q < 1000 || q == 5000L),
      "an exact re-upload leaked through the gate")
  }
}
