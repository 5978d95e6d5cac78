package graft.sources

import graft.SparkSpec
import graft.streaming.StreamingUpsert
import graft.streaming.StreamingUpsert.Upsert
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The end-to-end vector-store maintenance loop (the reference's
  * per-tenant HNSWLib.load → addDocuments → save flow): upsert stream →
  * coarse-assigned append → aligned staleness check → threshold-
  * triggered rebuild as a new generation — with probe ≡ full-rebuild
  * equality asserted at every step.
  */
class VectorStoreMaintenanceSpec extends SparkSpec {

  private val Dim = 8
  private val K = 3

  /** Deterministic jittered vector around one of four unit directions. */
  private def vec(cluster: Int, i: Int): Array[Float] = {
    val v = new Array[Float](Dim)
    v(cluster) = 1f
    (0 until Dim).foreach { d =>
      v(d) = v(d) + (((i * 31 + d * 7 + cluster * 13) % 11) - 5) / 100f
    }
    v
  }

  test("alignTo undoes an index permutation (no spurious retrains)") {
    val stored = Array.tabulate(4)(c => vec(c % 4, c))
    val permuted = Array(stored(2), stored(0), stored(3), stored(1))
    val aligned = VectorStoreMaintenance.alignTo(stored, permuted)
    stored.indices.foreach(i => assert(aligned(i).sameElements(stored(i))))
  }

  test("stream -> append x2 -> drift batch -> retrain; probe == brute force throughout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("vsm").toString

    // base store: 60 vectors in 3 clusters
    val base = (0 until 60).map(i => (i.toLong, vec(i % K, i)))
    VectorStoreMaintenance.init(
      base.toDF("vec_id", "embedding"), K, root)
    assert(VectorStoreMaintenance.currentGen(spark, root) == 0)

    // the upsert stream: two micro-batches of fresh ids near existing
    // clusters (no drift), then one batch opening a NEW region
    val b1 = (100 until 115).map(i => Upsert(i.toLong, 1L, 0, vec(i % K, i)))
    val b2 = (200 until 215).map(i => Upsert(i.toLong, 1L, 0, vec(i % K, i)))
    val b3 = (300 until 340).map(i => Upsert(i.toLong, 1L, 0, vec(3, i)))

    val reports = scala.collection.mutable.ArrayBuffer.empty[VectorStoreMaintenance.MaintenanceReport]
    val mem = MemoryStream[Upsert]
    val q = StreamingUpsert.latestWins(mem.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Upsert], _: Long) =>
        if (!batch.isEmpty)
          reports += VectorStoreMaintenance.absorb(
            spark, batch.toDF(), root, thresholdPpm = 100000L)
        ()
      }
      .start()

    def bruteTop(pool: Seq[(Long, Array[Float])], qv: Array[Float], k: Int): Seq[Long] =
      pool.map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

    def probeEqualsBrute(pool: Seq[(Long, Array[Float])]): Unit = {
      val queries = Seq((9000L, vec(1, 999)), (9001L, vec(0, 998)), (9002L, vec(3, 997)))
      val got = VectorStoreMaintenance.probe(spark, root,
          queries.toDF("qid", "qemb"), 5, nprobe = K + 1)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      queries.foreach { case (qid, qv) =>
        assert(got(qid) == bruteTop(pool, qv, 5), s"probe != brute force for $qid")
      }
    }

    // batch 1: append, no retrain
    mem.addData(b1: _*); q.processAllAvailable()
    assert(reports.length == 1)
    assert(!reports(0).retrained,
      s"no-drift batch must not retrain (ppm=${reports(0).reassignPpm})")
    assert(reports(0).nVectors == 75)
    assert(VectorStoreMaintenance.currentGen(spark, root) == 0)
    probeEqualsBrute((base ++ b1.map(u => (u.vec_id, u.embedding))).toSeq)

    // batch 2: second append generation, still no retrain
    mem.addData(b2: _*); q.processAllAvailable()
    assert(reports.length == 2 && !reports(1).retrained)
    assert(reports(1).nVectors == 90)
    probeEqualsBrute((base ++ (b1 ++ b2).map(u => (u.vec_id, u.embedding))).toSeq)

    // ...and the append-maintained store serves IDENTICAL probes to a
    // from-scratch rebuild over the union, under the SAME codebook
    val union = (base ++ (b1 ++ b2).map(u => (u.vec_id, u.embedding))).toSeq
    val rebuildPath = java.nio.file.Files.createTempDirectory("vsm_rb").toString
    val cb0 = VectorStoreMaintenance.loadCodebook(spark, root, 0)
    IvfIndex.build(union.toDF("vec_id", "embedding"), cb0, rebuildPath)
    val queries = Seq((9000L, vec(1, 999)), (9002L, vec(3, 997))).toDF("qid", "qemb")
    val viaLoop = VectorStoreMaintenance.probe(spark, root, queries, 5, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val viaRebuild = IvfIndex.probe(spark, rebuildPath, queries, cb0, 5, 2,
        excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(viaLoop == viaRebuild)

    // batch 3: a new dense region the 3-centroid codebook cannot cover —
    // staleness crosses the threshold and the loop rebuilds as gen 1
    mem.addData(b3: _*); q.processAllAvailable()
    q.stop()
    assert(reports.length == 3)
    assert(reports(2).retrained,
      s"drift batch must retrain (ppm=${reports(2).reassignPpm})")
    assert(reports(2).generation == 1)
    assert(VectorStoreMaintenance.currentGen(spark, root) == 1)
    assert(reports(2).nVectors == 130)
    probeEqualsBrute((base ++ (b1 ++ b2 ++ b3).map(u => (u.vec_id, u.embedding))).toSeq)
  }
}
