package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions._

/** Rows per second of the native kernels, each called through its public
  * entry point on the benchmark's own table rows: no Spark job, no
  * codegen wrapper, one driver thread. Each kernel loops over its inputs
  * for a fixed time slice, several times; the median slice rate is
  * reported. */
object Kernels {

  private val SliceNs = 150L * 1000 * 1000
  private val Slices = 5

  /** Median rate over `Slices` slices of `rows(i)`, where `rows(i)`
    * processes input i and returns the number of rows it counted. */
  private def rate(n: Int)(rows: Int => Int): Double = {
    var i = 0
    // one untimed slice warms the JIT
    val rates = (0 to Slices).map { _ =>
      val t0 = System.nanoTime()
      var done = 0L
      while (System.nanoTime() - t0 < SliceNs) {
        done += rows(i % n)
        i += 1
      }
      done / ((System.nanoTime() - t0) / 1e9)
    }.drop(1).sorted
    rates(rates.size / 2)
  }

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val vecs: Array[ArrayData] = Tables.embeddings(spark, dir)
      .select("embedding").orderBy("vec_id").collect()
      .map(r => ArrayData.toArrayData(r.getSeq[Float](0).toArray))
    val texts: Array[String] = Tables.documents(spark, dir)
      .select("text").orderBy("doc_id").collect()
      .map(r => Option(r.getString(0)).getOrElse(""))
    val words: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.trim.split("\\s+").filter(_.nonEmpty).map(UTF8String.fromString)
        .asInstanceOf[Array[Any]]))
    val utf: Array[UTF8String] = texts.map(UTF8String.fromString)
    val n = vecs.length

    val vecType = ArrayType(FloatType, containsNull = false)
    val cosine = CosineSimilarity(BoundReference(0, vecType, true), BoundReference(1, vecType, true))
    val cosineRate = rate(n) { i =>
      cosine.eval(InternalRow(vecs(i), vecs((i * 7 + 1) % n))); 1
    }

    val scores = Array.tabulate(n)(i => cosine.eval(InternalRow(vecs(0), vecs(i))).asInstanceOf[Double])
    val topkRate = rate(1) { _ =>
      val buf = new TopKBuffer(10)
      var j = 0
      while (j < n) { buf.insert(scores(j), j.toLong); j += 1 }
      n
    }

    // a product quantizer with 8 subspaces of 16 codewords, codewords
    // taken from the table's own vectors in micro units
    val dim = vecs(0).numElements()
    val m = 8
    val sub = dim / m
    val cbs = new GenericArrayData((0 until m).map { mi =>
      new GenericArrayData((0 until 16).map { c =>
        val v = vecs((c * 131 + mi) % n)
        new GenericArrayData((0 until sub).map(j =>
          math.floor(v.getFloat(mi * sub + j).toDouble * 1e6).toLong).toArray[Any])
      }.toArray[Any])
    }.toArray[Any])
    val codes = vecs.map(v => PqOps.encode(v, cbs))
    val table = PqOps.table(vecs(1), cbs)
    val pqRate = rate(n) { i => PqOps.score(codes(i), table); 1 }

    val as = (0 until graft.operators.Dedup.NumHashes).map(graft.operators.Dedup.hashA).toArray
    val bs = (0 until graft.operators.Dedup.NumHashes).map(graft.operators.Dedup.hashB).toArray
    val minhashRate = rate(words.length) { i =>
      MinHashSigUtil.sig(words(i), graft.operators.Dedup.P, as, bs); 1
    }
    val windowRate = rate(utf.length) { i => TokenWindowHashUtil.windowHashes(utf(i), 8); 1 }
    val bpeRate = rate(words.length) { i => BpeVocab.encodeAll(words(i)); 1 }

    Map(
      "functions.cosine.rows_per_s" -> cosineRate,
      "functions.topk_buffer.rows_per_s" -> topkRate,
      "functions.pq_adc_score.rows_per_s" -> pqRate,
      "functions.minhash_sig.rows_per_s" -> minhashRate,
      "functions.token_window_hashes.rows_per_s" -> windowRate,
      "functions.bpe_encode.rows_per_s" -> bpeRate)
  }
}
