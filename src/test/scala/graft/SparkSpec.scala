package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {
  /** Test-data directory: overridable so the suite runs wherever the
    * driver put the parquet (defaults to the smoke scale factor). */
  val sfDir: String = sys.env.getOrElse("GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir: String = SparkSpec.sfDir

  /** Reference cosine for from-definition recomputes: float inputs
    * widened per element, double accumulation in index order,
    * zero-norm ⇒ 0.0. */
  def cos(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Evaluate `body` with session conf `key` set to `value` (None unsets
    * it), then restore whatever was there before. */
  def withConf[A](key: String, value: Option[String])(body: => A): A = {
    val prev = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
