package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: time individual SparkEntry queries under the Bench session
  * shape. Usage: runMain graft.tools.TimeQueries <sfDir> [--plain] name...
  * (--plain builds the session without GraftExtensions, to isolate the
  * optimizer rule's cost). Each query: one untimed warmup + 3 timed runs.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val plain = args.contains("--plain")
    // --conf k=v: extra session configs (e.g. spark.graft.scan.widen=false)
    val confs = args.sliding(2).collect {
      case Array("--conf", kv) if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args.drop(1).filterNot(a => a.startsWith("--") || a.contains('='))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val b0 = graft.SessionTuning.shuffleScaleOut(graft.SessionTuning.inputSplits(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")), cpus)
    val b = confs.foldLeft(b0) { case (bb, (k, v)) => bb.config(k, v) }
    val spark = (if (plain) b else b.withExtensions(new graft.GraftExtensions)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs: Seq[String] =
      if (names.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted else names.toSeq
    qs.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def once(): Unit = fn(spark, dir).write.format("noop").mode("overwrite").save()
      once()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); once(); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s min=${ts.min}%6.3f median=${ts.sorted.apply(1)}%6.3f")
    }
    // --calibrate: also time the Bench machine-epoch calibration workload
    // (what the `_calibration` BASELINE.md row pins)
    if (args.contains("--calibrate"))
      println(f"${"_calibration"}%-28s min=${graft.Bench.calibrate(spark)}%6.3f")
    spark.stop()
  }
}
