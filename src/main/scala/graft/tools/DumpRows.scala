package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: dump a query's full result rows (sorted, TSV) to a file —
  * the old-vs-new equivalence receipt for optimization rounds. Usage:
  * runMain graft.tools.DumpRows <sfDir> <outDir> [--conf k=v ...] name... */
object DumpRows {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val confs = args.sliding(2).collect {
      case Array("--conf", kv) if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args.drop(2).filterNot(a => a.startsWith("--") || a.contains('='))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val b = graft.SessionTuning.shuffleScaleOut(graft.SessionTuning.inputSplits(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")), cpus)
    val spark = confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val rows = df.collect().map(_.toSeq.map {
        case null => "NULL"
        case a: Array[_] => a.mkString("[", ",", "]")
        case s: Seq[_] => s.mkString("[", ",", "]")
        case x => x.toString
      }.mkString("\t")).sorted
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.tsv"),
        (rows.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"[dump] $name -> ${rows.length} rows")
    }
    spark.stop()
  }
}
