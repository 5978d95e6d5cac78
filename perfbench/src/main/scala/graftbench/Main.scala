package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Random

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, SessionTuning, SparkEntry, Tables}
import graft.operators.RagPipeline
import graft.sources.VectorStoreSink

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same epoch as the listener's event times. */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One executed op: its request id, wall span, named phase spans and (when
  * traced) the Spark counters attributed to it. */
final class OpRecord(val client: Int, val pass: Int, val op: String, val traced: Boolean) {
  val req = s"c$client/p$pass/$op"
  var start = 0.0
  var end = 0.0
  var error: String = null
  val phases = ArrayBuffer.empty[(String, Double, Double)]
  var agg: RequestAgg = null
  var persistedDelta = 0
  var rewriteHits = 0
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def phase[T](name: String)(body: => T): T = {
    val t0 = Clock.ms()
    try body finally phases += ((name, t0, Clock.ms()))
  }

  def json: Map[String, Any] = {
    val base = Map[String, Any]("client" -> client, "pass" -> pass, "op" -> op,
      "start" -> start, "end" -> end, "ok" -> (error == null), "error" -> error)
    val withExtra = if (extra.isEmpty) base else base + ("extra" -> extra)
    if (!traced) withExtra
    else withExtra ++ Map(
      "req" -> req,
      "phases" -> phases.map { case (n, s, e) => Seq(n, s, e) },
      "jobs" -> Option(agg).map(_.jobSpans.map { case (id, s, e) => Seq(id, s, e) }).getOrElse(Nil),
      "agg" -> Option(agg).map(a => Map(
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks, "task_ms" -> a.taskMs,
        "shuffle_write_bytes" -> a.shuffleWriteBytes, "shuffle_read_bytes" -> a.shuffleReadBytes,
        "spill_bytes" -> a.spillBytes, "wait_ms" -> a.waitMs)).orNull,
      "persisted_delta" -> persistedDelta,
      "rewrite_hits" -> rewriteHits)
  }
}

final case class Step(op: String, body: OpRecord => Unit)

/** Driver program of the benchmark: sets the session up, checks every op
  * once, warms up, runs the timed closed loop and, with `--trace 1`, a
  * traced loop plus the kernel and scan probes. It writes one JSON record
  * of raw timings; `run.py` turns that record into metrics. */
object Main {

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      data: String = "",
      work: String = "",
      out: String = "",
      cpus: Int = Runtime.getRuntime.availableProcessors(),
      setups: Int = 3,
      dumpOracle: Boolean = false)

  def parse(argv: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--data" :: v :: t => go(a.copy(data = v), t)
      case "--work" :: v :: t => go(a.copy(work = v), t)
      case "--out" :: v :: t => go(a.copy(out = v), t)
      case "--cpus" :: v :: t => go(a.copy(cpus = v.toInt), t)
      case "--setups" :: v :: t => go(a.copy(setups = v.toInt), t)
      case "--dump-oracle" :: t => go(a.copy(dumpOracle = true), t)
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    go(Args(), argv.toList)
  }

  val TableLoaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lineitem" -> Tables.lineitem _, "orders" -> Tables.orders _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "nation" -> Tables.nation _, "region" -> Tables.region _,
    "events" -> Tables.events _, "documents" -> Tables.documents _,
    "embeddings" -> Tables.embeddings _)

  def newSession(cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = SessionTuning.shuffleScaleOut(SessionTuning.inputSplits(b), cpus)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(path: String): Map[String, Long] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  private def countTopK(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect {
      case _: graft.functions.TopKRowsByScore => 1
    }.size).sum }.sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.dumpOracle) {
      Files.writeString(Paths.get(a.out), Json.render(SparkEntry.oracleSql))
      return
    }
    val out = new Main(a).run()
    Files.writeString(Paths.get(a.out), Json.render(out))
  }
}

final class Main(a: Main.Args) {
  import Main._

  private val wl = Workloads.named(a.workload)
  private val queries = Workloads.resolve(wl.queries, SparkEntry.queries)
  private val tracker = new Tracker
  private var spark: SparkSession = _
  private var questionPool: Array[String] = Array.empty

  /** Seed of one pass: the run seed, the client, the loop and the pass. */
  private def passSeed(client: Int, loop: String, pass: Int): Long =
    a.seed * 1000003L + client * 7919L + loop.hashCode * 31L + pass

  private def docs(): DataFrame = Tables.documents(spark, a.data).select("doc_id", "text")

  private def queryStep(name: String, fn: Workloads.Query, check: Boolean): Step =
    Step(name, rec => {
      val df = rec.phase("operators.build")(fn(spark, a.data))
      if (rec.traced) rec.phase("plans.plan") {
        val qe = df.queryExecution
        qe.executedPlan
        rec.rewriteHits = countTopK(qe.optimizedPlan) - countTopK(qe.analyzed)
      }
      rec.phase("operators.exec") {
        if (check) df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/out/$name")
        else noop(df)
      }
      if (check) rec.extra("tables") =
        df.inputFiles.map(f => new File(f).getName.stripSuffix(".parquet")).distinct.sorted.toSeq
    })

  /** The on-disk store cycle: write the chunk index, retrieve for seeded
    * questions, delete a seeded subset of the hits, retrieve again. A
    * deleted id that comes back fails the last step; with `check` the
    * store's row counts are verified too. */
  private def storeSteps(client: Int, rng: Random, check: Boolean): Seq[Step] = {
    val path = s"${a.work}/store-c$client"
    val questions = (0 until 6).map { i =>
      val t = questionPool(rng.nextInt(questionPool.length))
      val off = rng.nextInt(t.length - 60)
      (i.toLong, t.substring(off, off + 60))
    }
    var hits = Seq.empty[Long]
    var deleted = Seq.empty[Long]
    def retrieve(rec: OpRecord): Seq[Long] = {
      val s = spark
      import s.implicits._
      val df = rec.phase("operators.build")(
        VectorStoreSink.retrieve(spark, path, questions.toDF("query_id", "question"), 5))
      rec.phase("operators.exec")(df.select("chunk_uid").collect()).map(_.getLong(0)).toSeq
    }
    def storeRows(): Long = spark.read.parquet(path).count()
    Seq(
      Step("store.write", rec => {
        rec.phase("sources.write")(VectorStoreSink.write(RagPipeline.ingest(docs()), path))
        if (rec.traced) rec.extra("bytes_written") = dirBytes(path).values.sum
        if (check) {
          val ingested = RagPipeline.ingest(docs()).count()
          val stored = storeRows()
          rec.extra("ingested_rows") = ingested
          require(stored == ingested, s"store holds $stored rows, ingest produced $ingested")
        }
      }),
      Step("store.retrieve", rec => {
        hits = retrieve(rec).distinct.sorted
        require(hits.nonEmpty, "retrieve returned no hits")
      }),
      Step("store.delete", rec => {
        deleted = new scala.util.Random(rng.nextLong()).shuffle(hits).take(8).sorted
        val before = if (check) storeRows() else 0L
        val files = if (rec.traced) dirBytes(path) else Map.empty[String, Long]
        rec.phase("sources.delete")(VectorStoreSink.deleteByIds(spark, path, deleted))
        if (rec.traced) {
          val after = dirBytes(path)
          rec.extra("rewritten_bytes") = after.filter { case (p, _) => !files.contains(p) }.values.sum
          rec.extra("store_bytes") = files.values.sum
        }
        if (check) {
          val left = storeRows()
          rec.extra("deleted") = deleted.size
          require(left == before - deleted.size,
            s"store holds $left rows after deleting ${deleted.size} of $before")
        }
      }),
      Step("store.retrieve_after", rec => {
        val back = retrieve(rec).toSet.intersect(deleted.toSet)
        require(back.isEmpty, s"deleted ids returned by retrieve: ${back.toSeq.sorted.mkString(",")}")
      }))
  }

  /** One pass of one client: every op once, units in seeded order. */
  private def passUnits(client: Int, loop: String, pass: Int, check: Boolean): Seq[Seq[Step]] = {
    val rng = new Random(passSeed(client, loop, pass))
    val units = new java.util.ArrayList[Seq[Step]]()
    queries.foreach { case (n, fn) => units.add(Seq(queryStep(n, fn, check))) }
    if (wl.storeCycle) units.add(storeSteps(client, rng, check))
    java.util.Collections.shuffle(units, rng)
    units.asScala.toSeq
  }

  private def runStep(rec: OpRecord, step: Step): Unit = {
    val sc = spark.sparkContext
    val persistedBefore = if (rec.traced) sc.getPersistentRDDs.size else 0
    if (rec.traced) sc.setLocalProperty(Tracker.RequestKey, rec.req)
    rec.start = Clock.ms()
    try step.body(rec)
    catch { case t: Throwable =>
      rec.error = s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(400)}"
    }
    finally {
      rec.end = Clock.ms()
      if (rec.traced) {
        sc.setLocalProperty(Tracker.RequestKey, null)
        rec.persistedDelta = sc.getPersistentRDDs.size - persistedBefore
      }
    }
  }

  final case class LoopResult(ops: Seq[OpRecord], passes: Seq[(Int, Int, Double, Double)])

  /** Closed loop: each client runs whole passes, one op at a time, until
    * `seconds` have passed since the loop started (or `maxPasses`).
    * `traced(pass)` says which passes record spans and Spark counters. */
  private def loop(name: String, clients: Int, seconds: Double, traced: Int => Boolean,
      check: Boolean = false, maxPasses: Int = Int.MaxValue): LoopResult = {
    val ops = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRecord]())
    val passes = java.util.Collections.synchronizedList(new java.util.ArrayList[(Int, Int, Double, Double)]())
    // tracing is chosen per pass by parity, so two passes tell whether any is traced
    val anyTraced = (0 until 2).exists(traced)
    tracker.enabled = anyTraced
    val t0 = Clock.ms()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var p = 0
        while (p < maxPasses && (p == 0 || Clock.ms() - t0 < seconds * 1000)) {
          val ps = Clock.ms()
          passUnits(c, name, p, check).foreach(_.foreach { step =>
            val rec = new OpRecord(c, p, step.op, traced(p))
            runStep(rec, step)
            ops.add(rec)
          })
          passes.add((c, p, ps, Clock.ms()))
          p += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (anyTraced) {
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      tracker.enabled = false
      ops.asScala.filter(_.traced).foreach(r => r.agg = tracker.take(r.req))
    }
    LoopResult(ops.asScala.toSeq, passes.asScala.toSeq)
  }

  private def loopJson(r: LoopResult, passes: Int => Boolean = _ => true): Map[String, Any] = Map(
    "passes" -> r.passes.filter(p => passes(p._2))
      .map { case (c, p, s, e) => Map("client" -> c, "pass" -> p, "start" -> s, "end" -> e) },
    "ops" -> r.ops.filter(o => passes(o.pass)).map(_.json))

  /** Session, table scans through `graft.Tables`, and (for the store
    * workload) the first store build: what a fresh service pays before it
    * can answer. */
  private def setupOnce(): Double = {
    val t0 = System.nanoTime()
    spark = newSession(a.cpus, a.work)
    wl.tables.foreach(t => noop(TableLoaders(t)(spark, a.data)))
    if (wl.storeCycle) VectorStoreSink.write(RagPipeline.ingest(docs()), s"${a.work}/store-setup")
    (System.nanoTime() - t0) / 1e9
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Median of three warm noop scans per table, plus row counts. */
  private def scanProbe(): Map[String, Any] = wl.tables.map { t =>
    val load = TableLoaders(t)
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); noop(load(spark, a.data)); (System.nanoTime() - t0) / 1e9
    }.sorted
    t -> Map("scan_s" -> times(1), "rows" -> load(spark, a.data).count())
  }.toMap

  def run(): Map[String, Any] = {
    val setups = (0 until a.setups).map { k =>
      if (k > 0) stopSession(spark)
      setupOnce()
    }
    spark.sparkContext.addSparkListener(tracker)
    questionPool = docs().select("text").orderBy("doc_id").collect()
      .flatMap(r => Option(r.getString(0))).filter(_.length >= 80)

    // untimed: every op once, outputs written for the correctness check
    val untraced = (_: Int) => false
    val check = loop("check", 1, 0, untraced, check = true, maxPasses = 1)
    val warm = loop("warm", wl.clients, Double.PositiveInfinity, untraced, maxPasses = wl.warmPasses)
    val timed = loop("timed", wl.clients, a.seconds, untraced)

    val result = mutable.LinkedHashMap[String, Any](
      "host" -> Map(
        "cpus" -> a.cpus,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "seed" -> a.seed,
        "workload" -> wl.name,
        "clients" -> wl.clients,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "setup_s" -> setups,
      "oracle_ops" -> queries.map(_._1).filter(SparkEntry.oracleSql.contains),
      "check" -> loopJson(check),
      "warm" -> loopJson(warm),
      "timed" -> loopJson(timed))

    if (a.trace) {
      val persisted0 = spark.sparkContext.getPersistentRDDs.size
      val gc0 = gcMs()
      // traced and untraced passes alternate, so the tracing overhead is
      // measured at the same point of the JVM's warm-up curve
      val odd = (p: Int) => p % 2 == 1
      val paired = loop("traced", wl.clients, 2 * a.seconds, odd)
      val gc1 = gcMs()
      val persisted1 = spark.sparkContext.getPersistentRDDs.size
      result("traced") = loopJson(paired, odd)
      result("untraced_pair") = loopJson(paired, p => !odd(p))
      result("kernels") = Kernels.run(spark, a.data)
      result("scans") = scanProbe()
      System.gc(); System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      result("jvm") = Map(
        "gc_ms" -> (gc1 - gc0),
        "persisted_rdds_start" -> persisted0,
        "persisted_rdds_end" -> persisted1,
        "retained_heap_mb" -> heap)
    }
    stopSession(spark)
    result.toMap
  }
}
