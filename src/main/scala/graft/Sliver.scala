package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The one rule for driver-local routing. Nine sites have a driver-local
  * twin of their distributed frame path — the HNSW walk, report and
  * delete, brute top-k, the s12 and p4 MMR greedy, PQ training,
  * connected components and the graph kernels — and Sliver alone picks:
  *
  *   - budget: driver heap / [[BudgetDivisor]] (256 MB on a 2 GB driver);
  *   - size: [[rowBytes]] times the row count the site measured;
  *   - route: local iff the budget is positive and the size fits it, so
  *     budget 0 means frames for every input, empty included.
  *
  * Each decision is counted per site ([[counts]]) and logged at INFO as
  * `sliver site=… bytes=… budget=… path=…`. Type and shape
  * preconditions stay at the site, which takes frames without asking
  * when they fail. */
object Sliver {

  val BudgetDivisor = 8L

  /** Internal budget override in bytes, not a tuning knob: specs set 0
    * to force frames and leave it unset for the default. */
  private[graft] val BudgetKey = "spark.graft.sliver.budgetBytes"

  /** Element count of array columns: every routed array is an embedding. */
  val ArrayLen: Int = operators.Similarity.Dim

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def budget(spark: SparkSession): Long =
    spark.conf.getOption(BudgetKey).map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory / BudgetDivisor)

  /** Heap bytes of one `collect()`ed row, as SizeEstimator counts it
    * (64-bit JVM, compressed oops): the row object and its value array,
    * every atom boxed (12-byte header + width, 8-aligned: Long 24, Float
    * 16), every array an `ArraySeq` of boxed elements, plus the row's
    * slot in the result array. `(id, embedding[64])` is ~1.4 KB, ~5× its
    * 292-byte payload. */
  def rowBytes(schema: StructType): Long = 4L + structBytes(schema)

  private def align(n: Long): Long = (n + 7L) & ~7L

  private def structBytes(s: StructType): Long =
    24L + align(16L + 4L * s.length) + s.fields.map(f => valueBytes(f.dataType)).sum

  private def valueBytes(dt: DataType): Long = dt match {
    case ArrayType(et, _) => 16L + align(16L + 4L * ArrayLen) + ArrayLen * valueBytes(et)
    case s: StructType => structBytes(s)
    case atom => align(12L + atom.defaultSize)
  }

  def footprint(schema: StructType, rows: Long): Long = rows * rowBytes(schema)

  /** Footprint of `df`, measured with one count job. */
  def bytes(df: DataFrame): Long = footprint(df.schema, df.count())

  /** Route `site`: true (local) iff the budget is positive and the summed
    * `sizes` fit it. Sizes are measured in order, only while the total
    * still fits — a corpus-sized second input is never counted after a
    * request-sized first one overflows, and budget 0 measures nothing. */
  def fits(site: String, spark: SparkSession)(sizes: (() => Long)*): Boolean = {
    val b = budget(spark)
    var total = 0L
    val it = sizes.iterator
    if (b > 0) while (total <= b && it.hasNext) total += it.next()()
    record(site, total, b, b > 0 && total <= b)
  }

  /** Route `site` by collecting at most a budget's worth of `df`: one
    * CollectLimit job measures and fetches, and stops early on an input
    * over budget. Some(rows) iff local. */
  def collect(site: String, df: DataFrame): Option[Array[Row]] = {
    val b = budget(df.sparkSession)
    val per = rowBytes(df.schema)
    val cap = math.min(b / per, Int.MaxValue - 2L).toInt // the JVM array bound
    val rows = if (b > 0) df.limit(cap + 1).collect() else Array.empty[Row]
    if (record(site, rows.length * per, b, b > 0 && rows.length <= cap)) Some(rows) else None
  }

  /** Partitions of a driver-local result of `rows` rows, sized like the
    * frame paths' layout. A bare LocalRelation materializes across
    * leafNodeDefaultParallelism tasks: 32 tasks of ~15 rows each for a
    * sliver graph, pure overhead downstream (d7's artifact read took
    * 0.08 s off a 1-partition checkpoint, 0.28-0.43 s off the 32-way
    * local relation). */
  def localParts(spark: SparkSession, rows: Int): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, rows / 50000 + 1))

  private val decisions = new ConcurrentHashMap[(String, Boolean), LongAdder]()

  private def record(site: String, bytes: Long, budget: Long, local: Boolean): Boolean = {
    decisions.computeIfAbsent((site, local), _ => new LongAdder).increment()
    log.info(s"sliver site=$site bytes=$bytes budget=$budget path=${if (local) "local" else "frames"}")
    local
  }

  /** Decisions so far, site → (local, frames). Thread-safe: the s24 walks
    * route from a thread pool. */
  def counts: Map[String, (Long, Long)] =
    decisions.asScala.toSeq.groupMapReduce(_._1._1) { case ((_, local), n) =>
      if (local) (n.sum, 0L) else (0L, n.sum)
    } { case ((l1, f1), (l2, f2)) => (l1 + l2, f1 + f2) }

  /** Decisions made since the `before` snapshot; sites without one omitted. */
  def since(before: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    counts.map { case (site, (l, f)) =>
      val (l0, f0) = before.getOrElse(site, (0L, 0L))
      site -> (l - l0, f - f0)
    }.filter { case (_, (l, f)) => l + f > 0 }
}
