package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Scheduler and executor counters for one request (one op of one pass of
  * one client). Mutated only under its own lock. */
final class RequestAgg {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var waitMs = 0L
  /** (jobId, start epoch ms, end epoch ms) */
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
}

/** A `SparkListener` that attributes jobs, stages and tasks to the request
  * id the benchmark sets as a local property on the submitting thread.
  * Spark copies local properties into broadcast and subquery threads, so
  * the jobs those threads start are attributed too. Disabled, it ignores
  * every event. */
final class Tracker extends SparkListener {
  @volatile var enabled = false

  private val aggs = new ConcurrentHashMap[String, RequestAgg]()
  private val jobReq = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageReq = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageLaunched = ConcurrentHashMap.newKeySet[Int]()

  private def agg(req: String): RequestAgg = aggs.computeIfAbsent(req, _ => new RequestAgg)

  /** Remove and return the counters of a finished request. */
  def take(req: String): RequestAgg = Option(aggs.remove(req)).getOrElse(new RequestAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val req = Option(e.properties).map(_.getProperty(Tracker.RequestKey)).orNull
    if (req != null) {
      jobReq.put(e.jobId, req)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageReq.put(_, req))
      val a = agg(req)
      a.synchronized { a.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val req = jobReq.remove(e.jobId)
    if (req != null) {
      val start: Long = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      val a = agg(req)
      a.synchronized { a.jobSpans += ((e.jobId, start, e.time)) }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    val req = stageReq.get(id)
    if (req != null) {
      stageSubmit.put(id, java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      val a = agg(req)
      a.synchronized { a.stages += 1 }
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val req = stageReq.get(e.stageId)
    val submitted = stageSubmit.get(e.stageId)
    if (req != null && submitted != null && stageLaunched.add(e.stageId)) {
      val a = agg(req)
      a.synchronized { a.waitMs += math.max(0L, e.taskInfo.launchTime - submitted) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val req = stageReq.get(e.stageId)
    if (req != null) {
      val a = agg(req)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        if (m != null) {
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

object Tracker {
  val RequestKey = "graftbench.request"
}
