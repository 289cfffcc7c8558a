package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** In-memory tracing for the traced run.
  *
  * Spans are recorded by the benchmark around its calls into each layer
  * (name, layer, start, end, parent span, and the id of the request or
  * micro-batch they belong to). Spark work is counted by a listener —
  * jobs, tasks, rows read by scans, shuffle bytes written — and each job
  * is attributed to the innermost span open when it was submitted. Traced
  * phases call one layer at a time, so that attribution is exact. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val j = new Job(e.jobId, e.time,
        props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.rowsRead += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def close(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Run `body` inside a span; returns its value and the span. */
  def span[A](name: String, layer: String, req: String, parent: Long = 0L)(body: => A): (A, Span) = {
    val id = nextId.getAndIncrement()
    val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val a = body
    val s = Span(id, name, layer, parent, req, s0, n0, System.nanoTime())
    spans.add(s)
    (a, s)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Jobs submitted inside `s` and not inside one of its child spans. */
  def jobsOf(s: Span): Seq[Job] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val kids = allSpans.filter(_.parent == s.id)
    jobs.values.asScala.toSeq.filter { j =>
      j.queryId.isEmpty && s.contains(j.startMs) && !kids.exists(_.contains(j.startMs))
    }
  }

  /** Jobs run by the streaming query `queryId`. */
  def streamJobs(queryId: String): Seq[Job] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    jobs.values.asScala.toSeq.filter(_.queryId.contains(queryId))
  }
}

object Tracer {
  final case class Span(id: Long, name: String, layer: String, parent: Long, req: String,
                        startMs: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
    def endMs: Long = startMs + math.ceil(ms).toLong
    def contains(tMs: Long): Boolean = tMs >= startMs && tMs <= endMs
  }
  final class Job(val id: Int, val startMs: Long, val queryId: Option[String]) {
    @volatile var endMs: Long = -1L
    var tasks: Long = 0L
    var rowsRead: Long = 0L
    var shuffleBytes: Long = 0L
    def ms: Long = if (endMs < 0) 0L else endMs - startMs
  }

  /** Sum of job counters over a set of jobs. */
  final case class Work(jobs: Int, tasks: Long, rowsRead: Long, shuffleBytes: Long, jobMs: Long)
  def work(js: Seq[Job]): Work =
    Work(js.size, js.map(_.tasks).sum, js.map(_.rowsRead).sum,
      js.map(_.shuffleBytes).sum, js.map(_.ms).sum)
}
