package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-millisecond clock with sub-millisecond resolution, on the same
  * time base as Spark's listener events (which carry epoch ms). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is the id of the span that caused it
  * (-1 for the root); `attrs` holds the counts recorded at the boundary. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Intervals {
  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part its children
    * cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.durMs - covered(ch, s.startMs, s.endMs))
    }.toMap
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val i = pos.toInt
      if (i + 1 < v.size) v(i) + (pos - i) * (v(i + 1) - v(i)) else v(i)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Copies Spark's streaming progress for one child session. On in every
  * run: Spark builds the progress anyway, and the copy is what proves a
  * timed stream call processed input rather than reading a memo. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

/** Catalyst planning time and exchange count of every Dataset action run
  * by one child session (traced runs only). */
final class PlanLog extends QueryExecutionListener {
  private val recs = new ConcurrentLinkedQueue[(Double, Int)]
  private object Walk extends AdaptiveSparkPlanHelper
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val exchanges = Walk.collect(qe.executedPlan) { case e: Exchange => e }.size
    recs.add((planMs, exchanges))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def planMs: Double = recs.asScala.map(_._1).sum
  def exchanges: Int = recs.asScala.map(_._2).sum
}

/** Task totals of one Spark job. */
final class TaskAgg {
  var tasks = 0L
  var cpuNs, gcMs, shuffleReadB, shuffleWriteB, spillB = 0L
  var busyMs, schedDelayMs = 0.0
}

/** One Spark job as seen by the listener: the benchmark call tag it ran
  * under, and, for micro-batch jobs, the stream run id and batch id. */
final case class JobRec(id: Int, tags: Set[String], runId: String,
                        batchId: String, startMs: Double, stages: Seq[Int]) {
  @volatile var endMs: Double = startMs
  val agg = new TaskAgg
}

/** Job and task listener for traced runs: registered before the traced
  * pass, removed after it. */
final class JobLog extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  /** Wall time spent inside this listener's callbacks (tracing cost). */
  @volatile var callbackNs = 0L

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime(); f; callbackNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val tags = prop("spark.job.tags").split(",").filter(_.nonEmpty).toSet
    val j = JobRec(e.jobId, tags, prop("spark.jobGroup.id"),
      prop("streaming.sql.batchId"), e.time.toDouble, e.stageIds)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    (j, Option(e.taskMetrics)) match {
      case (Some(job), Some(m)) =>
        val a = job.agg
        val info = e.taskInfo
        val dur = (info.finishTime - info.launchTime).toDouble
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.busyMs += dur
          // the Spark UI's definition of scheduler delay
          a.schedDelayMs += math.max(0.0, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
        }
      case _ =>
    }
  }

  def forTag(tag: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.tags(tag)).toSeq.sortBy(_.id)
}
