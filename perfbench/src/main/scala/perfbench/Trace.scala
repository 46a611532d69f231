package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the program. `timed` spans make up the measured
  * window; the others (set-up, output checks) exist so their jobs are
  * attributed too. Times are epoch milliseconds, the clock Spark's
  * listener events use. */
final case class Span(name: String, timed: Boolean, startMs: Double,
  endMs: Double)

/** Spans around the benchmark's calls into graft, and — when tracing —
  * the Spark local property that tags every job a call submits.
  *
  * The caller is one thread, so at most one span is open at any time.
  * Broadcast-build jobs run on pool threads that capture the caller's
  * local properties, so they carry the tag. The stream-execution thread
  * copied the caller's properties when the query started and never sees
  * later ones; its jobs are attributed by time window instead (see
  * [[JobListener.attribute]]). */
final class Tracer(spark: SparkSession, val tracing: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var inUntimed = false

  /** Run `body` as one span. Inside an untimed span (set-up, checks)
    * calls are not spans of their own: their jobs belong to the
    * enclosing span. */
  def span[T](name: String, timed: Boolean = true)(body: => T): T =
    if (inUntimed) body
    else {
      val sc = spark.sparkContext
      if (tracing) sc.setLocalProperty(Tracer.Key, name)
      inUntimed = !timed
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis().toDouble
      try body
      finally {
        val dt = (System.nanoTime() - t0) / 1e6
        spans += Span(name, timed, w0, w0 + dt)
        inUntimed = false
        if (tracing) sc.setLocalProperty(Tracer.Key, null)
      }
    }
}

object Tracer {
  val Key = "perfbench.span"
}

/** What the listener keeps of one job / stage. */
final case class JobRec(id: Int, span: Option[String], stream: Boolean,
  submitMs: Long, broadcast: Boolean)

final class StageRec(val id: Int, val span: Option[String],
    val stream: Boolean) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var inputRows = 0L
}

/** The benchmark's own Spark listener: jobs, stages and task metrics,
  * keyed by the span tag each job or stage was submitted under. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  private def tag(p: Properties): (Option[String], Boolean) =
    if (p == null) (None, false)
    else (Option(p.getProperty(Tracer.Key)),
      p.getProperty("sql.streaming.queryId") != null)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (span, stream) = tag(e.properties)
    val tags = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.tags"))).getOrElse("")
    jobs.add(JobRec(e.jobId, span, stream, e.time,
      JobListener.isBroadcast(tags)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val (span, stream) = tag(e.properties)
    val r = stages.computeIfAbsent(e.stageInfo.stageId,
      _ => new StageRec(e.stageInfo.stageId, span, stream))
    r.synchronized {
      r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val r = stages.get(e.stageInfo.stageId)
    if (r != null) r.synchronized {
      r.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.get(e.stageId)
    val m = e.taskMetrics
    if (r != null) r.synchronized {
      r.tasks += 1
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.deserMs += m.executorDeserializeTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  def stageRecs: Seq[StageRec] = stages.values().asScala.toSeq

  /** The span a job or stage belongs to: its tag when it has one and was
    * not submitted by a stream-execution thread (whose tag, copied at
    * query start, is stale), else the span whose window holds `atMs`. */
  def attribute(span: Option[String], stream: Boolean, atMs: Double,
      spans: Seq[Span]): Option[String] =
    span.filter(_ => !stream).orElse(
      spans.find(s => s.startMs - 1 <= atMs && atMs <= s.endMs + 1).map(_.name))
}

object JobListener {
  /** A broadcast-exchange build job, recognised by the job tag
    * BroadcastExchangeExec adds ("broadcast exchange (runId …)"). Spark
    * 4.1 gives these jobs no description, and their call site
    * (SQLExecution.withThreadLocalCaptured on a CompletableFuture) is
    * the same as that of every adaptive query stage, so neither tells a
    * broadcast build from a shuffle-map stage. */
  def isBroadcast(jobTags: String): Boolean =
    jobTags.contains("broadcast exchange")
}

/** Per-micro-batch durations from StreamingQueryProgress. */
final class ProgressListener extends StreamingQueryListener {
  /** (trigger start, epoch ms; durationMs) of each non-empty batch. */
  val batches = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      batches.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
}
