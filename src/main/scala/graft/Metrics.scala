package graft

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one metrics collector: the jobs Spark ran inside a window, with their
  * description and stages, and the micro-batch durations of the streams
  * those jobs ran. `show_progress`, ProfileQuery and the specs' job and
  * stage counts read it.
  *
  * A window is a job tag added on the thread that opens it, so a job
  * belongs to it when it is submitted: the jobs of that thread and of the
  * threads it starts inside the window (they inherit its local properties,
  * as `graft run`'s node pool and stream micro-batch threads do). Jobs of
  * other threads, and jobs submitted earlier whose events are still on the
  * bus, carry no tag. The window drains the listener bus before it removes
  * its listeners, so every event of its jobs has been delivered. */
object Metrics {
  final case class Stage(id: Int, name: String, tasks: Int, durationMs: Long,
                         runMs: Long, cpuMs: Long, deserializeMs: Long, gcMs: Long,
                         inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** `end` is -1 for a job still running when the window closed. */
  final case class Job(id: Int, description: String, start: Long, end: Long, stages: Seq[Stage])

  /** A micro-batch's `durationMs` phases, longest first. */
  final case class Batch(id: Long, durationMs: Seq[(String, Long)])

  final case class Window(jobs: Seq[Job], batches: Seq[Batch]) {
    def stages: Seq[Stage] = jobs.flatMap(_.stages)

    /** Milliseconds in which at least one ended job was running. */
    def coveredMs: Long = {
      var covered, cursor = 0L
      jobs.filter(_.end >= 0).map(j => (j.start, j.end)).sorted.foreach { case (s, e) =>
        covered += math.max(0L, e - math.max(s, cursor))
        cursor = math.max(cursor, e)
      }
      covered
    }
  }

  /** Runs `body` in a window; returns its value and what the window saw.
    * `onStage` gets each stage of the window as it completes, with its
    * job's description, on the listener-bus thread. */
  def collect[T](spark: SparkSession, onStage: (Stage, String) => Unit = (_, _) => ())
                (body: => T): (T, Window) = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-metrics-${java.util.UUID.randomUUID()}", onStage)
    sc.addSparkListener(rec)
    spark.streams.addListener(rec.streams)
    sc.addJobTag(rec.tag)
    val out =
      try body
      finally {
        sc.removeJobTag(rec.tag)
        // `listenerBus` is private to Spark in Scala, public in the bytecode
        val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
        try bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(60000L))
        finally {
          sc.removeSparkListener(rec)
          spark.streams.removeListener(rec.streams)
        }
      }
    (out, rec.window)
  }

  private final class JobRec(val id: Int, val desc: String, val start: Long) {
    var end = -1L
    val stages = mutable.ArrayBuffer[Stage]()
  }

  private final class Recorder(val tag: String, onStage: (Stage, String) => Unit)
      extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val stageJob = mutable.Map[Int, JobRec]()
    private val streamIds = mutable.Set[String]()
    private val batches = mutable.ArrayBuffer[(String, Batch)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop("spark.job.tags").exists(_.split(",").contains(tag))) synchronized {
        val j = new JobRec(e.jobId, prop("spark.job.description").getOrElse(""), e.time)
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, j))
        prop("sql.streaming.queryId").foreach(streamIds += _)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(e.jobId).foreach(_.end = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      synchronized(stageJob.get(si.stageId)).foreach { j =>
        def metric(f: TaskMetrics => Long) = Option(si.taskMetrics).fold(0L)(f)
        val s = Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          (for { a <- si.submissionTime; b <- si.completionTime } yield b - a).getOrElse(-1L),
          metric(_.executorRunTime), metric(_.executorCpuTime / 1000000L),
          metric(_.executorDeserializeTime), metric(_.jvmGCTime), metric(_.inputMetrics.bytesRead),
          metric(_.shuffleReadMetrics.totalBytesRead), metric(_.shuffleWriteMetrics.bytesWritten))
        synchronized(j.stages += s)
        onStage(s, j.desc)
      }
    }

    /** Keeps every query's progress; a batch is the window's when its query
      * ran a job of the window. */
    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val phases = e.progress.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }
        Recorder.this.synchronized(
          batches += e.progress.id.toString -> Batch(e.progress.batchId, phases.sortBy(-_._2)))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def window: Window = synchronized {
      Window(jobs.values.map(j => Job(j.id, j.desc, j.start, j.end, j.stages.toSeq)).toSeq,
        batches.collect { case (q, b) if streamIds(q) => b }.toSeq)
    }
  }
}
