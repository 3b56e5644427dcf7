package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * Per-query profiling harness for the optimization rounds (guide §1:
 * measure first). Runs each named bench query twice warm + once measured
 * under a SparkListener and prints where the wall time went: per-job
 * durations (with descriptions), per-stage durations / task counts /
 * shuffle bytes, and the driver-side "gap" time no job covers — the
 * number that separates scheduling/planning/driver work from executor
 * compute. Not part of the driver contract; local diagnosis only.
 *
 *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
 *     sbt "runMain graft.tools.ProfileQuery q_pagerank q_hits"
 */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Graph.quietCheckpointReleaseWarns()
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()

    final case class JobRec(id: Int, start: Long, var end: Long, desc: String)
    final case class StageRec(id: Int, name: String, dur: Long, tasks: Int,
                              shufRead: Long, shufWrite: Long, input: Long,
                              runMs: Long, deserMs: Long, gcMs: Long, cpuMs: Long)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageBuf = mutable.ArrayBuffer[StageRec]()
    @volatile var record = false
    // micro-batch duration breakdown for the streaming gates: durationMs
    // carries triggerExecution / addBatch / walCommit / latestOffset /
    // queryPlanning / commitOffsets — the driver-gap anatomy
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (record) {
          import scala.jdk.CollectionConverters._
          val d = e.progress.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          System.err.println(s"  [stream] batch=${e.progress.batchId} $d")
        }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.synchronized { jobs(e.jobId) = JobRec(e.jobId, e.time, -1, desc) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record)
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (record) {
        val si = e.stageInfo
        val m = si.taskMetrics
        val dur = (for { a <- si.submissionTime; b <- si.completionTime } yield b - a)
          .getOrElse(-1L)
        stageBuf.synchronized {
          stageBuf += StageRec(si.stageId, si.name.takeWhile(_ != '\n').take(90), dur,
            si.numTasks,
            if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
            if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
            if (m == null) 0 else m.inputMetrics.bytesRead,
            if (m == null) 0 else m.executorRunTime,
            if (m == null) 0 else m.executorDeserializeTime,
            if (m == null) 0 else m.jvmGCTime,
            if (m == null) 0 else m.executorCpuTime / 1000000L)
        }
      }
    })

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to 2).foreach { _ => noop(fn(spark, sfDir)); cleanup() } // JIT + codegen
      jobs.clear(); stageBuf.clear()
      record = true
      val t0 = System.nanoTime()
      noop(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      cleanup()
      // merge job intervals to compute covered vs gap (driver-side) time
      val iv = jobs.values.filter(_.end > 0).map(j => (j.start, j.end)).toSeq.sorted
      var covered = 0L
      var cursor = 0L
      iv.foreach { case (s, e) =>
        val s2 = math.max(s, cursor)
        if (e > s2) { covered += e - s2; cursor = e } else cursor = math.max(cursor, e)
      }
      println(f"\n=== $name: wall ${wall}%.3f s, ${jobs.size} jobs, ${stageBuf.size} stages, " +
        f"job-covered ${covered / 1000.0}%.3f s, driver-gap ${wall - covered / 1000.0}%.3f s ===")
      jobs.values.toSeq.sortBy(j => -(j.end - j.start)).take(25).foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1000.0}%7.3f s  ${j.desc.take(90)}")
      }
      println("  -- slowest stages --")
      stageBuf.sortBy(-_.dur).take(25).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.dur / 1000.0}%7.3f s  tasks=${s.tasks}%3d " +
          f"run=${s.runMs / 1000.0}%6.2f s cpu=${s.cpuMs / 1000.0}%6.2f s " +
          f"deser=${s.deserMs / 1000.0}%5.2f s gc=${s.gcMs / 1000.0}%5.2f s " +
          f"in=${s.input / 1e6}%8.2f MB " +
          f"sr=${s.shufRead / 1e6}%7.2f MB sw=${s.shufWrite / 1e6}%7.2f MB  ${s.name}")
      }
    }
    spark.stop()
  }
}
