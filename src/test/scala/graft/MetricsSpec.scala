package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

class MetricsSpec extends SparkSpec {
  private def job(slices: Int = 1): Long = spark.sparkContext.parallelize(1 to 10, slices).count()

  test("a window counts the jobs tagged when they were submitted, each with an end time") {
    // started before any window: its jobs carry no window's tag
    val go, done = new CountDownLatch(1)
    val other = new Thread(() => { go.await(); job(); done.countDown() })
    other.setDaemon(true)
    other.start()
    // the outer window's first stage callback holds the listener bus until
    // the inner window is open, so the warm-up job, submitted before the
    // inner window, has its events delivered after the inner window opens
    val hold = new CountDownLatch(1)
    val first = new AtomicBoolean(true)
    val (inner, outer) = Metrics.collect(spark, (_, _) => if (first.getAndSet(false)) hold.await()) {
      job() // its stage completion holds the bus
      job() // the warm-up
      Metrics.collect(spark) {
        hold.countDown()
        go.countDown() // the other thread's job runs while this window's do
        job()
        val started = new Thread(() => job(2)) // started inside: inherits the tag
        started.start()
        started.join()
        done.await()
      }._2
    }
    assert(done.getCount == 0)
    assert(inner.jobs.size == 2, inner.jobs)
    assert(inner.jobs.forall(j => j.start > 0 && j.end >= j.start), inner.jobs)
    assert(inner.stages.map(_.tasks).sorted == Seq(1, 2))
    assert(outer.jobs.size == 4 && outer.jobs.map(_.id).containsSlice(inner.jobs.map(_.id)))
  }

  test("stages are attached to their job and passed to onStage with its description") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val (_, w) = Metrics.collect(spark, (s, desc) => seen.add(s.id -> desc)) {
      sc.setJobDescription("metrics: shuffle")
      try sc.parallelize(1 to 100, 4).map(i => (i % 5, 1)).reduceByKey(_ + _, 3).count()
      finally sc.setJobDescription(null)
    }
    assert(w.jobs.map(_.description) == Seq("metrics: shuffle"))
    assert(w.jobs.head.stages.map(_.tasks).sorted == Seq(3, 4))
    assert(seen.asScala.toSeq.sortBy(_._1) == w.stages.map(s => s.id -> "metrics: shuffle").sortBy(_._1))
    assert(w.coveredMs == w.jobs.head.end - w.jobs.head.start)
  }

  test("a window keeps the micro-batch durations of the streams its jobs ran, no other") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def stream(name: String, batches: Int): org.apache.spark.sql.streaming.StreamingQuery = {
      val mem = MemoryStream[Int]
      val q = mem.toDF().writeStream.format("memory").queryName(name).start()
      try (1 to batches).foreach { i =>
        mem.addData(i)
        q.processAllAvailable()
      } finally q.stop()
      q
    }
    stream("metrics_before", 3) // batches 0-2; its progress may still be on the bus
    val (q, w) = Metrics.collect(spark)(stream("metrics_in", 2))
    val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch")).map(_.batchId).toSeq
    assert(ran == Seq(0L, 1L) && w.batches.map(_.id) == ran, w.batches)
    assert(w.batches.forall(_.durationMs.head._1 == "triggerExecution"), w.batches)
  }
}
