package graft.tools

/**
 * Per-query profiling harness for the optimization rounds (guide §1:
 * measure first). Runs each named bench query twice warm + once measured
 * in a [[graft.Metrics]] window and prints where the wall time went:
 * per-job durations (with descriptions), per-stage durations / task counts /
 * shuffle bytes, the driver-side "gap" time no job covers — the number
 * that separates scheduling/planning/driver work from executor compute —
 * and, for the streaming gates, each micro-batch's `durationMs` phases.
 * Not part of the driver contract; local diagnosis only.
 *
 *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
 *     sbt "runMain graft.tools.ProfileQuery q_pagerank q_hits"
 */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.harness(warm = true)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to 2).foreach { _ => noop(fn(spark, sfDir)); graft.Session.releaseCaches(spark) } // JIT + codegen
      val (wall, w) = graft.Metrics.collect(spark) {
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      graft.Session.releaseCaches(spark)
      w.batches.foreach { b =>
        System.err.println(s"  [stream] batch=${b.id} " +
          b.durationMs.map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
      val covered = w.coveredMs / 1000.0
      println(f"\n=== $name: wall $wall%.3f s, ${w.jobs.size} jobs, ${w.stages.size} stages, " +
        f"job-covered $covered%.3f s, driver-gap ${wall - covered}%.3f s ===")
      w.jobs.sortBy(j => -(j.end - j.start)).take(25).foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1000.0}%7.3f s  ${j.description.take(90)}")
      }
      println("  -- slowest stages --")
      w.stages.sortBy(-_.durationMs).take(25).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.durationMs / 1000.0}%7.3f s  tasks=${s.tasks}%3d " +
          f"run=${s.runMs / 1000.0}%6.2f s cpu=${s.cpuMs / 1000.0}%6.2f s " +
          f"deser=${s.deserializeMs / 1000.0}%5.2f s gc=${s.gcMs / 1000.0}%5.2f s " +
          f"in=${s.inputBytes / 1e6}%8.2f MB " +
          f"sr=${s.shuffleReadBytes / 1e6}%7.2f MB sw=${s.shuffleWriteBytes / 1e6}%7.2f MB  " +
          s.name.take(90))
      }
    }
    spark.stop()
  }
}
