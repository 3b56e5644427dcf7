package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs, configured exactly as
  * `graft run` configures its own (SessionSpec pins it). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session, never stop per-suite

  /** (CacheManager entries, persistent RDDs). The session is shared, so a
    * spec that must leave no cache behind compares this before and after. */
  def cacheFootprint: (Int, Int) = {
    val cm = spark.sharedState.cacheManager
    // numCachedEntries is private[sql] to scalac but public in the bytecode
    (cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int],
      spark.sparkContext.getPersistentRDDs.size)
  }

  /** id -> "name, creation site, storage level" of every persistent RDD. */
  def persistentRdds: Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.map { case (id, rdd) =>
      // getCreationSite is private[spark] to scalac but public in the bytecode
      val site = classOf[org.apache.spark.rdd.RDD[_]].getMethod("getCreationSite").invoke(rdd)
      id -> s"name=${rdd.name} site=$site level=${rdd.getStorageLevel.description}"
    }.toMap

  /** One line per persistent RDD that appeared (+) or went away (-) since
    * `before` was taken — what a footprint assertion names when it fails. */
  def rddChanges(before: Map[Int, String]): String = {
    val now = persistentRdds
    ((now.keySet -- before.keySet).toSeq.sorted.map(id => s"\n  + rdd $id ${now(id)}") ++
      (before.keySet -- now.keySet).toSeq.sorted.map(id => s"\n  - rdd $id ${before(id)}")).mkString
  }

  /** Spark jobs `body` submits on this thread and the threads it starts. */
  def jobsDuring(body: => Any): Int = Metrics.collect(spark)(body)._2.jobs.size
}

object SparkSpec {
  lazy val session: SparkSession = Session.build()
  graft.functions.Graph.quietCheckpointReleaseWarns()
}
