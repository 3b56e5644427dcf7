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
}

object SparkSpec {
  lazy val session: SparkSession = Session.build()
  graft.functions.Graph.quietCheckpointReleaseWarns()
}
