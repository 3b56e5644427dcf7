package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs, configured exactly as
  * `graft run` configures its own (SessionSpec pins it). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session, never stop per-suite
}

object SparkSpec {
  lazy val session: SparkSession = Session.build()
  graft.functions.Graph.quietCheckpointReleaseWarns()
}
