package graft

import org.apache.spark.sql.SparkSession

/** The specs test the program users run: their session is the `graft run`
  * session, and the e2ebench tracer can still reach the CLI's builder. */
class SessionSpec extends SparkSpec {

  private def cliBuilders =
    graft.cli.Main.getClass.getDeclaredMethods.filter(_.getName.endsWith("buildSession"))

  test("spec session carries the CLI session's value for every key the builder sets") {
    Session.settings.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    // the CLI's own builder, run over the live spec session, changes nothing
    val before = spark.conf.getAll
    val m = cliBuilders.head
    m.setAccessible(true)
    assert(m.invoke(graft.cli.Main) eq spark)
    assert(spark.conf.getAll == before)
  }

  test("graft.cli.Main has exactly one zero-argument buildSession returning a SparkSession") {
    assert(cliBuilders.length == 1, cliBuilders.map(_.getName).mkString(", "))
    assert(cliBuilders.head.getParameterCount == 0)
    assert(cliBuilders.head.getReturnType == classOf[SparkSession])
  }
}
