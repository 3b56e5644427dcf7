// scratch: dump the LSH hyperplane sign matrix for the q_ann_lsh oracle SQL
package graft.tools
import org.apache.spark.sql.functions._

object DumpPlanes {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val numPlanes = 4; val dim = 64
    val rows = spark.range(1).select((0 until numPlanes).map { p =>
      array((0 until dim).map(i =>
        when(xxhash64(lit(p), lit(i)).bitwiseAND(1) === 1, 1.0).otherwise(-1.0)): _*).as(s"p$p")
    }: _*).head()
    (0 until numPlanes).foreach { p =>
      println(s"PLANE$p=[" + rows.getSeq[Double](p).map(v => if (v > 0) "1" else "-1").mkString(",") + "]")
    }
    spark.stop()
  }
}
