// Scale evidence for the data-bound operator tier (VERDICT r21 #7): the
// sf0.1 bench suite is fixed-cost dominated (scheduler + micro-batch
// machinery), so its 8c/32c ratios CANNOT demonstrate parallel speedup.
// This probe runs the top data-bound operator shapes over sf1-class inputs
// (6M-row lineitem-like, 10M-row events-like; deterministic synthesis,
// written once as 32-file parquet so the scan parallelizes like real
// multi-split input) and prints one SCALE-CORES line per leg. Run it once
// per core count:
//
//   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.CoreScaleProbe"
//   SPARK_GRAFT_CPUS=8  sbt "runMain graft.tools.CoreScaleProbe"
//
// and compare leg times — the time-vs-cores table lands in
// OPTIMIZATION_r22.md. Not part of the driver contract; local diagnosis.
package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Ops

object CoreScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = graft.Session.cpus
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-corescale")
    val liRows = sys.env.getOrElse("SPARK_GRAFT_SCALE_LI_ROWS", "6000000").toLong
    val evRows = sys.env.getOrElse("SPARK_GRAFT_SCALE_EV_ROWS", "10000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic sf1-class fixtures, generated once (hash-derived
    // columns, 32 files each — the multi-split shape real input has)
    val liPath = s"$base/lineitem_big.parquet"
    val evPath = s"$base/events_big.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(liPath))) {
      spark.range(0, liRows, 1, 32).select(
        col("id").as("l_orderkey"),
        pmod(hash(col("id")), lit(200000)).cast("long").as("l_partkey"),
        (pmod(hash(col("id"), lit(1)), lit(50)) + 1).cast("int").as("l_quantity"),
        (pmod(hash(col("id"), lit(2)), lit(9000000)) + 100000).cast("long").as("l_price_cents"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(hash(col("id"), lit(3)), lit(3)) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (pmod(hash(col("id"), lit(4)), lit(2)) + 1).cast("int")).as("l_linestatus"),
        date_add(lit("2024-01-01").cast("date"),
          pmod(hash(col("id"), lit(5)), lit(730)).cast("int")).as("l_shipdate"))
        .write.mode("overwrite").parquet(liPath)
    }
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(evPath))) {
      spark.range(0, evRows, 1, 32).select(
        timestamp_micros(lit(1700000000000000L) +
          pmod(hash(col("id")), lit(86400L * 30)).cast("long") * 1000000L).as("ts"),
        pmod(hash(col("id"), lit(1)), lit(500000)).cast("long").as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("buy"), lit("scroll")),
          (pmod(hash(col("id"), lit(2)), lit(4)) + 1).cast("int")).as("event_type"),
        (pmod(hash(col("id"), lit(3)), lit(100000)).cast("long")).as("value"))
        .write.mode("overwrite").parquet(evPath)
    }
    val li = spark.read.parquet(liPath)
    val ev = spark.read.parquet(evPath)

    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def leg(name: String)(f: => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(s"corescale: $name")
      noop(f) // warm (JIT + codegen)
      spark.catalog.clearCache()
      val t = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        noop(f)
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"SCALE-CORES cpus=$cpus $name=$t%.2fs")
      spark.sparkContext.setJobDescription(null)
    }

    leg("group_by")(Ops.groupBy(li, Seq("l_returnflag", "l_linestatus"),
      Seq("sum_qty" -> "sum(l_quantity)", "sum_price" -> "sum(l_price_cents)",
        "n" -> "count(*)")))
    leg("group_by_with_rank")(Ops.groupByWithRank(li,
      Seq("l_partkey"), "rk", Seq("l_quantity", "l_orderkey")))
    leg("window_agg")(Ops.windowAgg(ev, Seq("user_id"), Seq("ts"),
      "sum", "value", "running"))
    leg("join_inner") {
      val dim = li.groupBy("l_partkey").agg(sum("l_quantity").as("part_qty"))
      Ops.join(li.select("l_orderkey", "l_partkey", "l_quantity"), Seq(dim),
        "inner", Seq("l_partkey"), Seq("l_partkey"))
    }
    leg("cast_columns")(Ops.castColumns(li,
      Seq("l_quantity" -> "double", "l_price_cents" -> "string", "l_shipdate" -> "string")))
    leg("sort_rows")(Ops.sortRows(li, Seq("l_price_cents"), descending = true))
    leg("distinct_rows")(Ops.distinctRows(ev, Seq("user_id", "event_type")))
    leg("resample")(graft.functions.TimeSeries.resample(ev, "ts", Seq("event_type"),
      3600000000L, Seq("n" -> "count(ts)", "s" -> "sum(value)")))
    leg("zorder")(graft.functions.Zorder.zorderBy(
      li.select("l_orderkey", "l_partkey", "l_quantity"),
      Seq("l_partkey", "l_quantity")))
    leg("dedup_exact")(graft.functions.Dedup.exactGroups(
      ev.withColumn("k", concat_ws("|", col("user_id"), col("event_type"), col("value"))),
      "user_id", "k"))

    spark.stop()
  }
}
