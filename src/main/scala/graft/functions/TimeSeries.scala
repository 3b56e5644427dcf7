package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/**
 * Time-series operators for event/metric pipelines: fixed-interval
 * resampling with gap fill, forward fill, trailing time-range windows,
 * and linear interpolation of missing values.
 *
 * Scale posture: every operator REQUIRES `partition_by` — each is a
 * per-key window or per-key grouped aggregation, so work distributes
 * across keys and no global ordering (single-task window) ever exists.
 * `resample`'s gap grid is generated per key with `sequence()` on the
 * executors (bounded by an explicit per-key bucket cap enforced inside
 * the plan via raise_error, no driver action), and the grid→aggregate
 * join is an equi-join on the same keys the aggregation just shuffled
 * on, so it co-partitions.
 *
 * Everything is deterministic integer/epoch-micro arithmetic so results
 * are bit-stable across partitionings and engines (the DuckDB oracles
 * rebuild each kernel exactly).
 */
object TimeSeries {

  private def err(op: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"`$op` operation: $msg")

  /** Parse `"15 minutes"` / `"1 hour"` / `"2d"`-style interval specs to
    * microseconds. Units: microsecond/ms/second/minute/hour/day/week
    * (singular or plural, or the single-letter forms s/m/h/d/w). */
  def parseInterval(op: String, spec: String): Long = {
    val m = "^\\s*(\\d+)\\s*([A-Za-z]+)\\s*$".r.findFirstMatchIn(spec)
      .getOrElse(err(op, s"cannot parse interval `$spec` (want e.g. `15 minutes`, `1 hour`)"))
    val n = m.group(1).toLong
    if (n <= 0) err(op, s"interval `$spec` must be positive")
    val unit = m.group(2).toLowerCase match {
      case "microsecond" | "microseconds" | "us" => 1L
      case "millisecond" | "milliseconds" | "ms" => 1000L
      case "second" | "seconds" | "sec" | "secs" | "s" => 1000000L
      case "minute" | "minutes" | "min" | "mins" | "m" => 60L * 1000000L
      case "hour" | "hours" | "hr" | "hrs" | "h" => 3600L * 1000000L
      case "day" | "days" | "d" => 86400L * 1000000L
      case "week" | "weeks" | "w" => 7L * 86400L * 1000000L
      case other => err(op, s"unknown interval unit `$other` in `$spec`")
    }
    n * unit
  }

  /** Floor a timestamp column to the start of its `intervalUs` bucket
    * (epoch-aligned; pmod keeps the floor correct for pre-1970 times). */
  private def bucketOf(timeCol: String, intervalUs: Long) = {
    val us = unix_micros(col(timeCol).cast("timestamp"))
    timestamp_micros((us - pmod(us, lit(intervalUs))).cast(LongType))
  }

  /**
   * Resample events to fixed `intervalUs` buckets per key: one grouped
   * aggregation on (keys, bucket); with `fillGaps` the per-key
   * [min,max] bucket grid is generated with `sequence()` and
   * left-joined so empty buckets appear (count-style aggregates
   * coalesce to 0, others stay null — pandas `resample().agg()`
   * semantics). `maxBucketsPerKey` bounds the generated grid: a key
   * whose span/interval exceeds it fails the job with a diagnosable
   * error rather than materializing an unbounded array.
   */
  def resample(df: DataFrame, timeCol: String, partitionBy: Seq[String],
               intervalUs: Long, aggs: Seq[(String, String)],
               bucketName: String = "bucket", fillGaps: Boolean = true,
               maxBucketsPerKey: Long = 1000000L): DataFrame = {
    if (partitionBy.isEmpty)
      err("resample", "partition_by is required (an unkeyed resample is a global " +
        "single-task grid; aggregate to one key first if that is really wanted)")
    (partitionBy :+ timeCol).foreach(c =>
      if (!df.columns.contains(c)) err("resample", s"column `$c` not defined"))
    if (aggs.isEmpty) err("resample", "aggregations must not be empty")
    if (maxBucketsPerKey <= 0)
      err("resample", s"max_buckets_per_key must be positive, got $maxBucketsPerKey")
    if (aggs.exists(_._1 == bucketName))
      err("resample", s"aggregation name `$bucketName` collides with the bucket column")
    val aggExprs = aggs.map { case (name, spec) =>
      graft.ops.Ops.parseAgg(spec, df.columns.toSeq).as(name)
    }
    val keyCols = partitionBy.map(col)
    val grouped = df.withColumn(bucketName, bucketOf(timeCol, intervalUs))
      .groupBy((keyCols :+ col(bucketName)): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    if (!fillGaps) grouped
    else {
      val lo = unix_micros(min(col(bucketName)))
      val hi = unix_micros(max(col(bucketName)))
      // NB Spark `/` on longs is DOUBLE division; hi-lo is an exact multiple
      // of intervalUs and the quotient is far below 2^53, so the double
      // divide is exact — cast back to long for the %d in the message.
      val nBuckets = ((hi - lo).cast(DoubleType) / lit(intervalUs.toDouble))
        .cast(LongType) + lit(1L)
      // The cap rides inside the plan: a too-wide key raises in the span
      // aggregation before any grid array is ever allocated.
      val loChecked = when(nBuckets > maxBucketsPerKey,
        raise_error(format_string(
          s"`resample`: key spans %d buckets at this interval (cap $maxBucketsPerKey); " +
            "widen the interval or raise max_buckets_per_key", nBuckets)).cast(LongType))
        .otherwise(lo)
      val grid = grouped.groupBy(keyCols: _*)
        .agg(loChecked.as("__lo"), hi.as("__hi"))
        .select((keyCols :+ explode(sequence(col("__lo"), col("__hi"),
          lit(intervalUs))).as("__bus")): _*)
        .withColumn(bucketName, timestamp_micros(col("__bus"))).drop("__bus")
      // Equi-join on the exact keys `grouped` shuffled on — co-partitioned.
      val joined = grid.join(grouped, partitionBy :+ bucketName, "left")
      val countLike = "^\\s*(count|size)\\s*\\(".r
      aggs.foldLeft(joined) { case (d, (name, spec)) =>
        if (countLike.findFirstIn(spec).isDefined)
          d.withColumn(name, coalesce(col(name), lit(0L)))
        else d
      }
    }
  }

  /**
   * Forward-fill nulls per key in event order (pandas `groupby().ffill()`):
   * each null takes the most recent preceding non-null of the same column.
   * Leading nulls stay null unless `default` supplies a value.
   */
  def fillForward(df: DataFrame, columns: Seq[String], partitionBy: Seq[String],
                  orderBy: Seq[String], default: Option[String] = None): DataFrame = {
    if (partitionBy.isEmpty)
      err("fill_forward", "partition_by is required (a global fill orders ALL rows on one task)")
    if (orderBy.isEmpty) err("fill_forward", "order_by is required")
    (columns ++ partitionBy ++ orderBy.map(_.stripPrefix("-").stripPrefix("+"))).foreach(c =>
      if (!df.columns.contains(c)) err("fill_forward", s"column `$c` not defined"))
    val orderCols = orderBy.map {
      case c if c.startsWith("-") => col(c.substring(1)).desc
      case c => col(c.stripPrefix("+")).asc
    }
    val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    columns.foldLeft(df) { (d, c) =>
      val filled = last(col(c), ignoreNulls = true).over(w)
      d.withColumn(c, default match {
        case Some(v) => coalesce(filled, lit(v).cast(d.schema(c).dataType))
        case None => filled
      })
    }
  }

  /**
   * Trailing time-range window aggregate: for each event, aggregate the
   * key's events inside `(t - trailingUs, t]` — the "sum of the last
   * hour" feature that a ROWS-framed window (`window_agg`) cannot
   * express. RANGE frame over epoch micros; ties share a frame (SQL
   * peer semantics, same as DuckDB).
   */
  def timeWindowAgg(df: DataFrame, partitionBy: Seq[String], timeCol: String,
                    function: String, column: String, newColumn: String,
                    trailingUs: Long): DataFrame = {
    if (partitionBy.isEmpty)
      err("time_window_agg", "partition_by is required (a global window runs on ONE task)")
    (partitionBy ++ Seq(timeCol) ++ (if (function == "count") Nil else Seq(column)))
      .foreach(c => if (!df.columns.contains(c)) err("time_window_agg", s"column `$c` not defined"))
    if (trailingUs <= 0) err("time_window_agg", "trailing interval must be positive")
    val w = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy(unix_micros(col(timeCol).cast("timestamp")))
      .rangeBetween(-trailingUs, 0)
    val num = col(column).cast(DoubleType)
    val agg = function match {
      case "sum" => sum(num).over(w)
      case "avg" | "mean" => avg(num).over(w)
      case "min" => min(num).over(w)
      case "max" => max(num).over(w)
      case "count" => count(lit(1)).over(w)
      case other => err("time_window_agg",
        s"invalid window function `$other` (sum/avg/mean/min/max/count)")
    }
    df.withColumn(newColumn, agg)
  }

  /**
   * Linear interpolation of nulls per key (pandas
   * `groupby().apply(interpolate(method='time'))`): a null value becomes
   * prev + (next − prev) · (t − t_prev)/(t_next − t_prev) between its
   * nearest non-null neighbors in time; rows before the first or after
   * the last non-null stay null. Two per-key window passes carry the
   * neighbor (t, value) structs; the arithmetic is fixed-shape double
   * IEEE ops so the result is bit-stable across engines.
   */
  def interpolate(df: DataFrame, column: String, timeCol: String,
                  partitionBy: Seq[String], tieBreak: Seq[String] = Nil,
                  newColumn: String = ""): DataFrame = {
    if (partitionBy.isEmpty)
      err("interpolate", "partition_by is required (a global interpolation orders ALL rows on one task)")
    (Seq(column, timeCol) ++ partitionBy ++ tieBreak).foreach(c =>
      if (!df.columns.contains(c)) err("interpolate", s"column `$c` not defined"))
    val out = if (newColumn.nonEmpty) newColumn else column
    val t = unix_micros(col(timeCol).cast("timestamp"))
    val v = col(column).cast(DoubleType)
    val sample = when(v.isNotNull, struct(t.as("t"), v.as("v")))
    val order = (t.asc +: tieBreak.map(col(_).asc))
    val base = Window.partitionBy(partitionBy.map(col): _*).orderBy(order: _*)
    val prev = last(sample, ignoreNulls = true)
      .over(base.rowsBetween(Window.unboundedPreceding, -1))
    // next neighbor = last-before over the REVERSED order, NOT a
    // (1, unboundedFollowing) frame: Spark evaluates unbounded-FOLLOWING
    // frames by rescanning to the partition end for every row — O(n²) per
    // key, a hang at 60k-row keys (PLANS.md, round-14 time-series scale
    // legs) — while both unbounded-PRECEDING frames here are incremental
    // running frames.
    // Same partitioning → one Exchange, two sorts.
    val revOrder = (t.desc +: tieBreak.map(col(_).desc))
    val baseRev = Window.partitionBy(partitionBy.map(col): _*).orderBy(revOrder: _*)
    val next = last(sample, ignoreNulls = true)
      .over(baseRev.rowsBetween(Window.unboundedPreceding, -1))
    val interp = when(v.isNotNull, v)
      .when(prev.isNull.or(next.isNull), lit(null).cast(DoubleType))
      .otherwise(prev("v") + (next("v") - prev("v")) *
        ((t - prev("t")).cast(DoubleType) / (next("t") - prev("t")).cast(DoubleType)))
    df.withColumn(out, interp)
  }
}
