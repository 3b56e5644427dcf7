package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Pure helpers for the bench artifact — separated from the Spark main so the
 * stdout-line budget and the best-ever bookkeeping are unit-testable.
 *
 * The driver captures only the LAST 2000 characters of stdout and parses the
 * final line as JSON; a line longer than that loses its front brace and
 * records `parsed:null` (this happened in rounds 6 and 8). Everything beyond
 * the driver-contract minimum lives in the results FILE, and the stdout line
 * is assembled under an explicit budget so it can never outgrow the window
 * again.
 */
object BenchFormat {
  /** The driver keeps the LAST 2000 chars of stdout, and sbt's
    * `[success] Total time: …` epilogue (~74 chars, plus a margin for a
    * three-digit duration and trailing newline noise) lands AFTER our line
    * inside that window. Round 11 budgeted the line alone at 1990 and a
    * 1960-char line got its head clipped (`parsed:null`) — the budget must
    * be 2000 − epilogue − margin, not 2000. */
  val StdoutBudget = 1900

  def fmt(v: Double, decimals: Int): String = {
    val s = String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    // strip trailing zeros but keep at least one decimal ("0.120" -> "0.12")
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") match {
      case t if t.isEmpty || t == "-" => "0"
      case t => t
    } else s
  }

  def jsMap(m: collection.Seq[(String, Double)], decimals: Int): String =
    m.map { case (k, v) => "\"" + k + "\":" + fmt(v, decimals) }.mkString("{", ",", "}")

  /** {"name":[a,b,...],...} for per-rep telemetry arrays (raw samples,
    * GC seconds, storage MB) — slow-window claims must be evidenced in
    * the artifact itself, not inferred after the fact. */
  def jsArrays(m: collection.Seq[(String, Vector[Double])], decimals: Int): String =
    m.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(fmt(_, decimals)).mkString(",") + "]"
    }.mkString("{", ",", "}")

  /** Flat {"name":number,...} parser for files this object itself writes. */
  def parseFlat(s: String): Map[String, Double] =
    """"([^"]+)"\s*:\s*(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)""".r
      .findAllMatchIn(s)
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .filterNot(_._1 == "value") // envelope keys never collide with query names, but be safe
      .toMap

  /** A min FAR below best-ever (< 0.5×) is a measurement anomaly until it
    * reproduces: round 9 min-merged a 0.054s q_sessionize "speedup" that was
    * actually an instantly-failing query, and every later run then showed a
    * phantom 3× regression vs best. Confirmed = at least two samples below
    * 0.75× best (the caller re-reps until that or a bounded retry cap). */
  def fastSuspect(best: Double, samples: Vector[Double]): Boolean =
    best > 0 && samples.min < 0.5 * best && samples.count(_ < 0.75 * best) < 2

  /** New best-ever map: min-merge, EXCEPT queries in `exclude` (failed this
    * run, or too-fast-unconfirmed) whose mins never enter the baseline —
    * their previous best survives untouched. */
  def mergeBest(prev: Map[String, Double], mins: Map[String, Double],
                exclude: Set[String]): Seq[(String, Double)] =
    (prev.keySet ++ mins.keySet).toSeq.sorted.flatMap { k =>
      val cand = if (exclude(k)) None else mins.get(k)
      (prev.get(k), cand) match {
        case (Some(p), Some(c)) => Some(k -> math.min(p, c))
        case (Some(p), None)    => Some(k -> p)
        case (None, Some(c))    => Some(k -> c)
        case _                  => None
      }
    }

  /** A candidate re-baseline sweep measurably SLOWER than the standing
    * floor must not BECOME the floor: round 17 accidentally promoted an
    * intermediate slow-box sweep to BENCH_BEST and it had to be
    * hand-reverted from git. Refuse when the candidate's total over the
    * comparable set exceeds the floor total by >5% — a genuine full
    * clean sweep on a healthy box lands at or under the floor it is
    * meant to replace. SPARK_GRAFT_REBASE_FORCE=1 overrides for
    * deliberate resets (e.g. a known, accepted regression). */
  def rebaseRefusedSlower(minSum: Double, bestSum: Double,
                          force: Boolean): Boolean =
    !force && bestSum > 0 && minSum > 1.05 * bestSum

  /** Whole-run contention verdict. The per-query 3×-best trip alone was
    * defused in round 9 by post-sweep re-reps that landed during the same
    * burst — so also trip on aggregate evidence: the sum of mins over
    * queries with a comparable best-ever exceeding 1.4× the best-ever sum,
    * or several queries with median/min spread above 3×. The aggregate
    * threshold is 1.4, not 1.3: best-sum accrues each query's best-ever
    * WINDOW, so a genuinely calm run on this VM still measures ~1.3×
    * aggregate (observed 1.31 at load average 0.2 with zero per-query
    * trips) — at 1.3 the flag fires chronically and stops meaning
    * "don't trust this artifact". Round 9's corrupted run was 1.51×.
    * The raw ratio rides in the results file as `min_sum_vs_best` either
    * way, so the driver/judge can see borderline runs. */
  def assessContention(contendedCount: Int, totalQueries: Int,
                       spreads: collection.Seq[Double],
                       minSum: Double, bestSum: Double,
                       commonCount: Int): Boolean =
    contendedCount >= math.max(3, totalQueries / 10) ||
      (commonCount >= 10 && bestSum > 0 && minSum > 1.4 * bestSum) ||
      spreads.count(_ > 3.0) >= 3

  /**
   * The stdout line: the SLOWEST queries that fit [[StdoutBudget]], keyed
   * by plain names with the uniform "q_" prefix stripped (announced as
   * `"qprefix":"q_"`; a name without it, etl_render, rides as is) and
   * valued in integer deciseconds (announced as `"qunit":"ds"`). When some
   * queries do not fit, `queries_omitted` counts them and `qomax_ds` is the
   * largest omitted value, so every kept value bounds every omitted one —
   * the slow end carries the regression signal, the omitted tail is noise
   * at ds granularity. `machine_contended` rides when true and `failed`
   * when nonzero. The full 3-decimal map persists in BENCH_RESULTS*.json.
   *
   * Keys stay plain because the line's reader decodes nothing else: from
   * the token/prefix-compressed keys of rounds 20-21 its PERF computed zero
   * per-query diffs. The budget cannot be raised instead: every captured
   * BENCH_r<N>.json carries exactly 2000 chars of stdout tail, and the two
   * >1900-char lines ever printed (rounds 6 and 8) lost their front brace
   * to that window and parsed as null.
   */
  def stdoutLine(
      total: Double,
      mins: collection.Seq[(String, Double)],
      machineContended: Boolean,
      sfDir: String,
      failedCount: Int = 0): String = {
    val sorted = mins.sortBy { case (k, v) => (-v, k) }
    val tail =
      (if (machineContended) ""","machine_contended":true""" else "") +
        (if (failedCount > 0) s""","failed":$failedCount""" else "") +
        s""","sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
    def line(keep: Int): String = {
      val entries = sorted.take(keep).map { case (k, v) =>
        "\"" + k.stripPrefix("q_") + "\":" + math.round(v * 10).toString
      }.mkString("{", ",", "}")
      val omitted = sorted.drop(keep)
      val om =
        if (omitted.isEmpty) ""
        else s""","queries_omitted":${omitted.size},"qomax_ds":${math.round(omitted.head._2 * 10)}"""
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$entries,"qprefix":"q_","qunit":"ds"$om$tail"""
    }
    (sorted.size to 0 by -1).iterator.map(line).find(_.length <= StdoutBudget)
      .getOrElse(line(0))
  }
}

/**
 * Benchmark main. Prints ONE JSON line with per-query wall times at
 * SPARK_GRAFT_SF_DIR.
 *
 * Measurement protocol (the VM shows 2×+ run-to-run wall-clock noise on
 * identical code, so single-shot timings are meaningless): one UNRECORDED
 * warm-up pass over the whole query set absorbs JIT/codegen warm-up (the
 * round-14 bimodality study measured ~4.7s of it inside rep 1 alone;
 * SPARK_GRAFT_NOWARM=1 skips for local iteration), then every query runs
 * `SPARK_GRAFT_REPS` (default 3) times back-to-back inside this one JVM and
 * the reported number is the MIN — the best observable steady-state, robust
 * to scheduler noise.
 *
 * Contention defense (round 8 recorded an official 147.5s artifact for an
 * engine whose calm-box steady state is 20.6s — spreads to 81× when the whole
 * sweep ran on a busy machine):
 *  1. per-query best-ever mins persist in `BENCH_BEST.json` across runs;
 *  2. after the sweep, any query whose min exceeds 3× its best-ever gets up
 *     to 3 extra reps (the burst has usually passed by then);
 *  3. queries still above 3× best after retries are listed as `contended`;
 *     when several remain — or the aggregate min-sum exceeds 1.3× the
 *     best-ever sum, or several spreads exceed 3× — the artifact carries
 *     `machine_contended: true` so a garbage total is machine-detectable
 *     instead of silently official;
 *  4. `vs_best` ratios ride in the results file for per-query regression
 *     archaeology;
 *  5. symmetric anomaly defenses: a query that THREW keeps its wall time in
 *     the queries map (driver contract) but never min-merges into
 *     BENCH_BEST, and a min below 0.5× best-ever must reproduce across reps
 *     before it becomes the new best (round 9: an instantly-failing
 *     q_sessionize recorded a fake 0.054s best-ever);
 *  6. re-baselining: minima ratcheted across rounds on DIFFERENT boxes
 *     drift into an unreachable floor (r16: clean sweeps read
 *     min_sum_vs_best 1.25-1.38, burying real regressions), so
 *     `SPARK_GRAFT_REBASE_BEST=1` on a FULL clean uncontended sweep
 *     replaces BENCH_BEST.json with that sweep's mins and archives the
 *     outgoing baseline (min-merged) into BENCH_BEST_HISTORY.json. Policy:
 *     re-baseline once per round from the final same-box clean sweep;
 *     vs_best then reads ~1.0-1.1 and a 1.5× entry means something again.
 *     The guard is IN CODE (r17 hand-reverted an accidental slow-box
 *     promotion): a candidate sweep totalling >1.05× the standing floor
 *     over the comparable set is refused unless
 *     SPARK_GRAFT_REBASE_FORCE=1 deliberately resets the floor;
 *  7. soft floor guard (r19: the official artifact shipped 38 source
 *     gates at 2.0-2.7× floor — under the 3× trip, ~8% total inflation):
 *     any min >1.5× its best-ever gets up to 2 extra reps, survivors are
 *     listed in the artifact's `over_floor`, and a run whose
 *     min_sum_vs_best exceeds 1.10 (≥10 comparable queries) is
 *     `floor_inflated` and refuses the canonical write like a contended
 *     run (SPARK_GRAFT_ALLOW_CONTENDED=1 overrides both);
 *  8. retry-on-inflation (r20: the round snapshot itself shipped from a
 *     contended window): a sweep that lands machine_contended or
 *     floor_inflated cools down SPARK_GRAFT_SWEEP_COOLDOWN_SEC (90) and
 *     re-runs once (SPARK_GRAFT_SWEEP_RETRIES bounds the retries), so
 *     the round artifact is clean or twice-confirmed — `sweep_attempts`
 *     and `retries_exhausted` ride in the artifact.
 *
 * Artifact telemetry (per rep, arrays aligned with `samples`):
 * `samples_gc_sec` (GC seconds during the rep), `samples_storage_mb`
 * (block-manager bytes after the rep's cleanup), `samples_loadavg`
 * (1-min system load when the rep ended) — the signals that tell a
 * within-JVM slow mode apart from a busy box, IN the artifact so slow
 * windows are evidenced, not inferred.
 *
 * Action: `noop` datasource write — forces full evaluation of every
 * projection (a count() would let Catalyst prune the very operators being
 * measured) without paying filesystem cost.
 *
 * `etl_render` reproduces the reference's only published benchmark workload
 * (BASELINE.md: map_values + rename_columns + add_columns + per-row template
 * render to JSONL, ≈33k rows/s single-process): lineitem rows through the
 * same operator chain, rendered and written as text. Its row rate is the
 * headline comparable.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    // etl_render's output dir: written on every rep, deleted when the run ends
    val outDir = java.nio.file.Files.createTempDirectory("graft-bench")
    try sweep(outDir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(outDir.toFile)
  }

  private def sweep(outDir: java.nio.file.Path): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = Session.harness(warm = true)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // rep timings per query, insertion-ordered
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val bodies = scala.collection.mutable.LinkedHashMap[String, () => Unit]()
    // per-rep telemetry, appended by rep() in lockstep with the time the
    // caller records (cleared after the warm-up pass so indexes align):
    // GC seconds during the rep and block-manager storage in use AFTER
    // the rep's cleanup — the two signals that tell a within-JVM slow
    // mode (GC thrash, block accumulation) apart from a busy box
    val gcSamples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val storeSamples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val loadSamples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs(): Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    // 1-minute system load after each rep: with GC time and storage it
    // completes the slow-window discriminator (busy box reads high load
    // with flat GC/storage; a JVM-internal mode reads the opposite)
    def loadAvg(): Double =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "US-ASCII")
        s.split(" ")(0).toDouble
      } catch { case _: Exception => -1.0 }
    // name -> first error. A throwing query still gets a wall time (so the
    // driver-contract queries map stays complete), but that time measures
    // the failure, not the work — it must never min-merge into BENCH_BEST
    // (round 9: q_sessionize threw in ~0.05s and became a fake best-ever).
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    def rep(name: String): Double = {
      val gc0 = gcMs()
      val t = time {
        try bodies(name)()
        catch { case e: Throwable =>
          failures.getOrElseUpdate(name, Option(e.getMessage).getOrElse(e.toString).take(300))
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      // drop the rep's operator caches (the round-17 q_pagerank
      // 6.7->7.4->8.1 monotone-rep artifact was leftover checkpoint blocks)
      Session.releaseCaches(spark)
      gcSamples(name) = gcSamples.getOrElse(name, Vector.empty) :+ (gcMs() - gc0) / 1000.0
      storeSamples(name) = storeSamples.getOrElse(name, Vector.empty) :+
        spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, remaining) => (max - remaining).toDouble }.sum / 1e6
      loadSamples(name) = loadSamples.getOrElse(name, Vector.empty) :+ loadAvg()
      t
    }
    def measure(name: String)(f: => Unit): Unit =
      bodies(name) = () => f // registration only; the sweep runs below

    // headline ETL pipeline (reference big_earthmover.yaml shape), written
    // spark-native multi-part (the 100TB output shape)
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the sweep for local iteration;
    // unset = the full official suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    if (only.forall(_.contains("etl_render"))) measure("etl_render") {
      // repartition the scan: a sub-128MB parquet reads as few partitions,
      // serializing the render on a sliver of the cores — the multi-part
      // 100TB output shape this benchmark models is a parallel write
      // (rows/bytes produced are identical; only file count changes)
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
      val stringly = li.select(li.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      val piped = graft.ops.Ops.addColumns(
        graft.ops.Ops.renameColumns(
          graft.ops.Ops.mapValues(stringly, Seq("l_returnflag"),
            Map("A" -> "ACCEPTED", "N" -> "NONE", "R" -> "RETURNED")),
          Map("l_orderkey" -> "order_id")),
        Seq("source_system" -> "graft-bench"))
      val rendered = piped.select(to_json(struct(piped.columns.map(col).toIndexedSeq: _*)).as("value"))
      rendered.write.mode("overwrite").text(s"$outDir/etl_render")
    }

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) => measure(name)(noop(fn(spark, sfDir))) }

    def median(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def spreadOf(v: Vector[Double]): Double =
      if (v.min > 0) median(if (v.size > 1) v.tail else v) / v.min else 1.0

    // Best-ever mins are only comparable at the same scale factor: default
    // file is the official-scale BENCH_BEST.json for sf0.1 and an
    // SF-suffixed sibling otherwise, so a local sf0.01 run can never poison
    // the official baseline with impossibly-low mins.
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    val defaultBest = if (sfBase == "sf0.1") "BENCH_BEST.json" else s"BENCH_BEST_$sfBase.json"
    val bestPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BEST", defaultBest)).toAbsolutePath
    val prevBest: Map[String, Double] =
      if (java.nio.file.Files.exists(bestPath))
        BenchFormat.parseFlat(new String(java.nio.file.Files.readAllBytes(bestPath), "UTF-8"))
      else Map.empty
    def overBest(name: String): Boolean =
      prevBest.get(name).exists(b => b > 0 && samples(name).min > 3.0 * b)
    def overFloor(name: String): Boolean =
      !failures.contains(name) &&
        prevBest.get(name).exists(b => b > 0 && samples(name).min > 1.5 * b)
    def tooFast(name: String): Boolean =
      !failures.contains(name) &&
        BenchFormat.fastSuspect(prevBest.getOrElse(name, 0.0), samples(name))

    /** ONE full measurement pass (re-runnable: the r20 snapshot shipped
      * floor-inflated because the sweep ran in a contended window and
      * there was no second chance — see the retry loop below). */
    def measurePass(warm: Boolean): Unit = {
      samples.clear(); failures.clear()
      // Warm-up canary: one UNRECORDED pass over the whole query set before
      // rep 1. The round-14 bimodality study pinned ~4.7s of JIT warm-up to
      // rep 1 and ~0.5s to rep 2 inside a 3-rep budget — exactly the noise
      // that made cross-round per-query diffs unattributable. Costs one
      // extra pass; skippable for local iteration via SPARK_GRAFT_NOWARM=1,
      // and skipped on retry passes (the JVM is already warm).
      if (warm && !sys.env.get("SPARK_GRAFT_NOWARM").contains("1"))
        bodies.keys.foreach(rep)
      // telemetry indexes must align with the recorded samples — drop the
      // warm-up pass's entries (every later rep() call pairs 1:1 with a
      // sample the caller records)
      gcSamples.clear(); storeSamples.clear(); loadSamples.clear()
      bodies.keys.foreach { name =>
        samples(name) = (1 to reps).map(_ => rep(name)).toVector
      }
      // Adaptive noise recovery: a query whose steady-state median exceeds
      // 1.5× its min was measured while the machine was busy (a neighbor rep
      // spiked, GC, scheduler). Give those queries up to 2 extra reps AFTER
      // the full sweep — by then the burst has usually passed, and the MIN
      // (the reported number) gets a fair shot at true steady state. Bounded
      // cost: ≤2 × (noisy queries), never the whole suite again.
      val noisyAfterSweep = samples.filter { case (_, v) => spreadOf(v) > 1.5 }.keys.toSeq
      noisyAfterSweep.foreach { name =>
        var extra = 0
        while (extra < 2 && spreadOf(samples(name)) > 1.5) {
          samples(name) = samples(name) :+ rep(name)
          extra += 1
        }
      }
      // Best-ever defense: when the WHOLE sweep ran contended, the spread
      // heuristic above is blind (every rep is equally slow, spread looks
      // fine). Compare each min against the best this query has EVER
      // recorded on this box; a min 3× above best-ever is contention, not
      // code — re-rep it (bounded), and if it still won't come down, say so
      // in the artifact instead of letting a garbage number become official.
      samples.keys.filter(overBest).toSeq.foreach { name =>
        var extra = 0
        while (extra < 3 && overBest(name)) {
          samples(name) = samples(name) :+ rep(name)
          extra += 1
        }
      }
      // Soft floor guard (the r19 lesson): the official artifact shipped 38
      // source gates at 2.0-2.7× their floors — under the 3× contention trip
      // but far over healthy — from a loaded window, inflating the round
      // total ~8% while the code they exercise was untouched. A min >1.5×
      // its best-ever floor gets the same bounded re-rep treatment, and
      // whatever stays over the line is FLAGGED in the artifact
      // (`over_floor`) so an inflated number can never read as clean.
      samples.keys.filter(overFloor).toSeq.foreach { name =>
        var extra = 0
        while (extra < 2 && overFloor(name)) {
          samples(name) = samples(name) :+ rep(name)
          extra += 1
        }
      }
      // Symmetric guard: a min FAR BELOW best-ever is as suspicious as one
      // far above it — give it up to 2 extra reps; a genuine improvement
      // reproduces (≥2 samples under 0.75× best), a glitch doesn't and gets
      // quarantined from the best-ever merge below.
      samples.keys.filter(tooFast).toSeq.foreach { name =>
        var extra = 0
        while (extra < 2 && tooFast(name)) {
          samples(name) = samples(name) :+ rep(name)
          extra += 1
        }
      }
    }

    /** The whole-run contention/inflation verdict over the CURRENT samples
      * (the same arithmetic the artifact section repeats below). */
    def sweepVerdict(): (Boolean, Boolean, Double) = {
      val mins = samples.map { case (k, v) => k -> v.min }
      val meds = samples.map { case (k, v) => k -> median(if (v.size > 1) v.tail else v) }
      val spreads = samples.map { case (k, _) =>
        k -> (if (mins(k) > 0) meds(k) / mins(k) else 1.0) }
      val comparable = mins.keySet.filterNot(failures.contains)
        .filter(k => prevBest.get(k).exists(_ > 0))
      val minSum = comparable.toSeq.map(mins).sum
      val bestSum = comparable.toSeq.map(prevBest).sum
      val ratio = if (bestSum > 0) minSum / bestSum else 1.0
      val mc = BenchFormat.assessContention(
        samples.keys.count(overBest), samples.size, spreads.values.toSeq,
        minSum, bestSum, comparable.size)
      val fi = comparable.size >= 10 && ratio > 1.10
      (mc, fi, ratio)
    }

    // Retry-on-inflation (r20 "what's wrong #1"): the r20 round snapshot
    // shipped from a contended window (107.6s vs the 94.4s clean sweep) —
    // the floor guard refused the canonical write but the round-numbered
    // artifact still carried garbage numbers. When the sweep lands
    // contended or floor-inflated, cool down and re-run it once (bounded —
    // SPARK_GRAFT_SWEEP_RETRIES, default 1) so the committed artifact is
    // clean or twice-confirmed (`retries_exhausted` in the artifact).
    val rebase = sys.env.get("SPARK_GRAFT_REBASE_BEST").contains("1")
    val allowContended = sys.env.get("SPARK_GRAFT_ALLOW_CONTENDED").contains("1")
    val maxSweeps = 1 + sys.env.getOrElse("SPARK_GRAFT_SWEEP_RETRIES", "1").toInt.max(0)
    val cooldownSec = sys.env.getOrElse("SPARK_GRAFT_SWEEP_COOLDOWN_SEC", "90").toInt
    var sweepAttempts = 0
    var sweepDone = false
    while (!sweepDone) {
      sweepAttempts += 1
      measurePass(warm = sweepAttempts == 1)
      val (mc, fi, ratio) = sweepVerdict()
      // a floor-inflation trip is moot when this sweep REPLACES the floor
      if ((mc || (fi && !rebase)) && sweepAttempts < maxSweeps && !allowContended) {
        System.err.println(f"[bench] sweep attempt $sweepAttempts: " +
          f"machine_contended=$mc floor_inflated=$fi (min_sum_vs_best=$ratio%.3f) " +
          f"— cooling down ${cooldownSec}s and re-running the sweep")
        Thread.sleep(cooldownSec * 1000L)
      } else sweepDone = true
    }
    val retriesExhausted = sweepAttempts >= maxSweeps && {
      val (mc, fi, _) = sweepVerdict()
      mc || (fi && !rebase)
    }

    val contendedQueries = samples.keys.filter(overBest).toVector
    val overFloorQueries = samples.keys.filter(overFloor).toVector.sorted
    val suspectFast = samples.keys.filter(tooFast).toVector

    val mins = samples.map { case (k, v) => k -> v.min }
    // rep 1 is the warm-up (classload + codegen for that query's plan) —
    // the steady-state median excludes it so spread = median/min reflects
    // genuine run-to-run noise, not one-time cost
    val meds = samples.map { case (k, v) => k -> median(if (v.size > 1) v.tail else v) }
    val spreads = samples.map { case (k, _) => k -> (if (mins(k) > 0) meds(k) / mins(k) else 1.0) }
    val total = mins.values.sum

    // Aggregate contention evidence: sum of mins vs sum of best-evers over
    // the comparable (non-failed, has-a-best) queries, plus big spreads —
    // catches the round-9 shape where per-query re-reps landed inside the
    // same burst and defused the 3×-best trip one query at a time.
    val comparable = mins.keySet.filterNot(failures.contains)
      .filter(k => prevBest.get(k).exists(_ > 0))
    val minSum = comparable.toSeq.map(mins).sum
    val bestSum = comparable.toSeq.map(prevBest).sum
    val machineContended = BenchFormat.assessContention(
      contendedQueries.size, samples.size, spreads.values.toSeq,
      minSum, bestSum, comparable.size)

    // Persist the lower of (previous best, this min) per query. A contended
    // min is always ≥ the true steady state, so min-merge never poisons the
    // baseline from above; failed and too-fast-unconfirmed mins are excluded
    // so it can't be poisoned from below either.
    //
    // RE-BASELINE POLICY (SPARK_GRAFT_REBASE_BEST=1): best-ever mins
    // accumulated across rounds on DIFFERENT boxes drift into a floor of
    // one-off cross-box minima — by round 16 a clean same-box sweep read
    // min_sum_vs_best 1.25-1.38 and genuine per-query regressions were
    // buried in it, which defeats vs_best as a contention/regression
    // detector. The flag REPLACES the baseline with this sweep's mins,
    // but only when the sweep is authoritative: full suite (no
    // SPARK_GRAFT_ONLY filter), zero failures, machine_contended=false.
    // The outgoing baseline is min-merged into BENCH_BEST_HISTORY.json so
    // the all-time record survives for archaeology. Without the flag the
    // historic min-merge below keeps ratcheting as before.
    val rebaseForce = sys.env.get("SPARK_GRAFT_REBASE_FORCE").contains("1")
    val rebaseSlower = BenchFormat.rebaseRefusedSlower(minSum, bestSum, rebaseForce)
    val rebaseOk = rebase && !machineContended && failures.isEmpty &&
      only.isEmpty && suspectFast.isEmpty && !rebaseSlower
    if (rebase && !rebaseOk)
      System.err.println("[bench] SPARK_GRAFT_REBASE_BEST=1 IGNORED — " +
        s"rebase needs a full clean sweep at or under the standing floor " +
        s"(contended=$machineContended, failed=${failures.size}, " +
        s"filtered=${only.isDefined}, suspectFast=${suspectFast.size}, " +
        s"slowerThanFloor=$rebaseSlower [min_sum_vs_best=" +
        f"${if (bestSum > 0) minSum / bestSum else 1.0}%.3f, >1.05 refuses; " +
        "SPARK_GRAFT_REBASE_FORCE=1 overrides]); min-merging as usual")
    val newBest =
      if (rebaseOk) {
        val histPath = bestPath.resolveSibling(
          bestPath.getFileName.toString.replace(".json", "_HISTORY.json"))
        val prevHist: Map[String, Double] =
          if (java.nio.file.Files.exists(histPath))
            BenchFormat.parseFlat(new String(
              java.nio.file.Files.readAllBytes(histPath), "UTF-8"))
          else Map.empty
        val hist = BenchFormat.mergeBest(prevHist, prevBest, Set.empty)
        java.nio.file.Files.write(histPath,
          (BenchFormat.jsMap(hist, 3) + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] RE-BASELINED $bestPath from this clean " +
          s"sweep (${mins.size} queries); outgoing baseline archived in $histPath")
        mins.toSeq.sortBy(_._1)
      } else BenchFormat.mergeBest(prevBest, mins.toMap,
        failures.keySet.toSet ++ suspectFast)
    java.nio.file.Files.write(bestPath,
      (BenchFormat.jsMap(newBest, 3) + "\n").getBytes("UTF-8"))

    // Full-fidelity artifact goes to a FILE (the round-6 stdout-only emission
    // was a ~2.7KB line and the driver's 2000-char tail capture truncated its
    // front → parsed:null). The file carries min/median/spread per query, the
    // raw rep samples, and the vs-best-ever ratios for archaeology.
    val resultsPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_RESULTS", "BENCH_RESULTS.json")).toAbsolutePath
    val rawJs = samples.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(d => f"$d%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val vsBest = mins.collect {
      case (k, v) if !failures.contains(k) && prevBest.get(k).exists(_ > 0) =>
        k -> v / prevBest(k)
    }.toSeq
    def jsm(m: collection.Map[String, Double]) = BenchFormat.jsMap(m.toSeq, 3)
    def jsArr(v: Seq[String]) = v.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contendedJs = jsArr(contendedQueries)
    val failedJs = failures.map { case (k, e) =>
      "\"" + k + "\":\"" + e.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]", " ") + "\""
    }.mkString("{", ",", "}")
    val minSumVsBest = if (bestSum > 0) minSum / bestSum else 1.0
    val gcJs = BenchFormat.jsArrays(gcSamples.toSeq, 3)
    val storeJs = BenchFormat.jsArrays(storeSamples.toSeq, 1)
    val loadJs = BenchFormat.jsArrays(loadSamples.toSeq, 2)
    // Aggregate floor gate: re-baselined once per round from a same-box
    // clean sweep, a healthy run reads min_sum_vs_best ≈ 1.0; above 1.10
    // the whole artifact is window-inflated even if no query tripped the
    // 3× contention line (r19 shipped 1.17 official) — refuse the
    // canonical write like a contended run.
    val floorInflated = !rebaseOk && comparable.size >= 10 && minSumVsBest > 1.10
    val fullJson =
      s"""{"metric":"total","value":${BenchFormat.fmt(total, 3)},"unit":"sec","queries":${jsm(mins)},"queries_median":${jsm(meds)},"queries_spread":${jsm(spreads)},"samples":$rawJs,"samples_gc_sec":$gcJs,"samples_storage_mb":$storeJs,"samples_loadavg":$loadJs,"vs_best":${BenchFormat.jsMap(vsBest, 3)},"contended_queries":$contendedJs,"over_floor":${jsArr(overFloorQueries)},"suspect_fast":${jsArr(suspectFast)},"failed_queries":$failedJs,"machine_contended":$machineContended,"floor_inflated":$floorInflated,"min_sum_vs_best":${BenchFormat.fmt(minSumVsBest, 3)},"sweep_attempts":$sweepAttempts,"retries_exhausted":$retriesExhausted,"reps":$reps,"cpus":$cpus,"sf":"$sfDir"}"""
    // A contended run must not become the round's official artifact: its
    // +20%-ish uniform inflation makes cross-round per-query diffs
    // unattributable (the r15 lesson). The round-numbered snapshot below
    // still records it; only the canonical overwrite is refused.
    if ((machineContended || floorInflated) && !allowContended)
      // ... even on a fresh checkout: a contended run must never BECOME the
      // canonical artifact either, not just never replace a clean one.
      System.err.println(s"[bench] machine_contended=$machineContended " +
        f"floor_inflated=$floorInflated (min_sum_vs_best=$minSumVsBest%.3f, " +
        s"gate 1.10) — REFUSING to write " +
        s"$resultsPath (set SPARK_GRAFT_ALLOW_CONTENDED=1 to force); " +
        "the per-round snapshot is still written")
    else
      java.nio.file.Files.write(resultsPath, (fullJson + "\n").getBytes("UTF-8"))

    // Per-round snapshot: BENCH_RESULTS.json is overwritten every run, but
    // the committed stdout tier degrades to deciseconds at this query count —
    // a 1.8× regression on a sub-0.25s query is invisible there. Persist the
    // 3-decimal per-query data per round (next round number = max existing
    // BENCH_r<N> + 1, the same numbering the driver stamps on its artifact).
    try {
      val dir = resultsPath.getParent
      val roundRe = """BENCH_r(\d+)\.json""".r
      import scala.jdk.CollectionConverters._
      val prevRounds = java.nio.file.Files.list(dir).iterator().asScala
        .flatMap(p => roundRe.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
        .toSeq
      val round = (if (prevRounds.isEmpty) 1 else prevRounds.max + 1)
      val snap = dir.resolve(f"BENCH_RESULTS_r$round%02d.json")
      java.nio.file.Files.write(snap, (fullJson + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] WARN round snapshot failed: ${e.getMessage}")
    }

    // Machine noise check: any query whose steady-state median exceeds 1.5×
    // its min means that query's timings are noise-dominated — warn loudly.
    val noisy = spreads.filter(_._2 > 1.5)
    noisy.foreach { case (k, s) =>
      System.err.println(f"[bench] WARN spread ${s}%.2f for $k (median ${meds(k)}%.3fs vs min ${mins(k)}%.3fs)")
    }
    contendedQueries.foreach { k =>
      System.err.println(f"[bench] WARN contended $k: min ${mins(k)}%.3fs vs best-ever ${prevBest(k)}%.3fs")
    }
    overFloorQueries.filterNot(contendedQueries.contains).foreach { k =>
      System.err.println(f"[bench] WARN over-floor $k: min ${mins(k)}%.3fs vs best-ever ${prevBest(k)}%.3fs (>1.5x)")
    }
    suspectFast.foreach { k =>
      System.err.println(f"[bench] WARN suspect-fast $k: min ${mins(k)}%.3fs vs best-ever ${prevBest(k)}%.3fs — NOT merged into best (unreproduced)")
    }
    failures.foreach { case (k, e) =>
      System.err.println(s"[bench] WARN failed $k (timing excluded from best-ever): $e")
    }

    println(BenchFormat.stdoutLine(total, mins.toSeq, machineContended, sfDir, failures.size))
    System.out.flush()
    spark.stop()
  }
}
