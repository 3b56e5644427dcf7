package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-artifact contracts that bit rounds 6, 8, and 11: the
  * stdout line must fit the driver's tail window AT THE BUDGET — which is
  * NOT 2000 chars: the driver keeps the last 2000 chars of stdout and sbt's
  * `[success] Total time…` epilogue (~74 chars) shares that window, so the
  * line alone gets ~1900 (round 11 budgeted 1990, emitted 1960, and the
  * head was clipped → parsed:null). Also pins that the best-ever file
  * round-trips through its own parser. */
class BenchFormatSpec extends AnyFunSuite {

  test("stdout budget leaves room for the sbt epilogue inside the 2000-char driver tail") {
    assert(BenchFormat.StdoutBudget <= 1900,
      "driver tail (2000) minus sbt '[success] Total time' epilogue (~74) minus margin")
  }

  // realistic name lengths: the live suite averages 13 chars per query name
  private def syntheticMins(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => f"q_synth_$i%03d" -> (0.05 + (i % 37) * 0.113))

  test("fmt strips trailing zeros but stays numeric JSON") {
    assert(BenchFormat.fmt(0.120, 3) == "0.12")
    assert(BenchFormat.fmt(20.600, 2) == "20.6")
    assert(BenchFormat.fmt(0.0, 3) == "0")
    assert(BenchFormat.fmt(1.0, 2) == "1")
    assert(BenchFormat.fmt(0.077, 3) == "0.077")
  }

  test("stdout line fits the budget at 90 queries") {
    val line = BenchFormat.stdoutLine(
      total = 123.456, mins = syntheticMins(90),
      machineContended = false, sfDir = "sf0.1")
    assert(line.length <= BenchFormat.StdoutBudget, s"line was ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains(""""queries":{"""))
    // a suite this size fits whole: every name rides, stripped of "q_",
    // with its decisecond value, and nothing is announced as omitted
    val (entries, omitted, _) = valuesTier(line)
    assert(entries == syntheticMins(90).map { case (k, v) => k.drop(2) -> math.round(v * 10) }.toMap)
    assert(omitted == 0 && !line.contains("queries_omitted") && !line.contains("qomax_ds"))
  }

  test("stdout line survives a pathological 150-query suite") {
    val line = BenchFormat.stdoutLine(
      total = 999.9, mins = syntheticMins(150),
      machineContended = true, sfDir = "sf0.1")
    assert(line.length <= BenchFormat.StdoutBudget, s"line was ${line.length} chars")
    assert(line.contains(""""machine_contended":true"""))
  }

  /** Parse the values-first tier: (plain kept entries name->ds, omitted
    * count, max omitted ds). */
  private def valuesTier(line: String): (Map[String, Long], Int, Long) = {
    val qs = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(line).map(_.group(1)).getOrElse("")
    val entries = """"([^"]+)":(\d+)""".r.findAllMatchIn(qs)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val omitted = """"queries_omitted":(\d+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toInt).getOrElse(0)
    val omax = """"qomax_ds":(\d+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toLong).getOrElse(0L)
    (entries, omitted, omax)
  }

  /** The line's envelope keys (everything outside the queries map). */
  private def envelopeKeys(line: String): Set[String] =
    """"([a-z_]+)":""".r.findAllMatchIn(line.replaceFirst(""""queries":\{[^}]*\}""", ""))
      .map(_.group(1)).toSet

  /** Every key the line may carry: no encoding announcement other than the
    * "q_" strip and the decisecond unit, so the keys stay plain. */
  private val EnvelopeKeys = Set("metric", "value", "unit", "queries", "qprefix", "qunit",
    "queries_omitted", "qomax_ds", "machine_contended", "failed", "sf")

  test("values-first tier: past the complete-map limit, plain names + ds values for the slowest") {
    // 135 × 16-char names at realistic mixed timings: past what the
    // complete map fits under the 1900 budget. The r21 PERF lesson:
    // the driver never decoded the token/prefix compressed tiers, so a
    // name-complete valueless line gave it NOTHING — values with PLAIN
    // keys must win, omission announced and bounded.
    val mid = (1 to 135).map(i => f"q_operator_n_$i%03d" -> (0.05 + (i % 37) * 0.113))
    val line = BenchFormat.stdoutLine(
      total = 12.0, mins = mid,
      machineContended = false, sfDir = "sf0.1")
    assert(line.length <= BenchFormat.StdoutBudget, s"line was ${line.length} chars")
    assert(line.contains("\"qunit\":\"ds\"") && line.contains("\"qprefix\":\"q_\""))
    assert(envelopeKeys(line).subsetOf(EnvelopeKeys),
      s"values-first tier must not encode keys: ${line.take(200)}")
    val (entries, omitted, omax) = valuesTier(line)
    assert(entries.nonEmpty && entries.size + omitted == 135)
    // kept = the slowest; every kept value bounds every omitted one
    assert(entries.values.forall(_ >= omax), s"kept mins must be >= qomax_ds=$omax")
    // keys are plainly the stripped names
    entries.keys.foreach(k => assert(mid.exists(_._1 == "q_" + k), s"non-plain key $k"))
  }

  test("values-first tier keeps the ENTIRE slow tail at 150 incompressible names") {
    val rng = new scala.util.Random(42)
    val mixed = (1 to 150).map { i =>
      val name = "q_" + (1 to 18).map(_ => ('a' + rng.nextInt(26)).toChar).mkString + f"$i%03d"
      name -> (if (i % 3 == 0) 0.5 + (i % 20) * 0.3 else 0.08)
    }
    val line = BenchFormat.stdoutLine(
      total = 200.0, mins = mixed,
      machineContended = false, sfDir = "sf0.1")
    assert(line.length <= BenchFormat.StdoutBudget, s"line was ${line.length} chars")
    val (entries, omitted, omax) = valuesTier(line)
    assert(entries.size + omitted == 150)
    // every slow query (>= 0.5s) rides with its value, plain-keyed
    mixed.filter(_._2 >= 0.5).foreach { case (k, v) =>
      assert(entries.get(k.drop(2)).contains(math.round(v * 10)),
        s"slow query $k must ride the values tier: ${line.take(200)}")
    }
    assert(omax <= 1, "only the sub-0.1s filler may be omitted")
  }

  test("a suite too large to ever fit degrades to valid slowest-first JSON, never unparseable") {
    // 300 queries with INCOMPRESSIBLE names (md5-derived): no complete
    // tier can fit ~9 KB of raw names — the values-first tier must keep
    // the slowest, announce the omission, and stay structurally parseable
    val huge = (1 to 300).map { i =>
      val noise = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString.take(24)
      f"q_${noise}_$i%03d" -> (if (i % 50 == 0) 45.0 else 2.0)
    }
    val line = BenchFormat.stdoutLine(
      total = 450.0, mins = huge,
      machineContended = false, sfDir = "sf0.1")
    assert(line.length <= BenchFormat.StdoutBudget, s"line was ${line.length} chars")
    assert(line.contains(""""queries_omitted":"""))
    assert(line.startsWith("{") && line.endsWith("}"))
    // balanced braces = structurally parseable
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // every 45-second query survived the cut (keys are "q_"-stripped,
    // announced via qprefix)
    (50 to 300 by 50).foreach { i =>
      val name = huge(i - 1)._1.drop(2)
      assert(line.contains("\"" + name + "\":450"),
        s"slow query $name must survive the cut")
    }
  }

  test("current SparkEntry suite ships a NON-EMPTY plain-keyed values map (the r21 PERF fix)") {
    // realistic decisecond spread (r11 data shape: mostly 1-13 ds). At the
    // REAL suite size the r21 line degraded to names-only `"queries":{}`
    // and the driver's PERF computed zero per-query diffs and an empty
    // scaling block — the values-first tier must instead carry plain
    // stripped names + ds values for the slowest queries that fit, with
    // the omitted (fast) tail announced and bounded.
    val names = "etl_render" +: SparkEntry.queries.keys.toSeq.sorted
    val mins = names.zipWithIndex.map { case (n, i) => n -> (0.1 + (i % 13) * 0.1) }
    val line = BenchFormat.stdoutLine(
      total = 45.0, mins = mins,
      machineContended = false, sfDir = "sf0.1")
    assert(line.length <= BenchFormat.StdoutBudget,
      s"line was ${line.length} chars for ${names.size} queries")
    val (entries, omitted, omax) = valuesTier(line)
    assert(entries.size >= 60,
      s"the driver must see a usable per-query map; got ${entries.size} entries")
    assert(entries.size + omitted == names.size)
    assert(entries.values.forall(_ >= omax))
    assert(envelopeKeys(line).subsetOf(EnvelopeKeys),
      "keys must be plain (qprefix-stripped only) — the driver decodes nothing else")
    // every kept key is a real query name, stripped of at most "q_"
    val nameSet = names.toSet
    entries.keys.foreach(k =>
      assert(nameSet.contains("q_" + k) || nameSet.contains(k), s"bogus key $k"))
  }

  test("fastSuspect: anomalous too-fast min is suspect until reproduced") {
    // min far below best, only one sample under 0.75x best → suspect
    assert(BenchFormat.fastSuspect(0.159, Vector(0.054, 0.16, 0.17)))
    // reproduced: two samples under 0.75x best → genuine improvement
    assert(!BenchFormat.fastSuspect(0.159, Vector(0.054, 0.058, 0.17)))
    // min not far below best → not suspect
    assert(!BenchFormat.fastSuspect(0.159, Vector(0.12, 0.16)))
    // no prior best → nothing to compare against
    assert(!BenchFormat.fastSuspect(0.0, Vector(0.054)))
  }

  test("rebaseRefusedSlower: a sweep >5% over the standing floor cannot become it") {
    // the r17 accident: a slow-box sweep (1.19x floor) promoted to BENCH_BEST
    assert(BenchFormat.rebaseRefusedSlower(118.6, 100.0, force = false))
    // at or under the floor (the intended re-baseline shape) is allowed
    assert(!BenchFormat.rebaseRefusedSlower(97.2, 100.0, force = false))
    // within the 5% tolerance band is allowed (same-box noise)
    assert(!BenchFormat.rebaseRefusedSlower(104.9, 100.0, force = false))
    // deliberate reset overrides
    assert(!BenchFormat.rebaseRefusedSlower(118.6, 100.0, force = true))
    // no standing floor -> nothing to protect
    assert(!BenchFormat.rebaseRefusedSlower(118.6, 0.0, force = false))
  }

  test("mergeBest: failed/suspect mins never enter the baseline") {
    val prev = Map("q_a" -> 0.2, "q_b" -> 0.5, "q_gone" -> 1.0)
    val mins = Map("q_a" -> 0.1, "q_b" -> 0.05, "q_new" -> 0.3)
    val merged = BenchFormat.mergeBest(prev, mins, exclude = Set("q_b")).toMap
    assert(merged("q_a") == 0.1)    // genuine improvement merges
    assert(merged("q_b") == 0.5)    // excluded min keeps prior best
    assert(merged("q_gone") == 1.0) // absent this run keeps prior best
    assert(merged("q_new") == 0.3)  // new query seeds from first observation
  }

  test("assessContention trips on count, aggregate slowdown, or spread cluster") {
    // per-query count trip (round-8 heuristic)
    assert(BenchFormat.assessContention(5, 30, Nil, 10, 10, 20))
    assert(!BenchFormat.assessContention(2, 90, Nil, 10, 10, 20))
    // aggregate min-sum over best-ever sum (round-9 gap was 1.51x; a calm
    // run on this VM measures ~1.31x, which must NOT trip)
    assert(BenchFormat.assessContention(0, 90, Nil, 15.0, 10.0, 20))
    assert(!BenchFormat.assessContention(0, 90, Nil, 13.1, 10.0, 20))
    // too few comparable queries → aggregate evidence insufficient
    assert(!BenchFormat.assessContention(0, 90, Nil, 15.0, 10.0, 5))
    // several queries with spread > 3x
    assert(BenchFormat.assessContention(0, 90, Seq(6.2, 3.5, 4.0, 1.1), 10, 10, 20))
    assert(!BenchFormat.assessContention(0, 90, Seq(6.2, 3.5, 1.2, 1.1), 10, 10, 20))
  }

  test("stdout line carries failed count when nonzero, in full and minimal tiers") {
    val base = (n: Int) => BenchFormat.stdoutLine(
      total = 10.0, mins = syntheticMins(n),
      machineContended = false, sfDir = "sf0.1", failedCount = 2)
    assert(base(90).contains(""","failed":2"""))
    assert(base(150).contains(""","failed":2""")) // with queries omitted
    val clean = BenchFormat.stdoutLine(
      total = 10.0, mins = syntheticMins(10),
      machineContended = false, sfDir = "sf0.1")
    assert(!clean.contains("failed"))
  }

  test("BENCH_BEST round-trips through parseFlat") {
    val best = Seq("q_a" -> 0.123, "q_b_long_name" -> 4.5, "q_c" -> 0.007)
    val parsed = BenchFormat.parseFlat(BenchFormat.jsMap(best, 3))
    assert(parsed == best.toMap)
  }

  test("parseFlat tolerates whitespace and ignores malformed entries") {
    assert(BenchFormat.parseFlat("""{ "q_x" : 1.5 , "q_y":2 }""") ==
      Map("q_x" -> 1.5, "q_y" -> 2.0))
    assert(BenchFormat.parseFlat("not json at all") == Map.empty[String, Double])
  }

  test("per-rep telemetry arrays (GC sec / storage MB) render as valid JSON maps") {
    val js = BenchFormat.jsArrays(Seq(
      "q_a" -> Vector(0.012, 0.5, 16.83),
      "q_b" -> Vector(128.0),
      "q_c" -> Vector.empty[Double]), 3)
    assert(js == """{"q_a":[0.012,0.5,16.83],"q_b":[128],"q_c":[]}""")
    // arrays embed inside the BENCH_RESULTS envelope without breaking a
    // JSON parse (the artifact is what evidences slow-window claims)
    val envelope = s"""{"samples_gc_sec":$js,"samples_storage_mb":$js}"""
    assert(envelope.count(_ == '{') == envelope.count(_ == '}'))
    assert(envelope.count(_ == '[') == envelope.count(_ == ']'))
  }
}
