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
 * is assembled under an explicit budget with tiered degradation so it can
 * never outgrow the window again.
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
   * Assemble the stdout line under [[StdoutBudget]]. Progressive degradation:
   * each tier sheds precision or optional fields. While a COMPLETE map fits
   * (through the plain-deciseconds tier) every entry rides; past that point
   * the policy is VALUES FIRST (r22, after the r21 PERF came back empty):
   * plain stripped names + deciseconds for the slowest queries that fit,
   * omission announced via `queries_omitted`/`qomax_ds`. The token/prefix
   * compressed complete tiers remain below as archaeology fallbacks but the
   * driver never decoded them, so they no longer outrank values. Full
   * 3-decimal data persists in the per-round BENCH_RESULTS_r<N>.json.
   */
  /** `family_` → single-letter-code map for tier-9 name compression:
    * underscore-terminated leading families that save more characters than
    * their announcement costs. Codes are single UPPERCASE letters —
    * query names are lowercase, so an uppercase first character
    * unambiguously marks an abbreviated name at one char of cost; a
    * letter clash walks the alphabet from the family's initial.
    * Assignment order (count desc, family asc) is deterministic. Longer
    * families sort first at lookup so a name maps through its most
    * specific family. */
  def familyAbbreviations(shortNames: collection.Seq[String]): Seq[(String, String)] = {
    val fams = shortNames.flatMap { n =>
      val i = n.indexOf('_')
      if (i >= 3) Some(n.substring(0, i + 1)) else None
    }.groupBy(identity).view.mapValues(_.size).toSeq
      // a code pays (family+code+6) chars of announcement and saves
      // members x (family-1): require a strictly positive net
      .filter { case (f, c) => c * (f.length - 1) > f.length + 7 }
      .sortBy { case (f, c) => (-c, f) }
    val taken = scala.collection.mutable.Set[String]()
    val assigned = fams.map { case (fam, _) =>
      val base = fam.charAt(0).toUpper
      var code = base.toString
      var k = 1
      while (taken.contains(code)) {
        code = ((base - 'A' + k) % 26 + 'A').toChar.toString
        k += 1
      }
      taken += code
      fam -> code
    }
    assigned.sortBy { case (fam, _) => (-fam.length, fam) }
  }

  /** Byte-pair-style greedy substring codes for tier-10 name compression.
    * Returns tokens in assignment order; token i is announced at position
    * i of the comma-joined `qtok` string and encoded as [[tokCode]](i).
    * Query names are lowercase/digit/underscore, so uppercase
    * letters unambiguously mark codes. Later tokens may contain EARLIER
    * code letters (nested compression) — decode by replacing codes in
    * REVERSE assignment order: for i from n-1 down to 0, replace
    * tokCode(i) with token(i). Each round picks the substring with the
    * best net saving: count×(len−codeLen) − (len+3 announcement chars);
    * deterministic
    * tie-break on the lexicographically smaller token. */
  /** Code string for token index `i`: 25 single letters 'A'-'Y', then
    * 'Z'-escaped pairs "ZA"-"ZY" — 'Z' alone is never a code, so a pair
    * is unambiguous, and material can never contain a not-yet-assigned
    * pair ('Z' only enters names as the first half of an already-assigned
    * pair, glued to its partner). Query names are lowercase, so any
    * uppercase letter marks code territory. */
  private def tokCode(i: Int): String =
    if (i < 25) ('A' + i).toChar.toString
    else "Z" + ('A' + (i - 25)).toChar

  /** Prefix-compress a SORTED name list: the first entry verbatim; each
    * later entry opens with one base-36 char = the length of the prefix
    * it shares with its predecessor (capped at 35), then its suffix.
    * Composes with [[tokEncode]] (codes are uppercase, the count char is
    * positional, so no ambiguity). */
  /** Length-marker alphabet for [[prefixEncode]]: JSON-string-safe
    * punctuation DISJOINT from name chars ([a-z0-9_]) and token codes
    * ([A-Z]), so entries self-delimit with no separator — at 200+
    * queries the comma alone cost more than the whole envelope. */
  private val PfxLenChars = "!#$%&()*+-./:;<=>?@[]^`{|}~'"

  def prefixEncode(names: Seq[String]): String = {
    val sb = new StringBuilder
    var prev = ""
    names.zipWithIndex.foreach { case (n, i) =>
      if (i == 0) sb.append(n)
      else {
        var k = 0
        val max = math.min(math.min(prev.length, n.length), PfxLenChars.length - 1)
        while (k < max && prev(k) == n(k)) k += 1
        sb.append(PfxLenChars(k)).append(n.substring(k))
      }
      prev = n
    }
    sb.toString
  }

  /** Inverse of [[prefixEncode]]. Also decodes the pre-round-19 legacy
    * layout (comma-separated entries, base-36 shared-prefix count as the
    * first char of each later entry) so qpfx lines from earlier BENCH
    * artifacts round-trip instead of silently returning one bogus name —
    * a comma can never appear in the current format ([[PfxLenChars]] has
    * none and names are [a-z0-9_A-Z]). */
  def prefixDecode(s: String): Seq[String] = {
    if (s.isEmpty) return Nil
    if (s.contains(',')) {
      val parts = s.split(",", -1)
      val out = scala.collection.mutable.ArrayBuffer(parts.head)
      var prev = parts.head
      parts.iterator.drop(1).foreach { e =>
        require(e.nonEmpty, s"legacy qpfx: empty entry in $s")
        val k = java.lang.Integer.parseInt(e.substring(0, 1), 36)
        prev = prev.substring(0, math.min(k, prev.length)) + e.substring(1)
        out += prev
      }
      return out.toSeq
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    var start = 0
    var prev = ""
    def flush(upTo: Int): Unit = {
      if (out.isEmpty) { prev = s.substring(start, upTo); out += prev }
    }
    // first entry runs to the first length-marker char; each later entry
    // is [marker][suffix] where marker's index = shared-prefix length
    var k = -1
    while (i < s.length) {
      val m = PfxLenChars.indexOf(s.charAt(i))
      if (m >= 0) {
        if (out.isEmpty) flush(i)
        else { prev = prev.substring(0, k) + s.substring(start, i); out += prev }
        k = m
        start = i + 1
      }
      i += 1
    }
    if (out.isEmpty) flush(s.length)
    else { prev = prev.substring(0, k) + s.substring(start); out += prev }
    out.toSeq
  }

  def tokenAbbreviations(names0: collection.Seq[String], maxCodes: Int = 50): Seq[String] = {
    var names = names0.toVector
    val toks = scala.collection.mutable.ArrayBuffer[String]()
    var done = false
    while (!done && toks.size < maxCodes) {
      val codeLen = tokCode(toks.size).length
      val counts = scala.collection.mutable.HashMap[String, Int]()
      names.foreach { n =>
        val seen = scala.collection.mutable.HashSet[String]()
        var i = 0
        while (i < n.length) {
          var j = i + codeLen + 1
          val jMax = math.min(i + 15, n.length)
          while (j <= jMax) {
            val s = n.substring(i, j)
            if (seen.add(s)) counts(s) = counts.getOrElse(s, 0) + 1
            j += 1
          }
          i += 1
        }
      }
      var best: String = null
      var bestNet = 0
      counts.foreach { case (s, c) =>
        if (c >= 2) {
          val net = c * (s.length - codeLen) - (s.length + 3)
          if (net > bestNet || (net == bestNet && best != null && s < best)) {
            best = s; bestNet = net
          }
        }
      }
      if (best == null || bestNet <= 0) done = true
      else {
        val code = tokCode(toks.size)
        toks += best
        names = names.map(_.replace(best, code))
      }
    }
    toks.toSeq
  }

  /** Encode one name through the token table (assignment order). */
  def tokEncode(name: String, toks: Seq[String]): String =
    toks.zipWithIndex.foldLeft(name) { case (n, (t, i)) =>
      n.replace(t, tokCode(i))
    }

  /** Inverse of [[tokEncode]]: expand codes in reverse assignment order. */
  def tokDecode(name: String, toks: Seq[String]): String =
    toks.zipWithIndex.reverse.foldLeft(name) { case (n, (t, i)) =>
      n.replace(tokCode(i), t)
    }

  def stdoutLine(
      total: Double,
      mins: collection.Seq[(String, Double)],
      spreadWarn: collection.Seq[(String, Double)],
      contendedCount: Int,
      machineContended: Boolean,
      resultsFile: String,
      reps: Int,
      cpus: String,
      sfDir: String,
      failedCount: Int = 0): String = {
    // a query that threw is a louder signal than any timing — it rides every
    // tier, including the minimal envelope and the truncation fallback
    val fail = if (failedCount > 0) s""","failed":$failedCount""" else ""
    def build(decimals: Int, warnDetail: Boolean, countField: Boolean, fullPath: Boolean,
              minimalEnvelope: Boolean = false): String = {
      val warn = if (warnDetail) s""","spread_warn":${jsMap(spreadWarn, 2)}""" else ""
      val cont = if (countField) s""","contended":$contendedCount""" else ""
      val rf = if (fullPath) resultsFile
               else java.nio.file.Paths.get(resultsFile).getFileName.toString
      val sfShort = if (minimalEnvelope) java.nio.file.Paths.get(sfDir).getFileName.toString
                    else sfDir
      // the minimal envelope keeps only driver-contract fields plus the
      // contention flag WHEN IT FIRES — everything else rides in the file
      val tail =
        if (minimalEnvelope)
          (if (machineContended) s""","machine_contended":true""" else "") +
            s"""$fail,"sf":"$sfShort"}"""
        else
          s"""$fail,"machine_contended":$machineContended,"results_file":"$rf","reps":$reps,"cpus":$cpus,"sf":"$sfShort"}"""
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":${jsMap(mins, decimals)}$warn$cont$tail"""
    }
    // Tier 7: every query still present, but the uniform "q_" name prefix is
    // stripped (announced via "qprefix" so any reader can reconstruct the
    // full names; the results FILE always carries them verbatim). ~170 chars
    // of headroom at the round-10 suite size — completeness beats cosmetics.
    def stripped(): String = {
      val short = mins.map { case (k, v) =>
        (if (k.startsWith("q_")) k.drop(2) else k) -> v
      }
      (if (machineContended) s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":${jsMap(short, 1)},"qprefix":"q_","machine_contended":true$fail,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
       else s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":${jsMap(short, 1)},"qprefix":"q_"$fail,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}""")
    }
    // Tier 8: stripped names AND integer decisecond values, both announced
    // ("qprefix" + "qunit":"ds") — saves ~2 chars/query over "0.1"-style
    // seconds while every query stays present and reconstructable.
    def strippedDs(): String = {
      val short = mins.map { case (k, v) =>
        val name = if (k.startsWith("q_")) k.drop(2) else k
        "\"" + name + "\":" + math.round(v * 10).toString
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$short,"qprefix":"q_","qunit":"ds"""" +
        (if (machineContended) s""","machine_contended":true""" else "") +
        s"""$fail,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
    }
    // Tier 9: family abbreviation on top of tier 8 — frequent `family_`
    // name prefixes (source_, dedup_, ...) collapse to announced
    // single-letter codes ("qabbr" carries the exact reverse map), so the
    // line stays COMPLETE as the suite grows instead of dropping to the
    // slowest-only fallback (round 11: 118 queries outgrew tier 8).
    def strippedAbbr(): String = {
      val shortNames = mins.map { case (k, _) =>
        if (k.startsWith("q_")) k.drop(2) else k
      }
      val abbr = BenchFormat.familyAbbreviations(shortNames)
      val entries = mins.map { case (k, v) =>
        val name0 = if (k.startsWith("q_")) k.drop(2) else k
        val name = abbr.collectFirst {
          case (fam, code) if name0.startsWith(fam) => code + name0.drop(fam.length)
        }.getOrElse(name0)
        "\"" + name + "\":" + math.round(v * 10).toString
      }.mkString("{", ",", "}")
      val abbrJs = abbr.map { case (fam, code) => "\"" + code + "\":\"" + fam + "\"" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$entries,"qprefix":"q_","qunit":"ds","qabbr":$abbrJs""" +
        (if (machineContended) s""","machine_contended":true""" else "") +
        s"""$fail,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
    }
    // Tier 10: byte-pair token compression + deciseconds, with optional
    // FAST-DROP. Names are "q_"-stripped, then greedy substring codes
    // (announced as the "qtok" array; decode = expand codes in reverse
    // index order, see tokenAbbreviations) squeeze the average name to ~7
    // chars — the COMPLETE round-11-size suite fits where the family-prefix
    // tier no longer does. When even that outgrows the budget, `minDs > 0`
    // omits entries whose min rounds below `minDs` deciseconds — they carry
    // no regression signal at ds granularity (1 ds of noise IS their whole
    // value) — announced via "qmin_ds" + "qfast":<omitted count>, so the
    // slow tail (the regression-tracking signal) stays complete, unlike the
    // slowest-first truncation fallback which cuts on budget, not meaning.
    def tokDs(minDs: Int, listDrops: Boolean = true): String = {
      val kept = if (minDs <= 0) mins
                 else mins.filter { case (_, v) => math.round(v * 10) >= minDs }
      val droppedNames = (if (minDs <= 0) Nil else mins.filterNot { case (_, v) =>
        math.round(v * 10) >= minDs
      }).map { case (k, _) => if (k.startsWith("q_")) k.drop(2) else k }
      val shortNames = kept.map { case (k, _) =>
        if (k.startsWith("q_")) k.drop(2) else k
      }
      // token table over ALL names so the qdrop list encodes too
      val toks = BenchFormat.tokenAbbreviations(shortNames ++ droppedNames)
      val encoded = shortNames.map(BenchFormat.tokEncode(_, toks))
      // compression must stay lossless: bail to the uncompressed names if
      // the encoding ever collides (cannot happen — decode inverts encode —
      // but a 2-char guard beats a corrupted artifact)
      val names = if (encoded.toSet.size == shortNames.toSet.size) encoded else shortNames
      val entries = names.zip(kept).map { case (name, (_, v)) =>
        "\"" + name + "\":" + math.round(v * 10).toString
      }.mkString("{", ",", "}")
      // one comma-joined string, not a JSON array: names never contain
      // commas and the 2-chars-per-token saving is what keeps the full
      // suite complete as it grows (split on ',' to recover the table)
      val tokJs = toks.mkString("\"", ",", "\"")
      // Sub-threshold entries leave the map but (listDrops) their NAMES
      // stay in the line as the tok-encoded comma-joined `qdrop` string:
      // the artifact remains name-complete, each listed query's min
      // bounded by qmin_ds, at ~4 chars/entry less than map membership.
      // When even that doesn't fit (incompressible names), the next tier
      // falls back to the count-only `qfast` announcement; 3-decimal
      // values persist in the committed BENCH_RESULTS_r<N>.json always.
      val drop =
        if (minDs <= 0) ""
        else if (listDrops)
          s""","qmin_ds":$minDs,"qdrop":${droppedNames.map(BenchFormat.tokEncode(_, toks)).mkString("\"", ",", "\"")}"""
        else s""","qmin_ds":$minDs,"qfast":${droppedNames.size}"""
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$entries,"qprefix":"q_","qunit":"ds","qtok":$tokJs$drop""" +
        (if (machineContended) s""","machine_contended":true""" else "") +
        s"""$fail,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
    }
    /** Values-first tier (the r21 PERF lesson): at 223 queries every
      * COMPLETE tier outgrew the budget and the line degraded to the
      * names-only `qpfx` tier — the driver's PERF could then compute ZERO
      * per-query diffs and an empty scaling block, which the round-21
      * judge called the round's top defect. Name completeness without
      * values is worthless to the driver, and the custom token encodings
      * were never decoded on its side (parsed maps from r12/r15 show the
      * RAW tok-encoded keys). So once the complete plain tiers stop
      * fitting, keep PLAIN stripped names + integer-decisecond values for
      * the SLOWEST queries that fit — they carry the whole regression
      * signal (the omitted tail is sub-`qomax_ds` noise at ds
      * granularity) — and announce the omission (`queries_omitted`,
      * `qomax_ds` = the largest omitted min). The 3-decimal full map
      * always persists in BENCH_RESULTS_r<N>.json.
      *
      * The budget itself CANNOT be raised instead: every BENCH_r<N>.json
      * the driver ever produced carries exactly 2000 chars of stdout
      * tail, and the two >1900-char lines ever printed (rounds 6 and 8)
      * lost their front brace to that window and parsed as null. */
    def slowestDsFit(): String = {
      val sorted = mins.sortBy { case (k, v) => (-v, k) }
      def line(keep: Int): String = {
        val entries = sorted.take(keep).map { case (k, v) =>
          "\"" + (if (k.startsWith("q_")) k.drop(2) else k) + "\":" +
            math.round(v * 10).toString
        }.mkString("{", ",", "}")
        val omitted = sorted.drop(keep)
        val om =
          if (omitted.isEmpty) ""
          else {
            val omax = omitted.foldLeft(0L) { case (m, (_, v)) =>
              math.max(m, math.round(v * 10)) }
            s""","queries_omitted":${omitted.size},"qomax_ds":$omax"""
          }
        s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$entries,"qprefix":"q_","qunit":"ds"$om""" +
          (if (machineContended) s""","machine_contended":true""" else "") +
          s"""$fail,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
      }
      (sorted.size to 0 by -1).iterator.map(line).find(_.length <= StdoutBudget)
        .getOrElse(line(0))
    }
    /** Names-only tier: every name rides (tok-encoded, sorted,
      * prefix-compressed into `qpfx`), NO per-query values on the line —
      * `qmin_ds` bounds them all and the 3-decimal values persist in the
      * results file. Kept for the artifact-decoding archaeology path but
      * ranked BELOW the values-first tier since r22 (it is what left the
      * driver's r21 PERF empty). */
    def tokPrefix(): String = {
      val shortNames = mins.map { case (k, _) =>
        if (k.startsWith("q_")) k.drop(2) else k
      }
      val toks = tokenAbbreviations(shortNames)
      val enc = shortNames.map(tokEncode(_, toks)).sorted.toSeq
      val maxDs = mins.foldLeft(0L) { case (m, (_, v)) => math.max(m, math.round(v * 10)) }
      val tokJs = toks.mkString("\"", ",", "\"")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":{},"qprefix":"q_","qtok":$tokJs,"qpfx":"${prefixEncode(enc)}","qmin_ds":$maxDs""" +
        (if (machineContended) s""","machine_contended":true""" else "") +
        s"""$fail,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
    }
    val tiers = Iterator(
      build(3, true, true, true),
      build(2, true, true, true),
      build(2, false, true, true),
      build(2, false, false, false),
      build(1, false, false, false),
      build(1, false, false, false, minimalEnvelope = true),
      stripped(),
      strippedDs(),
      // values-first: plain names + ds values for the slowest queries
      // that fit beats any name-complete-but-valueless or token-encoded
      // form below — the driver's PERF consumes plain keys only (r21)
      slowestDsFit(),
      strippedAbbr(),
      tokDs(0),
      // finer qmin_ds steps: each one trades a few more sub-threshold
      // VALUES for ~5 chars/entry, keeping the name-listing qdrop form
      // viable as the suite grows — the count-only qfast fallbacks must
      // stay strictly last (names are the artifact's completeness bar).
      // The high steps (8..30) exist because the suite passed 150 queries:
      // a qdrop entry costs ~name+1 chars vs ~name+4 in the map, so
      // raising the threshold keeps every NAME on the line long after the
      // full value map stops fitting; per-rep 3-decimal values always
      // persist in BENCH_RESULTS_r<N>.json regardless.
      tokDs(2),
      tokDs(3),
      tokDs(4),
      tokDs(5),
      tokDs(8),
      tokDs(10),
      tokDs(13),
      tokDs(16),
      tokDs(20),
      tokDs(30),
      tokPrefix(),
      tokDs(2, listDrops = false),
      tokDs(5, listDrops = false))
    tiers.find(_.length <= StdoutBudget).getOrElse {
      // Physically impossible to fit every entry (names × count outgrew the
      // window). A truncated-but-valid JSON line with a pointer to the full
      // results file beats an unparseable one: keep the SLOWEST queries
      // (the regression-tracking signal), drop the fastest, and say how
      // many were omitted.
      val bySlowest = mins.sortBy(-_._2)
      def truncated(keep: Int): String = {
        val omitted = mins.size - keep
        s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":${jsMap(bySlowest.take(keep), 1)},"queries_omitted":$omitted$fail""" +
          (if (machineContended) s""","machine_contended":true}""" else "}")
      }
      (mins.size to 0 by -1).iterator.map(truncated).find(_.length <= StdoutBudget)
        .getOrElse(truncated(0))
    }
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
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Graph.quietCheckpointReleaseWarns()

    // JVM/codegen warmup so the first measured query isn't charged for it
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

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
      // drop caches persisted inside operators (dedup signature frames, CC
      // labels) so reps and queries don't evict each other and every rep
      // does the full work
      spark.catalog.clearCache()
      // clearCache() covers Dataset-level persists only. localCheckpoint()ed
      // RDDs (pagerank/hits lineage cuts, CC loops) live in the RDD-level
      // persistentRdds map and are otherwise reclaimed only when the driver
      // GCs the Dataset and the ContextCleaner gets around to it — in a
      // single local-mode JVM running 200+ queries x 4 passes those blocks
      // accumulate in the shared block manager and slow late reps (the
      // round-17 q_pagerank 6.7->7.4->8.1 monotone-rep artifact). Nothing
      // from a finished rep is ever recomputed, so drop them eagerly.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
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
    val outDir = java.nio.file.Files.createTempDirectory("graft-bench").toString
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

    println(BenchFormat.stdoutLine(
      total, mins.toSeq, noisy.toSeq, contendedQueries.size, machineContended,
      resultsPath.toString, reps, cpus, sfDir, failures.size))
    System.out.flush()
    spark.stop()
  }
}
