package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

import scala.util.Random

/** Mergeable sketch tier: kernels (hash vectors pinned cross-engine against
  * the DuckDB oracle construction), accuracy envelopes, merge algebra, the
  * aggregate expressions through real group-by plans over parquet (partial
  * aggregation pinned — one sketch per partition crosses the shuffle), and
  * hostile bytes through the merge/read path. */
class SketchesSpec extends SparkSpec {

  // ------------------------------------------------------------ hash kernels

  test("splitmix64 and fnv1a64 match the cross-engine pinned vectors") {
    // pinned against the same arithmetic in Python and the DuckDB HUGEINT
    // reproduction used by the q_sketch_* oracles (validated mod-2^64)
    assert(SketchKernels.splitmix64(0L) === -2152535657050944081L)
    assert(SketchKernels.splitmix64(1L) === -7995527694508729151L)
    assert(SketchKernels.splitmix64(1999L) === -5914974689623491401L)
    assert(SketchKernels.splitmix64(-5L) === 1635312068028924514L)
    assert(SketchKernels.fnv1a64(Array.emptyByteArray) === -3750763034362895579L)
    assert(SketchKernels.fnv1a64("abc".getBytes("UTF-8")) === -1792535898324117685L)
    assert(SketchKernels.hashString(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")) === 3018304574923447344L)
  }

  // -------------------------------------------------------------------- HLL

  test("hll estimate on the gate fixture keys is the cross-engine pinned 2060") {
    val regs = SketchKernels.hllCreate(8)
    (0L until 2000L).foreach(k => SketchKernels.hllUpdate(regs, 8, SketchKernels.hashLong(k)))
    assert(SketchKernels.hllEstimate(regs, 8) === 2060L) // exact=2000, p=8 -> 3% off
  }

  test("hll accuracy envelope across cardinalities and precisions") {
    for (p <- Seq(8, 12); n <- Seq(1000, 20000, 200000)) {
      val regs = SketchKernels.hllCreate(p)
      var k = 0L
      while (k < n) { SketchKernels.hllUpdate(regs, p, SketchKernels.hashLong(k * 7919L + p)); k += 1 }
      val est = SketchKernels.hllEstimate(regs, p).toDouble
      val sigma = 1.04 / math.sqrt((1 << p).toDouble)
      assert(math.abs(est - n) / n < 5 * sigma,
        s"p=$p n=$n est=$est (${math.abs(est - n) / n} rel err, sigma=$sigma)")
    }
  }

  test("hll merge equals single-pass; idempotent; rejects mixed precisions") {
    val whole = SketchKernels.hllCreate(10)
    val parts = Array.fill(7)(SketchKernels.hllCreate(10))
    val rnd = new Random(42)
    (1 to 50000).foreach { _ =>
      val k = rnd.nextLong() % 3000
      val h = SketchKernels.hashLong(k)
      SketchKernels.hllUpdate(whole, 10, h)
      SketchKernels.hllUpdate(parts(rnd.nextInt(7)), 10, h)
    }
    val acc = SketchKernels.hllCreate(10)
    parts.foreach(p => SketchKernels.hllMerge(acc, p))
    assert(acc.toSeq === whole.toSeq)
    SketchKernels.hllMerge(acc, whole) // idempotent: merging the same data changes nothing
    assert(acc.toSeq === whole.toSeq)
    val other = SketchKernels.hllCreate(8)
    val e = intercept[IllegalArgumentException](SketchKernels.hllMerge(acc, other))
    assert(e.getMessage.contains("mixed precisions"))
  }

  test("hll serialization roundtrip; garbage rejects diagnosably") {
    val regs = SketchKernels.hllCreate(6)
    (0L until 500L).foreach(k => SketchKernels.hllUpdate(regs, 6, SketchKernels.hashLong(k)))
    val bytes = SketchKernels.hllSerialize(regs, 6)
    val (p2, r2) = SketchKernels.hllDeserialize(bytes)
    assert(p2 === 6 && r2.toSeq === regs.toSeq)
    assert(intercept[IllegalArgumentException](
      SketchKernels.hllDeserialize(bytes.take(10))).getMessage.contains("truncated"))
    assert(intercept[IllegalArgumentException](
      SketchKernels.hllDeserialize(Array[Byte]('X', 6))).getMessage.contains("magic"))
    assert(intercept[IllegalArgumentException](
      SketchKernels.hllDeserialize(Array[Byte]('H', 99))).getMessage.contains("precision"))
  }

  // -------------------------------------------------------------- Count-Min

  test("cms never under-counts and is near-exact for heavy keys") {
    val (depth, width) = (4, 1024)
    val counters = SketchKernels.cmsCreate(depth, width)
    val rnd = new Random(7)
    val truth = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    (1 to 100000).foreach { _ =>
      // zipf-ish: heavy head + long tail
      val k = if (rnd.nextInt(3) == 0) rnd.nextInt(10).toLong else rnd.nextInt(5000).toLong + 100
      truth(k) += 1
      SketchKernels.cmsUpdate(counters, depth, width, SketchKernels.hashLong(k), 1L)
    }
    truth.foreach { case (k, c) =>
      val est = SketchKernels.cmsQuery(counters, depth, width, SketchKernels.hashLong(k))
      assert(est >= c, s"cms under-counted key $k: $est < $c")
      assert(est <= c + 2L * 100000L / width * 4, s"cms error blown for $k: $est vs $c")
    }
    // a never-inserted key estimates at most the theoretical collision noise
    val ghost = SketchKernels.cmsQuery(counters, depth, width, SketchKernels.hashLong(999999L))
    assert(ghost <= 2L * 100000L / width * 4)
  }

  test("cms merge is counter-wise sum; roundtrip; hostile bytes reject") {
    val a = SketchKernels.cmsCreate(2, 64)
    val b = SketchKernels.cmsCreate(2, 64)
    (0L until 100L).foreach { k =>
      SketchKernels.cmsUpdate(a, 2, 64, SketchKernels.hashLong(k), 1L)
      SketchKernels.cmsUpdate(b, 2, 64, SketchKernels.hashLong(k % 10), 3L)
    }
    val merged = a.clone()
    SketchKernels.cmsMerge(merged, b)
    assert(merged.toSeq === a.toSeq.zip(b.toSeq).map { case (x, y) => x + y })
    val bytes = SketchKernels.cmsSerialize(merged, 2, 64)
    val (d2, w2, c2) = SketchKernels.cmsDeserialize(bytes)
    assert(d2 === 2 && w2 === 64 && c2.toSeq === merged.toSeq)
    assert(intercept[IllegalArgumentException](
      SketchKernels.cmsDeserialize(bytes.take(20))).getMessage.contains("truncated"))
    assert(intercept[IllegalArgumentException](
      SketchKernels.cmsDeserialize(Array[Byte]('Z', 2, 6))).getMessage.contains("magic"))
  }

  // ----------------------------------------------------- log-hist quantiles

  test("log-hist bucketing is monotone, contiguous, and bounds relative error") {
    for (s <- Seq(2, 5, 8)) {
      val probe = (0L to 5000L) ++ Seq(1L << 20, (1L << 20) + 12345, 1L << 40, Long.MaxValue - 1, Long.MaxValue)
      var lastB = -1
      probe.sorted.foreach { v =>
        val b = SketchKernels.logHistBucket(v, s)
        assert(b >= lastB, s"bucket not monotone at v=$v s=$s")
        lastB = b
        val lo = SketchKernels.logHistLower(b, s)
        assert(lo <= v, s"lower bound above value at v=$v")
        // relative error of reporting lo instead of v is < 2^-s
        assert((v - lo).toDouble <= math.max(1.0, v.toDouble) * math.pow(2.0, -s),
          s"relative error blown at v=$v s=$s lo=$lo")
      }
      // contiguity: lower(b+1) follows the width of b exactly for a sweep
      (0 until SketchKernels.logHistNumBuckets(s) - 1).foreach { b =>
        assert(SketchKernels.logHistBucket(SketchKernels.logHistLower(b + 1, s) - 1, s) === b)
        assert(SketchKernels.logHistBucket(SketchKernels.logHistLower(b + 1, s), s) === b + 1)
      }
    }
    assert(intercept[IllegalArgumentException](
      SketchKernels.logHistBucket(-1L, 5)).getMessage.contains("non-negative"))
  }

  test("log-hist quantiles track exact quantiles within the bucket error") {
    val s = 5
    val counts = new Array[Long](SketchKernels.logHistNumBuckets(s))
    val rnd = new Random(11)
    val values = Array.fill(20000)(math.abs(rnd.nextLong()) % 10000000L)
    values.foreach(v => SketchKernels.logHistUpdate(counts, s, v))
    val sorted = values.sorted
    for (q <- Seq(0.01, 0.5, 0.95, 0.99)) {
      val est = SketchKernels.logHistQuantile(counts, s, q).toDouble
      val exact = sorted(math.max(0, math.ceil(q * values.length).toInt - 1)).toDouble
      assert(est <= exact, s"q=$q est=$est above exact=$exact") // lower bound by construction
      assert(est >= exact * (1 - math.pow(2.0, -s)) - 1, s"q=$q est=$est too far below exact=$exact")
    }
    // edges: q=0 -> smallest bucket's lower bound; q=1 -> largest occupied
    assert(SketchKernels.logHistQuantile(counts, s, 0.0) ===
      SketchKernels.logHistLower(counts.indexWhere(_ > 0), s))
    assert(SketchKernels.logHistQuantile(counts, s, 1.0) ===
      SketchKernels.logHistLower(counts.lastIndexWhere(_ > 0), s))
    // empty sketch sentinel
    assert(SketchKernels.logHistQuantile(new Array[Long](counts.length), s, 0.5) === -1L)
  }

  test("log-hist merge equals single-pass; serialization roundtrips; garbage rejects") {
    val s = 4
    val whole = new Array[Long](SketchKernels.logHistNumBuckets(s))
    val a = whole.clone(); val b = whole.clone()
    val rnd = new Random(3)
    (1 to 10000).foreach { i =>
      val v = math.abs(rnd.nextLong()) % 100000L
      SketchKernels.logHistUpdate(whole, s, v)
      SketchKernels.logHistUpdate(if (i % 2 == 0) a else b, s, v)
    }
    SketchKernels.logHistMerge(a, b)
    assert(a.toSeq === whole.toSeq)
    val bytes = SketchKernels.logHistSerialize(a, s)
    val (s2, c2) = SketchKernels.logHistDeserialize(bytes)
    assert(s2 === s && c2.toSeq === a.toSeq)
    assert(intercept[IllegalArgumentException](
      SketchKernels.logHistDeserialize(bytes.take(9))).getMessage.contains("truncated"))
  }

  // ------------------------------------------------- aggregates through SQL

  private def parquetNums(n: Int, groups: Int): org.apache.spark.sql.DataFrame = {
    // real parquet scan, not a LocalRelation — plan assertions over toDF
    // frames are vacuous (ConvertToLocalRelation pre-evaluates them)
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-agg").toFile
    dir.deleteOnExit()
    import spark.implicits._
    // 1499 is prime and coprime to every group count used here, so each
    // group sees the FULL key domain (i%3 with i%1500 would give each group
    // a disjoint third of the keys)
    (0 until n).map(i => (i % groups, (i % 1499).toLong, s"dom${i % 97}.example"))
      .toDF("g", "k", "dom")
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    spark.read.parquet(dir.getAbsolutePath)
  }

  test("hll_sketch/hll_estimate aggregate matches the kernel; partial aggregation in plan") {
    graft.expressions.GraftFunctions.register(spark)
    val df = parquetNums(30000, 3).repartition(8)
    val out = df.groupBy("g")
      .agg(call_function("hll_sketch", col("k"), lit(8)).as("sk"))
      .select(col("g"), call_function("hll_estimate", col("sk")).as("est"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val regs = SketchKernels.hllCreate(8)
    (0L until 1499L).foreach(k => SketchKernels.hllUpdate(regs, 8, SketchKernels.hashLong(k)))
    val want = SketchKernels.hllEstimate(regs, 8)
    assert(out === Map(0 -> want, 1 -> want, 2 -> want))

    // partial aggregation: two ObjectHashAggregate stages around the exchange
    // — each input partition ships ONE sketch, not its rows
    val plan = df.groupBy("g").agg(call_function("hll_sketch", col("k"), lit(8)).as("sk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("two-level hll_merge equals direct sketch (the day-merge contract); string keys work") {
    graft.expressions.GraftFunctions.register(spark)
    val df = parquetNums(30000, 6)
    // fine: 6 groups; coarse: 2 groups of 3 — merged fine sketches must
    // equal the sketch built directly at the coarse level
    val fine = df.withColumn("coarse", col("g") % 2)
      .groupBy("coarse", "g")
      .agg(call_function("hll_sketch", col("dom"), lit(10)).as("sk"))
    val mergedUp = fine.groupBy("coarse")
      .agg(call_function("hll_merge", col("sk")).as("sk"))
      .select(col("coarse"), call_function("hll_estimate", col("sk")).as("est"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val direct = df.withColumn("coarse", col("g") % 2)
      .groupBy("coarse")
      .agg(call_function("hll_sketch", col("dom"), lit(10)).as("sk"))
      .select(col("coarse"), call_function("hll_estimate", col("sk")).as("est"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(mergedUp === direct)
    assert(direct.values.forall(v => v > 80 && v < 115), s"97 distinct domains, got $direct")
  }

  test("cms_sketch/cms_merge/cms_query and qhist aggregates through SQL") {
    graft.expressions.GraftFunctions.register(spark)
    val df = parquetNums(20000, 4)
    df.createOrReplaceTempView("sketch_src")
    // CMS: per-group sketch, merged across groups, probed for key 7
    val est = spark.sql(
      """SELECT cms_query(cms_merge(sk), 7L) AS c FROM (
        |  SELECT g, cms_sketch(k, 4, 1024) AS sk FROM sketch_src GROUP BY g)""".stripMargin)
      .collect().head.getLong(0)
    val truth = df.filter(col("k") === 7).count()
    assert(est >= truth && est <= truth + 100, s"cms est $est vs truth $truth")

    // qhist: median of k across everything, fine->coarse merge
    val med = spark.sql(
      """SELECT qhist_quantile(qhist_merge(sk), 0.5D) AS m FROM (
        |  SELECT g, qhist_sketch(k, 5) AS sk FROM sketch_src GROUP BY g)""".stripMargin)
      .collect().head.getLong(0)
    // uniform 0..1499 -> median ~750, bucket lower bound within 2^-5
    assert(med >= 700 && med <= 750, s"median bucket $med")
    // empty input -> null quantile (not a crash)
    assert(spark.sql(
      "SELECT qhist_quantile(qhist_sketch(k, 5), 0.5D) FROM sketch_src WHERE k < 0")
      .collect().head.isNullAt(0))
  }

  // ------------------------------------------------- compression signal

  test("compression_ratio orders template < prose < noise; deterministic; edges") {
    graft.expressions.GraftFunctions.register(spark)
    import spark.implicits._
    val template = ("menu home about contact " * 50).trim
    val prose = "The quiet revolution in data engineering began when teams realized " +
      "that declarative pipelines compose better than imperative scripts, and that " +
      "a schema is a contract rather than a suggestion worth arguing about."
    val noise = {
      // ~90-symbol printable alphabet (~6.5 bits/char) — hex would be only
      // 4 bits/char and deflate beats short English prose on it
      val rnd = new Random(77)
      (1 to 300).map(_ => (33 + rnd.nextInt(90)).toChar).mkString
    }
    val out = Seq(("t", template), ("p", prose), ("n", noise), ("e", ""))
      .toDF("k", "text")
      .select(col("k"), call_function("compression_ratio", col("text")).as("r"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("t") < out("p"), s"template must compress harder: $out")
    assert(out("p") < out("n"), s"noise must compress worst: $out")
    assert(out("e") === 1000000L)
    assert(out("t") < 200000L, s"50x-repeated phrase should crush: $out")
    // deterministic across evaluations
    val again = Seq(Tuple1(prose)).toDF("text")
      .select(call_function("compression_ratio", col("text"))).head.getLong(0)
    assert(again === out("p"))
    // null flows through as null
    assert(Seq[Option[String]](None).toDF("text")
      .select(call_function("compression_ratio", col("text"))).head.isNullAt(0))
    // YAML dispatch + the filter shape it exists for
    val piped = new graft.engine.Engine(spark).applyOperation(
      Seq(("a", template), ("b", prose)).toDF("id", "text"),
      Map("operation" -> "compression_ratio", "column" -> "text"), Map.empty, "spec")
    assert(piped.columns.contains("compression_ppm"))
    assert(piped.filter(col("compression_ppm") > 200000).count() === 1)
  }

  // -------------------------------------------------------------- Bloom

  test("bloom never false-negatives; fp rate tracks the design; merge is OR") {
    val (lb, k) = (14, 5)
    val whole = SketchKernels.bloomCreate(lb)
    val a = SketchKernels.bloomCreate(lb); val b = SketchKernels.bloomCreate(lb)
    (0L until 2000L).foreach { key =>
      val h = SketchKernels.hashLong(key)
      SketchKernels.bloomUpdate(whole, lb, k, h)
      SketchKernels.bloomUpdate(if (key % 2 == 0) a else b, lb, k, h)
    }
    (0L until 2000L).foreach { key =>
      assert(SketchKernels.bloomContains(whole, lb, k, SketchKernels.hashLong(key)),
        s"false negative for $key") // structurally impossible; pin it anyway
    }
    val fps = (100000L until 120000L).count(key =>
      SketchKernels.bloomContains(whole, lb, k, SketchKernels.hashLong(key)))
    // fill = 1-exp(-2000*5/16384) ~ 0.46 -> fp ~ 0.46^5 ~ 2.1%; allow 3x
    assert(fps < 20000 * 0.063, s"$fps false positives in 20000 probes")
    SketchKernels.bloomMerge(a, b)
    assert(a.toSeq === whole.toSeq, "merged halves must equal the single-pass filter")
    val bytes = SketchKernels.bloomSerialize(a, lb, k)
    val (lb2, k2, w2) = SketchKernels.bloomDeserialize(bytes)
    assert(lb2 === lb && k2 === k && w2.toSeq === a.toSeq)
    assert(intercept[IllegalArgumentException](
      SketchKernels.bloomDeserialize(bytes.take(9))).getMessage.contains("truncated"))
  }

  test("bloom_filter YAML op: drop mode never leaks a seen row; keep mode is a superset") {
    import spark.implicits._
    val corpus = (0L until 3000L).map(i => (i, s"doc$i")).toDF("id", "text")
    val seen = (0L until 1000L).filter(_ % 3 == 0).map(Tuple1(_)).toDF("id")
    val engine = new graft.engine.Engine(spark)
    val dropped = engine.applyOperation(corpus,
      Map("operation" -> "bloom_filter", "column" -> "id",
        "sources" -> List("$sources.seen"),
        "log_bits" -> "16", "mode" -> "drop"),
      Map("sources.seen" -> seen), "spec")
    val keptIds = dropped.select("id").collect().map(_.getLong(0)).toSet
    val seenIds = (0L until 1000L).filter(_ % 3 == 0).toSet
    assert((keptIds & seenIds).isEmpty, "drop mode leaked seen rows")
    // collateral damage bounded: at log_bits=16 the fp rate is ~0
    assert(keptIds.size >= 3000 - seenIds.size - 20)
    val kept = engine.applyOperation(corpus,
      Map("operation" -> "bloom_filter", "column" -> "id",
        "sources" -> List("$sources.seen"),
        "log_bits" -> "16", "mode" -> "keep"),
      Map("sources.seen" -> seen), "spec")
    val keepIds = kept.select("id").collect().map(_.getLong(0)).toSet
    assert(seenIds.subsetOf(keepIds), "keep mode must retain every seen row")
  }

  // ---------------------------------------------------------- KMV (theta)

  test("kmv is insertion-order independent, exact below k, accurate at k") {
    val k = 128
    val keys = (0L until 5000L).map(_ * 31L + 7)
    val buf1 = new Array[Long](k); var n1 = 0
    keys.foreach(key => n1 = SketchKernels.kmvInsert(buf1, n1, k, SketchKernels.hashLong(key)))
    val buf2 = new Array[Long](k); var n2 = 0
    new Random(9).shuffle(keys).foreach(key =>
      n2 = SketchKernels.kmvInsert(buf2, n2, k, SketchKernels.hashLong(key)))
    assert(buf1.toSeq === buf2.toSeq && n1 === n2, "insertion order changed the sketch")
    val est = SketchKernels.kmvEstimate(buf1, n1, k)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.30, s"kmv estimate $est for 5000")
    // below k: exact
    val small = new Array[Long](k); var ns = 0
    (0L until 50L).foreach(key => ns = SketchKernels.kmvInsert(small, ns, k, SketchKernels.hashLong(key)))
    assert(SketchKernels.kmvEstimate(small, ns, k) === 50L)
    // duplicates don't inflate
    (0L until 50L).foreach(key => ns = SketchKernels.kmvInsert(small, ns, k, SketchKernels.hashLong(key)))
    assert(SketchKernels.kmvEstimate(small, ns, k) === 50L)
  }

  test("kmv merge/intersect estimates track true set algebra; roundtrip; hostile") {
    val k = 256
    def sketch(keys: Seq[Long]): (Array[Long], Int) = {
      val buf = new Array[Long](k); var n = 0
      keys.foreach(key => n = SketchKernels.kmvInsert(buf, n, k, SketchKernels.hashLong(key)))
      (buf, n)
    }
    val aKeys = (0L until 7000L); val bKeys = (4000L until 12000L)
    val (sa, na) = sketch(aKeys); val (sb, nb) = sketch(bKeys)
    val (su, nu) = SketchKernels.kmvMerge(sa, na, sb, nb, k)
    val ue = SketchKernels.kmvEstimate(su, nu, k)
    assert(math.abs(ue - 12000.0) / 12000.0 < 0.20, s"union est $ue for 12000")
    val ie = SketchKernels.kmvIntersect(sa, na, sb, nb, k)
    assert(math.abs(ie - 3000.0) / 3000.0 < 0.5, s"intersect est $ie for 3000") // c~64 retained commons -> ~1/8 sigma; allow 4x
    val bytes = SketchKernels.kmvSerialize(sa, na, k)
    val (k2, n2, s2) = SketchKernels.kmvDeserialize(bytes)
    assert(k2 === k && n2 === na && s2.take(n2).toSeq === sa.take(na).toSeq)
    assert(intercept[IllegalArgumentException](
      SketchKernels.kmvDeserialize(bytes.take(8))).getMessage.contains("truncated"))
    assert(intercept[IllegalArgumentException](
      SketchKernels.kmvDeserialize(Array[Byte]('X', 0, 1, 0, 0))).getMessage.contains("magic"))
    // adversarial tiny k-th hash: estimates saturate instead of wrapping
    val evil = Array.tabulate(4)(i => i + 1L) // hashes 1,2,3,4 — theta ~ 2^-62
    assert(SketchKernels.kmvEstimate(evil, 4, 4) === Long.MaxValue)
    assert(SketchKernels.kmvIntersect(evil, 4, evil, 4, 4) >= 0L)
  }

  test("sketch_overlap YAML op returns the one-row set algebra") {
    import spark.implicits._
    val a = (0L until 700L).map(Tuple1(_)).toDF("id")
    val b = (300L until 1000L).map(Tuple1(_)).toDF("id")
    val out = new graft.engine.Engine(spark).applyOperation(a,
      Map("operation" -> "sketch_overlap", "column" -> "id",
        "sources" -> List("$sources.b"),
        "k" -> "2048"),
      Map("sources.b" -> b), "spec").collect()
    assert(out.length === 1)
    val r = out.head
    // k=2048 exceeds every cardinality involved -> every estimate is exact
    assert(r.getLong(0) === 700L && r.getLong(1) === 700L)
    assert(r.getLong(2) === 1000L && r.getLong(3) === 400L)
  }

  test("streaming sketch ingest: totals equal the direct build; restart-safe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sk-stream")
    val rows = (0 until 5000).map(i => (s"g${i % 3}", (i % 700).toLong)).toDF("g", "k")
    rows.filter(col("k") % 2 === 0).write.parquet(s"$dir/src")
    val src = spark.readStream.schema(rows.schema).parquet(s"$dir/src")
    val cached = cacheFootprint
    def run() = graft.streaming.Streams.sketchDistinctIngest(src, Seq("g"), "k",
      precision = 10, s"$dir/sk", checkpointDir = s"$dir/ckpt")
    val q = run(); try q.processAllAvailable() finally q.stop()
    rows.filter(col("k") % 2 =!= 0).write.mode("append").parquet(s"$dir/src")
    val q2 = run(); try q2.processAllAvailable() finally q2.stop()
    def totals() = graft.streaming.Streams.sketchDistinctTotals(spark, s"$dir/sk", Seq("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t1 = totals()
    val direct = Sketches.approxDistinct(rows, Seq("g"), "k", 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t1 === direct, "merged delta sketches must equal the direct build")
    assert(new java.io.File(s"$dir/sk").list().count(_.startsWith("batch=")) === 2)
    // restart on the same checkpoint with no new data: totals unchanged
    val q3 = run(); try q3.processAllAvailable() finally q3.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    assert(totals() === t1)
  }

  test("quantileSketch: whole-number fractions do not collide with decimal twins") {
    import spark.implicits._
    val df = (1 to 64).map(v => ("g", v.toLong)).toDF("g", "v")
    // 1.0 and 0.1 both rendered "q1" before the fix (stripTrailingZeros of
    // 1.0 is "1"), so the max silently replaced the p10 column
    val out = Sketches.quantileSketch(df, Seq("g"), "v", Seq(0.1, 1.0))
    assert(out.columns.toSeq == Seq("g", "q1", "q100"))
    val r = out.collect().head
    val (p10, max) = (r.getLong(1), r.getLong(2))
    assert(p10 < max, s"p10 bucket bound $p10 must sit below the max bound $max")
    // literal duplicate fractions reject instead of silently overwriting
    val e = intercept[IllegalArgumentException](
      Sketches.quantileSketch(df, Seq("g"), "v", Seq(0.5, 0.5)).collect())
    assert(e.getMessage.contains("duplicate column names"), e.getMessage)
  }

  test("quantileFilter: per-group threshold cut, modes, global face, rejects") {
    import spark.implicits._
    // two groups with disjoint ranges: thresholds must be per-group
    val df = ((1 to 100).map(v => ("lo", v.toDouble)) ++
      (1 to 100).map(v => ("hi", 1000.0 + v))).toDF("g", "v")
    val kept = Sketches.quantileFilter(df, Seq("g"), "v", 0.5)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // keep_above the p50 bucket bound: roughly half of EACH group survives
    // (bucket granularity makes it >= half, never the whole group)
    assert(kept("lo") >= 50 && kept("lo") < 100, s"lo kept ${kept("lo")}")
    assert(kept("hi") >= 50 && kept("hi") < 100, s"hi kept ${kept("hi")}")
    // keep_below is the complement side (bucket-boundary rows overlap)
    val below = Sketches.quantileFilter(df, Seq("g"), "v", 0.5, mode = "keep_below")
    assert(below.count() > 0 && below.count() < 200)
    // global face (no groups): threshold spans BOTH ranges -> the hi group
    // survives whole, the lo group vanishes
    val global = Sketches.quantileFilter(df, Nil, "v", 0.5)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the p50 bucket's LOWER bound can sit a few values below 100, letting
    // boundary rows of lo squeak through — that's the documented <2^-5
    // relative bucket error, not a leak
    assert(global.getOrElse("hi", 0L) == 100L && global.getOrElse("lo", 0L) <= 5L)
    // null values drop; integral columns pass scale=1 unchanged
    val withNull = (Seq(("a", Some(5.0)), ("a", None))).toDF("g", "v")
    assert(Sketches.quantileFilter(withNull, Seq("g"), "v", 0.5).count() == 1)
    // YAML dispatch + rejects
    val e = new graft.engine.Engine(spark)
    assert(e.applyOperation(df, Map("operation" -> "quantile_filter",
      "group_by_columns" -> List("g"), "column" -> "v", "fraction" -> 0.5),
      Map.empty, "spec").count() == kept.values.sum)
    assertThrows[IllegalArgumentException](
      Sketches.quantileFilter(df, Seq("g"), "v", 0.5, mode = "drop"))
    assertThrows[IllegalArgumentException](
      Sketches.quantileFilter(df, Seq("g"), "v", 1.5))
    assertThrows[IllegalArgumentException](
      Sketches.quantileFilter(df, Seq("g"), "zz", 0.5))
    // negative values raise diagnosably inside the sketch (loghist domain)
    val neg = Seq(("a", -1.0), ("a", 2.0)).toDF("g", "v")
    val e2 = intercept[Exception](Sketches.quantileFilter(neg, Seq("g"), "v", 0.5).count())
    assert(e2.getMessage != null)
  }

  test("hostile sketch bytes through the merge aggregate reject diagnosably") {
    graft.expressions.GraftFunctions.register(spark)
    import spark.implicits._
    val bad = Seq(Array[Byte]('H', 9, 1, 2, 3)).toDF("sk")
    val e = intercept[Exception](bad.agg(call_function("hll_merge", col("sk"))).collect())
    assert(e.getMessage != null)
    val okNulls = Seq.empty[Array[Byte]].toDF("sk")
      .agg(call_function("hll_merge", col("sk"))).collect()
    assert(okNulls.head.isNullAt(0)) // empty/all-null group -> null sketch
  }
}
