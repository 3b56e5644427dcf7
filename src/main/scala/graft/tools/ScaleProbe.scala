// Scale probe: times operator legs over inputs far larger than the gate
// fixtures, so growth with data size and core count is measured, not argued.
// Legs are data — (name, fixture, body) — and one runner times them all:
//
//  - `Docs` legs (the dedup / corpus / media / ingest tier) run once per
//    corpus argument: a directory holding documents.parquet, or a doc count
//    N for the synthesized corpus $SPARK_GRAFT_SCALE_DIR/corpus-N;
//  - `Lineitem` / `Events` legs (the data-bound operator tier) run once,
//    over a 6M-row lineitem-like and a 10M-row events-like parquet under
//    $SPARK_GRAFT_SCALE_DIR (32 files each, so the scan parallelizes like
//    multi-split input).
//
// Every fixture is deterministic and written once, when missing. Default
// corpora: synthesized ones of 500, 5000 and 50000 docs (the testdata
// sf0.01 / sf0.1 / 10x sizes); default
// SPARK_GRAFT_SCALE_DIR: /tmp/graft-scale. SPARK_GRAFT_LEGS=a,b runs only
// the named legs. Run once per core count for the time-vs-cores tables:
//
//   sbt "runMain graft.tools.ScaleProbe 5000 500000"
//   SPARK_GRAFT_CPUS=8 SPARK_GRAFT_LEGS=group_by,join_inner sbt "runMain graft.tools.ScaleProbe"
//
// Timing protocol: one untimed session warm-up; then per leg, the body's
// own set-up runs untimed (index, shards, files), the work it returns runs
// ONCE timed (a DataFrame result through a noop write), and the leg's
// caches, persistent RDDs and scratch dir are released. Each leg prints
//
//   SCALE-LEG <input> cpus=<n> <leg>=<seconds>s [<result>]
//
// as soon as it ends, so a later failure cannot erase earlier numbers.
// Results live in PLANS.md. Local diagnosis, not a bench gate.
package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Corpus, Dedup, Graph, Images, Sampling, TextFunctions}
import graft.ops.Ops

object ScaleProbe {
  sealed trait Fixture
  case object Docs extends Fixture
  case object Lineitem extends Fixture
  case object Events extends Fixture

  /** What a leg body reads: its input's label (a corpus dir, or the table's
    * path), the frame, its row count, and a scratch dir the runner deletes
    * after the leg. */
  final case class In(spark: SparkSession, label: String, df: DataFrame, n: Long,
                      scratch: Path)

  /** `body` runs its own code untimed and returns the timed work. */
  final case class Leg(name: String, fixture: Fixture, body: In => () => Any)

  /** Legs that must agree on their result when both run on one input. */
  val Agree: Seq[(String, String)] = Seq(
    "cc_dist" -> "cc",
    "dedup_incr_indexed" -> "dedup_incremental",
    "dedup_incr_disk" -> "dedup_incremental")

  private def jaccard(docs: DataFrame): DataFrame =
    Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.7, maxDocFreq = Some(1000L))

  private def withTokens(docs: DataFrame): DataFrame =
    docs.withColumn("toks", TextFunctions.tokenCount(col("text")))

  // one "mega" group holds a third of the corpus — the skew where a
  // single-window cap collapses onto one task
  private def skewed(docs: DataFrame): DataFrame =
    docs.withColumn("grp",
      when(col("doc_id") % 3 === 0, lit("mega")).otherwise(concat(lit("g"), col("doc_id") % 97)))

  // ids ending 00/01 share a seed: ~1% dup pairs, linear in n (a seed family
  // like the gate fixtures' id % 250 rule would grow group sizes with the
  // corpus and the PAIR count quadratically)
  private def dupSeed(id: Long): Long = if (id % 100 < 2) (id / 100) * 100 else id

  /** The graph gates' supplier -> part link graph over the lineitem fixture:
    * four suppliers per part out of 10,000 (TPC-H's partsupp rule), so
    * ~800k distinct edges over ~200k nodes behind 6M rows. */
  private def supplierPart(df: DataFrame): DataFrame =
    df.select(((col("l_partkey") + pmod(col("l_orderkey"), lit(4L)) * 2500L) % 10000L + 1L)
      .as("l_suppkey"), col("l_partkey"))

  val Legs: Seq[Leg] = Seq(
    // fixed stop-token cap (the production guard): binding only on the head
    // of the doc-frequency distribution, independent of corpus size
    Leg("jaccard", Docs, in => () => jaccard(in.df).count()),
    Leg("minhash", Docs, in => () =>
      Dedup.minhashLshPairs(in.df, "doc_id", "text", threshold = 0.7).count()),
    Leg("boilerplate", Docs, in => () =>
      Corpus.removeBoilerplate(in.df, "doc_id", "text", minDocs = (in.n / 100).max(2)).count()),
    Leg("cc", Docs, in => () =>
      Dedup.connectedComponents(in.df.select("doc_id"), "doc_id", jaccard(in.df)).count()),
    // the 100 TB crossover path: edge threshold 0 disqualifies the driver
    // union-find, forcing the DISTRIBUTED hash-min label propagation
    Leg("cc_dist", Docs, in => () =>
      Dedup.connectedComponents(in.df.select("doc_id"), "doc_id", jaccard(in.df),
        broadcastEdgeThreshold = 0L).count()),
    // the declared-pipeline face of the same tier: YAML → dedup_near
    // (minhash) → destination, through Engine dispatch and the final
    // semi-join removal; compare with dedup_near_lib's representative count
    Leg("dedup_near_yaml", Docs, { in =>
      Files.writeString(in.scratch.resolve("p.yaml"),
        s"""version: 2
           |sources:
           |  docs:
           |    file: ${in.label}/documents.parquet
           |    type: parquet
           |transformations:
           |  deduped:
           |    source: $$sources.docs
           |    operations:
           |      - operation: dedup_near
           |        id_column: doc_id
           |        column: text
           |        method: minhash
           |        threshold: 0.7
           |destinations:
           |  out:
           |    source: $$transformations.deduped
           |""".stripMargin)
      val out = in.scratch.resolve("o")
      () => {
        new graft.engine.Engine(in.spark).run(in.scratch.resolve("p.yaml").toString,
          outputDir = Some(out))
        Files.lines(out.resolve("out.jsonl")).count()
      }
    }),
    Leg("dedup_near_lib", Docs, in => () => {
      val pairs = Dedup.minhashLshPairs(in.df, "doc_id", "text", threshold = 0.7)
      Dedup.connectedComponents(in.df.select("doc_id"), "doc_id", pairs)
        .filter(col("id") === col("group_rep")).count()
    }),
    // training-mix primitives: the budget cut and the global shuffle ordinal
    // are bucketed two-phase prefix sums — cost should track the corpus
    // linearly, never a one-task sort
    Leg("token_budget", Docs, in => () =>
      Sampling.tokenBudgetSample(withTokens(in.df), "doc_id", "toks", budget = in.n * 50).count()),
    Leg("shuffle", Docs, in => () => Sampling.hashShuffle(in.df, "doc_id").count()),
    // LM-rarity: induction is one bounded groupBy (≤ |alphabet|³ keys →
    // top-K collect), scoring a shuffle-free kernel
    Leg("trigram_rarity", Docs, in => () =>
      Corpus.withTrigramRarity(in.df, "doc_id", "text").filter(col("rarity") > 0).count()),
    // sequence packing rides the same prefix-sum skeleton; distinct contexts
    // verify the assignment actually materializes
    Leg("pack_contexts", Docs, in => () =>
      Sampling.packContexts(withTokens(in.df), "doc_id", "toks", contextTokens = 4096L)
        .select("context_id").distinct().count()),
    // grouped packing at crawl-scale group cardinality (100k domains): the
    // per-group bases MUST stay distributed — a |groups|x256 driver collect
    // would OOM here by design
    Leg("pack_by_domain", Docs, in => () =>
      Sampling.packContextsBy(
        withTokens(in.df.withColumn("domain", concat(lit("d"), col("doc_id") % 100000))),
        "domain", "doc_id", "toks", contextTokens = 4096L)
        .select("domain", "context_id").distinct().count()),
    // per-group cap under heavy skew: the salted two-stage top-k must keep
    // the mega group spread; wall should track corpus size
    Leg("domain_cap", Docs, in => () =>
      Sampling.capPerGroup(skewed(in.df), "grp", "doc_id", k = 100).count()),
    Leg("rebalance", Docs, in => () =>
      Sampling.rebalanceToMixture(skewed(in.df), "grp", "text",
        Map("mega" -> 0.2, "g1" -> 0.4, "g2" -> 0.4)).count()),
    // incremental dedup: 10% delta vs the other 90% as corpus — the
    // daily-ingest shape; wall should follow the delta's posting overlap
    Leg("dedup_incremental", Docs, in => () =>
      Dedup.dedupNearIncremental(
        in.df.filter(col("doc_id") % 10 === 0), in.df.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", threshold = 0.7, maxDocFreq = Some(1000L)).count()),
    // production shape: the corpus index is built untimed (written once per
    // corpus in real life), so the leg isolates the delta's marginal cost
    Leg("dedup_incr_indexed", Docs, { in =>
      val corpusIdx = Dedup.shingleIndex(in.df.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      corpusIdx.count()
      () => Dedup.dedupNearIncrementalIndexed(in.df.filter(col("doc_id") % 10 === 0), corpusIdx,
        "doc_id", "text", threshold = 0.7, maxDocFreq = Some(1000L)).count()
    }),
    // the streaming-production shape: the index on DISK, re-read per delta
    // as the stream-ingest faces read it — the regime of the fused-vs-narrow
    // strategy crossover
    Leg("dedup_incr_disk", Docs, { in =>
      val idxDir = in.scratch.resolve("idx").toString
      Dedup.shingleIndex(in.df.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .write.mode("overwrite").parquet(idxDir)
      () => Dedup.dedupNearIncrementalIndexed(in.df.filter(col("doc_id") % 10 === 0),
        in.spark.read.parquet(idxDir), "doc_id", "text", threshold = 0.7,
        maxDocFreq = Some(1000L)).count()
    }),
    // exact substring dedup: the window-hash shuffle is O(total tokens)
    Leg("substr_spans", Docs, in => () =>
      Dedup.duplicateSpans(in.df, "doc_id", "text", windowTokens = 10).count()),
    Leg("substr_strip", Docs, in => () =>
      Dedup.stripDuplicateSpans(in.df, "doc_id", "text", windowTokens = 10)),
    // trained BPE: induction is one word-count shuffle + a vocab-capped
    // driver loop; scoring a shuffle-free fused expression
    Leg("bpe_count", Docs, in => () => {
      val merges = graft.functions.Bpe.train(in.df, "text", numMerges = 200, maxWordTypes = 100000)
      graft.functions.Bpe.withTokenCount(in.df, "text", merges)
        .agg(sum("bpe_tokens")).head().getLong(0)
    }),
    // image near-dedup: a 64×64 image per row, containers rotating PNG /
    // BMP / baseline JPEG → decode → pHash → band join → hamming verify.
    // Synthesis rides inside the timing: at 100 TB the payloads arrive
    // with the rows anyway
    Leg("image_phash", Docs, in => () => {
      import in.spark.implicits._
      val media = in.df.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
        val px = GenImages.pattern(dupSeed(id), 64, 64)
        val p2 = if (id % 100 == 1) GenImages.perturb(px, 64, 64, 3) else px
        val bytes = id % 3 match {
          case 0 => graft.functions.ImageKernels.encodePng(64, 64, p2)
          case 1 => graft.functions.ImageKernels.encodeBmp(64, 64, p2)
          case _ => graft.functions.Jpeg.encodeYcc420(64, 64, p2)
        }
        (id, bytes)
      }).toDF("media_id", "content")
      Images.phashPairs(media, "media_id", "content", maxHamming = 3).count()
    }),
    // trained NB: train on the doc_id%5==0 slice (labels derived from
    // doc_id), score the whole corpus through the fused expression
    Leg("nb_classify", Docs, in => () => {
      val built = in.df.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(lit("c"), (col("doc_id") % 3).cast("string")))
          .as("label"),
        concat(col("text"), lit(" marker"), (col("doc_id") % 3).cast("string")).as("text"))
      graft.functions.NaiveBayes.trainAndPredict(built, "label", "text")
        .filter(col("label_pred").isNotNull).count()
    }),
    // audio near-dedup: a 256-sample recording per row, WAV/FLAC alternating
    // → fingerprint → banded hamming pairs. Not GenMedia.audioDedupSample:
    // its id % 250 signal would make the pair count quadratic here. The
    // id%100==1 partner is the same signal at double amplitude in the other
    // container, so the scale-invariant fingerprint collides exactly
    Leg("audio_fingerprint", Docs, in => () => {
      import in.spark.implicits._
      graft.expressions.GraftFunctions.register(in.spark)
      val media = in.df.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
        val amp = if (id % 100 == 1) 2 else 1
        val samples = Array.tabulate(256) { i =>
          ((Dedup.mix64(i.toLong * 1000003L + dupSeed(id) * 7919L + 17L) & 0x3FFFL) - 8192L)
            .toInt * amp
        }
        val bytes =
          if (id % 2 == 0) graft.functions.MediaKernels.encodeWav(16000, samples)
          else graft.functions.Flac.encodeMono16(16000, samples)
        (id, bytes)
      }).toDF("media_id", "content")
      Images.hammingPairs64(media.selectExpr("media_id", "audio_fingerprint(content) AS afp"),
        "media_id", "afp", maxHamming = 0).count()
    }),
    // header-only MP4/AVI parse, zero exchanges — wall tracks row count
    Leg("video_meta", Docs, in => () => {
      import in.spark.implicits._
      graft.expressions.GraftFunctions.register(in.spark)
      in.df.select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, GenMedia.videoMetaFixture(id))))
        .toDF("media_id", "content")
        .selectExpr("video_meta(content) AS m")
        .filter(col("m.format").isNotNull).count()
    }),
    // crawl ingest: up to 500k docs as 16 .wet.gz shards (the CC layout,
    // written untimed by a driver collect) → distributed WARC read
    Leg("wet_ingest", Docs, { in =>
      val rows = in.df.select("doc_id", "text").limit(math.min(in.n, 500000L).toInt).collect()
      rows.grouped((rows.length / 16).max(1)).zipWithIndex.foreach { case (g, i) =>
        GenWarc.write(in.scratch.resolve(f"part-$i%02d.wet.gz").toString,
          g.map(r => (s"http://doc/${r.get(0)}", r.getString(1))).toSeq, gzip = true)
      }
      () => graft.engine.Warc.read(in.spark, s"${in.scratch}/*.wet.gz").count()
    }),
    // mail-archive ingest: ONE mbox of n messages (no object-size
    // convention), written untimed; the read must fan out over 16 MiB
    // Hadoop splits and keep the message count and dense numbering
    Leg("mbox_ingest", Docs, { in =>
      val mbox = in.scratch.resolve("archive.mbox")
      val w = Files.newBufferedWriter(mbox)
      try (0L until in.n).foreach { i =>
        w.write(s"From probe@fixture Thu Jan  1 00:00:00 1970\n")
        w.write(s"From: sender$i@example.org\nSubject: msg $i\nDate: d\n\n")
        w.write(s"synthetic message body $i with enough words to look like mail " +
          s"and a quoted >From line that must unquote\n\n")
      } finally w.close()
      () => {
        val hc = in.spark.sparkContext.hadoopConfiguration
        hc.setLong("mapreduce.input.fileinputformat.split.maxsize", 16L << 20)
        try {
          val df = graft.engine.Sources.read(in.spark, "probe_mbox",
            Map("file" -> mbox.toString), in.scratch)
          val agg = df.selectExpr("count(*) AS c", "min(message) AS lo",
            "max(message) AS hi", "count(DISTINCT message) AS dm").collect()(0)
          require(agg.getLong(0) == in.n && agg.getLong(1) == 1L &&
            agg.getLong(2) == in.n && agg.getLong(3) == in.n,
            s"mbox numbering broken: $agg for n=${in.n}")
          s"msgs=${agg.getLong(0)},splits=${df.rdd.getNumPartitions}"
        } finally hc.unset("mapreduce.input.fileinputformat.split.maxsize")
      }
    }),
    // document crawl: MANY SMALL FILES (up to 50k tiny RTFs, written
    // untimed); the read must parallelize at file granularity and survive
    // the driver-side glob listing
    Leg("doc_ingest", Docs, { in =>
      val files = math.min(in.n, 50000L)
      (0L until files).foreach { i =>
        graft.engine.Rtf.write(in.scratch.resolve(f"d$i%06d.rtf"),
          Seq(s"tiny document $i body text for the many-file ingest leg"))
      }
      () => {
        val c = graft.engine.Sources.read(in.spark, "probe_rtf",
          Map("file" -> s"${in.scratch}/*.rtf"), in.scratch).count()
        require(c == files, s"doc_ingest: $c rows for $files files")
        c
      }
    }),
    // the data-bound operator tier: at sf0.1 the bench suite is fixed-cost
    // dominated, so its core-count ratios cannot show parallel speedup
    Leg("group_by", Lineitem, in => () =>
      Ops.groupBy(in.df, Seq("l_returnflag", "l_linestatus"),
        Seq("sum_qty" -> "sum(l_quantity)", "sum_price" -> "sum(l_price_cents)",
          "n" -> "count(*)"))),
    Leg("group_by_with_rank", Lineitem, in => () =>
      Ops.groupByWithRank(in.df, Seq("l_partkey"), "rk", Seq("l_quantity", "l_orderkey"))),
    Leg("window_agg", Events, in => () =>
      Ops.windowAgg(in.df, Seq("user_id"), Seq("ts"), "sum", "value", "running")),
    Leg("join_inner", Lineitem, in => () => {
      val dim = in.df.groupBy("l_partkey").agg(sum("l_quantity").as("part_qty"))
      Ops.join(in.df.select("l_orderkey", "l_partkey", "l_quantity"), Seq(dim),
        "inner", Seq("l_partkey"), Seq("l_partkey"))
    }),
    Leg("cast_columns", Lineitem, in => () =>
      Ops.castColumns(in.df,
        Seq("l_quantity" -> "double", "l_price_cents" -> "string", "l_shipdate" -> "string"))),
    Leg("sort_rows", Lineitem, in => () =>
      Ops.sortRows(in.df, Seq("l_price_cents"), descending = true)),
    Leg("distinct_rows", Events, in => () =>
      Ops.distinctRows(in.df, Seq("user_id", "event_type"))),
    Leg("resample", Events, in => () =>
      graft.functions.TimeSeries.resample(in.df, "ts", Seq("event_type"),
        3600000000L, Seq("n" -> "count(ts)", "s" -> "sum(value)"))),
    Leg("zorder", Lineitem, in => () =>
      graft.functions.Zorder.zorderBy(in.df.select("l_orderkey", "l_partkey", "l_quantity"),
        Seq("l_partkey", "l_quantity"))),
    Leg("pagerank", Lineitem, in => () =>
      Graph.pageRank(supplierPart(in.df), "l_suppkey", "l_partkey", iters = 3)),
    Leg("pagerank_dangling", Lineitem, in => () =>
      Graph.pageRank(supplierPart(in.df), "l_suppkey", "l_partkey", iters = 3,
        dangling = "redistribute")),
    Leg("hits", Lineitem, in => () =>
      Graph.hits(supplierPart(in.df), "l_suppkey", "l_partkey", iters = 2)),
    Leg("dedup_exact", Events, in => () =>
      Dedup.exactGroups(
        in.df.withColumn("k", concat_ws("|", col("user_id"), col("event_type"), col("value"))),
        "user_id", "k")))

  /** Writes `path` with `write` unless a complete copy is already there. */
  private def once(path: String)(write: String => Unit): String = {
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) write(path)
    path
  }

  /** Heaps-like documents corpus: 20% of word positions from 30 common
    * words, 50% from 5000 mid-frequency words, 30% from a per-document rare
    * pool, so posting lists stay bounded as n grows; ~10% near-duplicates of
    * the previous doc and a shared boilerplate line on every fourth. Each
    * doc is keyed by its id alone, so any partitioning gives the same rows. */
  private def corpus(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    import spark.implicits._
    val common = Array("spark", "query", "table", "column", "scan", "sort", "join",
      "agg", "batch", "part", "line", "order", "small", "fast", "value", "vector",
      "hash", "merge", "filter", "group", "index", "cache", "shuffle", "stage",
      "task", "plan", "codegen", "parquet", "stream", "window")
    val boiler = "subscribe to our newsletter for updates"
    val langs = Array("en", "fr", "es", "de", "zh")
    spark.range(nDocs).as[Long].mapPartitions(_.map { id =>
      val rnd = new scala.util.Random(id * 0x9e3779b97f4a7c15L)
      val isDup = id % 10 == 1 && id >= 10
      val baseId = if (isDup) id - 1 else id
      val baseRnd = new scala.util.Random(baseId * 0x9e3779b97f4a7c15L)
      val n = 10 + baseRnd.nextInt(71)
      val words = Array.fill(n) {
        baseRnd.nextInt(10) match {
          case k if k < 2 => common(baseRnd.nextInt(common.length))
          case k if k < 7 => s"m${baseRnd.nextInt(5000)}"
          case _ => s"r${baseId}x${baseRnd.nextInt(50)}"
        }
      }
      if (isDup && n > 2) words(rnd.nextInt(n)) = common(rnd.nextInt(common.length))
      val body = words.mkString(" ")
      val text = if (id % 4 == 0) body + "\n" + boiler else body
      (id, text, langs(rnd.nextInt(5)), s"src${id % 10}", text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** The probe inputs of one fixture, as (label, frame). */
  private def inputs(spark: SparkSession, f: Fixture, corpora: Seq[String],
                     base: String): Seq[(String, DataFrame)] = f match {
    case Docs => corpora.map { c =>
      val dir =
        if (c.nonEmpty && c.forall(_.isDigit)) {
          val d = s"$base/corpus-$c"
          once(s"$d/documents.parquet")(_ => corpus(spark, d, c.toLong))
          d
        } else c
      dir -> spark.read.parquet(s"$dir/documents.parquet")
    }
    case Lineitem =>
      val p = once(s"$base/lineitem_big.parquet") { p =>
        spark.range(0, 6000000L, 1, 32).select(
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
          .write.mode("overwrite").parquet(p)
      }
      Seq(p -> spark.read.parquet(p))
    case Events =>
      val p = once(s"$base/events_big.parquet") { p =>
        spark.range(0, 10000000L, 1, 32).select(
          timestamp_micros(lit(1700000000000000L) +
            pmod(hash(col("id")), lit(86400L * 30)).cast("long") * 1000000L).as("ts"),
          pmod(hash(col("id"), lit(1)), lit(500000)).cast("long").as("user_id"),
          element_at(array(lit("view"), lit("click"), lit("buy"), lit("scroll")),
            (pmod(hash(col("id"), lit(2)), lit(4)) + 1).cast("int")).as("event_type"),
          pmod(hash(col("id"), lit(3)), lit(100000)).cast("long").as("value"))
          .write.mode("overwrite").parquet(p)
      }
      Seq(p -> spark.read.parquet(p))
  }

  def main(args: Array[String]): Unit = {
    val corpora = if (args.nonEmpty) args.toSeq
      else Seq("500", "5000", "50000")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scale")
    val only = sys.env.get("SPARK_GRAFT_LEGS").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val legs = Legs.filter(l => only.forall(_.contains(l.name)))
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("WARN")
    Graph.quietCheckpointReleaseWarns() // each leg's cleanup releases the graph legs' checkpoints
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    for {
      f <- Seq(Docs, Lineitem, Events)
      fLegs = legs.filter(_.fixture == f) if fLegs.nonEmpty
      (label, df) <- inputs(spark, f, corpora, base)
    } {
      val n = df.count()
      val results = scala.collection.mutable.Map[String, Any]()
      fLegs.foreach { leg =>
        results(leg.name) = run(spark, leg, label, df, n)
        Agree.foreach { case (a, b) =>
          for (ra <- results.get(a); rb <- results.get(b))
            require(ra == rb, s"$label: $a gave $ra but $b gave $rb")
        }
      }
    }
    spark.stop()
  }

  private def run(spark: SparkSession, leg: Leg, label: String, df: DataFrame, n: Long): Any = {
    val scratch = Files.createTempDirectory(s"graft-scale-${leg.name}")
    try {
      spark.sparkContext.setJobDescription(s"scale: ${leg.name}")
      val work = leg.body(In(spark, label, df, n, scratch))
      val t0 = System.nanoTime()
      val result = work() match {
        case d: Dataset[_] => d.write.format("noop").mode("overwrite").save(); ()
        case r => r
      }
      val t = (System.nanoTime() - t0) / 1e9
      val shown = result match { case () => ""; case r => s" $r" }
      println(f"SCALE-LEG $label cpus=${graft.Session.cpus} ${leg.name}=$t%.2fs$shown")
      result
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    }
  }
}
