// scratch: end-to-end scale smoke for the dedup tier. Runs jaccard /
// minhash+LSH / boilerplate removal / connected components over each given
// documents.parquet dir and prints wall seconds + result counts, so growth
// across 500 -> 5k -> 50k docs is measured, not argued. Numbers land in
// PLANS.md ("scale smoke").
package graft.tools

import graft.functions.{Corpus, Dedup}

object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", "/tmp/graft-scale10x")
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // each leg also prints incrementally, so a later-leg failure (OOM,
    // result-size cap) can't erase the numbers already measured
    // SPARK_GRAFT_LEGS=pack_contexts,token_budget limits a run to named
    // legs (skipped legs report -1s and null counts in the summary line) —
    // lets a big-corpus probe of one new operator fit a bounded window
    // without paying for the whole suite.
    val legFilter: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_LEGS").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def enabled(name: String): Boolean = legFilter.forall(_.contains(name))
    def leg[A](d: String, name: String)(f: => A): (A, Double) = {
      if (!enabled(name)) { println(s"SCALE-LEG $d $name=SKIPPED"); (null.asInstanceOf[A], -1.0) }
      else {
        val (r, t) = time(f)
        println(f"SCALE-LEG $d $name=$t%.1fs")
        spark.catalog.clearCache()
        (r, t)
      }
    }
    // warmup (classload + codegen)
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    dirs.foreach { d =>
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val n = docs.count()
      // fixed stop-token cap — the production guard; binding only on the
      // head of the doc-frequency distribution, independent of corpus size
      // clearCache between legs: each leg measures a FRESH pipeline. Under
      // the 4 GiB probe heap, letting every leg's internal persists pile up
      // makes later legs thrash against eviction (measured 107s vs 4.5s for
      // the cc leg at 500k docs) — a measurement artifact, not engine cost.
      val (jc, tJac) = leg(d, "jaccard")(Dedup.jaccardPairs(docs, "doc_id", "text",
        threshold = 0.7, maxDocFreq = Some(1000L)).count())
      val (mc, tMin) = leg(d, "minhash")(Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.7).count())
      val (bc, tBoil) = leg(d, "boilerplate")(Corpus.removeBoilerplate(docs, "doc_id", "text",
        minDocs = (n / 100).max(2)).count())
      val (gc, tCC) = leg(d, "cc") {
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
          threshold = 0.7, maxDocFreq = Some(1000L))
        Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs).count()
      }
      // the 100 TB crossover path: force the DISTRIBUTED hash-min label
      // propagation (edge threshold 0 disqualifies the driver union-find)
      // over the same pairs, so the scale branch is measured at every
      // corpus size, not just spec-covered at toy scale
      val (gcd, tCCd) = leg(d, "cc_dist") {
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
          threshold = 0.7, maxDocFreq = Some(1000L))
        Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs,
          broadcastEdgeThreshold = 0L).count()
      }
      require(gcd == gc, s"distributed CC node count $gcd != broadcast path $gc")
      // The declared-pipeline face of the same tier: YAML → dedup_near
      // (minhash) → destination, exercising Engine dispatch + the final
      // semi-join removal path at the same scale as the library calls
      // above. Library-path expected count: total docs minus non-
      // representative members of the duplicate groups.
      val (yamlKept, tYaml) = leg(d, "dedup_near_yaml") {
        val proj = java.nio.file.Files.createTempDirectory("graft-scale-near")
        java.nio.file.Files.writeString(proj.resolve("p.yaml"),
          s"""version: 2
             |sources:
             |  docs:
             |    file: $d/documents.parquet
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
        val out = proj.resolve("o")
        new graft.engine.Engine(spark).run(proj.resolve("p.yaml").toString, outputDir = Some(out))
        java.nio.file.Files.lines(out.resolve("out.jsonl")).count()
      }
      val (libKept, _) = leg(d, "dedup_near_lib") {
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.7)
        val groups = Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs)
        groups.filter(org.apache.spark.sql.functions.col("id") ===
          org.apache.spark.sql.functions.col("group_rep")).count()
      }
      // training-mix primitives at the same scales: the budget cut and the
      // global shuffle ordinal are both bucketed two-phase prefix sums —
      // cost should track the corpus linearly, never a one-task sort
      import org.apache.spark.sql.functions.col
      val (tbKept, tTb) = leg(d, "token_budget") {
        val withTok = docs.withColumn("toks",
          graft.functions.TextFunctions.tokenCount(col("text")))
        graft.functions.Sampling.tokenBudgetSample(withTok, "doc_id", "toks",
          budget = n * 50).count()
      }
      val (_, tSh) = leg(d, "shuffle")(
        graft.functions.Sampling.hashShuffle(docs, "doc_id").count())
      // sequence packing rides the same prefix-sum skeleton; count distinct
      // contexts so the leg verifies the assignment actually materializes
      // LM-rarity: induction is one bounded groupBy (≤ |alphabet|³ keys →
      // top-K collect), scoring a shuffle-free kernel — wall should track
      // the scan like the cleaning tier
      val (rarHi, tRar) = leg(d, "trigram_rarity") {
        graft.functions.Corpus.withTrigramRarity(docs, "doc_id", "text")
          .filter(col("rarity") > 0).count()
      }
      val (packCtxs, tPack) = leg(d, "pack_contexts") {
        val withTok = docs.withColumn("toks",
          graft.functions.TextFunctions.tokenCount(col("text")))
        graft.functions.Sampling.packContexts(withTok, "doc_id", "toks", contextTokens = 4096L)
          .select("context_id").distinct().count()
      }
      // grouped packing at crawl-scale group cardinality: 100k registrable
      // domains (each a handful of docs at probe scale) — the shape whose
      // per-group bases MUST stay distributed; wall should track the scan,
      // and the old |groups|x256 driver collect would OOM here by design
      val (packByDom, tPackDom) = leg(d, "pack_by_domain") {
        val withTok = docs
          .withColumn("domain", org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("d"), col("doc_id") % 100000))
          .withColumn("toks", graft.functions.TextFunctions.tokenCount(col("text")))
        graft.functions.Sampling.packContextsBy(withTok, "domain", "doc_id", "toks",
          contextTokens = 4096L)
          .select("domain", "context_id").distinct().count()
      }
      // per-domain cap under heavy skew: one "mega" domain holds a third of
      // the corpus — exactly the shape where a single-window cap collapses
      // onto one task; the salted two-stage top-k must keep it spread and
      // its wall should track corpus size, not the largest group
      import org.apache.spark.sql.functions.{concat, lit, when}
      val grouped = docs.withColumn("grp",
        when(col("doc_id") % 3 === 0, lit("mega"))
          .otherwise(concat(lit("g"), col("doc_id") % 97)))
      val (capKept, tCap) = leg(d, "domain_cap")(
        graft.functions.Sampling.capPerGroup(grouped, "grp", "doc_id", k = 100).count())
      // mixture rebalance over the same skewed groups: one tiny counts
      // aggregation + a narrow filter — wall should track the scan
      val (rebKept, tReb) = leg(d, "rebalance")(
        graft.functions.Sampling.rebalanceToMixture(grouped, "grp", "text",
          Map("mega" -> 0.2, "g1" -> 0.4, "g2" -> 0.4)).count())
      // incremental dedup: 10% delta vs the other 90% as corpus — the
      // daily-ingest shape; wall should follow the delta's posting overlap,
      // staying well under the full-corpus jaccard leg above
      val (incrKept, tIncr) = leg(d, "dedup_incremental")(
        Dedup.dedupNearIncremental(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", threshold = 0.7, maxDocFreq = Some(1000L)).count())
      // production shape: corpus index precomputed OUTSIDE the timed block
      // (written once per corpus in real life) — the delta run then only
      // shingles the batch, so this leg isolates the true marginal cost
      val (incrIdxKept, tIncrIdx) =
        if (!enabled("dedup_incr_indexed")) leg(d, "dedup_incr_indexed")(0L)
        else {
          val corpusIdx = Dedup.shingleIndex(
            docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          corpusIdx.count() // materialize before timing
          val r = leg(d, "dedup_incr_indexed")(
            Dedup.dedupNearIncrementalIndexed(
              docs.filter(col("doc_id") % 10 === 0), corpusIdx,
              "doc_id", "text", threshold = 0.7, maxDocFreq = Some(1000L)).count())
          corpusIdx.unpersist()
          r
        }
      if (tIncr >= 0 && tIncrIdx >= 0)
        require(incrIdxKept == incrKept,
          s"indexed incremental kept $incrIdxKept != text path $incrKept")
      // the streaming-production shape of the same leg: index on DISK
      // (parquet, re-read per delta — exactly what the stream-ingest
      // faces' index read does), not pre-cached in executor memory.
      // This is the regime the fused-vs-narrow strategy crossover is
      // about: the fused path re-shuffles + re-caches the scanned index
      // per delta, the narrow path scans it twice and shuffles nothing
      // corpus-sized.
      val (incrDiskKept, tIncrDisk) =
        if (!enabled("dedup_incr_disk")) leg(d, "dedup_incr_disk")(0L)
        else {
          val idxDir = java.nio.file.Files.createTempDirectory("graft-scale-idx").toString
          Dedup.shingleIndex(docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
            .write.mode("overwrite").parquet(idxDir)
          leg(d, "dedup_incr_disk")(
            Dedup.dedupNearIncrementalIndexed(
              docs.filter(col("doc_id") % 10 === 0), spark.read.parquet(idxDir),
              "doc_id", "text", threshold = 0.7, maxDocFreq = Some(1000L)).count())
        }
      if (tIncr >= 0 && tIncrDisk >= 0)
        require(incrDiskKept == incrKept,
          s"disk-indexed incremental kept $incrDiskKept != text path $incrKept")
      // exact substring dedup: window-hash shuffle is O(total tokens), so
      // wall should track corpus size linearly like the cleaning tier
      val (ssFlags, tSpan) = leg(d, "substr_spans")(
        Dedup.duplicateSpans(docs, "doc_id", "text", windowTokens = 10).count())
      val (_, tStrip) = leg(d, "substr_strip")(
        Dedup.stripDuplicateSpans(docs, "doc_id", "text", windowTokens = 10)
          .write.format("noop").mode("overwrite").save())
      // trained-BPE counting: induction is one word-count shuffle + a
      // bounded driver loop (vocab-capped, corpus-size-independent);
      // scoring is a shuffle-free fused expression — wall tracks the scan
      val (bpeToks, tBpe) = leg(d, "bpe_count") {
        val merges = graft.functions.Bpe.train(docs, "text",
          numMerges = 200, maxWordTypes = 100000)
        graft.functions.Bpe.withTokenCount(docs, "text", merges)
          .agg(org.apache.spark.sql.functions.sum("bpe_tokens")).head().getLong(0)
      }
      // image near-dedup throughput: a 64×64 BMP generated per row feeds
      // decode→pHash→band-join→hamming verify (fixture synthesis rides
      // inside the leg — it is itself a narrow codegen-adjacent pass and
      // at 100 TB the payloads arrive with the rows anyway)
      val (imgPairs, tImg) = leg(d, "image_phash") {
        import spark.implicits._
        // ids ending 00/01 share a base pattern (~1% dup pairs, linear in
        // n — a seed family like the gate fixture's %250 rule would grow
        // group sizes with the corpus and the PAIR count quadratically).
        // Containers rotate PNG / BMP / baseline JPEG so a third of the
        // rows time the native T.81 decode (Huffman + fixed-point IDCT),
        // the real crawl mix shape.
        val media = docs.select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val seed = if (id % 100 < 2) (id / 100) * 100 else id
            val px = GenImages.pattern(seed, 64, 64)
            val p2 = if (id % 100 == 1) GenImages.perturb(px, 64, 64, 3) else px
            val bytes = (id % 3) match {
              case 0 => graft.functions.ImageKernels.encodePng(64, 64, p2)
              case 1 => graft.functions.ImageKernels.encodeBmp(64, 64, p2)
              case _ => graft.functions.Jpeg.encodeYcc420(64, 64, p2)
            }
            (id, bytes)
          })
          .toDF("media_id", "content")
        graft.functions.Images.phashPairs(media, "media_id", "content",
          maxHamming = 3).count()
      }
      // trained NB classification: train on the 20% doc_id%5==0 slice
      // (labels derived from doc_id so the leg needs no label column),
      // score the WHOLE corpus through the fused expression — the cost is
      // one md5 per token occurrence; train shuffle is (labels × 4096)-
      // bounded regardless of corpus size
      val (nbDocs, tNb) = leg(d, "nb_classify") {
        val built = docs.select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("c"), (col("doc_id") % 3).cast("string"))).as("label"),
          concat(col("text"), lit(" marker"),
            (col("doc_id") % 3).cast("string")).as("text"))
        graft.functions.NaiveBayes.trainAndPredict(built, "label", "text")
          .filter(col("label_pred").isNotNull).count()
      }
      // audio near-dedup throughput: a 256-sample recording per row,
      // container ALTERNATING WAV/FLAC (so the leg times native FLAC frame
      // decode on half the rows) → fingerprint → banded hamming pairs.
      // ~1% dup pairs via the same linear 00/01 seed family as image_phash;
      // the dup partner always crosses containers (FLAC is lossless, so
      // fingerprints collide exactly).
      val (audPairs, tAud) = leg(d, "audio_fingerprint") {
        import spark.implicits._
        graft.expressions.GraftFunctions.register(spark)
        // NOT GenMedia.audioDedupSample: that fixture keys its signal on
        // id % 250 (fine for the 500-doc gate, catastrophic here — 50k
        // docs collapse onto 250 signals and the pair count goes
        // quadratic). Full-range seeds keep collisions at the constructed
        // ~1%; the id%100==1 partner is the SAME signal at double
        // amplitude, so the scale-invariant fingerprint collides exactly.
        val media = docs.select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val seed = if (id % 100 < 2) (id / 100) * 100 else id
            val amp = if (id % 100 == 1) 2 else 1
            val samples = Array.tabulate(256) { i =>
              (((Dedup.mix64(i.toLong * 1000003L + seed * 7919L + 17L)
                & 0x3FFFL) - 8192L).toInt) * amp
            }
            val bytes =
              if (id % 2 == 0) graft.functions.MediaKernels.encodeWav(16000, samples)
              else graft.functions.Flac.encodeMono16(16000, samples)
            (id, bytes)
          })
          .toDF("media_id", "content")
        graft.functions.Images.hammingPairs64(
          media.selectExpr("media_id", "audio_fingerprint(content) AS afp"),
          "media_id", "afp", maxHamming = 0).count()
      }
      // video metadata sweep throughput: MP4 (even) / AVI (odd) header
      // fixtures per row → fused video_meta expression → parse-count agg.
      // Header-only parse, zero exchanges — wall should track row count.
      val (vidParsed, tVid) = leg(d, "video_meta") {
        import spark.implicits._
        graft.expressions.GraftFunctions.register(spark)
        docs.select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, GenMedia.videoMetaFixture(id))))
          .toDF("media_id", "content")
          .selectExpr("video_meta(content) AS m")
          .filter(col("m.format").isNotNull).count()
      }
      // crawl ingest at scale: corpus → multi-file .wet.gz (16 shards,
      // the CC layout) → distributed WARC read → html-free text counts;
      // files are the parallelism unit, so wall should track corpus size.
      // Shard GENERATION (driver-side fixture writing) stays outside the
      // timed block — only the distributed read is the engine under test.
      // fixture generation is a driver-side collect — cap it at 500k docs
      // (the READ side's file-level parallelism is what the leg measures)
      val shardDir = java.nio.file.Files.createTempDirectory("graft-scale-wet")
      val wetDocs = math.min(n, 500000L)
      if (enabled("wet_ingest")) {
        val rows = docs.select("doc_id", "text").limit(wetDocs.toInt).collect()
        rows.grouped((rows.length / 16).max(1)).zipWithIndex.foreach { case (g, i) =>
          GenWarc.write(shardDir.resolve(f"part-$i%02d.wet.gz").toString,
            g.map(r => (s"http://doc/${r.get(0)}", r.getString(1))).toSeq, gzip = true)
        }
      }
      val (wetRows, tWet) = leg(d, "wet_ingest")(
        graft.engine.Warc.read(spark, s"$shardDir/*.wet.gz").count())
      // mail-archive ingest at scale: ONE mbox (the real-world shape — no
      // WARC-style object-size convention) with n id-derived messages,
      // streamed to disk on the driver outside the timed block; the timed
      // read must fan out over Hadoop splits (16 MiB here so parallelism
      // is visible at probe scale) and message count + dense numbering
      // must survive the two-phase split prefix sums.
      val mboxPath = java.nio.file.Files.createTempDirectory("graft-scale-mbox")
        .resolve("archive.mbox")
      if (enabled("mbox_ingest")) {
        val w = java.nio.file.Files.newBufferedWriter(mboxPath)
        var i = 0L
        while (i < n) {
          w.write(s"From probe@fixture Thu Jan  1 00:00:00 1970\n")
          w.write(s"From: sender$i@example.org\nSubject: msg $i\nDate: d\n\n")
          w.write(s"synthetic message body $i with enough words to look like mail " +
            s"and a quoted >From line that must unquote\n\n")
          i += 1
        }
        w.close()
      }
      val (mboxStats, tMbox) = leg(d, "mbox_ingest") {
        val hc = spark.sparkContext.hadoopConfiguration
        hc.setLong("mapreduce.input.fileinputformat.split.maxsize", 16L << 20)
        try {
          val df = graft.engine.Sources.read(spark, "probe_mbox",
            Map("file" -> mboxPath.toString), mboxPath.getParent)
          val parts = df.rdd.getNumPartitions
          val agg = df.selectExpr("count(*) AS c", "min(message) AS lo",
            "max(message) AS hi", "count(DISTINCT message) AS dm").collect()(0)
          require(agg.getLong(0) == n && agg.getLong(1) == 1L &&
            agg.getLong(2) == n && agg.getLong(3) == n,
            s"mbox numbering broken: $agg for n=$n")
          s"msgs=${agg.getLong(0)},splits=$parts"
        } finally hc.unset("mapreduce.input.fileinputformat.split.maxsize")
      }
      // document-crawl shape: MANY SMALL FILES (the real-world layout the
      // r13 doc sources were only gate-tested at 40 files). 50k tiny RTFs
      // in one directory: generation (driver, trivial) outside the timed
      // block; the timed read must parallelize at file granularity and
      // survive the driver-side glob listing without a bottleneck.
      val docDir = java.nio.file.Files.createTempDirectory("graft-scale-docs")
      val docFiles = math.min(n, 50000L)
      if (enabled("doc_ingest")) {
        var i = 0L
        while (i < docFiles) {
          graft.engine.Rtf.write(docDir.resolve(f"d$i%06d.rtf"),
            Seq(s"tiny document $i body text for the many-file ingest leg"))
          i += 1
        }
      }
      val (docRows, tDoc) = leg(d, "doc_ingest") {
        val df = graft.engine.Sources.read(spark, "probe_rtf",
          Map("file" -> s"$docDir/*.rtf"), docDir)
        val c = df.count()
        require(c == docFiles, s"doc_ingest: $c rows for $docFiles files")
        c
      }
      println(f"SCALE $d docs=$n jaccard=$tJac%.1fs($jc) minhash=$tMin%.1fs($mc) " +
        f"boilerplate=$tBoil%.1fs($bc) cc=$tCC%.1fs($gc) cc_dist=$tCCd%.1fs " +
        f"dedup_near_yaml=$tYaml%.1fs(kept=$yamlKept, lib=$libKept) " +
        f"token_budget=$tTb%.1fs(kept=$tbKept) shuffle=$tSh%.1fs " +
        f"pack_contexts=$tPack%.1fs(ctxs=$packCtxs) " +
        f"pack_by_domain=$tPackDom%.1fs(ctxs=$packByDom) " +
        f"trigram_rarity=$tRar%.1fs($rarHi) " +
        f"domain_cap=$tCap%.1fs(kept=$capKept) rebalance=$tReb%.1fs(kept=$rebKept) " +
        f"dedup_incremental=$tIncr%.1fs(kept=$incrKept) " +
        f"dedup_incr_indexed=$tIncrIdx%.1fs " +
        f"substr_spans=$tSpan%.1fs($ssFlags) substr_strip=$tStrip%.1fs " +
        f"bpe_count=$tBpe%.1fs($bpeToks) image_phash=$tImg%.1fs($imgPairs) " +
        f"audio_fingerprint=$tAud%.1fs($audPairs) video_meta=$tVid%.1fs($vidParsed) " +
        f"nb_classify=$tNb%.1fs($nbDocs) wet_ingest=$tWet%.1fs($wetRows) " +
        f"mbox_ingest=$tMbox%.1fs($mboxStats) doc_ingest=$tDoc%.1fs($docRows)")
    }
    spark.stop()
  }
}
