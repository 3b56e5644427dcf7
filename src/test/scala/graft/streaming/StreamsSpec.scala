package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {
  import spark.implicits._
  import Streams._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  private val batch = Seq(
    Event(ts(0), 1, "click", 1.0),
    Event(ts(10), 1, "click", 2.0),   // same session (gap 10m < 30m)
    Event(ts(120), 1, "view", 3.0),   // new session (gap 110m)
    Event(ts(5), 2, "click", 4.0),
  )

  test("windowedStats works identically on a batch frame") {
    val out = windowedStats(batch.toDF(), "1 hour")
      .orderBy("window_start", "event_type").collect()
    assert(out.length == 2) // (hour0, click), (hour2, view)
    val first = out.head
    assert(first.getAs[Timestamp]("window_start") == ts(0))
    assert(first.getAs[Long]("n_events") == 3L) // u1 x2 + u2 x1 clicks in hour 0
  }

  test("sessionize batch: gap splits sessions, totals accumulate") {
    val sessions = sessionize(batch.toDS(), gapMs = 30 * 60 * 1000L)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(sessions.map(s => (s.user_id, s.n_events, s.total_value)).toSeq ==
      Seq((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0)))
  }

  test("a stream's stop() logs no job-group cancel warning; other scheduler warnings print") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dag = "org.apache.spark.scheduler.DAGScheduler"
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("dag-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN && e.getLoggerName == dag) warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(appender)
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Int]
      val q = mem.toDF().writeStream.format("memory").queryName("stop_noise").start()
      try {
        mem.addData(1, 2)
        q.processAllAvailable()
      } finally q.stop()
      // the scheduler handles stop()'s cancel requests on its event thread
      // in order, so once a later job has run they have been handled
      spark.sparkContext.parallelize(1 to 2, 1).count()
      LogManager.getLogger(dag).warn("another scheduler warning")
    } finally root.removeAppender(appender)
    import scala.jdk.CollectionConverters._
    assert(warns.asScala.toSeq == Seq("another scheduler warning"))
  }

  test("windowedStats on a real stream emits watermarked windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = windowedStats(mem.toDF(), "1 hour", watermark = "1 minute")
      .writeStream.format("memory").queryName("win_test")
      .outputMode("append").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      // push the watermark far past hour 0/2 so those windows finalize
      mem.addData(Event(ts(600), 9, "noop", 0.0))
      q.processAllAvailable()
      val rows = spark.table("win_test").collect()
      assert(rows.length >= 2) // finalized: (hour0, click), (hour2, view)
      val clicks0 = spark.table("win_test")
        .filter(col("event_type") === "click" && col("window_start") === ts(0))
        .head()
      assert(clicks0.getAs[Long]("n_events") == 3L)
    } finally q.stop()
  }

  test("sessionize on a real stream closes sessions via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sessionize(mem.toDS(), gapMs = 30 * 60 * 1000L, watermark = "1 minute")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      mem.addData(Event(ts(600), 9, "noop", 0.0)) // advance watermark → timeouts fire
      q.processAllAvailable()
      val sessions = spark.table("sess_test").as[Session].collect()
        .filter(_.user_id == 1L).sortBy(_.start.getTime)
      assert(sessions.map(s => (s.n_events, s.total_value)).toSeq == Seq((2L, 3.0), (1L, 3.0)))
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicates") {
    val dup = batch ++ Seq(Event(ts(0), 1, "click", 1.0))
    val out = dedupStream(dup.toDF(), Seq("user_id", "event_type"))
    assert(out.count() == batch.size) // exact duplicate row collapsed
  }

  test("nearDedupStream drops signature-identical docs on a live stream, keeps distinct ones") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val out = nearDedupStream(
      mem.toDF().toDF("ts", "doc_id", "text"), "text", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("near_dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (ts(0), 1L, "the quick brown fox jumps over the lazy dog today"),
        (ts(1), 2L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
        (ts(2), 3L, "completely different content about database engines here"))
      q.processAllAvailable()
      val kept = spark.table("near_dedup_stream").select("doc_id").as[Long].collect().toSet
      assert(kept.size == 2 && kept.contains(3L) && (kept - 3L).size == 1)
      // batch mode: same call, same semantics through dropDuplicates
      val batchKept = nearDedupStream(Seq(
        (ts(0), 1L, "same text here we go"),
        (ts(1), 2L, "same text here we go"),
        (ts(2), 3L, "other text entirely now")).toDF("ts", "doc_id", "text"),
        "text", "ts").count()
      assert(batchKept == 2)
    } finally q.stop()
  }

  test("corpus ops (redact, chunk) run unchanged on a live stream") {
    // stateless narrow passes accept readStream frames as-is — the same
    // batch/stream symmetry contract as windowedStats/sessionize
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val chunked = graft.functions.Corpus.chunk(
      mem.toDF().toDF("doc_id", "text")
        .withColumn("text", graft.functions.Corpus.redactPii(col("text"))),
      "doc_id", "text", chunkWords = 4, overlapWords = 0)
    val q = chunked.writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "mail bob@example.com the quick brown fox jumps over"))
      q.processAllAvailable()
      val rows = spark.table("corpus_stream").orderBy("chunk_id").collect()
      assert(rows.length == 2) // 8 words → two 4-word chunks
      assert(rows.head.getAs[String]("text") == "mail <EMAIL> the quick")
      assert(rows.forall(_.getAs[Long]("n_words") == 4L))
    } finally q.stop()
  }

  test("trigram rarity scores a live stream against a statically induced LM") {
    implicit val sqlCtx = spark.sqlContext
    // model induced offline from a static corpus...
    val corpus = Seq((1L, "aaaa"), (2L, "aaab")).toDF("doc_id", "text")
    val lm = graft.functions.Corpus.trigramLm(corpus, "text") // aaa=3, aab=1, N=4
    // ...scores deltas as they land: a pure narrow kernel, no stream agg
    val mem = MemoryStream[(Long, String)]
    val scored = graft.functions.Corpus.scoreTrigramRarity(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", lm)
    val q = scored.writeStream.format("memory").queryName("rar_stream")
      .outputMode("append").start()
    try {
      mem.addData((10L, "AAAA"), (11L, "zzzz"), (12L, "xy"))
      q.processAllAvailable()
      val rows = spark.table("rar_stream").select("doc_id", "rarity_sum", "rarity")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      // rar(aaa)=1000*4/4=1000; OOV zzz: 1000*4/1=4000
      assert(rows == Seq((10L, 2000L, 1000L), (11L, 8000L, 4000L), (12L, 0L, 0L)))
    } finally q.stop()
  }

  test("url_normalize and streaming exact URL dedup run on a live stream") {
    // normalizeUrl is a stateless codegen chain (stream-safe as-is);
    // dropDuplicates on the canonical URL is the streaming form of the
    // crawl pipeline's first dedup stage
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val deduped = mem.toDF().toDF("doc_id", "url")
      .withColumn("url_norm", graft.functions.Corpus.normalizeUrl(col("url")))
      .dropDuplicates("url_norm")
    val q = deduped.writeStream.format("memory").queryName("url_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "HTTP://WWW.A.COM:80/x?utm_source=s"),
        (2L, "http://www.a.com/x"), // same canonical URL → duplicate
        (3L, "http://b.net/y#frag"))
      q.processAllAvailable()
      val urls = spark.table("url_stream").select("url_norm")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(urls == Seq("http://b.net/y", "http://www.a.com/x"))
    } finally q.stop()
  }
  test("image/audio metadata expressions run unchanged on a live stream") {
    // the multimodal tier is stateless codegen — the same batch/stream
    // symmetry contract as the corpus ops
    implicit val sqlCtx = spark.sqlContext
    graft.expressions.GraftFunctions.register(spark)
    val mem = MemoryStream[Long]
    val media = mem.toDF().toDF("id")
      .withColumn("img", lit(graft.functions.ImageKernels.encodeBmp(8, 8, Array.fill(64)(7))))
      .withColumn("wav", lit(graft.functions.MediaKernels.encodeWav(8000, Array.tabulate(100)(_ % 9))))
      .selectExpr("id", "image_meta(img).format AS fmt", "image_phash(img) AS ph",
        "audio_meta(wav).n_samples AS n", "audio_features(wav).sq_sum AS sq")
    val q = media.writeStream.format("memory").queryName("media_stream")
      .outputMode("append").start()
    try {
      mem.addData(1L, 2L)
      q.processAllAvailable()
      val rows = spark.table("media_stream").collect()
      assert(rows.length == 2)
      assert(rows.forall(r => r.getAs[String]("fmt") == "bmp" &&
        r.getAs[Long]("n") == 100L && !r.isNullAt(2)))
    } finally q.stop()
  }

  test("incrementalDedupIngest: stream keep-set across two deltas equals the batch path") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest")
    val (idxDir, outDir, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    // delta 1: 10 keeps + an internal near-dup (11 ~ 1); delta 2: 12 is a
    // near-dup of delta-1's kept doc 2 (must be dropped via the PERSISTED
    // index), 13 is novel
    def doc(i: Long) = s"unique document body number $i with plenty of distinct words $i"
    val delta1 = (1L to 10L).map(i => (i, doc(i))) :+ ((11L, doc(1)))
    val delta2 = Seq((12L, doc(2)), (13L, "completely different novel content here"))

    val mem = MemoryStream[(Long, String)]
    val cached = cacheFootprint
    val q = Streams.incrementalDedupIngest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idxDir, outDir, threshold = 0.7, checkpointDir = ckpt)
    try {
      mem.addData(delta1: _*)
      q.processAllAvailable()
      mem.addData(delta2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    val streamKept = spark.read.parquet(outDir).select("doc_id")
      .as[Long].collect().sorted.toSeq

    // batch reference: same deltas through dedupNearIncrementalIndexed
    // with a hand-maintained index
    import graft.functions.Dedup
    val d1 = delta1.toDF("doc_id", "text")
    val emptyIdx = Dedup.shingleIndex(d1.limit(0), "doc_id", "text")
    val kept1 = Dedup.dedupNearIncrementalIndexed(d1, emptyIdx, "doc_id", "text", 0.7)
    val idx1 = Dedup.shingleIndex(kept1, "doc_id", "text")
    val kept2 = Dedup.dedupNearIncrementalIndexed(delta2.toDF("doc_id", "text"),
      idx1, "doc_id", "text", 0.7)
    val batchKept = (kept1.select("doc_id").as[Long].collect() ++
      kept2.select("doc_id").as[Long].collect()).sorted.toSeq

    assert(streamKept == batchKept, s"stream $streamKept vs batch $batchKept")
    assert(streamKept.contains(13L) && !streamKept.contains(11L) && !streamKept.contains(12L))
    // the index now carries exactly the kept docs' shingle rows
    assert(spark.read.parquet(idxDir).select("id").distinct().count() ==
      streamKept.size.toLong)
  }

  test("incrementalDocDedupIngest: document bytes cross-format dedup equals the text face") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-doc")
    def doc(i: Long) = s"unique document body number $i with plenty of distinct words $i"
    def render(i: Long, text: String, fmt: String): (Long, Array[Byte]) = {
      val f = java.nio.file.Files.createTempFile("graft-sd", "." + fmt)
      if (fmt == "rtf") graft.engine.Rtf.write(f, Seq(text))
      else graft.engine.Docx.writeDocx(f, Seq(text))
      (i, java.nio.file.Files.readAllBytes(f))
    }
    // delta 1 arrives as RTF; delta 2 as DOCX — 12 is a DOCX re-render of
    // delta-1's rtf-ingested doc 2's near-dup content (dropped through
    // extraction canonicalization), 13 novel, 14 unparseable garbage
    // (dropped as a row, not a failure)
    val delta1 = (1L to 10L).map(i => render(i, doc(i), "rtf"))
    val delta2 = Seq(render(12L, doc(2), "docx"),
      render(13L, "completely different novel content here", "docx"),
      (14L, "not a document at all".getBytes))
    val mem = MemoryStream[(Long, Array[Byte])]
    val cached = cacheFootprint
    val q = Streams.incrementalDocDedupIngest(mem.toDF().toDF("doc_id", "content"),
      "doc_id", "content", s"$dir/index", s"$dir/out", threshold = 0.7,
      checkpointDir = s"$dir/ckpt")
    try {
      mem.addData(delta1: _*)
      q.processAllAvailable()
      mem.addData(delta2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    val kept = spark.read.parquet(s"$dir/out").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(kept == (1L to 10L) :+ 13L, kept.toString)
  }

  test("incrementalVideoDedupIngest: multi-row frame index, vote across containers and deltas") {
    implicit val sqlCtx = spark.sqlContext
    import graft.tools.GenMedia
    val dir = java.nio.file.Files.createTempDirectory("graft-vid-ingest")
    val (idxDir, outDir, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    // delta 1: videos 0-4 (distinct bases across the container rotation)
    // + 104 (same CONTENT as 4 in a different container) -> 104 drops
    // within-batch; delta 2: 103 re-encodes delta-1's kept 3 (drops via
    // the persisted frame index), 50 is novel
    val delta1 = Seq(0L, 1L, 2L, 3L, 4L, 104L)
    val delta2 = Seq(103L, 50L)
    def payload(id: Long) = (id, GenMedia.videoDedupFixture(id))
    val mem = MemoryStream[(Long, Array[Byte])]
    val cached = cacheFootprint
    val q = Streams.incrementalVideoDedupIngest(mem.toDF().toDF("media_id", "content"),
      "media_id", "content", idxDir, outDir, maxHamming = 3, maxFrames = 4,
      minMatches = 2, checkpointDir = ckpt)
    try {
      mem.addData(delta1.map(payload): _*)
      q.processAllAvailable()
      mem.addData(delta2.map(payload): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    val kept = spark.read.parquet(outDir).select("media_id")
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L, 3L, 4L, 50L),
      s"104 within-batch, 103 via the frame index, 50 novel: $kept")
    // the persisted index carries only survivors' frame rows, 4 per video
    val idx = spark.read.parquet(idxDir)
    assert(idx.select("id").distinct().as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 50L))
    assert(idx.count() == 24, s"4 frame sigs per surviving video: ${idx.count()}")
  }

  test("incrementalImageDedupIngest: stream keep-set across two image deltas equals the batch path") {
    implicit val sqlCtx = spark.sqlContext
    import graft.tools.GenImages
    import graft.functions.Images
    val dir = java.nio.file.Files.createTempDirectory("graft-img-ingest")
    val (idxDir, outDir, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    // delta 1: ids 0-9 distinct patterns + 250 (near-dup of 0, different
    // container) → 250 dropped within-batch; delta 2: 251 is a near-dup of
    // delta-1's KEPT id 1 (must drop via the PERSISTED index), 20 is novel
    val delta1 = (0L to 9L) :+ 250L
    val delta2 = Seq(251L, 20L)
    def payload(id: Long) = (id, GenImages.dedupFixture(id))

    val mem = MemoryStream[(Long, Array[Byte])]
    val cached = cacheFootprint
    val q = Streams.incrementalImageDedupIngest(mem.toDF().toDF("media_id", "content"),
      "media_id", "content", idxDir, outDir, maxHamming = 3, checkpointDir = ckpt)
    try {
      mem.addData(delta1.map(payload): _*)
      q.processAllAvailable()
      mem.addData(delta2.map(payload): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    val streamKept = spark.read.parquet(outDir).select("media_id")
      .as[Long].collect().sorted.toSeq

    // batch reference: the same deltas through sigDedupIncremental with a
    // hand-maintained index
    def sigsOf(ids: Seq[Long]) =
      Images.perceptualHash(ids.map(payload).toDF("media_id", "content"),
        "content", "phash", "__sig__")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sig", org.apache.spark.sql.types.LongType))))
    val kept1 = Images.sigDedupIncremental(sigsOf(delta1), empty, "media_id", "__sig__", 3)
    val idx1 = kept1.select(col("media_id").as("id"), col("__sig__").as("sig"))
    val kept2 = Images.sigDedupIncremental(sigsOf(delta2), idx1, "media_id", "__sig__", 3)
    val batchKept = (kept1.select("media_id").as[Long].collect() ++
      kept2.select("media_id").as[Long].collect()).sorted.toSeq

    assert(streamKept == batchKept, s"stream $streamKept vs batch $batchKept")
    assert(streamKept == ((0L to 9L) :+ 20L),
      "250 drops within-batch, 251 drops via the persisted index, 20 is novel")
    assert(spark.read.parquet(idxDir).select("id").distinct().count() == 11L)
    // survivors' payloads ride through unchanged (no signature column leaks)
    val cols = spark.read.parquet(outDir).columns.toSet
    assert(cols == Set("media_id", "content", "batch"))
  }

  test("incrementalAudioDedupIngest: cross-container duplicate drops via the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.tools.GenMedia
    val dir = java.nio.file.Files.createTempDirectory("graft-aud-ingest")
    val (idxDir, outDir, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    // delta 1: distinct recordings 0-4; delta 2: 250 is recording 0 at
    // double amplitude IN THE OTHER CONTAINER (WAV<->FLAC) → must drop via
    // the persisted fingerprint index; 7 is novel
    val mem = MemoryStream[(Long, Array[Byte])]
    def payload(id: Long) = (id, GenMedia.audioDedupFixture(id))
    val cached = cacheFootprint
    val q = Streams.incrementalAudioDedupIngest(mem.toDF().toDF("media_id", "content"),
      "media_id", "content", idxDir, outDir, checkpointDir = ckpt)
    try {
      mem.addData((0L to 4L).map(payload): _*)
      q.processAllAvailable()
      mem.addData(Seq(250L, 7L).map(payload): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    val kept = spark.read.parquet(outDir).select("media_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L, 3L, 4L, 7L), s"got $kept")
  }

  test("incrementalDedupIngest: a replayed micro-batch is idempotent across every crash window") {
    // A crashed attempt may have written the batch's OUTPUT partition, its
    // INDEX partition, both, or neither before the checkpoint committed.
    // Exactly-once comes from batch-stamped partition OVERWRITE plus the
    // index read excluding the batch's own partition — so pre-seeding both
    // partitions with a crashed attempt's plausible leftovers (survivors in
    // out, their shingles in the index) must yield the SAME final state as
    // a clean run: no duplicates (old bug: replay re-emitted the batch when
    // the index write hadn't landed) and no self-match wipeout (rows
    // matching their own crashed shingles would all drop).
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-replay")
    val (idxDir, outDir, ckpt) = (s"$dir/index", s"$dir/out", s"$dir/ckpt")
    def doc(i: Long) = s"replay document body number $i with plenty of distinct words $i"
    val delta = (1L to 5L).map(i => (i, doc(i)))

    // simulate the crashed attempt: batch 0 fully wrote output + index,
    // then died before the checkpoint commit → the same data replays as
    // batch 0 against dirs that already hold its results
    import graft.functions.Dedup
    val crashed = delta.toDF("doc_id", "text")
    crashed.write.mode("overwrite").parquet(s"$outDir/batch=0")
    Dedup.shingleIndex(crashed, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$idxDir/batch=0")

    val mem = MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupIngest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idxDir, outDir, threshold = 0.7, checkpointDir = ckpt)
    try {
      mem.addData(delta: _*)
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.read.parquet(outDir).select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == (1L to 5L), s"replay must neither duplicate nor self-match-drop: $kept")
    assert(spark.read.parquet(idxDir).select("id").distinct().count() == 5L)
  }

  test("incrementalDedupIngest soak: no cache outlives its micro-batch") {
    // the face's survivors and the dedup operator's token frames belong to
    // one micro-batch: the cache footprint stays flat batch after batch
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-soak")
    def doc(i: Long) = s"soak document body number $i with plenty of distinct words $i"
    val cached = cacheFootprint
    val mem = MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupIngest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/index", s"$dir/out", threshold = 0.7,
      checkpointDir = s"$dir/ckpt")
    val rddsAtStart = persistentRdds
    try (0L until 12L).foreach { b =>
      val rddsBefore = persistentRdds
      // two novel docs, and a copy of the previous batch's first doc (of
      // doc 1, within the batch, for batch 0)
      mem.addData((3 * b + 1, doc(3 * b + 1)), (3 * b + 2, doc(3 * b + 2)),
        (3 * b + 3, doc(math.max(3 * b - 2, 1))))
      q.processAllAvailable()
      assert(cacheFootprint == cached, s"after batch $b${rddChanges(rddsBefore)}")
    } finally q.stop()
    assert(cacheFootprint == cached, s"after stop${rddChanges(rddsAtStart)}")
    val kept = spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == (1L to 36L).filter(_ % 3 != 0), kept.toString)
  }

  test("cdcCurrent: a changes dir that cannot be listed fails instead of reading as empty") {
    val snap = Seq((1L, "alice")).toDF("id", "name")
    intercept[java.io.IOException](
      Streams.cdcCurrent(snap, "nosuchfs:///x", Seq("id"), "seq", "op"))
  }

  test("cdcIngest: streamed merge equals the batch merge; crashed-batch replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-stream")
    val snap = Seq((1L, "alice"), (2L, "bob"), (3L, "carol")).toDF("id", "name")
    val d1 = Seq((2L, "bob2", 1L, "u"), (3L, "x", 2L, "D"))
    val d2 = Seq((3L, "carol3", 3L, "u"), (9L, "nina", 4L, "u"))

    // simulate a crashed batch-0 attempt that already landed its
    // compacted partition: the replay must overwrite it in place
    d1.toDF("id", "name", "seq", "op").write.mode("overwrite")
      .parquet(s"$dir/changes/batch=0")

    val mem = MemoryStream[(Long, String, Long, String)]
    val cached = cacheFootprint
    val q = Streams.cdcIngest(mem.toDF().toDF("id", "name", "seq", "op"),
      Seq("id"), "seq", "op", s"$dir/changes", s"$dir/ckpt")
    try {
      mem.addData(d1: _*); q.processAllAvailable()
      mem.addData(d2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")

    val cur = Streams.cdcCurrent(snap, s"$dir/changes", Seq("id"), "seq", "op")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    // batch equivalent over the concatenated feed
    val direct = graft.functions.Cdc.applyChanges(snap,
      (d1 ++ d2).toDF("id", "name", "seq", "op"), Seq("id"), "seq", "op")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(cur.toSeq == direct.toSeq)
    // 3 deleted at seq2 but re-upserted at seq3; 9 inserted; 2 updated
    assert(cur.toSeq == Seq((1L, "alice"), (2L, "bob2"), (3L, "carol3"), (9L, "nina")))
    // empty changes dir: cdcCurrent is the snapshot verbatim
    val none = Streams.cdcCurrent(snap, s"$dir/nochanges", Seq("id"), "seq", "op")
    assert(none.count() == 3)
  }
  test("incrementalEmbeddingDedupIngest: cross-batch and within-batch vector dedup") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-emb-ingest")
    // one-hot vectors: cosine is exactly 1 for copies, 0 otherwise
    def vec(i: Long): Array[Float] =
      Array.tabulate(16)(j => if (j == (i % 13).toInt) 1f else 0f)
    val mem = MemoryStream[(Long, Array[Float])]
    val cached = cacheFootprint
    val q = Streams.incrementalEmbeddingDedupIngest(
      mem.toDF().toDF("id", "emb"), "id", "emb",
      s"$dir/index", s"$dir/out", threshold = 0.95, checkpointDir = s"$dir/ckpt")
    try {
      // delta 1: 5 distinct vectors + an in-batch exact copy (6 dups 1)
      mem.addData((1L to 5L).map(i => (i, vec(i))) :+ ((6L, vec(1))): _*)
      q.processAllAvailable()
      // delta 2: 7 copies kept-doc 2 (dropped via the PERSISTED index),
      // 8 is novel, 9 copies 8 (within-batch, 8 wins)
      mem.addData((7L, vec(2)), (8L, vec(100)), (9L, vec(100)))
      q.processAllAvailable()
    } finally q.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    val kept = spark.read.parquet(s"$dir/out").select("id")
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L, 5L, 8L), s"kept $kept")
    // index carries exactly the kept vectors
    assert(spark.read.parquet(s"$dir/index").select("id")
      .as[Long].collect().sorted.toSeq == kept)
  }

  test("resampleIngest: merged totals equal the direct bucket build; restart-safe") {
    import spark.implicits._
    val MIN = 60000000L
    val dir = java.nio.file.Files.createTempDirectory("graft-rs-stream")
    // integer-cent values -> sum/min/max merges are exact long arithmetic
    val rows = (0 until 4000)
      .map(i => (s"u${i % 7}", new Timestamp((i * 9000L * MIN / 4000) / 1000), (i % 97).toLong))
      .toDF("uid", "ts", "cents")
    rows.filter(col("cents") % 2 === 0).write.parquet(s"$dir/src")
    val src = spark.readStream.schema(rows.schema).parquet(s"$dir/src")
    val cached = cacheFootprint
    def run() = Streams.resampleIngest(src, "ts", Seq("uid"), 60 * MIN,
      "cents", s"$dir/aggs", checkpointDir = s"$dir/ckpt")
    val q = run(); try q.processAllAvailable() finally q.stop()
    rows.filter(col("cents") % 2 =!= 0).write.mode("append").parquet(s"$dir/src")
    val q2 = run(); try q2.processAllAvailable() finally q2.stop()
    def totals() = Streams.resampleTotals(spark, s"$dir/aggs", Seq("uid"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val t1 = totals()
    // direct one-shot build over the union of both deltas
    val us = unix_micros(col("ts").cast("timestamp"))
    val direct = rows
      .withColumn("bucket", timestamp_micros((us - pmod(us, lit(60 * MIN))).cast("long")))
      .groupBy("uid", "bucket")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        min("cents").as("mn"), max("cents").as("mx"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(t1 === direct, "merged per-batch partials must equal the direct build")
    assert(new java.io.File(s"$dir/aggs").list().count(_.startsWith("batch=")) === 2)
    // restart on the same checkpoint with no new data: totals unchanged
    val q3 = run(); try q3.processAllAvailable() finally q3.stop()
    assert(cacheFootprint == cached, "the ingest must release every cache it created")
    assert(totals() === t1)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.Multimodal

  private def media(id: Long, seed: Int, n: Int): (Long, Array[Byte]) =
    (id, Array.tabulate(n)(i => ((i * seed + seed) % 251).toByte))

  test("extractFeatures: deterministic stub features, exact schema") {
    val df = Seq(media(1, 3, 500), media(2, 7, 300), media(1, 3, 500).copy(_1 = 3L))
      .toDF("media_id", "content")
    val feats = Multimodal.extractFeatures(df, dim = 8).collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(1L, 2L, 3L))
    assert(feats(0).features.length == 8)
    assert(feats(0).content_hash == feats(2).content_hash) // same bytes → same hash
    assert(feats(0).content_hash != feats(1).content_hash)
    assert(feats(0).features.toSeq == feats(2).features.toSeq)
  }

  test("exactPayloadGroups finds duplicate payloads") {
    val df = Seq(media(1, 3, 500), media(2, 7, 300), media(3, 3, 500))
      .toDF("media_id", "content")
    val dup = Multimodal.exactPayloadGroups(df).filter(col("dup_count") > 1).collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("keep_id") == 1L)
  }

  test("sampleFrames emits n frames per row with frame numbers") {
    val df = Seq(media(1, 3, 5000)).toDF("media_id", "content")
    val frames = Multimodal.sampleFrames(df, n = 4, frameBytes = 100).collect()
    assert(frames.length == 4)
    assert(frames.map(_.getAs[Int]("frame_no")).sorted.toSeq == Seq(0, 1, 2, 3))
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 100))
  }

}
