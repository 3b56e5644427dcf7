package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
import java.sql.Timestamp
import graft.Persisted
import graft.expressions.GraftFunctions
import graft.functions.{Dedup, Images, Similarity}

/**
 * Streaming operators over an event stream (schema compatible with the
 * `events` testdata table: ts, user_id, event_type, value). The reference
 * has no streaming surface (SURVEY.md §2.5 note) — these are the Spark-
 * native extensions a pipeline at this scale needs: the same transforms
 * work on `spark.read` (batch backfill) and `spark.readStream` (live), so
 * one definition serves both paths.
 *
 * Scale: windowed aggregation is shuffle-on-(window,key) with partial
 * aggregation; watermarks bound state; sessionization uses per-key state
 * with event-time timeout so state size tracks ACTIVE keys, not history.
 */
object Streams {

  /** Tumbling-window counts/sums per event type. Watermark bounds late data
    * and lets Spark drop window state once the watermark passes. Works on
    * batch and streaming frames alike. */
  def windowedStats(events: DataFrame, window: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  final case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
                           n_events: Long, total_value: Double)

  /** Session windows per user with `gapMs` inactivity timeout, emitted when
    * the session closes (state timeout on event-time + watermark). The
    * canonical mapGroupsWithState shape: per-key state is one running
    * session, so memory is O(active users). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming // captured as a plain boolean: the
    // state function must not close over the Dataset itself (its logical
    // plan does not serialize to executors)
    val src = if (streaming) events.withWatermark("ts", watermark) else events

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            val closed = List.newBuilder[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (streaming)
                state.setTimeoutTimestamp(s.last + gapMs)
            }
            // batch mode has no timeout pass: flush the open session now
            if (!streaming) {
              cur.foreach { s =>
                closed += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
              }
              state.remove()
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming dedup by key within the watermark horizon —
    * `dropDuplicates` backed by state store, the streaming face of
    * Dedup.exactGroups. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm.dropDuplicates(keyCols :+ "ts")
  }

  /** Streaming NEAR-duplicate drop at the signature level: a document whose
    * 64-bit SimHash (over distinct word shingles — Dedup.simhash, the same
    * deterministic Column the batch path bands) matches one already seen
    * inside the watermark horizon is dropped. This is the hamming-0 cut:
    * reorderings/reformattings with an identical shingle profile collapse,
    * while hamming ≤ k GROUPING remains the batch path's job
    * (Dedup.simhashPairs + connectedComponents) — k-neighborhood state
    * can't be keyed exactly in a single streaming operator without banding
    * state explosion. State: one signature key per horizon, expired by the
    * watermark; `dropDuplicatesWithinWatermark` keeps the store bounded at
    * 100 TB/day rates. */
  def nearDedupStream(docs: DataFrame, textCol: String, tsCol: String = "ts",
                      watermark: String = "1 hour"): DataFrame = {
    val sigCol = "__graft_sig__"
    val withSig = docs.withColumn(sigCol, graft.functions.Dedup.simhash(textCol))
    val deduped =
      if (docs.isStreaming)
        withSig.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(sigCol)
      else withSig.dropDuplicates(sigCol)
    deduped.drop(sigCol)
  }

  // ------------------------------------------------------- ingest faces
  /** The one harness behind every batch-stamped ingest face. A face names
    * its optional index (directory and schema) and a per-batch `step` that
    * turns (batch, prior index) into the survivors to land under
    * `outDir/batch=<id>` plus, for a face with an index, the rows to land
    * under `indexDir/batch=<id>`. Everything else lives here, once.
    *
    * foreachBatch (not a stateful operator) is the right harness: the
    * dedup state is the index itself — data-scale, columnar, shared with
    * the BATCH pipelines — not per-key state-store entries.
    *
    * Restart safety is EXACTLY-ONCE by idempotent re-execution, not by
    * append ordering: both writes land under the batch's own partition in
    * OVERWRITE mode, and the index read for batch N EXCLUDES partition N
    * (partition-pruned). A replayed micro-batch therefore sees exactly the
    * pre-N index regardless of how far the crashed attempt got — it
    * recomputes the same survivors (every step's tie-break is
    * deterministic) and overwrites both partitions in place. The naive
    * two-append design had a real duplicate window (crash after the output
    * append, before the index append ⇒ the replay re-emitted the batch);
    * batch-partitioned overwrite closes it without a commit-marker
    * sidecar. Readers of `outDir` see a `batch` partition column alongside
    * the survivor rows.
    *
    * Every frame a step or an operator under it persists through
    * [[graft.Persisted]] is released when the batch's writes end, so the
    * cache holds nothing between micro-batches. */
  private def ingest(rows: DataFrame, outDir: String, checkpointDir: String,
                     index: Option[(String, StructType)] = None)(
                     step: (DataFrame, DataFrame) => (DataFrame, Option[DataFrame])): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        GraftFunctions.register(spark)
        def write(df: DataFrame, dir: String): () => Unit =
          () => df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
        Persisted.scope {
          val prior = index.fold(spark.emptyDataFrame) { case (dir, schema) =>
            indexBefore(spark, dir, schema, batchId) }
          val (out, added) = step(batch, prior)
          concurrently(write(out, outDir) +:
            added.zip(index).map { case (df, (dir, _)) => write(df, dir) }.toSeq)
        }
      }
      .start()

  /** Run a batch's independent writes CONCURRENTLY (guide §2.6: a second
    * in-flight job's tasks back-fill executors freed by the first job's
    * straggler tail — each write is an AQE query of several small
    * sequential stages, so the queries interleave almost perfectly).
    * Ordering was never load-bearing: every write targets the batch's OWN
    * partition in overwrite mode and the index read excludes it, so a crash
    * between / during the writes replays identically. Every write is
    * awaited and the first error rethrows, so the micro-batch fails (and
    * replays) if ANY write fails. The pool is created inside the batch call
    * so its threads inherit the streaming thread's local properties (job
    * group: q.stop() cancellation and UI attribution keep working) and its
    * persist scope; shared cache partitions are computed once — the second
    * query's tasks block on the per-block write lock, then read. */
  private def concurrently(writes: Seq[() => Unit]): Unit =
    if (writes.size == 1) writes.head()
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
      try {
        val futures = writes.map(w =>
          pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = w() }))
        val errors = futures.flatMap { f => // await ALL: no write outlives the batch
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException => Some(e.getCause)
            case e: InterruptedException => Some(e)
          }
        }
        errors.headOption.foreach(t => throw t)
      } finally pool.shutdown()
    }

  /** A face's persisted index: every batch partition except `excludeBatch`
    * (a replayed batch must not see its own crashed attempt's rows, or
    * every row would self-match and be dropped), or an empty frame before
    * the first delta lands. The explicit schema (the index layout is the
    * face's own) saves a footer-inference job on every micro-batch. */
  private def indexBefore(spark: SparkSession, dir: String, schema: StructType,
                          excludeBatch: Long): DataFrame =
    if (hasBatchParquet(spark, dir))
      spark.read.schema(schema).parquet(dir)
        .filter(col("batch") =!= excludeBatch)
        .select(schema.fieldNames.toSeq.map(col): _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Whether `dir` holds a landed batch partition; a missing `dir` holds
    * none. A listing error is not "none": it propagates and fails the
    * micro-batch, which then replays — a batch deduped against an index
    * that failed to list would emit duplicates. */
  private def hasBatchParquet(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("batch=") &&
        fs.listStatus(st.getPath).exists(_.getPath.getName.endsWith(".parquet"))
    }
  }

  /** (id, toks): the hashed shingle arrays of [[Dedup.shingleIndex]]. */
  private val ShingleIndex = StructType(Seq(StructField("id", LongType),
    StructField("toks", ArrayType(LongType, containsNull = false))))
  /** (id, sig): one 64-bit signature per image or recording. */
  private val SigIndex = StructType(Seq(StructField("id", LongType), StructField("sig", LongType)))
  /** (id, fidx, sig): one pHash per sampled video frame. */
  private val FrameIndex = StructType(Seq(StructField("id", LongType),
    StructField("fidx", IntegerType), StructField("sig", LongType)))

  /** Streaming incremental near-dedup ingest — the production daily-delta
    * loop as ONE structured-streaming sink: every micro-batch is Jaccard-
    * deduped against the PERSISTED shingle index (and within itself, min
    * id winning), survivors land under `outDir` and their shingles in the
    * index, so the next delta — today's or next month's — sees everything
    * kept so far. Exactly the batch [[Dedup.dedupNearIncrementalIndexed]]
    * semantics, batch-vs-stream parity spec-pinned; the exactly-once
    * replay discipline is [[ingest]]'s. */
  def incrementalDedupIngest(docs: DataFrame, idCol: String, textCol: String,
                             indexDir: String, outDir: String,
                             threshold: Double, shingleSize: Int = 3,
                             maxDocFreq: Option[Long] = None,
                             checkpointDir: String): StreamingQuery =
    ingest(docs, outDir, checkpointDir, Some(indexDir -> ShingleIndex)) { (batch, index) =>
      textSurvivors(batch, index, idCol, textCol, threshold, shingleSize, maxDocFreq)
    }

  private def textSurvivors(batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
                            threshold: Double, shingleSize: Int,
                            maxDocFreq: Option[Long]): (DataFrame, Option[DataFrame]) = {
    val kept = Persisted.persist(Dedup.dedupNearIncrementalIndexed(batch, index, idCol, textCol,
      threshold, shingleSize, maxDocFreq))
    (kept, Some(Dedup.shingleIndex(kept, idCol, textCol, shingleSize)))
  }

  /** Streaming incremental DOCUMENT near-dedup ingest — document BYTES
    * (rtf/docx/pdf/... in a binary column) arrive as deltas, each
    * micro-batch extracts text through the fused `doc_text` expression
    * (auto-sniffing; unparseable payloads drop as rows, not failures) and
    * then runs the text face's step against the persisted shingle index.
    * Extraction canonicalizes across container formats, so a docx
    * re-render of an already-ingested rtf document deduplicates — the
    * cross-format property the gate pins. */
  def incrementalDocDedupIngest(docs: DataFrame, idCol: String, binCol: String,
                                indexDir: String, outDir: String,
                                threshold: Double, shingleSize: Int = 3,
                                maxDocFreq: Option[Long] = None,
                                checkpointDir: String): StreamingQuery =
    ingest(docs, outDir, checkpointDir, Some(indexDir -> ShingleIndex)) { (batch, index) =>
      val extracted = batch
        .withColumn("__text__", call_function("doc_text", col(binCol), lit("auto")))
        .filter(col("__text__").isNotNull)
        .drop(binCol)
      val (kept, added) = textSurvivors(extracted, index, idCol, "__text__",
        threshold, shingleSize, maxDocFreq)
      (kept.drop("__text__"), added)
    }

  /** Streaming incremental IMAGE near-dedup ingest — the multimodal face
    * of [[incrementalDedupIngest]]: every micro-batch's payloads get a
    * pHash signature (one codegen pass), the batch is banded-hamming
    * deduped against the PERSISTED signature index (and within itself,
    * min id winning — [[Images.sigDedupIncremental]]), survivors land
    * under `outDir/batch=<id>` and their (id, sig) rows under
    * `indexDir/batch=<id>`. Batch-vs-stream parity is spec-pinned over two
    * image deltas. */
  def incrementalImageDedupIngest(docs: DataFrame, idCol: String, binCol: String,
                                  indexDir: String, outDir: String,
                                  maxHamming: Int = 3,
                                  checkpointDir: String): StreamingQuery =
    ingest(docs, outDir, checkpointDir, Some(indexDir -> SigIndex)) { (batch, index) =>
      sigSurvivors(Images.perceptualHash(batch, binCol, "phash", "__sig__"),
        index, idCol, maxHamming)
    }

  /** Streaming incremental AUDIO near-dedup ingest: identical shape to
    * [[incrementalImageDedupIngest]] with the amplitude-invariant
    * energy-delta fingerprint as the signature (WAV or native FLAC
    * payloads — lossless, so the same recording collides across
    * containers). Hamming 0 is the right default for fingerprints (the
    * signature is already scale-invariant; near-misses are different
    * recordings). */
  def incrementalAudioDedupIngest(docs: DataFrame, idCol: String, binCol: String,
                                  indexDir: String, outDir: String,
                                  maxHamming: Int = 0,
                                  checkpointDir: String,
                                  fingerprint: String = "audio_fingerprint"): StreamingQuery =
    ingest(docs, outDir, checkpointDir, Some(indexDir -> SigIndex)) { (batch, index) =>
      sigSurvivors(batch.withColumn("__sig__", call_function(fingerprint, col(binCol))),
        index, idCol, maxHamming)
    }

  private def sigSurvivors(sigs: DataFrame, index: DataFrame, idCol: String,
                           maxHamming: Int): (DataFrame, Option[DataFrame]) = {
    val kept = Persisted.persist(
      Images.sigDedupIncremental(sigs, index, idCol, "__sig__", maxHamming))
    (kept.drop("__sig__"), Some(kept.filter(col("__sig__").isNotNull)
      .select(col(idCol).cast(LongType).as("id"), col("__sig__").cast(LongType).as("sig"))))
  }

  /** Streaming incremental VIDEO near-dedup ingest. Unlike image/audio, a
    * video's signature is MULTI-ROW (one pHash per sampled frame), so the
    * persisted index is (id, fidx, sig) and the match is the both-sides
    * distinct-frame VOTE of [[Images.videoDedupGroups]] — at least
    * `minMatches` distinct frames on each side within `maxHamming` bits —
    * against the index and within the batch (min id wins). Survivors land
    * under `outDir/batch=<id>`, their frame signatures under
    * `indexDir/batch=<id>`. */
  def incrementalVideoDedupIngest(docs: DataFrame, idCol: String, binCol: String,
                                  indexDir: String, outDir: String,
                                  maxHamming: Int = 3, maxFrames: Int = 8,
                                  minMatches: Int = 2,
                                  checkpointDir: String): StreamingQuery =
    ingest(docs, outDir, checkpointDir, Some(indexDir -> FrameIndex)) { (batch, index) =>
      val sigs = Persisted.persist(Images.videoFrameSigs(batch, idCol, binCol, maxFrames))
      val kept = Persisted.persist(Images.videoDedupIncrementalFromSigs(
        batch, sigs, index, idCol, maxHamming, minMatches))
      (kept, Some(sigs.join(kept.select(col(idCol).cast(LongType).as("id")),
        Seq("id"), "left_semi")))
    }

  /** Streaming incremental EMBEDDING near-dedup ingest, completing the
    * modality matrix (text shingles, image pHash, audio fingerprints,
    * document bytes, video frames, and vectors): every micro-batch
    * cosine-dedups against the PERSISTED (id, vec) index via
    * [[Similarity.embeddingDedupIncremental]] (multi-table LSH bucket
    * equi-joins, exact cosine verify — never all-pairs), survivors land
    * under `outDir/batch=<id>` and their vectors under
    * `indexDir/batch=<id>`. The index's `vec` type is the stream's. */
  def incrementalEmbeddingDedupIngest(docs: DataFrame, idCol: String, vecCol: String,
                                      indexDir: String, outDir: String,
                                      threshold: Double = 0.9,
                                      checkpointDir: String): StreamingQuery = {
    val vecIndex = StructType(Seq(StructField("id", LongType),
      StructField("vec", docs.schema(vecCol).dataType)))
    ingest(docs, outDir, checkpointDir, Some(indexDir -> vecIndex)) { (batch, index) =>
      val kept = Persisted.persist(
        Similarity.embeddingDedupIncremental(batch, index, idCol, vecCol, threshold))
      (kept, Some(kept.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"))))
    }
  }

  /** Streaming distinct-count ingest — the sketch face of the incremental
    * tier: every micro-batch collapses its rows to per-group HyperLogLog
    * sketches (a few hundred bytes per group) written to
    * `sketchDir/batch=<id>`. For counters a merge-in-place replay would be
    * harmless (register max is idempotent), but the overwrite keeps ONE
    * uniform replay story across every ingest face. Running totals come
    * from [[sketchDistinctTotals]]: hll_merge across ALL batch partitions —
    * associativity means the answer equals a direct build over the union
    * of every delta, which is exactly what the gate pins. */
  def sketchDistinctIngest(rows: DataFrame, groupCols: Seq[String], keyCol: String,
                           precision: Int, sketchDir: String,
                           checkpointDir: String): StreamingQuery =
    ingest(rows, sketchDir, checkpointDir) { (batch, _) =>
      (batch.groupBy(groupCols.map(col): _*)
        .agg(call_function("hll_sketch", col(keyCol), lit(precision)).as("sketch")), None)
    }

  /** Merged running totals over every delta the ingest has landed. */
  def sketchDistinctTotals(spark: SparkSession, sketchDir: String,
                           groupCols: Seq[String],
                           estimateCol: String = "approx_distinct"): DataFrame =
    graft.functions.Sketches.mergeDistinct(
      spark.read.parquet(sketchDir), groupCols, "sketch", estimateCol)

  /** Streaming resample ingest: live events collapse per micro-batch to
    * partial (keys, bucket) aggregates over the mergeable family (count /
    * sum / min / max — avg derives as sum/count), written to
    * `aggDir/batch=<id>`. Totals ([[resampleTotals]]) re-aggregate across
    * ALL batch partitions: sum-of-counts/sums, min-of-mins, max-of-maxes —
    * associative, so the totals equal a direct build over the union of
    * every delta no matter how the stream was micro-batched. The value
    * column is summed IN ITS OWN TYPE: feed integer units (cents, micros)
    * and the merge is exact integer arithmetic — the same fixed-point
    * discipline as pagerank — which is what the gate pins (bit-equal to
    * the one-shot SQL build). Per-batch cost ∝ the batch (one
    * map-side-combinable aggregation + one partition write); nothing
    * rewrites history. */
  def resampleIngest(events: DataFrame, timeCol: String, keys: Seq[String],
                     intervalUs: Long, valueCol: String, aggDir: String,
                     checkpointDir: String): StreamingQuery =
    ingest(events, aggDir, checkpointDir) { (batch, _) =>
      val us = unix_micros(col(timeCol).cast("timestamp"))
      (batch
        .withColumn("bucket",
          timestamp_micros((us - pmod(us, lit(intervalUs))).cast("long")))
        .groupBy((keys.map(col) :+ col("bucket")): _*)
        .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("s"),
          min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx")), None)
    }

  /** Merged running resample totals over every delta the ingest landed. */
  def resampleTotals(spark: SparkSession, aggDir: String,
                     keys: Seq[String]): DataFrame =
    spark.read.parquet(aggDir)
      .groupBy((keys.map(col) :+ col("bucket")): _*)
      .agg(sum("n").as("n"), sum("s").as("s"), min("mn").as("mn"), max("mx").as("mx"))

  /** Streaming CDC ingest: an (op, seq)-stamped change feed arrives as
    * micro-batches; each batch is compacted to its latest change per key
    * (tombstones retained) and lands under a batch-stamped partition of
    * `changesDir` (a replayed batch recomputes the identical compaction and
    * overwrites in place; no cross-batch read exists to race).
    *
    * Deliberately NOT "merge into the snapshot every batch": rewriting a
    * 100 TB snapshot per micro-batch is the scale-killer this design
    * avoids. Per-batch cost is ∝ the batch (one map-side-combinable
    * aggregation + one partition write); the current table materializes
    * on demand via [[cdcCurrent]] (one agg + one co-partitioned join over
    * snapshot ∪ changesets — `Cdc.applyChanges` exactly, and compacted
    * changesets merge identically because max-of-maxes = global max).
    * Periodic compaction = `cdcCurrent(...).write` as a new base +
    * truncate `changesDir`, amortized however the operator chooses. */
  def cdcIngest(changes: DataFrame, keys: Seq[String], seqCol: String, opCol: String,
                changesDir: String,
                checkpointDir: String): StreamingQuery =
    ingest(changes, changesDir, checkpointDir) { (batch, _) =>
      (graft.functions.Cdc.latestChanges(batch, keys, seqCol, opCol), None)
    }

  /** The current table: snapshot with every ingested changeset applied
    * (latest seq wins across batches; deletes drop; inserts appear). */
  def cdcCurrent(snapshot: DataFrame, changesDir: String, keys: Seq[String],
                 seqCol: String, opCol: String,
                 deleteValues: Seq[String] = Seq("d", "delete")): DataFrame = {
    val spark = snapshot.sparkSession
    if (!hasBatchParquet(spark, changesDir)) snapshot
    else graft.functions.Cdc.applyChanges(snapshot,
      spark.read.parquet(changesDir).drop("batch"), keys, seqCol, opCol, deleteValues)
  }
}
