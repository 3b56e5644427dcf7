package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Persisted

/**
 * Deduplication operators for training-data pipelines, in increasing
 * fuzziness: exact (hash groupBy), n-gram Jaccard (inverted-index join),
 * MinHash+LSH (banded candidate generation), SimHash (bit-signature), and
 * embedding-cosine near-dup (see Similarity).
 *
 * Scale design: nothing here is O(n²) on the full corpus. Jaccard joins
 * through an inverted index (token → doc) so cost follows the posting-list
 * sizes; MinHash/LSH shuffles once on band keys; SimHash is a single narrow
 * pass + band join. Skew guards: `maxDocFreq` drops stop-tokens whose
 * posting lists would explode the join.
 */
object Dedup {

  /** Strategy taken by the most recent [[connectedComponents]] call in
    * this JVM ("broadcast" | "hashmin") — bench/spec observability only. */
  @volatile var lastCcPath: String = ""

  /** Strategy taken by the most recent incremental-jaccard call in this
    * JVM ("fused" | "narrow") — bench/spec observability only. */
  @volatile var lastIncrPath: String = ""

  /** Exact duplicate groups: one row per distinct text hash with the
    * representative (minimum) id and the duplicate count
    * (hash-groupBy — the map-side partial aggregation makes this one
    * cheap shuffle of (hash → count) pairs, not of documents). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct word tokens per document. */
  private def tokens(textCol: String): Column =
    array_distinct(filter(split(lower(col(textCol)), " +"), w => length(w) > 0))

  /** Distinct n-word shingles per document (the standard near-dup feature —
    * word tokens alone are useless on a small vocabulary since every document
    * shares them). Documents shorter than n words contribute one whole-text
    * shingle so they are never silently dropped. */
  private[functions] def shingles(textCol: String, n: Int = 3): Column = {
    val ws = filter(split(lower(col(textCol)), " +"), w => length(w) > 0)
    val grams = transform(sequence(lit(0), size(ws) - n),
      i => concat_ws(" ", slice(ws, i + 1, lit(n))))
    array_distinct(when(size(ws) >= n, grams).otherwise(array(concat_ws(" ", ws))))
  }

  /** Near-duplicate pairs by word-level Jaccard similarity ≥ `threshold`.
    *
    * Shape (exact, from the set-similarity-join literature — no recall
    * loss): inverted index over each document's PREFIX only, self-join on
    * prefix tokens for candidates, then verify candidates with the full
    * token-set intersection.
    *
    * Prefix-filtering principle (ppjoin): order every document's tokens by
    * one global total order (the 64-bit token hash); if J(A,B) ≥ t then
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and two sets with overlap ≥ α must share a
    * token within their (size − α + 1)-prefixes — so indexing only the
    * first |d| − ⌈t·|d|⌉ + 1 tokens per document (≈30% at t=0.7) finds
    * every qualifying pair while the co-occurrence join shrinks to ~10% of
    * its full-index events. The length filter (min ≥ t·max) additionally
    * prunes inside the join.
    *
    * `maxDocFreq` (optional) drops tokens appearing in more than that many
    * documents — the classic stop-token/skew guard that keeps posting lists
    * bounded at corpus scale. The cap restricts the INTERSECTION (capped
    * token sets) while the union size keeps the uncapped counts — mirrored
    * exactly by the oracle. The prefix lemma still holds: the capped-set
    * similarity only exceeds the reported one, so prefixes of the capped
    * sets must collide for any reported pair.
    */
  /** (id, 64-bit hashed distinct shingles) per document — the tight
    * mapPartitions shingle kernel shared by the full and incremental
    * jaccard joins: measured 10×+ faster than the interpreted HOF
    * expression (transform/slice/concat_ws is per-element lambda
    * interpretation), and the frames hold long arrays, not the ~50-byte
    * strings. Hashing moves the join/shuffle onto longs; collisions at 64
    * bits are negligible and would only merge two shingles within the same
    * pair. */
  private def hashedShingleDocs(df: DataFrame, idCol: String, textCol: String,
                                shingleSize: Int): DataFrame = {
    // codegen'd shingle_hashes expression: fuses into the scan projection
    // (no Dataset-encoder boundary — measured faster than the former
    // mapPartitions kernel, see PLANS.md round 10); coalesce mirrors the
    // kernel's null→"" so a null document still yields its whole-text
    // shingle instead of a null row
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).cast(LongType).as("id"), col(textCol).cast("string").as("__t__"))
      .selectExpr("id", s"shingle_hashes(coalesce(__t__, ''), $shingleSize) AS toks")
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleSize: Int = 3,
                   maxDocFreq: Option[Long] = None): DataFrame = {
    val docs = hashedShingleDocs(df, idCol, textCol, shingleSize)
    val posting0 = docs.select(col("id"), size(col("toks")).as("n"), explode(col("toks")).as("tok"))
    val posting = maxDocFreq match {
      case Some(cap) =>
        // Broadcast the STOP list (df > cap), never the kept vocabulary:
        // over-cap tokens number at most total-postings/cap (the head of
        // the frequency distribution), so the broadcast stays bounded as
        // the corpus grows. Broadcasting the under-cap side instead
        // collects O(distinct tokens) ≈ O(corpus) rows to the driver —
        // measured >1 GiB at 5M docs (driver result-size abort).
        val stop = posting0.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("tok")
        posting0.join(broadcast(stop), Seq("tok"), "left_anti")
          .select("id", "n", "tok")
      case None => posting0
    }
    // One groupBy rebuilds the per-doc CAPPED token array in global (hash)
    // order, carrying the uncapped count n for the union denominator.
    // persist: feeds the prefix index AND both sides of the verify join;
    // released by the caller's Persisted scope
    val docsKept = Persisted.persist(posting.groupBy("id")
      .agg(sort_array(collect_list(col("tok"))).as("ktoks"), max(col("n")).as("n")))
    val prefix = docsKept.select(col("id"), col("n"),
        explode(slice(col("ktoks"), lit(1),
          greatest(size(col("ktoks")) - ceil(lit(threshold) * size(col("ktoks"))).cast("int") + 1,
            lit(1)))).as("tok"))
    val a = prefix.toDF("a_id", "a_n", "tok")
    val b = prefix.toDF("b_id", "b_n", "tok")
    // Length filter (exact): J ≥ t ⇒ |A∩B| ≥ t·max(|A|,|B|) and
    // |A∩B| ≤ min(|A|,|B|), so min ≥ t·max — prunes pair events BEFORE the
    // candidate shuffle.
    val candidates = a.join(b, Seq("tok"))
      .filter(col("a_id") < col("b_id") &&
        least(col("a_n"), col("b_n")).cast("double") >=
          lit(threshold) * greatest(col("a_n"), col("b_n")))
      .select("a_id", "b_id").distinct()
    // Exact verify: full (capped) token-set intersection per candidate pair;
    // union size = uncapped |A|+|B| − |A∩B| — identical to the previous
    // full-index computation and to the oracle.
    candidates
      .join(docsKept.select(col("id").as("a_id"), col("ktoks").as("a_toks"), col("n").as("a_n")), "a_id")
      .join(docsKept.select(col("id").as("b_id"), col("ktoks").as("b_toks"), col("n").as("b_n")), "b_id")
      .withColumn("n_common", size(array_intersect(col("a_toks"), col("b_toks"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("a_n") + col("b_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-corpus SIMILARITY JOIN — the record-linkage / fuzzy-join face
    * of the dedup machinery: match every `left` row to the `right` rows
    * whose text Jaccard (word shingles) meets `threshold`, returning
    * (left_id, right_id, jaccard). Same scale discipline as
    * [[jaccardPairs]]: prefix + length filters prune candidate pair
    * events BEFORE the equi-join shuffle, document frequency for
    * `maxDocFreq` is computed over the UNION of both frames (the stop
    * set must reflect the whole collection), and the exact verify runs
    * only on surviving candidates — never a cross join. Ids need only be
    * unique within their own frame (sides never mix). */
  def similarityJoin(left: DataFrame, right: DataFrame,
                     leftId: String, leftText: String,
                     rightId: String, rightText: String,
                     threshold: Double, shingleSize: Int = 3,
                     maxDocFreq: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"similarity_join: threshold in (0,1], got $threshold")
    val l = hashedShingleDocs(left.select(col(leftId).as("__sid__"), col(leftText).as("__st__")),
      "__sid__", "__st__", shingleSize)
    val r = hashedShingleDocs(right.select(col(rightId).as("__sid__"), col(rightText).as("__st__")),
      "__sid__", "__st__", shingleSize)
    val post0 = l.select(lit(0).as("side"), col("id"), size(col("toks")).as("n"),
        explode(col("toks")).as("tok"))
      .unionAll(r.select(lit(1).as("side"), col("id"), size(col("toks")).as("n"),
        explode(col("toks")).as("tok")))
    val posting = maxDocFreq match {
      case Some(cap) =>
        val stop = post0.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("tok")
        post0.join(broadcast(stop), Seq("tok"), "left_anti")
          .select("side", "id", "n", "tok")
      case None => post0
    }
    // persist: feeds the prefix index AND both sides of the verify join
    // (the jaccardPairs lifecycle — released by the caller's Persisted scope)
    val docsKept = Persisted.persist(posting.groupBy("side", "id")
      .agg(sort_array(collect_list(col("tok"))).as("ktoks"), max(col("n")).as("n")))
    val prefix = docsKept.select(col("side"), col("id"), col("n"),
        explode(slice(col("ktoks"), lit(1),
          greatest(size(col("ktoks")) - ceil(lit(threshold) * size(col("ktoks"))).cast("int") + 1,
            lit(1)))).as("tok"))
    val a = prefix.filter(col("side") === 0).select(col("id").as("a_id"), col("n").as("a_n"), col("tok"))
    val b = prefix.filter(col("side") === 1).select(col("id").as("b_id"), col("n").as("b_n"), col("tok"))
    val candidates = a.join(b, Seq("tok"))
      .filter(least(col("a_n"), col("b_n")).cast("double") >=
        lit(threshold) * greatest(col("a_n"), col("b_n")))
      .select("a_id", "b_id").distinct()
    candidates
      .join(docsKept.filter(col("side") === 0)
        .select(col("id").as("a_id"), col("ktoks").as("a_toks"), col("n").as("a_n")), "a_id")
      .join(docsKept.filter(col("side") === 1)
        .select(col("id").as("b_id"), col("ktoks").as("b_toks"), col("n").as("b_n")), "b_id")
      .withColumn("n_common", size(array_intersect(col("a_toks"), col("b_toks"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("a_n") + col("b_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id").as("left_id"), col("b_id").as("right_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Near-duplicate pairs of a NEW batch against (corpus ∪ batch) — the
    * daily-ingest shape: at 100 TB you never re-pair the whole corpus
    * against itself; you pair the delta against everything. Same exact
    * prefix-filter join as [[jaccardPairs]], but the candidate join's probe
    * side is restricted to batch prefixes, so cost follows
    * |batch| × posting-list overlap, not |corpus|². Document frequency for
    * `maxDocFreq` is computed over the UNION (the stop-token set must
    * reflect the whole collection, matching what a full-corpus run would
    * use).
    *
    * Output pairs always have a batch doc on the `a_id` side; `b_is_new`
    * tells batch-batch (emitted once, `a_id < b_id`) from batch-corpus
    * (emitted once, any id order). Ids must be unique across the union. */
  def jaccardPairsIncremental(batch: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double, shingleSize: Int = 3,
                              maxDocFreq: Option[Long] = None): DataFrame =
    jaccardPairsIncrementalCore(
      hashedShingleDocs(batch, idCol, textCol, shingleSize),
      hashedShingleDocs(corpus, idCol, textCol, shingleSize),
      threshold, maxDocFreq)

  /** Persistable shingle index: (id, toks) — the corpus's hashed shingle
    * arrays. At 100 TB write this ONCE per corpus (`partitionBy` or
    * bucketed parquet) and hand it to the `Indexed` variants: every delta
    * run then skips re-shingling the collection — the linear term that
    * dominated the probe's text-path incremental leg. ~8 bytes per distinct
    * shingle. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3): DataFrame =
    hashedShingleDocs(df, idCol, textCol, shingleSize)

  /** [[jaccardPairsIncremental]] against a precomputed [[shingleIndex]]
    * (columns `id`, `toks`) instead of corpus text — identical output. */
  def jaccardPairsIncrementalIndexed(batch: DataFrame, corpusIndex: DataFrame,
                                     idCol: String, textCol: String,
                                     threshold: Double, shingleSize: Int = 3,
                                     maxDocFreq: Option[Long] = None): DataFrame =
    jaccardPairsIncrementalCore(
      hashedShingleDocs(batch, idCol, textCol, shingleSize),
      corpusIndex.select(col("id").cast(LongType).as("id"), col("toks")),
      threshold, maxDocFreq)

  /** Broadcast cutoff for the DELTA's prefix index (rows). Under it, the
    * candidate join and the verify lookups PROBE the corpus scan with
    * broadcast delta-derived frames and nothing corpus-sized ever moves —
    * the daily-ingest regime by construction. Over it, fall back to the
    * planner's shuffled joins (correct at any size). ~24 bytes/row framed
    * ⇒ ≈100 MB built at the cutoff. */
  private val BroadcastPrefixThreshold = 4000000L

  private def jaccardPairsIncrementalCore(batchDocs: DataFrame, corpusDocs: DataFrame,
                                          threshold: Double,
                                          maxDocFreq: Option[Long]): DataFrame = {
    // Two result-identical strategies, chosen by the CORPUS side's planner
    // size estimate (free — no extra action; for the indexed arm this is
    // the parquet index's file size). The FUSED single-query shape wins
    // when the index is small OR already cached in executor memory: its
    // corpus-sized exchanges are then cheap and everything plans as one
    // AQE query, while the narrow path pays 2-3 extra driver actions
    // (stop-set collect, probe count, broadcast builds) plus two corpus
    // passes — measured +20-40% on the sf0.1 gates and +50% on a 5M-doc
    // MEMORY-cached index. The NARROW shape wins once the index comes off
    // STORAGE and keeps winning by the index/delta ratio: the fused path
    // re-shuffles and re-caches the ENTIRE index once per delta (O(index)
    // per batch — 5M-doc disk-index probe leg: 140.1 s fused vs 86.6 s
    // narrow; text-arm 234.1 vs 117.7 s), the narrow path only scans it.
    // Crossover default 64 MB: the 500k-doc text-arm leg (84 MB source)
    // already ran 22.0 s narrow vs 33.9 s fused, while at gate scale
    // (sub-10 MB estimates) fused wins on fixed costs by 20-40%.
    // spark.graft.dedup.narrowIndexBytes overrides the crossover (bytes;
    // 0 forces narrow — the equality spec pins the two paths identical).
    val spark = batchDocs.sparkSession
    val crossover = BigInt(spark.conf.get(
      "spark.graft.dedup.narrowIndexBytes", (64L << 20).toString).toLong)
    // Probe on withCachedData (analysis — already done at Dataset creation —
    // plus cache substitution), NOT optimizedPlan: running the Catalyst
    // optimizer over the corpus subplan here cost ~0.1s of driver time PER
    // CALL, paid once per q_dedup_incremental run and once per micro-batch
    // in every ingest face (VERDICT r21 regression #5). The size estimate
    // is the same relation-level sizeInBytes either way for the
    // parquet-index and cached shapes this crossover discriminates.
    val corpusPlan = corpusDocs.queryExecution.withCachedData
    val corpusCached = corpusPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])
    if (crossover == 0 || (!corpusCached && corpusPlan.stats.sizeInBytes >= crossover))
      jaccardPairsIncrementalNarrow(batchDocs, corpusDocs, threshold, maxDocFreq)
    else
      jaccardPairsIncrementalFused(batchDocs, corpusDocs, threshold, maxDocFreq)
  }

  /** Fused small-index strategy: one AQE query; the union is exploded,
    * stop-filtered via a broadcast anti-join, regrouped to per-doc sorted
    * token arrays and CACHED — two corpus-sized exchanges + a cache build
    * per delta, all of it cheap while the index is small. */
  private def jaccardPairsIncrementalFused(batchDocs: DataFrame, corpusDocs: DataFrame,
                                           threshold: Double,
                                           maxDocFreq: Option[Long]): DataFrame = {
    val docs = batchDocs.withColumn("is_new", lit(true))
      .unionByName(corpusDocs.withColumn("is_new", lit(false)))
    val posting0 = docs.select(col("id"), size(col("toks")).as("n"),
      col("is_new"), explode(col("toks")).as("tok"))
    val posting = maxDocFreq match {
      case Some(cap) =>
        val stop = posting0.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("tok")
        posting0.join(broadcast(stop), Seq("tok"), "left_anti")
          .select("id", "n", "is_new", "tok")
      case None => posting0
    }
    val docsKept = Persisted.persist(posting.groupBy("id")
      .agg(sort_array(collect_list(col("tok"))).as("ktoks"), max(col("n")).as("n"),
        first(col("is_new")).as("is_new")))
    val prefix = docsKept.select(col("id"), col("n"), col("is_new"),
      explode(slice(col("ktoks"), lit(1),
        greatest(size(col("ktoks")) - ceil(lit(threshold) * size(col("ktoks"))).cast("int") + 1,
          lit(1)))).as("tok"))
    // probe side = batch prefixes only; build side = everything
    val a = prefix.filter(col("is_new")).select(col("id").as("a_id"), col("n").as("a_n"), col("tok"))
    val b = prefix.select(col("id").as("b_id"), col("n").as("b_n"), col("is_new").as("b_is_new"), col("tok"))
    // batch-batch pairs arrive from both directions → keep a_id < b_id;
    // batch-corpus pairs arrive once (corpus never probes) → keep all.
    // Length filter exactly as in jaccardPairs, BEFORE the distinct shuffle.
    val candidates = a.join(b, Seq("tok"))
      .filter((col("a_id") =!= col("b_id")) &&
        (!col("b_is_new") || col("a_id") < col("b_id")) &&
        least(col("a_n"), col("b_n")).cast("double") >=
          lit(threshold) * greatest(col("a_n"), col("b_n")))
      .select("a_id", "b_id", "b_is_new").distinct()
    candidates
      .join(docsKept.select(col("id").as("a_id"), col("ktoks").as("a_toks"), col("n").as("a_n")), "a_id")
      .join(docsKept.select(col("id").as("b_id"), col("ktoks").as("b_toks"), col("n").as("b_n")), "b_id")
      .withColumn("n_common", size(array_intersect(col("a_toks"), col("b_toks"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("a_n") + col("b_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("b_is_new"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Narrow large-index strategy (guide §2.3/§2.4 — the delta decides, the
    * corpus never moves): the fused pipeline re-shuffles AND re-caches the
    * entire corpus index once per delta, so its per-batch cost is O(index),
    * not O(delta). But the per-doc kept-token array is recomputable
    * NARROWLY: `toks` is already the per-doc token array, so dropping the
    * (bounded, broadcast) stop set and sorting in place yields the
    * identical sorted multiset the groupBy produced — here the corpus side
    * is only ever SCANNED (once for the prefix index, once for the verify
    * lookup), never shuffled, never cached. The one remaining O(index)
    * step per delta is the stop set's df count — a map-side-combinable
    * (tok, count) aggregation that shuffles partial counts, not postings,
    * and only runs when maxDocFreq is set. Its result is bounded by
    * total-postings/cap — the same bound the fused path's broadcast
    * anti-join relation had; it is collected (sorted, for binary search)
    * instead of joined so the kept-token pass stays narrow. */
  private def jaccardPairsIncrementalNarrow(batchDocs: DataFrame, corpusDocs: DataFrame,
                                            threshold: Double,
                                            maxDocFreq: Option[Long]): DataFrame = {
    val spark = batchDocs.sparkSession
    import spark.implicits._
    val stopArr: Array[Long] = maxDocFreq match {
      case Some(cap) =>
        batchDocs.select(col("toks")).unionAll(corpusDocs.select(col("toks")))
          .select(explode(col("toks")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select(col("tok")).as[Long]
          .collect().sorted
      case None => Array.emptyLongArray
    }
    val stopBc = spark.sparkContext.broadcast(stopArr)
    // (id, ktoks = sorted non-stop tokens, n = UNCAPPED count, is_new) —
    // row-identical to the former groupBy output (docs whose tokens are
    // all stopped now surface with EMPTY ktoks instead of vanishing; they
    // generate no prefix rows, so they can never become candidates and
    // the pair set is unchanged)
    def kept(df: DataFrame, isNew: Boolean): DataFrame =
      df.select(col("id"), col("toks")).as[(Long, Array[Long])]
        .mapPartitions { it =>
          val stop = stopBc.value
          it.map { case (id, toks) =>
            val ks =
              if (stop.length == 0) toks.clone()
              else toks.filter(t => java.util.Arrays.binarySearch(stop, t) < 0)
            java.util.Arrays.sort(ks)
            (id, ks, toks.length, isNew)
          }
        }.toDF("id", "ktoks", "n", "is_new")
    // batch side: small by the daily-delta contract — cache it (it feeds
    // the probe count, the prefix index and the verify lookup); corpus
    // side: recomputed narrowly per pass, never cached
    val batchKept = Persisted.persist(kept(batchDocs, isNew = true))
    val allKept = batchKept.unionByName(kept(corpusDocs, isNew = false))
    def prefixOf(df: DataFrame): DataFrame =
      df.select(col("id"), col("n"), col("is_new"),
        explode(slice(col("ktoks"), lit(1),
          greatest(size(col("ktoks")) - ceil(lit(threshold) * size(col("ktoks"))).cast("int") + 1,
            lit(1)))).as("tok"))
    // probe side = batch prefixes only; build side = everything
    val a = prefixOf(batchKept).select(col("id").as("a_id"), col("n").as("a_n"), col("tok"))
    val b = prefixOf(allKept).select(col("id").as("b_id"), col("n").as("b_n"),
      col("is_new").as("b_is_new"), col("tok"))
    // probe-then-choose (the connectedComponents discipline): one cheap
    // count over the cached batch side picks the join strategy
    val broadcastDelta = a.count() <= BroadcastPrefixThreshold
    // batch-batch pairs arrive from both directions → keep a_id < b_id;
    // batch-corpus pairs arrive once (corpus never probes) → keep all.
    // Length filter exactly as in jaccardPairs, BEFORE the distinct shuffle.
    val candidates = (if (broadcastDelta) b.join(broadcast(a), Seq("tok"))
                      else a.join(b, Seq("tok")))
      .filter((col("a_id") =!= col("b_id")) &&
        (!col("b_is_new") || col("a_id") < col("b_id")) &&
        least(col("a_n"), col("b_n")).cast("double") >=
          lit(threshold) * greatest(col("a_n"), col("b_n")))
      .select("a_id", "b_id", "b_is_new").distinct()
    val aLook = batchKept.select(col("id").as("a_id"), col("ktoks").as("a_toks"), col("n").as("a_n"))
    val bLook = allKept.select(col("id").as("b_id"), col("ktoks").as("b_toks"), col("n").as("b_n"))
    // exact verify, same arithmetic as before; in the broadcast regime the
    // (delta-bounded) candidate list probes the corpus scan and the result
    // probes the cached batch side — zero corpus-sized exchanges
    val attached =
      if (broadcastDelta)
        aLook.join(broadcast(bLook.join(broadcast(candidates), Seq("b_id"))), Seq("a_id"))
      else candidates.join(aLook, "a_id").join(bLook, "b_id")
    attached
      .withColumn("n_common", size(array_intersect(col("a_toks"), col("b_toks"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("a_n") + col("b_n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("b_is_new"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental near-dedup keep set: the batch rows that survive against an
    * existing corpus. A batch doc is dropped when it near-matches ANY corpus
    * doc (the corpus is already canonical) or an earlier (smaller-id) batch
    * doc — the deterministic first-writer-wins rule, which on a duplicate
    * chain keeps exactly the smallest id, same representative the CC-based
    * [[graft.engine.Engine]] dedup_near elects. One pass over the delta;
    * the corpus contributes posting lists, never pairs among itself. */
  def dedupNearIncremental(batch: DataFrame, corpus: DataFrame,
                           idCol: String, textCol: String,
                           threshold: Double, shingleSize: Int = 3,
                           maxDocFreq: Option[Long] = None): DataFrame =
    keepFromIncrementalPairs(batch, idCol,
      jaccardPairsIncremental(batch, corpus, idCol, textCol,
        threshold, shingleSize, maxDocFreq))

  /** [[dedupNearIncremental]] against a precomputed [[shingleIndex]] —
    * the production daily-ingest shape: corpus shingled once, deltas only. */
  def dedupNearIncrementalIndexed(batch: DataFrame, corpusIndex: DataFrame,
                                  idCol: String, textCol: String,
                                  threshold: Double, shingleSize: Int = 3,
                                  maxDocFreq: Option[Long] = None): DataFrame =
    keepFromIncrementalPairs(batch, idCol,
      jaccardPairsIncrementalIndexed(batch, corpusIndex, idCol, textCol,
        threshold, shingleSize, maxDocFreq))

  private def keepFromIncrementalPairs(batch: DataFrame, idCol: String,
                                       pairs: DataFrame): DataFrame = {
    // pair (a=batch, b=batch, a<b) condemns b; pair (a=batch, b=corpus)
    // condemns a
    val dropIds = pairs.filter(col("b_is_new")).select(col("b_id").as("drop_id"))
      .union(pairs.filter(!col("b_is_new")).select(col("a_id").as("drop_id")))
      .distinct()
    batch.join(dropIds, col(idCol).cast(LongType) === col("drop_id"), "left_anti")
  }

  // ------------------------------------------------- signature kernels
  // Signature computation is linear per-document work, but higher-order-
  // function expressions pay interpreted-lambda overhead per (token × hash):
  // at 64 hashes that is ~50× slower than a tight JVM loop. The pairs
  // functions therefore build signatures in a mapPartitions kernel; the
  // Column variants below remain the public expression API.

  /** Scala mirror of `shingles` (same tokenization, same first-occurrence
    * distinct order). */
  private[functions] def shinglesScala(text: String, n: Int): Array[String] = {
    val ws = text.toLowerCase.split(" +").filter(_.nonEmpty)
    val grams =
      if (ws.length >= n) Array.tabulate(ws.length - n + 1)(i => ws.slice(i, i + n).mkString(" "))
      else Array(ws.mkString(" "))
    val seen = new java.util.LinkedHashSet[String]()
    grams.foreach(seen.add)
    seen.toArray(Array.empty[String])
  }

  /** FNV-1a 64-bit over UTF-8 + splitmix64 finalizer — deterministic,
    * dependency-free, well-mixed for LSH. */
  private[functions] def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  private[graft] def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Kernel: (id, 64-bit-hashed distinct shingles, minhash signature) per
    * document. Shingles fold to longs BEFORE leaving the kernel — the
    * persisted frame and the verify join carry ~8 bytes per shingle, not
    * the ~50-byte strings (measured: string-token caching OOM'd a 16 GiB
    * heap at 5M docs where the hashed frame runs in 4 GiB; same
    * negligible-collision trade as jaccardPairs). */
  private[graft] def docSignatures(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int, shingleSize: Int): DataFrame = {
    // codegen'd doc_signature struct expression: toks + sig in ONE
    // tokenization pass, fused into the scan projection (the former
    // mapPartitions kernel paid an UnsafeRow → tuple → UnsafeRow encoder
    // boundary per row; measured deltas in PLANS.md round 10). The two
    // field extractions reference the non-cheap struct alias, which
    // CollapseProject leaves in its own projection — the expression
    // evaluates once per row, not per field.
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).cast(LongType).as("id"), col(textCol).cast("string").as("__t__"))
      .selectExpr("id", s"doc_signature(coalesce(__t__, ''), $numHashes, $shingleSize) AS __r__")
      .select(col("id"), col("__r__.toks").as("toks"), col("__r__.sig").as("sig"))
  }

  /** MinHash + LSH near-duplicate candidate pairs, verified by exact Jaccard.
    *
    * Signature of `numHashes` minhashes split into `bands`; documents
    * sharing any band hash become candidates (one shuffle on (band, key)),
    * then candidates are verified with exact token-set Jaccard ≥ threshold.
    * At 100 TB this is THE scalable near-dup path: cost is
    * O(n·sig + candidates), never O(n²).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, numHashes: Int = 64, bands: Int = 16,
                      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // sig+toks feed band keys AND both sides of the verify join
    val docs = Persisted.persist(docSignatures(df, idCol, textCol, numHashes, shingleSize)
      .filter(size(col("toks")) > 0))

    val bandKeys = docs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))).as(Seq("band", "key")))

    val l = bandKeys.toDF("a_id", "band", "key")
    val r = bandKeys.toDF("b_id", "band", "key")
    val candidates = l.join(r, Seq("band", "key")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

    val toksById = docs.select(col("id"), col("toks"))
    candidates
      .join(toksById.toDF("a_id", "a_toks"), "a_id")
      .join(toksById.toDF("b_id", "b_toks"), "b_id")
      .withColumn("n_common", size(array_intersect(col("a_toks"), col("b_toks"))).cast(LongType))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("a_toks")) + size(col("b_toks")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** 64-bit SimHash of the document's distinct tokens: per bit position,
    * sum +1/−1 over token hashes and keep the sign. Hamming-close signatures
    * ⇒ near-duplicate token sets. Single narrow pass, HOF expressions only. */
  def simhash(textCol: String, shingleSize: Int = 3): Column = {
    // Hash each shingle once, then one aggregate pass builds the 64 bit
    // counters; the `finish` lambda binds the final accumulator ONCE and
    // packs signs into a long. (Referencing the counter expression from a
    // second aggregate would inline and re-evaluate it per bit — 64×.)
    val hashes = transform(shingles(textCol, shingleSize), t => xxhash64(t))
    aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, transform(sequence(lit(0), lit(63)),
        k => when(call_function("shiftright", h, k).bitwiseAND(1) === 1, 1L).otherwise(-1L)),
        (a, b) => a + b),
      acc => aggregate(sequence(lit(0), lit(63)), lit(0L),
        (s, k) => s + when(element_at(acc, k + 1) > 0, call_function("shiftleft", lit(1L), k)).otherwise(0L)))
  }

  /** Kernel: one 64-bit SimHash signature per document — per bit position,
    * sum +1/−1 over the document's distinct shingle hashes and keep the
    * sign. Deterministic (FNV-1a + splitmix64), single narrow pass.
    * Public so the signature table itself is a usable artifact (and so the
    * correctness oracle can be seeded from the exact production values). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as(idCol), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = shinglesScala(if (text == null) "" else text, shingleSize)
          val counters = new Array[Int](64)
          var t = 0
          while (t < toks.length) {
            val h = hash64(toks(t))
            var k = 0
            while (k < 64) {
              if (((h >>> k) & 1L) == 1L) counters(k) += 1 else counters(k) -= 1
              k += 1
            }
            t += 1
          }
          var sig = 0L
          var k = 0
          while (k < 64) { if (counters(k) > 0) sig |= (1L << k); k += 1 }
          (id, sig)
        }
      }.toDF("id", "sig")
  }

  /** SimHash near-duplicate pairs: band the 64-bit signature into four
    * 16-bit chunks (any equal chunk → candidate, catches all pairs with
    * hamming distance ≤ 3 by pigeonhole), then verify exact hamming ≤
    * `maxHamming`. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
                   shingleSize: Int = 3): DataFrame = {
    // the signature feeds both sides of the band self-join
    val docs = Persisted.persist(simhashSignatures(df, idCol, textCol, shingleSize))
    val banded = docs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sig"), b * 16).bitwiseAND(0xFFFFL))).as(Seq("band", "chunk")))
    val l = banded.toDF("a_id", "a_sig", "band", "chunk")
    val r = banded.toDF("b_id", "b_sig", "band", "chunk")
    l.join(r, Seq("band", "chunk")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sig", "b_sig").distinct()
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming").cast(LongType).as("hamming"))
  }

  /** Connected components over near-duplicate pairs: the step that turns
    * pairwise similarity into canonical DOCUMENT GROUPS (one representative
    * per duplicate cluster — what a training pipeline actually deduplicates
    * by). Hash-min label propagation: every node starts labeled with its own
    * id and repeatedly adopts the minimum label in its neighborhood until a
    * fixed point. Near-dup clusters have tiny diameter, so this converges in
    * a handful of O(|E|) shuffle rounds — never materializing anything
    * super-linear — and each round is a plain join+groupBy Catalyst plan.
    * Labels persist per round and the loop exits on a zero `changed` count
    * (one cheap count per round, same pattern as GraphX/Pregel-style CC).
    *
    * `nodes`: every id that should appear in the output (singletons keep
    * themselves as representative). Output: (id, group_rep). */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                          maxIterations: Int = 50,
                          broadcastEdgeThreshold: Long = 1L << 20): DataFrame = {
    require(broadcastEdgeThreshold < Int.MaxValue, "broadcastEdgeThreshold must fit an Int limit")
    val ids = nodes.select(col(idCol).cast(LongType).as("id"))
    val p = pairs.select(col(aCol).cast(LongType).as("src"), col(bCol).cast(LongType).as("dst"))
    // Strategy probe and edge fetch in ONE action: collect at most
    // threshold+1 rows. If the result fits, we already hold EVERY edge and
    // the (usually expensive) pairs pipeline executed exactly once, with no
    // persist round-trip — previously a count() materialized it into cache
    // and a second pass read it back. Only the rare over-threshold corpus
    // pays a recompute on the distributed path below.
    val probed = p.limit(broadcastEdgeThreshold.toInt + 1).collect()

    // Path observability (r13 bench-bimodality follow-up): record WHICH
    // strategy ran so a bench rep's wall time can be attributed — isolated
    // 6-rep profiling showed the choice is deterministic at gate scale
    // (edges ≪ threshold → always broadcast; spread 1.06 once JIT-warm)
    // and the cross-round 1.25s↔2.0s spread is warm-up depth, not a path
    // flip. DedupSpec pins the choice at both threshold regimes.
    Dedup.lastCcPath =
      if (probed.length <= broadcastEdgeThreshold) "broadcast" else "hashmin"
    Console.err.println(s"[cc] path=${Dedup.lastCcPath} probed_edges=${probed.length}" +
      s" threshold=$broadcastEdgeThreshold")

    if (probed.length <= broadcastEdgeThreshold) {
      // The normal corpus shape: the edge set after near-dup pair generation
      // is orders of magnitude smaller than the corpus. Union-find on the
      // driver (bounded by the threshold), then one broadcast join maps the
      // touched ids; everything untouched keeps itself — a single narrow
      // pass over the nodes, no iteration.
      val edges = probed
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
        r
      }
      edges.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) } // min-id root
      }
      val mapping = parent.keySet().toArray(Array.empty[java.lang.Long])
        .map(x => (x.toLong, find(x)))
        .filter { case (x, r) => x != r }
      val spark = nodes.sparkSession
      import spark.implicits._
      val mapDf = mapping.toSeq.toDF("id", "rep")
      return ids.join(broadcast(mapDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("rep"), col("id")).as("group_rep"))
    }

    // distributed fallback for edge sets too large to collect: hash-min
    // label propagation (see doc comment above); here the edge set IS read
    // every round, so persist it
    val pp = p.persist()
    val edges = pp.union(pp.select(col("dst").as("src"), col("src").as("dst")))
    // each round's labels are released when the next round supersedes
    // them; the returned (last) round's by the caller's Persisted scope
    var labels = Persisted.persist(ids.select(col("id"), col("id").as("label")))
    // labels only ever DECREASE, so the label sum strictly decreases until
    // the fixed point — one cheap agg action per round detects convergence
    // (no extra join against the previous round's labels)
    def labelSum(df: DataFrame): Long = {
      val row = df.agg(sum(col("label"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0) // null = empty node set
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      val propagated = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      var next = Persisted.persist(labels.select("id", "label").union(propagated)
        .groupBy("id").agg(min(col("label")).as("label")))
      // the logical plan nests one join+agg deeper per round even though the
      // data is cached — on high-diameter graphs analyzer/optimizer time
      // grows superlinearly with plan depth. Cut the lineage periodically:
      // localCheckpoint materializes the (already computed) cached rows and
      // restarts the plan from them. The pre-checkpoint cache entry must be
      // released explicitly — the checkpointed Dataset is a different plan,
      // so the later labels.unpersist() would never reach it.
      if ((iter + 1) % 5 == 0) {
        val cached = next
        next = cached.localCheckpoint() // eager: materializes via `cached`
        cached.unpersist()
      }
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    pp.unpersist()
    labels.select(col("id"), col("label").as("group_rep"))
  }

  // ------------------------------------------------- exact substring dedup
  /** Occurrences of duplicated k-token windows (the exact-substring dedup
    * of Lee et al. 2021, arXiv:2107.06499 — public: any span repeated in
    * the training corpus is memorization fuel and should appear once).
    * Every k-token window of every document is keyed by content; an
    * occurrence is flagged iff the SAME window content occurred EARLIER in
    * the corpus under the global (id, pos) order — the first occurrence
    * always survives, within-document repeats count. Positions are 1-based
    * token indices (single-space tokenization, empty tokens preserved so
    * split/rejoin is lossless). Documents shorter than k tokens contribute
    * no windows and are never flagged. Output: (id, pos) per flagged
    * occurrence, deterministic and partitioning-independent.
    *
    * Scale shape: the paper's suffix array is a single-machine structure;
    * the distributed equivalent is this ONE hash shuffle of
    * (window-hash, id, pos) tuples — O(total tokens) rows, linear in the
    * corpus — ranked per key. Window content is folded to xxhash64 BEFORE
    * the exchange so shuffle width stays ~20 bytes per token regardless of
    * k (a 64-bit collision mis-flags one window pair in ~10^19 — the
    * standard trade the MinHash/SimHash tier already makes). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int = 50): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val k = windowTokens
    val toked = df.select(col(idCol).as("id"), split(col(textCol), " ", -1).as("__toks"))
    val starts = when(size(col("__toks")) >= k,
      sequence(lit(1), size(col("__toks")) - (k - 1))).otherwise(array().cast("array<int>"))
    val occ = toked
      .select(col("id"), col("__toks"), explode(starts).as("pos"))
      .select(col("id"), col("pos").cast(LongType).as("pos"),
        xxhash64(concat_ws(" ", slice(col("__toks"), col("pos"), lit(k)))).as("__win"))
    occ.withColumn("__rn",
        row_number().over(Window.partitionBy("__win").orderBy("id", "pos")))
      .filter(col("__rn") > 1)
      .select("id", "pos")
  }

  /** Occurrences of exactly-duplicated paragraphs (the paragraph-level
    * exact dedup of the Gopher/MassiveText pipelines — public, Rae et al.
    * 2021, arXiv:2112.11446 §A.1.2): text is split on `delimiter`, and a
    * paragraph occurrence is flagged iff the SAME paragraph content
    * occurred EARLIER in the corpus under the global (id, position) order —
    * its first occurrence always survives, later ones (any document,
    * including the same one) flag. Whitespace-only paragraphs are never
    * flagged (they are formatting, and "first empty line wins" would strip
    * every blank separator in the corpus). Positions are 1-based paragraph
    * indices. Output: (id, pos), deterministic and partitioning-independent.
    *
    * Scale shape: ONE hash shuffle of (paragraph-hash, id, pos) tuples —
    * O(total paragraphs) — ranked per key; content folds to xxhash64
    * before the exchange. The difference from [[graft.functions.Corpus]]
    * boilerplate removal: that pass drops lines by corpus FREQUENCY
    * (≥ minDocs), this one drops by earlier-occurrence identity, keeping
    * exactly one copy of every repeated paragraph. */
  def duplicateParagraphs(df: DataFrame, idCol: String, textCol: String,
                          delimiter: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quoted = java.util.regex.Pattern.quote(delimiter)
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), quoted, -1)).as(Seq("idx", "para")))
      .filter(trim(col("para")) =!= "")
    paras
      .withColumn("__rn", row_number().over(
        Window.partitionBy(xxhash64(col("para"))).orderBy("id", "idx")))
      .filter(col("__rn") > 1)
      .select(col("id"), (col("idx") + 1).cast(LongType).as("pos"))
  }

  /** Remove exactly-duplicated paragraphs (see [[duplicateParagraphs]]):
    * flagged occurrences are deleted, the remainder rejoins on `delimiter`
    * in order; each repeated paragraph's first corpus occurrence survives
    * verbatim, whitespace-only paragraphs always survive. Schema-preserving
    * in-place rewrite of `textCol`, same kernel shape as
    * [[stripDuplicateSpans]]. */
  def stripDuplicateParagraphs(df: DataFrame, idCol: String, textCol: String,
                               delimiter: String = "\n"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val quoted = java.util.regex.Pattern.quote(delimiter)
    val spans = duplicateParagraphs(df, idCol, textCol, delimiter)
      .groupBy(col("id").as("__sid")).agg(collect_list(col("pos")).as("__spans"))
    val joined = df.join(spans, df(idCol) === spans("__sid"), "left").drop("__sid")
    val schema = joined.schema
    val ti = schema.fieldIndex(textCol)
    val si = schema.fieldIndex("__spans")
    joined.mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(si)) r
        else {
          val parts = r.getString(ti).split(quoted, -1)
          val dropAt = r.getSeq[Long](si).map(_.toInt - 1).toSet
          val kept = new scala.collection.mutable.ArrayBuffer[String](parts.length)
          var i = 0
          while (i < parts.length) { if (!dropAt(i)) kept += parts(i); i += 1 }
          val vals = r.toSeq.toArray
          vals(ti) = kept.mkString(delimiter)
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
      }
    }(Encoders.row(schema))
      .drop("__spans")
  }

  /** Remove duplicated k-token spans from the text column: tokens covered
    * by any flagged window occurrence (see [[duplicateSpans]]) are deleted,
    * everything else keeps its order; each repeated span's first corpus
    * occurrence survives verbatim. Schema-preserving — `textCol` is
    * replaced in place, all other columns ride through — so it slots into
    * a YAML pipeline like the other cleaning passes. The rebuild is a
    * linear mapPartitions kernel (flag array + one pass), not a per-span
    * HOF scan, so a pathologically self-repeating document costs
    * O(tokens + spans), never O(tokens × spans). */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 50): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val k = windowTokens
    val spans = duplicateSpans(df, idCol, textCol, k)
      .groupBy(col("id").as("__sid")).agg(collect_list(col("pos")).as("__spans"))
    val joined = df.join(spans, df(idCol) === spans("__sid"), "left").drop("__sid")
    val schema = joined.schema
    val ti = schema.fieldIndex(textCol)
    val si = schema.fieldIndex("__spans")
    joined.mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(si)) r
        else {
          val toks = r.getString(ti).split(" ", -1)
          val drop = new Array[Boolean](toks.length)
          r.getSeq[Long](si).foreach { p =>
            var i = math.max(p.toInt - 1, 0)
            val end = math.min(p.toInt - 1 + k, toks.length)
            while (i < end) { drop(i) = true; i += 1 }
          }
          val kept = new scala.collection.mutable.ArrayBuffer[String](toks.length)
          var i = 0
          while (i < toks.length) { if (!drop(i)) kept += toks(i); i += 1 }
          val vals = r.toSeq.toArray
          vals(ti) = kept.mkString(" ")
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
      }
    }(Encoders.row(schema))
      .drop("__spans")
  }
}
