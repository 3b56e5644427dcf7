package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import graft.Persisted

/**
 * Corpus-cleaning operators for large-scale training-data pipelines — the
 * passes that run between raw crawl and tokenizer: PII redaction,
 * repetition/boilerplate quality signals (Gopher-style), cross-document
 * boilerplate line removal (C4-style), and benchmark decontamination
 * (n-gram overlap against an eval set).
 *
 * Scale design: per-document signals are single narrow passes (Column
 * expressions or a one-pass mapPartitions kernel — no shuffle); the two
 * corpus-level passes shuffle only on small keys (line hash / shingle hash),
 * broadcast their small side, and never materialize anything super-linear.
 */
object Corpus {

  // ------------------------------------------------------- PII redaction

  /** Redact personally-identifying substrings: emails → `<EMAIL>`,
    * IPv4 addresses → `<IP>`, phone-like digit runs → `<PHONE>`.
    *
    * Pure chained `regexp_replace` — codegen'd, no UDF, linear per row.
    * Patterns deliberately avoid backtracking-only constructs
    * (no lookaround, no backreferences) so the same pattern runs identically
    * on RE2-based engines. Order matters: emails first (their local part may
    * contain digits), then IPv4 (dotted quads — the phone class has no dot,
    * so it can never span one), then bare digit runs.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?\\d[\\d\\-]{6,}\\d", "<PHONE>")
  }

  // ------------------------------------------- repetition quality signals

  /** Gopher-style repetition statistics, appended in ONE mapPartitions pass
    * (the HOF-expression formulation re-splits the text per statistic —
    * interpreted higher-order lambdas sit outside common-subexpression
    * elimination, the same measurement that motivated
    * [[TextFunctions.withWordStats]]):
    *
    *  - `n_lines`            non-empty lines (split on `lineDelim`)
    *  - `dup_line_ratio`     fraction of lines that repeat an earlier line
    *  - `dup_line_char_ratio` fraction of line characters inside repeats
    *  - `word_rep_ratio`     1 − distinct words / words
    *  - `top_ngram_char_ratio` max over word n-grams of
    *                          occurrences × gram length, over the length of
    *                          the single-space-normalized text — the "most
    *                          frequently repeated n-gram" share
    *
    * High values on any of these are the standard machine-generated/spam
    * signals used by public web-corpus cleaning pipelines. Ratios are NULL
    * when the document has no lines / words / n-grams.
    */
  def withRepetitionStats(df: DataFrame, textCol: String,
                          lineDelim: String = "\n", ngram: Int = 2): DataFrame = {
    val schema = df.schema
      .add("n_lines", LongType, nullable = false)
      .add("dup_line_ratio", DoubleType, nullable = true)
      .add("dup_line_char_ratio", DoubleType, nullable = true)
      .add("word_rep_ratio", DoubleType, nullable = true)
      .add("top_ngram_char_ratio", DoubleType, nullable = true)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val ti = df.schema.fieldIndex(textCol)
    val delim = lineDelim
    val n = ngram
    df.mapPartitions { it =>
      it.map { row =>
        val text = row.get(ti)
        val s = if (text == null) "" else text.toString

        // line pass
        val lines = s.split(java.util.regex.Pattern.quote(delim), -1)
          .filter(_.trim.nonEmpty)
        val lineCounts = new java.util.HashMap[String, Int]()
        lines.foreach(l => lineCounts.merge(l, 1, Integer.sum))
        var dupLines = 0L; var dupChars = 0L; var totChars = 0L
        lineCounts.forEach { (l, c) =>
          dupLines += c - 1
          dupChars += (c - 1).toLong * l.length
          totChars += c.toLong * l.length
        }
        val nLines = lines.length.toLong
        val dupLineRatio: Any = if (nLines > 0) dupLines.toDouble / nLines else null
        val dupLineCharRatio: Any = if (totChars > 0) dupChars.toDouble / totChars else null

        // word pass (split on any whitespace — lines count as separators)
        val ws = s.split("\\s+").filter(_.nonEmpty)
        val distinctWords = new java.util.HashSet[String]()
        var wordChars = 0L
        ws.foreach { w => distinctWords.add(w); wordChars += w.length }
        val wordRepRatio: Any =
          if (ws.length > 0) 1.0 - distinctWords.size.toDouble / ws.length else null

        // n-gram pass: max over grams of count × gram length (includes the
        // joining spaces), over the normalized text length
        var topNgram: Any = null
        if (ws.length >= n) {
          val gramCounts = new java.util.HashMap[String, Int]()
          var i = 0
          while (i + n <= ws.length) {
            val sb = new java.lang.StringBuilder(ws(i))
            var k = 1
            while (k < n) { sb.append(' ').append(ws(i + k)); k += 1 }
            gramCounts.merge(sb.toString, 1, Integer.sum)
            i += 1
          }
          var maxRep = 0L
          gramCounts.forEach { (g, c) =>
            val rep = c.toLong * g.length
            if (rep > maxRep) maxRep = rep
          }
          val normLen = wordChars + (ws.length - 1).toLong // single-space joined
          topNgram = maxRep.toDouble / normLen
        }

        org.apache.spark.sql.Row.fromSeq(row.toSeq ++
          Seq(nLines, dupLineRatio, dupLineCharRatio, wordRepRatio, topNgram))
      }
    }(enc)
  }

  // --------------------------------------------- boilerplate line removal

  /** Remove lines that occur in at least `minDocs` DISTINCT documents —
    * the C4-style cross-document boilerplate pass (navigation chrome,
    * cookie banners, copyright footers). Returns `df` with `textCol`
    * rebuilt from the surviving lines in original order; `idCol` must be
    * unique per row.
    *
    * Shape: posexplode lines (narrow) → line-frequency aggregation over
    * 64-bit line hashes (the shuffle carries (hash, id) pairs — 16 bytes —
    * not the line text; a hash collision could only misclassify a line at
    * ~2⁻⁶⁴, the same accepted risk as the Dedup hash paths) → broadcast
    * anti-join against the boilerplate hash set (bounded above by
    * totalLines / minDocs, so small for any useful threshold) → regroup by
    * document (second shuffle) with an order-restoring `array_sort` on
    * (pos, line). Two shuffles total — the minimum for a corpus-frequency
    * rewrite; nothing touches the driver.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        minDocs: Long, lineDelim: String = "\n"): DataFrame = {
    val delimRe = java.util.regex.Pattern.quote(lineDelim)
    val lines = df.select(col(idCol).as("__bp_id"),
      posexplode(split(col(textCol), delimRe, -1)).as(Seq("__bp_pos", "__bp_line")))
      .withColumn("__bp_h", xxhash64(col("__bp_line")))
    val boiler = lines
      .filter(length(trim(col("__bp_line"))) > 0)
      .select("__bp_h", "__bp_id").distinct()
      .groupBy("__bp_h").agg(count(lit(1)).as("__bp_df"))
      .filter(col("__bp_df") >= minDocs)
      .select("__bp_h")
    val rebuilt = lines.join(broadcast(boiler), Seq("__bp_h"), "left_anti")
      .groupBy("__bp_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__bp_pos"), col("__bp_line")))),
          s => s.getField("__bp_line")),
        lineDelim).as("__bp_text"))
    // left join restores documents whose every line was boilerplate (→ "")
    val joined = df.join(rebuilt, col(idCol) === col("__bp_id"), "left")
    joined.select(df.columns.toIndexedSeq.map {
      case c if c == textCol => coalesce(col("__bp_text"), lit("")).as(textCol)
      case c => joined(c)
    }: _*)
  }

  // ----------------------------------------------------- context chunking

  /** Split documents into fixed-size word windows with overlap — the
    * context-window packing pass that turns cleaned documents into
    * training-sized chunks. Chunk starts step by `chunkWords − overlap`;
    * a window opens at every start below max(n − overlap, 1), so no text
    * is dropped, no trailing window is fully contained in its
    * predecessor, and an empty document still yields one empty chunk
    * (never silently dropped). Pure narrow flatMap — no shuffle; at 100 TB
    * this pass is bounded by read+write bandwidth alone.
    *
    * Output: (`idCol`, chunk_id, `textCol`, n_words).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkWords: Int, overlapWords: Int = 0): DataFrame = {
    require(chunkWords > overlapWords && overlapWords >= 0,
      "chunkWords must exceed overlapWords")
    val spark = df.sparkSession
    import spark.implicits._
    val stride = chunkWords - overlapWords
    val (cw, ow) = (chunkWords, overlapWords)
    df.select(col(idCol).cast(LongType), col(textCol).cast(StringType))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val ws = (if (text == null) "" else text).split("\\s+").filter(_.nonEmpty)
          val starts = 0 until math.max(ws.length - ow, 1) by stride
          starts.iterator.zipWithIndex.map { case (s, i) =>
            val slice = ws.slice(s, s + cw)
            (id, i.toLong, slice.mkString(" "), slice.length.toLong)
          }
        }
      }.toDF(idCol, "chunk_id", textCol, "n_words")
  }

  // ------------------------------------------------- corpus term statistics

  /** (id, term, tf) rows — per-document term frequencies from one
    * mapPartitions pass (lowercased whitespace tokens). No shuffle: the
    * counting happens inside the document. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(textCol).cast(StringType))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val counts = new java.util.HashMap[String, Long]()
          (if (text == null) "" else text).toLowerCase.split("\\s+")
            .foreach(w => if (w.nonEmpty) counts.merge(w, 1L, java.lang.Long.sum))
          val out = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)](counts.size)
          counts.forEach((t, c) => out += ((id, t, c)))
          out
        }
      }.toDF("id", "term", "tf")
  }

  /** Top-`k` characteristic terms per document with their TF-IDF score —
    * the standard keyword-extraction pass over a corpus.
    *
    * Ranking is deliberately float-free (tf DESC, then document frequency
    * ASC — rarer is more distinctive — then term ASC): transcendental
    * score ties would otherwise make the top-k set platform-dependent. The
    * tf·ln(N/df) score rides along as a payload column.
    *
    * Shape: narrow tf kernel → document-frequency aggregation (one shuffle
    * on the term; map-side partial) → tf⋈df equi-join (Catalyst broadcasts
    * when the vocabulary fits, AQE handles it at runtime otherwise) → per-
    * document top-k window (one shuffle on the id). Nothing is quadratic;
    * nothing touches the driver but the N count.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val n = df.count()
    val tf = Persisted.persist(termFrequencies(df, idCol, textCol)) // feeds df-agg AND join
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 4).as("score"),
        col("rank"))
  }

  /** Corpus-level word n-gram occurrence counts (raw occurrences, not
    * per-document distinct — this is the vocabulary/statistics pass, not a
    * dedup feature). One narrow flatMap + one count aggregation with
    * map-side partials. */
  def ngramCounts(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nn = n
    df.select(col(textCol).cast(StringType)).as[String]
      .mapPartitions { it =>
        it.flatMap { text =>
          val ws = (if (text == null) "" else text).toLowerCase.split("\\s+").filter(_.nonEmpty)
          if (ws.length < nn) Iterator.empty
          else Iterator.tabulate(ws.length - nn + 1) { i =>
            val sb = new java.lang.StringBuilder(ws(i))
            var j = 1
            while (j < nn) { sb.append(' ').append(ws(i + j)); j += 1 }
            sb.toString
          }
        }
      }.toDF("gram")
      .groupBy("gram").agg(count(lit(1)).as("n_occurrences"))
  }

  // ------------------------------------------------------ decontamination

  /** (id, 64-bit shingle hash) pairs, distinct per document — the same
    * tokenization/hash kernel as the Dedup signature paths
    * ([[Dedup.shinglesScala]] + FNV/splitmix [[Dedup.hash64]]). */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(textCol).cast(StringType))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          Dedup.shinglesScala(if (text == null) "" else text, shingleSize)
            .iterator.map(t => (id, Dedup.hash64(t)))
        }
      }.toDF("id", "h")
  }

  /** Benchmark decontamination: documents of `corpus` that share at least
    * one word `shingleSize`-gram with any document of `bench` (the eval /
    * test set), with the count of distinct shared shingles — the standard
    * n-gram-overlap contamination check run before training.
    *
    * Shape: both sides shingle in a mapPartitions kernel to 64-bit hashes
    * (shuffling 8-byte keys, not strings; a collision could only add a
    * spurious overlap at ~2⁻⁶⁴ per shingle pair). The bench side of a
    * decontamination run is small by nature (an eval set), so its distinct
    * shingle set is broadcast — the corpus side's only shuffle is the
    * per-document count aggregation (map-side partial on 8-byte keys).
    *
    * Output: (`idCol`, n_overlap) for contaminated documents only.
    */
  def contamination(corpus: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    shingleSize: Int = 5): DataFrame = {
    val corpusShingles = shingleHashes(corpus, idCol, textCol, shingleSize)
    val benchShingles = shingleHashes(bench, idCol, textCol, shingleSize)
      .select("h").distinct()
    // (id, h) is already distinct per document (shinglesScala dedups), so
    // the post-join count needs no DISTINCT
    corpusShingles.join(broadcast(benchShingles), Seq("h"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_overlap"))
      .select(col(idCol), col("n_overlap"))
  }

  // ------------------------------------------------- LM-rarity (perplexity proxy)

  /** CCNet-style language-model rarity signal, float-free. A character
    * trigram LM is induced from the corpus itself (top `vocabSize` trigrams
    * of the lowercased text by frequency, ties broken by trigram — a
    * deterministic, broadcastable model); each document scores the mean
    * inverse frequency of its trigrams under that LM:
    *
    *   rar(tri)   = min( floor(scale · N / (cnt(tri) + 1)), 10¹² )
    *   rarity_sum = Σ rar over the doc's trigrams       (OOV ⇒ cnt = 0)
    *   rarity     = rarity_sum / n_trigrams  (integer division; 0 if empty)
    *
    * where N = Σ cnt over the kept vocabulary. High rarity ⇒ the doc's
    * character distribution is unlike the corpus (gibberish, foreign
    * charset, binary junk) — the same screening role CCNet's KenLM
    * perplexity plays, without a shipped model. All-integer arithmetic
    * (the repo's float-free-rank discipline): results are bit-identical on
    * any cluster, any partitioning, any summation order. The 10¹² clamp
    * keeps rarity_sum within Long for documents up to ~9M trigrams (chunk
    * longer docs first).
    *
    * Scale shape: trigram counting is a groupBy on ≤|alphabet|³ short keys;
    * the model is a top-K driver collect (≤ vocabSize rows) broadcast to a
    * narrow scoring kernel; per-doc totals shuffle once keyed by id with
    * map-side partials. Nothing super-linear, no floats, no UDF on the
    * agg path. */
  def withTrigramRarity(df: DataFrame, idCol: String, textCol: String,
                        vocabSize: Int = 4096, scale: Long = 1000L): DataFrame =
    scoreTrigramRarity(df, idCol, textCol, trigramLm(df, textCol, vocabSize), scale)

  /** The LM half: top-`vocabSize` lowercased character trigrams of the
    * corpus by (count desc, trigram asc) — a deterministic, broadcastable
    * model, bounded by vocabSize regardless of corpus size. Induce it once
    * per corpus, persist it, and score any later frame (or a live stream)
    * against it. */
  def trigramLm(df: DataFrame, textCol: String, vocabSize: Int = 4096): Map[String, Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    require(vocabSize > 0, "trigramLm: vocabSize must be positive")
    // char_ngrams is a codegen'd Catalyst expression (the ShingleHashes
    // pattern), so the exploder fuses into the scan projection — the
    // former `Dataset.flatMap(t.sliding(3))` paid an UnsafeRow→String
    // encoder boundary per corpus row, the exact overhead the expression
    // tier exists to avoid.
    graft.expressions.GraftFunctions.register(spark)
    df.select(explode(call_function("char_ngrams",
        lower(col(textCol).cast("string")), lit(3))).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tri").asc).limit(vocabSize)
      .as[(String, Long)].collect().toMap
  }

  /** The scoring half: integer-exact rarity of each row's text under a
    * prebuilt [[trigramLm]]. The whole per-row sum runs inside ONE native
    * Catalyst expression ([[graft.expressions.TrigramRarity]], with
    * `doGenCode`) — no shuffle, no join, no Dataset-encoder boundary, and
    * the scorer fuses into the surrounding whole-stage-codegen projection;
    * stream-safe against the static LM (the production ingestion shape:
    * model induced offline from the corpus, deltas scored as they land).
    * The expression is registered under a content-keyed temp-function name
    * (the LM is carried inside the expression, not as SQL literals).
    * `idCol` is unused by the computation (scores are per-row) and kept in
    * the signature for API symmetry. */
  def scoreTrigramRarity(df: DataFrame, idCol: String, textCol: String,
                         lmMap: Map[String, Long], scale: Long = 1000L): DataFrame = {
    require(scale > 0, "scoreTrigramRarity: scale must be positive")
    val totalN = lmMap.values.sum
    val sorted = lmMap.toArray.sortBy(_._1)
    val keys: Array[String] = sorted.map(_._1)
    val cnts: Array[Long] = sorted.map(_._2)
    val spark = df.sparkSession
    val fname = "graft_trigram_rarity_" + java.lang.Long.toHexString(
      keys.foldLeft(scale * 31 + totalN)((h, k) => h * 1000003L + k.hashCode))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(fname, {
      case Seq(t) =>
        // lowercase INSIDE the plan so scoring matches trigramLm's
        // `lower()` exactly (locale-free UTF8String semantics)
        graft.expressions.TrigramRarity(
          org.apache.spark.sql.catalyst.expressions.Lower(t), keys, cnts, scale, totalN)
      case other => throw new IllegalArgumentException(
        s"$fname takes 1 argument, got ${other.size}")
    }, "built-in")
    df.withColumn("__rar__", call_function(fname, col(textCol).cast("string")))
      .withColumn("rarity_sum", coalesce(col("__rar__.rarity_sum"), lit(0L)))
      .withColumn("n_trigrams", coalesce(col("__rar__.n_trigrams"), lit(0L)))
      .withColumn("rarity", coalesce(col("__rar__.rarity"), lit(0L)))
      .drop("__rar__")
  }

  // ----------------------------------------------- text normalization

  /** Canonical text-normalization pass: Unicode normalization (NFC
    * default; NFKC folds fullwidth forms/ligatures — the tokenizer-prep
    * choice) via the codegen'd
    * [[graft.expressions.UnicodeNormalize]] expression, then optional
    * C0/C1 control-character strip (tab/newline survive) and whitespace
    * collapsing — all fused into one narrow projection, the mandatory
    * first pass before any hashing/dedup sees the text (decomposed
    * accents would otherwise hash differently from composed ones). */
  def normalizeText(text: Column, form: String = "NFC",
                    stripControls: Boolean = true,
                    collapseWhitespace: Boolean = true): Column = {
    val normalized = call_function("graft_unicode_normalize_" + form.toLowerCase, text)
    val noCtl =
      if (stripControls)
        regexp_replace(normalized, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", "")
      else normalized
    if (collapseWhitespace) trim(regexp_replace(noCtl, "[ \\t]+", " "))
    else noCtl
  }

  /** Register the per-form normalize functions (content-keyed names — the
    * TrigramRarity registration pattern, parameter carried in the name). */
  private[functions] def registerNormalize(spark: org.apache.spark.sql.SparkSession,
                                           form: String): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_unicode_normalize_" + form.toLowerCase, {
        case Seq(t) => graft.expressions.UnicodeNormalize(t, form)
        case other => throw new IllegalArgumentException(
          s"unicode_normalize takes 1 argument, got ${other.size}")
      }, "built-in")

  /** Frame face of [[normalizeText]]. */
  def withNormalizedText(df: DataFrame, textCol: String, form: String = "NFC",
                         stripControls: Boolean = true,
                         collapseWhitespace: Boolean = true,
                         outCol: String = ""): DataFrame = {
    registerNormalize(df.sparkSession, form)
    df.withColumn(if (outCol.isEmpty) textCol else outCol,
      normalizeText(col(textCol).cast(StringType), form, stripControls, collapseWhitespace))
  }

  /** Rule-based sentence splitting: a sentence is a maximal run without
    * terminal punctuation plus its trailing `[.!?]+` (a final unterminated
    * fragment counts too). The pattern stays in the RE2 subset (no
    * lookaround) so the oracle applies the identical rule. Output:
    * (`idCol`, sentence_id 0-based, sentence trimmed, non-empty). Pure
    * narrow explode — no shuffle. */
  def splitSentences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // trim + drop empties INSIDE the array so posexplode's ordinal is
    // already dense — no re-numbering window, the pass stays shuffle-free
    val sentences = filter(
      transform(regexp_extract_all(col(textCol).cast(StringType),
        lit("[^.!?]+[.!?]*"), lit(0)), s => trim(s)),
      s => length(s) > 0)
    df.select(col(idCol),
      posexplode(sentences).as(Seq("sentence_id", "sentence")))
      .withColumn("sentence_id", col("sentence_id").cast(LongType))
  }

  // ------------------------------------------------------ URL canonicalization

  /** Canonical URL for crawl-scale URL dedup — the first dedup stage of
    * every Common-Crawl pipeline (two fetches of the same page should
    * collide BEFORE any content hashing). Documented rule set, applied in
    * order:
    *   1. trim surrounding whitespace
    *   2. drop the `#fragment`
    *   3. drop tracking query params (`utm_*`, `fbclid`, `gclid`,
    *      `msclkid`) and tidy the leftover `?`/`&` separators
    *   4. lowercase the `scheme://authority` part (path/query keep case —
    *      paths are case-sensitive on most origins)
    *   5. drop explicit default ports (`:80` for http, `:443` for https)
    *   6. drop a bare trailing slash (`…/path/` → `…/path`, `host/` → host)
    *
    * Pure chained regexp_replace/regexp_extract — codegen'd, no UDF, and
    * every pattern stays inside the RE2-compatible subset (no lookaround,
    * no backreferences) so an RE2-based oracle applies the identical rules. */
  def normalizeUrl(url: Column): Column = {
    val t0 = trim(url)
    val noFrag = regexp_replace(t0, "#.*", "")
    // tracking params: remove `key=value` for the tracked keys, then repair
    // separators (`?&` → `?`, `&&` → `&`, trailing `?`/`&`). The key is
    // ANCHORED to its `?`/`&` separator (kept via `$1`) so an unrelated
    // param that merely ends in a tracked name (`xgclid=2`) or matching
    // text inside a path segment is never touched — an unanchored rule
    // would canonicalize distinct URLs identically and falsely merge them
    // in URL dedup.
    val tracked = "([?&])(utm_[A-Za-z]+|fbclid|gclid|msclkid)=[^&#]*"
    val noTrack0 = regexp_replace(noFrag, tracked, "$1")
    val noTrack = regexp_replace(
      regexp_replace(regexp_replace(noTrack0, "\\?&+", "?"), "&&+", "&"),
      "[?&]+$", "")
    // lowercase scheme://authority only
    val head = regexp_extract(noTrack, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val tail = regexp_replace(noTrack, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val lowered = concat(lower(head), tail)
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),
      "^(https://[^/:?#]+):443([/?#]|$)", "$1$2")
    regexp_replace(noPort, "/$", "")
  }

  /** Registrable-host key for per-domain grouping (domain_cap, URL stats):
    * lowercased authority without userinfo, port, or a leading `www.`. */
  def urlDomain(url: Column): Column = {
    val auth = lower(regexp_extract(trim(url), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noUser = regexp_replace(auth, "^[^@]*@", "")
    val noPort = regexp_replace(noUser, ":[0-9]+$", "")
    regexp_replace(noPort, "^www\\.", "")
  }
}
