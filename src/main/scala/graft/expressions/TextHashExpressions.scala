package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the dedup tier's signature kernels — the
 * preference-ladder step between composing built-ins and mapPartitions: a
 * custom `Expression` with `doGenCode` participates in whole-stage codegen,
 * so signature computation fuses into the surrounding projection with no
 * Dataset-encoder boundary (the mapPartitions kernels pay UnsafeRow →
 * tuple → UnsafeRow per row) and composes as a `Column` anywhere — SQL
 * included — instead of forcing callers through a frame-shaped API.
 *
 * Generated code is one static call per row into
 * [[graft.functions.TextHashKernels]], the same arithmetic as the kernels, so
 * outputs are bit-identical to `docSignatures`/`jaccardPairs` internals.
 * Register with [[GraftFunctions.register]] (existing session) or via
 * `spark.sql.extensions=graft.expressions.GraftExtensions` (cluster conf).
 */
case class ShingleHashes(child: Expression, shingleSize: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      graft.functions.TextHashKernels.shingleHashes(
        input.asInstanceOf[UTF8String].toString, shingleSize))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextHashKernels.shingleHashes($c.toString(), $shingleSize));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

case class MinhashSig(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"minhash_sig: numHashes must be positive, got $numHashes")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      graft.functions.TextHashKernels.minhashSig(
        input.asInstanceOf[UTF8String].toString, numHashes, shingleSize))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.TextHashKernels.minhashSig($c.toString(), $numHashes, $shingleSize));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** Combined (toks, sig) struct in one tokenization pass — what the dedup
  * tier's internal `docSignatures` frame routes through, so the signature
  * stage fuses into whole-stage codegen with no Dataset-encoder boundary
  * AND no duplicate shingling. */
case class DocSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"doc_signature: numHashes must be positive, got $numHashes")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"doc_signature requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StructType(Seq(
    StructField("toks", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "doc_signature"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHashKernels.docSigRow(
      input.asInstanceOf[UTF8String].toString, numHashes, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashKernels.docSigRow($c.toString(), $numHashes, $shingleSize);")

  override protected def withNewChildInternal(newChild: Expression): DocSignature =
    copy(child = newChild)
}

/** All overlapping character n-grams as an array — the exploder the
  * trigram-LM induction fuses into its scan (`Dataset.flatMap(sliding)`
  * paid an UnsafeRow→String encoder boundary per corpus row; this is a
  * codegen'd projection feeding a generator). */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"char_ngrams: n must be positive, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_ngrams requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(graft.functions.TextHashKernels.charNgrams(
      input.asInstanceOf[UTF8String].toString, n).asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (Object[]) graft.functions.TextHashKernels.charNgrams($c.toString(), $n));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** Builders + registration for the native expressions. */
object GraftFunctions {

  private def intLit(e: Expression, name: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: $arg must be an integer literal, got $other")
  }

  /** (name, examples, builder) for each injected function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = own ++ SketchFunctions.all
  // mergeable sketch tier lives in SketchExpressions.scala; concatenated here
  // so register()/GraftExtensions cover both
  private lazy val own: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("shingle_hashes",
      "_FUNC_(text[, shingle_size=3]) - 64-bit hashes of the distinct word shingles",
      {
        case Seq(t) => ShingleHashes(t, 3)
        case Seq(t, n) => ShingleHashes(t, intLit(n, "shingle_hashes", "shingle_size"))
        case other => throw new IllegalArgumentException(
          s"shingle_hashes takes 1-2 arguments, got ${other.size}")
      }),
    ("minhash_sig",
      "_FUNC_(text[, num_hashes=64[, shingle_size=3]]) - minhash signature over word shingles",
      {
        case Seq(t) => MinhashSig(t, 64, 3)
        case Seq(t, n) => MinhashSig(t, intLit(n, "minhash_sig", "num_hashes"), 3)
        case Seq(t, n, s) => MinhashSig(t, intLit(n, "minhash_sig", "num_hashes"),
          intLit(s, "minhash_sig", "shingle_size"))
        case other => throw new IllegalArgumentException(
          s"minhash_sig takes 1-3 arguments, got ${other.size}")
      }),
    ("doc_signature",
      "_FUNC_(text[, num_hashes=64[, shingle_size=3]]) - struct(toks, sig): hashed shingles + minhash signature in one pass",
      {
        case Seq(t) => DocSignature(t, 64, 3)
        case Seq(t, n) => DocSignature(t, intLit(n, "doc_signature", "num_hashes"), 3)
        case Seq(t, n, s) => DocSignature(t, intLit(n, "doc_signature", "num_hashes"),
          intLit(s, "doc_signature", "shingle_size"))
        case other => throw new IllegalArgumentException(
          s"doc_signature takes 1-3 arguments, got ${other.size}")
      }),
    ("cosine_sim",
      "_FUNC_(a, b) - exact cosine of two float vectors (one codegen'd loop; null on length mismatch or zero norm)",
      {
        case Seq(a, b) => CosineSim(a, b)
        case other => throw new IllegalArgumentException(
          s"cosine_sim takes 2 arguments, got ${other.size}")
      }),
    ("dim_reduce_q",
      "_FUNC_(embedding, k, seed, s_bits) - exact-integer ±1 random projection to k dims (array<long> fixed-point sums)",
      {
        case Seq(e, k, s, b) => DimReduceQ(e, intLit(k, "dim_reduce_q", "k"),
          intLit(s, "dim_reduce_q", "seed"), intLit(b, "dim_reduce_q", "s_bits"))
        case other => throw new IllegalArgumentException(
          s"dim_reduce_q takes (embedding, k, seed, s_bits), got ${other.size} arguments")
      }),
    ("char_ngrams",
      "_FUNC_(text[, n=3]) - all overlapping character n-grams",
      {
        case Seq(t) => CharNgrams(t, 3)
        case Seq(t, n) => CharNgrams(t, intLit(n, "char_ngrams", "n"))
        case other => throw new IllegalArgumentException(
          s"char_ngrams takes 1-2 arguments, got ${other.size}")
      }),
    ("image_meta",
      "_FUNC_(binary) - struct(format, width, height, orientation) from image header bytes",
      {
        case Seq(b) => ImageMeta(b)
        case other => throw new IllegalArgumentException(
          s"image_meta takes 1 argument, got ${other.size}")
      }),
    ("image_ahash",
      "_FUNC_(binary) - 64-bit average-hash perceptual signature (NULL if undecodable)",
      {
        case Seq(b) => PerceptualHash(b, 0)
        case other => throw new IllegalArgumentException(
          s"image_ahash takes 1 argument, got ${other.size}")
      }),
    ("image_dhash",
      "_FUNC_(binary) - 64-bit difference-hash perceptual signature (NULL if undecodable)",
      {
        case Seq(b) => PerceptualHash(b, 1)
        case other => throw new IllegalArgumentException(
          s"image_dhash takes 1 argument, got ${other.size}")
      }),
    ("image_phash",
      "_FUNC_(binary) - 64-bit DCT perceptual hash (NULL if undecodable)",
      {
        case Seq(b) => PerceptualHash(b, 2)
        case other => throw new IllegalArgumentException(
          s"image_phash takes 1 argument, got ${other.size}")
      }),
    ("unicode_normalize",
      "_FUNC_(text[, form='NFC']) - Unicode normalization (NFC/NFKC/NFD/NFKD)",
      {
        case Seq(t) => UnicodeNormalize(t, "NFC")
        case Seq(t, Literal(f: UTF8String, StringType)) => UnicodeNormalize(t, f.toString)
        case other => throw new IllegalArgumentException(
          s"unicode_normalize takes (text[, form-literal]), got $other")
      }),
    ("audio_meta",
      "_FUNC_(binary) - struct(format, channels, sample_rate, bits, n_samples, duration_ms) from RIFF/WAVE headers",
      {
        case Seq(b) => AudioMeta(b)
        case other => throw new IllegalArgumentException(
          s"audio_meta takes 1 argument, got ${other.size}")
      }),
    ("audio_features",
      "_FUNC_(binary) - struct(n_samples, sq_sum, zero_crossings, peak) over decoded PCM16 (NULL if undecodable)",
      {
        case Seq(b) => AudioFeatures(b)
        case other => throw new IllegalArgumentException(
          s"audio_features takes 1 argument, got ${other.size}")
      }),
    ("video_meta",
      "_FUNC_(binary) - struct(format, width, height, duration_ms) from ISO BMFF (MP4) boxes",
      {
        case Seq(b) => VideoMeta(b)
        case other => throw new IllegalArgumentException(
          s"video_meta takes 1 argument, got ${other.size}")
      }),
    ("video_frames",
      "_FUNC_(binary[, max]) - array<binary> of up to max (default 8) evenly-sampled JPEG frames from MJPEG AVI / JPEG-sample MP4",
      {
        case Seq(b) => VideoFrames(b,
          org.apache.spark.sql.catalyst.expressions.Literal(8))
        case Seq(b, m) => VideoFrames(b, m)
        case other => throw new IllegalArgumentException(
          s"video_frames takes 1-2 arguments, got ${other.size}")
      }),
    ("audio_fingerprint",
      "_FUNC_(binary) - 63-bit energy-delta audio fingerprint (NULL if undecodable)",
      {
        case Seq(b) => AudioFingerprint(b)
        case other => throw new IllegalArgumentException(
          s"audio_fingerprint takes 1 argument, got ${other.size}")
      }),
    ("audio_fingerprint_spectral",
      "_FUNC_(binary) - 60-bit lossy-tolerant spectral fingerprint incl. native Ogg-Vorbis decode (NULL if undecodable)",
      {
        case Seq(b) => AudioFingerprintSpectral(b)
        case other => throw new IllegalArgumentException(
          s"audio_fingerprint_spectral takes 1 argument, got ${other.size}")
      }),
    ("audio_transcode_vorbis",
      "_FUNC_(binary[, transparent]) - re-encode any decodable audio as mono Ogg-Vorbis at the source rate (NULL if undecodable)",
      {
        case Seq(b) => AudioTranscodeVorbis(b, transparent = false)
        case Seq(b, t) => t match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) =>
            AudioTranscodeVorbis(b, v)
          case _ => throw new IllegalArgumentException(
            "audio_transcode_vorbis: transparent must be a boolean literal")
        }
        case other => throw new IllegalArgumentException(
          s"audio_transcode_vorbis takes 1-2 arguments, got ${other.size}")
      }),
    ("image_thumbnail",
      "_FUNC_(binary, width, height) - grayscale PNG thumbnail (NULL if undecodable)",
      {
        case Seq(b, w, h) => ImageThumbnail(b,
          intLit(w, "image_thumbnail", "width"), intLit(h, "image_thumbnail", "height"))
        case other => throw new IllegalArgumentException(
          s"image_thumbnail takes 3 arguments, got ${other.size}")
      }),
    ("doc_text",
      "_FUNC_(binary[, format='auto']) - document text from rtf/doc/docx/pptx/epub/pdf/srt/vtt/eml payload bytes (NULL if unparseable)",
      {
        case Seq(b) => DocText(b, "auto")
        case Seq(b, Literal(f: UTF8String, StringType)) => DocText(b, f.toString)
        case other => throw new IllegalArgumentException(
          s"doc_text takes (binary[, format-literal]), got $other")
      }),
    ("doc_units",
      "_FUNC_(binary[, format='auto']) - array of extraction units (paragraphs/slides/chapters/pages/cues)",
      {
        case Seq(b) => DocUnits(b, "auto")
        case Seq(b, Literal(f: UTF8String, StringType)) => DocUnits(b, f.toString)
        case other => throw new IllegalArgumentException(
          s"doc_units takes (binary[, format-literal]), got $other")
      }),
    ("detect_charset",
      "_FUNC_(binary) - deterministic charset label (utf-8/utf-16le/utf-16be/windows-1252/binary/empty)",
      {
        case Seq(b) => DetectCharset(b)
        case other => throw new IllegalArgumentException(
          s"detect_charset takes 1 argument, got ${other.size}")
      }),
    ("decode_text",
      "_FUNC_(binary[, charset='auto']) - decoded text with BOM stripping (NULL for binary payloads)",
      {
        case Seq(b) => DecodeText(b, "auto")
        case Seq(b, Literal(f: UTF8String, StringType)) => DecodeText(b, f.toString)
        case other => throw new IllegalArgumentException(
          s"decode_text takes (binary[, charset-literal]), got $other")
      }))

  // Sessions already registered — register() is called from every operator
  // entry point for safety, and re-registering the same names spams one
  // SimpleFunctionRegistry "replaced a previously registered function" WARN
  // per function per call. Weak keys: a retired session must not be pinned.
  // A session is marked only once its functions are in its registry, so a
  // caller that finds the mark can resolve every name.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Register into an existing session's function registry (temp functions —
    * the no-config path; tests and notebook sessions). Idempotent per
    * session AND per registry: a cloned session (streaming micro-batches,
    * newSession()) copies the parent's temp functions, so the probe skips
    * re-registering — re-registration is harmless but WARNs "replaced a
    * previously registered function" once per function per call. Safe from
    * concurrent threads: the first registers under the map's lock, and the
    * others wait for it to finish. */
  def register(spark: SparkSession): Unit =
    if (!registered.containsKey(spark)) registered.synchronized {
      if (!registered.containsKey(spark)) {
        val reg = spark.sessionState.functionRegistry
        val probe = org.apache.spark.sql.catalyst.FunctionIdentifier(all.head._1)
        if (!reg.functionExists(probe))
          all.foreach { case (name, _, builder) =>
            reg.createOrReplaceTempFunction(name, builder, "built-in")
          }
        registered.put(spark, java.lang.Boolean.TRUE)
      }
    }

  /** Register a CONTENT-KEYED temp function only when absent: callers name
    * these by hashing the model/params, so an existing entry under the same
    * name is the same function — re-registering would be a no-op that WARNs
    * "replaced a previously registered function" on every reuse. */
  def registerIfAbsent(
      spark: SparkSession, fname: String,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(fname)))
      reg.createOrReplaceTempFunction(fname, builder, "built-in")
  }

  // Scala Column faces: resolved through the session registry at analysis
  // (call_function), so the analyzing session must have passed through
  // register() or carry the GraftExtensions config. Literal params keep the
  // builders' int-literal contract.
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{call_function, lit}

  def minhashSigCol(text: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    call_function("minhash_sig", text, lit(numHashes), lit(shingleSize))

  def shingleHashesCol(text: Column, shingleSize: Int = 3): Column =
    call_function("shingle_hashes", text, lit(shingleSize))

  def docSignatureCol(text: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    call_function("doc_signature", text, lit(numHashes), lit(shingleSize))

  def imageMetaCol(bin: Column): Column = call_function("image_meta", bin)
  def imageAhashCol(bin: Column): Column = call_function("image_ahash", bin)
  def imageDhashCol(bin: Column): Column = call_function("image_dhash", bin)
  def imagePhashCol(bin: Column): Column = call_function("image_phash", bin)
}

/** Trigram-LM rarity as a native expression: struct(rarity_sum, n_trigrams,
  * rarity) in one fused pass. Unlike the registry functions, the model rides
  * INSIDE the expression (sorted key array + parallel counts, referenced
  * from generated code via `addReferenceObj`) — a 4096-entry LM is ~100 KB
  * of plan state, far cheaper than the Dataset-encoder boundary the
  * mapPartitions kernel paid per row. Built by
  * [[graft.functions.Corpus.scoreTrigramRarity]]; not SQL-registrable (the
  * model is not literal-expressible), so it has no GraftFunctions entry. */
case class TrigramRarity(child: Expression, keys: Array[String], cnts: Array[Long],
                         scale: Long, totalN: Long) extends UnaryExpression {
  require(keys.length == cnts.length, "trigram_rarity: keys/cnts must be parallel")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"trigram_rarity requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StructType(Seq(
    StructField("rarity_sum", LongType, nullable = false),
    StructField("n_trigrams", LongType, nullable = false),
    StructField("rarity", LongType, nullable = false)))
  override def prettyName: String = "trigram_rarity"
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any = {
    val r = graft.functions.TextHashKernels.trigramRarity(
      input.asInstanceOf[UTF8String].toString, keys, cnts, scale, totalN)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](r(0), r(1), r(2)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("rarKeys", keys, "java.lang.String[]")
    val cntsRef = ctx.addReferenceObj("rarCnts", cnts, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("rar")
      s"""long[] $r = graft.functions.TextHashKernels.trigramRarity(
         |  $c.toString(), $keysRef, $cntsRef, ${scale}L, ${totalN}L);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{java.lang.Long.valueOf($r[0]), java.lang.Long.valueOf($r[1]),
         |    java.lang.Long.valueOf($r[2])});""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): TrigramRarity =
    copy(child = newChild)
}

/** Unicode normalization (NFC/NFKC/NFD/NFKD via `java.text.Normalizer` —
  * the JDK's Unicode tables, deterministic across JVMs of a release line)
  * as a codegen'd expression: the canonical first pass of corpus cleaning
  * (decomposed accents, fullwidth forms, ligatures collapse to one
  * representation BEFORE any hashing/dedup sees the text). */
case class UnicodeNormalize(child: Expression, form: String) extends UnaryExpression {
  private val normForm = form.toUpperCase match {
    case "NFC" => java.text.Normalizer.Form.NFC
    case "NFKC" => java.text.Normalizer.Form.NFKC
    case "NFD" => java.text.Normalizer.Form.NFD
    case "NFKD" => java.text.Normalizer.Form.NFKD
    case other => throw new IllegalArgumentException(
      s"unicode_normalize: form must be NFC/NFKC/NFD/NFKD, got `$other`")
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, normForm))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val formRef = ctx.addReferenceObj("normForm", normForm, "java.text.Normalizer$Form")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(), $formRef));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Trained language-ID scorer: arg-min language under rank-based char
  * trigram profiles (Cavnar-Trenkle-style, all-integer). The profile
  * rides inside the expression (`addReferenceObj` — the TrigramRarity
  * state pattern; |langs|·topK entries ≈ a few hundred KB at most), so
  * classification is one fused codegen call per row: no join, no
  * shuffle, stream-safe against the static model. Built by
  * [[graft.functions.LangId.withPrediction]]; not SQL-registrable. */
case class LangScore(child: Expression, langs: Array[String], keys: Array[String],
                     ranks: Array[Int], topK: Int) extends UnaryExpression {
  require(keys.length == ranks.length, "lang_score: keys/ranks must be parallel")
  require(langs.nonEmpty, "lang_score: langs must be non-empty")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lang_score requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_score"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHashKernels.langScore(
      input.asInstanceOf[UTF8String].toString, langs, keys, ranks, topK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val langsRef = ctx.addReferenceObj("lsLangs", langs, "java.lang.String[]")
    val keysRef = ctx.addReferenceObj("lsKeys", keys, "java.lang.String[]")
    val ranksRef = ctx.addReferenceObj("lsRanks", ranks, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextHashKernels.langScore(
         |  $c.toString(), $langsRef, $keysRef, $ranksRef, $topK);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LangScore =
    copy(child = newChild)
}

/** Integer-quantized Naive Bayes label prediction — the trained-model
  * pattern of [[LangScore]]: the whole model (per-label sorted bucket
  * keys, bit-length weights, norms, priors) rides inside the plan via
  * `addReferenceObj`, so scoring is one shuffle-free codegen pass. */
case class NbScore(child: Expression, labels: Array[String],
                   bucketKeys: Array[Array[String]], weights: Array[Array[Int]],
                   norms: Array[Int], priors: Array[Int]) extends UnaryExpression {
  require(labels.nonEmpty && labels.length == bucketKeys.length &&
    labels.length == weights.length && labels.length == norms.length &&
    labels.length == priors.length, "nb_score: model arrays must be parallel")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nb_score requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "nb_score"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHashKernels.nbScore(
      input.asInstanceOf[UTF8String].toString, labels, bucketKeys, weights, norms, priors)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val labelsRef = ctx.addReferenceObj("nbLabels", labels, "java.lang.String[]")
    val keysRef = ctx.addReferenceObj("nbKeys", bucketKeys, "java.lang.String[][]")
    val weightsRef = ctx.addReferenceObj("nbWeights", weights, "int[][]")
    val normsRef = ctx.addReferenceObj("nbNorms", norms, "int[]")
    val priorsRef = ctx.addReferenceObj("nbPriors", priors, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TextHashKernels.nbScore(
         |  $c.toString(), $labelsRef, $keysRef, $weightsRef, $normsRef, $priorsRef);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NbScore =
    copy(child = newChild)
}

/** Blocklist membership as a native expression: true iff the host or any
  * dot-suffix of it is in the sorted domain list (binary search in the
  * kernel — no per-row suffix-array materialization, no interpreted HOF
  * lambdas). The list rides inside the expression via `addReferenceObj`,
  * the same state-carrying pattern as [[TrigramRarity]]. Built by the
  * engine's `domain_filter` op for lists past the OR-chain threshold. */
case class DomainMatch(child: Expression, sortedDomains: Array[String])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"domain_match requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "domain_match"

  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHashKernels.domainMatch(
      input.asInstanceOf[UTF8String].toString, sortedDomains)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val domRef = ctx.addReferenceObj("blockDomains", sortedDomains, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashKernels.domainMatch($c.toString(), $domRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): DomainMatch =
    copy(child = newChild)
}

/** `spark.sql.extensions=graft.expressions.GraftExtensions` — the cluster
  * deployment path: every session (and every tool issuing plain SQL against
  * it) sees the functions without per-session registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[MinhashSig].getName, null, name, usage,
          "", "", "", "", "", "", "built-in"),
        builder))
    }
}
