package graft.engine

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapred.{FileInputFormat, FileSplit, JobConf, TextInputFormat}
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Source readers (reference nodes/source.py:102-454). The data model is
 * all-string (reference docs/design.md "Dataframes"): files are read with an
 * all-StringType schema, empty CSV cells stay "" (keep_default_na=False
 * parity), and numeric semantics appear only inside operators via explicit
 * coercion.
 *
 * Scale notes: every reader is a distributed `spark.read` — multi-line
 * header handling pre-reads ONLY the header lines on the driver, then parses
 * the body as a distributed dataset; fixed-width is `spark.read.text` plus
 * substring projections (narrow, codegen'd).
 */
object Sources {

  /** Dispatch by config shape (source.py:32-53): `file` → file reader;
    * `connection`+`query` → JDBC; missing file + optional → empty frame. */
  def read(spark: SparkSession, name: String, cfg: Map[String, Any], configDir: java.nio.file.Path): DataFrame = {
    ensureZstdCodec(spark)
    val fileOpt = Config.str(cfg, "file").map { f =>
      val p = Paths.get(f)
      if (p.isAbsolute) p else configDir.resolve(f)
    }
    val columns = Config.asList(cfg.getOrElse("columns", Nil)).map(_.toString)
    val optional = Config.bool(cfg, "optional")

    val df = fileOpt match {
      // glob patterns (crawl-scale WARC/parquet directories) are expanded
      // once, here; the readers get the matches
      case Some(path) if Files.exists(path) || isGlob(path.toString) =>
        val matches = globMatches(spark, path.toString)
        if (matches.nonEmpty || !isGlob(path.toString))
          readFile(spark, path.toString, matches, cfg, columns, configDir)
        else if (optional) emptyFrame(spark, columns)
        else throw new IllegalArgumentException(s"source `$name`: no file matches $path")
      case Some(path) if optional =>
        emptyFrame(spark, columns)
      case Some(path) =>
        throw new IllegalArgumentException(s"source `$name`: file not found: $path")
      case None if cfg.contains("connection") && Config.str(cfg, "query").nonEmpty =>
        readJdbc(spark, cfg)
      case None if cfg.contains("connection") =>
        readRemote(spark, name, cfg)
      case None =>
        throw new IllegalArgumentException(s"source `$name`: must define `file` or `connection`")
    }

    val optionalFields = Config.asList(cfg.getOrElse("optional_fields", Nil)).map(_.toString)
    // `columns:` post-read semantics (source.py:189-216): positional RENAME
    // only under `rename_cols: true` (counts must match); otherwise SUBSET
    // selection, ignoring optional fields the file doesn't carry and
    // erroring on truly missing columns. A headerless file (header_rows: 0,
    // engine extension) already consumed `columns` as its schema names.
    val headerless = cfg.get("header_rows").exists(v => !v.isInstanceOf[List[_]] && v.toString == "0")
    val renamed =
      if (columns.isEmpty || headerless) df
      else if (Config.bool(cfg, "rename_cols")) {
        if (df.columns.length != columns.size)
          throw new IllegalArgumentException(
            s"source `$name`: specified ${columns.size} `columns` but file has ${df.columns.length} columns")
        df.toDF(columns: _*)
      } else {
        val undefinedOptional = optionalFields.toSet -- df.columns
        val expected = columns.filterNot(undefinedOptional.contains)
        val missing = expected.filterNot(df.columns.contains)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"source `$name`: one or more columns not found in dataset and not marked as optional using `optional_fields`: [${missing.mkString(", ")}]")
        df.select(expected.map(col): _*)
      }

    // optional_fields: columns guaranteed present, filled with "" (source.py:82-97)
    optionalFields.filterNot(renamed.columns.contains).foldLeft(renamed)((d, c) => d.withColumn(c, lit("")))
  }

  private def emptyFrame(spark: SparkSession, columns: Seq[String]): DataFrame = {
    val schema = StructType(columns.map(c => StructField(c, StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Extension → reader (source.py:240-265 `_get_filetype`). `matches` is
    * `globMatches(path)`. */
  def readFile(spark: SparkSession, path: String, matches: Seq[FileStatus], cfg: Map[String, Any],
               columns: Seq[String], configDir: java.nio.file.Path = Paths.get(".")): DataFrame = {
    val ext = Config.str(cfg, "type").getOrElse {
      val lower = path.toLowerCase
      // the Common Crawl double extensions resolve to their real format
      if (lower.endsWith(".warc.gz") || lower.endsWith(".warc.zst") ||
        lower.endsWith(".warc")) "warc"
      else if (lower.endsWith(".wet.gz") || lower.endsWith(".wet.zst") ||
        lower.endsWith(".wet")) "wet"
      else if (lower.endsWith(".tar.gz")) "tgz"
      else {
        // compression suffixes are transparent for type inference: the
        // Hadoop codec layer handles .gz natively and .zst via the
        // registered ZstdCodec, so foo.jsonl.zst IS a jsonl source
        val base =
          if (lower.endsWith(".zst") || lower.endsWith(".gz"))
            lower.substring(0, lower.lastIndexOf('.'))
          else lower
        base.substring(base.lastIndexOf('.') + 1)
      }
    }
    // Spark's own file readers get a glob's matches: handed the pattern,
    // Spark stats it as one path and logs a false "does not exist" trace
    val paths = matches.map(_.getPath.toString)
    def texts(unit: String, column: String = "text")(extract: Array[Byte] => Vector[String]) =
      readUnits(spark, path, matches, unit, strings(column))(extract(_).map(Seq(_)))
    ext match {
      case "csv" => readDelimited(spark, path, matches, ",", cfg, columns)
      case "tsv" => readDelimited(spark, path, matches, "\t", cfg, columns)
      case "txt" | "fwf" | "fixedwidth" => readFixedWidth(spark, path, matches, cfg, configDir)
      case "jsonl" | "ndjson" => spark.read.json(paths: _*)
      case "json" => readJson(spark, path, cfg)
      case "parquet" => spark.read.parquet(paths: _*)
      case "orc" => spark.read.orc(paths: _*)
      case "xml" =>
        val rowTag = Config.str(cfg, "xpath").map(_.stripPrefix("//")).getOrElse("row")
        spark.read.format("xml").option("rowTag", rowTag).load(path)
      // .xlsm is OOXML like .xlsx (macros live in a separate ZIP entry the
      // sheet reader never touches), so it reads through the same parser —
      // matching the reference's xlsm→excel mapping (source.py:240-264)
      case "xlsx" | "xlsm" | "excel" => readExcel(spark, path, cfg, columns, Xlsx.readRows)
      // OpenDocument spreadsheets/text tables (reference source.py:250-263
      // maps odf/ods/odt to pd.read_excel(engine="odf")): same header
      // plumbing, rows from the native ODF content.xml parser
      case "ods" | "odf" | "odt" => readExcel(spark, path, cfg, columns, Ods.readRows)
      // binary OOXML (reference source.py:250-263 → pd.read_excel
      // engine="pyxlsb"): ZIP package with BIFF12 record streams
      case "xlsb" => readExcel(spark, path, cfg, columns, Xlsb.readRows)
      // pre-OOXML binary .xls (reference source.py:250-263 → engine="xlrd"):
      // BIFF8 records out of the CFB container's Workbook stream
      case "xls" => readExcel(spark, path, cfg, columns, Xls.readRows)
      case "html" | "htm" => readHtml(spark, path, cfg)
      case "feather" | "arrow" => readFeather(spark, path)
      case "dta" | "stata" => Stata.read(spark, path)
      case "sas7bdat" | "sas" => Sas.read(spark, path)
      case "sav" | "zsav" | "spss" => Spss.read(spark, path)
      case "pkl" | "pickle" => Pickle.read(spark, path)
      case "avro" => Avro.readAny(spark, path) // file OR the sink's part-file dir
      case "warc" | "wet" => Warc.read(spark, path, matches)
      // PDF text extraction (beyond-reference crawl source): distributed
      // file-level parallelism like WARC — one row per page (file, page,
      // text), pages in page-tree order
      case "pdf" => texts("page")(Pdf.extractText)
      // OOXML text extraction (beyond-reference, the Office share of a
      // document crawl): same distribution shape — one row per paragraph
      // (docx) or slide (pptx)
      case "docx" => texts("paragraph")(Docx.extractParagraphs)
      case "pptx" => texts("slide")(Docx.extractSlides)
      case "rtf" => texts("paragraph")(Rtf.extractParagraphs)
      case "doc" => texts("paragraph")(Doc.extractParagraphs)
      // epub emits chapter MARKUP in spine order; `html_to_text` is the
      // extraction step (composes like the WARC/html crawl path)
      case "epub" => texts("chapter", "html")(Epub.extractChapters)
      // subtitle cues: (file, cue, start_ms, end_ms, text) — the
      // transcript side of a speech/video corpus, integer-exact bounds
      case "srt" | "vtt" => readUnits(spark, path, matches, "cue", Seq(StructField("start_ms", LongType),
        StructField("end_ms", LongType), StructField("text", StringType))) { b =>
        (if (ext == "srt") Subtitles.parseSrt(b) else Subtitles.parseVtt(b)).map { case (s, e, t) => Seq(s, e, t) }
      }
      // mail archives: one row per message with decoded headers + first
      // text/plain MIME leaf
      case "eml" => readUnits(spark, path, matches, "message", mailColumns) { b =>
        val m = Eml.parseEml(b)
        Vector(Seq(m.subject, m.from, m.date, m.text))
      }
      // mbox archives are typically ONE giant file (no WARC-style ~1 GiB
      // convention), so the unit of parallelism must be the HDFS split,
      // not the file: record-delimiter read on the `\nFrom ` separator
      case "mbox" => readMbox(spark, path)
      // WebDataset-style archive shards (LAION/speech corpora ship as
      // ~1 GiB tar files of key.ext members): one row per member with the
      // key/ext split, payload as a binary column for the doc_text /
      // decode_text / image_* expression tier
      case "tar" | "tgz" | "zip" => readArchive(spark, path, matches)
      case other =>
        throw new IllegalArgumentException(s"unsupported source file type `$other` ($path)")
    }
  }

  /** CSV/TSV with all-string schema, ""-preserving nulls.
    *
    * `header_rows` (source.py:334-401): an INT N means "the header is the
    * single row N (1-based); skip the N-1 rows before it" (pandas
    * `skiprows=N-1, header=0`); a LIST of 0-based row indices means a
    * multi-line header flattened to `A__b` names, with upper rows
    * forward-filled only under `fill_sparse_headers: true`, and data
    * starting after the largest listed row. `header_rows: 0` (engine
    * extension) reads headerless with `columns` as the schema names.
    * `columns:` subset/rename happens post-read in `read`.
    *
    * The header is read on the driver from the first data file in sorted
    * order (see `dataFiles`), so defining the frame runs no Spark job;
    * every data file drops its own header rows. The scan gets the matches,
    * not the pattern. */
  private def readDelimited(spark: SparkSession, path: String, matches: Seq[FileStatus], sep: String,
                            cfg: Map[String, Any], columns: Seq[String]): DataFrame = {
    val encoding = Config.str(cfg, "encoding").getOrElse("UTF-8")
    val fillSparse = Config.bool(cfg, "fill_sparse_headers")
    val csvOptions = Map(
      "sep" -> sep,
      "encoding" -> encoding,
      "nullValue" -> "\u0000", // sentinel: keep "" as "" (keep_default_na=False)
      "emptyValue" -> "",
      "escape" -> "\"", // RFC-4180 doubled-quote escaping (pandas default)
      "inferSchema" -> "false")
    val base = spark.read.options(csvOptions)
    val paths = matches.map(_.getPath.toString)
    def headerFile: HPath = dataFiles(spark, matches).nextOption()
      .getOrElse(throw new IllegalArgumentException(s"no input file under $path"))
    def headerLines(n: Int): List[String] = withLines(spark, headerFile, encoding)(_.take(n).map(_._1).toList)
    def splitLine(l: String): Seq[String] =
      l.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    def schema(names: Seq[String]) = StructType(names.map(n => StructField(n, StringType)))
    /** Distributed body parse with known names, dropping each file's first `skip` lines. */
    def body(names: Seq[String], skip: Int): DataFrame =
      base.schema(schema(names)).csv(linesAfter(spark, dataFiles(spark, matches).toSeq, skip, encoding))
        .na.fill("")

    cfg.getOrElse("header_rows", 1) match {
      case l: List[_] =>
        // multi-line header from the listed (0-based) rows
        val idx = l.map(_.toString.toInt)
        val pre = headerLines(idx.max + 1)
        val names = flattenHeaders(idx.map(i => splitLine(pre(i))), fillSparse)
        body(names, idx.max + 1)
      case v if v.toString == "0" =>
        if (columns.isEmpty)
          throw new IllegalArgumentException(s"headerless file $path requires `columns`")
        base.option("header", false).schema(schema(columns)).csv(paths: _*)
          .na.fill("") // unquoted empty cells arrive as null; the all-string
        // model has no missing values (keep_default_na=False parity)
      case v if v.toString == "1" =>
        // the names Spark's header inference derives, without its job
        val options = new CSVOptions(csvOptions + ("header" -> "true"), true, "UTC")
        val names = withLines(spark, headerFile, encoding) { lines =>
          CSVUtils.filterCommentAndEmpty(lines.map(_._1), options).nextOption()
        }.fold(Array.empty[String]) { line =>
          CSVUtils.makeSafeHeader(new CsvParser(options.asParserSettings).parseLine(line),
            spark.conf.get("spark.sql.caseSensitive", "false").toBoolean, options)
        }
        base.option("header", true).schema(schema(names.toIndexedSeq)).csv(paths: _*).na.fill("")
      case v =>
        // header is the single row N; the rows before it are skipped junk
        val n = v.toString.toInt
        val names = flattenHeaders(Seq(splitLine(headerLines(n).last)), fillSparse)
        body(names, n)
    }
  }

  private def isGlob(path: String) = path.exists("*?[".contains(_))

  /** A source path's matches in sorted order: a glob's matches, or the path
    * itself when it exists (Hadoop `globStatus`). */
  private[engine] def globMatches(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).fold(Seq.empty[FileStatus])(_.toSeq).sortBy(_.getPath.toString)
  }

  /** The data files under a source's matches, in sorted order: a file match
    * is itself, a directory is walked depth first (a partitioned
    * destination keeps its files under `k=v/`), skipping at every level
    * the names Spark's file index skips — `_` or `.` first (a `_` name
    * holding `=` is a partition directory) or a `._COPYING_` suffix. */
  private def dataFiles(spark: SparkSession, matches: Seq[FileStatus]): Iterator[HPath] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def walk(st: FileStatus): Iterator[HPath] =
      if (!st.isDirectory) Iterator(st.getPath)
      else st.getPath.getFileSystem(conf).listStatus(st.getPath)
        .filterNot(f => hidden(f.getPath.getName)).sortBy(_.getPath.toString).iterator.flatMap(walk)
    matches.iterator.flatMap(walk)
  }

  /** `f` over the lines of `file` as Hadoop's TextInputFormat reads them,
    * each with the bytes it takes in the decompressed stream: decoded by the
    * Hadoop codec for its suffix (.gz, or .zst through ZstdCodec), split by
    * LineReader (\n, \r, \r\n), a leading UTF-8 BOM dropped from the text as
    * LineRecordReader drops it, each line decoded with `encoding`. */
  private def withLines[T](spark: SparkSession, file: HPath, encoding: String)
                          (f: Iterator[(String, Int)] => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = file.getFileSystem(conf).open(file)
    val reader = new LineReader(Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw)))
    try {
      var first = true
      f(Iterator.continually {
        val t = new Text()
        val consumed = reader.readLine(t)
        if (consumed == 0) null
        else {
          val b = t.getBytes
          val bom = first && t.getLength >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte
          first = false
          val line = if (bom) new String(b, 3, t.getLength - 3, encoding) else new String(b, 0, t.getLength, encoding)
          (line, consumed)
        }
      }.takeWhile(_ != null))
    } finally reader.close()
  }

  /** The lines of `files` with each file's first `skip` physical lines
    * dropped, each decoded with `encoding` in its task, as one Hadoop text
    * scan split as `sc.textFile` splits. The
    * driver reads each file's first `skip` lines to learn the byte offset
    * its body starts at; a task keeps a line when its key (the line's
    * offset in the decompressed stream) is at or past that offset. So the
    * right lines go however a file splits, also when the skipped lines span
    * a split boundary (SourcesSpec pins it with a forced multi-split read),
    * and K files cost K small driver reads, not K scans. */
  private def linesAfter(spark: SparkSession, files: Seq[HPath], skip: Int,
                         encoding: String): Dataset[String] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val bodyStart = files.map(f =>
      f.toUri.getPath -> withLines(spark, f, "UTF-8")(_.take(skip).map(_._2.toLong).sum)).toMap
    val job = new JobConf(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(job, files: _*)
    sc.hadoopRDD(job, classOf[TextInputFormat], classOf[LongWritable], classOf[Text], sc.defaultMinPartitions)
      .asInstanceOf[org.apache.spark.rdd.HadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit { (split, lines) =>
        val start = bodyStart(split.asInstanceOf[FileSplit].getPath.toUri.getPath)
        lines.collect { case (offset, line) if offset.get >= start =>
          new String(line.getBytes, 0, line.getLength, encoding) }
      }.toDS()
  }

  /** Multi-row headers flattened to `A__b` (source.py:346-401): upper rows
    * forward-fill only when `fill` (fill_sparse_headers) is set; per-column
    * pieces join with "__", skipping blanks. */
  private[engine] def flattenHeaders(rows: Seq[Seq[String]], fill: Boolean = false): Seq[String] = {
    val width = rows.map(_.size).max
    val filled = rows.zipWithIndex.map { case (r, i) =>
      val padded = r.padTo(width, "")
      if (!fill || i == rows.size - 1) padded.map(_.trim) // the last row is never forward-filled
      else padded.scanLeft("") { case (prev, cell) => if (cell.trim.isEmpty) prev else cell.trim }.tail
    }
    (0 until width).map { c =>
      filled.map(_(c).trim).filter(_.nonEmpty).mkString("__") match {
        case "" => s"_c$c"
        case n => n
      }
    }
  }

  /** Whole-document JSON (source.py:412 `dd.read_json(typ, orient)`).
    * A top-level ARRAY is records — read natively (distributed multiLine
    * parse), which also matches pandas' lenient handling of lists under any
    * orient. A top-level OBJECT follows `orientation`: `columns` (pandas
    * default — {"col": {"rowKey": value}}) or `index` ({"rowKey": {"col":
    * value}}); those documents are driver-parsed (bounded — a columns-dict
    * is a small hand-made artifact), re-serialized as records and schema-
    * inferred by the native reader so types match the records path. */
  private def readJson(spark: SparkSession, path: String, cfg: Map[String, Any]): DataFrame = {
    val in = Files.newBufferedReader(Paths.get(path))
    val first = try {
      var c = in.read()
      while (c != -1 && Character.isWhitespace(c)) c = in.read()
      c.toChar
    } finally in.close()
    if (first == '[') spark.read.option("multiLine", true).json(path)
    else {
      import graft.template.Jinja
      val doc = Config.asMap(Jinja.Json.parse(Files.readString(Paths.get(path))))
      val orient = Config.str(cfg, "orientation").getOrElse("columns")
      val records: Seq[Map[String, Any]] = orient match {
        case "columns" =>
          val cols = doc.map { case (c, v) => c -> Config.asMap(v) }
          val rowKeys = cols.values.flatMap(_.keys).toSeq.distinct
          rowKeys.map(rk => cols.collect { case (c, m) if m.contains(rk) => c -> m(rk) }.toMap)
        case "index" =>
          doc.values.map(Config.asMap).toSeq
        case other => throw new IllegalArgumentException(
          s"json source $path: unsupported `orientation` `$other` (columns, index)")
      }
      import spark.implicits._
      spark.read.json(spark.createDataset(records.map(Jinja.Json.write)))
    }
  }

  /** Excel .xlsx (source.py:407 `pd.read_excel(sheet_name, keep_default_na=
    * False, header, skiprows)`): driver-side ZIP+XML parse (see Xlsx), then
    * parallelized into an all-string DataFrame. `sheet` (name or index),
    * `skiprows` (engine extension, applied first), `header_rows` with the
    * same semantics as delimited files (INT N = header is the single row N,
    * rows before it skipped; LIST = multi-line flattened header honoring
    * `fill_sparse_headers`; 0 = headerless + `columns` naming). `columns:`
    * subset/rename happens post-read in `read`. */
  private def readExcel(spark: SparkSession, path: String, cfg: Map[String, Any],
                        columns: Seq[String],
                        readRows: (String, Option[String]) => Vector[Vector[String]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val skiprows = Config.int(cfg, "skiprows").getOrElse(0)
    val fillSparse = Config.bool(cfg, "fill_sparse_headers")
    val rows0 = readRows(path, Config.str(cfg, "sheet")).drop(skiprows)
    val (names: Seq[String], body: Seq[Vector[String]]) =
      cfg.getOrElse("header_rows", 1) match {
        case l: List[_] =>
          val idx = l.map(_.toString.toInt)
          (flattenHeaders(idx.map(rows0(_)), fillSparse), rows0.drop(idx.max + 1))
        case v if v.toString == "0" =>
          if (columns.isEmpty)
            throw new IllegalArgumentException(s"headerless xlsx $path requires `columns`")
          (columns, rows0)
        case v =>
          val n = v.toString.toInt
          (flattenHeaders(Seq(rows0(n - 1)), fillSparse), rows0.drop(n))
      }
    val width = names.size
    val rows = body.map(r =>
      org.apache.spark.sql.Row.fromSeq(r.padTo(width, "").take(width)))
    val schema = StructType(names.map(n => StructField(n, StringType)))
    spark.createDataFrame(rows.asJava, schema)
  }


  /** Feather v2 = Arrow IPC file (source.py:408 `pd.read_feather`):
    * driver-side read through the Arrow Java libs Spark already ships,
    * preserving native types for the common primitives — the same
    * whole-file-on-one-process shape as the reference. Compressed files
    * (lz4/zstd, the pyarrow defaults) decode via Arrow's compression
    * factory over Spark's bundled codecs. */
  private def readFeather(spark: SparkSession, path: String): DataFrame = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    import org.apache.spark.sql.types._
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val ch = java.nio.channels.FileChannel.open(Paths.get(path))
    val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(
      ch, alloc, org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
    try {
      val root = reader.getVectorSchemaRoot
      val fields = root.getSchema.getFields.asScala.toSeq
      def sparkType(t: ArrowType): DataType = t match {
        case i: ArrowType.Int if i.getBitWidth == 64 => LongType
        case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
        case _: ArrowType.Int => IntegerType
        case f: ArrowType.FloatingPoint
          if f.getPrecision == org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE => DoubleType
        case _: ArrowType.FloatingPoint => FloatType
        case _: ArrowType.Bool => BooleanType
        case _ => StringType
      }
      val schema = StructType(fields.map(f =>
        StructField(f.getName, sparkType(f.getType), nullable = true)))
      def convert(v: Any, dt: DataType): Any = (v, dt) match {
        case (null, _) => null
        case (x: java.lang.Number, IntegerType) => x.intValue()
        case (x: java.lang.Number, LongType) => x.longValue()
        case (x: java.lang.Number, DoubleType) => x.doubleValue()
        case (x: java.lang.Number, FloatType) => x.floatValue()
        case (x: java.lang.Boolean, BooleanType) => x
        case (x, _) => x.toString
      }
      val rows = Vector.newBuilder[org.apache.spark.sql.Row]
      while (reader.loadNextBatch()) {
        var i = 0
        val n = root.getRowCount
        while (i < n) {
          rows += org.apache.spark.sql.Row.fromSeq(fields.indices.map(j =>
            convert(root.getVector(j).getObject(i), schema(j).dataType)))
          i += 1
        }
      }
      spark.createDataFrame(rows.result().asJava, schema)
    } finally { reader.close(); ch.close(); alloc.close() }
  }

  /** HTML `<table>` scrape (source.py:410 `pd.read_html(match)[0]`):
    * driver-side regex extraction of the first table whose text matches
    * `match` (default any). An all-<th> first row becomes the header, like
    * pandas' inference; otherwise columns are named by position. Driver-side
    * is the right scale call: an HTML page is a human-sized artifact. */
  private def readHtml(spark: SparkSession, path: String, cfg: Map[String, Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val matchRe = Config.str(cfg, "match").getOrElse(".+").r
    val html = Files.readString(Paths.get(path))
    def unescape(s: String): String = s
      .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")
    def stripTags(s: String): String = unescape(s.replaceAll("(?s)<[^>]*>", "")).trim
    val tableRe = "(?is)<table[^>]*>(.*?)</table>".r
    val rowRe = "(?is)<tr[^>]*>(.*?)</tr>".r
    val cellRe = "(?is)<(th|td)[^>]*>(.*?)</\\1>".r
    val tables = tableRe.findAllMatchIn(html).map(_.group(1)).toVector
    val picked = tables.find(t => matchRe.findFirstIn(stripTags(t)).nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"html $path: no <table> matching `${matchRe.pattern.pattern}` (${tables.size} tables found)"))
    val rows: Vector[(Vector[String], Boolean)] = rowRe.findAllMatchIn(picked).map { r =>
      val cells = cellRe.findAllMatchIn(r.group(1)).toVector
      (cells.map(c => stripTags(c.group(2))), cells.nonEmpty && cells.forall(_.group(1).equalsIgnoreCase("th")))
    }.toVector.filter(_._1.nonEmpty)
    if (rows.isEmpty) throw new IllegalArgumentException(s"html $path: matched table has no rows")
    val headerIsTh = rows.head._2
    val names = if (headerIsTh) rows.head._1 else rows.head._1.indices.map(_.toString).toVector
    val body = if (headerIsTh) rows.tail else rows
    val width = names.size
    val data = body.map(r => org.apache.spark.sql.Row.fromSeq(r._1.padTo(width, "").take(width)))
    val schema = StructType(names.map(n => StructField(n, StringType)))
    spark.createDataFrame(data.asJava, schema)
  }

  /** Fixed-width (source.py:270-324): column layout from inline
    * `colspecs` ([[start,end],...] 0-based end-exclusive, pandas read_fwf
    * convention) or `widths`, with names from `columns` (reference name) or
    * `names`; OR from a `colspec_file` CSV + `colspec_headers` mapping
    * which of its columns hold name/start/end/width (start+end take
    * precedence over width, as in the reference). Implemented as substring
    * projections over spark.read.text — narrow and codegen'd. */
  private def readFixedWidth(spark: SparkSession, path: String, matches: Seq[FileStatus],
                             cfg: Map[String, Any], configDir: java.nio.file.Path): DataFrame = {
    val (names: Seq[String], colspecs: Seq[(Int, Int)]) = Config.str(cfg, "colspec_file") match {
      case Some(cf) =>
        val cfPath = { val p0 = Paths.get(cf); if (p0.isAbsolute) p0 else configDir.resolve(cf) }
        if (!Files.exists(cfPath))
          throw new IllegalArgumentException(s"colspec file '$cf' not found")
        val lines = Files.readAllLines(cfPath).asScala.toVector.filter(_.nonEmpty)
        val hdr = lines.head.split(",", -1).map(_.trim).toSeq
        val rows = lines.tail.map(_.split(",", -1).map(_.trim).toSeq)
        val ch = cfg.get("colspec_headers").map(Config.asMap).getOrElse(
          throw new IllegalArgumentException("`colspec_headers` must be specified when supplying a colspec file"))
        def idxOf(key: String): Option[Int] = ch.get(key).map { v =>
          val i = hdr.indexOf(v.toString)
          if (i < 0) throw new IllegalArgumentException(
            s"colspec file '$cf' has no column `${v.toString}` (for colspec_headers.$key)")
          i
        }
        val nameIdx = idxOf("name").getOrElse(
          throw new IllegalArgumentException("a `name` column must be provided when supplying colspec_headers"))
        val ns = rows.map(_(nameIdx))
        (idxOf("start"), idxOf("end"), idxOf("width")) match {
          // start/end take precedence over width (source.py:306-311)
          case (Some(si), Some(ei), _) =>
            (ns, rows.map(r => (r(si).toInt, r(ei).toInt)))
          case (_, _, Some(wi)) =>
            val widths = rows.map(_(wi).toInt)
            (ns, widths.scanLeft(0)(_ + _).sliding(2).map(p => (p(0), p(1))).toSeq)
          case _ => throw new IllegalArgumentException(
            "either `width` or (`start`, `end`) must be specified when supplying colspec_headers")
        }
      case None =>
        // inline: the reference names these via `columns` (we also accept `names`)
        val ns = Config.asScalarList(cfg.getOrElse("columns",
          cfg.getOrElse("names", Nil))).map(_.toString)
        if (ns.isEmpty) throw new IllegalArgumentException(
          s"No `colspec_file` specified for fixedwidth source $path. In this case, `columns` must be specified, and `colspecs` or `widths` must be specified")
        val specs: Seq[(Int, Int)] =
          if (cfg.contains("colspecs"))
            Config.asList(cfg("colspecs")).map { sp =>
              val p0 = Config.asList(sp).map(_.toString.toInt); (p0(0), p0(1))
            }
          else if (cfg.contains("widths")) {
            val widths = Config.asList(cfg("widths")).map(_.toString.toInt)
            widths.scanLeft(0)(_ + _).sliding(2).map(p => (p(0), p(1))).toSeq
          } else throw new IllegalArgumentException(s"fixedwidth source $path requires `colspecs` or `widths`")
        (ns, specs)
    }
    if (names.size != colspecs.size)
      throw new IllegalArgumentException(s"fixedwidth: ${names.size} names but ${colspecs.size} colspecs")
    val headerRows = Config.int(cfg, "header_rows").getOrElse(0)
    val text =
      if (headerRows > 0) linesAfter(spark, dataFiles(spark, matches).toSeq, headerRows, "UTF-8").toDF("value")
      else spark.read.text(matches.map(_.getPath.toString): _*)
    text.select(names.zip(colspecs).map { case (n, (a, b)) =>
      trim(substring(col("value"), a + 1, b - a)).as(n)
    }.toIndexedSeq: _*)
  }


  /** FTP/URL source (reference nodes/source.py:457-518 FtpSource): fetch the
    * remote object once on the driver into a local temp file — exactly the
    * reference's ftplib RETR-into-memory shape, but spooled to disk so the
    * payload never has to fit on the driver heap — then hand it to the
    * distributed file reader. Supports any java.net.URL scheme available to
    * the JVM (ftp/http/file). */
  private def readRemote(spark: SparkSession, name: String, cfg: Map[String, Any]): DataFrame = {
    val url = Config.reqStr(cfg, "connection", s"source `$name`")
    val fileName = url.substring(url.lastIndexOf('/') + 1)
    val ext = Config.str(cfg, "type").getOrElse(
      fileName.substring(fileName.lastIndexOf('.') + 1).toLowerCase)
    val tmp = Files.createTempFile("graft-remote-", s".$ext")
    val uri = java.net.URI.create(url)
    if (uri.getScheme == "ftp") ftpFetch(uri, tmp)
    else {
      val in = uri.toURL.openStream()
      try Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
    }
    val columns = Config.asList(cfg.getOrElse("columns", Nil)).map(_.toString)
    readFile(spark, tmp.toString, globMatches(spark, tmp.toString), cfg, columns)
  }

  /** Minimal FTP RETR client — the reference's ftplib shape (source.py:
    * 457-518: USER/PASS login, binary TYPE I, passive PASV, RETR into a
    * buffer), driven directly because the JVM's own ftp: URL handler is
    * shadowed once Spark registers Hadoop's FsUrlStreamHandlerFactory
    * (whose FTPFileSystem needs fs.ftp.* cluster config instead of the
    * URL's own credentials). Loopback-tested in SourcesSpec against a
    * real protocol exchange. */
  private def ftpFetch(uri: java.net.URI, out: java.nio.file.Path): Unit = {
    val port = if (uri.getPort > 0) uri.getPort else 21
    val (user, pass) = Option(uri.getUserInfo) match {
      case Some(ui) =>
        val i = ui.indexOf(':')
        if (i >= 0) (ui.substring(0, i), ui.substring(i + 1)) else (ui, "")
      case None => ("anonymous", "graft@") // RFC 1635 anonymous convention
    }
    // connect() with an explicit timeout: `new Socket(host, port)` blocks
    // for the OS default TCP connect timeout (minutes) on a blackholed
    // host — the read-path soTimeout below never applies to connect
    val sock = new java.net.Socket()
    try {
      sock.connect(new java.net.InetSocketAddress(uri.getHost, port), 60000)
      sock.setSoTimeout(60000)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "US-ASCII"))
      val os = sock.getOutputStream
      def send(cmd: String): Unit = {
        os.write((cmd + "\r\n").getBytes("US-ASCII"))
        os.flush()
      }
      def reply(): String = {
        var l = in.readLine()
        if (l == null) throw new java.io.IOException("ftp: connection closed")
        if (l.length >= 4 && l.charAt(3) == '-') {
          // multi-line reply: "123-..." continues until a "123 " line
          val code = l.substring(0, 3)
          var done = false
          while (!done) {
            val m = in.readLine()
            if (m == null) throw new java.io.IOException("ftp: connection closed")
            l = m
            done = l.length >= 4 && l.startsWith(code) && l.charAt(3) == ' '
          }
        }
        l
      }
      def expect(cmd: String, okFirst: Char): String = {
        send(cmd)
        val r = reply()
        if (r.isEmpty || r.charAt(0) != okFirst)
          throw new java.io.IOException(s"ftp: `$cmd` rejected: $r")
        r
      }
      val greet = reply()
      if (!greet.startsWith("2"))
        throw new java.io.IOException(s"ftp: bad greeting: $greet")
      send(s"USER $user")
      val ur = reply()
      if (ur.startsWith("3")) expect(s"PASS $pass", '2')
      else if (!ur.startsWith("2"))
        throw new java.io.IOException(s"ftp: login rejected: $ur")
      expect("TYPE I", '2')
      val pasv = expect("PASV", '2')
      val m = """(\d+),(\d+),(\d+),(\d+),(\d+),(\d+)""".r.findFirstMatchIn(pasv)
        .getOrElse(throw new java.io.IOException(s"ftp: unparsable PASV reply: $pasv"))
      // connect back to the CONTROL host, not the advertised address —
      // NAT-safe, what every modern client does
      val dport = m.group(5).toInt * 256 + m.group(6).toInt
      val data = new java.net.Socket()
      try {
        data.connect(new java.net.InetSocketAddress(uri.getHost, dport), 60000)
        data.setSoTimeout(60000)
        expect(s"RETR ${uri.getPath}", '1')
        Files.copy(data.getInputStream, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally data.close()
      val done = reply()
      if (!done.startsWith("2"))
        throw new java.io.IOException(s"ftp: transfer failed: $done")
      send("QUIT")
    } finally sock.close()
  }

  /** SQL source → Spark JDBC (strictly better than the reference's
    * whole-result-on-driver pd.read_sql: pushdown + partitioned reads;
    * source.py:521-622). */
  private def readJdbc(spark: SparkSession, cfg: Map[String, Any]): DataFrame = {
    val url = Config.reqStr(cfg, "connection", "sql source")
    val query = Config.reqStr(cfg, "query", "sql source")
    spark.read.format("jdbc")
      .option("url", url)
      .option("query", query)
      .load()
  }

  /** Whole-file read with a parallelism floor: (path, open-thunk) pairs.
    *
    * NOT built on `sc.binaryFiles`, which is pathological for the real
    * crawl shape (one directory, tens of thousands of small documents):
    * it packs files into combine-splits by BYTE size, so 50k tiny files
    * collapse into ONE split and one task regardless of minPartitions —
    * and worse, every PortableDataStream record lazily RE-DESERIALIZES
    * its whole CombineFileSplit (all 50k sibling paths, each through
    * Path's regex normalization), making per-record cost linear in the
    * split's file count and the scan quadratic overall (measured: a
    * 50k-RTF read pinned one core for minutes in
    * CombineFileSplit.readFields; a repartition "fix" shuffles 50k ×
    * 3.6 MB of split bytes and OOMs the executor).
    *
    * Since every consumer reads WHOLE files, the unit of work is the
    * path: take the matches `read` globbed once (a directory match is
    * listed, as binaryFiles lists it), parallelize the sorted path strings across
    * the default parallelism, and open each file in its own task through
    * a Configuration rebuilt from a broadcast key/value snapshot (public
    * API only — Hadoop Configuration itself is not serializable). On a
    * real cluster this trades HDFS block locality for even file-count
    * balance — the right trade for whole-file document reads, where
    * files are small and remote-read cost is dwarfed by parse cost. */
  private[engine] def binaryFilesSpread(spark: SparkSession, path: String, matches: Seq[FileStatus])
      : org.apache.spark.rdd.RDD[(String, () => java.io.InputStream)] = {
    val sc = spark.sparkContext
    val files = matches.flatMap { st =>
      if (st.isDirectory)
        st.getPath.getFileSystem(sc.hadoopConfiguration).listStatus(st.getPath).filter(_.isFile).toSeq
      else Seq(st)
    }.map(_.getPath.toString).sorted
    if (files.isEmpty)
      throw new IllegalArgumentException(s"no input files match $path")
    val confSnapshot = sc.hadoopConfiguration.asScala
      .map(e => (e.getKey, e.getValue)).toArray
    val bconf = sc.broadcast(confSnapshot)
    val par = math.min(sc.defaultParallelism, files.length)
    sc.parallelize(files.toIndexedSeq, par).map { path =>
      (path, { () =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        bconf.value.foreach { case (k, v) => conf.set(k, v) }
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).open(p): java.io.InputStream
      })
    }
  }

  /** Documents read as one row per unit (page, paragraph, slide, chapter,
    * cue, message): each file is extracted in its own task into
    * (file, `unit` 1-based in document order, `values`...). An extraction
    * error is raised with the file name (the engine's diagnosable-error
    * contract). */
  private def readUnits(spark: SparkSession, path: String, matches: Seq[FileStatus], unit: String,
                        values: Seq[StructField])(extract: Array[Byte] => Vector[Seq[Any]]): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = binaryFilesSpread(spark, path, matches).flatMap { case (file, open) =>
      val in = open()
      val units =
        try extract(try in.readAllBytes() finally in.close())
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"$file: ${e.getMessage}", e)
        }
      units.zipWithIndex.map { case (v, i) => Row.fromSeq(file +: (i + 1).toLong +: v) }
    }
    spark.createDataFrame(rows,
      StructType(StructField("file", StringType) +: StructField(unit, LongType) +: values))
  }

  private def strings(names: String*): Seq[StructField] = names.map(StructField(_, StringType))

  /** The columns after (file, message) of a mail source, eml or mbox. */
  private val mailColumns = strings("subject", "mail_from", "date", "text")

  /** WebDataset-style archive shards: one row per member —
    * (shard, entry, key, ext, n_bytes, content) with the key/ext split at
    * the first dot of the basename (so `0001.txt` and `0001.seg.png`
    * share sample key `0001`, the WebDataset grouping convention).
    *
    * Scale shape: the SHARD is the unit of parallelism (the reason the
    * format exists — shards are written ~1 GiB, one task each), members
    * STREAM off the open HDFS stream one at a time (bounded by
    * `Tar.memberCap`, never the archive), and a glob may mix `.tar`,
    * `.tar.gz`/`.tgz` and `.zip` shards — the container is sniffed
    * per-file so a heterogeneous corpus reads in one pass. */
  private def readArchive(spark: SparkSession, path: String, matches: Seq[FileStatus]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.BinaryType
    val rows = binaryFilesSpread(spark, path, matches).flatMap { case (file, open) =>
      val lower = file.toLowerCase
      val entries =
        try {
          if (lower.endsWith(".zip")) Tar.zipEntries(open())
          else if (lower.endsWith(".tar.gz") || lower.endsWith(".tgz"))
            Tar.tarEntries(new java.util.zip.GZIPInputStream(open()))
          else if (lower.endsWith(".tar.zst"))
            Tar.tarEntries(new com.github.luben.zstd.ZstdInputStream(open()))
          else Tar.tarEntries(open())
        } catch { case e: Exception =>
          throw new IllegalArgumentException(s"$file: ${e.getMessage}", e)
        }
      // the iterator parses lazily — re-wrap mid-stream failures with the
      // shard name so the diagnosable-error contract holds there too
      new Iterator[Row] {
        private var i = 0L
        private def guard[A](f: => A): A =
          try f catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"$file: ${e.getMessage}", e)
          }
        override def hasNext: Boolean = guard(entries.hasNext)
        override def next(): Row = {
          val e = guard(entries.next())
          i += 1
          val (key, ext) = Tar.splitKeyExt(e.name)
          Row(file, i, key, ext, e.bytes.length.toLong, e.bytes)
        }
      }
    }
    val schema = StructType(Seq(
      StructField("shard", StringType), StructField("entry", LongType),
      StructField("key", StringType), StructField("ext", StringType),
      StructField("n_bytes", LongType), StructField("content", BinaryType)))
    spark.createDataFrame(rows, schema)
  }

  /** One mbox record's message body (separator line dropped, `>From `
    * unquoted), or None for blank trailing records. Shared by the count
    * and parse passes of [[readMbox]] so their record filters agree. */
  private def mboxBody(off: Long, s: String, file: String): Option[String] = {
    if (off == 0L && !s.startsWith("From "))
      throw new IllegalArgumentException(
        s"$file: mbox: does not start with a `From ` separator")
    // Drop the separator line: the offset-0 record carries the full
    // `From ...` line; later records had `\nFrom ` consumed by the
    // delimiter and start at the envelope-sender remainder.
    val nl = s.indexOf('\n')
    val body = if (nl < 0) "" else s.substring(nl + 1)
    if (body.trim.isEmpty) None else Some(body)
  }

  /** Register [[ZstdCodec]] so every Hadoop-backed text reader (csv/tsv/
    * json/jsonl/text and the record-delimiter paths) handles `*.zst`
    * transparently. `io.compression.codecs` REPLACES Hadoop's default
    * list when set, so when the key is unset the full ServiceLoader
    * default set (gzip/bzip2/deflate/lz4/snappy/…) is snapshotted via
    * `CompressionCodecFactory.getCodecClasses` first and rides along —
    * a hardcoded subset would silently drop `.lz4`/`.snappy` support
    * session-wide. Idempotent; session-global. */
  private def ensureZstdCodec(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "io.compression.codecs"
    val me = classOf[ZstdCodec].getName
    val cur = hc.get(key, "")
    if (!cur.contains(me)) {
      import scala.jdk.CollectionConverters._
      val base =
        if (cur.isEmpty)
          org.apache.hadoop.io.compress.CompressionCodecFactory
            .getCodecClasses(hc).asScala.toSeq.map(_.getName)
        else cur.split(",").toSeq.filter(_.nonEmpty)
      hc.set(key, (base :+ me).distinct.mkString(","))
    }
  }

  /** mboxo tolerance for the splittable path: a record produced by the
    * `"\nFrom "` delimiter starts at the envelope remainder, so the
    * message-shape check ([[Eml.looksLikeMessage]]) applies from its
    * SECOND line on. */
  private def mboxLooksLikeStart(s: String): Boolean = {
    val nl = s.indexOf('\n')
    nl >= 0 && Eml.looksLikeMessage(s, nl + 1)
  }

  /** Merge mboxo false splits back into their owners. Returns the split's
    * LEADING continuation blob (owned by the previous split's last
    * message; empty in mboxrd corpora) and the merged message records.
    * Both passes of [[readMbox]] share this, so counts and parses agree. */
  private def mboxMerge(it: Iterator[(Long, String)]): (String, Iterator[(Long, String)]) = {
    val buf = it.buffered
    val lead = new StringBuilder
    while (buf.hasNext && buf.head._1 != 0L && !mboxLooksLikeStart(buf.head._2)) {
      lead.append("\nFrom ").append(buf.next()._2)
    }
    val merged = new Iterator[(Long, String)] {
      def hasNext: Boolean = buf.hasNext
      def next(): (Long, String) = {
        val (off, first) = buf.next()
        if (!buf.hasNext || mboxLooksLikeStart(buf.head._2)) (off, first)
        else {
          val sb = new StringBuilder(first)
          while (buf.hasNext && !mboxLooksLikeStart(buf.head._2)) {
            sb.append("\nFrom ").append(buf.next()._2)
          }
          (off, sb.toString)
        }
      }
    }
    (lead.toString, merged)
  }

  /** Splittable mbox: a mail archive is usually ONE multi-GB file (no
    * WARC-style ~1 GiB object convention), so the whole-file
    * `binaryFiles` shape (fine for eml directories) would collapse it to
    * a single task. Instead the separator itself becomes the Hadoop
    * record delimiter (`textinputformat.record.delimiter` = "\nFrom "),
    * so the archive splits at block granularity and every executor
    * parses its own slice of messages; `>From ` body quoting (the reason
    * the mbox convention exists) keeps body lines from matching. mboxo
    * corpora with UNQUOTED body `From ` lines still read correctly:
    * records whose head fails the RFC 5322 shape check ([[mboxLooksLikeStart]])
    * merge back into their predecessor, across split boundaries via the
    * same driver pass that prefix-sums the counts. The record at byte
    * offset 0 must still start with `From ` — preserving the not-an-mbox
    * diagnostic of the old whole-file path.
    *
    * `message` (1-based position within its file, dense — parity with
    * the eml path) is recovered WITHOUT a shuffle by the same two-phase
    * prefix-sum pattern as Sampling: a cheap first pass (record split +
    * blank check, no MIME parse) counts messages per input split, the
    * driver prefix-sums the per-(file, split) counts (bounded by the
    * split count, like the 256 bucket totals), and the parse pass adds
    * split base + local rank. Records inside a split arrive in byte
    * order and a file's splits have ascending partition ids
    * (FileInputFormat generates them per file in offset order), so the
    * numbering is exact. Costs a second scan of the input, but both
    * passes are narrow and embarrassingly parallel — against one huge
    * archive that beats a window that would sort the whole file in a
    * single reducer. */
  private def readMbox(spark: SparkSession, pathGlob: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}
    def records() = {
      val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("textinputformat.record.delimiter", "\nFrom ")
      spark.sparkContext.newAPIHadoopFile(
        pathGlob, classOf[TextInputFormat], classOf[LongWritable], classOf[Text], conf)
        .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
    }
    // Text carries the raw record bytes verbatim (no UTF-8 validation),
    // so ISO-8859-1 decode is byte-transparent for the MIME layer.
    def decode(t: Text): String =
      new String(t.copyBytes(), java.nio.charset.StandardCharsets.ISO_8859_1)
    // Pass 1: per (partition, file) message counts AND each split's
    // leading mboxo-continuation blob (owned by an earlier split's last
    // message) — no MIME decode.
    val counts = records().mapPartitionsWithInputSplit { (split, it) =>
      val file = split.asInstanceOf[FileSplit].getPath.toString
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val (lead, msgs) = mboxMerge(it.map { case (off, t) => (off.get, decode(t)) })
      var n = 0L
      msgs.foreach { case (off, s) => if (mboxBody(off, s, file).isDefined) n += 1 }
      require(lead.length <= (32 << 20),
        s"$file: mboxo continuation spanning a split exceeds 32 MiB — re-quote as mboxrd")
      Iterator((pid, file, n, lead))
    }.collect().sortBy(_._1)
    // total driver bound: each split's blob is capped at 32 MiB above,
    // but a pathological archive (thousands of pure-continuation splits)
    // could still pressure the driver — cap the SUM too, diagnosably
    val leadCap = spark.conf.getOption("spark.graft.mbox.maxLeadBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val totalLead = counts.iterator.map(_._4.length.toLong).sum
    require(totalLead <= leadCap,
      s"mbox: $totalLead bytes of mboxo continuations across " +
        s"${counts.count(_._4.nonEmpty)} splits exceeds the $leadCap-byte " +
        "driver bound — re-quote the archive as mboxrd (`>From ` body quoting)")
    val bases = new Array[Long](counts.length)
    // tail blob per partition: leading continuations of LATER splits of
    // the same file chain back to the nearest earlier split that emitted
    // a message (a split can be pure continuation and contribute none)
    val tails = Array.fill(counts.length)("")
    val running = scala.collection.mutable.Map.empty[String, Long]
    val lastOwner = scala.collection.mutable.Map.empty[String, Int]
    counts.foreach { case (pid, file, n, lead) =>
      val base = running.getOrElse(file, 0L)
      bases(pid) = base
      running(file) = base + n
      if (lead.nonEmpty) {
        val owner = lastOwner.getOrElse(file, throw new IllegalArgumentException(
          s"$file: mboxo continuation with no preceding message"))
        tails(owner) += lead
      }
      if (n > 0) lastOwner(file) = pid
    }
    val bBases = spark.sparkContext.broadcast(bases)
    val bTails = spark.sparkContext.broadcast(tails)
    // Pass 2: full parse, message = split base + local rank; the last
    // message of a split also absorbs any continuation blob that the
    // delimiter pushed into later splits.
    val rows = records().mapPartitionsWithInputSplit { (split, it) =>
      val file = split.asInstanceOf[FileSplit].getPath.toString
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var k = bBases.value(pid)
      val tail = bTails.value(pid)
      val (_, msgs) = mboxMerge(it.map { case (off, t) => (off.get, decode(t)) })
      val bodies = msgs.flatMap { case (off, s) => mboxBody(off, s, file).map((off, _)) }
      new Iterator[Row] {
        def hasNext: Boolean = bodies.hasNext
        def next(): Row = {
          val (off, body0) = bodies.next()
          val body = if (!bodies.hasNext && tail.nonEmpty) body0 + tail else body0
          val unquoted = body.replaceAll("(?m)^>(>*From )", "$1")
          val m =
            try Eml.parseEml(unquoted.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
            catch { case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"$file @$off: ${e.getMessage}", e)
            }
          k += 1
          Row(file, k, m.subject, m.from, m.date, m.text)
        }
      }
    }
    spark.createDataFrame(rows,
      StructType(StructField("file", StringType) +: StructField("message", LongType) +: mailColumns))
  }
}
