package graft.engine

import graft.SparkSpec
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  private def tmpDir = Files.createTempDirectory("graft-src")

  test("csv: all-string schema, empty cells stay empty strings") {
    val dir = tmpDir
    val f = dir.resolve("d.csv")
    Files.writeString(f, "a,b\n1,\n,x\n")
    val df = Sources.read(spark, "d", Map("file" -> "d.csv"), dir)
    assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    val rows = df.orderBy("a").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("", "x"), ("1", "")))
  }

  test("headerless csv requires and applies `columns`") {
    val dir = tmpDir
    Files.writeString(dir.resolve("d.csv"), "1,x\n2,y\n")
    val df = Sources.read(spark, "d",
      Map("file" -> "d.csv", "header_rows" -> 0, "columns" -> List("id", "val")), dir)
    assert(df.columns.toSeq == Seq("id", "val"))
    assert(df.count() == 2)
    intercept[IllegalArgumentException](
      Sources.read(spark, "d", Map("file" -> "d.csv", "header_rows" -> 0), dir))
  }

  test("header_rows list: multi-line header flattens; fill_sparse_headers forward-fills") {
    val dir = tmpDir
    Files.writeString(dir.resolve("m.csv"),
      "Student,,School\nid,name,year\n1,ann,2024\n2,bob,2025\n")
    val filled = Sources.read(spark, "m", Map("file" -> "m.csv",
      "header_rows" -> List(0, 1), "fill_sparse_headers" -> true), dir)
    assert(filled.columns.toSeq == Seq("Student__id", "Student__name", "School__year"))
    assert(filled.count() == 2)
    // default: no forward fill (fill_sparse_headers=False, source.py:349)
    val sparse = Sources.read(spark, "m", Map("file" -> "m.csv",
      "header_rows" -> List(0, 1)), dir)
    assert(sparse.columns.toSeq == Seq("Student__id", "name", "School__year"))
  }

  test("header_rows int N: header is the single row N, junk rows before it skipped") {
    val dir = tmpDir
    Files.writeString(dir.resolve("j.csv"),
      "some banner line,,\nid,name,year\n1,ann,2024\n")
    val df = Sources.read(spark, "j", Map("file" -> "j.csv", "header_rows" -> 2), dir)
    assert(df.columns.toSeq == Seq("id", "name", "year"))
    assert(df.count() == 1)
  }

  test("header_rows N and list headers decode the body with the source's encoding") {
    val dir = tmpDir
    for ((name, city) <- Seq("enc_1.csv" -> "Z\u00fcrich", "enc_2.csv" -> "Gen\u00e8ve"))
      Files.write(dir.resolve(name), s"Stra\u00dfe,x\nid,city\n1,$city\n".getBytes("ISO-8859-1"))
    for ((rows, names) <- Seq(2 -> Seq("id", "city"), List(0, 1) -> Seq("Stra\u00dfe__id", "x__city"))) {
      val df = Sources.read(spark, "enc",
        Map("file" -> "enc_*.csv", "encoding" -> "ISO-8859-1", "header_rows" -> rows), dir)
      assert(df.columns.toSeq == names, rows)
      assert(df.collect().map(_.getString(1)).sorted.toSeq == Seq("Gen\u00e8ve", "Z\u00fcrich"), rows)
    }
  }

  /** The CSV options `Sources` reads delimited files with, plus Spark's
    * header inference: the header path `header_rows: 1` used to take. */
  private def inferred(file: java.nio.file.Path) = spark.read
    .options(Map("sep" -> ",", "encoding" -> "UTF-8", "nullValue" -> "\u0000", "emptyValue" -> "",
      "escape" -> "\"", "inferSchema" -> "false", "header" -> "true"))
    .csv(file.toString).na.fill("")

  test("header_rows: 1 runs no Spark job and derives the names Spark's header inference derives") {
    val dir = tmpDir
    val fixtures = Seq(
      "dup.csv" -> "a,b,a,A,b\n1,2,3,4,5\n",                   // duplicates, case-insensitive too
      "blank.csv" -> ",x,,y, \n1,2,3,4,5\n",                   // blank and space-only cells
      "quoted.csv" -> "\"a,b\",\"c\"\"d\",\" e \",\"\"\n1,2,3,4\n", // separators, escaped quotes
      "bom.csv" -> "\uFEFFid,name\n1,ann\n",                    // UTF-8 byte order mark
      "lead.csv" -> "\n   \nid,name\n1,ann\n",                  // blank lines before the header
      "crlf.csv" -> "id,name\r\n1,ann\r\n2,\"b\r\nob\"\r\n")
    for ((name, content) <- fixtures) {
      val f = dir.resolve(name)
      Files.writeString(f, content)
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { df = Sources.read(spark, "s", Map("file" -> name), dir) } == 0, name)
      val want = inferred(f)
      assert(df.columns.toSeq == want.columns.toSeq, name)
      assert(df.collect().map(_.toSeq).toSeq == want.collect().map(_.toSeq).toSeq, name)
    }
  }

  test("header_rows: 2 over a glob and header_rows [0, 1] over .csv.gz drop every file's header rows") {
    val dir = tmpDir
    Files.writeString(dir.resolve("p_1.csv"), "exported 2024,,\nid,name\n1,ann\n")
    Files.writeString(dir.resolve("p_2.csv"), "exported 2025,,\nid,name\n2,bob\n3,cy\n")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val glob = Sources.read(spark, "p", Map("file" -> "p_*.csv", "header_rows" -> 2), dir)
    assert(glob.columns.toSeq == Seq("id", "name"))
    assert(rows(glob) == Seq("1|ann", "2|bob", "3|cy"))
    val globOne = Sources.read(spark, "p", Map("file" -> "p_*.csv", "header_rows" -> 1), dir)
    assert(globOne.columns.toSeq == Seq("exported 2024", "_c1", "_c2"))
    assert(rows(globOne).sorted == Seq("1|ann|", "2|bob|", "3|cy|", "id|name|", "id|name|").sorted)

    val gz = dir.resolve("m.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write("Student,,School\nid,name,year\n1,ann,2024\n2,bob,2025\n".getBytes("UTF-8"))
    finally out.close()
    val multi = Sources.read(spark, "m", Map("file" -> "m.csv.gz", "header_rows" -> List(0, 1)), dir)
    assert(multi.columns.toSeq == Seq("Student__id", "name", "School__year"))
    assert(rows(multi) == Seq("1|ann|2024", "2|bob|2025"))
  }

  test("a partitioned csv destination reads back as a source: the header comes from under k=v/") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = tmpDir
    val df = Seq(("1", "ann", "a"), ("2", "bob", "b"), ("3", "cy", "a")).toDF("id", "name", "k")
    val out = Destinations.write(df, "p",
      Map[String, Any]("format" -> "csv", "partition_by" -> List("k")), dir, dir)
    // precondition: the top level holds only partition directories and
    // names Spark's file index skips (_SUCCESS, .crc files)
    assert(Files.list(out).iterator().asScala.forall { f =>
      val n = f.getFileName.toString
      n.startsWith("k=") || n.startsWith("_") || n.startsWith(".")
    })
    var back: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { back = Sources.read(spark, "p", Map("file" -> out.getFileName.toString), dir) } == 0)
    val want = inferred(out)
    assert(back.columns.toSeq == want.columns.toSeq && back.columns.toSeq == Seq("id", "name", "k"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows(back) == rows(want) && rows(back) == Seq("1|ann|a", "2|bob|b", "3|cy|a"))
  }

  test("glob sources: no false FileStreamSink warning; a glob with no match fails by source name") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = tmpDir
    Files.writeString(dir.resolve("a_1.tsv"), "id\tv\n1\tx\n")
    Files.writeString(dir.resolve("a_2.tsv"), "id\tv\n2\ty\n")
    val warned = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("sink-warns", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith(".FileStreamSink")) warned.incrementAndGet()
    }
    appender.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(appender)
    Files.writeString(dir.resolve("j_1.jsonl"), "{\"id\": 1}\n")
    Files.writeString(dir.resolve("j_2.jsonl"), "{\"id\": 2}\n")
    try {
      assert(Sources.read(spark, "a", Map("file" -> "a_*.tsv"), dir).count() == 2)
      assert(Sources.read(spark, "j", Map("file" -> "j_*.jsonl"), dir).count() == 2)
    } finally root.removeAppender(appender)
    assert(warned.get == 0)

    val e = intercept[IllegalArgumentException](
      Sources.read(spark, "missing", Map("file" -> "none_*.csv"), dir))
    assert(e.getMessage.contains("source `missing`") && e.getMessage.contains("no file matches"), e.getMessage)
    val empty = Sources.read(spark, "missing",
      Map("file" -> "none_*.csv", "optional" -> true, "columns" -> List("id")), dir)
    assert(empty.columns.toSeq == Seq("id") && empty.count() == 0)
  }

  test("stata .dta: classic 114 and modern 118 read all-string with missing -> \"\"") {
    // fixtures written by pandas.to_stata (version=114 / 118): int32, int8,
    // double (one NaN), float (one NaN), str — see VERDICT r5 missing #1
    // *be variants are MSF (big-endian), written by pandas byteorder='>' —
    // classic flag byte 1 and modern <byteorder>MSF both flip every
    // numeric read (header counts, type codes and data cells)
    for (fixture <- Seq("/people114.dta", "/people118.dta",
        "/people114be.dta", "/people118be.dta")) {
      val p = getClass.getResource(fixture).getPath
      val df = Sources.read(spark, "p", Map("file" -> p), java.nio.file.Paths.get("/"))
      assert(df.columns.toSeq == Seq("id", "small", "score", "ratio", "name"), fixture)
      assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
      val rows = df.orderBy("id").collect().map(r => (0 until 5).map(r.getString))
      assert(rows.map(_(0)).toSeq == Seq("1", "2", "3", "4"), fixture)
      assert(rows.map(_(1)).toSeq == Seq("10", "20", "30", "40"), fixture)
      assert(rows.map(_(2)).toSeq == Seq("1.5", "2.25", "", "4.0"), fixture)   // NaN -> ""
      assert(rows.map(_(3)).toSeq == Seq("0.5", "", "1.5", "2.0"), fixture)    // NaN -> ""
      assert(rows.map(_(4)).toSeq == Seq("ann", "bob", "", "dee"), fixture)
    }
    // `type: stata` override routes arbitrary extensions to the dta reader
    val p114 = getClass.getResource("/people114.dta").getPath
    assert(Sources.read(spark, "p", Map("file" -> p114, "type" -> "stata"),
      java.nio.file.Paths.get("/")).count() == 4)
    // GenStata (the Scala 114 writer feeding gate query q_source_stata;
    // pandas.read_stata cross-reads its output — FIXTURES.md) round-trips
    // through the native reader, incl. long/double missing sentinels
    val gen = tmpDir.resolve("gen.dta")
    graft.tools.GenStata.write(gen.toString, Seq(
      graft.tools.GenStata.LongCol("id", Seq(Some(1), Some(2), None)),
      graft.tools.GenStata.DblCol("score", Seq(Some(1.5), None, Some(-2.25))),
      graft.tools.GenStata.StrCol("name", 8, Seq("alpha", "béta", ""))), 3)
    val g = Sources.read(spark, "g", Map("file" -> gen.toString), gen.getParent)
    assert(g.columns.toSeq == Seq("id", "score", "name"))
    val gr = g.orderBy("name").collect().map(r => (0 until 3).map(r.getString))
    assert(gr.map(_.toList).toList == List(
      List("", "-2.25", ""), List("1", "1.5", "alpha"), List("2", "", "béta")))
  }

  test("stata .dta value labels apply to integer columns (convert_categoricals parity)") {
    // pandas-written fixtures with value_labels={'grade': {1: low, ...}};
    // pd.read_stata renders ['low','mid','high',9] — labeled values map to
    // text, the unlabeled 9 stays numeric (observed behavior, FIXTURES.md)
    for (fixture <- Seq("/labels114.dta", "/labels118.dta")) {
      val p = getClass.getResource(fixture).getPath
      val df = Sources.read(spark, "l", Map("file" -> p), java.nio.file.Paths.get("/"))
      val rows = df.orderBy("id").collect()
      assert(rows.map(_.getString(1)).toSeq == Seq("low", "mid", "high", "9"), fixture)
      assert(rows.map(_.getString(2)).toSeq == Seq("a", "b", "c", "d"), fixture)
    }
  }

  test("stata .dta strL columns (117 4+4 / 118 2+6 GSO pointers) and exact missing sentinels") {
    // fixtures written by pandas.to_stata(convert_strl=['note']): the `note`
    // column is strL (300-char value forces the GSO block), `ratio` carries
    // the LARGEST NON-MISSING float (bits 0x7effffff) and `score` the largest
    // non-missing double (0x7fdfffffffffffff) — both must round-trip as
    // values, not be swallowed by the missing-sentinel comparison
    for (fixture <- Seq("/strl117.dta", "/strl118.dta")) {
      val p = getClass.getResource(fixture).getPath
      val df = Sources.read(spark, "s", Map("file" -> p), java.nio.file.Paths.get("/"))
      assert(df.columns.toSeq == Seq("id", "ratio", "score", "note"), fixture)
      val rows = df.orderBy("id").collect().map(r => (0 until 4).map(r.getString))
      assert(rows.map(_(3)).toSeq ==
        Seq("short", "x" * 300, "", "unicode éè end"), fixture)
      assert(rows.map(_(1)).toSeq ==
        Seq("0.5", "", "1.5", 1.7014117e38f.toString), fixture)
      assert(rows.map(_(2)).toSeq ==
        Seq("1.5", "2.25", "", 8.988465674311579e307.toString), fixture)
    }
  }

  test("sas7bdat: x86 and u64 layouts read all-string, NaN/truncated doubles, utf-8") {
    // fixtures written by tools/GenSas and CROSS-VALIDATED with
    // pandas.read_sas (see FIXTURES.md): 8-byte and truncated 4-byte
    // doubles, NaN missing → "", fixed-width strings space-padded
    // *_rle_* variants are SASYZCRL-compressed (COMPRESS=CHAR): every row
    // is a compressed data subheader; pandas.read_sas cross-validates them
    // too (FIXTURES.md), so the decompressor constants match the community
    // decoders, not just our own encoder
    // sample_rdc_x86 is SASYZCR2/RDC (COMPRESS=BINARY); sample_be_x86 is
    // big-endian (endianness byte 0x00, BE truncated doubles) — both also
    // pandas-validated
    for (fixture <- Seq("/sample_x86.sas7bdat", "/sample_u64.sas7bdat",
        "/sample_rle_x86.sas7bdat", "/sample_rle_u64.sas7bdat",
        "/sample_rdc_x86.sas7bdat", "/sample_be_x86.sas7bdat")) {
      val p = getClass.getResource(fixture).getPath
      val df = Sources.read(spark, "s", Map("file" -> p), java.nio.file.Paths.get("/"))
      assert(df.columns.toSeq == Seq("id", "score", "half", "name", "city"), fixture)
      assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
      val rows = df.orderBy("id").collect().map(r => (0 until 5).map(r.getString))
      assert(rows.map(_(0)).toSeq == Seq("1.0", "2.0", "3.0", "4.0", "5.0"), fixture)
      assert(rows.map(_(1)).toSeq == Seq("1.5", "-2.25", "", "1.0E10", "0.125"), fixture)
      assert(rows.map(_(2)).toSeq == Seq("7.5", "-0.5", "3.0", "", "96.0"), fixture) // width-4
      assert(rows.map(_(3)).toSeq == Seq("alpha", "beta", "gamma", "delta", "eps"), fixture)
      assert(rows.map(_(4)).toSeq == Seq("tokyo", "nairobi", "", "oslo", "quito"), fixture)
    }
    // multi-page + utf-8 + `type: sas` override for arbitrary extensions
    val m = getClass.getResource("/multi_x86.sas7bdat").getPath
    val big = Sources.read(spark, "m", Map("file" -> m, "type" -> "sas"),
      java.nio.file.Paths.get("/"))
    assert(big.count() == 250)
    val r1 = big.filter(org.apache.spark.sql.functions.col("k") === "250.0").collect()
    assert(r1.length == 1 && r1(0).getString(1) == "row-250-é")
    // RLE multi-page: row subheaders spill across META pages; wide
    // space-padded strings exercise the long-run commands
    val mr = getClass.getResource("/multi_rle_x86.sas7bdat").getPath
    val bigRle = Sources.read(spark, "mr", Map("file" -> mr), java.nio.file.Paths.get("/"))
    assert(bigRle.count() == 250)
    val r2 = bigRle.orderBy(org.apache.spark.sql.functions.col("k").cast("double"))
      .collect()
    assert(r2.head.getString(0) == "1.0" && r2.head.getString(1) == "row-1-é")
    assert(r2.last.getString(0) == "250.0" && r2.last.getString(1) == "row-250-é")
  }

  test("header skip is split-order-safe: header lines spanning a partition boundary") {
    // Two 300-byte junk lines + the header + data: sc.textFile splits the
    // file in half (defaultMinPartitions = 2), so the 3 skipped lines span
    // BOTH partitions — the old monotonically_increasing_id idiom dropped
    // the first 3 rows of partition 0 only (here: just the 2 junk lines,
    // leaving the header line to surface as data); per-file zipWithIndex
    // must drop exactly the 3 leading lines regardless of the split.
    val dir = tmpDir
    val junk = "#" * 300
    val data = (1 to 10).map(i => s"$i,r$i").mkString("\n")
    Files.writeString(dir.resolve("s.csv"), s"$junk\n$junk\nid,name\n$data\n")
    // precondition: the read really is multi-split, else this test is vacuous
    assert(spark.sparkContext.textFile(dir.resolve("s.csv").toString).getNumPartitions >= 2)
    val df = Sources.read(spark, "s", Map("file" -> "s.csv", "header_rows" -> 3), dir)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 10)
    assert(!df.collect().exists(r => r.getString(0).startsWith("#") || r.getString(0) == "id"))
  }

  test("tsv via extension; columns subsets by default, renames under rename_cols") {
    val dir = tmpDir
    Files.writeString(dir.resolve("d.tsv"), "x\ty\n1\t2\n")
    val sub = Sources.read(spark, "d",
      Map("file" -> "d.tsv", "columns" -> List("y")), dir)
    assert(sub.columns.toSeq == Seq("y"))
    val ren = Sources.read(spark, "d",
      Map("file" -> "d.tsv", "columns" -> List("a", "b"), "rename_cols" -> true), dir)
    assert(ren.columns.toSeq == Seq("a", "b"))
    // rename with mismatched count, and subset of a missing column, both error
    intercept[IllegalArgumentException](Sources.read(spark, "d",
      Map("file" -> "d.tsv", "columns" -> List("a"), "rename_cols" -> true), dir))
    val e = intercept[IllegalArgumentException](Sources.read(spark, "d",
      Map("file" -> "d.tsv", "columns" -> List("x", "nope")), dir))
    assert(e.getMessage.contains("optional_fields"))
    // a missing column that IS optional is skipped by the subset, then filled ""
    val opt = Sources.read(spark, "d",
      Map("file" -> "d.tsv", "columns" -> List("x", "z"), "optional_fields" -> List("z")), dir)
    assert(opt.columns.toSeq == Seq("x", "z"))
    assert(opt.collect().map(_.getString(1)).toSeq == Seq(""))
  }

  test("fixedwidth with colspec_file + colspec_headers (start/end and width forms)") {
    val dir = tmpDir
    Files.writeString(dir.resolve("f.txt"), "ann  12\nbo   34\n")
    Files.writeString(dir.resolve("layout.csv"),
      "field,start_index,end_index,w\nname,0,5,5\nnum,5,7,2\n")
    val bySpan = Sources.read(spark, "f", Map(
      "file" -> "f.txt", "type" -> "fixedwidth", "colspec_file" -> "layout.csv",
      "colspec_headers" -> Map("name" -> "field", "start" -> "start_index", "end" -> "end_index")), dir)
    assert(bySpan.columns.toSeq == Seq("name", "num"))
    assert(bySpan.orderBy("name").collect().map(_.getString(1)).toSeq == Seq("12", "34"))
    val byWidth = Sources.read(spark, "f", Map(
      "file" -> "f.txt", "type" -> "fixedwidth", "colspec_file" -> "layout.csv",
      "colspec_headers" -> Map("name" -> "field", "width" -> "w")), dir)
    assert(byWidth.orderBy("name").collect().map(_.getString(1)).toSeq == Seq("12", "34"))
    intercept[IllegalArgumentException](Sources.read(spark, "f", Map(
      "file" -> "f.txt", "type" -> "fixedwidth", "colspec_file" -> "nope.csv",
      "colspec_headers" -> Map("name" -> "field", "width" -> "w")), dir))
    intercept[IllegalArgumentException](Sources.read(spark, "f", Map(
      "file" -> "f.txt", "type" -> "fixedwidth", "colspec_file" -> "layout.csv"), dir))
  }

  test("fixedwidth inline names via `columns` (reference spelling)") {
    val dir = tmpDir
    Files.writeString(dir.resolve("f.txt"), "ann  12\n")
    val df = Sources.read(spark, "f", Map(
      "file" -> "f.txt", "type" -> "fixedwidth",
      "widths" -> List(5, 2), "columns" -> List("name", "num")), dir)
    assert(df.columns.toSeq == Seq("name", "num"))
  }

  test("fixedwidth with widths + names") {
    val dir = tmpDir
    Files.writeString(dir.resolve("f.txt"), "ann  12\nbo   34\n")
    val df = Sources.read(spark, "f", Map(
      "file" -> "f.txt", "type" -> "fixedwidth",
      "widths" -> List(5, 2), "names" -> List("name", "num")), dir)
    val rows = df.orderBy("name").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("ann", "12"), ("bo", "34")))
  }

  test("optional missing file yields empty typed frame; optional_fields fill") {
    val dir = tmpDir
    val df = Sources.read(spark, "gone", Map(
      "file" -> "missing.csv", "optional" -> true,
      "columns" -> List("a", "b"), "optional_fields" -> List("c")), dir)
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.count() == 0)
    intercept[IllegalArgumentException](
      Sources.read(spark, "gone", Map("file" -> "missing.csv"), dir))
  }

  test("jsonl and parquet readers with column subset") {
    val dir = tmpDir
    Files.writeString(dir.resolve("d.jsonl"), """{"a": 1, "b": "x"}""" + "\n")
    val dj = Sources.read(spark, "d", Map("file" -> "d.jsonl", "columns" -> List("b")), dir)
    assert(dj.columns.toSeq == Seq("b"))
    spark.range(3).toDF("id").write.parquet(dir.resolve("p.parquet").toString)
    val dp = Sources.read(spark, "p", Map("file" -> "p.parquet"), dir)
    assert(dp.count() == 3)
  }

  test("remote connection source fetches via URL then reads (FtpSource shape)") {
    val dir = tmpDir
    val f = dir.resolve("remote.csv")
    Files.writeString(f, "a,b\n1,2\n")
    val df = Sources.read(spark, "r",
      Map("connection" -> f.toUri.toString), dir)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.head().getString(1) == "2")
  }

  test("ftp:// connection source retrieves through the real FTP protocol (loopback server)") {
    // reference nodes/source.py:457-518 fetches via ftplib RETR; this pins
    // the ACTUAL protocol path (USER/PASS → TYPE → passive → CWD → RETR)
    // against a minimal single-client loopback ftpd, not just file://
    val dir = tmpDir
    val payload = "a,b\n7,hi\n8,yo\n"
    val loop = java.net.InetAddress.getLoopbackAddress
    val ctrl = new java.net.ServerSocket(0, 1, loop)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = new Thread(() => {
      try {
        val s = ctrl.accept()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream, "US-ASCII"))
        val out = new java.io.PrintWriter(s.getOutputStream, true)
        def reply(l: String): Unit = { out.print(l + "\r\n"); out.flush() }
        reply("220 graft test ftpd")
        var data: java.net.ServerSocket = null
        var line = in.readLine()
        while (line != null) {
          seen.add(line)
          line.split(" ", 2)(0).toUpperCase match {
            case "USER" => reply("331 need password")
            case "PASS" => reply("230 logged in")
            case "TYPE" => reply("200 type set")
            case "CWD" => reply("250 ok")
            case p @ ("EPSV" | "PASV") =>
              if (data == null) data = new java.net.ServerSocket(0, 1, loop)
              val port = data.getLocalPort
              if (p == "EPSV") reply(s"229 Entering Extended Passive Mode (|||$port|)")
              else reply(s"227 Entering Passive Mode (127,0,0,1,${port / 256},${port % 256})")
            case "RETR" =>
              reply("150 opening data connection")
              val d = data.accept()
              d.getOutputStream.write(payload.getBytes("UTF-8"))
              d.close()
              reply("226 transfer complete")
            case "QUIT" => reply("221 bye"); line = null
            case _ => reply("200 ok")
          }
          if (line != null) line = in.readLine()
        }
        s.close()
      } catch { case _: Exception => () } // client closed first — fine
    })
    server.setDaemon(true)
    server.start()
    try {
      val url = s"ftp://user:pw@127.0.0.1:${ctrl.getLocalPort}/sub/data.csv"
      val df = Sources.read(spark, "ftp", Map("connection" -> url), dir)
      assert(df.columns.toSeq == Seq("a", "b"))
      assert(df.orderBy("a").collect().map(_.getString(1)).toSeq == Seq("hi", "yo"))
      import scala.jdk.CollectionConverters._
      val cmds = seen.asScala.map(_.split(" ")(0).toUpperCase).toSet
      assert(cmds.contains("USER") && cmds.contains("RETR"),
        s"protocol exchange incomplete: $cmds")
      assert(cmds.contains("PASV") || cmds.contains("EPSV"),
        s"no passive-mode negotiation seen: $cmds")
    } finally ctrl.close()
  }

  test("xlsx: writer/reader round-trip, sheet + skiprows + headerless options") {
    val dir = tmpDir
    val f = dir.resolve("book.xlsx")
    Xlsx.write(f, Seq(Seq("id", "name"), Seq("1", "ann"), Seq("2", "bob <&> b")), "People")
    val df = Sources.read(spark, "b", Map("file" -> "book.xlsx"), dir)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("ann", "bob <&> b"))
    // by sheet name
    val byName = Sources.read(spark, "b", Map("file" -> "book.xlsx", "sheet" -> "People"), dir)
    assert(byName.count() == 2)
    intercept[IllegalArgumentException](
      Sources.read(spark, "b", Map("file" -> "book.xlsx", "sheet" -> "Nope"), dir))
    // skiprows drops leading junk; header_rows 0 + columns names a headerless sheet
    Xlsx.write(f, Seq(Seq("junk"), Seq("1", "x"), Seq("2", "y")))
    val named = Sources.read(spark, "b",
      Map("file" -> "book.xlsx", "skiprows" -> 1, "header_rows" -> 0,
        "columns" -> List("id", "val")), dir)
    assert(named.columns.toSeq == Seq("id", "val"))
    assert(named.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test(".xlsm reads through the OOXML parser; corrupt .xls fails diagnosably") {
    val dir = tmpDir
    // .xlsm is the same ZIP+XML as .xlsx — the macro part is just an extra entry
    val m = dir.resolve("macro.xlsm")
    Xlsx.write(m, Seq(Seq("id", "name"), Seq("1", "ann")), "Data")
    val df = Sources.read(spark, "m", Map("file" -> "macro.xlsm"), dir)
    assert(df.columns.toSeq == Seq("id", "name") && df.count() == 1)
    // a truncated/corrupt .xls must fail with a diagnosable message (bad
    // OLE2 container), never a silent empty frame
    val f = dir.resolve("legacy.xls")
    Files.write(f, Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11.toByte, 0xE0.toByte))
    val e = intercept[IllegalArgumentException](
      Sources.read(spark, "l", Map("file" -> "legacy.xls"), dir))
    assert(e.getMessage.toLowerCase.contains("ole2") || e.getMessage.contains("Compound"),
      e.getMessage)
    // corrupt ZIP-family spreadsheets also fail diagnosably, not with a raw
    // ZipException from deep inside the JDK
    for (ext <- Seq("xlsb", "ods", "xlsx")) {
      val g = dir.resolve(s"garbage.$ext")
      Files.write(g, "this is not a zip archive".getBytes("UTF-8"))
      val err = intercept[IllegalArgumentException](
        Sources.read(spark, "g", Map("file" -> s"garbage.$ext"), dir))
      assert(err.getMessage.contains(ext) || err.getMessage.toLowerCase.contains("zip"),
        s"$ext: ${err.getMessage}")
    }
  }

  test("xlsx: shared strings, numeric cells, booleans, and sparse cells parse") {
    val dir = tmpDir
    val f = dir.resolve("typed.xlsx")
    // hand-built workbook exercising the parts the writer doesn't emit:
    // sharedStrings (with rich-text runs), t="n" (default), t="b", gap cells
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(f))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/></Types>""")
    put("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml", """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="S" sheetId="1"/></sheets></workbook>""")
    put("xl/sharedStrings.xml", """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2"><si><t>colA</t></si><si><r><t>two </t></r><r><t>runs</t></r></si></sst>""")
    put("xl/worksheets/sheet1.xml", """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>colB</t></is></c><c r="C1" t="inlineStr"><is><t>colC</t></is></c></row><row r="2"><c r="A2"><v>42.5</v></c><c r="C2" t="b"><v>1</v></c></row><row r="3"><c r="A3" t="s"><v>1</v></c><c r="B3"><v>7</v></c><c r="C3" t="b"><v>0</v></c></row></sheetData></worksheet>""")
    zos.close()
    val df = Sources.read(spark, "t", Map("file" -> "typed.xlsx"), dir)
    assert(df.columns.toSeq == Seq("colA", "colB", "colC"))
    val rows = df.orderBy("colA").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("42.5", "", "True"), ("two runs", "7", "False")))
  }

  test("feather/arrow IPC reader preserves native types and nulls") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, Float8Vector, VarCharVector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
    import scala.jdk.CollectionConverters._
    val dir = tmpDir
    val f = dir.resolve("d.feather")
    val alloc = new RootAllocator()
    val schema = new ASchema(List(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("score", FieldType.nullable(new ArrowType.FloatingPoint(
        org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)), null),
      new Field("name", FieldType.nullable(ArrowType.Utf8.INSTANCE), null)).asJava)
    val root = VectorSchemaRoot.create(schema, alloc)
    val ids = root.getVector("id").asInstanceOf[BigIntVector]
    val scores = root.getVector("score").asInstanceOf[Float8Vector]
    val names = root.getVector("name").asInstanceOf[VarCharVector]
    ids.allocateNew(3); scores.allocateNew(3); names.allocateNew(3)
    ids.setSafe(0, 1L); ids.setSafe(1, 2L); ids.setNull(2)
    scores.setSafe(0, 0.5); scores.setNull(1); scores.setSafe(2, 2.25)
    names.setSafe(0, "ann".getBytes("UTF-8")); names.setSafe(1, "bob".getBytes("UTF-8")); names.setNull(2)
    root.setRowCount(3)
    val chan = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val w = new ArrowFileWriter(root, null, chan)
    w.start(); w.writeBatch(); w.end(); w.close(); chan.close(); root.close(); alloc.close()

    val df = Sources.read(spark, "f", Map("file" -> "d.feather"), dir)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("id", "bigint"), ("score", "double"), ("name", "string")))
    val rows = df.collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(rows == Set(
      (Some(1L), Some(0.5), Some("ann")),
      (Some(2L), None, Some("bob")),
      (None, Some(2.25), None)))
  }

  test("orc reader with column subset") {
    val dir = tmpDir
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.orc(dir.resolve("d.orc").toString)
    val df = Sources.read(spark, "o",
      Map("file" -> "d.orc", "columns" -> List("id")), dir)
    assert(df.columns.toSeq == Seq("id"))
    assert(df.count() == 2)
  }

  test("json (multiLine array document) and xml (rowTag from xpath) readers") {
    val dir = tmpDir
    Files.writeString(dir.resolve("d.json"),
      """[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]""")
    val dj = Sources.read(spark, "j", Map("file" -> "d.json"), dir)
    assert(dj.count() == 2 && dj.columns.sorted.toSeq == Seq("id", "v"))
    // pandas orientations on an object document: columns (default) and index
    Files.writeString(dir.resolve("c.json"),
      """{"id": {"r0": 1, "r1": 2}, "v": {"r0": "a", "r1": "b"}}""")
    val dc = Sources.read(spark, "c", Map("file" -> "c.json"), dir)
    assert(dc.columns.sorted.toSeq == Seq("id", "v"))
    assert(dc.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    Files.writeString(dir.resolve("i.json"),
      """{"r0": {"id": 1, "v": "a"}, "r1": {"id": 2, "v": "b"}}""")
    val di = Sources.read(spark, "i",
      Map("file" -> "i.json", "orientation" -> "index"), dir)
    assert(di.count() == 2 && di.columns.sorted.toSeq == Seq("id", "v"))
    Files.writeString(dir.resolve("d.xml"),
      """<root><rec><id>1</id><v>a</v></rec><rec><id>2</id><v>b</v></rec></root>""")
    val dx = Sources.read(spark, "x",
      Map("file" -> "d.xml", "xpath" -> "//rec"), dir)
    assert(dx.count() == 2 && dx.columns.sorted.toSeq == Seq("id", "v"))
  }

  test("html: first matching <table> scrapes with th header, entities, match option") {
    val dir = tmpDir
    Files.writeString(dir.resolve("page.html"),
      """<html><body>
        |<table><tr><th>junk</th></tr><tr><td>nope</td></tr></table>
        |<table id="data">
        |  <tr><th>City</th><th>Pop</th></tr>
        |  <tr><td>Cincinnati &amp; Co</td><td>831,438</td></tr>
        |  <tr><td><b>Denver</b></td><td>915,735</td></tr>
        |</table>
        |</body></html>""".stripMargin)
    val df = Sources.read(spark, "h",
      Map("file" -> "page.html", "match" -> "Denver"), dir)
    assert(df.columns.toSeq == Seq("City", "Pop"))
    val rows = df.orderBy("City").collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("Cincinnati & Co", "831,438"), ("Denver", "915,735")))
    // no match → clear error; default match picks the first table
    intercept[IllegalArgumentException](
      Sources.read(spark, "h", Map("file" -> "page.html", "match" -> "Absent"), dir))
    val first = Sources.read(spark, "h", Map("file" -> "page.html"), dir)
    assert(first.columns.toSeq == Seq("junk"))
  }

  test("sql source reads through JDBC (embedded Derby)") {
    val dir = tmpDir
    val url = s"jdbc:derby:${dir.resolve("db")};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE people (id INT, name VARCHAR(20))")
      st.execute("INSERT INTO people VALUES (1, 'ann'), (2, 'bob')")
      st.close()
    } finally conn.close()
    val df = Sources.read(spark, "db", Map(
      "connection" -> url,
      "query" -> "SELECT id, name FROM people"), dir)
    assert(df.orderBy("ID").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "ann"), (2, "bob")))
  }

  test("unsupported type errors clearly") {
    val dir = tmpDir
    Files.writeString(dir.resolve("d.unknownext"), "not a supported format")
    val e = intercept[IllegalArgumentException](
      Sources.read(spark, "d", Map("file" -> "d.unknownext"), dir))
    assert(e.getMessage.contains("unsupported source file type"))
    // non-conforming payloads behind supported binary extensions fail on
    // the magic, not silently
    Files.writeString(dir.resolve("d.sas7bdat"), "not a sas file")
    val e2 = intercept[IllegalArgumentException](
      Sources.read(spark, "d", Map("file" -> "d.sas7bdat"), dir))
    assert(e2.getMessage.contains("magic mismatch"))
    Files.writeString(dir.resolve("d.sav"), "not a sav file at all, padded to length 176+ " + ("x" * 140))
    val e3 = intercept[IllegalArgumentException](
      Sources.read(spark, "d", Map("file" -> "d.sav"), dir))
    assert(e3.getMessage.contains("not a .sav"))
    Files.writeString(dir.resolve("d.pkl"), "not a pickle")
    val e4 = intercept[IllegalArgumentException](
      Sources.read(spark, "d", Map("file" -> "d.pkl"), dir))
    assert(e4.getMessage.contains("not a pickle stream"))
  }

  test("avro: canonical-library round-trip, deflate codec, nulls -> \"\"") {
    val dir = tmpDir
    val p = dir.resolve("t.avro")
    graft.tools.GenAvro.write(p.toString, Seq(
      graft.tools.GenAvro.LongCol("id", Seq(1L, 2L, 3L)),
      graft.tools.GenAvro.DblCol("score", Seq(1.5, -2.25, 10.0)),
      graft.tools.GenAvro.StrCol("name", Seq("alpha", null, "gamma"))), 3)
    val df = Sources.read(spark, "a", Map("file" -> p.toString), dir)
    assert(df.columns.toSeq == Seq("id", "score", "name"))
    assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    val rows = df.orderBy("id").collect().map(r => (0 until 3).map(r.getString))
    assert(rows.map(_.toList).toList == List(
      List("1", "1.5", "alpha"), List("2", "-2.25", ""), List("3", "10.0", "gamma")))
    // `type: avro` override routes arbitrary extensions
    assert(Sources.read(spark, "a", Map("file" -> p.toString, "type" -> "avro"), dir)
      .count() == 3)
  }

  test("zstd sources: .csv.zst/.jsonl.zst read transparently; gzip survives registration") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-zst")
    val body = "k,v\n1,alpha\n2,beta\n3,gamma\n"
    java.nio.file.Files.write(dir.resolve("t.csv.zst"),
      ZstdCodec.compress(body.getBytes("UTF-8")))
    val zst = Sources.read(spark, "zst", Map("file" -> s"$dir/t.csv.zst"), dir)
    assert(zst.columns.toSeq == Seq("k", "v") && zst.count() == 3)
    assert(zst.filter(col("k") === "2").head().getString(1) == "beta")
    // registering the codec must not evict the built-ins: gzip still reads
    val gz = dir.resolve("t.jsonl.gz")
    val go = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
    go.write("{\"k\": 1}\n{\"k\": 2}\n".getBytes("UTF-8")); go.close()
    assert(Sources.read(spark, "gz", Map("file" -> gz.toString, "type" -> "jsonl"), dir)
      .count() == 2)
    // hostile: garbage behind a .zst name rejects, not hangs
    java.nio.file.Files.write(dir.resolve("bad.csv.zst"), Array.fill(64)(7.toByte))
    intercept[Exception] {
      Sources.read(spark, "bad", Map("file" -> s"$dir/bad.csv.zst"), dir).collect()
    }
  }

  test("avro sink: typed round-trip, sharding, codecs, empty frame, name sanitizing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir
    // doubles / booleans / binary / nulls survive exactly through our own
    // reader's all-string model (doubles via Java shortest-repr toString)
    val df = Seq(
      (1L, 1.5, true, "a b", Array[Byte](104, 105)),
      (2L, -2.25, false, null.asInstanceOf[String], Array[Byte]()),
      (3L, 1.0e-3, true, "z", Array[Byte](0, 1))
    ).toDF("id", "score", "flag", "name", "raw 1") // space forces sanitizing
    Avro.write(df.repartition(2), dir.resolve("out").toString)
    val parts = new java.io.File(dir.resolve("out").toString)
      .listFiles().filter(_.getName.endsWith(".avro"))
    assert(parts.length == 2, "one part file per non-empty partition")
    val back = Avro.readAny(spark, dir.resolve("out").toString)
    assert(back.columns.toSeq == Seq("id", "score", "flag", "name", "raw_1"))
    val rows = back.orderBy(col("id").cast("long")).collect()
      .map(r => (0 until 5).map(r.getString).toList).toList
    assert(rows == List(
      List("1", "1.5", "true", "a b", "hi"),
      List("2", "-2.25", "false", "", ""),
      List("3", "0.001", "true", "z", new String(Array[Byte](0, 1), "UTF-8"))))
    // deflate/zstandard codecs round-trip; unsupported codec rejects
    Avro.write(df, dir.resolve("defl").toString, Some("deflate"))
    assert(Avro.readAny(spark, dir.resolve("defl").toString).count() == 3)
    Avro.write(df, dir.resolve("zstd").toString, Some("zstandard"))
    assert(Avro.readAny(spark, dir.resolve("zstd").toString).count() == 3)
    val bad = intercept[IllegalArgumentException](
      Avro.write(df, dir.resolve("x").toString, Some("lz77")))
    assert(bad.getMessage.contains("unsupported compression"))
    // Short/Byte columns widen to int before union resolution — Avro's
    // resolveUnion only recognizes Integer, so an uncast non-null Short in
    // a ["null","int"] union throws "Unknown datum type" at write time
    val narrow = Seq((1L, "4", "7"), (2L, null, null)).toDF("id", "s", "b")
      .select(col("id"), col("s").cast("smallint").as("s"), col("b").cast("tinyint").as("b"))
    Avro.write(narrow, dir.resolve("narrow").toString)
    val nb = Avro.readAny(spark, dir.resolve("narrow").toString)
      .orderBy(col("id").cast("long")).collect().map(r => (r.getString(1), r.getString(2))).toList
    assert(nb == List(("4", "7"), ("", "")))
    // overwrite semantics: re-running with FEWER partitions must not
    // leave stale parts from the wider first write (silent duplication)
    Avro.write(df.repartition(3), dir.resolve("rerun").toString)
    Avro.write(df.repartition(1), dir.resolve("rerun").toString)
    assert(Avro.readAny(spark, dir.resolve("rerun").toString).count() == 3)
    // empty frame still writes a readable header-only part
    Avro.write(df.filter(col("id") < 0), dir.resolve("empty").toString)
    val e = Avro.readAny(spark, dir.resolve("empty").toString)
    assert(e.count() == 0 && e.columns.length == 5)
  }

  test("avro: hostile inputs reject diagnosably (garbage, truncation, empty dir)") {
    val dir = tmpDir
    // not an avro container at all
    val junk = dir.resolve("junk.avro")
    java.nio.file.Files.write(junk, Array.fill[Byte](256)(0x41))
    val e1 = intercept[Exception](Avro.read(spark, junk.toString))
    assert(e1.getMessage != null)
    // a real multi-block container truncated at 60%: the reader must
    // either throw or stop at a block boundary — NEVER report the full
    // row count, never loop or allocate unbounded
    val good = dir.resolve("good.avro")
    val n = 100000
    graft.tools.GenAvro.write(good.toString, Seq(
      graft.tools.GenAvro.LongCol("id", (1L to n.toLong))), n)
    val bytes = java.nio.file.Files.readAllBytes(good)
    val trunc = dir.resolve("trunc.avro")
    java.nio.file.Files.write(trunc, bytes.take(bytes.length * 6 / 10))
    val got = try Some(Avro.read(spark, trunc.toString).count()) catch {
      case e: Exception => assert(e.getMessage != null); None
    }
    got.foreach(c => assert(c < n, s"truncated container returned all $c rows"))
    // a directory with no parts names the path in the error
    val empty = dir.resolve("nothing")
    java.nio.file.Files.createDirectories(empty)
    val e3 = intercept[IllegalArgumentException](Avro.readAny(spark, empty.toString))
    assert(e3.getMessage.contains("no .avro part files"))
  }

  test("warc/wet: ISO-28500 records, member-concatenated gzip, type filter") {
    val dir = tmpDir
    val docs = Seq(
      // non-ASCII target URI: header lines are UTF-8 bytes, not Latin-1
      ("http://a.example/1/café-日本", "first document text.\nsecond line."),
      ("http://a.example/2", "unicode é content."))
    graft.tools.GenWarc.write(dir.resolve("t.wet").toString, docs, gzip = false)
    graft.tools.GenWarc.write(dir.resolve("t.wet.gz").toString, docs, gzip = true)
    for (f <- Seq("t.wet", "t.wet.gz")) {
      val df = Sources.read(spark, "w", Map("file" -> f), dir)
      assert(df.columns.toSeq == Seq("url", "date", "record_type", "text"), f)
      // the warcinfo header record is filtered out by the default types
      val rows = df.orderBy("url").collect()
      assert(rows.length == 2, f)
      assert(rows.map(_.getString(0)).toSeq == docs.map(_._1), f)
      assert(rows.map(_.getString(3)).toSeq == docs.map(_._2), f)
      assert(rows.forall(_.getString(2) == "conversion"), f)
    }
    // `type: warc` override routes arbitrary extensions
    assert(Sources.read(spark, "w",
      Map("file" -> "t.wet.gz", "type" -> "warc"), dir).count() == 2)
    // zstd (.wet.zst, the newer Common Crawl codec): per-record frames
    // decode through the continuous zstd stream
    graft.tools.GenWarc.writeCodec(dir.resolve("t.wet.zst").toString, docs, "zstd")
    val zdf = Sources.read(spark, "z", Map("file" -> "t.wet.zst"), dir)
    assert(zdf.orderBy("url").collect().map(_.getString(3)).toSeq == docs.map(_._2))
    // response records: the HTTP envelope strips off, text is the body
    graft.tools.GenWarc.write(dir.resolve("r.warc.gz").toString,
      Seq(("http://b.example/x", "<html><body>hi.</body></html>")),
      gzip = true, recordType = "response")
    val resp = Sources.read(spark, "r", Map("file" -> "r.warc.gz"), dir).collect()
    assert(resp.length == 1 && resp(0).getString(3) == "<html><body>hi.</body></html>")
    // multi-file glob: one task per file (the crawl-scale parallelism unit)
    val sub = java.nio.file.Files.createDirectory(dir.resolve("many"))
    (1 to 3).foreach { i =>
      graft.tools.GenWarc.write(sub.resolve(s"part$i.wet.gz").toString,
        Seq((s"http://m.example/$i", s"doc $i text.")), gzip = true)
    }
    val many = Sources.read(spark, "m", Map("file" -> "many/*.wet.gz"), dir)
    assert(many.count() == 3)
    assert(many.select("url").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq == (1 to 3).map(i => s"http://m.example/$i"))
    // (binaryFiles combines these tiny files into one split — the desired
    // small-file behavior; production-size .warc.gz files split per file)
  }

  test("pickle: pandas-written DataFrames (protocols 2/4/5) read all-string") {
    // fixtures written by the container's REAL pandas (2.2.2) — the
    // strongest cross-validation of the fixture set: we parse exactly what
    // pd.to_pickle produced, not our own writer's output (FIXTURES.md).
    // Covers: int64, a consolidated 2xN float64 block (a+b), bool, object
    // with None + non-ASCII unicode, datetime64[ns] incl. microsecond,
    // nanosecond and NaT values, block placements as slices and arrays,
    // RangeIndex rows, and protocol 2's GLOBAL/_codecs.encode spelling.
    // p0/p1 exercise the text protocols: INT/FLOAT/UNICODE/DICT/LIST/PUT/GET
    // opcodes and copy_reg._reconstructor in place of NEWOBJ
    for (fixture <- Seq("/sample_frame.pkl", "/sample_frame_p4.pkl",
        "/sample_frame_p1.pkl", "/sample_frame_p0.pkl")) {
      val p = getClass.getResource(fixture).getPath
      val df = Sources.read(spark, "s", Map("file" -> p), java.nio.file.Paths.get("/"))
      assert(df.columns.toSeq == Seq("id", "a", "b", "flag", "name", "ts"), fixture)
      assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
      val rows = df.orderBy("id").collect().map(r => (0 until 6).map(r.getString))
      assert(rows.map(_(0)).toSeq == Seq("1", "2", "3", "4", "5"), fixture)
      assert(rows.map(_(1)).toSeq == Seq("1.5", "-2.25", "", "1.0E10", "42.0"), fixture)
      assert(rows.map(_(2)).toSeq == Seq("0.5", "1.5", "2.5", "3.5", "4.5"), fixture)
      assert(rows.map(_(3)).toSeq == Seq("True", "False", "True", "True", "False"), fixture)
      assert(rows.map(_(4)).toSeq == Seq("alpha", "beta", "", "délta", "eps"), fixture)
      assert(rows.map(_(5)).toSeq == Seq("2026-01-01 00:00:00", "2026-01-02 03:04:05",
        "2026-01-02 03:04:05.123456", "2026-01-02 03:04:05.000000001", ""), fixture)
    }
    // narrow/unsigned dtypes, float32, datetime64[us] and a STRING row
    // index (dropped — positional model): 9 single-column blocks
    val misc = getClass.getResource("/sample_misc.pkl").getPath
    val md = Sources.read(spark, "m", Map("file" -> misc), java.nio.file.Paths.get("/"))
    assert(md.columns.toSeq == Seq("i1", "u1", "i2", "u2", "i4", "u4", "u8", "f4", "ts_us"))
    val mr = md.orderBy(org.apache.spark.sql.functions.col("i2").cast("int"))
      .collect().map(r => (0 until 9).map(r.getString))
    assert(mr(0).toList == List("-128", "0", "-32768", "0", "-2147483648", "0", "0",
      "1.5", "2026-02-01 00:00:00"))
    assert(mr(1).toList == List("0", "128", "5", "40000", "7", "3000000000",
      "9223372036854775808", "", "2026-02-01 12:34:56.789"))
    assert(mr(2).toList == List("127", "255", "32767", "65535", "2147483647",
      "4294967295", "18446744073709551615", "-0.25", ""))
    // protocol 2 (GLOBAL text opcodes, _codecs.encode byte spelling)
    val p2 = getClass.getResource("/sample_frame_p2.pkl").getPath
    val df2 = Sources.read(spark, "s", Map("file" -> p2), java.nio.file.Paths.get("/"))
    assert(df2.columns.toSeq == Seq("id", "a", "name"))
    val r2 = df2.orderBy("id").collect().map(r => (0 until 3).map(r.getString))
    assert(r2.map(_(1)).toSeq == Seq("1.5", "-2.25", "", "1.0E10", "42.0"))
    assert(r2.map(_(2)).toSeq == Seq("alpha", "beta", "", "délta", "eps"))
    // `type: pickle` override routes arbitrary extensions
    assert(Sources.read(spark, "s", Map("file" -> p2, "type" -> "pickle"),
      java.nio.file.Paths.get("/")).count() == 5)
    // GenPickle (the Scala writer pandas itself can read — FIXTURES.md)
    // round-trips through the native reader, incl. a null object element
    val gen = tmpDir.resolve("gen.pkl")
    graft.tools.GenPickle.write(gen.toString, Seq(
      graft.tools.GenPickle.NumCol("id", Seq(-1L, 2L, 3000000000L)),
      graft.tools.GenPickle.StrCol("name", Seq("alpha", "béta", null))), 3)
    val g = Sources.read(spark, "g", Map("file" -> gen.toString), gen.getParent)
    assert(g.columns.toSeq == Seq("id", "name"))
    val gr = g.orderBy(org.apache.spark.sql.functions.col("id").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(gr.toSeq == Seq(("-1", "alpha"), ("2", "béta"), ("3000000000", "")))
  }

  test("spss .sav/.zsav: plain, bytecode and zlib variants read all-string, SYSMIS -> \"\", long names") {
    // fixtures written by tools/GenSpss from the PSPP-documented layout
    // (no independent .sav reader exists offline — see FIXTURES.md);
    // CITY is a 12-byte string (2 slots, exercises continuation records),
    // SCORE row 3 is SYSMIS, 42.0 exercises the bias encoding in the
    // compressed variant, names map through the subtype-13 record
    // sample_multi.zsav is written with 48-byte zlib blocks so the tiny
    // fixture still spans multiple deflate streams (block-loop coverage);
    // sample_be.sav is big-endian (layout_code self-detection flips every
    // int/double read, including bytecode literal elements)
    for (fixture <- Seq("/sample_plain.sav", "/sample_comp.sav", "/sample_multi.zsav",
        "/sample_be.sav")) {
      val p = getClass.getResource(fixture).getPath
      val df = Sources.read(spark, "s", Map("file" -> p), java.nio.file.Paths.get("/"))
      assert(df.columns.toSeq == Seq("id", "score", "name", "city_name"), fixture)
      assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
      val rows = df.orderBy("id").collect().map(r => (0 until 4).map(r.getString))
      assert(rows.map(_(0)).toSeq == Seq("1.0", "2.0", "3.0", "4.0", "5.0"), fixture)
      assert(rows.map(_(1)).toSeq == Seq("1.5", "-2.25", "", "1.0E10", "42.0"), fixture)
      assert(rows.map(_(2)).toSeq == Seq("alpha", "beta", "gamma", "delta", "eps"), fixture)
      assert(rows.map(_(3)).toSeq == Seq("tokyo", "nairobi", "", "oslo", "quito"), fixture)
    }
    // `type: spss` override routes arbitrary extensions
    val p = getClass.getResource("/sample_plain.sav").getPath
    assert(Sources.read(spark, "s", Map("file" -> p, "type" -> "spss"),
      java.nio.file.Paths.get("/")).count() == 5)
    // value labels (type-3/type-4 records): labeled values render as the
    // label text, the unlabeled 9.0 keeps its numeric rendering —
    // pd.read_spss convert_categoricals parity
    val lp = getClass.getResource("/sample_labels.sav").getPath
    val ld = Sources.read(spark, "l", Map("file" -> lp), java.nio.file.Paths.get("/"))
    val lr = ld.orderBy("id").collect().map(_.getString(1))
    assert(lr.toSeq == Seq("low", "mid", "high", "9.0"))
  }

  test("pickle LONG1 beyond 64-bit range fails fast instead of truncating") {
    def fail9(msg: String): Nothing = throw new IllegalArgumentException(msg)
    // -1 as 9 sign-extended bytes: legal, still -1
    assert(Pickle.decodeLong1(Array.fill[Byte](9)(-1), fail9) == -1L)
    // Long.MinValue as 9 bytes (low 8 + 0xFF sign byte): legal
    val minv = Array[Byte](0, 0, 0, 0, 0, 0, 0, 0x80.toByte, -1)
    assert(Pickle.decodeLong1(minv, fail9) == Long.MinValue)
    // 2^63 (9 bytes, high byte 0x00 over a set sign bit): out of range
    val twoTo63 = Array[Byte](0, 0, 0, 0, 0, 0, 0, 0x80.toByte, 0)
    val e = intercept[IllegalArgumentException](Pickle.decodeLong1(twoTo63, fail9))
    assert(e.getMessage.contains("exceeds 64-bit"))
    // small negatives still sign-extend correctly
    assert(Pickle.decodeLong1(Array[Byte](-2), fail9) == -2L)
  }

  test("spss rejects very-long-string records (type 7 subtype 14) instead of mis-assembling") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spss-vls")
    val p = dir.resolve("vls.sav").toString
    graft.tools.GenSpss.write(p,
      Seq(graft.tools.GenSpss.NumCol("ID", "id", Seq(Some(1.0)))), 1, compression = 0,
      extraInfoRecord = Some((14, "ID=00300".getBytes("ISO-8859-1"))))
    val e = intercept[IllegalArgumentException] {
      Sources.read(spark, "s", Map("file" -> p), java.nio.file.Paths.get("/")).collect()
    }
    assert(e.getMessage.contains("very-long-string"))
  }

  test("spss .zsav corrupt zlib stream fails loudly instead of spinning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spss-corrupt")
    val p = dir.resolve("corrupt.zsav")
    graft.tools.GenSpss.write(p.toString,
      Seq(graft.tools.GenSpss.NumCol("ID", "id", Seq(Some(1.0), Some(2.0)))), 2,
      compression = 2)
    val bytes = java.nio.file.Files.readAllBytes(p)
    // locate the zheader: the first int64 at offset `pos` holds `pos` itself
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val zpos = (176 until bytes.length - 8).find(o => bb.getLong(o) == o.toLong)
      .getOrElse(fail("zheader not found"))
    // overwrite the first deflate block's 2-byte zlib header with one that
    // declares a preset dictionary (CMF 0x78, FLG 0x20: FDICT set, checksum
    // valid) — Inflater then stalls in needsDictionary, which must raise,
    // not loop forever
    bytes(zpos + 24) = 0x78.toByte
    bytes(zpos + 25) = 0x20.toByte
    java.nio.file.Files.write(p, bytes)
    val e = intercept[IllegalArgumentException] {
      Sources.read(spark, "s", Map("file" -> p.toString), java.nio.file.Paths.get("/")).collect()
    }
    assert(e.getMessage.contains("zsav"), e.getMessage)
  }

  test("ods: writer/reader round-trip with typed cells and trailing repeat trailers") {
    val dir = tmpDir
    val f = dir.resolve("book.ods")
    Ods.write(f, Seq(Seq("id", "name"), Seq("1", "ann"), Seq("2", "bob <&> b")), "People")
    val df = Sources.read(spark, "b", Map("file" -> "book.ods"), dir)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("ann", "bob <&> b"))
    // the writer appends a 1024-wide empty-cell trailer per row and a
    // million-row empty trailer: both must be trimmed, not materialized
    assert(df.count() == 2)
    val byName = Sources.read(spark, "b", Map("file" -> "book.ods", "sheet" -> "People"), dir)
    assert(byName.count() == 2)
    intercept[IllegalArgumentException](
      Sources.read(spark, "b", Map("file" -> "book.ods", "sheet" -> "Nope"), dir))
  }

  test("ods: repeats, booleans, dates, whitespace elements, covered cells, odt text tables") {
    val dir = tmpDir
    def odf(path: java.nio.file.Path, body: String, mime: String): Unit = {
      val content =
        """<?xml version="1.0" encoding="UTF-8"?>""" +
          """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" office:version="1.2"><office:body>""" +
          body + "</office:body></office:document-content>"
      val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
      zos.putNextEntry(new java.util.zip.ZipEntry("mimetype"))
      zos.write(mime.getBytes("UTF-8")); zos.closeEntry()
      zos.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
      zos.close()
    }
    val f = dir.resolve("typed.ods")
    odf(f,
      """<office:spreadsheet><table:table table:name="S">""" +
        // header
        """<table:table-row><table:table-cell office:value-type="string"><text:p>a</text:p></table:table-cell><table:table-cell office:value-type="string"><text:p>b</text:p></table:table-cell><table:table-cell office:value-type="string"><text:p>c</text:p></table:table-cell><table:table-cell office:value-type="string"><text:p>d</text:p></table:table-cell></table:table-row>""" +
        // repeated value cell ×2, boolean, date; covered cell shadows content
        """<table:table-row><table:table-cell office:value-type="float" office:value="7" table:number-columns-repeated="2"><text:p>7</text:p></table:table-cell><table:table-cell office:value-type="boolean" office:boolean-value="true"><text:p>TRUE</text:p></table:table-cell><table:covered-table-cell><text:p>hidden</text:p></table:covered-table-cell></table:table-row>""" +
        // interior empty-cell gap via repeat; whitespace elements; two paragraphs
        """<table:table-row><table:table-cell table:number-columns-repeated="2"/><table:table-cell office:value-type="string"><text:p>x<text:s text:c="2"/>y<text:tab/>z<text:line-break/>w</text:p><text:p>p2</text:p></table:table-cell><table:table-cell office:value-type="date" office:date-value="2024-02-29"><text:p>Feb 29</text:p></table:table-cell></table:table-row>""" +
        // interior empty ROW via number-rows-repeated, then a data row
        """<table:table-row table:number-rows-repeated="2"><table:table-cell table:number-columns-repeated="4"/></table:table-row>""" +
        """<table:table-row><table:table-cell office:value-type="float" office:value="-1.5"><text:p>-1.5</text:p></table:table-cell></table:table-row>""" +
        "</table:table></office:spreadsheet>",
      "application/vnd.oasis.opendocument.spreadsheet")
    val rows = Ods.readRows(f.toString, None)
    assert(rows(0) == Vector("a", "b", "c", "d"))
    assert(rows(1) == Vector("7", "7", "True", ""))
    assert(rows(2) == Vector("", "", "x  y\tz\nw\np2", "2024-02-29"))
    assert(rows(3) == Vector("", "", "", "")) // interior empty rows kept
    assert(rows(4) == Vector("", "", "", ""))
    assert(rows(5) == Vector("-1.5", "", "", ""))
    assert(rows.size == 6)
    // .odt: tables live under office:text; same parser, sheet by index
    val t = dir.resolve("doc.odt")
    odf(t,
      """<office:text><text:p>prose before</text:p><table:table table:name="T1">""" +
        """<table:table-row><table:table-cell office:value-type="string"><text:p>k</text:p></table:table-cell></table:table-row>""" +
        """<table:table-row><table:table-cell office:value-type="string"><text:p>v</text:p></table:table-cell></table:table-row>""" +
        "</table:table></office:text>",
      "application/vnd.oasis.opendocument.text")
    val odt = Sources.read(spark, "t", Map("file" -> "doc.odt"), dir)
    assert(odt.columns.toSeq == Seq("k") && odt.head().getString(0) == "v")
  }

  test("xlsb: BIFF12 writer/reader round-trip — RK, real, bool, shared strings, blanks") {
    val dir = tmpDir
    val f = dir.resolve("book.xlsb")
    Xlsb.write(f, Seq(
      Seq("id", "name", "score", "flag"),
      Seq("1", "ann", "42.5", "True"),
      Seq("-7", "bob <&> b", "1000000000.25", "False"), // RK negative + real beyond RK range
      Seq("2", "", "3", "True")), "People") // blank cell mid-row
    val df = Sources.read(spark, "b", Map("file" -> "book.xlsb"), dir)
    assert(df.columns.toSeq == Seq("id", "name", "score", "flag"))
    val rows = df.orderBy(org.apache.spark.sql.functions.col("id").cast("long")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("-7", "bob <&> b", "1000000000.25", "False"),
      ("1", "ann", "42.5", "True"),
      ("2", "", "3", "True")))
    // sheet selection parity with the xlsx reader
    val byName = Sources.read(spark, "b", Map("file" -> "book.xlsb", "sheet" -> "People"), dir)
    assert(byName.count() == 3)
    intercept[IllegalArgumentException](
      Sources.read(spark, "b", Map("file" -> "book.xlsb", "sheet" -> "Nope"), dir))
  }

  test("xls: BIFF8 writer/reader round-trip through the CFB mini stream") {
    val dir = tmpDir
    val f = dir.resolve("book.xls")
    graft.tools.GenXls.write(f.toString, Seq(
      Seq("id", "name", "score", "flag"),
      Seq("1", "ann ☃ snow", "42.5", "True"),      // UTF-16 shared string
      Seq("-7", "bob <&> b", "1000000000.25", "False"), // RK negative + NUMBER
      Seq("2", "", "3", "True")))
    val df = Sources.read(spark, "b", Map("file" -> "book.xls"), dir)
    assert(df.columns.toSeq == Seq("id", "name", "score", "flag"))
    val rows = df.orderBy(org.apache.spark.sql.functions.col("id").cast("long")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      ("-7", "bob <&> b", "1000000000.25", "False"),
      ("1", "ann ☃ snow", "42.5", "True"),
      ("2", "", "3", "True")))
  }

  test("xls: SST CONTINUE split, MULRK runs, sheet selection, FAT-chained big stream") {
    val dir = tmpDir
    val f = dir.resolve("cont.xls")
    val long = "x" * 300 + " tail"
    graft.tools.GenXls.write(f.toString,
      Seq(Seq("a", "b", "c"), Seq("10", "20", long), Seq("30", "40", "label")),
      sheetName = "Data", forceContinueSplit = true)
    val rows = Xls.readRows(f.toString, Some("Data"))
    assert(rows(1) == Vector("10", "20", long))   // MULRK pair + split string
    assert(rows(2) == Vector("30", "40", "label"))
    intercept[IllegalArgumentException](Xls.readRows(f.toString, Some("Nope")))
    // ≥4096-byte workbook stream exercises the regular FAT chain
    val big = dir.resolve("big.xls")
    val bigRows = Seq(Seq("k", "v")) ++ (1 to 300).map(i => Seq(i.toString, s"row_$i value"))
    graft.tools.GenXls.write(big.toString, bigRows)
    val bdf = Sources.read(spark, "b", Map("file" -> "big.xls"), dir)
    assert(bdf.count() == 300)
    assert(bdf.filter(org.apache.spark.sql.functions.col("k") === "300")
      .head().getString(1) == "row_300 value")
  }

  test("xls: multi-sheet workbook selects by name and index via BOUNDSHEET offsets") {
    val dir = tmpDir
    val f = dir.resolve("multi.xls")
    graft.tools.GenXls.writeCfb(f.toString, "Workbook",
      graft.tools.GenXls.workbookStream(Seq(
        "First" -> Seq(Seq("a"), Seq("1")),
        "Second" -> Seq(Seq("b", "c"), Seq("x", "99"), Seq("y", "100")))))
    assert(Xls.readRows(f.toString, None) == Vector(Vector("a"), Vector("1")))
    assert(Xls.readRows(f.toString, Some("Second")) ==
      Vector(Vector("b", "c"), Vector("x", "99"), Vector("y", "100")))
    assert(Xls.readRows(f.toString, Some("1")) == Xls.readRows(f.toString, Some("Second")))
  }

  test("xls: FORMULA cached results (number/string/bool/blank), LABEL, BOOLERR error text") {
    // hand-assembled BIFF8 stream: records the generator never emits
    val b = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { b.write(v & 0xFF); b.write((v >> 8) & 0xFF) }
    def u32(v: Long): Unit = { u16(v.toInt & 0xFFFF); u16(((v >> 16) & 0xFFFF).toInt) }
    def rec(id: Int, payload: Array[Byte]): Unit = { u16(id); u16(payload.length); b.write(payload) }
    def pay(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val p = new java.io.ByteArrayOutputStream(); f(p); p.toByteArray
    }
    def pu16(p: java.io.ByteArrayOutputStream, v: Int): Unit = { p.write(v & 0xFF); p.write((v >> 8) & 0xFF) }
    def pu32(p: java.io.ByteArrayOutputStream, v: Long): Unit = { pu16(p, v.toInt & 0xFFFF); pu16(p, ((v >> 16) & 0xFFFF).toInt) }
    // globals: BOF, empty SST, one BOUNDSHEET, EOF
    rec(0x0809, pay { p => pu16(p, 0x0600); pu16(p, 0x0005); pu16(p, 0); pu16(p, 0); pu32(p, 0); pu32(p, 0) })
    rec(0x00FC, pay { p => pu32(p, 0); pu32(p, 0) })
    val boundsheetPos = b.size() + 4 // offset of lbPlyPos in the stream
    rec(0x0085, pay { p => pu32(p, 0); pu16(p, 0); p.write(1); p.write(0); p.write('S') })
    rec(0x000A, Array.emptyByteArray)
    val sheetStart = b.size()
    rec(0x0809, pay { p => pu16(p, 0x0600); pu16(p, 0x0010); pu16(p, 0); pu16(p, 0); pu32(p, 0); pu32(p, 0) })
    // row 0: FORMULA with cached NUMBER 2.5 (col 0); FORMULA with cached
    // string (col 1) + STRING record; LABEL (col 2)
    rec(0x0006, pay { p => pu16(p, 0); pu16(p, 0); pu16(p, 15)
      val bits = java.lang.Double.doubleToLongBits(2.5)
      var i = 0; var v = bits; while (i < 8) { p.write((v & 0xFF).toInt); v >>= 8; i += 1 }
      pu16(p, 0); pu32(p, 0) }) // grbit + chn; no parsed expression needed
    rec(0x0006, pay { p => pu16(p, 0); pu16(p, 1); pu16(p, 15)
      p.write(0); p.write(0); p.write(0); p.write(0); p.write(0); p.write(0); p.write(0xFF); p.write(0xFF)
      pu16(p, 0); pu32(p, 0) })
    rec(0x0207, pay { p => pu16(p, 4); p.write(0); p.write("calc".getBytes("ISO-8859-1")) })
    rec(0x0204, pay { p => pu16(p, 0); pu16(p, 2); pu16(p, 15)
      pu16(p, 5); p.write(0); p.write("label".getBytes("ISO-8859-1")) })
    // row 1: FORMULA cached bool TRUE (col 0); FORMULA cached blank (col 1);
    // BOOLERR carrying #DIV/0! (col 2)
    rec(0x0006, pay { p => pu16(p, 1); pu16(p, 0); pu16(p, 15)
      p.write(1); p.write(0); p.write(1); p.write(0); p.write(0); p.write(0); p.write(0xFF); p.write(0xFF)
      pu16(p, 0); pu32(p, 0) })
    rec(0x0006, pay { p => pu16(p, 1); pu16(p, 1); pu16(p, 15)
      p.write(3); p.write(0); p.write(0); p.write(0); p.write(0); p.write(0); p.write(0xFF); p.write(0xFF)
      pu16(p, 0); pu32(p, 0) })
    rec(0x0205, pay { p => pu16(p, 1); pu16(p, 2); pu16(p, 15); p.write(0x07); p.write(1) })
    rec(0x000A, Array.emptyByteArray)
    val stream = b.toByteArray
    // patch the BOUNDSHEET's lbPlyPos
    stream(boundsheetPos) = (sheetStart & 0xFF).toByte
    stream(boundsheetPos + 1) = ((sheetStart >> 8) & 0xFF).toByte
    stream(boundsheetPos + 2) = ((sheetStart >> 16) & 0xFF).toByte
    stream(boundsheetPos + 3) = ((sheetStart >> 24) & 0xFF).toByte
    val dir = tmpDir
    val f = dir.resolve("formula.xls")
    graft.tools.GenXls.writeCfb(f.toString, "Workbook", stream)
    val rows = Xls.readRows(f.toString, None)
    assert(rows == Vector(
      Vector("2.5", "calc", "label"),
      Vector("True", "", "#DIV/0!")))
  }

  test("xls: UTF-16 split CONTINUE string round-trips") {
    val dir = tmpDir
    val f = dir.resolve("uni.xls")
    val uni = "☃" * 40 + "末尾"
    graft.tools.GenXls.write(f.toString,
      Seq(Seq("c"), Seq(uni)), forceContinueSplit = true)
    assert(Xls.readRows(f.toString, None)(1) == Vector(uni))
  }

  test("ods and xlsb multi-sheet writers: selection by name and index") {
    val dir = tmpDir
    val sheets = Seq(
      "First" -> Seq(Seq("a"), Seq("1")),
      "Second" -> Seq(Seq("b", "c"), Seq("x", "99")))
    val o = dir.resolve("multi.ods")
    Ods.writeSheets(o, sheets)
    assert(Ods.readRows(o.toString, None) == Vector(Vector("a"), Vector("1")))
    assert(Ods.readRows(o.toString, Some("Second")) ==
      Vector(Vector("b", "c"), Vector("x", "99")))
    val x = dir.resolve("multi.xlsb")
    Xlsb.writeSheets(x, sheets)
    assert(Xlsb.readRows(x.toString, None) == Vector(Vector("a"), Vector("1")))
    assert(Xlsb.readRows(x.toString, Some("1")) ==
      Vector(Vector("b", "c"), Vector("x", "99")))
    intercept[IllegalArgumentException](Xlsb.readRows(x.toString, Some("Nope")))
  }

  test("xlsb: RK decode covers int, x100, and truncated-double forms") {
    // fInt: 300 << 2 | 2
    assert(Biff.rkToDouble((300 << 2) | 0x2) == 300.0)
    // fInt + fX100: 12345 stored, meaning 123.45
    assert(Biff.rkToDouble((12345 << 2) | 0x3) == 123.45)
    // truncated double: high 30 bits of 0.75 (sign/exp/upper mantissa intact)
    val bits = java.lang.Double.doubleToLongBits(0.75)
    assert(Biff.rkToDouble(((bits >> 32) & 0xFFFFFFFCL).toInt) == 0.75)
    assert(Biff.numToString(42.0) == "42" && Biff.numToString(42.5) == "42.5")
  }
}
