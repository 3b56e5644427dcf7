package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * WARC / WET reader — the Common Crawl ingest formats (ISO 28500, publicly
 * documented; WET is the text-conversion variant). This is the canonical
 * entry point of large-scale LLM training-data pipelines, so unlike the
 * legacy single-file binary formats it is implemented DISTRIBUTED: the
 * unit of parallelism is the file (the standard Common Crawl pattern —
 * a crawl is tens of thousands of ~1 GiB `.warc.gz`/`.wet.gz` objects),
 * via `binaryFiles` + per-file streaming parse in `mapPartitions`. Gzip
 * members are decompressed as a concatenated stream (WARC files are
 * per-record gzip members; `GZIPInputStream` handles member
 * concatenation), so memory stays bounded by one record, not one file.
 *
 * Emits one row per WARC record of the requested types with columns
 * `url` (WARC-Target-URI), `date` (WARC-Date), `record_type` (WARC-Type)
 * and `text` (payload as UTF-8) — all strings, the engine's model. For
 * `response` records the embedded HTTP envelope (status line + headers up
 * to the blank line, per the WARC spec's http;msgtype=response content
 * type) is stripped so `text` is the body, ready for html_to_text.
 * Records without Content-Length are rejected (the spec requires it).
 */
object Warc {

  /** keepTypes: e.g. Set("conversion") for WET, Set("response") for WARC;
    * empty keeps every record. */
  def read(spark: SparkSession, path: String, matches: Seq[org.apache.hadoop.fs.FileStatus],
           keepTypes: Set[String] = Set("conversion", "response")): DataFrame = {
    val keep = keepTypes // serializable copy
    val rows = Sources.binaryFilesSpread(spark, path, matches).flatMap {
      case (file, open) =>
        val raw = new java.io.BufferedInputStream(open())
        val in =
          if (file.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
          else if (file.endsWith(".zst")) // newer Common Crawl objects;
            // zstd-jni ships with Spark. setContinuous reads frame-
            // concatenated streams, the zstd analogue of gzip members
            new com.github.luben.zstd.ZstdInputStream(raw).setContinuous(true)
          else raw
        parseRecords(in, file).filter(r => keep.isEmpty || keep(r._3))
          .map { case (url, date, typ, text) => Row(url, date, typ, text) }
    }
    val schema = StructType(Seq("url", "date", "record_type", "text")
      .map(n => StructField(n, StringType)))
    spark.createDataFrame(rows, schema)
  }

  /** Streaming record iterator: version line, headers to blank line,
    * Content-Length payload bytes, trailing CRLF CRLF. */
  private[engine] def parseRecords(in: java.io.InputStream, file: String)
      : Iterator[(String, String, String, String)] = new Iterator[(String, String, String, String)] {
    private var nextRec: (String, String, String, String) = null
    private var finished = false

    private def readLine(): String = {
      // WARC lines are CRLF-terminated ASCII/UTF-8 header lines. Accumulate
      // raw bytes and decode once — per-byte `toChar` would be Latin-1 and
      // mojibake multi-byte UTF-8 header values (non-ASCII WARC-Target-URI).
      val buf = new java.io.ByteArrayOutputStream(80)
      var c = in.read()
      if (c < 0) return null
      while (c >= 0 && c != '\n') { buf.write(c); c = in.read() }
      val s = new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      if (s.endsWith("\r")) s.substring(0, s.length - 1) else s
    }

    private def advance(): Unit = {
      nextRec = null
      while (nextRec == null && !finished) {
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine() // inter-record CRLFs
        if (line == null) { finished = true; return }
        require(line.startsWith("WARC/"),
          s"$file: malformed WARC record header `$line`")
        val headers = scala.collection.mutable.Map[String, String]()
        var h = readLine()
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0) headers(h.substring(0, i).trim.toLowerCase) =
            h.substring(i + 1).trim
          h = readLine()
        }
        val lenL = headers.getOrElse("content-length",
          throw new IllegalArgumentException(
            s"$file: WARC record without Content-Length")).toLong
        require(lenL >= 0 && lenL <= Int.MaxValue - 8,
          s"$file: WARC record Content-Length $lenL out of supported range")
        val len = lenL.toInt
        val payload = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val n = in.read(payload, off, len - off)
          require(n >= 0, s"$file: truncated WARC payload")
          off += n
        }
        val typ = headers.getOrElse("warc-type", "")
        var text = new String(payload, "UTF-8")
        if (typ == "response" && text.startsWith("HTTP/")) {
          val i = text.indexOf("\r\n\r\n")
          if (i >= 0) text = text.substring(i + 4)
        }
        nextRec = (
          headers.getOrElse("warc-target-uri", ""),
          headers.getOrElse("warc-date", ""),
          typ,
          text)
      }
    }

    advance()
    override def hasNext: Boolean = nextRec != null
    override def next(): (String, String, String, String) = {
      val r = nextRec; advance(); r
    }
  }
}
