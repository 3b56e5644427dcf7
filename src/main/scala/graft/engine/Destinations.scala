package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import java.nio.file.{Files, Paths, Path}
import graft.template.{Jinja, RowTemplates}

/**
 * Destination writer (reference nodes/destination.py:47-182): render a Jinja
 * template once per row, write `{output_dir}/{name}.{extension}` with
 * optional header/footer (themselves Jinja, rendered against the first row)
 * and `linearize` (default TRUE, destination.py:69): whitespace runs in the
 * TEMPLATE SOURCE collapse to single spaces before compiling
 * (destination.py:95-96) — data values keep their whitespace, which
 * output-side collapsing would corrupt.
 *
 * Two output modes:
 *  - single-file (reference parity): the rendered rows are written as
 *    text parts in parallel, then the driver concatenates the parts in
 *    partition order into `{name}.{extension}`, with the header and footer
 *    around them;
 *  - partitioned (`partitioned: true`): df.write.text emits one part per
 *    partition — the only shape that makes sense at 100 TB, where a single
 *    output file is itself the bottleneck.
 */
object Destinations {

  /** Spark's short name "zstd" resolves to Hadoop's native-backed codec
    * (libhadoop, absent here); route zst/zstd requests to the pure-Java
    * [[ZstdCodec]] by class name instead. Other names pass through. */
  private def zstAware(c: String): String =
    if (c == "zst" || c == "zstd") classOf[ZstdCodec].getName else c

  def write(df: DataFrame, name: String, cfg: Map[String, Any], outputDir: Path, configDir: Path): Path = {
    // Columnar mode (engine extension beyond the reference's template-text
    // destinations): `format: parquet|orc|csv|json` writes spark-native
    // multi-part columnar output — the training-data shape, where the
    // output feeds further distributed reads, not humans. Optional
    // `partition_by` hive-partitions for downstream partition pruning;
    // `compression` passes through. Template/framing keys don't apply.
    Config.str(cfg, "format").foreach { fmt =>
      // Spreadsheet mode: a single driver-written workbook for the
      // human-artifact formats the source side reads. Deliberately refused
      // past Excel's own sheet capacity — a bigger frame is data, not a
      // spreadsheet, and belongs in a columnar format.
      if (Set("xlsx", "ods", "xlsb").contains(fmt)) {
        require(Seq("template", "header", "footer").forall(k => Config.str(cfg, k).isEmpty),
          s"destination `$name`: `format: $fmt` is a spreadsheet — template/header/footer don't apply")
        Files.createDirectories(outputDir)
        val target = outputDir.resolve(s"$name.$fmt")
        // the header row written below occupies one of Excel's 1,048,576
        // sheet rows, so data rows cap at 1,048,575 (probe one past it)
        val capped = df.limit(1048576).collect()
        require(capped.length <= 1048575,
          s"destination `$name`: frame exceeds the 1,048,575-row spreadsheet capacity " +
            "(header row included) — " +
            "use `format: parquet` (or csv/json) for data-scale output")
        val sheet = Config.str(cfg, "sheet").getOrElse("Sheet1")
        val rows = df.columns.toSeq +:
          capped.toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString))
        fmt match {
          case "xlsx" => Xlsx.write(target, rows, sheet)
          case "ods" => Ods.write(target, rows, sheet)
          case "xlsb" => Xlsb.write(target, rows, sheet)
        }
        return target
      }
      // WebDataset shard mode: (key, ext, content-binary) rows packaged as
      // one tar per partition — the multimodal training-corpus write face
      // (the tar SOURCE reads it back). Caller sizes shards by
      // `partitions:`; `compression: gzip` emits .tar.gz.
      if (fmt == "tar") {
        require(Seq("template", "header", "footer").forall(k => Config.str(cfg, k).isEmpty),
          s"destination `$name`: `format: tar` is a shard archive — template/header/footer don't apply")
        Files.createDirectories(outputDir)
        val target = outputDir.resolve(name)
        val sized = Config.int(cfg, "partitions") match {
          case Some(n) => df.repartition(n)
          case None => df
        }
        Tar.writeShards(sized, target.toString,
          gzip = Config.str(cfg, "compression").contains("gzip"),
          zstd = Config.str(cfg, "compression").exists(c => c == "zstd" || c == "zst"))
        return target
      }
      // Avro object-container shards through the canonical avro-java
      // writer (no spark-avro connector on this classpath): per-partition
      // part files, `compression: deflate|snappy`, `partitions:` sizes
      // shards like the tar sink.
      if (fmt == "avro") {
        require(Seq("template", "header", "footer").forall(k => Config.str(cfg, k).isEmpty),
          s"destination `$name`: `format: avro` is columnar — template/header/footer don't apply")
        Files.createDirectories(outputDir)
        val target = outputDir.resolve(name)
        val sized = Config.int(cfg, "partitions") match {
          case Some(n) => df.repartition(n)
          case None => df
        }
        Avro.write(sized, target.toString, Config.str(cfg, "compression"))
        return target
      }
      require(Set("parquet", "orc", "csv", "json").contains(fmt),
        s"destination `$name`: unsupported format `$fmt` (parquet/orc/csv/json/avro/xlsx/ods/xlsb/tar)")
      require(Seq("template", "header", "footer").forall(k => Config.str(cfg, k).isEmpty),
        s"destination `$name`: `format: $fmt` is columnar — template/header/footer don't apply")
      Files.createDirectories(outputDir)
      val target = outputDir.resolve(s"$name.$fmt")
      // `sort_by:` sorts WITHIN write partitions (no extra exchange — this
      // is NOT a global sort) so columnar row-group min/max stats become
      // selective: a later filter on the sort key skips whole row groups.
      // The cheap sibling of zorder_by when one key dominates reads.
      val sortCols = Config.asScalarList(cfg.getOrElse("sort_by", Nil)).map(_.toString)
      val sorted =
        if (sortCols.isEmpty) df
        else {
          sortCols.foreach(c => require(df.columns.contains(c),
            s"destination `$name`: sort_by column `$c` not in the frame"))
          df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
        }
      var w = sorted.write.mode("overwrite")
      val pb = Config.asScalarList(cfg.getOrElse("partition_by", Nil)).map(_.toString)
      if (pb.nonEmpty) w = w.partitionBy(pb: _*)
      // parquet/orc carry zstd natively (their own pure-Java codecs); only
      // the Hadoop-codec-backed text formats need the class-name reroute
      Config.str(cfg, "compression").foreach(c =>
        w = w.option("compression", if (fmt == "csv" || fmt == "json") zstAware(c) else c))
      // `max_rows_per_file` bounds shard size — training loaders want
      // ~uniform shards; maps to Spark's maxRecordsPerFile so writer
      // tasks roll files without an extra repartition
      Config.int(cfg, "max_rows_per_file").foreach(n =>
        w = w.option("maxRecordsPerFile", n.toString))
      if (fmt == "csv") w = w.option("header", "true")
      // `bucket_by: {columns: [...], num_buckets: N, sort_by: [...]}`
      // hash-buckets the output so downstream same-key joins/aggregations
      // read both sides co-located and skip the shuffle entirely — at
      // 100 TB the dominant cost of a repeated join is the exchange, and
      // bucketing pays it ONCE at write time. Spark's bucketing metadata
      // lives in the catalog, so this path registers an EXTERNAL table
      // (data stays under the destination dir) named `name`, overridable
      // with `table:`.
      Config.asMap(cfg.getOrElse("bucket_by", Map.empty[String, Any])) match {
        case bb if bb.nonEmpty =>
          val bcols = Config.asScalarList(bb.getOrElse("columns", Nil)).map(_.toString)
          require(bcols.nonEmpty,
            s"destination `$name`: bucket_by needs `columns`")
          val n = bb.get("num_buckets").map(_.toString.toInt).getOrElse(32)
          val tbl = Config.str(cfg, "table").getOrElse(name)
          w = w.option("path", target.toString).bucketBy(n, bcols.head, bcols.tail: _*)
          val sb = Config.asScalarList(bb.getOrElse("sort_by", Nil)).map(_.toString)
          if (sb.nonEmpty) w = w.sortBy(sb.head, sb.tail: _*)
          df.sparkSession.sql(s"DROP TABLE IF EXISTS `$tbl`")
          w.format(fmt).saveAsTable(tbl)
        case _ =>
          w.format(fmt).save(target.toString)
      }
      return target
    }

    val extension = Config.str(cfg, "extension").getOrElse("jsonl")
    val linearize = Config.bool(cfg, "linearize", default = true)
    val partitioned = Config.bool(cfg, "partitioned")

    val rendered = renderColumn(df, cfg, configDir, linearize)
    val out = df.select(rendered.as("value"))

    Files.createDirectories(outputDir)
    val target = outputDir.resolve(s"$name.$extension")

    val headerTpl = Config.str(cfg, "header")
    val footerTpl = Config.str(cfg, "footer")

    if (partitioned) {
      // scale path: spark-native multi-part text output; header/footer are
      // not supported here (they imply a single serial file)
      require(headerTpl.isEmpty && footerTpl.isEmpty,
        s"destination `$name`: header/footer require single-file mode")
      var tw = out.write.mode("overwrite")
      Config.int(cfg, "max_rows_per_file").foreach(n =>
        tw = tw.option("maxRecordsPerFile", n.toString))
      Config.str(cfg, "compression").foreach(c => tw = tw.option("compression", zstAware(c)))
      tw.text(target.toString)
      target
    } else {
      // First row only loaded when header/footer actually contain Jinja
      // (destination.py:128-141); Jinja framing gets the row-render "\n",
      // static framing is written verbatim (destination.py:143-159).
      // toJSON omits null fields, but the reference maps NaN/None to ""
      // (destination.py:57,164-169) — merge over a base of all columns → ""
      // so framing variables never render as undefined.
      lazy val firstRow: Map[String, Any] = {
        val base: Map[String, Any] = df.columns.map(_ -> ("": Any)).toMap
        base ++ df.limit(1).toJSON.collect().headOption
          .map(j => Jinja.Json.parse(j).asInstanceOf[Map[String, Any]])
          .getOrElse(Map.empty)
      }
      // Framing renders via render_row in the reference (destination.py:
      // 143-146,164-170), which injects the row self-reference — mirror
      // RowTemplates' one-level __row_data__ nesting.
      lazy val framingCtx: Map[String, Any] =
        firstRow + ("__row_data__" -> (firstRow + ("__row_data__" -> firstRow)))
      def framingBytes(tpl: String): Array[Byte] =
        (if (containsJinja(tpl)) Jinja.render(tpl, framingCtx) + "\n" else tpl)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // Distributed render + byte-level part concat. The former
      // implementation streamed every row through the driver
      // (toLocalIterator + BufferedWriter) — a single-threaded
      // render-and-encode loop that measured 463 s on the 100M-row
      // reference-parity leg where the partitioned sink needs ~67 s.
      // Rendering now writes text parts IN PARALLEL (identical bytes:
      // df.write.text emits UTF-8 + "\n" per row, parts are in
      // partition order), then the sorted parts stream into
      // `{name}.{extension}` via FileChannel.transferTo with
      // header/footer framed around — same single-file contract,
      // disk-bound instead of driver-CPU-bound.
      val tmp = Files.createTempDirectory(outputDir, s".$name-parts-")
      try {
        out.write.mode("overwrite").text(tmp.toString)
        val parts = {
          val s = Files.list(tmp)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .filter(_.getFileName.toString.startsWith("part-"))
              .toVector.sortBy(_.getFileName.toString)
          } finally s.close()
        }
        val ch = java.nio.channels.FileChannel.open(target,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          headerTpl.foreach(t => ch.write(java.nio.ByteBuffer.wrap(framingBytes(t))))
          parts.foreach { p =>
            val in = java.nio.channels.FileChannel.open(p,
              java.nio.file.StandardOpenOption.READ)
            try {
              var pos = 0L
              val size = in.size()
              while (pos < size) pos += in.transferTo(pos, size - pos, ch)
            } finally in.close()
          }
          footerTpl.foreach(t => ch.write(java.nio.ByteBuffer.wrap(framingBytes(t))))
        } finally ch.close()
      } finally {
        import scala.jdk.CollectionConverters._
        val all = Files.walk(tmp)
        try all.iterator().asScala.toVector.reverseIterator
          .foreach(p => Files.deleteIfExists(p))
        finally all.close()
      }
      target
    }
  }

  /** util.py:55-70 `contains_jinja`. */
  def containsJinja(s: String): Boolean =
    (s.contains("{{") && s.contains("}}")) ||
      (s.contains("{%") && s.contains("%}")) ||
      (s.contains("{#") && s.contains("#}"))

  /** The per-row rendered line: template file if given, else the default
    * row-as-JSON-object (destination.py:62 DEFAULT_TEMPLATE) — which we
    * compile to a native concat of JSON-escaped fragments instead of
    * interpreting Jinja. `linearize` collapses whitespace in the template
    * SOURCE before compiling (destination.py:95-96). */
  def renderColumn(df: DataFrame, cfg: Map[String, Any], configDir: Path, linearize: Boolean): Column =
    Config.str(cfg, "template") match {
      case Some(tplPath) =>
        val p = { val x = Paths.get(tplPath); if (x.isAbsolute) x else configDir.resolve(tplPath) }
        val source0 = Files.readString(p)
        val source = if (linearize) source0.replaceAll("\\s+", " ") else source0
        RowTemplates.templateColumn(df, source)
      case None =>
        defaultTemplateColumn(df)
    }

  /** Native compilation of DEFAULT_TEMPLATE (destination.py:62): emits
    * `{ "col": <tojson value>, ... }` — NaN/None → "" and primitives
    * stringified first (destination.py:21-58 cast_output_dtype), so every
    * value renders as a JSON string. Stays inside whole-stage codegen. */
  private[engine] def defaultTemplateColumn(df: DataFrame): Column = {
    val frags = df.columns.map { c =>
      concat(lit("\"" + c + "\": "),
        jsonQuote(coalesce(col(c).cast(StringType), lit(""))))
    }
    concat(lit("{ "), concat_ws(", ", frags.toIndexedSeq: _*), lit(" }"))
  }

  /** JSON-escape + quote one string value natively: to_json(named_struct)
    * emits `{"v":<quoted>}` with no extra whitespace, so stripping the fixed
    * 5-char prefix and 1-char suffix leaves the quoted scalar. */
  private def jsonQuote(c: Column): Column = {
    val j = to_json(struct(c.as("v")))
    j.substr(lit(6), length(j) - lit(6))
  }
}
