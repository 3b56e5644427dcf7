package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption.{CREATE, WRITE, TRUNCATE_EXISTING, READ}
import scala.jdk.CollectionConverters._

/**
 * The reference's ONLY published benchmark, reproduced at published scale
 * through the REAL CLI/YAML path (compile → DAG → execute → destination):
 * docs/design.md "Performance" — "source files of 3.3GB, 100M rows
 * (synthetic attendance data): creating 100M lines of JSONL (30GB) takes
 * around 50 minutes on a modern laptop" ≈ 33k rows/s. Config mirrored from
 * example_projects/01_simple/big_earthmover.yaml (map_values +
 * rename_columns + add_columns → Jinja template render, linearized JSONL);
 * the TSV is synthesized per sources/big_attendance.sql's datafiller
 * column spec (day 2019-08-02..2020-06-17, school_id 1..10000, session
 * 1..20, student_id 1..10M, attended TRUE at rate .995, duration
 * 30..1830 step 30) since the reference's data file is not distributed
 * with its repo either.
 *
 * Stages (args: [rows] [stages]):
 *  gen   — synthesize the single-file TSV (timed separately; not part of
 *          the pipeline measurement, the reference's isn't either)
 *  run   — `graft.cli.Main run -c` on the mirrored project, timed
 *          wall-clock; partitioned destination (the 100TB-shaped sink)
 *  check — output line count == rows, plus a sampled-parity dump: rows
 *          for a fixed student_id set and their rendered lines, which
 *          tools/check_bigatt.py re-renders INDEPENDENTLY (python
 *          Jinja2, the engine the reference itself uses) and diffs.
 */
object BigAttendance {
  private val Base = "/tmp/graft_bigatt"
  private val Header = "day\tschool_id\tsession\tstudent_id\tattended\tduration"
  /** Sample keys for the parity check: the first 5 distinct student_ids in
    * the file — data-derived so they exist at ANY row count (fixed ids
    * spread over 1..10M would all miss a small smoke run). */
  private def sampleIds(): Seq[String] = {
    val in = Files.lines(Paths.get(Base, "sources", "big_attendance.tsv"))
    try in.skip(1).limit(200).iterator().asScala
      .map(_.split("\t")(3)).toSeq.distinct.take(5)
    finally in.close()
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(100000000L)
    // `runsingle` = parity-mode single output file (the reference's exact
    // output shape: ONE ~30GB jsonl, driver-streamed) — stricter
    // apples-to-apples than the partitioned sink, slower by design
    val stages: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set("gen", "run", "check")
    val spark = graft.Session.build()
    try {
      if (stages("gen")) gen(spark, rows)
      if (stages("run")) run(partitioned = true)
      if (stages("runsingle")) run(partitioned = false)
      if (stages("check")) check(spark, rows)
    } finally spark.stop()
  }

  /** Synthesize the TSV: 64 input splits of codegen'd hash-derived columns
    * written as text parts, then channel-concatenated into the single
    * header-led file the reference benchmark reads. */
  private def gen(spark: SparkSession, rows: Long): Unit = {
    val dir = Paths.get(Base, "sources")
    Files.createDirectories(dir)
    val t0 = System.nanoTime()
    def hm(seed: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed)), lit(m))
    val df = spark.range(0L, rows, 1L, 64).select(
      concat_ws("\t",
        date_format(date_add(to_date(lit("2019-08-02")), hm(1, 321).cast("int")), "yyyy-MM-dd"),
        (hm(2, 10000) + 1).cast("string"),
        (hm(3, 20) + 1).cast("string"),
        (hm(4, 10000000) + 1).cast("string"),
        when(hm(5, 1000) < 995, "TRUE").otherwise("FALSE"),
        ((hm(6, 61) + 1) * 30).cast("string")
      ).as("value"))
    val partsDir = Paths.get(Base, "gen_parts")
    df.write.mode("overwrite").text(partsDir.toString)
    val out = dir.resolve("big_attendance.tsv")
    val ch = FileChannel.open(out, CREATE, WRITE, TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap((Header + "\n").getBytes("UTF-8")))
      val parts = Files.list(partsDir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      for (p <- parts) {
        val in = FileChannel.open(p, READ)
        try {
          var pos = 0L
          val sz = in.size()
          while (pos < sz) pos += in.transferTo(pos, sz - pos, ch)
        } finally in.close()
      }
    } finally ch.close()
    // reclaim the intermediate parts (the TSV alone is ~3.3GB at 100M)
    Files.walk(partsDir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[bigatt] gen: $rows%d rows, ${Files.size(out)}%d bytes, $secs%.1f s")
  }

  /** Mirror of example_projects/01_simple/big_earthmover.yaml (+ template
    * templates/studentSchoolAttendanceEvent.jsont), pointed at [[Base]] and
    * switched to the partitioned sink — the shape a 100TB output needs. */
  private def writeProject(partitioned: Boolean): Path = {
    Files.createDirectories(Paths.get(Base, "templates"))
    val tpl = """{
  "id": "{{ school }}-{{ session }}-{{ day }}-{{ student_id }}-{{ status }}",
  "attendanceEventCategoryDescriptor": "{{ status }}",
  "eventDate": "{{ day }}",
  "schoolReference": {
    "schoolId": {{ school }}
  },
  "sessionReference": {
    "schoolId": {{ school }},
    "schoolYear": 1920,
    "sessionName": "{{ session }}"
  },
  "studentReference": {
    "studentUniqueId": "{{ student_id }}"
  }{# ,
  "attendanceEventReason": "string",
  "educationalEnvironmentDescriptor": "string",
  "eventDuration": {{ duration }} #}
}
"""
    Files.writeString(Paths.get(Base, "templates", "studentSchoolAttendanceEvent.jsont"), tpl)
    val yaml = s"""version: 2

config:
  output_dir: $Base/output/

sources:
  attendance:
    file: $Base/sources/big_attendance.tsv
    header_rows: 1

transformations:
  attendance:
    source: $$sources.attendance
    operations:
      - operation: map_values
        column: attended
        mapping:
          "TRUE": absent
          "FALSE": present
      - operation: rename_columns
        columns:
          attended: status
      - operation: add_columns
        columns:
          school: 12345

destinations:
  studentSchoolAttendanceEvents:
    source: $$transformations.attendance
    template: $Base/templates/studentSchoolAttendanceEvent.jsont
    extension: jsonl
    linearize: True${if (partitioned) "\n    partitioned: True" else ""}
"""
    val f = Paths.get(Base, "graft.yaml")
    Files.writeString(f, yaml)
    f
  }

  private def run(partitioned: Boolean): Unit = {
    val yaml = writeProject(partitioned)
    // the two sink shapes share the output path: clear the other shape's
    // result first (and reclaim its ~30GB)
    val target = Paths.get(Base, "output", "studentSchoolAttendanceEvents.jsonl")
    if (Files.exists(target))
      Files.walk(target).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val t0 = System.nanoTime()
    val code = graft.cli.Main.dispatch(Array("run", "-c", yaml.toString, "-f"))
    val secs = (System.nanoTime() - t0) / 1e9
    require(code == 0, s"[bigatt] cli run exited $code")
    val mode = if (partitioned) "partitioned sink" else "SINGLE-FILE sink (reference parity shape)"
    println(f"[bigatt] run: $secs%.1f s wall (CLI run, compile->DAG->execute->$mode)")
  }

  private def check(spark: SparkSession, rows: Long): Unit = {
    val outDir = s"$Base/output/studentSchoolAttendanceEvents.jsonl"
    val t0 = System.nanoTime()
    val out = spark.read.textFile(outDir)
    val n = out.count()
    require(n == rows, s"[bigatt] line count $n != $rows")
    // sampled parity: the TSV rows for the sample ids, and the rendered
    // lines claiming those ids — tools/check_bigatt.py re-renders the rows
    // with python Jinja2 (reference semantics) and diffs the sorted sets
    val checkDir = Paths.get(Base, "check")
    Files.createDirectories(checkDir)
    val idStrs = sampleIds()
    val src = spark.read
      .option("sep", "\t").option("header", true)
      .csv(s"$Base/sources/big_attendance.tsv")
      .filter(col("student_id").isin(idStrs: _*))
      .collect()
    val pats = idStrs.map(i => s""""studentUniqueId": "$i"""")
    val hits = out.filter(l => pats.exists(l.contains)).collect()
    Files.write(checkDir.resolve("rows.tsv"),
      (Header +: src.map(_.toSeq.mkString("\t"))).mkString("\n").getBytes("UTF-8"))
    Files.write(checkDir.resolve("lines.txt"), hits.mkString("\n").getBytes("UTF-8"))
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[bigatt] check: lines=$n%d sampled_rows=${src.length}%d " +
      f"sampled_lines=${hits.length}%d, $secs%.1f s " +
      "(now run: python3 tools/check_bigatt.py)")
  }
}
