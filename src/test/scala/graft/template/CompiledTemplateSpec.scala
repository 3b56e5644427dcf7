package graft.template

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.types._

/** Parity pin for the native template fast path: every template the compiler
  * claims to handle must render BIT-IDENTICALLY to the Jinja interpreter
  * over an adversarial value matrix (nulls, empty, padded, unicode, numeric
  * edge cases, whole doubles in Java's scientific-notation range). A
  * divergence here means the fast path silently changes user output — the
  * worst failure mode a template engine can have. */
class CompiledTemplateSpec extends SparkSpec {

  private lazy val schema = StructType(Seq(
    StructField("s", StringType), StructField("l", LongType), StructField("d", DoubleType)))

  // (s, l, d) rows — each column carries its own edge cases
  private lazy val rows: Seq[(Any, Any, Any)] = Seq(
    ("hello World", 0L, 1.5),
    (" \tpadded \n", -5L, 2.0),
    ("", 123456789L, -3.25),
    (null, Long.MaxValue, 123456789.0), // whole double ≥ 1e7: Java toString is "1.23456789E8"
    ("ß", null, null),
    ("1.5", 7L, -0.0),
    (" -007 ", -1L, 1.0e16),
    ("99999999999999999999", 42L, 0.125),
    ("x{}y o", 1L, 9.999999999999e14),
    ("ünïcode lo", 2L, 1.0000000000001e15))

  private lazy val df = spark.createDataFrame(
    java.util.Arrays.asList(rows.map(r => Row(r._1, r._2, r._3)): _*), schema)

  private val templates = Seq(
    "{{s}}", "{{l}}", "{{d}}",
    "{{s.upper()}}", "{{s.lower()}}", "{{s.strip()}}",
    "{{s.lstrip()}}|{{s.rstrip()}}",
    "{{s.replace('l','L')}}", "{{s.replace('o','')}}",
    "{{s.zfill(8)}}",
    "{{s|int}}", "{{s|int(42)}}", "{{s|float}}",
    "{{l|int}}", "{{d|int}}", "{{l|float}}", "{{d|float}}",
    "{{d|round(1)}}", "{{d|round}}", "{{l|round}}",
    "{{s|trim}}", "{{s|upper}}", "{{s|lower}}",
    "{{l|string}}", "{{d|string}}",
    "{{s|replace('o','0')}}",
    "{{s.strip().upper()}}", "{{s|trim|lower}}", "{{s.strip()|int(9)}}",
    "a {{s.upper()}} b {{l}} c {{d}}")

  private def interpret(tpl: String, ctx: Map[String, Any]): String =
    Jinja.compile(tpl).render(ctx)

  test("native-compiled templates render identically to the interpreter") {
    for (t <- templates) {
      val compiled = RowTemplates.nativeColumn(Jinja.compile(t), schema, None)
      assert(compiled.isDefined, s"template `$t` should compile natively")
      val got = df.select(compiled.get.as("r")).collect().map(_.getString(0)).toSeq
      val want = rows.map { case (s, l, d) =>
        interpret(t, Map("s" -> s, "l" -> l, "d" -> d))
      }
      assert(got == want, s"template `$t`: native=$got interpreter=$want")
    }
  }

  test("bound `value` compiles natively with methods (modify_columns shape)") {
    for (t <- Seq("{{value.upper()}}", "{{value.strip()}}", "{{value|int}}",
        "{{value.zfill(6)}}", "pre-{{value|trim|upper}}-post")) {
      val compiled = RowTemplates.nativeColumn(Jinja.compile(t), schema, Some("s"))
      assert(compiled.isDefined, s"template `$t` should compile natively")
      val got = df.select(compiled.get.as("r")).collect().map(_.getString(0)).toSeq
      val want = rows.map { case (s, l, d) =>
        interpret(t, Map("s" -> s, "l" -> l, "d" -> d, "value" -> s))
      }
      assert(got == want, s"template `$t`: native=$got interpreter=$want")
    }
  }

  test("numeric value binding keeps long/double rendering parity") {
    for ((bind, t) <- Seq("l" -> "{{value}}", "d" -> "{{value}}", "l" -> "{{value|float}}",
        "d" -> "{{value|round(2)}}")) {
      val compiled = RowTemplates.nativeColumn(Jinja.compile(t), schema, Some(bind))
      assert(compiled.isDefined, s"template `$t` bound to $bind should compile natively")
      val got = df.select(compiled.get.as("r")).collect().map(_.getString(0)).toSeq
      val want = rows.map { case (s, l, d) =>
        val v = if (bind == "l") l else d
        interpret(t, Map("s" -> s, "l" -> l, "d" -> d, "value" -> v))
      }
      assert(got == want, s"template `$t` on $bind: native=$got interpreter=$want")
    }
  }

  test("templates beyond the native subset still fall back to the interpreter") {
    for (t <- Seq("{{s.split(' ')}}", "{{unknown_col}}", "{{s|md5}}",
        "{% if s < 'm' %}y{% endif %}", "{{s.replace(l, 'x')}}", "{{d|round('2')}}")) {
      assert(RowTemplates.nativeColumn(Jinja.compile(t), schema, None).isEmpty,
        s"template `$t` must NOT claim native support")
    }
  }

  // ---------------------------------------------------------- control flow
  // The reference here is the interpreter over each row's JSON rendering —
  // the exact UDF the fast path replaces — so the value model includes
  // to_json's quirks (NaN and ±Infinity arrive as strings).
  private lazy val flowSchema = StructType(Seq(
    StructField("s", StringType), StructField("t", StringType),
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("x", DoubleType),
    StructField("b", BooleanType)))

  private lazy val flowRows: Seq[Row] = Seq(
    Row("12", "12", 12L, 12, 12.0, -0.0, true),
    Row("", null, 0L, 0, 0.0, 0.0, false),
    Row(null, "", null, null, null, null, null),
    Row("a-b-c", "-", -1L, 1, -0.0, Double.NaN, true),
    Row("a--b-", "a", 1L, null, Double.NaN, Double.PositiveInfinity, false),
    Row("-", "NaN", Long.MaxValue, -5, Double.PositiveInfinity, Double.NegativeInfinity, true),
    Row("NaN", "Infinity", Long.MinValue, 0, Double.NegativeInfinity, 1.5, null),
    Row("x\uD834\uDD1Ey-\uD83D\uDE00", "x\uD834\uDD1Ey-\uD83D\uDE00", 9007199254740993L, 7,
      9007199254740992.0, 2.5, true),
    Row(" 0 ", "\u00df", 2L, 2, 2.0, 2.0, false))

  private lazy val flowDf = spark.createDataFrame(java.util.Arrays.asList(flowRows: _*), flowSchema)

  private def assertNativeParity(df: DataFrame, t: String, bind: Option[String] = None): Unit = {
    val tpl = Jinja.compile(t)
    val native = RowTemplates.nativeColumn(tpl, df.schema, bind)
    assert(native.isDefined, s"template `$t` should compile natively")
    val got = df.select(native.get).collect().map(_.getString(0)).toSeq
    val want = df.select(RowTemplates.interpretedColumn(df, tpl, bind)).collect().map(_.getString(0)).toSeq
    assert(got == want, s"template `$t`: native=$got interpreter=$want")
  }

  private val flowTemplates = Seq(
    // if / elif / else with same-kind == and !=, and `is none`
    "{% if s == '12' %}A{% elif s == t %}B{% elif l == 0 %}C{% else %}D{% endif %}",
    "{% if s == t %}eq{% endif %}|{% if s != t %}ne{% endif %}",
    "{% if l == 12 %}a{% endif %}{% if d == 2.0 %}b{% endif %}{% if d == x %}e{% endif %}" +
      "{% if i == l %}f{% endif %}{% if l != i %}g{% endif %}{% if d == d %}self{% endif %}",
    "{% if s == None %}sn{% endif %}{% if l is none %}ln{% endif %}{% if d is not none %}dn{% endif %}" +
      "{% if b is none %}bn{% endif %}{% if s == t %}st{% endif %}",
    // truthiness of each kind: null, "", 0, -0.0, NaN
    "{% if s %}S{% endif %}{% if t %}T{% endif %}{% if l %}L{% endif %}{% if i %}I{% endif %}" +
      "{% if d %}D{% endif %}{% if x %}X{% endif %}{% if '' %}E{% endif %}{% if 0.0 %}Z{% endif %}",
    "{% if not s %}ns{% endif %}{% if s and l %}and{% endif %}{% if s or d %}or{% endif %}" +
      "{% if not (l or d) %}neither{% endif %}{% if s and not t or i %}mix{% endif %}",
    // nested if
    "{% if s %}{% if l == 12 %}twelve{% elif l %}nz{% else %}zero{% endif %}{% else %}{% if d %}d{% endif %}-{% endif %}",
    // for over split with each loop field; "" gives one empty item, a
    // trailing separator an empty last item, null nothing
    "{% for p in s.split('-') %}[{{ p }}:{{ loop.index }}/{{ loop.index0 }}/{{ loop.first }}/" +
      "{{ loop.last }}/{{ loop.length }}]{% endfor %}",
    "{% for p in s.split('-') %}\"{{ p }}\"{% if not loop.last %}, {% endif %}{% endfor %}",
    "{% for p in s.split('') %}<{{ p }}>{% endfor %}|{% for p in t.split('a') %}{{ p|upper }};{% endfor %}",
    "{% for p in s.split('-') %}{% if p == t %}={% elif loop.first %}^{% endif %}{{ p }}{% endfor %}",
    // a nested loop whose `loop` is the inner one
    "{% for a in s.split('-') %}{% for c in t.split('a') %}{{ a }}{{ c }}{{ loop.index }};{% endfor %}|{% endfor %}")

  test("control flow (if / for) compiles natively and renders identically to the interpreter") {
    flowTemplates.foreach(assertNativeParity(flowDf, _))
  }

  test("bound `value` in control flow (modify_columns shape) compiles natively") {
    assertNativeParity(flowDf, "{% if value == '12' %}twelve{% elif value %}{{ value }}{% else %}-{% endif %}", Some("s"))
    assertNativeParity(flowDf, "{% if value == 2 %}two{% elif not value %}zero{% endif %}{{ value }}", Some("l"))
  }

  test("control flow beyond the native subset still falls back to the interpreter") {
    for (t <- Seq(
        "{% if s < t %}x{% endif %}",                       // ordering
        "{% if l < 2 %}x{% endif %}",
        "{% if s == 12 %}x{% endif %}",                     // cross-kind equality
        "{% if l == d %}x{% endif %}",
        "{% if d == 'NaN' %}x{% endif %}",
        "{% if None == None %}x{% endif %}",
        "{% if s in ['a', 'b'] %}x{% endif %}",             // membership
        "{% if s in t %}x{% endif %}",
        "{{ s == t }}",                                     // comparison as a value
        "{% for n in [1, 2] %}{{ n }}{% endfor %}",         // loop over a literal list
        "{% set y = s %}{{ y }}",
        "{% macro m(a) %}{{ a }}{% endmacro %}{{ m(s) }}",
        "{% for c in s %}{{ c }}{% endfor %}",              // loop over a non-split value
        "{% for p in s.split() %}{{ p }}{% endfor %}",      // whitespace split
        "{% for k, v in [['a', 1]] %}{{ k }}{% endfor %}",
        "{% if b %}x{% endif %}",                           // boolean column truthiness
        "{% if d == b %}x{% endif %}",
        "{{ loop.revindex }}",
        // a loop variable outlives its loop, and an inner loop's `loop`
        // outlives the inner loop: those references need the interpreter
        "{% for p in s.split('-') %}{% endfor %}{{ p }}",
        "{{ s }}{% for s in t.split('-') %}{% endfor %}",
        "{% for p in s.split('-') %}{% for q in t.split('-') %}{% endfor %}{{ loop.index }}{% endfor %}")) {
      assert(RowTemplates.nativeColumn(Jinja.compile(t), flowSchema, None).isEmpty,
        s"template `$t` must NOT claim native support")
    }
  }

  test("the e2ebench control-flow templates render natively, without a UDF") {
    // e2ebench/workloads.py: studentRoster.jsont and sectionSummary.jsont
    // (small_project) and BULK_TEMPLATE (bulk_render), linearized as their
    // destinations configure; every source column is a string
    val roster = """{"student": "{{ student_unique_id }}",
  "name": "{{ student_name }}", "grade": {{ grade_level }}{% if grade_level == "12" %},
  "graduating": true{% endif %}, "course": "{{ course_code }}"}
"""
    val summary = """{"sectionId": "{{ section_id }}",
  "courseParts": [{% for p in course_code.split("-") %}"{{ p }}"{% if not loop.last %}, {% endif %}{% endfor %}],
  "students": {{ n_students }}, "gradeSum": {{ grade_sum }}}
"""
    val bulk = """{
  "id": "{{ school }}-{{ session }}-{{ day }}-{{ student_id }}-{{ status }}",
  "attendanceEventCategoryDescriptor": "{{ status }}",
  "eventDate": "{{ day }}",{% if status == "absent" %}
  "eventDuration": {{ duration }},{% endif %}
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
  "educationalEnvironmentDescriptor": "string" #}
}
"""
    def strings(rows: Seq[String]*)(names: String*): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*),
      StructType(names.map(StructField(_, StringType))))
    val cases = Seq(
      roster -> strings(Seq("604001", "Khan, Ana", "12", "ALG-1"), Seq("604002", "Ito, Ben", "9", "HIST-US"),
        Seq("604003", "", "", ""))("student_unique_id", "student_name", "grade_level", "course_code"),
      summary -> strings(Seq("2559", "ART-2D", "3", "33.0"), Seq("2560", "PE-1-", "1", "9.0"),
        Seq("2561", null, "0", "0"))("section_id", "course_code", "n_students", "grade_sum"),
      bulk -> strings(Seq("2020-01-02", "255901001", "S1", "604001", "absent", "60"),
        Seq("2020-01-03", "255901002", "S2", "604002", "present", "0"))(
        "day", "school", "session", "student_id", "status", "duration"))
    for ((source, df) <- cases) {
      val linear = source.replaceAll("\\s+", " ")
      assertNativeParity(df, linear)
      val rendered = df.select(RowTemplates.templateColumn(df, linear))
      assert(!rendered.queryExecution.analyzed.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])),
        s"template `$linear` still renders through a UDF")
    }
  }
}
