"""Seeded project generators and independent output oracles.

Each workload is a graft YAML project written from a seed: the same seed
gives the same bytes, another seed gives other data. The oracle never runs
graft code: joins, filters and aggregates come from DuckDB, lines are
rendered by Python Jinja2 after the reference's linearize rule
(whitespace runs in the template source collapse to one space), and the
comparison is a line count plus an order-insensitive digest over every line
of every output file, part files included.
"""
import random
import re
import zlib
from pathlib import Path

import duckdb
import jinja2
import numpy as np

WORKLOADS = ("small_project", "bulk_render")

# rows in the bulk_render input; the sharded TSV stays far below the cap
BULK_ROWS = 2_000_000
BULK_SHARDS = 8
BULK_MAX_ROWS_PER_FILE = 100_000

_JINJA = jinja2.Environment()


def linearize(source):
    """Reference destination.py: collapse whitespace runs in the template source."""
    return re.sub(r"\s+", " ", source)


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(text.encode("utf-8"))


# --------------------------------------------------------------- small_project
# Ed-Fi-shaped, about 2,400 input rows in four CSVs, like the reference's
# published 0.67 s example project.

_FIRST = ("Ana Ben Cleo Dev Eli Fay Gus Hana Ivo Jade Kai Lior Mona Nia Omar "
          "Pia Quin Rosa Sami Tess Uma Vic Wren Xia Yara Zed").split()
_LAST = ("Adams Baker Chen Diaz Evans Flores Garcia Hughes Ito Jones Khan Lopez "
         "Moore Nguyen Ortiz Patel Quinn Reyes Smith Tran Usman Vega Walsh Young").split()
_COURSES = ("ALG-1 GEO-1 BIO-1 CHEM-2 ENG-9 ENG-10 HIST-US HIST-W "
            "ART-2D PE-1 SPAN-1 PHYS-AP").split()
_SESSIONS = ("2023-2024 Fall Semester", "2023-2024 Spring Semester")

SMALL_TEMPLATES = {
    # bare substitutions: compiles to a native concat
    "studentSectionAssociation.jsont": """{
  "studentReference": {"studentUniqueId": "{{ student_unique_id }}"},
  "sectionReference": {
    "sectionIdentifier": "{{ section_id }}",
    "sessionName": "{{ session_name }}",
    "schoolId": "{{ section_school_id }}"
  },
  "beginDate": "{{ begin_date }}",
  "studentName": "{{ student_name }}"
}
""",
    # {% if %}: interpreted (UDF) render path
    "studentRoster.jsont": """{"student": "{{ student_unique_id }}",
  "name": "{{ student_name }}", "grade": {{ grade_level }}{% if grade_level == "12" %},
  "graduating": true{% endif %}, "course": "{{ course_code }}"}
""",
    # {% for %}: interpreted (UDF) render path
    "sectionSummary.jsont": """{"sectionId": "{{ section_id }}",
  "courseParts": [{% for p in course_code.split("-") %}"{{ p }}"{% if not loop.last %}, {% endif %}{% endfor %}],
  "students": {{ n_students }}, "gradeSum": {{ grade_sum }}}
""",
    "nodeRank.jsont": """{"node": {{ node }}, "rank": {{ rank }}}
""",
    "schoolDirectory.csvt": """{{ school_id }},{{ school_name }},{{ district_id }}
""",
}
SCHOOL_HEADER = "# schools of district {{ district_id }}"
SCHOOL_FOOTER = "# end of directory\n"

# the YAML is itself a Jinja template (reference config loading), so row
# templates inside it are wrapped in raw blocks
SMALL_YAML = """version: 2

config:
  output_dir: ./output
  state_file: ./runs.csv

sources:
  schools:
    file: ./sources/schools.csv
    header_rows: 1
  students:
    file: ./sources/students.csv
    header_rows: 1
  sections:
    file: ./sources/sections.csv
    header_rows: 1
  enrollments:
    file: ./sources/enrollments.csv
    header_rows: 1

transformations:
  enrollments_full:
    source: $sources.enrollments
    operations:
      - operation: join
        sources: [$sources.students]
        join_type: inner
        left_key: student_unique_id
        right_key: student_unique_id
      - operation: join
        sources: [$sources.sections]
        join_type: inner
        left_key: section_id
        right_key: section_id
      - operation: filter_rows
        query: "enrollment_status == 'active'"
        behavior: include
      - operation: add_columns
        columns:
          student_name: "{%% raw %%}{{ last_name }}, {{ first_name }}{%% endraw %%}"
  section_counts:
    source: $transformations.enrollments_full
    operations:
      - operation: group_by
        group_by_columns: [section_id, course_code]
        create_columns:
          n_students: count()
          grade_sum: sum(grade_level)
  enrollment_graph:
    source: $sources.enrollments
    operations:
      - operation: pagerank
        src_column: student_unique_id
        dst_column: section_id
        iterations: 3

destinations:
  studentSectionAssociations:
    source: $transformations.enrollments_full
    template: ./templates/studentSectionAssociation.jsont
    extension: jsonl
    linearize: True
  studentRoster:
    source: $transformations.enrollments_full
    template: ./templates/studentRoster.jsont
    extension: jsonl
    linearize: True
  sectionSummaries:
    source: $transformations.section_counts
    template: ./templates/sectionSummary.jsont
    extension: jsonl
    linearize: True
  nodeRanks:
    source: $transformations.enrollment_graph
    template: ./templates/nodeRank.jsont
    extension: jsonl
    linearize: True
  schoolDirectory:
    source: $sources.schools
    template: ./templates/schoolDirectory.csvt
    extension: csv
    linearize: True
    header: "{%% raw %%}%s{%% endraw %%}"
    footer: "%s"
""" % (SCHOOL_HEADER, SCHOOL_FOOTER.replace("\n", "\\n"))


def generate_small(seed, root):
    rng = random.Random(seed)
    src = root / "sources"
    district = 2559 + rng.randrange(100)
    schools = [(str(255901000 + 17 * i + rng.randrange(17)),
                f"{rng.choice(_LAST)} {rng.choice(('High', 'Middle', 'Academy'))} {i}",
                str(district)) for i in range(12)]
    students = []
    for i in range(600):
        students.append((str(604000 + 13 * i + rng.randrange(13)), rng.choice(_FIRST),
                         rng.choice(_LAST),
                         f"20{rng.randrange(5, 10):02d}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
                         str(rng.randrange(9, 13)), rng.choice(schools)[0]))
    sections = []
    for i in range(60):
        sections.append((str(25590100000 + 101 * i + rng.randrange(101)),
                         rng.choice(schools)[0], rng.choice(_COURSES), rng.choice(_SESSIONS)))
    pairs = set()
    while len(pairs) < 1728:
        pairs.add((rng.choice(students)[0], rng.choice(sections)[0]))
    enrollments = [(s, c, f"2023-{rng.randrange(8, 13):02d}-{rng.randrange(1, 29):02d}",
                    "active" if rng.random() < 0.9 else "withdrawn")
                   for s, c in sorted(pairs)]
    rng.shuffle(enrollments)

    def csv(name, header, rows):
        _write(src / name, "\n".join([header] + [",".join(r) for r in rows]) + "\n")

    csv("schools.csv", "school_id,school_name,district_id", schools)
    csv("students.csv", "student_unique_id,first_name,last_name,birth_date,grade_level,school_id",
        students)
    csv("sections.csv", "section_id,section_school_id,course_code,session_name", sections)
    csv("enrollments.csv", "student_unique_id,section_id,begin_date,enrollment_status", enrollments)
    for name, text in SMALL_TEMPLATES.items():
        _write(root / "templates" / name, text)
    _write(root / "graft.yaml", SMALL_YAML)
    return len(schools) + len(students) + len(sections) + len(enrollments)


def _pagerank(edges, iterations=3, damping_ppm=850000, mass=10 ** 12):
    """graft's fixed-point PageRank (dangling mass dropped), in exact integers."""
    edges = set(edges)
    nodes = {n for e in edges for n in e}
    n = len(nodes)
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    base = (mass * (1000000 - damping_ppm) // 1000000) // n
    ranks = dict.fromkeys(nodes, mass // n)
    for _ in range(iterations):
        inflow = {}
        for s, d in edges:
            inflow[d] = inflow.get(d, 0) + ranks[s] * damping_ppm // (1000000 * out_deg[s])
        ranks = {v: base + inflow.get(v, 0) for v in nodes}
    return ranks


def _duckdb():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    return con


def _render_all(template_source, rows):
    tpl = _JINJA.from_string(linearize(template_source))
    return [tpl.render(**r) for r in rows]


def expect_small(root):
    """Expected lines per destination, from DuckDB + Jinja2 over the inputs."""
    con = _duckdb()
    for t in ("schools", "students", "sections", "enrollments"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv('{root / 'sources' / (t + '.csv')}', "
                    "header=true, all_varchar=true, delim=',', quote='\"', auto_detect=false, "
                    f"columns={_csv_columns(root / 'sources' / (t + '.csv'))})")

    def rows(sql):
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    con.execute("""CREATE VIEW enrollments_full AS
                   SELECT e.*, s.first_name, s.last_name, s.birth_date, s.grade_level, s.school_id,
                          c.section_school_id, c.course_code, c.session_name
                   FROM enrollments e JOIN students s USING (student_unique_id)
                                      JOIN sections c USING (section_id)
                   WHERE e.enrollment_status = 'active'""")
    full = rows("SELECT * FROM enrollments_full")
    add = _JINJA.from_string("{{ last_name }}, {{ first_name }}")
    for r in full:
        r["student_name"] = add.render(**r)
    counts = rows("""SELECT section_id, course_code, count(*) AS n_students,
                            sum(CAST(grade_level AS DOUBLE)) AS grade_sum
                     FROM enrollments_full GROUP BY section_id, course_code""")
    edges = con.execute("SELECT CAST(student_unique_id AS BIGINT), CAST(section_id AS BIGINT) "
                        "FROM enrollments").fetchall()
    ranks = [{"node": k, "rank": v} for k, v in _pagerank(edges).items()]
    schools = rows("SELECT * FROM schools")
    con.close()

    t = SMALL_TEMPLATES
    directory = _render_all(t["schoolDirectory.csvt"], schools)
    header = _JINJA.from_string(SCHOOL_HEADER).render(**schools[0]) + "\n"
    return {
        "studentSectionAssociations.jsonl": Expected(_render_all(t["studentSectionAssociation.jsont"], full)),
        "studentRoster.jsonl": Expected(_render_all(t["studentRoster.jsont"], full)),
        "sectionSummaries.jsonl": Expected(_render_all(t["sectionSummary.jsont"], counts)),
        "nodeRanks.jsonl": Expected(_render_all(t["nodeRank.jsont"], ranks)),
        "schoolDirectory.csv": Expected(directory, header=header, footer=SCHOOL_FOOTER),
    }


def _csv_columns(path):
    with open(path, encoding="utf-8") as f:
        names = f.readline().rstrip("\n").split(",")
    return "{" + ", ".join(f"'{n}': 'VARCHAR'" for n in names) + "}"


# ----------------------------------------------------------------- bulk_render
# The reference's big_earthmover shape (map_values, rename_columns,
# add_columns into the studentSchoolAttendanceEvent template), with one
# {% if %} block so the render takes the interpreted UDF path.

BULK_HEADER = "day\tschool_id\tsession\tstudent_id\tattended\tduration"
BULK_TEMPLATE = """{
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
BULK_YAML = """version: 2

config:
  output_dir: ./output
  state_file: ./runs.csv

sources:
  attendance:
    file: ./sources/attendance_*.tsv
    header_rows: 1

transformations:
  attendance:
    source: $sources.attendance
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
    source: $transformations.attendance
    template: ./templates/studentSchoolAttendanceEvent.jsont
    extension: jsonl
    linearize: True
    partitioned: True
    max_rows_per_file: %d
""" % BULK_MAX_ROWS_PER_FILE


def generate_bulk(seed, root, rows=BULK_ROWS, shards=BULK_SHARDS):
    rng = np.random.Generator(np.random.PCG64(seed))
    days = np.array([str(np.datetime64("2019-08-02") + i) for i in range(321)])
    per = -(-rows // shards)
    for k in range(shards):
        n = min(per, rows - k * per)
        cols = (days[rng.integers(0, 321, n)],
                rng.integers(1, 10001, n).astype(str),
                rng.integers(1, 21, n).astype(str),
                rng.integers(1, 10_000_001, n).astype(str),
                np.where(rng.random(n) < 0.1, "TRUE", "FALSE"),
                (rng.integers(1, 62, n) * 30).astype(str))
        body = "\n".join(map("\t".join, zip(*(c.tolist() for c in cols))))
        _write(root / "sources" / f"attendance_{k:02d}.tsv", BULK_HEADER + "\n" + body + "\n")
    _write(root / "templates" / "studentSchoolAttendanceEvent.jsont", BULK_TEMPLATE)
    _write(root / "graft.yaml", BULK_YAML)
    return rows


def expect_bulk(root):
    """Expected lines of the partitioned destination.

    Jinja2 renders the linearized template once per value of `status`, the
    one variable its control flow reads, with the constant `school` filled
    in and markers for the per-row variables; DuckDB then fills the markers
    from every TSV row. A seeded sample of rows is also rendered by Jinja2
    in full, to prove the two agree.
    """
    tpl = _JINJA.from_string(linearize(BULK_TEMPLATE))
    row_vars = ("session", "day", "student_id", "duration")

    def line_sql(status):
        marked = tpl.render(status=status, school="12345", **{v: f"\x00{v}\x00" for v in row_vars})
        pieces = re.split("\x00([a-z_]+)\x00", marked)
        return "concat(" + ", ".join("'%s'" % p.replace("'", "''") if i % 2 == 0 else p
                                     for i, p in enumerate(pieces)) + ")"

    columns = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in BULK_HEADER.split("\t")) + "}"
    table = (f"read_csv('{root / 'sources' / 'attendance_*.tsv'}', delim='\t', header=true, "
             f"quote='', escape='', auto_detect=false, columns={columns})")
    line = (f"CASE attended WHEN 'TRUE' THEN {line_sql('absent')} "
            f"WHEN 'FALSE' THEN {line_sql('present')} END")
    con = _duckdb()
    lines = con.execute(f"SELECT {line} AS line FROM {table}").fetchnumpy()["line"].tolist()
    sample = con.execute(f"SELECT *, {line} AS line FROM {table} "
                         "USING SAMPLE reservoir(2000 ROWS) REPEATABLE (7)").fetchall()
    con.close()
    for *fields, want in sample:
        ctx = dict(zip(BULK_HEADER.split("\t"), fields), school="12345",
                   status={"TRUE": "absent", "FALSE": "present"}[fields[4]])
        assert tpl.render(**ctx) == want, (ctx, want)
    return {"studentSchoolAttendanceEvents.jsonl": Expected(lines)}


# ----------------------------------------------------------------- comparison

def digest(lines):
    """Order-insensitive digest: line count and the sum of per-line CRC-32s."""
    enc = [s.encode("utf-8") if isinstance(s, str) else s for s in lines]
    return len(enc), sum(map(zlib.crc32, enc))


class Expected:
    def __init__(self, lines, header="", footer=""):
        self.digest = digest(lines)
        self.header = header.encode("utf-8")
        self.footer = footer.encode("utf-8")


def output_files(out_dir):
    """Every data file graft wrote under `out_dir` (part files included)."""
    return sorted(p for p in Path(out_dir).rglob("*")
                  if p.is_file() and not p.name.startswith((".", "_")))


def _read_lines(path):
    """Data lines of one destination: the file, or every part file of its directory."""
    files = output_files(path) if path.is_dir() else [path]
    lines = []
    for f in files:
        data = f.read_bytes()
        if data:
            if not data.endswith(b"\n"):
                raise ValueError(f"{f.name}: last line not terminated")
            lines.extend(data[:-1].split(b"\n"))
    return lines


def check(out_dir, expected):
    """Compare graft's output with the oracle; returns a list of problems."""
    problems = []
    out_dir = Path(out_dir)
    found = {p.name for p in out_dir.iterdir()} if out_dir.is_dir() else set()
    for name in sorted(set(expected) - found):
        problems.append(f"{name}: missing")
    for name in sorted(found - set(expected)):
        problems.append(f"{name}: not expected")
    for name in sorted(set(expected) & found):
        exp = expected[name]
        path = out_dir / name
        try:
            if exp.header or exp.footer:
                data = path.read_bytes()
                if not (data.startswith(exp.header) and data.endswith(exp.footer)):
                    problems.append(f"{name}: header or footer differs")
                    continue
                body = data[len(exp.header):len(data) - len(exp.footer)]
                lines = body[:-1].split(b"\n") if body.endswith(b"\n") else [body]
            else:
                lines = _read_lines(path)
        except (OSError, ValueError) as e:
            problems.append(f"{name}: {e}")
            continue
        got = digest(lines)
        if got[0] != exp.digest[0]:
            problems.append(f"{name}: {got[0]} lines, expected {exp.digest[0]}")
        elif got != exp.digest:
            problems.append(f"{name}: line digest differs")
    return problems


def generate(workload, seed, root):
    """Write the workload's project under `root`; returns its input row count."""
    root = Path(root)
    if workload == "small_project":
        return generate_small(seed, root)
    if workload == "bulk_render":
        return generate_bulk(seed, root)
    raise ValueError(f"unknown workload {workload}")


def expect(workload, root):
    return (expect_small if workload == "small_project" else expect_bulk)(Path(root))
