package graft.cli

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** CLI drive tests through Main.dispatch (in-process exit codes; the shared
  * test SparkSession is reused, never stopped, by the ownership guard). */
class CliSpec extends SparkSpec {

  // force the shared session to exist before any dispatch call
  override def withFixture(test: NoArgTest) = { spark; super.withFixture(test) }

  private def writeProject(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-cli")
    Files.writeString(dir.resolve("people.csv"), "id,name\n1,ann\n2,bob\n")
    Files.writeString(dir.resolve("p.yaml"),
      s"""version: 2
         |config:
         |  output_dir: ${dir.resolve("out")}
         |sources:
         |  people:
         |    file: ${dir.resolve("people.csv")}
         |destinations:
         |  people:
         |    source: $$sources.people
         |    extension: jsonl
         |""".stripMargin)
    dir
  }

  test("compile writes graft_compiled.yaml; --set dotted overrides land in it") {
    val dir = writeProject()
    val compiled = Paths.get("graft_compiled.yaml")
    Files.deleteIfExists(compiled)
    try {
      val code = Main.dispatch(Array("compile", "-c", dir.resolve("p.yaml").toString,
        "--set", "config.tmp_dir", "/tmp/x", "config.show_graph", "True"))
      assert(code == 0)
      assert(Files.exists(compiled))
      val yaml = Files.readString(compiled)
      assert(yaml.contains("tmp_dir: /tmp/x"))
      assert(yaml.contains("show_graph: true")) // autocast to boolean
    } finally Files.deleteIfExists(compiled)
  }

  test("-g writes the DAG as graphviz dot into the output dir") {
    val dir = writeProject()
    val code = Main.dispatch(Array("run", "-g", "-c", dir.resolve("p.yaml").toString))
    assert(code == 0)
    val dot = Files.readString(dir.resolve("out").resolve("graph.dot"))
    assert(dot.contains("digraph graft"))
    assert(dot.contains(""""sources.people" -> "destinations.people";"""))
    assert(dot.contains(""""sources.people" [shape=oval];"""))
    // the SVG rendering of the same graph (reference renders a PNG via
    // graphviz; offline we lay out and emit the SVG ourselves)
    val svg = Files.readString(dir.resolve("out").resolve("graph.svg"))
    assert(svg.startsWith("<svg xmlns=") && svg.trim.endsWith("</svg>"))
    assert(svg.contains(">sources.people</text>") && svg.contains(">destinations.people</text>"))
    assert(svg.contains("marker-end=\"url(#arrow)\"")) // at least one edge drawn
    // the destination must sit one generation right of its source
    val xs = """<rect x="(\d+)"""".r.findAllMatchIn(svg).map(_.group(1).toInt).toSeq
    assert(xs.distinct.size == 2 && xs.max > xs.min)
  }

  test("config errors report the YAML file:line of the broken operation") {
    val dir = Files.createTempDirectory("graft-cli")
    Files.writeString(dir.resolve("people.csv"), "id,name\n1,ann\n")
    // the broken op (`filter_rows` with no `query`) is the list entry
    // starting at line 10 of this exact file
    Files.writeString(dir.resolve("p.yaml"),
      s"""version: 2
         |sources:
         |  people:
         |    file: ${dir.resolve("people.csv")}
         |transformations:
         |  t1:
         |    source: $$sources.people
         |    operations:
         |      - operation: rename_columns
         |        columns: {id: pid}
         |      - operation: filter_rows
         |        behavior: include
         |destinations:
         |  out:
         |    source: $$transformations.t1
         |    extension: jsonl
         |""".stripMargin)
    val project = graft.engine.Config.load(dir.resolve("p.yaml").toString)
    val engine = new graft.engine.Engine(spark)
    val e = intercept[IllegalArgumentException](
      engine.execute(engine.compile(project), Some(dir.resolve("out"))))
    assert(e.getMessage.startsWith("p.yaml:11:"), e.getMessage)
    assert(e.getMessage.contains("filter_rows"))
  }

  test("-v prints the version and exits 0; missing config errors friendly (exit 1)") {
    assert(Main.dispatch(Array("-v")) == 0)
    // nonexistent config: friendly one-line error, not a stacktrace crash
    assert(Main.dispatch(Array("run", "-c", "/nonexistent/nope.yaml")) == 1)
  }

  test("config show_graph: True writes graph.dot without the -g flag") {
    val dir = writeProject()
    val code = Main.dispatch(Array("run", "-c", dir.resolve("p.yaml").toString,
      "--set", "config.show_graph", "True"))
    assert(code == 0)
    assert(Files.exists(dir.resolve("out").resolve("graph.dot")))
  }

  test("--set with an odd number of values errors") {
    val dir = writeProject()
    assert(Main.dispatch(Array("compile", "-c", dir.resolve("p.yaml").toString,
      "--set", "config.tmp_dir")) == 1)
  }

  test("run honors a --set output_dir override") {
    val dir = writeProject()
    val altOut = dir.resolve("alt_out")
    val code = Main.dispatch(Array("run", "-c", dir.resolve("p.yaml").toString,
      "--set", "config.output_dir", altOut.toString))
    assert(code == 0)
    assert(Files.exists(altOut.resolve("people.jsonl")))
  }

  test("deps: no packages -> exit 1; local package installs -> exit 0") {
    // git-package installs (file:// remotes, branches, subdirectories,
    // nesting, cycles) are exercised in engine.PackagesSpec
    val dir = writeProject()
    assert(Main.dispatch(Array("deps", "-c", dir.resolve("p.yaml").toString)) == 1)
    Files.createDirectories(dir.resolve("pkg"))
    Files.writeString(dir.resolve("pkg").resolve("graft.yaml"), "version: 2\n")
    Files.writeString(dir.resolve("local.yaml"),
      "version: 2\npackages:\n  ext:\n    local: pkg\n")
    assert(Main.dispatch(Array("deps", "-c", dir.resolve("local.yaml").toString)) == 0)
    assert(Files.isRegularFile(dir.resolve("packages/ext/graft.yaml")))
  }

  test("clean removes the output dir and compiled yaml, then reports nothing to remove") {
    val dir = writeProject()
    val cfg = dir.resolve("p.yaml").toString
    assert(Main.dispatch(Array("run", "-c", cfg)) == 0)
    assert(Files.exists(dir.resolve("out").resolve("people.jsonl")))
    assert(Main.dispatch(Array("clean", "-c", cfg)) == 0)
    assert(!Files.exists(dir.resolve("out")))
    assert(Main.dispatch(Array("clean", "-c", cfg)) == 1) // nothing left
  }

  test("init scaffolds a runnable starter project") {
    val scaffold = Paths.get("graft_project")
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(rm(_))
      Files.deleteIfExists(p)
    }
    rm(scaffold)
    try {
      assert(Main.dispatch(Array("init")) == 0)
      assert(Files.exists(scaffold.resolve("graft.yaml")))
      assert(Main.dispatch(Array("init")) == 1) // already exists
      val code = Main.dispatch(Array("run", "-c", scaffold.resolve("graft.yaml").toString,
        "--set", "config.output_dir", scaffold.resolve("output").toString))
      assert(code == 0)
    } finally rm(scaffold)
  }

  test("-t runs the reference acceptance suite and passes") {
    assume(Files.isDirectory(Paths.get("/root/reference/earthmover/tests")))
    assert(Main.dispatch(Array("-t")) == 0)
  }

  test("unknown command and unknown flag exit 1") {
    assert(Main.dispatch(Array("frobnicate")) == 1)
    assert(Main.dispatch(Array("run", "--bogus")) == 1)
  }

  test("run prints its node -> path lines in topological order") {
    // five destinations: more than a small Map keeps in insertion order
    val dir = writeProject()
    val names = Seq("alpha", "bravo", "charlie", "delta", "echo")
    Files.writeString(dir.resolve("five.yaml"),
      s"""version: 2
         |config:
         |  output_dir: ${dir.resolve("out5")}
         |sources:
         |  people:
         |    file: ${dir.resolve("people.csv")}
         |destinations:
         |""".stripMargin + names.map(n =>
        s"  $n:\n    source: $$sources.people\n    extension: jsonl\n").mkString)
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out, true)) {
      Main.dispatch(Array("run", "-c", dir.resolve("five.yaml").toString))
    }
    assert(code == 0)
    val printed = out.toString("UTF-8").linesIterator.filter(_.contains(" -> ")).toSeq
    assert(printed == names.map(n => s"destinations.$n -> ${dir.resolve("out5").resolve(s"$n.jsonl")}"))
  }
}
