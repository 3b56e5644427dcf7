package graft.engine

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * End-to-end engine test: a YAML project in the reference's shape (CSV +
 * JSONL sources → operation chains → Jinja template destinations), run
 * through compile + execute, outputs compared sorted (the reference's own
 * harness contract, SURVEY.md §5).
 */
class EngineSpec extends SparkSpec {

  private def writeProject(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-e2e")
    Files.writeString(dir.resolve("animals.csv"),
      """id,animalName,weightKg,tags
        |1,cheetah,50,"[""fast"",""cat""]"
        |2,lion,190,"[""cat""]"
        |3,wolf,40,"[""pack""]"
        |4,sloth,6,"[""slow""]"
        |""".stripMargin)
    Files.writeString(dir.resolve("zoos.jsonl"),
      """{"zoo_id": "z1", "zoo": "Springfield", "animal_id": "1"}
        |{"zoo_id": "z1", "zoo": "Springfield", "animal_id": "2"}
        |{"zoo_id": "z2", "zoo": "Shelbyville", "animal_id": "3"}
        |""".stripMargin)
    Files.writeString(dir.resolve("animal.jsont"),
      """{"name": "{{name}}", "weight": {{weight_kg|int}}, "heavy": "{% if weight_kg|int > 100 %}yes{% else %}no{% endif %}"}""".stripMargin)
    Files.writeString(dir.resolve("project.yaml"),
      """version: 2
        |
        |config:
        |  output_dir: ${OUT_DIR}
        |  macros: >
        |    {% macro shout(x) %}{{ x.upper() }}{% endmacro %}
        |
        |sources:
        |  animals:
        |    file: animals.csv
        |  zoos:
        |    file: zoos.jsonl
        |
        |transformations:
        |  cats:
        |    source: $sources.animals
        |    operations:
        |      - operation: snake_case_columns
        |      - operation: rename_columns
        |        columns:
        |          animal_name: name
        |      - operation: filter_rows
        |        query: "tags.str.contains('cat')"
        |        behavior: include
        |      - operation: add_columns
        |        columns:
        |          loud_name: "{% raw %}{{ name.upper() }}{% endraw %}"
        |      - operation: sort_rows
        |        columns: [name]
        |  zoo_animals:
        |    source: $transformations.cats
        |    operations:
        |      - operation: join
        |        sources: [$sources.zoos]
        |        join_type: inner
        |        left_key: id
        |        right_key: animal_id
        |      - operation: group_by
        |        group_by_columns: [zoo]
        |        create_columns:
        |          n_animals: count()
        |          total_weight: sum(weight_kg)
        |
        |destinations:
        |  cats:
        |    source: $transformations.cats
        |    template: animal.jsont
        |    extension: jsonl
        |  zoo_summary:
        |    source: $transformations.zoo_animals
        |    extension: jsonl
        |""".stripMargin)
    dir
  }

  test("full project: compile, execute, render, write") {
    val dir = writeProject()
    val outDir = dir.resolve("out")
    val engine = new Engine(spark)
    val result = engine.run(dir.resolve("project.yaml").toString,
      params = Map("OUT_DIR" -> outDir.toString))

    assert(result.written.keySet == Set("destinations.cats", "destinations.zoo_summary"))

    val cats = Files.readAllLines(outDir.resolve("cats.jsonl")).asScala.toList.sorted
    assert(cats == List(
      """{"name": "cheetah", "weight": 50, "heavy": "no"}""",
      """{"name": "lion", "weight": 190, "heavy": "yes"}""",
    ).sorted)

    val summary = Files.readAllLines(outDir.resolve("zoo_summary.jsonl")).asScala.toList.sorted
    assert(summary.size == 1) // only Springfield has cats
    // default template renders `{ "col": "value", ... }` (destination.py:62)
    assert(summary.head.contains(""""zoo": "Springfield""""))
    assert(summary.head.contains(""""n_animals": "2""""))
    assert(summary.head.contains(""""total_weight": "240.0""""))
  }

  test("execute releases fan-out persists: no CacheManager entries after a run") {
    // `cats` feeds both the zoo_animals transformation and the cats
    // destination, so execute persists it for the run
    val dir = writeProject()
    spark.catalog.clearCache()
    new Engine(spark).run(dir.resolve("project.yaml").toString,
      params = Map("OUT_DIR" -> dir.resolve("out-cache").toString))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("selector pruning runs only the selected destination subgraph") {
    val dir = writeProject()
    val outDir = dir.resolve("out-sel")
    val engine = new Engine(spark)
    // selecting the leaf destination keeps its ancestor chain only; the
    // sibling `cats` destination is pruned. (Selecting an upstream node
    // also runs all its descendants — reference semantics.)
    val result = engine.run(dir.resolve("project.yaml").toString, selector = "zoo_summary",
      params = Map("OUT_DIR" -> outDir.toString))
    assert(result.written.keySet == Set("destinations.zoo_summary"))
    assert(!Files.exists(outDir.resolve("cats.jsonl")))
  }

  test("compile-time macros render; runtime Jinja must be raw-wrapped") {
    val dir = Files.createTempDirectory("graft-macro")
    Files.writeString(dir.resolve("d.csv"), "a\n1\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |config:
        |  output_dir: OUT
        |  macros: >
        |    {% macro constant() %}42{% endmacro %}
        |sources:
        |  d:
        |    file: d.csv
        |transformations:
        |  t:
        |    source: $sources.d
        |    operations:
        |      - operation: add_columns
        |        columns:
        |          fixed: "{{ constant() }}"
        |destinations:
        |  out:
        |    source: $transformations.t
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala
    assert(lines.head == """{ "a": "1", "fixed": "42" }""")
  }

  test("{{__row_number__}} renders the input ordinal end-to-end (raw-wrapped, single-file source)") {
    val dir = Files.createTempDirectory("graft-rownum")
    Files.writeString(dir.resolve("d.csv"), "name\nann\nbob\ncal\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  d:
        |    file: d.csv
        |transformations:
        |  t:
        |    source: $sources.d
        |    operations:
        |      - operation: add_columns
        |        columns:
        |          seq: "{%raw%}#{{__row_number__}}{%endraw%}"
        |destinations:
        |  out:
        |    source: $transformations.t
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala
    assert(lines.toSeq == Seq(
      """{ "name": "ann", "seq": "#0" }""",
      """{ "name": "bob", "seq": "#1" }""",
      """{ "name": "cal", "seq": "#2" }"""))
  }

  test("binary sources (.sav/.dta/.pkl/.sas7bdat) integrate in a declared pipeline") {
    // the four native binary readers flow through the normal YAML
    // lifecycle: four 2-row sources, unioned and sorted, one destination
    val dir = Files.createTempDirectory("graft-binsrc")
    graft.tools.GenSpss.write(dir.resolve("a.sav").toString, Seq(
      graft.tools.GenSpss.StrCol("K", "k", 8, Seq("sav1", "sav2"))), 2, compression = 1)
    graft.tools.GenStata.write(dir.resolve("b.dta").toString, Seq(
      graft.tools.GenStata.StrCol("k", 8, Seq("dta1", "dta2"))), 2)
    graft.tools.GenPickle.write(dir.resolve("c.pkl").toString, Seq(
      graft.tools.GenPickle.StrCol("k", Seq("pkl1", "pkl2"))), 2)
    graft.tools.GenSas.write(dir.resolve("d.sas7bdat").toString, Seq(
      graft.tools.GenSas.StrCol("k", 8, Seq("sas1", "sas2"))), 2, compress = "rle")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  a:
        |    file: a.sav
        |  b:
        |    file: b.dta
        |  c:
        |    file: c.pkl
        |  d:
        |    file: d.sas7bdat
        |transformations:
        |  t:
        |    source: $sources.a
        |    operations:
        |      - operation: union
        |        sources: [$sources.b, $sources.c, $sources.d]
        |      - operation: sort_rows
        |        columns: [k]
        |destinations:
        |  out:
        |    source: $transformations.t
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala
    assert(lines.toSeq == Seq("dta1", "dta2", "pkl1", "pkl2", "sas1", "sas2", "sav1", "sav2")
      .map(v => s"""{ "k": "$v" }"""))
  }

  test("crawl curation pipeline e2e: wet.gz -> html_to_text -> c4_clean -> quality_filter -> dedup_near") {
    // the full Common-Crawl-style chain as ONE declared YAML pipeline
    val dir = Files.createTempDirectory("graft-crawl")
    def page(body: String) =
      s"<html><head><script>track();</script></head><body>$body</body></html>"
    val good = "<p>" + (1 to 3).map(i =>
      s"the quick brown fox number $i jumps over one of the lazy dogs with ease.").mkString("</p><p>") + "</p>"
    val nearDupGood = good.replace("number 1", "number one")
    graft.tools.GenWarc.write(dir.resolve("crawl.wet.gz").toString, Seq(
      ("http://a/1", page(good)),
      ("http://a/2", page(nearDupGood)),                    // near-dup of 1
      ("http://a/3", page("<p>lorem ipsum dolor sit amet paragraph here.</p>")),
      ("http://a/4", page("<ul><li>one</li><li>two</li></ul>")), // no terminal-punct lines
    ), gzip = true)
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  crawl:
        |    file: crawl.wet.gz
        |transformations:
        |  curated:
        |    source: $sources.crawl
        |    operations:
        |      - operation: html_to_text
        |        column: text
        |      - operation: c4_clean
        |        column: text
        |        min_line_words: 5
        |        min_lines: 1
        |      - operation: quality_filter
        |        column: text
        |        min_words: 10
        |      - operation: dedup_near
        |        id_column: url
        |        column: text
        |        method: jaccard
        |        threshold: 0.5
        |      - operation: keep_columns
        |        columns: [url]
        |destinations:
        |  out:
        |    source: $transformations.curated
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala
    // lorem-ipsum and bullet pages die in c4/gopher; the near-dup pair
    // collapses to its representative
    assert(lines.toSeq == Seq("""{ "url": "http://a/1" }"""))
  }

  test("multimodal curation e2e: binary payloads -> image_meta -> image_dedup -> survivors in one YAML") {
    // the image half of a crawl pipeline as ONE declared YAML flow over a
    // parquet source with a binary column: metadata sweep, perceptual
    // near-dedup, representative filter
    val dir = Files.createTempDirectory("graft-media")
    import spark.implicits._
    val media = ((0L until 6L).map(i =>
      (i, graft.tools.GenImages.dedupFixture(i % 3 + (i / 3) * 250))) :+
      ((6L, "not an image".getBytes())))
      .toDF("media_id", "content")
    media.write.mode("overwrite").parquet(dir.resolve("media.parquet").toString)
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  media:
        |    file: media.parquet
        |    type: parquet
        |transformations:
        |  surviving:
        |    source: $sources.media
        |    operations:
        |      - operation: image_meta
        |        column: content
        |      - operation: drop_columns
        |        columns: [image_width, image_height, image_orientation]
        |      - operation: image_dedup
        |        id_column: media_id
        |        column: content
        |        max_hamming: 3
        |      - operation: filter_rows
        |        query: media_id == keep_id
        |      - operation: keep_columns
        |        columns: [media_id, n_group]
        |destinations:
        |  out:
        |    source: $transformations.surviving
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala.sorted
    // base patterns 0,1,2 survive as representatives (each a pair with its
    // perturbed copy 3,4,5); the junk payload keeps itself as a singleton
    assert(lines.toSeq == Seq(
      """{ "media_id": "0", "n_group": "2" }""",
      """{ "media_id": "1", "n_group": "2" }""",
      """{ "media_id": "2", "n_group": "2" }""",
      """{ "media_id": "6", "n_group": "1" }"""))
  }

  test("document curation e2e: doc bytes -> doc_text -> quality gate -> dedup in one YAML") {
    // the document half of a crawl pipeline as ONE declared flow: parquet
    // binary column (mixed rtf/docx + garbage), fused extraction, empty/
    // unparseable rows filtered, cross-format exact dedup
    val dir = Files.createTempDirectory("graft-docflow")
    import spark.implicits._
    def bytesOf(write: java.nio.file.Path => Unit, ext: String): Array[Byte] = {
      val f = Files.createTempFile("graft-df", ext)
      write(f); Files.readAllBytes(f)
    }
    val body = "a long enough document body with several distinct words in it"
    val docs = Seq(
      (0L, bytesOf(Rtf.write(_, Seq(body)), ".rtf")),
      (1L, bytesOf(Docx.writeDocx(_, Seq(body)), ".docx")), // cross-format dup of 0
      (2L, bytesOf(Rtf.write(_, Seq("another unrelated piece of text entirely")), ".rtf")),
      (3L, "garbage payload".getBytes)) // must drop as a row, not fail
      .toDF("doc_id", "content")
    docs.write.mode("overwrite").parquet(dir.resolve("docs.parquet").toString)
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  docs:
        |    file: docs.parquet
        |    type: parquet
        |transformations:
        |  kept:
        |    source: $sources.docs
        |    operations:
        |      - operation: doc_text
        |        column: content
        |      - operation: filter_rows
        |        query: text.notnull()
        |      - operation: dedup_exact
        |        id_column: doc_id
        |        column: text
        |      - operation: keep_columns
        |        columns: [doc_id]
        |destinations:
        |  out:
        |    source: $transformations.kept
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala.sorted
    // 0 survives (1 is its cross-format exact dup after extraction), 2 is
    // distinct, 3's NULL text dropped by the null-excluding filter
    assert(lines.toSeq == Seq(
      """{ "doc_id": "0" }""",
      """{ "doc_id": "2" }"""))
  }

  test("mixture-routing e2e: nb_classify labels the unlabeled corpus, filter routes by prediction") {
    // the trained-classifier mixture-curation flow as ONE YAML: a fifth of
    // the corpus carries labels, NB learns them, every row is routed
    val dir = Files.createTempDirectory("graft-nbroute")
    val rows = (0 until 40).map { i =>
      val topic = if (i % 2 == 0) "code" else "prose"
      val marker = if (topic == "code") "def return import class lambda"
                   else "once upon a time the story began"
      val labelField = if (i % 5 == 0) s""""label": "$topic", """ else ""
      s"""{"id": $i, $labelField"text": "doc $i $marker $marker"}"""
    }
    Files.write(dir.resolve("docs.jsonl"), rows.asJava)
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  docs:
        |    file: docs.jsonl
        |transformations:
        |  routed:
        |    source: $sources.docs
        |    operations:
        |      - operation: nb_classify
        |        column: text
        |        label_column: label
        |        new_column: route
        |      - operation: filter_rows
        |        query: route == 'code'
        |        behavior: include
        |      - operation: keep_columns
        |        columns: [id]
        |destinations:
        |  code_split:
        |    source: $transformations.routed
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val ids = Files.readAllLines(out.resolve("code_split.jsonl")).asScala
      .map(l => """"id": "?(\d+)""".r.findFirstMatchIn(l).get.group(1).toInt).sorted
    assert(ids.toSeq == (0 until 40 by 2).toSeq, s"every even (code) doc routes: $ids")
  }

  test("training-data curation e2e: url ops -> domain filter -> rarity -> split -> packing in one YAML") {
    val dir = Files.createTempDirectory("graft-curate")
    val prose = "the quick brown fox jumps over the lazy dog near the river today"
    Files.writeString(dir.resolve("docs.csv"),
      "doc_id,url,text\n" +
        s"1,HTTP://WWW.A.COM:80/x?utm_source=s,$prose\n" +
        s"2,http://sub.spam.com/buy,$prose\n" + // blocked domain
        s"3,https://B.org/y#frag,$prose and some more of the same words\n" +
        "4,http://c.net/z,zzqx qvzx jxqz wvqz zzqx qvzx jxqz\n") // gibberish
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  docs:
        |    file: docs.csv
        |transformations:
        |  curated:
        |    source: $sources.docs
        |    operations:
        |      - operation: url_normalize
        |        column: url
        |      - operation: url_domain
        |        column: url
        |      - operation: domain_filter
        |        column: url
        |        domains: [spam.com]
        |      - operation: trigram_rarity
        |        id_column: doc_id
        |        column: text
        |      - operation: assign_split
        |        key_column: doc_id
        |        weights: {train: 0.75, val: 0.25}
        |      - operation: pack_contexts
        |        id_column: doc_id
        |        column: text
        |        context_tokens: 20
        |destinations:
        |  curated_out:
        |    source: $transformations.curated
        |    format: parquet
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val result = spark.read.parquet(out.resolve("curated_out.parquet").toString)
    val rows = result.collect().map(r => r.getAs[String]("doc_id") -> r).toMap
    assert(rows.keySet == Set("1", "3", "4")) // spam.com page dropped
    assert(rows("1").getAs[String]("url") == "http://www.a.com/x") // canonicalized
    assert(rows("1").getAs[String]("domain") == "a.com")
    // the gibberish page scores rarer than both prose pages under the LM
    val rarity = rows.map { case (k, r) => k -> r.getAs[Long]("rarity") }
    assert(rarity("4") > rarity("1") && rarity("4") > rarity("3"), rarity.toString)
    assert(rows.values.forall(r => Set("train", "val")(r.getAs[String]("split"))))
    assert(rows.values.forall(_.getAs[Long]("context_id") >= 0L))
  }

  test("spreadsheet destinations: format xlsx/ods/xlsb round-trip through the source readers") {
    val dir = Files.createTempDirectory("graft-sheetdest")
    Files.writeString(dir.resolve("d.csv"), "id,name\n1,ann\n2,bob <&> b\n")
    for (fmt <- Seq("xlsx", "ods", "xlsb")) {
      Files.writeString(dir.resolve(s"p_$fmt.yaml"),
        s"""version: 2
           |sources:
           |  d:
           |    file: d.csv
           |destinations:
           |  book:
           |    source: $$sources.d
           |    format: $fmt
           |    sheet: Data
           |""".stripMargin)
      val out = dir.resolve(s"o_$fmt")
      new Engine(spark).run(dir.resolve(s"p_$fmt.yaml").toString, outputDir = Some(out))
      // read back through the engine's own source dispatch
      val back = Sources.read(spark, "b", Map("file" -> s"book.$fmt", "sheet" -> "Data"), out)
      assert(back.columns.toSeq == Seq("id", "name"), fmt)
      assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
        Seq("ann", "bob <&> b"), fmt)
    }
  }

  test("columnar destination: format parquet with partition_by round-trips and prunes") {
    val dir = Files.createTempDirectory("graft-columnar")
    Files.writeString(dir.resolve("d.csv"), "id,lang,text\n1,en,hello\n2,fr,bonjour\n3,en,world\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  d:
        |    file: d.csv
        |destinations:
        |  out:
        |    source: $sources.d
        |    format: parquet
        |    partition_by: lang
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val back = spark.read.parquet(out.resolve("out.parquet").toString)
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("id", "lang", "text"))
    // hive layout: partition directories exist → downstream partition pruning
    assert(Files.exists(out.resolve("out.parquet").resolve("lang=en")))
    assert(back.filter(org.apache.spark.sql.functions.col("lang") === "fr")
      .select("text").collect().map(_.getString(0)).toSeq == Seq("bonjour"))
    // framing keys are rejected in columnar mode
    Files.writeString(dir.resolve("bad.yaml"),
      """version: 2
        |sources:
        |  d:
        |    file: d.csv
        |destinations:
        |  out:
        |    source: $sources.d
        |    format: parquet
        |    header: "nope"
        |""".stripMargin)
    intercept[IllegalArgumentException](
      new Engine(spark).run(dir.resolve("bad.yaml").toString, outputDir = Some(dir.resolve("o2"))))
  }

  test("version check and cycle detection") {
    val dir = Files.createTempDirectory("graft-bad")
    intercept[IllegalArgumentException](
      Config.compile("sources:\n  x:\n    file: f.csv\n", dir))
    val cyclic = Dag(Set("a", "b"), Set("a" -> "b", "b" -> "a"))
    intercept[IllegalArgumentException](cyclic.topologicalOrder)
  }

  test("packages: local package merges under the project, paths rebased") {
    val dir = Files.createTempDirectory("graft-pkg")
    val pkgDir = Files.createDirectories(dir.resolve("pkg"))
    Files.writeString(pkgDir.resolve("base.csv"), "a\n1\n")
    Files.writeString(pkgDir.resolve("earthmover.yaml"),
      """version: 2
        |sources:
        |  base:
        |    file: base.csv
        |transformations:
        |  t:
        |    source: $sources.base
        |    operations:
        |      - operation: add_columns
        |        columns:
        |          origin: pkg
        |destinations:
        |  out:
        |    source: $transformations.t
        |""".stripMargin)
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |config:
        |  output_dir: OUT
        |packages:
        |  basepkg:
        |    local: pkg
        |transformations:
        |  t:
        |    source: $sources.base
        |    operations:
        |      - operation: add_columns
        |        columns:
        |          origin: project   # the project overrides the package
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala
    assert(lines.head == """{ "a": "1", "origin": "project" }""")
  }

  test("linearize (default on) collapses the template source, never data values") {
    val dir = Files.createTempDirectory("graft-lin")
    Files.writeString(dir.resolve("d.csv"), "a,b\nx  y,z\n") // two spaces inside the value
    Files.writeString(dir.resolve("t.jsont"),
      "{\n    \"a\": \"{{a}}\",\n    \"b\": \"{{b}}\"\n}")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |config:
        |  output_dir: OUT
        |sources:
        |  d:
        |    file: d.csv
        |destinations:
        |  out:
        |    source: $sources.d
        |    template: t.jsont
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala
    // template whitespace collapsed; the doubled space in the value survives
    assert(lines.head == """{ "a": "x  y", "b": "z" }""")

    // linearize: false keeps the template's own newlines
    Files.writeString(dir.resolve("p2.yaml"),
      Files.readString(dir.resolve("p.yaml")).replace("template: t.jsont",
        "template: t.jsont\n    linearize: false"))
    val out2 = dir.resolve("o2")
    new Engine(spark).run(dir.resolve("p2.yaml").toString, outputDir = Some(out2))
    val lines2 = Files.readAllLines(out2.resolve("out.jsonl")).asScala
    assert(lines2.head == "{")
  }

  test("DEFAULT_TEMPLATE idiom renders through the Jinja engine identically to the native path") {
    // the reference's documented destination default (destination.py:62):
    // pop('__row_data__') must return the row's own fields, in column order
    import spark.implicits._
    val df = Seq(("1", "x  y", "c3", "c4", "c5", "c6"))
      .toDF("a", "b", "c", "d", "e", "f") // >4 cols exercises map ordering
    val tpl = """{ {% for col, val in __row_data__.pop('__row_data__').items() %}"{{ col }}": {{ val | tojson }}{% if not loop.last %}, {% endif %}{% endfor %} }"""
    val viaJinja = df.select(graft.template.RowTemplates.templateColumn(df, tpl).as("v"))
      .head().getString(0)
    val viaNative = df.select(Destinations.defaultTemplateColumn(df).as("v"))
      .head().getString(0)
    assert(viaJinja == """{ "a": "1", "b": "x  y", "c": "c3", "d": "c4", "e": "c5", "f": "c6" }""")
    assert(viaNative == viaJinja)
  }

  test("Jinja header/footer framing gets __row_data__ and renders nulls as empty strings") {
    import spark.implicits._
    // first row has a null in `a` — the reference's cast_output_dtype maps it
    // to "" (destination.py:57,164-169), and framing renders via render_row,
    // which injects the __row_data__ self-reference (destination.py:143-146)
    val df = Seq((Option.empty[String], "v1"), (Some("x"), "v2")).toDF("a", "b")
      .coalesce(1)
    val dir = Files.createTempDirectory("graft-framing")
    val cfg = Map[String, Any](
      "header" -> "{% for k, v in __row_data__.pop('__row_data__').items() %}{{ k }}={{ v }};{% endfor %}",
      "footer" -> "end:{{ a }}|{{ b }}")
    val p = Destinations.write(df, "t", cfg, dir, dir)
    val lines = Files.readAllLines(p).asScala
    assert(lines.head == "a=;b=v1;")
    assert(lines.last == "end:|v1")
  }

  test("max_rows_per_file bounds shard size for partitioned text and columnar output") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"row$i")).toDF("id", "v").repartition(1)
    val dir = Files.createTempDirectory("graft-shards")
    // partitioned template text: 500 rows / 100-row shards → ≥5 part files
    val txt = Destinations.write(df, "t",
      Map[String, Any]("partitioned" -> true, "max_rows_per_file" -> 100), dir, dir)
    val txtParts = Files.list(txt).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    assert(txtParts >= 5, s"expected >=5 text shards, saw $txtParts")
    // columnar: same bound applies through the parquet writer
    val pq = Destinations.write(df, "p",
      Map[String, Any]("format" -> "parquet", "max_rows_per_file" -> 100), dir, dir)
    val pqParts = Files.list(pq).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(pqParts >= 5, s"expected >=5 parquet shards, saw $pqParts")
    assert(spark.read.parquet(pq.toString).count() == 500)
  }

  test("columnar sort_by sorts WITHIN partitions (row-group pruning stats, no extra exchange)") {
    import spark.implicits._
    // shuffled ids across 3 partitions: after sort_by each FILE must be
    // internally sorted while no global order exists
    val df = scala.util.Random.shuffle((1 to 3000).toList).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(3)
    val dir = Files.createTempDirectory("graft-sortby")
    val out = Destinations.write(df, "s",
      Map[String, Any]("format" -> "parquet", "sort_by" -> List("id")), dir, dir)
    val parts = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    assert(parts.size >= 2, "need multiple files to distinguish local from global sort")
    parts.foreach { p =>
      val ids = spark.read.parquet(p.toString).select("id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"file $p not internally sorted")
    }
    assert(spark.read.parquet(out.toString).count() == 3000)
    // unknown sort column rejects with the destination name
    val bad = intercept[IllegalArgumentException](Destinations.write(df, "s2",
      Map[String, Any]("format" -> "parquet", "sort_by" -> List("zz")), dir, dir))
    assert(bad.getMessage.contains("sort_by column `zz`"))
  }

  test("xlsx and html sources drive a full project run through the engine") {
    val dir = Files.createTempDirectory("graft-newsrc")
    Xlsx.write(dir.resolve("people.xlsx"),
      Seq(Seq("id", "name"), Seq("1", "ann"), Seq("2", "bob")))
    Files.writeString(dir.resolve("cities.html"),
      """<table><tr><th>city</th><th>pop</th></tr>
        |<tr><td>Denver</td><td>915</td></tr></table>""".stripMargin)
    Files.writeString(dir.resolve("p.yaml"),
      s"""version: 2
         |config:
         |  output_dir: ${dir.resolve("out")}
         |sources:
         |  people:
         |    file: people.xlsx
         |  cities:
         |    file: cities.html
         |transformations:
         |  joined:
         |    source: $$sources.people
         |    operations:
         |      - operation: add_columns
         |        columns:
         |          city: Denver
         |      - operation: join
         |        sources:
         |          - $$sources.cities
         |        join_type: inner
         |        left_key: city
         |        right_key: city
         |destinations:
         |  joined:
         |    source: $$transformations.joined
         |    extension: jsonl
         |""".stripMargin)
    val out = dir.resolve("out")
    new Engine(spark).run(dir.resolve("p.yaml").toString)
    val lines = Files.readAllLines(out.resolve("joined.jsonl")).asScala.toList.sorted
    assert(lines.size == 2)
    assert(lines.head.contains("\"name\": \"ann\"") && lines.head.contains("\"pop\": \"915\""))
  }

  test("big_earthmover benchmark shape end-to-end (comment-bearing template, partitioned sink)") {
    // the reference's published-benchmark pipeline at spec scale (the
    // 100M-scale runs live in graft.tools.BigAttendance / PLANS.md):
    // map_values + rename_columns + add_columns -> linearized Jinja with
    // the reference template's trailing {# comment #} block -> partitioned
    // JSONL; pins the comment-stripping + rotation of that exact shape
    val dir = Files.createTempDirectory("graft-bigatt-shape")
    Files.writeString(dir.resolve("att.tsv"),
      "day\tsession\tstudent_id\tattended\n" +
        "2019-09-02\t4\t77\tTRUE\n2019-09-03\t5\t78\tFALSE\n")
    Files.writeString(dir.resolve("ev.jsont"),
      "{ \"id\": \"{{ school }}-{{ session }}-{{ day }}-{{ student_id }}-{{ status }}\"," +
        " \"st\": \"{{ status }}\" }{# ,\n  \"dropped\": {{ day }} #}")
    Files.writeString(dir.resolve("p.yaml"),
      s"""version: 2
         |config:
         |  output_dir: ${dir.resolve("out")}
         |sources:
         |  attendance:
         |    file: att.tsv
         |    header_rows: 1
         |transformations:
         |  attendance:
         |    source: $$sources.attendance
         |    operations:
         |      - operation: map_values
         |        column: attended
         |        mapping:
         |          "TRUE": absent
         |          "FALSE": present
         |      - operation: rename_columns
         |        columns:
         |          attended: status
         |      - operation: add_columns
         |        columns:
         |          school: 12345
         |destinations:
         |  events:
         |    source: $$transformations.attendance
         |    template: ev.jsont
         |    extension: jsonl
         |    linearize: True
         |    partitioned: True
         |""".stripMargin)
    new Engine(spark).run(dir.resolve("p.yaml").toString)
    val outDir = dir.resolve("out").resolve("events.jsonl")
    val lines = Files.list(outDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toList.sorted
    assert(lines == List(
      """{ "id": "12345-4-2019-09-02-77-absent", "st": "absent" }""",
      """{ "id": "12345-5-2019-09-03-78-present", "st": "present" }"""))
  }

  test("show_progress emits stage-level progress lines during a run") {
    val dir = Files.createTempDirectory("graft-progress")
    Files.writeString(dir.resolve("d.csv"), "a\n1\n2\n")
    Files.writeString(dir.resolve("p.yaml"),
      s"""version: 2
         |config:
         |  output_dir: ${dir.resolve("out")}
         |  show_progress: True
         |sources:
         |  d:
         |    file: d.csv
         |destinations:
         |  d:
         |    source: $$sources.d
         |    extension: jsonl
         |""".stripMargin)
    val bos = new java.io.ByteArrayOutputStream()
    // the outer window counts the stages the run ran; what was printed is
    // read as soon as run returns, before that window drains the bus
    val (printed, w) = graft.Metrics.collect(spark) {
      Console.withErr(new java.io.PrintStream(bos)) {
        new Engine(spark).run(dir.resolve("p.yaml").toString)
      }
      bos.toString
    }
    val lines = printed.linesIterator.filter(_.startsWith("[progress] stage")).toList
    assert(w.stages.nonEmpty && lines.size == w.stages.size, printed)
    assert(lines.forall(_.endsWith("graft: destinations.d")), lines)
  }

  test("unknown operation/node config keys warn on stderr but do not fail") {
    import spark.implicits._
    val engine = new Engine(spark)
    val df = Seq(("1", "a")).toDF("id", "v")
    val bos = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(bos)) {
      val out = engine.applyOperation(df,
        Map("operation" -> "sort_rows", "columns" -> List("id"), "decsending" -> true),
        Map.empty, "transformations.t")
      assert(out.count() == 1)
    }
    assert(bos.toString.contains("Config `decsending` not defined for operation `sort_rows`"))
  }

  test("the key table lists every operation: misspelled keys warn, honoured keys do not") {
    import spark.implicits._
    val engine = new Engine(spark)
    val df = Seq(("1", "<p>a b</p>", "x")).toDF("id", "text", "v")
    def warnings(op: (String, Any)*): (Seq[String], String) = {
      val bos = new java.io.ByteArrayOutputStream()
      val cols = Console.withErr(new java.io.PrintStream(bos)) {
        engine.applyOperation(df, op.toMap, Map.empty, "transformations.t").columns.toSeq
      }
      (cols, bos.toString)
    }
    for ((name, typo) <- Seq("quality_filter" -> "min_wrods", "c4_clean" -> "min_lnies",
      "html_to_text" -> "colunm")) {
      val (_, err) = warnings("operation" -> name, "column" -> "text", typo -> 1)
      assert(err.contains(s"Config `$typo` not defined for operation `$name`"), name)
    }
    // `column` is honoured through the single-column form of `columns`
    for ((op, cols) <- Seq(
      Seq("operation" -> "drop_columns", "column" -> "v") -> Seq("id", "text"),
      Seq("operation" -> "keep_columns", "column" -> "v") -> Seq("v"),
      Seq("operation" -> "sort_rows", "column" -> "v") -> Seq("id", "text", "v"),
      Seq("operation" -> "combine_columns", "column" -> "v", "new_column" -> "c") ->
        Seq("id", "text", "v", "c"))) {
      assert(warnings(op: _*) == (cols, ""), op)
    }
    val e = intercept[IllegalArgumentException](warnings("operation" -> "no_such_op"))
    assert(e.getMessage.contains("unknown operation `no_such_op`"), e.getMessage)
  }

  test("group_by steers exact quantiles to the sketch unless exact_quantiles: true") {
    import spark.implicits._
    val engine = new Engine(spark)
    // one group of 1..100: exact median = 50.5 (interpolated); the sketch at
    // this size returns an exact rank value (50.0) — distinguishable outputs
    val df = (1 to 100).map(i => ("g", i.toString)).toDF("k", "v")
    def run(op: Map[String, Any]): Double =
      engine.applyOperation(df, op, Map.empty, "transformations.t")
        .head().getDouble(1)
    val base = Map("operation" -> "group_by", "group_by_columns" -> List("k"),
      "create_columns" -> Map("med" -> "median(v)"))
    val bos = new java.io.ByteArrayOutputStream()
    val guarded = Console.withErr(new java.io.PrintStream(bos)) { run(base) }
    assert(bos.toString.contains("approx_percentile"), "the guard must warn on stderr")
    assert(guarded == 50.0, "default path must be the bounded-memory sketch")
    assert(run(base + ("exact_quantiles" -> true)) == 50.5,
      "explicit opt-in must run the exact interpolated percentile")
    // percentile(col,p) is guarded the same way
    val pctl = Map("operation" -> "group_by", "group_by_columns" -> List("k"),
      "create_columns" -> Map("p90" -> "percentile(v,0.9)"))
    assert(Console.withErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream())) {
      run(pctl)
    } == 90.0)
    assert(math.abs(run(pctl + ("exact_quantiles" -> true)) - 90.1) < 1e-9)
  }

  test("map_file resolves relative to the config directory, not the process CWD") {
    val dir = Files.createTempDirectory("graft-mapfile")
    Files.writeString(dir.resolve("d.csv"), "a\ncat\ndog\n")
    Files.writeString(dir.resolve("m.csv"), "from,to\ncat,feline\ndog,canine\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |config:
        |  output_dir: OUT
        |sources:
        |  d:
        |    file: d.csv
        |transformations:
        |  t:
        |    source: $sources.d
        |    operations:
        |      - operation: map_values
        |        column: a
        |        map_file: m.csv
        |destinations:
        |  out:
        |    source: $transformations.t
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val lines = Files.readAllLines(out.resolve("out.jsonl")).asScala.toList.sorted
    assert(lines == List("""{ "a": "canine" }""", """{ "a": "feline" }"""))
  }

  test("event-metrics e2e YAML: json_extract -> subtract_rows -> sample_rows -> resample -> avro") {
    // the session-4 op tier composed as ONE declared pipeline: extract a
    // JSON field, drop a blocklist, cut an exact-size sample, resample to
    // daily per-user buckets, land avro shards — then read the avro back
    // through the source and check the invariants
    val dir = Files.createTempDirectory("graft-evmetrics")
    Files.writeString(dir.resolve("blocked.jsonl"),
      "{\"user_id\": 3}\n{\"user_id\": 7}\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  events:
        |    file: /root/testdata/sf0.001/events.parquet
        |    type: parquet
        |  blocked:
        |    file: blocked.jsonl
        |transformations:
        |  metrics:
        |    source: $sources.events
        |    operations:
        |      - operation: json_extract
        |        column: props
        |        fields:
        |          k: $.k
        |      - operation: subtract_rows
        |        sources: [$sources.blocked]
        |        keys: [user_id]
        |      - operation: sample_rows
        |        column: event_id
        |        count: 400
        |      - operation: resample
        |        time_column: ts
        |        partition_by: [user_id]
        |        interval: 1 day
        |        aggregations:
        |          n: count()
        |          k_sum: sum(k)
        |destinations:
        |  metrics:
        |    source: $transformations.metrics
        |    format: avro
        |    partitions: 2
        |""".stripMargin)
    val out = dir.resolve("o")
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(out))
    val back = Sources.read(spark, "metrics_back",
      Map("file" -> out.resolve("metrics").toString, "type" -> "avro"), dir)
    assert(back.columns.toSeq == Seq("user_id", "bucket", "n", "k_sum"))
    val rows = back.collect()
    assert(rows.nonEmpty)
    // blocked users never appear, even as gap-filled grid rows
    assert(!rows.exists(r => r.getString(0) == "3" || r.getString(0) == "7"))
    // the exact-size cut survives the grouped resample: bucket counts sum
    // back to the 400 sampled events (gap rows contribute n=0)
    assert(rows.map(_.getString(2).toLong).sum == 400L)
    // gap fill really fired: at least one empty bucket exists for a
    // multi-day user span at sf0.001 density
    assert(rows.exists(_.getString(2) == "0"))
  }

  test("multi-line sparse headers flatten to A__b names") {
    val rows = Seq(
      Seq("Student", "", "School", ""),
      Seq("id", "name", "id", "year"))
    // fill_sparse_headers forward-fills the upper rows (source.py:387-393)
    assert(Sources.flattenHeaders(rows, fill = true) ==
      Seq("Student__id", "Student__name", "School__id", "School__year"))
    // default: blanks stay blank (fill_sparse_headers=False, source.py:349)
    assert(Sources.flattenHeaders(rows) ==
      Seq("Student__id", "name", "School__id", "year"))
  }

  // ---------------------------------------------- concurrent execution
  // execute runs each node on a per-run driver pool as soon as its
  // predecessors are defined; these pin what a caller can rely on.

  private def livePoolThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName).filter(_.startsWith("graft-node-")).toSet

  test("concurrent execute: a fan-out project gives the same outputs and -r counts") {
    val dir = writeProject()
    val outDir = dir.resolve("out-counts")
    spark.catalog.clearCache()
    val engine = new Engine(spark)
    val project = Config.load(dir.resolve("project.yaml").toString, Map("OUT_DIR" -> outDir.toString))
    val result = engine.execute(engine.compile(project), collectCounts = true)
    assert(result.rowCounts == Map("sources.animals" -> 4L, "sources.zoos" -> 3L,
      "transformations.cats" -> 2L, "transformations.zoo_animals" -> 1L))
    assert(result.written.keys.toSeq == Seq("destinations.cats", "destinations.zoo_summary"))
    assert(Files.readAllLines(outDir.resolve("cats.jsonl")).asScala.toList.sorted == List(
      """{"name": "cheetah", "weight": 50, "heavy": "no"}""",
      """{"name": "lion", "weight": 190, "heavy": "yes"}"""))
    val summary = Files.readAllLines(outDir.resolve("zoo_summary.jsonl")).asScala.toList
    assert(summary.size == 1 && summary.head.contains(""""n_animals": "2""""))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** Two independent failing branches off one source: `a_bad` (first in
    * topological order) fails only after a Spark job, `b_bad` at once on
    * a config error at line 14. `a_shared` fans out to two
    * destinations, so the run persists it. */
  private def twoFailingBranches(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-fail2")
    Files.writeString(dir.resolve("d.csv"), "a\n1\n2\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  d:
        |    file: d.csv
        |transformations:
        |  a_bad:
        |    source: $sources.d
        |    require_rows: 100
        |  b_bad:
        |    source: $sources.d
        |    operations:
        |      - operation: rename_columns
        |        columns: {a: b}
        |      - operation: filter_rows
        |        behavior: include
        |  a_shared:
        |    source: $sources.d
        |destinations:
        |  a_out:
        |    source: $transformations.a_bad
        |  b_out:
        |    source: $transformations.b_bad
        |  s1:
        |    source: $transformations.a_shared
        |  s2:
        |    source: $transformations.a_shared
        |""".stripMargin)
    dir
  }

  /** Runs `body` and counts the ERROR events the FileFormatWriter logger
    * lets through meanwhile. */
  private def fileFormatWriterErrors(body: => Unit): Int = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("ffw-errors", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.ERROR && e.getLoggerName.endsWith(".FileFormatWriter"))
          n.incrementAndGet()
    }
    appender.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(appender)
    // left started once removed: a task thread may still hold it
    try body finally root.removeAppender(appender)
    n.get
  }

  test("concurrent execute: of two failing branches the earliest in topological order is reported") {
    val dir = twoFailingBranches()
    val engine = new Engine(spark)
    val plan = engine.compile(Config.load(dir.resolve("p.yaml").toString))
    assert(plan.dag.topologicalOrder.indexOf("transformations.a_bad") <
      plan.dag.topologicalOrder.indexOf("transformations.b_bad"))
    // b_bad fails at once, a_bad only after its count job; b_bad's failure
    // neither cancels nor skips a_bad, whose failure is the one reported.
    // The writes the failure cancels log no "Aborting job" trace ahead of it.
    val writerErrors = fileFormatWriterErrors {
      (1 to 3).foreach { _ =>
        val e = intercept[IllegalStateException](engine.execute(plan, Some(dir.resolve("o"))))
        assert(e.getMessage == "transformations.a_bad: requires at least 100 rows but has 2")
      }
    }
    assert(writerErrors == 0)
    // with a_bad fixed, b_bad's located config error is reported
    val project = Config.load(dir.resolve("p.yaml").toString)
    val fixed = project.copy(raw = Config.setPath(project.raw, "transformations.a_bad.require_rows", "1"))
    val e = intercept[IllegalArgumentException](
      engine.execute(engine.compile(fixed), Some(dir.resolve("o"))))
    assert(e.getMessage.startsWith("p.yaml:14: operation `filter_rows`:"), e.getMessage)
  }

  test("concurrent execute: a failed run leaves no pool thread, persist or job description") {
    val dir = twoFailingBranches()
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(null)
    intercept[IllegalStateException](
      new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(dir.resolve("o"))))
    assert(livePoolThreads().isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("execute releases the caches operators persist: dedup_near jaccard leaves none") {
    // jaccardPairs persists its per-doc token frame for the lazy frame it
    // returns; the run's persist scope releases it when the run ends
    val dir = Files.createTempDirectory("graft-dedup-cache")
    Files.writeString(dir.resolve("docs.csv"), (1 to 8).map(i =>
      s"$i,near duplicate document body ${i % 4} with plenty of distinct words ${i % 4}")
      .mkString("doc_id,text\n", "\n", "\n"))
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  docs:
        |    file: docs.csv
        |transformations:
        |  kept:
        |    source: $sources.docs
        |    operations:
        |      - operation: dedup_near
        |        id_column: doc_id
        |        column: text
        |        method: jaccard
        |        threshold: 0.7
        |destinations:
        |  kept:
        |    source: $transformations.kept
        |    extension: jsonl
        |""".stripMargin)
    spark.catalog.clearCache()
    new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(dir.resolve("o")))
    assert(Files.readAllLines(dir.resolve("o").resolve("kept.jsonl")).size == 4)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a failing destination write leaves the caller's job description unset") {
    val dir = Files.createTempDirectory("graft-faildest")
    Files.writeString(dir.resolve("d.csv"), "a\n1\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  d:
        |    file: d.csv
        |destinations:
        |  out:
        |    source: $sources.d
        |    template: missing.jsont
        |""".stripMargin)
    spark.sparkContext.setJobDescription(null)
    intercept[Exception](
      new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(dir.resolve("o"))))
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("concurrent execute: [warn] lines from pool threads reach Console.withErr") {
    val dir = Files.createTempDirectory("graft-warn")
    Files.writeString(dir.resolve("d.csv"), "a\n1\n")
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  d:
        |    file: d.csv
        |transformations:
        |  t:
        |    source: $sources.d
        |    bogus_node_key: 1
        |    operations:
        |      - operation: rename_columns
        |        columns: {a: b}
        |        bogus_op_key: 2
        |destinations:
        |  out:
        |    source: $transformations.t
        |""".stripMargin)
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err, true)) {
      new Engine(spark).run(dir.resolve("p.yaml").toString, outputDir = Some(dir.resolve("o")))
    }
    val text = err.toString("UTF-8")
    assert(text.contains("[warn] Config `bogus_node_key` not defined for node `transformations.t`."), text)
    assert(text.contains("[warn] Config `bogus_op_key` not defined for operation `rename_columns`"), text)
  }

  test("compile orders an nb_classify after the nb_train that writes its model_file") {
    // a_score sorts before b_train, so only the model_file edge puts the
    // trainer first
    val dir = Files.createTempDirectory("graft-nbedge")
    val rows = (0 until 20).map { i =>
      val (label, text) = if (i % 2 == 0) ("code", "def return import class")
                          else ("prose", "once upon a time the story")
      s"""{"id": $i, "label": "$label", "text": "doc $i $text"}"""
    }
    Files.write(dir.resolve("docs.jsonl"), rows.asJava)
    Files.writeString(dir.resolve("p.yaml"),
      """version: 2
        |sources:
        |  docs:
        |    file: docs.jsonl
        |transformations:
        |  a_score:
        |    source: $sources.docs
        |    operations:
        |      - operation: nb_classify
        |        column: text
        |        model_file: ./models/../nb.model
        |        new_column: pred
        |      - operation: filter_rows
        |        query: pred == label
        |        behavior: include
        |  b_train:
        |    source: $sources.docs
        |    operations:
        |      - operation: nb_train
        |        column: text
        |        label_column: label
        |        model_file: nb.model
        |destinations:
        |  scored:
        |    source: $transformations.a_score
        |""".stripMargin)
    val plan = Engine.compile(Config.load(dir.resolve("p.yaml").toString))
    assert(plan.dag.edges.contains("transformations.b_train" -> "transformations.a_score"))
    val out = dir.resolve("o")
    new Engine(spark).execute(plan, Some(out))
    assert(Files.readAllLines(out.resolve("scored.jsonl")).size == 20)
  }
}
