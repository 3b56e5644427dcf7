package graft.expressions

import graft.SparkSpec
import graft.functions.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.SparkSessionExtensions

/** The native Catalyst expression tier: codegen parity with the
  * mapPartitions kernels, SQL registration, and the extensions injection
  * path a cluster would configure. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river today"),
    (2L, "short doc"),
    (3L, ""),
    (4L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("minhash_sig / shingle_hashes SQL output is bit-identical to the mapPartitions kernel") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("expr_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, shingle_hashes(text) AS toks, minhash_sig(text, 16) AS sig
         FROM expr_docs WHERE text IS NOT NULL""")
      .as[(Long, Array[Long], Array[Long])].collect().map(r => r._1 -> ((r._2.toSeq, r._3.toSeq))).toMap
    val viaKernel = Dedup.docSignatures(docs.filter($"text".isNotNull), "doc_id", "text",
        numHashes = 16, shingleSize = 3)
      .as[(Long, Array[Long], Array[Long])].collect().map(r => r._1 -> ((r._2.toSeq, r._3.toSeq))).toMap
    assert(viaSql == viaKernel)
    // identical docs → identical signatures; distinct docs → distinct
    assert(viaSql(0L) == viaSql(1L))
    assert(viaSql(0L) != viaSql(2L))
    // null text stays null through the expression
    val nulls = spark.sql("SELECT minhash_sig(text) FROM expr_docs WHERE doc_id = 4")
      .collect()
    assert(nulls.length == 1 && nulls(0).isNullAt(0))
  }

  test("expression participates in whole-stage codegen — no UDF, no CodegenFallback") {
    GraftFunctions.register(spark)
    // a local Seq relation gets eagerly evaluated by ConvertToLocalRelation;
    // range() forces a real generated pipeline so the assertion bites
    val df = spark.range(100)
      .selectExpr("id", "concat('sample text number ', id % 7, ' with shared words') AS text")
      .selectExpr("id", "minhash_sig(text, 8) AS sig")
    // "*(n)" prefixes mark operators inside a WholeStageCodegen span in the
    // simple plan format — the projection carrying minhash_sig must be one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("minhash_sig")),
      s"expected the minhash_sig projection inside a codegen span:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("fallback"), plan)
    // and the generated path actually evaluates, matching the kernel
    val rows = df.as[(Long, Array[Long])].collect().toMap
    assert(rows.size == 100)
    assert(rows(0L).toSeq ==
      graft.functions.TextHashKernels.minhashSig("sample text number 0 with shared words", 8, 3).toSeq)
  }

  test("argument validation: literal ints required, type mismatch rejected") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("expr_docs")
    intercept[Exception](
      spark.sql("SELECT minhash_sig(text, doc_id) FROM expr_docs").collect())
    intercept[Exception](
      spark.sql("SELECT minhash_sig(doc_id) FROM expr_docs").collect())
    // Literal-int builder accepts explicit shingle size
    val ok = spark.sql("SELECT shingle_hashes(text, 2) FROM expr_docs WHERE doc_id = 0")
    assert(ok.count() == 1)
  }

  test("Scala Column faces resolve through the registry and match SQL results") {
    GraftFunctions.register(spark)
    val src = docs.filter($"text".isNotNull)
    val viaCol = src.select($"doc_id", GraftFunctions.minhashSigCol($"text", 8).as("sig"))
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    src.createOrReplaceTempView("expr_docs_col")
    val viaSql = spark.sql("SELECT doc_id, minhash_sig(text, 8) AS sig FROM expr_docs_col")
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    assert(viaCol == viaSql)
    val struct = src.select(GraftFunctions.docSignatureCol($"text", 8).as("r"))
      .select("r.toks", "r.sig")
    assert(struct.columns.toSeq == Seq("toks", "sig") && struct.count() == 4)
  }

  test("GraftExtensions injects both functions into a SparkSessionExtensions instance") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // building an expression through the injected builders proves wiring
    // (each builder invoked at a valid arity for its function)
    val built = GraftFunctions.all.map { case (name, _, builder) =>
      val args: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = name match {
        case "image_thumbnail" => Seq(Literal("abc"), Literal(8), Literal(8))
        case "cms_query" => Seq(Literal("abc".getBytes), Literal(1L))
        case "qhist_quantile" => Seq(Literal("abc".getBytes), Literal(0.5))
        case "bloom_contains" => Seq(Literal("abc".getBytes), Literal(1L))
        case "kmv_intersect" => Seq(Literal("abc".getBytes), Literal("abc".getBytes))
        case "cosine_sim" => Seq(Literal("abc"), Literal("abc"))
        case "dim_reduce_q" => Seq(Literal("abc"), Literal(4), Literal(1), Literal(8))
        case _ => Seq(Literal("abc"))
      }
      name -> builder(args)
    }.toMap
    assert(built("minhash_sig").isInstanceOf[MinhashSig])
    assert(built("shingle_hashes").isInstanceOf[ShingleHashes])
  }

  test("char_ngrams matches String.sliding and keeps LM induction encoder-free") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val cases = Seq("hello there", "ab", "abc", "", "日本語のテキスト")
    val got = cases.toDF("t")
      .selectExpr("char_ngrams(t, 3) AS g").as[Seq[String]].collect().toSeq
    val want = cases.map(s => if (s.length < 3) Seq.empty else s.sliding(3).toSeq)
    assert(got == want, s"got $got")
    // the induction pipeline itself must carry no Dataset-encoder boundary
    val df = spark.range(20).selectExpr("concat('prose sample ', id % 3) AS text")
    val plan = df.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.call_function("char_ngrams",
          org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.col("text")),
          org.apache.spark.sql.functions.lit(3))).as("tri"))
      .groupBy("tri").count().queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"),
      s"char_ngrams induction must not cross an encoder boundary:\n$plan")
    // LM built through the expression equals the sliding-window definition
    val docs = Seq((0L, "the cat sat"), (1L, "the bat")).toDF("doc_id", "text")
    val lm = graft.functions.Corpus.trigramLm(docs, "text", vocabSize = 100)
    val expect = Seq("the cat sat", "the bat").flatMap(_.toLowerCase.sliding(3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(lm == expect)
  }

  test("trigram_rarity expression fuses into codegen and matches the kernel arithmetic") {
    val df = spark.range(50)
      .selectExpr("id AS doc_id", "concat('shared prose line number ', id % 5) AS text")
    val lm = graft.functions.Corpus.trigramLm(df, "text")
    val scored = graft.functions.Corpus.scoreTrigramRarity(df, "doc_id", "text", lm)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("trigram_rarity")),
      s"expected the rarity projection inside a codegen span:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("SerializeFromObject"),
      s"no UDF / no Dataset-encoder boundary allowed:\n$plan")
    // generated path matches the kernel called directly
    val sorted = lm.toArray.sortBy(_._1)
    val expect = graft.functions.TextHashKernels.trigramRarity(
      "shared prose line number 0", sorted.map(_._1), sorted.map(_._2),
      1000L, lm.values.sum)
    val row = scored.filter("doc_id = 0")
      .select("rarity_sum", "n_trigrams", "rarity").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      ((expect(0), expect(1), expect(2))))
  }

  test("cosine_sim: IEEE-identical to the HOF cosine, null edges, codegen span") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(64)(j => math.sin(i * 0.37 + j * 0.11).toFloat),
        Array.tabulate(64)(j => math.cos(i * 0.23 + j * 0.19).toFloat))
    }.toDF("id", "a", "b")
    // bit-identical to the HOF formulation (same dot/sqrt/divide shape)
    val diff = vecs.select(
      call_function("cosine_sim", col("a"), col("b")).as("fast"),
      graft.functions.Similarity.cosine(col("a"), col("b")).as("hof"))
      .filter(col("fast") =!= col("hof")).count()
    assert(diff == 0, "fused cosine must equal the HOF cosine bit-for-bit")
    // identical vectors; nulls; length mismatch; zero norm
    val edges = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f), Array(0f, 0f))
    ).toDF("a", "b")
      .select(call_function("cosine_sim", col("a"), col("b"))).collect()
    assert(edges(0).getDouble(0) == 1.0 && edges(1).isNullAt(0))
    val mism = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
      .select(call_function("cosine_sim", col("a"), col("b"))).head()
    assert(mism.isNullAt(0))
    // stays inside whole-stage codegen over a REAL scan (a local Seq frame
    // would be pre-evaluated by ConvertToLocalRelation, and HOF vector
    // builders like transform() are CodegenFallback themselves — the
    // vacuous-plan traps the doc_text audits documented)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = emb.select(
      call_function("cosine_sim", col("embedding"), col("embedding")).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cosine_sim"),
      s"cosine_sim must sit inside a whole-stage-codegen'd (starred) projection:\n$plan")
  }

  test("register is safe from concurrent threads: every name resolves once it returns") {
    // 8 threads register on a fresh session at once and immediately
    // resolve every function: none may see the session marked before its
    // functions are in the registry
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try (1 to 20).foreach { _ =>
      val fresh = spark.newSession()
      val start = new java.util.concurrent.CountDownLatch(1)
      val missing = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            GraftFunctions.register(fresh)
            GraftFunctions.all.map(_._1).filterNot(n => fresh.sessionState.functionRegistry
              .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
          }
        })
      }
      start.countDown()
      missing.foreach(f => assert(f.get().isEmpty, s"unresolved after register: ${f.get()}"))
    } finally pool.shutdown()
  }
}
