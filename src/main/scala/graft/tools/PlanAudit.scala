package graft.tools

/**
 * Plan audit: dump formatted physical plans for representative queries and
 * grep-check the properties that matter at scale — filter/projection
 * pushdown into the parquet scan, broadcast joins for dimension tables,
 * map-side partial aggregation, whole-stage codegen coverage.
 * Output: PLANS.md at the repo root.
 */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("ERROR")

    val interesting = Seq(
      "q_source_parquet" -> Seq("PushedFilters", "ReadSchema"),
      "q_join_merge_key" -> Seq("BroadcastHashJoin", "BroadcastExchange"),
      "q_join_inner" -> Seq("Join", "Exchange"),
      // NB formatted plans under AQE omit codegen ids until execution; the
      // partial_ aggregate + single Exchange is the property that matters
      "q1_agg" -> Seq("partial_", "HashAggregate", "Exchange"),
      "q_flatten" -> Seq("Generate", "Exchange"),
      "q_filter_rows" -> Seq("PushedFilters"),
      "q_group_by_with_rank" -> Seq("Window", "Exchange"),
      "q_dedup_minhash" -> Seq("Exchange", "InMemoryTableScan"),
      "q_boilerplate" -> Seq("BroadcastHashJoin", "LeftAnti"),
      "q_decontaminate" -> Seq("BroadcastHashJoin"),
      "q_tfidf" -> Seq("Window", "partial_count", "Exchange"),
      "q_chunk" -> Seq("SerializeFromObject"), // narrow kernel: no Exchange
      // multi-table ANN: one narrow kernel scan, top-k as TakeOrdered — no
      // shuffle before the final merge
      "q_ann_multitable" -> Seq("SerializeFromObject", "TakeOrdered"),
      // end-to-end dedup_near keep-set: CC ran eagerly at build; the
      // remaining plan is the semi join of docs against the broadcast keeps
      "q_dedup_near" -> Seq("BroadcastHashJoin", "LeftSemi"),
      // ANN join: bucket equi-join candidates + per-query top-k — the
      // rk<=3 filter must push into the window as a group limit
      "q_ann_join" -> Seq("WindowGroupLimit", "Window"),
      // round-11 tier: fused expressions should show up inside the
      // projection with NO Exchange (narrow scans); windows partition
      // per key (and per time bucket for the skew-proof as-of)
      "q_image_meta" -> Seq("image_meta", "Exchange"),
      "q_text_normalize" -> Seq("unicode_normalize", "Exchange"),
      "q_sentence_split" -> Seq("Generate", "Exchange"),
      "q_bpe_count" -> Seq("bpe_token_count", "Exchange"),
      "q_lang_id_trained" -> Seq("lang_score", "Exchange"),
      "q_audio_features" -> Seq("audio_features", "Exchange"),
      "q_window_agg" -> Seq("Window", "Exchange"),
      "q_group_median" -> Seq("ObjectHashAggregate", "Exchange"),
      "q_asof_bucketed" -> Seq("Window", "__asof_b__"),
      // round-14 tier: binary-column extraction and charset decode are
      // fused scan projections — the doc_text / decode_text expressions
      // must appear in the Project with NO Exchange anywhere. The gate
      // queries build from driver Seqs (LocalRelation, which Catalyst
      // pre-evaluates), so these audit the PARQUET-scan shape instead:
      // __binary_scan__ below stages a binary parquet and projects.
      "__doc_text_scan__" -> Seq("doc_text", "Exchange"),
      "__decode_text_scan__" -> Seq("decode_text", "Exchange"),
    )

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of representative queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanAudit` on `$sfDir`. The properties\n")
    sb.append("checked are the ones that decide 100TB behavior: pushdown, broadcast\n")
    sb.append("join selection, partial aggregation, codegen coverage.\n\n")

    // binary parquet staging for the scan-shaped round-14 audits
    lazy val binaryScanDir = {
      import spark.implicits._
      graft.expressions.GraftFunctions.register(spark)
      val dir = java.nio.file.Files.createTempDirectory("graft-audit-bin").toString
      val f = java.nio.file.Files.createTempFile("graft-audit", ".rtf")
      graft.engine.Rtf.write(f, Seq("audit body"))
      Seq((1L, java.nio.file.Files.readAllBytes(f))).toDF("id", "content")
        .write.mode("overwrite").parquet(dir)
      dir
    }
    def audited(name: String): org.apache.spark.sql.DataFrame = name match {
      case "__doc_text_scan__" =>
        spark.read.parquet(binaryScanDir).selectExpr("id", "doc_text(content) AS text")
      case "__decode_text_scan__" =>
        spark.read.parquet(binaryScanDir)
          .selectExpr("id", "detect_charset(content) AS cs", "decode_text(content) AS text")
      case n => graft.SparkEntry.queries(n)(spark, sfDir)
    }

    interesting.foreach { case (name, checks) =>
      val df = audited(name)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"## $name\n\n")
      checks.foreach { c =>
        val hit = plan.contains(c)
        sb.append(s"- `$c`: ${if (hit) "PRESENT" else "absent"}\n")
      }
      sb.append("\n```\n")
      // keep the plan section compact: the operator tree + first detail lines
      val lines = plan.linesIterator.toVector
      val treeEnd = lines.indexWhere(_.trim.isEmpty) match { case -1 => lines.size; case i => i }
      sb.append(lines.take(math.min(treeEnd + 40, lines.size)).mkString("\n"))
      sb.append("\n```\n\n")
    }
    // regenerate only the audit section; everything from the first manual
    // header ("## Scale smoke", measurement notes appended by hand/probes)
    // onward is preserved verbatim
    val path = java.nio.file.Paths.get("PLANS.md")
    val manualStart = "## Scale smoke"
    if (java.nio.file.Files.exists(path)) {
      val existing = java.nio.file.Files.readString(path)
      val i = existing.indexOf(manualStart)
      if (i >= 0) sb.append(existing.substring(i))
    }
    java.nio.file.Files.writeString(path, sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
