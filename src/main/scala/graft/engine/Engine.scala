package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Path, Paths}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ConcurrentLinkedQueue,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.SeqMap
import graft.ops.Ops

/**
 * The execution engine: compile a YAML project into a DAG of named nodes,
 * topologically fold it into a Map[nodeName, DataFrame], and run destination
 * writes (the only actions). Mirrors the reference lifecycle
 * (reference earthmover.py:158-279) with Spark supplying laziness, fusion
 * and the optimizer (SURVEY.md §3.4, §4).
 *
 * A node computed once is reused by every consumer (the `if node.data`
 * memoization, earthmover.py:271-272) — and fan-out nodes consumed by more
 * than one downstream node can be persisted so shared lineage is not
 * recomputed per destination, an improvement the reference explicitly
 * lacks.
 */
object Engine {
  final case class Plan(project: Config.Project, dag: Dag) {
    def nodeConfig(full: String): Map[String, Any] = {
      val Array(section, name) = full.split("\\.", 2)
      Config.asMap(Config.asMap(project.raw(section))(name))
    }
  }

  /** `written` is in topological order, the order `graft run` prints it. */
  final case class RunResult(written: SeqMap[String, Path], rowCounts: Map[String, Long])

  /** A config error already carrying its `file.yaml:LINE` location — the
    * node-level wrapper must not prefix it a second time. Subtype of
    * IllegalArgumentException so existing handlers/tests are unaffected. */
  final class LocatedException(message: String, cause: Throwable)
    extends IllegalArgumentException(message, cause)

  // ------------------------------------------------------------- compile
  /** Config → DAG: pure driver work, no Spark (`graft compile` starts no
    * session). Edges are data references plus one ordering edge per
    * `model_file` an `nb_train` writes and an `nb_classify` reads, so the
    * scorer runs after the trainer whatever the node names. */
  def compile(project: Config.Project, selector: String = "*"): Plan = {
    val nodes = scala.collection.mutable.Set[String]()
    val edges = scala.collection.mutable.Set[(String, String)]()
    val modelWrites, modelReads = scala.collection.mutable.Set[(Path, String)]()

    project.sources.keys.foreach(n => nodes += s"sources.$n")
    project.transformations.foreach { case (n, cfgAny) =>
      val full = s"transformations.$n"
      nodes += full
      val cfg = Config.asMap(cfgAny)
      val primary = Config.reqStr(cfg, "source", full)
      edges += (resolveRef(primary) -> full)
      Config.asList(cfg.getOrElse("operations", Nil)).foreach { opAny =>
        val op = Config.asMap(opAny)
        Config.asList(op.getOrElse("sources", Nil)).foreach { s =>
          edges += (resolveRef(s.toString) -> full)
        }
        def model = Config.str(op, "model_file").map(project.configDir.resolve(_).normalize)
        Config.str(op, "operation") match {
          case Some("nb_train") => model.foreach(p => modelWrites += (p -> full))
          case Some("nb_classify") => model.foreach(p => modelReads += (p -> full))
          case _ =>
        }
      }
    }
    for ((p, train) <- modelWrites; (q, score) <- modelReads if p == q && train != score)
      edges += (train -> score)
    project.destinations.foreach { case (n, cfgAny) =>
      val full = s"destinations.$n"
      nodes += full
      val cfg = Config.asMap(cfgAny)
      edges += (resolveRef(Config.reqStr(cfg, "source", full)) -> full)
    }

    edges.foreach { case (a, b) =>
      if (!nodes.contains(a))
        throw new IllegalArgumentException(s"$b references undefined node $a")
    }
    val dag = Dag(nodes.toSet, edges.toSet)
    dag.topologicalOrder // cycle check
    Plan(project, dag.select(selector, _.startsWith("destinations.")))
  }

  /** `$sources.name` / `$transformations.name` → internal node id. */
  private def resolveRef(ref: String): String = {
    val r = ref.stripPrefix("$")
    require(r.startsWith("sources.") || r.startsWith("transformations."),
      s"node reference must be $$sources.* or $$transformations.*: $ref")
    r
  }

  /** Thrown by a node task that starts after an earlier node failed. */
  private object Skipped extends RuntimeException(null, null, false, false)
}

final class Engine(spark: SparkSession) {
  import Engine.{Plan, RunResult, resolveRef}

  /** Forwarder kept for callers holding an engine instance. */
  def compile(project: Config.Project, selector: String = "*"): Plan =
    Engine.compile(project, selector)

  // ------------------------------------------------------------- execute
  /** Execute the plan. Each node runs on a per-run driver pool as soon as
    * its predecessors are defined, so independent branches submit their
    * Spark jobs at the same time; a chain runs one node at a time. The
    * workers are started from the caller, so they inherit its Spark local
    * properties, active session and Console streams.
    *
    * `collectCounts` additionally row-counts every node (the reference's
    * --results-file epilogue, earthmover.py:409-419) — extra actions, each
    * its own task, so off by default. A transformation with more than one
    * consumer is persisted for the run; under `collectCounts` its consumers
    * start after its count has filled the cache. The run is one
    * [[graft.Persisted]] scope, opened before the pool so its workers
    * inherit it: those persists, and every cache an operator persists for
    * a frame it returns, are released when the run ends.
    *
    * When a node fails, the jobs of running nodes after it in topological
    * order are cancelled and no node after it starts; nodes before it still
    * run, as they would one at a time. Once every task has ended, the
    * failure of the earliest failing node in topological order is rethrown,
    * so a project fails with the same error whatever the timing. */
  def execute(plan: Plan, outputDir: Option[Path] = None,
              collectCounts: Boolean = false): RunResult = {
    val order = plan.dag.topologicalOrder
    val frames = TrieMap[String, DataFrame]()
    val written = TrieMap[String, Path]()
    val counts = TrieMap[String, Long]()
    val outDir = outputDir.getOrElse(Paths.get(plan.project.outputDir))
    val consumers: Map[String, Int] =
      plan.dag.edges.groupBy(_._1).view.mapValues(_.size).toMap.withDefaultValue(0)
    val sc = spark.sparkContext

    // show_progress (node.py:59-60): one line per stage of the run, naming
    // the node whose job ran it; the run returns after the last line
    val showProgress = Config.bool(plan.project.config, "show_progress") ||
      order.exists(f => Config.bool(plan.nodeConfig(f), "show_progress"))
    val err = Console.err // the listener-bus thread does not see the caller's binding
    def progress(body: => Unit): Unit =
      if (!showProgress) body
      else graft.Metrics.collect(spark, (s, job) =>
        err.println(s"[progress] stage ${s.id} (${s.name.takeWhile(_ != '(').trim}): " +
          s"${s.tasks} tasks, ${s.runMs} ms" + (if (job.nonEmpty) s" — $job" else "")))(body)

    // a task of the node at topological index i tags its jobs with i, so a
    // failure can cancel exactly the nodes after it
    val run = s"graft-run-${java.util.UUID.randomUUID()}"
    val failures = TrieMap[Int, Throwable]()
    val failedAt = new AtomicInteger(Int.MaxValue)
    val running = ConcurrentHashMap.newKeySet[Int]()
    def task(i: Int)(body: => Unit): Runnable = () => {
      running.add(i)
      try {
        if (i > failedAt.get) throw Engine.Skipped
        sc.addJobTag(s"$run-$i")
        try body catch { case e: Throwable =>
          failures.putIfAbsent(i, e)
          failedAt.accumulateAndGet(i, math.min)
          running.forEach(j => if (j > i) sc.cancelJobsWithTag(s"$run-$j", s"${order(i)} failed"))
          throw e
        } finally sc.removeJobTag(s"$run-$i")
      } finally running.remove(i)
    }

    progress(graft.Persisted.scope {
      val threads = new ConcurrentLinkedQueue[Thread]()
      val width = math.max(1, math.min(order.size, graft.Session.cpus.toInt))
      val pool = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
        new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
          val t = new Thread(r, s"graft-node-${threads.size}")
          t.setDaemon(true)
          threads.add(t)
          t
        })
      try {
        pool.prestartAllCoreThreads()
        val defined = scala.collection.mutable.Map[String, CompletableFuture[Void]]()
        val tasks = Seq.newBuilder[CompletableFuture[Void]]
        order.zipWithIndex.foreach { case (full, i) =>
          val preds = plan.dag.predecessors(full).toSeq.map(defined)
          val persist = full.startsWith("transformations.") && consumers(full) > 1
          val node = CompletableFuture.allOf(preds: _*).thenRunAsync(task(i) {
            defineNode(plan, full, frames, written, outDir)
            if (persist) graft.Persisted.persist(frames(full))
          }, pool)
          tasks += node
          defined(full) = node
          if (collectCounts && !full.startsWith("destinations.")) {
            val count = node.thenRunAsync(task(i) { counts(full) = frames(full).count() }, pool)
            tasks += count
            // the count fills a fan-out cache; consumers that started before
            // it would each fill it again
            if (persist) defined(full) = count
          }
        }
        // allOf completes once every task has ended: defined, failed or skipped
        CompletableFuture.allOf(tasks.result(): _*).handle((_: Void, _: Throwable) => null).join()
      } finally {
        pool.shutdown()
        threads.forEach(_.join())
      }
    })
    failures.get(failedAt.get).foreach(e => throw e)
    RunResult(SeqMap.from(order.flatMap(n => written.get(n).map(n -> _))), counts.toMap)
  }

  /** Define one node: a source or transformation builds its frame (with its
    * eager jobs: header reads, graph iterations, expect/require_rows), a
    * destination writes. Config errors carry their YAML location. */
  private def defineNode(plan: Plan, full: String, frames: TrieMap[String, DataFrame],
                         written: TrieMap[String, Path], outDir: Path): Unit = {
    val cfg = plan.nodeConfig(full)
    val section = full.takeWhile(_ != '.')
    val name = full.drop(section.length + 1)
    nodeKeys.get(section).foreach { allowed =>
      (cfg.keySet -- allowed).foreach(k =>
        Console.err.println(s"[warn] Config `$k` not defined for node `$full`."))
    }
    // config errors report where in the YAML they came from: op-level
    // failures locate the exact `operations[i]` entry, anything else the
    // node mapping (reference yaml_parser.py:97-111 / error_handler ctx)
    def located(path: String, e: Exception, what: String = ""): Nothing =
      throw plan.project.locate(path) match {
        case Some(loc) => new Engine.LocatedException(s"$loc:$what ${e.getMessage}", e)
        case None => e
      }
    try section match {
      case "sources" =>
        frames(full) = postProcess(Sources.read(spark, name, cfg, plan.project.configDir), cfg, full)
      case "transformations" =>
        val primary = frames(resolveRef(Config.reqStr(cfg, "source", full)))
        val result = Config.asList(cfg.getOrElse("operations", Nil)).zipWithIndex.foldLeft(primary) {
          case (df, (opAny, i)) =>
            try applyOperation(df, Config.asMap(opAny), frames, full, plan.project.configDir)
            catch { case e: IllegalArgumentException if !e.isInstanceOf[Engine.LocatedException] =>
              val opName = Config.str(Config.asMap(opAny), "operation").getOrElse("?")
              located(s"$full.operations.$i", e, s" operation `$opName`:") }
        }
        frames(full) = postProcess(result, cfg, full)
      case "destinations" =>
        val src = frames(resolveRef(Config.reqStr(cfg, "source", full)))
        // name the jobs so progress lines and the Spark UI name the node
        spark.sparkContext.setJobDescription(s"graft: $full")
        try written(full) = Destinations.write(src, name, cfg, outDir, plan.project.configDir)
        finally spark.sparkContext.setJobDescription(null)
    } catch { case e: IllegalArgumentException if !e.isInstanceOf[Engine.LocatedException] =>
      located(full, e) }
  }

  /** Node-level cross-cutting config: expect / require_rows / repartition /
    * debug (reference nodes/node.py:124-199). */
  private def postProcess(df0: DataFrame, cfg: Map[String, Any], nodeName: String): DataFrame = {
    var df = df0
    Config.int(cfg, "repartition").foreach(n => df = df.repartition(n))
    val expectations = Config.asList(cfg.getOrElse("expect", Nil)).map(_.toString)
    if (expectations.nonEmpty) Ops.expect(df, expectations, nodeName)
    Config.int(cfg, "require_rows").foreach(n => Ops.requireRows(df, n, nodeName))
    if (Config.bool(cfg, "debug")) {
      df.printSchema()
      df.show(10, truncate = false)
    }
    df
  }

  /** Node-level allowed keys (node.py:28, source.py:28,108,463,527,
    * transformation.py:12, destination.py:19,52 + engine extensions). */
  private val nodeKeys: Map[String, Set[String]] = Map(
    "sources" -> Set("debug", "expect", "require_rows", "show_progress", "repartition",
      "chunksize", "optional", "optional_fields", "file", "type", "columns", "header_rows",
      "fill_sparse_headers", "colspec_file", "colspecs", "colspec_headers", "widths", "names",
      "rename_cols", "encoding", "sheet", "skiprows", "object_type", "match", "orientation",
      "xpath", "connection", "query"),
    "transformations" -> Set("debug", "expect", "require_rows", "show_progress", "repartition",
      "operations", "source"),
    "destinations" -> Set("debug", "expect", "require_rows", "show_progress", "repartition",
      "source", "template", "extension", "linearize", "header", "footer", "partitioned",
      "format", "partition_by", "partitions", "compression", "max_rows_per_file",
      "bucket_by", "sort_by", "table"))

  private val baseOpKeys = Set("operation", "repartition")
  /** Every YAML operation with its allowed config keys (the reference's
    * `allowed_configs` tuples across operations/column.py, dataframe.py,
    * groupby.py, row.py), plus this engine's documented extensions. It is
    * the list of operation names: `applyOperation` rejects a name with no
    * entry, and warns on a key not listed — misspelled configs should not
    * pass silently (node.py:63-69). */
  private val allowedOpKeys: Map[String, Set[String]] = Map(
    "add_columns" -> Set("columns"),
    "modify_columns" -> Set("columns"),
    "duplicate_columns" -> Set("columns"),
    "rename_columns" -> Set("columns"),
    "drop_columns" -> Set("column", "columns"),
    "keep_columns" -> Set("column", "columns"),
    "combine_columns" -> Set("column", "columns", "new_column", "separator"),
    "map_values" -> Set("column", "columns", "mapping", "map_file"),
    "date_format" -> Set("column", "columns", "from_format", "to_format", "ignore_errors", "exact_match"),
    "snake_case_columns" -> Set(),
    "lowercase_columns" -> Set(),
    "uppercase_columns" -> Set(),
    "join" -> Set("sources", "join_type", "left_keys", "left_key", "right_keys", "right_key",
      "left_keep_columns", "left_drop_columns", "right_keep_columns", "right_drop_columns",
      "broadcast"),
    "union" -> Set("sources", "fill_missing_columns"),
    "cast_columns" -> Set("columns"),
    "explode_column" -> Set("column", "new_column", "position_column", "keep_empty"),
    "fill_na" -> Set("columns"),
    "drop_na" -> Set("column", "columns", "how"),
    "subtract_rows" -> Set("sources", "keys"),
    "intersect_rows" -> Set("sources", "keys"),
    "debug" -> Set("function", "rows", "transpose", "skip_columns", "keep_columns"),
    "melt" -> Set("id_vars", "value_vars", "var_name", "value_name"),
    "pivot" -> Set("rows_by", "cols_by", "values", "pivot_values"),
    "group_by" -> Set("group_by_columns", "create_columns", "exact_quantiles", "grouping"),
    "group_by_with_rank" -> Set("group_by_columns", "rank_column", "order_by"),
    "window_agg" -> Set("partition_by", "order_by", "function", "column",
      "new_column", "rows_preceding", "rows_following", "offset"),
    "distinct_rows" -> Set("column", "columns"),
    "filter_rows" -> Set("query", "behavior"),
    "sort_rows" -> Set("column", "columns", "descending"),
    "limit_rows" -> Set("count", "offset"),
    "flatten" -> Set("flatten_column", "left_wrapper", "right_wrapper", "separator",
      "value_column", "trim_whitespace"),
    // engine extensions (corpus operations)
    "pii_redact" -> Set("column", "columns"),
    "url_normalize" -> Set("column", "new_column"),
    "url_domain" -> Set("column", "new_column"),
    "domain_filter" -> Set("column", "domains", "domains_file", "mode"),
    "image_meta" -> Set("column", "prefix"),
    "audio_meta" -> Set("column", "prefix"),
    "audio_fingerprint" -> Set("column", "new_column"),
    "audio_dedup" -> Set("id_column", "column", "max_hamming"),
    "audio_dedup_lossy" -> Set("id_column", "column", "max_hamming"),
    "audio_transcode" -> Set("column", "new_column", "quality"),
    "image_thumbnail" -> Set("column", "new_column", "width", "height"),
    "doc_text" -> Set("column", "new_column", "format"),
    "decode_text" -> Set("column", "new_column", "charset", "charset_column"),
    "audio_features" -> Set("column", "prefix"),
    "video_meta" -> Set("column", "prefix"),
    "video_frames" -> Set("column", "max_frames", "frame_column", "index_column"),
    "video_dedup" -> Set("id_column", "column", "max_hamming", "max_frames", "min_matches"),
    "image_hash" -> Set("column", "kind", "new_column"),
    "image_dedup" -> Set("id_column", "column", "max_hamming"),
    "bpe_token_count" -> Set("column", "new_column", "num_merges",
      "max_word_types", "merges_file", "byte_level"),
    "trigram_rarity" -> Set("id_column", "column", "vocab_size", "scale"),
    "lang_id" -> Set("column", "new_column"),
    "lang_id_trained" -> Set("column", "label_column", "top_k", "new_column"),
    "nb_classify" -> Set("column", "label_column", "new_column", "model_file"),
    "nb_train" -> Set("column", "label_column", "model_file"),
    "model_eval" -> Set("label_column", "predicted_column"),
    "text_normalize" -> Set("column", "form", "strip_controls",
      "collapse_whitespace", "new_column"),
    "sentence_split" -> Set("id_column", "column"),
    "text_stats" -> Set("column", "stopwords"),
    "repetition_stats" -> Set("column", "line_delimiter", "ngram"),
    "quality_score" -> Set("column", "new_column", "stopwords"),
    "quality_filter" -> Set("column", "min_words", "max_words"),
    "html_to_text" -> Set("column"),
    "c4_clean" -> Set("column", "min_line_words", "min_lines"),
    "fingerprint" -> Set("column", "new_column"),
    "chunk" -> Set("id_column", "column", "chunk_words", "overlap_words"),
    "dedup_exact" -> Set("id_column", "column"),
    "dedup_substring" -> Set("id_column", "column", "window"),
    "dedup_paragraphs" -> Set("id_column", "column", "delimiter"),
    "hash_sample" -> Set("column", "rate", "strata_column", "rates", "default_rate"),
    "sample_rows" -> Set("column", "count"),
    "domain_cap" -> Set("group_column", "id_column", "k", "salts"),
    "rebalance_mixture" -> Set("stratum_column", "key_column", "weights"),
    "boilerplate_removal" -> Set("id_column", "column", "min_docs", "line_delimiter"),
    "decontaminate" -> Set("sources", "id_column", "column", "shingle_size"),
    "dedup_near" -> Set("id_column", "column", "method", "threshold", "shingle_size",
      "max_doc_freq", "max_hamming", "broadcast_edge_threshold"),
    "dedup_near_incremental" -> Set("sources", "id_column", "column", "threshold",
      "shingle_size", "max_doc_freq", "corpus_is_index"),
    "semantic_dedup" -> Set("id_column", "column", "threshold", "nlist", "iters"),
    "cluster_assign" -> Set("id_column", "column", "nlist", "iters", "new_column"),
    "ann_topk" -> Set("id_column", "column", "k", "query", "method",
      "num_planes", "num_tables", "rerank", "subspaces", "centroids", "iters",
      "nlist", "nprobe"),
    "ann_join" -> Set("sources", "id_column", "column", "k",
      "num_planes", "num_tables"),
    "token_budget" -> Set("id_column", "column", "tokens_column", "budget"),
    "pack_contexts" -> Set("id_column", "column", "tokens_column", "context_tokens", "group_column"),
    "assign_split" -> Set("key_column", "weights", "split_column"),
    "asof_join" -> Set("sources", "key_column", "time_column", "value_columns",
      "suffix", "tolerance_seconds", "bucket_seconds"),
    "range_join" -> Set("sources", "key_columns", "point_column", "start_column",
      "end_column", "bin_width"),
    "shuffle_rows" -> Set("id_column", "position_column"),
    "salted_join" -> Set("sources", "keys", "salt_buckets", "join_type"),
    "sketch_distinct" -> Set("group_by_columns", "column", "precision",
      "estimate_column", "sketch_column", "merge_sketches"),
    "heavy_hitters" -> Set("column", "min_count", "depth", "width", "count_column"),
    "sketch_quantile" -> Set("group_by_columns", "column", "fractions",
      "sub_bits", "sketch_column", "merge_sketches"),
    "quantile_filter" -> Set("group_by_columns", "column", "fraction", "mode",
      "scale", "sub_bits"),
    "bloom_filter" -> Set("sources", "column", "source_column", "log_bits", "k", "mode"),
    "sketch_overlap" -> Set("sources", "column", "source_column", "k"),
    "pagerank" -> Set("src_column", "dst_column", "iterations", "damping_ppm", "dangling"),
    "hits" -> Set("src_column", "dst_column", "iterations"),
    "apply_changes" -> Set("sources", "key_columns", "seq_column", "op_column",
      "delete_values"),
    "scd2" -> Set("key_columns", "seq_column", "change_only"),
    "zorder_by" -> Set("columns", "bits", "partitions", "keep_key"),
    "dim_reduce" -> Set("column", "new_column", "k", "seed", "s_bits", "output"),
    "weighted_sample" -> Set("key_column", "weight_column"),
    "similarity_join" -> Set("sources", "id_column", "text_column",
      "right_id_column", "right_text_column", "threshold", "shingle_size",
      "max_doc_freq"),
    "compression_ratio" -> Set("column", "new_column"),
    "json_extract" -> Set("column", "fields"),
    "resample" -> Set("time_column", "partition_by", "interval", "aggregations",
      "bucket_column", "fill_gaps", "max_buckets_per_key"),
    "fill_forward" -> Set("column", "columns", "partition_by", "order_by", "default"),
    "time_window_agg" -> Set("partition_by", "time_column", "function", "column",
      "new_column", "trailing"),
    "interpolate" -> Set("column", "time_column", "partition_by", "tie_break",
      "new_column"),
  )

  /** Append `prefix+field` columns from a registry struct function over a
    * binary payload column (image_meta/audio_meta/audio_features/
    * video_meta all share this shape). */
  private def appendStructFields(df: DataFrame, binCol: String, fn: String,
                                 prefix: String, fields: Seq[String]): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    import org.apache.spark.sql.functions.{call_function, col}
    val m = s"__${prefix}m__"
    fields.foldLeft(df.withColumn(m, call_function(fn, col(binCol)))) { (d, f) =>
      d.withColumn(prefix + f, col(s"$m.$f"))
    }.drop(m)
  }

  /** YAML `operation:` dispatch — the reference's 22-entry operation table
    * (operations/operation.py:30-58) mapped onto graft.ops.Ops. */
  def applyOperation(df: DataFrame, op: Map[String, Any],
                     frames: collection.Map[String, DataFrame], ctx: String,
                     configDir: Path = Paths.get(".")): DataFrame = {
    def colsOf(m: Map[String, Any]): Seq[String] =
      m.get("columns").map(Config.asScalarList(_).map(_.toString))
        .orElse(m.get("column").map(c => Seq(c.toString)))
        .getOrElse(Nil)
    def pairs(key: String): Seq[(String, String)] =
      Config.asMap(op.getOrElse(key, Map.empty[String, Any])).toSeq.map { case (k, v) => k -> v.toString }
    def sourceFrames: Seq[DataFrame] =
      Config.asList(op.getOrElse("sources", Nil)).map(s => frames(resolveRef(s.toString)))

    val name = Config.reqStr(op, "operation", ctx)
    val allowed = allowedOpKeys.getOrElse(name,
      throw new IllegalArgumentException(s"$ctx: unknown operation `$name`"))
    (op.keySet -- allowed -- baseOpKeys).foreach { k =>
      Console.err.println(s"[warn] Config `$k` not defined for operation `$name` ($ctx).")
    }
    val result = name match {
      case "add_columns" => Ops.addColumns(df, pairs("columns"))
      case "modify_columns" => Ops.modifyColumns(df, pairs("columns"))
      case "duplicate_columns" => Ops.duplicateColumns(df, pairs("columns"))
      case "rename_columns" => Ops.renameColumns(df, pairs("columns").toMap)
      case "drop_columns" => Ops.dropColumns(df, colsOf(op))
      case "keep_columns" => Ops.keepColumns(df, colsOf(op))
      case "combine_columns" => Ops.combineColumns(df,
        Config.reqStr(op, "new_column", ctx), colsOf(op),
        Config.str(op, "separator").getOrElse(""))
      case "map_values" =>
        // a null mapping value (`key:` with no value) maps to the empty
        // string — the reference maps it to None/NaN, which stringifies to ""
        // at every render site (destination.py:57)
        val mapping = op.get("mapping").map(Config.asMap(_).map { case (k, v) =>
          k -> Option(v).map(_.toString).getOrElse("") })
          .getOrElse(Config.str(op, "map_file") match {
            case Some(f) => readMapFile(f, configDir)
            case None => throw new IllegalArgumentException(s"$ctx: map_values needs `mapping` or `map_file`")
          })
        Ops.mapValues(df, colsOf(op), mapping)
      case "date_format" => Ops.dateFormat(df, colsOf(op),
        Config.reqStr(op, "from_format", ctx), Config.reqStr(op, "to_format", ctx),
        Config.bool(op, "ignore_errors"))
      case "snake_case_columns" => Ops.snakeCaseColumns(df)
      case "lowercase_columns" => Ops.lowercaseColumns(df)
      case "uppercase_columns" => Ops.uppercaseColumns(df)
      case "distinct_rows" => Ops.distinctRows(df, colsOf(op))
      case "filter_rows" => Ops.filterRows(df,
        Config.reqStr(op, "query", ctx), Config.str(op, "behavior").getOrElse("include"))
      case "sort_rows" => Ops.sortRows(df, colsOf(op), Config.bool(op, "descending"))
      case "limit_rows" => Ops.limitRows(df,
        Config.int(op, "count").getOrElse(throw new IllegalArgumentException(s"$ctx: limit_rows needs count")),
        Config.int(op, "offset").getOrElse(0))
      case "flatten" => Ops.flatten(df,
        Config.reqStr(op, "flatten_column", ctx), Config.reqStr(op, "value_column", ctx),
        Config.str(op, "separator").getOrElse(","),
        Config.str(op, "left_wrapper").getOrElse("[\"'"),
        Config.str(op, "right_wrapper").getOrElse("\"']"),
        Config.str(op, "trim_whitespace").getOrElse(" \t\r\n\"'"))
      case "join" => Ops.join(df, sourceFrames,
        Config.reqStr(op, "join_type", ctx),
        leftKeys = keysOf(op, "left"), rightKeys = keysOf(op, "right"),
        leftKeep = listOf(op, "left_keep_columns"), leftDrop = listOf(op, "left_drop_columns"),
        rightKeep = listOf(op, "right_keep_columns"), rightDrop = listOf(op, "right_drop_columns"),
        broadcastSide = Config.str(op, "broadcast"))
      case "union" => Ops.union(df, sourceFrames, Config.bool(op, "fill_missing_columns"))
      case "cast_columns" => Ops.castColumns(df, pairs("columns"))
      case "fill_na" => Ops.fillNa(df, pairs("columns"))
      case "drop_na" => Ops.dropNa(df, colsOf(op),
        Config.str(op, "how").getOrElse("any"))
      case "explode_column" => Ops.explodeColumn(df,
        Config.reqStr(op, "column", ctx),
        Config.str(op, "new_column").getOrElse(""),
        Config.str(op, "position_column"),
        Config.bool(op, "keep_empty"))
      case "subtract_rows" => Ops.subtractRows(df, sourceFrames, listOf(op, "keys"))
      case "intersect_rows" => Ops.intersectRows(df, sourceFrames, listOf(op, "keys"))
      case "melt" => Ops.melt(df,
        idVars = listOf(op, "id_vars"), valueVars = listOf(op, "value_vars"),
        varName = Config.str(op, "var_name").getOrElse("melt_variable"),
        valueName = Config.str(op, "value_name").getOrElse("melt_value"))
      case "pivot" => Ops.pivot(df,
        rowsBy = listOf(op, "rows_by"), colsBy = Config.reqStr(op, "cols_by", ctx),
        values = Config.reqStr(op, "values", ctx),
        // explicit `pivot_values` skips the discovery/uniqueness job —
        // the scale path when the pivot column's domain is known
        pivotValues = op.get("pivot_values").map(Config.asScalarList(_)))
      case "group_by" =>
        val creates0 = Config.asMap(op.getOrElse("create_columns", Map.empty[String, Any]))
          .toSeq.map { case (k, v) => k -> v.toString }
        // Exact median/percentile buffer EVERY group value in executor
        // memory — a hazard at 100 TB group sizes — so the YAML path is
        // safe by default: exact quantile specs are steered to the
        // approx_percentile sketch (bounded memory, ±1e-4 rank error)
        // unless the op opts in with `exact_quantiles: true`.
        val exactOk = Config.bool(op, "exact_quantiles")
        // Column capture takes anything but comma/paren so backticked and
        // dotted names still get steered; `percentile(x)` with no fraction
        // is left alone (the downstream parse error diagnoses it) rather
        // than rewritten to `approx_percentile(x,)`.
        val quantRe = "^(median|percentile)\\(([^,()]+)(?:,\\s*([^)]*))?\\)$".r
        val creates = if (exactOk) creates0 else creates0.map { case (k, spec) =>
          quantRe.findFirstMatchIn(spec.trim) match {
            case Some(m) if m.group(1) == "median" || m.group(3) != null =>
              val p = if (m.group(1) == "median") "0.5" else m.group(3).trim
              Console.err.println(s"[warn] group_by `$k`: exact ${m.group(1)} buffers whole " +
                "groups in memory; using the approx_percentile sketch instead " +
                "(set `exact_quantiles: true` on the operation to opt in to exact).")
              k -> s"approx_percentile(${m.group(2)},$p)"
            case _ => k -> spec
          }
        }
        Ops.groupBy(df, listOf(op, "group_by_columns"), creates,
          grouping = Config.str(op, "grouping").getOrElse("groups"))
      case "window_agg" => Ops.windowAgg(df,
        listOf(op, "partition_by"), listOf(op, "order_by"),
        Config.reqStr(op, "function", ctx),
        Config.str(op, "column").getOrElse(""),
        Config.str(op, "new_column").getOrElse("window_value"),
        op.get("rows_preceding").map(_.toString.toLong),
        op.get("rows_following").map(_.toString.toLong),
        Config.int(op, "offset").getOrElse(1))
      case "group_by_with_rank" => Ops.groupByWithRank(df,
        listOf(op, "group_by_columns"), Config.reqStr(op, "rank_column", ctx))
      case "debug" =>
        Ops.debug(df,
          Config.str(op, "function").getOrElse("head"),
          Config.int(op, "rows").getOrElse(5),
          skipColumns = listOf(op, "skip_columns"),
          keepColumns = op.get("keep_columns").map(Config.asScalarList(_).map(_.toString)),
          transpose = Config.bool(op, "transpose"),
          nodeName = ctx)
      // ---- engine extensions: corpus operations (graft.functions tier) ----
      // Not part of the reference surface — documented extensions that make
      // the training-data operators available to declared YAML pipelines.
      case "pii_redact" =>
        colsOf(op).foldLeft(df)((d, c) =>
          d.withColumn(c, graft.functions.Corpus.redactPii(org.apache.spark.sql.functions.col(c))))
      // canonical URL / registrable-domain columns for crawl curation;
      // in place by default, `new_column` writes alongside
      case "url_normalize" =>
        val c = Config.reqStr(op, "column", ctx)
        df.withColumn(Config.str(op, "new_column").getOrElse(c),
          graft.functions.Corpus.normalizeUrl(org.apache.spark.sql.functions.col(c)))
      case "url_domain" =>
        val c = Config.reqStr(op, "column", ctx)
        df.withColumn(Config.str(op, "new_column").getOrElse("domain"),
          graft.functions.Corpus.urlDomain(org.apache.spark.sql.functions.col(c)))
      // mergeable sketches: per-group HLL distinct (merge_sketches: true
      // re-aggregates a PERSISTED sketch column instead of raw keys — the
      // incremental day-over-day path), sketch-pruned exact heavy hitters,
      // and log-histogram quantiles. graft.functions.Sketches scaladoc has
      // the 100 TB rationale per op.
      case "sketch_distinct" =>
        val groupCols = listOf(op, "group_by_columns")
        val c = Config.reqStr(op, "column", ctx)
        val estC = Config.str(op, "estimate_column").getOrElse("approx_distinct")
        val skC = Config.str(op, "sketch_column")
        if (Config.bool(op, "merge_sketches"))
          graft.functions.Sketches.mergeDistinct(df, groupCols, c, estC, skC)
        else
          graft.functions.Sketches.approxDistinct(df, groupCols, c,
            Config.int(op, "precision").getOrElse(12), estC, skC)
      case "heavy_hitters" =>
        graft.functions.Sketches.heavyHitters(df,
          Config.reqStr(op, "column", ctx),
          Config.str(op, "min_count").getOrElse(
            throw new IllegalArgumentException(s"$ctx: heavy_hitters needs `min_count`")).toLong,
          Config.int(op, "depth").getOrElse(4),
          Config.int(op, "width").getOrElse(8192),
          Config.str(op, "count_column").getOrElse("frequency"))
      // membership filtering against a seen-list frame via a broadcast
      // Bloom filter (mode: drop = blocklist semantics, never leaks a seen
      // row; mode: keep = sketch-guided superset pre-filter)
      case "bloom_filter" =>
        val seen = sourceFrames match {
          case Seq(one) => one
          case _ => throw new IllegalArgumentException(
            s"$ctx: bloom_filter needs exactly one `sources:` frame (the seen-list)")
        }
        val c = Config.reqStr(op, "column", ctx)
        graft.functions.Sketches.bloomFilterRows(df, c, seen,
          Config.str(op, "source_column").getOrElse(c),
          Config.int(op, "log_bits").getOrElse(20),
          Config.int(op, "k").getOrElse(5),
          keep = Config.str(op, "mode").getOrElse("drop") match {
            case "drop" => false
            case "keep" => true
            case other => throw new IllegalArgumentException(
              s"$ctx: bloom_filter `mode` must be keep or drop, not `$other`")
          })
      // one-row set-cardinality algebra between this frame's keys and a
      // sources frame's keys (KMV sketches — no join, constant state)
      case "sketch_overlap" =>
        val other = sourceFrames match {
          case Seq(one) => one
          case _ => throw new IllegalArgumentException(
            s"$ctx: sketch_overlap needs exactly one `sources:` frame")
        }
        val c = Config.reqStr(op, "column", ctx)
        graft.functions.Sketches.setOverlap(df, c, other,
          Config.str(op, "source_column").getOrElse(c),
          Config.int(op, "k").getOrElse(256))
      // deflate-compressibility quality signal (ppm of raw bytes) — the
      // Gopher-family filter for template/spam text
      case "compression_ratio" =>
        graft.expressions.GraftFunctions.register(df.sparkSession)
        val c = Config.reqStr(op, "column", ctx)
        df.withColumn(Config.str(op, "new_column").getOrElse("compression_ppm"),
          org.apache.spark.sql.functions.call_function("compression_ratio",
            org.apache.spark.sql.functions.col(c)))
      // JSONPath field extraction over a JSON-string column (the props/
      // payload shape event streams carry) — narrow, zero shuffles;
      // missing paths yield null. When EVERY path is a plain top-level
      // field ($.name), the whole set rides ONE json_tuple (a single
      // parse of the document); any nested/array path falls back to one
      // get_json_object per field (each reparses — the JSONPath cost, not
      // a shuffle cost). Identical null/string semantics either way.
      case "json_extract" =>
        import org.apache.spark.sql.functions.{col, get_json_object, json_tuple}
        val c = Config.reqStr(op, "column", ctx)
        if (!df.columns.contains(c))
          throw new IllegalArgumentException(s"`json_extract` operation: column `$c` not defined")
        val fields = pairs("fields")
        if (fields.isEmpty)
          throw new IllegalArgumentException("`json_extract` operation: `fields` must not be empty")
        fields.foreach { case (name, path) =>
          if (!path.startsWith("$"))
            throw new IllegalArgumentException(
              s"`json_extract` operation: path `$path` for `$name` must be a JSONPath starting with $$")
        }
        val TopLevel = "^\\$\\.([A-Za-z_][A-Za-z0-9_]*)$".r
        val tops = fields.map { case (n, p) => (n, p, TopLevel.findFirstMatchIn(p)) }
        if (tops.forall(_._3.isDefined)) {
          val keys = tops.map(_._3.get.group(1))
          df.select((df.columns.map(col).toSeq :+
            json_tuple(col(c), keys: _*)).toIndexedSeq: _*)
            .toDF((df.columns.toSeq ++ tops.map(_._1)): _*)
        } else fields.foldLeft(df) { case (d, (name, path)) =>
          d.withColumn(name, get_json_object(col(c), path))
        }
      // time-series tier (functions/TimeSeries.scala): every op requires
      // partition_by so work distributes per key — no global single-task
      // ordering ever exists
      case "resample" => graft.functions.TimeSeries.resample(df,
        Config.reqStr(op, "time_column", ctx), listOf(op, "partition_by"),
        graft.functions.TimeSeries.parseInterval("resample",
          Config.reqStr(op, "interval", ctx)),
        pairs("aggregations"),
        Config.str(op, "bucket_column").getOrElse("bucket"),
        fillGaps = Config.bool(op, "fill_gaps", default = true),
        maxBucketsPerKey = op.get("max_buckets_per_key")
          .map(_.toString.toLong).getOrElse(1000000L))
      case "fill_forward" => graft.functions.TimeSeries.fillForward(df,
        colsOf(op), listOf(op, "partition_by"), listOf(op, "order_by"),
        Config.str(op, "default"))
      case "time_window_agg" => graft.functions.TimeSeries.timeWindowAgg(df,
        listOf(op, "partition_by"), Config.reqStr(op, "time_column", ctx),
        Config.reqStr(op, "function", ctx),
        Config.str(op, "column").getOrElse(""),
        Config.str(op, "new_column").getOrElse("window_value"),
        graft.functions.TimeSeries.parseInterval("time_window_agg",
          Config.reqStr(op, "trailing", ctx)))
      case "interpolate" => graft.functions.TimeSeries.interpolate(df,
        Config.reqStr(op, "column", ctx), Config.reqStr(op, "time_column", ctx),
        listOf(op, "partition_by"), listOf(op, "tie_break"),
        Config.str(op, "new_column").getOrElse(""))
      // link-graph rank over an edge frame (fixed-point integer PageRank —
      // crawl-priority / quality weighting; Graph.scala has the contract)
      case "pagerank" =>
        graft.functions.Graph.pageRank(df,
          Config.reqStr(op, "src_column", ctx),
          Config.reqStr(op, "dst_column", ctx),
          Config.int(op, "iterations").getOrElse(3),
          Config.str(op, "damping_ppm").map(_.toLong).getOrElse(850000L),
          Config.str(op, "dangling").getOrElse("drop"))
      case "hits" =>
        graft.functions.Graph.hits(df,
          Config.reqStr(op, "src_column", ctx),
          Config.reqStr(op, "dst_column", ctx),
          Config.int(op, "iterations").getOrElse(2))
      case "quantile_filter" =>
        graft.functions.Sketches.quantileFilter(df,
          listOf(op, "group_by_columns"), Config.reqStr(op, "column", ctx),
          Config.reqStr(op, "fraction", ctx).toDouble,
          Config.str(op, "mode").getOrElse("keep_above"),
          op.get("scale").map(_.toString.toLong).getOrElse(1L),
          Config.int(op, "sub_bits").getOrElse(5))
      case "sketch_quantile" =>
        import org.apache.spark.sql.functions.{col => fcol, round => fround}
        val groupCols = listOf(op, "group_by_columns")
        val c = Config.reqStr(op, "column", ctx)
        val fracs = Config.asScalarList(op.getOrElse("fractions",
          throw new IllegalArgumentException(s"$ctx: sketch_quantile needs `fractions`")))
          .map(_.toString.toDouble)
        val skC = Config.str(op, "sketch_column")
        if (Config.bool(op, "merge_sketches"))
          graft.functions.Sketches.mergeQuantiles(df, groupCols, c, fracs, skC)
        else {
          // all-string pipelines (csv sources): coerce with the group_by
          // contract — cast-to-double raises on malformed values under
          // ANSI (pd.to_numeric(errors='raise')), then HALF_UP round to
          // the integer grid the log-histogram buckets (exact integers
          // pass through unchanged; qhist itself stays strict)
          val tmp = "__graft_qhist_v__"
          graft.functions.Sketches.quantileSketch(
            df.withColumn(tmp, fround(fcol(c).cast("double")).cast("long")),
            groupCols, tmp, fracs,
            Config.int(op, "sub_bits").getOrElse(5), skC)
        }
      // multimodal: header metadata / perceptual signature / near-dedup
      // over binary image payload columns
      case "image_meta" =>
        graft.functions.Images.withImageMeta(df, Config.reqStr(op, "column", ctx),
          Config.str(op, "prefix").getOrElse("image_"))
      case "image_hash" =>
        graft.functions.Images.perceptualHash(df, Config.reqStr(op, "column", ctx),
          Config.str(op, "kind").getOrElse("phash"),
          Config.str(op, "new_column").getOrElse("phash"))
      case "image_dedup" =>
        graft.functions.Images.phashDedupGroups(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "max_hamming").getOrElse(3))
      // audio/video payload metadata + PCM feature extraction (the WAV and
      // MP4 halves of the multimodal tier — same struct-append shape as
      // image_meta)
      case "audio_meta" =>
        appendStructFields(df, Config.reqStr(op, "column", ctx), "audio_meta",
          Config.str(op, "prefix").getOrElse("audio_"),
          Seq("format", "channels", "sample_rate", "bits", "n_samples",
            "duration_ms", "codec"))
      case "audio_features" =>
        appendStructFields(df, Config.reqStr(op, "column", ctx), "audio_features",
          Config.str(op, "prefix").getOrElse("audio_"),
          Seq("n_samples", "sq_sum", "zero_crossings", "peak"))
      case "video_meta" =>
        appendStructFields(df, Config.reqStr(op, "column", ctx), "video_meta",
          Config.str(op, "prefix").getOrElse("video_"),
          Seq("format", "width", "height", "duration_ms", "codec"))
      case "video_frames" =>
        // one row per sampled JPEG frame (narrow explode, no shuffle);
        // rows without extractable frames drop — the frames then feed the
        // image tier (image_phash / image_dedup / image_thumbnail) as-is
        graft.expressions.GraftFunctions.register(df.sparkSession)
        val c = Config.reqStr(op, "column", ctx)
        val maxF = Config.int(op, "max_frames").getOrElse(8)
        require(maxF > 0 && maxF <= 256, s"$ctx: max_frames must be 1..256")
        val frameCol = Config.str(op, "frame_column").getOrElse("frame")
        val idxCol = Config.str(op, "index_column").getOrElse("frame_index")
        import org.apache.spark.sql.functions.{call_function, col, lit, posexplode}
        df.select(df.columns.map(col).toIndexedSeq :+
          posexplode(call_function("video_frames", col(c), lit(maxF)))
            .as(Seq(idxCol, frameCol)): _*)
          .drop(c)
      case "audio_fingerprint" =>
        graft.expressions.GraftFunctions.register(df.sparkSession)
        df.withColumn(Config.str(op, "new_column").getOrElse("audio_fp"),
          org.apache.spark.sql.functions.call_function("audio_fingerprint",
            org.apache.spark.sql.functions.col(Config.reqStr(op, "column", ctx))))
      case "audio_dedup" =>
        graft.functions.Images.audioDedupGroups(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "max_hamming").getOrElse(2))
      case "audio_transcode" =>
        graft.expressions.GraftFunctions.register(df.sparkSession)
        df.withColumn(Config.str(op, "new_column").getOrElse("audio_ogg"),
          org.apache.spark.sql.functions.call_function("audio_transcode_vorbis",
            org.apache.spark.sql.functions.col(Config.reqStr(op, "column", ctx)),
            org.apache.spark.sql.functions.lit(
              Config.str(op, "quality").contains("transparent"))))
      case "audio_dedup_lossy" =>
        graft.functions.Images.audioDedupLossyGroups(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "max_hamming").getOrElse(7))
      case "video_dedup" =>
        graft.functions.Images.videoDedupGroups(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "max_hamming").getOrElse(3),
          Config.int(op, "max_frames").getOrElse(8),
          Config.int(op, "min_matches").getOrElse(2))
      case "image_thumbnail" =>
        graft.expressions.GraftFunctions.register(df.sparkSession)
        df.withColumn(Config.str(op, "new_column").getOrElse("thumbnail"),
          org.apache.spark.sql.functions.call_function("image_thumbnail",
            org.apache.spark.sql.functions.col(Config.reqStr(op, "column", ctx)),
            org.apache.spark.sql.functions.lit(Config.int(op, "width").getOrElse(64)),
            org.apache.spark.sql.functions.lit(Config.int(op, "height").getOrElse(64))))
      // document-text extraction over a BINARY column (the staged-crawl
      // shape: document bytes already in parquet) — fused expression, one
      // narrow pass; unparseable payloads yield NULL rows, not job death
      case "doc_text" =>
        graft.expressions.GraftFunctions.register(df.sparkSession)
        df.withColumn(Config.str(op, "new_column").getOrElse("text"),
          org.apache.spark.sql.functions.call_function("doc_text",
            org.apache.spark.sql.functions.col(Config.reqStr(op, "column", ctx)),
            org.apache.spark.sql.functions.lit(
              Config.str(op, "format").getOrElse("auto"))))
      // charset detection + decode over raw crawl bytes: the step between
      // a binary payload column and the text tier (labels deterministic,
      // binary payloads decode to NULL rows)
      case "decode_text" =>
        graft.expressions.GraftFunctions.register(df.sparkSession)
        val bin = org.apache.spark.sql.functions.col(Config.reqStr(op, "column", ctx))
        df.withColumn(Config.str(op, "charset_column").getOrElse("charset"),
          org.apache.spark.sql.functions.call_function("detect_charset", bin))
          .withColumn(Config.str(op, "new_column").getOrElse("text"),
            org.apache.spark.sql.functions.call_function("decode_text", bin,
              org.apache.spark.sql.functions.lit(
                Config.str(op, "charset").getOrElse("auto"))))
      // Unicode normalization + sentence splitting (corpus-cleaning passes)
      case "text_normalize" =>
        graft.functions.Corpus.withNormalizedText(df,
          Config.reqStr(op, "column", ctx),
          Config.str(op, "form").getOrElse("NFC"),
          Config.bool(op, "strip_controls", default = true),
          Config.bool(op, "collapse_whitespace", default = true),
          Config.str(op, "new_column").getOrElse(""))
      case "sentence_split" =>
        graft.functions.Corpus.splitSentences(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx))
      // corpus-trained language ID: rank-profile classifier trained on the
      // frame's labeled rows, prediction appended for every row
      case "lang_id_trained" =>
        graft.functions.LangId.trainAndPredict(df,
          Config.reqStr(op, "label_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "top_k").getOrElse(300),
          Config.str(op, "new_column").getOrElse("lang_pred"))
      case "nb_train" =>
        // train on the frame's labeled rows and persist the model as a
        // side effect; the frame passes through unchanged (the YAML face
        // of NaiveBayes.saveModel — later pipelines score deltas with
        // nb_classify + model_file)
        val model = graft.functions.NaiveBayes.train(df,
          Config.reqStr(op, "label_column", ctx), Config.reqStr(op, "column", ctx))
        graft.functions.NaiveBayes.saveModel(df.sparkSession, model,
          configDir.resolve(Config.reqStr(op, "model_file", ctx)).toString)
        df
      case "nb_classify" =>
        // model_file = the production train-once/score-deltas shape (the
        // bpe merges_file pattern); without it, train inline on the
        // frame's non-null labels
        val outCol = Config.str(op, "new_column").getOrElse("label_pred")
        Config.str(op, "model_file") match {
          case Some(path) =>
            graft.functions.NaiveBayes.withPrediction(df,
              Config.reqStr(op, "column", ctx),
              graft.functions.NaiveBayes.loadModel(df.sparkSession,
                configDir.resolve(path).toString), outCol)
          case None =>
            graft.functions.NaiveBayes.trainAndPredict(df,
              Config.reqStr(op, "label_column", ctx),
              Config.reqStr(op, "column", ctx), outCol)
        }
      // per-label confusion counts + ppm precision/recall of a predicted
      // column vs a held-out truth column (router quality before a cut)
      case "model_eval" =>
        graft.functions.ModelEval.evalPredictions(df,
          Config.reqStr(op, "label_column", ctx),
          Config.reqStr(op, "predicted_column", ctx))
      // exact BPE token counts: merges from a persisted table
      // (`merges_file`, the production shape — train once, score deltas)
      // or induced inline from the input frame (the trigram_rarity shape)
      case "bpe_token_count" =>
        val c = Config.reqStr(op, "column", ctx)
        val merges = Config.str(op, "merges_file") match {
          case Some(f) => graft.functions.Bpe.loadMerges(configDir.resolve(f))
          case None => graft.functions.Bpe.train(df, c,
            Config.int(op, "num_merges").getOrElse(200),
            Config.int(op, "max_word_types").getOrElse(100000))
        }
        graft.functions.Bpe.withTokenCount(df, c, merges,
          Config.str(op, "new_column").getOrElse("bpe_tokens"),
          byteLevel = Config.bool(op, "byte_level"))
      // allowlist/blocklist by registrable domain (UT1-style curation):
      // domains inline (`domains:`) or one-per-line file (`domains_file`,
      // read driver-side and broadcast as a literal set — blocklists are
      // a bounded human-curated artifact, not data-scale)
      case "domain_filter" =>
        import org.apache.spark.sql.functions.{col => fcol, lower, trim => ftrim}
        val c = Config.reqStr(op, "column", ctx)
        val inline = op.get("domains").map {
          case l: List[_] => l.map(_.toString)
          case other => throw new IllegalArgumentException(
            s"$ctx: domain_filter `domains` must be a list, got $other")
        }.getOrElse(Nil)
        val fromFile = Config.str(op, "domains_file").map { f =>
          val p = configDir.resolve(f)
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(p)).asScala.toList
        }.getOrElse(Nil)
        val domains = (inline ++ fromFile).map(_.trim.toLowerCase).filter(_.nonEmpty)
        if (domains.isEmpty) throw new IllegalArgumentException(
          s"$ctx: domain_filter needs `domains` or `domains_file`")
        val mode = Config.str(op, "mode").getOrElse("drop")
        val dom = graft.functions.Corpus.urlDomain(fcol(c))
        // member iff the registrable domain OR any parent domain is listed
        // (blocking example.com blocks www2.example.com). Small lists stay
        // a chained codegen OR; past 16 entries the predicate switches to
        // set membership over the domain's dot-suffix array (a host has a
        // handful of labels, a UT1-class blocklist has up to millions of
        // entries — the list must be the lookup side, never an OR chain)
        val member =
          if (domains.size <= 16)
            domains.map(d => dom === d || dom.endsWith("." + d)).reduce(_ || _)
          else {
            // past the OR-chain threshold: one native codegen expression —
            // binary search over the sorted list per dot-suffix of the
            // host, no per-row array materialization, no interpreted HOFs
            val sorted = domains.distinct.sorted.toArray
            val fname = "graft_domain_match_" + java.lang.Long.toHexString(
              sorted.foldLeft(7L)((h, k) => h * 1000003L + k.hashCode))
            graft.expressions.GraftFunctions.registerIfAbsent(df.sparkSession, fname, {
              case Seq(h) => graft.expressions.DomainMatch(h, sorted)
              case other => throw new IllegalArgumentException(
                s"$fname takes 1 argument, got ${other.size}")
            })
            org.apache.spark.sql.functions.call_function(fname, dom)
          }
        mode match {
          case "drop" => df.filter(!member)
          case "keep" => df.filter(member)
          case other => throw new IllegalArgumentException(
            s"$ctx: domain_filter `mode` must be keep or drop, got `$other`")
        }
      // corpus-induced trigram-LM rarity (CCNet-perplexity stand-in),
      // integer-exact; adds rarity_sum / n_trigrams / rarity
      case "trigram_rarity" =>
        graft.functions.Corpus.withTrigramRarity(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "vocab_size").getOrElse(4096),
          Config.str(op, "scale").map(_.toLong).getOrElse(1000L))
      case "lang_id" =>
        graft.functions.TextFunctions.withLangId(df, Config.reqStr(op, "column", ctx),
          Config.str(op, "new_column").getOrElse("lang_pred"))
      case "text_stats" =>
        graft.functions.TextFunctions.withWordStats(df, Config.reqStr(op, "column", ctx),
          listOf(op, "stopwords"))
      case "repetition_stats" =>
        graft.functions.Corpus.withRepetitionStats(df, Config.reqStr(op, "column", ctx),
          Config.str(op, "line_delimiter").getOrElse("\n"),
          Config.int(op, "ngram").getOrElse(2))
      case "quality_score" =>
        df.withColumn(Config.str(op, "new_column").getOrElse("quality"),
          graft.functions.TextFunctions.qualityScore(
            org.apache.spark.sql.functions.col(Config.reqStr(op, "column", ctx)),
            listOf(op, "stopwords")))
      // Gopher-rule composite filter (Rae et al. 2021): keeps rows passing
      // all heuristic quality gates; the per-rule stats are dropped
      case "quality_filter" =>
        val qf = graft.functions.TextFunctions.withGopherQuality(df,
          Config.reqStr(op, "column", ctx),
          Config.int(op, "min_words").map(_.toLong).getOrElse(50L),
          Config.int(op, "max_words").map(_.toLong).getOrElse(100000L))
        qf.filter(org.apache.spark.sql.functions.col("gopher_keep"))
          .drop("n_words", "total_word_len", "n_alpha_words", "n_symbols",
            "n_lines", "n_bullet_lines", "n_ellipsis_lines", "stop_hits",
            "gopher_keep")
      // crawl-pipeline HTML -> text extraction (tag strip + entity
      // unescape + whitespace collapse), in place on `column`
      case "html_to_text" =>
        val colName = Config.reqStr(op, "column", ctx)
        df.withColumn(colName, graft.functions.TextFunctions.htmlToText(
          org.apache.spark.sql.functions.col(colName)))
      // C4-rule line cleaning (Raffel et al. 2020): keeps passing docs with
      // their text REPLACED by the surviving lines; stats dropped
      case "c4_clean" =>
        val colName = Config.reqStr(op, "column", ctx)
        val cc = graft.functions.TextFunctions.withC4Clean(df, colName,
          Config.int(op, "min_line_words").getOrElse(5),
          Config.int(op, "min_lines").getOrElse(3))
        cc.filter(org.apache.spark.sql.functions.col("c4_keep"))
          .withColumn(colName, org.apache.spark.sql.functions.col("clean_text"))
          .drop("clean_text", "n_kept_lines", "c4_keep")
      case "fingerprint" =>
        df.withColumn(Config.str(op, "new_column").getOrElse("fingerprint"),
          graft.functions.TextFunctions.fingerprint(
            org.apache.spark.sql.functions.col(Config.reqStr(op, "column", ctx))))
      // reshapes the frame to (id_column, chunk_id, column, n_words)
      case "chunk" =>
        graft.functions.Corpus.chunk(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "chunk_words").getOrElse(
            throw new IllegalArgumentException(s"$ctx: chunk needs `chunk_words`")),
          Config.int(op, "overlap_words").getOrElse(0))
      // keeps one representative row (minimum id) per distinct content value
      case "dedup_exact" =>
        val idC = Config.reqStr(op, "id_column", ctx)
        val keep = graft.functions.Dedup
          .exactGroups(df, idC, Config.reqStr(op, "column", ctx))
          .select(org.apache.spark.sql.functions.col("keep_id").as(idC))
        df.join(keep, Seq(idC), "left_semi")
      // exact substring dedup: delete every repeated k-token span except
      // its first corpus occurrence (text column rewritten in place)
      case "dedup_substring" =>
        graft.functions.Dedup.stripDuplicateSpans(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "window").getOrElse(50))
      // exact paragraph dedup: delete every repeated paragraph except its
      // first corpus occurrence (text column rewritten in place)
      case "dedup_paragraphs" =>
        graft.functions.Dedup.stripDuplicateParagraphs(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.str(op, "delimiter").getOrElse("\n"))
      case "hash_sample" =>
        val keyC = Config.reqStr(op, "column", ctx)
        Config.str(op, "strata_column") match {
          case Some(sc) =>
            val rates = Config.asMap(op.getOrElse("rates", Map.empty[String, Any]))
              .map { case (k, v) => k -> v.toString.toDouble }
            graft.functions.Sampling.stratifiedHashSample(df, keyC, sc, rates,
              Config.str(op, "default_rate").map(_.toDouble).getOrElse(0.0))
          case None =>
            graft.functions.Sampling.hashSample(df, keyC,
              Config.reqStr(op, "rate", ctx).toDouble)
        }
      // exact-size deterministic uniform sample (the "give me exactly N
      // documents" eval-set cut; the md5 draw composes with hash_sample)
      case "sample_rows" =>
        graft.functions.Sampling.sampleExact(df,
          Config.reqStr(op, "column", ctx),
          Config.int(op, "count").getOrElse(
            throw new IllegalArgumentException("`sample_rows` operation: `count` is required")))
      // fuzzy record linkage: match df's rows to `sources` rows by text
      // Jaccard — the dedup machinery's join face
      case "similarity_join" =>
        val rightFrame = sourceFrames match {
          case Seq(rf) => rf
          case other => throw new IllegalArgumentException(
            s"$ctx: similarity_join needs exactly one entry in `sources`, got ${other.size}")
        }
        val lid = Config.reqStr(op, "id_column", ctx)
        val ltext = Config.reqStr(op, "text_column", ctx)
        graft.functions.Dedup.similarityJoin(df, rightFrame,
          lid, ltext,
          Config.str(op, "right_id_column").getOrElse(lid),
          Config.str(op, "right_text_column").getOrElse(ltext),
          Config.reqStr(op, "threshold", ctx).toDouble,
          Config.int(op, "shingle_size").getOrElse(3),
          Config.str(op, "max_doc_freq").map(_.toLong))
      // per-row Bernoulli keep probability from a ppm weight column
      case "weighted_sample" =>
        graft.functions.Sampling.weightedHashSample(df,
          Config.reqStr(op, "key_column", ctx),
          Config.reqStr(op, "weight_column", ctx))
      // per-domain cap: ≤k rows per group in deterministic md5(id) order —
      // exact two-stage salted top-k, skew-proof at any group size
      case "domain_cap" =>
        graft.functions.Sampling.capPerGroup(df,
          Config.reqStr(op, "group_column", ctx),
          Config.reqStr(op, "id_column", ctx),
          Config.int(op, "k").getOrElse(
            throw new IllegalArgumentException(s"$ctx: domain_cap needs `k`")),
          Config.int(op, "salts").getOrElse(32))
      // rebalance to target mixture weights over a stratum column without
      // upsampling (binding stratum kept whole, others hash-downsampled)
      case "rebalance_mixture" =>
        val weights = Config.asMap(op.getOrElse("weights", Map.empty[String, Any]))
          .map { case (k, v) => k -> v.toString.toDouble }
        if (weights.isEmpty)
          throw new IllegalArgumentException(s"$ctx: rebalance_mixture needs non-empty `weights`")
        graft.functions.Sampling.rebalanceToMixture(df,
          Config.reqStr(op, "stratum_column", ctx),
          Config.reqStr(op, "key_column", ctx), weights)
      // admit rows in deterministic md5(id) order until the cumulative token
      // count reaches `budget`; tokens from `tokens_column` (numeric) or
      // counted from `column` (text) with the engine's BPE-ish counter
      case "token_budget" =>
        import org.apache.spark.sql.functions.col
        val idC = Config.reqStr(op, "id_column", ctx)
        val budget = Config.reqStr(op, "budget", ctx).toLong
        Config.str(op, "tokens_column") match {
          case Some(tc) => graft.functions.Sampling.tokenBudgetSample(df, idC, tc, budget)
          case None =>
            val textC = Config.reqStr(op, "column", ctx)
            val tmp = "__graft_tokens__"
            graft.functions.Sampling.tokenBudgetSample(
              df.withColumn(tmp, graft.functions.TextFunctions.tokenCount(col(textC))),
              idC, tmp, budget).drop(tmp)
        }
      // pack documents into ≈context_tokens-sized training contexts in
      // deterministic md5(id) stream order (split-free greedy); adds
      // `context_id`; tokens from `tokens_column` or counted from `column`
      // point-in-time enrichment: latest at-or-before row from the `sources`
      // frame per key; matched columns arrive `<name><suffix>`
      case "asof_join" =>
        val rightFrame = sourceFrames match {
          case Seq(r) => r
          case other => throw new IllegalArgumentException(
            s"$ctx: asof_join needs exactly one entry in `sources`, got ${other.size}")
        }
        graft.functions.Joins.asofJoin(df, rightFrame,
          Config.reqStr(op, "key_column", ctx),
          Config.reqStr(op, "time_column", ctx),
          Config.asScalarList(op.getOrElse("value_columns", Nil)).map(_.toString) match {
            case Nil => throw new IllegalArgumentException(s"$ctx: asof_join needs `value_columns`")
            case vs => vs
          },
          Config.str(op, "suffix").getOrElse("_asof"),
          Config.str(op, "tolerance_seconds").map(_.toDouble),
          // hot-key escape hatch: per-(key, time-bucket) two-phase carry
          Config.str(op, "bucket_seconds").map(_.toDouble))
      // CDC merge: `sources` holds the changeset; df is the snapshot
      case "apply_changes" =>
        val changesFrame = sourceFrames match {
          case Seq(c) => c
          case other => throw new IllegalArgumentException(
            s"$ctx: apply_changes needs exactly one entry in `sources` (the changeset), got ${other.size}")
        }
        graft.functions.Cdc.applyChanges(df, changesFrame,
          Config.asScalarList(op.getOrElse("key_columns", Nil)).map(_.toString),
          Config.reqStr(op, "seq_column", ctx),
          Config.reqStr(op, "op_column", ctx),
          Config.asScalarList(op.getOrElse("delete_values", Nil)).map(_.toString) match {
            case Nil => Seq("d", "delete")
            case vs => vs
          })
      case "scd2" =>
        graft.functions.Cdc.scd2(df,
          Config.asScalarList(op.getOrElse("key_columns", Nil)).map(_.toString),
          Config.reqStr(op, "seq_column", ctx),
          Config.bool(op, "change_only"))
      // seeded JL projection: shrink embeddings before the ANN tier
      case "dim_reduce" =>
        graft.functions.DimReduce.withProjection(df,
          Config.reqStr(op, "column", ctx),
          Config.str(op, "new_column").getOrElse("reduced"),
          Config.int(op, "k").getOrElse(16),
          Config.int(op, "seed").getOrElse(42),
          Config.int(op, "s_bits").getOrElse(10),
          Config.str(op, "output").forall(_ != "int"))
      // write-side multi-dimension clustering (Morton key + range layout)
      case "zorder_by" =>
        graft.functions.Zorder.zorderBy(df,
          Config.asScalarList(op.getOrElse("columns", Nil)).map(_.toString),
          Config.int(op, "bits").getOrElse(8),
          Config.int(op, "partitions"),
          Config.bool(op, "keep_key"))
      // interval join via the binned equi-join rewrite; `sources` holds the
      // intervals frame
      case "range_join" =>
        val ivFrame = sourceFrames match {
          case Seq(r) => r
          case other => throw new IllegalArgumentException(
            s"$ctx: range_join needs exactly one entry in `sources`, got ${other.size}")
        }
        graft.functions.Joins.rangeJoin(df, ivFrame,
          Config.asScalarList(op.getOrElse("key_columns", Nil)).map(_.toString),
          Config.reqStr(op, "point_column", ctx),
          Config.reqStr(op, "start_column", ctx),
          Config.reqStr(op, "end_column", ctx),
          Config.reqStr(op, "bin_width", ctx).toLong)
      // leakage-safe train/val/test labeling by hash bands of a key column
      case "assign_split" =>
        val weights = Config.asMap(op.getOrElse("weights",
          throw new IllegalArgumentException(s"$ctx: assign_split needs `weights`")))
          .toSeq.map { case (k, v) => k -> v.toString.toDouble }
          .sortBy(_._1) // YAML maps are unordered: fix band order by name
        graft.functions.Sampling.assignSplit(df,
          Config.reqStr(op, "key_column", ctx), weights,
          Config.str(op, "split_column").getOrElse("split"))
      case "pack_contexts" =>
        import org.apache.spark.sql.functions.col
        val idC = Config.reqStr(op, "id_column", ctx)
        val ctxTokens = Config.reqStr(op, "context_tokens", ctx).toLong
        val grp = Config.str(op, "group_column")
        def pack(d: DataFrame, tc: String) = grp match {
          case Some(g) => graft.functions.Sampling.packContextsBy(d, g, idC, tc, ctxTokens)
          case None => graft.functions.Sampling.packContexts(d, idC, tc, ctxTokens)
        }
        Config.str(op, "tokens_column") match {
          case Some(tc) => pack(df, tc)
          case None =>
            val textC = Config.reqStr(op, "column", ctx)
            val tmp = "__graft_tokens__"
            pack(df.withColumn(tmp,
              graft.functions.TextFunctions.tokenCount(col(textC))), tmp).drop(tmp)
        }
      // stable global permutation ordinal (md5 order) — the reproducible
      // ORDER BY rand() replacement for training-data mixing
      case "shuffle_rows" =>
        graft.functions.Sampling.hashShuffle(df,
          Config.reqStr(op, "id_column", ctx),
          Config.str(op, "position_column").getOrElse("shuffle_pos"))
      case "boilerplate_removal" =>
        graft.functions.Corpus.removeBoilerplate(df,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "min_docs").getOrElse(
            throw new IllegalArgumentException(s"$ctx: boilerplate_removal needs `min_docs`")).toLong,
          Config.str(op, "line_delimiter").getOrElse("\n"))
      // near-duplicate removal end-to-end: similarity pairs (chosen by
      // `method`) → connected components → keep only each group's
      // representative (minimum id) row. The declared-pipeline face of the
      // Dedup tier: minhash is the 100TB default (O(n·sig + candidates)),
      // jaccard the exact-threshold variant, simhash the hamming variant.
      case "dedup_near" =>
        import org.apache.spark.sql.functions.{col, count, lit, when, xxhash64}
        val idC = Config.reqStr(op, "id_column", ctx)
        val textC = Config.reqStr(op, "column", ctx)
        val threshold = Config.str(op, "threshold").map(_.toDouble).getOrElse(0.8)
        val shingle = Config.int(op, "shingle_size").getOrElse(3)
        // The pair generators and connectedComponents key on LongType. In the
        // engine's all-string model a non-numeric id (UUIDs, natural keys)
        // would fail or null out under the long cast and drop EVERY row
        // through the final semi join — so probe the column once (try_cast:
        // ANSI mode makes a plain cast throw on the first malformed value)
        // and, when any value doesn't cast cleanly (or is null), dedup on a
        // 64-bit surrogate hash of the id instead and semi-join back on it.
        // (Surrogate collisions between distinct ids are ~n²/2⁶⁴ — the same
        // odds the shingle-hash kernels already accept; the group
        // representative then becomes min-by-hash rather than min-by-id,
        // which is still deterministic.)
        val probe = df.select(count(lit(1)).as("total"),
            count(when(col(idC).try_cast("long").isNull, 1)).as("bad"))
          .head()
        // surrogate also on an EMPTY frame: the kernels' plain (ANSI) long
        // cast must never see this column, because Catalyst may evaluate a
        // pushed cast-bearing predicate on rows an upstream filter would
        // have dropped — only an all-castable non-empty column is safe
        val sid = "__graft_dedup_sid__"
        val (base, keyC) =
          if (probe.getLong(0) > 0L && probe.getLong(1) == 0L) (df, idC)
          else (df.withColumn(sid, xxhash64(col(idC))), sid)
        val pairs = Config.str(op, "method").getOrElse("minhash") match {
          case "minhash" => graft.functions.Dedup.minhashLshPairs(base, keyC, textC,
            threshold, shingleSize = shingle)
          case "jaccard" => graft.functions.Dedup.jaccardPairs(base, keyC, textC,
            threshold, shingleSize = shingle,
            maxDocFreq = Config.str(op, "max_doc_freq").map(_.toLong))
          case "simhash" => graft.functions.Dedup.simhashPairs(base, keyC, textC,
            maxHamming = Config.int(op, "max_hamming").getOrElse(3), shingleSize = shingle)
          // `column` is an array<float> embedding here (typed sources such
          // as parquet); pairs = exact cosine ≥ threshold via the tiled
          // broadcast-block kernel
          case "embedding" => graft.functions.Similarity.cosinePairsBlocked(base, keyC, textC,
            threshold)
          case other => throw new IllegalArgumentException(
            s"$ctx: dedup_near `method` must be one of [minhash, jaccard, simhash, embedding], not `$other`")
        }
        // driver/distributed CC crossover, tunable per-run: a 100 TB job can
        // raise (bigger driver) or lower (thin driver) the broadcast
        // union-find cap without a rebuild
        val edgeCap = Config.str(op, "broadcast_edge_threshold").map(_.toLong)
          .getOrElse(1L << 20)
        val groups = graft.functions.Dedup.connectedComponents(
          base.select(col(keyC)), keyC, pairs, broadcastEdgeThreshold = edgeCap)
        val keep = groups
          .filter(col("id") === col("group_rep"))
          .select(col("id").as(keyC))
        if (keyC == idC) df.join(keep, Seq(idC), "left_semi")
        else base.join(keep, Seq(sid), "left_semi").drop(sid)
      // Incremental (delta-vs-corpus) near-dedup: the node's own frame is
      // the NEW batch, `sources: [$...]` names the already-canonical corpus.
      // A batch row is dropped when it near-matches any corpus row or an
      // earlier batch row — one delta pass; the corpus is never paired
      // against itself. Same surrogate-id probe as dedup_near, applied
      // consistently across BOTH frames (the first-writer rule orders ids).
      case "dedup_near_incremental" =>
        import org.apache.spark.sql.functions.{col, count, lit, when, xxhash64}
        val idC = Config.reqStr(op, "id_column", ctx)
        val textC = Config.reqStr(op, "column", ctx)
        val threshold = Config.str(op, "threshold").map(_.toDouble).getOrElse(0.8)
        val shingle = Config.int(op, "shingle_size").getOrElse(3)
        val corpus = sourceFrames match {
          case Seq(one) => one
          case other => throw new IllegalArgumentException(
            s"$ctx: dedup_near_incremental needs exactly one `sources` entry (the corpus), got ${other.size}")
        }
        def castProbe(f: DataFrame): Boolean = {
          val p = f.select(count(lit(1)).as("total"),
              count(when(col(idC).try_cast("long").isNull, 1)).as("bad"))
            .head()
          p.getLong(0) > 0L && p.getLong(1) == 0L
        }
        val sid = "__graft_dedup_sid__"
        if (Config.bool(op, "corpus_is_index")) {
          // `sources` names a persisted shingleIndex frame (id, toks) — the
          // production daily-ingest shape: corpus shingled once, deltas
          // only. Index ids are already longs, so the batch's ids must cast
          // cleanly (a surrogate would not correspond to the index's ids).
          if (!castProbe(df)) throw new IllegalArgumentException(
            s"$ctx: dedup_near_incremental with corpus_is_index needs numeric batch ids " +
              "(the index was keyed on long ids); hash your ids before building the index")
          graft.functions.Dedup.dedupNearIncrementalIndexed(
            df, corpus, idC, textC, threshold, shingle,
            Config.str(op, "max_doc_freq").map(_.toLong))
        } else {
          val clean = castProbe(df) && castProbe(corpus)
          val (batchBase, corpusBase, keyC) =
            if (clean) (df, corpus, idC)
            else (df.withColumn(sid, xxhash64(col(idC))),
              corpus.withColumn(sid, xxhash64(col(idC))), sid)
          val kept = graft.functions.Dedup.dedupNearIncremental(
            batchBase, corpusBase, keyC, textC, threshold, shingle,
            Config.str(op, "max_doc_freq").map(_.toLong))
          if (keyC == idC) kept else kept.drop(sid)
        }

      // SemDeDup from a declared pipeline: k-means cells over the embedding
      // column, within-cell cosine prune, keep the surviving rows. Same
      // surrogate-id probe as dedup_near (the cluster kernels key on
      // LongType; a UUID id must not silently null out).
      // first-class k-means cell assignment (the build side of IVF /
      // SemDeDup, exposed on its own): deterministic smallest-id seeds,
      // `iters` distributed Lloyd refinements (broadcast-centroid narrow
      // assign + one nlist-row shuffle per iteration), output is
      // (id, vector, cell) — write it partitionBy(cell) and every later
      // probe is partition pruning
      case "cluster_assign" =>
        import org.apache.spark.sql.functions.col
        val idC = Config.reqStr(op, "id_column", ctx)
        val vecC = Config.reqStr(op, "column", ctx)
        val nlist = Config.int(op, "nlist").getOrElse(16)
        val iters = Config.int(op, "iters").getOrElse(0)
        val outC = Config.str(op, "new_column").getOrElse("cell")
        val cents = graft.functions.Similarity.ivfCentroids(df, idC, vecC, nlist, iters)
        graft.functions.Similarity.ivfAssign(df, idC, vecC, cents)
          .select(col("id").as(idC), col("vec").as(vecC),
            col("cell").cast("long").as(outC))
      case "semantic_dedup" =>
        import org.apache.spark.sql.functions.{col, count, lit, when, xxhash64}
        val idC = Config.reqStr(op, "id_column", ctx)
        val vecC = Config.reqStr(op, "column", ctx)
        val threshold = Config.str(op, "threshold").map(_.toDouble).getOrElse(0.9)
        val nlist = Config.int(op, "nlist").getOrElse(16)
        val iters = Config.int(op, "iters").getOrElse(2)
        val probe = df.select(count(lit(1)).as("total"),
            count(when(col(idC).try_cast("long").isNull, 1)).as("bad"))
          .head()
        val sid = "__graft_dedup_sid__"
        val (base, keyC) =
          if (probe.getLong(0) > 0L && probe.getLong(1) == 0L) (df, idC)
          else (df.withColumn(sid, xxhash64(col(idC))), sid)
        val keep = graft.functions.Similarity
          .semanticDedup(base, keyC, vecC, threshold, nlist, iters)
          .select(col("id").as(keyC))
        if (keyC == idC) df.join(keep, Seq(idC), "left_semi")
        else base.join(keep, Seq(sid), "left_semi").drop(sid)
      // similarity search from a declared pipeline: top-k rows of a typed
      // vector column (array<float> — parquet/orc sources keep it) by
      // cosine against a query vector given inline in the YAML. Reshapes
      // the frame to (id, cos_sim).
      case "ann_topk" =>
        val idC = Config.reqStr(op, "id_column", ctx)
        val vecC = Config.reqStr(op, "column", ctx)
        val k = Config.int(op, "k").getOrElse(10)
        val q = Config.asList(op.getOrElse("query", null)).map(_.toString.toFloat)
        if (q.isEmpty) throw new IllegalArgumentException(
          s"$ctx: ann_topk needs `query` (a list of floats)")
        Config.str(op, "method").getOrElse("brute") match {
          case "brute" => graft.functions.Similarity.bruteForceTopK(df, idC, vecC, q, k)
          case "multitable" => graft.functions.Similarity.lshTopKMultiTable(df, idC, vecC, q, k,
            numPlanes = Config.int(op, "num_planes").getOrElse(12),
            numTables = Config.int(op, "num_tables").getOrElse(8))
          case "lsh" => graft.functions.Similarity.lshTopK(df, idC, vecC, q, k,
            numPlanes = Config.int(op, "num_planes").getOrElse(8))
          case "quantized" => graft.functions.Similarity.quantizedTopK(df, idC, vecC, q, k,
            rerank = Config.int(op, "rerank").getOrElse(math.max(50, 5 * k)))
          case "pq" => graft.functions.Pq.pqTopK(df, idC, vecC, q, k,
            m = Config.int(op, "subspaces").getOrElse(8),
            ksub = Config.int(op, "centroids").getOrElse(16),
            rerank = Config.int(op, "rerank").getOrElse(math.max(100, 10 * k)),
            iters = Config.int(op, "iters").getOrElse(0))
          case "ivf" => graft.functions.Similarity.ivfTopK(df, idC, vecC, q, k,
            nlist = Config.int(op, "nlist").getOrElse(16),
            nprobe = Config.int(op, "nprobe").getOrElse(4),
            iters = Config.int(op, "iters").getOrElse(0))
          case "ivf_pq" => graft.functions.Pq.ivfPqTopK(df, idC, vecC, q, k,
            nlist = Config.int(op, "nlist").getOrElse(16),
            nprobe = Config.int(op, "nprobe").getOrElse(4),
            m = Config.int(op, "subspaces").getOrElse(8),
            ksub = Config.int(op, "centroids").getOrElse(16),
            rerank = Config.int(op, "rerank").getOrElse(math.max(100, 10 * k)),
            iters = Config.int(op, "iters").getOrElse(0))
          case other => throw new IllegalArgumentException(
            s"$ctx: ann_topk `method` must be one of [brute, lsh, multitable, quantized, pq, ivf, ivf_pq], not `$other`")
        }
      // batch ANN retrieval join: the node's frame is the QUERY side, the
      // single `sources:` frame is the corpus; reshapes to
      // (q_id, c_id, cos_sim, rk)
      case "ann_join" =>
        val corpus = sourceFrames match {
          case Seq(one) => one
          case _ => throw new IllegalArgumentException(
            s"$ctx: ann_join needs exactly one `sources:` frame (the corpus)")
        }
        graft.functions.Similarity.annJoin(df, corpus,
          Config.reqStr(op, "id_column", ctx), Config.reqStr(op, "column", ctx),
          Config.int(op, "k").getOrElse(10),
          numPlanes = Config.int(op, "num_planes").getOrElse(8),
          numTables = Config.int(op, "num_tables").getOrElse(8))
      // skew-safe equi-join against one `sources:` frame: the node's frame
      // is the (large, possibly hot-keyed) side, salted across
      // `salt_buckets` shuffle partitions per key
      case "salted_join" =>
        val small = sourceFrames match {
          case Seq(one) => one
          case _ => throw new IllegalArgumentException(
            s"$ctx: salted_join needs exactly one `sources:` frame (the small side)")
        }
        val keys = Config.asScalarList(op.getOrElse("keys", Nil)).map(_.toString)
        if (keys.isEmpty) throw new IllegalArgumentException(
          s"$ctx: salted_join needs `keys`")
        graft.functions.Joins.saltedJoin(df, small, keys,
          Config.int(op, "salt_buckets").getOrElse(16),
          Config.str(op, "join_type").getOrElse("inner"))
      // drops rows sharing any word n-gram with the benchmark frame(s)
      case "decontaminate" =>
        val idC = Config.reqStr(op, "id_column", ctx)
        val bench = sourceFrames match {
          case Seq(one) => one
          case many if many.nonEmpty => many.reduce(_.unionByName(_, allowMissingColumns = true))
          case _ => throw new IllegalArgumentException(s"$ctx: decontaminate needs `sources`")
        }
        val contaminated = graft.functions.Corpus.contamination(df, bench,
          idC, Config.reqStr(op, "column", ctx),
          Config.int(op, "shingle_size").getOrElse(5))
        df.join(contaminated.select(idC), Seq(idC), "left_anti")
    }
    Config.int(op, "repartition") match {
      case Some(n) => result.repartition(n)
      case None => result
    }
  }

  private def keysOf(op: Map[String, Any], side: String): Seq[String] =
    op.get(s"${side}_keys").map(Config.asList(_).map(_.toString))
      .orElse(op.get(s"${side}_key").map(k => Seq(k.toString)))
      .getOrElse(throw new IllegalArgumentException(s"join: must define `${side}_key` or `${side}_keys`"))

  private def listOf(op: Map[String, Any], key: String): Seq[String] =
    Config.asScalarList(op.getOrElse(key, Nil)).map(_.toString)

  /** Two-column CSV/TSV map_file → mapping (column.py:349-368). Resolved
    * against the project's configDir — the same path RunsFile.computeHash
    * hashes — so editing the real map_file invalidates the skip state. */
  private def readMapFile(file: String, configDir: Path): Map[String, String] = {
    val sep = if (file.endsWith(".tsv")) "\t" else ","
    val p0 = Paths.get(file)
    val path = if (p0.isAbsolute) p0 else configDir.resolve(file)
    val lines = java.nio.file.Files.readAllLines(path).toArray(Array.empty[String])
    lines.drop(1).filter(_.nonEmpty).map { l =>
      val p = l.split(java.util.regex.Pattern.quote(sep), 2)
      p(0) -> (if (p.length > 1) p(1) else "")
    }.toMap
  }

  // ------------------------------------------------------------ frontdoor
  /** Compile + execute a project file (the `run` command). */
  def run(configFile: String, selector: String = "*",
          params: Map[String, String] = Map.empty,
          outputDir: Option[Path] = None): RunResult = {
    val project = Config.load(configFile, params)
    execute(compile(project, selector), outputDir)
  }
}
