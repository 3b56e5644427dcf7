package org.apache.spark.sql.graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.engine.{Config, Destinations, Engine, RunsFile, Sources}

/**
 * Traced run of one graft project, for the per-layer split of `graft run`.
 *
 * It does what `graft run` does, from outside the program: it builds the
 * CLI's own session, then times its calls into `Config.load`,
 * `RunsFile.computeHash`, `Engine.compile` and `Engine.execute` (pass B,
 * the product path). Pass A then walks the same DAG node by node, as
 * `Engine.execute` does, and times `Sources.read`,
 * `Engine.applyOperation`, `Destinations.renderColumn` and
 * `Destinations.write` one call at a time. Every call is a span; every
 * Spark job is tagged with the span that was open when it started (a
 * local property), and carries its `graft: destinations.*` description.
 * Spans, jobs, Catalyst phases and codegen counters are kept in memory and
 * written as JSON when the run ends; the benchmark turns them into metrics.
 *
 * Package `org.apache.spark.sql` so it can drain the listener bus before
 * reading what the listeners saw, and count the CacheManager's entries.
 *
 * args: config.yaml passBOutputDir passAOutputDir trace.json launchEpochMs collectCounts
 */
object GraftTrace {
  private val SpanProp = "graftbench.span"
  private val GraphOps = Set("pagerank", "hits")
  // node-level keys Engine.execute applies in its private postProcess; the
  // node-by-node pass does not, so it refuses projects that use them
  private val PostProcessKeys = Set("expect", "require_rows", "repartition", "debug", "show_progress")

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end = -1L
    val attrs = mutable.LinkedHashMap[String, Any]()
  }
  final class Job(val id: Int, val span: Int, val desc: String, val start: Long) {
    var end = -1L
    var ok = true
    var stages, tasks, failedTasks = 0
    var runMs, cpuNs, gcMs, shuffleWrite, spill = 0L
  }

  private val nano0 = System.nanoTime()
  private val epoch0Ns = System.currentTimeMillis() * 1000000L
  private def nowNs: Long = epoch0Ns + (System.nanoTime() - nano0)

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val queries = mutable.ArrayBuffer[(Long, Long, Long)]() // (start ms, end ms, catalyst ms)
  private var spark: SparkSession = _

  private def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), nowNs)
    spans += s
    s.attrs ++= attrs
    s.attrs("codegen_ns0") = CodeGenerator.compileTime
    s.attrs("codegen_n0") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    open = s :: open
    if (spark != null) spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = nowNs
      s.attrs("codegen_ns1") = CodeGenerator.compileTime
      s.attrs("codegen_n1") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      open = open.tail
      if (spark != null)
        spark.sparkContext.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val j = new Job(e.jobId, prop(SpanProp).map(_.toInt).getOrElse(-1),
        prop("spark.job.description").getOrElse(""), e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach { j => j.end = e.time; j.ok = e.jobResult == JobSucceeded }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = jobs.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskInfo.failed) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) queries.synchronized {
        queries += ((phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max,
          phases.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** The CLI's own session builder, so the traced session is configured
    * exactly as `graft run` configures it. */
  private def cliSession(): SparkSession = {
    val main = graft.cli.Main
    val m = main.getClass.getDeclaredMethods.find(_.getName.endsWith("buildSession"))
      .getOrElse(sys.error("graft.cli.Main has no buildSession"))
    m.setAccessible(true)
    m.invoke(main).asInstanceOf[SparkSession]
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes `RunsFile.computeHash` reads: the regular files among the
    * project's source files, templates and map files. */
  private def hashedBytes(project: Config.Project): Long = {
    def files(section: Iterable[Any], key: String) =
      section.flatMap(v => Config.str(Config.asMap(v), key))
    val mapFiles = project.transformations.values.flatMap { t =>
      Config.asList(Config.asMap(t).getOrElse("operations", Nil))
        .flatMap(o => Config.str(Config.asMap(o), "map_file"))
    }
    (files(project.sources.values, "file") ++ files(project.destinations.values, "template") ++ mapFiles)
      .toSeq.distinct.map { f =>
        val p = { val x = Paths.get(f); if (x.isAbsolute) x else project.configDir.resolve(x) }
        if (Files.isRegularFile(p)) Files.size(p) else 0L
      }.sum
  }

  def main(args: Array[String]): Unit = {
    val Array(configFile, outB, outA, traceFile, launchMs, counts) = args
    val collectCounts = counts.toBoolean

    spark = span("cli.session")(cliSession())
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)

    val project = span("engine.config.load")(Config.load(configFile))
    span("engine.runsfile.hash", "bytes" -> hashedBytes(project))(
      RunsFile.computeHash(project, Map.empty, "*"))
    val engine = new Engine(spark)
    val plan = span("engine.compile")(engine.compile(project))

    // pass B: the product path, cold
    span("engine.execute") {
      engine.execute(plan, Some(Paths.get(outB)), collectCounts = collectCounts)
    }
    val executeEndMs = System.currentTimeMillis()
    spans.last.attrs("cached_frames_after") = spark.sharedState.cacheManager.numCachedEntries
    spark.catalog.clearCache()

    // pass A: the same DAG, one layer call at a time
    span("pass.decomposed") {
      val frames = mutable.Map[String, DataFrame]()
      val consumers = plan.dag.edges.groupBy(_._1).view.mapValues(_.size).toMap.withDefaultValue(0)
      def ref(r: String) = r.stripPrefix("$")
      plan.dag.topologicalOrder.foreach { full =>
        val cfg = plan.nodeConfig(full)
        require((cfg.keySet & PostProcessKeys).isEmpty,
          s"$full uses node-level keys the traced pass does not apply: ${cfg.keySet & PostProcessKeys}")
        val Array(section, name) = full.split("\\.", 2)
        val configDir = plan.project.configDir
        section match {
          case "sources" =>
            frames(full) = span("engine.sources.read", "node" -> full)(
              Sources.read(spark, name, cfg, configDir))
          case "transformations" =>
            val ops = Config.asList(cfg.getOrElse("operations", Nil)).map(Config.asMap)
            val out = ops.foldLeft(frames(ref(Config.reqStr(cfg, "source", full)))) { (df, op) =>
              val opName = Config.str(op, "operation").getOrElse("?")
              val layer = if (GraphOps(opName)) "functions.graph.apply" else "ops.apply"
              span(layer, "node" -> full, "op" -> opName)(
                engine.applyOperation(df, op, frames, full, configDir))
            }
            frames(full) = if (consumers(full) > 1) out.persist() else out
          case "destinations" =>
            val src = frames(ref(Config.reqStr(cfg, "source", full)))
            val linearize = Config.bool(cfg, "linearize", default = true)
            val rendered = span("template.compile", "node" -> full)(
              Destinations.renderColumn(src, cfg, configDir, linearize))
            val out = src.select(rendered.as("value"))
            spans.last.attrs("udf") = out.queryExecution.analyzed.expressions
              .exists(_.exists(_.isInstanceOf[ScalaUDF]))
            span("engine.destinations.input", "node" -> full)(noop(src))
            span("template.render", "node" -> full)(noop(out))
            sc.setJobDescription(s"graft: $full")
            span("engine.destinations.write", "node" -> full)(
              Destinations.write(src, name, cfg, Paths.get(outA), configDir))
            sc.setJobDescription(null)
        }
        if (collectCounts && frames.contains(full))
          span("engine.results_count", "node" -> full)(frames(full).count())
      }
    }
    sc.listenerBus.waitUntilEmpty()
    writeTrace(Paths.get(traceFile), launchMs.toLong, executeEndMs)
    spark.stop()
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  private def writeTrace(file: Path, launchMs: Long, executeEndMs: Long): Unit = {
    val spanRows = spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs)
    }
    val jobRows = jobs.synchronized(jobs.values.toList).map { j =>
      Map("id" -> j.id, "span" -> j.span, "desc" -> j.desc, "start_ms" -> j.start,
        "end_ms" -> j.end, "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
        "gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)
    }
    val queryRows = queries.synchronized(queries.toList).map { case (a, b, c) =>
      Map("start_ms" -> a, "end_ms" -> b, "catalyst_ms" -> c)
    }
    Files.writeString(file, json(Map("launch_ms" -> launchMs, "execute_end_ms" -> executeEndMs,
      "stop_start_ms" -> System.currentTimeMillis(), "spans" -> spanRows, "jobs" -> jobRows,
      "queries" -> queryRows)))
  }
}
