package graft.functions

import scala.collection.mutable

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixed-point PageRank and HITS: closed-form graphs, exact partition
  * independence (the property the integer arithmetic buys), exactness
  * against a plain-Scala model, mass accounting, the job budget, and the
  * YAML dispatch. */
class GraphSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** A seeded 300-row edge frame of strings: duplicate edges, self-loops,
    * null endpoints, dst-only (dangling) nodes, and numbers in the forms a
    * cast accepts (" 7", "+7", "007"). */
  private val messy: Seq[(String, String)] = {
    val rnd = new scala.util.Random(20261019)
    def fmt(v: Long): String = rnd.nextInt(4) match {
      case 0 => s" $v"
      case 1 => s"+$v"
      case 2 => f"$v%03d"
      case _ => v.toString
    }
    val links = Seq.fill(240)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val sinks = Seq.fill(20)((rnd.nextInt(50).toLong, 100L + rnd.nextInt(10)))
    val loops = Seq.fill(10)(rnd.nextInt(50).toLong).map(v => (v, v))
    val typed = (links ++ sinks ++ loops ++ links.take(20)).map { case (s, d) => (fmt(s), fmt(d)) }
    val nulls = Seq.tabulate(10)(i => if (i % 3 == 0) (null, s"$i") else if (i % 3 == 1) (s"$i", null)
      else (null, null))
    typed ++ nulls
  }

  private def messyFrame = {
    import spark.implicits._
    messy.toDF("src", "dst")
  }

  /** The edges the model reads: nulls dropped, numbers parsed, duplicates once. */
  private val messyEdges: Set[(Long, Long)] = messy.collect {
    case (s, d) if s != null && d != null => (s.trim.toLong, d.trim.toLong)
  }.toSet

  /** PageRank's fixed-point rules over plain Scala maps. */
  private def modelPageRank(es: Set[(Long, Long)], iters: Int, d: Long,
                            redistribute: Boolean): Map[Long, Long] = {
    val nodes = es.flatMap { case (s, t) => Seq(s, t) }
    val n = nodes.size.toLong
    val outs = es.groupMap(_._1)(_._2)
    val base = (Graph.Mass * (1000000L - d) / 1000000L) / n
    var ranks = nodes.map(_ -> Graph.Mass / n).toMap
    for (_ <- 1 to iters) {
      val in = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, ts) <- outs; t <- ts) in(t) += ranks(s) * d / (1000000L * ts.size)
      val dm = if (redistribute) nodes.toSeq.filterNot(outs.contains).map(ranks).sum else 0L
      val share = base + dm * d / 1000000L / n
      ranks = nodes.map(v => v -> (share + in(v))).toMap
    }
    ranks
  }

  /** HITS's fixed-point rules over plain Scala maps: node -> (hub, authority). */
  private def modelHits(es: Set[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val m = 1000000000L
    val nodes = es.flatMap { case (s, t) => Seq(s, t) }
    def norm(raw: Map[Long, Long]) = { val q = raw.values.sum / m + 1; raw.map { case (k, v) => k -> v / q } }
    var h = nodes.map(_ -> m).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      a = norm(es.toSeq.filter(e => h.contains(e._1)).groupMapReduce(_._2)(e => h(e._1))(_ + _))
      h = norm(es.toSeq.filter(e => a.contains(e._2)).groupMapReduce(_._1)(e => a(e._2))(_ + _))
    }
    nodes.map(v => v -> (h.getOrElse(v, 0L), a.getOrElse(v, 0L))).toMap
  }

  test("symmetric cycle: every node holds exactly the same rank at every iteration") {
    val n = 5
    val cyc = edges((0L until n.toLong).map(i => i -> ((i + 1) % n)): _*)
    for (iters <- Seq(1, 4)) {
      val ranks = Graph.pageRank(cyc, "src", "dst", iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ranks.size === n)
      assert(ranks.values.toSet.size === 1, s"cycle ranks must be uniform: $ranks")
    }
  }

  test("star: the hub collects the leaves' damped mass (closed form)") {
    // 4 leaves -> hub 9; one iteration from uniform 1/5 mass each
    val star = edges(1L -> 9L, 2L -> 9L, 3L -> 9L, 4L -> 9L, 9L -> 1L)
    val ranks = Graph.pageRank(star, "src", "dst", iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r0 = Graph.Mass / 5
    val base = (Graph.Mass * 150000L / 1000000L) / 5
    val contrib = r0 * 850000L / 1000000L // out_deg = 1 for every node
    assert(ranks(9L) === base + 4 * contrib)
    assert(ranks(1L) === base + contrib) // only the hub links to 1
    assert(ranks(2L) === base) // nothing links to a leaf
  }

  test("ranks are exactly partition-independent (integer sums commute)") {
    val rnd = new scala.util.Random(13)
    val e = edges(Seq.fill(3000)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)): _*)
    val a = Graph.pageRank(e.repartition(1), "src", "dst", 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRank(e.repartition(7, col("dst")), "src", "dst", 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "fixed-point ranks must not depend on partitioning")
  }

  test("mass is conserved up to floor losses; duplicates and self-loops behave") {
    val e = edges(1L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 3L)
    val ranks = Graph.pageRank(e, "src", "dst", 4).collect().map(_.getLong(1))
    val total = ranks.sum
    // every floor drops < 1 unit per edge per iteration; no dangling nodes
    assert(total <= Graph.Mass && total >= Graph.Mass - 4 * 5 - 4 * 3,
      s"mass off: $total vs ${Graph.Mass}")
    // duplicate (1->2) must count once: node 1's out_deg is 1, so node 2
    // receives 1's whole damped rank, strictly more than node 1 gets from 3
    val m = Graph.pageRank(e, "src", "dst", 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(2L) > m(1L))
  }

  test("dangling mass drains (documented simplification); rejects bad params") {
    val e = edges(1L -> 2L, 3L -> 2L) // node 2 has no outlinks
    val ranks = Graph.pageRank(e, "src", "dst", 2).collect().map(_.getLong(1)).sum
    assert(ranks < Graph.Mass, "node 2's collected mass drains in iteration 2")
    assert(intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", 0)).getMessage.contains("iters"))
    assert(intercept[IllegalArgumentException](
      Graph.pageRank(e, "src", "dst", 3, dampingPpm = 2000000L)).getMessage.contains("damping"))
  }

  test("pagerank YAML dispatch") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val out = new graft.engine.Engine(spark).applyOperation(e,
      Map("operation" -> "pagerank", "src_column" -> "src", "dst_column" -> "dst",
        "iterations" -> "2"),
      Map.empty, "spec")
    assert(out.columns.toSeq === Seq("node", "rank"))
    assert(out.count() === 3)
    assert(out.select("rank").collect().map(_.getLong(0)).toSet.size === 1) // 3-cycle: uniform
  }

  test("hits star: the center is a pure hub, the leaves pure authorities") {
    val star = edges((1L to 6L).map(l => 0L -> l): _*)
    val out = Graph.hits(star, "src", "dst", iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (hubC, authC) = out(0L)
    assert(authC == 0L && hubC > 0L, s"center: $hubC/$authC")
    (1L to 6L).foreach { l =>
      val (hubL, authL) = out(l)
      assert(hubL == 0L && authL > 0L, s"leaf $l: $hubL/$authL")
      assert(authL == out(1L)._2, "symmetric leaves score equally")
    }
    assert(hubC > out(1L)._2, "the single hub concentrates more mass than any leaf")
  }

  test("hits is exactly partition-independent and duplicate-edge immune") {
    val pairs = (0L until 60L).map(i => (i % 7) -> (7 + i % 11))
    val base = Graph.hits(edges(pairs: _*), "src", "dst", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val repart = Graph.hits(edges(pairs: _*).repartition(13), "src", "dst", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(base == repart)
    val dup = Graph.hits(edges((pairs ++ pairs): _*), "src", "dst", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(base == dup, "duplicate edges count once")
  }

  test("hits normalization keeps totals near the fixed-point mass; YAML dispatch") {
    val pairs = (0L until 40L).map(i => i -> ((i * 3 + 1) % 40))
    val out = Graph.hits(edges(pairs: _*), "src", "dst", 3)
    val sums = out.agg(sum("hub"), sum("authority")).collect().head
    val M = 1000000000L
    assert(math.abs(sums.getLong(0) - M) < M / 10, s"hub mass ${sums.getLong(0)}")
    assert(math.abs(sums.getLong(1) - M) < M / 10, s"auth mass ${sums.getLong(1)}")
    val eng = new graft.engine.Engine(spark)
    val viaYaml = eng.applyOperation(edges(pairs: _*),
      Map("operation" -> "hits", "src_column" -> "src", "dst_column" -> "dst",
        "iterations" -> "3"), Map.empty, "spec")
    assert(viaYaml.columns.toSeq == Seq("node", "hub", "authority"))
    assert(viaYaml.orderBy("node").collect().toSeq == out.orderBy("node").collect().toSeq)
  }

  test("concurrent pageRank and hits on one context never release each other's checkpoints") {
    // regression canary: checkpointTracked once derived its block-set by
    // diffing the GLOBAL persistent-RDD registry around localCheckpoint, so
    // a concurrent graph query's blocks could land in the diff and be
    // unpersisted out from under it — unrecoverable for a localCheckpoint
    // (lineage truncated), failing the victim with missing-block errors.
    // Tracking now reads the checkpoint's own LogicalRDD id; parallel
    // redistribute-mode runs must all succeed and stay exact.
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val pairs = (0L until 40L).flatMap(i =>
      Seq(i -> ((i * 7 + 3) % 40), i -> ((i + 1) % 40)))
    val g = edges(pairs: _*)
    val expectPr = Graph.pageRank(g, "src", "dst", 4, dangling = "redistribute")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectHits = Graph.hits(g, "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    (0 until 2).foreach { _ =>
      val f1 = Future(Graph.pageRank(g, "src", "dst", 4, dangling = "redistribute")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val f2 = Future(Graph.hits(g, "src", "dst", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq)
      assert(Await.result(f1, 180.seconds) == expectPr)
      assert(Await.result(f2, 180.seconds) == expectHits)
    }
  }

  test("pageRank and hits equal a plain-Scala Long model on a messy 300-row edge frame") {
    val g = messyFrame
    assert(messyEdges.exists { case (s, d) => s == d }, "fixture has self-loops")
    assert(messyEdges.exists { case (_, d) => !messyEdges.exists(_._1 == d) }, "fixture has dangling nodes")
    for ((iters, d) <- Seq((3, 850000L), (5, 600000L))) {
      val drop = Graph.pageRank(g, "src", "dst", iters, d)
      assert(drop.schema.map(f => f.name -> f.nullable) == Seq("node" -> true, "rank" -> false))
      assert(drop.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        modelPageRank(messyEdges, iters, d, redistribute = false), s"drop iters=$iters d=$d")
      assert(Graph.pageRank(g, "src", "dst", iters, d, "redistribute").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        modelPageRank(messyEdges, iters, d, redistribute = true), s"redistribute iters=$iters d=$d")
    }
    val hits = Graph.hits(g, "src", "dst", 3)
    assert(hits.schema.map(f => f.name -> f.nullable) ==
      Seq("node" -> true, "hub" -> false, "authority" -> false))
    assert(hits.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap ==
      modelHits(messyEdges, 3))
    // typed non-null input keeps a non-nullable node column
    assert(!Graph.pageRank(edges(1L -> 2L), "src", "dst", 1).schema("node").nullable)
    // a non-numeric endpoint fails the cast as it does in any graft frame
    // (ANSI casts are on), rather than dropping the edge
    import spark.implicits._
    val bad = intercept[NumberFormatException](
      Graph.pageRank(Seq(("1", "2"), ("x", "1")).toDF("src", "dst"), "src", "dst", 2))
    assert(bad.getMessage.contains("CAST_INVALID_INPUT"), bad.getMessage)
  }

  test("job budget: pageRank drop mode runs a fixed two jobs, redistribute and hits one per scalar") {
    val g = messyFrame
    val drop1 = jobsDuring(Graph.pageRank(g, "src", "dst", 1))
    val drop6 = jobsDuring(Graph.pageRank(g, "src", "dst", 6))
    assert(drop1 == drop6 && drop6 <= 2, s"drop mode ran $drop1 jobs at iters=1, $drop6 at iters=6")
    for (iters <- Seq(2, 5)) {
      val red = jobsDuring(Graph.pageRank(g, "src", "dst", iters, dangling = "redistribute"))
      assert(red <= iters + 2, s"redistribute ran $red jobs at iters=$iters")
      val hits = jobsDuring(Graph.hits(g, "src", "dst", iters))
      assert(hits <= 2 * iters + 2, s"hits ran $hits jobs at iters=$iters")
    }
  }

  test("graph calls leave no cache behind but their output's checkpoint") {
    val before = persistentRdds
    val outs = Seq(Graph.pageRank(messyFrame, "src", "dst", 3, dangling = "redistribute"),
      Graph.hits(messyFrame, "src", "dst", 3))
    val added = persistentRdds.keySet -- before.keySet
    // one localCheckpoint RDD per output; every adjacency and score cache is gone
    assert(added.size == outs.size, rddChanges(before))
    assert(outs.map(_.count()).distinct.size == 1, "both outputs list every node")
  }
}
