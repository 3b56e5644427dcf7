package graft.functions

import java.io.{DataInputStream, DataOutputStream, InputStream, OutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer,
  SerializerInstance}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * Link-graph analytics for crawl curation — the rank signal web-corpus
 * pipelines weight quality and crawl priority by (Page et al. 1999; Common
 * Crawl publishes exactly this family of ranks per host).
 *
 * Arithmetic is FIXED-POINT: ranks are integer micro-units of a 10^12 total
 * mass, and every per-edge contribution is one Long floor-division —
 * integer sums commute, so the result is independent of partitioning,
 * join order, and engine, and the DuckDB oracle (unrolled iteration
 * layers) reproduces it EXACTLY. Floating-point PageRank cannot make that
 * promise (per-vertex sums would depend on aggregation order).
 *
 * Shape: the edge frame is cast and filtered once through the DataFrame
 * API; everything after runs over pair RDDs, so no iteration is analysed,
 * optimized or code-generated by Catalyst. The distinct edges are grouped
 * once into an adjacency — every node with its distinct out-neighbours
 * (and, for HITS, in-neighbours) — hash-partitioned by node id on
 * `spark.sql.shuffle.partitions` and persisted. Score vectors live on the
 * same partitioner, so joining a score onto its node is narrow (a
 * per-partition hash lookup) and each iteration is ONE shuffle: a
 * map-side-combined sum of the contributions to their target. Every
 * shuffle carries Long keys and Long values, written as eight raw bytes
 * each (`LongSerializer`). The iterations chain as shuffle
 * stages of whichever job next needs a result, exactly as GraphX chains
 * co-partitioned vertex and edge RDDs (Gonzalez et al., OSDI 2014).
 *
 * Jobs per call: pageRank with dangling mass DROPPED (the default, the
 * common crawl-weighting simplification — ranks then bound relative link
 * authority rather than a strict probability) runs two, whatever the
 * iteration count — the node count, and one materializing job for the
 * output. `dangling = "redistribute"` restores canonical-parity
 * conservation (each iteration spreads the dangling mass uniformly,
 * damped) at one scalar job per iteration after the first (the first
 * round's dangling mass is the uniform rank times the dangling-node count
 * the node-count job returns). HITS runs the node count, one L1-total job
 * per half-step, and the output job: `2 * iters + 2`.
 *
 * The output is a localCheckpoint: its blocks are reclaimed by the
 * ContextCleaner when the frame is garbage-collected. The adjacency and
 * the per-iteration score caches are released before the call returns.
 */
object Graph {
  /** Total fixed-point mass (micro-rank units). rank*damping products stay
    * under 2^63: 10^12 * 10^6 = 10^18. */
  val Mass: Long = 1000000000000L

  /** One node of the edge list with its distinct out-neighbours and, when
    * the adjacency was built with them, its distinct in-neighbours (empty
    * otherwise). Sorted ascending, so a rebuild lists them identically. */
  private final case class Node(id: Long, out: Array[Long], in: Array[Long])

  /** The persisted node set of an edge frame: `nodes` is hash-partitioned
    * by id on `part`; `n` counts the nodes, `sinks` those without
    * outlinks; `nodeNullable` says whether a cast endpoint column is
    * nullable, which the output's node column keeps. */
  private final class Adjacency(val nodes: RDD[Node], val part: HashPartitioner,
                                val n: Long, val sinks: Long, val nodeNullable: Boolean)

  /** Shuffle serializer for the loops' (Long, Long) pairs: every key and
    * value is eight raw bytes. Spark would pick Kryo for primitive pairs,
    * but a cold process pays 0.2-0.4 s of class loading and registration
    * for its first Kryo instance, on the critical path of a small graph. */
  private object LongSerializer extends Serializer with Serializable {
    override def newInstance(): SerializerInstance = new SerializerInstance {
      private def streamOnly = throw new UnsupportedOperationException("stream-only serializer")
      override def serialize[T: ClassTag](t: T): ByteBuffer = streamOnly
      override def deserialize[T: ClassTag](bytes: ByteBuffer): T = streamOnly
      override def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T = streamOnly
      override def serializeStream(s: OutputStream): SerializationStream = new SerializationStream {
        private val out = new DataOutputStream(s)
        override def writeObject[T: ClassTag](t: T): SerializationStream = {
          out.writeLong(t.asInstanceOf[Long]); this
        }
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }
      // readLong's EOFException at the end of a stream is the end-of-records
      // signal Spark's key/value iterator expects
      override def deserializeStream(s: InputStream): DeserializationStream = new DeserializationStream {
        private val in = new DataInputStream(s)
        override def readObject[T: ClassTag](): T = in.readLong().asInstanceOf[T]
        override def close(): Unit = in.close()
      }
    }
  }

  /** `pairs` moved to `part` by key, unchanged. */
  private def partitioned(pairs: RDD[(Long, Long)], part: HashPartitioner): RDD[(Long, Long)] =
    new ShuffledRDD[Long, Long, Long](pairs, part).setSerializer(LongSerializer)

  /** The values of `pairs` summed per key on `part`, combined map-side. */
  private def summed(pairs: RDD[(Long, Long)], part: HashPartitioner): RDD[(Long, Long)] =
    pairs.combineByKeyWithClassTag[Long]((v: Long) => v, _ + _, _ + _, part,
      mapSideCombine = true, LongSerializer)

  private def sortedDistinct(b: mutable.ArrayBuilder.ofLong): Array[Long] = {
    val a = b.result()
    java.util.Arrays.sort(a)
    var k = 0
    var i = 0
    while (i < a.length) {
      if (i == 0 || a(i) != a(i - 1)) { a(k) = a(i); k += 1 }
      i += 1
    }
    if (k == a.length) a else java.util.Arrays.copyOf(a, k)
  }

  private def grouped(pairs: Iterator[(Long, Long)]): mutable.LongMap[Array[Long]] = {
    val b = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
    pairs.foreach { case (k, v) => b.getOrElseUpdate(k, new mutable.ArrayBuilder.ofLong) += v }
    b.mapValuesNow(sortedDistinct)
  }

  /** Casts and filters the edge frame once, then builds, persists and
    * counts its adjacency (ONE job). Null endpoints drop the edge;
    * duplicate edges count once. */
  private def adjacency(edges: DataFrame, srcCol: String, dstCol: String,
                        withIn: Boolean): Adjacency = {
    val e = edges
      .select(col(srcCol).cast(LongType).as("src"), col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val part = new HashPartitioner(edges.sparkSession.sessionState.conf.numShufflePartitions)
    // src -> distinct dsts; one shuffle of the raw (src, dst) pairs
    val out = partitioned(e.queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1))), part)
      .mapPartitions(ps => grouped(ps).iterator, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the distinct edges again, keyed by dst on the same partitioner: the
    // dst-only nodes, and HITS's in-neighbours
    val byDst = partitioned(out.flatMap { case (s, ds) => ds.iterator.map(d => (d, s)) }, part)
    val nodes = out.zipPartitions(byDst, preservesPartitioning = true) { (outs, ins) =>
      val in = grouped(ins)
      val none = Array.emptyLongArray
      val withOut = outs.map { case (id, ds) =>
        Node(id, ds, if (withIn) in.getOrElse(id, none) else none)
      }.toArray
      val seen = mutable.LongMap.from(withOut.iterator.map(v => v.id -> ()))
      withOut.iterator ++ in.iterator.collect {
        case (id, ss) if !seen.contains(id) => Node(id, none, if (withIn) ss else none)
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, sinks) = nodes.aggregate((0L, 0L))(
        (c, v) => (c._1 + 1, c._2 + (if (v.out.isEmpty) 1 else 0)),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      new Adjacency(nodes, part, n, sinks, e.schema.fields.exists(_.nullable))
    } catch {
      case t: Throwable => nodes.unpersist(blocking = false); throw t
    } finally out.unpersist(blocking = false)
  }

  /** Materializes `rows` as a localCheckpointed frame (ONE job). */
  private def output(edges: DataFrame, g: Adjacency, rows: RDD[Row],
                     scoreCols: String*): DataFrame =
    edges.sparkSession.createDataFrame(rows, StructType(
      StructField("node", LongType, g.nodeNullable) +:
        scoreCols.map(StructField(_, LongType, nullable = false))))
      .localCheckpoint(true)

  /** PageRank over an edge frame. Returns (node, rank) with ranks in
    * micro-units of [[Mass]]. `dampingPpm` = damping factor in parts per
    * million (850000 = the canonical 0.85). Duplicate edges count once
    * (the link exists or it does not); self-loops participate like any
    * other edge. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, dampingPpm: Long = 850000L,
               dangling: String = "drop"): DataFrame = {
    require(iters >= 1 && iters <= 50, s"pagerank: iters must be in [1,50], got $iters")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L,
      s"pagerank: damping_ppm must be in [0,1e6], got $dampingPpm")
    require(dangling == "drop" || dangling == "redistribute",
      s"pagerank: dangling must be drop|redistribute, got $dangling")
    val g = adjacency(edges, srcCol, dstCol, withIn = false)
    val redistribute = dangling == "redistribute"
    // a redistribute round's ranks are read twice — by its dangling-mass
    // job and by the next round's contributions — so they are cached, and
    // released once the round after them has materialized
    var live: List[RDD[_]] = Nil
    try {
      val n = g.n
      require(n > 0, "pagerank: edge frame has no valid edges")
      val base = (Mass * (1000000L - dampingPpm) / 1000000L) / n
      val part = g.part
      var ranks: RDD[(Node, Long)] = g.nodes.map(v => (v, Mass / n))
      var danglingMass = if (redistribute) Mass / n * g.sinks else 0L
      var it = 0
      while (it < iters) {
        // contribution of u to each neighbor: rank_u * d DIV (1e6 * deg_u)
        val inMass = summed(ranks.flatMap { case (v, r) =>
          if (v.out.isEmpty) Iterator.empty
          else {
            val c = r * dampingPpm / (1000000L * v.out.length)
            v.out.iterator.map(d => (d, c))
          }
        }, part)
        // uniform damped share of this round's dangling mass: floor twice,
        // matching the oracle's `(dm * d // 1e6) // n`
        val share = base + danglingMass * dampingPpm / 1000000L / n
        // narrow left join onto the nodes: inMass is co-partitioned by id
        ranks = g.nodes.zipPartitions(inMass) { (vs, ms) =>
          val m = mutable.LongMap.from(ms)
          vs.map(v => (v, share + m.getOrElse(v.id, 0L)))
        }
        it += 1
        if (redistribute && it < iters) {
          ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
          danglingMass = ranks.map { case (v, r) => if (v.out.isEmpty) r else 0L }
            .fold(0L)(_ + _)
          // this job materialized ranks_it; ranks_{it-1} is superseded
          live.foreach(_.unpersist(blocking = false))
          live = List(ranks)
        }
      }
      output(edges, g, ranks.map { case (v, r) => Row(v.id, r) }, "rank")
    } finally {
      live.foreach(_.unpersist(blocking = false))
      g.nodes.unpersist(blocking = false)
    }
  }

  /** The "lineage has been truncated" WARN fires when the ContextCleaner
    * (its own thread) releases a dropped checkpoint's blocks after the
    * frame is garbage-collected. Graft's own batch mains and specs call
    * this once per process to pin the one emitting logger to ERROR;
    * library users who want the warning keep it (nothing is touched
    * unless this is called). */
  def quietCheckpointReleaseWarns(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

  /** HITS hubs & authorities (Kleinberg 1999) — PageRank's complement for
    * crawl curation: authorities rank CONTENT pages worth keeping, hubs
    * rank LINK pages worth crawling from; PageRank conflates the two.
    *
    * Same fixed-point discipline as [[pageRank]], with the L1
    * normalization HITS needs made integer-exact: after each half-step
    * the raw scores divide by `q = Σraw div 10^9 + 1` (one bounded scalar
    * job per half-step, the same driver-bounded class as pageRank's node
    * count), so normalized scores sum to ≈10^9 and every value is a pure
    * Long floor-division of commuting integer sums — partition/join-order/
    * engine independent, oracle-exact. Overflow bound: a raw score is Σ of
    * ≈10^9-unit scores over a node's in/out edges, safe to ~4x10^9 edges
    * per node.
    *
    * Per iteration: authorities are hub scores pushed along out-edges,
    * hubs are authority scores pushed back along in-edges — two
    * summing shuffles over the one persisted adjacency. Scores stay
    * SPARSE through the iterations (a node that received no mass scores 0
    * and adds 0 to every sum and to the L1 total); every node surfaces,
    * zeros filled in, once at the end. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 50, s"hits: iters must be in [1,50], got $iters")
    val HitsMass = 1000000000L
    val g = adjacency(edges, srcCol, dstCol, withIn = true)
    val part = g.part
    // a half-step's raw scores are read twice (its L1 total, then the next
    // half-step), so they are cached; a cache becomes releasable once the
    // half-step TWO later has materialized (raw h_{k-1} feeds only a_k;
    // raw a_{k-1} feeds only h_{k-1}, superseded by a_k)
    var pending: List[RDD[_]] = Nil
    try {
      require(g.n > 0, "hits: edge frame has no valid edges")
      def normalize(raw0: RDD[(Long, Long)]): RDD[(Long, Long)] = {
        val raw = raw0.persist(StorageLevel.MEMORY_AND_DISK)
        pending = pending :+ raw
        if (pending.size > 2) {
          pending.head.unpersist(blocking = false)
          pending = pending.tail
        }
        // Σraw is one Long scalar (bounded driver state)
        val q = raw.values.fold(0L)(_ + _) / HitsMass + 1
        raw.mapValues(_ / q)
      }
      // SPARSE half-step: rows only for nodes that received mass
      def halfStep(scores: RDD[(Long, Long)], toward: Node => Array[Long]): RDD[(Long, Long)] =
        summed(g.nodes.zipPartitions(scores) { (vs, ss) =>
          val s = mutable.LongMap.from(ss)
          vs.flatMap(v => s.get(v.id) match {
            case Some(x) => toward(v).iterator.map(u => (u, x))
            case None => Iterator.empty
          })
        }, part)
      var h: RDD[(Long, Long)] = g.nodes.map(v => (v.id, HitsMass))
      var a: RDD[(Long, Long)] = null
      var it = 0
      while (it < iters) {
        a = normalize(halfStep(h, _.out))
        h = normalize(halfStep(a, _.in))
        it += 1
      }
      // dense completion, once: every node surfaces, zeros filled in
      output(edges, g, g.nodes.zipPartitions(h, a) { (vs, hs, as) =>
        val hm = mutable.LongMap.from(hs)
        val am = mutable.LongMap.from(as)
        vs.map(v => Row(v.id, hm.getOrElse(v.id, 0L), am.getOrElse(v.id, 0L)))
      }, "hub", "authority")
    } finally {
      pending.foreach(_.unpersist(blocking = false))
      g.nodes.unpersist(blocking = false)
    }
  }
}
