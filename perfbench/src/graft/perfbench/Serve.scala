package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.GraphArGraph
import graft.sources.graphar.{GraphArMutations, GraphArWriter}
import graft.streaming.GraphArSink

/** In-memory multigraph over vertex ids [0, v): the benchmark's own
  * model of the serving graph. Entries pack (dst, quantity). */
final class EdgeModel(val v: Int) {
  val adj: Array[ArrayBuffer[Long]] = Array.fill(v)(new ArrayBuffer[Long](8))
  var edges: Long = 0L
  var qtySum: Long = 0L

  def add(s: Int, d: Int, q: Int): Unit = {
    adj(s) += (d.toLong << 8) | q; edges += 1; qtySum += q
  }

  /** Anti-join semantics: every copy of (s, d) goes. */
  def remove(s: Int, d: Int): Unit = {
    val (gone, keep) = adj(s).partition(e => (e >>> 8).toInt == d)
    gone.foreach(e => { edges -= 1; qtySum -= (e & 0xff) })
    adj(s).clear(); adj(s) ++= keep
  }

  def copy(): EdgeModel = {
    val m = new EdgeModel(v)
    var i = 0
    while (i < v) { m.adj(i) ++= adj(i); i += 1 }
    m.edges = edges; m.qtySum = qtySum
    m
  }

  def dsts(s: Int): Iterator[Int] = adj(s).iterator.map(e => (e >>> 8).toInt)
  def degree(s: Int): Int = adj(s).size

  /** (rows, Σsrc, Σ(src·4096 + dst)) of a list of (src, dst) rows. */
  private def sums(rows: Iterator[(Int, Int)]): Seq[Double] = {
    var n = 0L; var s = 0L; var k = 0L
    rows.foreach { case (a, b) => n += 1; s += a; k += a.toLong * 4096L + b }
    Seq(n.toDouble, s.toDouble, k.toDouble)
  }

  def oneHop(x: Int): Seq[Double] = sums(dsts(x).map(d => (x, d)))

  /** Reference two_hop: 1-hop rows plus the out-edges of every 1-hop
    * neighbour, once per time it was reached. */
  def twoHop(x: Int): Seq[Double] =
    sums(dsts(x).map(d => (x, d)) ++ dsts(x).flatMap(m => dsts(m).map(d => (m, d))))

  /** Reference one_more_hop: 1-hop rows plus edges with both ends in
    * the distinct 1-hop frontier. */
  def oneMoreHop(x: Int): Seq[Double] = {
    val f = dsts(x).toSet
    sums(dsts(x).map(d => (x, d)) ++
      f.iterator.flatMap(m => dsts(m).filter(f.contains).map(d => (m, d))))
  }

  def bfs(a: Int, b: Int, maxDepth: Int = 10): Long = {
    if (a == b) return 0L
    val dist = Array.fill(v)(-1)
    dist(a) = 0
    var frontier = Seq(a)
    var depth = 0
    while (frontier.nonEmpty && depth < maxDepth) {
      depth += 1
      val next = ArrayBuffer.empty[Int]
      frontier.foreach(u => dsts(u).foreach { w =>
        if (dist(w) < 0) { dist(w) = depth; next += w }
      })
      if (dist(b) >= 0) return dist(b).toLong
      frontier = next.toSeq
    }
    -1L
  }

  /** Vertices at exactly `d` hops from `a` (BFS layers). */
  def layer(a: Int, d: Int): Seq[Int] = {
    val dist = Array.fill(v)(-1)
    dist(a) = 0
    var frontier = Seq(a)
    var depth = 0
    while (depth < d && frontier.nonEmpty) {
      depth += 1
      val next = ArrayBuffer.empty[Int]
      frontier.foreach(u => dsts(u).foreach { w =>
        if (dist(w) < 0) { dist(w) = depth; next += w }
      })
      frontier = next.toSeq
    }
    frontier
  }

  def maxDegree: Int = adj.iterator.map(_.size).max

  /** (distinct degrees, Σ degree·count, Σ count) of the distribution. */
  def degreeDistribution: Seq[Double] = {
    val h = adj.groupBy(_.size).map { case (d, vs) => d -> vs.length }
    Seq(h.size.toDouble, h.map { case (d, n) => d.toLong * n }.sum.toDouble,
      h.values.sum.toDouble)
  }
}

/** graph_serve's component: a versioned GraphAr graph shaped like the
  * lineitem graph of the reference query set (src = order key mod V,
  * dst = part key mod V, a quantity property), served by point
  * lookups, traversals and scans over the committed snapshot, written
  * by staged deltas and compactions, and read back through the
  * delta-folded current view. */
final class Serve(spark: SparkSession, root: String, seed: Long,
                  nEdges: Int, v: Int, trace: Trace) extends Component {
  val name = "serve"
  private val base = s"$root/serve"
  private val baseDir = new java.io.File(base)
  private val (src, dst, t) = ("Part", "link", "Part")
  private var snap: EdgeModel = _
  private var cur: EdgeModel = _
  private var staged = 0
  private var stagedEver = 0L // the log numbers deltas 0, 1, 2, ... across compactions
  private var version = 0L // committed snapshot version
  private var nextOrder = 0L

  private val writes = new WriteLog(baseDir)
  private var foldedDeltas = 0L
  private var freshReads = 0L

  /** Hot keys: a Zipf tail over a seeded permutation of the vertices
    * that have out-edges (with sparse TPC-H order keys, three in four
    * vertex ids never occur as a source). */
  private var perm: Array[Int] = _
  private def zipfVertex(r: java.util.SplittableRandom): Int = {
    val u = (r.nextLong(1L << 30) + 1).toDouble / (1L << 30)
    perm(math.min(perm.length - 1, math.floor(math.pow(perm.length.toDouble, u)).toInt - 1))
  }

  /** Lineitem-shaped rows: orders of 1..7 lines, sparse TPC-H order
    * keys, uniform part keys over sf0.1's 20,000 parts. */
  private def lineitems(r: java.util.SplittableRandom, n: Int): Seq[(Long, Long, Long)] = {
    val out = new ArrayBuffer[(Long, Long, Long)](n)
    while (out.size < n) {
      val lines = 1 + r.nextInt(7)
      val okey = (nextOrder / 8) * 32 + nextOrder % 8 + 1
      nextOrder += 1
      var l = 0
      while (l < lines && out.size < n) {
        val pkey = 1L + r.nextInt(20000)
        out += ((okey % v, pkey % v, 1L + r.nextInt(50)))
        l += 1
      }
    }
    out.toSeq
  }

  def dirs: Seq[String] = Seq(base)

  def setup(): Unit = {
    import spark.implicits._
    val r = new java.util.SplittableRandom(seed)
    val rows = lineitems(r, nEdges)
    snap = new EdgeModel(v)
    rows.foreach { case (s, d, q) => snap.add(s.toInt, d.toInt, q.toInt) }
    cur = snap.copy()
    perm = (0 until v).filter(snap.degree(_) > 0).toArray
    var i = perm.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val x = perm(i); perm(i) = perm(j); perm(j) = x; i -= 1 }
    // the sf0.1 graph's layout: ~18 adjacency chunks, 1,024-vertex parts
    val chunk = math.max(2048L, nEdges / 18L)
    GraphArMutations.initEdges(spark, base, rows.toDF("src", "dst", "quantity"),
      "Serve", GraphArWriter.EdgeSpec(src, t, dst,
        srcVertexCount = v, dstVertexCount = v,
        chunkSize = chunk, srcChunkSize = 1024, dstChunkSize = 1024))
    writes.reset()
  }

  override def afterWarmup(): Unit = {
    writes.reset(); foldedDeltas = 0L; freshReads = 0L
  }

  private def yaml(): String = trace.meta(GraphArSink.latestYaml(spark, base))
  private def graph(): GraphArGraph = {
    val y = yaml()
    trace.meta(GraphArGraph(spark, y))
  }

  private def snapOp(cls: String, nm: String, arg: Any, expect: Seq[Double], run: () => Out): Op =
    Op(cls, nm, "graph", run, Harness.sameValues(expect), arg = arg.toString)

  private def sql(q: String): Out = Out.edges(spark.sql(q))

  /** One pass: 24 ops — every snapshot read type once (11), 4 fresh
    * reads and 8 staged deltas, always in this order (the seed picks
    * the vertices), so every run folds the same log lengths (1, 3, 5,
    * 7) — and the compaction that follows the 8th delta, when the
    * staged log reaches 8. */
  private val passKinds: Seq[String] = Seq(
    "stage", "one_hop", "fresh_one_hop", "stage", "two_hop", "edge_count", "stage",
    "fresh_degree", "degree_of_vertex", "stage", "one_more_hop", "vertex_count", "stage",
    "fresh_one_hop", "three_vertices", "path_exist", "stage", "max_degree", "stage",
    "fresh_degree", "degree_distribution", "full_scan_agg", "stage")
  private val allKinds: Seq[String] = passKinds.distinct

  def pass(p: Int): Iterator[Op] =
    ops(new java.util.SplittableRandom(seed * 1000003L + p), passKinds.iterator, 8)

  /** Every op type once, the compaction included. */
  override def warmup(): Iterator[Op] =
    ops(new java.util.SplittableRandom(seed * 1000003L), allKinds.iterator, 1)

  private def ops(r: java.util.SplittableRandom, kinds: Iterator[String], logCap: Int): Iterator[Op] =
    kinds.flatMap {
      case "stage" =>
        val st = stageOp(r)
        if (staged + 1 >= logCap) Iterator(st, compactOp()) else Iterator(st)
      case k if k.startsWith("fresh") => Iterator(freshOp(r, k))
      case k => Iterator(readOp(r, k))
    }

  private def readOp(r: java.util.SplittableRandom, kind: String): Op = {
    val x = zipfVertex(r)
    kind match {
      case "one_hop" => snapOp("lookup", "one_hop", x, snap.oneHop(x),
        () => Out.edges(graph().oneHop(src, t, dst, x)))
      case "three_vertices" =>
        // three rows of the edge table, each of which must be a real edge
        Op("lookup", "three_vertices", "graph", () => {
          val rows = graph().edgesStd(src, t, dst).limit(3).collect()
          Out(rows.map(w => w.getLong(0) * 4096.0 + w.getLong(1)).toSeq, rows.length)
        }, o => o.rows == 3 && o.values.forall { k =>
          snap.dsts((k / 4096).toInt).contains((k % 4096).toInt)
        })
      case "degree_of_vertex" => snapOp("lookup", "degree_of_vertex", x, Seq(snap.degree(x).toDouble),
        () => {
          val rows = graph().degreeOfVertex(src, t, dst, x).collect()
          Out(rows.map(_.getLong(0).toDouble).toSeq, rows.length)
        })
      case "two_hop" => snapOp("traverse", "two_hop", x, snap.twoHop(x),
        () => sql(s"SELECT * FROM two_hop('${yaml()}', $x)"))
      case "one_more_hop" => snapOp("traverse", "one_more_hop", x, snap.oneMoreHop(x),
        () => sql(s"SELECT * FROM one_more_hop('${yaml()}', $x)"))
      case "path_exist" =>
        val ring = snap.layer(x, 2)
        val y = if (ring.isEmpty) x else ring(r.nextInt(ring.size))
        snapOp("traverse", "path_exist", s"$x-$y", Seq(snap.bfs(x, y).toDouble),
          () => Out.of(1, graph().bfsLength(x, y).toDouble))
      case "edge_count" => snapOp("scan", "edge_count", "", Seq(snap.edges.toDouble), () => {
        val n = graph().edges(src, t, dst).count(); Out.of(1, n.toDouble)
      })
      case "vertex_count" => snapOp("scan", "vertex_count", "", Seq(v.toDouble), () => {
        val n = spark.sql(s"SELECT count(*) FROM edges_vertex('${yaml()}')").head().getLong(0)
        Out.of(1, n.toDouble)
      })
      case "max_degree" => snapOp("scan", "max_degree", "", Seq(snap.maxDegree.toDouble), () => {
        val n = spark.sql(s"SELECT max(degree) FROM edges_vertex('${yaml()}')").head().getLong(0)
        Out.of(1, n.toDouble)
      })
      case "degree_distribution" => snapOp("scan", "degree_distribution", "", snap.degreeDistribution, () => {
        val row = graph().degreeDistribution(src, t, dst)
          .agg(count(lit(1)), sum(col("degree") * col("n_vertices")), sum(col("n_vertices")))
          .head()
        Out.of(row.getLong(0), row.getLong(0).toDouble, row.getLong(1).toDouble,
          row.getLong(2).toDouble)
      })
      case "full_scan_agg" => snapOp("scan", "full_scan_agg", "", Seq(snap.qtySum.toDouble, snap.edges.toDouble),
        () => {
          val row = graph().edges(src, t, dst)
            .agg(sum(col("quantity")), count(lit(1))).head()
          Out.of(1, row.getLong(0).toDouble, row.getLong(1).toDouble)
        })
    }
  }

  private def freshOp(r: java.util.SplittableRandom, kind: String): Op = {
    val x = zipfVertex(r)
    val deltas = staged
    val after = () => { freshReads += 1; foldedDeltas += deltas }
    if (kind == "fresh_one_hop")
      Op("fresh", "fresh_one_hop", "graph", () =>
        Out.edges(GraphArMutations.currentEdges(spark, base).filter(col("src") === x)),
        Harness.sameValues(cur.oneHop(x)), after, x.toString)
    else
      Op("fresh", "fresh_degree", "graph", () => {
        val n = GraphArMutations.currentEdges(spark, base).filter(col("src") === x).count()
        Out.of(1, n.toDouble)
      }, Harness.sameValues(Seq(cur.degree(x).toDouble)), after, x.toString)
  }

  /** 100 edges: 90 adds and 10 removes of keys present in the current
    * view. The stage must commit the log's next sequence number; what it
    * staged is checked by the fresh reads and, after compaction, by the
    * snapshot reads that follow. */
  private def stageOp(r: java.util.SplittableRandom): Op = {
    import spark.implicits._
    val adds = lineitems(r, 90)
    val removes = (0 until 10).map { _ =>
      var s = zipfVertex(r)
      while (cur.degree(s) == 0) s = r.nextInt(v)
      val ds = cur.dsts(s).toIndexedSeq
      (s.toLong, ds(r.nextInt(ds.size)).toLong)
    }.distinct
    val seq = stagedEver
    Op("stage", "stage_delta", "sources.graphar.write", () => {
      val got = GraphArMutations.stageDelta(spark, base,
        adds = Some(adds.toDF("src", "dst", "quantity")),
        removeKeys = Some(removes.toDF("src", "dst")))
      Out.of(adds.size + removes.size, got.toDouble)
    }, o => o.values == Seq(seq.toDouble) &&
      GraphArMutations.stagedDeltas(spark, base).lastOption.contains(seq), () => {
      adds.foreach { case (s, d, q) => cur.add(s.toInt, d.toInt, q.toInt) }
      removes.foreach { case (s, d) => cur.remove(s.toInt, d.toInt) }
      staged += 1
      stagedEver += 1
      writes.userBytes += adds.size * 24L + removes.size * 16L
      writes.account()
    })
  }

  /** The compaction must commit the next version and retire the log. */
  private def compactOp(): Op =
    Op("compact", "compact_deltas", "sources.graphar.write", () => {
      Out.of(1, GraphArMutations.compactDeltas(spark, base).toDouble)
    }, o => o.values == Seq(version + 1.0) && GraphArMutations.stagedDeltas(spark, base).isEmpty,
      () => {
        snap = cur.copy()
        staged = 0
        version += 1
        writes.account()
      })

  override def writeAmp: Double = writes.amp

  override def layerExtra: Map[String, Double] =
    writes.metrics(cur.edges * 24.0, foldedDeltas.toDouble / math.max(1L, freshReads))
}
