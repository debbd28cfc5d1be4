package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.graph.{GraphArGraph, GraphOps}
import graft.sources.graphar.GraphArWriter

/** graph_analytics' component: a Zipf-skewed GraphAr graph (the
  * ZipfBench construction: both endpoints rank = floor(V^u), so vertex
  * 1 is a hub) run through the iterative operators and the wedge
  * operators. Expectations come from driver-side reference
  * implementations over the generated edge list; Louvain, whose output
  * depends on the program's own tie-breaking, must label every
  * non-isolated vertex and reproduce the checksum recorded for the
  * seed, where there is one. */
final class Analytics(spark: SparkSession, root: String, seed: Long,
                      nEdges: Int, v: Int, trace: Trace, expect: Expect) extends Component {
  val name = "analytics"
  private val base = s"$root/analytics"
  private val yaml = s"$base/Zipf.yaml"
  private val (st, et, dt) = ("Node", "link", "Node")

  private var es: Array[Long] = _ // packed src << 32 | dst
  private var prExpect: Seq[Double] = _
  private var ccExpect: Seq[Double] = _
  private var triExpect: Double = 0.0
  private var lccExpect: Seq[Double] = _
  private var simpleVertices: Long = 0L

  def dirs: Seq[String] = Seq(base)

  def setup(): Unit = {
    import spark.implicits._
    val r = new java.util.SplittableRandom(seed * 6364136223846793005L + 1442695040888963407L)
    def zipf(): Long = {
      val u = (r.nextLong(1L << 30) + 1).toDouble / (1L << 30)
      math.min(v - 1L, math.max(1L, math.floor(math.pow(v.toDouble, u)).toLong))
    }
    es = Array.fill(nEdges)((zipf() << 32) | zipf())
    val rows = es.toSeq.map(e => (e >>> 32, e & 0xffffffffL))
    GraphArWriter.writeEdges(rows.toDF("src", "dst"), base,
      GraphArWriter.EdgeSpec(st, et, dt, srcVertexCount = v, dstVertexCount = v,
        chunkSize = 1 << 15, srcChunkSize = 1 << 12, dstChunkSize = 1 << 12))
    GraphArWriter.writeGraphYaml(base, "Zipf", Seq.empty, Seq(s"${st}_${et}_$dt"))
    reference()
  }

  /** Driver-side references for pagerank, components, triangles and
    * clustering coefficients, in the program's documented semantics. */
  private def reference(): Unit = {
    val src = es.map(e => (e >>> 32).toInt)
    val dst = es.map(e => (e & 0xffffffffL).toInt)
    val present = new Array[Boolean](v)
    src.foreach(present(_) = true); dst.foreach(present(_) = true)
    val verts = (0 until v).filter(present)
    // pagerank: unnormalised, rank = 0.15 + 0.85·Σ rank(u)/outdeg(u)
    val odeg = new Array[Int](v)
    src.foreach(s => odeg(s) += 1)
    var rank = Array.tabulate(v)(i => if (present(i)) 1.0 else 0.0)
    (1 to 10).foreach { _ =>
      val in = new Array[Double](v)
      var i = 0
      while (i < src.length) { in(dst(i)) += rank(src(i)) / odeg(src(i)); i += 1 }
      rank = Array.tabulate(v)(j => if (present(j)) 0.15 + 0.85 * in(j) else 0.0)
    }
    prExpect = Seq(verts.size.toDouble, verts.map(rank(_)).sum,
      verts.map(j => rank(j) * (j % 97)).sum)
    // components: label = smallest vertex id of the component
    val parent = Array.range(0, v)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    src.indices.foreach { i =>
      val a = find(src(i)); val b = find(dst(i))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    val comp = verts.map(find)
    ccExpect = Seq(verts.size.toDouble, comp.map(_.toLong).sum.toDouble, comp.distinct.size.toDouble)
    // undirected simple graph, oriented by (degree, id) for triangle listing
    val und = es.iterator.map { e =>
      val a = (e >>> 32).toInt; val b = (e & 0xffffffffL).toInt
      if (a < b) (a.toLong << 32) | b else (b.toLong << 32) | a
    }.filter(k => (k >>> 32) != (k & 0xffffffffL)).toArray.distinct
    val deg = new Array[Int](v)
    und.foreach { k => deg((k >>> 32).toInt) += 1; deg((k & 0xffffffffL).toInt) += 1 }
    simpleVertices = deg.count(_ > 0).toLong
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = Array.fill(v)(new ArrayBuffer[Int](4))
    und.foreach { k =>
      val a = (k >>> 32).toInt; val b = (k & 0xffffffffL).toInt
      if (before(a, b)) out(a) += b else out(b) += a
    }
    val outSorted = out.map(_.toArray.sorted)
    val tri = new Array[Long](v)
    var total = 0L
    var x = 0
    while (x < v) {
      val nx = outSorted(x)
      nx.foreach { u =>
        val nu = outSorted(u)
        var i = 0; var j = 0
        while (i < nx.length && j < nu.length) {
          if (nx(i) < nu(j)) i += 1
          else if (nx(i) > nu(j)) j += 1
          else { total += 1; tri(x) += 1; tri(u) += 1; tri(nx(i)) += 1; i += 1; j += 1 }
        }
      }
      x += 1
    }
    triExpect = total.toDouble
    val lcc = (0 until v).filter(deg(_) > 0).map { j =>
      if (deg(j) >= 2) tri(j) * 2.0 / (deg(j).toDouble * (deg(j) - 1)) else 0.0
    }
    lccExpect = Seq(simpleVertices.toDouble, tri.sum.toDouble, lcc.sum)
  }

  private def edges() = {
    val g = trace.meta(GraphArGraph(spark, yaml))
    g.edgesStd(st, et, dt)
  }

  private def approx(expect: Seq[Double])(o: Out): Boolean =
    o.values.size == expect.size && o.values.zip(expect).forall { case (a, b) =>
      Harness.close(a, b, 1e-9)
    }

  /** Warm-up: every operator once on the same graph; pagerank with a
    * short round budget (and so unchecked there). */
  override def warmup(): Iterator[Op] = ops(warm = true)

  def pass(p: Int): Iterator[Op] = ops(warm = false)

  private def ops(warm: Boolean): Iterator[Op] = Iterator(
    Op("iterate", "pagerank", "graph", () => {
      val row = GraphOps.pageRank(spark, edges(), iters = if (warm) 2 else 10)
        .agg(count(lit(1)), sum(col("rank")), sum(col("rank") * (col("v") % 97))).head()
      Out.of(row.getLong(0), row.getLong(0).toDouble, row.getDouble(1), row.getDouble(2))
    }, o => warm || approx(prExpect)(o)),
    Op("iterate", "connected_components", "graph", () => {
      val row = GraphOps.connectedComponents(spark, edges())
        .agg(count(lit(1)), sum(col("component")), countDistinct(col("component"))).head()
      Out.of(row.getLong(0), row.getLong(0).toDouble, row.getLong(1).toDouble,
        row.getLong(2).toDouble)
    }, Harness.sameValues(ccExpect)),
    Op("iterate", "louvain", "graph", () => {
      val row = GraphOps.louvainCommunities(spark, edges(), rounds = 3)
        .agg(count(lit(1)), sum(col("community")), countDistinct(col("community"))).head()
      Out.of(row.getLong(0), row.getLong(0).toDouble, row.getLong(1).toDouble,
        row.getLong(2).toDouble)
    }, o => {
      observed("louvain") = o.values
      o.values.head == simpleVertices.toDouble && expect("louvain").forall(_ == o.values)
    }),
    Op("wedge", "triangles", "graph", () => {
      val rows = GraphOps.triangleCount(edges()).collect()
      Out.of(rows.length, rows.map(_.getLong(0).toDouble).sum)
    }, Harness.sameValues(Seq(triExpect))),
    Op("wedge", "clustering", "graph", () => {
      val row = GraphOps.clusteringCoefficients(edges())
        .agg(count(lit(1)), sum(col("tri")), sum(col("lcc"))).head()
      Out.of(row.getLong(0), row.getLong(0).toDouble, row.getLong(1).toDouble,
        row.getDouble(2))
    }, approx(lccExpect))
  )
}
