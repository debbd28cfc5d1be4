package graft.perfbench

import org.apache.spark.sql.SparkSession

/** A workload: one component, sized so that one layer does most of its
  * work, the session settings it needs, and the nominal time of one of
  * its passes on a 4-core machine (a run of `--seconds s` measures
  * max(1, round(s / passS)) passes, so the op sequence of a seed is
  * fixed). */
final case class Workload(name: String, component: Component,
                          confs: Map[String, String], sizes: String, passS: Double)

object Workloads {
  val names: Seq[String] = Seq("graph_serve", "graph_analytics", "llm_pipeline")

  def apply(name: String, spark: SparkSession, root: String, seed: Long,
            trace: Trace, expect: Expect): Workload = name match {
    case "graph_serve" =>
      Workload(name, new Serve(spark, root, seed, Sizes.serveEdges, Sizes.serveVertices, trace),
        Map.empty, s"${Sizes.serveEdges} edges, ${Sizes.serveVertices} vertices, versioned", 20)
    case "graph_analytics" =>
      // every guard below the graph: the shuffled plans a large graph takes
      Workload(name, new Analytics(spark, root, seed, Sizes.zipfEdges, Sizes.zipfVertices, trace, expect),
        Sizes.guards.map(_ -> "1000").toMap,
        s"${Sizes.zipfEdges} Zipf edges, ${Sizes.zipfVertices} vertices, guards at 1000", 30)
    case "llm_pipeline" =>
      Workload(name, new Llm(spark, root, seed, Sizes.docs, Sizes.vectors, trace, expect),
        Map.empty, s"${Sizes.docs} docs, ${Sizes.vectors} 64-d vectors", 20)
  }
}

/** Input sizes, chosen so that set-up, warm-up and one measured window
  * fit the per-run time budget on a 4-core machine. */
object Sizes {
  val serveEdges = 40000
  val serveVertices = 4096
  val zipfEdges = 40000
  val zipfVertices = 10000
  val docs = 3000
  val vectors = 3000
  val guards = Seq("spark.graft.iter.broadcastMaxVertices", "spark.graft.truss.broadcastMaxEdges",
    "spark.graft.cc.maxDriverEdges", "spark.graft.bfs.maxBroadcastEdges")
}
