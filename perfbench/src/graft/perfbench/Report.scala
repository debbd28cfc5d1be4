package graft.perfbench

import Harness.{median, percentile}

/** Turns the samples and op traces of one run into the metrics. */
final class Report(wl: Workload, samples: Seq[Sample], traces: Seq[OpTrace],
                   heap: Seq[Double], setupS: Double, measuredS: Double,
                   failedFrac: Double) {

  /** Op timings without tracing: all of them in an untraced run, the
    * untraced passes of a traced one. */
  private val plain = samples.filterNot(_.traced)
  private val passes = plain.map(_.pass).distinct.size

  private def or0(x: Double): Double = if (x.isNaN) 0.0 else x

  /** Per op type: median latency, how often it runs per pass, and
    * whether it writes. */
  private val types: Seq[(String, Double, Double, Boolean)] =
    plain.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, median(ss.map(_.ms)), ss.size.toDouble / passes, ss.head.write)
    }

  /** Seconds one pass of the op mix spends in the selected op types,
    * from per-type median latencies (independent of the pass count). */
  private def passSeconds(writes: Boolean): Double =
    types.collect { case (_, m, k, w) if w == writes => m * k }.sum / 1000

  /** End-to-end metrics; each is defined on every workload. */
  def endToEnd: Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "read_s" -> (passSeconds(writes = false), "s"),
    "write_s" -> (passSeconds(writes = true), "s"),
    "lat_p50_ms" -> (median(types.map(_._2)), "ms"),
    "write_amp" -> (wl.component.writeAmp, "ratio"),
    "peak_heap_mb" -> (heap.max, "MB"))

  private def p50(cls: String): Double = or0(median(plain.filter(_.cls == cls).map(_.ms)))

  /** Median over passes of the time one pass spends in `cls`, in s. */
  private def perPass(cls: String): Double = {
    val byPass = plain.filter(_.cls == cls).groupBy(_.pass).values.map(_.map(_.ms).sum)
    or0(median(byPass.toSeq) / 1000)
  }

  /** The op classes of the three workloads, each 0 where it does not run. */
  def classes: Seq[(String, (Double, String))] = Seq(
    "lookup_p50_ms" -> (p50("lookup"), "ms"),
    "traverse_p50_ms" -> (p50("traverse"), "ms"),
    "scan_p50_ms" -> (p50("scan"), "ms"),
    "fresh_read_p50_ms" -> (p50("fresh"), "ms"),
    "stage_p50_ms" -> (p50("stage"), "ms"),
    "compact_s" -> (p50("compact") / 1000, "s"),
    "iterate_s" -> (perPass("iterate"), "s"),
    "wedge_s" -> (perPass("wedge"), "s"),
    "dedup_s" -> (perPass("dedup"), "s"),
    "retrieval_s" -> (perPass("retrieval"), "s"),
    "index_s" -> (perPass("index"), "s"),
    "failed_frac" -> (failedFrac, "ratio"))

  private val traced = traces.filter(_.traced)

  private def mean(ts: Seq[OpTrace], k: String): Double =
    if (ts.isEmpty) 0.0 else ts.map(_.counts.getOrElse(k, 0.0)).sum / ts.size

  private def ratio(ts: Seq[OpTrace], k: String): Double =
    ts.map(_.counts.getOrElse(k, 0.0)).sum / math.max(1L, ts.map(_.resultRows).sum)

  private def opSeconds(name: String): Double =
    or0(median(traced.filter(_.name == name).map(_.wallMs)) / 1000)

  /** Traced minus untraced wall time, as % of untraced, over op types
    * that ran both ways (weighted by how often each ran). The traced
    * pass sits between two untraced ones, so warm-up drift cancels. */
  def overheadPct: Double = {
    val both = traces.groupBy(_.name).values.flatMap { ts =>
      val (t, u) = ts.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((ts.size * median(t.map(_.wallMs)), ts.size * median(u.map(_.wallMs))))
    }
    100.0 * (both.map(_._1).sum / math.max(1e-9, both.map(_._2).sum) - 1.0)
  }

  /** Share of the traced ops' wall time that a span, a listener or a
    * stack sample puts in one of the repo's layers (meta, sources,
    * graph, operators, the Spark engine). */
  def coverage: Double = traced.map(_.attributedMs).sum / math.max(1e-9, traced.map(_.wallMs).sum)

  private val sparkKeys = Seq(
    "spark.plan_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_idle_ms" -> "ms", "spark.driver_ms" -> "ms",
    "spark.scheduler_delay_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.fetch_wait_ms" -> "ms")

  val graphOps = Seq("pagerank", "connected_components", "louvain", "triangles", "clustering")
  val llmOps = Seq("exact_dedup", "minhash", "bm25", "bm25_stored", "brute_topk",
    "ivfpq_probe", "ivfpq_append", "ivfpq_compact")

  /** Per-layer metrics of the traced run: per op averages over the
    * traced ops, 0 where a layer is not exercised by the workload. */
  def perLayer: Seq[(String, (Double, String))] = classes ++ layers

  private def layers: Seq[(String, (Double, String))] = {
    val prim = traced
    val metaOps = traced.filter(_.metaMs > 0)
    val graphLayer = traced.filter(t => t.layer == "graph")
    val w = wl.component.layerExtra.withDefaultValue(0.0)
    Seq(
      "meta.open_ms" -> (if (metaOps.isEmpty) 0.0 else metaOps.map(_.metaMs).sum / metaOps.size, "ms"),
      "scan.bytes_read" -> (mean(prim, "scan.bytes_read"), "bytes"),
      "scan.read_ops" -> (mean(prim, "scan.read_ops"), "count"),
      "scan.rows_read_per_row_out" -> (ratio(prim, "scan.records_read"), "ratio"),
      "write.bytes_written" -> (w("write.bytes_written"), "bytes"),
      "write.files_created" -> (w("write.files_created"), "count"),
      "write.space_amp" -> (w("write.space_amp"), "ratio"),
      "write.delta_log_len" -> (w("write.delta_log_len"), "count")) ++
    graphOps.map(n => s"graph.${n}_s" -> (opSeconds(n), "s")) ++ Seq(
      "graph.jobs_per_op" -> (mean(graphLayer, "spark.jobs"), "count"),
      "graph.smj_per_op" -> (mean(graphLayer, "graph.smj"), "count"),
      "graph.bhj_per_op" -> (mean(graphLayer, "graph.bhj"), "count"),
      "graph.driver_collect_bytes" -> (mean(graphLayer, "graph.driver_collect_bytes"), "bytes")) ++
    llmOps.map(n => s"operators.${n}_s" -> (opSeconds(n), "s")) ++ Seq(
      "operators.pins_leaked" -> (traces.map(_.counts.getOrElse("operators.pins_leaked", 0.0)).sum, "count"),
      "operators.ivfpq_recall10" -> (w("operators.ivfpq_recall10"), "ratio")) ++
    sparkKeys.map { case (k, u) => k -> (mean(prim, k), u) } ++ Seq(
      "spark.task_skew" -> (if (prim.isEmpty) 0.0 else prim.map(_.counts.getOrElse("spark.task_skew", 0.0)).max, "ratio"),
      "spark.rows_per_row_out" -> (ratio(prim, "spark.join_rows"), "ratio"),
      "trace.coverage" -> (coverage, "ratio"),
      "trace.overhead_pct" -> (overheadPct, "%"))
  }

  /** One row per op type: samples, latency, where the time went, counts. */
  private def perOp: Seq[(String, Map[String, Double])] =
    samples.map(_.name).distinct.map { n =>
      val s = samples.filter(_.name == n).map(_.ms)
      val t = traced.filter(_.name == n)
      val wall = t.map(_.wallMs).sum
      def rest(l: String) = t.map(_.rest.getOrElse(l, 0.0)).sum
      val sampled = t.flatMap(_.rest.keys).distinct
      val base = Map("n" -> s.size.toDouble, "p50_ms" -> median(s), "p95_ms" -> percentile(s, 0.95))
      n -> (if (t.isEmpty) base else base ++ Map(
        "meta_share" -> (t.map(_.metaMs).sum + rest("meta")) / wall,
        "spark_share" -> (t.map(_.sparkMs).sum + rest("spark")) / wall,
        "graft_share" -> sampled.filterNot(Set("meta", "spark", "bench")).map(rest).sum / wall,
        "coverage" -> t.map(_.attributedMs).sum / wall,
        "plan_ms" -> t.map(_.planMs).sum / t.size,
        "rows_out" -> t.map(_.resultRows).sum.toDouble / t.size) ++
        sampled.map(l => s"sampled.$l" -> rest(l) / wall).toMap ++
        t.flatMap(_.counts.keys).distinct.map(k => k -> mean(t, k)).toMap)
    }

  def printTable(out: java.io.PrintStream): Unit = {
    out.println(f"[perfbench] ${wl.name}: ${wl.sizes}")
    out.println(f"[perfbench] ${"op"}%-22s ${"n"}%5s ${"p50_ms"}%10s ${"p95_ms"}%10s " +
      f"${"meta"}%6s ${"spark"}%6s ${"graft"}%6s ${"cover"}%6s ${"jobs"}%6s")
    perOp.foreach { case (n, m) =>
      def g(k: String) = m.get(k).map(x => f"$x%6.2f").getOrElse(f"${"-"}%6s")
      out.println(f"[perfbench] $n%-22s ${m("n").toInt}%5d ${m("p50_ms")}%10.1f ${m("p95_ms")}%10.1f " +
        s"${g("meta_share")} ${g("spark_share")} ${g("graft_share")} ${g("coverage")} ${g("spark.jobs")}")
    }
  }

  /** Full trace: per-op-type layer metrics plus the run-level ones. */
  def writeTrace(f: java.io.File, seqHash: String): Unit = {
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"${Harness.jsonStr(k)}: ${Harness.jsonNum(v)}" }.mkString("{", ", ", "}")
    val ops = perOp.map { case (n, m) => s"${Harness.jsonStr(n)}: ${obj(m.toSeq.sortBy(_._1))}" }
      .mkString("{", ", ", "}")
    val all = obj(perLayer.map { case (k, (v, _)) => k -> v })
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(s"""{"workload": ${Harness.jsonStr(wl.name)}, "ops_seq": ${Harness.jsonStr(seqHash)}, """ +
      s""""setup_s": $setupS, "measured_s": $measuredS, "per_op": $ops, "per_layer": $all}""")
    finally w.close()
  }
}
