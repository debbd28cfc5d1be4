package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The repo benchmark. One JVM runs one workload:
  *
  * {{{
  *   Main --workload graph_serve --seed 1 --seconds 20 --trace 0 --work <dir>
  * }}}
  *
  * Set-up (session, inputs, writes, page-cache pre-touch, one warm-up
  * pass) is timed as `setup_s`. Then passes of the workload's op
  * stream run in a closed loop with one client, as many as `--seconds`
  * holds. Every op result is checked, against the values `--expect`
  * records for the seed where the benchmark cannot derive them itself;
  * the last stdout line is the JSON result. With `--trace 1` passes
  * alternate between untraced and traced, the per-layer metrics come
  * from the traced ones, and the difference is the tracing overhead.
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 20,
                        trace: Boolean = false, plant: Int = -1,
                        work: String = "", traceOut: String = "", expect: String = "")

  private def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--plant" :: v :: t => go(o.copy(plant = v.toInt), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--trace-out" :: v :: t => go(o.copy(traceOut = v), t)
      case "--expect" :: v :: t => go(o.copy(expect = v), t)
      case Nil => o
      case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
    }
    val o = go(Opts(), args.toList)
    require(Workloads.names.contains(o.workload),
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    require(o.work.nonEmpty, "--work <dir> is required")
    o
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--train")) return train(args(1))
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new java.io.File(o.work).getAbsoluteFile
    val spark = session(s"perfbench-${o.workload}", work)
    try run(spark, o, work, jvmStart)
    finally spark.stop()
    sys.exit(0)
  }

  private def session(name: String, work: java.io.File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(name)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.graph.GraftSparkSessionExtension")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Class-loading training run for the build's class-data archive:
    * the set-up of every gated workload. */
  private def train(dir: String): Unit = {
    val work = new java.io.File(dir).getAbsoluteFile
    val spark = session("perfbench-train", work)
    try Seq("graph_serve", "llm_pipeline").foreach { name =>
      Workloads(name, spark, s"$work/$name", 0L, new Trace(spark, false), Expect.none)
        .component.setup()
    } finally spark.stop()
    sys.exit(0)
  }

  private def run(spark: SparkSession, o: Opts, work: java.io.File, jvmStart: Long): Unit = {
    System.err.println(f"[perfbench] session up: ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s")
    val trace = new Trace(spark, o.trace)
    val expect =
      if (o.expect.isEmpty) Expect.none
      else Expect.load(new java.io.File(o.expect), o.workload, o.seed)
    val wl = Workloads(o.workload, spark, work.getPath, o.seed, trace, expect)
    wl.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val c = wl.component
    val s0 = Harness.now()
    c.setup()
    c.dirs.foreach(d => Harness.preTouch(new java.io.File(d)))
    val onDisk = c.dirs.map(d => Harness.diskBytes(new java.io.File(d))).sum
    System.err.println(f"[perfbench] inputs: ${Harness.ms(s0, Harness.now()) / 1000}%.2f s, " +
      f"$onDisk bytes on disk, heap max ${Runtime.getRuntime.maxMemory / 1048576} MB")

    val samples = ArrayBuffer.empty[Sample]
    val traces = ArrayBuffer.empty[OpTrace]
    val heap = ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var opIndex = 0
    val seqDigest = java.security.MessageDigest.getInstance("SHA-256")

    def runPass(it: Iterator[Op], p: Int, record: Boolean): Unit = {
      while (it.hasNext) {
        val op = it.next()
        seqDigest.update(s"${c.name}/$p/${op.name}/${op.arg};".getBytes("UTF-8"))
        spark.catalog.clearCache()
        val pins0 = Harness.pins(spark)
        trace.begin()
        val t0 = Harness.now()
        val out = scala.util.Try(op.run())
        val t1 = Harness.now()
        val leaked = math.max(0, Harness.pins(spark) - pins0)
        // close the trace before the check: checks may run jobs of their own
        val tr = trace.end(op, Harness.ms(t0, t1), out.toOption.map(_.rows).getOrElse(0L), leaked)
        val planted = record && opIndex == o.plant
        val ok = out.toOption.exists { res =>
          val seen = if (planted) res.copy(values = res.values.map(_ + 1.0)) else res
          scala.util.Try(op.check(seen)).getOrElse(false)
        }
        out.failed.foreach(e => System.err.println(s"[perfbench] ${op.name} threw: $e"))
        if (out.isSuccess && !ok) System.err.println(s"[perfbench] ${op.name} wrong result: ${out.get}")
        if (out.isSuccess) scala.util.Try(op.after())
        attempted += 1
        if (!ok) failed += 1
        if (record) {
          samples += Sample(op.cls, op.name, op.layer, p, Harness.ms(t0, t1), ok, trace.isOn)
          traces += tr
          opIndex += 1
        }
      }
    }

    // warm-up: every op type once, checked but not timed
    val w0 = Harness.now()
    runPass(c.warmup(), 0, record = false)
    c.afterWarmup()
    System.err.println(f"[perfbench] warm-up: ${Harness.ms(w0, Harness.now()) / 1000}%.2f s")
    heap += Harness.heapAfterGcMb()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // measured passes, closed loop with one client; the pass count
    // follows from --seconds and the workload's nominal pass time (three
    // at least when tracing: traced passes between untraced ones)
    val nPasses = math.max(if (o.trace) 3 else 1, math.round(o.seconds / wl.passS).toInt)
    val t0 = Harness.now()
    val passMs = ArrayBuffer.empty[Double]
    for (p <- 1 to nPasses) {
      val traced = o.trace && p % 2 == 0
      trace.setOn(traced)
      val p0 = Harness.now()
      runPass(c.pass(p), p, record = true)
      passMs += Harness.ms(p0, Harness.now())
      trace.setOn(false)
      heap += Harness.heapAfterGcMb()
      System.err.println(f"[perfbench] pass $p: ${passMs.last / 1000}%.2f s, heap ${heap.last}%.0f MB")
    }
    val measuredS = Harness.ms(t0, Harness.now()) / 1000

    val report = new Report(wl, samples.toSeq, traces.toSeq, heap.toSeq, setupS, measuredS,
      failed.toDouble / attempted)
    val metrics = if (o.trace) report.perLayer else report.endToEnd
    val seqHash = seqDigest.digest().map(b => f"$b%02x").mkString.take(16)
    report.printTable(System.out)
    if (o.traceOut.nonEmpty) report.writeTrace(new java.io.File(o.traceOut), seqHash)
    println(f"[perfbench] ${o.workload} seed=${o.seed} attempted=$attempted failed=$failed " +
      f"setup_s=$setupS%.3f measured_s=$measuredS%.3f ops_seq=$seqHash")
    if (c.observed.nonEmpty) println(s"[perfbench] observed for seed ${o.seed}: " +
      c.observed.map { case (k, vs) => s"${Harness.jsonStr(k)}: " + vs.map(Harness.jsonNum).mkString("[", ", ", "]") }
        .mkString("{", ", ", "}"))
    val body = metrics.map { case (k, (v, unit)) =>
      s"${Harness.jsonStr(k)}: {\"value\": ${Harness.jsonNum(v)}, \"unit\": ${Harness.jsonStr(unit)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
  }
}
