package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run records about one op. Times in ms.
  * `metaMs` comes from the benchmark's spans, `sparkMs` from the job
  * and planning intervals the listeners report (outside the meta
  * spans); the rest of the op's wall time is split by the stack samples
  * that fell in it: `rest` maps each layer to its share of that time.
  * `unattributed` is the part no repo layer accounts for: the
  * benchmark's own code inside the op, and rest time no sample fell in. */
final case class OpTrace(cls: String, name: String, layer: String, traced: Boolean,
                         wallMs: Double, metaMs: Double, sparkMs: Double, planMs: Double,
                         rest: Map[String, Double], unattributed: Double,
                         resultRows: Long, counts: Map[String, Double]) {
  def attributedMs: Double = wallMs - unattributed
}

/** The benchmark's tracer. Spans come from the benchmark's own calls
  * (the op span, the metadata opens it wraps); Spark's side comes from
  * a SparkListener (task metrics, including the Hadoop FS bytes each
  * task read), a QueryExecutionListener and Hadoop's read-op count.
  * Driver time outside those intervals is attributed by sampling the
  * client thread's stack every few ms and naming the innermost frame
  * of graft or Spark. All of it stays in memory until the run ends.
  * With `enabled` false nothing is registered and spans cost one
  * branch. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  @volatile private var on = false
  private val client = Thread.currentThread()

  // one clock for spans, samples and listener timestamps (epoch ms)
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private def epochNow(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  // per-op accumulators, written by the listener and sampler threads
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, (Long, Long)]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)]
  private val metaIv = mutable.ArrayBuffer.empty[(Double, Double)]
  private val samples = mutable.ArrayBuffer.empty[(Double, String)]
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var worstSkew = 0.0

  private def add(k: String, v: Double): Unit = acc(k) = acc(k) + v

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs(e.jobId) = (e.time, Long.MaxValue); add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      add("spark.stages", 1)
      stageTasks.remove(e.stageInfo.stageId).foreach { d =>
        if (d.size >= 2) {
          val s = d.sorted
          val med = Harness.median(s.map(_.toDouble).toSeq)
          if (med > 0) worstSkew = math.max(worstSkew, s.last / med)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add("spark.tasks", 1)
        add("spark.executor_run_ms", m.executorRunTime.toDouble)
        add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.gc_ms", m.jvmGCTime.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("graph.driver_collect_bytes", m.resultSize.toDouble)
        add("spark.scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime).toDouble)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ph = Seq("analysis", "optimization", "planning").flatMap(phases.get)
    val plan = scala.util.Try(qe.executedPlan).toOption
    val nodes = plan.toSeq.flatMap(planNodes)
    val joins = nodes.filter(isJoin)
    val joinRows = joins.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    lock.synchronized {
      ph.foreach(p => plans += ((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
      add("spark.plan_ms", ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
      add("graph.smj", nodes.count(_.isInstanceOf[SortMergeJoinExec]).toDouble)
      add("graph.bhj", nodes.count(_.isInstanceOf[BroadcastHashJoinExec]).toDouble)
      add("spark.join_rows", joinRows.toDouble)
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: SortMergeJoinExec | _: BroadcastHashJoinExec | _: ShuffledHashJoinExec |
         _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
    case _ => false
  }

  // ---------------------------------------------------------------- sampler

  @volatile private var sampling = false
  private lazy val sampler: Thread = {
    val t = new Thread(() => {
      while (true) {
        if (sampling) {
          val layer = Trace.layerOf(client.getStackTrace)
          val at = epochNow()
          lock.synchronized(samples += ((at, layer)))
        }
        Thread.sleep(Trace.SampleMs)
      }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Register (or drop) the listeners; only the traced passes have them. */
  def setOn(v: Boolean): Unit = if (enabled && v != on) {
    if (v) {
      sampler
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    on = v
  }
  def isOn: Boolean = on

  /** A metadata span (GraphAr yaml resolve and open). */
  def meta[T](body: => T): T =
    if (!on) body
    else {
      val t0 = epochNow()
      try body finally metaIv += ((t0, epochNow()))
    }

  /** Hadoop's read-op count for the `file` scheme (driver and tasks). */
  private def readOps(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("readOps"))).map(_.longValue).getOrElse(0L)

  private var ops0 = 0L
  private var epoch0 = 0.0

  /** Start of an op span. */
  def begin(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      jobs.clear(); plans.clear(); metaIv.clear(); samples.clear(); acc.clear()
      stageTasks.clear(); worstSkew = 0.0
    }
    ops0 = readOps()
    epoch0 = epochNow()
    sampling = true
  }

  /** End of an op span: drain the bus and fold everything into one record. */
  def end(op: Op, wallMs: Double, resultRows: Long, pinsLeaked: Int): OpTrace = {
    if (!on)
      return OpTrace(op.cls, op.name, op.layer, traced = false, wallMs, 0, 0, 0,
        Map.empty, 0, resultRows, Map("operators.pins_leaked" -> pinsLeaked.toDouble))
    sampling = false
    val epoch1 = epoch0 + wallMs
    val ops1 = readOps()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      def clip(iv: Iterable[(Double, Double)]) = iv.map { case (s, e) =>
        (math.max(s, epoch0), math.min(e, epoch1))
      }.filter { case (s, e) => e > s }
      val jobIv = clip(jobs.values.map { case (s, e) =>
        (s.toDouble, if (e == Long.MaxValue) epoch1 else e.toDouble) })
      val measured = Trace.merge(clip(metaIv) ++ jobIv ++ clip(plans))
      val metaMs = Trace.length(Trace.merge(clip(metaIv)))
      val measuredMs = math.min(wallMs, Trace.length(measured))
      // the time no span or listener covers, split by the samples in it
      val restMs = wallMs - measuredMs
      val inRest = samples.collect {
        case (t, l) if t >= epoch0 && t < epoch1 && !measured.exists { case (s, e) => t >= s && t < e } => l
      }
      val rest = inRest.groupBy(identity).map { case (l, ls) => l -> restMs * ls.size / inRest.size }
      val unattributed =
        if (inRest.isEmpty) restMs else rest.getOrElse(Trace.Unnamed, 0.0) + rest.getOrElse("bench", 0.0)
      val counts = acc.toMap ++ Map(
        "scan.read_ops" -> (ops1 - ops0).toDouble,
        "spark.task_skew" -> worstSkew,
        "spark.driver_idle_ms" -> math.max(0.0, wallMs - Trace.length(Trace.merge(jobIv))),
        "spark.driver_ms" -> rest.getOrElse("spark", 0.0),
        "operators.pins_leaked" -> pinsLeaked.toDouble)
      OpTrace(op.cls, op.name, op.layer, traced = true, wallMs, metaMs, measuredMs - metaMs,
        acc("spark.plan_ms"), rest - Trace.Unnamed, unattributed, resultRows, counts)
    }
  }
}

object Trace {
  val SampleMs = 4L
  val Unnamed = "unnamed"

  /** Layer of a stack sample: the innermost frame of graft or Spark
    * names it; library frames (JDK, Scala, Hadoop, Parquet, ...) belong
    * to whoever called them. */
  def layerOf(stack: Array[StackTraceElement]): String =
    stack.iterator.map(_.getClassName).collectFirst {
      case c if c.startsWith("graft.perfbench.") => "bench"
      case c if c.startsWith("graft.meta.") || c.startsWith("graft.catalog.") ||
        c.startsWith("graft.streaming.GraphArSink") => "meta"
      case c if c.startsWith("graft.sources.") || c.startsWith("graft.util.IndexCommit") =>
        "sources.graphar"
      case c if c.startsWith("graft.graph.") => "graph"
      case c if c.startsWith("graft.operators.") || c.startsWith("graft.functions.") => "operators"
      case c if c.startsWith("graft.") => c.split('.').take(2).mkString(".")
      case c if c.startsWith("org.apache.spark.") => "spark"
    }.getOrElse(Unnamed)

  /** Sorted, non-overlapping union of [start, end) intervals. */
  def merge(iv: Iterable[(Double, Double)]): Seq[(Double, Double)] =
    iv.toSeq.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: done, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: done
      case (done, cur) => cur :: done
    }.reverse

  def length(iv: Seq[(Double, Double)]): Double = iv.map { case (s, e) => e - s }.sum
}
