package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What an op hands back for checking: a few numbers that summarise
  * its result (counts and checksums) and the number of result rows. */
final case class Out(values: Seq[Double], rows: Long)

object Out {
  def of(rows: Long, values: Double*): Out = Out(values, rows)

  /** Count and two checksums of an edge-shaped (src, dst) frame. The
    * aggregate runs on top of the op's own plan, as a caller would. */
  def edges(df: DataFrame): Out = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("src")), lit(0L)),
      coalesce(sum(col("src") * 4096L + col("dst")), lit(0L))).head()
    Out(Seq(r.getLong(0).toDouble, r.getLong(1).toDouble, r.getLong(2).toDouble),
      r.getLong(0))
  }
}

/** One operation of a workload: `cls` is the end-to-end class its time
  * lands in, `layer` the layer whose entry point it calls. `run` is the
  * timed call; `check` compares its output with the benchmark's own
  * expectation; `after` updates the benchmark's model once the op ran. */
final case class Op(cls: String, name: String, layer: String,
                    run: () => Out, check: Out => Boolean,
                    after: () => Unit = () => (), arg: String = "")

/** One timed op execution. */
final case class Sample(cls: String, name: String, layer: String, pass: Int,
                        ms: Double, ok: Boolean, traced: Boolean) {
  def write: Boolean = layer == "sources.graphar.write"
}

/** A set of inputs plus the op stream that runs over them. */
trait Component {
  def name: String
  /** Generate inputs, write them, compute the expectations. */
  def setup(): Unit
  /** Ops of measured pass `p` (from 1), built lazily so that
    * expectations follow the model state the earlier ops left behind.
    * Every pass has the same op-type composition. */
  def pass(p: Int): Iterator[Op]
  /** The warm-up: every op type once, in set-up. */
  def warmup(): Iterator[Op] = pass(0)
  /** Called once the warm-up has run: what it wrote is set-up, not
    * measurement, so the write counts start again from here. */
  def afterWarmup(): Unit = ()
  /** Directories the inputs live in (page-cache pre-touch). */
  def dirs: Seq[String]
  /** Bytes the write ops put on disk per byte of user data they were given. */
  def writeAmp: Double = 0.0
  /** Per-layer counts the component measures itself. */
  def layerExtra: Map[String, Double] = Map.empty
  /** Outputs checked against recorded values (perfbench/expect.json),
    * as this run saw them: printed at the end, to record a new seed. */
  val observed: scala.collection.mutable.Map[String, Seq[Double]] =
    scala.collection.mutable.LinkedHashMap.empty
}

/** What the write ops of a component put on disk under `dir`: every
  * file that is new or rewritten since the last look counts. */
final class WriteLog(dir: java.io.File) {
  private var seen: Map[String, Long] = Map.empty
  var bytes = 0L
  var files = 0L
  var userBytes = 0L

  /** Count from the current contents on (the inputs written in set-up,
    * what the warm-up wrote). */
  def reset(): Unit = {
    seen = Harness.listing(dir)
    bytes = 0L; files = 0L; userBytes = 0L
  }

  def account(): Unit = {
    val now = Harness.listing(dir)
    val fresh = now.filter { case (p, n) => !seen.get(p).contains(n) }
    bytes += fresh.values.sum
    files += fresh.size
    seen = now
  }

  def amp: Double = bytes.toDouble / math.max(1L, userBytes)

  /** Per-layer write counts; `liveBytes` is the user data the store holds now. */
  def metrics(liveBytes: Double, foldedPerRead: Double): Map[String, Double] = Map(
    "write.bytes_written" -> bytes.toDouble,
    "write.files_created" -> files.toDouble,
    "write.space_amp" -> Harness.diskBytes(dir) / math.max(1.0, liveBytes),
    "write.delta_log_len" -> foldedPerRead)
}

object Harness {
  def now(): Long = System.nanoTime()
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def sameValues(expect: Seq[Double])(o: Out): Boolean =
    o.values.size == expect.size && o.values.zip(expect).forall { case (a, b) => a == b }

  /** Persistent RDDs plus cached plans: the pin baseline an op must
    * return to. The cached-plan list is private in Spark, so it is read
    * reflectively; if that fails only emptiness is counted. */
  def pins(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val cm = spark.sharedState.cacheManager
    val plans = scala.util.Try {
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    }.getOrElse(if (cm.isEmpty) 0 else 1)
    rdds + plans
  }

  /** Heap in use after a full collection, in MB. Spark frees the blocks
    * of unreachable persisted RDDs asynchronously once a collection has
    * found them, so: collect, let that clean-up run, collect again. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Read every file once so the inputs start from the page cache. */
  def preTouch(dir: java.io.File): Unit = {
    val buf = new Array[Byte](1 << 20)
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.isFile) {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    walk(dir)
  }

  /** (path, size) of every regular file under `dir`. */
  def listing(dir: java.io.File): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (f.isFile) b += f.getPath -> f.length()
    walk(dir)
    b.result()
  }

  def diskBytes(dir: java.io.File): Long = listing(dir).values.sum

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
