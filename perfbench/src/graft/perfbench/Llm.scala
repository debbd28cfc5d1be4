package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Retrieval, Similarity}

/** llm_pipeline's component: a synthetic corpus (the TextScaleBench
  * construction: Zipf vocabulary, every 100th doc a near-duplicate of
  * its predecessor, plus every 250th an exact copy) and clustered
  * 64-d embeddings (VectorScaleBench's clustered variant). The postings
  * and IVF-PQ indexes are built in set-up; each pass dedups, retrieves
  * and maintains the vector index. No GraphAr is involved. The minhash
  * pair checksum and the IVF-PQ recall@10 depend on the program's hash
  * functions and index training: they are checked against the values
  * recorded for the seed, where there are any. */
final class Llm(spark: SparkSession, root: String, seed: Long,
                nDocs: Int, nVecs: Int, trace: Trace, expect: Expect) extends Component {
  val name = "llm"
  private val base = s"$root/llm"
  private val idx = s"$base/postings_idx"
  private val ivf = s"$base/ivfpq_idx"
  private val dims = 64
  private val clusters = 61
  private val vocab = 50000
  private val docLen = 40

  private var toks: Array[Array[Int]] = _ // token ids per doc; tail token is -(id+1)
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var vecs: Array[Array[Float]] = _
  private var truth: Map[Long, Seq[(Long, Double)]] = _
  private var distinctTexts = 0L
  private var planted: Set[(Long, Long)] = Set.empty
  private var lastRecall = Double.NaN
  private var appended = 0L
  private val vectorBytes = 8L + 4L * dims // id + float vector
  private val writes = new WriteLog(new java.io.File(ivf))

  override def writeAmp: Double = writes.amp
  override def afterWarmup(): Unit = writes.reset()
  // every probe runs on a compacted index: no delta is folded per read
  override def layerExtra: Map[String, Double] =
    writes.metrics((nVecs + appended).toDouble * vectorBytes, 0.0) +
      ("operators.ivfpq_recall10" -> lastRecall)

  def dirs: Seq[String] = Seq(base)

  private def text(d: Int): String =
    toks(d).map(t => if (t < 0) s"t${-t - 1}" else s"w$t").mkString(" ")

  private def zipfTok(r: java.util.SplittableRandom): Int = {
    val u = (r.nextLong(1L << 30) + 1).toDouble / (1L << 30)
    math.max(1, math.floor(math.pow(vocab.toDouble, u)).toInt)
  }

  /** Unit vector around `center` with 0.3 noise, seeded by `id`. */
  private def vector(center: Array[Double], id: Long): Array[Float] = {
    val r = new java.util.SplittableRandom(seed * 977L + id)
    val raw = center.map(c => c + 0.3 * (r.nextDouble() * 2 - 1))
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / n).toFloat)
  }

  private def centers(salt: Long, n: Int): Array[Array[Double]] = {
    val r = new java.util.SplittableRandom(seed * 131L + salt)
    Array.fill(n)(Array.fill(dims)(r.nextDouble() * 2 - 1))
  }

  def setup(): Unit = {
    import spark.implicits._
    toks = new Array[Array[Int]](nDocs)
    (0 until nDocs).foreach { d =>
      toks(d) =
        if (d % 250 == 7) toks(d - 1).clone()
        else {
          val srcDoc = if (d % 100 == 1) d - 1 else d
          val r = new java.util.SplittableRandom(seed * 1000003L + srcDoc)
          Array.fill(docLen - 1)(zipfTok(r)) :+ -(d % 100000 + 1)
        }
    }
    distinctTexts = toks.map(_.toSeq).distinct.length.toLong
    // near-duplicates and exact copies, each paired with its source
    planted = (0 until nDocs).filter(d => d % 100 == 1 || d % 250 == 7)
      .map(d => ((d - 1).toLong, d.toLong)).toSet
    // blocking key: 100-doc blocks, so a planted pair shares its block
    (0 until nDocs).map(d => (d.toLong, text(d), s"s${(d / 100) % 8}"))
      .toDF("doc_id", "text", "source")
      .repartition(4).write.parquet(s"$base/documents")
    docs = spark.read.parquet(s"$base/documents")

    val cs = centers(0, clusters)
    val cr = new java.util.SplittableRandom(seed * 31L + 5)
    vecs = Array.tabulate(nVecs)(i => vector(cs(cr.nextInt(clusters)), i))
    vecs.indices.map(i => (i.toLong, vecs(i))).toDF("vec_id", "embedding")
      .repartition(4).write.parquet(s"$base/embeddings")
    emb = spark.read.parquet(s"$base/embeddings")
    queries = emb.filter(col("vec_id") < 8)
    truth = (0L until 8L).map(q => q -> topK(vecs(q.toInt), q, 10)).toMap

    val t0 = System.nanoTime()
    Retrieval.writePostingsIndex(docs, idx)
    val t1 = System.nanoTime()
    Similarity.writeIvfPqIndex(emb, ivf, modulo = math.max(40, nVecs / 64))
    System.err.println(f"[perfbench] postings ${(t1 - t0) / 1e9}%.2f s, ivfpq ${(System.nanoTime() - t1) / 1e9}%.2f s")
    writes.reset()
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  private def topK(q: Array[Float], qid: Long, k: Int): Seq[(Long, Double)] =
    vecs.indices.iterator.filter(_ != qid).map(i => (i.toLong, cos(q, vecs(i))))
      .toSeq.sortBy(-_._2).take(k)

  /** BM25 in the program's documented arithmetic (Retrieval.bm25TopK):
    * micro-quantised per-term scores summed as integers, top-k by
    * (score desc, doc id). */
  private def bm25(terms: Seq[String], k: Int): Seq[(Long, Long)] = {
    val n = nDocs.toDouble
    val tot = nDocs.toLong * docLen
    val avgdl = tot.toDouble / n
    val ids = terms.map(_.stripPrefix("w").toInt)
    val tf = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
    toks.indices.foreach(d => toks(d).foreach(t => if (ids.contains(t)) tf((t, d)) += 1))
    val df = tf.keys.groupBy(_._1).map { case (t, ks) => t -> ks.size }
    val score = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    tf.foreach { case ((t, d), f) =>
      val idf = (n - df(t).toDouble + 0.5) / (df(t).toDouble + 0.5)
      val tfn = (f.toDouble * (Retrieval.K1 + 1.0)) /
        (f.toDouble + Retrieval.K1 * ((1.0 - Retrieval.B) + Retrieval.B * (docLen.toDouble / avgdl)))
      score(d) += math.floor(idf * tfn * 1e6 + 0.5).toLong
    }
    score.toSeq.map { case (d, s) => (d.toLong, s) }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  private def bm25Out(df: DataFrame): Out = {
    val rows = df.select(col("doc_id"), col("score_micro")).collect()
    Out(rows.flatMap(r => Seq(r.getLong(0).toDouble, r.getLong(1).toDouble)).toSeq, rows.length)
  }

  private def pairsOut(df: DataFrame): (Out, Set[(Long, Long)]) = {
    val rows = df.select(col("a_id"), col("b_id")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
    (Out.of(rows.length, rows.length.toDouble, rows.map { case (a, b) => a * nDocs + b }.sum.toDouble),
      rows.toSet)
  }

  private def neighbours(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, g) => q -> g.map(_._2).toSeq }

  def pass(p: Int): Iterator[Op] = {
    val r = new java.util.SplittableRandom(seed * 7777L + p)
    val terms = Seq.fill(3)(s"w${20 + r.nextInt(480)}").distinct
    val expectBm25 = bm25(terms, 20).flatMap { case (d, s) => Seq(d.toDouble, s.toDouble) }
    var found: Set[(Long, Long)] = Set.empty
    val delta = math.max(8, nVecs / 100)
    val fresh = centers(1000 + p, 4)
    val firstNew = nVecs.toLong + appended
    val deltaDf = {
      import spark.implicits._
      (0 until delta).map { i =>
        val id = firstNew + i
        (id, vector(fresh(i % fresh.length), id))
      }.toDF("vec_id", "embedding")
    }
    Iterator(
      Op("dedup", "exact_dedup", "operators", () => {
        val row = Dedup.exact(docs).agg(count(lit(1)), sum(col("keep_id")), sum(col("n_dups"))).head()
        Out.of(row.getLong(0), row.getLong(0).toDouble, row.getLong(2).toDouble)
      }, Harness.sameValues(Seq(distinctTexts.toDouble, nDocs.toDouble))),
      Op("dedup", "minhash", "operators", () => {
        val (o, s) = pairsOut(Dedup.minhashLshPairs(docs)); found = s; o
      }, o => {
        observed("minhash") = o.values
        // only planted pairs, nearly all of them (LSH may miss one), and
        // exactly the ones recorded for the seed
        found.subsetOf(planted) && found.size >= 0.9 * planted.size &&
          expect("minhash").forall(_ == o.values)
      }),
      Op("retrieval", "bm25", "operators", () => bm25Out(Retrieval.bm25TopK(docs, terms)),
        Harness.sameValues(expectBm25), arg = terms.mkString(" ")),
      Op("retrieval", "bm25_stored", "operators",
        () => bm25Out(Retrieval.bm25TopKStored(spark, idx, terms)),
        Harness.sameValues(expectBm25), arg = terms.mkString(" ")),
      Op("retrieval", "brute_topk", "operators", () => {
        val got = neighbours(Similarity.bruteForceTopK(emb, col("vec_id") < 8, 10))
        Out(got.toSeq.sortBy(_._1).flatMap { case (q, ns) =>
          val floor = truth(q).last._2 - 1e-5
          Seq(ns.size.toDouble, ns.count(n => cos(vecs(q.toInt), vecs(n.toInt)) >= floor).toDouble)
        }, got.size)
      }, o => o.rows == 8 && o.values.forall(_ == 10.0)),
      Op("retrieval", "ivfpq_probe", "operators", () => {
        val got = neighbours(Similarity.ivfPqTopKStored(spark, ivf, queries, 10, nProbe = 2))
        val hits = truth.toSeq.map { case (q, t) =>
          t.map(_._1).toSet.intersect(got.getOrElse(q, Seq.empty).toSet).size }
        Out.of(got.size, hits.sum / 80.0)
      }, o => {
        lastRecall = o.values.head
        observed("ivfpq_recall10") = Seq(observed.get("ivfpq_recall10").fold(lastRecall)(r => math.min(r.head, lastRecall)))
        lastRecall >= expect("ivfpq_recall10").fold(Llm.RecallFloor)(_.head) && lastRecall <= 1.0
      }),
      Op("index", "ivfpq_append", "sources.graphar.write", () => {
        Similarity.appendIvfPqDelta(spark, ivf, deltaDf)
        Out.of(delta, delta.toDouble)
      }, _ => liveVectors() == nVecs + appended + delta, () => {
        appended += delta
        writes.userBytes += delta * vectorBytes
        writes.account()
      }, arg = s"$firstNew+$delta"),
      Op("index", "ivfpq_compact", "sources.graphar.write", () => {
        Similarity.compactIvfPqIndex(spark, ivf)
        Out.of(1, 1.0)
      }, _ => liveDeltas().isEmpty && liveVectors() == nVecs + appended, () => writes.account())
    )
  }

  private def liveDeltas(): Seq[String] = {
    val (_, minDelta) = graft.util.IndexCommit.resolve(spark, ivf)
    graft.util.IndexCommit.deltaDirs(spark, ivf, minDelta, commitSub = Some("codes"))
  }

  /** Distinct vectors the index serves: the committed base plus every
    * live delta generation (checked outside the timer). */
  private def liveVectors(): Long = {
    val (dir, _) = graft.util.IndexCommit.resolve(spark, ivf)
    (dir +: liveDeltas()).map(d => spark.read.parquet(s"$d/codes").select(col("n_id")))
      .reduce(_ union _).distinct().count()
  }
}

object Llm {
  /** Recall@10 a seed without a recorded value must reach: well below
    * every recorded seed's (nProbe 2 of ~64 cells), well above what a
    * probe that misses its cells returns. */
  val RecallFloor = 0.1
}
