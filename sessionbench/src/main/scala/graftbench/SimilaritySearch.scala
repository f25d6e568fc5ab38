package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ext.SimSearch

/** Repeated top-k search over a long-lived pinned corpus: each iteration
  * answers the next batch of held-out queries with IVF, hyperplane LSH and
  * brute force, and checks them against an exact top-k computed here in
  * plain Scala.
  *
  * Input: `n` 64-d float vectors shaped like the `embeddings` fixture
  * (10 labels), each a small jitter around one of 200 anchors, so true
  * neighbours are close; `Batches` x `BatchSize` held-out queries drawn
  * the same way. The corpus is pinned once at set-up, in `nFiles`
  * partitions, and every iteration reads that pin. */
final class SimilaritySearch(spark: SparkSession, seed: Long, n: Int,
    nFiles: Int) extends Workload {
  import SimilaritySearch._

  private var queries: Array[(Long, Array[Float])] = Array.empty
  private var normed: Array[(Long, Array[Double])] = Array.empty
  private val exact = mutable.Map.empty[Long, Seq[Long]]
  private var corpusRows: Array[(Long, Array[Float], Int)] = Array.empty
  private var corpus: DataFrame = _

  /** (vec_id, embedding: array<float>, label) in `parts` partitions. */
  private def frame(rows: Array[(Long, Array[Float], Int)],
      parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows.toSeq, parts)
      .toDF("vec_id", "embedding", "label")
  }

  def unitsPerIteration: Double = BatchSize.toDouble

  def generate(): String = {
    val rng = new SplittableRandom(seed)
    def gauss(): Double = {
      // Box-Muller on the seeded stream (no shared generator state)
      val u = 1.0 - rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    val centers = Array.fill(Labels, Dims)(gauss())
    val anchors = Array.tabulate(Anchors) { a =>
      val c = centers(a % Labels)
      Array.tabulate(Dims)(d => c(d) + 0.6 * gauss())
    }
    def draw(): (Int, Array[Float]) = {
      val a = rng.nextInt(Anchors)
      (a % Labels, Array.tabulate(Dims)(d =>
        (anchors(a)(d) + 0.25 * gauss()).toFloat))
    }
    val digest = new Digest
    val rows = Array.tabulate(n) { i =>
      val (label, v) = draw()
      digest.add(i, label, v.mkString(","))
      (i.toLong, v, label)
    }
    corpusRows = rows
    queries = Array.tabulate(Batches * BatchSize) { j =>
      val v = draw()._2
      digest.add("query", j, v.mkString(","))
      (1000000000L + j, v)
    }
    digest.hex
  }

  /** Pins the corpus. Exact answers are computed per query on first use,
    * outside the timed steps. */
  def prepare(): Unit = {
    corpus = frame(corpusRows, nFiles).persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    normed = corpusRows.map { case (id, v, _) => (id, normalize(v)) }
    exact.clear()
  }

  private def exactTopK(qid: Long, v: Array[Float]): Seq[Long] =
    exact.getOrElseUpdate(qid, topK(normed, normalize(v), K))

  def iteration(ops: Ops, i: Int): IterationResult = {
    val batch = queries.slice((i % Batches) * BatchSize,
      (i % Batches + 1) * BatchSize)
    val q = frame(batch.map { case (id, v) => (id, v, 0) }, 1)

    def search(name: String)(f: => DataFrame): Map[Long, Seq[Long]] =
      ops.step(name, Layer) {
        ops.tracer.span(name, Layer, builder = true)(f).collect()
      }.groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      }

    val ivf = search("SimSearch.ivfTopK") {
      SimSearch.ivfTopK(corpus, q, "vec_id", "embedding", K)
    }
    val lsh = search("SimSearch.lshTopK") {
      SimSearch.lshTopK(corpus, q, "vec_id", "embedding", Dims, K)
    }
    val brute = search("SimSearch.bruteTopK") {
      SimSearch.bruteTopK(corpus, q, "vec_id", "embedding", K)
    }
    val ids = batch.map(_._1)
    val truth = batch.map { case (id, v) => id -> exactTopK(id, v) }.toMap
    for ((name, res) <- Seq("ivf" -> ivf, "lsh" -> lsh, "brute" -> brute))
      ops.check(s"$name.k")(ids.forall(id => res.get(id).exists(_.size == K)),
        s"$name: a query got fewer than $K neighbours")
    val wrong = ids.filter(id => !brute.get(id).contains(truth(id)))
    ops.check("brute.exact")(wrong.isEmpty,
      s"bruteTopK differs from the exact top-$K for queries " +
        wrong.take(5).mkString(", "))
    def recall(res: Map[Long, Seq[Long]]): Double =
      ids.map(id => res.getOrElse(id, Nil).toSet
        .intersect(truth(id).toSet).size).sum.toDouble / (ids.length * K)
    val (ivfRecall, lshRecall) = (recall(ivf), recall(lsh))
    IterationResult((ivfRecall + lshRecall) / 2, Map(
      s"$Layer.ivf_recall" -> ivfRecall,
      s"$Layer.lsh_recall" -> lshRecall))
  }
}

object SimilaritySearch {
  val Layer = "graft.ext.SimSearch"
  val Dims = 64
  val K = 10
  val Labels = 10
  val Anchors = 200
  val BatchSize = 32
  val Batches = 8

  /** The engine's normalization, in the same IEEE operation order:
    * widen to double, sum of squares left to right, divide by the root. */
  def normalize(v: Array[Float]): Array[Double] = {
    val x = v.map(_.toDouble)
    var s = 0.0
    x.foreach(e => s += e * e)
    if (s <= 0.0) x else { val r = math.sqrt(s); x.map(_ / r) }
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact top-k by cosine, ties broken by the smaller id: one pass that
    * keeps the best k in order. */
  def topK(corpus: Array[(Long, Array[Double])], q: Array[Double],
      k: Int): Seq[Long] = {
    val score = new Array[Double](k)
    val ids = new Array[Long](k)
    var filled = 0
    def before(s: Double, id: Long, j: Int): Boolean =
      s > score(j) || (s == score(j) && id < ids(j))
    for ((id, v) <- corpus) {
      val s = dot(v, q)
      if (filled < k || before(s, id, k - 1)) {
        var j = math.min(filled, k - 1)
        while (j > 0 && before(s, id, j - 1)) {
          score(j) = score(j - 1); ids(j) = ids(j - 1); j -= 1
        }
        score(j) = s; ids(j) = id
        if (filled < k) filled += 1
      }
    }
    ids.take(filled).toSeq
  }
}
