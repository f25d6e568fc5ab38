package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ext.{Dedup, Packing, TextStats}
import graft.io.Sources

/** The training-data curation funnel: quality + language filter, exact
  * dedup, MinHash near-dup removal, Bloom-prefiltered decontamination
  * against a benchmark set, and sequence packing. Each stage reads the
  * previous stage's pinned survivors; a stage's input is unpinned once
  * its output is materialized.
  *
  * Input: `baseDocs` documents drawn like the `documents` fixture (words
  * from a small technical vocabulary), ~70% English and the rest German,
  * French, Spanish, Chinese or punctuation spam, replicated `replicas`
  * times with the permuted-replica scheme (replica r > 0 permutes each
  * document's words, so replicas keep the language/quality verdict but
  * are not near-duplicates of each other). Seeded on top: exact copies
  * of 2% of the English base documents and near copies of another 2%
  * (the text plus one repeated word, an identical 3-shingle set under a
  * different fingerprint); a benchmark set of 50 English base documents
  * overlaps the corpus verbatim. Written as `nFiles` parquet files.
  */
final class CurationFunnel(spark: SparkSession, seed: Long, baseDocs: Int,
    replicas: Int, nFiles: Int, dir: String) extends Workload {
  private val input = s"$dir/documents.parquet"
  private val nCopies = baseDocs / 50
  private val nBench = 50

  // the generated corpus and its facts, set by generate()
  private var docs = Seq.empty[(Long, String)]
  private var total = 0L
  private var nEnglish = 0L
  private var exactCopies = Seq.empty[Long]
  private var nearCopies = Seq.empty[Long]
  private var benchDocs = Seq.empty[(Long, String)]
  private var bench: DataFrame = _

  private val content = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "join", "vector", "customer")
  private val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that", "for",
      "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "et", "est", "pour", "dans", "avec", "une", "sur"),
    "es" -> Seq("el", "y", "por", "con", "los", "las", "una", "del"),
    "zh" -> Seq("的", "是", "在", "了", "有", "和", "不", "人"))
  private val zhContent = Seq("数据", "表格", "查询", "排序", "连接", "窗口")
  private val spam = Seq("$$$", "!!!", "win!!!", "click>>>", "***free***")

  def unitsPerIteration: Double = total.toDouble

  private def englishDoc(rng: SplittableRandom, len: Int): Array[String] =
    Array.tabulate(len) { j =>
      // every fifth word a stopword: ratio >= 0.05 by construction
      if (j % 5 == 1) stopwords("en")(rng.nextInt(10))
      else content(rng.nextInt(content.size))
    }

  private def baseDoc(rng: SplittableRandom): (String, Array[String]) = {
    val len = 16 + rng.nextInt(75)
    val u = rng.nextInt(100)
    val lang =
      if (u < 70) "en" else if (u < 77) "de" else if (u < 84) "fr"
      else if (u < 91) "es" else if (u < 96) "zh" else "spam"
    val words = lang match {
      case "en" => englishDoc(rng, len)
      case "spam" => Array.tabulate(len)(j =>
        if (j % 2 == 0) spam(rng.nextInt(spam.size))
        else content(rng.nextInt(content.size)))
      case "zh" => Array.tabulate(len)(j =>
        if (j % 3 == 1) stopwords("zh")(rng.nextInt(8))
        else zhContent(rng.nextInt(zhContent.size)))
      case l => Array.tabulate(len)(j =>
        if (j % 3 == 1) stopwords(l)(rng.nextInt(8))
        else content(rng.nextInt(content.size)))
    }
    (lang, words)
  }

  def generate(): String = {
    val rng = new SplittableRandom(seed)
    val base = Array.fill(baseDocs)(baseDoc(rng))
    val english = base.indices.filter(base(_)._1 == "en")
    // disjoint English picks: exact-copy sources, near-copy sources, bench
    val picks = mutable.LinkedHashSet.empty[Int]
    while (picks.size < 2 * nCopies + nBench)
      picks += english(rng.nextInt(english.size))
    val p = picks.toVector
    val exactSrc = p.take(nCopies)
    val nearSrc = p.slice(nCopies, 2 * nCopies)
    val benchSrc = p.drop(2 * nCopies)
    // a near-copy source ends with its own first two words, so appending
    // its third word adds a shingle the document already has
    nearSrc.foreach { i =>
      val w = base(i)._2
      w(w.length - 2) = w(0); w(w.length - 1) = w(1)
    }
    val all = mutable.ArrayBuffer.empty[(Long, String)]
    for (r <- 0 until replicas; i <- base.indices) {
      val words = base(i)._2.clone()
      if (r > 0) {
        val prng = new SplittableRandom(seed ^ (r.toLong << 32) ^ i)
        for (a <- words.length - 1 to 1 by -1) {
          val b = prng.nextInt(a + 1)
          val t = words(a); words(a) = words(b); words(b) = t
        }
      }
      all += ((r * 10000000L + i, words.mkString(" ")))
    }
    exactCopies = exactSrc.indices.map(j => 9000000000L + j)
    nearCopies = nearSrc.indices.map(j => 9500000000L + j)
    all ++= exactSrc.zip(exactCopies).map { case (i, id) =>
      (id, base(i)._2.mkString(" ")) }
    all ++= nearSrc.zip(nearCopies).map { case (i, id) =>
      val w = base(i)._2
      (id, (w :+ w(2)).mkString(" ")) }
    benchDocs = benchSrc.map(i => (i.toLong, base(i)._2.mkString(" ")))
    docs = all.toSeq
    total = docs.size
    nEnglish = english.size.toLong * replicas + 2 * nCopies

    val digest = new Digest
    docs.foreach { case (id, t) => digest.add(id, t) }
    benchDocs.foreach { case (id, t) => digest.add("bench", id, t) }
    digest.hex
  }

  def prepare(): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
        docs.map { case (id, t) => Row(id, t) }, nFiles), schema)
      .write.mode("overwrite").parquet(input)
    bench = spark.createDataFrame(benchDocs).toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    bench.count()
  }

  def iteration(ops: Ops, i: Int): IterationResult = {
    val loaded = ops.step("Sources.parquet", "graft.io", builder = true) {
      Sources.parquet(spark, input).select(col("doc_id"), col("text"))
    }
    var cur: DataFrame = loaded
    var rowsIn = total
    val keep = mutable.LinkedHashMap.empty[String, Double]

    /** One funnel stage: the library call (builder), then the pinned,
      * materialized survivors; the previous stage's pin is released. */
    def stage(metric: String, call: String, layer: String)(
        f: DataFrame => DataFrame): Long =
      ops.step(call, layer) {
        val out = ops.tracer.span(call, layer, builder = true)(f(cur))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val n = out.count()
        ops.sample()
        if (cur ne loaded) cur.unpersist(false)
        cur = out
        keep(metric) = n.toDouble / rowsIn
        rowsIn = n
        n
      }

    try {
      val afterQuality = stage("graft.ext.TextStats.keep_ratio",
          "TextStats.qualityLangScore", "graft.ext.TextStats") { in =>
        TextStats.qualityLangScore(in, "text")
          .filter(col("quality_score") >= 0.6 && col("predicted") === "en")
          .select(col("doc_id"), col("text"))
      }
      ops.check("quality")(afterQuality == nEnglish,
        s"$afterQuality survivors, expected the $nEnglish English documents")
      stage("graft.ext.Dedup.exact_keep_ratio", "Dedup.exactByFingerprint",
          "graft.ext.Dedup") { in =>
        val kept = Dedup.exactByFingerprint(in, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        in.join(kept, Seq("doc_id"), "left_semi")
      }
      stage("graft.ext.Dedup.near_keep_ratio", "Dedup.nearDuplicates",
          "graft.ext.Dedup") { in =>
        val drop = Dedup.nearDuplicates(in, "doc_id", "text",
          threshold = 0.5, shingleN = 3, k = 16, bands = 4, maxBucket = 64)
          .select(col("id_b").as("doc_id")).distinct()
        in.join(drop, Seq("doc_id"), "left_anti")
      }
      stage("graft.ext.Dedup.decontaminate_keep_ratio",
          "Dedup.decontaminateBloom", "graft.ext.Dedup") { in =>
        val hits = Dedup.decontaminateBloom(in, "doc_id", "text", bench,
          "text", n = 13).select(col("id").as("doc_id"))
        in.join(hits, Seq("doc_id"), "left_anti")
      }
      val survivors = cur
      val packedIn = rowsIn
      val packed = ops.step("Packing.packSequences", "graft.ext.Packing") {
        val out = ops.tracer.span("Packing.packSequences",
          "graft.ext.Packing", builder = true) {
          Packing.packSequences(survivors, "doc_id", "text",
            contextLen = 2048, buckets = 64)
        }
        out.agg(count(lit(1)), count_distinct(col("id"))).head()
      }
      keep("graft.ext.Packing.keep_ratio") = packed.getLong(0).toDouble / packedIn
      ops.check("packing")(packed.getLong(0) == packedIn &&
        packed.getLong(1) == packedIn, s"$packed from $packedIn documents")
      ops.check("keep_ratio")(keep.values.forall(r => r >= 0 && r <= 1),
        keep.toString)

      val seededIds = exactCopies ++ nearCopies ++ benchDocs.map(_._1)
      val left = survivors.filter(col("doc_id").isin(seededIds: _*))
        .select("doc_id").collect().map(_.getLong(0))
      ops.check("removed")(left.isEmpty,
        s"${left.length} seeded copies or benchmark documents survived: " +
          left.take(10).mkString(", "))
      IterationResult(1.0 - left.length.toDouble / seededIds.size,
        keep.toMap)
    } finally {
      if (cur ne loaded) cur.unpersist(true)
    }
  }
}
