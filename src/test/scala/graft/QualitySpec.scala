package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.clean.CleaningAction._
import graft.io.SampleData
import graft.model.QualityStats
import graft.pipeline.CleaningPipeline
import graft.profile.Profiler
import graft.score.Quality

class QualitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("Q1 formula: 50 + 0.5*nulls_removed + 1.0*dups_removed, clamped") {
    assert(Quality.score(QualityStats(10, 4), QualityStats(2, 0)) == 58.0)
    assert(Quality.score(QualityStats(0, 0), QualityStats(5, 5)) == 50.0) // no credit for adding dirt
    assert(Quality.score(QualityStats(1000, 0), QualityStats(0, 0)) == 100.0) // clamp
  }

  test("Q1 stats counts nulls across ALL columns") {
    val df = Seq((Some(1.0), None: Option[String]), (None, Some("a")))
      .toDF("x", "s")
    val st = Quality.stats(df)
    assert(st.totalNulls == 2 && st.duplicateRows == 0)
  }

  test("Q2 insights") {
    val before = Seq(1, 2, 3).toDF("x")
    val after = Seq(1, 2).toDF("x")
    val ins = Quality.insights(before, after)
    assert(ins.rowsBefore == 3 && ins.rowsAfter == 2 && ins.nullsAfter == 0)
    assert(ins.lines.head == "Rows before: 3, rows after: 2")
  }

  test("end-to-end pipeline on the seeded sample: detect -> clean -> score") {
    val p0 = CleaningPipeline(SampleData.load(spark))
    assert(p0.missions.nonEmpty)
    val p1 = p0
      .apply(DropDuplicates())
      .apply(NullFillConstant("category"))
      .apply(OutlierReplaceMedian("price"))
      .apply(DateAutoParse("date"))
    // dups removed (+2) but date-parse introduced 2 NaT nulls (-0 credit)
    assert(p1.qualityScore >= 50.0 && p1.qualityScore <= 100.0)
    assert(p1.missionsLog.size == 4)
    val ms = p1.missions
    assert(!ms.exists(_.isInstanceOf[graft.model.Mission.Duplicates]))
    val ins = p1.insights
    assert(ins.rowsBefore == 200 && ins.rowsAfter == 198)
    p1.reset()
  }

  /** Spark jobs started while `body` runs. A marker job submitted after
    * it proves the listener bus has delivered every earlier event; it is
    * an RDD job, so it runs no query of its own. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "jobsOf-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("jobsOf-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  /** [[jobsOf]] plus the executed plan of every query `body` ran. */
  private def plansOf(body: => Unit): (Int, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = jobsOf(body)
      (n, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def shuffles(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }

  /** The sample written as `files` parquet files of one row group each. */
  private def upload(files: Int): String = {
    val path = java.nio.file.Files.createTempDirectory("graft_upload")
      .resolve("upload.parquet").toString
    SampleData.load(spark).coalesce(files).write
      .option("parquet.block.size", 1L << 30).parquet(path)
    path
  }

  private val sessionActions = Seq(DropDuplicates(),
    NullFillConstant("category"), OutlierReplaceMedian("price"),
    NullImputeMedian("price"), DateAutoParse("date"))

  /** The pipeline's score and insights equal the direct computation. */
  private def assertMatchesDirect(p: CleaningPipeline): Unit = {
    assert(p.qualityScore == Quality.score(p.orig, p.work))
    assert(p.insights == Quality.insights(p.orig, p.work))
  }

  test("pipeline score and insights equal the direct computation, with " +
      "and without missions, and after reset") {
    // no missions: counts computed on demand
    val cold = sessionActions.foldLeft(CleaningPipeline(SampleData.load(spark)))(
      _ apply _)
    assertMatchesDirect(cold)
    assert(cold.reset().qualityScore == 50.0)
    assertMatchesDirect(cold.reset())
    cold.orig.unpersist(true)

    // missions on every version: counts recorded by the detector
    var p = CleaningPipeline(SampleData.load(spark))
    p.missions
    for (a <- sessionActions) { p = p(a); p.missions }
    assert(jobsOf { p.qualityScore; p.insights } == 0,
      "score and insights must reuse the counts of the missions pass")
    assertMatchesDirect(p)
    val r = p.reset()
    assert(r.work eq r.orig)
    assertMatchesDirect(r)
    r.orig.unpersist(true)
  }

  test("pipeline pins exactly one version: the working one, kept " +
      "through missions") {
    var p = CleaningPipeline(SampleData.load(spark))
    var versions = Vector(p.work)
    def pinned = versions.distinct.filter(_.storageLevel != StorageLevel.NONE)
    p.missions
    assert(pinned == Vector(p.work))
    for (a <- sessionActions) {
      val base = p.work
      p = p(a)
      versions :+= p.work
      assert(pinned.size == 1 && (pinned.head eq base),
        s"after ${a.describe}: ${pinned.size} versions pinned, not the base")
      p.missions
      assert(pinned.size == 1 && (pinned.head eq p.work),
        s"missions after ${a.describe}: ${pinned.size} versions pinned")
    }
    val r = p.reset()
    assert(pinned.size == 1 && (pinned.head eq r.orig))
    r.orig.unpersist(true)
  }

  test("a frame the caller pinned keeps its pin through apply and reset") {
    val df = SampleData.load(spark).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val p = CleaningPipeline(df)(DropDuplicates())
      p.missions
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      val r = p.reset()
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(p.work.storageLevel == StorageLevel.NONE)
      r(NullFillConstant("category")).reset()
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally df.unpersist(true)
  }

  test("derived versions are snapshots: removing the source after " +
      "apply changes neither their data nor the score") {
    val sample = SampleData.load(spark)
    val ref = Seq(DropDuplicates(), NullFillConstant("category"))
      .foldLeft(sample)((df, a) => a(df))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // one file plans as one partition (orig is coalesced), 3 files do not
    for (files <- Seq(1, 3)) {
      val path = upload(files)
      val p0 = CleaningPipeline(spark.read.parquet(path))
      p0.missions // records orig's stats while the source is there
      val p1 = p0(DropDuplicates())
      // removed behind Spark's back: a write through Spark would refresh
      // every cache over the path
      val src = new org.apache.hadoop.fs.Path(path)
      assert(src.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(src, true))
      val p2 = p1(NullFillConstant("category"))
      p2.missions
      assert(rows(p2.work) == rows(ref), s"$files file(s)")
      assert(p2.qualityScore == Quality.score(sample, ref), s"$files file(s)")
      assert(p2.insights == Quality.insights(sample, ref), s"$files file(s)")
      p2.work.unpersist(true)
    }
  }

  test("a narrow apply runs no Spark job") {
    val p = CleaningPipeline(SampleData.load(spark))
    p.missions
    assert(jobsOf { p(NullFillConstant("category"))(DateAutoParse("date")) } == 0)
    p.reset().orig.unpersist(true)
  }

  test("a one-row-group upload plans as one partition: missions runs one " +
      "job per aggregate and shuffles nothing") {
    val p = CleaningPipeline(spark.read.parquet(upload(1)))
    // fills orig's pin, as the session's first read does; on an unfilled
    // pin AQE fills it with one more job of its own
    Profiler.profile(p.work)
    for (run <- Seq("first", "second")) {
      val (jobs, plans) = plansOf(p.missions)
      assert(jobs <= 3, s"$run: $jobs jobs")
      assert(plans.size == 3 && plans.forall(shuffles(_).isEmpty),
        s"$run:\n" + plans.mkString("\n"))
    }
    assert(shuffles(p.work.groupBy("category").count()
      .queryExecution.executedPlan).isEmpty)
    p.orig.unpersist(true)
  }

  test("an input of 3 files is pinned as given and still plans an " +
      "Exchange") {
    val df = spark.read.parquet(upload(3))
    assert(df.rdd.getNumPartitions == 3)
    val p = CleaningPipeline(df)
    assert((p.orig eq df) && df.storageLevel != StorageLevel.NONE)
    assert(shuffles(p.work.groupBy("category").count()
      .queryExecution.executedPlan).nonEmpty)
    df.unpersist(true)
  }

  test("a one-partition input is declared one partition only up to " +
      "the size bound") {
    // a range of n longs is 8n bytes by the planner's estimate
    val rows = CleaningPipeline.OnePartitionMaxBytes / 8
    val atBound = spark.range(0, rows, 1, 1).toDF("id")
    val over = spark.range(0, rows + 1, 1, 1).toDF("id")
    val p = CleaningPipeline(atBound)
    assert(p.orig ne atBound)
    assert(shuffles(p.work.groupBy("id").count()
      .queryExecution.executedPlan).isEmpty)
    p.orig.unpersist(true)
    val q = CleaningPipeline(over)
    assert((q.orig eq over) && over.storageLevel != StorageLevel.NONE)
    over.unpersist(true)
  }

  test("lineage replays as a portable recipe on fresh data") {
    val p = CleaningPipeline(SampleData.load(spark))
      .apply(DropDuplicates())
      .apply(NullFillConstant("category"))
    // a different seed: same defect STRUCTURE, different values
    val fresh = SampleData.load(spark, seed = 999L)
    val replayed = p.replay(fresh)
    assert(replayed.count() == 198) // same injected dups removed
    assert(replayed.filter(replayed("category").isNull).count() == 0)
    // and the original pipeline state is untouched
    assert(p.work.count() == 198)
  }

  test("round-4 actions compose into the lifecycle like the originals") {
    import graft.clean.CleaningAction.{QuantileBin, ScaleRobust}
    val p = CleaningPipeline(SampleData.load(spark))
      .apply(ScaleRobust("price"))
      .apply(QuantileBin("price", nBins = 4))
    assert(p.missionsLog == Seq(
      "Robust-scaled price (median/IQR)",
      "Quantile-binned price into 4 bins"))
    val out = p.work
    assert(out.columns.contains("price_scaled") &&
      out.columns.contains("price_bin"))
    // replay on fresh data recomputes ITS OWN quartiles (a recipe, not
    // frozen literals): every non-null value still lands in a bin
    val fresh = SampleData.load(spark, seed = 999L)
    val replayed = p.replay(fresh)
    assert(replayed.filter(replayed("price").isNotNull &&
      replayed("price_bin").isNull).count() == 0)
    p.reset()
  }
  test("raterAgreement: kappas match a direct recomputation from the " +
      "filters' own verdicts; unanimous raters -> null Fleiss kappa") {
    import graft.ext.{CorpusPipeline, Repetition, TextStats}
    val texts = Seq(
      (0L, "The quick brown fox jumps over the lazy dog near the river " +
        "bank and then rests in the warm afternoon sun for a while longer"),
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "short"),
      (3L, "A reasonable second document with enough varied words that " +
        "the filters can disagree about it in interesting ways overall"),
      (4L, "zzzz qqqq zzzz qqqq zzzz qqqq zzzz qqqq zzzz qqqq zzzz qqqq"))
    val docs = texts.toDF("doc_id", "text")
    val out = CorpusPipeline.raterAgreement(docs, "doc_id", "text",
        minEntropy = 2.8)
      .as[(String, Long, Double, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // ground truth straight from the three public filters
    val g = Repetition.withGopherFilter(docs, "text")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val c = TextStats.classifyQuality(docs, "text")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val e = TextStats.charEntropy(docs, "doc_id", "text")
      .select($"id", $"entropy_r" >= 2.8).as[(Long, Boolean)]
      .collect().toMap
    val ids = texts.map(_._1)
    assert(Seq(g, c, e).exists(m => m.values.toSet.size == 2),
      "fixture must make at least one filter split")
    def cohen(x: Map[Long, Boolean], y: Map[Long, Boolean])
        : (Double, Double, Option[Double]) = {
      val n = ids.size.toDouble
      val po = ids.count(i => x(i) == y(i)) / n
      val px = ids.count(x(_)) / n; val py = ids.count(y(_)) / n
      val pe = px * py + (1 - px) * (1 - py)
      (po, pe, if (1 - pe != 0) Some((po - pe) / (1 - pe)) else None)
    }
    def r6(d: Double) = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq("gopher:clf" -> (g, c), "gopher:entropy" -> (g, e),
        "clf:entropy" -> (c, e)).foreach { case (name, (x, y)) =>
      val (po, pe, k) = cohen(x, y)
      val row = out(name)
      assert(row._2 == ids.size && row._3 == r6(po) && row._4 == r6(pe) &&
        row._5 == k.map(r6), s"$name: $row vs ($po, $pe, $k)")
    }
    val nks = ids.map(i => Seq(g(i), c(i), e(i)).count(identity))
    val fpo = nks.map(nk => nk * (nk - 1) + (3 - nk) * (2 - nk)).sum /
      (ids.size * 6.0)
    val pk = nks.sum / (ids.size * 3.0)
    val fpe = pk * pk + (1 - pk) * (1 - pk)
    val f = out("fleiss:all")
    assert(f._3 == r6(fpo) && f._4 == r6(fpe) &&
      f._5 == (if (1 - fpe != 0) Some(r6((fpo - fpe) / (1 - fpe))) else None),
      s"fleiss: $f vs ($fpo, $fpe)")
    // unanimity: identical docs every filter keeps -> pe = 1, kappa null
    val same = (0L to 3L).map(i => (i,
      "The quick brown fox jumps over the lazy dog near the river bank " +
      "and then rests in the warm afternoon sun for a while longer"))
      .toDF("doc_id", "text")
    val u = CorpusPipeline.raterAgreement(same, "doc_id", "text",
        minEntropy = 2.8)
      .as[(String, Long, Double, Double, Option[Double])].collect()
    assert(u.forall(r => r._5.isEmpty && r._3 == 1.0 && r._4 == 1.0),
      s"unanimous: ${u.toSeq}")
  }
  test("calibrationReport: bin assignment, conf/acc/gap/brier match a " +
      "direct recomputation from the classifier and gopher outputs") {
    import graft.ext.{Repetition, TextStats}
    val texts = Seq(
      (0L, "The quick brown fox jumps over the lazy dog near the river " +
        "bank and then rests in the warm afternoon sun for a while longer"),
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "short"),
      (3L, "A reasonable second document with enough varied words that " +
        "the filters can disagree about it in interesting ways overall"))
    val docs = texts.toDF("doc_id", "text")
    val out = TextStats.calibrationReport(docs, "doc_id", "text", bins = 50)
      .as[(Int, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    val logit = TextStats.classifyQuality(docs, "text")
      .select($"doc_id", $"quality_logit").as[(Long, Double)].collect().toMap
    val y = Repetition.withGopherFilter(docs, "text")
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    def r(d: Double, sc: Int) = BigDecimal(d)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = texts.map { case (id, _) =>
      val pr = r(1.0 / (1.0 + math.exp(-logit(id))), 12)
      val bin = math.min(math.floor(pr * 50).toInt, 49)
      (bin, pr, if (y(id)) 1 else 0)
    }
    assert(rows.map(_._1).distinct.size >= 2, s"fixture spans bins: $rows")
    rows.groupBy(_._1).foreach { case (bin, rs) =>
      val n = rs.size
      val conf = rs.map(x => BigDecimal(x._2)).sum.toDouble / n
      val acc = rs.map(_._3).sum.toDouble / n
      val brier = rs.map(x => BigDecimal(r((x._2 - x._3) * (x._2 - x._3),
        12))).sum.toDouble / n
      val row = out(bin)
      assert(row._2 == n && row._3 == r(conf, 6) && row._4 == r(acc, 6) &&
        row._5 == r(conf - acc, 6) && row._6 == r(brier, 6),
        s"bin $bin: $row vs ($n, $conf, $acc, $brier)")
    }
    assert(out.keySet == rows.map(_._1).toSet, "exactly the populated bins")
  }
}
