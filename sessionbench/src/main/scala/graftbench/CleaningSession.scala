package graftbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.clean.CleaningAction._
import graft.io.{HtmlReport, Sinks, Sources}
import graft.model.Mission
import graft.pipeline.CleaningPipeline
import graft.profile.Profiler

/** The interactive cleaning session: load the uploaded file, profile,
  * detect missions, apply one action per mission, detect again, score,
  * summarize, render the HTML report and export the cleaned data.
  *
  * Input: a lineitem-shaped table of `rows` rows plus seeded defects,
  * written once as ONE single-row-group parquet file (the shape of an
  * interactive upload). Every numeric column is drawn uniformly, so no
  * value is a z-outlier unless seeded, and every defect count is known
  * exactly:
  *   - 0.1% z-outliers in `l_extendedprice` (values 500-1000x the range);
  *   - 1% nulls in `l_quantity` (numeric) and in `l_returnflag` (string);
  *   - 0.1% unparseable dates (month 13) in `l_shipdate`, whose valid
  *     values mix `yyyy-MM-dd` and `d/M/yyyy`;
  *   - 2% duplicate rows, copies of defect-free rows, appended.
  */
final class CleaningSession(spark: SparkSession, seed: Long, rows: Int,
    dir: String) extends Workload {
  private val input = s"$dir/upload.parquet"
  private val exportDir = s"$dir/export.parquet"
  private val reportPath = s"$dir/report.html"
  private var upload = Seq.empty[Row]

  private val nOutliers = rows / 1000
  private val nNullQty = rows / 100
  private val nNullFlag = rows / 100
  private val nBadDates = rows / 1000
  private val nDups = rows / 50
  private val total = rows + nDups

  /** Missions the dirty upload must produce, exactly. */
  private val seeded: Set[Mission] = Set(
    Mission.Outlier("l_extendedprice", nOutliers),
    Mission.Nulls("l_quantity", nNullQty),
    Mission.Nulls("l_returnflag", nNullFlag),
    Mission.Duplicates(nDups),
    Mission.DateMixed("l_shipdate", nBadDates))

  /** Documented residual after cleaning: auto-parsing turns each
    * unparseable date into a null, and the date-mix detector counts
    * nulls as unparsed. */
  private val residual: Set[Mission] = Set(
    Mission.Nulls("l_shipdate", nBadDates),
    Mission.DateMixed("l_shipdate", nBadDates))

  private val actions = Seq(
    OutlierReplaceMedian("l_extendedprice"),
    NullImputeMedian("l_quantity"),
    NullFillConstant("l_returnflag"),
    DateAutoParse("l_shipdate"),
    DropDuplicates())

  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", StringType)))

  def unitsPerIteration: Double = total.toDouble

  def generate(): String = {
    val rng = new SplittableRandom(seed)
    // disjoint defect positions: a seeded shuffle of the row indices
    val order = (0 until rows).toArray
    for (i <- rows - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val kind = new Array[Byte](rows) // 0 clean, 1..4 one defect each
    var at = 0
    for ((k, n) <- Seq(1 -> nOutliers, 2 -> nNullQty, 3 -> nNullFlag,
        4 -> nBadDates)) {
      for (i <- at until at + n) kind(order(i)) = k.toByte
      at += n
    }
    val base = Array.tabulate(rows) { i =>
      val day = LocalDate.ofEpochDay(8035L + rng.nextInt(2526))
      val date =
        if (kind(i) == 4) f"${day.getYear}/13/${day.getDayOfMonth}%02d"
        else if (rng.nextBoolean()) day.toString
        else s"${day.getDayOfMonth}/${day.getMonthValue}/${day.getYear}"
      val price =
        if (kind(i) == 1) math.rint((5e7 + rng.nextDouble() * 5e7) * 100) / 100
        else math.rint((900.0 + rng.nextDouble() * 104100.0) * 100) / 100
      Row(1L + i / 4, 1L + rng.nextInt(20000), 1L + rng.nextInt(1000),
        1 + i % 4,
        if (kind(i) == 2) null else (1 + rng.nextInt(50)).toDouble,
        price,
        rng.nextInt(11) / 100.0,
        rng.nextInt(9) / 100.0,
        if (kind(i) == 3) null else Seq("A", "N", "R")(rng.nextInt(3)),
        if (rng.nextBoolean()) "O" else "F",
        date)
    }
    val clean = (0 until rows).filter(kind(_) == 0)
    val dups = Array.fill(nDups)(base(clean(rng.nextInt(clean.size))))
    upload = (base ++ dups).toSeq
    val digest = new Digest
    upload.foreach(r => digest.add(r.toSeq: _*))
    digest.hex
  }

  /** Writes the upload: one file, one row group. */
  def prepare(): Unit =
    spark.createDataFrame(upload.asJava, schema)
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 1L << 30)
      .parquet(input)

  def iteration(ops: Ops, i: Int): IterationResult = {
    val df = ops.step("Sources.parquet", "graft.io", builder = true) {
      Sources.parquet(spark, input)
    }
    var p = ops.step("CleaningPipeline", "graft.pipeline", builder = true) {
      CleaningPipeline(df)
    }
    try {
      val profile = ops.step("Profiler.profile", "graft.profile") {
        Profiler.profile(p.work)
      }
      ops.check("profile")(profile.size == schema.size &&
        profile.find(_.column == "l_quantity").exists(_.nNull == nNullQty),
        profile.mkString("; "))

      val found = ops.step("missions", "graft.profile")(p.missions).toSet
      ops.check("missions")(found == seeded,
        s"expected $seeded, got $found")
      val recall = seeded.toSeq.map(m => math.min(count(m),
        found.find(sameKind(_, m)).map(count).getOrElse(0L))).sum.toDouble /
        seeded.toSeq.map(count).sum

      for (a <- actions)
        p = ops.step(a.getClass.getSimpleName, "graft.clean",
          builder = true)(p.apply(a))

      val left = ops.step("missions", "graft.profile")(p.missions).toSet
      ops.check("residual")(left == residual,
        s"expected $residual, got $left")

      val score = ops.step("qualityScore", "graft.score")(p.qualityScore)
      val expectScore = math.min(100.0,
        50.0 + 0.5 * (nNullQty + nNullFlag - nBadDates) + nDups)
      ops.check("score")(score == expectScore, s"$score != $expectScore")

      val insights = ops.step("insights", "graft.score")(p.insights)
      ops.check("insights")(insights.rowsBefore == total &&
        insights.rowsAfter == rows && insights.nullsAfter == nBadDates,
        insights.toString)

      val html = ops.step("HtmlReport.render", "graft.io") {
        val h = HtmlReport.render(p.orig, p.work, p.missionsLog, insights.lines)
        HtmlReport.write(reportPath, h)
        h
      }
      ops.check("report")(html.contains("<title>Cleaning Report</title>") &&
        actions.forall(a => html.contains(a.describe)), "title or log missing")

      ops.step("Sinks.parquet", "graft.io")(Sinks.parquet(p.work, exportDir))
      val exported = spark.read.parquet(exportDir)
      ops.check("export")(exported.count() == rows &&
        exported.filter(!col("l_shipdate").rlike("^\\d{4}-\\d{2}-\\d{2}$"))
          .count() == 0,
        "export row count or date format")
      IterationResult(recall)
    } finally {
      p.work.unpersist(true)
      p.orig.unpersist(true)
    }
  }

  private def count(m: Mission): Long = m match {
    case Mission.Outlier(_, n) => n
    case Mission.Nulls(_, n) => n
    case Mission.Duplicates(n) => n
    case Mission.DateMixed(_, n) => n
  }

  private def sameKind(a: Mission, b: Mission): Boolean = (a, b) match {
    case (Mission.Outlier(x, _), Mission.Outlier(y, _)) => x == y
    case (Mission.Nulls(x, _), Mission.Nulls(y, _)) => x == y
    case (Mission.Duplicates(_), Mission.Duplicates(_)) => true
    case (Mission.DateMixed(x, _), Mission.DateMixed(y, _)) => x == y
    case _ => false
  }
}
