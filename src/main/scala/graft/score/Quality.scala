package graft.score

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Insights, QualityStats}
import graft.profile.Profiler

/** Scoring / summary operators (SURVEY §2.4, Q1-Q3). */
object Quality {

  /** Row count and total nulls across ALL columns (pandas
    * `isnull().sum().sum()`, app.py:84-85) in one aggregate. */
  private def rowsAndNulls(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields.toSeq
    val r = df.agg(count(lit(1)), fields.map(Profiler.nullCount): _*).head()
    (r.getLong(0), fields.indices.map(i => r.getLong(i + 1)).sum)
  }

  /** Total nulls, full-row duplicate count and row count, in two jobs.
    * The duplicate count is the mission detector's own
    * ([[Profiler.duplicateCountHashed]]), so these equal the stats the
    * detector reports for the same frame. */
  def stats(df: DataFrame): QualityStats = {
    val (rows, nulls) = rowsAndNulls(df)
    QualityStats(nulls, Profiler.duplicateCountHashed(df), rows)
  }

  /** Q1 — quality score (app.py:83-92):
    * clamp(50 + 0.5*max(0, nullsB - nullsA) + 1.0*max(0, dupsB - dupsA),
    * 0, 100), rounded to 2 decimals. */
  def score(before: QualityStats, after: QualityStats): Double = {
    val s = 50.0 +
      math.max(0L, before.totalNulls - after.totalNulls) * 0.5 +
      math.max(0L, before.duplicateRows - after.duplicateRows) * 1.0
    math.round(math.max(0.0, math.min(100.0, s)) * 100.0) / 100.0
  }

  def score(before: DataFrame, after: DataFrame): Double =
    score(stats(before), stats(after))

  /** Q2 — insights (app.py:372-376). */
  def insights(before: QualityStats, after: QualityStats,
      columns: Seq[String]): Insights =
    Insights(before.rows, after.rows, columns, after.totalNulls)

  def insights(before: DataFrame, after: DataFrame): Insights = {
    val (rows, nulls) = rowsAndNulls(after)
    Insights(before.count(), rows, after.columns.toSeq, nulls)
  }
}
