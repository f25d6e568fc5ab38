package graft.model

/** Typed metadata ADTs for the cleaning engine.
  *
  * The reference keeps an untyped list of human-readable log strings
  * (/root/reference/app.py:170, appended at app.py:253..349) and re-derives
  * mission dicts each UI cycle (app.py:216-237). We model both as sealed
  * ADTs: missions are detection results, actions are a replayable lineage
  * (the reference itself lists "logging delle azioni per roll-back" as a
  * next step, app.py:396).
  */
sealed trait Mission { def describe: String }
object Mission {
  /** app.py:219-223 — one per column with any z-score outlier. */
  final case class Outlier(column: String, count: Long) extends Mission {
    def describe = s"Outliers in $column ($count)"
  }
  /** app.py:225-228 — one per column with nulls. */
  final case class Nulls(column: String, count: Long) extends Mission {
    def describe = s"Missing in $column ($count)"
  }
  /** app.py:230-232 — table-level full-row duplicate count. */
  final case class Duplicates(count: Long) extends Mission {
    def describe = s"Duplicates ($count)"
  }
  /** app.py:234-237 — columns where 0 < parsed < total. */
  final case class DateMixed(column: String, unparsed: Long) extends Mission {
    def describe = s"Date inconsistent in $column ($unparsed unparsed)"
  }
}

/** One row of the column profiler output (app.py:43-60). `exact` is
  * false when nDistinct came from the HLL sketch path (the scale-aware
  * default above [[graft.profile.Profiler.ExactDistinctMaxRows]] rows)
  * — surfaced so downstream consumers/reports can label the estimate. */
final case class ColumnProfile(
    column: String,
    dtype: String,
    nNull: Long,
    nDistinct: Long,
    sampleValues: Seq[String],
    exact: Boolean = true)

/** Summary insights (app.py:372-376). */
final case class Insights(
    rowsBefore: Long,
    rowsAfter: Long,
    columns: Seq[String],
    nullsAfter: Long) {
  def lines: Seq[String] = Seq(
    s"Rows before: $rowsBefore, rows after: $rowsAfter",
    s"Columns: ${columns.mkString(", ")}",
    s"Total nulls after: $nullsAfter")
}

/** Aggregates feeding the quality score (app.py:83-92) and, with the
  * row count, the insights (app.py:372-376): everything those read of one
  * table version. The mission detector produces them as a by-product of
  * its own jobs, so a session can score without rescanning. `rows` is 0
  * where only the score's inputs are given. */
final case class QualityStats(totalNulls: Long, duplicateRows: Long,
    rows: Long = 0L)
