package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One registry face: its contract name, the builder of its DataFrame
  * over a fixture directory, and the DuckDB SQL that must return the
  * same rows over that directory's parquet tables. */
final case class Face(name: String, build: (SparkSession, String) => DataFrame,
  oracleSql: String)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: mission detection (profile + z-outliers + nulls + dups +
    * mixed dates, SURVEY P6) over deterministically-dirtied sf0.001
    * lineitem; always yields rows (null + date_mixed missions exist by
    * construction). */
  def entry(spark: SparkSession): DataFrame =
    Queries.qMissions(spark, "/root/testdata/sf0.001")

  /** Every face, declared once; a name declared twice stops start-up. */
  val faces: Seq[Face] = distinctNames(Queries.faces ++ QueriesExt.faces)

  private[graft] def distinctNames(fs: Seq[Face]): Seq[Face] = {
    val twice = fs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty,
      s"face name declared more than once: ${twice.toSeq.sorted.mkString(", ")}")
    fs
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    faces.map(f => f.name -> f.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = faces.map(f => f.name -> f.oracleSql).toMap
}
