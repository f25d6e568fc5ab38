package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

import graft.clean.CleaningAction
import graft.model.{Insights, Mission, QualityStats}
import graft.profile.Profiler
import graft.score.Quality

/** The interactive-session lifecycle (SURVEY §3) rebuilt as an immutable
  * lineage: `orig` plus an ordered `Seq[CleaningAction]`,
  * replacing the reference's two mutable pandas copies
  * (/root/reference/app.py:176-188).
  *
  * Partitioning: a small upload that plans as one partition (one
  * uploaded file, app.py:149) is declared so: `orig` is
  * `df.coalesce(1)`. No data moves, but the planner then knows the
  * input is `SinglePartition`, so aggregates, groupBys and windows over
  * `orig` and every version derived from it need no Exchange. An input
  * of two or more partitions, or larger than [[OnePartitionMaxBytes]],
  * is used as given.
  *
  * Caching policy: the pipeline pins one version, the base: the newest
  * version it has read (MEMORY_AND_DISK — spills instead of OOM at
  * scale). `CleaningPipeline(df)` makes `orig` the base. `apply` only
  * builds the next version's plan over the current one and pins
  * nothing, so a version that nothing reads costs no job. The first
  * read of the working version (`missions`, or the first stats read of
  * `qualityScore`/`insights`) pins it, fills the pin with its own first
  * job, and only then unpins the old base. A version that descends from
  * the base is thus filled from the base's pin, not from the source; a
  * version on another branch (built from a pipeline the base has since
  * moved past) reads the source. A version becomes a snapshot when the
  * pipeline first reads it (a write through Spark to the source path
  * still refreshes every cache over it). `reset` makes `orig` the base
  * again; once unpinned, `orig` and a later `reset` read the source as
  * it is then. A frame the caller pinned before handing it in is used
  * as is and keeps its pin: the pipeline unpins only what it pinned
  * itself. Pipelines derived from one another share the base, so one
  * session holds one pin whichever of them is read.
  *
  * Stats policy: each version keeps its [[QualityStats]] (total nulls,
  * duplicate rows, rows) once known. `missions` records them from its
  * own jobs; otherwise the first reader computes them. `qualityScore`
  * and `insights` read the stats of `orig` and `work`, so once
  * `missions` has run on both they run no Spark job and never rescan
  * the unpinned `orig`.
  */
final class CleaningPipeline private (
    origVersion: CleaningPipeline.Version,
    val lineage: Vector[CleaningAction],
    workVersion: CleaningPipeline.Version,
    session: CleaningPipeline.Session) {
  import CleaningPipeline._

  val orig: DataFrame = origVersion.df
  val work: DataFrame = workVersion.df

  def apply(action: CleaningAction): CleaningPipeline = {
    val next = action(work)
    // an action that changes nothing returns its input: same version
    val v = if (next eq work) workVersion else new Version(next)
    new CleaningPipeline(origVersion, lineage :+ action, v, session)
  }

  /** Reset to original (app.py:184-188): drop lineage, re-point at orig. */
  def reset(): CleaningPipeline = {
    session.moveBase(origVersion)
    new CleaningPipeline(origVersion, Vector.empty, origVersion, session)
  }

  /** Replay this lineage over a DIFFERENT input — the typed action log
    * doubles as a portable cleaning recipe (the roll-back/replay the
    * reference lists as its next step, app.py:396). Statistics
    * (medians, z-models) are recomputed against the new data, which is
    * the point: the recipe is declarative, not value-frozen. */
  def replay(freshInput: DataFrame): DataFrame =
    lineage.foldLeft(freshInput)((df, a) => a(df))

  def missions: Seq[Mission] = session.read(workVersion) {
    val (ms, stats) = Profiler.missionsAndStats(work)
    workVersion.record(stats)
    ms
  }
  def missionsLog: Seq[String] = lineage.map(_.describe)
  // orig's stats are read first: reading work may unpin orig
  def insights: Insights =
    Quality.insights(origVersion.stats, workStats, work.columns.toSeq)
  def qualityScore: Double = Quality.score(origVersion.stats, workStats)

  private def workStats: QualityStats =
    if (workVersion.known) workVersion.stats
    else session.read(workVersion)(workVersion.stats)
}

object CleaningPipeline {
  /** Largest input, by the planner's size estimate (a parquet file's
    * size on disk), that is declared one partition. Measured with the
    * cleaning session on a 4-core machine, one parquet row group, 4
    * seed pairs per size, median iteration time without -> with the
    * declaration: 0.73 MB 3.01 -> 2.50 s and 1.38 MB 3.74 -> 3.36 s
    * (4/4 pairs each), but 2.62 MB 4.95 -> 5.52 s (3/4 lost): a larger
    * input gains more from spreading its windows and groupBys over the
    * cores after an Exchange. */
  private[graft] val OnePartitionMaxBytes: Long = 1536L << 10

  def apply(df: DataFrame): CleaningPipeline = {
    val v = new Version(
      if (df.storageLevel == StorageLevel.NONE && onePartition(df)) df.coalesce(1)
      else df)
    v.pin()
    new CleaningPipeline(v, Vector.empty, v, new Session(v))
  }

  /** True when `df` is at most [[OnePartitionMaxBytes]] and plans as one
    * partition. Plans with an exchange, a subquery or a cached relation
    * are not asked: preparing them can run jobs. */
  private def onePartition(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    qe.optimizedPlan.stats.sizeInBytes <= OnePartitionMaxBytes &&
      !qe.executedPlan.exists {
        case _: Exchange | _: AdaptiveSparkPlanExec | _: InMemoryTableScanExec => true
        case p => p.subqueries.nonEmpty
      } && qe.toRdd.getNumPartitions == 1
  }

  /** The base, the one version the pipelines of one session keep pinned. */
  private final class Session(private var base: Version) {
    /** Runs `body`, a read of `v`. If `v` is not the base, pins it first,
      * lets `body`'s first job fill the pin, then unpins the old base. */
    def read[A](v: Version)(body: => A): A = synchronized {
      if (v eq base) body
      else {
        v.pin()
        val a = try body catch { case NonFatal(e) => v.unpin(); throw e }
        moveBase(v)
        a
      }
    }

    /** Makes `v` the base: pins it, then unpins the old base. */
    def moveBase(v: Version): Unit = synchronized {
      if (v ne base) {
        v.pin()
        base.unpin()
        base = v
      }
    }
  }

  /** One version of the table, whether the pipeline holds its pin, and
    * its stats once known. */
  private final class Version(val df: DataFrame) {
    @volatile private var ownPin = false
    @volatile private var recorded: Option[QualityStats] = None

    /** Pins the frame unless it is pinned already. */
    def pin(): Unit =
      if (df.storageLevel == StorageLevel.NONE) {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        ownPin = true
      }

    /** Drops the pin if the pipeline holds it; a caller's pin stays. */
    def unpin(): Unit = if (ownPin) {
      df.unpersist(blocking = false)
      ownPin = false
    }

    def record(s: QualityStats): Unit = recorded = Some(s)
    def known: Boolean = recorded.isDefined
    def stats: QualityStats = recorded.getOrElse {
      val s = Quality.stats(df)
      recorded = Some(s)
      s
    }
  }
}
