package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.clean.CleaningAction
import graft.model.{Insights, Mission, QualityStats}
import graft.profile.Profiler
import graft.score.Quality

/** The interactive-session lifecycle (SURVEY §3) rebuilt as an immutable
  * lineage: `orig` plus an ordered `Seq[CleaningAction]`,
  * replacing the reference's two mutable pandas copies
  * (/root/reference/app.py:176-188).
  *
  * Caching policy: the pipeline pins one version, the working one
  * (MEMORY_AND_DISK — spills instead of OOM at scale). `apply` pins the
  * new version, fills that pin from the previous one with one job, then
  * unpins the previous version, `orig` included; `reset` pins `orig`
  * again. So every derived version is a snapshot held in memory, not
  * rebuilt from the source (a write through Spark to the source path
  * still refreshes every cache over it), while `orig` is a snapshot only
  * while pinned: once unpinned, `orig` and a later `reset` read the
  * source as it is then. A frame the caller pinned before handing it in
  * keeps its pin: the pipeline unpins only what it pinned itself.
  * `missions` runs on the pinned frame and leaves the pin in place, so
  * repeated detect/profile cycles (entry point B, app.py:190-240) rescan
  * memory, not storage.
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
    workVersion: CleaningPipeline.Version) {
  import CleaningPipeline._

  val orig: DataFrame = origVersion.df
  val work: DataFrame = workVersion.df

  def apply(action: CleaningAction): CleaningPipeline = {
    val next = action(work)
    // an action that changes nothing returns its input: same version
    if (next eq work) new CleaningPipeline(origVersion, lineage :+ action, workVersion)
    else {
      val v = new Version(next)
      // a pin left empty when the previous one goes would be filled
      // later from the source, through the whole lineage; filling it
      // takes a scan of `next`, no aggregate
      if (v.pin()) next.foreachPartition((_: Iterator[Row]) => ())
      workVersion.unpin()
      new CleaningPipeline(origVersion, lineage :+ action, v)
    }
  }

  /** Reset to original (app.py:184-188): drop lineage, re-point at orig. */
  def reset(): CleaningPipeline = {
    if (workVersion ne origVersion) workVersion.unpin()
    origVersion.pin()
    new CleaningPipeline(origVersion, Vector.empty, origVersion)
  }

  /** Replay this lineage over a DIFFERENT input — the typed action log
    * doubles as a portable cleaning recipe (the roll-back/replay the
    * reference lists as its next step, app.py:396). Statistics
    * (medians, z-models) are recomputed against the new data, which is
    * the point: the recipe is declarative, not value-frozen. */
  def replay(freshInput: DataFrame): DataFrame =
    lineage.foldLeft(freshInput)((df, a) => a(df))

  def missions: Seq[Mission] = {
    val (ms, stats) = Profiler.missionsAndStats(work)
    workVersion.record(stats)
    ms
  }
  def missionsLog: Seq[String] = lineage.map(_.describe)
  def insights: Insights =
    Quality.insights(origVersion.stats, workVersion.stats, work.columns.toSeq)
  def qualityScore: Double = Quality.score(origVersion.stats, workVersion.stats)
}

object CleaningPipeline {
  def apply(df: DataFrame): CleaningPipeline = {
    val v = new Version(df)
    v.pin()
    new CleaningPipeline(v, Vector.empty, v)
  }

  /** One version of the table, whether the pipeline holds its pin, and
    * its stats once known. */
  private final class Version(val df: DataFrame) {
    @volatile private var ownPin = false
    @volatile private var known: Option[QualityStats] = None

    /** Pins the frame unless it is pinned already; true if this pinned it. */
    def pin(): Boolean = {
      val fresh = df.storageLevel == StorageLevel.NONE
      if (fresh) {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        ownPin = true
      }
      fresh
    }

    /** Drops the pin if the pipeline holds it; a caller's pin stays. */
    def unpin(): Unit = if (ownPin) {
      df.unpersist(blocking = false)
      ownPin = false
    }

    def record(s: QualityStats): Unit = known = Some(s)
    def stats: QualityStats = known.getOrElse {
      val s = Quality.stats(df)
      known = Some(s)
      s
    }
  }
}
