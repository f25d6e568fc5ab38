package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one measured iteration reports besides its time. `layerValues`
  * are per-layer outcome ratios (keep ratios, per-method recall). */
final case class IterationResult(recall: Double,
    layerValues: Map[String, Double] = Map.empty)

/** A workload: seeded input generation, one-time preparation, and a
  * closed-loop iteration that reaches the engine only through the public
  * functions of the `graft` modules. */
trait Workload {
  /** Generates the inputs in memory from the seed alone and returns their
    * digest. Repeatable: every call regenerates the same inputs. */
  def generate(): String
  /** Writes the generated inputs under the workload's directory, pins
    * and precomputes what every iteration shares. */
  def prepare(): Unit
  def iteration(ops: Ops, i: Int): IterationResult
  /** Work per iteration in the workload's rows_per_s unit. */
  def unitsPerIteration: Double
}

/** Runs `first` and then `second` as one workload: one set-up, one
  * iteration that does both. Recall and work units are `first`'s; the
  * per-layer values of both are kept. */
final class Sequenced(first: Workload, second: Workload) extends Workload {
  def generate(): String = {
    val d = new Digest
    d.add(first.generate(), second.generate())
    d.hex
  }
  def prepare(): Unit = { first.prepare(); second.prepare() }
  def iteration(ops: Ops, i: Int): IterationResult = {
    val a = first.iteration(ops, i)
    val b = second.iteration(ops, i)
    a.copy(layerValues = a.layerValues ++ b.layerValues)
  }
  def unitsPerIteration: Double = first.unitsPerIteration
}

final class StepFailed(step: String, cause: Throwable)
    extends RuntimeException(s"step $step failed: $cause", cause)

/** Operation accounting for one run. A step is a timed call into a layer
  * (traced as a span); a check is an untimed output check. An exception in
  * a step or a false check counts as a failed operation. */
final class Ops(spark: SparkSession, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  private var stepNs = 0L
  /** Seconds per step name in the current iteration. */
  val stepSeconds = mutable.LinkedHashMap.empty[String, Double]
  private var peakBytes = 0L

  /** Bytes of the RDDs pinned right now. An unpersisted RDD drops out at
    * once, even while its blocks are still being removed. */
  def pinnedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Starts an iteration's clock and pinned-bytes peak. */
  def reset(): Unit = {
    stepNs = 0L
    stepSeconds.clear()
    peakBytes = pinnedBytes
  }
  def sample(): Unit = peakBytes = math.max(peakBytes, pinnedBytes)
  def seconds: Double = stepNs / 1e9
  def peakMb: Double = peakBytes / 1048576.0

  def step[A](name: String, layer: String, builder: Boolean = false)(
      body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try tracer.span(name, layer, builder)(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$name: $e"
          throw new StepFailed(name, e)
      } finally {
        val ns = System.nanoTime() - t0
        stepNs += ns
        stepSeconds(name) = stepSeconds.getOrElse(name, 0.0) + ns / 1e9
      }
    sample()
    out
  }

  def check(name: String)(ok: => Boolean, detail: => String): Unit = {
    attempted += 1
    val good =
      try ok
      catch { case NonFatal(e) => errors += s"$name: $e"; false }
    if (!good) {
      failed += 1
      errors += s"check $name failed: $detail"
    }
  }
}

/** SHA-256 over the canonical text of generated rows. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(fields: Any*): Unit = {
    md.update(fields.map(f => if (f == null) "\u0000" else f.toString)
      .mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    md.update('\n'.toByte)
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}
