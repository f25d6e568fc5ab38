package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload of the session benchmark and prints one JSON result
  * line: with `--trace 0` the end-to-end metrics of an untraced run, with
  * `--trace 1` the per-layer metrics of a traced run (plus the tracing
  * overhead against untraced iterations of the same run).
  *
  * {{{
  * graftbench.Main --workload cleaning_session --seed 1 --seconds 1 \
  *   --trace 0 --out <dir> [--scale full|small]
  * }}}
  *
  * One process, one closed-loop client, `local[cores]` with as many
  * shuffle partitions as cores. After the warm-up iterations an untraced
  * run measures at least `--seconds` and at least MeasuredIterations
  * iterations. `--scale small` reproduces the earlier 12k-row /
  * 1.2k-document sizing for comparison. */
object Main {
  val SetupReps = 3
  /** Iteration times fall steeply over the first two iterations of a
    * fresh JVM (class loading, Janino, JIT); both count as set-up. */
  val WarmupIterations = 2
  /** Iterations an untraced run measures at least; the reported time is
    * their median. One: the third iteration alone spread no more over
    * seeds than the median of the third and fourth, and a fourth does not
    * fit the evaluation's time limit. */
  val MeasuredIterations = 1
  /** Failed iterations a measurement tolerates before it gives up. */
  val MaxFailures = 2

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: String, scale: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("out"), m.getOrElse("scale", "full"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(a.out, s"${a.workload}-seed${a.seed}")
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("sessionbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // as in graft.Bench: the default 100-entry codegen cache evicts and
      // recompiles classes across an iteration's queries; a long-lived
      // session keeps its compiled plans
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkStart = (System.nanoTime() - t0) / 1e9
    val exitCode =
      try { run(spark, a, cores, work.toString, sparkStart); 0 }
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(exitCode)
  }

  def workload(spark: SparkSession, a: Args, cores: Int,
      dir: String): Workload = {
    val small = a.scale == "small"
    a.workload match {
      case "cleaning_session" =>
        new CleaningSession(spark, a.seed, if (small) 12000 else 40000, dir)
      case "curation_funnel" =>
        // the funnel, then one batch of top-k searches over a long-lived
        // pinned vector corpus (graft.ext.SimSearch)
        new Sequenced(
          new CurationFunnel(spark, a.seed, if (small) 300 else 2000,
            replicas = 4, nFiles = cores, dir),
          new SimilaritySearch(spark, a.seed, if (small) 2000 else 5000,
            nFiles = cores))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def run(spark: SparkSession, a: Args, cores: Int, dir: String,
      sparkStart: Double): Unit = {
    val wl = workload(spark, a, cores, dir)
    val traced = new TracedRun(spark)
    val ops = new Ops(spark, traced.tracer)
    def log(s: String): Unit = System.err.println(s"[sessionbench] $s")

    // set-up: inputs generated SetupReps times from the seed (the digests
    // must agree; the median time counts), written and pinned once, then
    // warm-up iterations
    val gens = (1 to SetupReps).map { _ =>
      val g0 = System.nanoTime()
      val d = wl.generate()
      ((System.nanoTime() - g0) / 1e9, d)
    }
    val digests = gens.map(_._2).distinct
    ops.check("input.digest")(digests.size == 1,
      s"one seed gave different inputs: ${digests.mkString(", ")}")
    val p0 = System.nanoTime()
    wl.prepare()
    val prepare = (System.nanoTime() - p0) / 1e9
    val samples = mutable.ArrayBuffer.empty[Sample]
    var next = 0
    def iterate(): Unit = {
      traced.tracer.iteration = next
      ops.reset()
      val gc0 = traced.gcMs
      try {
        val r = wl.iteration(ops, next)
        samples += Sample(ops.seconds, ops.peakMb,
          (traced.gcMs - gc0) / 1e3, r, ops.stepSeconds.toMap)
      } catch {
        case e: StepFailed => log(e.getMessage)
      }
      next += 1
    }
    /** Iterates for `seconds`, and until `min` iterations succeeded or
      * MaxFailures failed. */
    def measure(seconds: Double, min: Int): Seq[Sample] = {
      val from = samples.size
      val first = next
      val m0 = System.nanoTime()
      def ok = samples.size - from
      while ((System.nanoTime() - m0) / 1e9 < seconds ||
          (ok < min && next - first - ok < MaxFailures)) iterate()
      samples.drop(from).toSeq
    }

    val w0 = System.nanoTime()
    (1 to WarmupIterations).foreach(_ => iterate())
    val warmup = (System.nanoTime() - w0) / 1e9
    val setup = sparkStart + median(gens.map(_._1)) + prepare + warmup
    log(f"setup: spark ${sparkStart}%.2fs, inputs " +
      gens.map(g => f"${g._1}%.2f").mkString("/") +
      f"s, prepare $prepare%.2fs, warm-up $warmup%.2fs" +
      s", input digest ${digests.head}")

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "scale" -> a.scale,
      "trace" -> a.trace, "cores" -> cores, "input_digest" -> digests.head,
      "inputs_s" -> gens.map(_._1), "spark_start_s" -> sparkStart,
      "prepare_s" -> prepare, "warmup_s" -> warmup)
    val (metrics, measured) =
      if (!a.trace) {
        val its = measure(a.seconds, MeasuredIterations)
        record("iteration_s") = its.map(_.seconds)
        record("steps_s") = its.map(_.steps)
        val it = median(its.map(_.seconds))
        (Seq(
          ("setup_s", setup, "s"),
          ("iteration_s", it, "s"),
          ("rows_per_s", if (it > 0) wl.unitsPerIteration / it else 0.0, "1/s"),
          ("peak_cached_mb", median(its.map(_.peakMb)), "MB"),
          ("recall", median(its.map(_.result.recall)), "ratio"),
          ("success_rate",
            (ops.attempted - ops.failed).toDouble / math.max(1L, ops.attempted),
            "ratio")), its)
      } else {
        // untraced, traced, untraced: the overhead compares the traced
        // iterations with untraced ones on both sides of them, so the
        // JVM's warming between iterations cancels out
        val before = measure(a.seconds / 3, 1)
        traced.start()
        val its = measure(a.seconds / 3, 1)
        val attribution = traced.finish()
        val plain = before ++ measure(a.seconds / 3, 1)
        record("iteration_s") = plain.map(_.seconds)
        record("traced_iteration_s") = its.map(_.seconds)
        val layer = new LayerReport(attribution, its, cores,
          overhead = median(its.map(_.seconds)) - median(plain.map(_.seconds)))
        val spans = Paths.get(dir, "spans.jsonl").toString
        writeSpans(spans, attribution)
        record("spans") = spans
        record("layers") = layer.table
        log(s"per-layer summary (${its.size} traced iterations, per iteration):")
        layer.tableText.foreach(l => log(l))
        (layer.metrics, plain ++ its)
      }
    record("attempted") = ops.attempted
    record("failed") = ops.failed
    record("errors") = ops.errors.toSeq
    ops.errors.take(20).foreach(e => log(s"FAILED $e"))
    metrics.foreach { case (n, v, u) => log(f"$n%-45s $v%14.6f $u") }
    val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"
    Files.write(Paths.get(a.out, name),
      Json(record).getBytes(StandardCharsets.UTF_8))

    val correct = ops.failed == 0 && measured.nonEmpty
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      }: _*))))
  }

  private def writeSpans(path: String, at: Attribution): Unit = {
    val lines = at.spans.map { s =>
      val c = at.counts(s.id)
      Json(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "iteration" -> s.iteration,
        "name" -> s.name, "layer" -> s.layer, "builder" -> s.builder,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.durNs / 1e9, "self_s" -> at.selfNs(s) / 1e9,
        "jobs" -> c.jobs, "builder_jobs" -> c.builderJobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "task_s" -> c.taskMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
        "spill_mb" -> c.spillBytes / 1048576.0,
        "catalyst_ms" -> c.catalystMs, "join_rows" -> c.joinRows))
    }
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case x => apply(x.toString)
  }
}
