package graftbench

import scala.collection.mutable

/** One measured iteration. */
final case class Sample(seconds: Double, peakMb: Double, gcS: Double,
    result: IterationResult, steps: Map[String, Double])

/** Per-layer metrics of a traced run, per traced iteration. A layer is a
  * `graft` module; `spark.*` and `jvm.*` are the engine underneath,
  * counted over every Spark event that falls inside a benchmark span. */
final class LayerReport(at: Attribution, samples: Seq[Sample], cores: Int,
    overhead: Double) {
  import LayerReport._

  private val n = math.max(1, samples.size).toDouble
  private val all = at.sum(_ => true)
  private def inLayer(layer: String) = at.spans.filter(_.layer == layer)
  private def selfS(layer: String) = inLayer(layer).map(at.selfNs).sum / 1e9 / n
  private def jobs(layer: String) = at.sum(_.layer == layer).jobs / n
  private def value(key: String) =
    Main.median(samples.flatMap(_.result.layerValues.get(key)))
  private def callS(name: String) =
    at.spans.filter(s => s.name == name && !s.builder).map(_.durNs).sum / 1e9 / n
  private def rowsPerResult(names: Seq[String]) = {
    val joinRows = at.spans.filter(s => names.contains(s.name) && !s.builder)
      .map(s => at.total(s).joinRows).sum
    val results = names.size * SimilaritySearch.BatchSize * SimilaritySearch.K * n
    if (joinRows == 0) 0.0 else joinRows / results
  }
  private val methods = Seq("ivf", "lsh", "brute")
    .map(m => m -> s"SimSearch.${m}TopK").toMap
  private val busyS = samples.map(_.seconds).sum

  private def metric(name: String): Double = name match {
    case "graft.pipeline.cached_mb" =>
      if (inLayer("graft.pipeline").isEmpty) 0.0
      else Main.median(samples.map(_.peakMb))
    case "graft.ext.Dedup.shuffle_write_mb" =>
      at.sum(_.layer == "graft.ext.Dedup").shuffleWriteBytes / 1048576.0 / n
    case "graft.ext.SimSearch.rows_examined_per_result" =>
      rowsPerResult(methods.values.toSeq.sorted)
    case "spark.builder.jobs" => all.builderJobs / n
    case "spark.builder.s" => all.builderMs / 1e3 / n
    case "spark.catalyst.ms" => all.catalystMs / n
    case "spark.exec.jobs" => (all.jobs - all.builderJobs) / n
    case "spark.exec.stages" => all.stages / n
    case "spark.exec.tasks" => all.tasks / n
    case "spark.exec.task_s" => all.taskMs / 1e3 / n
    case "spark.exec.shuffle_write_mb" => all.shuffleWriteBytes / 1048576.0 / n
    case "spark.exec.spill_mb" => all.spillBytes / 1048576.0 / n
    case "spark.exec.failed_tasks" => all.failedTasks / n
    case "spark.exec.max_task_share" =>
      if (all.stageMs == 0) 0.0 else all.maxTaskMs.toDouble / all.stageMs
    case "spark.exec.slot_busy" =>
      if (busyS == 0) 0.0 else all.taskMs / 1e3 / (busyS * cores)
    case "jvm.gc_s" => samples.map(_.gcS).sum / n
    case "trace.iteration_s" => Main.median(samples.map(_.seconds))
    case "trace.overhead_s" => overhead
    case SimTime(m) => callS(methods(m))
    case SimRecall(_) => value(name)
    case KeepRatio(_) => value(name)
    case LayerSelf(layer) => selfS(layer)
    case LayerJobs(layer) => jobs(layer)
  }

  val metrics: Seq[(String, Double, String)] =
    Catalog.map { case (name, unit) => (name, metric(name), unit) }

  /** Per-layer summary rows: layer, spans, self s, jobs, builder jobs,
    * tasks, task s, shuffle write MB, catalyst ms (per iteration). */
  val table: Seq[mutable.LinkedHashMap[String, Any]] = at.layers.map { l =>
    val c = at.sum(_.layer == l)
    mutable.LinkedHashMap[String, Any]("layer" -> l,
      "calls" -> inLayer(l).count(s =>
        at.parentOf(s).forall(_.layer != l)) / n, "self_s" -> selfS(l),
      "jobs" -> c.jobs / n, "builder_jobs" -> c.builderJobs / n,
      "tasks" -> c.tasks / n, "task_s" -> c.taskMs / 1e3 / n,
      "shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0 / n,
      "catalyst_ms" -> c.catalystMs / n)
  }

  def tableText: Seq[String] = {
    val head = f"${"layer"}%-22s ${"calls"}%6s ${"self_s"}%8s ${"jobs"}%6s " +
      f"${"bld"}%5s ${"tasks"}%7s ${"task_s"}%8s ${"shufMB"}%8s ${"cat_ms"}%7s"
    head +: table.map { r =>
        def d(k: String) = r(k).asInstanceOf[Double]
        f"${r("layer")}%-22s ${d("calls")}%6.1f ${d("self_s")}%8.3f " +
          f"${d("jobs")}%6.1f ${d("builder_jobs")}%5.1f ${d("tasks")}%7.1f " +
          f"${d("task_s")}%8.3f ${d("shuffle_write_mb")}%8.2f " +
          f"${d("catalyst_ms")}%7.1f"
    }
  }
}

object LayerReport {
  private val Layers = Seq("graft.io", "graft.pipeline", "graft.profile",
    "graft.clean", "graft.score", "graft.ext.TextStats", "graft.ext.Dedup",
    "graft.ext.Packing", "graft.ext.SimSearch")
  private val SimTime = """graft\.ext\.SimSearch\.(ivf|lsh|brute)_s""".r
  private val SimRecall = """graft\.ext\.SimSearch\.(ivf|lsh)_recall""".r
  private val KeepRatio = """(graft\.ext\..*keep_ratio)""".r
  private val LayerSelf = """(graft\..*)\.self_s""".r
  private val LayerJobs = """(graft\..*)\.jobs""".r

  /** Every per-layer metric, in output order, with its unit. A layer a
    * workload does not reach reads 0. */
  val Catalog: Seq[(String, String)] =
    Layers.flatMap(l => Seq(s"$l.self_s" -> "s", s"$l.jobs" -> "count")) ++
    Seq(
      "graft.pipeline.cached_mb" -> "MB",
      "graft.ext.TextStats.keep_ratio" -> "ratio",
      "graft.ext.Dedup.exact_keep_ratio" -> "ratio",
      "graft.ext.Dedup.near_keep_ratio" -> "ratio",
      "graft.ext.Dedup.decontaminate_keep_ratio" -> "ratio",
      "graft.ext.Dedup.shuffle_write_mb" -> "MB",
      "graft.ext.Packing.keep_ratio" -> "ratio",
      "graft.ext.SimSearch.ivf_s" -> "s",
      "graft.ext.SimSearch.lsh_s" -> "s",
      "graft.ext.SimSearch.brute_s" -> "s",
      "graft.ext.SimSearch.ivf_recall" -> "ratio",
      "graft.ext.SimSearch.lsh_recall" -> "ratio",
      "graft.ext.SimSearch.rows_examined_per_result" -> "rows",
      "spark.builder.jobs" -> "count",
      "spark.builder.s" -> "s",
      "spark.catalyst.ms" -> "ms",
      "spark.exec.jobs" -> "count",
      "spark.exec.stages" -> "count",
      "spark.exec.tasks" -> "count",
      "spark.exec.task_s" -> "s",
      "spark.exec.shuffle_write_mb" -> "MB",
      "spark.exec.spill_mb" -> "MB",
      "spark.exec.failed_tasks" -> "count",
      "spark.exec.max_task_share" -> "ratio",
      "spark.exec.slot_busy" -> "ratio",
      "jvm.gc_s" -> "s",
      "trace.iteration_s" -> "s",
      "trace.overhead_s" -> "s")
}
