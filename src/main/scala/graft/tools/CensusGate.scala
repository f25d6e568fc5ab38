package graft.tools

import org.apache.spark.sql.SparkSession

/** Census-diff gate (VERDICT r14 Next #9): PLAN_AUDIT's registry-wide
  * physical-plan census, promoted from advisory artifact to a loud
  * check. The committed `plan_census.json` records every face's
  * shuffle/join feature counts at the census configuration (sf0.001,
  * local[8], 8 shuffle partitions — plan shape, not wall time, so the
  * config only needs to be FIXED, not production-sized); this gate
  * recomputes them and fails (exit 2) when
  *
  *  - an existing face's `exchanges` / `smj` / `cartesian` / `bnl`
  *    count INCREASED (an extra shuffle or a broadcast that degraded
  *    to a sort-merge/nested-loop join is a plan regression even when
  *    its wall time hides in bench noise),
  *  - a face errors during plan build, or
  *  - the registry and the census disagree on membership (new or
  *    removed faces require regenerating the file IN THE SAME COMMIT —
  *    that regeneration is the "explanation" the reviewer sees).
  *
  * DECREASED counts pass with a note (an improvement should be sealed
  * by refreshing the census, but must not block). Run standalone
  * (`runMain graft.tools.CensusGate [sfDir] [censusPath]`), from the
  * round gate sequence, or via Verify with SPARK_GRAFT_CENSUS_GATE=1
  * (opt-in so the driver's wall-capped correctness run is unaffected).
  *
  * Regenerate with `runMain graft.tools.CensusGate --write` after an
  * intentional plan change.
  */
object CensusGate {
  private val tracked = Seq("exchanges", "smj", "cartesian", "bnl")
  private val noted = Seq("broadcasts", "wgl", "topk")

  /** Pure diff rule, pinned by CensusGateSpec. Returns (violations,
    * notes): violations non-empty = gate red. */
  private[graft] def diffOf(
      committed: Map[String, Map[String, Int]],
      current: Map[String, Map[String, Int]])
      : (Seq[String], Seq[String]) = {
    val vio = Seq.newBuilder[String]
    val note = Seq.newBuilder[String]
    (current.keySet -- committed.keySet).toSeq.sorted.foreach { q =>
      vio += s"$q: not in committed census (new face? regenerate " +
        "plan_census.json in the same commit)"
    }
    (committed.keySet -- current.keySet).toSeq.sorted.foreach { q =>
      vio += s"$q: in committed census but not in registry (removed " +
        "face? regenerate plan_census.json)"
    }
    current.toSeq.sortBy(_._1).foreach { case (q, cur) =>
      committed.get(q).foreach { prev =>
        if (cur.contains("error") || prev.contains("error")) {
          if (cur.contains("error"))
            vio += s"$q: plan build errored"
        } else {
          tracked.foreach { f =>
            val (p, c) = (prev.getOrElse(f, 0), cur.getOrElse(f, 0))
            if (c > p) vio += s"$q: $f $p -> $c (plan regression)"
            else if (c < p) note += s"$q: $f $p -> $c (improved; refresh census)"
          }
          noted.foreach { f =>
            val (p, c) = (prev.getOrElse(f, 0), cur.getOrElse(f, 0))
            if (c != p) note += s"$q: $f $p -> $c"
          }
        }
      }
    }
    (vio.result(), note.result())
  }

  /** The census counts a face's POST-PIN execution shape. Subtrees
    * below a pinned `InMemoryRelation` print inside the plan string but
    * execute ONCE, at pin time — exactly like the localCheckpoint jobs
    * the census has always excluded (those hide behind `Scan
    * ExistingRDD` leaves). Without this, changing the SAME pipeline
    * from localCheckpoint to persist (r16's graph-iteration fix, which
    * the pin's partitioning metadata requires) would read as a plan
    * regression while executing strictly fewer exchanges. Strips every
    * line indented under an `InMemoryRelation` line (tree format:
    * deeper `+-`/`:-` marker); the relation line itself is kept. */
  private[graft] def censusPlanOf(plan: String): String = {
    // tree depth = length of the leading indentation run (spaces and
    // ':' rails). Works for marker lines ("+-"/":-") AND the
    // marker-less lines AQE prints inside a cached plan's
    // "== Final Plan ==" section (ResultQueryStage etc.), which carry
    // plain-space indentation deeper than the relation line.
    def indent(l: String): Int =
      l.iterator.takeWhile(c => c == ' ' || c == ':').length
    val out = new StringBuilder
    var skipBelow = -1
    plan.linesIterator.foreach { line =>
      val ind = indent(line)
      if (skipBelow >= 0 && (ind > skipBelow || line.trim.isEmpty)) ()
      else {
        skipBelow = if (line.contains("InMemoryRelation")) ind else -1
        out.append(line).append('\n')
      }
    }
    out.result()
  }

  private[graft] def parseCensus(txt: String): Map[String, Map[String, Int]] =
    txt.linesIterator.filter(_.trim.startsWith("{")).map { line =>
      val q = "\"q\":\"([^\"]+)\"".r.findFirstMatchIn(line)
        .map(_.group(1)).getOrElse("")
      val err = "\"error\":\"([^\"]+)\"".r.findFirstMatchIn(line)
      val counts =
        if (err.isDefined) Map("error" -> 1)
        else "\"(\\w+)\":(-?\\d+)".r.findAllMatchIn(line)
          .map(m => m.group(1) -> m.group(2).toInt).toMap
      q -> counts
    }.filter(_._1.nonEmpty).toMap

  /** One face's census counts, read from the plan before execution
    * (so no `WholeStageCodegen` count: the initial adaptive plan has no
    * codegen stages yet). */
  private def countsOf(spark: SparkSession, dir: String, n: String)
      : Map[String, Int] =
    try {
      val plan = censusPlanOf(graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.executedPlan.toString)
      def c(re: String): Int = re.r.findAllIn(plan).size
      Map(
        "exchanges" -> c("Exchange ((hash|range)partitioning|RoundRobinPartitioning|SinglePartition)"),
        "broadcasts" -> c("BroadcastExchange"),
        "smj" -> c("SortMergeJoin"),
        "cartesian" -> c("CartesianProduct"),
        "bnl" -> c("BroadcastNestedLoopJoin"),
        "wgl" -> c("WindowGroupLimit"),
        "topk" -> c("TakeOrderedAndProject"))
    } catch {
      case scala.util.control.NonFatal(_) => Map("error" -> 1)
    }

  def main(args: Array[String]): Unit = {
    val write = args.contains("--write")
    val rest = args.filterNot(_ == "--write")
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val censusPath = java.nio.file.Paths.get(
      rest.drop(1).headOption.getOrElse("plan_census.json"))
    val spark = graft.Bench.session(dir, "8")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val current: Map[String, Map[String, Int]] = names.map { n =>
      val cs = countsOf(spark, dir, n)
      // faces pin relations while building; 286 builds must not pile up
      graft.Bench.release(spark)
      n -> cs
    }.toMap
    spark.stop()
    if (write) {
      val lines = names.map { n =>
        val cs = current(n)
        if (cs.contains("error")) s"""{"q":"$n","error":"build"}"""
        else (tracked ++ noted).map(f => s""""$f":${cs.getOrElse(f, 0)}""")
          .mkString(s"""{"q":"$n",""", ",", "}")
      }
      java.nio.file.Files.writeString(censusPath,
        lines.mkString("", "\n", "\n"))
      println(s"[census-gate] wrote ${names.size} faces to $censusPath")
    } else {
      val committed = parseCensus(
        java.nio.file.Files.readString(censusPath))
      val (vio, notes) = diffOf(committed, current)
      notes.foreach(n => println(s"[census-gate] note: $n"))
      if (vio.nonEmpty) {
        vio.foreach(v => System.err.println(s"[census-gate] RED: $v"))
        System.err.println(
          s"[census-gate] ${vio.size} violation(s) vs $censusPath")
        sys.exit(2)
      } else println(
        s"[census-gate] green: ${current.size} faces match $censusPath")
    }
  }
}
