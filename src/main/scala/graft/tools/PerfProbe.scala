package graft.tools

/** Bench-faithful single-query timing: Bench's session and rep (noop
  * sink, then the SQL cache and persistent RDD blocks released), median
  * of `Bench.Reps` reps, so numbers are comparable to BENCH_r*.json
  * entries. Usage: PerfProbe <sfDir> <q>... */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Bench.session(args(0), cpus)
    // SPARK_GRAFT_PROBE_GC=1: System.gc() before each rep — the
    // suite-context-factor experiment (r9): does reclaiming JVM
    // residency between queries recover isolated-level times?
    val gcBetween = sys.env.get("SPARK_GRAFT_PROBE_GC").contains("1")
    args.drop(1).foreach { n =>
      val times = (1 to graft.Bench.Reps).flatMap { _ =>
        if (gcBetween) System.gc()
        graft.Bench.rep(spark, args(0), graft.SparkEntry.queries(n)) { body =>
          val t0 = System.nanoTime()
          body
          Some((System.nanoTime() - t0) / 1e9)
        }
      }
      println(f"[perf] $n median=${times.sorted.apply(times.size / 2)}%.2fs all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
