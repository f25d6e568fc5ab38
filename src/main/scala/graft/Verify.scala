package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args(2+) (dev-only, never passed by the driver): restrict the run
    // to the named queries for fast local iteration with tools/check.py
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // match Bench: big enough not to thrash across 225 queries, small
      // enough not to bloat heap with retained generated classes
      // (static conf, must be set before the session starts; r8 A/B)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a face that throws is recorded (errors.json) and fails the run
    // once every face has run; its stale dump, if any, is removed
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          deleteTree(Paths.get(s"$outDir/$name"))
          Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
        }
      // bound memory across the suite: release the SQL cache AND
      // persistent RDD blocks — localCheckpoints (the dedup family's
      // lineage cuts) live as the latter and clearCache alone leaks
      // them, which r3's judge measured as suite-context memory
      // pressure (92s in-suite vs 1.6s isolated on one face)
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      try spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      catch { case NonFatal(_) => () }
      failure
    }
    // RocksDB state-store parity (VERDICT r5 Next #7): re-run the five
    // core streaming faces under the production provider and require
    // byte-identical results vs the default-provider dump above, so a
    // provider-specific regression can't hide behind the HDFS-backed
    // default. Runs in the official full pass and whenever a listed
    // face is explicitly selected.
    val rocksFaces = Seq("q_stream_hourly", "q_stream_append",
      "q_stream_dedup", "q_stream_sessions", "q_stream_join",
      // r8 session-4: the two new custom-keyed-state faces (ordered
      // EWMA window, KMV min-set) re-run under the production provider
      "q_stream_ewma", "q_stream_kmv",
      // r9: the streaming CMS bucket frame (complete-mode agg state)
      // and the A-ES weighted-sample max-set keyed state
      "q_stream_cms", "q_stream_wsample")
      .filter(n => only.isEmpty || only(n))
    // a parity MISMATCH or ERROR is a failure like a face that throws
    val parityFailures = if (rocksFaces.isEmpty) Nil else {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = try Some(spark.conf.get(key)) catch { case NonFatal(_) => None }
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      val parity = rocksFaces.map { name =>
        val status =
          try {
            val rocks = SparkEntry.queries(name)(spark, sfDir)
              .collect().map(_.toString).sorted.toSeq
            val dumped = spark.read.parquet(s"$outDir/$name")
              .collect().map(_.toString).sorted.toSeq
            if (rocks == dumped) "match"
            else s"MISMATCH (rocksdb ${rocks.size} rows vs ${dumped.size})"
          } catch { case NonFatal(e) =>
            s"ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
          }
        try spark.catalog.clearCache() catch { case NonFatal(_) => () }
        name -> status
      }
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      System.err.println("[verify] rocksdb parity: " +
        parity.map { case (n, st) => s"$n=$st" }.mkString(", "))
      Files.writeString(Paths.get(s"$outDir/rocksdb_parity.json"),
        jsonObject(parity))
      parity.collect { case (n, st) if st != "match" => s"rocksdb:$n" -> st }
    }
    val errors = failures ++ parityFailures
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(errors))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(
      SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) }))
    spark.stop()
    // census-diff gate (VERDICT r14 Next #9), OPT-IN: the gate rebuilds
    // every face's plan in its own fixed-config session (sf0.001,
    // local[8]) and exits 2 on an unexplained exchange/join-count jump
    // vs the committed plan_census.json. Off by default so the driver's
    // wall-capped correctness run never pays for it; the round gate
    // sequence and CI-style local runs set SPARK_GRAFT_CENSUS_GATE=1.
    if (sys.env.get("SPARK_GRAFT_CENSUS_GATE").contains("1"))
      graft.tools.CensusGate.main(Array("/root/testdata/sf0.001"))
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} check(s) failed: " +
        errors.map(_._1).mkString(", ") + s" (see $outDir/errors.json)")
      sys.exit(1)
    }
  }

  /** A JSON object of string pairs, in the pairs' order. Escapes
    * backslash, quote and ALL control chars (<0x20): a tab or CR in
    * oracle SQL or an exception message would otherwise make any
    * json.load of the file fail. */
  private[graft] def jsonObject(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
}
