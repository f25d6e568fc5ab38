package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench
import graft.Bench.Obj

/** The scale harness: every registered face, plus the probe-only
  * q_profile_approx (no SQL oracle can mirror Spark's HLL++, so it is
  * timed here and nowhere else), run at the base fixture and at a
  * `Factor`x replica of it. Per face and scale it records the fastest
  * rep's wall time, and that rep's builder jobs (jobs that run before
  * the face returns its DataFrame) and shuffle-write MB, all from one
  * listener. The slope t(Factor x)/t(1x) of a linear operator lands
  * near `Factor`; well above it is a superlinear red flag for the
  * 100 TB design point. SCALE.md records the readings.
  *
  * Replica: each fact table is `Factor` id-shifted copies (keys +
  * r * 10^8, so joins within a copy still match and dim joins stay
  * intact; the shifted keys stay below 2^31, which Layout.zorder64
  * requires); nation/region stay one copy. Documents are permuted per
  * copy (see [[permuted]]); embeddings copy as they are (cosine ties
  * break on id; this times, it does not measure recall).
  *
  * Usage: runMain graft.tools.ScaleBench <baseDir> <replicaDir>
  * writes scale_slopes.json in the working directory.
  * Env: SPARK_GRAFT_CPUS (4). */
object ScaleBench {
  val Factor = 10
  private val RepsBase = 3
  private val RepsScaled = 2
  private val Offset = 100000000L

  private type Build = (SparkSession, String) => DataFrame

  private[graft] val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  private[graft] val dimTables = Seq("nation", "region")

  /** Every registered face, then the probe-only one. */
  private[graft] def faces: Seq[(String, Build)] =
    graft.SparkEntry.faces.map(f => f.name -> f.build) :+
      ("q_profile_approx" -> (graft.Queries.qProfileApprox _))

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScaleBench <baseDir> <replicaDir>")
    val spark = Bench.session(args(0),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    run(spark, args(0), args(1), faces, Paths.get("scale_slopes.json"))
    spark.stop()
  }

  /** One face at one scale: the fastest rep's wall time, with that
    * rep's builder jobs and shuffle-write MB. */
  private final case class Reading(wallSec: Double, builderJobs: Int,
      shuffleWriteMb: Double)

  /** Job start times and shuffle bytes written since the last [[take]].
    * A footer (schema) read, the one-task job that every
    * `spark.read.parquet` runs outside any SQL execution, runs no plan
    * and is not counted as a job. */
  private final class Recorder(sc: SparkContext) extends SparkListener {
    private val jobStarts = ArrayBuffer.empty[Long]
    private var shuffleBytes = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val footerRead = j.stageInfos.exists(_.name.startsWith("parquet at ")) &&
        Option(j.properties)
          .forall(_.getProperty("spark.sql.execution.id") == null)
      if (!footerRead) synchronized { jobStarts += j.time }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Option(s.stageInfo.taskMetrics).foreach { m =>
        synchronized { shuffleBytes += m.shuffleWriteMetrics.bytesWritten }
      }
    /** (jobs started before `builtAt` ms, shuffle bytes), counted once
      * every event posted so far has arrived; then starts over. */
    def take(builtAt: Long): (Int, Long) = {
      ListenerBusBridge.drain(sc)
      synchronized {
        val r = (jobStarts.count(_ < builtAt), shuffleBytes)
        jobStarts.clear(); shuffleBytes = 0L
        r
      }
    }
  }

  /** Builds the replica of `baseDir` in `replicaDir`, times `faces` at
    * both scales, and writes the record to `out`. */
  private[graft] def run(spark: SparkSession, baseDir: String,
      replicaDir: String, faces: Seq[(String, Build)], out: Path): Unit = {
    replicate(spark, baseDir, replicaDir)
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    // one rep through Bench's rep; the wrapper stamps the moment the
    // builder returned, which splits builder jobs from execution jobs
    def once(dir: String, build: Build): Either[String, Reading] = {
      rec.take(0L) // drop the events of earlier work
      var builtAt = Long.MaxValue
      var error = ""
      val sec = Bench.rep(spark, dir, { (s, d) =>
        val df = build(s, d); builtAt = System.currentTimeMillis(); df
      }) { body =>
        val t0 = System.nanoTime()
        try { body; Some((System.nanoTime() - t0) / 1e9) }
        catch { case NonFatal(e) => error = e.toString; None }
      }
      val (jobs, bytes) = rec.take(builtAt)
      sec.map(Reading(_, jobs, math.round(bytes / 1048.576) / 1000.0))
        .toRight(error)
    }
    // best-of-N, not median: single reps on a shared VM spike 5-10x,
    // and a slope wants the repeatable floor, not the spike
    def best(dir: String, build: Build, reps: Int): Either[String, Reading] = {
      val rs = (1 to reps).map(_ => once(dir, build))
      rs.collect { case Right(r) => r }.minByOption(_.wallSec)
        .toRight(rs.collect { case Left(e) => e }.last)
    }
    def fields(r: Either[String, Reading]): Obj = r.fold(
      e => Obj("error" -> e),
      x => Obj("wall_s" -> math.round(x.wallSec * 1000) / 1000.0,
        "builder_jobs" -> x.builderJobs,
        "shuffle_write_mb" -> x.shuffleWriteMb))
    val rows = try faces.map { case (name, build) =>
      val b = best(baseDir, build, RepsBase)
      val s = best(replicaDir, build, RepsScaled)
      val slope = for (x <- b.toOption; y <- s.toOption)
        yield math.round(y.wallSec / x.wallSec * 100) / 100.0
      def sec(r: Either[String, Reading]) = r.fold(_ => "error",
        x => f"${x.wallSec}%.2fs")
      println(s"[scale] $name ${sec(b)} -> ${sec(s)}")
      (name, b.isLeft || s.isLeft,
        Obj("base" -> fields(b), "scaled" -> fields(s), "slope" -> slope))
    } finally spark.sparkContext.removeSparkListener(rec)
    Files.writeString(out, Bench.json(Obj("metric" -> "scale_slopes",
      "base" -> baseDir, "factor" -> Factor,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "reps_base" -> RepsBase, "reps_scaled" -> RepsScaled,
      "errored" -> rows.collect { case (n, true, _) => n },
      "faces" -> Obj(rows.map { case (n, _, o) => n -> o }: _*))) + "\n")
  }

  /** The text of copy `r` of a document: copy 0 is the document; every
    * other copy orders its words by xxhash64(word, r), a deterministic
    * shuffle. The word multiset stays, so quality and language verdicts
    * match the base; the 3-shingle set does not, so copies are not
    * near-duplicates of each other and the replica keeps the base's
    * duplicate rate. (A rotation keeps all but ~4 shingles: at 10x the
    * near-dup stage then collapsed 43k documents to 5k.) */
  private def permuted(text: Column, r: Int): Column =
    if (r == 0) text
    else array_join(transform(
      array_sort(transform(split(text, "\\s+"),
        w => struct(xxhash64(w, lit(r)).as("k"), w.as("v")))),
      p => p.getField("v")), " ")

  /** Writes the replica as plain single parquet FILES (the fixture
    * layout, which the streaming staging path requires). Skipped when
    * the marker records the same base fixture. */
  private[graft] def replicate(spark: SparkSession, baseDir: String,
      replicaDir: String): Unit = {
    val marker = Paths.get(replicaDir, s"_replica_x$Factor")
    // the marker records the BASE fixture's identity (path + lineitem
    // size/mtime): bare existence would silently reuse a replica after
    // the base is regenerated or swapped
    val baseLi = Paths.get(s"$baseDir/lineitem.parquet")
    val stamp = s"$baseDir ${Files.size(baseLi)} " +
      Files.getLastModifiedTime(baseLi).toMillis
    if (Files.exists(marker) && Files.readString(marker) == stamp) return
    Files.createDirectories(Paths.get(replicaDir))
    dimTables.foreach { t =>
      Files.copy(Paths.get(s"$baseDir/$t.parquet"),
        Paths.get(s"$replicaDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    keyCols.foreach { case (t, keys) =>
      // events.ts is nano-epoch int64 in the fixture; read it as a plain
      // long (nanosAsLong) so the copy writes the same physical type
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      val df = try {
        val raw = spark.read.parquet(s"$baseDir/$t.parquet")
        raw.schema // resolve under the conf
        raw
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val copies = (0 until Factor).map { r =>
        val shifted = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(r * Offset)))
        if (t == "documents")
          shifted.withColumn("text", permuted(col("text"), r))
        else shifted
      }
      val tmp = s"$replicaDir/_tmp_$t"
      copies.reduce(_ union _).coalesce(1).write.mode("overwrite")
        .parquet(tmp)
      val listing = Files.list(Paths.get(tmp))
      val part = try listing.toArray.map(_.toString)
        .find(_.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $tmp for $t"))
      finally listing.close()
      Files.move(Paths.get(part), Paths.get(s"$replicaDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val walk = Files.walk(Paths.get(tmp))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    Files.writeString(marker, stamp)
  }
}
