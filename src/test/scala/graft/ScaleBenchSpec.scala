package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll

import graft.ext.TextStats
import graft.tools.ScaleBench

/** The scale harness at sf0.001 over two faces: q_missions, whose
  * builder runs jobs, and the lazy q_star_join. */
class ScaleBenchSpec extends SparkSpec with BeforeAndAfterAll {
  private val base = "/root/testdata/sf0.001"
  private lazy val dir = Files.createTempDirectory("graft_scalebench_spec")
  private lazy val replica = {
    val r = dir.resolve("x10").toString
    ScaleBench.replicate(spark, base, r)
    r
  }

  override def afterAll(): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  private def table(d: String, t: String): DataFrame =
    if (t == "events") io.Sources.eventsRaw(spark, d)
    else spark.read.parquet(s"$d/$t.parquet")

  test("the replica holds 10x each fact table's rows and one copy of " +
      "nation and region") {
    ScaleBench.keyCols.keys.foreach { t =>
      assert(table(replica, t).count() == 10 * table(base, t).count(), t)
    }
    ScaleBench.dimTables.foreach { t =>
      assert(table(replica, t).count() == table(base, t).count(), t)
    }
  }

  test("replica documents keep each document's language and quality " +
      "verdict: qualityLangScore counts are the base's x10") {
    def counts(d: String): Map[(String, Double), Long] =
      TextStats.qualityLangScore(table(d, "documents"), "text")
        .groupBy("predicted", "quality_score").count().collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val b = counts(base)
    assert(b.size > 1)
    assert(counts(replica) == b.map { case (k, n) => k -> 10 * n })
  }

  test("the written record parses and holds both scales of each face, " +
      "with builder jobs only where the builder runs them") {
    val out: Path = dir.resolve("scale_slopes.json")
    val names = Set("q_missions", "q_star_join")
    ScaleBench.run(spark, base, replica,
      ScaleBench.faces.filter(f => names(f._1)), out)
    val j = new ObjectMapper().readTree(Files.readString(out))
    assert(j.get("base").asText == base)
    assert(j.get("factor").asInt == 10 && j.get("cpus").asInt == 4)
    assert(j.get("errored").isEmpty)
    def builderJobs(face: String, scale: String): Int = {
      val r = j.get("faces").get(face).get(scale)
      assert(r.get("wall_s").asDouble > 0, s"$face $scale")
      assert(r.get("shuffle_write_mb").isNumber, s"$face $scale")
      r.get("builder_jobs").asInt
    }
    Seq("base", "scaled").foreach { s =>
      assert(builderJobs("q_missions", s) > 0, s)
      assert(builderJobs("q_star_join", s) == 0, s)
    }
    assert(j.get("faces").get("q_missions").get("slope").asDouble > 0)
  }
}
