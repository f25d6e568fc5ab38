package graft.tools

import org.apache.spark.sql.functions._

/** r16 optimization-round dev probe: stage-by-stage timings and shape
  * statistics for the faces VERDICT r15 targets (triangles skew,
  * pagerank/ppr iteration, pca covariance, char entropy A/B). Bench
  * parity: Bench's session, noop sink, and Bench's release of cached
  * and persisted blocks between measured bodies (timing a whole face:
  * tools.PerfProbe). Usage: R16Probe <subcommand> [sfDir]. */
object R16Probe {
  def main(args: Array[String]): Unit = {
    val sub = args.headOption.getOrElse("tri")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Bench.session(dir,
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime(); val r = body
      println(f"[r16] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    sub match {
      case "tristat" =>
        // degree / wedge-shape statistics of the q_triangles graph
        val tri = graft.QueriesExt.triEdges(spark, dir)
          .localCheckpoint()
        val und = tri.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
          .localCheckpoint()
        println(s"[r16] edges=${und.count()}")
        val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
          .groupBy("v").agg(count(lit(1)).as("d")).localCheckpoint()
        deg.agg(max("d"), expr("percentile(d, 0.5)"),
          expr("percentile(d, 0.99)"), count(lit(1))).show(false)
        val withDeg = und
          .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
        val aLower = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        val oriented = withDeg.select(
          when(aLower, col("a")).otherwise(col("b")).as("u"))
        val od = oriented.groupBy("u").agg(count(lit(1)).as("od"))
          .localCheckpoint()
        od.agg(max("od"), expr("percentile(od, 0.5)"),
          expr("percentile(od, 0.99)"),
          sum(col("od") * (col("od") - 1) / 2).as("wedges")).show(false)
        od.orderBy(col("od").desc).limit(10).show(false)
      case "plan" =>
        // AQE-final executed plan of a declared query at bench parity
        val n = args(2)
        val df = graft.SparkEntry.queries(n)(spark, dir)
        noop(df)
        println(df.queryExecution.executedPlan.toString)
      case "planstatic" =>
        // the exact string the census counts (pre-execution), raw vs
        // truncated
        val n = args(2)
        val raw = graft.SparkEntry.queries(n)(spark, dir)
          .queryExecution.executedPlan.toString
        println("----RAW----"); println(raw)
        println("----TRUNC----"); println(CensusGate.censusPlanOf(raw))
      case "pca" =>
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        for (rep <- 1 to 2) {
          println(s"--- rep $rep")
          val n = t("count") { emb.count() }
          val ex = emb.select(col("vec_id").as("id"),
            posexplode(graft.ext.SimSearch.toDouble(col("embedding")))
              .as(Seq("p", "x")))
            .select(col("id"), (col("p") + 1).as("j"), col("x"))
          val mn = ex.groupBy(col("j"))
            .agg(round(sum(col("x").cast("decimal(28,14)")).cast("double")
              / count(lit(1)), 8).as("m"))
          t("means agg") { noop(mn) }
          val cx = ex.join(broadcast(mn), "j").select(col("id"), col("j"),
            (col("x") - col("m")).as("y"))
          val a = cx.select(col("id"), col("j").as("i"), col("y").as("ya"))
          val b = cx.select(col("id"), col("j"), col("y").as("yb"))
          val upper = a.join(b, Seq("id")).filter(col("i") <= col("j"))
            .groupBy(col("i"), col("j"))
            .agg(round(sum((col("ya") * col("yb")).cast("decimal(28,14)"))
              .cast("double") / lit(n.toDouble), 8).as("c"))
          t("covariance (join form)") { noop(upper) }
          // narrow per-row pair generation (the r16 shipped shape)
          val ms = mn.orderBy("j").collect().map(_.getDouble(1)).toSeq
          val mLit = array(ms.map(lit(_)): _*)
          val yArr = transform(graft.ext.SimSearch.toDouble(col("embedding")),
            (x, i) => x - element_at(mLit, i + 1))
          val upperNarrow = emb
            .select(yArr.as("__y"))
            .select(posexplode(col("__y")).as(Seq("p", "ya")), col("__y"))
            .select(col("p"), col("ya"),
              posexplode(slice(col("__y"), col("p") + 1,
                size(col("__y")) - col("p"))).as(Seq("q", "yb")))
            .select((col("p") + 1).as("i"), (col("p") + 1 + col("q")).as("j"),
              (col("ya") * col("yb")).cast("decimal(28,14)").as("t"))
            .groupBy(col("i"), col("j"))
            .agg(round(sum(col("t")).cast("double") / lit(n.toDouble), 8)
              .as("c"))
          t("covariance (narrow form)") { noop(upperNarrow) }
          val upperNoDec = emb
            .select(yArr.as("__y"))
            .select(posexplode(col("__y")).as(Seq("p", "ya")), col("__y"))
            .select(col("p"), col("ya"),
              posexplode(slice(col("__y"), col("p") + 1,
                size(col("__y")) - col("p"))).as(Seq("q", "yb")))
            .select((col("p") + 1).as("i"), (col("p") + 1 + col("q")).as("j"),
              (col("ya") * col("yb")).as("t"))
            .groupBy(col("i"), col("j"))
            .agg(sum(col("t")).as("c"))
          t("covariance (narrow, double sum)") { noop(upperNoDec) }
          t("pca full face") {
            noop(graft.SparkEntry.queries("q_pca_project")(spark, dir))
          }
          graft.Bench.release(spark)
        }
      case "xmodal" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        for (rep <- 1 to 2) {
          println(s"--- rep $rep")
          val base = docs.filter(col("doc_id") % 9 === 2).select(col("doc_id"))
          val orig = graft.ext.Multimodal.synthesizeImages(base, "doc_id")
          val reenc = graft.ext.Multimodal
            .synthesizeImages(base.filter(col("doc_id") % 4 === 1), "doc_id",
              grayShift = 8)
            .withColumn("media_id", col("media_id") + 1000000L)
          val all = orig.unionByName(reenc)
          t("synth+dhash") {
            noop(graft.ext.Multimodal.imageDHash(all))
          }
          val hashes = graft.ext.Multimodal.imageDHash(all).localCheckpoint(true)
          val pairs = t("phashNearDups") {
            val p = graft.ext.Multimodal.phashNearDups(hashes,
              maxDist = 3, maxBandFreq = 64).localCheckpoint(true)
            println(s"[r16] pairs=${p.count()}"); p
          }
          t("connectedComponents") {
            noop(graft.ext.Dedup.connectedComponents(pairs))
          }
          val reps = graft.ext.Dedup.connectedComponents(pairs)
            .groupBy(col("comp")).agg(min(col("id")).as("rep_id"))
          val e = spark.read.parquet(s"$dir/embeddings.parquet")
          t("bruteTopK") {
            val qv = reps.join(e, e("vec_id") === col("rep_id") % 500)
              .select(col("rep_id").as("vec_id"), col("embedding"))
            noop(graft.ext.SimSearch.bruteTopK(e, qv, "vec_id", "embedding",
              k = 5, excludeSelf = false))
          }
          graft.Bench.release(spark)
        }
      case "spread" =>
        // single-row-group scan-parallelism A/B: the fixture parquet is
        // ONE row group, so zero-shuffle per-row faces run on one task;
        // does a round-robin spread of the scan pay for its exchange?
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        println(s"[r16] docs scan partitions=${docs.rdd.getNumPartitions}")
        val sp = docs.repartition(
          spark.sparkContext.defaultParallelism)
        for (rep <- 1 to 3) {
          println(s"--- rep $rep")
          t("repetition (scan as-is)") {
            noop(graft.ext.Repetition.withRepetitionStats(docs, "text"))
          }
          graft.Bench.release(spark)
          t("repetition (spread 32)") {
            noop(graft.ext.Repetition.withRepetitionStats(sp, "text"))
          }
          graft.Bench.release(spark)
          val doubled = docs.select(col("doc_id"),
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" "), col("text")))
              .otherwise(col("text")).as("text"))
          t("intradoc (scan as-is)") {
            noop(graft.ext.Repetition.removeRepeatedSpans(doubled, "text", 10))
          }
          graft.Bench.release(spark)
          val doubledSp = sp.select(col("doc_id"),
            when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" "), col("text")))
              .otherwise(col("text")).as("text"))
          t("intradoc (spread 32)") {
            noop(graft.ext.Repetition.removeRepeatedSpans(doubledSp, "text", 10))
          }
          graft.Bench.release(spark)
        }
      case "char" =>
        // charEntropy: interpreted run-length fold vs explode+agg+join,
        // at the given SF (VERDICT r15 Next #8)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        docs.count()
        for (rep <- 1 to 3) {
          println(s"--- rep $rep")
          t("fold (current)") {
            noop(graft.ext.TextStats.charEntropy(docs, "doc_id", "text"))
          }
          graft.Bench.release(spark)
          t("explode+agg (old shape)") {
            val base = docs.select(col("doc_id").as("id"),
              regexp_replace(graft.ext.TextStats.normalized(
                coalesce(col("text"), lit(""))), " ", "").as("s"))
            val ch = base.filter(length(col("s")) > 0)
              .select(col("id"), length(col("s")).cast("double").as("nD"),
                explode(split(col("s"), "")).as("c"))
              .groupBy("id", "nD", "c").agg(count(lit(1)).as("cnt"))
            val ent = ch.groupBy("id")
              .agg(sum(round(-(col("cnt") / col("nD")) *
                log(col("cnt") / col("nD")), 12).cast("decimal(38,14)"))
                .as("e"), count(lit(1)).as("nd"), max("nD").as("n"))
            noop(base.join(ent, Seq("id"), "left"))
          }
          graft.Bench.release(spark)
        }
      case other => println(s"unknown subcommand $other")
    }
    spark.stop()
  }
}
