package graft

/** Physical-plan assertions for the three top-k paths the r3 verdict
  * flagged as scaladoc-only claims ("Next round" #5). Investigating the
  * claims found one of them FALSE: Spark's InferWindowGroupLimit never
  * fires on an EMPTY partition spec (verified against bare Spark 4.1.2
  * — a global `row_number() OVER (ORDER BY ...)` + rank filter plans as
  * an unbounded single-partition Window, no map-side limit). So the two
  * global top-k paths (bm25 face, buildVocab) were rewritten to
  * `orderBy().limit(k)` → `TakeOrderedAndProject` (per-partition
  * bounded heaps + k-row merge), with rank assigned after the limit
  * over k rows. The per-group path (stratifiedQuota) keeps the window
  * form, which DOES get the WindowGroupLimit rewrite.
  *
  * These tests pin those nodes in the executedPlan of the SHIPPED
  * registry faces (the technique of IoSpec's PartitionFilters grep), so
  * a Spark upgrade or refactor that reverts to an unbounded
  * single-partition window fails the build.
  */
class PlanAssertSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_bm25: global top-20 goes through TakeOrderedAndProject, not an unbounded window") {
    val plan = planOf("q_bm25")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_bm25 must keep its bounded global top-k; plan:\n$plan")
  }

  test("q_vocab: top-maxSize goes through TakeOrderedAndProject, not an unbounded window") {
    val plan = planOf("q_vocab")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_vocab must keep its bounded global top-k; plan:\n$plan")
  }

  test("q_zipf_fit: top-R spectrum goes through TakeOrderedAndProject") {
    val plan = planOf("q_zipf_fit")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_zipf_fit must keep its bounded global top-R; plan:\n$plan")
  }

  test("q_cluster_sample: per-cluster top-k window is WindowGroupLimit-bounded") {
    val plan = planOf("q_cluster_sample")
    assert(plan.contains("WindowGroupLimit"),
      s"q_cluster_sample must keep its map-side per-cluster bound; plan:\n$plan")
  }

  test("q_knn_graph: per-node neighbor window is WindowGroupLimit-bounded " +
      "and the pair join never goes cartesian") {
    val plan = planOf("q_knn_graph")
    assert(plan.contains("WindowGroupLimit"),
      s"q_knn_graph must keep its map-side per-node bound; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the within-cluster pair join must stay keyed on list_id; plan:\n$plan")
  }

  test("q_crossmodal_retrieval: banded/broadcast joins only — never a " +
      "cartesian; the representative set is the broadcast side") {
    val plan = planOf("q_crossmodal_retrieval")
    assert(!plan.contains("CartesianProduct"),
      s"phash banding + rep broadcast must never plan cartesian; plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
      s"the tiny representative set must be the broadcast side; plan:\n$plan")
  }

  test("q_substring_runs + q_decontaminate_runs: posting joins stay " +
      "hash-equi-keyed — no cartesian, no broadcast nested loop") {
    Seq("q_substring_runs", "q_decontaminate_runs").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
        s"$q's posting join must stay keyed on the gram hash; plan:\n$plan")
    }
  }

  test("q_span_removal: posting join + interval join stay equi-keyed; " +
      "the rebuild never explodes covered tokens") {
    val plan = planOf("q_span_removal")
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"span removal joins must stay keyed; plan:\n$plan")
    // the r13 coverage face exploded one row per covered token; the
    // removal transform must keep the interval form — a Generate over
    // a `sequence(...)` of covered positions is the regression
    assert(!plan.contains("sequence(pa0") && !plan.contains("sequence(pb0"),
      s"covered ranges must stay as endpoint intervals; plan:\n$plan")
  }

  test("q_incremental_substring: exactly ONE posting join (batch x " +
      "index) — the index side is never self-paired") {
    val plan = planOf("q_incremental_substring")
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental posting join must stay hash-keyed; plan:\n$plan")
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(plan).size
    assert(joins == 1,
      s"expected exactly one batch-x-index posting join, got $joins; plan:\n$plan")
  }

  test("q_dup_coverage: covered spans merge as endpoint intervals — " +
      "no per-covered-token Generate, no token-level distinct") {
    val plan = planOf("q_dup_coverage")
    assert(!plan.contains("sequence(pa0") && !plan.contains("sequence(pb0"),
      s"coverage must shuffle run endpoints, not covered tokens; plan:\n$plan")
  }

  test("q_url_dedup: keep-best survivor is a partial agg, not a window sort") {
    val plan = planOf("q_url_dedup")
    assert(!plan.contains("Window"),
      s"q_url_dedup must use the struct-max agg, not a per-URL window; plan:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial_"),
      s"the struct max must map-side combine; plan:\n$plan")
  }

  test("q_agg_pushdown: min/max/count come from parquet footer stats " +
      "(PushedAggregation), not a row-group scan") {
    val plan = planOf("q_agg_pushdown")
    assert(plan.contains("PushedAggregation: [COUNT(*)"),
      s"the aggregate must push into the scan; plan:\n$plan")
  }

  test("q_label_prop: every vote round stays keyed — no cartesian, " +
      "no broadcast nested loop") {
    val plan = planOf("q_label_prop")
    assert(!plan.contains("CartesianProduct"),
      s"LPA joins must stay label/neighbor-keyed; plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"LPA joins must stay equi-joins; plan:\n$plan")
  }

  test("q_rare_collapse: the keep-list comes back as a broadcast join, " +
      "rows never shuffle for the collapse") {
    val plan = planOf("q_rare_collapse")
    assert(plan.contains("BroadcastHashJoin"),
      s"keep-list must broadcast; plan:\n$plan")
  }

  test("q_domain_stats: keep-best census is pure aggregation — no " +
      "window over the row stream") {
    val plan = planOf("q_domain_stats")
    assert(!plan.contains("Window"),
      s"domain rollup must be agg-only; plan:\n$plan")
    assert(plan.contains("partial_"),
      s"the domain agg must map-side combine; plan:\n$plan")
  }

  test("q_stratified_sample: per-stratum quota window is WindowGroupLimit-bounded") {
    val plan = planOf("q_stratified_sample")
    assert(plan.contains("WindowGroupLimit"),
      s"q_stratified_sample must keep its map-side WindowGroupLimit bound; plan:\n$plan")
  }

  test("dynamic partition pruning fires on a partitioned-fact x " +
      "filtered-dim join (the 100 TB scan-elimination path)") {
    // At cluster scale the fact table is partition-laid-out (zorder /
    // writeZOrdered / partitionBy date or source); a dim-filtered join
    // must prune fact PARTITIONS at runtime, not scan-and-discard.
    // Pin Spark's DPP so a conf or layout regression can't silently
    // turn selective joins into full scans.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").partitionBy("lang")
      .parquet(s"$dir/docs_by_lang")
    val fact = spark.read.parquet(s"$dir/docs_by_lang")
    val dim = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("source")).distinct()
      .filter(col("source") === "src1")
    val joined = fact.join(dim, Seq("lang"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"partitioned fact scan must carry a dynamicpruning filter; plan:\n$plan")
    assert(joined.collect().nonEmpty, "and the pruned join still answers")
  }

  test("q_key_skew: hot-key top-k is TakeOrderedAndProject-bounded") {
    val plan = planOf("q_key_skew")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_key_skew must keep its bounded top-k; plan:\n$plan")
  }

  test("q_ann_ivfpq: one shuffle total (the final top-k window)") {
    // the IVF-PQ invariant: centroids + codebook enter as broadcasts,
    // assignment/encoding/ADC are narrow maps — the ONLY hash exchange
    // allowed in the whole plan is the per-query ranking window. A
    // second one means an accidental shuffle crept into the scan side.
    val plan = planOf("q_ann_ivfpq")
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(shuffles <= 1,
      s"IVF-PQ must shuffle only for the final window, found $shuffles:\n$plan")
  }

  test("q_ann_ivfpq_rerank: two shuffles total (shortlist window + " +
      "final exact window), both WindowGroupLimit-bounded, no big join") {
    // the refine contract: the ADC base keeps its one-window invariant,
    // the refine stage adds exactly one more per-query window, and the
    // candidate/query frames reach the corpus scan as broadcasts — a
    // SortMergeJoin or a third hash exchange means the shortlist
    // stopped broadcasting and the corpus is shuffling
    val plan = planOf("q_ann_ivfpq_rerank")
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(shuffles <= 2,
      s"refine must add at most one window shuffle, found $shuffles:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"rerank must not sort-merge; plan:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must be map-side bounded; plan:\n$plan")
  }

  test("q_ivf_append: the batch never joins the index — only broadcast " +
      "centroid lookups and nlist-key aggregations") {
    // crawl-step contract: two narrow assignment scans (each a 1-row
    // broadcast NL join against the centroid array) + per-list counts +
    // the 16-row report joins. Any SortMergeJoin or shuffled hash join
    // means a batch x index pairing crept in.
    val plan = planOf("q_ivf_append")
    assert(!plan.contains("SortMergeJoin"),
      s"q_ivf_append must not sort-merge anything; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q_ivf_append must not go cartesian; plan:\n$plan")
  }

  test("q_bucket_join: the join is exchange-free; only the final agg shuffles") {
    // both sides are written bucketed on the join key with equal bucket
    // counts, so the merge join must consume the scans' distribution
    // directly — an Exchange under the join means bucketing was ignored
    // (config off, bucket-count mismatch, or a broadcast stole the plan)
    val plan = planOf("q_bucket_join")
    assert(plan.contains("SortMergeJoin"),
      s"q_bucket_join must exercise the co-located merge join; plan:\n$plan")
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(shuffles <= 1,
      s"bucketed join must not shuffle (agg only), found $shuffles:\n$plan")
  }

  test("q_fuzzy_join: blocked join never degrades to a cartesian") {
    // the deletion-neighborhood block exists to avoid the n x m compare;
    // a refactor that breaks the equi-join on `variant` would silently
    // re-plan as CartesianProduct/BroadcastNestedLoop and still return
    // correct rows — only the plan betrays it
    val plan = planOf("q_fuzzy_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"fuzzy join must stay an equi-join on the variant key; plan:\n$plan")
  }

  test("q_scd_merge: bounded shuffles (batch reduce + join), history never shuffles") {
    val plan = planOf("q_scd_merge")
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    // one partial-agg reduce of the batch + the full-outer join's two
    // sides (the agg side's partitioning is reusable but not guaranteed)
    assert(shuffles <= 3,
      s"scdMerge grew extra shuffles ($shuffles):\n$plan")
  }

  test("q_quality_classifier: pure narrow projection, zero exchanges") {
    // the classifier's whole value at 100 TB is that feature extraction
    // + the literal dot product fuse into the scan; any Exchange means
    // someone added a join or window to a map-only operator
    val plan = planOf("q_quality_classifier")
    assert(!plan.contains("Exchange"),
      s"classifyQuality must stay shuffle-free; plan:\n$plan")
  }

  test("q_hard_negatives: probe set broadcasts, corpus never shuffles pre-rank") {
    // the label-inequality join must plan as a broadcast nested-loop of
    // the TINY query side, and the only hash exchange is the per-query
    // ranking window — a SortMergeJoin here would shuffle the corpus
    val plan = planOf("q_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"hardNegatives must broadcast the probe set; plan:\n$plan")
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(shuffles <= 1,
      s"hardNegatives must shuffle only for the rank window, found $shuffles:\n$plan")
  }

  test("q_ann_lsh: probe signatures broadcast; corpus never shuffles pre-rank") {
    // the signature-bucket join must broadcast the multi-probe set (79
    // sigs per query vector x 10 queries), leaving the corpus scan
    // narrow; the only hash exchange is the per-query rerank window
    val plan = planOf("q_ann_lsh")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"lshTopK must broadcast the probe set; plan:\n$plan")
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(shuffles <= 1,
      s"lshTopK must shuffle only for the rank window, found $shuffles:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"lshTopK must never plan a cartesian; plan:\n$plan")
  }

  test("q_ann_graph: final top-k is one window over checkpointed visits " +
      "— no cartesian, at most one exchange") {
    // the hop loop's joins (beam broadcast into edges, candidates
    // broadcast into the vector lookup) are materialized behind
    // localCheckpoint barriers; the RETURNED plan must be just the
    // per-query rank window over those bounded visit rows
    val plan = planOf("q_ann_graph")
    assert(!plan.contains("CartesianProduct"),
      s"graph ANN must never plan a cartesian; plan:\n$plan")
    val shuffles = "Exchange (hash|range)partitioning".r
      .findAllIn(plan).size
    assert(shuffles <= 1,
      s"graph ANN final rank must be the only exchange, found $shuffles:\n$plan")
  }

  test("q_token_budget + q_ts_anomaly + q_resample_ffill + q_interpolate: no single-partition stage") {
    // tokenBudget exists BECAUSE a naive per-source prefix sum funnels
    // each source through one task; its two-level form must never plan
    // an Exchange SinglePartition (and neither may the per-user anomaly
    // window nor the resample fill/interpolate windows) — catching a
    // refactor back to a global window
    Seq("q_token_budget", "q_ts_anomaly", "q_resample_ffill",
      "q_interpolate").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("SinglePartition"),
        s"$q grew a single-partition stage; plan:\n$plan")
    }
  }

  test("q_cdc_apply: op-history collapse is a partial agg, not a window sort") {
    // the latest-wins reduce must stay a max-struct HashAggregate (hot
    // keys absorbed map-side); a row_number-window rewrite would plan a
    // per-key sort and ship every op row to the reducer
    val plan = planOf("q_cdc_apply")
    assert(!plan.contains("Window"),
      s"cdcApply must not collapse ops via a window; plan:\n$plan")
  }

  test("q_lm_score + q_dsir_weights: the scoring join broadcasts the learned table") {
    // train = one count shuffle; score = the vocab/bucket table enters
    // as a broadcast — if it ever shuffles, the corpus-side token
    // stream would sort-merge against it and the linear scale claim
    // (SCALE.md round-5 rows) breaks
    for (q <- Seq("q_lm_score", "q_dsir_weights")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q scoring join must broadcast the learned table; plan:\n$plan")
    }
  }

  test("q_pagerank: no cartesian, no broadcast nested loop in the iteration") {
    // every per-round join is an equi-join on node/src keys; a
    // refactor that loses the join keys would quietly go O(V*E)
    val plan = planOf("q_pagerank")
    assert(!plan.contains("CartesianProduct"),
      s"pageRank iteration must stay equi-join; plan:\n$plan")
  }

  test("q_linear_fit: one aggregation, no window, no join") {
    // the closed form is five moment sums in a single partial+final
    // agg pair; a window or join here means the one-pass claim broke
    val plan = planOf("q_linear_fit")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"simpleLinearFit must stay a single agg pass; plan:\n$plan")
  }

  test("q_triangles: hot-basket cap guards the per-order pair blowup") {
    // the co-occurrence edge build is per-order quadratic; orders above
    // triMaxBasket distinct parts must be filtered out BEFORE the
    // self-join (one crawler-trap basket with 10^4 items would emit
    // 5*10^7 pairs from a single key). The cap predicate shows up as a
    // post-agg HAVING-style filter on the per-order part count.
    // r15: triangleCount materializes the canonical edge list (lineage
    // cut, the kCore discipline), so the cap is asserted on the plan
    // that actually BUILDS edges (QueriesExt.triEdges — the exact frame
    // the face feeds to triangleCount) rather than the face's final
    // post-checkpoint plan.
    val ePlan = QueriesExt.triEdges(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ePlan.contains("np#") && "np#\\d+L? <= 32".r
      .findFirstIn(ePlan).isDefined,
      s"q_triangles must keep its <= 32 basket cap before pairing; plan:\n$ePlan")
    assert(!ePlan.contains("CartesianProduct"),
      s"edge build must stay an equi-join; plan:\n$ePlan")
    val plan = planOf("q_triangles")
    assert(!plan.contains("CartesianProduct"),
      s"the wedge/closing joins must stay equi-joins; plan:\n$plan")
  }

  test("library faces carry the bounds too: buildVocab + stratifiedQuota") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a"), (2L, "b c d"), (3L, "a d e"))
      .toDF("doc_id", "text")
    val vocabPlan = ext.TextStats.buildVocab(docs, "text", maxSize = 3,
      minCount = 1).queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject"),
      s"buildVocab plan lost its bounded top-k:\n$vocabPlan")
    val quotaPlan = ext.Sampling.stratifiedQuota(docs, Seq("text"), "doc_id",
      quota = 1).queryExecution.executedPlan.toString
    assert(quotaPlan.contains("WindowGroupLimit"),
      s"stratifiedQuota plan lost its group limit:\n$quotaPlan")
  }

  test("q_exp_smooth: one exchange, one window — the smoother rides a " +
      "single user_id repartition") {
    val plan = planOf("q_exp_smooth")
    val nExchange = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nExchange == 1,
      s"EWMA must shuffle exactly once (user_id); plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q_fim_split and q_cc_detect: pure narrow maps — zero exchanges, " +
      "no window, no join") {
    Seq("q_fim_split", "q_cc_detect").foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("Exchange"),
        s"$name must not shuffle; plan:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Window "),
        s"$name must stay a projection over the scan; plan:\n$plan")
    }
  }

  test("q_cms_counts: the d*w-cell sketch broadcasts to the probe side, " +
      "no cartesian, no window") {
    val plan = planOf("q_cms_counts")
    assert(plan.contains("BroadcastHashJoin"),
      s"the sketch frame must broadcast-join the probes; plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window "),
      s"q_cms_counts must stay joins + aggs; plan:\n$plan")
  }

  test("q_quantile_panel_approx (bounded gate): the grid window is " +
      "group-partitioned — never a global single-partition window — and " +
      "the sketch side stays one fixed-size aggregate") {
    val plan = planOf("q_quantile_panel_approx")
    assert(!plan.contains("Window [") ||
      !"Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(plan).isDefined,
      s"no partition-less window allowed; plan:\n$plan")
    assert(plan.contains("partial_percentile_approx") ||
      plan.contains("percentile_approx"),
      s"the sketch aggregate must remain present; plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q_jpeg_decode: pure narrow map — zero exchanges") {
    val plan = planOf("q_jpeg_decode")
    assert(!plan.contains("Exchange"),
      s"encode->decode->gate must ride the scan; plan:\n$plan")
  }

  test("q_audio_neardup: the fingerprint band join stays equi-keyed — " +
      "no cartesian, no broadcast nested loop; PCM bytes never reach " +
      "an exchange") {
    val plan = planOf("q_audio_neardup")
    assert(!plan.contains("CartesianProduct"),
      s"band join must stay (band_idx, band_val)-keyed; plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"band join must stay an equi-join; plan:\n$plan")
    // every exchange carries fingerprint-width rows, never the WAV
    // payload: no exchange line may mention the bytes column
    plan.split("\n").filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("bytes#"),
        s"an exchange carries WAV bytes: $line\n$plan")
    }
  }

  test("the face registry: 286 faces, each name declared once, every " +
      "face with an oracle, builders and oracles over the same keys") {
    val names = SparkEntry.faces.map(_.name)
    assert(names.size == 286)
    assert(names.distinct.size == names.size)
    assert(Queries.faces.map(_.name).toSet
      .intersect(QueriesExt.faces.map(_.name).toSet).isEmpty)
    SparkEntry.faces.foreach(f =>
      assert(f.oracleSql.trim.nonEmpty, s"${f.name} has a blank oracle"))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val twice = intercept[IllegalArgumentException](SparkEntry.distinctNames(
      SparkEntry.faces.take(3) ++ SparkEntry.faces.take(1)))
    assert(twice.getMessage.contains(SparkEntry.faces.head.name))
  }
}
