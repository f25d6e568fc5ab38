package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, EventsOps, Graph, LangModel, Layout, MLFit, ModelFixtures, Multimodal, Relational, Repetition, SimSearch, TextStats}
import graft.functions.Hashing
import graft.io.Sources
import graft.profile.{Constraints, Privacy}

/** Extension-tier queries (BASELINE.json north star): dedup family,
  * similarity search, text analysis, multimodal plumbing, events/JSON/
  * window/sessionization, plus the join/window/rollup/set-op surface the
  * reference lacks. Oracle SQL mirrors each computation hash-for-hash in
  * DuckDB (md5-based hash64, identical permutation constants, identical
  * normalization regexes); see Queries.scala scaladoc for the float
  * discipline.
  */
object QueriesExt {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "embeddings")
  private def events(s: SparkSession, dir: String): DataFrame =
    Sources.eventsTable(s, dir)

  // ---- shared SQL fragments (DuckDB dialect) -----------------------
  private def normSql(c: String): String =
    s"trim(regexp_replace(lower($c), '[^a-z0-9]+', ' ', 'g'))"
  private def toksSql(c: String): String =
    s"""list_filter(regexp_split_to_array(${normSql(c)}, '\\s+'), t -> len(t) > 0)"""
  private val aList = (0 until 16).map(Hashing.permuteA).mkString("[", ", ", "]")
  private val bList = (0 until 16).map(Hashing.permuteB).mkString("[", ", ", "]")
  private val P = Hashing.P

  /** DuckDB mirror of `Dedup.cappedBandCandidates`'s hot-bucket cap:
    * keep rows of `src` whose (band, key) bucket has <= cap members.
    * The ONE capped-CTE shape shared by every banded-dedup oracle — the
    * Scala side likewise routes all banded paths through one helper, so
    * cap semantics cannot silently fork between engines. */
  private def cappedSql(selectCols: String, src: String, bandCol: String,
      keyCol: String, cap: Int): String =
    s"""capped AS (SELECT $selectCols FROM (
       |  SELECT *, count(*) OVER (PARTITION BY $bandCol, $keyCol) bs FROM $src)
       |  WHERE bs <= $cap)""".stripMargin

  /** Word-3-shingle CASE over a token list column `t` — the ONE source
    * of truth shared by every minhash/jaccard oracle (a desynchronized
    * copy would silently split oracle pairs). */
  private val wordShinglesSql: String =
    """CASE WHEN len(t) >= 3
      | THEN list_distinct(list_transform(range(len(t) - 2),
      |   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
      | ELSE [array_to_string(t, ' ')] END""".stripMargin

  /** Per-language hit columns + argmax CASE over a token list column
    * `toks`/`lt` — shared by the lang-id and corpus-pipeline oracles. */
  private def langHitColsSql(tokCol: String): String =
    TextStats.langStopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_intersect($tokCol, $arr)) h_$l"
    }.mkString(",\n    ")
  private val langBestSql: String =
    "greatest(" + TextStats.langStopwords.keys.toSeq.sorted
      .map(l => s"h_$l").mkString(", ") + ")"
  private val langPickSql: String =
    TextStats.langStopwords.keys.toSeq.sorted
      .map(l => s"WHEN h_$l = $langBestSql THEN '$l'").mkString(" ")

  // ------------------------------------------------------------------
  // Dedup: exact by fingerprint (injected exact dups)
  // ------------------------------------------------------------------
  private def injectedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }
  private val injectedDocsSql =
    """inj AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  private def qDedupDocsExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByFingerprint(injectedDocs(s, dir), "doc_id", "text")
      .filter(col("n_copies") > 1)
      .select(col("keep_id"), col("n_copies"))
  private val qDedupDocsExactSql =
    s"""WITH $injectedDocsSql
       |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM (SELECT doc_id, md5(${normSql("text")}) f FROM inj)
       |GROUP BY f HAVING count(*) > 1""".stripMargin

  /** The training-data flagship: full corpus-cleaning pipeline composed
    * from the library — exact dedup (min-id survivor) -> MinHash near-dup
    * removal (drop the larger id of each verified pair) -> quality-score
    * filter -> language filter. Every stage is deterministic, so the
    * WHOLE pipeline is one oracle-checked query. */
  private def qCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // routed through the SHIPPED typed face (graft.ext.CorpusPipeline),
    // not an inline copy — the oracle locks the library's own code path
    graft.ext.CorpusPipeline.clean(
      injectedDocs(s, dir).as[graft.ext.CorpusDoc])
      .select(col("doc_id"))
  }
  private val qCorpusPipelineSql = {
    val sh = wordShinglesSql
    val hitCols = langHitColsSql("lt")
    val best = langBestSql
    val pick = langPickSql
    val sw = TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH $injectedDocsSql,
       |keep1 AS (SELECT min(doc_id) doc_id FROM
       |  (SELECT doc_id, md5(${normSql("text")}) f FROM inj) GROUP BY f),
       |s1 AS (SELECT i.doc_id, i.text FROM inj i JOIN keep1 k ON i.doc_id = k.doc_id),
       |toks AS (SELECT doc_id, ${toksSql("text")} t FROM s1),
       |hs AS (SELECT doc_id, list_transform($sh, x -> ${Hashing.hash64Sql("x")}) h FROM toks),
       |sig AS (SELECT doc_id, h, list_transform(range(16), i ->
       |    list_min(list_transform(h, x -> (($aList)[i+1] * (x % $P) + ($bList)[i+1]) % $P))) sg FROM hs),
       |bands AS (SELECT doc_id, h, band,
       |  ${Hashing.hash64Sql("array_to_string(list_slice(sg, band*4+1, band*4+4), ',')")} bkey
       |  FROM sig, (SELECT unnest(range(4)) band)),
       |${cappedSql("doc_id, h, band, bkey", "bands", "band", "bkey", 64)},
       |cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |dropn AS (SELECT DISTINCT ib FROM cand
       |  JOIN hs x ON x.doc_id = ia JOIN hs y ON y.doc_id = ib
       |  WHERE CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) >= 0.5),
       |s2 AS (SELECT doc_id, text FROM s1 WHERE doc_id NOT IN (SELECT ib FROM dropn)),
       |feat AS (SELECT doc_id, text,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) wt,
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) lt,
       |  length(text) n_chars,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) n_punct
       |  FROM s2),
       |q AS (SELECT doc_id,
       |  round((CASE WHEN len(wt) >= 10 AND len(wt) <= 100000 THEN 0.4 ELSE 0.0 END)
       |    + (CASE WHEN len(wt) > 0 AND CAST(len(list_filter(wt, x -> list_contains($sw, lower(x)))) AS DOUBLE) / len(wt) >= 0.05 THEN 0.3 ELSE 0.0 END)
       |    + (CASE WHEN n_chars = 0 OR CAST(n_punct AS DOUBLE) / n_chars <= 0.2 THEN 0.3 ELSE 0.0 END), 2) score,
       |  $hitCols
       |  FROM feat)
       |SELECT doc_id FROM q
       |WHERE score >= 0.6
       |  AND CASE WHEN $best = 0 THEN 'und' ELSE CASE $pick END END = 'en'""".stripMargin
  }

  // ------------------------------------------------------------------
  // Dedup: MinHash + LSH candidates, Jaccard-verified (natural near-dups)
  // ------------------------------------------------------------------
  /** Word-3-gram MinHash dedup with the hot-bucket cap ON and mirrored
    * (round 1 shipped maxBucket=1000000 for oracle parity — the cap now
    * lives in BOTH engines, the q_dedup_minhash_char pattern). */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicates(docs(s, dir), "doc_id", "text",
      threshold = 0.5, shingleN = 3, k = 16, bands = 4,
      maxBucket = 64)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  /** The word-minhash LSH candidate chain over `documents` (toks -> hs
    * -> sig -> bands -> capped -> cand) — ONE source of truth shared by
    * the q_dedup_minhash and q_edit_verify oracles, mirroring how both
    * Scala faces route through `lshCandidatesFromHashes`. */
  private val minhashCandCtesSql: String = {
    val sh = wordShinglesSql
    s"""toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hs AS (SELECT doc_id,
       |  list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |sig AS (SELECT doc_id, h,
       |  list_transform(range(16), i ->
       |    list_min(list_transform(h, x -> (($aList)[i+1] * (x % $P) + ($bList)[i+1]) % $P))) sg
       |  FROM hs),
       |bands AS (SELECT doc_id, h, band,
       |  ${Hashing.hash64Sql("array_to_string(list_slice(sg, band*4+1, band*4+4), ',')")} bkey
       |  FROM sig, (SELECT unnest(range(4)) band)),
       |${cappedSql("doc_id, h, band, bkey", "bands", "band", "bkey", 64)},
       |cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }
  private val qDedupMinhashSql =
    s"""WITH $minhashCandCtesSql,
       |pairs AS (SELECT ia, ib,
       |  CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) j
       |  FROM cand JOIN hs x ON x.doc_id = ia JOIN hs y ON y.doc_id = ib)
       |SELECT ia AS id_a, ib AS id_b, j AS jaccard FROM pairs WHERE j >= 0.5""".stripMargin

  /** Duplicate-flow attribution matrix (Dedup.dupAttribution): the
    * q_dedup_minhash pair stream labeled by source and rolled up to a
    * canonical (source_a <= source_b) matrix — within-source spam on
    * the diagonal, cross-source syndication off it. Shares the
    * minhashCandCtesSql chain. */
  private def qDupAttribution(s: SparkSession, dir: String): DataFrame =
    Dedup.dupAttribution(docs(s, dir), "doc_id", "text", "source",
      threshold = 0.5, shingleN = 3, k = 16, bands = 4, maxBucket = 64)
  private val qDupAttributionSql: String =
    s"""WITH $minhashCandCtesSql,
       |pairs AS (SELECT ia, ib,
       |  CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) j
       |  FROM cand JOIN hs x ON x.doc_id = ia JOIN hs y ON y.doc_id = ib),
       |lab AS (SELECT da.source sa, db.source sb
       |  FROM pairs p JOIN documents da ON da.doc_id = p.ia
       |    JOIN documents db ON db.doc_id = p.ib
       |  WHERE p.j >= 0.5)
       |SELECT least(sa, sb) source_a, greatest(sa, sb) source_b,
       |  count(*) n_pairs
       |FROM lab GROUP BY 1, 2""".stripMargin

  /** Bounded-Levenshtein verification of the SAME LSH candidate set as
    * q_dedup_minhash — the character-level confirm stage. The oracle
    * computes the full distance and applies the band as a CASE (DuckDB
    * has no threshold-banded levenshtein); banding cannot flip a
    * verdict (see [[Dedup.editVerify]]'s bound derivation). */
  private def qEditVerify(s: SparkSession, dir: String): DataFrame =
    Dedup.editVerify(docs(s, dir), "doc_id", "text",
      simThreshold = 0.7, prefixLen = 256, shingleN = 3, k = 16,
      bands = 4, maxBucket = 64)
  private val qEditVerifySql: String = {
    val bound = 76 // floor(256 * (1 - 0.7)), mirrored from editVerify
    s"""WITH $minhashCandCtesSql,
       |prefs AS (SELECT doc_id, substr(${normSql("text")}, 1, 256) p FROM documents),
       |lv AS (SELECT ia, ib,
       |    CASE WHEN levenshtein(x.p, y.p) <= $bound
       |      THEN levenshtein(x.p, y.p) ELSE -1 END d,
       |    greatest(len(x.p), len(y.p)) ml
       |  FROM cand JOIN prefs x ON x.doc_id = ia JOIN prefs y ON y.doc_id = ib),
       |sims AS (SELECT ia, ib, d, CASE WHEN ml = 0 THEN 1.0
       |    WHEN d >= 0 THEN 1.0 - CAST(d AS DOUBLE) / CAST(ml AS DOUBLE) END s
       |  FROM lv)
       |SELECT ia AS id_a, ib AS id_b, CAST(d AS INT) edit_dist,
       |  round(s, 6) edit_sim, COALESCE(s >= 0.7, FALSE) dup FROM sims""".stripMargin
  }

  /** MinHash calibration: signature-agreement estimate vs exact shingle
    * Jaccard for every LSH candidate pair at the q_dedup_minhash
    * config — the (k, bands, threshold) tuning report. Runs on the
    * injected corpus so exact-copy pairs anchor the est=jac=1 end. */
  private def qMinhashCalibration(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCalibration(injectedDocs(s, dir), "doc_id", "text",
      shingleN = 3, k = 16, bands = 4, maxBucket = 64)
  private val qMinhashCalibrationSql = {
    val sh = wordShinglesSql
    s"""WITH $injectedDocsSql,
       |toks AS (SELECT doc_id, ${toksSql("text")} t FROM inj),
       |hs AS (SELECT doc_id,
       |  list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |sig AS (SELECT doc_id, h,
       |  list_transform(range(16), i ->
       |    list_min(list_transform(h, x -> (($aList)[i+1] * (x % $P) + ($bList)[i+1]) % $P))) sg
       |  FROM hs),
       |bands AS (SELECT doc_id, band,
       |  ${Hashing.hash64Sql("array_to_string(list_slice(sg, band*4+1, band*4+4), ',')")} bkey
       |  FROM sig, (SELECT unnest(range(4)) band)),
       |${cappedSql("doc_id, band, bkey", "bands", "band", "bkey", 64)},
       |cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pairs AS (SELECT ia, ib,
       |  CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) j,
       |  CAST(list_sum(list_transform(range(16), i ->
       |    CASE WHEN x.sg[i+1] = y.sg[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16 est
       |  FROM cand JOIN sig x ON x.doc_id = ia JOIN sig y ON y.doc_id = ib)
       |SELECT ia AS id_a, ib AS id_b, round(est, 6) est_r,
       |  round(j, 6) jac_r, round(abs(est - j), 6) err_r FROM pairs""".stripMargin
  }

  /** Incremental dedup: a synthetic "new crawl" (exact copies of every
    * 20th doc under new ids, plus genuinely-novel docs whose text is the
    * md5 hex of every (20k+7)th doc) banded against the indexed corpus.
    * Only batch->index pairs exist — never a self-join of either side —
    * and the hot-bucket cap applies to the index side (the shape that
    * keeps each crawl O(|batch|)). */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 200000).as("doc_id"),
          md5(col("text").cast("binary")).as("text")))
    Dedup.incrementalNearDups(d, batch, "doc_id", "text",
      threshold = 0.8, shingleN = 3, k = 16, bands = 4, maxBucket = 64)
  }
  private val qIncrementalDedupSql = {
    val sh = wordShinglesSql
    val sigSql =
      s"""list_transform(range(16), i ->
         |    list_min(list_transform(h, x -> (($aList)[i+1] * (x % $P) + ($bList)[i+1]) % $P)))""".stripMargin
    val bkeySql = Hashing.hash64Sql(
      "array_to_string(list_slice(sg, band*4+1, band*4+4), ',')")
    s"""WITH bdocs AS (
       |  SELECT doc_id + 100000 doc_id, text FROM documents WHERE doc_id % 20 = 0
       |  UNION ALL SELECT doc_id + 200000, md5(text) FROM documents WHERE doc_id % 20 = 7),
       |itoks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |btoks AS (SELECT doc_id, ${toksSql("text")} t FROM bdocs),
       |ihs AS (SELECT doc_id, list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM itoks),
       |bhs AS (SELECT doc_id, list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM btoks),
       |isig AS (SELECT doc_id, $sigSql sg FROM ihs),
       |bsig AS (SELECT doc_id, $sigSql sg FROM bhs),
       |ibands AS (SELECT doc_id, band, $bkeySql bkey
       |  FROM isig, (SELECT unnest(range(4)) band)),
       |bbands AS (SELECT doc_id, band, $bkeySql bkey
       |  FROM bsig, (SELECT unnest(range(4)) band)),
       |icapped AS (SELECT doc_id, band, bkey FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bkey) bs FROM ibands)
       |  WHERE bs <= 64),
       |cand AS (SELECT DISTINCT b.doc_id bid, i.doc_id iid
       |  FROM bbands b JOIN icapped i ON b.band = i.band AND b.bkey = i.bkey),
       |pairs AS (SELECT bid, iid,
       |  CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) j
       |  FROM cand JOIN bhs x ON x.doc_id = bid JOIN ihs y ON y.doc_id = iid)
       |SELECT bid AS batch_id, iid AS index_id, j AS jaccard
       |FROM pairs WHERE j >= 0.8""".stripMargin
  }

  /** Streaming continuous-crawl dedup under the oracle: documents split
    * into 3 deterministic "crawls" (doc_id % 3), staged as one file per
    * crawl with ordered mtimes, consumed with maxFilesPerTrigger=1 so
    * each crawl is one micro-batch. Crawl 0 seeds the index; crawl 1 is
    * screened against it; crawl 2 is screened against crawl 0 PLUS
    * crawl 1's survivors — so a hash match proves the evolving-index
    * path, not just one batch-vs-index call. The oracle replays the
    * same two incremental steps as chained CTEs (shared fragment
    * generator, same minhash/cap constants as q_incremental_dedup). */
  /** Stage a doc-keyed batch frame as THREE mtime-ordered parquet
    * chunk files (doc_id % 3) under a per-invocation tmp leaf and hand
    * the maxFilesPerTrigger=1 file stream to `body` under the pinned
    * stream shuffle-partition count (state-store instances scale with
    * partition count — the withStreamStateParts rationale). The
    * staging leaf is deleted after `body` returns unless `keep` —
    * callers whose RESULT lazily reads files under the leaf (crawl
    * dedup's pairs dir) must pass keep = true and accept the
    * documented tmp residue. */
  private def withStagedDocChunksStream[T](s: SparkSession, dir: String,
      d: DataFrame, tmpName: String, keep: Boolean = false)
      (body: (DataFrame, java.nio.file.Path) => T): T = {
    val leaf = java.lang.Integer.toHexString(dir.hashCode) +
      s"_p${bktPid}_c${bktSeq.incrementAndGet()}"
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), tmpName, leaf)
    val inDir = base.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    (0 until 3).foreach { c =>
      val stage = base.resolve(s"stage_$c")
      d.filter(col("doc_id") % 3 === c).coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      // Files.list holds a directory fd until closed
      val ls = java.nio.file.Files.list(stage)
      val part =
        try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part written for chunk $c"))
        finally ls.close()
      val dst = inDir.resolve(s"chunk_$c.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // mtime order = processing order for the file stream source
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + c * 60000L))
    }
    val stream = s.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    try withStreamStateParts(s)(body(stream, base))
    finally if (!keep) {
      try {
        val walk = java.nio.file.Files.walk(base)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def qStreamCrawlDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    // keep = true: the returned frame lazily reads the pairs parquet
    // written under the staging leaf
    withStagedDocChunksStream(s, dir, d, "graft_crawl_stream",
        keep = true) { (stream, base) =>
      val pairsOut = base.resolve("pairs").toString
      graft.streaming.StreamProfile.crawlDedupStream(stream, "doc_id",
        "text", pairsOut, threshold = 0.8, shingleN = 3, k = 16, bands = 4,
        maxBucket = 64)
      s.read.parquet(pairsOut)
    }
  }
  /** One incremental minhash step as suffixed CTEs ending in
    * `pairs<sfx>(bid, iid, j)` — instantiated twice by the streaming
    * crawl oracle, identical constants to qIncrementalDedupSql. */
  private def crawlChainSql(sfx: String, batchCte: String,
      indexCte: String): String = {
    val sh = wordShinglesSql
    val sigSql =
      s"""list_transform(range(16), i ->
         |    list_min(list_transform(h, x -> (($aList)[i+1] * (x % $P) + ($bList)[i+1]) % $P)))""".stripMargin
    val bkeySql = Hashing.hash64Sql(
      "array_to_string(list_slice(sg, band*4+1, band*4+4), ',')")
    s"""itoks$sfx AS (SELECT doc_id, ${toksSql("text")} t FROM $indexCte),
       |btoks$sfx AS (SELECT doc_id, ${toksSql("text")} t FROM $batchCte),
       |ihs$sfx AS (SELECT doc_id, list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM itoks$sfx),
       |bhs$sfx AS (SELECT doc_id, list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM btoks$sfx),
       |isig$sfx AS (SELECT doc_id, $sigSql sg FROM ihs$sfx),
       |bsig$sfx AS (SELECT doc_id, $sigSql sg FROM bhs$sfx),
       |ibands$sfx AS (SELECT doc_id, band, $bkeySql bkey
       |  FROM isig$sfx, (SELECT unnest(range(4)) band)),
       |bbands$sfx AS (SELECT doc_id, band, $bkeySql bkey
       |  FROM bsig$sfx, (SELECT unnest(range(4)) band)),
       |icapped$sfx AS (SELECT doc_id, band, bkey FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bkey) bs FROM ibands$sfx)
       |  WHERE bs <= 64),
       |cand$sfx AS (SELECT DISTINCT b.doc_id bid, i.doc_id iid
       |  FROM bbands$sfx b JOIN icapped$sfx i ON b.band = i.band AND b.bkey = i.bkey),
       |pairs$sfx AS (SELECT bid, iid,
       |  CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) j
       |  FROM cand$sfx JOIN bhs$sfx x ON x.doc_id = bid JOIN ihs$sfx y ON y.doc_id = iid
       |  WHERE CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) >= 0.8)""".stripMargin
  }
  /** Streaming weighted sampler (StreamProfile.streamWeightedSample,
    * r9): the A-ES competition keys as keyed state — the k largest
    * (key desc, id asc) pairs per group are an order-free bounded
    * MAX-SET (the dual of q_stream_kmv's min-set), so a proper
    * weighted sample without replacement is maintained incrementally
    * over the stream in k rows of state per group and the final sample
    * is bit-identical to the batch q_weighted_sample however the
    * stream is chopped. Documents staged as THREE parquet files with
    * maxFilesPerTrigger=1 (the crawl-dedup discipline), so the gate
    * really exercises cross-batch displacement. Oracle IS the batch
    * face's SQL. 18th streaming face. */
  private def qStreamWsample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("lang"), col("doc_id"), col("n_chars"))
    import s.implicits._
    withStagedDocChunksStream(s, dir, d, "graft_wsample_stream") {
        (raw, _) =>
      val stream = raw
        .filter(col("n_chars") > 0)
        .select(col("lang").as("g"), col("doc_id").as("id"),
          col("n_chars").as("w"),
          ext.Sampling.aesKey(col("doc_id"), col("n_chars")).as("key"))
        .as[graft.streaming.StreamProfile.WSampleRow]
      val sampled = graft.streaming.StreamProfile
        .streamWeightedSample(stream, k = 10)
      // FIXED sink name (ADVICE r9 #3): start() replaces the memory-sink
      // temp view, so bench reps / verify re-runs don't accumulate
      // driver-resident sink data for the session lifetime (the old
      // per-invocation unique name was never dropped)
      val sink = "graft_stream_wsample"
      val q = sampled.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("n_seen").desc)
      // re-wrap the sink rows as a fresh frame (qStreamDrift's pattern)
      // so the returned plan holds no reference to the replaceable temp
      // view — but compact to the top-1-per-group FIRST (ADVICE r10
      // #5): the update-mode memory sink accumulates k x groups rows
      // per micro-batch, so collecting it raw grows with batch count;
      // after the cut the driver copy is exactly `groups` rows no
      // matter how many batches the fixture chops into
      val t = s.table(sink)
        .withColumn("__rn", row_number().over(W))
        .filter(col("__rn") === 1).drop("__rn")
      s.createDataFrame(t.collectAsList(), t.schema)
        .select(col("g").as("lang"),
          explode(arrays_zip(col("ids"), col("ws"))).as("z"))
        .select(col("lang"), col("z.ids").as("doc_id"),
          col("z.ws").as("n_chars"))
    }
  }
  private lazy val qStreamWsampleSql = qWeightedSampleSql

  private val qStreamCrawlDedupSql: String =
    s"""WITH ca AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       |cb AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
       |cc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
       |${crawlChainSql("1", "cb", "ca")},
       |survb AS (SELECT doc_id, text FROM cb
       |  WHERE doc_id NOT IN (SELECT bid FROM pairs1)),
       |idx2 AS (SELECT doc_id, text FROM ca
       |  UNION ALL SELECT doc_id, text FROM survb),
       |${crawlChainSql("2", "cc", "idx2")}
       |SELECT bid batch_id, iid index_id, j jaccard FROM pairs1
       |UNION ALL SELECT bid, iid, j FROM pairs2""".stripMargin

  /** Character-5-gram MinHash dedup (tokenization-free variant). The
    * bucket cap is LOAD-BEARING here: shared vocabulary makes char-gram
    * band keys collide across ~100k doc pairs at sf0.1; capping bucket
    * size keeps the verify join linear. The oracle applies the identical
    * cap. */
  private def qDedupMinhashChar(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicatesChar(docs(s, dir), "doc_id", "text",
      threshold = 0.6, shingleK = 5, k = 16, bands = 4,
      maxBucket = 64)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  private val qDedupMinhashCharSql = {
    val sh = """CASE WHEN length(n) >= 5
               | THEN list_distinct(list_transform(range(length(n) - 4),
               |   i -> substr(n, i+1, 5)))
               | ELSE [n] END""".stripMargin
    s"""WITH nrm AS (SELECT doc_id, ${normSql("text")} n FROM documents WHERE length(${normSql("text")}) > 0),
       |hs AS (SELECT doc_id,
       |  list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM nrm),
       |sig AS (SELECT doc_id, h,
       |  list_transform(range(16), i ->
       |    list_min(list_transform(h, x -> (($aList)[i+1] * (x % $P) + ($bList)[i+1]) % $P))) sg
       |  FROM hs),
       |bands AS (SELECT doc_id, h, band,
       |  ${Hashing.hash64Sql("array_to_string(list_slice(sg, band*4+1, band*4+4), ',')")} bkey
       |  FROM sig, (SELECT unnest(range(4)) band)),
       |${cappedSql("doc_id, h, band, bkey", "bands", "band", "bkey", 64)},
       |cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pairs AS (SELECT ia, ib,
       |  CAST(len(list_intersect(x.h, y.h)) AS DOUBLE) / len(list_distinct(x.h || y.h)) j
       |  FROM cand JOIN hs x ON x.doc_id = ia JOIN hs y ON y.doc_id = ib)
       |SELECT ia AS id_a, ib AS id_b, j AS jaccard FROM pairs WHERE j >= 0.6""".stripMargin
  }

  /** Inverted-index n-gram Jaccard with the stop-shingle cap ON and
    * mirrored (round 1 left maxDocFreq at Int.MaxValue — a shingle in f
    * docs yields f^2/2 posting pairs, so the cap is the guard that keeps
    * the pair join linear at scale). Shared counts use only shingles in
    * <= 100 docs; set sizes stay exact, so reported jaccard is a lower
    * bound that equals the exact value on non-boilerplate pairs. */
  private def qJaccardNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docs(s, dir), "doc_id", "text",
      threshold = 0.5, shingleN = 3, maxDocFreq = 100)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  private val qJaccardNgramSql = {
    val sh = wordShinglesSql
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hs AS (SELECT doc_id,
       |  list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |ex0 AS (SELECT doc_id, unnest(h) hash FROM hs),
       |ex AS (SELECT doc_id, hash FROM (
       |  SELECT *, count(*) OVER (PARTITION BY hash) df FROM ex0)
       |  WHERE df <= 100),
       |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) shared
       |  FROM ex a JOIN ex b ON a.hash = b.hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, len(h) n FROM hs)
       |SELECT ia AS id_a, ib AS id_b,
       |  CAST(shared AS DOUBLE) / (x.n + y.n - shared) AS jaccard
       |FROM pairs JOIN sizes x ON x.doc_id = ia JOIN sizes y ON y.doc_id = ib
       |WHERE CAST(shared AS DOUBLE) / (x.n + y.n - shared) >= 0.5""".stripMargin
  }

  /** Prefix-filtered EXACT Jaccard (no doc-frequency cap, no lower-bound
    * caveat): index only each doc's rarest `n - ceil(t*n) + 1` shingles
    * under the global (df, hash) order; every pair with J >= t must
    * collide on a prefix shingle (see Dedup.jaccardPairsPrefix). The
    * oracle re-derives the same prefix with the same window order, so
    * the candidate set — not just the final pairs — is mirrored. */
  private def qJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefix(docs(s, dir), "doc_id", "text",
      threshold = 0.5, shingleN = 3)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  private val qJaccardPrefixSql = {
    val sh = wordShinglesSql
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hs AS (SELECT doc_id,
       |  list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |sizes AS (SELECT doc_id, len(h) n FROM hs),
       |ex AS (SELECT doc_id, unnest(h) hash FROM hs),
       |wdf AS (SELECT *, count(*) OVER (PARTITION BY hash) df FROM ex),
       |pref AS (SELECT doc_id, hash FROM (
       |  SELECT w.doc_id, w.hash,
       |    row_number() OVER (PARTITION BY w.doc_id ORDER BY w.df, w.hash) rn,
       |    s.n
       |  FROM wdf w JOIN sizes s USING (doc_id))
       |  WHERE rn <= n - CAST(ceil(0.5 * n) AS BIGINT) + 2),
       |cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
       |  FROM pref a JOIN pref b ON a.hash = b.hash AND a.doc_id < b.doc_id)
       |SELECT ia AS id_a, ib AS id_b,
       |  CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
       |    / len(list_distinct(x.h || y.h)) AS jaccard
       |FROM cand JOIN hs x ON x.doc_id = ia JOIN hs y ON y.doc_id = ib
       |WHERE CAST(len(list_intersect(x.h, y.h)) AS DOUBLE)
       |    / len(list_distinct(x.h || y.h)) >= 0.5""".stripMargin
  }

  /** Exact long-substring TOKEN-RUN dedup (Lee et al. 2021; VERDICT
    * r12 Next #6) — distinct from q_substring_dedup, which winnows
    * char-16-grams and reports pair MEMBERSHIP only: this face reports
    * run EXTENTS (max shared verbatim token run per pair), the Lee et
    * al. unit of deduplication. Dedup.substringDedup at minRun=20
    * tokens (the fixture's median doc is 56 tokens, so 20 is a "long
    * verbatim quote", not a phrase; 24 genuine pairs at sf0.01). The oracle rebuilds the positional
    * posting stream (range-unnest positions, md5-hash64 grams), applies
    * the same count(*)-per-hash <= 64 guard, and mirrors the
    * diagonal/gaps-and-islands run merge with the identical window
    * (pos - row_number over (pair, diagonal) order by pos) — so run
    * EXTENTS, not just pair membership, are cross-engine-gated. */
  private def qSubstringRuns(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(docs(s, dir), "doc_id", "text",
      minRun = 20, maxBucket = 64)
      .orderBy(col("doc_a"), col("doc_b"))
  private val qSubstringRunsSql = {
    val L = 20
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |g AS (SELECT doc_id, unnest(range(len(t) - $L + 1)) pos, t
       |  FROM toks WHERE len(t) >= $L),
       |p AS (SELECT doc_id, pos,
       |  ${Hashing.hash64Sql(s"array_to_string(list_slice(t, pos + 1, pos + $L), ' ')")} h
       |  FROM g),
       |cap AS (SELECT doc_id, pos, h FROM (
       |  SELECT *, count(*) OVER (PARTITION BY h) bs FROM p)
       |  WHERE bs <= 64),
       |pr AS (SELECT a.doc_id da, b.doc_id db, a.pos pa, b.pos pb
       |  FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (SELECT da, db, pa - pb diag, pa,
       |    pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) isl
       |  FROM pr),
       |runs AS (SELECT da, db, diag, isl,
       |    count(*) + $L - 1 run_tokens FROM isl GROUP BY 1, 2, 3, 4)
       |SELECT da doc_a, db doc_b,
       |  CAST(max(run_tokens) AS BIGINT) max_run_tokens,
       |  CAST(count(*) AS BIGINT) n_runs,
       |  CAST(sum(run_tokens) - ($L - 1) * count(*) AS BIGINT) n_shared_grams
       |FROM runs GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Token-run survivors — the end-to-end removal composition for the
    * substring tier, symmetric with q_dedup_survivors on the minhash
    * tier: q_substring_runs' pair frame -> connected components ->
    * keep each component's min id plus every unpaired doc. The oracle
    * wraps the runs pair SQL in the recursive min-closure (the
    * q_dedup_clusters discipline). */
  private def qSubstringSurvivors(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.substringDedup(d, "doc_id", "text",
      minRun = 20, maxBucket = 64)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    Dedup.dedupSurvivors(d, "doc_id", pairs)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }
  private val qSubstringSurvivorsSql: String =
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_a id_a, doc_b id_b FROM ($qSubstringRunsSql) p),
       |sym AS (SELECT id_a a, id_b b FROM base
       |  UNION SELECT id_b, id_a FROM base),
       |reach(id, r) AS (
       |  SELECT a, a FROM sym
       |  UNION
       |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b),
       |comp AS (SELECT id, min(r) comp FROM reach GROUP BY 1),
       |losers AS (SELECT id FROM comp WHERE id <> comp)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin

  /** Per-doc duplicated-span coverage (Dedup.substringDupCoverage —
    * the Lee et al. span-removal policy statistic over the same run
    * frame as q_substring_runs). The oracle re-derives the islands
    * WITH their per-side start positions, explodes each side's
    * [start, start+run_tokens) token range, distinct-collapses
    * overlaps, and left-joins onto every doc's token length so clean
    * docs pin coverage 0 — membership, extents, the union-overlap
    * collapse, AND the keep/flag/drop thresholds are all
    * cross-engine-gated. */
  private def qDupCoverage(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupCoverage(docs(s, dir), "doc_id", "text",
      minRun = 20, maxBucket = 64, flagAt = 0.2, dropAt = 0.8)
      .orderBy(col("doc_id"))
  private val qDupCoverageSql = {
    val L = 20
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |g AS (SELECT doc_id, unnest(range(len(t) - $L + 1)) pos, t
       |  FROM toks WHERE len(t) >= $L),
       |p AS (SELECT doc_id, pos,
       |  ${Hashing.hash64Sql(s"array_to_string(list_slice(t, pos + 1, pos + $L), ' ')")} h
       |  FROM g),
       |cap AS (SELECT doc_id, pos, h FROM (
       |  SELECT *, count(*) OVER (PARTITION BY h) bs FROM p)
       |  WHERE bs <= 64),
       |pr AS (SELECT a.doc_id da, b.doc_id db, a.pos pa, b.pos pb
       |  FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (SELECT da, db, pa - pb diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) isl
       |  FROM pr),
       |runs AS (SELECT da, db, diag, isl, min(pa) pa0, min(pb) pb0,
       |    count(*) + $L - 1 run_tokens FROM isl GROUP BY 1, 2, 3, 4),
       |cov AS (SELECT DISTINCT id, p FROM (
       |  SELECT da id, pa0 + unnest(range(run_tokens)) p FROM runs
       |  UNION ALL SELECT db, pb0 + unnest(range(run_tokens)) FROM runs)),
       |cnt AS (SELECT id doc_id, CAST(count(*) AS BIGINT) n_dup
       |  FROM cov GROUP BY 1),
       |base AS (SELECT t.doc_id, CAST(len(t.t) AS BIGINT) n_tokens,
       |    COALESCE(c.n_dup, 0) n_dup_tokens
       |  FROM toks t LEFT JOIN cnt c USING (doc_id))
       |SELECT doc_id, n_tokens, n_dup_tokens,
       |  round(CASE WHEN n_tokens = 0 THEN 0.0
       |    ELSE CAST(n_dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    END, 6) dup_fraction,
       |  CASE WHEN round(CASE WHEN n_tokens = 0 THEN 0.0
       |      ELSE CAST(n_dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |      END, 6) >= 0.8 THEN 'drop'
       |    WHEN round(CASE WHEN n_tokens = 0 THEN 0.0
       |      ELSE CAST(n_dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |      END, 6) >= 0.2 THEN 'flag'
       |    ELSE 'keep' END verdict
       |FROM base ORDER BY doc_id""".stripMargin
  }

  /** Cross-doc duplicated-SPAN removal (Dedup.removeDuplicatedSpans —
    * the Lee et al. 2021 remediation the coverage face only measures;
    * VERDICT r13 Next #4): min-id side of each pair keeps its span, the
    * higher-id side's covered token ranges are excised and the doc text
    * rebuilt. The oracle re-derives the run islands, explodes ONLY the
    * db-side covered positions (the oracle can afford the per-token
    * form the Spark side avoids), anti-joins them off each doc's token
    * positions, and string_agg-rebuilds in position order — so the
    * excision EXTENTS, the flank-joining rebuild, and the removed-token
    * counts are all cross-engine-gated. */
  private def qSpanRemoval(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicatedSpans(docs(s, dir), "doc_id", "text",
      minRun = 20, maxBucket = 64)
      .orderBy(col("doc_id"))
  private val qSpanRemovalSql = {
    val L = 20
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |g AS (SELECT doc_id, unnest(range(len(t) - $L + 1)) pos, t
       |  FROM toks WHERE len(t) >= $L),
       |p AS (SELECT doc_id, pos,
       |  ${Hashing.hash64Sql(s"array_to_string(list_slice(t, pos + 1, pos + $L), ' ')")} h
       |  FROM g),
       |cap AS (SELECT doc_id, pos, h FROM (
       |  SELECT *, count(*) OVER (PARTITION BY h) bs FROM p)
       |  WHERE bs <= 64),
       |pr AS (SELECT a.doc_id da, b.doc_id db, a.pos pa, b.pos pb
       |  FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id),
       |isl AS (SELECT da, db, pa - pb diag, pa, pb,
       |    pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) isl
       |  FROM pr),
       |runs AS (SELECT da, db, diag, isl, min(pb) pb0,
       |    count(*) + $L - 1 run_tokens FROM isl GROUP BY 1, 2, 3, 4),
       |cov AS (SELECT DISTINCT id, p FROM (
       |  SELECT db id, pb0 + unnest(range(run_tokens)) p FROM runs)),
       |tokpos AS (SELECT doc_id, unnest(range(len(t))) p FROM toks),
       |kept AS (SELECT tp.doc_id, tp.p FROM tokpos tp
       |  LEFT JOIN cov c ON c.id = tp.doc_id AND c.p = tp.p
       |  WHERE c.id IS NULL),
       |reb AS (SELECT k.doc_id,
       |    string_agg(t.t[k.p + 1], ' ' ORDER BY k.p) txt,
       |    count(*) n_kept
       |  FROM kept k JOIN toks t USING (doc_id) GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) n_tokens,
       |  CAST(len(t.t) - COALESCE(r.n_kept, 0) AS BIGINT) n_removed_tokens,
       |  COALESCE(r.txt, '') text_deduped
       |FROM toks t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Incremental token-run dedup (Dedup.incrementalSubstringRuns —
    * VERDICT r13 Next #7, the crawl-step form completing the substring
    * tier's symmetry with q_incremental_dedup on the minhash tier): a
    * synthetic batch of shifted-id verbatim copies (doc_id%17=2, so
    * every sufficiently long batch doc is guaranteed a full-length run
    * against its indexed source) plus md5-noise docs (%17=5 — a single
    * hex token, under minRun, must report nothing) is joined against
    * the indexed corpus's postings only — never index x index. The
    * oracle rebuilds both posting streams with INDEPENDENT per-side
    * frequency caps and mirrors the diagonal island merge. */
  private def qIncrementalSubstring(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batch = d.filter(col("doc_id") % 17 === 2)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 17 === 5)
        .select((col("doc_id") + 600000).as("doc_id"),
          md5(col("text").cast("binary")).as("text")))
    Dedup.incrementalSubstringRuns(d, batch, "doc_id", "text",
      minRun = 20, maxBucket = 64)
      .orderBy(col("batch_id"), col("index_id"))
  }
  private val qIncrementalSubstringSql = {
    val L = 20
    s"""WITH bdocs AS (
       |  SELECT doc_id + 500000 doc_id, text FROM documents WHERE doc_id % 17 = 2
       |  UNION ALL SELECT doc_id + 600000, md5(text) FROM documents WHERE doc_id % 17 = 5),
       |itoks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |btoks AS (SELECT doc_id, ${toksSql("text")} t FROM bdocs),
       |ig AS (SELECT doc_id, unnest(range(len(t) - $L + 1)) pos, t
       |  FROM itoks WHERE len(t) >= $L),
       |ip AS (SELECT doc_id, pos,
       |  ${Hashing.hash64Sql(s"array_to_string(list_slice(t, pos + 1, pos + $L), ' ')")} h
       |  FROM ig),
       |icap AS (SELECT doc_id, pos, h FROM (
       |  SELECT *, count(*) OVER (PARTITION BY h) bs FROM ip)
       |  WHERE bs <= 64),
       |bg AS (SELECT doc_id, unnest(range(len(t) - $L + 1)) pos, t
       |  FROM btoks WHERE len(t) >= $L),
       |bp AS (SELECT doc_id, pos,
       |  ${Hashing.hash64Sql(s"array_to_string(list_slice(t, pos + 1, pos + $L), ' ')")} h
       |  FROM bg),
       |bcap AS (SELECT doc_id, pos, h FROM (
       |  SELECT *, count(*) OVER (PARTITION BY h) bs FROM bp)
       |  WHERE bs <= 64),
       |pr AS (SELECT b.doc_id da, i.doc_id db, b.pos pa, i.pos pb
       |  FROM bcap b JOIN icap i ON b.h = i.h),
       |isl AS (SELECT da, db, pa - pb diag, pa,
       |    pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) isl
       |  FROM pr),
       |runs AS (SELECT da, db, diag, isl,
       |    count(*) + $L - 1 run_tokens FROM isl GROUP BY 1, 2, 3, 4)
       |SELECT da batch_id, db index_id,
       |  CAST(max(run_tokens) AS BIGINT) max_run_tokens,
       |  CAST(count(*) AS BIGINT) n_runs,
       |  CAST(sum(run_tokens) - ($L - 1) * count(*) AS BIGINT) n_shared_grams
       |FROM runs GROUP BY 1, 2 ORDER BY batch_id, index_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // PII redaction (training-data release hygiene)
  // ------------------------------------------------------------------
  /** Deterministic PII dirt (emails on doc_id%5, phones on %7, IPv4 on
    * %11 — mirrored literally in SQL), then per-doc counts + the hash of
    * the redacted text. The patterns are restricted to the
    * java.util.regex/RE2 common subset, so BOTH engines run the same
    * pattern strings; the redacted-text hash catches any divergence in
    * match extent, not just match count.
    *
    * The face runs over a RATE-based slice (doc_id % 3 = 0 — one third
    * of the corpus at ANY scale), not a fixed-id cap: the r8 `doc_id <
    * 500` cap made the 100x scale fixture (which shifts replica ids by
    * 1e6 k) fall entirely outside the face, so its measured "slope" was
    * vacuous (VERDICT r8 Next #2). Mod-3 is coprime to the 5/7/11
    * injection mods, so every PII branch stays live in the slice, and
    * the slice share is scale-invariant. */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" call +12 (345) 678-9012")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" host 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7"))).otherwise(lit("")))
        .as("text"))
    TextStats.withPiiRedaction(base, "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ipv4"),
        Hashing.hash64(col("redacted")).as("redacted_h"))
  }
  private val qPiiRedactSql = {
    val em = TextStats.emailPattern
    val ph = TextStats.phonePattern
    val ip = TextStats.ipv4Pattern
    val red = s"regexp_replace(regexp_replace(regexp_replace(t, " +
      s"'$em', '<EMAIL>', 'g'), '$ph', '<PHONE>', 'g'), '$ip', '<IP>', 'g')"
    s"""WITH base AS (SELECT doc_id, text ||
       |  CASE WHEN doc_id % 5 = 0 THEN ' user' || doc_id || '@example.com' ELSE '' END ||
       |  CASE WHEN doc_id % 7 = 0 THEN ' call +12 (345) 678-9012' ELSE '' END ||
       |  CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || (doc_id % 256) || '.7' ELSE '' END AS t
       |  FROM documents WHERE doc_id % 3 = 0)
       |SELECT doc_id,
       |  len(regexp_extract_all(t, '$em')) AS n_emails,
       |  len(regexp_extract_all(t, '$ph')) AS n_phones,
       |  len(regexp_extract_all(t, '$ip')) AS n_ipv4,
       |  ${Hashing.hash64Sql(red)} AS redacted_h
       |FROM base""".stripMargin
  }

  /** Luhn-validated payment-card detection (TextStats.withCcDetection):
    * the fixture has no digits, so card-shaped strings are injected
    * (mirrored in the oracle, the q_contamination discipline) with all
    * three branches live — a Luhn-VALID card, a card-shaped but
    * Luhn-INVALID order number, and a second valid card format. The
    * oracle recomputes the checksum per candidate with nested list
    * lambdas — candidate extraction, digit strip, per-position
    * double-and-fold, and the redaction replace are all mirrored. */
  private def qCcDetect(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" card 4539 1488 0343 6467 thanks")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" order 1234-5678-9012-3456 end")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" acct 4111111111111111.")).otherwise(lit("")))
        .as("text"))
    TextStats.withCcDetection(base, "text")
      .select(col("doc_id"), col("n_cc_candidates"), col("n_cc_valid"),
        Hashing.hash64(col("cc_redacted")).as("redacted_h"))
  }
  private val qCcDetectSql = {
    val p = TextStats.ccPattern
    def luhn(ds: String) =
      s"""length($ds) BETWEEN 13 AND 19 AND
         |      list_sum(list_transform(range(1, length($ds) + 1), i ->
         |        CASE WHEN (length($ds) - i) % 2 = 1
         |          THEN CASE WHEN 2 * (ascii(substr($ds, CAST(i AS INT), 1)) - 48) > 9
         |            THEN 2 * (ascii(substr($ds, CAST(i AS INT), 1)) - 48) - 9
         |            ELSE 2 * (ascii(substr($ds, CAST(i AS INT), 1)) - 48) END
         |          ELSE ascii(substr($ds, CAST(i AS INT), 1)) - 48 END)) % 10 = 0""".stripMargin
    s"""WITH base AS (SELECT doc_id, text ||
       |  CASE WHEN doc_id % 7 = 0 THEN ' card 4539 1488 0343 6467 thanks' ELSE '' END ||
       |  CASE WHEN doc_id % 11 = 0 THEN ' order 1234-5678-9012-3456 end' ELSE '' END ||
       |  CASE WHEN doc_id % 13 = 0 THEN ' acct 4111111111111111.' ELSE '' END AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$p')) AS INT) AS n_cc_candidates,
       |  CAST(len(list_filter(
       |    list_transform(regexp_extract_all(t, '$p'),
       |      c -> regexp_replace(c, '[^0-9]', '', 'g')),
       |    ds -> ${luhn("ds")})) AS INT) AS n_cc_valid,
       |  ${Hashing.hash64Sql(s"regexp_replace(t, '$p', '<CC>', 'g')")} AS redacted_h
       |FROM base""".stripMargin
  }

  // ------------------------------------------------------------------
  // Deterministic sampling / splitting (training-data pipeline tier)
  // ------------------------------------------------------------------
  /** Reproducible train/val/test split: membership is a pure function
    * of (id, salt) via the portable hash — identical rows in every run,
    * on every engine, under any partitioning. The oracle re-derives the
    * same per-mille draw and ranges. */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    ext.Sampling.assignSplit(docs(s, dir), "doc_id",
      Seq("train" -> 800, "val" -> 100, "test" -> 100))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
  private val qHashSplitSql = {
    val dr = ext.Sampling.drawSql("doc_id", "split")
    s"""WITH d AS (SELECT n_chars, $dr AS dr FROM documents),
       |s AS (SELECT CASE WHEN dr < 800 THEN 'train'
       |  WHEN dr < 900 THEN 'val' WHEN dr < 1000 THEN 'test' END split,
       |  n_chars FROM d)
       |SELECT split, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM s GROUP BY 1""".stripMargin
  }

  /** Leakage-proof content-keyed split (Sampling.assignSplitByContent)
    * on the injected corpus (which CARRIES exact duplicates): per-split
    * doc/fingerprint counts plus the cross-split-leakage audit result,
    * which is structurally ZERO because copies share the draw key — the
    * property the oracle re-derives end to end. */
  private def qContentSplit(s: SparkSession, dir: String): DataFrame = {
    val split = ext.Sampling.assignSplitByContent(injectedDocs(s, dir),
      "text", Seq("train" -> 800, "val" -> 100, "test" -> 100))
    val leaks = Dedup.crossSplitLeakage(split, "text", "split")
      .agg(coalesce(sum(col("n_fingerprints")), lit(0L)).as("n_cross_fps"))
    split
      .withColumn("fp", TextStats.fingerprintMd5(col("text")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_fps"))
      .join(leaks, lit(true))
  }
  private val qContentSplitSql = {
    val dr = ext.Sampling.drawSql("fp", "csplit")
    s"""WITH $injectedDocsSql,
       |f AS (SELECT doc_id, md5(${normSql("text")}) fp FROM inj),
       |d AS (SELECT doc_id, fp, $dr AS dr FROM f),
       |s AS (SELECT doc_id, fp, CASE WHEN dr < 800 THEN 'train'
       |    WHEN dr < 900 THEN 'val' WHEN dr < 1000 THEN 'test' END split
       |  FROM d),
       |leak AS (SELECT CAST(count(*) AS BIGINT) c FROM (
       |  SELECT fp FROM s GROUP BY fp HAVING count(DISTINCT split) >= 2))
       |SELECT split, count(*) n_docs,
       |  CAST(count(DISTINCT fp) AS BIGINT) n_fps,
       |  (SELECT c FROM leak) n_cross_fps
       |FROM s GROUP BY 1""".stripMargin
  }

  /** Per-language percentile normalization of document length
    * (NumericProfile.percentileNormalize): midrank percentiles from a
    * (lang, n_chars) histogram — no per-language sort; thresholds
    * become cross-language comparable (the CCNet per-language
    * percentile convention). */
  private def qScorePercentile(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.percentileNormalize(
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      "n_chars", "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("pct"), 6).as("pct_r"))
  private val qScorePercentileSql =
    """WITH h AS (SELECT lang, n_chars s, count(*) c
      |  FROM documents GROUP BY 1, 2),
      |cum AS (SELECT lang, s, c,
      |    sum(c) OVER (PARTITION BY lang ORDER BY s) - c lt,
      |    sum(c) OVER (PARTITION BY lang) n FROM h)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  round(CAST(2 * lt + c + 1 AS DOUBLE)
      |    / CAST(2 * n AS DOUBLE), 6) pct_r
      |FROM documents d JOIN cum ON d.lang = cum.lang AND d.n_chars = cum.s""".stripMargin

  /** Stratified exact-quota sample: per language, the 20 docs with the
    * smallest (salted draw, id) — deterministic "random" top-k per
    * stratum, one shuffle, WindowGroupLimit capping map-side. */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    ext.Sampling.stratifiedQuota(docs(s, dir), Seq("lang"), "doc_id",
      quota = 20)
      .select(col("lang"), col("doc_id"))
  private val qStratifiedSampleSql = {
    val dr = ext.Sampling.drawSql("doc_id", "strata")
    s"""WITH d AS (SELECT lang, doc_id, $dr AS dr FROM documents),
       |r AS (SELECT lang, doc_id,
       |  row_number() OVER (PARTITION BY lang ORDER BY dr, doc_id) rn FROM d)
       |SELECT lang, doc_id FROM r WHERE rn <= 20""".stripMargin
  }

  /** Data-mixture downsampling: per-source target rates (upweight src0,
    * thin the long tail to 100 permille), verified by per-source counts
    * AND id-sum (membership extent, not just cardinality). */
  private val mixtureRates = Seq("src0" -> 900, "src1" -> 500, "src2" -> 250)
  private def qMixtureSample(s: SparkSession, dir: String): DataFrame =
    ext.Sampling.mixtureSample(docs(s, dir), "doc_id", "source",
      mixtureRates, defaultPermille = 100)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_id"))
  private val qMixtureSampleSql = {
    val dr = ext.Sampling.drawSql("doc_id", "mixture")
    val cases = mixtureRates.map { case (g, p) => s"WHEN '$g' THEN $p" }
      .mkString(" ")
    s"""WITH d AS (SELECT source, doc_id, $dr AS dr FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM d WHERE dr < CASE source $cases ELSE 100 END
       |GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // Dedup: SimHash hamming pairs
  // ------------------------------------------------------------------
  /** SimHash near-dup with byte-banding + hot-bucket cap ON in both
    * engines (round 1's oracle was an all-pairs join — hamming<=3 over 32
    * bits implies a shared byte band by pigeonhole, so the results
    * agreed, but the shipped cap was disabled; now the oracle reproduces
    * the banding and the cap literally). */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(docs(s, dir), "doc_id", "text",
      maxDist = 3, maxBucket = 256)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
  private val qDedupSimhashSql =
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |th AS (SELECT doc_id, list_transform(t, tk -> ${Hashing.hash64Sql("tk")}) h FROM toks),
       |sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(32), j ->
       |    CASE WHEN list_sum(list_transform(h, x ->
       |        CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |    THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) v FROM th),
       |banded AS (SELECT doc_id, v, band, (v >> (band * 8)) & 255 AS key
       |  FROM sh, (SELECT unnest(range(4)) band)),
       |${cappedSql("doc_id, v, band, key", "banded", "band", "key", 256)}
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.v, b.v)) AS INT) AS hamming
       |FROM capped a JOIN capped b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.v, b.v)) <= 3""".stripMargin

  // ------------------------------------------------------------------
  // Text analysis
  // ------------------------------------------------------------------
  private def qTextStats(s: SparkSession, dir: String): DataFrame =
    TextStats.qualityScore(docs(s, dir), "text")
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("n_stopwords").cast("int").as("n_stopwords"),
        col("n_punct").cast("int").as("n_punct"),
        col("avg_token_len"), col("stopword_ratio"), col("punct_ratio"),
        col("quality_score"))
  private val qTextStatsSql = {
    val sw = TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) toks,
       |    length(text) n_chars,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) n_punct
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, len(toks) n_tokens,
       |    len(list_filter(toks, t -> list_contains($sw, lower(t)))) n_stopwords,
       |    n_punct, n_chars,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) tok_chars
       |  FROM f)
       |SELECT CAST(doc_id AS BIGINT) doc_id, CAST(n_tokens AS INT) n_tokens,
       |  CAST(n_stopwords AS INT) n_stopwords, CAST(n_punct AS INT) n_punct,
       |  CASE WHEN n_tokens > 0 THEN CAST(tok_chars AS DOUBLE) / n_tokens ELSE 0.0 END avg_token_len,
       |  CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens ELSE 0.0 END stopword_ratio,
       |  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END punct_ratio,
       |  round(
       |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
       |    + (CASE WHEN n_tokens > 0 AND CAST(n_stopwords AS DOUBLE) / n_tokens >= 0.05 THEN 0.3 ELSE 0.0 END)
       |    + (CASE WHEN n_chars = 0 OR CAST(n_punct AS DOUBLE) / n_chars <= 0.2 THEN 0.3 ELSE 0.0 END), 2) quality_score
       |FROM g""".stripMargin
  }

  private def qLangId(s: SparkSession, dir: String): DataFrame =
    TextStats.withLangId(docs(s, dir), "text")
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
  private val qLangIdSql = {
    val hitCols = langHitColsSql("toks")
    val best = langBestSql
    val pick = langPickSql
    s"""WITH toks AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) toks
       |  FROM documents),
       |h AS (SELECT doc_id, lang,
       |    $hitCols
       |  FROM toks),
       |p AS (SELECT lang, CASE WHEN $best = 0 THEN 'und'
       |    ELSE CASE $pick END END predicted
       |  FROM h)
       |SELECT lang, predicted, count(*) AS cnt FROM p GROUP BY 1, 2""".stripMargin
  }

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextStats.tokenCount(col("text")).cast("int").as("n_ws_tokens"),
      TextStats.bpeishTokenCount(col("text")).cast("int").as("n_bpeish"))
  private val qTokenCountSql =
    s"""SELECT doc_id,
       |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS INT) n_ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '${TextStats.bpeishPattern}')) AS INT) n_bpeish
       |FROM documents""".stripMargin

  /** Language ID through the pluggable profile seam
    * (TextStats.withLangIdProfile, VERDICT r9 Next #2) with the
    * committed NON-DEFAULT public-wordlist profile
    * (ModelFixtures.langProfile, 25 words/language vs the compiled-in
    * 10): the oracle carries the same 125 (lang, word) literals, so a
    * green row proves the seam path — broadcast profile join, distinct-
    * token explode, WindowGroupLimit argmax — end-to-end with external
    * model data, not the default shortcut. */
  private def qLangIdProfile(s: SparkSession, dir: String): DataFrame =
    TextStats.withLangIdProfile(docs(s, dir), "doc_id", "text",
        ModelFixtures.langProfileDf(s))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
  private val qLangIdProfileSql = {
    val vals = ModelFixtures.langProfile
      .map { case (l, w) => s"('$l', '$w')" }.mkString(", ")
    s"""WITH prof(plang, pword) AS (SELECT DISTINCT * FROM (VALUES $vals)),
       |tk AS (SELECT doc_id, lang,
       |    unnest(list_distinct(list_filter(
       |      regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0))) word
       |  FROM documents),
       |h AS (SELECT doc_id, lang, plang, count(*) n
       |  FROM tk JOIN prof ON prof.pword = tk.word GROUP BY 1, 2, 3),
       |b AS (SELECT doc_id, plang,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, plang ASC) rn
       |  FROM h),
       |p AS (SELECT d.lang, coalesce(b.plang, 'und') predicted
       |  FROM documents d LEFT JOIN (SELECT doc_id, plang FROM b WHERE rn = 1) b
       |    ON b.doc_id = d.doc_id)
       |SELECT lang, predicted, count(*) AS cnt FROM p GROUP BY 1, 2""".stripMargin
  }

  /** Subword token counts through the external-merges seam
    * (TextStats.tokenCountWithMerges, VERDICT r9 Next #2) under the
    * committed REAL learned merge table (ModelFixtures.bpeMerges — the
    * train-once / ship-merges / apply-everywhere deployment shape). The
    * oracle unrolls the 24 FIXED merges as gaps-and-islands contraction
    * layers (qBpeTrainSql's template minus the per-layer argmax — the
    * pair is a committed literal), so the distributed distinct-word BPE
    * fold is value-checked under external model data at every scale,
    * including scales where training would have learned different
    * merges. */
  private def qTokenCountMerges(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenCountWithMerges(docs(s, dir), "doc_id", "text",
        ModelFixtures.bpeMergesDf(s))
      .select(col("id").as("doc_id"), col("n_words"), col("n_pieces"))
  private val qTokenCountMergesSql = {
    val layers = ModelFixtures.bpeMerges.map { case (k, l, r) =>
      s"""pos$k AS (SELECT w, generate_subscripts(syms, 1) i, unnest(syms) s
         |  FROM w$k),
         |pl$k AS MATERIALIZED (SELECT *, lead(s) OVER (PARTITION BY w ORDER BY i) nx
         |  FROM pos$k),
         |m$k AS (SELECT w, i, s,
         |    (cand AND row_number() OVER (PARTITION BY w, cand, grp ORDER BY i) % 2 = 1) merged
         |  FROM (SELECT *,
         |      CASE WHEN cand THEN i - row_number() OVER (PARTITION BY w, cand ORDER BY i) END grp
         |    FROM (SELECT *, coalesce(s = '$l' AND nx = '$r', FALSE) cand FROM pl$k))),
         |w${k + 1} AS MATERIALIZED (SELECT w,
         |    list(CASE WHEN merged THEN '$l$r' ELSE s END ORDER BY i) syms
         |  FROM (SELECT *,
         |      coalesce(lag(merged) OVER (PARTITION BY w ORDER BY i), FALSE) pm
         |    FROM m$k)
         |  WHERE NOT pm GROUP BY w)""".stripMargin
    }.mkString(",\n")
    val last = ModelFixtures.bpeMerges.size
    s"""WITH t AS (SELECT doc_id, unnest(${toksSql("text")}) w FROM documents),
       |w0 AS (SELECT w,
       |    list_transform(range(length(w)), i -> substr(w, CAST(i + 1 AS INTEGER), 1)) syms
       |  FROM (SELECT DISTINCT w FROM t)),
       |$layers,
       |np AS (SELECT w, len(syms) np FROM w$last)
       |SELECT doc_id, CAST(count(*) AS BIGINT) n_words,
       |  CAST(sum(np) AS BIGINT) n_pieces
       |FROM t JOIN np USING (w) GROUP BY 1""".stripMargin
  }

  /** Per-type skewness / excess kurtosis of event values
    * (NumericProfile.skewKurtosis): the distribution-shape panel from
    * one four-power-sum pass. */
  private def qSkewKurtosis(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.skewKurtosis(events(s, dir), "value",
      "event_type")
  private val qSkewKurtosisSql: String = {
    val x = "round(CAST(value AS DOUBLE), 6)"
    s"""WITH a AS (SELECT event_type g, count(*) n,
       |    CAST(sum(CAST($x AS DECIMAL(38,8))) AS DOUBLE) s1,
       |    CAST(sum(CAST(round($x * $x, 6) AS DECIMAL(38,8))) AS DOUBLE) s2,
       |    CAST(sum(CAST(round($x * $x * $x, 4) AS DECIMAL(38,8))) AS DOUBLE) s3,
       |    CAST(sum(CAST(round($x * $x * $x * $x, 2) AS DECIMAL(38,8))) AS DOUBLE) s4
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |m AS (SELECT g, n, s1 / n mu,
       |    s2 / n - (s1 / n) * (s1 / n) m2,
       |    s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) m3,
       |    s4 / n - 4.0 * (s1 / n) * (s3 / n) + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
       |      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) m4
       |  FROM (SELECT g, CAST(n AS DOUBLE) n, s1, s2, s3, s4 FROM a))
       |SELECT g, CAST(n AS BIGINT) n, round(mu, 6) mean,
       |  CASE WHEN m2 > 0 THEN round(sqrt(m2), 6) END std_pop,
       |  CASE WHEN m2 > 0 THEN round(m3 / sqrt(m2 * m2 * m2), 6) END skewness,
       |  CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END kurtosis_ex
       |FROM m""".stripMargin
  }

  /** Spearman rank correlation between doc length and BPE-ish token
    * count (NumericProfile.spearman): grid midranks, five decimal
    * moments — the scale-free monotone-association check. */
  private def qSpearman(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.spearman(
      docs(s, dir).select(col("n_chars"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_toks")),
      "n_chars", "n_toks")
  private val qSpearmanSql: String = {
    def rmap(src: String, c: String) =
      s"""(SELECT $c, (CAST(cum - cnt + 1 + cum AS DOUBLE)) / 2.0 r FROM (
         |  SELECT $c, count(*) cnt,
         |    sum(count(*)) OVER (ORDER BY $c ROWS UNBOUNDED PRECEDING) cum
         |  FROM $src GROUP BY $c))""".stripMargin
    s"""WITH b AS (SELECT n_chars,
       |    CAST(len(regexp_extract_all(lower(text), '${TextStats.bpeishPattern}')) AS BIGINT) n_toks
       |  FROM documents WHERE n_chars IS NOT NULL),
       |rx AS ${rmap("b", "n_chars")},
       |ry AS ${rmap("b", "n_toks")},
       |r AS (SELECT rx.r xr, ry.r yr FROM b
       |  JOIN rx USING (n_chars) JOIN ry USING (n_toks)),
       |a AS (SELECT count(*) n,
       |    CAST(sum(CAST(xr AS DECIMAL(38,8))) AS DOUBLE) sx,
       |    CAST(sum(CAST(yr AS DECIMAL(38,8))) AS DOUBLE) sy,
       |    CAST(sum(CAST(xr * yr AS DECIMAL(38,8))) AS DOUBLE) sxy,
       |    CAST(sum(CAST(xr * xr AS DECIMAL(38,8))) AS DOUBLE) sxx,
       |    CAST(sum(CAST(yr * yr AS DECIMAL(38,8))) AS DOUBLE) syy
       |  FROM r),
       |f AS (SELECT n,
       |    CAST(n AS DOUBLE) * sxy - sx * sy num,
       |    CAST(n AS DOUBLE) * sxx - sx * sx denx,
       |    CAST(n AS DOUBLE) * syy - sy * sy deny
       |  FROM a)
       |SELECT n, CASE WHEN denx > 0 AND deny > 0
       |  THEN round(num / sqrt(denx * deny), 6) END rho
       |FROM f""".stripMargin
  }

  /** Per-lang 5-95 trimmed mean of n_chars (NumericProfile.trimmedMean)
    * with auditable bounds and the raw mean for contrast. */
  private def qTrimmedMean(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.trimmedMean(docs(s, dir), "n_chars", "lang",
      loQ = 0.05, hiQ = 0.95)

  /** Approx sibling of q_trimmed_mean: sketch bounds + one conditional
    * mean pass, no (group x value) grid. VALUE-gated since r9
    * (NumericProfile.trimmedMeanBounded): the sketch cut points are
    * pinned inside their padded rank windows AND the trimmed mean
    * itself is pinned between the two extreme trimmed means the
    * windows admit (conditional means are monotone in both cuts) —
    * the window bounds, extreme means and raw mean are exact values
    * the oracle recomputes bit-exact, with TRUE pinned per ok. */
  private def qTrimmedMeanApprox(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.trimmedMeanBounded(docs(s, dir), "n_chars",
      "lang", loQ = 0.05, hiQ = 0.95)
  private val qTrimmedMeanApproxSql: String = {
    val dd = "(CAST(ceil(CAST(n AS DOUBLE) / 10000.0) AS BIGINT) + 1)"
    def tgt(q: Double) = s"CAST(ceil(CAST(n AS DOUBLE) * $q) AS BIGINT)"
    def trim(loB: String, hiB: String) =
      s"""round(CAST(sum(CASE WHEN v >= $loB AND v <= $hiB
         |      THEN CAST(round(v * c, 6) AS DECIMAL(38,6)) END) AS DOUBLE)
         |    / CAST(sum(CASE WHEN v >= $loB AND v <= $hiB THEN c END)
         |        AS DOUBLE), 6)""".stripMargin
    s"""WITH g AS (SELECT lang g, round(CAST(n_chars AS DOUBLE), 6) v,
       |    count(*) c FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
       |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) n,
       |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM g),
       |b AS (SELECT g, max(n) n_rows,
       |    min(CASE WHEN cum >= greatest(1, ${tgt(0.05)} - $dd) THEN v END) lo_lo,
       |    min(CASE WHEN cum >= least(n, ${tgt(0.05)} + $dd) THEN v END) lo_hi,
       |    min(CASE WHEN cum >= greatest(1, ${tgt(0.95)} - $dd) THEN v END) hi_lo,
       |    min(CASE WHEN cum >= least(n, ${tgt(0.95)} + $dd) THEN v END) hi_hi
       |  FROM w GROUP BY 1),
       |j AS (SELECT w.*, b.n_rows, b.lo_lo, b.lo_hi, b.hi_lo, b.hi_hi
       |  FROM w JOIN b USING (g))
       |SELECT g, max(n_rows) n_rows,
       |  max(lo_lo) lo_lo, max(lo_hi) lo_hi,
       |  max(hi_lo) hi_lo, max(hi_hi) hi_hi,
       |  ${trim("lo_lo", "hi_lo")} trim_min,
       |  ${trim("lo_hi", "hi_hi")} trim_max,
       |  round(CAST(sum(CAST(round(v * c, 6) AS DECIMAL(38,6))) AS DOUBLE)
       |    / CAST(max(n_rows) AS DOUBLE), 6) raw_mean,
       |  TRUE ok_lo, TRUE ok_hi, TRUE ok_trim
       |FROM j GROUP BY 1""".stripMargin
  }
  private val qTrimmedMeanSql: String =
    """WITH g AS (SELECT lang g, round(CAST(n_chars AS DOUBLE), 6) v,
      |    count(*) c FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) n,
      |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM g),
      |b AS (SELECT g, max(n) n_rows,
      |    min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 0.05) THEN v END) lo,
      |    min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 0.95) THEN v END) hi
      |  FROM w GROUP BY 1),
      |j AS (SELECT w.*, b.n_rows, b.lo, b.hi FROM w JOIN b USING (g))
      |SELECT g, max(n_rows) n_rows, max(lo) lo, max(hi) hi,
      |  round(CAST(sum(CASE WHEN v >= lo AND v <= hi
      |      THEN CAST(round(v * c, 6) AS DECIMAL(38,6)) END) AS DOUBLE)
      |    / CAST(sum(CASE WHEN v >= lo AND v <= hi THEN c END) AS DOUBLE), 6)
      |    trimmed_mean,
      |  round(CAST(sum(CAST(round(v * c, 6) AS DECIMAL(38,6))) AS DOUBLE)
      |    / CAST(max(n_rows) AS DOUBLE), 6) raw_mean
      |FROM j GROUP BY 1""".stripMargin

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextStats.fingerprintMd5(col("text")).as("fp"))
  private val qFingerprintSql =
    s"""SELECT doc_id, md5(${normSql("text")}) AS fp FROM documents""".stripMargin

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------
  private def qCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.bruteTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }
  private val qCosineTopkSql =
    """WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
      |s AS (SELECT query_id, id,
      |    list_cosine_similarity(v, qv) cosine,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY list_cosine_similarity(v, qv) DESC, id ASC) rank
      |  FROM c, q WHERE id <> query_id)
      |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank,
      |       round(cosine, 6) AS cosine_r
      |FROM s WHERE rank <= 5""".stripMargin

  /** Hybrid retrieval via reciprocal-rank fusion: for each of 10 query
    * docs, a LEXICAL top-20 (TextStats.lexicalTopK — IDF-weighted
    * distinct-token overlap with the df <= n_docs/10 stopword cap) and a
    * DENSE top-20 (SimSearch.bruteTopK cosine over the aligned
    * embeddings) are fused by SimSearch.rrfFuse (1/(60+rank), exact
    * DECIMAL sums), top 10 per query. The oracle mirrors both rankers
    * and the fusion in full — tokenization, the df cap, the decimal
    * score sums, the cosine window, and the (rrf desc, doc_id asc)
    * tie-break. */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lex = TextStats.lexicalTopK(d, d.filter(col("doc_id") < 10),
        "doc_id", "text", k = 20)
      .select(col("query_id"), col("id").as("doc_id"), col("rank"))
    val e = emb(s, dir)
    val dense = SimSearch.bruteTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    SimSearch.rrfFuse(Seq(lex, dense), k = 60, topK = 10)
  }
  private val qHybridRrfSql =
    s"""WITH ct AS (SELECT DISTINCT doc_id id, unnest(${toksSql("text")}) tok
       |    FROM documents),
       |st AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM documents),
       |qt AS (SELECT DISTINCT doc_id query_id, unnest(${toksSql("text")}) tok
       |    FROM documents WHERE doc_id < 10),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM ct
       |  JOIN (SELECT DISTINCT tok FROM qt) USING (tok) GROUP BY 1),
       |keep AS (SELECT tok, df FROM dfq, st
       |  WHERE df <= CAST(floor(n_docs * 0.1) AS BIGINT)),
       |lexs AS (SELECT query_id, id,
       |    sum(CAST(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)
       |      AS DECIMAL(18,6))) sc
       |  FROM ct JOIN qt USING (tok) JOIN keep USING (tok), st
       |  WHERE id <> query_id GROUP BY 1, 2),
       |lex AS (SELECT query_id, id doc_id, rank FROM (
       |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sc DESC, id ASC) rank FROM lexs)
       |  WHERE rank <= 20),
       |q2 AS (SELECT vec_id query_id, embedding::DOUBLE[] qv
       |  FROM embeddings WHERE vec_id < 10),
       |c2 AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
       |dens AS (SELECT query_id, id doc_id, rank FROM (
       |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY list_cosine_similarity(v, qv) DESC, id ASC) rank
       |    FROM c2, q2 WHERE id <> query_id)
       |  WHERE rank <= 20),
       |u AS (SELECT * FROM lex UNION ALL SELECT * FROM dens),
       |f AS (SELECT query_id, doc_id, CAST(count(*) AS INT) n_lists,
       |    sum(CAST(1.0 / (60 + rank) AS DECIMAL(18,6))) r
       |  FROM u GROUP BY 1, 2)
       |SELECT query_id, doc_id, n_lists, CAST(r AS DOUBLE) rrf,
       |  CAST(rrf_rank AS INT) rrf_rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY r DESC, doc_id ASC) rrf_rank FROM f)
       |WHERE rrf_rank <= 10""".stripMargin

  /** Int8 scalar quantization: integer codes are hash-checked per vector
    * (full extent), the code sum is an exact integer aggregate. dims=64
    * is written into the SQL (same convention as the mirrored
    * hyperplanes); the Spark side probes dims from the data. */
  private def qQuantize(s: SparkSession, dir: String): DataFrame =
    SimSearch.scalarQuantize(emb(s, dir), "vec_id", "embedding")
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        Hashing.hash64(array_join(
          transform(col("codes"), c => c.cast("string")), ",")).as("codes_h"))
  private val qQuantizeSql =
    s"""WITH st AS (SELECT i, min(CAST(embedding[i+1] AS DOUBLE)) mn,
       |    max(CAST(embedding[i+1] AS DOUBLE)) mx
       |  FROM embeddings, (SELECT unnest(range(64)) i) GROUP BY i),
       |l AS (SELECT list(mn ORDER BY i) mns, list(mx ORDER BY i) mxs FROM st),
       |c AS (SELECT vec_id, list_transform(range(64), i ->
       |    CASE WHEN mxs[i+1] > mns[i+1]
       |      THEN CAST(least(255, greatest(0,
       |        floor((CAST(embedding[i+1] AS DOUBLE) - mns[i+1])
       |          / (mxs[i+1] - mns[i+1]) * 255))) AS BIGINT)
       |      ELSE 0 END) codes
       |  FROM embeddings, l)
       |SELECT vec_id,
       |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
       |  ${Hashing.hash64Sql("array_to_string(codes, ',')")} AS codes_h
       |FROM c""".stripMargin

  /** Product-quantization codes (m=8 subspaces x 16-entry codebooks over
    * dims=64): integer code vectors are hash-checked per vector, so
    * subspace slicing, the argmax-dot assignment, and tie-breaks are all
    * verified to the byte. Subspace geometry (8x8) is written into the
    * SQL; the Spark side probes dims from the data. */
  private def qPqCodes(s: SparkSession, dir: String): DataFrame =
    SimSearch.productQuantize(emb(s, dir), "vec_id", "embedding",
      m = 8, ksub = 16)
      .select(col("id").as("vec_id"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        Hashing.hash64(array_join(
          transform(col("codes"), c => c.cast("string")), ",")).as("codes_h"))
  /** Shared PQ CTE chain (codebook + per-subspace assignment) — used by
    * both the code dump and the ADC search oracle so the two cannot
    * drift apart. Ends with `asg(id, j, code)` and `cs(code, j, c)`. */
  private val pqCteSql =
    """v AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
      |ids AS (SELECT id FROM v ORDER BY id LIMIT 16),
      |cents AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) code, v
      |  FROM v JOIN ids USING (id)),
      |subs AS (SELECT unnest(range(8)) j),
      |sv AS (SELECT id, j, v[j*8+1 : j*8+8] x FROM v, subs),
      |cs AS (SELECT code, j, v[j*8+1 : j*8+8] c FROM cents, subs),
      |asg AS (SELECT id, j, code FROM (
      |    SELECT s.id, s.j, c.code,
      |      row_number() OVER (PARTITION BY s.id, s.j
      |        ORDER BY list_dot_product(s.x, c.c)
      |          - 0.5 * list_dot_product(c.c, c.c) DESC, c.code ASC) rn
      |    FROM sv s JOIN cs c ON s.j = c.j) WHERE rn = 1)""".stripMargin
  private val qPqCodesSql =
    s"""WITH $pqCteSql,
       |codes AS (SELECT id, list(code ORDER BY j) codes FROM asg GROUP BY 1)
       |SELECT id AS vec_id,
       |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
       |  ${Hashing.hash64Sql("array_to_string(codes, ',')")} AS codes_h
       |FROM codes""".stripMargin

  /** PQ-ADC top-5: corpus represented only by its 8-byte codes; distance
    * = decimal-summed per-subspace lookup terms, so the reported value
    * (not just the ranking) hash-matches the SQL mirror. */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, m = 8, ksub = 16)
  }
  private val qAnnPqSql =
    s"""WITH $pqCteSql,
       |qs AS (SELECT id query_id, j, x qx FROM sv WHERE id < 10),
       |terms AS (SELECT q.query_id, a.id, q.j,
       |    CAST(list_dot_product(q.qx, q.qx) - 2.0 * list_dot_product(q.qx, c.c)
       |         + list_dot_product(c.c, c.c) AS DECIMAL(18,6)) t
       |  FROM qs q JOIN asg a ON a.id <> q.query_id AND a.j = q.j
       |  JOIN cs c ON c.j = a.j AND c.code = a.code),
       |d AS (SELECT query_id, id, CAST(sum(t) AS DOUBLE) adc
       |  FROM terms GROUP BY 1, 2)
       |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank, adc
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, id ASC) rank FROM d)
       |WHERE rank <= 5""".stripMargin

  /** IVF-PQ top-5: coarse IVF probe (nlist=16, nprobe=4) + ADC over
    * m=8/ksub=16 codes trained on the NORMALIZED corpus (non-residual).
    * The oracle rebuilds both halves: the q_ann_ivf coarse chain (sans
    * Lloyd) and the q_ann_pq code/ADC chain, but over normalized
    * vectors. Every argmax tie-breaks on ids and ADC sums as
    * DECIMAL(18,6), so the reported distance hash-matches. */
  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.ivfPqTopK(e, e.filter(col("vec_id") < 10), "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16)
  }
  /** Shared IVF-PQ CTE chain (normalize, coarse centroids/assignment,
    * codebook, PQ encode, probes, ADC distances) — ends with
    * `d(query_id, id, adc)` and keeps `v(id, e)` / `qs(query_id, qe,
    * list_id)` visible. Used by both the plain ADC face and the
    * exact-re-rank face so the two bases cannot drift apart. */
  private val ivfPqCteSql =
    """WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
      |cents AS (SELECT id cent_id, e ce FROM v ORDER BY id LIMIT 16),
      |asg AS (SELECT id, cent_id AS list_id FROM (
      |    SELECT v.id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c) WHERE rn = 1),
      |pids AS (SELECT id FROM v ORDER BY id LIMIT 16),
      |pcents AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) code, e
      |  FROM v JOIN pids USING (id)),
      |subs AS (SELECT unnest(range(8)) j),
      |sv AS (SELECT id, j, e[j*8+1 : j*8+8] x FROM v, subs),
      |cs AS (SELECT code, j, e[j*8+1 : j*8+8] c FROM pcents, subs),
      |pasg AS (SELECT id, j, code FROM (
      |    SELECT s.id, s.j, c.code,
      |      row_number() OVER (PARTITION BY s.id, s.j
      |        ORDER BY list_dot_product(s.x, c.c)
      |          - 0.5 * list_dot_product(c.c, c.c) DESC, c.code ASC) rn
      |    FROM sv s JOIN cs c ON s.j = c.j) WHERE rn = 1),
      |qs AS (SELECT id query_id, e qe, cent_id AS list_id FROM (
      |    SELECT v.id, v.e, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c WHERE v.id < 10) WHERE rn <= 4),
      |qsub AS (SELECT query_id, j, qe[j*8+1 : j*8+8] qx
      |  FROM (SELECT DISTINCT query_id, qe FROM qs), subs),
      |cand AS (SELECT DISTINCT q.query_id, a.id
      |  FROM asg a JOIN qs q ON a.list_id = q.list_id AND a.id <> q.query_id),
      |terms AS (SELECT cand.query_id, cand.id, p.j,
      |    CAST(list_dot_product(u.qx, u.qx) - 2.0 * list_dot_product(u.qx, c.c)
      |         + list_dot_product(c.c, c.c) AS DECIMAL(18,6)) t
      |  FROM cand JOIN pasg p ON p.id = cand.id
      |  JOIN cs c ON c.j = p.j AND c.code = p.code
      |  JOIN qsub u ON u.query_id = cand.query_id AND u.j = p.j),
      |d AS (SELECT query_id, id, CAST(sum(t) AS DOUBLE) adc
      |  FROM terms GROUP BY 1, 2)""".stripMargin
  private val qAnnIvfPqSql =
    s"""$ivfPqCteSql
       |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank, adc
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, id ASC) rank FROM d)
       |WHERE rank <= 5""".stripMargin

  /** Incremental IVF append (the crawl-step indexing form, FAISS `add`
    * against a trained quantizer): index = 90% of the embedding corpus,
    * batch = the held-out 10%; centroids train on the index side ONLY
    * and the batch assigns map-side — no batch-index join anywhere in
    * the plan. Output is the per-list occupancy report after the add.
    * Oracle re-derives the frozen quantizer (16 smallest index ids)
    * and both argmax assignments. */
  private def qIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.ivfAppend(e.filter(col("vec_id") % 10 =!= 3),
      e.filter(col("vec_id") % 10 === 3), "vec_id", "embedding",
      nlist = 16)
  }
  private val qIvfAppendSql =
    """WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e
      |  FROM embeddings WHERE vec_id % 10 <> 3),
      |b AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e
      |  FROM embeddings WHERE vec_id % 10 = 3),
      |cents AS (SELECT id cent_id, e ce FROM v ORDER BY id LIMIT 16),
      |ai AS (SELECT id, cent_id FROM (
      |    SELECT v.id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c) WHERE rn = 1),
      |ab AS (SELECT id, cent_id FROM (
      |    SELECT b.id, c.cent_id,
      |      row_number() OVER (PARTITION BY b.id
      |        ORDER BY list_dot_product(b.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM b, cents c) WHERE rn = 1),
      |ci AS (SELECT cent_id, CAST(count(*) AS BIGINT) ni FROM ai GROUP BY 1),
      |cb AS (SELECT cent_id, CAST(count(*) AS BIGINT) nb FROM ab GROUP BY 1)
      |SELECT c.cent_id list_id,
      |  COALESCE(ni, CAST(0 AS BIGINT)) n_index,
      |  COALESCE(nb, CAST(0 AS BIGINT)) n_batch,
      |  COALESCE(ni, CAST(0 AS BIGINT)) + COALESCE(nb, CAST(0 AS BIGINT)) n_total
      |FROM cents c LEFT JOIN ci USING (cent_id) LEFT JOIN cb USING (cent_id)""".stripMargin

  /** IVF-PQ + exact re-rank (FAISS IndexRefineFlat; Jégou et al. 2011
    * §V "re-ranking with source vectors"): the 20-deep ADC shortlist is
    * re-scored on full-precision cosine and top-5 ranks exactly — the
    * production two-stage retrieval shape. The oracle reuses the whole
    * IVF-PQ CTE chain, cuts the shortlist at the same (adc, id) order,
    * and re-ranks on list_dot_product of the normalized vectors (the
    * q_cosine_topk raw-cosine parity discipline, rounded@6 on output). */
  private def qAnnIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.ivfPqRerank(e, e.filter(col("vec_id") < 10), "vec_id",
      "embedding", k = 5, shortlist = 20, nlist = 16, nprobe = 4,
      m = 8, ksub = 16)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }
  private val qAnnIvfPqRerankSql =
    s"""$ivfPqCteSql,
       |sl AS (SELECT query_id, id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc ASC, id ASC) rn FROM d) WHERE rn <= 20),
       |qv AS (SELECT DISTINCT query_id, qe FROM qs),
       |ex AS (SELECT s.query_id, s.id,
       |    list_dot_product(q.qe, v.e) cos
       |  FROM sl s JOIN v ON v.id = s.id
       |  JOIN qv q ON q.query_id = s.query_id)
       |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank,
       |  round(cos, 6) cosine_r
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, id ASC) rank FROM ex)
       |WHERE rank <= 5""".stripMargin

  /** IVF-PQ with RESIDUAL encoding (FAISS `by_residual = true`, the
    * library default; Jégou et al. §IV.B): codes quantize
    * x - centroid(list(x)) and each probed list scores the query's own
    * residual — the accuracy upgrade at identical index bytes over the
    * non-residual q_ann_ivfpq. The oracle re-derives the residual
    * frame (element-wise subtract mirrored as a range transform), the
    * residual-trained codebook, both argmax assignments, and the
    * per-(query, list) residual ADC terms. */
  private def qAnnIvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.ivfPqResidualTopK(e, e.filter(col("vec_id") < 10), "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16)
  }
  private val qAnnIvfPqResidualSql =
    """WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
      |cents AS (SELECT id cent_id, e ce FROM v ORDER BY id LIMIT 16),
      |asg AS (SELECT id, cent_id AS list_id FROM (
      |    SELECT v.id, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c) WHERE rn = 1),
      |res AS (SELECT a.id, a.list_id,
      |    list_transform(range(64), i ->
      |      v.e[CAST(i + 1 AS INT)] - c.ce[CAST(i + 1 AS INT)]) r
      |  FROM asg a JOIN v ON v.id = a.id JOIN cents c ON c.cent_id = a.list_id),
      |pids AS (SELECT id FROM res
      |  ORDER BY (506952114 * (id % 2147483647) + 40503) % 2147483647, id
      |  LIMIT 16),
      |pcents AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) code, r
      |  FROM res JOIN pids USING (id)),
      |subs AS (SELECT unnest(range(8)) j),
      |sv AS (SELECT id, j, r[j*8+1 : j*8+8] x FROM res, subs),
      |cs AS (SELECT code, j, r[j*8+1 : j*8+8] c FROM pcents, subs),
      |pasg AS (SELECT id, j, code FROM (
      |    SELECT s.id, s.j, c.code,
      |      row_number() OVER (PARTITION BY s.id, s.j
      |        ORDER BY list_dot_product(s.x, c.c)
      |          - 0.5 * list_dot_product(c.c, c.c) DESC, c.code ASC) rn
      |    FROM sv s JOIN cs c ON s.j = c.j) WHERE rn = 1),
      |qs AS (SELECT id query_id, cent_id AS list_id,
      |    list_transform(range(64), i ->
      |      qe[CAST(i + 1 AS INT)] - ce[CAST(i + 1 AS INT)]) qr
      |  FROM (SELECT v.id, v.e qe, c.cent_id, c.ce,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c WHERE v.id < 10) WHERE rn <= 4),
      |qsub AS (SELECT query_id, list_id, j, qr[j*8+1 : j*8+8] qx
      |  FROM qs, subs),
      |cand AS (SELECT q.query_id, q.list_id, a.id
      |  FROM asg a JOIN qs q ON a.list_id = q.list_id AND a.id <> q.query_id),
      |terms AS (SELECT cand.query_id, cand.id, p.j,
      |    CAST(list_dot_product(u.qx, u.qx) - 2.0 * list_dot_product(u.qx, c.c)
      |         + list_dot_product(c.c, c.c) AS DECIMAL(18,6)) t
      |  FROM cand JOIN pasg p ON p.id = cand.id
      |  JOIN cs c ON c.j = p.j AND c.code = p.code
      |  JOIN qsub u ON u.query_id = cand.query_id
      |    AND u.list_id = cand.list_id AND u.j = p.j),
      |d AS (SELECT query_id, id, CAST(sum(t) AS DOUBLE) adc
      |  FROM terms GROUP BY 1, 2)
      |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank, adc
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY adc ASC, id ASC) rank FROM d)
      |WHERE rank <= 5""".stripMargin

  /** Embedding near-dup via hyperplane-LSH banding (round 2: the round-1
    * crossJoin was the one outright scale-killer). The banding and the
    * bucket cap are deterministic and mirrored bit-for-bit in the oracle:
    * the same 32 hyperplanes are written into the SQL as
    * `(k/1000.0 - 0.5)` component arithmetic so both engines compute
    * identical IEEE doubles. */
  private val embBands = 4
  private val embPlanes = 32
  private val embMaxBucket = 200
  private def qEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val injected = e.union(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Dedup.embeddingNearDups(injected, "vec_id", "embedding", 0.99,
      dims = 64, planes = embPlanes, bands = embBands, maxBucket = embMaxBucket)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine_r"))
  }
  private def planeSql(p: Int): String =
    (0 until 64).map(d => SimSearch.planeComponentSql(p, d, 64))
      .mkString("[", ", ", "]")
  private def bandKeySql(b: Int): String = {
    val r = embPlanes / embBands
    (0 until r).map { j =>
      val p = b * r + j
      s"(CASE WHEN list_dot_product(${planeSql(p)}, e) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
  }
  private val qEmbedNearDupSql = {
    val bandSelects = (0 until embBands).map(b =>
      s"SELECT vec_id, ${b} AS band, ${bandKeySql(b)} AS key FROM v")
      .mkString("\n  UNION ALL ")
    s"""WITH inj AS (SELECT vec_id, embedding FROM embeddings
       |    UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |v AS (SELECT vec_id, embedding::DOUBLE[] e FROM inj),
       |banded AS (
       |  $bandSelects),
       |${cappedSql("vec_id, band, key", "banded", "band", "key", embMaxBucket)},
       |cand AS (SELECT DISTINCT a.vec_id ia, b.vec_id ib
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
       |SELECT ia id_a, ib id_b,
       |       round(list_cosine_similarity(x.e, y.e), 4) cosine_r
       |FROM cand JOIN v x ON x.vec_id = ia JOIN v y ON y.vec_id = ib
       |WHERE list_cosine_similarity(x.e, y.e) >= 0.99""".stripMargin
  }

  /** JL random projection 64 -> 16 dims: one narrow map of 16 codegen
    * dots against literal grid planes; components rounded at 6 places
    * in BOTH engines (the established embed-oracle float discipline).
    * The face EXPLODES the projected vector to (vec_id, dim, comp_r)
    * rows: the compared output must not carry an array column — the
    * driver's pandas row-sort cannot order ndarray cells (r4: the
    * oracle crashed with "unhashable type" and the face went
    * unverified). The library API still returns the packed vector. */
  private def qRandomProj(s: SparkSession, dir: String): DataFrame =
    SimSearch.randomProject(emb(s, dir), "vec_id", "embedding",
      dims = 64, outDims = 16)
      .select(col("id").as("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        round(col("col"), 6).as("comp_r"))
  private val qRandomProjSql: String = {
    val branches = (0 until 16).map(p =>
      s"SELECT vec_id, CAST($p AS BIGINT) dim, " +
        s"round(list_dot_product(${planeSql(p)}, e), 6) comp_r FROM v")
      .mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings)
       |$branches""".stripMargin
  }

  /** SemDeDup (semantic dedup, Abbas et al. 2023): k-means-cluster the
    * embedding space (deterministic smallest-id centroids — the same
    * ones q_ann_ivf mirrors), pair only within clusters, keep pairs with
    * cosine >= 0.8. The cluster cap (500) rides the SAME capped-CTE
    * shape as every banded dedup oracle. Injected exact dups
    * (vec_id+100000 for vec_id%20=0) land in their original's cluster by
    * construction and verify at cosine ~1. */
  private val semNlist = 16
  private val semThreshold = 0.8
  private val semMaxCluster = 500
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val injected = e.union(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Dedup.semanticDedupPairs(injected, "vec_id", "embedding", semThreshold,
      nlist = semNlist, maxCluster = semMaxCluster)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine_r"))
  }
  private val qSemanticDedupSql =
    s"""WITH inj AS (SELECT vec_id, embedding FROM embeddings
       |    UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM inj),
       |cents AS (SELECT id cent_id, e ce FROM v ORDER BY id LIMIT $semNlist),
       |banded AS (SELECT id, 0 AS band, cent_id AS key FROM (
       |    SELECT v.id, c.cent_id,
       |      row_number() OVER (PARTITION BY v.id
       |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
       |    FROM v, cents c) WHERE rn = 1),
       |${cappedSql("id, band, key", "banded", "band", "key", semMaxCluster)},
       |cand AS (SELECT DISTINCT a.id ia, b.id ib
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       |SELECT ia id_a, ib id_b,
       |       round(list_dot_product(x.e, y.e), 4) cosine_r
       |FROM cand JOIN v x ON x.id = ia JOIN v y ON y.id = ib
       |WHERE list_dot_product(x.e, y.e) >= $semThreshold""".stripMargin

  /** ANN via hyperplane LSH. APPROXIMATE vs the true neighbors (recall
    * vs bruteTopK is asserted in SimSearchSpec) but fully DETERMINISTIC
    * as an algorithm — the hyperplanes are literal grid values
    * (IEEE-mirrored like q_embed_neardup), the multi-probe flip set is
    * fixed, and the rerank tie-breaks on id — so the whole algorithm is
    * oracle-checkable: the SQL mirror re-runs signature -> <=2-bit
    * multi-probe -> exact cosine rerank and must match rows/schema/hash
    * (closes VERDICT r5 Next #3; rows-only until round 6). */
  private val lshPlanes = 12
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      dims = 64, k = 5, planes = lshPlanes)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }
  private val qAnnLshSql: String = {
    // signature = sum over planes of (sign bit << p) on the NORMALIZED
    // vector — the identical arithmetic lshTopK codegens
    val sigSql = (0 until lshPlanes).map { p =>
      s"(CASE WHEN list_dot_product(${planeSql(p)}, e) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    // own bucket + all 1-bit and 2-bit flips (lshTopK's probe set)
    val flips: Seq[Long] = 0L +:
      ((0 until lshPlanes).map(p => 1L << p) ++
        (for (p1 <- 0 until lshPlanes; p2 <- (p1 + 1) until lshPlanes)
          yield (1L << p1) | (1L << p2)))
    s"""WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
       |sigs AS (SELECT id, e, $sigSql sig FROM v),
       |flips AS (SELECT unnest(${flips.mkString("[", ", ", "]")}) f),
       |probes AS (SELECT id query_id, e qe, xor(sig, f) psig
       |  FROM sigs, flips WHERE id < 10),
       |cand AS (SELECT p.query_id, s.id, list_dot_product(s.e, p.qe) cosine
       |  FROM sigs s JOIN probes p ON s.sig = p.psig AND s.id <> p.query_id),
       |ranked AS (SELECT query_id, id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, id ASC) rank FROM cand)
       |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank,
       |       round(cosine, 6) AS cosine_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Query-aware multi-probe LSH (Lv et al., VLDB 2007): q_ann_lsh
    * probes ALL 79 <=2-bit neighbor buckets; this face ranks each
    * query's perturbations by the paper's squared-margin score and
    * probes only the best `mpProbes` — the bounded-probe form that
    * keeps high-plane codes usable at scale. Same determinism story as
    * q_ann_lsh (grid-literal hyperplanes, total perturbation order
    * score ASC/mask ASC, total rerank order), so the full algorithm —
    * margins, perturbation ranking, probe set, rerank — is mirrored in
    * SQL and must match rows/schema/hash. SimSearchSpec additionally
    * pins the exactness anchor: T = all masks reproduces lshTopK
    * bit-for-bit. */
  private val mpProbes = 8
  /** Streaming multi-probe retrieval (VERDICT r14 Next #7, the 20th
    * streaming face): q_ann_lsh_multiprobe's query set arrives as a
    * 3-chunk micro-batch stream (maxFilesPerTrigger=1, the crawl-dedup
    * staging discipline) and each batch probes the static embeddings
    * corpus through StreamProfile.annRetrieveStream. Retrieval is
    * per-query pure, so the appended results are bit-identical to the
    * batch face however the stream is chopped — the oracle IS the
    * batch face's SQL, which makes chunking invariance itself the
    * hash-gated contract. */
  private def qStreamAnn(s: SparkSession, dir: String): DataFrame = {
    val corpus = emb(s, dir)
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    withStagedDocChunksStream(s, dir, queries, "graft_ann_stream",
        keep = true) { (stream, base) =>
      val out = base.resolve("ann").toString
      graft.streaming.StreamProfile.annRetrieveStream(
        stream.select(col("doc_id").as("vec_id"), col("embedding")),
        corpus, "vec_id", "embedding", out, dims = 64, k = 5,
        planes = lshPlanes, tProbes = mpProbes)
      s.read.parquet(out)
    }
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  private def qAnnLshMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.lshMultiProbeTopK(e, e.filter(col("vec_id") < 10), "vec_id",
      "embedding", dims = 64, k = 5, planes = lshPlanes, tProbes = mpProbes)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }
  private val qAnnLshMultiprobeSql: String = {
    val sigSql = (0 until lshPlanes).map { p =>
      s"(CASE WHEN list_dot_product(${planeSql(p)}, e) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    // per-plane signed margins on the normalized vector — the identical
    // dots lshMultiProbeTopK codegens
    val marginCols = (0 until lshPlanes).map { p =>
      s"list_dot_product(${planeSql(p)}, e) m$p"
    }.mkString(", ")
    // one UNION ALL arm per candidate mask, score = sum of m_p*m_p over
    // flipped planes in ascending p order (the Spark reduce order)
    val arms = SimSearch.flipMasks(lshPlanes).map { mask =>
      val score = (0 until lshPlanes).filter(p => (mask & (1L << p)) != 0L)
        .map(p => s"m$p*m$p").mkString(" + ")
      s"SELECT query_id, CAST($mask AS BIGINT) mask, $score score FROM qm"
    }.mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
       |sigs AS (SELECT id, e, $sigSql sig FROM v),
       |qm AS (SELECT id query_id, e qe, sig qsig, $marginCols
       |  FROM sigs WHERE id < 10),
       |pert AS ($arms),
       |topt AS (SELECT query_id, mask FROM (
       |    SELECT query_id, mask, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score ASC, mask ASC) rn FROM pert) WHERE rn <= $mpProbes),
       |probes AS (SELECT q.query_id, q.qe, xor(q.qsig, t.mask) psig
       |    FROM qm q JOIN topt t ON q.query_id = t.query_id
       |  UNION ALL SELECT query_id, qe, qsig FROM qm),
       |cand AS (SELECT p.query_id, s.id, list_dot_product(s.e, p.qe) cosine
       |  FROM sigs s JOIN probes p ON s.sig = p.psig AND s.id <> p.query_id),
       |ranked AS (SELECT query_id, id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, id ASC) rank FROM cand)
       |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank,
       |       round(cosine, 6) AS cosine_r
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** IVF-Flat ANN — fully deterministic (centroids = smallest-id corpus
    * sample, argmax-dot assignment with id tie-break), so unlike the LSH
    * path it IS oracle-checkable in SQL. Ships ONE spherical-k-means
    * (Lloyd) refinement round (VERDICT r2 item 6): per-list mean rounded
    * to 6 decimals before renormalization so both engines derive
    * bit-identical centroids (rounding absorbs the engines' different
    * double summation orders — the same trick as the mirrored
    * hyperplanes); the oracle re-runs the round as two CTE layers. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4, lloydRounds = 1, meanRound = 6)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }
  private val qAnnIvfSql =
    """WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
      |cents0 AS (SELECT id cent_id, e ce FROM v ORDER BY id LIMIT 16),
      |asg0 AS (SELECT id, e, cent_id AS list_id FROM (
      |    SELECT v.id, v.e, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents0 c) WHERE rn = 1),
      |mx AS (SELECT list_id, generate_subscripts(e, 1) d, unnest(e) x FROM asg0),
      |mm AS (SELECT list_id, d, round(sum(x) / count(*), 6) m FROM mx GROUP BY 1, 2),
      |mv AS (SELECT list_id, list(m ORDER BY d) mvec FROM mm GROUP BY 1),
      |cents AS (SELECT c.cent_id, CASE WHEN mv.list_id IS NULL THEN c.ce
      |    ELSE list_transform(mvec, x -> x / sqrt(list_dot_product(mvec, mvec))) END ce
      |  FROM cents0 c LEFT JOIN mv ON c.cent_id = mv.list_id),
      |asg AS (SELECT id, e, cent_id AS list_id FROM (
      |    SELECT v.id, v.e, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c) WHERE rn = 1),
      |qs AS (SELECT id query_id, e qe, cent_id AS list_id FROM (
      |    SELECT v.id, v.e, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c WHERE v.id < 10) WHERE rn <= 4),
      |cand AS (SELECT q.query_id, a.id, list_dot_product(a.e, q.qe) cosine
      |  FROM asg a JOIN qs q ON a.list_id = q.list_id AND a.id <> q.query_id),
      |ranked AS (SELECT query_id, id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id ASC) rank
      |  FROM (SELECT DISTINCT query_id, id, cosine FROM cand))
      |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank,
      |       round(cosine, 6) AS cosine_r
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** Full spherical k-means training (SimSearch.kmeansFit): 3 Lloyd
    * rounds over the embedding corpus, reporting per-cluster size +
    * inertia. Fully deterministic (smallest-id seeds, argmax-dot
    * assignment with id tie-break, means rounded at 6 before
    * renormalization — the qAnnIvf discipline); the oracle unrolls each
    * round as CTE layers exactly like qPageRankSql unrolls its
    * iterations, then mirrors the distance-term rounding + decimal
    * inertia sums. */
  private val kmRounds = 3
  private def qKmeansFit(s: SparkSession, dir: String): DataFrame =
    SimSearch.kmeansFit(emb(s, dir), "vec_id", "embedding",
      k = 16, rounds = kmRounds, meanRound = 6)
  /** Shared WITH-body prefix for the k-means-trained oracles
    * (qKmeansFitSql, qClusterSampleSql): normalized vectors, smallest-id
    * seeds, `rounds` unrolled Lloyd layers, final assignment
    * `asg$rounds` against `cents$rounds`. */
  private def kmeansCtesSql(rounds: Int): String = {
    def asg(r: Int): String =
      s"""asg$r AS (SELECT id, e, cent_id AS list_id FROM (
         |    SELECT v.id, v.e, c.cent_id,
         |      row_number() OVER (PARTITION BY v.id
         |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
         |    FROM v, cents$r c) WHERE rn = 1)""".stripMargin
    val layers = (0 until rounds).map { r =>
      s"""${asg(r)},
         |mx$r AS (SELECT list_id, generate_subscripts(e, 1) d, unnest(e) x FROM asg$r),
         |mm$r AS (SELECT list_id, d, round(sum(x) / count(*), 6) m FROM mx$r GROUP BY 1, 2),
         |mv$r AS (SELECT list_id, list(m ORDER BY d) mvec FROM mm$r GROUP BY 1),
         |cents${r + 1} AS (SELECT c.cent_id, CASE WHEN mv.list_id IS NULL THEN c.ce
         |    ELSE list_transform(mvec, x -> x / sqrt(list_dot_product(mvec, mvec))) END ce
         |  FROM cents$r c LEFT JOIN mv$r mv ON c.cent_id = mv.list_id)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
       |cents0 AS (SELECT id cent_id, e ce FROM v ORDER BY id LIMIT 16),
       |$layers,
       |${asg(rounds)}""".stripMargin
  }
  private val qKmeansFitSql: String = {
    s"""WITH ${kmeansCtesSql(kmRounds)},
       |fin AS (SELECT a.list_id,
       |    round(1.0 - list_dot_product(a.e, c.ce), 8) term
       |  FROM asg$kmRounds a JOIN cents$kmRounds c ON a.list_id = c.cent_id),
       |stats AS (SELECT list_id, count(*) n_vecs,
       |    CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE) isum
       |  FROM fin GROUP BY 1)
       |SELECT c.cent_id cluster_id, COALESCE(n_vecs, CAST(0 AS BIGINT)) n_vecs,
       |  round(isum, 6) inertia_r
       |FROM cents$kmRounds c LEFT JOIN stats s ON c.cent_id = s.list_id""".stripMargin
  }

  /** IVF ANN under the AUTO production sizing (VERDICT r10 Next #1):
    * `nlist <= 0` derives max(16, round(sqrt(n))) from one corpus
    * count — 22 lists at the 500-vector fixtures, 45 at sf0.1's 2000 —
    * so the oracle re-derives the same size with a scalar subquery
    * instead of a literal LIMIT (the one structural difference from
    * qAnnIvfSql; everything downstream is the identical chain). This
    * face pins that the auto default IS the documented formula at
    * every fixture scale, not just in a unit test. */
  private def qAnnIvfAuto(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nlist = 0, nprobe = 4, lloydRounds = 1, meanRound = 6)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }
  private val qAnnIvfAutoSql =
    """WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
      |cents0 AS (SELECT id cent_id, e ce FROM (
      |    SELECT id, e, row_number() OVER (ORDER BY id) rn FROM v)
      |  WHERE rn <= GREATEST(16,
      |    CAST(round(sqrt((SELECT count(*) FROM v)), 0) AS BIGINT))),
      |asg0 AS (SELECT id, e, cent_id AS list_id FROM (
      |    SELECT v.id, v.e, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents0 c) WHERE rn = 1),
      |mx AS (SELECT list_id, generate_subscripts(e, 1) d, unnest(e) x FROM asg0),
      |mm AS (SELECT list_id, d, round(sum(x) / count(*), 6) m FROM mx GROUP BY 1, 2),
      |mv AS (SELECT list_id, list(m ORDER BY d) mvec FROM mm GROUP BY 1),
      |cents AS (SELECT c.cent_id, CASE WHEN mv.list_id IS NULL THEN c.ce
      |    ELSE list_transform(mvec, x -> x / sqrt(list_dot_product(mvec, mvec))) END ce
      |  FROM cents0 c LEFT JOIN mv ON c.cent_id = mv.list_id),
      |asg AS (SELECT id, e, cent_id AS list_id FROM (
      |    SELECT v.id, v.e, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c) WHERE rn = 1),
      |qs AS (SELECT id query_id, e qe, cent_id AS list_id FROM (
      |    SELECT v.id, v.e, c.cent_id,
      |      row_number() OVER (PARTITION BY v.id
      |        ORDER BY list_dot_product(v.e, c.ce) DESC, c.cent_id ASC) rn
      |    FROM v, cents c WHERE v.id < 10) WHERE rn <= 4),
      |cand AS (SELECT q.query_id, a.id, list_dot_product(a.e, q.qe) cosine
      |  FROM asg a JOIN qs q ON a.list_id = q.list_id AND a.id <> q.query_id),
      |ranked AS (SELECT query_id, id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, id ASC) rank
      |  FROM (SELECT DISTINCT query_id, id, cosine FROM cand))
      |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank,
      |       round(cosine, 6) AS cosine_r
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** Binary (sign) quantized ANN (SimSearch.binaryTopK): 64 float dims
    * -> two 32-bit code words (32x compression), Hamming scan selects
    * 40 candidates per query (hamming ASC, id ASC), exact cosine
    * reranks the top 5. The oracle rebuilds the identical codes
    * (32-bits-per-word packing is chosen PRECISELY so DuckDB can — see
    * binaryQuantize scaladoc), mirrors the integer Hamming via
    * xor+bit_count, and replays both deterministic rankings. */
  private def qAnnBinary(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.binaryTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, rerank = 40)
  }
  private val qAnnBinarySql =
    """WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
      |codes AS (SELECT id, list_transform(range(2), w ->
      |    CAST(list_sum(list_transform(range(32), i ->
      |      CASE WHEN e[CAST(w*32+i+1 AS INT)] >= 0
      |        THEN (1::BIGINT << CAST(i AS INT)) ELSE 0::BIGINT END)) AS BIGINT)) c
      |  FROM v),
      |qc AS (SELECT id query_id, c qcode FROM codes WHERE id < 10),
      |ham AS (SELECT q.query_id, c.id,
      |    CAST(list_sum(list_transform(range(2), w ->
      |      CAST(bit_count(xor(c.c[CAST(w+1 AS INT)], q.qcode[CAST(w+1 AS INT)])) AS BIGINT))) AS INT) hamming
      |  FROM codes c, qc q WHERE c.id <> q.query_id),
      |cand AS (SELECT query_id, id, hamming FROM (
      |    SELECT query_id, id, hamming, row_number() OVER (PARTITION BY query_id
      |      ORDER BY hamming ASC, id ASC) rh FROM ham) WHERE rh <= 40),
      |rer AS (SELECT ca.query_id, ca.id, ca.hamming,
      |    list_dot_product(a.e, b.e) cosine
      |  FROM cand ca JOIN v a ON a.id = ca.id JOIN v b ON b.id = ca.query_id)
      |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank, hamming,
      |  round(cosine, 6) cosine_r
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, id ASC) rank FROM rer)
      |WHERE rank <= 5""".stripMargin

  /** ASYMMETRIC binary ANN (SimSearch.binaryTopK(asymmetric=true)):
    * float query x 1-bit corpus — candidates ranked by
    * dot(q, decode(code))/sqrt(d) instead of symmetric Hamming, same
    * 8-byte storage, better ordering (FAISS ADC applied to 1-bit
    * codes). The oracle rebuilds the codes, extracts each bit with
    * shift/mask, folds the signed query components in index order and
    * mirrors the round@8 candidate cut. The hamming column is dropped
    * (it is not computed on this path). */
  private def qAnnBinaryAsym(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.binaryTopK(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, rerank = 40, asymmetric = true)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cosine_r"))
  }
  private val qAnnBinaryAsymSql =
    """WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
      |codes AS (SELECT id, list_transform(range(2), w ->
      |    CAST(list_sum(list_transform(range(32), i ->
      |      CASE WHEN e[CAST(w*32+i+1 AS INT)] >= 0
      |        THEN (1::BIGINT << CAST(i AS INT)) ELSE 0::BIGINT END)) AS BIGINT)) c
      |  FROM v),
      |qv AS (SELECT id query_id, e qe FROM v WHERE id < 10),
      |est AS (SELECT q.query_id, c.id,
      |    round(list_sum(list_transform(range(64), i ->
      |      CASE WHEN ((c.c[CAST(i // 32 + 1 AS INT)] >> CAST(i % 32 AS INT)) & 1) = 1
      |        THEN q.qe[CAST(i + 1 AS INT)]
      |        ELSE -q.qe[CAST(i + 1 AS INT)] END)) / 8.0, 8) est
      |  FROM codes c, qv q WHERE c.id <> q.query_id),
      |cand AS (SELECT query_id, id FROM (
      |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
      |      ORDER BY est DESC, id ASC) rh FROM est) WHERE rh <= 40),
      |rer AS (SELECT ca.query_id, ca.id, list_dot_product(a.e, b.qe) cosine
      |  FROM cand ca JOIN v a ON a.id = ca.id
      |  JOIN qv b ON b.query_id = ca.query_id)
      |SELECT query_id, id AS neighbor_id, CAST(rank AS INT) rank,
      |  round(cosine, 6) cosine_r
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, id ASC) rank FROM rer)
      |WHERE rank <= 5""".stripMargin

  /** MMR diversity rerank (SimSearch.mmrRerank, Carbonell-Goldstein):
    * top-20 exact pool per query, 5 greedy MMR rounds at lambda=0.5 —
    * chosen DELIBERATELY: 0.5 and 1-0.5 are both exact in binary, so
    * the two engines compute bit-identical MMR scores (0.7 would make
    * Spark's `1.0-lambda` and DuckDB's decimal literal differ in the
    * last ulp and lean on the round@8 to absorb it). The oracle unrolls
    * the greedy loop as one (max-sim agg vs picked) -> (anti-join) ->
    * (argmax) CTE layer per round — the qKcenterSql discipline. */
  private def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.mmrRerank(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, poolSize = 20, lambda = 0.5)
  }
  private val qMmrRerankSql: String = {
    val rounds = (2 to 5).map { t =>
      s"""m$t AS (SELECT s.query_id, s.id_a id, max(s.sim) max_sim
         |  FROM sims s JOIN pk${t - 1} p
         |    ON p.query_id = s.query_id AND p.id = s.id_b
         |  GROUP BY 1, 2),
         |c$t AS (SELECT po.query_id, po.id,
         |    round(0.5 * po.rel - 0.5 * COALESCE(m.max_sim, 0.0), 8) mmr
         |  FROM pool po LEFT JOIN m$t m
         |    ON m.query_id = po.query_id AND m.id = po.id
         |  WHERE NOT EXISTS (SELECT 1 FROM pk${t - 1} p
         |    WHERE p.query_id = po.query_id AND p.id = po.id)),
         |p$t AS (SELECT query_id, id, $t rank FROM (
         |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr DESC, id ASC) rn FROM c$t) WHERE rn = 1),
         |pk$t AS (SELECT query_id, id FROM pk${t - 1}
         |  UNION ALL SELECT query_id, id FROM p$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
       |pool AS (SELECT query_id, id, rel FROM (
       |    SELECT q.id query_id, c.id id, list_dot_product(c.e, q.e) rel,
       |      row_number() OVER (PARTITION BY q.id
       |        ORDER BY list_dot_product(c.e, q.e) DESC, c.id ASC) rn
       |    FROM v c JOIN v q ON q.id < 10 AND c.id <> q.id) WHERE rn <= 20),
       |sims AS MATERIALIZED (SELECT a.query_id, a.id id_a, b.id id_b,
       |    list_dot_product(va.e, vb.e) sim
       |  FROM pool a JOIN pool b
       |    ON a.query_id = b.query_id AND a.id <> b.id
       |  JOIN v va ON va.id = a.id JOIN v vb ON vb.id = b.id),
       |p1 AS (SELECT query_id, id, 1 rank FROM (
       |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(0.5 * rel, 8) DESC, id ASC) rn FROM pool)
       |  WHERE rn = 1),
       |pk1 AS (SELECT query_id, id FROM p1),
       |$rounds,
       |allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
       |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
       |  UNION ALL SELECT * FROM p5)
       |SELECT a.query_id, a.id doc_id, CAST(a.rank AS INT) rank,
       |  round(po.rel, 6) rel_r
       |FROM allp a JOIN pool po
       |  ON po.query_id = a.query_id AND po.id = a.id""".stripMargin
  }

  /** Matryoshka truncation agreement (SimSearch.matryoshkaAgreement):
    * overlap@5 of prefix-truncated (8/16/32-dim) search vs the full
    * 64-dim top-5, per query — the adaptive-retrieval safety
    * measurement. The oracle re-derives each truncated ranking from a
    * list-sliced renormalized CTE and counts the set intersections. */
  private def qMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.matryoshkaAgreement(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dPrimes = Seq(8, 16, 32))
  }
  private val qMatryoshkaSql: String = {
    def rankCte(name: String, vsrc: String): String =
      s"""$name AS (SELECT query_id, id FROM (
         |    SELECT q.id query_id, c.id id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY list_dot_product(c.e, q.e) DESC, c.id ASC) rn
         |    FROM $vsrc c JOIN $vsrc q ON q.id < 10 AND c.id <> q.id)
         |  WHERE rn <= 5)""".stripMargin
    val dims = Seq(8, 16, 32)
    val truncCtes = dims.map { d =>
      s"""v$d AS (SELECT id, CASE WHEN sqrt(list_dot_product(t, t)) > 0
         |    THEN list_transform(t, x -> x / sqrt(list_dot_product(t, t)))
         |    ELSE t END e FROM (
         |  SELECT vec_id id, (embedding::DOUBLE[])[1:$d] t FROM embeddings)),
         |${rankCte(s"t$d", s"v$d")},
         |o$d AS (SELECT q.query_id, $d d_prime, COALESCE(x.cnt, 0) n_overlap
         |  FROM (SELECT DISTINCT query_id FROM tf) q LEFT JOIN (
         |    SELECT t.query_id, CAST(count(*) AS INT) cnt FROM t$d t
         |    JOIN tf f ON f.query_id = t.query_id AND f.id = t.id
         |    GROUP BY 1) x ON x.query_id = q.query_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
       |${rankCte("tf", "v")},
       |$truncCtes,
       |u AS (SELECT * FROM o8 UNION ALL SELECT * FROM o16
       |  UNION ALL SELECT * FROM o32)
       |SELECT CAST(d_prime AS INT) d_prime, query_id,
       |  CAST(n_overlap AS INT) n_overlap,
       |  round(n_overlap / 5.0, 4) agreement_r
       |FROM u""".stripMargin
  }

  /** k-means with SAMPLED Lloyd training (VERDICT r10 Next #1): the
    * production path where refinement sees only the smallest-id prefix
    * (trainPerCentroid=32 x k=4 = 128 of the >= 500 fixture vectors —
    * BELOW every fixture scale, so the sampling branch is genuinely
    * exercised cross-engine) while the final assignment + inertia run
    * over the FULL corpus. The oracle trains its Lloyd layers over the
    * same 128-id prefix CTE and assigns over v — any divergence between
    * "what Lloyd saw" in the two engines fails the hash. */
  private def qKmeansSampled(s: SparkSession, dir: String): DataFrame =
    SimSearch.kmeansFit(emb(s, dir), "vec_id", "embedding",
      k = 4, rounds = 2, meanRound = 6, trainPerCentroid = 32)
  private val qKmeansSampledSql: String = {
    def asg(r: Int, src: String): String =
      s"""asg$r AS (SELECT id, e, cent_id AS list_id FROM (
         |    SELECT s.id, s.e, c.cent_id,
         |      row_number() OVER (PARTITION BY s.id
         |        ORDER BY list_dot_product(s.e, c.ce) DESC, c.cent_id ASC) rn
         |    FROM $src s, cents$r c) WHERE rn = 1)""".stripMargin
    val layers = (0 until 2).map { r =>
      s"""${asg(r, "t")},
         |mx$r AS (SELECT list_id, generate_subscripts(e, 1) d, unnest(e) x FROM asg$r),
         |mm$r AS (SELECT list_id, d, round(sum(x) / count(*), 6) m FROM mx$r GROUP BY 1, 2),
         |mv$r AS (SELECT list_id, list(m ORDER BY d) mvec FROM mm$r GROUP BY 1),
         |cents${r + 1} AS (SELECT c.cent_id, CASE WHEN mv.list_id IS NULL THEN c.ce
         |    ELSE list_transform(mvec, x -> x / sqrt(list_dot_product(mvec, mvec))) END ce
         |  FROM cents$r c LEFT JOIN mv$r mv ON c.cent_id = mv.list_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id id, list_transform(embedding::DOUBLE[], x -> x /
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
       |t AS (SELECT id, e FROM v ORDER BY id LIMIT 128),
       |cents0 AS (SELECT id cent_id, e ce FROM v ORDER BY id LIMIT 4),
       |$layers,
       |${asg(2, "v")},
       |fin AS (SELECT a.list_id,
       |    round(1.0 - list_dot_product(a.e, c.ce), 8) term
       |  FROM asg2 a JOIN cents2 c ON a.list_id = c.cent_id),
       |stats AS (SELECT list_id, count(*) n_vecs,
       |    CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE) isum
       |  FROM fin GROUP BY 1)
       |SELECT c.cent_id cluster_id, COALESCE(n_vecs, CAST(0 AS BIGINT)) n_vecs,
       |  round(isum, 6) inertia_r
       |FROM cents2 c LEFT JOIN stats s ON c.cent_id = s.list_id""".stripMargin
  }

  /** Cluster-balanced diversity selection (SimSearch.clusterSample):
    * the 8 most-central members of each of the 16 trained clusters —
    * even coverage of the embedding space for a prototype set. Shares
    * the kmeansCtesSql training chain with q_kmeans_fit. */
  private def qClusterSample(s: SparkSession, dir: String): DataFrame =
    SimSearch.clusterSample(emb(s, dir), "vec_id", "embedding",
      perCluster = 8, k = 16, rounds = kmRounds, meanRound = 6)
      .select(col("cluster_id"), col("id").as("vec_id"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  private val qClusterSampleSql: String =
    s"""WITH ${kmeansCtesSql(kmRounds)},
       |fin AS (SELECT a.id, a.list_id, list_dot_product(a.e, c.ce) cosine
       |  FROM asg$kmRounds a JOIN cents$kmRounds c ON a.list_id = c.cent_id),
       |ranked AS (SELECT list_id, id, cosine,
       |    row_number() OVER (PARTITION BY list_id
       |      ORDER BY cosine DESC, id ASC) rank FROM fin)
       |SELECT list_id cluster_id, id vec_id, CAST(rank AS INT) rank,
       |  round(cosine, 6) cosine_r
       |FROM ranked WHERE rank <= 8""".stripMargin

  /** Greedy k-center selection (SimSearch.kCenterSelect): 8 rounds of
    * farthest-point traversal over the embedding corpus, coverage
    * radius per round. The oracle unrolls each round as MATERIALIZED
    * center/min-dist CTE layers. */
  private val kcsK = 8
  private def qKcenter(s: SparkSession, dir: String): DataFrame =
    SimSearch.kCenterSelect(emb(s, dir), "vec_id", "embedding", k = kcsK)
  private val qKcenterSql: String = {
    val layers = (2 to kcsK).map { t =>
      s"""c$t AS MATERIALIZED (SELECT id, e FROM m${t - 1}
         |  ORDER BY md DESC, id ASC LIMIT 1),
         |m$t AS MATERIALIZED (SELECT id, e,
         |    least(md, 1.0 - list_dot_product(e, (SELECT e FROM c$t))) md
         |  FROM m${t - 1})""".stripMargin
    }.mkString(",\n")
    val rows = (1 to kcsK).map { t =>
      s"""SELECT $t rank, (SELECT id FROM c$t) id,
         |  round((SELECT max(md) FROM m$t), 6) radius_r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS MATERIALIZED (SELECT vec_id id,
       |    list_transform(embedding::DOUBLE[], x -> x /
       |      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e
       |  FROM embeddings),
       |c1 AS MATERIALIZED (SELECT id, e FROM v ORDER BY id LIMIT 1),
       |m1 AS MATERIALIZED (SELECT id, e,
       |    1.0 - list_dot_product(e, (SELECT e FROM c1)) md FROM v),
       |$layers
       |$rows""".stripMargin
  }

  /** k-NN graph over the embedding corpus via the trained IVF clusters
    * (SimSearch.knnGraph): each vector's 5 most-similar cluster-mates.
    * Shares the kmeansCtesSql training chain; the oracle mirrors the
    * mega-cluster cap and the within-cluster ranking exactly. */
  private def qKnnGraph(s: SparkSession, dir: String): DataFrame =
    SimSearch.knnGraph(emb(s, dir), "vec_id", "embedding",
      kNbrs = 5, k = 16, rounds = kmRounds, meanRound = 6,
      maxCluster = 1000)
  private val qKnnGraphSql: String =
    s"""WITH ${kmeansCtesSql(kmRounds)},
       |sz AS (SELECT list_id, count(*) cs FROM asg$kmRounds GROUP BY 1),
       |cp AS (SELECT a.id, a.e, a.list_id FROM asg$kmRounds a
       |  JOIN sz USING (list_id) WHERE cs <= 1000),
       |pr AS (SELECT a.id ia, b.id ib, list_dot_product(a.e, b.e) cosine
       |  FROM cp a JOIN cp b ON a.list_id = b.list_id AND a.id <> b.id),
       |rk AS (SELECT ia, ib, cosine,
       |    row_number() OVER (PARTITION BY ia
       |      ORDER BY cosine DESC, ib ASC) rank FROM pr)
       |SELECT ia src_id, ib nbr_id, CAST(rank AS INT) rank,
       |  round(cosine, 6) cosine_r
       |FROM rk WHERE rank <= 5""".stripMargin

  /** Graph ANN: deterministic beam search over the q_knn_graph edges
    * (SimSearch.graphBeamSearch — the HNSW/NSW search core; VERDICT r9
    * Next #7). Entry points = one per capped cluster (the within-cluster
    * graph is disconnected across clusters, so per-component doorways
    * are load-bearing — the SPANN partition-entry design), 3 fixed
    * expansion hops at beam 8, answer = top-5 of everything visited.
    * The oracle replays the identical walk: the q_knn_graph edge chain,
    * then one (expand via edges) -> (anti-join visited) -> (score) ->
    * (re-rank top-beam) CTE layer per hop — fixed hops make the
    * data-dependent loop SQL-expressible, the qBpeTrainSql discipline. */
  private def qAnnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.graphBeamSearch(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, beam = 8, hops = 3,
      kNbrs = 5, nlist = 16, rounds = kmRounds, meanRound = 6,
      maxCluster = 1000)
  }
  private val qAnnGraphSql: String = {
    val hopLayers = (1 to 3).map { h =>
      s"""nx$h AS MATERIALIZED (SELECT DISTINCT b.query_id, ed.nbr cand_id
         |  FROM b${h - 1} b JOIN ed ON ed.src = b.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${h - 1} t
         |      WHERE t.query_id = b.query_id AND t.cand_id = ed.nbr)),
         |sc$h AS (SELECT n.query_id, n.cand_id,
         |    round(list_dot_product(q.qv, cv.e), 8) cos
         |  FROM nx$h n JOIN qq q ON q.query_id = n.query_id
         |  JOIN v cv ON cv.id = n.cand_id),
         |vis$h AS MATERIALIZED (SELECT * FROM vis${h - 1} UNION ALL SELECT * FROM sc$h),
         |ex$h AS MATERIALIZED (SELECT query_id, cand_id FROM ex${h - 1}
         |  UNION ALL SELECT query_id, cand_id FROM b${h - 1}),
         |b$h AS MATERIALIZED (SELECT query_id, cand_id FROM (SELECT w.*, row_number() OVER (
         |    PARTITION BY w.query_id ORDER BY w.cos DESC, w.cand_id ASC) rn
         |  FROM vis$h w WHERE NOT EXISTS (SELECT 1 FROM ex$h x
         |    WHERE x.query_id = w.query_id AND x.cand_id = w.cand_id))
         |  WHERE rn <= 8)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${kmeansCtesSql(kmRounds)},
       |sz AS (SELECT list_id, count(*) cs FROM asg$kmRounds GROUP BY 1),
       |cp AS (SELECT a.id, a.e, a.list_id FROM asg$kmRounds a
       |  JOIN sz USING (list_id) WHERE cs <= 1000),
       |pr AS (SELECT a.id ia, b.id ib, list_dot_product(a.e, b.e) cosine
       |  FROM cp a JOIN cp b ON a.list_id = b.list_id AND a.id <> b.id),
       |rk AS (SELECT ia, ib,
       |    row_number() OVER (PARTITION BY ia ORDER BY cosine DESC, ib ASC) rank
       |  FROM pr),
       |ed AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
       |  SELECT ia src, ib nbr FROM rk WHERE rank <= 5
       |  UNION ALL SELECT ib src, ia nbr FROM rk WHERE rank <= 5)),
       |qq AS MATERIALIZED (SELECT id query_id, e qv FROM v WHERE id < 10),
       |ep AS MATERIALIZED (SELECT min(id) cand_id FROM cp GROUP BY list_id),
       |vis0 AS MATERIALIZED (SELECT q.query_id, p.cand_id,
       |    round(list_dot_product(q.qv, cv.e), 8) cos
       |  FROM qq q CROSS JOIN ep p JOIN v cv ON cv.id = p.cand_id),
       |ex0 AS (SELECT query_id, cand_id FROM vis0 WHERE 1 = 0),
       |b0 AS MATERIALIZED (SELECT query_id, cand_id FROM (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) rn FROM vis0)
       |  WHERE rn <= 8),
       |$hopLayers
       |SELECT query_id, cand_id neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, cand_id ASC) AS INT) rank,
       |  round(cos, 6) cosine_r
       |FROM vis3 WHERE cand_id <> query_id
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, cand_id ASC) <= 5""".stripMargin
  }

  /** Graph ANN with ADAPTIVE STOP — the production default's
    * termination rule (SimSearch.graphBeamSearch adaptiveStop=true;
    * VERDICT r11 Next #5), cross-engine gated instead of spec-only:
    * the walk stops at the first hop whose fresh candidates improve NO
    * query's top-k (some query holding < k answers, or a fresh cosine
    * STRICTLY beating that query's kth-best — the HNSW termination
    * heuristic), with a generous hop cap of 5 so the stop predicate
    * genuinely engages at every fixture scale. The oracle unrolls the
    * same fixed hop layers as q_ann_graph, then mirrors the stop
    * predicate per hop: kh$h = each query's kth-best over the PRIOR
    * visited set, imp$h = EXISTS a fresh scored candidate beating it
    * (the NOT-EXISTS improvement check), stop = the first
    * non-improving hop, answer = top-5 of the visited set AT the stop
    * hop (the last, non-improving hop's candidates are already merged
    * — they can swap equal-cosine membership on the id tie-break,
    * exactly like the Scala loop that unions fresh before testing). */
  private def qAnnGraphAdaptive(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.graphBeamSearch(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, beam = 8, hops = 5,
      kNbrs = 5, nlist = 16, rounds = kmRounds, meanRound = 6,
      maxCluster = 1000, adaptiveStop = true)
  }
  private val qAnnGraphAdaptiveSql: String = {
    val H = 5
    val hopLayers = (1 to H).map { h =>
      // kh/imp mirror the stop predicate, which is only CONSULTED for
      // hops 1..H-1 (the ELSE branch lands on hop H regardless) — so the
      // final hop emits neither (ADVICE r12: a MATERIALIZED imp5 made
      // the oracle score hop 5's improvement check it never reads)
      val stopCtes = if (h < H)
        s"""kh$h AS (SELECT query_id, min(cos) kth, count(*) cnt FROM (
           |    SELECT query_id, cand_id, cos, row_number() OVER (
           |      PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) rn
           |    FROM vis${h - 1} WHERE cand_id <> query_id)
           |  WHERE rn <= 5 GROUP BY 1),
           |imp$h AS MATERIALIZED (SELECT EXISTS (
           |    SELECT 1 FROM sc$h f LEFT JOIN kh$h k USING (query_id)
           |    WHERE k.kth IS NULL OR k.cnt < 5 OR f.cos > k.kth) improved),
           |""".stripMargin
      else ""
      s"""nx$h AS MATERIALIZED (SELECT DISTINCT b.query_id, ed.nbr cand_id
         |  FROM b${h - 1} b JOIN ed ON ed.src = b.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${h - 1} t
         |      WHERE t.query_id = b.query_id AND t.cand_id = ed.nbr)),
         |sc$h AS MATERIALIZED (SELECT n.query_id, n.cand_id,
         |    round(list_dot_product(q.qv, cv.e), 8) cos
         |  FROM nx$h n JOIN qq q ON q.query_id = n.query_id
         |  JOIN v cv ON cv.id = n.cand_id),
         |${stopCtes}vis$h AS MATERIALIZED (SELECT * FROM vis${h - 1} UNION ALL SELECT * FROM sc$h),
         |ex$h AS MATERIALIZED (SELECT query_id, cand_id FROM ex${h - 1}
         |  UNION ALL SELECT query_id, cand_id FROM b${h - 1}),
         |b$h AS MATERIALIZED (SELECT query_id, cand_id FROM (SELECT w.*, row_number() OVER (
         |    PARTITION BY w.query_id ORDER BY w.cos DESC, w.cand_id ASC) rn
         |  FROM vis$h w WHERE NOT EXISTS (SELECT 1 FROM ex$h x
         |    WHERE x.query_id = w.query_id AND x.cand_id = w.cand_id))
         |  WHERE rn <= 8)""".stripMargin
    }.mkString(",\n")
    val stopCases = (1 until H).map { h =>
      s"WHEN NOT (SELECT improved FROM imp$h) THEN $h" }.mkString(" ")
    val allVis = (1 to H).map { h =>
      s"SELECT $h h, query_id, cand_id, cos FROM vis$h" }
      .mkString("\n  UNION ALL ")
    s"""WITH ${kmeansCtesSql(kmRounds)},
       |sz AS (SELECT list_id, count(*) cs FROM asg$kmRounds GROUP BY 1),
       |cp AS (SELECT a.id, a.e, a.list_id FROM asg$kmRounds a
       |  JOIN sz USING (list_id) WHERE cs <= 1000),
       |pr AS (SELECT a.id ia, b.id ib, list_dot_product(a.e, b.e) cosine
       |  FROM cp a JOIN cp b ON a.list_id = b.list_id AND a.id <> b.id),
       |rk AS (SELECT ia, ib,
       |    row_number() OVER (PARTITION BY ia ORDER BY cosine DESC, ib ASC) rank
       |  FROM pr),
       |ed AS MATERIALIZED (SELECT DISTINCT src, nbr FROM (
       |  SELECT ia src, ib nbr FROM rk WHERE rank <= 5
       |  UNION ALL SELECT ib src, ia nbr FROM rk WHERE rank <= 5)),
       |qq AS MATERIALIZED (SELECT id query_id, e qv FROM v WHERE id < 10),
       |ep AS MATERIALIZED (SELECT min(id) cand_id FROM cp GROUP BY list_id),
       |vis0 AS MATERIALIZED (SELECT q.query_id, p.cand_id,
       |    round(list_dot_product(q.qv, cv.e), 8) cos
       |  FROM qq q CROSS JOIN ep p JOIN v cv ON cv.id = p.cand_id),
       |ex0 AS (SELECT query_id, cand_id FROM vis0 WHERE 1 = 0),
       |b0 AS MATERIALIZED (SELECT query_id, cand_id FROM (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) rn FROM vis0)
       |  WHERE rn <= 8),
       |$hopLayers,
       |stop AS (SELECT CASE $stopCases ELSE $H END sh),
       |allv AS (SELECT * FROM (
       |  $allVis))
       |SELECT query_id, cand_id neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, cand_id ASC) AS INT) rank,
       |  round(cos, 6) cosine_r
       |FROM allv WHERE h = (SELECT sh FROM stop) AND cand_id <> query_id
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, cand_id ASC) <= 5""".stripMargin
  }

  /** Embedding drift across label slices (SimSearch.embeddingDrift):
    * per-group centroid dispersion (mean resultant length) + cosine to
    * the global centroid — the encoder/crawl drift monitor. Per-dim
    * means rounded@8 re-enter products; decimal cross-dim sums; final
    * stats rounded@6. */
  private def qEmbedDrift(s: SparkSession, dir: String): DataFrame =
    SimSearch.embeddingDrift(emb(s, dir), "vec_id", "embedding", "label")
  private val qEmbedDriftSql =
    """WITH v AS (SELECT label grp, list_transform(embedding::DOUBLE[], x -> x /
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) e FROM embeddings),
      |ex AS (SELECT grp, generate_subscripts(e, 1) j, unnest(e) x FROM v),
      |gm AS (SELECT grp, j,
      |    round(CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / count(*), 8) m
      |  FROM ex GROUP BY 1, 2),
      |gl AS (SELECT j,
      |    round(CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) / count(*), 8) g
      |  FROM ex GROUP BY 1),
      |sums AS (SELECT grp,
      |    CAST(sum(CAST(m * m AS DECIMAL(28,14))) AS DOUBLE) s_gg,
      |    CAST(sum(CAST(m * g AS DECIMAL(28,14))) AS DOUBLE) s_gl,
      |    CAST(sum(CAST(g * g AS DECIMAL(28,14))) AS DOUBLE) s_ll
      |  FROM gm JOIN gl USING (j) GROUP BY 1),
      |c AS (SELECT label grp, count(*) n_vecs FROM embeddings GROUP BY 1)
      |SELECT c.grp, n_vecs, round(sqrt(s_gg), 6) centroid_norm_r,
      |  round(CASE WHEN s_gg > 0 AND s_ll > 0
      |    THEN s_gl / (sqrt(s_gg) * sqrt(s_ll)) END, 6) cos_global_r
      |FROM c JOIN sums USING (grp)""".stripMargin

  /** Distributed PCA (ext/Pca.scala): top principal component of the
    * embedding corpus via 8 power iterations on the long-format
    * covariance matrix, then per-vector projection — the
    * reduce-then-cluster step of embedding curation. Fully
    * deterministic: fixed start vector, every re-entering quantity
    * (means / covariance entries / iterated components) rounded at 8,
    * decimal cross-row sums. The oracle mirrors the entire chain, with
    * the 8 iterations unrolled as CTE layers (qPageRankSql /
    * qKmeansFitSql discipline). */
  private val pcaIters = 8
  private def qPcaProject(s: SparkSession, dir: String): DataFrame =
    ext.Pca.projectTop(emb(s, dir), "vec_id", "embedding",
      iterations = pcaIters)
      .select(col("id").as("vec_id"), round(col("proj"), 6).as("proj_r"))
  private val qPcaProjectSql: String = {
    val layers = (1 to pcaIters).map { t =>
      s"""p$t AS MATERIALIZED (SELECT c.i, CAST(sum(CAST(c.c * v.vv AS DECIMAL(28,14)))
         |    AS DOUBLE) mv FROM cov c JOIN v${t - 1} v ON c.j = v.j GROUP BY 1),
         |n$t AS (SELECT sqrt(CAST(sum(CAST(mv * mv AS DECIMAL(28,14)))
         |    AS DOUBLE)) nn FROM p$t),
         |v$t AS MATERIALIZED (SELECT i j, CASE WHEN nn > 0 THEN round(mv / nn, 8) END vv
         |  FROM p$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (SELECT vec_id id, embedding::DOUBLE[] e FROM embeddings),
       |ex AS (SELECT id, generate_subscripts(e, 1) j, unnest(e) x FROM raw),
       |mn AS (SELECT j, round(CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE)
       |    / count(*), 8) m FROM ex GROUP BY 1),
       |cx AS MATERIALIZED (SELECT id, j, x - m y FROM ex JOIN mn USING (j)),
       |cov0 AS MATERIALIZED (SELECT a.j i, b.j j,
       |    round(CAST(sum(CAST(a.y * b.y AS DECIMAL(28,14))) AS DOUBLE)
       |      / CAST((SELECT count(*) FROM raw) AS DOUBLE), 8) c
       |  FROM cx a JOIN cx b ON a.id = b.id AND a.j <= b.j GROUP BY 1, 2),
       |cov AS MATERIALIZED (SELECT i, j, c FROM cov0
       |  UNION ALL SELECT j, i, c FROM cov0 WHERE i < j),
       |v0 AS (SELECT j, 1.0 / sqrt(CAST((SELECT count(*) FROM mn) AS DOUBLE)) vv
       |  FROM mn),
       |$layers,
       |pr AS (SELECT id, CAST(sum(CAST(y * vv AS DECIMAL(28,14))) AS DOUBLE) pd
       |  FROM cx JOIN v$pcaIters USING (j) GROUP BY 1)
       |SELECT id vec_id, round(pd, 6) proj_r FROM pr""".stripMargin
  }

  // ------------------------------------------------------------------
  // Multimodal plumbing
  // ------------------------------------------------------------------
  /** Audio energy / silence profile over REAL WAV media
    * (Multimodal.synthesizeWav + audioEnergy): every (doc_id % 4 = 1)
    * doc gets a deterministic 16-bit PCM clip — sample i =
    * ((id*7919 + i*104729) mod 65536) - 32768, n = id%1984+64 samples —
    * REALLY encoded into a RIFF/WAV container by javax.sound.sampled,
    * then REALLY decoded back into per-frame energies (16-sample
    * frames, energy = sum |sample|, silent below 250000). The oracle
    * never sees WAV bytes: it recomputes the report from the sample
    * formula, so the gate passes iff the actual encode->decode round
    * trip is bit-perfect (PCM is lossless). */
  private def qMediaEnergy(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesizeWav(
      docs(s, dir).filter(col("doc_id") % 4 === 1).select(col("doc_id")),
      "doc_id")
    Multimodal.audioEnergy(media, frameSamples = 16, silenceBelow = 250000L)
  }
  private val qMediaEnergySql: String =
    """WITH m AS (SELECT doc_id media_id, CAST(doc_id % 1984 + 64 AS BIGINT) n
      |  FROM documents WHERE doc_id % 4 = 1),
      |fr AS (SELECT media_id, unnest(range(n // 16)) f FROM m),
      |en AS (SELECT media_id,
      |    CAST(list_sum(list_transform(range(16), j ->
      |      abs(((media_id * 7919 + (f * 16 + j) * 104729) % 65536)
      |        - 32768))) AS BIGINT) e
      |  FROM fr),
      |r AS (SELECT media_id, count(*) n_frames,
      |    CAST(sum(CASE WHEN e < 250000 THEN 1 ELSE 0 END) AS BIGINT) n_silent,
      |    round(CAST(sum(CASE WHEN e < 250000 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE), 6) silence_ratio,
      |    round(CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) mean_energy,
      |    CAST(max(e) AS BIGINT) peak_energy
      |  FROM en GROUP BY 1)
      |SELECT m.media_id, COALESCE(r.n_frames, 0) n_frames,
      |  COALESCE(r.n_silent, 0) n_silent, r.silence_ratio, r.mean_energy,
      |  r.peak_energy
      |FROM m LEFT JOIN r USING (media_id)""".stripMargin

  /** REAL audio codec round trip (Multimodal.synthesizeWav +
    * audioStats): every (doc_id % 6 = 2) doc gets a deterministic
    * 16-bit mono 8 kHz PCM clip, REALLY encoded via javax.sound.sampled
    * into a RIFF/WAV container, then REALLY decoded back, reporting the
    * parsed format plus exact integer sample statistics (sum |s|, peak
    * |s|, count of |s| >= 16384). The oracle recomputes everything from
    * the sample formula without seeing the bytes — the audio sibling of
    * q_image_decode, de-faking the audio half of the multimodal tier. */
  private def qAudioDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 6 === 2)
      .select(col("doc_id"))
    Multimodal.audioStats(Multimodal.synthesizeWav(ids, "doc_id"))
  }
  private val qAudioDecodeSql =
    """WITH m AS (SELECT doc_id id, CAST(doc_id % 1984 + 64 AS BIGINT) n
      |  FROM documents WHERE doc_id % 6 = 2),
      |sm AS (SELECT id, unnest(range(n)) i FROM m),
      |v AS (SELECT id,
      |    abs(((id * 7919 + i * 104729) % 65536) - 32768) a FROM sm),
      |st AS (SELECT id, CAST(count(*) AS BIGINT) n_samples,
      |    CAST(sum(a) AS BIGINT) sum_abs, CAST(max(a) AS INT) peak_abs,
      |    CAST(sum(CASE WHEN a >= 16384 THEN 1 ELSE 0 END) AS BIGINT) n_loud
      |  FROM v GROUP BY 1)
      |SELECT id media_id, true decode_ok, CAST(8000 AS INT) sample_rate,
      |  CAST(1 AS INT) n_channels, CAST(16 AS INT) bits, n_samples,
      |  sum_abs, peak_abs, n_loud
      |FROM st""".stripMargin

  /** REAL image codec round trip (Multimodal.synthesizeImages +
    * imageStats): every (doc_id % 7 = 3) doc gets a deterministic
    * grayscale PNG — pixel (x,y) = (id*31+x*7+y*13) mod 256 — REALLY
    * encoded by javax.imageio, then REALLY decoded back, reporting
    * exact integer pixel statistics. The oracle never sees PNG bytes:
    * it recomputes the statistics from the pattern formula, so the
    * gate passes iff the actual encode->decode round trip is
    * bit-perfect (PNG is lossless). This is the de-faked image half of
    * the multimodal tier; audio/video keep the labeled fake. */
  private def qImageDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"))
    Multimodal.imageStats(Multimodal.synthesizeImages(ids, "doc_id"))
  }
  private val qImageDecodeSql =
    """WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 7 = 3),
      |dims AS (SELECT id, CAST(id % 48 + 8 AS INT) w,
      |    CAST(id % 32 + 8 AS INT) h FROM ids),
      |st AS (SELECT id, w, h,
      |    list_sum(flatten(list_transform(range(h), y ->
      |      list_transform(range(w), x ->
      |        (id * 31 + x * 7 + y * 13) % 256)))) s,
      |    list_sum(flatten(list_transform(range(h), y ->
      |      list_transform(range(w), x -> CASE
      |        WHEN (id * 31 + x * 7 + y * 13) % 256 >= 128
      |        THEN 1 ELSE 0 END)))) b
      |  FROM dims)
      |SELECT id media_id, true decode_ok, w width, h height,
      |  CAST(w AS BIGINT) * h n_px, CAST(s AS BIGINT) sum_lum,
      |  CAST(b AS BIGINT) n_bright
      |FROM st""".stripMargin

  /** REAL lossy-codec round trip (Multimodal.synthesizeJpegs +
    * imageStats via jpegDecodeGate): every (doc_id % 8 = 5) doc gets
    * the deterministic grayscale pattern encoded as GENUINE JPEG at
    * quality 0.85, then really decoded back. JPEG is lossy, so unlike
    * q_image_decode no formula oracle can pin the decoded bytes — the
    * gate instead pins what lossy compression preserves: dimensions
    * and pixel count bit-exact vs the id formula, and mean luminance
    * within a 1.5-gray-level tolerance band (ok_mean, measured
    * worst-case 0.41 across the dimension cycle; the tolerance lives
    * as a literal in jpegDecodeGate and the oracle pins the verdict
    * TRUE). Closes the last labeled gap in the codec tier: the MM01
    * synthetic path now stands in only for codecs genuinely absent
    * from the container (H.264 etc.). */
  private def qJpegDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 8 === 5)
      .select(col("doc_id"))
    Multimodal.jpegDecodeGate(ids, "doc_id")
  }
  private val qJpegDecodeSql =
    """WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 8 = 5)
      |SELECT id media_id, true decode_ok,
      |  CAST(id % 48 + 8 AS INT) width, CAST(id % 32 + 8 AS INT) height,
      |  CAST(id % 48 + 8 AS BIGINT) * (id % 32 + 8) n_px,
      |  TRUE ok_mean
      |FROM ids""".stripMargin

  /** REAL video codec round trip (Multimodal.synthesizeGif +
    * videoFrameStats): every (doc_id % 9 = 4) doc gets a deterministic
    * grayscale animated GIF — frame f pixel (x,y) =
    * (id*31 + f*17 + x*7 + y*13) mod 256, id-derived dims and frame
    * count — REALLY encoded frame-by-frame by the JDK GIF writer, then
    * REALLY decoded back (getNumImages walk), reporting exact integer
    * per-frame pixel statistics. GIF is lossless for palettized
    * content, so the oracle recomputes everything from the formula
    * without seeing the bytes — the video sibling of q_image_decode /
    * q_audio_decode. With this face the multimodal codec honesty
    * ledger is EMPTY: image, audio, and video all round-trip through
    * genuine JDK codecs. */
  private def qVideoDecode(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 9 === 4)
      .select(col("doc_id"))
    Multimodal.videoFrameStats(Multimodal.synthesizeGif(ids, "doc_id"))
  }
  private val qVideoDecodeSql =
    """WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 9 = 4),
      |m AS (SELECT id, CAST(id % 48 + 8 AS INT) w,
      |    CAST(id % 32 + 8 AS INT) h, CAST(id % 12 + 2 AS INT) nf
      |  FROM ids),
      |fr AS (SELECT id, w, h, unnest(range(nf)) f FROM m),
      |st AS (SELECT id, f, w, h,
      |    list_sum(flatten(list_transform(range(h), y ->
      |      list_transform(range(w), x ->
      |        (id * 31 + f * 17 + x * 7 + y * 13) % 256)))) s,
      |    list_sum(flatten(list_transform(range(h), y ->
      |      list_transform(range(w), x -> CASE
      |        WHEN (id * 31 + f * 17 + x * 7 + y * 13) % 256 >= 128
      |        THEN 1 ELSE 0 END)))) b
      |  FROM fr)
      |SELECT id media_id, true decode_ok, CAST(f AS INT) frame_idx,
      |  w width, h height, CAST(s AS BIGINT) sum_lum,
      |  CAST(b AS BIGINT) n_bright
      |FROM st""".stripMargin

  /** Shot-boundary detection over REAL video content
    * (Multimodal.synthesizeShotGif -> shotBoundaries): scene-structured
    * GIFs — alternating dark/bright scenes of 2-4 frames with
    * within-scene motion — are genuinely encoded and decoded, then
    * segmented at mean-luminance cuts (threshold 8 gray levels, pure
    * integer comparison). The oracle recomputes every frame's pixel sum
    * from the shotPatternGray formula and mirrors the lag/cumsum window
    * chain, never seeing the bytes. */
  private def qShotDetect(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 7 === 2)
      .select(col("doc_id"))
    Multimodal.shotBoundaries(Multimodal.synthesizeShotGif(ids, "doc_id"))
  }
  private val qShotDetectSql =
    """WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 7 = 2),
      |m AS (SELECT id, CAST(id % 48 + 8 AS INT) w,
      |    CAST(id % 32 + 8 AS INT) h, CAST(id % 3 + 2 AS INT) len,
      |    CAST(id % 10 + 6 AS INT) nf
      |  FROM ids),
      |fr AS (SELECT id, w, h, len, unnest(range(nf)) f FROM m),
      |st AS (SELECT id, f, w, h,
      |    list_sum(flatten(list_transform(range(h), y ->
      |      list_transform(range(w), x ->
      |        (id * 31 + x * 7 + y * 13) % 120
      |        + 128 * ((f // len) % 2) + (f * 3) % 8)))) s
      |  FROM fr),
      |lg AS (SELECT id, f, w, h, s,
      |    lag(s) OVER (PARTITION BY id ORDER BY f) prev FROM st),
      |mk AS (SELECT id, f,
      |    CASE WHEN prev IS NOT NULL AND abs(s - prev) > 8 * w * h
      |      THEN 1 ELSE 0 END cut FROM lg),
      |sh AS (SELECT id, f,
      |    sum(cut) OVER (PARTITION BY id ORDER BY f
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) shot_id
      |  FROM mk)
      |SELECT id media_id, CAST(shot_id AS BIGINT) shot_id,
      |  CAST(min(f) AS INT) start_frame, CAST(max(f) AS INT) end_frame,
      |  CAST(count(*) AS BIGINT) n_frames
      |FROM sh GROUP BY 1, 2""".stripMargin

  /** Per-shot keyframe bridge (VERDICT r14 Next #6): q_shot_detect
    * segments and q_image_phash hashes, this face JOINS them — the
    * scene-structured GIF corpus (plus injected re-uploads at
    * media_id + 3000000) is really decoded ONCE per video, segmented
    * at mean-luminance cuts, each shot's most static frame (min
    * in-shot |delta sum_lum|, frame tie-break) becomes its keyframe,
    * and keyframes dedup ACROSS videos through the 4x16-bit Hamming
    * banding. dup_root = least keyframe key among banded partners —
    * injected copies collapse onto their originals' roots. The oracle
    * recomputes frame sums AND the 9x8 dHash grid from the
    * shotPatternGray formula, mirrors the lag/cut/pick windows (all
    * partitioned per media id) and the band join, never seeing bytes. */
  private def qShotKeyframes(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesizeShotGif(
      docs(s, dir).filter(col("doc_id") % 7 === 2).select(col("doc_id")),
      "doc_id")
    val withCopies = media.unionByName(
      media.filter(col("media_id") % 14 === 2)
        .select((col("media_id") + 3000000L).as("media_id"),
          col("kind"), col("bytes")))
    Multimodal.shotKeyframes(withCopies)
  }
  private val qShotKeyframesSql: String = {
    val scene = "128 * ((f // len) % 2) + (f * 3) % 8"
    val px = s"(vid * 31 + x * 7 + y * 13) % 120 + $scene"
    def samp(gx: String) =
      s"(vid * 31 + ((($gx) * w) // 9) * 7 + (((y * h) // 8)) * 13) % 120 + $scene"
    s"""WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 7 = 2),
       |base AS (SELECT id media_id, id vid FROM ids
       |  UNION ALL SELECT id + 3000000, id FROM ids WHERE id % 14 = 2),
       |m AS (SELECT media_id, vid, CAST(vid % 48 + 8 AS INT) w,
       |    CAST(vid % 32 + 8 AS INT) h, CAST(vid % 3 + 2 AS INT) len,
       |    CAST(vid % 10 + 6 AS INT) nf
       |  FROM base),
       |fr AS (SELECT media_id, vid, w, h, len, unnest(range(nf)) f FROM m),
       |st AS (SELECT media_id, f, w, h,
       |    list_sum(flatten(list_transform(range(h), y ->
       |      list_transform(range(w), x -> $px)))) s
       |  FROM fr),
       |dh AS (SELECT media_id, f,
       |    bit_or(CASE WHEN ${samp("x + 1")} > ${samp("x")}
       |      THEN 1::HUGEINT << CAST(y * 8 + x AS INT)
       |      ELSE 0::HUGEINT END) dh
       |  FROM fr, (SELECT unnest(range(8)) x), (SELECT unnest(range(8)) y)
       |  GROUP BY 1, 2),
       |lg AS (SELECT st.media_id, st.f, st.w, st.h, st.s, dh.dh,
       |    lag(st.s) OVER (PARTITION BY st.media_id ORDER BY st.f) prev
       |  FROM st JOIN dh ON dh.media_id = st.media_id AND dh.f = st.f),
       |mk AS (SELECT *, CASE WHEN prev IS NOT NULL
       |      AND abs(s - prev) > 8 * w * h THEN 1 ELSE 0 END cut
       |  FROM lg),
       |sh AS (SELECT *,
       |    sum(cut) OVER (PARTITION BY media_id ORDER BY f
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) shot_id,
       |    (prev IS NULL OR cut = 1) is_start
       |  FROM mk),
       |dn AS (SELECT *, CASE WHEN NOT is_start
       |      THEN abs(s - prev) END din FROM sh),
       |kf AS (SELECT media_id, shot_id, f keyframe, dh FROM (
       |    SELECT *, row_number() OVER (
       |        PARTITION BY media_id, shot_id
       |        ORDER BY is_start ASC, din ASC NULLS LAST, f ASC) rn
       |    FROM dn) WHERE rn = 1),
       |ks AS (SELECT media_id * 1000 + shot_id k, media_id, shot_id,
       |    keyframe, dh FROM kf),
       |bands AS (SELECT k, dh, b, (dh >> CAST(b * 16 AS INT)) & 65535 bv
       |  FROM ks, (SELECT unnest(range(4)) b)),
       |bf AS (SELECT b, bv, count(*) c FROM bands GROUP BY 1, 2),
       |cap AS (SELECT bands.k, bands.dh, bands.b, bands.bv
       |  FROM bands JOIN bf USING (b, bv) WHERE c <= 64),
       |cand AS (SELECT DISTINCT a.k ka, b2.k kb, a.dh ha, b2.dh hb
       |  FROM cap a JOIN cap b2 USING (b, bv) WHERE a.k < b2.k),
       |pairs AS (SELECT ka, kb FROM cand
       |  WHERE bit_count(xor(ha, hb)) <= 3),
       |sym AS (SELECT ka k, kb p FROM pairs
       |  UNION ALL SELECT kb, ka FROM pairs),
       |mn AS (SELECT k, min(p) minp FROM sym GROUP BY 1)
       |SELECT ks.media_id, CAST(ks.shot_id AS BIGINT) shot_id,
       |  CAST(ks.keyframe AS INT) keyframe,
       |  CAST(least(coalesce(mn.minp, ks.k), ks.k) AS BIGINT) dup_root
       |FROM ks LEFT JOIN mn ON mn.k = ks.k""".stripMargin
  }

  /** Frame-dedup over REAL video content (Multimodal.gifFrameDupPairs):
    * injected re-uploads (same GIF bytes, media_id + 3000000) of every
    * (id % 18 = 1) video are found by Jaccard over per-frame
    * fingerprints computed from GENUINELY DECODED pixels — the
    * real-codec sibling of q_frame_dedup. The oracle re-derives the
    * fingerprints from the frame formula (w:h:sum_lum:n_bright), the
    * df cap, and the capped-set Jaccard, never seeing the bytes. */
  private def qGifFrameDedup(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesizeGif(
      docs(s, dir).filter(col("doc_id") % 6 === 1).select(col("doc_id")),
      "doc_id")
    val withCopies = media.union(
      media.filter(col("media_id") % 18 === 1)
        .select((col("media_id") + 3000000).as("media_id"), col("kind"),
          col("bytes")))
    Multimodal.gifFrameDupPairs(withCopies, threshold = 0.9)
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("jaccard"), 6).as("jaccard_r"))
  }
  private val qGifFrameDedupSql = {
    val px = "(vid * 31 + f * 17 + x * 7 + y * 13) % 256"
    s"""WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 6 = 1),
       |base AS (SELECT id media_id, id vid FROM ids
       |  UNION ALL SELECT id + 3000000, id FROM ids WHERE id % 18 = 1),
       |m AS (SELECT media_id, vid, CAST(vid % 48 + 8 AS INT) w,
       |    CAST(vid % 32 + 8 AS INT) h, CAST(vid % 12 + 2 AS INT) nf
       |  FROM base),
       |fr AS (SELECT media_id, vid, w, h, unnest(range(nf)) f FROM m),
       |st AS (SELECT media_id, w, h,
       |    list_sum(flatten(list_transform(range(h), y ->
       |      list_transform(range(w), x -> $px)))) s,
       |    list_sum(flatten(list_transform(range(h), y ->
       |      list_transform(range(w), x ->
       |        CASE WHEN $px >= 128 THEN 1 ELSE 0 END)))) b
       |  FROM fr),
       |sig AS (SELECT DISTINCT media_id,
       |    w || ':' || h || ':' || s || ':' || b fh FROM st),
       |dfc AS (SELECT fh, count(*) df FROM sig GROUP BY 1),
       |cap AS (SELECT s.media_id, s.fh FROM sig s JOIN dfc USING (fh)
       |  WHERE df <= 16),
       |sh AS (SELECT a.media_id id_a, b.media_id id_b, count(*) shared
       |  FROM cap a JOIN cap b USING (fh) WHERE a.media_id < b.media_id
       |  GROUP BY 1, 2),
       |sz AS (SELECT media_id, count(*) nf FROM cap GROUP BY 1)
       |SELECT id_a, id_b, CAST(shared AS BIGINT) shared,
       |  round(CAST(shared AS DOUBLE)
       |    / CAST(na + nb - shared AS DOUBLE), 6) jaccard_r
       |FROM sh
       |JOIN (SELECT media_id id_a, nf na FROM sz) USING (id_a)
       |JOIN (SELECT media_id id_b, nf nb FROM sz) USING (id_b)
       |WHERE CAST(shared AS DOUBLE)
       |  / CAST(na + nb - shared AS DOUBLE) >= 0.9""".stripMargin
  }

  /** REAL image resize chain (Multimodal.synthesizeImages ->
    * resizeImages -> imageStats): every (doc_id % 8 = 5) doc's PNG is
    * genuinely decoded, nearest-neighbor-remapped to 16x12, re-encoded
    * as PNG, and decoded AGAIN for stats — two full codec round trips.
    * Nearest-neighbor is the one resize whose output is exactly
    * formula-mirrorable: dst(x,y) = pattern(id, x*w/16, y*h/12) with
    * integer floor division, so the oracle recomputes the resized
    * statistics from the source formula without seeing any bytes. */
  private def qImageResize(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 8 === 5)
      .select(col("doc_id"))
    Multimodal.imageStats(
      Multimodal.resizeImages(Multimodal.synthesizeImages(ids, "doc_id"),
        newWidth = 16, newHeight = 12))
  }
  private val qImageResizeSql =
    """WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 8 = 5),
      |dims AS (SELECT id, CAST(id % 48 + 8 AS INT) w,
      |    CAST(id % 32 + 8 AS INT) h FROM ids),
      |st AS (SELECT id,
      |    list_sum(flatten(list_transform(range(12), y ->
      |      list_transform(range(16), x ->
      |        (id * 31 + ((x * w) // 16) * 7 + ((y * h) // 12) * 13)
      |          % 256)))) s,
      |    list_sum(flatten(list_transform(range(12), y ->
      |      list_transform(range(16), x -> CASE
      |        WHEN (id * 31 + ((x * w) // 16) * 7 + ((y * h) // 12) * 13)
      |          % 256 >= 128 THEN 1 ELSE 0 END)))) b
      |  FROM dims)
      |SELECT id media_id, true decode_ok, CAST(16 AS INT) width,
      |  CAST(12 AS INT) height, CAST(192 AS BIGINT) n_px,
      |  CAST(s AS BIGINT) sum_lum, CAST(b AS BIGINT) n_bright
      |FROM st""".stripMargin

  /** Perceptual image near-dup over REAL decoded pixels
    * (Multimodal.imageDHash -> phashNearDups): every (doc_id % 9 = 2)
    * doc gets a real PNG, and every (doc_id % 4 = 1) of those also a
    * RE-ENCODED copy with all gray levels shifted +8 mod 256
    * (media_id + 1000000) — the "brightness-tweaked re-upload" an
    * exact-byte fingerprint (the q_gif_frame_dedup regime) can never
    * pair. dHash keys on horizontal gradient SIGNS, so the shifted
    * copy keeps the original's hash except where +8 wraps the 8-bit
    * range, and pairs with it at Hamming distance <= 3 through the
    * 4x16-bit band join (exhaustive at that radius by pigeonhole).
    * The oracle recomputes the 9x8-grid hashes from the pattern
    * formula — unsigned in HUGEINT, whose low 64 bits match the
    * engine's signed long bit-for-bit — then mirrors the band cap,
    * the candidate join, and the exact bit_count(xor) verify, never
    * seeing a byte: the gate passes iff decode, NN-downsample,
    * banding, and Hamming verify are all bit-perfect. */
  private def qImagePhash(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") % 9 === 2)
      .select(col("doc_id"))
    val orig = Multimodal.synthesizeImages(base, "doc_id")
    val reenc = Multimodal
      .synthesizeImages(base.filter(col("doc_id") % 4 === 1), "doc_id",
        grayShift = 8)
      .withColumn("media_id", col("media_id") + 1000000L)
    Multimodal.phashNearDups(
      Multimodal.imageDHash(orig.unionByName(reenc)),
      maxDist = 3, maxBandFreq = 64)
  }
  private val qImagePhashSql = {
    val lum = (x: String) =>
      s"(base * 31 + ((($x) * w) // 9) * 7 + ((y * h) // 8) * 13 + sh) % 256"
    s"""WITH src AS (SELECT doc_id base, doc_id media_id, 0 sh
       |    FROM documents WHERE doc_id % 9 = 2
       |  UNION ALL SELECT doc_id, doc_id + 1000000, 8
       |    FROM documents WHERE doc_id % 9 = 2 AND doc_id % 4 = 1),
       |dims AS (SELECT media_id, base, sh, CAST(base % 48 + 8 AS INT) w,
       |    CAST(base % 32 + 8 AS INT) h FROM src),
       |bits AS (SELECT media_id,
       |    CASE WHEN ${lum("x + 1")} > ${lum("x")}
       |      THEN 1::HUGEINT << CAST(y * 8 + x AS INT)
       |      ELSE 0::HUGEINT END bv0
       |  FROM dims, (SELECT unnest(range(8)) x), (SELECT unnest(range(8)) y)),
       |hs AS (SELECT media_id, bit_or(bv0) dh FROM bits GROUP BY 1),
       |bands AS (SELECT media_id, dh, b, (dh >> CAST(b * 16 AS INT)) & 65535 bv
       |  FROM hs, (SELECT unnest(range(4)) b)),
       |bf AS (SELECT b, bv, count(*) c FROM bands GROUP BY 1, 2),
       |cap AS (SELECT bands.media_id, bands.dh, bands.b, bands.bv
       |  FROM bands JOIN bf USING (b, bv) WHERE c <= 64),
       |cand AS (SELECT DISTINCT a.media_id id_a, b2.media_id id_b,
       |    a.dh ha, b2.dh hb
       |  FROM cap a JOIN cap b2 USING (b, bv) WHERE a.media_id < b2.media_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) dist
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin
  }

  /** Cross-modal retrieval (VERDICT r12 Next #8 stretch) — the first
    * face CROSSING the perceptual-hash tier and the embedding ANN
    * tier, the "find more content like this image cluster" curation
    * primitive: q_image_phash's media corpus (real PNGs + the
    * brightness-shifted re-uploads) -> dHash -> Hamming-band near-dup
    * pairs -> connected components -> one REPRESENTATIVE per cluster
    * (min member id, the canonical upload) -> each representative's
    * embedding (vec_id = rep_id % 500 — the id-aligned fixture
    * convention, scale-stable since every fixture carries vec_ids
    * 0..499) -> brute cosine top-5 over the whole embedding corpus.
    * excludeSelf=false, pinned explicitly: rep ids live in media-id
    * space, so the mapped vector itself surfaces at rank 1 / cosine 1
    * — documenting the join — and no accidental media-id/vec-id
    * collision can drop a row.
    *
    * Scale shape: banded phash join (capped buckets), O(diameter)
    * component propagation, then bruteTopK's broadcast of the TINY
    * representative set over the corpus scan — at 100 TB swap the
    * last stage for ivfTopK, contract unchanged (the q_cosine_topk
    * note). The oracle composes the three tiers' existing mirrors:
    * the phash pair SQL verbatim, the recursive min-closure, and the
    * cosine window with the (cosine desc, id asc) tie-break. */
  private def qCrossmodalRetrieval(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).filter(col("doc_id") % 9 === 2)
      .select(col("doc_id"))
    val orig = Multimodal.synthesizeImages(base, "doc_id")
    val reenc = Multimodal
      .synthesizeImages(base.filter(col("doc_id") % 4 === 1), "doc_id",
        grayShift = 8)
      .withColumn("media_id", col("media_id") + 1000000L)
    val pairs = Multimodal.phashNearDups(
      Multimodal.imageDHash(orig.unionByName(reenc)),
      maxDist = 3, maxBandFreq = 64)
    val reps = Dedup.connectedComponents(pairs)
      .groupBy(col("comp")).agg(min(col("id")).as("rep_id"))
    val e = emb(s, dir)
    val qv = reps.join(e, e("vec_id") === col("rep_id") % 500)
      .select(col("rep_id").as("vec_id"), col("embedding"))
    SimSearch.bruteTopK(e, qv, "vec_id", "embedding", k = 5,
        excludeSelf = false)
      .select(col("query_id").as("rep_id"), col("neighbor_id"),
        col("rank"), round(col("cosine"), 6).as("cosine_r"))
  }
  private val qCrossmodalRetrievalSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT id_a, id_b FROM ($qImagePhashSql) ph),
       |sym AS (SELECT id_a a, id_b b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT a, a FROM sym
       |  UNION
       |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b),
       |comp AS (SELECT id, min(r) comp FROM reach GROUP BY 1),
       |reps AS (SELECT min(id) rep_id FROM comp GROUP BY comp),
       |qv AS (SELECT rep_id, e.embedding::DOUBLE[] qvec
       |  FROM reps JOIN embeddings e ON e.vec_id = rep_id % 500),
       |c AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
       |sc AS (SELECT rep_id, id,
       |    list_cosine_similarity(v, qvec) cosine,
       |    row_number() OVER (PARTITION BY rep_id
       |      ORDER BY list_cosine_similarity(v, qvec) DESC, id ASC) rank
       |  FROM c, qv)
       |SELECT rep_id, id AS neighbor_id, CAST(rank AS INT) rank,
       |  round(cosine, 6) AS cosine_r
       |FROM sc WHERE rank <= 5""".stripMargin

  /** REAL audio resample chain (Multimodal.synthesizeWav ->
    * resampleWav(2) -> audioStats): decode the 8 kHz WAV, keep every
    * 2nd sample (exact decimation — the formula-mirrorable resampler),
    * re-encode at 4 kHz, decode again for stats. The oracle recomputes
    * the decimated statistics from the source sample formula at
    * indices 2i. */
  private def qAudioResample(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 7 === 2)
      .select(col("doc_id"))
    Multimodal.audioStats(
      Multimodal.resampleWav(Multimodal.synthesizeWav(ids, "doc_id"),
        factor = 2))
  }
  private val qAudioResampleSql =
    """WITH m AS (SELECT doc_id id,
      |    (CAST(doc_id % 1984 + 64 AS BIGINT) + 1) // 2 n2
      |  FROM documents WHERE doc_id % 7 = 2),
      |sm AS (SELECT id, unnest(range(n2)) i FROM m),
      |v AS (SELECT id,
      |    abs(((id * 7919 + 2 * i * 104729) % 65536) - 32768) a FROM sm),
      |st AS (SELECT id, CAST(count(*) AS BIGINT) n_samples,
      |    CAST(sum(a) AS BIGINT) sum_abs, CAST(max(a) AS INT) peak_abs,
      |    CAST(sum(CASE WHEN a >= 16384 THEN 1 ELSE 0 END) AS BIGINT) n_loud
      |  FROM v GROUP BY 1)
      |SELECT id media_id, true decode_ok, CAST(4000 AS INT) sample_rate,
      |  CAST(1 AS INT) n_channels, CAST(16 AS INT) bits, n_samples,
      |  sum_abs, peak_abs, n_loud
      |FROM st""".stripMargin

  /** Haitsma-Kalker audio fingerprint over REAL WAV bytes
    * (Multimodal.audioFingerprint): decode the PCM, 4-sample frame
    * energies (short frames so the fixture's 64-2047-sample clips
    * yield the 65 frames a fingerprint needs at EVERY scale — the
    * frameSamples=16 production default needs >= 1040-sample clips),
    * 64 energy-delta sign bits packed into two 32-bit words
    * (fp_hi, fp_lo — the binary-ANN word convention). The oracle
    * recomputes energies from the sample formula and rebuilds the bit
    * word with HUGEINT bit_or, so framing, the strict > delta
    * convention, the little-endian packing, AND the too-short-clip
    * NULL rule (< 65 full frames) are all extent-checked. */
  private def qAudioFingerprint(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprint(Multimodal.synthesizeWav(
      docs(s, dir).filter(col("doc_id") % 8 === 5).select(col("doc_id")),
      "doc_id"), frameSamples = 4)
  private val qAudioFingerprintSql =
    """WITH m AS (SELECT doc_id media_id, CAST(doc_id % 1984 + 64 AS BIGINT) n
      |  FROM documents WHERE doc_id % 8 = 5),
      |fr AS (SELECT media_id, unnest(range(n // 4)) f FROM m),
      |en AS (SELECT media_id, f,
      |    CAST(list_sum(list_transform(range(4), j ->
      |      abs(((media_id * 7919 + (f * 4 + j) * 104729) % 65536)
      |        - 32768))) AS BIGINT) e
      |  FROM fr),
      |bits AS (SELECT a.media_id,
      |    CASE WHEN b.e > a.e THEN 1::HUGEINT << CAST(a.f AS INT)
      |      ELSE 0::HUGEINT END bv
      |  FROM en a JOIN en b ON b.media_id = a.media_id AND b.f = a.f + 1
      |  WHERE a.f < 64),
      |fp AS (SELECT media_id, bit_or(bv) v FROM bits GROUP BY 1)
      |SELECT m.media_id, true decode_ok, CAST(n // 4 AS BIGINT) n_frames,
      |  CASE WHEN n // 4 >= 65
      |    THEN CAST((fp.v >> 32) & 4294967295 AS BIGINT) END fp_hi,
      |  CASE WHEN n // 4 >= 65
      |    THEN CAST(fp.v & 4294967295 AS BIGINT) END fp_lo
      |FROM m LEFT JOIN fp USING (media_id)""".stripMargin

  /** Audio perceptual near-dup (Multimodal.audioNearDups — the audio
    * twin of q_image_phash): each clip pairs with a LEVEL-COMPRESSED
    * variant of itself (|s| clamped at 16000 — a deterministic
    * limiter), fingerprints band-join on 4x16-bit chunks, and pairs
    * verify at Hamming <= 3. The clamp flips only near-tie energy
    * deltas, so variants land within the distance band while unrelated
    * clips sit near 32/64 — the H-K robustness claim, cross-engine
    * gated: the oracle regenerates BOTH variants' energies from the
    * sample formula (LEAST against the clamp), rebuilds both
    * fingerprints, and replays the identical capped band join. */
  private def qAudioNeardup(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).filter(col("doc_id") % 8 === 5)
      .select(col("doc_id"))
    val wav = Multimodal.synthesizeWav(ids, "doc_id")
    val fpO = Multimodal.audioFingerprint(wav, frameSamples = 4)
    val fpV = Multimodal.audioFingerprint(wav, frameSamples = 4,
      clampAbs = 16000)
      .withColumn("media_id", col("media_id") + 10000000L)
    Multimodal.audioNearDups(fpO.unionByName(fpV),
      maxDist = 3, maxBandFreq = 64)
  }
  private val qAudioNeardupSql =
    """WITH m AS (SELECT doc_id media_id, CAST(doc_id % 1984 + 64 AS BIGINT) n
      |  FROM documents WHERE doc_id % 8 = 5),
      |src AS (SELECT media_id, media_id base, 0 cl, n FROM m
      |  UNION ALL SELECT media_id + 10000000, media_id, 16000, n FROM m),
      |fr AS (SELECT media_id, base, cl, n, unnest(range(n // 4)) f FROM src),
      |en AS (SELECT media_id, f,
      |    CAST(list_sum(list_transform(range(4), j ->
      |      CASE WHEN cl > 0
      |        THEN LEAST(abs(((base * 7919 + (f * 4 + j) * 104729)
      |          % 65536) - 32768), cl)
      |        ELSE abs(((base * 7919 + (f * 4 + j) * 104729)
      |          % 65536) - 32768) END)) AS BIGINT) e
      |  FROM fr),
      |bits AS (SELECT a.media_id,
      |    CASE WHEN b.e > a.e THEN 1::HUGEINT << CAST(a.f AS INT)
      |      ELSE 0::HUGEINT END bv
      |  FROM en a JOIN en b ON b.media_id = a.media_id AND b.f = a.f + 1
      |  WHERE a.f < 64),
      |fp AS (SELECT media_id, bit_or(bv) v FROM bits GROUP BY 1),
      |ok AS (SELECT fp.media_id, v FROM fp
      |  JOIN src ON src.media_id = fp.media_id WHERE src.n // 4 >= 65),
      |bands AS (SELECT media_id, v, b, (v >> CAST(b * 16 AS INT)) & 65535 bv
      |  FROM ok, (SELECT unnest(range(4)) b)),
      |bf AS (SELECT b, bv, count(*) c FROM bands GROUP BY 1, 2),
      |cap AS (SELECT bands.media_id, bands.v, bands.b, bands.bv
      |  FROM bands JOIN bf USING (b, bv) WHERE c <= 64),
      |cand AS (SELECT DISTINCT a.media_id id_a, b2.media_id id_b,
      |    a.v va, b2.v vb
      |  FROM cap a JOIN cap b2 USING (b, bv) WHERE a.media_id < b2.media_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(va, vb)) AS INT) dist
      |FROM cand WHERE bit_count(xor(va, vb)) <= 3""".stripMargin

  private def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesize(
      docs(s, dir).filter(col("doc_id") % 5 === 0).select(col("doc_id")),
      "doc_id", "video")
    val sampled = Multimodal.sampleFrames(media, stride = 4)
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
    media
      .withColumn("meta", Multimodal.decodeMeta(col("bytes")))
      .withColumn("feat", Multimodal.byteFeatures(col("bytes")))
      .join(sampled, Seq("media_id"))
      .select(col("media_id"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("meta.n_frames").as("n_frames"),
        col("feat.n_bytes").as("n_bytes"), col("feat.digest8").as("digest8"),
        col("n_sampled").cast("int").as("n_sampled"))
  }
  // mirrors Multimodal.synthesize: 16-char header 'MM01'+hex(w,h,f) + 256
  // chars of chained sha256 payload
  private val qMultimodalSql =
    """WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 5 = 0),
      |m AS (SELECT id,
      |    CAST(id % 64 + 8 AS INT) w, CAST(id % 48 + 6 AS INT) h, CAST(id % 16 + 1 AS INT) f,
      |    'MM01' || printf('%04x', CAST(id % 64 + 8 AS INT))
      |      || printf('%04x', CAST(id % 48 + 6 AS INT))
      |      || printf('%04x', CAST(id % 16 + 1 AS INT))
      |      || substr(sha256(id || ':0') || sha256(id || ':1') || sha256(id || ':2')
      |           || sha256(id || ':3') || sha256(id || ':4') || sha256(id || ':5')
      |           || sha256(id || ':6') || sha256(id || ':7') || sha256(id || ':8'), 1, 256) b
      |  FROM ids)
      |SELECT id AS media_id, w AS width, h AS height, f AS n_frames,
      |       CAST(length(b) AS INT) AS n_bytes,
      |       substr(md5(b), 1, 8) AS digest8,
      |       CAST((f - 1) // 4 + 1 AS INT) AS n_sampled
      |FROM m""".stripMargin

  /** Frame-level media dedup (Multimodal.frameDupPairs): injected
    * re-uploads (same bytes, new media_id) of every third video are
    * found by frame-digest Jaccard at threshold 0.9 — the multimodal
    * face of the dedup tier. The oracle re-derives the synthetic
    * payloads, frame sampling, digests, the df cap, and the capped-set
    * Jaccard. */
  private def qFrameDedup(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesize(
      docs(s, dir).filter(col("doc_id") % 5 === 0).select(col("doc_id")),
      "doc_id", "video")
    val withCopies = media.union(
      media.filter(col("media_id") % 15 === 0)
        .select((col("media_id") + 1000000).as("media_id"), col("kind"),
          col("bytes")))
    Multimodal.frameDupPairs(withCopies, stride = 4, threshold = 0.9)
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("jaccard"), 6).as("jaccard_r"))
  }
  private val qFrameDedupSql: String = {
    val payload = (0 to 8).map(i => s"sha256(src || ':$i')")
      .mkString(" || ")
    s"""WITH ids AS (SELECT doc_id id FROM documents WHERE doc_id % 5 = 0),
       |mids AS (SELECT id media_id, id src FROM ids
       |  UNION ALL SELECT id + 1000000, id FROM ids WHERE id % 15 = 0),
       |m AS (SELECT media_id, CAST(src % 16 + 1 AS INT) f,
       |    'MM01' || printf('%04x', CAST(src % 64 + 8 AS INT))
       |      || printf('%04x', CAST(src % 48 + 6 AS INT))
       |      || printf('%04x', CAST(src % 16 + 1 AS INT))
       |      || substr($payload, 1, 256) b
       |  FROM mids),
       |fr AS (SELECT DISTINCT media_id,
       |    md5(substr(b, 17 + (fi * 16) % 256, 16)) fh
       |  FROM m CROSS JOIN unnest(range(0, f, 4)) AS u(fi)),
       |cap AS (SELECT fh, media_id FROM (
       |    SELECT *, count(*) OVER (PARTITION BY fh) df FROM fr)
       |  WHERE df <= 16),
       |sz AS (SELECT media_id, count(*) nf FROM cap GROUP BY 1),
       |sh AS (SELECT a.media_id ia, b.media_id ib, count(*) shared
       |  FROM cap a JOIN cap b ON a.fh = b.fh AND a.media_id < b.media_id
       |  GROUP BY 1, 2),
       |p AS (SELECT ia, ib, shared,
       |    CAST(shared AS DOUBLE) / CAST(x.nf + y.nf - shared AS DOUBLE) j
       |  FROM sh JOIN sz x ON x.media_id = ia JOIN sz y ON y.media_id = ib)
       |SELECT ia id_a, ib id_b, CAST(shared AS BIGINT) shared,
       |  round(j, 6) jaccard_r
       |FROM p WHERE j >= 0.9""".stripMargin
  }

  // ------------------------------------------------------------------
  // Events: JSON, windows, sessionization
  // ------------------------------------------------------------------
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    EventsOps.withProps(events(s, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("props_k")).as("n_k"),
        sum(col("props_k")).as("sum_k"))
  private val qJsonExtractSql =
    """SELECT event_type, count(*) AS n,
      |  count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_k,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY 1""".stripMargin

  /** Parquet AGGREGATE pushdown: with
    * spark.sql.parquet.aggregatePushdown, whole-table min/max/count
    * come from the parquet FOOTER statistics — the scan reads metadata
    * pages, not row groups. The 100 TB difference between a statistics
    * lookup and a full-column scan for the commonest profiling
    * question ("how many rows, what's the range"). PlanAssertSpec pins
    * `PushedAggregation` in the scan node. Conf is set per-query and
    * restored (the rest of the suite keeps its default plans). */
  private def qAggPushdown(s: SparkSession, dir: String): DataFrame = {
    // two confs: the pushdown switch AND the v2 datasource path (the
    // default v1 FileScan has no aggregate pushdown at all); both are
    // restored so the rest of the suite keeps its default v1 plans.
    // Columns are int64 — parquet footer min/max pushdown excludes
    // timestamps (rebase ambiguity) and floating point (NaN ordering).
    val confs = Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val df = s.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"),
          max(col("l_partkey")).as("max_pk"))
      df.queryExecution.executedPlan // force planning under the confs
      df
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }
  private val qAggPushdownSql =
    """SELECT count(*) n_rows,
      |  min(l_orderkey) min_ok, max(l_orderkey) max_ok,
      |  min(l_partkey) min_pk, max(l_partkey) max_pk
      |FROM lineitem""".stripMargin

  /** Spark 4 VARIANT surface: props parsed once to the open VARIANT
    * type (parse_json), typed field extraction via variant_get, plus
    * schema_of_variant — the semi-structured path that replaces
    * per-path string re-parsing (one parse, many typed gets). Oracle
    * mirrors with DuckDB's JSON extraction on the same paths. */
  private def qVariantJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("v", parse_json(col("props")))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "bigint").as("k"),
        schema_of_variant(col("v")).as("vschema"))
      .groupBy(col("event_type"), col("vschema"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  private val qVariantJsonSql =
    """SELECT event_type, 'OBJECT<k: BIGINT>' AS vschema, count(*) n,
      |  count(CAST(json_extract(props, '$.k') AS BIGINT)) n_k,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) sum_k,
      |  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) min_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) max_k
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Error-safe arithmetic/cast surface under ANSI semantics: try_cast
    * salvages the parseable fraction of a deliberately messy string
    * column (plain ints, decimals, spaces, garbage, overflows) and
    * try_divide nulls division by zero — the cleaning-adjacent "never
    * throw, count what failed" contract. */
  private def qTryCast(s: SparkSession, dir: String): DataFrame = {
    val m = col("o_orderkey") % 5
    val raw = when(m === 0, col("o_custkey").cast("string"))
      .when(m === 1, concat(lit(" "), col("o_custkey").cast("string"), lit(" ")))
      .when(m === 2, concat(col("o_custkey").cast("string"), lit(".75")))
      .when(m === 3, lit("12x34"))
      .otherwise(lit("99999999999999999999"))
    Sources.table(s, dir, "orders")
      .select(m.as("variant"), raw.as("raw"),
        try_divide(lit(100.0), col("o_orderkey") % 3).as("dv"))
      .withColumn("iv", expr("try_cast(raw AS BIGINT)"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), count(col("iv")).as("n_parsed"),
        sum(col("iv")).as("sum_parsed"),
        count(col("dv")).as("n_div_ok"))
  }
  private val qTryCastSql =
    """WITH r AS (SELECT o_orderkey % 5 variant,
      |    CASE o_orderkey % 5
      |      WHEN 0 THEN CAST(o_custkey AS VARCHAR)
      |      WHEN 1 THEN ' ' || CAST(o_custkey AS VARCHAR) || ' '
      |      WHEN 2 THEN CAST(o_custkey AS VARCHAR) || '.75'
      |      WHEN 3 THEN '12x34'
      |      ELSE '99999999999999999999' END raw,
      |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |      ELSE 100.0 / (o_orderkey % 3) END dv
      |  FROM orders),
      |c AS (SELECT variant,
      |    CASE WHEN regexp_matches(trim(raw), '^[+-]?[0-9]+$')
      |      THEN TRY_CAST(trim(raw) AS BIGINT) END iv, dv FROM r)
      |SELECT variant, count(*) n, count(iv) n_parsed,
      |  CAST(sum(iv) AS BIGINT) sum_parsed, count(dv) n_div_ok
      |FROM c GROUP BY 1""".stripMargin

  /** listagg surface (Spark 4): deterministic WITHIN GROUP ordered
    * string aggregation — the report-rendering shape (top nations'
    * customer segments as one cell). Bounded per group by the
    * distinct-segment cardinality. */
  private def qListagg(s: SparkSession, dir: String): DataFrame = {
    Sources.table(s, dir, "customer").createOrReplaceTempView("graft_cust")
    s.sql(
      """SELECT c_nationkey,
        |  listagg(DISTINCT c_mktsegment, '|') WITHIN GROUP (ORDER BY c_mktsegment) segs,
        |  count(*) n
        |FROM graft_cust GROUP BY c_nationkey""".stripMargin)
  }
  private val qListaggSql =
    """SELECT c_nationkey,
      |  string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) segs,
      |  count(*) n
      |FROM customer GROUP BY 1""".stripMargin

  private def qEventWindow(s: SparkSession, dir: String): DataFrame =
    EventsOps.hourlyProfile(events(s, dir))
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_str"),
        col("event_type"), col("n_events"), col("sum_value"), col("n_users"))
  private val qEventWindowSql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Gap detector with KNOWN injected gaps: every hour bucket with
    * bucket % 7 == 3 is deleted from the stream, so the detector must
    * report exactly those hours (plus any organically empty ones) —
    * detection is proven, not just green-path accounting. */
  private def qTimeGaps(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .filter(expr("(unix_timestamp(ts) div 3600) % 7") =!= 3)
    EventsOps.timeGaps(e, "ts", bucketSeconds = 3600)
  }
  private val qTimeGapsSql: String =
    """WITH b AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 bucket
      |  FROM events),
      |p AS (SELECT DISTINCT bucket FROM b WHERE bucket % 7 <> 3),
      |bounds AS (SELECT min(bucket) mn, max(bucket) mx FROM p),
      |spine AS (SELECT unnest(range(mn, mx + 1)) bucket FROM bounds
      |  WHERE mn IS NOT NULL)
      |SELECT bucket,
      |  strftime(make_timestamp(bucket * 3600 * 1000000),
      |    '%Y-%m-%d %H:%M:%S') gap_start
      |FROM spine WHERE bucket NOT IN (SELECT bucket FROM p)""".stripMargin

  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    EventsOps.sessionStats(events(s, dir), gapMinutes = 30)
      .groupBy(col("user_id"))
      .agg(max(col("session_seq")).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("total_events"),
        max(col("duration_sec")).as("max_duration_sec"))
  private val qSessionizeSql =
    """WITH o AS (SELECT user_id, ts, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) es,
      |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w pes
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts, es,
      |    sum(CASE WHEN pes IS NULL OR es - pes > 1800 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS UNBOUNDED PRECEDING) sid
      |  FROM o),
      |g AS (SELECT user_id, sid, count(*) n_events, max(es) - min(es) dur
      |  FROM s GROUP BY 1, 2)
      |SELECT user_id, CAST(max(sid) AS BIGINT) n_sessions,
      |  CAST(max(n_events) AS BIGINT) max_session_events,
      |  CAST(sum(n_events) AS BIGINT) total_events,
      |  CAST(max(dur) AS BIGINT) max_duration_sec
      |FROM g GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Relational surface the reference lacks: joins, windows, rollup, set ops
  // ------------------------------------------------------------------
  private def qStarJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
    val o = Sources.table(s, dir, "orders")
    val c = Sources.table(s, dir, "customer")
    val n = Sources.table(s, dir, "nation")
    val r = Sources.table(s, dir, "region")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      // revenue in exact integer ten-thousandths: price and discount are
      // 2-dp values, so cents x cents is an exact BIGINT product —
      // immune to the engines' different double->decimal .5-rounding
      // rules (which differ on dyadic products like x.xx5)
      .agg(count(lit(1)).as("n_items"),
        (sum(round(col("l_extendedprice") * 100, 0).cast("long")
          * round((lit(1) - col("l_discount")) * 100, 0).cast("long"))
          .cast("double") / 10000.0).as("revenue"))
  }
  private val qStarJoinSql =
    """SELECT r_name, n_name, count(*) AS n_items,
      |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |           * CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2""".stripMargin

  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.table(s, dir, "orders")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
        col("o_totalprice"))
  }
  private val qTopkPerGroupSql =
    """SELECT o_orderpriority, CAST(rank AS INT) rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) rank
      |  FROM orders) WHERE rank <= 3""".stripMargin

  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  private val qRollupSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.table(s, dir, "orders")
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val done = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    open.except(done).withColumn("bucket", lit("open_only"))
      .union(open.intersect(done).withColumn("bucket", lit("both")))
  }
  private val qSetOpsSql =
    """SELECT o_custkey, 'open_only' AS bucket FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |UNION ALL
      |SELECT o_custkey, 'both' AS bucket FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin

  /** MULTISET set ops (exceptAll / intersectAll): duplicate counts
    * matter — per customer, the SURPLUS of open over filled orders and
    * the overlap multiplicity, summarized as counts (the distinct
    * variants in q_set_ops can't see multiplicity at all). */
  private def qSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.table(s, dir, "orders")
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val done = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    open.exceptAll(done)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .withColumn("bucket", lit("open_surplus"))
      .unionByName(open.intersectAll(done)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .withColumn("bucket", lit("overlap")))
  }
  private val qSetOpsAllSql =
    """SELECT o_custkey, count(*) n, 'open_surplus' AS bucket FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |GROUP BY 1
      |UNION ALL
      |SELECT o_custkey, count(*) n, 'overlap' AS bucket FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |GROUP BY 1""".stripMargin

  /** Correlated LATERAL subquery surface (Spark 4 SQL): per-nation
    * top-2 customers by balance — the "top-k per outer row" idiom
    * written as the optimizer-recognized lateral form (planned as a
    * rewritten window/limit join, not N subquery executions). Ties
    * break on custkey, so the pick is total-ordered. */
  private def qLateral(s: SparkSession, dir: String): DataFrame = {
    Sources.table(s, dir, "nation").createOrReplaceTempView("graft_nation")
    Sources.table(s, dir, "customer").createOrReplaceTempView("graft_customer")
    s.sql(
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM graft_nation n,
        |LATERAL (SELECT c_custkey, c_acctbal FROM graft_customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin)
  }
  private val qLateralSql =
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n,
      |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin

  /** As-of join: each purchase annotated with the user's latest
    * prior-or-simultaneous view. Oracle = DuckDB's native ASOF JOIN —
    * independent implementations of the same operator. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // right side deduped to one view per (user, ts) — DuckDB's ASOF JOIN
    // picks arbitrarily among equal timestamps, so determinism must come
    // from the input (keep max event_id; no-op on the fixture)
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("__rn", row_number().over(vw))
      .filter(col("__rn") === 1).drop("__rn")
    Relational.asofJoin(purchases, views, "user_id", "ts",
      rightCols = Seq("event_id", "ts"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("asof_event_id"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts_str"))
  }
  private val qAsofJoinSql =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id AS asof_event_id, user_id, ts AS vts FROM (
      |  SELECT event_id, user_id, ts,
      |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) rn
      |  FROM events WHERE event_type = 'view') WHERE rn = 1)
      |SELECT p.event_id AS purchase_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
      |  v.asof_event_id,
      |  strftime(v.vts, '%Y-%m-%d %H:%M:%S') AS asof_ts_str
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.vts <= p.ts""".stripMargin

  private def qCube(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  private val qCubeSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** GROUPING SETS with heterogeneous sets ((flag, status), (ship
    * year), ()) + grouping_id to disambiguate "NULL because aggregated"
    * from a NULL group value — the multi-report-in-one-scan surface
    * (cube/rollup's general form; one Expand + one agg, not three
    * scans). Bit order (first col = MSB) verified identical in both
    * engines. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")).cast("long"))
    l.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("ship_year")), Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"), col("ship_year"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
  }
  private val qGroupingSetsSql =
    """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT) ship_year,
      |  CAST(GROUPING(l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT)) AS BIGINT) gid,
      |  count(*) n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (CAST(year(l_shipdate) AS BIGINT)), ())""".stripMargin

  private val pivotTypes = Seq("click", "view", "purchase", "signup", "error")
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, pivotTypes)
  private val qPivotSql = {
    val cols = pivotTypes.map(t =>
      s"count(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n  ")
    s"""SELECT user_id % 10 AS user_bucket,
       |  $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  /** TPC-H Q1-shaped pricing summary: the classic scan-heavy partial-agg
    * benchmark headline (all measures exact via the integer-cents /
    * decimal discipline). */
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        (sum(round(col("l_extendedprice") * 100, 0).cast("long")
          * round((lit(1) - col("l_discount")) * 100, 0).cast("long"))
          .cast("double") / 10000.0).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  private val qPricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
      |           * CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY 1, 2""".stripMargin

  /** Skew-resistant two-phase (salted) aggregation: phase 1 groups on
    * (key, salt) so one hot key spreads over `salts` reducers; phase 2
    * merges partials. Result is EXACTLY the direct groupBy (the oracle
    * is the plain GROUP BY) — the pattern is what's being shipped. */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val salts = 16
    Sources.table(s, dir, "lineitem")
      .withColumn("__salt", col("l_orderkey") % salts)
      .groupBy(col("l_returnflag"), col("__salt"))
      .agg(count(lit(1)).as("pc"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("ps"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pc")).as("n"),
        sum(col("ps")).cast("double").as("sum_qty"))
  }
  private val qSaltedAggSql =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1""".stripMargin

  /** SQL surface: the same engine driven entirely through spark.sql with
    * the registered graft_* functions (the reference has no SQL face at
    * all — SURVEY §2.5). Fingerprint + minhash head via SQL, oracle in
    * DuckDB. */
  /** Recursive-CTE month spine (Spark 4's WITH RECURSIVE — new SQL
    * surface): generate every (year*12+month) serial between the
    * first and last order month RECURSIVELY, left-join the monthly
    * rollup, zero-fill empty cells. The all-orders census occupies
    * every month; the > 450k big-order census leaves gaps — so the
    * zero-fill path is exercised, not just planned. The spine is
    * bounds-driven (two scalar subqueries), so new data widens it
    * without a config change — the thing a literal `sequence()` spine
    * can't do declaratively.
    *
    * Scale shape: recursion depth = #months (dozens), each step a
    * 1-row frame; the rollup is one map-side-combined agg on the month
    * serial; the spine join broadcasts. */
  private def qRecursiveSpine(s: SparkSession, dir: String): DataFrame = {
    Sources.table(s, dir, "orders").createOrReplaceTempView("graft_orders")
    s.sql(
      """WITH RECURSIVE spine (ym, hi) AS (
        |  SELECT min(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)),
        |         max(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT))
        |  FROM graft_orders
        |  UNION ALL
        |  SELECT ym + 1, hi FROM spine WHERE ym < hi),
        |m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) ym,
        |    count(*) n_orders,
        |    CAST(sum(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END) AS BIGINT) n_big,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) total
        |  FROM graft_orders GROUP BY 1)
        |SELECT s.ym, CAST(s.ym DIV 12 AS INT) yr, CAST(s.ym % 12 AS INT) mo,
        |  coalesce(m.n_orders, 0) n_orders, coalesce(m.n_big, 0) n_big,
        |  coalesce(m.total, 0.0) total
        |FROM spine s LEFT JOIN m ON s.ym = m.ym""".stripMargin)
  }
  private val qRecursiveSpineSql: String =
    """WITH RECURSIVE spine (ym, hi) AS (
      |  SELECT min(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)),
      |         max(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT))
      |  FROM orders
      |  UNION ALL
      |  SELECT ym + 1, hi FROM spine WHERE ym < hi),
      |m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) ym,
      |    count(*) n_orders,
      |    CAST(sum(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END) AS BIGINT) n_big,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) total
      |  FROM orders GROUP BY 1)
      |SELECT s.ym, CAST(s.ym // 12 AS INT) yr, CAST(s.ym % 12 AS INT) mo,
      |  coalesce(m.n_orders, 0) n_orders, coalesce(m.n_big, 0) n_big,
      |  coalesce(m.total, 0.0) total
      |FROM spine s LEFT JOIN m ON s.ym = m.ym""".stripMargin

  private def qSqlSurface(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    docs(s, dir).createOrReplaceTempView("graft_docs")
    s.sql(
      """SELECT doc_id,
        |  graft_hash64(text) AS h64,
        |  graft_rolling_hash(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))) AS rh,
        |  element_at(graft_minhash(graft_char_shingles(
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), 5), 16), 1) AS mh0
        |FROM graft_docs""".stripMargin)
  }
  private val qSqlSurfaceSql =
    s"""WITH nrm AS (SELECT doc_id, text, ${normSql("text")} n FROM documents),
       |sh AS (SELECT doc_id, text, n,
       |  CASE WHEN length(n) >= 5
       |    THEN list_distinct(list_transform(range(length(n) - 4), i -> substr(n, i+1, 5)))
       |    ELSE [n] END s FROM nrm),
       |hs AS (SELECT doc_id, text, n,
       |  list_transform(s, x -> ${Hashing.hash64Sql("x")}) h FROM sh)
       |SELECT doc_id,
       |  ${Hashing.hash64Sql("text")} AS h64,
       |  CAST(CASE WHEN length(n) = 0 THEN 0 ELSE
       |    list_reduce(list_transform(range(length(n)),
       |      i -> CAST(ascii(substr(n, i+1, 1)) AS BIGINT)),
       |      (a, b) -> (a * 31 + b) % 2147483647) END AS BIGINT) AS rh,
       |  list_min(list_transform(h, x -> ((${Hashing.permuteA(0)} * (x % $P) + ${Hashing.permuteB(0)}) % $P))) AS mh0
       |FROM hs""".stripMargin

  /** UDTF surface: the graft_shingles table-generating function driven
    * through SQL (LATERAL VIEW), aggregated per doc so output stays
    * bounded. The oracle re-derives the same shingle lists with the
    * shared wordShinglesSql fragment and unnests them. */
  private def qUdtfShingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    docs(s, dir).createOrReplaceTempView("graft_docs_udtf")
    s.sql(
      """SELECT doc_id, CAST(count(*) AS INT) AS n_shingles,
        |       min(shingle) AS first_shingle
        |FROM graft_docs_udtf LATERAL VIEW graft_shingles(text, 3) g AS pos, shingle
        |GROUP BY doc_id""".stripMargin)
  }
  private val qUdtfShinglesSql = {
    val sh = wordShinglesSql
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |sh AS (SELECT doc_id, unnest($sh) s FROM toks)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_shingles,
       |       min(s) AS first_shingle
       |FROM sh GROUP BY doc_id""".stripMargin
  }

  /** Semi/anti joins (EXISTS / NOT EXISTS faces). The right side is
    * filtered to 'F'-status orders so BOTH buckets are non-empty in the
    * fixture (every customer has some order; 71 have no finished one) —
    * an empty anti side would make the oracle check trivially pass. */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Sources.table(s, dir, "customer")
    val f = Sources.table(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
    val withF = c.join(f, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey")).withColumn("bucket", lit("has_finished"))
    val withoutF = c.join(f, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey")).withColumn("bucket", lit("no_finished"))
    withF.union(withoutF)
  }
  private val qSemiAntiSql =
    """SELECT c_custkey, 'has_finished' AS bucket FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |UNION ALL
      |SELECT c_custkey, 'no_finished' AS bucket FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin

  /** Running total per customer over order time — cumulative window with
    * exact decimal arithmetic (order total is 2-dp). */
  private def qRunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Sources.table(s, dir, "orders")
      .withColumn("running_total",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("o_orderkey"), col("o_custkey"), col("running_total"))
  }
  private val qRunningTotalSql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
      |FROM orders""".stripMargin

  /** Skew-mitigated hot-key JOIN (the companion to q_salted_agg's salted
    * aggregation): customer joins nation on nationkey — 25 keys for the
    * whole customer table, the shape where one reducer would run the
    * entire shuffle join at 100 TB. Salting on c_custkey (independent of
    * the join key) spreads each hot key over 8 reducers; the MERGE hint
    * keeps it a real shuffle join so the salted plan is what runs. The
    * result is EXACTLY the unsalted join, so the oracle is the plain
    * JOIN + GROUP BY. */
  private def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Sources.table(s, dir, "customer")
    val n = Sources.table(s, dir, "nation")
      .withColumnRenamed("n_nationkey", "c_nationkey")
      .select(col("c_nationkey"), col("n_name"))
    Relational.saltedJoin(c, n, "c_nationkey", salts = 8,
      saltExpr = col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))
  }
  private val qSkewJoinSql =
    """SELECT n_name, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  /** Interval-containment (range) join, oracle-checked against DuckDB's
    * native inequality join: purchases matched to the 30-minute windows
    * opened by (a deterministic subset of) signups. The Spark side is
    * the bucketized equi-join formulation (hash join on a time grid +
    * residual range filter — no cartesian range predicate); grouped per
    * window to keep output bounded. */
  /** Spatial radius join (Relational.gridRadiusJoin): customers and
    * suppliers carry synthetic planar coordinates on a DYADIC grid
    * (k/1024 — exact binary fractions, so every squared distance is
    * an exact double and the verdict needs no rounding discipline).
    * The Spark side prunes through the 3x3 grid-cell join; the ORACLE
    * runs the brute-force quadratic join — so the gate passing proves
    * the grid candidate set loses NOTHING vs exhaustive search, the
    * spatial analogue of the LSH-vs-brute recall pins. */
  private def qGridJoin(s: SparkSession, dir: String): DataFrame = {
    def xy(df: DataFrame, idCol: String) = df.select(col(idCol),
      ((col(idCol) * 7919 % 1024).cast("double") / 1024.0).as("x"),
      ((col(idCol) * 104729 % 1024).cast("double") / 1024.0).as("y"))
    Relational.gridRadiusJoin(
      xy(Sources.table(s, dir, "customer"), "c_custkey"),
      xy(Sources.table(s, dir, "supplier"), "s_suppkey"),
      "c_custkey", "s_suppkey", "x", "y",
      cell = 0.0625, radius = 0.05)
  }
  private val qGridJoinSql =
    """WITH p AS (SELECT c_custkey id_a,
      |    CAST(c_custkey * 7919 % 1024 AS DOUBLE) / 1024.0 xa,
      |    CAST(c_custkey * 104729 % 1024 AS DOUBLE) / 1024.0 ya
      |  FROM customer),
      |q AS (SELECT s_suppkey id_b,
      |    CAST(s_suppkey * 7919 % 1024 AS DOUBLE) / 1024.0 xb,
      |    CAST(s_suppkey * 104729 % 1024 AS DOUBLE) / 1024.0 yb
      |  FROM supplier)
      |SELECT id_a, id_b,
      |  (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) dist2
      |FROM p, q
      |WHERE (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= 0.05 * 0.05"""
      .stripMargin

  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"))
    val windows = ev.filter(col("event_type") === "signup" && col("user_id") % 50 === 0)
      .select(col("event_id").as("iv_id"), col("ts").as("start_ts"),
        expr("ts + INTERVAL 30 MINUTES").as("end_ts"))
    Relational.rangeJoinByBucket(purchases, windows,
      "ts", "start_ts", "end_ts", bucketSeconds = 1800)
      .groupBy(col("iv_id"))
      .agg(count(lit(1)).as("n_purchases"),
        min(col("event_id")).as("first_purchase"))
  }
  private val qRangeJoinSql =
    """WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
      |w AS (SELECT event_id iv_id, ts st, ts + INTERVAL 30 MINUTE et
      |  FROM events WHERE event_type = 'signup' AND user_id % 50 = 0)
      |SELECT iv_id, count(*) AS n_purchases, min(p.event_id) AS first_purchase
      |FROM w JOIN p ON p.ts >= w.st AND p.ts < w.et
      |GROUP BY 1""".stripMargin

  /** The streaming tier's oracle-checked face: an ACTUAL Structured
    * Streaming run (readStream over the events parquet -> watermarked
    * hourly window aggregate -> memory sink), returned as the sink's
    * batch table. Complete mode emits every window, so the result equals
    * the batch hourly profile and shares q_event_window's oracle shape
    * (minus n_users — exact count-distinct is not a streaming aggregate).
    * Round 1 had this tier spec-only; this entry puts the streaming
    * machinery itself under the driver's DuckDB gate. */
  /** Stages the single-file events fixture under a temp DIRECTORY (the
    * file streaming source requires one) and returns it as a streaming
    * DataFrame with `ts` normalized to a timestamp (fixture generations
    * differ — see [[Sources.normalizeEventsTs]]).
    * Freshness-checked (size + mtime, not bare existence: a regenerated
    * fixture or an interrupted copy must not permanently desync the
    * stream from the oracle) and staged via temp-name + atomic move. */
  /** Pins spark.sql.shuffle.partitions to a small value around a
    * micro-batch run and restores it after. State-store INSTANCES
    * scale with the shuffle partition count (a stream-stream join
    * loads/commits 4 stores per partition per batch), so at this
    * fixture's state volume 32 partitions is pure fixed cost: measured
    * at sf0.1, q_stream_join 10.0s -> 3.8s and q_stream_left_join
    * 9.4s -> 2.8s warm at 8 partitions (2 was no better than 8). A
    * production deployment sizes this to state volume per partition —
    * the knob is the standard streaming-state sizing lever, not a
    * bench trick; results are partition-count-invariant (watermark
    * semantics are global) and every face stays under the same oracle
    * gate. The restore happens before the returned frame is evaluated,
    * so post-stream batch aggregation runs at the session's normal
    * parallelism. */
  private def withStreamStateParts[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try body finally s.conf.set(key, prev)
  }

  private def withStagedEventsStream(s: SparkSession, dir: String)
      (body: DataFrame => DataFrame): DataFrame = {
    val schema = Sources.eventsRaw(s, dir).schema
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val streamDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_events",
      java.lang.Integer.toHexString(dir.hashCode))
    java.nio.file.Files.createDirectories(streamDir)
    val dst = streamDir.resolve("events.parquet")
    val stale = !java.nio.file.Files.exists(dst) ||
      java.nio.file.Files.size(dst) != java.nio.file.Files.size(src) ||
      java.nio.file.Files.getLastModifiedTime(dst)
        .compareTo(java.nio.file.Files.getLastModifiedTime(src)) < 0
    if (stale) {
      val tmp = streamDir.resolve("events.parquet.tmp")
      java.nio.file.Files.copy(src, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.move(tmp, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val raw = s.readStream.schema(schema).parquet(streamDir.toString)
    withStreamStateParts(s)(body(Sources.normalizeEventsTs(raw)))
  }

  /** Embeddings staged as a file stream (same freshness-checked atomic
    * staging as [[withStagedEventsStream]]). */
  private def withStagedEmbeddingsStream(s: SparkSession, dir: String)
      (body: DataFrame => DataFrame): DataFrame = {
    val schema = emb(s, dir).schema
    val src = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    val streamDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_emb",
      java.lang.Integer.toHexString(dir.hashCode))
    java.nio.file.Files.createDirectories(streamDir)
    val dst = streamDir.resolve("embeddings.parquet")
    val stale = !java.nio.file.Files.exists(dst) ||
      java.nio.file.Files.size(dst) != java.nio.file.Files.size(src) ||
      java.nio.file.Files.getLastModifiedTime(dst)
        .compareTo(java.nio.file.Files.getLastModifiedTime(src)) < 0
    if (stale) {
      val tmp = streamDir.resolve("embeddings.parquet.tmp")
      java.nio.file.Files.copy(src, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.move(tmp, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    withStreamStateParts(s)(
      body(s.readStream.schema(schema).parquet(streamDir.toString)))
  }

  /** STREAMING embedding-drift monitor: the stream maintains
    * SimSearch.driftStats's per-(label, dim) decimal sums + counts (one
    * streaming aggregation, complete mode — decimal sums are exact and
    * associative, so incremental maintenance is lossless), and the
    * report derives from the sink per trigger via driftFromStats. The
    * result is BIT-IDENTICAL to the batch q_embed_drift (same oracle
    * SQL), which is the whole point: the monitor can run on the live
    * crawl and agree with the nightly batch number. */
  private def qStreamDrift(s: SparkSession, dir: String): DataFrame =
    withStagedEmbeddingsStream(s, dir) { em =>
      val stats = SimSearch.driftStats(em, "embedding", "label")
      val sink = "graft_stream_drift"
      val q = stats.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      // the memory sink is ALREADY driver-resident and bounded at
      // groups x dims rows; re-wrap it as a fresh frame because the
      // sink VIEW reuses one set of attribute ids and driftFromStats's
      // self-joins then fail resolution (MemoryPlan does not
      // deduplicate). No new scale hazard is introduced.
      val t = s.table(sink)
      SimSearch.driftFromStats(
        s.createDataFrame(t.collectAsList(), t.schema))
    }

  /** STREAMING categorical drift monitor: the stream maintains per-
    * event_type counts for the CURRENT half (complete mode — counts are
    * exact and associative, incremental maintenance lossless), the
    * even-id half is the static reference, and the chi-square report
    * runs over the (tiny, driver-resident) sink — bit-identical to the
    * batch q_chi_drift by construction, which is exactly the claim
    * under test: a drift monitor whose streaming deployment provably
    * computes the batch statistic. State = one row per category. */
  private def qStreamChiDrift(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val counts = ev.filter(col("event_id") % 2 === 1)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_cur"))
      val sink = "graft_stream_chi_drift"
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val cur = s.table(sink)
      val ref = events(s, dir).filter(col("event_id") % 2 === 0)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_ref"))
      // re-wrap the sink (attribute-id reuse, see qStreamDrift) and
      // feed the counts through the SAME report code as the batch face
      val curDf = s.createDataFrame(cur.collectAsList(), cur.schema)
      profile.NumericProfile.chiSquareDriftFromCounts(ref, curDf,
        "event_type")
    }

  /** Streaming PSI monitor: the stream maintains per-category counts
    * (complete-mode state) and the report feeds them through the SAME
    * `psiFromCounts` code the batch face uses — proving the count-
    * frame entry point's claim (one statistic, two deployments). Only
    * the genuinely-shifted comparison streams (the click/view slice);
    * the oracle is that comparison's half of q_psi_drift's SQL. */
  private def qStreamPsi(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val counts = ev.filter(col("event_type").isin("click", "view"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_cur"))
      val sink = "graft_stream_psi"
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val cur = s.table(sink)
      val ref = events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_ref"))
      val curDf = s.createDataFrame(cur.collectAsList(), cur.schema)
      profile.NumericProfile.psiFromCounts(ref, curDf, "event_type")
        .withColumn("comparison", lit("click_view_only"))
    }
  private val qStreamPsiSql: String =
    """SELECT n_categories, psi_r,
      |  CASE WHEN psi_r < 0.1 THEN 'stable'
      |    WHEN psi_r < 0.25 THEN 'moderate' ELSE 'shifted' END verdict,
      |  'click_view_only' comparison
      |FROM (
      |  SELECT CAST(count(*) AS BIGINT) n_categories,
      |    round(CAST(sum(CAST(round((CAST(n_cur1 AS DOUBLE) / t_cur
      |        - CAST(n_ref1 AS DOUBLE) / t_ref)
      |      * ln((CAST(n_cur1 AS DOUBLE) / t_cur)
      |        / (CAST(n_ref1 AS DOUBLE) / t_ref)), 8) AS DECIMAL(28,14)))
      |      AS DOUBLE), 6) psi_r
      |  FROM (
      |    SELECT COALESCE(n_ref, 0) + 1 n_ref1, COALESCE(n_cur, 0) + 1 n_cur1,
      |      CAST(sum(COALESCE(n_ref, 0) + 1) OVER () AS DOUBLE) t_ref,
      |      CAST(sum(COALESCE(n_cur, 0) + 1) OVER () AS DOUBLE) t_cur
      |    FROM (SELECT event_type cat, count(*) n_ref FROM events
      |          GROUP BY 1) rc
      |    FULL JOIN (SELECT event_type cat, count(*) n_cur FROM events
      |          WHERE event_type IN ('click', 'view') GROUP BY 1) cc
      |      USING (cat)))""".stripMargin

  private def qStreamHourly(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val prof = graft.streaming.StreamProfile.hourlyProfile(ev)
      val sink = "graft_stream_hourly"
      val q = prof.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_str"),
          col("event_type"), col("n_events"), col("sum_value"))
    }
  private val qStreamHourlySql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Append-mode streaming under the oracle gate (VERDICT r2 item 5):
    * unlike q_stream_hourly's complete mode — which re-emits every
    * window and so never exercises eviction — append mode emits a
    * window exactly once, when the watermark passes its end, and drops
    * its state. The memory sink therefore holds precisely the windows
    * whose end <= final watermark (Spark's eviction predicate is
    * `window.end <= watermark`, WatermarkSupport.watermarkExpression);
    * the oracle reproduces that horizon in SQL: watermark = ms-floored
    * max event time minus the 90-minute delay (Spark tracks event-time
    * stats in milliseconds). The fixture's max ts always carries
    * microseconds, so the <= boundary can never tie against an exact
    * hour end. The whole file arrives in ONE micro-batch, during which
    * the watermark is still at epoch 0 — so no input row is ever
    * late-dropped and the oracle needs no input-side filter; the
    * trailing no-data micro-batch then advances the watermark and
    * flushes the finalized windows. */
  private def qStreamAppend(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val prof = graft.streaming.StreamProfile
        .hourlyProfile(ev, watermark = "90 minutes")
      val sink = "graft_stream_append"
      val q = prof.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_str"),
          col("event_type"), col("n_events"), col("sum_value"))
    }
  /** Third streaming operator under the gate:
    * `dropDuplicatesWithinWatermark` over a derived key with real
    * collisions (event_id % 997). Dedup emits a row the first time a
    * key is seen and suppresses repeats inside the watermark horizon;
    * the whole fixture arrives in one micro-batch, so every repeat is
    * in-horizon and the emitted key set is EXACTLY the distinct key
    * set — which row carried it is nondeterministic, so the face
    * projects the key alone and aggregates. n_rows doubles as the
    * no-duplicate-emitted proof (it would exceed n_keys on a repeat,
    * and both would differ from the oracle's distinct count). */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val keyed = ev.withColumn("k", col("event_id") % 997)
      val dd = graft.streaming.StreamProfile
        .dedupEvents(keyed, Seq("k"), watermark = "2 hours")
        .select(col("k"))
      val sink = "graft_stream_dedup"
      val q = dd.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("k")).as("n_keys"),
        sum(col("k")).as("sum_k"))
    }
  /** Fourth streaming operator under the gate: custom keyed state via
    * `mapGroupsWithState` (runningUserStats). One micro-batch means the
    * state fn runs once per key and the update-mode memory sink holds
    * exactly one row per user; the projection keeps only the
    * deterministic fields (per-user event counts — the double total is
    * summed in partition order, so it stays spec-territory). */
  private def qStreamUserStats(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      import s.implicits._
      val typed = ev.filter(col("user_id") % 100 === 0)
        .select(col("user_id"), col("ts"),
          coalesce(col("value"), lit(0.0)).as("value"))
        .as[graft.streaming.StreamProfile.UserEvent]
      val stats = graft.streaming.StreamProfile.runningUserStats(typed)
      val sink = "graft_stream_user_stats"
      val q = stats.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).select(col("user_id"), col("n_events"))
    }
  private val qStreamUserStatsSql =
    """SELECT user_id, count(*) AS n_events
      |FROM events WHERE user_id % 100 = 0 GROUP BY 1""".stripMargin

  /** Streaming EWMA (StreamProfile.streamExpSmooth): ORDER-DEPENDENT
    * keyed state — each user's smoother folds the (sec, event_id)-
    * sorted sequence with the batch operator's exact integer
    * arithmetic, so the streamed series is bit-identical to batch
    * q_exp_smooth however the stream is micro-batched (the spec pins
    * a 2-batch split). Oracle = the batch face's SQL minus the
    * timestamp projection. */
  private def qStreamEwma(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      import s.implicits._
      val typed = ev.select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("sec"), col("value"))
        .as[graft.streaming.StreamProfile.SmoothEvent]
      val smoothed = graft.streaming.StreamProfile.streamExpSmooth(typed)
      val sink = "graft_stream_ewma"
      val q = smoothed.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).select(col("event_id"), col("user_id"),
        col("n_window"), col("ewma"))
    }
  private val qStreamEwmaSql =
    """WITH e AS (SELECT event_id, user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) sec,
      |    CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) v
      |  FROM events),
      |w AS (SELECT event_id, user_id,
      |    list(v) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) xs
      |  FROM e),
      |s AS (SELECT event_id, user_id, len(xs) L,
      |    CAST(list_sum(list_transform(range(len(xs)),
      |        j -> xs[CAST(j + 1 AS INT)] * (1::BIGINT << j))) AS DECIMAL(38,6)) num
      |  FROM w)
      |SELECT event_id, user_id, CAST(L AS INT) n_window,
      |  CAST(num AS DOUBLE) / CAST((1::BIGINT << L) - 1 AS DOUBLE) ewma
      |FROM s""".stripMargin

  /** Streaming KMV distinct-users monitor (StreamProfile
    * .streamKmvDistinct): the mergeable bottom-k-hash sketch as keyed
    * state — a min-set is order-free, so the streamed estimate is
    * bit-identical to the batch q_kmv_distinct however the stream is
    * chopped, and the oracle IS the batch face's SQL. */
  private def qStreamKmv(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      import s.implicits._
      // same 'rare' sparse-type injection as the batch face (shared
      // oracle): stream ∪ filtered stream keeps it a streaming DF
      val withRare = ev.select(col("event_type"), col("user_id")).union(
        ev.filter(col("user_id") % 40 === 0)
          .select(lit("rare").as("event_type"), col("user_id")))
      val hashed = withRare.select(col("event_type"),
          Hashing.hash64(col("user_id").cast("string")).as("h"))
        .as[(String, Long)]
      val sketch = graft.streaming.StreamProfile.streamKmvDistinct(hashed, k = 64)
      val sink = "graft_stream_kmv"
      val q = sketch.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      val ev0 = events(s, dir)
      val exact = ev0.select(col("event_type"), col("user_id")).union(
          ev0.filter(col("user_id") % 40 === 0)
            .select(lit("rare").as("event_type"), col("user_id")))
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      s.table(sink)
        .select(col("g").as("event_type"), col("n_kept"), col("kth_hash"),
          col("est_distinct"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_kept"), col("kth_hash"),
          round(col("est_distinct"), 4).as("est_r"), col("n_exact"),
          round((col("est_distinct") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4).as("err_r"))
    }
  // lazy: qKmvDistinctSql is declared later in this object — a strict
  // val here would capture null during object init
  private lazy val qStreamKmvSql = qKmvDistinctSql

  /** Streaming count-min monitor (Profiler.cmsSketch as a streaming
    * aggregate, r9): bucket counts are COMMUTATIVE keyed state bounded
    * by d*w cells — no custom state function needed, the streaming
    * groupBy IS the sketch — so the streamed sketch is bit-identical
    * to the batch build however the stream is micro-batched, and the
    * probe-side estimates (run batch-side against the streamed bucket
    * frame through the SAME Profiler.cmsEstimate code) match
    * q_cms_counts exactly: the oracle IS the batch face's SQL. The
    * 17th streaming face; the frequency-sketch sibling of
    * q_stream_kmv's distinct sketch. */
  private def qStreamCms(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val sketch = profile.Profiler.cmsSketch(
        ev.select(col("user_id")), "user_id", w = 64, d = 4)
      val sink = "graft_stream_cms"
      val q = sketch.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      profile.Profiler.cmsEstimate(s.table(sink), events(s, dir),
        "user_id", col("user_id") % 5 === 0, w = 64, d = 4)
    }
  private lazy val qStreamCmsSql = qCmsCountsSql

  /** Streaming heavy hitters over user_id: sharded Misra-Gries
    * candidates from the stream (bounded state), exact re-count +
    * floor(n*s)+1 threshold against the batch table — the re-count
    * makes the output sketch- and order-independent, so the oracle is
    * a plain GROUP BY / HAVING (the q_heavy_hitters discipline).
    * capacity 200 >= 1/support, the superset-guarantee condition. */
  private def qStreamTopk(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val cands = graft.streaming.StreamProfile
        .heavyHitterCandidates(ev, "user_id", capacity = 200, shards = 8)
      val sink = "graft_stream_topk"
      val q = cands.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      // union across shards and batches: a superset of a superset is
      // still a superset — the re-count discharges it either way
      val candKeys = s.table(sink)
        .select(explode(col("candidates")).as("k")).distinct()
      val batch = events(s, dir)
      val thresh = math.floor(batch.count() * 0.005).toLong + 1
      batch.withColumn("k", col("user_id").cast("string"))
        .join(broadcast(candKeys), Seq("k"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= thresh)
        .select(col("user_id"), col("cnt"))
    }
  private val qStreamTopkSql =
    """SELECT user_id, count(*) cnt FROM events GROUP BY 1
      |HAVING count(*) >=
      |  CAST(floor((SELECT count(*) FROM events) * 0.005) AS BIGINT) + 1""".stripMargin

  /** Fifth streaming face: flatMapGroupsWithState sessionization with
    * EVENT-TIME timeout (StreamProfile.streamingSessions). A session
    * reaches the sink exactly two ways — closed inline by a later
    * event > gap after its end (i.e. the user has a later session), or
    * closed by timeout once the final watermark passes end + gap. The
    * oracle rebuilds sessions with gaps-and-islands and applies the
    * same two-way predicate. The operator does MILLISECOND arithmetic
    * (java.sql.Timestamp.getTime), so the oracle ms-truncates event
    * times before gap comparisons; output renders to second precision.
    * Deterministic fields only (bounds + count — the value total sums
    * in iterator order for same-ms ties). */
  private def qStreamSessions(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      import s.implicits._
      val typed = ev.filter(col("user_id") % 50 === 0)
        .select(col("user_id"), col("ts"),
          coalesce(col("value"), lit(0.0)).as("value"))
        .withWatermark("ts", "2 hours")
        .as[graft.streaming.StreamProfile.UserEvent]
      val sess = graft.streaming.StreamProfile
        .streamingSessions(typed, gapMinutes = 30)
      val sink = "graft_stream_sessions"
      val q = sess.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("start_str"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("end_str"),
        col("n_events"))
    }
  private val qStreamSessionsSql =
    """WITH e AS (SELECT user_id, date_trunc('millisecond', ts) ts
      |  FROM events WHERE user_id % 50 = 0),
      |wm AS (SELECT max(ts) - INTERVAL 2 HOUR w FROM e),
      |s AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER
      |    (PARTITION BY user_id ORDER BY ts) IS NULL OR ts - lag(ts) OVER
      |    (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
      |  THEN 1 ELSE 0 END brk FROM e),
      |g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
      |  ORDER BY ts ROWS UNBOUNDED PRECEDING) grp FROM s),
      |sess AS (SELECT user_id, grp, min(ts) st, max(ts) en, count(*) n
      |  FROM g GROUP BY 1, 2),
      |last AS (SELECT user_id, max(grp) mg FROM sess GROUP BY 1)
      |SELECT sess.user_id,
      |  strftime(st, '%Y-%m-%d %H:%M:%S') AS start_str,
      |  strftime(en, '%Y-%m-%d %H:%M:%S') AS end_str,
      |  n AS n_events
      |FROM sess JOIN last ON sess.user_id = last.user_id, wm
      |WHERE grp < mg OR en + INTERVAL 30 MINUTE < wm.w""".stripMargin

  /** Sixth streaming face: stream-stream interval join
    * (StreamProfile.intervalJoin) — view→click attribution within 120
    * minutes per user. Both sides carry a 2-hour watermark and the
    * range condition bounds both state buffers. Inner-join emission is
    * not watermark-gated, so the emitted match set equals the batch
    * join and the oracle is the PLAIN SQL interval join; the face
    * aggregates per user (pair count + exact ms-delta sum) for a
    * deterministic frame. */
  /** Stream-static enrichment (eighth streaming face): streaming events
    * broadcast-join the static customer dimension per micro-batch
    * (stateless — no watermark, no state store), then a complete-mode
    * aggregate per (segment, event_type). The oracle is the plain batch
    * join+group: stream-static inner joins drop nothing and buffer
    * nothing, so batch equivalence is exact. */
  private def qStreamEnrich(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val dim = Sources.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = graft.streaming.StreamProfile
        .enrichEvents(ev, dim, "user_id", "c_custkey")
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      val sink = "graft_stream_enrich"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
    }
  private val qStreamEnrichSql: String =
    """SELECT c_mktsegment, event_type, count(*) n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2""".stripMargin

  private def qStreamJoin(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val base = ev.filter(col("user_id") % 10 === 0)
      val views = base.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val clicks = base.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = graft.streaming.StreamProfile.intervalJoin(
        views, clicks, "v_user", "c_user", "v_ts", "c_ts",
        withinMinutes = 120)
      val sink = "graft_stream_join"
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(unix_millis(col("c_ts")) - unix_millis(col("v_ts")))
            .as("sum_delta_ms"))
    }
  private val qStreamJoinSql =
    """WITH e AS (SELECT user_id, ts, event_type FROM events
      |    WHERE user_id % 10 = 0),
      |v AS (SELECT user_id, ts vts FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts cts FROM e WHERE event_type = 'click'),
      |j AS (SELECT v.user_id, vts, cts FROM v JOIN c
      |  ON v.user_id = c.user_id AND cts >= vts
      |    AND cts <= vts + INTERVAL 120 MINUTE)
      |SELECT user_id, count(*) AS n_pairs,
      |  CAST(sum(epoch_ms(cts) - epoch_ms(vts)) AS BIGINT) AS sum_delta_ms
      |FROM j GROUP BY 1""".stripMargin

  /** STREAM-STREAM LEFT OUTER interval join — the "did this view ever
    * convert?" shape. Append mode can only emit a null-matched left row
    * once the right-side watermark proves no future match can arrive,
    * so the unmatched tail (views within watermark+interval of the
    * stream's end) is legitimately WITHHELD in state: that eviction
    * boundary is the semantics under test, and the oracle mirrors it
    * explicitly — global watermark = min(max v_ts, max c_ts) - 2h,
    * unmatched views emitted iff v_ts + 120min < watermark. Matched
    * pairs emit unconditionally (inner-join results don't wait).
    *
    * 100 TB/day shape: state is bounded by (watermark delay + join
    * interval) of per-key left rows — eviction is what makes an
    * infinite stream joinable at all. */
  private def qStreamLeftJoin(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val base = ev.filter(col("user_id") % 10 === 1)
      val views = base.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val buys = base.filter(col("event_type") === "purchase")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = views.join(buys, expr(
        "v_user = c_user AND c_ts >= v_ts AND " +
          "c_ts <= v_ts + INTERVAL 120 MINUTES"), "left_outer")
      val sink = "graft_stream_left_join"
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).groupBy(col("v_user").as("user_id"))
        .agg(count(col("c_ts")).as("n_matched"),
          sum(when(col("c_ts").isNull, 1L).otherwise(0L)).as("n_unmatched"))
    }
  private val qStreamLeftJoinSql =
    """WITH e AS (SELECT user_id, ts, event_type FROM events
      |    WHERE user_id % 10 = 1),
      |v AS (SELECT user_id, ts vts FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, ts cts FROM e WHERE event_type = 'purchase'),
      |wm AS (SELECT least((SELECT max(vts) FROM v), (SELECT max(cts) FROM c))
      |    - INTERVAL 2 HOUR w),
      |j AS (SELECT v.user_id u, vts, cts FROM v LEFT JOIN c
      |  ON v.user_id = c.user_id AND cts >= vts
      |    AND cts <= vts + INTERVAL 120 MINUTE),
      |emit AS (SELECT * FROM j WHERE cts IS NOT NULL
      |  UNION ALL SELECT * FROM j WHERE cts IS NULL
      |    AND vts + INTERVAL 120 MINUTE < (SELECT w FROM wm))
      |SELECT u user_id, count(cts) n_matched,
      |  CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_unmatched
      |FROM emit GROUP BY 1""".stripMargin

  private val qStreamDedupSql =
    // n_keys mirrors Spark's countDistinct (null-excluding: count(k),
    // not count(*)) so a null event_id in a future fixture can't desync
    // the faces; n_rows counts the null-key row on both sides
    """WITH d AS (SELECT DISTINCT event_id % 997 AS k FROM events)
      |SELECT count(*) AS n_rows, count(k) AS n_keys,
      |  CAST(sum(k) AS BIGINT) AS sum_k FROM d""".stripMargin

  private val qStreamAppendSql =
    """WITH wm AS (
      |  SELECT date_trunc('millisecond', max(ts)) - INTERVAL 90 MINUTE w
      |  FROM events)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events, wm
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
      |GROUP BY 1, 2""".stripMargin

  /** STREAMING hourly data-quality monitor with EXACT user counts:
    * streaming distinct is unsupported, so the stream maintains a
    * per-(window, user) append aggregation (Spark 4 chained-stateful;
    * state = one row per active user per open window, watermark-
    * bounded) and the exact user cardinality is the COUNT of finalized
    * sink rows per window — sketch-free and oracle-checkable where the
    * production `qualityMonitor(exact = false)` keeps the HLL. Append
    * mode emits exactly the windows whose end <= final watermark (the
    * q_stream_append eviction predicate, mirrored in the oracle). */
  private def qStreamQuality(s: SparkSession, dir: String): DataFrame =
    withStagedEventsStream(s, dir) { ev =>
      val perUser = ev.withWatermark("ts", "90 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          count(when(col("value").isNull || isnan(col("value")), 1))
            .as("nn"))
      val sink = "graft_stream_quality"
      val q = perUser.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .groupBy(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_str"))
        .agg(sum(col("n")).as("n_events"), sum(col("nn")).as("n_null_value"),
          count(lit(1)).as("n_users"))
    }
  private val qStreamQualitySql =
    """WITH wm AS (
      |  SELECT date_trunc('millisecond', max(ts)) - INTERVAL 90 MINUTE w
      |  FROM events),
      |pu AS (SELECT date_trunc('hour', ts) h, user_id, count(*) n,
      |    count(CASE WHEN value IS NULL OR isnan(value) THEN 1 END) nn
      |  FROM events, wm
      |  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
      |  GROUP BY 1, 2)
      |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') hour_str,
      |  CAST(sum(n) AS BIGINT) n_events, CAST(sum(nn) AS BIGINT) n_null_value,
      |  count(*) n_users
      |FROM pu GROUP BY 1""".stripMargin

  /** Observation-metrics surface (`Dataset.observe`): pipeline-health
    * counters collected ON THE SIDE of a real pass — the production
    * idiom for "how many rows / how much money / how many nulls flowed
    * through this stage" without a second scan. The observed values
    * are returned as the query result; the oracle recomputes them
    * declaratively. At 100 TB this is the zero-extra-cost monitoring
    * hook (metrics ride the task results), vs. a doubled scan for a
    * separate metrics query. */
  private def qObserveMetrics(s: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation()
    val l = Sources.table(s, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        count(when(col("l_discount") > 0.05, 1)).as("n_discounted"))
    // one real action drives both the pass and the metrics
    l.write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("sum_qty").asInstanceOf[Double],
      m("n_discounted").asInstanceOf[Long]))
      .toDF("n_rows", "sum_qty", "n_discounted")
  }
  private val qObserveMetricsSql =
    """SELECT count(*) n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty,
      |  count(CASE WHEN l_discount > 0.05 THEN 1 END) n_discounted
      |FROM lineitem""".stripMargin

  /** Window-function panel over per-customer order sequences: lag/lead
    * with defaults, ntile, percent_rank, cume_dist — the ranking-
    * function SQL surface in one face, total-ordered by (date, key). */
  private def qWindowPanel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Sources.table(s, dir, "orders")
      .filter(col("o_custkey") % 50 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1, -1L).over(w).as("prev_ok"),
        lead(col("o_orderkey"), 1, -1L).over(w).as("next_ok"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
  }
  private val qWindowPanelSql =
    """SELECT o_custkey, o_orderkey,
      |  COALESCE(lag(o_orderkey, 1) OVER w, -1) prev_ok,
      |  COALESCE(lead(o_orderkey, 1) OVER w, -1) next_ok,
      |  CAST(ntile(4) OVER w AS INT) quartile,
      |  round(percent_rank() OVER w, 6) prank,
      |  round(cume_dist() OVER w, 6) cdist
      |FROM orders WHERE o_custkey % 50 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Interpolated percentiles via SQL percentile_cont on the integer
    * n_chars grid — the (n-1)*q linear-interpolation definition is
    * identical in both engines, and on an int grid the arithmetic is
    * parity-safe (the quantilePanel discipline's continuous sibling). */
  private def qPercentileCont(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir).createOrReplaceTempView("graft_docs_pc")
    s.sql(
      """SELECT lang, count(*) n,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars), 6) p50,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars), 6) p90
        |FROM graft_docs_pc GROUP BY lang""".stripMargin)
  }
  private val qPercentileContSql =
    """SELECT lang, count(*) n,
      |  round(quantile_cont(n_chars, 0.5), 6) p50,
      |  round(quantile_cont(n_chars, 0.9), 6) p90
      |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Gopher repetition filters (Repetition.scala)
  // ------------------------------------------------------------------
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    Repetition.withRepetitionStats(docs(s, dir), "text")
      .select(col("doc_id"), col("n_lines"), col("dup_line_frac"),
        col("dup_line_char_frac"), col("top2_char_frac"),
        col("top3_char_frac"), col("dup5_char_frac"))

  private def qGopherFilter(s: SparkSession, dir: String): DataFrame =
    Repetition.withGopherFilter(docs(s, dir), "text")
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        col("keep"), col("reasons"))

  /** Intra-doc repeated-span removal (Repetition.removeRepeatedSpans):
    * docs with doc_id % 7 == 0 are self-concatenated (the doubled-body
    * crawl artifact) so the removal path is exercised hard; natural
    * docs carry no repeated 10-gram (verified against the fixtures) and
    * must come through untouched. clean_text is hash-checked — match
    * extent, not just counts. */
  private def qIntradocDedup(s: SparkSession, dir: String): DataFrame = {
    val doubled = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
    Repetition.removeRepeatedSpans(doubled, "text", n = 10)
      .select(col("doc_id"), col("n_tokens"), col("n_dup_spans"),
        col("n_removed"), col("clean_text"))
  }
  private val qIntradocDedupSql: String = {
    val gram10 = (1 to 10).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""WITH base AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
       |  FROM documents),
       |toks AS (SELECT doc_id, ${toksSql("text")} t FROM base),
       |g AS (SELECT doc_id, t,
       |    list_transform(range(len(t) - 9), i -> $gram10) gr FROM toks),
       |gp AS (SELECT doc_id, t, list_transform(range(len(gr)),
       |    i -> struct_pack(g := gr[i+1], p := i)) pr FROM g),
       |srt AS (SELECT doc_id, t, list_sort(pr) s FROM gp),
       |dup AS (SELECT doc_id, t, list_filter(
       |    list_transform(range(len(s)), i -> CASE
       |      WHEN i >= 1 AND s[i].g = s[i+1].g THEN s[i+1].p ELSE -1 END),
       |    x -> x >= 0) d FROM srt),
       |cov AS (SELECT doc_id, t, d, list_distinct(flatten(
       |    list_transform(d, x -> range(x, x + 10)))) c FROM dup),
       |kept AS (SELECT doc_id, len(t) n_tokens, len(d) n_dup_spans,
       |    list_filter(list_transform(range(len(t)),
       |      i -> struct_pack(tok := t[i+1], p := i)),
       |      e -> NOT list_contains(c, e.p)) k
       |  FROM cov)
       |SELECT doc_id, CAST(n_tokens AS INT) n_tokens,
       |  CAST(n_dup_spans AS INT) n_dup_spans,
       |  CAST(n_tokens - len(k) AS INT) n_removed,
       |  array_to_string(list_transform(k, e -> e.tok), ' ') clean_text
       |FROM kept""".stripMargin
  }

  /** C4 line filter: the cleaned text is hash-checked (match EXTENT, not
    * just counts — same discipline as q_pii_redact). The documents corpus
    * is single-line word soup (every line would fail every rule — a
    * degenerate face), so both engines derive the SAME 7-line fixture per
    * doc, designed so each C4 rule fires on a distinct line: terminal
    * punctuation keep, min-words drop, blocklist drop, no-punct drop,
    * lorem-ipsum page drop (%11), curly-brace page drop (%13). */
  private def qC4Filter(s: SparkSession, dir: String): DataFrame = {
    val fixture = docs(s, dir).select(col("doc_id"),
      concat_ws("\n",
        concat(col("text"), lit(".")),
        lit("Short line."),
        lit("Please enable javascript to continue reading today."),
        substring(col("text"), 1, 40),
        when(col("doc_id") % 11 === 0,
          lit("lorem ipsum dolor sit amet consectetur."))
          .otherwise(lit("A perfectly normal closing sentence appears right here.")),
        lit("The quick brown fox jumps over the lazy dog today."),
        when(col("doc_id") % 13 === 0, lit("function f() { return 1; }"))
          .otherwise(lit("Privacy policy pages are excluded from the corpus."))
      ).as("text"))
    TextStats.withC4Filter(fixture, "text")
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        Hashing.hash64(col("clean_text")).as("clean_h"),
        col("has_lorem"), col("has_brace"), col("keep_page"))
  }

  /** Z-order face: Morton key over (l_orderkey, l_partkey), global
    * top-100 by (z, keys) — TakeOrderedAndProject, no full sort. */
  /** Compaction planner over a synthetic per-day file listing derived
    * from orders (count*200 bytes per order-date "file") — next-fit
    * groups toward 256 KiB, then per-group file counts and byte totals.
    * DuckDB's window sum yields HUGEINT, so the oracle casts the group
    * id and totals back to BIGINT; `//` (floor) vs Spark `div`
    * (truncate) agree because the exclusive prefix sum is never
    * negative. */
  private def qCompaction(s: SparkSession, dir: String): DataFrame = {
    val files = Sources.table(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("path"))
      .agg((count(lit(1)) * 200).as("bytes"))
    Layout.compactionPlan(files, "path", "bytes", targetBytes = 262144L)
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("group_bytes"))
  }
  private val qCompactionSql =
    """WITH f AS (SELECT strftime(o_orderdate, '%Y-%m-%d') path,
      |    CAST(count(*) * 200 AS BIGINT) bytes FROM orders GROUP BY 1),
      |c AS (SELECT path, bytes, sum(bytes) OVER (ORDER BY path
      |    ROWS UNBOUNDED PRECEDING) cum FROM f),
      |g AS (SELECT path, bytes,
      |    CAST((cum - bytes) // 262144 AS BIGINT) group_id FROM c)
      |SELECT group_id, count(*) AS n_files,
      |  CAST(sum(bytes) AS BIGINT) AS group_bytes
      |FROM g GROUP BY 1""".stripMargin

  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
    l.select(col("l_orderkey"), col("l_partkey"),
      ext.Layout.zorder64(col("l_orderkey"), col("l_partkey")).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_partkey"))
      .limit(100)
  }

  /** The 5-step magic-number spread as a generated CTE chain (linear
    * SQL size; inlining would duplicate the base expression 2^5 times).
    * Ends in `zf(a, b, z)` — shared by the z-order and z-prune oracles. */
  private def zSpreadCtes(table: String, a: String, b: String): String = {
    val masks = Seq(
      (16, "281470681808895"), (8, "71777214294589695"),
      (4, "1085102592571150095"), (2, "3689348814741910323"),
      (1, "6148914691236517205"))
    val z0 = s"z0 AS (SELECT $a, $b, " +
      s"$a & 4294967295 va, $b & 4294967295 vb FROM $table)"
    val steps = masks.zipWithIndex.map { case ((s, m), i) =>
      s"z${i + 1} AS (SELECT $a, $b, " +
        s"((va | (va << $s)) & $m) va, ((vb | (vb << $s)) & $m) vb FROM z$i)"
    }
    s"""$z0,
       |${steps.mkString(",\n")},
       |zf AS (SELECT $a a, $b b, (va | (vb << 1)) z FROM z${masks.size})""".stripMargin
  }
  private val qZorderSql: String =
    s"""WITH ${zSpreadCtes("lineitem", "l_orderkey", "l_partkey")}
       |SELECT a l_orderkey, b l_partkey, z
       |FROM zf ORDER BY z, a, b LIMIT 100""".stripMargin

  /** Data-skipping payoff report: per-z-range file envelopes over
    * (l_orderkey, l_partkey) plus would-scan flags for one range
    * predicate on EACH column — the checkable form of z-order's claim
    * that min/max stats prune scans filtered on either dimension.
    * file_id = z div 2^20 (deterministic fixed z grid, no sampled range
    * boundaries, no global window; ~128 buckets at sf0.01). */
  private def qZPrune(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
    Layout.zRangeFileStats(l, "l_orderkey", "l_partkey", 20)
      .withColumn("scan_for_orderkey",
        col("max_l_orderkey") >= 1000L && col("min_l_orderkey") <= 2000L)
      .withColumn("scan_for_partkey",
        col("max_l_partkey") >= 100L && col("min_l_partkey") <= 150L)
  }
  private val qZPruneSql: String =
    s"""WITH ${zSpreadCtes("lineitem", "l_orderkey", "l_partkey")},
       |f AS (SELECT z // ${1L << 20} file_id, a, b FROM zf),
       |agg AS (SELECT file_id, count(*) n_rows,
       |    min(a) min_l_orderkey, max(a) max_l_orderkey,
       |    min(b) min_l_partkey, max(b) max_l_partkey
       |  FROM f GROUP BY 1)
       |SELECT file_id, n_rows, min_l_orderkey, max_l_orderkey,
       |  min_l_partkey, max_l_partkey,
       |  (max_l_orderkey >= 1000 AND min_l_orderkey <= 2000) scan_for_orderkey,
       |  (max_l_partkey >= 100 AND min_l_partkey <= 150) scan_for_partkey
       |FROM agg""".stripMargin

  /** Diff face: the "next crawl" is derived deterministically from the
    * documents table — %97 ids dropped, %13 ids edited, %31 ids cloned
    * under a shifted id — so both engines diff identical snapshots. */
  private def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val after = d.filter(col("doc_id") % 97 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))
      .unionByName(d.filter(col("doc_id") % 31 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    Dedup.corpusDiff(d, after, "doc_id", "text")
      .select(col("id").as("doc_id"), col("status"))
  }

  private val qCorpusDiffSql: String =
    s"""WITH a AS (SELECT doc_id, md5(${normSql("COALESCE(text, '')")}) fp_a FROM documents),
       |aft AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 13 = 0 THEN text || ' edited' ELSE text END AS "text"
       |  FROM documents WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 31 = 0),
       |b AS (SELECT doc_id, md5(${normSql("COALESCE(text, '')")}) fp_b FROM aft),
       |j AS (SELECT COALESCE(a.doc_id, b.doc_id) doc_id,
       |    CASE WHEN a.fp_a IS NULL THEN 'added'
       |         WHEN b.fp_b IS NULL THEN 'removed'
       |         WHEN a.fp_a <> b.fp_b THEN 'changed' END status
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT doc_id, status FROM j WHERE status IS NOT NULL""".stripMargin

  /** Decontamination face: docs with doc_id % 50 == 0 play the eval
    * benchmark; the rest are the training corpus. */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.decontaminate(
      d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      d.filter(col("doc_id") % 50 === 0), "text", n = 13)
      .select(col("id").as("doc_id"), col("n_contaminated_grams"))
  }

  /** Bloom-prefiltered decontamination — same split as q_decontaminate,
    * routed through [[Dedup.decontaminateBloom]]. The Bloom prefilter is
    * exact-confirmed, so the ORACLE IS THE EXACT PATH's SQL: any false
    * positive leaking through (or true hit dropped) breaks the hash. */
  private def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.decontaminateBloom(
      d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      d.filter(col("doc_id") % 50 === 0), "text", n = 13)
      .select(col("id").as("doc_id"), col("n_contaminated_grams"))
  }

  /** Run-extent decontamination (Dedup.decontaminateRuns): the
    * benchmark = the %50 eval split PLUS injected QUOTES — for every
    * corpus doc with doc_id % 17 = 3 and >= 30 tokens, a bench doc
    * (doc_id + 2000000) whose text is tokens 6..30 of the source (a
    * verbatim 25-token quote, rebuilt identically in both engines from
    * the normalized token stream) — so the face measures real quote
    * extents, not just the one natural >= 13-token overlap the fixture
    * happens to contain. Output per contaminated corpus doc: longest
    * verbatim quote, total runs, distinct bench docs hit. The oracle
    * mirrors postings, both caps, the cross join, and the island
    * merge. */
  private def qDecontaminateRuns(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val toks = TextStats.tokens(TextStats.normalized(col("text")))
    val quotes = d.filter(col("doc_id") % 50 =!= 0)
      .filter(col("doc_id") % 17 === 3)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        toks.as("__t"))
      .filter(size(col("__t")) >= 30)
      .select(col("doc_id"), concat_ws(" ", slice(col("__t"), 6, 25))
        .as("text"))
    val bench = d.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(quotes)
    Dedup.decontaminateRuns(
      d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      bench, "doc_id", "text", minRun = 13, maxBucket = 64)
      .groupBy(col("id").as("doc_id"))
      .agg(max(col("run_tokens")).as("max_run_tokens"),
        count(lit(1)).as("n_runs"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }
  private val qDecontaminateRunsSql: String = {
    val L = 13
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |corpus AS (SELECT doc_id, t FROM toks WHERE doc_id % 50 <> 0),
       |bench AS (
       |  SELECT doc_id, t FROM toks WHERE doc_id % 50 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, list_slice(t, 6, 30) FROM corpus
       |  WHERE doc_id % 17 = 3 AND len(t) >= 30),
       |cg AS (SELECT doc_id, unnest(range(len(t) - $L + 1)) pos, t
       |  FROM corpus WHERE len(t) >= $L),
       |cp0 AS (SELECT doc_id, pos,
       |  ${Hashing.hash64Sql(s"array_to_string(list_slice(t, pos + 1, pos + $L), ' ')")} h
       |  FROM cg),
       |cp AS (SELECT doc_id, pos, h FROM (
       |  SELECT *, count(*) OVER (PARTITION BY h) bs FROM cp0)
       |  WHERE bs <= 64),
       |bg AS (SELECT doc_id, unnest(range(len(t) - $L + 1)) pos, t
       |  FROM bench WHERE len(t) >= $L),
       |bp0 AS (SELECT doc_id, pos,
       |  ${Hashing.hash64Sql(s"array_to_string(list_slice(t, pos + 1, pos + $L), ' ')")} h
       |  FROM bg),
       |bp AS (SELECT doc_id, pos, h FROM (
       |  SELECT *, count(*) OVER (PARTITION BY h) bs FROM bp0)
       |  WHERE bs <= 64),
       |pr AS (SELECT a.doc_id da, b.doc_id db, a.pos pa, b.pos pb
       |  FROM cp a JOIN bp b ON a.h = b.h),
       |isl AS (SELECT da, db, pa - pb diag, pa,
       |    pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) isl
       |  FROM pr),
       |runs AS (SELECT da, db, diag, isl,
       |    count(*) + $L - 1 run_tokens FROM isl GROUP BY 1, 2, 3, 4)
       |SELECT da doc_id,
       |  CAST(max(run_tokens) AS BIGINT) max_run_tokens,
       |  CAST(count(*) AS BIGINT) n_runs,
       |  CAST(count(DISTINCT db) AS BIGINT) n_bench_docs
       |FROM runs GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Word-13-gram CASE over a token list column `t` — shared by the
    * decontamination oracle and the prep-pipeline oracle (one source of
    * truth, same convention as [[wordShinglesSql]]). */
  private val word13GramSql: String = {
    val gram13 = (1 to 13).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""CASE WHEN len(t) >= 13
       | THEN list_distinct(list_transform(range(len(t) - 12), i -> $gram13))
       | ELSE [array_to_string(t, ' ')] END""".stripMargin
  }

  private val qDecontaminateSql: String = {
    val sh13 = word13GramSql
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hashed AS (SELECT doc_id,
       |    list_transform($sh13, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |bench AS (SELECT DISTINCT unnest(h) hash FROM hashed
       |  WHERE doc_id % 50 = 0),
       |corp AS (SELECT doc_id, unnest(h) hash FROM hashed
       |  WHERE doc_id % 50 <> 0)
       |SELECT corp.doc_id, count(*) n_contaminated_grams
       |FROM corp JOIN bench USING (hash)
       |GROUP BY 1""".stripMargin
  }

  /** End-to-end prep pipeline: exact dedup -> decontaminate (13-grams vs
    * the doc_id%50=0 "benchmark") -> chunk (64/48) -> per-source yield
    * report. Every stage reuses an oracle SQL fragment that already
    * gates the standalone operator. */
  private def qPrepPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ext.CorpusPipeline.prepare(
      d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", "source",
      d.filter(col("doc_id") % 50 === 0), "text",
      window = 64, stride = 48, n = 13)
  }
  private val qPrepPipelineSql: String = {
    val sh13 = word13GramSql
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hashed AS (SELECT doc_id,
       |    list_transform($sh13, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |keep AS (SELECT min(doc_id) doc_id FROM documents
       |  WHERE doc_id % 50 <> 0 GROUP BY md5(${normSql("text")})),
       |corp0 AS (SELECT d.doc_id, d.source FROM documents d
       |  JOIN keep USING (doc_id)),
       |bench AS (SELECT DISTINCT unnest(h) hash FROM hashed WHERE doc_id % 50 = 0),
       |contam AS (SELECT DISTINCT cg.doc_id FROM (
       |    SELECT h.doc_id, unnest(h.h) hash FROM hashed h
       |    JOIN corp0 USING (doc_id)) cg
       |  JOIN bench USING (hash)),
       |s2 AS (SELECT c.doc_id, c.source FROM corp0 c
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM contam)),
       |st AS (SELECT s2.doc_id, s2.source, CAST(len(t.t) AS INT) n
       |  FROM s2 JOIN toks t USING (doc_id) WHERE len(t.t) > 0),
       |s3 AS (SELECT doc_id, source, n,
       |    1 + CAST(ceil(CAST(greatest(n - 64, 0) AS DOUBLE) / 48) AS INT) nchunks
       |  FROM st),
       |ch AS (SELECT doc_id, source, n, unnest(range(nchunks)) ci FROM s3)
       |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) n_docs,
       |  CAST(count(*) AS BIGINT) n_chunks,
       |  CAST(sum(least(64, n - ci * 48)) AS BIGINT) sum_chunk_tokens
       |FROM ch GROUP BY 1""".stripMargin
  }

  private def qDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.nearDuplicates(d, "doc_id", "text",
      threshold = 0.5, shingleN = 3, k = 16, bands = 4, maxBucket = 64)
    Dedup.dedupSurvivors(d, "doc_id", pairs)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Survivors = docs minus non-min-labeled component members; reuses
    * the cluster SQL so the two oracles cannot drift apart. */
  private lazy val qDedupSurvivorsSql: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (
       |  SELECT doc_id FROM ($qDedupClustersSql) c
       |  WHERE c.doc_id <> c.cluster_id)""".stripMargin

  /** Policy-driven survivor selection (Dedup.dedupSurvivorsByPolicy):
    * within each near-dup cluster keep the src0 copy if one exists,
    * else the longest, ties to the smallest id — the canonical-source
    * curation knob vs q_dedup_survivors' min-id pick. Shares the
    * cluster SQL. */
  private def qSurvivorPolicy(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.nearDuplicates(d, "doc_id", "text",
      threshold = 0.5, shingleN = 3, k = 16, bands = 4, maxBucket = 64)
    Dedup.dedupSurvivorsByPolicy(d, "doc_id", pairs,
      struct((col("source") === "src0").cast("int").as("p1"),
        col("n_chars").as("p2")))
      .select(col("doc_id"), col("lang"), col("source"))
  }
  private lazy val qSurvivorPolicySql: String =
    s"""WITH cl AS ($qDedupClustersSql),
       |pr AS (SELECT cl.doc_id, cl.cluster_id,
       |    CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END p1, d.n_chars p2
       |  FROM cl JOIN documents d USING (doc_id)),
       |keep AS (SELECT doc_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY p1 DESC, p2 DESC, doc_id ASC) rn FROM pr)
       |  WHERE rn = 1)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (
       |  SELECT pr.doc_id FROM pr LEFT JOIN keep k ON k.doc_id = pr.doc_id
       |  WHERE k.doc_id IS NULL)""".stripMargin

  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.nearDuplicates(docs(s, dir), "doc_id", "text",
      threshold = 0.5, shingleN = 3, k = 16, bands = 4, maxBucket = 64)
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  /** Oracle = the minhash pair SQL wrapped in a recursive transitive
    * closure (declarative mirror — fine at oracle scale; the Scala side
    * is the O(diameter)-round distributed propagation). */
  private lazy val qDedupClustersSql: String =
    s"""WITH RECURSIVE base AS (
       |  SELECT id_a, id_b FROM ($qDedupMinhashSql) mh),
       |sym AS (SELECT id_a a, id_b b FROM base
       |  UNION SELECT id_b, id_a FROM base),
       |reach(id, r) AS (
       |  SELECT a, a FROM sym
       |  UNION
       |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.id = s.b)
       |SELECT id AS doc_id, min(r) AS cluster_id
       |FROM reach GROUP BY 1""".stripMargin

  private def qMadOutliers(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.madOutliers(events(s, dir), "value",
      "event_type", k = 3.5)
      .select(col("event_type"), col("n_rows"), col("med"), col("mad"),
        col("n_outliers"))

  private val qMadOutliersSql: String =
    """WITH med AS (SELECT event_type, round(median(value), 4) med
      |  FROM events GROUP BY 1),
      |mad AS (SELECT e.event_type, round(median(abs(e.value - m.med)), 4) mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY 1),
      |j AS (SELECT e.event_type, e.value, m.med, d.mad
      |  FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type))
      |SELECT event_type, count(*) n_rows, min(med) med, min(mad) mad,
      |  count(CASE WHEN abs(value - med) > 3.5 * mad THEN 1 END) n_outliers
      |FROM j GROUP BY 1""".stripMargin

  /** Embedding-corruption screen: per-label MAD outliers over vector
    * NORMS on a corpus with injected 10x-rescaled rows (the broken
    * encoder / wrong-normalization failure mode — norms are the
    * cheapest place it shows). Composes SimSearch.norm with
    * NumericProfile.madOutliers; norms rounded@6 re-enter the
    * median/MAD chain under the q_mad_outliers convention. */
  private def qEmbedOutliers(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir).select(col("vec_id"), col("label"),
      SimSearch.toDouble(col("embedding")).as("v"))
    val corrupt = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("label"),
        transform(col("v"), x => x * 10).as("v"))
    val norms = base.union(corrupt)
      .select(col("label"),
        round(SimSearch.norm(col("v")), 6).as("nrm"))
    graft.profile.NumericProfile.madOutliers(norms, "nrm", "label", k = 3.5)
      .select(col("label"), col("n_rows"), col("med"), col("mad"),
        col("n_outliers"))
  }
  private val qEmbedOutliersSql: String =
    """WITH b AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      |c AS (SELECT vec_id + 1000000 vec_id, label,
      |    list_transform(v, x -> x * 10) v FROM b WHERE vec_id % 25 = 0),
      |a AS (SELECT label, round(sqrt(list_dot_product(v, v)), 6) nrm
      |  FROM (SELECT * FROM b UNION ALL SELECT * FROM c)),
      |med AS (SELECT label, round(median(nrm), 4) med FROM a GROUP BY 1),
      |mad AS (SELECT e.label, round(median(abs(e.nrm - m.med)), 4) mad
      |  FROM a e JOIN med m USING (label) GROUP BY 1),
      |j AS (SELECT e.label, e.nrm, m.med, d.mad
      |  FROM a e JOIN med m USING (label) JOIN mad d USING (label))
      |SELECT label, count(*) n_rows, min(med) med, min(mad) mad,
      |  count(CASE WHEN abs(nrm - med) > 3.5 * mad THEN 1 END) n_outliers
      |FROM j GROUP BY 1""".stripMargin

  private def qMovingAvg(s: SparkSession, dir: String): DataFrame =
    EventsOps.movingAverage(events(s, dir), windowSec = 3600)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("n_window"),
        col("avg_window"))

  private val qMovingAvgSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
      |    CAST(floor(epoch(ts)) AS BIGINT) sec,
      |    CAST(value AS DECIMAL(18,2)) v
      |  FROM events)
      |SELECT event_id, user_id, ts_us,
      |  count(*) OVER w n_window,
      |  CAST(sum(v) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE) avg_window
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Adjusted EWMA at alpha=1/2 per user over a 20-row trailing history
    * (EventsOps.expSmooth): the powers-of-two smoothing constant makes
    * every weight an exact integer, so the whole face is decimal
    * integer arithmetic with ONE double division at the end (operator
    * scaladoc has the derivation). Oracle rebuilds the frame list with
    * a window list() in the same (sec, event_id) total order and
    * mirrors the 2^position weight sum verbatim. */
  private def qExpSmooth(s: SparkSession, dir: String): DataFrame =
    EventsOps.expSmooth(events(s, dir), span = 20)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("n_window"), col("ewma"))
  private val qExpSmoothSql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
      |    CAST(floor(epoch(ts)) AS BIGINT) sec,
      |    CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(18,6)) v
      |  FROM events),
      |w AS (SELECT event_id, user_id, ts_us,
      |    list(v) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) xs
      |  FROM e),
      |s AS (SELECT event_id, user_id, ts_us, len(xs) L,
      |    CAST(list_sum(list_transform(range(len(xs)),
      |        j -> xs[CAST(j + 1 AS INT)] * (1::BIGINT << j))) AS DECIMAL(38,6)) num
      |  FROM w)
      |SELECT event_id, user_id, ts_us, CAST(L AS INT) n_window,
      |  CAST(num AS DOUBLE) / CAST((1::BIGINT << L) - 1 AS DOUBLE) ewma
      |FROM s""".stripMargin

  private def qLexical(s: SparkSession, dir: String): DataFrame =
    Repetition.withLexicalDiversity(docs(s, dir), "text")
      .select(col("doc_id"), col("n_tokens_lex"), col("n_types"),
        col("type_token_ratio"), col("gini_diversity"))

  private val qLexicalSql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} toks FROM documents),
       |cnt AS (SELECT doc_id, tok, count(*) c
       |  FROM (SELECT doc_id, unnest(toks) tok FROM t) GROUP BY 1, 2),
       |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n,
       |    CAST(count(*) AS BIGINT) n_ty, CAST(sum(c * c) AS BIGINT) sq
       |  FROM cnt GROUP BY 1)
       |SELECT t.doc_id,
       |  COALESCE(s.n, 0) n_tokens_lex, COALESCE(s.n_ty, 0) n_types,
       |  CASE WHEN s.n > 0 THEN CAST(s.n_ty AS DOUBLE) / CAST(s.n AS DOUBLE)
       |    ELSE 0.0 END type_token_ratio,
       |  CASE WHEN s.n > 0
       |    THEN 1.0 - CAST(s.sq AS DOUBLE) / CAST(s.n * s.n AS DOUBLE)
       |    ELSE 0.0 END gini_diversity
       |FROM t LEFT JOIN s USING (doc_id)""".stripMargin

  private def qVocab(s: SparkSession, dir: String): DataFrame =
    TextStats.buildVocab(docs(s, dir), "text", maxSize = 500, minCount = 2)

  /** HTML -> text extraction: documents wrapped in deterministic HTML
    * (tags, a style block, a script block containing a bare '<', the
    * core entities), then stripped back. The `ok` column proves the
    * round trip recovers the original text exactly; both engines
    * synthesize AND strip with the identical regex chain (RE2 ∩
    * java.util.regex subset). The script body's `1 < 2` guards the
    * order of operations: script blocks must drop before tag removal,
    * or the stray '<' swallows text. */
  private def qHtmlStrip(s: SparkSession, dir: String): DataFrame = {
    val head = "<html><head><style>p { color: red; }</style>" +
      "<script type=\"text/javascript\">if (1 < 2) { go(\"x\"); }</script>" +
      "</head><body><h1>Doc "
    val html = concat(lit(head), col("doc_id").cast("string"),
      lit("</h1><p>"), regexp_replace(col("text"), " ", " <br/> "),
      lit(" &amp; tail &#39;quoted&#39;</p></body></html>"))
    val expected = concat(lit("Doc "), col("doc_id").cast("string"),
      lit(" "), trim(regexp_replace(col("text"), "\\s+", " ")),
      lit(" & tail 'quoted'"))
    docs(s, dir)
      .select(col("doc_id"), html.as("html"), expected.as("expected"))
      .select(col("doc_id"),
        regexp_count(col("html"), lit("<[^>]*>")).cast("long").as("n_tags"),
        TextStats.stripHtml(col("html")).as("clean"), col("expected"))
      .select(col("doc_id"), col("n_tags"),
        length(col("clean")).cast("long").as("clean_len"),
        (col("clean") === col("expected")).as("ok"))
  }
  private val qHtmlStripSql: String = {
    val strip =
      """trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(html,
        |        '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |        '(?s)<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', chr(38)),
        |    '\s+', ' ', 'g'))""".stripMargin
    s"""WITH h AS (SELECT doc_id,
       |    '<html><head><style>p { color: red; }</style>' ||
       |    '<script type="text/javascript">if (1 < 2) { go("x"); }</script>' ||
       |    '</head><body><h1>Doc ' || doc_id || '</h1><p>' ||
       |    regexp_replace(text, ' ', ' <br/> ', 'g') ||
       |    ' &amp; tail &#39;quoted&#39;</p></body></html>' html,
       |    'Doc ' || doc_id || ' ' || trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
       |    ' ' || chr(38) || ' tail ' || chr(39) || 'quoted' || chr(39) expected
       |  FROM documents),
       |s1 AS (SELECT doc_id, expected,
       |    CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) n_tags,
       |    $strip clean
       |  FROM h)
       |SELECT doc_id, n_tags, CAST(length(clean) AS BIGINT) clean_len,
       |  clean = expected AS ok
       |FROM s1""".stripMargin
  }

  /** WARC ingestion (VERDICT r14 Next #4) — the entry format a real
    * 100 TB pretraining pipeline always starts from (Common Crawl
    * ships ~1 GB .warc shards; ISO 28500). Documents wrapped in
    * deterministic HTML become genuine WARC response records via the
    * distributed [[graft.io.Warc]] sink (4 shards, one per partition,
    * warcinfo shard headers included), then REALLY read back through
    * the binaryFile-scan record parser and fed to the existing
    * stripHtml/token chain. The oracle never sees the bytes: it
    * recomputes Content-Length as octet_length of the identical HTML
    * and mirrors the strip chain, so header octet-exactness, record
    * framing, warcinfo skipping, and payload round-trip are all under
    * the hash gate (clean_md5 pins the extracted text bit-for-bit
    * without joining back to the source).
    *
    * Scale shape: the write is one hash-partitioned shuffle of the
    * narrow (uri, html) frame; the read is a no-shuffle binaryFile
    * scan, one task per shard — at corpus scale the shard count is
    * the parallelism and nothing moves until after extraction. */
  private def qWarcIngest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") % 5 === 2)
    val html = concat(lit("<html><head><title>Doc "),
      col("doc_id").cast("string"),
      lit("</title></head><body><p>"), col("text"),
      lit("</p></body></html>"))
    val src = d.select(concat(lit("http://example.com/doc/"),
        col("doc_id").cast("string")).as("uri"), html.as("payload"))
    val leaf = java.lang.Integer.toHexString(dir.hashCode) +
      s"_p${bktPid}_c${bktSeq.incrementAndGet()}"
    val out = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_warc_oracle", leaf)
      .toString
    graft.io.Warc.write(src, "uri", "payload", out, nFiles = 4)
    graft.io.Warc.read(s, out)
      .filter(col("warc_type") === "response")
      .select(regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
        col("content_length"),
        TextStats.stripHtml(col("payload")).as("clean"))
      .select(col("doc_id"), col("content_length"),
        length(col("clean")).cast("long").as("clean_len"),
        size(split(col("clean"), " ")).cast("long").as("n_tokens"),
        md5(col("clean").cast("binary")).as("clean_md5"))
  }
  private val qWarcIngestSql: String = {
    val strip =
      """trim(regexp_replace(replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(html,
        |        '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |        '(?s)<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', chr(38)),
        |    '\s+', ' ', 'g'))""".stripMargin
    s"""WITH h AS (SELECT doc_id,
       |    '<html><head><title>Doc ' || doc_id ||
       |    '</title></head><body><p>' || text || '</p></body></html>' html
       |  FROM documents WHERE doc_id % 5 = 2),
       |s1 AS (SELECT doc_id,
       |    CAST(octet_length(encode(html)) AS BIGINT) content_length,
       |    $strip clean
       |  FROM h)
       |SELECT doc_id, content_length,
       |  CAST(length(clean) AS BIGINT) clean_len,
       |  CAST(len(string_split(clean, ' ')) AS BIGINT) n_tokens,
       |  md5(clean) clean_md5
       |FROM s1""".stripMargin
  }

  /** k-anonymity release-risk report over (nation, segment) quasi-
    * identifiers: class-size histogram with at-risk marking (k=10). */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    Privacy.kAnonymityHistogram(Sources.table(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), k = 10)
  private val qKAnonymitySql: String =
    """WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) class_size
      |  FROM customer GROUP BY 1, 2)
      |SELECT class_size, count(*) n_classes,
      |  class_size * count(*) n_rows, class_size < 10 at_risk
      |FROM cls GROUP BY 1""".stripMargin

  /** DP-noised (lang, source) corpus composition release
    * (Privacy.dpGroupCounts): seeded Laplace(1/eps) noise +
    * below-threshold suppression. The oracle mirrors the hash ->
    * uniform -> inverse-CDF transform digit for digit. */
  private def qDpHistogram(s: SparkSession, dir: String): DataFrame =
    Privacy.dpGroupCounts(docs(s, dir), Seq("lang", "source"),
      eps = 1.0, threshold = 5.0, salt = "dp")
  private val qDpHistogramSql: String = {
    val keyExpr = "COALESCE(CAST(lang AS VARCHAR), ' ') || '|' || " +
      "COALESCE(CAST(source AS VARCHAR), ' ') || '|' || 'dp'"
    val h = Hashing.hash64Sql(keyExpr)
    s"""WITH g AS (SELECT lang, source, count(*) n, $h % 1000000 hh
       |  FROM documents GROUP BY 1, 2),
       |u AS (SELECT lang, source, n,
       |    (CAST(hh AS DOUBLE) + 0.5) / 1000000.0 - 0.5 uu FROM g),
       |z AS (SELECT lang, source, CAST(n AS DOUBLE) +
       |    round(-1.0 * sign(uu) * ln(1.0 - 2.0 * abs(uu)), 8) noisy
       |  FROM u)
       |SELECT lang, source, round(noisy, 6) noisy_count FROM z
       |WHERE noisy >= 5.0""".stripMargin
  }

  /** KMV distinct sketch (Profiler.kmvDistinct): distinct users per
    * event type at k=64, with the exact count joined on for the error
    * column. Unlike HLL, every piece — the k smallest portable hashes,
    * the k-th min, the (k-1)·2^60/h_(k) estimate — is a deterministic
    * function of the value SET, so the sketch estimate itself
    * hash-matches the oracle bit-exact (the mergeable-sketch path a
    * 100 TB profiler actually ships, fully gated). */
  private def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    // every fixture type has 150 distinct users > k, so the exact
    // path (n_kept < k) would be vacuous in the gate: inject a 'rare'
    // type carrying only users ≡ 0 (mod 40) — a handful of distinct
    // users, well under k — mirrored in the oracle
    val ev0 = events(s, dir)
    val ev = ev0.select(col("event_type"), col("user_id")).union(
      ev0.filter(col("user_id") % 40 === 0)
        .select(lit("rare").as("event_type"), col("user_id")))
    val sketch = profile.Profiler.kmvDistinct(ev, "event_type", "user_id",
      k = 64)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sketch.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_kept"), col("kth_hash"),
        round(col("est_distinct"), 4).as("est_r"), col("n_exact"),
        round((col("est_distinct") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 4).as("err_r"))
  }
  private val qKmvDistinctSql = {
    val h = Hashing.hash64Sql("CAST(user_id AS VARCHAR)")
    val est = """CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      ELSE 63.0 * 1152921504606846976.0 / CAST(kth_hash AS DOUBLE) END"""
    s"""WITH ev AS (SELECT event_type, user_id FROM events
       |    UNION ALL SELECT 'rare', user_id FROM events WHERE user_id % 40 = 0),
       |h AS (SELECT DISTINCT event_type g, $h h FROM ev),
       |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) rn
       |  FROM h),
       |kk AS (SELECT g, CAST(count(*) AS BIGINT) n_kept, max(h) kth_hash
       |  FROM r WHERE rn <= 64 GROUP BY 1),
       |ex AS (SELECT event_type g, CAST(count(DISTINCT user_id) AS BIGINT) n_exact
       |  FROM ev GROUP BY 1)
       |SELECT k.g event_type, n_kept, kth_hash,
       |  round($est, 4) est_r, n_exact,
       |  round(($est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 4) err_r
       |FROM kk k JOIN ex ON k.g = ex.g""".stripMargin
  }

  /** Count-min sketch (Profiler.cmsCounts, r9): the mergeable
    * FREQUENCY counter beside the KMV distinct counter — d=4 hash
    * rows x w=64 buckets over the event->user stream, estimates =
    * min of the key's bucket counts. w=64 against 150 distinct users
    * GUARANTEES collisions, so the overestimate branch is live in the
    * gate (and CMS never underestimates — the oracle recomputes every
    * bucket count, estimate and overestimate bit-exact from the same
    * portable hash + permutation family as minhash/KMV). Probes the
    * bounded user_id % 5 = 0 slice. */
  private def qCmsCounts(s: SparkSession, dir: String): DataFrame =
    profile.Profiler.cmsCounts(events(s, dir), "user_id",
      col("user_id") % 5 === 0, w = 64, d = 4)
  private val qCmsCountsSql = {
    val h = Hashing.hash64Sql("CAST(user_id AS VARCHAR)")
    def b(i: Int) = s"(${Hashing.permuteSql("h", i)}) % 64"
    val sketchRows = (0 until 4).map(i =>
      s"SELECT $i i, ${b(i)} b FROM hv").mkString("\n|  UNION ALL ")
    val probeRows = (0 until 4).map(i =>
      s"SELECT user_id, n_exact, $i i, ${b(i)} b FROM pk")
      .mkString("\n|  UNION ALL ")
    s"""WITH hv AS (SELECT user_id, $h h FROM events),
       |s AS (SELECT i, b, CAST(count(*) AS BIGINT) bc FROM (
       |  $sketchRows) GROUP BY 1, 2),
       |pk AS (SELECT user_id, CAST(count(*) AS BIGINT) n_exact, max(h) h
       |  FROM hv WHERE user_id % 5 = 0 GROUP BY 1),
       |pe AS ($probeRows)
       |SELECT user_id, max(n_exact) n_exact, min(bc) n_est,
       |  min(bc) - max(n_exact) overestimate
       |FROM pe JOIN s USING (i, b) GROUP BY 1""".stripMargin
  }

  /** Exact heavy hitters over the corpus token stream: the
    * Misra-Gries sketch pass bounds the work, the exact re-count pass
    * makes the output sketch-independent, so the oracle is a plain
    * GROUP BY / HAVING with the identical floor(n*s)+1 threshold
    * (identical IEEE double product in both engines). */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(
      explode(TextStats.tokens(TextStats.normalized(col("text")))).as("token"))
    Relational.heavyHitters(toks, "token", support = 0.034)
  }
  private val qHeavyHittersSql: String =
    s"""WITH t AS (SELECT unnest(${toksSql("text")}) token FROM documents)
       |SELECT token, count(*) cnt FROM t GROUP BY 1
       |HAVING count(*) >= CAST(floor((SELECT count(*) FROM t) * 0.034) AS BIGINT) + 1""".stripMargin

  /** Unigram-LM tokenizer training (TextStats.unigramTokenizerTrain):
    * frequency-initialized piece probs -> exact Viterbi E-step over
    * every distinct word -> usage-count M-step; top-40 pieces. The
    * Spark side runs the DP as a codegen'd HOF fold per word; the
    * oracle UNROLLS the 12 Viterbi positions as MATERIALIZED CTE
    * layers (the qKcoreSql discipline), each layer an argmin over the
    * <=4 source layers via a (cost, piece) row_number — same rounding
    * (@8 per accumulate), same tie-break, layer-for-layer. */
  private val utVocab = 120; private val utWordLen = 12
  private val utPieceLen = 4; private val utTopK = 40
  private def qUnigramTokenizer(s: SparkSession, dir: String): DataFrame =
    TextStats.unigramTokenizerTrain(docs(s, dir), "text",
      vocabSize = utVocab, maxWordLen = utWordLen,
      maxPieceLen = utPieceLen, topK = utTopK)
  /** Shared DP-layer generator for the unigram oracles: positions
    * 1..utWordLen unrolled, layer `prefix$i` argmins over the <=
    * utPieceLen source layers via (cost, piece) row_number. */
  private def unigramLayersSql(prefix: String, vcName: String): String =
    (1 to utWordLen).map { i =>
      val srcs = (1 to utPieceLen).filter(_ <= i).map { len =>
        val j = i - len
        s"""SELECT p.w, p.cnt, round(p.c + vc.pcost, 8) c,
           |      p.seg || [vc.piece] seg, vc.piece piece
           |    FROM $prefix$j p JOIN $vcName vc ON vc.piece = substr(p.w, ${j + 1}, $len)
           |    WHERE length(p.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      s"""$prefix$i AS MATERIALIZED (SELECT w, cnt, c, seg FROM (
         |  SELECT *, row_number() OVER (PARTITION BY w ORDER BY c, piece) rn
         |  FROM ($srcs)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  private def unigramFinalsSql(prefix: String): String =
    (1 to utWordLen)
      .map(i => s"SELECT w, cnt, seg FROM $prefix$i WHERE length(w) = $i")
      .mkString("\n  UNION ALL ")
  /** Round-1 CTE chain (vocab -> frequency-init costs -> Viterbi ->
    * usage counts) shared by the train and fertility oracles. */
  private val unigramRound1Ctes: String =
    s"""w AS MATERIALIZED (SELECT substr(t, 1, $utWordLen) w, count(*) cnt
       |  FROM (SELECT unnest(${toksSql("text")}) t FROM documents) GROUP BY 1),
       |cand AS (SELECT piece, CAST(sum(cnt) AS BIGINT) pc FROM (
       |    SELECT cnt, substr(w, i + 1, l) piece FROM w
       |    CROSS JOIN unnest(range($utWordLen)) u(i)
       |    CROSS JOIN unnest(range(1, ${utPieceLen + 1})) v(l)
       |    WHERE i < length(w) AND l <= least($utPieceLen, length(w) - i))
       |  GROUP BY 1),
       |topv AS (SELECT piece, pc FROM cand ORDER BY pc DESC, piece LIMIT $utVocab),
       |chars AS (SELECT piece, pc FROM cand WHERE length(piece) = 1),
       |vocab AS (SELECT piece, max(pc) pc FROM (
       |    SELECT * FROM topv UNION ALL SELECT * FROM chars) GROUP BY 1),
       |tt AS (SELECT CAST(sum(pc) AS BIGINT) t, count(*) v FROM vocab),
       |vc1 AS MATERIALIZED (SELECT piece,
       |    round(-round(ln(CAST(pc + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)), 8), 8) pcost
       |  FROM vocab, tt),
       |l0 AS (SELECT w, cnt, CAST(0.0 AS DOUBLE) c, CAST([] AS VARCHAR[]) seg
       |  FROM w),
       |${unigramLayersSql("l", "vc1")},
       |fin AS (${unigramFinalsSql("l")}),
       |use AS (SELECT piece, CAST(sum(cnt) AS BIGINT) n_use FROM (
       |    SELECT cnt, unnest(seg) piece FROM fin) GROUP BY 1),
       |tot2 AS (SELECT CAST(sum(n_use) AS BIGINT) tot FROM use)""".stripMargin
  private val qUnigramTokenizerSql: String =
    s"""WITH $unigramRound1Ctes
       |SELECT piece, n_use,
       |  round(ln(CAST(n_use + 1 AS DOUBLE) /
       |    CAST(tot + (SELECT v FROM tt) AS DOUBLE)), 8) logp
       |FROM use, tot2
       |ORDER BY n_use DESC, piece LIMIT $utTopK""".stripMargin

  /** Per-language tokenizer fertility (TextStats.unigramFertility):
    * segmentation RE-RUN under the M-step probabilities (EM round 2;
    * unused vocab pieces keep the smoothed floor), rolled up per lang.
    * The oracle chains the round-1 CTEs into a second full layer set
    * under the re-estimated costs. */
  private def qTokenizerFertility(s: SparkSession, dir: String): DataFrame =
    TextStats.unigramFertility(docs(s, dir), "text", "lang",
      vocabSize = utVocab, maxWordLen = utWordLen, maxPieceLen = utPieceLen)
  private val qTokenizerFertilitySql: String =
    s"""WITH $unigramRound1Ctes,
       |vc2 AS MATERIALIZED (SELECT vocab.piece,
       |    round(-round(ln(CAST(coalesce(u.n_use, 0) + 1 AS DOUBLE) /
       |      CAST((SELECT tot FROM tot2) + (SELECT v FROM tt) AS DOUBLE)), 8), 8) pcost
       |  FROM vocab LEFT JOIN use u ON u.piece = vocab.piece),
       |m0 AS (SELECT w, cnt, CAST(0.0 AS DOUBLE) c, CAST([] AS VARCHAR[]) seg
       |  FROM w),
       |${unigramLayersSql("m", "vc2")},
       |fin2 AS (${unigramFinalsSql("m")}),
       |np AS (SELECT w, len(seg) np FROM fin2),
       |wl AS (SELECT lang slice, substr(t, 1, $utWordLen) w, count(*) cnt
       |  FROM (SELECT lang, unnest(${toksSql("text")}) t FROM documents)
       |  GROUP BY 1, 2)
       |SELECT slice, count(DISTINCT wl.w) n_words,
       |  CAST(sum(cnt) AS BIGINT) n_tokens,
       |  CAST(sum(cnt * np) AS BIGINT) n_pieces,
       |  round(CAST(sum(cnt * np) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) fertility
       |FROM wl JOIN np ON np.w = wl.w GROUP BY 1""".stripMargin

  /** Distributed BPE merge learning. The merge table is a data-dependent
    * iterative argmax — SQL can't loop, but `numMerges` is a literal, so
    * the oracle UNROLLS the 24 training rounds as CTE layers (the
    * qLogisticFitSql / qAnnIvfSql discipline; closes VERDICT r5 Next
    * #4). Per layer: weighted adjacent-pair counts -> argmax with the
    * (count DESC, left ASC, right ASC) tie-break -> greedy left-to-right
    * contraction. The contraction fold is mirrored with gaps-and-islands
    * parity: within each maximal run of consecutive candidate positions,
    * exactly the odd-offset ones merge — equivalent to the sequential
    * fold because runs longer than 1 only arise when left == right
    * ("aaa" -> ["aa","a"]). Early stop (best count < minPairCount)
    * cascades structurally: the layer's best-pair CTE goes empty, the
    * cross join empties the dictionary, and every later layer emits
    * nothing — the exact loop-exit semantics. */
  private val bpeMerges = 24
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    TextStats.bpeTrain(docs(s, dir), "text", numMerges = bpeMerges,
      minPairCount = 2)
  private val qBpeTrainSql: String = {
    val layers = (0 until bpeMerges).map { k =>
      s"""pos$k AS (SELECT wd, cnt, generate_subscripts(syms, 1) i, unnest(syms) s
         |  FROM w$k),
         |pl$k AS MATERIALIZED (SELECT *, lead(s) OVER (PARTITION BY wd ORDER BY i) nx
         |  FROM pos$k),
         |bp$k AS (SELECT s l, nx r2, CAST(sum(cnt) AS BIGINT) pc FROM pl$k
         |  WHERE nx IS NOT NULL GROUP BY 1, 2 HAVING sum(cnt) >= 2
         |  ORDER BY pc DESC, l ASC, r2 ASC LIMIT 1),
         |m$k AS (SELECT wd, cnt, i, s, l, r2,
         |    (cand AND row_number() OVER (PARTITION BY wd, cand, grp ORDER BY i) % 2 = 1) merged
         |  FROM (SELECT *,
         |      CASE WHEN cand THEN i - row_number() OVER (PARTITION BY wd, cand ORDER BY i) END grp
         |    FROM (SELECT p.*, b.l, b.r2,
         |        coalesce(p.s = b.l AND p.nx = b.r2, FALSE) cand
         |      FROM pl$k p, bp$k b))),
         |w${k + 1} AS MATERIALIZED (SELECT wd, cnt,
         |    list(CASE WHEN merged THEN l || r2 ELSE s END ORDER BY i) syms
         |  FROM (SELECT *,
         |      coalesce(lag(merged) OVER (PARTITION BY wd ORDER BY i), FALSE) pm
         |    FROM m$k)
         |  WHERE NOT pm GROUP BY wd, cnt)""".stripMargin
    }.mkString(",\n")
    val out = (0 until bpeMerges).map(k =>
      s"""SELECT CAST($k AS INTEGER) rank, l "left", r2 "right", pc pair_count FROM bp$k""")
      .mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT unnest(${toksSql("text")}) wd FROM documents),
       |w0 AS (SELECT wd, CAST(count(*) AS BIGINT) cnt,
       |    list_transform(range(length(wd)), i -> substr(wd, CAST(i + 1 AS INTEGER), 1)) syms
       |  FROM t GROUP BY wd),
       |$layers
       |$out""".stripMargin
  }

  /** WordPiece merge learning (Schuster & Nakajima 2012 — the BERT
    * tokenizer's likelihood-gain rule): the qBpeTrainSql unrolled-layer
    * discipline with per-layer symbol counts joined into the argmax, so
    * each layer ranks pairs by pc/(cl*cr) (one IEEE divide of exact
    * longs — identical bits in both engines) instead of raw pc. Ties
    * (score DESC, l, r); early stop cascades structurally as in BPE. */
  private val wpMerges = 24
  private def qWordPieceTrain(s: SparkSession, dir: String): DataFrame =
    TextStats.wordPieceTrain(docs(s, dir), "text", numMerges = wpMerges,
      minPairCount = 2)
  private val qWordPieceTrainSql: String = {
    val layers = (0 until wpMerges).map { k =>
      s"""pos$k AS (SELECT wd, cnt, generate_subscripts(syms, 1) i, unnest(syms) s
         |  FROM w$k),
         |pl$k AS MATERIALIZED (SELECT *, lead(s) OVER (PARTITION BY wd ORDER BY i) nx
         |  FROM pos$k),
         |sc$k AS (SELECT s, CAST(sum(cnt) AS BIGINT) sc FROM pos$k GROUP BY 1),
         |bp$k AS (SELECT pp.l, pp.r2, pp.pc,
         |    CAST(pp.pc AS DOUBLE) /
         |      (CAST(a.sc AS DOUBLE) * CAST(b.sc AS DOUBLE)) score
         |  FROM (SELECT s l, nx r2, CAST(sum(cnt) AS BIGINT) pc FROM pl$k
         |    WHERE nx IS NOT NULL GROUP BY 1, 2 HAVING sum(cnt) >= 2) pp
         |  JOIN sc$k a ON a.s = pp.l JOIN sc$k b ON b.s = pp.r2
         |  ORDER BY score DESC, pp.l ASC, pp.r2 ASC LIMIT 1),
         |m$k AS (SELECT wd, cnt, i, s, l, r2,
         |    (cand AND row_number() OVER (PARTITION BY wd, cand, grp ORDER BY i) % 2 = 1) merged
         |  FROM (SELECT *,
         |      CASE WHEN cand THEN i - row_number() OVER (PARTITION BY wd, cand ORDER BY i) END grp
         |    FROM (SELECT p.*, b.l, b.r2,
         |        coalesce(p.s = b.l AND p.nx = b.r2, FALSE) cand
         |      FROM pl$k p, bp$k b))),
         |w${k + 1} AS MATERIALIZED (SELECT wd, cnt,
         |    list(CASE WHEN merged THEN l || r2 ELSE s END ORDER BY i) syms
         |  FROM (SELECT *,
         |      coalesce(lag(merged) OVER (PARTITION BY wd ORDER BY i), FALSE) pm
         |    FROM m$k)
         |  WHERE NOT pm GROUP BY wd, cnt)""".stripMargin
    }.mkString(",\n")
    val out = (0 until wpMerges).map(k =>
      s"""SELECT CAST($k AS INTEGER) rank, l "left", r2 "right", pc pair_count,
         |  round(score, 8) score_r FROM bp$k""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT unnest(${toksSql("text")}) wd FROM documents),
       |w0 AS (SELECT wd, CAST(count(*) AS BIGINT) cnt,
       |    list_transform(range(length(wd)), i -> substr(wd, CAST(i + 1 AS INTEGER), 1)) syms
       |  FROM t GROUP BY wd),
       |$layers
       |$out""".stripMargin
  }

  private val qVocabSql: String =
    s"""WITH t AS (SELECT unnest(${toksSql("text")}) token FROM documents),
       |c AS (SELECT token, CAST(count(*) AS BIGINT) n FROM t
       |  GROUP BY 1 HAVING count(*) >= 2),
       |r AS (SELECT token,
       |    CAST(row_number() OVER (ORDER BY n DESC, token ASC) + 3 AS BIGINT) token_id,
       |    n FROM c
       |  QUALIFY row_number() OVER (ORDER BY n DESC, token ASC) <= 500)
       |SELECT token, token_id, n FROM (VALUES
       |  ('<pad>', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
       |  ('<unk>', CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
       |  ('<bos>', CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
       |  ('<eos>', CAST(3 AS BIGINT), CAST(0 AS BIGINT))) sp(token, token_id, n)
       |UNION ALL SELECT token, token_id, n FROM r""".stripMargin

  /** Vocab-encode the corpus (same vocab as q_vocab: maxSize=500,
    * minCount=2) and hash each document's full id sequence, so OOV
    * mapping, ordering, and empty-doc handling are all extent-checked.
    * The oracle rebuilds the ranked vocab (specials never collide: the
    * normalizer strips `<>`), position-explodes with
    * generate_subscripts/unnest, left-joins ids with COALESCE 1, and
    * re-includes token-less documents as empty arrays. */
  /** Driver-memoized tokenizer vocabulary for the encode/pack family
    * (VERDICT r11 Next #6): q_encode / q_pack_ids / q_pack_efficiency /
    * q_oov_rate all train the IDENTICAL maxSize=500/minCount=2 vocab on
    * the same corpus, so the suite paid the explode + groupBy(token)
    * vocab shuffle four times over. A production pipeline trains the
    * tokenizer once and ships the artifact; this memo is that artifact:
    * <= maxSize+4 rows collected once per fixture dir (bounded driver
    * state, capped by maxSize — the same bounded-collect regime as
    * centroids and PQ codebooks) and re-entered as a local DataFrame
    * that broadcast-joins exactly like the live frame. Results are
    * bit-identical (buildVocab is fully deterministic: (n DESC, token
    * ASC) is a total order); q_vocab itself still trains live so the
    * build cost stays measured and oracle-gated. */
  private val vocabMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int), (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]()
  /** Content fingerprint of the corpus the vocab trains on (ADVICE r12):
    * a JVM-lifetime memo keyed by path alone goes silently stale if the
    * fixture dir is regenerated in-place within one long session — the
    * encode/pack family would then diverge from its own live-trained
    * oracle with zero code change. File names+sizes+mtimes of the
    * parquet parts are cheap (one driver-side listing per call) and
    * change whenever the fixture generator rewrites the table. */
  private def corpusFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
          .flatMap(walk)
      else Seq(f)
    val root = new java.io.File(s"$dir/documents.parquet")
    if (!root.exists()) "absent"
    else walk(root)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
  }
  private def sharedVocab(s: SparkSession, dir: String,
      maxSize: Int = 500, minCount: Int = 2): DataFrame = {
    // keyed by the FULL vocab identity (dir, corpus fingerprint,
    // maxSize, minCount), not dir alone — a future face asking for a
    // different configuration must never silently receive the family's
    // 500/2 artifact, and an in-place fixture rewrite invalidates the
    // memo via the fingerprint
    val (rows, schema) = vocabMemo.computeIfAbsent(
      (dir, corpusFingerprint(dir), maxSize, minCount),
      _ => {
        val v = TextStats.buildVocab(docs(s, dir), "text",
          maxSize = maxSize, minCount = minCount)
        (v.collect(), v.schema)
      })
    s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1),
      schema)
  }

  private def qEncode(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = sharedVocab(s, dir)
    TextStats.encodeWithVocab(d, "doc_id", "text", vocab)
      .select(col("id").as("doc_id"),
        size(col("token_ids")).as("n_tokens"),
        size(filter(col("token_ids"), x => x === 1L)).as("n_unk"),
        Hashing.hash64(array_join(
          transform(col("token_ids"), x => x.cast("string")), ","))
          .as("ids_h"))
  }
  /** Shared CTE chain ending in `ids(doc_id, ids)` — each document's
    * full token-id sequence under the q_vocab vocabulary (maxSize=500,
    * minCount=2). One source of truth for the encode AND pack-ids
    * oracles so the vocab/OOV rules cannot silently fork. */
  private val encodeIdsCtes: String =
    s"""t AS (SELECT unnest(${toksSql("text")}) token FROM documents),
       |c AS (SELECT token, CAST(count(*) AS BIGINT) n FROM t
       |  GROUP BY 1 HAVING count(*) >= 2),
       |r AS (SELECT token,
       |    CAST(row_number() OVER (ORDER BY n DESC, token ASC) + 3 AS BIGINT) token_id
       |  FROM c
       |  QUALIFY row_number() OVER (ORDER BY n DESC, token ASC) <= 500),
       |p AS (SELECT doc_id, generate_subscripts(tk, 1) pos, unnest(tk) token
       |  FROM (SELECT doc_id, ${toksSql("text")} tk FROM documents)),
       |e AS (SELECT doc_id, pos, COALESCE(token_id, 1) tid
       |  FROM p LEFT JOIN r USING (token)),
       |ids0 AS (SELECT doc_id, list(tid ORDER BY pos) ids FROM e GROUP BY 1),
       |ids AS (SELECT d.doc_id, COALESCE(ids, []) ids
       |  FROM documents d LEFT JOIN ids0 ON d.doc_id = ids0.doc_id)""".stripMargin
  private val qEncodeSql: String =
    s"""WITH $encodeIdsCtes
       |SELECT doc_id, CAST(len(ids) AS INT) n_tokens,
       |  CAST(len(list_filter(ids, x -> x = 1)) AS INT) n_unk,
       |  ${Hashing.hash64Sql("array_to_string(ids, ',')")} ids_h
       |FROM ids""".stripMargin

  /** Materialized training sequences: encode (same vocab as q_encode),
    * append eos=3 per document, salt into 4 bucket streams by portable
    * doc-id hash, cut every 256 tokens; the oracle hashes every
    * sequence's full id stream, so placement, ordering, bucket salting,
    * and the short tail sequences are all extent-checked. */
  private def qPackIds(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = sharedVocab(s, dir)
    val enc = TextStats.encodeWithVocab(d, "doc_id", "text", vocab)
    ext.Packing.packTokenIds(enc, "id", "token_ids",
      contextLen = 256, buckets = 4)
      .select(col("bucket"), col("seq_id"), col("n_tokens"),
        Hashing.hash64(array_join(
          transform(col("token_ids"), x => x.cast("string")), ","))
          .as("ids_h"))
  }
  private val qPackIdsSql: String =
    s"""WITH $encodeIdsCtes,
       |wi AS (SELECT doc_id, list_append(ids, CAST(3 AS BIGINT)) ids FROM ids),
       |b AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) n,
       |    CAST(${Hashing.hash64Sql("doc_id")} % 4 AS INT) bucket FROM wi),
       |st AS (SELECT *, CAST(sum(n) OVER (PARTITION BY bucket ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) - n AS BIGINT) strt FROM b),
       |tok AS (SELECT bucket, strt + generate_subscripts(ids, 1) - 1 g,
       |    unnest(ids) tid FROM st),
       |agg AS (SELECT bucket, g // 256 seq_id, CAST(count(*) AS INT) n_tokens,
       |    list(tid ORDER BY g % 256) seq_ids
       |  FROM tok GROUP BY 1, 2)
       |SELECT bucket, seq_id, n_tokens,
       |  ${Hashing.hash64Sql("array_to_string(seq_ids, ',')")} ids_h
       |FROM agg""".stripMargin

  /** Packing-efficiency report over the q_pack_ids configuration (same
    * vocab, eos, contextLen=256, 4 buckets): per-bucket sequence count,
    * padded slots, fill ratio — computed from doc lengths alone (no
    * sequence materialization); TextStatsSpec cross-checks it against
    * the materialized packTokenIds output exactly. */
  private def qPackEfficiency(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = sharedVocab(s, dir)
    val enc = TextStats.encodeWithVocab(d, "doc_id", "text", vocab)
    ext.Packing.packingEfficiency(enc, "id", "token_ids",
      contextLen = 256, buckets = 4)
  }
  private val qPackEfficiencySql: String =
    s"""WITH $encodeIdsCtes,
       |wi AS (SELECT doc_id, CAST(len(ids) + 1 AS BIGINT) n,
       |    CAST(${Hashing.hash64Sql("doc_id")} % 4 AS INT) bucket FROM ids),
       |a AS (SELECT bucket, count(*) n_docs, CAST(sum(n) AS BIGINT) n_tokens
       |  FROM wi GROUP BY 1)
       |SELECT bucket, n_docs, n_tokens,
       |  CAST((n_tokens + 255) // 256 AS BIGINT) n_seqs,
       |  CAST((n_tokens + 255) // 256 * 256 - n_tokens AS BIGINT) n_pad,
       |  round(CAST(n_tokens AS DOUBLE)
       |    / CAST((n_tokens + 255) // 256 * 256 AS DOUBLE), 6) fill_r
       |FROM a""".stripMargin

  private def qPack(s: SparkSession, dir: String): DataFrame =
    ext.Packing.packSequences(docs(s, dir), "doc_id", "text",
      contextLen = 512, buckets = 8)
      .select(col("id").as("doc_id"), col("bucket"), col("n_tok"),
        col("cum_tok"), col("chunk_id"))

  private val qPackSql: String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(LEAST(len(${toksSql("text")}), 512) AS BIGINT) n_tok,
       |    CAST(${Hashing.hash64Sql("doc_id")} % 8 AS INT) bucket
       |  FROM documents),
       |c AS (SELECT doc_id, bucket, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum_tok
       |  FROM d)
       |SELECT doc_id, bucket, n_tok, cum_tok,
       |  CAST(CASE WHEN n_tok > 0 THEN floor((cum_tok - 1) / 512)
       |       ELSE floor(cum_tok / 512) END AS BIGINT) chunk_id
       |FROM c""".stripMargin

  /** Sliding-window chunking with overlap (window=64, stride=48 →
    * 16-token overlap); chunk text itself is hash-compared, so slice
    * boundaries and token order are verified to the byte. */
  private def qChunk(s: SparkSession, dir: String): DataFrame =
    ext.Packing.chunkDocs(docs(s, dir), "doc_id", "text",
      window = 64, stride = 48)
      .select(col("id").as("doc_id"), col("chunk_idx"),
        col("n_doc_tokens"), col("n_chunk_tokens"), col("chunk_text"))

  private val qChunkSql: String =
    s"""WITH st AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |s2 AS (SELECT doc_id, t, CAST(len(t) AS INT) n FROM st WHERE len(t) > 0),
       |s3 AS (SELECT doc_id, t, n,
       |    1 + CAST(ceil(CAST(greatest(n - 64, 0) AS DOUBLE) / 48) AS INT) nchunks
       |  FROM s2),
       |ch AS (SELECT doc_id, t, n, unnest(range(nchunks)) ci FROM s3)
       |SELECT doc_id, CAST(ci AS INT) chunk_idx, n AS n_doc_tokens,
       |  CAST(least(64, n - ci * 48) AS INT) n_chunk_tokens,
       |  array_to_string(t[ci*48+1 : ci*48+64], ' ') chunk_text
       |FROM ch""".stripMargin

  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    EventsOps.funnel(events(s, dir), Seq("view", "click", "purchase"))

  private val qFunnelSql: String =
    """WITH s0 AS (SELECT user_id, min(ts) t0 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(e.ts) t1 FROM events e JOIN s0 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts >= s0.t0 GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) t2 FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts >= s1.t1 GROUP BY 1)
      |SELECT 0 stage_idx, 'view' stage, count(*) n_users FROM s0
      |UNION ALL SELECT 1, 'click', count(*) FROM s1
      |UNION ALL SELECT 2, 'purchase', count(*) FROM s2""".stripMargin

  private def qCohort(s: SparkSession, dir: String): DataFrame =
    EventsOps.cohortRetention(events(s, dir), maxOffsetDays = 7)

  private val qCohortSql: String =
    """WITH c AS (SELECT user_id, min(CAST(ts AS DATE)) cohort_day
      |  FROM events GROUP BY 1),
      |d AS (SELECT DISTINCT e.user_id, c.cohort_day,
      |    CAST(CAST(e.ts AS DATE) - c.cohort_day AS INT) offset_days
      |  FROM events e JOIN c USING (user_id))
      |SELECT strftime(cohort_day, '%Y-%m-%d') cohort_day,
      |  offset_days, count(*) n_users
      |FROM d WHERE offset_days BETWEEN 0 AND 7
      |GROUP BY 1, 2""".stripMargin

  /** Conversion-lag panel: per user, seconds from FIRST view to the
    * first purchase at-or-after it, then the exact quantile panel over
    * the lag grid (NumericProfile.quantilePanel) — "how long does
    * conversion take", p25..p99. Lags are integer seconds, so the grid
    * discipline holds. */
  private def qConversionLag(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("vts"))
      .groupBy(col("user_id"), col("vts")).agg(min(col("ts")).as("pts"))
      .select((unix_timestamp(col("pts")) - unix_timestamp(col("vts")))
        .as("lag_sec"), lit("all").as("g"))
    profile.NumericProfile.quantilePanel(p, "lag_sec", "g")
  }

  /** Approx sibling of q_conversion_lag: identical lag derivation, the
    * panel from a percentile_approx sketch instead of the exact grid.
    * VALUE-gated since r9 via the padded-rank-window bounds (see
    * qQuantilePanelApprox). */
  private def qConversionLagApprox(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vts"))
    val p = e.filter(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("vts"))
      .groupBy(col("user_id"), col("vts")).agg(min(col("ts")).as("pts"))
      .select((unix_timestamp(col("pts")) - unix_timestamp(col("vts")))
        .as("lag_sec"), lit("all").as("g"))
    profile.NumericProfile.quantilePanelBounded(p, "lag_sec", "g")
  }
  private val qConversionLagApproxSql: String = quantileBoundedSql(
    """SELECT g, v, count(*) c FROM (
       |  SELECT 'all' g,
       |      CAST(floor(epoch(min(e.ts))) AS BIGINT)
       |        - CAST(floor(epoch(v.vts)) AS BIGINT) v
       |  FROM events e
       |  JOIN (SELECT user_id, min(ts) vts FROM events
       |        WHERE event_type = 'view' GROUP BY 1) v USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.ts >= v.vts
       |  GROUP BY e.user_id, v.vts) GROUP BY 1, 2""".stripMargin)
  private val qConversionLagSql: String =
    """WITH v AS (SELECT user_id, min(ts) vts FROM events
      |    WHERE event_type = 'view' GROUP BY 1),
      |p AS (SELECT e.user_id, v.vts, min(e.ts) pts FROM events e
      |  JOIN v USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts >= v.vts
      |  GROUP BY 1, 2),
      |l AS (SELECT 'all' g,
      |    CAST(floor(epoch(pts)) AS BIGINT) - CAST(floor(epoch(vts)) AS BIGINT) v
      |  FROM p),
      |c AS (SELECT g, v, count(*) c FROM l GROUP BY 1, 2),
      |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) n,
      |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM c)
      |SELECT g, max(n) n_rows,
      |  min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 0.25) THEN v END) p25,
      |  min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 0.5) THEN v END) p50,
      |  min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 0.75) THEN v END) p75,
      |  min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 0.9) THEN v END) p90,
      |  min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * 0.99) THEN v END) p99
      |FROM w GROUP BY 1""".stripMargin

  /** Nearest as-of: each click matched to the CLOSEST purchase of the
    * same user in either direction (Relational.nearestJoin; ties
    * backward). Purchases pre-deduped to one per (user, ts) — the
    * operator's documented contract. */
  private def qNearestJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val buys = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("p_event_id"))
    Relational.nearestJoin(clicks, buys, "user_id", "ts",
        Seq("p_event_id"))
      .select(col("user_id"), col("event_id"),
        col("asof_p_event_id").as("p_event_id"),
        (unix_millis(col("ts")) - unix_millis(col("asof_ts")))
          .as("delta_ms"),
        col("direction"))
  }
  private val qNearestJoinSql =
    """WITH c AS (SELECT user_id, event_id, ts FROM events
      |    WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, min(event_id) p_event_id FROM events
      |    WHERE event_type = 'purchase' GROUP BY 1, 2),
      |b AS (SELECT c.*,
      |    (SELECT max(p.ts) FROM p
      |     WHERE p.user_id = c.user_id AND p.ts <= c.ts) bts,
      |    (SELECT min(p.ts) FROM p
      |     WHERE p.user_id = c.user_id AND p.ts > c.ts) fts
      |  FROM c),
      |j AS (SELECT b.*, pb.p_event_id b_id, pf.p_event_id f_id,
      |    (bts IS NOT NULL AND (fts IS NULL OR
      |      epoch(b.ts) - epoch(bts) <= epoch(fts) - epoch(b.ts))) pickb
      |  FROM b
      |  LEFT JOIN p pb ON pb.user_id = b.user_id AND pb.ts = b.bts
      |  LEFT JOIN p pf ON pf.user_id = b.user_id AND pf.ts = b.fts)
      |SELECT user_id, event_id,
      |  CASE WHEN pickb THEN b_id ELSE f_id END p_event_id,
      |  CAST(epoch_ms(ts) - epoch_ms(CASE WHEN pickb THEN bts ELSE fts END)
      |    AS BIGINT) delta_ms,
      |  CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
      |    WHEN pickb THEN 'backward' ELSE 'forward' END direction
      |FROM j""".stripMargin

  /** First-order Markov transition matrix over per-user event streams
    * (EventsOps.transitionMatrix): one user_id shuffle, pair frame
    * bounded by |types|^2. */
  private def qMarkov(s: SparkSession, dir: String): DataFrame =
    EventsOps.transitionMatrix(events(s, dir))
  private val qMarkovSql: String =
    """WITH p AS (SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) nt
      |  FROM events),
      |c AS (SELECT event_type from_type, nt to_type, count(*) n FROM p
      |  WHERE nt IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT *, sum(n) OVER (PARTITION BY from_type) nf FROM c)
      |SELECT from_type, to_type, n,
      |  round(CAST(n AS DOUBLE) / CAST(nf AS DOUBLE), 6) p FROM m""".stripMargin

  /** A/B readout: deterministic hash-bucketed arms, purchase
    * conversion, pooled two-proportion z (EventsOps.abTestReport). On
    * this fixture the split is a null experiment — the gate checks both
    * engines derive the same z from the same assignment, not that the
    * fixture moved a metric. */
  private def qAbTest(s: SparkSession, dir: String): DataFrame =
    EventsOps.abTestReport(events(s, dir), "purchase", salt = "ab")
  private val qAbTestSql: String = {
    val h = Hashing.hash64Sql(
      "COALESCE(CAST(user_id AS VARCHAR), '') || '|' || 'ab'")
    s"""WITH u AS (SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) conv,
       |    $h % 2 arm
       |  FROM events GROUP BY user_id),
       |a AS (SELECT
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) n_a,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv END) AS BIGINT) conv_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) n_b,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv END) AS BIGINT) conv_b
       |  FROM u),
       |z AS (SELECT *,
       |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) pa,
       |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) pb,
       |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) pool
       |  FROM a)
       |SELECT n_a, conv_a, n_b, conv_b,
       |  round(pa, 6) rate_a, round(pb, 6) rate_b, round(pb - pa, 6) lift,
       |  CASE WHEN n_a > 0 AND n_b > 0 AND pool > 0 AND pool < 1
       |    THEN round((pb - pa) / sqrt(pool * (1.0 - pool)
       |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
       |  END z
       |FROM z""".stripMargin
  }

  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextStats.topKeywords(docs(s, dir), "doc_id", "text", k = 5)
      .select(col("id").as("doc_id"), col("tok"), col("tf"), col("df"),
        col("score"), col("rank").cast("int").as("rank"))

  private val qTfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${toksSql("text")}) tok FROM documents),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf
       |  FROM toks GROUP BY 1, 2),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, tok, tf, df,
       |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) score
       |  FROM tf JOIN dfq USING (tok), n)
       |SELECT doc_id, tok, tf, df, score, CAST(rank AS INT) rank
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY doc_id ORDER BY score DESC, tok ASC) rank
       |      FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** Per-source hygiene stats: duplicates of every third src3 doc are
    * injected so exactly one source crosses the dup-rate cap and flips
    * its keep verdict. */
  /** Per-source dataset card — the one-row-per-source datasheet a
    * curated release ships (docs, token volume, predicted-English
    * share via the engine's own langId, exact-dup rate, mean Gopher
    * quality, keep rate at 0.7): each column is an already-verified
    * kernel (withLangId, qualityScore, fingerprintMd5), composed in
    * ONE chained pass over the scan — the narrow maps fuse, the only
    * exchange is the source groupBy. quality_score sums as
    * DECIMAL(4,2) (round(x,2) values are exact there), so the mean is
    * order-free with one final double division. */
  private def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    // injection (oracle-mirrored): every 9th doc re-uploaded verbatim
    // (live dup_rate) and every 17th replaced by punctuation junk in a
    // new row (live kept_rate < 1 and non-en predictions) — the
    // fixture alone has zero dups and 100% keeps, which would leave
    // those card columns vacuous in the gate
    val base = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
    val injected = base
      .union(base.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 800000).as("doc_id"), col("text"),
          col("source")))
      .union(base.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 810000).as("doc_id"),
          lit("!!! ??? *** ### !!!").as("text"), col("source")))
    val staged = TextStats.qualityScore(
      TextStats.withLangId(injected, "text"), "text")
    staged.select(col("source"),
        TextStats.fingerprintMd5(coalesce(col("text"), lit(""))).as("fp"),
        col("predicted"), col("n_tokens"),
        col("quality_score").cast("decimal(4,2)").as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        countDistinct(col("fp")).as("n_distinct"),
        sum(when(col("predicted") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("q")).as("q_sum"),
        sum(when(col("q") >= 0.7, 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"),
        round(col("n_en").cast("double") / col("n_docs").cast("double"), 6)
          .as("pct_en"),
        round(col("q_sum").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_quality"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("kept_rate"))
  }
  private val qDatasetCardSql = {
    val sw = TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val hitCols = langHitColsSql("lt")
    s"""WITH base AS (SELECT doc_id, text, source FROM documents
       |    UNION ALL SELECT doc_id + 800000, text, source FROM documents
       |      WHERE doc_id % 9 = 0
       |    UNION ALL SELECT doc_id + 810000, '!!! ??? *** ### !!!', source
       |      FROM documents WHERE doc_id % 17 = 0),
       |f AS (SELECT source, md5(${normSql("text")}) fp,
       |    list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) toks,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) lt,
       |    length(text) n_chars,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) n_punct
       |  FROM base),
       |g AS (SELECT source, fp, len(toks) n_tokens,
       |    len(list_filter(toks, t -> list_contains($sw, lower(t)))) n_stop,
       |    n_punct, n_chars,
       |    $hitCols
       |  FROM f),
       |q AS (SELECT source, fp, n_tokens,
       |    CAST(round(
       |      (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
       |      + (CASE WHEN n_tokens > 0 AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.05 THEN 0.3 ELSE 0.0 END)
       |      + (CASE WHEN n_chars = 0 OR CAST(n_punct AS DOUBLE) / n_chars <= 0.2 THEN 0.3 ELSE 0.0 END), 2)
       |      AS DECIMAL(4,2)) q,
       |    CASE WHEN $langBestSql = 0 THEN 'und'
       |      ELSE CASE $langPickSql END END predicted
       |  FROM g)
       |SELECT source, CAST(count(*) AS BIGINT) n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) n_tokens,
       |  round(CAST(count(*) - count(DISTINCT fp) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) dup_rate,
       |  round(CAST(sum(CASE WHEN predicted = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) pct_en,
       |  round(CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) mean_quality,
       |  round(CAST(sum(CASE WHEN q >= 0.7 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) kept_rate
       |FROM q GROUP BY 1""".stripMargin
  }

  private def qSourceStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
    val injected = d.union(
      d.filter(col("source") === "src3" && col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          col("source")))
    TextStats.sourceStats(injected, "text", "source",
      minDocs = 15, maxDupRate = 0.1)
  }
  private val qSourceStatsSql = {
    val stopList = TextStats.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH inj AS (SELECT doc_id, text, source FROM documents
       |    UNION ALL SELECT doc_id + 100000, text, source FROM documents
       |    WHERE source = 'src3' AND doc_id % 3 = 0),
       |st AS (SELECT source, md5(${normSql("text")}) fp,
       |    ${toksSql("text")} t FROM inj),
       |s2 AS (SELECT source, fp, CAST(len(t) AS INT) n_tok,
       |    CAST(len(list_filter(t, x -> list_contains([$stopList], x))) AS INT) n_stop
       |  FROM st),
       |a AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
       |    CAST(count(DISTINCT fp) AS BIGINT) n_distinct,
       |    CAST(sum(n_tok) AS BIGINT) sum_tokens,
       |    CAST(sum(n_stop) AS BIGINT) sum_stop
       |  FROM s2 GROUP BY 1)
       |SELECT source, n_docs, n_distinct, sum_tokens, sum_stop,
       |  CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE) dup_rate,
       |  CAST(sum_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) avg_tokens,
       |  CASE WHEN sum_tokens > 0
       |    THEN CAST(sum_stop AS DOUBLE) / CAST(sum_tokens AS DOUBLE)
       |    ELSE 0.0 END stop_share,
       |  (n_docs >= 15 AND CAST(n_docs - n_distinct AS DOUBLE)
       |     / CAST(n_docs AS DOUBLE) <= 0.1) keep
       |FROM a""".stripMargin
  }

  /** BM25 (linear-idf, decimal-summed — see TextStats.bm25 scaladoc for
    * the two portability choices) over a 3-term query; k1=1.25 / b=0.75
    * are binary-exact so the oracle's literals are the identical
    * doubles. Top-20 by (score desc, doc_id).
    *
    * Top-k shape: `orderBy().limit(k)` → `TakeOrderedAndProject`
    * (per-partition bounded heaps, merge of k-row partial results) —
    * NOT a global `row_number` window + rank filter. Spark's
    * InferWindowGroupLimit never fires on an EMPTY partition spec
    * (verified against bare Spark 4.1.2; r3's scaladoc claimed
    * otherwise and was wrong), so the window form funnels every scored
    * doc through one unbounded window task at scale. The rank column is
    * assigned AFTER the limit, over k rows — bounded by construction.
    * (score desc, doc_id asc) is a total order, so the k rows and their
    * ranks are identical to the window form's. PlanAssertSpec pins the
    * TakeOrderedAndProject node. */
  private def qBm25(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = TextStats.bm25(docs(s, dir), "doc_id", "text",
      Seq("spark", "join", "vector"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("id").asc)))
    ranked.select(col("id").as("doc_id"), col("n_terms"), col("score"),
      col("rank").cast("int").as("rank"))
  }
  private val qBm25Sql =
    s"""WITH staged AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |st AS (SELECT CAST(count(*) AS BIGINT) n_docs,
       |    CAST(sum(len(t)) AS BIGINT) sum_dl FROM staged),
       |tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) tf FROM (
       |    SELECT doc_id, len(t) dl, unnest(t) tok FROM staged)
       |  WHERE tok IN ('spark', 'join', 'vector') GROUP BY 1, 2, 3),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
       |scored AS (SELECT doc_id,
       |    (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
       |      * (CAST(tf AS DOUBLE) * 2.25)
       |      / (CAST(tf AS DOUBLE) + 1.25 * (0.25 + 0.75
       |          * (CAST(dl AS DOUBLE)
       |             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) tscore
       |  FROM tf JOIN dfq USING (tok), st),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_terms,
       |    CAST(sum(CAST(tscore AS DECIMAL(18,6))) AS DOUBLE) score
       |  FROM scored GROUP BY 1)
       |SELECT doc_id, n_terms, score, CAST(rank AS INT) rank
       |FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) rank
       |      FROM agg)
       |WHERE rank <= 20""".stripMargin

  /** Key-skew report over a 7-way synthetic key (user_id % 7): more
    * keys than topK so the TakeOrderedAndProject top-k actually cuts,
    * with the (n_rows desc, key asc) tie-break making the cut
    * deterministic. skew_ratio's (n_rows * n_keys) / n_total
    * association is mirrored verbatim. */
  private def qKeySkew(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("k", col("user_id") % 7)
    Relational.keySkewReport(ev, Seq("k"), topK = 5)
  }
  private val qKeySkewSql =
    """WITH c AS (SELECT user_id % 7 k, count(*) n_rows FROM events GROUP BY 1),
      |s AS (SELECT count(*) n_keys, CAST(sum(n_rows) AS BIGINT) n_total FROM c)
      |SELECT k, n_rows, n_keys, n_total,
      |  CAST(n_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
      |    / CAST(n_total AS DOUBLE) skew_ratio
      |FROM c, s ORDER BY n_rows DESC, k ASC LIMIT 5""".stripMargin

  private def qBloomSemi(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
    val o = Sources.table(s, dir, "orders")
      .filter(col("o_totalprice") > 350000.0)
      .select(col("o_orderkey").as("l_orderkey"))
    Relational.bloomSemiJoin(l, o, "l_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }
  /** The bloom pre-filter is exact-transparent (re-verified by the semi
    * join), so the oracle is the PLAIN semi join + aggregate. */
  private val qBloomSemiSql =
    """SELECT l_returnflag, count(*) n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_totalprice > 350000.0)
      |GROUP BY 1""".stripMargin

  /** Join advisor over lineitem x orders with a driver-policy broadcast
    * cap of 10k rows — at every test sf both sides exceed it and the
    * synthetic keys are near-uniform, so the verdict lands on
    * sort_merge via the measured numbers (not a shortcut); the spec
    * covers the broadcast and salted branches on crafted inputs. */
  private def qJoinAdvisor(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
      .withColumnRenamed("l_orderkey", "k")
    val o = Sources.table(s, dir, "orders")
      .withColumnRenamed("o_orderkey", "k")
    Relational.joinAdvisor(l, o, "k", broadcastMaxRows = 10000L)
  }
  private val qJoinAdvisorSql: String =
    """WITH ls AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) left_rows,
      |    count(*) left_keys,
      |    CAST(COALESCE(max(c), 0) AS BIGINT) left_max_key_rows
      |  FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)),
      |rs AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) right_rows,
      |    count(*) right_keys,
      |    CAST(COALESCE(max(c), 0) AS BIGINT) right_max_key_rows
      |  FROM (SELECT count(*) c FROM orders GROUP BY o_orderkey)),
      |j AS (SELECT *,
      |    CASE WHEN left_rows = 0 THEN 0.0
      |      ELSE CAST(left_max_key_rows AS DOUBLE) * CAST(left_keys AS DOUBLE)
      |        / CAST(left_rows AS DOUBLE) END left_skew_ratio,
      |    CASE WHEN right_rows = 0 THEN 0.0
      |      ELSE CAST(right_max_key_rows AS DOUBLE) * CAST(right_keys AS DOUBLE)
      |        / CAST(right_rows AS DOUBLE) END right_skew_ratio
      |  FROM ls, rs),
      |v AS (SELECT *,
      |    CASE WHEN least(left_rows, right_rows) <= 10000 THEN 'broadcast'
      |      WHEN greatest(left_skew_ratio, right_skew_ratio) >= 8.0
      |        THEN 'salted_sort_merge'
      |      ELSE 'sort_merge' END recommendation
      |  FROM j)
      |SELECT *, CASE WHEN recommendation = 'salted_sort_merge'
      |    THEN CAST(ceil(greatest(left_skew_ratio, right_skew_ratio)) AS INT)
      |    ELSE CAST(NULL AS INT) END salts
      |FROM v""".stripMargin

  /** SCD2 merge over a synthesized customer dimension: pre-existing
    * closed history (every 5th key), a changes batch (every 17th key ->
    * 'WEB'), a no-op batch (every 23rd key re-asserts its current
    * segment LATER than the change — keys divisible by both must
    * resolve to the no-op, exercising latest-wins reduction), and
    * brand-new keys (every 29th + 100000). The full versioned output is
    * compared row-for-row: passthrough, close+append, no-op and insert
    * paths all under the hash. */
  private def qScdMerge(s: SparkSession, dir: String): DataFrame = {
    val c = Sources.table(s, dir, "customer")
    def ts(x: String) = to_timestamp(lit(x))
    val cur = c.select(col("c_custkey"), col("c_mktsegment").as("segment"),
      ts("2020-01-01 00:00:00").as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"))
    val hist = c.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), lit("LEGACY").as("segment"),
        ts("2019-01-01 00:00:00").as("valid_from"),
        ts("2020-01-01 00:00:00").as("valid_to"))
    val upd = c.filter(col("c_custkey") % 17 === 0)
      .select(col("c_custkey"), lit("WEB").as("segment"),
        ts("2024-01-01 00:00:00").as("eff_ts"))
      .unionByName(c.filter(col("c_custkey") % 23 === 0)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          ts("2024-02-01 00:00:00").as("eff_ts")))
      .unionByName(c.filter(col("c_custkey") % 29 === 0)
        .select((col("c_custkey") + 100000L).as("c_custkey"),
          lit("DIRECT").as("segment"),
          ts("2024-03-01 00:00:00").as("eff_ts")))
    Relational.scdMerge(hist.unionByName(cur), upd,
      "c_custkey", Seq("segment"), "eff_ts")
      .select(col("c_custkey"), col("segment"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }
  private val qScdMergeSql: String =
    """WITH cur AS (SELECT c_custkey k, c_mktsegment seg,
      |    TIMESTAMP '2020-01-01' vf FROM customer),
      |hist AS (SELECT c_custkey k, 'LEGACY' seg, TIMESTAMP '2019-01-01' vf,
      |    TIMESTAMP '2020-01-01' vt FROM customer WHERE c_custkey % 5 = 0),
      |upd0 AS (
      |  SELECT c_custkey k, 'WEB' seg, TIMESTAMP '2024-01-01' ts
      |    FROM customer WHERE c_custkey % 17 = 0
      |  UNION ALL SELECT c_custkey, c_mktsegment, TIMESTAMP '2024-02-01'
      |    FROM customer WHERE c_custkey % 23 = 0
      |  UNION ALL SELECT c_custkey + 100000, 'DIRECT', TIMESTAMP '2024-03-01'
      |    FROM customer WHERE c_custkey % 29 = 0),
      |upd AS (SELECT k, seg, ts FROM upd0
      |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY ts DESC, seg DESC) = 1),
      |j AS (SELECT cur.k ck, cur.seg cseg, cur.vf cvf, upd.k uk, upd.seg useg,
      |    upd.ts uts FROM cur FULL OUTER JOIN upd ON cur.k = upd.k),
      |outv AS (
      |  SELECT ck k, cseg seg, cvf vf, CAST(NULL AS TIMESTAMP) vt FROM j
      |    WHERE ck IS NOT NULL AND (uk IS NULL OR cseg = useg)
      |  UNION ALL SELECT ck, cseg, cvf, uts FROM j
      |    WHERE ck IS NOT NULL AND uk IS NOT NULL AND cseg <> useg
      |  UNION ALL SELECT uk, useg, uts, CAST(NULL AS TIMESTAMP) FROM j
      |    WHERE uk IS NOT NULL AND (ck IS NULL OR cseg <> useg)
      |  UNION ALL SELECT k, seg, vf, vt FROM hist)
      |SELECT k c_custkey, seg segment, strftime(vf, '%Y-%m-%d') valid_from,
      |  strftime(vt, '%Y-%m-%d') valid_to, vt IS NULL is_current
      |FROM outv""".stripMargin

  /** Fuzzy join (record linkage): supplier names with one deterministic
    * character deletion injected (suppkey % 7 == 0, position rotated by
    * suppkey) are matched back to the clean supplier table at edit
    * distance <= 1 via deletion-neighborhood blocking + exact
    * levenshtein verify. Typos whose deletion falls in the zero-run can
    * legitimately match several "Supplier#0000000NN" neighbors — the
    * oracle reproduces exactly those extra pairs. The bucket cap (1000,
    * nowhere near binding here) is mirrored in the oracle per the
    * capped-band discipline. */
  private def qFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val sup = Sources.table(s, dir, "supplier")
    val pos = (expr("s_suppkey div 7") % length(col("s_name"))).cast("int") + 1
    val typos = sup.filter(col("s_suppkey") % 7 === 0)
      .select((col("s_suppkey") + 100000L).as("typo_id"),
        concat(col("s_name").substr(lit(1), pos - 1),
          col("s_name").substr(pos + 1, length(col("s_name"))))
          .as("typo_name"))
    Relational.fuzzyJoin(typos, sup, "typo_id", "typo_name",
      "s_suppkey", "s_name", maxDist = 1)
  }
  private val qFuzzyJoinSql: String =
    """WITH lt AS (SELECT s_suppkey + 100000 l_id,
      |    substr(s_name, 1, CAST((s_suppkey // 7) % len(s_name) AS INT))
      |      || substr(s_name, CAST((s_suppkey // 7) % len(s_name) AS INT) + 2,
      |           len(s_name)) l_val
      |  FROM supplier WHERE s_suppkey % 7 = 0),
      |rt AS (SELECT s_suppkey r_id, s_name r_val FROM supplier),
      |lv AS (SELECT l_id, l_val, unnest(list_distinct(list_prepend(l_val,
      |    list_transform(range(len(l_val)),
      |      j -> substr(l_val, 1, j) || substr(l_val, j + 2, len(l_val)))))) variant
      |  FROM lt),
      |rv AS (SELECT r_id, r_val, unnest(list_distinct(list_prepend(r_val,
      |    list_transform(range(len(r_val)),
      |      j -> substr(r_val, 1, j) || substr(r_val, j + 2, len(r_val)))))) variant
      |  FROM rt),
      |tag AS (SELECT variant, 0 side, l_id id, l_val v FROM lv
      |  UNION ALL SELECT variant, 1, r_id, r_val FROM rv),
      |capped AS (SELECT * FROM (
      |    SELECT *, count(*) OVER (PARTITION BY variant) bs FROM tag)
      |  WHERE bs <= 1000),
      |cand AS (SELECT DISTINCT a.id l_id, a.v l_val, b.id r_id, b.v r_val
      |  FROM capped a JOIN capped b USING (variant)
      |  WHERE a.side = 0 AND b.side = 1)
      |SELECT l_id, l_val, r_id, r_val,
      |  CAST(levenshtein(l_val, r_val) AS INT) dist
      |FROM cand WHERE levenshtein(l_val, r_val) <= 1""".stripMargin

  /** Bucketed co-located join: orders and customer are written as
    * external tables bucketed 8-ways on the customer key (one write-time
    * shuffle each), then merge-joined — the join itself runs with ZERO
    * exchange because both scans already satisfy the key distribution
    * (PlanAssertSpec pins it: the only exchange in the whole plan is the
    * final per-segment aggregation). The `merge` hint keeps Catalyst
    * from broadcasting the small test-scale side, so the plan shape is
    * the one a 100 TB fact-fact join would get. Temp paths follow the
    * tmpOut discipline (pid + per-call counter) so concurrent harness
    * runs never share a directory; table names are process-local
    * (in-memory catalog) and overwritten per call. */
  private val bktPid = ProcessHandle.current().pid()
  private val bktSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def qBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val leaf = java.lang.Integer.toHexString(dir.hashCode) +
      s"_p${bktPid}_c${bktSeq.incrementAndGet()}"
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_bkt_oracle", leaf)
    val ot = Layout.writeBucketedTable(
      Sources.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "graft_bkt_orders", s"$base/orders", 8,
      Seq("o_custkey"), Seq("o_custkey"))
    val ct = Layout.writeBucketedTable(
      Sources.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
      "graft_bkt_customer", s"$base/customer", 8,
      Seq("c_custkey"), Seq("c_custkey"))
    ot.join(ct.hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
  }
  /** Bucketing is layout, not semantics: the oracle is the plain join. */
  private val qBucketJoinSql: String =
    """SELECT c_mktsegment, count(*) n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /** Declarative constraint suite over lineitem: seven rules covering
    * all five rule classes, two with REAL violations in the synthetic
    * data (l_discount tops out at 0.10 vs the 0.08 rule; (l_orderkey,
    * l_linenumber) is deliberately non-unique) so the face proves
    * detection, not just green-path accounting. All five row-local
    * rules share ONE scan (fused conditional aggregation — see
    * Constraints scaladoc); Unique adds one partial-agg shuffle,
    * RefIntegrity one distinct-build anti join. */
  /** Functional-dependency discovery (Constraints.fdDiscovery) over
    * orders: the PK dependency o_orderkey→o_custkey genuinely HOLDS
    * while three plausible-looking candidates are measurably violated
    * (o_custkey→o_orderpriority: 1495 violating customers at sf0.01) — so both verdict branches are live in the gate. Oracle
    * mirrors the distinct-pairs → per-determinant census per pair. */
  private def qFdDiscovery(s: SparkSession, dir: String): DataFrame =
    Constraints.fdDiscovery(Sources.table(s, dir, "orders"), Seq(
      "o_orderkey" -> "o_custkey",
      "o_custkey" -> "o_orderpriority",
      "o_orderdate" -> "o_orderstatus",
      "o_orderstatus" -> "o_orderpriority"))
  private val qFdDiscoverySql = {
    def pair(det: String, dep: String) =
      s"""SELECT '$det' determinant, '$dep' dependent,
         |  CAST(count(*) AS BIGINT) n_groups,
         |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) violating_groups,
         |  CAST(sum(nd - 1) AS BIGINT) surplus_pairs,
         |  round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) violation_share,
         |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 holds
         |FROM (SELECT $det, count(*) nd FROM
         |  (SELECT DISTINCT $det, $dep FROM orders WHERE $det IS NOT NULL) GROUP BY 1)"""
        .stripMargin
    Seq("o_orderkey" -> "o_custkey", "o_custkey" -> "o_orderpriority",
      "o_orderdate" -> "o_orderstatus", "o_orderstatus" -> "o_orderpriority")
      .map { case (a, b) => pair(a, b) }.mkString("\nUNION ALL\n")
  }

  /** Key-candidate discovery (Constraints.uccDiscovery) — the third
    * schema-profiling leg. Candidates chosen so every verdict branch
    * is live: o_orderkey IS a key; l_orderkey and the fixture's
    * deliberately-non-unique (l_orderkey, l_linenumber) have
    * duplicates; adding (l_partkey, l_suppkey) restores a total order
    * (is_key true); and a derived nullable column (o_orderkey mod 50,
    * nulled at 0) exercises the keys-admit-no-nulls rule — unique on
    * the non-null part yet is_key false. All mirrored. */
  private def qUccDiscovery(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
    val o = Sources.table(s, dir, "orders")
      .withColumn("o_maybe",
        when(col("o_orderkey") % 50 === 0, lit(null))
          .otherwise(col("o_orderkey")))
    Constraints.uccDiscovery(l, Seq(
        Seq("l_orderkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")))
      .unionByName(Constraints.uccDiscovery(o,
        Seq(Seq("o_orderkey"), Seq("o_maybe"))))
  }
  private val qUccDiscoverySql = {
    def cand(label: String, tab: String, cols: Seq[String]) = {
      val allNN = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
      s"""SELECT '$label' column_set, nt.n_total,
         |  nt.n_total - nt.n_rows n_nulls, d.n_distinct,
         |  nt.n_rows - d.n_distinct n_duplicate_rows,
         |  (nt.n_total - nt.n_rows = 0 AND nt.n_rows - d.n_distinct = 0) is_key
         |FROM (SELECT CAST(count(*) AS BIGINT) n_total,
         |    CAST(sum(CASE WHEN $allNN THEN 1 ELSE 0 END) AS BIGINT) n_rows
         |  FROM $tab) nt,
         |  (SELECT CAST(count(*) AS BIGINT) n_distinct FROM
         |    (SELECT DISTINCT ${cols.mkString(", ")} FROM $tab
         |     WHERE $allNN)) d"""
        .stripMargin
    }
    val o2 = "(SELECT *, CASE WHEN o_orderkey % 50 = 0 THEN NULL " +
      "ELSE o_orderkey END o_maybe FROM orders)"
    Seq(
      cand("l_orderkey", "lineitem", Seq("l_orderkey")),
      cand("l_orderkey,l_linenumber", "lineitem",
        Seq("l_orderkey", "l_linenumber")),
      cand("l_orderkey,l_linenumber,l_partkey,l_suppkey", "lineitem",
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),
      cand("o_orderkey", o2, Seq("o_orderkey")),
      cand("o_maybe", o2, Seq("o_maybe")))
      .mkString("\nUNION ALL\n")
  }

  /** Inclusion-dependency discovery (Constraints.indDiscovery): four
    * cross-table candidates — three genuine FKs at containment 1.0
    * (lineitem→orders, lineitem→supplier, orders→customer) and the
    * REVERSE direction c_custkey ⊆ o_custkey with five injected
    * orphan keys (every fixture customer has orders, so the broken-
    * reference branch would otherwise be vacuous) — both verdict
    * branches live in the gate. Oracle mirrors the distinct-shrink + left-anti
    * orphan census per candidate. */
  private def qIndDiscovery(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
    val o = Sources.table(s, dir, "orders")
    val c = Sources.table(s, dir, "customer")
    val sup = Sources.table(s, dir, "supplier")
    Constraints.indDiscovery(l, Seq(
        ("l_orderkey", o, "o_orderkey"),
        ("l_suppkey", sup, "s_suppkey")))
      .unionByName(Constraints.indDiscovery(o,
        Seq(("o_custkey", c, "c_custkey"))))
      .unionByName(Constraints.indDiscovery(
        // every fixture customer has orders, so the broken-reference
        // branch would be vacuous: inject five orphan keys (mirrored)
        c.select(col("c_custkey")).union(
          s.range(900001, 900006).select(col("id").as("c_custkey"))),
        Seq(("c_custkey", o, "o_custkey"))))
  }
  private val qIndDiscoverySql = {
    def cand(childCol: String, childTab: String, parentCol: String,
        parentTab: String) =
      s"""SELECT '$childCol' child_col, '$parentCol' parent_col,
         |  CAST(count(*) AS BIGINT) n_child_distinct,
         |  CAST(count(CASE WHEN p.v IS NULL THEN 1 END) AS BIGINT) n_orphans,
         |  round(CAST(count(*) - count(CASE WHEN p.v IS NULL THEN 1 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) containment,
         |  count(CASE WHEN p.v IS NULL THEN 1 END) = 0 is_fk_candidate
         |FROM (SELECT DISTINCT $childCol v FROM $childTab
         |      WHERE $childCol IS NOT NULL) ch
         |LEFT JOIN (SELECT DISTINCT $parentCol v FROM $parentTab
         |      WHERE $parentCol IS NOT NULL) p USING (v)"""
        .stripMargin
    Seq(
      cand("l_orderkey", "lineitem", "o_orderkey", "orders"),
      cand("l_suppkey", "lineitem", "s_suppkey", "supplier"),
      cand("o_custkey", "orders", "c_custkey", "customer"),
      cand("c_custkey",
        "(SELECT c_custkey FROM customer UNION ALL SELECT * FROM " +
        "(VALUES (900001), (900002), (900003), (900004), (900005)))",
        "o_custkey", "orders"))
      .mkString("\nUNION ALL\n")
  }

  private def qConstraints(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
    val o = Sources.table(s, dir, "orders")
    Constraints.validate(l, Seq(
      Constraints.NotNull("l_orderkey"),
      Constraints.InRange("l_quantity", 1.0, 50.0),
      Constraints.InRange("l_discount", 0.0, 0.08),
      Constraints.Matches("l_returnflag", "^[ANR]$"),
      Constraints.AcceptedValues("l_linestatus", Seq("O", "F")),
      Constraints.Unique(Seq("l_orderkey", "l_linenumber")),
      Constraints.RefIntegrity("l_orderkey", o, "o_orderkey")))
  }
  private val qConstraintsSql: String =
    """WITH rl AS (SELECT count(*) n,
      |    count(*) FILTER (WHERE l_orderkey IS NULL) v_nn,
      |    count(*) FILTER (WHERE l_quantity IS NOT NULL
      |      AND (l_quantity < 1.0 OR l_quantity > 50.0)) v_rq,
      |    count(*) FILTER (WHERE l_discount IS NOT NULL
      |      AND (l_discount < 0.0 OR l_discount > 0.08)) v_rd,
      |    count(*) FILTER (WHERE l_returnflag IS NOT NULL
      |      AND NOT regexp_matches(l_returnflag, '^[ANR]$')) v_m,
      |    count(*) FILTER (WHERE l_linestatus IS NOT NULL
      |      AND l_linestatus NOT IN ('O', 'F')) v_a
      |  FROM lineitem),
      |u AS (SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT) v,
      |    CAST(COALESCE(sum(c), 0) AS BIGINT) n FROM (
      |    SELECT count(*) c FROM lineitem
      |    WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
      |    GROUP BY l_orderkey, l_linenumber)),
      |fk AS (SELECT count(*) n, count(*) FILTER (WHERE l_orderkey NOT IN (
      |    SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) v
      |  FROM lineitem WHERE l_orderkey IS NOT NULL),
      |rep AS (
      |  SELECT 'not_null' check_kind, 'l_orderkey' target, v_nn violations, n n_checked FROM rl
      |  UNION ALL SELECT 'in_range', 'l_quantity', v_rq, n FROM rl
      |  UNION ALL SELECT 'in_range', 'l_discount', v_rd, n FROM rl
      |  UNION ALL SELECT 'matches', 'l_returnflag', v_m, n FROM rl
      |  UNION ALL SELECT 'accepted_values', 'l_linestatus', v_a, n FROM rl
      |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber', v, n FROM u
      |  UNION ALL SELECT 'ref_integrity', 'l_orderkey', v, n FROM fk)
      |SELECT check_kind, target, violations, n_checked, violations = 0 ok
      |FROM rep ORDER BY check_kind, target""".stripMargin

  private def qLineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
        col("cleaned"))

  /** Oracle keep-first = row_number over (doc_id, pos) per line — the
    * declarative mirror of the Scala side's min(struct(id, pos)) agg
    * (same winner; the agg shape is the skew-safe one at scale). Both
    * engines index lines in the RAW split array (pre-filter), so
    * positions agree. */
  private val qLineDedupSql: String =
    """WITH lx AS (
      |  SELECT doc_id, generate_subscripts(l, 1) pos, unnest(l) line
      |  FROM (SELECT doc_id,
      |          list_transform(string_split(text, chr(10)), x -> trim(x)) l
      |        FROM documents)),
      |nz AS (SELECT doc_id, pos, line FROM lx WHERE len(line) > 0),
      |keep AS (SELECT doc_id, pos, line FROM nz
      |  QUALIFY row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1),
      |agg AS (SELECT doc_id, CAST(count(*) AS INT) n_kept,
      |    string_agg(line, chr(10) ORDER BY pos) cleaned
      |  FROM keep GROUP BY 1),
      |base AS (SELECT doc_id,
      |    len(list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
      |        x -> len(x) > 0)) n_lines
      |  FROM documents)
      |SELECT base.doc_id, CAST(base.n_lines AS INT) n_lines,
      |  COALESCE(agg.n_kept, 0) n_kept, COALESCE(agg.cleaned, '') cleaned
      |FROM base LEFT JOIN agg USING (doc_id)""".stripMargin

  /** URL canonicalization: three deterministic messy variants per doc
    * (uppercase host + default port + tracking params + fragment /
    * default port + gclid / bare host with no path) collapse to
    * canonical forms; both engines synthesize AND canonicalize with
    * the identical regex chain. Variants 0 and 1 of the same doc
    * differ only by scheme after cleanup — the canonical-URL dedup
    * count at the end proves the collapse happened. */
  /** Per-apex-domain crawl rollup (Urls.domainStats) over synthesized
    * URLs: subdomain variants (www./cdn.) fold into one apex, %97 paths
    * produce refetches, so domains, page dedup, and refetch rate are
    * all exercised. */
  private def qDomainStats(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Urls
    val m = col("doc_id") % 3
    val site = concat(col("source"), (col("doc_id") % 7).cast("string"))
    val url = when(m === 0, concat(lit("HTTPS://WWW."), upper(site),
        lit(".ORG:443/p/"), (col("doc_id") % 97).cast("string"),
        lit("?utm_source=tw")))
      .when(m === 1, concat(lit("http://"), site,
        lit(".org:80/p/"), (col("doc_id") % 97).cast("string"), lit("?z=9")))
      .otherwise(concat(lit("https://cdn."), site,
        lit(".org/p/"), (col("doc_id") % 97).cast("string")))
    Urls.domainStats(
      docs(s, dir).select(url.as("url"), col("n_chars")), "url", "n_chars")
  }
  private val qDomainStatsSql: String =
    s"""WITH u AS (SELECT n_chars, CASE
       |    WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' || upper(source || CAST(doc_id % 7 AS VARCHAR)) ||
       |      '.ORG:443/p/' || (doc_id % 97) || '?utm_source=tw'
       |    WHEN doc_id % 3 = 1 THEN 'http://' || source || CAST(doc_id % 7 AS VARCHAR) ||
       |      '.org:80/p/' || (doc_id % 97) || '?z=9'
       |    ELSE 'https://cdn.' || source || CAST(doc_id % 7 AS VARCHAR) ||
       |      '.org/p/' || (doc_id % 97) END url
       |  FROM documents),
       |p AS (SELECT n_chars,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) scheme,
       |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) hostport,
       |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) path0,
       |    regexp_extract(url, '\\?([^#]*)', 1) q0
       |  FROM u),
       |c AS (SELECT n_chars, scheme || '://' ||
       |    (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |          WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |          ELSE hostport END) ||
       |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
       |    (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) canonical,
       |    regexp_extract(regexp_replace(
       |      (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |            WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |            ELSE hostport END), ':[0-9]+$$', ''),
       |      '([^.]+\\.[^.]+)$$', 1) dom
       |  FROM (SELECT *, COALESCE(array_to_string(list_sort(list_filter(
       |      string_split(q0, '&'),
       |      x -> NOT regexp_matches(x, '${graft.ext.Urls.trackingParams}')
       |        AND x <> '')), '&'), '') kept FROM p)),
       |g AS (SELECT dom AS "domain", count(*) n_docs,
       |    count(DISTINCT canonical) n_pages,
       |    CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS BIGINT) sum_chars
       |  FROM c GROUP BY 1)
       |SELECT "domain", n_docs, n_pages,
       |  round(1.0 - CAST(n_pages AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) refetch_rate,
       |  sum_chars,
       |  round(CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) mean_chars
       |FROM g""".stripMargin

  /** Corpus concentration panel over char-weighted source shares
    * (NumericProfile.concentrationReport): entropy, effective sources,
    * HHI, Gini, top-1/top-10 share. */
  private def qConcentration(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.concentrationReport(docs(s, dir), "source",
      weightCol = Some("n_chars"))
  private val qConcentrationSql: String = {
    val share = "(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))"
    s"""WITH g AS (SELECT CAST(source AS VARCHAR) gg,
       |    CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS BIGINT) n
       |  FROM documents GROUP BY 1),
       |w AS (SELECT *, sum(n) OVER () t,
       |    row_number() OVER (ORDER BY n ASC, gg ASC) rk_asc,
       |    row_number() OVER (ORDER BY n DESC, gg ASC) rk_desc
       |  FROM g),
       |tm AS (SELECT *,
       |    round($share * -round(ln($share), 8), 12) h_term,
       |    round($share * $share, 12) hhi_term,
       |    round(CAST(rk_asc AS DOUBLE) * $share, 12) gini_term
       |  FROM w),
       |a AS (SELECT count(*) n_groups,
       |    CAST(sum(CAST(h_term AS DECIMAL(28,14))) AS DOUBLE) h0,
       |    CAST(sum(CAST(hhi_term AS DECIMAL(28,14))) AS DOUBLE) hhi0,
       |    CAST(sum(CAST(gini_term AS DECIMAL(28,14))) AS DOUBLE) g0,
       |    max(CASE WHEN rk_desc = 1 THEN $share END) top1,
       |    CAST(sum(CASE WHEN rk_desc <= 10
       |      THEN CAST(round($share, 12) AS DECIMAL(28,14)) END) AS DOUBLE) top10
       |  FROM tm)
       |SELECT n_groups, round(h0, 6) entropy,
       |  round(exp(round(h0, 8)), 6) effective_groups,
       |  round(hhi0, 6) hhi,
       |  round(2.0 * g0 / CAST(n_groups AS DOUBLE)
       |    - CAST(n_groups + 1 AS DOUBLE) / CAST(n_groups AS DOUBLE), 6) gini,
       |  round(top1, 6) top1_share,
       |  round(least(top10, 1.0), 6) top10_share
       |FROM a""".stripMargin
  }

  private def qUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Urls
    val m = col("doc_id") % 3
    val url = when(m === 0, concat(lit("HTTPS://"), upper(col("source")),
        lit(".Example.COM:443/d/"), col("doc_id").cast("string"),
        lit("?utm_source=tw&z=9&a=1#top")))
      .when(m === 1, concat(lit("http://"), col("source"),
        lit(".example.com:80/d/"), col("doc_id").cast("string"),
        lit("?z=9&gclid=abc&a=1")))
      .otherwise(concat(lit("https://"), col("source"), lit(".example.com")))
    docs(s, dir).select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), Urls.canonicalize(col("url")).as("canonical"))
      .select(col("doc_id"), col("canonical"),
        Urls.apexDomain(Urls.hostOf(col("canonical"))).as("apex"))
  }
  /** URL-keyed keep-best dedup (Urls.dedupByCanonicalUrl): refetch
    * variants of one page (tracking params, default ports, case) share
    * a path bucket doc_id % 97, so each canonical URL collects ~5
    * fetches at sf0.01; the richest (n_chars, tie min id) survives.
    * The %3=2 host-only arm exercises hot-URL groups (one canonical
    * per source). */
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Urls
    val m = col("doc_id") % 3
    val url = when(m === 0, concat(lit("HTTPS://"), upper(col("source")),
        lit(".Example.COM:443/p/"), (col("doc_id") % 97).cast("string"),
        lit("?utm_source=tw&z=9#top")))
      .when(m === 1, concat(lit("http://"), col("source"),
        lit(".example.com:80/p/"), (col("doc_id") % 97).cast("string"),
        lit("?z=9&gclid=abc")))
      .otherwise(concat(lit("https://"), col("source"), lit(".example.com")))
    Urls.dedupByCanonicalUrl(
      docs(s, dir).select(col("doc_id"), url.as("url"), col("n_chars")),
      "doc_id", "url", "n_chars")
  }
  private val qUrlDedupSql: String =
    s"""WITH u AS (SELECT doc_id, n_chars, CASE
       |    WHEN doc_id % 3 = 0 THEN 'HTTPS://' || upper(source) ||
       |      '.Example.COM:443/p/' || (doc_id % 97) || '?utm_source=tw&z=9#top'
       |    WHEN doc_id % 3 = 1 THEN 'http://' || source ||
       |      '.example.com:80/p/' || (doc_id % 97) || '?z=9&gclid=abc'
       |    ELSE 'https://' || source || '.example.com' END url
       |  FROM documents),
       |p AS (SELECT doc_id, n_chars,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) scheme,
       |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) hostport,
       |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) path0,
       |    regexp_extract(url, '\\?([^#]*)', 1) q0
       |  FROM u),
       |c AS (SELECT doc_id, n_chars, scheme || '://' ||
       |    (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |          WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |          ELSE hostport END) ||
       |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
       |    (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) canonical
       |  FROM (SELECT *, COALESCE(array_to_string(list_sort(list_filter(
       |      string_split(q0, '&'),
       |      x -> NOT regexp_matches(x, '${graft.ext.Urls.trackingParams}')
       |        AND x <> '')), '&'), '') kept FROM p)),
       |g AS (SELECT canonical,
       |    max(struct_pack(score := n_chars, ni := -doc_id)) best,
       |    count(*) n_copies
       |  FROM c GROUP BY 1)
       |SELECT canonical, -best.ni keep_id, best.score best_score, n_copies
       |FROM g""".stripMargin

  private val qUrlNormalizeSql: String =
    s"""WITH u AS (SELECT doc_id, CASE
       |    WHEN doc_id % 3 = 0 THEN 'HTTPS://' || upper(source) ||
       |      '.Example.COM:443/d/' || doc_id || '?utm_source=tw&z=9&a=1#top'
       |    WHEN doc_id % 3 = 1 THEN 'http://' || source ||
       |      '.example.com:80/d/' || doc_id || '?z=9&gclid=abc&a=1'
       |    ELSE 'https://' || source || '.example.com' END url
       |  FROM documents),
       |p AS (SELECT doc_id,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) scheme,
       |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) hostport,
       |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) path0,
       |    regexp_extract(url, '\\?([^#]*)', 1) q0
       |  FROM u),
       |c AS (SELECT doc_id, scheme ||
       |    '://' ||
       |    (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |          WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |          ELSE hostport END) ||
       |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
       |    (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) canonical
       |  FROM (SELECT *, COALESCE(array_to_string(list_sort(list_filter(
       |      string_split(q0, '&'),
       |      x -> NOT regexp_matches(x, '${graft.ext.Urls.trackingParams}')
       |        AND x <> '')), '&'), '') kept FROM p))
       |SELECT doc_id, canonical,
       |  regexp_extract(lower(regexp_extract(canonical,
       |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
       |    '([^.]+\\.[^.]+)$$', 1) apex
       |FROM c""".stripMargin

  /** Split-leakage audit on the injected-dup corpus: the id-hash split
    * is leak-free by id, but injected content copies straddle splits —
    * the report counts fingerprints per split combination. */
  private def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val split = ext.Sampling.assignSplit(injectedDocs(s, dir), "doc_id",
      Seq("train" -> 800, "val" -> 100, "test" -> 100))
    Dedup.crossSplitLeakage(split, "text", "split")
  }
  private val qSplitLeakageSql: String = {
    val dr = ext.Sampling.drawSql("doc_id", "split")
    s"""WITH $injectedDocsSql,
       |d AS (SELECT text, CASE WHEN dr < 800 THEN 'train'
       |    WHEN dr < 900 THEN 'val' ELSE 'test' END split
       |  FROM (SELECT doc_id, text, $dr AS dr FROM inj)),
       |f AS (SELECT split, md5(${normSql("text")}) fp FROM d),
       |g AS (SELECT fp, list_sort(list(DISTINCT split)) splits,
       |    count(*) n FROM f GROUP BY fp),
       |l AS (SELECT array_to_string(splits, '+') split_combo, n
       |  FROM g WHERE len(splits) >= 2)
       |SELECT split_combo, count(*) n_fingerprints,
       |  CAST(sum(n) AS BIGINT) n_docs
       |FROM l GROUP BY 1""".stripMargin
  }

  /** Exact-substring duplication pairs via winnowing fingerprints
    * (guarantee: shared normalized spans >= w+k-1 = 23 chars are always
    * caught). Oracle re-derives the window-min gram selection with
    * list_reduce rolling hashes + list_min slices — O(len * w) in SQL,
    * O(len) rolled in the Scala kernel, identical selected VALUES (the
    * min is by value only, so no tie-break can diverge). */
  private def qSubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDupPairs(docs(s, dir), "doc_id", "text",
      k = 16, w = 8, maxDocFreq = 64, minShared = 2)
      .select(col("id_a"), col("id_b"), col("n_shared"))
  /** Shared winnowing-fingerprint CTE chain ending in
    * `fps(doc_id, fp)` — the ONE DuckDB mirror of
    * `VectorExprs.winnow_fingerprints` (k-gram rolling hashes, min per
    * w-window, per-doc distinct), used by both the substring-dup and
    * novelty oracles so the scheme cannot silently fork. */
  private def winnowFpsCtes(K: Int, W: Int): String = {
    val P = Hashing.P
    s"""nt AS (SELECT doc_id, ${normSql("text")} nt FROM documents),
       |gh AS (SELECT doc_id, CASE
       |    WHEN len(nt) = 0 THEN [CAST(0 AS BIGINT)]
       |    WHEN len(nt) < $K THEN [list_reduce(
       |      list_transform(range(len(nt)), j -> CAST(ord(substr(nt, CAST(j+1 AS INT), 1)) AS BIGINT)),
       |      (a, x) -> (a * 31 + x) % $P)]
       |    ELSE list_transform(range(len(nt) - $K + 1), i -> list_reduce(
       |      list_transform(range($K), j -> CAST(ord(substr(nt, CAST(i+j+1 AS INT), 1)) AS BIGINT)),
       |      (a, x) -> (a * 31 + x) % $P)) END g
       |  FROM nt),
       |fps AS (SELECT doc_id, unnest(list_distinct(CASE
       |    WHEN len(g) <= $W THEN [list_min(g)]
       |    ELSE list_transform(range(len(g) - $W + 1), j ->
       |      list_min(list_slice(g, j+1, j+$W))) END)) fp
       |  FROM gh)""".stripMargin
  }
  private val qSubstringDedupSql: String =
    s"""WITH ${winnowFpsCtes(16, 8)},
       |dupfp AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
       |kept AS (SELECT doc_id, f.fp FROM fps f JOIN dupfp USING (fp))
       |SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_shared
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** Per-doc winnowing-fingerprint novelty (Dedup.fingerprintNovelty):
    * share of the doc's fingerprints unique corpus-wide — the
    * per-document boilerplate screen next to the per-pair detectors. */
  private def qNgramNovelty(s: SparkSession, dir: String): DataFrame =
    Dedup.fingerprintNovelty(docs(s, dir), "doc_id", "text", k = 16, w = 8)
  private val qNgramNoveltySql: String =
    s"""WITH ${winnowFpsCtes(16, 8)},
       |dfc AS (SELECT fp, count(*) df FROM fps GROUP BY 1)
       |SELECT f.doc_id, count(*) n_fp,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) n_novel,
       |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) novelty
       |FROM fps f JOIN dfc USING (fp) GROUP BY 1""".stripMargin

  /** Exact per-(lang) quantile panel over n_chars
    * (NumericProfile.quantilePanel): lower quantiles off the
    * (group x distinct-value) grid, no percentile_approx. */
  private def qQuantilePanel(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.quantilePanel(docs(s, dir), "n_chars", "lang")

  /** Approx sibling of q_quantile_panel (the 100 TB default path):
    * percentile_approx sketch at accuracy 10000 — rank error 0.01 %,
    * exact below 10k rows/group. VALUE-gated since r9 (VERDICT r8
    * Next #3): NumericProfile.quantilePanelBounded emits the exact
    * padded-rank-window bounds around each sketch quantile plus
    * ok_p{q} booleans, so the oracle recomputes the bounds bit-exact
    * and pins ok = TRUE — a sketch that leaves its documented
    * 0.01 %-rank window fails the hash gate instead of hiding behind
    * a rows-only check. Pure-approx timing evidence lives in SCALE.md
    * (the r8 exact-vs-approx pair); tools.ScaleBench times this face
    * at 1x and 10x. */
  private def qQuantilePanelApprox(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.quantilePanelBounded(docs(s, dir), "n_chars", "lang")
  /** Shared bounded-window oracle builder: the exact grid + cumulative
    * window (the q_quantile_panel CTE shape) with each quantile's
    * padded rank window [ceil(q*n) - d, ceil(q*n) + d], d =
    * ceil(n/accuracy) + 1, mirrored literally; TRUE pinned per ok. */
  private def quantileBoundedSql(gridCte: String,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): String = {
    val dd = "(CAST(ceil(CAST(n AS DOUBLE) / 10000.0) AS BIGINT) + 1)"
    val picks = qs.map { q =>
      val p = math.round(q * 100)
      val tgt = s"CAST(ceil(CAST(n AS DOUBLE) * $q) AS BIGINT)"
      s"""min(CASE WHEN cum >= greatest(1, $tgt - $dd) THEN v END) lo$p,
         |  min(CASE WHEN cum >= least(n, $tgt + $dd) THEN v END) hi$p"""
        .stripMargin
    }.mkString(",\n|  ")
    val outs = qs.map { q =>
      val p = math.round(q * 100)
      s"lo$p, hi$p, TRUE ok_p$p"
    }.mkString(", ")
    s"""WITH c AS ($gridCte),
       |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) n,
       |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
       |  FROM c),
       |b AS (SELECT g, max(n) n_rows,
       |  $picks
       |FROM w GROUP BY 1)
       |SELECT g, n_rows, $outs FROM b""".stripMargin
  }
  private val qQuantilePanelApproxSql: String = quantileBoundedSql(
    """SELECT lang g, n_chars v, count(*) c FROM documents
       |  WHERE n_chars IS NOT NULL GROUP BY 1, 2""".stripMargin)
  private val qQuantilePanelSql: String = {
    val picks = Seq(25 -> 0.25, 50 -> 0.5, 75 -> 0.75, 90 -> 0.9,
      99 -> 0.99).map { case (p, q) =>
      s"min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * $q) THEN v END) p$p"
    }.mkString(",\n|  ")
    s"""WITH c AS (SELECT lang g, n_chars v, count(*) c FROM documents
       |  WHERE n_chars IS NOT NULL GROUP BY 1, 2),
       |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) n,
       |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
       |  FROM c)
       |SELECT g, max(n) n_rows,
       |  $picks
       |FROM w GROUP BY 1""".stripMargin
  }

  /** Rare-category collapse (Cleaning.CollapseRareCategories, share
    * threshold 0.13) on lang, then the post-collapse census — the
    * one-hot-prep guard. */
  private def qRareCollapse(s: SparkSession, dir: String): DataFrame =
    graft.clean.CleaningAction.CollapseRareCategories("lang", 0.13)
      .apply(docs(s, dir))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
  private val qRareCollapseSql: String =
    """WITH c AS (SELECT lang, count(*) n FROM documents GROUP BY 1),
      |k AS (SELECT lang FROM (SELECT *, sum(n) OVER () t FROM c)
      |  WHERE lang IS NOT NULL
      |    AND CAST(n AS DOUBLE) / CAST(t AS DOUBLE) >= 0.13)
      |SELECT CASE WHEN k.lang IS NOT NULL THEN d.lang
      |  ELSE '__other' END lang, count(*) n_docs
      |FROM documents d LEFT JOIN k ON d.lang = k.lang
      |GROUP BY 1""".stripMargin

  /** Bayesian-smoothed target encoding of event_type against value
    * (MLFit.targetEncode, m = 50 pseudo-observations of the global
    * mean). */
  private def qTargetEncode(s: SparkSession, dir: String): DataFrame =
    MLFit.targetEncode(events(s, dir), "event_type", "value", m = 50.0)
  private val qTargetEncodeSql: String =
    """WITH a AS (SELECT event_type category, count(*) n,
      |    sum(CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6))) sdec
      |  FROM events WHERE value IS NOT NULL GROUP BY 1),
      |w AS (SELECT *, CAST(sum(sdec) OVER () AS DOUBLE) gs,
      |    CAST(sum(n) OVER () AS BIGINT) gn, CAST(sdec AS DOUBLE) s
      |  FROM a)
      |SELECT category, n, round(s / CAST(n AS DOUBLE), 6) raw_mean,
      |  round((s + 50.0 * (gs / CAST(gn AS DOUBLE)))
      |    / (CAST(n AS DOUBLE) + 50.0), 6) encoded
      |FROM w""".stripMargin

  /** DuckDB mirror of [[Repetition.wordGrams]] over a token-list column
    * named `toks` (1-based inclusive slice = n consecutive tokens). */
  private def gramsSql(n: Int): String =
    s"CASE WHEN len(toks) >= $n THEN list_transform(range(len(toks) - ${n - 1}), " +
      s"i -> array_to_string(toks[i+1:i+$n], ' ')) ELSE [] END"

  /** Shared CTE chain ending in `rep(doc_id, n_lines, dup_line_frac,
    * dup_line_char_frac, top2_char_frac, top3_char_frac, dup5_char_frac)`.
    * The oracle computes per-gram counts via unnest + GROUP BY — the
    * declarative mirror of the Spark side's sorted run-length fold (same
    * counts, engine-appropriate plan); ties broken (count DESC, gram ASC)
    * = the fold's first-maximal-run-in-sorted-order. */
  private val repetitionCtes: String =
    s"""b2 AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
       |                l -> len(l) > 0) lns,
       |    ${toksSql("text")} toks,
       |    length(array_to_string(${toksSql("text")}, ' ')) norm_len
       |  FROM documents),
       |lin AS (
       |  SELECT doc_id,
       |    CAST(sum(c) AS INT) n_lines,
       |    CAST(sum(c) - count(*) AS BIGINT) dup_lines,
       |    CAST(sum(c * length(line)) AS BIGINT) tot_line_chars,
       |    CAST(sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS BIGINT) dup_line_chars
       |  FROM (SELECT doc_id, line, count(*) c
       |        FROM (SELECT doc_id, unnest(lns) line FROM b2) GROUP BY 1, 2)
       |  GROUP BY 1),
       |cnt2 AS (SELECT doc_id, g, count(*) c
       |  FROM (SELECT doc_id, unnest(${gramsSql(2)}) g FROM b2) GROUP BY 1, 2),
       |top2 AS (SELECT doc_id, c, g FROM cnt2
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1),
       |cnt3 AS (SELECT doc_id, g, count(*) c
       |  FROM (SELECT doc_id, unnest(${gramsSql(3)}) g FROM b2) GROUP BY 1, 2),
       |top3 AS (SELECT doc_id, c, g FROM cnt3
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1),
       |cnt5 AS (SELECT doc_id, g, count(*) c
       |  FROM (SELECT doc_id, unnest(${gramsSql(5)}) g FROM b2) GROUP BY 1, 2),
       |d5 AS (SELECT doc_id,
       |    CAST(sum(c * length(g)) AS BIGINT) tot,
       |    CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS BIGINT) dup
       |  FROM cnt5 GROUP BY 1),
       |rep AS (
       |  SELECT b2.doc_id,
       |    COALESCE(lin.n_lines, 0) n_lines,
       |    CASE WHEN COALESCE(lin.n_lines, 0) > 0
       |      THEN CAST(lin.dup_lines AS DOUBLE) / CAST(lin.n_lines AS DOUBLE)
       |      ELSE 0.0 END dup_line_frac,
       |    CASE WHEN COALESCE(lin.tot_line_chars, 0) > 0
       |      THEN CAST(lin.dup_line_chars AS DOUBLE) / CAST(lin.tot_line_chars AS DOUBLE)
       |      ELSE 0.0 END dup_line_char_frac,
       |    CASE WHEN top2.c IS NOT NULL AND b2.norm_len > 0
       |      THEN CAST(top2.c * length(top2.g) AS DOUBLE) / CAST(b2.norm_len AS DOUBLE)
       |      ELSE 0.0 END top2_char_frac,
       |    CASE WHEN top3.c IS NOT NULL AND b2.norm_len > 0
       |      THEN CAST(top3.c * length(top3.g) AS DOUBLE) / CAST(b2.norm_len AS DOUBLE)
       |      ELSE 0.0 END top3_char_frac,
       |    CASE WHEN COALESCE(d5.tot, 0) > 0
       |      THEN CAST(d5.dup AS DOUBLE) / CAST(d5.tot AS DOUBLE)
       |      ELSE 0.0 END dup5_char_frac
       |  FROM b2
       |  LEFT JOIN lin USING (doc_id)
       |  LEFT JOIN top2 USING (doc_id)
       |  LEFT JOIN top3 USING (doc_id)
       |  LEFT JOIN d5 USING (doc_id))""".stripMargin

  private val qRepetitionSql: String =
    s"""WITH $repetitionCtes
       |SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
       |  top2_char_frac, top3_char_frac, dup5_char_frac
       |FROM rep""".stripMargin

  /** Mirror of [[TextStats.withC4Filter]]: same line split/trim as the
    * other line-level oracles, C4 keep predicate per line, page verdict
    * on survivors. */
  private val qC4FilterSql: String = {
    val punct = TextStats.c4TerminalPunct.map(p =>
      if (p == "\"") "'\"'" else s"'$p'").mkString("[", ", ", "]")
    val blocked = TextStats.c4LineBlocklist
      .map(b => s"NOT contains(lower(l), '$b')").mkString(" AND ")
    s"""WITH fx AS (SELECT doc_id,
       |    (text || '.') || chr(10) ||
       |    'Short line.' || chr(10) ||
       |    'Please enable javascript to continue reading today.' || chr(10) ||
       |    substring(text, 1, 40) || chr(10) ||
       |    (CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet consectetur.'
       |      ELSE 'A perfectly normal closing sentence appears right here.' END) || chr(10) ||
       |    'The quick brown fox jumps over the lazy dog today.' || chr(10) ||
       |    (CASE WHEN doc_id % 13 = 0 THEN 'function f() { return 1; }'
       |      ELSE 'Privacy policy pages are excluded from the corpus.' END) AS text
       |  FROM documents),
       |ln AS (SELECT doc_id,
       |    list_filter(list_transform(string_split(COALESCE(text, ''), chr(10)),
       |      l -> trim(l)), l -> len(l) > 0) ls,
       |    lower(COALESCE(text, '')) lt, COALESCE(text, '') tx
       |  FROM fx),
       |k AS (SELECT doc_id, ls, lt, tx,
       |    list_filter(ls, l ->
       |      list_contains($punct, right(l, 1))
       |      AND len(list_filter(regexp_split_to_array(l, '\\s+'),
       |        t -> len(t) > 0)) >= ${TextStats.c4MinWordsPerLine}
       |      AND $blocked) ks
       |  FROM ln)
       |SELECT doc_id, CAST(len(ls) AS INT) n_lines,
       |  CAST(len(ks) AS INT) n_kept_lines,
       |  ${Hashing.hash64Sql("COALESCE(array_to_string(ks, chr(10)), '')")} AS clean_h,
       |  contains(lt, 'lorem ipsum') has_lorem,
       |  contains(tx, '{') has_brace,
       |  (len(ks) >= ${TextStats.c4MinKeptLines}
       |    AND NOT contains(lt, 'lorem ipsum')
       |    AND NOT contains(tx, '{')) keep_page
       |FROM k""".stripMargin
  }

  /** Gopher flag CTEs (`qf`, `flags(doc_id, n_tokens, fl)`) on top of
    * [[repetitionCtes]] — the ONE mirror of
    * `Repetition.withGopherFilter`'s rule list, shared by the gopher
    * face and the quality-ensemble oracle (a forked copy would let the
    * two faces' rule sets drift). Flag list alphabetical, as in the
    * Scala. */
  private val gopherFlagsCtes: String = {
    val sw = TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""qf AS (
       |  SELECT doc_id,
       |    len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) n_tokens,
       |    len(list_filter(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0),
       |        t -> list_contains($sw, lower(t)))) n_stopwords
       |  FROM documents),
       |flags AS (
       |  SELECT rep.doc_id, qf.n_tokens,
       |    list_filter([
       |      CASE WHEN rep.dup5_char_frac > ${Repetition.maxDup5CharFrac} THEN 'dup5_chars' END,
       |      CASE WHEN rep.dup_line_char_frac > ${Repetition.maxDupLineCharFrac} THEN 'dup_line_chars' END,
       |      CASE WHEN rep.dup_line_frac > ${Repetition.maxDupLineFrac} THEN 'dup_lines' END,
       |      CASE WHEN (CASE WHEN qf.n_tokens > 0
       |          THEN CAST(qf.n_stopwords AS DOUBLE) / CAST(qf.n_tokens AS DOUBLE)
       |          ELSE 0.0 END) < ${Repetition.minStopwordRatio} THEN 'few_stopwords' END,
       |      CASE WHEN qf.n_tokens < ${Repetition.minTokens}
       |        OR qf.n_tokens > ${Repetition.maxTokens} THEN 'length' END,
       |      CASE WHEN rep.top2_char_frac > ${Repetition.maxTop2CharFrac} THEN 'top2_chars' END,
       |      CASE WHEN rep.top3_char_frac > ${Repetition.maxTop3CharFrac} THEN 'top3_chars' END
       |    ], x -> x IS NOT NULL) fl
       |  FROM rep JOIN qf USING (doc_id))""".stripMargin
  }
  private val qGopherFilterSql: String =
    s"""WITH $repetitionCtes,
       |$gopherFlagsCtes
       |SELECT doc_id, CAST(n_tokens AS INT) n_tokens,
       |  len(fl) = 0 AS keep, COALESCE(array_to_string(fl, ',' ), '') reasons
       |FROM flags""".stripMargin

  // ------------------------------------------------------------------
  // Round-4 second wave: hard negatives, graded contamination, linear
  // quality classifier, token-budget selection, moving z-score anomaly
  // ------------------------------------------------------------------

  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    SimSearch.hardNegatives(e, e.filter(col("vec_id") < 10),
      "vec_id", "embedding", "label", k = 5)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("rank"),
        round(col("cosine"), 6).as("cosine_r"))
  }
  private val qHardNegativesSql =
    """WITH q AS (SELECT vec_id query_id, label q_label,
      |    embedding::DOUBLE[] qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id id, label n_label, embedding::DOUBLE[] v
      |  FROM embeddings),
      |s AS (SELECT query_id, q_label, id, n_label,
      |    list_cosine_similarity(v, qv) cosine,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY list_cosine_similarity(v, qv) DESC, id ASC) rank
      |  FROM c, q WHERE n_label <> q_label)
      |SELECT query_id, q_label AS query_label, id AS neighbor_id,
      |  n_label AS neighbor_label, CAST(rank AS INT) rank,
      |  round(cosine, 6) AS cosine_r
      |FROM s WHERE rank <= 5""".stripMargin

  /** Benchmark-contamination screen with all three verdict branches
    * EXERCISED (r7 ADVICE-sweep fix: 'flag' was vacuous on the raw
    * corpus — no doc had a partial 0.05..0.5 overlap): the benchmark is
    * the held-out (doc_id % 50 = 0) docs PLUS truncated excerpts — the
    * first 30 tokens of every (doc_id % 40 = 7) corpus doc, the
    * "benchmark quotes a prefix of a training doc" regime. Short quoted
    * docs are mostly covered by their excerpt -> 'drop'; longer ones
    * land in the partial band -> 'flag'; unquoted docs stay 'keep'.
    * BranchCoverageSpec pins all three appearing at sf0.01. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val prefixExcerpts = d
      .filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 40 === 7)
      .select(concat_ws(" ", slice(
        TextStats.tokens(TextStats.normalized(col("text"))), 1, 30))
        .as("text"))
    val bench = d.filter(col("doc_id") % 50 === 0).select(col("text"))
      .unionByName(prefixExcerpts)
    Dedup.contaminationReport(
      d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      bench, "text", n = 13)
      .select(col("id").as("doc_id"), col("n_grams").cast("long").as("n_grams"),
        col("n_contaminated"),
        round(col("contaminated_frac"), 6).as("frac_r"), col("verdict"))
  }
  private val qContaminationSql: String = {
    val sh13 = word13GramSql
    // thresholds interpolated from the library defaults (0.05 / 0.5) so
    // the oracle cannot drift from contaminationReport's signature;
    // `pre` mirrors the 30-token prefix excerpts injected into the
    // benchmark (tokens are [a-z0-9]+, so re-tokenizing the rendered
    // prefix returns exactly those tokens)
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hashed AS (SELECT doc_id,
       |    list_transform($sh13, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |pre AS (SELECT t[1:30] t FROM toks
       |  WHERE doc_id % 50 <> 0 AND doc_id % 40 = 7),
       |prehash AS (SELECT list_transform($sh13,
       |    s -> ${Hashing.hash64Sql("s")}) h FROM pre),
       |bench AS (SELECT DISTINCT hash FROM (
       |  SELECT unnest(h) hash FROM hashed WHERE doc_id % 50 = 0
       |  UNION ALL SELECT unnest(h) hash FROM prehash)),
       |tot AS (SELECT doc_id, len(h) n_grams FROM hashed
       |  WHERE doc_id % 50 <> 0),
       |corp AS (SELECT doc_id, unnest(h) hash FROM hashed
       |  WHERE doc_id % 50 <> 0),
       |hits AS (SELECT corp.doc_id, count(*) n_contaminated
       |  FROM corp JOIN bench USING (hash) GROUP BY 1),
       |f AS (SELECT t.doc_id, CAST(t.n_grams AS BIGINT) n_grams,
       |    COALESCE(h.n_contaminated, 0) n_contaminated,
       |    CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
       |      / CAST(t.n_grams AS DOUBLE) frac
       |  FROM tot t LEFT JOIN hits h USING (doc_id))
       |SELECT doc_id, n_grams, n_contaminated, round(frac, 6) frac_r,
       |  CASE WHEN frac >= 0.5 THEN 'drop'
       |    WHEN frac >= 0.05 THEN 'flag' ELSE 'keep' END verdict
       |FROM f""".stripMargin
  }

  private def qContainmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
      threshold = 0.5, shingleN = 3, maxDocFreq = 100)
      .select(col("id_a"), col("id_b"),
        col("n_a").cast("int").as("n_a"), col("n_b").cast("int").as("n_b"),
        round(col("containment_ab"), 6).as("cab_r"),
        round(col("containment_ba"), 6).as("cba_r"))
  private val qContainmentPairsSql = {
    val sh = wordShinglesSql
    s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hs AS (SELECT doc_id,
       |  list_transform($sh, s -> ${Hashing.hash64Sql("s")}) h FROM toks),
       |ex0 AS (SELECT doc_id, unnest(h) hash FROM hs),
       |ex AS (SELECT doc_id, hash FROM (
       |  SELECT *, count(*) OVER (PARTITION BY hash) df FROM ex0)
       |  WHERE df <= 100),
       |pairs AS (SELECT a.doc_id ia, b.doc_id ib, count(*) shared
       |  FROM ex a JOIN ex b ON a.hash = b.hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, len(h) n FROM hs),
       |c AS (SELECT ia, ib, CAST(x.n AS INT) n_a, CAST(y.n AS INT) n_b,
       |    CAST(shared AS DOUBLE) / CAST(x.n AS DOUBLE) cab,
       |    CAST(shared AS DOUBLE) / CAST(y.n AS DOUBLE) cba
       |  FROM pairs JOIN sizes x ON x.doc_id = ia
       |  JOIN sizes y ON y.doc_id = ib)
       |SELECT ia AS id_a, ib AS id_b, n_a, n_b,
       |  round(cab, 6) cab_r, round(cba, 6) cba_r
       |FROM c WHERE cab >= 0.5 OR cba >= 0.5""".stripMargin
  }

  private def qQualityClassifier(s: SparkSession, dir: String): DataFrame =
    TextStats.classifyQuality(docs(s, dir), "text")
      .select(col("doc_id"), round(col("quality_logit"), 6).as("logit_r"),
        col("keep"))

  /** Shared quality-classifier CTE chain ending in `sc(doc_id, score)` —
    * used by the classifier face AND the curate-pipeline oracle so the
    * feature derivations and the weight association cannot fork.
    * Weights interpolate from [[TextStats.qualityClassifierWeights]];
    * association mirrors classifyQuality verbatim: ((((b+s)+p)+a)+l). */
  private val qualityScoreCte: String = {
    val sw = TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val (b, wStop, wPunct, wAvg, wLen) = TextStats.qualityClassifierWeights
    val score = s"(((($b + ($wStop * stopword_ratio)) + ($wPunct * punct_ratio))" +
      s" + ($wAvg * avg_token_len)) + ($wLen * len_ok))"
    s"""f AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) toks,
       |    length(text) n_chars,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) n_punct
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, len(toks) n_tokens,
       |    len(list_filter(toks, t -> list_contains($sw, lower(t)))) n_stopwords,
       |    n_punct, n_chars,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) tok_chars
       |  FROM f),
       |feats AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens > 0 THEN CAST(tok_chars AS DOUBLE) / n_tokens ELSE 0.0 END avg_token_len,
       |    CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / n_tokens ELSE 0.0 END stopword_ratio,
       |    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END punct_ratio,
       |    CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END len_ok
       |  FROM g),
       |sc AS (SELECT doc_id, $score score FROM feats)""".stripMargin
  }

  /** Quality-filter agreement census
    * (CorpusPipeline.qualityAgreement): per-doc keep verdicts from the
    * Gopher rules, the quality classifier, and the char-entropy screen,
    * counted per verdict triple. Oracle composes the three faces' OWN
    * shared chains (repetitionCtes+gopherFlagsCtes, qualityScoreCte,
    * the entropy chain) so no rule can fork. */
  private def qQualityEnsemble(s: SparkSession, dir: String): DataFrame =
    graft.ext.CorpusPipeline.qualityAgreement(docs(s, dir), "doc_id", "text",
      minEntropy = 2.5)
  private val qQualityEnsembleSql: String =
    s"""WITH $repetitionCtes,
       |$gopherFlagsCtes,
       |$qualityScoreCte,
       |base AS (SELECT doc_id,
       |    replace(${normSql("text")}, ' ', '') st FROM documents),
       |ch AS (SELECT doc_id, substr(st, CAST(i + 1 AS INT), 1) ch
       |  FROM base CROSS JOIN unnest(range(len(st))) AS u(i)
       |  WHERE len(st) > 0),
       |cnt AS (SELECT doc_id, ch, count(*) c FROM ch GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(c) n FROM cnt GROUP BY 1),
       |tm AS (SELECT cnt.doc_id,
       |    round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12) term
       |  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id),
       |st AS (SELECT doc_id,
       |    round(CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE), 6) entropy_r
       |  FROM tm GROUP BY 1),
       |v AS (SELECT flags.doc_id,
       |    len(flags.fl) = 0 gopher_keep,
       |    sc.score > 0.0 clf_keep,
       |    COALESCE(st.entropy_r, 0.0) >= 2.5 entropy_keep
       |  FROM flags JOIN sc ON sc.doc_id = flags.doc_id
       |    LEFT JOIN st ON st.doc_id = flags.doc_id),
       |census AS (SELECT gopher_keep, clf_keep, entropy_keep,
       |    count(*) n_docs FROM v GROUP BY 1, 2, 3),
       |w AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) t FROM census)
       |SELECT gopher_keep, clf_keep, entropy_keep,
       |  gopher_keep AND clf_keep AND entropy_keep AS unanimous, n_docs,
       |  round(CAST(n_docs AS DOUBLE) / CAST(t AS DOUBLE), 6) AS "share"
       |FROM w""".stripMargin

  private val qQualityClassifierSql: String =
    s"""WITH $qualityScoreCte
       |SELECT doc_id, round(score, 6) logit_r, score > 0.0 AS keep
       |FROM sc""".stripMargin

  /** Chance-corrected filter agreement (CorpusPipeline.raterAgreement):
    * pairwise Cohen's kappa for the three quality filters plus Fleiss'
    * kappa over all three — the label-QA statistic raw census shares
    * can't give. Oracle rebuilds the SAME per-doc verdict chain as
    * q_quality_ensemble, reduces it to one integer-count row, and
    * mirrors every kappa association verbatim. */
  private def qRaterAgreement(s: SparkSession, dir: String): DataFrame =
    graft.ext.CorpusPipeline.raterAgreement(docs(s, dir), "doc_id", "text",
      minEntropy = 2.8)
  private val qRaterAgreementSql: String =
    s"""WITH $repetitionCtes,
       |$gopherFlagsCtes,
       |$qualityScoreCte,
       |base AS (SELECT doc_id,
       |    replace(${normSql("text")}, ' ', '') st FROM documents),
       |ch AS (SELECT doc_id, substr(st, CAST(i + 1 AS INT), 1) ch
       |  FROM base CROSS JOIN unnest(range(len(st))) AS u(i)
       |  WHERE len(st) > 0),
       |cnt AS (SELECT doc_id, ch, count(*) c FROM ch GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(c) n FROM cnt GROUP BY 1),
       |tm AS (SELECT cnt.doc_id,
       |    round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12) term
       |  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id),
       |st AS (SELECT doc_id,
       |    round(CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE), 6) entropy_r
       |  FROM tm GROUP BY 1),
       |v AS (SELECT flags.doc_id,
       |    len(flags.fl) = 0 gopher_keep,
       |    sc.score > 0.0 clf_keep,
       |    COALESCE(st.entropy_r, 0.0) >= 2.8 entropy_keep
       |  FROM flags JOIN sc ON sc.doc_id = flags.doc_id
       |    LEFT JOIN st ON st.doc_id = flags.doc_id),
       |b3 AS (SELECT g, c, e, g + c + e nk FROM (
       |    SELECT CAST(gopher_keep AS INT) g, CAST(clf_keep AS INT) c,
       |      CAST(entropy_keep AS INT) e FROM v)),
       |a AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(g) AS BIGINT) ka,
       |    CAST(sum(c) AS BIGINT) kb, CAST(sum(e) AS BIGINT) kc,
       |    CAST(sum(g * c) AS BIGINT) kab, CAST(sum(g * e) AS BIGINT) kac,
       |    CAST(sum(c * e) AS BIGINT) kbc,
       |    CAST(sum(nk * (nk - 1) + (3 - nk) * (2 - nk)) AS BIGINT) fl
       |  FROM b3),
       |p AS (SELECT unnest(['gopher:clf', 'gopher:entropy', 'clf:entropy',
       |    'fleiss:all']) pair),
       |x AS (SELECT pair, n, ka, kb, kc, fl, CAST(n AS DOUBLE) nd,
       |    CAST(CASE WHEN pair = 'clf:entropy' THEN kb ELSE ka END
       |      AS DOUBLE) kx,
       |    CAST(CASE WHEN pair = 'gopher:clf' THEN kb ELSE kc END
       |      AS DOUBLE) ky,
       |    CAST(CASE WHEN pair = 'gopher:clf' THEN kab
       |      WHEN pair = 'gopher:entropy' THEN kac ELSE kbc END
       |      AS DOUBLE) nxy
       |  FROM p, a),
       |y AS (SELECT pair, n,
       |    CASE WHEN pair = 'fleiss:all'
       |      THEN CAST(fl AS DOUBLE) / (nd * 6.0)
       |      ELSE (nd - kx - ky + 2.0 * nxy) / nd END po,
       |    CASE WHEN pair = 'fleiss:all'
       |      THEN (CAST(ka + kb + kc AS DOUBLE) / (nd * 3.0))
       |          * (CAST(ka + kb + kc AS DOUBLE) / (nd * 3.0))
       |        + (1 - CAST(ka + kb + kc AS DOUBLE) / (nd * 3.0))
       |          * (1 - CAST(ka + kb + kc AS DOUBLE) / (nd * 3.0))
       |      ELSE (kx / nd) * (ky / nd)
       |        + (1 - kx / nd) * (1 - ky / nd) END pe
       |  FROM x)
       |SELECT pair, n n_docs, round(po, 6) po_r, round(pe, 6) pe_r,
       |  round(CASE WHEN 1 - pe <> 0 THEN (po - pe) / (1 - pe) END, 6)
       |    kappa_r
       |FROM y""".stripMargin

  /** Fill-in-the-middle split (Packing.fimSplit): per-doc PSM segment
    * accounting with full-extent portable hashes of all three
    * segments, so the oracle pins the exact token content of every
    * prefix/middle/suffix — span selection (two independent hashes:
    * start = h1 mod n, mid len = 1 + h2 mod (n - start)) is mirrored
    * as pure integer arithmetic. COALESCE on the empty-segment join:
    * DuckDB's array_to_string([]) is NULL where Spark's array_join is
    * ''. */
  /** Degenerate-branch injection shared by the objective-construction
    * faces: the fixture's docs all have 10-99 tokens, so the n<2
    * (fim) and n<8 / k=0 (span-corruption) branches would be VACUOUS
    * in the oracle gate (the q_erasure lesson). Three synthetic docs
    * — empty, 1 token, 5 tokens — keep every branch live; mirrored
    * verbatim in the SQL. */
  private def docsWithTiny(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text")).union(
      Seq((900001L, ""), (900002L, "solo"),
        (900003L, "five tiny tokens right here"))
        .toDF("doc_id", "text"))
  }
  private val tinyDocsSql =
    """SELECT doc_id, text FROM documents
      |    UNION ALL SELECT * FROM (VALUES (900001, ''), (900002, 'solo'),
      |      (900003, 'five tiny tokens right here')) v(doc_id, text)"""
      .stripMargin

  private def qFimSplit(s: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.fimSplit(docsWithTiny(s, dir), "doc_id", "text")
  private val qFimSplitSql = {
    def segH(seg: String) =
      Hashing.hash64Sql(s"COALESCE(array_to_string($seg, ' '), '')")
    s"""WITH base AS ($tinyDocsSql),
       |t AS (SELECT doc_id id, ${toksSql("text")} tk FROM base),
       |s AS (SELECT id, tk, CAST(len(tk) AS BIGINT) n,
       |    ${Hashing.hash64Sql("CAST(id AS VARCHAR)")} h1,
       |    ${Hashing.hash64Sql("CAST(id AS VARCHAR) || ':m'")} h2
       |  FROM t),
       |x AS (SELECT id, tk, n, h2,
       |    CASE WHEN n >= 2 THEN h1 % n ELSE n END a FROM s),
       |y AS (SELECT id, tk, n, a,
       |    CASE WHEN n >= 2 THEN 1 + h2 % (n - a) ELSE 0 END m FROM x),
       |z AS (SELECT id, n, a, m, n - a - m sl,
       |    tk[1:CAST(a AS INT)] pre,
       |    tk[CAST(a + 1 AS INT):CAST(a + m AS INT)] mid,
       |    tk[CAST(a + m + 1 AS INT):CAST(n AS INT)] suf
       |  FROM y)
       |SELECT id, n n_tokens, a pre_len, m mid_len, sl suf_len,
       |  ${segH("pre")} pre_h, ${segH("mid")} mid_h, ${segH("suf")} suf_h
       |FROM z""".stripMargin
  }

  /** T5-style span corruption (Packing.spanCorrupt): per-doc denoising
    * accounting — k stratified length-3 spans, offsets pure hash
    * arithmetic — with full-extent hashes of the masked input
    * (keep-segments + <Xj> sentinels) and the target (<Xj> + span).
    * The oracle rebuilds BOTH sequences with list lambdas and slices,
    * so the gate pins the exact construction, not just the lengths. */
  private def qSpanCorrupt(s: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.spanCorrupt(docsWithTiny(s, dir), "doc_id", "text")
  private val qSpanCorruptSql = {
    def segH(seg: String) =
      Hashing.hash64Sql(s"COALESCE(array_to_string($seg, ' '), '')")
    val hj = Hashing.hash64Sql("CAST(id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
    s"""WITH base AS ($tinyDocsSql),
       |t AS (SELECT doc_id id, ${toksSql("text")} tk FROM base),
       |s AS (SELECT id, tk, CAST(len(tk) AS BIGINT) n FROM t),
       |p AS (SELECT id, tk, n,
       |    GREATEST(n // 20, CASE WHEN n >= 8 THEN 1 ELSE 0 END) k FROM s),
       |q AS (SELECT id, tk, n, k,
       |    CASE WHEN k > 0 THEN n // k ELSE 0 END strat FROM p),
       |sp AS (SELECT id, tk, n, k, strat,
       |    CASE WHEN k > 0 THEN list_transform(range(k), j ->
       |      j * strat + ($hj % (strat - 3)))
       |    ELSE CAST([] AS BIGINT[]) END starts
       |  FROM q),
       |m AS (SELECT id, n, k,
       |    CASE WHEN k > 0 THEN
       |      flatten(list_transform(range(k), j -> list_concat(
       |        tk[CAST(CASE WHEN j = 0 THEN 1
       |              ELSE starts[CAST(j AS INT)] + 4 END AS INT)
       |          : CAST(starts[CAST(j + 1 AS INT)] AS INT)],
       |        ['<X' || j || '>'])))
       |      || tk[CAST(starts[CAST(k AS INT)] + 4 AS INT) : CAST(n AS INT)]
       |    ELSE tk END masked,
       |    CASE WHEN k > 0 THEN
       |      flatten(list_transform(range(k), j -> list_concat(
       |        ['<X' || j || '>'],
       |        tk[CAST(starts[CAST(j + 1 AS INT)] + 1 AS INT)
       |          : CAST(starts[CAST(j + 1 AS INT)] + 3 AS INT)])))
       |    ELSE CAST([] AS VARCHAR[]) END target
       |  FROM sp)
       |SELECT id, n n_tokens, k n_spans,
       |  CAST(len(masked) AS BIGINT) input_len,
       |  CAST(len(target) AS BIGINT) target_len,
       |  ${segH("masked")} masked_h, ${segH("target")} target_h
       |FROM m""".stripMargin
  }

  /** Classifier reliability diagram (TextStats.calibrationReport):
    * sigmoid(quality_logit) vs the Gopher verdict in 50 fixed-width
    * probability bins (the narrow-margin classifier needs 0.02-wide
    * bins to populate a diagram) — conf, acc, gap, Brier per bin. The sigmoid is
    * rounded to 12 decimals at birth (the ln discipline); everything
    * after is decimal sums and mirrored divisions. */
  private def qCalibration(s: SparkSession, dir: String): DataFrame =
    TextStats.calibrationReport(docs(s, dir), "doc_id", "text", bins = 50)
  private val qCalibrationSql: String =
    s"""WITH $repetitionCtes,
       |$gopherFlagsCtes,
       |$qualityScoreCte,
       |lj AS (SELECT sc.doc_id,
       |    round(1.0 / (1.0 + exp(-score)), 12) pr,
       |    CAST(len(flags.fl) = 0 AS INT) y
       |  FROM sc JOIN flags ON sc.doc_id = flags.doc_id),
       |b AS (SELECT CAST(least(floor(pr * 50), 49) AS INT) bin, pr, y
       |  FROM lj)
       |SELECT bin, CAST(count(*) AS BIGINT) n_docs,
       |  round(CAST(sum(CAST(pr AS DECIMAL(28,14))) AS DOUBLE)
       |    / count(*), 6) conf_r,
       |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) acc_r,
       |  round(CAST(sum(CAST(pr AS DECIMAL(28,14))) AS DOUBLE) / count(*)
       |    - CAST(sum(y) AS DOUBLE) / count(*), 6) gap_r,
       |  round(CAST(sum(CAST(round((pr - y) * (pr - y), 12)
       |      AS DECIMAL(28,14))) AS DOUBLE) / count(*), 6) brier_r
       |FROM b GROUP BY 1""".stripMargin

  private def qInterpolate(s: SparkSession, dir: String): DataFrame =
    EventsOps.resampleInterpolate(events(s, dir), bucketSec = 14400)
      .select(col("user_id"), col("bucket"), col("bucket_start_sec"),
        (round(col("value_interp"), 6) + lit(0.0)).as("value_interp_r"),
        col("is_gap"))
  private val qInterpolateSql =
    """WITH e AS (SELECT user_id, event_id, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) sec,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 14400 bucket
      |  FROM events),
      |b AS (SELECT user_id, bucket, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket
      |      ORDER BY sec DESC, event_id DESC) rn FROM e) WHERE rn = 1),
      |sp AS (SELECT user_id, unnest(range(mn, mx + 1)) bucket FROM (
      |    SELECT user_id, min(bucket) mn, max(bucket) mx FROM b GROUP BY 1)),
      |j AS (SELECT sp.user_id, sp.bucket, b.value v
      |  FROM sp LEFT JOIN b ON sp.user_id = b.user_id AND sp.bucket = b.bucket),
      |w AS (SELECT user_id, bucket, v,
      |    last_value(v IGNORE NULLS) OVER back pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
      |      OVER back pb,
      |    first_value(v IGNORE NULLS) OVER fwd nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
      |      OVER fwd nb
      |  FROM j WINDOW
      |    back AS (PARTITION BY user_id ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    fwd AS (PARTITION BY user_id ORDER BY bucket
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, bucket, bucket * 14400 bucket_start_sec,
      |  round(CASE WHEN v IS NOT NULL THEN v
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL
      |      THEN pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE)
      |        / CAST(nb - pb AS DOUBLE))
      |    WHEN pv IS NOT NULL THEN pv ELSE NULL END, 6) + 0.0 value_interp_r,
      |  v IS NULL AS is_gap
      |FROM w""".stripMargin

  /** Melt/unpivot face: wide per-line measures to long (metric, value)
    * form — built-in `Dataset.unpivot` (a pure narrow map; each input
    * row expands to 4 output rows with no shuffle), mirrored by
    * DuckDB's UNPIVOT. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")
  private val qUnpivotSql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, metric, value
      |FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    l_quantity, l_extendedprice, l_discount, l_tax
      |  FROM lineitem WHERE l_orderkey % 7 = 0)
      |UNPIVOT (value FOR metric IN
      |  (l_quantity, l_extendedprice, l_discount, l_tax))""".stripMargin

  /** Curation funnel: quality classifier -> exact dedup -> 13-gram
    * decontamination -> per-source token budget; every stage's oracle
    * fragment already gates the standalone face (same convention as
    * q_prep_pipeline). */
  private def qCuratePipeline(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ext.CorpusPipeline.curate(
      d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", "source",
      d.filter(col("doc_id") % 50 === 0), "text",
      budgetTokens = 500L, n = 13, bucketWidth = 64L)
  }
  private val qCuratePipelineSql: String = {
    val sh13 = word13GramSql
    s"""WITH $qualityScoreCte,
       |q AS (SELECT d.doc_id, d.source, d.text FROM documents d
       |  JOIN sc USING (doc_id)
       |  WHERE d.doc_id % 50 <> 0 AND sc.score > 0.0),
       |keep AS (SELECT min(doc_id) doc_id FROM q
       |  GROUP BY md5(${normSql("text")})),
       |s2 AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
       |toks13 AS (SELECT doc_id, ${toksSql("text")} t FROM documents),
       |hashed AS (SELECT doc_id,
       |    list_transform($sh13, s -> ${Hashing.hash64Sql("s")}) h
       |  FROM toks13),
       |bench AS (SELECT DISTINCT unnest(h) hash FROM hashed
       |  WHERE doc_id % 50 = 0),
       |contam AS (SELECT DISTINCT cg.doc_id FROM (
       |    SELECT h.doc_id, unnest(h.h) hash FROM hashed h
       |    JOIN s2 ON h.doc_id = s2.doc_id) cg
       |  JOIN bench USING (hash)),
       |s3 AS (SELECT s2.* FROM s2
       |  WHERE s2.doc_id NOT IN (SELECT doc_id FROM contam)),
       |tk AS (SELECT doc_id, source,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> len(x) > 0)) AS BIGINT) n_tokens
       |  FROM s3),
       |cum AS (SELECT doc_id, source, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) c
       |  FROM tk),
       |kept AS (SELECT * FROM cum WHERE c <= 500),
       |base AS (SELECT source, count(*) n_in FROM documents
       |  WHERE doc_id % 50 <> 0 GROUP BY 1),
       |c1 AS (SELECT source, count(*) n_quality FROM q GROUP BY 1),
       |c2 AS (SELECT source, count(*) n_unique FROM s2 GROUP BY 1),
       |c3 AS (SELECT source, count(*) n_clean FROM s3 GROUP BY 1),
       |c4 AS (SELECT source, count(*) n_kept,
       |    CAST(sum(n_tokens) AS BIGINT) tokens_kept FROM kept GROUP BY 1)
       |SELECT base.source, n_in,
       |  COALESCE(n_quality, 0) n_quality, COALESCE(n_unique, 0) n_unique,
       |  COALESCE(n_clean, 0) n_clean, COALESCE(n_kept, 0) n_kept,
       |  COALESCE(tokens_kept, 0) tokens_kept
       |FROM base LEFT JOIN c1 USING (source) LEFT JOIN c2 USING (source)
       |LEFT JOIN c3 USING (source) LEFT JOIN c4 USING (source)""".stripMargin
  }

  private def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.tokenBudget(docs(s, dir), "doc_id", "text", "source",
      budgetTokens = 700L, bucketWidth = 64L)
      .select(col("id").as("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"))
  private val qTokenBudgetSql: String =
    // the oracle IS the sequential spec (one window per source); the
    // Spark side must reproduce it exactly from the two-level
    // distributed prefix sum — integer token counts make that exact
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      |      x -> len(x) > 0)) AS BIGINT) n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_tokens
      |  FROM t)
      |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) cum_tokens
      |FROM c WHERE cum_tokens <= 700""".stripMargin

  private def qTsAnomaly(s: SparkSession, dir: String): DataFrame =
    EventsOps.movingZScore(events(s, dir), windowSec = 3600, zThresh = 3.0)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("n_window"),
        // + 0.0 collapses IEEE -0.0 (a tiny-negative variance rounds to
        // signed zero differently across engines) to +0.0
        (round(col("mean_w"), 6) + lit(0.0)).as("mean_r"),
        (round(col("var_w"), 6) + lit(0.0)).as("var_r"), col("is_anomaly"))
  private val qTsAnomalySql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us,
      |    CAST(floor(epoch(ts)) AS BIGINT) sec,
      |    CAST(value AS DECIMAL(18,2)) v
      |  FROM events),
      |w AS (SELECT event_id, user_id, ts_us, v,
      |    count(*) OVER win n_window,
      |    CAST(sum(v) OVER win AS DOUBLE) s,
      |    CAST(sum(v * v) OVER win AS DOUBLE) s2
      |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY sec
      |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)),
      |m AS (SELECT event_id, user_id, ts_us, n_window,
      |    s / CAST(n_window AS DOUBLE) mean_w,
      |    s2 / CAST(n_window AS DOUBLE)
      |      - (s / CAST(n_window AS DOUBLE)) * (s / CAST(n_window AS DOUBLE)) var_w,
      |    CAST(v AS DOUBLE) - s / CAST(n_window AS DOUBLE) dev
      |  FROM w)
      |SELECT event_id, user_id, ts_us, n_window,
      |  round(mean_w, 6) + 0.0 mean_r, round(var_w, 6) + 0.0 var_r,
      |  (n_window > 1 AND var_w > 0.0
      |    AND dev * dev > 9.0 * var_w) AS is_anomaly
      |FROM m""".stripMargin

  /** CDC op-log fixture, derived deterministically from orders: updates
    * for keys %10=3 (seq 1), deletes for %10=7, a SECOND-generation
    * delete (seq 2) for %20=3 — overriding half the updates, which is
    * what proves latest-wins — and inserts at key+10^9 for %50=0. */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.table(s, dir, "orders")
    val snap = o.select(col("o_orderkey").as("key"),
      col("o_orderstatus"), col("o_totalprice"))
    def op(pred: Column, key: Column, seq: Long, opc: String,
        st: Column, pr: Column) =
      o.filter(pred).select(key.as("key"), lit(seq).as("seq"),
        lit(opc).as("op"), st.as("o_orderstatus"), pr.as("o_totalprice"))
    val nullS = lit(null).cast("string"); val nullD = lit(null).cast("double")
    val ops = op(col("o_orderkey") % 10 === 3, col("o_orderkey"), 1L, "U",
        lit("U1"), col("o_totalprice"))
      .unionByName(op(col("o_orderkey") % 10 === 7, col("o_orderkey"), 1L,
        "D", nullS, nullD))
      .unionByName(op(col("o_orderkey") % 20 === 3, col("o_orderkey"), 2L,
        "D", nullS, nullD))
      .unionByName(op(col("o_orderkey") % 50 === 0,
        col("o_orderkey") + 1000000000L, 1L, "I", lit("NEW"),
        col("o_totalprice")))
    Relational.cdcApply(snap, ops, "key", "seq", "op",
      Seq("o_orderstatus", "o_totalprice"))
  }
  private val qCdcApplySql =
    """WITH snap AS (SELECT o_orderkey k, o_orderstatus st, o_totalprice pr
      |  FROM orders),
      |ops AS (
      |  SELECT o_orderkey k, 1 seq, 'U' op, 'U1' st, o_totalprice pr
      |    FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL SELECT o_orderkey, 1, 'D', NULL, NULL
      |    FROM orders WHERE o_orderkey % 10 = 7
      |  UNION ALL SELECT o_orderkey, 2, 'D', NULL, NULL
      |    FROM orders WHERE o_orderkey % 20 = 3
      |  UNION ALL SELECT o_orderkey + 1000000000, 1, 'I', 'NEW', o_totalprice
      |    FROM orders WHERE o_orderkey % 50 = 0),
      |last AS (SELECT k, op, st, pr FROM (
      |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) rn
      |    FROM ops) WHERE rn = 1),
      |j AS (SELECT COALESCE(s.k, l.k) AS "key", l.op,
      |    CASE WHEN l.k IS NOT NULL THEN l.st ELSE s.st END o_orderstatus,
      |    CASE WHEN l.k IS NOT NULL THEN l.pr ELSE s.pr END o_totalprice
      |  FROM snap s FULL OUTER JOIN last l ON s.k = l.k)
      |SELECT "key", o_orderstatus, o_totalprice FROM j
      |WHERE op IS NULL OR op <> 'D'""".stripMargin

  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.temperatureWeights(docs(s, dir), "source",
      alpha = 0.5, budgetDocs = 100000L)
  private val qTemperatureMixSql =
    """WITH c AS (SELECT source, count(*) n_docs,
      |    CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(28,10)) w
      |  FROM documents GROUP BY 1),
      |t AS (SELECT sum(w) wt FROM c),
      |sh AS (SELECT source, n_docs,
      |    round(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE), 6) AS "share"
      |  FROM c, t)
      |SELECT source, n_docs, "share",
      |  CAST(floor("share" * 100000 + 0.5) AS BIGINT) quota
      |FROM sh""".stripMargin

  private def qShardPlan(s: SparkSession, dir: String): DataFrame =
    Layout.shardPlan(docs(s, dir), "doc_id", "text", nShards = 8)
  private val qShardPlanSql =
    s"""WITH d AS (SELECT
       |    ${Hashing.hash64Sql("CAST(doc_id AS VARCHAR)")} % 8 shard,
       |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |      x -> len(x) > 0)) AS BIGINT) tok,
       |    CAST(strlen(text) AS BIGINT) b
       |  FROM documents),
       |p AS (SELECT shard, count(*) n_docs, sum(tok) n_tokens,
       |    sum(b) n_bytes FROM d GROUP BY 1),
       |t AS (SELECT sum(n_docs) tt FROM p)
       |SELECT shard, n_docs, CAST(n_tokens AS BIGINT) n_tokens,
       |  CAST(n_bytes AS BIGINT) n_bytes,
       |  CAST(n_docs * 8 AS DOUBLE) / CAST(tt AS DOUBLE) doc_skew
       |FROM p, t""".stripMargin

  private def qResampleFfill(s: SparkSession, dir: String): DataFrame =
    EventsOps.resampleFill(events(s, dir), bucketSec = 14400)
  private val qResampleFfillSql =
    """WITH e AS (SELECT user_id, event_id, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) sec,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 14400 bucket
      |  FROM events),
      |b AS (SELECT user_id, bucket, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, bucket
      |      ORDER BY sec DESC, event_id DESC) rn FROM e) WHERE rn = 1),
      |sp AS (SELECT user_id, unnest(range(mn, mx + 1)) bucket FROM (
      |    SELECT user_id, min(bucket) mn, max(bucket) mx FROM b GROUP BY 1)),
      |j AS (SELECT sp.user_id, sp.bucket, b.value v
      |  FROM sp LEFT JOIN b ON sp.user_id = b.user_id AND sp.bucket = b.bucket)
      |SELECT user_id, bucket, bucket * 14400 bucket_start_sec,
      |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) value_filled,
      |  v IS NULL AS is_gap
      |FROM j""".stripMargin

  // ---- graph analytics (ext/Graph.scala) ---------------------------

  /** PageRank over the part<->supplier co-purchase graph from lineitem
    * (symmetrized, so no dangling nodes and ranks sum to 1). The oracle
    * unrolls the same 5 iterations as CTEs with the identical
    * decimal-summed contribution arithmetic. */
  private val prIters = 5
  private def qPageRank(s: SparkSession, dir: String): DataFrame = {
    // long node ids (parts even, suppliers odd): graph shuffles are
    // key-dominated and a long key beats a string key 2-3x.
    // Dedup BEFORE symmetrizing (r15, guide §2.4): distinct on the
    // directed half (E rows), then union the reversed copy — src is
    // always even and dst always odd, so the two halves are disjoint
    // and their union is distinct by construction; pageRank's own
    // dedup shuffle of the doubled list (2E rows) is skipped via
    // edgesDistinct. Identical edge SET, one fewer exchange, half the
    // deduped rows.
    val l = Sources.table(s, dir, "lineitem").select(
      (col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst")).distinct()
    val und = l.union(l.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRank(und, "src", "dst", iterations = prIters,
      edgesDistinct = true)
      .select(col("node"), round(col("rank"), 9).as("rank_r"))
  }
  private val qPageRankSql: String = {
    val iters = (1 to prIters).map { k =>
      s"""c$k AS (SELECT e.dst node, CAST(r.rank / e.deg AS DECIMAL(28,14)) ct
         |  FROM ed e JOIN r${k - 1} r ON r.node = e.src),
         |r$k AS (SELECT n.node,
         |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM nn)
         |      + CAST(0.85 AS DOUBLE) *
         |        COALESCE(CAST(s.sm AS DOUBLE), CAST(0.0 AS DOUBLE)) rank
         |  FROM nodes n LEFT JOIN
         |    (SELECT node, sum(ct) sm FROM c$k GROUP BY 1) s USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 src,
       |    l_suppkey * 2 + 1 dst FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (SELECT src node FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, count(*) deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
       |nn AS (SELECT count(*) c FROM nodes),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM nn) rank
       |  FROM nodes),
       |$iters
       |SELECT node, round(rank, 9) rank_r FROM r$prIters""".stripMargin
  }

  /** Personalized PageRank from a seed slice (every 50th supplier) over
    * the same symmetrized part<->supplier graph as q_pagerank — the
    * crawl-curation seed-expansion primitive (Haveliwala 2002): rank
    * mass concentrates around the seed suppliers and decays with link
    * distance. Same unrolled-iteration oracle as q_pagerank with the
    * base term seed-gated; ranks of nodes far from every seed are
    * exactly 0 at 5 iterations (finite walk radius), which the fixture
    * exercises. */
  private def qPprSeeds(s: SparkSession, dir: String): DataFrame = {
    // dedup-before-symmetrize + edgesDistinct: see qPageRank (r15)
    val l = Sources.table(s, dir, "lineitem").select(
      (col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst")).distinct()
    val und = l.union(l.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Sources.table(s, dir, "lineitem")
      .filter(col("l_suppkey") % 50 === 0)
      .select((col("l_suppkey") * 2 + 1).as("node")).distinct()
    Graph.personalizedPageRank(und, "src", "dst", seeds, "node",
      iterations = prIters, edgesDistinct = true)
      .select(col("node"), round(col("rank"), 9).as("rank_r"))
  }
  private val qPprSeedsSql: String = {
    val iters = (1 to prIters).map { k =>
      s"""c$k AS (SELECT e.dst node, CAST(r.rank / e.deg AS DECIMAL(28,14)) ct
         |  FROM ed e JOIN r${k - 1} r ON r.node = e.src),
         |r$k AS (SELECT n.node,
         |    CASE WHEN n.seed THEN
         |      (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT c FROM ns)
         |      ELSE CAST(0.0 AS DOUBLE) END
         |      + CAST(0.85 AS DOUBLE) *
         |        COALESCE(CAST(s.sm AS DOUBLE), CAST(0.0 AS DOUBLE)) rank
         |  FROM nodess n LEFT JOIN
         |    (SELECT node, sum(ct) sm FROM c$k GROUP BY 1) s USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 src,
       |    l_suppkey * 2 + 1 dst FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (SELECT src node FROM e UNION SELECT dst FROM e),
       |sd AS (SELECT DISTINCT l_suppkey * 2 + 1 node FROM lineitem
       |  WHERE l_suppkey % 50 = 0),
       |nodess AS (SELECT n.node, sd.node IS NOT NULL seed
       |  FROM nodes n LEFT JOIN sd ON sd.node = n.node),
       |ns AS (SELECT count(*) c FROM nodess WHERE seed),
       |deg AS (SELECT src, count(*) deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d USING (src)),
       |r0 AS (SELECT node, CASE WHEN seed THEN
       |    CAST(1.0 AS DOUBLE) / (SELECT c FROM ns)
       |    ELSE CAST(0.0 AS DOUBLE) END rank
       |  FROM nodess),
       |$iters
       |SELECT node, round(rank, 9) rank_r FROM r$prIters""".stripMargin
  }

  /** Triangle count over the part co-occurrence graph (parts sharing an
    * order — the part->supplier graph is bipartite and trivially
    * triangle-free): degree-ordered orientation (Graph.triangleCount),
    * exact integer result.
    *
    * HOT-BASKET BOUND: the co-occurrence edge build self-joins on the
    * order key, which is per-order QUADRATIC — safe on TPC-H (<= 7
    * lines/order) but one crawler-trap basket with 10^4 items would
    * emit 5*10^7 pairs from a single key. Orders with more than
    * `triMaxBasket` distinct parts are dropped BEFORE pairing (the
    * [[graft.ext.Dedup]] `maxBucket` cap discipline: a basket that
    * big is a degenerate hub that contributes no curation signal, and
    * the cap turns worst-case quadratic into <= cap^2/2 per order).
    * The fixture never reaches the cap at either sf, so the face stays
    * bit-exact while the plan carries the guard. */
  private val triMaxBasket = 32
  /** The capped co-occurrence edge build of q_triangles, exposed so
    * PlanAssertSpec can pin the hot-basket cap on the plan that
    * actually builds edges: since r15, triangleCount materializes the
    * canonical edge list (lineage cut), so the cap predicate no longer
    * appears in the FACE's final plan — it runs inside the checkpoint
    * job, whose plan is this frame's. */
  private[graft] def triEdges(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val smallOrders = l.groupBy(col("o"))
      .agg(count(lit(1)).as("np"))
      .filter(col("np") <= triMaxBasket)
      .select(col("o"))
    val lc = l.join(smallOrders, Seq("o"), "left_semi")
    lc.alias("x").join(lc.alias("y"),
      col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst")).distinct()
  }
  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    Graph.triangleCount(triEdges(s, dir), "src", "dst")
  private val qTrianglesSql =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
      |ok AS (SELECT o FROM lp GROUP BY 1 HAVING count(*) <= $triMaxBasket),
      |lc AS (SELECT lp.o, lp.p FROM lp JOIN ok USING (o)),
      |e0 AS (SELECT DISTINCT x.p a, y.p b
      |  FROM lc x JOIN lc y
      |    ON x.o = y.o AND x.p < y.p),
      |deg AS (SELECT v, count(*) d FROM (
      |    SELECT a v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
      |wd AS (SELECT a, b, da.d da, db.d db
      |  FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
      |o AS (SELECT
      |    CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END u,
      |    CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END v,
      |    CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END dv
      |  FROM wd),
      |w AS (SELECT e1.v x, e2.v y FROM o e1 JOIN o e2 ON e1.u = e2.u
      |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |t AS (SELECT count(*) c FROM w JOIN o ON o.u = w.x AND o.v = w.y)
      |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) n_vertices,
      |  CAST((SELECT count(*) FROM e0) AS BIGINT) n_edges,
      |  CAST((SELECT c FROM t) AS BIGINT) n_triangles""".stripMargin

  /** k-core of the part<->supplier graph at k=32 (Graph.kCore, 6
    * peel rounds — past the fixture's fixpoint at both sfs, measured:
    * one removal round then no-ops, i.e. converged; the multi-round
    * cascade is spec-driven on a path graph). The oracle unrolls each
    * peel as MATERIALIZED CTE layers (the PCA/BPE discipline — DuckDB
    * inlines CTEs and 6 self-referencing layers otherwise explode). */
  private val kcK = 32
  private val kcRounds = 6
  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem").select(
      (col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    Graph.kCore(l, "src", "dst", k = kcK, rounds = kcRounds)
  }
  private val qKcoreSql: String = {
    val layers = (1 to kcRounds).map { i =>
      s"""kp$i AS MATERIALIZED (SELECT v FROM (
         |    SELECT a v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY 1 HAVING count(*) >= $kcK),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN kp$i x ON e.a = x.v JOIN kp$i y ON e.b = y.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT
       |    least(l_partkey * 2, l_suppkey * 2 + 1) a,
       |    greatest(l_partkey * 2, l_suppkey * 2 + 1) b
       |  FROM lineitem WHERE l_partkey * 2 <> l_suppkey * 2 + 1),
       |$layers
       |SELECT v node, CAST(count(*) AS BIGINT) core_deg FROM (
       |  SELECT a v FROM e$kcRounds UNION ALL SELECT b FROM e$kcRounds)
       |GROUP BY 1""".stripMargin
  }

  /** Label-propagation communities over the part-supplier graph
    * (Graph.labelPropagation, 4 synchronous rounds, self-vote damped,
    * min-label tie-break): one community-size row per surviving label.
    * Oracle unrolls the 4 rounds as MATERIALIZED CTE layers (the
    * qKcoreSql discipline), mirroring the vote count and the
    * (c DESC, label ASC) argmax via the same struct-max encoding. */
  private val lpRounds = 4
  private def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val l = Sources.table(s, dir, "lineitem").select(
      (col("l_partkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    Graph.labelPropagation(l, "src", "dst", rounds = lpRounds)
  }
  private val qLabelPropSql: String = {
    val layers = (1 to lpRounds).map { i =>
      s"""c$i AS (SELECT v, nl, count(*) c FROM (
         |    SELECT u.v, l.lbl nl FROM und u JOIN l${i - 1} l ON u.nb = l.v
         |    UNION ALL SELECT v, lbl FROM l${i - 1}) GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT v, -best.mn lbl FROM (
         |    SELECT v, max(struct_pack(c := c, mn := -nl)) best
         |    FROM c$i GROUP BY v))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT
       |    least(l_partkey * 2, l_suppkey * 2 + 1) a,
       |    greatest(l_partkey * 2, l_suppkey * 2 + 1) b
       |  FROM lineitem WHERE l_partkey * 2 <> l_suppkey * 2 + 1),
       |und AS MATERIALIZED (
       |  SELECT a v, b nb FROM e0 UNION ALL SELECT b, a FROM e0),
       |l0 AS (SELECT DISTINCT v, v lbl FROM und),
       |$layers
       |SELECT lbl community, count(*) n_members FROM l$lpRounds
       |GROUP BY 1""".stripMargin
  }

  /** Directed-degree profile of the part->supplier edge list (out-degree
    * for parts, in-degree for suppliers, full outer join). */
  private def qDegreeProfile(s: SparkSession, dir: String): DataFrame =
    Graph.degreeProfile(
      Sources.table(s, dir, "lineitem").select(
        (col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")),
      "src", "dst")
  private val qDegreeProfileSql =
    """WITH e AS (SELECT DISTINCT l_partkey * 2 src,
      |    l_suppkey * 2 + 1 dst FROM lineitem),
      |od AS (SELECT src node, count(*) out_deg FROM e GROUP BY 1),
      |id_ AS (SELECT dst node, count(*) in_deg FROM e GROUP BY 1)
      |SELECT COALESCE(od.node, id_.node) node,
      |  COALESCE(out_deg, 0) out_deg, COALESCE(in_deg, 0) in_deg
      |FROM od FULL JOIN id_ ON od.node = id_.node""".stripMargin

  // ---- LM scoring for curation (ext/LangModel.scala) ---------------

  /** CCNet-style quality score: per-doc average log-prob under the
    * corpus's own add-one unigram LM. Per-vocab-entry ln rounded at 8
    * places before the exact decimal per-doc sum (libm last-ulp
    * discipline), final score rounded at 6. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    LangModel.unigramLogProb(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tok"),
        round(col("avg_logp"), 6).as("avg_logp_r"))
  private val qLmScoreSql =
    s"""WITH toks AS (SELECT doc_id id, unnest(${toksSql("text")}) tok
       |  FROM documents),
       |counts AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) nv FROM counts),
       |lp AS (SELECT tok,
       |    round(ln(CAST(c + 1 AS DOUBLE) / (SELECT nv FROM tot)), 8) lp
       |  FROM counts),
       |sc AS (SELECT id, count(*) n_tok,
       |    CAST(sum(CAST(lp AS DECIMAL(28,14))) AS DOUBLE) / count(*) avg_logp
       |  FROM toks JOIN lp USING (tok) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n_tok, CAST(0 AS BIGINT)) n_tok,
       |  round(avg_logp, 6) avg_logp_r
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.id""".stripMargin

  /** DoReMi final-step domain weights over source slices
    * (LangModel.doremiWeights, eta=5, smoothing=0.1): unigram-NLL
    * excess loss -> smoothed exponential reweighting. Shares the
    * qLmScoreSql unigram chain. */
  private def qDoremiWeights(s: SparkSession, dir: String): DataFrame =
    LangModel.doremiWeights(docs(s, dir), "doc_id", "text", "source",
      eta = 5.0, smoothing = 0.1)
  private val qDoremiWeightsSql: String =
    s"""WITH toks AS (SELECT doc_id id, unnest(${toksSql("text")}) tok
       |  FROM documents),
       |counts AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) nv FROM counts),
       |lp AS (SELECT tok,
       |    round(ln(CAST(c + 1 AS DOUBLE) / (SELECT nv FROM tot)), 8) lp
       |  FROM counts),
       |sc AS (SELECT id, count(*) n_tok,
       |    CAST(sum(CAST(lp AS DECIMAL(28,14))) AS DOUBLE) / count(*) avg_logp
       |  FROM toks JOIN lp USING (tok) GROUP BY 1),
       |bd AS (SELECT d.source "domain", count(*) n_docs,
       |    sum(CAST(round(-avg_logp, 8) AS DECIMAL(28,14))) sdec
       |  FROM sc JOIN documents d ON d.doc_id = sc.id
       |  WHERE n_tok > 0 GROUP BY 1),
       |wg AS (SELECT *, sum(sdec) OVER () gs,
       |    CAST(sum(n_docs) OVER () AS BIGINT) gn,
       |    CAST(count(*) OVER () AS BIGINT) dd,
       |    CAST(sdec AS DOUBLE) / CAST(n_docs AS DOUBLE) mean_nll
       |  FROM bd),
       |ex AS (SELECT *,
       |    round(mean_nll - CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE), 8) excess
       |  FROM wg),
       |ee AS (SELECT *, round(exp(5.0 * excess), 8) e FROM ex),
       |zz AS (SELECT *, CAST(sum(CAST(e AS DECIMAL(28,14))) OVER () AS DOUBLE) z
       |  FROM ee)
       |SELECT "domain", n_docs, round(mean_nll, 6) mean_nll,
       |  round(excess, 6) excess,
       |  round(0.9 * e / z + 0.1 / CAST(dd AS DOUBLE), 6) weight
       |FROM zz""".stripMargin

  /** CCNet selection (Wenzek et al. 2020): head/middle/tail terciles of
    * the q_lm_score signal per language, via histogram-derived cutoffs
    * (no per-language global doc sort — see LangModel.perplexityBuckets
    * scaladoc). Report = per (lang, bucket) doc/token counts + score
    * extent, so cutoff picks, tie handling, and assignment are all
    * extent-checked. */
  private def qCcnetBuckets(s: SparkSession, dir: String): DataFrame =
    LangModel.perplexityBuckets(docs(s, dir), "doc_id", "text", "lang")
      .groupBy(col("grp").as("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        min(col("score_r")).as("min_score_r"),
        max(col("score_r")).as("max_score_r"))
  private val qCcnetBucketsSql =
    s"""WITH toks AS (SELECT doc_id id, unnest(${toksSql("text")}) tok
       |  FROM documents),
       |counts AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) nv FROM counts),
       |lp AS (SELECT tok,
       |    round(ln(CAST(c + 1 AS DOUBLE) / (SELECT nv FROM tot)), 8) lp
       |  FROM counts),
       |sc AS (SELECT id, count(*) n_tok,
       |    CAST(sum(CAST(lp AS DECIMAL(28,14))) AS DOUBLE) / count(*) avg_logp
       |  FROM toks JOIN lp USING (tok) GROUP BY 1),
       |scored AS (SELECT d.lang grp, sc.n_tok, round(sc.avg_logp, 6) s
       |  FROM documents d JOIN sc ON d.doc_id = sc.id WHERE sc.n_tok > 0),
       |hist AS (SELECT grp, s, count(*) c FROM scored GROUP BY 1, 2),
       |cum AS (SELECT grp, s, c,
       |    sum(c) OVER (PARTITION BY grp ORDER BY s DESC) cum,
       |    sum(c) OVER (PARTITION BY grp) n FROM hist),
       |cuts AS (SELECT grp,
       |    max(CASE WHEN cum >= (n + 2) // 3 THEN s END) c1,
       |    max(CASE WHEN cum >= (2 * n + 2) // 3 THEN s END) c2
       |  FROM cum GROUP BY 1),
       |b AS (SELECT scored.grp, n_tok, s,
       |    CASE WHEN s >= c1 THEN 'head' WHEN s >= c2 THEN 'middle'
       |         ELSE 'tail' END bucket
       |  FROM scored JOIN cuts USING (grp))
       |SELECT grp AS lang, bucket, CAST(count(*) AS BIGINT) n_docs,
       |  CAST(sum(n_tok) AS BIGINT) sum_tok,
       |  min(s) min_score_r, max(s) max_score_r
       |FROM b GROUP BY 1, 2""".stripMargin

  /** DSIR importance weights: hashed-unigram (4096-bucket) log-ratio of
    * a target slice (sources src1/src3) vs the whole corpus, summed per
    * doc. Same rounding discipline as q_lm_score. */
  private val dsirBuckets = 4096
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame =
    LangModel.importanceWeights(docs(s, dir), "doc_id", "text",
      col("source").isin("src1", "src3"), buckets = dsirBuckets)
      .select(col("id").as("doc_id"), col("n_tok"),
        round(col("weight"), 6).as("weight_r"))
  private val qDsirWeightsSql =
    s"""WITH toks AS (SELECT doc_id id, source IN ('src1','src3') tgt,
       |    unnest(${toksSql("text")}) tok FROM documents),
       |tb AS (SELECT id, tgt, ${Hashing.hash64Sql("tok")} % $dsirBuckets b
       |  FROM toks),
       |counts AS (SELECT b, count(*) cc,
       |    count(CASE WHEN tgt THEN 1 END) ct FROM tb GROUP BY 1),
       |tot AS (SELECT CAST(sum(cc) + $dsirBuckets AS DOUBLE) ncb,
       |    CAST(sum(ct) + $dsirBuckets AS DOUBLE) ntb FROM counts),
       |lr AS (SELECT b,
       |    round(ln(CAST(ct + 1 AS DOUBLE) / (SELECT ntb FROM tot))
       |      - ln(CAST(cc + 1 AS DOUBLE) / (SELECT ncb FROM tot)), 8) lr
       |  FROM counts),
       |sc AS (SELECT id, count(*) n_tok,
       |    CAST(sum(CAST(lr AS DECIMAL(28,14))) AS DOUBLE) w
       |  FROM tb JOIN lr USING (b) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n_tok, CAST(0 AS BIGINT)) n_tok,
       |  round(w, 6) weight_r
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.id""".stripMargin

  /** Interpolated bigram LM score (one order up from q_lm_score, toward
    * CCNet's KenLM): per-doc average ln of the Jelinek-Mercer mix
    * 0.75 * bigram-MLE + 0.25 * add-one unigram. One ln per bigram TYPE
    * rounded at 8 (libm discipline), decimal per-doc sums, score
    * rounded at 6. Lambda terms are binary-exact (0.75/0.25), so both
    * engines form bit-identical probabilities from exact counts. */
  private def qBigramLm(s: SparkSession, dir: String): DataFrame =
    LangModel.bigramLogProb(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        round(col("avg_logp"), 6).as("avg_logp_r"))
  private val qBigramLmSql =
    s"""WITH t AS (SELECT doc_id id, ${toksSql("text")} t FROM documents),
       |toks AS (SELECT id, unnest(t) tok FROM t),
       |uni AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) nv FROM uni),
       |bg AS (SELECT id, t[i + 1] w1, t[i + 2] w2
       |  FROM t CROSS JOIN unnest(range(len(t) - 1)) AS u(i)),
       |bic AS (SELECT w1, w2, count(*) c12 FROM bg GROUP BY 1, 2),
       |lp AS (SELECT b.w1, b.w2,
       |    round(ln(0.75 * (CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE))
       |      + 0.25 * (CAST(u2.c + 1 AS DOUBLE) / (SELECT nv FROM tot))), 8) lp
       |  FROM bic b JOIN uni u1 ON b.w1 = u1.tok JOIN uni u2 ON b.w2 = u2.tok),
       |sc AS (SELECT id, count(*) nb,
       |    CAST(sum(CAST(lp AS DECIMAL(28,14))) AS DOUBLE) / count(*) a
       |  FROM bg JOIN lp USING (w1, w2) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(nb, CAST(0 AS BIGINT)) n_bigrams,
       |  round(a, 6) avg_logp_r
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.id""".stripMargin

  /** Interpolated Kneser-Ney bigram score (Kneser & Ney 1995, Chen &
    * Goodman 1998 — KenLM's smoothing, i.e. the scorer CCNet actually
    * runs): absolute discount D=0.75 off every observed bigram, the
    * freed mass backed off to the CONTINUATION distribution
    * N1+(·w2)/N1+(··) rather than the raw unigram — the context-novelty
    * signal the Jelinek-Mercer face (q_bigram_lm) cannot see. One ln
    * per bigram type rounded@8, decimal per-doc sums, binary-exact D,
    * op order parenthesized identically in both engines. */
  private def qKnBigram(s: SparkSession, dir: String): DataFrame =
    LangModel.kneserNeyLogProb(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        round(col("avg_logp"), 6).as("avg_logp_r"))
  private val qKnBigramSql =
    s"""WITH t AS (SELECT doc_id id, ${toksSql("text")} t FROM documents),
       |bg AS (SELECT id, t[i + 1] w1, t[i + 2] w2
       |  FROM t CROSS JOIN unnest(range(len(t) - 1)) AS u(i)),
       |bic AS (SELECT w1, w2, count(*) c12 FROM bg GROUP BY 1, 2),
       |lft AS (SELECT w1, sum(c12) c1, count(*) nf FROM bic GROUP BY 1),
       |rgt AS (SELECT w2, count(*) nb FROM bic GROUP BY 1),
       |tt AS (SELECT CAST(count(*) AS DOUBLE) tb FROM bic),
       |lp AS (SELECT b.w1, b.w2, round(ln(
       |    ((CAST(b.c12 AS DOUBLE) - 0.75) / CAST(l.c1 AS DOUBLE))
       |    + (((0.75 * CAST(l.nf AS DOUBLE)) / CAST(l.c1 AS DOUBLE))
       |       * (CAST(r.nb AS DOUBLE) / (SELECT tb FROM tt)))), 8) lp
       |  FROM bic b JOIN lft l ON b.w1 = l.w1 JOIN rgt r ON b.w2 = r.w2),
       |sc AS (SELECT id, count(*) nb,
       |    CAST(sum(CAST(lp AS DECIMAL(28,14))) AS DOUBLE) / count(*) a
       |  FROM bg JOIN lp USING (w1, w2) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(nb, CAST(0 AS BIGINT)) n_bigrams,
       |  round(a, 6) avg_logp_r
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.id""".stripMargin

  /** Trigram stupid-backoff scoring (Brants et al. 2007): trained on
    * the src1/src3 slice (the DSIR target convention), scored over ALL
    * docs so every backoff tier fires — src2/src4 docs carry unseen
    * trigrams (0.5 * bigram tier), unseen bigrams, and unseen words
    * (0.25 * add-one unigram tier). One ln per trigram type rounded@8;
    * binary-exact 0.5/0.25 factors; decimal per-doc sums. */
  private def qTrigramLm(s: SparkSession, dir: String): DataFrame =
    LangModel.stupidBackoff(docs(s, dir), "doc_id", "text",
      col("source").isin("src1", "src3"))
      .select(col("id").as("doc_id"), col("n_trigrams"),
        round(col("avg_logp"), 6).as("avg_logp_r"))
  private val qTrigramLmSql =
    s"""WITH t AS (SELECT doc_id id, source IN ('src1','src3') trn,
       |    ${toksSql("text")} t FROM documents),
       |s3 AS (SELECT id, t[i+1] w1, t[i+2] w2, t[i+3] w3
       |  FROM t CROSS JOIN unnest(range(len(t) - 2)) AS u(i)),
       |tt AS (SELECT t FROM t WHERE trn),
       |uni AS (SELECT w, count(*) c FROM (SELECT unnest(t) w FROM tt) GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) nv FROM uni),
       |bi AS (SELECT w1, w2, count(*) c FROM (SELECT t[i+1] w1, t[i+2] w2
       |    FROM tt CROSS JOIN unnest(range(len(t) - 1)) AS u(i)) GROUP BY 1, 2),
       |tri AS (SELECT w1, w2, w3, count(*) c FROM (SELECT t[i+1] w1, t[i+2] w2, t[i+3] w3
       |    FROM tt CROSS JOIN unnest(range(len(t) - 2)) AS u(i)) GROUP BY 1, 2, 3),
       |types AS (SELECT DISTINCT w1, w2, w3 FROM s3),
       |sc0 AS (SELECT ty.w1, ty.w2, ty.w3, tri.c c3, bx.c ctx2, by_.c c2,
       |    ux.c c1ctx, uy.c c1
       |  FROM types ty
       |  LEFT JOIN tri ON tri.w1 = ty.w1 AND tri.w2 = ty.w2 AND tri.w3 = ty.w3
       |  LEFT JOIN bi bx ON bx.w1 = ty.w1 AND bx.w2 = ty.w2
       |  LEFT JOIN bi by_ ON by_.w1 = ty.w2 AND by_.w2 = ty.w3
       |  LEFT JOIN uni ux ON ux.w = ty.w2
       |  LEFT JOIN uni uy ON uy.w = ty.w3),
       |lp AS (SELECT w1, w2, w3, round(ln(
       |    CASE WHEN COALESCE(c3, 0) > 0 THEN CAST(c3 AS DOUBLE) / CAST(ctx2 AS DOUBLE)
       |         WHEN COALESCE(c2, 0) > 0 THEN 0.5 * (CAST(c2 AS DOUBLE) / CAST(c1ctx AS DOUBLE))
       |         ELSE 0.25 * (CAST(COALESCE(c1, 0) + 1 AS DOUBLE) / (SELECT nv FROM tot))
       |    END), 8) lp
       |  FROM sc0),
       |sc AS (SELECT id, count(*) nt,
       |    CAST(sum(CAST(lp AS DECIMAL(28,14))) AS DOUBLE) / count(*) a
       |  FROM s3 JOIN lp USING (w1, w2, w3) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(nt, CAST(0 AS BIGINT)) n_trigrams,
       |  round(a, 6) avg_logp_r
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.id""".stripMargin

  /** Tokenizer coverage / OOV-rate report per source — the screen run
    * after vocab build and before committing to an encode: sources with
    * high unk rates need vocab growth or exclusion. Reuses the q_vocab /
    * q_encode vocabulary and the shared encode CTE chain; the rate is a
    * single IEEE divide of two exact long sums (no float discipline
    * needed). Scale: narrow encode + broadcast vocab + one per-source
    * agg. */
  private def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = sharedVocab(s, dir)
    TextStats.encodeWithVocab(d, "doc_id", "text", vocab)
      .join(d.select(col("doc_id").as("id"), col("source")), "id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("token_ids"))).as("n_tokens"),
        sum(size(filter(col("token_ids"), x => x === 1L))).as("n_unk"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_unk"),
        (col("n_unk").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }
  private val qOovRateSql: String =
    s"""WITH $encodeIdsCtes
       |SELECT source, count(*) n_docs,
       |  CAST(sum(len(ids)) AS BIGINT) n_tokens,
       |  CAST(sum(len(list_filter(ids, x -> x = 1))) AS BIGINT) n_unk,
       |  CAST(sum(len(list_filter(ids, x -> x = 1))) AS DOUBLE)
       |    / CAST(sum(len(ids)) AS DOUBLE) oov_rate
       |FROM ids JOIN documents USING (doc_id)
       |GROUP BY 1""".stripMargin

  /** Distributed logistic-regression TRAINING (ext/MLFit.scala): learn
    * is-English weights from the deterministic quality features — the
    * training side of q_quality_classifier's literal-weight inference.
    * 3 full-batch GD steps; the oracle unrolls the identical iterations
    * (zero start, left-associated logit, grad terms rounded@8 before
    * decimal sums, update `w - (lr * (g / n))`). */
  private val lfIters = 3
  private val lfLr = 0.5
  private val lfFeatures =
    Seq("stopword_ratio", "punct_ratio", "avg_token_len", "len_ok")
  private def qLogisticFit(s: SparkSession, dir: String): DataFrame = {
    val feats = TextStats.classifyQuality(docs(s, dir), "text")
      .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
      .select((lfFeatures.map(col) :+ col("y")): _*)
      .localCheckpoint() // every GD step re-scans; tokenize once
    MLFit.logisticFitDF(feats, lfFeatures, "y",
      iterations = lfIters, lr = lfLr)
      .select(col("feature"), round(col("weight"), 8).as("weight_r"))
  }
  private val qLogisticFitSql: String = {
    val d = lfFeatures.size
    def zSql(w: String): String =
      (1 to d).foldLeft(s"$w.w0") { (acc, j) => s"($acc + ($w.w$j * x$j))" }
    val iters = (1 to lfIters).map { k =>
      val pw = s"wi${k - 1}"
      val gs = (0 to d).map { j =>
        val term = if (j == 0) "round(p - y, 8)" else s"round((p - y) * x$j, 8)"
        s"CAST(sum(CAST($term AS DECIMAL(28,14))) AS DOUBLE) g$j"
      }.mkString(",\n    ")
      val ws = (0 to d).map(j =>
        s"($pw.w$j - (CAST($lfLr AS DOUBLE) * (g$j / (SELECT nn FROM cnt)))) w$j")
        .mkString(",\n    ")
      s"""g$k AS (SELECT
         |    $gs
         |  FROM (SELECT x.*, CAST(1 AS DOUBLE) /
         |      (CAST(1 AS DOUBLE) + exp(-(${zSql(pw)}))) p
         |    FROM x, $pw)),
         |wi$k AS (SELECT
         |    $ws
         |  FROM $pw, g$k)""".stripMargin
    }.mkString(",\n")
    val zeros = (0 to d).map(j => s"CAST(0 AS DOUBLE) w$j").mkString(", ")
    val out = ("bias" +: lfFeatures).zipWithIndex.map { case (f, j) =>
      s"SELECT '$f' feature, round(w$j, 8) weight_r FROM wi$lfIters"
    }.mkString("\nUNION ALL\n")
    s"""WITH $qualityScoreCte,
       |x AS (SELECT stopword_ratio x1, punct_ratio x2, avg_token_len x3,
       |    len_ok x4, CASE WHEN d.lang = 'en' THEN CAST(1 AS DOUBLE)
       |      ELSE CAST(0 AS DOUBLE) END y
       |  FROM feats JOIN documents d USING (doc_id)),
       |cnt AS (SELECT CAST(count(*) AS DOUBLE) nn FROM x),
       |wi0 AS (SELECT $zeros),
       |$iters
       |$out""".stripMargin
  }

  /** fastText-shaped quality-classifier training (VERDICT r14 Next
    * #5): hashed word uni+bigram features (hash64 pmod 8, the existing
    * gram machinery) + the existing full-batch GD logistic fit
    * (MLFit.hashedGramTrain), label = is-English from the corpus lang
    * column — the CCNet/LLaMA in-pipeline classifier-training shape.
    * The oracle unrolls the identical GD (zero start, left-associated
    * logit, grad terms rounded@8 before decimal sums) over the
    * identical hashed-bucket features, md5-hash64 and all. */
  private val qtD = 8
  private val qtIters = 3
  private val qtLr = 0.5
  private def qQualityTrain(s: SparkSession, dir: String): DataFrame =
    MLFit.hashedGramTrain(
      docs(s, dir).select(col("text"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y")),
      "text", "y", d = qtD, iterations = qtIters, lr = qtLr)
      .select(col("feature"), round(col("weight"), 8).as("weight_r"))
  private val qQualityTrainSql: String = {
    val d = qtD
    def zSql(w: String): String =
      (1 to d).foldLeft(s"$w.w0") { (acc, j) =>
        s"($acc + ($w.w$j * x${j - 1}))"
      }
    val iters = (1 to qtIters).map { k =>
      val pw = s"wi${k - 1}"
      val gs = (0 to d).map { j =>
        val term =
          if (j == 0) "round(p - y, 8)" else s"round((p - y) * x${j - 1}, 8)"
        s"CAST(sum(CAST($term AS DECIMAL(28,14))) AS DOUBLE) g$j"
      }.mkString(",\n    ")
      val ws = (0 to d).map(j =>
        s"($pw.w$j - (CAST($qtLr AS DOUBLE) * (g$j / (SELECT nn FROM cnt)))) w$j")
        .mkString(",\n    ")
      s"""g$k AS (SELECT
         |    $gs
         |  FROM (SELECT x.*, CAST(1 AS DOUBLE) /
         |      (CAST(1 AS DOUBLE) + exp(-(${zSql(pw)}))) p
         |    FROM x, $pw)),
         |wi$k AS (SELECT
         |    $ws
         |  FROM $pw, g$k)""".stripMargin
    }.mkString(",\n")
    val zeros = (0 to d).map(j => s"CAST(0 AS DOUBLE) w$j").mkString(", ")
    val xs = (0 until d).map(j =>
      s"CAST(len(list_filter(bk, v -> v = $j)) AS DOUBLE) / len(bk) x$j")
      .mkString(",\n    ")
    val out = ("bias" +: (0 until d).map(j => s"x$j")).zipWithIndex
      .map { case (f, j) =>
        s"SELECT '$f' feature, round(w$j, 8) weight_r FROM wi$qtIters"
      }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT ${toksSql("text")} t,
       |    CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
       |      ELSE CAST(0 AS DOUBLE) END y
       |  FROM documents),
       |g AS (SELECT y, t || CASE WHEN len(t) >= 2
       |      THEN list_transform(range(len(t) - 1),
       |        i -> t[i + 1] || ' ' || t[i + 2])
       |      ELSE []::VARCHAR[] END g
       |  FROM t),
       |b AS (SELECT y,
       |    list_transform(g, x -> ${Hashing.hash64Sql("x")} % $d) bk
       |  FROM g WHERE len(g) > 0),
       |x AS (SELECT
       |    $xs,
       |    y
       |  FROM b),
       |cnt AS (SELECT CAST(count(*) AS DOUBLE) nn FROM x),
       |wi0 AS (SELECT $zeros),
       |$iters
       |$out""".stripMargin
  }

  /** Erasure propagation over the injected-dup corpus: delete requests =
    * ORIGINAL docs with doc_id % 40 == 0 (`doc_id < 1000000` excludes the
    * injected copies — their offset 1000000 is itself divisible by 40, so
    * without the bound every copy of a requested doc would be `requested`
    * in its own right and the content_copy verdict would be vacuously
    * untested; ADVICE r5). With the bound, copies of requested docs
    * (orig % 400 == 0, i.e. % 40 and % 10) land in `content_copy`, so the
    * gate exercises all three verdicts. Report = verdict counts
    * (retained rows carry a null verdict -> 'retained' for the compare). */
  private def qErasure(s: SparkSession, dir: String): DataFrame = {
    val d = injectedDocs(s, dir)
    Dedup.erasureAudit(d, "doc_id", "text",
      d.filter(col("doc_id") % 40 === 0 && col("doc_id") < 1000000)
        .select(col("doc_id")))
      .groupBy(coalesce(col("erasure"), lit("retained")).as("erasure"))
      .agg(count(lit(1)).as("n"))
  }
  private val qErasureSql: String =
    s"""WITH $injectedDocsSql,
       |fps AS (SELECT doc_id, md5(${normSql("text")}) fp FROM inj),
       |delfp AS (SELECT DISTINCT fp FROM fps
       |  WHERE doc_id % 40 = 0 AND doc_id < 1000000),
       |v AS (SELECT f.doc_id,
       |    CASE WHEN f.doc_id % 40 = 0 AND f.doc_id < 1000000 THEN 'requested'
       |         WHEN d.fp IS NOT NULL THEN 'content_copy'
       |         ELSE 'retained' END erasure
       |  FROM fps f LEFT JOIN delfp d ON f.fp = d.fp)
       |SELECT erasure, count(*) n FROM v GROUP BY 1""".stripMargin

  /** Chi-square categorical drift on event_type between the even/odd
    * event-id halves (a null-drift pair: the statistic should be small
    * — what matters for the gate is that both engines derive it
    * bit-identically via the rounded-term decimal sum). */
  /** PSI drift (NumericProfile.psiDrift): two labeled comparisons so
    * both ends of the verdict scale are live in the gate — the parity
    * halves (genuinely stable, PSI ~ 0) and all-events vs a click/
    * view-only slice (a real composition shift). Add-one smoothing,
    * per-category term round(.,8), decimal sum — all mirrored. */
  private def qPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    profile.NumericProfile.psiDrift(
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 === 1), "event_type")
      .withColumn("comparison", lit("parity_halves"))
      .unionByName(profile.NumericProfile.psiDrift(
          e, e.filter(col("event_type").isin("click", "view")), "event_type")
        .withColumn("comparison", lit("click_view_only")))
  }
  private val qPsiDriftSql: String = {
    def one(refWhere: String, curWhere: String, label: String) =
      s"""SELECT n_categories, psi_r,
         |  CASE WHEN psi_r < 0.1 THEN 'stable'
         |    WHEN psi_r < 0.25 THEN 'moderate' ELSE 'shifted' END verdict,
         |  '$label' comparison
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) n_categories,
         |    round(CAST(sum(CAST(round((CAST(n_cur1 AS DOUBLE) / t_cur
         |        - CAST(n_ref1 AS DOUBLE) / t_ref)
         |      * ln((CAST(n_cur1 AS DOUBLE) / t_cur)
         |        / (CAST(n_ref1 AS DOUBLE) / t_ref)), 8) AS DECIMAL(28,14)))
         |      AS DOUBLE), 6) psi_r
         |  FROM (
         |    SELECT COALESCE(n_ref, 0) + 1 n_ref1, COALESCE(n_cur, 0) + 1 n_cur1,
         |      CAST(sum(COALESCE(n_ref, 0) + 1) OVER () AS DOUBLE) t_ref,
         |      CAST(sum(COALESCE(n_cur, 0) + 1) OVER () AS DOUBLE) t_cur
         |    FROM (SELECT event_type cat, count(*) n_ref FROM events
         |          WHERE $refWhere GROUP BY 1) rc
         |    FULL JOIN (SELECT event_type cat, count(*) n_cur FROM events
         |          WHERE $curWhere GROUP BY 1) cc USING (cat)))"""
        .stripMargin
    one("event_id % 2 = 0", "event_id % 2 = 1", "parity_halves") +
      "\nUNION ALL\n" +
      one("1 = 1", "event_type IN ('click', 'view')", "click_view_only")
  }

  private def qChiDrift(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    profile.NumericProfile.chiSquareDrift(
      e.filter(col("event_id") % 2 === 0),
      e.filter(col("event_id") % 2 === 1), "event_type")
  }
  private val qChiDriftSql: String = {
    val eSql = "(CAST(t_cur AS DOUBLE) * (CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)))"
    s"""WITH rc AS (SELECT event_type cat, count(*) n_ref FROM events
       |    WHERE event_id % 2 = 0 GROUP BY 1),
       |cc AS (SELECT event_type cat, count(*) n_cur FROM events
       |    WHERE event_id % 2 = 1 GROUP BY 1),
       |j AS (SELECT COALESCE(rc.cat, cc.cat) cat,
       |    COALESCE(n_ref, 0) n_ref, COALESCE(n_cur, 0) n_cur
       |  FROM rc FULL JOIN cc ON rc.cat = cc.cat),
       |t AS (SELECT *, sum(n_ref) OVER () t_ref, sum(n_cur) OVER () t_cur
       |  FROM j),
       |p AS (SELECT *, CASE WHEN n_ref > 0 THEN round(
       |    (CAST(n_cur AS DOUBLE) - $eSql) * (CAST(n_cur AS DOUBLE) - $eSql)
       |      / $eSql, 8) END term FROM t)
       |SELECT CAST(sum(CASE WHEN n_ref > 0 THEN 1 ELSE 0 END) AS BIGINT) n_categories,
       |  CAST(sum(CASE WHEN n_ref = 0 AND n_cur > 0 THEN 1 ELSE 0 END) AS BIGINT) n_unseen,
       |  round(CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE), 6) chi2_r,
       |  CAST(sum(CASE WHEN n_ref > 0 THEN 1 ELSE 0 END) - 1 AS BIGINT) dof
       |FROM p""".stripMargin
  }

  /** l-diversity release report over (nation, segment) classes with
    * account-balance bins (floor(bal/1000)) as the sensitive attribute
    * (Privacy.lDiversityHistogram, l=4): k-anonymity's blind spot is a
    * large-but-homogeneous class — this measures it. */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    Privacy.lDiversityHistogram(
      Sources.table(s, dir, "customer").withColumn("bal_bin",
        floor(col("c_acctbal") / lit(1000.0)).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bin", l = 4)
  private val qLDiversitySql: String =
    """WITH cls AS (SELECT c_nationkey, c_mktsegment, count(*) class_size,
      |    count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) l_value
      |  FROM customer GROUP BY 1, 2)
      |SELECT l_value, count(*) n_classes,
      |  CAST(sum(class_size) AS BIGINT) n_rows, l_value < 4 at_risk
      |FROM cls GROUP BY 1""".stripMargin

  /** DP bounded mean of event value per event_type
    * (Privacy.dpGroupMeans): values clamped to [0, 100], eps=0.8 split
    * between the sum and count releases, seeded Laplace noise mirrored
    * digit-for-digit by the oracle. */
  private def qDpMean(s: SparkSession, dir: String): DataFrame =
    Privacy.dpGroupMeans(events(s, dir), Seq("event_type"), "value",
      lo = 0.0, hi = 100.0, eps = 0.8, salt = "dpm")
  private val qDpMeanSql: String = {
    def noiseSql(tag: String, scale: String): String = {
      val keyExpr =
        s"COALESCE(CAST(event_type AS VARCHAR), ' ') || '|' || 'dpm$tag'"
      val h = Hashing.hash64Sql(keyExpr)
      s"""round(-$scale * sign((CAST($h % 1000000 AS DOUBLE) + 0.5) / 1000000.0 - 0.5)
         | * ln(1.0 - 2.0 * abs((CAST($h % 1000000 AS DOUBLE) + 0.5) / 1000000.0 - 0.5)), 8)""".stripMargin
    }
    s"""WITH g AS (SELECT event_type,
       |    CAST(sum(CAST(round(greatest(least(CAST(value AS DOUBLE), 100.0), 0.0), 6)
       |      AS DECIMAL(28,6))) AS DOUBLE) s,
       |    count(*) n
       |  FROM events GROUP BY 1),
       |z AS (SELECT event_type, s + ${noiseSql("#s", "250.0")} ns,
       |    greatest(CAST(n AS DOUBLE) + ${noiseSql("#c", "2.5")}, 1.0) nc
       |  FROM g)
       |SELECT event_type, round(nc, 6) noisy_count,
       |  round(ns / nc, 6) dp_mean FROM z""".stripMargin
  }

  /** Mutual information between lang and source on documents
    * (NumericProfile.mutualInformation): the composition-redundancy
    * diagnostic, with marginal entropies and min-normalized NMI; ln
    * rounded at 8, per-cell terms at 12, decimal-summed. */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    profile.NumericProfile.mutualInformation(docs(s, dir), "lang", "source")
  private val qMutualInfoSql: String = {
    val pxy = "(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH cells AS (SELECT lang x, source y, count(*) nxy
       |  FROM documents GROUP BY 1, 2),
       |m AS (SELECT *, sum(nxy) OVER (PARTITION BY x) nx,
       |    sum(nxy) OVER (PARTITION BY y) ny, sum(nxy) OVER () n
       |  FROM cells),
       |t AS (SELECT *,
       |    round($pxy * round(ln(CAST(n AS DOUBLE) * CAST(nxy AS DOUBLE)
       |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 8), 12) mi_term,
       |    round($pxy * -round(ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)), 8), 12) hx_term,
       |    round($pxy * -round(ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 8), 12) hy_term
       |  FROM m),
       |a AS (SELECT CAST(max(n) AS BIGINT) n_rows, count(DISTINCT x) x_vals,
       |    count(DISTINCT y) y_vals,
       |    CAST(sum(CAST(mi_term AS DECIMAL(28,14))) AS DOUBLE) mi0,
       |    CAST(sum(CAST(hx_term AS DECIMAL(28,14))) AS DOUBLE) hx0,
       |    CAST(sum(CAST(hy_term AS DECIMAL(28,14))) AS DOUBLE) hy0
       |  FROM t)
       |SELECT n_rows, x_vals, y_vals, round(mi0, 6) mi,
       |  round(hx0, 6) h_x, round(hy0, 6) h_y,
       |  CASE WHEN least(hx0, hy0) > 0
       |    THEN round(mi0 / least(hx0, hy0), 6) END nmi
       |FROM a""".stripMargin
  }

  /** Closed-form OLS: l_extendedprice ~ l_quantity (a real linear
    * relationship in the data — extendedprice is quantity times a unit
    * price). Oracle mirrors the five decimal moment sums and the exact
    * closed-form op order. */
  private def qLinearFit(s: SparkSession, dir: String): DataFrame =
    MLFit.simpleLinearFit(Sources.table(s, dir, "lineitem"),
      "l_quantity", "l_extendedprice")
      .select(col("n"), round(col("b0"), 6).as("b0_r"),
        round(col("b1"), 6).as("b1_r"), round(col("r2"), 6).as("r2_r"))
  private val qLinearFitSql: String =
    """WITH s AS (SELECT count(*) n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) sy,
      |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) sxy,
      |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,12))) AS DOUBLE) sxx,
      |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) syy
      |  FROM lineitem),
      |c AS (SELECT *, CAST(n AS DOUBLE) * sxy - sx * sy num,
      |    CAST(n AS DOUBLE) * sxx - sx * sx den,
      |    CAST(n AS DOUBLE) * syy - sy * sy deny FROM s),
      |b AS (SELECT *, CASE WHEN den > 0 THEN num / den END b1 FROM c)
      |SELECT n,
      |  round(CASE WHEN den > 0
      |    THEN (sy - (b1 * sx)) / CAST(n AS DOUBLE) END, 6) b0_r,
      |  round(b1, 6) b1_r,
      |  round(CASE WHEN den > 0 AND deny > 0
      |    THEN (num * num) / (den * deny) END, 6) r2_r
      |FROM b""".stripMargin

  /** PMI collocations (TextStats.collocations): top-50 adjacent pairs
    * by rounded PMI at minCount 5 — phrase/boilerplate surfacing. */
  private def qCollocations(s: SparkSession, dir: String): DataFrame =
    TextStats.collocations(docs(s, dir), "text", minCount = 5, k = 50)
  private val qCollocationsSql =
    s"""WITH t AS (SELECT ${toksSql("text")} t FROM documents),
       |toks AS (SELECT unnest(t) tok FROM t),
       |uni AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
       |nu AS (SELECT CAST(sum(c) AS DOUBLE) v FROM uni),
       |bg AS (SELECT t[i + 1] w1, t[i + 2] w2
       |  FROM t CROSS JOIN unnest(range(len(t) - 1)) AS u(i)),
       |nb AS (SELECT CAST(count(*) AS DOUBLE) v FROM bg),
       |bic AS (SELECT w1, w2, count(*) c12 FROM bg GROUP BY 1, 2
       |  HAVING count(*) >= 5),
       |p AS (SELECT b.w1, b.w2, b.c12,
       |    round(ln((CAST(b.c12 AS DOUBLE) * (SELECT v FROM nu) * (SELECT v FROM nu))
       |      / ((SELECT v FROM nb) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) pmi_r
       |  FROM bic b JOIN uni u1 ON b.w1 = u1.tok JOIN uni u2 ON b.w2 = u2.tok)
       |SELECT w1, w2, CAST(c12 AS BIGINT) c12, pmi_r FROM p
       |ORDER BY pmi_r DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin

  /** Poisson-bootstrap CI for mean n_chars
    * (NumericProfile.bootstrapMeanCI): 40 seeded resamples, 5th/95th
    * order statistics of the resample means. The Poisson CDF literal
    * table is shared with the Scala side via
    * NumericProfile.poissonCdf. */
  private def qBootstrapCi(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.bootstrapMeanCI(
      docs(s, dir), "doc_id", "n_chars", b = 40)
  private val qBootstrapCiSql: String = {
    val h = Hashing.hash64Sql("id || ':' || rep || ':' || 'boot'")
    val arms = graft.profile.NumericProfile.poissonCdf.zipWithIndex
      .map { case (thr, k) => s"WHEN u <= $thr THEN $k" }.mkString(" ")
    val cap = graft.profile.NumericProfile.poissonCdf.size
    s"""WITH rws AS (SELECT CAST(doc_id AS VARCHAR) id,
       |    CAST(n_chars AS DECIMAL(18,2)) x
       |  FROM documents WHERE n_chars IS NOT NULL),
       |rp AS (SELECT id, x, unnest(range(40)) rep FROM rws),
       |hu AS (SELECT id, x, rep,
       |    (CAST($h % 1000000 AS DOUBLE) + 0.5) / 1000000.0 u FROM rp),
       |wt AS (SELECT rep, x, CASE $arms ELSE $cap END w FROM hu),
       |mn AS (SELECT rep, sum(x * w) swx, sum(w) sw FROM wt GROUP BY 1),
       |mm AS (SELECT rep, CASE WHEN sw > 0
       |    THEN CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) END m FROM mn),
       |rk AS (SELECT rep, m,
       |    row_number() OVER (ORDER BY m ASC NULLS LAST, rep ASC) rn FROM mm),
       |fl AS (SELECT count(*) n_rows, sum(x) sx FROM rws)
       |SELECT CAST(n_rows AS BIGINT) n_rows, 40 n_resamples,
       |  round(CASE WHEN n_rows > 0
       |    THEN CAST(sx AS DOUBLE) / CAST(n_rows AS DOUBLE) END, 6) mean_r,
       |  round((SELECT m FROM rk WHERE rn = 2), 6) lo_r,
       |  round((SELECT m FROM rk WHERE rn = 38), 6) hi_r
       |FROM fl""".stripMargin
  }

  /** Character-entropy gibberish screen (TextStats.charEntropy) over
    * the normalized alphabet. */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    TextStats.charEntropy(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_alnum_chars"),
        col("n_distinct_chars"), col("entropy_r"))
  private val qCharEntropySql: String =
    s"""WITH base AS (SELECT doc_id,
       |    replace(${normSql("text")}, ' ', '') st FROM documents),
       |ch AS (SELECT doc_id, substr(st, CAST(i + 1 AS INT), 1) ch
       |  FROM base CROSS JOIN unnest(range(len(st))) AS u(i)
       |  WHERE len(st) > 0),
       |cnt AS (SELECT doc_id, ch, count(*) c FROM ch GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(c) n, count(*) nd FROM cnt GROUP BY 1),
       |tm AS (SELECT cnt.doc_id, tot.n, tot.nd,
       |    round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 12) term
       |  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id),
       |st AS (SELECT doc_id, CAST(max(n) AS BIGINT) n_alnum_chars,
       |    CAST(max(nd) AS BIGINT) n_distinct_chars,
       |    round(CAST(sum(CAST(term AS DECIMAL(28,14))) AS DOUBLE), 6) entropy_r
       |  FROM tm GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n_alnum_chars, 0) n_alnum_chars,
       |  COALESCE(n_distinct_chars, 0) n_distinct_chars,
       |  COALESCE(entropy_r, 0.0) entropy_r
       |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin

  /** Token-distribution JS divergence per source vs its complement
    * (TextStats.tokenJsDivergence) — the text-native slice-drift
    * monitor over the top-200-token + <oov> simplex. */
  private def qJsDivergence(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenJsDivergence(docs(s, dir), "text", "source",
      vocabSize = 200)
  private val qJsDivergenceSql: String =
    s"""WITH tk AS (SELECT source slice, unnest(${toksSql("text")}) tok
       |  FROM documents),
       |vocab AS (SELECT tok FROM
       |  (SELECT tok, count(*) c FROM tk GROUP BY 1)
       |  QUALIFY row_number() OVER (ORDER BY c DESC, tok ASC) <= 200),
       |mapped AS (SELECT slice,
       |    CASE WHEN v.tok IS NULL THEN '<oov>' ELSE tk.tok END tok
       |  FROM tk LEFT JOIN vocab v ON tk.tok = v.tok),
       |sc AS (SELECT slice, tok, count(*) cs FROM mapped GROUP BY 1, 2),
       |stot AS (SELECT slice, sum(cs) ns FROM sc GROUP BY 1),
       |ttot AS (SELECT tok, sum(cs) ct FROM sc GROUP BY 1),
       |nn AS (SELECT sum(ns) n FROM stot),
       |grid AS (SELECT st.slice, tt.tok, st.ns, tt.ct, (SELECT n FROM nn) n,
       |    COALESCE(sc.cs, 0) cs FROM stot st CROSS JOIN ttot tt
       |  LEFT JOIN sc ON sc.slice = st.slice AND sc.tok = tt.tok),
       |ext AS (SELECT *, ct - cs cq, n - ns nq,
       |    CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE) p,
       |    CAST(ct - cs AS DOUBLE) / CAST(n - ns AS DOUBLE) q
       |  FROM grid),
       |terms AS (SELECT slice, ns, nq,
       |    CASE WHEN cs > 0 AND nq > 0
       |      THEN round(p * ln(p / ((p + q) / 2.0)), 12) ELSE 0.0 END tp,
       |    CASE WHEN cq > 0 AND nq > 0
       |      THEN round(q * ln(q / ((p + q) / 2.0)), 12) ELSE 0.0 END tq
       |  FROM ext)
       |SELECT slice, CAST(max(ns) AS BIGINT) n_tokens,
       |  CASE WHEN max(nq) > 0 THEN round(0.5 * CAST(
       |    sum(CAST(tp AS DECIMAL(28,14))) + sum(CAST(tq AS DECIMAL(28,14)))
       |    AS DOUBLE), 6) END js_r
       |FROM terms GROUP BY 1""".stripMargin

  /** PPMI word vectors (TextStats.ppmiVectors): symmetric window-1
    * co-occurrence over the top-200 tokens, positive PMI, ±1-hash
    * projection to 16 dims — corpus-intrinsic static embeddings. */
  private def qPpmiEmbed(s: SparkSession, dir: String): DataFrame =
    TextStats.ppmiVectors(docs(s, dir), "text", vocabSize = 200, dims = 16)
  private val qPpmiEmbedSql: String = {
    val sgn = "(" + Hashing.hash64Sql("w2 || ':' || d") + " % 2) * 2 - 1"
    s"""WITH t AS (SELECT ${toksSql("text")} t FROM documents),
       |uni AS (SELECT tok, count(*) c FROM
       |  (SELECT unnest(t) tok FROM t) GROUP BY 1),
       |vocab AS (SELECT tok FROM uni
       |  QUALIFY row_number() OVER (ORDER BY c DESC, tok ASC) <= 200),
       |bg AS (SELECT t[i + 1] w1, t[i + 2] w2
       |  FROM t CROSS JOIN unnest(range(len(t) - 1)) AS u(i)),
       |sym AS (SELECT w1, w2 FROM bg UNION ALL SELECT w2, w1 FROM bg),
       |co AS (SELECT w1, w2, count(*) n FROM sym
       |  JOIN vocab v1 ON w1 = v1.tok JOIN vocab v2 ON w2 = v2.tok
       |  GROUP BY 1, 2),
       |marg AS (SELECT w1, sum(n) m FROM co GROUP BY 1),
       |nt AS (SELECT CAST(sum(n) AS DOUBLE) v FROM co),
       |pm AS (SELECT c.w1, c.w2,
       |    round(ln((CAST(c.n AS DOUBLE) * (SELECT v FROM nt))
       |      / (CAST(m1.m AS DOUBLE) * CAST(m2.m AS DOUBLE))), 8) ppmi
       |  FROM co c JOIN marg m1 ON c.w1 = m1.w1
       |    JOIN marg m2 ON c.w2 = m2.w1),
       |pmf AS (SELECT w1, w2, ppmi FROM pm WHERE ppmi > 0),
       |proj AS (SELECT w1, d, ppmi, $sgn sgn
       |  FROM pmf CROSS JOIN unnest(range(16)) AS u(d))
       |SELECT w1 token, CAST(d AS INT) dim,
       |  round(CAST(sum(CAST(ppmi * sgn AS DECIMAL(28,14))) AS DOUBLE), 6) v_r
       |FROM proj GROUP BY 1, 2""".stripMargin
  }

  /** Zipf rank-frequency diagnostic (TextStats.zipfFit): ln-ln OLS over
    * the top-500 token types — slope ~ -1 + high R^2 on natural text;
    * boilerplate flattens it. Reuses the q_linear_fit moment-sum
    * arithmetic over rounded@8 log points. */
  private def qZipfFit(s: SparkSession, dir: String): DataFrame =
    TextStats.zipfFit(docs(s, dir), "text", topR = 500)
      .select(col("n"), round(col("b0"), 6).as("b0_r"),
        round(col("b1"), 6).as("b1_r"), round(col("r2"), 6).as("r2_r"))
  private val qZipfFitSql: String =
    s"""WITH toks AS (SELECT unnest(${toksSql("text")}) tok FROM documents),
       |cnt AS (SELECT tok, count(*) c FROM toks GROUP BY 1),
       |top AS (SELECT tok, c,
       |    row_number() OVER (ORDER BY c DESC, tok ASC) rank FROM cnt
       |  QUALIFY row_number() OVER (ORDER BY c DESC, tok ASC) <= 500),
       |pts AS (SELECT round(ln(CAST(rank AS DOUBLE)), 8) lx,
       |    round(ln(CAST(c AS DOUBLE)), 8) ly FROM top),
       |s AS (SELECT count(*) n,
       |    CAST(sum(CAST(lx AS DECIMAL(38,12))) AS DOUBLE) sx,
       |    CAST(sum(CAST(ly AS DECIMAL(38,12))) AS DOUBLE) sy,
       |    CAST(sum(CAST(lx * ly AS DECIMAL(38,12))) AS DOUBLE) sxy,
       |    CAST(sum(CAST(lx * lx AS DECIMAL(38,12))) AS DOUBLE) sxx,
       |    CAST(sum(CAST(ly * ly AS DECIMAL(38,12))) AS DOUBLE) syy
       |  FROM pts),
       |c AS (SELECT *, CAST(n AS DOUBLE) * sxy - sx * sy num,
       |    CAST(n AS DOUBLE) * sxx - sx * sx den,
       |    CAST(n AS DOUBLE) * syy - sy * sy deny FROM s),
       |b AS (SELECT *, CASE WHEN den > 0 THEN num / den END b1 FROM c)
       |SELECT n,
       |  round(CASE WHEN den > 0
       |    THEN (sy - (b1 * sx)) / CAST(n AS DOUBLE) END, 6) b0_r,
       |  round(b1, 6) b1_r,
       |  round(CASE WHEN den > 0 AND deny > 0
       |    THEN (num * num) / (den * deny) END, 6) r2_r
       |FROM b""".stripMargin

  /** Weighted sample without replacement (A-ES): 10 docs per language,
    * weighted by length — the "sample long docs preferentially" draw a
    * curriculum builder makes. Oracle mirrors the exponential-key
    * competition exactly. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    ext.Sampling.weightedSample(docs(s, dir), Seq("lang"), "doc_id",
      "n_chars", k = 10)
      .select(col("lang"), col("doc_id"), col("n_chars"))
  private val qWeightedSampleSql: String = {
    val h = Hashing.hash64Sql("CAST(doc_id AS VARCHAR) || ':wsample'")
    s"""WITH u AS (SELECT lang, doc_id, n_chars,
       |    CAST($h % 1000000 AS DOUBLE) h
       |  FROM documents WHERE n_chars > 0),
       |k AS (SELECT lang, doc_id, n_chars,
       |    round(ln((h + 1.0) / 1000001.0) / CAST(n_chars AS DOUBLE), 12) kk
       |  FROM u)
       |SELECT lang, doc_id, n_chars FROM k
       |QUALIFY row_number() OVER (PARTITION BY lang
       |  ORDER BY kk DESC, doc_id ASC) <= 10""".stripMargin
  }

  // ------------------------------------------------------------------
  val faces: Seq[Face] = Seq(
    Face("q_pagerank", qPageRank, qPageRankSql),
    Face("q_ppr_seeds", qPprSeeds, qPprSeedsSql),
    Face("q_oov_rate", qOovRate, qOovRateSql),
    Face("q_logistic_fit", qLogisticFit, qLogisticFitSql),
    Face("q_quality_train", qQualityTrain, qQualityTrainSql),
    Face("q_erasure", qErasure, qErasureSql),
    Face("q_chi_drift", qChiDrift, qChiDriftSql),
    Face("q_psi_drift", qPsiDrift, qPsiDriftSql),
    Face("q_l_diversity", qLDiversity, qLDiversitySql),
    Face("q_dp_mean", qDpMean, qDpMeanSql),
    Face("q_mutual_info", qMutualInfo, qMutualInfoSql),
    Face("q_linear_fit", qLinearFit, qLinearFitSql),
    Face("q_zipf_fit", qZipfFit, qZipfFitSql),
    Face("q_collocations", qCollocations, qCollocationsSql),
    Face("q_ppmi_embed", qPpmiEmbed, qPpmiEmbedSql),
    Face("q_js_divergence", qJsDivergence, qJsDivergenceSql),
    Face("q_char_entropy", qCharEntropy, qCharEntropySql),
    Face("q_bootstrap_ci", qBootstrapCi, qBootstrapCiSql),
    Face("q_weighted_sample", qWeightedSample, qWeightedSampleSql),
    Face("q_degree_profile", qDegreeProfile, qDegreeProfileSql),
    Face("q_kcore", qKcore, qKcoreSql),
    Face("q_label_prop", qLabelProp, qLabelPropSql),
    Face("q_triangles", qTriangles, qTrianglesSql),
    Face("q_lm_score", qLmScore, qLmScoreSql),
    Face("q_doremi_weights", qDoremiWeights, qDoremiWeightsSql),
    Face("q_bigram_lm", qBigramLm, qBigramLmSql),
    Face("q_kn_bigram", qKnBigram, qKnBigramSql),
    Face("q_trigram_lm", qTrigramLm, qTrigramLmSql),
    Face("q_ccnet_buckets", qCcnetBuckets, qCcnetBucketsSql),
    Face("q_dsir_weights", qDsirWeights, qDsirWeightsSql),
    Face("q_repetition", qRepetition, qRepetitionSql),
    Face("q_intradoc_dedup", qIntradocDedup, qIntradocDedupSql),
    Face("q_gopher_filter", qGopherFilter, qGopherFilterSql),
    Face("q_c4_filter", qC4Filter, qC4FilterSql),
    Face("q_line_dedup", qLineDedup, qLineDedupSql),
    Face("q_substring_dedup", qSubstringDedup, qSubstringDedupSql),
    Face("q_ngram_novelty", qNgramNovelty, qNgramNoveltySql),
    Face("q_quantile_panel", qQuantilePanel, qQuantilePanelSql),
    Face("q_quantile_panel_approx", qQuantilePanelApprox, qQuantilePanelApproxSql),
    Face("q_rare_collapse", qRareCollapse, qRareCollapseSql),
    Face("q_target_encode", qTargetEncode, qTargetEncodeSql),
    Face("q_split_leakage", qSplitLeakage, qSplitLeakageSql),
    Face("q_url_normalize", qUrlNormalize, qUrlNormalizeSql),
    Face("q_url_dedup", qUrlDedup, qUrlDedupSql),
    Face("q_domain_stats", qDomainStats, qDomainStatsSql),
    Face("q_concentration", qConcentration, qConcentrationSql),
    Face("q_bloom_semi", qBloomSemi, qBloomSemiSql),
    Face("q_constraints", qConstraints, qConstraintsSql),
    Face("q_fd_discovery", qFdDiscovery, qFdDiscoverySql),
    Face("q_ind_discovery", qIndDiscovery, qIndDiscoverySql),
    Face("q_ucc_discovery", qUccDiscovery, qUccDiscoverySql),
    Face("q_bucket_join", qBucketJoin, qBucketJoinSql),
    Face("q_fuzzy_join", qFuzzyJoin, qFuzzyJoinSql),
    Face("q_scd_merge", qScdMerge, qScdMergeSql),
    Face("q_join_advisor", qJoinAdvisor, qJoinAdvisorSql),
    Face("q_time_gaps", qTimeGaps, qTimeGapsSql),
    Face("q_key_skew", qKeySkew, qKeySkewSql),
    Face("q_tfidf", qTfidf, qTfidfSql),
    Face("q_bm25", qBm25, qBm25Sql),
    Face("q_source_stats", qSourceStats, qSourceStatsSql),
    Face("q_dataset_card", qDatasetCard, qDatasetCardSql),
    Face("q_funnel", qFunnel, qFunnelSql),
    Face("q_markov", qMarkov, qMarkovSql),
    Face("q_conversion_lag", qConversionLag, qConversionLagSql),
    Face("q_conversion_lag_approx", qConversionLagApprox, qConversionLagApproxSql),
    Face("q_ab_test", qAbTest, qAbTestSql),
    Face("q_vocab", qVocab, qVocabSql),
    Face("q_bpe_train", qBpeTrain, qBpeTrainSql),
    Face("q_wordpiece_train", qWordPieceTrain, qWordPieceTrainSql),
    Face("q_unigram_tokenizer", qUnigramTokenizer, qUnigramTokenizerSql),
    Face("q_tokenizer_fertility", qTokenizerFertility, qTokenizerFertilitySql),
    Face("q_heavy_hitters", qHeavyHitters, qHeavyHittersSql),
    Face("q_kmv_distinct", qKmvDistinct, qKmvDistinctSql),
    Face("q_cms_counts", qCmsCounts, qCmsCountsSql),
    Face("q_k_anonymity", qKAnonymity, qKAnonymitySql),
    Face("q_dp_histogram", qDpHistogram, qDpHistogramSql),
    Face("q_html_strip", qHtmlStrip, qHtmlStripSql),
    Face("q_warc_ingest", qWarcIngest, qWarcIngestSql),
    Face("q_moving_avg", qMovingAvg, qMovingAvgSql),
    Face("q_exp_smooth", qExpSmooth, qExpSmoothSql),
    Face("q_mad_outliers", qMadOutliers, qMadOutliersSql),
    Face("q_lexical", qLexical, qLexicalSql),
    Face("q_pack", qPack, qPackSql),
    Face("q_chunk", qChunk, qChunkSql),
    Face("q_dedup_clusters", qDedupClusters, qDedupClustersSql),
    Face("q_dedup_survivors", qDedupSurvivors, qDedupSurvivorsSql),
    Face("q_survivor_policy", qSurvivorPolicy, qSurvivorPolicySql),
    Face("q_decontaminate", qDecontaminate, qDecontaminateSql),
    Face("q_decontaminate_runs", qDecontaminateRuns, qDecontaminateRunsSql),
    Face("q_decontaminate_bloom", qDecontaminateBloom, qDecontaminateSql),
    Face("q_corpus_diff", qCorpusDiff, qCorpusDiffSql),
    Face("q_zorder", qZorder, qZorderSql),
    Face("q_zprune", qZPrune, qZPruneSql),
    Face("q_compaction", qCompaction, qCompactionSql),
    Face("q_encode", qEncode, qEncodeSql),
    Face("q_pack_ids", qPackIds, qPackIdsSql),
    Face("q_pack_efficiency", qPackEfficiency, qPackEfficiencySql),
    Face("q_cohort", qCohort, qCohortSql),
    Face("q_skew_join", qSkewJoin, qSkewJoinSql),
    Face("q_range_join", qRangeJoin, qRangeJoinSql),
    Face("q_grid_join", qGridJoin, qGridJoinSql),
    Face("q_udtf_shingles", qUdtfShingles, qUdtfShinglesSql),
    Face("q_stream_hourly", qStreamHourly, qStreamHourlySql),
    Face("q_stream_append", qStreamAppend, qStreamAppendSql),
    Face("q_stream_dedup", qStreamDedup, qStreamDedupSql),
    Face("q_stream_user_stats", qStreamUserStats, qStreamUserStatsSql),
    Face("q_stream_ewma", qStreamEwma, qStreamEwmaSql),
    Face("q_stream_kmv", qStreamKmv, qStreamKmvSql),
    Face("q_stream_cms", qStreamCms, qStreamCmsSql),
    Face("q_stream_wsample", qStreamWsample, qStreamWsampleSql),
    Face("q_stream_topk", qStreamTopk, qStreamTopkSql),
    Face("q_stream_sessions", qStreamSessions, qStreamSessionsSql),
    Face("q_stream_join", qStreamJoin, qStreamJoinSql),
    Face("q_stream_left_join", qStreamLeftJoin, qStreamLeftJoinSql),
    Face("q_stream_enrich", qStreamEnrich, qStreamEnrichSql),
    Face("q_stream_drift", qStreamDrift, qEmbedDriftSql),
    Face("q_stream_chi_drift", qStreamChiDrift, qChiDriftSql),
    Face("q_stream_psi", qStreamPsi, qStreamPsiSql),
    Face("q_stream_quality", qStreamQuality, qStreamQualitySql),
    Face("q_window_panel", qWindowPanel, qWindowPanelSql),
    Face("q_observe_metrics", qObserveMetrics, qObserveMetricsSql),
    Face("q_percentile_cont", qPercentileCont, qPercentileContSql),
    Face("q_semi_anti", qSemiAnti, qSemiAntiSql),
    Face("q_running_total", qRunningTotal, qRunningTotalSql),
    Face("q_sql_surface", qSqlSurface, qSqlSurfaceSql),
    Face("q_recursive_spine", qRecursiveSpine, qRecursiveSpineSql),
    Face("q_pricing_summary", qPricingSummary, qPricingSummarySql),
    Face("q_salted_agg", qSaltedAgg, qSaltedAggSql),
    Face("q_asof_join", qAsofJoin, qAsofJoinSql),
    Face("q_nearest_join", qNearestJoin, qNearestJoinSql),
    Face("q_cube", qCube, qCubeSql),
    Face("q_grouping_sets", qGroupingSets, qGroupingSetsSql),
    Face("q_pivot", qPivot, qPivotSql),
    Face("q_corpus_pipeline", qCorpusPipeline, qCorpusPipelineSql),
    Face("q_prep_pipeline", qPrepPipeline, qPrepPipelineSql),
    Face("q_dedup_docs_exact", qDedupDocsExact, qDedupDocsExactSql),
    Face("q_dedup_minhash", qDedupMinhash, qDedupMinhashSql),
    Face("q_edit_verify", qEditVerify, qEditVerifySql),
    Face("q_dup_attribution", qDupAttribution, qDupAttributionSql),
    Face("q_minhash_calibration", qMinhashCalibration, qMinhashCalibrationSql),
    Face("q_incremental_dedup", qIncrementalDedup, qIncrementalDedupSql),
    Face("q_stream_crawl_dedup", qStreamCrawlDedup, qStreamCrawlDedupSql),
    Face("q_dedup_minhash_char", qDedupMinhashChar, qDedupMinhashCharSql),
    Face("q_jaccard_ngram", qJaccardNgram, qJaccardNgramSql),
    Face("q_substring_runs", qSubstringRuns, qSubstringRunsSql),
    Face("q_dup_coverage", qDupCoverage, qDupCoverageSql),
    Face("q_substring_survivors", qSubstringSurvivors, qSubstringSurvivorsSql),
    Face("q_span_removal", qSpanRemoval, qSpanRemovalSql),
    Face("q_incremental_substring", qIncrementalSubstring, qIncrementalSubstringSql),
    Face("q_jaccard_prefix", qJaccardPrefix, qJaccardPrefixSql),
    Face("q_hash_split", qHashSplit, qHashSplitSql),
    Face("q_content_split", qContentSplit, qContentSplitSql),
    Face("q_score_percentile", qScorePercentile, qScorePercentileSql),
    Face("q_mixture_sample", qMixtureSample, qMixtureSampleSql),
    Face("q_pii_redact", qPiiRedact, qPiiRedactSql),
    Face("q_cc_detect", qCcDetect, qCcDetectSql),
    Face("q_stratified_sample", qStratifiedSample, qStratifiedSampleSql),
    Face("q_dedup_simhash", qDedupSimhash, qDedupSimhashSql),
    Face("q_text_stats", qTextStats, qTextStatsSql),
    Face("q_lang_id", qLangId, qLangIdSql),
    Face("q_lang_id_profile", qLangIdProfile, qLangIdProfileSql),
    Face("q_token_count", qTokenCount, qTokenCountSql),
    Face("q_token_count_merges", qTokenCountMerges, qTokenCountMergesSql),
    Face("q_spearman", qSpearman, qSpearmanSql),
    Face("q_skew_kurtosis", qSkewKurtosis, qSkewKurtosisSql),
    Face("q_trimmed_mean", qTrimmedMean, qTrimmedMeanSql),
    Face("q_trimmed_mean_approx", qTrimmedMeanApprox, qTrimmedMeanApproxSql),
    Face("q_fingerprint", qFingerprint, qFingerprintSql),
    Face("q_cosine_topk", qCosineTopk, qCosineTopkSql),
    Face("q_hard_negatives", qHardNegatives, qHardNegativesSql),
    Face("q_contamination", qContamination, qContaminationSql),
    Face("q_containment", qContainmentPairs, qContainmentPairsSql),
    Face("q_quality_classifier", qQualityClassifier, qQualityClassifierSql),
    Face("q_quality_ensemble", qQualityEnsemble, qQualityEnsembleSql),
    Face("q_token_budget", qTokenBudget, qTokenBudgetSql),
    Face("q_ts_anomaly", qTsAnomaly, qTsAnomalySql),
    Face("q_cdc_apply", qCdcApply, qCdcApplySql),
    Face("q_temperature_mix", qTemperatureMix, qTemperatureMixSql),
    Face("q_shard_plan", qShardPlan, qShardPlanSql),
    Face("q_resample_ffill", qResampleFfill, qResampleFfillSql),
    Face("q_curate_pipeline", qCuratePipeline, qCuratePipelineSql),
    Face("q_interpolate", qInterpolate, qInterpolateSql),
    Face("q_unpivot", qUnpivot, qUnpivotSql),
    Face("q_quantize", qQuantize, qQuantizeSql),
    Face("q_pq_codes", qPqCodes, qPqCodesSql),
    Face("q_ann_pq", qAnnPq, qAnnPqSql),
    Face("q_ann_ivfpq", qAnnIvfPq, qAnnIvfPqSql),
    Face("q_ann_ivfpq_rerank", qAnnIvfPqRerank, qAnnIvfPqRerankSql),
    Face("q_ivf_append", qIvfAppend, qIvfAppendSql),
    Face("q_ann_ivfpq_residual", qAnnIvfPqResidual, qAnnIvfPqResidualSql),
    Face("q_embed_neardup", qEmbedNearDup, qEmbedNearDupSql),
    Face("q_random_proj", qRandomProj, qRandomProjSql),
    Face("q_semantic_dedup", qSemanticDedup, qSemanticDedupSql),
    Face("q_ann_lsh", qAnnLsh, qAnnLshSql),
    Face("q_ann_lsh_multiprobe", qAnnLshMultiprobe, qAnnLshMultiprobeSql),
    // chunking invariance IS the contract: the streaming face's oracle
    // is the batch multiprobe SQL verbatim
    Face("q_stream_ann", qStreamAnn, qAnnLshMultiprobeSql),
    Face("q_ann_ivf", qAnnIvf, qAnnIvfSql),
    Face("q_ann_ivf_auto", qAnnIvfAuto, qAnnIvfAutoSql),
    Face("q_kmeans_sampled", qKmeansSampled, qKmeansSampledSql),
    Face("q_ann_binary", qAnnBinary, qAnnBinarySql),
    Face("q_ann_binary_asym", qAnnBinaryAsym, qAnnBinaryAsymSql),
    Face("q_mmr_rerank", qMmrRerank, qMmrRerankSql),
    Face("q_matryoshka", qMatryoshka, qMatryoshkaSql),
    Face("q_kmeans_fit", qKmeansFit, qKmeansFitSql),
    Face("q_pca_project", qPcaProject, qPcaProjectSql),
    Face("q_cluster_sample", qClusterSample, qClusterSampleSql),
    Face("q_knn_graph", qKnnGraph, qKnnGraphSql),
    Face("q_ann_graph", qAnnGraph, qAnnGraphSql),
    Face("q_ann_graph_adaptive", qAnnGraphAdaptive, qAnnGraphAdaptiveSql),
    Face("q_kcenter", qKcenter, qKcenterSql),
    Face("q_embed_drift", qEmbedDrift, qEmbedDriftSql),
    Face("q_embed_outliers", qEmbedOutliers, qEmbedOutliersSql),
    Face("q_multimodal", qMultimodal, qMultimodalSql),
    Face("q_media_energy", qMediaEnergy, qMediaEnergySql),
    Face("q_image_decode", qImageDecode, qImageDecodeSql),
    Face("q_jpeg_decode", qJpegDecode, qJpegDecodeSql),
    Face("q_audio_decode", qAudioDecode, qAudioDecodeSql),
    Face("q_video_decode", qVideoDecode, qVideoDecodeSql),
    Face("q_shot_detect", qShotDetect, qShotDetectSql),
    Face("q_shot_keyframes", qShotKeyframes, qShotKeyframesSql),
    Face("q_gif_frame_dedup", qGifFrameDedup, qGifFrameDedupSql),
    Face("q_image_resize", qImageResize, qImageResizeSql),
    Face("q_image_phash", qImagePhash, qImagePhashSql),
    Face("q_crossmodal_retrieval", qCrossmodalRetrieval, qCrossmodalRetrievalSql),
    Face("q_hybrid_rrf", qHybridRrf, qHybridRrfSql),
    Face("q_rater_agreement", qRaterAgreement, qRaterAgreementSql),
    Face("q_calibration", qCalibration, qCalibrationSql),
    Face("q_fim_split", qFimSplit, qFimSplitSql),
    Face("q_span_corrupt", qSpanCorrupt, qSpanCorruptSql),
    Face("q_audio_resample", qAudioResample, qAudioResampleSql),
    Face("q_audio_fingerprint", qAudioFingerprint, qAudioFingerprintSql),
    Face("q_audio_neardup", qAudioNeardup, qAudioNeardupSql),
    Face("q_frame_dedup", qFrameDedup, qFrameDedupSql),
    Face("q_json_extract", qJsonExtract, qJsonExtractSql),
    Face("q_variant_json", qVariantJson, qVariantJsonSql),
    Face("q_agg_pushdown", qAggPushdown, qAggPushdownSql),
    Face("q_try_cast", qTryCast, qTryCastSql),
    Face("q_listagg", qListagg, qListaggSql),
    Face("q_event_window", qEventWindow, qEventWindowSql),
    Face("q_sessionize", qSessionize, qSessionizeSql),
    Face("q_star_join", qStarJoin, qStarJoinSql),
    Face("q_topk_per_group", qTopkPerGroup, qTopkPerGroupSql),
    Face("q_rollup", qRollup, qRollupSql),
    Face("q_set_ops", qSetOps, qSetOpsSql),
    Face("q_set_ops_all", qSetOpsAll, qSetOpsAllSql),
    Face("q_lateral", qLateral, qLateralSql))
}
