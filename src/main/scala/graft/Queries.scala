package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.clean.CleaningAction
import graft.io.Sources
import graft.model.Mission
import graft.profile.Profiler
import graft.score.Quality

/** The driver-facing query suite: every operator from SURVEY §2 exercised
  * on the driver's parquet fixtures, each with a DuckDB-equivalent oracle
  * SQL (see `oracle`).
  *
  * The fixtures are defect-free, so cleaning queries first inject defects
  * DETERMINISTICALLY (key-modulo rules) — the exact same injection is
  * written into the oracle SQL, so Spark and DuckDB clean the same dirt.
  *
  * Cross-engine float discipline (applies to every oracle pair):
  *   - money sums go through `cast(x as decimal(18,2))` — decimal addition
  *     is exact and order-independent, then one final cast to double;
  *   - means are sum(decimal)/count, never engine `avg` (summation order);
  *   - medians/quantiles only on value grids where linear interpolation is
  *     exact (integers, 2-dp prices rounded to a 4-dp output grid);
  *   - timestamps are rendered to strings before comparison.
  */
object Queries {

  private def li(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "lineitem")
  private def orders(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "orders")

  /** Non-padded d/M/yyyy rendering ("1/2/2024") built arithmetically so
    * both engines produce byte-identical strings (DuckDB strftime has no
    * portable no-pad modifier). */
  private def nonPaddedDmy(ts: Column): Column =
    concat(dayofmonth(ts).cast("string"), lit("/"),
      month(ts).cast("string"), lit("/"), year(ts).cast("string"))
  private def nonPaddedDmySql(c: String): String =
    s"day($c) || '/' || month($c) || '/' || year($c)"

  /** Deterministic dirt over lineitem: nulls in qty/flag on orderkey%7,
    * 50x price outliers on orderkey%997, mixed-format date strings on
    * orderkey%3 — one third ISO, one third d/M/yyyy (half of those
    * NON-padded, the pandas-parity case VERDICT r2 flagged), one third
    * unparseable. */
  private def dirty(s: SparkSession, dir: String): DataFrame = {
    val l = li(s, dir)
    l.select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 7 === 0, lit(null))
        .otherwise(col("l_quantity")).as("qty"),
      when(col("l_orderkey") % 997 === 0, col("l_extendedprice") * 50)
        .otherwise(col("l_extendedprice")).as("price"),
      when(col("l_orderkey") % 7 === 0, lit(null))
        .otherwise(col("l_returnflag")).as("flag"),
      when(col("l_orderkey") % 3 === 0, date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .when(col("l_orderkey") % 3 === 1,
          when(col("l_orderkey") % 2 === 0, date_format(col("l_shipdate"), "dd/MM/yyyy"))
            .otherwise(nonPaddedDmy(col("l_shipdate"))))
        .otherwise(concat(lit("bad-"), date_format(col("l_shipdate"), "yyyy-MM-dd")))
        .as("ship_str"))
  }

  /** The same dirt in DuckDB SQL, shared by the oracle strings. */
  private val dirtySql: String =
    s"""dirty AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS qty,
      |    CASE WHEN l_orderkey % 997 = 0 THEN l_extendedprice * 50 ELSE l_extendedprice END AS price,
      |    CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_returnflag END AS flag,
      |    CASE l_orderkey % 3
      |      WHEN 0 THEN strftime(l_shipdate, '%Y-%m-%d')
      |      WHEN 1 THEN CASE WHEN l_orderkey % 2 = 0
      |        THEN strftime(l_shipdate, '%d/%m/%Y')
      |        ELSE ${nonPaddedDmySql("l_shipdate")} END
      |      ELSE 'bad-' || strftime(l_shipdate, '%Y-%m-%d') END AS ship_str
      |  FROM lineitem)""".stripMargin

  /** DuckDB mirror of Profiler.lenientParseDate's format whitelist. */
  private def parseSql(c: String): String =
    Seq("%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y", "%Y/%m/%d", "%d-%m-%Y", "%Y%m%d",
        "%Y-%m-%d %H:%M:%S")
      .map(f => s"try_strptime($c, '$f')").mkString("coalesce(", ", ", ")")

  /** Exact order-independent money sum, rendered as double (see scaladoc). */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")
  private def moneySumSql(c: String): String =
    s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  private val zMask: Column = {
    val z = abs((col("price") - col("__m")) / col("__s"))
    col("__s") > 0 && z > lit(3.0)
  }
  private def withPriceStats(d: DataFrame): DataFrame = {
    val st = d.agg(avg(col("price")).as("__m"), stddev_pop(col("price")).as("__s"))
    d.crossJoin(broadcast(st))
  }
  private val statsSql =
    "st AS (SELECT avg(price) pm, stddev_pop(price) ps FROM dirty)"
  private val zMaskSql = "(ps > 0 AND abs((price - pm) / ps) > 3.0)"

  // ------------------------------------------------------------------
  // P1 — column profiler
  // ------------------------------------------------------------------
  private def qProfile(s: SparkSession, dir: String): DataFrame = {
    val profs = Profiler.profile(dirty(s, dir)
      .select("qty", "price", "flag", "ship_str"), exact = true,
      sampleRows = 0) // counts only; the oracle has no sample columns
    s.createDataFrame(profs.map(p => (p.column, p.nNull, p.nDistinct)))
      .toDF("column_name", "n_null", "n_distinct")
  }

  /** q_profile's HLL-sketch twin — NOT in the registry (no SQL oracle
    * can mirror Spark's HLL++). tools.ScaleBench times it as its one
    * probe-only face, the measured evidence that the approx path's slope
    * stays ~volume while exact q_profile tracks distinct growth (11.8x
    * at 10x in the r8 run, SCALE.md). Same frame, same columns,
    * exact = false. */
  private[graft] def qProfileApprox(s: SparkSession, dir: String): DataFrame = {
    val profs = Profiler.profile(dirty(s, dir)
      .select("qty", "price", "flag", "ship_str"), exact = false,
      sampleRows = 0)
    s.createDataFrame(profs.map(p => (p.column, p.nNull, p.nDistinct, p.exact)))
      .toDF("column_name", "n_null", "n_distinct_approx", "is_exact")
  }
  private val qProfileSql =
    s"""WITH $dirtySql
       |SELECT 'qty' AS column_name, count(*) - count(qty) AS n_null, count(DISTINCT qty) AS n_distinct FROM dirty
       |UNION ALL SELECT 'price', count(*) - count(price), count(DISTINCT price) FROM dirty
       |UNION ALL SELECT 'flag', count(*) - count(flag), count(DISTINCT flag) FROM dirty
       |UNION ALL SELECT 'ship_str', count(*) - count(ship_str), count(DISTINCT ship_str) FROM dirty""".stripMargin

  // ------------------------------------------------------------------
  // P6 — mission generator (flagship; composes P2+P4+P5+null detection)
  // ------------------------------------------------------------------
  private[graft] def qMissions(s: SparkSession, dir: String): DataFrame = {
    val ms = Profiler.detectMissions(dirty(s, dir))
    val rows = ms.map {
      case Mission.Outlier(c, n)   => ("outlier", c, n)
      case Mission.Nulls(c, n)     => ("null", c, n)
      case Mission.Duplicates(n)   => ("duplicate", null: String, n)
      case Mission.DateMixed(c, n) => ("date_mixed", c, n)
    }
    s.createDataFrame(rows).toDF("mission_type", "column_name", "cnt")
  }
  private val qMissionsSql =
    s"""WITH $dirtySql,
       |st2 AS (SELECT avg(l_orderkey) om, stddev_pop(l_orderkey) os,
       |               avg(l_linenumber) lm, stddev_pop(l_linenumber) ls,
       |               avg(qty) qm, stddev_pop(qty) qs,
       |               avg(price) pm, stddev_pop(price) ps FROM dirty),
       |par AS (SELECT
       |  count(CASE WHEN ${parseSql("flag")} IS NOT NULL THEN 1 END) fp,
       |  count(CASE WHEN ${parseSql("ship_str")} IS NOT NULL THEN 1 END) sp,
       |  count(*) tot FROM dirty),
       |m AS (
       |  SELECT 'outlier' AS mission_type, 'l_orderkey' AS column_name,
       |    (SELECT count(*) FROM dirty, st2 WHERE os > 0 AND abs((l_orderkey - om) / os) > 3.0) AS cnt
       |  UNION ALL SELECT 'outlier', 'l_linenumber',
       |    (SELECT count(*) FROM dirty, st2 WHERE ls > 0 AND abs((l_linenumber - lm) / ls) > 3.0)
       |  UNION ALL SELECT 'outlier', 'qty',
       |    (SELECT count(*) FROM dirty, st2 WHERE qs > 0 AND abs((qty - qm) / qs) > 3.0)
       |  UNION ALL SELECT 'outlier', 'price',
       |    (SELECT count(*) FROM dirty, st2 WHERE ps > 0 AND abs((price - pm) / ps) > 3.0)
       |  UNION ALL SELECT 'null', 'qty', (SELECT count(*) - count(qty) FROM dirty)
       |  UNION ALL SELECT 'null', 'flag', (SELECT count(*) - count(flag) FROM dirty)
       |  UNION ALL SELECT 'duplicate', NULL,
       |    (SELECT count(*) FROM dirty) - (SELECT count(*) FROM (SELECT DISTINCT * FROM dirty))
       |  UNION ALL SELECT 'date_mixed', 'flag',
       |    (SELECT CASE WHEN fp > 0 AND fp < tot THEN tot - fp ELSE 0 END FROM par)
       |  UNION ALL SELECT 'date_mixed', 'ship_str',
       |    (SELECT CASE WHEN sp > 0 AND sp < tot THEN tot - sp ELSE 0 END FROM par))
       |SELECT mission_type, column_name, CAST(cnt AS BIGINT) AS cnt FROM m WHERE cnt > 0""".stripMargin

  // ------------------------------------------------------------------
  // P2 — duplicate counting (single shuffle)
  // ------------------------------------------------------------------
  private def qDupCount(s: SparkSession, dir: String): DataFrame =
    li(s, dir).groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_distinct_rows"),
        sum(col("c") - 1).as("n_dup_rows"))
  private val qDupCountSql =
    """WITH g AS (SELECT l_returnflag, l_linestatus, count(*) AS c FROM lineitem GROUP BY 1, 2)
      |SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_distinct_rows,
      |       CAST(sum(c - 1) AS BIGINT) AS n_dup_rows FROM g""".stripMargin

  // ------------------------------------------------------------------
  // P4/T1-T4 — z-score outliers
  // ------------------------------------------------------------------
  private def qOutlierDetect(s: SparkSession, dir: String): DataFrame =
    withPriceStats(dirty(s, dir)).filter(zMask)
      .select(col("l_orderkey"), col("l_linenumber"), col("price"))
  private val qOutlierDetectSql =
    s"""WITH $dirtySql, $statsSql
       |SELECT l_orderkey, l_linenumber, price FROM dirty, st WHERE $zMaskSql""".stripMargin

  private def qOutlierRemove(s: SparkSession, dir: String): DataFrame =
    // routed through the shipped CleaningAction so a regression in T1
    // itself (not just the inline mask) fails the oracle
    CleaningAction.OutlierRemove("price")(dirty(s, dir))
      .agg(count(lit(1)).as("n_rows"), moneySum(col("price")).as("sum_price"))
  private val qOutlierRemoveSql =
    s"""WITH $dirtySql, $statsSql
       |SELECT count(*) AS n_rows, ${moneySumSql("price")} AS sum_price
       |FROM dirty, st WHERE NOT coalesce($zMaskSql, false)""".stripMargin

  /** T2: median over NON-outlier rows only (app.py:256). qty/price grids
    * make interpolation exact; output median on a 4-dp grid. */
  private def qOutlierReplaceMedian(s: SparkSession, dir: String): DataFrame = {
    val d = withPriceStats(dirty(s, dir))
    val keep = d.filter(!coalesce(zMask, lit(false)))
    // grouped-frequency exact median (r16): same value, codegen'd pass
    val med = Profiler.exactPercentiles(keep, "price", Seq(0.5)).head.get
    d.agg(
      count(when(zMask, 1)).as("n_replaced"),
      round(lit(med), 4).as("median_value"),
      // round to cents BEFORE the decimal cast: round() uses
      // shortest-decimal-repr rounding in BOTH engines, while a direct
      // double->decimal cast diverges on .xx5 medians (Spark expands the
      // exact binary, DuckDB the shortest repr)
      moneySum(round(when(zMask, lit(med)).otherwise(col("price")), 2))
        .as("sum_after"))
  }
  private val qOutlierReplaceMedianSql =
    s"""WITH $dirtySql, $statsSql,
       |med AS (SELECT median(price) v FROM dirty, st WHERE NOT coalesce($zMaskSql, false))
       |SELECT count(CASE WHEN $zMaskSql THEN 1 END) AS n_replaced,
       |       round((SELECT v FROM med), 4) AS median_value,
       |       ${moneySumSql(s"round(CASE WHEN $zMaskSql THEN (SELECT v FROM med) ELSE price END, 2)")} AS sum_after
       |FROM dirty, st""".stripMargin

  /** T3: mean over non-outlier rows — computed as exact decimal sum / count
    * in BOTH engines (identical double), never engine avg. */
  private def qOutlierReplaceMean(s: SparkSession, dir: String): DataFrame = {
    val d = withPriceStats(dirty(s, dir))
    val keep = d.filter(!coalesce(zMask, lit(false)))
    val r = keep.agg(moneySum(col("price")).as("s"), count(lit(1)).as("n")).head()
    val mean = r.getDouble(0) / r.getLong(1)
    d.agg(
      count(when(zMask, 1)).as("n_replaced"),
      round(lit(mean), 4).as("mean_value"),
      // see qOutlierReplaceMedian: round-to-cents before the cast
      moneySum(round(when(zMask, lit(mean)).otherwise(col("price")), 2))
        .as("sum_after"))
  }
  private val qOutlierReplaceMeanSql =
    s"""WITH $dirtySql, $statsSql,
       |mn AS (SELECT ${moneySumSql("price")} / count(*) v FROM dirty, st WHERE NOT coalesce($zMaskSql, false))
       |SELECT count(CASE WHEN $zMaskSql THEN 1 END) AS n_replaced,
       |       round((SELECT v FROM mn), 4) AS mean_value,
       |       ${moneySumSql(s"round(CASE WHEN $zMaskSql THEN (SELECT v FROM mn) ELSE price END, 2)")} AS sum_after
       |FROM dirty, st""".stripMargin

  /** T4: clip to [q01, q99] — quantiles over ALL rows (app.py:268-269),
    * clipped values re-rounded to cents before the exact sum. */
  private def qOutlierClip(s: SparkSession, dir: String): DataFrame = {
    // ONE percentile aggregation shared between reporting and the
    // shipped T4 clip path (ClipBounds is what OutlierClip applies);
    // the pre-clip values ride along so the final agg is a single job
    val d = dirty(s, dir).withColumn("price_orig", col("price"))
    val (lo, hi) = CleaningAction.OutlierClip("price").bounds(d)
    CleaningAction.ClipBounds("price", lo, hi)(d).agg(
      count(when(col("price_orig") < lo || col("price_orig") > hi, 1))
        .as("n_clipped"),
      round(lit(lo), 4).as("q01"), round(lit(hi), 4).as("q99"),
      moneySum(round(col("price"), 2)).as("sum_clipped"))
  }
  private val qOutlierClipSql =
    s"""WITH $dirtySql,
       |q AS (SELECT quantile_cont(price, 0.01) lo, quantile_cont(price, 0.99) hi FROM dirty)
       |SELECT count(CASE WHEN price < lo OR price > hi THEN 1 END) AS n_clipped,
       |       round(any_value(lo), 4) AS q01, round(any_value(hi), 4) AS q99,
       |       ${moneySumSql("round(greatest(least(price, hi), lo), 2)")} AS sum_clipped
       |FROM dirty, q""".stripMargin

  /** IQR robust outlier detection (the reference's own roadmap item,
    * app.py:397). */
  private def qOutlierIqr(s: SparkSession, dir: String): DataFrame = {
    val d = dirty(s, dir)
    val m = Profiler.iqrModel(d, "price")
    d.agg(
      count(when(m.mask, 1)).as("n_outliers"),
      round(lit(m.lo), 4).as("fence_lo"), round(lit(m.hi), 4).as("fence_hi"),
      moneySum(when(!m.mask, col("price"))).as("sum_inliers"))
  }
  private val qOutlierIqrSql =
    s"""WITH $dirtySql,
       |q AS (SELECT quantile_cont(price, 0.25) q1, quantile_cont(price, 0.75) q3 FROM dirty),
       |f AS (SELECT q1 - 1.5 * (q3 - q1) lo, q3 + 1.5 * (q3 - q1) hi FROM q)
       |SELECT count(CASE WHEN price < lo OR price > hi THEN 1 END) AS n_outliers,
       |       round(any_value(lo), 4) AS fence_lo, round(any_value(hi), 4) AS fence_hi,
       |       ${moneySumSql("CASE WHEN NOT (price < lo OR price > hi) THEN price END")} AS sum_inliers
       |FROM dirty, f""".stripMargin

  // ------------------------------------------------------------------
  // T5-T8 — null handling
  // ------------------------------------------------------------------
  private def qNullDrop(s: SparkSession, dir: String): DataFrame =
    CleaningAction.NullDrop("qty")(dirty(s, dir))
      .agg(count(lit(1)).as("n_rows"), moneySum(col("qty")).as("sum_qty"))
  private val qNullDropSql =
    s"""WITH $dirtySql
       |SELECT count(*) AS n_rows, ${moneySumSql("qty")} AS sum_qty
       |FROM dirty WHERE qty IS NOT NULL""".stripMargin

  private def qImputeMedian(s: SparkSession, dir: String): DataFrame = {
    val d = dirty(s, dir).withColumn("qty_orig", col("qty"))
    // the action fills qty in place; qty_orig rides along so pre-fill
    // null count and post-fill stats come from ONE aggregate
    val filled = CleaningAction.NullImputeMedian("qty")(d)
    filled.agg(
      count(when(col("qty_orig").isNull, 1)).as("n_filled"),
      count(when(col("qty").isNull, 1)).as("nulls_after"),
      moneySum(col("qty")).as("sum_qty"))
  }
  private val qImputeMedianSql =
    s"""WITH $dirtySql, med AS (SELECT median(qty) v FROM dirty)
       |SELECT (SELECT count(*) - count(qty) FROM dirty) AS n_filled,
       |       count(CASE WHEN coalesce(qty, (SELECT v FROM med)) IS NULL THEN 1 END) AS nulls_after,
       |       ${moneySumSql("coalesce(qty, (SELECT v FROM med))")} AS sum_qty
       |FROM dirty""".stripMargin

  private def qImputeMode(s: SparkSession, dir: String): DataFrame =
    CleaningAction.NullImputeMode("flag")(dirty(s, dir))
      .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))
  private val qImputeModeSql =
    s"""WITH $dirtySql,
       |m AS (SELECT flag FROM dirty WHERE flag IS NOT NULL
       |      GROUP BY flag ORDER BY count(*) DESC, flag ASC LIMIT 1)
       |SELECT coalesce(d.flag, (SELECT flag FROM m)) AS flag, count(*) AS cnt
       |FROM dirty d GROUP BY 1""".stripMargin

  private def qFillConstant(s: SparkSession, dir: String): DataFrame =
    CleaningAction.NullFillConstant("flag")(dirty(s, dir))
      .groupBy(col("flag")).agg(count(lit(1)).as("cnt"))
  private val qFillConstantSql =
    s"""WITH $dirtySql
       |SELECT coalesce(flag, 'Unknown') AS flag, count(*) AS cnt
       |FROM dirty GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // Feature scaling (post-cleaning model prep; see Cleaning scaladoc
  // for the exact-arithmetic determinism argument)
  // ------------------------------------------------------------------
  private def qScaleMinmax(s: SparkSession, dir: String): DataFrame =
    CleaningAction.ScaleMinMax("qty")(dirty(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
        col("qty_scaled"))
  private val qScaleMinmaxSql =
    s"""WITH $dirtySql,
       |st AS (SELECT CAST(min(qty) AS DOUBLE) mn, CAST(max(qty) AS DOUBLE) mx
       |  FROM dirty)
       |SELECT l_orderkey, l_linenumber, qty,
       |  CASE WHEN mx > mn THEN (qty - mn) / (mx - mn)
       |       WHEN qty IS NOT NULL THEN 0.0 END qty_scaled
       |FROM dirty, st""".stripMargin

  private def qScaleZscore(s: SparkSession, dir: String): DataFrame =
    CleaningAction.ScaleZScore("price")(dirty(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("price"),
        col("price_scaled"))
  private val qScaleZscoreSql =
    s"""WITH $dirtySql,
       |st AS (SELECT CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) s,
       |    CAST(sum(CAST(price * price AS DECIMAL(38,4))) AS DOUBLE) s2,
       |    CAST(count(price) AS BIGINT) n FROM dirty),
       |d AS (SELECT *, s / n m FROM st),
       |e AS (SELECT *, sqrt(s2 / n - m * m) sd FROM d)
       |SELECT l_orderkey, l_linenumber, price,
       |  CASE WHEN sd > 0 THEN round((price - m) / sd, 8)
       |       WHEN price IS NOT NULL THEN 0.0 END price_scaled
       |FROM dirty, e""".stripMargin

  /** Robust scaler on the dirtied qty column — integer base grid plus
    * injected outliers, so the quartiles interpolate on quarter
    * fractions (dyadic → bit-identical literals in both engines) and
    * the outliers that would wreck a z-score barely move them. */
  private def qScaleRobust(s: SparkSession, dir: String): DataFrame =
    CleaningAction.ScaleRobust("qty")(dirty(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
        col("qty_scaled"))
  private val qScaleRobustSql =
    s"""WITH $dirtySql,
       |st AS (SELECT quantile_cont(qty, [0.25, 0.5, 0.75]) q FROM dirty),
       |p AS (SELECT q[1] q1, q[2] med, q[3] q3 FROM st)
       |SELECT l_orderkey, l_linenumber, qty,
       |  CASE WHEN q3 > q1 THEN (qty - med) / (q3 - q1)
       |       WHEN qty IS NOT NULL THEN 0.0 END qty_scaled
       |FROM dirty, p""".stripMargin

  // ------------------------------------------------------------------
  // T9 — deterministic keep-first dedup
  // ------------------------------------------------------------------
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    // (l_orderkey, l_linenumber) is not unique in the synthetic fixture —
    // the order columns must form a total order within each group for a
    // deterministic keep-first
    // l_quantity completes the total order: the fixture has rows agreeing
    // on (orderkey, linenumber, partkey, suppkey) but differing in
    // quantity — without it the rank-1 pick is tie-nondeterministic
    CleaningAction.DropDuplicates(subset = Seq("l_orderkey"),
      orderColumns = Seq("l_linenumber", "l_partkey", "l_suppkey", "l_quantity"))(li(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  private val qDedupExactSql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM (
      |  SELECT l_orderkey, l_linenumber, l_quantity,
      |         row_number() OVER (PARTITION BY l_orderkey
      |           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) rn
      |  FROM lineitem) WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------------
  // T10-T12 — date normalization (on orders-derived mixed strings)
  // ------------------------------------------------------------------
  private def mixedDates(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(col("o_orderkey") % 3 === 1,
          when(col("o_orderkey") % 2 === 0, date_format(col("o_orderdate"), "dd/MM/yyyy"))
            .otherwise(nonPaddedDmy(col("o_orderdate"))))
        .otherwise(concat(lit("bad-"), date_format(col("o_orderdate"), "yyyy-MM-dd")))
        .as("ds"))
  private val mixedDatesSql =
    s"""mixed AS (
      |  SELECT o_orderkey,
      |    CASE o_orderkey % 3
      |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
      |      WHEN 1 THEN CASE WHEN o_orderkey % 2 = 0
      |        THEN strftime(o_orderdate, '%d/%m/%Y')
      |        ELSE ${nonPaddedDmySql("o_orderdate")} END
      |      ELSE 'bad-' || strftime(o_orderdate, '%Y-%m-%d') END AS ds
      |  FROM orders)""".stripMargin

  private def qDateAuto(s: SparkSession, dir: String): DataFrame =
    CleaningAction.DateAutoParse("ds")(mixedDates(s, dir))
      .withColumnRenamed("ds", "parsed")
  private val qDateAutoSql =
    s"""WITH $mixedDatesSql
       |SELECT o_orderkey, strftime(${parseSql("ds")}, '%Y-%m-%d') AS parsed FROM mixed""".stripMargin

  private def qDateForceDmy(s: SparkSession, dir: String): DataFrame =
    CleaningAction.DateForceFormat.ddMMyyyy("ds")(mixedDates(s, dir))
      .withColumnRenamed("ds", "parsed")
  private val qDateForceDmySql =
    s"""WITH $mixedDatesSql
       |SELECT o_orderkey, strftime(try_strptime(ds, '%d/%m/%Y'), '%Y-%m-%d') AS parsed FROM mixed""".stripMargin

  private def qDateForceYmd(s: SparkSession, dir: String): DataFrame =
    CleaningAction.DateForceFormat.yyyyMMdd("ds")(mixedDates(s, dir))
      .withColumnRenamed("ds", "parsed")
  private val qDateForceYmdSql =
    s"""WITH $mixedDatesSql
       |SELECT o_orderkey, strftime(try_strptime(ds, '%Y-%m-%d'), '%Y-%m-%d') AS parsed FROM mixed""".stripMargin

  // ------------------------------------------------------------------
  // P5 — date-likeness ratios
  // ------------------------------------------------------------------
  private def qDateLike(s: SparkSession, dir: String): DataFrame = {
    val d = dirty(s, dir)
    val r = d.agg(
      avg(when(Profiler.lenientParseDate(col("ship_str")).isNotNull, 1.0)
        .otherwise(0.0)).as("rs"),
      avg(when(Profiler.lenientParseDate(col("flag")).isNotNull, 1.0)
        .otherwise(0.0)).as("rf")).head()
    s.createDataFrame(Seq(("ship_str", r.getDouble(0)), ("flag", r.getDouble(1))))
      .toDF("column_name", "parse_ratio")
  }
  private val qDateLikeSql =
    s"""WITH $dirtySql
       |SELECT 'ship_str' AS column_name,
       |  CAST(count(CASE WHEN ${parseSql("ship_str")} IS NOT NULL THEN 1 END) AS DOUBLE) / count(*) AS parse_ratio
       |FROM dirty
       |UNION ALL SELECT 'flag',
       |  CAST(count(CASE WHEN ${parseSql("flag")} IS NOT NULL THEN 1 END) AS DOUBLE) / count(*)
       |FROM dirty""".stripMargin

  // ------------------------------------------------------------------
  // Q1/Q2 — quality score + insights; Q3 — deterministic head
  // ------------------------------------------------------------------
  private def cleanedProjection(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val before = dirty(s, dir).select(col("flag"), col("qty"))
    val after = Seq(
      CleaningAction.NullFillConstant("flag"),
      CleaningAction.NullImputeMedian("qty"),
      CleaningAction.DropDuplicates(deterministic = false))
      .foldLeft(before)((df, a) => a(df))
    (before, after)
  }

  private def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val (before, after) = cleanedProjection(s, dir)
    val b = Quality.stats(before)
    val a = Quality.stats(after)
    val score = Quality.score(b, a)
    s.createDataFrame(Seq(
      (b.totalNulls, a.totalNulls, b.duplicateRows, a.duplicateRows, score)))
      .toDF("nulls_before", "nulls_after", "dups_before", "dups_after", "score")
  }
  private val qQualityScoreSql =
    s"""WITH $dirtySql, med AS (SELECT median(qty) v FROM dirty),
       |b AS (SELECT flag, qty FROM dirty),
       |a AS (SELECT DISTINCT coalesce(flag, 'Unknown') flag, coalesce(qty, (SELECT v FROM med)) qty FROM dirty),
       |nb AS (SELECT (SELECT count(*) - count(flag) FROM b) + (SELECT count(*) - count(qty) FROM b) v),
       |db AS (SELECT (SELECT count(*) FROM b) - (SELECT count(*) FROM (SELECT DISTINCT * FROM b)) v),
       |na AS (SELECT (SELECT count(*) - count(flag) FROM a) + (SELECT count(*) - count(qty) FROM a) v),
       |da AS (SELECT (SELECT count(*) FROM a) - (SELECT count(*) FROM (SELECT DISTINCT * FROM a)) v)
       |SELECT CAST(nb.v AS BIGINT) AS nulls_before, CAST(na.v AS BIGINT) AS nulls_after,
       |       CAST(db.v AS BIGINT) AS dups_before, CAST(da.v AS BIGINT) AS dups_after,
       |       round(least(100.0, greatest(0.0,
       |         50.0 + 0.5 * greatest(0, nb.v - na.v) + 1.0 * greatest(0, db.v - da.v))), 2) AS score
       |FROM nb, na, db, da""".stripMargin

  private def qInsights(s: SparkSession, dir: String): DataFrame = {
    val (before, after) = cleanedProjection(s, dir)
    val ins = Quality.insights(before, after)
    s.createDataFrame(Seq((ins.rowsBefore, ins.rowsAfter, ins.nullsAfter)))
      .toDF("rows_before", "rows_after", "nulls_after")
  }
  private val qInsightsSql =
    s"""WITH $dirtySql, med AS (SELECT median(qty) v FROM dirty),
       |a AS (SELECT DISTINCT coalesce(flag, 'Unknown') flag, coalesce(qty, (SELECT v FROM med)) qty FROM dirty)
       |SELECT (SELECT count(*) FROM dirty) AS rows_before,
       |       (SELECT count(*) FROM a) AS rows_after,
       |       CAST(0 AS BIGINT) AS nulls_after""".stripMargin

  /** S2/K-xlsx under the oracle gate (VERDICT r2 gap: the 480-line
    * dependency-free xlsx reader was spec-only because the harness
    * compares parquet-backed queries). Round-trips a deterministic
    * orders subset through `Xlsx.write -> Xlsx.read` — shared strings,
    * nulls, date-styled serials, type re-inference — then aggregates;
    * the oracle computes the same aggregate straight off the parquet, so
    * any loss or corruption in the xlsx layer breaks the hash. */
  /** Per-fixture temp output for the source/sink round-trip faces: one
    * namespace per face, one leaf per CALL (pid + counter suffix). The
    * leaf must be call-unique, not just fixture-unique: Bench and Verify
    * can run concurrently against the same sfDir, and a shared leaf lets
    * one process read back another's half-written output (r3's
    * q_csv_roundtrip/q_partition_prune hash mismatches). Every face
    * writes before it reads within one call, so nothing relies on path
    * reuse across calls; leaves are tiny filtered subsets. */
  private val tmpPid = ProcessHandle.current().pid()
  private val tmpSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def tmpOut(face: String, dir: String): String = {
    val leaf = java.lang.Integer.toHexString(dir.hashCode) +
      s"_p${tmpPid}_c${tmpSeq.incrementAndGet()}"
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${face}_oracle", leaf)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  private def qXlsxRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = orders(s, dir).filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        when(col("o_orderkey") % 3 === 0, lit(null))
          .otherwise(col("o_orderpriority")).as("prio"))
    val path = tmpOut("xlsx", dir) + ".xlsx"
    graft.io.Xlsx.writeSingleSheet(src, path)
    val back = graft.io.Xlsx.read(s, path)
    back.agg(
      count(lit(1)).as("n_rows"),
      moneySum(col("o_totalprice")).as("sum_price"),
      count(when(col("prio").isNull, 1)).as("n_null_prio"),
      countDistinct(col("prio")).as("n_prio"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))
  }
  private val qXlsxRoundtripSql =
    """WITH x AS (SELECT o_orderkey, o_orderdate, o_totalprice,
      |    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END prio
      |  FROM orders WHERE o_orderkey % 100 = 0)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(CASE WHEN prio IS NULL THEN 1 END) AS n_null_prio,
      |  count(DISTINCT prio) AS n_prio,
      |  strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
      |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
      |FROM x""".stripMargin

  /** S1/K1 under the oracle gate, like [[qXlsxRoundtrip]]: a lineitem
    * subset goes parquet -> CSV sink -> CSV scan with schema INFERENCE
    * -> aggregate; the oracle aggregates the parquet directly. Exercises
    * header round-trip, type re-inference (bigint/double/timestamp),
    * null <-> empty-field mapping, and double text round-tripping (Spark
    * writes shortest-repr, which re-parses to the identical IEEE value,
    * so the decimal sums hash-match). */
  private def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = li(s, dir).filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("l_shipdate"),
        when(col("l_orderkey") % 3 === 0, lit(null))
          .otherwise(col("l_returnflag")).as("flag"))
    val outDir = tmpOut("csv", dir)
    graft.io.Sinks.csv(src, outDir, singleFile = false)
    val back = graft.io.Sources.csv(s, outDir)
    back.agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_orderkey") + col("l_linenumber")).as("key_sum"),
      moneySum(col("l_extendedprice")).as("sum_price"),
      count(when(col("flag").isNull, 1)).as("n_null_flag"),
      countDistinct(col("flag")).as("n_flag"),
      date_format(min(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("min_ship"),
      date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
  }
  private val qCsvRoundtripSql =
    """WITH x AS (SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate,
      |    CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_returnflag END flag
      |  FROM lineitem WHERE l_orderkey % 50 = 0)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(l_orderkey + l_linenumber) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(CASE WHEN flag IS NULL THEN 1 END) AS n_null_flag,
      |  count(DISTINCT flag) AS n_flag,
      |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
      |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
      |FROM x""".stripMargin

  /** JSON lines source/sink under the gate (same pattern as
    * [[qCsvRoundtrip]]): write side exercises JSON rendering of
    * longs/doubles/timestamps/nulls, read side schema inference (JSON
    * null fields vanish per line — inference must still type them from
    * sibling lines). */
  private def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = li(s, dir).filter(col("l_orderkey") % 50 === 1)
      .select(col("l_orderkey"), col("l_extendedprice"),
        col("l_shipdate"),
        when(col("l_orderkey") % 3 === 0, lit(null))
          .otherwise(col("l_returnflag")).as("flag"))
    val outDir = tmpOut("json", dir)
    src.write.mode("overwrite").json(outDir)
    val back = s.read.json(outDir)
    back.agg(
      count(lit(1)).as("n_rows"),
      moneySum(col("l_extendedprice")).as("sum_price"),
      count(when(col("flag").isNull, 1)).as("n_null_flag"),
      // json reads timestamps back as strings unless schema'd: compare
      // the lexicographic min of the ISO rendering, stable either way
      min(col("l_shipdate").cast("string").substr(1, 10)).as("min_ship"))
  }
  private val qJsonRoundtripSql =
    """WITH x AS (SELECT l_orderkey, l_extendedprice, l_shipdate,
      |    CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_returnflag END flag
      |  FROM lineitem WHERE l_orderkey % 50 = 1)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(CASE WHEN flag IS NULL THEN 1 END) AS n_null_flag,
      |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship
      |FROM x""".stripMargin

  /** ORC source/sink under the gate — the third columnar format Spark
    * ships natively (DuckDB has no ORC reader, so the oracle aggregates
    * the original parquet; any ORC write/read corruption breaks the
    * hash). */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = li(s, dir).filter(col("l_orderkey") % 50 === 2)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
    val outDir = tmpOut("orc", dir)
    src.write.mode("overwrite").orc(outDir)
    val back = s.read.orc(outDir)
    back.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"))
  }
  private val qOrcRoundtripSql =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem WHERE l_orderkey % 50 = 2 GROUP BY 1""".stripMargin

  /** XML round trip (r12): Spark 4's built-in XML datasource (the
    * spark-xml merge), written with an explicit rowTag and read back
    * under the WRITER'S schema — the production shape (schema inference
    * over XML costs a full extra parse pass; a pipeline that just wrote
    * the file knows its schema). Null columns round-trip as omitted
    * elements. The oracle computes straight off lineitem, so the gate
    * passes iff the XML round trip is lossless. */
  private def qXmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = li(s, dir).filter(col("l_orderkey") % 50 === 4)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        when(col("l_orderkey") % 3 === 0, lit(null))
          .otherwise(col("l_returnflag")).as("flag"))
    val outDir = tmpOut("xml", dir)
    src.write.mode("overwrite").format("xml")
      .option("rowTag", "item").save(outDir)
    val back = s.read.format("xml").option("rowTag", "item")
      .schema(src.schema).load(outDir)
    back.groupBy(col("flag")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity")).cast("double").as("sum_qty"),
      moneySum(col("l_extendedprice")).as("sum_price"),
      sum(col("l_orderkey")).as("key_sum"))
  }
  private val qXmlRoundtripSql =
    """SELECT CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_returnflag END AS flag,
      |  count(*) AS n_rows,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(sum(l_orderkey) AS BIGINT) AS key_sum
      |FROM lineitem WHERE l_orderkey % 50 = 4 GROUP BY 1""".stripMargin

  /** Fixed-width text round trip (Sources.fixedWidth / Sinks.fixedWidth
    * — the mainframe/COBOL export layout, r12): a lineitem subset is
    * written as padded fixed-byte lines (numbers left-padded, strings
    * right-padded, null -> all-blank) and read back by 1-based offset
    * slices (blank -> NULL, the spaces-=-missing convention), so
    * offsets, padding sides, the null round trip, decimal rendering and
    * date strings are all extent-checked by the aggregate. Money sums
    * ride DECIMAL through both the file format and the agg (the
    * moneySum discipline); the oracle computes straight off lineitem —
    * it passes iff the text round trip is lossless. */
  private def qFixedWidth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val src = li(s, dir).filter(col("l_orderkey") % 60 === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(12,2)").as("qty"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"),
        when(col("l_orderkey") % 7 === 0, lit(null))
          .otherwise(col("l_returnflag")).as("flag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
    val outDir = tmpOut("fixw", dir)
    graft.io.Sinks.fixedWidth(src, outDir, Seq(
      "l_orderkey" -> 14, "l_linenumber" -> 4, "qty" -> 10,
      "price" -> 14, "flag" -> 1, "ship" -> 10))
    val back = graft.io.Sources.fixedWidth(s, outDir, Seq(
      ("l_orderkey", 14, LongType), ("l_linenumber", 4, IntegerType),
      ("qty", 10, DecimalType(12, 2)), ("price", 14, DecimalType(18, 2)),
      ("flag", 1, StringType), ("ship", 10, StringType)))
    back.groupBy(col("flag")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_orderkey") + col("l_linenumber")).as("key_sum"),
      sum(col("qty")).cast("double").as("sum_qty"),
      sum(col("price")).cast("double").as("sum_price"),
      min(col("ship")).as("min_ship"),
      max(col("ship")).as("max_ship"))
  }
  private val qFixedWidthSql =
    """WITH x AS (SELECT l_orderkey, l_linenumber,
      |    CAST(l_quantity AS DECIMAL(12,2)) qty,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) price,
      |    CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_returnflag END flag,
      |    strftime(l_shipdate, '%Y-%m-%d') ship
      |  FROM lineitem WHERE l_orderkey % 60 = 1)
      |SELECT flag, count(*) AS n_rows,
      |  CAST(sum(l_orderkey + l_linenumber) AS BIGINT) AS key_sum,
      |  CAST(sum(qty) AS DOUBLE) AS sum_qty,
      |  CAST(sum(price) AS DOUBLE) AS sum_price,
      |  min(ship) AS min_ship, max(ship) AS max_ship
      |FROM x GROUP BY 1""".stripMargin

  /** Partitioned-layout write + PRUNED scan: writes a subset
    * hive-partitioned by return flag, reads back ONE partition. The
    * partition filter never touches row data — pruning happens at
    * planning (PartitionFilters in the scan; asserted in IoSpec) — so
    * at 100 TB this reads 1/3 of the files, not 1/3 of the rows. */
  private def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val outDir = tmpOut("part", dir)
    li(s, dir).filter(col("l_orderkey") % 20 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(outDir)
    s.read.parquet(outDir)
      .filter(col("l_returnflag") === "R")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        sum(col("l_orderkey") + col("l_linenumber")).as("key_sum"))
  }
  private val qPartitionPruneSql =
    """SELECT count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  CAST(sum(l_orderkey + l_linenumber) AS BIGINT) AS key_sum
      |FROM lineitem WHERE l_orderkey % 20 = 0 AND l_returnflag = 'R'""".stripMargin

  private def qHead(s: SparkSession, dir: String): DataFrame =
    li(s, dir).select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_returnflag"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(10)
  private val qHeadSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag,
      |       strftime(l_shipdate, '%Y-%m-%d') AS ship
      |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 10""".stripMargin

  /** S3 oracle face (VERDICT r11 Next #4): mission detection over the
    * seeded 200-row defect sample (io.SampleData — the reference's demo
    * dataset, app.py:27-41), closing the last spec-only §2 row. The
    * sample is generated, not read from the fixture dir, so the oracle
    * is the VERIFIED golden defect structure as literals (the same
    * numbers ProfilerSpec pins against the reference's own behavior —
    * see the FIXTURES.md §A erratum): only 5000 exceeds 3 sigma on
    * price (the 5000 itself inflates sigma to ~355, so 999 lands at
    * z~2.6), only "2024/13/01" fails the lenient parse ("01-02-2024"
    * is valid d-M-y), rows 10-11 duplicate row 9, and the seeded
    * category stream nulls exactly 8 cells (seed 123, p=0.05 — the
    * row-9 overwrite copies a non-null category, so injection does not
    * change the count). */
  private def qSampleDefects(s: SparkSession, dir: String): DataFrame = {
    val ms = Profiler.detectMissions(graft.io.SampleData.load(s))
    val rows = ms.map {
      case Mission.Outlier(c, n)   => ("outlier", c, n)
      case Mission.Nulls(c, n)     => ("null", c, n)
      case Mission.Duplicates(n)   => ("duplicate", null: String, n)
      case Mission.DateMixed(c, n) => ("date_mixed", c, n)
    }
    s.createDataFrame(rows).toDF("mission_type", "column_name", "cnt")
  }
  private val qSampleDefectsSql =
    """SELECT * FROM (VALUES
      |  ('outlier', 'price', CAST(1 AS BIGINT)),
      |  ('null', 'category', CAST(8 AS BIGINT)),
      |  ('duplicate', CAST(NULL AS VARCHAR), CAST(2 AS BIGINT)),
      |  ('date_mixed', 'date', CAST(1 AS BIGINT)))
      |  t(mission_type, column_name, cnt)""".stripMargin

  /** K2 oracle face (VERDICT r11 Next #4): the HTML report renderer
    * gated cross-engine instead of spec-only. A deterministic
    * before/after pair (nation ordered by key; "after" drops region 2)
    * goes through the REAL io.HtmlReport.render (fixed epoch
    * timestamp), and the face explodes the rendered document's insight
    * lines, mission-log lines, and both sample tables' header+cell
    * fragments into (section, idx, frag) rows — the oracle rebuilds
    * the exact same strings in SQL (same `||` concatenation, same
    * 3-entity escape chain on the one free-text column, same
    * row-major cell order), so templating, escaping, truncation at 10
    * rows, and the insight arithmetic are all extent-checked. Driver
    * work is bounded: render collects 2 x limit(10) rows; the counts
    * feeding the insight lines are 3 scalar aggregates. */
  private def qHtmlReport(s: SparkSession, dir: String): DataFrame = {
    val nation = Sources.table(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
    val after = nation.filter(col("n_regionkey") =!= 2)
    val rowsBefore = nation.count()
    val rowsAfter = after.count()
    val nullsAfter = after.select(
      sum(when(col("n_nationkey").isNull, 1L).otherwise(0L) +
        when(col("n_name").isNull, 1L).otherwise(0L) +
        when(col("n_regionkey").isNull, 1L).otherwise(0L)))
      .head().getLong(0)
    val insights = graft.model.Insights(rowsBefore, rowsAfter,
      Seq("n_nationkey", "n_name", "n_regionkey"), nullsAfter).lines
    val missions = Seq("Drop rows where n_regionkey = 2")
    val html = graft.io.HtmlReport.render(nation, after, missions,
      insights, java.time.Instant.EPOCH)
    def frags(section: String, part: String): Seq[(String, Int, String)] =
      "<(?:li|th|td)>[^<]*</(?:li|th|td)>".r.findAllIn(part)
        .toSeq.zipWithIndex
        .map { case (f, i) => (section, i + 1, f) }
    val summaryPart = html.substring(html.indexOf("<h2>Summary</h2>"),
      html.indexOf("<h2>Missions applied</h2>"))
    val missionsPart = html.substring(
      html.indexOf("<h2>Missions applied</h2>"),
      html.indexOf("<h2>Before (sample)</h2>"))
    val beforePart = html.substring(html.indexOf("<h2>Before (sample)</h2>"),
      html.indexOf("<h2>After (sample)</h2>"))
    val afterPart = html.substring(html.indexOf("<h2>After (sample)</h2>"))
    val rows = frags("insight", summaryPart) ++
      frags("mission", missionsPart) ++
      frags("before", beforePart) ++ frags("after", afterPart)
    s.createDataFrame(rows).toDF("section", "idx", "frag")
  }
  private val qHtmlReportSql = {
    // the render path escapes every cell; numbers can't contain &<>,
    // so only the free-text name column carries the 3-entity chain
    def esc(c: String) =
      s"replace(replace(replace($c, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    def tableCells(cte: String, section: String) =
      s"""SELECT '$section' section, CAST(3 + (rn - 1) * 3 + c AS INT) idx, frag
         |FROM (
         |  SELECT rn, 1 c, '<td>' || n_nationkey || '</td>' frag FROM $cte
         |  UNION ALL SELECT rn, 2, '<td>' || ${esc("n_name")} || '</td>' FROM $cte
         |  UNION ALL SELECT rn, 3, '<td>' || n_regionkey || '</td>' FROM $cte)""".stripMargin
    def headers(section: String) =
      s"""SELECT '$section', c, '<th>' || nm || '</th>' FROM (VALUES
         |  (1, 'n_nationkey'), (2, 'n_name'), (3, 'n_regionkey')) h(c, nm)""".stripMargin
    s"""WITH b AS (SELECT n_nationkey, n_name, n_regionkey,
       |    CAST(row_number() OVER (ORDER BY n_nationkey) AS INT) rn
       |  FROM nation ORDER BY n_nationkey LIMIT 10),
       |a AS (SELECT n_nationkey, n_name, n_regionkey,
       |    CAST(row_number() OVER (ORDER BY n_nationkey) AS INT) rn
       |  FROM nation WHERE n_regionkey <> 2 ORDER BY n_nationkey LIMIT 10),
       |n AS (SELECT count(*) nb FROM nation),
       |m AS (SELECT count(*) na,
       |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END
       |      + CASE WHEN n_name IS NULL THEN 1 ELSE 0 END
       |      + CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) z
       |  FROM nation WHERE n_regionkey <> 2)
       |SELECT 'insight' section, 1 idx,
       |  '<li>Rows before: ' || (SELECT nb FROM n) || ', rows after: '
       |    || (SELECT na FROM m) || '</li>' frag
       |UNION ALL SELECT 'insight', 2,
       |  '<li>Columns: n_nationkey, n_name, n_regionkey</li>'
       |UNION ALL SELECT 'insight', 3,
       |  '<li>Total nulls after: ' || (SELECT z FROM m) || '</li>'
       |UNION ALL SELECT 'mission', 1,
       |  '<li>Drop rows where n_regionkey = 2</li>'
       |UNION ALL ${headers("before")}
       |UNION ALL ${headers("after")}
       |UNION ALL ${tableCells("b", "before")}
       |UNION ALL ${tableCells("a", "after")}""".stripMargin
  }

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------
  // ---- numeric-relationship profiling (NumericProfile.scala) -------
  private val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Benford first-digit screen over order totals; the expectation
    * literals are generated from ONE Scala constant into both engines
    * (toString round-trips doubles exactly), so no engine runs a log. */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.benford(orders(s, dir), "o_totalprice")
  private val qBenfordSql: String = {
    // STRING-cast each literal: DuckDB types a bare 0.30102999... as
    // DECIMAL and the decimal->double hop computes m/10^s in floating
    // point, off by an ulp from Spark's direct double literal on one of
    // the nine digits; a string parse is correctly rounded (caught by
    // tools/strictcheck.py)
    val expCase = graft.profile.NumericProfile.benfordExpected
      .map { case (d, p) => s"WHEN $d THEN CAST('$p' AS DOUBLE)" }.mkString(" ")
    s"""WITH src AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
       |    AS BIGINT) c FROM orders),
       |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) digit
       |  FROM src WHERE c > 0),
       |a AS (SELECT digit, count(*) n FROM d GROUP BY 1),
       |w AS (SELECT digit, n, sum(n) OVER () total FROM a),
       |f AS (SELECT digit, n,
       |    CAST(n AS DOUBLE) / CAST(total AS DOUBLE) obs_share,
       |    CASE digit $expCase END expected
       |  FROM w)
       |SELECT digit, n, obs_share, expected, abs(obs_share - expected) gap
       |FROM f""".stripMargin
  }

  /** Equal-population quantile binning on the dirtied qty column
    * (pandas qcut / Spark ML QuantileDiscretizer semantics, exact
    * boundaries): the oracle recomputes the same three quartile
    * boundaries and the same when-cascade. */
  private def qQuantileBin(s: SparkSession, dir: String): DataFrame =
    CleaningAction.QuantileBin("qty", nBins = 4)(dirty(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
        col("qty_bin"))
  private val qQuantileBinSql: String =
    s"""WITH $dirtySql,
       |b AS (SELECT quantile_cont(qty, [0.25, 0.5, 0.75]) q FROM dirty)
       |SELECT l_orderkey, l_linenumber, qty,
       |  CAST(CASE WHEN qty <= q[1] THEN 1 WHEN qty <= q[2] THEN 2
       |       WHEN qty <= q[3] THEN 3
       |       WHEN qty IS NOT NULL THEN 4 END AS INT) qty_bin
       |FROM dirty, b""".stripMargin

  /** corr rounded at 12 places in BOTH engines: above ~2^53 the
    * squared-cents sums stop being double-exact, and DuckDB's
    * decimal->double conversion rounds those big mantissas differently
    * from Java's (one ulp; surfaced by tools/strictcheck.py at sf0.1 —
    * sf0.01 sums stay exact). 1e-12 is far inside the formula's own
    * ~1e-14-relative accuracy. */
  private def qCorrMatrix(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.corrMatrix(li(s, dir), corrCols)
      .select(col("col_x"), col("col_y"), round(col("corr"), 12).as("corr"))

  /** Mirror of [[NumericProfile.corrMatrix]]: exact decimal sums, then
    * the identical double formula per pair (see that scaladoc). */
  private val qCorrMatrixSql: String = {
    val pairs = for {
      i <- corrCols.indices; j <- (i + 1) until corrCols.size
    } yield (corrCols(i), corrCols(j))
    val sums =
      corrCols.map(c =>
        s"sum(CAST(round($c * 100) AS DECIMAL(18,0))) s_$c") ++
        corrCols.map(c =>
          s"sum(CAST(CAST(round($c * 100) AS DECIMAL(18,0)) * CAST(round($c * 100) AS DECIMAL(18,0)) AS DECIMAL(38,0))) sq_$c") ++
        pairs.map { case (a, b) =>
          s"sum(CAST(CAST(round($a * 100) AS DECIMAL(18,0)) * CAST(round($b * 100) AS DECIMAL(18,0)) AS DECIMAL(38,0))) sp_${a}_$b" }
    val pairSelects = pairs.map { case (a, b) =>
      s"""SELECT '$a' col_x, '$b' col_y,
         |  round(CASE WHEN sqrt(n * CAST(sq_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) > 0
         |        AND sqrt(n * CAST(sq_$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)) > 0
         |  THEN (n * CAST(sp_${a}_$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
         |    / (sqrt(n * CAST(sq_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
         |       * sqrt(n * CAST(sq_$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)))
         |  ELSE NULL END, 12) corr
         |FROM agg""".stripMargin }
    s"""WITH agg AS (
       |  SELECT CAST(count(*) AS DOUBLE) n, ${sums.mkString(",\n    ")}
       |  FROM lineitem)
       |${pairSelects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.histogram(li(s, dir), "l_extendedprice", 20)

  /** Distribution drift between two date-sliced snapshots of lineitem
    * prices (the "did the new crawl shift the distribution" monitor).
    * Buckets ride the reference slice's exact integer-cents grid;
    * negative-numerator integer division (cur rows below the ref min)
    * differs between Spark `div` (truncate) and DuckDB `//` (floor) but
    * both land below 0 and the GREATEST(0, ..) clamp absorbs the
    * difference — documented so nobody "simplifies" the clamp away. */
  private def qHistDrift(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.histogramDrift(
      li(s, dir).filter(col("l_shipdate") < lit("1998-01-01")),
      li(s, dir).filter(col("l_shipdate") >= lit("1998-01-01")),
      "l_extendedprice", 20)

  private val qHistDriftSql: String = {
    def cents(pred: String) =
      s"SELECT CAST(round(l_extendedprice * 100) AS BIGINT) cents FROM lineitem WHERE $pred"
    val bucket = "GREATEST(0, LEAST(19, ((cents - mn) * 20) // (mx - mn + 1)))"
    s"""WITH rf AS (${cents("l_shipdate < DATE '1998-01-01'")}),
       |cf AS (${cents("l_shipdate >= DATE '1998-01-01'")}),
       |b AS (SELECT min(cents) mn, max(cents) mx FROM rf),
       |rb AS (SELECT $bucket bucket, count(*) n_ref FROM rf, b GROUP BY 1),
       |cb AS (SELECT $bucket bucket, count(*) n_cur FROM cf, b GROUP BY 1),
       |j AS (SELECT COALESCE(rb.bucket, cb.bucket) bucket,
       |    COALESCE(n_ref, 0) n_ref, COALESCE(n_cur, 0) n_cur
       |  FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket),
       |w AS (SELECT bucket, n_ref, n_cur,
       |    sum(n_ref) OVER () t_ref, sum(n_cur) OVER () t_cur FROM j)
       |SELECT CAST(bucket AS INT) bucket, n_ref, n_cur,
       |  CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE) share_ref,
       |  CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE) share_cur,
       |  abs(CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)
       |    - CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)) share_gap
       |FROM w""".stripMargin
  }

  private def qKsDrift(s: SparkSession, dir: String): DataFrame =
    graft.profile.NumericProfile.ksDrift(
      li(s, dir).filter(col("l_shipdate") < lit("1998-01-01")),
      li(s, dir).filter(col("l_shipdate") >= lit("1998-01-01")),
      "l_extendedprice", 20)

  private val qKsDriftSql: String = {
    def cents(pred: String) =
      s"SELECT CAST(round(l_extendedprice * 100) AS BIGINT) cents FROM lineitem WHERE $pred"
    val bucket = "GREATEST(0, LEAST(19, ((cents - mn) * 20) // (mx - mn + 1)))"
    s"""WITH rf AS (${cents("l_shipdate < DATE '1998-01-01'")}),
       |cf AS (${cents("l_shipdate >= DATE '1998-01-01'")}),
       |b AS (SELECT min(cents) mn, max(cents) mx FROM rf),
       |rb AS (SELECT $bucket bucket, count(*) n_ref FROM rf, b GROUP BY 1),
       |cb AS (SELECT $bucket bucket, count(*) n_cur FROM cf, b GROUP BY 1),
       |j AS (SELECT COALESCE(rb.bucket, cb.bucket) bucket,
       |    COALESCE(n_ref, 0) n_ref, COALESCE(n_cur, 0) n_cur
       |  FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket),
       |w AS (SELECT bucket,
       |    sum(n_ref) OVER () t_ref, sum(n_cur) OVER () t_cur,
       |    sum(n_ref) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_ref,
       |    sum(n_cur) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_cur
       |  FROM j),
       |g AS (SELECT bucket, abs(
       |    (CASE WHEN t_ref = 0 THEN 0.0
       |      ELSE CAST(cum_ref AS DOUBLE) / CAST(t_ref AS DOUBLE) END)
       |    - (CASE WHEN t_cur = 0 THEN 0.0
       |      ELSE CAST(cum_cur AS DOUBLE) / CAST(t_cur AS DOUBLE) END)) cdf_gap
       |  FROM w)
       |SELECT CAST(bucket AS INT) at_bucket, round(cdf_gap, 6) ks_stat
       |FROM g ORDER BY cdf_gap DESC, bucket ASC LIMIT 1""".stripMargin
  }

  private val qHistogramSql: String =
    """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) cents
      |  FROM lineitem),
      |b AS (SELECT min(cents) mn, max(cents) mx FROM c)
      |SELECT CAST(LEAST(19, ((cents - mn) * 20) // (mx - mn + 1)) AS INT) bucket,
      |  count(*) n_rows,
      |  CAST(mn AS DOUBLE) / 100 min_val, CAST(mx AS DOUBLE) / 100 max_val
      |FROM c, b
      |GROUP BY 1, 3, 4""".stripMargin

  /** Missingness-pattern census (Profiler.nullPatterns) over the
    * dirtied frame: qty and flag go null TOGETHER (same %7 injection)
    * and the unparseable ship strings add an independent effective-null
    * axis — exactly the coupled-missingness structure per-column rates
    * cannot show. */
  private def qNullPatterns(s: SparkSession, dir: String): DataFrame = {
    val d = dirty(s, dir).withColumn("ship_parsed",
      Profiler.lenientParseDate(col("ship_str")))
    Profiler.nullPatterns(d, Seq("qty", "flag", "ship_parsed"))
  }
  private val qNullPatternsSql: String =
    s"""WITH $dirtySql,
       |p AS (SELECT
       |    (CASE WHEN qty IS NULL THEN 'N' ELSE '-' END) ||
       |    (CASE WHEN flag IS NULL THEN 'N' ELSE '-' END) ||
       |    (CASE WHEN ${parseSql("ship_str")} IS NULL THEN 'N' ELSE '-' END)
       |      pattern
       |  FROM dirty),
       |g AS (SELECT pattern, count(*) n_rows FROM p GROUP BY 1),
       |w AS (SELECT *, CAST(sum(n_rows) OVER () AS BIGINT) t FROM g)
       |SELECT pattern, n_rows,
       |  round(CAST(n_rows AS DOUBLE) / CAST(t AS DOUBLE), 6) AS "share"
       |FROM w""".stripMargin

  val faces: Seq[Face] = Seq(
    Face("q_null_patterns", qNullPatterns, qNullPatternsSql),
    Face("q_corr_matrix", qCorrMatrix, qCorrMatrixSql),
    Face("q_benford", qBenford, qBenfordSql),
    Face("q_quantile_bin", qQuantileBin, qQuantileBinSql),
    Face("q_histogram", qHistogram, qHistogramSql),
    Face("q_hist_drift", qHistDrift, qHistDriftSql),
    Face("q_ks_drift", qKsDrift, qKsDriftSql),
    Face("q_profile", qProfile, qProfileSql),
    Face("q_missions", qMissions, qMissionsSql),
    Face("q_dup_count", qDupCount, qDupCountSql),
    Face("q_outlier_detect", qOutlierDetect, qOutlierDetectSql),
    Face("q_outlier_remove", qOutlierRemove, qOutlierRemoveSql),
    Face("q_outlier_replace_median", qOutlierReplaceMedian, qOutlierReplaceMedianSql),
    Face("q_outlier_replace_mean", qOutlierReplaceMean, qOutlierReplaceMeanSql),
    Face("q_outlier_clip", qOutlierClip, qOutlierClipSql),
    Face("q_outlier_iqr", qOutlierIqr, qOutlierIqrSql),
    Face("q_null_drop", qNullDrop, qNullDropSql),
    Face("q_impute_median", qImputeMedian, qImputeMedianSql),
    Face("q_impute_mode", qImputeMode, qImputeModeSql),
    Face("q_fill_constant", qFillConstant, qFillConstantSql),
    Face("q_scale_minmax", qScaleMinmax, qScaleMinmaxSql),
    Face("q_scale_zscore", qScaleZscore, qScaleZscoreSql),
    Face("q_scale_robust", qScaleRobust, qScaleRobustSql),
    Face("q_dedup_exact", qDedupExact, qDedupExactSql),
    Face("q_date_auto", qDateAuto, qDateAutoSql),
    Face("q_date_force_dmy", qDateForceDmy, qDateForceDmySql),
    Face("q_date_force_ymd", qDateForceYmd, qDateForceYmdSql),
    Face("q_date_like", qDateLike, qDateLikeSql),
    Face("q_quality_score", qQualityScore, qQualityScoreSql),
    Face("q_insights", qInsights, qInsightsSql),
    Face("q_head", qHead, qHeadSql),
    Face("q_sample_defects", qSampleDefects, qSampleDefectsSql),
    Face("q_html_report", qHtmlReport, qHtmlReportSql),
    Face("q_xlsx_roundtrip", qXlsxRoundtrip, qXlsxRoundtripSql),
    Face("q_csv_roundtrip", qCsvRoundtrip, qCsvRoundtripSql),
    Face("q_json_roundtrip", qJsonRoundtrip, qJsonRoundtripSql),
    Face("q_orc_roundtrip", qOrcRoundtrip, qOrcRoundtripSql),
    Face("q_fixed_width", qFixedWidth, qFixedWidthSql),
    Face("q_xml_roundtrip", qXmlRoundtrip, qXmlRoundtripSql),
    Face("q_partition_prune", qPartitionPrune, qPartitionPruneSql))
}
