package graft.operators

import org.apache.spark.ml.feature.QuantileDiscretizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.sources.Tables

/** SURVEY.md §2.4/§2.9 — the notebook-EDA surface: `describe()` (the
  * canonical first cell of every reference-category notebook) and
  * quantile-based discretization (approx → rows-only; determinism is gated
  * by the catalog run-twice suite). */
object Eda {

  /** `describe()` over the lineitem measures — count/mean/stddev/min/max as
    * the notebook EDA table. String-typed by API contract; deterministic for
    * fixed data. */
  /** `df.describe` — STRICT-oracle'd since r6: describe emits full-precision
    * strings (engine-formatting-specific), so the entry rounds each stat
    * back to a double at 4dp (mean/stddev jitter sits orders of magnitude
    * inside the cell at these magnitudes) and DuckDB recomputes the same
    * five stats directly. The describe() API call itself stays the thing
    * under test — the post-processing only normalizes its presentation. */
  val q84Describe: GraftQuery = GraftQuery.oracled(
    "q84_describe",
    """WITH s AS (
      |  SELECT 'count' AS summary,
      |         CAST(count(l_quantity) AS DOUBLE) AS l_quantity,
      |         CAST(count(l_extendedprice) AS DOUBLE) AS l_extendedprice,
      |         CAST(count(l_discount) AS DOUBLE) AS l_discount
      |  FROM lineitem
      |  UNION ALL SELECT 'max', round(max(l_quantity), 4), round(max(l_extendedprice), 4), round(max(l_discount), 4) FROM lineitem
      |  UNION ALL SELECT 'mean', round(avg(l_quantity), 4), round(avg(l_extendedprice), 4), round(avg(l_discount), 4) FROM lineitem
      |  UNION ALL SELECT 'min', round(min(l_quantity), 4), round(min(l_extendedprice), 4), round(min(l_discount), 4) FROM lineitem
      |  UNION ALL SELECT 'stddev', round(stddev_samp(l_quantity), 4), round(stddev_samp(l_extendedprice), 4), round(stddev_samp(l_discount), 4) FROM lineitem)
      |SELECT * FROM s ORDER BY summary""") { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .describe("l_quantity", "l_extendedprice", "l_discount")
      .select($"summary",
        round($"l_quantity".cast("double"), 4).as("l_quantity"),
        round($"l_extendedprice".cast("double"), 4).as("l_extendedprice"),
        round($"l_discount".cast("double"), 4).as("l_discount"))
      .orderBy($"summary")
  }

  /** QuantileDiscretizer (Greenwald-Khanna approximate quantiles) into 5
    * buckets + per-bucket occupancy — buckets must be near-equal by
    * construction (asserted in EdaSpec). */
  val q85QuantileDiscretize: GraftQuery = GraftQuery.rowsOnly(
    "q85_quantile_discretize",
    doc = "QuantileDiscretizer(5 buckets, relErr=0.001) on o_totalprice; bucket occupancy") { (spark, dir) =>
    import spark.implicits._
    val disc = new QuantileDiscretizer()
      .setInputCol("o_totalprice").setOutputCol("bucket")
      .setNumBuckets(5).setRelativeError(0.001)
    disc.fit(Tables.orders(spark, dir))
      .transform(Tables.orders(spark, dir))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        RelationalCore.money(min($"o_totalprice")).as("lo"),
        RelationalCore.money(max($"o_totalprice")).as("hi"))
      .orderBy($"bucket")
  }

  /** Population-stability-index (PSI) drift report between two
    * deterministic halves of `orders` — the train/serve distribution-shift
    * monitor every ML platform runs. The split is the portable md5 coin
    * (so both engines cut identical halves), `o_totalprice` is binned into
    * 10 equal-width buckets over the observed range, and each bucket
    * contributes (pA−pB)·ln(pA/pB) with add-one smoothing so empty cells
    * stay finite. The bucket index is computed with the SAME arithmetic
    * expression on both engines (DuckDB lacks width_bucket).
    *
    * 100 TB plan: one tiny range agg broadcast back, then a single scan
    * into a 2×10-cell count grid — the report is constant-size no matter
    * the input; production pins the bucket edges instead of deriving
    * them, dropping the extra scan. */
  val q152DriftPsi: GraftQuery = GraftQuery.oracled(
    "q152_drift_psi",
    """WITH s AS (SELECT o_totalprice AS x,
      |                  CASE WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |                       THEN 'a' ELSE 'b' END AS split
      |           FROM orders),
      |r AS (SELECT min(x) AS lo, max(x) + 0.01 AS hi FROM s),
      |b AS (SELECT split, CAST(floor((x - lo) * 10.0 / (hi - lo)) AS BIGINT) + 1 AS bkt FROM s, r),
      |c AS (SELECT split, bkt, count(*) AS n FROM b GROUP BY 1, 2),
      |t AS (SELECT split, sum(n) AS tot FROM c GROUP BY 1),
      |p AS (SELECT g.bkt,
      |             (coalesce(ca.n, 0) + 1.0) / (ta.tot + 10) AS pa,
      |             (coalesce(cb.n, 0) + 1.0) / (tb.tot + 10) AS pb
      |      FROM (SELECT DISTINCT bkt FROM c) g
      |      LEFT JOIN (SELECT bkt, n FROM c WHERE split = 'a') ca USING (bkt)
      |      LEFT JOIN (SELECT bkt, n FROM c WHERE split = 'b') cb USING (bkt),
      |      (SELECT tot FROM t WHERE split = 'a') ta,
      |      (SELECT tot FROM t WHERE split = 'b') tb)
      |SELECT bkt, round(pa, 6) AS pa, round(pb, 6) AS pb,
      |       round((pa - pb) * ln(pa / pb), 6) AS psi_contrib
      |FROM p ORDER BY bkt""") { (spark, dir) =>
    import spark.implicits._
    val s = Tables.orders(spark, dir).select($"o_totalprice".as("x"),
      when(conv(substring(md5($"o_orderkey".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2 === 0, "a").otherwise("b").as("split"))
    val r = s.agg(min($"x").as("lo"), (max($"x") + 0.01).as("hi"))
    val c = s.crossJoin(broadcast(r))
      .select($"split",
        (floor(($"x" - $"lo") * 10.0 / ($"hi" - $"lo")).cast("long") + 1).as("bkt"))
      .groupBy($"split", $"bkt").agg(count(lit(1)).as("n"))
    val t = c.groupBy($"split").agg(sum($"n").as("tot"))
    c.select($"bkt").distinct()
      .join(c.filter($"split" === "a").select($"bkt", $"n".as("na")), Seq("bkt"), "left")
      .join(c.filter($"split" === "b").select($"bkt", $"n".as("nb")), Seq("bkt"), "left")
      .crossJoin(broadcast(t.filter($"split" === "a").select($"tot".as("tota"))))
      .crossJoin(broadcast(t.filter($"split" === "b").select($"tot".as("totb"))))
      .withColumn("pa", (coalesce($"na", lit(0L)) + 1.0) / ($"tota" + 10))
      .withColumn("pb", (coalesce($"nb", lit(0L)) + 1.0) / ($"totb" + 10))
      .select($"bkt", round($"pa", 6).as("pa"), round($"pb", 6).as("pb"),
        round(($"pa" - $"pb") * log($"pa" / $"pb"), 6).as("psi_contrib"))
      .orderBy($"bkt")
  }

  /** Tukey-fence (1.5·IQR) outlier detection per event_type over the
    * right-skewed `events.value` — the robust-stats anomaly flag that,
    * unlike z-scores, is not itself dragged by the outliers it hunts.
    * Exact quartiles (`percentile` ≡ `quantile_cont`, the q27 identity);
    * fences are ROUNDED on both engines before the comparison so the
    * predicate is cross-engine stable at the boundary, making the exact
    * flagged row set oracle-able.
    *
    * 100 TB plan: one grouped percentile agg (5 groups → a broadcast
    * fence table) and one scan with a map-side predicate; at extreme
    * cardinality the exact percentile swaps for approx_percentile and the
    * same fences — the plan shape is unchanged. */
  val q153IqrOutliers: GraftQuery = GraftQuery.oracled(
    "q153_iqr_outliers",
    """WITH q AS (SELECT event_type,
      |                  quantile_cont(value, 0.25) AS q1,
      |                  quantile_cont(value, 0.75) AS q3
      |           FROM events GROUP BY 1)
      |SELECT e.event_id, e.event_type, round(e.value, 2) AS value,
      |       round(q.q3 + 1.5 * (q.q3 - q.q1), 4) AS hi_fence
      |FROM events e JOIN q USING (event_type)
      |WHERE e.value > round(q.q3 + 1.5 * (q.q3 - q.q1), 4)
      |   OR e.value < round(q.q1 - 1.5 * (q.q3 - q.q1), 4)
      |ORDER BY e.event_id""") { (spark, dir) =>
    import spark.implicits._
    val q = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
    Tables.events(spark, dir).join(broadcast(q), Seq("event_type"))
      .filter($"value" > round($"q3" + ($"q3" - $"q1") * 1.5, 4) ||
        $"value" < round($"q1" - ($"q3" - $"q1") * 1.5, 4))
      .select($"event_id", $"event_type", round($"value", 2).as("value"),
        round($"q3" + ($"q3" - $"q1") * 1.5, 4).as("hi_fence"))
      .orderBy($"event_id")
  }

  /** Two-sample A/B test: users are assigned to arms by the engine-portable
    * md5 coin (q102's trick — assignment survives re-runs and engine swaps),
    * and the arms' mean event values are compared with a Welch z statistic
    * (unequal variances, z = Δmean / √(s²_a/n_a + s²_b/n_b)) — the
    * experimentation-platform primitive, oracle'd float-for-float.
    *
    * 100 TB plan: one scan, one conditional aggregate — the CASE projection
    * is map-side, every moment partial-aggregates (count/avg/var_samp all
    * carry mergeable buffers, q69's Welford shape), and the output is one
    * row. No shuffle of raw rows at all beyond the final 1-row combine. */
  val q163AbZTest: GraftQuery = GraftQuery.oracled(
    "q163_ab_ztest",
    """WITH e AS (
      |  SELECT value,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 'A' ELSE 'B' END AS variant
      |  FROM events)
      |SELECT CAST(count(CASE WHEN variant = 'A' THEN 1 END) AS BIGINT) AS n_a,
      |       CAST(count(CASE WHEN variant = 'B' THEN 1 END) AS BIGINT) AS n_b,
      |       round(avg(CASE WHEN variant = 'A' THEN value END), 4) AS mean_a,
      |       round(avg(CASE WHEN variant = 'B' THEN value END), 4) AS mean_b,
      |       round((avg(CASE WHEN variant = 'A' THEN value END)
      |              - avg(CASE WHEN variant = 'B' THEN value END))
      |             / sqrt(var_samp(CASE WHEN variant = 'A' THEN value END)
      |                      / count(CASE WHEN variant = 'A' THEN 1 END)
      |                    + var_samp(CASE WHEN variant = 'B' THEN value END)
      |                      / count(CASE WHEN variant = 'B' THEN 1 END)), 4) AS z
      |FROM e""") { (spark, dir) =>
    import spark.implicits._
    val coin = conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
      .cast("long") % 2L
    val e = Tables.events(spark, dir)
      .select($"value", when(coin === 0L, "A").otherwise("B").as("variant"))
    val a = when($"variant" === "A", $"value")
    val b = when($"variant" === "B", $"value")
    val cntA = count(when($"variant" === "A", 1))
    val cntB = count(when($"variant" === "B", 1))
    e.agg(
      cntA.cast("long").as("n_a"),
      cntB.cast("long").as("n_b"),
      round(avg(a), 4).as("mean_a"),
      round(avg(b), 4).as("mean_b"),
      round((avg(a) - avg(b)) /
        sqrt(var_samp(a) / cntA + var_samp(b) / cntB), 4).as("z"))
  }

  /** Winsorized per-segment statistics: clamp `value` to its segment's
    * exact [p05, p95] band before averaging — the outlier-robust
    * mean every metrics pipeline reports next to the raw one. Percentiles
    * are EXACT (linear interpolation; Spark `percentile` ≡ DuckDB
    * `quantile_cont` definitionally), so the whole report is oracle'd
    * float-for-float.
    *
    * 100 TB plan: two passes keyed on `event_type` — one exact-percentile
    * aggregation (Spark's `percentile` partial-aggregates per group; for
    * heavy segments `percentile_approx` is the documented swap), then the
    * tiny per-segment band broadcasts back for a map-side clamp + one
    * partial-agg mean. No global sort, no collect. */
  val q167Winsorize: GraftQuery = GraftQuery.oracled(
    "q167_winsorized_stats",
    """WITH q AS (SELECT event_type,
      |                  quantile_cont(value, 0.05) AS p05,
      |                  quantile_cont(value, 0.95) AS p95
      |           FROM events GROUP BY 1)
      |SELECT e.event_type AS event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       round(avg(e.value), 4) AS mean_raw,
      |       round(avg(least(greatest(e.value, q.p05), q.p95)), 4) AS mean_winsor,
      |       round(q.p05, 4) AS p05,
      |       round(q.p95, 4) AS p95
      |FROM events e JOIN q USING (event_type)
      |GROUP BY e.event_type, q.p05, q.p95
      |ORDER BY e.event_type""") { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"value")
    val bands = ev.groupBy($"event_type").agg(
      expr("percentile(value, 0.05D)").as("p05"),
      expr("percentile(value, 0.95D)").as("p95"))
    ev.join(broadcast(bands), "event_type")
      .groupBy($"event_type", $"p05", $"p95")
      .agg(
        count(lit(1)).cast("long").as("n"),
        round(avg($"value"), 4).as("mean_raw"),
        round(avg(least(greatest($"value", $"p05"), $"p95")), 4).as("mean_winsor"))
      .select($"event_type", $"n", $"mean_raw", $"mean_winsor",
        round($"p05", 4).as("p05"), round($"p95", 4).as("p95"))
      .orderBy($"event_type")
  }

  /** Decile lift / calibration table: rank orders into exact deciles of
    * total price (ntile over a total order) and report each decile's
    * positive rate (status F) — the model-evaluation staple (calibration
    * curves, uplift decile charts) expressed relationally.
    *
    * Scale plan: the decile cut runs TWO-PHASE (TwoPhase.rowNumber — q97's
    * bin + broadcast-offset machinery, bucket = a price-monotone bin), so
    * the orders-sized input ranks in parallel per bin and the only
    * partition-less window is the bins-sized offsets prefix; ntile(10) is
    * recovered arithmetically from (rn, N) with SQL's remainder rule, so
    * the oracle sees bit-identical tile boundaries. */
  val q175DecileLift: GraftQuery = GraftQuery.oracled(
    "q175_decile_lift",
    """WITH r AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
      |                  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      |           FROM orders)
      |SELECT decile, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(pos) AS BIGINT) AS n_pos,
      |       round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS rate
      |FROM r GROUP BY decile
      |ORDER BY decile""") { (spark, dir) =>
    import spark.implicits._
    val scored = Tables.orders(spark, dir)
      .select($"o_totalprice", $"o_orderkey",
        when($"o_orderstatus" === "F", 1).otherwise(0).as("pos"))
    TwoPhase.rowNumber(scored,
        bucket = floor($"o_totalprice" / 10000.0),
        sort = Seq($"o_totalprice", $"o_orderkey"),
        out = "rn", totalOut = Some("n_total"))
      .select($"pos", TwoPhase.ntileFromRn($"rn", $"n_total", 10).as("decile"))
      .groupBy($"decile")
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum($"pos").cast("long").as("n_pos"),
        round(sum($"pos").cast("double") / count(lit(1)), 6).as("rate"))
      .orderBy($"decile")
  }

  /** Per-segment OLS trendline (value vs. hours since corpus start) from
    * the closed-form normal equations — slope = (nΣxy − ΣxΣy)/(nΣx² −
    * (Σx)²) — computed over EXACT integer sums (x = whole hours, y =
    * integer cents), converted to double only for the final arithmetic.
    * Every input to the float expression is an exactly-represented
    * integer (< 2⁵³), so both engines produce bit-identical slopes —
    * regression as a one-pass aggregate, no iterative fit.
    *
    * 100 TB plan: five partial-aggregable integer sums per segment, one
    * shuffle of 5-number partials — the textbook "sufficient statistics"
    * pattern; this is how OLS/corr/cov run at any scale. */
  val q181OlsTrend: GraftQuery = GraftQuery.oracled(
    "q181_ols_trendline",
    """WITH t0 AS (SELECT min(date_trunc('microseconds', ts)) AS tmin FROM events),
      |e AS (SELECT event_type,
      |             (epoch_us(date_trunc('microseconds', ts)) - epoch_us(t0.tmin)) // 3600000000 AS x,
      |             CAST(round(value * 100) AS BIGINT) AS y
      |      FROM events, t0),
      |s AS (SELECT event_type,
      |             CAST(count(*) AS DOUBLE) AS n,
      |             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |             CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(x * y) AS DOUBLE) AS sxy
      |      FROM e GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |       round((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0, 6) AS slope_per_hour,
      |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 100.0, 6) AS intercept
      |FROM s ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val t0 = ev.agg(min($"ts").as("tmin"))
    val e = ev.crossJoin(broadcast(t0))
      .select($"event_type",
        expr("(unix_micros(ts) - unix_micros(tmin)) DIV 3600000000").as("x"),
        round($"value" * 100).cast("long").as("y"))
    val s = e.groupBy($"event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum($"x").cast("double").as("sx"), sum($"y").cast("double").as("sy"),
      sum($"x" * $"x").cast("double").as("sxx"),
      sum($"x" * $"y").cast("double").as("sxy"))
    val slope = ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx")
    s.select($"event_type", $"n".cast("long").as("n"),
      round(slope / 100.0, 6).as("slope_per_hour"),
      round(($"sy" - slope * $"sx") / $"n" / 100.0, 6).as("intercept"))
      .orderBy($"event_type")
  }

  /** Chi-square test of independence on the event_type × channel
    * contingency table: X² = Σ (observed − expected)²/expected with
    * expected = row·col/total — the categorical-association workhorse
    * (complements q163's two-sample z). All inputs are exact integer
    * counts; expected values and the statistic derive from them through
    * one fixed expression tree, so the oracle matches float-for-float.
    *
    * 100 TB plan: one count aggregation over (type, channel) — the
    * contingency table is catalog-sized; margins broadcast back. The sum
    * over cells is ordered by the final ORDER BY-free aggregation… of ≤50
    * summands of similar magnitude, rounded to 4; the per-cell table is
    * also emitted so the statistic is auditable. */
  val q184ChiSquare: GraftQuery = GraftQuery.oracled(
    "q184_chisq_independence",
    """WITH c AS (SELECT event_type,
      |                  CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS channel,
      |                  CAST(count(*) AS BIGINT) AS o
      |           FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_n FROM c GROUP BY 1),
      |k AS (SELECT channel, CAST(sum(o) AS BIGINT) AS col_n FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS total FROM c)
      |SELECT c.event_type, c.channel, c.o,
      |       round(CAST(m.row_n AS DOUBLE) * k.col_n / t.total, 4) AS expected,
      |       round(pow(c.o - CAST(m.row_n AS DOUBLE) * k.col_n / t.total, 2)
      |             / (CAST(m.row_n AS DOUBLE) * k.col_n / t.total), 6) AS cell_chi2
      |FROM c JOIN m USING (event_type) JOIN k USING (channel), t
      |ORDER BY event_type, channel""") { (spark, dir) =>
    import spark.implicits._
    val c = Tables.events(spark, dir)
      .groupBy($"event_type",
        (get_json_object($"props", "$.k").cast("long") % 10).as("channel"))
      .agg(count(lit(1)).cast("long").as("o"))
    val m = c.groupBy($"event_type").agg(sum($"o").cast("long").as("row_n"))
    val k = c.groupBy($"channel").agg(sum($"o").cast("long").as("col_n"))
    val t = c.agg(sum($"o").cast("long").as("total"))
    val e = $"row_n".cast("double") * $"col_n" / $"total"
    c.join(broadcast(m), "event_type")
      .join(broadcast(k), "channel")
      .crossJoin(broadcast(t))
      .select($"event_type", $"channel", $"o",
        round(e, 4).as("expected"),
        round(pow($"o" - e, 2) / e, 6).as("cell_chi2"))
      .orderBy($"event_type", $"channel")
  }

  /** Benford first-significant-digit audit of order totals: observed digit
    * shares vs the Benford expectation log10(1 + 1/d) — the forensic
    * data-quality screen for fabricated or truncated numeric columns.
    * (A synthetic uniform price column will NOT follow Benford — the point
    * of the report is the deviation, which the oracle reproduces exactly.)
    *
    * 100 TB plan: the digit projection is map-side string arithmetic on
    * the scan; the report is 9 rows. */
  val q185Benford: GraftQuery = GraftQuery.oracled(
    "q185_benford_digits",
    """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |           FROM orders WHERE o_totalprice >= 1),
      |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
      |SELECT digit, n,
      |       round(CAST(n AS DOUBLE) / t.total, 6) AS observed,
      |       round(log10(1 + 1.0 / digit), 6) AS benford
      |FROM c, t ORDER BY digit""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.orders(spark, dir)
      .filter($"o_totalprice" >= 1)
      .select(substring(floor($"o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
    val c = d.groupBy($"digit").agg(count(lit(1)).cast("long").as("n"))
    val t = c.agg(sum($"n").cast("long").as("total"))
    c.crossJoin(broadcast(t))
      .select($"digit", $"n",
        round($"n".cast("double") / $"total", 6).as("observed"),
        round(log10(lit(1) + lit(1.0) / $"digit"), 6).as("benford"))
      .orderBy($"digit")
  }

  /** Autocorrelation function of the hourly mean-value series at lags
    * 1..24 — the seasonality diagnostic behind q171's choice of a 24-hour
    * naive forecast.
    *
    * Determinism: the series value is the per-hour mean rounded to WHOLE
    * cents — an exact integer derived identically in both engines — so
    * every sufficient statistic (Σx, Σx², Σxy over pairs at offset k) is an
    * exact integer < 2⁵³ and the correlation formula consumes identical
    * doubles: q181's discipline applied to a lagged self-join. (Raw
    * per-hour SUMS would blow the 2⁵³ exactness budget once squared;
    * unrounded double means would reintroduce summation-order noise.)
    *
    * 100 TB plan: raw events collapse to the hourly table first; 24
    * lagged self-joins on a series of thousands of rows are trivial, and
    * all 24 lags come from ONE join on (hour, hour−lag) after a lag
    * explode — one shuffle, not 24. */
  val q186Acf: GraftQuery = GraftQuery.oracled(
    "q186_hourly_acf",
    """WITH t0 AS (SELECT min(date_trunc('microseconds', ts)) AS tmin FROM events),
      |hb AS (SELECT (epoch_us(date_trunc('microseconds', ts)) - epoch_us(t0.tmin)) // 3600000000 AS h,
      |              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
      |              CAST(count(*) AS BIGINT) AS c
      |       FROM events, t0 GROUP BY 1),
      |p AS (SELECT l.lag, a.h,
      |             CAST(round(CAST(a.sc AS DOUBLE) / a.c) AS BIGINT) AS x,
      |             CAST(round(CAST(b.sc AS DOUBLE) / b.c) AS BIGINT) AS y
      |      FROM (SELECT unnest(generate_series(1, 24)) AS lag) l
      |      JOIN hb a ON true
      |      JOIN hb b ON b.h = a.h - l.lag),
      |s AS (SELECT lag, CAST(count(*) AS DOUBLE) AS n,
      |             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |             CAST(sum(x * x) AS DOUBLE) AS sxx,
      |             CAST(sum(y * y) AS DOUBLE) AS syy,
      |             CAST(sum(x * y) AS DOUBLE) AS sxy
      |      FROM p GROUP BY lag)
      |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
      |       round((n * sxy - sx * sy)
      |             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf
      |FROM s ORDER BY lag""") { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val t0 = ev.agg(min($"ts").as("tmin"))
    val hb = ev.crossJoin(broadcast(t0))
      .groupBy(expr("(unix_micros(ts) - unix_micros(tmin)) DIV 3600000000").as("h"))
      .agg(sum(round($"value" * 100).cast("long")).cast("long").as("sc"),
        count(lit(1)).cast("long").as("c"))
    val lags = spark.range(1, 25).select($"id".as("lag"))
    val a = hb.crossJoin(broadcast(lags))
      .select($"lag", $"h",
        round($"sc".cast("double") / $"c").cast("long").as("x"),
        ($"h" - $"lag").as("h_prev"))
    val b = hb.select($"h".as("h_prev"),
      round($"sc".cast("double") / $"c").cast("long").as("y"))
    val p = a.join(b, Seq("h_prev"))
    val s = p.groupBy($"lag").agg(
      count(lit(1)).cast("double").as("n"),
      sum($"x").cast("double").as("sx"), sum($"y").cast("double").as("sy"),
      sum($"x" * $"x").cast("double").as("sxx"),
      sum($"y" * $"y").cast("double").as("syy"),
      sum($"x" * $"y").cast("double").as("sxy"))
    s.select($"lag", $"n".cast("long").as("n_pairs"),
      round(($"n" * $"sxy" - $"sx" * $"sy") /
        sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
          ($"n" * $"syy" - $"sy" * $"sy")), 6).as("acf"))
      .orderBy($"lag")
  }

  /** Modified-z-score (MAD) outliers per event_type: robust z =
    * 0.6745·(x − median)/MAD with the |z| > 3.5 Iglewicz–Hoaglin cut —
    * the median-based sibling of q153's IQR fences, preferred when even
    * the quartiles are contaminated. Median and MAD are exact percentiles
    * ROUNDED to 4 decimals on both engines before z is formed (the q153
    * fence discipline against last-ulp interpolation skew), and z itself
    * is emitted as FLOOR(z·10⁴) basis points — `round` is the one
    * operation the engines implement differently (Spark: decimal-string
    * HALF_UP; DuckDB: binary-double rounding), so a z landing exactly on
    * a half-boundary — which 4-decimal rational inputs make possible —
    * rounds apart while flooring the identical double cannot.
    *
    * 100 TB plan: two grouped percentile passes (the second over a
    * derived |x − med| projection with the 5-row median table broadcast),
    * then one map-side flag scan — same shape as q153 with one extra
    * broadcast round. */
  val q188MadOutliers: GraftQuery = GraftQuery.oracled(
    "q188_mad_outliers",
    """WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
      |            FROM events GROUP BY 1),
      |mad AS (SELECT e.event_type, round(quantile_cont(abs(e.value - med.med), 0.5), 4) AS mad
      |        FROM events e JOIN med USING (event_type) GROUP BY 1)
      |SELECT e.event_id, e.event_type, round(e.value, 2) AS value,
      |       CAST(floor(0.6745 * (e.value - med.med) / mad.mad * 10000) AS BIGINT) AS z_bp
      |FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
      |WHERE abs(0.6745 * (e.value - med.med) / mad.mad) > 3.5
      |ORDER BY e.event_id""") { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy($"event_type")
      .agg(round(expr("percentile(value, 0.5D)"), 4).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy($"event_type")
      .agg(round(expr("percentile(abs(value - med), 0.5D)"), 4).as("mad"))
    val z = lit(0.6745) * ($"value" - $"med") / $"mad"
    ev.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .filter(abs(z) > 3.5)
      .select($"event_id", $"event_type", round($"value", 2).as("value"),
        floor(z * 10000).cast("long").as("z_bp"))
      .orderBy($"event_id")
  }

  /** `df.stat.crosstab` — the contingency-table EDA primitive
    * (status × priority counts, one column per priority value). Column
    * names are sanitized (space → _) because parquet rejects them raw,
    * and the oracle states the same table as conditional aggregates with
    * matching names — crosstab's cell math must agree exactly.
    *
    * Scale note: crosstab plans as one pair-count hash aggregate + a
    * driver-side pivot of the DISTINCT COLUMN VALUES only (bounded by the
    * category domain, 5 here) — the row space never collects. */
  val q208Crosstab: GraftQuery = GraftQuery.oracled(
    "q208_crosstab",
    """SELECT o_orderstatus AS status,
      |       CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS p1_urgent,
      |       CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS p2_high,
      |       CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3_medium,
      |       CAST(count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4_not_specified,
      |       CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS p5_low
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY status""") { (spark, dir) =>
    import spark.implicits._
    val ct = Tables.orders(spark, dir)
      .stat.crosstab("o_orderstatus", "o_orderpriority")
    val renames = Map(
      "o_orderstatus_o_orderpriority" -> "status",
      "1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high",
      "3-MEDIUM" -> "p3_medium", "4-NOT SPECIFIED" -> "p4_not_specified",
      "5-LOW" -> "p5_low")
    ct.columns.foldLeft(ct) { (d, c) =>
      d.withColumnRenamed(c, renames.getOrElse(c, c))
    }
      .select($"status", $"p1_urgent", $"p2_high", $"p3_medium",
        $"p4_not_specified", $"p5_low")
      .orderBy($"status")
  }

  /** Exact Gini coefficient of order value per market segment — the
    * inequality summary (rank formula: G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ),
    * x ascending). All moments are exact BIGINT cent sums (tie order
    * cannot change Σi·xᵢ — permuting ranks among EQUAL x leaves the sum
    * invariant, so no tie-break is even needed for determinism); the one
    * double division at the end divides the same two int64s on both
    * engines, and the result is floored to ppm. DuckDB's HUGEINT sums are
    * cast back down before the arithmetic.
    *
    * Scale note: one window rank + one hash agg per segment — the same
    * two-exchange shape as every ranked aggregate; no driver math. */
  val q222Gini: GraftQuery = GraftQuery.oracled(
    "q222_gini",
    """WITH j AS (SELECT c.c_mktsegment AS segment,
      |                  CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |r AS (SELECT segment, cents,
      |             row_number() OVER (PARTITION BY segment ORDER BY cents) AS i
      |      FROM j),
      |m AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(cents) AS BIGINT) AS s,
      |             CAST(sum(i * cents) AS BIGINT) AS w
      |      FROM r GROUP BY segment)
      |SELECT segment, n,
      |       CAST(floor(CAST(2 * w - (n + 1) * s AS DOUBLE) * 1000000
      |                  / CAST(n * s AS DOUBLE)) AS BIGINT) AS gini_ppm
      |FROM m
      |ORDER BY segment""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val j = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("segment"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    val w = Window.partitionBy($"segment").orderBy($"cents")
    j.withColumn("i", row_number().over(w))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        sum($"i" * $"cents").as("w"))
      .select($"segment", $"n",
        floor((lit(2) * $"w" - ($"n" + 1) * $"s").cast("double") * 1000000
          / ($"n" * $"s").cast("double")).cast("long").as("gini_ppm"))
      .orderBy($"segment")
  }

  /** Pairwise correlation MATRIX (Pearson + Spearman) over the three
    * lineitem measures — the EDA "corr heatmap" cell. Spearman uses
    * average-rank ties (`avg(row_number) OVER (PARTITION BY value)`), which
    * is permutation-invariant within a tie group, so no tie-break key is
    * needed for determinism; both engines then take plain Pearson over the
    * rank columns. Output is the upper triangle as rows.
    *
    * Scale note: ranks are NOT computed with a global per-row sort — the
    * average rank of a tie group is a closed form over the value census
    * (cum_inclusive − (n−1)/2), so each measure needs one hash-agg to its
    * DISTINCT values, one cumulative window over that (bounded) census,
    * and one equi-join back to rows (q227's sort-over-distinct
    * discipline). The DuckDB oracle keeps the textbook row_number
    * formulation — identical values, independently derived. The corr
    * aggregate itself is algebraic — one map-side-combined pass. */
  val q226CorrMatrix: GraftQuery = GraftQuery.oracled(
    "q226_corr_matrix",
    """WITH r AS (
      |  SELECT l_quantity AS q, l_extendedprice AS p, l_discount AS d,
      |         avg(rq0) OVER (PARTITION BY l_quantity)      AS rq,
      |         avg(rp0) OVER (PARTITION BY l_extendedprice) AS rp,
      |         avg(rd0) OVER (PARTITION BY l_discount)      AS rd
      |  FROM (SELECT l_quantity, l_extendedprice, l_discount,
      |               CAST(row_number() OVER (ORDER BY l_quantity) AS DOUBLE)      AS rq0,
      |               CAST(row_number() OVER (ORDER BY l_extendedprice) AS DOUBLE) AS rp0,
      |               CAST(row_number() OVER (ORDER BY l_discount) AS DOUBLE)      AS rd0
      |        FROM lineitem))
      |SELECT * FROM (
      |  SELECT 'quantity' AS var_x, 'extendedprice' AS var_y,
      |         round(corr(q, p), 4) AS pearson, round(corr(rq, rp), 4) AS spearman FROM r
      |  UNION ALL
      |  SELECT 'quantity', 'discount', round(corr(q, d), 4), round(corr(rq, rd), 4) FROM r
      |  UNION ALL
      |  SELECT 'extendedprice', 'discount', round(corr(p, d), 4), round(corr(rp, rd), 4) FROM r)
      |ORDER BY var_x, var_y""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.DataFrame
    // average rank per VALUE from the census: cum_inclusive - (n-1)/2
    def rankMap(df: DataFrame, c: String, rc: String): DataFrame = {
      val w = Window.orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .withColumn("cum", sum($"n").over(w))
        .select(col(c), ($"cum" - ($"n" - 1) / 2.0).as(rc))
    }
    val rows = Tables.lineitem(spark, dir)
      .select($"l_quantity".as("q"), $"l_extendedprice".as("p"), $"l_discount".as("d"))
    val base = rows
      .join(rankMap(rows, "q", "rq"), Seq("q"))
      .join(rankMap(rows, "p", "rp"), Seq("p"))
      .join(rankMap(rows, "d", "rd"), Seq("d"))
    // all six coefficients in ONE aggregate pass (the joins run once);
    // the single-row result is checkpointed before fanning out to rows
    val one = base.agg(
      RelationalCore.stat(corr($"q", $"p")).as("p_qp"),
      RelationalCore.stat(corr($"rq", $"rp")).as("s_qp"),
      RelationalCore.stat(corr($"q", $"d")).as("p_qd"),
      RelationalCore.stat(corr($"rq", $"rd")).as("s_qd"),
      RelationalCore.stat(corr($"p", $"d")).as("p_pd"),
      RelationalCore.stat(corr($"rp", $"rd")).as("s_pd"))
      .localCheckpoint()
    def pair(nx: String, ny: String, pc: String, sc: String) =
      one.select(lit(nx).as("var_x"), lit(ny).as("var_y"),
        col(pc).as("pearson"), col(sc).as("spearman"))
    pair("quantity", "extendedprice", "p_qp", "s_qp")
      .unionAll(pair("quantity", "discount", "p_qd", "s_qd"))
      .unionAll(pair("extendedprice", "discount", "p_pd", "s_pd"))
      .orderBy($"var_x", $"var_y")
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the md5-coin halves
    * of `orders.o_totalprice` (same portable split as q152's PSI): the
    * sup-norm ECDF distance sup_x |F_a(x) − F_b(x)|, computed exactly and
    * relationally — group by value, one cumulative window over the sorted
    * distinct values, max of the gap. The classic distribution-shift test
    * to PSI's binned score.
    *
    * Scale note: the group-by collapses to distinct values BEFORE the
    * window, so the sort is over |distinct(x)|, not |rows|; the two totals
    * are a broadcast-back scalar. One shuffle + one bounded sort. */
  val q227KsTest: GraftQuery = GraftQuery.oracled(
    "q227_ks_test",
    """WITH s AS (SELECT o_totalprice AS x,
      |                  CASE WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |                       THEN 'a' ELSE 'b' END AS split
      |           FROM orders),
      |g AS (SELECT x,
      |             sum(CASE WHEN split = 'a' THEN 1 ELSE 0 END) AS na,
      |             sum(CASE WHEN split = 'b' THEN 1 ELSE 0 END) AS nb
      |      FROM s GROUP BY x),
      |t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM g),
      |c AS (SELECT x,
      |             sum(na) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
      |             sum(nb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      |      FROM g)
      |SELECT CAST(t.ta AS BIGINT) AS n_a, CAST(t.tb AS BIGINT) AS n_b,
      |       round(max(abs(CAST(c.ca AS DOUBLE) / t.ta - CAST(c.cb AS DOUBLE) / t.tb)), 6) AS ks_stat
      |FROM c, t GROUP BY t.ta, t.tb""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val s = Tables.orders(spark, dir).select($"o_totalprice".as("x"),
      when(conv(substring(md5($"o_orderkey".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2 === 0, "a").otherwise("b").as("split"))
    val g = s.groupBy($"x")
      .agg(sum(when($"split" === "a", 1).otherwise(0)).as("na"),
        sum(when($"split" === "b", 1).otherwise(0)).as("nb"))
    val w = Window.orderBy($"x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = g.select($"x", sum($"na").over(w).as("ca"), sum($"nb").over(w).as("cb"))
    val t = g.agg(sum($"na").as("ta"), sum($"nb").as("tb"))
    c.crossJoin(t)
      .groupBy($"ta", $"tb")
      .agg(round(max(abs($"ca".cast("double") / $"ta" - $"cb".cast("double") / $"tb")), 6).as("ks_stat"))
      .select($"ta".cast("long").as("n_a"), $"tb".cast("long").as("n_b"), $"ks_stat")
  }

  /** Exact MUTUAL INFORMATION between two categoricals (status ×
    * priority) in nats — the information-theoretic dependence measure
    * feature selection ranks by (chi-square q184's sibling: MI weighs the
    * same contingency cells by log-ratio instead of squared residual).
    * I(X;Y) = Σ p_xy·ln(p_xy/(p_x·p_y)) over observed cells, computed from
    * one exact count grid; also reports the normalized variant
    * I/min(H(X),H(Y)) so 0 = independent, 1 = functional dependence.
    *
    * 100 TB plan: one hash agg to the |X|×|Y| grid (tiny), marginals and
    * entropies derived from the grid — the data is scanned once. */
  val q241MutualInfo: GraftQuery = GraftQuery.oracled(
    "q241_mutual_info",
    """WITH c AS (SELECT o_orderstatus AS x, o_orderpriority AS y, count(*) AS n
      |           FROM orders GROUP BY 1, 2),
      |t AS (SELECT sum(n) AS tot FROM c),
      |px AS (SELECT x, sum(n) AS nx FROM c GROUP BY x),
      |py AS (SELECT y, sum(n) AS ny FROM c GROUP BY y),
      |mi AS (SELECT sum((CAST(c.n AS DOUBLE) / t.tot)
      |                  * ln(CAST(c.n AS DOUBLE) * t.tot / (CAST(px.nx AS DOUBLE) * py.ny))) AS i
      |       FROM c JOIN px USING (x) JOIN py USING (y), t),
      |hx AS (SELECT -sum((CAST(nx AS DOUBLE) / t.tot) * ln(CAST(nx AS DOUBLE) / t.tot)) AS h
      |       FROM px, t),
      |hy AS (SELECT -sum((CAST(ny AS DOUBLE) / t.tot) * ln(CAST(ny AS DOUBLE) / t.tot)) AS h
      |       FROM py, t)
      |SELECT round(mi.i, 6) AS mi_nats,
      |       round(mi.i / least(hx.h, hy.h), 6) AS mi_normalized
      |FROM mi, hx, hy""") { (spark, dir) =>
    import spark.implicits._
    val c = Tables.orders(spark, dir)
      .groupBy($"o_orderstatus".as("x"), $"o_orderpriority".as("y"))
      .agg(count(lit(1)).as("n"))
    val t = c.agg(sum($"n").as("tot"))
    val px = c.groupBy($"x").agg(sum($"n").as("nx"))
    val py = c.groupBy($"y").agg(sum($"n").as("ny"))
    val joined = c.join(broadcast(px), Seq("x")).join(broadcast(py), Seq("y"))
      .crossJoin(broadcast(t))
    val mi = joined.agg(sum(($"n".cast("double") / $"tot")
      * log($"n".cast("double") * $"tot" / ($"nx".cast("double") * $"ny"))).as("i"))
    val hx = px.crossJoin(broadcast(t))
      .agg((-sum(($"nx".cast("double") / $"tot") * log($"nx".cast("double") / $"tot"))).as("h"))
    val hy = py.crossJoin(broadcast(t))
      .agg((-sum(($"ny".cast("double") / $"tot") * log($"ny".cast("double") / $"tot"))).as("h"))
    mi.crossJoin(hx.toDF("hx")).crossJoin(hy.toDF("hy"))
      .select(round($"i", 6).as("mi_nats"),
        round($"i" / least($"hx", $"hy"), 6).as("mi_normalized"))
  }

  /** CUPED variance reduction (Deng et al. WSDM'13) for the q163-style
    * A/B test: each user's PRE-period activity (value before Jan 15) is
    * the control covariate; θ = cov(x,y)/var(x) over the pooled users,
    * and the adjusted metric y − θ·(x − x̄) provably keeps each arm's
    * mean estimand while shrinking variance by ρ² — reported per arm as
    * mean / adjusted mean / raw and adjusted variance, so the shrink is
    * visible in the output, not asserted.
    *
    * 100 TB plan: one conditional per-user rollup (hash agg), one
    * two-scalar broadcast (θ, x̄), one per-arm moment agg — three
    * map-side-combined passes, nothing per-row on the driver. */
  val q248Cuped: GraftQuery = GraftQuery.oracled(
    "q248_cuped",
    """WITH u AS (
      |  SELECT user_id,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 'a' ELSE 'b' END AS arm,
      |         sum(CASE WHEN ts <  TIMESTAMP '2024-01-15' THEN value ELSE 0 END) AS x,
      |         sum(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN value ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |s AS (SELECT covar_samp(x, y) / var_samp(x) AS theta, avg(x) AS mx FROM u)
      |SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |       round(avg(y), 4) AS mean_y,
      |       round(avg(y - s.theta * (x - s.mx)), 4) AS mean_y_cuped,
      |       round(var_samp(y), 4) AS var_y,
      |       round(var_samp(y - s.theta * (x - s.mx)), 4) AS var_y_cuped
      |FROM u, s GROUP BY arm, s.theta, s.mx
      |ORDER BY arm""") { (spark, dir) =>
    import spark.implicits._
    val u = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        sum(when($"ts" < lit("2024-01-15").cast("timestamp"), $"value").otherwise(0.0)).as("x"),
        sum(when($"ts" >= lit("2024-01-15").cast("timestamp"), $"value").otherwise(0.0)).as("y"))
      .withColumn("arm",
        when(conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 2 === 0, "a").otherwise("b"))
    val s = u.agg((covar_samp($"x", $"y") / var_samp($"x")).as("theta"),
      avg($"x").as("mx"))
    u.crossJoin(broadcast(s))
      .groupBy($"arm")
      .agg(count(lit(1)).as("n"),
        RelationalCore.stat(avg($"y")).as("mean_y"),
        RelationalCore.stat(avg($"y" - $"theta" * ($"x" - $"mx"))).as("mean_y_cuped"),
        RelationalCore.stat(var_samp($"y")).as("var_y"),
        RelationalCore.stat(var_samp($"y" - $"theta" * ($"x" - $"mx"))).as("var_y_cuped"))
      .orderBy($"arm")
  }

  /** LORENZ CONCENTRATION table — the curve q222's Gini integrates,
    * materialized as revenue deciles: customers ranked by lifetime spend
    * (exact cents, unique tie-break), cut into ntile(10), each decile
    * reporting its exact cents and the cumulative share in ppm. "The top
    * decile holds X% of revenue" — whale analysis, exactly.
    *
    * 100 TB plan: one per-customer rollup, then a TWO-PHASE decile cut
    * (TwoPhase.rowNumber: per-bin parallel ranks + bins-sized broadcast
    * offsets) over the customer census — no single-task census sort at any
    * customer count; constant-size output. */
  val q271LorenzDeciles: GraftQuery = GraftQuery.oracled(
    "q271_lorenz_deciles",
    """WITH c AS (SELECT o_custkey,
      |                  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      |           FROM orders GROUP BY 1),
      |d AS (SELECT o_custkey, cents,
      |             ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
      |      FROM c),
      |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
      |             CAST(sum(cents) AS BIGINT) AS cents
      |      FROM d GROUP BY decile),
      |t AS (SELECT sum(cents) AS total FROM g)
      |SELECT decile, n_customers, cents,
      |       CAST(CAST(sum(cents) OVER (ORDER BY decile) AS HUGEINT) * 1000000 // t.total AS BIGINT) AS cum_share_ppm
      |FROM g, t
      |ORDER BY decile""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val c = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
    // two-phase decile cut over the customer census (bucket = spend-monotone
    // cents bin): parallel per-bin ranks + bins-sized broadcast offsets —
    // never a single-task census sort, even at billion-customer counts
    val d = TwoPhase.rowNumber(c,
        bucket = floor($"cents" / 1000000.0),
        sort = Seq($"cents", $"o_custkey"),
        out = "rn", totalOut = Some("n_total"))
      .withColumn("decile", TwoPhase.ntileFromRn($"rn", $"n_total", 10))
    val g = d.groupBy($"decile")
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum($"cents").cast("long").as("cents"))
    val t = g.agg(sum($"cents").as("total"))
    g.crossJoin(broadcast(t))
      .withColumn("cum", sum($"cents").over(
        Window.orderBy($"decile").rowsBetween(Window.unboundedPreceding, 0)))
      // sf1 overflow fix (r9 sweep): cum·10⁶ passes 2⁶³ at ~3.8e13 total
      // cents (3.8e19 measured at the ×10 tier) — q362's documented class.
      // DECIMAL(38,0) widening on this side, HUGEINT on the DuckDB side;
      // the integer quotient is identical.
      .select($"decile", $"n_customers", $"cents",
        expr("CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 DIV total AS BIGINT)")
          .as("cum_share_ppm"))
      .orderBy($"decile")
  }

  /** CUSUM change-point detection, exact-integer form: for each event
    * type's cents series (ordered by time), the scaled deviation
    * T_t = n·cumsum_t − t·total is BIGINT-exact (multiplying the usual
    * cumsum-minus-running-mean through by n removes the division), and
    * the change point is argmax |T_t| with the earliest-position
    * tie-break — where the series' level most decisively shifts. No float
    * exists anywhere in the statistic.
    *
    * 100 TB plan: one window sort per type (shared by the cumsum and the
    * position), one broadcast of per-type (n, total), one bounded argmax. */
  val q272CusumChangepoint: GraftQuery = GraftQuery.oracled(
    "q272_cusum_changepoint",
    """WITH e AS (SELECT event_type, event_id,
      |                  date_trunc('microseconds', ts) AS ts,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |           FROM events),
      |t AS (SELECT event_type, count(*) AS n, sum(cents) AS total FROM e GROUP BY 1),
      |c AS (SELECT e.event_type, e.event_id, e.ts, t.n,
      |             CAST(row_number() OVER w AS BIGINT) AS pos,
      |             t.n * sum(e.cents) OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
      |                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |               - CAST(row_number() OVER w AS BIGINT) * t.total AS tt
      |      FROM e JOIN t USING (event_type)
      |      WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id)),
      |r AS (SELECT event_type, pos, ts, tt, n,
      |             row_number() OVER (PARTITION BY event_type ORDER BY abs(tt) DESC, pos) AS rk
      |      FROM c)
      |SELECT event_type, CAST(n AS BIGINT) AS n, pos AS change_pos, ts AS change_ts,
      |       CAST(abs(tt) AS BIGINT) AS max_abs_scaled
      |FROM r WHERE rk = 1
      |ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select($"event_type", $"event_id", $"ts",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    val t = e.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("total"))
    val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = e.join(broadcast(t), Seq("event_type"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("tt", $"n" * sum($"cents").over(wRun) - $"pos" * $"total")
    c.withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy(abs($"tt").desc, $"pos")))
      .filter($"rk" === 1)
      .select($"event_type", $"n".cast("long").as("n"), $"pos".as("change_pos"),
        $"ts".as("change_ts"), abs($"tt").cast("long").as("max_abs_scaled"))
      .orderBy($"event_type")
  }

  /** POISSON BOOTSTRAP confidence interval (Chamandy et al. 2012, "Estimating
    * Uncertainty for Massive Data Streams" — the Google-scale bootstrap):
    * instead of materializing B resamples, each row gets B independent
    * Poisson(1) weights — a single streaming pass computes every replica's
    * weighted mean simultaneously. Weights here are DETERMINISTIC: the
    * portable md5 coin (q102's trick) keyed on (o_orderkey, replica) is
    * inverted through the Poisson(1) CDF via integer thresholds (×10⁶)
    * written as identical literals on both engines, so the oracle
    * reproduces the exact same 100 replicas bit-for-bit. Output: the point
    * estimate, the bootstrap SE, and the 95% percentile CI of
    * mean(o_totalprice).
    *
    * 100 TB plan: the explode is map-side (no shuffle until the
    * 100-group agg), each replica reduces to (Σwx, Σw) partials — the
    * whole bootstrap is ONE map-side-combined hash-agg over B·n rows into
    * B rows, then constant-size percentile work. No resampled copies of
    * the data ever exist; contrast a naive bootstrap's B full shuffles. */
  val q281PoissonBootstrap: GraftQuery = GraftQuery.oracled(
    "q281_poisson_bootstrap",
    """WITH w AS (
      |  SELECT b.b, o.o_totalprice,
      |         ((xor(CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT),
      |               b.b * 2654435761) % 4294967296) * 1597334677 % 4294967296) % 1000000 AS u
      |  FROM orders o CROSS JOIN (SELECT unnest(range(0, 100)) AS b) b),
      |pw AS (
      |  SELECT b, o_totalprice,
      |         CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
      |              WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
      |              WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
      |              WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
      |              ELSE 8 END AS w
      |  FROM w),
      |rep AS (SELECT b, sum(w * o_totalprice) / sum(w) AS mean_b
      |        FROM pw GROUP BY b),
      |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |              round(avg(o_totalprice), 2) AS mean_price FROM orders)
      |SELECT pt.n_rows, pt.mean_price,
      |       round(stddev_samp(rep.mean_b), 4) AS se_boot,
      |       round(quantile_cont(rep.mean_b, 0.025), 2) AS ci_lo,
      |       round(quantile_cont(rep.mean_b, 0.975), 2) AS ci_hi
      |FROM rep, pt
      |GROUP BY pt.n_rows, pt.mean_price""") { (spark, dir) =>
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_totalprice")
    // ONE md5 per row (not per replica): the 32-bit draw is mixed per
    // replica with portable integer arithmetic (xor + odd-multiplier,
    // widths chosen so no product exceeds 2^63 on either engine) — cuts
    // the forced-eval cost from 13.4 s to ~1 s at sf0.1 while keeping the
    // weights deterministic and engine-identical.
    val pw = o
      .withColumn("h",
        conv(substring(md5($"o_orderkey".cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("b", explode(sequence(lit(0), lit(99))))
      .withColumn("u",
        ($"h".bitwiseXOR($"b".cast("long") * 2654435761L) % 4294967296L)
          * 1597334677L % 4294967296L % 1000000L)
      .withColumn("w",
        when($"u" < 367879, 0).when($"u" < 735759, 1)
          .when($"u" < 919699, 2).when($"u" < 981012, 3)
          .when($"u" < 996340, 4).when($"u" < 999406, 5)
          .when($"u" < 999917, 6).when($"u" < 999990, 7)
          .otherwise(8))
    val rep = pw.groupBy($"b")
      .agg((sum($"w" * $"o_totalprice") / sum($"w")).as("mean_b"))
    val pt = o.agg(count(lit(1)).cast("long").as("n_rows"),
      round(avg($"o_totalprice"), 2).as("mean_price"))
    rep.crossJoin(broadcast(pt))
      .groupBy($"n_rows", $"mean_price")
      .agg(round(stddev_samp($"mean_b"), 4).as("se_boot"),
        round(expr("percentile(mean_b, 0.025)"), 2).as("ci_lo"),
        round(expr("percentile(mean_b, 0.975)"), 2).as("ci_hi"))
      .select($"n_rows", $"mean_price", $"se_boot", $"ci_lo", $"ci_hi")
  }

  /** MANN–WHITNEY U (Wilcoxon rank-sum) — the NONPARAMETRIC two-sample
    * test on exactly q163's md5 arms: does arm A's `value` distribution
    * stochastically dominate B's, no normality assumed? Computed in the
    * census closed form (the q226 Spearman trick): distinct-value counts →
    * cumulative "below" → average ranks with ties → rank-sum R_A, then
    * U_A = R_A − n_A(n_A+1)/2 and the tie-corrected normal approximation
    * z = (U_A − n_A·n_B/2) / √(n_A·n_B/12·((N+1) − Σ(t³−t)/(N(N−1)))).
    * Every intermediate is a half-integer-valued double < 2⁵³, so the
    * sums are ORDER-INDEPENDENT and exact — the statistic is bit-identical
    * across engines before the final division.
    *
    * 100 TB plan: one hash-agg census (map-side combined), then the
    * cumulative "below" over DISTINCT values runs TWO-PHASE
    * (TwoPhase.runningSum, bucket = floor(value)): per-bin parallel
    * cumsums + a bins-sized broadcast prefix — no single-task census
    * window even when the distinct-value census is itself row-scale —
    * and a constant-size final reduction. */
  val q284MannWhitney: GraftQuery = GraftQuery.oracled(
    "q284_mann_whitney",
    """WITH e AS (
      |  SELECT value,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE 0 END AS isa
      |  FROM events),
      |c AS (SELECT value, CAST(count(*) AS DOUBLE) AS cnt,
      |             CAST(sum(isa) AS DOUBLE) AS cnta
      |      FROM e GROUP BY value),
      |r AS (SELECT cnt, cnta,
      |             sum(cnt) OVER (ORDER BY value
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS below
      |      FROM c),
      |s AS (SELECT sum(cnta * (below + (cnt + 1) / 2)) AS ra,
      |             sum(cnta) AS na, sum(cnt) AS n,
      |             sum(cnt * cnt * cnt - cnt) AS tie
      |      FROM r)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(n - na AS BIGINT) AS n_b,
      |       round(ra - na * (na + 1) / 2, 1) AS u_a,
      |       round((ra - na * (na + 1) / 2 - na * (n - na) / 2)
      |             / sqrt(na * (n - na) / 12 * ((n + 1) - tie / (n * (n - 1)))), 4) AS z
      |FROM s""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val isa = when(
      conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2L === 0L, 1).otherwise(0)
    val c = Tables.events(spark, dir)
      .select($"value", isa.as("isa"))
      .groupBy($"value")
      .agg(count(lit(1)).cast("double").as("cnt"),
        sum($"isa").cast("double").as("cnta"))
    val s = TwoPhase.runningSum(c,
        bucket = floor($"value"),
        sort = Seq($"value"),
        value = $"cnt",
        out = "cum")
      .withColumn("below", $"cum" - $"cnt")
      .agg(sum($"cnta" * ($"below" + ($"cnt" + 1) / 2)).as("ra"),
        sum($"cnta").as("na"), sum($"cnt").as("n"),
        sum($"cnt" * $"cnt" * $"cnt" - $"cnt").as("tie"))
    s.select(
      $"na".cast("long").as("n_a"),
      ($"n" - $"na").cast("long").as("n_b"),
      round($"ra" - $"na" * ($"na" + 1) / 2, 1).as("u_a"),
      round(($"ra" - $"na" * ($"na" + 1) / 2 - $"na" * ($"n" - $"na") / 2)
        / sqrt($"na" * ($"n" - $"na") / 12
          * (($"n" + 1) - $"tie" / ($"n" * ($"n" - 1)))), 4).as("z"))
  }

  /** GROUP K-FOLD SPLIT + LEAKAGE AUDIT (the GroupKFold of scikit-learn's
    * model-selection module, done relationally) — q415's row-level CV fold
    * assignment is WRONG whenever rows correlate within an entity: orders
    * of one customer in both train and validation leak entity signal and
    * inflate the score (the "grouped data" pitfall every feature-store CV
    * design guards against). Fold = md5(customer key) % 5 — the GROUP, not
    * the row, picks the fold — and the audit columns make the contract
    * driver-verified: per fold, order/group counts, corpus share, revenue
    * mass, and the cross-fold-leaky-group count, which is STRUCTURALLY
    * zero under group hashing (the column exists so any future
    * re-implementation that breaks the invariant fails the strict gate
    * loudly, not silently).
    *
    * 100 TB plan: fold assignment is a pure per-row projection (no shuffle
    * — the md5 rides the scan); the audit is one fold-keyed hash-agg plus
    * a group-keyed distinct-fold census, both map-side combinable. */
  val q492GroupKfold: GraftQuery = GraftQuery.oracled(
    "q492_group_kfold",
    """WITH f AS (SELECT o_custkey, o_orderkey,
      |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |                  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
      |           FROM orders),
      |leak AS (SELECT CAST(count(*) AS BIGINT) AS n_leaky
      |         FROM (SELECT o_custkey FROM f GROUP BY o_custkey
      |               HAVING count(DISTINCT fold) > 1)),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)
      |SELECT fold, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_groups,
      |       CAST((1000000 * count(*)) // tot.n AS BIGINT) AS share_ppm,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       leak.n_leaky
      |FROM f, leak, tot GROUP BY fold, leak.n_leaky, tot.n
      |ORDER BY fold""") { (spark, dir) =>
    import spark.implicits._
    val f = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        (conv(substring(md5($"o_custkey".cast("string")), 1, 8), 16, 10)
          .cast("long") % 5).as("fold"))
    val leak = f.groupBy($"o_custkey")
      .agg(countDistinct($"fold").as("nf")).filter($"nf" > 1)
      .agg(count(lit(1)).cast("long").as("n_leaky"))
    val tot = f.agg(count(lit(1)).cast("long").as("n"))
    f.groupBy($"fold")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        countDistinct($"o_custkey").cast("long").as("n_groups"),
        sum($"cents").cast("long").as("sum_cents"))
      .crossJoin(broadcast(leak)).crossJoin(broadcast(tot))
      .select($"fold", $"n_orders", $"n_groups",
        expr("(1000000 * n_orders) div n").as("share_ppm"),
        $"sum_cents", $"n_leaky")
      .orderBy($"fold")
  }

  /** CLASS-WEIGHT TABLE for imbalanced training — the two standard
    * re-weighting schemes every loss-weighting config starts from:
    * inverse-frequency w_c = N/(k·n_c) (sklearn's "balanced" mode) and
    * square-root-dampened w_c = √(N/n_c) (the softened variant used when
    * full inverse-frequency over-corrects). Integer ppm for the first;
    * the second uses IEEE sqrt — correctly rounded by the standard, so
    * both engines produce the identical double and the strict gate holds
    * without any summation-order caveat.
    *
    * 100 TB plan: one label census hash-agg (map-side combinable) + a
    * 1-row total broadcast; the weight table is label-domain-sized and
    * broadcasts back into the training scan. */
  val q498ClassWeights: GraftQuery = GraftQuery.oracled(
    "q498_class_weights",
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_c FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(n_c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k FROM c)
      |SELECT lang, n_c,
      |       (1000000 * t.n) // (t.k * n_c) AS inv_freq_ppm,
      |       round(sqrt(CAST(t.n AS DOUBLE) / n_c), 6) AS sqrt_inv_weight
      |FROM c, t ORDER BY lang""") { (spark, dir) =>
    import spark.implicits._
    val c = Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).cast("long").as("n_c"))
    val t = c.agg(sum($"n_c").cast("long").as("n"), count(lit(1)).cast("long").as("k"))
    c.crossJoin(broadcast(t))
      .select($"lang", $"n_c",
        expr("(1000000 * n) div (k * n_c)").as("inv_freq_ppm"),
        round(sqrt($"n".cast("double") / $"n_c"), 6).as("sqrt_inv_weight"))
      .orderBy($"lang")
  }

  def all: Seq[GraftQuery] = Seq(
    q498ClassWeights,
    q84Describe, q85QuantileDiscretize, q152DriftPsi, q153IqrOutliers,
    q163AbZTest, q167Winsorize, q175DecileLift, q181OlsTrend,
    q184ChiSquare, q185Benford, q186Acf, q188MadOutliers, q208Crosstab,
    q222Gini, q226CorrMatrix, q227KsTest, q241MutualInfo, q248Cuped,
    q271LorenzDeciles, q272CusumChangepoint, q273AnovaF, q274StableAggs,
    q281PoissonBootstrap, q284MannWhitney, q292TheilDecomposition,
    q293DiffInDiff, q295ProportionZTest, q303EbShrinkage, q305BhFdr,
    q306CemMatching, q309SimpsonDetector, q311Ols2Feature, q315MiFeatureRank,
    q319HuberIrls, q322ExactAuc, q333PowerMde, q335Log2Histogram,
    q339FdHistogram, q340KendallTau, q341MedianOfMeans, q347HuberApproxScale,
    q374StatCovCorr, q375FreqItems, q403BradleyTerry, q404CalibrationEce,
    q408ConformalCoverage, q412SequentialObf, q415KfoldCv, q416MannKendall,
    q492GroupKfold,
    q421JackknifeRatio, q422QuantileTreatmentEffect, q425BrierDecomposition,
    q426DelongAucCi, q436SesBacktest, q438PlattScaling, q440PoissonRegression,
    q441NbDispersion, q443DtwMatrix, q444SaxWords, q445Periodogram,
    q450TheilSen, q451HodgesLehmann, q460KruskalWallis, q461McNemar,
    q462BrownForsythe, q467HillEstimator)

  /** `DataFrameStatFunctions.cov` / `.corr` — the DRIVER-SCALAR stat API
    * (distinct from q26's covar_samp SQL aggregates: this path returns a
    * Double straight to the driver through the df.stat entry point).
    * The two API scalars are emitted as a 1-row result and oracle'd
    * against DuckDB's covariance/correlation aggregates — the stat API
    * must agree with plain SQL aggregation cross-engine, or the
    * convenience surface is lying. NOTE df.stat.cov computes SAMPLE
    * covariance; the oracle states covar_samp.
    *
    * 100 TB plan: each stat call is one map-side-combined moments agg —
    * the same plan as the SQL form; only the return channel differs. */
  val q374StatCovCorr: GraftQuery = GraftQuery.oracled(
    "q374_stat_cov_corr",
    """SELECT round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price,
      |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
      |FROM lineitem""") { (spark, dir) =>
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val cov = li.stat.cov("l_quantity", "l_extendedprice")
    val r = li.stat.corr("l_quantity", "l_extendedprice")
    // HALF_UP to match both engines' round() semantics on the same double.
    // Rounding margin (ADVICE r5): these are driver-scalar API calls whose
    // summation order can't be pinned; cov (magnitude ~10³) rounds at 2dp
    // and corr (|corr| ≤ 1) at 4dp so order jitter (~1e-10 relative) sits
    // orders of magnitude inside the rounding cell on both engines.
    def rd(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((rd(cov, 2), rd(r, 4))).toDF("cov_qty_price", "corr_qty_price")
  }

  /** `df.stat.freqItems` — the Karp–Shenker–Papadimitriou single-pass
    * frequent-element sketch behind DataFrameStatFunctions: candidates
    * for "appears in > 10% of rows" from one scan, false positives
    * allowed, false negatives NOT. The candidate LIST is partition-order
    * specific, so since r6 the entry ships PRINT-BOTH (q29's pattern):
    * the EXACT >10% value sets (sorted JSON) are strict-oracle'd, and the
    * sketch's one guarantee — no false negatives: every exact hot value
    * appears among its candidates — rides as booleans the oracle pins
    * TRUE. EdaSpec still gates the raw candidate lists.
    *
    * 100 TB plan: one treeAggregate pass, counter map bounded by 1/support
    * per partition — the cheap first look before an exact census (which
    * here is two low-cardinality value censuses). */
  val q375FreqItems: GraftQuery = GraftQuery.oracled(
    "q375_freq_items",
    """WITH n AS (SELECT count(*) AS n FROM lineitem),
      |f AS (SELECT l_returnflag AS v FROM lineitem, n GROUP BY v, n.n HAVING count(*) > 0.1 * n.n),
      |s AS (SELECT l_linestatus AS v FROM lineitem, n GROUP BY v, n.n HAVING count(*) > 0.1 * n.n)
      |SELECT (SELECT to_json(list(v ORDER BY v)) FROM f) AS hot_flags,
      |       (SELECT to_json(list(v ORDER BY v)) FROM s) AS hot_statuses,
      |       CAST(1 AS BOOLEAN) AS flags_no_false_negative,
      |       CAST(1 AS BOOLEAN) AS statuses_no_false_negative""") {
    (spark, dir) =>
      import spark.implicits._
      val li = Tables.lineitem(spark, dir)
      val cand = li.stat.freqItems(Seq("l_returnflag", "l_linestatus"), 0.1)
        .select($"l_returnflag_freqItems".as("cf"), $"l_linestatus_freqItems".as("cs"))
      val n = li.count()
      def hot(c: String) = li.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .filter($"cnt" > 0.1 * n)
        .agg(sort_array(collect_list($"v")).as("hot"))
      hot("l_returnflag").select($"hot".as("hf"))
        .crossJoin(hot("l_linestatus").select($"hot".as("hs")))
        .crossJoin(broadcast(cand))
        .select(
          to_json($"hf").as("hot_flags"),
          to_json($"hs").as("hot_statuses"),
          (size(array_except($"hf", $"cf")) === 0).as("flags_no_false_negative"),
          (size(array_except($"hs", $"cs")) === 0).as("statuses_no_false_negative"))
  }

  /** TWO-PROPORTION z-TEST on a funnel conversion: does arm A's
    * click→purchase user-conversion rate differ from B's? The
    * proportion-data complement of q163 (means) and q284 (ranks):
    * z = (p̂_A − p̂_B) / √(p̂(1−p̂)(1/n_A + 1/n_B)) with the pooled p̂.
    * Unit of analysis is the USER (converted = had any purchase), not the
    * event — rate tests on event-level denominators double-count active
    * users, the classic funnel-stats mistake. All counts are exact
    * integers; the single division/sqrt runs on identical operands both
    * engines.
    *
    * 100 TB plan: one user-level conditional census (two bool-max aggs
    * keyed on user) then a 2-row reduction — the user dimension shuffles
    * once, everything else is constant-size. */
  val q295ProportionZTest: GraftQuery = GraftQuery.oracled(
    "q295_proportion_ztest",
    """WITH u AS (
      |  SELECT user_id,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE 0 END AS treat,
      |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
      |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
      |  FROM events GROUP BY 1, 2),
      |f AS (SELECT treat, CAST(count(*) AS DOUBLE) AS n,
      |             CAST(sum(purchased) AS DOUBLE) AS conv
      |      FROM u WHERE clicked = 1 GROUP BY treat),
      |w AS (SELECT max(CASE WHEN treat = 1 THEN n END) AS na,
      |             max(CASE WHEN treat = 1 THEN conv END) AS ca,
      |             max(CASE WHEN treat = 0 THEN n END) AS nb,
      |             max(CASE WHEN treat = 0 THEN conv END) AS cb
      |      FROM f)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |       round(ca / na, 6) AS rate_a, round(cb / nb, 6) AS rate_b,
      |       CASE WHEN (ca + cb) = 0 OR (ca + cb) = (na + nb) THEN NULL
      |            ELSE round((ca / na - cb / nb)
      |                       / sqrt(((ca + cb) / (na + nb)) * (1 - (ca + cb) / (na + nb))
      |                              * (1 / na + 1 / nb)), 4) END AS z
      |FROM w""") { (spark, dir) =>
    import spark.implicits._
    val treat = when(
      conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2L === 0L, 1).otherwise(0)
    val u = Tables.events(spark, dir)
      .select($"user_id", treat.as("treat"), $"event_type")
      .groupBy($"user_id", $"treat")
      .agg(max(when($"event_type" === "click", 1).otherwise(0)).as("clicked"),
        max(when($"event_type" === "purchase", 1).otherwise(0)).as("purchased"))
    val f = u.filter($"clicked" === 1)
      .groupBy($"treat")
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"purchased").cast("double").as("conv"))
    val w = f.agg(
      max(when($"treat" === 1, $"n")).as("na"),
      max(when($"treat" === 1, $"conv")).as("ca"),
      max(when($"treat" === 0, $"n")).as("nb"),
      max(when($"treat" === 0, $"conv")).as("cb"))
    val pool = ($"ca" + $"cb") / ($"na" + $"nb")
    w.select(
      $"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
      round($"ca" / $"na", 6).as("rate_a"),
      round($"cb" / $"nb", 6).as("rate_b"),
      // degenerate pooled rate (0 or 1, e.g. tiny-SF "everyone converted")
      // has zero variance — emit NULL on both engines, never divide
      when($"ca" + $"cb" === 0 || $"ca" + $"cb" === $"na" + $"nb", lit(null))
        .otherwise(round(($"ca" / $"na" - $"cb" / $"nb")
          / sqrt(pool * (lit(1) - pool) * (lit(1) / $"na" + lit(1) / $"nb")), 4))
        .as("z"))
  }

  /** DIFFERENCE-IN-DIFFERENCES — the panel-data causal estimator that
    * q163 (cross-section z) and q248 (CUPED) don't cover: with q163's
    * md5 arms as treat/control and Jan-15 as the "intervention", the
    * effect estimate is (treat_post − treat_pre) − (ctrl_post − ctrl_pre)
    * — differencing out both the group-level baseline gap and the common
    * time trend. One pass computes all four cell means; the estimate is
    * pure projection algebra on the 4-cell grid. (On md5 arms with no
    * real intervention the estimate should hover near zero — the A/A
    * shape of the test, which is itself the standard validity check.)
    *
    * 100 TB plan: one map-side-combined conditional-aggregate scan — the
    * same constant-output shape as q163/q273; panels with millions of
    * units change the scan size, not the plan. */
  val q293DiffInDiff: GraftQuery = GraftQuery.oracled(
    "q293_diff_in_diff",
    """WITH e AS (
      |  SELECT value,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE 0 END AS treat,
      |         CASE WHEN date_trunc('microseconds', ts) >= TIMESTAMP '2024-01-15 00:00:00'
      |              THEN 1 ELSE 0 END AS post
      |  FROM events),
      |cells AS (
      |  SELECT avg(CASE WHEN treat = 1 AND post = 0 THEN value END) AS m_tp0,
      |         avg(CASE WHEN treat = 1 AND post = 1 THEN value END) AS m_tp1,
      |         avg(CASE WHEN treat = 0 AND post = 0 THEN value END) AS m_cp0,
      |         avg(CASE WHEN treat = 0 AND post = 1 THEN value END) AS m_cp1,
      |         CAST(count(CASE WHEN treat = 1 THEN 1 END) AS BIGINT) AS n_treat,
      |         CAST(count(CASE WHEN treat = 0 THEN 1 END) AS BIGINT) AS n_ctrl
      |  FROM e)
      |SELECT round(m_tp0, 4) AS mean_treat_pre, round(m_tp1, 4) AS mean_treat_post,
      |       round(m_cp0, 4) AS mean_ctrl_pre, round(m_cp1, 4) AS mean_ctrl_post,
      |       round((m_tp1 - m_tp0) - (m_cp1 - m_cp0), 4) AS did,
      |       n_treat, n_ctrl
      |FROM cells""") { (spark, dir) =>
    import spark.implicits._
    val treat = when(
      conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2L === 0L, 1).otherwise(0)
    val post = when($"ts" >= lit("2024-01-15 00:00:00").cast("timestamp"), 1)
      .otherwise(0)
    val cells = Tables.events(spark, dir)
      .select($"value", treat.as("treat"), post.as("post"))
      .agg(
        avg(when($"treat" === 1 && $"post" === 0, $"value")).as("m_tp0"),
        avg(when($"treat" === 1 && $"post" === 1, $"value")).as("m_tp1"),
        avg(when($"treat" === 0 && $"post" === 0, $"value")).as("m_cp0"),
        avg(when($"treat" === 0 && $"post" === 1, $"value")).as("m_cp1"),
        count(when($"treat" === 1, 1)).cast("long").as("n_treat"),
        count(when($"treat" === 0, 1)).cast("long").as("n_ctrl"))
    cells.select(
      round($"m_tp0", 4).as("mean_treat_pre"),
      round($"m_tp1", 4).as("mean_treat_post"),
      round($"m_cp0", 4).as("mean_ctrl_pre"),
      round($"m_cp1", 4).as("mean_ctrl_post"),
      round(($"m_tp1" - $"m_tp0") - ($"m_cp1" - $"m_cp0"), 4).as("did"),
      $"n_treat", $"n_ctrl")
  }

  /** THEIL-T INEQUALITY DECOMPOSITION — what Gini (q222) and Lorenz
    * (q271) can't do: Theil's T is ADDITIVELY decomposable,
    * T_total = T_between + T_within, attributing total inequality to
    * across-group vs within-group dispersion (Theil 1967; the standard
    * concentration diagnostic by segment). Everything derives from three
    * per-group moments — n, Σx, Σ x·ln x over positive balances — so the
    * row-scale work is ONE map-side-combined hash-agg; the decomposition
    * is constant-size algebra on the 25-row nation census:
    * T_g = Σ x ln x / (n_g μ_g) − ln μ_g,
    * T_between = Σ_g (S_g/S) ln(μ_g/μ), T_within = Σ_g (S_g/S) T_g.
    * T_total is computed INDEPENDENTLY from the global moments
    * (T = Σx·ln x / S − ln μ), so the additive identity is verified by
    * the output, not assumed by it.
    *
    * 100 TB plan: one scan, one tiny agg — the same shape as q273's
    * ANOVA; groups scale to millions before the census stops broadcasting. */
  val q292TheilDecomposition: GraftQuery = GraftQuery.oracled(
    "q292_theil_decomposition",
    """WITH pos AS (SELECT c_nationkey AS g, c_acctbal AS x FROM customer WHERE c_acctbal > 0),
      |gm AS (SELECT g, CAST(count(*) AS DOUBLE) AS n, sum(x) AS s, sum(x * ln(x)) AS sxl
      |       FROM pos GROUP BY g),
      |tot AS (SELECT sum(n) AS n, sum(s) AS s, sum(sxl) AS sxl FROM gm),
      |terms AS (
      |  SELECT gm.g, gm.n, gm.s,
      |         (gm.s / tot.s) * ln((gm.s / gm.n) / (tot.s / tot.n)) AS between_term,
      |         (gm.s / tot.s) * (gm.sxl / gm.s - ln(gm.s / gm.n)) AS within_term
      |  FROM gm, tot),
      |agg AS (SELECT sum(between_term) AS b, sum(within_term) AS w, count(*) AS k FROM terms)
      |SELECT round(max(tot.sxl / tot.s - ln(tot.s / tot.n)), 6) AS t_total,
      |       round(max(agg.b), 6) AS t_between,
      |       round(max(agg.w), 6) AS t_within,
      |       CAST(max(agg.k) AS BIGINT) AS n_groups
      |FROM agg, tot""") { (spark, dir) =>
    import spark.implicits._
    val pos = Tables.customer(spark, dir)
      .filter($"c_acctbal" > 0)
      .select($"c_nationkey".as("g"), $"c_acctbal".as("x"))
    val gm = pos.groupBy($"g")
      .agg(count(lit(1)).cast("double").as("n"), sum($"x").as("s"),
        sum($"x" * log($"x")).as("sxl"))
    val tot = gm.agg(sum($"n").as("tn"), sum($"s").as("ts"), sum($"sxl").as("tsxl"))
    gm.crossJoin(broadcast(tot))
      .select($"g", $"ts", $"tn", $"tsxl",
        (($"s" / $"ts") * log(($"s" / $"n") / ($"ts" / $"tn"))).as("between_term"),
        (($"s" / $"ts") * ($"sxl" / $"s" - log($"s" / $"n"))).as("within_term"))
      .agg(round(max($"tsxl" / $"ts" - log($"ts" / $"tn")), 6).as("t_total"),
        round(sum($"between_term"), 6).as("t_between"),
        round(sum($"within_term"), 6).as("t_within"),
        count(lit(1)).cast("long").as("n_groups"))
  }

  /** One-way ANOVA F-statistic across market segments — does segment
    * membership explain account-balance variance? Completes the catalog's
    * hypothesis-test family (Welch z q163, χ² q184, KS q227, MI q241)
    * with the k-group mean comparison. Pure moment algebra: SSB/SSW from
    * per-group (n, mean, var), F = (SSB/(k−1))/(SSW/(N−k)), stat-rounded.
    *
    * 100 TB plan: one map-side-combined moments agg (5 groups) — the
    * entire test is constant-size after one scan. */
  val q273AnovaF: GraftQuery = GraftQuery.oracled(
    "q273_anova_f",
    // INTEGER-MOMENT rebuild (r9, found by the sf1 strict sweep): the old
    // avg/var_samp formulation's float accumulation order drifted msb by
    // 2e-4 at 10× rows — round(·,4) on a ~2e8-magnitude statistic demands
    // 1e-13 relative reproducibility, which only exact per-group integer
    // cent moments (n, Σc, Σc²) provide. All downstream algebra is doubles
    // DERIVED from those integers with the identical expression on both
    // engines, and the two 5-element group folds (SSB, SSW) are ORDERED
    // (list ORDER BY segment — the q415 cv_mse pattern), so every released
    // digit is deterministic at any scale. Σc² needs DECIMAL past ~10⁸
    // rows/segment at these balances (documented swap).
    """WITH g AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
      |                  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
      |                  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
      |                           * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxx
      |           FROM customer GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
      |             CAST(sum(sx) AS BIGINT) AS tsx FROM g),
      |d AS (SELECT g.seg, g.n,
      |             CAST(g.sx AS DOUBLE) / g.n / 100 AS m,
      |             CAST(t.tsx AS DOUBLE) / t.nn / 100 AS gm,
      |             (CAST(g.sxx AS DOUBLE) - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE) / g.n) / 10000 AS ssw_g
      |      FROM g, t),
      |s AS (SELECT list_sum(list(n * (m - gm) * (m - gm) ORDER BY seg)) AS ssb,
      |             list_sum(list(ssw_g ORDER BY seg)) AS ssw
      |      FROM d)
      |SELECT CAST(t.nn AS BIGINT) AS n, CAST(t.k AS BIGINT) AS k,
      |       round(s.ssb / (t.k - 1), 4) AS msb,
      |       round(s.ssw / (t.nn - t.k), 4) AS msw,
      |       round((s.ssb / (t.k - 1)) / (s.ssw / (t.nn - t.k)), 4) AS f_stat
      |FROM s, t""") { (spark, dir) =>
    import spark.implicits._
    val cents = floor($"c_acctbal" * 100 + 0.5).cast("long")
    val g = Tables.customer(spark, dir)
      .groupBy($"c_mktsegment".as("seg"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(cents).cast("long").as("sx"),
        sum(cents * cents).cast("long").as("sxx"))
    val t = g.agg(sum($"n").cast("long").as("nn"), count(lit(1)).cast("long").as("k"),
      sum($"sx").cast("long").as("tsx"))
    val d = g.crossJoin(broadcast(t))
      .select($"seg", $"n",
        ($"sx".cast("double") / $"n" / 100).as("m"),
        ($"tsx".cast("double") / $"nn" / 100).as("gm"),
        (($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n") / 10000)
          .as("ssw_g"))
    def orderedSum(key: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    val s = d.agg(
      orderedSum($"seg", $"n" * ($"m" - $"gm") * ($"m" - $"gm")).as("ssb"),
      orderedSum($"seg", $"ssw_g").as("ssw"))
    s.crossJoin(broadcast(t))
      .select($"nn".cast("long").as("n"), $"k".cast("long").as("k"),
        RelationalCore.stat($"ssb" / ($"k" - 1)).as("msb"),
        RelationalCore.stat($"ssw" / ($"nn" - $"k")).as("msw"),
        RelationalCore.stat(($"ssb" / ($"k" - 1)) / ($"ssw" / ($"nn" - $"k"))).as("f_stat"))
  }

  /** Numerically-careful aggregate family per order status: GEOMETRIC mean
    * as exp(avg(ln x)) (the only overflow-safe form at scale), HARMONIC
    * mean n/Σ(1/x), and LOG-SUM-EXP in the max-shifted stable form
    * m + ln(Σ exp(x−m)) over log-prices — the softmax denominator
    * pattern, which naive exp-then-sum would overflow. Identical stable
    * formulations on both engines.
    *
    * 100 TB plan: every piece is an algebraic aggregate over a projection
    * (the max for LSE broadcasts back, q80's scalar pattern) — two
    * map-side-combined passes total. */
  val q274StableAggs: GraftQuery = GraftQuery.oracled(
    "q274_stable_aggs",
    """WITH b AS (SELECT o_orderstatus AS s, o_totalprice AS x,
      |                  ln(o_totalprice) AS lx
      |           FROM orders WHERE o_totalprice > 0),
      |mx AS (SELECT s, max(lx) AS m FROM b GROUP BY s)
      |SELECT b.s,
      |       CAST(count(*) AS BIGINT) AS n,
      |       round(exp(avg(b.lx)), 2) AS geo_mean,
      |       round(count(*) / sum(1.0 / b.x), 2) AS harm_mean,
      |       round(mx.m + ln(sum(exp(b.lx - mx.m))), 6) AS lse_logprice
      |FROM b JOIN mx ON b.s = mx.s
      |GROUP BY b.s, mx.m
      |ORDER BY b.s""") { (spark, dir) =>
    import spark.implicits._
    val b = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 0)
      .select($"o_orderstatus".as("s"), $"o_totalprice".as("x"),
        log($"o_totalprice").as("lx"))
    val mx = b.groupBy($"s").agg(max($"lx").as("m"))
    b.join(broadcast(mx), Seq("s"))
      .groupBy($"s", $"m")
      .agg(count(lit(1)).cast("long").as("n"),
        RelationalCore.money(exp(avg($"lx"))).as("geo_mean"),
        RelationalCore.money(count(lit(1)) / sum(lit(1.0) / $"x")).as("harm_mean"),
        round($"m" + log(sum(exp($"lx" - $"m"))), 6).as("lse_logprice"))
      .select($"s", $"n", $"geo_mean", $"harm_mean", $"lse_logprice")
      .orderBy($"s")
  }

  /** EMPIRICAL-BAYES RATE SHRINKAGE — the small-sample fix for ranking
    * per-user conversion rates: a user with 1/2 purchases is not "50%
    * converting", they are data-starved. Fit a Beta prior to the corpus
    * of observed rates by method of moments (α+β = m(1−m)/v − 1, the
    * James-Stein-flavored pooling every CTR/ranking pipeline applies),
    * then shrink each user's rate toward the prior mean proportionally
    * to how little data they have: shrunk = (x+α)/(n+α+β). Extreme rates
    * on thin denominators collapse toward m; heavy users barely move.
    *
    * 100 TB plan: one user-level census (map-side combined), one 1-row
    * moments agg that BROADCASTS back, one map-side projection — the
    * prior is corpus-global, so no row-scale data ever shuffles twice.
    * Degenerate prior (v ≥ m(1−m), i.e. over-dispersed beyond Bernoulli)
    * clamps k to 0 → shrunk ≡ raw, both engines. */
  val q303EbShrinkage: GraftQuery = GraftQuery.oracled(
    "q303_eb_shrinkage",
    """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |                  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS x
      |           FROM events GROUP BY 1),
      |pri AS (SELECT avg(CAST(x AS DOUBLE) / n) AS m,
      |               var_samp(CAST(x AS DOUBLE) / n) AS v
      |        FROM u),
      |k AS (SELECT m, greatest(CASE WHEN v > 0 THEN m * (1 - m) / v - 1 ELSE 0 END, 0) AS k0
      |      FROM pri)
      |SELECT u.user_id, u.n AS n_events, u.x AS n_conv,
      |       round(CAST(u.x AS DOUBLE) / u.n, 6) AS rate_raw,
      |       round((u.x + k.m * k.k0) / (u.n + k.k0), 6) AS rate_shrunk
      |FROM u, k
      |ORDER BY user_id""") { (spark, dir) =>
    import spark.implicits._
    val u = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n"),
        count(when($"event_type" === "purchase", 1)).cast("long").as("x"))
    val pri = u.agg(avg($"x".cast("double") / $"n").as("m"),
      var_samp($"x".cast("double") / $"n").as("v"))
    val k = pri.select($"m",
      greatest(when($"v" > 0, $"m" * (lit(1) - $"m") / $"v" - 1).otherwise(0),
        lit(0)).as("k0"))
    u.crossJoin(broadcast(k))
      .select($"user_id", $"n".as("n_events"), $"x".as("n_conv"),
        round($"x".cast("double") / $"n", 6).as("rate_raw"),
        round(($"x" + $"m" * $"k0") / ($"n" + $"k0"), 6).as("rate_shrunk"))
      .orderBy($"user_id")
  }

  /** BENJAMINI–HOCHBERG FDR CORRECTION — the multiple-comparisons layer
    * the per-test family (q163/q273/q284/q295) needs once you run MANY
    * tests at once: 35 segment-level Welch z-tests (event_type ×
    * day-of-week) would produce ~3–4 false positives at α=0.10 by chance
    * alone. BH step-up: rank p ascending, find the LARGEST k with
    * p_(k) ≤ k·q/m, reject ranks 1..k (including any non-qualifying p
    * below rank k — that is the step-UP part naive thresholding gets
    * wrong). Two-sided p comes from the same closed-form tail
    * approximation p ≈ min(1, 2·exp(−0.717|z| − 0.416z²)) (Lin 1989) on
    * BOTH engines — cross-engine identical arithmetic, no Φ table.
    *
    * 100 TB plan: the row-scale work is ONE conditional-moments hash-agg
    * keyed by segment; the BH pass itself runs on the m-row test table
    * (m = dozens), where a single-partition window is the CORRECT plan,
    * not a bottleneck. */
  val q305BhFdr: GraftQuery = GraftQuery.oracled(
    "q305_bh_fdr",
    """WITH e AS (
      |  SELECT event_type, date_part('dow', date_trunc('microseconds', ts)) + 1 AS dow, value,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 'A' ELSE 'B' END AS variant
      |  FROM events),
      |t AS (SELECT event_type, dow,
      |             CAST(count(CASE WHEN variant = 'A' THEN 1 END) AS BIGINT) AS n_a,
      |             CAST(count(CASE WHEN variant = 'B' THEN 1 END) AS BIGINT) AS n_b,
      |             (avg(CASE WHEN variant = 'A' THEN value END)
      |              - avg(CASE WHEN variant = 'B' THEN value END))
      |             / sqrt(var_samp(CASE WHEN variant = 'A' THEN value END)
      |                      / count(CASE WHEN variant = 'A' THEN 1 END)
      |                    + var_samp(CASE WHEN variant = 'B' THEN value END)
      |                      / count(CASE WHEN variant = 'B' THEN 1 END)) AS z
      |      FROM e GROUP BY 1, 2
      |      HAVING count(CASE WHEN variant = 'A' THEN 1 END) > 1
      |         AND count(CASE WHEN variant = 'B' THEN 1 END) > 1),
      |p AS (SELECT event_type, dow, n_a, n_b, z,
      |             least(1.0, 2 * exp(-0.717 * abs(z) - 0.416 * z * z)) AS pv
      |      FROM t WHERE z IS NOT NULL),
      |rk AS (SELECT *, row_number() OVER (ORDER BY pv, event_type, dow) AS p_rank,
      |              count(*) OVER () AS m
      |       FROM p),
      |kmax AS (SELECT max(CASE WHEN pv <= p_rank * 0.10 / m THEN p_rank ELSE 0 END) AS k
      |         FROM rk)
      |SELECT event_type, CAST(dow AS BIGINT) AS dow, n_a, n_b,
      |       round(z, 4) AS z, round(pv, 6) AS p_value,
      |       CAST(p_rank AS BIGINT) AS p_rank,
      |       CASE WHEN p_rank <= (SELECT k FROM kmax) THEN 1 ELSE 0 END AS rejected
      |FROM rk
      |ORDER BY p_rank""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val coin = conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
      .cast("long") % 2L
    val e = Tables.events(spark, dir)
      .select($"event_type", dayofweek($"ts").cast("long").as("dow"), $"value",
        when(coin === 0L, "A").otherwise("B").as("variant"))
    val a = when($"variant" === "A", $"value")
    val b = when($"variant" === "B", $"value")
    val cntA = count(when($"variant" === "A", 1))
    val cntB = count(when($"variant" === "B", 1))
    val t = e.groupBy($"event_type", $"dow")
      .agg(cntA.cast("long").as("n_a"), cntB.cast("long").as("n_b"),
        ((avg(a) - avg(b)) / sqrt(var_samp(a) / cntA + var_samp(b) / cntB)).as("z"))
      .filter($"n_a" > 1 && $"n_b" > 1 && $"z".isNotNull)
    val p = t.withColumn("pv",
      least(lit(1.0), lit(2) * exp(lit(-0.717) * abs($"z") - lit(0.416) * $"z" * $"z")))
    // m is dozens of rows — the single-partition window IS the right plan
    val rk = p
      .withColumn("p_rank", row_number().over(Window.orderBy($"pv", $"event_type", $"dow")))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
    val kmax = rk.agg(
      max(when($"pv" <= $"p_rank" * 0.10 / $"m", $"p_rank").otherwise(0L)).as("k"))
    rk.crossJoin(broadcast(kmax))
      .select($"event_type", $"dow", $"n_a", $"n_b",
        round($"z", 4).as("z"), round($"pv", 6).as("p_value"),
        $"p_rank".cast("long").as("p_rank"),
        when($"p_rank" <= $"k", 1).otherwise(0).as("rejected"))
      .orderBy($"p_rank")
  }

  /** COARSENED EXACT MATCHING (CEM, Iacus–King–Porro 2012) — the
    * observational-causal estimator between q293's DiD (needs panel time)
    * and a propensity model (needs a fit): coarsen the confounders into
    * bins, keep only cells where BOTH treated and control users exist,
    * and weight control outcomes to the treated cell distribution.
    * Here: treatment = user ever hit an 'error' event; outcome = total
    * purchase value; confounders = activity quartile × first-seen ISO
    * week (users who arrive earlier and do more are different users).
    * ATT = Σ_cell n_t · (ȳ_treated − ȳ_control) / Σ_cell n_t, reported
    * next to the naive unmatched difference it corrects.
    *
    * 100 TB plan: one user-level census (map-side combined), a TWO-PHASE
    * quartile cut over it (TwoPhase.rowNumber: per-bin parallel ranks +
    * bins-sized broadcast offsets — never a single-task census sort), then
    * a cell-level conditional agg on shrinking keys. */
  val q306CemMatching: GraftQuery = GraftQuery.oracled(
    "q306_cem_matching",
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(count(*) AS BIGINT) AS n_events,
      |         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS treat,
      |         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y,
      |         date_part('week', min(date_trunc('microseconds', ts))) AS wk
      |  FROM events GROUP BY 1),
      |r AS (SELECT *, ntile(4) OVER (ORDER BY n_events, user_id) AS act_q FROM u),
      |cells AS (
      |  SELECT act_q, wk,
      |         CAST(sum(treat) AS BIGINT) AS n_t,
      |         CAST(sum(1 - treat) AS BIGINT) AS n_c,
      |         avg(CASE WHEN treat = 1 THEN y END) AS y_t,
      |         avg(CASE WHEN treat = 0 THEN y END) AS y_c
      |  FROM r GROUP BY 1, 2),
      |m AS (SELECT sum(n_t * (y_t - y_c)) / sum(n_t) AS att,
      |             CAST(sum(n_t) AS BIGINT) AS n_treated_matched,
      |             CAST(sum(n_c) AS BIGINT) AS n_control_matched,
      |             CAST(count(*) AS BIGINT) AS n_cells_matched
      |      FROM cells WHERE n_t > 0 AND n_c > 0),
      |naive AS (SELECT avg(CASE WHEN treat = 1 THEN y END)
      |                 - avg(CASE WHEN treat = 0 THEN y END) AS d
      |          FROM r),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cells_total FROM cells)
      |SELECT tot.n_cells_total, m.n_cells_matched,
      |       m.n_treated_matched, m.n_control_matched,
      |       round(m.att, 4) AS att, round(naive.d, 4) AS naive_diff
      |FROM m, naive, tot""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        max(when($"event_type" === "error", 1).otherwise(0)).as("treat"),
        sum(when($"event_type" === "purchase", $"value").otherwise(0)).as("y"),
        weekofyear(min($"ts")).cast("long").as("wk"))
    // two-phase activity-quartile cut over the user census (bucket =
    // n_events itself, trivially monotone in the leading sort key): per-bin
    // parallel ranks + a bins-sized broadcast offsets table — no
    // single-task census sort at any user count
    val r = TwoPhase.rowNumber(u,
        bucket = $"n_events",
        sort = Seq($"n_events", $"user_id"),
        out = "rn", totalOut = Some("n_total"))
      .withColumn("act_q", TwoPhase.ntileFromRn($"rn", $"n_total", 4))
      .drop("rn", "n_total")
    val cells = r.groupBy($"act_q", $"wk")
      .agg(sum($"treat").cast("long").as("n_t"),
        sum(lit(1) - $"treat").cast("long").as("n_c"),
        avg(when($"treat" === 1, $"y")).as("y_t"),
        avg(when($"treat" === 0, $"y")).as("y_c"))
    val m = cells.filter($"n_t" > 0 && $"n_c" > 0)
      .agg((sum($"n_t" * ($"y_t" - $"y_c")) / sum($"n_t")).as("att"),
        sum($"n_t").cast("long").as("n_treated_matched"),
        sum($"n_c").cast("long").as("n_control_matched"),
        count(lit(1)).cast("long").as("n_cells_matched"))
    val naive = r.agg((avg(when($"treat" === 1, $"y"))
      - avg(when($"treat" === 0, $"y"))).as("d"))
    val tot = cells.agg(count(lit(1)).cast("long").as("n_cells_total"))
    m.crossJoin(broadcast(naive)).crossJoin(broadcast(tot))
      .select($"n_cells_total", $"n_cells_matched",
        $"n_treated_matched", $"n_control_matched",
        round($"att", 4).as("att"), round($"d", 4).as("naive_diff"))
  }

  /** SIMPSON'S-PARADOX DETECTOR — the aggregation-trap audit: a trend
    * measured on POOLED data can reverse inside every subgroup when group
    * membership confounds both variables (Simpson 1951; the
    * kidney-stone/Berkeley-admissions classic). For value ~ hour-of-day,
    * compare the pooled regression slope with each event_type's own
    * slope and flag sign reversals. A nonzero flip count means any
    * dashboard showing the pooled trend line is lying about every
    * segment.
    *
    * 100 TB plan: regr_slope is an algebraic aggregate (sum/sum²/cross
    * moments) — the pooled and per-group slopes are ONE map-side-combined
    * hash-agg each over the same scan; the comparison is a broadcast of
    * one scalar row. */
  val q309SimpsonDetector: GraftQuery = GraftQuery.oracled(
    "q309_simpson_detector",
    """WITH e AS (SELECT event_type,
      |                  CAST(date_part('hour', date_trunc('microseconds', ts)) AS DOUBLE) AS h,
      |                  value
      |           FROM events),
      |pool AS (SELECT regr_slope(value, h) AS s FROM e),
      |grp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |               regr_slope(value, h) AS s
      |        FROM e GROUP BY 1)
      |SELECT g.event_type, g.n,
      |       round(g.s, 6) AS slope_group,
      |       round(p.s, 6) AS slope_pooled,
      |       CASE WHEN g.s * p.s < 0 THEN 1 ELSE 0 END AS sign_flip
      |FROM grp g, pool p
      |ORDER BY g.event_type""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_type", hour($"ts").cast("double").as("h"), $"value")
    val pool = e.agg(expr("regr_slope(value, h)").as("sp"))
    val grp = e.groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n"),
        expr("regr_slope(value, h)").as("sg"))
    grp.crossJoin(broadcast(pool))
      .select($"event_type", $"n",
        round($"sg", 6).as("slope_group"),
        round($"sp", 6).as("slope_pooled"),
        when($"sg" * $"sp" < 0, 1).otherwise(0).as("sign_flip"))
      .orderBy($"event_type")
  }

  /** TWO-FEATURE OLS VIA CRAMER'S RULE — multiple regression as pure
    * aggregate algebra, the step past q225/q181's single-feature regr_*
    * family (which SQL engines stop at): price ~ quantity + discount per
    * return flag, solved from the 2×2 normal equations with centered
    * second moments (var_samp/covar_samp are identical definitions on
    * both engines, and the (n−1) scale cancels in every ratio):
    * β₁ = (S₂₂S₁y − S₁₂S₂y)/det, β₂ = (S₁₁S₂y − S₁₂S₁y)/det,
    * β₀ = ȳ − β₁x̄₁ − β₂x̄₂, R² = (β₁S₁y + β₂S₂y)/Syy.
    *
    * 100 TB plan: ONE map-side-combined moments hash-agg per group —
    * eight algebraic aggregates, no matrix library, no driver math, no
    * second pass. Exactly how MLlib's "normal" solver works, minus the
    * fit lifecycle (that path is q234's). Singular design (det≈0,
    * collinear features) yields NULL coefficients on both engines via
    * the same guard. */
  val q311Ols2Feature: GraftQuery = GraftQuery.oracled(
    "q311_ols2_cramer",
    """WITH m AS (
      |  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
      |         var_samp(l_quantity) AS s11, var_samp(l_discount) AS s22,
      |         covar_samp(l_quantity, l_discount) AS s12,
      |         covar_samp(l_quantity, l_extendedprice) AS s1y,
      |         covar_samp(l_discount, l_extendedprice) AS s2y,
      |         var_samp(l_extendedprice) AS syy,
      |         avg(l_quantity) AS m1, avg(l_discount) AS m2,
      |         avg(l_extendedprice) AS my
      |  FROM lineitem GROUP BY 1),
      |b AS (SELECT flag, n, m1, m2, my, s1y, s2y, syy,
      |             CASE WHEN abs(s11 * s22 - s12 * s12) > 1e-12
      |                  THEN (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) END AS b1,
      |             CASE WHEN abs(s11 * s22 - s12 * s12) > 1e-12
      |                  THEN (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) END AS b2
      |      FROM m)
      |SELECT flag, n,
      |       round(my - b1 * m1 - b2 * m2, 4) AS b0,
      |       round(b1, 4) AS b_quantity,
      |       round(b2, 4) AS b_discount,
      |       round((b1 * s1y + b2 * s2y) / syy, 6) AS r2
      |FROM b
      |ORDER BY flag""") { (spark, dir) =>
    import spark.implicits._
    val m = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag".as("flag"))
      .agg(count(lit(1)).cast("long").as("n"),
        var_samp($"l_quantity").as("s11"), var_samp($"l_discount").as("s22"),
        covar_samp($"l_quantity", $"l_discount").as("s12"),
        covar_samp($"l_quantity", $"l_extendedprice").as("s1y"),
        covar_samp($"l_discount", $"l_extendedprice").as("s2y"),
        var_samp($"l_extendedprice").as("syy"),
        avg($"l_quantity").as("m1"), avg($"l_discount").as("m2"),
        avg($"l_extendedprice").as("my"))
    val det = $"s11" * $"s22" - $"s12" * $"s12"
    val b = m.select($"flag", $"n", $"m1", $"m2", $"my", $"s1y", $"s2y", $"syy",
      when(abs(det) > 1e-12, ($"s22" * $"s1y" - $"s12" * $"s2y") / det).as("b1"),
      when(abs(det) > 1e-12, ($"s11" * $"s2y" - $"s12" * $"s1y") / det).as("b2"))
    b.select($"flag", $"n",
        round($"my" - $"b1" * $"m1" - $"b2" * $"m2", 4).as("b0"),
        round($"b1", 4).as("b_quantity"),
        round($"b2", 4).as("b_discount"),
        round(($"b1" * $"s1y" + $"b2" * $"s2y") / $"syy", 6).as("r2"))
      .orderBy($"flag")
  }

  /** MUTUAL-INFORMATION FEATURE RANKING — filter-method feature selection
    * (Battiti 1994's MIFS core): how much does each embedding dimension,
    * equi-width-bucketed to 4 bins, tell about the class label? q241
    * computes ONE MI; this ranks 16 features by it, the screening pass
    * that runs BEFORE any model fit and needs no fit lifecycle. Exact
    * plug-in MI from contingency counts, identical ordered arithmetic.
    *
    * 100 TB plan: the explode is 16 rows per vector — map-side, no
    * array ever shuffles; per-dim min/max is one tiny agg broadcast
    * back; the contingency counts are ONE hash-agg on (dim, bucket,
    * label) (≤ 16·4·|labels| cells) and everything after runs on the
    * cell census. Adding dims scales the explode factor, nothing else. */
  val q315MiFeatureRank: GraftQuery = GraftQuery.oracled(
    "q315_mi_feature_rank",
    """WITH x AS (SELECT vec_id, label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
      |           FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 16)) AS i)),
      |b AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY 1),
      |xb AS (SELECT x.dim, x.label,
      |              CASE WHEN b.hi > b.lo
      |                   THEN least(CAST(floor(4 * (x.v - b.lo) / (b.hi - b.lo)) AS BIGINT), 3)
      |                   ELSE 0 END AS bkt
      |       FROM x JOIN b USING (dim)),
      |cells AS (SELECT dim, bkt, label, CAST(count(*) AS DOUBLE) AS n FROM xb GROUP BY 1, 2, 3),
      |mb AS (SELECT dim, bkt, sum(n) AS nb FROM cells GROUP BY 1, 2),
      |ml AS (SELECT dim, label, sum(n) AS nl FROM cells GROUP BY 1, 2),
      |mt AS (SELECT dim, sum(n) AS nt FROM cells GROUP BY 1)
      |SELECT c.dim, CAST(mt.nt AS BIGINT) AS n,
      |       round(sum((c.n / mt.nt) * ln(c.n * mt.nt / (mb.nb * ml.nl))), 6) AS mi_nats
      |FROM cells c
      |JOIN mb USING (dim, bkt) JOIN ml ON c.dim = ml.dim AND c.label = ml.label
      |JOIN mt ON c.dim = mt.dim
      |GROUP BY c.dim, mt.nt
      |ORDER BY dim""") { (spark, dir) =>
    import spark.implicits._
    val x = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", posexplode(slice($"embedding", 1, 16)))
      .select(($"pos" + 1).cast("long").as("dim"), $"label",
        $"col".cast("double").as("v"))
    val b = x.groupBy($"dim").agg(min($"v").as("lo"), max($"v").as("hi"))
    val xb = x.join(broadcast(b), Seq("dim"))
      .select($"dim", $"label",
        when($"hi" > $"lo",
          least(floor(lit(4) * ($"v" - $"lo") / ($"hi" - $"lo")).cast("long"), lit(3L)))
          .otherwise(0L).as("bkt"))
    val cells = xb.groupBy($"dim", $"bkt", $"label")
      .agg(count(lit(1)).cast("double").as("n"))
    val mb = cells.groupBy($"dim", $"bkt").agg(sum($"n").as("nb"))
    val ml = cells.groupBy($"dim", $"label").agg(sum($"n").as("nl"))
    val mt = cells.groupBy($"dim").agg(sum($"n").as("nt"))
    cells
      .join(mb, Seq("dim", "bkt")).join(ml, Seq("dim", "label"))
      .join(broadcast(mt), Seq("dim"))
      .groupBy($"dim", $"nt")
      .agg(round(sum(($"n" / $"nt") * log($"n" * $"nt" / ($"nb" * $"nl"))), 6)
        .as("mi_nats"))
      .select($"dim", $"nt".cast("long").as("n"), $"mi_nats")
      .orderBy($"dim")
  }

  /** HUBER ROBUST REGRESSION via IRLS — the outlier-resistant line the
    * OLS family (q181/q225/q311) cannot give: two iteratively-reweighted
    * least-squares rounds, weights w = min(1, kσ̂/|r|) with k = 1.345 and
    * σ̂ = 1.4826·MAD of the residuals (the 95%-efficiency tuning). High-
    * leverage rows are DOWN-WEIGHTED, not dropped — the estimator every
    * metrics team wants when q153/q188's outlier reports start firing.
    * Two rounds unrolled identically in the oracle (same exact-percentile
    * MAD, same weight formula) — an engine-looped fit made SQL-expressible
    * by fixing the round count.
    *
    * 100 TB plan: each round is one broadcast of 1-row coefficients, one
    * map-side residual projection, one exact-median agg (swap to
    * approx_percentile at petabyte row counts — documented knob), one
    * moments hash-agg. Nothing row-scale ever joins row-scale. */
  val q319HuberIrls: GraftQuery = GraftQuery.oracled(
    "q319_huber_irls",
    """WITH d AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
      |m0 AS (SELECT CAST(count(*) AS BIGINT) AS n, regr_slope(y, x) AS b, regr_intercept(y, x) AS a FROM d),
      |r1 AS (SELECT x, y, abs(y - m0.a - m0.b * x) AS ar FROM d, m0),
      |s1 AS (SELECT 1.4826 * quantile_cont(ar, 0.5) AS s FROM r1),
      |w1 AS (SELECT x, y, CASE WHEN ar <= 1.345 * s1.s THEN 1.0 ELSE 1.345 * s1.s / ar END AS w FROM r1, s1),
      |mo1 AS (SELECT sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
      |               sum(w * x * x) AS swxx, sum(w * x * y) AS swxy FROM w1),
      |f1 AS (SELECT b, (swy - b * swx) / sw AS a
      |       FROM (SELECT (swxy - swx * swy / sw) / (swxx - swx * swx / sw) AS b, sw, swx, swy FROM mo1)),
      |r2 AS (SELECT x, y, abs(y - f1.a - f1.b * x) AS ar FROM d, f1),
      |s2 AS (SELECT 1.4826 * quantile_cont(ar, 0.5) AS s FROM r2),
      |w2 AS (SELECT x, y, CASE WHEN ar <= 1.345 * s2.s THEN 1.0 ELSE 1.345 * s2.s / ar END AS w FROM r2, s2),
      |mo2 AS (SELECT sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
      |               sum(w * x * x) AS swxx, sum(w * x * y) AS swxy,
      |               CAST(count(CASE WHEN w < 1 THEN 1 END) AS BIGINT) AS nd FROM w2),
      |f2 AS (SELECT b, (swy - b * swx) / sw AS a, nd
      |       FROM (SELECT (swxy - swx * swy / sw) / (swxx - swx * swx / sw) AS b, sw, swx, swy, nd FROM mo2))
      |SELECT m0.n, round(m0.b, 4) AS b_ols, round(m0.a, 4) AS a_ols,
      |       round(f2.b, 4) AS b_huber, round(f2.a, 4) AS a_huber,
      |       round(s2.s, 4) AS scale, f2.nd AS n_downweighted
      |FROM m0, f2, s2""") { (spark, dir) =>
    huberIrls(spark, dir, percentile(col("ar"), lit(0.5)))
  }

  /** Shared two-round Huber IRLS body for q319 (exact-median MAD) and
    * q347 (approx_percentile MAD — the documented petabyte-scale knob).
    * `medianOfAr` is the aggregate that produces the residual median. */
  private def huberIrls(spark: org.apache.spark.sql.SparkSession,
      dir: String, medianOfAr: org.apache.spark.sql.Column): DataFrame = {
    import spark.implicits._
    val d = Tables.lineitem(spark, dir)
      .select($"l_quantity".as("x"), $"l_extendedprice".as("y"))
    val m0 = d.agg(count(lit(1)).cast("long").as("n"),
      expr("regr_slope(y, x)").as("b"), expr("regr_intercept(y, x)").as("a"))
    def round2(prev: org.apache.spark.sql.DataFrame) = {
      val r = d.crossJoin(broadcast(prev.select($"a", $"b")))
        .select($"x", $"y", abs($"y" - $"a" - $"b" * $"x").as("ar"))
      val s = r.agg((lit(1.4826) * medianOfAr).as("s"))
      val w = r.crossJoin(broadcast(s))
        .select($"x", $"y", $"s",
          when($"ar" <= lit(1.345) * $"s", 1.0)
            .otherwise(lit(1.345) * $"s" / $"ar").as("w"))
      val mo = w.agg(sum($"w").as("sw"), sum($"w" * $"x").as("swx"),
        sum($"w" * $"y").as("swy"), sum($"w" * $"x" * $"x").as("swxx"),
        sum($"w" * $"x" * $"y").as("swxy"),
        count(when($"w" < 1, 1)).cast("long").as("nd"),
        max($"s").as("s"))
      mo.select(
        (($"swxy" - $"swx" * $"swy" / $"sw") / ($"swxx" - $"swx" * $"swx" / $"sw")).as("b"),
        $"sw", $"swx", $"swy", $"nd", $"s")
        .select($"b", (($"swy" - $"b" * $"swx") / $"sw").as("a"), $"nd", $"s")
    }
    val f2 = round2(round2(m0))
    m0.select($"n", round($"b", 4).as("b_ols"), round($"a", 4).as("a_ols"))
      .crossJoin(broadcast(f2))
      .select($"n", $"b_ols", $"a_ols",
        round($"b", 4).as("b_huber"), round($"a", 4).as("a_huber"),
        round($"s", 4).as("scale"), $"nd".as("n_downweighted"))
  }

  /** q319's documented scale knob, SHIPPED: the identical two-round Huber
    * IRLS but with the MAD scale from a mergeable `approx_percentile`
    * quantile sketch (accuracy 10⁴ ≈ 0.01% rank error) instead of the
    * exact-median sort-agg — the petabyte-row-count path q319's scaladoc
    * names, retiring its forced-audit entry. No SQL oracle (DuckDB has no
    * bit-compatible sketch); EdaSpec bounds the coefficient drift vs
    * q319's exact fit and requires the same n / n_downweighted.
    *
    * 100 TB plan: identical to q319 except the per-round median is now a
    * map-side-combinable sketch agg — no sort, no exact-percentile
    * buffer; the whole fit is two broadcast-scalar rounds over codegen'd
    * projections. */
  val q347HuberApproxScale: GraftQuery = GraftQuery.rowsOnly(
    "q347_huber_approx_scale",
    doc = "Huber IRLS, MAD scale via approx_percentile sketch (q319's 100 TB knob)") {
    (spark, dir) =>
      huberIrls(spark, dir, expr("approx_percentile(ar, 0.5, 10000)"))
  }

  /** EXACT ROC-AUC, relationally — the evaluator WITHOUT the model fit:
    * AUC of "embedding dim 1 separates class 0 from the rest" computed
    * from the rank statistic (AUC = (R₊ − n₊(n₊+1)/2)/(n₊n₋), the
    * Mann–Whitney identity q284 proves), with EXACT tie handling via
    * average ranks from the value census — no per-row sort reaches the
    * output, no threshold sweep, no trapezoid approximation.
    *
    * 100 TB plan: one (score → n, n_pos) census hash-agg, a cumulative
    * window over DISTINCT scores only (census-sized, not row-sized), one
    * scalar reduction. The same census-closed-form trick as q226/q284 —
    * the row count never meets a window. */
  val q322ExactAuc: GraftQuery = GraftQuery.oracled(
    "q322_exact_auc",
    """WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS v,
      |                  CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
      |           FROM embeddings),
      |cen AS (SELECT v, CAST(count(*) AS DOUBLE) AS n, CAST(sum(pos) AS DOUBLE) AS np
      |        FROM s GROUP BY v),
      |rk AS (SELECT v, n, np,
      |              coalesce(sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |       FROM cen),
      |agg AS (SELECT sum(np * (cb + (n + 1) / 2)) AS rpos,
      |               sum(np) AS npos, sum(n - np) AS nneg
      |        FROM rk)
      |SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
      |       round((rpos - npos * (npos + 1) / 2) / (npos * nneg), 6) AS auc
      |FROM agg""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val s = Tables.embeddings(spark, dir)
      .select(element_at($"embedding", 1).cast("double").as("v"),
        when($"label" === 0, 1).otherwise(0).as("pos"))
    val cen = s.groupBy($"v")
      .agg(count(lit(1)).cast("double").as("n"), sum($"pos").cast("double").as("np"))
    // census-sized window over DISTINCT scores only
    val rk = cen.withColumn("cb",
      coalesce(sum($"n").over(Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0.0)))
    rk.agg(sum($"np" * ($"cb" + ($"n" + 1) / 2)).as("rpos"),
        sum($"np").as("npos"), sum($"n" - $"np").as("nneg"))
      .select($"npos".cast("long").as("n_pos"), $"nneg".cast("long").as("n_neg"),
        round(($"rpos" - $"npos" * ($"npos" + 1) / 2) / ($"npos" * $"nneg"), 6).as("auc"))
  }

  /** EXPERIMENT POWER / MDE CALCULATOR — the question asked BEFORE q163's
    * z-test ever runs: with the traffic we actually have, what's the
    * smallest effect this experiment can detect? Per event_type: arm
    * sizes from the md5 coin, pooled sd, and the minimum detectable
    * effect at α=0.05 / 80% power — MDE = (z_{α/2}+z_β)·sd·√(1/n_a+1/n_b)
    * with the standard 1.96/0.8416 constants — in absolute units and as
    * a share of the mean in ppm. An experiment whose MDE exceeds any
    * plausible effect is dead on arrival; this is the triage table.
    *
    * 100 TB plan: one conditional-moments hash-agg per segment — the
    * q163 scan shape; the calculator is census algebra. */
  val q333PowerMde: GraftQuery = GraftQuery.oracled(
    "q333_power_mde",
    """WITH e AS (
      |  SELECT event_type, value,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |              THEN 1 ELSE 0 END AS arm_a
      |  FROM events),
      |m AS (SELECT event_type,
      |             CAST(count(CASE WHEN arm_a = 1 THEN 1 END) AS BIGINT) AS n_a,
      |             CAST(count(CASE WHEN arm_a = 0 THEN 1 END) AS BIGINT) AS n_b,
      |             avg(value) AS mean_v, stddev_samp(value) AS sd
      |      FROM e GROUP BY 1)
      |SELECT event_type, n_a, n_b, round(mean_v, 4) AS mean_v, round(sd, 4) AS sd,
      |       round((1.96 + 0.8416) * sd * sqrt(1.0 / n_a + 1.0 / n_b), 4) AS mde_abs,
      |       CAST(floor(1000000.0 * (1.96 + 0.8416) * sd * sqrt(1.0 / n_a + 1.0 / n_b)
      |                  / mean_v) AS BIGINT) AS mde_ppm_of_mean
      |FROM m
      |ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    val armA = when(
      conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2L === 0L, 1).otherwise(0)
    val m = Tables.events(spark, dir)
      .select($"event_type", $"value", armA.as("arm_a"))
      .groupBy($"event_type")
      .agg(count(when($"arm_a" === 1, 1)).cast("long").as("n_a"),
        count(when($"arm_a" === 0, 1)).cast("long").as("n_b"),
        avg($"value").as("mean_v"), stddev_samp($"value").as("sd"))
    val mde = (lit(1.96) + 0.8416) * $"sd" * sqrt(lit(1.0) / $"n_a" + lit(1.0) / $"n_b")
    m.select($"event_type", $"n_a", $"n_b",
        round($"mean_v", 4).as("mean_v"), round($"sd", 4).as("sd"),
        round(mde, 4).as("mde_abs"),
        floor(lit(1000000.0) * mde / $"mean_v").cast("long").as("mde_ppm_of_mean"))
      .orderBy($"event_type")
  }

  /** LOG₂-HISTOGRAM QUANTILES, SKETCH vs EXACT — the HDR-histogram idea
    * relationally: bucket each value into floor(log₂(1+1000v)) bins
    * (constant relative width — the mergeable, fixed-size quantile
    * sketch every latency pipeline keeps), read p99 off the cumulative
    * bucket census, and print the EXACT p99 next to it with the signed
    * error in ppm — the sketch ships WITH its honesty column, the same
    * discipline as q253's HLL overlap. Bucket upper edge (2^b−1)/1000 is
    * the estimate.
    *
    * 100 TB plan: the histogram is one map-side-combined hash-agg of ≤64
    * cells per segment and MERGES across days/shards by addition (the
    * point of log buckets); the exact percentile is the documented
    * small-SF cross-check, swapped for approx_percentile at petabyte
    * scale. */
  val q335Log2Histogram: GraftQuery = GraftQuery.oracled(
    "q335_log2_histogram",
    """WITH b AS (SELECT event_type,
      |                  CAST(floor(log2(1 + 1000 * value)) AS BIGINT) AS bkt
      |           FROM events WHERE value >= 0),
      |cen AS (SELECT event_type, bkt, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(n) AS nt FROM cen GROUP BY 1),
      |cum AS (SELECT c.event_type, c.bkt, c.n, t.nt,
      |               sum(c.n) OVER (PARTITION BY c.event_type ORDER BY c.bkt) AS cn
      |        FROM cen c JOIN tot t USING (event_type)),
      |est AS (SELECT event_type, min(bkt) AS p99_bkt
      |        FROM cum WHERE cn >= 0.99 * nt GROUP BY 1),
      |ex AS (SELECT event_type, quantile_cont(value, 0.99) AS p99_exact
      |       FROM events WHERE value >= 0 GROUP BY 1)
      |SELECT est.event_type,
      |       est.p99_bkt,
      |       round((pow(2, est.p99_bkt + 1) - 1) / 1000, 4) AS p99_est,
      |       round(ex.p99_exact, 4) AS p99_exact,
      |       CAST(floor(1000000.0 * ((pow(2, est.p99_bkt + 1) - 1) / 1000 - ex.p99_exact)
      |                  / ex.p99_exact) AS BIGINT) AS err_ppm
      |FROM est JOIN ex USING (event_type)
      |ORDER BY est.event_type""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val b = Tables.events(spark, dir)
      .filter($"value" >= 0)
      .select($"event_type", floor(log(2.0, lit(1) + lit(1000) * $"value")).cast("long").as("bkt"))
    val cen = b.groupBy($"event_type", $"bkt").agg(count(lit(1)).cast("long").as("n"))
    val tot = cen.groupBy($"event_type").agg(sum($"n").as("nt"))
    val cum = cen.join(broadcast(tot), Seq("event_type"))
      .withColumn("cn", sum($"n").over(
        Window.partitionBy($"event_type").orderBy($"bkt")))
    val est = cum.filter($"cn" >= lit(0.99) * $"nt")
      .groupBy($"event_type").agg(min($"bkt").as("p99_bkt"))
    val ex = Tables.events(spark, dir).filter($"value" >= 0)
      .groupBy($"event_type")
      .agg(expr("percentile(value, 0.99)").as("p99_exact"))
    val estV = (pow(lit(2.0), $"p99_bkt" + 1) - 1) / 1000
    est.join(broadcast(ex), Seq("event_type"))
      .select($"event_type", $"p99_bkt",
        round(estV, 4).as("p99_est"),
        round($"p99_exact", 4).as("p99_exact"),
        floor(lit(1000000.0) * (estV - $"p99_exact") / $"p99_exact").cast("long")
          .as("err_ppm"))
      .orderBy($"event_type")
  }

  /** FREEDMAN–DIACONIS HISTOGRAM — the bin count chosen BY the data, not
    * by a magic 20: width h = 2·IQR/n^⅓ (robust to outliers where
    * Sturges/Scott are not), bins clamped to [lo, hi) with the last bin
    * right-closed. The output is the histogram TABLE (edges + counts +
    * share), i.e. what a plotting client actually requests from an
    * engine; identical arithmetic fixes every edge on both engines. The
    * geometry is computed on INTEGER CENTS (q244's fix for the
    * order-dependent-float flake class): the IQR's interpolated
    * percentiles run over exactly-representable integers with dyadic
    * interpolation fractions, so `h` and every bin edge derive from
    * bit-identical operands on both engines — no boundary-adjacent price
    * can land in different bins.
    *
    * 100 TB plan: one exact-percentile agg for the IQR (the documented
    * approx_percentile swap at extreme n), broadcast of the 1-row
    * geometry, then ONE map-side bucketing hash-agg — no sort, no
    * per-bin scan. */
  val q339FdHistogram: GraftQuery = GraftQuery.oracled(
    "q339_fd_histogram",
    """WITH s AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc FROM orders),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n, min(xc) AS lo, max(xc) AS hi,
      |             quantile_cont(xc, 0.75) - quantile_cont(xc, 0.25) AS iqr
      |      FROM s),
      |geo AS (SELECT n, lo, hi, 2 * iqr / pow(n, 1.0 / 3) AS h,
      |               CAST(ceil((hi - lo) / (2 * iqr / pow(n, 1.0 / 3))) AS BIGINT) AS nbins
      |        FROM g),
      |b AS (SELECT least(CAST(floor((s.xc - geo.lo) / geo.h) AS BIGINT), geo.nbins - 1) AS bin
      |      FROM s, geo)
      |SELECT b.bin,
      |       round((geo.lo + b.bin * geo.h) / 100, 4) AS bin_lo,
      |       round((geo.lo + (b.bin + 1) * geo.h) / 100, 4) AS bin_hi,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(floor(1000000.0 * count(*) / geo.n) AS BIGINT) AS share_ppm
      |FROM b, geo
      |GROUP BY b.bin, geo.lo, geo.h, geo.n
      |ORDER BY bin""") { (spark, dir) =>
    import spark.implicits._
    val s = Tables.orders(spark, dir)
      .select(round($"o_totalprice" * 100).cast("long").as("xc"))
    val g = s.agg(count(lit(1)).cast("long").as("n"), min($"xc").as("lo"), max($"xc").as("hi"),
      (expr("percentile(xc, 0.75)") - expr("percentile(xc, 0.25)")).as("iqr"))
    val geo = g.select($"n", $"lo", $"hi",
      (lit(2) * $"iqr" / pow($"n", 1.0 / 3)).as("h"))
      .withColumn("nbins", ceil(($"hi" - $"lo") / $"h").cast("long"))
    s.crossJoin(broadcast(geo))
      .select(least(floor(($"xc" - $"lo") / $"h").cast("long"), $"nbins" - 1).as("bin"),
        $"lo", $"h", $"n".as("nt"))
      .groupBy($"bin", $"lo", $"h", $"nt")
      .agg(count(lit(1)).cast("long").as("n"))
      .select($"bin", round(($"lo" + $"bin" * $"h") / 100, 4).as("bin_lo"),
        round(($"lo" + ($"bin" + 1) * $"h") / 100, 4).as("bin_hi"), $"n",
        floor(lit(1000000.0) * $"n" / $"nt").cast("long").as("share_ppm"))
      .orderBy($"bin")
  }

  /** KENDALL'S τ-b — the rank-correlation family's missing member (q226
    * ships Pearson+Spearman): exact concordant/discordant pair counts,
    * tie-corrected, computed WITHOUT touching pairs of rows. Quantity
    * (50 values) × discount-cents (11 values) collapse to a ≤550-cell
    * contingency census; concordant pairs are Σ n_cell · (census mass
    * strictly above-right), a census SELF-join — the O(n²) pair space
    * never exists, the same closed-form trick as q226/q284/q322. The
    * (n₀−n₁)(n₀−n₂) product would overflow BIGINT at corpus n, so the
    * denominator multiplies √·√ in double — identical order both
    * engines.
    *
    * 100 TB plan: one contingency hash-agg over the scan, then all work
    * on ≤550 rows. Continuous inputs bucketize first (the documented
    * discretization step) — τ-b on raw doubles is a different, pair-space
    * problem. */
  val q340KendallTau: GraftQuery = GraftQuery.oracled(
    "q340_kendall_tau",
    """WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS x,
      |                  CAST(round(l_discount * 100) AS BIGINT) AS y
      |           FROM lineitem),
      |cen AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
      |conc AS (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS c
      |         FROM cen a JOIN cen b ON b.x > a.x AND b.y > a.y),
      |disc AS (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS d
      |         FROM cen a JOIN cen b ON b.x > a.x AND b.y < a.y),
      |tx AS (SELECT CAST(sum(nn * (nn - 1) / 2) AS BIGINT) AS t
      |       FROM (SELECT sum(n) AS nn FROM cen GROUP BY x)),
      |ty AS (SELECT CAST(sum(nn * (nn - 1) / 2) AS BIGINT) AS t
      |       FROM (SELECT sum(n) AS nn FROM cen GROUP BY y)),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cen)
      |SELECT tot.n, conc.c AS concordant, disc.d AS discordant,
      |       tx.t AS ties_x, ty.t AS ties_y,
      |       round((conc.c - disc.d)
      |             / (sqrt(CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2 - tx.t)
      |                * sqrt(CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2 - ty.t)), 6) AS tau_b
      |FROM tot, conc, disc, tx, ty""") { (spark, dir) =>
    import spark.implicits._
    val cen = Tables.lineitem(spark, dir)
      .select($"l_quantity".cast("long").as("x"),
        round($"l_discount" * 100).cast("long").as("y"))
      .groupBy($"x", $"y").agg(count(lit(1)).cast("long").as("n"))
      .cache()
    val a = cen.select($"x".as("xa"), $"y".as("ya"), $"n".as("na"))
    val b = cen.select($"x".as("xb"), $"y".as("yb"), $"n".as("nb"))
    val conc = a.join(b, $"xb" > $"xa" && $"yb" > $"ya")
      .agg(coalesce(sum($"na" * $"nb"), lit(0L)).cast("long").as("c"))
    val disc = a.join(b, $"xb" > $"xa" && $"yb" < $"ya")
      .agg(coalesce(sum($"na" * $"nb"), lit(0L)).cast("long").as("d"))
    val tx = cen.groupBy($"x").agg(sum($"n").as("nn"))
      .agg(sum($"nn" * ($"nn" - 1) / 2).cast("long").as("tx"))
    val ty = cen.groupBy($"y").agg(sum($"n").as("nn"))
      .agg(sum($"nn" * ($"nn" - 1) / 2).cast("long").as("ty"))
    val tot = cen.agg(sum($"n").cast("long").as("n"))
    val half = $"n".cast("double") * ($"n" - 1) / 2
    broadcast(tot).crossJoin(broadcast(conc)).crossJoin(broadcast(disc))
      .crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select($"n", $"c".as("concordant"), $"d".as("discordant"),
        $"tx".as("ties_x"), $"ty".as("ties_y"),
        round(($"c" - $"d") / (sqrt(half - $"tx") * sqrt(half - $"ty")), 6).as("tau_b"))
  }

  /** MEDIAN-OF-MEANS — the heavy-tail-robust mean estimator (Nemirovsky–
    * Yudin; the MoM trick behind every sub-Gaussian bound on non-Gaussian
    * data): shard each segment into 16 deterministic md5 buckets, average
    * within buckets, take the MEDIAN of the bucket means. A single
    * extreme row can move the raw mean arbitrarily but only corrupts ONE
    * bucket — the median shrugs. Reported next to the raw mean; the gap
    * IS the tail-heaviness diagnostic.
    *
    * 100 TB plan: the bucket assignment is a map-side projection, bucket
    * means one (segment, bucket) hash-agg (map-side combined), and the
    * median runs over 16 rows per segment — robust statistics at exactly
    * one aggregation pass over the data. */
  val q341MedianOfMeans: GraftQuery = GraftQuery.oracled(
    "q341_median_of_means",
    """WITH b AS (SELECT event_type, value,
      |                  CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS bkt
      |           FROM events),
      |bm AS (SELECT event_type, bkt, avg(value) AS m, CAST(count(*) AS BIGINT) AS n
      |       FROM b GROUP BY 1, 2),
      |mom AS (SELECT event_type, quantile_cont(m, 0.5) AS mom,
      |               CAST(count(*) AS BIGINT) AS n_buckets, CAST(sum(n) AS BIGINT) AS n
      |        FROM bm GROUP BY 1),
      |raw AS (SELECT event_type, avg(value) AS mean_raw FROM b GROUP BY 1)
      |SELECT mom.event_type, mom.n, mom.n_buckets,
      |       round(raw.mean_raw, 4) AS mean_raw,
      |       round(mom.mom, 4) AS mom_mean
      |FROM mom JOIN raw USING (event_type)
      |ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    val b = Tables.events(spark, dir)
      .select($"event_type", $"value",
        (conv(substring(md5($"event_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 16).as("bkt"))
    val bm = b.groupBy($"event_type", $"bkt")
      .agg(avg($"value").as("m"), count(lit(1)).cast("long").as("n"))
    val mom = bm.groupBy($"event_type")
      .agg(expr("percentile(m, 0.5)").as("mom"),
        count(lit(1)).cast("long").as("n_buckets"),
        sum($"n").cast("long").as("n"))
    val raw = b.groupBy($"event_type").agg(avg($"value").as("mean_raw"))
    mom.join(broadcast(raw), Seq("event_type"))
      .select($"event_type", $"n", $"n_buckets",
        round($"mean_raw", 4).as("mean_raw"),
        round($"mom", 4).as("mom_mean"))
      .orderBy($"event_type")
  }

  /** BRADLEY–TERRY PREFERENCE RANKING (Bradley & Terry 1952, via the MM
    * algorithm of Hunter 2004) — the pairwise-comparison strength model
    * behind every LLM arena leaderboard and RLHF reward-model sanity
    * check: P(i beats j) = π_i/(π_i+π_j), fit by three minorize–maximize
    * rounds π_i ← W_i / Σ_j g_ij/(π_i+π_j), renormalized to mean 1.
    * Matchups here are deterministic: consecutive doc_ids with different
    * sources "compete" and the longer text wins (ties to the
    * lexicographically smaller source) — a stand-in for human preference
    * pairs. Cross-engine float discipline: every Σ over opponents and the
    * normalization Σ are ordered left-folds (q389's trick), divisions are
    * single ops on exactly-derived values, so all three iterations are
    * bit-reproducible and the final ranks are hash-safe.
    *
    * 100 TB plan: the only corpus-scale work is the matchup equi-join
    * (doc_id+1, 1-to-1) and one census hash-agg; everything after runs on
    * the ≤ sources² census (≤400 rows here) with broadcast-joined π
    * vectors — iteration cost is independent of corpus size. */
  val q403BradleyTerry: GraftQuery = GraftQuery.oracled(
    "q403_bradley_terry",
    """WITH m AS (SELECT a.source AS sa, b.source AS sb, a.n_chars AS ca, b.n_chars AS cb
      |           FROM documents a JOIN documents b
      |             ON b.doc_id = a.doc_id + 1 AND a.source <> b.source),
      |m2 AS (SELECT CASE WHEN sa < sb THEN sa ELSE sb END AS i,
      |              CASE WHEN sa < sb THEN sb ELSE sa END AS j,
      |              CASE WHEN ca = cb THEN 1
      |                   WHEN ca > cb THEN CASE WHEN sa < sb THEN 1 ELSE 0 END
      |                   ELSE CASE WHEN sb < sa THEN 1 ELSE 0 END END AS i_won
      |       FROM m),
      |g AS (SELECT i, j, CAST(count(*) AS BIGINT) AS games,
      |             CAST(sum(i_won) AS BIGINT) AS wins_i
      |      FROM m2 GROUP BY 1, 2),
      |sym AS (SELECT i AS s, j AS o, games, wins_i AS wins FROM g
      |        UNION ALL
      |        SELECT j, i, games, games - wins_i FROM g),
      |w AS (SELECT s, CAST(sum(wins) AS BIGINT) AS wins,
      |             CAST(sum(games) AS BIGINT) AS games
      |      FROM sym GROUP BY s),
      |p0 AS (SELECT s, CAST(1 AS DOUBLE) AS pi FROM w),
      |d1 AS (SELECT y.s,
      |              list_sum(list(CAST(y.games AS DOUBLE) / (ps.pi + po.pi) ORDER BY y.o)) AS den
      |       FROM sym y JOIN p0 ps ON ps.s = y.s JOIN p0 po ON po.s = y.o GROUP BY y.s),
      |r1 AS (SELECT w.s, CASE WHEN d1.den > 0 THEN CAST(w.wins AS DOUBLE) / d1.den
      |                        ELSE p0.pi END AS pi_raw
      |       FROM w JOIN d1 ON d1.s = w.s JOIN p0 ON p0.s = w.s),
      |n1 AS (SELECT list_sum(list(pi_raw ORDER BY s)) AS tot,
      |              CAST(count(*) AS BIGINT) AS k FROM r1),
      |p1 AS (SELECT s, pi_raw * k / tot AS pi FROM r1, n1),
      |d2 AS (SELECT y.s,
      |              list_sum(list(CAST(y.games AS DOUBLE) / (ps.pi + po.pi) ORDER BY y.o)) AS den
      |       FROM sym y JOIN p1 ps ON ps.s = y.s JOIN p1 po ON po.s = y.o GROUP BY y.s),
      |r2 AS (SELECT w.s, CASE WHEN d2.den > 0 THEN CAST(w.wins AS DOUBLE) / d2.den
      |                        ELSE p1.pi END AS pi_raw
      |       FROM w JOIN d2 ON d2.s = w.s JOIN p1 ON p1.s = w.s),
      |n2 AS (SELECT list_sum(list(pi_raw ORDER BY s)) AS tot,
      |              CAST(count(*) AS BIGINT) AS k FROM r2),
      |p2 AS (SELECT s, pi_raw * k / tot AS pi FROM r2, n2),
      |d3 AS (SELECT y.s,
      |              list_sum(list(CAST(y.games AS DOUBLE) / (ps.pi + po.pi) ORDER BY y.o)) AS den
      |       FROM sym y JOIN p2 ps ON ps.s = y.s JOIN p2 po ON po.s = y.o GROUP BY y.s),
      |r3 AS (SELECT w.s, CASE WHEN d3.den > 0 THEN CAST(w.wins AS DOUBLE) / d3.den
      |                        ELSE p2.pi END AS pi_raw
      |       FROM w JOIN d3 ON d3.s = w.s JOIN p2 ON p2.s = w.s),
      |n3 AS (SELECT list_sum(list(pi_raw ORDER BY s)) AS tot,
      |              CAST(count(*) AS BIGINT) AS k FROM r3),
      |p3 AS (SELECT s, pi_raw * k / tot AS pi FROM r3, n3)
      |SELECT w.s AS source, w.games, w.wins, round(p3.pi, 6) AS strength,
      |       CAST(row_number() OVER (ORDER BY p3.pi DESC, w.s) AS BIGINT) AS rank
      |FROM w JOIN p3 ON p3.s = w.s
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"source", $"n_chars")
    val m = docs.as("a")
      .join(docs.as("b"),
        $"b.doc_id" === $"a.doc_id" + 1 && $"a.source" =!= $"b.source")
      .select($"a.source".as("sa"), $"b.source".as("sb"),
        $"a.n_chars".as("ca"), $"b.n_chars".as("cb"))
    val m2 = m.select(
      when($"sa" < $"sb", $"sa").otherwise($"sb").as("i"),
      when($"sa" < $"sb", $"sb").otherwise($"sa").as("j"),
      when($"ca" === $"cb", 1)
        .when($"ca" > $"cb", when($"sa" < $"sb", 1).otherwise(0))
        .otherwise(when($"sb" < $"sa", 1).otherwise(0)).as("i_won"))
    val g = m2.groupBy($"i", $"j")
      .agg(count(lit(1)).cast("long").as("games"),
        sum($"i_won").cast("long").as("wins_i"))
    val sym = g.select($"i".as("s"), $"j".as("o"), $"games", $"wins_i".as("wins"))
      .union(g.select($"j", $"i", $"games", ($"games" - $"wins_i").as("wins")))
      .localCheckpoint(true)
    val w = sym.groupBy($"s")
      .agg(sum($"wins").cast("long").as("wins"), sum($"games").cast("long").as("games"))
      .localCheckpoint(true)
    // ordered left-fold of `value` by `key` — the q389 bit-reproducible sum
    def orderedSum(key: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    var pi = w.select($"s", lit(1.0).as("pi"))
    for (_ <- 1 to 3) {
      val den = sym
        .join(broadcast(pi.select($"s", $"pi".as("pi_s"))), Seq("s"))
        .join(broadcast(pi.select($"s".as("o"), $"pi".as("pi_o"))), Seq("o"))
        .groupBy($"s")
        .agg(orderedSum($"o", $"games".cast("double") / ($"pi_s" + $"pi_o")).as("den"))
      val raw = w.join(broadcast(den), Seq("s")).join(broadcast(pi), Seq("s"))
        .select($"s",
          when($"den" > 0, $"wins".cast("double") / $"den").otherwise($"pi").as("pi_raw"))
      val norm = raw.agg(orderedSum($"s", $"pi_raw").as("tot"),
        count(lit(1)).cast("long").as("k"))
      pi = raw.crossJoin(broadcast(norm))
        .select($"s", $"pi_raw" * $"k" / $"tot" as "pi")
        .localCheckpoint(true)
    }
    import org.apache.spark.sql.expressions.Window
    w.join(broadcast(pi), Seq("s"))
      .select($"s".as("source"), $"games", $"wins", $"pi")
      // sources census ≤ 20 rows — the global window is census-sized
      .withColumn("rank",
        row_number().over(Window.orderBy($"pi".desc, $"source")).cast("long"))
      .select($"source", $"games", $"wins", round($"pi", 6).as("strength"), $"rank")
      .orderBy($"source")
  }

  /** EXPECTED CALIBRATION ERROR (Naeini 2015 / Guo 2017's reliability
    * diagram) — the standard audit of whether a classifier's confidence
    * means what it says: bucket predictions into 10 confidence bins and
    * compare each bin's mean confidence against its empirical accuracy;
    * ECE is the support-weighted mean absolute gap. The scored set is a
    * deterministic synthetic classifier: confidence = md5-derived
    * millis ∈ [0,1000), label drawn by a second independent md5 coin with
    * P(1) = (150 + 0.7·conf_milli)/1000 — integer-exact on both engines,
    * so the true curve is linear-in-confidence and the audit has a known
    * shape. All arithmetic is integer sums + single divisions; the final
    * ECE sum is an ordered fold over the 10 bins — bit-reproducible.
    *
    * 100 TB plan: one map-side projection + a 10-row census hash-agg;
    * the reliability table and ECE are census-sized arithmetic. */
  val q404CalibrationEce: GraftQuery = GraftQuery.oracled(
    "q404_calibration_ece",
    """WITH s AS (SELECT doc_id,
      |                  CAST(('0x' || substr(md5('cal:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS conf_milli,
      |                  CAST(('0x' || substr(md5('lab:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS coin
      |           FROM documents),
      |l AS (SELECT doc_id, conf_milli,
      |             CASE WHEN coin < 150 + (conf_milli * 700) // 1000 THEN 1 ELSE 0 END AS label
      |      FROM s),
      |b AS (SELECT conf_milli // 100 AS bin, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(conf_milli) AS BIGINT) AS conf_sum,
      |             CAST(sum(label) AS BIGINT) AS pos
      |      FROM l GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM b),
      |gaps AS (SELECT bin, n, pos,
      |                CAST(conf_sum AS DOUBLE) / CAST(n * 1000 AS DOUBLE) AS conf,
      |                CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
      |         FROM b),
      |e AS (SELECT list_sum(list(CAST(g.n AS DOUBLE) / t.total * abs(g.acc - g.conf) ORDER BY g.bin)) AS ece
      |      FROM gaps g, t)
      |SELECT bin, n, pos, round(conf, 6) AS mean_conf, round(acc, 6) AS accuracy,
      |       round(abs(acc - conf), 6) AS gap, round(e.ece, 6) AS ece
      |FROM gaps, e
      |ORDER BY bin""") { (spark, dir) =>
    import spark.implicits._
    val s = Tables.documents(spark, dir).select($"doc_id",
      (conv(substring(md5(concat(lit("cal:"), $"doc_id".cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000).as("conf_milli"),
      (conv(substring(md5(concat(lit("lab:"), $"doc_id".cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000).as("coin"))
    val l = s.select($"doc_id", $"conf_milli",
      when($"coin" < lit(150) + expr("conf_milli * 700 div 1000"), 1).otherwise(0).as("label"))
    val b = l.groupBy(expr("conf_milli div 100").as("bin"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"conf_milli").cast("long").as("conf_sum"),
        sum($"label").cast("long").as("pos"))
    val gaps = b.select($"bin", $"n", $"pos",
      ($"conf_sum".cast("double") / ($"n" * 1000).cast("double")).as("conf"),
      ($"pos".cast("double") / $"n".cast("double")).as("acc"))
    val t = b.agg(sum($"n").cast("long").as("total"))
    def orderedSum(key: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    val e = gaps.crossJoin(broadcast(t))
      .agg(orderedSum($"bin", $"n".cast("double") / $"total" * abs($"acc" - $"conf")).as("ece"))
    gaps.crossJoin(broadcast(e))
      .select($"bin", $"n", $"pos", round($"conf", 6).as("mean_conf"),
        round($"acc", 6).as("accuracy"), round(abs($"acc" - $"conf"), 6).as("gap"),
        round($"ece", 6).as("ece"))
      .orderBy($"bin")
  }

  /** SPLIT-CONFORMAL PREDICTION INTERVALS + COVERAGE AUDIT (Vovk 2005;
    * Angelopoulos & Bates 2023's split recipe) — the distribution-free
    * uncertainty wrapper every deployed predictor should carry: on a
    * calibration half (deterministic md5 coin), score nonconformity
    * s = |y − ŷ| against a per-group point predictor (the calibration
    * half's lower-median price by order priority — an exact order
    * statistic, not a float mean); the radius q̂ is the ⌈(n+1)(1−α)⌉-th
    * smallest s (α = 0.1, pure integer rank arithmetic); then AUDIT the
    * guarantee on the held-out half: coverage = share of |y − ŷ| ≤ q̂,
    * which conformal theory lower-bounds by 1−α in expectation. Every
    * quantity is an integer-cents order statistic or an integer-count
    * ratio — strictly hash-comparable cross-engine.
    *
    * 100 TB plan: two per-group rank selections (window over the group's
    * sorted cents — swap for q406's two-scan selection at petabyte group
    * sizes) + one co-partitioned coverage agg; groups are the parallelism
    * unit, nothing global. */
  val q408ConformalCoverage: GraftQuery = GraftQuery.oracled(
    "q408_conformal_coverage",
    """WITH o AS (SELECT o_orderpriority AS grp,
      |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |                  CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS half
      |           FROM orders),
      |cal AS (SELECT grp, cents FROM o WHERE half = 0),
      |tst AS (SELECT grp, cents FROM o WHERE half = 1),
      |yhat AS (SELECT grp, cents AS yhat FROM (
      |           SELECT grp, cents,
      |                  row_number() OVER (PARTITION BY grp ORDER BY cents) AS rk,
      |                  count(*) OVER (PARTITION BY grp) AS n
      |           FROM cal) WHERE rk = (n + 1) // 2),
      |scores AS (SELECT c.grp, abs(c.cents - y.yhat) AS s
      |           FROM cal c JOIN yhat y ON y.grp = c.grp),
      |qhat AS (SELECT grp, s AS qhat, n AS n_cal FROM (
      |           SELECT grp, s,
      |                  row_number() OVER (PARTITION BY grp ORDER BY s) AS rk,
      |                  count(*) OVER (PARTITION BY grp) AS n
      |           FROM scores)
      |         WHERE rk = least(((n + 1) * 9 + 9) // 10, n)),
      |cov AS (SELECT t.grp, CAST(count(*) AS BIGINT) AS n_test,
      |               CAST(sum(CASE WHEN abs(t.cents - y.yhat) <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS covered
      |        FROM tst t JOIN yhat y ON y.grp = t.grp JOIN qhat q ON q.grp = t.grp
      |        GROUP BY t.grp)
      |SELECT c.grp AS grp, q.n_cal, c.n_test,
      |       round(CAST(y.yhat AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS yhat,
      |       round(CAST(q.qhat AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS qhat,
      |       c.covered,
      |       round(CAST(c.covered AS DOUBLE) / CAST(c.n_test AS DOUBLE), 6) AS coverage
      |FROM cov c JOIN yhat y ON y.grp = c.grp JOIN qhat q ON q.grp = c.grp
      |ORDER BY grp""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select(
      $"o_orderpriority".as("grp"),
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
      (conv(substring(md5($"o_orderkey".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2).as("half"))
    val cal = o.filter($"half" === 0).select($"grp", $"cents")
    val tst = o.filter($"half" === 1).select($"grp", $"cents")
    val wg = Window.partitionBy($"grp")
    val yhat = cal
      .select($"grp", $"cents",
        row_number().over(wg.orderBy($"cents")).as("rk"),
        count(lit(1)).over(wg).as("n"))
      .filter($"rk" === expr("(n + 1) div 2"))
      .select($"grp", $"cents".as("yhat"))
    val scores = cal.join(broadcast(yhat), Seq("grp"))
      .select($"grp", abs($"cents" - $"yhat").as("s"))
    val qhat = scores
      .select($"grp", $"s",
        row_number().over(wg.orderBy($"s")).as("rk"),
        count(lit(1)).over(wg).as("n"))
      .filter($"rk" === least(expr("((n + 1) * 9 + 9) div 10"), $"n"))
      .select($"grp", $"s".as("qhat"), $"n".as("n_cal"))
    val cov = tst.join(broadcast(yhat), Seq("grp")).join(broadcast(qhat), Seq("grp"))
      .groupBy($"grp")
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum(when(abs($"cents" - $"yhat") <= $"qhat", 1).otherwise(0)).cast("long").as("covered"))
    cov.join(broadcast(yhat), Seq("grp")).join(broadcast(qhat), Seq("grp"))
      .select($"grp", $"n_cal".cast("long").as("n_cal"), $"n_test",
        round($"yhat".cast("double") / lit(100).cast("double"), 2).as("yhat"),
        round($"qhat".cast("double") / lit(100).cast("double"), 2).as("qhat"),
        $"covered",
        round($"covered".cast("double") / $"n_test".cast("double"), 6).as("coverage"))
      .orderBy($"grp")
  }

  /** GROUP-SEQUENTIAL MONITORING with O'Brien–Fleming boundaries (O'Brien
    * & Fleming 1979; the K=5-look two-sided α=0.05 critical values
    * {4.8769, 3.3569, 2.6803, 2.2898, 2.0310}) — the experimentation-
    * platform guardrail q163's single-shot z-test cannot give: peeking at
    * an A/B metric every few days REQUIRES inflated early boundaries or
    * the false-positive rate balloons. Arms are the deterministic
    * user_id-parity split; the monitored metric is the cumulative
    * purchase-count difference, z_t = (n_A − n_B)/√(n_A + n_B) (the
    * two-sample Poisson count test) at five equally-spaced looks over the
    * 30-day window. Integer counts, one sqrt, one division — bit-
    * reproducible; the first boundary crossing (if any) is flagged as the
    * stopping look.
    *
    * 100 TB plan: one scan into a (day × arm) census; the five looks are
    * census rollups, the boundary comparison is 5-row arithmetic. */
  val q412SequentialObf: GraftQuery = GraftQuery.oracled(
    "q412_sequential_obf",
    """WITH e AS (SELECT CAST(user_id % 2 AS BIGINT) AS arm,
      |                  date_diff('day',
      |                    (SELECT min(CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE)) FROM events),
      |                    CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE)) AS d
      |           FROM events WHERE event_type = 'purchase'),
      |looks AS (SELECT unnest(generate_series(1, 5)) AS look),
      |m AS (SELECT l.look,
      |             CAST(sum(CASE WHEN e.arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |             CAST(sum(CASE WHEN e.arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |      FROM looks l JOIN e ON e.d < 6 * l.look
      |      GROUP BY l.look),
      |z AS (SELECT look, n_a, n_b,
      |             CASE WHEN n_a + n_b > 0
      |                  THEN CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE))
      |                  ELSE CAST(0 AS DOUBLE) END AS z,
      |             CAST(CASE look WHEN 1 THEN 4.8769 WHEN 2 THEN 3.3569 WHEN 3 THEN 2.6803
      |                            WHEN 4 THEN 2.2898 ELSE 2.0310 END AS DOUBLE) AS boundary
      |      FROM m),
      |f AS (SELECT min(CASE WHEN abs(z) >= boundary THEN look END) AS stop_look FROM z)
      |SELECT look, n_a, n_b, round(z, 6) AS z, boundary,
      |       CASE WHEN abs(z) >= boundary THEN 1 ELSE 0 END AS crossed,
      |       CASE WHEN look = f.stop_look THEN 1 ELSE 0 END AS is_stop
      |FROM z, f
      |ORDER BY look""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select(($"user_id" % 2).cast("long").as("arm"), to_date($"ts").as("day"))
    val minDay = e.agg(min($"day").as("d0"))
    val ec = e.crossJoin(broadcast(minDay))
      .select($"arm", datediff($"day", $"d0").as("d"))
    val looks = spark.range(1, 6).select($"id".cast("int").as("look"))
    val m = broadcast(looks).join(ec, $"d" < lit(6) * $"look")
      .groupBy($"look")
      .agg(sum(when($"arm" === 0, 1).otherwise(0)).cast("long").as("n_a"),
        sum(when($"arm" === 1, 1).otherwise(0)).cast("long").as("n_b"))
    val boundary = when($"look" === 1, 4.8769).when($"look" === 2, 3.3569)
      .when($"look" === 3, 2.6803).when($"look" === 4, 2.2898).otherwise(2.0310)
    val z = m.select($"look", $"n_a", $"n_b",
      when($"n_a" + $"n_b" > 0,
        ($"n_a" - $"n_b").cast("double") / sqrt(($"n_a" + $"n_b").cast("double")))
        .otherwise(lit(0.0)).as("z"),
      boundary.as("boundary"))
    val f = z.agg(min(when(abs($"z") >= $"boundary", $"look")).as("stop_look"))
    z.crossJoin(broadcast(f))
      .select($"look", $"n_a", $"n_b", round($"z", 6).as("z"), $"boundary",
        when(abs($"z") >= $"boundary", 1).otherwise(0).as("crossed"),
        when($"look" === $"stop_look", 1).otherwise(0).as("is_stop"))
      .orderBy($"look")
  }

  /** K-FOLD CROSS-VALIDATION BY SUFFICIENT STATISTICS — the one-pass trick
    * that makes exact k-fold evaluation of a linear model FREE at scale:
    * OLS needs only the moments (n, Σx, Σy, Σxx, Σxy, Σyy), moments are
    * ADDITIVE, so each fold's TRAINING moments are total − fold — five
    * leave-fold-out models and their held-out MSEs from ONE scan and a
    * 5-row census, no per-fold refit pass (the trick generalizes to any
    * algebraic estimator; contrast q60's GBT, which genuinely refits).
    * The same subtraction trick powers q170's incremental aggregates.
    * x = l_quantity, y = whole-dollar price, fold = md5 coin % 5 — all
    * moments exact BIGINTs, coefficients and MSEs single fixed-order
    * double expressions (MSE via the expanded quadratic
    * Σ(y−a−bx)² = Syy + na² + b²Sxx − 2aSy − 2bSxy + 2abSx), the CV mean
    * an ordered fold — bit-reproducible. Round7bSpec re-fits each fold's
    * complement directly and matches coefficients to 1e-9.
    *
    * 100 TB plan: one map-side-combined moments agg keyed by fold (k·6
    * longs of state), then 5-row arithmetic. Nothing is scanned twice,
    * nothing shuffles but the 5-row census. */
  val q415KfoldCv: GraftQuery = GraftQuery.oracled(
    "q415_kfold_cv",
    """WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS x,
      |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) // 100 AS y,
      |                  CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
      |           FROM lineitem),
      |m AS (SELECT fold, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
      |             CAST(sum(y * y) AS BIGINT) AS syy
      |      FROM d GROUP BY fold),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
      |             CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxx) AS BIGINT) AS sxx,
      |             CAST(sum(sxy) AS BIGINT) AS sxy, CAST(sum(syy) AS BIGINT) AS syy
      |      FROM m),
      |c AS (SELECT m.fold,
      |             t.n - m.n AS n_tr, t.sx - m.sx AS sx_tr, t.sy - m.sy AS sy_tr,
      |             t.sxx - m.sxx AS sxx_tr, t.sxy - m.sxy AS sxy_tr,
      |             m.n, m.sx, m.sy, m.sxx, m.sxy, m.syy
      |      FROM m, t),
      |f AS (SELECT fold, n_tr, sx_tr, sy_tr, n, sx, sy, sxx, sxy, syy,
      |             (CAST(n_tr AS DOUBLE) * CAST(sxy_tr AS DOUBLE) - CAST(sx_tr AS DOUBLE) * CAST(sy_tr AS DOUBLE))
      |               / (CAST(n_tr AS DOUBLE) * CAST(sxx_tr AS DOUBLE) - CAST(sx_tr AS DOUBLE) * CAST(sx_tr AS DOUBLE)) AS b
      |      FROM c),
      |g AS (SELECT fold, n_tr AS n_train, n AS n_test, n, sx, sy, sxx, sxy, syy, b,
      |             (CAST(sy_tr AS DOUBLE) - b * CAST(sx_tr AS DOUBLE))
      |               / CAST(n_tr AS DOUBLE) AS a
      |      FROM f),
      |e AS (SELECT fold, n_train, n_test, b, a,
      |             (CAST(syy AS DOUBLE) + n * a * a + b * b * sxx
      |              - 2 * a * sy - 2 * b * sxy + 2 * a * b * sx) / n AS mse
      |      FROM g),
      |cv AS (SELECT list_sum(list(mse ORDER BY fold)) / 5 AS cv_mse FROM e)
      |SELECT fold, n_train, n_test, round(b, 6) AS b, round(a, 4) AS a,
      |       round(mse, 4) AS test_mse, round(cv.cv_mse, 4) AS cv_mse
      |FROM e, cv
      |ORDER BY fold""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.lineitem(spark, dir).select(
      $"l_quantity".cast("long").as("x"),
      expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) div 100").as("y"),
      (conv(substring(md5(concat($"l_orderkey".cast("string"), lit(":"),
        $"l_linenumber".cast("string"))), 1, 8), 16, 10).cast("long") % 5).as("fold"))
    val m = d.groupBy($"fold").agg(
      count(lit(1)).cast("long").as("n"),
      sum($"x").cast("long").as("sx"), sum($"y").cast("long").as("sy"),
      sum($"x" * $"x").cast("long").as("sxx"), sum($"x" * $"y").cast("long").as("sxy"),
      sum($"y" * $"y").cast("long").as("syy")).localCheckpoint(true)
    val t = m.agg(sum($"n").cast("long").as("tn"), sum($"sx").cast("long").as("tsx"),
      sum($"sy").cast("long").as("tsy"), sum($"sxx").cast("long").as("tsxx"),
      sum($"sxy").cast("long").as("tsxy"), sum($"syy").cast("long").as("tsyy"))
    val c = m.crossJoin(broadcast(t)).select(
      $"fold", $"n", $"sx", $"sy", $"sxx", $"sxy", $"syy",
      ($"tn" - $"n").as("n_tr"), ($"tsx" - $"sx").as("sx_tr"),
      ($"tsy" - $"sy").as("sy_tr"), ($"tsxx" - $"sxx").as("sxx_tr"),
      ($"tsxy" - $"sxy").as("sxy_tr"))
    // sf1 overflow fix (found by the r9 synthesized-tier sweep): the exact
    // BIGINT cross-products n_tr·sxy_tr and sx_tr·sy_tr pass 2⁶³ at ~6M rows
    // (2.9e19 measured). Cast each FACTOR to double first — every moment is
    // < 2⁵³ so the conversions are exact, and IEEE multiply/subtract round
    // identically on both engines, so strictness is unchanged. The same
    // expression change is in the oracle. Horizon: exact until a moment
    // itself passes 2⁵³ (~10¹⁵ Σxy ≈ 10⁹ rows at these domains).
    val f = c.select($"fold", $"n_tr".as("n_train"), $"n".as("n_test"),
      $"n", $"sx", $"sy", $"sxx", $"sxy", $"syy", $"n_tr", $"sx_tr", $"sy_tr",
      (($"n_tr".cast("double") * $"sxy_tr".cast("double")
        - $"sx_tr".cast("double") * $"sy_tr".cast("double"))
        / ($"n_tr".cast("double") * $"sxx_tr".cast("double")
          - $"sx_tr".cast("double") * $"sx_tr".cast("double"))).as("b"))
    val g = f.select($"fold", $"n_train", $"n_test", $"n", $"sx", $"sy",
      $"sxx", $"sxy", $"syy", $"b",
      (($"sy_tr".cast("double") - $"b" * $"sx_tr".cast("double"))
        / $"n_tr".cast("double")).as("a"))
    val e = g.select($"fold", $"n_train", $"n_test", $"b", $"a",
      (($"syy".cast("double") + $"n" * $"a" * $"a" + $"b" * $"b" * $"sxx"
        - lit(2) * $"a" * $"sy" - lit(2) * $"b" * $"sxy"
        + lit(2) * $"a" * $"b" * $"sx") / $"n").as("mse"))
    def orderedSum(key: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    val cv = e.agg((orderedSum($"fold", $"mse") / 5).as("cv_mse"))
    e.crossJoin(broadcast(cv))
      .select($"fold", $"n_train", $"n_test", round($"b", 6).as("b"),
        round($"a", 4).as("a"), round($"mse", 4).as("test_mse"),
        round($"cv_mse", 4).as("cv_mse"))
      .orderBy($"fold")
  }

  /** MANN–KENDALL TREND TEST (Mann 1945, Kendall 1975; the nonparametric
    * monotone-trend standard in monitoring) over the daily purchase-cents
    * series: S = Σ_{i<j} sign(x_j − x_i) over all day pairs, tie-corrected
    * variance [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, continuity-corrected
    * z. Distribution-free where q181's OLS slope assumes linearity, and
    * rank-robust where q186's ACF reads autocorrelation. S and the
    * variance numerator are exact integers; z is one sqrt + one division.
    *
    * 100 TB plan: one scan into the calendar-day census; the pair sweep
    * is census² (days², trivially bounded), ties by one value census. */
  val q416MannKendall: GraftQuery = GraftQuery.oracled(
    "q416_mann_kendall",
    """WITH s AS (SELECT CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d,
      |                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
      |sk AS (SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
      |       FROM s a JOIN s b ON b.d > a.d),
      |ties AS (SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
      |         FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v HAVING count(*) > 1)),
      |vr AS (SELECT n.n, sk.s, n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS var18
      |       FROM n, sk, ties)
      |SELECT n, s, var18,
      |       round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18)
      |                  WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18)
      |                  ELSE CAST(0 AS DOUBLE) END, 6) AS z,
      |       CASE WHEN s > 0 AND CAST(s - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18) >= 1.96 THEN 'increasing'
      |            WHEN s < 0 AND CAST(s + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18) <= -1.96 THEN 'decreasing'
      |            ELSE 'no_trend' END AS trend
      |FROM vr""") { (spark, dir) =>
    import spark.implicits._
    val s = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).cast("long").as("v"))
      .localCheckpoint(true) // calendar-day census
    val n = s.agg(count(lit(1)).cast("long").as("n"))
    val sk = s.as("a").join(s.as("b"), $"b.d" > $"a.d")
      .agg(sum(when($"b.v" > $"a.v", 1).when($"b.v" < $"a.v", -1).otherwise(0))
        .cast("long").as("s"))
    val ties = s.groupBy($"v").agg(count(lit(1)).cast("long").as("t"))
      .filter($"t" > 1)
      .agg(coalesce(sum($"t" * ($"t" - 1) * (lit(2) * $"t" + 5)), lit(0L))
        .cast("long").as("tie_term"))
    val z = ($"s".cast("double") - signum($"s".cast("double")))
    n.crossJoin(sk).crossJoin(ties)
      .select($"n", $"s",
        ($"n" * ($"n" - 1) * (lit(2) * $"n" + 5) - $"tie_term").as("var18"))
      .select($"n", $"s", $"var18",
        round(when($"s" === 0, 0.0)
          .otherwise(z / sqrt($"var18".cast("double") / 18)), 6).as("z"),
        when($"s" > 0 && z / sqrt($"var18".cast("double") / 18) >= 1.96, "increasing")
          .when($"s" < 0 && z / sqrt($"var18".cast("double") / 18) <= -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
  }

  /** DELETE-ONE-GROUP JACKKNIFE for a RATIO metric (Quenouille 1956;
    * the experimentation-platform standard for revenue-per-event-style
    * metrics, whose variance the naive per-row formula understates because
    * numerator and denominator are correlated): θ = Σcents/Σcount over
    * purchases, 16 md5 buckets, θ₍ᵢ₎ from the leave-bucket-out totals —
    * ADDITIVE sufficient statistics again (q415's trick), so all 16
    * refits come from one census scan. SE² = (g−1)/g · Σ(θ₍ᵢ₎ − θ̄·)²;
    * the bucket sums are exact BIGINTs, every θ a single division, the
    * two Σs over buckets ordered folds, the CI a pinned-1.96 literal —
    * bit-reproducible.
    *
    * 100 TB plan: one map-side integer moments agg keyed by bucket
    * (16×2 longs of state), then 16-row arithmetic. The g buckets ARE
    * the parallelism-safe replacement for row-level resampling. */
  val q421JackknifeRatio: GraftQuery = GraftQuery.oracled(
    "q421_jackknife_ratio",
    """WITH e AS (SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS b,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |           FROM events WHERE event_type = 'purchase'),
      |m AS (SELECT b, CAST(sum(cents) AS BIGINT) AS sc, CAST(count(*) AS BIGINT) AS n
      |      FROM e GROUP BY b),
      |t AS (SELECT CAST(sum(sc) AS BIGINT) AS tsc, CAST(sum(n) AS BIGINT) AS tn,
      |             CAST(count(*) AS BIGINT) AS g FROM m),
      |loo AS (SELECT m.b, t.g, t.tsc, t.tn,
      |               CAST(t.tsc - m.sc AS DOUBLE) / CAST(t.tn - m.n AS DOUBLE) AS theta_i
      |        FROM m, t),
      |mean AS (SELECT g, tsc, tn,
      |                list_sum(list(theta_i ORDER BY b)) / g AS theta_dot FROM loo
      |         GROUP BY g, tsc, tn),
      |se AS (SELECT mean.g, mean.tsc, mean.tn, mean.theta_dot,
      |              sqrt(CAST(mean.g - 1 AS DOUBLE) / mean.g
      |                   * list_sum(list((l.theta_i - mean.theta_dot) * (l.theta_i - mean.theta_dot) ORDER BY l.b))) AS se
      |       FROM loo l, mean GROUP BY mean.g, mean.tsc, mean.tn, mean.theta_dot)
      |SELECT g, tn AS n, round(CAST(tsc AS DOUBLE) / CAST(tn * 100 AS DOUBLE), 6) AS theta,
      |       round(se / 100, 6) AS se,
      |       round(CAST(tsc AS DOUBLE) / CAST(tn * 100 AS DOUBLE) - 1.96 * (se / 100), 6) AS ci_lo,
      |       round(CAST(tsc AS DOUBLE) / CAST(tn * 100 AS DOUBLE) + 1.96 * (se / 100), 6) AS ci_hi
      |FROM se""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select((conv(substring(md5($"event_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 16).as("b"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    val m = e.groupBy($"b")
      .agg(sum($"cents").cast("long").as("sc"), count(lit(1)).cast("long").as("n"))
      .localCheckpoint(true)
    val t = m.agg(sum($"sc").cast("long").as("tsc"), sum($"n").cast("long").as("tn"),
      count(lit(1)).cast("long").as("g"))
    val loo = m.crossJoin(broadcast(t))
      .select($"b", $"g", $"tsc", $"tn",
        (($"tsc" - $"sc").cast("double") / ($"tn" - $"n").cast("double")).as("theta_i"))
    def orderedSum(key: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    val mean = loo.groupBy($"g", $"tsc", $"tn")
      .agg((orderedSum($"b", $"theta_i") / $"g").as("theta_dot"))
    val se = loo.join(broadcast(mean), Seq("g", "tsc", "tn"))
      .groupBy($"g", $"tsc", $"tn", $"theta_dot")
      .agg(sqrt(($"g" - 1).cast("double") / $"g"
        * orderedSum($"b", ($"theta_i" - $"theta_dot") * ($"theta_i" - $"theta_dot"))).as("se"))
    val theta = $"tsc".cast("double") / ($"tn" * 100).cast("double")
    se.select($"g", $"tn".as("n"), round(theta, 6).as("theta"),
      round($"se" / 100, 6).as("se"),
      round(theta - lit(1.96) * ($"se" / 100), 6).as("ci_lo"),
      round(theta + lit(1.96) * ($"se" / 100), 6).as("ci_hi"))
  }

  /** BRIER SCORE with the MURPHY (1973) DECOMPOSITION — the score q404's
    * ECE cannot give alone: Brier = reliability − resolution +
    * uncertainty, separating "are the stated confidences honest"
    * (reliability, lower better) from "do the forecasts discriminate"
    * (resolution, higher better) against the irreducible base-rate term.
    * Forecasts are q404's synthetic classifier QUANTIZED to its 10 bin
    * centers (the quantization is what makes Murphy's three-term identity
    * EXACT — Round7bSpec asserts Brier = REL − RES + UNC to 1e-12). The
    * total Brier is an exact integer sum in milli² units; the per-bin
    * terms are single-expression rationals ordered-folded over 10 bins.
    *
    * 100 TB plan: one projection + a 10-row census agg; the decomposition
    * is census arithmetic. */
  val q425BrierDecomposition: GraftQuery = GraftQuery.oracled(
    "q425_brier_decomposition",
    """WITH s AS (SELECT doc_id,
      |                  CAST(('0x' || substr(md5('cal:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS conf_milli,
      |                  CAST(('0x' || substr(md5('lab:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS coin
      |           FROM documents),
      |l AS (SELECT (conf_milli // 100) * 100 + 50 AS fq_milli,
      |             CASE WHEN coin < 150 + (conf_milli * 700) // 1000 THEN 1 ELSE 0 END AS label
      |      FROM s),
      |b AS (SELECT fq_milli, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(label) AS BIGINT) AS pos_b,
      |             CAST(sum((fq_milli - 1000 * label) * (fq_milli - 1000 * label)) AS BIGINT) AS sq
      |      FROM l GROUP BY fq_milli),
      |t AS (SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(pos_b) AS BIGINT) AS pos,
      |             CAST(sum(sq) AS BIGINT) AS sq FROM b),
      |terms AS (SELECT b.fq_milli, b.n_b, b.pos_b, t.n, t.pos,
      |                 b.n_b * (CAST(b.fq_milli AS DOUBLE) / 1000 - CAST(b.pos_b AS DOUBLE) / b.n_b)
      |                       * (CAST(b.fq_milli AS DOUBLE) / 1000 - CAST(b.pos_b AS DOUBLE) / b.n_b) AS rel_t,
      |                 b.n_b * (CAST(b.pos_b AS DOUBLE) / b.n_b - CAST(t.pos AS DOUBLE) / t.n)
      |                       * (CAST(b.pos_b AS DOUBLE) / b.n_b - CAST(t.pos AS DOUBLE) / t.n) AS res_t
      |          FROM b, t),
      |agg AS (SELECT max(n) AS n, max(pos) AS pos,
      |               list_sum(list(rel_t ORDER BY fq_milli)) AS rel_s,
      |               list_sum(list(res_t ORDER BY fq_milli)) AS res_s
      |        FROM terms)
      |SELECT a.n, a.pos,
      |       round(CAST(t.sq AS DOUBLE) / (CAST(a.n AS DOUBLE) * 1000000), 6) AS brier,
      |       round(a.rel_s / a.n, 6) AS reliability,
      |       round(a.res_s / a.n, 6) AS resolution,
      |       round(CAST(a.pos AS DOUBLE) / a.n * (1 - CAST(a.pos AS DOUBLE) / a.n), 6) AS uncertainty
      |FROM agg a, t""") { (spark, dir) =>
    import spark.implicits._
    val s = Tables.documents(spark, dir).select($"doc_id",
      (conv(substring(md5(concat(lit("cal:"), $"doc_id".cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000).as("conf_milli"),
      (conv(substring(md5(concat(lit("lab:"), $"doc_id".cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000).as("coin"))
    val l = s.select(
      (expr("conf_milli div 100") * 100 + 50).as("fq_milli"),
      when($"coin" < lit(150) + expr("conf_milli * 700 div 1000"), 1).otherwise(0).as("label"))
    val b = l.groupBy($"fq_milli")
      .agg(count(lit(1)).cast("long").as("n_b"), sum($"label").cast("long").as("pos_b"),
        sum(($"fq_milli" - lit(1000) * $"label") * ($"fq_milli" - lit(1000) * $"label"))
          .cast("long").as("sq"))
      .localCheckpoint(true)
    val t = b.agg(sum($"n_b").cast("long").as("n"), sum($"pos_b").cast("long").as("pos"),
      sum($"sq").cast("long").as("tsq"))
    val terms = b.crossJoin(broadcast(t)).select($"fq_milli", $"n", $"pos", $"tsq",
      ($"n_b" * ($"fq_milli".cast("double") / 1000 - $"pos_b".cast("double") / $"n_b")
        * ($"fq_milli".cast("double") / 1000 - $"pos_b".cast("double") / $"n_b")).as("rel_t"),
      ($"n_b" * ($"pos_b".cast("double") / $"n_b" - $"pos".cast("double") / $"n")
        * ($"pos_b".cast("double") / $"n_b" - $"pos".cast("double") / $"n")).as("res_t"))
    def orderedSum(key: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    terms.groupBy($"n", $"pos", $"tsq")
      .agg(orderedSum($"fq_milli", $"rel_t").as("rel_s"),
        orderedSum($"fq_milli", $"res_t").as("res_s"))
      .select($"n", $"pos",
        round($"tsq".cast("double") / ($"n".cast("double") * 1000000), 6).as("brier"),
        round($"rel_s" / $"n", 6).as("reliability"),
        round($"res_s" / $"n", 6).as("resolution"),
        round($"pos".cast("double") / $"n" * (lit(1) - $"pos".cast("double") / $"n"), 6)
          .as("uncertainty"))
  }

  /** DeLONG CONFIDENCE INTERVAL FOR AUC (DeLong, DeLong & Clarke-Pearson
    * 1988) — the CI q322's point estimate lacks, WITHOUT bootstrap: the
    * AUC is the mean of per-positive placements (share of negatives
    * scored below, ties at ½), its variance S₁₀/m + S₀₁/n from the two
    * placement samples. Placements are exact integer numerators over
    * 2·n_neg (midrank rule), so Σp and Σp² are exact BIGINTs from the
    * distinct-score census — variances are fixed-order double expressions,
    * never a per-row float sum. Round7bSpec asserts the placement-mean
    * identity AUC = Σp/(m·2n) against q322's rank-sum value.
    *
    * 100 TB plan: one distinct-score census + a census-sized cumulative
    * window (q322's shape) + one moments agg — no pair join, no
    * resampling. */
  val q426DelongAucCi: GraftQuery = GraftQuery.oracled(
    "q426_delong_auc_ci",
    """WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS v,
      |                  CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
      |           FROM embeddings),
      |cen AS (SELECT v, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np
      |        FROM s GROUP BY v),
      |rk AS (SELECT v, n, np, n - np AS nn,
      |              CAST(COALESCE(sum(n - np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cbn,
      |              CAST(COALESCE(sum(np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cbp
      |       FROM cen),
      |tot AS (SELECT CAST(sum(np) AS BIGINT) AS m, CAST(sum(n - np) AS BIGINT) AS nn FROM cen),
      |mom AS (SELECT CAST(sum(r.np * (2 * r.cbn + r.nn)) AS BIGINT) AS s1,
      |               CAST(sum(r.np * (2 * r.cbn + r.nn) * (2 * r.cbn + r.nn)) AS BIGINT) AS s2,
      |               CAST(sum(r.nn * (2 * (t.m - r.cbp - r.np) + r.np)) AS BIGINT) AS t1,
      |               CAST(sum(r.nn * (2 * (t.m - r.cbp - r.np) + r.np) * (2 * (t.m - r.cbp - r.np) + r.np)) AS BIGINT) AS t2
      |        FROM rk r, tot t),
      |fin AS (SELECT t.m, t.nn,
      |               CAST(mom.s1 AS DOUBLE) / (CAST(t.m AS DOUBLE) * (2 * t.nn)) AS auc,
      |               ((CAST(mom.s2 AS DOUBLE) - CAST(mom.s1 AS DOUBLE) * mom.s1 / t.m) / (t.m - 1))
      |                 / (CAST(2 * t.nn AS DOUBLE) * (2 * t.nn)) AS s10,
      |               ((CAST(mom.t2 AS DOUBLE) - CAST(mom.t1 AS DOUBLE) * mom.t1 / t.nn) / (t.nn - 1))
      |                 / (CAST(2 * t.m AS DOUBLE) * (2 * t.m)) AS s01
      |        FROM mom, tot t)
      |SELECT m AS n_pos, nn AS n_neg, round(auc, 6) AS auc,
      |       round(sqrt(s10 / m + s01 / nn), 6) AS se,
      |       round(auc - 1.96 * sqrt(s10 / m + s01 / nn), 6) AS ci_lo,
      |       round(auc + 1.96 * sqrt(s10 / m + s01 / nn), 6) AS ci_hi
      |FROM fin""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val s = Tables.embeddings(spark, dir)
      .select(element_at($"embedding", 1).cast("double").as("v"),
        when($"label" === 0, 1).otherwise(0).as("pos"))
    val cen = s.groupBy($"v")
      .agg(count(lit(1)).cast("long").as("n"), sum($"pos").cast("long").as("np"))
    // census-sized cumulative window over DISTINCT scores only (q322 shape)
    val wv = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, -1)
    val rk = cen.select($"v", $"n", $"np", ($"n" - $"np").as("nn"),
      coalesce(sum($"n" - $"np").over(wv), lit(0L)).cast("long").as("cbn"),
      coalesce(sum($"np").over(wv), lit(0L)).cast("long").as("cbp"))
      .localCheckpoint(true)
    val tot = cen.agg(sum($"np").cast("long").as("m"),
      sum($"n" - $"np").cast("long").as("tnn"))
    val pNum = lit(2) * $"cbn" + $"nn"
    val qNum = lit(2) * ($"m" - $"cbp" - $"np") + $"np"
    val mom = rk.crossJoin(broadcast(tot))
      .agg(sum($"np" * pNum).cast("long").as("s1"),
        sum($"np" * pNum * pNum).cast("long").as("s2"),
        sum($"nn" * qNum).cast("long").as("t1"),
        sum($"nn" * qNum * qNum).cast("long").as("t2"))
    val fin = mom.crossJoin(broadcast(tot)).select($"m", $"tnn",
      ($"s1".cast("double") / ($"m".cast("double") * (lit(2) * $"tnn"))).as("auc"),
      ((($"s2".cast("double") - $"s1".cast("double") * $"s1" / $"m") / ($"m" - 1))
        / ((lit(2) * $"tnn").cast("double") * (lit(2) * $"tnn"))).as("s10"),
      ((($"t2".cast("double") - $"t1".cast("double") * $"t1" / $"tnn") / ($"tnn" - 1))
        / ((lit(2) * $"m").cast("double") * (lit(2) * $"m"))).as("s01"))
    val seCol = sqrt($"s10" / $"m" + $"s01" / $"tnn")
    fin.select($"m".as("n_pos"), $"tnn".as("n_neg"), round($"auc", 6).as("auc"),
      round(seCol, 6).as("se"),
      round($"auc" - lit(1.96) * seCol, 6).as("ci_lo"),
      round($"auc" + lit(1.96) * seCol, 6).as("ci_hi"))
  }

  /** QUANTILE TREATMENT EFFECT with DISTRIBUTION-FREE CIs — A/B reads
    * beyond the mean: Δmedian between the user-parity arms of the order
    * book, with each arm's median bracketed by the exact binomial
    * order-statistic bounds (ranks ⌊n/2 − 0.98√n⌋ and ⌈n/2 + 1 + 0.98√n⌉
    * — the textbook nonparametric CI, no bootstrap, no normality) and the
    * QTE interval by the conservative difference of brackets. Medians are
    * interpolated on integer cents with dyadic f ∈ {0, ½} (exactly the
    * q406 discipline ⇒ bit-equal to quantile_cont); bound ranks come from
    * one sqrt each — identical doubles on both engines.
    *
    * 100 TB plan: per-arm rank selection is the q408 window shape here
    * and q406's two-scan selection at petabyte arm sizes (documented
    * swap); everything else is 2-row census arithmetic. */
  val q422QuantileTreatmentEffect: GraftQuery = GraftQuery.oracled(
    "q422_quantile_treatment_effect",
    """WITH o AS (SELECT CAST(o_custkey % 2 AS BIGINT) AS arm,
      |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |           FROM orders),
      |r AS (SELECT arm, cents,
      |             row_number() OVER (PARTITION BY arm ORDER BY cents) AS rk,
      |             count(*) OVER (PARTITION BY arm) AS n
      |      FROM o),
      |st AS (SELECT arm, CAST(max(n) AS BIGINT) AS n,
      |              CAST(sum(CASE WHEN 2 * rk = n OR 2 * rk = n + 2 THEN cents ELSE 0 END) AS BIGINT) AS med2x_even,
      |              CAST(sum(CASE WHEN 2 * rk = n + 1 THEN 2 * cents ELSE 0 END) AS BIGINT) AS med2x_odd,
      |              CAST(sum(CASE WHEN rk = CAST(floor(CAST(n AS DOUBLE) / 2 - 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) THEN cents ELSE 0 END) AS BIGINT) AS lo_cents,
      |              CAST(sum(CASE WHEN rk = CAST(ceil(CAST(n AS DOUBLE) / 2 + 1 + 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) THEN cents ELSE 0 END) AS BIGINT) AS hi_cents
      |       FROM r GROUP BY arm),
      |q AS (SELECT arm, n,
      |             CAST(med2x_even + med2x_odd AS DOUBLE) / 2 AS med_cents,
      |             lo_cents, hi_cents
      |      FROM st)
      |SELECT a.n AS n_a, b.n AS n_b,
      |       round(a.med_cents / 100, 4) AS med_a,
      |       round(b.med_cents / 100, 4) AS med_b,
      |       round((a.med_cents - b.med_cents) / 100, 4) AS qte,
      |       round(CAST(a.lo_cents AS DOUBLE) / 100, 2) AS ci_a_lo,
      |       round(CAST(a.hi_cents AS DOUBLE) / 100, 2) AS ci_a_hi,
      |       round(CAST(b.lo_cents AS DOUBLE) / 100, 2) AS ci_b_lo,
      |       round(CAST(b.hi_cents AS DOUBLE) / 100, 2) AS ci_b_hi,
      |       round(CAST(a.lo_cents - b.hi_cents AS DOUBLE) / 100, 2) AS qte_lo,
      |       round(CAST(a.hi_cents - b.lo_cents AS DOUBLE) / 100, 2) AS qte_hi
      |FROM q a JOIN q b ON a.arm = 0 AND b.arm = 1""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select(
      ($"o_custkey" % 2).cast("long").as("arm"),
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    val wa = Window.partitionBy($"arm")
    val r = o.select($"arm", $"cents",
      row_number().over(wa.orderBy($"cents")).as("rk"),
      count(lit(1)).over(wa).as("n"))
    val st = r.groupBy($"arm")
      .agg(max($"n").cast("long").as("n"),
        sum(when(lit(2) * $"rk" === $"n" || lit(2) * $"rk" === $"n" + 2, $"cents")
          .otherwise(0L)).cast("long").as("med2x_even"),
        sum(when(lit(2) * $"rk" === $"n" + 1, lit(2) * $"cents").otherwise(0L))
          .cast("long").as("med2x_odd"),
        sum(when($"rk" === floor($"n" / lit(2.0) - lit(0.98) * sqrt($"n".cast("double")))
          .cast("long"), $"cents").otherwise(0L)).cast("long").as("lo_cents"),
        sum(when($"rk" === ceil($"n" / lit(2.0) + 1 + lit(0.98) * sqrt($"n".cast("double")))
          .cast("long"), $"cents").otherwise(0L)).cast("long").as("hi_cents"))
    val q = st.select($"arm", $"n",
      (($"med2x_even" + $"med2x_odd").cast("double") / 2).as("med_cents"),
      $"lo_cents", $"hi_cents")
    q.as("a").join(q.as("b"), $"a.arm" === 0 && $"b.arm" === 1)
      .select($"a.n".as("n_a"), $"b.n".as("n_b"),
        round($"a.med_cents" / 100, 4).as("med_a"),
        round($"b.med_cents" / 100, 4).as("med_b"),
        round(($"a.med_cents" - $"b.med_cents") / 100, 4).as("qte"),
        round($"a.lo_cents".cast("double") / 100, 2).as("ci_a_lo"),
        round($"a.hi_cents".cast("double") / 100, 2).as("ci_a_hi"),
        round($"b.lo_cents".cast("double") / 100, 2).as("ci_b_lo"),
        round($"b.hi_cents".cast("double") / 100, 2).as("ci_b_hi"),
        round(($"a.lo_cents" - $"b.hi_cents").cast("double") / 100, 2).as("qte_lo"),
        round(($"a.hi_cents" - $"b.lo_cents").cast("double") / 100, 2).as("qte_hi"))
  }

  /** SIMPLE EXPONENTIAL SMOOTHING one-step-ahead backtest (Brown 1956;
    * Hyndman & Athanasopoulos FPP ch. 8) — the workhorse short-horizon
    * forecaster, evaluated the honest way: forecast day t from days
    * < t only, score |actual − forecast|, and compare against the naïve
    * last-value forecast (the MASE denominator). α = 1/2 makes every
    * weight a power of two, so the K=20-lag truncated SES
    *   ŷ_t = Σ_{k=1..20} 2^(20−k)·y_{t−k} / (2^20 − 1)
    * is pure BIGINT shift-multiply-divide on integer cents — bit-identical
    * across engines (the q244/q339 integer-exactness discipline; the
    * dropped tail mass is 2^-20 ≈ 1e-6 of the weight, absorbed by the
    * shared integer normalizer). Lags are OBSERVATION lags (row_number
    * over the daily census), the standard treatment for sparse/trading-day
    * series.
    *
    * 100 TB plan: the fact table collapses to a per-(priority, day) cents
    * census in one hash-agg — thousands of rows regardless of input scale;
    * the bounded 20-lag self-join and everything after run on that census
    * (broadcast-sized). The expensive thing happens exactly once, at the
    * first shuffle. */
  /** PLATT SCALING (Platt 1999) — fit σ(a·s + b) to turn a raw classifier
    * score into a calibrated probability, the post-hoc calibration that
    * q404's ECE audit measures the need for. The logistic MLE is solved by
    * FOUR UNROLLED NEWTON STEPS composed directly into the plan (the q319
    * IRLS discipline — no driver loop, no collect): each step is one
    * 5-moment hash-agg (gradient + Hessian of the log-likelihood) and a
    * closed-form 2×2 solve, with parameters flowing to the next step as a
    * broadcast 1-row frame. Newton on a 1-D logistic converges
    * quadratically — 4 steps from (0,0) lands within rounding of the
    * optimum. Emits the fitted (a, b), the calibrated NLL, and the raw
    * base-rate NLL it must beat; identical float-op ORDER on the DuckDB
    * side keeps the 4dp/6dp rounding strict-matchable (q319 precedent).
    *
    * 100 TB plan: 4 sequential scans (or one cache), each a codegen'd
    * projection + 7-double partial agg — embarrassingly map-side; the 2×2
    * solves are 1-row algebra riding broadcasts. */
  val q438PlattScaling: GraftQuery = {
    // one Newton step as SQL text: params CTE pN -> pN+1
    def sqlStep(prev: String, next: String): String =
      s"""$next AS (
         |  SELECT a - (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12) AS a,
         |         b - (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12) AS b
         |  FROM (SELECT max(a) AS a, max(b) AS b,
         |               sum((p - y) * x) AS g1, sum(p - y) AS g2,
         |               sum(p * (1 - p) * x * x) AS h11,
         |               sum(p * (1 - p) * x) AS h12,
         |               sum(p * (1 - p)) AS h22
         |        FROM (SELECT x, y, a, b,
         |                     1.0 / (1.0 + exp(-(a * x + b))) AS p
         |              FROM d, $prev)))""".stripMargin
    val steps = (0 until 4).map(i => sqlStep(s"p$i", s"p${i + 1}")).mkString(",\n")
    GraftQuery.oracled(
      "q438_platt_scaling",
      s"""WITH d AS (SELECT CAST(embedding[1] AS DOUBLE) AS x,
         |                  CASE WHEN label = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
         |           FROM embeddings),
         |p0 AS (SELECT CAST(0 AS DOUBLE) AS a, CAST(0 AS DOUBLE) AS b),
         |$steps,
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |                avg(y) AS pi FROM d),
         |fit AS (SELECT count(*) AS n,
         |               avg(-(y * ln(p) + (1 - y) * ln(1 - p))) AS nll
         |        FROM (SELECT y, 1.0 / (1.0 + exp(-(a * x + b))) AS p FROM d, p4))
         |SELECT base.n, base.n_pos,
         |       round(p4.a, 4) AS a_platt, round(p4.b, 4) AS b_platt,
         |       round(fit.nll, 6) AS nll_platt,
         |       round(-(pi * ln(pi) + (1 - pi) * ln(1 - pi)), 6) AS nll_base
         |FROM base, fit, p4""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val d = Tables.embeddings(spark, dir)
        .select(element_at($"embedding", 1).cast("double").as("x"),
          when($"label" === 0, 1.0).otherwise(0.0).as("y"))
      def step(params: DataFrame): DataFrame =
        d.crossJoin(broadcast(params))
          .select($"x", $"y", $"a", $"b",
            (lit(1.0) / (lit(1.0) + exp(-($"a" * $"x" + $"b")))).as("p"))
          .agg(max($"a").as("a"), max($"b").as("b"),
            sum(($"p" - $"y") * $"x").as("g1"), sum($"p" - $"y").as("g2"),
            sum($"p" * (lit(1) - $"p") * $"x" * $"x").as("h11"),
            sum($"p" * (lit(1) - $"p") * $"x").as("h12"),
            sum($"p" * (lit(1) - $"p")).as("h22"))
          .select(
            ($"a" - ($"h22" * $"g1" - $"h12" * $"g2") /
              ($"h11" * $"h22" - $"h12" * $"h12")).as("a"),
            ($"b" - ($"h11" * $"g2" - $"h12" * $"g1") /
              ($"h11" * $"h22" - $"h12" * $"h12")).as("b"))
      val p0 = d.sparkSession.range(1)
        .select(lit(0.0).as("a"), lit(0.0).as("b"))
      val p4 = step(step(step(step(p0))))
      val base = d.agg(count(lit(1)).cast("long").as("n"),
        sum($"y").cast("long").as("n_pos"), avg($"y").as("pi"))
      val fit = d.crossJoin(broadcast(p4))
        .select($"y",
          (lit(1.0) / (lit(1.0) + exp(-($"a" * $"x" + $"b")))).as("p"))
        .agg(avg(-($"y" * log($"p") + (lit(1) - $"y") * log(lit(1) - $"p"))).as("nll"))
      base.crossJoin(broadcast(fit)).crossJoin(broadcast(p4))
        .select($"n", $"n_pos",
          round($"a", 4).as("a_platt"), round($"b", 4).as("b_platt"),
          round($"nll", 6).as("nll_platt"),
          round(-($"pi" * log($"pi") + (lit(1) - $"pi") * log(lit(1) - $"pi")), 6)
            .as("nll_base"))
    }
  }

  /** POISSON REGRESSION (log-link GLM, McCullagh & Nelder 1989) — model a
    * per-user event COUNT as exp(a + b·span_days): the canonical
    * count-data companion to q438's logistic fit, with the same
    * plan-composed solver discipline (q319): four unrolled Newton steps,
    * each one 5-moment hash-agg (score Σ(y−μ)[1,x], information
    * Σμ[1,x][1,x]ᵀ) + a closed 2×2 solve on a broadcast row, seeded at
    * the closed-form intercept-only MLE (a₀ = ln ȳ, b₀ = 0). Emits the
    * fit plus the residual DEVIANCE 2Σ[y·ln(y/μ) − (y−μ)] and the
    * deviance/df overdispersion ratio — the number that says whether
    * Poisson is even the right family (≫1 ⇒ negative binomial).
    *
    * 100 TB plan: the user census is one hash-agg over events; each
    * Newton step is a codegen'd projection + 5-double partial agg over
    * that census. Nothing but 1-row parameter frames ever broadcasts. */
  val q440PoissonRegression: GraftQuery = {
    def sqlStep(prev: String, next: String): String =
      s"""$next AS (
         |  SELECT a + (h22 * g1 - h12 * g2) / (h11 * h22 - h12 * h12) AS a,
         |         b + (h11 * g2 - h12 * g1) / (h11 * h22 - h12 * h12) AS b
         |  FROM (SELECT max(a) AS a, max(b) AS b,
         |               sum(y - mu) AS g1, sum((y - mu) * x) AS g2,
         |               sum(mu) AS h11, sum(mu * x) AS h12,
         |               sum(mu * x * x) AS h22
         |        FROM (SELECT x, y, a, b, exp(a + b * x) AS mu
         |              FROM d, $prev)))""".stripMargin
    val steps = (0 until 4).map(i => sqlStep(s"p$i", s"p${i + 1}")).mkString(",\n")
    GraftQuery.oracled(
      "q440_poisson_regression",
      s"""WITH d AS (SELECT CAST(count(*) AS DOUBLE) AS y,
         |                  CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS DOUBLE) AS x
         |           FROM events GROUP BY user_id),
         |p0 AS (SELECT ln(avg(y)) AS a, CAST(0 AS DOUBLE) AS b FROM d),
         |$steps,
         |fit AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               2 * sum(CASE WHEN y > 0 THEN y * ln(y / mu) ELSE 0 END - (y - mu)) AS dev
         |        FROM (SELECT y, exp(a + b * x) AS mu FROM d, p4))
         |SELECT fit.n, round(p4.a, 4) AS a_pois, round(p4.b, 4) AS b_pois,
         |       round(fit.dev, 4) AS deviance,
         |       round(fit.dev / (fit.n - 2), 4) AS dev_per_df
         |FROM fit, p4""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val d = Tables.events(spark, dir)
        .groupBy($"user_id")
        .agg(count(lit(1)).cast("double").as("y"),
          datediff(max($"ts".cast("date")), min($"ts".cast("date")))
            .cast("double").as("x"))
        .select($"x", $"y")
      def step(params: DataFrame): DataFrame =
        d.crossJoin(broadcast(params))
          .select($"x", $"y", $"a", $"b", exp($"a" + $"b" * $"x").as("mu"))
          .agg(max($"a").as("a"), max($"b").as("b"),
            sum($"y" - $"mu").as("g1"), sum(($"y" - $"mu") * $"x").as("g2"),
            sum($"mu").as("h11"), sum($"mu" * $"x").as("h12"),
            sum($"mu" * $"x" * $"x").as("h22"))
          .select(
            ($"a" + ($"h22" * $"g1" - $"h12" * $"g2") /
              ($"h11" * $"h22" - $"h12" * $"h12")).as("a"),
            ($"b" + ($"h11" * $"g2" - $"h12" * $"g1") /
              ($"h11" * $"h22" - $"h12" * $"h12")).as("b"))
      val p0 = d.agg(log(avg($"y")).as("a"), lit(0.0).as("b"))
      val p4 = step(step(step(step(p0))))
      val fit = d.crossJoin(broadcast(p4))
        .select($"y", exp($"a" + $"b" * $"x").as("mu"))
        .agg(count(lit(1)).cast("long").as("n"),
          (lit(2) * sum(when($"y" > 0, $"y" * log($"y" / $"mu")).otherwise(0.0)
            - ($"y" - $"mu"))).as("dev"))
      fit.crossJoin(broadcast(p4))
        .select($"n", round($"a", 4).as("a_pois"), round($"b", 4).as("b_pois"),
          round($"dev", 4).as("deviance"),
          round($"dev" / ($"n" - 2), 4).as("dev_per_df"))
    }
  }

  /** NEGATIVE-BINOMIAL overdispersion audit (method of moments) — the
    * triage that decides whether q440's Poisson family is adequate for a
    * count series: per event_type, the daily event counts' dispersion
    * index var/mean (Poisson ⇒ 1) and the MoM NB size parameter
    * α = (s² − ȳ)/ȳ² (the Var = μ + αμ² parameterization; α ≤ 0 means no
    * overdispersion and the Poisson stands). Pure census algebra: one
    * integer daily-count agg, one moments agg over it.
    *
    * 100 TB plan: the raw table collapses to (event_type, day) integer
    * counts in the first hash-agg; everything after is census-sized. */
  val q441NbDispersion: GraftQuery = GraftQuery.oracled(
    "q441_nb_dispersion",
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |                      CAST(count(*) AS BIGINT) AS y
      |               FROM events GROUP BY 1, 2)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |       round(avg(y), 4) AS mean_daily,
      |       round(var_samp(y), 4) AS var_daily,
      |       round(var_samp(y) / avg(y), 4) AS dispersion_index,
      |       round((var_samp(y) - avg(y)) / (avg(y) * avg(y)), 6) AS alpha_mom
      |FROM daily GROUP BY event_type ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type", $"ts".cast("date").as("d"))
      .agg(count(lit(1)).cast("long").as("y"))
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_days"),
        round(avg($"y"), 4).as("mean_daily"),
        round(var_samp($"y"), 4).as("var_daily"),
        round(var_samp($"y") / avg($"y"), 4).as("dispersion_index"),
        round((var_samp($"y") - avg($"y")) / (avg($"y") * avg($"y")), 6)
          .as("alpha_mom"))
      .orderBy($"event_type")
  }

  /** DTW similarity matrix over the priority daily-revenue census — which
    * order-priority classes share a revenue SHAPE even when their peaks
    * drift a few days apart (the phase-elastic question Euclidean/DTW-0
    * cannot answer). Each series is the first 56 present days' integer
    * cents; distances come from the [[graft.functions.DtwDistance]]
    * codegen kernel (#10) with a Sakoe–Chiba band of 7 days. Integer in,
    * integer out — the emitted matrix is exact BIGINT and fully
    * deterministic. DtwSpec replays an independent full-matrix DP and the
    * band laws.
    *
    * STRICT since r8 (formerly rows-only): a banded DP argmin IS
    * relationally replayable by ANTI-DIAGONAL recursion — cells on
    * diagonal i+j = d depend only on diagonals d−1 and d−2, so one
    * recursive CTE carries two diagonals ('cur' rows propose the
    * insert/delete moves and re-emit themselves as 'prev'; 'prev' rows
    * propose the match move) and each new cell is |aᵢ−bⱼ| + min over its
    * grouped proposals. Band and bounds prune proposals; a pair whose
    * lengths differ by more than the band falls back to the kernel's Inf
    * sentinel (Long.MaxValue/4) via COALESCE. All-integer throughout.
    *
    * 100 TB plan: the fact table collapses to a 5-series census in one
    * hash-agg; the 5×5 pair join and the O(56·15) DPs are census work. */
  val q443DtwMatrix: GraftQuery = GraftQuery.oracled(
    "q443_dtw_matrix",
    """WITH RECURSIVE
      |daily AS (
      |  SELECT o_orderpriority AS pri, o_orderdate AS d,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |idx AS (SELECT pri, cents, row_number() OVER (PARTITION BY pri ORDER BY d) AS i
      |        FROM daily QUALIFY i <= 56),
      |ser AS (SELECT pri, list(cents ORDER BY i) AS xs FROM idx GROUP BY pri),
      |pairs AS (SELECT a.pri AS pa, b.pri AS pb, a.xs AS sa, b.xs AS sb
      |          FROM ser a JOIN ser b ON a.pri < b.pri),
      |it AS (
      |  SELECT pa, pb, 1 AS i, 1 AS j,
      |         CAST(abs(sa[1] - sb[1]) AS BIGINT) AS cost, 'cur' AS lvl, 1 AS step
      |  FROM pairs
      |  UNION ALL
      |  SELECT pa, pb, ni, nj,
      |         CAST(CASE WHEN kind = 'carry' THEN min(c)
      |                   ELSE abs(sa[ni] - sb[nj]) + min(c) END AS BIGINT) AS cost,
      |         CASE WHEN kind = 'carry' THEN 'prev' ELSE 'cur' END AS lvl,
      |         step + 1
      |  FROM (
      |    SELECT it.pa, it.pb, it.i + mv.di AS ni, it.j + mv.dj AS nj, it.cost AS c,
      |           mv.kind, it.step, p.sa, p.sb
      |    FROM it
      |    JOIN pairs p ON p.pa = it.pa AND p.pb = it.pb,
      |    LATERAL (SELECT * FROM (VALUES (1, 0, 'move', 'cur'), (0, 1, 'move', 'cur'),
      |                                   (1, 1, 'move', 'prev'), (0, 0, 'carry', 'cur'))
      |             v(di, dj, kind, need) WHERE v.need = it.lvl) mv
      |    WHERE it.step < 120
      |      AND it.i + mv.di <= len(p.sa) AND it.j + mv.dj <= len(p.sb)
      |      AND abs((it.i + mv.di) - (it.j + mv.dj)) <= 7
      |  )
      |  GROUP BY pa, pb, ni, nj, kind, step, sa[ni], sb[nj]
      |)
      |SELECT p.pa AS pri_a, p.pb AS pri_b,
      |       coalesce(
      |         (SELECT cost FROM it WHERE it.pa = p.pa AND it.pb = p.pb
      |            AND it.lvl = 'cur' AND it.i = len(p.sa) AND it.j = len(p.sb)),
      |         2305843009213693951) AS dtw_cents
      |FROM pairs p
      |ORDER BY pri_a, pri_b""") {
    (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority".as("pri"), $"o_orderdate".as("d"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).cast("long").as("cents"))
      .withColumn("i", row_number().over(Window.partitionBy($"pri").orderBy($"d")))
      .filter($"i" <= 56)
    val series = daily.groupBy($"pri")
      .agg(transform(array_sort(collect_list(struct($"i", $"cents"))),
        x => x.getField("cents")).as("xs"))
    series.toDF("pri_a", "xs_a")
      .crossJoin(broadcast(series.toDF("pri_b", "xs_b")))
      .filter($"pri_a" < $"pri_b")
      .select($"pri_a", $"pri_b",
        graft.functions.DtwDistance.dtwDistance($"xs_a", $"xs_b", lit(7))
          .as("dtw_cents"))
      .orderBy($"pri_a", $"pri_b")
  }

  /** SAX symbolization (Lin/Keogh 2003's symbolic series representation,
    * with EMPIRICAL-QUARTILE breakpoints instead of the Gaussian table so
    * the whole pipeline is integer-rank algebra — the q244/q339 exactness
    * discipline): each priority's first 32 present days of revenue cents
    * become a 32-letter a–d word, the letter = the day's revenue quartile
    * within its own series (`ntile(4)` over the unique (cents, day)
    * order). The word is what downstream motif/novelty detectors hash.
    *
    * 100 TB plan: one hash-agg to the daily census, two census-sized
    * windows (per-series rank + word assembly) — the scan dominates. */
  val q444SaxWords: GraftQuery = GraftQuery.oracled(
    "q444_sax_words",
    """WITH daily AS (
      |  SELECT o_orderpriority AS pri, o_orderdate AS d,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |idx AS (SELECT pri, d, cents,
      |               row_number() OVER (PARTITION BY pri ORDER BY d) AS i
      |        FROM daily QUALIFY i <= 32),
      |lett AS (SELECT pri, d,
      |                chr(CAST(96 + ntile(4) OVER (PARTITION BY pri ORDER BY cents, d) AS INTEGER)) AS c
      |         FROM idx)
      |SELECT pri, string_agg(c, '' ORDER BY d) AS sax_word
      |FROM lett GROUP BY pri ORDER BY pri""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority".as("pri"), $"o_orderdate".as("d"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).cast("long").as("cents"))
      .withColumn("i", row_number().over(Window.partitionBy($"pri").orderBy($"d")))
      .filter($"i" <= 32)
    daily
      .withColumn("c", chr(lit(96) +
        ntile(4).over(Window.partitionBy($"pri").orderBy($"cents", $"d"))))
      .groupBy($"pri")
      .agg(concat_ws("", transform(array_sort(collect_list(struct($"d", $"c"))),
        x => x.getField("c"))).as("sax_word"))
      .orderBy($"pri")
  }

  /** FIXED-PERIOD PERIODOGRAM (direct DFT at candidate periods — the
    * Goertzel question "is there 7-day seasonality?" asked relationally):
    * for each candidate period p, the spectral amplitude
    * 2·√(C² + S²)/n with C = Σ(x_t − x̄)cos(2πt/p), S likewise with sin,
    * over the global daily revenue series (dollars). Amplitude ≈ the
    * peak-to-center size of a sinusoid at that period; the share column
    * normalizes by total variance for a scale-free seasonality score.
    *
    * 100 TB plan: one hash-agg to the daily census; the per-period sums
    * are ONE census scan (periods explode ×4 on census rows only). */
  val q445Periodogram: GraftQuery = GraftQuery.oracled(
    "q445_periodogram",
    """WITH daily AS (
      |  SELECT o_orderdate AS d,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS x
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT x, CAST(row_number() OVER (ORDER BY d) AS DOUBLE) AS t FROM daily),
      |m AS (SELECT avg(x) AS xbar, CAST(count(*) AS BIGINT) AS n,
      |             sum(x * x) - count(*) * avg(x) * avg(x) AS ss FROM idx),
      |per AS (SELECT CAST(unnest([7, 14, 30, 91]) AS BIGINT) AS p),
      |comp AS (
      |  SELECT p, m.n, m.ss,
      |         sum((x - xbar) * cos(2 * pi() * t / p)) AS c,
      |         sum((x - xbar) * sin(2 * pi() * t / p)) AS s
      |  FROM idx, m, per GROUP BY p, m.n, m.ss)
      |SELECT p, n,
      |       round(2 * sqrt(c * c + s * s) / n, 2) AS amplitude_usd,
      |       round((c * c + s * s) / ss, 6) AS variance_share
      |FROM comp ORDER BY p""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg((sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).cast("long") / 100.0)
        .as("x"))
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy($"d")).cast("double"))
      .select($"x", $"t")
    val m = idx.agg(avg($"x").as("xbar"), count(lit(1)).cast("long").as("n"),
      (sum($"x" * $"x") - count(lit(1)) * avg($"x") * avg($"x")).as("ss"))
    val per = Seq(7L, 14L, 30L, 91L).toDF("p")
    idx.crossJoin(broadcast(m)).crossJoin(broadcast(per))
      .groupBy($"p", $"n", $"ss")
      .agg(sum(($"x" - $"xbar") * cos(lit(2) * lit(math.Pi) * $"t" / $"p")).as("c"),
        sum(($"x" - $"xbar") * sin(lit(2) * lit(math.Pi) * $"t" / $"p")).as("s"))
      .select($"p", $"n",
        round(lit(2) * sqrt($"c" * $"c" + $"s" * $"s") / $"n", 2).as("amplitude_usd"),
        round(($"c" * $"c" + $"s" * $"s") / $"ss", 6).as("variance_share"))
      .orderBy($"p")
  }

  /** THEIL–SEN robust trend (Theil 1950, Sen 1968) — the estimator
    * companion to q416's Mann–Kendall TEST: the slope is the MEDIAN of
    * all pairwise day-census slopes (breakdown point 29%, immune to the
    * spike days that drag q181's OLS line), the intercept the median of
    * the slope-adjusted residual levels. Both engines derive identical
    * slope doubles from integer (cents, day-index) pairs, so the
    * interpolated medians match bit-for-bit at 4/6 dp. Pairs are built on
    * the TRAILING-90-DAY daily census (O(90²) = 4 005 slopes, not
    * O(rows²) and not O(full-history²): the raw span is ~2 400 days and
    * an unwindowed pair sweep is 2.9M slopes whose exact-median buffer is
    * the catalog's one measured way to OOM a driver — the trend question
    * is about the recent window anyway).
    *
    * 100 TB plan: one hash-agg to the day census; the bounded pair sweep
    * and two exact-median aggs are census work (the q416 shape). */
  val q450TheilSen: GraftQuery = GraftQuery.oracled(
    "q450_theil_sen",
    """WITH daily AS (
      |  SELECT CAST(91 - rn AS DOUBLE) AS t, y
      |  FROM (SELECT row_number() OVER (ORDER BY d DESC) AS rn,
      |               CAST(cents AS DOUBLE) / 100 AS y
      |        FROM (SELECT o_orderdate AS d,
      |                     CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |              FROM orders GROUP BY 1))
      |  WHERE rn <= 90),
      |slopes AS (SELECT (b.y - a.y) / (b.t - a.t) AS s
      |           FROM daily a JOIN daily b ON b.t > a.t),
      |fit AS (SELECT quantile_cont(s, 0.5) AS slope,
      |               CAST(count(*) AS BIGINT) AS n_pairs FROM slopes),
      |ic AS (SELECT quantile_cont(y - fit.slope * t, 0.5) AS intercept
      |       FROM daily, fit)
      |SELECT fit.n_pairs, round(fit.slope, 4) AS sen_slope,
      |       round(ic.intercept, 2) AS sen_intercept
      |FROM fit, ic""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderdate".as("d"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).cast("long").as("cents"))
      .select(row_number().over(Window.orderBy($"d".desc)).as("rn"),
        ($"cents".cast("double") / 100).as("y"))
      .filter($"rn" <= 90)
      .select((lit(91) - $"rn").cast("double").as("t"), $"y")
    val slopes = daily.as("a").join(daily.as("b"), $"b.t" > $"a.t")
      .select((($"b.y" - $"a.y") / ($"b.t" - $"a.t")).as("s"))
    val fit = slopes.agg(expr("percentile(s, 0.5)").as("slope"),
      count(lit(1)).cast("long").as("n_pairs"))
    val ic = daily.crossJoin(broadcast(fit))
      .agg(expr("percentile(y - slope * t, 0.5)").as("intercept"))
    fit.crossJoin(broadcast(ic))
      .select($"n_pairs", round($"slope", 4).as("sen_slope"),
        round($"intercept", 2).as("sen_intercept"))
  }

  /** HODGES–LEHMANN location estimate (1963) — the median of the Walsh
    * averages (all pairwise means, i ≤ j): the robust "typical daily
    * volume" whose efficiency the rank tests (q284 Mann–Whitney) already
    * assume, per event_type over the daily integer count census. Walsh
    * averages of integers are exact halves, so the interpolated median is
    * engine-deterministic as-is.
    *
    * 100 TB plan: day-census pairs per type (O(days²) on a tiny census),
    * one exact-median agg — the q450 shape, grouped. */
  val q451HodgesLehmann: GraftQuery = GraftQuery.oracled(
    "q451_hodges_lehmann",
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
      |                      CAST(count(*) AS BIGINT) AS y
      |               FROM events GROUP BY 1, 2),
      |walsh AS (SELECT a.event_type,
      |                 (CAST(a.y AS DOUBLE) + b.y) / 2 AS w
      |          FROM daily a JOIN daily b
      |            ON a.event_type = b.event_type AND a.d <= b.d)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_walsh,
      |       round(quantile_cont(w, 0.5), 4) AS hl_location
      |FROM walsh GROUP BY event_type ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", $"ts".cast("date").as("d"))
      .agg(count(lit(1)).cast("long").as("y"))
    daily.as("a")
      .join(daily.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.d" <= $"b.d")
      .select($"a.event_type".as("event_type"),
        (($"a.y".cast("double") + $"b.y") / 2).as("w"))
      .groupBy($"event_type")
      .agg(count(lit(1)).cast("long").as("n_walsh"),
        round(expr("percentile(w, 0.5)"), 4).as("hl_location"))
      .orderBy($"event_type")
  }

  /** KRUSKAL–WALLIS k-sample rank test (1952) — "do the k groups share a
    * location?", the k-group generalization of q284's Mann–Whitney and the
    * nonparametric sibling of q273's ANOVA F: H = (12/(N(N+1)))·Σnᵢ(R̄ᵢ −
    * R̄)² over mid-ranks, divided by the tie correction 1 − Σ(tⱼ³−tⱼ)/
    * (N³−N). Mid-ranks come from integer rank algebra (cum-count + half
    * the tie run — exact halves), ties from the value census — every
    * input to the statistic is integer-derived, so the 4dp H matches
    * strictly cross-engine.
    *
    * 100 TB plan: one value census (hash-agg), one census-sized rank
    * window, per-group moment aggs — the q284 scan shape with k groups. */
  val q460KruskalWallis: GraftQuery = GraftQuery.oracled(
    "q460_kruskal_wallis",
    """WITH s AS (SELECT event_type AS g, value AS v FROM events),
      |cen AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v),
      |rk AS (SELECT v, t,
      |              coalesce(sum(t) OVER (ORDER BY v
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |                + (t + 1) / 2.0 AS midrank
      |       FROM cen),
      |gr AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(midrank) AS rsum
      |       FROM s JOIN rk USING (v) GROUP BY g),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS bign FROM gr),
      |ties AS (SELECT sum(t * t * t - t) AS tcorr FROM cen),
      |h AS (SELECT 12.0 / (bign * (bign + 1)) *
      |             sum(rsum * rsum / n) - 3 * (bign + 1) AS h_raw,
      |             max(bign) AS bign
      |      FROM gr, tot GROUP BY bign)
      |SELECT CAST(h.bign AS BIGINT) AS n,
      |       (SELECT CAST(count(*) AS BIGINT) FROM gr) AS k,
      |       round(h.h_raw / (1 - ties.tcorr / (CAST(h.bign AS DOUBLE) * h.bign * h.bign - h.bign)), 4) AS h_stat
      |FROM h, ties""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val s = Tables.events(spark, dir).select($"event_type".as("g"), $"value".as("v"))
    val cen = s.groupBy($"v").agg(count(lit(1)).cast("long").as("t"))
    val rk = cen.withColumn("midrank",
      coalesce(sum($"t").over(Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + ($"t" + 1) / 2.0)
    val gr = s.join(rk, Seq("v"))
      .groupBy($"g").agg(count(lit(1)).cast("long").as("n"), sum($"midrank").as("rsum"))
    val tot = gr.agg(sum($"n").cast("long").as("bign"))
    val ties = cen.agg(sum($"t" * $"t" * $"t" - $"t").as("tcorr"))
    val k = gr.agg(count(lit(1)).cast("long").as("k"))
    gr.crossJoin(broadcast(tot))
      .groupBy($"bign")
      .agg((lit(12.0) / ($"bign" * ($"bign" + 1)) *
        sum($"rsum" * $"rsum" / $"n") - lit(3) * ($"bign" + 1)).as("h_raw"))
      .crossJoin(broadcast(ties)).crossJoin(broadcast(k))
      .select($"bign".as("n"), $"k",
        round($"h_raw" / (lit(1) - $"tcorr" /
          ($"bign".cast("double") * $"bign" * $"bign" - $"bign")), 4).as("h_stat"))
  }

  /** McNEMAR paired-classifier test (1947, with Edwards' continuity
    * correction) — "do two models disagree SYMMETRICALLY?": two portable
    * rule classifiers (price-band rule vs priority rule, both predicting
    * the urgent flag) score the SAME orders, and only the discordant
    * cells b (A right, B wrong) and c (A wrong, B right) matter:
    * χ² = (|b−c|−1)²/(b+c). The within-pair dependence is exactly what
    * q295's two-proportion z-test gets wrong on paired data — this is the
    * honest comparison for two models evaluated on one test set.
    *
    * 100 TB plan: one projection computing both predictions per row, one
    * 4-cell census agg. */
  val q461McNemar: GraftQuery = GraftQuery.oracled(
    "q461_mcnemar",
    """WITH p AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y,
      |         CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS a,
      |         CASE WHEN o_orderkey % 5 < 2 THEN 1 ELSE 0 END AS b
      |  FROM orders),
      |cells AS (SELECT
      |  CAST(count(CASE WHEN a = y AND b <> y THEN 1 END) AS BIGINT) AS b_cell,
      |  CAST(count(CASE WHEN a <> y AND b = y THEN 1 END) AS BIGINT) AS c_cell,
      |  CAST(count(CASE WHEN a = y THEN 1 END) AS BIGINT) AS a_correct,
      |  CAST(count(CASE WHEN b = y THEN 1 END) AS BIGINT) AS b_correct,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM p)
      |SELECT n, a_correct, b_correct, b_cell, c_cell,
      |       round((abs(b_cell - c_cell) - 1) * (abs(b_cell - c_cell) - 1)
      |             / CAST(b_cell + c_cell AS DOUBLE), 4) AS chi2_mcnemar
      |FROM cells""") { (spark, dir) =>
    import spark.implicits._
    val p = Tables.orders(spark, dir).select(
      when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1).otherwise(0).as("y"),
      when($"o_totalprice" > 150000, 1).otherwise(0).as("a"),
      when($"o_orderkey" % 5 < 2, 1).otherwise(0).as("b"))
    p.agg(
      count(when($"a" === $"y" && $"b" =!= $"y", 1)).cast("long").as("b_cell"),
      count(when($"a" =!= $"y" && $"b" === $"y", 1)).cast("long").as("c_cell"),
      count(when($"a" === $"y", 1)).cast("long").as("a_correct"),
      count(when($"b" === $"y", 1)).cast("long").as("b_correct"),
      count(lit(1)).cast("long").as("n"))
      .select($"n", $"a_correct", $"b_correct", $"b_cell", $"c_cell",
        round((abs($"b_cell" - $"c_cell") - 1) * (abs($"b_cell" - $"c_cell") - 1)
          / ($"b_cell" + $"c_cell").cast("double"), 4).as("chi2_mcnemar"))
  }

  /** BROWN–FORSYTHE variance-homogeneity test (1974) — the robust Levene
    * variant: one-way ANOVA F on |x − group MEDIAN| decides whether the
    * k groups even share a variance (the assumption q273's ANOVA and
    * q163's pooled z silently make; heavy-tailed groups break plain
    * Levene, the median centering is the fix). Exact group medians on
    * integer cents; the F is plain moment algebra on the centered
    * deviations.
    *
    * 100 TB plan: one exact-median agg per group (the q319 percentile
    * shape), one centered-moments agg — two passes, both group-keyed. */
  val q462BrownForsythe: GraftQuery = GraftQuery.oracled(
    "q462_brown_forsythe",
    """WITH s AS (SELECT event_type AS g,
      |                  CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |med AS (SELECT g, quantile_cont(cents, 0.5) AS m FROM s GROUP BY g),
      |z AS (SELECT s.g, abs(s.cents - med.m) AS z FROM s JOIN med USING (g)),
      |gm AS (SELECT g, CAST(count(*) AS BIGINT) AS n, avg(z) AS zbar,
      |              sum(z * z) AS zz FROM z GROUP BY g),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS bign, CAST(count(*) AS BIGINT) AS k,
      |               sum(n * zbar) / sum(n) AS zgrand
      |        FROM gm),
      |f AS (SELECT (sum(n * (zbar - zgrand) * (zbar - zgrand)) / (k - 1))
      |             / (sum(zz - n * zbar * zbar) / (bign - k)) AS f_stat,
      |             max(bign) AS bign, max(k) AS k
      |      FROM gm, tot GROUP BY bign, k)
      |SELECT CAST(bign AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |       round(f_stat, 4) AS f_bf
      |FROM f""") { (spark, dir) =>
    import spark.implicits._
    val s = Tables.events(spark, dir)
      .select($"event_type".as("g"), round($"value" * 100).cast("long").as("cents"))
    val med = s.groupBy($"g").agg(expr("percentile(cents, 0.5)").as("m"))
    val z = s.join(broadcast(med), Seq("g")).select($"g", abs($"cents" - $"m").as("z"))
    val gm = z.groupBy($"g").agg(count(lit(1)).cast("long").as("n"),
      avg($"z").as("zbar"), sum($"z" * $"z").as("zz"))
    val tot = gm.agg(sum($"n").cast("long").as("bign"),
      count(lit(1)).cast("long").as("k"),
      (sum($"n" * $"zbar") / sum($"n")).as("zgrand"))
    gm.crossJoin(broadcast(tot))
      .groupBy($"bign", $"k")
      .agg(((sum($"n" * ($"zbar" - $"zgrand") * ($"zbar" - $"zgrand")) / ($"k" - 1))
        / (sum($"zz" - $"n" * $"zbar" * $"zbar") / ($"bign" - $"k"))).as("f_stat"))
      .select($"bign".as("n"), $"k", round($"f_stat", 4).as("f_bf"))
  }

  /** HILL TAIL-INDEX estimator (Hill 1975) — "how heavy is the tail?":
    * α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the top-k order statistics,
    * the standard estimator behind q344's Zipf read but for VALUE
    * distributions (order totals here). Heavy tails (α < 2: infinite
    * variance) break every mean-based monitor upstream — this is the
    * number that says whether q341's median-of-means is optional or
    * mandatory. Computed at k ∈ {50, 100, 200} to show estimator
    * stability (the Hill-plot read). Order statistics come from integer
    * rank over exact cents; the log-sum is an ORDERED left fold by rank
    * on BOTH engines (the q403 sort_array/list_sum trick) so the ≤200
    * double additions happen in one pinned order — no summation-order
    * flake at any SF or partition count.
    *
    * 100 TB plan: the top-201 selection is `orderBy().limit(201)` →
    * TakeOrderedAndProject (per-partition heaps + driver merge of 201-row
    * tops — never a global sort); the rank window then rides the BOUNDED
    * 201-row output, and the estimator is a k-row census agg. */
  val q467HillEstimator: GraftQuery = GraftQuery.oracled(
    "q467_hill_estimator",
    """WITH v AS (SELECT cents, r FROM (
      |             SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |                    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS r
      |             FROM orders) WHERE r <= 201),
      |ks AS (SELECT unnest([50, 100, 200]) AS k),
      |thr AS (SELECT k, cents AS x_k1 FROM ks JOIN v ON v.r = k + 1),
      |hill AS (SELECT thr.k, thr.x_k1,
      |                list_sum(list(ln(CAST(v.cents AS DOUBLE) / thr.x_k1) ORDER BY v.r)) AS logsum
      |         FROM thr JOIN v ON v.r <= thr.k
      |         GROUP BY thr.k, thr.x_k1)
      |SELECT CAST(k AS BIGINT) AS k,
      |       round(CAST(x_k1 AS DOUBLE) / 100, 2) AS threshold_usd,
      |       round(k / logsum, 4) AS alpha_hill
      |FROM hill ORDER BY k""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // top-201 via TakeOrderedAndProject (per-partition heaps, no global
    // sort); the rank window rides the bounded 201-row output
    val top = Tables.orders(spark, dir)
      .select(floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        $"o_totalprice", $"o_orderkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey").limit(201)
    val v = top
      .withColumn("r",
        row_number().over(Window.orderBy($"o_totalprice".desc, $"o_orderkey")))
      .select($"cents", $"r")
    val ks = Seq(50, 100, 200).toDF("k")
    val thr = ks.join(v, $"r" === $"k" + 1).select($"k", $"cents".as("x_k1"))
    thr.join(v, $"r" <= $"k")
      .groupBy($"k", $"x_k1")
      // pinned-order fold by rank — bit-reproducible logsum (q403's trick)
      .agg(aggregate(
        transform(sort_array(collect_list(struct($"r".as("k"),
          log($"cents".cast("double") / $"x_k1").as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, x) => acc + x).as("logsum"))
      .select($"k".cast("long").as("k"),
        round($"x_k1".cast("double") / 100, 2).as("threshold_usd"),
        round($"k" / $"logsum", 4).as("alpha_hill"))
      .orderBy($"k")
  }

  val q436SesBacktest: GraftQuery = GraftQuery.oracled(
    "q436_ses_backtest",
    """WITH daily AS (
      |  SELECT o_orderpriority AS pri, o_orderdate AS d,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |idx AS (SELECT pri, d, cents,
      |               row_number() OVER (PARTITION BY pri ORDER BY d) AS i
      |        FROM daily),
      |fc AS (
      |  SELECT a.pri, a.i, a.cents,
      |         CAST(sum(b.cents * (CAST(1 AS BIGINT) << CAST(20 - (a.i - b.i) AS INTEGER)))
      |              // 1048575 AS BIGINT) AS ses_fc,
      |         CAST(max(CASE WHEN a.i - b.i = 1 THEN b.cents END) AS BIGINT) AS naive_fc
      |  FROM idx a JOIN idx b
      |    ON a.pri = b.pri AND b.i >= a.i - 20 AND b.i <= a.i - 1
      |  WHERE a.i > 20
      |  GROUP BY a.pri, a.i, a.cents)
      |SELECT pri, CAST(count(*) AS BIGINT) AS n_eval,
      |       CAST((100 * sum(abs(cents - ses_fc))) // count(*) AS BIGINT) AS ses_mae_x100,
      |       CAST((100 * sum(abs(cents - naive_fc))) // count(*) AS BIGINT) AS naive_mae_x100,
      |       CAST((1000000 * sum(abs(cents - ses_fc))) // sum(abs(cents - naive_fc)) AS BIGINT)
      |         AS mase_ppm
      |FROM fc GROUP BY pri ORDER BY pri""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_orderpriority".as("pri"), $"o_orderdate".as("d"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).cast("long").as("cents"))
    val idx = daily
      .withColumn("i", row_number().over(Window.partitionBy($"pri").orderBy($"d")))
      .select($"pri", $"i", $"cents")
    val a = idx.as("a"); val b = idx.as("b")
    val fc = a.join(b,
        $"a.pri" === $"b.pri" && $"b.i" >= $"a.i" - 20 && $"b.i" <= $"a.i" - 1)
      .filter($"a.i" > 20)
      .groupBy($"a.pri".as("pri"), $"a.i".as("i"), $"a.cents".as("cents"))
      .agg(
        expr("sum(b.cents * shiftleft(CAST(1 AS BIGINT), CAST(20 - (a.i - b.i) AS INT))) " +
          "div 1048575").cast("long").as("ses_fc"),
        max(when($"a.i" - $"b.i" === 1, $"b.cents")).cast("long").as("naive_fc"))
    fc.groupBy($"pri")
      .agg(count(lit(1)).cast("long").as("n_eval"),
        expr("(100 * sum(abs(cents - ses_fc))) div count(1)").cast("long")
          .as("ses_mae_x100"),
        expr("(100 * sum(abs(cents - naive_fc))) div count(1)").cast("long")
          .as("naive_mae_x100"),
        expr("(1000000 * sum(abs(cents - ses_fc))) div sum(abs(cents - naive_fc))")
          .cast("long").as("mase_ppm"))
      .orderBy($"pri")
  }
}
