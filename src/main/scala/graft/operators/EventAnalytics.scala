package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.sources.Tables

/** SURVEY.md §2 (events surface) — sequential/behavioral analytics over the
  * `events` stream table: funnel conversion and cohort retention, the two
  * queries every product-analytics engine ships as first-class operators.
  *
  * Scale discipline: both queries key every join and aggregation on
  * `user_id` — one high-cardinality hash partitioning that Spark reuses
  * across the stages (co-partitioned joins add no exchange), and the
  * `event_type` predicates push into the parquet scan. Nothing is ever
  * collected; the only small data is the final per-stage / per-cohort
  * aggregate. */
object EventAnalytics {

  /** TWO-PHASE arrival-order running max (q97's machinery applied to the
    * cumulative-max shape): bin rows by a PURE monotone function of the
    * arrival key (`floor(event_id / 65536)` — identical on every
    * recomputation of the shared subtree, unlike repartitionByRange whose
    * sampled boundaries can de-sync the two consumers), take the running
    * max WITHIN each bin (all bins in parallel — no single-task corpus
    * window), then prefix-max the per-bin maxima EXCLUSIVE of self over
    * the (#bins)-row offsets table (the only partition-less window, bins-
    * sized by construction) and broadcast it back:
    * `run_max_us = greatest(local_run_max, prev_bins_max)`.
    *
    * At 100 TB the bin width comes from the arrival-key range stats
    * instead of a constant, but stays a plan-time constant, preserving
    * the recomputation determinism. Input must carry `event_id` and `us`;
    * all other columns pass through. */
  private def arrivalRunningMax(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = df.withColumn("bkt", floor(col("event_id") / 65536L))
    val wLocal = Window.partitionBy(col("bkt")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = binned.groupBy(col("bkt")).agg(max(col("us")).as("bmax"))
      .select(col("bkt"),
        max(col("bmax")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)).as("prev_max"))
    binned
      .withColumn("lmax", max(col("us")).over(wLocal))
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("run_max_us",
        greatest(col("lmax"), coalesce(col("prev_max"), lit(Long.MinValue))))
      .drop("bkt", "lmax", "prev_max")
  }

  /** Ordered funnel conversion view → click → purchase: a user advances to a
    * stage only with an event STRICTLY AFTER their earliest prior-stage
    * event (min-ts semantics, the standard strict-ordering funnel). Output
    * is the per-stage surviving-user count.
    *
    * 100 TB plan: three filtered min-aggs + two joins, all keyed on
    * `user_id` — one shuffle partitioning reused end-to-end; each stage's
    * `event_type` filter reaches the scan, so the funnel reads each event
    * row once. The anti-pattern this avoids is per-user event-list
    * collection (collect_list + UDF walk), which materializes the whole
    * history per user. */
  val q141Funnel: GraftQuery = GraftQuery.oracled(
    "q141_funnel",
    """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
      |v AS (SELECT user_id, min(ts) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t1 FROM e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1)
      |SELECT stage, n_users FROM (
      |  SELECT 1 AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
      |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM c
      |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM p)
      |ORDER BY stage""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t0"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"t0")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    def stageCount(df: DataFrame, s: Int): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_users"))
        .select(lit(s).as("stage"), $"n_users")
    stageCount(v, 1).unionByName(stageCount(c, 2)).unionByName(stageCount(p, 3))
      .orderBy($"stage")
  }

  /** Cohort retention matrix: users are cohorted by first-activity day, and
    * each (cohort, week-offset) cell counts the distinct users of that
    * cohort active in that week — the table behind every retention curve.
    *
    * 100 TB plan: the cohort table is one `user_id`-keyed min-agg joined
    * back on the same key (co-partitioned, no second exchange); the final
    * distinct-count agg is over (cohort, week, user) — exact, partial-agg
    * friendly because (user → cohort) is functional. At production scale
    * the cohort frame is the thing to persist/bucket; the events scan
    * reads (user_id, ts) only. */
  val q142CohortRetention: GraftQuery = GraftQuery.oracled(
    "q142_cohort_retention",
    """WITH e AS (SELECT user_id,
      |                  CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d
      |           FROM events),
      |f AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY 1)
      |SELECT cohort_d, week_off, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM (SELECT e.user_id, f.cohort_d,
      |             CAST(date_diff('day', f.cohort_d, e.d) // 7 AS BIGINT) AS week_off
      |      FROM e JOIN f USING (user_id))
      |GROUP BY 1, 2
      |ORDER BY 1, 2""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
    val f = e.groupBy($"user_id").agg(min($"d").as("cohort_d"))
    e.join(f, "user_id")
      .select($"user_id", $"cohort_d",
        expr("CAST(datediff(d, cohort_d) DIV 7 AS BIGINT)").as("week_off"))
      .groupBy($"cohort_d", $"week_off")
      .agg(countDistinct($"user_id").cast("long").as("n_active"))
      .orderBy($"cohort_d", $"week_off")
  }

  /** Exponentially time-decayed engagement: per user, sum of event values
    * weighted by exp(−age/τ) with τ = 7 days, anchored at the corpus-max
    * timestamp — the recency-weighted feature every ranking/churn model
    * consumes. Age is computed in exact microsecond integer arithmetic
    * before ONE float division, so both engines weigh identical ages.
    *
    * 100 TB plan: the anchor is a 1-row broadcast; the decay weight is a
    * map-side projection and the sum partial-aggregates — one scan, one
    * shuffle of per-user partials. An incremental variant folds in new
    * days by multiplying the stored aggregate by exp(−Δ/τ) (decay is
    * multiplicative), so the history is never re-scanned. */
  val q148DecayedEngagement: GraftQuery = GraftQuery.oracled(
    "q148_decayed_engagement",
    """WITH m AS (SELECT max(date_trunc('microseconds', ts)) AS tmax FROM events),
      |e AS (SELECT user_id, value,
      |             date_diff('microsecond', date_trunc('microseconds', ts), tmax) / 86400000000.0 AS age_d
      |      FROM events, m)
      |SELECT user_id, round(sum(value * exp(-age_d / 7.0)), 2) AS decayed_value
      |FROM e GROUP BY 1
      |ORDER BY user_id""") { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id", $"value", $"ts")
    val anchor = ev.agg(max($"ts").as("tmax"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("age_d",
        (unix_micros($"tmax") - unix_micros($"ts")) / lit(86400000000.0))
      .groupBy($"user_id")
      .agg(round(sum($"value" * exp(-$"age_d" / 7.0)), 2).as("decayed_value"))
      .orderBy($"user_id")
  }

  /** State-interval compression (gaps-and-islands → SCD-2 build): each
    * user's event stream collapses to validity intervals — a new interval
    * starts only when `event_type` CHANGES; consecutive repeats merge.
    * Output is the slowly-changing-dimension history row:
    * (user, state, valid_from, valid_to, n_events, is_current). The
    * change-flag → running-sum group-id → per-group min/count → lead()
    * chain is the canonical relational run-length encoding.
    *
    * 100 TB plan: three window passes and one agg, ALL on the same
    * user_id partitioning — Spark plans one shuffle and reuses the sort.
    * No self-join against shifted copies (the naive SCD build), no
    * per-user collect. */
  val q149StateIntervals: GraftQuery = GraftQuery.oracled(
    "q149_state_intervals",
    """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts, event_id FROM events),
      |m AS (SELECT user_id, event_type, ts, event_id,
      |             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |      FROM e),
      |g AS (SELECT user_id, event_type, ts, event_id,
      |             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS grp
      |      FROM m),
      |iv AS (SELECT user_id, event_type, grp, min(ts) AS valid_from,
      |              CAST(count(*) AS BIGINT) AS n_events
      |       FROM g GROUP BY 1, 2, 3)
      |SELECT user_id, event_type, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
      |       n_events,
      |       CASE WHEN lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL
      |            THEN 1 ELSE 0 END AS is_current
      |FROM iv
      |ORDER BY user_id, valid_from""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, 0)
    val wIv = Window.partitionBy($"user_id").orderBy($"valid_from")
    val iv = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("chg",
        when(!(lag($"event_type", 1).over(wSeq) <=> $"event_type"), 1).otherwise(0))
      .withColumn("grp", sum($"chg").over(wRun))
      .groupBy($"user_id", $"event_type", $"grp")
      .agg(min($"ts").as("valid_from"), count(lit(1)).as("n_events"))
    iv.select($"user_id", $"event_type", $"valid_from",
        lead($"valid_from", 1).over(wIv).as("valid_to"), $"n_events",
        when(lead($"valid_from", 1).over(wIv).isNull, 1).otherwise(0).as("is_current"))
      .orderBy($"user_id", $"valid_from")
  }

  /** Temporal point-in-interval join: each `error` event is enriched with
    * the state interval (q149's SCD-2 build over the NON-error stream) it
    * falls inside — "what was the user doing when the error hit", the
    * history-join every temporal warehouse ships. Intervals partition each
    * user's timeline, so every error matches AT MOST one interval; errors
    * before a user's first non-error event drop (inner semantics).
    *
    * 100 TB plan: the join is an EQUI join on user_id with the interval
    * bounds as a residual filter — never a BroadcastNestedLoop — and the
    * interval build reuses the probe side's user_id partitioning. Matches
    * per user are bounded by intervals/user (state changes, not events). */
  val q156TemporalJoin: GraftQuery = GraftQuery.oracled(
    "q156_temporal_join",
    """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts, event_id
      |           FROM events WHERE event_type <> 'error'),
      |m AS (SELECT user_id, event_type, ts, event_id,
      |             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |      FROM e),
      |g AS (SELECT user_id, event_type, ts, event_id,
      |             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS grp
      |      FROM m),
      |iv0 AS (SELECT user_id, event_type AS state, grp, min(ts) AS valid_from
      |        FROM g GROUP BY 1, 2, 3),
      |iv AS (SELECT user_id, state, valid_from,
      |              lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
      |       FROM iv0),
      |err AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
      |        FROM events WHERE event_type = 'error')
      |SELECT err.event_id, err.user_id, iv.state, iv.valid_from
      |FROM err JOIN iv ON err.user_id = iv.user_id
      |               AND iv.valid_from <= err.ts
      |               AND (err.ts < iv.valid_to OR iv.valid_to IS NULL)
      |ORDER BY err.event_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wSeq.rowsBetween(Window.unboundedPreceding, 0)
    val wIv = Window.partitionBy($"user_id").orderBy($"valid_from")
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
    val iv = ev.filter($"event_type" =!= "error")
      .withColumn("chg",
        when(!(lag($"event_type", 1).over(wSeq) <=> $"event_type"), 1).otherwise(0))
      .withColumn("grp", sum($"chg").over(wRun))
      .groupBy($"user_id", $"event_type".as("state"), $"grp")
      .agg(min($"ts").as("valid_from"))
      .withColumn("valid_to", lead($"valid_from", 1).over(wIv))
      .select($"user_id", $"state", $"valid_from", $"valid_to")
    val err = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id", $"ts")
    err.join(iv,
        err("user_id") === iv("user_id") &&
          iv("valid_from") <= err("ts") &&
          (err("ts") < iv("valid_to") || iv("valid_to").isNull))
      .select(err("event_id"), err("user_id"), $"state", $"valid_from")
      .orderBy($"event_id")
  }

  /** Rolling 7-day correlation between the daily click and purchase value
    * series — the co-movement signal behind every metrics-anomaly monitor.
    * One conditional-sum day rollup, then `corr` as a windowed aggregate
    * over ROWS 6 PRECEDING.
    *
    * 100 TB plan: the day rollup partial-aggregates the event stream to
    * one row per day; the correlation window then runs over the
    * days-sized series (the same deliberate tiny-global-window shape as
    * q145 — 365 rows/year, not row data). */
  val q157RollingCorr: GraftQuery = GraftQuery.oracled(
    "q157_rolling_corr",
    """WITH d AS (SELECT CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d,
      |                  sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS clicks,
      |                  sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS purchases
      |           FROM events GROUP BY 1)
      |SELECT d, round(clicks, 2) AS clicks, round(purchases, 2) AS purchases,
      |       round(corr(clicks, purchases) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) + 0.0 AS corr7
      |FROM d ORDER BY d""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(to_date($"ts").as("d"))
      .agg(sum(when($"event_type" === "click", $"value").otherwise(0)).as("clicks"),
        sum(when($"event_type" === "purchase", $"value").otherwise(0)).as("purchases"))
    val w = Window.orderBy($"d").rowsBetween(-6, 0)
    daily.select($"d", round($"clicks", 2).as("clicks"),
        round($"purchases", 2).as("purchases"),
        // + 0.0 canonicalizes IEEE negative zero so both engines emit 0.0
        (round(corr($"clicks", $"purchases").over(w), 2) + 0.0).as("corr7"))
      .orderBy($"d")
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands pattern: distinct active days, `row_number` per user,
    * and `day − row_number` is constant exactly within a consecutive run,
    * so one more group-by yields run lengths.
    *
    * 100 TB plan: everything after the distinct is keyed on `user_id` — the
    * window and both aggregations reuse one hash partitioning, and the
    * per-user sort is over distinct DAYS (≤ a few thousand rows/user), not
    * raw events. No self-join against a calendar, no per-user collect. */
  val q161ActivityStreaks: GraftQuery = GraftQuery.oracled(
    "q161_activity_streaks",
    """WITH d AS (SELECT DISTINCT user_id,
      |                  CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d
      |           FROM events),
      |r AS (SELECT user_id, d,
      |             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM d),
      |s AS (SELECT user_id, d - CAST(rn AS INTEGER) AS grp,
      |             CAST(count(*) AS BIGINT) AS streak
      |      FROM r GROUP BY 1, 2)
      |SELECT user_id, max(streak) AS max_streak
      |FROM s GROUP BY 1 ORDER BY user_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"d")
    days.withColumn("rn", row_number().over(w))
      .withColumn("grp", expr("date_sub(d, rn)"))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).cast("long").as("streak"))
      .groupBy($"user_id")
      .agg(max($"streak").as("max_streak"))
      .orderBy($"user_id")
  }

  /** Linear multi-touch attribution: each purchase's value is split evenly
    * across that user's click events in the preceding 7 days, and the
    * credit is rolled up by channel (the click's `props.k mod 10`) — the
    * marketing-analytics staple that generalizes last-touch (q20's as-of
    * shape) to fractional credit.
    *
    * 100 TB plan: the purchase×click touch join and the per-purchase touch
    * count are both keyed on `user_id` (bounded by the 7-day window, so
    * per-user fan-out is capped by click frequency, not history length),
    * and the touch frame is reused for the count and the credit roll-up —
    * one shuffle partitioning end-to-end, then a 10-row aggregate. */
  val q164Attribution: GraftQuery = GraftQuery.oracled(
    "q164_linear_attribution",
    """WITH e AS (SELECT user_id, event_type, value, date_trunc('microseconds', ts) AS ts,
      |                  CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS channel
      |           FROM events),
      |p AS (SELECT user_id, ts AS pts, value FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts AS cts, channel FROM e WHERE event_type = 'click'),
      |touch AS (SELECT p.user_id, p.pts, p.value, c.channel
      |          FROM p JOIN c ON p.user_id = c.user_id
      |                       AND c.cts < p.pts
      |                       AND c.cts >= p.pts - INTERVAL 7 DAY),
      |n AS (SELECT user_id, pts, CAST(count(*) AS DOUBLE) AS n_touch
      |      FROM touch GROUP BY 1, 2)
      |SELECT t.channel, round(sum(t.value / n.n_touch), 2) AS attributed
      |FROM touch t JOIN n ON t.user_id = n.user_id AND t.pts = n.pts
      |GROUP BY 1 ORDER BY channel""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"value", $"ts",
        (get_json_object($"props", "$.k").cast("long") % 10).as("channel"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"ts".as("pts"), $"value")
    val c = e.filter($"event_type" === "click")
      .select($"user_id".as("c_uid"), $"ts".as("cts"), $"channel")
    val touch = p.join(c,
      $"p_uid" === $"c_uid" &&
        $"cts" < $"pts" &&
        $"cts" >= $"pts" - expr("INTERVAL 7 DAY"))
      .select($"p_uid".as("user_id"), $"pts", $"value", $"channel")
    val n = touch.groupBy($"user_id", $"pts")
      .agg(count(lit(1)).cast("double").as("n_touch"))
    touch.join(n, Seq("user_id", "pts"))
      .groupBy($"channel")
      .agg(round(sum($"value" / $"n_touch"), 2).as("attributed"))
      .orderBy($"channel")
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next = cur | prev), the empirical transition table behind
    * next-action prediction and behavioral anomaly scoring. One `lag`
    * window per user gives the (prev, cur) bigrams; normalization is a
    * window-sum over the tiny (|types|²) count table.
    *
    * 100 TB plan: the only big-data operation is the user-keyed sequence
    * window (per-user sort, bounded by session length); everything after
    * operates on an event-type² table. This is the event-sequence analog of
    * q144's BPE pair census. */
  val q168MarkovTransitions: GraftQuery = GraftQuery.oracled(
    "q168_markov_transitions",
    """WITH s AS (SELECT user_id, event_type AS cur,
      |                  lag(event_type) OVER (PARTITION BY user_id
      |                    ORDER BY date_trunc('microseconds', ts), event_id) AS prev
      |           FROM events),
      |c AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
      |      FROM s WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT prev, cur, n,
      |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 6) AS p
      |FROM c ORDER BY prev, cur""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val bigrams = Tables.events(spark, dir)
      .select($"user_id", $"event_type".as("cur"), $"ts", $"event_id")
      .withColumn("prev", lag($"cur", 1).over(wSeq))
      .filter($"prev".isNotNull)
      .groupBy($"prev", $"cur")
      .agg(count(lit(1)).cast("long").as("n"))
    bigrams
      .withColumn("p", round($"n".cast("double") /
        sum($"n").over(Window.partitionBy($"prev")), 6))
      .orderBy($"prev", $"cur")
  }

  /** Hourly OHLC bars over the event value stream: open/high/low/close plus
    * mean per hour bucket — the time-series compaction every market-data /
    * metrics store runs. Open and close are pinned by the total
    * (ts, event_id) order via two `row_number` windows, so ties cannot
    * diverge between engines.
    *
    * 100 TB plan: windows and the final aggregate all partition on the hour
    * bucket — embarrassingly parallel across buckets, one shuffle; per-
    * bucket sort is bounded by events/hour. A `min_by`/`max_by` single-agg
    * variant would halve the window passes but DuckDB's `arg_min` cannot
    * take a composite tie-break key, so the catalog keeps the portable
    * formulation.
    *
    * Determinism: `value` carries exactly 2 decimals, so the bar mean is
    * computed over exact integer cents — `sum(long)` is summation-order
    * independent, and the single final division is IEEE-identical in both
    * engines. A float `avg(value)` here strict-mismatched at sf0.01 (one
    * bar's mean ties exactly at the 4th decimal; partial-agg order decided
    * the rounding). Open/high/low/close are single values, not sums — safe
    * to round directly. */
  val q169OhlcBars: GraftQuery = GraftQuery.oracled(
    "q169_ohlc_bars",
    """WITH e AS (SELECT date_trunc('hour', date_trunc('microseconds', ts)) AS h,
      |                  value, CAST(round(value * 100) AS BIGINT) AS cents,
      |                  date_trunc('microseconds', ts) AS ts, event_id
      |           FROM events),
      |r AS (SELECT h, value, cents,
      |             row_number() OVER (PARTITION BY h ORDER BY ts, event_id) AS ra,
      |             row_number() OVER (PARTITION BY h ORDER BY ts DESC, event_id DESC) AS rd
      |      FROM e)
      |SELECT h, CAST(count(*) AS BIGINT) AS n_events,
      |       round(max(CASE WHEN ra = 1 THEN value END), 4) AS open,
      |       round(max(value), 4) AS high,
      |       round(min(value), 4) AS low,
      |       round(max(CASE WHEN rd = 1 THEN value END), 4) AS close,
      |       round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 4) AS mean_val
      |FROM r GROUP BY h ORDER BY h""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select(date_trunc("hour", $"ts").as("h"), $"value",
        round($"value" * 100).cast("long").as("cents"), $"ts", $"event_id")
    val wa = Window.partitionBy($"h").orderBy($"ts", $"event_id")
    val wd = Window.partitionBy($"h").orderBy($"ts".desc, $"event_id".desc)
    e.withColumn("ra", row_number().over(wa))
      .withColumn("rd", row_number().over(wd))
      .groupBy($"h")
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        round(max(when($"ra" === 1, $"value")), 4).as("open"),
        round(max($"value"), 4).as("high"),
        round(min($"value"), 4).as("low"),
        round(max(when($"rd" === 1, $"value")), 4).as("close"),
        round(sum($"cents").cast("double") / 100.0 / count(lit(1)), 4)
          .as("mean_val"))
      .orderBy($"h")
  }

  /** Seasonal-naive forecast backtest: predict each hour's mean value with
    * the value 24 hours earlier and report the per-day MAE — the baseline
    * every real forecaster must beat, and the shape of every backtest
    * harness (join actuals to lagged forecasts, aggregate the error).
    *
    * Hourly means are computed over exact integer cents (q169's
    * determinism trick), so the joined series is bit-identical in both
    * engines before the error aggregation. The lag is a self-JOIN on the
    * shifted hour, not a window `lag` — a gap hour must yield no forecast
    * row, not the previous row's value.
    *
    * 100 TB plan: the raw scan collapses to an hour-keyed aggregate first
    * (tiny output), and the shifted self-join + day roll-up run on that
    * compacted series. Error metrics never touch raw events. */
  val q171SeasonalBacktest: GraftQuery = GraftQuery.oracled(
    "q171_seasonal_backtest",
    """WITH hb AS (SELECT date_trunc('hour', date_trunc('microseconds', ts)) AS h,
      |                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
      |                     / 100.0 / count(*) AS m
      |            FROM events GROUP BY 1),
      |j AS (SELECT a.h AS h, a.m AS actual, b.m AS fc
      |      FROM hb a JOIN hb b ON b.h = a.h - INTERVAL 24 HOUR)
      |SELECT CAST(date_trunc('day', h) AS DATE) AS d,
      |       CAST(count(*) AS BIGINT) AS n_hours,
      |       round(avg(abs(actual - fc)), 4) AS mae
      |FROM j GROUP BY 1 ORDER BY d""") { (spark, dir) =>
    import spark.implicits._
    val hb = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", $"ts").as("h"))
      .agg((sum(round($"value" * 100).cast("long")).cast("double") /
        100.0 / count(lit(1))).as("m"))
    val fc = hb.select(($"h" + expr("INTERVAL 24 HOUR")).as("h"), $"m".as("fc"))
    hb.join(fc, "h")
      .groupBy(to_date(date_trunc("day", $"h")).as("d"))
      .agg(
        count(lit(1)).cast("long").as("n_hours"),
        round(avg(abs($"m" - $"fc")), 4).as("mae"))
      .orderBy($"d")
  }

  /** Market-basket co-occurrence with lift: which item pairs are clicked by
    * the same users more often than independence predicts —
    * lift(a,b) = P(a,b) / (P(a)·P(b)) over per-user item sets. The
    * association-rule primitive (Agrawal & Srikant 1994's support
    * counting, with lift instead of confidence).
    *
    * 100 TB plan: the per-user distinct item set is bounded by the catalog
    * (here |items| = 20), so the within-user pair explode is O(|items|²)
    * per user, NOT O(events²) — the classic trick that keeps basket
    * analysis linear in users. One user-keyed self-join (co-partitioned),
    * then everything is item²-sized. */
  val q172BasketLift: GraftQuery = GraftQuery.oracled(
    "q172_basket_lift",
    """WITH ui AS (SELECT DISTINCT user_id,
      |                   CAST(json_extract(props, '$.k') AS BIGINT) % 20 AS item
      |            FROM events WHERE event_type = 'click'),
      |n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS nu FROM ui),
      |ic AS (SELECT item, CAST(count(*) AS DOUBLE) AS c FROM ui GROUP BY 1),
      |pc AS (SELECT a.item AS item_a, b.item AS item_b,
      |              CAST(count(*) AS BIGINT) AS n_ab
      |       FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      |       GROUP BY 1, 2)
      |SELECT pc.item_a, pc.item_b, pc.n_ab,
      |       round(CAST(pc.n_ab AS DOUBLE) * n.nu / (ca.c * cb.c), 6) AS lift
      |FROM pc JOIN ic ca ON ca.item = pc.item_a
      |        JOIN ic cb ON cb.item = pc.item_b, n
      |ORDER BY item_a, item_b""") { (spark, dir) =>
    import spark.implicits._
    val ui = Tables.events(spark, dir)
      .filter($"event_type" === "click")
      .select($"user_id",
        (get_json_object($"props", "$.k").cast("long") % 20).as("item"))
      .distinct()
    val nu = ui.agg(countDistinct($"user_id").cast("double").as("nu"))
    val ic = ui.groupBy($"item").agg(count(lit(1)).cast("double").as("c"))
    val a = ui.select($"user_id", $"item".as("item_a"))
    val b = ui.select($"user_id".as("uid_b"), $"item".as("item_b"))
    val pc = a.join(b, $"user_id" === $"uid_b" && $"item_a" < $"item_b")
      .groupBy($"item_a", $"item_b")
      .agg(count(lit(1)).cast("long").as("n_ab"))
    pc.join(broadcast(ic.select($"item".as("item_a"), $"c".as("ca"))), "item_a")
      .join(broadcast(ic.select($"item".as("item_b"), $"c".as("cb"))), "item_b")
      .crossJoin(broadcast(nu))
      .select($"item_a", $"item_b", $"n_ab",
        round($"n_ab".cast("double") * $"nu" / ($"ca" * $"cb"), 6).as("lift"))
      .orderBy($"item_a", $"item_b")
  }

  /** Kaplan–Meier survival curve over user lifetimes: duration = active
    * span in days; a user "dies" (churns) when their last activity is ≥3
    * days before the corpus horizon, else they are right-CENSORED (still
    * alive when observation ends) — the estimator that handles censoring
    * correctly, which a naive churn-rate-by-duration table cannot
    * (Kaplan & Meier 1958).
    *
    * Determinism: S(t) = Π(1 − d/n) is computed as exp of an ORDERED
    * window cumsum of logs — the addition order is pinned by the window's
    * ORDER BY in both engines, so the floats agree bit-for-bit before
    * rounding. The 1e-12 clamp covers the final total-death step (Spark's
    * `log` yields NULL at 0, DuckDB −inf).
    *
    * 100 TB plan: raw events collapse to one per-user min/max aggregation;
    * the survival table itself is duration-sized (hundreds of rows). The
    * reverse-cumulative risk set is a window over that tiny table. */
  val q180KaplanMeier: GraftQuery = GraftQuery.oracled(
    "q180_kaplan_meier",
    """WITH d AS (SELECT user_id,
      |                  CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d
      |           FROM events),
      |g AS (SELECT max(d) AS gmax FROM d),
      |u AS (SELECT user_id,
      |             CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS t,
      |             CASE WHEN date_diff('day', max(d), (SELECT gmax FROM g)) >= 3
      |                  THEN 1 ELSE 0 END AS died
      |      FROM d GROUP BY user_id),
      |s AS (SELECT t, CAST(count(*) AS BIGINT) AS leaving,
      |             CAST(sum(died) AS BIGINT) AS d_t
      |      FROM u GROUP BY t),
      |r AS (SELECT t, d_t,
      |             CAST(sum(leaving) OVER (ORDER BY t DESC) AS BIGINT) AS n_at_risk
      |      FROM s)
      |SELECT t, n_at_risk, d_t,
      |       round(exp(sum(ln(greatest(1.0 - CAST(d_t AS DOUBLE) / n_at_risk, 1e-12)))
      |                 OVER (ORDER BY t)), 4) AS survival
      |FROM r ORDER BY t""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
    val gmax = days.agg(max($"d").as("gmax"))
    val u = days.groupBy($"user_id")
      .agg(min($"d").as("d0"), max($"d").as("d1"))
      .crossJoin(broadcast(gmax))
      .select(
        (datediff($"d1", $"d0") + 1).cast("long").as("t"),
        when(datediff($"gmax", $"d1") >= 3, 1).otherwise(0).as("died"))
    val s = u.groupBy($"t").agg(
      count(lit(1)).cast("long").as("leaving"),
      sum($"died").cast("long").as("d_t"))
    val r = s.withColumn("n_at_risk",
      sum($"leaving").over(Window.orderBy($"t".desc)).cast("long"))
    r.select($"t", $"n_at_risk", $"d_t",
      round(exp(sum(log(greatest(lit(1.0) - $"d_t".cast("double") / $"n_at_risk",
        lit(1e-12)))).over(Window.orderBy($"t"))), 4).as("survival"))
      .orderBy($"t")
  }

  /** NELSON–AALEN CUMULATIVE HAZARD (Nelson 1972; Aalen 1978) — the
    * hazard-domain twin of q180's Kaplan–Meier over the identical
    * user-retention censoring setup: H(t) = Σ_{s ≤ t} d_s / n_s with its
    * Breslow survival transform exp(−H). Reported alongside K–M because
    * the two estimators bracket each other (exp(−H) ≥ Ŝ_KM pointwise) and
    * H is the quantity hazard-ratio models calibrate against. Same exact
    * integer censuses (d_t, n_at_risk); only the final division/exp is
    * floating, rounded identically on both sides.
    *
    * 100 TB plan: identical to q180 — one per-user min/max agg, one
    * duration census, and windows over the ≤duration-sized census (the
    * partition-less windows ride AGGREGATED input, the plan-audit-approved
    * shape). */
  val q490NelsonAalen: GraftQuery = GraftQuery.oracled(
    "q490_nelson_aalen",
    """WITH d AS (SELECT user_id,
      |                  CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d
      |           FROM events),
      |g AS (SELECT max(d) AS gmax FROM d),
      |u AS (SELECT user_id,
      |             CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS t,
      |             CASE WHEN date_diff('day', max(d), (SELECT gmax FROM g)) >= 3
      |                  THEN 1 ELSE 0 END AS died
      |      FROM d GROUP BY user_id),
      |s AS (SELECT t, CAST(count(*) AS BIGINT) AS leaving,
      |             CAST(sum(died) AS BIGINT) AS d_t
      |      FROM u GROUP BY t),
      |r AS (SELECT t, d_t,
      |             CAST(sum(leaving) OVER (ORDER BY t DESC) AS BIGINT) AS n_at_risk
      |      FROM s)
      |SELECT t, n_at_risk, d_t,
      |       round(sum(CAST(d_t AS DOUBLE) / n_at_risk) OVER (ORDER BY t), 4) AS cum_hazard,
      |       round(exp(-sum(CAST(d_t AS DOUBLE) / n_at_risk) OVER (ORDER BY t)), 4) AS breslow_survival
      |FROM r ORDER BY t""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
    val gmax = days.agg(max($"d").as("gmax"))
    val u = days.groupBy($"user_id")
      .agg(min($"d").as("d0"), max($"d").as("d1"))
      .crossJoin(broadcast(gmax))
      .select(
        (datediff($"d1", $"d0") + 1).cast("long").as("t"),
        when(datediff($"gmax", $"d1") >= 3, 1).otherwise(0).as("died"))
    val s = u.groupBy($"t").agg(
      count(lit(1)).cast("long").as("leaving"),
      sum($"died").cast("long").as("d_t"))
    val r = s.withColumn("n_at_risk",
      sum($"leaving").over(Window.orderBy($"t".desc)).cast("long"))
    val hazard = sum($"d_t".cast("double") / $"n_at_risk").over(Window.orderBy($"t"))
    r.select($"t", $"n_at_risk", $"d_t",
      round(hazard, 4).as("cum_hazard"),
      round(exp(-hazard), 4).as("breslow_survival"))
      .orderBy($"t")
  }

  /** Interval-overlap join (interval × interval, not q156's point-in-
    * interval): per-user activity ISLANDS (q161's consecutive-day runs as
    * [start, end] intervals) overlap-joined with a deterministic campaign
    * grid (5-day windows every 11 days), reporting islands touched and
    * total overlapping days per campaign — the temporal-database overlap
    * operator (s₁ ≤ e₂ ∧ s₂ ≤ e₁).
    *
    * 100 TB plan: the campaign side is calendar-sized → broadcast range
    * join, zero shuffle of the island side beyond its construction. Were
    * BOTH interval sets large, the q19 discipline applies to intervals
    * too: explode each interval to the 11-day buckets it covers, equi-join
    * per bucket, dedup pairs, verify the exact overlap predicate as a
    * residual. */
  val q187IntervalOverlap: GraftQuery = GraftQuery.oracled(
    "q187_interval_overlap",
    """WITH d AS (SELECT DISTINCT user_id,
      |                  CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d
      |           FROM events),
      |r AS (SELECT user_id, d,
      |             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM d),
      |isl AS (SELECT user_id, min(d) AS s, max(d) AS e
      |        FROM (SELECT user_id, d, d - CAST(rn AS INTEGER) AS grp FROM r)
      |        GROUP BY user_id, grp),
      |g AS (SELECT min(d) AS gmin, max(d) AS gmax FROM d),
      |camp AS (SELECT CAST(i AS BIGINT) AS campaign_id,
      |                gmin + CAST(11 * i AS INTEGER) AS cs,
      |                gmin + CAST(11 * i + 4 AS INTEGER) AS ce
      |         FROM g, UNNEST(generate_series(0, CAST(date_diff('day', gmin, gmax) // 11 AS BIGINT))) AS t(i))
      |SELECT campaign_id, CAST(count(*) AS BIGINT) AS n_islands,
      |       CAST(sum(date_diff('day', greatest(s, cs), least(e, ce)) + 1) AS BIGINT) AS overlap_days
      |FROM isl JOIN camp ON s <= ce AND cs <= e
      |GROUP BY campaign_id ORDER BY campaign_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"d")
    val isl = days.withColumn("rn", row_number().over(w))
      .withColumn("grp", expr("date_sub(d, rn)"))
      .groupBy($"user_id", $"grp")
      .agg(min($"d").as("s"), max($"d").as("e"))
    val g = days.agg(min($"d").as("gmin"), max($"d").as("gmax"))
    val camp = g
      .select($"gmin", explode(sequence(lit(0L),
        (datediff($"gmax", $"gmin") / 11).cast("long"))).as("campaign_id"))
      .select($"campaign_id",
        date_add($"gmin", ($"campaign_id" * 11).cast("int")).as("cs"),
        date_add($"gmin", ($"campaign_id" * 11 + 4).cast("int")).as("ce"))
    isl.join(broadcast(camp), $"s" <= $"ce" && $"cs" <= $"e")
      .groupBy($"campaign_id")
      .agg(count(lit(1)).cast("long").as("n_islands"),
        sum(datediff(least($"e", $"ce"), greatest($"s", $"cs")) + 1)
          .cast("long").as("overlap_days"))
      .orderBy($"campaign_id")
  }

  /** Session path analysis: the census of 3-step event-type paths WITHIN
    * gap-sessions (30-minute rule) — q168's Markov bigrams extended to
    * trigram paths that cannot cross a session boundary, the "top user
    * journeys" table of product analytics.
    *
    * 100 TB plan: session assembly and both lag windows share ONE
    * user-keyed partitioning (the session id is a running sum over the
    * same window ordering); the trigram census is an event-type³-sized
    * aggregate. Same anti-pattern avoided as q141: no per-user event-list
    * collection. */
  val q193SessionPaths: GraftQuery = GraftQuery.oracled(
    "q193_session_paths",
    """WITH e AS (SELECT user_id, event_type,
      |                  date_trunc('microseconds', ts) AS ts, event_id
      |           FROM events),
      |s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |                     THEN 1 ELSE 0 END AS brk
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      |         FROM s),
      |tri AS (SELECT lag(event_type, 2) OVER w2 AS t1,
      |               lag(event_type, 1) OVER w2 AS t2,
      |               event_type AS t3
      |        FROM sess WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id))
      |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
      |FROM tri WHERE t1 IS NOT NULL
      |GROUP BY t1, t2, t3
      |ORDER BY t1, t2, t3""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val prevTs = lag($"ts", 1).over(w)
    val sess = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("brk",
        when(prevTs.isNull ||
          $"ts" > prevTs + expr("INTERVAL 30 MINUTE"), 1).otherwise(0))
      .withColumn("sid", sum($"brk").over(w))
    val w2 = Window.partitionBy($"user_id", $"sid").orderBy($"ts", $"event_id")
    sess
      .select(
        lag($"event_type", 2).over(w2).as("t1"),
        lag($"event_type", 1).over(w2).as("t2"),
        $"event_type".as("t3"))
      .filter($"t1".isNotNull)
      .groupBy($"t1", $"t2", $"t3")
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy($"t1", $"t2", $"t3")
  }

  /** Per-user EWMA of event value (α = 0.9) over the 8 most-recent events —
    * the smoothed-engagement score, computed in EXACT integer arithmetic so
    * the oracle matches bit-for-bit: α^j = 9^j/10^j over a common 10⁷
    * denominator gives weight_j = 9^j·10^(7−j) as an exact BIGINT, values
    * enter as floor-cents (floor of the identical double — portable, unlike
    * round's HALF_UP/half-even divergence), and the result is emitted in
    * integer micro-units via true integer division (Spark `div`, DuckDB
    * `//`) — num·10⁴ ≤ ~5·10¹⁶ stays in int64. q148's decayed engagement
    * weights by event AGE (continuous exp); this weights by RECENCY RANK —
    * the two canonical decay conventions.
    *
    * Scale note: one row_number window on (user_id, ts desc) + one hash agg
    * — the same single user_id shuffle every other per-user query reuses. */
  val q202EwmaMicro: GraftQuery = GraftQuery.oracled(
    "q202_ewma_micro",
    """WITH r AS (SELECT user_id,
      |                  CAST(floor(value * 100) AS BIGINT) AS cents,
      |                  row_number() OVER (PARTITION BY user_id
      |                                     ORDER BY date_trunc('microseconds', ts) DESC,
      |                                              event_id DESC) AS rn
      |           FROM events),
      |k AS (SELECT user_id, cents, rn - 1 AS j FROM r WHERE rn <= 8),
      |w AS (SELECT user_id,
      |             sum(cents * CAST(pow(9, j) * pow(10, 7 - j) AS BIGINT)) AS num,
      |             sum(CAST(pow(9, j) * pow(10, 7 - j) AS BIGINT)) AS den,
      |             CAST(count(*) AS BIGINT) AS n_used
      |      FROM k GROUP BY user_id)
      |SELECT user_id, n_used, CAST((num * 10000) // den AS BIGINT) AS ewma_micro
      |FROM w
      |ORDER BY user_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(spark, dir)
      .select($"user_id", floor($"value" * 100).cast("long").as("cents"),
        row_number().over(w).as("rn"))
      .filter($"rn" <= 8)
      .withColumn("j", $"rn" - 1)
      .withColumn("wt", (pow(lit(9), $"j") * pow(lit(10), lit(7) - $"j")).cast("long"))
      .groupBy($"user_id")
      .agg(sum($"cents" * $"wt").as("num"), sum($"wt").as("den"),
        count(lit(1)).as("n_used"))
      .select($"user_id", $"n_used",
        expr("(num * 10000) div den").as("ewma_micro"))
      .orderBy($"user_id")
  }

  /** Time-weighted average value per user (TWAP): each event's value holds
    * until the user's next event, so the average weights by HOLDING TIME,
    * not event count — the convention for position/price series with
    * irregular sampling. Exact integer arithmetic throughout: durations in
    * whole minutes (integer µs division), values in floor-cents, result in
    * integer micro-units via true integer division — num·10⁴ stays under
    * ~10¹⁶. The final interval has no successor and drops out (lead is
    * NULL), as does any user whose events all fall inside one minute
    * (den = 0 would divide by zero — filtered on both engines).
    *
    * Scale note: one lead() window + one hash agg, both on the user_id
    * partitioning every other per-user query shares. */
  val q210Twap: GraftQuery = GraftQuery.oracled(
    "q210_twap",
    """WITH e AS (SELECT user_id,
      |                  CAST(floor(value * 100) AS BIGINT) AS cents,
      |                  epoch_us(date_trunc('microseconds', ts)) AS us,
      |                  event_id
      |           FROM events),
      |d AS (SELECT user_id, cents,
      |             (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us)
      |               // 60000000 AS dur_min
      |      FROM e),
      |w AS (SELECT user_id,
      |             sum(cents * dur_min) AS num, sum(dur_min) AS den,
      |             CAST(count(*) AS BIGINT) AS n_intervals
      |      FROM d WHERE dur_min IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_intervals,
      |       CAST((num * 10000) // den AS BIGINT) AS twap_micro
      |FROM w WHERE den > 0
      |ORDER BY user_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", floor($"value" * 100).cast("long").as("cents"),
        unix_micros($"ts").as("us"), $"event_id")
      .withColumn("next_us", lead($"us", 1).over(w))
      .withColumn("dur_min", expr("(next_us - us) div 60000000"))
      .filter($"dur_min".isNotNull)
      .groupBy($"user_id")
      .agg(sum($"cents" * $"dur_min").as("num"), sum($"dur_min").as("den"),
        count(lit(1)).as("n_intervals"))
      .filter($"den" > 0)
      .select($"user_id", $"n_intervals", expr("(num * 10000) div den").as("twap_micro"))
      .orderBy($"user_id")
  }

  /** Rolling z-score anomaly flags: each event's value against the
    * trailing 20-event mean/stddev of ITS OWN user (frame excludes the
    * current row — the standard self-exclusion that stops an anomaly from
    * masking itself), flagged where |z| > 2 with ≥10 prior observations.
    * The z is rounded to 4 dp on both engines BEFORE the threshold
    * compare, so the flag set is boundary-stable across float libraries
    * (q153's fence discipline).
    *
    * 100 TB plan: one window shuffle keyed on user_id — the same single
    * partition-sort every per-entity rolling metric here shares (q157,
    * q161, q202); the frame is O(1) state per row. */
  val q230RollingZscore: GraftQuery = GraftQuery.oracled(
    "q230_rolling_zscore",
    """WITH w AS (
      |  SELECT event_id, user_id, value,
      |         avg(value)         OVER f AS mu,
      |         stddev_samp(value) OVER f AS sd,
      |         count(value)       OVER f AS n
      |  FROM events
      |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, user_id, round(value, 2) AS value,
      |       round((value - mu) / sd, 4) AS z
      |FROM w
      |WHERE n >= 10 AND sd > 0 AND abs(round((value - mu) / sd, 4)) > 2.0
      |ORDER BY event_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val f = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-20, -1)
    Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"value",
        avg($"value").over(f).as("mu"),
        stddev_samp($"value").over(f).as("sd"),
        count($"value").over(f).as("n"))
      .filter($"n" >= 10 && $"sd" > 0 &&
        abs(round(($"value" - $"mu") / $"sd", 4)) > 2.0)
      .select($"event_id", $"user_id", round($"value", 2).as("value"),
        round(($"value" - $"mu") / $"sd", 4).as("z"))
      .orderBy($"event_id")
  }

  /** Sweep-line MAX CONCURRENCY: each event opens an interval of
    * `value` minutes; the peak number of simultaneously-open intervals per
    * event_type is the classic resource-occupancy question (concurrent
    * sessions, live connections, room bookings). Relational sweep: ±1
    * deltas at the (integer microsecond) endpoints, one running sum per
    * type ordered (time, delta) — delta ASC processes closings before
    * openings at a shared instant, so touching intervals don't double-count;
    * the tie rule is explicit and identical on both engines. Endpoint
    * arithmetic is integer µs with an explicit floor, never float casts
    * (Spark CAST truncates, DuckDB CAST rounds).
    *
    * 100 TB plan: one shuffle on event_type for the cumulative window; at
    * extreme per-type volume the sweep two-phases like q97's rank (chunk
    * partial sums, then offset) — the delta stream is only 2 rows per
    * event. */
  val q239MaxConcurrency: GraftQuery = GraftQuery.oracled(
    "q239_max_concurrency",
    """WITH iv AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('microseconds', ts)) AS t0,
      |         epoch_us(date_trunc('microseconds', ts))
      |           + CAST(floor(value * 60 * 1000000) AS BIGINT) AS t1
      |  FROM events),
      |pts AS (
      |  SELECT event_type, t0 AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT event_type, t1, -1 FROM iv),
      |c AS (
      |  SELECT event_type,
      |         sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      |  FROM pts)
      |SELECT event_type, CAST(max(live) AS BIGINT) AS max_concurrent
      |FROM c GROUP BY event_type
      |ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.events(spark, dir).select($"event_type",
      unix_micros($"ts").as("t0"),
      (unix_micros($"ts") + floor($"value" * 60 * 1000000).cast("long")).as("t1"))
    val pts = iv.select($"event_type", $"t0".as("t"), lit(1).as("delta"))
      .unionAll(iv.select($"event_type", $"t1".as("t"), lit(-1).as("delta")))
    val w = Window.partitionBy($"event_type").orderBy($"t", $"delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.select($"event_type", sum($"delta").over(w).as("live"))
      .groupBy($"event_type")
      .agg(max($"live").cast("long").as("max_concurrent"))
      .orderBy($"event_type")
  }

  /** Additive SEASONAL DECOMPOSITION, hour-of-day profile: roll events to
    * an hourly series per type, then split each hour-of-day's mean into
    * the type's global level plus a seasonal offset (classical
    * decomposition's seasonal term; Σ_k n_k·s_k = 0 by construction —
    * asserted by the oracle's math, not a separate check). The per-type
    * diurnal fingerprint q171's seasonal-naive backtest implicitly
    * exploits, materialized explicitly.
    *
    * 100 TB plan: the hourly rollup is the only row-scale hash-agg; the
    * 5×24 profile grid and per-type levels are derived from it (two more
    * tiny aggs + a broadcast join). One scan end to end. */
  val q244SeasonalDecompose: GraftQuery = GraftQuery.oracled(
    "q244_seasonal_decompose",
    """WITH hourly AS (
      |  SELECT event_type,
      |         date_trunc('hour', date_trunc('microseconds', ts)) AS h,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS vc
      |  FROM events GROUP BY 1, 2),
      |lvl AS (SELECT event_type, avg(vc) AS levelc FROM hourly GROUP BY 1),
      |prof AS (SELECT event_type, CAST(hour(h) AS INT) AS hod,
      |                avg(vc) AS hodc, CAST(count(*) AS BIGINT) AS n_obs
      |         FROM hourly GROUP BY 1, 2)
      |SELECT p.event_type, p.hod,
      |       CAST(floor(l.levelc / 100 * 10000 + 0.5) AS BIGINT) AS level_e4,
      |       CAST(floor((p.hodc - l.levelc) / 100 * 10000 + 0.5) AS BIGINT) AS seasonal_e4,
      |       p.n_obs
      |FROM prof p JOIN lvl l USING (event_type)
      |ORDER BY p.event_type, p.hod""") { (spark, dir) =>
    import spark.implicits._
    // integer-cents quantization: every partial sum is an integer < 2^53,
    // so the avgs are EXACT in any summation order on both engines — the
    // raw-double formulation flipped a round(4) boundary at sf0.1.
    // Output is FLOOR-based fixed point since r9 (the q188 discipline):
    // the sf1 sweep caught round(·,4) itself diverging cross-engine on an
    // IDENTICAL double landing at an exact .00005 boundary (Spark judges
    // the true binary via BigDecimal, DuckDB the ×10⁴-scaled double).
    // floor(x·10⁴ + 0.5) evaluates the same IEEE ops on the same double —
    // deterministic on both engines at every boundary.
    val hourly = Tables.events(spark, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(sum(round($"value" * 100).cast("long")).as("vc"))
    val lvl = hourly.groupBy($"event_type").agg(avg($"vc").as("levelc"))
    val prof = hourly
      .groupBy($"event_type", hour($"h").cast("int").as("hod"))
      .agg(avg($"vc").as("hodc"), count(lit(1)).as("n_obs"))
    prof.join(broadcast(lvl), Seq("event_type"))
      .select($"event_type", $"hod",
        floor($"levelc" / 100 * 10000 + 0.5).cast("long").as("level_e4"),
        floor(($"hodc" - $"levelc") / 100 * 10000 + 0.5).cast("long").as("seasonal_e4"),
        $"n_obs")
      .orderBy($"event_type", $"hod")
  }

  /** POSITION-BASED (U-shaped, 40/20/40) multi-touch attribution — q164's
    * linear split graded by position: the FIRST touch (discovery) and the
    * LAST touch (conversion) each take 40% of the purchase value, the
    * middle touches share the remaining 20% evenly; n=1 takes 100%, n=2
    * splits 50/50 (the standard degenerate-case convention). Positions
    * come from one row_number pass per purchase ordered by
    * (click time, event_id) — the event_id tie-break makes the first/last
    * assignment deterministic on both engines.
    *
    * 100 TB plan: identical shuffle shape to q164 — the touch join, the
    * position window, and the per-purchase count all key on user_id (the
    * window partitions are per-(user, purchase), bounded by 7-day click
    * frequency); the roll-up ends at a 10-row channel table. The position
    * weights are a projection — grading by position costs nothing over
    * the linear split. */
  val q280PositionAttribution: GraftQuery = GraftQuery.oracled(
    "q280_position_attribution",
    """WITH e AS (SELECT user_id, event_id, event_type, value, date_trunc('microseconds', ts) AS ts,
      |                  CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS channel
      |           FROM events),
      |p AS (SELECT user_id, ts AS pts, value FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id, ts AS cts, channel FROM e WHERE event_type = 'click'),
      |touch AS (SELECT p.user_id, p.pts, p.value, c.channel,
      |                 row_number() OVER (PARTITION BY p.user_id, p.pts
      |                                    ORDER BY c.cts, c.event_id) AS rn,
      |                 count(*) OVER (PARTITION BY p.user_id, p.pts) AS n
      |          FROM p JOIN c ON p.user_id = c.user_id
      |                       AND c.cts < p.pts
      |                       AND c.cts >= p.pts - INTERVAL 7 DAY)
      |SELECT channel,
      |       round(sum(value * CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
      |                              WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
      |                              WHEN rn = 1 OR rn = n THEN CAST(0.4 AS DOUBLE)
      |                              ELSE CAST(0.2 AS DOUBLE) / (n - 2) END), 2) AS attributed
      |FROM touch GROUP BY channel ORDER BY channel""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", $"value", $"ts",
        (get_json_object($"props", "$.k").cast("long") % 10).as("channel"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"ts".as("pts"), $"value")
    val c = e.filter($"event_type" === "click")
      .select($"user_id".as("c_uid"), $"event_id", $"ts".as("cts"), $"channel")
    val wPos = Window.partitionBy($"user_id", $"pts").orderBy($"cts", $"event_id")
    val wAll = Window.partitionBy($"user_id", $"pts")
    val touch = p.join(c,
        $"p_uid" === $"c_uid" &&
          $"cts" < $"pts" &&
          $"cts" >= $"pts" - expr("INTERVAL 7 DAY"))
      .select($"p_uid".as("user_id"), $"pts", $"value", $"channel", $"cts", $"event_id")
      .withColumn("rn", row_number().over(wPos))
      .withColumn("n", count(lit(1)).over(wAll))
    touch
      .withColumn("wgt",
        when($"n" === 1, lit(1.0)).when($"n" === 2, lit(0.5))
          .when($"rn" === 1 || $"rn" === $"n", lit(0.4))
          .otherwise(lit(0.2) / ($"n" - 2)))
      .groupBy($"channel")
      .agg(round(sum($"value" * $"wgt"), 2).as("attributed"))
      .orderBy($"channel")
  }

  /** ORDERED TARGET ENCODING (Prokhorenkova et al. 2018, CatBoost's
    * leakage-free categorical encoder): each event's `event_type` is
    * encoded as the smoothed mean target (value cents) of the events
    * STRICTLY BEFORE it in a random permutation —
    * te_i = (Σ_{j<i, same type} y_j + a·P) / (n_{<i} + a), a = 10,
    * P = the global mean — so no row ever sees its own target (the
    * leakage q391's matrix detects, prevented by construction). The
    * "random" permutation is the md5 coin of event_id (the repo's
    * hash-as-random-oracle trick): both engines replay the identical
    * order, making the encoder strict-oracle'd. Output restricted to
    * event_id < 3000 for the report; the encoding computes over ALL rows.
    *
    * 100 TB plan: the per-type running sums ride
    * [[TwoPhase.runningSumKeyed]] — event_type has FIVE values, so a
    * plain per-type window would serialize 20% of the corpus into one
    * task; the keyed two-phase form (local cumsums per (type, coin-bin) +
    * a (types × 256-bin) broadcast prefix) keeps every task bounded. The
    * global mean is a 1-row broadcast. */
  val q469TargetEncoding: GraftQuery = GraftQuery.oracled(
    "q469_target_encoding",
    """WITH g AS (SELECT CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(*) AS gm FROM events),
      |e AS (SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |             md5(CAST(event_id AS VARCHAR)) AS coin
      |      FROM events),
      |w AS (SELECT event_id, event_type,
      |             coalesce(sum(cents) OVER (PARTITION BY event_type ORDER BY coin, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_cents,
      |             count(*) OVER (PARTITION BY event_type ORDER BY coin, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_n
      |      FROM e)
      |SELECT w.event_id, w.event_type, CAST(w.prior_n AS BIGINT) AS prior_n,
      |       round((w.prior_cents + 10 * g.gm) / (w.prior_n + 10) / 100.0, 6) AS te
      |FROM w, g
      |WHERE w.event_id < 3000
      |ORDER BY w.event_id""") { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"),
        md5($"event_id".cast("string")).as("coin"))
    val g = ev.agg((sum($"cents").cast("double") / count(lit(1))).as("gm"))
    // md5 hex is lowercase, so the numeric value of the first two hex
    // chars is monotone in the coin's lexicographic order — a valid bin
    val bkt = conv(substring($"coin", 1, 2), 16, 10).cast("long")
    val cum = TwoPhase.runningSumKeyed(
      TwoPhase.runningSumKeyed(ev, Seq("event_type"), bkt,
        Seq($"coin", $"event_id"), $"cents", "cum_cents"),
      Seq("event_type"), bkt, Seq($"coin", $"event_id"), lit(1L), "cum_n")
    cum
      .withColumn("prior_cents", $"cum_cents" - $"cents")
      .withColumn("prior_n", $"cum_n" - 1)
      .crossJoin(broadcast(g))
      .filter($"event_id" < 3000)
      .select($"event_id", $"event_type", $"prior_n".cast("long").as("prior_n"),
        round(($"prior_cents" + lit(10) * $"gm") / ($"prior_n" + 10) / 100.0, 6)
          .as("te"))
      .orderBy($"event_id")
  }

  /** HEAVY-CHANGE DETECTION (Cormode & Muthukrishnan 2005 §4's deltoids
    * problem, exact census form): which keys' traffic changed most
    * between two adjacent periods — the drift screen run over every
    * ingest feed before retraining. Exact per-user conditional counts
    * for the two halves of the event window, top-20 movers by absolute
    * delta (unique user_id tie-break → deterministic cut), with the CMS
    * one-sided contract alongside (q136's print-both pattern): a
    * `count_min_sketch` built over the FIRST half is probed per mover
    * via the codegen [[graft.functions.CmsExpression]], and CMS never
    * under-counts, so `cms_first_ge_exact` is provably TRUE — the
    * oracle pins it, so a sketch/probe byte-path regression
    * hash-mismatches at the driver rather than only in ScalaTest.
    *
    * 100 TB plan: the census is one conditional hash-agg (map-side
    * combined, key-domain-sized); the top-20 is `orderBy().limit(20)` →
    * TakeOrderedAndProject (per-partition heaps, no global sort); the
    * sketch is the mergeable few-KB grid (only sketches travel) and its
    * probe is one codegen projection on 20 rows. At deltoid scale the
    * exact census is the verifier and the CMS pair (one per period)
    * becomes the primary — the contract column is exactly the law that
    * swap rides on. */
  val q477HeavyChange: GraftQuery = GraftQuery.oracled(
    "q477_heavy_change",
    """WITH c AS (SELECT user_id,
      |                  CAST(sum(CASE WHEN date_trunc('microseconds', ts) < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_first,
      |                  CAST(sum(CASE WHEN date_trunc('microseconds', ts) >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_second
      |           FROM events GROUP BY 1)
      |SELECT user_id, cnt_first, cnt_second,
      |       cnt_second - cnt_first AS delta,
      |       CAST(1 AS BOOLEAN) AS cms_first_ge_exact
      |FROM c
      |ORDER BY abs(cnt_second - cnt_first) DESC, user_id
      |LIMIT 20""") { (spark, dir) =>
    import spark.implicits._
    import graft.functions.CmsExpression
    val pivot = lit("2024-01-16").cast("timestamp")
    val ev = Tables.events(spark, dir)
    val skBytes = ev.filter($"ts" < pivot)
      .agg(count_min_sketch($"user_id".cast("string"), lit(1e-4), lit(0.99), lit(42))
        .as("sk"))
      .head.getAs[Array[Byte]](0)
    val movers = ev
      .groupBy($"user_id")
      .agg(sum(when($"ts" < pivot, 1L).otherwise(0L)).cast("long").as("cnt_first"),
        sum(when($"ts" >= pivot, 1L).otherwise(0L)).cast("long").as("cnt_second"))
      .withColumn("delta", $"cnt_second" - $"cnt_first")
      .orderBy(abs($"delta").desc, $"user_id")
      .limit(20)
    movers
      .select($"user_id", $"cnt_first", $"cnt_second", $"delta",
        (CmsExpression.cmsEstimate(skBytes, $"user_id".cast("string")) >= $"cnt_first")
          .as("cms_first_ge_exact"))
      .orderBy(abs($"delta").desc, $"user_id")
  }

  def all: Seq[GraftQuery] = Seq(
    q469TargetEncoding, q477HeavyChange,
    q141Funnel, q142CohortRetention, q148DecayedEngagement, q149StateIntervals,
    q156TemporalJoin, q157RollingCorr, q161ActivityStreaks, q164Attribution,
    q168MarkovTransitions, q169OhlcBars, q171SeasonalBacktest, q172BasketLift,
    q180KaplanMeier, q187IntervalOverlap, q193SessionPaths, q202EwmaMicro,
    q490NelsonAalen,
    q210Twap, q230RollingZscore, q239MaxConcurrency, q244SeasonalDecompose,
    q252SpineGaps, q257Interarrival, q258RetentionDecay, q265WindowedFunnel,
    q266JourneyRegex, q268RollingDistinctBitmask, q280PositionAttribution,
    q288ClampedBalance, q291PointInTimeFeatures, q294MarkovBacktest,
    q297DisorderAudit, q302FifoAllocation, q304LogRankTest, q325ControlChart,
    q326MarkovAttribution, q328RestatementAudit, q330RfmSegmentation,
    q336ExclusionFunnel, q337PvmDecomposition, q342TimeToConvert, q405LagXcorr,
    q407OffPolicyEval, q410ShapleyAttribution)

  /** EVENT-TIME DISORDER AUDIT — the number that TUNES `withWatermark`:
    * per event (in arrival order = event_id), its lateness is how far its
    * event time lags the running maximum event time seen so far,
    * disorder_s = (running_max(ts) − ts) in whole seconds. The output is
    * the corpus disorder distribution — late share, p50/p95/p99/max — and
    * p99 IS the watermark delay that keeps 99% of late data: too small
    * drops events (q64's late-drop), too large bloats state (q135's
    * join buffers). Integer-µs arithmetic end to end.
    *
    * 100 TB plan: one GLOBAL arrival-order cumulative max is the honest
    * formulation of cross-partition disorder — computed TWO-PHASE via
    * [[arrivalRunningMax]] (per-bin local maxima + broadcast prefix
    * offsets, q97's machinery), so no corpus-sized single-task WindowExec
    * appears in the plan (PlanAuditSpec asserts this); the percentile
    * reduction is constant-size. */
  val q297DisorderAudit: GraftQuery = GraftQuery.oracled(
    "q297_disorder_audit",
    """WITH e AS (SELECT event_id, epoch_us(date_trunc('microseconds', ts)) AS us FROM events),
      |d AS (SELECT greatest(CAST(0 AS BIGINT),
      |               max(us) OVER (ORDER BY event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us)
      |               // 1000000 AS late_s
      |      FROM e)
      |SELECT CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(CASE WHEN late_s > 0 THEN 1 END) AS BIGINT) AS n_late,
      |       CAST(floor(quantile_cont(late_s, 0.50)) AS BIGINT) AS p50_s,
      |       CAST(floor(quantile_cont(late_s, 0.95)) AS BIGINT) AS p95_s,
      |       CAST(floor(quantile_cont(late_s, 0.99)) AS BIGINT) AS p99_s,
      |       CAST(max(late_s) AS BIGINT) AS max_s
      |FROM d""") { (spark, dir) =>
    import spark.implicits._
    arrivalRunningMax(Tables.events(spark, dir)
        .select($"event_id", unix_micros($"ts").as("us")))
      .withColumn("late_s",
        floor(greatest(lit(0L), $"run_max_us" - $"us") / lit(1000000L)))
      .agg(count(lit(1)).cast("long").as("n_events"),
        count(when($"late_s" > 0, 1)).cast("long").as("n_late"),
        floor(expr("percentile(late_s, 0.50)")).cast("long").as("p50_s"),
        floor(expr("percentile(late_s, 0.95)")).cast("long").as("p95_s"),
        floor(expr("percentile(late_s, 0.99)")).cast("long").as("p99_s"),
        max($"late_s").cast("long").as("max_s"))
  }

  /** NEXT-EVENT MODEL BACKTEST — train q168's first-order Markov model on
    * a temporal prefix and measure argmax-prediction hit rate on the
    * holdout suffix, entirely in the engine: transitions before the
    * Jan-21 cutoff form the training census, the per-prev argmax (count
    * DESC, type ASC — deterministic tie-break) is the model, and every
    * holdout transition scores hit/miss against it. The majority-class
    * baseline (predict the globally most common training event) is
    * computed alongside — a model eval without a lift column over its
    * baseline is marketing, not measurement.
    *
    * 100 TB plan: one user-keyed lag window produces ALL transitions
    * (train and test split by a predicate on the SAME pass — no second
    * scan); the model table is |types|² and broadcasts; scoring is one
    * broadcast-join projection. This is exactly how sequence-model evals
    * (session next-action, churn triggers) run at fleet scale. */
  val q294MarkovBacktest: GraftQuery = GraftQuery.oracled(
    "q294_markov_backtest",
    """WITH s AS (SELECT user_id, event_type AS cur,
      |                  date_trunc('microseconds', ts) AS ts,
      |                  lag(event_type) OVER (PARTITION BY user_id
      |                    ORDER BY date_trunc('microseconds', ts), event_id) AS prev
      |           FROM events),
      |tr AS (SELECT prev, cur FROM s
      |       WHERE prev IS NOT NULL AND ts < TIMESTAMP '2024-01-21 00:00:00'),
      |te AS (SELECT prev, cur FROM s
      |       WHERE prev IS NOT NULL AND ts >= TIMESTAMP '2024-01-21 00:00:00'),
      |cnt AS (SELECT prev, cur, count(*) AS n FROM tr GROUP BY 1, 2),
      |model AS (SELECT prev, cur AS pred FROM (
      |            SELECT prev, cur, row_number() OVER (PARTITION BY prev
      |              ORDER BY n DESC, cur) AS rk FROM cnt) WHERE rk = 1),
      |base AS (SELECT cur AS majority FROM (
      |           SELECT cur, row_number() OVER (ORDER BY count(*) DESC, cur) AS rk
      |           FROM tr GROUP BY cur) WHERE rk = 1),
      |sc AS (SELECT CASE WHEN te.cur = m.pred THEN 1 ELSE 0 END AS hit,
      |              CASE WHEN te.cur = b.majority THEN 1 ELSE 0 END AS base_hit
      |       FROM te JOIN model m ON te.prev = m.prev, base b)
      |SELECT CAST(count(*) AS BIGINT) AS n_test,
      |       CAST(sum(hit) AS BIGINT) AS n_hits,
      |       CAST(floor(1000000.0 * sum(hit) / count(*)) AS BIGINT) AS hit_ppm,
      |       CAST(floor(1000000.0 * sum(base_hit) / count(*)) AS BIGINT) AS baseline_ppm
      |FROM sc""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cutoff = lit("2024-01-21 00:00:00").cast("timestamp")
    val s = Tables.events(spark, dir)
      .select($"user_id", $"event_type".as("cur"), $"ts", $"event_id")
      .withColumn("prev", lag($"cur", 1).over(wSeq))
      .filter($"prev".isNotNull)
    val tr = s.filter($"ts" < cutoff).select($"prev", $"cur")
    val te = s.filter($"ts" >= cutoff).select($"prev", $"cur")
    val cnt = tr.groupBy($"prev", $"cur").agg(count(lit(1)).as("n"))
    val model = cnt
      .withColumn("rk", row_number().over(
        Window.partitionBy($"prev").orderBy($"n".desc, $"cur")))
      .filter($"rk" === 1)
      .select($"prev", $"cur".as("pred"))
    val base = tr.groupBy($"cur").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"cur").limit(1)
      .select($"cur".as("majority"))
    te.join(broadcast(model), Seq("prev"))
      .crossJoin(broadcast(base))
      .select(when($"cur" === $"pred", 1).otherwise(0).as("hit"),
        when($"cur" === $"majority", 1).otherwise(0).as("base_hit"))
      .agg(count(lit(1)).cast("long").as("n_test"),
        sum($"hit").cast("long").as("n_hits"),
        floor(lit(1000000.0) * sum($"hit") / count(lit(1))).cast("long").as("hit_ppm"),
        floor(lit(1000000.0) * sum($"base_hit") / count(lit(1))).cast("long").as("baseline_ppm"))
  }

  /** LEAKAGE-SAFE POINT-IN-TIME training-set assembly — the feature-store
    * contract: for every label event (a purchase), features aggregate the
    * user's history STRICTLY BEFORE the label timestamp, within a 7-day
    * lookback — never at or after it (the as-of discipline that prevents
    * target leakage; an `<=` here is the classic silent train/serve skew
    * bug). One row per label: lookback view/click counts and click-spend
    * in exact cents, zero-filled when the lookback is empty so cold-start
    * labels stay in the set.
    *
    * 100 TB plan: the label×history join is user-keyed (q164's shape — the
    * 7-day bound caps per-user fan-out), one shuffle partitioning serves
    * the join and the per-label aggregate, and the feature columns are
    * map-side-combinable counts/sums. Point-in-time correctness costs a
    * predicate, not a new plan shape. */
  val q291PointInTimeFeatures: GraftQuery = GraftQuery.oracled(
    "q291_point_in_time_features",
    """WITH e AS (SELECT event_id, user_id, event_type, value, date_trunc('microseconds', ts) AS ts FROM events),
      |lab AS (SELECT event_id AS label_id, user_id, ts AS lts,
      |               CAST(round(value * 100) AS BIGINT) AS label_cents
      |        FROM e WHERE event_type = 'purchase'),
      |hist AS (SELECT l.label_id,
      |                count(CASE WHEN h.event_type = 'view' THEN 1 END) AS n_views_7d,
      |                count(CASE WHEN h.event_type = 'click' THEN 1 END) AS n_clicks_7d,
      |                coalesce(sum(CASE WHEN h.event_type = 'click'
      |                                  THEN CAST(round(h.value * 100) AS BIGINT) END), 0) AS click_spend_7d
      |         FROM lab l JOIN e h ON h.user_id = l.user_id
      |                            AND h.ts < l.lts
      |                            AND h.ts >= l.lts - INTERVAL 7 DAY
      |         GROUP BY l.label_id)
      |SELECT l.label_id, l.user_id, l.lts, l.label_cents,
      |       CAST(coalesce(h.n_views_7d, 0) AS BIGINT) AS n_views_7d,
      |       CAST(coalesce(h.n_clicks_7d, 0) AS BIGINT) AS n_clicks_7d,
      |       CAST(coalesce(h.click_spend_7d, 0) AS BIGINT) AS click_spend_7d
      |FROM lab l LEFT JOIN hist h ON l.label_id = h.label_id
      |ORDER BY l.label_id""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
    val lab = e.filter($"event_type" === "purchase")
      .select($"event_id".as("label_id"), $"user_id", $"ts".as("lts"),
        round($"value" * 100).cast("long").as("label_cents"))
    val h = e.select($"user_id".as("h_uid"), $"event_type".as("h_type"),
      $"value".as("h_value"), $"ts".as("h_ts"))
    val hist = lab.join(h,
        $"user_id" === $"h_uid" &&
          $"h_ts" < $"lts" &&
          $"h_ts" >= $"lts" - expr("INTERVAL 7 DAY"))
      .groupBy($"label_id")
      .agg(count(when($"h_type" === "view", 1)).as("n_views_7d"),
        count(when($"h_type" === "click", 1)).as("n_clicks_7d"),
        coalesce(sum(when($"h_type" === "click",
          round($"h_value" * 100).cast("long"))), lit(0L)).as("click_spend_7d"))
    lab.join(hist, Seq("label_id"), "left")
      .select($"label_id", $"user_id", $"lts", $"label_cents",
        coalesce($"n_views_7d", lit(0L)).cast("long").as("n_views_7d"),
        coalesce($"n_clicks_7d", lit(0L)).cast("long").as("n_clicks_7d"),
        coalesce($"click_spend_7d", lit(0L)).cast("long").as("click_spend_7d"))
      .orderBy($"label_id")
  }

  /** CLAMPED RUNNING BALANCE via the LINDLEY RECURSION closed form: the
    * stateful recursion b_t = max(0, b_{t−1} + x_t) (inventory that can't
    * go negative, a queue that can't have negative wait, credit that
    * can't overdraw) looks window-inexpressible — but Lindley's identity
    * rewrites it as b_t = S_t − min(0, min_{j≤t} S_j): ONE prefix sum and
    * ONE running min, both ordinary cumulative windows. Deltas are
    * purchases (+) vs views (−) in integer cents, so every intermediate
    * is integer-exact and the oracle matches bit-for-bit. Output per
    * user: final and peak balance plus how often the floor clamped.
    *
    * 100 TB plan: two cumulative frames over one (user_id)-partitioned
    * sort — the sort is reused (same window spec), per-user sequences are
    * bounded, and the per-user rollup is map-side combinable. The naive
    * alternative — a sequential loop or an order-sensitive UDAF — cannot
    * merge partial buffers; the closed form is what makes the recursion
    * distributable. (The two-sided clamp [0, C] has no such identity —
    * that one genuinely needs q66-style stateful iteration.) */
  val q288ClampedBalance: GraftQuery = GraftQuery.oracled(
    "q288_clamped_balance",
    """WITH d AS (
      |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
      |         CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT)
      |              WHEN event_type = 'view' THEN -CAST(round(value * 100) AS BIGINT)
      |              ELSE CAST(0 AS BIGINT) END AS delta
      |  FROM events),
      |s1 AS (
      |  SELECT user_id, ts, event_id, delta,
      |         sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM d),
      |s2 AS (
      |  SELECT user_id, delta,
      |         run - least(0, min(run) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS bal,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rdesc
      |  FROM s1)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(max(CASE WHEN rdesc = 1 THEN bal END) AS BIGINT) AS final_balance,
      |       CAST(max(bal) AS BIGINT) AS peak_balance,
      |       CAST(count(CASE WHEN bal = 0 AND delta < 0 THEN 1 END) AS BIGINT) AS n_floor_hits
      |FROM s2
      |GROUP BY user_id
      |ORDER BY user_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val d = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id",
        when($"event_type" === "purchase", round($"value" * 100).cast("long"))
          .when($"event_type" === "view", -round($"value" * 100).cast("long"))
          .otherwise(lit(0L)).as("delta"))
    d.withColumn("run", sum($"delta").over(wCum))
      .withColumn("bal", $"run" - least(lit(0L), min($"run").over(wCum)))
      .withColumn("rdesc", row_number().over(wDesc))
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        max(when($"rdesc" === 1, $"bal")).cast("long").as("final_balance"),
        max($"bal").cast("long").as("peak_balance"),
        count(when($"bal" === 0 && $"delta" < 0, 1)).cast("long").as("n_floor_hits"))
      .orderBy($"user_id")
  }

  /** EXACT rolling distinct over a SMALL domain via bitmasks: each
    * (user, day) folds its event types into a 5-bit mask (bit k ⇔ type k
    * seen), and the trailing-7-day distinct-type count is bit_count of the
    * OR over the day window — exact, mergeable, constant-size state. The
    * small-domain exact complement to q145's HLL rolling actives
    * (cardinality-unbounded, approximate): same plan shape, different
    * accumulator. OR-of-masks is the q150 bitmap-distinct trick carried
    * into a sliding window.
    *
    * 100 TB plan: one hash-agg to user-days (mask partial-aggregates
    * map-side via bit_or), one user-keyed RANGE window over days —
    * per-row state is one BIGINT regardless of volume. */
  val q268RollingDistinctBitmask: GraftQuery = GraftQuery.oracled(
    "q268_rolling_distinct_bitmask",
    """WITH d AS (
      |  SELECT user_id,
      |         CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d,
      |         bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |                WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END) AS mask
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, d,
      |       CAST(bit_count(bit_or(mask) OVER (
      |         PARTITION BY user_id ORDER BY d
      |         RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)) AS INT) AS distinct_types_7d
      |FROM d
      |ORDER BY user_id, d""") { (spark, dir) =>
    Tables.views(spark, dir)
    spark.sql(
      """WITH d AS (
        |  SELECT user_id,
        |         CAST(date_trunc('day', ts) AS DATE) AS d,
        |         bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |                WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END) AS mask
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d,
        |       CAST(bit_count(bit_or(mask) OVER (
        |         PARTITION BY user_id ORDER BY d
        |         RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)) AS INT) AS distinct_types_7d
        |FROM d
        |ORDER BY user_id, d""".stripMargin)
  }

  /** TIME-WINDOWED funnel — q141's strict-order funnel with a conversion
    * DEADLINE: click within 1 h of first view, purchase within 1 h of
    * that click (the marketing attribution window). Each stage is one
    * min-aggregate after an equi-join on user_id with the window as a
    * residual bound — never a per-row scan-back.
    *
    * 100 TB plan: three hash-aggs and two user-keyed joins, all on the
    * same key — one logical partitioning reused end to end (q141's
    * property, with deadlines). */
  val q265WindowedFunnel: GraftQuery = GraftQuery.oracled(
    "q265_windowed_funnel",
    """WITH v AS (SELECT user_id, min(date_trunc('microseconds', ts)) AS vt
      |           FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(date_trunc('microseconds', e.ts)) AS ct
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click'
      |        AND date_trunc('microseconds', e.ts) > v.vt
      |        AND date_trunc('microseconds', e.ts) <= v.vt + INTERVAL 1 HOUR
      |      GROUP BY 1),
      |p AS (SELECT e.user_id, min(date_trunc('microseconds', e.ts)) AS pt
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase'
      |        AND date_trunc('microseconds', e.ts) > c.ct
      |        AND date_trunc('microseconds', e.ts) <= c.ct + INTERVAL 1 HOUR
      |      GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 1 AS stage, 'view' AS name, (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_users
      |  UNION ALL SELECT 2, 'click_1h', (SELECT CAST(count(*) AS BIGINT) FROM c)
      |  UNION ALL SELECT 3, 'purchase_1h', (SELECT CAST(count(*) AS BIGINT) FROM p))
      |ORDER BY stage""") { (spark, dir) =>
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("vt"))
    val c = ev.filter($"event_type" === "click").as("e")
      .join(v, Seq("user_id"))
      .filter($"ts" > $"vt" && $"ts" <= $"vt" + expr("INTERVAL 1 HOUR"))
      .groupBy($"user_id").agg(min($"ts").as("ct"))
    val p = ev.filter($"event_type" === "purchase").as("e")
      .join(c, Seq("user_id"))
      .filter($"ts" > $"ct" && $"ts" <= $"ct" + expr("INTERVAL 1 HOUR"))
      .groupBy($"user_id").agg(min($"ts").as("pt"))
    def stage(i: Int, name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n_users"))
        .select(lit(i).as("stage"), lit(name).as("name"), $"n_users")
    stage(1, "view", v).unionAll(stage(2, "click_1h", c))
      .unionAll(stage(3, "purchase_1h", p))
      .orderBy($"stage")
  }

  /** JOURNEY REGEX matching: sessionize (30-min gap), render each session
    * as an ordered `type>type>…` string (deterministic ordered listagg,
    * q126's machinery), and classify sessions with a PATTERN — here
    * "contains view … click … purchase in order" — the mini query
    * language product analysts actually use for path questions. Census
    * output plus the top-3 most common journeys per match class.
    *
    * 100 TB plan: one user-keyed window sort (sessionize + ordered agg
    * share it), one hash-agg over sessions, a bounded top-k; the regex
    * runs once per SESSION, not per event. */
  val q266JourneyRegex: GraftQuery = GraftQuery.oracled(
    "q266_journey_regex",
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, date_trunc('microseconds', ts) AS ts,
      |         CASE WHEN epoch_us(date_trunc('microseconds', ts)) -
      |                   lag(epoch_us(date_trunc('microseconds', ts))) OVER w
      |                   > 30 * 60 * 1000000 THEN 1
      |              WHEN lag(event_id) OVER w IS NULL THEN 1
      |              ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, event_id, event_type, ts,
      |             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM flagged),
      |j AS (SELECT user_id, sid,
      |             string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
      |      FROM s GROUP BY user_id, sid),
      |m AS (SELECT journey,
      |             CASE WHEN regexp_matches(journey, 'view.*click.*purchase') THEN 1 ELSE 0 END AS matched
      |      FROM j),
      |cj AS (SELECT matched, journey, count(*) AS n,
      |              row_number() OVER (PARTITION BY matched ORDER BY count(*) DESC, journey) AS rk
      |       FROM m GROUP BY matched, journey)
      |SELECT matched, CAST(rk AS INT) AS rk, journey, CAST(n AS BIGINT) AS n_sessions
      |FROM cj WHERE rk <= 3
      |ORDER BY matched, rk""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
      .withColumn("new_session",
        when($"prev_us".isNull, 1)
          .when(unix_micros($"ts") - $"prev_us" > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .withColumn("sid", sum($"new_session").over(wRun))
    val j = s.groupBy($"user_id", $"sid")
      .agg(expr("listagg(event_type, '>') WITHIN GROUP (ORDER BY ts, event_id)").as("journey"))
    val m = j.select($"journey",
      when($"journey".rlike("view.*click.*purchase"), 1).otherwise(0).as("matched"))
    val wTop = Window.partitionBy($"matched").orderBy($"n".desc, $"journey")
    m.groupBy($"matched", $"journey").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wTop))
      .filter($"rk" <= 3)
      .select($"matched", $"rk".cast("int").as("rk"), $"journey",
        $"n".cast("long").as("n_sessions"))
      .orderBy($"matched", $"rk")
  }

  /** INTER-ARRIVAL time distribution per event_type: lag-deltas in integer
    * microseconds, summarized as p50/p90/p99 gap seconds plus the burst
    * share (gaps under 1 s) — the traffic-shape fingerprint behind
    * capacity planning and bot detection. Exact percentiles over exact
    * integer deltas; rounding only at presentation.
    *
    * 100 TB plan: one window shuffle keyed on event_type for the lag, one
    * grouped percentile agg — the same single-sort budget as every
    * rolling metric here; at extreme volume the percentile swaps to
    * approx_percentile with the plan unchanged. */
  val q257Interarrival: GraftQuery = GraftQuery.oracled(
    "q257_interarrival",
    """WITH d AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('microseconds', ts)) -
      |         lag(epoch_us(date_trunc('microseconds', ts)))
      |           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type, CAST(count(gap_us) AS BIGINT) AS n_gaps,
      |       round(quantile_cont(gap_us, 0.50) / 1000000.0, 4) AS p50_s,
      |       round(quantile_cont(gap_us, 0.90) / 1000000.0, 4) AS p90_s,
      |       round(quantile_cont(gap_us, 0.99) / 1000000.0, 4) AS p99_s,
      |       round(sum(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END) * 1.0 / count(gap_us), 4) AS burst_share
      |FROM d WHERE gap_us IS NOT NULL
      |GROUP BY event_type
      |ORDER BY event_type""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"event_type",
        (unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)).as("gap_us"))
      .filter($"gap_us".isNotNull)
      .groupBy($"event_type")
      .agg(count($"gap_us").cast("long").as("n_gaps"),
        round(expr("percentile(gap_us, 0.50)") / 1000000.0, 4).as("p50_s"),
        round(expr("percentile(gap_us, 0.90)") / 1000000.0, 4).as("p90_s"),
        round(expr("percentile(gap_us, 0.99)") / 1000000.0, 4).as("p99_s"),
        round(sum(when($"gap_us" < 1000000, 1).otherwise(0)) * lit(1.0) / count($"gap_us"), 4).as("burst_share"))
      .orderBy($"event_type")
  }

  /** COHORT DECAY RATE: fit ln(retention) ~ week_offset per cohort month
    * with the regr_slope/intercept aggregates over q142's retention
    * matrix — one number ("we lose e^slope per week") instead of a
    * matrix; the log-linear fit is exact given the exact retention
    * counts, composing three already-proven layers (cohort matrix →
    * log transform → SQL:2003 regression aggs).
    *
    * 100 TB plan: everything after the (already bounded) cohort matrix is
    * constant-size; the matrix itself is q142's one distinct-agg. */
  val q258RetentionDecay: GraftQuery = GraftQuery.oracled(
    "q258_retention_decay",
    """WITH e AS (SELECT user_id,
      |                  CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d
      |           FROM events),
      |f AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY 1),
      |m AS (SELECT f.cohort_d,
      |             CAST(date_diff('day', f.cohort_d, e.d) // 7 AS BIGINT) AS week_off,
      |             count(DISTINCT e.user_id) AS n_active
      |      FROM e JOIN f USING (user_id)
      |      GROUP BY 1, 2),
      |r AS (SELECT m.cohort_d, m.week_off,
      |             CAST(m.n_active AS DOUBLE) / m0.n_active AS retention
      |      FROM m JOIN (SELECT cohort_d, n_active FROM m WHERE week_off = 0) m0
      |        USING (cohort_d))
      |SELECT CAST(count(*) AS BIGINT) AS n_points,
      |       round(regr_slope(ln(retention), week_off), 4) AS weekly_log_decay,
      |       round(regr_intercept(ln(retention), week_off), 4) AS log_intercept,
      |       round(regr_r2(ln(retention), week_off), 4) AS r2
      |FROM r WHERE retention > 0""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
    val f = e.groupBy($"user_id").agg(min($"d").as("cohort_d"))
    val m = e.join(f, "user_id")
      .select($"cohort_d", expr("CAST(datediff(d, cohort_d) DIV 7 AS BIGINT)").as("week_off"),
        $"user_id")
      .groupBy($"cohort_d", $"week_off")
      .agg(countDistinct($"user_id").as("n_active"))
    val m0 = m.filter($"week_off" === 0)
      .select($"cohort_d", $"n_active".as("n0"))
    val r = m.join(m0, Seq("cohort_d"))
      .select(($"n_active".cast("double") / $"n0").as("retention"), $"week_off")
      .filter($"retention" > 0)
    r.agg(count(lit(1)).cast("long").as("n_points"),
      RelationalCore.stat(expr("regr_slope(ln(retention), week_off)")).as("weekly_log_decay"),
      RelationalCore.stat(expr("regr_intercept(ln(retention), week_off)")).as("log_intercept"),
      RelationalCore.stat(expr("regr_r2(ln(retention), week_off)")).as("r2"))
  }

  /** Time-spine GAP DETECTION: generate the expected hourly spine per
    * event_type from its own [min, max] activity range (`sequence` +
    * explode ≡ DuckDB `generate_series`) and anti-join the observed hours
    * — the monitoring primitive behind "sensor X went dark for N hours".
    * Census output: expected/observed/missing hours + the first dark hour
    * per type. q139's resample-ffill FILLS such gaps; this one FINDS them.
    *
    * 100 TB plan: observed hours collapse via hash-agg BEFORE the spine
    * join (bounded by hours×types, not events); per-type ranges broadcast
    * back; the spine explode is O(hours), never O(rows). */
  val q252SpineGaps: GraftQuery = GraftQuery.oracled(
    "q252_spine_gaps",
    """WITH obs AS (
      |  SELECT event_type, date_trunc('hour', date_trunc('microseconds', ts)) AS h
      |  FROM events GROUP BY 1, 2),
      |rng AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY 1),
      |spine AS (
      |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM rng),
      |miss AS (
      |  SELECT s.event_type, s.h
      |  FROM spine s LEFT JOIN obs o ON o.event_type = s.event_type AND o.h = s.h
      |  WHERE o.h IS NULL)
      |SELECT r.event_type,
      |       CAST(date_diff('hour', r.h0, r.h1) + 1 AS BIGINT) AS n_expected,
      |       (SELECT CAST(count(*) AS BIGINT) FROM obs o WHERE o.event_type = r.event_type) AS n_observed,
      |       (SELECT CAST(count(*) AS BIGINT) FROM miss m WHERE m.event_type = r.event_type) AS n_missing,
      |       (SELECT min(m.h) FROM miss m WHERE m.event_type = r.event_type) AS first_gap
      |FROM rng r
      |ORDER BY r.event_type""") { (spark, dir) =>
    import spark.implicits._
    val obs = Tables.events(spark, dir)
      .select($"event_type", date_trunc("hour", $"ts").as("h"))
      .distinct()
    val rng = obs.groupBy($"event_type").agg(min($"h").as("h0"), max($"h").as("h1"))
    val spine = rng.select($"event_type", $"h0", $"h1",
        explode(sequence($"h0", $"h1", expr("INTERVAL 1 HOUR"))).as("h"))
    val miss = spine.join(obs, Seq("event_type", "h"), "left_anti")
    val missAgg = miss.groupBy($"event_type")
      .agg(count(lit(1)).as("n_missing"), min($"h").as("first_gap"))
    val obsAgg = obs.groupBy($"event_type").agg(count(lit(1)).as("n_observed"))
    rng.join(obsAgg, Seq("event_type"), "left")
      .join(missAgg, Seq("event_type"), "left")
      .select($"event_type",
        ((unix_micros($"h1") - unix_micros($"h0")) / 3600000000L + 1).cast("long").as("n_expected"),
        coalesce($"n_observed", lit(0L)).cast("long").as("n_observed"),
        coalesce($"n_missing", lit(0L)).cast("long").as("n_missing"),
        $"first_gap")
      .orderBy($"event_type")
  }

  /** FIFO LOT ALLOCATION — match each part's outbound demand ('R' return
    * lines) against its inbound receipt lots ('N' lines) in ship-date
    * order, first-in-first-out: the cost-basis/inventory-consumption
    * operator every ledger and WMS needs, and a famously procedural
    * computation made RELATIONAL by the prefix-sum trick. Each receipt
    * occupies the quantity interval [cum−q, cum) of its part's supply
    * line; each issue occupies the same interval of the demand line; a
    * lot feeds an issue iff their intervals OVERLAP, and the allocated
    * quantity is the (exact, BIGINT) overlap length. No loop, no state:
    * FIFO falls out of interval intersection on the two prefix sums.
    *
    * 100 TB plan: two window cumsums and the allocation join ALL key on
    * `l_partkey` — one hash partitioning planned once and reused (zero
    * extra exchanges, AQE-coalesced). The overlap join is an EQUI join on
    * partkey with the interval predicate as residual; within a part the
    * match count is ≤ receipts+issues (intervals of two partitions of one
    * line can only interleave linearly), so the join output is
    * corpus-linear, never quadratic. */
  val q302FifoAllocation: GraftQuery = GraftQuery.oracled(
    "q302_fifo_allocation",
    """WITH rc AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
      |                   sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
      |                     ORDER BY l_shipdate, l_orderkey, l_linenumber
      |                     ROWS UNBOUNDED PRECEDING) AS re
      |            FROM lineitem WHERE l_returnflag = 'N'),
      |r2 AS (SELECT l_partkey, q, re - q AS rs, re FROM rc),
      |dm AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
      |              sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
      |                ORDER BY l_shipdate, l_orderkey, l_linenumber
      |                ROWS UNBOUNDED PRECEDING) AS de
      |       FROM lineitem WHERE l_returnflag = 'R'),
      |d2 AS (SELECT l_partkey, q, de - q AS ds, de FROM dm),
      |al AS (SELECT r2.l_partkey,
      |              least(r2.re, d2.de) - greatest(r2.rs, d2.ds) AS aq
      |       FROM r2 JOIN d2 ON r2.l_partkey = d2.l_partkey
      |                      AND r2.rs < d2.de AND d2.ds < r2.re),
      |rcen AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_receipts,
      |                CAST(sum(q) AS BIGINT) AS receipt_qty
      |         FROM r2 GROUP BY 1),
      |dcen AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_issues,
      |                CAST(sum(q) AS BIGINT) AS issue_qty
      |         FROM d2 GROUP BY 1),
      |acen AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_allocs,
      |                CAST(sum(aq) AS BIGINT) AS alloc_qty
      |         FROM al GROUP BY 1)
      |SELECT rcen.l_partkey, n_receipts, n_issues, receipt_qty, issue_qty,
      |       CAST(coalesce(n_allocs, 0) AS BIGINT) AS n_allocs,
      |       CAST(coalesce(alloc_qty, 0) AS BIGINT) AS alloc_qty,
      |       CAST(greatest(issue_qty - receipt_qty, 0) AS BIGINT) AS short_qty
      |FROM rcen JOIN dcen USING (l_partkey)
      |LEFT JOIN acen USING (l_partkey)
      |ORDER BY l_partkey""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_partkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      .rowsBetween(Window.unboundedPreceding, 0)
    def lots(flag: String, s: String, e: String): DataFrame =
      Tables.lineitem(spark, dir)
        .filter($"l_returnflag" === flag)
        .select($"l_partkey", $"l_quantity".cast("long").as("q"),
          $"l_shipdate", $"l_orderkey", $"l_linenumber")
        .withColumn(e, sum($"q").over(w))
        .select($"l_partkey", $"q", (col(e) - $"q").as(s), col(e))
    val r2 = lots("N", "rs", "re")
    val d2 = lots("R", "ds", "de")
    val al = r2.join(d2.withColumnRenamed("l_partkey", "pk").withColumnRenamed("q", "dq"),
        $"l_partkey" === $"pk" && $"rs" < $"de" && $"ds" < $"re")
      .select($"l_partkey", (least($"re", $"de") - greatest($"rs", $"ds")).as("aq"))
    val rcen = r2.groupBy($"l_partkey")
      .agg(count(lit(1)).cast("long").as("n_receipts"), sum($"q").cast("long").as("receipt_qty"))
    val dcen = d2.groupBy($"l_partkey")
      .agg(count(lit(1)).cast("long").as("n_issues"), sum($"q").cast("long").as("issue_qty"))
    val acen = al.groupBy($"l_partkey")
      .agg(count(lit(1)).cast("long").as("n_allocs"), sum($"aq").cast("long").as("alloc_qty"))
    rcen.join(dcen, Seq("l_partkey"))
      .join(acen, Seq("l_partkey"), "left")
      .select($"l_partkey", $"n_receipts", $"n_issues", $"receipt_qty", $"issue_qty",
        coalesce($"n_allocs", lit(0L)).cast("long").as("n_allocs"),
        coalesce($"alloc_qty", lit(0L)).cast("long").as("alloc_qty"),
        greatest($"issue_qty" - $"receipt_qty", lit(0L)).cast("long").as("short_qty"))
      .orderBy($"l_partkey")
  }

  /** LOG-RANK TEST — does survival DIFFER between two cohorts? The
    * hypothesis-test companion q180's Kaplan–Meier curve was missing
    * (Mantel 1966): with users split into md5 arms, at every death time t
    * arm A's observed deaths are compared with the expectation under the
    * null (deaths distribute proportionally to the at-risk sets),
    * χ² = (Σ(O_A − E_A))² / ΣV with the hypergeometric variance
    * V_t = d·(n_A/n)·(n_B/n)·(n−d)/(n−1). On md5 arms the statistic
    * should hover near zero — the A/A validity shape, same as q293.
    *
    * 100 TB plan: raw events collapse to ONE per-user min/max agg; the
    * whole test then runs on the duration census (hundreds of rows) —
    * conditional-sum wide layout per arm, two ordered window cumsums for
    * the at-risk sets, one scalar reduction. Identical ordered float
    * pipelines both engines. */
  val q304LogRankTest: GraftQuery = GraftQuery.oracled(
    "q304_logrank_test",
    """WITH d AS (SELECT user_id,
      |                  CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS d
      |           FROM events),
      |g AS (SELECT max(d) AS gmax FROM d),
      |u AS (SELECT user_id,
      |             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
      |                  THEN 1 ELSE 0 END AS arm_a,
      |             CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS t,
      |             CASE WHEN date_diff('day', max(d), (SELECT gmax FROM g)) >= 3
      |                  THEN 1 ELSE 0 END AS died
      |      FROM d GROUP BY user_id),
      |s AS (SELECT t,
      |             CAST(sum(arm_a) AS BIGINT) AS leave_a,
      |             CAST(sum(1 - arm_a) AS BIGINT) AS leave_b,
      |             CAST(sum(arm_a * died) AS BIGINT) AS d_a,
      |             CAST(sum((1 - arm_a) * died) AS BIGINT) AS d_b
      |      FROM u GROUP BY t),
      |r AS (SELECT t, d_a, d_b,
      |             sum(leave_a) OVER (ORDER BY t DESC) AS n_a,
      |             sum(leave_b) OVER (ORDER BY t DESC) AS n_b
      |      FROM s),
      |terms AS (SELECT d_a,
      |                 (d_a + d_b) * CAST(n_a AS DOUBLE) / (n_a + n_b) AS e_a,
      |                 CASE WHEN n_a + n_b > 1
      |                      THEN (d_a + d_b) * (CAST(n_a AS DOUBLE) / (n_a + n_b))
      |                           * (CAST(n_b AS DOUBLE) / (n_a + n_b))
      |                           * (n_a + n_b - d_a - d_b) / (n_a + n_b - 1)
      |                      ELSE 0 END AS v
      |          FROM r WHERE d_a + d_b > 0)
      |SELECT CAST((SELECT sum(arm_a) FROM u) AS BIGINT) AS n_users_a,
      |       CAST((SELECT sum(1 - arm_a) FROM u) AS BIGINT) AS n_users_b,
      |       CAST(sum(d_a) AS BIGINT) AS deaths_a,
      |       round(sum(e_a), 4) AS expected_a,
      |       round(sum(v), 4) AS variance,
      |       round((sum(d_a) - sum(e_a)) * (sum(d_a) - sum(e_a)) / sum(v), 4) AS chi2
      |FROM terms""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date(date_trunc("day", $"ts")).as("d"))
    val gmax = days.agg(max($"d").as("gmax"))
    val armA = when(
      conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 2L === 0L, 1).otherwise(0)
    val u = days.groupBy($"user_id")
      .agg(min($"d").as("d0"), max($"d").as("d1"))
      .crossJoin(broadcast(gmax))
      .select(armA.as("arm_a"),
        (datediff($"d1", $"d0") + 1).cast("long").as("t"),
        when(datediff($"gmax", $"d1") >= 3, 1).otherwise(0).as("died"))
    val users = u.agg(sum($"arm_a").cast("long").as("n_users_a"),
      sum(lit(1) - $"arm_a").cast("long").as("n_users_b"))
    val s = u.groupBy($"t").agg(
      sum($"arm_a").cast("long").as("leave_a"),
      sum(lit(1) - $"arm_a").cast("long").as("leave_b"),
      sum($"arm_a" * $"died").cast("long").as("d_a"),
      sum((lit(1) - $"arm_a") * $"died").cast("long").as("d_b"))
    val r = s.select($"t", $"d_a", $"d_b",
      sum($"leave_a").over(Window.orderBy($"t".desc)).as("n_a"),
      sum($"leave_b").over(Window.orderBy($"t".desc)).as("n_b"))
    val n = $"n_a" + $"n_b"
    val terms = r.filter($"d_a" + $"d_b" > 0)
      .select($"d_a",
        (($"d_a" + $"d_b") * $"n_a".cast("double") / n).as("e_a"),
        when(n > 1,
          ($"d_a" + $"d_b") * ($"n_a".cast("double") / n) * ($"n_b".cast("double") / n)
            * (n - $"d_a" - $"d_b") / (n - 1))
          .otherwise(lit(0.0)).as("v"))
    terms.agg(
        sum($"d_a").cast("long").as("deaths_a"),
        round(sum($"e_a"), 4).as("expected_a"),
        round(sum($"v"), 4).as("variance"),
        round((sum($"d_a") - sum($"e_a")) * (sum($"d_a") - sum($"e_a")) / sum($"v"), 4)
          .as("chi2"))
      .crossJoin(broadcast(users))
      .select($"n_users_a", $"n_users_b", $"deaths_a", $"expected_a",
        $"variance", $"chi2")
  }

  /** I-MR CONTROL CHART (Shewhart individuals chart) — statistical process
    * control over the daily value mean: center line = mean of daily means,
    * natural process limits = center ± 2.66·(mean moving range) (the
    * d₂=1.128 individuals constant), out-of-control days flagged. The SPC
    * lens differs from q230's rolling z (adaptive) and q272's CUSUM
    * (cumulative drift): fixed limits from the WHOLE baseline, the
    * ops-dashboard chart. One ordered lag for MR, two scalar broadcasts —
    * every float op runs in pinned order on both engines.
    *
    * 100 TB plan: raw rows collapse to the daily census in one
    * map-side-combined agg; everything after runs on calendar-sized data
    * (the single-partition lag over days is the right plan). */
  val q325ControlChart: GraftQuery = GraftQuery.oracled(
    "q325_control_chart",
    """WITH d AS (SELECT CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE) AS day,
      |                  avg(value) AS xbar, CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY 1),
      |m AS (SELECT day, xbar, n,
      |             abs(xbar - lag(xbar) OVER (ORDER BY day)) AS mr
      |      FROM d),
      |c AS (SELECT avg(xbar) AS center, avg(mr) AS mrbar FROM m)
      |SELECT m.day, m.n, round(m.xbar, 4) AS xbar, round(m.mr, 4) AS mr,
      |       round(c.center, 4) AS center,
      |       round(c.center + 2.66 * c.mrbar, 4) AS ucl,
      |       round(c.center - 2.66 * c.mrbar, 4) AS lcl,
      |       CASE WHEN m.xbar > c.center + 2.66 * c.mrbar
      |              OR m.xbar < c.center - 2.66 * c.mrbar THEN 1 ELSE 0 END AS out_of_control
      |FROM m, c
      |ORDER BY day""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.events(spark, dir)
      .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
      .agg(avg($"value").as("xbar"), count(lit(1)).cast("long").as("n"))
    // calendar-sized frame: the single-partition lag is the right plan
    val m = d.withColumn("mr", abs($"xbar" - lag($"xbar", 1).over(Window.orderBy($"day"))))
    val c = m.agg(avg($"xbar").as("center"), avg($"mr").as("mrbar"))
    val ucl = $"center" + lit(2.66) * $"mrbar"
    val lcl = $"center" - lit(2.66) * $"mrbar"
    m.crossJoin(broadcast(c))
      .select($"day", $"n", round($"xbar", 4).as("xbar"), round($"mr", 4).as("mr"),
        round($"center", 4).as("center"), round(ucl, 4).as("ucl"),
        round(lcl, 4).as("lcl"),
        when($"xbar" > ucl || $"xbar" < lcl, 1).otherwise(0).as("out_of_control"))
      .orderBy($"day")
  }

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014) — the
    * data-driven alternative to q164/q280's positional heuristics: model
    * journeys as a first-order chain over touch states (START → touches →
    * CONV on first purchase, NULL on abandonment), then credit each
    * channel by its REMOVAL EFFECT — how much conversion probability
    * vanishes if every transition into that channel is redirected to
    * NULL. 1 − v_c/v₀, normalized to shares.
    *
    * 100 TB plan: the row-scale work is ONE windowed transition build per
    * user (one shuffle) and a (src,dst) census hash-agg; the chain math
    * (value iteration to absorption, once per channel) runs driver-side
    * on the ≤(k+2)² census — the same census-to-driver E3 boundary as
    * q290's MMR and q312's argmax: only state-pair counts ever leave the
    * cluster.
    *
    * STRICT since r8 (formerly rows-only): values are ×10⁹ FIXED-POINT
    * BIGINTs (q155's pattern) — per-src update `(Σ n·v(dst)) div tot(src)`
    * sums integer PRODUCTS before the one division, so every round is
    * summation-order-free integer arithmetic, and 60 REPLAYED rounds (not
    * convergence detection) define the result. The DuckDB oracle reruns
    * the identical census build and the identical 60 rounds in ONE
    * recursive CTE with the scenario (no-removal + one per channel) as a
    * carried grouping column; CONV/NULL absorption is encoded as n=1
    * self-loops so one aggregated recursive term updates every state.
    * Outputs are integer ppm on both sides — nothing float anywhere. */
  private[operators] def markovRemoval(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val fp = events.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(min(struct($"ts", $"event_id")).as("fpk"))
    val kept = events.join(broadcast(fp), Seq("user_id"), "left")
      .filter($"fpk".isNull || struct($"ts", $"event_id") <= $"fpk")
      .withColumn("state",
        when($"event_type" === "purchase", "CONV").otherwise($"event_type"))
    val seq = kept
      .withColumn("next", lead($"state", 1).over(w))
      .withColumn("is_first", lag($"state", 1).over(w).isNull)
    val trans = seq.filter($"is_first").select(lit("START").as("src"), $"state".as("dst"))
      .unionAll(seq.filter($"next".isNotNull).select($"state".as("src"), $"next".as("dst")))
      .unionAll(seq.filter($"next".isNull && $"state" =!= "CONV")
        .select($"state".as("src"), lit("NULL").as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
      .collect() // E3: the (src,dst) census — ≤(channels+3)² scalar rows
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val channels = trans.flatMap(t => Seq(t._1, t._2))
      .filter(s => s != "START" && s != "CONV" && s != "NULL").distinct.sorted
    val outgoing = trans.groupBy(_._1)
    // ×10⁹ fixed-point value iteration, 60 REPLAYED rounds (the round count
    // is part of the definition, not a convergence heuristic — the oracle
    // replays the same 60). Products before the single per-src division
    // keep every round exact-integer: n ≤ ~10⁷ census cells × v ≤ 10⁹
    // stays far inside Long. Transitions INTO the removed channel
    // contribute 0 (mass redirects to NULL).
    val FP = 1000000000L
    def convProbFp(removed: Option[String]): Long = {
      var v = Map("CONV" -> FP, "NULL" -> 0L).withDefaultValue(0L)
      for (_ <- 1 to 60) {
        val nv = outgoing.map { case (src, ts) =>
          val tot = ts.map(_._3).sum
          src -> ts.map { case (_, dst, n) =>
            if (removed.contains(dst)) 0L else n * v(dst)
          }.sum / tot
        }
        v = (nv ++ Map("CONV" -> FP, "NULL" -> 0L)).withDefaultValue(0L)
      }
      v("START")
    }
    val v0 = convProbFp(None)
    val effects = channels.map { c =>
      // monotone: the removed-channel map is pointwise ≤ the full map and
      // floor preserves ≤, so vc ≤ v0 and the clamp is belt-and-braces
      val e = if (v0 > 0) math.max(0L, (v0 - convProbFp(Some(c))) * 1000000L / v0)
              else 0L
      (c, e)
    }
    val tot = effects.map(_._2).sum
    spark.createDataFrame(effects.map { case (c, e) =>
      (c, e, if (tot > 0) e * 1000000L / tot else 0L)
    }).toDF("channel", "removal_effect_ppm", "attribution_ppm")
      .orderBy($"channel")
  }

  /** WATERMARK RESTATEMENT AUDIT — q297 picks the watermark delay; this
    * prices it: for a candidate delay of 60 s, which HOURLY aggregates
    * would a streaming append-mode job emit INCOMPLETE (events arriving
    * later than the watermark tolerates get dropped from their window),
    * and by how much? Per event-time hour: total events, events whose
    * arrival lateness (q297's running-max definition over arrival order)
    * exceeds the delay, the dropped share in ppm, and the restated flag.
    * The batch dashboard this query feeds is the ground truth the
    * streaming one drifts from — THE number to staple to any
    * watermark-tuning decision.
    *
    * 100 TB plan: the lateness pass is q297's two-phase
    * [[arrivalRunningMax]] (per-bin maxima + broadcast prefix offsets —
    * no corpus-sized single-task window; shard by ingest file when
    * arrival order is per-shard); everything after is one calendar-keyed
    * hash-agg. */
  val q328RestatementAudit: GraftQuery = GraftQuery.oracled(
    "q328_restatement_audit",
    """WITH e AS (SELECT event_id, date_trunc('microseconds', ts) AS ts,
      |                  epoch_us(date_trunc('microseconds', ts)) AS us
      |           FROM events),
      |d AS (SELECT ts, greatest(CAST(0 AS BIGINT),
      |               max(us) OVER (ORDER BY event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us) AS late_us
      |      FROM e)
      |SELECT date_trunc('hour', ts) AS hour,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(CASE WHEN late_us > 60000000 THEN 1 END) AS BIGINT) AS n_dropped,
      |       CAST(floor(1000000.0 * count(CASE WHEN late_us > 60000000 THEN 1 END)
      |                  / count(*)) AS BIGINT) AS dropped_ppm,
      |       CASE WHEN count(CASE WHEN late_us > 60000000 THEN 1 END) > 0
      |            THEN 1 ELSE 0 END AS restated
      |FROM d
      |GROUP BY 1
      |ORDER BY hour""") { (spark, dir) =>
    import spark.implicits._
    val lateDropped = count(when($"late_us" > 60000000L, 1))
    arrivalRunningMax(Tables.events(spark, dir)
        .select($"event_id", $"ts", unix_micros($"ts").as("us")))
      .withColumn("late_us", greatest(lit(0L), $"run_max_us" - $"us"))
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        lateDropped.cast("long").as("n_dropped"),
        floor(lit(1000000.0) * lateDropped / count(lit(1))).cast("long").as("dropped_ppm"),
        when(lateDropped > 0, 1).otherwise(0).as("restated"))
      .orderBy($"hour")
  }

  /** RFM SEGMENTATION — the lifecycle-marketing workhorse: every
    * purchasing user scored on Recency / Frequency / Monetary quintiles
    * (ntile with FULLY PINNED tie-breaks — user_id breaks every tie, so
    * the quintile edges are deterministic on both engines) and mapped to
    * the classic segment grid (champion / new / at-risk / hibernating /
    * regular). Monetary is exact integer cents; recency is whole days
    * against the corpus horizon.
    *
    * 100 TB plan: one purchase-filtered user census (map-side combined),
    * then THREE TWO-PHASE quintile cuts over the user census
    * (TwoPhase.rowNumber, buckets = the small-integer recency/frequency
    * keys and a cents bin): each axis ranks per-bin in parallel with a
    * bins-sized broadcast offsets table — no single-task census sort on
    * any axis, at any user count. */
  val q330RfmSegmentation: GraftQuery = GraftQuery.oracled(
    "q330_rfm_segmentation",
    """WITH g AS (SELECT max(CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE)) AS gmax FROM events),
      |u AS (SELECT user_id,
      |             date_diff('day', max(CAST(date_trunc('day', date_trunc('microseconds', ts)) AS DATE)), (SELECT gmax FROM g)) AS recency_d,
      |             CAST(count(*) AS BIGINT) AS frequency,
      |             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |      FROM events WHERE event_type = 'purchase'
      |      GROUP BY user_id),
      |s AS (SELECT *,
      |             ntile(5) OVER (ORDER BY recency_d DESC, user_id) AS r,
      |             ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f,
      |             ntile(5) OVER (ORDER BY monetary_cents ASC, user_id) AS m
      |      FROM u)
      |SELECT user_id, CAST(recency_d AS BIGINT) AS recency_d, frequency, monetary_cents,
      |       r, f, m,
      |       CASE WHEN r >= 4 AND f >= 4 THEN 'champion'
      |            WHEN r >= 4 AND f <= 2 THEN 'new'
      |            WHEN r <= 2 AND f >= 4 THEN 'at_risk'
      |            WHEN r <= 2 AND f <= 2 THEN 'hibernating'
      |            ELSE 'regular' END AS segment
      |FROM s
      |ORDER BY user_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
    val gmax = days.agg(max(to_date(date_trunc("day", $"ts"))).as("gmax"))
    val u = days.filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(max(to_date(date_trunc("day", $"ts"))).as("last_d"),
        count(lit(1)).cast("long").as("frequency"),
        sum(round($"value" * 100).cast("long")).cast("long").as("monetary_cents"))
      .crossJoin(broadcast(gmax))
      .select($"user_id", datediff($"gmax", $"last_d").cast("long").as("recency_d"),
        $"frequency", $"monetary_cents")
    // three two-phase quintile cuts over the user census: each axis buckets
    // by a sort-monotone key (negated days for the DESC axis), ranks
    // per-bin in parallel, and recovers ntile(5) from (rn, N)
    def quintile(df: DataFrame, bucket: Column, sort: Seq[Column], out: String) =
      TwoPhase.rowNumber(df, bucket, sort, out = "__rn", totalOut = Some("__n"))
        .withColumn(out, TwoPhase.ntileFromRn($"__rn", $"__n", 5))
        .drop("__rn", "__n")
    val s3 = quintile(
      quintile(
        quintile(u, -$"recency_d", Seq($"recency_d".desc, $"user_id"), "r"),
        $"frequency", Seq($"frequency".asc, $"user_id"), "f"),
      floor($"monetary_cents" / 100000.0),
      Seq($"monetary_cents".asc, $"user_id"), "m")
    val s = s3
    s.select($"user_id", $"recency_d", $"frequency", $"monetary_cents",
        $"r", $"f", $"m",
        when($"r" >= 4 && $"f" >= 4, "champion")
          .when($"r" >= 4 && $"f" <= 2, "new")
          .when($"r" <= 2 && $"f" >= 4, "at_risk")
          .when($"r" <= 2 && $"f" <= 2, "hibernating")
          .otherwise("regular").as("segment"))
      .orderBy($"user_id")
  }

  /** EXCLUSION FUNNEL — the funnel predicate q141/q265 cannot state: "view
    * then purchase WITHOUT an error in between". Sequence-pattern
    * matching with a negative constraint: per user, the anchor is the
    * earliest view, the goal the first purchase after it, and the
    * conversion only COUNTS CLEAN if no error event falls strictly inside
    * the (anchor, goal) interval — the segmentation every funnel gets
    * wrong when it filters error-users globally instead of testing the
    * interval.
    *
    * 100 TB plan: three filtered min-aggs and one interval-membership
    * LEFT join, all keyed on user_id — the q141 shuffle shape plus one
    * co-partitioned probe; the error stream is filtered before the join
    * so the probe side carries only error rows. */
  val q336ExclusionFunnel: GraftQuery = GraftQuery.oracled(
    "q336_exclusion_funnel",
    """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
      |a AS (SELECT user_id, min(ts) AS ta FROM e WHERE event_type = 'view' GROUP BY 1),
      |b AS (SELECT e.user_id, min(e.ts) AS tb
      |      FROM e JOIN a ON e.user_id = a.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > a.ta
      |      GROUP BY 1),
      |x AS (SELECT DISTINCT e.user_id
      |      FROM e JOIN a ON e.user_id = a.user_id
      |             JOIN b ON e.user_id = b.user_id
      |      WHERE e.event_type = 'error' AND e.ts > a.ta AND e.ts < b.tb)
      |SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_anchored,
      |       CAST((SELECT count(*) FROM b) AS BIGINT) AS n_converted_raw,
      |       CAST((SELECT count(*) FROM x) AS BIGINT) AS n_excluded,
      |       CAST((SELECT count(*) FROM b) - (SELECT count(*) FROM x) AS BIGINT) AS n_converted_clean""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val a = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("ta"))
    val b = e.filter($"event_type" === "purchase")
      .join(a, Seq("user_id"))
      .filter($"ts" > $"ta")
      .groupBy($"user_id").agg(min($"ts").as("tb"))
    val x = e.filter($"event_type" === "error")
      .join(a, Seq("user_id")).join(b, Seq("user_id"))
      .filter($"ts" > $"ta" && $"ts" < $"tb")
      .select($"user_id").distinct()
    val ca = a.agg(count(lit(1)).cast("long").as("n_anchored"))
    val cb = b.agg(count(lit(1)).cast("long").as("n_converted_raw"))
    val cx = x.agg(count(lit(1)).cast("long").as("n_excluded"))
    broadcast(ca).crossJoin(broadcast(cb)).crossJoin(broadcast(cx))
      .select($"n_anchored", $"n_converted_raw", $"n_excluded",
        ($"n_converted_raw" - $"n_excluded").cast("long").as("n_converted_clean"))
  }

  /** PRICE-VOLUME-MIX (PVM) DECOMPOSITION — the FP&A bridge: revenue
    * moved Δ between two periods; how much was PRICE (same units, new
    * price: (p₂−p₁)·q₂) vs VOLUME (old price, changed units: p₁·(q₂−q₁))?
    * Per brand, with exact integer-cent revenue and integer quantities,
    * the two effects sum EXACTLY to the delta (algebraic identity — the
    * output proves it instead of footnoting it). Brands traded in only
    * one period report NULL effects (no own-price to decompose against)
    * but their delta still appears — dropped rows are how bridges stop
    * adding up.
    *
    * 100 TB plan: one conditional hash-agg per brand over the period
    * predicate (map-side combined, the scan reads each row once), then
    * census algebra. The period split is a projection, never a self-join
    * of two period scans. */
  val q337PvmDecomposition: GraftQuery = GraftQuery.oracled(
    "q337_pvm_decomposition",
    """WITH li AS (SELECT p.p_brand AS brand,
      |                   CASE WHEN l.l_shipdate < TIMESTAMP '1998-06-01 00:00:00' THEN 1 ELSE 2 END AS period,
      |                   CAST(l.l_quantity AS BIGINT) AS q,
      |                   CAST(round(l.l_extendedprice * 100) AS BIGINT) AS rc
      |            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |g AS (SELECT brand,
      |             CAST(sum(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT) AS q1,
      |             CAST(sum(CASE WHEN period = 1 THEN rc ELSE 0 END) AS BIGINT) AS r1,
      |             CAST(sum(CASE WHEN period = 2 THEN q ELSE 0 END) AS BIGINT) AS q2,
      |             CAST(sum(CASE WHEN period = 2 THEN rc ELSE 0 END) AS BIGINT) AS r2
      |      FROM li GROUP BY 1)
      |SELECT brand, q1, q2, r1 AS rev1_cents, r2 AS rev2_cents,
      |       CAST(r2 - r1 AS BIGINT) AS delta_cents,
      |       CASE WHEN q1 > 0 AND q2 > 0
      |            THEN round((CAST(r2 AS DOUBLE) / q2 - CAST(r1 AS DOUBLE) / q1) * q2 / 100, 2) END AS price_effect,
      |       CASE WHEN q1 > 0 AND q2 > 0
      |            THEN round(CAST(r1 AS DOUBLE) / q1 * (q2 - q1) / 100, 2) END AS volume_effect
      |FROM g
      |ORDER BY brand""") { (spark, dir) =>
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .select($"p_brand".as("brand"),
        when($"l_shipdate" < lit("1998-06-01 00:00:00").cast("timestamp"), 1)
          .otherwise(2).as("period"),
        $"l_quantity".cast("long").as("q"),
        round($"l_extendedprice" * 100).cast("long").as("rc"))
    val g = li.groupBy($"brand")
      .agg(sum(when($"period" === 1, $"q").otherwise(0L)).cast("long").as("q1"),
        sum(when($"period" === 1, $"rc").otherwise(0L)).cast("long").as("r1"),
        sum(when($"period" === 2, $"q").otherwise(0L)).cast("long").as("q2"),
        sum(when($"period" === 2, $"rc").otherwise(0L)).cast("long").as("r2"))
    val both = $"q1" > 0 && $"q2" > 0
    g.select($"brand", $"q1", $"q2", $"r1".as("rev1_cents"), $"r2".as("rev2_cents"),
        ($"r2" - $"r1").cast("long").as("delta_cents"),
        when(both, round(($"r2".cast("double") / $"q2" - $"r1".cast("double") / $"q1")
          * $"q2" / 100, 2)).as("price_effect"),
        when(both, round($"r1".cast("double") / $"q1" * ($"q2" - $"q1") / 100, 2))
          .as("volume_effect"))
      .orderBy($"brand")
  }

  /** TIME-TO-CONVERT DISTRIBUTION — q336 counts conversions; this times
    * them: per user, minutes from first view to first subsequent
    * purchase, summarized as exact quartiles plus an hour-bucketed
    * histogram share (the latency view growth teams act on — "half
    * convert within X, the tail never will"). Integer-minute durations
    * keep every quantile input exact.
    *
    * 100 TB plan: two filtered min-aggs keyed on user (the q141 shape),
    * one projection to integer minutes, one exact-percentile agg + one
    * bucket census — nothing beyond user-keyed shuffles. */
  val q342TimeToConvert: GraftQuery = GraftQuery.oracled(
    "q342_time_to_convert",
    """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
      |a AS (SELECT user_id, min(ts) AS ta FROM e WHERE event_type = 'view' GROUP BY 1),
      |b AS (SELECT e.user_id, min(e.ts) AS tb
      |      FROM e JOIN a ON e.user_id = a.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > a.ta GROUP BY 1),
      |d AS (SELECT (epoch_us(tb) - epoch_us(ta)) // 60000000 AS mins
      |      FROM a JOIN b USING (user_id))
      |SELECT CAST(count(*) AS BIGINT) AS n_converted,
      |       CAST(floor(quantile_cont(mins, 0.25)) AS BIGINT) AS p25_min,
      |       CAST(floor(quantile_cont(mins, 0.50)) AS BIGINT) AS p50_min,
      |       CAST(floor(quantile_cont(mins, 0.90)) AS BIGINT) AS p90_min,
      |       CAST(count(CASE WHEN mins < 60 THEN 1 END) AS BIGINT) AS n_within_1h,
      |       CAST(count(CASE WHEN mins >= 1440 THEN 1 END) AS BIGINT) AS n_over_1d
      |FROM d""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val a = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("ta"))
    val b = e.filter($"event_type" === "purchase")
      .join(a, Seq("user_id")).filter($"ts" > $"ta")
      .groupBy($"user_id").agg(min($"ts").as("tb"))
    a.join(b, Seq("user_id"))
      .select(expr("(unix_micros(tb) - unix_micros(ta)) div 60000000").as("mins"))
      .agg(count(lit(1)).cast("long").as("n_converted"),
        floor(expr("percentile(mins, 0.25)")).cast("long").as("p25_min"),
        floor(expr("percentile(mins, 0.50)")).cast("long").as("p50_min"),
        floor(expr("percentile(mins, 0.90)")).cast("long").as("p90_min"),
        count(when($"mins" < 60, 1)).cast("long").as("n_within_1h"),
        count(when($"mins" >= 1440, 1)).cast("long").as("n_over_1d"))
  }

  /** Removal-effect attribution over the events journey log — see
    * [[markovRemoval]] for the fixed-point replay contract the oracle
    * mirrors (identical census build, identical 60 integer rounds). */
  val q326MarkovAttribution: GraftQuery = GraftQuery.oracled(
    "q326_markov_attribution",
    """WITH RECURSIVE
      |e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id, event_type FROM events),
      |fpk AS (SELECT user_id, ts AS fts, event_id AS fid
      |        FROM (SELECT user_id, ts, event_id,
      |                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |              FROM e WHERE event_type = 'purchase')
      |        WHERE rn = 1),
      |kept AS (SELECT e.user_id, e.ts, e.event_id,
      |                CASE WHEN e.event_type = 'purchase' THEN 'CONV' ELSE e.event_type END AS state
      |         FROM e LEFT JOIN fpk USING (user_id)
      |         WHERE fpk.user_id IS NULL OR (e.ts, e.event_id) <= (fts, fid)),
      |sq AS (SELECT user_id, state,
      |              lead(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
      |              lag(state)  OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_first
      |       FROM kept),
      |tr0 AS (SELECT 'START' AS src, state AS dst FROM sq WHERE is_first
      |        UNION ALL SELECT state, nxt FROM sq WHERE nxt IS NOT NULL
      |        UNION ALL SELECT state, 'NULL' FROM sq WHERE nxt IS NULL AND state <> 'CONV'),
      |tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM tr0 GROUP BY 1, 2
      |       UNION ALL SELECT 'CONV', 'CONV', CAST(1 AS BIGINT)
      |       UNION ALL SELECT 'NULL', 'NULL', CAST(1 AS BIGINT)),
      |tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS t FROM tr GROUP BY 1),
      |states AS (SELECT DISTINCT src AS state FROM tr),
      |chans AS (SELECT state AS ch FROM states WHERE state NOT IN ('START', 'CONV', 'NULL')),
      |scen AS (SELECT 'NONE' AS scenario UNION ALL SELECT ch FROM chans),
      |it AS (
      |  SELECT s.scenario, st.state,
      |         CAST(CASE WHEN st.state = 'CONV' THEN 1000000000 ELSE 0 END AS BIGINT) AS v,
      |         0 AS i
      |  FROM states st CROSS JOIN scen s
      |  UNION ALL
      |  SELECT it.scenario, t.src,
      |         CAST(sum(CASE WHEN t.dst = it.scenario THEN 0 ELSE t.n * it.v END) // tt.t AS BIGINT),
      |         it.i + 1
      |  FROM it JOIN tr t ON t.dst = it.state JOIN tot tt ON tt.src = t.src
      |  WHERE it.i < 60
      |  GROUP BY it.scenario, t.src, tt.t, it.i),
      |v0 AS (SELECT v FROM it WHERE i = 60 AND scenario = 'NONE' AND state = 'START'),
      |eff AS (SELECT ch AS channel,
      |               CASE WHEN v0.v > 0
      |                    THEN greatest(CAST(0 AS BIGINT), CAST(((v0.v - itc.v) * 1000000) // v0.v AS BIGINT))
      |                    ELSE CAST(0 AS BIGINT) END AS removal_effect_ppm
      |        FROM chans JOIN it itc ON itc.scenario = ch AND itc.state = 'START' AND itc.i = 60
      |        CROSS JOIN v0),
      |te AS (SELECT CAST(sum(removal_effect_ppm) AS BIGINT) AS t FROM eff)
      |SELECT channel, removal_effect_ppm,
      |       CASE WHEN te.t > 0 THEN CAST((removal_effect_ppm * 1000000) // te.t AS BIGINT)
      |            ELSE CAST(0 AS BIGINT) END AS attribution_ppm
      |FROM eff CROSS JOIN te ORDER BY channel""") { (spark, dir) =>
    markovRemoval(Tables.events(spark, dir).select(
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("event_id"),
      org.apache.spark.sql.functions.col("event_type")))
  }

  /** LEAD–LAG CROSS-CORRELATION SWEEP — which signal leads which: Pearson
    * correlation between the hourly click series and the hourly purchase
    * series at every shift ∈ [−3, +3] hours, with the argmax flagged (ties
    * to the smallest lag). Distinct from q157's rolling same-hour
    * correlation: this sweeps the ALIGNMENT to find the delay at which the
    * two series co-move — the classic "do clicks convert with a 2-hour
    * lag?" diagnostic. Both series live on the full min→max hour spine
    * (missing hours count 0 — correlations are over the calendar, not just
    * observed hours). All Pearson moments are exact BIGINT sums; r is one
    * quotient of exactly-derived doubles, so the per-lag values and the
    * argmax flag are bit-reproducible cross-engine.
    *
    * 100 TB plan: the corpus is scanned once into an hour-level census
    * (calendar-sized, ~10³–10⁵ rows/decade); the 7-lag sweep self-joins
    * only the census. The spine explode and lag join never touch row-scale
    * data; moments are map-side-combinable integer aggs. */
  val q405LagXcorr: GraftQuery = GraftQuery.oracled(
    "q405_lag_xcorr",
    """WITH e AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS eh, event_type
      |           FROM events WHERE event_type IN ('click', 'purchase')),
      |bounds AS (SELECT min(eh) AS h0, max(eh) AS h1 FROM e),
      |spine AS (SELECT unnest(generate_series(h0, h1)) AS eh FROM bounds),
      |x AS (SELECT eh, CAST(count(*) AS BIGINT) AS c FROM e WHERE event_type = 'click' GROUP BY 1),
      |y AS (SELECT eh, CAST(count(*) AS BIGINT) AS c FROM e WHERE event_type = 'purchase' GROUP BY 1),
      |s AS (SELECT spine.eh, COALESCE(x.c, 0) AS x, COALESCE(y.c, 0) AS y
      |      FROM spine LEFT JOIN x USING (eh) LEFT JOIN y USING (eh)),
      |lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
      |m AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.y) AS BIGINT) AS sy,
      |             CAST(sum(a.x * b.y) AS BIGINT) AS sxy,
      |             CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
      |             CAST(sum(b.y * b.y) AS BIGINT) AS syy
      |      FROM lags l JOIN s a ON true JOIN s b ON b.eh = a.eh + l.lag
      |      GROUP BY l.lag),
      |r AS (SELECT lag, n,
      |             CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
      |                  THEN CAST(n * sxy - sx * sy AS DOUBLE)
      |                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |                  ELSE NULL END AS r
      |      FROM m)
      |SELECT lag, n, round(r, 6) AS r,
      |       CASE WHEN r IS NOT NULL
      |                  AND CAST(row_number() OVER (ORDER BY r DESC NULLS LAST, lag) AS BIGINT) = 1
      |            THEN 1 ELSE 0 END AS is_best
      |FROM r
      |ORDER BY lag""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select((unix_timestamp(date_trunc("hour", $"ts")) / 3600).cast("long").as("eh"),
        $"event_type")
    val bounds = e.agg(min($"eh").as("h0"), max($"eh").as("h1"))
    val spine = bounds.select(explode(sequence($"h0", $"h1")).as("eh"))
    val x = e.filter($"event_type" === "click").groupBy($"eh")
      .agg(count(lit(1)).cast("long").as("xc"))
    val y = e.filter($"event_type" === "purchase").groupBy($"eh")
      .agg(count(lit(1)).cast("long").as("yc"))
    // hour census: calendar-sized (≤ ~720 rows here) — broadcast both sides
    val s = spine.join(x, Seq("eh"), "left").join(y, Seq("eh"), "left")
      .select($"eh", coalesce($"xc", lit(0L)).as("x"), coalesce($"yc", lit(0L)).as("y"))
      .localCheckpoint(true)
    val lags = spark.range(-3, 4).select($"id".cast("int").as("lag"))
    val m = lags.crossJoin(s.as("a"))
      .join(broadcast(s.as("b")), $"b.eh" === $"a.eh" + $"lag")
      .groupBy($"lag")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"a.x").cast("long").as("sx"), sum($"b.y").cast("long").as("sy"),
        sum($"a.x" * $"b.y").cast("long").as("sxy"),
        sum($"a.x" * $"a.x").cast("long").as("sxx"),
        sum($"b.y" * $"b.y").cast("long").as("syy"))
    val r = m.select($"lag", $"n",
      when(($"n" * $"sxx" - $"sx" * $"sx") > 0 && ($"n" * $"syy" - $"sy" * $"sy") > 0,
        ($"n" * $"sxy" - $"sx" * $"sy").cast("double")
          / sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")
            * ($"n" * $"syy" - $"sy" * $"sy").cast("double")))
        .as("r"))
    import org.apache.spark.sql.expressions.Window
    // 7-row lag census — the global window is census-sized by construction
    r.withColumn("rn", row_number().over(Window.orderBy($"r".desc_nulls_last, $"lag")))
      .select($"lag", $"n", round($"r", 6).as("r"),
        when($"r".isNotNull && $"rn" === 1, 1).otherwise(0).as("is_best"))
      .orderBy($"lag")
  }

  /** OFF-POLICY EVALUATION — IPS / SNIPS / effective sample size (Horvitz &
    * Thompson 1952; Swaminathan & Joachims 2015's self-normalized variant):
    * what value would a NEW action policy have earned on the logged event
    * stream, without running it. The log is modeled as a uniform logging
    * policy π₀(a)=1/5 over the 5 event types; the target policy π₁
    * re-weights actions by fixed preferences {purchase:4, signup:2,
    * click:1, view:1, error:0}/8. Per row the importance weight is the
    * rational 5w/8, so every estimator is a ratio of exact BIGINT sums of
    * (weight × value-cents): the naive mean, the IPS estimate Σρr/n, the
    * SNIPS estimate Σρr/Σρ, and ESS = (Σρ)²/Σρ² — each one division of
    * exactly-derived integers, bit-reproducible cross-engine. Off-support
    * rows (π₁=0: the target never takes 'error') are counted explicitly —
    * the diagnostic that tells you when IPS is extrapolating.
    *
    * 100 TB plan: ONE map-side projection + one global integer moments
    * agg over the log — no join, no shuffle beyond the single partial-agg
    * merge; the estimator is a scan-shaped O(n) pipeline. */
  val q407OffPolicyEval: GraftQuery = GraftQuery.oracled(
    "q407_offpolicy_eval",
    """WITH e AS (SELECT event_type,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |                  CASE event_type WHEN 'purchase' THEN 4 WHEN 'signup' THEN 2
      |                                  WHEN 'click' THEN 1 WHEN 'view' THEN 1
      |                                  ELSE 0 END AS w
      |           FROM events),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(cents) AS BIGINT) AS sc,
      |             CAST(sum(w * cents) AS BIGINT) AS swc,
      |             CAST(sum(w) AS BIGINT) AS sw,
      |             CAST(sum(w * w) AS BIGINT) AS sww,
      |             CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_offsupport
      |      FROM e)
      |SELECT n, n_offsupport,
      |       round(CAST(sc AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6) AS naive_value,
      |       round(CAST(5 * swc AS DOUBLE) / CAST(n * 800 AS DOUBLE), 6) AS ips_value,
      |       round(CAST(swc AS DOUBLE) / CAST(sw * 100 AS DOUBLE), 6) AS snips_value,
      |       round(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE), 2) AS ess
      |FROM m""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir).select(
      floor($"value" * 100 + 0.5).cast("long").as("cents"),
      when($"event_type" === "purchase", 4L).when($"event_type" === "signup", 2L)
        .when($"event_type" === "click", 1L).when($"event_type" === "view", 1L)
        .otherwise(0L).as("w"))
    e.agg(count(lit(1)).cast("long").as("n"),
      sum($"cents").cast("long").as("sc"),
      sum($"w" * $"cents").cast("long").as("swc"),
      sum($"w").cast("long").as("sw"),
      sum($"w" * $"w").cast("long").as("sww"),
      sum(when($"w" === 0, 1).otherwise(0)).cast("long").as("n_offsupport"))
      .select($"n", $"n_offsupport",
        round($"sc".cast("double") / ($"n" * 100).cast("double"), 6).as("naive_value"),
        round((lit(5) * $"swc").cast("double") / ($"n" * 800).cast("double"), 6).as("ips_value"),
        round($"swc".cast("double") / ($"sw" * 100).cast("double"), 6).as("snips_value"),
        round(($"sw" * $"sw").cast("double") / $"sww".cast("double"), 2).as("ess"))
  }

  /** SHAPLEY-VALUE CHANNEL ATTRIBUTION (Shapley 1953, applied to marketing
    * touch-sets) — the third attribution lens next to q280's position rules
    * and q326's Markov removal effects: each non-purchase channel i is
    * credited its average marginal contribution
    * Σ_S |S|!(n−1−|S|)!/n! · (v(S∪{i}) − v(S)) over all subsets S of the
    * other channels, where v(S) is the conversion rate of users whose
    * pre-purchase touch-set is EXACTLY S (absent cells ⇒ v=0, the standard
    * empty-coalition convention). With 4 touch channels the game is a
    * 16-cell census: characteristic values are single integer divisions,
    * factorial weights are literal rationals, and each channel's Σ over
    * its 8 subsets is an ordered fold — bit-reproducible cross-engine.
    * Touches are events STRICTLY before the user's first purchase ts
    * (non-converters contribute their full history).
    *
    * 100 TB plan: one user-keyed min-agg (first purchase) + one co-
    * partitioned bitmask census agg; the Shapley enumeration runs on the
    * 2ⁿ-cell census (n = channels, a catalog constant), never row-scale —
    * same E3 shape as q326's Markov chain. */
  val q410ShapleyAttribution: GraftQuery = GraftQuery.oracled(
    "q410_shapley_attribution",
    """WITH e AS (SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events),
      |fp AS (SELECT user_id, min(ts) AS pts FROM e WHERE event_type = 'purchase' GROUP BY 1),
      |touch AS (SELECT e.user_id,
      |                 CASE e.event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
      |                                   WHEN 'signup' THEN 4 WHEN 'error' THEN 8
      |                                   ELSE 0 END AS bit
      |          FROM e LEFT JOIN fp ON fp.user_id = e.user_id
      |          WHERE e.event_type <> 'purchase' AND (fp.pts IS NULL OR e.ts < fp.pts)),
      |um AS (SELECT t.user_id, CAST(sum(DISTINCT t.bit) AS BIGINT) AS mask,
      |              CAST(max(CASE WHEN fp.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS conv
      |       FROM touch t LEFT JOIN fp ON fp.user_id = t.user_id
      |       GROUP BY t.user_id),
      |cells AS (SELECT mask, CAST(count(*) AS BIGINT) AS users,
      |                 CAST(sum(conv) AS BIGINT) AS convs
      |          FROM um GROUP BY mask),
      |v AS (SELECT mask, users, convs,
      |             CAST(convs AS DOUBLE) / CAST(users AS DOUBLE) AS v FROM cells),
      |players AS (SELECT unnest([1, 2, 4, 8]) AS bit),
      |subsets AS (SELECT p.bit, s.i AS smask
      |            FROM players p, (SELECT unnest(generate_series(0, 15)) AS i) s
      |            WHERE (s.i & p.bit) = 0),
      |terms AS (SELECT sub.bit, sub.smask,
      |                 (CASE bit_count(sub.smask) WHEN 0 THEN CAST(6 AS DOUBLE) / 24
      |                       WHEN 1 THEN CAST(2 AS DOUBLE) / 24
      |                       WHEN 2 THEN CAST(2 AS DOUBLE) / 24
      |                       ELSE CAST(6 AS DOUBLE) / 24 END)
      |                 * (COALESCE(vw.v, CAST(0 AS DOUBLE)) - COALESCE(vo.v, CAST(0 AS DOUBLE))) AS term
      |          FROM subsets sub
      |          LEFT JOIN v vw ON vw.mask = sub.smask + sub.bit
      |          LEFT JOIN v vo ON vo.mask = sub.smask),
      |shap AS (SELECT bit, list_sum(list(term ORDER BY smask)) AS phi
      |         FROM terms GROUP BY bit)
      |SELECT CASE bit WHEN 1 THEN 'click' WHEN 2 THEN 'view'
      |                WHEN 4 THEN 'signup' ELSE 'error' END AS channel,
      |       round(phi, 6) AS shapley
      |FROM shap
      |ORDER BY channel""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val fp = e.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"ts").as("pts"))
    val touch = e.filter($"event_type" =!= "purchase")
      .join(fp, Seq("user_id"), "left")
      .filter($"pts".isNull || $"ts" < $"pts")
      .select($"user_id",
        when($"event_type" === "click", 1L).when($"event_type" === "view", 2L)
          .when($"event_type" === "signup", 4L).when($"event_type" === "error", 8L)
          .otherwise(0L).as("bit"))
    val um = touch.join(fp.select($"user_id", lit(1L).as("isConv")), Seq("user_id"), "left")
      .groupBy($"user_id")
      .agg(sum_distinct($"bit").cast("long").as("mask"),
        max(coalesce($"isConv", lit(0L))).as("conv"))
    val v = um.groupBy($"mask")
      .agg(count(lit(1)).cast("long").as("users"), sum($"conv").cast("long").as("convs"))
      .select($"mask", ($"convs".cast("double") / $"users".cast("double")).as("v"))
      .localCheckpoint(true) // 16-cell census
    val players = Seq(1L, 2L, 4L, 8L).toDF("bit")
    val subsets = players
      .crossJoin(spark.range(0, 16).select($"id".as("smask")))
      .filter(expr("smask & bit") === 0)
    val weight = when(expr("bit_count(smask)") === 0 || expr("bit_count(smask)") === 3,
      lit(6.0) / lit(24.0)).otherwise(lit(2.0) / lit(24.0))
    val terms = subsets
      .join(broadcast(v.select($"mask".as("wmask"), $"v".as("vw"))),
        $"wmask" === $"smask" + $"bit", "left")
      .join(broadcast(v.select($"mask".as("omask"), $"v".as("vo"))),
        $"omask" === $"smask", "left")
      .select($"bit", $"smask",
        (weight * (coalesce($"vw", lit(0.0)) - coalesce($"vo", lit(0.0)))).as("term"))
    def orderedSum(key: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, vv) => acc + vv)
    terms.groupBy($"bit").agg(orderedSum($"smask", $"term").as("phi"))
      .select(
        when($"bit" === 1, "click").when($"bit" === 2, "view")
          .when($"bit" === 4, "signup").otherwise("error").as("channel"),
        round($"phi", 6).as("shapley"))
      .orderBy($"channel")
  }
}
