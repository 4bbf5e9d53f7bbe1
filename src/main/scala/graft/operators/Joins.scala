package graft.operators

import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.sources.Tables
import RelationalCore.money

/** SURVEY.md §2.3 — every join shape the star schema supports.
  *
  * Scale discipline: dimension tables (`region` 5, `nation` 25, `supplier`,
  * `customer`) are `broadcast()`-hinted so the fact-table scan never
  * shuffles for them — at 100 TB the lineitem side stays partition-local
  * while dims replicate. Non-equi joins are expressed as *binned equi-joins*
  * (bucket key + neighbor explode + residual predicate) so they shuffle-join
  * instead of falling into BroadcastNestedLoop/cartesian. The as-of join is
  * a single-shuffle union-window formulation, not a per-row lookup.
  */
object Joins {

  /** TPC-H Q5-shaped star chain: fact ⋈ orders ⋈ customer ⋈ nation ⋈ region
    * with all dims broadcast. One shuffle for the lineitem⋈orders equi-join;
    * everything downstream is broadcast-local.
    *
    * Revenue is EXACT-INTEGER since r9: the r9 sf1 sweep caught the float
    * formulation sum(price·(1−disc)) drifting by one rounded cent at 10×
    * rows (summation-order divergence — the first scale where the double
    * sum left the half-ulp safety of round(·,2)). Prices and discounts are
    * exact 2-dp decimals, so revenue·10⁴ = Σ cents·(100 − disc_pct) is one
    * BIGINT per group (≲2.4e17 even at 100 TB nation-rollups). Since r10
    * the RELEASED value is integer too: half-up cents via
    * (sum_bp + 50) div 100 — r9 still released round(sum_bp/10⁴, 2), whose
    * .005 boundary (bp sum ending in 50) is the documented class where
    * Spark (BigDecimal HALF_UP) and DuckDB (scaled-double) disagree on the
    * identical double (the q244 failure mode). No float touches the
    * answer at any scale. */
  val q12StarJoin: GraftQuery = GraftQuery.oracled(
    "q12_star_join",
    """SELECT n_name,
      |       CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
      |                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS BIGINT) AS revenue_cents,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""") { (spark, dir) =>
    import spark.implicits._
    val revBp = floor($"l_extendedprice" * 100 + 0.5).cast("long") *
      (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01 00:00:00"))
            && $"o_orderdate" < to_timestamp(lit("1998-01-01 00:00:00"))),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(revBp).as("rev_bp"), count(lit(1)).as("n_lines"))
      .select($"n_name", expr("(rev_bp + 50) div 100").as("revenue_cents"),
        $"n_lines")
      .orderBy($"n_name")
  }

  /** TPC-H Q3-shaped shipping priority: filtered dims, grouped revenue,
    * deterministic global top-10 (TakeOrderedAndProject — no full sort at
    * scale). */
  val q13ShippingPriority: GraftQuery = GraftQuery.oracled(
    "q13_shipping_priority",
    """SELECT l_orderkey,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""") { (spark, dir) =>
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" > to_timestamp(lit("1996-03-15 00:00:00")))
      .join(Tables.orders(spark, dir)
          .filter($"o_orderdate" < to_timestamp(lit("1998-03-15 00:00:00"))),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")),
        $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(money(sum($"l_extendedprice" * (lit(1) - $"l_discount"))).as("revenue"))
      .select($"l_orderkey", $"revenue", $"o_orderdate", $"o_orderpriority")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** Left outer join keeping order-less entities, with outer-side null
    * repair (`coalesce`). Uses the sparse supplier⋈nation direction so the
    * outer side is genuinely unmatched at small sf. */
  val q14LeftOuter: GraftQuery = GraftQuery.oracled(
    "q14_left_outer",
    """SELECT n_nationkey, n_name,
      |       count(s_suppkey) AS n_suppliers,
      |       round(coalesce(sum(s_acctbal), 0), 2) AS total_bal
      |FROM nation
      |LEFT JOIN supplier ON n_nationkey = s_nationkey
      |GROUP BY n_nationkey, n_name
      |ORDER BY n_nationkey""") { (spark, dir) =>
    import spark.implicits._
    Tables.nation(spark, dir)
      .join(Tables.supplier(spark, dir), $"n_nationkey" === $"s_nationkey", "left_outer")
      .groupBy($"n_nationkey", $"n_name")
      .agg(count($"s_suppkey").as("n_suppliers"),
        money(coalesce(sum($"s_acctbal"), lit(0))).as("total_bal"))
      .orderBy($"n_nationkey")
  }

  /** Full outer join of two per-nation profiles (customer counts vs supplier
    * counts) — nulls possible on either side at small sf. */
  val q15FullOuter: GraftQuery = GraftQuery.oracled(
    "q15_full_outer",
    """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
      |     s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
      |SELECT coalesce(c.nk, s.nk) AS nationkey,
      |       coalesce(n_cust, 0) AS n_cust,
      |       coalesce(n_supp, 0) AS n_supp
      |FROM c FULL OUTER JOIN s ON c.nk = s.nk
      |ORDER BY nationkey""") { (spark, dir) =>
    import spark.implicits._
    val c = Tables.customer(spark, dir).groupBy($"c_nationkey".as("cnk")).agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, dir).groupBy($"s_nationkey".as("snk")).agg(count(lit(1)).as("n_supp"))
    c.join(s, $"cnk" === $"snk", "full_outer")
      .select(coalesce($"cnk", $"snk").as("nationkey"),
        coalesce($"n_cust", lit(0)).as("n_cust"),
        coalesce($"n_supp", lit(0)).as("n_supp"))
      .orderBy($"nationkey")
  }

  /** Left semi join (EXISTS): orders having at least one near-max-quantity
    * line. No payload from the build side → semi-join, not inner+distinct. */
  val q16SemiJoin: GraftQuery = GraftQuery.oracled(
    "q16_semi_join",
    """SELECT o_orderkey, o_orderstatus
      |FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
      |ORDER BY o_orderkey""") { (spark, dir) =>
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir).filter($"l_quantity" > 45),
        $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_orderstatus")
      .orderBy($"o_orderkey")
  }

  /** Left anti join (NOT EXISTS): parts never shipped with a max discount. */
  val q17AntiJoin: GraftQuery = GraftQuery.oracled(
    "q17_anti_join",
    """SELECT p_partkey, p_name
      |FROM part
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_discount >= 0.09)
      |ORDER BY p_partkey""") { (spark, dir) =>
    import spark.implicits._
    Tables.part(spark, dir)
      .join(Tables.lineitem(spark, dir).filter($"l_discount" >= 0.09),
        $"p_partkey" === $"l_partkey", "left_anti")
      .select($"p_partkey", $"p_name")
      .orderBy($"p_partkey")
  }

  /** Explicit cross join of two small dims (only ever safe when both sides
    * are broadcast-small; Catalyst plans BroadcastNestedLoop). */
  val q18CrossJoin: GraftQuery = GraftQuery.oracled(
    "q18_cross_join",
    """SELECT r_name, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""") { (spark, dir) =>
    import spark.implicits._
    Tables.region(spark, dir).select($"r_name")
      .crossJoin(broadcast(Tables.nation(spark, dir).select($"n_name")))
      .orderBy($"r_name", $"n_name")
  }

  /** Range (theta) join, scale-safe formulation: |s_acctbal - c_acctbal| ≤ 10
    * rewritten as an equi-join on a bucketed key (width = band) with the
    * probe side exploded to its 3 neighboring buckets, then the exact
    * residual predicate. Turns an O(n·m) BNL into a shuffle hash join —
    * the 100 TB-safe shape. Oracle states the naive theta join; results are
    * identical by construction. */
  val q19RangeJoinBinned: GraftQuery = GraftQuery.oracled(
    "q19_range_join_binned",
    """SELECT s_suppkey,
      |       count(*) AS n_matches,
      |       round(sum(c_acctbal), 2) AS matched_bal
      |FROM supplier JOIN customer
      |  ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""") { (spark, dir) =>
    import spark.implicits._
    val band = 10.0
    val s = Tables.supplier(spark, dir)
      .select($"s_suppkey", $"s_acctbal",
        explode(array(lit(-1), lit(0), lit(1))).as("nb"))
      .withColumn("bucket", floor($"s_acctbal" / band) + $"nb")
    val c = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_acctbal", floor($"c_acctbal" / band).as("bucket"))
    s.join(c, Seq("bucket"))
      .filter($"c_acctbal" >= $"s_acctbal" - band && $"c_acctbal" <= $"s_acctbal" + band)
      .groupBy($"s_suppkey")
      .agg(count(lit(1)).as("n_matches"), money(sum($"c_acctbal")).as("matched_bal"))
      .orderBy($"s_suppkey")
  }

  /** As-of join: for each event, the latest order of that user with
    * o_orderdate ≤ ts. Spark lacks the primitive; the scale-safe formulation
    * is a tagged UNION of both sides + one window pass per key — a single
    * shuffle, no per-row lookups (SURVEY.md §2.3). The oracle states the
    * identical window formulation so tie-breaks agree exactly. */
  val q20AsofJoin: GraftQuery = GraftQuery.oracled(
    "q20_asof_join",
    """WITH u AS (
      |  SELECT o_custkey AS k, o_orderdate AS t, 0 AS tag,
      |         o_orderkey, NULL::BIGINT AS event_id
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, date_trunc('microseconds', ts), 1, NULL, event_id FROM events
      |), w AS (
      |  SELECT *, last_value(o_orderkey IGNORE NULLS) OVER (
      |    PARTITION BY k ORDER BY t, tag, o_orderkey NULLS FIRST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
      |  FROM u
      |)
      |SELECT event_id, k AS user_id, asof_orderkey
      |FROM w WHERE tag = 1 AND asof_orderkey IS NOT NULL
      |ORDER BY event_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(spark, dir)
      .select($"o_custkey".as("k"), $"o_orderdate".as("t"), lit(0).as("tag"),
        $"o_orderkey", lit(null).cast("long").as("event_id"))
    val ev = Tables.events(spark, dir)
      .select($"user_id".as("k"), $"ts".as("t"), lit(1).as("tag"),
        lit(null).cast("long").as("o_orderkey"), $"event_id")
    val w = Window.partitionBy($"k")
      .orderBy($"t".asc, $"tag".asc, $"o_orderkey".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.union(ev)
      .withColumn("asof_orderkey", last($"o_orderkey", ignoreNulls = true).over(w))
      .filter($"tag" === 1 && $"asof_orderkey".isNotNull)
      .select($"event_id", $"k".as("user_id"), $"asof_orderkey")
      .orderBy($"event_id")
  }

  /** Self equi-join with a time band: pairs of events by the same user
    * within 5 minutes — the equi key (user_id) carries the shuffle, the band
    * is a residual predicate (no BNL). */
  val q21SelfJoinBand: GraftQuery = GraftQuery.oracled(
    "q21_self_join_band",
    """SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_id < b.event_id
      | AND date_trunc('microseconds', b.ts) >= date_trunc('microseconds', a.ts)
      | AND date_trunc('microseconds', b.ts) <= date_trunc('microseconds', a.ts) + INTERVAL 5 MINUTE
      |GROUP BY 1, 2
      |ORDER BY type_a, type_b""") { (spark, dir) =>
    import spark.implicits._
    val e = Tables.events(spark, dir).select($"user_id", $"event_id", $"ts", $"event_type")
    val a = e.toDF("user_id", "event_id_a", "ts_a", "type_a")
    val b = e.toDF("user_id", "event_id_b", "ts_b", "type_b")
    a.join(b, Seq("user_id"))
      .filter($"event_id_a" < $"event_id_b"
        && $"ts_b" >= $"ts_a"
        && $"ts_b" <= $"ts_a" + expr("INTERVAL 5 MINUTE"))
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"type_a", $"type_b")
  }

  /** Bloom-pruned semi-join: build a 1%-fpp Bloom filter over the URGENT
    * orders' keys (driver-built KB-sized sketch, one pass over the small
    * side), probe it MAP-SIDE on lineitem via the codegen'd
    * `graft_bloom_contains` expression, then finish with the exact semi
    * join — the filter only prunes, false positives die in the join, so the
    * result is byte-identical to the plain semi join the oracle runs.
    *
    * 100 TB plan: this is the shuffle-volume cutter for selective
    * fact-to-dim semi joins — with ~20% of orders URGENT, ~80% of the fact
    * table is dropped at the scan side and never enters the exchange.
    * Spark's adaptive `runtime.bloomFilter` rewrite does this only when
    * stats clear its thresholds; the explicit operator guarantees it. */
  val q165BloomSemiJoin: GraftQuery = GraftQuery.oracled(
    "q165_bloom_semi_join",
    """SELECT l_returnflag,
      |       CAST(count(*) AS BIGINT) AS n,
      |       round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""") { (spark, dir) =>
    import spark.implicits._
    import graft.functions.BloomExpression
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    val bytes = BloomExpression.buildLongFilter(urgent, "o_orderkey",
      expected = urgent.count())
    Tables.lineitem(spark, dir)
      .filter(BloomExpression.bloomContains(bytes, $"l_orderkey"))
      .join(urgent, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).cast("long").as("n"),
        round(sum($"l_extendedprice"), 2).as("revenue"))
      .orderBy($"l_returnflag")
  }

  /** NEAREST-event join (bidirectional temporal nearest): each view pairs
    * with the same user's closest purchase within ±30 min by absolute time
    * distance — q20's as-of join looks only BACKWARD; "nearest" must also
    * look forward and break the backward/forward tie (backward wins, then
    * the side-appropriate id). Implemented as a BINNED equi-join (q19's
    * pattern): views probe their own 30-min bucket ±1, so candidates meet
    * on (user_id, bucket) — never a non-equi BNL — and one `min_by` over
    * (|Δt|, direction, tie-key) selects the winner. All integer µs.
    *
    * 100 TB plan: probe expansion is a fixed 3×; the join is hash-keyed on
    * (user, bucket) with per-bucket candidate counts bounded by event rate
    * × window; the argmin is a map-side-combinable hash agg keyed by the
    * probe id. */
  val q224NearestEventJoin: GraftQuery = GraftQuery.oracled(
    "q224_nearest_event_join",
    """WITH v AS (SELECT user_id, event_id AS view_id,
      |                  epoch_us(date_trunc('microseconds', ts)) AS vus
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id,
      |             epoch_us(date_trunc('microseconds', ts)) AS pus
      |      FROM events WHERE event_type = 'purchase'),
      |cand AS (SELECT v.view_id, p.purchase_id,
      |                abs(p.pus - v.vus) AS adist_us,
      |                CASE WHEN p.pus <= v.vus THEN 0 ELSE 1 END AS fwd
      |         FROM v JOIN p ON v.user_id = p.user_id
      |          AND abs(p.pus - v.vus) <= 1800000000),
      |r AS (SELECT view_id, purchase_id, adist_us,
      |             row_number() OVER (PARTITION BY view_id
      |               ORDER BY adist_us, fwd,
      |                        CASE WHEN fwd = 0 THEN -purchase_id ELSE purchase_id END) AS rn
      |      FROM cand)
      |SELECT view_id, purchase_id, CAST(adist_us AS BIGINT) AS adist_us
      |FROM r WHERE rn = 1
      |ORDER BY view_id""") { (spark, dir) =>
    import spark.implicits._
    val bucketUs = 1800L * 1000000
    val e = Tables.events(spark, dir)
    val views = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), unix_micros($"ts").as("vus"))
    val purch = e.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), unix_micros($"ts").as("pus"),
        (unix_micros($"ts") / bucketUs).cast("long").as("bucket"))
    val probes = views
      .withColumn("nb", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("bucket", ($"vus" / bucketUs).cast("long") + $"nb")
    probes.join(purch, Seq("user_id", "bucket"))
      .withColumn("adist_us", abs($"pus" - $"vus"))
      .filter($"adist_us" <= bucketUs)
      .withColumn("fwd", when($"pus" <= $"vus", 0).otherwise(1))
      .withColumn("tie", when($"fwd" === 0, -$"purchase_id").otherwise($"purchase_id"))
      .groupBy($"view_id")
      .agg(min_by(struct($"purchase_id", $"adist_us"),
        struct($"adist_us", $"fwd", $"tie")).as("best"))
      .select($"view_id", $"best.purchase_id".as("purchase_id"),
        $"best.adist_us".as("adist_us"))
      .orderBy($"view_id")
  }

  /** NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): the join predicate
    * under which NULL keys MATCH each other instead of silently dropping —
    * the semantics every changelog/reconcile join needs for nullable
    * business keys (a plain `=` would lose the NULL bucket on both sides,
    * and an outer join would fabricate unmatched rows instead of pairing
    * the NULL groups). Orders carry a nullable derived key
    * (`nullif(o_orderstatus, 'P')`); the build side is the census of that
    * same key. Every order — including the NULL-key ones — matches exactly
    * one census row, so `n_orders = census_n` per group is the self-check
    * the output exposes.
    *
    * 100 TB plan: `<=>` is a hash-joinable equality in Catalyst (NULLs hash
    * to one bucket) — the plan is the same broadcast/shuffled hash join as
    * `=`, NOT a nested loop; the NULL bucket is a potential skew key, which
    * is exactly when q70's salting applies. */
  val q276NullSafeJoin: GraftQuery = GraftQuery.oracled(
    "q276_null_safe_join",
    """WITH o AS (SELECT nullif(o_orderstatus, 'P') AS st, o_totalprice FROM orders),
      |census AS (SELECT st, CAST(count(*) AS BIGINT) AS census_n FROM o GROUP BY st)
      |SELECT coalesce(o.st, '<null>') AS status_key,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       any_value(census.census_n) AS census_n,
      |       round(sum(o.o_totalprice), 2) AS total_price
      |FROM o JOIN census ON o.st IS NOT DISTINCT FROM census.st
      |GROUP BY 1
      |ORDER BY status_key""") { (spark, dir) =>
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select(nullif($"o_orderstatus", lit("P")).as("st"), $"o_totalprice")
    val census = o.groupBy($"st")
      .agg(count(lit(1)).cast("long").as("census_n"))
    o.as("o").join(broadcast(census).as("c"), $"o.st" <=> $"c.st")
      .groupBy(coalesce($"o.st", lit("<null>")).as("status_key"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        any_value($"census_n").as("census_n"),
        money(sum($"o_totalprice")).as("total_price"))
      .orderBy($"status_key")
  }

  /** CUSTOMER-360 ENTITY ASSEMBLY — the wide single-row-per-entity view a
    * warehouse serves to every downstream team: demographics (nation),
    * commerce (orders census), and behavior (events census, keyed by the
    * user_id↔custkey bridge q313 discovered) stitched with LEFT joins and
    * explicit COALESCE defaults — absence of activity is data (zero), not
    * NULL. A deterministic integer health score (order activity + recent
    * engagement − error pressure) makes the assembly a decisioning input,
    * not just a join demo.
    *
    * 100 TB plan: every branch pre-aggregates to one row per key BEFORE
    * joining (never join raw fact tables then aggregate — the classic
    * fan-out-then-dedup bug), so the three joins are 1:1 on custkey;
    * nation broadcasts. One shuffle per census + co-partitioned joins. */
  val q332Customer360: GraftQuery = GraftQuery.oracled(
    "q332_customer360",
    """WITH oc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
      |            FROM orders GROUP BY 1),
      |ec AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |              CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_errors,
      |              CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases
      |       FROM events GROUP BY 1)
      |SELECT c.c_custkey, c.c_name, n.n_name AS nation, c.c_mktsegment,
      |       CAST(coalesce(oc.n_orders, 0) AS BIGINT) AS n_orders,
      |       CAST(coalesce(oc.spend_cents, 0) AS BIGINT) AS spend_cents,
      |       CAST(coalesce(ec.n_events, 0) AS BIGINT) AS n_events,
      |       CAST(coalesce(ec.n_purchases, 0) AS BIGINT) AS n_purchases,
      |       CAST(coalesce(ec.n_errors, 0) AS BIGINT) AS n_errors,
      |       CAST(least(coalesce(oc.n_orders, 0), 50) * 2
      |            + least(coalesce(ec.n_purchases, 0), 100)
      |            - least(coalesce(ec.n_errors, 0), 50) AS BIGINT) AS health_score
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN oc ON c.c_custkey = oc.o_custkey
      |LEFT JOIN ec ON c.c_custkey = ec.user_id
      |ORDER BY c.c_custkey""") { (spark, dir) =>
    import spark.implicits._
    val oc = Tables.orders(spark, dir).groupBy($"o_custkey")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(round($"o_totalprice" * 100).cast("long")).cast("long").as("spend_cents"))
    val ec = Tables.events(spark, dir).groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        count(when($"event_type" === "error", 1)).cast("long").as("n_errors"),
        count(when($"event_type" === "purchase", 1)).cast("long").as("n_purchases"))
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .join(oc, $"c_custkey" === $"o_custkey", "left")
      .join(ec, $"c_custkey" === $"user_id", "left")
      .select($"c_custkey", $"c_name", $"n_name".as("nation"), $"c_mktsegment",
        coalesce($"n_orders", lit(0L)).cast("long").as("n_orders"),
        coalesce($"spend_cents", lit(0L)).cast("long").as("spend_cents"),
        coalesce($"n_events", lit(0L)).cast("long").as("n_events"),
        coalesce($"n_purchases", lit(0L)).cast("long").as("n_purchases"),
        coalesce($"n_errors", lit(0L)).cast("long").as("n_errors"),
        (least(coalesce($"n_orders", lit(0L)), lit(50L)) * 2
          + least(coalesce($"n_purchases", lit(0L)), lit(100L))
          - least(coalesce($"n_errors", lit(0L)), lit(50L))).cast("long").as("health_score"))
      .orderBy($"c_custkey")
  }

  /** MARKET-SHARE STAR CHAIN (TPC-H Q8 shape): per order year, the ppm of
    * gross revenue supplied from the ASIA region — a five-table chain
    * (lineitem → orders for the year, lineitem → supplier → nation →
    * region for the origin) with a conditional share aggregate. Revenue
    * is EXACT integer 10⁻⁴-dollar units (price cents × (100 −
    * discount %)), so the share division runs on identical BIGINT
    * operands in both engines.
    *
    * 100 TB plan: supplier/nation/region collapse to ONE broadcast
    * (supplier → is_asia flag, dims are tiny by star-schema contract);
    * orders joins on the fact's l_orderkey hash partitioning; the final
    * agg is per-year — dashboard-sized. One shuffle for the orders join
    * is the entire data motion. */
  val q362MarketShare: GraftQuery = GraftQuery.oracled(
    "q362_market_share",
    """WITH sup AS (SELECT s.s_suppkey,
      |                    CASE WHEN r.r_name = 'ASIA' THEN 1 ELSE 0 END AS is_asia
      |             FROM supplier s
      |             JOIN nation n ON s.s_nationkey = n.n_nationkey
      |             JOIN region r ON n.n_regionkey = r.r_regionkey),
      |rev AS (SELECT year(o.o_orderdate) AS yr,
      |               CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_u,
      |               sup.is_asia
      |        FROM lineitem l
      |        JOIN orders o ON l.l_orderkey = o.o_orderkey
      |        JOIN sup ON l.l_suppkey = sup.s_suppkey)
      |SELECT CAST(yr AS BIGINT) AS yr,
      |       CAST(sum(rev_u) AS BIGINT) AS total_rev_u,
      |       CAST(sum(CASE WHEN is_asia = 1 THEN rev_u ELSE 0 END) AS BIGINT) AS asia_rev_u,
      |       CAST(1000000 * sum(CASE WHEN is_asia = 1 THEN rev_u ELSE 0 END)
      |            // sum(rev_u) AS BIGINT) AS asia_share_ppm
      |FROM rev
      |GROUP BY yr
      |ORDER BY yr""") { (spark, dir) =>
    import spark.implicits._
    val sup = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), $"s_nationkey" === $"n_nationkey")
      .join(Tables.region(spark, dir), $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", when($"r_name" === "ASIA", 1).otherwise(0).as("is_asia"))
    val asiaRev = sum(when($"is_asia" === 1, $"rev_u").otherwise(0L))
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey",
        (round($"l_extendedprice" * 100).cast("long")
          * (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_u"))
      .join(Tables.orders(spark, dir).select($"o_orderkey", year($"o_orderdate").as("yr")),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .groupBy($"yr".cast("long").as("yr"))
      .agg(sum($"rev_u").cast("long").as("total_rev_u"),
        asiaRev.cast("long").as("asia_rev_u"),
        // DECIMAL(38,0) for the ×10⁶ numerator: yearly cent-unit sums reach
        // ~10¹⁴ at sf0.1, so the bigint product would overflow (ANSI mode
        // faults); DuckDB's HUGEINT sum widens implicitly — this is the
        // explicit Spark twin of that widening
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) " +
          "* CAST(sum(CASE WHEN is_asia = 1 THEN rev_u ELSE 0 END) AS DECIMAL(38,0))) " +
          "div CAST(sum(rev_u) AS DECIMAL(38,0)) AS BIGINT)")
          .as("asia_share_ppm"))
      .orderBy($"yr")
  }

  /** JOIN-STRATEGY HINTS as a tested contract (SURVEY §2.3's "broadcast
    * join" row generalized to the full hint surface): the SAME
    * orders⋈customer rollup planned three ways — BROADCAST,
    * SHUFFLE_MERGE, SHUFFLE_HASH — with the physical operator REQUIRED
    * in-query (the q194 self-assertion pattern: a hint Catalyst silently
    * ignores is a 100 TB incident, not a preference). All three must
    * produce identical results; the broadcast variant is the emitted,
    * oracle'd one.
    *
    * 100 TB note: BROADCAST is only correct while the dim fits the
    * driver/executor memory budget — the other two hints are what you
    * reach for when it stops fitting (SHUFFLE_HASH for skew-free keys,
    * merge for sorted/bucketed layouts). This entry pins that all three
    * paths stay semantically interchangeable. */
  val q379JoinHints: GraftQuery = GraftQuery.oracled(
    "q379_join_hints",
    """SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey
      |ORDER BY c_nationkey""") { (spark, dir) =>
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select($"o_custkey", round($"o_totalprice" * 100).cast("long").as("cents"))
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    def rollup(hint: String) = orders
      .join(cust.hint(hint), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum($"cents").cast("long").as("cents"))
      .orderBy($"c_nationkey")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.toString
    val bc = rollup("BROADCAST")
    val smj = rollup("SHUFFLE_MERGE")
    val shj = rollup("SHUFFLE_HASH")
    require(planOf(bc).contains("BroadcastHashJoin"),
      "BROADCAST hint must plan a BroadcastHashJoin")
    require(planOf(smj).contains("SortMergeJoin"),
      "SHUFFLE_MERGE hint must plan a SortMergeJoin")
    require(planOf(shj).contains("ShuffledHashJoin"),
      "SHUFFLE_HASH hint must plan a ShuffledHashJoin")
    bc
  }

  /** NATIVE BROADCAST AS-OF JOIN — q20's semantics through the custom
    * whole-operator path ([[graft.plans.AsofBroadcastJoin]], §2.11 tier c,
    * operator #2): the reference timeline (orders per customer) is
    * collected, sorted, and broadcast; every event binary-searches its
    * customer's timeline IN PLACE. The probe side never shuffles, never
    * sorts, holds no window state — against q20's union+window plan
    * (which shuffles and sorts probe ∪ reference) this is the
    * broadcast-hash-join of as-of. The plan shape is REQUIRED in-query:
    * AsofBroadcastJoinExec present, and no Exchange/Sort/Window below it
    * on the probe side. Oracle: EXACTLY q20's SQL — the two plans must
    * agree row-for-row (same greatest-(t, orderkey) tie rule).
    *
    * 100 TB contract: reference must fit in memory (rates/config/SCD dims
    * — the dominant as-of shape); corpus-×-corpus as-of stays on q20's
    * relational plan. */
  val q388AsofNative: GraftQuery = GraftQuery.oracled(
    "q388_asof_native",
    """WITH u AS (
      |  SELECT o_custkey AS k, o_orderdate AS t, 0 AS tag,
      |         o_orderkey, NULL::BIGINT AS event_id
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, date_trunc('microseconds', ts), 1, NULL, event_id FROM events
      |), w AS (
      |  SELECT *, last_value(o_orderkey IGNORE NULLS) OVER (
      |    PARTITION BY k ORDER BY t, tag, o_orderkey NULLS FIRST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
      |  FROM u
      |)
      |SELECT event_id, k AS user_id, asof_orderkey
      |FROM w WHERE tag = 1 AND asof_orderkey IS NOT NULL
      |ORDER BY event_id""") { (spark, dir) =>
    import spark.implicits._
    val probe = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts")
    val ref = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderdate".cast("timestamp").as("o_ts"), $"o_orderkey")
    val joined = graft.plans.AsofBroadcastJoin.asof(
      probe, ref, "user_id", "ts", "o_custkey", "o_ts", "o_orderkey")
    val planStr = joined.queryExecution.sparkPlan.toString
    require(planStr.contains("AsofBroadcastJoin"),
      s"native as-of operator must appear in the physical plan:\n$planStr")
    require(!planStr.contains("Exchange") && !planStr.contains("Window"),
      s"probe side must stay map-only before the as-of join:\n$planStr")
    joined
      .filter($"o_orderkey".isNotNull)
      .select($"event_id", $"user_id", $"o_orderkey".as("asof_orderkey"))
      .orderBy($"event_id")
  }

  /** CATALYST RUNTIME BLOOM-FILTER JOIN (InjectRuntimeFilter, SPARK-32268)
    * — the OPTIMIZER-injected sibling of q165's hand-built bloom semi-join:
    * with runtime filtering enabled, Catalyst plants
    * `might_contain(bloom_filter_agg(xxhash64(o_orderkey)), …)` from the
    * SELECTIVE orders side into the lineitem scan, so fact rows that can
    * never join are dropped AT THE SCAN, before the join shuffle — at
    * 100 TB the difference between shuffling the full fact table and
    * shuffling the ~20% that survives the dimension predicate. The fn
    * materializes the optimized AND physical plans under the bloom confs
    * (thresholds lowered: the defaults gate on a 10 GB scan, sized for real
    * clusters), REQUIRES the filter is present and the join is PLANNED as a
    * shuffle join (the warehouse queries' self-assert pattern), then
    * restores session confs — results are conf-independent, which is
    * exactly what the strict oracle checks. (AQE may still re-plan stages
    * at action time under the restored session confs; the contract asserted
    * here is the planned shape, which is now materialized inside the conf
    * window rather than lazily afterwards.)
    *
    * Confs: spark.sql.optimizer.runtime.bloomFilter.* (public Spark conf
    * surface; probed working on this Spark 4.1.2 build). */
  val q488RuntimeBloomJoin: GraftQuery = GraftQuery.oracled(
    "q488_runtime_bloom_join",
    """SELECT l.l_returnflag,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""") { (spark, dir) =>
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = Tables.lineitem(spark, dir)
      val o = Tables.orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
      val df = l.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(floor($"l_extendedprice" * 100 + 0.5).cast("long")).cast("long").as("cents"))
        .orderBy($"l_returnflag")
      // Materialize the OPTIMIZED plan AND the physical plans while the
      // confs are set — all three are lazy vals cached in this
      // QueryExecution, so later actions (run after the confs are restored)
      // execute exactly what was planned here. Materializing only
      // optimizedPlan (round 7) left sparkPlan to be built later under
      // restored confs, so join-strategy selection silently reverted to
      // broadcast-hash and the autoBroadcastJoinThreshold=-1 shape never
      // held at execution.
      val optimized = df.queryExecution.optimizedPlan.toString
      require(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"runtime bloom filter was not injected:\n$optimized")
      val physical = df.queryExecution.sparkPlan.toString
      df.queryExecution.executedPlan // force, so AQE wrapping also binds now
      require(!physical.contains("BroadcastHashJoin"),
        s"bloom-join must plan as a shuffle join (autoBroadcastJoinThreshold=-1):\n$physical")
      require(physical.contains("might_contain"),
        s"bloom probe must reach the physical scan side:\n$physical")
      df
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  def all: Seq[GraftQuery] = Seq(
    q12StarJoin, q13ShippingPriority, q14LeftOuter, q15FullOuter,
    q16SemiJoin, q17AntiJoin, q18CrossJoin, q19RangeJoinBinned,
    q20AsofJoin, q21SelfJoinBand, q165BloomSemiJoin, q224NearestEventJoin,
    q276NullSafeJoin, q332Customer360, q362MarketShare, q379JoinHints,
    q388AsofNative, q488RuntimeBloomJoin)
}
