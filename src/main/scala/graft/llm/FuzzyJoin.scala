package graft.llm

import scala.util.chaining._

import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.sources.Tables

/** String-similarity self-join: all pairs within edit distance 1, found via
  * the deletion-neighborhood blocking scheme (FastSS; Bocek et al. 2007,
  * "Fast Similarity Search in Large Dictionaries") instead of the O(n²)
  * all-pairs `levenshtein` scan.
  *
  * Losslessness of the blocking (why no true pair is missed): for strings
  * s ≠ t with edit distance ≤ 1, either (a) t substitutes one character of
  * s at position p — then deleting position p from each yields the SAME
  * string, so both emit that variant; or (b) t inserts one character into
  * s — then deleting the inserted character from t yields s itself, which s
  * emits as its identity variant. Every true pair therefore collides on at
  * least one variant key; the exact `levenshtein ≤ 1` re-check removes the
  * false candidates, so the result equals the all-pairs formulation — which
  * is exactly what the DuckDB oracle computes.
  *
  * Scale shape: each string of length L emits L+1 variant keys, so the
  * candidate join is over ~(L+1)·n rows hashed on the variant — linear
  * fan-out, equi-join, no cross product. Hot variant keys (many strings one
  * deletion apart from the same core) behave like q45's hot shingles; at
  * corpus scale the same maxDf-style bucket cap applies before pairing
  * (here buckets are ≤ alphabet-size and need no cap). */
object FuzzyJoin {

  /** The capped name vocabulary shared by q160/q177: first 2000 distinct
    * customer names in lexical order (deterministic at every SF). */
  def nameVocab(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .select($"c_name").distinct()
      .orderBy($"c_name").limit(2000)
  }

  /** q160's core: all (name_a < name_b) pairs at edit distance ≤ 1 among
    * the capped vocabulary, via deletion-neighborhood blocking + exact
    * re-check. Memoized per (session, dir) as "ed1Pairs": five entries
    * (q160 itself, q177's BFS edges, q270/q275 entity resolution, q282
    * Fellegi–Sunter) each re-derived the same FastSS blocking + verify join
    * per invocation. Unsorted; q160 adds its ORDER BY at release. */
  def ed1Pairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.engine.Memos.memo(spark, dir, "ed1Pairs") {
      import spark.implicits._
      val vocab = nameVocab(spark, dir)
      // i = -1 marks the identity variant; i in [0, len) deletes char i+1.
      val variants = vocab
        .select($"c_name",
          explode(concat(array(lit(-1)),
            sequence(lit(0), length($"c_name") - 1))).as("i"))
        .select($"c_name",
          when($"i" === -1, $"c_name")
            .otherwise(concat(
              expr("substring(c_name, 1, i)"),
              expr("substring(c_name, i + 2)"))).as("v"))
      variants.as("a")
        .join(variants.as("b"),
          $"a.v" === $"b.v" && $"a.c_name" < $"b.c_name")
        .select($"a.c_name".as("name_a"), $"b.c_name".as("name_b"))
        .distinct()
        .filter(levenshtein($"name_a", $"name_b") <= 1)
        .pipe(graft.engine.Memos.checkpoint)
    }

  /** Edit-distance-≤1 pairs among the first 2000 customer names (the
    * deterministic cap keeps the oracle's all-pairs check tractable at
    * every SF; the Spark side never goes quadratic regardless). */
  val q160EditDistanceJoin: GraftQuery = GraftQuery.oracled(
    "q160_edit_distance_join",
    """WITH v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000)
      |SELECT a.c_name AS name_a, b.c_name AS name_b
      |FROM v a, v b
      |WHERE a.c_name < b.c_name
      |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY name_a, name_b""") { (spark, dir) =>
    import spark.implicits._
    ed1Pairs(spark, dir).orderBy($"name_a", $"name_b")
  }

  /** Directed edge list (both orientations) of the ED-≤1 name graph —
    * q160's pair set symmetrized, for graph algorithms over the similarity
    * graph (q177 BFS). */
  def ed1Edges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val pairs = ed1Pairs(spark, dir)
    pairs.select($"name_a".as("s"), $"name_b".as("t"))
      .unionByName(pairs.select($"name_b".as("s"), $"name_a".as("t")))
  }

  /** ENTITY RESOLUTION capstone: lossless ED-1 blocking (q160's deletion
    * neighborhoods — never a name×name cross join) generates candidate
    * record pairs, names map back to customer KEYS, and transitive closure
    * via large-star/small-star (q109's O(log n) machinery — ED-1 digit
    * chains make components with diameter in the HUNDREDS, exactly the
    * adversarial case plain label propagation's round cap rejects) merges
    * records into entities. Output: every multi-record entity with its
    * canonical (min) key and size — the dedup-before-join step of every
    * MDM / customer-360 pipeline. The DuckDB oracle re-derives the same
    * clusters with a recursive CTE over the identical pair rule.
    *
    * 100 TB plan: blocking emits O(Σ name-length) variants, the pair join
    * is keyed on the variant, and the closure rounds are edge-join +
    * groupBy-min — no stage is quadratic in records. */
  val q270EntityResolution: GraftQuery = GraftQuery.oracled(
    "q270_entity_resolution",
    """WITH RECURSIVE
      |v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000),
      |vk AS (SELECT c.c_custkey AS k, c.c_name FROM customer c JOIN v ON c.c_name = v.c_name),
      |p AS (SELECT a.k AS ka, b.k AS kb
      |      FROM vk a, vk b
      |      WHERE a.c_name < b.c_name
      |        AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |        AND levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT ka AS src, kb AS dst FROM p UNION ALL SELECT kb, ka FROM p),
      |reach AS (
      |  SELECT k AS id, k AS lbl FROM vk
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |lab AS (SELECT id, min(lbl) AS entity_id FROM reach GROUP BY id)
      |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records
      |FROM lab GROUP BY entity_id HAVING count(*) >= 2
      |ORDER BY entity_id""") { (spark, dir) =>
    import spark.implicits._
    val vk = Tables.customer(spark, dir)
      .join(nameVocab(spark, dir), Seq("c_name"))
      .select($"c_name", $"c_custkey".as("k"))
    val namePairs = ed1Pairs(spark, dir)
    val keyPairs = namePairs
      .join(vk.toDF("c_name", "ka"), $"name_a" === $"c_name").drop("c_name")
      .join(vk.toDF("c_name", "kb"), $"name_b" === $"c_name").drop("c_name")
      .select($"ka", $"kb")
    Dedup.starComponents(vk.select($"k"), keyPairs)._1
      .groupBy($"lbl".as("entity_id"))
      .agg(count(lit(1)).cast("long").as("n_records"))
      .filter($"n_records" >= 2)
      .orderBy($"entity_id")
  }

  /** GOLDEN-RECORD survivorship — MDM step two after q270's closure:
    * within each resolved entity, one surviving record is assembled by
    * per-attribute rules (canonical key = min; balance = max — "most
    * complete wins"; nation = the min-key record's — "master source
    * wins"). Every rule is an argmin/argmax with a deterministic
    * tie-break, so the merged master table is exactly oracle-able.
    *
    * 100 TB plan: the closure labels join the records once (key-keyed),
    * then one hash-agg with min/max/min_by — no per-entity iteration. */
  val q275GoldenRecord: GraftQuery = GraftQuery.oracled(
    "q275_golden_record",
    """WITH RECURSIVE
      |v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000),
      |vk AS (SELECT c.c_custkey AS k, c.c_name, c.c_acctbal, c.c_nationkey
      |       FROM customer c JOIN v ON c.c_name = v.c_name),
      |p AS (SELECT a.k AS ka, b.k AS kb
      |      FROM vk a, vk b
      |      WHERE a.c_name < b.c_name
      |        AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |        AND levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT ka AS src, kb AS dst FROM p UNION ALL SELECT kb, ka FROM p),
      |reach AS (
      |  SELECT k AS id, k AS lbl FROM vk
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |lab AS (SELECT id, min(lbl) AS entity_id FROM reach GROUP BY id),
      |m AS (SELECT l.entity_id, vk.k, vk.c_acctbal, vk.c_nationkey
      |      FROM lab l JOIN vk ON l.id = vk.k)
      |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_records,
      |       round(max(c_acctbal), 2) AS best_balance,
      |       CAST(min(c_nationkey) FILTER (WHERE k = entity_id) AS INT) AS master_nation
      |FROM m GROUP BY entity_id HAVING count(*) >= 2
      |ORDER BY entity_id""") { (spark, dir) =>
    import spark.implicits._
    val vk = Tables.customer(spark, dir)
      .join(nameVocab(spark, dir), Seq("c_name"))
      .select($"c_name", $"c_custkey".as("k"), $"c_acctbal", $"c_nationkey")
    val namePairs = ed1Pairs(spark, dir)
    val keyPairs = namePairs
      .join(vk.select($"c_name", $"k".as("ka")), $"name_a" === $"c_name").drop("c_name")
      .join(vk.select($"c_name", $"k".as("kb")), $"name_b" === $"c_name").drop("c_name")
      .select($"ka", $"kb")
    val labels = Dedup.starComponents(vk.select($"k"), keyPairs)._1
    labels.join(vk, labels("id") === vk("k"))
      .groupBy($"lbl".as("entity_id"))
      .agg(count(lit(1)).cast("long").as("n_records"),
        graft.operators.RelationalCore.money(max($"c_acctbal")).as("best_balance"),
        min(when($"k" === $"lbl", $"c_nationkey")).cast("int").as("master_nation"))
      .filter($"n_records" >= 2)
      .orderBy($"entity_id")
  }

  /** FELLEGI–SUNTER probabilistic record linkage (Fellegi & Sunter 1969) —
    * the MDM scoring step between q160's blocking and q270's closure:
    * each candidate pair gets a log-likelihood-ratio score
    * Σ_j ln(m_j/u_j) over agreeing fields + Σ_j ln((1−m_j)/(1−u_j)) over
    * disagreeing ones. m-probabilities (P(agree | true match)) are pinned
    * literals here so the oracle is exact (q348 is the same pipeline with
    * the EM estimation loop); u-probabilities
    * (P(agree | random pair)) are ESTIMATED FROM THE DATA as the
    * random-agreement rate Σ_k (n_k/N)² from each field's value census —
    * exact integer-valued-double algebra, so the oracle reproduces every
    * weight bit-for-bit. Fields: nation, market segment, and the $100
    * account-balance band. The released score is INTEGER ten-thousandths
    * (floor(x·10⁴ + 0.5) on the identical cross-engine double — the
    * q491/q244 fence; r9 proved round(double, n) itself diverges at
    * boundaries) and the match/possible/nonmatch labels threshold that
    * integer, so neither score nor class can flip on float jitter.
    *
    * 100 TB plan: u-estimation is one census agg per field (constant-size
    * results, broadcast); candidates come from the lossless ED-1 blocking
    * (never records×records); scoring is a pure projection over the
    * candidate pairs. The EM refinement loop production adds iterates
    * over exactly these per-pair agreement vectors — same shuffle shape. */
  val q282FellegiSunter: GraftQuery = GraftQuery.oracled(
    "q282_fellegi_sunter",
    """WITH v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000),
      |vk AS (SELECT c.c_custkey AS k, c.c_name, c.c_nationkey, c.c_mktsegment,
      |              CAST(floor(c.c_acctbal / 100) AS BIGINT) AS bal_band
      |       FROM customer c JOIN v ON c.c_name = v.c_name),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vk),
      |u1 AS (SELECT sum(cnt * cnt) / (max(nn.n) * max(nn.n)) AS u
      |       FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM vk GROUP BY c_nationkey) t, nn),
      |u2 AS (SELECT sum(cnt * cnt) / (max(nn.n) * max(nn.n)) AS u
      |       FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM vk GROUP BY c_mktsegment) t, nn),
      |u3 AS (SELECT sum(cnt * cnt) / (max(nn.n) * max(nn.n)) AS u
      |       FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM vk GROUP BY bal_band) t, nn),
      |p AS (SELECT a.k AS ka, b.k AS kb,
      |             CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END AS agree_nation,
      |             CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS agree_segment,
      |             CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END AS agree_balance
      |      FROM vk a, vk b
      |      WHERE a.c_name < b.c_name
      |        AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |        AND levenshtein(a.c_name, b.c_name) <= 1),
      |s AS (SELECT ka, kb, agree_nation, agree_segment, agree_balance,
      |             CAST(floor((
      |               (CASE WHEN agree_nation = 1 THEN ln(CAST(0.95 AS DOUBLE) / u1.u)
      |                     ELSE ln(CAST(0.05 AS DOUBLE) / (1 - u1.u)) END)
      |             + (CASE WHEN agree_segment = 1 THEN ln(CAST(0.9 AS DOUBLE) / u2.u)
      |                     ELSE ln(CAST(0.1 AS DOUBLE) / (1 - u2.u)) END)
      |             + (CASE WHEN agree_balance = 1 THEN ln(CAST(0.85 AS DOUBLE) / u3.u)
      |                     ELSE ln(CAST(0.15 AS DOUBLE) / (1 - u3.u)) END)) * 10000 + 0.5) AS BIGINT) AS fs_score_e4
      |      FROM p, u1, u2, u3)
      |SELECT ka, kb, agree_nation, agree_segment, agree_balance, fs_score_e4,
      |       CASE WHEN fs_score_e4 >= 50000 THEN 'match'
      |            WHEN fs_score_e4 >= 0 THEN 'possible'
      |            ELSE 'nonmatch' END AS cls
      |FROM s ORDER BY ka, kb""") { (spark, dir) =>
    import spark.implicits._
    val (agree, u) = fsInputs(spark, dir)
    agree
      .crossJoin(broadcast(u))
      .withColumn("fs_score_e4", floor((
        when($"agree_nation" === 1, log(lit(0.95) / $"u1"))
          .otherwise(log(lit(0.05) / (lit(1) - $"u1"))) +
        when($"agree_segment" === 1, log(lit(0.9) / $"u2"))
          .otherwise(log(lit(0.1) / (lit(1) - $"u2"))) +
        when($"agree_balance" === 1, log(lit(0.85) / $"u3"))
          .otherwise(log(lit(0.15) / (lit(1) - $"u3")))) * 10000 + 0.5).cast("long"))
      .withColumn("cls",
        when($"fs_score_e4" >= 50000, "match")
          .when($"fs_score_e4" >= 0, "possible")
          .otherwise("nonmatch"))
      .select($"ka", $"kb", $"agree_nation", $"agree_segment", $"agree_balance",
        $"fs_score_e4", $"cls")
      .orderBy($"ka", $"kb")
  }

  /** Shared Fellegi–Sunter inputs: the ED-1-blocked candidate agreement
    * vectors (ka, kb, agree_nation, agree_segment, agree_balance) and the
    * 1-row per-field random-agreement u-rates frame (u1, u2, u3) — used by
    * q282 (pinned m-probabilities) and q348 (EM-estimated). */
  private def fsInputs(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val vk = Tables.customer(spark, dir)
      .join(nameVocab(spark, dir), Seq("c_name"))
      .select($"c_name", $"c_custkey".as("k"), $"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 100).cast("long").as("bal_band"))
    val nTot = vk.agg(count(lit(1)).cast("double").as("n"))
    def uRate(keyCol: String, alias: String) =
      vk.groupBy(col(keyCol)).agg(count(lit(1)).cast("double").as("cnt"))
        .crossJoin(nTot)
        .agg((sum($"cnt" * $"cnt") / (max($"n") * max($"n"))).as(alias))
    val u = uRate("c_nationkey", "u1")
      .crossJoin(uRate("c_mktsegment", "u2"))
      .crossJoin(uRate("bal_band", "u3"))
    val namePairs = ed1Pairs(spark, dir)
    val a = vk.select($"c_name".as("name_a"), $"k".as("ka"),
      $"c_nationkey".as("nat_a"), $"c_mktsegment".as("seg_a"), $"bal_band".as("bal_a"))
    val b = vk.select($"c_name".as("name_b"), $"k".as("kb"),
      $"c_nationkey".as("nat_b"), $"c_mktsegment".as("seg_b"), $"bal_band".as("bal_b"))
    val agree = namePairs.join(a, "name_a").join(b, "name_b")
      .select($"ka", $"kb",
        when($"nat_a" === $"nat_b", 1).otherwise(0).as("agree_nation"),
        when($"seg_a" === $"seg_b", 1).otherwise(0).as("agree_segment"),
        when($"bal_a" === $"bal_b", 1).otherwise(0).as("agree_balance"))
    (agree, u)
  }

  /** One EM round for the Fellegi–Sunter two-class conditional-independence
    * mixture over binary agreement vectors (Winkler 1988's estimator):
    * E-step computes each census cell's posterior match weight
    * w(γ) = p·Π m_j^{γ_j}(1−m_j)^{1−γ_j} / (p·Πm + (1−p)·Πu); M-step
    * re-estimates p = Σnw/N, m_j = Σnwγ_j/Σnw, u_j = Σn(1−w)γ_j/Σn(1−w).
    * Pure driver-side arithmetic over the ≤2³-cell agreement census — the
    * q312 driver-scalar-loop pattern; estimates clamped to (1e-6, 1−1e-6)
    * so no weight ever hits ln(0). Spec'd in FuzzyJoinSpec on a planted
    * fixture with known (p, m, u). */
  private[llm] def fsEmRound(census: Seq[(Array[Int], Double)], p: Double,
      m: Array[Double], u: Array[Double]): (Double, Array[Double], Array[Double]) = {
    val k = m.length
    var sw = 0.0; var snw = 0.0
    val swg = Array.fill(k)(0.0); val snwg = Array.fill(k)(0.0)
    for ((g, n) <- census) {
      var pm = p; var pu = 1.0 - p
      var j = 0
      while (j < k) {
        pm *= (if (g(j) == 1) m(j) else 1.0 - m(j))
        pu *= (if (g(j) == 1) u(j) else 1.0 - u(j))
        j += 1
      }
      val w = pm / (pm + pu)
      sw += n * w; snw += n * (1.0 - w)
      j = 0
      while (j < k) {
        if (g(j) == 1) { swg(j) += n * w; snwg(j) += n * (1.0 - w) }
        j += 1
      }
    }
    def clamp(x: Double) = math.min(1.0 - 1e-6, math.max(1e-6, x))
    (clamp(sw / (sw + snw)), swg.map(x => clamp(x / sw)),
      snwg.map(x => clamp(x / snw)))
  }

  /** q282 WITH THE EM LOOP ITS SCALADOC PROMISED: m-probabilities (and the
    * match prior and u's) estimated by two EM rounds over the candidate
    * agreement-vector CENSUS instead of pinned literals. The census is at
    * most 2³ = 8 cells regardless of corpus size (one hash-agg over the
    * blocked candidates, collected as a bounded E3 scalar set), so the EM
    * iterations are driver-side arithmetic over 8 numbers — the corpus is
    * scanned once for the census and once for the final scoring
    * projection. FuzzyJoinSpec recovers planted parameters on an
    * exact-expectation fixture and gates this entry's score ordering
    * against q282's.
    *
    * STRICT since r8 (formerly rows-only): a FIXED round count over a
    * BOUNDED census is relational after all — the oracle reruns q282's
    * candidate/census build and unrolls the same two EM rounds as CTE
    * scalar algebra (same left-assoc product order, same clamp written as
    * `1 − 0.000001` so both engines parse identical doubles). The
    * released score is INTEGER ten-thousandths since r10:
    * floor(x·10⁴ + 0.5) evaluates the same IEEE ops on the identical
    * double on both engines (the q491/q244 fence — r9's q244 fix proved
    * round(double, n) itself diverges cross-engine at .00005 boundaries,
    * exactly the flake the r8 ADVICE predicted here), and the
    * match/possible/nonmatch labels threshold that integer at 50000/0.
    *
    * 100 TB plan: identical shuffle shape to q282 — lossless ED-1 blocking
    * for candidates, one constant-size census agg, pure-projection scoring
    * with all parameters as literals in the plan. */
  val q348FellegiSunterEm: GraftQuery = GraftQuery.oracled(
    "q348_fellegi_sunter_em",
    """WITH v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000),
      |vk AS (SELECT c.c_custkey AS k, c.c_name, c.c_nationkey, c.c_mktsegment,
      |              CAST(floor(c.c_acctbal / 100) AS BIGINT) AS bal_band
      |       FROM customer c JOIN v ON c.c_name = v.c_name),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vk),
      |u1 AS (SELECT sum(cnt * cnt) / (max(nn.n) * max(nn.n)) AS u
      |       FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM vk GROUP BY c_nationkey) t, nn),
      |u2 AS (SELECT sum(cnt * cnt) / (max(nn.n) * max(nn.n)) AS u
      |       FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM vk GROUP BY c_mktsegment) t, nn),
      |u3 AS (SELECT sum(cnt * cnt) / (max(nn.n) * max(nn.n)) AS u
      |       FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM vk GROUP BY bal_band) t, nn),
      |p AS (SELECT a.k AS ka, b.k AS kb,
      |             CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END AS g1,
      |             CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS g2,
      |             CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END AS g3
      |      FROM vk a, vk b
      |      WHERE a.c_name < b.c_name
      |        AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |        AND levenshtein(a.c_name, b.c_name) <= 1),
      |cen AS (SELECT g1, g2, g3, CAST(count(*) AS DOUBLE) AS n FROM p GROUP BY 1, 2, 3),
      |par0 AS (SELECT CAST(0.1 AS DOUBLE) AS mp,
      |                CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2, CAST(0.9 AS DOUBLE) AS m3,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), u1.u)) AS w1,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), u2.u)) AS w2,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), u3.u)) AS w3
      |         FROM u1, u2, u3),
      |e1 AS (SELECT g1, g2, g3, n,
      |              mp * (CASE WHEN g1 = 1 THEN m1 ELSE 1 - m1 END)
      |                 * (CASE WHEN g2 = 1 THEN m2 ELSE 1 - m2 END)
      |                 * (CASE WHEN g3 = 1 THEN m3 ELSE 1 - m3 END) AS pm,
      |              (1 - mp) * (CASE WHEN g1 = 1 THEN w1 ELSE 1 - w1 END)
      |                       * (CASE WHEN g2 = 1 THEN w2 ELSE 1 - w2 END)
      |                       * (CASE WHEN g3 = 1 THEN w3 ELSE 1 - w3 END) AS pu
      |       FROM cen, par0),
      |a1 AS (SELECT sum(n * (pm / (pm + pu))) AS sw, sum(n * (1 - pm / (pm + pu))) AS snw,
      |              sum(CASE WHEN g1 = 1 THEN n * (pm / (pm + pu)) ELSE 0 END) AS swg1,
      |              sum(CASE WHEN g2 = 1 THEN n * (pm / (pm + pu)) ELSE 0 END) AS swg2,
      |              sum(CASE WHEN g3 = 1 THEN n * (pm / (pm + pu)) ELSE 0 END) AS swg3,
      |              sum(CASE WHEN g1 = 1 THEN n * (1 - pm / (pm + pu)) ELSE 0 END) AS sng1,
      |              sum(CASE WHEN g2 = 1 THEN n * (1 - pm / (pm + pu)) ELSE 0 END) AS sng2,
      |              sum(CASE WHEN g3 = 1 THEN n * (1 - pm / (pm + pu)) ELSE 0 END) AS sng3
      |       FROM e1),
      |par1 AS (SELECT least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sw / (sw + snw))) AS mp,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), swg1 / sw)) AS m1,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), swg2 / sw)) AS m2,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), swg3 / sw)) AS m3,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sng1 / snw)) AS w1,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sng2 / snw)) AS w2,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sng3 / snw)) AS w3
      |         FROM a1),
      |e2 AS (SELECT g1, g2, g3, n,
      |              mp * (CASE WHEN g1 = 1 THEN m1 ELSE 1 - m1 END)
      |                 * (CASE WHEN g2 = 1 THEN m2 ELSE 1 - m2 END)
      |                 * (CASE WHEN g3 = 1 THEN m3 ELSE 1 - m3 END) AS pm,
      |              (1 - mp) * (CASE WHEN g1 = 1 THEN w1 ELSE 1 - w1 END)
      |                       * (CASE WHEN g2 = 1 THEN w2 ELSE 1 - w2 END)
      |                       * (CASE WHEN g3 = 1 THEN w3 ELSE 1 - w3 END) AS pu
      |       FROM cen, par1),
      |a2 AS (SELECT sum(n * (pm / (pm + pu))) AS sw, sum(n * (1 - pm / (pm + pu))) AS snw,
      |              sum(CASE WHEN g1 = 1 THEN n * (pm / (pm + pu)) ELSE 0 END) AS swg1,
      |              sum(CASE WHEN g2 = 1 THEN n * (pm / (pm + pu)) ELSE 0 END) AS swg2,
      |              sum(CASE WHEN g3 = 1 THEN n * (pm / (pm + pu)) ELSE 0 END) AS swg3,
      |              sum(CASE WHEN g1 = 1 THEN n * (1 - pm / (pm + pu)) ELSE 0 END) AS sng1,
      |              sum(CASE WHEN g2 = 1 THEN n * (1 - pm / (pm + pu)) ELSE 0 END) AS sng2,
      |              sum(CASE WHEN g3 = 1 THEN n * (1 - pm / (pm + pu)) ELSE 0 END) AS sng3
      |       FROM e2),
      |par2 AS (SELECT least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sw / (sw + snw))) AS mp,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), swg1 / sw)) AS m1,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), swg2 / sw)) AS m2,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), swg3 / sw)) AS m3,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sng1 / snw)) AS w1,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sng2 / snw)) AS w2,
      |                least(CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE), greatest(CAST(0.000001 AS DOUBLE), sng3 / snw)) AS w3
      |         FROM a2),
      |s AS (SELECT ka, kb, g1, g2, g3,
      |             CAST(floor((
      |               (CASE WHEN g1 = 1 THEN ln(m1 / w1) ELSE ln((1 - m1) / (1 - w1)) END)
      |             + (CASE WHEN g2 = 1 THEN ln(m2 / w2) ELSE ln((1 - m2) / (1 - w2)) END)
      |             + (CASE WHEN g3 = 1 THEN ln(m3 / w3) ELSE ln((1 - m3) / (1 - w3)) END)) * 10000 + 0.5) AS BIGINT) AS fs_score_e4
      |      FROM p, par2)
      |SELECT ka, kb, g1 AS agree_nation, g2 AS agree_segment, g3 AS agree_balance, fs_score_e4,
      |       CASE WHEN fs_score_e4 >= 50000 THEN 'match'
      |            WHEN fs_score_e4 >= 0 THEN 'possible'
      |            ELSE 'nonmatch' END AS cls
      |FROM s ORDER BY ka, kb""") {
    (spark, dir) =>
      import spark.implicits._
      val (agree, uFrame) = fsInputs(spark, dir)
      val uRow = uFrame.collect().head // 1-row scalar triple
      val uData = Array(uRow.getDouble(0), uRow.getDouble(1), uRow.getDouble(2))
      val census = agree
        .groupBy($"agree_nation", $"agree_segment", $"agree_balance")
        .agg(count(lit(1)).cast("double").as("n"))
        .collect() // ≤ 8 cells, bounded by construction
        .map(r => (Array(r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toSeq
      var p = 0.1
      var m = Array(0.9, 0.9, 0.9)
      var u = uData.map(x => math.min(1.0 - 1e-6, math.max(1e-6, x)))
      for (_ <- 1 to 2) {
        val (p2, m2, u2) = fsEmRound(census, p, m, u)
        p = p2; m = m2; u = u2
      }
      def term(agreeCol: String, mj: Double, uj: Double) =
        when(col(agreeCol) === 1, log(lit(mj) / lit(uj)))
          .otherwise(log(lit(1.0 - mj) / lit(1.0 - uj)))
      agree
        .withColumn("fs_score_e4", floor((
          term("agree_nation", m(0), u(0)) +
          term("agree_segment", m(1), u(1)) +
          term("agree_balance", m(2), u(2))) * 10000 + 0.5).cast("long"))
        .withColumn("cls",
          when($"fs_score_e4" >= 50000, "match")
            .when($"fs_score_e4" >= 0, "possible")
            .otherwise("nonmatch"))
        .select($"ka", $"kb", $"agree_nation", $"agree_segment",
          $"agree_balance", $"fs_score_e4", $"cls")
        .orderBy($"ka", $"kb")
  }

  /** JARO–WINKLER fuzzy matching (q160's ED-1 complement for
    * TYPO-tolerant name matching where edit distance is too rigid —
    * transposed characters and shared prefixes score high): pairs from
    * the standard first-letter + length-band blocking (JW's prefix boost
    * makes first-letter blocking the textbook scheme; the oracle states
    * the SAME blocked rule, so the result is exact for the rule as
    * stated), scored by the codegen'd [[graft.functions.JaroWinkler]]
    * Expression and kept at rounded jw ≥ 0.98. The DuckDB oracle scores
    * with its OWN `jaro_winkler_similarity` implementation — the strict
    * hash-match is a cross-implementation equivalence proof for every
    * emitted pair, not a recompute of our code.
    *
    * 100 TB plan: blocking keys are (first char, length band) — a
    * bounded-fanout equi-join, never names×names; scoring is a codegen'd
    * projection on candidates only. Hot blocks (common initials) take
    * q70's salting at corpus scale. */
  val q301JaroWinklerMatch: GraftQuery = GraftQuery.oracled(
    "q301_jaro_winkler_match",
    """WITH v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000),
      |p AS (SELECT a.c_name AS name_a, b.c_name AS name_b,
      |             round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw
      |      FROM v a JOIN v b
      |        ON substr(a.c_name, 1, 1) = substr(b.c_name, 1, 1)
      |       AND abs(length(a.c_name) - length(b.c_name)) <= 2
      |       AND a.c_name < b.c_name)
      |SELECT name_a, name_b, jw FROM p
      |WHERE jw >= 0.98
      |ORDER BY name_a, name_b""") { (spark, dir) =>
    import spark.implicits._
    val vocab = nameVocab(spark, dir)
    val a = vocab.select($"c_name".as("name_a"),
      substring($"c_name", 1, 1).as("blk"), length($"c_name").as("la"))
    val b = vocab.select($"c_name".as("name_b"),
      substring($"c_name", 1, 1).as("blk"), length($"c_name").as("lb"))
    a.join(b, Seq("blk"))
      .filter(abs($"la" - $"lb") <= 2 && $"name_a" < $"name_b")
      .select($"name_a", $"name_b",
        round(graft.functions.JaroWinkler.jaroWinkler($"name_a", $"name_b"), 4).as("jw"))
      .filter($"jw" >= 0.98)
      .orderBy($"name_a", $"name_b")
  }

  /** BLOCKING-QUALITY AUDIT (Christen 2012's reduction ratio + block-size
    * profile) — the meta-metric every entity-resolution deployment tracks:
    * how much of the n·(n−1)/2 quadratic pair space does q160's deletion-
    * variant blocking actually generate (reduction ratio), how much of
    * what it generates survives verification (candidate precision), and
    * how skewed are the blocks (max/total block membership — the straggler
    * predictor for the candidate join). Pairs completeness is 1 by the
    * FastSS lossless-cover law (spec'd on q160), so it is not re-measured;
    * what remains IS this report. All-integer ppm arithmetic over the
    * candidate/verified/block censuses — strictly oracle'd.
    *
    * 100 TB plan: candidates and blocks are variant-keyed censuses (the
    * same sub-quadratic shape as the join itself); the quadratic total is
    * arithmetic on one count, never materialized. */
  val q414BlockingQuality: GraftQuery = GraftQuery.oracled(
    "q414_blocking_quality",
    """WITH v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000),
      |var AS (SELECT c_name,
      |               CASE WHEN i = -1 THEN c_name
      |                    ELSE substr(c_name, 1, i) || substr(c_name, i + 2) END AS vr
      |        FROM v, LATERAL (SELECT unnest(generate_series(-1, length(c_name) - 1)) AS i)),
      |cand AS (SELECT DISTINCT a.c_name AS na, b.c_name AS nb
      |         FROM var a JOIN var b ON a.vr = b.vr AND a.c_name < b.c_name),
      |ver AS (SELECT na, nb FROM cand WHERE levenshtein(na, nb) <= 1),
      |blocks AS (SELECT vr, CAST(count(*) AS BIGINT) AS members FROM var GROUP BY vr),
      |s AS (SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_names,
      |             CAST((SELECT count(*) FROM cand) AS BIGINT) AS candidates,
      |             CAST((SELECT count(*) FROM ver) AS BIGINT) AS verified,
      |             CAST((SELECT count(*) FROM blocks) AS BIGINT) AS n_blocks,
      |             CAST((SELECT max(members) FROM blocks) AS BIGINT) AS max_block)
      |SELECT n_names, n_names * (n_names - 1) // 2 AS total_pairs,
      |       candidates, verified, n_blocks, max_block,
      |       (1000000 * (n_names * (n_names - 1) // 2 - candidates))
      |         // (n_names * (n_names - 1) // 2) AS reduction_ppm,
      |       CASE WHEN candidates > 0 THEN (1000000 * verified) // candidates
      |            ELSE 0 END AS precision_ppm
      |FROM s""") { (spark, dir) =>
    import spark.implicits._
    val vocab = nameVocab(spark, dir).localCheckpoint(true)
    val variants = vocab
      .select($"c_name",
        explode(concat(array(lit(-1)),
          sequence(lit(0), length($"c_name") - 1))).as("i"))
      .select($"c_name",
        when($"i" === -1, $"c_name")
          .otherwise(concat(
            expr("substring(c_name, 1, i)"),
            expr("substring(c_name, i + 2)"))).as("vr"))
      .localCheckpoint(true)
    val cand = variants.as("a")
      .join(variants.as("b"), $"a.vr" === $"b.vr" && $"a.c_name" < $"b.c_name")
      .select($"a.c_name".as("na"), $"b.c_name".as("nb"))
      .distinct().localCheckpoint(true)
    val ver = cand.filter(levenshtein($"na", $"nb") <= 1)
    val blocks = variants.groupBy($"vr").agg(count(lit(1)).cast("long").as("members"))
    val s = vocab.agg(count(lit(1)).cast("long").as("n_names"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).cast("long").as("candidates"))))
      .crossJoin(broadcast(ver.agg(count(lit(1)).cast("long").as("verified"))))
      .crossJoin(broadcast(blocks.agg(count(lit(1)).cast("long").as("n_blocks"),
        max($"members").cast("long").as("max_block"))))
    s.select($"n_names",
      expr("n_names * (n_names - 1) div 2").cast("long").as("total_pairs"),
      $"candidates", $"verified", $"n_blocks", $"max_block",
      expr("(1000000 * (n_names * (n_names - 1) div 2 - candidates)) div (n_names * (n_names - 1) div 2)")
        .cast("long").as("reduction_ppm"),
      when($"candidates" > 0, expr("(1000000 * verified) div candidates"))
        .otherwise(0L).cast("long").as("precision_ppm"))
  }

  /** CLOSEST-NAME-PAIR profile under UNRESTRICTED Damerau–Levenshtein —
    * q301's cross-implementation-proof pattern for the transposition-aware
    * edit distance: part names pair within a bounded (brand, size-band)
    * block, are scored by the codegen'd
    * [[graft.functions.DamerauLevenshtein]] kernel, and each block reports
    * its pair census plus the single closest pair (ties broken by part
    * keys). The DuckDB oracle re-scores every pair with its OWN
    * `damerau_levenshtein` — a strict hash-match proves the two
    * independent Lowrance–Wagner implementations agree on every candidate
    * pair at every SF, the same cross-engine equivalence q301 established
    * for Jaro–Winkler.
    *
    * SCALE SCOPE — this is the catalog's documented EXACT-QUADRATIC
    * kernel-equivalence baseline (q50's class), BY DESIGN: the output
    * semantics are a full per-block pair census (n_pairs, sum_dl), which
    * inherently touches every pair, and (brand, size-band) is a FIXED
    * 125-key space — so 10× rows deepen every block 10× and pairs grow
    * ×100. The round-8 sf0.1→sf1 measurement in BASELINE.md reads exactly
    * that: 85× forced time at 10× data. No blocking key of bounded
    * cardinality can change this while the output remains a per-block
    * pair census. The LINEAR-candidate pairing twin for the closest-pair
    * SEMANTICS (without the census) is [[q506SortedNeighborhoodNn]] —
    * sorted-neighborhood rank-offset candidates, 3n pairs at any scale,
    * measured 1.9× on the same tiers. At 100 TB run q476's shape only on
    * bounded slices (one brand partition at a time); run q506 corpus-wide. */
  /** Per-(session, dir) memo "partPairDl" of the (brand, size-band)-blocked
    * Damerau-scored pair frame (ida < idb, codegen'd kernel) — q476 (block
    * census + closest pair) and q482 (mutual NN) score the IDENTICAL
    * candidate set and each ran the full 1.6M-pair kernel pass per entry
    * (r10 verdict item 8). Scored once, localCheckpoint'ed; DL is symmetric
    * (Round10Spec's law), so the one ida < idb orientation serves both. */
  private[llm] def partPairDl(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.engine.Memos.memo(spark, dir, "partPairDl") {
      import spark.implicits._
      val v = Tables.part(spark, dir).select($"p_partkey".as("id"),
        $"p_name".as("nm"), $"p_brand".as("brand"), ($"p_size" % 5).as("band"))
      val a = v.select($"id".as("ida"), $"nm".as("nma"), $"brand", $"band")
      val b = v.select($"id".as("idb"), $"nm".as("nmb"), $"brand", $"band")
      a.join(b, Seq("brand", "band"))
        .filter($"ida" < $"idb")
        .select($"brand", $"band", $"ida", $"idb",
          graft.functions.DamerauLevenshtein.damerau($"nma", $"nmb").as("dl"))
        .pipe(graft.engine.Memos.checkpoint)
    }

  val q476DamerauClosestPairs: GraftQuery = GraftQuery.oracled(
    "q476_damerau_closest_pairs",
    """WITH v AS (SELECT p_partkey AS id, p_name AS nm, p_brand AS brand,
      |                  p_size % 5 AS band
      |           FROM part),
      |pr AS (SELECT a.brand, a.band, a.id AS ida, b.id AS idb,
      |              CAST(damerau_levenshtein(a.nm, b.nm) AS BIGINT) AS dl
      |       FROM v a JOIN v b
      |         ON a.brand = b.brand AND a.band = b.band AND a.id < b.id),
      |r AS (SELECT brand, band, ida, idb, dl,
      |             row_number() OVER (PARTITION BY brand, band
      |                                ORDER BY dl, ida, idb) AS rn,
      |             count(*) OVER (PARTITION BY brand, band) AS n_pairs,
      |             sum(dl) OVER (PARTITION BY brand, band) AS sum_dl
      |      FROM pr)
      |SELECT brand, CAST(band AS BIGINT) AS band,
      |       CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(sum_dl AS BIGINT) AS sum_dl,
      |       dl AS best_dl, ida AS best_ida, idb AS best_idb
      |FROM r WHERE rn = 1
      |ORDER BY brand, band""") { (spark, dir) =>
    import spark.implicits._
    // One hash-agg replaces the three per-block windows (guide §2.3
    // "aggregate before you shuffle"): min(struct(dl, ida, idb)) IS the
    // row_number-over-(dl, ida, idb) = 1 row (lexicographic struct order,
    // same tie-break), and count/sum ride the same partial-aggregated pass
    // — the 1.6M scored pairs now combine map-side instead of being fully
    // shuffled + sorted for WindowExec. The scored pair frame itself is
    // the memoized [[partPairDl]], shared with q482.
    partPairDl(spark, dir)
      .groupBy($"brand", $"band")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum($"dl").cast("long").as("sum_dl"),
        min(struct($"dl", $"ida", $"idb")).as("best"))
      .select($"brand", $"band".cast("long").as("band"),
        $"n_pairs", $"sum_dl",
        $"best.dl".as("best_dl"), $"best.ida".as("best_ida"), $"best.idb".as("best_idb"))
      .orderBy($"brand", $"band")
  }

  /** MUTUAL (reciprocal) NEAREST-NEIGHBOR PAIRS — the high-precision
    * pairing primitive under reciprocal-rank entity matching and RNN-based
    * agglomerative clustering (two records that each pick the OTHER as
    * their closest candidate are near-certain duplicates; one-directional
    * nearest is much weaker evidence). Candidates and the metric are
    * q476's: bounded (brand, size-band) blocks scored by the codegen
    * unrestricted Damerau–Levenshtein; each id's best neighbor is the
    * (dl, other-id) minimum within its block, and the output is exactly
    * the pairs where best(a) = b ∧ best(b) = a. The DuckDB oracle
    * re-derives both directions with its own damerau_levenshtein — the
    * mutual-NN set is cross-implementation-proven, not just the scores.
    *
    * 100 TB plan: the block equi-join bounds candidates (q476); the
    * per-id argmin is a block-keyed window over the already-partitioned
    * candidates; mutuality is one self-join on the (winner, id) pair —
    * id-keyed, output-sized. */
  val q482MutualNn: GraftQuery = GraftQuery.oracled(
    "q482_mutual_nn",
    """WITH v AS (SELECT p_partkey AS id, p_name AS nm, p_brand AS brand,
      |                  p_size % 5 AS band
      |           FROM part),
      |pr AS MATERIALIZED (
      |  SELECT a.brand, a.band, a.id AS x, b.id AS y,
      |         CAST(damerau_levenshtein(a.nm, b.nm) AS BIGINT) AS dl
      |  FROM v a JOIN v b
      |    ON a.brand = b.brand AND a.band = b.band AND a.id <> b.id),
      |best AS (SELECT brand, band, x, y, dl,
      |                row_number() OVER (PARTITION BY x ORDER BY dl, y) AS rn
      |         FROM pr),
      |b1 AS (SELECT brand, band, x, y, dl FROM best WHERE rn = 1)
      |SELECT a.brand, CAST(a.band AS BIGINT) AS band,
      |       a.x AS ida, a.y AS idb, a.dl AS dl
      |FROM b1 a JOIN b1 b ON a.y = b.x AND b.y = a.x AND a.x < a.y
      |ORDER BY a.brand, band, ida""") { (spark, dir) =>
    import spark.implicits._
    // pairs scored ONCE per session via the memoized [[partPairDl]] frame
    // (shared with q476 — DL is symmetric, Round10Spec's law); both
    // orientations are a projection of the checkpointed half.
    val half = partPairDl(spark, dir)
      .select($"brand", $"band", $"ida".as("x"), $"idb".as("y"), $"dl")
    val pr = half.union(
      half.select($"brand", $"band", $"y".as("x"), $"x".as("y"), $"dl"))
    // per-id argmin as ONE hash-agg instead of the full-sort window (guide
    // §2.3): min(struct(dl, y, …)) is exactly row_number-over-(dl, y) = 1
    // (lexicographic struct order), and brand/band are constant per x
    // (candidates never leave x's block), so they ride the struct freely.
    // Partial aggregation collapses the 3.2M-row orientation union map-side.
    val best = pr
      .groupBy($"x")
      .agg(min(struct($"dl", $"y", $"brand", $"band")).as("m"))
      .select($"m.brand".as("brand"), $"m.band".as("band"),
        $"x", $"m.y".as("y"), $"m.dl".as("dl"))
      .localCheckpoint() // both sides of the mutuality self-join
    // mutuality: best is id-keyed and tiny (one row per id) — broadcast the
    // reversed side instead of a 2-exchange sort-merge join.
    val bb = best.select($"x".as("bx"), $"y".as("by"))
    best.join(broadcast(bb), best("y") === $"bx" && best("x") === $"by" && best("x") < best("y"))
      .select($"brand", $"band".cast("long").as("band"),
        $"x".as("ida"), $"y".as("idb"), $"dl")
      .orderBy($"brand", $"band", $"ida")
  }

  /** SORTED-NEIGHBORHOOD MUTUAL NN (Hernández & Stolfo 1995's merge/purge
    * blocking under q482's reciprocal-NN pairing) — the LINEAR-candidate
    * answer to the round-8 scale measurement: q476/q482's fixed
    * (brand, band) blocks went 85–128× on a 10× scale-up because a fixed
    * key cardinality means 10× rows deepen every block 10× (pairs ×100).
    * Sorted neighborhood bounds candidates STRUCTURALLY instead: rank all
    * records by (name, id) and compare each to its next w = 3 ranks —
    * 3n pairs at ANY scale, no key-cardinality assumption. Per-id best
    * (dl, id)-argmin both directions, then reciprocal pairs, exactly
    * q482's semantics on the windowed candidate set.
    *
    * 100 TB plan: the global rank is the TwoPhase two-phase machinery
    * (bucket = the name itself — bucket-local windows + a broadcast
    * offset census; never a single-partition window); the rank-offset
    * join is an equi-join on rn+d (the q229 offset-explode trick); the
    * argmin and mutuality joins are id-keyed and output-sized. Measured
    * sf0.1→sf1 alongside the quadratic entries in BASELINE.md. */
  val q506SortedNeighborhoodNn: GraftQuery = GraftQuery.oracled(
    "q506_sorted_neighborhood_nn",
    """WITH v AS (SELECT p_partkey AS id, p_name AS nm FROM part),
      |r AS (SELECT id, nm, row_number() OVER (ORDER BY nm, id) AS rn FROM v),
      |half AS (SELECT a.id AS x, b.id AS y, a.nm AS nmx, b.nm AS nmy,
      |                CAST(damerau_levenshtein(a.nm, b.nm) AS BIGINT) AS dl
      |         FROM r a JOIN r b ON b.rn - a.rn IN (1, 2, 3)),
      |pr AS (SELECT x, y, nmx, nmy, dl FROM half
      |       UNION ALL SELECT y, x, nmy, nmx, dl FROM half),
      |best AS (SELECT x, y, nmx, nmy, dl,
      |                row_number() OVER (PARTITION BY x ORDER BY dl, y) AS rk
      |         FROM pr),
      |b1 AS (SELECT x, y, nmx, nmy, dl FROM best WHERE rk = 1)
      |SELECT a.x AS ida, a.y AS idb, a.nmx AS name_a, a.nmy AS name_b, a.dl
      |FROM b1 a JOIN b1 b ON a.y = b.x AND b.y = a.x AND a.x < a.y
      |ORDER BY ida, idb""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = Tables.part(spark, dir).select($"p_partkey".as("id"), $"p_name".as("nm"))
    val ranked = graft.operators.TwoPhase.rowNumber(v, $"nm", Seq($"id"), "rn")
      .select($"id", $"nm", $"rn")
      .localCheckpoint() // probe + build sides of the offset join share it
    val off = ranked
      .withColumn("d", explode(array(lit(1L), lit(2L), lit(3L))))
      .select(($"rn" + $"d").as("rnb"), $"id".as("x"), $"nm".as("nmx"))
    val half = off
      .join(ranked.select($"rn".as("rnb"), $"id".as("y"), $"nm".as("nmy")), Seq("rnb"))
      .select($"x", $"y", $"nmx", $"nmy",
        graft.functions.DamerauLevenshtein.damerau($"nmx", $"nmy").cast("long").as("dl"))
      .localCheckpoint() // scored once; both orientations read it
    val pr = half.unionByName(half.select($"y".as("x"), $"x".as("y"),
      $"nmy".as("nmx"), $"nmx".as("nmy"), $"dl"))
    // per-id argmin as ONE partial-aggregated hash-agg instead of the
    // full-sort window (q482's rewrite, guide §2.3): min(struct(dl, y, …))
    // = row_number-over-(dl, y) = 1; (dl, y) is unique per x-group, nmx is
    // constant per x and nmy is determined by the winning y, so both ride
    // the struct without affecting the order.
    val best = pr
      .groupBy($"x")
      .agg(min(struct($"dl", $"y", $"nmy", $"nmx")).as("m"))
      .select($"x", $"m.y".as("y"), $"m.nmx".as("nmx"), $"m.nmy".as("nmy"), $"m.dl".as("dl"))
      .localCheckpoint() // both sides of the mutuality self-join
    val bb = best.select($"x".as("bx"), $"y".as("by"))
    best.join(broadcast(bb), best("y") === $"bx" && best("x") === $"by" && best("x") < best("y"))
      .select($"x".as("ida"), $"y".as("idb"),
        $"nmx".as("name_a"), $"nmy".as("name_b"), $"dl")
      .orderBy($"ida", $"idb")
  }

  def all: Seq[GraftQuery] = Seq(q160EditDistanceJoin, q270EntityResolution,
    q275GoldenRecord, q282FellegiSunter, q301JaroWinklerMatch,
    q348FellegiSunterEm, q414BlockingQuality, q476DamerauClosestPairs,
    q482MutualNn, q506SortedNeighborhoodNn)
}
