package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.GraftQuery
import graft.sources.Tables

/** The capstone LLM-data-curation pipeline: every document gets ONE verdict
  * composing the individual operators the catalog ships piecemeal —
  * eval-holdout exclusion, quality filtering (q52's rule), exact dedup
  * (q44's content key), near-dup clustering (q45 pairs → q100 components),
  * and test-set contamination (q114's 5-gram overlap). This is the query a
  * user of the engine actually runs before training: the output is the
  * corpus manifest (doc_id → keep / drop_reason).
  *
  * Verdict precedence (first match wins): eval_holdout > low_quality >
  * exact_dup > near_dup > contaminated > keep. Each signal is computed
  * independently over ALL documents (not the post-filter survivors), which
  * keeps every stage a pure function of the corpus — re-runnable, cacheable,
  * and exactly stateable in SQL for the oracle.
  *
  * 100 TB plan: no stage adds a new shape — quality is a projection, the
  * exact key is one window over the content hash, near-dup reuses the capped
  * inverted-index pairs + min-label components (driver sees only scalar
  * convergence counts), contamination is a broadcast semi-join, and the
  * final verdict is a series of doc_id-keyed left joins that AQE plans as
  * one shuffle stage chain. */
object Curation {

  val q127CurationPipeline: GraftQuery = GraftQuery.oracled(
    "q127_curation_pipeline",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |good AS (SELECT doc_a, doc_b FROM pairs
      |         JOIN sizes sa ON doc_a = sa.doc_id
      |         JOIN sizes sb ON doc_b = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM good
      |          UNION ALL SELECT doc_b, doc_a FROM good),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      |quality AS (
      |  SELECT doc_id,
      |         (len(string_split(text, ' ')) >= 20
      |          AND len(list_filter(string_split(lower(text), ' '),
      |                x -> list_contains(['the', 'and', 'of', 'a', 'to'], x))) > 0) AS q_ok
      |  FROM documents),
      |keys AS (SELECT doc_id, sha256(lower(trim(text))) AS ck FROM documents),
      |exact_keep AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY ck) AS keep_id FROM keys),
      |sh5 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |g5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
      |       FROM sh5, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i)),
      |contaminated AS (
      |  SELECT DISTINCT tr.doc_id
      |  FROM (SELECT doc_id, s FROM g5 WHERE doc_id % 50 <> 0) tr
      |  JOIN (SELECT s FROM g5 WHERE doc_id % 50 = 0) ev ON tr.s = ev.s)
      |SELECT d.doc_id,
      |       CASE WHEN d.doc_id % 50 = 0        THEN 'eval_holdout'
      |            WHEN NOT q.q_ok               THEN 'low_quality'
      |            WHEN ek.keep_id <> d.doc_id   THEN 'exact_dup'
      |            WHEN cl.cluster_id <> d.doc_id THEN 'near_dup'
      |            WHEN ct.doc_id IS NOT NULL    THEN 'contaminated'
      |            ELSE 'keep' END AS verdict
      |FROM documents d
      |JOIN quality q      ON d.doc_id = q.doc_id
      |JOIN exact_keep ek  ON d.doc_id = ek.doc_id
      |JOIN clusters cl    ON d.doc_id = cl.doc_id
      |LEFT JOIN contaminated ct ON d.doc_id = ct.doc_id
      |ORDER BY d.doc_id""") { (spark, dir) =>
    import spark.implicits._
    curate(Tables.documents(spark, dir), $"doc_id" % 50 === 0,
      _ => Dedup.corpusExactPairs(spark, dir),
      contam = Some(Dedup.corpusContamination(spark, dir)),
      clusterLabels = Some(Dedup.corpusExactClusters(spark, dir)))
  }

  /** The q127 core over any (doc_id, text, …) frame — factored out for the
    * fixture spec, which plants one document per verdict (the driver corpus
    * contains no cross-doc exact duplicate, so the exact_dup arm would only
    * be validated vacuously against the oracle). `nearPairs` gives the
    * near-dup pairs the clusters come from when no `clusterLabels` are
    * passed; the default is the exact capped inverted index
    * ([[Dedup.neardupPairs]]), which the fixture spec uses. The catalog
    * entries pass memoized labels: q127 those of q45's exact pair set
    * ([[Dedup.corpusExactClusters]]); q349 and q300 (like q343 and q398,
    * which read the labels without curating) those of the sub-quadratic
    * portable sketch-then-verify pairs ([[Dedup.corpusPortablePairs]] →
    * [[Dedup.corpusPortableClusters]]), the path that scales. */
  private[llm] def curate(
      docs: org.apache.spark.sql.DataFrame,
      isEval: org.apache.spark.sql.Column,
      nearPairs: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        d => Dedup.neardupPairs(Dedup.cappedShinglesOf(d)),
      contam: Option[org.apache.spark.sql.DataFrame] = None,
      clusterLabels: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stopList = array(Seq("the", "and", "of", "a", "to").map(lit): _*)
    val quality = docs.select($"doc_id",
      (size(split($"text", " ")) >= 20 &&
        size(filter(split(lower($"text"), " "), x => array_contains(stopList, x))) > 0).as("q_ok"))
    val exactKeep = docs
      .select($"doc_id", sha2(lower(trim($"text")), 256).as("ck"))
      .select($"doc_id", min($"doc_id").over(Window.partitionBy($"ck")).as("keep_id"))
    val clusters = clusterLabels.getOrElse(
      Dedup.minLabelComponents(
          docs.select($"doc_id"),
          nearPairs(docs).select($"doc_a", $"doc_b"))
        .toDF("doc_id", "cluster_id"))
    val contaminated = contam.getOrElse(Dedup.contamination(docs, isEval))
      .select($"doc_id", lit(1).as("is_contam"))
    docs.select($"doc_id", isEval.as("is_eval"))
      .join(quality, Seq("doc_id"))
      .join(exactKeep, Seq("doc_id"))
      .join(clusters, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"is_eval", "eval_holdout")
          .when(!$"q_ok", "low_quality")
          .when($"keep_id" =!= $"doc_id", "exact_dup")
          .when($"cluster_id" =!= $"doc_id", "near_dup")
          .when($"is_contam" === 1, "contaminated")
          .otherwise("keep").as("verdict"))
      .orderBy($"doc_id")
  }

  /** q127 ON THE 100 TB PATH: the identical curation pipeline with the
    * near-dup stage riding [[Dedup.neardupPairsPortableLshVerified]] —
    * banded-bucket candidates, exact-verified — instead of the exact
    * capped inverted index: the knob the capstones turn at fleet scale,
    * shipped as its own entry so the swap is benched and gated end to end.
    *
    * STRICT since r9 (formerly rows-only on MLlib's seed-specific
    * MinHashLSH): re-based on the PORTABLE md5 double-hashing signatures
    * (q494) and 4×4 band keys (q495), the DuckDB oracle re-derives the
    * IDENTICAL banded candidate set, verifies it against the same capped-
    * shingle Jaccard, and replays the whole verdict pipeline — so the
    * sub-quadratic path is driver-verified outright, not just law-related
    * to q127. CurationSpec's containment law still pins the q127
    * relationship (a banding miss can only move a doc from near_dup
    * toward {keep, contaminated}).
    *
    * 100 TB plan: identical to q127 except the pair stage never builds a
    * shingle×shingle join — candidates come from banded minhash buckets
    * (bounded md5 + 16-way explode + min agg, then census-sized band
    * keys); everything downstream (components, verdict joins) is
    * unchanged. */
  val q349CurationLsh: GraftQuery = GraftQuery.oracled(
    "q349_curation_lsh",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 14)) AS BIGINT) AS lo,
      |              CAST(('0x' || substr(md5(s), 17, 14)) AS BIGINT) AS hi FROM sh),
      |sig AS (SELECT doc_id, i, CAST(min((lo + i * hi) % 72057594037927936) AS BIGINT) AS minhash
      |        FROM hh, (SELECT unnest(generate_series(0, 15)) AS i) g GROUP BY 1, 2),
      |band AS (SELECT doc_id, i // 4 AS b,
      |                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS bk
      |         FROM sig GROUP BY doc_id, i // 4),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |         FROM band a JOIN band b2 ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id),
      |pairs AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
      |          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
      |                      JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
      |          GROUP BY 1, 2),
      |good AS (SELECT doc_a, doc_b FROM pairs
      |         JOIN sizes sa ON doc_a = sa.doc_id
      |         JOIN sizes sb ON doc_b = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM good
      |          UNION ALL SELECT doc_b, doc_a FROM good),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      |quality AS (
      |  SELECT doc_id,
      |         (len(string_split(text, ' ')) >= 20
      |          AND len(list_filter(string_split(lower(text), ' '),
      |                x -> list_contains(['the', 'and', 'of', 'a', 'to'], x))) > 0) AS q_ok
      |  FROM documents),
      |keys AS (SELECT doc_id, sha256(lower(trim(text))) AS ck FROM documents),
      |exact_keep AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY ck) AS keep_id FROM keys),
      |sh5 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |g5 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
      |       FROM sh5, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i)),
      |contaminated AS (
      |  SELECT DISTINCT tr.doc_id
      |  FROM (SELECT doc_id, s FROM g5 WHERE doc_id % 50 <> 0) tr
      |  JOIN (SELECT s FROM g5 WHERE doc_id % 50 = 0) ev ON tr.s = ev.s)
      |SELECT d.doc_id,
      |       CASE WHEN d.doc_id % 50 = 0        THEN 'eval_holdout'
      |            WHEN NOT q.q_ok               THEN 'low_quality'
      |            WHEN ek.keep_id <> d.doc_id   THEN 'exact_dup'
      |            WHEN cl.cluster_id <> d.doc_id THEN 'near_dup'
      |            WHEN ct.doc_id IS NOT NULL    THEN 'contaminated'
      |            ELSE 'keep' END AS verdict
      |FROM documents d
      |JOIN quality q      ON d.doc_id = q.doc_id
      |JOIN exact_keep ek  ON d.doc_id = ek.doc_id
      |JOIN clusters cl    ON d.doc_id = cl.doc_id
      |LEFT JOIN contaminated ct ON d.doc_id = ct.doc_id
      |ORDER BY d.doc_id""") { (spark, dir) =>
    import spark.implicits._
    curate(Tables.documents(spark, dir), $"doc_id" % 50 === 0,
      _ => Dedup.corpusPortablePairs(spark, dir),
      contam = Some(Dedup.corpusContamination(spark, dir)),
      clusterLabels = Some(Dedup.corpusPortableClusters(spark, dir)))
  }

  /** NEYMAN-OPTIMAL EVAL ALLOCATION — how many eval docs to draw from each
    * source: a fixed budget of 100 is split ∝ N_h·S_h (stratum size ×
    * stddev of n_chars — Neyman 1934, the allocation that minimizes the
    * estimator variance), then integerized by q310's largest-remainder
    * machinery so the allocations sum EXACTLY to the budget. The float
    * stddev is collapsed to an integer weight via floor(n·√(exact-integer
    * variance expression)) — every operand derives from exact integer
    * moments, so both engines floor the identical double and the
    * remainder ranking can never flip on float jitter.
    *
    * 100 TB plan: one exact-moments census per source (map-side
    * combined), then all allocation arithmetic on the source-count-sized
    * census — the single-partition remainder rank is the correct plan
    * there (q310's note). */
  val q361NeymanAllocation: GraftQuery = GraftQuery.oracled(
    "q361_neyman_allocation",
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |                  CAST(sum(n_chars) AS BIGINT) AS sx,
      |                  CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
      |           FROM documents GROUP BY source),
      |w AS (SELECT source, n,
      |             CAST(floor(n * sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |                                 / (n * (n - 1)))) AS BIGINT) AS wt
      |      FROM m),
      |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM w),
      |q AS (SELECT source, n, wt, 100 * wt // tw AS fl, 100 * wt % tw AS rem
      |      FROM w, tot),
      |l AS (SELECT CAST(100 - sum(fl) AS BIGINT) AS leftover FROM q),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
      |SELECT r.source, r.n AS n_docs, r.wt AS weight,
      |       CAST(r.fl AS BIGINT) AS floor_alloc,
      |       CAST(r.fl + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
      |FROM r, l
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val m = Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"n_chars").cast("long").as("sx"),
        sum($"n_chars" * $"n_chars").cast("long").as("sxx"))
    val w = m.select($"source", $"n",
      floor($"n" * sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")
        / ($"n" * ($"n" - 1)))).cast("long").as("wt"))
    val tot = w.agg(sum($"wt").cast("long").as("tw"))
    val q = w.crossJoin(broadcast(tot))
      .select($"source", $"n", $"wt",
        expr("(100 * wt) div tw").as("fl"),
        ((lit(100) * $"wt") % $"tw").as("rem"))
    val l = q.agg((lit(100) - sum($"fl")).cast("long").as("leftover"))
    // source census is 5 rows — single-partition rank is the right plan
    val r = q.withColumn("rk",
      row_number().over(Window.orderBy($"rem".desc, $"source")))
    r.crossJoin(broadcast(l))
      .select($"source", $"n".as("n_docs"), $"wt".as("weight"),
        $"fl".cast("long").as("floor_alloc"),
        ($"fl" + when($"rk" <= $"leftover", 1).otherwise(0)).cast("long").as("alloc"))
      .orderBy($"source")
  }

  /** CURRICULUM MANIFEST — deterministic easy-to-hard training order with
    * reproducible within-phase shuffling: docs are quartiled by length
    * (the standard difficulty proxy; phase 1 = shortest) with fully
    * pinned ties, then shuffled INSIDE each phase by the md5 coin
    * (q249's hash-as-random-oracle trick) so the order is exchangeable
    * yet bit-identical across runs, engines and re-partitioning — the
    * property an actual training job needs for resumability. The running
    * token budget per phase is the number the dataloader provisions.
    *
    * 100 TB plan: the quartile assignment runs TWO-PHASE over the DOC
    * census (TwoPhase.rowNumber, bucket = n_tokens itself — trivially
    * monotone in the leading sort key): per-bin parallel ranks +
    * bins-sized broadcast offsets, never a single-task census sort even
    * at billion-doc counts; the within-phase shuffle and budget are
    * per-phase windows — 4-way parallel, never corpus-global. */
  val q356CurriculumManifest: GraftQuery = GraftQuery.oracled(
    "q356_curriculum_manifest",
    """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |ph AS (SELECT doc_id, n_tokens, ntile(4) OVER (ORDER BY n_tokens, doc_id) AS phase FROM d),
      |sh AS (SELECT phase, doc_id, n_tokens,
      |              row_number() OVER (PARTITION BY phase
      |                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank_in_phase,
      |              sum(n_tokens) OVER (PARTITION BY phase
      |                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |       FROM ph)
      |SELECT phase, rank_in_phase, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM sh
      |ORDER BY phase, rank_in_phase""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
    val ph = graft.operators.TwoPhase.rowNumber(d,
        bucket = $"n_tokens",
        sort = Seq($"n_tokens", $"doc_id"),
        out = "__rn", totalOut = Some("__n"))
      .withColumn("phase",
        graft.operators.TwoPhase.ntileFromRn($"__rn", $"__n", 4))
      .drop("__rn", "__n")
    val wSh = Window.partitionBy($"phase")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    ph.select($"phase",
        row_number().over(wSh).as("rank_in_phase"),
        $"doc_id", $"n_tokens",
        sum($"n_tokens").over(
          wSh.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long").as("cum_tokens"))
      .orderBy($"phase", $"rank_in_phase")
  }

  /** CLASS-BALANCED DOWNSAMPLING — cap every language at the SMALLEST
    * class's size (exact balance, the standard rebalance before training a
    * classifier or mixing a multilingual corpus): per lang, keep the m
    * docs with the smallest md5 coin (q249's hash-as-random-oracle — an
    * exchangeable yet bit-reproducible, engine-portable draw), m = min
    * class count. Unlike q101's Bernoulli sampleBy (rate-based, ±binomial
    * noise), this is an EXACT-size draw: every class lands on precisely m.
    *
    * 100 TB plan: the per-class rank rides [[TwoPhase.rowNumberKeyed]] —
    * lang has 5 values, so a plain per-class window would serialize 20%
    * of the corpus into one task; keyed two-phase keeps every task
    * bounded (local ranks per (lang, coin-bin) + a (langs × 256-bin)
    * broadcast offsets table). m is a 1-row broadcast. */
  val q470BalancedDownsample: GraftQuery = GraftQuery.oracled(
    "q470_balanced_downsample",
    """WITH m AS (SELECT min(cnt) AS m FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)),
      |r AS (SELECT doc_id, lang,
      |             row_number() OVER (PARTITION BY lang
      |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM documents)
      |SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS pick_rank
      |FROM r, m WHERE r.rk <= m.m
      |ORDER BY r.doc_id""") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", md5($"doc_id".cast("string")).as("coin"))
    val m = docs.groupBy($"lang").agg(count(lit(1)).as("cnt"))
      .agg(min($"cnt").as("m"))
    graft.operators.TwoPhase.rowNumberKeyed(docs, Seq("lang"),
        bucket = conv(substring($"coin", 1, 2), 16, 10).cast("long"),
        sort = Seq($"coin", $"doc_id"),
        out = "pick_rank")
      .crossJoin(broadcast(m))
      .filter($"pick_rank" <= $"m")
      .select($"doc_id", $"lang", $"pick_rank")
      .orderBy($"doc_id")
  }

  /** Training-sequence packing, GPT-style: per source, documents are
    * concatenated in doc_id order and the token stream is cut at exact
    * B-token boundaries (docs SPLIT across sequences — the standard
    * pre-training packing; greedy no-split first-fit is inherently
    * sequential and packs worse). Pure prefix-sum formulation: each doc's
    * global token offset is a running sum, and the doc overlaps sequences
    * floor(start/B)..floor((end-1)/B) — one window pass + one bounded
    * explode (a doc of n tokens spans ≤ n/B+1 sequences, so the exploded
    * stream is ≤ corpus + #seqs rows, never quadratic).
    *
    * 100 TB plan: the cumsum window partitions by source, so sources fill
    * in parallel and state per task is one running long. A single gigantic
    * source would serialize its window into one task — the q97 two-phase
    * split (per-partition subtotals, broadcast offsets) is the documented
    * fix; per-source is the natural packing unit here (mixture weights are
    * per-source anyway). */
  val q137SequencePacking: GraftQuery = GraftQuery.oracled(
    "q137_sequence_packing",
    """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n FROM documents),
      |o AS (SELECT doc_id, source, n,
      |             coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
      |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      |      FROM d)
      |SELECT doc_id, source, CAST(seq_id AS BIGINT) AS seq_id,
      |       CAST(least(start + n, (seq_id + 1) * 512) - greatest(start, seq_id * 512) AS BIGINT) AS n_toks_in_seq
      |FROM o, LATERAL (SELECT unnest(generate_series(CAST(start // 512 AS BIGINT), CAST((start + n - 1) // 512 AS BIGINT))) AS seq_id)
      |ORDER BY source, doc_id, seq_id""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("n"))
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("start", coalesce(sum($"n").over(w), lit(0L)))
      .withColumn("seq_id", explode(sequence(
        expr("start DIV 512"), expr("(start + n - 1) DIV 512"))))
      .select($"doc_id", $"source", $"seq_id",
        (least($"start" + $"n", ($"seq_id" + 1) * 512) -
          greatest($"start", $"seq_id" * 512)).as("n_toks_in_seq"))
      .orderBy($"source", $"doc_id", $"seq_id")
  }

  /** Source-mixture downsampling to a uniform target: the largest sources
    * are thinned so every source contributes ≈ the smallest source's doc
    * count — the mixture-reweighting step every multi-corpus pre-training
    * run applies (no upsampling: keep_prob = min_n / n_s ≤ 1). Selection is
    * the engine-portable md5 coin from q102 (hash(doc_id) mod 1e6 < p·1e6),
    * so the EXACT kept set is oracle-able, not just the rates.
    *
    * 100 TB plan: per-source counts are one tiny agg (broadcast back); the
    * keep decision is a map-side projection — the corpus is scanned once
    * and never shuffled. */
  val q138SourceMixing: GraftQuery = GraftQuery.oracled(
    "q138_source_mixing",
    """WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |target AS (SELECT min(n) AS min_n FROM counts),
      |probs AS (SELECT source, n, CAST(min_n AS DOUBLE) / n AS keep_prob FROM counts, target)
      |SELECT d.doc_id, d.source
      |FROM documents d JOIN probs USING (source)
      |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      < CAST(floor(keep_prob * 1000000) AS BIGINT)
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val probs = counts.crossJoin(broadcast(counts.agg(min($"n").as("min_n"))))
      .select($"source", ($"min_n".cast("double") / $"n").as("keep_prob"))
    val coin = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L
    docs.join(broadcast(probs), Seq("source"))
      .filter(coin < floor($"keep_prob" * 1000000L).cast("long"))
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** Weighted sampling WITHOUT replacement, Efraimidis–Spirakis: top-10
    * docs per source drawn with probability proportional to weight
    * (n_chars here — in production the quality score). Each doc gets key
    * ln(u)/w for a uniform u; the k LARGEST keys are an exact weighted
    * sample without replacement — one projection + one top-k window, no
    * rejection loop, no sequential pass. The uniform draw is the portable
    * md5 coin (q102's trick) and the key is rounded with a doc_id
    * tie-break, so the EXACT sampled set is deterministic and oracle-able
    * cross-engine.
    *
    * 100 TB plan: keys are map-side; the window shuffles on `source` and
    * top-k short-circuits via WindowGroupLimit. A skewed giant source goes
    * through the q97 two-phase split (per-partition top-k, then merge). */
  val q146WeightedSample: GraftQuery = GraftQuery.oracled(
    "q146_weighted_sample",
    """WITH u AS (SELECT doc_id, source, n_chars,
      |                  (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 + 1) / 1000000.0 AS coin
      |           FROM documents),
      |k AS (SELECT doc_id, source, round(ln(coin) / n_chars, 9) AS skey FROM u),
      |r AS (SELECT doc_id, source,
      |             CAST(row_number() OVER (PARTITION BY source ORDER BY skey DESC, doc_id) AS INT) AS rnk
      |      FROM k)
      |SELECT source, doc_id, rnk FROM r WHERE rnk <= 10
      |ORDER BY source, rnk""") { (spark, dir) =>
    import spark.implicits._
    val coin = (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000000L + 1L) / lit(1000000.0)
    val k = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        round(log(coin) / $"n_chars", 9).as("skey"))
    val w = Window.partitionBy($"source").orderBy($"skey".desc, $"doc_id")
    k.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 10)
      .select($"source", $"doc_id", $"rnk")
      .orderBy($"source", $"rnk")
  }

  /** Per-source quantile normalization of a quality signal: percent_rank
    * maps every source's score distribution onto [0,1], making scores
    * COMPARABLE across sources before a global quality cutoff — without it
    * a verbose source's raw lengths would dominate a terse one's. Unique
    * (score, doc_id) ordering makes the rank — and hence the output —
    * exactly deterministic on both engines (ranks are integer arithmetic,
    * no float divergence).
    *
    * 100 TB plan: one window shuffle on `source`; a giant source becomes
    * the q97 two-phase global-rank shape (per-partition counts, broadcast
    * offsets). */
  val q147QuantileNorm: GraftQuery = GraftQuery.oracled(
    "q147_quantile_norm",
    """SELECT doc_id, source,
      |       round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id), 6) AS qnorm
      |FROM documents
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        round(percent_rank().over(w), 6).as("qnorm"))
      .orderBy($"doc_id")
  }

  /** Dictionary-encode the corpus to dense token ids: build a vocabulary
    * with contiguous ids ranked by (frequency DESC, token), then rewrite
    * every document as its id sequence — the tokenize-to-ints step every
    * training pipeline runs before batching, oracle'd end-to-end (the id
    * sequence is emitted as a space-joined string on BOTH sides so the
    * driver's scalar comparator can hash it; DuckDB reproduces it exactly).
    *
    * 100 TB plan: the vocabulary is Heaps-law-bounded (≈ millions of rows
    * for a 100 TB corpus — square-root-ish growth), so the global
    * `row_number` ranking it is a single-task window over a VOCAB-sized
    * input, not a corpus-sized one (were the vocab itself huge, q97's
    * two-phase rank is the drop-in). The vocab then broadcasts; encoding is
    * a map-side join plus one `doc_id`-keyed aggregation whose
    * `sort_array(collect_list(struct(pos, id)))` restores token order
    * without a window. Positions index the RAW split array on both sides,
    * so empty-token filtering cannot desynchronize the sequences. */
  val q162DictEncode: GraftQuery = GraftQuery.oracled(
    "q162_dict_encode",
    """WITH tok0 AS (
      |  SELECT doc_id, i - 1 AS pos, l[i] AS t
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS l
      |        FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS g(i)),
      |tok AS (SELECT * FROM tok0 WHERE t <> ''),
      |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
      |vocab AS (SELECT t, row_number() OVER (ORDER BY c DESC, t) AS id FROM cnt)
      |SELECT doc_id,
      |       string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS ids,
      |       CAST(count(*) AS BIGINT) AS n_tokens
      |FROM tok JOIN vocab USING (t)
      |GROUP BY doc_id
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split(lower($"text"), "[^a-z]+")))
      .withColumnRenamed("col", "t")
      .filter($"t" =!= "")
    val vocab = tok.groupBy($"t").agg(count(lit(1)).as("c"))
      .withColumn("id", row_number()
        .over(Window.orderBy($"c".desc, $"t")).cast("long"))
      .select($"t", $"id")
    tok.join(broadcast(vocab), "t")
      .groupBy($"doc_id")
      .agg(
        array_join(
          transform(sort_array(collect_list(struct($"pos", $"id"))),
            x => x.getField("id").cast("string")), " ").as("ids"),
        count(lit(1)).cast("long").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** Deterministic HASH RESERVOIR: exactly min(3, |group|) docs per source,
    * chosen by smallest md5(doc_id) — a uniform-quality fixed-size sample
    * that is reproducible across runs, engines, and (unlike RNG reservoirs)
    * under re-partitioning; the standard way eval/holdout slices get pinned
    * per source. Hash-rank selection ≡ sorting by a random-oracle key, so
    * the sample is exchangeable; the exact selected SET is oracle-able.
    *
    * 100 TB plan: at scale the per-group top-3-by-hash runs through q218's
    * bounded-heap shape (or TABLESAMPLE for non-exact needs) — one shuffle
    * keyed on source, k·groups resident rows, no global sort. */
  val q249HashReservoir: GraftQuery = GraftQuery.oracled(
    "q249_hash_reservoir",
    """WITH r AS (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT source, CAST(rk AS INT) AS rk, doc_id
      |FROM r WHERE rk <= 3
      |ORDER BY source, rk""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", row_number().over(w).as("rk"))
      .filter($"rk" <= 3)
      .select($"source", $"rk".cast("int").as("rk"), $"doc_id")
      .orderBy($"source", $"rk")
  }

  /** LENGTH-BUCKETED BATCH PLANNING (the trainer's `group_by_length`):
    * q260 prices the no-sort policy (pad everything to the next multiple
    * of B); this PLANS the bucketed alternative — docs are bucketed by
    * ⌈len/64⌉, ordered deterministically inside each bucket (md5 coin,
    * the q249 trick — grouping by length must not also sort by length,
    * or batch composition becomes a curriculum side-effect), cut into
    * 32-doc batches, and each batch pads only to ITS OWN max length. The
    * report per bucket: batches, real tokens, padded tokens, padding
    * share — the measured savings that justify the strategy (typically
    * 2-5× less padding than global-max padding). Exact integers until
    * the final ppm.
    *
    * 100 TB plan: one length projection, one bucket-keyed window for the
    * deterministic batch assignment (buckets are parallel; within-bucket
    * order is the md5 coin, never a global sort), one batch-max agg —
    * the same shapes as q137/q356. */
  val q381BucketedBatches: GraftQuery = GraftQuery.oracled(
    "q381_bucketed_batches",
    """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |                  CAST(ceil(len(string_split(text, ' ')) / 64.0) AS BIGINT) AS bkt
      |           FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY bkt
      |                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM d),
      |b AS (SELECT bkt, (rk - 1) // 32 AS batch_id, n FROM r),
      |m AS (SELECT bkt, batch_id, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(n) AS BIGINT) AS real_toks,
      |             CAST(count(*) * max(n) - sum(n) AS BIGINT) AS pad_toks
      |      FROM b GROUP BY bkt, batch_id)
      |SELECT bkt, CAST(count(*) AS BIGINT) AS n_batches,
      |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |       CAST(sum(real_toks) AS BIGINT) AS real_tokens,
      |       CAST(sum(pad_toks) AS BIGINT) AS pad_tokens,
      |       CAST(1000000 * sum(pad_toks) // (sum(real_toks) + sum(pad_toks)) AS BIGINT) AS pad_ppm
      |FROM m
      |GROUP BY bkt
      |ORDER BY bkt""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .withColumn("bkt", ceil($"n" / 64.0).cast("long"))
    val wB = Window.partitionBy($"bkt")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val m = d.withColumn("rk", row_number().over(wB))
      .withColumn("batch_id", expr("(rk - 1) div 32"))
      .groupBy($"bkt", $"batch_id")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"n").cast("long").as("real_toks"),
        (count(lit(1)) * max($"n") - sum($"n")).cast("long").as("pad_toks"))
    m.groupBy($"bkt")
      .agg(count(lit(1)).cast("long").as("n_batches"),
        sum($"n_docs").cast("long").as("n_docs"),
        sum($"real_toks").cast("long").as("real_tokens"),
        sum($"pad_toks").cast("long").as("pad_tokens"),
        expr("(1000000 * sum(pad_toks)) div (sum(real_toks) + sum(pad_toks))")
          .cast("long").as("pad_ppm"))
      .orderBy($"bkt")
  }

  /** PACKING-EFFICIENCY report: if every document were padded alone to the
    * next multiple of B (the no-concat batching policy), how much of the
    * batch is padding — evaluated at B ∈ {128, 256, 512}. The cost model
    * that justifies q137's concat-packing: efficiency = Σn / Σ⌈n/B⌉·B,
    * exact integers until the final ratio.
    *
    * 100 TB plan: one token-count projection feeds three constant-size
    * aggregates — a single scan regardless of how many candidate Bs are
    * evaluated. */
  val q260PackingEfficiency: GraftQuery = GraftQuery.oracled(
    "q260_packing_efficiency",
    """WITH d AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
      |e AS (
      |  SELECT 128 AS bucket, count(*) AS n_docs, sum(n) AS toks,
      |         sum(((n + 127) // 128) * 128) AS padded FROM d
      |  UNION ALL
      |  SELECT 256, count(*), sum(n), sum(((n + 255) // 256) * 256) FROM d
      |  UNION ALL
      |  SELECT 512, count(*), sum(n), sum(((n + 511) // 512) * 512) FROM d)
      |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
      |       CAST(toks AS BIGINT) AS total_tokens,
      |       CAST(padded AS BIGINT) AS padded_tokens,
      |       round(toks * 1.0 / padded, 4) AS efficiency
      |FROM e ORDER BY bucket""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select(size(split($"text", " ")).cast("long").as("n"))
    def at(b: Int) = d.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum($"n").cast("long").as("total_tokens"),
      sum(expr(s"((n + ${b - 1}) DIV $b) * $b")).cast("long").as("padded_tokens"))
      .select(lit(b).as("bucket"), $"n_docs", $"total_tokens", $"padded_tokens",
        round($"total_tokens" * lit(1.0) / $"padded_tokens", 4).as("efficiency"))
    at(128).unionAll(at(256)).unionAll(at(512)).orderBy($"bucket")
  }

  /** OOV-RATE audit against a reference vocabulary: the corpus's own
    * top-1000 tokens (by count, tie-broken lexically) stand in for the
    * tokenizer vocab, and each source is scored by the share of its token
    * OCCURRENCES falling outside it — the coverage check run before
    * committing a tokenizer to a data mix. Exact integer counts; rate in
    * exact ppm.
    *
    * 100 TB plan: vocab derives from the global token census (one
    * hash-agg + a bounded top-k) and BROADCASTS; each source's score is a
    * map-side membership test + one grouped agg. */
  val q261OovRate: GraftQuery = GraftQuery.oracled(
    "q261_oov_rate",
    """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |tc AS (SELECT tok, count(*) AS c FROM t WHERE tok <> '' GROUP BY tok),
      |v AS (SELECT tok FROM tc ORDER BY c DESC, tok LIMIT 1000),
      |s AS (SELECT t.source,
      |             count(*) AS n_occ,
      |             sum(CASE WHEN t.tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END) AS n_oov
      |      FROM t WHERE t.tok <> ''
      |      GROUP BY t.source)
      |SELECT source, CAST(n_occ AS BIGINT) AS n_occ, CAST(n_oov AS BIGINT) AS n_oov,
      |       CAST(n_oov * 1000000 // n_occ AS BIGINT) AS oov_ppm
      |FROM s ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val t = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
    val v = t.groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok").limit(1000).select($"tok", lit(1).as("in_v"))
    t.join(broadcast(v), Seq("tok"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_occ"),
        sum(when($"in_v".isNull, 1).otherwise(0)).as("n_oov"))
      .select($"source", $"n_occ".cast("long").as("n_occ"),
        $"n_oov".cast("long").as("n_oov"),
        expr("CAST(n_oov * 1000000 DIV n_occ AS BIGINT)").as("oov_ppm"))
      .orderBy($"source")
  }

  /** EXACT-PROPORTION stratified train/val/test split: within each stratum
    * (source), docs are ranked by md5(doc_id) — the q249 random-oracle key
    * — and cut at EXACT boundaries: first ⌈0.8·n⌉ → train, next ⌈0.1·n⌉ →
    * val, rest → test. Unlike q101/q102's Bernoulli coins (whose split
    * sizes are only correct in expectation), the per-stratum counts here
    * are deterministic integers — the contract eval-set budgeting needs.
    * The output is the per-(source, split) census plus each split's first
    * doc (min doc_id) as an auditable witness.
    *
    * 100 TB plan: one per-stratum window on the hash key (shuffle keyed on
    * source; within-stratum sort is the price of EXACT quotas — pay it
    * only for eval slices, use q102's coin for the 99%-train bulk), then a
    * map-side-combined census. No driver-side data movement. */
  val q283ExactStratifiedSplit: GraftQuery = GraftQuery.oracled(
    "q283_exact_stratified_split",
    """WITH r AS (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents),
      |s AS (SELECT source, doc_id,
      |             CASE WHEN rk <= floor((8 * n + 9) / 10) THEN 'train'
      |                  WHEN rk <= floor((8 * n + 9) / 10) + floor((n + 9) / 10) THEN 'val'
      |                  ELSE 'test' END AS split
      |      FROM r)
      |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
      |       min(doc_id) AS first_doc
      |FROM s GROUP BY source, split
      |ORDER BY source, split""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val wAll = Window.partitionBy($"source")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("split",
        // integer-safe ceil(0.8n)/ceil(0.1n): (8n+9)/10 is never an exact
        // integer (8n+9 ≢ 0 mod 10), so double floor can't straddle engines
        when($"rk" <= floor(($"n" * 8 + 9) / 10), "train")
          .when($"rk" <= floor(($"n" * 8 + 9) / 10) + floor(($"n" + 9) / 10), "val")
          .otherwise("test"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min($"doc_id").as("first_doc"))
      .orderBy($"source", $"split")
  }

  /** q300's oracle: q127's verdict pipeline re-used VERBATIM as a CTE
    * (string surgery on its oracle text — one source of truth for the
    * curation rules), extended with the cluster-coin split (q298's rule)
    * and the per-(split, source) manifest rollup. Sequence estimates use
    * ⌈tokens/512⌉ via /512.0 — a power-of-two division, exact in binary
    * floating point, so the ceil can never straddle engines. */
  private lazy val q300Sql: String = {
    // base switched from q127's EXACT-pair pipeline to q349's PORTABLE-LSH
    // pipeline in r9: q300's engine rides the portable banded pair stage,
    // and only an oracle that derives the identical candidates can mirror
    // a banding miss (the sf1 lesson — see portableCandPairsSql)
    val base = q349CurationLsh.oracle.get
    val idx = base.lastIndexOf("SELECT d.doc_id,")
    val ctes = base.substring(0, idx).trim
    val finalSel = base.substring(idx).replace("ORDER BY d.doc_id", "").trim
    ctes + ",\nverdicts AS (" + finalSel + """),
      |kept AS (
      |  SELECT v.doc_id, cl.cluster_id, d.source,
      |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
      |  FROM verdicts v
      |  JOIN clusters cl ON v.doc_id = cl.doc_id
      |  JOIN documents d ON v.doc_id = d.doc_id
      |  WHERE v.verdict = 'keep'),
      |asg AS (
      |  SELECT source, n_tok,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 800000 THEN 'train'
      |              WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 900000 THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM kept)
      |SELECT split, source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |       CAST(floor((sum(n_tok) + 511) / 512.0) AS BIGINT) AS n_sequences_512
      |FROM asg GROUP BY split, source
      |ORDER BY split, source""".stripMargin
  }

  /** TRAINING-DATA EXPORT MANIFEST — the capstone deliverable an LLM data
    * engine actually ships: q127's full curation pipeline (holdout,
    * quality, exact dup, near dup, contamination) selects the kept docs,
    * q298's cluster-consistent md5 coin assigns leak-free train/val/test,
    * and the manifest reports, per (split, source), document count, token
    * budget, and the 512-token sequence estimate the trainer provisions
    * for. One query = the handoff contract between data curation and the
    * training job.
    *
    * 100 TB plan: every stage reuses an already-audited shape — the pair
    * stage is the SUB-QUADRATIC portable sketch-then-verify default
    * ([[Dedup.neardupPairsPortableLshVerified]]: md5 banded candidates,
    * exact-verified, and the oracle derives the identical candidates so
    * banding misses mirror — the r9 sf1 lesson), q109 star closure,
    * broadcast eval-grams, hash census; the manifest rollup is map-side-
    * combined over (split, source) — the output is dashboard-sized. */
  val q300ExportManifest: GraftQuery = GraftQuery(
    "q300_export_manifest",
    GraftQuery.onEngineSession { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // DEFAULT = the sub-quadratic PORTABLE sketch-then-verify path (md5
    // banded candidates, exact-Jaccard-verified — the oracle derives the
    // identical candidate set, so banding misses land on both sides);
    // computed ONCE (localCheckpoint) and fed to both curate's near-dup
    // stage and the split clustering
    val pairs = Dedup.corpusPortablePairs(spark, dir)
      .select($"doc_a", $"doc_b")
    val clusters = Dedup.corpusPortableClusters(spark, dir) // memoized labels
    val verdicts = curate(docs, $"doc_id" % 50 === 0, _ => pairs,
      contam = Some(Dedup.corpusContamination(spark, dir)),
      clusterLabels = Some(clusters))
    def coin(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 1000000L
    verdicts.filter($"verdict" === "keep")
      .join(clusters, Seq("doc_id"))
      .join(docs.select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tok")), Seq("doc_id"))
      .withColumn("split",
        when(coin($"cluster_id") < 800000L, "train")
          .when(coin($"cluster_id") < 900000L, "val")
          .otherwise("test"))
      .groupBy($"split", $"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"n_tok").cast("long").as("n_tokens"),
        floor((sum($"n_tok") + 511) / lit(512.0)).cast("long").as("n_sequences_512"))
      .orderBy($"split", $"source")
    },
    Some(q300Sql),
    doc = "curation verdicts → cluster-coin split → per-(split, source) docs/tokens/512-token sequences")

  /** TOKEN-BUDGET WATERFILL — the greedy data-mixing allocator: given a
    * training budget of HALF the corpus tokens, fill from the
    * highest-quality source down (quality = mean distinct-token ratio, a
    * lexical-diversity proxy), taking each source whole until the budget
    * line cuts one source partially and zeroes the rest. The closed form
    * is a cumulative window over the SOURCE census: alloc = clamp(B −
    * cum_before, 0, tokens). Σalloc = B exactly (integer tokens), proven
    * by the output. q138 mixes by FIXED weights; this derives the mix
    * from measured quality under a budget — the knob an actual data-mix
    * owner turns.
    *
    * 100 TB plan: the row-scale work is one per-source token/quality agg
    * (map-side combined); the waterfill runs on the source census (a few
    * dozen rows) where the single-partition window is the right plan. */
  val q323MixWaterfill: GraftQuery = GraftQuery.oracled(
    "q323_mix_waterfill",
    """WITH d AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |s AS (SELECT source,
      |             CAST(sum(len(t)) AS BIGINT) AS n_tokens,
      |             avg(CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) AS quality
      |      FROM d WHERE len(t) > 0 GROUP BY source),
      |b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM s),
      |w AS (SELECT source, n_tokens, quality,
      |             coalesce(CAST(sum(n_tokens) OVER (ORDER BY quality DESC, source
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
      |      FROM s)
      |SELECT w.source, w.n_tokens, round(w.quality, 6) AS quality, w.cum_before,
      |       CAST(least(greatest(b.budget - w.cum_before, 0), w.n_tokens) AS BIGINT) AS alloc_tokens,
      |       CAST(floor(1000000.0 * least(greatest(b.budget - w.cum_before, 0), w.n_tokens)
      |                  / w.n_tokens) AS BIGINT) AS fill_ppm
      |FROM w, b
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val s = Tables.documents(spark, dir)
      .select($"source", split($"text", " ").as("t"))
      .filter(size($"t") > 0)
      .groupBy($"source")
      .agg(sum(size($"t")).cast("long").as("n_tokens"),
        avg(size(array_distinct($"t")).cast("double") / size($"t")).as("quality"))
    val b = s.agg(expr("sum(n_tokens) div 2").as("budget"))
    // source census is a handful of rows — single-partition window is right
    val w = s.withColumn("cum_before",
      coalesce(sum($"n_tokens").over(
        Window.orderBy($"quality".desc, $"source")
          .rowsBetween(Window.unboundedPreceding, -1)).cast("long"), lit(0L)))
    val alloc = least(greatest($"budget" - $"cum_before", lit(0L)), $"n_tokens")
    w.crossJoin(broadcast(b))
      .select($"source", $"n_tokens", round($"quality", 6).as("quality"),
        $"cum_before", alloc.cast("long").as("alloc_tokens"),
        floor(lit(1000000.0) * alloc / $"n_tokens").cast("long").as("fill_ppm"))
      .orderBy($"source")
  }

  /** SAMPLING-TEMPERATURE MIXING STUDY (the mT5/XLM-R α-sweep, Conneau et
    * al. 2020 §5): multilingual/multi-source training samples source s with
    * probability n_s^α / Σ n_t^α — α=1 is proportional (big sources
    * dominate), α→0 is uniform (small sources oversampled). This reports
    * the weight each source gets at α ∈ {1, 1/2, 1/4} from its TOKEN count.
    * Cross-engine float discipline: α powers are computed with sqrt /
    * sqrt∘sqrt only (IEEE-correctly-rounded on both engines — pow(x, 0.25)
    * is NOT, libm differs in the last ulp), and the denominator Σ n_t^α is
    * folded left-to-right over the source-sorted list on both sides (the
    * q346 ordered-fold trick), so every weight is bit-reproducible.
    *
    * 100 TB plan: one token-census agg (source-sized output), then pure
    * driver-scale arithmetic over ≤ sources rows; the corpus is scanned
    * once. */
  val q389TemperatureMixing: GraftQuery = GraftQuery.oracled(
    "q389_temperature_mixing",
    """WITH c AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
      |           FROM documents GROUP BY source),
      |p AS (SELECT source, toks,
      |             CAST(toks AS DOUBLE) AS p1,
      |             sqrt(CAST(toks AS DOUBLE)) AS p2,
      |             sqrt(sqrt(CAST(toks AS DOUBLE))) AS p4
      |      FROM c),
      |d AS (SELECT list_sum(list(p1 ORDER BY source)) AS d1,
      |             list_sum(list(p2 ORDER BY source)) AS d2,
      |             list_sum(list(p4 ORDER BY source)) AS d4
      |      FROM p)
      |SELECT source, toks,
      |       round(p1 / d1, 6) AS w_alpha_1,
      |       round(p2 / d2, 6) AS w_alpha_half,
      |       round(p4 / d4, 6) AS w_alpha_quarter
      |FROM p, d
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val p = Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(sum(size(split($"text", " "))).cast("long").as("toks"))
      .select($"source", $"toks",
        $"toks".cast("double").as("p1"),
        sqrt($"toks".cast("double")).as("p2"),
        sqrt(sqrt($"toks".cast("double"))).as("p4"))
    def orderedSum(c: String) = aggregate(
      transform(sort_array(collect_list(struct($"source", col(c)))),
        x => x.getField(c)),
      lit(0.0), (acc, v) => acc + v)
    val d = p.agg(orderedSum("p1").as("d1"), orderedSum("p2").as("d2"),
      orderedSum("p4").as("d4"))
    p.crossJoin(broadcast(d))
      .select($"source", $"toks",
        round($"p1" / $"d1", 6).as("w_alpha_1"),
        round($"p2" / $"d2", 6).as("w_alpha_half"),
        round($"p4" / $"d4", 6).as("w_alpha_quarter"))
      .orderBy($"source")
  }

  /** CORPUS CONTENT-CHECKSUM MANIFEST — the release-validation record an
    * export publishes next to q300's manifest: per source, the document
    * count, total characters, and an ORDER-INDEPENDENT content checksum
    * (XOR of each doc's 60-bit md5 prefix — XOR is commutative/associative
    * with no overflow, so any partitioning, any executor count, any row
    * order produces the same fingerprint; a re-run or a consumer re-hash
    * either matches bit-for-bit or the export changed). The md5 is over
    * (doc_id||':'||text) so both reorderings AND id remaps are caught.
    *
    * 100 TB plan: one map-side projection + census hash-agg; XOR partials
    * merge exactly like sums. The manifest is source-sized. */
  val q394ContentChecksum: GraftQuery = GraftQuery.oracled(
    "q394_content_checksum",
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(len(text)) AS BIGINT) AS n_chars,
      |       CAST(bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT)) AS BIGINT) AS checksum
      |FROM documents
      |GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(length($"text")).cast("long").as("n_chars"),
        expr("bit_xor(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', text)), 1, 15), 16, 10) AS BIGINT))")
          .cast("long").as("checksum"))
      .orderBy($"source")
  }

  /** CONTEXT-LENGTH TRUNCATION-LOSS CURVE — the max_seq_len sizing study:
    * if every document were truncated to L tokens, what share of the
    * corpus's tokens is cut, per source, at L ∈ {128, 512, 2048} — plus
    * the share of DOCUMENTS touched (a doc losing its tail is affected
    * even when the token share looks small). The number that arbitrates
    * "train at 2k or 8k context" against compute cost. Exact integers.
    *
    * 100 TB plan: one length projection, one census agg per (source, L)
    * over the broadcast 3-row L grid — one scan, source×3 output rows. */
  val q397TruncationLoss: GraftQuery = GraftQuery.oracled(
    "q397_truncation_loss",
    """WITH d AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
      |g AS (SELECT d.source, l.max_len, d.n,
      |             CASE WHEN d.n > l.max_len THEN d.n - l.max_len ELSE 0 END AS cut
      |      FROM d, (SELECT unnest([128, 512, 2048]) AS max_len) l)
      |SELECT source, CAST(max_len AS BIGINT) AS max_len,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(*) FILTER (WHERE cut > 0) AS BIGINT) AS docs_truncated,
      |       CAST(sum(n) AS BIGINT) AS total_tokens,
      |       CAST(sum(cut) AS BIGINT) AS tokens_cut,
      |       CAST((1000000 * sum(cut)) // sum(n) AS BIGINT) AS cut_ppm
      |FROM g
      |GROUP BY source, max_len
      |ORDER BY source, max_len""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("n"))
    val ls = Seq(128L, 512L, 2048L).toDF("max_len")
    d.crossJoin(broadcast(ls))
      .withColumn("cut", greatest($"n" - $"max_len", lit(0L)))
      .groupBy($"source", $"max_len")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        count(when($"cut" > 0, 1)).cast("long").as("docs_truncated"),
        sum($"n").cast("long").as("total_tokens"),
        sum($"cut").cast("long").as("tokens_cut"))
      .select($"source", $"max_len", $"n_docs", $"docs_truncated",
        $"total_tokens", $"tokens_cut",
        expr("(1000000 * tokens_cut) div total_tokens").cast("long").as("cut_ppm"))
      .orderBy($"source", $"max_len")
  }

  /** DUP-CLUSTER FREQUENCY REWEIGHTING — the sampling-weight fix that makes
    * "dedup by deletion" unnecessary: every document is weighted
    * 1/|its near-dup cluster| (q100's components), so each cluster
    * contributes exactly one document-equivalent to training regardless of
    * how many copies crawled in. Per source: raw docs, effective
    * (weight-summed) docs in ppm-of-raw, and the largest in-source cluster
    * — the report that decides whether to deduplicate or downweight.
    * Weights are exact rationals summed as ppm integers (1e6/|cluster| per
    * doc) — no float summation anywhere.
    *
    * 100 TB plan: pairs ride [[Dedup.neardupPairsPortableLshVerified]]
    * (sub-quadratic, and the oracle derives the IDENTICAL banded
    * candidate set via [[Dedup.portableCandPairsSql]] — a banding miss
    * lands on both sides, the r9 sf1 lesson); cluster sizes are one
    * agg over the labels, GUARDED by [[Dedup.guardClusterSizes]] (a
    * mega-cluster fails loudly); the weight join is label-keyed; the
    * census is source-sized. The components run is the amortized
    * standing index (q395). */
  val q398ClusterReweight: GraftQuery = GraftQuery.oracled(
    "q398_cluster_reweight",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |""".stripMargin + Dedup.portableCandPairsSql + """
      |good AS (SELECT doc_a, doc_b FROM pairs
      |         JOIN sizes sa ON doc_a = sa.doc_id
      |         JOIN sizes sb ON doc_b = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM good
      |          UNION ALL SELECT doc_b, doc_a FROM good),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS m FROM lab GROUP BY cluster_id),
      |w AS (SELECT d.source, l.cluster_id, cs.m, 1000000 // cs.m AS w_ppm
      |      FROM documents d JOIN lab l ON d.doc_id = l.doc_id
      |                       JOIN cs ON l.cluster_id = cs.cluster_id)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(w_ppm) AS BIGINT) AS effective_docs_ppm,
      |       CAST(max(m) AS BIGINT) AS max_cluster
      |FROM w
      |GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    // DEFAULT = sub-quadratic PORTABLE sketch-then-verify pairs — the
    // oracle derives the identical banded candidates, so this stays
    // strict even when a band misses a true pair (r9 sf1 lesson); the
    // guard fails loudly on a pathological mega-cluster before the size
    // census ever runs
    val lab = Dedup.guardClusterSizes(
      Dedup.corpusPortableClusters(spark, dir)) // memoized labels
    val cs = lab.groupBy($"cluster_id").agg(count(lit(1)).cast("long").as("m"))
    Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(lab, Seq("doc_id"))
      .join(broadcast(cs), Seq("cluster_id"))
      .withColumn("w_ppm", expr("1000000 div m").cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"w_ppm").cast("long").as("effective_docs_ppm"),
        max($"m").cast("long").as("max_cluster"))
      .orderBy($"source")
  }

  /** SINKHORN OPTIMAL-TRANSPORT MIXTURE PLAN (Cuturi 2013's matrix
    * scaling, 3 rounds) — HOW to move a corpus's language mix to a target
    * mix, not just that they differ: q152/q392 score the gap (PSI), q389
    * reweights marginally per source; this computes the full transport
    * plan T (who gives probability mass to whom) between the corpus's
    * token-share distribution over the 5 langs and the uniform target,
    * under the rank-distance cost C_ij = |i−j|. Scaling kernel
    * K_ij = 1/(1+C_ij) — RATIONAL, not exp(−C/λ): libm exp differs in the
    * last ulp across engines, 1/(1+C) does not, and any positive kernel
    * admits the same diagonal-scaling fixed point. The 5-point support is
    * PIVOTED into fixed columns, so every Σ is a literal 5-term
    * left-to-right chain — all three rounds bit-reproducible with no list
    * folds. Iterations: u ← p ⊘ Kv, v ← q ⊘ Kᵀu from v⁰ = 1;
    * T = diag(u)·K·diag(v); plan_cost = Σ T_ij·C_ij.
    *
    * 100 TB plan: one corpus scan into the 5-cell token census; the
    * scaling loop is support²-sized arithmetic on one row — iteration
    * cost independent of corpus size (a k-bin histogram at any scale). */
  val q401SinkhornMixture: GraftQuery = GraftQuery.oracled(
    "q401_sinkhorn_mixture", SinkhornGen.oracleSql) { (spark, dir) =>
    SinkhornGen.plan(spark, dir)
  }

  /** SYSTEMATIC (MADOW) WEIGHTED SAMPLING — the π-proportional-to-size
    * draw that REALIZES a mixture plan into an actual doc list (q138/q323
    * decide the shares; this draws the docs): lay every document's weight
    * (n_chars) end-to-end in md5-shuffled order, then take k = 20
    * equally-spaced selection points p_i = (2i+1)·W/2k. A doc is drawn
    * once per point inside its weight interval — heavy docs can be drawn
    * MORE THAN ONCE (with-replacement effect by design, `n_picks`
    * reports it), and Σ n_picks = k exactly. Distinct from q146 (A-ES,
    * without replacement) and q249 (unweighted hash ranks). Everything is
    * INTEGER arithmetic — interval tests are scaled by 2kW so there is no
    * float anywhere — and the corpus-scale cumulative sum runs TWO-PHASE
    * (per-md5-prefix-bin local sums + a 256-row broadcast prefix offset,
    * q97/q297's machinery), never a single-partition window; Round7bSpec
    * proves two-phase ≡ one-window and the Σ n_picks = k law.
    *
    * 100 TB plan: one scan for the bin-local window (bins are the
    * parallelism unit), one 256-row census window, one broadcast join —
    * the same shape at any corpus size. */
  val q411SystematicSample: GraftQuery = GraftQuery.oracled(
    "q411_systematic_sample",
    """WITH d AS (SELECT doc_id, source, n_chars AS w,
      |                  md5(CAST(doc_id AS VARCHAR)) AS h
      |           FROM documents),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d),
      |c AS (SELECT doc_id, source, w,
      |             CAST(COALESCE(sum(w) OVER (ORDER BY h, doc_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |      FROM d),
      |p AS (SELECT doc_id, source, w, cb, tw,
      |             CASE WHEN 40 * cb <= tw THEN 0
      |                  ELSE (40 * cb - tw + 2 * tw - 1) // (2 * tw) END AS imin,
      |             CASE WHEN 40 * (cb + w) <= tw THEN 0
      |                  ELSE (40 * (cb + w) - tw + 2 * tw - 1) // (2 * tw) END AS imax
      |      FROM c, t)
      |SELECT doc_id, source, CAST(w AS BIGINT) AS w,
      |       CAST(least(imax, 20) - least(imin, 20) AS BIGINT) AS n_picks
      |FROM p
      |WHERE least(imax, 20) - least(imin, 20) >= 1
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = 20
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars".as("w"),
        md5($"doc_id".cast("string")).as("h"))
      .withColumn("bin", substring($"h", 1, 2)) // 256 hex-prefix bins, order-compatible with h
    // phase 1: bin-local running sums (parallel over bins)
    val local = d.withColumn("cb_local",
      coalesce(sum($"w").over(Window.partitionBy($"bin").orderBy($"h", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // phase 2: 256-row bin census → broadcast prefix offsets
    val offsets = d.groupBy($"bin").agg(sum($"w").as("bw"))
      .select($"bin", coalesce(sum($"bw").over(Window.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    val tot = d.agg(sum($"w").cast("long").as("tw"))
    val c = local.join(broadcast(offsets), Seq("bin"))
      .select($"doc_id", $"source", $"w", ($"off" + $"cb_local").cast("long").as("cb"))
      .crossJoin(broadcast(tot))
    val picks = c.select($"doc_id", $"source", $"w", $"cb", $"tw",
      when(lit(2 * k) * $"cb" <= $"tw", 0L)
        .otherwise(expr(s"(${2 * k} * cb - tw + 2 * tw - 1) div (2 * tw)")).as("imin"),
      when(lit(2 * k) * ($"cb" + $"w") <= $"tw", 0L)
        .otherwise(expr(s"(${2 * k} * (cb + w) - tw + 2 * tw - 1) div (2 * tw)")).as("imax"))
    picks
      .select($"doc_id", $"source", $"w".cast("long").as("w"),
        (least($"imax", lit(k.toLong)) - least($"imin", lit(k.toLong)))
          .cast("long").as("n_picks"))
      .filter($"n_picks" >= 1)
      .orderBy($"doc_id")
  }

  /** RAKING / ITERATIVE PROPORTIONAL FITTING (Deming & Stephan 1940) —
    * 2-D quota weights: per-(source, length-bucket) cell weights that hit
    * a TIERED source target (40/30/30 across three md5-derived source
    * tiers, split evenly within a tier) on the row margin while PRESERVING
    * the corpus's observed length-bucket mix on the column margin — the
    * joint-marginal generalization of q138's 1-D mixing that survey
    * statisticians and data-mixture tuners both reach for when two quota
    * dimensions must hold at once. Three alternating row/column scaling
    * rounds in EXACT INTEGER ppm fixed point (truncating div on both
    * engines — no float ratio ever compared), unrolled identically in the
    * DuckDB oracle; the achieved row margin is reported next to its
    * target so convergence is visible in-row.
    *
    * 100 TB plan: the corpus is touched once by the cell census
    * (map-side-combined agg to |sources|×3 rows); every IPF round is
    * arithmetic on that census joined to census-sized margins — driver
    * never loops over data, and the weights broadcast back for the actual
    * weighted draw (q146's machinery). */
  val q431IpfRaking: GraftQuery = GraftQuery.oracled(
    "q431_ipf_raking",
    """WITH cell AS (
      |  SELECT source,
      |         CASE WHEN n_chars < 220 THEN 'short'
      |              WHEN n_chars < 380 THEN 'medium' ELSE 'long' END AS bucket,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |srcs AS (SELECT source,
      |                CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT) % 3 AS tier
      |         FROM (SELECT DISTINCT source FROM cell)),
      |members AS (SELECT tier, CAST(count(*) AS BIGINT) AS m FROM srcs GROUP BY 1),
      |ntot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cell),
      |rtgt AS (SELECT s.source,
      |                CAST((CASE WHEN s.tier = 0 THEN 400000
      |                           WHEN s.tier = 1 THEN 300000
      |                           ELSE 300000 END // m.m) * nt AS BIGINT) AS ts
      |         FROM srcs s JOIN members m USING (tier), ntot),
      |ctgt AS (SELECT bucket, CAST(sum(n) * 1000000 AS BIGINT) AS cb
      |         FROM cell GROUP BY 1),
      |c0 AS (SELECT source, bucket, n, CAST(1000000 AS BIGINT) AS w FROM cell),
      |mr1 AS (SELECT source, CAST(sum(n * w) AS BIGINT) AS m FROM c0 GROUP BY 1),
      |c1 AS (SELECT c.source, c.bucket, c.n, CAST(c.w * t.ts // m.m AS BIGINT) AS w
      |       FROM c0 c JOIN mr1 m USING (source) JOIN rtgt t USING (source)),
      |mc1 AS (SELECT bucket, CAST(sum(n * w) AS BIGINT) AS m FROM c1 GROUP BY 1),
      |c2 AS (SELECT c.source, c.bucket, c.n, CAST(c.w * t.cb // m.m AS BIGINT) AS w
      |       FROM c1 c JOIN mc1 m USING (bucket) JOIN ctgt t USING (bucket)),
      |mr2 AS (SELECT source, CAST(sum(n * w) AS BIGINT) AS m FROM c2 GROUP BY 1),
      |c3 AS (SELECT c.source, c.bucket, c.n, CAST(c.w * t.ts // m.m AS BIGINT) AS w
      |       FROM c2 c JOIN mr2 m USING (source) JOIN rtgt t USING (source)),
      |mc2 AS (SELECT bucket, CAST(sum(n * w) AS BIGINT) AS m FROM c3 GROUP BY 1),
      |c4 AS (SELECT c.source, c.bucket, c.n, CAST(c.w * t.cb // m.m AS BIGINT) AS w
      |       FROM c3 c JOIN mc2 m USING (bucket) JOIN ctgt t USING (bucket)),
      |mr3 AS (SELECT source, CAST(sum(n * w) AS BIGINT) AS m FROM c4 GROUP BY 1),
      |c5 AS (SELECT c.source, c.bucket, c.n, CAST(c.w * t.ts // m.m AS BIGINT) AS w
      |       FROM c4 c JOIN mr3 m USING (source) JOIN rtgt t USING (source)),
      |mc3 AS (SELECT bucket, CAST(sum(n * w) AS BIGINT) AS m FROM c5 GROUP BY 1),
      |c6 AS (SELECT c.source, c.bucket, c.n, CAST(c.w * t.cb // m.m AS BIGINT) AS w
      |       FROM c5 c JOIN mc3 m USING (bucket) JOIN ctgt t USING (bucket)),
      |mrf AS (SELECT source, CAST(sum(n * w) AS BIGINT) AS m FROM c6 GROUP BY 1),
      |mtot AS (SELECT CAST(sum(n * w) AS BIGINT) AS mt FROM c6)
      |SELECT c.source, c.bucket, c.n, c.w AS w_ppm,
      |       CAST(1000000 * f.m // mt AS BIGINT) AS ach_row_ppm,
      |       CAST(1000000 * t.ts // (SELECT CAST(sum(ts) AS BIGINT) FROM rtgt) AS BIGINT) AS tgt_row_ppm
      |FROM c6 c JOIN mrf f USING (source) JOIN rtgt t USING (source), mtot
      |ORDER BY c.source, c.bucket""") { (spark, dir) =>
    import spark.implicits._
    val cell = Tables.documents(spark, dir)
      .select($"source",
        when($"n_chars" < 220, "short").when($"n_chars" < 380, "medium")
          .otherwise("long").as("bucket"))
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint()
    val srcs = cell.select($"source").distinct()
      .withColumn("tier",
        conv(substring(md5($"source"), 1, 8), 16, 10).cast("long") % 3L)
    val members = srcs.groupBy($"tier").agg(count(lit(1)).cast("long").as("m"))
    val ntot = cell.agg(sum($"n").cast("long").as("nt"))
    val rtgt = srcs.join(broadcast(members), "tier")
      .crossJoin(broadcast(ntot))
      .select($"source",
        (expr("""(CASE WHEN tier = 0 THEN 400000
                       WHEN tier = 1 THEN 300000
                       ELSE 300000 END) div m""") * $"nt")
          .cast("long").as("ts"))
      .localCheckpoint()
    val ctgt = cell.groupBy($"bucket")
      .agg((sum($"n") * 1000000L).cast("long").as("cb")).localCheckpoint()
    var cur = cell.withColumn("w", lit(1000000L))
    for (_ <- 1 to 3) {
      val mr = cur.groupBy($"source").agg(sum($"n" * $"w").cast("long").as("m"))
      cur = cur.join(broadcast(mr), "source").join(broadcast(rtgt), "source")
        .select($"source", $"bucket", $"n",
          expr("(w * ts) div m").cast("long").as("w"))
      val mc = cur.groupBy($"bucket").agg(sum($"n" * $"w").cast("long").as("m"))
      cur = cur.join(broadcast(mc), "bucket").join(broadcast(ctgt), "bucket")
        .select($"source", $"bucket", $"n",
          expr("(w * cb) div m").cast("long").as("w"))
        .localCheckpoint()
    }
    val mrf = cur.groupBy($"source").agg(sum($"n" * $"w").cast("long").as("m"))
    val mtot = cur.agg(sum($"n" * $"w").cast("long").as("mt"))
    val tstot = rtgt.agg(sum($"ts").cast("long").as("tst"))
    cur.join(broadcast(mrf), "source").join(broadcast(rtgt), "source")
      .crossJoin(broadcast(mtot)).crossJoin(broadcast(tstot))
      .select($"source", $"bucket", $"n", $"w".as("w_ppm"),
        expr("(1000000 * m) div mt").cast("long").as("ach_row_ppm"),
        expr("(1000000 * ts) div tst").cast("long").as("tgt_row_ppm"))
      .orderBy($"source", $"bucket")
  }

  /** FREQUENCY-SMOOTHED NEGATIVE SAMPLING (the SGNS noise distribution,
    * Mikolov et al. arXiv:1310.4546 §2.2, smoothing exponent 1/2) — build
    * the smoothed unigram table P(w) ∝ √count(w) and draw one
    * deterministic negative per event via an md5 coin inverted through
    * the cumulative table; the draw census against its expectation is
    * the sanity audit every embedding pipeline wants on its sampler.
    * Exponent 1/2 (vs word2vec's 3/4) keeps both engines bit-identical:
    * IEEE 754 REQUIRES sqrt to be correctly rounded, and the cumulative
    * sums accumulate in the same ORDER BY w on both sides, so every
    * interval boundary and every u-comparison is exact — strictly
    * oracle'd end to end, no tolerance.
    *
    * 100 TB plan: the vocab census is one map-side-combined agg
    * (Heaps-bounded); intervals are bucketized (16 equal slices of the
    * mass line) and the coin→word lookup is an EQUI join on the bucket id
    * with a bounded residual filter — q19's binned-range-join shape, no
    * BNLJ, no per-draw scan of the vocab. */
  val q432NegativeSampling: GraftQuery = GraftQuery.oracled(
    "q432_negative_sampling",
    """WITH tok AS (
      |  SELECT l[i] AS w
      |  FROM (SELECT string_split_regex(lower(text), '[^a-z]+') AS l FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS g(i)
      |  WHERE l[i] <> ''),
      |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      |cum AS (SELECT w, n, sqrt(CAST(n AS DOUBLE)) AS s,
      |               sum(sqrt(CAST(n AS DOUBLE))) OVER (ORDER BY w
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      |        FROM wc),
      |iv AS (SELECT w, n, s, hi - s AS lo, hi FROM cum),
      |stot AS (SELECT max(hi) AS st FROM iv),
      |ivb AS (SELECT iv.w, iv.lo, iv.hi, b
      |        FROM iv, stot,
      |             UNNEST(generate_series(CAST(floor(lo / (st / 16)) AS BIGINT),
      |                                    CAST(least(floor(hi / (st / 16)), 15) AS BIGINT))) AS g(b)),
      |draws AS (
      |  SELECT event_id,
      |         CAST(('0x' || substr(md5('neg:' || CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT)
      |           / 281474976710656.0 * st AS u
      |  FROM events, stot),
      |hits AS (SELECT d.event_id, ivb.w
      |         FROM (SELECT event_id, u,
      |                      CAST(least(floor(u / (SELECT st / 16 FROM stot)), 15) AS BIGINT) AS b
      |               FROM draws) d
      |         JOIN ivb ON ivb.b = d.b AND d.u >= ivb.lo AND d.u < ivb.hi),
      |ndraws AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM hits),
      |census AS (SELECT w, CAST(count(*) AS BIGINT) AS n_drawn FROM hits GROUP BY 1)
      |SELECT iv.w, iv.n,
      |       CAST(coalesce(c.n_drawn, 0) AS BIGINT) AS n_drawn,
      |       CAST(1000000 * coalesce(c.n_drawn, 0) // nd AS BIGINT) AS drawn_ppm,
      |       round(1000000 * iv.s / st, 3) AS expect_ppm
      |FROM iv LEFT JOIN census c USING (w), stot, ndraws
      |ORDER BY iv.w""") { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select(explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter($"w" =!= "")
    val wc = tok.groupBy($"w").agg(count(lit(1)).cast("long").as("n"))
    val iv = wc
      .withColumn("s", sqrt($"n".cast("double")))
      .withColumn("hi", sum($"s").over(Window.orderBy($"w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lo", $"hi" - $"s")
      .localCheckpoint()
    val stot = iv.agg(max($"hi").as("st"))
    val ivb = iv.crossJoin(broadcast(stot))
      .select($"w", $"lo", $"hi",
        explode(sequence(floor($"lo" / ($"st" / 16)).cast("long"),
          least(floor($"hi" / ($"st" / 16)), lit(15.0)).cast("long"))).as("b"))
    val draws = Tables.events(spark, dir).select($"event_id")
      .crossJoin(broadcast(stot))
      .select($"event_id",
        (conv(substring(md5(concat(lit("neg:"), $"event_id".cast("string"))),
          1, 12), 16, 10).cast("double") / 281474976710656.0 * $"st").as("u"),
        $"st")
      .select($"event_id", $"u",
        least(floor($"u" / ($"st" / 16)), lit(15.0)).cast("long").as("b"))
    val hits = draws.join(broadcast(ivb),
      draws("b") === ivb("b") && $"u" >= $"lo" && $"u" < $"hi")
      .select($"event_id", $"w").localCheckpoint()
    val ndraws = hits.agg(count(lit(1)).cast("long").as("nd"))
    val census = hits.groupBy($"w").agg(count(lit(1)).cast("long").as("n_drawn"))
    iv.join(census, Seq("w"), "left")
      .crossJoin(broadcast(stot)).crossJoin(broadcast(ndraws))
      .select($"w", $"n",
        coalesce($"n_drawn", lit(0L)).cast("long").as("n_drawn"),
        expr("(1000000 * coalesce(n_drawn, 0)) div nd").cast("long")
          .as("drawn_ppm"),
        round(lit(1000000) * $"s" / $"st", 3).as("expect_ppm"))
      .orderBy($"w")
  }

  /** DETERMINISTIC STRATIFIED RESERVOIR — exactly k docs per language by
    * smallest md5(doc_id) priority: md5 priorities are uniform, so this IS
    * a uniform without-replacement sample per stratum, and — unlike
    * rand()-seeded sampling — it is REPRODUCIBLE across runs, engines, and
    * re-partitioning (the property eval-set construction actually needs:
    * the same corpus always yields the same eval sample). Emits the rank
    * so downstream can tighten k without resampling.
    *
    * 100 TB plan: priority is a pure projection; per-stratum top-k is a
    * lang-keyed window over ≤|stratum| rows (k never global) — at
    * production scale the window swaps for a per-partition heap
    * (TopKPerGroup, q31's operator) with identical output. */
  val q497StratifiedReservoir: GraftQuery = GraftQuery.oracled(
    "q497_stratified_reservoir",
    """WITH p AS (SELECT doc_id, lang,
      |                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS pri
      |           FROM documents),
      |r AS (SELECT doc_id, lang, pri,
      |             row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rk
      |      FROM p)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
      |FROM r WHERE rk <= 3 ORDER BY lang, rk""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val p = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
          .cast("long").as("pri"))
    val w = Window.partitionBy($"lang").orderBy($"pri", $"doc_id")
    p.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169), the hashed-n-gram importance-weighting step the
    * modern pretraining mixers run ahead of sampling: score every RAW
    * document by how target-like its hashed bigram distribution is. The
    * target distribution here is the q127 eval-holdout arm
    * (doc_id % 50 = 0); features are token bigrams hashed into 128 md5
    * buckets (the portable-coin family); bucket log-ratios use add-one
    * smoothing and are INTEGER-QUANTIZED micro-nats (the q491 floor
    * fence — floor(10⁶·ln)), so every document weight is an exact BIGINT
    * dot product of its bucket census with the broadcast ratio table.
    * Output: the 100 most target-like raw documents (weight DESC, doc_id).
    *
    * 100 TB plan: one bigram explode → (doc, bucket) hash-agg (map-side
    * combined, ≤128 buckets per doc); the global target/raw census is 128
    * rows; the ratio table broadcasts; the doc weight is one more
    * map-side-combinable agg and the top-100 a TakeOrdered — the corpus
    * is scanned once and nothing row-scale is ever joined. The BIGINT
    * product (ct+1)·(R+128) needs DECIMAL widening past ~10¹⁸ bigram
    * occurrences (q362's documented class). */
  val q507DsirImportance: GraftQuery = GraftQuery.oracled(
    "q507_dsir_importance",
    """WITH tok AS (SELECT doc_id, source, doc_id % 50 = 0 AS is_target,
      |                    list_filter(string_split(text, ' '), x -> x <> '') AS t
      |             FROM documents),
      |bg AS (SELECT doc_id, source, is_target,
      |              CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 4)) AS BIGINT) % 128 AS b
      |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
      |       WHERE len(t) >= 2),
      |dc AS (SELECT doc_id, source, is_target, b, CAST(count(*) AS BIGINT) AS n
      |       FROM bg GROUP BY 1, 2, 3, 4),
      |gc AS (SELECT b,
      |              CAST(coalesce(sum(n) FILTER (WHERE is_target), 0) AS BIGINT) AS ct,
      |              CAST(coalesce(sum(n) FILTER (WHERE NOT is_target), 0) AS BIGINT) AS cr
      |       FROM dc GROUP BY b),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS t_tot, CAST(sum(cr) AS BIGINT) AS r_tot FROM gc),
      |lr AS (SELECT b, CAST(floor(1000000 * ln(CAST((ct + 1) * (r_tot + 128) AS DOUBLE)
      |                                         / CAST((cr + 1) * (t_tot + 128) AS DOUBLE))) AS BIGINT) AS qlr
      |       FROM gc, tot),
      |w AS (SELECT dc.doc_id, dc.source,
      |             CAST(sum(dc.n) AS BIGINT) AS n_bigrams,
      |             CAST(sum(dc.n * lr.qlr) AS BIGINT) AS weight
      |      FROM dc JOIN lr ON dc.b = lr.b
      |      WHERE NOT dc.is_target
      |      GROUP BY 1, 2)
      |SELECT doc_id, source, n_bigrams, weight
      |FROM w ORDER BY weight DESC, doc_id LIMIT 100""") { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", $"source", ($"doc_id" % 50 === 0).as("is_target"),
        filter(split($"text", " "), x => x =!= "").as("t"))
    val bg = tok.filter(size($"t") >= 2)
      .select($"doc_id", $"source", $"is_target",
        explode(expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")).as("bg"))
      .select($"doc_id", $"source", $"is_target",
        (conv(substring(md5($"bg"), 1, 4), 16, 10).cast("long") % 128).as("b"))
    val dc = bg.groupBy($"doc_id", $"source", $"is_target", $"b")
      .agg(count(lit(1)).cast("long").as("n"))
    val gc = dc.groupBy($"b")
      .agg(coalesce(sum(when($"is_target", $"n")), lit(0L)).cast("long").as("ct"),
        coalesce(sum(when(!$"is_target", $"n")), lit(0L)).cast("long").as("cr"))
    val tot = gc.agg(sum($"ct").cast("long").as("t_tot"), sum($"cr").cast("long").as("r_tot"))
    val lr = gc.crossJoin(broadcast(tot))
      .select($"b",
        floor(lit(1000000) * log((($"ct" + 1) * ($"r_tot" + 128)).cast("double")
          / (($"cr" + 1) * ($"t_tot" + 128)).cast("double"))).cast("long").as("qlr"))
    dc.filter(!$"is_target")
      .join(broadcast(lr), Seq("b"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"n").cast("long").as("n_bigrams"),
        sum($"n" * $"qlr").cast("long").as("weight"))
      .orderBy($"weight".desc, $"doc_id")
      .limit(100)
  }

  /** SNAKE (boustrophedon) SHARD ALLOCATION — balanced training-shard
    * planning without sequential state: the classical greedy
    * least-loaded-bin packer is an inherently serial walk (unreplayable
    * relationally at corpus scale), but ranking documents by token count
    * DESC and dealing them in a snake pattern over B shards
    * (rank 1..B forward, B+1..2B backward, …) pairs heavy rows with
    * light ones in closed form — imbalance bounded by one document per
    * pass — and is a pure function of a global rank. Output: per-shard
    * doc count, token mass, and ppm share of total.
    *
    * 100 TB plan: the global rank is the TwoPhase two-phase machinery
    * (bucket-local windows + broadcast offset census — never a
    * single-partition window); everything after is one closed-form
    * projection + a B-row hash-agg. This is how shard manifests for a
    * 1000-node dataloader get built without a coordinator. */
  val q509SnakeSharding: GraftQuery = GraftQuery.oracled(
    "q509_snake_sharding",
    """WITH d AS (SELECT doc_id,
      |                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS toks
      |           FROM documents),
      |r AS (SELECT doc_id, toks,
      |             row_number() OVER (ORDER BY toks DESC, doc_id) - 1 AS rn
      |      FROM d),
      |s AS (SELECT doc_id, toks,
      |             CASE WHEN rn % 32 < 16 THEN rn % 32 ELSE 31 - rn % 32 END AS shard
      |      FROM r),
      |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS tt FROM s)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(toks) AS BIGINT) AS shard_tokens,
      |       CAST(1000000 * sum(toks) // tt AS BIGINT) AS share_ppm
      |FROM s, tot GROUP BY shard, tt ORDER BY shard""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id",
        size(filter(split($"text", " "), x => x =!= "")).cast("long").as("toks"))
    // global rank WITHOUT a single-partition window: TwoPhase bucket-local
    // ranks + broadcast offsets (the q506/q97 machinery). Rank key is
    // (toks DESC, doc_id) — expressed as ascending (-toks, doc_id); the
    // bucket extends the key with a doc_id band because token counts
    // cluster on few values (a toks-only bucket would put most rows in
    // one local window — exactly the skew TwoPhase exists to avoid).
    val ranked = graft.operators.TwoPhase.rowNumber(
        d.withColumn("negt", -$"toks"),
        struct($"negt", ($"doc_id" / 4096).cast("long")), Seq($"doc_id"), "rn1")
      .select($"doc_id", $"toks", ($"rn1" - 1).as("rn"))
    val s = ranked.select($"doc_id", $"toks",
      when($"rn" % 32 < 16, $"rn" % 32).otherwise(lit(31) - $"rn" % 32).as("shard"))
    val tot = s.agg(sum($"toks").cast("long").as("tt"))
    s.crossJoin(broadcast(tot))
      .groupBy($"shard", $"tt")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"toks").cast("long").as("shard_tokens"))
      .select($"shard".cast("long").as("shard"), $"n_docs", $"shard_tokens",
        expr("(1000000 * shard_tokens) div tt").cast("long").as("share_ppm"))
      .orderBy($"shard")
  }

  /** PREFIX-CACHE CENSUS — how much of the corpus' token stream is
    * SHARABLE through a prefix (KV-)cache, computed exactly as the token
    * TRIE size: sort all docs by their token sequence (one global
    * TwoPhase order) and take each doc's longest common prefix with its
    * sorted predecessor — the classic sorted-LCP identity
    * Σ(len − lcp) = #distinct token prefixes (trie nodes), so
    * Σ lcp = tokens a perfectly-shared prefix cache never recomputes.
    * This is the serving/templating twin of the dedup family: boilerplate
    * openings, shared system prompts and template families all surface
    * here as per-source cacheable ppm, without any pair join at all. The
    * lag is [[graft.operators.TwoPhase.lagOne]] (new this round): local
    * lag per bucket + the previous bucket's max_by boundary row — a
    * global sorted-neighbor operator with no partition-less window over
    * raw data. LCP itself is one zip_with + array_position projection;
    * all integers, trivially strict.
    *
    * 100 TB plan: one range-partitioned sort (the TwoPhase bucket
    * contract — first-character buckets here), one bucket-sized boundary
    * broadcast, one projection; the census never materializes a pair. The
    * oracle replays the identical order (array comparison is elementwise
    * lexicographic in BOTH engines; ties broken by doc_id). */
  val q513PrefixCacheCensus: GraftQuery = GraftQuery.oracled(
    "q513_prefix_cache_census",
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |o AS (SELECT doc_id, source, t, len(t) AS n,
      |             lag(t) OVER (ORDER BY t, doc_id) AS pt
      |      FROM d),
      |l AS (SELECT doc_id, source, n,
      |             CASE WHEN pt IS NULL THEN 0
      |                  ELSE coalesce((SELECT min(i)
      |                                 FROM (SELECT unnest(generate_series(1, least(len(t), len(pt)))) AS i) g
      |                                 WHERE t[i] IS DISTINCT FROM pt[i]),
      |                                least(len(t), len(pt)) + 1) - 1
      |             END AS lcp
      |      FROM o)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n) AS BIGINT) AS sum_tokens,
      |       CAST(sum(lcp) AS BIGINT) AS lcp_tokens,
      |       CAST((1000000 * sum(lcp)) // greatest(sum(n), 1) AS BIGINT) AS cached_ppm
      |FROM l GROUP BY source ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"source", split($"text", " ").as("t"))
    val lagged = graft.operators.TwoPhase.lagOne(d,
      substring(element_at($"t", 1), 1, 1), Seq($"t", $"doc_id"), $"t", "pt")
    val zw = zip_with($"t", $"pt", (x, y) => x <=> y)
    val pos = array_position(zw, false)
    val lcp = when($"pt".isNull, lit(0L))
      .otherwise(when(pos === 0, least(size($"t"), size($"pt")).cast("long"))
        .otherwise(pos - 1))
    lagged
      .select($"source", size($"t").cast("long").as("n"), lcp.as("lcp"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"n").cast("long").as("sum_tokens"),
        sum($"lcp").cast("long").as("lcp_tokens"))
      .select($"source", $"n_docs", $"sum_tokens", $"lcp_tokens",
        expr("(1000000 * lcp_tokens) div greatest(sum_tokens, 1)")
          .cast("long").as("cached_ppm"))
      .orderBy($"source")
  }

  def all: Seq[GraftQuery] = Seq(
    q497StratifiedReservoir, q513PrefixCacheCensus,
    q127CurationPipeline, q137SequencePacking, q138SourceMixing, q349CurationLsh,
    q470BalancedDownsample,
    q356CurriculumManifest, q361NeymanAllocation, q381BucketedBatches,
    q389TemperatureMixing, q394ContentChecksum, q397TruncationLoss,
    q398ClusterReweight, q401SinkhornMixture, q411SystematicSample,
    q458EpochShuffle, q463SftTranscripts,
    q146WeightedSample, q147QuantileNorm, q162DictEncode, q249HashReservoir,
    q260PackingEfficiency, q261OovRate, q283ExactStratifiedSplit,
    q300ExportManifest, q323MixWaterfill, q431IpfRaking, q432NegativeSampling,
    q507DsirImportance, q509SnakeSharding)

  /** SEEDED GLOBAL EPOCH SHUFFLE — the dataloader-order primitive every
    * multi-epoch training run needs: each epoch e gets an independent,
    * SEEDED, engine-portable permutation of the corpus via the md5 coin
    * (order key = md5(e || ':' || doc_id) — the q102/q138 determinism
    * family, so the exact order is reproducible across engines, restarts
    * and cluster sizes, never `rand()`). Emits, per epoch, the first 5
    * doc_ids of the permutation plus an order checksum
    * Σ rank·doc_id mod 2³¹−1 over the WHOLE epoch — the cheap integrity
    * pin a training job logs so a re-run can prove it consumed the same
    * order.
    *
    * 100 TB plan: the permutation is sort-by-hash — a total-order
    * repartitionByRange at scale (one range shuffle per epoch, no driver
    * involvement); the checksum is a map-side-combinable integer agg. */
  /** SFT TRANSCRIPT ASSEMBLY — the conversation-side counterpart to q137's
    * token packing: each user's event journey becomes an ordered
    * chat transcript (view/click = user turns, the rest = assistant
    * turns; per-turn token cost = template + payload, a deterministic
    * integer proxy), then the three ops every SFT dataset builder runs:
    * SUFFIX truncation to a 64-token context (keep the most-RECENT turns
    * that fit — a reverse-cumulative-sum window, never a driver loop),
    * LOSS MASKING (only assistant tokens kept in the context count toward
    * loss), and the fit census. Emits the first 50 users' rows.
    *
    * 100 TB plan: one user-keyed window for the reverse cumsum, one
    * user-keyed agg — the sessionize scan shape; nothing global but the
    * presentation sort. */
  val q463SftTranscripts: GraftQuery = GraftQuery.oracled(
    "q463_sft_transcripts",
    """WITH t AS (
      |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
      |         CASE WHEN event_type IN ('view', 'click') THEN 'user'
      |              ELSE 'assistant' END AS role,
      |         CAST(3 + length(event_type)
      |              + CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS toks
      |  FROM events),
      |r AS (SELECT user_id, role, toks,
      |             sum(toks) OVER (PARTITION BY user_id
      |               ORDER BY ts DESC, event_id DESC) AS rev_cum
      |      FROM t)
      |SELECT user_id,
      |       CAST(count(*) AS BIGINT) AS n_turns_total,
      |       CAST(count(CASE WHEN rev_cum <= 64 THEN 1 END) AS BIGINT) AS n_turns_kept,
      |       CAST(coalesce(sum(CASE WHEN rev_cum <= 64 THEN toks END), 0) AS BIGINT) AS toks_kept,
      |       CAST(coalesce(sum(CASE WHEN rev_cum <= 64 AND role = 'assistant' THEN toks END), 0) AS BIGINT) AS toks_loss,
      |       count(CASE WHEN rev_cum > 64 THEN 1 END) > 0 AS truncated
      |FROM r GROUP BY user_id ORDER BY user_id LIMIT 50""") { (spark, dir) =>
    import spark.implicits._
    val t = Tables.events(spark, dir).select($"user_id", $"ts", $"event_id",
      when($"event_type".isin("view", "click"), "user").otherwise("assistant")
        .as("role"),
      (lit(3) + length($"event_type")
        + get_json_object($"props", "$.k").cast("long") % 10).cast("long").as("toks"))
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    t.withColumn("rev_cum", sum($"toks").over(w))
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n_turns_total"),
        count(when($"rev_cum" <= 64, 1)).cast("long").as("n_turns_kept"),
        coalesce(sum(when($"rev_cum" <= 64, $"toks")), lit(0L)).cast("long")
          .as("toks_kept"),
        coalesce(sum(when($"rev_cum" <= 64 && $"role" === "assistant", $"toks")),
          lit(0L)).cast("long").as("toks_loss"),
        (count(when($"rev_cum" > 64, 1)) > 0).as("truncated"))
      .orderBy($"user_id")
      .limit(50)
  }

  val q458EpochShuffle: GraftQuery = GraftQuery.oracled(
    "q458_epoch_shuffle",
    """WITH epochs AS (SELECT unnest(generate_series(1, 3)) AS epoch),
      |ordered AS (
      |  SELECT epoch, doc_id,
      |         row_number() OVER (PARTITION BY epoch
      |           ORDER BY md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM documents, epochs)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       string_agg(CASE WHEN rnk <= 5 THEN CAST(doc_id AS VARCHAR) END, ' ' ORDER BY rnk) AS first5,
      |       CAST(sum(rnk * doc_id) % 2147483647 AS BIGINT) AS order_checksum
      |FROM ordered GROUP BY epoch ORDER BY epoch""") { (spark, dir) =>
    import spark.implicits._
    val epochs = Seq(1L, 2L, 3L).toDF("epoch")
    val ordered = Tables.documents(spark, dir).select($"doc_id")
      .crossJoin(broadcast(epochs))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"epoch").orderBy(
          md5(concat($"epoch".cast("string"), lit(":"), $"doc_id".cast("string"))),
          $"doc_id")))
    ordered.groupBy($"epoch")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        concat_ws(" ", transform(
          array_sort(collect_list(when($"rnk" <= 5, struct($"rnk", $"doc_id".cast("string").as("d"))))),
          x => x.getField("d"))).as("first5"),
        (sum($"rnk" * $"doc_id") % 2147483647L).cast("long").as("order_checksum"))
      .orderBy($"epoch")
  }
}

/** Code-generated twin bodies for q401: the Spark plan and the DuckDB
  * oracle are emitted from the SAME index loops over the fixed 5-lang
  * support and the SAME kernel constants, so the two engines cannot drift
  * in term order or coefficient values (the q321 lesson, applied at
  * construction instead of by string surgery). */
private[llm] object SinkhornGen {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  val langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")
  private val n = langs.size
  private def cost(i: Int, j: Int): Int = math.abs(i - j)
  private val rounds = 3

  /** DuckDB oracle: CTE chain it1..itN, each computing the 5 u- and
    * 5 v-components as explicit left-assoc 5-term sums. */
  lazy val oracleSql: String = {
    def k(i: Int, j: Int) = s"(CAST(1 AS DOUBLE) / ${1 + cost(i, j)})"
    val toksCols = langs.zipWithIndex.map { case (l, i) =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS toks_$i"
    }.mkString(", ")
    val total = (0 until n).map(i => s"toks_$i").mkString(" + ")
    val pCols = (0 until n).map(i =>
      s"CAST(toks_$i AS DOUBLE) / CAST($total AS DOUBLE) AS p_$i").mkString(", ")
    def kv(i: Int, vName: Int => String) =
      (0 until n).map(j => s"${k(i, j)} * ${vName(j)}").mkString(" + ")
    def ktu(j: Int, uName: Int => String) =
      (0 until n).map(i => s"${k(i, j)} * ${uName(i)}").mkString(" + ")
    val sb = new StringBuilder
    sb ++= s"WITH census AS (SELECT $toksCols FROM documents),\n"
    sb ++= s"base AS (SELECT $pCols FROM census),\n"
    var prevV: Int => String = _ => "CAST(1 AS DOUBLE)"
    var prevTable = "base"
    for (r <- 1 to rounds) {
      val us = (0 until n).map(i => s"p_$i / (${kv(i, prevV)}) AS u${r}_$i").mkString(", ")
      sb ++= s"u$r AS (SELECT *, $us FROM $prevTable),\n"
      val vs = (0 until n).map(j =>
        s"(CAST(1 AS DOUBLE) / $n) / (${ktu(j, i => s"u${r}_$i")}) AS v${r}_$j").mkString(", ")
      sb ++= s"v$r AS (SELECT *, $vs FROM u$r),\n"
      prevV = j => s"v${r}_$j"
      prevTable = s"v$r"
    }
    val tExpr = for (i <- 0 until n; j <- 0 until n)
      yield s"u${rounds}_$i * ${k(i, j)} * v${rounds}_$j"
    val tCols = (for (i <- 0 until n; j <- 0 until n)
      yield s"${tExpr(i * n + j)} AS t_${i}_$j").mkString(", ")
    sb ++= s"t AS (SELECT *, $tCols FROM v$rounds),\n"
    val costSum = (for (i <- 0 until n; j <- 0 until n; if cost(i, j) > 0)
      yield s"t_${i}_$j * ${cost(i, j)}").mkString(" + ")
    sb ++= s"fin AS (SELECT *, $costSum AS plan_cost FROM t),\n"
    val rows = (for (i <- 0 until n; j <- 0 until n) yield
      s"SELECT '${langs(i)}' AS lang_from, '${langs(j)}' AS lang_to, " +
        s"CAST(${cost(i, j)} AS BIGINT) AS cost, round(p_$i, 6) AS p_from, " +
        s"round(t_${i}_$j, 6) AS t_ij, round(plan_cost, 6) AS plan_cost FROM fin")
      .mkString("\nUNION ALL\n")
    sb ++= s"rows_out AS (\n$rows)\n"
    sb ++= "SELECT * FROM rows_out ORDER BY lang_from, lang_to"
    sb.toString
  }

  /** Spark twin: identical index loops over a pivoted 1-row census; each
    * half-step is a named projection (localCheckpoint per round keeps the
    * tree linear). */
  def plan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def k(i: Int, j: Int): Column = lit(1.0) / lit((1 + cost(i, j)).toDouble)
    val census = graft.sources.Tables.documents(spark, dir)
      .agg(langs.zipWithIndex.map { case (l, i) =>
        sum(when($"lang" === l, size(split($"text", " "))).otherwise(0))
          .cast("long").as(s"toks_$i")
      }.head, langs.zipWithIndex.tail.map { case (l, i) =>
        sum(when($"lang" === l, size(split($"text", " "))).otherwise(0))
          .cast("long").as(s"toks_$i")
      }: _*)
    val total = (0 until n).map(i => col(s"toks_$i")).reduceLeft(_ + _)
    var cur = census.select((0 until n).map(i =>
      (col(s"toks_$i").cast("double") / total.cast("double")).as(s"p_$i")): _*)
    var vName: Int => Column = _ => lit(1.0)
    for (r <- 1 to rounds) {
      val us = (0 until n).map { i =>
        val den = (0 until n).map(j => k(i, j) * vName(j)).reduceLeft(_ + _)
        (col(s"p_$i") / den).as(s"u${r}_$i")
      }
      cur = cur.select(col("*") +: us: _*)
      val vs = (0 until n).map { j =>
        val den = (0 until n).map(i => k(i, j) * col(s"u${r}_$i")).reduceLeft(_ + _)
        ((lit(1.0) / lit(n.toDouble)) / den).as(s"v${r}_$j")
      }
      cur = cur.select(col("*") +: vs: _*).localCheckpoint(true)
      vName = j => col(s"v${r}_$j")
    }
    val ts = for (i <- 0 until n; j <- 0 until n)
      yield (col(s"u${rounds}_$i") * k(i, j) * col(s"v${rounds}_$j")).as(s"t_${i}_$j")
    cur = cur.select(col("*") +: ts: _*)
    val costSum = (for (i <- 0 until n; j <- 0 until n; if cost(i, j) > 0)
      yield col(s"t_${i}_$j") * lit(cost(i, j).toDouble)).reduceLeft(_ + _)
    cur = cur.select(col("*"), costSum.as("plan_cost"))
    val rows = array((for (i <- 0 until n; j <- 0 until n) yield struct(
      lit(langs(i)).as("lang_from"), lit(langs(j)).as("lang_to"),
      lit(cost(i, j).toLong).as("cost"), round(col(s"p_$i"), 6).as("p_from"),
      round(col(s"t_${i}_$j"), 6).as("t_ij"),
      round(col("plan_cost"), 6).as("plan_cost"))): _*)
    cur.select(explode(rows).as("r"))
      .select($"r.lang_from", $"r.lang_to", $"r.cost", $"r.p_from", $"r.t_ij", $"r.plan_cost")
      .orderBy($"lang_from", $"lang_to")
  }

}
