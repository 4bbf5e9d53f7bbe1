package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, NGram}
import graft.engine.GraftQuery
import graft.functions.ShingleExpression
import graft.operators.RelationalCore.stat
import graft.sources.Tables

/** SURVEY.md §2.10 — deduplication for LLM training-data pipelines:
  * exact (content hash), shingle-Jaccard near-dup (exact, inverted-index
  * join), MinHash+LSH near-dup (approximate, the 100 TB path), and SimHash.
  *
  * Scale notes:
  *  - Exact dedup is one hash-groupBy: partial aggregation map-side, one
  *    shuffle of (hash → min-id/count) pairs, never the documents.
  *  - The shingle-Jaccard join is an inverted index on *rare* 3-gram
  *    shingles; frequency capping (drop shingles appearing in > maxDf docs)
  *    bounds the quadratic blowup on common shingles — the standard
  *    big-corpus guard. At 100 TB you run MinHash banding (q46) first and
  *    use this exact join only to confirm candidate pairs.
  *  - SimHash reduces each doc to 64 bits with pure codegen'd HOFs (one
  *    projection, no shuffle); near-dup search then bands the bits. */
object Dedup {

  /** Exact dedup on normalized content hash: representative = min(doc_id),
    * copy count per hash. */
  val q44DedupExact: GraftQuery = GraftQuery.oracled(
    "q44_dedup_exact",
    """SELECT sha256(lower(trim(text))) AS content_key,
      |       min(doc_id) AS keep_id,
      |       count(*)    AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY content_key""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(sha2(lower(trim($"text")), 256).as("content_key"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_key")
  }

  /** Shingles appearing in more documents than this are dropped before the
    * q45 pair join — the frequency cap that bounds the inverted-index join's
    * worst case (a shingle shared by k docs emits k² candidate pairs). */
  private[llm] val MaxShingleDf = 50

  /** Exact n-gram Jaccard near-dup pairs (similarity ≥ 0.8) via inverted
    * index on shingles — the oracle-checkable ground truth the approximate
    * ops are judged against. */
  val q45NeardupJaccard: GraftQuery = GraftQuery.oracled(
    "q45_neardup_jaccard",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, shared,
      |       round(shared / (sa.n + sb.n - shared), 4) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE shared / (sa.n + sb.n - shared) >= 0.8
      |ORDER BY doc_a, doc_b""") { (spark, dir) =>
    import spark.implicits._
    corpusExactPairs(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  /** CROSS-SOURCE CONTAMINATION MATRIX — which FEED PAIRS share near-dup
    * content: q45's exact pair set joined to each side's source, rolled up
    * per unordered (source_a ≤ source_b) pair with the pair count and the
    * duplicated-document footprint on each side. The feed-level triage
    * view q296's per-source dup-rate can't give: a high within-source rate
    * means a paste-farm feed; a hot OFF-diagonal cell means two feeds
    * scrape each other (deduplicate jointly, or drop one) — the decision
    * matrix every multi-feed corpus curation runs before mixing weights
    * (q138/q389) are even computed.
    *
    * 100 TB plan: adds two broadcast-able doc→source joins and one
    * (source, source)-keyed hash-agg on top of q45's banded/capped pair
    * machinery — pair-set-sized, never corpus-pairwise; at production
    * scale the pair input swaps to q349's verified-LSH path unchanged. */
  val q483CrossSourceMatrix: GraftQuery = GraftQuery.oracled(
    "q483_cross_source_matrix",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |nd AS (SELECT doc_a, doc_b FROM pairs
      |       JOIN sizes sa ON doc_a = sa.doc_id
      |       JOIN sizes sb ON doc_b = sb.doc_id
      |       WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |lab AS (SELECT least(da.source, db.source) AS source_a,
      |               greatest(da.source, db.source) AS source_b,
      |               CASE WHEN da.source <= db.source THEN nd.doc_a ELSE nd.doc_b END AS doc_on_a,
      |               CASE WHEN da.source <= db.source THEN nd.doc_b ELSE nd.doc_a END AS doc_on_b
      |        FROM nd JOIN documents da ON da.doc_id = nd.doc_a
      |                JOIN documents db ON db.doc_id = nd.doc_b)
      |SELECT source_a, source_b,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(count(DISTINCT doc_on_a) AS BIGINT) AS n_docs_a,
      |       CAST(count(DISTINCT doc_on_b) AS BIGINT) AS n_docs_b
      |FROM lab GROUP BY 1, 2
      |ORDER BY source_a, source_b""") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val src = docs.select($"doc_id", $"source")
    val nd = corpusExactPairs(spark, dir).select($"doc_a", $"doc_b")
    // n_docs_a/b count the duplicated-document footprint ON EACH SOURCE's
    // side, so the pair must be re-oriented by SOURCE (not by doc_id) before
    // aggregating: when the lower-id doc belongs to the greater source the
    // doc_id orientation would misattribute it to source_a (round-6 ADVICE).
    // Within-source cells (sa = sb) keep the doc_id orientation — the two
    // sides are the same feed and the split is arbitrary but deterministic.
    nd
      .join(broadcast(src.toDF("doc_a", "sa")), Seq("doc_a"))
      .join(broadcast(src.toDF("doc_b", "sb")), Seq("doc_b"))
      .select(
        least($"sa", $"sb").as("source_a"), greatest($"sa", $"sb").as("source_b"),
        when($"sa" <= $"sb", $"doc_a").otherwise($"doc_b").as("doc_on_a"),
        when($"sa" <= $"sb", $"doc_b").otherwise($"doc_a").as("doc_on_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        countDistinct($"doc_on_a").cast("long").as("n_docs_a"),
        countDistinct($"doc_on_b").cast("long").as("n_docs_b"))
      .orderBy($"source_a", $"source_b")
  }

  /** Oracle-side twin of [[neardupPairsPortableLshVerified]]'s candidate
    * stage, for splicing into capstone oracles AFTER their `sh` CTE:
    * portable md5 signatures → 4×4 band keys → banded candidate pairs →
    * co-shingle counts restricted to candidates. The downstream `good`
    * CTE (jaccard ≥ 0.8) then yields exactly the engine's verified pair
    * set — INCLUDING any banding miss, which appears identically on both
    * sides (the r9 sf1 sweep caught two xxh64-banding misses at 10× pairs
    * that the old exact-pair oracles could not mirror). The engine bands
    * by slice equality ([[bandCandidates]]), this SQL by an md5 key of
    * each band's comma-joined hashes; two bands share a key exactly when
    * their hashes are equal (barring an md5 collision), and LlmOpsSpec
    * pins that both give the same candidate set. */
  private[llm] val portableCandPairsSql: String =
    """hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 14)) AS BIGINT) AS lo,
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
      |          GROUP BY 1, 2),""".stripMargin

  /** [[graft.engine.Memos.memo]] entry `tag` for a corpus-level SHARED
    * frame, materialized through [[graft.engine.Memos.checkpoint]]: a full
    * Verify/Bench sweep has q45/q483/q431/q493 recomputing the exact pair
    * set and q127/q343/q398 + the curation capstones recomputing the
    * portable-LSH verified pair set independently (~10–15 s per sweep at
    * sf0.1), so every later consumer reads materialized blocks instead of
    * re-running the shingle/signature/band/verify stages. Fixture specs
    * that pass their OWN frames keep calling the underlying functions
    * directly and never touch the memo.
    *
    * The capped-shingle family is ONE entry, "shingleSigs" = (doc_id, tk,
    * sig) from [[shingleSigsOf]]; [[corpusCappedShingles]],
    * [[cappedShingleSets]] and [[minhashSigs]] are projections of it, and
    * the "exactPairs" and "portableSigs" entries build on it (a nested
    * memo: their first build also stores it). */
  private[llm] def corpusFrame(spark: org.apache.spark.sql.SparkSession, dir: String,
      tag: String)(build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.engine.Memos.memo(spark, dir, tag)(graft.engine.Memos.checkpoint(build))

  /** Memoized corpus-level [[portableMinhashSigs]] (q494/q495/q508 + the
    * portable pair stage all read it), over the memoized capped shingles. */
  private[llm] def corpusPortableSigs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusFrame(spark, dir, "portableSigs")(
      portableMinhashSigs(corpusCappedShingles(spark, dir)))

  /** Memoized corpus-level [[neardupPairsPortableLshVerified]], built on
    * the memoized signatures. */
  private[llm] def corpusPortablePairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusFrame(spark, dir, "portablePairs")(
      neardupPairsPortableLshVerified(Tables.documents(spark, dir),
        Some(corpusPortableSigs(spark, dir))))

  /** Memoized corpus-level [[neardupPairs]] (q45's exact pair set), over
    * the memoized capped shingles. */
  private[llm] def corpusExactPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusFrame(spark, dir, "exactPairs")(
      neardupPairs(corpusCappedShingles(spark, dir)))

  /** Memoized corpus-level cluster labels (doc_id, cluster_id) over the
    * exact pair set — q365/q391/q407-class consumers need the LABELS, not
    * the components machinery itself (q100/q109 stay un-memoized: those
    * entries ARE the two component operators and must run their own
    * rounds). Built on [[starComponents]], the log-bounded scale path;
    * min-label and star labels are identical by construction (q100 ≡ q109,
    * spec-pinned). */
  private[llm] def corpusExactClusters(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusClusters(spark, dir, "exactClusters")(corpusExactPairs(spark, dir))

  /** Memoized corpus-level cluster labels over the PORTABLE verified pair
    * set — the q300/q343/q349/q398 capstone family each re-ran components
    * over the identical (memoized) pair frame. */
  private[llm] def corpusPortableClusters(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusClusters(spark, dir, "portableClusters")(corpusPortablePairs(spark, dir))

  /** [[graft.engine.Memos.memo]] entry `tag` for [[starComponents]]' labels of the
    * documents under a (doc_a, doc_b, …) pair frame. The labels read the
    * last round's checkpointed edges — the only checkpointed frame under
    * them — which are unpersisted once the labels are stored, so the memo
    * is the one frame the build leaves pinned. */
  private def corpusClusters(spark: org.apache.spark.sql.SparkSession, dir: String,
      tag: String)(pairs: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.engine.Memos.memo(spark, dir, tag) {
      val labels = starComponents(Tables.documents(spark, dir).select(col("doc_id")),
        pairs.select(col("doc_a"), col("doc_b")))._1.toDF("doc_id", "cluster_id")
      val stored = graft.engine.Memos.checkpoint(labels)
      graft.engine.Memos.unpersistFrame(labels)
      stored
    }

  /** Memoized corpus-level (doc_id, tk, sig) — [[shingleSigsOf]] over the
    * documents table, materialized once per (session, dir). The one memo
    * behind every capped-shingle consumer: via [[corpusCappedShingles]] the
    * co-shingle censuses (q399/q423/q437/q495/q499/q508), q112's delta
    * dedup and the `exactPairs` and `portableSigs` memos (q45's exact pair
    * set and everything that reads it; q494's portable signatures and the
    * portable pair stage); via [[minhashSigs]] and [[cappedShingleSets]]
    * the MinHash family (q371/q372/q385/q396). Not a [[corpusFrame]]:
    * `pin = true` already materializes the frame, so no second checkpoint
    * goes on top. */
  private def corpusShingleSigs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.engine.Memos.memo(spark, dir, "shingleSigs")(
      shingleSigsOf(Tables.documents(spark, dir), pin = true))

  /** Corpus-level capped (doc_id, s) shingle stream — q45's similarity
    * space, as one explode of the memoized shingle sets (distinct per doc
    * by construction). */
  private[llm] def corpusCappedShingles(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusShingleSigs(spark, dir).select(col("doc_id"), explode(col("tk")).as("s"))

  /** [[corpusCappedShingles]] over any (doc_id, text, …) frame, unpinned. */
  private[llm] def cappedShinglesOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shingleSigsOf(docs, pin = false).select(col("doc_id"), explode(col("tk")).as("s"))

  /** Memoized corpus-level [[contamination]] on the standard doc_id%50
    * eval split — q114, q127 and q349 each re-ran the 5-gram explode +
    * broadcast join per invocation; the hit census is near-empty and
    * cheap to hold. */
  private[llm] def corpusContamination(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusFrame(spark, dir, "contamination")(
      contamination(Tables.documents(spark, dir),
        org.apache.spark.sql.functions.col("doc_id") % 50 === 0))

  /** q45's core over a capped (doc_id, s) shingle stream
    * ([[corpusCappedShingles]] or [[cappedShinglesOf]]): exact
    * shingle-Jaccard near-dup pairs (≥ 0.8) from the co-shingle census.
    * Shared by the q100/q109 clustering queries and the q127 curation
    * capstone. */
  private[llm] def neardupPairs(sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val jac = col("shared") / (col("na") + col("nb") - col("shared"))
    coShinglePairs(sh)
      .filter(jac >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("shared"), stat(jac).as("jaccard"))
  }

  /** MinHash+LSH near-dup (MLlib): shingles → binary HashingTF (2^18) →
    * MinHashLSH banding → approxSimilarityJoin. The sub-quadratic 100 TB
    * path; candidate pairs only hash-join on band buckets. Not oracle-able
    * (hash-seed-specific); ScalaTest checks it recovers q45's exact pairs. */
  /** q46's core over any (doc_id, text, …) frame: MinHash+LSH banded
    * candidate pairs at jaccardDist ≤ 0.3 — the sub-quadratic near-dup
    * path, q46's pair stage (q349 rides the portable stage since r9). Recall
    * law (LlmOpsSpec): every exact-jaccard ≥ 0.8 pair from
    * [[neardupPairs]] is recovered (0.8 similarity = 0.2 distance, well
    * inside the 0.3 cut; 5 hash tables OR-amplify recall at that radius). */
  private[llm] def neardupPairsLsh(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select($"doc_id", split($"text", " ").as("tokens"))
      .filter(size($"tokens") >= 3)
    val shingles = new NGram().setN(3).setInputCol("tokens").setOutputCol("shingles")
      .transform(toks)
    val featurized = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
      .transform(shingles)
      .select($"doc_id", $"features")
    val model = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(5).setSeed(42)
      .fit(featurized)
    // RELATIONAL TWIN of approxSimilarityJoin over the SAME fitted model
    // (r11: output diffed byte-identical vs the MLlib join at 3 SFs — q46
    // rides it): MLlib transformed the frame per join side, shuffled a
    // global distinct over candidates, then ran its non-codegen
    // keyDistance per pair. The twin transforms ONCE (checkpointed),
    // dedups candidates with one distinct (see below), and computes the
    // IDENTICAL jaccard distance with codegen
    // array ops on the feature indices: keyDistance = 1 − |A∩B|/|A∪B| over
    // toSparse.indices sets, replayed as array_intersect/size with the same
    // double division and the same strict `< 0.3` cut.
    val idxOf = udf((v: org.apache.spark.ml.linalg.Vector) => v.toSparse.indices)
    val hashed = model.transform(featurized)
      .select($"doc_id", idxOf($"features").as("ix"),
        transform($"hashes", h =>
          element_at(org.apache.spark.ml.functions.vector_to_array(h), 1)).as("hv"))
      .localCheckpoint() // one transform serves both join sides
    // decide on light rows, attach payloads after (guide §8, the q96
    // shape): the bucket join carries (doc_id, t, v) only; the candidate
    // distinct() dedups AND rebalances (OR-amplified 5×1 banding floods
    // candidates through few hot buckets on near-dup cliques); the
    // index-set jaccard then runs evenly partitioned with the feature
    // indices attached by two broadcast joins.
    val bands = hashed.select($"doc_id", posexplode($"hv")).toDF("doc_id", "t", "v")
    val cand = bands.toDF("doc_a", "t", "v")
      .join(bands.toDF("doc_b", "t", "v"), Seq("t", "v"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    val ix = hashed.select($"doc_id", $"ix")
    cand
      .join(broadcast(ix.toDF("doc_a", "ix_a")), Seq("doc_a"))
      .join(broadcast(ix.toDF("doc_b", "ix_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect($"ix_a", $"ix_b")).cast("double"))
      .withColumn("jaccard_dist",
        lit(1.0) - $"inter" / (size($"ix_a") + size($"ix_b") - $"inter"))
      .filter($"jaccard_dist" < 0.3)
      .select($"doc_a", $"doc_b", stat($"jaccard_dist").as("jaccard_dist"))
  }

  /** The banded-LSH candidate stage over two (id, sig: array<long>[16])
    * frames: each signature splits into 16 / rowsPerBand bands of
    * rowsPerBand hashes, and a (doc_a, doc_b) pair is a candidate when
    * some band's slices are equal. Each pair is kept on its FIRST
    * matching band only — a projection on the two signatures, so the
    * dedup costs no shuffle. Signatures come from either family: the
    * xxh64 kernel ([[minhashSigs]]) or the md5 portable one
    * ([[portableSigArrays]]); the DuckDB oracles band the portable family
    * by md5 keys of the same slices, and LlmOpsSpec pins that both give
    * the same candidate set. Passing one frame as both sides self-joins
    * it: each unordered pair is kept once, as doc_a < doc_b.
    *
    * 100 TB plan: a bounded explode, then an equi-join on (band, slice) —
    * candidates meet only inside equal-bucket groups. */
  private[llm] def bandCandidates(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, rowsPerBand: Int): org.apache.spark.sql.DataFrame = {
    val (r, nb) = (rowsPerBand, 16 / rowsPerBand)
    def bands(sig: org.apache.spark.sql.DataFrame, id: String, s: String) = sig
      .withColumn("b", explode(sequence(lit(0), lit(nb - 1))))
      .withColumn("bv", slice(col(sig.columns(1)), col("b") * r + 1, lit(r)))
      .toDF(id, s, "b", "bv")
    val firstBand = (nb - 1 to 0 by -1).foldLeft(lit(nb)) { (acc, i) =>
      when(slice(col("sig_a"), i * r + 1, r) === slice(col("sig_b"), i * r + 1, r), lit(i))
        .otherwise(acc)
    }
    val cand = bands(a, "doc_a", "sig_a").join(bands(b, "doc_b", "sig_b"), Seq("b", "bv"))
    // a self-join meets each pair in both orders and each document itself
    (if (a eq b) cand.filter(col("doc_a") < col("doc_b")) else cand)
      .filter(col("b") === firstBand)
      .select(col("doc_a"), col("doc_b"))
  }

  /** The exact-Jaccard verify of a (doc_a, doc_b) candidate frame against
    * (doc_id, tk) capped shingle sets: (doc_a, doc_b, shared, jaccard)
    * with jaccard = shared / (|tk_a| + |tk_b| − shared) ≥ 0.8 — the same
    * double as |∩| / |∪|. Cost is candidate-pair-scale: each candidate
    * intersects its two sorted arrays. */
  private[llm] def verifyJaccard(cand: org.apache.spark.sql.DataFrame,
      tk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val shared = size(array_intersect(col("tk_a"), col("tk_b"))).cast("long")
    val jaccard = shared / (size(col("tk_a")) + size(col("tk_b")) - shared)
    cand
      .join(tk.toDF("doc_a", "tk_a"), Seq("doc_a"))
      .join(tk.toDF("doc_b", "tk_b"), Seq("doc_b"))
      .filter(jaccard >= 0.8)
      .select(col("doc_a"), col("doc_b"), shared.as("shared"), jaccard.as("jaccard"))
  }

  /** The co-shingle census over a (doc_id, s) shingle stream: one row per
    * pair sharing at least one shingle, with columns doc_a < doc_b,
    * shared, the `extra` aggregates over the pair's shared (doc_a, doc_b,
    * s) rows, and the two set sizes na and nb. Callers select by name. */
  private[llm] def coShinglePairs(sh: org.apache.spark.sql.DataFrame,
      extra: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.toDF("doc_a", "s").join(sh.toDF("doc_b", "s"), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"), extra: _*)
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
  }

  val q46NeardupMinhashLsh: GraftQuery = GraftQuery.rowsOnly(
    "q46_neardup_minhash_lsh",
    doc = "MinHashLSH(numHashTables=5, seed=42) over 3-gram shingles, jaccardDist <= 0.3") { (spark, dir) =>
    import spark.implicits._
    neardupPairsLsh(Tables.documents(spark, dir))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The one builder of q45's capped similarity space over any (doc_id,
    * text, …) frame: (doc_id, tk, sig) — each document's sorted distinct
    * 3-gram shingle set and its 16-permutation [[graft.functions.MinHash64]]
    * signature. Row for row it equals the reference chain — explode the
    * 3-grams, `distinct()` the (doc_id, s) rows, anti-join the shingles of
    * df > [[MaxShingleDf]], `sort_array(collect_list(s))` → `minhash64`
    * (LlmOpsSpec writes that chain out and pins the equality) — without
    * its explode → distinct → anti-join → regroup:
    *  - the (doc_id, text) scan is hash-partitioned on doc_id into one
    *    partition per core — an explicit count, so AQE cannot coalesce it
    *    back into the single task a one-row-group parquet file yields — and
    *    each document's set ([[graft.functions.WordNgrams]]' shingle set,
    *    the native form of `array_sort(array_distinct(...))` over the
    *    shingles) and signature come out of the same projection;
    *  - the df > [[MaxShingleDf]] hot set: [[dfUpperBound]] rules it empty
    *    in the same job that computes the sets; only a bound above the cap
    *    runs the exact aggregate. Only a non-empty hot set builds a capped
    *    projection in the first frame's place: hot shingles leave each
    *    set, signatures are recomputed, and documents with no shingle left
    *    are dropped (q45's exclusion rule, as for documents with < 3
    *    tokens).
    *
    * `pin = true` materializes through [[graft.engine.Memos]]: the first
    * frame by a deferred checkpoint that the bound's job fills, a capped
    * replacement eagerly, with the first frame unpersisted at once — the
    * session memo's path ([[corpusShingleSigs]]). `pin = false` returns an
    * unpinned plan, so an ad-hoc caller leaves no storage behind. */
  private[graft] def shingleSigsOf(docs: org.apache.spark.sql.DataFrame,
      pin: Boolean): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    // a separate select keeps tk one projection the kernel reads, instead of
    // an inlined expression evaluated once per reference
    def withSig(sets: org.apache.spark.sql.DataFrame) =
      sets.select(col("doc_id"), col("tk"),
        graft.functions.MinHashExpression.minhash64(col("tk")).as("sig"))
    // >= 3 tokens = >= 2 spaces, tested on the text: a filter on the set
    // itself would be pushed below the exchange as a second kernel call in
    // the single scan task
    val built = withSig(docs
      .select(col("doc_id"), col("text"))
      .filter(col("text").like("% % %"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), ShingleExpression.shingleSet(col("text"), 3).as("tk")))
    // the df bound below is the action that stores the memo
    val first = if (pin) graft.engine.Memos.deferredCheckpoint(built) else built
    val hot =
      if (dfUpperBound(first) <= MaxShingleDf) Set.empty[String]
      else first.select(explode(col("tk")).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxShingleDf)
        .collect().map(_.getString(0)).toSet
    if (hot.isEmpty) first
    else {
      // order-preserving filter, so each capped set stays sorted
      val dropHot = udf((tk: Seq[String]) => tk.filterNot(hot))
      val capped = withSig(first
        .select(col("doc_id"), dropHot(col("tk")).as("tk"))
        .filter(size(col("tk")) > 0))
      if (!pin) capped
      else {
        val stored = graft.engine.Memos.checkpoint(capped)
        graft.engine.Memos.unpersistFrame(first)
        stored
      }
    }
  }

  /** Cells of [[dfUpperBound]]'s count array (4 MB of ints per task). */
  private val DfBoundCells = 1 << 20

  /** An upper bound on the document frequency of every shingle in a
    * (doc_id, tk, …) frame of distinct-per-doc shingle sets, in ONE
    * shuffle-free job: each task counts its shingles into a fixed array
    * indexed by their xxHash64, the driver sums the arrays and takes the
    * largest cell. A cell holds the df of every shingle hashed to it, so
    * the bound is never below the true maximum; collisions only loosen it
    * (the driver-tier corpora: max df 25, largest cell 34). A bound above
    * the cap costs an exact aggregate, never a wrong answer — at a scale
    * where the cells saturate, every build pays that aggregate. */
  private def dfUpperBound(sets: org.apache.spark.sql.DataFrame): Int = {
    val cells = DfBoundCells
    sets.select(col("tk")).queryExecution.toRdd.mapPartitions { rows =>
      val c = new Array[Int](cells)
      rows.foreach { r =>
        val tk = r.getArray(0)
        var j = 0
        while (j < tk.numElements()) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUTF8String(tk.getUTF8String(j), 42L)
          c((h & (cells - 1)).toInt) += 1
          j += 1
        }
      }
      Iterator.single(c)
    }.reduce { (a, b) => var i = 0; while (i < cells) { a(i) += b(i); i += 1 }; a }
      .max
  }

  /** Per-doc maxDf-CAPPED 3-gram shingle SET as a sorted array (doc_id,
    * tk) — q45's exact similarity space, a projection of the memoized
    * [[corpusShingleSigs]]. Shared by both banded verifies, q396 and
    * MinHashSpec. */
  private[graft] def cappedShingleSets(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    corpusShingleSigs(spark, dir).select(col("doc_id"), col("tk"))

  /** [[cappedShingleSets]] over any (doc_id, text, …) frame, unpinned —
    * shared with the portable sketch-then-verify pair stage the capstones
    * default to. */
  private[graft] def cappedShingleSetsOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shingleSigsOf(docs, pin = false).select(col("doc_id"), col("tk"))

  /** (doc_id, sig: array<long>[16]) MinHash signatures via the codegen'd
    * [[graft.functions.MinHash64]] kernel over the maxDf-CAPPED 3-gram
    * shingle set — EXACTLY q45's similarity space, cap included; a
    * projection of the memoized [[corpusShingleSigs]], so one kernel pass
    * per (session, dir) serves q371 (signature dump), q372 (banded pair
    * join) and q385 (delta-vs-corpus). Two design decisions:
    * (1) SHINGLES, not unigram token sets — this corpus draws from a
    * ~40-word vocabulary, so unigram-set MinHash degenerates into one
    * giant band bucket (measured: 12.4M candidate pairs at sf0.1, 67 s);
    * (2) the df > 50 CAP is a GUARD, not a filter this corpus exercises:
    * no shingle of the sf0.1 documents reaches df > 50 (0 of 27 213
    * distinct), but a corpus with a boilerplate template family would
    * otherwise form one giant near-dup clique through its shared
    * shingles. Capping drops them exactly as q45 does, so signatures,
    * buckets and the verified pair set keep the capped semantics. Docs
    * whose shingles are all capped away (or with < 3 tokens) carry no
    * signature — q45's own exclusion rule. */
  private[llm] def minhashSigs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusShingleSigs(spark, dir).select(col("doc_id"), col("sig"))

  /** MinHash signature dump (q47's twin for Jaccard space): 16 signed-min
    * permutation hashes per doc, emitted as JSON so the driver's scalar
    * comparator never sees an array column. Engine-specific hash →
    * rows-only; MinHashSpec pins bit-equality against an independent
    * Scala reference. */
  val q371MinhashSignatures: GraftQuery = GraftQuery.rowsOnly(
    "q371_minhash_signatures",
    doc = "16-permutation codegen'd MinHash signatures over maxDf-capped 3-gram shingle sets") {
    (spark, dir) =>
      import spark.implicits._
      minhashSigs(spark, dir)
        .select($"doc_id", to_json($"sig").as("sig"))
        .orderBy($"doc_id")
  }

  /** MinHash BANDED near-dup join on the codegen'd signatures — the
    * relational LSH q46 gets from MLlib, without the HashingTF/model
    * detour: 16 permutations band 4×4; docs agreeing on ALL 4 hashes of
    * some band become candidates (P[band match] = j⁴ per band — ~0.95
    * recall at j = 0.8 with 4 bands, and 1.0 empirically at the driver
    * tiers, gated by MinHashSpec against q45's exact pairs); candidates
    * are verified with EXACT shingle-set Jaccard ≥ 0.8 (q45's space), so
    * false positives cannot survive. Banding, the first-matching-band pair
    * dedup (computed from the two signatures alone — no global distinct
    * shuffle) and the verify are the shared stage: [[bandCandidates]] by
    * slice equality, then [[verifyJaccard]].
    *
    * TIER SCOPE of the strict oracle (r9 sf1 sweep finding): the oracle
    * states q45's exact pair set under the empirical recall-1 law, which
    * holds at sf0.001/sf0.01/sf0.1 but NOT at the ×10 synthesized tier —
    * 3 of 2 560 pairs miss all 4 xxh64 bands there, exactly the j⁴-curve
    * tail the math predicts. The xxh64 kernel cannot be replayed in
    * DuckDB, so the miss lands on one side only → q372 is a NAMED sf1
    * exclusion in the standing sweep. Its portable-md5 twins
    * (q494/q495/q508) and the capstone pair stage (portableCandPairsSql)
    * carry the ×10-tier strictness for this machinery — there a banding
    * miss derives identically on both engines.
    *
    * 100 TB plan: one codegen'd projection for signatures, a 4-way
    * bounded explode, equi-joins on (band, 4-hash value) buckets — 256
    * bits of bucket key, so hot buckets are true near-dup groups, not
    * hash collisions; the exact verify touches candidates only. */
  val q372MinhashBanded: GraftQuery = GraftQuery.oracled(
    "q372_minhash_banded",
    // STRICT oracle since r6: candidates are exact-verified on q45's capped
    // shingle space and the banding recall law holds (MinHashSpec gates
    // recall = 1 vs q45 and no pair below 0.8), so the output IS q45's
    // pair set — the oracle is q45's SQL minus the `shared` column, so the
    // strict oracle check covers the whole banded path.
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       round(shared / (sa.n + sb.n - shared), 4) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE shared / (sa.n + sb.n - shared) >= 0.8
      |ORDER BY doc_a, doc_b""") {
    (spark, dir) =>
      import spark.implicits._
      // minhashSigs and cappedShingleSets are projections of one memo, so
      // the band self-join's two sides read the same materialized blocks
      val sig = minhashSigs(spark, dir)
      verifyJaccard(bandCandidates(sig, sig, 4), cappedShingleSets(spark, dir))
        .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
  }

  /** (doc_id, simhash) signatures — shared by q47 (signature dump) and q105
    * (banded pair join). One codegen'd [[graft.functions.SimHash64]] kernel
    * call per document: single projection, no shuffle, fully deterministic
    * (safe for multi-consumer recomputation). */
  private[llm] def simhashes(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        graft.functions.SimHashExpression.simhash64(split($"text", " ")).as("simhash"))
  }

  /** The declarative HOF formulation of the same signature — KEPT ONLY as the
    * bit-equality oracle for the [[graft.functions.SimHash64]] kernel
    * (SimHashSpec). Never use it in a pipeline: the nested
    * aggregate/zip_with/transform evaluates interpreted and recomputes
    * `xxhash64(tok)` once per BIT (64× per token) — measured ~270 s for the
    * signature projection alone at sf0.1, the root cause of round 3's
    * 552 s q105. */
  private[llm] def simhashesHof(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .withColumn("votes",
        // votes[i] = sum over tokens of (bit i of xxhash64(token) ? +1 : -1)
        expr("""aggregate(
                 t,
                 array_repeat(0L, 64),
                 (acc, tok) -> zip_with(
                   acc,
                   transform(sequence(0, 63),
                     i -> CASE WHEN (shiftright(xxhash64(tok), i) & 1L) = 1L THEN 1L ELSE -1L END),
                   (a, v) -> a + v))"""))
      .withColumn("simhash",
        expr("""aggregate(
                 transform(sequence(0, 63),
                   i -> CASE WHEN votes[i] > 0L THEN shiftleft(1L, i) ELSE 0L END),
                 0L, (acc, b) -> acc | b)"""))
      .select($"doc_id", $"simhash")
  }

  /** SimHash-64: per token xxhash64, each bit votes ±1, sign of the vote sum
    * per bit position → 64-bit fingerprint. Near-dups differ in few bits
    * (q105 does the banded pair join). Engine-specific hash → rows-only. */
  val q47Simhash: GraftQuery = GraftQuery.rowsOnly(
    "q47_simhash",
    doc = "64-bit SimHash over whitespace tokens via xxhash64 bit votes") { (spark, dir) =>
    import spark.implicits._
    simhashes(spark, dir).orderBy($"doc_id")
  }

  /** Band buckets larger than this re-band on the remaining 48 bits before
    * pair emission ([[simhashPairs]]) — the analogue of [[MaxShingleDf]] for
    * the simhash join: a (band, value) bucket shared by k docs would emit k²
    * candidates unchecked. */
  private[llm] val MaxBandBucket = 256

  /** The 48 non-band bits of `simhash`, packed low-to-high relative to
    * `band` — the sub-banding domain for hot-bucket splits.
    * shiftrightunsigned keeps the packing clean; band=3 needs the CASE
    * because a 64-bit shift is a no-op in two's-complement shift
    * semantics. */
  private[llm] def remExpr: org.apache.spark.sql.Column = expr(
    """(simhash & (shiftleft(1L, band * 16) - 1L)) |
      |shiftleft(CASE WHEN band = 3 THEN 0L
      |               ELSE shiftrightunsigned(simhash, (band + 1) * 16) END,
      |          band * 16)""".stripMargin)

  /** SimHash near-dup PAIRS from a (doc_id, simhash) frame via banding: split
    * the 64-bit signature into 4 16-bit bands, bucket-join on (band, value),
    * verify with bit_count. Pigeonhole guarantee: a pair within hamming
    * distance 3 differs in ≤3 of 64 bits, so at least one of the 4 bands is
    * identical — banding recall for the hamming≤3 set is EXACTLY 1
    * (SimHashSpec asserts set equality against the all-pairs scan).
    * Sub-quadratic: docs only meet inside shared band buckets, never
    * all-pairs.
    *
    * Two scale guards, both exactness-preserving:
    *
    *  1. Hot buckets sub-band. A (band, v) bucket of size > maxBucket
    *     (template corpora concentrate simhash bits) re-applies the
    *     pigeonhole: within a matching 16-bit band, a hamming≤3 pair differs
    *     in ≤3 of the remaining 48 bits, so one of 4 12-bit sub-bands of
    *     those 48 bits is identical. Hot docs join on (band, v, sub, subv)
    *     instead of (band, v), splitting a k² bucket into its sub-band
    *     cells. (A pathological corpus agreeing on 28 bits could recurse —
    *     12-bit sub-band matched → 4×9-bit sub-sub-bands of the remaining
    *     36 — but one level covers the observed blowups.)
    *
    *  2. No global `distinct()`. A pair matching in several bands (or
    *     sub-bands) is deduplicated by construction: keep a row only where
    *     its band is the FIRST band on which the two signatures agree (and,
    *     within a hot band, the first agreeing sub-band) — a codegen'd
    *     filter computed from sim_a/sim_b alone, replacing a full shuffle
    *     of the candidate set.
    *
    * Band width is the recall-radius vs bucket-selectivity dial: an 8×8-bit
    * variant (hamming≤7 guarantee) measured 723 s at sf0.1 because coarse
    * 256-value buckets go quadratic exactly like uncapped q45 shingles.
    * Wider radii come from multi-probe (q108: flip ≤1 bit of a 16-bit
    * band), never from coarser bands. */
  private[llm] def simhashPairs(
      sigs: org.apache.spark.sql.DataFrame,
      maxBucket: Int = MaxBandBucket): org.apache.spark.sql.DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val banded = sigs
      .select($"doc_id", $"simhash", explode(expr(
        "transform(sequence(0, 3), b -> named_struct('band', b, 'v', shiftright(simhash, b*16) & 65535L))")).as("bv"))
      .select($"doc_id", $"simhash", $"bv.band".as("band"), $"bv.v".as("v"))
    // bucket census: the hot key set is tiny by construction → broadcast;
    // the banded stream itself never shuffles for the split.
    val hot = banded.groupBy($"band", $"v").agg(count(lit(1)).as("k"))
      .filter($"k" > maxBucket).select($"band", $"v")
    val cold = banded.join(broadcast(hot), Seq("band", "v"), "left_anti")

    val coldPairs = cold.select($"doc_id".as("doc_a"), $"simhash".as("sim_a"), $"band", $"v")
      .join(cold.select($"doc_id".as("doc_b"), $"simhash".as("sim_b"), $"band", $"v"),
        Seq("band", "v"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"sim_a", $"sim_b", $"band")

    // hot path: rem = the three non-matching bands packed low-to-high
    // (48 bits, [[remExpr]]); sub-band s = bits [12s, 12s+12) of rem
    val subbed = banded.join(broadcast(hot), Seq("band", "v"), "left_semi")
      .withColumn("rem", remExpr)
      .select($"doc_id", $"simhash", $"band", $"v", $"rem", explode(expr(
        "transform(sequence(0, 3), s -> named_struct('sub', s, 'sv', shiftrightunsigned(rem, s*12) & 4095L))")).as("ssv"))
      .select($"doc_id", $"simhash", $"band", $"v", $"rem",
        $"ssv.sub".as("sub"), $"ssv.sv".as("sv"))
    val hotPairs = subbed
      .select($"doc_id".as("doc_a"), $"simhash".as("sim_a"), $"rem".as("rem_a"),
        $"band", $"v", $"sub", $"sv")
      .join(subbed.select($"doc_id".as("doc_b"), $"simhash".as("sim_b"),
        $"rem".as("rem_b"), $"band", $"v", $"sub", $"sv"),
        Seq("band", "v", "sub", "sv"))
      .filter($"doc_a" < $"doc_b")
      // within one hot band, keep only the first agreeing sub-band
      .filter(expr(
        "sub = filter(sequence(0, 3), s -> (shiftrightunsigned(rem_a, s*12) & 4095L) = (shiftrightunsigned(rem_b, s*12) & 4095L))[0]"))
      .select($"doc_a", $"doc_b", $"sim_a", $"sim_b", $"band")

    coldPairs.union(hotPairs)
      // keep only the first band on which the signatures agree — every
      // hamming<=3 pair is emitted on ALL its agreeing bands (cold always;
      // hot via the sub-band pigeonhole), so exactly one row survives.
      .filter(expr(
        "band = filter(sequence(0, 3), bb -> (shiftright(sim_a ^ sim_b, bb*16) & 65535L) = 0L)[0]"))
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter($"hamming" <= 3)
      .select($"doc_a", $"doc_b", $"hamming")
  }

  /** PORTABLE (md5-based) 60-bit signatures — [[simhashes]] with the token
    * hash swapped to [[graft.functions.SimHash60Md5]], the variant BOTH
    * engines can compute (DuckDB: `CAST('0x' || substr(md5(tok), 1, 15) AS
    * BIGINT)` bit votes). Feeds q105/q108 so the whole banded near-dup
    * path is driver-verified; q47 keeps the production-rate xxh64 kernel. */
  private[llm] def simhashes60(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import spark.implicits._
    // Memoized + repartitioned (r10 verdict item 7): the md5-per-token
    // kernel is the expensive part, and q105/q108/q493 each referenced the
    // signature frame 4–7 times in their DAGs (banded/probed/hot/cold
    // branches), recomputing the kernel per reference. One kernel pass per
    // (session, dir), fanned out by doc_id (documents.parquet arrives as a
    // single split), now feeds every branch from materialized blocks.
    corpusFrame(spark, dir, "simhash60")(
      Tables.documents(spark, dir)
        .select($"doc_id",
          graft.functions.SimHashExpression.simhash60md5(split($"text", " ")).as("simhash"))
        .repartition(col("doc_id")))
  }

  /** Shared oracle prefix for q105/q108: the EXACT same 60-bit md5 simhash
    * per document, derived in pure SQL (token unnest → per-bit votes →
    * signature fold), then the exact hamming-thresholded all-pairs set.
    * All-pairs is fine ON THE ORACLE side (≤5000 docs at the tested SFs);
    * the ENGINE side is the sub-quadratic banded join whose pigeonhole
    * recall at the radius is exactly 1 — so the two sets must be equal,
    * and the driver now verifies the banding machinery end to end. */
  private def simhash60PairsSql(radius: Int): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM toks),
       |votes AS (SELECT doc_id, i,
       |                 sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |          FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS i) t
       |          GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS s
       |        FROM votes GROUP BY 1)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.s, b.s)) <= $radius
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash near-dup pairs over `documents`: [[simhashes60]] (codegen md5
    * kernel — STRICT-oracle'd since r7: the oracle re-derives the identical
    * signatures in SQL and takes the exact hamming≤3 all-pairs set, which
    * the banded join equals by the 4-band pigeonhole) → repartition by
    * doc_id (documents.parquet arrives as few splits; the banded self-join
    * should fan out across all cores — at cluster scale you would persist/
    * checkpoint the signature frame instead of relying on deterministic
    * recomputation) → [[simhashPairs]]. */
  val q105SimhashNeardup: GraftQuery = GraftQuery.oracled(
    "q105_simhash_neardup",
    simhash60PairsSql(3),
    doc = "banded simhash join (4x16-bit bands + hot-bucket sub-banding), hamming<=3 verified pairs") { (spark, dir) =>
    import spark.implicits._
    val sigs = simhashes60(spark, dir) // memoized, pre-fanned by doc_id
    simhashPairs(sigs).withColumn("hamming", $"hamming".cast("long"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Connected components by distributed min-label propagation: every vertex
    * starts labeled with its own id; each round every vertex takes the min of
    * its label and its neighbors' labels; fixpoint = per-component min id.
    * Each round is two distributed ops (edge-label join + min-groupBy); the
    * driver only checks a converged COUNT per round (the same E3 pattern as
    * every iterative MLlib fit — no row data ever reaches the driver).
    * Rounds are bounded by component diameter — near-dup clusters are
    * shallow clique-ish blobs, so a handful in practice. At 100 TB, swap the
    * plain propagation for the large-star/small-star alternation (Kiveris et
    * al., "Connected Components in MapReduce"), which bounds rounds by
    * O(log n) under adversarial chains; the per-round plan shape is the
    * same joins. */
  private[llm] def minLabelComponents(
      vertices: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val e = pairs.toDF("a", "b")
    val sym = e.union(e.select($"b", $"a")).toDF("src", "dst").cache()
    // localCheckpoint (eager) per round: each round's frame references the
    // previous one 2×, so plain cache() grows the LOGICAL plan 2^rounds —
    // lineage must be truncated, not just memoized. (On a real cluster use
    // reliable `checkpoint()`: localCheckpoint does not survive executor
    // loss.)
    var labels = vertices.toDF("id").select($"id", $"id".as("lbl"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 25) {
      val nbr = sym
        .join(labels.select($"id".as("src"), $"lbl".as("slbl")), Seq("src"))
        .groupBy($"dst".as("id")).agg(min($"slbl").as("nbr"))
      val next = labels.join(nbr, Seq("id"), "left")
        .select($"id", least($"lbl", coalesce($"nbr", $"lbl")).as("lbl"))
        .localCheckpoint(true)
      changed = next.join(labels.select($"id", $"lbl".as("prev")), Seq("id"))
        .filter($"lbl" < $"prev").count()
      labels = next
      iter += 1
    }
    sym.unpersist()
    // Fail LOUDLY on non-convergence: a component whose diameter exceeds the
    // round cap would otherwise return silently-wrong labels. Diameter-bound
    // graphs (near-dup cliques) converge in a handful of rounds; adversarial
    // chains belong on [[starComponents]], whose rounds are O(log n).
    require(changed == 0,
      s"min-label propagation did not converge in $iter rounds; " +
        "use starComponents (large-star/small-star) for high-diameter graphs")
    labels
  }

  /** Cluster-keyed windows downstream (q343's champion rank, q398's size
    * census) assume near-dup clusters are SMALL; past this size a cluster
    * is a dedup bug (degenerate banding / an uncapped hot shingle — the
    * q372 round-5 incident shape), not a plan input. */
  private[llm] val MaxDedupClusterSize = 1000L

  /** Loud MEGA-CLUSTER guard — q100's non-convergence-guard pattern applied
    * to cluster SIZE: one census agg over the (checkpointed) labels, then a
    * driver-side `require` naming the offending cluster. Turns the
    * "clusters are small by construction" scaladoc assumption into an
    * enforced check, so a pathological mega-cluster fails the job loudly
    * instead of silently serializing one giant window partition. */
  private[llm] def guardClusterSizes(
      labels: org.apache.spark.sql.DataFrame,
      cap: Long = MaxDedupClusterSize): org.apache.spark.sql.DataFrame = {
    val worst = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("m"))
      .orderBy(col("m").desc).limit(1).collect()
    for (r <- worst; m = r.getLong(1); if m > cap)
      throw new IllegalStateException(
        s"mega-cluster guard: near-dup cluster ${r.get(0)} has $m members " +
          s"(cap $cap) — a dedup bug (degenerate banding / uncapped hot " +
          "shingle), not a plan input; fix the pair stage before windowing")
    labels
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SOCC'14): every node u links each LARGER
    * neighbor v to m = min(Γ(u) ∪ {u}). Input/output: directed edges
    * (u > v), deduplicated. One symmetric groupBy-min + one hash join per
    * round — no adjacency lists are ever collected. */
  private[llm] def largeStar(edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.union(edges.select($"v".as("u"), $"u".as("v")))
    val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
      .select($"u", least($"mn", $"u").as("m"))
    sym.filter($"v" > $"u")
      .join(mins, Seq("u"))
      .select($"v".as("u"), $"m".as("v")) // v > u ≥ m ⇒ stays directed large→small
      .filter($"u" =!= $"v")
      .distinct()
  }

  /** One small-star round: every node u links each SMALLER-or-self neighbor
    * (and itself) to m = min of its smaller neighborhood. Keeps edges
    * directed (u > v). */
  private[llm] def smallStar(edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val mins = edges.groupBy($"u").agg(min($"v").as("m"))
    val j = edges.join(mins, Seq("u"))
    j.select($"v".as("u"), $"m".as("v"))         // (v, m) for v ∈ N_small(u)
      .union(j.select($"u", $"m").distinct())    // (u, m)
      .filter($"u" =!= $"v")
      .distinct()
  }

  /** Connected components by large-star/small-star alternation — the 100 TB
    * variant of [[minLabelComponents]]: rounds bounded O(log n) even on
    * adversarial path graphs (where plain propagation needs diameter rounds;
    * StarComponentsSpec proves ≤⌈log₂⌉+2 rounds on a 64-chain). Fixpoint =
    * star graphs, every non-root pointing at its component's min id; the
    * driver sees only two scalar counts per round (edge count + changed
    * count), never row data. */
  private[graft] def starComponents(
      vertices: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      maxRounds: Int = 50): (org.apache.spark.sql.DataFrame, Int) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    // localCheckpoint (eager) per round: one round references `edges` 4×
    // (large-star's sym + mins, the convergence diff), so cache() alone
    // still grows the LOGICAL plan ~4^rounds — truncate lineage instead.
    // (On a real cluster use reliable `checkpoint()`.)
    var edges = pairs.toDF("a", "b").filter($"a" =!= $"b")
      .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      .distinct().localCheckpoint(true)
    var nEdges = edges.count()
    var converged = nEdges == 0
    var iter = 0
    while (!converged && iter < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nNext = next.count()
      // set equality = equal counts + empty difference (both driver scalars)
      converged = nNext == nEdges && next.exceptAll(edges).isEmpty
      graft.engine.Memos.unpersistFrame(edges) // next no longer reads it
      edges = next
      nEdges = nNext
      iter += 1
    }
    require(converged, s"large-star/small-star did not converge in $iter rounds")
    val roots = edges.groupBy($"u".as("id")).agg(min($"v").as("root"))
    vertices.toDF("id")
      .join(roots, Seq("id"), "left")
      .select($"id", coalesce($"root", $"id").as("lbl")) -> iter
  }

  /** Dedup clustering: connected components over the exact near-dup pair set
    * (q45), assigning every document a canonical cluster id (the min doc_id
    * reachable through near-dup edges; singletons are their own cluster) —
    * the step that turns pairwise near-dup detection into a keep/drop
    * decision per document. Oracle: a DuckDB recursive CTE computes the same
    * min-reachable-id fixpoint declaratively. */
  val q100DedupClusters: GraftQuery = GraftQuery.oracled(
    "q100_dedup_clusters",
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
      |          UNION ALL
      |          SELECT doc_b, doc_a FROM good),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
      |)
      |SELECT id AS doc_id, min(lbl) AS cluster_id,
      |       CASE WHEN id = min(lbl) THEN 1 ELSE 0 END AS is_canonical
      |FROM reach GROUP BY id
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val pairs = q45NeardupJaccard.fn(spark, dir).select($"doc_a", $"doc_b")
    val verts = Tables.documents(spark, dir).select($"doc_id")
    minLabelComponents(verts, pairs)
      .select($"id".as("doc_id"), $"lbl".as("cluster_id"),
        when($"id" === $"lbl", 1).otherwise(0).as("is_canonical"))
      .orderBy($"doc_id")
  }

  /** Dedup clustering again, via [[starComponents]] — same answer as q100
    * (identical oracle), different 100 TB plan: rounds bounded O(log n)
    * instead of component diameter, so adversarial near-dup chains (doc A ~
    * doc B ~ doc C ... with no direct A~C edge) cannot stall convergence. */
  val q109DedupClustersStar: GraftQuery = GraftQuery.oracled(
    "q109_dedup_clusters_star",
    q100DedupClusters.oracle.get,
    doc = "connected components via large-star/small-star alternation (O(log n) rounds)") { (spark, dir) =>
    import spark.implicits._
    val pairs = q45NeardupJaccard.fn(spark, dir).select($"doc_a", $"doc_b")
    val verts = Tables.documents(spark, dir).select($"doc_id")
    starComponents(verts, pairs)._1
      .select($"id".as("doc_id"), $"lbl".as("cluster_id"),
        when($"id" === $"lbl", 1).otherwise(0).as("is_canonical"))
      .orderBy($"doc_id")
  }

  /** SimHash pairs at hamming radius ≤ 7 via MULTI-PROBE banding — the
    * promised radius extension beyond q105's ≤3, without coarsening bands
    * (8-bit bands measured 723 s at sf0.1; see [[simhashPairs]]).
    *
    * Pigeonhole at radius 7: ≤7 differing bits over 4 bands means SOME band
    * differs in ≤1 bit (4 bands × 2 bits each would need ≥8). So one side of
    * the self-join probes each band's value PLUS its 16 one-bit flips (17
    * probes), the other side keeps exact values; a pair lands in a shared
    * (band, value) bucket iff that band's hamming ≤ 1 — recall is exactly 1
    * for the radius-7 set (MultiprobeSpec asserts set equality vs all-pairs).
    *
    * Candidate-volume bounds: probe expansion is a fixed 17× on ONE join
    * side (68 rows/doc), buckets keep full 16-bit selectivity — multi-probe
    * trades linear expansion for the quadratic blowup coarser bands cause —
    * and oversized (band, value) buckets get the q105 hot-bucket treatment
    * re-derived for radius 7: a probe match pins that band's hamming to ≤1,
    * leaving ≤7 differing bits among the remaining 48, so 8 sub-bands of 6
    * bits force an exact sub-band match (probing never touches `rem`, so
    * both sides sub-band their original signatures). Dedup needs no
    * `distinct()`: within a band, exactly one probe can equal the other
    * side's value (flip positions are unique; hot sub-band dupes collapse
    * via a first-agreeing-sub-band filter), and across bands a
    * first-agreeing-band filter keeps one row, all codegen'd filters. */
  private[llm] def simhashPairsMultiprobe(
      sigs: org.apache.spark.sql.DataFrame,
      radius: Int = 7,
      maxBucket: Int = MaxBandBucket): org.apache.spark.sql.DataFrame = {
    require(radius <= 7, s"radius $radius > 7 needs 2-bit probes or more bands")
    val spark = sigs.sparkSession
    import spark.implicits._
    val banded = sigs
      .select($"doc_id", $"simhash", explode(expr(
        "transform(sequence(0, 3), b -> named_struct('band', b, 'v', shiftright(simhash, b*16) & 65535L))")).as("bv"))
      .select($"doc_id", $"simhash", $"bv.band".as("band"), $"bv.v".as("v"))
    val probed = banded.select($"doc_id", $"simhash", $"band", explode(expr(
        "transform(sequence(0, 16), p -> CASE WHEN p = 16 THEN v ELSE cast(v ^ shiftleft(1L, p) AS BIGINT) END)")).as("v"))

    // Hot-bucket guard, the q105 pattern at radius 7: census the UNPROBED
    // side's (band, v) buckets (that is the space probes land in); oversized
    // buckets re-apply the pigeonhole on the remaining 48 bits. A probe
    // match pins the band's hamming ≤ 1, so the other 48 bits of a radius-7
    // pair differ in ≤ 7 — 8 sub-bands of 6 bits force an exact sub-band
    // match. Probing never alters `rem` (it flips band bits only), so both
    // sides sub-band their ORIGINAL signatures.
    val hot = banded.groupBy($"band", $"v").agg(count(lit(1)).as("k"))
      .filter($"k" > maxBucket).select($"band", $"v")
    val coldPairs = probed
      .select($"doc_id".as("doc_a"), $"simhash".as("sim_a"), $"band", $"v")
      .join(banded.join(broadcast(hot), Seq("band", "v"), "left_anti")
        .select($"doc_id".as("doc_b"), $"simhash".as("sim_b"), $"band", $"v"),
        Seq("band", "v"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"sim_a", $"sim_b", $"band")

    val sub8 = "transform(sequence(0, 7), s -> named_struct('sub', s, 'sv', shiftrightunsigned(rem, s*6) & 63L))"
    val probedHot = probed.join(broadcast(hot), Seq("band", "v"), "left_semi")
      .withColumn("rem", remExpr)
      .select($"doc_id", $"simhash", $"band", $"v", $"rem", explode(expr(sub8)).as("ssv"))
      .select($"doc_id", $"simhash", $"band", $"v", $"rem",
        $"ssv.sub".as("sub"), $"ssv.sv".as("sv"))
    val exactHot = banded.join(broadcast(hot), Seq("band", "v"), "left_semi")
      .withColumn("rem", remExpr)
      .select($"doc_id", $"simhash", $"band", $"v", $"rem", explode(expr(sub8)).as("ssv"))
      .select($"doc_id", $"simhash", $"band", $"v", $"rem",
        $"ssv.sub".as("sub"), $"ssv.sv".as("sv"))
    val hotPairs = probedHot
      .select($"doc_id".as("doc_a"), $"simhash".as("sim_a"), $"rem".as("rem_a"),
        $"band", $"v", $"sub", $"sv")
      .join(exactHot.select($"doc_id".as("doc_b"), $"simhash".as("sim_b"),
        $"rem".as("rem_b"), $"band", $"v", $"sub", $"sv"),
        Seq("band", "v", "sub", "sv"))
      .filter($"doc_a" < $"doc_b")
      // within one hot band, keep only the first agreeing 6-bit sub-band
      .filter(expr(
        "sub = filter(sequence(0, 7), s -> (shiftrightunsigned(rem_a, s*6) & 63L) = (shiftrightunsigned(rem_b, s*6) & 63L))[0]"))
      .select($"doc_a", $"doc_b", $"sim_a", $"sim_b", $"band")

    coldPairs.union(hotPairs)
      // one row per pair: first band whose hamming ≤ 1 (within a band the
      // matching probe is unique — and in a hot band the first-sub-band
      // filter above already collapsed sub-band dupes)
      .filter(expr(
        "band = filter(sequence(0, 3), bb -> bit_count(shiftright(sim_a ^ sim_b, bb*16) & 65535L) <= 1)[0]"))
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter($"hamming" <= radius)
      .select($"doc_a", $"doc_b", $"hamming")
  }

  /** SimHash near-dup pairs at hamming ≤ 7 over `documents` — q105's
    * radius-extended sibling (multi-probe banding, same [[simhashes60]]
    * signature frame). STRICT-oracle'd since r7 (q105's pattern at
    * radius 7): hamming ≤ 7 across 4 bands pigeonholes to some band with
    * ≤ 1 differing bit, which the 17-probe fan catches — recall exactly 1,
    * so the engine's sub-quadratic probe join must equal the oracle's
    * exact all-pairs set. */
  val q108SimhashMultiprobe: GraftQuery = GraftQuery.oracled(
    "q108_simhash_multiprobe",
    simhash60PairsSql(7),
    doc = "multi-probe banded simhash join (17 probes/band), hamming<=7 verified pairs") { (spark, dir) =>
    import spark.implicits._
    val sigs = simhashes60(spark, dir) // memoized, pre-fanned by doc_id
    simhashPairsMultiprobe(sigs).withColumn("hamming", $"hamming".cast("long"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Incremental (delta-vs-corpus) dedup — the shape a production ingest
    * actually runs: classify each document of an incoming batch (source =
    * 'src0' stands in for the delta) against the existing corpus as
    * exact_dup (normalized content hash already present), near_dup (shingle
    * Jaccard ≥ 0.8 with some corpus doc), or unique. Never corpus×corpus:
    *
    *  - exact: corpus keys stream map-side against the BROADCAST delta key
    *    set (semi join), the surviving key set is tiny and broadcasts back —
    *    the 100 TB corpus is scanned once and never shuffled;
    *  - near: the delta's (frequency-capped) shingle index broadcasts and
    *    joins the corpus shingle stream — candidate pairs are delta-keyed,
    *    so the pair agg and Jaccard filter shuffle O(|delta| · overlap),
    *    not O(|corpus|²). */
  val q112DeltaDedup: GraftQuery = GraftQuery.oracled(
    "q112_delta_dedup",
    """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, source, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s
      |          WHERE a.source = 'src0' AND b.source <> 'src0'
      |          GROUP BY 1, 2),
      |near AS (SELECT DISTINCT da FROM pairs
      |         JOIN sizes sa ON da = sa.doc_id
      |         JOIN sizes sb ON db = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |keys AS (SELECT doc_id, source, sha256(lower(trim(text))) AS k FROM documents),
      |exact AS (SELECT DISTINCT d.doc_id FROM keys d
      |          JOIN keys c ON d.k = c.k
      |          WHERE d.source = 'src0' AND c.source <> 'src0')
      |SELECT d.doc_id,
      |       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
      |            WHEN nr.da IS NOT NULL THEN 'near_dup'
      |            ELSE 'unique' END AS status
      |FROM documents d
      |LEFT JOIN exact e ON d.doc_id = e.doc_id
      |LEFT JOIN near nr ON d.doc_id = nr.da
      |WHERE d.source = 'src0'
      |ORDER BY d.doc_id""") { (spark, dir) =>
    import spark.implicits._
    deltaDedup(Tables.documents(spark, dir), $"source" === "src0", corpusCappedShingles(spark, dir))
  }

  /** The q112 classification core over any (doc_id, text, …) frame and
    * its capped (doc_id, s) shingle stream `sh` — factored out so the
    * fixture spec can plant all three statuses (the test-data corpus
    * happens to contain no cross-source exact duplicate, so the exact_dup
    * arm would otherwise only be validated vacuously). */
  private[llm] def deltaDedup(
      docs: org.apache.spark.sql.DataFrame,
      isDelta: org.apache.spark.sql.Column,
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val deltaIds = docs.filter(isDelta).select($"doc_id")
    val shD = sh.join(broadcast(deltaIds), Seq("doc_id"), "left_semi").toDF("da", "s")
    val shC = sh.join(broadcast(deltaIds), Seq("doc_id"), "left_anti").toDF("db", "s")
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val near = broadcast(shD).join(shC, Seq("s"))
      .groupBy($"da", $"db").agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("da", "na"), Seq("da"))
      .join(sizes.toDF("db", "nb"), Seq("db"))
      .filter($"shared" / ($"na" + $"nb" - $"shared") >= 0.8)
      .select($"da".as("doc_id")).distinct()
    val key = sha2(lower(trim($"text")), 256)
    val deltaKeys = docs.filter(isDelta).select($"doc_id", key.as("k"))
    val dupKeys = docs.filter(!isDelta).select(key.as("k"))
      .join(broadcast(deltaKeys.select($"k").distinct()), Seq("k"), "left_semi")
      .distinct()
    val exact = deltaKeys.join(broadcast(dupKeys), Seq("k"), "left_semi").select($"doc_id")
    deltaIds
      .join(exact.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
      .join(near.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"is_exact" === 1, "exact_dup")
          .when($"is_near" === 1, "near_dup")
          .otherwise("unique").as("status"))
      .orderBy($"doc_id")
  }

  /** Test-set contamination check (decontamination, the Brown et al. GPT-3
    * appendix-C shape): flag training documents sharing any 5-gram with a
    * held-out eval set — here the deterministic `doc_id % 50 = 0` slice
    * stands in for the benchmark suite. Reports, per contaminated train doc,
    * how many distinct eval 5-grams it contains and how many eval docs those
    * hit.
    *
    * 100 TB plan: the eval side is tiny by definition (benchmarks are
    * thousands of docs, not billions) — its shingle set BROADCASTS; the
    * corpus side explodes 5-grams map-side and hash-joins the broadcast
    * in-place, so the corpus is scanned once and only the (train_doc, eval
    * shingle) HITS — a near-empty stream on clean data — ever shuffle for
    * the per-doc aggregation. */
  val q114Contamination: GraftQuery = GraftQuery.oracled(
    "q114_contamination",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i)),
      |ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0),
      |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
      |SELECT tr.doc_id,
      |       count(DISTINCT tr.s) AS n_hit_shingles,
      |       count(DISTINCT ev.eval_id) AS n_eval_docs
      |FROM tr JOIN ev ON tr.s = ev.s
      |GROUP BY tr.doc_id
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    corpusContamination(spark, dir).orderBy($"doc_id")
  }

  /** CONTAINMENT-FRACTION DECONTAMINATION — the published big-run rule
    * (Brown et al. 2020 appendix C's 13-gram filter; Lee et al. 2022):
    * q114 answers "does a train doc share ANY eval shingle"; this scores
    * HOW MUCH of the doc is contained — per train doc, the fraction of
    * its distinct 8-grams that appear anywhere in the eval set, flagged
    * at the 70% containment threshold. The graded number (contain_ppm)
    * is what lets a pipeline rank borderline docs instead of
    * binary-dropping them.
    *
    * The flag compares 10·n_hits ≥ 7·n_grams in exact integers — the
    * threshold can never flip on float jitter. Only docs with ≥1 hit are
    * emitted (the report shape).
    *
    * 100 TB plan: the eval 8-gram set is eval-sized and broadcasts
    * (same as q114); the train side is one explode + broadcast join +
    * per-doc agg, and the per-doc gram totals ride the SAME exploded
    * frame — the corpus is shingled exactly once. */
  val q353ContainmentDecontam: GraftQuery = GraftQuery.oracled(
    "q353_containment_decontam",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |g AS (SELECT DISTINCT doc_id, doc_id % 50 = 0 AS is_eval, array_to_string(t[i:i+7], ' ') AS s
      |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i)),
      |ev AS (SELECT DISTINCT s FROM g WHERE is_eval),
      |tr AS (SELECT doc_id, s FROM g WHERE NOT is_eval),
      |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1),
      |hit AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM tr JOIN ev USING (s) GROUP BY 1)
      |SELECT h.doc_id, t.n_grams, h.n_hits,
      |       CAST(floor(1000000.0 * h.n_hits / t.n_grams) AS BIGINT) AS contain_ppm,
      |       CASE WHEN 10 * h.n_hits >= 7 * t.n_grams THEN 1 ELSE 0 END AS flagged
      |FROM hit h JOIN tot t USING (doc_id)
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .select($"doc_id", ($"doc_id" % 50 === 0).as("is_eval"),
        explode(ShingleExpression.shingleSet($"text", 8)).as("s"))
    val ev = g.filter($"is_eval").select($"s").distinct()
    val tr = g.filter(!$"is_eval").select($"doc_id", $"s")
    val tot = tr.groupBy($"doc_id").agg(count(lit(1)).cast("long").as("n_grams"))
    val hit = tr.join(broadcast(ev), Seq("s"))
      .groupBy($"doc_id").agg(count(lit(1)).cast("long").as("n_hits"))
    hit.join(tot, Seq("doc_id"))
      .select($"doc_id", $"n_grams", $"n_hits",
        floor(lit(1000000.0) * $"n_hits" / $"n_grams").cast("long").as("contain_ppm"),
        when(lit(10) * $"n_hits" >= lit(7) * $"n_grams", 1).otherwise(0).as("flagged"))
      .orderBy($"doc_id")
  }

  /** The q114 core over any (doc_id, text, …) frame — factored out for the
    * fixture spec (planted contaminated/clean docs).
    *
    * Within-doc shingle dedup is the kernel's shingle SET before the
    * explode — a per-row projection — never a global `distinct()`: the
    * latter would shuffle the entire corpus shingle stream just to collapse
    * duplicates that the final `countDistinct` ignores anyway (plan-audited:
    * the train side is scan → explode → broadcast-join with zero pre-join
    * exchanges). */
  private[llm] def contamination(
      docs: org.apache.spark.sql.DataFrame,
      isEval: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs
      .select(col("doc_id"), isEval.as("is_eval"),
        explode(ShingleExpression.shingleSet($"text", 5)).as("s"))
    val ev = sh.filter($"is_eval").select($"doc_id".as("eval_id"), $"s")
    val tr = sh.filter(!$"is_eval").select($"doc_id", $"s")
    tr.join(broadcast(ev), Seq("s"))
      .groupBy($"doc_id")
      .agg(countDistinct($"s").as("n_hit_shingles"),
        countDistinct($"eval_id").as("n_eval_docs"))
      .orderBy($"doc_id")
  }

  /** Passage-level (sub-document) dedup — the CCNet/RefinedWeb granularity:
    * chunk each document into 10-token passages, find passages recurring
    * across documents, and report per document how much of it is duplicated
    * material owned by an earlier doc (owner = min doc_id per passage — the
    * keep/strip decision a cleaning pass applies before document-level
    * near-dup even runs).
    *
    * 100 TB plan: chunking is a map-side projection (no explode blowup —
    * passages PARTITION the token stream, sum of chunk sizes = doc size, so
    * the exploded stream is the corpus itself, once); ownership is one
    * hash-agg keyed by passage hash (only (hash, owner, df) pairs shuffle,
    * never text), and the ownership table joins back keyed on the same
    * hash — two shuffles total regardless of corpus size. */
  val q115PassageDedup: GraftQuery = GraftQuery.oracled(
    "q115_passage_dedup",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ch AS (SELECT doc_id, array_to_string(t[i:i+9], ' ') AS passage
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t), 10)) AS i)),
      |own AS (SELECT passage, min(doc_id) AS owner, count(DISTINCT doc_id) AS n_docs
      |        FROM ch GROUP BY passage)
      |SELECT c.doc_id,
      |       count(*) AS n_passages,
      |       CAST(sum(CASE WHEN o.n_docs > 1 AND c.doc_id <> o.owner THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
      |       round(sum(CASE WHEN o.n_docs > 1 AND c.doc_id <> o.owner THEN 1 ELSE 0 END)
      |             / CAST(count(*) AS DOUBLE), 4) AS dup_fraction
      |FROM ch c JOIN own o ON c.passage = o.passage
      |GROUP BY c.doc_id
      |ORDER BY doc_id""") { (spark, dir) =>
    passageDedup(Tables.documents(spark, dir))
  }

  /** The q115 core over any (doc_id, text, …) frame — factored out for the
    * fixture spec (planted shared/unique passages).
    *
    * Duplication status is WINDOW aggregates over the passage key, not an
    * ownership-table join-back (the join formulation — which the oracle SQL
    * still states — costs a third exchange and tempts the optimizer into
    * broadcasting the fact side at smoke scale): `min≠max(doc_id) over
    * (partition by passage)` ⇔ `count(DISTINCT doc_id) > 1`, and
    * `owner = min(doc_id) over (...)`. Exactly two shuffles at any corpus
    * size — one by passage, one by doc for the final profile. */
  private[llm] def passageDedup(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ch = docs
      .select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", explode(
        transform(sequence(lit(1), size($"t"), lit(10)),
          i => concat_ws(" ", slice($"t", i, lit(10))))).as("passage"))
    val w = Window.partitionBy($"passage")
    val isDup = (min($"doc_id").over(w) =!= max($"doc_id").over(w)) &&
      $"doc_id" =!= min($"doc_id").over(w)
    ch.withColumn("is_dup", isDup.cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_passages"), sum($"is_dup").as("n_dup_passages"))
      .select($"doc_id", $"n_passages", $"n_dup_passages",
        stat($"n_dup_passages" / $"n_passages".cast("double")).as("dup_fraction"))
      .orderBy($"doc_id")
  }

  /** PER-SOURCE DUPLICATE-RATE DASHBOARD: q44's exact content hash rolled
    * up by source — docs, distinct texts, duplicate share (ppm), and the
    * hottest single text's copy count. THE first triage number of corpus
    * curation: which feeds are paste-farms and which are clean decides
    * where the expensive near-dup passes (q45/q46/q105) even run.
    *
    * 100 TB plan: one (source, hash) hash-agg (map-side combined — dup
    * groups collapse before the shuffle) then a source-level rollup;
    * nothing is ever pairwise. */
  val q296SourceDupRate: GraftQuery = GraftQuery.oracled(
    "q296_source_dup_rate",
    """WITH h AS (SELECT source, sha256(lower(trim(text))) AS hk, count(*) AS n
      |           FROM documents GROUP BY 1, 2)
      |SELECT source,
      |       CAST(sum(n) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_unique,
      |       CAST(floor(1000000.0 * (sum(n) - count(*)) / sum(n)) AS BIGINT) AS dup_ppm,
      |       CAST(max(n) AS BIGINT) AS max_copies
      |FROM h GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"source", sha2(lower(trim($"text")), 256).as("hk"))
      .agg(count(lit(1)).as("n"))
      .groupBy($"source")
      .agg(sum($"n").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_unique"),
        floor(lit(1000000.0) * (sum($"n") - count(lit(1))) / sum($"n"))
          .cast("long").as("dup_ppm"),
        max($"n").cast("long").as("max_copies"))
      .orderBy($"source")
  }

  /** DEDUP-AWARE (cluster-consistent) train/val/test SPLIT — the eval
    * hygiene rule the plain per-doc coin (q102/q283) violates: when two
    * near-duplicate documents land on opposite sides of the split, the
    * eval set leaks training data. Here the md5 coin is thrown per
    * NEAR-DUP CLUSTER (q109's components), so every cluster travels
    * whole. The output proves the property rather than asserting it:
    * `cross_split_pairs` (near-dup pairs straddling splits under the
    * cluster coin) is structurally 0, while `doc_coin_cross_pairs` — the
    * SAME corpus under the naive per-doc coin — counts the leaks this
    * operator prevents.
    *
    * 100 TB plan: one extra label join over q109's clustering; the coin
    * is a projection of the cluster label, and both leak censuses are
    * pair-keyed joins against the near-dup pair set — no new shuffle
    * shape beyond the clustering itself. */
  val q298ClusterSplit: GraftQuery = GraftQuery.oracled(
    "q298_cluster_split",
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
      |lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      |assign AS (
      |  SELECT doc_id, cluster_id,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 800000 THEN 'train'
      |              WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 900000 THEN 'val'
      |              ELSE 'test' END AS split,
      |         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 800000 THEN 'train'
      |              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < 900000 THEN 'val'
      |              ELSE 'test' END AS doc_split
      |  FROM lab),
      |xc AS (SELECT a.split AS split, count(*) AS n
      |       FROM good g JOIN assign a ON g.doc_a = a.doc_id
      |                   JOIN assign b ON g.doc_b = b.doc_id
      |       WHERE a.split <> b.split GROUP BY 1),
      |xd AS (SELECT a.split AS split, count(*) AS n
      |       FROM good g JOIN assign a ON g.doc_a = a.doc_id
      |                   JOIN assign b ON g.doc_b = b.doc_id
      |       WHERE a.doc_split <> b.doc_split GROUP BY 1)
      |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT s.cluster_id) AS BIGINT) AS n_clusters,
      |       CAST(coalesce(any_value(xc.n), 0) AS BIGINT) AS cross_split_pairs,
      |       CAST(coalesce(any_value(xd.n), 0) AS BIGINT) AS doc_coin_cross_pairs
      |FROM assign s
      |LEFT JOIN xc ON xc.split = s.split
      |LEFT JOIN xd ON xd.split = s.split
      |GROUP BY s.split
      |ORDER BY s.split""") { (spark, dir) =>
    import spark.implicits._
    val pairs = corpusExactPairs(spark, dir) // memoized + checkpointed
      .select($"doc_a", $"doc_b")
    val lab = corpusExactClusters(spark, dir) // memoized labels
    def coin(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 1000000L
    def splitOf(c: org.apache.spark.sql.Column) =
      when(coin(c) < 800000L, "train").when(coin(c) < 900000L, "val")
        .otherwise("test")
    val assign = lab.select($"doc_id", $"cluster_id",
      splitOf($"cluster_id").as("split"),
      splitOf($"doc_id").as("doc_split")).persist()
    val aSide = assign.select($"doc_id".as("doc_a"),
      $"split".as("split_a"), $"doc_split".as("dsplit_a"))
    val bSide = assign.select($"doc_id".as("doc_b"),
      $"split".as("split_b"), $"doc_split".as("dsplit_b"))
    val pj = pairs.join(aSide, "doc_a").join(bSide, "doc_b")
    val xc = pj.filter($"split_a" =!= $"split_b")
      .groupBy($"split_a".as("split")).agg(count(lit(1)).as("nx"))
    val xd = pj.filter($"dsplit_a" =!= $"dsplit_b")
      .groupBy($"split_a".as("split")).agg(count(lit(1)).as("nd"))
    assign
      .groupBy($"split")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct($"cluster_id").cast("long").as("n_clusters"))
      .join(xc, Seq("split"), "left")
      .join(xd, Seq("split"), "left")
      .select($"split", $"n_docs", $"n_clusters",
        coalesce($"nx", lit(0L)).cast("long").as("cross_split_pairs"),
        coalesce($"nd", lit(0L)).cast("long").as("doc_coin_cross_pairs"))
      .orderBy($"split")
  }

  /** CONTRASTIVE TRAINING-PAIR MINING — the (anchor, positive, negatives)
    * triplets an embedding-model fine-tune consumes: every member of a
    * multi-doc near-dup cluster anchors a triplet, its positive is the
    * smallest OTHER member of the same cluster (deterministic choice),
    * and its k=3 negatives are hash-probed from the corpus index
    * (md5(anchor ∥ probe) mod N — a random oracle both engines replay
    * exactly), re-probing past same-cluster collisions with 5 probe
    * slots. The hard part at scale is the NEGATIVES: this formulation
    * never builds an anchor×corpus pair space — each probe is one
    * equi-join against the (doc index → doc) table.
    *
    * 100 TB plan: clusters come from the audited q45→components path;
    * probes are a bounded explode (5 per anchor) + equi-joins; the doc
    * row-number index runs TWO-PHASE (TwoPhase.rowNumber, bucket = a
    * doc_id bin): per-bin parallel ranks + bins-sized broadcast offsets,
    * never a single-task doc-census sort. */
  val q365ContrastiveNegatives: GraftQuery = GraftQuery.oracled(
    "q365_contrastive_negatives",
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
      |lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      |cm AS (SELECT cluster_id, doc_id,
      |              row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rn,
      |              count(*) OVER (PARTITION BY cluster_id) AS csize
      |       FROM lab),
      |cs AS (SELECT cluster_id,
      |              min(CASE WHEN rn = 1 THEN doc_id END) AS m1,
      |              min(CASE WHEN rn = 2 THEN doc_id END) AS m2
      |       FROM cm GROUP BY cluster_id HAVING max(csize) >= 2),
      |anc AS (SELECT l.doc_id AS anchor_id, l.cluster_id,
      |               CASE WHEN l.doc_id = cs.m1 THEN cs.m2 ELSE cs.m1 END AS positive_id
      |        FROM lab l JOIN cs USING (cluster_id)),
      |idx AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rn FROM documents),
      |nn AS (SELECT count(*) AS n FROM documents),
      |probe AS (SELECT a.anchor_id, a.cluster_id, a.positive_id, p.r,
      |                 CAST(('0x' || substr(md5(CAST(a.anchor_id AS VARCHAR) || '_' || CAST(p.r AS VARCHAR)), 1, 8)) AS BIGINT)
      |                 % (SELECT n FROM nn) AS cand_rn
      |          FROM anc a, LATERAL (SELECT unnest(generate_series(1, 5)) AS r) p),
      |cand AS (SELECT pr.anchor_id, pr.positive_id, pr.r, i.doc_id AS negative_id
      |         FROM probe pr JOIN idx i ON pr.cand_rn = i.rn
      |         JOIN lab cl ON i.doc_id = cl.doc_id
      |         WHERE i.doc_id <> pr.anchor_id AND cl.cluster_id <> pr.cluster_id),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY r) AS neg_rank FROM cand)
      |SELECT anchor_id, positive_id, CAST(neg_rank AS BIGINT) AS neg_rank, negative_id
      |FROM rk WHERE neg_rank <= 3
      |ORDER BY anchor_id, neg_rank""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select($"doc_id")
    val lab = corpusExactClusters(spark, dir) // memoized labels
    val wC = Window.partitionBy($"cluster_id")
    val cm = lab
      .withColumn("rn", row_number().over(wC.orderBy($"doc_id")))
      .withColumn("csize", count(lit(1)).over(wC))
    val cs = cm.groupBy($"cluster_id")
      .agg(min(when($"rn" === 1, $"doc_id")).as("m1"),
        min(when($"rn" === 2, $"doc_id")).as("m2"),
        max($"csize").as("csize"))
      .filter($"csize" >= 2)
      .select($"cluster_id", $"m1", $"m2")
    val anc = lab.join(cs, Seq("cluster_id"))
      .select($"doc_id".as("anchor_id"), $"cluster_id",
        when($"doc_id" === $"m1", $"m2").otherwise($"m1").as("positive_id"))
    val idx = graft.operators.TwoPhase.rowNumber(docs,
        floor($"doc_id" / 4096.0), Seq($"doc_id"), out = "rn1")
      .select($"doc_id", ($"rn1" - 1).as("rn"))
    val n = docs.agg(count(lit(1)).as("n"))
    val probe = anc
      .withColumn("r", explode(sequence(lit(1), lit(5))))
      .crossJoin(broadcast(n))
      .withColumn("cand_rn",
        conv(substring(md5(concat($"anchor_id".cast("string"), lit("_"),
          $"r".cast("string"))), 1, 8), 16, 10).cast("long") % $"n")
    val cand = probe
      .join(idx.toDF("negative_id", "rn"), $"cand_rn" === $"rn")
      .join(lab.toDF("negative_id", "neg_cluster"), Seq("negative_id"))
      .filter($"negative_id" =!= $"anchor_id" && $"neg_cluster" =!= $"cluster_id")
    cand
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy($"anchor_id").orderBy($"r")).cast("long"))
      .filter($"neg_rank" <= 3)
      .select($"anchor_id", $"positive_id", $"neg_rank", $"negative_id")
      .orderBy($"anchor_id", $"neg_rank")
  }

  /** CLUSTER CHAMPION SELECTION — the keep/drop POLICY layer over
    * q100/q109's clustering: within each multi-doc near-dup cluster,
    * keep the RICHEST variant (longest text, doc_id tie-break), not the
    * arbitrary min-id — the curation default (truncated/mangled copies
    * lose to the full document they were cut from). Output is the
    * champion manifest per non-trivial cluster; q275 does the same
    * survivorship for entity ATTRIBUTES, this does it for documents.
    *
    * 100 TB plan: the pair stage rides
    * [[neardupPairsPortableLshVerified]] — portable-md5 banded candidates,
    * exact-verified, sub-quadratic — as the DEFAULT since r9, and the
    * DuckDB oracle derives the IDENTICAL candidate set
    * ([[portableCandPairsSql]]), so a banding miss lands on BOTH sides
    * (the r8 xxh64 path's exact-pair oracle broke at sf1 exactly there:
    * two missed pairs = two engine-side missing clusters with nothing in
    * the oracle to mirror them); then one label join (cluster-keyed) +
    * one per-cluster window over cluster-sized partitions. Near-dup
    * clusters are small by construction, and [[guardClusterSizes]] now
    * ENFORCES that: a pathological mega-cluster (a degenerate banding
    * scheme — q372's round-5 incident shape) fails loudly instead of
    * serializing one giant window partition. */
  val q343ClusterChampion: GraftQuery = GraftQuery.oracled(
    "q343_cluster_champion",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |""".stripMargin + portableCandPairsSql + """
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
      |j AS (SELECT l.cluster_id, d.doc_id, d.n_chars
      |      FROM lab l JOIN documents d USING (doc_id)),
      |r AS (SELECT cluster_id, doc_id, n_chars,
      |             row_number() OVER (PARTITION BY cluster_id
      |                                ORDER BY n_chars DESC, doc_id) AS rn,
      |             count(*) OVER (PARTITION BY cluster_id) AS n_docs
      |      FROM j)
      |SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
      |       doc_id AS champion_id, CAST(n_chars AS BIGINT) AS champion_chars
      |FROM r WHERE rn = 1 AND n_docs >= 2
      |ORDER BY cluster_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val lab = guardClusterSizes(corpusPortableClusters(spark, dir)) // memoized
    val j = lab.join(Tables.documents(spark, dir).select($"doc_id", $"n_chars"),
      Seq("doc_id"))
    val w = Window.partitionBy($"cluster_id")
    j.withColumn("rn", row_number().over(w.orderBy($"n_chars".desc, $"doc_id")))
      .withColumn("n_docs", count(lit(1)).over(w))
      .filter($"rn" === 1 && $"n_docs" >= 2)
      .select($"cluster_id", $"n_docs".cast("long").as("n_docs"),
        $"doc_id".as("champion_id"), $"n_chars".cast("long").as("champion_chars"))
      .orderBy($"cluster_id")
  }

  /** DELTA-vs-CORPUS NEAR-DUP via banded MinHash — the INCREMENTAL-INDEX
    * production shape q112's exact-Jaccard delta dedup documents but does
    * not ride: a daily ingest batch (the `doc_id % 10 = 7` slice) is
    * checked against the standing corpus by joining the DELTA's band
    * buckets against the CORPUS's band buckets only — the corpus is never
    * self-joined and corpus×corpus candidate pairs are never generated.
    * Banding is q372's 4×4 over the codegen'd 16-hash signature; survivors
    * are exact-Jaccard-verified at 0.8, so precision is exact. Per delta
    * doc: its nearest corpus match and the match count. STRICT-oracle'd
    * since r6 (the q372 conversion's logic): under the recall law the
    * verified pairs ARE the exact delta×corpus near-dups, which DuckDB
    * derives directly from the shingle space; LlmOpsSpec still pins the
    * restriction law vs q372's full-corpus pairs (incrementality loses
    * nothing).
    *
    * 100 TB plan: the standing corpus's (band, bucket) index is computed
    * once and persists in production; each delta batch projects its own
    * signatures (codegen, map-side), equi-joins the index on (band,
    * 4-hash bucket), and exact-verifies candidates only — cost scales
    * with |delta| and bucket hit rate, NOT with |corpus|². */
  val q385DeltaNeardupLsh: GraftQuery = GraftQuery.oracled(
    "q385_delta_neardup_lsh",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s
      |          WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
      |          GROUP BY 1, 2),
      |good AS (SELECT delta_id, corpus_id,
      |                round(shared / (sa.n + sb.n - shared), 4) AS j
      |         FROM pairs
      |         JOIN sizes sa ON delta_id = sa.doc_id
      |         JOIN sizes sb ON corpus_id = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8)
      |SELECT delta_id, CAST(count(*) AS BIGINT) AS n_matches,
      |       first(corpus_id ORDER BY j DESC, corpus_id) AS best_match,
      |       max(j) AS best_jaccard
      |FROM good GROUP BY delta_id
      |ORDER BY delta_id""") {
    (spark, dir) =>
      import spark.implicits._
      deltaNeardupLsh(spark, dir)
        .groupBy($"delta_id")
        .agg(count(lit(1)).cast("long").as("n_matches"),
          max_by(struct($"corpus_id", $"jaccard"), struct($"jaccard", -$"corpus_id"))
            .getField("corpus_id").cast("long").as("best_match"),
          max($"jaccard").as("best_jaccard"))
      .orderBy($"delta_id")
  }

  /** (delta_id, corpus_id, jaccard) banded-candidate pairs, exact-verified —
    * shared by q385 and its LlmOpsSpec restriction law. */
  private[llm] def deltaNeardupLsh(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val isDelta = $"doc_id" % 10 === 7
    val sig = minhashSigs(spark, dir) // memoized + checkpointed
    verifyJaccard(bandCandidates(sig.filter(isDelta), sig.filter(!isDelta), 4),
      cappedShingleSets(spark, dir))
      .select($"doc_a".as("delta_id"), $"doc_b".as("corpus_id"),
        round($"jaccard", 4).as("jaccard"))
  }

  /** SPLIT-LEAKAGE MATRIX — the audit q298's cluster-consistent split
    * exists to make clean: take the NAIVE per-document hash split (q102's
    * train/valid/test buckets) and count the near-dup pairs (q45's exact
    * capped-Jaccard ≥ 0.8 machinery) that STRADDLE splits — each such pair
    * is an eval answer leaked into training. The 3×3 matrix (pair counts
    * per split combination, cross-split rows flagged) is the number a
    * data-release review asks for; q298 is the fix, this is the detector.
    *
    * 100 TB plan: the pair stage is the capped inverted-index join (never
    * all-pairs; the LSH swap is q46/q349's knob); the split tag is a
    * map-side md5 projection; the matrix agg is 9 rows. */
  val q391SplitLeakage: GraftQuery = GraftQuery.oracled(
    "q391_split_leakage",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |nd AS (SELECT doc_a, doc_b FROM pairs
      |       JOIN sizes sa ON doc_a = sa.doc_id
      |       JOIN sizes sb ON doc_b = sb.doc_id
      |       WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |sp AS (SELECT doc_id,
      |              CASE WHEN b < 16 THEN 'train' WHEN b < 18 THEN 'valid' ELSE 'test' END AS split
      |       FROM (SELECT doc_id,
      |                    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 AS b
      |             FROM documents))
      |SELECT least(sa.split, sb.split) AS split_a,
      |       greatest(sa.split, sb.split) AS split_b,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CASE WHEN sa.split = sb.split THEN 0 ELSE 1 END AS is_leak
      |FROM nd JOIN sp sa ON nd.doc_a = sa.doc_id
      |        JOIN sp sb ON nd.doc_b = sb.doc_id
      |GROUP BY 1, 2, 4
      |ORDER BY split_a, split_b""") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // the split tag is a PURE FUNCTION of doc_id (q102's md5 bucket), so
    // pairs never join anything — two scalar projections on the pair stream
    def splitOf(c: org.apache.spark.sql.Column) = {
      val b = conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 20
      when(b < 16, "train").when(b < 18, "valid").otherwise("test")
    }
    corpusExactPairs(spark, dir)
      .select($"doc_a", $"doc_b",
        splitOf($"doc_a").as("split_a0"), splitOf($"doc_b").as("split_b0"))
      .groupBy(
        least($"split_a0", $"split_b0").as("split_a"),
        greatest($"split_a0", $"split_b0").as("split_b"),
        when($"split_a0" === $"split_b0", 0).otherwise(1).as("is_leak"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .select($"split_a", $"split_b", $"n_pairs", $"is_leak")
      .orderBy($"split_a", $"split_b")
  }

  /** INCREMENTAL CONNECTED COMPONENTS — the maintenance shape a standing
    * dedup graph actually runs when a batch arrives (q112/q385 find the
    * delta's edges; THIS merges them into the component labeling without
    * relabeling the world): (1) label the corpus-only graph (the standing
    * index — in production this is already materialized, paid once);
    * (2) map each delta edge endpoint through its corpus label, CONTRACTING
    * every touched component to one super-vertex; (3) run components on the
    * QUOTIENT graph (delta docs + touched labels — delta-sized, not
    * corpus-sized); (4) broadcast the quotient relabeling back over the
    * corpus labels. Labels are min-doc-ids, and min over a merged set of
    * min-labels is the global min — so the result is IDENTICAL to a full
    * recompute, which is exactly what the oracle (q100's recursive-CTE SQL
    * over the full graph) checks, and what the spec pins alongside
    * untouched-labels-unchanged.
    *
    * 100 TB plan: step 1 is amortized state; steps 2–4 cost one broadcast
    * label join over the delta edges + components on a delta-sized graph +
    * one broadcast relabel — |delta| work per batch, never |corpus|. */
  val q395IncrementalComponents: GraftQuery = GraftQuery.oracled(
    "q395_incremental_components",
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
      |          UNION ALL
      |          SELECT doc_b, doc_a FROM good),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
      |)
      |SELECT id AS doc_id, min(lbl) AS cluster_id,
      |       CASE WHEN id = min(lbl) THEN 1 ELSE 0 END AS is_canonical
      |FROM reach GROUP BY id
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val isDelta = (c: org.apache.spark.sql.Column) => c % 10 === 7
    val docs = Tables.documents(spark, dir)
    val pairs = q45NeardupJaccard.fn(spark, dir)
      .select($"doc_a", $"doc_b").localCheckpoint()
    // (1) standing corpus labeling (amortized state in production)
    val corpusVerts = docs.filter(!isDelta($"doc_id")).select($"doc_id")
    val base = minLabelComponents(
      corpusVerts,
      pairs.filter(!isDelta($"doc_a") && !isDelta($"doc_b")))
      .toDF("id", "lbl")
    // (2) contract: delta-edge endpoints → corpus label / own id
    val deltaEdges = pairs.filter(isDelta($"doc_a") || isDelta($"doc_b"))
    def mapEnd(end: String) = when(isDelta(col(end)), col(end))
    val mapped = deltaEdges
      .join(broadcast(base.toDF("doc_a", "la")), Seq("doc_a"), "left")
      .join(broadcast(base.toDF("doc_b", "lb")), Seq("doc_b"), "left")
      .select(coalesce(mapEnd("doc_a"), $"la").as("qa"),
        coalesce(mapEnd("doc_b"), $"lb").as("qb"))
      .localCheckpoint()
    // (3) components on the quotient (delta ids + touched labels)
    val quotientVerts = docs.filter(isDelta($"doc_id")).select($"doc_id")
      .union(mapped.select($"qa")).union(mapped.select($"qb")).distinct()
    val merged = minLabelComponents(quotientVerts, mapped).toDF("qid", "newLbl")
    // (4) broadcast relabel: corpus docs through (lbl → newLbl), delta direct
    val corpusOut = base
      .join(broadcast(merged.toDF("lbl", "newLbl")), Seq("lbl"), "left")
      .select($"id".as("doc_id"), coalesce($"newLbl", $"lbl").as("cluster_id"))
    val deltaOut = merged.filter(isDelta($"qid"))
      .select($"qid".as("doc_id"), $"newLbl".as("cluster_id"))
    corpusOut.union(deltaOut)
      .select($"doc_id", $"cluster_id",
        when($"doc_id" === $"cluster_id", 1).otherwise(0).as("is_canonical"))
      .orderBy($"doc_id")
  }

  /** NEAR-DUP CLUSTER COHERENCE AUDIT — how far the 0.8-Jaccard relation
    * is from an equivalence: connected components (q100) TREAT near-dup
    * as transitive, but similarity isn't — a chain A≈B≈C can cluster
    * A with C at Jaccard 0.6. This measures the damage: per multi-doc
    * cluster, the edge DENSITY (observed pairs / k·(k−1)/2 — 1.0 means a
    * clique, low means a chain held together by hubs), and globally the
    * graph TRANSITIVITY 3·triangles/wedges (triangles via q154's oriented
    * compact-forward join). The numbers that decide whether to raise the
    * threshold or switch to star-champion dedup (q343). All-integer ppm
    * arithmetic; the oracle re-derives pairs, clusters (recursive CTE),
    * and both metrics from scratch.
    *
    * 100 TB plan: rides the capped q45 pair set (pair-scale, not
    * row-scale); degree/wedge censuses are vertex-sized aggs; the
    * triangle join is the compact-forward oriented shape whose wedge
    * work is bounded by Σ deg² of the (sparse) near-dup graph. */
  val q413ClusterCoherence: GraftQuery = GraftQuery.oracled(
    "q413_cluster_coherence",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2),
      |good AS (SELECT doc_a, doc_b FROM prs
      |         JOIN szs sa ON doc_a = sa.doc_id
      |         JOIN szs sb ON doc_b = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM good
      |          UNION ALL SELECT doc_b, doc_a FROM good),
      |reach AS (SELECT doc_id AS id, doc_id AS lbl FROM documents
      |          UNION
      |          SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |lab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
      |ksz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS k FROM lab GROUP BY 1 HAVING count(*) >= 2),
      |m AS (SELECT l.cluster, CAST(count(*) AS BIGINT) AS edges
      |      FROM good g JOIN lab l ON l.id = g.doc_a GROUP BY 1),
      |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS dg FROM edges GROUP BY 1),
      |wt AS (SELECT CAST(COALESCE(sum(dg * (dg - 1) // 2), 0) AS BIGINT) AS wedges FROM deg),
      |tri AS (SELECT CAST(count(*) AS BIGINT) AS triangles
      |        FROM good e1 JOIN good e2 ON e2.doc_a = e1.doc_b
      |             JOIN good e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
      |gl AS (SELECT triangles, wedges,
      |              CASE WHEN wedges > 0 THEN (3000000 * triangles) // wedges ELSE 0 END AS transitivity_ppm
      |       FROM tri, wt)
      |SELECT k.cluster AS cluster_id, k.k AS size, m.edges,
      |       CAST((2000000 * m.edges) // (k.k * (k.k - 1)) AS BIGINT) AS density_ppm,
      |       gl.triangles, gl.wedges, CAST(gl.transitivity_ppm AS BIGINT) AS transitivity_ppm
      |FROM ksz k JOIN m ON m.cluster = k.cluster, gl
      |ORDER BY cluster_id""") { (spark, dir) =>
    import spark.implicits._
    val good = corpusExactPairs(spark, dir) // memoized + checkpointed
      .select($"doc_a", $"doc_b")
    val lab = corpusExactClusters(spark, dir) // memoized labels
    val ksz = lab.groupBy($"cluster_id").agg(count(lit(1)).cast("long").as("k"))
      .filter($"k" >= 2)
    val m = good.join(lab.select($"doc_id".as("doc_a"), $"cluster_id"), Seq("doc_a"))
      .groupBy($"cluster_id").agg(count(lit(1)).cast("long").as("edges"))
    val deg = good.select($"doc_a".as("v")).union(good.select($"doc_b"))
      .groupBy($"v").agg(count(lit(1)).cast("long").as("dg"))
    val wt = deg.agg(coalesce(sum(expr("dg * (dg - 1) div 2")), lit(0L))
      .cast("long").as("wedges"))
    val tri = good.as("e1")
      .join(good.as("e2"), $"e2.doc_a" === $"e1.doc_b")
      .join(good.as("e3"), $"e3.doc_a" === $"e1.doc_a" && $"e3.doc_b" === $"e2.doc_b")
      .agg(count(lit(1)).cast("long").as("triangles"))
    val gl = tri.crossJoin(wt).select($"triangles", $"wedges",
      when($"wedges" > 0, expr("(3000000 * triangles) div wedges"))
        .otherwise(0L).cast("long").as("transitivity_ppm"))
    ksz.join(m, Seq("cluster_id"))
      .crossJoin(broadcast(gl))
      .select($"cluster_id", $"k".as("size"), $"edges",
        expr("(2000000 * edges) div (k * (k - 1))").cast("long").as("density_ppm"),
        $"triangles", $"wedges", $"transitivity_ppm")
      .orderBy($"cluster_id")
  }

  /** ROUGE-L in-order overlap over blocked near-dup candidates (Lin 2004)
    * — the order-SENSITIVE complement to q45's bag-of-shingles Jaccard: a
    * doc with sentences deleted keeps a high LCS fraction, a reshuffled
    * bag of the same words does not. Candidates come from q45's
    * frequency-capped shingle inverted index at a LOOSER, CONTAINMENT-
    * aware floor (≥ 3 shared capped shingles AND shared ≥ 20% of the
    * smaller shingle set — 5·shared ≥ min(na,nb)) so genuinely partial
    * overlaps enter while bag-noise pairs stay out; each pair then gets
    * one [[graft.functions.LcsLength]] call (codegen kernel #9) and
    * rougeL_ppm = ⌊10⁶·2·lcs/(la+lb)⌋ — integer from integer LCS.
    * DedupSpec bit-checks the kernel against an independent full-matrix
    * DP and fixture truths.
    *
    * STRICT since r8 (formerly rows-only): the LCS DP IS relationally
    * replayable by ANTI-DIAGONAL recursion — every cell on diagonal
    * i+j = d depends only on diagonals d−1 (up/left) and d−2 (the match
    * move), so one recursive CTE carries two diagonals ('cur' rows
    * propose up/left moves and re-emit themselves as 'prev'; 'prev' rows
    * propose the diagonal move) and the per-cell max is one FILTERed
    * aggregation; the equal-token case is diag+1 exactly (diag+1
    * dominates up/left — the standard LCS monotonicity). ~333 surviving
    * pairs × ≤100² cells at sf0.1 keeps the replay census-sized.
    *
    * 100 TB plan: identical skeleton to q45 — the capped inverted index
    * bounds candidates sub-quadratically; the O(|a|·|b|) DP runs only on
    * surviving pairs, inside whole-stage codegen, with token arrays
    * shuffled once via the two doc-keyed joins. */
  val q437RougeL: GraftQuery = GraftQuery.oracled(
    "q437_rouge_lcs",
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |cand AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
      |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2 HAVING count(*) >= 3),
      |pairs AS (SELECT cand.da, cand.db, ta.tk AS ta, tb.tk AS tb
      |          FROM cand
      |          JOIN szs sa ON da = sa.doc_id
      |          JOIN szs sb ON db = sb.doc_id
      |          JOIN (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) ta ON ta.doc_id = da
      |          JOIN (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) tb ON tb.doc_id = db
      |          WHERE 5 * shared >= least(sa.n, sb.n)),
      |it AS (
      |  SELECT da, db, 1 AS i, 1 AS j,
      |         CAST(CASE WHEN ta[1] = tb[1] THEN 1 ELSE 0 END AS BIGINT) AS v,
      |         'cur' AS lvl, 1 AS step
      |  FROM pairs
      |  UNION ALL
      |  SELECT da, db, ni, nj,
      |         CAST(CASE WHEN iscarry THEN max(c)
      |                   WHEN tok_a = tok_b THEN coalesce(max(c) FILTER (WHERE kind = 'diag'), 0) + 1
      |                   ELSE coalesce(max(c) FILTER (WHERE kind = 'ud'), 0) END AS BIGINT) AS v,
      |         CASE WHEN iscarry THEN 'prev' ELSE 'cur' END AS lvl,
      |         step + 1
      |  FROM (
      |    SELECT it.da, it.db, it.i + mv.di AS ni, it.j + mv.dj AS nj, it.v AS c,
      |           mv.kind, mv.kind = 'carry' AS iscarry, it.step,
      |           p.ta[it.i + mv.di] AS tok_a, p.tb[it.j + mv.dj] AS tok_b
      |    FROM it
      |    JOIN pairs p ON p.da = it.da AND p.db = it.db,
      |    LATERAL (SELECT * FROM (VALUES (1, 0, 'ud', 'cur'), (0, 1, 'ud', 'cur'),
      |                                   (1, 1, 'diag', 'prev'), (0, 0, 'carry', 'cur'))
      |             v(di, dj, kind, need) WHERE v.need = it.lvl) mv
      |    WHERE it.step < len(p.ta) + len(p.tb)
      |      AND it.i + mv.di <= len(p.ta) AND it.j + mv.dj <= len(p.tb)
      |  )
      |  GROUP BY da, db, ni, nj, iscarry, step, tok_a, tok_b
      |),
      |lcs AS (SELECT p.da AS doc_a, p.db AS doc_b,
      |               CAST(len(p.ta) AS BIGINT) AS la, CAST(len(p.tb) AS BIGINT) AS lb,
      |               (SELECT v FROM it WHERE it.da = p.da AND it.db = p.db
      |                  AND it.lvl = 'cur' AND it.i = len(p.ta) AND it.j = len(p.tb)) AS lcs_len
      |        FROM pairs p)
      |SELECT doc_a, doc_b, la, lb, lcs_len,
      |       CAST((1000000 * 2 * lcs_len) // (la + lb) AS BIGINT) AS rouge_l_ppm
      |FROM lcs
      |ORDER BY rouge_l_ppm DESC, doc_a, doc_b
      |LIMIT 100""") {
    (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val cands = coShinglePairs(corpusCappedShingles(spark, dir))
      .filter($"shared" >= 3 && lit(5) * $"shared" >= least($"na", $"nb"))
    val toks = docs.select($"doc_id", split($"text", " ").as("toks"))
    cands
      .join(toks.select($"doc_id".as("doc_a"), $"toks".as("toks_a")), Seq("doc_a"))
      .join(toks.select($"doc_id".as("doc_b"), $"toks".as("toks_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        size($"toks_a").cast("long").as("la"),
        size($"toks_b").cast("long").as("lb"),
        graft.functions.LcsLength.lcsLength($"toks_a", $"toks_b").as("lcs_len"))
      .select($"doc_a", $"doc_b", $"la", $"lb", $"lcs_len",
        expr("(1000000 * 2 * lcs_len) div (la + lb)").cast("long").as("rouge_l_ppm"))
      .orderBy($"rouge_l_ppm".desc, $"doc_a", $"doc_b")
      .limit(100)
  }

  /** TWO-LEVEL (shard-local → global) exact dedup — the composition law a
    * petabyte dedup actually runs on: data arrives in arbitrary shards
    * (here: 8 md5 buckets of doc_id, deliberately NOT keyed on content,
    * so duplicates straddle shards), each shard keeps its min-doc_id
    * representative per md5(text) fingerprint LOCALLY (no shuffle), and
    * only the survivors enter the global fingerprint-keyed pass. The
    * emitted census proves the identity two_level ≡ direct (min over
    * shard minima = global min) per source, with the shard-pass survivor
    * count showing how much the cheap local pass already collapsed.
    *
    * 100 TB story: level 1 is mapPartitions-free, shuffle-free hash-agg
    * work within whatever partitioning the data already has; the global
    * shuffle then moves only level-1 survivors — on a 30%-dup corpus
    * that's the difference between shuffling 100 TB and 70 TB. */
  val q455TwoLevelDedup: GraftQuery = GraftQuery.oracled(
    "q455_two_level_dedup",
    """WITH d AS (SELECT doc_id, source, md5(text) AS fp,
      |                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) % 8 AS shard
      |           FROM documents),
      |l1 AS (SELECT shard, fp, min(doc_id) AS doc_id FROM d GROUP BY 1, 2),
      |two AS (SELECT fp, min(doc_id) AS doc_id FROM l1 GROUP BY 1),
      |direct AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY 1),
      |src AS (SELECT doc_id, source FROM d),
      |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1),
      |a1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_l1_survivors
      |       FROM l1 JOIN src USING (doc_id) GROUP BY 1),
      |a2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_two_level
      |       FROM two JOIN src USING (doc_id) GROUP BY 1),
      |a3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_direct
      |       FROM direct JOIN src USING (doc_id) GROUP BY 1)
      |SELECT source, n_docs, n_l1_survivors, n_two_level, n_direct
      |FROM tot JOIN a1 USING (source) JOIN a2 USING (source) JOIN a3 USING (source)
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"source", md5($"text").as("fp"),
        (conv(substring(md5($"doc_id".cast("string")), 1, 2), 16, 10)
          .cast("long") % 8).as("shard"))
    val l1 = d.groupBy($"shard", $"fp").agg(min($"doc_id").as("doc_id"))
    val two = l1.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    val direct = d.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    val src = d.select($"doc_id", $"source")
    def perSource(kept: org.apache.spark.sql.DataFrame, name: String) =
      kept.join(src, Seq("doc_id")).groupBy($"source")
        .agg(count(lit(1)).cast("long").as(name))
    d.groupBy($"source").agg(count(lit(1)).cast("long").as("n_docs"))
      .join(perSource(l1.select($"doc_id"), "n_l1_survivors"), Seq("source"))
      .join(perSource(two.select($"doc_id"), "n_two_level"), Seq("source"))
      .join(perSource(direct.select($"doc_id"), "n_direct"), Seq("source"))
      .orderBy($"source")
  }

  /** SIMHASH-vs-JACCARD DETECTOR AGREEMENT CENSUS — the precision/recall
    * calibration every near-dup stack publishes when it runs BOTH a
    * bit-fingerprint detector (q105's hamming≤3 simhash) and a set-overlap
    * detector (q45's capped-shingle Jaccard≥0.8): pair counts from each,
    * their intersection, and the cross-detector precision/recall in ppm
    * (treating Jaccard as the reference). The two detectors measure
    * DIFFERENT similarity geometries (angular vs set overlap), so neither
    * subsumes the other — this census is how an operator picks radius/
    * threshold pairs that agree on their corpus. Fully strict since both
    * detectors are now cross-engine-portable (md5 simhash + exact
    * shingles): the whole confusion census hash-matches DuckDB.
    *
    * 100 TB plan: both pair sets come from their sub-quadratic banded/
    * capped machineries; the census is three 1-row aggregates (the E3
    * scalar-broadcast pattern) over pair-set-sized inputs. */
  val q493DetectorAgreement: GraftQuery = GraftQuery.oracled(
    "q493_detector_agreement",
    """WITH toks0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM toks0),
      |votes AS (SELECT doc_id, i, sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |          FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS i) t GROUP BY 1, 2),
      |sig AS (SELECT doc_id,
      |               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS s
      |        FROM votes GROUP BY 1),
      |sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |       FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |       WHERE bit_count(xor(a.s, b.s)) <= 3),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jp AS (SELECT doc_a, doc_b FROM pairs
      |       JOIN sizes sa ON doc_a = sa.doc_id
      |       JOIN sizes sb ON doc_b = sb.doc_id
      |       WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_simhash FROM sp),
      |nj AS (SELECT CAST(count(*) AS BIGINT) AS n_jaccard FROM jp),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_both
      |       FROM sp JOIN jp USING (doc_a, doc_b))
      |SELECT n_simhash, n_jaccard, n_both,
      |       CASE WHEN n_simhash = 0 THEN 0 ELSE (1000000 * n_both) // n_simhash END AS precision_ppm,
      |       CASE WHEN n_jaccard = 0 THEN 0 ELSE (1000000 * n_both) // n_jaccard END AS recall_ppm
      |FROM ns, nj, nb""") { (spark, dir) =>
    import spark.implicits._
    val sp = simhashPairs(simhashes60(spark, dir)) // memoized, pre-fanned
      .select($"doc_a", $"doc_b").localCheckpoint()
    val jp = corpusExactPairs(spark, dir)
      .select($"doc_a", $"doc_b")
    val ns = sp.agg(count(lit(1)).cast("long").as("n_simhash"))
    val nj = jp.agg(count(lit(1)).cast("long").as("n_jaccard"))
    val nb = sp.join(jp, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).cast("long").as("n_both"))
    broadcast(ns).crossJoin(broadcast(nj)).crossJoin(broadcast(nb))
      .select($"n_simhash", $"n_jaccard", $"n_both",
        when($"n_simhash" === 0, 0L)
          .otherwise(expr("(1000000 * n_both) div n_simhash")).as("precision_ppm"),
        when($"n_jaccard" === 0, 0L)
          .otherwise(expr("(1000000 * n_both) div n_jaccard")).as("recall_ppm"))
  }

  /** Shared CTE prefix for q494/q495: the PORTABLE MinHash signature in
    * pure SQL — one md5 per capped shingle split into two 56-bit halves,
    * expanded to 16 hash functions by the Kirsch–Mitzenmacher double-
    * hashing scheme h_i = (lo + i·hi) mod 2⁵⁶ ("Less Hashing, Same
    * Performance", ESA 2006), then min per (doc, i). 56-bit halves keep
    * lo + 15·hi inside signed 64-bit in BOTH engines. */
  private val portableSigSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 14)) AS BIGINT) AS lo,
      |              CAST(('0x' || substr(md5(s), 17, 14)) AS BIGINT) AS hi FROM sh),
      |sig AS (SELECT doc_id, i, CAST(min((lo + i * hi) % 72057594037927936) AS BIGINT) AS minhash
      |        FROM hh, (SELECT unnest(generate_series(0, 15)) AS i) g GROUP BY 1, 2)""".stripMargin

  /** The engine side of [[portableSigSql]]: (doc_id, i, minhash) over a
    * capped (doc_id, s) shingle stream ([[corpusCappedShingles]] or
    * [[cappedShinglesOf]]). Pure relational Spark — one md5 + two conv per
    * shingle, a 16-way explode, one min hash-agg. */
  private[llm] def portableMinhashSigs(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    sh
      .select(col("doc_id"),
        conv(substring(md5(col("s")), 1, 14), 16, 10).cast("long").as("lo"),
        conv(substring(md5(col("s")), 17, 14), 16, 10).cast("long").as("hi"))
      .select($"doc_id", $"lo", $"hi",
        explode(sequence(lit(0), lit(15))).as("i"))
      .groupBy($"doc_id", $"i")
      .agg(min(($"lo" + $"i" * $"hi") % lit(72057594037927936L))
        .cast("long").as("minhash"))
  }

  /** [[portableMinhashSigs]]' long (doc_id, i, minhash) rows as one
    * (doc_id, sig: array<long>[16]) row per document, ordered by i — the
    * shape [[bandCandidates]] bands. */
  private[llm] def portableSigArrays(
      sig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sig.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("i"), col("minhash"))))
        .getField("minhash").as("sig"))

  /** PORTABLE-LSH VERIFIED near-dup pairs — [[portableMinhashSigs]]' md5
    * double-hashing signatures banded 4×4 by [[bandCandidates]], the
    * candidates exact-Jaccard-verified (≥ 0.8) on q45's capped shingle
    * sets. A DuckDB oracle recomputes the signatures and bands them by md5
    * keys of the same 4-hash runs ([[portableCandPairsSql]]), which gives
    * the IDENTICAL candidate set — which is what lets q349's full curation
    * pipeline be strict-oracle'd while its pair stage stays sub-quadratic.
    * Output (doc_a, doc_b) is the `portablePairs` memo
    * ([[corpusPortablePairs]]) behind q300/q343/q349/q398.
    *
    * 100 TB plan: q494's signature shape (one md5 per capped shingle, a
    * bounded 16-way explode, one map-side-combinable min agg), one
    * doc-keyed collect into arrays, candidates meet only inside equal-
    * (band, slice) buckets, and the verify stage is candidate-pair-scale
    * array intersection — never a shingle×shingle or doc×doc join. */
  private[llm] def neardupPairsPortableLshVerified(
      docs: org.apache.spark.sql.DataFrame,
      sigOpt: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    val tk = cappedShingleSetsOf(docs)
    val sig = portableSigArrays(sigOpt.getOrElse(
      portableMinhashSigs(tk.select(col("doc_id"), explode(col("tk")).as("s")))))
    verifyJaccard(bandCandidates(sig, sig, 4), tk)
      .select(col("doc_a"), col("doc_b"))
  }

  /** PORTABLE MinHash SIGNATURES — q371's signature dump with the hash
    * swapped from the xxh64 kernel to md5 double-hashing, which makes the
    * signatures themselves (not just a verified pair set) strict-oracle'd:
    * DuckDB re-derives every (doc, i, minhash) cell bit for bit. q371/q372
    * keep the xxh64 codegen kernel as the production-rate path; this is
    * the cross-engine-verifiable twin the driver can hash-check.
    *
    * 100 TB plan: one scan → shingle explode (capped) → one md5 per
    * shingle → 16-way bounded explode → map-side-combinable min agg on
    * (doc, i). No joins, no windows. */
  val q494MinhashPortable: GraftQuery = GraftQuery.oracled(
    "q494_minhash_portable",
    portableSigSql +
      "\nSELECT doc_id, CAST(i AS BIGINT) AS i, minhash FROM sig ORDER BY doc_id, i") {
    (spark, dir) =>
      import spark.implicits._
      corpusPortableSigs(spark, dir)
        .select($"doc_id", $"i".cast("long").as("i"), $"minhash")
        .orderBy($"doc_id", $"i")
  }

  /** LSH CANDIDATE AUDIT with EXACT MISS REPRODUCTION — the strongest
    * driver-verified statement the LSH stack can make: band the portable
    * signatures 4×4, bucket-join candidates, exact-verify against q45's
    * capped-shingle Jaccard, and emit EVERY pair in candidates ∪ exact
    * with its status — `verified` (caught and real), `candidate_only`
    * (S-curve false positive killed by the verify stage), `missed` (a
    * real pair the banding skipped). Unlike q372/q396 — whose strict
    * oracles rest on the empirical recall-1 law — the oracle here derives
    * the IDENTICAL candidate set (portable hashes), so the probabilistic
    * miss behavior itself is cross-engine-verified: if 4×4 banding drops
    * a pair, BOTH engines name that pair. At sf0.1 this audit shows 256
    * verified + 50 candidate_only (measured), the textbook S-curve.
    *
    * The engine bands by slice equality ([[bandCandidates]]), the oracle
    * by an md5 key of each 4-hash run; LlmOpsSpec pins that the two give
    * the same candidate set.
    *
    * 100 TB plan: signatures as q494, collected into one 16-hash array per
    * document; candidates meet only inside equal-(band, slice) buckets;
    * the exact side is the [[coShinglePairs]] census over q45's capped
    * shingles — everything pair-set-sized past the banding. */
  val q495LshCandidateAudit: GraftQuery = GraftQuery.oracled(
    "q495_lsh_candidate_audit",
    portableSigSql +
      """,
        |band AS (SELECT doc_id, i // 4 AS b,
        |                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS bk
        |         FROM sig GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |         FROM band a JOIN band b2 ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT doc_a, doc_b, round(shared / (sa.n + sb.n - shared), 4) AS jaccard,
        |               (shared / (sa.n + sb.n - shared) >= 0.8) AS is_exact
        |        FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id),
        |u AS (SELECT coalesce(c.doc_a, j.doc_a) AS doc_a, coalesce(c.doc_b, j.doc_b) AS doc_b,
        |             c.doc_a IS NOT NULL AS is_cand, coalesce(j.is_exact, FALSE) AS is_exact,
        |             coalesce(j.jaccard, 0.0) AS jaccard
        |      FROM cand c FULL OUTER JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b)
        |SELECT doc_a, doc_b, jaccard,
        |       CASE WHEN is_cand AND is_exact THEN 'verified'
        |            WHEN is_cand THEN 'candidate_only'
        |            ELSE 'missed' END AS status
        |FROM u WHERE is_cand OR is_exact
        |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val sig = portableSigArrays(corpusPortableSigs(spark, dir))
    val cand = bandCandidates(sig, sig, 4)
      .withColumn("is_cand", lit(true))
    val jac = coShinglePairs(corpusCappedShingles(spark, dir))
      .select($"doc_a", $"doc_b",
        round($"shared".cast("double") / ($"na" + $"nb" - $"shared"), 4).as("jaccard"),
        ($"shared".cast("double") / ($"na" + $"nb" - $"shared") >= 0.8).as("is_exact"))
    cand.join(jac, Seq("doc_a", "doc_b"), "full_outer")
      .select($"doc_a", $"doc_b",
        coalesce($"jaccard", lit(0.0)).as("jaccard"),
        when(coalesce($"is_cand", lit(false)) && coalesce($"is_exact", lit(false)), "verified")
          .when(coalesce($"is_cand", lit(false)), "candidate_only")
          .otherwise("missed").as("status"),
        coalesce($"is_cand", lit(false)).as("ic"),
        coalesce($"is_exact", lit(false)).as("ie"))
      .filter($"ic" || $"ie")
      .select($"doc_a", $"doc_b", $"jaccard", $"status")
      .orderBy($"doc_a", $"doc_b")
  }

  /** PAIR-SIMILARITY HISTOGRAM — the distribution every dedup threshold is
    * actually tuned against: all co-shingle pairs (no threshold) from
    * q45's capped machinery, binned by Jaccard in 0.05 steps, with pair
    * counts and the cumulative share ≥ each bin in ppm. Reading this
    * histogram is how 0.8 was chosen; publishing it per corpus is how the
    * threshold survives distribution shift. Integer bin arithmetic
    * ((20·shared) div union — no float boundary), so fully strict.
    *
    * 100 TB plan: the pair stage is the capped sub-quadratic join (at
    * production scale the q349 sampled/LSH variant feeds the same
    * histogram); the histogram itself is a ≤21-row hash-agg + one window
    * over that census. */
  val q499JaccardHistogram: GraftQuery = GraftQuery.oracled(
    "q499_jaccard_histogram",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT (20 * shared) // (sa.n + sb.n - shared) AS bin
      |      FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
      |                 JOIN sizes sb ON doc_b = sb.doc_id),
      |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs FROM j GROUP BY 1),
      |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM h)
      |SELECT CAST(bin AS BIGINT) AS bin,
      |       round(bin / 20.0, 2) AS jaccard_lo, n_pairs,
      |       (1000000 * CAST(sum(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT)) // t.total AS cum_ge_ppm
      |FROM h, t ORDER BY bin""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val h = coShinglePairs(corpusCappedShingles(spark, dir))
      .select(expr("(20 * shared) div (na + nb - shared)").as("bin"))
      .groupBy($"bin").agg(count(lit(1)).cast("long").as("n_pairs"))
    val t = h.agg(sum($"n_pairs").cast("long").as("total"))
    h.crossJoin(broadcast(t))
      .withColumn("cum",
        sum($"n_pairs").over(Window.orderBy($"bin".desc)).cast("long"))
      .select($"bin", round($"bin" / 20.0, 2).as("jaccard_lo"), $"n_pairs",
        expr("(1000000 * cum) div total").as("cum_ge_ppm"))
      .orderBy($"bin")
  }

  /** MINHASH-ESTIMATE vs EXACT-JACCARD CALIBRATION CURVE — the sketch-
    * theory audit every MinHash deployment should publish: E[matching
    * hashes] = 16·J (Broder 1997), and this table shows how tight that
    * identity is ON THIS CORPUS, per estimator value. All co-shingle
    * pairs (q499's census) get their exact Jaccard in integer ppm and
    * their PORTABLE 16-hash signature agreement count (q494's md5
    * double-hashing, so BOTH engines derive the identical estimate);
    * output = per est16 bucket: the implied estimate (est16·62500 ppm),
    * pair count, and mean/min/max exact ppm. A drifting row here is the
    * early warning that banding thresholds (q396's sweep) no longer mean
    * what they did. All-integer → strict.
    *
    * 100 TB plan: signatures are q494's shape (bounded explode + min
    * agg); the agreement join meets only on equal (i, minhash) buckets;
    * the exact side is the capped sub-quadratic pair join; the
    * calibration itself is a ≤17-row census. */
  val q508MinhashCalibration: GraftQuery = GraftQuery.oracled(
    "q508_minhash_calibration",
    portableSigSql +
      """,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT doc_a, doc_b,
        |               CAST((1000000 * shared) // (sa.n + sb.n - shared) AS BIGINT) AS jppm
        |        FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
        |                   JOIN sizes sb ON doc_b = sb.doc_id),
        |agr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS est16
        |        FROM sig a JOIN sig b ON a.i = b.i AND a.minhash = b.minhash AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |cal AS (SELECT coalesce(m.est16, 0) AS est16, j.jppm
        |        FROM jac j LEFT JOIN agr m ON j.doc_a = m.doc_a AND j.doc_b = m.doc_b)
        |SELECT CAST(est16 AS BIGINT) AS est16,
        |       CAST(est16 * 62500 AS BIGINT) AS est_jac_ppm,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(jppm) // count(*) AS BIGINT) AS mean_exact_ppm,
        |       CAST(min(jppm) AS BIGINT) AS min_exact_ppm,
        |       CAST(max(jppm) AS BIGINT) AS max_exact_ppm
        |FROM cal GROUP BY est16 ORDER BY est16""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val sig = corpusPortableSigs(spark, dir)
    val agr = sig.toDF("doc_a", "i", "minhash")
      .join(sig.toDF("doc_b", "i", "minhash"), Seq("i", "minhash"))
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).cast("long").as("est16"))
    val jac = coShinglePairs(corpusCappedShingles(spark, dir))
      .select($"doc_a", $"doc_b",
        expr("(1000000 * shared) div (na + nb - shared)").cast("long").as("jppm"))
    jac.join(agr, Seq("doc_a", "doc_b"), "left")
      .select(coalesce($"est16", lit(0L)).as("est16"), $"jppm")
      .groupBy($"est16")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        expr("sum(jppm) div count(1)").cast("long").as("mean_exact_ppm"),
        min($"jppm").cast("long").as("min_exact_ppm"),
        max($"jppm").cast("long").as("max_exact_ppm"))
      .select($"est16", ($"est16" * 62500).cast("long").as("est_jac_ppm"),
        $"n_pairs", $"mean_exact_ppm", $"min_exact_ppm", $"max_exact_ppm")
      .orderBy($"est16")
  }

  /** EXACT-SUBSTRING DUPLICATE-SPAN CENSUS (the k-gram fingerprint
    * approximation of Lee et al. 2022's ExactSubstr suffix-array dedup,
    * arXiv:2107.06499 §4.1) — CHARACTER-level and alignment-free, unlike
    * q115's fixed 10-TOKEN passage partition (which misses a duplicated
    * span the moment one inserted word shifts its chunk alignment): every
    * stride-1 char 32-gram of every document is censused, a gram seen in
    * ≥ 2 distinct documents marks duplicated material, and each document
    * reports how much of its gram set is shared — the per-doc boilerplate/
    * syndication coverage number ExactSubstr feeds into span-removal.
    * All-integer → strict.
    *
    * 100 TB plan: the gram census is one map-side-combined hash-agg and
    * the dup set joins back gram-keyed — two shuffles, corpus-linear
    * (stride-1 is a 32× stream expansion, the documented price of exact
    * detection; production ships 8-byte gram hashes, not the 32 chars,
    * and a true suffix array is the single-node alternative). */
  val q501DupSpanCensus: GraftQuery = GraftQuery.oracled(
    "q501_dup_span_census",
    """WITH g AS (
      |  SELECT DISTINCT doc_id, substr(text, i, 32) AS s
      |  FROM documents,
      |       UNNEST(generate_series(1, length(text) - 31)) AS t(i)
      |  WHERE length(text) >= 32),
      |dup AS (SELECT s FROM g GROUP BY s HAVING count(DISTINCT doc_id) >= 2)
      |SELECT g.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_grams,
      |       CAST(count(dup.s) AS BIGINT) AS n_dup_grams,
      |       CAST(count(dup.s) * 1000000 // count(*) AS BIGINT) AS dup_ppm
      |FROM g LEFT JOIN dup ON g.s = dup.s
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""") { (spark, dir) =>
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .filter(length($"text") >= 32)
      .select($"doc_id", explode(array_distinct(expr(
        "transform(sequence(1, char_length(text) - 31), i -> substring(text, i, 32))"))).as("s"))
    val dup = g.groupBy($"s")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"s", lit(1).as("dupflag"))
    g.join(dup, Seq("s"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"),
        count($"dupflag").cast("long").as("n_dup_grams"))
      .withColumn("dup_ppm", expr("n_dup_grams * 1000000 div n_grams"))
      .orderBy($"doc_id")
  }

  /** DUP-SPAN MASK PLAN — the DELETION step ExactSubstr dedup (Lee et al.
    * 2022, arXiv:2107.06499 §4.1) runs after q501's census answers "how
    * much is duplicated": WHICH BYTES actually get dropped. Every
    * position whose 32-gram occurs in ≥ 2 documents covers chars
    * [pos, pos+31]; the union of those fixed-length intervals per doc is
    * one keyed-window sweep — cover(pos) = min(next_pos − pos, 32) with
    * the last position contributing 32, and a new span starts where
    * pos − prev_pos > 32 — no interval tree, no recursion, exact
    * integers. Output per doc: chars, dup positions, merged span count,
    * masked chars and the kept remainder a masked re-export would emit.
    *
    * 100 TB plan: the position explode is map-side per doc (grams never
    * cross docs until the gram-keyed dup census, q501's two-shuffle
    * shape); the sweep is a doc-keyed window — embarrassingly parallel,
    * nothing pair-scale, nothing quadratic in doc length. */
  val q515DupSpanMask: GraftQuery = GraftQuery.oracled(
    "q515_dup_span_mask",
    """WITH g AS (
      |  SELECT doc_id, i AS pos,
      |         CAST(('0x' || substr(md5(substr(text, i, 32)), 1, 15)) AS BIGINT) AS h
      |  FROM documents, UNNEST(generate_series(1, length(text) - 31)) AS t(i)
      |  WHERE length(text) >= 32),
      |dup AS (SELECT h FROM g GROUP BY h HAVING min(doc_id) < max(doc_id)),
      |dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup ON dup.h = g.h),
      |w AS (SELECT doc_id, pos,
      |             lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
      |             lag(pos)  OVER (PARTITION BY doc_id ORDER BY pos) AS prv
      |      FROM dp),
      |agg AS (SELECT doc_id,
      |               CAST(count(*) AS BIGINT) AS n_dup_positions,
      |               CAST(sum(CASE WHEN prv IS NULL OR pos - prv > 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
      |               CAST(sum(least(coalesce(nxt - pos, 32), 32)) AS BIGINT) AS masked_chars
      |        FROM w GROUP BY doc_id)
      |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
      |       coalesce(agg.n_dup_positions, 0) AS n_dup_positions,
      |       coalesce(agg.n_spans, 0) AS n_spans,
      |       coalesce(agg.masked_chars, 0) AS masked_chars,
      |       CAST(length(d.text) AS BIGINT) - coalesce(agg.masked_chars, 0) AS kept_chars
      |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
      |WHERE length(d.text) >= 32
      |ORDER BY d.doc_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).filter(length($"text") >= 32)
    // grams leave the map side as 60-bit md5 fingerprints (the portable-
    // hash discipline) — the dup census and join shuffle longs, never the
    // 32-char strings; both engines derive identical fingerprints so the
    // (negligible) collision behavior is cross-engine-verified too
    val g = docs.select($"doc_id", expr(
        """explode(transform(sequence(1, char_length(text) - 31),
          |  i -> named_struct('pos', i,
          |    'h', conv(substring(md5(substring(text, i, 32)), 1, 15), 16, 10))))""".stripMargin).as("c"))
      .select($"doc_id", $"c.pos".as("pos"), $"c.h".cast("long").as("h"))
    // "occurs in ≥ 2 distinct docs" ⟺ min(doc_id) < max(doc_id) — one
    // map-side-combinable agg, no (doc, gram)-distinct shuffle first
    val dup = g.groupBy($"h")
      .agg(min($"doc_id").as("d0"), max($"doc_id").as("d1"))
      .filter($"d0" < $"d1").select($"h")
    val wd = Window.partitionBy($"doc_id").orderBy($"pos")
    val agg = g.join(dup, Seq("h"))
      .select($"doc_id", $"pos")
      .withColumn("nxt", lead($"pos", 1).over(wd))
      .withColumn("prv", lag($"pos", 1).over(wd))
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_dup_positions"),
        sum(when($"prv".isNull || $"pos" - $"prv" > 32, 1).otherwise(0))
          .cast("long").as("n_spans"),
        sum(least(coalesce($"nxt" - $"pos", lit(32)), lit(32)))
          .cast("long").as("masked_chars"))
    docs.select($"doc_id", char_length($"text").cast("long").as("n_chars"))
      .join(agg, Seq("doc_id"), "left")
      .na.fill(0, Seq("n_dup_positions", "n_spans", "masked_chars"))
      .select($"doc_id", $"n_chars", $"n_dup_positions", $"n_spans",
        $"masked_chars", ($"n_chars" - $"masked_chars").as("kept_chars"))
      .orderBy($"doc_id")
  }

  /** CONTENT-DEFINED CHUNKING + CHUNK DEDUP (the LBFS/rsync boundary trick
    * — Muthitacharoen et al., SOSP 2001 §3.1): chunk boundaries land where
    * a rolling fingerprint of the trailing 16 chars hits 0 mod 64, so an
    * INSERTION only re-chunks its local neighborhood — the property q115's
    * fixed partition lacks and the reason every CAS/backup dedup store
    * chunks this way. The fingerprint is the portable md5-window coin
    * (q102/q494's arithmetic), so both engines cut identical boundaries;
    * per document: chunk count, mean chunk length, and how many of its
    * chunks also occur in ANOTHER document (the cross-doc dedup census a
    * chunk store would actually deduplicate). All-integer → strict.
    *
    * 100 TB plan: boundary detection is a map-side projection per doc (the
    * window hash never crosses documents — embarrassingly parallel);
    * chunk-census + join-back are gram-keyed shuffles on chunk HASHES
    * (text stays map-side), the q115 two-shuffle shape. Expected chunk ~64
    * chars ⇒ the chunk stream is ~n_chars/64 rows, corpus-sublinear. */
  val q505CdcChunking: GraftQuery = GraftQuery.oracled(
    "q505_cdc_chunking",
    """WITH b AS (
      |  SELECT doc_id, i AS pos
      |  FROM documents,
      |       UNNEST(generate_series(16, length(text))) AS t(i)
      |  WHERE CAST(('0x' || substr(md5(substr(text, i - 15, 16)), 1, 15)) AS BIGINT) % 64 = 0
      |  UNION
      |  SELECT doc_id, length(text) FROM documents WHERE length(text) >= 1),
      |sp AS (
      |  SELECT doc_id, coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) + 1 AS cstart,
      |         pos AS cend
      |  FROM b),
      |ch AS (
      |  SELECT sp.doc_id, substr(d.text, sp.cstart, sp.cend - sp.cstart + 1) AS chunk
      |  FROM sp JOIN documents d ON sp.doc_id = d.doc_id),
      |shared AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2)
      |SELECT ch.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(length(ch.chunk)) AS BIGINT) AS n_chars,
      |       CAST(sum(length(ch.chunk)) // count(*) AS BIGINT) AS mean_chunk_len,
      |       CAST(count(shared.chunk) AS BIGINT) AS n_shared_chunks
      |FROM ch LEFT JOIN shared ON ch.chunk = shared.chunk
      |GROUP BY ch.doc_id
      |ORDER BY ch.doc_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    // Spark's sequence() runs DESCENDING when start > stop, so docs shorter
    // than the 16-char window must be excluded before the explode (DuckDB's
    // generate_series is empty there); they still chunk via the final
    // whole-doc boundary below.
    val hits = docs
      .filter(length($"text") >= 16)
      .select($"doc_id", $"text",
        explode(sequence(lit(16), length($"text"))).as("pos"))
      .filter(conv(substring(md5(expr("substring(text, pos - 15, 16)")), 1, 15),
        16, 10).cast("long") % 64 === 0)
      .select($"doc_id", $"pos")
    val bounds = hits
      .unionByName(docs.filter(length($"text") >= 1)
        .select($"doc_id", length($"text").cast("int").as("pos")))
      .distinct()
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val spans = bounds
      .withColumn("cstart", coalesce(lag($"pos", 1).over(w), lit(0)) + 1)
      .select($"doc_id", $"cstart", $"pos".as("cend"))
    val ch = spans.join(docs, Seq("doc_id"))
      .select($"doc_id",
        expr("substring(text, cstart, cend - cstart + 1)").as("chunk"))
    val shared = ch.groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"chunk", lit(1).as("sharedflag"))
    ch.join(shared, Seq("chunk"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(length($"chunk")).cast("long").as("n_chars"),
        count($"sharedflag").cast("long").as("n_shared_chunks"))
      .withColumn("mean_chunk_len", expr("n_chars div n_chunks"))
      .select($"doc_id", $"n_chunks", $"n_chars", $"mean_chunk_len",
        $"n_shared_chunks")
      .orderBy($"doc_id")
  }

  /** PORTABLE-BLOOM DECONTAMINATION AUDIT — the broadcast pre-filter
    * every at-scale decontamination pipeline runs before its exact join,
    * with its false-positive cost MEASURED instead of assumed: eval-set
    * shingles (the q127 convention, doc_id % 50 = 0) populate a
    * B = 16 384-bit Bloom filter whose k = 4 bit positions are
    * Kirsch–Mitzenmacher double-hashes (lo + t·hi) mod B of the md5
    * halves (q494's portable-hash discipline — both engines derive the
    * IDENTICAL filter, so the probabilistic FP behavior itself is
    * cross-engine-verified, the q495 principle applied to Bloom instead
    * of LSH). Training docs probe the filter per shingle; only
    * bloom-HIT shingles reach the exact eval-set join (no false
    * negatives by construction — an exact hit's bits are all set), and
    * the per-source audit reports doc/shingle hit counts plus the FP
    * surplus the 16 Kbit budget costs.
    *
    * 100 TB plan: the filter is ≤ 16 384 DISTINCT bit rows (≡ 2 KiB of
    * bitmap) broadcast regardless of eval-set size, and the probe is a
    * map-side broadcast-hash lookup per (shingle, t) — the full train
    * corpus never shuffles; the exact confirm join touches only the
    * bloom-hit slice. Docs under 3 tokens carry no shingles and are out
    * of scope on both sides. */
  val q512BloomDecontam: GraftQuery = GraftQuery.oracled(
    "q512_bloom_decontam",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hb AS (SELECT doc_id, s,
      |              CAST(('0x' || substr(md5(s), 1, 14)) AS BIGINT) AS lo,
      |              CAST(('0x' || substr(md5(s), 17, 14)) AS BIGINT) AS hi FROM sh),
      |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
      |ebits AS (SELECT DISTINCT (lo + tt.t * hi) % 16384 AS bit
      |          FROM hb, (SELECT unnest(generate_series(0, 3)) AS t) tt
      |          WHERE doc_id % 50 = 0),
      |pr AS (SELECT p.doc_id, p.s, count(eb.bit) AS nbits
      |       FROM (SELECT doc_id, s, (lo + tt.t * hi) % 16384 AS bit
      |             FROM hb, (SELECT unnest(generate_series(0, 3)) AS t) tt
      |             WHERE doc_id % 50 <> 0) p
      |       LEFT JOIN ebits eb ON eb.bit = p.bit
      |       GROUP BY p.doc_id, p.s),
      |hit AS (SELECT pr.doc_id,
      |               count(*) AS sh_bloom,
      |               sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS sh_exact
      |        FROM pr LEFT JOIN ev ON ev.s = pr.s
      |        WHERE pr.nbits = 4 GROUP BY pr.doc_id),
      |ds AS (SELECT pr.doc_id, count(*) AS sh_n,
      |              coalesce(max(h.sh_bloom), 0) AS sh_bloom,
      |              coalesce(max(h.sh_exact), 0) AS sh_exact
      |       FROM pr LEFT JOIN hit h ON h.doc_id = pr.doc_id
      |       GROUP BY pr.doc_id)
      |SELECT d.source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN ds.sh_bloom > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bloom_docs,
      |       CAST(sum(CASE WHEN ds.sh_exact > 0 THEN 1 ELSE 0 END) AS BIGINT) AS exact_docs,
      |       CAST(sum(CASE WHEN ds.sh_bloom > 0 AND ds.sh_exact = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp_docs,
      |       CAST(sum(ds.sh_n) AS BIGINT) AS sh_total,
      |       CAST(sum(ds.sh_bloom) AS BIGINT) AS sh_bloom,
      |       CAST(sum(ds.sh_exact) AS BIGINT) AS sh_exact
      |FROM ds JOIN documents d ON d.doc_id = ds.doc_id
      |GROUP BY d.source ORDER BY d.source""") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val sh = docs.select($"doc_id", explode(ShingleExpression.shingleSet($"text", 3)).as("s"))
    val hb = sh.select($"doc_id", $"s",
      conv(substring(md5($"s"), 1, 14), 16, 10).cast("long").as("lo"),
      conv(substring(md5($"s"), 17, 14), 16, 10).cast("long").as("hi"))
    val ebits = hb.filter($"doc_id" % 50 === 0)
      .select(explode(sequence(lit(0), lit(3))).as("t"), $"lo", $"hi")
      .select((($"lo" + $"t" * $"hi") % 16384).as("bit"))
      .distinct() // ≤ 16 384 rows — THE bloom filter, broadcast below
    val evalSh = sh.filter($"doc_id" % 50 === 0).select($"s").distinct()
    val pr = hb.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id", $"s", explode(sequence(lit(0), lit(3))).as("t"), $"lo", $"hi")
      .withColumn("bit", ($"lo" + $"t" * $"hi") % 16384)
      .join(broadcast(ebits.withColumn("one", lit(1))), Seq("bit"), "left")
      .groupBy($"doc_id", $"s")
      .agg(sum(coalesce($"one", lit(0))).as("nbits"))
    // exact confirm ONLY on the bloom-hit slice (exact ⊆ bloom: an eval
    // shingle's own bits are all set) — the production join shape
    val hit = pr.filter($"nbits" === 4)
      .join(broadcast(evalSh.withColumn("ex", lit(1))), Seq("s"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("sh_bloom"), sum(coalesce($"ex", lit(0))).as("sh_exact"))
    val ds = pr.groupBy($"doc_id").agg(count(lit(1)).as("sh_n"))
      .join(hit, Seq("doc_id"), "left")
      .na.fill(0, Seq("sh_bloom", "sh_exact"))
    ds.join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when($"sh_bloom" > 0, 1).otherwise(0)).cast("long").as("bloom_docs"),
        sum(when($"sh_exact" > 0, 1).otherwise(0)).cast("long").as("exact_docs"),
        sum(when($"sh_bloom" > 0 && $"sh_exact" === 0, 1).otherwise(0)).cast("long").as("fp_docs"),
        sum($"sh_n").cast("long").as("sh_total"),
        sum($"sh_bloom").cast("long").as("sh_bloom"),
        sum($"sh_exact").cast("long").as("sh_exact"))
      .orderBy($"source")
  }

  def all: Seq[GraftQuery] = Seq(
    q44DedupExact, q45NeardupJaccard, q46NeardupMinhashLsh, q47Simhash,
    q501DupSpanCensus, q505CdcChunking, q515DupSpanMask,
    q494MinhashPortable, q495LshCandidateAudit, q499JaccardHistogram,
    q508MinhashCalibration, q512BloomDecontam,
    q100DedupClusters, q105SimhashNeardup, q108SimhashMultiprobe,
    q109DedupClustersStar, q112DeltaDedup, q114Contamination, q115PassageDedup,
    q353ContainmentDecontam, q365ContrastiveNegatives,
    q371MinhashSignatures, q372MinhashBanded, q385DeltaNeardupLsh,
    q391SplitLeakage, q395IncrementalComponents, q396BandingSweep,
    q399NeardupEvidence, q413ClusterCoherence, q423CaptureRecapture,
    q296SourceDupRate, q298ClusterSplit, q343ClusterChampion, q437RougeL,
    q455TwoLevelDedup, q483CrossSourceMatrix, q493DetectorAgreement)

  /** CAPTURE–RECAPTURE ESTIMATE OF NEAR-DUP COVERAGE (Chapman 1951's
    * bias-corrected Lincoln–Petersen) — how many near-dup pairs exist
    * that a CHEAPER detector would find, estimated from two detectors'
    * overlap without ever running the exhaustive join at scale: two
    * "catches" are the q45 pipeline run on complementary md5 halves of
    * the SHINGLE space (each sees half the evidence, so each finds a
    * noisy subset of the radius-0.8 pairs), and
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from their sizes and overlap m. The
    * TRUE count (the full q45 join, tractable at these SFs) is reported
    * alongside for honesty — the estimator's assumptions (independent
    * catches) are only approximate here, and the output shows exactly
    * how approximate. All integers — strictly oracle'd.
    *
    * 100 TB plan: each catch is a q45-shaped capped inverted-index join
    * over HALF the shingle stream (the split predicate pushes to the
    * map side); the overlap is a pair-keyed join of two pair-scale sets;
    * the truth column is the one piece that drops at scale — which is
    * the estimator's entire reason to exist. */
  val q423CaptureRecapture: GraftQuery = GraftQuery.oracled(
    "q423_capture_recapture",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |shh AS (SELECT doc_id, s,
      |               CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2 AS h
      |        FROM sh),
      |sz0 AS (SELECT doc_id, count(*) AS n FROM shh WHERE h = 0 GROUP BY 1),
      |pr0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |        FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
      |        WHERE a.h = 0 AND b.h = 0 GROUP BY 1, 2),
      |c0 AS (SELECT doc_a, doc_b FROM pr0
      |       JOIN sz0 sa ON doc_a = sa.doc_id JOIN sz0 sb ON doc_b = sb.doc_id
      |       WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |sz1 AS (SELECT doc_id, count(*) AS n FROM shh WHERE h = 1 GROUP BY 1),
      |pr1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |        FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
      |        WHERE a.h = 1 AND b.h = 1 GROUP BY 1, 2),
      |c1 AS (SELECT doc_a, doc_b FROM pr1
      |       JOIN sz1 sa ON doc_a = sa.doc_id JOIN sz1 sb ON doc_b = sb.doc_id
      |       WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |szf AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |prf AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2),
      |cf AS (SELECT doc_a, doc_b FROM prf
      |       JOIN szf sa ON doc_a = sa.doc_id JOIN szf sb ON doc_b = sb.doc_id
      |       WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m
      |      FROM c0 JOIN c1 ON c0.doc_a = c1.doc_a AND c0.doc_b = c1.doc_b),
      |cnt AS (SELECT CAST((SELECT count(*) FROM c0) AS BIGINT) AS n1,
      |               CAST((SELECT count(*) FROM c1) AS BIGINT) AS n2,
      |               CAST((SELECT m FROM m) AS BIGINT) AS m,
      |               CAST((SELECT count(*) FROM cf) AS BIGINT) AS true_pairs)
      |SELECT n1, n2, m, true_pairs,
      |       (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS chapman_estimate
      |FROM cnt""") { (spark, dir) =>
    import spark.implicits._
    val sh = corpusCappedShingles(spark, dir)
      .withColumn("h",
        conv(substring(md5($"s"), 1, 8), 16, 10).cast("long") % 2)
      .localCheckpoint(true)
    def catchPairs(flt: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
      val part = sh.filter(flt).select($"doc_id", $"s")
      val sizes = part.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      part.toDF("doc_a", "s")
        .join(part.toDF("doc_b", "s2").withColumnRenamed("s2", "s"), Seq("s"))
        .filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
        .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
        .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
        .filter($"shared" / ($"na" + $"nb" - $"shared") >= 0.8)
        .select($"doc_a", $"doc_b")
    }
    val c0 = catchPairs($"h" === 0).localCheckpoint(true)
    val c1 = catchPairs($"h" === 1).localCheckpoint(true)
    // the full-shingle catch IS q45's exact pair set (same capped frame,
    // same ≥0.8 rule) — read the memoized frame instead of a third pair join
    val cf = corpusExactPairs(spark, dir).select($"doc_a", $"doc_b")
    val counts = c0.agg(count(lit(1)).cast("long").as("n1"))
      .crossJoin(broadcast(c1.agg(count(lit(1)).cast("long").as("n2"))))
      .crossJoin(broadcast(c0.join(c1, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).cast("long").as("m"))))
      .crossJoin(broadcast(cf.agg(count(lit(1)).cast("long").as("true_pairs"))))
    counts.select($"n1", $"n2", $"m", $"true_pairs",
      expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").cast("long").as("chapman_estimate"))
  }

  /** NEAR-DUP PROVENANCE / EVIDENCE REPORT — the "why was this pair
    * flagged" record a dedup decision needs to be auditable (and a human
    * reviewer needs to overturn it): for every q45 near-dup pair, the
    * shared-shingle count, both set sizes, the Jaccard, and the
    * lexicographically-FIRST shared shingle as the displayable evidence
    * snippet. Deterministic by construction (min over the shared set), so
    * the whole audit is strictly oracle-able.
    *
    * 100 TB plan: identical shapes to q45 (capped inverted index; the
    * evidence min rides the same (pair, shingle) aggregation that counts
    * `shared` — zero extra joins over the pair stage). */
  val q399NeardupEvidence: GraftQuery = GraftQuery.oracled(
    "q399_neardup_evidence",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 50),
      |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                 count(*) AS shared, min(a.s) AS evidence
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
      |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |       round(shared / (sa.n + sb.n - shared), 4) AS jaccard,
      |       evidence
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE shared / (sa.n + sb.n - shared) >= 0.8
      |ORDER BY doc_a, doc_b""") { (spark, dir) =>
    import spark.implicits._
    coShinglePairs(corpusCappedShingles(spark, dir), min($"s").as("evidence"))
      .filter($"shared" / ($"na" + $"nb" - $"shared") >= 0.8)
      .select($"doc_a", $"doc_b", $"shared".cast("long").as("shared"),
        $"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
        round($"shared" / ($"na" + $"nb" - $"shared"), 4).as("jaccard"),
        $"evidence")
      .orderBy($"doc_a", $"doc_b")
  }

  /** LSH BANDING-SCHEME SWEEP — the S-curve tuning study behind every
    * bands×rows choice (MMDS §3.4): the SAME 16-hash signatures banded
    * two emitted ways — 4×4 (the operating point) and 8×2 (high recall) —
    * each emitting its exact-VERIFIED pair set (≥ 0.8 capped-shingle
    * Jaccard).
    *
    * PORTABLE since r9: signatures are the md5 double-hashing family
    * (q494), so the DuckDB oracle derives each scheme's CANDIDATE set
    * identically and verified(scheme) = candidates(scheme) ∩ exact holds
    * cross-engine even when a band MISSES a true pair — the r8
    * formulation (xxh64 signatures + an oracle stating recall-1) broke at
    * the sf1 tier exactly there (3 missed pairs at 10× pair count =
    * empirical recall 0.9988, not 1). The engine bands each scheme by
    * slice equality ([[bandCandidates]]), the oracle by md5 keys of the
    * same slices; LlmOpsSpec pins that both give the same candidates at
    * 2, 4 and 8 rows per band. The 2×8 high-precision scheme stays
    * SPEC-side (LlmOpsSpec: candidates(2×8) ⊆ candidates(4×4) ⊆
    * candidates(8×2) half-band containment, verified ⊆ exact); q372
    * remains the xxh64 codegen-kernel production-rate showcase with q494/
    * q495 as its portable strict twins.
    *
    * 100 TB plan: one signature array per document feeds all schemes;
    * each scheme is a bounded explode + bucket equi-join on (band, slice)
    * (q372's shape). The sweep runs on a sample in production — the
    * operating point it picks is what q372 then runs at corpus scale. */
  val q396BandingSweep: GraftQuery = GraftQuery.oracled(
    "q396_banding_sweep",
    portableSigSql +
      """,
        |schemes AS (SELECT * FROM (VALUES (4, 4), (8, 2)) s(bands, rows_per_band)),
        |bnd AS (SELECT sc.bands, sc.rows_per_band, g.doc_id,
        |               g.i // sc.rows_per_band AS b,
        |               md5(string_agg(CAST(g.minhash AS VARCHAR), ',' ORDER BY g.i)) AS bk
        |        FROM sig g, schemes sc
        |        GROUP BY sc.bands, sc.rows_per_band, g.doc_id, g.i // sc.rows_per_band),
        |cand AS (SELECT DISTINCT a.bands, a.rows_per_band, a.doc_id AS doc_a, b2.doc_id AS doc_b
        |         FROM bnd a JOIN bnd b2 ON a.bands = b2.bands AND a.b = b2.b AND a.bk = b2.bk
        |                                AND a.doc_id < b2.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cp AS (SELECT c.bands, c.rows_per_band, c.doc_a, c.doc_b, count(*) AS shared
        |       FROM cand c JOIN sh a ON a.doc_id = c.doc_a
        |                   JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
        |       GROUP BY 1, 2, 3, 4)
        |SELECT CAST(cp.bands AS BIGINT) AS bands,
        |       CAST(cp.rows_per_band AS BIGINT) AS rows_per_band,
        |       cp.doc_a, cp.doc_b,
        |       round(cp.shared / (sa.n + sb.n - cp.shared), 4) AS jaccard
        |FROM cp JOIN sizes sa ON cp.doc_a = sa.doc_id
        |        JOIN sizes sb ON cp.doc_b = sb.doc_id
        |WHERE cp.shared / (sa.n + sb.n - cp.shared) >= 0.8
        |ORDER BY bands, doc_a, doc_b""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val sig = portableSigArrays(corpusPortableSigs(spark, dir))
      val tk = cappedShingleSets(spark, dir) // memoized + checkpointed
      Seq(4, 8).map { bn =>
        verifyJaccard(bandCandidates(sig, sig, 16 / bn), tk)
          .select(lit(bn.toLong).as("bands"), lit((16 / bn).toLong).as("rows_per_band"),
            $"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
      }.reduce(_ unionByName _).orderBy($"bands", $"doc_a", $"doc_b")
  }
}
