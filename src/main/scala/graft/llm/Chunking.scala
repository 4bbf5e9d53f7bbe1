package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.functions.ShingleExpression.{shingleSet, wordNgrams}
import graft.sources.Tables

/** LLM-pipeline chunking + substring-level dedup (builder mandate: ops a
  * large-scale training-data pipeline needs).
  *
  * q197: RAG-style overlapping chunking — every retrieval/embedding pipeline
  * starts by windowing documents into fixed-size overlapping pieces.
  * q199: cross-document repeated-span mining at k-gram granularity — the
  * exact-substring dedup of Lee et al., "Deduplicating Training Data Makes
  * Language Models Better" (arXiv:2107.06499), re-expressed relationally:
  * instead of a suffix array (pointer-chasing, single-machine), hash every
  * k-gram, keep grams seen in ≥2 documents, and merge adjacent duplicated
  * positions per doc into maximal spans with one gaps-and-islands window.
  * q203: exact Jaccard similarity self-join via PREFIX FILTERING (PPJoin
  * family, Xiao et al. WWW'08) — a second exactness-preserving sub-quadratic
  * route complementing q45's frequency-capped inverted index: order each
  * doc's shingles by global rarity; two sets with Jaccard ≥ t MUST share a
  * token inside their first (1-t)·|s|+1 rarest tokens, so only prefix
  * collisions become candidates.
  *
  * 100 TB plan: all three are hash-partitioned relational pipelines — grams/
  * shingles shuffle on their hash once (map-side combined), positions rejoin
  * by key, windows partition by doc_id. No driver loops, no all-pairs blowup:
  * q199 needs only a per-gram distinct-doc count (never a pair join); q203's
  * candidate space is bounded by prefix collisions instead of full postings.
  */
object Chunking {

  private val ChunkWords = 32
  private val ChunkStride = 24
  private val GramK = 8

  /** Overlapping word-window chunking: 32-word chunks every 24 words
    * (8-word overlap), emitted as (doc_id, chunk_start, n_words, md5).
    * The md5 stands in for the chunk payload so the result stays narrow;
    * a real pipeline would keep the text and feed the embedder.
    *
    * Scale: one projection + bounded explode (≤ |words|/stride rows per
    * doc) — no shuffle until the final presentation sort. */
  val q197RagChunks: GraftQuery = GraftQuery.oracled(
    "q197_rag_chunks",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |c AS (SELECT doc_id, CAST(st AS BIGINT) AS chunk_start,
       |             array_to_string(w[st + 1:least(st + $ChunkWords, len(w))], ' ') AS chunk,
       |             least(st + $ChunkWords, len(w)) - st AS n_words
       |      FROM d, UNNEST(generate_series(0, len(w) - 1, $ChunkStride)) AS t(st))
       |SELECT doc_id, chunk_start, CAST(n_words AS BIGINT) AS n_words,
       |       md5(chunk) AS chunk_md5
       |FROM c
       |ORDER BY doc_id, chunk_start""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", $"w", size($"w").as("nw"))
      .select($"doc_id", $"w", $"nw",
        explode(sequence(lit(0), greatest($"nw" - 1, lit(0)), lit(ChunkStride)))
          .as("chunk_start"))
      .select($"doc_id", $"chunk_start".cast("long").as("chunk_start"),
        (least($"chunk_start" + ChunkWords, $"nw") - $"chunk_start")
          .cast("long").as("n_words"),
        md5(concat_ws(" ",
          slice($"w", $"chunk_start" + 1,
            least($"chunk_start" + ChunkWords, $"nw") - $"chunk_start")))
          .as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_start")
  }

  /** Maximal cross-document duplicated spans at 8-gram granularity.
    * A position p in a doc is "duplicated" when its 8-gram also occurs in
    * some OTHER document; runs of consecutive duplicated positions merge
    * into one span covering [span_start, span_start + span_words). Emits
    * spans of ≥ 2 consecutive duplicated grams (≥ 9 words) — the
    * single-gram hits are noise at this vocabulary size.
    *
    * Scale: |grams| rows shuffle once on the gram hash for the
    * distinct-doc count (map-side combined); duplicated-gram flags rejoin
    * positions by hash (shuffle semi-join — the duplicated set is NOT
    * assumed broadcastable at corpus scale); islands are one window over
    * (doc_id, pos). Nothing is quadratic in docs or grams. */
  val q199GramSpanDedup: GraftQuery = GraftQuery.oracled(
    "q199_gram_span_dedup",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |           WHERE len(string_split(text, ' ')) >= $GramK),
       |g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
       |             md5(array_to_string(w[p + 1:p + $GramK], ' ')) AS gh
       |      FROM d, UNNEST(generate_series(0, len(w) - $GramK, 1)) AS t(p)),
       |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
       |isl AS (SELECT doc_id, pos,
       |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM hits),
       |spans AS (SELECT doc_id, min(pos) AS span_start,
       |                 max(pos) - min(pos) + $GramK AS span_words,
       |                 count(*) AS n_grams
       |          FROM isl GROUP BY doc_id, grp)
       |SELECT doc_id, span_start, CAST(span_words AS BIGINT) AS span_words,
       |       CAST(n_grams AS BIGINT) AS n_grams
       |FROM spans WHERE n_grams >= 2
       |ORDER BY doc_id, span_start""") { (spark, dir) =>
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(transform(wordNgrams($"text", GramK), md5(_))))
      .toDF("doc_id", "pos", "gh")
      // materialized once: the dup census AND the hits semi-join both read
      // the positional gram stream, and the md5-per-position kernel is the
      // entry's dominant cost — without the checkpoint it runs twice
      .localCheckpoint()
    val dup = g.groupBy($"gh")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"gh")
    val hits = g.join(dup, Seq("gh"), "left_semi")
    val grp = $"pos" - row_number().over(
      Window.partitionBy($"doc_id").orderBy($"pos"))
    hits
      .withColumn("grp", grp)
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").cast("long").as("span_start"),
        (max($"pos") - min($"pos") + GramK).cast("long").as("span_words"),
        count(lit(1)).as("n_grams"))
      .filter($"n_grams" >= 2)
      .select($"doc_id", $"span_start", $"span_words", $"n_grams")
      .orderBy($"doc_id", $"span_start")
  }

  /** Exact shingle-Jaccard self-join (≥ 0.8) via PPJoin-style prefix
    * filtering, oracle'd against the same all-pairs SQL shape as q45 (no
    * frequency cap here — the prefix bound itself tames the hot shingles:
    * a stop-shingle sits at the POPULAR end of the rarity order, so it is
    * almost never inside anyone's prefix).
    *
    * Correctness of the filter (Chaudhuri et al. ICDE'06): with shingles
    * globally ordered by (df, shingle), J(A,B) ≥ t ⇒ |A∩B| ≥ t/(1+t)·(|A|+|B|)
    * ⇒ A and B must collide within their first |·| − ⌈t·|·|⌉ + 1 ordered
    * tokens. Candidates = prefix collisions only; each candidate pair is
    * then verified with the full exact intersection count.
    *
    * Scale: df ranks broadcast-join back onto shingles; prefix postings
    * (≈ 29% of all postings at t=0.8) self-join on the shingle; the exact
    * verify joins full postings ONLY for surviving candidate pairs. */
  val q203PrefixJaccardJoin: GraftQuery = GraftQuery.oracled(
    "q203_prefix_jaccard_join",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
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
    val t = 0.8
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", explode(shingleSet($"text", 3)).as("s"))
    // Global rarity order: (df, s) — ties broken by the shingle text so the
    // order (and therefore the prefix) is deterministic on both engines.
    val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val ranked = sh.join(broadcast(df), Seq("s"))
      .withColumn("r", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"df", $"s")))
    val sized = ranked.withColumn("n", count(lit(1)).over(
      Window.partitionBy($"doc_id")))
    // Prefix = first |s| - ceil(t|s|) + 1 rarest shingles of each doc.
    val prefix = sized.filter($"r" <= $"n" - ceil(lit(t) * $"n") + 1)
      .select($"doc_id", $"s")
    val cand = prefix.toDF("doc_a", "s")
      .join(prefix.toDF("doc_b", "s"), Seq("s"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    // Exact verify: full intersection count for candidate pairs only.
    val a = sh.toDF("doc_a", "s")
    val b = sh.toDF("doc_b", "s")
    val shared = a.join(b, Seq("s")).filter($"doc_a" < $"doc_b")
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val jac = $"shared" / ($"na" + $"nb" - $"shared")
    shared
      .join(broadcast(sizes.toDF("doc_a", "na")), Seq("doc_a"))
      .join(broadcast(sizes.toDF("doc_b", "nb")), Seq("doc_b"))
      .filter(jac >= t)
      .select($"doc_a", $"doc_b", $"shared", round(jac, 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03 — the MOSS
    * algorithm): hash every 3-gram, slide a w=4 window over the gram-hash
    * sequence, keep each window's MINIMUM hash; the distinct selected
    * hashes are the document's fingerprint set. Winnowing guarantees at
    * least one fingerprint per w consecutive grams (bounded gap), so any
    * shared substring of length ≥ w+k−1 words leaves a shared fingerprint —
    * the position-robust complement to q54's whole-document 1-perm MinHash.
    * Output: per-doc fingerprint density + lexicographic min (the anchor
    * hash).
    *
    * Scale: one projection of nested HOFs per doc (no shuffle until the
    * final per-doc agg); md5 keeps the hash portable across engines. */
  val q215Winnowing: GraftQuery = GraftQuery.oracled(
    "q215_winnowing",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 6),
      |g AS (SELECT doc_id,
      |             list_transform(generate_series(1, len(t) - 2),
      |               i -> md5(array_to_string(t[i:i+2], ' '))) AS gh
      |      FROM toks),
      |sel AS (SELECT doc_id, list_min(gh[j:j+3]) AS fp
      |        FROM g, UNNEST(generate_series(1, len(gh) - 3)) AS w(j)),
      |d AS (SELECT DISTINCT doc_id, fp FROM sel)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
      |       min(fp) AS anchor_fp
      |FROM d GROUP BY doc_id
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(size(split($"text", " ")) >= 6)
      .select($"doc_id", transform(wordNgrams($"text", 3), md5(_)).as("gh"))
      .select($"doc_id", explode(transform(sequence(lit(1), size($"gh") - 3),
        j => array_min(slice($"gh", j, lit(4))))).as("fp"))
      .distinct()
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fingerprints"), min($"fp").as("anchor_fp"))
      .orderBy($"doc_id")
  }

  /** Per-document N-GRAM NOVELTY: the share of a doc's 8-grams that occur
    * in NO other document — the memorization-risk / content-originality
    * score (a doc whose grams all appear elsewhere is boilerplate or a
    * near-copy; q199 locates the shared SPANS, this scores each doc).
    * Novelty in exact ppm (integer floor), so no float boundary exists.
    *
    * 100 TB plan: same skeleton as q199 — gram-hash census (one hash-agg,
    * map-side combined), semi-join back, per-doc count; the gram table is
    * the only row-scale object and it never pairs with itself. */
  val q259NgramNovelty: GraftQuery = GraftQuery.oracled(
    "q259_ngram_novelty",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |           WHERE len(string_split(text, ' ')) >= $GramK),
       |g AS (SELECT doc_id,
       |             md5(array_to_string(w[p + 1:p + $GramK], ' ')) AS gh
       |      FROM d, UNNEST(generate_series(0, len(w) - $GramK, 1)) AS t(p)),
       |df AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh),
       |sc AS (SELECT g.doc_id,
       |              count(*) AS n_grams,
       |              sum(CASE WHEN df.nd = 1 THEN 1 ELSE 0 END) AS n_novel
       |       FROM g JOIN df USING (gh)
       |       GROUP BY g.doc_id)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       |       CAST(n_novel AS BIGINT) AS n_novel,
       |       CAST(n_novel * 1000000 // n_grams AS BIGINT) AS novelty_ppm
       |FROM sc
       |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .select($"doc_id", explode(transform(wordNgrams($"text", GramK), md5(_))).as("gh"))
    val df = g.groupBy($"gh").agg(countDistinct($"doc_id").as("nd"))
    g.join(df, Seq("gh"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"nd" === 1, 1).otherwise(0)).as("n_novel"))
      .select($"doc_id", $"n_grams".cast("long").as("n_grams"),
        $"n_novel".cast("long").as("n_novel"),
        expr("CAST(n_novel * 1000000 DIV n_grams AS BIGINT)").as("novelty_ppm"))
      .orderBy($"doc_id")
  }

  /** CONTENT-LOCALITY LAYOUT AUDIT: does reordering the corpus for the
    * writer improve adjacent-row similarity — the property columnar
    * compressors (zstd/dictionary windows) and delta encoders actually
    * exploit? Metric: mean token-set Jaccard (ppm, floored per pair)
    * between CONSECUTIVE documents, compared across two write orders —
    * arrival order (doc_id) vs clustered order (lang, source, doc_id).
    * The clustered layout wins because same-language/source docs share
    * vocabulary; the number quantifies by how much, before paying for the
    * sort. Complements the physical-layout family (q83 partitioned, q174
    * range-clustered, q191 Z-order) with a CONTENT-similarity criterion.
    *
    * 100 TB plan: BOTH global row_numbers run TWO-PHASE
    * (TwoPhase.rowNumber — arrival buckets by a doc_id bin, clustered
    * buckets by the (lang, source) pair itself, the natural parallel
    * unit): per-bin parallel ranks + bins-sized broadcast offsets, never
    * a single-task doc-census sort; the neighbor join is rank-keyed
    * (r ↔ r+1), and the token-intersection join is keyed on the token —
    * every stage is an equi-join, nothing quadratic. */
  val q289LayoutLocality: GraftQuery = GraftQuery.oracled(
    "q289_layout_locality",
    """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      |ord AS (
      |  SELECT doc_id,
      |         row_number() OVER (ORDER BY doc_id) AS r_arrival,
      |         row_number() OVER (ORDER BY lang, source, doc_id) AS r_clustered
      |  FROM documents),
      |pairs AS (
      |  SELECT 'arrival' AS ordering, a.doc_id AS da, b.doc_id AS db
      |  FROM ord a JOIN ord b ON b.r_arrival = a.r_arrival + 1
      |  UNION ALL
      |  SELECT 'clustered', a.doc_id, b.doc_id
      |  FROM ord a JOIN ord b ON b.r_clustered = a.r_clustered + 1),
      |inter AS (
      |  SELECT p.ordering, p.da, p.db, CAST(count(tb.tok) AS BIGINT) AS shared
      |  FROM pairs p
      |  LEFT JOIN tok ta ON ta.doc_id = p.da
      |  LEFT JOIN tok tb ON tb.doc_id = p.db AND tb.tok = ta.tok
      |  GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT i.ordering,
      |         CAST(floor(1000000.0 * i.shared / (sa.n + sb.n - i.shared)) AS BIGINT) AS jppm
      |  FROM inter i JOIN sz sa ON i.da = sa.doc_id JOIN sz sb ON i.db = sb.doc_id)
      |SELECT ordering, CAST(count(*) AS BIGINT) AS n_pairs,
      |       round(avg(jppm), 1) AS mean_jaccard_ppm
      |FROM j GROUP BY ordering
      |ORDER BY ordering""") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tok = docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .distinct()
    val sz = tok.groupBy($"doc_id").agg(count(lit(1)).cast("long").as("n"))
    val ord = graft.operators.TwoPhase.rowNumber(
        graft.operators.TwoPhase.rowNumber(
          docs.select($"doc_id", $"lang", $"source"),
          floor($"doc_id" / 4096.0), Seq($"doc_id"), out = "r_arrival"),
        struct($"lang", $"source"),
        Seq($"lang", $"source", $"doc_id"), out = "r_clustered")
      .select($"doc_id", $"r_arrival", $"r_clustered")
    def neighbors(rank: String, label: String) =
      ord.as("a").join(ord.as("b"), col(s"b.$rank") === col(s"a.$rank") + 1)
        .select(lit(label).as("ordering"),
          $"a.doc_id".as("da"), $"b.doc_id".as("db"))
    val pairs = neighbors("r_arrival", "arrival")
      .unionAll(neighbors("r_clustered", "clustered"))
    // shared tokens per adjacent pair: token-keyed equi-joins; the LEFT
    // join back onto pairs keeps zero-overlap neighbors (shared = 0)
    val ta = tok.toDF("da", "tok")
    val tb = tok.toDF("db", "tok")
    val shared = pairs
      .join(ta, Seq("da"))
      .join(tb, Seq("db", "tok"))
      .groupBy($"ordering", $"da", $"db")
      .agg(count(lit(1)).cast("long").as("shared"))
    pairs
      .join(shared, Seq("ordering", "da", "db"), "left")
      .na.fill(0L, Seq("shared"))
      .join(sz.toDF("da", "na"), Seq("da"))
      .join(sz.toDF("db", "nb"), Seq("db"))
      .select($"ordering",
        floor(lit(1000000.0) * $"shared" / ($"na" + $"nb" - $"shared"))
          .cast("long").as("jppm"))
      .groupBy($"ordering")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(avg($"jppm"), 1).as("mean_jaccard_ppm"))
      .orderBy($"ordering")
  }

  /** REPEATED-SPAN DETECTION BY PREFIX DOUBLING — the distributed
    * suffix-RANK construction (Manber & Myers, SIAM J. Comput. 1993)
    * behind substring-level dedup (Lee et al., arXiv:2107.06499), without
    * a suffix array: after round k every token position carries a CLASS
    * id identifying its 2^k-token span, and round k+1 classes are the
    * pairs (class(i), class(i + 2^k)). Two positions share a class iff
    * their spans are exactly equal, so per-round class-size censuses give
    * the duplicated-span profile at widths 1,2,4,8,16,32 — the curve that
    * tells a dedup pass which span width separates boilerplate from
    * genuine repetition. Class ids are min-position representatives, NOT
    * dense ranks: equality is all the census needs, which removes the
    * global sort entirely — each round is a doc-partitioned `lead` window
    * plus one class-keyed shuffle (`min` over the class partition).
    * Strictly oracle'd round-for-round: DuckDB unrolls the six rounds as
    * identical CTEs.
    *
    * 100 TB plan: O(log L) rounds, each ONE shuffle keyed on (class,
    * class2) — the sort-based suffix-array formulation would pay a global
    * TeraSort per round instead; min-representative classes sidestep it.
    * Windows partition by doc_id (bounded) and by class (span-class
    * sized); at scale each round's frame is localCheckpoint'd (q177's
    * iterative-graph discipline) so lineage stays flat. */
  val q429PrefixDoublingSpans: GraftQuery = GraftQuery.oracled(
    "q429_prefix_doubling_spans",
    """WITH tok0 AS (
      |  SELECT doc_id, i - 1 AS rawpos, l[i] AS t
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS l
      |        FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS g(i)),
      |tok AS (
      |  SELECT doc_id,
      |         (row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1) AS p,
      |         doc_id * 1000000
      |           + (row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1) AS pid,
      |         t
      |  FROM tok0 WHERE t <> ''),
      |c0 AS (SELECT doc_id, p, pid, min(pid) OVER (PARTITION BY t) AS c FROM tok),
      |l1 AS (SELECT doc_id, p, pid, c,
      |              lead(c, 1) OVER (PARTITION BY doc_id ORDER BY p) AS c2 FROM c0),
      |c1 AS (SELECT doc_id, p, pid, min(pid) OVER (PARTITION BY c, c2) AS c
      |       FROM l1 WHERE c2 IS NOT NULL),
      |l2 AS (SELECT doc_id, p, pid, c,
      |              lead(c, 2) OVER (PARTITION BY doc_id ORDER BY p) AS c2 FROM c1),
      |c2 AS (SELECT doc_id, p, pid, min(pid) OVER (PARTITION BY c, c2) AS c
      |       FROM l2 WHERE c2 IS NOT NULL),
      |l3 AS (SELECT doc_id, p, pid, c,
      |              lead(c, 4) OVER (PARTITION BY doc_id ORDER BY p) AS c2 FROM c2),
      |c3 AS (SELECT doc_id, p, pid, min(pid) OVER (PARTITION BY c, c2) AS c
      |       FROM l3 WHERE c2 IS NOT NULL),
      |l4 AS (SELECT doc_id, p, pid, c,
      |              lead(c, 8) OVER (PARTITION BY doc_id ORDER BY p) AS c2 FROM c3),
      |c4 AS (SELECT doc_id, p, pid, min(pid) OVER (PARTITION BY c, c2) AS c
      |       FROM l4 WHERE c2 IS NOT NULL),
      |l5 AS (SELECT doc_id, p, pid, c,
      |              lead(c, 16) OVER (PARTITION BY doc_id ORDER BY p) AS c2 FROM c4),
      |c5 AS (SELECT doc_id, p, pid, min(pid) OVER (PARTITION BY c, c2) AS c
      |       FROM l5 WHERE c2 IS NOT NULL),
      |s0 AS (SELECT 1 AS w, c, count(*) AS n FROM c0 GROUP BY 2),
      |s1 AS (SELECT 2 AS w, c, count(*) AS n FROM c1 GROUP BY 2),
      |s2 AS (SELECT 4 AS w, c, count(*) AS n FROM c2 GROUP BY 2),
      |s3 AS (SELECT 8 AS w, c, count(*) AS n FROM c3 GROUP BY 2),
      |s4 AS (SELECT 16 AS w, c, count(*) AS n FROM c4 GROUP BY 2),
      |s5 AS (SELECT 32 AS w, c, count(*) AS n FROM c5 GROUP BY 2),
      |s AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL
      |      SELECT * FROM s2 UNION ALL SELECT * FROM s3 UNION ALL
      |      SELECT * FROM s4 UNION ALL SELECT * FROM s5)
      |SELECT CAST(w AS BIGINT) AS span_len,
      |       CAST(count(CASE WHEN n >= 2 THEN 1 END) AS BIGINT) AS dup_classes,
      |       CAST(coalesce(sum(CASE WHEN n >= 2 THEN n END), 0) AS BIGINT) AS dup_positions,
      |       CAST(coalesce(max(n), 0) AS BIGINT) AS max_class_size
      |FROM s GROUP BY w
      |ORDER BY span_len""") { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split(lower($"text"), "[^a-z]+")))
      .withColumnRenamed("col", "t")
      .filter($"t" =!= "")
      .withColumn("p", (row_number().over(
        Window.partitionBy($"doc_id").orderBy($"pos")) - 1).cast("long"))
      .select($"doc_id", $"p", ($"doc_id" * 1000000L + $"p").as("pid"), $"t")
    def stats(df: DataFrame, w: Int): DataFrame = df
      .groupBy($"c").agg(count(lit(1)).as("n"))
      .agg(
        count(when($"n" >= 2, 1)).cast("long").as("dup_classes"),
        coalesce(sum(when($"n" >= 2, $"n")), lit(0)).cast("long")
          .as("dup_positions"),
        coalesce(max($"n"), lit(0)).cast("long").as("max_class_size"))
      .select(lit(w.toLong).as("span_len"), $"dup_classes", $"dup_positions",
        $"max_class_size")
    // each round localCheckpoint'd (the scaladoc's stated discipline —
    // previously unmaterialized, so round k's census re-derived rounds
    // 1..k-1's window chains: 21 chained window passes instead of 6)
    var cur = tok.select($"doc_id", $"p", $"pid",
      min($"pid").over(Window.partitionBy($"t")).as("c"))
      .localCheckpoint()
    var out = stats(cur, 1)
    var half = 1
    while (half <= 16) {
      cur = cur
        .withColumn("cnext", lead($"c", half).over(
          Window.partitionBy($"doc_id").orderBy($"p")))
        .filter($"cnext".isNotNull)
        .select($"doc_id", $"p", $"pid",
          min($"pid").over(Window.partitionBy($"c", $"cnext")).as("c"))
        .localCheckpoint()
      out = out.unionAll(stats(cur, half * 2))
      half *= 2
    }
    out.orderBy($"span_len")
  }

  def all: Seq[GraftQuery] = Seq(q197RagChunks, q199GramSpanDedup,
    q203PrefixJaccardJoin, q215Winnowing, q259NgramNovelty,
    q289LayoutLocality, q429PrefixDoublingSpans)
}
