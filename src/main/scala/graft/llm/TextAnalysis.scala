package graft.llm

import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.functions.ShingleExpression.wordNgrams
import graft.operators.RelationalCore.stat
import graft.sources.Tables

/** SURVEY.md §2.10 — text analysis for LLM data curation: language ID,
  * quality scoring, token counting, fingerprinting, TF-IDF top terms.
  *
  * Everything is a single projection or one hash-agg over `documents` —
  * embarrassingly parallel, no driver-side loops; the TF-IDF query is two
  * aggregations plus a broadcast of the (vocabulary-sized) DF table. */
object TextAnalysis {

  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "a", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private def sqlMarkerList(lang: String): String =
    langMarkers(lang).map(m => s"'$m'").mkString("[", ", ", "]")

  /** Stopword-marker language ID: hits of per-language marker lists over the
    * token set, argmax with fixed tie order (de<en<es<fr<zh reversed so the
    * highest-scoring FIRST language wins via strict `>`). On this synthetic
    * corpus only 'en' markers fire — the op stays fully exercised and
    * deterministic. */
  val q51LangId: GraftQuery = GraftQuery.oracled(
    "q51_lang_id",
    s"""WITH scored AS (
      |  SELECT doc_id, lang AS labeled_lang, string_split(lower(text), ' ') AS t FROM documents
      |), hits AS (
      |  SELECT doc_id, labeled_lang,
      |         len(list_filter(t, x -> list_contains(${sqlMarkerList("de")}, x))) AS s_de,
      |         len(list_filter(t, x -> list_contains(${sqlMarkerList("en")}, x))) AS s_en,
      |         len(list_filter(t, x -> list_contains(${sqlMarkerList("es")}, x))) AS s_es,
      |         len(list_filter(t, x -> list_contains(${sqlMarkerList("fr")}, x))) AS s_fr,
      |         len(list_filter(t, x -> list_contains(${sqlMarkerList("zh")}, x))) AS s_zh
      |  FROM scored)
      |SELECT doc_id, labeled_lang, s_de, s_en, s_es, s_fr, s_zh,
      |       CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |            WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |            WHEN s_fr >= s_zh THEN 'fr'
      |            ELSE 'zh' END AS predicted_lang
      |FROM hits
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    def score(lang: String) = {
      val markers = array(langMarkers(lang).map(lit): _*)
      size(filter($"t", x => array_contains(markers, x))).as(s"s_$lang")
    }
    val hits = Tables.documents(spark, dir)
      .select($"doc_id", $"lang".as("labeled_lang"), split(lower($"text"), " ").as("t"))
      .select($"doc_id", $"labeled_lang",
        score("de"), score("en"), score("es"), score("fr"), score("zh"))
    hits.withColumn("predicted_lang",
        when($"s_de" >= $"s_en" && $"s_de" >= $"s_es" && $"s_de" >= $"s_fr" && $"s_de" >= $"s_zh", "de")
          .when($"s_en" >= $"s_es" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_zh", "en")
          .when($"s_es" >= $"s_fr" && $"s_es" >= $"s_zh", "es")
          .when($"s_fr" >= $"s_zh", "fr")
          .otherwise("zh"))
      .orderBy($"doc_id")
  }

  /** Heuristic quality scoring: token stats, stopword ratio, punctuation
    * density — the usual pre-training filter features. Single-space token
    * arithmetic keeps everything integer-exact until the final ratios. */
  val q52QualityScore: GraftQuery = GraftQuery.oracled(
    "q52_quality_score",
    """WITH f AS (
      |  SELECT doc_id,
      |         length(text) AS n_chars_seen,
      |         len(string_split(text, ' ')) AS n_tokens,
      |         len(list_filter(string_split(lower(text), ' '),
      |             x -> list_contains(['the', 'and', 'of', 'a', 'to'], x))) AS n_stop,
      |         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct
      |  FROM documents)
      |SELECT doc_id, n_chars_seen, n_tokens,
      |       round((n_chars_seen - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 4) AS avg_tok_len,
      |       round(n_stop / CAST(n_tokens AS DOUBLE), 4) AS stopword_ratio,
      |       round(n_punct / CAST(n_chars_seen AS DOUBLE), 4) AS punct_ratio,
      |       (n_tokens >= 20 AND n_stop > 0) AS passes_filter
      |FROM f
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val stopList = array(Seq("the", "and", "of", "a", "to").map(lit): _*)
    Tables.documents(spark, dir)
      .select($"doc_id",
        length($"text").as("n_chars_seen"),
        size(split($"text", " ")).as("n_tokens"),
        size(filter(split(lower($"text"), " "), x => array_contains(stopList, x))).as("n_stop"),
        (length($"text") - length(regexp_replace($"text", "[^a-zA-Z0-9 ]", ""))).as("n_punct"))
      .select($"doc_id", $"n_chars_seen", $"n_tokens",
        stat(($"n_chars_seen" - $"n_tokens" + 1) / $"n_tokens".cast("double")).as("avg_tok_len"),
        stat($"n_stop" / $"n_tokens".cast("double")).as("stopword_ratio"),
        stat($"n_punct" / $"n_chars_seen".cast("double")).as("punct_ratio"),
        ($"n_tokens" >= 20 && $"n_stop" > 0).as("passes_filter"))
      .orderBy($"doc_id")
  }

  /** Token counting, whitespace + BPE-ish regex segmentation (letter runs /
    * digit runs / single other-symbols — the pre-tokenizer shape real BPE
    * vocabularies assume). */
  val q53TokenCount: GraftQuery = GraftQuery.oracled(
    "q53_token_count",
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS ws_tokens,
      |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_ish_tokens
      |FROM documents
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(split($"text", " ")).as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).as("bpe_ish_tokens"))
      .orderBy($"doc_id")
  }

  /** Document fingerprint: lexicographic min of sha256 over 3-gram shingles
    * (a 1-permutation MinHash — the winnowing building block). Content-
    * defined, engine-portable, collision-resistant. */
  val q54Fingerprint: GraftQuery = GraftQuery.oracled(
    "q54_fingerprint",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 3)
      |SELECT doc_id,
      |       list_min(list_transform(generate_series(1, len(t)-2),
      |         i -> sha256(array_to_string(t[i:i+2], ' ')))) AS fingerprint
      |FROM toks
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(size(split($"text", " ")) >= 3)
      .select($"doc_id",
        array_min(transform(wordNgrams($"text", 3), sha2(_, 256))).as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** Relational TF-IDF: top-5 terms per source by tf·idf with
    * idf = ln((N+1)/(df+1)) + 1. Two hash-aggs + a broadcast of the
    * vocabulary-sized DF table; ranking ties break on the term itself.
    *
    * Broadcast guard: the DF table has one row per distinct term. Natural-
    * language vocabularies grow ~O(corpus^0.5) (Heaps' law) — tens of
    * millions of terms at 100 TB, a few hundred MB as (term, count) pairs —
    * near the practical broadcast ceiling. If the vocabulary outgrows
    * `spark.sql.autoBroadcastJoinThreshold`, drop the `broadcast()` hint and
    * let the tf-side shuffle partition by term (both sides are already
    * term-keyed aggregates, so the sort-merge join reuses that shuffle). */
  val q55TfidfTopTerms: GraftQuery = GraftQuery.oracled(
    "q55_tfidf_top_terms",
    """WITH tok AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT source, tf.term, tf, df,
      |         tf * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1) AS tfidf
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS rnk
      |  FROM scored)
      |SELECT source, term, tf, df, rnk, round(tfidf, 4) AS tfidf
      |FROM ranked WHERE rnk <= 5
      |ORDER BY source, rnk""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tok = docs.select($"source", $"doc_id", explode(split($"text", " ")).as("term"))
    val tf = tok.groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val w = Window.partitionBy($"source").orderBy($"tfidf".desc, $"term")
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", $"tf" * (log(($"n_docs" + 1) / ($"df" + 1).cast("double")) + 1))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"source", $"term", $"tf", $"df", $"rnk", stat($"tfidf").as("tfidf"))
      .orderBy($"source", $"rnk")
  }

  /** Corpus cleaning / PII masking: strip markup, redact email addresses,
    * collapse runs of whitespace — the standard pre-tokenization scrub in a
    * training-data pipeline. Pure per-row regex projections (codegen'd, no
    * shuffle); patterns kept to the Java∩DuckDB-compatible regex subset so
    * the op is exactly oracle-able. */
  val q103TextClean: GraftQuery = GraftQuery.oracled(
    "q103_text_clean",
    """SELECT doc_id,
      |       trim(regexp_replace(regexp_replace(regexp_replace(text,
      |         '<[^>]*>', ' ', 'g'),
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |         '[ \t]+', ' ', 'g')) AS clean_text,
      |       len(regexp_extract_all(text,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails_masked
      |FROM documents
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    Tables.documents(spark, dir)
      .select($"doc_id",
        trim(regexp_replace(regexp_replace(regexp_replace($"text",
          "<[^>]*>", " "),
          email, "<EMAIL>"),
          "[ \t]+", " ")).as("clean_text"),
        size(regexp_extract_all($"text", lit(email), lit(0))).as("n_emails_masked"))
      .orderBy($"doc_id")
  }

  /** Boilerplate-span mining: 5-gram shingles recurring across ≥3 distinct
    * documents — the candidate table a cleaning pass strips (header/footer/
    * license text at web scale; the corpus has no newlines, so spans stand
    * in for lines). One explode + one hash-agg: partial aggregation
    * map-side, only (shingle, counts) pairs shuffle, never documents; the
    * df filter cuts the output to the (tiny) recurring tail. */
  val q110BoilerplateSpans: GraftQuery = GraftQuery.oracled(
    "q110_boilerplate_spans",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |              WHERE len(string_split(text, ' ')) >= 5),
      |sh AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i))
      |SELECT s AS shingle, count(DISTINCT doc_id) AS df, count(*) AS n_occ
      |FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 3
      |ORDER BY shingle""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(wordNgrams($"text", 5)).as("shingle"))
      .groupBy($"shingle")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("n_occ"))
      .filter($"df" >= 3)
      .orderBy($"shingle")
  }

  /** Intra-document repetition scoring (the Gopher-style duplicate-n-gram
    * filter): fraction of a document's bigrams that are repeats of an
    * earlier bigram in the same document. Pure per-row array arithmetic —
    * no explode, no shuffle, codegen'd end to end; the 100 TB plan is a
    * bare projection over the scan. */
  val q111DocRepetition: GraftQuery = GraftQuery.oracled(
    "q111_doc_repetition",
    """WITH b AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(1, len(t)-1),
      |                        i -> array_to_string(t[i:i+1], ' ')) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |        WHERE len(string_split(text, ' ')) >= 2))
      |SELECT doc_id, len(bg) AS n_bigrams, len(list_distinct(bg)) AS n_distinct,
      |       round(1 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 4) AS dup_fraction,
      |       (1 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE)) > 0.2 AS flagged
      |FROM b
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val dupFrac = lit(1) - $"n_distinct" / $"n_bigrams".cast("double")
    Tables.documents(spark, dir)
      .filter(size(split($"text", " ")) >= 2)
      .select($"doc_id", wordNgrams($"text", 2).as("bg"))
      .select($"doc_id", size($"bg").as("n_bigrams"),
        size(array_distinct($"bg")).as("n_distinct"))
      .select($"doc_id", $"n_bigrams", $"n_distinct",
        stat(dupFrac).as("dup_fraction"),
        (dupFrac > 0.2).as("flagged"))
      .orderBy($"doc_id")
  }

  /** Character-level Shannon entropy per document — the gibberish/encoded-
    * blob detector in a quality-filter stack (natural language sits ~3.5–4.5
    * bits/char; base64 or repeated filler falls far outside). One explode +
    * two hash-aggs keyed by (doc, char) then doc: the shuffled stream is
    * per-doc character COUNTS (≤ alphabet-size rows per doc), not text. */
  val q123CharEntropy: GraftQuery = GraftQuery.oracled(
    "q123_char_entropy",
    """WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS c FROM documents),
      |f AS (SELECT doc_id, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY 1, 2),
      |t AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars_tot, count(*) AS n_distinct_chars
      |      FROM f GROUP BY 1)
      |SELECT f.doc_id,
      |       round(-sum((n / CAST(n_chars_tot AS DOUBLE))
      |                  * log2(n / CAST(n_chars_tot AS DOUBLE))), 4) AS entropy_bits,
      |       n_chars_tot, n_distinct_chars
      |FROM f JOIN t ON f.doc_id = t.doc_id
      |GROUP BY f.doc_id, n_chars_tot, n_distinct_chars
      |ORDER BY f.doc_id""") { (spark, dir) =>
    import spark.implicits._
    val f = Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", "")).as("c"))
      .filter($"c" =!= "")
      .groupBy($"doc_id", $"c").agg(count(lit(1)).as("n"))
    val t = f.groupBy($"doc_id")
      .agg(sum($"n").as("n_chars_tot"), count(lit(1)).as("n_distinct_chars"))
    val p = $"n" / $"n_chars_tot".cast("double")
    f.join(t, Seq("doc_id"))
      .groupBy($"doc_id", $"n_chars_tot", $"n_distinct_chars")
      .agg(stat(-sum(p * log2(p))).as("entropy_bits"))
      .select($"doc_id", $"entropy_bits", $"n_chars_tot", $"n_distinct_chars")
      .orderBy($"doc_id")
  }

  /** Language-model quality scoring, CCNet-style: train a corpus unigram LM
    * (token → count, one hash-agg), then score every document by its
    * cross-entropy under that LM — bits per token = avg(−log2 p(tok)).
    * High-bits docs are "surprising" (gibberish, rare-token soup); low-bits
    * docs are boilerplate-ish. CCNet does this with a 5-gram KenLM; the
    * unigram version is the same pipeline shape with a model Spark can
    * train in-query.
    *
    * 100 TB plan: the LM table is vocab-sized (Heaps' law, same broadcast
    * ceiling note as q55 — swap to a shuffle join past ~100M types), so
    * scoring is scan → explode → BROADCAST join → per-doc hash-agg: the
    * token stream never shuffles; only (token, count) pairs and the final
    * per-doc rows do. The N normalizer rides the same broadcast (1-row
    * cross join), not a driver collect. */
  val q132UnigramPerplexity: GraftQuery = GraftQuery.oracled(
    "q132_unigram_perplexity",
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tot AS (SELECT count(*) AS n FROM toks),
      |lm AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
      |SELECT t.doc_id,
      |       count(*) AS n_tokens,
      |       round(avg(-log2(lm.c / CAST(tot.n AS DOUBLE))), 4) AS bits_per_token
      |FROM toks t JOIN lm USING (tok) CROSS JOIN tot
      |GROUP BY t.doc_id
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val lm = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("n"))
    toks
      .join(broadcast(lm), Seq("tok"))
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        stat(avg(-log2($"c" / $"n".cast("double")))).as("bits_per_token"))
      .orderBy($"doc_id")
  }

  /** Heavy-hitter token frequencies via Count-Min Sketch — the mergeable
    * frequency summary for hot-token detection (stopword discovery,
    * boilerplate markers, tokenizer hot-path tuning). `count_min_sketch` is
    * a partial-aggregatable function: each partition sketches its token
    * stream into a fixed eps×confidence grid and the grids MERGE
    * associatively — so at 100 TB the exact-count shuffle of billions of
    * (token, 1) pairs collapses to a few-KB blob per partition; only the
    * sketch travels. The query probes the sketch for the exact top-10
    * tokens (derived once here for the report; production probes a fixed
    * watch-list): estimates are biased high by ≤ eps·N with prob ≥
    * confidence. The collected sketch is a driver-sized summary (the E3
    * scalar pattern), never row data.
    *
    * PRINT-BOTH (q29's pattern) since r6: the exact top-10 census is
    * strict-oracle'd, and the CMS one-sided error CONTRACT
    * (exact ≤ est ≤ exact + eps·N) rides as a boolean the oracle pins
    * TRUE — a sketch regression hash-mismatches at the driver;
    * TextOpsSpec still gates the raw numeric bound. */
  val q136CmsHeavyHitters: GraftQuery = GraftQuery.oracled(
    "q136_cms_heavy_hitters",
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM t GROUP BY 1)
      |SELECT tok, exact_n, CAST(1 AS BOOLEAN) AS cms_within_eps
      |FROM c ORDER BY exact_n DESC, tok LIMIT 10""") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("tok"))
    val skBytes = toks
      .agg(count_min_sketch($"tok", lit(1e-4), lit(0.99), lit(42)).as("sk"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val n = cms.totalCount()
    val top = toks.groupBy($"tok").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"tok").limit(10).collect()
    val probed = top.map { r =>
      val est = cms.estimateCount(r.getString(0))
      val exact = r.getLong(1)
      (r.getString(0), exact, exact <= est && est <= exact + (1e-4 * n).toLong)
    }
    spark.createDataFrame(probed.toSeq).toDF("tok", "exact_n", "cms_within_eps")
      .orderBy($"exact_n".desc, $"tok")
  }

  /** Per-source top-5 tokens — GROUPED heavy hitters, the per-domain
    * vocabulary profile that q136's global sketch can't answer. Exact
    * formulation: token hash-agg (map-side combinable) then a top-k window
    * per source with a unique token tie-break.
    *
    * 100 TB plan: the (source, token) agg is Heaps'-law bounded per source
    * and partial-aggregates before the shuffle; the window shuffles the
    * already-aggregated count table (vocabulary-sized, not corpus-sized) on
    * `source`. If sources were few and vocabularies huge, the two-phase
    * q97 pattern (per-partition top-k, then merge) bounds the window
    * partitions. */
  val q143SourceTopTokens: GraftQuery = GraftQuery.oracled(
    "q143_source_top_tokens",
    """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      |      FROM t WHERE tok <> '' GROUP BY 1, 2),
      |r AS (SELECT source, tok, n,
      |             CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS INT) AS rnk
      |      FROM c)
      |SELECT source, tok, n, rnk FROM r WHERE rnk <= 5
      |ORDER BY source, rnk""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val c = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"source").orderBy($"n".desc, $"tok")
    c.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .orderBy($"source", $"rnk")
  }

  /** One BPE training round: the pair-frequency table that drives a
    * byte-pair-encoding merge step. Classic formulation — count each
    * distinct word once (weighted by its corpus frequency), explode its
    * adjacent character pairs, and rank total pair frequency; the top pair
    * is the next merge. Output is the top-20 merge candidates.
    *
    * 100 TB plan: the word census collapses the corpus to its
    * Heaps'-law-bounded vocabulary BEFORE any per-character work — the
    * expensive explode runs over distinct words, not running text (the
    * same census trick production BPE trainers use). Both aggs are
    * map-side combinable; iterating merges re-runs this query over the
    * re-tokenized vocabulary, never the corpus. */
  val q144BpePairs: GraftQuery = GraftQuery.oracled(
    "q144_bpe_pairs",
    """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM w WHERE len(w) >= 2 GROUP BY 1),
      |p AS (SELECT substr(w, i, 2) AS pair, n
      |      FROM wc, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i))
      |SELECT pair, CAST(sum(n) AS BIGINT) AS freq
      |FROM p GROUP BY 1
      |ORDER BY freq DESC, pair
      |LIMIT 20""") { (spark, dir) =>
    import spark.implicits._
    val wc = Tables.documents(spark, dir)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("n"))
    wc.select(explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")).as("pair"), $"n")
      .groupBy($"pair").agg(sum($"n").cast("long").as("freq"))
      .orderBy($"freq".desc, $"pair")
      .limit(20)
  }

  /** Bigram language model with add-1 (Laplace) smoothing — the n-gram step
    * up from q132's unigram LM: P(w₂|w₁) = (c₁₂+1)/(c₁+V) over the whole
    * corpus, emitted for the top-50 bigrams in exact parts-per-million
    * (numerator (c₁₂+1)·10⁶ < 2⁵³, so the floored double division is
    * identical on both engines). The oracle rebuilds the same counts from
    * adjacent-token pairs in SQL.
    *
    * Scale note: the corpus is scanned ONCE; bigrams explode from a
    * per-doc adjacent-pair transform (no self-join on position), then two
    * hash aggregates (bigram, left-unigram) and a broadcast of the scalar
    * vocab size. Top-k is the standard rank-truncate. */
  val q211BigramLm: GraftQuery = GraftQuery.oracled(
    "q211_bigram_lm",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT w[i] AS w1, w[i + 1] AS w2
      |       FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      |c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS vocab
      |      FROM (SELECT unnest(w) AS tok FROM toks))
      |SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
      |       CAST(floor((n12 + 1) * 1000000.0 / (n1 + vocab)) AS BIGINT) AS p_ppm
      |FROM c12 JOIN c1 USING (w1) CROSS JOIN v
      |ORDER BY n12 DESC, w1, w2
      |LIMIT 50""") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(split($"text", " ").as("w"))
    val bg = toks
      .filter(size($"w") >= 2)
      .select(explode(transform(sequence(lit(1), size($"w") - 1),
        i => struct(element_at($"w", i).as("w1"),
          element_at($"w", i + 1).as("w2")))).as("b"))
      .select($"b.w1", $"b.w2")
    val c12 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("n12"))
    val c1 = c12.groupBy($"w1").agg(sum($"n12").as("n1"))
    val vocab = toks.select(explode($"w").as("tok"))
      .agg(countDistinct($"tok").as("vocab"))
    c12.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select($"w1", $"w2", $"n12",
        floor(($"n12" + 1) * lit(1000000.0) / ($"n1" + $"vocab"))
          .cast("long").as("p_ppm"))
      .orderBy($"n12".desc, $"w1", $"w2")
      .limit(50)
  }

  /** The fixed BPE merge table q217 applies, in application order (a real
    * tokenizer ships its ranked merge list exactly like this). */
  private[llm] val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r",
    "s" -> "t", "a" -> "n", "o" -> "r", "st" -> "r")

  /** BPE tokenizer APPLY (the inference-side counterpart to q144's
    * pair-frequency training round): every char becomes a marked token
    * `@c␣`, then the ranked merge list is applied as ordered string
    * replaces — `@x @y` → `@xy`. The marker anchors token STARTS, so a
    * merge can never match a token suffix, never cross the (marked) space
    * between words, and left-to-right non-overlapping `replace` gives the
    * same greedy result on both engines — the whole tokenizer is exact,
    * portable string algebra. Emits per-doc char-level vs post-merge token
    * counts (the compression the merge table buys).
    *
    * Scale: a pure per-row projection chain (1 regex + 8 replaces + 2
    * lengths) inside whole-stage codegen; nothing shuffles until the
    * presentation sort. */
  val q217BpeApply: GraftQuery = GraftQuery.oracled(
    "q217_bpe_apply", {
      val applied = BpeMerges.foldLeft("regexp_replace(text, '(.)', '@\\1 ', 'g')") {
        case (acc, (x, y)) => s"replace($acc, '@$x @$y', '@$x$y')"
      }
      s"""WITH m AS (SELECT doc_id,
         |                  CAST(length(replace(text, ' ', '')) AS BIGINT) AS char_tokens,
         |                  length(text) - length(replace(text, ' ', '')) AS n_spaces,
         |                  $applied AS s
         |           FROM documents)
         |SELECT doc_id, char_tokens,
         |       CAST(length(s) - length(replace(s, '@', '')) - n_spaces AS BIGINT) AS bpe_tokens
         |FROM m
         |ORDER BY doc_id"""
    }) { (spark, dir) =>
    import spark.implicits._
    val applied = BpeMerges.foldLeft(
      regexp_replace($"text", "(.)", "@$1 ")) { case (acc, (x, y)) =>
      replace(acc, lit(s"@$x @$y"), lit(s"@$x$y"))
    }
    val nSpaces = length($"text") - length(replace($"text", lit(" "), lit("")))
    Tables.documents(spark, dir)
      .select($"doc_id",
        length(replace($"text", lit(" "), lit(""))).cast("long").as("char_tokens"),
        (length(applied) - length(replace(applied, lit("@"), lit(""))) - nSpaces)
          .cast("long").as("bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** Jensen–Shannon divergence between two sources' unigram
    * distributions — the symmetric, bounded (≤ ln 2) corpus-similarity
    * measure data-mixing pipelines use to pick/weight sources (its square
    * root is a metric). Exact, no smoothing needed: a term with p=0
    * contributes 0 and the mixture m=(p+q)/2 is positive wherever either
    * side is. Vocabulary is the UNION of both sides (full-outer token
    * join).
    *
    * 100 TB plan: two token hash-aggs (map-side combined) + one
    * vocabulary-keyed outer join + a scalar agg — the corpus is scanned
    * once per side and nothing quadratic exists; totals broadcast back. */
  val q242JsDivergence: GraftQuery = GraftQuery.oracled(
    "q242_js_divergence",
    """WITH t AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      |           FROM documents WHERE source IN ('src0', 'src1')),
      |c AS (SELECT source, tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY 1, 2),
      |ta AS (SELECT sum(n) AS t FROM c WHERE source = 'src0'),
      |tb AS (SELECT sum(n) AS t FROM c WHERE source = 'src1'),
      |p AS (SELECT v.tok,
      |             CAST(coalesce(a.n, 0) AS DOUBLE) / ta.t AS pa,
      |             CAST(coalesce(b.n, 0) AS DOUBLE) / tb.t AS pb
      |      FROM (SELECT DISTINCT tok FROM c) v
      |      LEFT JOIN (SELECT tok, n FROM c WHERE source = 'src0') a USING (tok)
      |      LEFT JOIN (SELECT tok, n FROM c WHERE source = 'src1') b USING (tok),
      |      ta, tb)
      |SELECT CAST(count(*) AS BIGINT) AS n_vocab,
      |       round(sum(CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END)
      |           + sum(CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END), 6) AS js_nats
      |FROM p""") { (spark, dir) =>
    import spark.implicits._
    val c = Tables.documents(spark, dir)
      .filter($"source".isin("src0", "src1"))
      .select($"source", explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("n"))
    val ta = c.filter($"source" === "src0").agg(sum($"n").as("ta"))
    val tb = c.filter($"source" === "src1").agg(sum($"n").as("tb"))
    val p = c.filter($"source" === "src0").select($"tok", $"n".as("na"))
      .join(c.filter($"source" === "src1").select($"tok", $"n".as("nb")),
        Seq("tok"), "full_outer")
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(
        (coalesce($"na", lit(0L)).cast("double") / $"ta").as("pa"),
        (coalesce($"nb", lit(0L)).cast("double") / $"tb").as("pb"))
    p.agg(count(lit(1)).cast("long").as("n_vocab"),
      round(
        sum(when($"pa" > 0, lit(0.5) * $"pa" * log($"pa" / (($"pa" + $"pb") / 2))).otherwise(0.0))
          + sum(when($"pb" > 0, lit(0.5) * $"pb" * log($"pb" / (($"pa" + $"pb") / 2))).otherwise(0.0)),
        6).as("js_nats"))
  }

  /** SKETCH-THEN-VERIFY exact heavy hitters — the two-pass production
    * top-frequency pattern, EXACT by construction: pass 1 builds a
    * Count-Min sketch (KB-sized, mergeable — q136's machinery) and the
    * codegen'd `graft_cms_estimate` probe drops every token whose
    * OVER-estimate is already below the threshold MAP-SIDE, before the
    * census shuffle; pass 2 exact-counts only the survivors and applies
    * the threshold to the true counts. CMS never under-counts, so no true
    * heavy hitter is lost — the result EQUALS the naive full GROUP BY +
    * HAVING the oracle states, which is why this approximation-shaped
    * query is fully SQL-oracle-able. Threshold = ⌊N/1000⌋ (0.1% of the
    * token stream), computed identically on both engines.
    *
    * 100 TB plan: the win is the shuffle diet — the full census shuffles
    * every distinct token (vocabulary-scale, Heaps' law); the pre-filtered
    * census shuffles only tokens the sketch thinks are hot
    * (≈ true hot set + eps·N collisions). The sketch itself reduces
    * map-side into one KB blob per partition. Same play as q165's
    * bloom-pruned semi-join, for frequency instead of membership. */
  val q286SketchVerifyHeavyHitters: GraftQuery = GraftQuery.oracled(
    "q286_sketch_verify_heavy_hitters",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |t AS (SELECT CAST(floor(count(*) / 1000.0) AS BIGINT) AS thr FROM tok)
      |SELECT tok, CAST(count(*) AS BIGINT) AS n
      |FROM tok, t
      |GROUP BY tok, t.thr
      |HAVING count(*) >= t.thr
      |ORDER BY n DESC, tok""") { (spark, dir) =>
    import spark.implicits._
    import graft.functions.CmsExpression
    val toks = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("tok"))
    val skBytes = toks
      .agg(count_min_sketch($"tok", lit(1e-4), lit(0.99), lit(42)).as("sk"))
      .head.getAs[Array[Byte]](0)
    val total = toks.count()
    val thr = math.floor(total / 1000.0).toLong
    toks
      .filter(CmsExpression.cmsEstimate(skBytes, $"tok") >= thr)
      .groupBy($"tok")
      .agg(count(lit(1)).cast("long").as("n"))
      .filter($"n" >= thr)
      .orderBy($"n".desc, $"tok")
  }

  /** GOPHER-STYLE QUALITY RULES (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", Appendix A — the
    * rule-based document filter every web-scale pretraining corpus runs
    * before model-based scoring): per document, the four rule families that
    * apply to a whitespace corpus — word-count band, mean-word-length band,
    * repetition (top-word share cap), and stop-word presence (≥2 distinct
    * of a 5-word function-word list; this corpus's "function words" are its
    * highest-df terms) — plus the conjunction verdict. All statistics are
    * exact integers (ppm for the ratios), so the whole filter is
    * strict-oracle'd; thresholds are tuned so every rule discriminates on
    * the driver corpus (measured pass rate ≈ 0.70 at sf0.01).
    *
    * 100 TB plan: one token explode + three map-side-combinable hash-aggs
    * per document key, then a doc-keyed join — no corpus-global state at
    * all; the verdict is a projection. The stop-word list broadcasts as a
    * literal IN. */
  val q485GopherRules: GraftQuery = GraftQuery.oracled(
    "q485_gopher_rules",
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(len(w)) AS BIGINT) AS sl FROM t GROUP BY 1),
      |topw AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS mx
      |         FROM (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2) GROUP BY 1),
      |stopn AS (SELECT doc_id, CAST(count(DISTINCT w) AS BIGINT) AS ns FROM t
      |          WHERE w IN ('join', 'hash', 'row', 'scan', 'filter') GROUP BY 1)
      |SELECT per.doc_id, n AS n_words,
      |       (1000000 * sl) // n AS mean_len_ppm,
      |       (1000000 * mx) // n AS top_share_ppm,
      |       coalesce(ns, 0) AS n_stop,
      |       (n BETWEEN 20 AND 90) AS r_wordcount,
      |       ((1000000 * sl) // n BETWEEN 3000000 AND 8000000) AS r_meanlen,
      |       ((1000000 * mx) // n <= 120000) AS r_repetition,
      |       (coalesce(ns, 0) >= 2) AS r_stopwords,
      |       ((n BETWEEN 20 AND 90) AND ((1000000 * sl) // n BETWEEN 3000000 AND 8000000)
      |        AND ((1000000 * mx) // n <= 120000) AND coalesce(ns, 0) >= 2) AS pass
      |FROM per JOIN topw USING (doc_id) LEFT JOIN stopn USING (doc_id)
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val t = Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
    val per = t.groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(length($"w")).cast("long").as("sl"))
    val topw = t.groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").cast("long").as("mx"))
    val stopn = t.filter($"w".isin("join", "hash", "row", "scan", "filter"))
      .groupBy($"doc_id").agg(countDistinct($"w").cast("long").as("ns"))
    val meanLen = expr("(1000000 * sl) div n")
    val topShare = expr("(1000000 * mx) div n")
    per.join(topw, Seq("doc_id")).join(stopn, Seq("doc_id"), "left")
      .select($"doc_id", $"n".as("n_words"),
        meanLen.as("mean_len_ppm"), topShare.as("top_share_ppm"),
        coalesce($"ns", lit(0L)).as("n_stop"),
        $"n".between(20, 90).as("r_wordcount"),
        meanLen.between(3000000L, 8000000L).as("r_meanlen"),
        (topShare <= 120000L).as("r_repetition"),
        (coalesce($"ns", lit(0L)) >= 2L).as("r_stopwords"),
        ($"n".between(20, 90) && meanLen.between(3000000L, 8000000L)
          && topShare <= 120000L && coalesce($"ns", lit(0L)) >= 2L).as("pass"))
      .orderBy($"doc_id")
  }

  /** C4-STYLE LINE FILTERS (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning…", §2.2 — the line-level half of the C4 cleaning
    * recipe, complementing q485's doc-level Gopher rules): chunk each
    * document into fixed 8-token lines, apply the per-LINE rules (ends in
    * terminal punctuation, ≥5 words), and pass a document iff ≥3 good
    * lines and ≥60% of its lines are good. The driver corpus carries no
    * punctuation, so terminal punctuation is SYNTHESIZED deterministically
    * per (doc, line) parity — the q377/q484 pattern: the structure the
    * rule needs is planted so every arm fires; the OPERATOR (line
    * decomposition → per-line predicate → doc-level roll-up) is the real
    * machinery and is what the strict oracle checks.
    *
    * 100 TB plan: one bounded explode (⌈words/8⌉ lines per doc) + one
    * doc-keyed hash-agg; the verdict is a projection. Runs in the same
    * scan as q485 in production. */
  val q496C4LineFilters: GraftQuery = GraftQuery.oracled(
    "q496_c4_line_filters",
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
      |l AS (SELECT doc_id, n, ((n + 7) // 8) AS n_lines, ln
      |      FROM d, LATERAL (SELECT unnest(generate_series(0, ((n + 7) // 8) - 1)) AS ln)),
      |r AS (SELECT doc_id, n_lines,
      |             CASE WHEN (doc_id + ln) % 3 <> 0
      |                   AND least(8, n - 8 * ln) >= 5 THEN 1 ELSE 0 END AS good
      |      FROM l)
      |SELECT doc_id, CAST(max(n_lines) AS BIGINT) AS n_lines,
      |       CAST(sum(good) AS BIGINT) AS n_good,
      |       (1000000 * CAST(sum(good) AS BIGINT)) // max(n_lines) AS good_ppm,
      |       (sum(good) >= 3 AND
      |        (1000000 * CAST(sum(good) AS BIGINT)) // max(n_lines) >= 600000) AS pass
      |FROM r GROUP BY doc_id ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val lines = Tables.documents(spark, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .withColumn("n_lines", expr("(n + 7) div 8"))
      .select($"doc_id", $"n", $"n_lines",
        explode(sequence(lit(0L), $"n_lines" - 1)).as("ln"))
      .select($"doc_id", $"n_lines",
        when(($"doc_id" + $"ln") % 3 =!= 0 &&
          least(lit(8L), $"n" - lit(8L) * $"ln") >= 5, 1L).otherwise(0L).as("good"))
    lines.groupBy($"doc_id")
      .agg(max($"n_lines").as("n_lines"), sum($"good").cast("long").as("n_good"))
      .select($"doc_id", $"n_lines", $"n_good",
        expr("(1000000 * n_good) div n_lines").as("good_ppm"),
        ($"n_good" >= 3 && expr("(1000000 * n_good) div n_lines") >= 600000)
          .as("pass"))
      .orderBy($"doc_id")
  }

  def all: Seq[GraftQuery] = Seq(
    q485GopherRules, q496C4LineFilters,
    q51LangId, q52QualityScore, q53TokenCount, q54Fingerprint, q55TfidfTopTerms,
    q103TextClean, q110BoilerplateSpans, q111DocRepetition, q123CharEntropy,
    q132UnigramPerplexity, q136CmsHeavyHitters, q143SourceTopTokens, q144BpePairs,
    q211BigramLm, q217BpeApply, q242JsDivergence, q254PmiCollocations,
    q263SourceJaccardMatrix, q286SketchVerifyHeavyHitters, q312BpeTrain,
    q321CohensKappa, q344ZipfSlope, q346WeightedJaccard,
    q350UrlCanonicalize, q354HeapsLaw, q357TokenCalibration,
    q366TokenizerFertility, q377NfcNormalize, q380HashCollisionAudit,
    q384MojibakeAudit, q390VocabCoverage, q424GoodTuring,
    q430WordpieceGreedy, q433DistinctN, q435KneserNey, q439UnigramLmRound,
    q454CcnetBuckets, q500BpeEncode, q504RepetitionRuns)

  /** GOOD–TURING UNSEEN-MASS ESTIMATE (Good 1953) — how much probability
    * mass belongs to n-grams the corpus has NEVER seen: the Turing
    * estimator P(unseen) = N₁/N from the frequency-of-frequencies census
    * (N_r = #word-3-gram TYPES occurring exactly r times), plus the
    * smoothed counts r* = (r+1)·N_{r+1}/N_r for r ≤ 5 — the classical
    * LM-smoothing ingredient and the coverage diagnostic that complements
    * q354 (Heaps growth) and q390 (kept-vocab coverage). The species are
    * 3-gram types (q45's shingle space — the corpus's whitespace unigram
    * vocabulary is a closed 31-word set with no rare tail, so unigram GT
    * would be vacuously empty). Census integers + single divisions —
    * strictly oracle'd.
    *
    * 100 TB plan: 3-gram census (map-side hash agg) → frequency-of-
    * frequency census (type-count-sized agg) → ≤6-row arithmetic. */
  val q424GoodTuring: GraftQuery = GraftQuery.oracled(
    "q424_good_turing",
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |g AS (SELECT array_to_string(t[i:i+2], ' ') AS w
      |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i)),
      |tc AS (SELECT w, CAST(count(*) AS BIGINT) AS r FROM g GROUP BY w),
      |ff AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY r),
      |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
      |               CAST(sum(n_r) AS BIGINT) AS vocab,
      |               CAST(COALESCE(sum(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT) AS n1
      |        FROM ff)
      |SELECT f.r, f.n_r, CAST(COALESCE(f2.n_r, 0) AS BIGINT) AS n_r_next,
      |       round(CAST((f.r + 1) * COALESCE(f2.n_r, 0) AS DOUBLE) / CAST(f.n_r AS DOUBLE), 6) AS r_star,
      |       t.n_tokens, t.vocab,
      |       round(CAST(t.n1 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 6) AS p_unseen
      |FROM ff f LEFT JOIN ff f2 ON f2.r = f.r + 1, tot t
      |WHERE f.r <= 5
      |ORDER BY f.r""") { (spark, dir) =>
    import spark.implicits._
    val tc = Tables.documents(spark, dir)
      .select(explode(wordNgrams($"text", 3)).as("w"))
      .groupBy($"w").agg(count(lit(1)).cast("long").as("r"))
    val ff = tc.groupBy($"r").agg(count(lit(1)).cast("long").as("n_r"))
      .localCheckpoint(true) // frequency-of-frequency census
    val tot = ff.agg(sum($"r" * $"n_r").cast("long").as("n_tokens"),
      sum($"n_r").cast("long").as("vocab"),
      coalesce(sum(when($"r" === 1, $"n_r")), lit(0L)).cast("long").as("n1"))
    val ffNext = ff.toDF("r0", "n_r_next").select(($"r0" - 1).as("r"), $"n_r_next")
    ff.filter($"r" <= 5)
      .join(ffNext, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select($"r", $"n_r", coalesce($"n_r_next", lit(0L)).cast("long").as("n_r_next"),
        round((($"r" + 1) * coalesce($"n_r_next", lit(0L))).cast("double")
          / $"n_r".cast("double"), 6).as("r_star"),
        $"n_tokens", $"vocab",
        round($"n1".cast("double") / $"n_tokens".cast("double"), 6).as("p_unseen"))
      .orderBy($"r")
  }

  /** VOCABULARY COVERAGE-AT-K CURVE — the tokenizer-sizing complement to
    * q354 (Heaps growth) and q344 (Zipf slope): if the vocabulary kept only
    * the top-k whitespace tokens by frequency (ties broken
    * lexicographically), what share of the CORPUS'S token occurrences is
    * covered, at k ∈ {100, 1000, 10000}. The number that decides vocab
    * size vs OOV/byte-fallback rate (q261's OOV audit is this curve
    * evaluated at one chosen k). Exact integers end to end.
    *
    * 100 TB plan: one token census (map-side combined, vocab-sized
    * output), one vocab-sized rank window (q97's two-phase rank is the
    * drop-in were the vocab itself shuffle-hostile), cumulative sums read
    * at three cutoffs. The corpus is scanned once. */
  val q390VocabCoverage: GraftQuery = GraftQuery.oracled(
    "q390_vocab_coverage",
    """WITH c AS (SELECT t, CAST(count(*) AS BIGINT) AS n
      |           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      |           WHERE t <> '' GROUP BY t),
      |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, t) AS rk,
      |             sum(n) OVER (ORDER BY n DESC, t
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM c),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS vocab FROM c)
      |SELECT k, vocab, total,
      |       CAST(max(CASE WHEN rk <= k THEN cum END) AS BIGINT) AS covered,
      |       CAST((1000000 * max(CASE WHEN rk <= k THEN cum END)) // total AS BIGINT) AS coverage_ppm
      |FROM r, tot, (SELECT unnest([100, 1000, 10000]) AS k)
      |GROUP BY k, vocab, total
      |ORDER BY k""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val c = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("t"))
      .filter($"t" =!= "")
      .groupBy($"t").agg(count(lit(1)).cast("long").as("n"))
    val w = Window.orderBy($"n".desc, $"t")
    val r = c.select($"n",
      row_number().over(w).as("rk"),
      sum($"n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
    val tot = c.agg(sum($"n").cast("long").as("total"),
      count(lit(1)).cast("long").as("vocab"))
    val ks = Seq(100, 1000, 10000).toDF("k")
    r.crossJoin(broadcast(ks)).crossJoin(broadcast(tot))
      .groupBy($"k", $"vocab", $"total")
      .agg(max(when($"rk" <= $"k", $"cum")).cast("long").as("covered"))
      .select($"k", $"vocab", $"total", $"covered",
        expr("(1000000 * covered) div total").cast("long").as("coverage_ppm"))
      .orderBy($"k")
  }

  /** ENCODING-ARTIFACT (MOJIBAKE) AUDIT — the ingest-quality census every
    * web-scrape pipeline runs before training: per source, how many
    * documents carry (a) the U+FFFD replacement character (lossy decode
    * already happened), (b) the UTF-8-read-as-Latin-1 double-encoding
    * signatures (`â€™`-class smart quotes, `Ã`+accent-range pairs), or
    * (c) C0 control characters that survive real text never. Rates in ppm
    * of the source's documents; the flagged docs are what a re-decode or
    * drop pass would rewrite. Both engines evaluate the same code-point
    * regexes (Java regex and RE2 agree on these classes).
    *
    * 100 TB plan: pure map-side projection + census hash-agg — one scan,
    * source-sized output, no shuffle beyond the final 5-row agg. */
  val q384MojibakeAudit: GraftQuery = GraftQuery.oracled(
    "q384_mojibake_audit",
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(*) FILTER (WHERE text LIKE '%�%') AS BIGINT) AS n_replacement,
      |       CAST(count(*) FILTER (WHERE regexp_matches(text, 'â€.|Ã[¡-¿]')) AS BIGINT) AS n_double_enc,
      |       CAST(count(*) FILTER (WHERE regexp_matches(text, '[\x00-\x08\x0b\x0e-\x1f]')) AS BIGINT) AS n_ctrl,
      |       CAST((1000000 * count(*) FILTER (WHERE text LIKE '%�%'
      |               OR regexp_matches(text, 'â€.|Ã[¡-¿]')
      |               OR regexp_matches(text, '[\x00-\x08\x0b\x0e-\x1f]'))) // count(*) AS BIGINT) AS dirty_ppm
      |FROM documents
      |GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val repl = $"text".contains("\ufffd")
    val dbl = $"text".rlike("\u00e2\u20ac.|\u00c3[\u00a1-\u00bf]")
    val ctrl = $"text".rlike("[\\x00-\\x08\\x0B\\x0E-\\x1F]")
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        count(when(repl, 1)).cast("long").as("n_replacement"),
        count(when(dbl, 1)).cast("long").as("n_double_enc"),
        count(when(ctrl, 1)).cast("long").as("n_ctrl"),
        count(when(repl || dbl || ctrl, 1)).cast("long").as("n_dirty"))
      .select($"source", $"n_docs", $"n_replacement", $"n_double_enc", $"n_ctrl",
        expr("(1000000 * n_dirty) div n_docs").cast("long").as("dirty_ppm"))
      .orderBy($"source")
  }

  /** FEATURE-HASHING COLLISION AUDIT — the sizing study behind every
    * HashingTF/feature-hashing decision (q58's 2^18 was a guess; this is
    * the measurement): the distinct-token vocabulary is bucketed by
    * `md5-head-60 % 2^k` for k ∈ {10, 14, 18} and each tier reports its
    * occupied-bucket count and collision share. STRICT-oracle'd since r7:
    * the bucket hash is the PORTABLE md5 head (q468's
    * `conv(substr(md5(tok),1,15),16,10)` pattern), so DuckDB re-derives
    * the identical censuses — production feature-hashing (HashingTF)
    * stays murmur3, but a collision AUDIT only needs a uniform hash and
    * gains a driver-verified answer from the swap. LlmOpsSpec still gates
    * the laws (collisions non-increasing in k, occupancy bounded by both
    * domain sizes).
    *
    * 100 TB plan: the vocabulary census is one map-side-combined distinct
    * agg (Heaps-bounded, q162's note); each tier is a projection + one
    * distinct-count over vocab-sized input — the corpus is scanned once. */
  val q380HashCollisionAudit: GraftQuery = GraftQuery.oracled(
    "q380_hash_collision_audit",
    """WITH toks AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |v AS (SELECT tok, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |      FROM toks WHERE tok <> ''),
      |tiers AS (SELECT k FROM (VALUES (10), (14), (18)) t(k))
      |SELECT CAST(k AS BIGINT) AS log2_buckets,
      |       CAST(count(*) AS BIGINT) AS distinct_tokens,
      |       CAST(count(DISTINCT h % (1 << k)) AS BIGINT) AS occupied_buckets,
      |       CAST(floor(1000000.0 * (count(*) - count(DISTINCT h % (1 << k)))
      |                  / count(*)) AS BIGINT) AS collision_ppm
      |FROM v, tiers GROUP BY k
      |ORDER BY log2_buckets""") {
    (spark, dir) =>
      import spark.implicits._
      val toks = Tables.documents(spark, dir)
        .select(explode(split($"text", " ")).as("tok"))
        .filter($"tok" =!= "").distinct()
        .select(conv(substring(md5($"tok"), 1, 15), 16, 10)
          .cast("long").as("h"))
      Seq(10, 14, 18).map { k =>
        toks.select(pmod($"h", lit((1L << k))).as("b"))
          .agg(count(lit(1)).cast("long").as("toks"),
            countDistinct($"b").cast("long").as("buckets"))
          .select(lit(k.toLong).as("log2_buckets"),
            $"toks".as("distinct_tokens"),
            $"buckets".as("occupied_buckets"),
            floor(lit(1000000.0) * ($"toks" - $"buckets") / $"toks")
              .cast("long").as("collision_ppm"))
      }.reduce(_ unionByName _).orderBy($"log2_buckets")
  }

  /** UNICODE NFC NORMALIZATION — via the codegen'd
    * [[graft.functions.NfcNormalize]] Expression (JDK Normalizer) checked
    * STRICTLY against DuckDB's independent utf8proc `nfc_normalize` — a
    * cross-implementation equivalence proof per row (the q301 pattern).
    * Inputs are synthesized decomposed/precomposed pairs ('e' + U+0301 vs
    * 'é', selected by doc parity), since the driver corpus is pure ASCII;
    * the changed flag and the char-length delta are the audit numbers a
    * multilingual ingest reports before hashing/dedup.
    *
    * 100 TB plan: one per-row projection inside whole-stage codegen with
    * an allocation-free quick-check fast path for already-NFC text (the
    * overwhelming majority at corpus scale). */
  val q377NfcNormalize: GraftQuery = GraftQuery.oracled(
    "q377_nfc_normalize",
    """WITH r AS (SELECT doc_id,
      |                  'cafe' || CAST(doc_id % 10 AS VARCHAR)
      |                  || CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769) ELSE chr(233) END
      |                  AS raw
      |           FROM documents)
      |SELECT doc_id,
      |       CAST(length(raw) AS BIGINT) AS raw_chars,
      |       nfc_normalize(raw) AS nfc_text,
      |       CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_chars,
      |       CASE WHEN nfc_normalize(raw) <> raw THEN 1 ELSE 0 END AS changed
      |FROM r
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val raw = concat(lit("cafe"), ($"doc_id" % 10).cast("string"),
      when($"doc_id" % 2 === 0, lit("é")).otherwise(lit("é")))
    Tables.documents(spark, dir)
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id",
        length($"raw").cast("long").as("raw_chars"),
        graft.functions.NfcExpression.nfc($"raw").as("nfc_text"),
        length(graft.functions.NfcExpression.nfc($"raw")).cast("long").as("nfc_chars"),
        when(graft.functions.NfcExpression.nfc($"raw") =!= $"raw", 1).otherwise(0)
          .as("changed"))
      .orderBy($"doc_id")
  }

  /** TOKENIZER FERTILITY AUDIT — the acceptance metric for a merge table:
    * per source, tokens-per-word after applying q217's ranked BPE merges
    * (fertility; a tokenizer is "good" for a corpus when fertility is
    * low) and the chars→tokens compression it buys. THE number compared
    * across tokenizer candidates before committing a vocab to a training
    * run; per-source breakdown catches the corpus a shared tokenizer
    * underserves. Same exact string-algebra apply as q217, so the whole
    * audit is oracle-able.
    *
    * 100 TB plan: the apply chain is a pure codegen'd projection (q217's
    * note); the audit adds one map-side-combined census per source. */
  val q366TokenizerFertility: GraftQuery = GraftQuery.oracled(
    "q366_tokenizer_fertility", {
      val applied = BpeMerges.foldLeft("regexp_replace(text, '(.)', '@\\1 ', 'g')") {
        case (acc, (x, y)) => s"replace($acc, '@$x @$y', '@$x$y')"
      }
      s"""WITH m AS (SELECT source,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
         |                  CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
         |                  CAST(length($applied)
         |                       - length(replace($applied, '@', ''))
         |                       - (length(text) - length(replace(text, ' ', ''))) AS BIGINT) AS bpe
         |           FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(words) AS BIGINT) AS words,
         |       CAST(sum(chars) AS BIGINT) AS chars,
         |       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |       round(CAST(sum(bpe) AS DOUBLE) / sum(words), 4) AS fertility,
         |       round(CAST(sum(chars) AS DOUBLE) / sum(bpe), 4) AS compression
         |FROM m
         |GROUP BY source
         |ORDER BY source"""
    }) { (spark, dir) =>
    import spark.implicits._
    val applied = BpeMerges.foldLeft(
      regexp_replace($"text", "(.)", "@$1 ")) { case (acc, (x, y)) =>
      replace(acc, lit(s"@$x @$y"), lit(s"@$x$y"))
    }
    val nSpaces = length($"text") - length(replace($"text", lit(" "), lit("")))
    Tables.documents(spark, dir)
      .select($"source",
        size(split($"text", " ")).cast("long").as("words"),
        length(replace($"text", lit(" "), lit(""))).cast("long").as("chars"),
        (length(applied) - length(replace(applied, lit("@"), lit(""))) - nSpaces)
          .cast("long").as("bpe"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"words").cast("long").as("words"),
        sum($"chars").cast("long").as("chars"),
        sum($"bpe").cast("long").as("bpe_tokens"),
        round(sum($"bpe").cast("double") / sum($"words"), 4).as("fertility"),
        round(sum($"chars").cast("double") / sum($"bpe"), 4).as("compression"))
      .orderBy($"source")
  }

  /** URL CANONICALIZATION + DUP CENSUS — the first dedup pass of every web
    * corpus: raw crawl URLs differ in case, default ports, trailing
    * slashes, tracking parameters and fragments while naming the same
    * resource. Each document gets a deterministically SYNTHESIZED messy
    * URL (md5-free arithmetic on doc_id — the q229 synthesis pattern, so
    * the op is fully oracle-able), the engine canonicalizes it with
    * `parse_url` (lowercase host, strip :443, strip trailing slash, keep
    * only the `id` query param, drop utm_* and fragments), and the census
    * reports every canonical URL claimed by ≥2 documents with its keeper.
    * The ORACLE derives the canonical form independently from the
    * synthesis rule (q247's independent-derivation pattern) — the strict
    * match proves the parser-based normalization implements the stated
    * semantics.
    *
    * 100 TB plan: canonicalization is a pure codegen'd projection; the
    * census is one map-side-combined hash-agg on the canonical string.
    * Nothing shuffles except the (dup-group-sized) census. */
  val q350UrlCanonicalize: GraftQuery = GraftQuery.oracled(
    "q350_url_canonicalize",
    """WITH c AS (SELECT doc_id,
      |                  'https://www.' || source || '.example.com/a/' || (doc_id % 20)
      |                  || CASE WHEN doc_id % 3 <> 2 THEN '?id=' || (doc_id % 10) ELSE '' END
      |                  AS canonical_url
      |           FROM documents)
      |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(min(doc_id) AS BIGINT) AS keep_id
      |FROM c
      |GROUP BY canonical_url
      |HAVING count(*) >= 2
      |ORDER BY canonical_url""") { (spark, dir) =>
    import spark.implicits._
    val host = concat(lit("www."), $"source", lit(".example.com"))
    val raw = concat(
      lit("https://"),
      when($"doc_id" % 2 === 0, upper(host)).otherwise(host),
      when($"doc_id" % 4 === 0, ":443").otherwise(""),
      lit("/a/"), ($"doc_id" % 20).cast("string"),
      when($"doc_id" % 6 === 0, "/").otherwise(""),
      when($"doc_id" % 3 === 0, concat(lit("?utm_source=feed&id="), ($"doc_id" % 10).cast("string")))
        .when($"doc_id" % 3 === 1, concat(lit("?id="), ($"doc_id" % 10).cast("string")))
        .otherwise(""),
      when($"doc_id" % 5 === 0, "#sec").otherwise(""))
    Tables.documents(spark, dir)
      .select($"doc_id", raw.as("url"))
      .select($"doc_id",
        concat(
          lit("https://"),
          regexp_replace(lower(parse_url($"url", lit("HOST"))), ":443$", ""),
          regexp_replace(parse_url($"url", lit("PATH")), "/$", ""),
          coalesce(concat(lit("?id="), parse_url($"url", lit("QUERY"), lit("id"))), lit("")))
          .as("canonical_url"))
      .groupBy($"canonical_url")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min($"doc_id").cast("long").as("keep_id"))
      .filter($"n_docs" >= 2)
      .orderBy($"canonical_url")
  }

  /** HEAPS-LAW VOCABULARY-GROWTH FIT — the number that sizes a tokenizer
    * and prices a vocab build: per source, cumulative distinct tokens V
    * against cumulative token count N over the doc_id-ordered stream, and
    * the Heaps exponent β = slope of ln V ~ ln N (natural text ≈ 0.4–0.6;
    * β near 1 means the "vocabulary" never saturates — an id/hash column
    * masquerading as text, β near 0 a template corpus). The same census
    * machinery as q344's Zipf audit, reading the growth curve instead of
    * the rank curve.
    *
    * 100 TB plan: token first-occurrence is one (source, token) min-agg
    * (vocabulary-sized); per-doc new/total counts are map-side-combined
    * censuses; the cumulative pass is a per-source window over DOC-count
    * rows (not token rows), parallel across sources — a single gigantic
    * source takes the q97 two-phase prefix-sum, the q137 caveat. */
  val q354HeapsLaw: GraftQuery = GraftQuery.oracled(
    "q354_heaps_law",
    """WITH tok AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |first AS (SELECT source, t, min(doc_id) AS fd FROM tok GROUP BY 1, 2),
      |newc AS (SELECT source, fd AS doc_id, CAST(count(*) AS BIGINT) AS nn FROM first GROUP BY 1, 2),
      |totc AS (SELECT source, doc_id, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY 1, 2),
      |cen AS (SELECT totc.source, totc.doc_id, totc.nt, coalesce(newc.nn, 0) AS nn
      |        FROM totc LEFT JOIN newc USING (source, doc_id)),
      |cum AS (SELECT source, doc_id,
      |               sum(nt) OVER (PARTITION BY source ORDER BY doc_id) AS bign,
      |               sum(nn) OVER (PARTITION BY source ORDER BY doc_id) AS v
      |        FROM cen)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(max(bign) AS BIGINT) AS total_tokens,
      |       CAST(max(v) AS BIGINT) AS vocab,
      |       CASE WHEN min(v) = max(v) THEN NULL
      |            ELSE round(regr_slope(ln(v), ln(bign)), 6) END AS beta,
      |       CASE WHEN min(v) = max(v) THEN NULL
      |            ELSE round(regr_r2(ln(v), ln(bign)), 6) END AS r2
      |FROM cum WHERE v > 0
      |GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select($"source", $"doc_id", explode(split($"text", " ")).as("t"))
    val first = tok.groupBy($"source", $"t").agg(min($"doc_id").as("fd"))
    val newc = first.groupBy($"source", $"fd".as("doc_id"))
      .agg(count(lit(1)).cast("long").as("nn"))
    val totc = tok.groupBy($"source", $"doc_id")
      .agg(count(lit(1)).cast("long").as("nt"))
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    val cum = totc.join(newc, Seq("source", "doc_id"), "left")
      .select($"source", $"doc_id", $"nt", coalesce($"nn", lit(0L)).as("nn"))
      .select($"source", $"doc_id",
        sum($"nt").over(w).as("bign"), sum($"nn").over(w).as("v"))
    cum.filter($"v" > 0)
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max($"bign").cast("long").as("total_tokens"),
        max($"v").cast("long").as("vocab"),
        // a source whose vocab never grows past its first checkpoint has
        // zero y-variance: slope/r2 are 0/0 — emit NULL instead of the
        // accumulation-order-dependent junk the division produces
        when(min($"v") === max($"v"), lit(null))
          .otherwise(round(expr("regr_slope(ln(v), ln(bign))"), 6)).as("beta"),
        when(min($"v") === max($"v"), lit(null))
          .otherwise(round(expr("regr_r2(ln(v), ln(bign))"), 6)).as("r2"))
      .orderBy($"source")
  }

  /** CHARS-PER-TOKEN CALIBRATION — the estimator that prices a corpus in
    * tokens before any tokenizer runs: per source, the OLS fit of
    * n_chars on whitespace-token count (slope ≈ avg token length + 1 for
    * the separator) plus the plain chars/token ratio. Ops teams quote
    * corpora in tokens; storage quotes bytes — this is the exchange rate
    * and its confidence (r²).
    *
    * 100 TB plan: one projection + one map-side-combined moments agg per
    * source (regr_* are algebraic); output is source-count-sized. */
  val q357TokenCalibration: GraftQuery = GraftQuery.oracled(
    "q357_token_calibration",
    """WITH d AS (SELECT source, CAST(n_chars AS DOUBLE) AS c,
      |                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS t
      |           FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CAST(t AS BIGINT)) AS BIGINT) AS total_tokens,
      |       round(regr_slope(c, t), 6) AS chars_per_token_slope,
      |       round(regr_intercept(c, t), 6) AS intercept,
      |       round(regr_r2(c, t), 6) AS r2,
      |       round(sum(c) / sum(t), 6) AS chars_per_token_ratio
      |FROM d
      |GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", $"n_chars".cast("double").as("c"),
        size(split($"text", " ")).cast("double").as("t"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"t".cast("long")).cast("long").as("total_tokens"),
        round(expr("regr_slope(c, t)"), 6).as("chars_per_token_slope"),
        round(expr("regr_intercept(c, t)"), 6).as("intercept"),
        round(expr("regr_r2(c, t)"), 6).as("r2"),
        round(sum($"c") / sum($"t"), 6).as("chars_per_token_ratio"))
      .orderBy($"source")
  }

  /** ZIPF-SLOPE AUDIT — fit ln(freq) ~ ln(rank) per source and read the
    * exponent: natural text sits near −1 (Zipf 1949); template/boilerplate
    * corpora flatten (head too even), paste-farm corpora steepen. A
    * scaling-law fingerprint per feed, computed from the token census
    * the engine already builds everywhere — the corpus-health sibling of
    * q123's char entropy and q132's perplexity. regr_r2 ships alongside:
    * a slope without its fit quality is numerology.
    *
    * 100 TB plan: one token hash-agg per source (map-side combined), one
    * vocabulary-sized rank window per source, one regression aggregate.
    * Row-scale data shuffles once; everything else is census-sized. */
  val q344ZipfSlope: GraftQuery = GraftQuery.oracled(
    "q344_zipf_slope",
    """WITH c AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |cen AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      |        FROM c WHERE tok <> '' GROUP BY 1, 2),
      |rk AS (SELECT source, n,
      |              row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rank
      |       FROM cen)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
      |       round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope,
      |       round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS fit_r2
      |FROM rk
      |GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cen = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"source", $"tok").agg(count(lit(1)).cast("long").as("n"))
    val rk = cen.withColumn("rank",
      row_number().over(Window.partitionBy($"source").orderBy($"n".desc, $"tok")))
    rk.groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_vocab"),
        round(expr("regr_slope(ln(cast(n AS DOUBLE)), ln(cast(rank AS DOUBLE)))"), 4)
          .as("zipf_slope"),
        round(expr("regr_r2(ln(cast(n AS DOUBLE)), ln(cast(rank AS DOUBLE)))"), 4)
          .as("fit_r2"))
      .orderBy($"source")
  }

  /** WEIGHTED JACCARD source-similarity matrix — q263 compares
    * vocabularies as SETS; this weighs them by usage: J_w(A,B) =
    * Σ_t min(a_t, b_t) / Σ_t max(a_t, b_t) over token frequencies — two
    * sources sharing words they both barely use stop looking similar.
    * The union-side Σmax never materializes: per token
    * max = a + b − min, so Σmax = |A| + |B| − Σmin, and the whole matrix
    * needs only the SHARED-token inner join plus per-source totals — the
    * identity that keeps the computation intersection-sized.
    *
    * 100 TB plan: one (source, token) census (map-side combined), one
    * token-keyed self-join of censuses (vocabulary-sized, Zipf-bounded),
    * totals broadcast. Same shapes as q263, better signal. */
  val q346WeightedJaccard: GraftQuery = GraftQuery.oracled(
    "q346_weighted_jaccard",
    """WITH c AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |cen AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      |        FROM c WHERE tok <> '' GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t FROM cen GROUP BY 1),
      |shared AS (SELECT a.source AS source_a, b.source AS source_b,
      |                  CAST(sum(least(a.n, b.n)) AS BIGINT) AS sum_min
      |           FROM cen a JOIN cen b ON a.tok = b.tok AND a.source < b.source
      |           GROUP BY 1, 2)
      |SELECT s.source_a, s.source_b, s.sum_min,
      |       CAST(floor(1000000.0 * s.sum_min / (ta.t + tb.t - s.sum_min)) AS BIGINT) AS wjaccard_ppm
      |FROM shared s
      |JOIN tot ta ON s.source_a = ta.source
      |JOIN tot tb ON s.source_b = tb.source
      |ORDER BY source_a, source_b""") { (spark, dir) =>
    import spark.implicits._
    val cen = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"source", $"tok").agg(count(lit(1)).cast("long").as("n"))
    val tot = cen.groupBy($"source").agg(sum($"n").cast("long").as("t"))
    val shared = cen.toDF("source_a", "tok", "na")
      .join(cen.toDF("source_b", "tok", "nb"), Seq("tok"))
      .filter($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b")
      .agg(sum(least($"na", $"nb")).cast("long").as("sum_min"))
    shared
      .join(broadcast(tot.toDF("source_a", "ta")), Seq("source_a"))
      .join(broadcast(tot.toDF("source_b", "tb")), Seq("source_b"))
      .select($"source_a", $"source_b", $"sum_min",
        floor(lit(1000000.0) * $"sum_min" / ($"ta" + $"tb" - $"sum_min"))
          .cast("long").as("wjaccard_ppm"))
      .orderBy($"source_a", $"source_b")
  }

  /** Source-level token-SET Jaccard matrix: |A∩B| / |A∪B| for every source
    * pair — q242's JS divergence compares DISTRIBUTIONS, this compares
    * vocabularies (which sources use the same words at all); together they
    * are the mixing dashboard. Pairs come from joining the (token, source)
    * census with itself ON TOKEN — never a source×source×vocab blowup —
    * and union sizes derive by inclusion–exclusion from per-source
    * distinct counts. All-integer until the final ratio (ppm).
    *
    * 100 TB plan: the census is one hash-agg; the token-keyed self-join
    * emits only co-occurring (src_a, src_b, token) triples; per-source
    * sizes broadcast. Nothing scans the corpus twice. */
  val q263SourceJaccardMatrix: GraftQuery = GraftQuery.oracled(
    "q263_source_jaccard_matrix",
    """WITH t AS (SELECT DISTINCT source, tok FROM (
      |             SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      |             FROM documents) WHERE tok <> ''),
      |sz AS (SELECT source, count(*) AS n FROM t GROUP BY source),
      |ix AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
      |       FROM t a JOIN t b ON a.tok = b.tok AND a.source < b.source
      |       GROUP BY 1, 2)
      |SELECT ix.sa, ix.sb, CAST(ix.n_common AS BIGINT) AS n_common,
      |       CAST(ix.n_common * 1000000 // (za.n + zb.n - ix.n_common) AS BIGINT) AS jaccard_ppm
      |FROM ix JOIN sz za ON ix.sa = za.source JOIN sz zb ON ix.sb = zb.source
      |ORDER BY ix.sa, ix.sb""") { (spark, dir) =>
    import spark.implicits._
    val t = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok" =!= "")
      .distinct()
    val sz = t.groupBy($"source").agg(count(lit(1)).as("n"))
    val ix = t.toDF("sa", "tok")
      .join(t.toDF("sb", "tok"), Seq("tok"))
      .filter($"sa" < $"sb")
      .groupBy($"sa", $"sb").agg(count(lit(1)).as("n_common"))
    ix.join(broadcast(sz.toDF("sa", "na")), Seq("sa"))
      .join(broadcast(sz.toDF("sb", "nb")), Seq("sb"))
      .select($"sa", $"sb", $"n_common".cast("long").as("n_common"),
        expr("CAST(n_common * 1000000 DIV (na + nb - n_common) AS BIGINT)").as("jaccard_ppm"))
      .orderBy($"sa", $"sb")
  }

  /** PMI COLLOCATION mining: rank adjacent word pairs by pointwise mutual
    * information ln(p(ab)/(p(a)·p(b))) — the classic "New York"-detector
    * (phrase extraction for tokenizer vocab building); q211's bigram LM
    * estimates p(b|a) for scoring, this ranks pairs by association
    * strength. Counts are exact integers; the single `ln` rounds at 4 dp;
    * a min-support floor (pair count ≥ 5) kills the low-frequency PMI
    * explosion; top-10 by (PMI, pair) with full tie-break.
    *
    * 100 TB plan: one explode→hash-agg for unigrams, one for adjacent
    * pairs (both map-side combined), two broadcast scalar totals, one
    * broadcast join of pair→unigram counts — the corpus is scanned twice
    * and nothing is quadratic. */
  val q254PmiCollocations: GraftQuery = GraftQuery.oracled(
    "q254_pmi_collocations",
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |uc AS (SELECT w, count(*) AS c FROM uni WHERE w <> '' GROUP BY w),
      |nt AS (SELECT sum(c) AS n FROM uc),
      |pairs AS (
      |  SELECT t[i] AS a, t[i + 1] AS b
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      |  WHERE t[i] <> '' AND t[i + 1] <> ''),
      |pc AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY a, b),
      |np AS (SELECT sum(c) AS n FROM pc),
      |scored AS (
      |  SELECT pc.a, pc.b, pc.c,
      |         ln((CAST(pc.c AS DOUBLE) / np.n)
      |            / ((CAST(ua.c AS DOUBLE) / nt.n) * (CAST(ub.c AS DOUBLE) / nt.n))) AS pmi
      |  FROM pc JOIN uc ua ON pc.a = ua.w JOIN uc ub ON pc.b = ub.w, nt, np
      |  WHERE pc.c >= 5)
      |SELECT a, b, CAST(c AS BIGINT) AS n_pair, round(pmi, 4) AS pmi
      |FROM scored
      |ORDER BY pmi DESC, a, b
      |LIMIT 10""") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", split(lower($"text"), " ").as("t"))
    val uc = toks.select(explode($"t").as("w")).filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val nt = uc.agg(sum($"c").as("nt"))
    val pc = toks
      .filter(size($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> named_struct('a', t[i - 1], 'b', t[i]))")).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"))
      .filter($"a" =!= "" && $"b" =!= "")
      .groupBy($"a", $"b").agg(count(lit(1)).as("c"))
      .filter($"c" >= 5)
    val np = toks
      .filter(size($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> named_struct('a', t[i - 1], 'b', t[i]))")).as("p"))
      .filter($"p.a" =!= "" && $"p.b" =!= "")
      .agg(count(lit(1)).as("np"))
    pc.join(broadcast(uc.toDF("w", "ca")), $"a" === $"w").drop("w")
      .join(broadcast(uc.toDF("w", "cb")), $"b" === $"w").drop("w")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(np))
      .select($"a", $"b", $"c".cast("long").as("n_pair"),
        round(log(($"c".cast("double") / $"np")
          / (($"ca".cast("double") / $"nt") * ($"cb".cast("double") / $"nt"))), 4).as("pmi"))
      .orderBy($"pmi".desc, $"a", $"b")
      .limit(10)
  }

  /** BPE TOKENIZER TRAINING — the learning side q144 (one pair census)
    * and q217 (apply a GIVEN merge list) bracket but neither performs:
    * iteratively pick the corpus's most frequent adjacent symbol pair
    * and fuse it (Sennrich et al. 2016), k rounds, deterministic
    * (count DESC, pair ASC) tie-break. The learned ranked merge table IS
    * the tokenizer.
    *
    * 100 TB plan — the HuggingFace-trainer shape, distributed: training
    * runs on the WORD CENSUS (word → count), never the corpus: the raw
    * scan collapses by Heaps' law to a vocabulary-sized frame in ONE
    * hash-agg, and each round is then one pair-census agg over the vocab
    * (weighted by word count, map-side combined) plus a 1-row argmax to
    * the driver (the same E3 scalar-per-round lifecycle as every
    * iterative fit: only (left, right, count) ever leaves the cluster).
    * The merge apply is a map-side marked-string replace (q217's trick)
    * on the census — no re-scan of the corpus, ever. Engine-looped with
    * data-dependent scalars → not a fixed SQL tree; correctness is
    * spec-gated against an independent in-memory reference trainer
    * (LlmOpsSpec) on the classic low/lower/newest/widest fixture. */
  /** [[bpeTrain]] over the corpus `documents` table, MEMOIZED per (dir, k)
    * — the AsofBroadcastJoin build-side pattern applied to the trainer:
    * q312 (the merge table) and q500 (train→encode) share one corpus, so a
    * full sweep should run the 12-round driver-argmax loop ONCE, not once
    * per entry (r8 measured the duplicate at ~8 s per extra run at sf0.1).
    * The memo key is the data DIRECTORY: the trainer is a pure function of
    * the parquet under it, so the cached merge list is session-independent
    * plain data. Fixture specs keep calling [[bpeTrain]] directly with
    * their own frames — only the corpus-dir entries share the cache.
    * It stays outside the session registry [[graft.engine.Memos.memo]] on
    * purpose: a session key would make every fresh session retrain, and
    * it pins no storage for [[graft.engine.Memos.release]] to return. */
  private val bpeTrainMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[(String, String, Long)]]()
  private[llm] def bpeTrainCorpus(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): Seq[(String, String, Long)] =
    bpeTrainMemo.computeIfAbsent((dir, k),
      _ => bpeTrain(Tables.documents(spark, dir), k))

  private[llm] def bpeTrain(
      docs: org.apache.spark.sql.DataFrame, k: Int): Seq[(String, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select(trim(regexp_replace($"w", "(.)", "@$1 ")).as("repr"), $"cnt")
      .cache()
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var round = 0
    var exhausted = false
    while (round < k && !exhausted) {
      val top = words
        .select($"cnt", split($"repr", " ").as("s"))
        .filter(size($"s") > 1)
        .select($"cnt", explode(expr(
          "transform(sequence(1, size(s) - 1), i -> struct(s[i-1] AS l, s[i] AS r))")).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"cnt").as("n"))
        .orderBy($"n".desc, $"l", $"r")
        .limit(1)
        .collect() // E3: exactly one (l, r, n) scalar row per round
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((l, r, n))
        // Whole-symbol merge guard: replace "l r " on a temporarily
        // space-suffixed repr, so the right symbol must END at a delimiter —
        // without it, "l r" matches when r is a proper PREFIX of the next
        // symbol (e.g. merging "@a @a" inside "@a @ab" would corrupt to
        // "@a@ab"). The left side needs no guard: every symbol starts with
        // '@' and '@' appears nowhere else, so l always aligns to a symbol
        // start and the interior space forces l to be complete. Consecutive
        // merge sites still chain ("@a @a @a @a " → "@a@a @a@a ") because the
        // replacement re-emits the trailing delimiter it consumed. This is
        // exactly the in-memory reference trainer's symbol-aligned walk
        // (LlmOpsSpec) expressed as one string replace.
        val next = words
          .withColumn("repr", rtrim(replace(concat($"repr", lit(" ")),
            lit(s"$l $r "), lit(l + r.stripPrefix("@") + " "))))
          .cache()
        next.count()
        words.unpersist()
        words = next
      }
      round += 1
    }
    words.unpersist()
    merges.toSeq
  }

  /** COHEN'S KAPPA — chance-corrected agreement between the q51 lang-id
    * heuristic and the labeled `lang` column: κ = (p_o − p_e)/(1 − p_e)
    * with p_e from the marginal products (Cohen 1960). THE
    * inter-annotator / model-vs-gold agreement number every labeling
    * pipeline reports — raw accuracy (p_o) overstates agreement whenever
    * the class marginals are skewed, which is exactly when curation
    * labels look deceptively healthy. Oracle reuses q51's SQL verbatim as
    * a CTE (the q300 pattern), so the two engines score the SAME
    * predictions.
    *
    * 100 TB plan: the confusion matrix is ONE |langs|²-cell hash-agg over
    * q51's projection; marginals and κ are census algebra. Adding raters
    * adds censuses, never row-scale joins. */
  val q321CohensKappa: GraftQuery = GraftQuery.oracled(
    "q321_cohens_kappa", {
      val base = q51LangId.oracle.get.replace("ORDER BY doc_id", "")
      require(base != q51LangId.oracle.get,
        "q321 expects to strip q51's trailing ORDER BY; q51's oracle text " +
          "changed and the replace no-opped — update the coupling here")
      s"""WITH q51 AS ($base),
         |cm AS (SELECT labeled_lang AS a, predicted_lang AS b, CAST(count(*) AS DOUBLE) AS n
         |       FROM q51 GROUP BY 1, 2),
         |tot AS (SELECT sum(n) AS nn FROM cm),
         |ra AS (SELECT a, sum(n) AS r FROM cm GROUP BY 1),
         |cb AS (SELECT b, sum(n) AS c FROM cm GROUP BY 1),
         |po AS (SELECT coalesce(sum(n), 0) / (SELECT nn FROM tot) AS po FROM cm WHERE a = b),
         |pe AS (SELECT sum(ra.r * cb.c) / ((SELECT nn FROM tot) * (SELECT nn FROM tot)) AS pe
         |       FROM ra JOIN cb ON ra.a = cb.b)
         |SELECT CAST((SELECT nn FROM tot) AS BIGINT) AS n,
         |       round((SELECT po FROM po), 6) AS p_observed,
         |       round((SELECT pe FROM pe), 6) AS p_expected,
         |       round(((SELECT po FROM po) - (SELECT pe FROM pe)) / (1 - (SELECT pe FROM pe)), 6) AS kappa"""
    }) { (spark, dir) =>
    import spark.implicits._
    val cm = q51LangId.fn(spark, dir)
      .groupBy($"labeled_lang".as("a"), $"predicted_lang".as("b"))
      .agg(count(lit(1)).cast("double").as("n"))
    val tot = cm.agg(sum($"n").as("nn"))
    val po = cm.filter($"a" === $"b").agg(coalesce(sum($"n"), lit(0.0)).as("agree"))
    val pe = cm.groupBy($"a").agg(sum($"n").as("r"))
      .join(cm.groupBy($"b").agg(sum($"n").as("c")), $"a" === $"b")
      .agg(sum($"r" * $"c").as("rc"))
    broadcast(tot).crossJoin(broadcast(po)).crossJoin(broadcast(pe))
      .select($"nn".cast("long").as("n"),
        round($"agree" / $"nn", 6).as("p_observed"),
        round($"rc" / ($"nn" * $"nn"), 6).as("p_expected"),
        round(($"agree" / $"nn" - $"rc" / ($"nn" * $"nn"))
          / (lit(1) - $"rc" / ($"nn" * $"nn")), 6).as("kappa"))
  }

  /** The learned merge table over `documents`: rank, left symbol, right
    * symbol, weighted pair count at selection time. k = 12 rounds.
    *
    * STRICT since r8 (formerly rows-only): the trainer is a deterministic
    * greedy replay — per round, argmax pair by (weighted count DESC, l, r)
    * over the distinct-word census, then a non-overlapping left-to-right
    * `replace` of "l r " with "lr " on the space-suffixed repr (both
    * engines' replace() share that contract; the trailing delimiter makes
    * every match symbol-ALIGNED — see the guard note in [[bpeTrain]] — so
    * the walk is exactly true BPE, not merely engine-consistent).
    * The DuckDB oracle replays all 12 rounds in one recursive
    * CTE: LATERAL unnest explodes adjacent symbol pairs (single-symbol
    * words survive via LEFT JOIN — they must stay mergeable targets), a
    * window sum builds the pair census in place, and a window min over a
    * (−n, l, r) struct picks the same argmax without a second reference
    * to the CTE; every next-round row carries the chosen merge, so the
    * merge table falls out as DISTINCT (round, l, r, n). All-integer —
    * nothing float anywhere. */
  val q312BpeTrain: GraftQuery = GraftQuery.oracled(
    "q312_bpe_train",
    """WITH RECURSIVE
      |w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
      |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |       WHERE w <> '' GROUP BY w),
      |words AS (SELECT trim(regexp_replace(w, '(.)', '@\1 ', 'g')) AS repr, cnt FROM w0),
      |it AS (
      |  SELECT 0 AS i, repr, cnt,
      |         CAST(NULL AS VARCHAR) AS bl, CAST(NULL AS VARCHAR) AS br, CAST(NULL AS BIGINT) AS bn
      |  FROM words
      |  UNION ALL
      |  SELECT i + 1,
      |         rtrim(replace(repr || ' ', best.bl || ' ' || best.br || ' ',
      |                       best.bl || substr(best.br, 2) || ' ')),
      |         cnt, best.bl, best.br, best.bn
      |  FROM (
      |    SELECT DISTINCT i, repr, cnt,
      |           min(CASE WHEN pl IS NOT NULL THEN {'negn': -pn, 'l': pl, 'r': pr} END) OVER () AS m
      |    FROM (
      |      SELECT e.i, e.repr, e.cnt, e.pl, e.pr,
      |             sum(e.cnt) OVER (PARTITION BY e.pl, e.pr) AS pn
      |      FROM (
      |        SELECT it.i, it.repr, it.cnt, s.pl, s.pr
      |        FROM it LEFT JOIN LATERAL (
      |          SELECT l[g] AS pl, l[g+1] AS pr
      |          FROM (SELECT string_split(it.repr, ' ') AS l),
      |               UNNEST(generate_series(1, len(l) - 1)) AS t(g)
      |        ) s ON TRUE
      |        WHERE it.i < 12
      |      ) e
      |    )
      |  ), LATERAL (SELECT m['l'] AS bl, m['r'] AS br, CAST(-m['negn'] AS BIGINT) AS bn) best
      |  WHERE m IS NOT NULL
      |)
      |SELECT DISTINCT CAST(i AS INT) AS rank, substr(bl, 2) AS "left",
      |       substr(br, 2) AS "right", bn AS pair_count
      |FROM it WHERE i >= 1 ORDER BY rank""") { (spark, dir) =>
    import spark.implicits._
    val merges = bpeTrainCorpus(spark, dir, 12)
    spark.createDataFrame(merges.zipWithIndex.map { case ((l, r, n), i) =>
      (i + 1, l.stripPrefix("@"), r.stripPrefix("@"), n)
    }).toDF("rank", "left", "right", "pair_count")
  }

  /** BPE ENCODE + TOKENIZER FERTILITY (Sennrich et al. 2016 §2's merge
    * application; fertility = subword tokens per word, THE
    * tokenizer-efficiency number reported per language/source in every
    * multilingual-tokenizer study) — the inference half of q312: the 12
    * LEARNED merges are applied IN RANK ORDER to the per-source distinct-
    * word census (the Heaps-bounded q312 trick — the corpus is never
    * re-tokenized per merge), and each source reports its distinct words,
    * weighted occurrences, weighted subword tokens, and fertility in ppm
    * (integer — occurrence-weighted tokens·10⁶ div occurrences). Distinct
    * from q217/q366, which apply a FIXED literal merge table to full doc
    * text: this is the train→encode pipeline end-to-end — the merges come
    * out of q312's trainer on the same corpus, and the encode runs on the
    * census, not the rows.
    *
    * STRICT: the oracle splices q312's recursive trainer CTE verbatim (the
    * q321 oracle-coupling pattern) and replays the encoder as a second
    * recursion — word reprs at level i join the merge table at rank i+1, so
    * every word stops exactly after the last learned merge; all outputs are
    * integers.
    *
    * 100 TB plan: training and encoding both ride the distinct-word census
    * (map-side-combined agg, millions of rows at corpus scale, vs trillions
    * of tokens); the 12 merges are driver literals folded into ONE
    * projection over the census — no per-merge corpus pass, no shuffle
    * beyond the census agg and the source rollup. The trainer itself is
    * shared with q312 via [[bpeTrainCorpus]]'s per-dir memo, so a full
    * sweep runs the 12-round argmax loop exactly once. */
  val q500BpeEncode: GraftQuery = GraftQuery.oracled(
    "q500_bpe_encode", {
      val base = q312BpeTrain.oracle.get
      val cut = base.indexOf("SELECT DISTINCT CAST(i AS INT) AS rank")
      require(cut > 0, "q500 splices q312's trainer CTE; q312's oracle " +
        "final SELECT changed — update the coupling here")
      base.substring(0, cut).trim + """,
        |mg AS (SELECT DISTINCT i AS mi, bl, br FROM it WHERE i >= 1),
        |nm AS (SELECT CAST(coalesce(max(mi), 0) AS INT) AS n FROM mg),
        |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        |       FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |       WHERE w <> '' GROUP BY source, w),
        |ap AS (
        |  SELECT source, w, cnt, trim(regexp_replace(w, '(.)', '@\1 ', 'g')) AS repr, 0 AS i
        |  FROM sw
        |  UNION ALL
        |  SELECT ap.source, ap.w, ap.cnt,
        |         rtrim(replace(ap.repr || ' ', m.bl || ' ' || m.br || ' ',
        |                       m.bl || substr(m.br, 2) || ' ')), ap.i + 1
        |  FROM ap JOIN mg m ON m.mi = ap.i + 1
        |),
        |tk AS (SELECT source, w, cnt, len(string_split(repr, ' ')) AS ntok
        |       FROM ap, nm WHERE ap.i = nm.n)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(cnt) AS BIGINT) AS n_occurrences,
        |       CAST(sum(cnt * ntok) AS BIGINT) AS n_tokens,
        |       CAST((sum(cnt * ntok) * 1000000) // sum(cnt) AS BIGINT) AS fertility_ppm
        |FROM tk GROUP BY source ORDER BY source""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val merges = bpeTrainCorpus(spark, dir, 12)
    val sw = Tables.documents(spark, dir)
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"source", $"w").agg(count(lit(1)).as("cnt"))
    val repr0 = trim(regexp_replace($"w", "(.)", "@$1 "))
    // same whole-symbol trailing-delimiter guard as the trainer's apply step
    val reprN = merges.foldLeft(repr0) { case (c, (l, r, _)) =>
      rtrim(replace(concat(c, lit(" ")),
        lit(s"$l $r "), lit(l + r.stripPrefix("@") + " ")))
    }
    sw.withColumn("ntok", size(split(reprN, " ")).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum($"cnt").cast("long").as("n_occurrences"),
        sum($"cnt" * $"ntok").cast("long").as("n_tokens"))
      .withColumn("fertility_ppm", expr("n_tokens * 1000000 div n_occurrences"))
      .orderBy($"source")
  }

  /** REPETITION-LOOP DETECTOR — consecutive same-token RUNS per document
    * (the position-sensitive complement of q111's set-based bigram dup
    * fraction): degenerate generation and template spam repeat a token in
    * place ("buy buy buy …"), which leaves the bigram TYPE census nearly
    * clean but shows as long equal-token runs. Per doc: token count, the
    * longest run of one repeated token, and the share of tokens sitting in
    * runs of length ≥ 3 (integer ppm) — the loop-share gate a generation
    * filter thresholds on (Holtzman et al. 2020's degeneration failure
    * mode, reduced to its exact streaming-computable signature).
    *
    * 100 TB plan: one lag + one running-sum window PER DOCUMENT key (docs
    * are the partition key — bounded frames, no global window), then a
    * (doc, run) hash-agg and a doc rollup; everything is map-side-
    * combinable after the single doc-keyed shuffle. All-integer → strict. */
  val q504RepetitionRuns: GraftQuery = GraftQuery.oracled(
    "q504_repetition_runs",
    """WITH tok AS (
      |  SELECT doc_id, i AS pos, l[i] AS t
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |        FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS g(i)),
      |runs AS (
      |  SELECT doc_id, t, pos,
      |         CAST(sum(CASE WHEN prev IS NULL OR prev <> t THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY doc_id ORDER BY pos
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM (SELECT doc_id, pos, t,
      |               lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |        FROM tok)),
      |rl AS (SELECT doc_id, run_id, CAST(count(*) AS BIGINT) AS len
      |       FROM runs GROUP BY 1, 2)
      |SELECT doc_id,
      |       CAST(sum(len) AS BIGINT) AS n_tokens,
      |       CAST(max(len) AS BIGINT) AS longest_run,
      |       CAST(coalesce(sum(CASE WHEN len >= 3 THEN len END), 0) AS BIGINT) AS loop_tokens,
      |       CAST(coalesce(sum(CASE WHEN len >= 3 THEN len END), 0) * 1000000 // sum(len) AS BIGINT) AS loop_ppm
      |FROM rl GROUP BY doc_id
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(filter(split($"text", " "), x => x =!= "")))
      .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("t"))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val runs = tok
      .withColumn("prev", lag($"t", 1).over(w))
      .withColumn("run_id",
        sum(when($"prev".isNull || $"prev" =!= $"t", 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy($"doc_id", $"run_id").agg(count(lit(1)).cast("long").as("len"))
    runs.groupBy($"doc_id")
      .agg(sum($"len").cast("long").as("n_tokens"),
        max($"len").cast("long").as("longest_run"),
        coalesce(sum(when($"len" >= 3, $"len")), lit(0L)).cast("long").as("loop_tokens"))
      .withColumn("loop_ppm", expr("loop_tokens * 1000000 div n_tokens"))
      .orderBy($"doc_id")
  }

  /** WORDPIECE TOKENIZATION — greedy longest-match-first inference (the
    * actual BERT-tokenizer algorithm: Wu et al., arXiv:1609.08144 §4.1)
    * over a frequency-derived subword vocabulary, next to q312/q217's BPE
    * pair: the vocabulary is every 1–4-char substring with weighted corpus
    * frequency ≥ 2% of token mass, and each word is segmented by
    * repeatedly taking the LONGEST vocab piece at the cursor (single-char
    * fallback, so segmentation never fails). Segmentation runs on the
    * DISTINCT-WORD census only (Heaps-bounded — the q312 trick), a
    * driver-bounded loop of max-word-length rounds, each one round of
    * broadcast vocab lookups; per-source fertility (wp-tokens per word)
    * is the tokenizer-efficiency number next to q366. Strictly oracle'd:
    * DuckDB replays the greedy cursor as a recursive CTE over the same
    * vocab — the per-word token counts must agree exactly.
    *
    * 100 TB plan: word + substring censuses are map-side-combined aggs;
    * the cursor loop touches only the distinct-word census (≤ millions of
    * rows at 100 TB) with a broadcast vocab per round, localCheckpoint'd
    * (q177's iterative discipline); the corpus is re-touched exactly once
    * to weight the fertility census. */
  /** DISTINCT-n DIVERSITY CENSUS (Li et al., arXiv:1510.03055 — the
    * distinct-1/distinct-2 degeneracy metric, here at n = 1, 2, 3):
    * per-source type/token ratios of word n-grams — the canonical
    * repetition/mode-collapse audit run over generated or scraped text
    * before it is allowed into a training mix; low distinct-n flags
    * template spam the per-doc repetition score (q111) can miss because
    * it is cross-document. Pure census algebra, strictly oracle'd.
    *
    * 100 TB plan: one shingle explode per n, map-side-combined
    * (source, gram) census, then a source-sized rollup — the same
    * inverted-census shape as q263/q344; no joins, no windows. */
  val q433DistinctN: GraftQuery = GraftQuery.oracled(
    "q433_distinct_n",
    """WITH tok AS (
      |  SELECT source, doc_id, i AS pos, l[i] AS t, len(l) AS nl
      |  FROM (SELECT source, doc_id,
      |               list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                           x -> x <> '') AS l
      |        FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS g(i)),
      |led AS (
      |  SELECT source, pos, nl, t,
      |         lead(t, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
      |         lead(t, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
      |  FROM tok),
      |grams AS (
      |  SELECT source, 1 AS n, t AS gram FROM led
      |  UNION ALL
      |  SELECT source, 2, t || ' ' || t2 FROM led WHERE pos + 1 <= nl
      |  UNION ALL
      |  SELECT source, 3, t || ' ' || t2 || ' ' || t3 FROM led WHERE pos + 2 <= nl)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |       CAST(count(DISTINCT gram) AS BIGINT) AS types,
      |       CAST(count(*) AS BIGINT) AS tokens,
      |       CAST(1000000 * count(DISTINCT gram) // count(*) AS BIGINT) AS distinct_ppm
      |FROM grams
      |GROUP BY source, n
      |ORDER BY source, n""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select($"source", $"doc_id",
        filter(split(lower($"text"), "[^a-z]+"), x => x =!= "").as("l"))
      .select($"source", $"doc_id", posexplode($"l"), size($"l").as("nl"))
      .withColumnRenamed("col", "t")
      .withColumn("pos", $"pos" + 1)
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val withLeads = base
      .withColumn("t2", lead($"t", 1).over(w))
      .withColumn("t3", lead($"t", 2).over(w))
    val grams = Seq(
      withLeads.select($"source", lit(1L).as("n"), $"t".as("gram")),
      withLeads.filter($"pos" + 1 <= $"nl")
        .select($"source", lit(2L).as("n"),
          concat_ws(" ", $"t", $"t2").as("gram")),
      withLeads.filter($"pos" + 2 <= $"nl")
        .select($"source", lit(3L).as("n"),
          concat_ws(" ", $"t", $"t2", $"t3").as("gram"))
    ).reduce(_ unionAll _)
    grams.groupBy($"source", $"n")
      .agg(countDistinct($"gram").cast("long").as("types"),
        count(lit(1)).cast("long").as("tokens"),
        expr("(1000000 * count(DISTINCT gram)) div count(1)").cast("long")
          .as("distinct_ppm"))
      .orderBy($"source", $"n")
  }

  /** INTERPOLATED KNESER–NEY bigram language model (Kneser & Ney 1995;
    * Chen & Goodman 1998's benchmark smoother and the heart of KenLM —
    * the LM CCNet-style corpus filters score with): absolute-discount the
    * bigram MLE and back off to the CONTINUATION unigram — how many
    * distinct contexts a word follows, not how often it occurs — so
    * high-frequency-but-fixed-context words ("Francisco") stop stealing
    * backoff mass:
    *
    *   P_KN(w2|w1) = max(n12 − D, 0)/n1 + D·N1+(w1,·)/n1 · N1+(·,w2)/B
    *
    * with D = 3/4, N1+(w1,·) = distinct successors of w1, N1+(·,w2) =
    * distinct predecessors of w2, B = distinct bigram types. With D = 3/4
    * the whole probability is the integer ratio
    * (max(4·n12−3, 0)·B + 3·nf1·npre2) / (4·n1·B), so the emitted ppm is
    * pure BIGINT arithmetic — bit-identical across engines, the q211/q244
    * integer-exactness discipline (no double creeps in anywhere).
    *
    * 100 TB plan: three hash-aggs over the one exploded bigram census
    * (pair counts, successor counts, predecessor counts — the latter two
    * over the already-collapsed model table, which is vocab²-bounded and
    * in practice Heaps-tiny), one broadcast scalar for B, and a
    * TakeOrdered top-50 — the token stream is scanned once and shuffles
    * once, exactly q211's footprint plus two model-sized aggs. */
  val q435KneserNey: GraftQuery = GraftQuery.oracled(
    "q435_kneser_ney",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT w[i] AS w1, w[i + 1] AS w2
      |       FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1,
      |              CAST(count(*) AS BIGINT) AS nf1 FROM c12 GROUP BY 1),
      |c2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS npre2 FROM c12 GROUP BY 1),
      |b AS (SELECT CAST(count(*) AS BIGINT) AS nbig FROM c12)
      |SELECT w1, w2, n12, nf1, npre2,
      |       CAST((1000000 * (greatest(4 * n12 - 3, 0) * nbig + 3 * nf1 * npre2))
      |            // (4 * n1 * nbig) AS BIGINT) AS pkn_ppm
      |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN b
      |ORDER BY n12 DESC, w1, w2
      |LIMIT 50""") { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir).select(split($"text", " ").as("w"))
    val bg = toks
      .filter(size($"w") >= 2)
      .select(explode(transform(sequence(lit(1), size($"w") - 1),
        i => struct(element_at($"w", i).as("w1"),
          element_at($"w", i + 1).as("w2")))).as("b"))
      .select($"b.w1", $"b.w2")
    val c12 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).cast("long").as("n12"))
    val c1 = c12.groupBy($"w1")
      .agg(sum($"n12").cast("long").as("n1"), count(lit(1)).cast("long").as("nf1"))
    val c2 = c12.groupBy($"w2").agg(count(lit(1)).cast("long").as("npre2"))
    val b = c12.agg(count(lit(1)).cast("long").as("nbig"))
    c12.join(broadcast(c1), Seq("w1")).join(broadcast(c2), Seq("w2"))
      .crossJoin(broadcast(b))
      .select($"w1", $"w2", $"n12", $"nf1", $"npre2",
        expr("(1000000 * (greatest(4 * n12 - 3, 0) * nbig + 3 * nf1 * npre2)) " +
          "div (4 * n1 * nbig)").cast("long").as("pkn_ppm"))
      .orderBy($"n12".desc, $"w1", $"w2")
      .limit(50)
  }

  /** Per-word Viterbi segmentation under a unigram piece LM — the E-step
    * core of q439, exposed for the spec's independent-DP cross-check.
    * Input: a word census (w, n) and a 1-row (vmap: map piece→cost) frame.
    * Output: (w, n, pieces array, cost) — the minimum-cost segmentation,
    * ties broken by shorter final piece (the (cost, len) struct ordering).
    *
    * The DP is pure HOF algebra: a forward `aggregate` builds
    * best[0..|w|] as an array<struct<cost,len>> (each step min-reduces the
    * ≤4 candidate pieces ending at i via `array_min` on the orderable
    * struct), then a backward `aggregate` walks the stored argmin lengths
    * to emit the piece sequence. O(4·|w|) map probes per word, all inside
    * one projection over the DISTINCT-word census — the corpus itself is
    * never rescanned. */
  private[graft] def unigramViterbi(wc: org.apache.spark.sql.DataFrame,
      vmapRow: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = wc.sparkSession
    import spark.implicits._
    wc.crossJoin(broadcast(vmapRow))
      .withColumn("best", expr(
        """aggregate(sequence(1, length(w)),
          |  array(named_struct('cost', cast(0.0 as double), 'len', 0)),
          |  (acc, i) -> array_append(acc,
          |    array_min(filter(transform(sequence(1, least(i, 4)),
          |      d -> named_struct(
          |        'cost', element_at(acc, i - d + 1).cost +
          |                element_at(vmap, substr(w, i - d + 1, d)),
          |        'len', d)),
          |      c -> c.cost is not null))))""".stripMargin))
      .withColumn("pieces", expr(
        """reverse(aggregate(sequence(1, length(w)),
          |  named_struct('pos', length(w), 'out', cast(array() as array<string>)),
          |  (st, x) -> if(st.pos > 0,
          |    named_struct(
          |      'pos', st.pos - element_at(best, st.pos + 1).len,
          |      'out', array_append(st.out,
          |        substr(w, st.pos - element_at(best, st.pos + 1).len + 1,
          |               element_at(best, st.pos + 1).len))),
          |    st)).out)""".stripMargin))
      .select($"w", $"n", $"pieces",
        expr("element_at(best, length(w) + 1).cost").as("cost"))
  }

  /** UNIGRAM-LM tokenizer, one EM round (Kudo 2018 — the SentencePiece
    * model family, the BPE/WordPiece sibling the catalog was missing):
    * seed a piece vocabulary (all substrings of length ≤ 4 above a
    * frequency floor, plus every single char so any word segments), set
    * initial piece costs −ln(f/F) from occurrence counts, E-step =
    * Viterbi-segment every DISTINCT word under those costs
    * ([[unigramViterbi]] — forward/backward DP as pure `aggregate` HOFs),
    * M-step = re-estimate piece probabilities from usage weighted by word
    * frequency. Emits the top-50 re-estimated pieces; usage counts and
    * ppm probs are integer.
    *
    * STRICT since r9 (formerly rows-only): piece costs are INTEGER-
    * QUANTIZED micro-nats — floor(−ln(f/F)·2²⁰) — the q491 Gumbel fix
    * applied to the Viterbi argmin: the DP then compares exact integers
    * (carried as integer-valued doubles through [[unigramViterbi]]'s HOF
    * structs — exact below 2⁵³), so a 1-ulp libm-vs-Math.log difference
    * can flip an argmin only if the transcendental lands within 1 ulp of
    * a quantization boundary AND the race is within one micro-nat. The
    * DuckDB oracle replays the full DP: a forward recursive CTE per
    * distinct word carries best[0..i] cost and argmin-length LISTs (each
    * step = one LATERAL d ∈ 1..min(i,4) fan-out joined to the quantized
    * vocab, min over {'c','d'} structs — cost then shortest-piece, the
    * engine's (cost, len) struct order), a backward walk re-reads the
    * length list to cut pieces, and the M-step is the same integer
    * census algebra. Round9Spec still replays the DP in plain Scala for
    * optimality + concatenation identity.
    *
    * 100 TB plan: the word census is one hash-agg (Heaps-bounded); the
    * piece census explodes ≤ 4·|w| substrings per DISTINCT word; the DP
    * is a projection over the census with the vocab riding a broadcast
    * map. The corpus is scanned exactly once. */
  val q439UnigramLmRound: GraftQuery = GraftQuery.oracled(
    "q439_unigram_lm_round",
    """WITH RECURSIVE
      |tok AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS t FROM documents),
      |wc AS (SELECT t AS w, CAST(count(*) AS BIGINT) AS n FROM tok WHERE t <> '' GROUP BY t),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM wc),
      |subs AS (SELECT substr(w, i, d) AS s, CAST(sum(n) AS BIGINT) AS f
      |         FROM wc, (SELECT unnest(generate_series(1, 4)) AS d) dd,
      |              LATERAL (SELECT unnest(generate_series(1, len(w) - d + 1)) AS i)
      |         WHERE len(w) >= d
      |         GROUP BY 1),
      |vocab AS (SELECT s, f FROM subs, tot WHERE len(s) = 1 OR f >= tot // 50),
      |ft AS (SELECT CAST(sum(f) AS BIGINT) AS ftot FROM vocab),
      |vm AS (SELECT s, CAST(floor(-ln(f / ftot) * 1048576.0) AS BIGINT) AS cost
      |       FROM vocab, ft),
      |fw AS (
      |  SELECT w, n, 0 AS i, [CAST(0 AS BIGINT)] AS costs, CAST([] AS INT[]) AS lens
      |  FROM wc
      |  UNION ALL
      |  SELECT w, n, i + 1, list_append(costs, m['c']), list_append(lens, m['d'])
      |  FROM (
      |    SELECT fw.w, fw.n, fw.i, fw.costs, fw.lens,
      |           min({'c': fw.costs[fw.i - dd.d + 2] + vm.cost, 'd': CAST(dd.d AS INT)}) AS m
      |    FROM fw
      |    JOIN LATERAL (SELECT unnest(generate_series(1, least(fw.i + 1, 4))) AS d) dd ON TRUE
      |    JOIN vm ON vm.s = substr(fw.w, fw.i - dd.d + 2, dd.d)
      |    WHERE fw.i < len(fw.w)
      |    GROUP BY fw.w, fw.n, fw.i, fw.costs, fw.lens
      |  )
      |),
      |bk AS (
      |  SELECT w, n, len(w) AS pos, lens FROM fw WHERE i = len(w)
      |  UNION ALL
      |  SELECT w, n, pos - lens[pos], lens FROM bk WHERE pos > 0
      |),
      |usage AS (
      |  SELECT substr(w, pos - lens[pos] + 1, lens[pos]) AS piece,
      |         CAST(sum(n) AS BIGINT) AS usage
      |  FROM bk WHERE pos > 0 GROUP BY 1),
      |ut AS (SELECT CAST(sum(usage) AS BIGINT) AS u_tot FROM usage)
      |SELECT piece, CAST(len(piece) AS BIGINT) AS len, usage,
      |       CAST((1000000 * usage) // u_tot AS BIGINT) AS prob_ppm
      |FROM usage, ut
      |ORDER BY usage DESC, piece
      |LIMIT 50""") {
    (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select(explode(split(lower($"text"), "[^a-z]+")).as("t"))
      .filter($"t" =!= "")
    val wc = tok.groupBy($"t".as("w")).agg(count(lit(1)).cast("long").as("n"))
    val subs = wc
      .select($"w", $"n", explode(sequence(lit(1), lit(4))).as("d"))
      .filter(length($"w") >= $"d")
      .select($"n", $"d",
        explode(sequence(lit(1), length($"w") - $"d" + 1)).as("i"), $"w")
      .select($"w".substr($"i", $"d").as("s"), $"n")
      .groupBy($"s").agg(sum($"n").cast("long").as("f"))
    val tot = wc.agg(sum($"n").cast("long").as("tot"))
    // vocab: frequency floor for multi-char pieces; ALL single chars stay
    val vocab = subs.crossJoin(broadcast(tot))
      .filter(length($"s") === 1 || $"f" >= expr("tot div 50"))
      .select($"s", $"f")
    val vmapRow = vocab
      .crossJoin(broadcast(vocab.agg(sum($"f").cast("double").as("ftot"))))
      // integer micro-nat quantization (see scaladoc) carried as an
      // exact integer-valued DOUBLE so unigramViterbi's struct stays
      // double-typed for the fixture specs
      .select($"s",
        floor(-log($"f" / $"ftot") * lit(1048576.0)).cast("double").as("cost"))
      .agg(map_from_entries(sort_array(collect_list(struct($"s", $"cost"))))
        .as("vmap"))
    val seg = unigramViterbi(wc, vmapRow)
    val usage = seg.select(explode($"pieces").as("piece"), $"n")
      .groupBy($"piece").agg(sum($"n").cast("long").as("usage"))
    usage
      .crossJoin(broadcast(usage.agg(sum($"usage").cast("long").as("u_tot"))))
      .select($"piece", length($"piece").cast("long").as("len"), $"usage",
        expr("(1000000 * usage) div u_tot").cast("long").as("prob_ppm"))
      .orderBy($"usage".desc, $"piece")
      .limit(50)
  }

  /** CCNet HEAD/MIDDLE/TAIL perplexity buckets (Wenzek et al. 2020) — the
    * curation step downstream of q132's LM scoring: within each language,
    * documents are ranked by bits-per-token under the corpus unigram LM
    * and cut into terciles (head = most fluent third, the slice CCNet
    * keeps for pre-training). Bucketing is `ntile(3)` over the
    * (floor(bits·1e9), doc_id) key: flooring to integer nano-bits turns
    * any cross-engine ulp drift in the avg into a TIE that doc_id breaks
    * deterministically (the q244/q339 float-order discipline), keeping
    * the whole operator DuckDB-oracle-able.
    * Emits the per-(lang, bucket) census with byte mass, the number a
    * mixture planner consumes.
    *
    * 100 TB plan: q132's scan shape (explode → broadcast LM join →
    * per-doc agg), then one lang-partitioned window over the DOC census
    * (docs-sized, not token-sized) and a census agg. */
  val q454CcnetBuckets: GraftQuery = GraftQuery.oracled(
    "q454_ccnet_buckets",
    """WITH toks AS (SELECT doc_id, lang, n_chars, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
      |scored AS (SELECT t.doc_id, t.lang, t.n_chars,
      |                  avg(-log2(lm.c / CAST(tot.n AS DOUBLE))) AS bits
      |           FROM toks t JOIN lm USING (tok) CROSS JOIN tot
      |           GROUP BY t.doc_id, t.lang, t.n_chars),
      |bucketed AS (SELECT lang, n_chars,
      |                    ntile(3) OVER (PARTITION BY lang
      |                      ORDER BY CAST(floor(bits * 1000000000) AS BIGINT), doc_id) AS b
      |             FROM scored)
      |SELECT lang,
      |       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM bucketed GROUP BY lang, b ORDER BY lang, bucket""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars", explode(split($"text", " ")).as("tok"))
    val lm = toks.groupBy($"tok").agg(count(lit(1)).cast("long").as("c"))
    val tot = toks.agg(count(lit(1)).cast("long").as("n"))
    val scored = toks
      .join(broadcast(lm), Seq("tok"))
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id", $"lang", $"n_chars")
      .agg(avg(-log2($"c" / $"n".cast("double"))).as("bits"))
    scored
      .withColumn("b",
        ntile(3).over(Window.partitionBy($"lang")
          .orderBy(floor($"bits" * 1000000000L).cast("long"), $"doc_id")))
      .groupBy($"lang",
        when($"b" === 1, "head").when($"b" === 2, "middle").otherwise("tail")
          .as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($"n_chars").cast("long").as("n_chars"))
      .orderBy($"lang", $"bucket")
  }

  val q430WordpieceGreedy: GraftQuery = GraftQuery.oracled(
    "q430_wordpiece_greedy",
    """WITH RECURSIVE
      |tok AS (
      |  SELECT source, l[i] AS t
      |  FROM (SELECT source, string_split_regex(lower(text), '[^a-z]+') AS l
      |        FROM documents),
      |       UNNEST(generate_series(1, len(l))) AS g(i)
      |  WHERE l[i] <> ''),
      |wc AS (SELECT t AS w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM wc),
      |subs AS (
      |  SELECT substr(w, i, d) AS s, CAST(sum(n) AS BIGINT) AS f
      |  FROM wc,
      |       UNNEST(generate_series(1, 4)) AS dd(d),
      |       UNNEST(generate_series(1, length(w) - d + 1)) AS ii(i)
      |  WHERE length(w) >= d
      |  GROUP BY 1),
      |vocab AS (SELECT s FROM subs, tot WHERE f >= tot // 50),
      |seg AS (
      |  SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS ntok FROM wc
      |  UNION ALL
      |  SELECT s.w,
      |         s.pos + CASE WHEN v4.s IS NOT NULL THEN 4
      |                      WHEN v3.s IS NOT NULL THEN 3
      |                      WHEN v2.s IS NOT NULL THEN 2 ELSE 1 END,
      |         s.ntok + 1
      |  FROM seg s
      |  LEFT JOIN (SELECT s FROM vocab WHERE length(s) = 4) v4
      |    ON v4.s = substr(s.w, s.pos + 1, 4)
      |  LEFT JOIN (SELECT s FROM vocab WHERE length(s) = 3) v3
      |    ON v3.s = substr(s.w, s.pos + 1, 3)
      |  LEFT JOIN (SELECT s FROM vocab WHERE length(s) = 2) v2
      |    ON v2.s = substr(s.w, s.pos + 1, 2)
      |  WHERE s.pos < length(s.w)),
      |fin AS (SELECT w, ntok FROM seg WHERE pos = length(w)),
      |sw AS (SELECT source, t AS w, CAST(count(*) AS BIGINT) AS n
      |       FROM tok GROUP BY 1, 2)
      |SELECT source,
      |       CAST(sum(sw.n) AS BIGINT) AS n_word_occ,
      |       CAST(sum(sw.n * fin.ntok) AS BIGINT) AS n_wp_tokens,
      |       CAST(1000000 * sum(sw.n * fin.ntok) // sum(sw.n) AS BIGINT) AS fertility_ppm,
      |       CAST(max(fin.ntok) AS BIGINT) AS max_tokens_word
      |FROM sw JOIN fin USING (w)
      |GROUP BY source
      |ORDER BY source""") { (spark, dir) =>
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), "[^a-z]+")).as("t"))
      .filter($"t" =!= "")
    val wc = tok.groupBy($"t".as("w")).agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint()
    val tot = wc.agg(sum($"n").cast("long").as("tot"))
    val subs = wc
      .select($"w", $"n", explode(sequence(lit(1), lit(4))).as("d"))
      .filter(length($"w") >= $"d")
      .select($"w", $"n", $"d",
        explode(sequence(lit(1), length($"w") - $"d" + 1)).as("i"))
      .groupBy($"w".substr($"i", $"d").as("s"))
      .agg(sum($"n").cast("long").as("f"))
    val vocab = subs.crossJoin(broadcast(tot))
      .filter($"f" >= expr("tot div 50")).select($"s").localCheckpoint()
    def vocabLen(d: Int) = broadcast(
      vocab.filter(length($"s") === d).withColumnRenamed("s", s"s$d"))
    val (v4, v3, v2) = (vocabLen(4), vocabLen(3), vocabLen(2))
    val maxLen = wc.agg(max(length($"w"))).collect()(0).getInt(0)
    var seg = wc.select($"w", lit(0L).as("pos"), lit(0L).as("ntok"))
    for (_ <- 1 to maxLen) {
      val stepped = seg.filter($"pos" < length($"w"))
        .join(v4, $"s4" === $"w".substr(($"pos" + 1).cast("int"), lit(4)), "left")
        .join(v3, $"s3" === $"w".substr(($"pos" + 1).cast("int"), lit(3)), "left")
        .join(v2, $"s2" === $"w".substr(($"pos" + 1).cast("int"), lit(2)), "left")
        .select($"w",
          ($"pos" + when($"s4".isNotNull, 4).when($"s3".isNotNull, 3)
            .when($"s2".isNotNull, 2).otherwise(1)).as("pos"),
          ($"ntok" + 1).as("ntok"))
      seg = seg.filter($"pos" === length($"w")).unionAll(stepped)
        .localCheckpoint()
    }
    val fin = seg.filter($"pos" === length($"w")).select($"w", $"ntok")
    tok.groupBy($"source", $"t".as("w"))
      .agg(count(lit(1)).cast("long").as("n"))
      .join(broadcast(fin), "w")
      .groupBy($"source")
      .agg(sum($"n").cast("long").as("n_word_occ"),
        sum($"n" * $"ntok").cast("long").as("n_wp_tokens"),
        expr("(1000000 * sum(n * ntok)) div sum(n)").cast("long")
          .as("fertility_ppm"),
        max($"ntok").cast("long").as("max_tokens_word"))
      .orderBy($"source")
  }
}
