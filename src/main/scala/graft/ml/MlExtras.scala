package graft.ml

import org.apache.spark.ml.classification.{FMClassifier, LinearSVC, MultilayerPerceptronClassifier, NaiveBayes, OneVsRest}
import org.apache.spark.ml.feature.{CountVectorizer, HashingTF, PCA, StandardScaler, StopWordsRemover, StringIndexer, Tokenizer}
import org.apache.spark.ml.Pipeline
import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.operators.RelationalCore.stat
import graft.sources.Tables

/** SURVEY.md §2.9 — the remaining classifier families (NaiveBayes on
  * non-negative TF counts, OneVsRest over LinearSVC) and feature stages
  * (StopWordsRemover, CountVectorizer, StandardScaler, PCA). All seeded /
  * structurally deterministic; fits stay rows-only (MlSpec + the catalog
  * determinism suite gate them). */
object MlExtras {

  /** Multinomial NaiveBayes over HashingTF token counts (non-negative
    * features — NB's requirement) predicting `documents.lang`. */
  val q73NbText: GraftQuery = GraftQuery.rowsOnly(
    "q73_nb_text_confusion",
    doc = "Tokenizer+HashingTF(2^14)+NaiveBayes(multinomial) on documents.lang; test confusion matrix") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text", $"lang")
    val Array(train, test) = docs.randomSplit(Array(0.8, 0.2), seed = Classification.Seed)
    val pipeline = new Pipeline().setStages(Array(
      new StringIndexer().setInputCol("lang").setOutputCol("label")
        .setStringOrderType("alphabetAsc").setHandleInvalid("skip"),
      new Tokenizer().setInputCol("text").setOutputCol("words"),
      new HashingTF().setInputCol("words").setOutputCol("features").setNumFeatures(1 << 14),
      new NaiveBayes().setModelType("multinomial")))
    pipeline.fit(train).transform(test)
      .groupBy($"label", $"prediction")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"prediction")
  }

  /** OneVsRest reduction of binary LinearSVC to the 10-class embedding
    * task — 10 seeded SVM fits (driver loop of E1 jobs, lifecycle E3). */
  val q74OvrLinearSvc: GraftQuery = GraftQuery.rowsOnly(
    "q74_ovr_linearsvc_confusion",
    doc = "OneVsRest(LinearSVC(maxIter=10)) on embeddings 10-class; test confusion matrix") { (spark, dir) =>
    import spark.implicits._
    val (train, test) = Classification.embeddingTrainTest(spark, dir) // memoized seeded split
    val ovr = new OneVsRest()
      .setClassifier(new LinearSVC().setMaxIter(10).setRegParam(0.1))
      .setParallelism(8) // fit the 10 one-vs-rest SVMs concurrently (driver-side E3 loop)
    ovr.fit(train).transform(test)
      .groupBy($"label", $"prediction")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"prediction")
  }

  /** StopWordsRemover + CountVectorizer, PRINT-BOTH STRICT since r9 (the
    * q29 pattern, formerly a rows-only vocabulary dump): the exact
    * per-term census over the stop-filtered tokens — document frequency
    * and total occurrences, both strict-oracle'd against DuckDB replaying
    * the SAME English stop list (MLlib's public default list, inlined into
    * the generated SQL) — next to `vocab_matches`, the fitted-model
    * CONTRACT pinned TRUE: the term is in `model.vocabulary` AND the
    * vocabulary size equals the census size (⊆ plus equal cardinality ⇒
    * set equality). A CountVectorizer regression now hash-mismatches at
    * the DRIVER, not just in ScalaTest.
    *
    * 100 TB plan: the census is one explode + hash-agg (map-side
    * combined); the fit itself aggregates the same census internally.
    * The vocabulary-contract join broadcasts the model's vocab — the one
    * driver-resident structure, exactly what CountVectorizerModel holds
    * anyway. */
  val q75StopwordsCountvec: GraftQuery = GraftQuery.oracled(
    "q75_stopwords_countvec", {
      val stops = StopWordsRemover.loadDefaultStopWords("english")
        .map(w => "'" + w.replace("'", "''") + "'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |kept AS (SELECT doc_id, w FROM tok
         |         WHERE w <> '' AND lower(w) NOT IN ($stops))
         |SELECT w AS term,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_occurrences,
         |       CAST(1 AS BOOLEAN) AS vocab_matches
         |FROM kept GROUP BY w ORDER BY term""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("words"))
    val removed = new StopWordsRemover()
      .setInputCol("words").setOutputCol("kept0")
      .transform(toks)
      .withColumn("kept", filter($"kept0", x => x =!= ""))
    val model = new CountVectorizer()
      .setInputCol("kept").setOutputCol("tf").setVocabSize(100000).setMinDF(1)
      .fit(removed)
    val census = removed.select($"doc_id", explode($"kept").as("term"))
      .groupBy($"term")
      .agg(countDistinct($"doc_id").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_occurrences"))
    val vocab = model.vocabulary.toSeq.toDF("term").withColumn("in_vocab", lit(1))
    val nTerms = census.agg(count(lit(1)).cast("long").as("n_terms"))
    census.join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(broadcast(nTerms))
      .select($"term", $"n_docs", $"n_occurrences",
        ($"in_vocab".isNotNull &&
          $"n_terms" === lit(model.vocabulary.length.toLong)).as("vocab_matches"))
      .orderBy($"term")
  }

  /** StandardScaler + PCA(k=3): the spectral projection of the embedding
    * cloud (deterministic for fixed data/code; catalog suite runs it twice). */
  val q76PcaProjection: GraftQuery = GraftQuery.rowsOnly(
    "q76_pca_projection",
    doc = "StandardScaler(withMean) + PCA(k=3) over embeddings; first 3 components per vec_id") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.ml.functions.vector_to_array
    val data = Classification.embeddingFeatures(spark, dir)
    val scaler = new StandardScaler()
      .setInputCol("features").setOutputCol("scaled")
      .setWithMean(true).setWithStd(true)
    val scaled = scaler.fit(data).transform(data)
    val pca = new PCA().setInputCol("scaled").setOutputCol("pc").setK(3)
    pca.fit(scaled).transform(scaled)
      .select($"vec_id",
        stat(element_at(vector_to_array($"pc"), 1)).as("pc1"),
        stat(element_at(vector_to_array($"pc"), 2)).as("pc2"),
        stat(element_at(vector_to_array($"pc"), 3)).as("pc3"))
      .orderBy($"vec_id")
  }

  /** Multilayer perceptron (64 → 32 → 10) on the embedding task — the
    * neural-family classifier of the §2.9 inventory. */
  val q93Mlp: GraftQuery = GraftQuery.rowsOnly(
    "q93_mlp_confusion",
    doc = "MultilayerPerceptronClassifier(layers=[64,32,10], maxIter=30, seed=42); test confusion matrix") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (train, test) = Classification.embeddingTrainTest(spark, dir) // memoized seeded split
    val mlp = new MultilayerPerceptronClassifier()
      .setLayers(Array(64, 32, 10)).setMaxIter(30).setSeed(Classification.Seed)
    mlp.fit(train).transform(test)
      .groupBy($"label", $"prediction")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"prediction")
  }

  /** Factorization-machine classifier on the binarized task (binary-only,
    * like GBT) — the last §2.9 classifier family. */
  val q94Fm: GraftQuery = GraftQuery.rowsOnly(
    "q94_fm_confusion",
    doc = "FMClassifier(factorSize=4, maxIter=20, seed=42) on label>=5; test confusion matrix") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (train, test) = Classification.binaryTrainTest(spark, dir) // memoized split, label>=5 applied post-split
    val fm = new FMClassifier()
      .setFactorSize(4).setMaxIter(20).setSeed(Classification.Seed)
    fm.fit(train).transform(test)
      .groupBy($"label", $"prediction")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"prediction")
  }

  /** Word2Vec (§2.9's last un-cataloged stage): skip-gram embeddings of the
    * documents vocabulary, surfaced as a top-synonyms table — for each of the
    * 10 most frequent in-vocab terms, the 3 nearest vocabulary neighbors by
    * cosine over the learned vectors. Deterministic for fixed data:
    * seed=42 + numPartitions=1 pins the training schedule (the catalog
    * determinism spec fits it twice). The neighbor search is distributed:
    * probe vectors broadcast (10 rows), the vocabulary vectors (already
    * driver-resident in the model) enter as a local relation on the
    * caller's session, cosine runs on the codegen'd graft_dot kernel,
    * top-3 via a per-probe rank window. */
  val q106Word2vecSynonyms: GraftQuery = GraftQuery.rowsOnly(
    "q106_word2vec_synonyms",
    doc = "Word2Vec(dim=32, seed=42, numPartitions=1) over documents tokens; top-3 cosine neighbors of the 10 most frequent terms") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.ml.feature.Word2Vec
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.VectorExpressions.graftDot _
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", split(lower($"text"), " ").as("tokens"))
    val model = new Word2Vec()
      .setInputCol("tokens").setOutputCol("vec")
      .setVectorSize(32).setMinCount(5).setMaxIter(1)
      .setSeed(42).setNumPartitions(1)
      .fit(toks)
    // getVectors builds its frame on the default session: rebind its
    // driver-side rows to this session, so the caller's session conf
    // analyzes and plans every frame of the query
    val vectors = model.getVectors
    val vecs = spark.createDataFrame(vectors.collectAsList(), vectors.schema)
      .select($"word", vector_to_array($"vector").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
    val topTerms = toks.select(explode($"tokens").as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .join(vecs.select($"word"), Seq("word"), "left_semi")
      .orderBy(desc("n"), $"word").limit(10)
    val probes = broadcast(topTerms.join(vecs, Seq("word"))
      .select($"word".as("term"), $"v".as("pv"), $"nrm".as("pn")))
    val cos = dot($"v", $"pv") / ($"nrm" * $"pn")
    val ranked = vecs.join(probes, $"word" =!= $"term")
      .withColumn("cosine", cos)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"term").orderBy(desc("cosine"), $"word")))
      .filter($"rk" <= 3)
    ranked.select($"term", $"word".as("synonym"), $"rk".as("rank"), stat($"cosine").as("cosine"))
      .orderBy($"term", $"rk")
  }

  /** `ml.regression.LinearRegression` with the NORMAL-EQUATIONS solver and
    * zero regularization — which is exact OLS, so the fitted (slope,
    * intercept, R²) are ORACLE-able against DuckDB's `regr_*` aggregates
    * (the only ML fit in the catalog with a SQL oracle; every other fit is
    * spec-gated). Same (x, y) pair as q225, closing the loop: the ML
    * estimator and the SQL aggregate family must agree to 4 dp.
    *
    * Scale note: solver="normal" aggregates the 2×2 Gram matrix
    * distributed (one pass, map-side combine) and solves on the driver —
    * O(d²) state, no iteration; exactly how a 100 TB single-feature OLS
    * should run. */
  val q234LinregExact: GraftQuery = GraftQuery.oracled(
    "q234_linreg_exact",
    """SELECT round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
      |       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |       round(regr_r2(l_extendedprice, l_quantity), 4)        AS r2
      |FROM lineitem""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.LinearRegression
    val data = new VectorAssembler()
      .setInputCols(Array("l_quantity")).setOutputCol("features")
      .transform(Tables.lineitem(spark, dir).select($"l_quantity", $"l_extendedprice"))
    val model = new LinearRegression()
      .setSolver("normal").setRegParam(0.0)
      .setFeaturesCol("features").setLabelCol("l_extendedprice")
      .fit(data)
    Seq((model.coefficients(0), model.intercept, model.summary.r2))
      .toDF("slope", "intercept", "r2")
      .select(stat($"slope").as("slope"), stat($"intercept").as("intercept"),
        stat($"r2").as("r2"))
  }

  /** GaussianMixture soft clustering on the embeddings (k=8, seeded) —
    * cluster census with mixture weights, labels canonicalized by min
    * member id (q117's rule). rows-only: EM is float-iterative; MlSpec
    * gates the probability laws (weights sum to 1, every row's
    * responsibilities sum to 1) and seeded determinism. */
  val q235GmmClusters: GraftQuery = GraftQuery.rowsOnly(
    "q235_gmm_clusters",
    doc = "GaussianMixture(k=8, seed=42) on embeddings: census (cluster_key, n_members, weight)") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", array_to_vector($"embedding").as("features"))
    val model = new org.apache.spark.ml.clustering.GaussianMixture()
      .setK(8).setSeed(42).setMaxIter(20).setFeaturesCol("features")
      .setPredictionCol("cell")
      .fit(vecs)
    val weights = model.weights.zipWithIndex
      .map { case (w, i) => (i, w) }.toSeq.toDF("cell", "weight")
    model.transform(vecs)
      .groupBy($"cell")
      .agg(min($"vec_id").as("cluster_key"), count(lit(1)).as("n_members"))
      .join(broadcast(weights), Seq("cell"))
      .select($"cluster_key", $"n_members", stat($"weight").as("weight"))
      .orderBy($"cluster_key")
  }

  /** Isotonic-family regression (PAVA) of price on quantity, fitted
    * ANTITONIC (non-increasing) — the corpus's price-quantity relationship
    * is negative (q225's slope < 0), so the decreasing shape constraint is
    * the honest one (calibration curves, dose-response). Output is the
    * fitted step function evaluated on the quantity census. MlSpec proves
    * the two defining laws: predictions are monotone non-increasing, and
    * MSE ≤ the OLS line's MSE (the negative-slope line is itself a
    * non-increasing candidate, so the PAVA optimum must dominate it).
    *
    * STRICT since r8 (formerly rows-only): the antitonic L2 fit is a
    * UNIQUE convex projection — PAVA is just one algorithm that reaches it
    * — and on a bounded feature census it has a closed relational form:
    * ŷ(xᵢ) = min_{j≤i} max_{k≥i} mean(y over [j..k]) (the antitonic
    * minimax theorem; Robertson–Wright–Dykstra 1988 §1.4). The label is
    * INTEGER CENTS, so every range mean is one division of exact BIGINT
    * prefix sums — both engines derive bit-identical means — and the
    * output is rounded to 4 decimals, orders of magnitude above MLlib's
    * merge-order ulp noise. The oracle materializes all O(|census|²)
    * ranges (≤ 50 quantity levels → ≤ 1275 ranges) with a per-j running
    * max and a per-i min.
    *
    * Scale note: Spark's PAVA runs per-partition then merges adjacent
    * violators on the sorted boundaries — one range-partitioned sort, no
    * driver materialization; the census evaluation is a broadcast-size
    * transform. */
  val q236Isotonic: GraftQuery = GraftQuery.oracled(
    "q236_isotonic",
    """WITH cen AS (SELECT CAST(l_quantity AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS w,
      |                    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
      |             FROM lineitem GROUP BY 1),
      |ord AS (SELECT x, w, s, row_number() OVER (ORDER BY x) AS i,
      |               CAST(sum(w) OVER (ORDER BY x) AS BIGINT) AS cw,
      |               CAST(sum(s) OVER (ORDER BY x) AS BIGINT) AS cs
      |        FROM cen),
      |rng AS (SELECT a.i AS j, b.i AS k,
      |               CAST(b.cs - a.cs + a.s AS DOUBLE) / CAST(b.cw - a.cw + a.w AS DOUBLE) AS m
      |        FROM ord a JOIN ord b ON a.i <= b.i),
      |mx AS (SELECT j, k AS i,
      |              max(m) OVER (PARTITION BY j ORDER BY k DESC
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mxk
      |       FROM rng),
      |fit AS (SELECT i, min(mxk) AS yhat FROM mx GROUP BY i)
      |SELECT ord.x, round(fit.yhat, 4) AS yhat_cents
      |FROM ord JOIN fit ON ord.i = fit.i
      |ORDER BY ord.x""") { (spark, dir) =>
    import spark.implicits._
    val data = Tables.lineitem(spark, dir)
      .select($"l_quantity".as("x"),
        floor($"l_extendedprice" * 100 + 0.5).cast("double").as("label"))
    val model = new org.apache.spark.ml.regression.IsotonicRegression()
      .setFeaturesCol("x").setLabelCol("label").setIsotonic(false)
      .fit(data)
    val census = data.groupBy($"x").agg(count(lit(1)).as("w")).select($"x")
    model.transform(census)
      .select($"x".cast("long").as("x"), round($"prediction", 4).as("yhat_cents"))
      .orderBy($"x")
  }

  /** AFT (accelerated failure time) survival regression — the
    * right-censored lifetime model (Weibull). Durations and censor flags
    * are SYNTHESIZED deterministically from orders (duration from
    * totalprice, censoring by the md5 coin), so the fit is reproducible.
    * rows-only; MlSpec gates coefficient finiteness, positive predicted
    * lifetimes, and quantile monotonicity. */
  val q237AftSurvival: GraftQuery = GraftQuery.rowsOnly(
    "q237_aft_survival",
    doc = "AFTSurvivalRegression on md5-censored order lifetimes: (feature, coefficient) + intercept/scale rows") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.ml.feature.VectorAssembler
    val base = Tables.orders(spark, dir).select(
      ($"o_totalprice" / 1000.0 + 1.0).as("duration"),
      when(conv(substring(md5($"o_orderkey".cast("string")), 1, 8), 16, 10)
        .cast("long") % 4 === 0, 0.0).otherwise(1.0).as("censor"),
      when($"o_orderpriority" < "3", 1.0).otherwise(0.0).as("urgent"),
      length($"o_orderpriority").cast("double").as("prio_len"))
    val data = new VectorAssembler()
      .setInputCols(Array("urgent", "prio_len")).setOutputCol("features")
      .transform(base)
    val model = new org.apache.spark.ml.regression.AFTSurvivalRegression()
      .setFeaturesCol("features").setLabelCol("duration").setCensorCol("censor")
      .fit(data)
    (model.coefficients.toArray.zipWithIndex
      .map { case (c, i) => (s"coef_$i", c) }.toSeq
      ++ Seq(("intercept", model.intercept), ("log_scale", math.log(model.scale))))
      .toDF("param", "value")
      .select($"param", stat($"value").as("value"))
      .orderBy($"param")
  }

  def all: Seq[GraftQuery] = Seq(
    q73NbText, q74OvrLinearSvc, q75StopwordsCountvec, q76PcaProjection,
    q93Mlp, q94Fm, q106Word2vecSynonyms, q234LinregExact, q235GmmClusters,
    q236Isotonic, q237AftSurvival)
}
