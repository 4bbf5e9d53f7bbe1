package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{DecisionTreeClassifier, GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.feature.{HashingTF, IDF, IndexToString, StringIndexer, Tokenizer}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.sources.Tables

/** SURVEY.md §2.9 — the reference category's own capability core: the
  * canonical `spark.ml` supervised-classification workflow (ingest →
  * features → split → fit → evaluate), re-expressed over the driver corpus.
  *
  * Everything is seeded (SURVEY.md §5.5, seed=42) so fits are reproducible;
  * ML fits stay OUT of `oracleSql` (DuckDB cannot replicate an optimizer
  * trajectory) — confusion matrices are emitted as plain relational results,
  * and metric gates live in ScalaTest (MlSpec).
  *
  * Scale notes: `Pipeline.fit` is a driver-side loop of distributed jobs
  * (lifecycle E3, SURVEY.md §3) — LR's L-BFGS does one `treeAggregate` over
  * the feature RDD per iteration; the 64-dim dense vectors here keep the
  * aggregated gradient tiny (O(dim) per partition), so the pattern holds
  * unchanged at 1000 executors. `HashingTF` is stateless (no vocab shuffle);
  * `IDF`/`StringIndexer` each take one aggregate pass. */
object Classification {

  val Seed = 42L

  /** embeddings → (features: ml.Vector, label: double) — the array→vector
    * boundary conversion (SURVEY.md §1.1). */
  def embeddingFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id",
        array_to_vector($"embedding").as("features"),
        $"label".cast("double").as("label"))
  }

  private def trainTest(df: DataFrame): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(0.8, 0.2), seed = Seed)
    (train, test)
  }

  /** Per-(session, dir) memo "mlSplit" of the SEEDED 80/20 split of
    * [[embeddingFeatures]] — seven entries (q57/q59/q60/q74/q93/q94/q121)
    * each re-read the parquet, re-sorted every partition (randomSplit's
    * determinism sort) and re-sampled the identical split per fit; both
    * halves are localCheckpoint'ed once and every fit reads materialized
    * blocks (guide §1.2 step 1).
    *
    * The binarized entries (q60/q94) derive `label >= 5` AFTER the split
    * instead of before — membership is UNCHANGED because randomSplit sorts
    * each partition by the output columns with the unique `vec_id` leading
    * in both variants, then samples by position with the same seed; the
    * r11 preflight diffed all seven confusion matrices against the
    * pre-memo outputs at sf0.01 and sf0.1 (byte-identical). */
  private[ml] def embeddingTrainTest(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.engine.Memos.memo(spark, dir, "mlSplit") {
      val (train, test) = trainTest(embeddingFeatures(spark, dir))
      (graft.engine.Memos.checkpoint(train), graft.engine.Memos.checkpoint(test))
    }

  /** [[embeddingTrainTest]] with the label binarized at `label >= 5` —
    * the q60/q94 task, derived from the shared split (see memo scaladoc). */
  private[ml] def binaryTrainTest(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (train, test) = embeddingTrainTest(spark, dir)
    def bin(df: DataFrame) = df.withColumn("label", ($"label" >= 5).cast("double"))
    (bin(train), bin(test))
  }

  private def confusion(predictions: DataFrame): DataFrame = {
    import predictions.sparkSession.implicits._
    predictions
      .groupBy($"label", $"prediction")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"prediction")
  }

  /** 10-class logistic regression on the 64-dim embeddings; output = test
    * confusion matrix (a relational result — rows-only check here, accuracy
    * gate in MlSpec). */
  val q57LrEmbeddings: GraftQuery = GraftQuery.rowsOnly(
    "q57_lr_embeddings_confusion",
    doc = "LogisticRegression(maxIter=50, seed-split 80/20) on embeddings.label; test confusion matrix") { (spark, dir) =>
    val (train, test) = embeddingTrainTest(spark, dir)
    val lr = new LogisticRegression().setMaxIter(50).setRegParam(0.01)
    val model = lr.fit(train)
    confusion(model.transform(test))
  }

  /** Text classification pipeline (Tokenizer → HashingTF → IDF → LR) for
    * `documents.lang`, labels round-tripped via StringIndexer/IndexToString.
    * The synthetic corpus's lang label is ~independent of its text, so
    * accuracy ≈ majority-class — the pipeline mechanics, not the score, are
    * the capability under test. */
  val q58TextPipeline: GraftQuery = GraftQuery.rowsOnly(
    "q58_text_pipeline_confusion",
    doc = "StringIndexer+Tokenizer+HashingTF(2^14)+IDF+LR on documents.lang; test confusion matrix") { (spark, dir) =>
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text", $"lang")
    val (train, test) = trainTest(docs)
    val indexer = new StringIndexer().setInputCol("lang").setOutputCol("label")
      .setStringOrderType("alphabetAsc").setHandleInvalid("skip")
    val pipeline = new Pipeline().setStages(Array(
      indexer,
      new Tokenizer().setInputCol("text").setOutputCol("words"),
      new HashingTF().setInputCol("words").setOutputCol("tf").setNumFeatures(1 << 14),
      new IDF().setInputCol("tf").setOutputCol("features"),
      new LogisticRegression().setMaxIter(30).setRegParam(0.01)))
    val model = pipeline.fit(train)
    val indexerModel = model.stages(0).asInstanceOf[org.apache.spark.ml.feature.StringIndexerModel]
    val back = new IndexToString().setInputCol("prediction").setOutputCol("predicted_lang")
      .setLabels(indexerModel.labelsArray(0))
    back.transform(model.transform(test))
      .groupBy($"lang", $"predicted_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted_lang")
  }

  /** Random forest (tree family) on the same task. */
  val q59RfEmbeddings: GraftQuery = GraftQuery.rowsOnly(
    "q59_rf_embeddings_confusion",
    doc = "RandomForestClassifier(20 trees, depth 5, seed=42); test confusion matrix") { (spark, dir) =>
    val (train, test) = embeddingTrainTest(spark, dir)
    val rf = new RandomForestClassifier()
      .setNumTrees(20).setMaxDepth(5).setSeed(Seed)
    confusion(rf.fit(train).transform(test))
  }

  /** Gradient-boosted trees (boosted family) on the binarized task
    * (label ≥ 5) — GBTClassifier is binary-only. */
  val q60GbtBinary: GraftQuery = GraftQuery.rowsOnly(
    "q60_gbt_binary_confusion",
    doc = "GBTClassifier(maxIter=20, seed=42) on label>=5; test confusion matrix") { (spark, dir) =>
    val (train, test) = binaryTrainTest(spark, dir)
    val gbt = new GBTClassifier().setMaxIter(20).setMaxDepth(4).setSeed(Seed)
    confusion(gbt.fit(train).transform(test))
  }

  /** Single decision tree (the §2.9 classifier family q59's forest
    * generalizes — cataloged in its own right: the interpretable baseline a
    * notebook fits first). Deterministic given the seed-split. */
  val q121DtEmbeddings: GraftQuery = GraftQuery.rowsOnly(
    "q121_dt_confusion",
    doc = "DecisionTreeClassifier(depth 5, seed=42) on embeddings.label; test confusion matrix") { (spark, dir) =>
    val (train, test) = embeddingTrainTest(spark, dir)
    val dt = new DecisionTreeClassifier().setMaxDepth(5).setSeed(Seed)
    confusion(dt.fit(train).transform(test))
  }

  /** Compile a fitted decision tree into a pure Catalyst `when`-chain over
    * plain columns — every ContinuousSplit becomes `f_i <= θ` (MLlib's
    * left-branch rule), every leaf a literal. The result scores with
    * whole-stage codegen, predicate pushdown, and ZERO MLlib/vector
    * dependency at serve time. */
  private[ml] def compileTree(
      node: org.apache.spark.ml.tree.Node,
      feat: Int => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    node match {
      case l: org.apache.spark.ml.tree.LeafNode => lit(l.prediction)
      case n: org.apache.spark.ml.tree.InternalNode => n.split match {
        case s: org.apache.spark.ml.tree.ContinuousSplit =>
          when(feat(s.featureIndex) <= s.threshold, compileTree(n.leftChild, feat))
            .otherwise(compileTree(n.rightChild, feat))
        case other =>
          throw new IllegalStateException(
            s"dense continuous features cannot produce $other")
      }
    }

  /** MODEL-TO-SQL COMPILATION — the production scoring-pushdown pattern:
    * fit q121's decision tree once, then EXTRACT the tree into relational
    * predicates and score the corpus without MLlib in the loop. Batch
    * scoring becomes a plain projection any SQL engine (or this engine's
    * own codegen) executes — no vector UDT, no model broadcast, no
    * serving service. TreeCompileSpec asserts the compiled chain
    * reproduces `model.transform` EXACTLY on every row.
    *
    * 100 TB plan: the fit is q121's E3 lifecycle on a sample; scoring —
    * the part that actually touches 100 TB — is a codegen'd `when` chain
    * inside whole-stage codegen, pruned to the ≤31 dims the tree
    * references instead of dragging all 64 through a black-box UDF. */
  val q338TreeCompile: GraftQuery = GraftQuery.rowsOnly(
    "q338_tree_compile",
    doc = "decision tree compiled to a codegen'd when-chain; per-class scored census") { (spark, dir) =>
    import spark.implicits._
    val data = embeddingFeatures(spark, dir)
    val model = new DecisionTreeClassifier().setMaxDepth(5).setSeed(Seed).fit(data)
    val scored = Tables.embeddings(spark, dir)
      .withColumn("sql_prediction",
        compileTree(model.rootNode, i => element_at($"embedding", i + 1).cast("double")))
    scored.groupBy($"sql_prediction")
      .agg(count(lit(1)).as("n"),
        countDistinct($"label").as("n_true_labels"))
      .orderBy($"sql_prediction")
  }

  def all: Seq[GraftQuery] = Seq(
    q57LrEmbeddings, q58TextPipeline, q59RfEmbeddings, q60GbtBinary,
    q121DtEmbeddings, q338TreeCompile)
}
