package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import graft.engine.GraftQuery
import graft.operators.RelationalCore.stat
import graft.sources.Tables

/** SURVEY.md §2.10 — similarity search over the `embeddings` table
  * (`Array[Float]`, dim 64).
  *
  * Kernels are higher-order functions (`zip_with`/`aggregate`), codegen'd by
  * Catalyst — no UDF deserialization per row. Floats are cast to double
  * BEFORE multiplication, and the fold is left-to-right, exactly matching
  * the oracle's `list_sum(list_transform(...))` per-index formulation
  * (DuckDB's builtin `list_cosine_similarity` computes in float32 and is NOT
  * used as the oracle — it diverges at 1e-8).
  *
  * Scale story: brute-force top-k broadcasts the (small) query set against a
  * partitioned candidate scan — O(|C|·|Q|) work but embarrassingly parallel,
  * no shuffle until the final per-query top-k. The LSH variant buckets
  * candidates so each query only meets its bucket — the sub-quadratic path;
  * an IVF layout (cluster-id partition key from a KMeans fit) is the same
  * plumbing with a learned bucketer. */
object Similarity {

  /** Left-to-right double dot product of two float arrays — HOF reference
    * formulation (kept for the bit-equality cross-check in LlmOpsSpec; the
    * hot path uses the codegen'd [[graft.functions.DotProductDouble]]). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot product (same arithmetic, no per-pair allocation). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.graftDot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  private def normed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", l2norm($"embedding").as("nrm"))
  }

  /** Per-(session, dir, k) memo "corpusKmeans-k" of the seed-42 corpus
    * KMeans model, for the ANN family's coarse quantizers: q98's IVF,
    * q221's IVF stage, q231's SemDeDup cells, q117/q122's k=10
    * profile/sampler and q262's k ∈ {2,4,8,16} sweep each
    * re-ran an identical seeded fit per invocation (the fit is the entry's
    * dominant cost — ~1-2 s of driver-looped treeAggregate rounds at
    * sf0.1). Same data, same params, same seed ⇒ the SAME model; fitting it
    * once per (session, dir, k) changes no result. maxIter pinned to the
    * MLlib default (20) so every former call site trains identically. */
  private[llm] def corpusKmeans(spark: SparkSession, dir: String,
      k: Int): org.apache.spark.ml.clustering.KMeansModel =
    graft.engine.Memos.memo(spark, dir, s"corpusKmeans-$k") {
      import spark.implicits._
      val vecs = normed(spark, dir)
        .withColumn("features", array_to_vector($"embedding"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setSeed(42).setMaxIter(20)
        .setFeaturesCol("features").setPredictionCol("cell")
        .fit(vecs)
    }

  /** Brute-force cosine top-5 neighbors for the query set (vec_id < 10):
    * the exact baseline every ANN variant is measured against. */
  val q48KnnBruteForce: GraftQuery = GraftQuery.oracled(
    "q48_knn_brute_force",
    """WITH n AS (SELECT vec_id, embedding,
      |       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      |       FROM embeddings),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |       list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
      |      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |      WHERE q.vec_id < 10),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM p)
      |SELECT query_id, neighbor_id, rnk, round(cos, 4) AS cosine
      |FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val n = normed(spark, dir)
    val q = n.toDF("query_id", "q_emb", "q_nrm")
    val c = n.toDF("neighbor_id", "c_emb", "c_nrm")
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    c.crossJoin(broadcast(q.filter($"query_id" < 10)))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("cos", dot($"q_emb", $"c_emb") / ($"q_nrm" * $"c_nrm"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"query_id", $"neighbor_id", $"rnk", stat($"cos").as("cosine"))
      .orderBy($"query_id", $"rnk")
  }

  /** LSH-bucketed ANN (the scale path): random-hyperplane buckets via
    * BucketedRandomProjectionLSH, candidates meet queries only inside a
    * bucket. Approx + seed-specific → rows-only; ScalaTest measures recall
    * against q48. */
  val q49KnnLsh: GraftQuery = GraftQuery.rowsOnly(
    "q49_knn_lsh",
    doc = "BucketedRandomProjectionLSH(bucketLength=2, tables=4, seed=42) euclidean pairs dist<=6 for vec_id<10") { (spark, dir) =>
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", array_to_vector($"embedding").as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42)
    val model = lsh.fit(vecs)
    model.approxSimilarityJoin(vecs.filter($"vec_id" < 10), vecs, 6.0, "euclid_dist")
      .select(
        $"datasetA.vec_id".as("query_id"),
        $"datasetB.vec_id".as("neighbor_id"),
        stat($"euclid_dist").as("euclid_dist"))
      .filter($"query_id" =!= $"neighbor_id")
      .orderBy($"query_id", $"neighbor_id")
  }

  /** Embedding-cosine near-dup pairs (cosine ≥ 0.4 — this synthetic corpus
    * tops out at ~0.51): the embedding-space twin of text near-dup. This
    * all-pairs formulation is the exact VERIFIER, oracle-able and O(n²) by
    * construction; the primary at corpus scale is q96's LSH-bucketed
    * variant, which recall-gates against this one in LlmOpsSpec. */
  val q50EmbeddingNeardup: GraftQuery = GraftQuery.oracled(
    "q50_embedding_neardup",
    """WITH n AS (SELECT vec_id, embedding,
      |       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      |       FROM embeddings),
      |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, round(cos, 4) AS cosine
      |FROM p WHERE cos >= 0.4
      |ORDER BY vec_a, vec_b""") { (spark, dir) =>
    import spark.implicits._
    val n = normed(spark, dir)
    val a = n.toDF("vec_a", "a_emb", "a_nrm")
    val b = n.toDF("vec_b", "b_emb", "b_nrm")
    a.crossJoin(b)
      .filter($"vec_a" < $"vec_b")
      .withColumn("cos", dot($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm"))
      .filter($"cos" >= 0.4)
      .select($"vec_a", $"vec_b", stat($"cos").as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Embedding near-dup with LSH-bucketed pair generation — the
    * sub-quadratic PRIMARY at corpus scale; q50's all-pairs formulation is
    * the small-scale verifier. Unit-normalizing first turns the cosine
    * threshold into a euclidean radius (cos ≥ t ⇔ ‖â−b̂‖ ≤ √(2−2t) on unit
    * vectors), so `approxSimilarityJoin` generates candidate pairs inside
    * shared buckets only — never all-pairs. The exact codegen'd dot then
    * recomputes cosine on survivors, so precision is exact; the only
    * approximation is bucket recall (gated against q50 in LlmOpsSpec). */
  val q96EmbeddingNeardupLsh: GraftQuery = GraftQuery.rowsOnly(
    "q96_embedding_neardup_lsh",
    doc = "LSH-bucketed cosine>=0.4 near-dup pairs; exact cosine recheck on bucket candidates") { (spark, dir) =>
    import spark.implicits._
    val n = normed(spark, dir)
      .withColumn("unit", array_to_vector(transform($"embedding", x => x.cast("double") / $"nrm")))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("unit").setOutputCol("hashes")
      .setBucketLength(1.0).setNumHashTables(6).setSeed(42)
    val model = lsh.fit(n)
    // RELATIONAL TWIN of approxSimilarityJoin over the SAME fitted model
    // (r11: output diffed byte-identical vs the MLlib join at 3 SFs):
    // the MLlib path transformed the frame once per join side, shuffled a
    // global distinct over the candidate pairs, and ran its non-codegen
    // keyDistance UDF per candidate — the bucket-join + first-matching-
    // table dedup (q372's projection-only trick) + codegen'd exact cosine
    // produce the identical pair set because (a) candidates are the same
    // "some table's bucket agrees" set over model.transform's hashes, and
    // (b) every candidate with cos ≥ 0.4 passes the radius pre-filter by
    // the identity d² = 2 − 2·cos on unit vectors (the radius carries a
    // +1e-9 slack precisely so borderline pairs cannot drop).
    val hashed = model.transform(n)
      .select($"vec_id", $"embedding", $"nrm",
        transform($"hashes", h =>
          element_at(org.apache.spark.ml.functions.vector_to_array(h), 1)).as("hv"))
      .localCheckpoint() // one transform serves both join sides
    // DECIDE ON LIGHT ROWS, ATTACH THE PAYLOAD AFTER (guide §8): the
    // bucket join has only numTables × O(1) distinct (t, bucket) keys —
    // coarse unit-vector buckets at bucketLength 1 — so its output stage
    // is irreducibly skewed; keep it to (id, id) rows and let the
    // candidate distinct() both dedup AND rebalance the pairs before the
    // 64-dim cosine work, which then runs evenly partitioned with the
    // embeddings attached by two broadcast joins.
    val bands = hashed.select($"vec_id", posexplode($"hv")).toDF("vec_id", "t", "v")
    val cand = bands.toDF("vec_a", "t", "v")
      .join(bands.toDF("vec_b", "t", "v"), Seq("t", "v"))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b").distinct()
    val emb = hashed.select($"vec_id", $"embedding", $"nrm")
    cand
      .join(broadcast(emb.toDF("vec_a", "a_emb", "a_nrm")), Seq("vec_a"))
      .join(broadcast(emb.toDF("vec_b", "b_emb", "b_nrm")), Seq("vec_b"))
      .withColumn("cos", dot($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm"))
      .filter($"cos" >= 0.4)
      .select($"vec_a", $"vec_b", stat($"cos").as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** IVF top-k: KMeans coarse quantizer (k cells, seeded) + nProbe-cell
    * candidate generation + exact cosine rerank. The classic ANN layout:
    * each query meets only the vectors assigned to its nProbe nearest
    * centroids instead of the whole corpus — work drops from O(|C|·|Q|) to
    * O(|C|·|Q|·nProbe/k) for a corpus roughly balanced across cells.
    *
    * Plan shape: the (tiny) probe set — |Q|·nProbe (query, cell) rows with
    * the query vector — broadcasts against the cell-assigned corpus, so the
    * big side never shuffles for the join; the only wide op is the final
    * per-query top-k window over candidate rows. With nProbe = k this
    * degenerates to exact brute force — LlmOpsSpec uses that identity as the
    * plumbing's correctness gate, plus a recall floor at nProbe < k. */
  private[llm] def ivfTopK(spark: SparkSession, dir: String, k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val vecs = normed(spark, dir)
      .withColumn("features", array_to_vector($"embedding"))
    val model = corpusKmeans(spark, dir, k) // memoized seeded fit
    val assigned = model.transform(vecs)
      .select($"vec_id", $"embedding", $"nrm", $"cell")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "centroid")
    // nProbe nearest cells per query by euclidean distance to the centroid
    val wProbe = Window.partitionBy($"query_id").orderBy($"cdist", $"cell")
    val probes = assigned.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", aggregate(
        zip_with($"q_emb", $"centroid", (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("cell_rnk", row_number().over(wProbe))
      .filter($"cell_rnk" <= nProbe)
      .select($"query_id", $"q_emb", $"q_nrm", $"cell")
    val wTop = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    assigned.join(broadcast(probes), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("cos", dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= 5)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rnk", stat($"cos").as("cosine"))
      .orderBy($"query_id", $"rnk")
  }

  /** IVF ANN top-5 (k=16 cells, nProbe=4) for the query set — the learned-
    * bucketer twin of q49's LSH path. Approx + seed-specific → rows-only;
    * LlmOpsSpec gates recall vs q48 and proves nProbe=k ≡ brute force. */
  val q98KnnIvf: GraftQuery = GraftQuery.rowsOnly(
    "q98_knn_ivf",
    doc = "IVF ANN: KMeans(k=16, seed=42) coarse cells, nProbe=4, exact cosine rerank, top-5 per query (vec_id<10)") {
    (spark, dir) => ivfTopK(spark, dir, k = 16, nProbe = 4)
  }

  /** Semantic clustering of the embedding corpus (seeded KMeans, k=10) —
    * the curation primitive behind topic balancing, cluster-stratified
    * sampling, and semantic dedup (SemDeDup-style: near-dups concentrate
    * inside cells, so the expensive pair search runs per-cell, never
    * corpus-wide). Output is the per-cluster profile; labels are
    * canonicalized to each cluster's min member vec_id so the result is
    * insensitive to KMeans' arbitrary cell numbering. Seed-specific floats →
    * rows-only; LlmOpsSpec gates partition laws + determinism across fits.
    *
    * 100 TB plan: the fit is E3 (driver-looped treeAggregate rounds, only
    * k×64 doubles cross the driver boundary per round — at corpus scale you
    * fit on a sample, which changes nothing here); transform + profile is
    * one broadcast of k centroids and one hash-agg keyed by cell. */
  val q117KmeansClusters: GraftQuery = GraftQuery.rowsOnly(
    "q117_kmeans_clusters",
    doc = "KMeans(k=10, seed=42) cluster profile: size + RMS centroid distance, labels canonicalized by min member id") { (spark, dir) =>
    import spark.implicits._
    val vecs = normed(spark, dir).withColumn("features", array_to_vector($"embedding"))
    val model = corpusKmeans(spark, dir, 10) // memoized seeded fit
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "centroid")
    model.transform(vecs)
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("sqdist", aggregate(
        zip_with($"embedding", $"centroid", (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, x) => acc + x))
      .groupBy($"cell")
      .agg(min($"vec_id").as("cluster_key"), count(lit(1)).as("n_members"),
        stat(sqrt(avg($"sqdist"))).as("rms_dist"))
      .select($"cluster_key", $"n_members", $"rms_dist")
      .orderBy($"cluster_key")
  }

  /** Cluster-stratified downsampling — the topic-balancing step after
    * q117's clustering: cap every semantic cluster at a row budget so
    * dominant topics can't swamp the training mix. Per-cell fraction =
    * min(1, cap/size), drawn map-side with per-stratum Bernoulli
    * (`sampleBy`, seeded) — the corpus never shuffles; only the (tiny)
    * cell-size census and the k×64 centroids cross the driver. Seeded-RNG +
    * seed-specific KMeans cells → rows-only; LlmOpsSpec gates the cap,
    * subset and determinism laws. */
  val q122ClusterSample: GraftQuery = GraftQuery.rowsOnly(
    "q122_cluster_stratified_sample",
    doc = "KMeans(k=10, seed=42) cells capped at 30 rows each via sampleBy(seed=42); sampled (vec_id, cluster_key)") { (spark, dir) =>
    import spark.implicits._
    val cap = 30.0
    val vecs = normed(spark, dir).withColumn("features", array_to_vector($"embedding"))
    val model = corpusKmeans(spark, dir, 10) // memoized seeded fit
    val assigned = model.transform(vecs).select($"vec_id", $"cell")
    val census = assigned.groupBy($"cell")
      .agg(min($"vec_id").as("cluster_key"), count(lit(1)).as("n"))
      .collect() // k rows — a scalar census, not row data
    val fractions = census.map(r => r.getInt(0) -> math.min(1.0, cap / r.getLong(2))).toMap
    val keys = census.map(r => (r.getInt(0), r.getLong(1))).toSeq.toDF("cell", "cluster_key")
    assigned.stat.sampleBy("cell", fractions, 42L)
      .join(broadcast(keys), Seq("cell"))
      .select($"vec_id", $"cluster_key")
      .orderBy($"vec_id")
  }

  /** Product-quantization ANN: the memory-bound scale path the IVF/LSH
    * variants don't cover. The 64-dim space splits into M=8 8-dim
    * sub-spaces; each gets its own KMeans codebook (k=32, seeded), and every
    * corpus vector compresses to 8 code bytes — a 32× memory reduction that
    * is what makes 100 TB embedding stores scannable at all. Queries never
    * decode the corpus: each query precomputes an 8×32 lookup table of
    * (sub-space → centroid) squared distances (ADC), so a candidate's
    * approximate distance is EIGHT array lookups + adds instead of a 64-dim
    * dot product. A shortlist by approximate distance is reranked with the
    * exact codegen'd cosine.
    *
    * Plan shape: codebooks (8×32×8 doubles) and per-query LUTs broadcast;
    * encoding is a bounded 16×-per-sub broadcast join + min_by (at
    * production scale a codegen'd argmin kernel, same play as `graft_dot`);
    * the scan side carries only (vec_id, 4 codes) rows, no shuffle until
    * the per-query top-k windows. Unit-normalizing first makes L2² order-
    * equivalent to cosine (cos = 1 − d²/2), the q96 trick.
    *
    * Seeded KMeans codebooks → rows-only; LlmOpsSpec proves
    * shortlist ≥ corpus reduces EXACTLY to q48 brute force (the plumbing
    * gate) and gates recall@5 at the production shortlist. */
  /** Per-(session, dir) memo "pqIndex" of the PQ index — the (codes, luts)
    * pair is identical for every pqTopK caller (fixed M/subDim/kCodes/
    * seeds), and q140 + q221 each re-trained the 8 codebooks and re-encoded
    * the corpus per invocation. Both frames are corpus/query-set-sized and
    * localCheckpoint'ed. */
  private[llm] def pqIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.engine.Memos.memo(spark, dir, "pqIndex") {
      import spark.implicits._
      val M = 8; val subDim = 8; val kCodes = 32
      val vecs = normed(spark, dir)
        .withColumn("unit", transform($"embedding", x => x.cast("double") / $"nrm"))
      // per sub-space training set: (vec_id, sub, 8-dim unit sub-vector)
      val subs = vecs.select($"vec_id", $"embedding", $"nrm", explode(expr(
          s"transform(sequence(0, ${M - 1}), s -> named_struct('sub', s, 'svec', slice(unit, s * $subDim + 1, $subDim)))")).as("ss"))
        .select($"vec_id", $"ss.sub".as("sub"), $"ss.svec".as("svec"))
      // one codebook per sub-space (E3: M tiny fits; only k×16 doubles each).
      // The M fits are independent, and each is driver-round-trip-bound (a few
      // treeAggregate rounds over ~2k sub-vectors), so they run CONCURRENTLY —
      // Spark schedules jobs from multiple submitter threads (the same play as
      // CrossValidator's parallelism param); subs is persisted across the fits
      // so the scan + explode runs once, not M×. Codebooks don't need converged
      // centroids (any fixed quantizer works; rerank fixes ordering) — maxIter
      // caps the rounds.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(M)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      subs.persist().count()
      val codebooks =
        try Await.result(Future.sequence((0 until M).map { s => Future {
          val model = new org.apache.spark.ml.clustering.KMeans()
            .setK(kCodes).setSeed(42L + s).setMaxIter(10)
            .setFeaturesCol("features").setPredictionCol("code")
            .fit(subs.filter($"sub" === s).select(array_to_vector($"svec").as("features")))
          model.clusterCenters.zipWithIndex
            .map { case (c, i) => (s, i, c.toArray) }.toSeq
            .toDF("sub", "code", "centroid")
        } }), Duration.Inf).reduce(_ union _)
        finally pool.shutdown()
      def sqdist = aggregate(
        zip_with($"svec", $"centroid", (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
      // encode: nearest code per (vector, sub-space); min_by struct tie-break
      val assigned = subs.join(broadcast(codebooks), Seq("sub"))
        .withColumn("sqdist", sqdist)
        .groupBy($"vec_id", $"sub")
        .agg(min_by($"code", struct($"sqdist", $"code")).as("code"))
      val codes = graft.engine.Memos.checkpoint(
        assigned.groupBy($"vec_id")
          .agg(transform(array_sort(collect_list(struct($"sub", $"code"))),
            x => x("code")).as("codes")))
      // ADC lookup tables for the query set: lut[sub][code] = sq dist
      val luts = subs.join(broadcast(vecs.filter($"vec_id" < 10)
          .select($"vec_id", $"embedding".as("q_emb"), $"nrm".as("q_nrm"))),
          Seq("vec_id"))
        .join(broadcast(codebooks), Seq("sub"))
        .withColumn("sqdist", sqdist)
        .groupBy($"vec_id", $"q_emb", $"q_nrm", $"sub")
        .agg(transform(array_sort(collect_list(struct($"code", $"sqdist"))),
          x => x("sqdist")).as("lrow"))
        .groupBy($"vec_id".as("query_id"), $"q_emb", $"q_nrm")
        .agg(transform(array_sort(collect_list(struct($"sub", $"lrow"))),
          x => x("lrow")).as("lut"))
      val lutsCp = graft.engine.Memos.checkpoint(luts) // before subs unpersists
      subs.unpersist()
      (codes, lutsCp)
    }

  private[llm] def pqTopK(
      spark: SparkSession, dir: String, shortlist: Int,
      candidates: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val (codes, luts) = pqIndex(spark, dir)
    // approximate distance = M LUT lookups; shortlist per query. With a
    // candidate restriction (IVF-PQ composition), only the probed cells'
    // vectors are scored — the crossJoin collapses to a keyed join.
    val wShort = Window.partitionBy($"query_id").orderBy($"approx_d2", $"vec_id")
    val scored = candidates match {
      case Some(cand) =>
        codes.join(cand, Seq("vec_id"))
          .join(broadcast(luts), Seq("query_id"))
      // luts holds AT MOST 10 rows by construction (one per query_id, built
      // from the vec_id < 10 filter inside pqIndex), but the localCheckpoint
      // truncates that derivation to a Scan ExistingRDD — invisible to
      // PlanAuditSpec's bounded-build walker. limit(10) re-states the bound
      // structurally (a GlobalLimitExec below the broadcast): it is a
      // provable no-op on ≤10 rows, so results are unchanged, and the BNLJ
      // build side is again bounded by construction, not by exemption.
      case None => codes.crossJoin(broadcast(luts.limit(10)))
    }
    val short = scored
      .filter($"vec_id" =!= $"query_id")
      .withColumn("approx_d2", expr(
        "aggregate(zip_with(codes, lut, (c, r) -> element_at(r, c + 1)), 0D, (a, x) -> a + x)"))
      .withColumn("srnk", row_number().over(wShort))
      .filter($"srnk" <= shortlist)
      .select($"query_id", $"q_emb", $"q_nrm", $"vec_id")
    // exact rerank of the shortlist
    val wTop = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    short.join(normed(spark, dir), Seq("vec_id"))
      .withColumn("cos", dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"))
      .withColumn("rnk", row_number().over(wTop))
      .filter($"rnk" <= 5)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rnk", stat($"cos").as("cosine"))
      .orderBy($"query_id", $"rnk")
  }

  /** PQ ANN top-5 (M=8 sub-spaces × 32 codes, shortlist=50, exact rerank)
    * for the query set (vec_id < 10). */
  val q140KnnPq: GraftQuery = GraftQuery.rowsOnly(
    "q140_knn_pq",
    doc = "product-quantization ANN: 8x8-dim codebooks (KMeans k=32, seeded), ADC lookup tables, shortlist=50, exact cosine rerank, top-5 per query (vec_id<10)") {
    (spark, dir) => pqTopK(spark, dir, shortlist = 50)
  }

  /** (query_id, vec_id) candidate pairs from IVF coarse probing: corpus
    * vectors living in each query's nProbe nearest KMeans cells. Shared by
    * the IVF-PQ composite. */
  private[llm] def ivfCandidates(
      spark: SparkSession, dir: String, kCells: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val vecs = normed(spark, dir)
      .withColumn("features", array_to_vector($"embedding"))
    val model = corpusKmeans(spark, dir, kCells) // memoized seeded fit
    val assigned = model.transform(vecs).select($"vec_id", $"cell")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "centroid")
    val wProbe = Window.partitionBy($"query_id").orderBy($"cdist", $"cell")
    val probes = normed(spark, dir).filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", aggregate(
        zip_with($"q_emb", $"centroid", (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("cell_rnk", row_number().over(wProbe))
      .filter($"cell_rnk" <= nProbe)
      .select($"query_id", $"cell")
    assigned.join(broadcast(probes), Seq("cell"))
      .select($"query_id", $"vec_id")
  }

  /** IVF-PQ composite ANN (the faiss-standard two-level index): IVF coarse
    * cells bound WHICH vectors are scored (nProbe of 16 KMeans cells), PQ
    * ADC lookup tables bound HOW each is scored (M·1 lookups instead of a
    * 64-dim float op), and the exact cosine rerank on the 50-vector
    * shortlist restores true ordering. Composes q98's bucketer with q140's
    * compressor — disable both knobs (nProbe = k, shortlist = corpus) and
    * the spec proves it reduces EXACTLY to brute force.
    *
    * 100 TB plan: candidate generation is a keyed join (cell → probes
    * broadcast), ADC scoring touches ~nProbe/k of the corpus with byte
    * codes instead of raw vectors (8 B/vector here vs 256 B raw), and only
    * the shortlist ever loads full embeddings for rerank. */
  val q221KnnIvfPq: GraftQuery = GraftQuery.rowsOnly(
    "q221_knn_ivfpq",
    doc = "IVF-PQ ANN: KMeans(16) cells nProbe=6 x PQ(8x32) ADC shortlist=100, exact cosine rerank, top-5 per query (vec_id<10)") {
    (spark, dir) =>
      pqTopK(spark, dir, shortlist = 100,
        candidates = Some(ivfCandidates(spark, dir, kCells = 16, nProbe = 6)))
  }

  /** Vectors DROPPED by SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): KMeans partitions the corpus into k cells, and
    * within each cell a vector is dropped when a LOWER-id cell-mate sits at
    * cosine ≥ tau (keep-the-smallest-id, the same representative rule as
    * q44/q100). Pairwise work is confined to cells — never the corpus.
    * With k=1 the cell join IS the exact all-pairs rule, which is the
    * spec's ground truth. */
  private[llm] def semanticDropped(
      spark: SparkSession, dir: String, k: Int, tau: Double): DataFrame = {
    import spark.implicits._
    val n = normed(spark, dir)
    val celled =
      if (k <= 1) n.withColumn("cell", lit(0))
      else {
        val vecs = n.withColumn("features", array_to_vector($"embedding"))
        corpusKmeans(spark, dir, k).transform(vecs).drop("features")
      }
    val a = celled.select($"cell", $"vec_id".as("keep_id"),
      $"embedding".as("a_emb"), $"nrm".as("a_nrm"))
    val b = celled.select($"cell", $"vec_id".as("drop_id"),
      $"embedding".as("b_emb"), $"nrm".as("b_nrm"))
    a.join(b, Seq("cell"))
      .filter($"keep_id" < $"drop_id")
      .filter(dot($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm") >= tau)
      .select($"cell", $"drop_id").distinct()
  }

  /** SemDeDup census: per semantic cell (canonicalized by min member id,
    * q117's rule), how many vectors survive a cosine-0.4 within-cell dedup.
    * rows-only (KMeans cells are seed-specific); LlmOpsSpec proves the
    * k=1 configuration is EXACTLY the brute-force dedup rule and that
    * clustered dropping is a subset of it (cells only lower recall, never
    * precision — dropped pairs are re-verified by the exact codegen'd dot).
    *
    * 100 TB plan: the quadratic stage is bounded per-cell (n/k a cell on
    * average — production recursively re-splits oversized cells, the q105
    * sub-banding play); the corpus shuffles ONCE on cell id, and each
    * cell's pair join is map-local after that. This is the embedding-space
    * member of the dedup family: exact (q44) → token LSH (q46) → simhash
    * (q105) → semantic (this). */
  val q231SemanticDedup: GraftQuery = GraftQuery.rowsOnly(
    "q231_semantic_dedup",
    doc = "SemDeDup: KMeans(16) cells, within-cell cosine>=0.4 keep-min-id; per-cell census (cluster_key, n_members, n_dropped, n_kept)") {
    (spark, dir) =>
      import spark.implicits._
      val n = normed(spark, dir)
      val vecs = n.withColumn("features", array_to_vector($"embedding"))
      val model = corpusKmeans(spark, dir, 16) // memoized seeded fit
      val celled = model.transform(vecs).drop("features").localCheckpoint()
      val a = celled.select($"cell", $"vec_id".as("keep_id"),
        $"embedding".as("a_emb"), $"nrm".as("a_nrm"))
      val b = celled.select($"cell", $"vec_id".as("drop_id"),
        $"embedding".as("b_emb"), $"nrm".as("b_nrm"))
      val dropped = a.join(b, Seq("cell"))
        .filter($"keep_id" < $"drop_id")
        .filter(dot($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm") >= 0.4)
        .select($"cell", $"drop_id").distinct()
        .groupBy($"cell").agg(count(lit(1)).as("n_dropped"))
      celled.groupBy($"cell")
        .agg(min($"vec_id").as("cluster_key"), count(lit(1)).as("n_members"))
        .join(dropped, Seq("cell"), "left")
        .select($"cluster_key", $"n_members",
          coalesce($"n_dropped", lit(0L)).as("n_dropped"),
          ($"n_members" - coalesce($"n_dropped", lit(0L))).as("n_kept"))
        .orderBy($"cluster_key")
  }

  /** KMeans ELBOW curve: training cost (WSSSE) at k ∈ {2, 4, 8, 16} — the
    * model-selection sweep behind every q117/q231-style clustering choice.
    * The four fits are independent and run CONCURRENTLY from submitter
    * threads (q140's codebook play) over one persisted feature frame.
    * rows-only (float-iterative); LlmOpsSpec gates the defining law —
    * cost is non-increasing in k — plus seeded determinism.
    *
    * 100 TB plan: each fit is a handful of treeAggregate rounds over the
    * SAME cached vectors; the sweep costs max(fit), not Σ(fit), and only
    * k×64 centroids ever reach the driver. */
  val q262KmeansElbow: GraftQuery = GraftQuery.rowsOnly(
    "q262_kmeans_elbow",
    doc = "KMeans cost sweep k in {2,4,8,16}, seed 42: (k, wssse, n) — elbow input; concurrent fits") { (spark, dir) =>
    import spark.implicits._
    val n = Tables.embeddings(spark, dir).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val ks = Seq(2, 4, 8, 16)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ks.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rows =
      try Await.result(Future.sequence(ks.map { k => Future {
        val m = corpusKmeans(spark, dir, k) // memoized seeded fit
        (k, m.summary.trainingCost)
      } }), Duration.Inf)
      finally pool.shutdown()
    rows.toDF("k", "wssse")
      .select($"k", stat($"wssse").as("wssse"), lit(n).as("n_vectors"))
      .orderBy($"k")
  }

  /** LABEL-CENTROID cosine matrix: mean embedding per class, then the
    * 10×10 upper triangle of centroid cosines — the "which classes are
    * embedding-confusable" diagnostic run before training a classifier on
    * the space (high centroid cosine ⇒ expect confusion, q57's matrix).
    * Fully relational: explode to (label, dim, x), one hash-agg to the
    * 10×64 centroid table, one dim-keyed self-join for dots — so it is
    * exactly DuckDB-oracle-able, unlike vector-API formulations.
    *
    * 100 TB plan: the explode is the only row-scale stage and it feeds a
    * map-side-combined avg; everything after operates on 640 rows. */
  val q269LabelCentroids: GraftQuery = GraftQuery.oracled(
    "q269_label_centroids",
    """WITH t AS (SELECT label, g.dim, CAST(embedding[g.dim] AS DOUBLE) AS x
      |           FROM embeddings, UNNEST(generate_series(1, 64)) AS g(dim)),
      |c AS (SELECT label, dim, avg(x) AS m FROM t GROUP BY 1, 2),
      |n AS (SELECT label, sqrt(sum(m * m)) AS nrm FROM c GROUP BY label),
      |d AS (SELECT a.label AS la, b.label AS lb, sum(a.m * b.m) AS dot
      |      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
      |      GROUP BY 1, 2)
      |SELECT d.la, d.lb, round(d.dot / (na.nrm * nb.nrm), 4) AS cos
      |FROM d JOIN n na ON d.la = na.label JOIN n nb ON d.lb = nb.label
      |ORDER BY d.la, d.lb""") { (spark, dir) =>
    import spark.implicits._
    val t = Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding"))
      .toDF("label", "dim0", "x")
      .select($"label", ($"dim0" + 1).as("dim"), $"x".cast("double").as("x"))
    val c = t.groupBy($"label", $"dim").agg(avg($"x").as("m"))
    val n = c.groupBy($"label").agg(sqrt(sum($"m" * $"m")).as("nrm"))
    val d = c.toDF("la", "dim", "ma")
      .join(c.toDF("lb", "dim", "mb"), Seq("dim"))
      .filter($"la" < $"lb")
      .groupBy($"la", $"lb").agg(sum($"ma" * $"mb").as("dot"))
    d.join(broadcast(n.toDF("la", "na")), Seq("la"))
      .join(broadcast(n.toDF("lb", "nb")), Seq("lb"))
      .select($"la", $"lb", round($"dot" / ($"na" * $"nb"), 4).as("cos"))
      .orderBy($"la", $"lb")
  }

  /** JOHNSON–LINDENSTRAUSS RANDOM PROJECTION — 64-d → 16-d with a
    * deterministic ±1/√k matrix (Achlioptas 2003: Rademacher entries
    * preserve pairwise distances in expectation like Gaussians, and cost
    * one sign flip per term): the cheap dimensionality cut that runs
    * BEFORE the ANN index (q49/q96/q98) when the raw dimension is the
    * cost driver. The sign matrix is a pure arithmetic function of
    * (dim, k) — no RNG state, so the oracle restates it exactly and any
    * executor can regenerate it.
    *
    * 100 TB plan: 16 codegen'd `graft_dot` kernel calls per row against
    * BROADCAST-literal sign vectors — map-side, shuffle-free, whole-stage
    * codegen; the explode to long format is the only row expansion.
    * Round6Spec gates the JL guarantee itself (mean pairwise-distance
    * distortion bounded). */
  val q327JlProjection: GraftQuery = GraftQuery.oracled(
    "q327_jl_projection",
    """WITH p AS (
      |  SELECT vec_id, k,
      |         round(list_sum(list_transform(generate_series(1, 64),
      |           d -> CAST(embedding[d] AS DOUBLE)
      |                * (CASE WHEN (d * 31 + k * 17) % 2 = 0 THEN 1 ELSE -1 END))) / 4.0, 4) AS proj
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 16)) AS k))
      |SELECT vec_id, CAST(k AS BIGINT) AS k, proj
      |FROM p
      |ORDER BY vec_id, k""") { (spark, dir) =>
    import spark.implicits._
    import graft.functions.VectorExpressions.graftDot
    val planes: Seq[org.apache.spark.sql.Column] = (1 to 16).map { k =>
      val signs = (1 to 64).map(d => if ((d * 31 + k * 17) % 2 == 0) 1.0f else -1.0f)
      round(graftDot($"embedding", typedlit(signs)) / 4.0, 4)
    }
    Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode(array(planes: _*)))
      .select($"vec_id", ($"pos" + 1).cast("long").as("k"), $"col".as("proj"))
      .orderBy($"vec_id", $"k")
  }

  /** EMBEDDING-SPACE ANISOTROPY AUDIT (Ethayarajh 2019's diagnostic): the
    * cosine distribution over a deterministic stride pairing (vec i with
    * i+250 — an exchangeable sample of unrelated pairs, reproducible on
    * both engines unlike an RNG draw). Healthy isotropic embeddings
    * center near 0; a high mean cosine means every vector shares a
    * dominant direction and similarity thresholds (q50/q96/q231's 0.9)
    * silently stop discriminating — THE check to run before trusting any
    * cosine-based dedup/ANN threshold. Exact double arithmetic via the
    * codegen'd `graft_dot`; the oracle recomputes each cosine with q48's
    * list_transform formulation.
    *
    * 100 TB plan: the pairing is a self-join on an arithmetic key (equi,
    * map-side after one small shuffle), cosines are codegen'd
    * projections, and the audit is one scalar moments agg — sample size
    * is a knob, never corpus². */
  val q360AnisotropyAudit: GraftQuery = GraftQuery.oracled(
    "q360_anisotropy_audit",
    """WITH n AS (SELECT vec_id, embedding,
      |       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      |       FROM embeddings),
      |p AS (SELECT a.vec_id,
      |       list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
      |      FROM n a JOIN n b ON b.vec_id = a.vec_id + 250
      |      WHERE a.vec_id < 250)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |       round(avg(cos), 6) AS mean_cos,
      |       round(stddev_samp(cos), 6) AS sd_cos,
      |       round(min(cos), 6) AS min_cos,
      |       round(max(cos), 6) AS max_cos,
      |       CAST(floor(1000000.0 * count(CASE WHEN abs(cos) > 0.5 THEN 1 END)
      |                  / count(*)) AS BIGINT) AS high_share_ppm
      |FROM p""") { (spark, dir) =>
    import spark.implicits._
    val n = normed(spark, dir)
    val a = n.toDF("vec_id", "a_emb", "a_nrm").filter($"vec_id" < 250)
    val b = n.toDF("b_id", "b_emb", "b_nrm")
    a.join(b, $"b_id" === $"vec_id" + 250)
      .withColumn("cos", dot($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(avg($"cos"), 6).as("mean_cos"),
        round(stddev_samp($"cos"), 6).as("sd_cos"),
        round(min($"cos"), 6).as("min_cos"),
        round(max($"cos"), 6).as("max_cos"),
        floor(lit(1000000.0) * count(when(abs($"cos") > 0.5, 1)) / count(lit(1)))
          .cast("long").as("high_share_ppm"))
  }

  /** MATRYOSHKA TRUNCATION RECALL AUDIT — the sizing study behind every
    * "store the first d′ dims" retrieval decision (Kusupati et al. 2022,
    * arXiv:2205.13147): for each probe (vec_id < 8), the top-10 cosine
    * neighbors under the FULL 64 dims vs under the 16-dim PREFIX, and the
    * overlap@10 between the two lists — the recall a 4× cheaper index
    * would actually deliver. Both rankings use the q48 float discipline
    * (left-to-right double fold, identical on both engines), so the
    * neighbor SETS are exact and the audit is strictly oracle-able.
    *
    * 100 TB plan: two brute-force probe scans (probes broadcast, corpus
    * partition-parallel, per-query top-k via bounded window) — the same
    * shape as q48 twice; at index scale the prefix ranking rides the
    * IVF/PQ path (q98/q140) with identical audit algebra. */
  val q382MatryoshkaRecall: GraftQuery = GraftQuery.oracled(
    "q382_matryoshka_recall",
    """WITH n AS (SELECT vec_id, embedding,
      |       sqrt(list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm64,
      |       sqrt(list_sum(list_transform(generate_series(1, 16),
      |         i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm16
      |       FROM embeddings),
      |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |       list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm64 * c.nrm64) AS cos64,
      |       list_sum(list_transform(generate_series(1, 16),
      |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm16 * c.nrm16) AS cos16
      |      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |      WHERE q.vec_id < 8),
      |r AS (SELECT query_id, neighbor_id,
      |             row_number() OVER (PARTITION BY query_id ORDER BY cos64 DESC, neighbor_id) AS rk64,
      |             row_number() OVER (PARTITION BY query_id ORDER BY cos16 DESC, neighbor_id) AS rk16
      |      FROM p)
      |SELECT query_id,
      |       CAST(count(*) FILTER (WHERE rk64 <= 10 AND rk16 <= 10) AS BIGINT) AS overlap_at_10,
      |       CAST(max(CASE WHEN rk64 = 1 THEN neighbor_id END) AS BIGINT) AS top1_full,
      |       CAST(max(CASE WHEN rk16 = 1 THEN neighbor_id END) AS BIGINT) AS top1_prefix
      |FROM r
      |GROUP BY query_id
      |ORDER BY query_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val n = normed(spark, dir)
      .withColumn("pre", slice($"embedding", 1, 16))
      .withColumn("nrm16", l2norm($"pre"))
    val q = n.toDF("query_id", "q_emb", "q_nrm", "q_pre", "q_nrm16")
      .filter($"query_id" < 8)
    val c = n.toDF("neighbor_id", "c_emb", "c_nrm", "c_pre", "c_nrm16")
    val w64 = Window.partitionBy($"query_id").orderBy($"cos64".desc, $"neighbor_id")
    val w16 = Window.partitionBy($"query_id").orderBy($"cos16".desc, $"neighbor_id")
    c.crossJoin(broadcast(q))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("cos64", dot($"q_emb", $"c_emb") / ($"q_nrm" * $"c_nrm"))
      .withColumn("cos16", dot($"q_pre", $"c_pre") / ($"q_nrm16" * $"c_nrm16"))
      .select($"query_id", $"neighbor_id",
        row_number().over(w64).as("rk64"), row_number().over(w16).as("rk16"))
      .groupBy($"query_id")
      .agg(
        count(when($"rk64" <= 10 && $"rk16" <= 10, 1)).cast("long").as("overlap_at_10"),
        max(when($"rk64" === 1, $"neighbor_id")).cast("long").as("top1_full"),
        max(when($"rk16" === 1, $"neighbor_id")).cast("long").as("top1_prefix"))
      .orderBy($"query_id")
  }

  /** INT8 SYMMETRIC PER-CHANNEL QUANTIZATION AUDIT — the error report
    * behind every "can we serve the index in int8" decision: per-dimension
    * absmax scale (absmax/127, the symmetric per-channel scheme every
    * vector store ships), quantize q = clamp(⌊x/scale + 0.5⌋, ±127),
    * dequantize, and report per label: element count, saturated-element
    * count, and the mean squared error in exact fixed point (⌊e²·10¹²⌋
    * summed as integers — float summation order can never flake the
    * result). The rounding is pinned to ⌊x+0.5⌋ on BOTH engines (not the
    * engines' round(), which disagree on half-even vs half-away).
    *
    * 100 TB plan: the per-dim absmax is one map-side-combined agg over a
    * posexploded projection (64 groups — broadcast back); the error pass
    * is a second map-side projection + census agg. Two corpus scans, no
    * row-scale shuffle. */
  val q383Int8QuantAudit: GraftQuery = GraftQuery.oracled(
    "q383_int8_quant_audit",
    """WITH el AS (SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
      |            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
      |sc AS (SELECT dim, greatest(max(abs(x)), 1e-12) / 127 AS scale FROM el GROUP BY dim),
      |e AS (SELECT label,
      |             greatest(-127, least(127, CAST(floor(x / scale + 0.5) AS BIGINT))) AS q,
      |             x, scale
      |      FROM el JOIN sc USING (dim)),
      |d AS (SELECT label, q, x - q * scale AS err FROM e)
      |SELECT label,
      |       CAST(count(*) AS BIGINT) AS n_elems,
      |       CAST(count(*) FILTER (WHERE abs(q) = 127) AS BIGINT) AS n_saturated,
      |       CAST(sum(CAST(floor(err * err * 1e12) AS BIGINT)) AS BIGINT) AS sum_e2_fp,
      |       CAST(sum(CAST(floor(err * err * 1e12) AS BIGINT)) // count(*) AS BIGINT) AS mse_fp
      |FROM d
      |GROUP BY label
      |ORDER BY label""") { (spark, dir) =>
    import spark.implicits._
    val el = Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding"))
      .select($"label", ($"pos" + 1).as("dim"), $"col".cast("double").as("x"))
    val sc = el.groupBy($"dim")
      .agg((greatest(max(abs($"x")), lit(1e-12)) / 127).as("scale"))
    el.join(broadcast(sc), Seq("dim"))
      .withColumn("q",
        greatest(lit(-127L), least(lit(127L), floor($"x" / $"scale" + 0.5).cast("long"))))
      .withColumn("err", $"x" - $"q" * $"scale")
      .withColumn("e2fp", floor($"err" * $"err" * 1e12).cast("long"))
      .groupBy($"label")
      .agg(count(lit(1)).cast("long").as("n_elems"),
        count(when(abs($"q") === 127, 1)).cast("long").as("n_saturated"),
        sum($"e2fp").cast("long").as("sum_e2_fp"),
        expr("sum(e2fp) div count(*)").cast("long").as("mse_fp"))
      .orderBy($"label")
  }

  /** DAVIES–BOULDIN LABEL-SEPARABILITY AUDIT (Davies & Bouldin 1979) — the
    * "are these classes even separable in this embedding space" number a
    * team checks before training a classifier on it: per label, the mean
    * intra-class distance to the label centroid (Sᵢ), the nearest OTHER
    * centroid and its distance (Mᵢⱼ), and the Davies–Bouldin component
    * maxⱼ (Sᵢ+Sⱼ)/Mᵢⱼ — lower is more separable. Strictly oracle-able by
    * construction: centroids are assembled from EXACT integer sums
    * (⌊x·10⁷⌋ per element — float summation order cannot flake them),
    * per-row distances fold left-to-right against the sorted centroid
    * array, and the row-mean Sᵢ is again an integer sum (⌊dist·10⁹⌋).
    *
    * 100 TB plan: centroid pass = one posexplode + (label,dim) hash-agg
    * (640 groups — broadcast back as sorted arrays); distance pass = one
    * map-side fold per row + label census agg; the DB matrix is
    * labels², driver-bounded. Two scans, no row-scale shuffle. */
  val q386DaviesBouldin: GraftQuery = GraftQuery.oracled(
    "q386_davies_bouldin",
    """WITH el AS (SELECT label, vec_id, i AS dim,
      |                   CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS xfp
      |            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
      |cd AS (SELECT label, dim,
      |              CAST(sum(xfp) AS DOUBLE) / (1e7 * count(*)) AS c
      |       FROM el GROUP BY label, dim),
      |ca AS (SELECT label, list(c ORDER BY dim) AS carr FROM cd GROUP BY label),
      |d AS (SELECT e.label, e.vec_id,
      |             sqrt(list_sum(list_transform(generate_series(1, 64),
      |               i -> (CAST(e.embedding[i] AS DOUBLE) - ca.carr[i])
      |                  * (CAST(e.embedding[i] AS DOUBLE) - ca.carr[i])))) AS dist
      |      FROM embeddings e JOIN ca ON e.label = ca.label),
      |s AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(CAST(floor(dist * 1e9) AS BIGINT)) // count(*) AS BIGINT) AS s_fp
      |      FROM d GROUP BY label),
      |m AS (SELECT a.label AS la, b.label AS lb,
      |             sqrt(list_sum(list_transform(generate_series(1, 64),
      |               i -> (a.carr[i] - b.carr[i]) * (a.carr[i] - b.carr[i])))) AS mij
      |      FROM ca a JOIN ca b ON a.label <> b.label),
      |r AS (SELECT m.la AS label, m.lb,
      |             (CAST(sa.s_fp + sb.s_fp AS DOUBLE) / 1e9) / m.mij AS rij
      |      FROM m JOIN s sa ON sa.label = m.la JOIN s sb ON sb.label = m.lb),
      |db AS (SELECT label, max(rij) AS dbi FROM r GROUP BY label)
      |SELECT s.label, s.n, s.s_fp, round(db.dbi, 4) AS db_component
      |FROM s JOIN db ON s.label = db.label
      |ORDER BY s.label""") { (spark, dir) =>
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val el = emb
      .select($"label", posexplode($"embedding"))
      .select($"label", ($"pos" + 1).as("dim"),
        floor($"col".cast("double") * 1e7).cast("long").as("xfp"))
    val cd = el.groupBy($"label", $"dim")
      .agg((sum($"xfp").cast("double") / (lit(1e7) * count(lit(1)))).as("c"))
    val ca = cd.groupBy($"label")
      .agg(transform(sort_array(collect_list(struct($"dim", $"c"))),
        x => x.getField("c")).as("carr"))
    val dists = emb.join(broadcast(ca), Seq("label"))
      .select($"label",
        sqrt(aggregate(
          zip_with($"embedding", $"carr", (x, c) => {
            val dxc = x.cast("double") - c; dxc * dxc
          }),
          lit(0.0), (acc, v) => acc + v)).as("dist"))
    val s = dists.groupBy($"label")
      .agg(count(lit(1)).cast("long").as("n"),
        expr("sum(CAST(floor(dist * 1e9) AS BIGINT)) div count(*)")
          .cast("long").as("s_fp"))
    val caB = ca.toDF("la", "ca_arr")
    val m = caB.crossJoin(ca.toDF("lb", "cb_arr"))
      .filter($"la" =!= $"lb")
      .select($"la", $"lb",
        sqrt(aggregate(
          zip_with($"ca_arr", $"cb_arr", (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v)).as("mij"))
    val r = m
      .join(s.select($"label".as("la"), $"s_fp".as("sa")), Seq("la"))
      .join(s.select($"label".as("lb"), $"s_fp".as("sb")), Seq("lb"))
      .select($"la".as("label"),
        ((($"sa" + $"sb").cast("double") / 1e9) / $"mij").as("rij"))
    val db = r.groupBy($"label").agg(max($"rij").as("dbi"))
    s.join(db, Seq("label"))
      .select($"label", $"n", $"s_fp", round($"dbi", 4).as("db_component"))
      .orderBy($"label")
  }

  /** ANN RECALL EVAL AS A QUERY — the continuous index-quality audit a
    * production vector store runs (not a one-off test): per probe, how
    * many of the EXACT cosine top-10 the LSH candidate stage recovers
    * (recall@10). The exact side reuses q48's machinery; the candidate
    * side is q49's seeded BucketedRandomProjectionLSH join. Engine-
    * specific hashing → rows-only; LlmOpsSpec floors mean recall.
    *
    * 100 TB plan: the exact side only runs over the PROBE set (bounded —
    * it's an audit, not a serve path); the LSH side is the index's own
    * bucket join. Recall regressions page before users notice. */
  // PRINT-BOTH (q29's pattern) since r6: the probe set and k are
  // strict-oracle'd, and the candidate-stage contract — mean recall ≥ 50%
  // across the 10 probes (LlmOpsSpec's floor, now driver-enforced) — rides
  // as a constant boolean column the oracle pins TRUE. Per-probe recall
  // numbers stay in LlmOpsSpec (they are LSH-seed-specific).
  val q387AnnRecallEval: GraftQuery = GraftQuery.oracled(
    "q387_ann_recall_eval",
    """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(10 AS BIGINT) AS k,
      |       CAST(1 AS BOOLEAN) AS mean_recall_ge_50pct
      |FROM embeddings WHERE vec_id < 10 ORDER BY query_id""") {
    (spark, dir) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val n = normed(spark, dir)
      val q = n.toDF("query_id", "q_emb", "q_nrm")
      val c = n.toDF("neighbor_id", "c_emb", "c_nrm")
      val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
      val exact = c.crossJoin(broadcast(q.filter($"query_id" < 10)))
        .filter($"neighbor_id" =!= $"query_id")
        .withColumn("cos", dot($"q_emb", $"c_emb") / ($"q_nrm" * $"c_nrm"))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 10)
        .select($"query_id", $"neighbor_id")
      val vecs = Tables.embeddings(spark, dir)
        .select($"vec_id", array_to_vector($"embedding").as("features"))
      val lsh = new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setBucketLength(2.0).setNumHashTables(4).setSeed(42)
      val cand = lsh.fit(vecs)
        .approxSimilarityJoin(vecs.filter($"vec_id" < 10), vecs, 1e9, "d")
        .select($"datasetA.vec_id".as("query_id"), $"datasetB.vec_id".as("neighbor_id"))
        .filter($"query_id" =!= $"neighbor_id")
      val perProbe = exact
        .join(cand.withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
        .groupBy($"query_id")
        .agg(sum(coalesce($"hit", lit(0))).cast("long").as("recovered"),
          count(lit(1)).cast("long").as("k"))
      val meanOk = perProbe
        .agg((avg($"recovered" * 100.0 / $"k") >= 50.0).as("mean_recall_ge_50pct"))
      perProbe.crossJoin(broadcast(meanOk))
        .select($"query_id", $"k", $"mean_recall_ge_50pct")
        .orderBy($"query_id")
  }

  /** EMBEDDING-DRIFT AUDIT — the retraining/reindexing trigger every
    * vector platform monitors: split the corpus into two deterministic
    * cohorts (vec_id parity — standing in for "last month vs this month"),
    * compute each label's centroid in BOTH cohorts, and report the
    * centroid shift (L2 and cosine). A label whose cohort centroids
    * diverge is drifting; cosine ≈ 1 means the index's cells are still
    * valid. Same exact-integer centroid discipline as q386 (⌊x·10⁷⌋ sums)
    * so the audit is strictly oracle-able — no float-order flake.
    *
    * 100 TB plan: one posexplode + (cohort, label, dim) hash-agg (2·640
    * groups), then label-sized centroid algebra. One scan. */
  val q393EmbeddingDrift: GraftQuery = GraftQuery.oracled(
    "q393_embedding_drift",
    """WITH el AS (SELECT label, vec_id % 2 AS cohort, i AS dim,
      |                   CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT) AS xfp
      |            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
      |cd AS (SELECT label, cohort, dim,
      |              CAST(sum(xfp) AS DOUBLE) / (1e7 * count(*)) AS c,
      |              CAST(count(*) AS BIGINT) AS n
      |       FROM el GROUP BY label, cohort, dim),
      |ca AS (SELECT label, cohort, list(c ORDER BY dim) AS carr, max(n) AS n
      |       FROM cd GROUP BY label, cohort),
      |pair AS (SELECT a.label, a.n AS n_a, b.n AS n_b,
      |                list_sum(list_transform(generate_series(1, 64),
      |                  i -> (a.carr[i] - b.carr[i]) * (a.carr[i] - b.carr[i]))) AS d2,
      |                list_sum(list_transform(generate_series(1, 64),
      |                  i -> a.carr[i] * b.carr[i])) AS dot,
      |                sqrt(list_sum(list_transform(generate_series(1, 64),
      |                  i -> a.carr[i] * a.carr[i]))) AS na,
      |                sqrt(list_sum(list_transform(generate_series(1, 64),
      |                  i -> b.carr[i] * b.carr[i]))) AS nb
      |         FROM ca a JOIN ca b ON a.label = b.label AND a.cohort = 0 AND b.cohort = 1)
      |SELECT label, n_a, n_b,
      |       round(sqrt(d2), 6) AS l2_shift,
      |       round(dot / (na * nb), 6) AS cosine
      |FROM pair
      |ORDER BY label""") { (spark, dir) =>
    import spark.implicits._
    val el = Tables.embeddings(spark, dir)
      .select($"label", ($"vec_id" % 2).as("cohort"), posexplode($"embedding"))
      .select($"label", $"cohort", ($"pos" + 1).as("dim"),
        floor($"col".cast("double") * 1e7).cast("long").as("xfp"))
    val cd = el.groupBy($"label", $"cohort", $"dim")
      .agg((sum($"xfp").cast("double") / (lit(1e7) * count(lit(1)))).as("c"),
        count(lit(1)).cast("long").as("n"))
    val ca = cd.groupBy($"label", $"cohort")
      .agg(transform(sort_array(collect_list(struct($"dim", $"c"))),
        x => x.getField("c")).as("carr"),
        max($"n").as("n"))
    def fold(expr: Column): Column = aggregate(expr, lit(0.0), (acc, v) => acc + v)
    val a = ca.filter($"cohort" === 0).select($"label", $"carr".as("ca_arr"), $"n".as("n_a"))
    val b = ca.filter($"cohort" === 1).select($"label", $"carr".as("cb_arr"), $"n".as("n_b"))
    a.join(b, Seq("label"))
      .select($"label", $"n_a", $"n_b",
        round(sqrt(fold(zip_with($"ca_arr", $"cb_arr", (x, y) => (x - y) * (x - y)))), 6)
          .as("l2_shift"),
        round(fold(zip_with($"ca_arr", $"cb_arr", (x, y) => x * y))
          / (sqrt(fold(zip_with($"ca_arr", $"ca_arr", (x, y) => x * y)))
            * sqrt(fold(zip_with($"cb_arr", $"cb_arr", (x, y) => x * y)))), 6)
          .as("cosine"))
      .orderBy($"label")
  }

  /** GRID-ACCELERATED DBSCAN (Ester et al. 1996; the grid join is the
    * ρ-approximate-free exact cell variant) over the first two embedding
    * dimensions: ε = 1/64, minPts = 4 (neighbors counted inclusive of the
    * point). Points land in ε-wide grid cells — `floor(x·64)` is EXACT
    * arithmetic on the float32 values — and candidate neighbors come only
    * from the 3×3 adjacent-cell equi-join, never all pairs; the ε-disk
    * test is a fixed-order double expression, so core/border/noise roles
    * and the min-id cluster labels are bit-reproducible cross-engine.
    * Clusters are connected components over core–core ε-edges (min-label
    * propagation, q100's machinery); border points (non-core in a core's
    * ε-disk) deterministically adopt the SMALLEST neighboring core's
    * cluster (classic DBSCAN leaves this tie arbitrary — pinned here);
    * the rest are noise. The oracle recomputes everything from the exact
    * quadratic pair join + a recursive CTE — the grid path must agree
    * row-for-row.
    *
    * 100 TB plan: the 9-cell explode + cell equi-join shuffles on cell id
    * (ε-packing bounds per-cell occupancy, so no quadratic blowup unless
    * the DATA is quadratic-dense at radius ε, which no metric index
    * escapes); component rounds are cluster-diameter-bounded; nothing
    * all-pairs, nothing driver-side. */
  val q402GridDbscan: GraftQuery = GraftQuery.oracled(
    "q402_grid_dbscan",
    """WITH RECURSIVE
      |p AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
      |      FROM embeddings),
      |nbr AS (SELECT a.vec_id AS va, b.vec_id AS vb
      |        FROM p a JOIN p b
      |          ON a.vec_id <> b.vec_id
      |         AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.000244140625),
      |deg AS (SELECT p.vec_id, 1 + COALESCE(n.c, 0) AS n_eps
      |        FROM p LEFT JOIN (SELECT va, count(*) AS c FROM nbr GROUP BY va) n
      |          ON n.va = p.vec_id),
      |core AS (SELECT vec_id FROM deg WHERE n_eps >= 4),
      |ce AS (SELECT va, vb FROM nbr
      |       WHERE va IN (SELECT vec_id FROM core) AND vb IN (SELECT vec_id FROM core)),
      |reach AS (SELECT vec_id AS id, vec_id AS lbl FROM core
      |          UNION
      |          SELECT e.vb AS id, r.lbl FROM reach r JOIN ce e ON e.va = r.id),
      |lab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
      |border AS (SELECT n.va AS vec_id, min(l.cluster) AS cluster
      |           FROM nbr n JOIN lab l ON l.id = n.vb
      |           WHERE n.va NOT IN (SELECT vec_id FROM core)
      |           GROUP BY n.va)
      |SELECT d.vec_id, d.n_eps,
      |       CASE WHEN l.id IS NOT NULL THEN 'core'
      |            WHEN b.vec_id IS NOT NULL THEN 'border'
      |            ELSE 'noise' END AS role,
      |       CAST(COALESCE(l.cluster, b.cluster, -1) AS BIGINT) AS cluster
      |FROM deg d
      |LEFT JOIN lab l ON l.id = d.vec_id
      |LEFT JOIN border b ON b.vec_id = d.vec_id
      |ORDER BY d.vec_id""") { (spark, dir) =>
    import spark.implicits._
    val p = Tables.embeddings(spark, dir)
      .select($"vec_id",
        element_at($"embedding", 1).cast("double").as("x"),
        element_at($"embedding", 2).cast("double").as("y"))
      .withColumn("cx", floor($"x" * 64).cast("long"))
      .withColumn("cy", floor($"y" * 64).cast("long"))
      .localCheckpoint(true)
    val eps2 = lit(0.000244140625) // (1/64)^2, exactly representable
    // 9-cell probe expansion on one side; equi-join on the cell key
    val offsets = Seq(-1L, 0L, 1L)
    val probe = p.withColumn("dx", explode(array(offsets.map(lit): _*)))
      .withColumn("dy", explode(array(offsets.map(lit): _*)))
      .select($"vec_id".as("va"), $"x".as("ax"), $"y".as("ay"),
        ($"cx" + $"dx").as("jx"), ($"cy" + $"dy").as("jy"))
    val nbr = probe.join(
      p.select($"vec_id".as("vb"), $"x".as("bx"), $"y".as("by"),
        $"cx".as("jx"), $"cy".as("jy")),
      Seq("jx", "jy"))
      .filter($"va" =!= $"vb" &&
        (($"ax" - $"bx") * ($"ax" - $"bx") + ($"ay" - $"by") * ($"ay" - $"by")) <= eps2)
      .select($"va", $"vb")
      .localCheckpoint(true)
    val deg = p.select($"vec_id")
      .join(nbr.groupBy($"va".as("vec_id")).agg(count(lit(1)).as("c")), Seq("vec_id"), "left")
      .select($"vec_id", (lit(1) + coalesce($"c", lit(0))).cast("long").as("n_eps"))
      .localCheckpoint(true)
    val core = deg.filter($"n_eps" >= 4).select($"vec_id")
    val ce = nbr
      .join(core.select($"vec_id".as("va")), Seq("va"), "left_semi")
      .join(core.select($"vec_id".as("vb")), Seq("vb"), "left_semi")
    // star alternation, not plain min-label: ε-components of 2-D points can
    // be long chains, so rounds must be O(log n), not diameter-bounded
    val lab = Dedup.starComponents(core.toDF("id"),
      ce.filter($"va" < $"vb").select($"va", $"vb"))._1
      .toDF("id", "cluster")
    val border = nbr
      .join(core.select($"vec_id".as("va")), Seq("va"), "left_anti")
      .join(lab.select($"id".as("vb"), $"cluster"), Seq("vb"))
      .groupBy($"va".as("vec_id")).agg(min($"cluster").as("cluster"))
    deg
      .join(lab.select($"id".as("vec_id"), $"cluster".as("core_cluster")), Seq("vec_id"), "left")
      .join(border.select($"vec_id", $"cluster".as("border_cluster")), Seq("vec_id"), "left")
      .select($"vec_id", $"n_eps",
        when($"core_cluster".isNotNull, "core")
          .when($"border_cluster".isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce($"core_cluster", $"border_cluster", lit(-1L)).cast("long").as("cluster"))
      .orderBy($"vec_id")
  }

  /** LATE-INTERACTION MaxSim RETRIEVAL (the ColBERT scoring rule,
    * Khattab & Zaharia 2020): instead of one vector per document, score
    * with per-token vectors — score(q,d) = Σ_{query tokens} max_{doc
    * tokens} ⟨q_t, d_t⟩ — which keeps term-level matching that a single
    * pooled vector (q48) blurs. Token vectors here are the documented
    * synthetic split of the 64-dim embedding into 8 contiguous 8-dim
    * slices (the real pipeline stores a token-major array column; the
    * Spark-side plumbing — slice explosion, per-token argmax, ordered
    * token sum, per-query top-k — is exactly what production needs).
    * The max over doc tokens is order-independent; the Σ over the 8
    * query tokens is an ordered fold; dot products are the q48
    * left-to-right double HOF — all bit-reproducible, strictly oracle'd.
    *
    * 100 TB plan: probe tokens (|Q|·8 rows) broadcast against the doc
    * token scan; per-(probe, doc) state is the 8-slot max vector inside
    * one hash agg; top-k via WindowGroupLimit. At index scale the doc
    * tokens come pre-bucketed by an ANN tier (q49/q98's plumbing) —
    * MaxSim only ever scores the candidate set. */
  val q417MaxsimRetrieval: GraftQuery = GraftQuery.oracled(
    "q417_maxsim_retrieval",
    """WITH tok AS (SELECT vec_id, ti, embedding[1 + 8 * ti : 8 + 8 * ti] AS tv
      |            FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS ti)),
      |probes AS (SELECT vec_id AS query_id, ti AS qi, tv AS qv FROM tok WHERE vec_id < 3),
      |dots AS (SELECT p.query_id, t.vec_id AS doc_id, p.qi,
      |                max(list_sum(list_transform(generate_series(1, 8),
      |                  i -> CAST(p.qv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))) AS mx
      |         FROM probes p JOIN tok t ON t.vec_id <> p.query_id
      |         GROUP BY 1, 2, 3),
      |score AS (SELECT query_id, doc_id,
      |                 list_sum(list(mx ORDER BY qi)) AS score
      |          FROM dots GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                ORDER BY score DESC, doc_id) AS rnk FROM score)
      |SELECT query_id, doc_id, rnk, round(score, 6) AS score
      |FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
    maxsimScores(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"query_id", $"doc_id", $"rnk", round($"score", 6).as("score"))
      .orderBy($"query_id", $"rnk")
  }

  /** q417's scoring core: MaxSim scores of every document against the
    * 3 probes, over the 8×8-dim synthetic token split. Shared with q418's
    * ranking-agreement audit. */
  private def maxsimScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.embeddings(spark, dir)
      .select($"vec_id", explode(sequence(lit(0), lit(7))).as("ti"), $"embedding")
      .select($"vec_id", $"ti", slice($"embedding", lit(1) + lit(8) * $"ti", lit(8)).as("tv"))
    val probes = tok.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"ti".as("qi"), $"tv".as("qv"))
    // left-to-right double dot over the 8-dim slices (q48's HOF discipline)
    val dot8 = aggregate(zip_with($"qv", $"tv",
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val dots = tok.join(broadcast(probes), $"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id".as("doc_id"), $"qi")
      .agg(max(dot8).as("mx"))
    def orderedSum(key: Column, value: Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    dots.groupBy($"query_id", $"doc_id")
      .agg(orderedSum($"qi", $"mx").as("score"))
  }

  /** RANK-BIASED OVERLAP between retrieval tiers (Webber, Moffat &
    * Zobel 2010) — DO the pooled-vector ranking (q48's cosine) and the
    * late-interaction ranking (q417's MaxSim) agree where it matters?
    * RBO@10 with persistence p = 1/2 weights agreement at depth d by
    * p^{d−1}·|A:d ∩ B:d|/d — top-heavy, the property Kendall/Spearman
    * lack and the reason IR uses RBO for ranking drift. p = 1/2 is
    * chosen so every weight is an EXACT power of two (1/2^{d−1} via bit
    * shift — no libm pow, whose last ulp differs across engines); the
    * per-depth overlap is an integer; the depth sum is an ordered fold —
    * strictly oracle'd. Overlap@d is computed per common doc as
    * max(rank_A, rank_B) ≤ d — one join, no per-depth set intersection.
    *
    * 100 TB plan: both rankings are probe-broadcast scans (q48/q417's
    * shapes); everything after the two top-10s is (probes × 10)-sized
    * census arithmetic. */
  val q418RankBiasedOverlap: GraftQuery = GraftQuery.oracled(
    "q418_rank_biased_overlap",
    """WITH nrm AS (SELECT vec_id, embedding,
      |       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      |       FROM embeddings),
      |cosr AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
      |       list_sum(list_transform(generate_series(1, 64),
      |         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
      |      FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
      |      WHERE q.vec_id < 3),
      |ra AS (SELECT query_id, doc_id,
      |              row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rnk
      |       FROM cosr QUALIFY rnk <= 10),
      |tok AS (SELECT vec_id, ti, embedding[1 + 8 * ti : 8 + 8 * ti] AS tv
      |        FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS ti)),
      |probes AS (SELECT vec_id AS query_id, ti AS qi, tv AS qv FROM tok WHERE vec_id < 3),
      |dots AS (SELECT p.query_id, t.vec_id AS doc_id, p.qi,
      |                max(list_sum(list_transform(generate_series(1, 8),
      |                  i -> CAST(p.qv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))) AS mx
      |         FROM probes p JOIN tok t ON t.vec_id <> p.query_id
      |         GROUP BY 1, 2, 3),
      |ms AS (SELECT query_id, doc_id, list_sum(list(mx ORDER BY qi)) AS score
      |       FROM dots GROUP BY 1, 2),
      |rb AS (SELECT query_id, doc_id,
      |              row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      |       FROM ms QUALIFY rnk <= 10),
      |common AS (SELECT a.query_id, a.doc_id,
      |                  CAST(greatest(a.rnk, b.rnk) AS BIGINT) AS m
      |           FROM ra a JOIN rb b ON b.query_id = a.query_id AND b.doc_id = a.doc_id),
      |grid AS (SELECT q.query_id, d.d
      |         FROM (SELECT DISTINCT query_id FROM ra) q,
      |              (SELECT unnest(generate_series(1, 10)) AS d) d),
      |ad AS (SELECT g.query_id, g.d,
      |              CAST(count(c.doc_id) AS BIGINT) AS a_d
      |       FROM grid g LEFT JOIN common c
      |         ON c.query_id = g.query_id AND c.m <= g.d
      |       GROUP BY 1, 2),
      |rbo AS (SELECT query_id,
      |               0.5 * list_sum(list(
      |                 (CAST(1 AS DOUBLE) / (1 << (d - 1))) * a_d / d ORDER BY d)) AS rbo,
      |               max(CASE WHEN d = 10 THEN a_d END) AS overlap10
      |        FROM ad GROUP BY query_id)
      |SELECT query_id, overlap10, round(rbo, 6) AS rbo
      |FROM rbo
      |ORDER BY query_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id")
    val n = normed(spark, dir)
    val q = n.toDF("query_id", "q_emb", "q_nrm").filter($"query_id" < 3)
    val c = n.toDF("doc_id", "c_emb", "c_nrm")
    val ra = c.crossJoin(broadcast(q))
      .filter($"doc_id" =!= $"query_id")
      .withColumn("cos", dot($"q_emb", $"c_emb") / ($"q_nrm" * $"c_nrm"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 10)
      .select($"query_id", $"doc_id", $"rnk")
    val wb = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
    val rb = maxsimScores(spark, dir)
      .withColumn("rnk", row_number().over(wb))
      .filter($"rnk" <= 10)
      .select($"query_id", $"doc_id", $"rnk".as("rnk_b"))
    val common = ra.join(rb, Seq("query_id", "doc_id"))
      .select($"query_id", $"doc_id",
        greatest($"rnk", $"rnk_b").cast("long").as("m"))
    val grid = ra.select($"query_id".as("gq")).distinct()
      .crossJoin(spark.range(1, 11).select($"id".cast("int").as("d")))
    val ad = grid.join(
        common.select($"query_id".as("cq"), $"doc_id".as("cdoc"), $"m"),
        $"cq" === $"gq" && $"m" <= $"d", "left")
      .groupBy($"gq".as("query_id"), $"d")
      .agg(count($"cdoc").cast("long").as("a_d"))
    def orderedSum(key: Column, value: Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    ad.groupBy($"query_id")
      .agg((lit(0.5) * orderedSum($"d",
        (lit(1.0) / expr("shiftleft(CAST(1 AS BIGINT), d - 1)")) * $"a_d" / $"d")).as("rbo"),
        max(when($"d" === 10, $"a_d")).as("overlap10"))
      .select($"query_id", $"overlap10", round($"rbo", 6).as("rbo"))
      .orderBy($"query_id")
  }

  /** EMBEDDING EXACT-DUP DEDUP via QUANTIZATION BUCKETS — the O(n)
    * pre-pass every vector index build runs before ANN: quantize each
    * dimension to integer milli-units (floor(x·1024) — ·2¹⁰ is exact in
    * IEEE, so both engines derive the identical key) and group on the
    * md5 of the quantized vector. Re-ingested, re-encoded and replicated
    * vectors collapse here for the cost of one hash-agg, so the ANN tiers
    * never waste candidates on byte-identical neighbors. Output: per
    * label, vector count, distinct quantization buckets, vectors that are
    * duplicates of an earlier one, and the largest duplicate group.
    * On the live corpus every vector is unique (n_dups = 0 — the honest
    * reading of a synthetic random cloud); on the ×10 synthesized sf1
    * tier the replicas collapse 10-to-1, which is exactly the workload
    * this operator exists for.
    *
    * 100 TB plan: ONE map-side projection (64 floors + an md5) and ONE
    * map-side-combinable hash-agg on the key — no pair stage at all; the
    * label census is a second ≤|labels|-row agg. This is the cheapest
    * dedup in the catalog and the first stage of the embedding ladder. */
  val q510EmbeddingQuantDedup: GraftQuery = GraftQuery.oracled(
    "q510_embedding_quant_dedup",
    """WITH k AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |                  md5(array_to_string(list_transform(embedding,
      |                        x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS VARCHAR)),
      |                      ',')) AS qkey
      |           FROM embeddings),
      |g AS (SELECT label, qkey, CAST(count(*) AS BIGINT) AS n FROM k GROUP BY 1, 2)
      |SELECT label,
      |       CAST(sum(n) AS BIGINT) AS n_vectors,
      |       CAST(count(*) AS BIGINT) AS n_buckets,
      |       CAST(sum(n - 1) AS BIGINT) AS n_dup_vectors,
      |       CAST(max(n) AS BIGINT) AS max_group
      |FROM g GROUP BY label ORDER BY label""") { (spark, dir) =>
    import spark.implicits._
    val k = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label".cast("long").as("label"),
        md5(concat_ws(",", transform($"embedding",
          x => floor(x.cast("double") * 1024).cast("long").cast("string")))).as("qkey"))
    k.groupBy($"label", $"qkey").agg(count(lit(1)).cast("long").as("n"))
      .groupBy($"label")
      .agg(sum($"n").cast("long").as("n_vectors"),
        count(lit(1)).cast("long").as("n_buckets"),
        sum($"n" - 1).cast("long").as("n_dup_vectors"),
        max($"n").cast("long").as("max_group"))
      .orderBy($"label")
  }

  /** TOP PRINCIPAL DIRECTION of the embedding cloud via FIXED-POINT POWER
    * ITERATION — the "all-but-the-top" common-direction estimator (Mu &
    * Viswanath 2018, arXiv:1702.01417; the remedy q360's anisotropy audit
    * calls for): isotropy post-processing removes the dominant direction
    * u₁ of the centered covariance, and this entry computes u₁ with
    * arithmetic that is EXACT end to end, so the DuckDB oracle replays it
    * integer for integer. Pipeline: quantize each embedding to integer
    * milli-units xq = ⌊x·1024⌋ (exact in IEEE — the q510 key discipline);
    * the scaled covariance numerator M = n·Σ xqxqᵀ − (Σxq)(Σxq)ᵀ is an
    * exact-integer 64×64 census (same eigenvectors as the sample
    * covariance — a positive scalar multiple); 8 power-iteration rounds
    * run DRIVER-SIDE in BigInt over the collected 4 096-cell census (the
    * q287/q348 bounded-census E3 pattern, guarded by a loud require) with
    * per-round L1 = 10⁶ fixed-point renormalization (the q446 discipline
    * — overflow structurally impossible, sign-split floor division so
    * Scala BigInt and DuckDB HUGEINT agree on negatives); the direction v
    * returns to the cluster as 64 literals and every vector's projection
    * ⟨xq, v⟩ is summed per label — the class-bias diagnostic ABTT exists
    * to expose. λ = ⌊v·Mv / v·v⌋ (nonnegative — M is PSD) rides along.
    *
    * Float-freedom: per-vector projection products are ≤ 1024·10⁶ and the
    * 64-term dot ≤ 6.6e10 < 2⁵³, so the HOF dot evaluates exactly in
    * doubles before the LONG cast; label sums stay ≤ ~1e15 at the ×10
    * tier (widen to DECIMAL(38) past ~1e17 vectors — noted, far beyond
    * any tier).
    *
    * 100 TB plan: the census is ONE map-side-combinable agg (each vector
    * emits its 4 096 products — the standard distributed-covariance
    * shape); the eigen-iteration is driver arithmetic over a CONSTANT
    * 4 096 cells regardless of corpus size; the projection pass is one
    * broadcast-literal scan. Nothing pair-scale, nothing iterative on the
    * cluster. */
  val q511PowerIteration: GraftQuery = GraftQuery.oracled(
    "q511_power_iteration",
    {
      // every per-round CTE MATERIALIZED — vK/sK each read wK and wK reads
      // v(K−1), so an inlined chain re-expands exponentially (the q446
      // oracle lesson: 34 s → 0.1 s)
      val iter = (1 to 8).map { k =>
        s"""w$k AS MATERIALIZED (SELECT m.i, sum(m.m * v.v) AS w FROM m JOIN v${k - 1} v ON v.i = m.j GROUP BY m.i),
           |s$k AS MATERIALIZED (SELECT greatest(sum(abs(w)), 1) AS sn FROM w$k),
           |v$k AS MATERIALIZED (SELECT i, CASE WHEN w < 0 THEN -((-w * 1000000) // sn)
           |                      ELSE (w * 1000000) // sn END AS v FROM w$k, s$k),""".stripMargin
      }.mkString("\n")
      s"""WITH eq AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |                  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS xq
         |           FROM embeddings),
         |ex AS MATERIALIZED (SELECT vec_id, label, i, xq[i] AS xi
         |      FROM eq, LATERAL (SELECT unnest(generate_series(1, 64)) AS i)),
         |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM eq),
         |g AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS HUGEINT) AS gsum
         |      FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |s AS (SELECT i, CAST(sum(xi) AS HUGEINT) AS si FROM ex GROUP BY i),
         |m AS MATERIALIZED (SELECT g.i, g.j, nn.n * g.gsum - sa.si * sb.si AS m
         |     FROM g JOIN s sa ON sa.i = g.i JOIN s sb ON sb.i = g.j, nn),
         |v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v
         |       FROM (SELECT unnest(generate_series(1, 64)) AS i)),
         |$iter
         |w9 AS (SELECT m.i, sum(m.m * v.v) AS w FROM m JOIN v8 v ON v.i = m.j GROUP BY m.i),
         |lam AS (SELECT CAST((SELECT sum(v.v * w.w) FROM v8 v JOIN w9 w ON w.i = v.i)
         |              // greatest((SELECT sum(v * v) FROM v8), 1) AS BIGINT) AS lambda),
         |p AS (SELECT e.label, e.vec_id, sum(e.xi * v.v) AS pd
         |      FROM ex e JOIN v8 v ON v.i = e.i GROUP BY 1, 2)
         |SELECT p.label, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(p.pd) AS BIGINT) AS proj_sum, lam.lambda
         |FROM p, lam GROUP BY p.label, lam.lambda ORDER BY p.label""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val eq = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label".cast("long").as("label"),
        transform($"embedding", x => floor(x.cast("double") * 1024).cast("long")).as("xq"))
      .localCheckpoint()
    // FUSED DISTRIBUTED GRAMIAN (guide §1.2 step 1 + §2.3, the MLlib
    // RowMatrix.computeGramianMatrix shape kept in EXACT integers): the old
    // plan exploded 4 096 (i, j, p) structs PER VECTOR into a hash-agg (the
    // entry's dominant stage, 8.2M struct rows at sf0.1), plus a second
    // 64-per-vector explode for Σxᵢ, plus a count pass. One mapPartitions
    // pass now folds each partition into a constant-size (upper-tri gram,
    // column sums, row count) accumulator — per-partition long arithmetic,
    // merged by a 2 080+64-cell reduce. Integer addition is commutative, so
    // the sums are bit-identical to the explode + sum plan at any
    // partitioning. Overflow envelope is UNCHANGED from the SQL sum(long):
    // |xqᵢ| ≤ 1024·|x| and per-cell partials stay < 2⁶³ until ~8.8e12
    // rows/partition (the same bound the old LongType sum carried).
    val acc = eq.select($"xq").rdd.mapPartitions { it =>
      val g = new Array[Long](2080); val s = new Array[Long](64); var n = 0L
      it.foreach { r =>
        val xq = r.getSeq[Long](0)
        var k = 0; var i = 0
        while (i < 64) {
          val xi = xq(i); s(i) += xi
          var j = i
          while (j < 64) { g(k) += xi * xq(j); k += 1; j += 1 }
          i += 1
        }
        n += 1
      }
      Iterator((g, s, n))
    }.reduce { case ((g1, s1, n1), (g2, s2, n2)) =>
      var k = 0; while (k < 2080) { g1(k) += g2(k); k += 1 }
      var i = 0; while (i < 64) { s1(i) += s2(i); i += 1 }
      (g1, s1, n1 + n2)
    }
    val (gsum, si, nRow) = acc
    // assemble M = n·Σxxᵀ − (Σx)(Σx)ᵀ in BigInt, mirroring the upper triangle
    val M = Array.ofDim[BigInt](64, 64)
    var mk = 0
    for (mi <- 0 until 64; mj <- mi until 64) {
      val mv = BigInt(nRow) * BigInt(gsum(mk)) - BigInt(si(mi)) * BigInt(si(mj))
      M(mi)(mj) = mv; M(mj)(mi) = mv
      mk += 1
    }
    require(mk == 2080, s"covariance census must be upper-tri 64x64, got $mk")
    def floorDivSigned(a: BigInt, b: BigInt): BigInt = { val q = a.abs / b; if (a < 0) -q else q }
    def matVec(v: Array[BigInt]): Array[BigInt] =
      Array.tabulate(64)(i => (0 until 64).map(j => M(i)(j) * v(j)).sum)
    var v = Array.fill(64)(BigInt(1000000))
    for (_ <- 1 to 8) {
      val w = matVec(v)
      val sn = w.map(_.abs).sum.max(BigInt(1))
      v = w.map(wi => floorDivSigned(wi * 1000000, sn))
    }
    val w9 = matVec(v)
    val lambda = ((0 until 64).map(i => v(i) * w9(i)).sum /
      (0 until 64).map(i => v(i) * v(i)).sum.max(BigInt(1))).toLong
    val vArr = array(v.map(x => lit(x.toDouble)): _*)
    // products ≤ 1024·10⁶, 64-term dot ≤ 6.6e10 < 2⁵³ → exact in doubles
    val pd = aggregate(zip_with($"xq", vArr, (a, b) => a.cast("double") * b),
      lit(0.0), (acc, x) => acc + x).cast("long")
    eq.select($"label", pd.as("pd"))
      .groupBy($"label")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum($"pd").cast("long").as("proj_sum"))
      .withColumn("lambda", lit(lambda))
      .orderBy($"label")
  }

  def all: Seq[GraftQuery] =
    Seq(q48KnnBruteForce, q49KnnLsh, q50EmbeddingNeardup, q96EmbeddingNeardupLsh,
      q98KnnIvf, q117KmeansClusters, q122ClusterSample, q140KnnPq, q221KnnIvfPq,
      q231SemanticDedup, q262KmeansElbow, q269LabelCentroids, q327JlProjection,
      q360AnisotropyAudit, q382MatryoshkaRecall, q383Int8QuantAudit,
      q386DaviesBouldin, q387AnnRecallEval, q393EmbeddingDrift, q402GridDbscan,
      q417MaxsimRetrieval, q418RankBiasedOverlap, q420RetrievalMetrics,
      q510EmbeddingQuantDedup, q511PowerIteration)

  /** RETRIEVAL QUALITY METRICS — MRR, recall@10 and nDCG@10 of the q48
    * cosine ranking against label relevance (relevant = same class as the
    * probe): the eval harness every retrieval tier (q48/q49/q98/q417)
    * gets judged by, as a QUERY rather than a notebook (q387 scores the
    * ANN candidate stage's recall vs exact; this scores the exact ranking
    * vs ground-truth labels). Float discipline: the log₂ rank discounts
    * 1/log₂(d+1) and the ideal-DCG prefix sums are PINNED 17-digit
    * literals on both engines (no libm log in either plan), the DCG is an
    * ordered fold, MRR and recall are single exact divisions — strictly
    * oracle'd.
    *
    * 100 TB plan: the ranking is q48's broadcast-probe scan; relevance
    * joins are label-census lookups; everything after the top-10 is
    * (probes × 10)-sized census arithmetic. */
  val q420RetrievalMetrics: GraftQuery = GraftQuery.oracled(
    "q420_retrieval_metrics",
    """WITH nrm AS (SELECT vec_id, label, embedding,
      |       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
      |       FROM embeddings),
      |r AS (SELECT q.vec_id AS query_id, q.label AS plabel, c.vec_id AS doc_id, c.label AS dlabel,
      |       row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |         list_sum(list_transform(generate_series(1, 64),
      |           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (q.nrm * c.nrm) DESC,
      |         c.vec_id) AS rnk
      |      FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
      |      WHERE q.vec_id < 10 QUALIFY rnk <= 10),
      |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
      |per AS (SELECT r.query_id, r.rnk,
      |               CASE WHEN r.dlabel = r.plabel THEN 1 ELSE 0 END AS rel,
      |               CAST(CASE r.rnk WHEN 1 THEN 1.0 WHEN 2 THEN 0.6309297535714575
      |                 WHEN 3 THEN 0.5 WHEN 4 THEN 0.43067655807339306
      |                 WHEN 5 THEN 0.38685280723454163 WHEN 6 THEN 0.3562071871080222
      |                 WHEN 7 THEN 0.3333333333333333 WHEN 8 THEN 0.31546487678572877
      |                 WHEN 9 THEN 0.3010299956639812 ELSE 0.2890648263178879 END AS DOUBLE) AS w
      |        FROM r),
      |tr AS (SELECT r.query_id, max(lc.n) - 1 AS total_rel
      |       FROM (SELECT DISTINCT query_id, plabel FROM r) r JOIN lc ON lc.label = r.plabel
      |       GROUP BY r.query_id),
      |agg AS (SELECT query_id,
      |               CAST(sum(rel) AS BIGINT) AS rel_top10,
      |               CAST(COALESCE(min(CASE WHEN rel = 1 THEN rnk END), 0) AS BIGINT) AS first_rel,
      |               list_sum(list(rel * w ORDER BY rnk)) AS dcg
      |        FROM per GROUP BY query_id),
      |fin AS (SELECT a.query_id, t.total_rel, a.rel_top10, a.first_rel, a.dcg,
      |               CASE WHEN a.first_rel > 0 THEN CAST(1 AS DOUBLE) / a.first_rel ELSE CAST(0 AS DOUBLE) END AS rr,
      |               CASE WHEN t.total_rel > 0 THEN (1000000 * a.rel_top10) // t.total_rel ELSE 0 END AS recall_ppm,
      |               CAST(CASE least(t.total_rel, 10)
      |                 WHEN 1 THEN 1.0 WHEN 2 THEN 1.6309297535714575
      |                 WHEN 3 THEN 2.1309297535714578 WHEN 4 THEN 2.5616063116448506
      |                 WHEN 5 THEN 2.9484591188793923 WHEN 6 THEN 3.3046663059874146
      |                 WHEN 7 THEN 3.637999639320748 WHEN 8 THEN 3.953464516106477
      |                 WHEN 9 THEN 4.254494511770458 ELSE 4.543559338088346 END AS DOUBLE) AS idcg
      |        FROM agg a JOIN tr t ON t.query_id = a.query_id)
      |SELECT query_id, total_rel, rel_top10, first_rel,
      |       round(rr, 6) AS rr, CAST(recall_ppm AS BIGINT) AS recall_ppm,
      |       round(CASE WHEN total_rel = 0 THEN CAST(0 AS DOUBLE) ELSE dcg / idcg END, 6) AS ndcg
      |FROM fin
      |ORDER BY query_id""") { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val n = Tables.embeddings(spark, dir).select($"vec_id", $"label", $"embedding")
      .withColumn("nrm", l2norm($"embedding"))
    val q = n.select($"vec_id".as("query_id"), $"label".as("plabel"),
      $"embedding".as("q_emb"), $"nrm".as("q_nrm")).filter($"query_id" < 10)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"doc_id")
    val r = n.select($"vec_id".as("doc_id"), $"label".as("dlabel"),
        $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      .crossJoin(broadcast(q))
      .filter($"doc_id" =!= $"query_id")
      .withColumn("cos", dot($"q_emb", $"c_emb") / ($"q_nrm" * $"c_nrm"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 10)
      .select($"query_id", $"plabel", $"doc_id", $"dlabel", $"rnk")
    val ws = Seq(1.0, 0.6309297535714575, 0.5, 0.43067655807339306,
      0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
      0.31546487678572877, 0.3010299956639812, 0.2890648263178879)
    val cums = Seq(1.0, 1.6309297535714575, 2.1309297535714578,
      2.5616063116448506, 2.9484591188793923, 3.3046663059874146,
      3.637999639320748, 3.953464516106477, 4.254494511770458,
      4.543559338088346)
    val wCol = ws.zipWithIndex.foldLeft(lit(ws.last)) { case (acc, (v, i)) =>
      when($"rnk" === i + 1, v).otherwise(acc)
    }
    val lc = Tables.embeddings(spark, dir).groupBy($"label")
      .agg(count(lit(1)).cast("long").as("ln"))
    val per = r.select($"query_id", $"plabel", $"rnk",
      when($"dlabel" === $"plabel", 1).otherwise(0).as("rel"), wCol.as("w"))
    def orderedSum(key: Column, value: Column) =
      aggregate(
        transform(sort_array(collect_list(struct(key.as("k"), value.as("v")))),
          x => x.getField("v")),
        lit(0.0), (acc, v) => acc + v)
    val agg = per.groupBy($"query_id", $"plabel")
      .agg(sum($"rel").cast("long").as("rel_top10"),
        coalesce(min(when($"rel" === 1, $"rnk")), lit(0)).cast("long").as("first_rel"),
        orderedSum($"rnk", $"rel" * $"w").as("dcg"))
    val tr = agg.join(broadcast(lc), $"plabel" === $"label")
      .select($"query_id", $"rel_top10", $"first_rel", $"dcg",
        ($"ln" - 1).cast("long").as("total_rel"))
    val idcg = cums.zipWithIndex.foldLeft(lit(cums.last)) { case (acc, (v, i)) =>
      when(least($"total_rel", lit(10L)) === i + 1, v).otherwise(acc)
    }
    tr.select($"query_id", $"total_rel", $"rel_top10", $"first_rel",
      round(when($"first_rel" > 0, lit(1.0) / $"first_rel").otherwise(0.0), 6).as("rr"),
      when($"total_rel" > 0, expr("(1000000 * rel_top10) div total_rel"))
        .otherwise(0L).cast("long").as("recall_ppm"),
      round(when(least($"total_rel", lit(10L)) === 0, 0.0)
        .otherwise($"dcg" / idcg), 6).as("ndcg"))
      .orderBy($"query_id")
  }
}
