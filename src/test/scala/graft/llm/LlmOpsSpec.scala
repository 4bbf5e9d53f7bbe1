package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Correctness gates for the approximate (non-oracle) LLM-pipeline ops:
  * each is judged against its exact counterpart (SURVEY.md §5). */
class LlmOpsSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  /** The explode → distinct → cap chain that [[Dedup.shingleSigsOf]]
    * replaces, written out as the independent reference: the distinct
    * (doc_id, s) 3-gram shingles of `split(text, ' ')`, minus every shingle
    * found in more than `maxDf` documents. */
  private def referenceCappedShingles(docs: org.apache.spark.sql.DataFrame,
      maxDf: Int): org.apache.spark.sql.DataFrame = {
    val t = split(col("text"), " ")
    val sh = docs.filter(size(t) >= 3)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", slice(t, i, lit(3))))).as("s"))
      .distinct()
    val hot = sh.groupBy(col("s")).agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
    sh.join(broadcast(hot), Seq("s"), "left_anti").select(col("doc_id"), col("s"))
  }

  test("PQ ANN: full shortlist reduces exactly to brute force; shortlist=50 recall holds") {
    import spark.implicits._
    val exact = Similarity.q48KnnBruteForce.fn(spark, sf)
      .select($"query_id", $"neighbor_id", $"rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // shortlist >= corpus size => rerank over everything == brute force
    val n = graft.sources.Tables.embeddings(spark, sf).count().toInt
    val full = Similarity.pqTopK(spark, sf, shortlist = n)
      .select($"query_id", $"neighbor_id", $"rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === exact, "full-shortlist PQ must equal exact brute force")
    // production shortlist: recall@5 of the exact top-5 set
    val pq = Similarity.q140KnnPq.fn(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case (q, nb, _) => (q, nb) }
    val recall = (pq intersect exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"PQ recall@5 = $recall below 0.8")
  }

  test("IVF-PQ: both knobs disabled reduces exactly to brute force; production recall holds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val exact = Similarity.q48KnnBruteForce.fn(spark, sf)
      .select($"query_id", $"neighbor_id", $"rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val n = graft.sources.Tables.embeddings(spark, sf).count().toInt
    // nProbe = k (every cell probed) + shortlist = corpus (no ADC cut):
    // the composite must reproduce brute force EXACTLY.
    val full = Similarity.pqTopK(spark, sf, shortlist = n,
      candidates = Some(Similarity.ivfCandidates(spark, sf, kCells = 16, nProbe = 16)))
      .select($"query_id", $"neighbor_id", $"rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full === exact, "nProbe=k + full shortlist must equal brute force")
    // production knobs: recall@5 floor vs exact
    val prod = Similarity.q221KnnIvfPq.fn(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case (q, nb, _) => (q, nb) }
    val recall = (prod intersect exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.7, s"IVF-PQ recall@5 = $recall below 0.7")
  }

  test("count-min sketch estimates bound the exact counts (one-sided eps*N error)") {
    import spark.implicits._
    // raw sketch gate — q136 now emits the contract as a driver-oracle'd
    // boolean; this probes the numbers behind the flag
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("tok"))
    val skBytes = toks
      .agg(expr("count_min_sketch(tok, CAST(1e-4 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)").as("sk"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val top = toks.groupBy($"tok").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"tok").limit(10).collect()
    assert(top.length === 10)
    val n = toks.count()
    val slack = (1e-4 * n).ceil.toLong
    for (r <- top) {
      val tok = r.getString(0); val exact = r.getLong(1)
      val est = cms.estimateCount(tok)
      assert(est >= exact, s"$tok: CMS never underestimates, got $est < $exact")
      assert(est <= exact + slack, s"$tok: $est exceeds $exact + eps*N ($slack)")
    }
    // and the entry's driver-facing flags are all true
    TextAnalysis.q136CmsHeavyHitters.fn(spark, sf).collect()
      .foreach(r => assert(r.getAs[Boolean]("cms_within_eps"),
        s"${r.getString(0)}: cms_within_eps is false"))
  }

  test("MinHashLSH recovers every exact-jaccard near-dup pair (recall = 1 at smoke sf)") {
    import spark.implicits._
    val exact = Dedup.q45NeardupJaccard.fn(spark, sf)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.q46NeardupMinhashLsh.fn(spark, sf)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "smoke corpus should contain planted near-dups")
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed exact pairs: $missed")
  }

  test("SimHash: near-dup pairs are closer in hamming distance than random pairs") {
    import spark.implicits._
    val sim = Dedup.q47Simhash.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val nearPairs = Dedup.q45NeardupJaccard.fn(spark, sf)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearPairs.nonEmpty)
    val nearDist = nearPairs.map { case (a, b) => hamming(sim(a), sim(b)) }
    val ids = sim.keys.toArray.sorted
    val randDist = ids.take(40).flatMap(a => ids.takeRight(40).filter(_ > a).take(2)
      .map(b => hamming(sim(a), sim(b))))
    val nearAvg = nearDist.sum.toDouble / nearDist.length
    val randAvg = randDist.sum.toDouble / randDist.length
    assert(nearAvg < randAvg / 2,
      s"near-dup avg hamming $nearAvg should be far below random avg $randAvg")
    assert(nearDist.forall(_ <= 12), s"near-dups should differ in few bits: ${nearDist.toSeq}")
  }

  test("LSH ANN: every (query,neighbor) within euclidean 6 found by brute force is returned") {
    import spark.implicits._
    // exact euclidean pairs under the same threshold
    val e = graft.sources.Tables.embeddings(spark, sf)
    val a = e.select($"vec_id".as("query_id"), $"embedding".as("ea")).filter($"query_id" < 10)
    val b = e.select($"vec_id".as("neighbor_id"), $"embedding".as("eb"))
    val dist = sqrt(aggregate(
      zip_with($"ea", $"eb", (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x))
    val exact = a.crossJoin(b).filter($"query_id" =!= $"neighbor_id")
      .withColumn("d", dist).filter($"d" <= 6.0)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.q49KnnLsh.fn(spark, sf)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // LSH with 4 tables on this corpus should achieve full recall at smoke sf
    val missed = exact -- approx
    assert(missed.size <= exact.size / 10, s"LSH recall below 90%: missed $missed")
  }

  test("LSH-bucketed near-dup (q96): exact precision, >=90% recall vs all-pairs q50") {
    import spark.implicits._
    val exact = Similarity.q50EmbeddingNeardup.fn(spark, sf)
      .select($"vec_a", $"vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.q96EmbeddingNeardupLsh.fn(spark, sf)
      .select($"vec_a", $"vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "smoke corpus should contain cosine near-dup pairs")
    // precision is exact by construction: candidates are re-checked with the
    // same exact cosine as q50, so every emitted pair must be in the truth set
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val missed = exact -- lsh
    assert(missed.size <= exact.size / 10, s"bucket recall below 90%: missed $missed")
  }

  test("shingle frequency cap drops hot shingles and bounds the pair join") {
    import spark.implicits._
    // 80 docs sharing one boilerplate sentence: uncapped, each boilerplate
    // shingle alone emits C(80,2) = 3160 candidate pairs (the quadratic
    // blowup); capped at maxDf=50 the hot shingles vanish and only the
    // per-doc-unique tail shingles survive.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (1L to 80L).map(i => (i, s"$boiler unique$i marker$i tail$i"))
      .toDF("doc_id", "text")
    val sh = docs.select($"doc_id",
      explode(graft.functions.ShingleExpression.shingleSet($"text", 3)).as("s")).cache()
    def pairCount(s: org.apache.spark.sql.DataFrame): Long =
      s.toDF("ida", "sa").join(s.toDF("idb", "sb"), $"sa" === $"sb" && $"ida" < $"idb").count()
    val uncapped = pairCount(sh)
    assert(uncapped >= 80L * 79 / 2, s"fixture should blow up uncapped, got $uncapped")
    val capped = Dedup.cappedShinglesOf(docs).cache() // shingleSigsOf, tk exploded
    val cappedPairs = pairCount(capped)
    assert(cappedPairs < uncapped / 100, s"cap should collapse the join: $cappedPairs vs $uncapped")
    // no surviving shingle exceeds the document-frequency cap
    val maxDf = capped.groupBy($"s").agg(count(lit(1)).as("df")).agg(max($"df")).head
    assert(maxDf.isNullAt(0) || maxDf.getLong(0) <= 50)
    sh.unpersist(); capped.unpersist()
  }

  test("one-pass shingle-set builder equals the explode/cap/regroup chain row for row") {
    import spark.implicits._
    import graft.functions.MinHashExpression
    type Row3 = (Long, Seq[String], Seq[Long])
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row3] =
      df.select($"doc_id", $"tk", $"sig").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1), r.getSeq[Long](2))).toSeq.sortBy(_._1)
    def reference(docs: org.apache.spark.sql.DataFrame): Seq[Row3] =
      rows(referenceCappedShingles(docs, 50)
        .groupBy($"doc_id").agg(sort_array(collect_list($"s")).as("tk"))
        .withColumn("sig", MinHashExpression.minhash64($"tk")))
    // ids, not a count: an earlier test's non-blocking unpersist may still
    // drop an old entry while this one runs, but never adds one
    def pinned: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def rddId(frame: org.apache.spark.sql.DataFrame): Int =
      frame.queryExecution.logical.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.get

    // cap branch: 80 docs share a boilerplate sentence (df = 90 > 50 for its
    // shingles once docs 81-90, the bare sentence, join them); docs 81-90
    // lose every shingle to the cap and doc 91 has < 3 tokens, so all
    // eleven must be absent
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((1L to 80L).map(i => (i, s"$boiler unique$i marker$i tail$i")) ++
      (81L to 90L).map(i => (i, boiler)) :+ (91L, "two words"))
      .toDF("doc_id", "text")
    val want = reference(docs)
    assert(want.map(_._1) === (1L to 80L), "fixture must exercise the cap")
    assert(want.forall(_._2.size == 3), "only the three per-doc tail shingles survive")
    val before = pinned
    val memo = Dedup.shingleSigsOf(docs, pin = true)
    assert(pinned -- before === Set(rddId(memo)),
      "the capped frame alone stays pinned: the cap releases the first frame")
    assert(rows(memo) === want)
    graft.engine.Memos.unpersistFrame(memo)
    assert((pinned -- before).isEmpty)
    assert(rows(Dedup.shingleSigsOf(docs, pin = false)) === want)
    assert((pinned -- before).isEmpty, "the unpinned plan must hold no storage")

    // no-cap branch on the smoke corpus, through the session memo projections
    val corpus = graft.sources.Tables.documents(spark, sf)
    val ref = reference(corpus)
    assert(ref.nonEmpty)
    assert(rows(Dedup.shingleSigsOf(corpus, pin = false)) === ref)
    val sets = Dedup.cappedShingleSets(spark, sf)
      .join(Dedup.minhashSigs(spark, sf), "doc_id")
    assert(rows(sets) === ref)
  }

  test("banded simhash join returns exactly the hamming<=3 pair set (pigeonhole)") {
    // truth from the q105 signature frame (the portable md5 kernel since
    // r7 — q47's xxh64 kernel has its own bit-equality gate in SimHashSpec)
    val sim = Dedup.simhashes60(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sim.keys.toArray.sorted
    val exact = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sim(a) ^ sim(b)) <= 3
    } yield (a, b)).toSet
    assert(exact.nonEmpty, "smoke corpus should contain hamming<=3 simhash pairs")
    val banded = Dedup.q105SimhashNeardup.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === exact,
      s"banding must equal the all-pairs hamming<=3 set; diff ${(banded -- exact) ++ (exact -- banded)}")
  }

  test("min-label propagation: path graph collapses to one cluster, singleton survives") {
    import spark.implicits._
    // path 1-2-3-4-5 forces label 1 to travel 4 hops (multi-round
    // convergence), 6-7 is a separate component, 8 is isolated
    val verts = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L)).toDF("doc_a", "doc_b")
    val got = Dedup.minLabelComponents(verts, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 8L))
  }

  test("IVF ANN with nProbe=k is exactly brute force; nProbe=4 keeps recall") {
    import spark.implicits._
    val exact = Similarity.q48KnnBruteForce.fn(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every cell degenerates IVF to exact search — the candidate
    // generation + rerank plumbing must reproduce q48 verbatim
    val full = Similarity.ivfTopK(spark, sf, k = 8, nProbe = 8)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, s"nProbe=k should equal brute force; diff ${(full -- exact) ++ (exact -- full)}")
    // the shipped q98 config (k=16, nProbe=4) probes a quarter of the space
    val ivf = Similarity.q98KnnIvf.fn(spark, sf)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below floor; missed ${exact -- ivf}")
  }

  test("SemDeDup: k=1 is exactly the brute-force keep-min-id rule; cells only lower recall") {
    import spark.implicits._
    // ground truth: a vector is dropped iff a LOWER-id vector anywhere in
    // the corpus sits at cosine >= tau (single-cell == exact all-pairs)
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    val exact = Similarity.semanticDropped(spark, sf, k = 1, tau = 0.4)
      .select($"drop_id").collect().map(_.getLong(0)).toSet
    val pairs = Similarity.q50EmbeddingNeardup.fn(spark, sf)
      .select($"vec_a", $"vec_b").collect()
    val brute = pairs.map(_.getLong(1)).toSet // vec_b is always the larger id
    assert(exact === brute, "k=1 SemDeDup must equal the exact all-pairs drop set")
    assert(exact.nonEmpty && exact.size < n, "drop set should be non-trivial at smoke sf")
    // clustered config: dropping is confined to cells => subset of exact
    val clustered = Similarity.semanticDropped(spark, sf, k = 16, tau = 0.4)
      .select($"drop_id").collect().map(_.getLong(0)).toSet
    assert(clustered.subsetOf(exact),
      "cells must never drop a pair the exact rule would keep")
    // census invariant: kept + dropped == members per cell
    val census = Similarity.q231SemanticDedup.fn(spark, sf).collect()
    assert(census.forall(r => r.getLong(1) == r.getLong(2) + r.getLong(3)))
  }

  test("KMeans elbow: cost is non-increasing in k; sweep is seeded-deterministic") {
    import spark.implicits._
    val a = Similarity.q262KmeansElbow.fn(spark, sf).collect()
    assert(a.map(_.getInt(0)).toSeq === Seq(2, 4, 8, 16))
    val costs = a.map(_.getDouble(1))
    assert(costs.forall(_ >= 0.0))
    assert(costs.sliding(2).forall { case Array(x, y) => y <= x + 1e-6; case _ => true },
      s"WSSSE must be non-increasing in k: ${costs.toSeq}")
    val b = Similarity.q262KmeansElbow.fn(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "seeded elbow sweep must be deterministic")
  }

  test("brute-force kNN: neighbors are the true top-5 by cosine") {
    import spark.implicits._
    val knn = Similarity.q48KnnBruteForce.fn(spark, sf)
    val counts = knn.groupBy($"query_id").count().collect()
    assert(counts.length === 10 && counts.forall(_.getLong(1) === 5))
    // rank 1 cosine >= rank 5 cosine per query
    val byQ = knn.collect().groupBy(_.getLong(0))
    for ((_, rows) <- byQ) {
      val sorted = rows.sortBy(_.getInt(2))
      val cos = sorted.map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y })
    }
  }

  test("approxNearestNeighbors: single-key ANN recovers most of the exact top-5") {
    import spark.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val e = graft.sources.Tables.embeddings(spark, sf)
    val vecs = e.select($"vec_id", array_to_vector($"embedding").as("features"))
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(4).setSeed(42)
      .fit(vecs)
    val key = vecs.filter($"vec_id" === 0).head.getAs[org.apache.spark.ml.linalg.Vector]("features")
    val ann = model.approxNearestNeighbors(vecs.filter($"vec_id" =!= 0), key, 5)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    // exact top-5 by euclidean distance
    val dist = sqrt(aggregate(
      zip_with($"embedding", lit(key.toArray.map(_.toFloat)),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x))
    val exact = e.filter($"vec_id" =!= 0).withColumn("d", dist)
      .orderBy($"d", $"vec_id").limit(5)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(ann.size === 5)
    assert((ann intersect exact).size >= 3, s"ANN recall too low: $ann vs $exact")
  }

  test("codegen graft_dot is bit-identical to the HOF dot formulation") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sf)
    val a = e.select($"vec_id".as("ia"), $"embedding".as("ea")).limit(40)
    val b = e.select($"vec_id".as("ib"), $"embedding".as("eb")).limit(40)
    val both = a.crossJoin(b)
      .select(
        Similarity.dot($"ea", $"eb").as("native"),
        Similarity.dotHof($"ea", $"eb").as("hof"))
      .collect()
    assert(both.nonEmpty)
    // bit-exact: same widening, same fold order
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("delta dedup classifies exact_dup, near_dup and unique (with exact > near precedence)") {
    import spark.implicits._
    val w = (1 to 30).map(i => s"w$i").mkString(" ")       // 30 distinct tokens
    val wNear = (1 to 30).map(i => if (i == 15) "CHANGED" else s"w$i").mkString(" ")
    // 1 changed mid token alters 3 of 28 shingles: jaccard 25/31 ≈ 0.806 ≥ 0.8
    val u = (1 to 30).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, w, "corpus"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", "corpus"),
      (101L, w, "delta"),                           // identical text: exact AND near both fire → exact wins
      (102L, wNear, "delta"),                       // near-dup of doc 1
      (103L, u, "delta"))                           // unique
      .toDF("doc_id", "text", "source")
    val got = Dedup.deltaDedup(docs, col("source") === "delta", Dedup.cappedShinglesOf(docs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(101L -> "exact_dup", 102L -> "near_dup", 103L -> "unique"))
  }

  test("contamination check flags exactly the train docs sharing an eval 5-gram") {
    import spark.implicits._
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"    // 4 5-grams
    val contaminated = "intro words then alpha beta gamma delta epsilon closing remarks" // shares 1 eval 5-gram
    val clean = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (0L, evalText, true),
      (1L, contaminated, false),
      (2L, clean, false),
      (3L, evalText, false))  // full copy of the eval doc: all 4 shingles hit
      .toDF("doc_id", "text", "is_eval")
    val got = Dedup.contamination(docs, $"is_eval")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 1L), (3L, 4L, 1L)),
      s"expected doc 1 (1 shingle) and doc 3 (4 shingles) flagged, got ${got.toSeq}")
  }

  test("passage dedup: owner keeps its passage, copies count as dup, uniques don't") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"p$i").mkString(" ")      // exactly one 10-token passage
    val docs = Seq(
      (1L, shared + " " + (1 to 10).map(i => s"a$i").mkString(" ")),  // owner: 2 passages, 0 dup
      (2L, shared + " " + (1 to 10).map(i => s"b$i").mkString(" ")),  // copy: 2 passages, 1 dup
      (3L, (1 to 10).map(i => s"c$i").mkString(" ")))                 // unique: 1 passage, 0 dup
      .toDF("doc_id", "text")
    val got = Dedup.passageDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 2L, 0L, 0.0), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0)))
  }

  test("binaryFile ingest round-trips every document's bytes (length + sha)") {
    import spark.implicits._
    val viaFiles = Multimodal.q116BinaryFileIngest.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val direct = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", length($"text".cast("binary")).cast("long"), sha2($"text".cast("binary"), 256))
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(viaFiles.nonEmpty && viaFiles.toSeq === direct.toSeq)
  }

  test("kmeans cluster profile: partition laws + deterministic across fits") {
    import spark.implicits._
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    val p1 = Similarity.q117KmeansClusters.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(p1.map(_._2).sum === total, "every vector assigned to exactly one cluster")
    assert(p1.length <= 10 && p1.length >= 2, s"expected 2..10 non-empty clusters, got ${p1.length}")
    assert(p1.map(_._1).distinct.length === p1.length, "canonical labels are distinct")
    assert(p1.forall(_._3 >= 0.0))
    val p2 = Similarity.q117KmeansClusters.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(p1.toSeq === p2.toSeq, "seeded fit must be reproducible in-session")
  }

  test("cluster-stratified sample: subset of corpus, per-cluster cap respected") {
    import spark.implicits._
    val sampled = Similarity.q122ClusterSample.fn(spark, sf).collect()
    val corpus = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(sampled.nonEmpty)
    assert(sampled.map(_.getLong(0)).toSet.subsetOf(corpus))
    // Bernoulli draws target 30/cluster; allow generous binomial slack but
    // catch a broken fraction (e.g. sampling everything from a big cell)
    val perCluster = sampled.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(perCluster.values.forall(_ <= 60), s"cluster over cap: ${perCluster.toMap}")
    // clusters bigger than the cap must actually be downsampled
    val sizes = Similarity.q117KmeansClusters.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((k, n) <- sizes if n > 60)
      assert(perCluster.getOrElse(k, 0) < n, s"cluster $k (size $n) not downsampled")
  }

  test("curation pipeline: every verdict arm fires with correct precedence") {
    import spark.implicits._
    val eval20 = "the " + (1 to 19).map(i => s"e$i").mkString(" ")        // eval doc
    val contam = "the " + (1 to 14).map(i => s"a$i").mkString(" ") +
      " e5 e6 e7 e8 e9"                                                   // shares ONE eval 5-gram
    val k20 = "the " + (1 to 19).map(i => s"k$i").mkString(" ")           // exact-dup pair text
    val n30 = "the " + (1 to 29).map(i => s"n$i").mkString(" ")           // near-dup pair base
    val n30x = n30.replace(" n15 ", " CHANGED ")                          // jaccard 25/31 ≈ 0.806
    val docs = Seq(
      (1L, contam, false),                         // contaminated (not near-dup: 3 of ~18 shingles)
      (2L, "too short", false),                    // low_quality (< 20 tokens)
      (3L, k20, false),                            // keep (min of the exact pair)
      (4L, k20, false),                            // exact_dup (before near_dup despite jaccard=1)
      (5L, n30, false),                            // keep (cluster min)
      (6L, n30x, false),                           // near_dup
      (7L, "the " + (1 to 19).map(i => s"u$i").mkString(" "), false), // keep
      (10L, eval20, true))                         // eval_holdout (before everything)
      .toDF("doc_id", "text", "is_eval")
    val got = Curation.curate(docs, $"is_eval")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "contaminated", 2L -> "low_quality", 3L -> "keep", 4L -> "exact_dup",
      5L -> "keep", 6L -> "near_dup", 7L -> "keep", 10L -> "eval_holdout"))
  }

  test("mega-cluster guard: passes small clusters, fails loudly past the cap") {
    import spark.implicits._
    // real labels (tiny clusters) pass through untouched
    val docs = graft.sources.Tables.documents(spark, sf)
    val lab = Dedup.minLabelComponents(
        docs.select($"doc_id"),
        Dedup.neardupPairs(Dedup.cappedShinglesOf(docs)).select($"doc_a", $"doc_b"))
      .toDF("doc_id", "cluster_id")
    assert(Dedup.guardClusterSizes(lab).count() === docs.count())
    // a synthetic mega-cluster (cap+1 members under one label) fails loudly
    val mega = spark.range(0, Dedup.MaxDedupClusterSize + 1)
      .select($"id".as("doc_id"), lit(0L).as("cluster_id"))
    val e = intercept[IllegalStateException](Dedup.guardClusterSizes(mega))
    assert(e.getMessage.contains("mega-cluster guard"))
  }

  test("q349 LSH-path curation: containment law vs q127's exact path") {
    // Since r9 the pair stage is the portable-banded VERIFIED set —
    // candidates ∩ exact — so it is a SUBSET of q127's exact pairs: a
    // banding miss drops edges, which can only SPLIT components. A verdict
    // may therefore differ ONLY by a doc moving FROM near_dup to a
    // post-near_dup arm ({keep, contaminated}); every other arm is
    // pair-independent and must match exactly, and a doc q349 calls
    // near_dup must be near_dup under the exact pairs too.
    val exact = Curation.q127CurationPipeline.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val lsh = Curation.q349CurationLsh.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lsh.keySet === exact.keySet)
    for ((id, vExact) <- exact; vLsh = lsh(id); if vLsh != vExact) {
      assert(vExact == "near_dup" && Set("keep", "contaminated")(vLsh),
        s"doc $id: exact=$vExact lsh=$vLsh — illegal verdict flip")
    }
    // near_dup flags in the LSH path never exceed the exact path's
    for ((id, v) <- lsh if v == "near_dup")
      assert(exact(id) == "near_dup", s"doc $id gained a near_dup flag")
  }

  test("portable-LSH verified pairs equal the exact capped-index pairs (q349's strict-oracle precondition)") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val exact = Dedup.neardupPairs(Dedup.cappedShinglesOf(docs)).select($"doc_a", $"doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val port = Dedup.neardupPairsPortableLshVerified(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(port.subsetOf(exact),
      "verified pairs must be candidates ∩ exact — a non-exact pair survived the verify stage")
    assert(port === exact,
      "portable 4×4 banding missed a real pair on this corpus — the " +
        "empirical recall-1 law (j≈0.9–1.0 ⇒ P[all bands miss] < 1e-3) broke")
  }

  test("slice-equality banding of portable signatures equals the oracle's md5 band-key candidates") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val long = Dedup.portableMinhashSigs(Dedup.cappedShinglesOf(docs)).localCheckpoint()
    val sig = Dedup.portableSigArrays(long)
    assert(sig.count() > 1 && sig.filter(size($"sig") =!= 16).isEmpty)
    for (rows <- Seq(2, 4, 8)) {
      // the band keys the DuckDB oracles derive: md5 of each band's
      // comma-joined hashes, in i order
      val band = long.groupBy($"doc_id", expr(s"i div $rows").as("b"))
        .agg(expr(
          "md5(concat_ws(',', transform(sort_array(collect_list(struct(i, minhash))), x -> cast(x.minhash AS string))))")
          .as("bk"))
      val md5Keys = band.toDF("doc_a", "b", "bk")
        .join(band.toDF("doc_b", "b", "bk"), Seq("b", "bk"))
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.bandCandidates(sig, sig, rows).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(md5Keys.nonEmpty)
      assert(got.length === got.toSet.size, s"rows=$rows: a pair was kept on two bands")
      assert(got.toSet === md5Keys,
        s"rows=$rows: slice-only ${(got.toSet -- md5Keys).take(5)}, " +
          s"md5-only ${(md5Keys -- got.toSet).take(5)}")
    }
  }

  test("q380 hash-collision audit: monotone in bucket count, occupancy bounded") {
    import spark.implicits._
    val rows = TextAnalysis.q380HashCollisionAudit.fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(10L, 14L, 18L))
    val vocab = graft.sources.Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("t"))
      .filter($"t" =!= "").distinct().count()
    var prev = Long.MaxValue
    for (r <- rows) {
      val k = r.getLong(0); val toks = r.getLong(1)
      val occ = r.getLong(2); val cppm = r.getLong(3)
      assert(toks === vocab)
      assert(occ <= math.min(toks, 1L << k), s"occupancy over bound at k=$k")
      assert(occ >= 1)
      assert(cppm <= prev, s"collisions increased with more buckets at k=$k")
      prev = cppm
    }
  }

  test("q385 delta-LSH near-dup == q372 banded pairs restricted to delta×corpus") {
    import spark.implicits._
    val deltaPairs = Dedup.deltaNeardupLsh(spark, sf)
      .select($"delta_id", $"corpus_id", $"jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.q372MinhashBanded.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def isDelta(id: Long) = id % 10 == 7
    val restricted = full.collect {
      case (a, b, j) if isDelta(a) && !isDelta(b) => (a, b, j)
      case (a, b, j) if !isDelta(a) && isDelta(b) => (b, a, j)
    }.toSet
    assert(deltaPairs === restricted,
      s"incremental path diverged: delta-only=${deltaPairs -- restricted}, " +
        s"full-only=${restricted -- deltaPairs}")
  }

  test("q382 matryoshka recall: overlaps bounded, full-dim top-1 agrees with q48") {
    import spark.implicits._
    val rows = Similarity.q382MatryoshkaRecall.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val ov = r.getLong(1)
      assert(ov >= 0 && ov <= 10, s"overlap@10 out of range: $ov")
    }
    val top1 = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val q48Top1 = Similarity.q48KnnBruteForce.fn(spark, sf)
      .filter($"rnk" === 1 && $"query_id" < 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 === q48Top1, "full-dim top-1 disagrees with q48 brute force")
  }

  test("q383 int8 quant audit: MSE within the quantization-theory bound, no saturation blowup") {
    import spark.implicits._
    val rows = Similarity.q383Int8QuantAudit.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // worst-case per-element error is scale/2 (round-to-nearest), so
    // mse_fp ≤ (maxScale/2)² · 1e12 across every label
    val maxScale = graft.sources.Tables.embeddings(spark, sf)
      .select(posexplode($"embedding"))
      .agg(max(abs($"col".cast("double")))).head.getDouble(0) / 127
    val bound = math.pow(maxScale / 2, 2) * 1e12
    for (r <- rows) {
      val n = r.getLong(1); val sat = r.getLong(2); val mse = r.getLong(4)
      assert(n > 0)
      assert(mse.toDouble <= bound + 1,
        s"label ${r.get(0)}: mse_fp $mse over theory bound $bound")
      assert(sat * 100 <= n, s"label ${r.get(0)}: >1% saturated elements ($sat/$n)")
    }
  }

  test("q387 ANN recall eval: k=10 everywhere, mean candidate-stage recall floored") {
    import spark.implicits._
    val rows = Similarity.q387AnnRecallEval.fn(spark, sf).collect()
    assert(rows.length === 10)
    assert(rows.forall(_.getAs[Long]("k") == 10L), "exact side must contribute k=10 per probe")
    // the driver-facing floor flag must be true on every row
    assert(rows.forall(_.getAs[Boolean]("mean_recall_ge_50pct")),
      "LSH candidate stage recall collapsed below the 50% mean floor")
  }

  test("q395 incremental components == full recompute; untouched labels stable") {
    import spark.implicits._
    val incremental = Dedup.q395IncrementalComponents.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.q100DedupClusters.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incremental === full, "incremental labeling diverged from full recompute")
    // corpus docs in components untouched by any delta edge keep their
    // corpus-only label (the amortized-state contract)
    val pairs = Dedup.q45NeardupJaccard.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def isDelta(id: Long) = id % 10 == 7
    val corpusOnly = pairs.filter { case (a, b) => !isDelta(a) && !isDelta(b) }
    val corpusDocs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id").collect().map(_.getLong(0)).filterNot(isDelta)
    val baseLabels = {
      // reference union-find over corpus-only edges
      val parent = scala.collection.mutable.Map(corpusDocs.map(d => d -> d): _*)
      def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
      for ((a, b) <- corpusOnly) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      corpusDocs.map(d => d -> find(d)).toMap
    }
    val touchedBaseLabels = pairs.filter { case (a, b) => isDelta(a) || isDelta(b) }
      .flatMap { case (a, b) => Seq(a, b).filterNot(isDelta).map(baseLabels) }.toSet
    for (d <- corpusDocs if !touchedBaseLabels(baseLabels(d)))
      assert(incremental(d) === baseLabels(d),
        s"untouched corpus doc $d was relabeled ${baseLabels(d)} -> ${incremental(d)}")
  }

  test("q396 banding sweep: candidate nesting law and monotone recall") {
    import spark.implicits._
    val sig = Dedup.minhashSigs(spark, sf).localCheckpoint()
    // bands × rows: 2×8, 4×4, 8×2
    def cand(rows: Int) = Dedup.bandCandidates(sig, sig, rows)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (c2, c4, c8) = (cand(8), cand(4), cand(2))
    assert(c2.subsetOf(c4), s"2x8 candidates not nested in 4x4: ${(c2 -- c4).take(5)}")
    assert(c4.subsetOf(c8), s"4x4 candidates not nested in 8x2: ${(c4 -- c8).take(5)}")
    // since r9 the sweep rides PORTABLE md5 signatures and its oracle
    // derives each scheme's candidates identically, so strictness no
    // longer depends on recall = 1 (the r8 xxh64 recall-law oracle broke
    // at sf1 on 3 missed pairs); recall = 1 at THIS smoke tier is still
    // asserted here as the empirical law, while the high-precision 2×8
    // scheme — whose recall is genuinely < 1 — is pinned to its
    // containment laws (candidates nested above, verified ⊆ exact).
    val exact = Dedup.q45NeardupJaccard.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Dedup.q396BandingSweep.fn(spark, sf).collect()
    assert(rows.map(_.getLong(0)).distinct.toSeq === Seq(4L, 8L))
    for (bn <- Seq(4L, 8L)) {
      val got = rows.filter(_.getLong(0) == bn)
        .map(r => (r.getLong(2), r.getLong(3))).toSet
      assert(got === exact,
        s"scheme ${bn}x${16 / bn}: verified set != exact q45 set; " +
          s"diff ${(got -- exact) ++ (exact -- got)}")
    }
    // 2×8's candidate containment (c2 ⊆ c4 ⊆ c8) is asserted above; its
    // verified set is c2 ∩ exact by construction, so the only additional
    // pin worth making is that the recall-complete claim does NOT extend
    // to it silently — recorded via the oracle's grid simply omitting it.
  }

  test("multimodal decode stub: metadata arithmetic consistent with payload bytes") {
    import spark.implicits._
    val meta = Multimodal.q56MultimodalMeta.fn(spark, sf)
    val bad = meta.filter(
      $"width" =!= $"n_bytes" % 640 ||
      $"height" =!= ($"n_bytes" * 7) % 480 ||
      $"channels" =!= 3 ||
      length($"sha") =!= 64)
    assert(bad.count() === 0)
  }

  test("BPE whole-symbol guard: prefix-collision fixture matches the reference trainer") {
    import spark.implicits._
    // After round 1 merges (a,b) -> "@ab", the word 'aab' holds "@a @ab";
    // round 2's merge (@a, @a) must NOT consume the "@a @a"-shaped PREFIX
    // of "@a @ab" (the pre-r9 unguarded replace corrupted it to "@a@ab").
    val docs = Seq.fill(10)("ab").mkString(" ") + " " +
      Seq.fill(6)("aa").mkString(" ") + " aab"
    val got = graft.llm.TextAnalysis.bpeTrain(Seq(docs).toDF("text"), 2)
      .map { case (l, r, n) => (l.stripPrefix("@"), r.stripPrefix("@"), n) }
    // reference: symbol-aligned merges — round 1 fuses (a,b) n=11 (10 'ab'
    // + 1 inside 'aab'), which leaves 'aab' as "@a @ab", so round 2's
    // (a,a) count is the 6 'aa' words only
    assert(got === Seq(("a", "b", 11L), ("a", "a", 6L)))
    // and the guard must keep "@a @ab" INTACT through round 2's apply (the
    // unguarded replace matched its "@a @a" prefix and fused it to the
    // nonsense symbol "@a@ab"): round 3's top pair must be (@a, @ab) n=1
    val got3 = graft.llm.TextAnalysis.bpeTrain(Seq(docs).toDF("text"), 3)
    assert(got3.length === 3)
    assert(got3(2)._1 === "@a" && got3(2)._2 === "@ab" && got3(2)._3 === 1L)
  }

  test("BPE trainer matches an independent in-memory reference on the classic fixture") {
    import spark.implicits._
    // Sennrich et al.'s worked example shape: repeated words with shared
    // prefixes/suffixes so merge order is fully determined by counts.
    val docs = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest",
      "widest widest").toDF("text")

    // Independent reference trainer: plain Scala on a word census, same
    // (count DESC, pair ASC) tie-break, no Spark.
    def reference(corpus: Seq[String], k: Int): Seq[(String, String, Long)] = {
      var census: Map[Vector[String], Long] = corpus
        .flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .map { case (w, c) => w.map(_.toString).toVector -> c }
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      for (_ <- 1 to k) {
        val pairs = scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, c) <- census; i <- 0 until syms.length - 1)
          pairs((syms(i), syms(i + 1))) = pairs.getOrElse((syms(i), syms(i + 1)), 0L) + c
        if (pairs.nonEmpty) {
          val ((l, r), n) = pairs.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
          out += ((l, r, n))
          census = census.map { case (syms, c) =>
            val merged = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                merged += (l + r); i += 2
              } else { merged += syms(i); i += 1 }
            }
            merged.toVector -> c
          }.groupBy(_._1).view.mapValues(_.values.sum).toMap
        }
      }
      out.toSeq
    }

    val expected = reference(Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest",
      "widest widest"), 6)
    val got = TextAnalysis.bpeTrain(docs, 6)
      .map { case (l, r, n) => (l.stripPrefix("@"), r.stripPrefix("@"), n) }
    assert(got === expected, s"learned merges $got != reference $expected")
    // and the catalog entry is well-formed on the real corpus
    val cat = TextAnalysis.q312BpeTrain.fn(spark, sf).collect()
    assert(cat.length === 12)
    assert(cat.map(_.getInt(0)).toSeq === (1 to 12))
  }
}
