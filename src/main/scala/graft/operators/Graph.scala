package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.GraftQuery
import graft.functions.ShingleExpression.shingleSet
import graft.sources.Tables

/** Graph analytics over the co-order part graph: two parts are adjacent when
  * some order contains both (restricted to heavy lineitems, l_quantity ≥ 40,
  * which keeps the clique explosion per order bounded and the graph
  * interesting — ~58k edges / 17k triangles at sf0.1). Relational graph ops
  * — triangle counting and PageRank — expressed as joins/aggs so Catalyst
  * plans the shuffles.
  */
object Graph {

  /** Oriented edge list a<b of the co-order part graph; `distinct` collapses
    * parallel edges from parts co-occurring in many orders. Memoized per
    * (session, dir) as "coOrderEdges": nine catalog entries (triangles,
    * PageRank family, LPA, k-core, Adamic–Adar, WL, k-truss …) each
    * re-derived the same lineitem self-join + distinct per invocation. */
  private[operators] def coOrderEdges(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.engine.Memos.memo(spark, dir, "coOrderEdges") {
      import spark.implicits._
      val li = Tables.lineitem(spark, dir)
        .filter($"l_quantity" >= 40)
        .select($"l_orderkey".as("k"), $"l_partkey")
      graft.engine.Memos.checkpoint(
        li.as("x").join(li.as("y"), $"x.k" === $"y.k" && $"x.l_partkey" < $"y.l_partkey")
          .select($"x.l_partkey".as("a"), $"y.l_partkey".as("b"))
          .distinct())
    }

  /** Triangle counting via the compact-forward wedge join: with every edge
    * oriented a<b, each triangle {x<y<z} is counted EXACTLY once as
    * e(x,y)⋈e(y,z)⋈e(x,z) — no ÷6 correction, no symmetric blowup. Output
    * is the graph summary (nodes, edges, triangles).
    *
    * 100 TB plan: the wedge join shuffles oriented edges on the middle
    * vertex; wedge count is Σ deg²_out, and ordering edges by DEGREE
    * instead of id (the production refinement) caps out-degree at O(√m) so
    * hub vertices can't explode the wedge stage. The per-order pair
    * generation is bounded by (items/order choose 2) — order sizes are
    * capped in any real schema — and `distinct` collapses multiplicity
    * before the quadratic stage. */
  val q154Triangles: GraftQuery = GraftQuery.oracled(
    "q154_triangles",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM (SELECT a AS v FROM e UNION SELECT b FROM e)) AS n_nodes,
      |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
      |       (SELECT CAST(count(*) AS BIGINT)
      |        FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""") { (spark, dir) =>
    import spark.implicits._
    val e = coOrderEdges(spark, dir)
    val nodes = e.select($"a".as("v")).union(e.select($"b")).distinct()
      .agg(count(lit(1)).cast("long").as("n_nodes"))
    val edges = e.agg(count(lit(1)).cast("long").as("n_edges"))
    val tris = e.as("e1").join(e.as("e2"), $"e1.b" === $"e2.a")
      .join(e.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    nodes.crossJoin(edges).crossJoin(tris)
  }

  /** PageRank, 5 fixed power iterations (damping 0.85) on the symmetrized
    * co-order graph — top-20 parts by rank. The loop is driver-side ONLY in
    * its trip count: each iteration is one join (rank/deg onto edges) plus
    * one sum-agg keyed by destination, exactly the message-passing shape;
    * no rank vector ever reaches the driver. Symmetrization guarantees
    * out-degree ≥ 1, so there are no dangling-mass corrections.
    *
    * STRICT since r6 (formerly rows-only): ranks are ×10¹² FIXED-POINT
    * BIGINTs — per-edge contribution `r div deg`, update
    * 0.15·10¹² + (85·Σ) div 100 — so every iteration is summation-order-
    * free integer arithmetic and the DuckDB oracle unrolls the SAME five
    * rounds verbatim (q355's pattern, minus its float-sum exposure). The
    * top-20 cut orders by the exact integer rank with a vertex tie-break.
    * Floor division leaks ≤ deg·5 units of 10⁻¹² mass per vertex — far
    * below any rank gap the cut could see; GraphSpec still pins the float
    * helper's closed-form star fixture and the fp/float agreement.
    *
    * 100 TB plan: edges and ranks co-shuffle on vertex id each round —
    * production pre-partitions both once and reuses the partitioning
    * (bucketed edge table); iteration results checkpoint every ~5 rounds
    * to cut lineage (same discipline as q100/q109's components loop). */
  val q155PageRank: GraftQuery = GraftQuery.oracled(
    "q155_pagerank",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |p AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
      |r0 AS (SELECT src AS v, CAST(1000000000000 AS BIGINT) AS r FROM deg),
      |r1 AS (SELECT e.dst AS v, 150000000000 + (85 * sum(r0.r // deg.d)) // 100 AS r
      |       FROM e JOIN r0 ON e.src = r0.v JOIN deg ON e.src = deg.src GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS v, 150000000000 + (85 * sum(r1.r // deg.d)) // 100 AS r
      |       FROM e JOIN r1 ON e.src = r1.v JOIN deg ON e.src = deg.src GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS v, 150000000000 + (85 * sum(r2.r // deg.d)) // 100 AS r
      |       FROM e JOIN r2 ON e.src = r2.v JOIN deg ON e.src = deg.src GROUP BY e.dst),
      |r4 AS (SELECT e.dst AS v, 150000000000 + (85 * sum(r3.r // deg.d)) // 100 AS r
      |       FROM e JOIN r3 ON e.src = r3.v JOIN deg ON e.src = deg.src GROUP BY e.dst),
      |r5 AS (SELECT e.dst AS v, 150000000000 + (85 * sum(r4.r // deg.d)) // 100 AS r
      |       FROM e JOIN r4 ON e.src = r4.v JOIN deg ON e.src = deg.src GROUP BY e.dst)
      |SELECT v AS part, CAST(r AS BIGINT) AS rank_fp
      |FROM r5 ORDER BY rank_fp DESC, part LIMIT 20""") { (spark, dir) =>
    import spark.implicits._
    pageRankFp(coOrderEdges(spark, dir), iters = 5)
      .orderBy($"r".desc, $"v")
      .limit(20)
      .select($"v".as("part"), $"r".as("rank_fp"))
  }

  /** PERSONALIZED PageRank (Haveliwala 2002; the seeded-restart variant
    * under every "expand this trusted seed set" curation pass — quality-
    * domain expansion, seed-based spam hunting, related-item retrieval):
    * identical fixed-point machinery to q155, but restart mass returns to
    * a SEED SET (the graph vertices of the data-derived brand 'Brand#11')
    * instead of every vertex: r₊(v) = [v∈S]·(15·seedShare) div 100 +
    * (85·Σ r(u) div deg u) div 100, seedShare = 10¹² div |S|. Four
    * unrolled rounds in the DuckDB oracle (q155's pattern); the output is
    * the top-20 by exact integer proximity with the seed flag — seeds
    * rank high, non-seed parts that co-order with them surface next, and
    * the ordering is the graph-proximity ranking a brute PageRank can't
    * give (q155's global ranks are seed-blind).
    *
    * 100 TB plan: q155's — per round one co-partitioned join + hash-agg;
    * the seed table is a broadcast; restart mass never touches the
    * driver. */
  val q479PersonalizedPr: GraftQuery = GraftQuery.oracled(
    "q479_personalized_pagerank",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |p AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
      |s AS (SELECT deg.src AS v FROM deg JOIN part ON p_partkey = deg.src
      |      WHERE p_brand = 'Brand#11'),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM s),
      |sh AS (SELECT CAST(1000000000000 // ns AS BIGINT) AS share FROM ns),
      |r0 AS (SELECT deg.src AS v,
      |              CASE WHEN s.v IS NOT NULL THEN sh.share ELSE 0 END AS r
      |       FROM deg LEFT JOIN s ON s.v = deg.src, sh),
      |r1 AS (SELECT deg.src AS v,
      |              CASE WHEN s.v IS NOT NULL THEN (15 * sh.share) // 100 ELSE 0 END
      |              + (85 * coalesce(m.c, 0)) // 100 AS r
      |       FROM deg
      |       LEFT JOIN (SELECT e.dst, sum(r0.r // deg.d) AS c
      |                  FROM e JOIN r0 ON e.src = r0.v JOIN deg ON e.src = deg.src
      |                  GROUP BY e.dst) m ON m.dst = deg.src
      |       LEFT JOIN s ON s.v = deg.src, sh),
      |r2 AS (SELECT deg.src AS v,
      |              CASE WHEN s.v IS NOT NULL THEN (15 * sh.share) // 100 ELSE 0 END
      |              + (85 * coalesce(m.c, 0)) // 100 AS r
      |       FROM deg
      |       LEFT JOIN (SELECT e.dst, sum(r1.r // deg.d) AS c
      |                  FROM e JOIN r1 ON e.src = r1.v JOIN deg ON e.src = deg.src
      |                  GROUP BY e.dst) m ON m.dst = deg.src
      |       LEFT JOIN s ON s.v = deg.src, sh),
      |r3 AS (SELECT deg.src AS v,
      |              CASE WHEN s.v IS NOT NULL THEN (15 * sh.share) // 100 ELSE 0 END
      |              + (85 * coalesce(m.c, 0)) // 100 AS r
      |       FROM deg
      |       LEFT JOIN (SELECT e.dst, sum(r2.r // deg.d) AS c
      |                  FROM e JOIN r2 ON e.src = r2.v JOIN deg ON e.src = deg.src
      |                  GROUP BY e.dst) m ON m.dst = deg.src
      |       LEFT JOIN s ON s.v = deg.src, sh),
      |r4 AS (SELECT deg.src AS v,
      |              CASE WHEN s.v IS NOT NULL THEN (15 * sh.share) // 100 ELSE 0 END
      |              + (85 * coalesce(m.c, 0)) // 100 AS r
      |       FROM deg
      |       LEFT JOIN (SELECT e.dst, sum(r3.r // deg.d) AS c
      |                  FROM e JOIN r3 ON e.src = r3.v JOIN deg ON e.src = deg.src
      |                  GROUP BY e.dst) m ON m.dst = deg.src
      |       LEFT JOIN s ON s.v = deg.src, sh)
      |SELECT r4.v AS part, CAST(r4.r AS BIGINT) AS ppr_fp,
      |       CASE WHEN s.v IS NOT NULL THEN TRUE ELSE FALSE END AS is_seed
      |FROM r4 LEFT JOIN s ON s.v = r4.v
      |ORDER BY ppr_fp DESC, part LIMIT 20""") { (spark, dir) =>
    import spark.implicits._
    val oriented = coOrderEdges(spark, dir)
    val edges = oriented.select($"a".as("src"), $"b".as("dst"))
      .union(oriented.select($"b", $"a")).localCheckpoint()
    val deg = edges.groupBy($"src").agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint() // read every round + for the seed/vertex frames
    val seeds = deg.join(
        Tables.part(spark, dir).filter($"p_brand" === "Brand#11")
          .select($"p_partkey".as("src")), Seq("src"), "left_semi")
      .select($"src".as("v")).localCheckpoint()
    val nS = seeds.count()
    // Guard the SF/data-dependent empty-seed case LOUDLY: with no Brand#11
    // part in the qty>=40 co-order graph, share would divide by zero here
    // and the oracle's `// ns` would error its own way — fail with the
    // actionable message instead of an ArithmeticException (round-6 ADVICE).
    require(nS > 0,
      "q479: personalized-PageRank seed set is empty (no Brand#11 part in " +
        "the co-order graph at this SF) — pick a brand present in the graph")
    val share = 1000000000000L / nS
    val withDeg = edges.join(deg, "src")
    val restart = deg.select($"src".as("v"))
      .join(seeds.withColumn("seed", lit(true)), Seq("v"), "left")
      .select($"v", when($"seed", lit(15L * share / 100L)).otherwise(0L).as("rs"),
        coalesce($"seed", lit(false)).as("is_seed"))
      .localCheckpoint()
    var ranks = restart.select($"v",
      when($"is_seed", lit(share)).otherwise(0L).as("r"))
    for (_ <- 1 to 4) {
      val contrib = withDeg.join(ranks, $"src" === $"v")
        .select($"dst", expr("r div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("m"))
      ranks = restart
        .join(contrib, restart("v") === contrib("dst"), "left")
        .select(restart("v"),
          ($"rs" + expr("(85 * coalesce(m, 0)) div 100")).cast("long").as("r"))
    }
    ranks.join(restart.select($"v", $"is_seed"), Seq("v"))
      .orderBy($"r".desc, $"v")
      .limit(20)
      .select($"v".as("part"), $"r".as("ppr_fp"), $"is_seed")
  }

  /** Fixed-point (×10¹²) power iteration — integer twin of [[pageRank]]. */
  private[operators] def pageRankFp(oriented: DataFrame, iters: Int): DataFrame = {
    val spark = oriented.sparkSession
    import spark.implicits._
    val edges = oriented.select($"a".as("src"), $"b".as("dst"))
      .union(oriented.select($"b", $"a")).cache()
    val deg = edges.groupBy($"src").agg(count(lit(1)).cast("long").as("deg"))
    val withDeg = edges.join(deg, "src").cache()
    withDeg.count()
    var ranks = deg.select($"src".as("v"), lit(1000000000000L).as("r"))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(ranks, $"src" === $"v")
        .select($"dst", expr("r div deg").as("c"))
      ranks = contrib.groupBy($"dst".as("v"))
        .agg(expr("150000000000 + (85 * sum(c)) div 100").cast("long").as("r"))
    }
    val out = ranks
    edges.unpersist()
    out
  }

  /** Power iteration on an oriented edge list (symmetrized internally). */
  private[operators] def pageRank(oriented: DataFrame, iters: Int): DataFrame = {
    val spark = oriented.sparkSession
    import spark.implicits._
    val edges = oriented.select($"a".as("src"), $"b".as("dst"))
      .union(oriented.select($"b", $"a")).cache()
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src").cache()
    withDeg.count()
    var ranks = deg.select($"src".as("v"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(ranks, $"src" === $"v")
        .select($"dst", ($"rank" / $"deg").as("c"))
      ranks = contrib.groupBy($"dst".as("v"))
        .agg((lit(0.15) + lit(0.85) * sum($"c")).as("rank"))
    }
    val out = ranks
    edges.unpersist()
    out
  }

  /** BFS shortest hop counts from a seed vertex over the ED-1 name
    * similarity graph (q160's edges): 8 fixed rounds of frontier-join +
    * min-distance fold — the distributed BFS primitive (label propagation
    * carrying distance instead of component id, q100's shape). The DuckDB
    * oracle walks the SAME capped-depth expansion as a recursive CTE, so
    * the fixed horizon is part of the spec on both sides, not a Spark
    * shortcut.
    *
    * 100 TB plan: each round is one edge join keyed on the frontier vertex
    * + one min-groupBy — no driver data motion at all (the loop count is a
    * constant, not a convergence read-back); at web-graph scale the same
    * loop runs with the distance table bucketed on vertex so every round
    * reuses one partitioning. Unreached vertices simply never enter the
    * distance table (no sentinel rows to carry). */
  val q177BfsHops: GraftQuery = GraftQuery.oracled(
    "q177_bfs_hops",
    """WITH RECURSIVE v AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000),
      |e AS (SELECT a.c_name AS s, b.c_name AS t FROM v a, v b
      |      WHERE a.c_name <> b.c_name
      |        AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |        AND levenshtein(a.c_name, b.c_name) <= 1),
      |bfs AS (
      |  SELECT (SELECT min(c_name) FROM v) AS name, 0 AS d
      |  UNION
      |  SELECT e.t, bfs.d + 1 FROM bfs JOIN e ON e.s = bfs.name WHERE bfs.d < 8
      |)
      |SELECT name, CAST(min(d) AS BIGINT) AS hops
      |FROM bfs GROUP BY name ORDER BY name""") { (spark, dir) =>
    import spark.implicits._
    val edges = graft.llm.FuzzyJoin.ed1Edges(spark, dir).cache()
    val seed = graft.llm.FuzzyJoin.nameVocab(spark, dir)
      .agg(min($"c_name").as("name"))
      .withColumn("d", lit(0L))
    // Truncate lineage every round with an eager localCheckpoint: `dist`
    // appears twice in each step (union + join), so an unmaterialized loop
    // doubles the logical tree per round (2⁸ scan copies by round 8), and a
    // cache-chain variant OOMs — each round's InMemoryRelation retains its
    // parent's plan, and unpersisting the parent re-derives through the
    // freed chain. Checkpointed rounds hold rows, not plans.
    var dist = seed.localCheckpoint()
    for (_ <- 1 to 8) {
      val next = dist.join(edges, $"name" === $"s")
        .select($"t".as("name"), ($"d" + 1).as("d"))
      dist = dist.unionByName(next)
        .groupBy($"name").agg(min($"d").as("d"))
        .localCheckpoint()
    }
    val out = dist.select($"name", $"d".as("hops")).orderBy($"name")
    out.count() // materialize before releasing the edge cache
    edges.unpersist()
    out
  }

  /** Community detection via SYNCHRONIZED label propagation (Raghavan et
    * al. 2007), 3 fixed rounds on the symmetrized co-order graph, made
    * fully deterministic: every node starts labeled with its own id, and
    * each round adopts the smallest among its neighbors' most-frequent
    * labels (count DESC, label ASC) — the tie rule that makes sync-LPA
    * reproducible across engines, so the oracle can unroll the same three
    * rounds as CTEs and match exactly. Output is the community size
    * census after round 3.
    *
    * Scale note: each round is one join (labels onto edge destinations,
    * both sides hash-partitioned on vertex id) + one two-key count agg +
    * one per-node argmin — the same message-passing shape as q155's
    * PageRank; the trip count alone is driver-side. Production LPA
    * pre-partitions the edge list once and reuses it every round. */
  val q207LabelPropagation: GraftQuery = GraftQuery.oracled(
    "q207_label_propagation",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |       FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
      |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),
      |r1 AS (SELECT e.src AS v, l.lbl, count(*) AS c FROM e JOIN l0 l ON e.dst = l.v GROUP BY 1, 2),
      |l1 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM r1) WHERE rn = 1),
      |r2 AS (SELECT e.src AS v, l.lbl, count(*) AS c FROM e JOIN l1 l ON e.dst = l.v GROUP BY 1, 2),
      |l2 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM r2) WHERE rn = 1),
      |r3 AS (SELECT e.src AS v, l.lbl, count(*) AS c FROM e JOIN l2 l ON e.dst = l.v GROUP BY 1, 2),
      |l3 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM r3) WHERE rn = 1)
      |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
      |FROM l3 GROUP BY lbl
      |ORDER BY community""") { (spark, dir) =>
    import spark.implicits._
    val e0 = coOrderEdges(spark, dir)
    val e = e0.select($"a".as("src"), $"b".as("dst"))
      .union(e0.select($"b".as("src"), $"a".as("dst")))
    var labels = e.select($"src".as("v")).distinct()
      .select($"v", $"v".as("lbl"))
    for (_ <- 1 to 3) {
      labels = e.join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
        .groupBy($"src", $"lbl").agg(count(lit(1)).as("c"))
        .groupBy($"src")
        .agg(min_by($"lbl", struct((-$"c").as("nc"), $"lbl")).as("lbl"))
        .select($"src".as("v"), $"lbl")
    }
    labels.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).cast("long").as("n_members"))
      .orderBy($"community")
  }

  /** k-CORE decomposition (k=3) by synchronized peeling: 8 fixed rounds of
    * "drop every vertex with degree < 3, keep only edges between
    * survivors" on the symmetrized co-order graph. The fixed horizon is
    * part of the operator spec on BOTH engines (q177's BFS discipline) —
    * GraphSpec asserts the peel has actually reached its fixpoint by round
    * 8 at the test scales, so the horizon is a proven bound, not a
    * truncation. Output is each core member with its within-core degree.
    *
    * 100 TB plan: each round is one hash-agg (degree) + two semi-joins
    * keyed on vertex id — edges and degrees co-partition, so after the
    * first round every subsequent round reuses the same partitioning;
    * rounds are data-free on the driver (constant trip count). Peeling
    * only shrinks the edge set, so per-round cost is monotonically
    * decreasing. */
  val q228KCore: GraftQuery = GraftQuery.oracled(
    "q228_kcore", {
      // MATERIALIZED: each round references its predecessor three times
      // (degree, two semi-joins); inlined CTEs would re-derive the chain
      // 3^8 times (observed as handle exhaustion in DuckDB).
      val rounds = (1 to 8).map { i =>
        val p = if (i == 1) "e" else s"e${i - 1}"
        s"""d$i AS (SELECT src, count(*) AS n FROM $p GROUP BY 1),
           |k$i AS (SELECT src AS v FROM d$i WHERE n >= 3),
           |e$i AS MATERIALIZED (SELECT p.src, p.dst FROM $p p JOIN k$i a ON p.src = a.v JOIN k$i b ON p.dst = b.v)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
         |e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
         |       FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
         |$rounds
         |SELECT src AS v, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e8 GROUP BY src ORDER BY v"""
        .stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    val e0 = coOrderEdges(spark, dir)
    val sym = e0.select($"a".as("src"), $"b".as("dst"))
      .union(e0.select($"b".as("src"), $"a".as("dst")))
    kCore(sym, k = 3, rounds = 8).orderBy($"v")
  }

  /** Peel `rounds` times: drop vertices with degree < k, keep edges between
    * survivors. Input must be a symmetric (src, dst) edge list. Returns
    * (v, core_deg). GraphSpec proves round `rounds`+1 is a no-op at the
    * test scales (fixpoint reached). */
  private[operators] def kCore(symmetric: DataFrame, k: Int, rounds: Int): DataFrame = {
    import symmetric.sparkSession.implicits._
    var e = symmetric.localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = e.groupBy($"src").agg(count(lit(1)).as("n"))
        .filter($"n" >= k).select($"src".as("v"))
      e = e.join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .select($"src", $"dst")
        .localCheckpoint()
    }
    e.groupBy($"src").agg(count(lit(1)).cast("long").as("core_deg"))
      .select($"src".as("v"), $"core_deg")
  }

  /** ADAMIC–ADAR LINK PREDICTION (Adamic & Adar 2003): for every
    * NON-adjacent pair sharing ≥ 1 common neighbor, score
    * Σ_z 1/ln(deg(z)) over common neighbors z — rare shared neighbors
    * count more than hubs. The classic "people you may know" /
    * missing-edge ranking, fully relational: symmetrized adjacency,
    * wedge self-join on the MIDDLE vertex (each candidate pair found once
    * per common neighbor, oriented a<b), anti-join against existing
    * edges, sum per pair. Top-20 by score. deg(z) ≥ 2 whenever z is a
    * wedge middle, so ln is never 0.
    *
    * 100 TB plan: identical shuffle shape to q154's triangle join — the
    * wedge stage is Σ deg² bounded and hashes on the middle vertex;
    * hub-vertex blowup is capped in production by the same degree-ordered
    * orientation trick (score contributions of hubs are the ones AA
    * down-weights anyway). The anti-join is edge-keyed, the final agg
    * pair-keyed: no stage is quadratic in vertices. */
  val q279AdamicAdar: GraftQuery = GraftQuery.oracled(
    "q279_adamic_adar",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT a AS v, b AS nb FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT v, CAST(count(*) AS DOUBLE) AS d FROM adj GROUP BY v),
      |wedge AS (SELECT x.nb AS pa, y.nb AS pb, x.v AS z
      |          FROM adj x JOIN adj y ON x.v = y.v AND x.nb < y.nb),
      |cand AS (SELECT w.pa, w.pb, w.z FROM wedge w
      |         LEFT JOIN e ON e.a = w.pa AND e.b = w.pb
      |         WHERE e.a IS NULL),
      |score AS (SELECT c.pa, c.pb,
      |                 CAST(count(*) AS BIGINT) AS n_common,
      |                 round(sum(CAST(1.0 AS DOUBLE) / ln(d.d)), 6) AS aa_score
      |          FROM cand c JOIN deg d ON d.v = c.z
      |          GROUP BY c.pa, c.pb)
      |SELECT pa, pb, n_common, aa_score
      |FROM score ORDER BY aa_score DESC, pa, pb LIMIT 20""") { (spark, dir) =>
    import spark.implicits._
    val e = coOrderEdges(spark, dir) // memoized + checkpointed — no extra persist
    val adj = e.select($"a".as("v"), $"b".as("nb"))
      .unionAll(e.select($"b".as("v"), $"a".as("nb")))
    val deg = adj.groupBy($"v").agg(count(lit(1)).cast("double").as("d"))
    val wedge = adj.as("x").join(adj.as("y"),
        $"x.v" === $"y.v" && $"x.nb" < $"y.nb")
      .select($"x.nb".as("pa"), $"y.nb".as("pb"), $"x.v".as("z"))
    val cand = wedge.join(e,
        wedge("pa") === e("a") && wedge("pb") === e("b"), "left_anti")
    cand.join(deg, cand("z") === deg("v"))
      .groupBy($"pa", $"pb")
      .agg(count(lit(1)).cast("long").as("n_common"),
        round(sum(lit(1.0) / log($"d")), 6).as("aa_score"))
      .orderBy($"aa_score".desc, $"pa", $"pb")
      .limit(20)
  }

  /** LOCAL CLUSTERING COEFFICIENT — per-vertex cohesion, the node-level
    * refinement of q154's global triangle count: lcc(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)), the fraction of v's neighbor pairs that are
    * themselves connected (Watts–Strogatz 1998). High-lcc parts co-occur
    * inside tight substitute cliques; lcc=0 hubs are pure brokers.
    *
    * 100 TB plan: the compact-forward wedge join (each triangle found
    * EXACTLY once as x<y<z) feeds a 3-way member explode — per-vertex
    * triangle counts are one union + hash-agg on top of q154's join, no
    * new join shape. Degrees are one agg over the edge list. The final
    * assembly joins two vertex-keyed censuses — co-partitioned on v. */
  val q307ClusteringCoeff: GraftQuery = GraftQuery.oracled(
    "q307_clustering_coeff",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM e e1 JOIN e e2 ON e1.b = e2.a
      |                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |mem AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
      |tc AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM mem GROUP BY 1),
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
      |SELECT deg.v, deg.d AS degree,
      |       CAST(coalesce(tc.t, 0) AS BIGINT) AS n_tri,
      |       round(2.0 * coalesce(tc.t, 0) / (deg.d * (deg.d - 1)), 6) AS lcc
      |FROM deg LEFT JOIN tc USING (v)
      |WHERE deg.d >= 2
      |ORDER BY v""") { (spark, dir) =>
    import spark.implicits._
    val e = coOrderEdges(spark, dir)
    val tri = e.as("e1").join(e.as("e2"), $"e1.b" === $"e2.a")
      .join(e.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
      .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
    val tc = tri.select($"x".as("v"))
      .union(tri.select($"y"))
      .union(tri.select($"z"))
      .groupBy($"v").agg(count(lit(1)).cast("long").as("t"))
    val deg = e.select($"a".as("v")).union(e.select($"b"))
      .groupBy($"v").agg(count(lit(1)).cast("long").as("d"))
    deg.join(tc, Seq("v"), "left")
      .filter($"d" >= 2)
      .select($"v", $"d".as("degree"),
        coalesce($"t", lit(0L)).cast("long").as("n_tri"),
        round(lit(2.0) * coalesce($"t", lit(0L)) / ($"d" * ($"d" - 1)), 6).as("lcc"))
      .orderBy($"v")
  }

  /** DOC-LEVEL PAGERANK QUALITY PRIOR, fully SQL-oracle'd: build the
    * shared-rare-phrase graph over `documents` (two docs are adjacent
    * when they share a 5-gram with corpus df EXACTLY 2 — a phrase unique
    * to that pair, the plagiarism/citation signal), then 3 damped (0.85)
    * power iterations. The rank is the "centrality in the copy graph"
    * prior curation pipelines fold into quality scores: template hubs
    * rise, isolated originals stay at the dangling floor. Unlike q155
    * (rows-only, spec'd on a closed form), the THREE ROUNDS ARE UNROLLED
    * VERBATIM in the DuckDB oracle — a strict cross-engine check of the
    * message-passing arithmetic itself. Output is every ranked vertex in
    * doc_id order (no rank-ordered top-k — near-tied ranks must not
    * reorder rows across engines).
    *
    * 100 TB plan: the rare-gram pair join is bounded by construction
    * (df=2 grams emit exactly one pair each — no hot-shingle blowup
    * possible); each iteration is one edge join + one hash-agg keyed on
    * vertex, the q155/q177 message-passing shape with a CONSTANT round
    * count (no convergence read-back). */
  val q355DocPagerank: GraftQuery = GraftQuery.oracled(
    "q355_doc_pagerank",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE len(string_split(text, ' ')) >= 5),
      |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
      |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i)),
      |rare AS (SELECT s FROM g GROUP BY s HAVING count(*) = 2),
      |p AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |      FROM g a JOIN g b USING (s) JOIN rare USING (s)
      |      WHERE a.doc_id < b.doc_id),
      |e AS (SELECT da AS src, db AS dst FROM p UNION ALL SELECT db, da FROM p),
      |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
      |r0 AS (SELECT src AS v, 1.0 AS r FROM deg),
      |r1 AS (SELECT e.dst AS v, 0.15 + 0.85 * sum(r0.r / deg.d) AS r
      |       FROM e JOIN r0 ON e.src = r0.v JOIN deg ON e.src = deg.src GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS v, 0.15 + 0.85 * sum(r1.r / deg.d) AS r
      |       FROM e JOIN r1 ON e.src = r1.v JOIN deg ON e.src = deg.src GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS v, 0.15 + 0.85 * sum(r2.r / deg.d) AS r
      |       FROM e JOIN r2 ON e.src = r2.v JOIN deg ON e.src = deg.src GROUP BY e.dst)
      |SELECT v AS doc_id, round(r, 6) AS rank
      |FROM r3
      |ORDER BY doc_id""") { (spark, dir) =>
    import spark.implicits._
    val g = Tables.documents(spark, dir)
      .select($"doc_id", explode(shingleSet($"text", 5)).as("s"))
    // df = 2 means the gram lives in EXACTLY two docs (g is doc-distinct),
    // so its one ordered pair is (min(doc_id), max(doc_id)) — the rare-df
    // census, the pair join, and both of its 5-gram re-explosions collapse
    // into this single aggregation (guide §2.4: the self-join re-derived the
    // full shingle explode twice and shuffled the (s, doc_id) stream three
    // times; this shuffles it once).
    val pairs = g.groupBy($"s")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("da"), max($"doc_id").as("db"))
      .filter($"df" === 2)
      .select($"da", $"db").distinct()
    val ranked = pageRank(pairs.toDF("a", "b"), iters = 3)
    ranked.select($"v".as("doc_id"), round($"rank", 6).as("rank"))
      .orderBy($"doc_id")
  }

  /** BORŮVKA MINIMUM SPANNING FOREST (Borůvka 1926; the MapReduce round
    * structure of Lattanzi et al.'s filtering framework) over the q45
    * near-dup graph with edge weight 1 − jaccard: per dedup cluster, the
    * cheapest set of pairwise links that still connects it — the MINIMAL
    * EVIDENCE TREE a curation audit stores per cluster instead of all
    * O(k²) pair records (q399 keeps per-pair evidence; this keeps the
    * skeleton). Each round every component picks its minimum outgoing
    * edge under the STRICT total order (w, doc_a, doc_b) — ties broken
    * lexicographically, so the forest is unique and reproducible — and
    * components are re-derived from the forest-so-far by the star
    * alternation. Components at least halve per round ⇒ ≤ ⌈log₂ k⌉
    * rounds. Round7bSpec checks edge-set equality against a driver-side
    * Kruskal union-find reference plus the |edges| = Σ(cluster size − 1)
    * law.
    *
    * STRICT since r8 (formerly rows-only): under a strict total order the
    * unique MSF is relationally characterizable by the CYCLE PROPERTY —
    * edge e belongs iff its endpoints are NOT connected using only edges
    * strictly smaller than e. The oracle replays that definition: one
    * recursive reachability CTE seeded per edge and expanded only through
    * smaller edges (integer basis-point weights, q419's fence trick, so
    * the order compare is exact), then NOT EXISTS picks the forest; the
    * cluster label is q419's full-graph min-reachable component. Borůvka
    * and Kruskal both realize this same unique forest, so the oracle
    * tracks the MATHEMATICAL object, not the engine's round structure.
    *
    * 100 TB plan: each round is two label hash-joins + one per-component
    * min-agg (map-side combinable struct-min) over the CURRENT cross-
    * component edges — shrinking every round; the driver sees only a
    * count per round (E3). Forest recomputation rides starComponents'
    * O(log n) alternation. */
  val q409BoruvkaMsf: GraftQuery = GraftQuery.oracled(
    "q409_boruvka_msf",
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
      |good AS (SELECT doc_a, doc_b,
      |                round(1 - round(shared / (sa.n + sb.n - shared), 4), 4) AS w,
      |                CAST(floor(round(1 - round(shared / (sa.n + sb.n - shared), 4), 4) * 10000 + 0.5) AS BIGINT) AS w_bp
      |         FROM prs
      |         JOIN szs sa ON doc_a = sa.doc_id
      |         JOIN szs sb ON doc_b = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |sym AS (SELECT doc_a, doc_b, w_bp, doc_a AS src, doc_b AS dst FROM good
      |        UNION ALL SELECT doc_a, doc_b, w_bp, doc_b, doc_a FROM good),
      |reach AS (
      |  SELECT g.doc_a AS ea, g.doc_b AS eb, g.w_bp AS ew, g.doc_a AS v FROM good g
      |  UNION
      |  SELECT r.ea, r.eb, r.ew, s.dst
      |  FROM reach r JOIN sym s ON s.src = r.v
      |  WHERE (s.w_bp, s.doc_a, s.doc_b) < (r.ew, r.ea, r.eb)),
      |msf AS (SELECT g.doc_a, g.doc_b, g.w FROM good g
      |        WHERE NOT EXISTS (SELECT 1 FROM reach r
      |                          WHERE r.ea = g.doc_a AND r.eb = g.doc_b AND r.v = g.doc_b)),
      |verts AS (SELECT DISTINCT v FROM (SELECT doc_a AS v FROM good UNION ALL SELECT doc_b FROM good)),
      |asym AS (SELECT doc_a AS src, doc_b AS dst FROM good UNION ALL SELECT doc_b, doc_a FROM good),
      |cr AS (SELECT v AS id, v AS lbl FROM verts
      |       UNION
      |       SELECT e.dst, c.lbl FROM cr c JOIN asym e ON e.src = c.id),
      |lab AS (SELECT id, min(lbl) AS cluster FROM cr GROUP BY id)
      |SELECT lab.cluster, m.doc_a, m.doc_b, m.w
      |FROM msf m JOIN lab ON lab.id = m.doc_a
      |ORDER BY cluster, doc_a, doc_b""") { (spark, dir) =>
    import spark.implicits._
    val (msf, labels) = boruvkaForestShared(spark, dir)
    msf.join(labels.select($"id".as("doc_a"), $"lbl".as("cluster")), Seq("doc_a"))
      .select($"cluster", $"doc_a", $"doc_b", $"w")
      .orderBy($"cluster", $"doc_a", $"doc_b")
  }

  /** Per-(session, dir) memo "boruvkaForest" of [[boruvkaForest]] — q409
    * and q419 both consume the identical forest (every inner frame is
    * already eagerly localCheckpoint'ed, so the memo hands out materialized
    * rows); a full sweep previously ran the log-bounded contraction rounds
    * twice. */
  private[operators] def boruvkaForestShared(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) =
    graft.engine.Memos.memo(spark, dir, "boruvkaForest")(boruvkaForest(spark, dir))

  /** q409's core, shared with q419's dendrogram cut: the Borůvka forest
    * (doc_a, doc_b, w) of the q45 near-dup graph plus the final component
    * labels (id, lbl). */
  private[operators] def boruvkaForest(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val edges = graft.llm.Dedup.q45NeardupJaccard.fn(spark, dir)
      .select($"doc_a", $"doc_b", round(lit(1.0) - $"jaccard", 4).as("w"))
      .localCheckpoint(true)
    val verts = edges.select($"doc_a".as("id"))
      .union(edges.select($"doc_b")).distinct().localCheckpoint(true)
    var labels = verts.select($"id", $"id".as("lbl")).localCheckpoint(true)
    var msf = edges.limit(0).localCheckpoint(true)
    var rounds = 0
    var done = false
    while (!done && rounds < 20) {
      val cross = edges
        .join(labels.select($"id".as("doc_a"), $"lbl".as("la")), Seq("doc_a"))
        .join(labels.select($"id".as("doc_b"), $"lbl".as("lb")), Seq("doc_b"))
        .filter($"la" =!= $"lb")
        .localCheckpoint(true)
      if (cross.isEmpty) { done = true }
      else {
        // struct min orders by (w, doc_a, doc_b) — strictly unique — so the
        // trailing la/lb ride along without influencing the argmin
        val e = struct($"w", $"doc_a", $"doc_b", $"la", $"lb").as("e")
        val picked = cross.select($"la".as("comp"), e)
          .union(cross.select($"lb".as("comp"), struct($"w", $"doc_a", $"doc_b", $"la", $"lb")))
          .groupBy($"comp").agg(min($"e").as("m"))
          .select($"m.doc_a".as("doc_a"), $"m.doc_b".as("doc_b"), $"m.w".as("w"),
            $"m.la".as("la"), $"m.lb".as("lb"))
          .distinct() // both endpoints' components may pick the same edge
          .localCheckpoint(true)
        msf = msf.union(picked.select($"doc_a", $"doc_b", $"w")).localCheckpoint(true)
        // contract on the COMPONENT graph (component-count-sized, shrinking
        // geometrically) instead of re-deriving components of the full forest
        val clab = graft.llm.Dedup.starComponents(
          labels.select($"lbl".as("id")).distinct(),
          picked.select($"la", $"lb"))._1.toDF("lbl", "newLbl")
        labels = labels.join(clab, Seq("lbl"))
          .select($"id", $"newLbl".as("lbl")).localCheckpoint(true)
        rounds += 1
      }
    }
    // fail LOUDLY if cross-component edges remain (silent partial forests
    // are worse than an error; components halve per round, so 20 is ample)
    require(done, s"Borůvka did not converge in $rounds rounds")
    (msf, labels)
  }

  /** SINGLE-LINK HIERARCHICAL CLUSTERING BY MST CUT (Gower & Ross 1969's
    * theorem: single-link dendrogram components at threshold τ ≡ connected
    * components of the MST edges with w ≤ τ) — the dendrogram the near-dup
    * pipeline can store ONCE (the q409 forest, |V|−1 edges) and cut at ANY
    * dissimilarity threshold later, instead of recomputing components per
    * threshold over the full pair set. Cuts at w ≤ 0.05 and w ≤ 0.15
    * (basis-point integer comparison — no float-literal boundary), labels
    * by min reachable doc_id. The oracle takes the OTHER side of the
    * theorem: components over ALL pairs at the same cut, via recursive
    * CTEs — the engine's MST-cut must agree row-for-row, which is the
    * theorem itself checked cross-engine (Round7bSpec re-proves it
    * in-Spark against direct components).
    *
    * 100 TB plan: the forest is pair-scale and computed once (q409's
    * log-bounded rounds); each cut is a components run over ≤|V|−1 edges
    * — independent of how many pairs the corpus has. */
  val q419SingleLinkCut: GraftQuery = GraftQuery.oracled(
    "q419_single_link_cut",
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
      |good AS (SELECT doc_a, doc_b,
      |                CAST(floor(round(1 - round(shared / (sa.n + sb.n - shared), 4), 4) * 10000 + 0.5) AS BIGINT) AS w_bp
      |         FROM prs
      |         JOIN szs sa ON doc_a = sa.doc_id
      |         JOIN szs sb ON doc_b = sb.doc_id
      |         WHERE shared / (sa.n + sb.n - shared) >= 0.8),
      |verts AS (SELECT DISTINCT v FROM (SELECT doc_a AS v FROM good UNION ALL SELECT doc_b FROM good)),
      |e05 AS (SELECT doc_a AS src, doc_b AS dst FROM good WHERE w_bp <= 500
      |        UNION ALL SELECT doc_b, doc_a FROM good WHERE w_bp <= 500),
      |r05 AS (SELECT v AS id, v AS lbl FROM verts
      |        UNION
      |        SELECT e.dst, r.lbl FROM r05 r JOIN e05 e ON e.src = r.id),
      |l05 AS (SELECT id, min(lbl) AS cluster FROM r05 GROUP BY id),
      |e15 AS (SELECT doc_a AS src, doc_b AS dst FROM good WHERE w_bp <= 1500
      |        UNION ALL SELECT doc_b, doc_a FROM good WHERE w_bp <= 1500),
      |r15 AS (SELECT v AS id, v AS lbl FROM verts
      |        UNION
      |        SELECT e.dst, r.lbl FROM r15 r JOIN e15 e ON e.src = r.id),
      |l15 AS (SELECT id, min(lbl) AS cluster FROM r15 GROUP BY id)
      |SELECT CAST(500 AS BIGINT) AS tau_bp, id AS doc_id, cluster FROM l05
      |UNION ALL
      |SELECT CAST(1500 AS BIGINT), id, cluster FROM l15
      |ORDER BY tau_bp, doc_id""") { (spark, dir) =>
    import spark.implicits._
    val (msf, _) = boruvkaForestShared(spark, dir)
    val cut = msf.select($"doc_a", $"doc_b",
      floor($"w" * 10000 + 0.5).cast("long").as("w_bp")).localCheckpoint(true)
    val verts = cut.select($"doc_a".as("id")).union(cut.select($"doc_b"))
      .distinct().localCheckpoint(true)
    def cutAt(bp: Long): DataFrame =
      graft.llm.Dedup.starComponents(verts,
        cut.filter($"w_bp" <= bp).select($"doc_a", $"doc_b"))._1
        .select(lit(bp).as("tau_bp"), $"id".as("doc_id"), $"lbl".as("cluster"))
    cutAt(500L).union(cutAt(1500L)).orderBy($"tau_bp", $"doc_id")
  }

  /** HITS hubs & authorities (Kleinberg 1999), 4 fixed mutual-reinforcement
    * rounds on the bipartite user→item click graph: auth(i) = Σ hub(u)
    * over clicking users, hub(u) = Σ auth(i) over clicked items.
    *
    * STRICT since r6; PER-ROUND 10¹² FIXED-POINT re-normalization since r9
    * — the scaladoc's own "web scale" sketch, made real after the r8
    * overflow guard FIRED on the synthesized ×10 tier (un-normalized
    * λ_max⁴ growth passed 2⁵¹ there, exactly as the guard predicted).
    * Every round's raw scores are summed in DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB) — immune to silent non-ANSI long wrap at ANY scale
    * — then floored onto the L1 = 10¹² integer simplex:
    * v = raw·10¹² div Σraw. Both engines take identical integer
    * quotients, so strictness is preserved; floor quantization costs
    * ≤ 10⁻¹² relative mass per round (the q155 discipline). Overflow is
    * now structurally impossible: v ≤ 10¹², raw sums carry 38 digits.
    * Top-20 authorities by the exact fixed-point score with an item
    * tie-break; the L1 share is one double division of two exact
    * integers, rounded 9. GraphSpec still pins the closed-form AᵀA
    * fixture on the float helper.
    *
    * 100 TB plan: identical shape to q155 — per round one edge join per
    * side + one sum-agg, scores co-shuffled on vertex id, plus a 1-row
    * broadcast normalizer per round; production buckets the edge list
    * once and reuses the partitioning. Never a collect. */
  val q446Hits: GraftQuery = GraftQuery.oracled(
    "q446_hits",
    """WITH e AS MATERIALIZED (SELECT DISTINCT user_id AS u,
      |                  CAST(json_extract(props, '$.k') AS BIGINT) % 20 AS i
      |           FROM events WHERE event_type = 'click'),
      |a1r AS MATERIALIZED (SELECT i, CAST(count(*) AS HUGEINT) AS raw FROM e GROUP BY 1),
      |a1 AS MATERIALIZED (SELECT i, CAST(raw * 1000000000000 // (SELECT sum(raw) FROM a1r) AS BIGINT) AS v FROM a1r),
      |h1r AS MATERIALIZED (SELECT u, CAST(sum(a1.v) AS HUGEINT) AS raw FROM e JOIN a1 USING (i) GROUP BY 1),
      |h1 AS MATERIALIZED (SELECT u, CAST(raw * 1000000000000 // (SELECT sum(raw) FROM h1r) AS BIGINT) AS v FROM h1r),
      |a2r AS MATERIALIZED (SELECT i, CAST(sum(h1.v) AS HUGEINT) AS raw FROM e JOIN h1 USING (u) GROUP BY 1),
      |a2 AS MATERIALIZED (SELECT i, CAST(raw * 1000000000000 // (SELECT sum(raw) FROM a2r) AS BIGINT) AS v FROM a2r),
      |h2r AS MATERIALIZED (SELECT u, CAST(sum(a2.v) AS HUGEINT) AS raw FROM e JOIN a2 USING (i) GROUP BY 1),
      |h2 AS MATERIALIZED (SELECT u, CAST(raw * 1000000000000 // (SELECT sum(raw) FROM h2r) AS BIGINT) AS v FROM h2r),
      |a3r AS MATERIALIZED (SELECT i, CAST(sum(h2.v) AS HUGEINT) AS raw FROM e JOIN h2 USING (u) GROUP BY 1),
      |a3 AS MATERIALIZED (SELECT i, CAST(raw * 1000000000000 // (SELECT sum(raw) FROM a3r) AS BIGINT) AS v FROM a3r),
      |h3r AS MATERIALIZED (SELECT u, CAST(sum(a3.v) AS HUGEINT) AS raw FROM e JOIN a3 USING (i) GROUP BY 1),
      |h3 AS MATERIALIZED (SELECT u, CAST(raw * 1000000000000 // (SELECT sum(raw) FROM h3r) AS BIGINT) AS v FROM h3r),
      |a4r AS MATERIALIZED (SELECT i, CAST(sum(h3.v) AS HUGEINT) AS raw FROM e JOIN h3 USING (u) GROUP BY 1),
      |a4 AS MATERIALIZED (SELECT i, CAST(raw * 1000000000000 // (SELECT sum(raw) FROM a4r) AS BIGINT) AS v FROM a4r),
      |tot AS (SELECT CAST(sum(v) AS BIGINT) AS z FROM a4)
      |SELECT i AS item, v AS authority_raw,
      |       round(CAST(v AS DOUBLE) / z, 9) AS authority
      |FROM a4, tot
      |ORDER BY authority_raw DESC, item LIMIT 20""") { (spark, dir) =>
    import spark.implicits._
    val edges = graft.sources.Tables.events(spark, dir)
      .filter($"event_type" === "click")
      .select($"user_id".as("u"),
        (get_json_object($"props", "$.k").cast("long") % 20).as("i"))
      .distinct().localCheckpoint() // 7 consumers (one per round join)
    // L1 = 10^12 fixed-point projection: raw decimal scores -> integer
    // simplex, one broadcast 1-row normalizer per round (never a collect).
    // The raw scores are localCheckpoint'ed first: norm references its
    // input TWICE (the total and the quotient), so an unmaterialized
    // 4-round chain doubles the logical tree per reference — measured as a
    // 1.6 MB explain with 2540 Exchange nodes and 10.2 s at sf0.1; the
    // materialized rounds (each ≤ max(20 items, |users|) rows) plan
    // linearly (q177's lineage-truncation discipline).
    def norm(df: DataFrame, key: String): DataFrame = {
      val m = df.localCheckpoint()
      val tot = m.agg(sum($"raw").as("tot"))
      m.crossJoin(broadcast(tot))
        .select(col(key),
          expr("CAST(CAST(raw AS DECIMAL(38,0)) * 1000000000000 DIV tot AS BIGINT)")
            .as("v"))
    }
    var auths = norm(
      edges.groupBy($"i").agg(count(lit(1)).cast("decimal(38,0)").as("raw")), "i")
    for (_ <- 1 to 3) {
      val hubs = norm(edges.join(auths, "i").groupBy($"u")
        .agg(sum($"v".cast("decimal(38,0)")).as("raw")), "u")
      auths = norm(edges.join(hubs, "u").groupBy($"i")
        .agg(sum($"v".cast("decimal(38,0)")).as("raw")), "i")
    }
    auths.crossJoin(broadcast(auths.agg(sum($"v").cast("long").as("z"))))
      .orderBy($"v".desc, $"i")
      .limit(20)
      .select($"i".as("item"), $"v".as("authority_raw"),
        round($"v".cast("double") / $"z", 9).as("authority"))
  }

  /** HITS rounds over a (u, i) edge list; returns (hubs, authorities),
    * each L1-normalized. Normalization happens ONCE at the end: the
    * per-round scale factor commutes through the linear maps, so the
    * direction is identical and the plan drops two broadcast-norm stages
    * per round (growth ≈ λ_max^iters ≈ 1e16 at 4 rounds — far inside
    * double range). Shared with GraphSpec's fixture gate. */
  private[operators] def hits(edges: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.cache(); e.count()
    var hubs = e.select($"u").distinct().select($"u", lit(1.0).as("h"))
    var auths = e.select($"i").distinct().select($"i", lit(0.0).as("raw"))
    for (_ <- 1 to iters) {
      auths = e.join(hubs, "u").groupBy($"i").agg(sum($"h").as("raw"))
      hubs = e.join(auths, "i").groupBy($"u").agg(sum($"raw").as("h"))
    }
    val aN = auths.crossJoin(broadcast(auths.agg(sum($"raw").as("z"))))
      .select($"i", ($"raw" / $"z").as("score"))
    val hN = hubs.crossJoin(broadcast(hubs.agg(sum($"h").as("z"))))
      .select($"u", ($"h" / $"z").as("h"))
    e.unpersist()
    (hN, aN)
  }

  /** WEISFEILER–LEHMAN GRAPH FINGERPRINT (Weisfeiler & Lehman 1968; the
    * 1-WL color refinement under the WL graph kernels of Shervashidze
    * et al. 2011): labels start as degrees, and each round every vertex
    * hashes (own label : sorted multiset of neighbor labels) into a new
    * 60-bit md5 label — two refinement rounds, then per round the number
    * of distinct colors and ONE canonical digest of the whole labeling.
    * Two snapshot digests are equal iff the labeled graphs are
    * 1-WL-indistinguishable — the O(edges) drift check for "did the
    * co-purchase structure change" that a row-count diff can't answer.
    * Every step is engine-portable (integer degrees, numerically-sorted
    * string_agg, md5-h60), so the fingerprint itself is strict-oracle'd.
    *
    * 100 TB plan: each round is one edge join + one hash-agg (q155's
    * message-passing shape — the sort is per-vertex over its OWN
    * neighbor multiset, never global). The digest is a TWO-LEVEL
    * reduction: 64 vertex-hash buckets digest independently (bounded
    * strings, map-side parallel), then one 64-row fold — no global
    * string_agg ever materializes the vertex table in one task. */
  val q480WlFingerprint: GraftQuery = GraftQuery.oracled(
    "q480_wl_fingerprint",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 40),
      |p AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
      |l0 AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS l FROM e GROUP BY src),
      |l1 AS (SELECT n.dst AS v,
      |              CAST(('0x' || substr(md5(CAST(l0v.l AS VARCHAR) || ':' || n.sig), 1, 15)) AS BIGINT) AS l
      |       FROM (SELECT e.dst, string_agg(CAST(l0.l AS VARCHAR), ',' ORDER BY l0.l) AS sig
      |             FROM e JOIN l0 ON e.src = l0.v GROUP BY e.dst) n
      |       JOIN l0 l0v ON l0v.v = n.dst),
      |l2 AS (SELECT n.dst AS v,
      |              CAST(('0x' || substr(md5(CAST(l1v.l AS VARCHAR) || ':' || n.sig), 1, 15)) AS BIGINT) AS l
      |       FROM (SELECT e.dst, string_agg(CAST(l1.l AS VARCHAR), ',' ORDER BY l1.l) AS sig
      |             FROM e JOIN l1 ON e.src = l1.v GROUP BY e.dst) n
      |       JOIN l1 l1v ON l1v.v = n.dst),
      |dig AS (
      |  SELECT r,
      |         CAST(('0x' || substr(md5(string_agg(CAST(bkt AS VARCHAR) || '|' || bh, ',' ORDER BY bkt)), 1, 15)) AS BIGINT) AS digest
      |  FROM (SELECT r, v % 64 AS bkt,
      |               md5(string_agg(CAST(v AS VARCHAR) || ':' || CAST(l AS VARCHAR), ',' ORDER BY v)) AS bh
      |        FROM (SELECT 0 AS r, v, l FROM l0
      |              UNION ALL SELECT 1, v, l FROM l1
      |              UNION ALL SELECT 2, v, l FROM l2)
      |        GROUP BY r, v % 64) x
      |  GROUP BY r),
      |nl AS (SELECT r, CAST(count(DISTINCT l) AS BIGINT) AS n_colors,
      |              CAST(count(*) AS BIGINT) AS n_vertices
      |       FROM (SELECT 0 AS r, l, v FROM l0
      |             UNION ALL SELECT 1, l, v FROM l1
      |             UNION ALL SELECT 2, l, v FROM l2)
      |       GROUP BY r)
      |SELECT CAST(nl.r AS BIGINT) AS round, nl.n_vertices, nl.n_colors, dig.digest
      |FROM nl JOIN dig ON dig.r = nl.r
      |ORDER BY round""") { (spark, dir) =>
    import spark.implicits._
    val oriented = coOrderEdges(spark, dir)
    val edges = oriented.select($"a".as("src"), $"b".as("dst"))
      .union(oriented.select($"b", $"a")).localCheckpoint()
    def h60(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    var labels = edges.groupBy($"src".as("v"))
      .agg(count(lit(1)).cast("long").as("l")).localCheckpoint()
    val rounds = scala.collection.mutable.ArrayBuffer((0, labels))
    for (r <- 1 to 2) {
      val sig = edges.join(labels, $"src" === $"v")
        .groupBy($"dst")
        .agg(concat_ws(",", sort_array(collect_list($"l"))).as("sig"))
      labels = sig.join(labels.select($"v", $"l".as("own")), $"dst" === $"v")
        .select($"v", h60(concat($"own".cast("string"), lit(":"), $"sig")).as("l"))
        .localCheckpoint()
      rounds += ((r, labels))
    }
    // numeric sort keys ride a struct (q467's trick) — a bare string sort
    // would order "10:" before "2:" and diverge from the oracle's ORDER BY
    val out = rounds.map { case (r, lab) =>
      val buckets = lab
        .groupBy(($"v" % 64).as("bkt"))
        .agg(md5(concat_ws(",", transform(
          sort_array(collect_list(struct($"v",
            concat($"v".cast("string"), lit(":"), $"l".cast("string")).as("s")))),
          x => x.getField("s")))).as("bh"))
      val digest = buckets
        .agg(h60(concat_ws(",", transform(
          sort_array(collect_list(struct($"bkt",
            concat($"bkt".cast("string"), lit("|"), $"bh").as("s")))),
          x => x.getField("s")))).as("digest"))
      lab.agg(count(lit(1)).cast("long").as("n_vertices"),
          countDistinct($"l").cast("long").as("n_colors"))
        .crossJoin(broadcast(digest))
        .select(lit(r.toLong).as("round"), $"n_vertices", $"n_colors", $"digest")
    }.reduce(_ union _)
    out.orderBy($"round")
  }

  /** GRAPH HEALTH PROFILE — the ops dashboard every graph-backed dedup /
    * recommendation pipeline watches per ingest: the degree distribution
    * (decimal-digit buckets — integer-exact on both engines, no float
    * log2 boundary risk), the connected-component size distribution, and
    * the headline census (vertices, edges, components, giant-component
    * size). A structural regression (a hot key fusing clusters, a feed
    * outage fragmenting the graph) moves these numbers before any
    * downstream metric does; q480's WL digest says "something changed",
    * this says WHAT.
    *
    * 100 TB plan: degrees and histograms are map-side-combined hash-aggs
    * on vertex / bucket keys; components ride the O(log n) large-star/
    * small-star closure (q100's machinery), never a recursive frontier;
    * the DuckDB oracle recomputes the same min-label fixpoint with a
    * recursive CTE (q287's pattern). */
  val q481GraphProfile: GraftQuery = GraftQuery.oracled(
    "q481_graph_profile",
    """WITH RECURSIVE
      |li AS (SELECT l_orderkey AS k, l_partkey FROM lineitem WHERE l_quantity >= 48),
      |p AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM li a JOIN li b ON a.k = b.k AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
      |verts AS (SELECT DISTINCT src AS v FROM e),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
      |reach AS (SELECT v AS id, v AS lbl FROM verts
      |          UNION
      |          SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id),
      |lab AS (SELECT id, min(lbl) AS c FROM reach GROUP BY id),
      |csz AS (SELECT c, CAST(count(*) AS BIGINT) AS sz FROM lab GROUP BY c)
      |SELECT 'degree_digits' AS section,
      |       CAST(length(CAST(d AS VARCHAR)) AS BIGINT) AS k,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM deg GROUP BY 2
      |UNION ALL
      |SELECT 'component_size_digits',
      |       CAST(length(CAST(sz AS VARCHAR)) AS BIGINT),
      |       CAST(count(*) AS BIGINT)
      |FROM csz GROUP BY 2
      |UNION ALL
      |SELECT 'summary', 1, CAST((SELECT count(*) FROM verts) AS BIGINT)
      |UNION ALL
      |SELECT 'summary', 2, CAST((SELECT count(*) FROM p) AS BIGINT)
      |UNION ALL
      |SELECT 'summary', 3, CAST((SELECT count(*) FROM csz) AS BIGINT)
      |UNION ALL
      |SELECT 'summary', 4, CAST((SELECT max(sz) FROM csz) AS BIGINT)
      |ORDER BY section, k""") { (spark, dir) =>
    import spark.implicits._
    // Sparser cut than q155's graph (qty ≥ 48): the profile is about the
    // component DISTRIBUTION, which a single giant component flattens —
    // and the sparse graph keeps the oracle's recursive closure tractable.
    val li = Tables.lineitem(spark, dir)
      .filter($"l_quantity" >= 48)
      .select($"l_orderkey".as("k"), $"l_partkey")
    val p = li.as("x")
      .join(li.as("y"), $"x.k" === $"y.k" && $"x.l_partkey" < $"y.l_partkey")
      .select($"x.l_partkey".as("a"), $"y.l_partkey".as("b"))
      .distinct().localCheckpoint()
    val e = p.select($"a".as("src"), $"b".as("dst"))
      .union(p.select($"b", $"a")).localCheckpoint()
    val verts = e.select($"src".as("v")).distinct()
    val deg = e.groupBy($"src").agg(count(lit(1)).cast("long").as("d"))
    val labels = graft.llm.Dedup.starComponents(verts, p)._1
    val csz = labels.groupBy($"lbl").agg(count(lit(1)).cast("long").as("sz"))
      .localCheckpoint() // histogram + two summary rows read it
    val degH = deg
      .groupBy(length($"d".cast("string")).cast("long").as("k"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(lit("degree_digits").as("section"), $"k", $"n")
    val cszH = csz
      .groupBy(length($"sz".cast("string")).cast("long").as("k"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(lit("component_size_digits").as("section"), $"k", $"n")
    val summary = verts.agg(count(lit(1)).cast("long").as("nv"))
      .crossJoin(broadcast(p.agg(count(lit(1)).cast("long").as("ne"))))
      .crossJoin(broadcast(csz.agg(count(lit(1)).cast("long").as("nc"),
        max($"sz").as("giant"))))
      .select(explode(array(
        struct(lit(1L).as("k"), $"nv".as("n")),
        struct(lit(2L).as("k"), $"ne".as("n")),
        struct(lit(3L).as("k"), $"nc".as("n")),
        struct(lit(4L).as("k"), $"giant".as("n")))).as("s"))
      .select(lit("summary").as("section"), $"s.k".as("k"), $"s.n".as("n"))
    degH.union(cszH).union(summary).orderBy($"section", $"k")
  }

  def all: Seq[GraftQuery] = Seq(q154Triangles, q155PageRank, q177BfsHops,
    q207LabelPropagation, q228KCore, q279AdamicAdar, q307ClusteringCoeff,
    q355DocPagerank, q409BoruvkaMsf, q419SingleLinkCut, q446Hits,
    q479PersonalizedPr, q480WlFingerprint, q481GraphProfile)
}
