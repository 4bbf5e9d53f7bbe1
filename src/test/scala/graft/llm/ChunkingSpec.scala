package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Fixture gates for the chunking/span-dedup/prefix-filter ops — the
  * properties the SQL oracle can't state directly (candidate-set bounds,
  * span maximality on crafted corpora). */
class ChunkingSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  /** Distinct (doc_id, s) 3-gram shingles of `split(text, ' ')`, written
    * out as the reference q203's pipeline is checked against. */
  private def shingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = split(col("text"), " ")
    docs.filter(size(t) >= 3)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", slice(t, i, lit(3))))).as("s"))
      .distinct()
  }

  test("q199: a planted shared passage mines exactly one maximal span per doc") {
    import spark.implicits._
    val passage = (1 to 12).map(i => s"p$i").mkString(" ") // 12 shared words
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 a6 a7 a8 $passage z1 z2 z3 z4 z5 z6 z7 z8"),
      (2L, s"b1 b2 b3 b4 b5 b6 b7 b8 $passage y1 y2 y3 y4 y5 y6 y7 y8"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15 c16")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("spec_span_docs")
    // Re-run q199's pipeline over the fixture frame (same constants).
    val g = docs.select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 8)
      .select($"doc_id", posexplode(transform(sequence(lit(0), size($"w") - 8),
        p => md5(concat_ws(" ", slice($"w", p + 1, lit(8)))))))
      .toDF("doc_id", "pos", "gh")
    val dup = g.groupBy($"gh").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"gh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val spans = g.join(dup, Seq("gh"), "left_semi")
      .withColumn("grp", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("span_start"),
        (max($"pos") - min($"pos") + 8).as("span_words"),
        count(lit(1)).as("n_grams"))
      .filter($"n_grams" >= 2)
      .select($"doc_id", $"span_start", $"span_words")
      .collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)).sorted
    // The 12-word passage at word offset 8 yields duplicated 8-grams at
    // positions 8..12 (5 grams) -> ONE island, span_words = 12, per doc.
    assert(spans.toSeq === Seq((1L, 8L, 12L), (2L, 8L, 12L)),
      s"expected one exact 12-word span in docs 1 and 2, got ${spans.toSeq}")
  }

  test("q203: prefix-filter candidates contain every qualifying pair and skip most non-dups") {
    import spark.implicits._
    // 30 near-identical docs (pairwise J >= 0.8) + 30 unrelated docs.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (0 until 30).map(i => (i.toLong, s"$base extra$i"))
    val far = (0 until 30).map(i =>
      (100L + i, (1 to 40).map(j => s"u${i}_$j").mkString(" ")))
    val docs = (near ++ far).toDF("doc_id", "text")
    val t = 0.8
    val sh = shingles(docs)
    val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val ranked = sh.join(broadcast(df), Seq("s"))
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"df", $"s")))
    val sized = ranked.withColumn("n", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
    val prefix = sized.filter($"r" <= $"n" - ceil(lit(t) * $"n") + 1)
      .select($"doc_id", $"s")
    val cand = prefix.toDF("doc_a", "s")
      .join(prefix.toDF("doc_b", "s"), Seq("s"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact qualifying pairs (all-pairs ground truth).
    val a = sh.toDF("doc_a", "s"); val b = sh.toDF("doc_b", "s")
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val exact = a.join(b, Seq("s")).filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .filter($"shared" / ($"na" + $"nb" - $"shared") >= t)
      .select($"doc_a", $"doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain qualifying near-dup pairs")
    assert(exact.subsetOf(cand),
      "prefix filtering must never drop a qualifying pair (lossless bound)")
    // The unrelated block shares no shingles at all, so no far-far or
    // near-far candidates should appear: candidates stay inside the near
    // block (30*29/2 = 435) instead of the full 1770-pair space.
    assert(cand.forall { case (x, y) => x < 100 && y < 100 },
      "candidates must not cross into the unrelated block")
  }

  test("q217: BPE apply reproduces known greedy tokenizations exactly") {
    import spark.implicits._
    // 'the' -> @th e -> @the (1 token); 'stream' -> @st r e a m -> @str e a m
    // (4 tokens: st merge then str merge; e/a/m stay single).
    val docs = Seq((1L, "the stream")).toDF("doc_id", "text")
    val applied = TextAnalysis.BpeMerges.foldLeft(
      regexp_replace($"text", "(.)", "@$1 ")) { case (acc, (x, y)) =>
      replace(acc, lit(s"@$x @$y"), lit(s"@$x$y"))
    }
    val row = docs.select(applied.as("s")).head()
    val s = row.getString(0)
    val tokens = s.split("\\s+").filter(_.nonEmpty).toSeq
    // the bare "@" is the marked original space between the two words
    assert(tokens === Seq("@the", "@", "@str", "@e", "@a", "@m"),
      s"unexpected tokenization: $tokens from '$s'")
    val nAt = s.count(_ == '@')
    assert(nAt - 1 === 5, s"expected 5 bpe tokens + 1 marked space, got $nAt markers")
  }

  test("q197: chunk grid covers every word and respects the 32/24 geometry") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 80).map(i => s"t$i").mkString(" ")),
      (2L, "s1 s2 s3")).toDF("doc_id", "text")
    val rows = docs
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", size($"w").as("nw"),
        explode(sequence(lit(0), greatest(size($"w") - 1, lit(0)), lit(24)))
          .as("st"))
      .select($"doc_id", $"st",
        (least($"st" + 32, $"nw") - $"st").as("n_words"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val doc1 = rows.filter(_._1 == 1L).map(t => (t._2, t._3)).sorted
    // 80 words, stride 24: starts 0,24,48,72; sizes 32,32,32,8.
    assert(doc1.toSeq === Seq((0, 32), (24, 32), (48, 32), (72, 8)))
    // Coverage: consecutive chunks overlap by 8, no gap before the tail.
    assert(doc1.toSeq.sliding(2).forall {
      case Seq((s1, n1), (s2, _)) => s2 < s1 + n1
      case _                      => true
    })
    val doc2 = rows.filter(_._1 == 2L).map(t => (t._2, t._3)).toSeq
    assert(doc2 === Seq((0, 3)), "short doc yields one whole-doc chunk")
  }

  test("prefix filtering is lossless on seeded random corpora (q203 law)") {
    import spark.implicits._
    // Random corpora with planted near-dups: vocab small enough for real
    // shingle collisions, each seed a fresh corpus. The LAW: the prefix
    // candidate set must contain EVERY pair the exact all-pairs join
    // qualifies at t=0.8 — losslessness under arbitrary token mixes, not
    // just the crafted fixture in ChunkingSpec.
    val t = 0.8
    for (seed <- Seq(11L, 42L, 97L)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (1 to 12).map(i => s"v$i")
      def doc(n: Int) = (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = (0 until 25).map(i => (i.toLong, doc(20 + rnd.nextInt(10))))
      val dups = base.take(8).map { case (id, text) =>
        (100L + id, if (rnd.nextBoolean()) text else text + " " + vocab(rnd.nextInt(vocab.size)))
      }
      val docs = (base ++ dups).toDF("doc_id", "text")
      val sh = shingles(docs)
      val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
      val ranked = sh.join(broadcast(df), Seq("s"))
        .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window.partitionBy($"doc_id").orderBy($"df", $"s")))
        .withColumn("n", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
      val prefix = ranked.filter($"r" <= $"n" - ceil(lit(t) * $"n") + 1)
        .select($"doc_id", $"s")
      val cand = prefix.toDF("doc_a", "s").join(prefix.toDF("doc_b", "s"), Seq("s"))
        .filter($"doc_a" < $"doc_b").select($"doc_a", $"doc_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val exact = sh.toDF("doc_a", "s").join(sh.toDF("doc_b", "s"), Seq("s"))
        .filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared"))
        .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
        .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
        .filter($"shared" / ($"na" + $"nb" - $"shared") >= t)
        .select($"doc_a", $"doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.subsetOf(cand),
        s"seed=$seed: prefix filter dropped ${exact -- cand}")
    }
  }

}
