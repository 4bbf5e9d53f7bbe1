package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Laws for the round-10 additions, each checked against an INDEPENDENT
  * plain-Scala recomputation at sf0.001 (the Round9Spec discipline) —
  * the strict DuckDB oracles are the cross-engine gate; these pin the
  * algorithms to their definitions. */
class Round10Spec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  // ---- q476 kernel: unrestricted Damerau–Levenshtein ----

  test("damerau kernel: textbook values incl. the unrestricted-vs-OSA case") {
    import graft.functions.DamerauLevenshtein.dlStr
    assert(dlStr("CA", "ABC") === 2L,   // OSA says 3; unrestricted DL says 2
      "must be the Lowrance–Wagner UNRESTRICTED variant (DuckDB parity)")
    assert(dlStr("ab", "ba") === 1L)
    assert(dlStr("abcd", "acbd") === 1L)
    assert(dlStr("kitten", "sitting") === 3L)
    assert(dlStr("", "abc") === 3L && dlStr("abc", "") === 3L)
    assert(dlStr("same", "same") === 0L)
    assert(dlStr("a cat", "an act") === 2L) // insert + transposition
  }

  test("damerau kernel: symmetry and triangle inequality on real names") {
    import graft.functions.DamerauLevenshtein.dlStr
    val names = graft.sources.Tables.part(spark, sf)
      .select("p_name").collect().map(_.getString(0)).take(30)
    for (a <- names; b <- names) {
      assert(dlStr(a, b) === dlStr(b, a), s"symmetry broke on ($a, $b)")
    }
    for (a <- names.take(10); b <- names.take(10); c <- names.take(10)) {
      assert(dlStr(a, c) <= dlStr(a, b) + dlStr(b, c),
        s"triangle inequality broke on ($a, $b, $c)")
    }
  }

  test("damerau kernel: codegen column path equals direct Scala eval") {
    import spark.implicits._
    val rows = graft.sources.Tables.part(spark, sf)
      .select($"p_name".as("a"))
      .crossJoin(graft.sources.Tables.part(spark, sf)
        .select($"p_name".as("b")).limit(5))
      .limit(200)
    val viaCol = rows
      .select($"a", $"b", graft.functions.DamerauLevenshtein.damerau($"a", $"b").as("d"))
      .collect()
    viaCol.foreach { r =>
      assert(r.getLong(2) ===
        graft.functions.DamerauLevenshtein.dlStr(r.getString(0), r.getString(1)))
    }
  }

  // ---- q471: interval union vs brute-force day-set union ----

  test("q471 interval union equals the brute-force covered-day set size") {
    import spark.implicits._
    val brute: Map[Long, (Long, Long)] = graft.sources.Tables.orders(spark, sf)
      .select($"o_custkey", to_date($"o_orderdate").as("d"), $"o_orderkey")
      .collect()
      .map { r =>
        val s = r.getDate(1).toLocalDate.toEpochDay -
          java.time.LocalDate.parse("1994-01-01").toEpochDay
        (r.getLong(0), s, s + 30 + r.getLong(2) % 180)
      }
      .groupBy(_._1)
      .map { case (c, ivs) =>
        val days = ivs.flatMap { case (_, s, e) => s until e }.toSet
        val raw = ivs.map { case (_, s, e) => e - s }.sum
        c -> (days.size.toLong, raw - days.size)
      }
    val got = SeriesOps.q471IntervalUnion.fn(spark, sf).collect()
    assert(got.length === brute.size)
    got.foreach { r =>
      val (u, dup) = brute(r.getLong(0))
      assert(r.getLong(3) === u, s"union_days off for cust ${r.getLong(0)}")
      assert(r.getLong(4) === dup, s"dup_days off for cust ${r.getLong(0)}")
    }
  }

  // ---- q474 / q475: series recomputation for one priority ----

  /** Daily (day, value) census for one priority, in arrival order. */
  private def daily(agg: String): Array[Long] = {
    import spark.implicits._
    val cents = agg == "cents"
    graft.sources.Tables.orders(spark, sf)
      .filter($"o_orderpriority" === "1-URGENT")
      .groupBy($"o_orderdate".as("d"))
      .agg(if (cents) sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("v")
           else count(lit(1)).cast("long").as("v"))
      .orderBy($"d").select($"v").as[Long].collect()
  }

  test("q474 Brown DES: engine row equals exact integer recomputation") {
    val x = daily("cents")
    def smooth(v: Array[Long]): Array[Long] =
      v.indices.map { i =>
        if (i < 20) BigInt(0)
        else (0 to 20).map(d => BigInt(v(i - d)) << (20 - d)).sum / 2097151
      }.map(_.toLong).toArray
    val s1 = smooth(x)                       // valid from i >= 20 (0-based)
    val s2raw = smooth(s1)                   // garbage before i >= 40
    var sumDes = BigInt(0); var sumNaive = BigInt(0); var n = 0L
    for (i <- 41 until x.length) {           // 0-based: oracle's i > 41
      val fc = 3 * s1(i - 1) - 2 * s2raw(i - 1)
      sumDes += (BigInt(x(i)) - fc).abs
      sumNaive += (BigInt(x(i)) - x(i - 1)).abs
      n += 1
    }
    val row = SeriesOps.q474BrownDes.fn(spark, sf)
      .filter(col("pri") === "1-URGENT").collect().head
    assert(row.getLong(1) === n)
    assert(row.getLong(2) === (sumDes * 100 / n).toLong)
    assert(row.getLong(3) === (sumNaive * 100 / n).toLong)
    assert(row.getLong(4) === (sumDes * 1000000 / sumNaive).toLong)
  }

  test("q475 Page-Hinkley: engine max_ph equals exact integer recomputation") {
    val x = daily("count")
    var sc = 0L; var m = 0L; var runmin = 0L; var maxPh = 0L; var alarms = 0L
    for (i <- x.indices) {
      sc += x(i)
      m += 1000000L * x(i) - (1000000L * sc) / (i + 1)
      runmin = math.min(runmin, m)
      val ph = m - runmin
      maxPh = math.max(maxPh, ph)
      if (ph > 20000000L) alarms += 1
    }
    val row = SeriesOps.q475PageHinkley.fn(spark, sf)
      .filter(col("pri") === "1-URGENT").collect().head
    assert(row.getLong(1) === x.length.toLong)
    assert(row.getLong(2) === maxPh)
    assert(row.getLong(4) === alarms)
  }

  // ---- q472: Apriori laws ----

  test("q472 rules: support floors, anti-monotonicity, confidence bounds") {
    import spark.implicits._
    val rules = graft.ml.Patterns.q472AprioriRules.fn(spark, sf).collect()
    assert(rules.nonEmpty)
    // exact basket census for cross-checking
    val ob = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.part(spark, sf), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = ob.map(_._1).distinct.length.toLong
    val byOrder = ob.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def supSet(s: Set[String]): Long = byOrder.valuesIterator.count(s.subsetOf(_)).toLong
    rules.foreach { r =>
      val (a1, a2, c) = (r.getString(0), r.getString(1), r.getString(2))
      val sup = r.getLong(3)
      assert(sup * 10000 >= n * 35, "triple below the support floor")
      assert(sup === supSet(Set(a1, a2, c)), "support is not the exact census")
      val supAb = supSet(Set(a1, a2))
      assert(supAb * 1000 >= n * 22, "antecedent pair escaped the L2 prune")
      assert(r.getLong(4) === 1000000L * sup / supAb, "conf_ppm formula")
      assert(r.getLong(4) <= 1000000L)
      val supC = supSet(Set(c))
      assert(r.getLong(5) === 1000000L * sup * n / (supAb * supC), "lift_ppm formula")
    }
    // every frequent triple contributes exactly 3 rules
    assert(rules.length % 3 === 0)
  }

  // ---- q473: estimator sanity + exact-truth columns ----

  test("q473 set-op estimates: exact truths match and estimates are sane") {
    import spark.implicits._
    val row = graft.functions.Aggregators.q473KmvSetOps.fn(spark, sf)
      .collect().head
    val piv = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val flags = graft.sources.Tables.orders(spark, sf)
      .select($"o_custkey", $"o_orderdate".cast("timestamp")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).before(piv)))
      .groupBy(_._1).view.mapValues(v => (v.exists(_._2), v.exists(!_._2))).toMap
    val exU = flags.size.toLong
    val exI = flags.valuesIterator.count { case (a, b) => a && b }.toLong
    val exAb = flags.valuesIterator.count { case (a, b) => a && !b }.toLong
    assert(row.getLong(1) === exU && row.getLong(3) === exI && row.getLong(5) === exAb)
    // sf0.001 has < 256 distinct custkeys → the sketch is exact by the
    // CASE branch; at larger SFs the strict oracle pins the estimate.
    if (exU < 256) {
      assert(row.getLong(0) === exU)
      assert(row.getLong(2) === exI)
      assert(row.getLong(4) === exAb)
    } else {
      // 4σ KMV bound, σ ≈ |S| / sqrt(k-2)
      val tol = (exU / math.sqrt(254) * 4).toLong
      assert(math.abs(row.getLong(0) - exU) <= tol)
    }
  }

  // ---- q477: top-20 movers + CMS contract ----

  test("q477 heavy change: exact movers and the CMS never-under contract") {
    import spark.implicits._
    val got = EventAnalytics.q477HeavyChange.fn(spark, sf).collect()
    assert(got.nonEmpty && got.length <= 20)
    got.foreach(r => assert(r.getBoolean(4), "CMS under-counted — impossible"))
    val piv = java.sql.Timestamp.valueOf("2024-01-16 00:00:00")
    val counts = graft.sources.Tables.events(spark, sf)
      .select($"user_id", $"ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).before(piv)))
      .groupBy(_._1).view.mapValues { v =>
        (v.count(_._2).toLong, v.count(!_._2).toLong)
      }.toMap
    got.foreach { r =>
      val (c1, c2) = counts(r.getLong(0))
      assert(r.getLong(1) === c1 && r.getLong(2) === c2)
      assert(r.getLong(3) === c2 - c1)
    }
    // the cut is the true top by |delta| with user_id tie-break
    val all = counts.toSeq
      .map { case (u, (c1, c2)) => (u, math.abs(c2 - c1)) }
      .sortBy { case (u, d) => (-d, u) }
    val expect = all.take(got.length).map(_._1).toSet
    assert(got.map(_.getLong(0)).toSet === expect)
  }
}
