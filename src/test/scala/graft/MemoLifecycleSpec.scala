package graft

import org.scalatest.funsuite.AnyFunSuite

/** r11 memo-lifecycle gate (r10 verdict item 5): the per-(session, dir)
  * corpus memos must be RELEASABLE — `Memos.release(spark)` unpersists the
  * session's checkpointed frames and drops the memo entries so a later
  * consumer rebuilds from the parquet inputs, and the rebuilt result is
  * identical. Runs on a fresh `newSession()` so the shared fixture
  * session's memos (used by every other suite) are untouched. */
class MemoLifecycleSpec extends AnyFunSuite with SparkFixture {

  private def pinnedRdds: Int = spark.sparkContext.getRDDStorageInfo.length
  private def pinnedIds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("memoized corpus frames release their storage and rebuild identically") {
    val s = spark.newSession() // fresh memo key: builds are cold, scoped here
    val fn = SparkEntry.queries("q45_neardup_jaccard")
    val before = fn(s, sf).collect().toSeq
    val pinnedAfterBuild = pinnedRdds
    assert(pinnedAfterBuild > 0,
      "building q45 must pin at least the exactPairs memo in block-manager storage")

    graft.engine.Memos.release(s)
    // the session's memoized RDDs are unpersisted (other suites' fixture-
    // session memos may still be pinned — assert a strict decrease, not 0)
    val pinnedAfterRelease = pinnedRdds
    assert(pinnedAfterRelease < pinnedAfterBuild,
      s"release must unpersist this session's memo frames " +
        s"($pinnedAfterBuild -> $pinnedAfterRelease)")

    // a post-release consumer rebuilds from the parquet inputs, identically
    val after = fn(s, sf).collect().toSeq
    assert(after == before, "post-release rebuild must reproduce the result")
  }

  test("the MinHash memo family releases back to exactly its pre-build storage") {
    // RDD ids, not just a count: an earlier suite's non-blocking unpersist
    // may drop an old entry mid-test, but nothing else adds one
    def pinnedIds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val s = spark.newSession() // fresh memo key: q371/q372/q399/q349 build cold here
    val before = pinnedIds
    for (q <- Seq("q371_minhash_signatures", "q372_minhash_banded", "q399_neardup_evidence",
        "q349_curation_lsh"))
      SparkEntry.queries(q)(s, sf).collect()
    assert((pinnedIds -- before).nonEmpty, "the MinHash consumers must pin their memo")

    graft.engine.Memos.release(s)
    // exact, not merely lower: a leaked intermediate frame stays pinned
    val leaked = pinnedIds -- before
    assert(leaked.isEmpty, s"release must return every frame the build pinned; left $leaked")
  }

  test("every memo family's consumer releases its memo frames and reruns identically") {
    import graft.engine.Memos
    val s = spark.newSession() // fresh memo keys: every family builds cold here
    // q409 first: the forest build runs q45, whose exact-pairs memo is then
    // built inside the forest's own build
    val queries = graft.tools.MemoCold.families.map(_._2).distinct
      .sortBy(q => if (q == "q409_boruvka_msf") 0 else 1)
    assert(queries.head == "q409_boruvka_msf" && queries.contains("q45_neardup_jaccard"))
    val before = queries.map(q => q -> SparkEntry.queries(q)(s, sf).collect().toSeq).toMap

    val held = Memos.held(s)
    val missing = graft.tools.MemoCold.families.map(f => (sf, f._1)).toSet -- held.keySet
    assert(missing.isEmpty, s"each representative must build its registry key; missing $missing")
    val ids = held.values.flatMap(Memos.framesIn).flatMap(Memos.rddOf).map(_.id).toSet
    assert(ids.nonEmpty && ids.subsetOf(pinnedIds))

    Memos.release(s)
    assert(Memos.held(s).isEmpty)
    val left = ids & pinnedIds
    assert(left.isEmpty, s"release must unpersist every memo frame; left $left")
    for (q <- queries)
      assert(SparkEntry.queries(q)(s, sf).collect().toSeq == before(q), s"$q rerun after release")
    Memos.release(s)
  }

  test("memoized frames store at the serialized memo level") {
    import graft.engine.Memos
    assert(Memos.MemoLevel.useMemory && Memos.MemoLevel.useDisk &&
      !Memos.MemoLevel.deserialized,
      "session-lifetime memos must store serialized with disk spill (guide §5)")
  }
}
