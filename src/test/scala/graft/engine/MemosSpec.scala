package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The session memo registry: nested builds, one build per key under
  * concurrency, failed builds cache nothing, and `release` is scoped to
  * its session. Every test runs on fresh `newSession()`s, so no other
  * suite's entries are touched. */
class MemosSpec extends AnyFunSuite with graft.SparkFixture {

  private val dir = "memos-spec"

  private def pinnedIds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
  private def rddId(df: org.apache.spark.sql.DataFrame): Int = Memos.rddOf(df).get.id

  test("a build may call the registry for another key of its session") {
    val s = spark.newSession()
    val v = Memos.memo(s, dir, "outer") {
      Memos.memo(s, dir, "inner")(20) + Memos.memo(s, dir, "inner2")(22)
    }
    assert(v == 42)
    assert(Memos.held(s) == Map((dir, "outer") -> 42, (dir, "inner") -> 20, (dir, "inner2") -> 22))
    Memos.release(s)
  }

  test("two threads asking for one key run its build once") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val started = new java.util.concurrent.CountDownLatch(1)
    def ask(): String = Memos.memo(s, dir, "shared") {
      builds.incrementAndGet(); started.countDown(); Thread.sleep(200); "v"
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val first = Future(ask())
    started.await() // the second caller arrives while the first builds
    val second = Future(ask())
    assert(Await.result(first, 30.seconds) == "v")
    assert(Await.result(second, 30.seconds) == "v")
    assert(builds.get == 1)
    Memos.release(s)
  }

  test("a build that throws leaves no entry and the next call builds again") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val err = intercept[IllegalStateException] {
      Memos.memo[Int](s, dir, "flaky") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(err.getMessage == "boom")
    assert(Memos.held(s).isEmpty)
    assert(Memos.memo(s, dir, "flaky") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
    assert(Memos.held(s) == Map((dir, "flaky") -> 7))
    Memos.release(s)
  }

  test("release unpersists a tuple's frames and drops driver values of its session only") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val (a, b) = Memos.memo(s1, dir, "pair")(
      (Memos.checkpoint(s1.range(10).toDF()), Memos.checkpoint(s1.range(20).toDF())))
    Memos.memo(s1, dir, "model")(new Object)
    val other = Memos.memo(s2, dir, "pair")(Memos.checkpoint(s2.range(30).toDF()))
    val ids = Set(rddId(a), rddId(b))
    assert(ids.subsetOf(pinnedIds) && pinnedIds.contains(rddId(other)))

    Memos.release(s1)
    assert((ids & pinnedIds).isEmpty, "both frames of the tuple must be unpersisted")
    assert(Memos.held(s1).isEmpty, "the frame and the driver-side value must both drop")
    assert(Memos.held(s2).keySet == Set((dir, "pair")))
    assert(pinnedIds.contains(rddId(other)), "another session's frame must stay pinned")
    assert(other.count() == 30)
    Memos.release(s2)
    assert(!pinnedIds.contains(rddId(other)))
  }
}
