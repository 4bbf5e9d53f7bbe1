package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide invariants: every declared query runs at the smoke tier,
  * gives the same rows on a fresh session as on the fixture session, and
  * every oracle'd query keeps the contract that makes the driver's DuckDB
  * hash-compare meaningful (deterministic output, matching column names). */
class CatalogSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {

  // One spec-wide session that runs nothing but the third run of each entry,
  // and an untouched one that is the active session meanwhile: an entry that
  // builds a frame on the active or default session instead of its own, or
  // needs state only the fixture session has, fails here.
  private lazy val fresh = spark.newSession()
  private lazy val bystander = spark.newSession()

  // Entries that cannot run on a fresh session, each with its reason.
  private val freshSessionExempt: Map[String, String] = Map.empty

  override def afterAll(): Unit =
    try graft.engine.Memos.release(fresh) finally super.afterAll()

  test("catalog names are unique and well-formed") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.forall(_.matches("[a-z0-9_]+")))
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for (q <- SparkEntry.catalog) {
    test(s"${q.name} runs at sf0.001 and is deterministic across two runs") {
      val a = q.fn(spark, sf)
      val b = q.fn(spark, sf)
      assert(a.schema.fieldNames.nonEmpty)
      val ra = a.collect().toSeq
      val rb = b.collect().toSeq
      assert(ra === rb, s"${q.name} not reproducible")
      if (!freshSessionExempt.contains(q.name)) {
        SparkSession.setActiveSession(bystander)
        val rc = try q.fn(fresh, sf).collect().toSeq
          finally SparkSession.setActiveSession(spark)
        assert(rc === ra, s"${q.name} differs on a fresh session")
      }
    }
  }
}
