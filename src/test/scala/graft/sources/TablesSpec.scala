package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.SparkFixture
import graft.streaming.StreamingQueries

/** `Tables.parquet` must open a single file with exactly the schema Spark's
  * own inference gives it (or fail with the same exception class), and
  * must do so without a Spark job. */
class TablesSpec extends AnyFunSuite with SparkFixture with Eventually {

  private val sfs = Seq("sf0.001", "sf0.01", "sf0.1").map(Paths.get(sf).resolveSibling(_).toString)
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** The footer read and Spark's inference agree on `path`: equal schemas,
    * or both throw the same exception class. */
  private def assertSameOpen(s: SparkSession, path: String): Unit = {
    val footer = Try(Tables.parquet(s, path).schema)
    val inferred = Try(s.read.parquet(path).schema)
    val tag = s"$path (${s.conf.get(nanosKey)})"
    (inferred, footer) match {
      case (Success(a), Success(b)) => assert(b == a, tag)
      case (Failure(a), Failure(b)) =>
        assert(b.getClass == a.getClass, s"$tag: ${b.getClass} vs Spark's ${a.getClass}")
      case _ => fail(s"$tag: Spark read $inferred, the footer read $footer")
    }
  }

  private def nanosSessions: Seq[SparkSession] = Seq(false, true).map { on =>
    val s = spark.newSession()
    s.conf.set(nanosKey, on)
    s
  }

  /** Spark job ids launched while `body` runs on this thread. The control
    * job runs after `body` and the status tracker's queue is FIFO, so once
    * the control job is visible every job `body` launched is visible too. */
  private def jobsOf(s: SparkSession)(body: => Unit): Seq[Int] = {
    val sc = s.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    sc.setJobGroup(group, "body")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(group + "-control", "control")
    try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
    eventually(timeout(30.seconds)) {
      assert(sc.statusTracker.getJobIdsForGroup(group + "-control").nonEmpty)
    }
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  test("every table opens with Spark's inferred schema at every scale, nanosAsLong off and on") {
    for (s <- nanosSessions; dir <- sfs; name <- Tables.all) {
      val path = s"$dir/$name.parquet"
      assert(Tables.footerSchema(s, path).isDefined, path)
      assertSameOpen(s, path)
    }
  }

  test("files Spark refuses or skips fail or fall back the same way") {
    val tmp = Files.createTempDirectory("graft-tables-spec")
    val conf = new Configuration()
    // TIMESTAMP(NANOS): Spark refuses it unless nanosAsLong is on.
    val nanos = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); required int32 k; }")
    val nanosFile = tmp.resolve("nanos.parquet").toString
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(nanosFile), conf))
      .withType(nanos).build()
    try w.write(new SimpleGroupFactory(nanos).newGroup().append("ts", 1000L).append("k", 1))
    finally w.close()
    val corrupt = tmp.resolve("corrupt.parquet")
    Files.write(corrupt, "not a parquet file".getBytes("UTF-8"))
    // A leading `_` hides a file from Spark's file index.
    val hidden = tmp.resolve("_region.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), hidden)
    for (s <- nanosSessions) {
      Seq(nanosFile, corrupt.toString, hidden.toString, tmp.resolve("missing.parquet").toString)
        .foreach(assertSameOpen(s, _))
      // With nanosAsLong on, the footer read itself converts the file.
      assert(Tables.footerSchema(s, nanosFile).isDefined == s.conf.get(nanosKey).toBoolean, nanosFile)
    }
    assert(Tables.footerSchema(spark, hidden.toString).isEmpty)
  }

  test("a Spark-written parquet directory falls back to Spark's inference") {
    val out = Files.createTempDirectory("graft-tables-spec-dir").resolve("orders").toString
    Tables.orders(spark, sf).limit(50).repartition(3).write.parquet(out)
    assert(Tables.footerSchema(spark, out).isEmpty)
    assertSameOpen(spark, out)
    assert(Tables.parquet(spark, out).count() == 50)
  }

  test("a rewritten file is read with its new schema") {
    val path = Files.createTempDirectory("graft-tables-spec-rw").resolve("t.parquet")
    def rewrite(df: DataFrame): Unit = {
      val staged = path.resolveSibling("staged").toString
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    rewrite(spark.range(3).toDF("a"))
    assert(Tables.parquet(spark, path.toString).schema.fieldNames.toSeq == Seq("a"))
    rewrite(spark.range(3).selectExpr("id AS b", "'x' AS c"))
    val after: StructType = Tables.parquet(spark, path.toString).schema
    assert(after.fieldNames.toSeq == Seq("b", "c"))
    assert(after == spark.read.parquet(path.toString).schema)
  }

  test("Tables.views on a fresh session launches no Spark job") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(Tables.views(s, sf))
    assert(jobs.isEmpty, s"Tables.views launched jobs $jobs")
    assert(s.table("events").schema("ts").dataType.typeName == "timestamp")
  }

  test("StreamingQueries.eventsStream launches no Spark job before start") {
    val s = spark.newSession()
    val jobs = jobsOf(s)(StreamingQueries.eventsStream(s, sf))
    assert(jobs.isEmpty, s"eventsStream launched jobs $jobs")
  }
}
