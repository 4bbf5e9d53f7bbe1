package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.engine.{GraftQuery, Memos}
import graft.sources.Tables

/** Benchmark harness process: builds the session, runs one workload's passes
  * in a closed loop (one query at a time) and prints its metrics.
  *
  * Each query is timed as `fn(spark, dataDir)` plus [[Check.digest]], and
  * its (rows, digest) is compared with the expected values; a mismatch or an
  * exception counts as failed and is never timed as a success. Every pass
  * runs the workload's queries in an order drawn from the seed. The last
  * stdout line is one JSON object: run facts plus a flat map of metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --expected FILE [--record FILE] [--spans FILE] */
object Main {

  /** At least four, which the traced run's U T T U pattern needs. */
  private val MinTimedPasses = 4
  /** The JIT keeps compiling for many passes. After one warm-up pass the
    * timed passes still sped up steeply on 4 cores: q57, the median query of
    * classify_curate, fell ~20 % over them, and over ten runs query_p50_s
    * spread up to 0.25 there and pass_s 0.20 on analytics_ingest; after two,
    * 0.075 and 0.11. */
  private val WarmupPasses = 2
  /** Roots the program writes under; what a pass adds there is measured and removed. */
  private val ScratchRoots = Seq("/tmp/graft-io", "/tmp/graft-stream", "/tmp/graft-stream-late")

  final case class Pass(wall: Double, querySeconds: Seq[Double], memoMb: Double,
      memoRdds: Double, releaseS: Double, residualMb: Double, diskMb: Double,
      layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.all.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dir = Paths.get(opt("data")).toAbsolutePath.toString
    val record = opt.get("record")
    val expected: Map[String, (Long, String)] =
      if (record.isDefined) Map.empty else readExpected(Paths.get(opt("expected")))

    // set-up: JVM start -> session built and views registered. A cold start
    // happens once per process, so one run gives one sample; JVM start,
    // class loading and engine/catalog initialisation all count.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    Tables.views(spark, dir)
    val setup = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(sc)) else None

    val observed = mutable.LinkedHashMap[String, (Long, String)]()
    val failures = mutable.LinkedHashMap[String, String]()
    var attempted = 0L
    var failed = 0L
    val rnd = new scala.util.Random(seed)
    // Timed passes come in pairs: a seeded shuffle, then the same order
    // reversed. Over a pair every query runs before every other once, so
    // which query of a memo-sharing pair pays the memo build does not drift
    // with the seed.
    var order = Seq.empty[GraftQuery]
    val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val roots = ScratchRoots.map(Paths.get(_)) :+ warehouse

    def runPass(idx: Int, traced: Boolean): Pass = {
      val before = listing(roots)
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis().toDouble
      val s = if (w.freshSession) spark.newSession() else spark
      if (traced) tracer.foreach(_.attach(Seq(s)))
      val timings = mutable.ArrayBuffer[Tracer.QueryTiming]()
      val secs = mutable.ArrayBuffer[Double]()
      order = if (idx > 0 && idx % 2 == 0) order.reverse else rnd.shuffle(w.queries)
      for (q <- order) {
        sc.setLocalProperty(Tracer.QueryProperty, q.name)
        val q0 = System.currentTimeMillis().toDouble
        val n0 = System.nanoTime()
        val res = try Right(Check.digest(q.fn(s, dir))) catch { case NonFatal(e) => Left(e) }
        val dt = (System.nanoTime() - n0) / 1e9
        sc.setLocalProperty(Tracer.QueryProperty, null)
        attempted += 1
        val ok = res match {
          case Left(e) =>
            failures.getOrElseUpdate(q.name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          case Right(r) =>
            val got = (r.rows, r.digest)
            if (record.isDefined) {
              val first = observed.getOrElseUpdate(q.name, got)
              if (first != got) failures.getOrElseUpdate(q.name, s"nondeterministic: $first vs $got")
              first == got
            } else if (!expected.get(q.name).contains(got)) {
              failures.getOrElseUpdate(q.name,
                s"got rows=${r.rows} digest=${r.digest}, expected ${expected.get(q.name)}")
              false
            } else true
        }
        if (!ok) failed += 1
        else {
          secs += dt
          timings += Tracer.QueryTiming(q.name, q0, System.currentTimeMillis().toDouble,
            res.toOption.get.rows)
        }
      }
      val storage = sc.getRDDStorageInfo
      val memoMb = storage.map(i => i.memSize + i.diskSize).sum / Tracer.MB
      val releaseS = if (w.freshSession) timed(Memos.release(s)) else 0.0
      val residualMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Tracer.MB
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis().toDouble
      val layers = if (!traced) Map.empty[String, Double] else tracer.map { t =>
        val c = t.endPass(s"pass $idx", timings.toSeq, startMs, endMs, Workloads.module)
        t.detach()
        c + ("spark.gc_s" -> (gcSeconds() - gc0))
      }.get
      val diskMb = removeNew(roots, before) / Tracer.MB
      Pass(wall, secs.toSeq, memoMb, storage.length.toDouble, releaseS,
        residualMb, diskMb, layers)
    }

    // warm-up: JIT, codegen and page cache. Traced runs then alternate
    // untraced/traced passes as U T T U U T T U ..., so the JIT's warming
    // trend leaks as little as possible into the tracing overhead.
    (1 to WarmupPasses).foreach(_ => runPass(0, traced = false))
    val passes = mutable.ArrayBuffer[Pass]()
    val m0 = System.nanoTime()
    while (passes.size < MinTimedPasses || (System.nanoTime() - m0) / 1e9 < seconds ||
        passes.size % 2 == 1) {
      val i = passes.size + 1
      passes += runPass(i, traced = trace && (i % 4 == 2 || i % 4 == 3))
    }

    val metrics = mutable.LinkedHashMap[String, Double]()
    val qs = passes.flatMap(_.querySeconds).toSeq
    val walls = passes.map(_.wall).toSeq
    if (!trace) {
      metrics("setup_s") = setup
      metrics("pass_s") = median(walls)
      metrics("query_p50_s") = quantile(qs, 0.5)
    } else {
      val tracedPasses = passes.filter(_.layers.nonEmpty).toSeq
      val bare = passes.filter(_.layers.isEmpty).toSeq
      val keys = tracedPasses.flatMap(_.layers.keys).distinct
      keys.foreach(k => metrics(k) = tracedPasses.map(_.layers.getOrElse(k, 0.0)).sum /
        tracedPasses.size)
      metrics("trace.overhead_s") = median(tracedPasses.map(_.wall)) - median(bare.map(_.wall))
      val rows = metrics.getOrElse("llm.result_rows", 0.0)
      metrics("llm.join_rows_per_result") =
        if (rows > 0) metrics.getOrElse("llm.join_rows", 0.0) / rows else 0.0
      // views on a fresh session: every table's footer read and schema
      // resolved again (class loading already paid at set-up)
      metrics("sources.open_s") = median((1 to 3).map { _ =>
        val s = spark.newSession()
        timed(Tables.views(s, dir))
      })
      metrics("sources.disk_left_mb") = median(passes.map(_.diskMb).toSeq)
      metrics("engine.memo_pinned_mb") = median(passes.map(_.memoMb).toSeq)
      metrics("engine.memo_rdds") = median(passes.map(_.memoRdds).toSeq)
      metrics("engine.release_s") = median(passes.map(_.releaseS).toSeq)
      metrics("engine.memo_residual_mb") = median(passes.map(_.residualMb).toSeq)
      metrics ++= Kernels.nsPerRow(spark, dir)
      val build = w.memoFamilies.map { case (family, id) =>
        val q = w.queries.find(_.name.startsWith(id + "_")).get
        val s = spark.newSession()
        Tables.views(s, dir)
        val cold = timed(Check.digest(q.fn(s, dir)))
        val warm = timed(Check.digest(q.fn(s, dir)))
        Memos.release(s)
        family -> (cold - warm)
      }.toMap
      Workloads.allFamilies.foreach(f => metrics(s"engine.memo_build_s.$f") = build.getOrElse(f, 0.0))
      opt.get("spans").foreach(p => writeSpans(Paths.get(p), tracer.get.spans.toSeq))
    }

    record.foreach(p => writeExpected(Paths.get(p), observed.toMap))
    spark.stop()

    failures.foreach { case (q, msg) => System.err.println(s"FAILED $q: ${msg.take(300)}") }
    val summary = Seq(
      "workload" -> jstr(w.name), "queries" -> w.queries.size.toString,
      "timed_passes" -> passes.size.toString,
      "pass_s_quartiles_max" -> jarr(quartiles(walls) :+ walls.max),
      "pass_s_samples" -> jarr(walls), "query_samples" -> qs.size.toString,
      "query_p50_p90_max_s" -> jarr(Seq(quantile(qs, 0.5), quantile(qs, 0.9), qs.max)),
      "setup_s" -> jnum(setup),
      "memo_pinned_mb" -> jarr(passes.map(_.memoMb).toSeq),
      "disk_left_mb" -> jarr(passes.map(_.diskMb).toSeq),
      "fail_ratio" -> (failed.toDouble / math.max(attempted, 1)).toString,
      "failed_queries" -> jarr(failures.keys.toSeq.map(jstr)))
    println(summary.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}"))
    val m = metrics.map { case (k, v) => s"${jstr(k)}: ${jnum(v)}" }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $m}""")
    System.out.flush()
  }

  private def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Children of each root that exists now. */
  private def listing(roots: Seq[Path]): Set[Path] =
    roots.filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.list(r); try s.iterator().asScala.toList finally s.close()
    }.toSet ++ roots.filter(Files.exists(_))

  /** Delete what appeared under `roots` since `before`; returns its bytes. */
  private def removeNew(roots: Seq[Path], before: Set[Path]): Double = {
    val fresh = listing(roots).diff(before).toSeq.sortBy(-_.getNameCount)
    var bytes = 0L
    fresh.foreach { p =>
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toList finally s.close()
      all.sortBy(-_.getNameCount).foreach { f =>
        if (Files.isRegularFile(f, java.nio.file.LinkOption.NOFOLLOW_LINKS)) bytes += Files.size(f)
        Files.deleteIfExists(f)
      }
    }
    bytes.toDouble
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def quartiles(xs: Seq[Double]): Seq[Double] = Seq(0.25, 0.5, 0.75).map(quantile(xs, _))

  private def readExpected(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, rows, digest) = l.split("\t")
      name -> (rows.toLong, digest)
    }.toMap

  private def writeExpected(p: Path, got: Map[String, (Long, String)]): Unit = {
    val merged = (if (Files.exists(p)) readExpected(p) else Map.empty) ++ got
    Files.write(p, merged.toSeq.sortBy(_._1)
      .map { case (n, (r, d)) => s"$n\t$r\t$d\n" }.mkString.getBytes("UTF-8"))
  }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit =
    Files.write(p, spans.map(s => s"""{"kind": ${jstr(s.kind)}, "name": ${jstr(s.name)}, """ +
      s""""start_ms": ${jnum(s.start)}, "end_ms": ${jnum(s.end)}, "parent": ${jstr(s.parent)}}""")
      .mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jarr(xs: Seq[Any]): String = xs.map {
    case d: Double => jnum(d); case other => other.toString
  }.mkString("[", ", ", "]")
}
