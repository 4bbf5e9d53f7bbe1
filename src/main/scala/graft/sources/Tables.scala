package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet sources for the driver corpus (TESTDATA.md:13-15, FIXTURES.md).
  *
  * Scale note (100 TB): every loader opens its table through [[parquet]], so
  * the vectorized Parquet reader, predicate pushdown, and column pruning all
  * apply. A single file gets its schema from its own footer, read on the
  * driver (metadata only, no Spark job); a directory defers to Spark's own
  * schema inference, so at cluster scale the same call shards over a
  * partitioned directory unchanged. Never cache here — let each query's plan
  * prune columns first.
  */
object Tables {

  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** `events` is also the replayable stream table (SURVEY.md §2.8). */
  val all: Seq[String] = star ++ Seq("events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Open a parquet path. Without a schema, `spark.read.parquet` infers one
    * by running a Spark job that reads one footer; for a single file that
    * job is replaced by [[footerSchema]]. Anything else — a directory, a
    * glob, a missing path — goes to `spark.read.parquet` unchanged. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema Spark infers for `path` when it is one visible parquet file,
    * read from that file's footer on the driver with Spark's own converter,
    * so the session's parquet confs (nanosAsLong, INT96, binary-as-string,
    * NTZ inference) apply as in inference; `None` otherwise. Read on every
    * call: a rewritten file never serves a stale schema. Names starting
    * with `_` or `.` are not data files to Spark's file index, and a path
    * or footer that cannot be read or converted is left to Spark to report,
    * so both also give `None`. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    Try(p.getFileSystem(conf).getFileStatus(p)).toOption
      .filter(st => st.isFile && !st.getPath.getName.matches("[_.].*"))
      .flatMap(st => Try {
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }.toOption)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` has shipped in two physical encodings across driver data
    * generations: TIMESTAMP(NANOS) — which Spark 4 refuses outright
    * (PARQUET_TYPE_ILLEGAL), so it is read as a raw nanosecond long (legacy
    * conf) and truncated to µs — and native TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. Both are
    * normalized to a µs `TimestampType` here: the session timezone is pinned
    * to UTC in every entrypoint, so the NTZ→LTZ cast is value-identical, and
    * either path lands bit-identical to DuckDB's
    * `date_trunc('microseconds', ts)` oracle twin (SURVEY.md §5.6). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    microsTs(table(spark, dir, "events"))
  }

  /** `raw` (the events table, batch or stream) with `ts` as a µs
    * TimestampType, whichever encoding it was read with (see [[events]]). */
  def microsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw // already a µs TimestampType
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every table as a temp view so `spark.sql` queries (lifecycle E2,
    * SURVEY.md §3) resolve the same names the DuckDB oracle uses. Idempotent.
    *
    * `events` registers through [[events]] (µs-truncated TimestampType), not
    * the raw reader: the raw ns schema only resolves after the nanosAsLong
    * conf is set, so registering it raw made view setup depend on whether an
    * events-reading query happened to run earlier in the session (a latent
    * catalog-order bug), and µs semantics are what the oracle's
    * `date_trunc('microseconds', ts)` twin states anyway. */
  def views(spark: SparkSession, dir: String): Unit = {
    (star ++ Seq("documents", "embeddings"))
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }
}
