package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `explain("formatted")` for selected catalog queries and
  * flag plan smells (missing pushdown, missing broadcast, codegen gaps).
  * Usage: runMain graft.Explain [sfDir] [queryName...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.catalog.map(_.name)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fns = SparkEntry.queries
    // A streaming entry runs its stream to completion here; its dump is the
    // plan of the frame it returns (its micro-batch plans form at runtime).
    for (n <- names if fns.contains(n)) {
      println(s"\n===== $n =====")
      try {
        val df = fns(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        println(plan)
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
