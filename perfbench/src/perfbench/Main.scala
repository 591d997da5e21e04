package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Entry point of one measuring JVM: `perfbench.Main <mode> key=value...`.
 * The JVM writes its result as one JSON object to `out=<file>`; the
 * orchestrator (`run.py`) turns those into metrics.
 *
 * Modes: `stream` (one level of a stream workload), `queries` (the
 * query block), `record` (reference values from a checked `Verify`
 * output) and `selftest` (the digest's own checks).
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq.drop(1))
    val result = argv.headOption match {
      case Some("stream") => StreamBench.run(a)
      case Some("queries") => QueryBench.run(a)
      case Some("record") => QueryBench.record(a)
      case Some("selftest") => selfTest(a)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.writeString(a.path("out"), Json(result))
  }

  /** The digest ignores row order and partitioning, and sees any
    * changed, added or dropped value (array contents included). */
  private def selfTest(a: Args): Map[String, Any] = {
    val spark = Common.session(2, a.path("work"))
    try {
      import spark.implicits._
      val base = (1 to 500).map(i => (s"doc-$i", i.toLong, Seq(i, i + 1), i / 7.0)).toDF("k", "n", "arr", "x")
      val d = Common.digest(base)
      val checks = Seq(
        "reordered" -> (Common.digest(base.orderBy(col("n").desc).repartition(7)) == d),
        "columns_permuted" -> (Common.digest(base.select("x", "arr", "k", "n")) == d),
        "value_changed" -> (Common.digest(base.withColumn("n",
          when(col("n") === 250, lit(251L)).otherwise(col("n")))) != d),
        "array_changed" -> (Common.digest(base.withColumn("arr",
          when(col("n") === 3, array(lit(3), lit(5))).otherwise(col("arr")))) != d),
        "row_dropped" -> (Common.digest(base.filter(col("n") =!= 17)) != d),
        "row_duplicated" -> (Common.digest(base.union(base.filter(col("n") === 17))) != d),
        "duplicate_pair_swapped" -> (Common.digest(base.union(base)) !=
          Common.digest(base.union(base.filter(col("n") =!= 9)).union(base.filter(col("n") === 10)))),
        "rows_counted" -> (d.rows == 500L))
      Map("checks" -> checks.toMap)
    } finally spark.stop()
  }
}
