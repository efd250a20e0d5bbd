package graft.sql

import graft.functions._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs a grouped `ce_approx_distinct` whose partial outgrows a small
  * execution-memory pool and writes more than 200 shuffle partitions, so its
  * rows go to the serialized (UnsafeShuffleWriter) shuffle, whose sorter
  * must get a page from the same task memory manager while the partial emits.
  * A session's memory pool is fixed when its context starts, so
  * [[SketchAggregationSpec]] runs this in its own JVM:
  * `SketchMemoryProbe <rows>` prints `ok <sum of estimates> <early emits>`.
  */
object SketchMemoryProbe {
  def main(args: Array[String]): Unit = {
    val rows = args(0).toLong
    val spark = SparkSession.builder()
      .master("local[1]")
      .appName("sketch-memory-probe")
      // execution + storage pool of 0.6 * 16 MB
      .config("spark.testing.memory", (16L << 20).toString)
      .config("spark.testing.reservedMemory", "0")
      .config("spark.sql.shuffle.partitions", "256")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val q = spark.range(rows).select(($"id" * 7).as("k"), $"id".as("v"))
        .groupBy($"k").agg(ce_approx_distinct($"v").as("d"))
        .agg(sum($"d"))
      val total = q.collect()(0).getLong(0)
      val emits = q.queryExecution.executedPlan.collect {
        case s: SketchPartialAggregateExec => s.metrics("numEarlyEmits").value
      }
      require(emits.nonEmpty, s"no SketchPartialAggregate in\n${q.queryExecution.executedPlan}")
      println(s"ok $total ${emits.sum}")
    } finally spark.stop()
  }
}
