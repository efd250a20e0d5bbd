package graft.sql

import java.nio.file.Files

import graft.SharedSpark
import graft.core.CardinalitySketch
import graft.functions._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerSync
import org.scalatest.funsuite.AnyFunSuite

/** [[SketchAggregation]] against Spark's own plan for the same query (the
  * strategy removed from the session): estimates are always identical, and
  * sketch bytes too wherever each group has one partial row in one input
  * partition.
  */
class SketchAggregationSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SharedSpark.spark
  import spark.implicits._

  private def session = spark.asInstanceOf[classic.SparkSession]

  private def dir(name: String): String =
    Files.createTempDirectory(s"graft_sketchagg_$name").toString + "/t"

  /** Rows over every key/value type the sketch hashes, nulls in most columns;
    * `h` has more than 128 distinct values, so its sketches reach HLL.
    */
  private def typed(n: Int): DataFrame = spark.range(n).select(
    when($"id" % 17 === 0, lit(null)).otherwise(concat(lit("k"), ($"id" % 9).cast("string"))).as("s"),
    when($"id" % 19 === 0, lit(null)).otherwise(($"id" % 11).cast("int")).as("i"),
    when($"id" % 23 === 0, lit(null)).otherwise($"id" % 13 * 1000000007L).as("l"),
    date_add(lit("2024-01-01").cast("date"), ($"id" % 7).cast("int")).as("d"),
    when($"id" % 29 === 0, lit(null)).otherwise(encode(concat(lit("b"), ($"id" % 5).cast("string")), "UTF-8")).as("b"),
    struct(($"id" % 3).cast("int").as("x"), concat(lit("y"), ($"id" % 4).cast("string")).as("y")).as("st"),
    concat(lit("h"), ($"id" * 7919 % 700).cast("string")).as("h"))

  private val keyColumns = Seq("s", "i", "l", "d", "b", "st")

  private def sketches(df: DataFrame, keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      ce_sketch($"s"), ce_sketch($"i"), ce_sketch($"l"), ce_sketch($"d"),
      ce_sketch($"b"), ce_sketch($"st"), ce_sketch($"h"), ce_approx_distinct($"h"))

  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(show).mkString("[", ",", "]")
    case other => other.toString
  }

  private def exact(rows: Array[Row]): Seq[String] =
    rows.map(r => r.toSeq.map(show).mkString("|")).toSeq.sorted

  /** Sketch bytes replaced by their estimates. */
  private def estimates(rows: Array[Row]): Seq[String] =
    rows.map(r => r.toSeq.map {
      case b: Array[Byte] => CardinalitySketch.deserialize(b).estimate.toString
      case v => show(v)
    }.mkString("|")).toSeq.sorted

  private def nodes(df: DataFrame): Seq[SketchPartialAggregateExec] =
    collect(df.queryExecution.executedPlan) { case s: SketchPartialAggregateExec => s }

  private def metric(ns: Seq[SketchPartialAggregateExec], name: String): Long =
    ns.map(_.metrics(name).value).sum

  /** Collects `build` twice: with the strategy, then with the session's
    * strategy removed. Returns both results and the sketch nodes that ran.
    */
  private def compare(build: => DataFrame, requireNode: Boolean = true)
      : (Array[Row], Array[Row], Seq[SketchPartialAggregateExec]) = {
    val ours = build
    val ourRows = ours.collect()
    val ran = nodes(ours)
    assert(ran.nonEmpty || !requireNode,
      s"no SketchPartialAggregate in\n${ours.queryExecution.executedPlan}")
    val theirs = build
    val strategies = session.experimental.extraStrategies
    session.experimental.extraStrategies = strategies.filterNot(_ == SketchAggregation)
    val theirRows = try theirs.collect() finally session.experimental.extraStrategies = strategies
    assert(nodes(theirs).isEmpty)
    (ourRows, theirRows, ran)
  }

  private def sameBytes(build: => DataFrame): Seq[SketchPartialAggregateExec] = {
    val (ours, theirs, ran) = compare(build)
    assert(exact(ours) == exact(theirs))
    ran
  }

  private def sameEstimates(build: => DataFrame): Seq[SketchPartialAggregateExec] = {
    val (ours, theirs, ran) = compare(build)
    assert(estimates(ours) == estimates(theirs))
    ran
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val dictionaryParquet: String = {
    val p = dir("dict")
    typed(3000).coalesce(1).write.parquet(p)
    p
  }

  test("grouped and global over parquet: every key and value type, nulls, identical bytes") {
    val t = spark.read.parquet(dictionaryParquet)
    keyColumns.foreach { k =>
      val ran = sameBytes(sketches(t, k))
      assert(metric(ran, "numInputBatches") > 0, s"key $k did not read column batches")
      assert(metric(ran, "numInputRows") == 3000L)
    }
    sameBytes(sketches(t, "s", "i"))
    val global = sameBytes(sketches(t))
    assert(metric(global, "numOutputRows") == 1L)
  }

  test("plain (non-dictionary) parquet pages") {
    val p = dir("plain")
    typed(3000).coalesce(1).write.option("parquet.enable.dictionary", "false").parquet(p)
    val t = spark.read.parquet(p)
    keyColumns.foreach(k => assert(metric(sameBytes(sketches(t, k)), "numInputBatches") > 0))
  }

  test("row input: every key type over a local relation") {
    val rows = typed(2000).collect()
    val t = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), typed(1).schema)
    keyColumns.foreach { k =>
      val ran = sameBytes(sketches(t, k))
      assert(metric(ran, "numInputBatches") == 0L && metric(ran, "numInputRows") == 2000L)
    }
    sameBytes(sketches(t))
  }

  test("empty input: no grouped rows, one global row per partition") {
    val t = spark.read.parquet(dictionaryParquet).where($"i" > 1000)
    // AQE replaces an empty grouped stage by an empty relation in the final plan
    val (grouped, theirs, _) = compare(sketches(t, "s"), requireNode = false)
    assert(grouped.isEmpty && theirs.isEmpty)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      assert(metric(sameBytes(sketches(t, "s")), "numOutputRows") == 0L)
      val global = sameBytes(sketches(t.repartition(3)))
      assert(metric(global, "numOutputRows") == 3L, "one empty buffer per input partition")
    }
    val (global, _, _) = compare(sketches(t))
    assert(global.length == 1 && global(0).getLong(7) == 0L)
    sameBytes(sketches(t))
  }

  test("a partition column as key reads a constant vector") {
    val p = dir("part")
    typed(3000).withColumn("part", ($"i" % 3).cast("string")).coalesce(1)
      .write.partitionBy("part").parquet(p)
    val t = spark.read.parquet(p)
    val ran = sameBytes(sketches(t, "part"))
    assert(metric(ran, "numInputBatches") > 0)
    sameBytes(sketches(t, "part", "s"))
  }

  test("cached InMemoryTableScan input") {
    val cached = spark.read.parquet(dictionaryParquet).select("s", "i", "l", "d", "h").cache()
    try {
      cached.count()
      val q = () => cached.groupBy($"s").agg(ce_sketch($"h"), ce_sketch($"i"), ce_approx_distinct($"l"))
      assert(q().queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      assert(metric(sameBytes(q()), "numInputRows") == 3000L)
      sameBytes(cached.agg(ce_sketch($"h"), ce_approx_distinct($"d")))
    } finally cached.unpersist()
  }

  test("ce_merge and ce_merge_estimate over stored sketches, null sketches included") {
    val p = dir("stored")
    spark.read.parquet(dictionaryParquet)
      .groupBy($"s", $"i").agg(ce_sketch($"h").as("sk"))
      .union(Seq(("k1", 99), ("k2", 98)).toDF("s", "i").withColumn("sk", lit(null).cast("binary")))
      .coalesce(1).write.parquet(p)
    val stored = spark.read.parquet(p)
    sameBytes(stored.groupBy($"s").agg(ce_merge($"sk"), ce_merge_estimate($"sk")))
    sameBytes(stored.agg(ce_merge($"sk"), ce_merge_estimate($"sk")))
    sameBytes(stored.where($"sk".isNull).groupBy($"s").agg(ce_merge($"sk"), ce_merge_estimate($"sk")))
    sameEstimates(stored.repartition(4).groupBy($"i").agg(ce_merge($"sk"), ce_merge_estimate($"sk")))
  }

  test("cube and rollup run the row path under Expand") {
    val t = spark.read.parquet(dictionaryParquet)
    // under 128 groups per task, so Spark's partial keeps its hash map
    Seq(t.cube($"d", $"b"), t.rollup($"d", $"s")).foreach { g =>
      val ran = sameBytes(g.agg(ce_sketch($"h"), ce_approx_distinct($"l")))
      assert(metric(ran, "numInputBatches") == 0L && metric(ran, "numInputRows") > 3000L)
    }
  }

  test("AQE off: same results, and the plan is not adaptive") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val t = spark.read.parquet(dictionaryParquet)
      val q = sketches(t, "s")
      assert(!q.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      sameBytes(sketches(t, "s"))
      sameBytes(sketches(t))
      sameEstimates(sketches(t.repartition(4), "i"))
    }
  }

  test("many partitions and more than 128 groups: identical estimates") {
    val t = spark.range(40000).select(($"id" % 1000).as("k"), ($"id" * 31 % 9000).as("v"))
      .repartition(6)
    val ran = sameEstimates(t.groupBy($"k").agg(ce_sketch($"v"), ce_approx_distinct($"v")))
    assert(metric(ran, "numEarlyEmits") == 0L && metric(ran, "peakMemory") > 0L)
  }

  test("the node prints as SketchPartialAggregate with partial_ce_* and no missing input") {
    val q = spark.read.parquet(dictionaryParquet).groupBy($"s").agg(ce_approx_distinct($"h"))
    q.collect()
    val node = nodes(q).head
    assert(node.missingInput.isEmpty, s"missing input ${node.missingInput}")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("SketchPartialAggregate(keys=[s#"), plan)
    assert(plan.contains("partial_ce_approx_distinct"), plan)
    assert(!plan.contains("!SketchPartialAggregate"), plan)
    assert(Set("numOutputRows", "aggTime", "numInputBatches", "numInputRows", "numEarlyEmits",
      "peakMemory").subsetOf(node.metrics.keySet))
    assert(node.metrics("numOutputRows").value > 0L && node.metrics("peakMemory").value > 0L)
  }

  test("mixed ce + count and streaming aggregates keep ObjectHashAggregate partials") {
    def partials(plan: org.apache.spark.sql.execution.SparkPlan) = collect(plan) {
      case a: ObjectHashAggregateExec if a.aggregateExpressions.exists(_.mode ==
        org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
    }
    val mixed = spark.read.parquet(dictionaryParquet).groupBy($"s")
      .agg(ce_approx_distinct($"h"), count(lit(1)))
    mixed.collect()
    assert(nodes(mixed).isEmpty && partials(mixed.queryExecution.executedPlan).nonEmpty)

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val query = input.toDF().toDF("k", "v").groupBy($"k").agg(ce_approx_distinct($"v"))
      .writeStream.format("memory").outputMode("complete").queryName("sketch_agg_stream").start()
    try {
      input.addData((0 until 100).map(i => ("a", i.toLong % 40)): _*)
      query.processAllAvailable()
      assert(spark.table("sketch_agg_stream").collect().map(_.getLong(1)).toSeq == Seq(40L))
      val plan = query.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(!plan.toString.contains("SketchPartialAggregate") && partials(plan).nonEmpty, plan)
    } finally query.stop()
  }

  test("early emit under a tiny memory budget: several partial rows per key, same estimates") {
    val rowInput = typed(4000).repartition(2)
    val columnar = spark.read.parquet(dictionaryParquet)
    SketchPartialAggregateExec.budgetForTest = Some(1L)
    try {
      val ranRows = sameEstimates(sketches(rowInput, "s"))
      assert(metric(ranRows, "numEarlyEmits") > 100L)
      assert(metric(ranRows, "numOutputRows") > 2 * 10L, "expected repeated keys in the partials")
      withConf("spark.sql.parquet.columnarReaderBatchSize" -> "64") {
        val ranBatches = sameEstimates(sketches(columnar, "i"))
        assert(metric(ranBatches, "numEarlyEmits") > 10L)
        assert(metric(ranBatches, "numOutputRows") > 12L)
        sameEstimates(sketches(columnar))
      }
    } finally SketchPartialAggregateExec.budgetForTest = None
  }

  test("the task's memory manager: a full partial hands its grant to the shuffle writer") {
    // SketchMemoryProbe in a JVM of its own: a 9.6 MB pool, 256 shuffle
    // partitions, one group per row
    val rows = 300000L
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray(Array.empty[String]).filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx512m", "-cp", System.getProperty("java.class.path"),
      SketchMemoryProbe.getClass.getName.stripSuffix("$"), rows.toString)
    val log = Files.createTempFile("graft_sketch_memory", ".log").toFile
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    val exited = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) proc.destroyForcibly()
    val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
    assert(exited && proc.exitValue == 0, out)
    val Array(_, total, emits) = out.linesIterator.filter(_.startsWith("ok ")).toSeq.last.split(" ")
    assert(total.toLong == rows, out)
    assert(emits.toLong > 0L, s"the partial never filled its share\n$out")
  }

  test("nondeterministic values: rejected in the arguments, identical from a projection") {
    val t = spark.range(0, 1000, 1, 2)
    // Spark's analyzer refuses them inside the aggregate, so the operator,
    // which does not initialize Nondeterministic nodes, never sees one there
    val e = intercept[org.apache.spark.sql.AnalysisException](t.agg(ce_approx_distinct(rand(7))))
    assert(e.getMessage.contains("AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION"))
    val projected = () => t.select(rand(7).as("r"), monotonically_increasing_id().as("m"),
      (rand(3) * 5).cast("int").as("k"))
    sameBytes(projected().agg(ce_approx_distinct($"r"), ce_sketch($"m")))
    sameBytes(projected().groupBy($"k").agg(ce_sketch($"r"), ce_sketch($"m")))
    // a nondeterministic grouping key is pulled out into a projection too
    sameEstimates(t.groupBy((rand(5) * 4).cast("int")).agg(ce_sketch($"id")))
  }

  test("Spread.staticPartitionCount on a non-AQE plan with the node runs no job") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val q = spark.read.parquet(dictionaryParquet).groupBy($"s").agg(ce_sketch($"h"))
      assert(q.queryExecution.executedPlan.toString.contains("SketchPartialAggregate"))
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerSync.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(graft.ops.Spread.staticPartitionCount(q).contains(4))
        ListenerSync.drain(spark.sparkContext)
        assert(jobs.get == 0, s"${jobs.get} jobs ran while probing the partition count")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
