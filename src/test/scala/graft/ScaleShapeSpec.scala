package graft

import java.nio.file.Files

import graft.functions._
import graft.sources.PagesTable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions that must hold for the 100TB design point: grouping
  * sets come free with the UDAF, partition pruning reaches the scan, column
  * pruning never materializes `html`, and AQE stays enabled.
  */
class ScaleShapeSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("cube / rollup / grouping sets work with the sketch aggregate") {
    val df = (0 until 4000).map(i => ("l" + (i % 2), "s" + (i % 4), i.toLong % 100))
      .toDF("lang", "src", "v")
    val cube = df.cube($"lang", $"src").agg(ce_approx_distinct($"v").as("d")).collect()
    // keys are correlated (i%2 vs i%4): only 4 observed (lang,src) cells,
    // plus 2 lang subtotals + 4 src subtotals + 1 grand total
    assert(cube.length == 4 + 2 + 4 + 1, s"cube rows: ${cube.length}")
    val grand = cube.filter(r => r.isNullAt(0) && r.isNullAt(1)).head.getLong(2)
    assert(grand == 100L)
    val rollup = df.rollup($"lang", $"src").agg(ce_approx_distinct($"v").as("d")).collect()
    assert(rollup.length == 4 + 2 + 1)
  }

  test("cube plan: one scan, Expand, PARTIAL sketch agg before the single exchange") {
    val df = (0 until 4000).map(i => ("l" + (i % 2), "s" + (i % 4), i.toLong % 100))
      .toDF("lang", "src", "v")
    val plan = df.cube($"lang", $"src").agg(ce_approx_distinct($"v").as("d"))
      .queryExecution.executedPlan.toString
    // map-side partial sketches: only per-group sketch buffers cross the
    // wire, never rows — the property that makes grouping sets free at 100TB
    assert(plan.contains("Expand"), s"no Expand in cube plan:\n$plan")
    assert(plan.contains("partial_ce_approx_distinct"),
      s"cube aggregate is not partial before the exchange:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"cube plan should have exactly one exchange:\n$plan")
  }

  test("day-partitioned pages table: partition pruning reaches the scan") {
    val dir = Files.createTempDirectory("graft_pages_part_").toString
    PagesTable.writeTo(PagesTable.generate(spark, 5000, 5000, days = 10), dir)
    val q = PagesTable.readFrom(spark, dir)
      .filter($"warc_day" === "2023-11-15")
      .groupBy($"lang").agg(ce_approx_distinct($"url").as("d"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("warc_day"),
      s"no partition pruning:\n$scan")
    assert(q.collect().map(_.getLong(1)).sum > 0)
  }

  test("column pruning: html (binary) never read for a url/lang query") {
    val dir = Files.createTempDirectory("graft_pages_prune_").toString
    PagesTable.writeTo(PagesTable.generate(spark, 2000, 2000), dir)
    val q = PagesTable.readFrom(spark, dir)
      .groupBy($"lang").agg(ce_approx_distinct($"url").as("d"))
    val formatted = q.queryExecution.executedPlan.toString
    // ReadSchema must contain only url and lang
    val readSchema = "ReadSchema:.*".r.findFirstIn(
      q.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    assert(readSchema.exists(s => s.contains("url") && s.contains("lang") && !s.contains("html")),
      s"html not pruned: $readSchema\n$formatted")
  }

  test("sort-based fallback path (>128 groups) is bit-identical to hash path") {
    // ObjectHashAggregateExec falls back to sort-based aggregation past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (default 128)
    // distinct keys per task. The ce partial (SketchPartialAggregate) has no
    // such fallback, but the final ObjectHashAggregate still does — a
    // 10k-group aggregation exercises that path.
    val df = (0 until 200000).map(i => (i % 10000, i.toLong % 37)).toDF("k", "v")
    val got = df.groupBy($"k").agg(ce_approx_distinct($"v").as("d"))
      .agg(sum($"d"), count(lit(1))).collect()(0)
    // each of the 10000 groups sees gcd-driven subsets of 0..36; exact range
    val exact = df.groupBy($"k").agg(countDistinct($"v").as("d"))
      .agg(sum($"d"), count(lit(1))).collect()(0)
    assert(got.getLong(0) == exact.getLong(0) && got.getLong(1) == exact.getLong(1))
  }

  test("multi-column distinct via struct matches COUNT(DISTINCT a, b)") {
    // 10 x 12 -> 60 distinct (a, b) pairs per group: inside the exact range
    val df = (0 until 30000).map(i => (i % 10, "s" + (i % 12), i % 7)).toDF("a", "b", "g")
    val got = df.groupBy($"g")
      .agg(ce_approx_distinct(struct($"a", $"b")).as("d"))
      .orderBy($"g").collect().map(_.getLong(1)).toSeq
    val exact = df.groupBy($"g").agg(countDistinct($"a", $"b").as("d"))
      .orderBy($"g").collect().map(_.getLong(1)).toSeq
    assert(got == exact, s"$got vs $exact")
  }

  test("sketch aggregate works as a window function (running distinct count)") {
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 200).map(i => ("g" + (i % 2), i, i.toLong % 40)).toDF("g", "seq", "v")
    val w = Window.partitionBy($"g").orderBy($"seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = df.withColumn("running_d", ce_approx_distinct($"v").over(w))
      .filter($"seq" >= 198).orderBy($"g").collect()
    // by the end of each group all 40 residues mod 40 of its parity appeared...
    // group g0 sees even i -> v = i%40 even -> 20 distinct; g1 odd -> 20
    assert(out.map(_.getLong(3)).toSeq == Seq(20L, 20L), out.mkString(","))
  }

  test("two sessions-worth of partial sketches survive a real shuffle boundary") {
    // serialize -> exchange -> merge with 32 partitions over skewed keys
    val df = (0 until 60000).map { i =>
      val k = if (i % 100 < 90) "hot" else "k" + (i % 100)
      (k, i.toLong % 7000)
    }.toDF("k", "v").repartition(32)
    val got = df.groupBy($"k").agg(ce_approx_distinct($"v").as("d"))
      .filter($"k" === "hot").collect()(0).getLong(1)
    val exact = df.filter($"k" === "hot").select(countDistinct($"v")).collect()(0).getLong(0)
    val err = math.abs(got.toDouble - exact) / exact
    assert(err <= 1.04 / math.sqrt(4096.0) * 1.2, s"hot-key sketch $got vs exact $exact err $err")
  }

  test("ANN top-k plans use WindowGroupLimit (map-side partial top-k), never a full per-query sort") {
    // Spark 4 plans rank-filtered row_number windows as WindowGroupLimit:
    // each map task keeps a k-heap per query before the exchange, so the
    // shuffle carries O(queries x k) rows instead of the whole candidate
    // set. A Spark upgrade or a threshold change silently losing this would
    // turn every per-query top-k into a full per-query candidate sort at
    // 100 TB — pin it for every ANN path.
    val dim = 8
    def unit(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(dim)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = (0 until 200).map(i => (i.toLong, unit(i))).toDF("id", "vec")
    val queries = (0 until 3).map(i => (i.toLong, unit(1000 + i))).toDF("qid", "qvec")
    val centroids = graft.ops.Similarity.trainIvfCentroids(corpus, "vec", k = 4,
      sampleSize = 200)
    val idx = Files.createTempDirectory("graft_ivf_wgl_").toString
    graft.ops.Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    val plans = Seq(
      "bruteForceTopK" -> graft.ops.Similarity.bruteForceTopK(
        corpus, "id", "vec", queries, "qid", "qvec", 3),
      "lshTopK" -> graft.ops.Similarity.lshTopK(
        corpus, "id", "vec", queries, "qid", "qvec", 3, dim, planes = 6, tables = 2),
      "ivfTopK" -> graft.ops.Similarity.ivfTopK(
        corpus, "id", "vec", queries, "qid", "qvec", 3, centroids, nProbe = 2),
      "ivfTopKFromIndex" -> graft.ops.Similarity.ivfTopKFromIndex(
        spark, idx, queries, "qid", "qvec", 3, nProbe = 2))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name lost the WindowGroupLimit partial top-k:\n$plan")
    }
    // the indexed probe must join by BROADCASTING the query cells — a
    // sort-merge join would shuffle the pruned index side (the whole point
    // of the index is that the corpus never shuffles at query time)
    val probePlan = plans.last._2.queryExecution.executedPlan.toString
    assert(probePlan.contains("BroadcastHashJoin"),
      s"ivfTopKFromIndex must broadcast the query side:\n$probePlan")
    assert(!probePlan.contains("SortMergeJoin"),
      s"ivfTopKFromIndex must not shuffle the index side:\n$probePlan")
    // and with PENDING TOMBSTONES, the deletion anti-join must broadcast the
    // (small) tombstone side — a sort-merge anti would shuffle the pruned
    // index scan at every probe, un-earning the partition-pruning win
    graft.ops.Similarity.removeFromIndex(spark, idx, Seq(0L, 1L).toDF("id"))
    val tombstoned = graft.ops.Similarity.ivfTopKFromIndex(
      spark, idx, queries, "qid", "qvec", 3, nProbe = 2)
    val tsPlan = tombstoned.queryExecution.executedPlan.toString
    assert(tsPlan.contains("BroadcastHashJoin LeftAnti") ||
      (tsPlan.contains("LeftAnti") && !tsPlan.contains("SortMergeJoin")),
      s"tombstone application must broadcast-anti-join, never shuffle the index:\n$tsPlan")
  }
}
