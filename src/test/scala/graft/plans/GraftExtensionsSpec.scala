package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Uses a dedicated session (extensions must be installed at build time). */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // reuse the JVM-wide context but force a brand-new session so the
    // builder's withExtensions actually applies (getOrCreate would return
    // the SharedSpark session otherwise)
    val base = graft.SharedSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions()(_))
      .getOrCreate()
    // restore the shared session as default for the other suites
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  test("extensions register the whole SQL surface") {
    import spark.implicits._
    (0 until 1000).map(i => ("g" + (i % 2), i.toLong % 90, (i % 50).toDouble))
      .toDF("g", "k", "x").createOrReplaceTempView("ext_test")
    val row = spark.sql(
      """SELECT ce_approx_distinct(k) AS d, ce_estimate(ce_sketch(k)) AS d2,
        |       cms_estimate(cms_agg(k), 5L) AS c,
        |       sketch_quantile(kll_agg(x), CAST(0.0 AS DOUBLE)) AS mn,
        |       bloom_might_contain(bloom_agg(k), 7L) AS bm,
        |       wyhash64(42L) AS h
        |FROM ext_test""".stripMargin).collect()(0)
    assert(row.getLong(0) == 90L && row.getLong(1) == 90L)
    assert(row.getLong(2) > 0L)
    assert(row.getDouble(3) == 0.0)
    assert(row.getBoolean(4))
    assert(row.getLong(5) == graft.core.WyHash.hashLong(42L))
  }

  test("approx_count_distinct rewrites to the sketch when enabled") {
    import spark.implicits._
    val df = (0 until 5000).map(i => i.toLong % 100).toDF("v")
    df.createOrReplaceTempView("acd_test")

    spark.conf.set("spark.graft.rewriteApproxCountDistinct", "false")
    val offPlan = spark.sql("SELECT approx_count_distinct(v) FROM acd_test")
      .queryExecution.optimizedPlan.toString
    assert(!offPlan.contains("ce_approx_distinct"), s"rewrite leaked when off:\n$offPlan")

    spark.conf.set("spark.graft.rewriteApproxCountDistinct", "true")
    val q = spark.sql("SELECT approx_count_distinct(v) AS d FROM acd_test")
    val onPlan = q.queryExecution.optimizedPlan.toString
    assert(onPlan.contains("ce_approx_distinct"), s"rewrite missing:\n$onPlan")
    // and the answer becomes EXACT (100 <= 128 -> array mode)
    assert(q.collect()(0).getLong(0) == 100L)
    spark.conf.set("spark.graft.rewriteApproxCountDistinct", "false")
  }

  private def plansSketchPartial(q: org.apache.spark.sql.DataFrame): Boolean = {
    q.collect()
    q.queryExecution.executedPlan.toString.contains("SketchPartialAggregate")
  }

  test("SQL plans the partial sketch aggregate: registerAll, extensions, rewrite") {
    // a fresh session sees the strategy only through registerAll
    val fresh = graft.SharedSpark.spark.newSession()
    graft.functions.registerAll(fresh)
    fresh.range(1000).selectExpr("id % 3 AS g", "id % 90 AS k").createOrReplaceTempView("reg_test")
    assert(plansSketchPartial(fresh.sql("SELECT g, ce_approx_distinct(k) FROM reg_test GROUP BY g")))

    import spark.implicits._
    (0 until 1000).map(i => ("g" + (i % 2), i.toLong % 90)).toDF("g", "k")
      .createOrReplaceTempView("ext_plan_test")
    assert(plansSketchPartial(spark.sql(
      "SELECT g, ce_approx_distinct(k), ce_sketch(k) FROM ext_plan_test GROUP BY g")))

    spark.conf.set("spark.graft.rewriteApproxCountDistinct", "true")
    try {
      val q = spark.sql("SELECT g, approx_count_distinct(k) AS d FROM ext_plan_test GROUP BY g")
      assert(plansSketchPartial(q))
      assert(q.collect().map(_.getLong(1)).toSeq == Seq(45L, 45L))
    } finally spark.conf.set("spark.graft.rewriteApproxCountDistinct", "false")
  }
}
