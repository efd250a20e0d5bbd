package perfbench

import graft.functions._
import graft.sources.PagesTable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Input table for the flagship and the site cube: a
  * `PagesTable` with only the columns the queries read. The seed is folded
  * into every url, so each seed gives other hashes and other estimates.
  */
object PagesInput {
  def seededUrl(seed: Long) = concat(col("url"), lit(s"#s$seed"))

  def write(run: Run, rows: Long, rep: Int, columns: Seq[org.apache.spark.sql.Column]): String = {
    val path = run.dir(s"pages-$rep")
    val t0 = System.nanoTime()
    PagesTable.generate(run.spark, rows, rows / 2, partitions = 4 * run.o.cores)
      .select(columns: _*)
      .write.mode("overwrite").parquet(path)
    run.inputs += s"generate_s_rep$rep" -> (System.nanoTime() - t0) / 1e9
    if (rep > 1) Run.deleteTree(new java.io.File(run.dir(s"pages-${rep - 1}")))
    path
  }

  def modeCounts(exact: Iterable[Long]): Map[String, Long] = Map(
    "small" -> exact.count(_ <= 2).toLong,
    "array" -> exact.count(n => n > 2 && n <= Checks.ExactMax).toLong,
    "hll" -> exact.count(_ > Checks.ExactMax).toLong)

  /** Sample of urls for the single-thread layer calls. */
  def sampleUrls(spark: SparkSession, path: String, n: Int): Array[String] =
    spark.read.parquet(path).select("url").limit(n).collect().map(_.getString(0))
}

/** Repeats the measured work before timing it: the query path keeps getting
  * faster for several seconds while the JIT compiles it.
  */
object Warm {
  def until(seconds: Double)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    while (System.nanoTime() - t0 < seconds * 1e9) body
  }
}

/** `lang_distinct`: the flagship per-lang distinct urls. In the traced run
  * the layer ladder runs on the same table; its `ce global` rung is the
  * control that bypasses the per-group buffer map.
  */
final class LangDistinctWorkload extends Workload {
  val inputRows: Long = 2000000L
  private val WarmSeconds = 4.0
  private var path: String = _
  private var exact: Map[String, Long] = Map.empty
  private var first: Option[Map[String, Long]] = None

  private def table(spark: SparkSession): DataFrame = spark.read.parquet(path)

  private def query(spark: SparkSession): DataFrame =
    table(spark).groupBy(col("lang")).agg(ce_approx_distinct(col("url")).as("d"))

  private def toMap(rows: Array[Row]): Map[String, Long] = rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  def prepare(run: Run, rep: Int): Unit = {
    path = PagesInput.write(run, inputRows, rep, Seq(PagesInput.seededUrl(run.o.seed).as("url"), col("lang")))
    exact = toMap(table(run.spark).groupBy(col("lang")).agg(count_distinct(col("url"))).collect())
    run.inputs ++= Seq("rows" -> inputRows, "distinct_urls" -> exact.values.sum,
      "groups" -> exact.size, "groups_by_mode" -> PagesInput.modeCounts(exact.values))
  }

  def warmUp(run: Run): Unit = Warm.until(WarmSeconds)(query(run.spark).collect())

  private def recount(run: Run)(lang: String): Long =
    Checks.encodedDistinct(table(run.spark).filter(col("lang") === lang).select("url").distinct()
      .collect().map(_.getString(0)))

  def iterate(run: Run, i: Int): Unit =
    run.attempt("query", "lang_distinct", i)(query(run.spark).collect()) { rows =>
      val est = toMap(rows)
      first match {
        case Some(f) => if (f != est) Some("estimates differ from the first iteration") else None
        case None =>
          val r = Checks.estimates(est, exact, recount(run))
          if (r.error.isEmpty) {
            first = Some(est)
            run.inputs ++= Seq("rel_error_max" -> r.relErrorMax, "groups_over_3sigma" -> r.over3Sigma,
              "encoded_collisions" -> r.collisions)
          }
          r.error
      }
    }

  def traceLayers(run: Run): Unit = {
    val direct = Layers.hashAndInsert(run, PagesInput.sampleUrls(run.spark, path, 500000))
    run.layer ++= direct
    def rowsPerS(name: String, q: => DataFrame): Double = {
      q.collect()
      val secs = (1 to 3).map { _ =>
        run.span("rung", name) {
          val t0 = System.nanoTime()
          q.collect()
          (System.nanoTime() - t0) / 1e9
        }
      }
      inputRows / Stats.median(secs)
    }
    val t = table(run.spark)
    val rungs = Seq(
      "sources.scan_floor_rows_per_s" -> rowsPerS("scan+xxhash64", t.agg(max(xxhash64(col("url"))))),
      "spark.builtin_hllpp_rows_per_s" -> rowsPerS("approx_count_distinct grouped",
        t.groupBy(col("lang")).agg(approx_count_distinct(col("url")))),
      "sql.ce_global_rows_per_s" -> rowsPerS("ce global", t.agg(ce_approx_distinct(col("url")))),
      "sql.ce_grouped_rows_per_s" -> rowsPerS("ce grouped", query(run.spark)))
    run.layer ++= rungs
    val base = direct("core.insert_hash_per_s")
    run.layer ++= rungs.map { case (k, v) => s"ladder.${k.split('.')(1).stripSuffix("_rows_per_s")}_frac" -> v / base }
    // 1 -> nproc scaling of the flagship, in a fresh local[1] session
    val grouped = rungs.last._2
    run.startSession(1, traced = false)
    run.layer += "spark.scale_eff_1_to_n" -> grouped / (run.o.cores * rowsPerS("flagship at local[1]", query(run.spark)))
  }
}

/** `site_cube`: store per-(site, day) sketches, then roll them up per site
  * and per day. `site` is heavy-tailed: floor(Sites * u^4) for a uniform u
  * taken from the seeded url's hash.
  */
final class SiteCubeWorkload extends Workload {
  val inputRows: Long = 500000L
  private val Sites = 4096
  private val WarmSeconds = 4.0
  private var path: String = _
  private def cube(run: Run) = run.dir("cube")
  private var exactSite: Map[Int, Long] = Map.empty
  private var exactDay: Map[java.sql.Date, Long] = Map.empty
  private var firstSite: Option[Map[Int, Long]] = None
  private var firstDay: Option[Map[java.sql.Date, Long]] = None
  private var rel = Map.empty[String, Checks.Result]

  def prepare(run: Run, rep: Int): Unit = {
    val url = PagesInput.seededUrl(run.o.seed)
    val u = pmod(xxhash64(url), lit(1L << 24)).cast("double") / (1L << 24).toDouble
    path = PagesInput.write(run, inputRows, rep, Seq(
      url.as("url"),
      floor(lit(Sites.toDouble) * pow(u, lit(4.0))).cast("int").as("site"),
      to_date(col("warc_ts")).as("day")))
    val t = run.spark.read.parquet(path)
    exactSite = t.groupBy(col("site")).agg(count_distinct(col("url"))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    exactDay = t.groupBy(col("day")).agg(count_distinct(col("url"))).collect()
      .map(r => r.getDate(0) -> r.getLong(1)).toMap
    run.inputs ++= Seq("rows" -> inputRows, "distinct_urls" -> inputRows / 2, "sites" -> exactSite.size,
      "days" -> exactDay.size, "site_groups_by_mode" -> PagesInput.modeCounts(exactSite.values))
  }

  private def build(run: Run): Unit =
    run.spark.read.parquet(path)
      .groupBy(col("site"), col("day"))
      .agg(ce_sketch(col("url")).as("sk"))
      .write.mode("overwrite").parquet(cube(run))

  private def rollup(run: Run, key: String): Array[Row] =
    run.spark.read.parquet(cube(run)).groupBy(col(key)).agg(ce_merge_estimate(col("sk")).as("d")).collect()

  def warmUp(run: Run): Unit = Warm.until(WarmSeconds) {
    build(run)
    rollup(run, "site")
    rollup(run, "day")
  }

  private def recount(run: Run, key: String)(v: Any): Long = {
    val t = run.spark.read.parquet(path).filter(col(key) === lit(v))
    Checks.encodedDistinct(t.select("url").distinct().collect().map(_.getString(0)))
  }

  private def checked[K](run: Run, key: String, est: Map[K, Long], exact: Map[K, Long],
      first: Option[Map[K, Long]], keep: Map[K, Long] => Unit): Option[String] = first match {
    case Some(f) => if (f != est) Some("estimates differ from the first iteration") else None
    case None =>
      val r = Checks.estimates(est, exact, recount(run, key))
      if (r.error.isEmpty) {
        keep(est)
        rel += key -> r
        if (rel.size == 2) run.inputs ++= Seq(
          "rel_error_max" -> rel.values.map(_.relErrorMax).max,
          "groups_over_3sigma" -> rel.values.map(_.over3Sigma).sum,
          "encoded_collisions" -> rel.values.map(_.collisions).sum)
      }
      r.error
  }

  def iterate(run: Run, i: Int): Unit = {
    if (run.attempt("build", "cube_write", i)(build(run))(_ => None).isEmpty) return
    run.attempt("read", "rollup_site", i)(rollup(run, "site")) { rows =>
      checked(run, "site", rows.map(r => r.getInt(0) -> r.getLong(1)).toMap, exactSite, firstSite,
        (m: Map[Int, Long]) => firstSite = Some(m))
    }
    run.attempt("read", "rollup_day", i)(rollup(run, "day")) { rows =>
      checked(run, "day", rows.map(r => r.getDate(0) -> r.getLong(1)).toMap, exactDay, firstDay,
        (m: Map[java.sql.Date, Long]) => firstDay = Some(m))
    }
  }

  /** Stored groups per sketch mode, read from the documented wire-format
    * header (byte 6 is the mode: 0 Small, 1 Array, 2 HLL).
    */
  def storedModes(run: Run): Map[String, (Long, Double)] = {
    val names = Map("00" -> "small", "01" -> "array", "02" -> "hll")
    run.spark.read.parquet(cube(run))
      .groupBy(hex(substring(col("sk"), 6, 1)).as("mode"))
      .agg(count(lit(1)), avg(length(col("sk"))))
      .collect()
      .map(r => names.getOrElse(r.getString(0), r.getString(0)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
  }

  override def finish(run: Run): Unit = {
    val modes = storedModes(run)
    val groups = modes.values.map(_._1).sum
    run.inputs ++= Seq("stored_groups" -> groups, "stored_groups_by_mode" -> modes.map { case (k, v) => k -> v._1 })
    run.layer ++= Seq("core.stored_bytes_per_group" -> modes.values.map { case (n, b) => n * b }.sum / groups)
    run.layer ++= Seq("small", "array", "hll").map(m => s"core.sketch_bytes_$m" -> modes.get(m).map(_._2).getOrElse(0.0))
  }

  def traceLayers(run: Run): Unit = {
    val spark = run.spark
    run.layer ++= Layers.hashAndInsert(run, PagesInput.sampleUrls(spark, path, 500000))
    val sample = spark.read.parquet(cube(run)).select("site", "sk").limit(200000).collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1)))
    run.layer ++= Layers.deserializeAndMerge(run, sample)
  }
}
