package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkEntry

import org.apache.spark.sql.Row

/** `gate_suite`: passes over a fixed sample of `SparkEntry.queries` gates,
  * on the bundled fixture tables. The fixture is fixed
  * because many gate oracles are pinned to its exact contents; the seed sets
  * the gate order of each pass.
  *
  * All 54 gates take about 34 s per warm pass on four cores, more than a
  * whole run may take; the sample below takes about 4 s and keeps one
  * gate of each module the per-layer metrics name: the sketch
  * aggregates, the sketch family, LSH dedup, the IVF index, text and
  * streaming.
  *
  * The first pass is the warm-up: its results are written as parquet for the
  * DuckDB oracle check that run.py makes, and every later pass must return
  * the same rows.
  */
final class GateSuiteWorkload extends Workload {
  private val gates = GateSuiteWorkload.Sample.map(n => n -> SparkEntry.queries(n))
  private var baseline = Map.empty[String, Seq[String]]
  var inputRows: Long = 0L

  def prepare(run: Run, rep: Int): Unit = {
    val tables = Option(new File(run.o.fixtures).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val counts = tables.map(f => f.getName.stripSuffix(".parquet") -> run.spark.read.parquet(f.getPath).count())
    inputRows = counts.map(_._2).sum
    run.inputs ++= Seq("rows" -> inputRows, "tables" -> counts.toMap, "gates" -> gates.size)
  }

  def warmUp(run: Run): Unit = {
    val out = run.dir("gate-results")
    val oracle = gates.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    java.nio.file.Files.write(new File(run.dir("oracle_sql.json")).toPath, Main.json(oracle).getBytes("UTF-8"))
    baseline = gates.flatMap { case (name, fn) =>
      try {
        val df = fn(run.spark, run.o.fixtures)
        val rows = df.collect()
        run.spark.createDataFrame(rows.toList.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        Some(name -> GateSuiteWorkload.canonical(rows))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"warm-up: $name threw $e")
        None
      } finally GateSuiteWorkload.cleanTemp()
    }.toMap
  }

  def iterate(run: Run, pass: Int): Unit = {
    val order = new scala.util.Random(run.o.seed * 1000003L + pass).shuffle(gates)
    order.foreach { case (name, fn) =>
      run.attempt("gate", name, pass)(fn(run.spark, run.o.fixtures).collect()) { rows =>
        baseline.get(name) match {
          case None => Some("no warm-up result")
          case Some(b) => if (GateSuiteWorkload.canonical(rows) != b) Some("rows differ from the warm-up pass") else None
        }
      }
    }
    GateSuiteWorkload.cleanTemp()
  }

  def traceLayers(run: Run): Unit = {
    val docs = run.spark.read.parquet(s"${run.o.fixtures}/documents.parquet").select("text").collect().map(_.getString(0))
    run.layer ++= Layers.hashAndInsert(run, Array.fill(200)(docs).flatten)
  }
}

object GateSuiteWorkload {
  val Sample: Seq[String] = Seq(
    "q_ce_cube_type_day", "q_bloom_orders_matching_customers", "q_dedup_minhash_count",
    "q_ann_topk_ivf", "q_text_quality", "q_text_fingerprint", "q_stream_sketch_restore")

  /** Order-free, type-stable text of a result: one sorted line per row. */
  def canonical(rows: Array[Row]): Seq[String] = rows.map(r => value(r)).toSeq.sorted

  private def value(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x'", "", "'")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Gates write their scratch state (indexes, checkpoints, streams) under
    * the JVM temp directory, which run.py points into the work directory;
    * empty it between passes so every pass starts from the same state.
    */
  def cleanTemp(): Unit =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).foreach(Run.deleteTree)
}
