package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line options passed by run.py. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: String,
    fixtures: String,
    out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("fixtures"), need("out"))
  }
}

/** One timed operation of the closed loop: a query, a build, a rollup or a
  * gate. `ok` is false when it threw or its result failed a check; such an
  * operation is counted as failed and never used as a timing sample.
  */
final case class Op(kind: String, name: String, iter: Int, seconds: Double, ok: Boolean, error: String) {
  def toMap: Map[String, Any] =
    Map("kind" -> kind, "name" -> name, "iter" -> iter, "s" -> seconds, "ok" -> ok, "error" -> error)
}

/** State of one benchmark run: the Spark session, the operation log, input
  * facts, and (traced runs only) the tracer and per-layer values.
  */
final class Run(val o: Opts) {
  private var session: SparkSession = _
  var tracer: Option[Tracer] = None
  val ops = mutable.ArrayBuffer[Op]()
  val inputs = mutable.LinkedHashMap[String, Any]()
  val layer = mutable.LinkedHashMap[String, Any]()
  /** Per-iteration counter deltas of the traced run. */
  val iterCounters = mutable.ArrayBuffer[Map[String, Long]]()

  def spark: SparkSession = session

  /** The session shape of `graft.Bench.newSession`, with every file the
    * session writes kept under the run's work directory.
    */
  def startSession(cores: Int, traced: Boolean = o.trace): SparkSession = {
    stopSession()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val t = new Tracer(session)
      t.install()
      tracer = Some(t)
    }
    session
  }

  def stopSession(): Unit = if (session != null) {
    session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session = null
  }

  def dir(name: String): String = new File(o.work, name).getAbsolutePath

  /** A span in the traced run; just `body` otherwise. */
  def span[A](kind: String, name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(kind, name)(body)
    case None => body
  }

  /** Times `body`, then checks its result outside the timed region. */
  def attempt[A](kind: String, name: String, iter: Int)(body: => A)(check: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Right(span(kind, name)(body)) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val (value, err) = r match {
      case Left(e) => (None, Some(s"threw ${e.getClass.getName}: ${e.getMessage}"))
      case Right(a) =>
        val e = try check(a) catch { case NonFatal(x) => Some(s"check threw ${x.getClass.getName}: ${x.getMessage}") }
        (if (e.isEmpty) Some(a) else None, e)
    }
    ops += Op(kind, name, iter, secs, err.isEmpty, err.orNull)
    value
  }

  /** Runs iterations `0, 1, ...` one after another, at least once, until
    * `seconds` have passed. In the traced run each iteration is a span and
    * its counter deltas are kept.
    */
  def closedLoop(seconds: Double)(iteration: Int => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      tracer match {
        case Some(t) =>
          val before = t.read()
          t.span("iteration", s"iter $i")(iteration(i))
          iterCounters += Counters.delta(t.read(), before)
        case None => iteration(i)
      }
      i += 1
    }
    i
  }
}

object Run {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A benchmark workload. `prepare` is one set-up repetition (inputs and the
  * exact oracle) and runs several times; `warmUp` runs once after it.
  */
trait Workload {
  def prepare(run: Run, rep: Int): Unit
  def warmUp(run: Run): Unit
  def iterate(run: Run, i: Int): Unit
  /** Direct library calls and the layer ladder, traced run only. */
  def traceLayers(run: Run): Unit
  /** Untimed facts read after the loop. */
  def finish(run: Run): Unit = ()
  def inputRows: Long
}
