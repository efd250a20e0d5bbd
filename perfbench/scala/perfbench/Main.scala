package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark JVM: sets up one workload, runs its closed loop for the given
  * seconds with one caller thread, and writes the raw log (operations,
  * input facts, and in the traced run spans and layer values) as JSON for
  * run.py to check and summarise.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --fixtures DIR --out FILE
  */
object Main {
  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(org.apache.logging.log4j.Level.ERROR)
    val o = Opts.parse(args)
    val w: Workload = o.workload match {
      case "lang_distinct" => new LangDistinctWorkload
      case "site_cube" => new SiteCubeWorkload
      case "gate_suite" => new GateSuiteWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val run = new Run(o)
    val reps = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      run.startSession(o.cores)
      w.prepare(run, r)
      seconds(t0)
    }
    val t0 = System.nanoTime()
    w.warmUp(run)
    val warmS = seconds(t0)

    val iterations = run.span("run", o.workload) {
      val n = run.closedLoop(o.seconds)(i => w.iterate(run, i))
      w.finish(run)
      if (o.trace) w.traceLayers(run)
      n
    }
    val spans = run.tracer.map(_.allSpans.map(_.toMap)).getOrElse(Nil)
    run.stopSession()

    val versions = Map(
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"))
    val out = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores, "trace" -> o.trace,
      "versions" -> versions,
      "jvm_start_s" -> jvmStartS, "setup_reps_s" -> reps, "warmup_s" -> warmS,
      "iterations" -> iterations, "input_rows" -> w.inputRows,
      "inputs" -> run.inputs, "ops" -> run.ops.map(_.toMap),
      "layer" -> run.layer, "iter_counters" -> run.iterCounters, "spans" -> spans,
      "peak_rss_mb" -> peakRssMb)
    Files.write(Paths.get(o.out), json(out).getBytes("UTF-8"))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  /** VmHWM of this JVM, which also runs the local executors. */
  private def peakRssMb: Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
    }.toOption.flatten.getOrElse(Double.NaN)
}
