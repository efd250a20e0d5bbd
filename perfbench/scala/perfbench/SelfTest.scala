package perfbench

/** Drives [[Run.attempt]] with a gate that throws, a gate whose result
  * fails its check, and a gate that passes, and prints the operation log as
  * JSON. tests/test_benchlib.py runs it and checks the accounting.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val run = new Run(Opts("gate_suite", 1L, 0.0, trace = false, 1, ".", ".", "."))
    run.attempt("gate", "q_throws", 0)(throw new IllegalStateException("boom"))(_ => None)
    run.attempt("gate", "q_bad_rows", 0)(Seq(1))(_ => Some("rows differ from the warm-up pass"))
    run.attempt("gate", "q_ok", 0)(Seq(1))(_ => None)
    run.attempt("gate", "q_ok", 1)(Seq(1))(_ => None)
    println(Main.json(run.ops.map(_.toMap)))
  }
}
