package perfbench

import org.apache.spark.sql.SparkSession

/** One user-visible operation of a pass: a whole pipeline. `seconds`
  * covers the operation's work only, never its output check; a failed
  * operation is counted, never timed. */
final case class Op(name: String, seconds: Double, ok: Boolean,
    detail: String = "")

/** What one pass did: its operations, plus counts the workload reads
  * from its outputs (reported by the traced run). */
final case class PassResult(ops: Seq[Op], counts: Map[String, Double] = Map.empty)

/** A benchmark workload. `generate` writes the inputs under `dir` from
  * the seed alone; `prepare` computes, once per run, what the checks
  * compare against; `pass` runs the workload's operations once, through
  * the library's public API, and checks every output. */
trait Workload {
  def name: String
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  def prepare(spark: SparkSession, dir: String, seed: Long): Unit = ()
  def pass(spark: SparkSession, dir: String, tr: Tracer): PassResult
  /** Checks run once per run, after the timed passes, whose outcome is
    * reported on its own (`checks.<name>_failed` and `fail_ratio`) and not
    * in the run's `failed` count: a known defect stays visible without
    * failing the benchmark. */
  def sideChecks(spark: SparkSession, dir: String, tr: Tracer): Seq[Op] = Nil
  /** Per-layer metrics derived from one traced pass's others (ratios
    * and rates), by name. */
  def derived(m: Map[String, Double]): Map[String, Double] = Map.empty
}

object Workload {
  /** Run `body`, returning its result and wall seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one checked operation: `run` does the work and returns its
    * seconds, `check` then inspects the outputs. A throw or a failed
    * check makes the operation a failure, with the message kept for the
    * log. */
  def op(name: String, tr: Tracer)(run: => Double)(check: => Option[String]): Op =
    try {
      val s = tr.measured(run)
      tr.unmeasured(check) match {
        case None => Op(name, s, ok = true)
        case Some(why) => Op(name, s, ok = false, why)
      }
    } catch {
      case scala.util.control.NonFatal(e) => Op(name, 0.0, ok = false, e.toString.take(300))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
